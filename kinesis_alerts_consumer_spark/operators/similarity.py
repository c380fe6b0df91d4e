"""Similarity search over the ``embeddings`` table (array<float>).

Two paths, both UDF-free:

- brute-force cosine top-k: broadcast the (small) query set, score
  every (query, candidate) with a JVM-side double-precision dot
  product (``zip_with`` + ``aggregate``), rank per query. One
  broadcast join + one window — the exact-baseline at any scale where
  the query side is small.
- LSH-bucketed top-k: sign-pattern bucket join first (same buckets as
  dedup.embedding_near_dup_pairs), cosine only within the bucket —
  the approximate scale path: candidate count drops ~2^bits, recall
  traded via ``sign_bits``.

Double-precision note: elements cast to double BEFORE multiply and
the sum is sequential over the array, so DuckDB's
``list_dot_product(CAST(.. AS DOUBLE[]), ..)`` reproduces results
bit-for-bit — the oracle comparison is exact, not tolerance-based.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .dedup import _drop_overcap, _sign_bucket, adaptive_sign_bits
from .util import spread_for_compute


def dot(a: Column, b: Column) -> Column:
    """Sequential double-precision dot product of two float arrays.

    The cast rides INSIDE the zip_with lambda (r14 optimization
    round): the earlier ``zip_with(_d(a), _d(b), ..)`` form
    materialized two intermediate double arrays per evaluation — two
    extra interpreted array traversals + allocations. Element values
    and fold order are unchanged (cast-then-multiply, left-to-right
    sum from 0.0), so results stay bit-identical — measured ~18%
    cheaper on a 200k x 64-dim microbench. An unrolled
    GetArrayItem/multiply/add chain was ALSO measured (the obvious
    "escape CodegenFallback" move): ~2x SLOWER than this interpreted
    HOF at dim=64 — the 64-deep Add tree defeats JIT — so the HOF
    form is the keeper, and callers instead parallelize the stage it
    runs in (see dedup._exact_cos_verify)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity; NULL (not an ANSI divide-by-zero error) when
    either vector is all-zero, so one degenerate embedding in a 100 TB
    corpus degrades to a dropped pair instead of a failed job."""
    return F.try_divide(dot(a, b), norm(a) * norm(b))


def cosine_topk(
    emb: DataFrame,
    k: int = 5,
    num_queries: int = 10,
    query_filter: Column | None = None,
) -> DataFrame:
    """Brute-force cosine top-k: for each query vector (default: the
    ``num_queries`` lowest vec_ids), the k nearest other vectors.

    Returns (query_id, neighbor_id, rnk, cos) — ties broken by
    neighbor_id so the output is total-ordered and oracle-hashable.
    """
    queries = emb.filter(
        query_filter if query_filter is not None else F.col("vec_id") < num_queries
    ).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q")
    )
    emb = spread_for_compute(emb)
    scored = (
        F.broadcast(queries)
        .join(
            emb.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding")),
            F.col("query_id") != F.col("neighbor_id"),
        )
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("q"), F.col("embedding")), 6).alias("cos"),
        )
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", F.col("rnk").cast("bigint").alias("rnk"), "cos")
    )


def knn_classify(
    emb: DataFrame, k: int = 5, num_probes: int = 20
) -> DataFrame:
    """k-nearest-neighbor label prediction: the ``num_probes`` lowest
    vec_ids play the unlabeled incoming batch, classified against the
    labeled remainder; each probe takes the majority label of its
    ``k`` highest-cosine training neighbors (vote ties -> smaller
    label, rank ties -> smaller neighbor id — total order, so the
    oracle hash is exact).

    Scale shape: the probe set is a BOUNDED incoming batch, never a
    fraction of the corpus — a fractional split makes the score pass
    O(n^2) (a first cut used a 25% md5 split and measured 44x at 10x
    rows; the adaptive-parameter trap BASELINE.md records for
    llm05/llm27). With probes fixed, the broadcast-join scan is
    O(probes x n) — linear — followed by two narrow shuffles on
    query_id (top-k window, vote count). For probe sets too big to
    broadcast, bucket both sides with the sign-LSH path (llm07's
    device) — the classification layer on top is unchanged.
    """
    queries = emb.filter(F.col("vec_id") < num_probes).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q")
    )
    train = emb.filter(F.col("vec_id") >= num_probes).select(
        F.col("vec_id").alias("neighbor_id"), "embedding", "label"
    )
    scored = F.broadcast(queries).join(spread_for_compute(train)).select(
        "query_id",
        "neighbor_id",
        "label",
        F.round(cosine(F.col("q"), F.col("embedding")), 6).alias("cos"),
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id")
    )
    votes = (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .groupBy("query_id", "label")
        .agg(F.count("*").alias("votes"))
    )
    wv = Window.partitionBy("query_id").orderBy(
        F.col("votes").desc(), F.col("label")
    )
    return (
        votes.withColumn("_rn", F.row_number().over(wv))
        .filter(F.col("_rn") == 1)
        .select(
            "query_id",
            F.col("label").alias("pred_label"),
            F.col("votes").cast("bigint").alias("votes"),
        )
        .orderBy("query_id")
    )


def label_centroids(emb: DataFrame) -> DataFrame:
    """Per-label centroid of the embedding space — the class-profile /
    cluster-summary pass (one row per (label, dimension)).

    Float sums are order-dependent, so a naive AVG over shuffled
    partitions is NOT oracle-hashable (the llm25 mixture-plan lesson).
    Elements are therefore quantized to exact integers first —
    ``floor(e * 1e6)`` on doubles is bit-deterministic in both
    engines — summed exactly (integer addition commutes), and the
    mean itself stays an INTEGER micro-value: Spark's ROUND
    (BigDecimal HALF_UP on the exact binary expansion) and DuckDB's
    (C round after an ``x*1e6`` re-multiply) disagree when s/n sits
    at a .5 seventh-digit boundary — which the quantized ratio hits
    routinely — so ``c_micro`` is computed with a portable
    floor-identity, round-half-away(|s|/n) = floor((2|s|+n)/(2n)),
    whose one IEEE division is bit-identical in both engines. Shape:
    posexplode is scan-parallel; the one shuffle keys on (label, pos)
    — bounded by labels x dims, never by row count — and partial
    aggregation does the heavy summing map-side.
    """
    q = F.floor(F.col("e").cast("double") * F.lit(1000000.0)).cast("bigint")
    s, n = F.col("s"), F.col("n")
    ratio = (F.abs(s) * 2 + n).cast("double") / (n * 2).cast("double")
    c_micro = F.floor(ratio).cast("bigint") * F.when(
        s < 0, F.lit(-1)
    ).otherwise(F.lit(1))
    return (
        spread_for_compute(emb)
        .select("label", F.posexplode("embedding").alias("pos", "e"))
        .select("label", "pos", q.alias("q"))
        .groupBy("label", "pos")
        .agg(F.count("*").alias("n"), F.sum("q").alias("s"))
        .select(
            "label",
            F.col("pos").cast("bigint").alias("pos"),
            "n",
            c_micro.alias("c_micro"),
        )
        .orderBy("label", "pos")
    )


def ivf_assign(
    emb: DataFrame, n_centroids: int = 8, id_col: str = "vec_id"
) -> tuple[DataFrame, DataFrame]:
    """IVF coarse quantization with deterministic centroids (the
    ``n_centroids`` lowest-id vectors — swap for k-means output in
    production; the *structure* is identical and this keeps the oracle
    exact). Returns (centroids, assignments) where every vector maps
    to its max-cosine centroid (ties -> lowest centroid id).

    Scale shape: centroids broadcast; assignment is ONE narrow pass
    over the vectors (argmax over a few dot products per row) — the
    inverted lists then bound every query to nprobe clusters.
    """
    cents = emb.filter(F.col(id_col) < n_centroids).select(
        F.col(id_col).alias("centroid_id"), F.col("embedding").alias("ce")
    )
    scored = (
        emb.select(id_col, "embedding")
        .join(F.broadcast(cents))
        .select(
            id_col,
            "centroid_id",
            cosine(F.col("embedding"), F.col("ce")).alias("ccos"),
        )
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy(id_col).orderBy(
        F.col("ccos").desc(), F.col("centroid_id")
    )
    assign = (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(id_col, "centroid_id")
    )
    return cents, assign


def cosine_topk_ivf(
    emb: DataFrame,
    k: int = 5,
    num_queries: int = 10,
    n_centroids: int | None = None,
    nprobe: int = 2,
    index: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """IVF approximate top-k: each query probes its ``nprobe``
    closest centroids and scores only vectors assigned to them.
    Candidate count ~ nprobe/n_centroids of the corpus — the standard
    inverted-file ANN trade; recall < 1 by design.

    ``index`` accepts a prebuilt ``(centroids, assignments)`` pair
    (the :func:`ivf_assign` output, typically persisted or written to
    a table) and skips the assign pass entirely. This is the SCALE
    API: ``scripts/recall_probe.py --mode ann-ivf`` (1M clustered
    vectors, BASELINE.md Round 12) measured the sqrt-rule sizing
    (n_centroids=1000, nprobe=32) at **recall@5 = 1.00 scoring only
    3.2% of the corpus**
    — but 98% of its 976 s wall was the n x n_centroids assign pass,
    a one-time INDEX BUILD this signature was re-running per query
    batch. Build once with ``ivf_assign`` (at 100 TB: write the
    assignment table next to the vectors, partitioned by
    centroid_id so each probe is a partition-pruned scan), then
    serve every batch through ``index=``. The gated llm13 literal
    (8, 2) measured recall 0.86 while scoring 25% — cells must grow
    ~sqrt(n) or IVF neither prunes nor recalls at scale.

    ``n_centroids`` is a BUILD parameter: with ``index=`` it would be
    silently ignored, so passing both raises (ADVICE r12) — the cell
    count is already baked into the prebuilt assignments. Default
    ``None`` resolves to 8 on the build path (the gated llm13
    literal)."""
    if index is not None:
        if n_centroids is not None:
            raise ValueError(
                "n_centroids is a build parameter and is ignored when "
                "a prebuilt index= is passed — the cell count is baked "
                "into the index; build it with ivf_assign(emb, "
                "n_centroids) and drop the argument here")
        cents, assign = index
    else:
        cents, assign = ivf_assign(
            emb, 8 if n_centroids is None else n_centroids)
    queries = emb.filter(F.col("vec_id") < num_queries).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q")
    )
    from pyspark.sql.window import Window

    qc = (
        F.broadcast(queries)
        .join(F.broadcast(cents))
        .select(
            "query_id", "q", "centroid_id",
            cosine(F.col("q"), F.col("ce")).alias("ccos"),
        )
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.col("ccos").desc(), F.col("centroid_id")
    )
    probes = (
        qc.withColumn("_rn", F.row_number().over(wq))
        .filter(F.col("_rn") <= nprobe)
        .select("query_id", "q", "centroid_id")
    )
    cands = spread_for_compute(emb).select(
        F.col("vec_id").alias("neighbor_id"), "embedding"
    ).join(assign.withColumnRenamed("vec_id", "neighbor_id"), "neighbor_id")
    scored = (
        F.broadcast(probes)
        .join(cands, "centroid_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("q"), F.col("embedding")), 6).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(
            "query_id", "neighbor_id",
            F.col("rnk").cast("bigint").alias("rnk"), "cos",
        )
    )


def _flip_bit(bucket: Column, i: int) -> Column:
    """Flip character i (1-based) of a '0'/'1' bucket string."""
    return F.concat(
        F.substring(bucket, 1, i - 1),
        F.when(F.substring(bucket, i, 1) == "1", F.lit("0")).otherwise(F.lit("1")),
        F.substring(bucket, i + 1, 64),
    )


def cosine_topk_lsh(
    emb: DataFrame,
    k: int = 5,
    num_queries: int = 10,
    sign_bits: int | None = 4,
    probe_radius: int = 1,
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's
    sign-pattern bucket plus (multi-probe) every bucket within Hamming
    distance ``probe_radius`` (<=2) — the standard recall/cost lever.
    All deterministic (axis-aligned hyperplanes — measured BETTER than
    pseudo-random Rademacher planes on these fixtures, whose cluster
    signal lives in the leading coordinates), so the oracle replays it
    exactly; recall < 1 by design. Probed-bucket count is
    ``1 + C(bits,1) [+ C(bits,2)]`` of ``2^bits`` — at production bit
    widths (16+) radius 2 still prunes >99% of buckets.

    ``sign_bits=None`` selects the bit count adaptively from the row
    count (:func:`..operators.dedup.adaptive_sign_bits` — the llm05
    device), which is the SCALE setting: the gated llm07 literal
    (4 bits) probes 5 of 16 buckets ≈ 31% of the corpus at ANY n,
    i.e. its cost approaches brute force while its recall stays high.
    MEASURED (``scripts/recall_probe.py --mode ann-lsh`` at 1M
    clustered vectors, BASELINE.md Round 12; recall@5 vs exact brute
    force): gated (4 bits, radius 1) recall 0.97 scoring ~31%;
    adaptive (15 bits, radius 2) recall 0.95 scoring **0.37%** — equal
    recall at ~80x less scored work, because bits grow log2(n)
    (constant bucket occupancy) while the radius-2 probe set grows
    only quadratically in bits. BASELINE.md Round 12 has the full
    ladder table."""
    if probe_radius > 2:
        raise ValueError("probe_radius > 2 not implemented")
    if sign_bits is None:
        sign_bits = adaptive_sign_bits(emb.count())
    b = spread_for_compute(emb).select(
        "vec_id", "embedding", _sign_bucket(sign_bits).alias("bucket"))
    probes = [F.col("qb")]
    if probe_radius >= 1:
        probes += [_flip_bit(F.col("qb"), i + 1) for i in range(sign_bits)]
    if probe_radius >= 2:
        import itertools

        probes += [
            _flip_bit(_flip_bit(F.col("qb"), i + 1), j + 1)
            for i, j in itertools.combinations(range(sign_bits), 2)
        ]
    queries = (
        b.filter(F.col("vec_id") < num_queries)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q"),
            F.col("bucket").alias("qb"),
        )
        .select(
            "query_id", "q", F.explode(F.array(*probes)).alias("probe")
        )
    )
    scored = (
        F.broadcast(queries)
        .join(
            b.select(
                F.col("vec_id").alias("neighbor_id"),
                F.col("embedding"),
                F.col("bucket"),
            ),
            (F.col("probe") == F.col("bucket"))
            & (F.col("query_id") != F.col("neighbor_id")),
        )
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("q"), F.col("embedding")), 6).alias("cos"),
        )
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", F.col("rnk").cast("bigint").alias("rnk"), "cos")
    )


def l2sq(a: Column, b: Column) -> Column:
    """Squared L2 distance via the three-dot identity
    ``dot(a,a) - 2*dot(a,b) + dot(b,b)`` — NOT the sequential
    ``sum((x-y)^2)``: every term is a :func:`dot` (sequential double),
    so DuckDB's ``list_dot_product`` reproduces the exact double and
    cross-engine RANKINGS on the distance are bit-stable."""
    return dot(a, a) - 2 * dot(a, b) + dot(b, b)


def _global_sub_len(emb: DataFrame, m: int) -> int:
    """``min(dim) // m`` as one scalar — the SAME global value the
    DuckDB oracle uses (``MIN(len(embedding))``), so the engines can
    never diverge on rows with a stray dimensionality. One tiny
    column-pruned agg job per top-level call."""
    dim = emb.agg(F.min(F.size("embedding"))).first()[0]
    if not dim or dim < m:
        raise ValueError(f"embedding dim {dim} < m={m} subspaces")
    return dim // m


def _subvectors(
    emb: DataFrame, m: int, id_col: str, out_id: str, sub_len: int
) -> DataFrame:
    """(id, subspace, sub) rows: the embedding split into ``m``
    contiguous sub-vectors of ``sub_len`` each (a GLOBAL constant from
    :func:`_global_sub_len`, not per-row ``size(embedding)/m`` — a
    per-row split would silently diverge from the oracle's global MIN
    if dimensions ever varied across rows)."""
    sub_len = F.lit(int(sub_len))
    return (
        emb.select(F.col(id_col).alias(out_id), "embedding")
        .select(
            out_id,
            F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("subspace"),
            F.col("embedding"),
        )
        .select(
            out_id,
            "subspace",
            F.slice(
                "embedding", F.col("subspace") * sub_len + 1, sub_len
            ).alias("sub"),
        )
    )


def pq_encode(
    emb: DataFrame,
    m: int = 4,
    codebook_k: int = 16,
    id_col: str = "vec_id",
    sub_len: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Product quantization: split each vector into ``m`` sub-vectors
    and code each against a per-subspace codebook of ``codebook_k``
    centroids (deterministic: the sub-vectors of the ``codebook_k``
    lowest-id vectors — swap for trained k-means codebooks in
    production; the structure and the oracle-exactness device are the
    same as :func:`ivf_assign`).

    Returns (codebooks, codes): codebooks (subspace, centroid_id,
    cvec) — m*k rows, broadcast everywhere; codes (vec_id, subspace,
    code) — the 100 TB artifact: m small ints per vector instead of
    the full float array (~16x smaller for 64-dim float32 at m=4),
    which is what makes exhaustive ADC scans bandwidth-feasible.
    Encoding is one narrow pass: m rows per vector joined against the
    broadcast codebooks, argmin per (vector, subspace) with
    lowest-centroid tie-break.
    """
    if sub_len is None:
        sub_len = _global_sub_len(emb, m)
    books = _subvectors(
        emb.filter(F.col(id_col) < codebook_k), m, id_col, "centroid_id",
        sub_len,
    ).withColumnRenamed("sub", "cvec")
    scored = (
        _subvectors(spread_for_compute(emb), m, id_col, "vec_id", sub_len)
        .join(F.broadcast(books), "subspace")
        .select(
            "vec_id",
            "subspace",
            "centroid_id",
            l2sq(F.col("sub"), F.col("cvec")).alias("d"),
        )
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("vec_id", "subspace").orderBy(
        F.col("d").asc(), F.col("centroid_id")
    )
    codes = (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("vec_id", "subspace", F.col("centroid_id").alias("code"))
    )
    return books, codes


def cosine_topk_pq(
    emb: DataFrame,
    k: int = 5,
    num_queries: int = 10,
    m: int | None = None,
    codebook_k: int | None = None,
    shortlist: int = 25,
    index: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """PQ ANN top-k: asymmetric distance computation (ADC) over PQ
    codes, exact cosine re-rank of the shortlist.

    Per query: a lookup table of l2sq(query_sub, centroid) for every
    (subspace, centroid) — num_queries*m*codebook_k rows, broadcast —
    is joined to the codes on (subspace, code), so the approximate
    distance is m table lookups + a sum per (query, vector): the scan
    touches only the codes, never the vectors. The ``shortlist`` best
    by ADC (ranked on ROUND(d,6) with id tie-break for cross-engine
    stability) are re-scored with exact cosine on the full vectors.
    At 100 TB the ADC scan pairs with IVF partition pruning
    (:func:`cosine_topk_ivf`) — the standard IVFPQ split; recall < 1
    by design (measured vs :func:`cosine_topk` in tests).

    ``index`` accepts a prebuilt ``(codebooks, codes)`` pair (the
    :func:`pq_encode` output) and skips the encode pass — the same
    one-time-index lesson the r12 ANN probe taught
    ``cosine_topk_ivf``: codes are the durable 100 TB artifact
    (written once, ~16x smaller than the vectors), and re-encoding
    per query batch re-pays the n·m·codebook_k argmin scan every
    call. BOTH geometry facts are read from the index itself, never
    trusted from the caller (ADVICE r12): ``sub_len`` from the
    subspace-0 codebook vectors, and ``m`` from the index's subspace
    count (``max(subspace)+1``) — a caller-supplied ``m`` smaller
    than the index's would silently ADC-sum a subset of subspaces,
    and a larger one would NULL every adist (the missing per-subspace
    sums) and degenerate the shortlist to a vec_id-ordered cut, so an
    explicit ``m`` that mismatches the index raises. ``codebook_k``
    is a build parameter the index path never reads; passing it with
    ``index=`` raises the same way. ``sub_len`` is likewise not
    re-derived from the query-time ``emb`` — re-deriving would
    silently misalign every LUT slice against the stored codes the
    moment the serving corpus's minimum width drifts from the
    build-time one (r12 review). Defaults ``m=None``/
    ``codebook_k=None`` resolve to 4/16 on the build path.
    """
    if index is not None:
        if codebook_k is not None:
            raise ValueError(
                "codebook_k is a build parameter and is ignored when a "
                "prebuilt index= is passed — it is baked into the "
                "codebooks; build with pq_encode(emb, m, codebook_k) "
                "and drop the argument here")
        books, codes = index
        row = books.agg(
            F.max("subspace").alias("mx"),
            F.min(
                F.when(F.col("subspace") == 0, F.size("cvec"))
            ).alias("d"),
        ).first()
        if row is None or row["d"] is None:
            raise ValueError("prebuilt PQ index has no subspace-0 codebook")
        sub_len = int(row["d"])
        m_idx = int(row["mx"]) + 1
        if m is None:
            m = m_idx
        elif m != m_idx:
            raise ValueError(
                f"m={m} does not match the prebuilt index's {m_idx} "
                "subspaces — the ADC sum would cover the wrong subspace "
                "set; omit m (it is read from the index) or pass "
                f"m={m_idx}")
    else:
        m = 4 if m is None else m
        codebook_k = 16 if codebook_k is None else codebook_k
        sub_len = _global_sub_len(emb, m)
        books, codes = pq_encode(emb, m, codebook_k, sub_len=sub_len)
    queries = emb.filter(F.col("vec_id") < num_queries).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q")
    )
    lut = (
        _subvectors(
            emb.filter(F.col("vec_id") < num_queries), m, "vec_id",
            "query_id", sub_len,
        )
        .join(F.broadcast(books), "subspace")
        .select(
            "query_id",
            "subspace",
            F.col("centroid_id").alias("code"),
            l2sq(F.col("sub"), F.col("cvec")).alias("d"),
        )
    )
    # Order-fixed ADC sum: there is exactly ONE d per (query, vector,
    # subspace), so pivoting into per-subspace sums (each over a single
    # value) and adding them left-to-right makes the double addition
    # order subspace 0..m-1 in BOTH engines — a plain SUM(d) would sum
    # in partition order here vs DuckDB's own order, and a ULP
    # difference at a .5e-6 boundary could flip ROUND(.,6) and shift
    # the shortlist cut.
    per_sub = [
        F.sum(F.when(F.col("subspace") == i, F.col("d"))).alias(f"_d{i}")
        for i in range(m)
    ]
    seq_sum = F.col("_d0")
    for i in range(1, m):
        seq_sum = seq_sum + F.col(f"_d{i}")
    adc = (
        codes.join(F.broadcast(lut), ["subspace", "code"])
        .filter(F.col("query_id") != F.col("vec_id"))
        .groupBy("query_id", "vec_id")
        .agg(*per_sub)
        .select(
            "query_id", "vec_id", F.round(seq_sum, 6).alias("adist")
        )
    )
    from pyspark.sql.window import Window

    ws = Window.partitionBy("query_id").orderBy(
        F.col("adist").asc(), F.col("vec_id")
    )
    short = (
        adc.withColumn("_rn", F.row_number().over(ws))
        .filter(F.col("_rn") <= shortlist)
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
    )
    rer = (
        short.join(
            emb.select(F.col("vec_id").alias("neighbor_id"), "embedding"),
            "neighbor_id",
        )
        .join(F.broadcast(queries), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("q"), F.col("embedding")), 6).alias("cos"),
        )
    )
    wk = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id")
    )
    return (
        rer.withColumn("rnk", F.row_number().over(wk))
        .filter(F.col("rnk") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.col("rnk").cast("bigint").alias("rnk"),
            "cos",
        )
    )


def semantic_dedup(
    emb: DataFrame,
    threshold: float = 0.9,
    sign_bits: int | None = None,
    target_cluster: int = 32,
    max_bucket: int | None = 1024,
    id_col: str = "vec_id",
    stats: dict | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication over an embedding column
    (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    web-scale through semantic deduplication" — public arXiv):
    partition the corpus into semantic clusters, then inside each
    cluster drop every vector whose cosine to a LOWER-ID cluster
    member is >= ``threshold``. Returns per-cluster totals
    ``(cluster, n_members, n_kept)`` ordered by cluster id.

    The cluster is the deterministic sign-LSH bucket of the leading
    ``sign_bits`` coordinates (the same axis-aligned-hyperplane
    partition as :func:`..operators.dedup.embedding_near_dup_pairs`,
    its adaptive sizing included) — the scalable stand-in for k-means
    cluster ids. Per-vector assignment is a STRING EXPRESSION, not a
    per-centroid cosine scan: an IVF-style argmax over an adaptively
    sized codebook costs n·c = n²/target cosines — measured 41x for
    10x rows at sf0.1→sf1 before this design; the bucket form
    measures ~3x. Within-bucket pair volume stays ~n·sign_bits
    (constant occupancy via adaptive bits); over-cap buckets are
    excluded by broadcast anti-join (degenerate-embedding guard).

    ``stats``, if given, receives ``{"sign_bits": k,
    "overcap_buckets": B, "dropped_members": M}`` — the same silent-
    cap warning light as :func:`..operators.dedup.
    embedding_near_dup_pairs` (see that docstring for the 1M-vector
    measurement). A SEPARATE aggregate action; the returned plan
    stays byte-identical (the gated llm27 query passes stats=None and
    its hash is pinned by sameSemantics in the test).
    """
    if sign_bits is None:
        sign_bits = adaptive_sign_bits(emb.count(), target_cluster)
    if stats is not None:
        stats["sign_bits"] = sign_bits
    members = _drop_overcap(
        spread_for_compute(emb).select(
            id_col, "embedding", _sign_bucket(sign_bits).alias("cluster")),
        ["cluster"], max_bucket, stats)
    l, r = members.alias("l"), members.alias("r")
    dominated = (
        l.join(
            r,
            (F.col("l.cluster") == F.col("r.cluster"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .filter(
            cosine(F.col("l.embedding"), F.col("r.embedding"))
            >= F.lit(threshold)
        )
        .select(
            F.col("r.cluster").alias("cluster"),
            F.col(f"r.{id_col}").alias(id_col),
        )
        .distinct()
    )
    per_cluster = members.groupBy("cluster").agg(
        F.count("*").alias("n_members")
    )
    drops = dominated.groupBy("cluster").agg(F.count("*").alias("_nd"))
    return (
        per_cluster.join(drops, "cluster", "left")
        .select(
            "cluster",
            "n_members",
            (F.col("n_members") - F.coalesce(F.col("_nd"), F.lit(0)))
            .cast("bigint")
            .alias("n_kept"),
        )
        .orderBy("cluster")
    )


def _rp_signs(in_dim: int, out_dim: int) -> list[list[int]]:
    """Deterministic +-1 sign matrix for random projection: sign(j,k)
    = parity of md5(f"{k}:{j}") — no RNG, so both engines inline the
    SAME literal matrix and results are reproducible run-to-run (the
    retry-stable property every deterministic op here shares)."""
    import hashlib

    return [
        [
            1 if int(hashlib.md5(f"{k}:{j}".encode()).hexdigest()[:15], 16) % 2 == 0
            else -1
            for j in range(in_dim)
        ]
        for k in range(out_dim)
    ]


def random_projection(
    emb: DataFrame, out_dim: int = 16, in_dim: int = 64
) -> DataFrame:
    """Johnson-Lindenstrauss sign random projection: compress each
    embedding to ``out_dim`` dims via a fixed +-1 matrix — the
    standard cheap dimension reduction run BEFORE ANN indexing /
    clustering at corpus scale. The JL guarantee is NORM/distance
    preservation within ~sqrt(2/out_dim) (gated in pytest:
    E[||Px||^2] = out_dim * ||x||^2); note rank-ordering of cosines
    is NOT meaningfully preserved on this fixture — its embeddings
    are uniform-random, so all pairwise distances are nearly equal
    and any sketch's ordering is noise. On clustered real data the
    neighborhoods survive; here the honest testable property is the
    norm bound.

    Scale shape: a pure narrow map — the sign matrix is a plan
    literal (bytes, not a join side), each output dim one sequential
    zip_with/aggregate dot product, so the pass is scan-parallel with
    zero shuffle and the projected table is out_dim/in_dim the size.
    The sequential aggregate keeps the float sum order-fixed —
    DuckDB's list_dot_product reproduces it bit-for-bit (the
    engine-pair property the cosine oracle already relies on)."""
    signs = _rp_signs(in_dim, out_dim)
    cols = [
        F.round(
            dot(
                F.col("embedding"),
                F.array(*[F.lit(float(s)) for s in signs[k]]),
            ),
            6,
        ).alias(f"p{k}")
        for k in range(out_dim)
    ]
    return (
        spread_for_compute(emb)
        .select("vec_id", *cols)
        .orderBy("vec_id")
    )
