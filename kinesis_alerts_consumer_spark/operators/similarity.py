"""Similarity search over the ``embeddings`` table (array<float>).

Every top-k operator here has the same three steps and differs only
in the middle one:

1. query rows — :func:`_query_rows`: the ``num_queries`` lowest
   vec_ids, a bounded batch that is broadcast;
2. candidate generation — every other vector (:func:`cosine_topk`,
   :func:`knn_classify`), the query's sign-pattern buckets
   (:func:`cosine_topk_lsh`), its nearest IVF cells
   (:func:`cosine_topk_ivf`) or its PQ ADC shortlist
   (:func:`cosine_topk_pq`);
3. exact re-rank — :func:`_rerank_topk`: ``ROUND(cosine, 6)`` of each
   candidate pair and the ``k`` best per query as ``(query_id,
   neighbor_id, rnk, cos)``, ties broken by neighbor_id, so the
   output is total-ordered and oracle-hashable.

The IVF and PQ operators serve from an index built once by
:func:`ivf_assign` / :func:`pq_encode` (in memory or read back from a
table); none builds one in-line. All of it is UDF-free.

Double-precision note: elements cast to double BEFORE multiply and
the sum is sequential over the array, so DuckDB's
``list_dot_product(CAST(.. AS DOUBLE[]), ..)`` reproduces results
bit-for-bit — the oracle comparison is exact, not tolerance-based.
"""

from __future__ import annotations

import itertools

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .dedup import (
    _INDEX_GEOM_CACHE,
    _drop_overcap,
    _sign_bucket,
    adaptive_sign_bits,
)
from .util import spread_for_compute


def dot(a: Column, b: Column) -> Column:
    """Sequential double-precision dot product of two float arrays.

    The cast rides inside the zip_with lambda: casting the two arrays
    first materializes two intermediate double arrays per evaluation.
    Element values and fold order are the same either way
    (cast-then-multiply, left-to-right sum from 0.0), so results are
    bit-identical. An unrolled GetArrayItem/multiply/add chain, which
    escapes CodegenFallback, measured about 2x slower than this
    interpreted HOF at dim=64, so callers parallelize the stage it
    runs in instead (see dedup._exact_cos_verify)."""
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


def _query_rows(emb: DataFrame, n: int, *carry: Column) -> DataFrame:
    """The query side of every top-k operator: the ``vec_id < n`` rows
    as ``(query_id, q, *carry)``."""
    return emb.filter(F.col("vec_id") < n).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q"),
        *carry,
    )


def _rerank_topk(cands: DataFrame, k: int, *carry: str) -> DataFrame:
    """Exact re-rank of candidate pairs ``(query_id, neighbor_id, q,
    embedding, *carry)``: the ``k`` highest ``ROUND(cosine(q,
    embedding), 6)`` per query as ``(query_id, neighbor_id, rnk, cos,
    *carry)``, rank ties broken by neighbor_id."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id")
    )
    return (
        cands.select(
            "query_id",
            "neighbor_id",
            *carry,
            F.round(cosine(F.col("q"), F.col("embedding")), 6).alias("cos"),
        )
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(
            "query_id", "neighbor_id",
            F.col("rnk").cast("bigint").alias("rnk"), "cos", *carry,
        )
    )


def cosine_topk(emb: DataFrame, k: int = 5, num_queries: int = 10) -> DataFrame:
    """Brute-force cosine top-k, the exact baseline: each of the
    ``num_queries`` lowest vec_ids against every other vector. One
    broadcast join and one window."""
    cands = F.broadcast(_query_rows(emb, num_queries)).join(
        spread_for_compute(emb).select(
            F.col("vec_id").alias("neighbor_id"), F.col("embedding")),
        F.col("query_id") != F.col("neighbor_id"),
    )
    return _rerank_topk(cands, k)


def knn_classify(
    emb: DataFrame, k: int = 5, num_probes: int = 20
) -> DataFrame:
    """k-nearest-neighbor label prediction: the ``num_probes`` lowest
    vec_ids play the unlabeled incoming batch, classified against the
    labeled remainder; each probe takes the majority label of its
    ``k`` highest-cosine training neighbors (vote ties -> smaller
    label, rank ties -> smaller neighbor id — total order, so the
    oracle hash is exact). Returns (query_id, pred_label, votes).

    The probe set is a bounded incoming batch, never a fraction of
    the corpus: a fractional split makes the score pass O(n^2) (the
    adaptive-parameter trap BASELINE.md records for llm05/llm27).
    With probes fixed, the broadcast-join scan is O(probes x n),
    followed by two narrow shuffles on query_id (top-k window, vote
    count).
    """
    train = emb.filter(F.col("vec_id") >= num_probes).select(
        F.col("vec_id").alias("neighbor_id"), "embedding", "label"
    )
    cands = F.broadcast(_query_rows(emb, num_probes)).join(
        spread_for_compute(train))
    votes = (
        _rerank_topk(cands, k, "label")
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
    emb: DataFrame, n_centroids: int = 8
) -> tuple[DataFrame, DataFrame]:
    """The IVF index that :func:`cosine_topk_ivf` serves from:
    (centroids, assignments), where centroids are the ``n_centroids``
    lowest-id vectors (swap for k-means output in production; the
    structure is identical and this keeps the oracle exact) and every
    vector maps to its max-cosine centroid (ties -> lowest centroid
    id).

    Centroids broadcast; assignment is one narrow pass over the
    vectors (argmax over a few dot products per row). Build it once
    and keep it: at scale, write the assignments next to the vectors,
    partitioned by centroid_id, so each probe is a partition-pruned
    scan.
    """
    cents = emb.filter(F.col("vec_id") < n_centroids).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("ce")
    )
    scored = (
        emb.select("vec_id", "embedding")
        .join(F.broadcast(cents))
        .select(
            "vec_id",
            "centroid_id",
            cosine(F.col("embedding"), F.col("ce")).alias("ccos"),
        )
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("ccos").desc(), F.col("centroid_id")
    )
    assign = (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("vec_id", "centroid_id")
    )
    return cents, assign


def cosine_topk_ivf(
    emb: DataFrame,
    index: tuple[DataFrame, DataFrame],
    k: int = 5,
    num_queries: int = 10,
    nprobe: int = 2,
) -> DataFrame:
    """IVF approximate top-k over an :func:`ivf_assign` index: each
    query probes its ``nprobe`` closest centroids and re-ranks only
    the vectors assigned to them. Candidate count ~
    nprobe/n_centroids of the corpus; recall < 1 by design. The cell
    count must grow ~sqrt(n) for IVF to both prune and recall at
    scale (BASELINE.md Round 12 has the measured ladder)."""
    cents, assign = index
    qc = (
        F.broadcast(_query_rows(emb, num_queries))
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
    cells = spread_for_compute(emb).select(
        F.col("vec_id").alias("neighbor_id"), "embedding"
    ).join(assign.withColumnRenamed("vec_id", "neighbor_id"), "neighbor_id")
    return _rerank_topk(
        F.broadcast(probes)
        .join(cells, "centroid_id")
        .filter(F.col("query_id") != F.col("neighbor_id")),
        k,
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
    sign_bits: int = 4,
    probe_radius: int = 1,
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's
    sign-pattern bucket plus (multi-probe) every bucket within Hamming
    distance ``probe_radius`` (<=2) — the standard recall/cost lever.
    All deterministic (axis-aligned hyperplanes, the buckets of
    dedup.embedding_near_dup_pairs), so the oracle replays it exactly;
    recall < 1 by design. Probed-bucket count is ``1 + C(bits,1)
    [+ C(bits,2)]`` of ``2^bits``: at a fixed bit count the probe
    covers a fixed share of the corpus at any n, so at scale size
    ``sign_bits`` with :func:`..operators.dedup.adaptive_sign_bits`
    (BASELINE.md Round 12 has the measured ladder)."""
    if probe_radius > 2:
        raise ValueError("probe_radius > 2 not implemented")
    b = spread_for_compute(emb).select(
        "vec_id", "embedding", _sign_bucket(sign_bits).alias("bucket"))
    probes = [F.col("qb")]
    if probe_radius >= 1:
        probes += [_flip_bit(F.col("qb"), i + 1) for i in range(sign_bits)]
    if probe_radius >= 2:
        probes += [
            _flip_bit(_flip_bit(F.col("qb"), i + 1), j + 1)
            for i, j in itertools.combinations(range(sign_bits), 2)
        ]
    queries = _query_rows(
        b, num_queries, F.col("bucket").alias("qb")
    ).select("query_id", "q", F.explode(F.array(*probes)).alias("probe"))
    cands = F.broadcast(queries).join(
        b.select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("embedding"),
            F.col("bucket"),
        ),
        (F.col("probe") == F.col("bucket"))
        & (F.col("query_id") != F.col("neighbor_id")),
    )
    return _rerank_topk(cands, k)


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
    emb: DataFrame, m: int, out_id: str, sub_len: int
) -> DataFrame:
    """(out_id, subspace, sub) rows: the embedding split into ``m``
    contiguous sub-vectors of ``sub_len`` each (a GLOBAL constant from
    :func:`_global_sub_len`, not per-row ``size(embedding)/m`` — a
    per-row split would silently diverge from the oracle's global MIN
    if dimensions ever varied across rows)."""
    sub_len = F.lit(int(sub_len))
    return (
        emb.select(F.col("vec_id").alias(out_id), "embedding")
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
    emb: DataFrame, m: int = 4, codebook_k: int = 16
) -> tuple[DataFrame, DataFrame]:
    """The product-quantization index that :func:`cosine_topk_pq`
    serves from: each vector split into ``m`` sub-vectors of
    ``min(dim) // m`` elements, each coded against a per-subspace
    codebook of ``codebook_k`` centroids (deterministic: the
    sub-vectors of the ``codebook_k`` lowest-id vectors — swap for
    trained k-means codebooks in production; the structure and the
    oracle-exactness device are the same as :func:`ivf_assign`).

    Returns (codebooks, codes): codebooks (subspace, centroid_id,
    cvec) — m*k rows, broadcast everywhere; codes (vec_id, subspace,
    code) — m small ints per vector instead of the full float array
    (~16x smaller for 64-dim float32 at m=4), the artifact an
    exhaustive ADC scan reads. Encoding is one narrow pass: m rows
    per vector joined against the broadcast codebooks, argmin per
    (vector, subspace) with lowest-centroid tie-break. The
    codebooks' geometry ``(m, sub_len)`` seeds the index geometry
    cache, so serving from the in-memory index runs no extra job.
    """
    sub_len = _global_sub_len(emb, m)
    books = _subvectors(
        emb.filter(F.col("vec_id") < codebook_k), m, "centroid_id", sub_len,
    ).withColumnRenamed("sub", "cvec")
    scored = (
        _subvectors(spread_for_compute(emb), m, "vec_id", sub_len)
        .join(F.broadcast(books), "subspace")
        .select(
            "vec_id",
            "subspace",
            "centroid_id",
            l2sq(F.col("sub"), F.col("cvec")).alias("d"),
        )
    )
    w = Window.partitionBy("vec_id", "subspace").orderBy(
        F.col("d").asc(), F.col("centroid_id")
    )
    codes = (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("vec_id", "subspace", F.col("centroid_id").alias("code"))
    )
    _INDEX_GEOM_CACHE[books] = (m, sub_len)
    return books, codes


def _pq_geometry(books: DataFrame) -> tuple[int, int]:
    """``(m, sub_len)`` of a PQ codebook table: seeded by
    :func:`pq_encode`, else read in one aggregate (``max(subspace)+1``
    and the width of the subspace-0 codebook vectors) and memoized
    like the band tables' geometry."""
    geom = _INDEX_GEOM_CACHE.get(books)
    if geom is None:
        row = books.agg(
            F.max("subspace").alias("mx"),
            F.min(F.when(F.col("subspace") == 0, F.size("cvec"))).alias("d"),
        ).first()
        if row["d"] is None:
            raise ValueError("PQ index has no subspace-0 codebook")
        geom = (int(row["mx"]) + 1, int(row["d"]))
        _INDEX_GEOM_CACHE[books] = geom
    return geom


def cosine_topk_pq(
    emb: DataFrame,
    index: tuple[DataFrame, DataFrame],
    k: int = 5,
    num_queries: int = 10,
    shortlist: int = 25,
) -> DataFrame:
    """PQ ANN top-k over a :func:`pq_encode` index: asymmetric
    distance computation (ADC) over the codes, exact cosine re-rank of
    the shortlist.

    Per query: a lookup table of l2sq(query_sub, centroid) for every
    (subspace, centroid) — num_queries*m*codebook_k rows, broadcast —
    is joined to the codes on (subspace, code), so the approximate
    distance is m table lookups + a sum per (query, vector): the scan
    touches only the codes, never the vectors. The ``shortlist`` best
    by ADC (ranked on ROUND(d,6) with id tie-break for cross-engine
    stability) go to the exact re-rank. Recall < 1 by design. The
    geometry ``(m, sub_len)`` comes from the index (never re-derived
    from the serving ``emb``, whose minimum width may have drifted
    from the build-time one); an index without a subspace-0 codebook
    raises.
    """
    books, codes = index
    m, sub_len = _pq_geometry(books)
    lut = (
        _subvectors(
            emb.filter(F.col("vec_id") < num_queries), m, "query_id", sub_len,
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
    ws = Window.partitionBy("query_id").orderBy(
        F.col("adist").asc(), F.col("vec_id")
    )
    short = (
        adc.withColumn("_rn", F.row_number().over(ws))
        .filter(F.col("_rn") <= shortlist)
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
    )
    return _rerank_topk(
        short.join(
            emb.select(F.col("vec_id").alias("neighbor_id"), "embedding"),
            "neighbor_id",
        ).join(F.broadcast(_query_rows(emb, num_queries)), "query_id"),
        k,
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
