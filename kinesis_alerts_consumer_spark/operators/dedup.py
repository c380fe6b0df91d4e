"""Deduplication operators over the ``documents`` table — the
training-data-pipeline surface beyond the reference (north star).

All variants are expressed with built-in column functions (explode /
groupBy / higher-order array ops) so they scale as ordinary shuffles:

- exact:   hash-groupBy on normalized text — one shuffle on the text
           key; at 100 TB, group on ``md5(text)`` instead of the full
           text to keep shuffle rows small (done here).
- minhash: word shingles -> k portable hash functions (md5-derived,
           so the DuckDB oracle can reproduce them bit-for-bit) ->
           per-doc signature.
- LSH:     band the signature, self-join on band buckets -> candidate
           pairs, verify exact Jaccard on candidates only. The
           self-join shuffles on the band key (small), never on the
           full cross product; at scale this is THE standard
           O(n·bands) near-dup sweep.
- simhash: 16-bit sign-aggregated token hash (portable construction).
- embedding near-dup: sign-pattern LSH buckets over the embedding
  vector, cosine verified within buckets (see similarity.py for the
  top-k variant).

Determinism: every hash is md5-based (identical in Spark and DuckDB);
no RNG anywhere, so oracle comparisons are exact.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .text import _tokens
from .util import spread_enabled, spread_for_compute

# 60-bit integer hash from md5 — portable: Spark conv(hex,16,10),
# DuckDB ('0x'||hex)::BIGINT. 15 hex chars keeps it positive signed.
def _hex60(col: Column) -> Column:
    """The first 15 lowercase hex characters of ``md5(col)``: fixed
    width, so string order IS numeric order."""
    return F.substring(F.md5(col), 1, 15)


def _hex60_value(hex60: Column) -> Column:
    return F.conv(hex60, 16, 10).cast("bigint")


def _hash60(col: Column) -> Column:
    return _hex60_value(_hex60(col))


def shingle_strings(text: Column, n: int) -> Column:
    """Overlapping word n-gram shingles of a TEXT column as
    array<string> — one lookahead regex over whitespace-normalized
    text, entirely inside whole-stage codegen.

    The rejected form, a ``transform`` over a token-index ``sequence``
    that ``concat_ws``-joins ``element_at`` windows, is a higher-order
    lambda, which Catalyst executes as CodegenFallback: every shingle
    of every doc pays interpreted expression dispatch (measured at
    the sf10 rehearsal: a single core pegged >900 s in regex/eval for
    60k docs). Here ``(?<=^| )(?=(\\S+( \\S+)*))``
    captures each n-token window at token starts only — the
    lookbehind rejects mid-token positions, the lookahead makes the
    matches overlap — so the whole shingle set is one vectorizable
    ``regexp_extract_all``. Identical output to joining consecutive
    ``split``-tokens with a single space: < n tokens -> empty array,
    any ``\\s+`` run collapses to one space first.
    """
    if n == 1:
        # clean token extraction (split() would manufacture '' tokens
        # on leading whitespace — see the property test)
        return F.regexp_extract_all(text, F.lit(r"(\S+)"), F.lit(1))
    pattern = "(?<=^| )(?=(\\S+" + " \\S+" * (n - 1) + "))"
    norm = F.regexp_replace(F.trim(text), r"\s+", " ")
    return F.regexp_extract_all(norm, F.lit(pattern), F.lit(1))


def exact_dedup(docs: DataFrame) -> DataFrame:
    """Exact dedup groups: one row per distinct text with the kept
    (minimum) doc_id and the duplicate count. Groups on md5(text) so
    the shuffle carries a 32-byte key, not document bodies."""
    return (
        docs.select(F.col("doc_id"), F.md5(F.col("text")).alias("fp"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keep_id"), F.count("*").alias("copies"))
    )


def minhash_signatures(
    docs: DataFrame, num_hashes: int = 4, shingle: int = 1
) -> DataFrame:
    """Per-doc MinHash signature: column ``mh{j}`` = min over shingles
    of hash_j(shingle), hash_j(s) = hash60(j || ':' || s).

    Computed as explode(shingles) -> per-row hash columns -> groupBy
    min, NOT as array_min(transform(...)): higher-order lambdas are
    CodegenFallback, so the transform form evaluates md5+conv
    INTERPRETED per shingle per hash — measured 140x wall-clock at
    100x rows (sf10 rehearsal) with one straggler core pegged on
    NumberConverter. The exploded form keeps md5 inside whole-stage
    codegen (same device simhash16 uses).

    The min is taken over the 15-character hex prefixes
    (:func:`_hex60`), and ``conv`` runs once per (doc, hash) on the
    winner: fixed-width lowercase hex orders as its numeric value, so
    ``conv(min(hex))`` equals ``min(_hash60(...))`` bit for bit, and
    conv's cost no longer scales with the shingle count. A string min
    has no fixed-width hash-aggregate buffer, so the aggregate plans as
    a sort aggregate; it keeps its map-side partial min, and the
    groupBy ships (doc_id, ``num_hashes`` 15-character strings) per
    doc and task instead of (doc_id, longs) — the explode never hits
    the wire. explode_outer keeps shingle-less docs as all-null
    signatures (min over NULL, conv of NULL), exactly like
    array_min(transform) over an empty array."""
    ex = (
        spread_for_compute(docs)
        .select(
            "doc_id", shingle_strings(F.col("text"), shingle).alias("shingles")
        )
        .select("doc_id", F.explode_outer("shingles").alias("_s"))
    )
    return ex.groupBy("doc_id").agg(
        *[
            F.min(_hex60(F.concat(F.lit(f"{j}:"), F.col("_s")))).alias(f"mh{j}")
            for j in range(num_hashes)
        ]
    ).select(
        "doc_id",
        *[_hex60_value(F.col(f"mh{j}")).alias(f"mh{j}")
          for j in range(num_hashes)],
    )


def lsh_candidate_pairs(
    docs: DataFrame,
    bands: int | None = None,
    rows_per_band: int | None = None,
    shingle: int = 1,
    max_bucket: int | None = 64,
    stats: dict | None = None,
    index: DataFrame | None = None,
) -> DataFrame:
    """MinHash-LSH candidate pairs: docs sharing any band bucket.
    Returns distinct (a, b) with a < b, from the batch core
    :func:`_bucket_pairs` over the docs' :func:`lsh_build_index` band
    table (``bands * rows_per_band`` minhashes per doc; bucket key =
    the band index and its ``r*`` row values).

    ``index`` accepts the docs' OWN prebuilt :func:`lsh_build_index`
    band table and skips the signature pass entirely — ``docs`` is
    then not scanned at all (candidates need only the band rows; the
    exact-Jaccard verify that reads text is the caller's
    :func:`jaccard_pairs` step). Two callers want this: the
    absorbing lifecycle (st10), whose per-batch band table already
    exists for the probe and the absorb — without it the within-batch
    pass was the THIRD signature computation per batch — and any
    corpus whose index is a standing artifact (the llm40 serving
    shape, self-dedup flavor). Geometry is the table's:
    ``rows_per_band`` is derived from the ``r*`` columns and
    ``bands`` from the geometry cache / one narrow ``max(band)``
    aggregate; explicit arguments that mismatch raise (the
    raise-on-mismatch contract). ``shingle`` is carried by the build
    as always and is undetectable here.

    Buckets holding more than ``max_bucket`` docs are dropped (same
    guard as winnowing's ``max_df``, :func:`winnow_near_dup_pairs`): a
    degenerate band value — e.g. every empty/boilerplate doc sharing
    one signature — would be O(bucket²) on a single key at 100 TB. The
    cap bounds each bucket's output at max_bucket²/2 pairs; members of
    an over-cap bucket are near-identical boilerplate better handled
    by exact dedup. ``None`` disables the cap.

    **The cap is a silent recall cliff if bands are too coarse for the
    corpus** (measured at 1000× the gated fixture): at 5M docs the
    default (2, 2) bands hash large fractions of the corpus into a
    handful of buckets; the cap then drops those buckets WHOLESALE —
    planted recall fell 20/20 → 13/20 and ~56k true ≥0.5-Jaccard pairs
    vanished with no signal. Band count must RISE with corpus size
    (finer buckets = constant occupancy), not just to buy precision:
    at 5M docs (4, 4) kept 20/20 planted pairs at 2.7× the wall of
    (2, 2). ``stats``, if given, is the warning light: it receives
    ``{"overcap_buckets": B, "dropped_members": M}`` — the number of
    buckets the cap dropped and their total member count (bucket
    membership slots, so a doc in two over-cap buckets counts twice)
    — via an aggregate over the over-cap slice (the
    :func:`connected_components` ``stats`` pattern). The aggregate is
    narrow but it is a SEPARATE ACTION with no cache between it and
    the returned plan: executing both re-runs the signature/bucket
    stages, i.e. the diagnostic costs roughly one extra
    candidate-stage pass (kept uncached on purpose — a persist here
    would change the returned plan, which must stay byte-identical to
    the stats=None form). Turn it on for sizing audits, not for every
    production run. Nonzero counts
    mean the (bands, rows_per_band, max_bucket) sizing is eating
    recall: raise ``bands`` first. The stats aggregate is a separate
    action and does NOT alter the returned plan — the gated llm03
    query (stats=None) plans byte-identically.
    :func:`suggest_lsh_sizing` derives a corpus-size-aware
    (bands, rows_per_band) from the occupancy + recall inequalities;
    use it instead of hand-picking once ``n_docs`` moves (the gated
    llm03 pins (2, 2), the right literal for its fixture but the
    wrong example for a 100 TB reader).
    """
    if index is not None:
        b_idx, r_idx = _minhash_index_geometry(index)
        bands = _geometry_arg("bands", bands, b_idx, "bands")
        rows_per_band = _geometry_arg(
            "rows_per_band", rows_per_band, r_idx, "row columns")
    else:
        bands = 2 if bands is None else bands
        rows_per_band = 2 if rows_per_band is None else rows_per_band
        index = lsh_build_index(docs, bands, rows_per_band, shingle)
    keys = ["band"] + [f"r{r}" for r in range(rows_per_band)]
    return _bucket_pairs(index, keys, "doc_id", max_bucket, stats)


def lsh_band_recall(
    threshold: float, bands: int, rows_per_band: int
) -> float:
    """P(a pair at Jaccard ``threshold`` shares at least one band
    bucket) — the standard MinHash-LSH S-curve ``1 - (1 - t^r)^b``
    (Leskovec/Rajaraman/Ullman, Mining of Massive Datasets §3.4).
    Exact for MinHash signatures; use it to check what a proposed
    (bands, rows_per_band) actually promises before paying for it."""
    import math

    if not 0.0 <= threshold <= 1.0:
        raise ValueError(f"threshold must be in [0, 1], got {threshold}")
    if bands < 1 or rows_per_band < 1:
        raise ValueError("bands and rows_per_band must be >= 1")
    p = threshold ** rows_per_band
    if p >= 1.0:
        return 1.0
    # expm1/log1p form: the naive (1 - p)**b collapses to 0 once p
    # drops under double epsilon (~1e-16) even when b*p is large
    return -math.expm1(bands * math.log1p(-p))


def hll_buffered_count(n_estimate: int, rsd: float = 0.05) -> int:
    """Inflate an ``approx_count_distinct`` estimate by two standard
    errors before it feeds a sizing derivation.

    HLL's relative standard deviation is ~1.04/sqrt(m); Spark's
    ``approx_count_distinct`` default targets ``rsd=0.05``. The
    1.05M hyperplane probe measured the hazard this closes: the raw
    estimate came in 8% LOW (n̂=967,835), deriving (30, 15) where
    exact n gives (35, 16) — recall held (20/20, S-curve 0.989) but
    the margin was consumed by luck. Sizing from ``n̂/(1 - 2·rsd)``
    guarantees the derived occupancy/recall inequalities hold at the
    true n whenever the estimate is within 2σ (≈95.4% of runs), and
    over-sizing is the cheap direction: one extra band / one extra
    bit, never a recall loss.

    The buffer DIVIDES by ``(1 - 2·rsd)`` rather than multiplying by
    ``(1 + 2·rsd)``: if ``n̂ >= n·(1 - 2·rsd)`` then
    ``n̂/(1 - 2·rsd) >= n`` exactly, whereas ``n̂·(1 + 2·rsd) =
    n·(1 - 4·rsd²) < n`` at the 2σ-low boundary — the multiplicative
    form leaves a 1% hole at the default rsd and fails the very
    coverage property it exists to provide (hypothesis found the
    counterexample at n=11)."""
    if n_estimate < 0:
        raise ValueError(f"n_estimate must be >= 0, got {n_estimate}")
    if not 0.0 < rsd < 0.5:
        raise ValueError(f"rsd must be in (0, 0.5), got {rsd}")
    from fractions import Fraction

    # Exact integer arithmetic: the earlier float form
    # ceil(round(n/(1-2·rsd), 9)) could cancel a LEGITIMATE ceil
    # whenever the exact quotient sits within 5e-10 above an integer,
    # under-buffering by 1 for arbitrary rsd values. Express
    # (1 - 2·rsd) as an exact rational and take ceil(n·den/num) with
    # integer division — no float noise, no round() band-aid.
    # DECIMAL semantics for rsd: Fraction(str(rsd)) reads the float's
    # shortest round-trip repr, so rsd=0.05 means exactly 1/20 (the
    # documented Spark default), not the binary 0.05000…0277 — the
    # caller wrote a decimal and the clean quotient boundaries
    # (9/0.9 == 10 exactly) behave as written. The two readings
    # differ by < 3e-18 relative, far inside the 2σ model's own slack.
    ratio = 1 - 2 * Fraction(str(rsd))
    return max(1, -((-n_estimate * ratio.denominator) // ratio.numerator))


def suggest_lsh_sizing(
    n_docs: int,
    threshold: float = 0.8,
    target_recall: float = 0.95,
    background_sim: float = 0.1,
    max_bucket: int = 64,
) -> tuple[int, int]:
    """Corpus-size-aware (bands, rows_per_band) for
    :func:`lsh_candidate_pairs` — the productized lesson that
    band sizing must RISE with corpus size or ``max_bucket`` silently
    eats recall (at 5M docs the (2, 2) default lost 7/20 planted
    near-dups to wholesale over-cap bucket drops; (4, 4) kept 20/20).

    Two inequalities, applied in order:

    - **occupancy** picks ``rows_per_band``: the expected number of
      background-similar docs co-bucketed with any given doc is
      roughly ``n_docs * background_sim^r``; keeping that under
      ``max_bucket`` needs
      ``r >= ln(n_docs / max_bucket) / ln(1 / background_sim)``.
      ``background_sim`` is a MODEL INPUT (the typical Jaccard of
      unrelated docs in the corpus — boilerplate-heavy corpora run
      higher); the runtime check is :func:`lsh_candidate_pairs`'s
      ``stats`` warning light — nonzero ``overcap_buckets`` on real
      data means the assumed background was too low, so raise it and
      re-derive.
    - **recall** picks ``bands`` for the chosen ``r``: inverting the
      S-curve (:func:`lsh_band_recall`),
      ``b >= ln(1 - target_recall) / ln(1 - threshold^r)``.

    The returned sizing always satisfies
    ``lsh_band_recall(threshold, b, r) >= target_recall`` and grows
    ``r`` logarithmically with ``n_docs`` (constant expected bucket
    occupancy) — e.g. defaults give (6, 4) at 500k docs and (8, 5) at
    5M, vs the fixed (2, 2) whose buckets overflow there. Cost scales
    with ``b * r`` signature hashes per doc; tighten
    ``target_recall`` or ``threshold`` before growing either blindly.

    MEASURED (``scripts/recall_probe.py --mode text-batch`` at 5M
    docs, BASELINE.md Round 11; planted pairs at the default
    threshold's similarity J3≈0.83): the suggested (8, 5) delivered **19/20 planted recall** — the >=0.95
    promise — where the fixed (2, 2) got 17/20; uncapping (2, 2) to
    max_bucket=1024 bought only 18/20 (its S-curve ceiling at this J)
    at a **275x candidate explosion** (2.05M -> 562M pairs), so finer
    bands, not a bigger cap, are the remedy the warning light should
    trigger. Caveat the probe also measured: the promise applies AT
    its threshold — pairs planted at J3≈0.6 sit below the default 0.8
    and neither sizing owes them recall (S-curve math, not a defect);
    derive the sizing at the threshold you verify at.
    """
    import math

    if n_docs < 1:
        raise ValueError(f"n_docs must be >= 1, got {n_docs}")
    if not 0.0 < threshold < 1.0:
        raise ValueError(f"threshold must be in (0, 1), got {threshold}")
    if not 0.0 < target_recall < 1.0:
        raise ValueError(
            f"target_recall must be in (0, 1), got {target_recall}")
    if not 0.0 < background_sim < 1.0:
        raise ValueError(
            f"background_sim must be in (0, 1), got {background_sim}")
    if max_bucket < 1:
        raise ValueError(f"max_bucket must be >= 1, got {max_bucket}")

    # rows are floored at 2: a 1-row band's value is a single global
    # minhash, and heavy-tailed token frequencies collapse its buckets
    # regardless of corpus size — measured (planted-recall probe, 540
    # unigram docs): a (2, 1) sizing put 966 of 1080 bucket-member slots into
    # over-cap buckets and planted recall fell to 2/20
    r = 2
    if n_docs > max_bucket:
        r = max(2, math.ceil(
            math.log(n_docs / max_bucket) / math.log(1.0 / background_sim)
        ))
    p = threshold ** r
    if p <= 0.0:
        # threshold^r underflowed: no finite band count reaches the
        # target — the occupancy model forced r too high for this
        # threshold. Raise the threshold, the background_sim estimate,
        # or max_bucket rather than silently returning nonsense.
        raise ValueError(
            f"infeasible sizing: threshold**{r} underflows to 0 — "
            "raise threshold, background_sim, or max_bucket")
    # log1p keeps the division finite when p is tiny (1.0 - p == 1.0
    # in doubles for p < ~1e-16, and log(1.0) == 0 would divide by 0)
    b = max(1, math.ceil(
        math.log(1.0 - target_recall) / math.log1p(-p)
    ))
    if b > 10_000_000:
        # b*r hashes per doc at this size is never the right spend —
        # the parameters are fighting the occupancy model, not sizing
        # a real index
        raise ValueError(
            f"infeasible sizing: {b} bands to reach recall "
            f"{target_recall} at threshold {threshold} with "
            f"rows_per_band={r} — raise threshold, background_sim, "
            "or max_bucket")
    return b, r


def _overcap_light(over: DataFrame, size_col, stats: dict) -> None:
    """Fill the shared over-cap warning light (one definition: the
    block was once copy-pasted at four sites and had drifted on the
    int() wrap): ``over`` is the slice of bucket rows ABOVE the cap,
    ``size_col`` its member-count column/expression. One narrow
    SEPARATE aggregate action; callers must keep it off the returned
    plan (the llm03 byte-identical contract)."""
    row = over.agg(
        F.count("*").alias("nb"),
        F.coalesce(F.sum(size_col), F.lit(0)).alias("nm"),
    ).collect()[0]
    stats["overcap_buckets"] = int(row["nb"])
    stats["dropped_members"] = int(row["nm"])


def _zero_light(stats: dict) -> None:
    """The cap is off: report a clean light."""
    stats["overcap_buckets"] = 0
    stats["dropped_members"] = 0


def _drop_overcap(rows: DataFrame, keys: list, max_bucket: int | None,
                  stats: dict | None) -> DataFrame:
    """``rows`` without the buckets (rows sharing a ``keys`` value) that
    hold more than ``max_bucket`` rows — the one cap of the paths that
    bucket by a join (:func:`_probe_candidates`,
    :func:`embedding_near_dup_pairs`, ``similarity.semantic_dedup``).
    Occupancy is counted with map-side partial counts (only (key,
    count) rows shuffle) and the over-cap keys, at most
    n/max_bucket rows, drop through a broadcast anti-join, never a
    shuffle join on the much larger keep set. ``stats`` gets the
    over-cap light, or a clean one when ``max_bucket`` is None (no
    cap)."""
    if max_bucket is None:
        if stats is not None:
            _zero_light(stats)
        return rows
    over = (rows.groupBy(*keys).agg(F.count("*").alias("_n"))
            .filter(F.col("_n") > max_bucket))
    if stats is not None:
        _overcap_light(over, F.col("_n"), stats)
    return rows.join(F.broadcast(over.select(*keys)), keys, "left_anti")


def _new_skew_light(new_idx: DataFrame, keys: list, stats: dict) -> None:
    """New-batch bucket-skew warning light for the incremental
    operators: ``max_bucket`` caps OLD-side membership only —
    per-bucket candidate volume is ``old_members(<=cap) x
    new_members``, so a hot bucket in the INGEST batch still
    multiplies every capped old bucket by the whole batch. That is
    linear in batch size (not a scale-killer, by design), but it was
    the one skew axis in the family without a light. Reports the max
    new-side bucket occupancy among probed keys (every new-side key IS
    probed — the semi filter's keys are the batch's own). Same contract as :func:`_overcap_light`: one
    narrow SEPARATE aggregate action off the (checkpointed, tiny)
    batch signature table; never touches the returned plan."""
    row = (
        new_idx.groupBy(*keys).agg(F.count("*").alias("_n"))
        .agg(F.coalesce(F.max("_n"), F.lit(0)).alias("mx"))
        .collect()[0]
    )
    stats["new_max_bucket"] = int(row["mx"])


# hyperplane signs tables, one per (session, bands, bits, dim) — see
# hyperplane_build_index. Weak-keyed on the SESSION OBJECT, not id():
# a dict keyed on id(spark) would alias a new session to a dead one's
# DataFrame after GC reuses the address (stale JVM refs), and would
# pin dead sessions' plans forever in long-lived processes.
import weakref

_SIGNS_CACHE: "weakref.WeakKeyDictionary[SparkSession, dict[tuple, DataFrame]]" = (
    weakref.WeakKeyDictionary()
)

# probe index geometry (band tables here, PQ codebooks in
# similarity.pq_encode), weak-keyed on the index
# DataFrame OBJECT (same GC-aliasing rationale as _SIGNS_CACHE): a
# caller probing the same prebuilt index every micro-batch (st09's
# foreachBatch) pays the max(band) metadata aggregate ONCE, not once
# per batch — while a fresh read of the same path is a new object and
# correctly re-derives.
_INDEX_GEOM_CACHE: "weakref.WeakKeyDictionary[DataFrame, tuple[int, int]]" = (
    weakref.WeakKeyDictionary()
)


def _minhash_index_geometry(index: DataFrame) -> tuple[int, int]:
    """(bands, rows_per_band) of a :func:`lsh_build_index` table —
    rows from the ``r*`` schema columns (free; numeric sort key so
    rows_per_band >= 11 is not mangled by lexicographic order),
    bands from ``max(band)+1`` (one narrow metadata aggregate,
    memoized per DataFrame OBJECT via ``_INDEX_GEOM_CACHE``, so a
    per-micro-batch caller pays it once). Shared by every consumer
    of a band table (``index=`` on the incremental probe and the
    self-dedup pass, ``new_index=`` on the probe) so the validation
    logic has ONE definition."""
    r_cols = sorted(
        (c for c in index.columns
         if c.startswith("r") and c[1:].isdigit()),
        key=lambda c: int(c[1:]),
    )
    if not r_cols or "band" not in index.columns:
        raise ValueError(
            "prebuilt index must carry (doc_id, band, r0..r{k}) — "
            "build it with lsh_build_index")
    geom = _INDEX_GEOM_CACHE.get(index)
    if geom is None:
        row = index.agg(F.max("band").alias("mb")).collect()[0]
        if row["mb"] is None:
            raise ValueError("prebuilt index is empty — no band rows")
        geom = (int(row["mb"]) + 1, len(r_cols))
        _INDEX_GEOM_CACHE[index] = geom
    return geom


def _hyperplane_index_geometry(index: DataFrame) -> tuple[int, int]:
    """(bands, bits_per_band) of a :func:`hyperplane_build_index`
    table — ``max(band)+1`` and ``max(length(bits))`` in ONE narrow
    metadata aggregate, memoized per DataFrame OBJECT via
    ``_INDEX_GEOM_CACHE`` (free when the build site or
    :func:`checkpoint_index` seeded it). Shared by ``index=`` and
    ``new_index=`` on :func:`hyperplane_incremental_pairs`."""
    if "band" not in index.columns or "bits" not in index.columns:
        raise ValueError(
            "prebuilt index must carry (vec_id, band, bits) — "
            "build it with hyperplane_build_index")
    geom = _INDEX_GEOM_CACHE.get(index)
    if geom is None:
        row = index.agg(
            F.max("band").alias("mb"),
            F.max(F.length("bits")).alias("lb"),
        ).collect()[0]
        if row["mb"] is None:
            raise ValueError("prebuilt index is empty — no band rows")
        geom = (int(row["mb"]) + 1, int(row["lb"]))
        _INDEX_GEOM_CACHE[index] = geom
    return geom


def _geometry_arg(name: str, given: int | None, actual: int,
                  unit: str) -> int:
    """A geometry argument reconciled with the value read from the
    index: ``None`` takes the index's value, a mismatch raises — a
    probe banded differently from its index loses recall silently."""
    if given is not None and given != actual:
        raise ValueError(
            f"{name}={given} does not match the prebuilt index's "
            f"{actual} {unit} — omit it (it is read from the index) "
            f"or pass {actual}")
    return actual


def _hyperplane_sign(band: int, bit: int, j: int) -> int:
    """Deterministic ±1 hyperplane coefficient for (band, bit, dim j).

    Derived from ``hashlib.md5`` at PLAN-BUILD time and embedded as a
    literal in both the Spark expression and the DuckDB oracle SQL —
    no engine hash function is involved, so the two plans are
    bit-identical by construction (the llm05 oracle-device lesson,
    applied to random hyperplanes)."""
    import hashlib

    d = hashlib.md5(f"hp:{band}:{bit}:{j}".encode()).digest()
    return 1 if d[0] & 1 else -1


def hyperplane_band_recall(
    cos_threshold: float, bands: int, bits_per_band: int
) -> float:
    """P(a pair at cosine ``cos_threshold`` shares at least one band
    bucket) under random-hyperplane LSH: per-hyperplane agreement is
    ``p = 1 - acos(s)/pi`` (Goemans-Williamson / Charikar SimHash),
    then the standard banding S-curve ``1 - (1 - p^r)^b`` — the same
    curve :func:`lsh_band_recall` evaluates for MinHash, with ``p``
    in place of the Jaccard threshold."""
    import math

    if not -1.0 <= cos_threshold <= 1.0:
        raise ValueError(
            f"cos_threshold must be in [-1, 1], got {cos_threshold}")
    p = 1.0 - math.acos(cos_threshold) / math.pi
    return lsh_band_recall(p, bands, bits_per_band)


def suggest_hyperplane_sizing(
    n_vecs: int,
    threshold: float = 0.9,
    target_recall: float = 0.95,
    target_bucket: int = 32,
) -> tuple[int, int]:
    """Corpus-size-aware (bands, bits_per_band) for
    :func:`hyperplane_lsh_pairs` — the :func:`suggest_lsh_sizing`
    derivation transplanted to the cosine family (the planted probe
    measured WHY it is needed: the single-band sign-LSH's
    threshold-0.9 recall decays as the adaptive bit count
    grows — 3/20 planted cos-0.93 pairs at 1.05M vectors).

    Two inequalities, applied in order:

    - **occupancy** picks ``bits_per_band``: ±1-hyperplane signs of
      non-degenerate embeddings split ~uniformly, so expected bucket
      occupancy is ``n / 2^r``; keeping it under ``target_bucket``
      needs ``r >= log2(n / target_bucket)``. (The uniform-split
      assumption replaces MinHash's ``background_sim`` model; the
      runtime check is the same — a nonzero ``stats`` light on real
      data means the corpus is more clustered than the model, so
      raise ``bits_per_band`` and re-derive.)
    - **recall** picks ``bands`` for the chosen ``r`` by inverting
      the S-curve (:func:`hyperplane_band_recall`) at the
      per-hyperplane agreement ``p = 1 - acos(threshold)/pi``.

    The returned sizing always satisfies
    ``hyperplane_band_recall(threshold, b, r) >= target_recall``.
    Cost scales with ``b * r`` dot products per vector and
    ``b * target_bucket / 2`` verify cosines per vector — e.g.
    defaults give (6, 6) at 2k vectors and (35, 16) at 1.05M.

    MEASURED (``scripts/recall_probe.py --mode hyperplane`` at 1.05M
    vectors, BASELINE.md Round 12; planted pairs at cosine 0.93
    exactly): the auto path derived (30, 15) from the HLL estimate n̂=967,835 (~8% under
    true n — occupancy landed at ~32/bucket, right on target) and
    delivered **20/20 planted recall** — the S-curve promises 0.989
    at cos 0.93 for that sizing — where the gated single-band
    adaptive form got 3/20. The stats light reported 91 over-cap
    buckets / 113k member slots (hash-collision clumps in the
    synthetic corpus) and recall held anyway: banding means one
    dropped bucket costs one of 30 chances, not the only one. See
    BASELINE.md round-12 for the full table.
    """
    import math

    if n_vecs < 1:
        raise ValueError(f"n_vecs must be >= 1, got {n_vecs}")
    if not 0.0 < threshold < 1.0:
        raise ValueError(f"threshold must be in (0, 1), got {threshold}")
    if not 0.0 < target_recall < 1.0:
        raise ValueError(
            f"target_recall must be in (0, 1), got {target_recall}")
    if target_bucket < 1:
        raise ValueError(
            f"target_bucket must be >= 1, got {target_bucket}")

    r = 1
    if n_vecs > target_bucket:
        r = max(1, math.ceil(math.log2(n_vecs / target_bucket)))
    p = (1.0 - math.acos(threshold) / math.pi) ** r
    if p <= 0.0:
        raise ValueError(
            f"infeasible sizing: agreement**{r} underflows to 0 — "
            "raise threshold or target_bucket")
    b = max(1, math.ceil(
        math.log(1.0 - target_recall) / math.log1p(-p)
    ))
    if b > 10_000_000:
        raise ValueError(
            f"infeasible sizing: {b} bands to reach recall "
            f"{target_recall} at threshold {threshold} with "
            f"bits_per_band={r} — raise threshold or target_bucket")
    return b, r


def _check_hyperplane_sizing(bands: int, bits_per_band: int) -> None:
    """Shared expression-size envelope (was copy-pasted at three call
    sites — the _overcap_light lesson again):
    beyond ~4096 total bits the parameters are fighting the data, not
    indexing it, and the signs table / generated SQL grow unusable —
    fail loudly with the JL remedy named."""
    if bands < 1 or bits_per_band < 1:
        raise ValueError("bands and bits_per_band must be >= 1")
    n_bits = bands * bits_per_band
    if n_bits > 4096:
        raise ValueError(
            f"hyperplane sizing asks for {n_bits} bits "
            f"(bands={bands} * bits={bits_per_band}) — beyond ~4096 "
            "the parameters are fighting the data, not indexing it. "
            "Reduce dimensionality FIRST: compose with the JL sign "
            "projection (similarity.random_projection, llm34), or "
            "pass a coarser explicit sizing.")


def _infer_embedding_dim(emb: DataFrame) -> int:
    """Corpus-wide MIN embedding width over NON-EMPTY rows (the pq
    _global_sub_len defense): consistent in both engines; callers
    passing dim explicitly own the ragged-width contract documented
    on :func:`hyperplane_lsh_pairs`. Restricting to size>=1 keeps the
    empty/null exclusion promise honest: one empty
    (size 0) or null (size -1) embedding must not drive the inferred
    dim to <= 0 and abort the whole call — such rows posexplode into
    no dot rows and drop out of candidates."""
    row = emb.agg(
        F.min(F.when(F.size("embedding") >= 1,
                     F.size("embedding"))).alias("d")
    ).collect()[0]
    return int(row["d"]) if row["d"] is not None else 1


def _spread_pairs(cands: DataFrame) -> DataFrame:
    """Hash-repartition an (a, b) candidate-pair frame across the
    cluster's cores before the verify.

    Why: everything downstream of the candidate exchange — the
    ``.distinct()``, the verify's broadcast joins, and the
    interpreted-HOF dot (~5 µs/pair) — is CPU-bound, but the pair
    frame is tiny in BYTES (two ids per row), so AQE's byte-based
    coalescing collapsed its exchange to ONE post-shuffle partition at
    sf0.1 and llm39 burned 2 x ~1.6 s single-task stages while 31
    cores idled. Placement matters: this repartition goes BEFORE the
    ``.distinct()`` so it BECOMES the distinct's exchange (same keys →
    the aggregate's distribution requirement is already satisfied and
    no second exchange is planned) — placed after, the optimizer drops
    it as redundant with the distinct's own (a, b) exchange, which AQE
    then coalesces right back to 1. A user repartition with an
    explicit count is exempt from AQE coalescing, (a, b) hashes
    uniformly, and the verify joins are broadcasts, so the
    partitioning survives into the scoring stage. Scale posture:
    defaultParallelism tracks the cluster's cores (the same axis
    ``spark.sql.shuffle.partitions`` is pinned to), so task
    granularity follows the hardware rather than a local constant; the
    shuffled bytes are the id pairs only, never embeddings.

    A fast/slow alternative (route exactly-dim pairs to an unrolled
    whole-stage-codegen dot) was measured FIRST and rejected: the
    64-deep Add chain ran ~2x slower than the interpreted HOF (JIT
    defeat), and the branch split doubled the stage count.

    Deployment posture: honors the same
    ``spark.graft.spreadForCompute=off`` kill-switch as
    :func:`~.util.spread_for_compute` (one conf disables every forced
    spread), and the partition count is
    ``max(defaultParallelism, spark.sql.shuffle.partitions)`` rather
    than bare plan-time defaultParallelism — a user REPARTITION_BY_NUM
    is exempt from AQE re-splitting as well as coalescing, so on a
    cluster whose shuffle partitions are sized above core count (the
    100 TB posture) the pair exchange must follow that axis, and under
    dynamic allocation (executors not yet registered at plan time)
    defaultParallelism alone under-sizes."""
    spark = cands.sparkSession
    if not spread_enabled(spark):
        return cands
    try:
        # no explicit default: Spark 4 VALIDATES a supplied default
        # against the conf's requirement (a '0' placeholder throws
        # INVALID_CONF_VALUE on a vanilla session); the no-default
        # form resolves the session value (or Spark's own default)
        shuffle_n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except Exception:  # noqa: BLE001 — conf access never blocks the op
        shuffle_n = 0
    n = max(spark.sparkContext.defaultParallelism, shuffle_n)
    return cands.repartition(n, "a", "b")


def _band_table(sig: DataFrame, id_col: str, geom: tuple[int, int],
                key_cols: Callable[[int], list[Column]]) -> DataFrame:
    """The flat band table ``(id, band, key columns)``, one row per
    (id, band), from one row of signature columns per id —
    ``key_cols(b)`` gives band b's named key columns. The one layout
    every banded path reads (:func:`_bucket_pairs`,
    :func:`_probe_candidates`), built only by :func:`lsh_build_index`
    and :func:`hyperplane_build_index`. ``geom`` = (bands, key width)
    seeds the probe's geometry cache: an in-memory ``index=``
    round-trip skips the metadata aggregate; a parquet read is a new
    object and re-derives it."""
    out = sig.select(
        id_col,
        F.explode(F.array(*[
            F.struct(F.lit(b).alias("band"), *key_cols(b))
            for b in range(geom[0])
        ])).alias("_b"),
    ).select(id_col, "_b.*")
    _INDEX_GEOM_CACHE[out] = geom
    return out


def _batch_index(
    new_index: DataFrame | None,
    geom: tuple[int, int],
    read_geometry: Callable[[DataFrame], tuple[int, int]],
    build: Callable[[], DataFrame],
    builder: str,
) -> DataFrame:
    """The probe's batch band table. A given ``new_index`` is checked
    against the probe geometry ``geom`` and consumed as-is: same-width
    key columns built at a different band count split the signature
    differently and lose recall SILENTLY, so a mismatch raises (the
    geometry is free from the build-site cache, else one narrow
    aggregate on the tiny batch table). Otherwise ``build()`` is
    checkpointed once: the table feeds the candidate core's semi
    filter, its candidate join and the opt-in stats light, it is tiny
    (batch rows x bands), and the llm03 counter-measurement (a
    checkpoint defeating scan-side pruning) does not apply to a
    computed signature table with nothing left to prune."""
    if new_index is None:
        return build().localCheckpoint(eager=True)
    got = read_geometry(new_index)
    if got != geom:
        raise ValueError(
            f"new_index geometry {got} does not match the probe "
            f"geometry {geom} — build it with {builder}")
    return new_index


def _bucket_pairs(
    index: DataFrame,
    keys: list,
    id_col: str,
    max_bucket: int | None,
    stats: dict | None,
) -> DataFrame:
    """Distinct ``(a, b)`` with a < b of the ids sharing a bucket
    ``keys`` value in a flat band table — the batch candidate core of
    :func:`lsh_candidate_pairs` and :func:`hyperplane_lsh_pairs`
    (:func:`_probe_candidates` is the incremental one).

    ONE aggregation: groupBy(keys) -> collect_list(id) -> size() cap
    filter -> explode twice for the per-bucket pair cross product. A
    bucket SELF-JOIN (+ broadcast anti-join for the cap) planned the
    whole signature pipeline once per join side with no exchange
    reuse across the subtrees — measured at sf10 as signatures
    computing 2-4x, 108.6 s for the candidate stage; a shuffle_hash
    hint and a localCheckpoint were both tried and measured (no reuse
    / slower). The member-list form shuffles the same (bucket, id)
    bytes exactly once. A single over-cap bucket still materializes
    its member array on one reducer before the filter drops it (8
    bytes/member — a 1M-doc viral bucket is 8 MB, survivable), which
    is the price of capping without a second aggregation pass.

    The band table is NOT checkpointed: a localCheckpoint here
    measured SLOWER at both sf0.1 and sf10 (llm36 1.69 -> 5.05 s,
    llm03 141 -> 159 s) — the map-side partial aggregates already
    dedup the expensive signature work per consumer, and the
    checkpoint's lineage cut defeats scan-side pruning for the cheap
    replays. ``stats`` gets the over-cap light (a separate action;
    the returned plan is the same with or without it)."""
    buckets = index.groupBy(*keys).agg(F.collect_list(id_col).alias("_ids"))
    if max_bucket is not None:
        if stats is not None:
            _overcap_light(
                buckets.filter(F.size("_ids") > max_bucket),
                F.size("_ids"), stats)
        buckets = buckets.filter(F.size("_ids") <= max_bucket)
    elif stats is not None:
        _zero_light(stats)
    return _spread_pairs(
        buckets.select(F.explode("_ids").alias("a"), "_ids")
        .select("a", F.explode("_ids").alias("b"))
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
    ).distinct()


def _probe_candidates(
    old_idx: DataFrame,
    new_idx: DataFrame,
    keys: list,
    id_col: str,
    max_bucket: int | None,
    stats: dict | None,
) -> DataFrame:
    """Distinct ``(a, b)`` candidates of a banded-index probe — ``a``
    an old id, ``b`` a new id sharing a bucket ``keys`` value — the
    incremental candidate core of :func:`lsh_incremental_pairs` and
    :func:`hyperplane_incremental_pairs` (:func:`_bucket_pairs` is the
    batch one).

    The old index is scanned, never shuffled: a LEFT SEMI join against
    the broadcast new-side keys keeps only the buckets the batch
    probes (duplicate build keys are harmless in a semi join, so no
    distinct). Over-cap probed buckets drop through
    :func:`_drop_overcap`. ``stats`` gets the new-side skew light and the over-cap light, each
    a separate action that never touches the returned plan.

    The surviving old rows join the broadcast batch signatures, the
    pairs spread over the cores (:func:`_spread_pairs`, whose exchange
    becomes the distinct's own) and the result is ``localCheckpoint``-
    ed once: the verify reads it three times (the pair join and both
    id sets), and with the cap on it is bounded by cap x batch-bucket
    size."""
    if stats is not None:
        _new_skew_light(new_idx, keys, stats)
    old_matched = _drop_overcap(old_idx.join(
        F.broadcast(new_idx.select(*keys)), keys, "left_semi"),
        keys, max_bucket, stats)
    pairs = old_matched.join(
        F.broadcast(new_idx.withColumnRenamed(id_col, "_new_id")), keys
    ).select(F.col(id_col).alias("a"), F.col("_new_id").alias("b"))
    return _spread_pairs(pairs).distinct().localCheckpoint(eager=True)


def _suspected(rows: DataFrame, cand: DataFrame, side: str, id_col: str,
               max_bucket: int | None) -> DataFrame:
    """``rows`` pruned to the ids on ``side`` ("a" or "b") of the
    checkpointed candidates, for the exact verify. The id set is
    broadcast when the cap bounds it: left to AQE the semi join can
    plan as a sort-merge and shuffle the WHOLE corpus on the id (the
    plan audit caught exactly that after a checkpoint upstream shifted
    the runtime stats). With ``max_bucket=None`` one hot bucket can
    make the candidates O(corpus), so the hint would force an
    unbounded broadcast — that case is left to AQE."""
    ids = cand.select(F.col(side).alias(id_col))
    if max_bucket is not None:
        ids = F.broadcast(ids)
    return rows.join(ids, id_col, "left_semi")


def _exact_cos_verify(cand: DataFrame, emb_a: DataFrame, emb_b: DataFrame,
                      id_col: str, threshold: float) -> DataFrame:
    """(a, b, cos >= threshold) for the ``(a, b)`` candidates, with
    ``a`` looked up in ``emb_a`` and ``b`` in ``emb_b`` — the one
    exact-cosine verify of the hyperplane family
    (:func:`hyperplane_lsh_pairs` passes its corpus twice,
    :func:`hyperplane_incremental_pairs` the :func:`_suspected` old
    and new sides). Norms are computed ONCE per vector and ride the
    join, so each pair pays one interpreted-HOF traversal (the dot)
    instead of three — pairs outnumber vectors by ~b*occupancy/2
    (~100x on the gated fixture). A NULL/absent embedding yields NULL
    cos and is dropped by the threshold filter; returned pair order is
    irrelevant (every gated caller sorts; the operator contract is an
    unordered pair set)."""
    from .similarity import dot, norm

    def side(emb: DataFrame, s: str) -> DataFrame:
        return emb.select(
            F.col(id_col).alias(s),
            F.col("embedding").alias(f"_e{s}"),
            norm(F.col("embedding")).alias(f"_n{s}"),
        )

    return (
        cand.join(side(emb_a, "a"), "a").join(side(emb_b, "b"), "b")
        .select(
            "a", "b",
            F.round(
                F.try_divide(dot(F.col("_ea"), F.col("_eb")),
                             F.col("_na") * F.col("_nb")),
                6,
            ).alias("cos"),
        )
        .filter(F.col("cos") >= F.lit(threshold))
    )


def hyperplane_lsh_pairs(
    emb: DataFrame,
    bands: int = 6,
    bits_per_band: int = 6,
    threshold: float = 0.9,
    max_bucket: int | None = 1024,
    dim: int | None = None,
    stats: dict | None = None,
    sizing: str | None = None,
    id_col: str = "vec_id",
) -> DataFrame:
    """Banded random-hyperplane LSH near-dup pairs over an embedding
    column: candidates from the batch core :func:`_bucket_pairs`
    over the corpus's :func:`hyperplane_build_index` band table (the
    table :func:`lsh_candidate_pairs` reads is the MinHash one), then
    the exact-cosine verify :func:`_exact_cos_verify` (Charikar 2002
    SimHash rounding; the banding is the standard MinHash-LSH
    amplification applied to hyperplane bits).

    Why it exists (measured with ``scripts/recall_probe.py --mode
    sign`` and ``--mode hyperplane``, BASELINE.md Round 12):
    the single-band :func:`embedding_near_dup_pairs` holds recall only
    for near-exact duplicates — at 1.05M vectors its adaptive 16-bit
    bucket caught 3/20 planted cos-0.93 pairs, because one k-bit
    band's recall is ``p^k`` and k must grow with n for occupancy.
    Banding restores the S-curve: ``bands`` independent chances of
    ``bits_per_band`` bits each, recall ``1 - (1 - p^r)^b``
    (:func:`hyperplane_band_recall`), sized by
    :func:`suggest_hyperplane_sizing` — measured 20/20 at the same
    1.05M corpus with the auto-derived (30, 15).

    Mechanics: the signature pass is :func:`hyperplane_build_index`'s
    (plan-time ±1 hashlib coefficients, integer-micro dots as
    map-side partial sums; see there). Band value = the r-bit sign
    pattern of its dots; :func:`_bucket_pairs` does one aggregation,
    the cap filter + ``stats`` warning light, the in-bucket pair
    explosion and the distinct, followed by an exact-cosine verify
    ``>= threshold``. Returns ``(a, b, cos)`` with a < b, cosine
    rounded to 6 places (the llm05 compare convention).

    Scale shape: the explode is scan-side (n*dim narrow rows, never
    wider than (id, pos, q)), partial aggregation collapses them to
    n rows of b*r longs before the only data-sized shuffles — the
    dot groupBy and the bucket groupBy (key = r-bit string + band
    index, uniform by construction) — plus the two id-keyed embedding
    rejoins for the verify. Candidate volume ~``n * b *
    target_bucket / 2`` — linear in n at constant occupancy, never
    all-pairs. ``dim`` (the hyperplane dimensionality / signs-table
    height) defaults to the corpus-wide MINIMUM width over NON-EMPTY
    embeddings (one narrow aggregate — empty/null rows are excluded
    from the inference); rows shorter than ``dim`` contribute only the
    coordinates they have (inner join on pos — deterministic in both
    engines), rows longer use their leading ``dim``. Sizings above
    4096 total bits are refused with the JL-projection remedy named
    (compose with llm34's ``random_projection``) — at that point the
    S-curve parameters are fighting the data, not indexing it.
    Empty/zero-width embeddings produce no dot rows and are excluded
    from candidates (they cannot be near anything at cosine >= 0).

    ``sizing="auto"`` derives (bands, bits_per_band) from one
    ``approx_count_distinct`` action via
    :func:`suggest_hyperplane_sizing` at ``threshold``, with the
    occupancy target tightened to the caller's ``max_bucket`` when
    that is below the default 32; ``stats`` then also receives the
    chosen sizing.
    """
    if sizing is not None:
        if sizing != "auto":
            raise ValueError(f"sizing must be None or 'auto', got {sizing!r}")
        n_vecs = int(
            emb.agg(F.approx_count_distinct(id_col).alias("n"))
            .collect()[0]["n"]
        )
        # derive occupancy against the CALLER's cap, not just the
        # default 32: a cap below the derivation target would
        # otherwise wholesale-drop TYPICAL buckets; the 2σ HLL
        # buffer because the 1.05M probe's estimate was 8% low and
        # landed (30,15) vs exact-n's (35,16) — recall survived on
        # margin, not design
        bands, bits_per_band = suggest_hyperplane_sizing(
            hll_buffered_count(n_vecs), threshold=threshold,
            target_bucket=min(32, max_bucket) if max_bucket is not None
            else 32)
        if stats is not None:
            stats["bands"] = bands
            stats["bits_per_band"] = bits_per_band
            stats["n_vecs_estimate"] = n_vecs
            stats["n_vecs_sized_for"] = hll_buffered_count(n_vecs)
    index = hyperplane_build_index(emb, bands, bits_per_band, dim, id_col)
    cands = _bucket_pairs(index, ["band", "bits"], id_col, max_bucket, stats)
    return _exact_cos_verify(cands, emb, emb, id_col, threshold)


def hyperplane_build_index(
    emb: DataFrame,
    bands: int = 6,
    bits_per_band: int = 6,
    dim: int | None = None,
    id_col: str = "vec_id",
) -> DataFrame:
    """Banded-hyperplane bucket table of an embedding corpus —
    (vec_id, band, bits), one row per (vector, band); the signature
    pass of every hyperplane path (:func:`hyperplane_lsh_pairs` and
    both sides of :func:`hyperplane_incremental_pairs`), the
    cosine-family counterpart of :func:`lsh_build_index` and the
    near-dup analogue of the ANN family's ``ivf_assign``/``pq_encode``
    artifacts. Built once over the historical corpus (b·r integer-sum
    dots per vector, the expensive pass), written ``partitionBy
    ("band")``; every future embedding batch probes it through
    :func:`hyperplane_incremental_pairs` without re-signing or
    re-shuffling the corpus.

    Hyperplane (band, bit) is the ±1 vector
    ``_hyperplane_sign(band, bit, j)`` over dims j — coefficients are
    plan-time ``hashlib.md5`` literals shared verbatim with the SQL
    oracle. The dot products are computed the llm02 explode→groupBy
    way, NOT as one unrolled b*r*dim projection: the first cut
    unrolled 2304 literal terms into every stage that touched the
    signature, and each CALL then paid 10-15 s of janino on multi-MB
    generated sources whose fresh exprIds defeat the codegen cache —
    a per-plan cost, independent of data size, that made the 2060-row
    gated query cost 22 s. This form posexplodes the embedding
    (quantized to exact integer micros, ``floor(val*1e6)`` — the
    llm30 device, so the sums commute and both engines agree
    bit-for-bit with NO ordering contract), broadcast-joins a dim-row
    ±1 signs table, and computes all ``b*r`` dots as map-side partial
    integer SUMs — generated code is O(b*r), the shuffle carries one
    row of b*r longs per vector, and the per-call plan cost is
    milliseconds.

    RECORD THE ``dim`` YOU BUILD WITH: unlike bands (``max(band)+1``)
    and bits (``length(bits)``), the hyperplane dimensionality is not
    recoverable from the table, and probing with a different dim
    signs different coordinates — the probe requires it explicitly
    (the ``shingle`` contract of :func:`lsh_incremental_pairs`).
    ``dim=None`` infers the corpus MIN non-empty width."""
    _check_hyperplane_sizing(bands, bits_per_band)
    if dim is None:
        dim = _infer_embedding_dim(emb)
    if dim < 1:
        raise ValueError(f"embedding dim must be >= 1, got {dim}")
    n_bits = bands * bits_per_band
    # signs table: dim rows x (pos, s_0..s_{b*r-1}) — tiny, broadcast.
    # The plan-time hashlib literals live HERE (and verbatim in the
    # SQL oracle), not unrolled into per-stage expressions. Memoized
    # per (session, sizing, dim) so repeated calls share ONE plan
    # node — keeps the stats-on/off plans byte-identical
    # (sameSemantics-pinned) and skips the rebuild.
    spark = emb.sparkSession
    s_cols = [f"s_{k}" for k in range(n_bits)]
    per_session = _SIGNS_CACHE.setdefault(spark, {})
    cache_key = (bands, bits_per_band, dim)
    signs = per_session.get(cache_key)
    if signs is None:
        sign_rows = [
            (j, *[_hyperplane_sign(b, r, j)
                  for b in range(bands) for r in range(bits_per_band)])
            for j in range(dim)
        ]
        if dim * (n_bits + 1) <= 200_000:
            # literal VALUES -> LocalRelation: the broadcast build runs
            # driver-side with NO job at all. The createDataFrame form
            # is a Python ParallelCollectionRDD, and every broadcast
            # build of it launched a defaultParallelism-task stage
            # whose tasks each blocked ~0.2 s on a Python worker
            # round-trip — measured 7.6 s executorRunTime (0.35 s
            # wall) PER RUN on llm39, twice per run on llm41. Literal
            # count is bounded by the _check_hyperplane_sizing
            # envelope at typical dims; the guard keeps a huge
            # (dim x bits) sizing off the SQL parser and on the
            # pickle path instead.
            values_sql = ", ".join(
                "(" + ", ".join(str(v) for v in row) + ")"
                for row in sign_rows
            )
            cols = ", ".join(["pos"] + s_cols)
            signs = spark.sql(
                f"SELECT * FROM VALUES {values_sql} AS hp({cols})"
            )
        else:
            signs = spark.createDataFrame(
                sign_rows,
                ", ".join(["pos int"] + [f"{c} int" for c in s_cols]),
            )
        per_session[cache_key] = signs
    # quantize to exact integer micros (llm30): integer sums commute,
    # so the groupBy needs no ordering contract and both engines
    # agree bit-for-bit on every sign decision
    ex = (
        spread_for_compute(emb)
        .select(F.col(id_col), F.posexplode("embedding").alias("pos", "_v"))
        .filter(F.col("pos") < dim)
        .select(
            id_col, "pos",
            F.floor(F.col("_v").cast("double") * F.lit(1_000_000.0))
            .cast("bigint").alias("_q"),
        )
    )
    dots = (
        ex.join(F.broadcast(signs), "pos")
        .groupBy(id_col)
        .agg(*[F.sum(F.col(c) * F.col("_q")).alias(f"d_{k}")
               for k, c in enumerate(s_cols)])
    )
    return _band_table(dots, id_col, (bands, bits_per_band), lambda b: [
        F.concat(*[
            F.when(F.col(f"d_{b * bits_per_band + r}") >= 0, F.lit("1"))
            .otherwise(F.lit("0"))
            for r in range(bits_per_band)
        ]).alias("bits")])


def hyperplane_incremental_pairs(
    emb_new: DataFrame,
    emb_old: DataFrame,
    index: DataFrame,
    dim: int | None = None,
    threshold: float = 0.9,
    max_bucket: int | None = 1024,
    stats: dict | None = None,
    id_col: str = "vec_id",
    new_index: DataFrame | None = None,
) -> DataFrame:
    """Embedding near-dup pairs of a NEW batch against an EXISTING
    corpus — returns ``(a, b, cos)`` with ``a`` an old vec_id, ``b``
    a new vec_id, exact cosine ``>= threshold`` (rounded to 6, the
    llm05 convention). Only new-vs-old pairs, the corpus side served
    from ``index``, its prebuilt :func:`hyperplane_build_index`
    table; the candidates come from the incremental core
    :func:`_probe_candidates` (shared with
    :func:`lsh_incremental_pairs`), the batch table from
    :func:`hyperplane_build_index` too, and the score from
    :func:`_exact_cos_verify`.

    Geometry contract (the PQ/lsh-index discipline): bands
    (``max(band)+1``) and bits_per_band (``length(bits)``) are read
    from the table in ONE memoized metadata aggregate (weak-keyed per
    index object — a per-micro-batch caller pays it once). ``dim`` is
    NOT recoverable and must be passed explicitly — a silent dim
    drift would sign different coordinates on the probe side and
    quietly zero recall. Old/new id spaces must be disjoint (the
    verify distinguishes sides by id).

    Physical shape (:func:`_probe_candidates`) — the index is scanned,
    never shuffled (broadcast new-keys semi filter; map-side partial
    membership counts; broadcast anti-join cap on OLD membership among
    PROBED buckets, output-identical to the corpus-wide cap since
    unmatched buckets contribute nothing; ``stats`` light reports
    probed-bucket drops plus ``new_max_bucket``, the new-side skew
    light — the cap never touches batch members, so a hot ingest
    bucket announces itself instead of silently multiplying
    candidates; one checkpointed candidate set); the exact-cosine
    verify joins embeddings left-semi-pruned to suspected ids, norms
    precomputed per vector (the llm39 device). Serve real traffic
    from a written (or persisted) index table: an index passed as an
    unpersisted lineage re-computes per consumer.

    ``new_index`` mirrors :func:`lsh_incremental_pairs`'s: the
    NEW batch's own precomputed (and persisted/checkpointed)
    :func:`hyperplane_build_index` table, skipping the batch
    signature pass here — the job-overlap callers compute it on a
    worker thread while the corpus index writes (guide §2.6). It must
    be built with the SAME (bands, bits_per_band, dim) as ``index``;
    bands/bits are validated raise-on-mismatch (free via the
    build-site geometry cache, else one narrow aggregate on the tiny
    batch table); ``dim`` is undetectable, as everywhere. Consumed
    as-is — persist or checkpoint it first (:func:`checkpoint_index`),
    or its lineage recomputes per consumer."""
    if dim is None:
        raise ValueError(
            "dim is part of the index geometry and is not "
            "recoverable from the table — pass the dim the index "
            "was built with (hyperplane_build_index records it in "
            "its docstring contract)")
    geom = _hyperplane_index_geometry(index)
    new_idx = _batch_index(
        new_index, geom, _hyperplane_index_geometry,
        lambda: hyperplane_build_index(emb_new, *geom, dim, id_col),
        "hyperplane_build_index at the same (bands, bits_per_band, dim)")
    cand = _probe_candidates(index, new_idx, ["band", "bits"], id_col,
                             max_bucket, stats)
    return _exact_cos_verify(
        cand, _suspected(emb_old, cand, "a", id_col, max_bucket),
        _suspected(emb_new, cand, "b", id_col, max_bucket), id_col,
        threshold)


def _candidate_sets(docs: DataFrame, candidates: DataFrame,
                    shingle: int) -> DataFrame:
    """``(a, b, sa, sb)``: each candidate pair with the distinct
    ``shingle``-gram sets of its two docs — the shared input of the
    exact verify scores (:func:`jaccard_pairs`,
    :func:`containment_pairs`)."""
    sets = spread_for_compute(docs).select(
        "doc_id",
        F.array_distinct(shingle_strings(F.col("text"), shingle)).alias("s"),
    )
    return (
        candidates.join(sets.withColumnRenamed("doc_id", "a"), "a")
        .withColumnRenamed("s", "sa")
        .join(
            sets.withColumnRenamed("doc_id", "b").withColumnRenamed("s", "sb"),
            "b",
        )
    )


def jaccard_pairs(
    docs: DataFrame,
    candidates: DataFrame,
    shingle: int = 1,
    threshold: float = 0.8,
) -> DataFrame:
    """Exact n-gram Jaccard over the ``(a, b)`` candidate pairs (an
    LSH pass: :func:`lsh_candidate_pairs`, :func:`_probe_candidates`).

    Jaccard computed set-wise: |A ∩ B| / |A ∪ B| over distinct
    shingles. Both sets are ``array_distinct``, so the union's size is
    |A| + |B| - |A ∩ B| exactly and only the intersection is built.
    A pair with an empty intersection scores 0.0, and so does a NULL
    or empty text or one with fewer than ``shingle`` tokens.
    """
    inter = F.size(F.array_intersect(F.col("sa"), F.col("sb")))
    union = F.size(F.col("sa")) + F.size(F.col("sb")) - inter
    # inter > 0 implies both sets are non-NULL and non-empty, whatever
    # size(NULL) returns under the session's ANSI setting
    jac = F.when(inter > 0, inter / union).otherwise(F.lit(0.0))
    return (
        _candidate_sets(docs, candidates, shingle)
        .select("a", "b", F.round(jac, 6).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def lsh_build_index(
    docs: DataFrame,
    bands: int = 2,
    rows_per_band: int = 2,
    shingle: int = 1,
) -> DataFrame:
    """Banded MinHash bucket table for an EXISTING corpus — the
    durable incremental-dedup artifact (doc_id, band, r0..r{r-1}),
    one row per (doc, band).

    This is the near-dup analogue of the ANN family's index artifacts
    (:func:`~..operators.similarity.ivf_assign` /
    :func:`~..operators.similarity.pq_encode`): at 100 TB the index
    is built ONCE over the historical corpus (b·r minhashes per doc,
    the expensive pass) and written next to it — ``partitionBy
    ("band")`` plus parquet ``bucketBy`` on the ``r*`` columns, so
    every probe batch joins co-located. Each ingest batch then pays
    only ITS OWN signatures (:func:`lsh_incremental_pairs`), never a
    full-corpus re-shuffle — the production dedup pattern: new data
    is deduped AGAINST the corpus, the corpus is not re-deduped.

    It is the one MinHash band table: :func:`lsh_candidate_pairs`
    builds it in-line for its batch core, and both sides of
    :func:`lsh_incremental_pairs` read it. Plain columns, so the table
    is parquet-writable and partition-prunable. ``shingle`` is part of
    the index geometry but not recoverable from the schema — callers
    own passing the same value at probe time (documented on
    :func:`lsh_incremental_pairs`; bands/rows are read there from the
    table itself)."""
    if bands < 1 or rows_per_band < 1:
        raise ValueError("bands and rows_per_band must be >= 1")
    sig = minhash_signatures(
        docs, num_hashes=bands * rows_per_band, shingle=shingle)
    return _band_table(sig, "doc_id", (bands, rows_per_band), lambda b: [
        F.col(f"mh{b * rows_per_band + r}").alias(f"r{r}")
        for r in range(rows_per_band)])


def checkpoint_index(index: DataFrame) -> DataFrame:
    """Eagerly ``localCheckpoint`` an index table
    (:func:`lsh_build_index` / :func:`hyperplane_build_index`
    output), carrying the build-site
    geometry-cache seed through — ``localCheckpoint`` returns a NEW
    DataFrame object, so without this the probe's raise-on-mismatch
    validation would re-pay the metadata aggregate (one extra driver
    action per batch). Used by the job-overlap callers (guide
    §2.6): the new batch's signature pass is checkpointed on a worker
    thread while the corpus index writes on another."""
    out = index.localCheckpoint(eager=True)
    geom = _INDEX_GEOM_CACHE.get(index)
    if geom is not None:
        _INDEX_GEOM_CACHE[out] = geom
    return out


def lsh_incremental_pairs(
    docs_new: DataFrame,
    docs_old: DataFrame,
    index: DataFrame,
    shingle: int = 1,
    threshold: float = 0.5,
    max_bucket: int | None = 64,
    stats: dict | None = None,
    new_index: DataFrame | None = None,
) -> DataFrame:
    """Near-dup pairs of NEW documents against an EXISTING corpus —
    returns ``(a, b, jaccard)`` with ``a`` an old doc_id, ``b`` a new
    doc_id, exact shingle-Jaccard ``>= threshold``. Only new-vs-old
    pairs: old-vs-old was settled when the corpus was deduped, and
    new-vs-new belongs to the batch's own :func:`lsh_candidate_pairs`
    pass. llm22's exact digest anti-join at near-dup (MinHash)
    granularity: candidates from the incremental core
    :func:`_probe_candidates` over two :func:`lsh_build_index` band
    tables (corpus and batch), scored by :func:`jaccard_pairs`.

    ``index`` is the corpus's prebuilt :func:`lsh_build_index` table —
    the scale API: the old-corpus signature pass is never paid here.
    Following the PQ contract, index GEOMETRY is read from the table,
    never trusted from the caller: ``rows_per_band`` from the ``r*``
    schema columns (free), ``bands`` from ``max(band)+1`` (one narrow
    metadata aggregate, memoized per index object). ``shingle`` cannot
    be read from the schema — the caller owns passing the build-time
    value, or the probe signatures hash different shingles and recall
    silently dies. Serve real traffic from a written table
    (``lsh_build_index(...).write...`` then
    ``index=spark.read.parquet(...)``) or at least a persisted frame:
    the probe consumes the index twice (matched join + membership
    counts), so an unpersisted lineage re-computes the corpus minhash
    pass per consumer — the gated llm40 measured 7.3 s that way vs
    ~3 s through parquet on a 5k-doc fixture.

    ``new_index`` accepts the NEW batch's own precomputed (and
    persisted/checkpointed) :func:`lsh_build_index` table, skipping
    the batch signature pass here — the absorbing lifecycle (st10)
    computes it ONCE and feeds both the probe and
    :func:`lsh_index_absorb`, instead of paying the minhash pass
    twice per batch (``scripts/recall_probe.py --mode text-absorb`` at
    a 5M corpus measured the second pass at ~10 s/batch, BASELINE.md
    Round 14). It must be built with the SAME
    (bands, rows_per_band, shingle) as ``index``: the ``r*`` column
    layout AND the band count are validated against the index
    geometry (raise-on-mismatch — the band count comes free from the
    build-site geometry cache, or one narrow aggregate on the tiny
    batch table); ``shingle`` alone is undetectable, as everywhere.
    When given, it is consumed as-is: persist or checkpoint it first,
    or its lineage recomputes per consumer (it feeds the semi filter,
    the candidate join and the opt-in stats light).

    Physical shape at 100 TB (:func:`_probe_candidates`, shared with
    :func:`hyperplane_incremental_pairs`) — the old index is NEVER
    shuffled, only scanned: the probe broadcasts the new batch's
    (tiny) bucket keys into the index scan (a map-side left-semi
    filter — the llm03 member-list groupBy would re-shuffle the whole
    index per batch, the exact cost this operator exists to avoid),
    counts old membership per MATCHED bucket with map-side partial
    counts (only (key, count) rows cross the wire — a hot bucket
    shuffles one partial per task, not its members), drops over-cap
    buckets via a broadcast anti-join, and only then joins the new
    batch's signatures to explode candidates, which are spread over
    the cores, made distinct and checkpointed once. Unmatched over-cap
    buckets produce no candidates anyway, so capping only matched
    buckets is output-identical to the oracle's corpus-wide HAVING
    cap; the ``stats`` light accordingly reports over-cap among PROBED
    buckets (same separate-action contract as every other light).
    The cap applies to OLD-side membership only — a hot bucket in
    the corpus would explode EVERY future batch. The NEW side is
    deliberately uncapped (dropping batch members would silently
    skip dedup for them); ``stats`` instead carries
    ``new_max_bucket`` — the max new-side bucket occupancy — so a
    pathological ingest batch (candidate volume = cap x batch-bucket
    size) announces itself. The exact-Jaccard verify re-reads text
    ONLY for suspected ids — both sides are left-semi-joined to the
    checkpointed candidates' id columns before :func:`jaccard_pairs`,
    so the 100 TB text scan is pruned to the candidate neighborhood
    (scan-side id pushdown), not the corpus.

    Contract: old and new doc_id spaces must be DISJOINT (the verify
    join distinguishes sides by id, the llm22 convention — new ids
    collide with old ids would cross-wire the shingle sets).
    """
    geom = _minhash_index_geometry(index)
    new_idx = _batch_index(
        new_index, geom, _minhash_index_geometry,
        lambda: lsh_build_index(docs_new, *geom, shingle),
        "lsh_build_index at the same (bands, rows_per_band, shingle)")
    keys = ["band"] + [f"r{r}" for r in range(geom[1])]
    cand = _probe_candidates(index, new_idx, keys, "doc_id", max_bucket,
                             stats)
    verify_docs = (
        _suspected(docs_old, cand, "a", "doc_id", max_bucket)
        .select("doc_id", "text")
        .unionByName(_suspected(docs_new, cand, "b", "doc_id", max_bucket)
                     .select("doc_id", "text"))
    )
    return jaccard_pairs(
        verify_docs, cand, shingle=shingle, threshold=threshold)


def lsh_index_absorb(
    docs_new: DataFrame,
    index_path: str,
    corpus_path: str,
    index_rows: DataFrame,
) -> None:
    """ABSORB an ingest batch into the durable near-dup index — the
    third leg of the incremental-dedup lifecycle (build → probe →
    absorb). Appends ``index_rows``, the batch's own
    :func:`lsh_build_index` band table (the one the caller already
    built for the probe's ``new_index``), into the standing
    ``partitionBy("band")`` parquet index, and the batch's
    ``(doc_id, text)`` rows into the corpus table the verify step
    reads. After the absorb, the NEXT batch's
    :func:`lsh_incremental_pairs` probe sees this batch as part of
    "old" — new data dedups against corpus AND all earlier ingest,
    without any operator ever re-shuffling either.

    Caller contract (the foreachBatch shape, see the gated st10):
    probe FIRST, absorb AFTER — the probe must see the index as of
    before this batch, or the batch's own rows alias its self-pairs.
    Within-batch pairs are the batch's own
    :func:`lsh_candidate_pairs` pass, not this function's concern.

    Geometry is the caller's to keep constant: ``index_rows`` MUST
    use the same (bands, rows_per_band, shingle) as the standing
    index — a mismatched append poisons the table silently (the
    ``r*`` column check in the probe only sees the merged schema). At
    100 TB the practical concerns are the ones any append-mostly
    table has, not new ones: per-batch appends create one small file
    per band per batch, so compact periodically (rewrite one
    ``band=`` partition at a time — the partitioning makes compaction
    embarrassingly parallel; a plain-parquet directory swap is not
    atomic, so run it while no probe lists the index), and the
    probe's ``max(band)`` geometry aggregate stays O(metadata). The
    corpus append is plain row data; the probe's verify only ever
    reads it pruned to suspected ids, so corpus file count affects
    listing, not scan.
    """
    # two independent appends to disjoint tables — overlapped driver
    # threads (guide §2.6): the index append's planning/commit gap
    # hides behind the corpus append's tasks
    from .util import run_overlapped

    run_overlapped(
        lambda: index_rows.write.mode("append").partitionBy("band")
        .parquet(index_path),
        lambda: docs_new.select("doc_id", "text").write
        .mode("append").parquet(corpus_path),
    )


def containment_pairs(
    docs: DataFrame,
    candidates: DataFrame,
    shingle: int = 3,
    threshold_ppm: int = 800_000,
) -> DataFrame:
    """ASYMMETRIC shingle containment over candidate pairs — the
    near-dup relation Jaccard misses: a short document quoted whole
    inside a long one has tiny Jaccard (union is the long doc) but
    containment ≈ 1. Used for quote/subset-duplication detection in
    training-data curation (the scale path shares
    :func:`lsh_candidate_pairs`' banded buckets, so only candidate
    pairs — not all pairs — are scored).

    Emits both directions as exact-integer ppm:
    ``cont_a_ppm = floor(|A∩B| * 1e6 / |A|)`` (how much of A is inside
    B) and symmetrically ``cont_b_ppm``; keeps pairs where either
    direction >= ``threshold_ppm``. Operands are cast to double
    BEFORE the multiply (products stay < 2^53, single IEEE
    multiply/divide/floor — bit-identical cross-engine, no ROUND).
    """
    # LSH candidates always carry >=1 shingle per side; the guard makes
    # the operator total for arbitrary candidate sets (no div-by-zero).
    pairs = _candidate_sets(docs, candidates, shingle).filter(
        (F.size("sa") > 0) & (F.size("sb") > 0))
    inter = F.size(F.array_intersect(F.col("sa"), F.col("sb"))).cast("double")
    ppm = lambda size_col: F.floor(  # noqa: E731 — local expression builder
        inter * F.lit(1000000.0) / F.size(size_col).cast("double")
    ).cast("bigint")
    scored = pairs.select(
        "a", "b",
        ppm(F.col("sa")).alias("cont_a_ppm"),
        ppm(F.col("sb")).alias("cont_b_ppm"),
    )
    return scored.filter(
        F.greatest("cont_a_ppm", "cont_b_ppm") >= F.lit(threshold_ppm)
    )


def contamination_scores(
    corpus: DataFrame, benchmark: DataFrame, shingle: int = 3
) -> DataFrame:
    """Benchmark-contamination sweep: for each corpus doc, the fraction
    of its DISTINCT word n-gram shingles that appear anywhere in the
    benchmark set (the standard eval-leakage check run before
    training).

    Scale design: benchmark suites are small by construction (a few
    thousand docs even for large eval batteries), so the distinct
    benchmark shingle set is collected into a BROADCAST hash side;
    the corpus side explodes to (doc_id, shingle) rows — narrow, no
    text bodies — probes the broadcast map-side (zero shuffle), and
    re-aggregates per doc_id. The only shuffle is the final count
    agg keyed by doc_id, with map-side partial aggregation. Docs with
    fewer than ``shingle`` words carry no signal and are dropped.
    """
    bench_sh = (
        benchmark.select(
            F.explode(shingle_strings(F.col("text"), shingle)).alias("s")
        )
        .distinct()
        .withColumn("bhit", F.lit(1))
    )
    corpus_sh = (
        spread_for_compute(corpus)
        .select(
            "doc_id",
            F.explode(
                F.array_distinct(shingle_strings(F.col("text"), shingle))
            ).alias("s"),
        )
    )
    return (
        corpus_sh.join(F.broadcast(bench_sh), "s", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.coalesce(F.sum("bhit"), F.lit(0)).alias("n_hit"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_hit",
            F.round(F.col("n_hit") / F.col("n_shingles"), 6).alias(
                "contamination"
            ),
        )
    )


def incremental_new_docs(
    docs_new: DataFrame, docs_old: DataFrame
) -> DataFrame:
    """Cross-snapshot incremental dedup: the exact-dedup groups of the
    NEW snapshot whose content never appeared in the OLD snapshot —
    the "what do I actually add to the corpus this crawl" query.

    Scale design: both sides reduce to 32-byte md5 fingerprints before
    any join, so the anti-join shuffles fingerprints, never document
    bodies — and the new side collapses to its :func:`exact_dedup`
    groups FIRST, so the anti-join sees one row per distinct fp
    instead of one per document. The old side is NOT broadcast — at
    100 TB the previous snapshot is the big side; a shuffled hash
    anti-join on the uniformly-distributed fp key is the right plan
    (AQE picks the build side).
    """
    old_fp = docs_old.select(F.md5(F.col("text")).alias("fp")).distinct()
    return exact_dedup(docs_new).join(old_fp, "fp", "left_anti")


def _bloom_bit(j: int, m_bits: int) -> Column:
    """Bit position of hash function ``j`` for the ``fp`` column:
    ``pmod(xxhash64('j:' || fp), m_bits)`` — pmod (not %) keeps
    xxhash64's negative half in [0, m_bits). The ONE definition both
    :func:`bloom_words` (build) and :func:`bloom_probe` (probe) use:
    if the two ever drifted, a truly-old fp could probe False and be
    emitted unverified through the definitely-new fast path — a silent
    duplicate. Output equivalence to the plain anti-join
    survives ANY agreed bit function; agreement is what this helper
    makes structural."""
    return F.pmod(
        F.xxhash64(F.concat(F.lit(f"{j}:"), F.col("fp"))), F.lit(m_bits)
    )


def _bloom_word_mask(bit: Column, m_bits: int) -> tuple[Column, Column]:
    """(word index, single-bit mask) for a bit position: ``w = bit >>
    6`` and ``mask = 1L << (bit % 64)``. The helper pmods ``bit`` into
    [0, m_bits) itself (idempotent for :func:`_bloom_bit` output, one
    cheap modulo otherwise), so the non-negativity the shiftright
    word-index math needs is STRUCTURAL, not a docstring precondition:
    a future caller passing a raw xxhash64 value can no longer
    silently corrupt word indices and break the no-false-negative
    guarantee. Shared build/probe helper — see
    :func:`_bloom_bit`."""
    bit = F.pmod(bit, F.lit(m_bits))
    return (
        F.shiftright(bit, 6),
        F.call_function(
            "shiftleft", F.lit(1).cast("long"), (bit % 64).cast("int")
        ),
    )


def bloom_words(fps: DataFrame, m_bits: int, k: int) -> DataFrame:
    """Bloom-filter bitmap over an ``fp`` column as a SPARSE table of
    set 64-bit words ``(w, word)``, built entirely from DataFrame ops
    (no driver loop, no UDF): each fp sets ``k`` bits (bit_j =
    pmod(xxhash64(j || ':' || fp), m)). The build is one narrow agg —
    explode to (word, mask), groupBy(word) bit_or — with map-side
    partial OR, so its shuffle carries at most min(k*n, m/64) rows of
    16 bytes; the result is a bounded SKETCH (≤ m_bits/8 bytes dense,
    sized like any sketch parameter) that broadcasts as a hash-join
    build side.

    Representation lesson (measured at 5M docs): a one-row
    map<w, word> column probed via ``element_at`` evaluated the probe
    as a LINEAR scan of the map per lookup (ArrayBasedMapData has no
    hash index) — 108 s vs the plain anti-join's 1.5 s. The sparse
    words TABLE probed through broadcast hash joins gets the O(1)
    lookup from the join's hash table instead.

    Spark's own runtime-filter optimization builds exactly this shape
    (BloomFilterAggregate / might_contain) for eligible joins, but
    those expressions are internal-only (absent from the public
    function registry); this is the same pattern made
    explicit, tunable, and reusable across stages.
    """
    w, mask = _bloom_word_mask(F.col("bit"), m_bits)
    return (
        fps.select(
            F.explode(
                F.array(*[_bloom_bit(j, m_bits) for j in range(k)])
            ).alias("bit")
        )
        .select(w.alias("w"), mask.alias("mask"))
        .groupBy("w")
        .agg(F.bit_or("mask").alias("word"))
    )


def bloom_probe(
    df: DataFrame,
    words: DataFrame,
    m_bits: int,
    k: int,
    flag: str = "_maybe",
) -> DataFrame:
    """Adds boolean ``flag``: all ``k`` of this row's ``fp`` bits are
    set in the sketch. One broadcast LEFT hash join per hash function
    against the sparse words table — every probe is an O(1) hash
    lookup on the map side, no shuffle of ``df``; an absent word
    reads as 0 (coalesce), so probing an empty sketch is cleanly
    False. The bit/word/mask expressions come from the SAME helpers
    the build uses (:func:`_bloom_bit`/:func:`_bloom_word_mask`), so
    build/probe agreement — the no-false-negative guarantee — holds
    by construction."""
    temps = {f"_{p}{j}" for j in range(k) for p in ("w", "m", "word")}
    if flag in temps:
        # a flag named like a temp column would be silently dropped by
        # the cleanup below, returning a frame with NO flag at all
        raise ValueError(
            f"bloom_probe flag {flag!r} collides with its own temp "
            "column names — pick a name outside _w{j}/_m{j}/_word{j}"
        )
    clash = sorted(({flag} | temps) & set(df.columns))
    if clash:
        raise ValueError(
            f"bloom_probe temp/flag columns collide with input: {clash} "
            "— rename the input columns or pass a different flag name"
        )
    out = df
    flags = []
    for j in range(k):
        w, mask = _bloom_word_mask(_bloom_bit(j, m_bits), m_bits)
        out = out.withColumn(f"_w{j}", w).withColumn(f"_m{j}", mask)
        out = out.join(
            F.broadcast(
                words.select(
                    F.col("w").alias(f"_w{j}"),
                    F.col("word").alias(f"_word{j}"),
                )
            ),
            f"_w{j}",
            "left",
        )
        flags.append(
            F.coalesce(F.col(f"_word{j}"), F.lit(0)).bitwiseAND(
                F.col(f"_m{j}")
            )
            != 0
        )
    cond = flags[0]
    for c in flags[1:]:
        cond = cond & c
    drop = [c for j in range(k) for c in (f"_w{j}", f"_m{j}", f"_word{j}")]
    return out.withColumn(flag, cond).drop(*drop)


def incremental_new_docs_bloom(
    docs_new: DataFrame,
    docs_old: DataFrame,
    m_bits: int = 1 << 20,
    k: int = 4,
) -> DataFrame:
    """:func:`incremental_new_docs` through a bloom-filter pre-screen
    — the runtime-filter pattern for cross-snapshot dedup when the
    OLD snapshot is the 100 TB side.

    The plain version anti-joins every new fingerprint against the
    old set: correct, but the shuffle moves the FULL new side even
    though (in a healthy crawl) most new content is genuinely new.
    Here the old side collapses to a broadcastable bloom SKETCH
    (:func:`bloom_words`); new fingerprints probe it map-side:

    - probe says NO  -> definitely-new (bloom has no false negatives)
      — emitted directly, ZERO shuffle for this (majority) slice;
    - probe says MAYBE -> exact anti-join verify, shuffling only the
      suspect slice (true dups + the false-positive rate the m/k
      sizing bought).

    The exact-verify step makes the OUTPUT identical to the plain
    anti-join for ANY m/k — correctness never depends on sketch
    sizing, only the suspect-slice width does. The oracle twin is
    therefore the plain anti-join SQL: the hash compare IS the
    no-false-negative equivalence proof (and the pytest twin drives
    it with a deliberately tiny, collision-heavy bitmap).

    What the sketch actually saves at scale: the new side's
    anti-join input shrinks from ALL new fingerprints to the suspect
    slice. The old side still shuffles once into the verify
    anti-join (its other scan feeds the 16-byte-row sketch agg) —
    a shuffled anti-join is the robust choice because the suspect
    slice is unbounded (worst case: every new doc is a dup). Locally (one JVM, no network) the plain anti-join is already
    cheap, so wall-clock parity is expected at bench scale — the
    saved quantity is cluster network bytes (BASELINE.md round-9
    notes).

    Scale notes: the sparse sketch is ≤ m_bits/8 bytes — size m to
    the broadcast budget (~10 bits/item for ~1% fp at k=4; a 1B-fp
    reference set at 10 bits/item is ~1.2 GB, past broadcast comfort
    — shard the bitmap by fp prefix and probe each shard's slice, or
    fall back to the plain anti-join, which stays the declared llm22
    path). ``pmod`` (not ``%``) keeps xxhash64's negative halves in
    [0, m).
    """
    new_groups = exact_dedup(docs_new)
    old_fp = docs_old.select(F.md5(F.col("text")).alias("fp")).distinct()
    probed = bloom_probe(
        new_groups, bloom_words(old_fp, m_bits, k), m_bits, k
    )
    cols = ["fp", "keep_id", "copies"]
    clean = probed.filter(~F.col("_maybe")).select(*cols)
    suspects = probed.filter(F.col("_maybe")).select(*cols)
    return clean.unionAll(suspects.join(old_fp, "fp", "left_anti"))


def passage_dedup(docs: DataFrame, block: int = 8) -> DataFrame:
    """Sub-document (passage-level) exact dedup — the Dolma/Lee-et-al
    "deduplicate repeated passages, keep the first occurrence" pass,
    at non-overlapping ``block``-token granularity.

    Each doc splits into consecutive ``block``-token blocks; a block
    INSTANCE survives iff it is the corpus-wide canonical occurrence
    of its text — the smallest (doc_id, block_idx) over all instances
    of the same block md5 (ROW_NUMBER over the block-hash key). Per
    doc: total/duplicated block counts, surviving token count, and
    the md5 of the scrubbed text (surviving blocks re-joined in
    order) so downstream exact dedup can run on cleaned content.

    Scale shape: explode is scan-parallel; the only shuffles are the
    block-md5 window (narrow 32-byte key, uniformly distributed —
    cardinality ~ distinct passages) and the per-doc re-aggregate on
    doc_id. The rebuilt text uses sort_array(collect_list(struct)) so
    the concat order is deterministic under any task order. Nothing
    touches full documents after the split, so shuffle rows stay
    bounded by ``block`` tokens each.
    """
    ws = F.split(F.trim(F.col("text")), r"\s+")
    nblocks = F.ceil(F.size("ws") / F.lit(block)).cast("int")
    btext = F.concat_ws(
        " ", F.slice(F.col("ws"), F.col("block_idx") * block + 1, block)
    )
    blocks = (
        spread_for_compute(docs)
        .select("doc_id", ws.alias("ws"))
        .select(
            "doc_id",
            "ws",
            F.explode(F.sequence(F.lit(0), nblocks - 1)).alias("block_idx"),
        )
        .select("doc_id", "block_idx", btext.alias("btext"))
        .select(
            "doc_id",
            "block_idx",
            "btext",
            F.md5(F.col("btext")).alias("bfp"),
            F.size(F.split(F.col("btext"), r"\s+")).alias("n_tok"),
        )
    )
    ranked = blocks.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("bfp").orderBy("doc_id", "block_idx")
        ),
    )
    kept = F.col("rn") == 1
    return (
        ranked.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_blocks"),
            F.sum(F.when(~kept, 1).otherwise(0)).alias("n_dup_blocks"),
            F.sum(F.when(kept, F.col("n_tok")).otherwise(0))
            .cast("bigint")
            .alias("kept_tokens"),
            F.md5(
                F.concat_ws(
                    " ",
                    F.transform(
                        F.sort_array(
                            F.collect_list(
                                F.when(
                                    kept,
                                    F.struct("block_idx", "btext"),
                                )
                            )
                        ),
                        lambda s: s["btext"],
                    ),
                )
            ).alias("kept_fp"),
        )
        .orderBy("doc_id")
    )


def simhash16(docs: DataFrame) -> DataFrame:
    """16-bit SimHash per doc: bit b of the fingerprint is set when
    the sum over DISTINCT tokens of sign(bit b of hash60(token)) is
    positive. Small enough to stay one expression, portable to SQL."""
    tok = spread_for_compute(docs).select(
        "doc_id", F.explode(F.array_distinct(_tokens(F.col("text")))).alias("t")
    ).withColumn("h", _hash60(F.col("t")))
    aggs = [
        F.sum(
            F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"s{b}")
        for b in range(16)
    ]
    sums = tok.groupBy("doc_id").agg(*aggs)
    fingerprint = None
    for b in range(16):
        term = F.when(F.col(f"s{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
        fingerprint = term if fingerprint is None else fingerprint + term
    return sums.select("doc_id", fingerprint.cast("bigint").alias("simhash"))


def winnow_fingerprints(
    docs: DataFrame, k: int = 8, w: int = 4
) -> DataFrame:
    """Rolling-hash document fingerprints via winnowing (Schleimer,
    Wilkerson, Aiken, SIGMOD'03 — the MOSS algorithm).

    Per doc: normalize (lowercase, strip non-alphanumerics), hash every
    char ``k``-gram, then keep the minimum hash of each window of ``w``
    consecutive k-gram hashes. Guarantees at least one shared
    fingerprint for any common substring of length >= k + w - 1.

    Physical shape: overlapping char k-grams come from ONE lookahead
    regex (``(?=(.{k}))`` — normalized text has no line terminators,
    so ``.`` is total), then posexplode -> codegen md5/conv per gram
    -> window-min over ``pos`` per doc -> distinct. The previous
    sequence/transform/slice/array_min form was zero-shuffle but
    interpreted (higher-order lambdas are CodegenFallback): the
    sf10 rehearsal measured cores pegged in interpreted Substring/
    NumberConverter eval. One narrow (doc_id, pos, hash) shuffle that
    partitions evenly by doc_id is the standard Spark trade for
    keeping the per-char hashing inside whole-stage codegen.
    Returns distinct ``(doc_id, fp)`` rows.
    """
    nt = F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]", "")
    grams = F.regexp_extract_all(
        F.col("nt"), F.lit(f"(?=(.{{{k}}}))"), F.lit(1)
    )
    out = (
        spread_for_compute(docs)
        .select("doc_id", nt.alias("nt"))
        .select("doc_id", grams.alias("grams"))
        .select(
            "doc_id",
            F.size("grams").alias("n_grams"),
            F.posexplode("grams"),
        )
        .select(
            "doc_id", "n_grams", "pos", _hash60(F.col("col")).alias("h")
        )
    )
    win = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.currentRow, w - 1)
    )
    return (
        out.withColumn("fp", F.min("h").over(win))
        # exclude trailing partial windows (old form: j stops at
        # size - w + 1), then dedup fingerprints per doc
        .filter(F.col("pos") <= F.col("n_grams") - w)
        .select("doc_id", "fp")
        .distinct()
    )


def winnow_near_dup_pairs(
    docs: DataFrame,
    k: int = 8,
    w: int = 4,
    max_df: int = 10,
    threshold: float = 0.5,
) -> DataFrame:
    """Near-dup pairs by shared winnowing fingerprints (MOSS-style).

    Fingerprints occurring in more than ``max_df`` docs are dropped
    before pairing — they carry no signal (boilerplate / common
    phrases) AND they bound the fingerprint self-join: each bucket
    yields <= max_df^2/2 pairs, so the shuffle on ``fp`` cannot blow
    up on a popular fingerprint at 100 TB (the skew story; without
    the cap one viral phrase is an O(n^2) bucket).

    ``overlap`` = |shared rare fps| / min(|rare fps a|, |rare fps b|),
    computed over the filtered sets on both sides.

    Physical shape: ONE aggregation over the fingerprint stream —
    groupBy(fp) -> collect_list(doc_id) -> size() <= max_df (the rare
    filter IS the bucket cap: ``fps`` is distinct per (doc_id, fp), so
    the member-list size equals the old COUNT(*) df) — then both
    consumers (per-doc rare-fp counts and the per-bucket pair cross
    product) read the SAME Exchange(fp): the expensive lookahead-regex
    / md5 / window-min pipeline is planned under one reused exchange
    instead of once per self-join side. The earlier form (groupBy-df rare
    set + fp self-join + two count joins) planned the fingerprint
    pipeline 4x with no exchange reuse — measured 5.08 s at sf0.1
    (the suite's slowest query); this is the same member-list device
    lsh_candidate_pairs adopted, with the
    same bounded-bucket skew story (<= max_df^2/2 pairs per
    fingerprint, one over-cap array per reducer before the filter).
    """
    fps = winnow_fingerprints(docs, k=k, w=w)
    buckets = (
        fps.groupBy("fp")
        .agg(F.collect_list("doc_id").alias("_ids"))
        .filter(F.size("_ids") <= max_df)
    )
    nfp = (
        buckets.select(F.explode("_ids").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count("*").alias("n"))
    )
    pairs = (
        buckets.select(F.explode("_ids").alias("a"), "_ids")
        .select("a", F.explode("_ids").alias("b"))
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("shared"))
    )
    na = nfp.withColumnRenamed("doc_id", "a").withColumnRenamed("n", "na")
    nb = nfp.withColumnRenamed("doc_id", "b").withColumnRenamed("n", "nb")
    overlap = F.col("shared") / F.least(F.col("na"), F.col("nb"))
    return (
        pairs.join(na, "a")
        .join(nb, "b")
        .select(
            "a", "b", "shared", F.round(overlap, 6).alias("overlap")
        )
        .filter(F.col("overlap") >= threshold)
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """Large-star round: every node links its STRICTLY-LARGER
    neighbors to the minimum of its closed neighborhood. Edges in and
    out are (u, v) with u > v (canonical orientation)."""
    sym = edges.unionAll(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    mins = (
        sym.groupBy("u")
        .agg(F.min("v").alias("mn"))
        .select("u", F.least(F.col("u"), F.col("mn")).alias("m"))
    )
    return (
        sym.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Small-star round: every node links its smaller-or-equal
    neighborhood (itself included) to that neighborhood's minimum.
    Input/output orientation u > v."""
    mins = edges.groupBy("u").agg(F.min("v").alias("m"))
    return (
        edges.join(mins, "u")
        .filter(F.col("v") != F.col("m"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .unionAll(mins.select("u", F.col("m").alias("v")))
        .distinct()
    )


def connected_components(
    edges: DataFrame, max_iter: int = 25, stats: dict | None = None
) -> DataFrame:
    """Connected components over an undirected pair list ``(a, b)`` —
    the step that turns near-dup PAIRS into dedup GROUPS (cluster id =
    min doc_id in the component, the canonical keeper).

    Alternating large-star/small-star rounds (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14): each
    round contracts star subgraphs toward the component minimum, so
    convergence is O(log n) rounds even on high-diameter or power-law
    dup graphs — where plain min-label propagation needs O(diameter)
    rounds. Each round is two groupBy+join passes over the edge list;
    ``localCheckpoint`` truncates lineage so the plan stays flat. The
    fixpoint is a union of stars centered at component minima, read
    out directly as labels. Convergence is detected by an order-
    independent (count, xor-of-hashes) edge-set checksum — one small
    aggregate per round, no driver-side data.

    Returns ``(doc_id, cluster)`` for every node appearing in an edge
    (isolated docs are their own trivial cluster and are not emitted).

    ``stats``, if given, receives ``{"rounds": n}`` for convergence
    tests.
    """
    # LAZY checkpoints throughout (a measured optimization): every
    # round is followed immediately by the checksum aggregate, so an
    # eager checkpoint would pay a separate materialization job per
    # round — with eager=False the checksum action itself materializes
    # the checkpoint, halving the loop's job count (2R+2 -> R+1 jobs;
    # llm15's wall is driver/job-overhead-bound, not data-bound, at
    # fixture scale). Lineage truncation — the reason the checkpoints
    # exist — is unchanged once the action runs.
    cur = (
        edges.select(
            F.greatest(F.col("a"), F.col("b")).alias("u"),
            F.least(F.col("a"), F.col("b")).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=False)
    )

    def _checksum(df: DataFrame) -> tuple:
        row = df.agg(
            F.count("*").alias("n"),
            F.expr("bit_xor(xxhash64(u, v))").alias("h"),
        ).collect()[0]
        return (row["n"], row["h"])

    prev = _checksum(cur)
    rounds = 0
    for _ in range(max_iter):
        rounds += 1
        cur = _small_star(_large_star(cur)).localCheckpoint(eager=False)
        sig = _checksum(cur)
        if sig == prev:
            break
        prev = sig
    if stats is not None:
        stats["rounds"] = rounds
    centers = cur.select(F.col("v")).distinct()
    return cur.select(
        F.col("u").alias("doc_id"), F.col("v").alias("cluster")
    ).unionAll(
        centers.select(
            F.col("v").alias("doc_id"), F.col("v").alias("cluster")
        )
    )


def dedup_clusters(edges: DataFrame) -> DataFrame:
    """Dedup groups from near-dup pairs: ``(doc_id, cluster, size)``
    per clustered doc; ``cluster`` doubles as the canonical keep id."""
    comp = connected_components(edges)
    sizes = comp.groupBy("cluster").agg(F.count("*").alias("size"))
    return comp.join(sizes, "cluster").select("doc_id", "cluster", "size")


def adaptive_sign_bits(
    n: int, target_bucket: int = 32, max_bits: int = 16
) -> int:
    """Number of sign-LSH bits for ``n`` vectors targeting a constant
    expected bucket occupancy: smallest k with ``2**k >= n/target``.

    Integer-exact (no float log2) so an SQL oracle can reproduce it:
    ``k = bit_length(ceil(n/target) - 1)`` == ``length(bin(x-1))``.
    Clamped to [1, max_bits].
    """
    x = (max(n, 1) + target_bucket - 1) // target_bucket
    return max(1, min(max_bits, (x - 1).bit_length()))


def _sign_bucket(sign_bits: int) -> Column:
    """The axis-aligned sign-LSH bucket of ``embedding``: one "1"/"0"
    per leading coordinate (>= 0 / < 0), ``sign_bits`` of them. The
    bucket of :func:`embedding_near_dup_pairs` and of
    ``similarity``'s ``cosine_topk_lsh`` and ``semantic_dedup``."""
    return F.concat_ws("", *[
        F.when(F.element_at(F.col("embedding"), i + 1) >= 0, F.lit("1"))
        .otherwise(F.lit("0"))
        for i in range(sign_bits)
    ])


def embedding_near_dup_pairs(
    emb: DataFrame,
    sign_bits: int | None = 8,
    threshold: float = 0.9,
    max_bucket: int | None = 1024,
    target_bucket: int = 32,
    stats: dict | None = None,
) -> DataFrame:
    """Embedding near-dup: bucket by the sign pattern of the first
    ``sign_bits`` dimensions (a deterministic random-hyperplane LSH
    with axis-aligned planes), then exact cosine within buckets.
    Both stages are deterministic, so the oracle reproduces them.

    ``sign_bits=None`` selects the bit count ADAPTIVELY from the row
    count via :func:`adaptive_sign_bits`: a fixed k means per-bucket
    occupancy grows ~n/2^k and the in-bucket verify grows n²/2^k —
    measured 16x cost for 10x rows at sf0.1→sf1 with k=8. Constant
    occupancy makes candidate volume ~n·target. The extra count() is
    one scan-only job (at real scale, parquet row-group metadata).
    The recall trade (more bits = stricter bucket agreement) is the
    standard LSH knob; multi-probe (see similarity.lsh_topk) is the
    recall lever, and exact duplicates share every sign bit at any k.

    Buckets above ``max_bucket`` vectors are dropped before the
    self-join — e.g. all-zero embeddings share one sign pattern and
    would turn the in-bucket verify quadratic on one shuffle key
    (same guard as ``lsh_candidate_pairs`` / winnowing ``max_df``).
    ``None`` disables the cap.

    ``stats``, if given, is the same warning light as
    :func:`lsh_candidate_pairs` (the sign-LSH family shares the
    structural hazard: the cap drops
    over-occupied buckets WHOLESALE and recall loss is otherwise
    invisible): it receives ``{"sign_bits": k, "overcap_buckets": B,
    "dropped_members": M}`` via a SEPARATE aggregate action over the
    over-cap slice; the returned plan is byte-identical to the
    stats=None form (pytest-pinned by sameSemantics). Nonzero counts
    mean occupancy beat the adaptive sizing's model — a fixed
    sign_bits=4 at 1.05M vectors drops ALL 16 buckets (1.05M member
    slots, planted recall 0/20) and the light is the only signal
    (``scripts/recall_probe.py --mode sign --sign-bits 4``, BASELINE.md
    Round 12).

    **Recall envelope — measured, know what this operator promises**
    (``--mode sign`` with the adaptive bits, the same round): a pair
    at cosine ``s`` shares the single k-bit bucket with probability
    ~``(1 - acos(s)/pi)^k``, and
    the adaptive ``k`` GROWS with corpus size — so threshold-0.9
    recall DECAYS as the corpus grows: at 1.05M vectors (adaptive
    k=16) planted cos-0.93 recall measured **3/20** with ZERO
    over-cap drops (the structure, not the cap, is the limit).
    Exact and near-exact duplicates (cos→1) are immune — sign
    agreement is guaranteed — which is this operator's actual scale
    contract: a cheap exact/near-exact-dup device. For real recall AT
    a 0.9-style threshold at scale, use the banded variant
    :func:`hyperplane_lsh_pairs` (same S-curve lever as the MinHash
    bands; its ``suggest_hyperplane_sizing`` holds a stated recall
    target as n grows).
    """
    if sign_bits is None:
        sign_bits = adaptive_sign_bits(emb.count(), target_bucket)
    if stats is not None:
        stats["sign_bits"] = sign_bits
    b = _drop_overcap(
        spread_for_compute(emb).select(
            "vec_id", "embedding", _sign_bucket(sign_bits).alias("bucket")),
        ["bucket"], max_bucket, stats)
    left = b.alias("l")
    right = b.alias("r")
    pairs = left.join(
        right,
        (F.col("l.bucket") == F.col("r.bucket"))
        & (F.col("l.vec_id") < F.col("r.vec_id")),
    )
    from .similarity import cosine
    sim = cosine(F.col("l.embedding"), F.col("r.embedding"))
    return pairs.select(
        F.col("l.vec_id").alias("a"),
        F.col("r.vec_id").alias("b"),
        F.round(sim, 6).alias("cos"),
    ).filter(F.col("cos") >= threshold)
