"""LLM-pipeline operator correctness: Spark vs DuckDB at sf0.001."""

from __future__ import annotations

import pytest

from kinesis_alerts_consumer_spark.plans.llm_queries import LLM_QUERIES

from .comparison import assert_frames_match
from .conftest import SF_SMOKE


@pytest.mark.parametrize("name", sorted(LLM_QUERIES))
def test_llm_query_matches_oracle(spark, duck, name):
    fn, oracle = LLM_QUERIES[name]
    assert_frames_match(fn(spark, SF_SMOKE), duck, oracle, name=name)


def test_near_dup_finds_constructed_duplicates(spark):
    """The 20 mutated docs must pair with their originals at high
    Jaccard — the LSH path actually finds planted near-dups."""
    fn, _ = LLM_QUERIES["llm03_near_dup_minhash_lsh"]
    rows = {(r.a, r.b): r.jaccard for r in fn(spark, SF_SMOKE).collect()}
    planted = [(i, i + 1000000) for i in range(20)]
    found = [p for p in planted if p in rows]
    assert len(found) >= 18, f"only {len(found)}/20 planted near-dups found"
    assert all(rows[p] > 0.9 for p in found)


def test_connected_components_known_graph(spark):
    """Chain 1-2-3, pair 10-11, isolated-by-absence 99: labels
    converge to the component minimum."""
    from kinesis_alerts_consumer_spark.operators.dedup import (
        connected_components,
    )

    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (10, 11)], "a long, b long"
    )
    got = {
        (r.doc_id, r.cluster)
        for r in connected_components(edges).collect()
    }
    assert got == {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)}


def test_connected_components_path_graph_logarithmic_rounds(spark):
    """A 64-node path (diameter 63) — the worst case for min-label
    propagation (O(diameter) rounds) — must converge in O(log n)
    alternating large-star/small-star rounds."""
    from kinesis_alerts_consumer_spark.operators.dedup import (
        connected_components,
    )

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(63)], "a long, b long"
    )
    stats: dict = {}
    got = {
        (r.doc_id, r.cluster)
        for r in connected_components(edges, stats=stats).collect()
    }
    assert got == {(i, 0) for i in range(64)}
    assert stats["rounds"] <= 8, f"took {stats['rounds']} rounds for n=64"


def test_connected_components_star_graph_constant_rounds(spark):
    """A 50-leaf hub star (the power-law dup-graph shape) converges in
    O(1) rounds and labels everything with the component minimum even
    though the hub is NOT the minimum."""
    from kinesis_alerts_consumer_spark.operators.dedup import (
        connected_components,
    )

    # hub=1000 connected to leaves 1..50: min is a leaf, not the hub.
    edges = spark.createDataFrame(
        [(1000, i) for i in range(1, 51)], "a long, b long"
    )
    stats: dict = {}
    got = {
        (r.doc_id, r.cluster)
        for r in connected_components(edges, stats=stats).collect()
    }
    expect = {(i, 1) for i in range(1, 51)} | {(1000, 1)}
    assert got == expect
    assert stats["rounds"] <= 3, f"took {stats['rounds']} rounds"


def test_zero_vectors_never_pair(spark):
    """Zero embeddings have undefined cosine (0/0 -> NULL); they must
    pair with nothing — not each other, not real vectors — while real
    near-dups in the same sign bucket still pair."""
    from kinesis_alerts_consumer_spark.operators.dedup import (
        embedding_near_dup_pairs,
    )

    rows = [(i, [0.0] * 8) for i in range(5)]
    rows += [(100, [1.0, 2.0, 3.0, 4.0, 1.0, 2.0, 3.0, 4.0]),
             (101, [1.0, 2.0, 3.0, 4.0, 1.0, 2.0, 3.0, 4.1])]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        (r.a, r.b)
        for r in embedding_near_dup_pairs(
            emb, sign_bits=8, threshold=0.0, max_bucket=None
        ).collect()
    }
    assert got == {(100, 101)}


def test_winnowing_finds_constructed_duplicates(spark):
    """Rolling-hash winnowing fingerprints must pair most mutated
    docs with their originals (a mutated doc shares every winnowed
    fingerprint outside its dropped tail, minus common-fp filtering)."""
    fn, _ = LLM_QUERIES["llm14_winnowing"]
    rows = {(r.a, r.b): r.overlap for r in fn(spark, SF_SMOKE).collect()}
    planted = [(i, i + 1000000) for i in range(20)]
    found = [p for p in planted if p in rows]
    assert len(found) >= 10, f"only {len(found)}/20 planted pairs found"


def test_ivf_topk_recall_vs_exact(spark):
    """IVF with nprobe=2/8 centroids is approximate; recall@5 against
    the exact brute force stays well above chance."""
    exact = {
        (r.query_id, r.neighbor_id)
        for r in LLM_QUERIES["llm06_ann_cosine_topk"][0](spark, SF_SMOKE).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in LLM_QUERIES["llm13_ann_cosine_topk_ivf"][0](
            spark, SF_SMOKE
        ).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall > 0.2, f"IVF recall collapsed: {recall}"


def test_lsh_topk_recall_vs_exact(spark):
    """The LSH top-k is approximate; sanity-check recall@5 against the
    exact path (same-bucket neighbors only -> recall well above 0)."""
    exact = {
        (r.query_id, r.neighbor_id)
        for r in LLM_QUERIES["llm06_ann_cosine_topk"][0](spark, SF_SMOKE).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in LLM_QUERIES["llm07_ann_cosine_topk_lsh"][0](spark, SF_SMOKE).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall > 0.2, f"LSH recall collapsed: {recall}"


def test_lsh_bucket_cap_bounds_degenerate_buckets(spark):
    """A degenerate band value (many identical docs) must not explode
    the candidate self-join: with max_bucket=8, a 20-doc identical
    cluster contributes ZERO candidate pairs (its bucket is dropped),
    while a small distinct near-dup pair still surfaces."""
    from kinesis_alerts_consumer_spark.operators.dedup import (
        lsh_candidate_pairs,
    )

    rows = [(i, "the same boilerplate text repeated everywhere") for i in range(20)]
    rows += [(100, "a genuinely unique document about spark engines"),
             (101, "a genuinely unique document about spark engines!")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    uncapped = lsh_candidate_pairs(docs, shingle=1, max_bucket=None)
    capped = lsh_candidate_pairs(docs, shingle=1, max_bucket=8)
    # 20 identical docs alone give C(20,2)=190 pairs uncapped
    assert uncapped.count() >= 190
    got = {(r.a, r.b) for r in capped.collect()}
    assert (100, 101) in got
    assert all(a >= 100 for a, _ in got), "degenerate bucket leaked pairs"


def test_lsh_bucket_cap_stats_warning_light(spark):
    """The r10 1000x measurement showed max_bucket silently eating
    recall (13/20 planted pairs at 5M docs). The ``stats`` hook is the
    warning light: planting an over-cap bucket must fire the counters,
    a healthy corpus must report zeros, and the returned plan must be
    UNCHANGED by the stats pass (the gated llm03 query stays
    hash-identical)."""
    from kinesis_alerts_consumer_spark.operators.dedup import (
        lsh_candidate_pairs,
    )

    rows = [(i, "the same boilerplate text repeated everywhere") for i in range(20)]
    rows += [(100, "a genuinely unique document about spark engines"),
             (101, "a genuinely unique document about spark engines!")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    stats: dict = {}
    with_stats = lsh_candidate_pairs(docs, shingle=1, max_bucket=8, stats=stats)
    # 20 identical docs share every band bucket -> bands(=2) over-cap
    # buckets, each holding >= 20 member slots
    assert stats["overcap_buckets"] >= 1, stats
    assert stats["dropped_members"] >= 20, stats

    # the stats pass must not touch the returned plan
    plain = lsh_candidate_pairs(docs, shingle=1, max_bucket=8)
    assert with_stats.sameSemantics(plain)
    assert {(r.a, r.b) for r in with_stats.collect()} == {
        (r.a, r.b) for r in plain.collect()
    }

    # healthy corpus: zeros (both with the cap on and with cap=None)
    healthy = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "delta epsilon zeta")],
        "doc_id long, text string",
    )
    hstats: dict = {}
    lsh_candidate_pairs(healthy, shingle=1, max_bucket=8, stats=hstats)
    assert hstats == {"overcap_buckets": 0, "dropped_members": 0}
    nstats: dict = {}
    lsh_candidate_pairs(healthy, shingle=1, max_bucket=None, stats=nstats)
    assert nstats == {"overcap_buckets": 0, "dropped_members": 0}


def test_lsh_sizing_helper_inverts_the_s_curve():
    """suggest_lsh_sizing productizes the r10 band-scaling lesson:
    rows_per_band grows (logarithmically) with corpus size so bucket
    occupancy stays constant, and bands always deliver the requested
    S-curve recall for the chosen rows. Pure math — no Spark."""
    import math

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from kinesis_alerts_consumer_spark.operators.dedup import (
        lsh_band_recall,
        suggest_lsh_sizing,
    )

    # the S-curve itself: exact hand-computed point + boundary cases
    assert lsh_band_recall(1.0, 3, 4) == 1.0
    assert lsh_band_recall(0.0, 3, 4) == 0.0
    assert math.isclose(
        lsh_band_recall(0.8, 4, 4), 1.0 - (1.0 - 0.8**4) ** 4)

    # the r10 measurement anchor: at 5M docs the suggestion must be
    # materially finer than the (2, 2) that lost 7/20 planted pairs
    b5, r5 = suggest_lsh_sizing(5_000_000)
    assert r5 >= 3 and (b5, r5) == (8, 5)
    assert suggest_lsh_sizing(500_000) == (6, 4)

    @settings(max_examples=200, deadline=None)
    @given(
        n=st.integers(min_value=1, max_value=10**12),
        t=st.floats(min_value=0.05, max_value=0.95),
        rec=st.floats(min_value=0.5, max_value=0.99),
        bg=st.floats(min_value=0.02, max_value=0.5),
        cap=st.integers(min_value=1, max_value=4096),
    )
    def props(n, t, rec, bg, cap):
        from hypothesis import assume

        try:
            b, r = suggest_lsh_sizing(
                n, threshold=t, target_recall=rec,
                background_sim=bg, max_bucket=cap)
            b2, r2 = suggest_lsh_sizing(
                n * 10, threshold=t, target_recall=rec,
                background_sim=bg, max_bucket=cap)
        except ValueError as exc:  # explicit infeasibility, not nonsense
            assume("infeasible sizing" not in str(exc))
            raise
        assert b >= 1 and r >= 1
        # the promised recall is actually delivered
        assert lsh_band_recall(t, b, r) >= rec - 1e-9
        # occupancy: rows never DECREASE when the corpus grows 10x
        assert r2 >= r

    props()


def test_embedding_bucket_cap_bounds_degenerate_buckets(spark):
    """30 constant negative vectors share one sign-pattern bucket; the
    cap drops that bucket instead of verifying C(n,2) cosine pairs
    inside it. (True zero vectors land in the all-'1' pattern with the
    positive vectors — the sign test is `>= 0` — and their cosine is
    NULL (0/0), which the `>= threshold` verify filter drops; pinned
    by test_zero_vectors_never_pair below.)"""
    from kinesis_alerts_consumer_spark.operators.dedup import (
        embedding_near_dup_pairs,
    )

    rows = [(i, [-1.0] * 8) for i in range(30)]
    rows += [(100, [1.0, 2.0, 3.0, 4.0, 1.0, 2.0, 3.0, 4.0]),
             (101, [1.0, 2.0, 3.0, 4.0, 1.0, 2.0, 3.0, 4.1])]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    capped = embedding_near_dup_pairs(
        emb, sign_bits=8, threshold=0.9, max_bucket=10
    )
    got = {(r.a, r.b) for r in capped.collect()}
    assert got == {(100, 101)}
    uncapped = embedding_near_dup_pairs(
        emb, sign_bits=8, threshold=-1.0, max_bucket=None
    )
    assert uncapped.count() >= 30 * 29 / 2


def test_sign_lsh_cap_stats_warning_light(spark):
    """VERDICT r11 item 5: the sign-LSH family (embedding_near_dup /
    semantic_dedup) shares llm03's structural hazard — the bucket cap
    drops over-occupied buckets WHOLESALE with no signal. The
    ``stats`` hook is the warning light: a planted over-cap bucket
    fires the counters, a healthy corpus reports zeros, and the
    returned plan is UNCHANGED by the stats pass (the gated llm05 /
    llm27 queries stay hash-identical)."""
    from kinesis_alerts_consumer_spark.operators.dedup import (
        embedding_near_dup_pairs,
    )
    from kinesis_alerts_consumer_spark.operators.similarity import (
        semantic_dedup,
    )

    rows = [(i, [-1.0] * 8) for i in range(30)]
    rows += [(100, [1.0, 2.0, 3.0, 4.0, 1.0, 2.0, 3.0, 4.0]),
             (101, [1.0, 2.0, 3.0, 4.0, 1.0, 2.0, 3.0, 4.1])]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    stats: dict = {}
    with_stats = embedding_near_dup_pairs(
        emb, sign_bits=8, threshold=0.9, max_bucket=10, stats=stats
    )
    assert stats == {"sign_bits": 8, "overcap_buckets": 1,
                     "dropped_members": 30}
    plain = embedding_near_dup_pairs(
        emb, sign_bits=8, threshold=0.9, max_bucket=10
    )
    assert with_stats.sameSemantics(plain)
    assert {(r.a, r.b) for r in with_stats.collect()} == {(100, 101)}

    sstats: dict = {}
    with_sstats = semantic_dedup(
        emb, threshold=0.9, sign_bits=8, max_bucket=10, stats=sstats
    )
    assert sstats == {"sign_bits": 8, "overcap_buckets": 1,
                      "dropped_members": 30}
    assert with_sstats.sameSemantics(
        semantic_dedup(emb, threshold=0.9, sign_bits=8, max_bucket=10)
    )

    # healthy corpus: zeros, both with the cap on and with cap=None;
    # adaptive sizing reports the bits it chose
    healthy = spark.createDataFrame(
        [(1, [1.0, -1.0, 1.0, -1.0]), (2, [-1.0, 1.0, -1.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    for kwargs in ({"max_bucket": 10}, {"max_bucket": None}):
        h: dict = {}
        embedding_near_dup_pairs(healthy, sign_bits=None, stats=h, **kwargs)
        assert h["overcap_buckets"] == 0 and h["dropped_members"] == 0
        assert h["sign_bits"] >= 1
        s: dict = {}
        semantic_dedup(healthy, sign_bits=None, stats=s, **kwargs)
        assert s["overcap_buckets"] == 0 and s["dropped_members"] == 0
        assert s["sign_bits"] >= 1


def test_hyperplane_band_recall_and_sizing():
    """The cosine-family S-curve helpers (r12): recall math matches
    the MinHash helper at the per-hyperplane agreement p, the sizing
    always satisfies its own promise, bits grow log2(n), and inputs
    are validated."""
    import math

    import pytest

    from kinesis_alerts_consumer_spark.operators.dedup import (
        hyperplane_band_recall,
        lsh_band_recall,
        suggest_hyperplane_sizing,
    )

    p = 1.0 - math.acos(0.9) / math.pi
    assert hyperplane_band_recall(0.9, 6, 6) == lsh_band_recall(p, 6, 6)
    # more bands can only help
    assert hyperplane_band_recall(0.9, 12, 6) > hyperplane_band_recall(
        0.9, 6, 6)
    # exact duplicates always collide
    assert hyperplane_band_recall(1.0, 1, 64) == 1.0

    for n in (100, 2_000, 50_000, 1_050_000, 10_000_000):
        b, r = suggest_hyperplane_sizing(n)
        assert hyperplane_band_recall(0.9, b, r) >= 0.95, (n, b, r)
        # occupancy: expected bucket size under the uniform-split
        # model stays at/below target
        assert n / (2 ** r) <= 32 + 1e-9, (n, b, r)
    assert suggest_hyperplane_sizing(2_000) == (6, 6)  # llm39's literal
    b1, r1 = suggest_hyperplane_sizing(10_000)
    b2, r2 = suggest_hyperplane_sizing(10_000_000)
    assert r2 > r1 and b2 >= b1

    for bad in (dict(n_vecs=0), dict(n_vecs=10, threshold=1.0),
                dict(n_vecs=10, target_recall=0.0),
                dict(n_vecs=10, target_bucket=0)):
        with pytest.raises(ValueError):
            suggest_hyperplane_sizing(**bad)
    with pytest.raises(ValueError):
        hyperplane_band_recall(1.5, 2, 2)


def test_hyperplane_lsh_pairs_semantics(spark):
    """hyperplane_lsh_pairs (r12, llm39's operator): finds a planted
    near-dup, respects the cosine threshold, fires the over-cap stats
    light without changing the plan, supports sizing='auto' against
    the explicit derivation, and validates its inputs."""
    import pytest

    from kinesis_alerts_consumer_spark.operators.dedup import (
        hyperplane_lsh_pairs,
        suggest_hyperplane_sizing,
    )

    rows = [(i, [-1.0] * 8) for i in range(30)]  # one degenerate bucket
    rows += [(100, [1.0, 2.0, 3.0, 4.0, 1.0, 2.0, 3.0, 4.0]),
             (101, [1.0, 2.0, 3.0, 4.0, 1.0, 2.0, 3.0, 4.05]),
             (200, [4.0, -3.0, 2.0, -1.0, 4.0, -3.0, 2.0, -1.0])]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    stats: dict = {}
    got = hyperplane_lsh_pairs(
        emb, bands=4, bits_per_band=4, threshold=0.9, max_bucket=10,
        stats=stats)
    pairs = {(r.a, r.b) for r in got.collect()}
    # the planted near-dup survives; the 30 identical vectors share
    # every band bucket, all over cap -> dropped, and the light fires
    assert (100, 101) in pairs
    assert all(a >= 100 for a, _ in pairs), pairs
    assert stats["overcap_buckets"] == 4  # one per band
    assert stats["dropped_members"] == 120  # 30 members x 4 bands
    # stats pass leaves the plan untouched
    plain = hyperplane_lsh_pairs(
        emb, bands=4, bits_per_band=4, threshold=0.9, max_bucket=10)
    assert got.sameSemantics(plain)

    # threshold is honored post-verify: the planted pair's cosine is
    # ~0.999985, so a 0.999999 threshold must exclude it
    strict = hyperplane_lsh_pairs(
        emb, bands=4, bits_per_band=4, threshold=0.999999, max_bucket=10)
    assert {(r.a, r.b) for r in strict.collect()} == set()

    # sizing='auto' == the explicit suggest_hyperplane_sizing call,
    # derived against the CALLER's cap (r12 review: a cap below the
    # default occupancy target must tighten the derivation, or
    # typical buckets get wholesale-dropped)
    from kinesis_alerts_consumer_spark.operators.dedup import (
        hll_buffered_count,
    )

    astats: dict = {}
    auto = hyperplane_lsh_pairs(
        emb, sizing="auto", threshold=0.9, max_bucket=10, stats=astats)
    # auto sizes for the 2σ-buffered HLL estimate (VERDICT r12 item
    # 3); the estimate is ±5% rsd even at 33 vectors, so compare
    # against the REPORTED value
    n_est = astats["n_vecs_estimate"]
    assert abs(n_est - 33) <= 4
    assert astats["n_vecs_sized_for"] == hll_buffered_count(n_est)
    b, r = suggest_hyperplane_sizing(
        hll_buffered_count(n_est), threshold=0.9, target_bucket=10)
    assert (astats["bands"], astats["bits_per_band"]) == (b, r)
    assert auto.sameSemantics(hyperplane_lsh_pairs(
        emb, bands=b, bits_per_band=r, threshold=0.9, max_bucket=10))
    tight: dict = {}
    hyperplane_lsh_pairs(
        emb, sizing="auto", threshold=0.9, max_bucket=4, stats=tight)
    assert (tight["bands"], tight["bits_per_band"]) == \
        suggest_hyperplane_sizing(
            hll_buffered_count(tight["n_vecs_estimate"]),
            threshold=0.9, target_bucket=4)
    assert tight["bits_per_band"] > r  # tighter cap -> finer buckets

    # ragged widths: dim inference is the corpus-wide MIN, so a short
    # row hashes its shared leading coords instead of collapsing into
    # the all-'0' bucket via NULL dots (r12 review)
    ragged = spark.createDataFrame(
        [(1, [1.0, 2.0, 3.0, 4.0]), (2, [1.0, 2.0, 3.0])],
        "vec_id long, embedding array<double>",
    )
    assert hyperplane_lsh_pairs(
        ragged, bands=2, bits_per_band=2, threshold=-1.0
    ).sameSemantics(hyperplane_lsh_pairs(
        ragged, bands=2, bits_per_band=2, threshold=-1.0, dim=3))

    # a non-default id column rides the builder and the batch core
    # through to the verify: same pairs and cosines as under vec_id
    renamed = hyperplane_lsh_pairs(
        emb.withColumnRenamed("vec_id", "item"), bands=4,
        bits_per_band=4, threshold=0.9, max_bucket=10, id_col="item")
    assert renamed.columns == ["a", "b", "cos"]
    assert {tuple(r) for r in renamed.collect()} == {
        tuple(r) for r in plain.collect()}

    with pytest.raises(ValueError, match="auto"):
        hyperplane_lsh_pairs(emb, sizing="nope")
    with pytest.raises(ValueError, match="dim"):
        hyperplane_lsh_pairs(emb, dim=0)
    # the expression-size envelope fails loudly with the JL remedy
    # named instead of stalling Catalyst on a multi-MB plan
    with pytest.raises(ValueError, match="random_projection"):
        hyperplane_lsh_pairs(emb, bands=100, bits_per_band=100, dim=768)


def test_hll_buffer_protects_sizing_from_2sigma_low_estimates():
    """VERDICT r12 item 3: the 1.05M probe's HLL estimate came in 8%
    LOW and derived (30,15) where exact n gives (35,16) — recall held
    on margin, not design. Property: for any true n, if the estimate
    lands at the 2σ-low worst case n·(1−2·rsd), the BUFFERED sizing
    still satisfies both derivation inequalities (occupancy and
    S-curve recall) at the TRUE n — for the MinHash and the
    hyperplane family alike. Pure math — no Spark."""
    import math

    import pytest
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from kinesis_alerts_consumer_spark.operators.dedup import (
        hll_buffered_count,
        hyperplane_band_recall,
        lsh_band_recall,
        suggest_hyperplane_sizing,
        suggest_lsh_sizing,
    )

    # the buffer itself: >= the estimate, ~11% at default rsd
    # (divide-by-(1-2σ), the exact inverse of a 2σ-low estimate),
    # exact ceil arithmetic, input validation
    assert hll_buffered_count(0) == 1
    assert hll_buffered_count(100) == 112  # ceil(100 / 0.9)
    assert hll_buffered_count(967_835) == math.ceil(967_835 / 0.9)
    with pytest.raises(ValueError, match="n_estimate"):
        hll_buffered_count(-1)
    with pytest.raises(ValueError, match="rsd"):
        hll_buffered_count(10, rsd=1.5)

    # the r12 measured case, replayed through the shipped path: the
    # 8%-low estimate, buffered, must derive AT LEAST exact-n's
    # occupancy bits — no longer one band short by luck
    b_buf, r_buf = suggest_hyperplane_sizing(hll_buffered_count(967_835))
    b_exact, r_exact = suggest_hyperplane_sizing(1_050_000)
    assert r_buf >= r_exact and (b_buf, r_buf) == (b_exact, r_exact)

    @settings(max_examples=200, deadline=None)
    @given(
        n=st.integers(min_value=1, max_value=10**12),
        t=st.floats(min_value=0.5, max_value=0.99),
        rec=st.floats(min_value=0.5, max_value=0.99),
        cap=st.integers(min_value=1, max_value=4096),
    )
    def props(n, t, rec, cap):
        from hypothesis import assume

        # worst estimate still within 2σ: ceil keeps it >= n·(1-2σ)
        est_low = max(1, math.ceil(n * (1.0 - 2.0 * 0.05)))
        sized_for = hll_buffered_count(est_low)
        try:
            b, r = suggest_hyperplane_sizing(
                sized_for, threshold=t, target_recall=rec,
                target_bucket=cap)
        except ValueError as exc:
            assume("infeasible sizing" not in str(exc))
            raise
        # recall inequality at the true n: the S-curve promise is a
        # pure function of (b, r), so it holds regardless of n ...
        assert hyperplane_band_recall(t, b, r) >= rec
        # ... and the buffered estimate DOMINATES true n (the whole
        # point of the divide-form buffer), so the occupancy
        # inequality derived from it holds at TRUE n: n / 2^r <= cap
        # whenever the derivation was forced
        assert n <= sized_for
        if sized_for > cap:
            assert n / (2.0 ** r) <= cap + 1e-9

        # same invariant for the MinHash family
        try:
            bm, rm = suggest_lsh_sizing(
                sized_for, threshold=t, target_recall=rec, max_bucket=cap)
        except ValueError as exc:
            assume("infeasible sizing" not in str(exc))
            raise
        assert lsh_band_recall(t, bm, rm) >= rec

    props()

    # Exact-arithmetic pin (ADVICE r13): for ARBITRARY rsd the result
    # must equal the true ceil of the exact rational quotient under
    # the function's decimal reading of rsd — the old float form
    # (ceil of a 9-decimal round) could cancel a legitimate ceil
    # whenever the quotient sat within 5e-10 above an integer,
    # under-buffering by 1.
    from fractions import Fraction

    @settings(max_examples=300, deadline=None)
    @given(
        n=st.integers(min_value=0, max_value=10**15),
        rsd=st.floats(min_value=1e-9, max_value=0.499,
                      exclude_min=False, allow_nan=False),
    )
    def exact_ceil(n, rsd):
        ratio = 1 - 2 * Fraction(str(rsd))
        want = max(1, -((-n * ratio.denominator) // ratio.numerator))
        assert hll_buffered_count(n, rsd=rsd) == want
        # and the coverage property itself at this rsd: a 2σ-low
        # estimate, buffered, dominates the true n
        if n > 0:
            est_low = max(1, math.ceil(n * (1.0 - 2.0 * rsd)))
            assert hll_buffered_count(est_low, rsd=rsd) >= n

    exact_ceil()

    # the documented hazard class, deterministically: a quotient
    # exactly on a decimal-clean integer boundary must NOT ceil up
    # (decimal semantics: rsd=0.05 IS 1/20), one count above must
    assert hll_buffered_count(9, rsd=0.05) == 10   # 9/0.9 == 10 exact
    assert hll_buffered_count(10, rsd=0.05) == 12  # 10/0.9 = 11.11…
    # an adversarial tiny rsd (1e-10): quotients sit within float
    # noise of integers — exact arithmetic must distinguish the
    # on-boundary case (no ceil) from one count above (ceil by 2,
    # since the exact quotient is k + 1.0000000002)
    assert hll_buffered_count(10**10 - 2, rsd=1e-10) == 10**10
    assert hll_buffered_count(10**10 - 1, rsd=1e-10) == 10**10 + 2


def test_hyperplane_dim_inference_skips_empty_and_null(spark):
    """ADVICE r12: with dim=None the inferred width must come from
    NON-EMPTY rows only — one empty or null embedding used to drive
    the corpus MIN to <= 0 and abort the whole call; now such rows
    simply drop out of candidates (they posexplode to no dot rows)."""
    from kinesis_alerts_consumer_spark.operators.dedup import (
        hyperplane_lsh_pairs,
    )

    rows = [(1, [1.0, 2.0, 3.0, 4.0]), (2, [1.0, 2.0, 3.0, 4.0]),
            (3, []), (4, None)]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>")
    got = hyperplane_lsh_pairs(
        emb, bands=2, bits_per_band=2, threshold=0.9)
    pairs = {(r.a, r.b) for r in got.collect()}
    assert pairs == {(1, 2)}  # empty/null rows excluded, not fatal
    # inference == the explicit non-empty minimum
    assert got.sameSemantics(hyperplane_lsh_pairs(
        emb, bands=2, bits_per_band=2, threshold=0.9, dim=4))
    # all-empty corpus: no inferable width -> dim falls back to 1 and
    # every row drops out of candidates — a graceful empty result,
    # not a crash
    empty = spark.createDataFrame(
        [(1, []), (2, [])], "vec_id long, embedding array<double>")
    assert hyperplane_lsh_pairs(
        empty, bands=2, bits_per_band=2).count() == 0


def test_prebuilt_index_probes_prune_partitioned_tables(spark, tmp_path):
    """The IVF and PQ operators serve from their index, and a written
    index is read the way serving at scale needs (BASELINE.md Round
    12):

    - IVF: an assignments table written ``partitionBy(centroid_id)``
      gets a dynamic partition-pruning subquery on its scan (the
      probe centroids are runtime values, so the pruning is DPP, not
      a static PartitionFilter): only the nprobe cells' files are
      read.
    - PQ: every ADC-phase scan of the codes reads code columns only,
      never a vector column.

    Each returns the same rows as its in-memory index. For PQ that
    also compares the two ways the geometry ``(m, sub_len)`` is
    found: the in-memory codebooks carry ``pq_encode``'s cache seed,
    the parquet-read ones pay the ``books`` aggregate. A codebook
    table without a subspace-0 codebook raises."""
    from pyspark.sql import functions as F

    from kinesis_alerts_consumer_spark.operators.dedup import (
        _INDEX_GEOM_CACHE,
    )
    from kinesis_alerts_consumer_spark.operators.similarity import (
        cosine_topk_ivf,
        cosine_topk_pq,
        ivf_assign,
        pq_encode,
    )
    from kinesis_alerts_consumer_spark.sources import register_tables

    emb = register_tables(spark, SF_SMOKE)["embeddings"]
    key = lambda r: (r.query_id, r.rnk, r.neighbor_id, r.cos)  # noqa: E731

    cents, assign = ivf_assign(emb, n_centroids=8)
    assign.write.partitionBy("centroid_id").parquet(
        str(tmp_path / "assign"))
    cents.write.parquet(str(tmp_path / "cents"))
    a2 = spark.read.parquet(str(tmp_path / "assign"))
    c2 = spark.read.parquet(str(tmp_path / "cents"))
    q = cosine_topk_ivf(emb, (c2, a2), k=5, num_queries=3, nprobe=2)
    rows = q.collect()
    assert rows  # the probe actually served results
    plan = q._jdf.queryExecution().executedPlan().toString()
    # the partitioned assignments scan carries a runtime pruning
    # subquery keyed on centroid_id
    assert "dynamicpruning" in plan.lower(), plan[:2000]
    # identify the assignments scan by its pruning filter (the
    # Location path is truncated in plan toString under pytest's long
    # tmp dirs): a FileScan whose PartitionFilters carry a
    # dynamicpruningexpression on centroid_id
    pruned_scans = [
        ln for ln in plan.splitlines()
        if "FileScan" in ln and "dynamicpruning" in ln.lower()
        and "centroid_id" in ln
    ]
    assert pruned_scans, plan[:2000]
    # equivalence: pruned probes == the in-memory index
    in_memory = cosine_topk_ivf(
        emb, (cents, assign), k=5, num_queries=3, nprobe=2)
    assert sorted(map(key, rows)) == sorted(map(key, in_memory.collect()))

    books, codes = pq_encode(emb, m=4, codebook_k=16)
    codes.write.parquet(str(tmp_path / "codes"))
    books.write.parquet(str(tmp_path / "books"))
    codes2 = spark.read.parquet(str(tmp_path / "codes"))
    books2 = spark.read.parquet(str(tmp_path / "books"))
    assert books2 not in _INDEX_GEOM_CACHE  # a read pays the aggregate
    pq = cosine_topk_pq(emb, (books2, codes2), k=5, num_queries=3,
                        shortlist=25)
    pq_rows = pq.collect()
    assert pq_rows
    pq_plan = pq._jdf.queryExecution().executedPlan().toString()
    # identify the codes scan by its output column (Location paths
    # truncate, see above): the only scans projecting `code#`
    code_scans = [
        ln for ln in pq_plan.splitlines()
        if "FileScan" in ln and "code#" in ln
    ]
    assert code_scans
    # the ADC scan reads the compact code columns only — never a
    # vector column
    assert all("embedding" not in ln for ln in code_scans), code_scans
    # the aggregate reads the geometry pq_encode seeded, and both
    # indexes serve the same rows
    assert _INDEX_GEOM_CACHE[books2] == _INDEX_GEOM_CACHE[books]
    in_memory = cosine_topk_pq(emb, (books, codes), k=5, num_queries=3,
                               shortlist=25)
    assert sorted(map(key, pq_rows)) == \
        sorted(map(key, in_memory.collect()))
    with pytest.raises(ValueError, match="subspace-0"):
        cosine_topk_pq(emb, (books2.filter(F.col("subspace") > 0), codes2))


def test_lsh_incremental_pairs_semantics(spark):
    """llm40's operator (r13): new-batch-vs-corpus near-dup through a
    prebuilt MinHash bucket index. Pins: in-memory index == parquet
    roundtrip results; index geometry (bands/rows_per_band) is READ
    from the table, and a table without band columns raises (the PQ
    contract); only new-vs-old pairs come back; the cap applies to
    OLD-side bucket membership with the stats light reporting drops;
    the probe plan broadcasts the new side (the corpus-sized old
    index must never shuffle)."""
    import pytest

    from kinesis_alerts_consumer_spark.operators.dedup import (
        lsh_build_index,
        lsh_incremental_pairs,
    )

    old = spark.createDataFrame(
        [(i, f"shared common tokens alpha beta gamma delta doc {i}")
         for i in range(30)]
        + [(50, "the quick brown fox jumps over the lazy dog today"),
           (51, "completely different unrelated content about spark")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        # exact dup of 50 (identical signatures -> guaranteed bucket
        # match at ANY banding; near-dup recall itself is the gated
        # llm40 fixture's 20-mutant assertion), a fresh doc, and an
        # exact dup of the 30-doc boilerplate cluster (probes the hot
        # bucket, so the old-side cap + light have something to see)
        [(1000, "the quick brown fox jumps over the lazy dog today"),
         (1001, "novel text that matches nothing in the old corpus"),
         (1002, "shared common tokens alpha beta gamma delta doc 0")],
        "doc_id long, text string",
    )

    inline = lsh_incremental_pairs(
        new, old, shingle=3, threshold=0.5,
        index=lsh_build_index(old, bands=2, rows_per_band=2, shingle=3))
    got = {(r.a, r.b): r.jaccard for r in inline.collect()}
    assert got.get((50, 1000)) == 1.0
    # new-vs-old only: no old ids in b, no new ids in a
    assert all(a < 1000 and b >= 1000 for a, b in got)

    idx = lsh_build_index(old, bands=2, rows_per_band=2, shingle=3)
    prebuilt = lsh_incremental_pairs(
        new, old, shingle=3, threshold=0.5, index=idx)
    assert {(r.a, r.b, r.jaccard) for r in prebuilt.collect()} == {
        (r.a, r.b, r.jaccard) for r in inline.collect()
    }
    # a table that is not a band table raises
    with pytest.raises(ValueError, match="lsh_build_index"):
        lsh_incremental_pairs(new, old, shingle=3, index=old)

    # doc 1002 probes the 30-doc boilerplate cluster's hot bucket: a
    # tight cap drops it (old-side members), the light reports it —
    # over-cap among PROBED buckets, the incremental semantics — and
    # the quiet planted pair survives (its bucket holds 1 old member)
    assert (0, 1002) in got  # uncapped: the hot bucket pairs
    stats: dict = {}
    capped = lsh_incremental_pairs(
        new, old, shingle=3, threshold=0.5, index=idx,
        max_bucket=4, stats=stats)
    capped_pairs = {(r.a, r.b) for r in capped.collect()}
    assert stats["overcap_buckets"] >= 1
    assert stats["dropped_members"] >= 5
    assert (0, 1002) not in capped_pairs  # hot bucket capped away
    assert (50, 1000) in capped_pairs  # its bucket holds 1 old member

    # the probe join broadcasts the NEW side
    plan = prebuilt._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" in plan

    # prebuilt index round-trips through parquet (the durable-artifact
    # claim), geometry re-derived from the written table
    import tempfile

    d = tempfile.mkdtemp()
    idx.write.partitionBy("band").parquet(d + "/lsh_index")
    idx2 = spark.read.parquet(d + "/lsh_index")
    roundtrip = lsh_incremental_pairs(
        new, old, shingle=3, threshold=0.5, index=idx2)
    assert {(r.a, r.b, r.jaccard) for r in roundtrip.collect()} == {
        (r.a, r.b, r.jaccard) for r in inline.collect()
    }


def test_incremental_new_side_skew_light(spark):
    """VERDICT r13 item 5: max_bucket caps OLD membership only, so a
    hot bucket in the INGEST batch multiplies every capped old bucket
    by the whole batch — the one skew axis in the incremental family
    that had no stats light. Pins, for BOTH families: (a) the light's
    value on a skewed fixture (K identical batch members -> K), (b)
    plan identity — the stats pass must not touch the returned plan,
    the separate-action contract every light obeys, (c) the
    empty-batch zero."""
    from kinesis_alerts_consumer_spark.operators.dedup import (
        hyperplane_build_index,
        hyperplane_incremental_pairs,
        lsh_build_index,
        lsh_incremental_pairs,
    )

    old = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog today"),
         (2, "completely different unrelated content about spark")],
        "doc_id long, text string",
    )
    # 6 byte-identical batch docs -> identical signatures -> one
    # bucket per band holds all 6; plus two loners
    new = spark.createDataFrame(
        [(1000 + i, "boilerplate spam footer repeated across the batch")
         for i in range(6)]
        + [(2000, "a genuinely novel document about engines"),
           (2001, "another unique snippet mentioning catalyst")],
        "doc_id long, text string",
    )
    idx = lsh_build_index(old, bands=2, rows_per_band=2, shingle=3)
    stats: dict = {}
    with_stats = lsh_incremental_pairs(
        new, old, idx, shingle=3, threshold=0.5, max_bucket=4,
        stats=stats)
    assert stats["new_max_bucket"] == 6
    # the old-side cap saw nothing (old buckets hold <= 2 members)
    assert stats["overcap_buckets"] == 0
    # plan identity: the light must not touch the returned plan.
    # sameSemantics can't compare two invocations here — each call
    # checkpoints the batch signatures to a DIFFERENT RDD — so
    # compare optimized-plan strings with per-invocation ids
    # (expression #ids, checkpoint RDDs) normalized away.
    import re

    def _norm_plan(df):
        p = df._jdf.queryExecution().optimizedPlan().toString()
        p = re.sub(r"#\d+", "#N", p)
        # higher-order-function lambda variables carry a global
        # counter (x_31, y_34) that differs per invocation
        p = re.sub(r"\b([a-z]+)_\d+#N", r"\1_K#N", p)
        p = re.sub(r"ExistingRDD.*", "ExistingRDD", p)
        p = re.sub(r"LogicalRDD.*", "LogicalRDD", p)
        return p

    plain = lsh_incremental_pairs(
        new, old, idx, shingle=3, threshold=0.5, max_bucket=4)
    assert _norm_plan(with_stats) == _norm_plan(plain)
    # cap=None still reports the new-side light (it is independent of
    # the old-side cap)
    nstats: dict = {}
    lsh_incremental_pairs(
        new, old, idx, shingle=3, threshold=0.5, max_bucket=None,
        stats=nstats)
    assert nstats["new_max_bucket"] == 6
    assert nstats["overcap_buckets"] == 0  # _zero_light
    # empty ingest batch -> 0 (coalesce over the empty max)
    estats: dict = {}
    lsh_incremental_pairs(
        spark.createDataFrame([], "doc_id long, text string"), old,
        idx, shingle=3, threshold=0.5, max_bucket=4, stats=estats)
    assert estats["new_max_bucket"] == 0

    # hyperplane family: 5 EXACTLY colinear batch vectors (scalar
    # multiples -> identical sign bits at any hyperplane set) share
    # every band bucket; the orthogonal loner does not
    emb_old = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0, 0.0]), (2, [0.0, 1.0, 0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    emb_new = spark.createDataFrame(
        [(1000 + i, [2.0 * (i + 1), 0.002 * (i + 1), 0.0, 0.0])
         for i in range(5)]
        + [(2000, [0.0, 0.0, 0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    hidx = hyperplane_build_index(emb_old, bands=4, bits_per_band=4, dim=4)
    hstats: dict = {}
    hs = hyperplane_incremental_pairs(
        emb_new, emb_old, hidx, dim=4, threshold=0.9, max_bucket=16,
        stats=hstats)
    assert hstats["new_max_bucket"] == 5
    hplain = hyperplane_incremental_pairs(
        emb_new, emb_old, hidx, dim=4, threshold=0.9, max_bucket=16)
    assert _norm_plan(hs) == _norm_plan(hplain)


def test_split_assign_semantics(spark):
    """llm42's operator (r13): hash-range split + independent shard.
    Pins: exhaustive partition (every row exactly one split), widths
    must sum to the modulus (no silent remainder), append-stability
    (a row's assignment never depends on the rest of the corpus),
    shard independence domain (different salt stream than split),
    salt namespacing, and the zero-shuffle plan."""
    import pytest

    from kinesis_alerts_consumer_spark.operators.sampling import (
        split_assign,
    )
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(i,) for i in range(2000)], "doc_id long")
    splits = {"train": 900_000, "val": 50_000, "test": 50_000}
    out = split_assign(df, F.col("doc_id"), splits, shards=4)
    rows = out.collect()
    assert len(rows) == 2000
    by_split: dict = {}
    for r in rows:
        by_split.setdefault(r.split, set()).add(r.doc_id)
        assert 0 <= r.shard < 4
    assert set(by_split) <= {"train", "val", "test"}
    assert sum(len(v) for v in by_split.values()) == 2000  # partition
    # fractions land near the widths (hash uniformity, wide tolerance)
    assert len(by_split["train"]) > 1600
    assert 0 < len(by_split.get("val", set())) < 300

    # append-stability: the same keys through a DIFFERENT corpus get
    # identical assignments — the leakage guarantee
    sub = split_assign(
        df.filter(F.col("doc_id") < 100), F.col("doc_id"), splits,
        shards=4)
    full = {(r.doc_id): (r.split, r.shard) for r in rows}
    for r in sub.collect():
        assert full[r.doc_id] == (r.split, r.shard)

    # salt namespacing: a different salt draws a different eval set
    other = split_assign(df, F.col("doc_id"), splits, salt="pipeline2")
    v1 = {r.doc_id for r in rows if r.split == "val"}
    v2 = {r.doc_id for r in other.collect() if r.split == "val"}
    assert v1 != v2

    # validation: widths must sum to modulus; empty/negative refused
    with pytest.raises(ValueError, match="sum to modulus"):
        split_assign(df, F.col("doc_id"), {"train": 1})
    with pytest.raises(ValueError, match="at least one"):
        split_assign(df, F.col("doc_id"), {})
    with pytest.raises(ValueError, match="positive"):
        split_assign(df, F.col("doc_id"),
                     {"a": 1_000_001, "b": -1})

    # zero shuffle: assignment is pure column math
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in plan

    # pin the REAL Column expression against an independent Python
    # md5 mirror (r13 review: a mirror-only property test could not
    # catch a < vs <= regression in the shipped expression) — exact
    # per-row equality on all 2000 keys, split AND shard
    import hashlib

    def h60(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    bounds = []
    acc = 0
    for name, w in splits.items():
        acc += w
        bounds.append((name, acc))

    def expect(doc_id: int) -> tuple:
        h = h60(f"split:{doc_id}") % 1_000_000
        split = next(n for n, b in bounds if h < b)
        shard = h60(f"split#shard:{doc_id}") % 4
        return split, shard

    for r in rows:
        assert (r.split, r.shard) == expect(r.doc_id), r.doc_id

    # NULL keys: NULL split and shard, never routed into a range
    # (the CASE fallthrough would have put them ALL in 'test')
    nulled = split_assign(
        spark.createDataFrame([(None,), (7,)], "doc_id long"),
        F.col("doc_id"), splits, shards=4).collect()
    by_id = {r.doc_id: (r.split, r.shard) for r in nulled}
    assert by_id[None] == (None, None)
    assert by_id[7] == expect(7)


def test_split_assign_properties():
    """Pure-math properties of the split boundary arithmetic
    (hypothesis): for ANY width composition summing to the modulus,
    the CASE chain partitions [0, modulus) exactly — every hash value
    lands in exactly one split and each split receives exactly its
    width. Runs the same cumulative-boundary logic the Column
    expression encodes, so a boundary off-by-one (< vs <=) cannot
    ship silently."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=200, deadline=None)
    @given(
        widths=st.lists(st.integers(min_value=1, max_value=1000),
                        min_size=1, max_size=6),
    )
    def props(widths):
        modulus = sum(widths)
        names = [f"s{i}" for i in range(len(widths))]
        # reference: the cumulative-boundary assignment
        bounds = []
        acc = 0
        for w in widths:
            acc += w
            bounds.append(acc)

        def assign(h):
            for name, b in zip(names, bounds):
                if h < b:
                    return name
            return names[-1]

        counts = {n: 0 for n in names}
        for h in range(modulus):
            counts[assign(h)] += 1
        # exact partition: each split gets exactly its width
        assert [counts[n] for n in names] == widths

    props()


def test_hyperplane_incremental_pairs_semantics(spark):
    """llm41's operator (r13): the embedding-family twin of
    lsh_incremental_pairs. Pins: in-memory index == parquet
    roundtrip; geometry (bands from max(band)+1, bits from
    length(bits)) read from the table; dim REQUIRED (not
    recoverable); new-vs-old pairs only; old-side probed-bucket cap
    + light; broadcast probe (the old index never shuffles)."""
    import pytest

    from kinesis_alerts_consumer_spark.operators.dedup import (
        hyperplane_build_index,
        hyperplane_incremental_pairs,
    )

    base = [1.0, 2.0, 3.0, 4.0, -1.0, -2.0, -3.0, -4.0]
    old = spark.createDataFrame(
        [(i, [float(x) * (1 + 0.001 * i) for x in base])
         for i in range(20)]  # colinear cluster: one hot bucket
        + [(50, [4.0, -3.0, 2.0, -1.0, 0.5, 1.5, -2.5, 3.5])],
        "vec_id long, embedding array<double>",
    )
    new = spark.createDataFrame(
        # exact dup of 50 (identical signs at any sizing) + a vector
        # probing the colinear cluster's hot bucket + an orthogonal-ish
        # stranger
        [(1000, [4.0, -3.0, 2.0, -1.0, 0.5, 1.5, -2.5, 3.5]),
         (1001, [float(x) for x in base]),
         (1002, [-4.0, 3.0, -2.0, 1.0, -0.5, -1.5, 2.5, -3.5])],
        "vec_id long, embedding array<double>",
    )

    inline = hyperplane_incremental_pairs(
        new, old, dim=8, threshold=0.9,
        index=hyperplane_build_index(old, bands=4, bits_per_band=4, dim=8))
    got = {(r.a, r.b): r.cos for r in inline.collect()}
    assert got.get((50, 1000)) == 1.0
    assert all(a < 1000 and b >= 1000 for a, b in got)
    # the colinear probes pair at cos ~1 with the whole cluster
    assert (0, 1001) in got and got[(0, 1001)] >= 0.9

    idx = hyperplane_build_index(old, bands=4, bits_per_band=4, dim=8)
    prebuilt = hyperplane_incremental_pairs(
        new, old, dim=8, threshold=0.9, index=idx)
    assert {(r.a, r.b, r.cos) for r in prebuilt.collect()} == {
        (r.a, r.b, r.cos) for r in inline.collect()
    }
    # geometry from the index; a missing dim raises
    with pytest.raises(ValueError, match="dim is part"):
        hyperplane_incremental_pairs(new, old, index=idx)

    # a tight cap drops the probed hot bucket (20 colinear old
    # members), the light reports it, the quiet planted pair survives
    stats: dict = {}
    capped = hyperplane_incremental_pairs(
        new, old, idx, dim=8, threshold=0.9, max_bucket=4, stats=stats)
    capped_pairs = {(r.a, r.b) for r in capped.collect()}
    assert stats["overcap_buckets"] >= 1
    assert stats["dropped_members"] >= 20
    assert (0, 1001) not in capped_pairs
    assert (50, 1000) in capped_pairs

    # broadcast probe + parquet roundtrip (geometry re-derived)
    plan = prebuilt._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" in plan
    import tempfile

    d = tempfile.mkdtemp()
    idx.write.partitionBy("band").parquet(d + "/hp_index")
    idx2 = spark.read.parquet(d + "/hp_index")
    roundtrip = hyperplane_incremental_pairs(
        new, old, dim=8, threshold=0.9, index=idx2)
    assert {(r.a, r.b, r.cos) for r in roundtrip.collect()} == {
        (r.a, r.b, r.cos) for r in inline.collect()
    }


def test_hyperplane_new_index_path_identical_and_validated(spark, tmp_path):
    """r15 job-overlap plumbing: ``new_index=`` (the batch's own
    precomputed hyperplane_build_index table, checkpointed via
    checkpoint_index) must (a) produce the EXACT pair set of the
    in-line build — both come from hyperplane_build_index —
    (b) skip the geometry metadata aggregate when the checkpoint
    carried the build-site cache seed, and (c) raise on a geometry
    mismatch instead of silently losing recall. (d) A parquet-read
    ``new_index`` carries no cache seed, so its geometry comes from
    the metadata aggregate: same pairs, same mismatch raise, and an
    empty table raises instead of probing nothing."""
    import pytest

    from kinesis_alerts_consumer_spark.operators.dedup import (
        _INDEX_GEOM_CACHE,
        checkpoint_index,
        hyperplane_build_index,
        hyperplane_incremental_pairs,
    )

    base = [1.0, 2.0, 3.0, 4.0, -1.0, -2.0, -3.0, -4.0]
    old = spark.createDataFrame(
        [(i, [float(x) * (1 + 0.001 * i) for x in base])
         for i in range(6)]
        + [(50, [4.0, -3.0, 2.0, -1.0, 0.5, 1.5, -2.5, 3.5])],
        "vec_id long, embedding array<double>",
    )
    new = spark.createDataFrame(
        [(1000, [4.0, -3.0, 2.0, -1.0, 0.5, 1.5, -2.5, 3.5]),
         (1001, [float(x) for x in base])],
        "vec_id long, embedding array<double>",
    )
    idx = hyperplane_build_index(old, bands=4, bits_per_band=4, dim=8)
    inline = hyperplane_incremental_pairs(
        new, old, dim=8, threshold=0.9, index=idx)
    batch_idx = checkpoint_index(
        hyperplane_build_index(new, bands=4, bits_per_band=4, dim=8))
    # (b) the checkpoint carried the geometry seed — no metadata agg
    assert _INDEX_GEOM_CACHE.get(batch_idx) == (4, 4)
    via_new = hyperplane_incremental_pairs(
        new, old, dim=8, threshold=0.9, index=idx, new_index=batch_idx)
    assert {(r.a, r.b, r.cos) for r in via_new.collect()} == {
        (r.a, r.b, r.cos) for r in inline.collect()
    }
    # (c) mismatched geometry raises (same-width bits, other bands)
    wrong = checkpoint_index(
        hyperplane_build_index(new, bands=2, bits_per_band=4, dim=8))
    with pytest.raises(ValueError, match=r"new_index geometry \(2, 4\)"):
        hyperplane_incremental_pairs(
            new, old, dim=8, threshold=0.9, index=idx, new_index=wrong)

    # (d) parquet-read new_index: the uncached aggregate branch
    def read_back(name, emb, bands):
        path = str(tmp_path / name)
        hyperplane_build_index(
            emb, bands=bands, bits_per_band=4, dim=8
        ).write.parquet(path)
        return spark.read.parquet(path)

    read_idx = read_back("batch", new, 4)
    assert _INDEX_GEOM_CACHE.get(read_idx) is None
    via_read = hyperplane_incremental_pairs(
        new, old, dim=8, threshold=0.9, index=idx, new_index=read_idx)
    assert {(r.a, r.b, r.cos) for r in via_read.collect()} == {
        (r.a, r.b, r.cos) for r in inline.collect()
    }
    assert _INDEX_GEOM_CACHE.get(read_idx) == (4, 4)
    with pytest.raises(ValueError, match=r"new_index geometry \(2, 4\)"):
        hyperplane_incremental_pairs(
            new, old, dim=8, threshold=0.9, index=idx,
            new_index=read_back("wrong", new, 2))
    with pytest.raises(ValueError, match="empty"):
        hyperplane_incremental_pairs(
            new, old, dim=8, threshold=0.9, index=idx,
            new_index=read_back("empty", new.limit(0), 4))


def test_hyperplane_gated_fixture_candidate_volume_is_a_contract(spark):
    """VERDICT r12 item 4 (resolution: record, don't resize): llm39's
    gated literal (6, 6)/dim=64 IS the suggest_hyperplane_sizing
    answer at the fixture's corpus size, and the fixture is
    near-uniform, so buckets sit AT the 32-occupancy target — the
    bench entry's ~7-8 s at sf0.1 is ~203k genuine in-bucket verify
    cosines (6 bands x ~64 buckets x C(32,2) pairs), not a plan
    defect. Pin the exact candidate volume (threshold=-1.0 keeps
    every verified candidate) at both driver SFs so any plan or
    fixture drift that changes the cost is caught as a diff here, and
    the suite-tail cost stays an explained, recorded contract
    (BASELINE.md round-13 note)."""
    from kinesis_alerts_consumer_spark.operators.dedup import (
        hyperplane_lsh_pairs,
    )
    from kinesis_alerts_consumer_spark.plans.llm_queries import (
        _semdedup_base,
        _tables,
    )

    base = _semdedup_base(
        _tables(spark, "/root/testdata/sf0.01")["embeddings"])
    cand = hyperplane_lsh_pairs(
        base, bands=6, bits_per_band=6, threshold=-1.0, dim=64)
    assert base.count() == 560
    assert cand.count() == 14781  # measured r13; deterministic signs

    base1 = _semdedup_base(
        _tables(spark, "/root/testdata/sf0.1")["embeddings"])
    cand1 = hyperplane_lsh_pairs(
        base1, bands=6, bits_per_band=6, threshold=-1.0, dim=64)
    assert base1.count() == 2060
    assert cand1.count() == 203099  # the ~203k the bench entry pays


def test_hyperplane_signs_are_pinned():
    """The ±1 coefficients are plan-time literals shared by the Spark
    expression and the generated DuckDB oracle; pin a sample so a
    hash-recipe change cannot silently diverge committed oracles."""
    from kinesis_alerts_consumer_spark.operators.dedup import (
        _hyperplane_sign,
    )

    sample = [_hyperplane_sign(0, 0, j) for j in range(8)]
    assert sample == [-1, -1, 1, 1, 1, -1, 1, 1]
    assert all(_hyperplane_sign(b, r, 0) in (-1, 1)
               for b in range(3) for r in range(3))
    # deterministic across calls
    assert sample == [_hyperplane_sign(0, 0, j) for j in range(8)]


def test_pii_redaction_finds_planted_pii(spark):
    """Docs 0-49 carry one planted email/phone/IPv4 each; the rest of
    the fixture is word soup with none. Redacted text must hash
    differently from raw text exactly when PII was found."""
    fn, _ = LLM_QUERIES["llm18_pii_redaction"]
    rows = {r.doc_id: r for r in fn(spark, SF_SMOKE).collect()}
    assert rows[0].n_email == 1 and rows[0].n_phone == 1
    assert rows[0].n_ipv4 == 1
    clean = [r for d, r in rows.items() if d >= 50]
    assert clean and all(
        r.n_email == 0 and r.n_phone == 0 and r.n_ipv4 == 0 for r in clean
    )


def test_chunk_documents_overlapping_windows(spark):
    """250 words, width=100, stride=90 -> 3 chunks of 100/100/70 whose
    word spans overlap by 10."""
    from kinesis_alerts_consumer_spark.operators.text import chunk_documents

    text = " ".join(f"w{i}" for i in range(250))
    docs = spark.createDataFrame([(1, text)], "doc_id long, text string")
    rows = sorted(
        chunk_documents(docs, width=100, stride=90).collect(),
        key=lambda r: r.chunk_id,
    )
    assert [r.n_words for r in rows] == [100, 100, 70]
    assert len({r.chunk_fp for r in rows}) == 3


def test_contamination_planted_overlap(spark):
    """Exact copy of a benchmark doc scores 1.0, disjoint text 0.0,
    and a half-overlapping doc the exact shingle fraction."""
    from kinesis_alerts_consumer_spark.operators.dedup import (
        contamination_scores,
    )

    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon")],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon"),  # full copy -> 1.0
            (2, "zeta eta theta iota kappa"),  # disjoint -> 0.0
            (3, "alpha beta gamma nu xi"),  # 1 of 3 shingles hit
            (4, "too short"),  # <3 words -> dropped
        ],
        "doc_id long, text string",
    )
    rows = {
        r.doc_id: r
        for r in contamination_scores(corpus, bench, shingle=3).collect()
    }
    assert set(rows) == {1, 2, 3}
    assert rows[1].contamination == 1.0 and rows[1].n_hit == 3
    assert rows[2].contamination == 0.0 and rows[2].n_hit == 0
    assert rows[3].n_shingles == 3 and rows[3].n_hit == 1
    assert rows[3].contamination == round(1 / 3, 6)


def test_cross_snapshot_dedup_planted(spark):
    """New-snapshot groups: content already in the old snapshot is
    dropped; new duplicates collapse to one group with copies=2."""
    from kinesis_alerts_consumer_spark.operators.dedup import (
        incremental_new_docs,
    )

    old = spark.createDataFrame(
        [(0, "seen before"), (2, "also old")], "doc_id long, text string"
    )
    new = spark.createDataFrame(
        [
            (1, "seen before"),  # in old -> dropped
            (3, "brand new"),
            (5, "brand new"),  # dup within new -> copies 2
            (7, "also fresh"),
        ],
        "doc_id long, text string",
    )
    got = {
        (r.keep_id, r.copies)
        for r in incremental_new_docs(new, old).collect()
    }
    assert got == {(3, 2), (7, 1)}


def test_ngram_repetition_constructed_doc(spark):
    """'a b c' repeated 3x: 7 trigrams, 3 distinct, top gram 'a b c'
    appears 3 times."""
    from kinesis_alerts_consumer_spark.operators.text import (
        ngram_repetition,
    )

    docs = spark.createDataFrame(
        [(1, "a b c a b c a b c"), (2, "x y")],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in ngram_repetition(docs, n=3).collect()}
    assert set(rows) == {1}  # doc 2 has < 3 words
    r = rows[1]
    assert (r.n_grams, r.n_distinct) == (7, 3)
    assert r.dup_frac == round(1 - 3 / 7, 6)
    assert r.top_share == round(3 / 7, 6)


def test_adaptive_sign_bits_constant_occupancy():
    """Integer-exact adaptive-k formula: smallest k with 2^k >=
    ceil(n/target), clamped [1,16] — and the DuckDB twin expression
    (length(bin(x-1))) agrees on every boundary."""
    import duckdb

    from kinesis_alerts_consumer_spark.operators.dedup import (
        adaptive_sign_bits,
    )

    con = duckdb.connect()
    for n in (1, 31, 32, 33, 63, 64, 65, 500, 510, 5010, 50010, 10**7):
        k = adaptive_sign_bits(n)
        assert 2**k >= (n + 31) // 32 or k == 16
        assert k == 1 or 2 ** (k - 1) < (n + 31) // 32
        duck_k = con.execute(
            "SELECT LEAST(GREATEST(length(bin(CAST(ceil(? / 32.0) AS "
            "BIGINT) - 1)), 1), 16)",
            [n],
        ).fetchone()[0]
        assert duck_k == k, (n, k, duck_k)


def test_pq_topk_recall_vs_exact(spark):
    """llm24's PQ ADC (m=8, 16-entry codebooks) + exact re-rank of a
    200-deep shortlist: recall@5 against brute force stays well above chance,
    and every returned cosine is an EXACT cosine (re-ranked), so any
    overlapping (query, neighbor) pair agrees with brute force."""
    exact = {
        (r.query_id, r.neighbor_id): r.cos
        for r in LLM_QUERIES["llm06_ann_cosine_topk"][0](
            spark, SF_SMOKE
        ).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id): r.cos
        for r in LLM_QUERIES["llm24_ann_cosine_topk_pq"][0](
            spark, SF_SMOKE
        ).collect()
    }
    hits = exact.keys() & approx.keys()
    recall = len(hits) / len(exact)
    assert recall > 0.2, f"PQ recall collapsed: {recall}"
    assert all(exact[p] == approx[p] for p in hits)


def test_mixture_plan_invariants(spark):
    """T=2 mixing plan: weights sum to ~1, rates bounded (0,1],
    expected tokens never exceed the stratum, and a stratum smaller
    than its target share is taken whole (rate 1)."""
    from kinesis_alerts_consumer_spark.operators.sampling import (
        mixture_plan,
    )
    from kinesis_alerts_consumer_spark.sources import register_tables

    t = register_tables(spark, SF_SMOKE)
    rows = mixture_plan(t["documents"]).collect()
    assert rows
    assert abs(sum(r.weight for r in rows) - 1.0) < 1e-4
    for r in rows:
        assert 0 < r.rate <= 1.0
        assert 0 <= r.expected_tokens <= r.n_tokens
    total = sum(r.n_tokens for r in rows)
    # a low-resource stratum whose weight*budget exceeds its own size
    # must be fully kept
    for r in rows:
        if r.weight * (total * 0.5) >= r.n_tokens:
            assert r.rate == 1.0
    import pytest as _pytest

    with _pytest.raises(ValueError):
        mixture_plan(t["documents"], temperature=1.5)


def test_ann_recall_gate_sf01(spark):
    """The r5 recall gate (VERDICT r4 item 5): every approximate ANN
    variant must reach recall@5 >= 0.8 against llm06's exact top-k at
    sf0.1. The hash oracles prove determinism, not retrieval quality —
    this catches a parameter change that silently guts recall
    (measured at the current params: lsh 0.90, ivf 0.90, pq 0.86)."""
    sf = "/root/testdata/sf0.1"
    exact = {
        (r.query_id, r.neighbor_id)
        for r in LLM_QUERIES["llm06_ann_cosine_topk"][0](spark, sf).collect()
    }
    for name in (
        "llm07_ann_cosine_topk_lsh",
        "llm13_ann_cosine_topk_ivf",
        "llm24_ann_cosine_topk_pq",
    ):
        approx = {
            (r.query_id, r.neighbor_id)
            for r in LLM_QUERIES[name][0](spark, sf).collect()
        }
        recall = len(exact & approx) / len(exact)
        assert recall >= 0.8, f"{name} recall@5 {recall} < 0.8 at sf0.1"


def test_semantic_dedup_drops_planted_copies(spark):
    """llm27 semantics on the planted base: every EXACT copy
    (+1000000, cos=1) is dropped at threshold 0.9; totals add up; the
    original corpus (no copies) drops nothing (the fixture's natural
    max cosine is ~0.51)."""
    from kinesis_alerts_consumer_spark.operators.similarity import (
        semantic_dedup,
    )
    from kinesis_alerts_consumer_spark.plans.llm_queries import (
        _semdedup_base,
    )
    from kinesis_alerts_consumer_spark.sources import register_tables

    emb = register_tables(spark, SF_SMOKE)["embeddings"]
    base = _semdedup_base(emb)
    rows = semantic_dedup(base, threshold=0.9).collect()
    n_total = base.count()
    assert sum(r.n_members for r in rows) == n_total
    dropped = sum(r.n_members - r.n_kept for r in rows)
    # all 30 exact copies must go; perturbed copies are data-dependent
    assert dropped >= 30
    assert all(r.n_kept >= 1 for r in rows)

    pristine = semantic_dedup(
        emb.select("vec_id", "embedding"), threshold=0.9
    ).collect()
    assert all(r.n_members == r.n_kept for r in pristine)


def test_source_cap_keeps_best_per_source(spark):
    from kinesis_alerts_consumer_spark.operators.sampling import source_cap
    from kinesis_alerts_consumer_spark.sources import register_tables

    docs = register_tables(spark, SF_SMOKE)["documents"]
    out = source_cap(docs, cap=5).collect()
    per = {}
    for r in out:
        per.setdefault(r.source, []).append(r.rnk)
    assert all(sorted(v) == list(range(1, len(v) + 1)) and len(v) <= 5
               for v in per.values())
    # kept docs per source are exactly the 5 longest (doc_id tie-break)
    import itertools

    want = {}
    for r in docs.select("doc_id", "source", "n_chars").collect():
        want.setdefault(r.source, []).append((-r.n_chars, r.doc_id))
    for src, lst in want.items():
        top = {d for _, d in sorted(lst)[:5]}
        got = {r.doc_id for r in out if r.source == src}
        assert got == top, src


def test_passage_dedup_constructed_blocks(spark):
    """A doc repeating another doc's blocks keeps only novel blocks;
    the canonical (first) occurrence keeps everything."""
    from kinesis_alerts_consumer_spark.operators.dedup import passage_dedup

    a = " ".join(f"w{i}" for i in range(16))        # blocks A0 A1
    b = " ".join(f"w{i}" for i in range(8)) + " " + " ".join(
        f"x{i}" for i in range(8)
    )                                                # blocks A0 B1
    c = " ".join(f"x{i}" for i in range(8))          # block B1 again
    docs = spark.createDataFrame(
        [(1, a), (2, b), (3, c)], "doc_id bigint, text string"
    )
    got = {r.doc_id: r for r in passage_dedup(docs, block=8).collect()}
    assert got[1].n_dup_blocks == 0 and got[1].kept_tokens == 16
    # doc 2: first block duplicates doc 1's first block
    assert got[2].n_dup_blocks == 1 and got[2].kept_tokens == 8
    # doc 3: its only block already appeared in doc 2
    assert got[3].n_dup_blocks == 1 and got[3].kept_tokens == 0
    # scrubbed-empty doc hashes the empty string, not NULL
    import hashlib

    assert got[3].kept_fp == hashlib.md5(b"").hexdigest()


def test_knn_classify_planted_clusters(spark):
    """Probes sitting exactly on a training vector take its label."""
    from kinesis_alerts_consumer_spark.operators import similarity as S
    from pyspark.sql import functions as F

    from kinesis_alerts_consumer_spark.sources import register_tables

    emb = register_tables(spark, SF_SMOKE)["embeddings"]
    # training copies of each probe vector, planted with label 7
    # (+500000 puts every plant on the train side of the id split)
    planted = emb.filter(F.col("vec_id") < 20).select(
        (F.col("vec_id") + 500000).alias("vec_id"),
        "embedding",
        F.lit(7).alias("label"),
    )
    out = S.knn_classify(
        emb.unionByName(planted), k=1, num_probes=20
    ).collect()
    preds = {r.query_id: r.pred_label for r in out}
    # with k=1 every probe must take its plant's label (cos=1.0 beats
    # every organic neighbor, max organic cos ~0.51)
    for qid in range(20):
        assert preds[qid] == 7, (qid, preds[qid])


def test_label_centroids_exact_mean(spark):
    """Centroid equals the quantized elementwise mean, label-complete."""
    from kinesis_alerts_consumer_spark.operators.similarity import (
        label_centroids,
    )
    from kinesis_alerts_consumer_spark.sources import register_tables

    emb = register_tables(spark, SF_SMOKE)["embeddings"]
    rows = label_centroids(emb).collect()
    import math
    from collections import defaultdict

    want = defaultdict(list)
    for r in emb.select("label", "embedding").collect():
        want[r.label].append(r.embedding)
    got = {(r.label, r.pos): (r.n, r.c_micro) for r in rows}
    for label, vecs in want.items():
        for pos in (0, 31, 63):
            s = sum(math.floor(float(v[pos]) * 1e6) for v in vecs)
            n = len(vecs)
            # round-half-away(|s|/n), the engines' floor identity
            exp = math.floor((2 * abs(s) + n) / (2.0 * n)) * (
                -1 if s < 0 else 1
            )
            gn, gc = got[(label, pos)]
            assert gn == n and gc == exp, (label, pos, gc, exp)


def test_curation_pipeline_stages_monotone(spark):
    """Each curation stage only removes docs; the final profile is a
    subset of the raw corpus profile."""
    from kinesis_alerts_consumer_spark.plans.llm_queries import (
        LLM_QUERIES,
        _tables,
    )
    from pyspark.sql import functions as F

    fn, _ = LLM_QUERIES["llm31_curation_pipeline"]
    prof = fn(spark, SF_SMOKE).collect()
    docs = _tables(spark, SF_SMOKE)["documents"]
    raw = {
        (r.lang, r.source): r.n
        for r in docs.filter(F.col("doc_id") % 97 != 0)
        .groupBy("lang", "source")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert prof, "curation pipeline returned an empty profile"
    total_kept = sum(r.n_docs for r in prof)
    total_raw = sum(raw.values())
    assert 0 < total_kept < total_raw
    for r in prof:
        assert r.n_docs <= raw[(r.lang, r.source)]


def test_random_projection_preserves_norms(spark):
    """The JL guarantee this sketch provides: E[||Px||^2] =
    out_dim * ||x||^2 with per-vector deviation ~sqrt(2/out_dim).
    (Rank-ordering of cosines is NOT gated: the fixture embeddings
    are uniform-random, so all pairwise distances are nearly equal
    and any sketch's ordering of them is noise — measured rho 0.36 at
    8 dims, 0.55 even at 32; on clustered real data neighborhoods
    survive, but the honest testable property HERE is the norm
    bound.)"""
    from kinesis_alerts_consumer_spark.operators.similarity import (
        random_projection,
    )
    from kinesis_alerts_consumer_spark.sources import register_tables

    emb = register_tables(spark, SF_SMOKE)["embeddings"]
    vecs = {r.vec_id: list(r.embedding) for r in emb.collect()}
    out_dim = 16
    proj = {
        r.vec_id: [r[f"p{k}"] for k in range(out_dim)]
        for r in random_projection(emb, out_dim=out_dim).collect()
    }
    ratios = []
    for vid, v in vecs.items():
        nx = sum(x * x for x in v)
        np_ = sum(p * p for p in proj[vid])
        assert nx > 0
        ratios.append(np_ / (out_dim * nx))
    mean = sum(ratios) / len(ratios)
    assert 0.85 <= mean <= 1.15, f"norm scaling off: mean={mean:.3f}"
    assert all(0.25 <= r <= 2.5 for r in ratios), (
        min(ratios), max(ratios)
    )


def test_containment_detects_subset_at_full_ppm(spark):
    """A document whose shingles are a strict subset of another's must
    score containment of EXACTLY 1_000_000 ppm in the subset→superset
    direction (integer math, no rounding slack), while Jaccard for the
    same pair can sit well below a near-dup threshold — the asymmetric
    relation llm36 exists to catch."""
    from kinesis_alerts_consumer_spark.operators import dedup as D

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g h i j k l m n o p q r s t"),
            # doc 2 = first 8 words of doc 1: every 3-shingle of doc 2
            # is a shingle of doc 1; Jaccard = 6/18 = 0.33
            (2, "a b c d e f g h"),
            (3, "z y x w v u t s r q"),
        ],
        "doc_id long, text string",
    )
    cands = spark.createDataFrame(
        [(1, 2), (1, 3)], "a long, b long"
    )
    rows = {
        (r.a, r.b): (r.cont_a_ppm, r.cont_b_ppm)
        for r in D.containment_pairs(
            docs, cands, shingle=3, threshold_ppm=800_000
        ).collect()
    }
    # (1,2): b-in-a containment is exact 1e6; a-in-b is 6/18
    assert rows == {(1, 2): (333333, 1000000)}, rows


def test_domain_affinity_separates_target_and_disjoint_docs(spark):
    from kinesis_alerts_consumer_spark.operators import text as T

    docs = spark.createDataFrame(
        [
            # en docs: all tokens target-dominated; doc 4's stray
            # non-target 'the' dilutes them to exactly 5/6
            (1, "the cat sat", "en"),
            (2, "the dog sat", "en"),
            # zh doc with disjoint vocab -> sum_tgt == 0 -> affinity 0
            (3, "猫 坐 了", "zh"),
            # mixed doc: 'the' (df_all=3, df_tgt=2 after this doc adds
            # one non-target instance... counts are corpus-wide) plus a
            # private token -> strictly between 0 and 1e6
            (4, "the 坐", "fr"),
        ],
        "doc_id long, text string, lang string",
    )
    rows = {
        r.doc_id: r.affinity_ppm
        for r in T.domain_affinity(docs, target_lang="en").collect()
    }
    # doc 1: the(df_all=3, df_tgt=2) cat(1,1) sat(2,2) ->
    # floor(1e6 * 5/6); doc 2 mirrors it with dog(1,1)
    assert rows[1] == 833_333 and rows[2] == 833_333
    assert rows[3] == 0
    # doc 4: tokens 'the' (df_all=3, df_tgt=2) and '坐' (df_all=2,
    # df_tgt=0) -> floor(1e6 * 2 / 5) = 400000
    assert rows[4] == 400_000


def test_bloom_snapshot_dedup_exact_under_heavy_collisions(spark):
    """The bloom pre-screen's output must be IDENTICAL to the plain
    anti-join for any sketch sizing: a deliberately tiny bitmap
    (64 bits, k=2, hundreds of fps) forces a high false-positive rate
    through the exact-verify branch, and a roomy bitmap sends most
    rows through the definitely-new branch — both must agree with
    incremental_new_docs exactly."""
    from pyspark.sql import functions as F

    from kinesis_alerts_consumer_spark.operators import dedup as D

    docs = spark.createDataFrame(
        [(i, f"doc number {i % 37} body") for i in range(200)],
        "doc_id long, text string",
    )
    old = docs.filter(F.col("doc_id") % 3 == 0)
    new = docs.filter(F.col("doc_id") % 3 != 0)
    plain = sorted(
        map(tuple, D.incremental_new_docs(new, old).collect())
    )
    for m_bits, k in ((64, 2), (1 << 16, 4)):
        got = sorted(
            map(
                tuple,
                D.incremental_new_docs_bloom(
                    new, old, m_bits=m_bits, k=k).collect(),
            )
        )
        assert got == plain, (m_bits, k)


def test_bloom_probe_has_no_false_negatives(spark):
    """Every fp inserted into the bitmap must probe positive — the
    property the definitely-new fast path's correctness rests on."""
    from pyspark.sql import functions as F

    from kinesis_alerts_consumer_spark.operators.dedup import (
        bloom_probe,
        bloom_words,
    )

    fps = spark.createDataFrame(
        [(f"fp-{i}",) for i in range(500)], "fp string"
    )
    words = bloom_words(fps, m_bits=1 << 12, k=3)
    probed = bloom_probe(fps, words, 1 << 12, 3)
    assert probed.filter(F.col("_maybe")).count() == 500
    # and the probe columns are cleaned up
    assert set(probed.columns) == {"fp", "_maybe"}


def test_bloom_word_mask_safe_for_raw_hash_input(spark):
    """_bloom_word_mask pmods its input into [0, m_bits) itself
    (ADVICE r10): a caller passing a RAW xxhash64 value — negative
    half included — must get the same (word, mask) as one who
    pre-pmods, instead of silently corrupted negative word indices."""
    from pyspark.sql import functions as F

    from kinesis_alerts_consumer_spark.operators.dedup import (
        _bloom_word_mask,
    )

    m_bits = 1 << 12
    raw = spark.createDataFrame(
        [(h,) for h in (-1, -(1 << 62), 0, 63, 64, (1 << 62) + 7)],
        "h long",
    )
    w_raw, m_raw = _bloom_word_mask(F.col("h"), m_bits)
    w_pre, m_pre = _bloom_word_mask(F.pmod(F.col("h"), F.lit(m_bits)), m_bits)
    rows = raw.select(
        w_raw.alias("wr"), m_raw.alias("mr"),
        w_pre.alias("wp"), m_pre.alias("mp"),
    ).collect()
    for r in rows:
        assert r.wr == r.wp and r.mr == r.mp, r
        assert 0 <= r.wr < m_bits // 64
        assert r.mr != 0


def test_bloom_probe_rejects_colliding_input_columns(spark):
    """bloom_probe's temp/flag names must not silently shadow caller
    columns (ADVICE r9: an input already carrying _w0/_m0/_word0 or
    the flag name would produce ambiguous refs or a wrong drop)."""
    import pytest

    from kinesis_alerts_consumer_spark.operators.dedup import (
        bloom_probe,
        bloom_words,
    )

    fps = spark.createDataFrame([("a",)], "fp string")
    words = bloom_words(fps, m_bits=64, k=2)
    for bad_col in ("_w0", "_m1", "_word0", "_maybe"):
        poisoned = fps.withColumn(bad_col, fps.fp)
        with pytest.raises(ValueError, match="collide"):
            bloom_probe(poisoned, words, 64, 2)
    # a collision OUTSIDE the k range in use is not a collision
    ok = fps.withColumn("_w5", fps.fp)
    assert bloom_probe(ok, words, 64, 2).count() == 1
    # a custom flag name moves the reserved set with it
    with pytest.raises(ValueError, match="collide"):
        bloom_probe(
            fps.withColumn("hit", fps.fp), words, 64, 2, flag="hit"
        )
    # a flag named like a temp column would be dropped by the probe's
    # own cleanup, returning NO flag at all (r10 review finding) —
    # rejected even when the input carries no such column
    for bad_flag in ("_w0", "_m1", "_word0"):
        with pytest.raises(ValueError, match="temp"):
            bloom_probe(fps, words, 64, 2, flag=bad_flag)


def test_dot_inline_cast_bit_identical_to_reference_form(spark):
    """similarity.dot moved the element cast INSIDE the zip_with
    lambda (r14 optimization: drops two intermediate double-array
    materializations per evaluation). Same element ops, same
    sequential fold from 0.0 — results must be BIT-identical to the
    old transform-then-zip reference form on every edge the operator
    meets: ragged lengths (zip_with null-pads), NULL elements, empty
    and NULL arrays, -0.0 and denormal-ish values."""
    from pyspark.sql import functions as F

    from kinesis_alerts_consumer_spark.operators.similarity import dot

    def dot_reference(a, b):
        d = lambda c: F.transform(c, lambda x: x.cast("double"))  # noqa: E731
        return F.aggregate(
            F.zip_with(d(a), d(b), lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    rows = [
        ([1.5, -2.25, 3.0], [4.0, 0.5, -1.0]),
        ([-0.0, 1e-38, -1e38], [7.25, 3.5, 1.0]),
        ([1.0, 2.0], [1.0, 2.0, 3.0]),          # ragged: null-padded
        ([], [1.0]),                              # empty vs non-empty
        ([1.0, None, 3.0], [1.0, 1.0, 1.0]),      # NULL element
        (None, [1.0]),                            # NULL array
        ([0.1, 0.2, 0.3], [0.3, 0.2, 0.1]),       # inexact decimals
    ]
    df = spark.createDataFrame(rows, "a array<float>, b array<float>")
    got = df.select(
        dot(F.col("a"), F.col("b")).alias("new"),
        dot_reference(F.col("a"), F.col("b")).alias("ref"),
    ).collect()
    import struct

    for r in got:
        pack = lambda v: struct.pack(">d", v) if v is not None else None  # noqa: E731
        assert pack(r["new"]) == pack(r["ref"]), (r["new"], r["ref"])
