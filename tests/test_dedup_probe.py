"""The MinHash signature pass, the exact-Jaccard verify and the banded
incremental probes: values against independent references, and the
number of Spark jobs one probe and one st10 micro-batch cost."""

from __future__ import annotations

import hashlib
import uuid

# every shape the shingle code has a special case for: NULL, empty,
# whitespace only, fewer tokens than the shingle width, repeated
# shingles, irregular whitespace
TEXTS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "the quick brown fox jumps over the lazy cat"),
    (3, "  the   quick\tbrown fox  "),
    (4, None),
    (5, ""),
    (6, "   "),
    (7, "two words"),
    (8, "solo"),
    (9, "spam spam spam spam spam spam"),
    (10, "the lazy dog the lazy dog"),
]


def _shingles(text: str | None, n: int) -> set[str]:
    if text is None:
        return set()
    toks = text.split()
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def _h60(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _docs(spark):
    return spark.createDataFrame(TEXTS, "doc_id long, text string")


def test_minhash_signatures_match_per_shingle_min(spark):
    """``mh{j}`` is min over the doc's shingles s of
    ``hash60(j || ':' || s)``: per (doc, hash) against a hashlib
    reference built here, at shingle widths 1 and 3. A doc with no
    shingle (NULL, empty, blank, too short) gets an all-NULL
    signature."""
    from kinesis_alerts_consumer_spark.operators.dedup import (
        minhash_signatures,
    )

    for n in (1, 3):
        got = {
            r.doc_id: tuple(r[f"mh{j}"] for j in range(4))
            for r in minhash_signatures(
                _docs(spark), num_hashes=4, shingle=n).collect()
        }
        want = {}
        for doc_id, text in TEXTS:
            sh = _shingles(text, n)
            want[doc_id] = tuple(
                min(_h60(f"{j}:{s}") for s in sh) if sh else None
                for j in range(4))
        assert got == want, n
    # the fixture does reach the no-shingle case at both widths
    assert want[4] == want[5] == want[6] == want[7] == (None,) * 4


def test_jaccard_pairs_scores_null_empty_and_short_texts(spark):
    """Every pair's score, threshold 0: |A ∩ B| / |A ∪ B| over distinct
    shingles (a Python set reference), and 0.0 whenever the
    intersection is empty — which covers NULL, empty and
    fewer-than-n-token texts. Over every pair and over a subset of
    them, at shingle widths 1 and 3."""
    from kinesis_alerts_consumer_spark.operators.dedup import jaccard_pairs

    texts = dict(TEXTS)
    ids = sorted(texts)
    all_pairs = [(a, b) for a in ids for b in ids if a < b]
    every = spark.createDataFrame(all_pairs, "a long, b long")
    cands = spark.createDataFrame(
        [(a, b) for a, b in all_pairs if (a + b) % 3], "a long, b long")
    for n in (1, 3):
        want = {}
        for a, b in all_pairs:
            sa, sb = _shingles(texts[a], n), _shingles(texts[b], n)
            inter = len(sa & sb)
            want[(a, b)] = inter / len(sa | sb) if inter else 0.0
        for candidates in (every, cands):
            got = {
                (r.a, r.b): r.jaccard
                for r in jaccard_pairs(
                    _docs(spark), candidates, shingle=n,
                    threshold=0.0).collect()
            }
            keys = set(all_pairs) if candidates is every else {
                (r.a, r.b) for r in cands.collect()}
            assert set(got) == keys, (n, candidates is every)
            for k in keys:
                assert abs(got[k] - want[k]) < 1e-6, (n, k, got[k], want[k])
        # the fixture has overlapping and disjoint pairs at each width
        assert any(0.0 < v < 1.0 for v in want.values())
        assert any(v == 0.0 for v in want.values())


def _count_jobs(spark, fn) -> int:
    """Spark jobs started by ``fn()``, counted through a job group of
    this thread (the device perfbench's ``job_counter`` uses)."""
    sc = spark.sparkContext
    group = "jobpin-" + uuid.uuid4().hex[:8]
    sc.setJobGroup(group, "job-count pin")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_incremental_probe_job_count(spark, tmp_path):
    """Jobs for one probe + ``collect()`` against a parquet-read index,
    for both banded families: the geometry aggregate, the batch
    signature checkpoint, the candidate checkpoint (candidates built
    once, spread before their distinct) and the verify, each with its
    AQE query-stage jobs. A probe that recomputes the candidate
    lineage for the verify's id sets costs 31 jobs (lsh) and 21-22
    (hyperplane) here. The counts are ceilings: AQE can run a small
    stage inside a neighbour's job, which measured one job fewer on
    some runs."""
    from kinesis_alerts_consumer_spark.operators.dedup import (
        hyperplane_build_index,
        hyperplane_incremental_pairs,
        lsh_build_index,
        lsh_incremental_pairs,
    )

    old = spark.createDataFrame(
        [(i, f"shared common tokens alpha beta gamma delta doc {i}")
         for i in range(30)]
        + [(50, "the quick brown fox jumps over the lazy dog today")],
        "doc_id long, text string")
    new = spark.createDataFrame(
        [(1000, "the quick brown fox jumps over the lazy dog today"),
         (1001, "novel text that matches nothing in the old corpus"),
         (1002, "shared common tokens alpha beta gamma delta doc 0")],
        "doc_id long, text string")
    lsh_dir = str(tmp_path / "lsh_index")
    lsh_build_index(old, bands=2, rows_per_band=2, shingle=3) \
        .write.partitionBy("band").parquet(lsh_dir)

    def lsh_probe():
        return lsh_incremental_pairs(
            new, old, shingle=3, threshold=0.5, max_bucket=64,
            index=spark.read.parquet(lsh_dir)).collect()

    emb_old = spark.createDataFrame(
        [(i, [1.0 + 0.01 * i, 2.0, -1.0, 0.5]) for i in range(20)]
        + [(50, [4.0, -3.0, 2.0, -1.0])],
        "vec_id long, embedding array<double>")
    emb_new = spark.createDataFrame(
        [(1000, [4.0, -3.0, 2.0, -1.0]), (1001, [1.0, 2.0, -1.0, 0.5]),
         (1002, [-1.0, -1.0, -1.0, -1.0])],
        "vec_id long, embedding array<double>")
    hp_dir = str(tmp_path / "hp_index")
    hyperplane_build_index(emb_old, bands=4, bits_per_band=4, dim=4) \
        .write.partitionBy("band").parquet(hp_dir)

    def hp_probe():
        return hyperplane_incremental_pairs(
            emb_new, emb_old, dim=4, threshold=0.9, max_bucket=16,
            index=spark.read.parquet(hp_dir)).collect()

    # warm: same answers as a second run, and nothing cached that the
    # counted runs could skip (each reads its index anew)
    assert {(r.a, r.b) for r in lsh_probe()} >= {(50, 1000), (0, 1002)}
    assert (50, 1000) in {(r.a, r.b) for r in hp_probe()}
    assert _count_jobs(spark, lsh_probe) <= 21
    assert _count_jobs(spark, hp_probe) <= 19


def test_absorbing_step_job_count(spark, tmp_path):
    """Jobs for one st10 micro-batch (``absorbing_dedup_step``: probe,
    within-batch pairs, sink, absorb) against a parquet-read index.
    The batch's band table is checkpointed through
    ``checkpoint_index``, which carries the build-site geometry, so
    neither the probe's ``new_index`` check nor the within-batch
    ``lsh_candidate_pairs(index=)`` runs a ``max(band)`` aggregate on
    the checkpoint: 26 jobs here, against 28 with a bare
    ``localCheckpoint``. The count is a ceiling, like the probe pin
    above."""
    import os

    from kinesis_alerts_consumer_spark.operators.dedup import lsh_build_index
    from kinesis_alerts_consumer_spark.plans.streaming_queries import (
        absorbing_dedup_step,
    )

    old = spark.createDataFrame(
        [(i, f"shared common tokens alpha beta gamma delta doc {i}")
         for i in range(30)]
        + [(50, "the quick brown fox jumps over the lazy dog today")],
        "doc_id long, text string")
    new = spark.createDataFrame(
        [(1000, "the quick brown fox jumps over the lazy dog today"),
         (1001, "novel text that matches nothing in the old corpus"),
         (1002, "novel text that matches nothing in the old corpus too")],
        "doc_id long, text string")

    def step(root):
        idx_path = os.path.join(root, "index")
        corpus_path = os.path.join(root, "corpus")
        out = os.path.join(root, "out")
        lsh_build_index(old, bands=2, rows_per_band=2, shingle=3) \
            .write.partitionBy("band").parquet(idx_path)
        old.write.parquet(corpus_path)

        def run():
            absorbing_dedup_step(
                spark, new, 0, idx_path, corpus_path, out, bands=2,
                rows_per_band=2, shingle=3, threshold=0.5, max_bucket=64)

        return run, os.path.join(out, "b0")

    # warm on one copy of the tables, count on a fresh one
    warm, _ = step(str(tmp_path / "warm"))
    warm()
    counted, b0 = step(str(tmp_path / "counted"))
    jobs = _count_jobs(spark, counted)
    pairs = {(r.a, r.b) for r in spark.read.parquet(b0).collect()}
    assert {(50, 1000), (1001, 1002)} <= pairs, pairs
    assert jobs <= 26, jobs
