"""Planted-recall harness for the similarity-search operators.

Re-runs the recall figures BASELINE.md records for banded and
incremental near-duplicate search over a standing index, and for the
ANN top-k ladder. One deterministic Spark-side synthesizer per data
kind, one scorer, and a ``--mode`` that picks the operator path:

    text-batch        lsh_candidate_pairs + jaccard_pairs over corpus + batch
    text-probe        lsh_build_index of the corpus, lsh_incremental_pairs
    text-stream       the st09 shape: the batch replayed as a file stream,
                      each micro-batch probing the index in foreachBatch
    text-absorb       the st10 shape: absorbing_dedup_step per micro-batch
                      against a hardlinked copy of the index and corpus
    media-batch       media_near_dup_pairs over corpus + batch
    media-probe       media_block_index of the corpus, media_incremental_pairs
    sign              embedding_near_dup_pairs (one axis-aligned sign band)
    hyperplane        hyperplane_lsh_pairs(sizing="auto") over corpus + batch
    hyperplane-probe  hyperplane_build_index of the corpus,
                      hyperplane_incremental_pairs
    ann-ivf           cosine_topk_ivf recall@k against cosine_topk
    ann-lsh           cosine_topk_lsh recall@k against cosine_topk
    ann-pq            cosine_topk_pq recall@k against cosine_topk

Data kinds (ids ``0..n-1``; planted mutants are ``seed + 10^10``,
beyond the corpus id space, so the ground truth is ``(seed, mutant)``):

- text: 30 tokens per doc drawn from a 50k vocab by
  ``xxhash64(prefix id:pos)``, so the background trigram Jaccard is ~0.
  The batch holds ``--k`` mutants of evenly spaced corpus seeds, with
  every ``--mutate-every``-th token replaced (the default 16 replaces
  token 15 alone: J3 = 25/31 ~ 0.806, at suggest_lsh_sizing's 0.8
  design threshold), plus ``--m - --k`` fresh docs from a disjoint
  token stream that near-dup nothing. Shingle 3, verify at J >= 0.5.
- media: the same texts cast to binary; each planted copy is its seed
  with a 25-byte trailer appended (the appended-metadata class that
  offset-aligned 16-byte blocks target).
- vec: ``--dim`` hash-uniform coordinates in [-1, 1); each mutant sits
  at cosine ``--cos`` to its seed exactly (a rotation towards a fixed
  direction orthogonalized against the seed). Verify at cos >= 0.9.
- ann: clustered vectors, ``--clusters`` hash-derived centers plus
  0.35-scale noise, no plants; scored as recall@5 of the 20 lowest ids
  against brute-force cosine top-k.

Each data set is written once under ``--scratch``, in a directory
named after every argument that shapes it and ``SYNTH_VERSION``. A
run under other arguments, or after a change to the synthesis, writes
its own directory and never scores against another's planted set.
Indexes sit beside the data under a name carrying their sizing and are
reused by later runs; delete one to time its build again.

Usage:
    python scripts/recall_probe.py --mode MODE [--n N] [--m M] [--k K]
        [--bands B --rows R] [--max-bucket C] [...]

Prints one JSON line: the sizing, planted recall x/K (recall@k for
ANN), the pair count, the ``stats`` light and the walls in seconds.
Defaults run in a few minutes on 4 vCPUs; the certified figures used
``--n`` 1M-5M and SPARK_GRAFT_DRIVER_MEM=48g.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from kinesis_alerts_consumer_spark.operators import (  # noqa: E402
    dedup,
    multimodal,
    similarity,
)
from kinesis_alerts_consumer_spark.plans.streaming_queries import (  # noqa: E402
    _batch_dirs,
    absorbing_dedup_step,
)

# Part of every data directory name: bump it whenever a synthesizer
# or the seed formula changes, so standing scratch is never reused.
SYNTH_VERSION = "v1"
MUTANT_OFFSET = 10_000_000_000
VOCAB, DOC_TOKENS, SHINGLE, TEXT_VERIFY = 50_000, 30, 3, 0.5
TRAILER, BLOCK_BYTES = b"~trailer:edited-metadata~", 16
COS_VERIFY, NOISE_SCALE, TOPK, NUM_QUERIES = 0.9, 0.35, 5, 20

MODES = ("text-batch", "text-probe", "text-stream", "text-absorb",
         "media-batch", "media-probe", "sign", "hyperplane",
         "hyperplane-probe", "ann-ivf", "ann-lsh", "ann-pq")


def _kind(mode: str) -> str:
    head = mode.split("-")[0]
    return {"sign": "vec", "hyperplane": "vec"}.get(head, head)


def _seeds(n: int, k: int, first: int) -> list[int]:
    # ``first`` is 3 for texts and 7 for vectors: the offsets the
    # certified runs used, so a re-run plants the same pairs
    return [i * (n // k) + first for i in range(k)]


def _unit_hash(col, tag: str):
    """Deterministic uniform [-1, 1) from xxhash64(col:tag)."""
    h = F.xxhash64(F.concat(col.cast("string"), F.lit(f":{tag}")))
    return F.pmod(h, F.lit(2_000_000)) / F.lit(1_000_000.0) - F.lit(1.0)


def _columns(binary: bool) -> tuple[str, str]:
    return ("media_id", "payload") if binary else ("doc_id", "text")


def _texts(spark, prefix: str, start: int, n: int, binary: bool):
    text = F.concat_ws(" ", *[
        F.concat(F.lit("t"), F.pmod(F.xxhash64(F.concat(
            F.lit(prefix), F.col("id").cast("string"), F.lit(f":{j}"))),
            F.lit(VOCAB)).cast("string"))
        for j in range(DOC_TOKENS)])
    key, val = _columns(binary)
    return spark.range(start, start + n, 1, 32).select(
        F.col("id").alias(key),
        (text.cast("binary") if binary else text).alias(val))


def _synth_text(spark, a, corpus):
    """Mutants of the seeds (token or trailer edit) plus fresh docs."""
    binary = a.mode.startswith("media")
    key, val = _columns(binary)
    seeds = corpus.filter(F.col(key).isin(_seeds(a.n, a.k, 3)))
    if binary:
        edited = F.concat(F.col(val), F.lit(TRAILER))
    else:
        e = a.mutate_every
        edited = F.array_join(F.transform(
            F.split(val, " "),
            lambda w, i: F.when(i % e == e - 1, F.lit("MUTANT")).otherwise(w)),
            " ")
    mutants = seeds.select(
        (F.col(key) + F.lit(MUTANT_OFFSET)).alias(key), edited.alias(val))
    return mutants.unionByName(
        _texts(spark, "f:", a.n + 1_000_000, a.m - a.k, binary))


def _synth_vec(spark, a, corpus):
    """Mutants at exact cosine ``a.cos`` to their seeds."""
    theta = math.acos(a.cos)
    rows = []
    seeds = corpus.filter(F.col("vec_id").isin(_seeds(a.n, a.k, 7)))
    for r in seeds.collect():
        v = np.asarray(r.embedding, dtype=np.float64)
        v_hat = v / np.linalg.norm(v)
        w = np.asarray([math.sin(1.0 + 0.7 * j + 0.013 * r.vec_id)
                        for j in range(a.dim)])
        w = w - (w @ v_hat) * v_hat
        w_hat = w / np.linalg.norm(w)
        m = ((math.cos(theta) * v_hat + math.sin(theta) * w_hat)
             * np.linalg.norm(v))
        rows.append((r.vec_id + MUTANT_OFFSET, [float(x) for x in m]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _data_dir(a) -> str:
    kind = _kind(a.mode)
    shape = {
        "text": f"n{a.n}-m{a.m}-k{a.k}-e{a.mutate_every}",
        "media": f"n{a.n}-m{a.m}-k{a.k}",
        "vec": f"n{a.n}-d{a.dim}-k{a.k}-c{a.cos}",
        "ann": f"n{a.n}-d{a.dim}-c{a.clusters}",
    }[kind]
    return os.path.join(a.scratch, f"{kind}-{shape}-{SYNTH_VERSION}")


def _written(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_SUCCESS"))


def load_data(spark, a):
    """(corpus, batch, planted, data_dir), synthesized on first use."""
    d = _data_dir(a)
    kind = _kind(a.mode)
    if not _written(f"{d}/corpus"):
        if kind in ("text", "media"):
            corpus = _texts(spark, "o:", 0, a.n, kind == "media")
        else:
            cluster = F.pmod(F.xxhash64(F.col("id")), F.lit(a.clusters))

            def coord(j: int):
                if kind == "vec":
                    return _unit_hash(F.col("id"), str(j))
                return (_unit_hash(cluster, f"c{j}") + F.lit(NOISE_SCALE)
                        * _unit_hash(F.col("id"), f"n{j}"))

            corpus = spark.range(0, a.n, 1, 32).select(
                F.col("id").alias("vec_id"),
                F.array(*[coord(j) for j in range(a.dim)]).alias("embedding"))
        corpus.write.mode("overwrite").parquet(f"{d}/corpus")
    corpus = spark.read.parquet(f"{d}/corpus")
    if kind == "ann":
        return corpus, None, [], d
    if not _written(f"{d}/batch"):
        synth = _synth_vec if kind == "vec" else _synth_text
        synth(spark, a, corpus).write.mode("overwrite").parquet(f"{d}/batch")
    first = 7 if kind == "vec" else 3
    planted = [(s, s + MUTANT_OFFSET) for s in _seeds(a.n, a.k, first)]
    return corpus, spark.read.parquet(f"{d}/batch"), planted, d


def _timed(fn):
    t0 = time.monotonic()
    out = fn()
    return out, round(time.monotonic() - t0, 1)


def _index(spark, path: str, build) -> tuple:
    """The index at ``path``, built (and its wall reported) if absent."""
    wall = None
    if not _written(path):
        _, wall = _timed(lambda: build().write.mode("overwrite")
                         .partitionBy("band").parquet(path))
    return spark.read.parquet(path), wall


def _stream(spark, a, corpus, batch, d, idx_path, bands, rows, out):
    """Replay ``batch`` as ``a.batches`` micro-batches of a file stream;
    each one probes (or, for text-absorb, probes and is absorbed into)
    the corpus index and sinks its pairs under ``out/b{id}``."""
    run = f"{d}/{a.mode}"
    shutil.rmtree(run, ignore_errors=True)
    batch.repartition(a.batches).write.parquet(f"{run}/src")
    idx = spark.read.parquet(idx_path)
    absorb = a.mode == "text-absorb"
    if absorb:
        # parquet files are immutable and the absorb only adds files,
        # so a hardlinked copy keeps the standing index untouched
        for src, dst in ((idx_path, "index"), (f"{d}/corpus", "corpus")):
            shutil.copytree(src, f"{run}/{dst}", copy_function=os.link)
    walls: list[float] = []

    def step(df, batch_id: int) -> None:
        t0 = time.monotonic()
        if absorb:
            absorbing_dedup_step(
                spark, df, int(batch_id), f"{run}/index", f"{run}/corpus",
                out, bands=bands, rows_per_band=rows, shingle=SHINGLE,
                threshold=TEXT_VERIFY, max_bucket=a.max_bucket)
        else:
            dedup.lsh_incremental_pairs(
                df, corpus, shingle=SHINGLE, threshold=TEXT_VERIFY,
                max_bucket=a.max_bucket, index=idx,
            ).write.mode("overwrite").parquet(f"{out}/b{batch_id}")
        walls.append(round(time.monotonic() - t0, 1))

    _, wall = _timed(lambda: spark.readStream.schema(batch.schema)
                     .option("maxFilesPerTrigger", 1).parquet(f"{run}/src")
                     .writeStream.foreachBatch(step)
                     .option("checkpointLocation", f"{run}/ckpt")
                     .trigger(availableNow=True).start().awaitTermination())
    extra = {"wall_s": wall, "batch_walls_s": walls}
    if absorb:
        extra["index_files"] = sum(
            f.endswith(".parquet") for _, _, fs in os.walk(f"{run}/index")
            for f in fs)
        extra["corpus_rows"] = spark.read.parquet(f"{run}/corpus").count()
    return spark.read.parquet(*_batch_dirs(out)), extra


def run_pairs(spark, a, corpus, batch, d) -> tuple:
    """(pairs, result): the mode's pair operator run once into
    ``d/out-MODE``, with its sizing, stats light and walls."""
    out = f"{d}/out-{a.mode}"
    shutil.rmtree(out, ignore_errors=True)
    stats: dict = {}
    res: dict = {}
    union = corpus.unionByName(batch)
    if _kind(a.mode) in ("text", "media"):
        bands, rows = (a.bands, a.rows) if a.bands else \
            dedup.suggest_lsh_sizing(a.n + a.m)
        res["sizing"] = [bands, rows]
        cap = dict(max_bucket=a.max_bucket, stats=stats)
        if a.mode in ("text-probe", "text-stream", "text-absorb"):
            idx_path = f"{d}/index-b{bands}r{rows}"
            idx, res["build_s"] = _index(
                spark, idx_path, lambda: dedup.lsh_build_index(
                    corpus, bands=bands, rows_per_band=rows, shingle=SHINGLE))
        if a.mode == "text-batch":
            cands = dedup.lsh_candidate_pairs(
                union, bands=bands, rows_per_band=rows, shingle=SHINGLE,
                **cap)
            pairs = dedup.jaccard_pairs(union, candidates=cands,
                                        shingle=SHINGLE, threshold=TEXT_VERIFY)
        elif a.mode == "media-batch":
            pairs = multimodal.media_near_dup_pairs(
                union, block_bytes=BLOCK_BYTES, bands=bands,
                rows_per_band=rows, threshold=TEXT_VERIFY, **cap)
        elif a.mode == "text-probe":
            pairs = dedup.lsh_incremental_pairs(
                batch, corpus, shingle=SHINGLE, threshold=TEXT_VERIFY,
                index=idx, **cap)
        elif a.mode == "media-probe":
            idx, res["build_s"] = _index(
                spark, f"{d}/index-blk{BLOCK_BYTES}-b{bands}r{rows}",
                lambda: multimodal.media_block_index(
                    corpus, block_bytes=BLOCK_BYTES, bands=bands,
                    rows_per_band=rows))
            pairs = multimodal.media_incremental_pairs(
                batch, corpus, block_bytes=BLOCK_BYTES,
                threshold=TEXT_VERIFY, index=idx, **cap)
        else:
            pairs, extra = _stream(
                spark, a, corpus, batch, d, idx_path, bands, rows, out)
            return pairs, {**res, **extra}
    elif a.mode == "sign":
        pairs = dedup.embedding_near_dup_pairs(
            union, sign_bits=a.sign_bits, threshold=COS_VERIFY,
            max_bucket=a.max_bucket, stats=stats)
    elif a.mode == "hyperplane":
        sizing = dict(bands=a.bands, bits_per_band=a.rows) if a.bands \
            else dict(sizing="auto")
        pairs = dedup.hyperplane_lsh_pairs(
            union, threshold=COS_VERIFY, dim=a.dim, max_bucket=a.max_bucket,
            stats=stats, **sizing)
    else:  # hyperplane-probe
        bands, rows = (a.bands, a.rows) if a.bands else \
            dedup.suggest_hyperplane_sizing(dedup.hll_buffered_count(a.n))
        res["sizing"] = [bands, rows]
        idx, res["build_s"] = _index(
            spark, f"{d}/hpindex-b{bands}r{rows}",
            lambda: dedup.hyperplane_build_index(
                corpus, bands=bands, bits_per_band=rows, dim=a.dim))
        pairs = dedup.hyperplane_incremental_pairs(
            batch, corpus, dim=a.dim, threshold=COS_VERIFY,
            max_bucket=a.max_bucket, index=idx, stats=stats)
    _, res["wall_s"] = _timed(lambda: pairs.write.parquet(out))
    return spark.read.parquet(out), {**res, "stats": stats}


def run_ann(a, corpus) -> dict:
    """recall@TOPK of the mode's index against brute-force top-k.
    ann-ivf and ann-pq build their index inside the timed call, so
    ``wall_s`` is build plus serve."""
    q = dict(k=TOPK, num_queries=NUM_QUERIES)
    truth_rows, truth_s = _timed(
        lambda: similarity.cosine_topk(corpus, **q).collect())
    if a.mode == "ann-ivf":
        centroids = a.centroids or max(8, math.isqrt(a.n))
        sizing = [centroids, a.nprobe]
        fn = lambda: similarity.cosine_topk_ivf(  # noqa: E731
            corpus, similarity.ivf_assign(corpus, centroids),
            nprobe=a.nprobe, **q)
    elif a.mode == "ann-lsh":
        sizing = [a.sign_bits or dedup.adaptive_sign_bits(a.n), a.radius]
        fn = lambda: similarity.cosine_topk_lsh(  # noqa: E731
            corpus, sign_bits=sizing[0], probe_radius=a.radius, **q)
    else:
        sizing = [8, 16, a.shortlist]
        fn = lambda: similarity.cosine_topk_pq(  # noqa: E731
            corpus, similarity.pq_encode(corpus, 8, 16),
            shortlist=a.shortlist, **q)
    rows, wall = _timed(lambda: fn().collect())

    def by_query(rs) -> dict:
        got: dict = {}
        for r in rs:
            got.setdefault(r.query_id, set()).add(r.neighbor_id)
        return got

    truth, got = by_query(truth_rows), by_query(rows)
    recall = sum(len(t & got.get(qid, set())) / len(t)
                 for qid, t in truth.items()) / len(truth)
    return {"sizing": sizing, f"recall_at_{TOPK}": round(recall, 3),
            "truth_s": truth_s, "wall_s": wall}


def score(pairs, planted: list) -> dict:
    """Planted recall x/K and the pair count of a written pair set."""
    hits = {(r.a, r.b) for r in pairs.filter(F.col("b") >= MUTANT_OFFSET)
            .select("a", "b").collect()}
    got = sum(p in hits for p in planted)
    return {"planted_recall": f"{got}/{len(planted)}", "pairs": pairs.count()}


def parse_args(argv=None):
    p = argparse.ArgumentParser(
        description=__doc__.split("\n\n")[0],
        formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--mode", required=True, choices=MODES)
    p.add_argument("--n", type=int, default=20_000, help="corpus rows")
    p.add_argument("--m", type=int, default=2_000,
                   help="text/media batch rows (the --k mutants + fresh)")
    p.add_argument("--k", type=int, default=50, help="planted pairs")
    p.add_argument("--mutate-every", type=int, default=16)
    p.add_argument("--dim", type=int, default=24)
    p.add_argument("--cos", type=float, default=0.93)
    p.add_argument("--clusters", type=int, default=1000)
    p.add_argument("--bands", type=int, help="with --rows: a fixed sizing "
                   "instead of the suggested one (rows = bits for vectors)")
    p.add_argument("--rows", type=int)
    p.add_argument("--max-bucket", type=int,
                   help="bucket cap (default 64 for text/media, 1024 vec)")
    p.add_argument("--sign-bits", type=int,
                   help="sign/ann-lsh bits (default adaptive)")
    p.add_argument("--batches", type=int, default=3,
                   help="text-stream/text-absorb micro-batches")
    p.add_argument("--centroids", type=int, help="ann-ivf (default sqrt n)")
    p.add_argument("--nprobe", type=int, default=32)
    p.add_argument("--radius", type=int, default=2)
    p.add_argument("--shortlist", type=int, default=200)
    p.add_argument("--scratch", default=os.path.join(
        tempfile.gettempdir(), "recall_probe"))
    a = p.parse_args(argv)
    if (a.bands is None) != (a.rows is None):
        p.error("--bands and --rows go together")
    kind = _kind(a.mode)
    if kind != "ann" and not 1 <= a.k <= a.n // 8:
        p.error("--k must be between 1 and --n/8")
    if kind in ("text", "media") and a.k > a.m:
        p.error("--k must be at most --m")
    if a.max_bucket is None:
        a.max_bucket = 1024 if kind == "vec" else 64
    return a


def run(spark, argv=None) -> dict:
    """One harness run; returns the printed result."""
    a = parse_args(argv)
    corpus, batch, planted, d = load_data(spark, a)
    res = {"mode": a.mode, "n": a.n, "data": d}
    if batch is None:
        res.update(run_ann(a, corpus))
    else:
        pairs, info = run_pairs(spark, a, corpus, batch, d)
        res.update(score(pairs, planted), **info)
    print(json.dumps(res), flush=True)
    return res


if __name__ == "__main__":
    from kinesis_alerts_consumer_spark.session import get_spark

    run(get_spark())
