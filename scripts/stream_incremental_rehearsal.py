"""Streaming incremental-dedup rehearsal (VERDICT r13 item 7).

Certifies the ONE claim of the st09 stream-static pattern not yet
measured past fixture scale: with a standing 5M-doc corpus index,
the per-micro-batch probe cost is FLAT and STATE-FREE across batches
— batch k pays the same wall as batch 1 (its own signature pass +
one map-side scan of the index), with no state accumulating in the
streaming engine and no per-batch growth from lineage, caches, or
state stores. The batch-boundary-invariance half of the theorem
(union of per-batch pairs == the one-shot probe) is re-verified on
the same run via planted recall + pair count.

Protocol: REUSES the standing scripts/incremental_dedup_rehearsal.py
scratch (old corpus, 20k new batch with 100 planted mutants, the
partitionBy(band) index) — run that with arm B first; the args
marker refuses a mismatched scratch. The new batch is split into
NBATCH parquet files replayed as a file stream with
maxFilesPerTrigger=1 (one micro-batch per file, the st09 shape);
``foreachBatch`` runs ``lsh_incremental_pairs(batch, old, index=)``
and sinks each batch to its own ``b{id}`` subdir (replay-idempotent,
st09's device). Per-batch walls are measured INSIDE foreachBatch
around probe+sink — the recurring per-batch cost a deployment pays.

MODE=absorb (argv[5], r14) runs the st10 ABSORBING shape instead:
each batch goes through ``absorbing_dedup_step`` — probe + within-
batch dedup + sink, then the batch is absorbed into the index and
corpus — so batch k also dedups against batches 0..k-1 and the index
GROWS during the run. The standing scratch is never mutated: the
run hardlink-copies the index/corpus dirs first (parquet files are
immutable; appends only add files), so a 5M index "copy" costs
directory metadata, not data movement. The claims measured: (a)
per-batch wall stays flat while the index grows (each batch adds
~M/NBATCH docs to a corpus of N — invisible in the scan); (b) the
absorb adds a bounded per-batch constant (the batch's own signature
pass again, plus two small appends); (c) planted recall matches the
probe mode (the planted pairs are all new-vs-OLD, so growing the
index must not change them); (d) index file count grows by exactly
bands x batches (the small-files compaction argument, quantified).

Usage:
    python scripts/stream_incremental_rehearsal.py [N [M [K [NBATCH [MODE]]]]]
Defaults: 5_000_000 20_000 100 5 probe. Results recorded in
BASELINE.md round-14.
"""

from __future__ import annotations

import os
import shutil
import sys
import time

sys.path.insert(0, "/root/repo")
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from rehearsal_common import (  # noqa: E402
    check_marker,
    planted_pairs,
)

# env-overridable so a smoke run can use its own scratch while a 5M
# scratch stands (must point at an incremental_dedup_rehearsal
# scratch written with the same override)
SCRATCH = os.environ.get("INCDEDUP_SCRATCH", "/tmp/incdedup_rehearsal")


def main() -> None:
    from kinesis_alerts_consumer_spark.operators.dedup import (
        lsh_incremental_pairs,
    )
    from kinesis_alerts_consumer_spark.session import get_spark

    n_old = int(sys.argv[1]) if len(sys.argv) > 1 else 5_000_000
    m_new = int(sys.argv[2]) if len(sys.argv) > 2 else 20_000
    k_mut = int(sys.argv[3]) if len(sys.argv) > 3 else 100
    n_batches = int(sys.argv[4]) if len(sys.argv) > 4 else 5
    mode = (sys.argv[5] if len(sys.argv) > 5 else "probe").lower()
    if mode not in ("probe", "absorb"):
        raise SystemExit(f"MODE must be probe|absorb, got {mode!r}")

    # the marker (shared with the script that WROTE the scratch, incl.
    # the synthesis-formula version) is what licenses deriving the
    # planted set from THIS argv against THAT scratch
    check_marker(
        SCRATCH, n_old, m_new, k_mut,
        f"Run incremental_dedup_rehearsal.py {n_old} {m_new} {k_mut} "
        "B first.")
    if not os.path.exists(f"{SCRATCH}/index"):
        raise SystemExit(
            f"scratch at {SCRATCH} has no index — run "
            f"incremental_dedup_rehearsal.py {n_old} {m_new} {k_mut} B "
            "first.")

    spark = get_spark(master="local[32]", shuffle_partitions=32)
    old = spark.read.parquet(f"{SCRATCH}/old")
    idx = spark.read.parquet(f"{SCRATCH}/index")
    planted = set(planted_pairs(n_old, k_mut))

    # one parquet FILE per intended micro-batch: repartition
    # round-robins rows, so mutants spread across batches
    src = f"{SCRATCH}/stream_src"
    root = f"{SCRATCH}/stream_run"
    for d in (src, root):
        if os.path.exists(d):
            shutil.rmtree(d)
    new = spark.read.parquet(f"{SCRATCH}/new")
    new.repartition(n_batches).write.parquet(src)

    walls: list[tuple[int, float, int]] = []
    out = os.path.join(root, "out")

    idx_files_before = idx_files_after = 0
    if mode == "absorb":
        from kinesis_alerts_consumer_spark.plans.streaming_queries import (
            absorbing_dedup_step,
        )

        # hardlink-copy the scratch index/corpus: parquet files are
        # immutable and absorb only ADDS files, so the standing
        # scratch is never mutated and the "copy" is metadata-only
        run_idx = os.path.join(root, "index")
        run_corpus = os.path.join(root, "corpus")
        shutil.copytree(f"{SCRATCH}/index", run_idx,
                        copy_function=os.link)
        shutil.copytree(f"{SCRATCH}/old", run_corpus,
                        copy_function=os.link)

        def _count_parquet(d: str) -> int:
            return sum(f.endswith(".parquet")
                       for _, _, fs in os.walk(d) for f in fs)

        idx_files_before = _count_parquet(run_idx)
        # geometry from the index itself (the probe's own contract)
        rows_g = sum(c.startswith("r") and c[1:].isdigit()
                     for c in idx.columns)
        from pyspark.sql import functions as F
        bands_g = int(
            idx.agg(F.max("band").alias("m")).collect()[0]["m"]) + 1
        print(f"absorb mode: geometry=({bands_g},{rows_g}), "
              f"index files before={idx_files_before}", flush=True)

    def _probe(batch_df, batch_id: int) -> None:
        # row count OUTSIDE the timed span: the wall is the
        # probe+sink cost a deployment pays per batch, and count()
        # is an extra job re-reading the batch's source file that a
        # deployment would not run (r14 review)
        n_rows = batch_df.count()
        t0 = time.monotonic()
        if mode == "absorb":
            absorbing_dedup_step(
                spark, batch_df, int(batch_id), run_idx, run_corpus,
                out, bands=bands_g, rows_per_band=rows_g, shingle=3,
                threshold=0.5, max_bucket=64)
        else:
            pairs = lsh_incremental_pairs(
                batch_df, old, shingle=3, threshold=0.5,
                max_bucket=64, index=idx)
            pairs.write.mode("overwrite").parquet(
                os.path.join(out, f"b{batch_id}"))
        walls.append((int(batch_id), time.monotonic() - t0, n_rows))
        print(f"  [batch {batch_id}] rows={n_rows} "
              f"wall={walls[-1][1]:.1f}s", flush=True)

    stream = (
        spark.readStream.schema(new.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    t_all = time.monotonic()
    q = (
        stream.writeStream.foreachBatch(_probe)
        .option("checkpointLocation", os.path.join(root, "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    total = time.monotonic() - t_all

    from kinesis_alerts_consumer_spark.plans.streaming_queries import (
        _batch_dirs,
    )

    got = spark.read.parquet(*_batch_dirs(out))
    pairs = {(r.a, r.b) for r in got.select("a", "b").collect()}
    recall = sum(p in pairs for p in planted)

    walls.sort()
    per = [w for _, w, _ in walls]
    print(f"\nn_old={n_old} m_new={m_new} k_mut={k_mut} "
          f"n_batches={len(per)}")
    print("batch walls: "
          + " ".join(f"b{i}={w:.1f}s" for i, w, _ in walls))
    # flatness: batch 1+ vs the max (batch 0 may carry one-time
    # codegen/geometry warmup; state-free means NO UPWARD TREND)
    steady = per[1:] if len(per) > 1 else per
    print(f"steady-state band: min={min(steady):.1f}s "
          f"max={max(steady):.1f}s "
          f"spread={max(steady) / min(steady):.2f}x")
    print(f"pairs={len(pairs)} planted_recall={recall}/{k_mut} "
          f"stream_total={total:.1f}s mode={mode}")
    if mode == "absorb":
        idx_files_after = _count_parquet(run_idx)
        corpus_rows = spark.read.parquet(run_corpus).count()
        print(f"index files {idx_files_before} -> {idx_files_after} "
              f"(+{idx_files_after - idx_files_before}; expect "
              f"+bands x batches); corpus rows={corpus_rows} "
              f"(expect {n_old + m_new})")


if __name__ == "__main__":
    main()
