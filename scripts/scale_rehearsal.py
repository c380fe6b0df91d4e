"""Scale rehearsal: time queries at two scale factors, print ratios.

The repo's empirical guard against superlinear operators (the llm29
fractional-probe and llm27 n-sized-codebook traps were both caught by
this protocol at sf1): run each query once untimed (absorb per-shape
compile), time the second run, at a small and a large sf_dir, and
report large/small wall-clock ratios against the data ratio.

Usage:
    python scripts/scale_rehearsal.py SMALL_DIR BIG_DIR DATA_RATIO [name ...]

e.g.  python scripts/scale_rehearsal.py /root/testdata/sf0.1 /tmp/sf10 100 \
          llm03_near_dup_minhash_lsh kv01_route_project

Names default to the heavy family the round-5 verdict asked to push to
100x. A query is flagged SUPERLINEAR when its time ratio exceeds the
data ratio (work must grow at most linearly in rows; scan-bound ops
should sit far below because fixed overheads amortize).
"""

from __future__ import annotations

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

HEAVY_FAMILY = [
    "llm03_near_dup_minhash_lsh",   # LSH candidate fan-out
    "llm15_dedup_clusters",          # connected-components rounds
    "llm27_semantic_dedup",          # cluster-local dominance pairs
    "llm28_passage_dedup",           # block-hash windows
    "llm35_distinct_md5_counts",     # digest-keyed distinct (new r6)
    "llm36_shingle_containment",     # containment over LSH cands (new r6)
    "kv01_route_project",            # interpreted parse hot path
    "kv02_mongo_rule",               # regex rule path
    "vol03_hot_key_rollup",          # salted agg under 50% hot key
    "vol04_hot_key_join",            # salted join under 50% hot key
    "ext07_bucketed_join",           # bucketed SMJ incl. bucket write
    "st08_stream_dedup_within_wm",   # streaming dedup state keys
]


def main() -> None:
    small_dir, big_dir = sys.argv[1], sys.argv[2]
    data_ratio = float(sys.argv[3])
    names = sys.argv[4:] or HEAVY_FAMILY

    import __spark_entry__ as entry_mod
    from kinesis_alerts_consumer_spark.session import get_spark

    spark = get_spark(master="local[32]", shuffle_partitions=32)
    qs = entry_mod.queries()

    def run(name: str, sf_dir: str) -> None:
        # Materialize via the noop sink: full executor-side execution
        # with no driver transfer. collect() OOMed the HARNESS (not
        # the engine) on queries whose RESULT grows with the data —
        # st02 returns one row per session, ~30M rows at sf100.
        # For small results the delta vs collect() is noise; the agg
        # expressions are NOT pruned (unlike .count(), see
        # BASELINE.md r6 notes).
        df = qs[name](spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()

    def timed(name: str, sf_dir: str) -> float:
        run(name, sf_dir)  # warm: compile + pools
        t0 = time.monotonic()
        run(name, sf_dir)
        return time.monotonic() - t0

    rows = []
    for name in names:
        t_small = timed(name, small_dir)
        t_big = timed(name, big_dir)
        ratio = t_big / t_small if t_small > 0 else float("inf")
        verdict = "SUPERLINEAR" if ratio > data_ratio else "ok"
        rows.append(
            {
                "query": name,
                "t_small_s": round(t_small, 2),
                "t_big_s": round(t_big, 2),
                "ratio": round(ratio, 1),
                "verdict": verdict,
            }
        )
        print(json.dumps(rows[-1]), flush=True)

    print(f"\n| query | {small_dir} s | {big_dir} s | ratio ({data_ratio:g}x data) |")
    print("|---|---|---|---|")
    for r in rows:
        flag = " **SUPERLINEAR**" if r["verdict"] != "ok" else ""
        print(
            f"| {r['query']} | {r['t_small_s']} | {r['t_big_s']} |"
            f" {r['ratio']}x{flag} |"
        )


if __name__ == "__main__":
    main()
