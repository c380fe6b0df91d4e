"""Interleaved same-host A/B of an arbitrary query subset between two
trees: fresh JVM per sample, bench.py's own warm-up and timing loop
via SPARK_GRAFT_QUERIES. The order alternates each round (A,B then
B,A), so a drift of the host or a first-run effect lands on both
trees alike; each round prints its order. An A/B of a conf switch is
two trees that differ in that conf.

Usage:
    python scripts/ab_subset.py TREE_A TREE_B ROUNDS SF_DIR q1,q2,...
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys


def run_once(tree: str, sf_dir: str, queries: str) -> dict:
    env = dict(os.environ)
    env["SPARK_GRAFT_QUERIES"] = queries
    env["SPARK_GRAFT_SF_DIR"] = sf_dir
    env.setdefault("SPARK_GRAFT_CPUS", "32")
    # keep arm walls comparable: the r15 medians pass re-runs >=1 s
    # queries after the timed pass — off for A/B sampling (recorded
    # timings are unaffected either way)
    env.setdefault("SPARK_GRAFT_MEDIANS", "0")
    out = subprocess.run(
        [sys.executable, os.path.join(tree, "bench.py")],
        env=env, cwd=tree, capture_output=True, text=True, timeout=1800,
    )
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines:
        raise RuntimeError(
            f"bench.py in {tree} failed (rc={out.returncode}); "
            f"stderr tail: {out.stderr[-500:]}")
    return json.loads(lines[-1])


def main() -> None:
    tree_a, tree_b, rounds, sf_dir, queries = (
        sys.argv[1], sys.argv[2], int(sys.argv[3]), sys.argv[4],
        sys.argv[5])
    samples: dict[str, list[dict]] = {"A": [], "B": []}
    arms = (("A", tree_a), ("B", tree_b))
    for i in range(rounds):
        order = arms if i % 2 == 0 else arms[::-1]
        print(f"round {i} order {','.join(arm for arm, _ in order)}",
              flush=True)
        for arm, tree in order:
            r = run_once(tree, sf_dir, queries)
            samples[arm].append(r["queries"])
            print(f"round {i} arm {arm}: total "
                  f"{sum(r['queries'].values()):.2f} "
                  f"{json.dumps(r['queries'], sort_keys=True)}",
                  flush=True)
    keys = sorted(samples["A"][0])
    print(f"\n{'query':8s} {'A_med':>7s} {'B_med':>7s} {'B/A':>6s} "
          f"{'A_min':>7s} {'B_min':>7s}")
    for k in keys:
        a = [s[k] for s in samples["A"]]
        b = [s[k] for s in samples["B"]]
        am, bm = statistics.median(a), statistics.median(b)
        print(f"{k:8s} {am:7.2f} {bm:7.2f} {bm/am:6.2f} "
              f"{min(a):7.2f} {min(b):7.2f}")
    at = [sum(s.values()) for s in samples["A"]]
    bt = [sum(s.values()) for s in samples["B"]]
    print(f"{'TOTAL':8s} {statistics.median(at):7.2f} "
          f"{statistics.median(bt):7.2f} "
          f"{statistics.median(bt)/statistics.median(at):6.2f} "
          f"{min(at):7.2f} {min(bt):7.2f}")


if __name__ == "__main__":
    main()
