"""Per-query profiling harness for the optimization rounds.

For each named query: warm-up run, timed run(s), dump the
``explain("formatted")`` plan to ``plans/r15/<short>_<tag>.txt``, and
print the slowest stages of the timed run from the UI REST API
(stage wall, task count, shuffle read/write bytes, input bytes) so the
time can be attributed to operators instead of guessed.

Usage:
    python scripts/profile_query.py [--sf DIR] [--tag before] [--runs 1]
        [--no-plans] name [name ...]

The session mirrors bench.py (get_spark + register_tables + the
streaming state-store unload between st runs) but enables the UI so
stage metrics are readable. Timings here are for ATTRIBUTION, not the
record — the bench artifact stays the canonical number.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import sys
import time
import urllib.request

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--tag", default=None,
                    help="write plans/r15/<short>_<tag>.txt when set")
    ap.add_argument("--runs", type=int, default=1)
    ap.add_argument("--stages", type=int, default=12)
    args = ap.parse_args()

    os.environ.setdefault("SPARK_GRAFT_CPUS", "32")

    from kinesis_alerts_consumer_spark.session import (
        BUILD_CONFS, get_spark)
    from kinesis_alerts_consumer_spark.sources import register_tables
    import __spark_entry__ as entrymod
    from bench import is_streaming_query

    BUILD_CONFS["spark.ui.enabled"] = "true"
    BUILD_CONFS["spark.ui.port"] = "4049"
    spark = get_spark(app_name="profile-query")
    register_tables(spark, args.sf)
    qs = entrymod.queries()
    sc = spark.sparkContext

    def unload_state_stores() -> None:
        with contextlib.suppress(Exception):
            jvm = spark._jvm
            jvm.org.apache.spark.sql.execution.streaming.state.StateStore.stop()

    def stage_rows() -> list[dict]:
        app_id = sc.applicationId
        url = f"http://localhost:4049/api/v1/applications/{app_id}/stages"
        with urllib.request.urlopen(url, timeout=10) as r:
            return json.load(r)

    def job_rows() -> list[dict]:
        app_id = sc.applicationId
        url = f"http://localhost:4049/api/v1/applications/{app_id}/jobs"
        with urllib.request.urlopen(url, timeout=10) as r:
            return json.load(r)

    for name in args.names:
        fn = qs[name]
        streaming = is_streaming_query(name)
        # warm-up
        t0 = time.perf_counter()
        fn(spark, args.sf).collect()
        warm = time.perf_counter() - t0
        if streaming:
            unload_state_stores()
        best = None
        for _ in range(args.runs):
            # stage ids snapshotted PER RUN so the attribution below
            # covers only the best run's stages, matching the headline
            # best-of-N wall (ADVICE r14: aggregating all runs' stages
            # overstated a single run)
            pre = stage_rows()
            pre_ids = {(s["stageId"], s["attemptId"]) for s in pre}
            pre_job_ids = {j["jobId"] for j in job_rows()}
            sc.setJobDescription(f"timed:{name}")
            t0 = time.perf_counter()
            df = fn(spark, args.sf)
            df.collect()
            dt = time.perf_counter() - t0
            sc.setJobDescription(None)
            if streaming:
                unload_state_stores()
            run_post = stage_rows()
            run_ids = {(s["stageId"], s["attemptId"]) for s in run_post}
            run_jobs = [j for j in job_rows()
                        if j["jobId"] not in pre_job_ids]
            if best is None or dt < best[0]:
                best = (dt, df, pre_ids, run_ids, run_jobs)
        dt, df, pre_ids, run_ids, run_jobs = best
        print(f"\n=== {name}: warm {warm:.2f}s, timed {dt:.2f}s "
              f"(best of {args.runs}) ===")
        if args.tag:
            short = name.split("_", 1)[0]
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            out_dir = os.path.join(ROOT, "plans", "r15")
            os.makedirs(out_dir, exist_ok=True)
            path = os.path.join(out_dir, f"{short}_{args.tag}.txt")
            with open(path, "w") as fh:
                fh.write(f"# {name} @ {args.sf} — explain('formatted') "
                         f"after execution, timed {dt:.2f}s\n")
                fh.write(buf.getvalue())
            print(f"plan -> {path}")
        post = stage_rows()
        new = [s for s in post
               if (s["stageId"], s["attemptId"]) not in pre_ids
               and (s["stageId"], s["attemptId"]) in run_ids
               and s["status"] in ("COMPLETE", "FAILED")]

        def wall(s):
            try:
                from datetime import datetime
                fmt = "%Y-%m-%dT%H:%M:%S.%f%Z"
                a = datetime.strptime(s["firstTaskLaunchedTime"], fmt)
                b = datetime.strptime(s["completionTime"], fmt)
                return (b - a).total_seconds()
            except Exception as exc:
                # 0.0 would silently hide the slowest stage from the
                # sorted listing (ADVICE r14) — say so instead
                print(f"  [warn] stage {s.get('stageId')}: timestamp "
                      f"parse failed ({exc}); wall reported as 0.0",
                      file=sys.stderr)
                return 0.0

        # job timeline: count, busy wall (union of job intervals) and
        # the driver-gap total (timed wall minus busy) — the evidence
        # the §2.6 job-overlap work needs
        def ts(j, k):
            from datetime import datetime
            try:
                return datetime.strptime(
                    j[k], "%Y-%m-%dT%H:%M:%S.%f%Z").timestamp()
            except Exception:
                return None
        ivals = sorted(
            (a, b) for a, b in
            ((ts(j, "submissionTime"), ts(j, "completionTime"))
             for j in run_jobs) if a is not None and b is not None)
        busy, end = 0.0, None
        for a, b in ivals:
            if end is None or a > end:
                busy += b - a
                end = b
            elif b > end:
                busy += b - end
                end = b
        print(f"jobs in best run: {len(run_jobs)}, job-busy wall "
              f"{busy:.2f}s, driver gaps ~{max(0.0, dt - busy):.2f}s")
        new.sort(key=lambda s: -wall(s))
        total_run = sum(s.get("executorRunTime") or 0 for s in new)
        print(f"stages in timed run(s): {len(new)}, executorRunTime sum "
              f"{total_run/1000:.2f}s (over all cores)")
        for s in new[:args.stages]:
            nm = (s.get("name") or "")[:70].replace("\n", " ")
            print(
                f"  wall {wall(s):6.2f}s"
                f" run {s.get('executorRunTime', 0)/1000:7.2f}s"
                f" cpu {s.get('executorCpuTime', 0)/1e9:7.2f}s"
                f" tasks {s.get('numCompleteTasks', 0):4d}"
                f" in {s.get('inputBytes', 0)/1e6:7.1f}MB"
                f" sr {s.get('shuffleReadBytes', 0)/1e6:6.1f}MB"
                f" sw {s.get('shuffleWriteBytes', 0)/1e6:6.1f}MB"
                f"  {nm}"
            )
    spark.stop()


if __name__ == "__main__":
    main()
