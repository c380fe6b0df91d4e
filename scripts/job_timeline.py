"""Print the exact job timeline of one query run: per-job submission,
duration, description, and the GAP since the previous job's completion.
Attribution tool for the driver-gap work (r15, guide §2.6) — which
steps of a multi-action operator own the dead driver time.

Usage: python scripts/job_timeline.py [--sf DIR] [--warm N] name
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import sys
import urllib.request
from datetime import datetime

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("name")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--warm", type=int, default=1)
    args = ap.parse_args()

    os.environ.setdefault("SPARK_GRAFT_CPUS", "32")
    from kinesis_alerts_consumer_spark.session import BUILD_CONFS, get_spark
    from kinesis_alerts_consumer_spark.sources import register_tables
    import __spark_entry__ as entrymod
    from bench import is_streaming_query

    BUILD_CONFS["spark.ui.enabled"] = "true"
    BUILD_CONFS["spark.ui.port"] = "4049"
    spark = get_spark(app_name="job-timeline")
    register_tables(spark, args.sf)
    qs = entrymod.queries()
    sc = spark.sparkContext
    fn = qs[args.name]

    def unload() -> None:
        with contextlib.suppress(Exception):
            sc._jvm.org.apache.spark.sql.execution.streaming.state. \
                StateStore.stop()

    def jobs() -> list[dict]:
        url = (f"http://localhost:4049/api/v1/applications/"
               f"{sc.applicationId}/jobs")
        with urllib.request.urlopen(url, timeout=10) as r:
            return json.load(r)

    import time
    for _ in range(args.warm):
        fn(spark, args.sf).collect()
        if is_streaming_query(args.name):
            unload()
    pre = {j["jobId"] for j in jobs()}
    t0 = time.perf_counter()
    fn(spark, args.sf).collect()
    dt = time.perf_counter() - t0
    if is_streaming_query(args.name):
        unload()

    def ts(j, k):
        try:
            return datetime.strptime(
                j[k], "%Y-%m-%dT%H:%M:%S.%f%Z").timestamp()
        except Exception:
            return None

    new = sorted((j for j in jobs() if j["jobId"] not in pre),
                 key=lambda j: ts(j, "submissionTime") or 0)
    print(f"=== {args.name}: timed {dt:.2f}s, {len(new)} jobs ===")
    prev_end = None
    total_gap = 0.0
    for j in new:
        a, b = ts(j, "submissionTime"), ts(j, "completionTime")
        if a is None or b is None:
            continue
        gap = (a - prev_end) if prev_end is not None else 0.0
        total_gap += max(0.0, gap)
        desc = (j.get("description") or j.get("name") or "")[:90]
        print(f"  j{j['jobId']:>5} gap {gap*1000:7.1f}ms "
              f"dur {(b-a)*1000:7.1f}ms  {desc}")
        prev_end = max(prev_end or b, b)
    print(f"total inter-job gap: {total_gap:.2f}s of {dt:.2f}s wall")
    spark.stop()


if __name__ == "__main__":
    main()
