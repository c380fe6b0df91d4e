"""Host-speed probes, each run in processes of their own.

    python3 perfbench/calib.py spin
    python3 perfbench/calib.py spark CPUS

``spin`` prints the wall time of a fixed pure-Python spin; time the
hypervisor gives to other guests counts, as it does for the engine.
``spark``
starts a plain local Spark session (none of the engine's settings or
code) and answers each line read from stdin with one JSON line: the
times of three runs of a fixed Spark global hash aggregate. It stops
the session and exits at end of input.

Neither probe shares a process with the engine, so its heap and
settings cannot slow them.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time


def spin() -> float:
    t = time.perf_counter()
    sum(i * i for i in range(3_000_000))
    return time.perf_counter() - t


def probe(spark, cpus: int) -> list[float]:
    runs = []
    for _ in range(3):
        t = time.perf_counter()
        spark.range(0, 10_000_000, 1, cpus) \
            .selectExpr("sum(hash(id) % 1000) AS s").collect()
        runs.append(time.perf_counter() - t)
    return runs


def stop_spark(spark) -> None:
    """Stop the session and its gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    try:
        spark.stop()
        gateway.shutdown()
    finally:
        gateway.proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            gateway.proc.wait(timeout=20)
        except subprocess.TimeoutExpired:
            gateway.proc.kill()
            gateway.proc.wait()


def main() -> None:
    if sys.argv[1] == "spin":
        print(spin())
        return
    from pyspark.sql import SparkSession

    cpus = int(sys.argv[2])
    spark = (SparkSession.builder.master(f"local[{cpus}]")
             .appName("perfbench-calib")
             .config("spark.ui.enabled", "false")
             .config("spark.driver.memory", "1g")
             # the runner's pinned JVM flags (temp dir, JIT level)
             .config("spark.driver.extraJavaOptions",
                     os.environ.get("SPARK_GRAFT_DRIVER_JAVA_OPTS", ""))
             .getOrCreate())
    try:
        probe(spark, cpus)  # compiles the aggregate's code once
        print("ready", flush=True)
        for _ in sys.stdin:
            print(json.dumps(probe(spark, cpus)), flush=True)
    finally:
        stop_spark(spark)


if __name__ == "__main__":
    main()
