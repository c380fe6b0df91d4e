"""Benchmark runner for the alerts engine.

    python3 perfbench/run.py --workload replay_backlog --seed 1 \
        --seconds 18 --trace 0

Run from the repository root. Generates the workload's inputs from the
seed, starts a Spark session, warms up, runs the timed rounds, checks
every output, and prints one JSON line last:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end ones in BENCHMARK.json. With
``--trace 1`` untraced and traced rounds alternate and the metrics are
the per-layer ones. A line before it (``detail: {...}``) carries every
number the run took, whichever the mode. A run whose outputs fail the
check prints ``"correct": false`` and exits 1.

The JVM runs C1-compiled only: in a JVM that lives one minute, C2 is
still compiling during the timed rounds, and its timing moved
records_per_s by +-20% from run to run (C1 only: +-5%, at the same
throughput). The heap keeps the engine's own size and grows on
demand, so the peak RSS follows what the engine allocates. G1 sizes
that heap by its own timing, which moved the peak RSS by +-25% from
run to run, so the end-to-end memory figure is the heap the engine
retains after the rounds (``retained_heap_mb``) and the peak RSS is a
per-layer one.

The host's speed moved by up to 2x between runs minutes apart, with
up to a quarter of the vCPU time stolen by other guests. So
``setup_s`` and ``records_per_s`` are scaled to a reference host speed
by a pure-Python spin timed in processes of their own (``calib.py``),
one per core, before the engine's session starts, between the rounds
while the engine is idle, and after the engine has stopped (see
``SPIN_REF_S``). The raw wall-clock values are in the detail line as
``wall_setup_s`` and ``wall_records_per_s``. A traced run also times
a fixed Spark aggregate in a plain session of its own, before the
engine starts and after it stops, as a diagnostic.

Everything the run writes stays under ``.perfbench_work/`` (removed at
the end) and ``.perfbench_traces/`` (span dumps) in the repository.
Exits non-zero without a result line when the engine cannot run.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
TRACES = os.path.join(ROOT, ".perfbench_traces")


def pin_environment(work: str) -> None:
    """Launch settings, fixed here rather than left to ``session.py``
    defaults: one shuffle partition per core (the session defaults to
    32), Spark scratch and JVM temp files inside the work directory,
    C1-only JIT, and no console progress bars."""
    cpus = str(len(os.sched_getaffinity(0)))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update({
        "SPARK_GRAFT_CPUS": cpus,
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "SPARK_GRAFT_DRIVER_JAVA_OPTS": " ".join((
            f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData",
            "-XX:TieredStopAtLevel=1")),
        "TMPDIR": tmp,
        "PYSPARK_SUBMIT_ARGS": (
            "--conf spark.ui.showConsoleProgress=false "
            f"--conf spark.sql.warehouse.dir={work}/warehouse pyspark-shell"),
    })
    for var in ("SPARK_GRAFT_SHUFFLE", "SPARK_GRAFT_CODEGEN_CACHE",
                "SPARK_GRAFT_DRIVER_MEM"):
        os.environ.pop(var, None)


# host.calib_spin_s near its median on the shared 4-vCPU host the bounds
# were set on. Wall times are scaled by spin / SPIN_REF_S.
SPIN_REF_S = 0.3


def spin_probe(cpus: int) -> float:
    """Median time of the ``calib.py`` spin, run once on every core at
    the same time, so the probe sees what the engine's threads would."""
    procs = [subprocess.Popen([sys.executable, os.path.join(HERE, "calib.py"),
                               "spin"], stdout=subprocess.PIPE, text=True)
             for _ in range(cpus)]
    return statistics.median(float(p.communicate()[0]) for p in procs)


class HostProbe:
    """The ``calib.py spark`` process: started first, so its JVM starts
    while the inputs are written; probed on demand; stopped at the end."""

    def __init__(self, cpus: int) -> None:
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "calib.py"), "spark",
             str(cpus)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
        self.ready = False

    def probe(self) -> list[float]:
        if not self.ready:
            if self.proc.stdout.readline().strip() != "ready":
                raise RuntimeError("host probe failed to start")
            self.ready = True
        self.proc.stdin.write("\n")
        self.proc.stdin.flush()
        return json.loads(self.proc.stdout.readline())

    def stop(self) -> None:
        self.proc.stdin.close()
        try:
            self.proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait()


def peak_rss_mb(jvm_pid: int) -> float:
    """Peak resident memory (VmHWM) of this process plus the driver JVM."""
    total = 0
    for pid in ("self", str(jvm_pid)):
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    total += int(line.split()[1])
    return total / 1024


def retained_heap_mb(spark) -> float:
    """JVM heap in use once full collections stop freeing anything: what
    the engine keeps between micro-batches. Each pass collects Python's
    proxies first, so the JVM objects only they held can go, and then
    pauses so Spark's context cleaner can drop the checkpoints and
    broadcasts the collection released; those take up to three passes
    to go, and two passes left 200-600 MB of them at random."""
    jvm = spark.sparkContext._jvm
    heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    used = []
    for _ in range(8):
        gc.collect()
        jvm.System.gc()
        time.sleep(0.5)
        used.append(heap.getHeapMemoryUsage().getUsed() / 2**20)
        if len(used) > 2 and used[-3] - used[-1] < 0.01 * used[-1]:
            break
    return used[-1]


def cpu_s(jvm_pid: int) -> float:
    """CPU seconds (user + system) used so far by the driver JVM and
    this process."""
    with open(f"/proc/{jvm_pid}/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    t = os.times()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK") \
        + t.user + t.system


def timed_rounds(wl, spark, tracer, seconds: float, traced: bool,
                 jvm_pid: int, cpus: int) -> tuple[dict, list]:
    """Run the rounds that take about ``seconds`` on the reference host,
    with a spin probe after each: ({traced?: [(records, wall s, stolen
    s, cpu s) per round]}, [spin s]).

    The count is fixed by ``seconds``, not by the clock: every run does
    the same work, so a fast or slow host does not change how far into
    JIT warm-up the measurement reaches. A traced run instead runs one
    traced round between two untraced ones, so both kinds see the same
    drift; their time ratio is the tracing overhead."""
    n = max(1, round(seconds / wl.ROUND_S))
    order = (False, True, False) if traced else (False,) * n
    done = {k: [] for k in set(order)}
    spins = []
    for kind in order:
        tracer.enabled = kind
        s0, c0, t0 = steal_s(), cpu_s(jvm_pid), time.perf_counter()
        records = wl.round(spark, kind)
        done[kind].append((records, time.perf_counter() - t0,
                           steal_s() - s0, cpu_s(jvm_pid) - c0))
        tracer.enabled = False
        spins.append(spin_probe(cpus))
    return done, spins


def steal_s() -> float:
    """Seconds of CPU the hypervisor gave to other guests while this
    guest's vCPUs were runnable, summed over vCPUs (/proc/stat)."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def run(workload: str, seed: int, seconds: float,
        host_probe: HostProbe | None) -> dict:
    """One run; traced when a host probe is given."""
    from calib import stop_spark
    from spans import Tracer
    from workloads import WORKLOADS

    tracer = Tracer(enabled=False)
    wl = WORKLOADS[workload](seed, WORK, tracer)

    sys.path.insert(0, ROOT)  # the engine package
    from pyspark import SparkContext

    from kinesis_alerts_consumer_spark.session import get_spark

    cpus = int(os.environ["SPARK_GRAFT_CPUS"])
    traced = host_probe is not None
    spins = [spin_probe(cpus)]
    sparks = host_probe.probe() if traced else []
    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench")
    t1 = time.perf_counter()
    jvm_pid = SparkContext._gateway.proc.pid
    try:
        wl.warm_up(spark)
        t2 = time.perf_counter()
        wl.prepare(spark)
        done, between = timed_rounds(wl, spark, tracer, seconds, traced,
                                     jvm_pid, cpus)
        spins += between
        records, busy, stolen, cpu = map(sum, zip(*done[False]))
        detail = {
            "wall_setup_s": t2 - t0,
            "wall_records_per_s": records / busy,
            "session.start_s": t1 - t0,
            "session.warmup_s": t2 - t1,
            "records": records,
            "measured_s": busy,
            "cpu_ms_per_record": 1000 * cpu / records,
            "host.steal_ratio": stolen / (cpus * busy),
            **wl.detail,
        }
        if traced:
            t_records, t_busy, _, _ = map(sum, zip(*done[True]))
            detail["trace.overhead_ratio"] = (
                (t_busy / t_records) / (busy / records))
            detail.update(wl.layers(spark))
        delivered, bad = wl.check()
        detail["delivered_ratio"] = delivered
        detail["peak_rss_mb"] = peak_rss_mb(jvm_pid)
        detail["retained_heap_mb"] = retained_heap_mb(spark)
        if traced:
            spark.stop()
            spark = get_spark(app_name="perfbench-local1", master="local[1]")
            detail["baseline.local1_records_per_s"] = wl.baseline(spark)
            os.makedirs(TRACES, exist_ok=True)
            tracer.dump(os.path.join(TRACES, f"{workload}-{seed}.json"))
    finally:
        stop_spark(spark)
    spins.append(spin_probe(cpus))
    # the median probe: one probe that a burst hit must not rescale
    # the whole run
    host = statistics.median(spins) / SPIN_REF_S
    detail.update({
        "setup_s": detail["wall_setup_s"] / host,
        "records_per_s": detail["wall_records_per_s"] * host,
        "host.calib_spin_s": statistics.median(spins),
        "host.calib_spins": spins,
    })
    if traced:
        sparks += host_probe.probe()
        detail["host.calib_spark_s"] = statistics.median(sparks)
    return {"records": records, "bad": bad, "detail": detail}


def _timeout(signum, frame):
    raise TimeoutError("run exceeded 170 s")


def main(argv: list[str] | None = None) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    names = [w["name"] for w in spec["workloads"]]
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=names)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=spec["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # a run must end within 180 s: past 170 s, raise in the main thread
    # so the finally blocks stop Spark and the run exits non-zero
    signal.signal(signal.SIGALRM, _timeout)
    signal.alarm(170)
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(WORK)
    try:
        pin_environment(WORK)
        host_probe = (HostProbe(int(os.environ["SPARK_GRAFT_CPUS"]))
                      if args.trace else None)
        try:
            res = run(args.workload, args.seed, args.seconds, host_probe)
        finally:
            if host_probe:
                host_probe.stop()
    finally:
        shutil.rmtree(WORK, ignore_errors=True)

    detail, bad = res["detail"], res["bad"]
    print("detail: " + json.dumps(detail, sort_keys=True), flush=True)
    for msg in bad[:20]:
        print("mismatch: " + msg, file=sys.stderr)
    wanted = spec["per_layer" if args.trace else "end_to_end"]
    # a layer a workload does not use reports 0 (kayvee layers on
    # dedup_ingest, dedup layers on replay_backlog)
    metrics = {m["name"]: {"value": detail.get(m["name"], 0.0) if args.trace
                           else detail[m["name"]], "unit": m["unit"]}
               for m in wanted}
    print(json.dumps({
        "correct": not bad,
        "attempted": res["records"],
        "failed": res["records"] if bad else 0,
        "metrics": metrics,
    }))
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
