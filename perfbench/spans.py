"""In-memory spans and the probes the traced run reads, all taken from
outside the engine: wrappers around its public functions, the query's
own progress records, Catalyst's phase tracker and Spark's job status
tracker.
"""

from __future__ import annotations

import contextlib
import json
import statistics
import threading
import time


class Tracer:
    """Spans (name, start, end, attributes) and counters, kept in memory
    and written out once when the run ends. A disabled tracer records
    nothing, so the untraced path pays only a branch. Spans may close
    on any thread: ``foreachBatch`` handlers run on py4j callback
    threads."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self.counts: dict[str, float] = {}
        self._lock = threading.Lock()

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield attrs
            return
        start = time.perf_counter()
        try:
            yield attrs
        finally:
            rec = {"name": name, "start": start, "end": time.perf_counter(),
                   **attrs}
            with self._lock:
                self.spans.append(rec)

    def count(self, name: str, n: float = 1) -> None:
        if self.enabled:
            with self._lock:
                self.counts[name] = self.counts.get(name, 0) + n

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans
                if s["name"] == name]

    def values(self, name: str, key: str) -> list:
        return [s[key] for s in self.spans if s["name"] == name and key in s]

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, "counts": self.counts}, fh)


def median(xs, default: float = 0.0) -> float:
    return statistics.median(xs) if xs else default


def p90(xs, default: float = 0.0) -> float:
    if len(xs) < 2:
        return xs[0] if xs else default
    return statistics.quantiles(xs, n=10, method="inclusive")[-1]


def catalyst_phases_ms(df) -> dict[str, int]:
    """Plan ``df`` and read Catalyst's phase tracker (analysis,
    optimization, planning) in ms. Planning here is extra work the
    untraced run does not do; it counts in the tracing overhead."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    return {n: int(phases.get(n).get().durationMs())
            for n in ("analysis", "optimization", "planning")
            if phases.get(n).isDefined()}


@contextlib.contextmanager
def job_counter(spark, tracer: Tracer, name: str):
    """Count the Spark jobs started inside the block. Inside
    ``foreachBatch`` the calling thread carries the streaming query's
    job group, so the jobs of this batch are the group's new ids."""
    if not tracer.enabled:
        yield
        return
    sc = spark.sparkContext
    group = sc.getLocalProperty("spark.jobGroup.id")
    before = set(sc.statusTracker().getJobIdsForGroup(group))
    try:
        yield
    finally:
        after = set(sc.statusTracker().getJobIdsForGroup(group))
        tracer.count(name, len(after - before))


def progress_stats(queries: list, records: int) -> dict[str, float]:
    """Micro-batch engine numbers from the queries' own progress
    records (``recentProgress``): batches, records per batch, median
    ``durationMs`` components, and idle time, which is the query's wall
    time outside its trigger executions (start, listing, shutdown).
    ``records`` is what the queries consumed: ``numInputRows`` counts
    a source row again for each job that rescans it."""
    progress, idle = [], []
    for q, wall_s in queries:
        ps = [p for p in q.recentProgress if p["numInputRows"] > 0]
        progress += ps
        busy = sum(p["durationMs"].get("triggerExecution", 0)
                   for p in q.recentProgress) / 1000
        idle.append(max(wall_s - busy, 0.0))

    def dur(key):
        return median([p["durationMs"].get(key, 0) for p in progress])

    return {
        "stream.batches": len(progress),
        "stream.records_per_batch": records / max(len(progress), 1),
        "stream.add_batch_ms": dur("addBatch"),
        "stream.query_planning_ms": dur("queryPlanning"),
        "stream.latest_offset_ms": dur("latestOffset"),
        "stream.wal_commit_ms": dur("walCommit"),
        "stream.commit_offsets_ms": dur("commitOffsets"),
        "stream.idle_s": median(idle),
    }
