"""The benchmark's workloads. Each one writes its seeded inputs before
Spark starts, warms up on separate inputs of the same shape, runs
timed rounds over its inputs, and checks every round's outputs. A
traced round is the same round with spans around the engine's public
functions, taken from outside the engine.
"""

from __future__ import annotations

import contextlib
import os
import time

import check
import gen
from spans import (Tracer, catalyst_phases_ms, job_counter, median, p90,
                   progress_stats)


def _du(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


@contextlib.contextmanager
def _patched(module, name: str, wrapper):
    orig = getattr(module, name)
    setattr(module, name, wrapper(orig))
    try:
        yield
    finally:
        setattr(module, name, orig)


class _Workload:
    def __init__(self, work: str, tracer: Tracer) -> None:
        self.work = work
        self.tracer = tracer
        self.detail: dict[str, float] = {}
        self._n = 0

    def _new_dir(self, tag: str) -> str:
        self._n += 1
        return os.path.join(self.work, f"{tag}{self._n:03d}")

    def prepare(self, spark) -> None:
        """Timed one-off work before the rounds (none by default)."""


class ReplayBacklog(_Workload):
    """Catch-up drain of a kayvee backlog (Kinesis TRIM_HORIZON).

    A round drains the backlog through ``replay_lines`` into a
    ``MetricsSink`` in one micro-batch, then through
    ``volume_rollup_processing_time``: the two queries the deployment
    runs over every record. Per-record parse/route/project/write work
    and the fixed cost of a micro-batch both count."""

    FILES, LINES_PER_FILE = 2, 2500
    ROUND_S = 9.0
    WARM_LINES = 1000

    def __init__(self, seed: int, work: str, tracer: Tracer) -> None:
        super().__init__(work, tracer)
        self.src = os.path.join(work, "backlog")
        self.exp = gen.write_kayvee_files(
            gen.KayveeGen(seed), self.src, self.FILES, self.LINES_PER_FILE)
        self.warm_src = os.path.join(work, "warm")
        gen.write_kayvee_files(gen.KayveeGen(seed + 7919), self.warm_src, 1,
                               self.WARM_LINES)
        self.outputs: list[tuple[str, str]] = []
        self.traced_rounds: list[dict] = []

    def _drain(self, spark, src: str, make_sink=None) -> dict:
        from kinesis_alerts_consumer_spark.streaming.pipeline import (
            replay_lines, volume_rollup_processing_time)

        base = self._new_dir("round")
        rec = {"out": f"{base}/out", "vol": f"{base}/vol"}
        t0 = time.perf_counter()
        q = replay_lines(spark, src, rec["out"], f"{base}/ck",
                         sink=make_sink(rec["out"]) if make_sink else None,
                         max_files_per_trigger=self.FILES)
        q.awaitTermination()
        t1 = time.perf_counter()
        r = volume_rollup_processing_time(spark, src, rec["vol"], f"{base}/ckv",
                                          max_files_per_trigger=self.FILES)
        r.awaitTermination()
        rec.update(sink_query=(q, t1 - t0),
                   rollup_query=(r, time.perf_counter() - t1))
        return rec

    def warm_up(self, spark) -> None:
        self._drain(spark, self.warm_src)

    def round(self, spark, traced: bool) -> int:
        if traced:
            rec = self._traced_drain(spark)
            self.traced_rounds.append(rec)
        else:
            rec = self._drain(spark, self.src)
        self.outputs.append((rec["out"], rec["vol"]))
        return self.exp.records

    def check(self) -> tuple[float, list[str]]:
        """(delivered ratio, mismatches) over every timed round."""
        bad = []
        for out, vol in self.outputs:
            bad += check.sink_mismatches(out, self.exp)
            bad += check.volume_mismatches(vol, self.exp)
        return (0.0 if bad else 1.0), bad

    # -- traced run ------------------------------------------------------

    def _traced_drain(self, spark) -> dict:
        """A drain with spans around ``process_lines`` (plan build,
        Catalyst phases) and ``MetricsSink.process_batch`` (time, Spark
        jobs, submit attempts)."""
        import kinesis_alerts_consumer_spark.streaming.pipeline as sp
        from kinesis_alerts_consumer_spark.streaming.sinks import (
            MetricsSink, RetryPolicy)

        tracer = self.tracer

        def wrap_process_lines(orig):
            def traced(df, *args, **kwargs):
                with tracer.span("pipeline.plan_build"):
                    out = orig(df, *args, **kwargs)
                with tracer.span("pipeline.catalyst") as attrs:
                    attrs.update(catalyst_phases_ms(out))
                return out
            return traced

        class CountingRetry(RetryPolicy):
            def run(self, fn):
                def attempt():
                    tracer.count("sinks.attempts")
                    fn()
                return super().run(attempt)

        class TracedSink(MetricsSink):
            def process_batch(self, projected, batch_id=0):
                with tracer.span("sinks.process_batch"), job_counter(
                        projected.sparkSession, tracer, "sinks.jobs"):
                    super().process_batch(projected, batch_id)

        with tracer.span("round"), \
                _patched(sp, "process_lines", wrap_process_lines):
            return self._drain(spark, self.src, lambda out: TracedSink(
                out, retry=CountingRetry()))

    def layers(self, spark) -> dict[str, float]:
        """Per-layer numbers from the traced rounds, plus a cascade of
        noop sinks over one batch of the backlog that splits the kayvee
        path into parse, route and project steps."""
        from pyspark.sql import functions as F

        from kinesis_alerts_consumer_spark.functions.kayvee import parse_lines
        from kinesis_alerts_consumer_spark.operators.project import project_routes
        from kinesis_alerts_consumer_spark.operators.routing import with_routes

        t = self.tracer
        out, prev = {}, 0.0
        df = spark.read.text(self.src)
        for name, step in (("read", lambda d: d),
                           ("kayvee.parse_s", lambda d: parse_lines(d, "value")),
                           ("routing.route_s", with_routes),
                           ("project.project_s", project_routes)):
            df = step(df)
            if name == "routing.route_s":
                routed = df
            with t.span(f"noop.{name}"):
                t0 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                cum = time.perf_counter() - t0
            out[name] = max(cum - prev, 0.0)
            prev = cum
        del out["read"]
        routes = routed.agg(F.sum(F.size("routes"))).first()[0]

        traced = self.traced_rounds
        batches = t.durations("sinks.process_batch")
        rollups = [rec["rollup_query"] for rec in traced]
        rollup_batches = [p["durationMs"]["triggerExecution"] / 1000
                          for q, _ in rollups for p in q.recentProgress
                          if p["numInputRows"] > 0]
        phases = t.values
        n = self.exp.records
        out.update({
            "routing.routes_per_record": routes / n,
            "project.dd_points_per_record": self.exp.dd_points / n,
            "project.quarantine_ratio": self.exp.quarantine / n,
            "pipeline.plan_build_s": median(t.durations("pipeline.plan_build")),
            "pipeline.analysis_ms": median(phases("pipeline.catalyst", "analysis")),
            "pipeline.optimization_ms": median(
                phases("pipeline.catalyst", "optimization")),
            "pipeline.planning_ms": median(phases("pipeline.catalyst", "planning")),
            "sinks.process_batch_s": median(batches),
            "sinks.process_batch_p90_s": p90(batches),
            "sinks.jobs_per_batch": t.counts.get("sinks.jobs", 0) / len(batches),
            "sinks.bytes_written": median([_du(r["out"]) for r in traced]),
            "sinks.retries": t.counts.get("sinks.attempts", 0) - len(batches),
            "sinks.parked_batches": sum(
                os.path.isdir(os.path.join(r["out"], "failed")) for r in traced),
            "volume.rollup_batch_s": median(rollup_batches),
            "volume.rollup_records_per_s": n * len(rollups) / sum(
                w for _, w in rollups),
        })
        out.update(progress_stats([rec["sink_query"] for rec in traced],
                                  n * len(traced)))
        return out

    def baseline(self, spark) -> float:
        """Records/s of one drain on the session given (``local[1]``)."""
        t0 = time.perf_counter()
        self._drain(spark, self.src)
        return self.exp.records / (time.perf_counter() - t0)


class DedupIngest(_Workload):
    """Streaming near-duplicate ingest against a prebuilt MinHash index.

    ``prepare`` builds the corpus index with ``lsh_build_index``, writes
    it to parquet and reads it back (the deployed shape). A round
    streams the new documents ``availableNow`` as one micro-batch
    through ``lsh_incremental_pairs`` against it. The only workload
    with shuffles and joins."""

    N_CORPUS, N_NEW = 5000, 4000
    SHINGLE, THRESHOLD, MAX_BUCKET = 3, 0.5, 64
    ROUND_S = 9.0

    def __init__(self, seed: int, work: str, tracer: Tracer) -> None:
        super().__init__(work, tracer)
        self.docs = gen.make_docs(seed, self.N_CORPUS, self.N_NEW,
                                  self.SHINGLE, self.THRESHOLD)
        self.corpus_dir, self.new_dir = self._write(self.docs, "docs")
        warm = gen.make_docs(seed + 7919, 300, 100, self.SHINGLE,
                             self.THRESHOLD)
        self.warm_corpus, self.warm_new = self._write(warm, "warm")
        self.outputs: list[str] = []
        self.traced_queries: list = []

    def _write(self, docs: gen.DocSet, tag: str) -> tuple[str, str]:
        import pyarrow as pa
        import pyarrow.parquet as pq

        corpus_dir = os.path.join(self.work, tag, "corpus")
        new_dir = os.path.join(self.work, tag, "new")
        os.makedirs(corpus_dir)
        os.makedirs(new_dir)

        def table(rows):
            return pa.table({"doc_id": pa.array([i for i, _ in rows], pa.int64()),
                             "text": [t for _, t in rows]})

        pq.write_table(table(docs.corpus), f"{corpus_dir}/part-0.parquet")
        pq.write_table(table(docs.new), f"{new_dir}/part-0.parquet")
        return corpus_dir, new_dir

    def _index(self, spark, corpus_dir: str):
        from kinesis_alerts_consumer_spark.operators.dedup import lsh_build_index

        idx_dir = self._new_dir("index")
        old = spark.read.parquet(corpus_dir)
        lsh_build_index(old, bands=2, rows_per_band=2, shingle=self.SHINGLE) \
            .write.partitionBy("band").parquet(idx_dir)
        return old, idx_dir

    def _probe(self, spark, new_dir: str, old, idx_dir: str, wrap=None):
        """One availableNow pass over ``new_dir``: (query, wall s, out)."""
        from kinesis_alerts_consumer_spark.operators.dedup import (
            lsh_incremental_pairs)

        base = self._new_dir("probe")
        out = f"{base}/out"
        idx = spark.read.parquet(idx_dir)

        def probe(batch_df, batch_id):
            lsh_incremental_pairs(
                batch_df, old, shingle=self.SHINGLE,
                threshold=self.THRESHOLD, max_bucket=self.MAX_BUCKET,
                index=idx).write.mode("overwrite").parquet(f"{out}/b{batch_id}")

        stream = spark.readStream.schema(old.schema).parquet(new_dir)
        t0 = time.perf_counter()
        q = (stream.writeStream.foreachBatch(wrap(probe) if wrap else probe)
             .option("checkpointLocation", f"{base}/ck")
             .trigger(availableNow=True).start())
        q.awaitTermination()
        return q, time.perf_counter() - t0, out

    def warm_up(self, spark) -> None:
        self._probe(spark, self.warm_new, *self._index(spark, self.warm_corpus))

    def prepare(self, spark) -> None:
        t0 = time.perf_counter()
        self.old, self.idx_dir = self._index(spark, self.corpus_dir)
        self.detail["dedup.index_build_s"] = time.perf_counter() - t0

    def round(self, spark, traced: bool) -> int:
        tracer = self.tracer

        def wrap(probe):
            def traced_probe(batch_df, batch_id):
                with tracer.span("dedup.probe_batch"), job_counter(
                        spark, tracer, "dedup.jobs"):
                    probe(batch_df, batch_id)
            return traced_probe

        with tracer.span("round"):
            q, wall, out = self._probe(spark, self.new_dir, self.old,
                                       self.idx_dir, wrap if traced else None)
        self.outputs.append(out)
        if traced:
            self.traced_queries.append(((q, wall), out))
        return len(self.docs.new)

    def check(self) -> tuple[float, list[str]]:
        """(planted pairs found / planted, mismatches). Every round
        must return the same pairs."""
        corpus, new = dict(self.docs.corpus), dict(self.docs.new)
        found, bad = [], []
        for out in self.outputs:
            n, b = check.dedup_result(out, corpus, new, self.docs.planted,
                                      self.SHINGLE, self.THRESHOLD)
            found.append(n)
            bad += b
        if len(set(found)) > 1:
            bad.append(f"rounds found different planted pairs: {found}")
        return min(found) / len(self.docs.planted), bad

    # -- traced run ------------------------------------------------------

    def layers(self, spark) -> dict[str, float]:
        import pyarrow.dataset as ds

        t = self.tracer
        batches = t.durations("dedup.probe_batch")
        pairs = [ds.dataset(out, format="parquet").count_rows()
                 for _, out in self.traced_queries]
        out = {
            "dedup.probe_batch_s": median(batches),
            "dedup.jobs_per_batch": t.counts.get("dedup.jobs", 0) / len(batches),
            "dedup.pairs_per_doc": median(pairs) / len(self.docs.new),
        }
        out.update(progress_stats(
            [q for q, _ in self.traced_queries],
            len(self.docs.new) * len(self.traced_queries)))
        return out

    def baseline(self, spark) -> float:
        """Docs/s of one probe pass on the session given (``local[1]``),
        against the index already written."""
        _, wall, _ = self._probe(spark, self.new_dir,
                                 spark.read.parquet(self.corpus_dir),
                                 self.idx_dir)
        return len(self.docs.new) / wall


WORKLOADS = {"replay_backlog": ReplayBacklog, "dedup_ingest": DedupIngest}
