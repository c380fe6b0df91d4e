"""foreachBatch sinks with the reference's delivery semantics.

Reference behavior reproduced (citations into /root/reference):

- micro-batches partitioned by tag; the sink fires once per (batch,
  tag) — alerts_consumer.go:234-248;
- Datadog submit with retry: 5 attempts, exponential backoff from
  50 ms (alerts_consumer.go:257; metrics.go:42); on final failure the
  batch quarantines to a failed-logs location instead of being lost
  (PartialSendBatchError -> FailedLogsFile, main.go:55) — here a DLQ
  parquet directory; delivery is at-least-once in both systems;
- CloudWatch is best-effort: errors logged, never failing the batch
  (alerts_consumer.go:271-281);
- per-batch max-delay gauge (A2) computed before submit
  (alerts_consumer.go:250-255).

The default "transport" appends to local parquet/JSON directories (a
dev stand-in for the Datadog/CloudWatch HTTP APIs); real HTTP clients
with the reference's wire semantics live in :mod:`.transports`
(`DatadogTransport` with the 202-only success check,
`CloudWatchTransport` with stdlib SigV4) and plug into `submit_dd` /
`submit_cw`. Everything around the transport (batching by tag, retry,
DLQ, delay gauge) is the engine's logic under test.
"""

from __future__ import annotations

import itertools
import json
import logging
import os
import re
import time
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_log = logging.getLogger(__name__)

# CloudWatch PutMetricData accepts at most 20 data per call
# (allowlist.go:6-7 pins the constraint; the reference keeps its
# allowlist small enough to fit one call — the sink enforces it).
CW_MAX_DATA_PER_CALL = 20

# Driver-collect cap for injected CW transports: the collect is safe
# ONLY because the allowlist bounds the row count; this cap enforces
# that premise (≈500 calls' worth) instead of trusting it.
_CW_COLLECT_BOUND = 10_000


@dataclass
class RetryPolicy:
    """5 × exponential backoff from 50 ms (reference retrier)."""

    attempts: int = 5
    initial_backoff_s: float = 0.05

    def run(self, fn: Callable[[], None]) -> Exception | None:
        backoff = self.initial_backoff_s
        for attempt in range(self.attempts):
            try:
                fn()
                return None
            except Exception as exc:  # noqa: BLE001 — sink errors are data
                if attempt == self.attempts - 1:
                    return exc
                time.sleep(backoff)
                backoff *= 2


@dataclass
class MetricsSink:
    """Batch writer for projected records: DD + CW + quarantine + DLQ.

    Call :meth:`process_batch` from ``foreachBatch`` (or directly on a
    batch DataFrame). Output layout under ``out_dir``:

      dd/         one row per Datadog point (parquet, batch_id/tag dirs)
      cw/         one row per CloudWatch datum (only for region tags)
      quarantine/ per-record error rows (the engine's DLQ for bad records)
      failed/     whole batches whose DD submit exhausted retries
      gauges/     batch-N.json max_log_delay per batch (A2)

    dd/quarantine/failed are EXACTLY-ONCE under micro-batch replay
    (dynamic overwrite of the ``batch_id=N`` partition); cw stays
    best-effort append, mirroring the reference's unretried,
    never-fails-the-batch CloudWatch path (alerts_consumer.go:271-281).
    """

    out_dir: str
    retry: RetryPolicy = field(default_factory=RetryPolicy)
    submit_dd: Callable[[DataFrame], None] | None = None
    submit_cw: Callable[[DataFrame], None] | None = None

    def __post_init__(self) -> None:
        # The staging/stale-partition cleanup below is LOCAL-FS-only
        # (shutil/os.path); on an object-store out_dir those deletes
        # silently no-op and stage dirs accumulate unbounded, and
        # exactly-once replay silently degrades (stale partitions
        # survive). Enforce the assumption instead of documenting it:
        # reject URI schemes the cleanup can't delete. Any scheme
        # prefix counts, not only `://` forms: the Hadoop single-slash
        # form `file:/path`, uppercase schemes and `s3:/bucket` must
        # not slip through. Schemes are case-insensitive per RFC 3986.
        m = re.match(r"^([A-Za-z][A-Za-z0-9+.-]*):", self.out_dir)
        if m and m.group(1).lower() != "file":
            raise ValueError(
                f"MetricsSink out_dir {self.out_dir!r} uses scheme "
                f"{m.group(1)!r}, but staging cleanup is local-fs-only "
                "(shutil) — stage dirs and stale batch partitions "
                "would silently accumulate. Use a local path, or "
                "route deletes through the store's prefix-delete API "
                "before enabling object-store output."
            )
        if m:  # file URI — resolve so os.path/shutil and Spark agree
            # Percent-decode the path: Hadoop/Spark decode
            # URI escapes, so `file:///tmp/pct%20dir` writes under
            # `/tmp/pct dir` — an undecoded self.out_dir would point
            # shutil cleanup at a different directory, the exact silent
            # stage-dir-leak divergence this guard closes, via encoding
            # instead of scheme.
            from urllib.parse import unquote

            rest = self.out_dir[len(m.group(0)):]
            if rest.startswith("//"):
                # file://authority/path — only a local authority can
                # back shutil deletes
                authority, sep, path = rest[2:].partition("/")
                if authority not in ("", "localhost"):
                    raise ValueError(
                        f"MetricsSink out_dir {self.out_dir!r} names "
                        f"remote file authority {authority!r}; staging "
                        "cleanup is local-fs-only."
                    )
                self.out_dir = unquote("/" + path)
            else:  # file:/path (Hadoop's usual single-slash form)
                self.out_dir = unquote(rest)

    def _path(self, *parts: str) -> str:
        return os.path.join(self.out_dir, *parts)

    def _write_idempotent(
        self, df: DataFrame, batch_id: int, *parts: str, tag: bool = False
    ) -> None:
        """Exactly-once parquet delivery under foreachBatch's
        at-least-once replay contract: Structured Streaming re-runs a
        failed micro-batch with the SAME batch_id, so writing into a
        ``batch_id=N`` partition with dynamic partition overwrite
        replaces the half-written attempt instead of appending a
        duplicate — the standard idempotent-foreachBatch pattern. A
        plain ``mode("append")`` here double-counts every replayed
        point. (The pluggable HTTP transports stay at-least-once, as
        the reference's PartialSendBatchError re-send does —
        alerts_consumer.go:268.)

        Dynamic overwrite alone only replaces partitions PRESENT in
        the replay: if a half-written failed attempt wrote a
        (batch_id, tag) partition that the replay — after a code or
        config change between attempts — no longer produces, the
        stale tag partition would survive and double-count. So the
        whole ``batch_id=N`` directory is removed first; the replay
        then rebuilds exactly its own output. (On an object store
        this delete becomes a prefix delete — same one-batch blast
        radius, still no cross-batch window.)"""
        base = self._path(*parts)
        stale = os.path.join(base, f"batch_id={int(batch_id)}")
        if os.path.isdir(stale):
            import shutil

            shutil.rmtree(stale, ignore_errors=True)
        keys = ["batch_id"] + (["tag"] if tag else [])
        (
            df.withColumn("batch_id", F.lit(int(batch_id)))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(*keys)
            .parquet(self._path(*parts))
        )

    def process_batch(self, projected: DataFrame, batch_id: int = 0) -> None:
        import shutil

        from pyspark.sql import Observation

        from ..operators.project import cw_data, dd_points, quarantine
        from ..operators.volume import max_delay_agg

        # Three actions consume the batch: the quarantine write, the DD
        # submit and the CW submit. The expensive interpreted
        # parse->route->project lineage therefore evaluates once, into
        # a parquet STAGING dir that each action re-reads, rather than
        # into an executor-memory cache: persist() builds whole
        # columnar batches per task and OOMed the 8g heap on a
        # 20M-event availableNow batch, while parquet writers stream
        # rows through bounded row-group buffers. The explicit schema
        # on the read-back keeps empty micro-batches working (no part
        # files to infer from). A replayed batch rewrites its own stage
        # dir first, the same one-batch blast radius as
        # _write_idempotent. The staging write sits inside the try, so
        # a failed write does not leak its dir; cleanup is
        # local-fs-only, which __post_init__ enforces.
        #
        # The A2 max-delay gauge (alerts_consumer.go:250-255) is an
        # Observation on the staging write, not an action of its own:
        # every DD point of a clean record carries the record's epoch
        # ts, so the max over each record's point ts equals the max
        # over dd_points.
        stage = self._path("stage", f"batch_id={int(batch_id)}")
        shutil.rmtree(stage, ignore_errors=True)
        schema = projected.schema
        spark = projected.sparkSession
        delay = Observation()
        try:
            projected.observe(
                delay, max_delay_agg(F.array_max(F.col("dd_metrics.ts")))
            ).write.mode("overwrite").parquet(stage)
            projected = spark.read.schema(schema).parquet(stage)

            self._write_idempotent(
                quarantine(projected), batch_id, "quarantine"
            )

            # Emitted like the reference's 15 s logMaxDelay
            # (delay.go:35-39): one whole file per batch_id, so a
            # replay overwrites its own prior attempt.
            os.makedirs(self._path("gauges"), exist_ok=True)
            with open(
                self._path("gauges", f"batch-{int(batch_id):06d}.json"), "w"
            ) as fh:
                fh.write(
                    json.dumps(
                        {
                            "batch_id": batch_id,
                            "gauge": "max_log_delay",
                            "value": float(delay.get["max_log_delay"]),
                        }
                    )
                    + "\n"
                )

            dd = dd_points(projected)
            submit = self.submit_dd or (
                lambda df: self._write_idempotent(
                    df, batch_id, "dd", tag=True
                )
            )
            if getattr(submit, "handles_retry", False):
                # Executor-side transports (DatadogTransport.submit)
                # retry per partition inside the task; wrapping them in
                # the sink's RetryPolicy would re-run the whole job per
                # attempt and re-POST partitions that already
                # succeeded. One call; a raise parks the batch below.
                try:
                    submit(dd)
                    err = None
                except Exception as exc:  # noqa: BLE001 — park, don't crash
                    err = exc
            else:
                err = self.retry.run(lambda: submit(dd))
            if err is not None:
                # PartialSendBatchError analogue: park the whole batch.
                self._write_idempotent(dd, batch_id, "failed")

            # CW: best-effort, only region-tagged data; a failure is
            # logged and never fails the batch (alerts_consumer.go:271-281).
            try:
                cw = cw_data(projected).filter(F.col("tag") != "default")
                if self.submit_cw is None:
                    # The local stand-in has no per-call limit: one
                    # partitioned append for the whole batch.
                    cw.write.mode("append").partitionBy("tag").parquet(
                        self._path("cw")
                    )
                else:
                    self._submit_cw_chunks(cw)
            except Exception:  # noqa: BLE001 — best-effort, never fails
                _log.warning(
                    "CloudWatch submit failed for batch %d; continuing",
                    batch_id,
                    exc_info=True,
                )
        finally:
            shutil.rmtree(stage, ignore_errors=True)

    def _submit_cw_chunks(self, cw: DataFrame) -> None:
        """One ``submit_cw`` call per (tag, <=20-datum chunk): each call
        maps to one PutMetricData against that region's API
        (alerts_consumer.go:272-278), which caps MetricData at 20
        (allowlist.go:6-7).

        The CW side is bounded-small by construction (allowlisted
        series only, allowlist.go:8-10), so it is collected once and
        chunked client-side. ``take(N+1)`` keeps that premise honest:
        if the allowlist grows pathologically, the raise lands in the
        caller's best-effort handler instead of exhausting driver
        memory. Rows are sorted by a deterministic total key before
        chunking, so at-least-once replays re-send identical chunks."""
        rows = cw.take(_CW_COLLECT_BOUND + 1)
        if len(rows) > _CW_COLLECT_BOUND:
            raise RuntimeError(
                "CloudWatch side exceeded the allowlist-bounded "
                f"collect cap ({_CW_COLLECT_BOUND} rows/batch); "
                "shrink the allowlist or move CW submit "
                "executor-side like DatadogTransport"
            )
        rows.sort(key=lambda r: (r["tag"], str(tuple(r))))
        spark = cw.sparkSession
        for _tag, grouped in itertools.groupby(rows, key=lambda r: r["tag"]):
            chunk = list(grouped)
            for i in range(0, len(chunk), CW_MAX_DATA_PER_CALL):
                self.submit_cw(
                    spark.createDataFrame(
                        chunk[i : i + CW_MAX_DATA_PER_CALL], cw.schema
                    )
                )
