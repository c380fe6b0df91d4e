"""Shared operator utilities."""

from __future__ import annotations

from collections.abc import Callable
from typing import Any

from pyspark.sql import DataFrame, SparkSession

_memo_ctx: Any = None
_memo: dict[str, Any] = {}


def memo_expr(key: str, build: Callable[[], Any]) -> Any:
    """Memoize a pure, zero-arg unresolved Column expression (or a
    tuple/dict of them) per SparkContext.

    The kayvee route/projection expressions are large Column trees —
    hundreds of py4j round-trips to construct, ~2 s of plan-build per
    query measured with cProfile (socket recv dominates). They
    reference columns by NAME only, so one unresolved tree can be
    embedded in any number of plans. Cache is invalidated when the
    active SparkContext changes (a JVM gateway restart would dangle
    the cached JavaObject refs). Cuts warm plan construction of the
    full pipeline from ~2.6 s to the withColumn calls alone.
    """
    global _memo_ctx
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is not _memo_ctx:
        _memo.clear()
        _memo_ctx = sc
    if key not in _memo:
        _memo[key] = build()
    return _memo[key]


def run_overlapped(*thunks: Callable[[], Any]) -> list[Any]:
    """Run independent Spark ACTIONS concurrently from driver threads
    (guide §2.6: actions are only sequential because driver code calls
    them sequentially) and return their results in argument order.

    Driver-gap profiles motivated this: the incremental-dedup
    queries spend 60-65% of their wall in dead driver time between
    ~37 micro-jobs (llm40: 2.71 s wall = 0.98 s job-busy + 1.73 s
    gaps), and each independent action chain carries its own
    ~0.3-0.5 s planning gap — overlapping the chains hides one
    chain's planning/scheduling gaps behind another's tasks. Callers
    must only overlap actions with NO data dependency and disjoint
    output paths. Exceptions propagate from whichever thunk raises
    first (the pool still joins the rest, so no write is abandoned
    mid-flight with the caller unaware)."""
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=len(thunks)) as pool:
        futures = [pool.submit(t) for t in thunks]
        return [f.result() for f in futures]


# spread only inputs with at most 1/_SPREAD_MIN_FACTOR as many splits as cores
_SPREAD_MIN_FACTOR = 2


def spread_enabled(spark: SparkSession) -> bool:
    """False when the deployment turned every forced spread off with
    ``spark.graft.spreadForCompute=off`` — the one reading of the
    switch, shared by :func:`spread_for_compute` and the dedup pair
    spread. A session whose conf cannot be read keeps the spread on."""
    try:
        return spark.conf.get("spark.graft.spreadForCompute", "auto") != "off"
    except Exception:  # noqa: BLE001 — conf access never blocks the op
        return True


def spread_for_compute(df: DataFrame) -> DataFrame:
    """Repartition a DataFrame whose partition count is far below the
    cluster's parallelism before a CPU-heavy per-row stage.

    A small parquet table (one file < maxPartitionBytes) scans as ONE
    partition, serializing any expensive downstream map (observed:
    minhash over 5k docs ran on 1 of 32 cores). The repartition is a
    no-op whenever the source already has enough splits — i.e. at real
    scale, where inputs arrive as many files/row-groups — so this
    only fires in exactly the small-input/heavy-compute regime where
    the round-robin shuffle (cost: one pass over the small input) buys
    a parallelism factor equal to the core count.

    The partition-count probe itself (``df.rdd.getNumPartitions``)
    forces an analysis + RDD-conversion pass per call — negligible
    locally, but at real scale it triggers file listing for a check
    that is known to be a no-op there. Deployments set
    ``spark.graft.spreadForCompute=off`` to skip probe and shuffle
    entirely (inputs already arrive well-split).

    KNOWN BLIND SPOT (seen in a scale rehearsal): the probe counts
    SPLITS, but a parquet scan parallelizes only down to row-group
    granularity — a file with one giant row group yields many
    byte-range splits of which all but one are empty, so the probe
    sees "plenty of partitions" while one task does all the work. The
    durable fix is at WRITE time (bound row_group_size so groups ≤
    maxPartitionBytes — scripts/make_scale_data.py does; ingest jobs
    at scale must too); probing actual row distribution would cost a
    full pass.
    """
    if not spread_enabled(df.sparkSession):
        return df
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() * _SPREAD_MIN_FACTOR <= target:
        return df.repartition(target)
    return df
