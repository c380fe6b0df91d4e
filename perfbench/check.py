"""Output checks: read what the sinks wrote and compare it with the
calculator's totals. Reads parquet with pyarrow, not with the engine.

Each check returns a list of mismatch descriptions; an empty list
means the outputs are correct.
"""

from __future__ import annotations

import glob
import math
import os

import pyarrow.dataset as ds

from gen import Expected, jaccard, tag_hash


def _table(path: str, columns: list[str]):
    """Hive-partitioned parquet directory as a pyarrow table, or None
    when nothing was written there."""
    if not glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True):
        return None
    return ds.dataset(path, format="parquet", partitioning="hive").to_table(
        columns=columns)


def _close(a: float, b: float) -> bool:
    return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-6)


def sink_mismatches(out_dir: str, exp: Expected) -> list[str]:
    """Compare one MetricsSink output directory with its expectation:
    DD points per (metric, mtype) by count, value sum, timestamp sum and
    tag hash sum; quarantine rows; CloudWatch rows and value sum; and
    no batch parked in ``failed/``."""
    bad = []
    got: dict = {}
    dd = _table(os.path.join(out_dir, "dd"),
                ["metric", "mtype", "tags", "ts", "value"])
    if dd is not None:
        cols = dd.to_pydict()
        for m, t, tags, ts, v in zip(cols["metric"], cols["mtype"],
                                     cols["tags"], cols["ts"], cols["value"]):
            acc = got.setdefault((m, t), [0, 0.0, 0, 0])
            acc[0] += 1
            acc[1] += v
            acc[2] += ts
            acc[3] += tag_hash(tags)
    for key in sorted(set(got) | set(exp.dd)):
        g, e = got.get(key, [0, 0.0, 0, 0]), exp.dd.get(key, [0, 0.0, 0, 0])
        if g[0] != e[0] or g[2:] != e[2:] or not _close(g[1], e[1]):
            bad.append(f"dd {key}: got {g}, expected {e}")
    quar = _table(os.path.join(out_dir, "quarantine"), ["error"])
    n_quar = 0 if quar is None else quar.num_rows
    if n_quar != exp.quarantine:
        bad.append(f"quarantine rows {n_quar}, expected {exp.quarantine}")
    cw = _table(os.path.join(out_dir, "cw"), ["value"])
    n_cw = 0 if cw is None else cw.num_rows
    cw_sum = 0.0 if cw is None else sum(cw.column("value").to_pylist())
    if n_cw != exp.cw_rows or not _close(cw_sum, exp.cw_value):
        bad.append(f"cw rows {n_cw} sum {cw_sum}, expected {exp.cw_rows} "
                   f"sum {exp.cw_value}")
    if os.path.isdir(os.path.join(out_dir, "failed")):
        bad.append("a batch was parked in failed/")
    return bad


def volume_mismatches(vol_dir: str, exp: Expected) -> list[str]:
    """Compare a volume-rollup output directory, summed over its
    micro-batches, with the expected per-(env, app, team) totals."""
    got: dict = {}
    t = _table(vol_dir, ["env", "app", "team", "cnt", "size"])
    if t is not None:
        c = t.to_pydict()
        for key in zip(c["env"], c["app"], c["team"]):
            got.setdefault(key, [0, 0])
        for env, app, team, cnt, size in zip(c["env"], c["app"], c["team"],
                                             c["cnt"], c["size"]):
            got[(env, app, team)][0] += cnt
            got[(env, app, team)][1] += size
    return [f"volume {k}: got {got.get(k)}, expected {exp.volume.get(k)}"
            for k in sorted(set(got) | set(exp.volume))
            if got.get(k) != exp.volume.get(k)]


def dedup_result(out_dir: str, corpus: dict, new: dict, planted: set,
                 shingle: int, threshold: float) -> tuple[int, list[str]]:
    """(planted pairs found, mismatches) for a probe output directory.

    Every returned pair must join a corpus doc to a new doc, appear
    once, and carry the exact Jaccard, which must reach the threshold.
    Pairs beyond the planted ones are correct when they pass the same
    test: the Zipf vocabulary makes some unplanted near-duplicates."""
    bad, seen = [], set()
    t = _table(out_dir, ["a", "b", "jaccard"])
    rows = [] if t is None else zip(*t.to_pydict().values())
    for a, b, jac in rows:
        if (a, b) in seen:
            bad.append(f"pair {(a, b)} returned twice")
            continue
        seen.add((a, b))
        if a not in corpus or b not in new:
            bad.append(f"pair {(a, b)} is not (corpus doc, new doc)")
            continue
        exact = jaccard(corpus[a], new[b], shingle)
        # the engine compares the Jaccard rounded to 6 places
        if round(exact, 6) < threshold or abs(exact - jac) > 1e-6:
            bad.append(f"pair {(a, b)}: jaccard {jac}, exact {exact:.6f}")
    return len(planted & seen), bad
