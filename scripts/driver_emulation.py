"""Cold-process emulation of the driver's correctness gate.

Runs ``__spark_entry__.queries()`` / ``oracle_sql()`` exactly the way
the driver does: a BARE SparkSession (none of the engine's pinned
confs — each query callable must self-configure), DuckDB views over the
same parquet dir, column-name-sorted canonical rows, per-query
rows/schema/hash verdicts printed as one JSON object.

Usage:
    python scripts/driver_emulation.py [sf_dir] [name ...]

Defaults: sf_dir=/root/testdata/sf0.01, names=all registered queries
(in registration order — the order the driver would see).
"""

from __future__ import annotations

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "tests"))

import duckdb  # noqa: E402
from pyspark.sql import SparkSession  # noqa: E402

import __spark_entry__ as entry_mod  # noqa: E402
from comparison import canonical_rows, duck_rows, spark_rows  # noqa: E402

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    names = sys.argv[2:] or list(qs)

    # Bare session, deliberately unconfigured (driver-faithful).
    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    results: dict[str, dict] = {}
    for name in names:
        rec: dict = {"rows_match": None, "schema_match": None,
                     "hash_match": None, "spark_rows": None,
                     "oracle_rows": None, "err": None, "sec": None}
        t0 = time.time()
        try:
            df = qs[name](spark, sf_dir)
            s_cols, s_rows = spark_rows(df)
            rec["spark_rows"] = len(s_rows)
            sql = oracles.get(name)
            if sql is None:
                rec["err"] = "no_oracle"
            else:
                d_cols, d_rows = duck_rows(con, sql)
                rec["oracle_rows"] = len(d_rows)
                rec["rows_match"] = len(s_rows) == len(d_rows)
                rec["schema_match"] = sorted(
                    c.lower() for c in s_cols
                ) == sorted(c.lower() for c in d_cols)
                left = canonical_rows([c.lower() for c in s_cols], s_rows)
                right = canonical_rows([c.lower() for c in d_cols], d_rows)
                rec["hash_match"] = left == right
        except Exception as exc:  # noqa: BLE001 — driver records errs
            rec["err"] = f"{type(exc).__name__}: {exc}"[:300]
        rec["sec"] = round(time.time() - t0, 2)
        results[name] = rec
        ok = rec["hash_match"] or rec["err"] == "no_oracle"
        print(f"  {name}: {'OK' if ok else 'FAIL'} {rec['sec']}s",
              file=sys.stderr)

    print(json.dumps(results, indent=1))
    bad = [n for n, r in results.items()
           if not (r["hash_match"] or r["err"] == "no_oracle")]
    print(f"\n{len(results) - len(bad)}/{len(results)} green; "
          f"failing: {bad}", file=sys.stderr)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
