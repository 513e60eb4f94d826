"""Definitive harness simulation: run EVERY registered query against
its DuckDB oracle on a VANILLA SparkSession (default configs, default
1 GB driver heap — exactly what the correctness driver builds).

This catches the failure class the tuned test session masks: round 6
shipped a query whose 16-wide aggregate-HOF self-join passed under
get_session's 8 GB driver but OOMed a vanilla session's codegen; only
this sweep exposed it (fixed by reformulating relationally). Run it
before trusting a query that only the tuned test session has run.

A query is also RED when it leaves a pin behind that its returned
frame does not read (``tests.plans.PinAudit``: a cached or checkpointed
RDD, or a CacheManager entry).

Usage: python scripts/vanilla_sweep.py [sf_dir]   (default sf0.01)
"""

from __future__ import annotations

import sys
import time

sys.path.insert(0, ".")


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

    from pyspark.sql import SparkSession

    import __spark_entry__ as e
    from tests.oracle import compare, duckdb_con
    from tests.plans import PinAudit

    spark = SparkSession.builder.master("local[8]").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    qs, osql = e.queries(), e.oracle_sql()
    con = duckdb_con(sf_dir)
    bad: list[tuple[str, str]] = []
    t0 = time.time()
    for name, fn in qs.items():
        pins = PinAudit(spark)
        try:
            df = fn(spark, sf_dir)
            compare(df, con.execute(osql[name]).df(), name)
            stray = pins.stray(df)
            assert not stray, f"left {stray} pinned that its frame does not read"
        except Exception as exc:  # noqa: BLE001 — report every red
            bad.append((name, f"{type(exc).__name__}: {str(exc)[:200]}"))
            print("RED", name, bad[-1][1], flush=True)
    print(
        f"{len(qs)} queries on VANILLA session, {len(bad)} RED, "
        f"{time.time() - t0:.0f}s"
    )
    if bad:
        sys.exit(1)


if __name__ == "__main__":
    main()
