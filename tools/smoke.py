"""Environment-shift smoke gate (~30 s): catches testdata/PySpark drift
without executing anything.

Round 3 shipped green locally and died in the driver because the testdata
parquet encoding changed (events.ts became TIMESTAMP_NTZ) after the last
local run.  This script would have caught it at analysis time:

1. loads every table at the given sf and prints its schema fingerprint;
2. asserts ``load_events`` yields a proper TIMESTAMP ``ts`` (not NTZ/bigint);
3. ANALYZES every registered query plan (touching ``.schema`` forces
   Catalyst analysis — unresolved columns / type mismatches throw here).
   Plan CONSTRUCTION is mostly job-free; the exceptions are the fuzzy
   queries (the bounded scorer collects its small candidate batch at build
   time, like a broadcast build) and the iterative ops — all cheap at
   sf0.001;
4. exercises ``entry(spark)`` schema the same way.

Run it (plus tools/check.py and bench.py) as the final act of every round:

    python tools/smoke.py [sf_dir]

Exit 0 = every plan analyzes.  Streaming queries analyze like batch ones.
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"

    from pyspark.sql import SparkSession
    from pyspark.sql.types import TimestampType

    # Vanilla session on purpose: the driver builds its own session, so any
    # dependence on mistocksync_spark.session.get_spark confs is itself a bug
    # this gate should catch.
    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "8")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entrymod
    from mistocksync_spark.sources.testdata import TABLES, load_events, load_table

    failures: list[str] = []
    t0 = time.time()

    # 1. every table loads and has a non-empty schema
    for name in TABLES:
        try:
            df = load_table(spark, name, sf_dir)
            cols = len(df.schema.fields)
            print(f"table {name}: {cols} cols")
            if cols == 0:
                failures.append(f"table {name}: empty schema")
        except Exception as e:  # noqa: BLE001 - report every table
            failures.append(f"table {name}: {type(e).__name__}: {e}")

    # 2. the event-time contract: post-loader ts must be TIMESTAMP
    try:
        ev = load_events(spark, sf_dir)
        ts_field = ev.schema["ts"]
        if not isinstance(ts_field.dataType, TimestampType):
            failures.append(
                f"load_events ts is {ts_field.dataType.simpleString()}, want timestamp"
            )
        else:
            print("load_events ts: timestamp OK")
    except Exception as e:  # noqa: BLE001
        failures.append(f"load_events: {type(e).__name__}: {e}")

    # 3. analyze every registered query plan (no execution)
    queries = entrymod.queries()
    for name, fn in queries.items():
        try:
            df = fn(spark, sf_dir)
            _ = df.schema  # forces full Catalyst analysis
        except Exception as e:  # noqa: BLE001
            msg = str(e).splitlines()[0][:200]
            failures.append(f"query {name}: {type(e).__name__}: {msg}")
    print(f"analyzed {len(queries)} query plans")

    # 4. the flagship entry point analyzes too
    try:
        _ = entrymod.entry(spark).schema
        print("entry(spark): analyzes OK")
    except Exception as e:  # noqa: BLE001
        failures.append(f"entry: {type(e).__name__}: {e}")

    dt = time.time() - t0
    if failures:
        print(f"\nSMOKE FAIL ({len(failures)} failures, {dt:.1f}s):")
        for f in failures:
            print(f"  - {f}")
        return 1
    print(f"\nSMOKE PASS: {len(TABLES)} tables, {len(queries)} plans, {dt:.1f}s")
    return 0


if __name__ == "__main__":
    sys.exit(main())
