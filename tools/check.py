"""Local correctness harness mimicking the driver's t2 gate:
run each queries()[name] on Spark and oracle_sql()[name] on DuckDB at the
given sf, compare row count, sorted-column schema, and an order-insensitive
value hash.

Usage: python tools/check.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import math
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def normalize_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == int(v) and abs(v) < 1e15:
            return repr(float(v))
        return repr(v)
    if isinstance(v, bool):
        return str(v).lower()
    return str(v)


def table_hash(rows, columns):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted(
        "\x01".join(normalize_cell(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def main():
    args = [a for a in sys.argv[1:]]
    # --spark-only: run and time only the Spark side (no DuckDB compare) —
    # the scale-sweep mode: above ~sf0.1 some oracles are legitimately
    # infeasible (DuckDB has no tiered-lookup rewrite, so e.g. the
    # code-match oracle materializes supplier×base pairs per code and was
    # OOM-killed at 91 GB on the first sf1 sweep), while correctness is
    # already hash-proven at sf0.01.
    spark_only = "--spark-only" in args
    if spark_only:
        args.remove("--spark-only")
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])

    import os
    import threading

    import duckdb

    import __spark_entry__ as entry_mod
    from mistocksync_spark.session import get_spark

    spark = get_spark("check")

    def _connect():
        # Bound the oracle side so a pair-quadratic oracle FAILS (recorded,
        # sweep continues) instead of OOM-killing the whole sweep: DuckDB
        # spills to disk up to the cap, then raises.
        c = duckdb.connect()
        mem = os.environ.get("SPARK_GRAFT_DUCK_MEM", "24GB")
        c.execute(f"SET memory_limit='{mem}'")
        c.execute("SET temp_directory='/tmp/duck_spill'")
        for t in [
            "region", "nation", "customer", "supplier", "part", "orders",
            "lineitem", "events", "documents", "embeddings",
        ]:
            c.execute(
                f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
            )
        return c

    con = _connect()

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.monotonic()
        try:
            sdf = fn(spark, sf_dir)
            srows = sdf.collect()
            scols = sdf.columns
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: spark error: {e}")
            continue
        spark_sec = time.monotonic() - t0
        if spark_only:
            print(f"ok   {name}: rows={len(srows)} (spark-only) [{spark_sec:.2f}s]")
            if len(srows) == 0:
                print("     WARNING: zero rows")
            continue
        if name not in oracles:
            print(f"ok   {name}: rows={len(srows)} (no oracle, rows-only) [{time.monotonic()-t0:.2f}s]")
            if len(srows) == 0:
                print(f"     WARNING: zero rows")
            continue
        # optional per-oracle watchdog (scale sweeps): interrupt DuckDB
        # after SPARK_GRAFT_ORACLE_TIMEOUT seconds so one spilling
        # quadratic oracle cannot stall the whole registry run.  The
        # interrupt is lock-guarded (r10 advisory): without the guard a
        # timer firing between fetchall() returning and timer.cancel()
        # would flag the shared connection and poison the NEXT oracle with
        # a spurious InterruptException; and if the interrupt DID fire we
        # reconnect, since a consumed-or-pending interrupt flag on the old
        # connection is not worth reasoning about.
        t_orc = float(os.environ.get("SPARK_GRAFT_ORACLE_TIMEOUT", "0") or 0)
        state = {"done": False, "fired": False}
        state_lock = threading.Lock()

        def _interrupt(c=con, st=state):
            with state_lock:
                if st["done"]:
                    return
                st["fired"] = True
                c.interrupt()

        timer = threading.Timer(t_orc, _interrupt) if t_orc else None
        if timer:
            timer.start()
        try:
            try:
                res = con.execute(oracles[name])
                orows = res.fetchall()
                ocols = [d[0] for d in res.description]
            finally:
                with state_lock:
                    state["done"] = True
                if timer:
                    timer.cancel()
        except Exception as e:
            failures.append(name)
            print(
                f"FAIL {name}: duckdb error: {e} "
                f"[spark side OK: {spark_sec:.2f}s rows={len(srows)}]"
            )
            if state["fired"]:
                con = _connect()
            continue
        if state["fired"]:
            con = _connect()
        problems = []
        if len(srows) != len(orows):
            problems.append(f"rowcount spark={len(srows)} duckdb={len(orows)}")
        # TYPE-class parity (CORRECTNESS_r07 root cause): DuckDB HUGEINT /
        # DECIMAL outputs render as float64/object on a pandas fetch path
        # (the driver's), while fetchall() hides them as int — so values
        # alone are not enough; the output type classes must agree.
        from tools.type_check import duck_class, spark_class

        rel = con.sql(oracles[name])
        otype_by_col = dict(zip(rel.columns, [str(t) for t in rel.types]))
        stype_by_col = dict(sdf.dtypes)
        for col in sorted(set(stype_by_col) & set(otype_by_col)):
            sc = spark_class(stype_by_col[col])
            oc = duck_class(otype_by_col[col])
            if oc in ("hugeint", "decimal") or sc == "decimal" or sc != oc:
                problems.append(
                    f"type {col}: spark={stype_by_col[col]} duckdb={otype_by_col[col]}"
                )
        if sorted(scols) != sorted(ocols):
            problems.append(f"schema spark={sorted(scols)} duckdb={sorted(ocols)}")
        else:
            sh = table_hash([tuple(r) for r in srows], scols)
            oh = table_hash(orows, ocols)
            if sh != oh:
                problems.append(f"valuehash spark={sh} duckdb={oh}")
        if problems:
            failures.append(name)
            print(f"FAIL {name}: {'; '.join(problems)}")
            # show a small diff sample
            sset = {tuple(normalize_cell(v) for v in r) for r in (tuple(x) for x in srows)}
            oset = {tuple(normalize_cell(v) for v in r) for r in orows}
            for label, diff in [("spark-only", sset - oset), ("duckdb-only", oset - sset)]:
                for row in list(diff)[:3]:
                    print(f"       {label}: {row}")
        else:
            print(f"PASS {name}: rows={len(srows)} [{time.monotonic()-t0:.2f}s]")
    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
