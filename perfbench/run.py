"""Benchmark entry point.

    python3 perfbench/run.py --workload {sync,ticks,dedup} --seed N \
        --seconds S --trace {0,1} [--out FILE]

Run it from the root of a source checkout.  It generates the inputs from
the seed under ``.perfbench/work/``, sets the workload up in one Spark
session, runs operations until ``--seconds`` have been measured, checks the
outputs against the program's DuckDB oracles and prints the metrics, one
per line with its unit, then one JSON result object as the last line.
``--trace 1`` turns on the local Spark event log and reports the
per-layer metrics instead of the end-to-end ones.  Every run appends its
full record (all metrics, every operation) to ``--out``, which
``perfbench/compare.py`` reads.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

SETUP_REPS = 3
# Inputs, sized so that a run (three set-ups, a warm-up and one pair of
# syncs or one tick round) takes about a minute on a 4-core host.  Price
# lists come in pairs of a small (overhead-bound) and a large
# (ingest-bound) list, in a fixed size and layout sequence with seeded
# contents, so every run measures the same mix whatever its seed.
N_PART = 5_000
SYNC_SEQUENCE = [(300, "vitya"), (3_000, "dimi"), (300, "dimi"), (3_000, "vitya")]
SYNC_WARMUP = (300, "vitya")
N_DOC = 500
N_EMB = 500
TICK_ROUNDS = 12

E2E_NAMES = {
    # generic end-to-end metric -> the workload's own name for it
    "sync": {"op_s": "sync_s", "rows_per_s": "sync_rows_per_s"},
    "ticks": {"op_s": "tick_s", "rows_per_s": "tick_rows_per_s"},
    "dedup": {"op_s": "dedup_s", "rows_per_s": "dedup_rows_per_s"},
}


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=tuple(E2E_NAMES))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--out", default=os.path.join(".perfbench", "results.jsonl"))
    return p.parse_args(argv)


def configure_env(work: str, trace: bool) -> str:
    """Launch config: every file Spark, the JVM and Python workers write
    goes under the work directory; the traced run adds the uncompressed
    local event log."""
    tmp, events = os.path.join(work, "tmp"), os.path.join(work, "events")
    os.makedirs(tmp)
    os.makedirs(events)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    confs = [f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} -Xms2g", f"spark.local.dir={tmp}"]
    if trace:
        confs += [
            "spark.eventLog.enabled=true",
            "spark.eventLog.compress=false",
            f"spark.eventLog.dir=file://{events}",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(f"--conf {shlex.quote(c)}" for c in confs) + " pyspark-shell"
    return events


def peak_rss_mb() -> float:
    """Peak resident set of this process plus its JVM child, from the
    kernel's per-process high-water marks in /proc."""
    def hwm(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        return int(line.split()[1])
        except OSError:
            pass
        return 0

    me = os.getpid()
    kids = set()
    for tid in os.listdir(f"/proc/{me}/task"):
        try:
            with open(f"/proc/{me}/task/{tid}/children") as f:
                kids.update(int(x) for x in f.read().split())
        except OSError:
            pass
    return (hwm(me) + sum(hwm(k) for k in kids)) / 1024.0


def canary(spark) -> float:
    """Host calibration: the fixed CPU-bound ``bit_xor(xxhash64)`` job of
    the registry bench, sized to the core count; the first run compiles
    it and is not timed."""
    from pyspark.sql import functions as F

    job = spark.range(50_000_000 * spark.sparkContext.defaultParallelism).select(
        F.expr("bit_xor(xxhash64(id))")).write.format("noop").mode("overwrite")
    spark.sparkContext.setJobGroup("host:canary", "host canary")
    job.save()
    t0 = time.perf_counter()
    job.save()
    return time.perf_counter() - t0




def stop_spark() -> None:
    """Stop the session, then end the JVM (it exits when its stdin pipe
    closes) and wait for it."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    session = SparkSession.getActiveSession()
    if session is not None:
        session.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None


def make_inputs(args, work: str) -> dict:
    import numpy as np

    import gen

    rng = np.random.default_rng(args.seed)
    gen.write_tables(rng, os.path.join(work, "tables"), N_PART, N_DOC, N_EMB)
    if args.workload == "sync":
        gen.write_base(work)
        return {"warmup": gen.write_price_list(work, args.seed, 0, *SYNC_WARMUP)}
    if args.workload == "ticks":
        return {"rounds": gen.write_tick_inputs(work, TICK_ROUNDS), "centroids": gen.ivf_centroids(work)}
    return {}


def set_up(args, work: str, inputs: dict, record: dict):
    """Start the session and set the workload up ``SETUP_REPS`` times, each
    on a fresh session (the first also launches the JVM): the sync loads
    the base, the ticks prime their keyed state.  Then the sync and dedup
    workloads run one untimed warm-up operation on the last session; the
    ticks are warm from priming."""
    import workloads as wl
    from mistocksync_spark.session import get_spark

    spark = w = None
    for rep in range(SETUP_REPS):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = get_spark("perfbench")
        spark.range(1).count()
        record["session_start_s"].append(time.perf_counter() - t0)
        if args.workload == "sync":
            w = wl.SyncWorkload(spark, work, bool(args.trace))
            w.setup()
        elif args.workload == "ticks":
            w = wl.TicksWorkload(spark, work, inputs["rounds"], inputs["centroids"], bool(args.trace), rep)
            record["prime_s"].append(w.setup())
        else:
            w = wl.DedupWorkload(spark, work, bool(args.trace))
        record["setup_s"].append(time.perf_counter() - t0)
    warm = []
    if args.workload == "sync":
        warm = [w.warm_up(inputs["warmup"])]
    elif args.workload == "dedup":
        warm = [w.op(-1)]
    record["warmup"] = [o.as_dict() for o in warm]
    return spark, w


def measure(args, w, work: str) -> list:
    """Operations until ``--seconds`` of them have run; an operation that
    starts in time runs to its end, and price lists go in whole pairs."""
    import gen

    ops = []
    t_end = time.perf_counter() + args.seconds
    if args.workload == "sync":
        while time.perf_counter() < t_end or not ops:
            for _ in range(2):
                i = len(ops)
                size, layout = SYNC_SEQUENCE[i % len(SYNC_SEQUENCE)]
                ops.append(w.op(i, gen.write_price_list(work, args.seed, i + 1, size, layout)))
    elif args.workload == "ticks":
        while len(w.done) < len(w.rounds) and (time.perf_counter() < t_end or not ops):
            ops.append(w.op())
    else:
        while time.perf_counter() < t_end or not ops:
            ops.append(w.op(len(ops)))
    return ops


def check(args, work: str, w, ops: list, record: dict) -> None:
    """Output check.  An operation whose outputs fail it is failed, as is
    every operation when only the final state can be checked (ticks) or
    the passes are identical (dedup)."""
    import check as chk

    done = [o for o in ops if o.error is None]
    if args.workload == "sync":
        results = chk.check_sync(work, w.synced)
        record["checks"] = results
        for o, r in zip(done, results):
            o.counts["sinks.mutate.rows_updated"] = r["rows_updated"]
            if not r["ok"]:
                o.error = "output check: " + "; ".join(r["problems"])
        return
    if args.workload == "ticks":
        problems = chk.check_ticks(work, w.state, w.rounds, w.done)
    else:
        problems = chk.check_dedup(work, w.outputs)
    record["checks"] = problems
    for o in done if problems else []:
        o.error = "output check: " + "; ".join(problems)


def audit_pass(spark, work: str, record: dict) -> list:
    """The traced ticks run ends with the batch counterpart of the ticks:
    one near-duplicate audit pass over the same corpora, which gives the
    dedup and vectors layer numbers."""
    import workloads as wl

    audit = wl.DedupWorkload(spark, work, True)
    ops = [audit.op(0)]
    record["audit_outputs"] = audit.outputs
    return ops


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "mistocksync_spark")):
        print("perfbench: run from the root of a source checkout (no mistocksync_spark/ here)", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    work = os.path.join(root, ".perfbench", "work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    events = configure_env(work, bool(args.trace))

    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "session_start_s": [], "setup_s": [], "prime_s": [],
    }
    t0 = time.perf_counter()
    inputs = make_inputs(args, work)
    record["gen_s"] = time.perf_counter() - t0

    try:
        spark, w = set_up(args, work, inputs, record)
        record["canary_s"] = [canary(spark)]
        ops = measure(args, w, work)
        record["canary_s"].append(canary(spark))
        record["peak_rss_mb"] = peak_rss_mb()
        audit = audit_pass(spark, work, record) if args.trace and args.workload == "ticks" else []
    finally:
        stop_spark()

    import check as chk
    import metrics

    check(args, work, w, ops, record)
    dedup_outputs = record.pop("audit_outputs", None) or getattr(w, "outputs", None)
    if audit:
        record["audit_checks"] = chk.check_dedup(work, dedup_outputs)
    if args.trace and dedup_outputs:
        verified = chk.verified_minhash_pairs(work, dedup_outputs["minhash_lsh_pairs"])
        for o in (audit or ops):
            o.counts["operators.dedup.verified_pairs"] = verified
    for o in ops + audit:
        if o.error:
            print(f"{o.group} failed:\n{o.error}", file=sys.stderr)
    for p in record.get("audit_checks", []):
        print(f"audit output check: {p}", file=sys.stderr)
    record["ops"] = [o.as_dict() for o in ops]
    record["audit"] = [o.as_dict() for o in audit]
    if args.trace:
        import eventlog

        jobs, stages = eventlog.read_event_log(events)
        eventlog.fold(record["ops"] + record["audit"], jobs, stages)
    attempted = sum(o.units for o in ops)
    failed = sum(o.units for o in ops if o.error)
    record.update(attempted=attempted, failed=failed,
                  correct=failed == 0 and not record.get("audit_checks") and not any(o.error for o in audit))
    record["metrics"] = metrics.end_to_end(record)
    if args.trace:
        record["layers"] = metrics.per_layer(record, work)

    os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
    with open(args.out, "a") as f:
        f.write(json.dumps(record) + "\n")
    shown = record["layers"] if args.trace else record["metrics"]
    names = E2E_NAMES[args.workload]
    for k, v in shown.items():
        print(f"{names.get(k, k):34s} {v['value']:14.4f} {v['unit']}")
    print(f"{'fail_ratio':34s} {failed / attempted:14.4f} ratio ({failed}/{attempted} operations)")
    print(json.dumps({"correct": record["correct"], "attempted": attempted, "failed": failed, "metrics": shown}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
