"""End-to-end and per-layer metrics from one run's record.

Times are medians over the run's operations (the sample count is in the
record); an operation that holds several user operations (a ticks round:
one document and one vector tick) counts as its wall time per user
operation.  A layer a workload does not exercise reads 0.
"""

from __future__ import annotations

import os
import statistics

MB = 1024.0 * 1024.0

# per-layer metric -> unit, in the order reported
LAYERS = {
    "sources.read_excel_s": "s",
    "sources.rows": "count",
    "operators.cascade.build_s": "s",
    "operators.cascade.run_s": "s",
    "operators.cascade.jobs": "count",
    "operators.fuzzy.run_s": "s",
    "operators.fuzzy.candidate_pairs": "count",
    "operators.fuzzy.match_yield": "ratio",
    "sinks.excel.report_s": "s",
    "sinks.excel.rows": "count",
    "sinks.mutate.merge_s": "s",
    "sinks.mutate.rows_updated": "count",
    "sinks.mutate.files_written": "count",
    "operators.dedup.simhash_pairs_s": "s",
    "operators.dedup.cc_s": "s",
    "operators.dedup.cc_jobs": "count",
    "operators.dedup.minhash_pairs_s": "s",
    "operators.dedup.pair_yield": "ratio",
    "operators.vectors.near_dup_s": "s",
    "operators.vectors.pair_yield": "ratio",
    "streaming.merge.corpus_tick_s": "s",
    "streaming.merge.embedding_tick_s": "s",
    "streaming.merge.jobs_per_tick": "count",
    "streaming.merge.prime_s": "s",
    "sinks.layout.state_files": "count",
    "sinks.layout.state_mb": "MB",
    "sinks.layout.append_mb_per_tick": "MB",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.task_wait_s": "s",
    "spark.driver_gap_s": "s",
    "spark.shuffle_write_mb": "MB",
    "spark.shuffle_read_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.python_mb": "MB",
    "spark.failed_tasks": "count",
    "session.start_s": "s",
    "host.canary_s": "s",
}


def _med(xs) -> float:
    xs = [x for x in xs if x is not None]
    return float(statistics.median(xs)) if xs else 0.0


def _span(op: dict, name: str) -> float | None:
    hits = [b - a for n, a, b in op["spans"] if n == name]
    return sum(hits) if hits else None


def end_to_end(rec: dict) -> dict:
    ops = [o for o in rec["ops"] if o["error"] is None] or rec["ops"]
    wall = sum(o["wall_s"] for o in ops)
    return {
        "setup_s": {"value": _med(rec["setup_s"]), "unit": "s"},
        "op_s": {"value": _med([o["wall_s"] / o["units"] for o in ops]), "unit": "s"},
        "rows_per_s": {"value": sum(o["rows"] for o in ops) / wall if wall else 0.0, "unit": "rows/s"},
        "peak_rss_mb": {"value": rec["peak_rss_mb"], "unit": "MB"},
    }


def _sheet_rows(report: str) -> int:
    from check import read_sheets

    return sum(len(rows) for _, rows in read_sheets(report).values())


def per_layer(rec: dict, workdir: str) -> dict:
    ops = [o for o in rec["ops"] if o["error"] is None]
    audit = [o for o in rec.get("audit", []) if o["error"] is None]
    sync = [o for o in ops if o["op"].startswith("sync:")]
    dedup = [o for o in ops + audit if o["op"].startswith("dedup:")]
    ticks = [o for o in ops if o["op"].startswith("ticks:")]
    v: dict[str, float] = {}

    def span_med(name, pool):
        return _med([_span(o, name) for o in pool])

    def count_med(name, pool):
        return _med([o["counts"].get(name) for o in pool])

    def span_jobs(names, pool):
        return _med([sum(o.get("span_jobs", {}).get(n, 0) for n in names) for o in pool])

    def ratio(num, den, pool):
        d = sum(o["counts"].get(den, 0) for o in pool)
        return sum(o["counts"].get(num, 0) for o in pool) / d if d else 0.0

    v["sources.read_excel_s"] = span_med("sources.read_excel", sync)
    v["sources.rows"] = _med([o["rows"] for o in sync])
    v["operators.cascade.build_s"] = span_med("operators.cascade.build", sync)
    v["operators.cascade.run_s"] = span_med("operators.cascade.run", sync)
    v["operators.cascade.jobs"] = span_jobs(["operators.cascade.build", "operators.cascade.run"], sync)
    v["operators.fuzzy.run_s"] = span_med("operators.fuzzy.run", sync)
    v["operators.fuzzy.candidate_pairs"] = count_med("operators.fuzzy.candidate_pairs", sync)
    v["operators.fuzzy.match_yield"] = ratio("operators.fuzzy.matched", "operators.fuzzy.candidate_pairs", sync)
    v["sinks.excel.report_s"] = span_med("sinks.excel.report", sync)
    v["sinks.excel.rows"] = _med([
        _sheet_rows(os.path.join(workdir, f"report_{int(o['op'].rsplit(':', 1)[1]):03d}.xlsx")) for o in sync
    ])
    v["sinks.mutate.merge_s"] = span_med("sinks.mutate.merge", sync)
    v["sinks.mutate.rows_updated"] = count_med("sinks.mutate.rows_updated", sync)
    v["sinks.mutate.files_written"] = count_med("sinks.mutate.files_written", sync)

    v["operators.dedup.simhash_pairs_s"] = span_med("operators.dedup.simhash_pairs", dedup)
    v["operators.dedup.cc_s"] = span_med("operators.dedup.cc", dedup)
    v["operators.dedup.cc_jobs"] = span_jobs(["operators.dedup.cc"], dedup)
    v["operators.dedup.minhash_pairs_s"] = span_med("operators.dedup.minhash_pairs", dedup)
    v["operators.dedup.pair_yield"] = ratio(
        "operators.dedup.verified_pairs", "operators.dedup.minhash_candidates", dedup)
    v["operators.vectors.near_dup_s"] = span_med("operators.vectors.near_dup", dedup)
    v["operators.vectors.pair_yield"] = ratio(
        "operators.vectors.near_dup_pairs", "operators.vectors.candidates", dedup)

    v["streaming.merge.corpus_tick_s"] = span_med("streaming.merge.corpus_tick", ticks)
    v["streaming.merge.embedding_tick_s"] = span_med("streaming.merge.embedding_tick", ticks)
    v["streaming.merge.jobs_per_tick"] = _med([
        o["span_jobs"].get(n, 0) for o in ticks
        for n in ("streaming.merge.corpus_tick", "streaming.merge.embedding_tick")
    ])
    v["streaming.merge.prime_s"] = _med(rec["prime_s"])
    last = ticks[-1]["counts"] if ticks else {}
    v["sinks.layout.state_files"] = float(last.get("sinks.layout.state_files", 0))
    v["sinks.layout.state_mb"] = last.get("sinks.layout.state_bytes", 0) / MB
    v["sinks.layout.append_mb_per_tick"] = count_med("sinks.layout.append_bytes", ticks) / MB

    for k in ("jobs", "stages", "tasks", "executor_run_s", "task_wait_s", "driver_gap_s",
              "shuffle_write_mb", "shuffle_read_mb", "spill_mb", "python_mb", "failed_tasks"):
        v[f"spark.{k}"] = _med([o["spark"][k] for o in ops])
    v["session.start_s"] = _med(rec["session_start_s"])
    v["host.canary_s"] = _med(rec["canary_s"])
    return {k: {"value": v[k], "unit": u} for k, u in LAYERS.items()}
