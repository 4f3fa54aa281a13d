"""Interleaved A/B bench harness — the tide-robust instrument (r16 §5).

Host timing drifts up to ~2× between sessions, so cross-session medians
mislead; this tool times N variants of one query INTERLEAVED in a single
session (A/B/A/B/...), each sample bench-cold (cache + memos cleared, same
``_reset`` as bench.py), materialized through the noop sink.  Output: one
JSON line per (variant, sample) plus a summary with per-variant medians
and the pairwise per-round ratios.

Usage:
    python tools/ab_bench.py <variants_module> [sf_dir] [rounds]

``rounds`` defaults to 4.  The variant order reverses every round, so an
even round count gives every variant first position equally often.

``variants_module`` is a python file that defines ``VARIANTS``: a list of
(label, fn) where fn(spark, sf_dir) -> DataFrame.  A warmup entry
(``WARMUP``: same signature, optional) is run once untimed first.
"""

from __future__ import annotations

import importlib.util
import json
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main():
    mod_path = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    rounds = int(sys.argv[3]) if len(sys.argv) > 3 else 4
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    spec = importlib.util.spec_from_file_location("ab_variants", mod_path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    variants = mod.VARIANTS

    from mistocksync_spark.session import get_spark

    sys.path.insert(0, REPO)
    import bench

    spark = get_spark("ab_bench", cpus=cpus)

    warmup = getattr(mod, "WARMUP", None)
    if warmup is not None:
        bench._reset(spark)
        warmup(spark, sf_dir).write.format("noop").mode("overwrite").save()

    samples: dict[str, list[float]] = {label: [] for label, _ in variants}
    for r in range(rounds):
        # alternate variant order per round so neither arm systematically
        # benefits from running second (JIT/page-cache warm-in)
        order = variants if r % 2 == 0 else list(reversed(variants))
        for label, fn in order:
            bench._reset(spark)
            spark.sparkContext.setJobDescription(f"ab:{label}:r{r}")
            t0 = time.monotonic()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            dt = round(time.monotonic() - t0, 3)
            spark.sparkContext.setJobDescription(None)
            samples[label].append(dt)
            print(json.dumps({"round": r, "variant": label, "sec": dt}), flush=True)

    summary = {
        "sf_dir": sf_dir,
        "rounds": rounds,
        "samples": samples,
        "medians": {k: round(statistics.median(v), 3) for k, v in samples.items()},
    }
    print(json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    main()
