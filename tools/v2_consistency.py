"""Scale-time consistency gate for `corpus_prepare_v2` (r13 verdict ask
#8): at corpora where the full recursive DuckDB oracle is infeasible
(zipf-sf1), the flagship's composition is checked by a CHEAP invariant —
its per-reason decision counts must equal the counts derived from the
STANDALONE graded stage operators (exact-dup keepers, canonical
non-survivors, span-coverage flags, Gopher, OOV) applied with the same
first-match-wins precedence.  The standalone stages each carry their own
full DuckDB-oracle grades at <= zipf-sf0.1, so this closes the loop: the
stages are oracle-correct, and the composition is stage-consistent at
every scale the ladder touches.

The expected side deliberately re-derives every gate flag through the
operator-module functions and a freshly-planned pipeline (no shared
localCheckpoints with v2's plan), so checkpoint staleness, join row
duplication, or precedence drift in the v2 composition would all
surface as count mismatches.

Usage: python tools/v2_consistency.py [sf_dir] [--v3]
With --v3 the same invariant runs against `corpus_prepare_v3` (adds the
holdout and contamination gate flags to the expected side).
Exit 0 iff every reason count matches.
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    args = [a for a in sys.argv[1:]]
    v3 = "--v3" in args
    if v3:
        args.remove("--v3")
    sf_dir = args[0] if args else "/root/testdata/sf0.01"

    from pyspark.sql import functions as F

    from mistocksync_spark.operators.dedup import (
        cluster_canonicals,
        connected_components,
        contamination_check,
        duplicated_span_coverage,
        lsh_bands,
        lsh_candidate_pairs,
        minhash_signatures,
        shingle_table,
        similarity_pagerank,
    )
    from mistocksync_spark.operators.textual import gopher_rules, rare_token_score
    from mistocksync_spark.plans.queries import QUERIES
    from mistocksync_spark.session import get_spark

    spark = get_spark("v2-consistency")
    entry = "corpus_prepare_v3" if v3 else "corpus_prepare_v2"

    t0 = time.monotonic()
    v2 = QUERIES[entry](spark, sf_dir)
    got = {
        r.reason: r.n
        for r in v2.groupBy("reason").agg(F.count("*").alias("n")).collect()
    }
    v2_wall = time.monotonic() - t0

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .localCheckpoint(eager=False)
    )

    # stage flags, each via the standalone operator path
    hashed = docs.select("doc_id", F.md5("text").alias("h"))
    exact = hashed.join(
        hashed.groupBy("h").agg(F.min("doc_id").alias("keep")), on="h"
    ).select("doc_id", (F.col("doc_id") != F.col("keep")).alias("f_exact"))

    # the near-dup chain runs over the AUGMENTED corpus (docs_aug: raw +
    # planted near/exact twins), exactly like v2's _minhash_pairs_shared
    # — the twins are part of the graded cluster structure, and at
    # zipf-sf1 they shift two clusters' canonicals (this tool's first
    # version built pairs over raw documents and caught the difference
    # as a 2-count near_dup mismatch; the stage flags below stay raw)
    from mistocksync_spark.plans.feeds import docs_aug

    pairs = lsh_candidate_pairs(
        lsh_bands(minhash_signatures(shingle_table(docs_aug(spark, sf_dir)), 8), 2)
    ).localCheckpoint(eager=False)
    cc = connected_components(pairs)
    canon = cluster_canonicals(cc, similarity_pagerank(pairs, iterations=5))
    near = (
        cc.join(F.broadcast(canon.select("cluster_id", "canonical_id")), "cluster_id")
        .select("doc_id", (F.col("canonical_id") != F.col("doc_id")).alias("f_near"))
    )

    span = duplicated_span_coverage(docs).select(
        "doc_id",
        (
            (F.col("doc_len") > 0)
            & (10 * F.col("dup_chars") >= 3 * F.col("doc_len"))
        ).alias("f_span"),
    )
    gop = gopher_rules(docs).select(
        "doc_id", (F.col("pass_gopher") == 0).alias("f_gopher")
    )
    rare = rare_token_score(docs).select(
        "doc_id", (2 * F.col("n_in_vocab") < F.col("n_tokens")).alias("f_rare")
    )

    joined = (
        docs.select("doc_id")
        .join(exact, "doc_id")
        .join(near, "doc_id", "left")
        .join(span, "doc_id")
        .join(gop, "doc_id")
        .join(rare, "doc_id", "left")
    )
    reason = F.when(F.col("f_exact"), F.lit("exact_dup"))
    if v3:
        joined = joined.join(
            contamination_check(
                docs.filter(F.col("doc_id") % 50 != 0),
                docs.filter(F.col("doc_id") % 50 == 0),
                min_overlap=2,
            ).select("doc_id").withColumn("f_cont", F.lit(True)),
            "doc_id",
            "left",
        )
        reason = F.when(F.col("doc_id") % 50 == 0, F.lit("holdout")).when(
            F.col("f_exact"), F.lit("exact_dup")
        )
    reason = (
        reason.when(F.coalesce(F.col("f_near"), F.lit(False)), F.lit("near_dup"))
        .when(F.col("f_span"), F.lit("span_dup"))
        .when(F.col("f_gopher"), F.lit("gopher"))
        .when(F.coalesce(F.col("f_rare"), F.lit(False)), F.lit("rare_tokens"))
    )
    if v3:
        reason = reason.when(
            F.coalesce(F.col("f_cont"), F.lit(False)), F.lit("contaminated")
        )
    expected_df = joined.select(reason.otherwise(F.lit("ok")).alias("reason"))
    want = {
        r.reason: r.n
        for r in expected_df.groupBy("reason").agg(F.count("*").alias("n")).collect()
    }

    ok = True
    for reason in sorted(set(got) | set(want)):
        g, w = got.get(reason, 0), want.get(reason, 0)
        mark = "OK " if g == w else "MISMATCH"
        if g != w:
            ok = False
        print(f"{mark} {reason:12s} v2={g:7d} stages={w:7d}", flush=True)
    print(
        f"total v2={sum(got.values())} stages={sum(want.values())} "
        f"v2_wall={v2_wall:.1f}s consistent={ok}"
    )
    spark.stop()
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
