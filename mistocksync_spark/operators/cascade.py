"""Full comparison cascade — the reference's ``perform_comparison``
(main.py:992-1133) re-expressed as a DAG of DataFrames.

Stage order (ref):
  1. exact article match (J1) → matches / price_changes / new_items
  2. bracket-code match (J3) over the stage-1 new items
  3. general-code match (J2) over the SAME stage-1 new items
     (the reference passes the original ``new_items`` to both stages)
  4. residual = new_items − bracket-matched − code-matched supplier
     articles → ``new_items_for_base``

Divergence note: the reference's residual filter compares string articles
against int supplier articles for the vitya flow (``isin`` at
main.py:1059-1060 with mixed types), so it never removes anything there —
a latent type bug.  We normalize both sides to strings (the evident
intent), so our ``new_items_for_base`` excludes code-matched items for
every supplier.

Scale notes: the supplier side (a price list, 10²-10⁴ rows) is broadcast;
the base side streams.  Each stage is a hash equi-join on a derived key;
the stage-1 output is reused (cached) by stages 2-4 instead of recomputed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mistocksync_spark.functions.codes import bracket_code, product_code_unified
from mistocksync_spark.operators import matching
from mistocksync_spark.operators.codematch import (
    base_code_variants,
    code_match,
    supplier_code_variants,
)
from mistocksync_spark.operators.filters import anti_filter_matched, semi_restrict


def perform_comparison(
    supplier: DataFrame,
    base: DataFrame,
    supplier_article: str,
    supplier_price: str,
    base_article: str,
    base_price: str,
    supplier_order: str = "row_id",
    base_order: str = "row_id",
    cache: bool = True,
) -> dict[str, DataFrame]:
    """Run the four-stage cascade; returns a dict of result DataFrames
    mirroring the reference's ``comparison_result`` record lists."""
    if cache:
        # Persist boundaries serve two purposes: stages 2-4 reuse stage-1
        # results instead of recomputing the whole upstream chain, AND the
        # regex-heavy derived-column projections (article cleaners, C3-C5
        # code extractors) are materialized *before* any sort/window stage —
        # without the boundary whole-stage codegen inlines them into the
        # sort method, blows the JVM 64KB method limit, and falls back to
        # interpreted evaluation.  At cluster scale the same boundary is an
        # exchange-reuse / checkpoint point.
        supplier = supplier.cache()
        base = base.cache()
    stage1 = matching.exact_article_match(
        supplier,
        base,
        supplier_article=supplier_article,
        supplier_price=supplier_price,
        base_article=base_article,
        base_price=base_price,
        supplier_order=supplier_order,
        base_order=base_order,
    )
    new_items = stage1["new_items"]
    if cache:
        new_items = new_items.cache()

    # F8: stages 2-3 only look at supplier rows whose article is a stage-1
    # miss (ref main.py:2289-2304, 2566-2581).
    sup_new = semi_restrict(
        supplier.withColumn("__key", F.col(supplier_article).cast("string")),
        new_items,
        key="__key",
        allowed_key="article",
    ).drop("__key")
    if cache:
        sup_new = sup_new.cache()

    def _variants(code_fn):
        sup_var = supplier_code_variants(
            sup_new, code_fn, supplier_article, price_col=supplier_price, order_col=supplier_order
        )
        base_var = base_code_variants(base, code_fn, base_price, order_col=base_order)
        return sup_var, base_var

    bracket_matches = code_match(*_variants(bracket_code), match_type="bracket_code")
    code_matches = code_match(*_variants(product_code_unified), match_type="product_code")
    if cache:
        bracket_matches = bracket_matches.cache()
        code_matches = code_matches.cache()

    residual = anti_filter_matched(
        new_items, bracket_matches, key="article", matched_key="supplier_article"
    )
    residual = anti_filter_matched(
        residual, code_matches, key="article", matched_key="supplier_article"
    )

    # supplier_total = deduped supplier keys = matches + new_items
    m = stage1["matches"].agg(F.count("*").alias("matches"))
    n = new_items.agg(F.count("*").alias("new_items"))
    summary = m.crossJoin(n).select(
        (F.col("matches") + F.col("new_items")).alias("supplier_total"),
        "matches",
        "new_items",
        F.when(
            (F.col("matches") + F.col("new_items")) > 0,
            F.col("matches") * 100.0 / (F.col("matches") + F.col("new_items")),
        )
        .otherwise(F.lit(0.0))
        .alias("match_rate"),
    )

    return {
        "matches": stage1["matches"],
        "price_changes": stage1["price_changes"],
        "new_items": new_items,
        "bracket_matches": bracket_matches,
        "code_matches": code_matches,
        "new_items_for_base": residual,
        "summary": summary,
    }
