"""Multi-sheet report assembly (reference parity: S11, J6).

The reference writes a 9-sheet Excel workbook, enriching every sheet with
row-at-a-time lookups into the base and supplier frames
(``save_report``, /root/reference/main.py:3065-4134; lookups 3156-3779).
Here each sheet is a DataFrame and every per-row lookup collapses into one
left join (J6) — five loops become two joins.  The openpyxl styling /
column widths are presentation-only and out of scope; an Excel writer
would consume these DataFrames on the driver.

Scale: enrichment joins broadcast the small side (the matched subset)
against the base and join INNER — every enrichment key exists on the
enrich side by construction (base_index/article are produced by the
upstream match against that very frame), so inner ≡ left here, and only
an inner join lets Spark build the broadcast hash on the matches side
(a left-outer join cannot build its preserved side; the hint would be
silently dropped and the join would shuffle).  Each sheet is
independently writable (one job per sheet, shared cached inputs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SIGNIFICANT_CHANGE_PERCENT = 20.0  # warnings threshold (ref main.py:57)


def matches_sheet(matches: DataFrame, base: DataFrame) -> DataFrame:
    """«Совпадения»: matches + base color/article columns via one left join
    on base_index (replacing base_df.loc lookups at main.py:3156-3353)."""
    enrich = base.select(
        F.col("row_id").alias("base_index"),
        F.col("color").alias("base_color"),
        F.col("article_vitya").cast("string").alias("base_article_vitya"),
        F.col("article_dimi").cast("string").alias("base_article_dimi"),
        F.col("price").alias("base_list_price"),
    )
    # inner ≡ left: every matches.base_index is a real base.row_id (the J1
    # match produced it), and row_id is unique — 1:1, no rows dropped.
    # Inner is what makes the broadcast(matches) hint honorable (BuildLeft).
    return F.broadcast(matches).join(enrich, on="base_index", how="inner").select(
        "article",
        "name",
        F.col("supplier_price").alias("supplier_price"),
        F.col("base_price").alias("base_price"),
        "price_diff",
        "price_change_percent",
        "base_index",
        "base_color",
        "base_article_vitya",
        "base_article_dimi",
        "base_list_price",
    )


def price_changes_sheet(price_changes: DataFrame, supplier: DataFrame, supplier_article: str) -> DataFrame:
    """«Изменения цен»: significant changes + supplier color/balance via one
    left join (replacing current_df scans at main.py:3444-3580)."""
    enrich = supplier.select(
        F.col(supplier_article).cast("string").alias("article"),
        F.col("color").alias("supplier_color"),
        F.col("balance").alias("supplier_balance"),
        F.col("row_id").alias("supplier_row"),
    )
    # supplier side may carry duplicate articles — keep the last occurrence
    # (dict-overwrite parity with the J1 key build)
    dedup = enrich.groupBy("article").agg(
        F.max_by(F.struct("supplier_color", "supplier_balance", "supplier_row"), F.col("supplier_row")).alias("__r")
    ).select("article", "__r.supplier_color", "__r.supplier_balance")
    # inner ≡ left: price_changes.article came from the supplier side of the
    # J1 match, so it is present in `dedup` (unique per article) — 1:1.
    return F.broadcast(price_changes).join(dedup, on="article", how="inner")


def warnings_sheet(matches: DataFrame, threshold: float = SIGNIFICANT_CHANGE_PERCENT) -> DataFrame:
    """«Предупреждения»: |pct| > 20 (ref main.py:3814-3830)."""
    return matches.filter(F.abs(F.col("price_change_percent")) > threshold)


def summary_sheet(summary: DataFrame) -> DataFrame:
    """«Сводка»: the A2 comparison summary row (ref main.py:3116-3128)."""
    return summary


def code_matches_sheet(code_matches: DataFrame) -> DataFrame:
    """«Совпадения по кодам» / «…в скобках» (ref main.py:3687-3782)."""
    return code_matches.select(
        "code",
        "supplier_name",
        "base_name",
        "supplier_article",
        "base_article",
        "supplier_price",
        "base_price",
        "price_change_percent",
        "color_match",
        "capacity_match",
        "matched_in",
        "match_type",
    )


def build_report(
    cascade_result: dict[str, DataFrame],
    base: DataFrame,
    supplier: DataFrame,
    supplier_article: str,
) -> dict[str, DataFrame]:
    """All sheets as a dict — the Excel writer's input (ref sheet order
    main.py:3137-4088)."""
    return {
        "summary": summary_sheet(cascade_result["summary"]),
        "matches": matches_sheet(cascade_result["matches"], base),
        "price_changes": price_changes_sheet(
            cascade_result["price_changes"], supplier, supplier_article
        ),
        "new_items": cascade_result["new_items"],
        "code_matches": code_matches_sheet(cascade_result["code_matches"]),
        "bracket_matches": code_matches_sheet(cascade_result["bracket_matches"]),
        "warnings": warnings_sheet(cascade_result["matches"]),
    }
