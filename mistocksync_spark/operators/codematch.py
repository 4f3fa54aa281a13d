"""Code-based matching — cascade stages 2 and 3 (reference parity: J2, J3).

The reference extracts a product code per row (from the name, and on the
base side also from the supplier-article columns), groups rows into
per-code variant lists, and for each supplier variant picks the best base
variant by a fixed priority: color∧capacity → color → capacity → first
variant (main.py:2269-2544 general codes, 2546-2802 bracket codes).

Spark-first: code extraction is a projection, the variant-list grouping is
an equi-join on the derived code, and the best-variant pick is a
``row_number`` window ordered by (pair_tier, base_variant_order) — a single
shuffle on the code key instead of nested Python loops.  ``pair_tier`` is
the best priority tier the (supplier, base) pair satisfies; taking the
min (tier, order) pair reproduces the reference's tiered first-in-order
scan exactly.

Divergence notes (latent reference bugs we do NOT replicate, each using the
row's true values instead):
- the reference reuses stale ``price_*_float`` locals when a base row's name
  has no code but its article columns do (main.py:2411-2422 reads variables
  set on an earlier row);
- in the bracket cascade the variant dicts carry only ``price``, so
  ``get_base_price_from_config`` (main.py:2755) never finds the config price
  column and every bracket match reports base_price 0.0 / pct 0 — we resolve
  the configured base price column properly for both cascades.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from mistocksync_spark.functions.cleaning import safe_color
from mistocksync_spark.functions.codes import battery_capacity, bracket_code, product_code_unified
from mistocksync_spark.functions.pricing import base_price_from_config, pct_change_match


def supplier_code_variants(
    supplier: DataFrame,
    extractor: Callable[[str], Column],
    article_col: str,
    price_col: str = "price_usd",
    name_col: str = "name",
    color_col: str = "color",
    order_col: str = "row_id",
) -> DataFrame:
    """Supplier-side variant extraction (ref main.py:2297-2335)."""
    has_color = color_col in supplier.columns
    return (
        supplier.filter(F.col(name_col).isNotNull())
        .withColumn("code", extractor(f"`{name_col}`"))
        .filter(F.col("code").isNotNull())
        .select(
            "code",
            F.col(order_col).alias("supplier_variant_order"),
            F.col(name_col).alias("supplier_name"),
            F.coalesce(F.col(price_col).cast("double"), F.lit(0.0)).alias("supplier_price"),
            F.col(article_col).cast("string").alias("supplier_article"),
            (safe_color(F.col(color_col)) if has_color else F.lit("")).alias("supplier_color"),
            battery_capacity(f"`{name_col}`").alias("supplier_capacity"),
        )
    )


def base_code_variants(
    base: DataFrame,
    extractor: Callable[[str], Column],
    base_price_col: str,
    name_col: str = "name",
    color_col: str = "color",
    article_col: str = "article",
    supplier_article_cols: tuple[str, ...] = ("article_vitya", "article_dimi", "article_mila"),
    order_col: str = "row_id",
) -> DataFrame:
    """Base-side variant extraction: one variant per code found in the name,
    plus one per code found in each supplier-article column
    (ref main.py:2337-2423).  ``base_variant_order`` preserves the
    reference's append order: row-major, name before article columns.
    """
    width = 1 + len(supplier_article_cols)
    common = [
        F.col(order_col).alias("base_index"),
        F.col(name_col).alias("base_name"),
        F.col(article_col).cast("string").alias("base_article"),
        safe_color(F.col(color_col)).alias("base_color"),
        battery_capacity(f"`{name_col}`").alias("base_capacity"),
        base_price_from_config(F.col(base_price_col)).alias("base_price"),
    ]
    # Single pass with explode instead of a per-source-column union: one
    # scan and one codegen unit evaluate all extractors, and the shared
    # color/capacity projections run once per row instead of once per
    # branch.  Slot numbering (name=0, article col i = i+1) and the
    # name-not-null guard reproduce the union's base_variant_order exactly.
    entries = [
        F.struct(
            F.lit(0).alias("slot"),
            F.lit("name").alias("src"),
            F.when(F.col(name_col).isNotNull(), extractor(f"`{name_col}`")).alias("code"),
        )
    ]
    for i, col in enumerate(supplier_article_cols):
        if col not in base.columns:
            continue
        entries.append(
            F.struct(
                F.lit(i + 1).alias("slot"),
                F.lit(col).alias("src"),
                F.when(F.col(col).isNotNull(), extractor(f"CAST(`{col}` AS STRING)")).alias("code"),
            )
        )
    exploded = base.select(*common, F.explode(F.array(*entries)).alias("e")).filter(
        F.col("e.code").isNotNull()
    )
    return exploded.select(
        F.col("e.code").alias("code"),
        (F.col("base_index") * width + F.col("e.slot")).alias("base_variant_order"),
        F.col("e.src").alias("matched_in"),
        "base_index",
        "base_name",
        "base_article",
        "base_color",
        "base_capacity",
        "base_price",
    )


#: "auto" broadcast gate for code_match: hint the lookup aggregates only
#: when the measured row count of the largest one (b1: distinct
#: (code, color, capacity) combos) is at most this.  5M rows of the
#: 4-column lookup is ~300 MB as broadcast rows — far inside Spark's 8 GB
#: executor broadcast ceiling, far outside anything AQE would pick on its
#: own stats (which are unusable here: the variant explode inflates the
#: optimizer's size estimate to ~1e19 bytes regardless of actual data).
BROADCAST_LOOKUP_CAP_ROWS = 5_000_000


def code_match(
    supplier_variants: DataFrame,
    base_variants: DataFrame,
    match_type: str = "product_code",
    broadcast_lookups: bool | str = True,
) -> DataFrame:
    """Join supplier and base variants on the derived code and keep the best
    base variant per supplier variant (ref main.py:2429-2536).

    Plan shape: the naive form — join on code, rank pairs by (tier, order) —
    explodes quadratically on skewed codes (a brand code like XIAOMI tags a
    large fraction of both sides, and AQE cannot split a broadcast join's
    output).  Instead the tiered first-in-order pick is decomposed into four
    PRE-AGGREGATED lookups: min base_variant_order per (code, color,
    capacity) / (code, color) / (code, capacity) / (code).  Each lookup
    joins 1:1 against the supplier variants, the winner is
    ``coalesce(t1..t4)``, and one final join fetches the winning variant's
    payload — never materializing supplier×base pairs, at any skew.

    The variant tables are materialized once (lazy localCheckpoint):
    ``base_variants`` feeds FIVE consumers (b1–b4 + payload) and Catalyst
    does not share common subplans across joins, so without it the
    unified-code regex extraction — the most expensive expression in the
    pipeline — would re-run five times per query.

    ``broadcast_lookups`` — CARDINALITY ASSUMPTION: the
    b1–b4 lookup aggregates are bounded by the number of DISTINCT
    (code, color, capacity) combinations in the base catalog, which grows
    with the catalog.  ``True`` (default, correct for any
    catalog whose distinct-combo footprint fits an executor — every
    benched scale through sf1, where b1 tops out at ~200k rows / tens of
    MB) force-broadcasts all four; at 8 GB+ of distinct combos the hint
    would OOM the driver instead of degrading.  ``False`` drops the hints
    entirely (optimizer picks build sides from stats).  ``"auto"``
    MEASURES the largest lookup (b1's distinct-combo count) with one
    count job and broadcasts only at or below
    ``BROADCAST_LOOKUP_CAP_ROWS`` — the mode a 100 TB deployment should
    run.  Catalyst's own stats cannot make this call (the variant explode
    inflates the plan size estimate to ~1e19 bytes at any scale), and the
    count is not wasted work: it materializes the base-variant checkpoint
    that all five downstream consumers read anyway.
    """
    base_variants = base_variants.localCheckpoint(eager=False)
    supplier_variants = supplier_variants.localCheckpoint(eager=False)
    agg_min = F.min("base_variant_order")
    b1 = base_variants.groupBy("code", "base_color", "base_capacity").agg(agg_min.alias("o1"))
    if broadcast_lookups == "auto":
        broadcast_lookups = b1.count() <= BROADCAST_LOOKUP_CAP_ROWS
    b2 = base_variants.groupBy("code", "base_color").agg(agg_min.alias("o2"))
    b3 = base_variants.groupBy("code", "base_capacity").agg(agg_min.alias("o3"))
    b4 = base_variants.groupBy("code").agg(agg_min.alias("o4"))

    # Hint the LOOKUP sides: they are the aggregated (small) relations AND
    # the only legal build sides — the supplier side is the PRESERVED side
    # of the three left joins, so a broadcast hint there is silently
    # dropped (HintErrorLogger: "build left for left outer join") while
    # the executed plan builds right anyway.  Hinting the build side makes
    # the stated plan the executed plan.
    def _bc(df: DataFrame) -> DataFrame:
        return F.broadcast(df) if broadcast_lookups else df

    s = supplier_variants.alias("s")
    cand = (
        s.join(
            _bc(b1.alias("b1")),
            (F.col("s.code") == F.col("b1.code"))
            & (F.col("s.supplier_color") == F.col("b1.base_color"))
            & F.col("s.supplier_capacity").eqNullSafe(F.col("b1.base_capacity")),
            "left",
        )
        .join(
            _bc(b2.alias("b2")),
            (F.col("s.code") == F.col("b2.code"))
            & (F.col("s.supplier_color") == F.col("b2.base_color")),
            "left",
        )
        .join(
            _bc(b3.alias("b3")),
            (F.col("s.code") == F.col("b3.code"))
            & F.col("s.supplier_capacity").eqNullSafe(F.col("b3.base_capacity")),
            "left",
        )
        .join(_bc(b4.alias("b4")), F.col("s.code") == F.col("b4.code"), "inner")
    )
    tier = (
        F.when(F.col("o1").isNotNull(), 1)
        .when(F.col("o2").isNotNull(), 2)
        .when(F.col("o3").isNotNull(), 3)
        .otherwise(4)
    )
    chosen = cand.select(
        F.col("s.code").alias("code"),
        "s.supplier_variant_order",
        "s.supplier_name",
        "s.supplier_price",
        "s.supplier_article",
        "s.supplier_color",
        "s.supplier_capacity",
        tier.alias("__tier"),
        F.coalesce("o1", "o2", "o3", "o4").alias("base_variant_order"),
    )

    payload = base_variants.select(
        F.col("code").alias("__bc"),
        "base_variant_order",
        "base_name",
        "base_article",
        "base_color",
        "base_capacity",
        "base_price",
        "base_index",
        "matched_in",
    )
    best = chosen.join(
        payload,
        (F.col("code") == F.col("__bc"))
        & (chosen["base_variant_order"] == payload["base_variant_order"]),
        "inner",
    ).drop("__bc").drop(payload["base_variant_order"])

    return best.select(
        "code",
        "supplier_name",
        "base_name",
        "supplier_price",
        "base_price",
        "supplier_article",
        "base_article",
        "supplier_color",
        "base_color",
        "supplier_capacity",
        "base_capacity",
        "base_index",
        "matched_in",
        F.lit(match_type).alias("match_type"),
        (F.col("__tier") <= 2).alias("color_match"),
        ((F.col("__tier") == 1) | (F.col("__tier") == 3)).alias("capacity_match"),
        pct_change_match(F.col("supplier_price"), F.col("base_price")).alias(
            "price_change_percent"
        ),
        "supplier_variant_order",
    )


def product_code_match(supplier: DataFrame, base: DataFrame, article_col: str, base_price_col: str, **kw) -> DataFrame:
    """J2: general unified-code match (bracket → brand → name code)."""
    sv = supplier_code_variants(supplier, product_code_unified, article_col, **kw)
    bv = base_code_variants(base, product_code_unified, base_price_col)
    return code_match(sv, bv, match_type="product_code")


def bracket_code_match(supplier: DataFrame, base: DataFrame, article_col: str, base_price_col: str, **kw) -> DataFrame:
    """J3: the same algorithm restricted to parenthesized codes."""
    sv = supplier_code_variants(supplier, bracket_code, article_col, **kw)
    bv = base_code_variants(base, bracket_code, base_price_col)
    return code_match(sv, bv, match_type="bracket_code")
