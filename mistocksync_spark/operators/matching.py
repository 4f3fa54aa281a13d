"""Stage-1 exact article matching and the price-update join
(reference parity: J1, J7, A2).

Spark-first design: the reference builds Python dict hash-indexes and probes
them row-at-a-time (main.py:2097-2267); here both sides are DataFrames and
the dict probe becomes a hash equi-join (broadcast when the supplier side is
small — price lists are 10²-10⁴ rows vs a large base).  The dict's
last-write-wins behavior on duplicate keys is encoded explicitly with a
window (``dedupe_last``), because Spark joins would otherwise multiply rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from mistocksync_spark.functions.cleaning import strip_ws
from mistocksync_spark.functions.pricing import (
    PRICE_EPSILON,
    base_price_from_config,
    pct_change_match,
    pct_change_update,
)


def normalize_key(col):
    """Article key normalization (ref main.py:2122-2127): stringify + strip,
    with '', 'nan', 'None' treated as null (key absent)."""
    s = strip_ws(col.cast("string"))
    return F.when(s.isin("", "nan", "None"), F.lit(None)).otherwise(s)


def dedupe_last(df: DataFrame, key: str, order_col: str) -> DataFrame:
    """Keep the last row per key in ``order_col`` order — explicit encoding of
    the reference's dict-overwrite semantics (main.py:2134, 2156).

    ``max_by`` hash aggregation, not a row_number window: no sort, map-side
    partial aggregation before the shuffle, and (locally) the sort-based
    plan put the upstream regex-heavy projections inside a pre-shuffle
    WindowGroupLimit sort whose generated code blew the JVM 64KB method
    limit.  ``order_col`` must be unique per row (row_id) for determinism.
    """
    cols = [c for c in df.columns if c != key]
    # Explicit repartition on the key: the groupBy needs this exact shuffle
    # anyway (dedup keys are near-unique so map-side partial agg buys
    # nothing), and it isolates upstream derived-column projections in a
    # plain project stage — codegen can split a projection into many
    # methods, but cannot split them once inlined into the hash-agg update
    # loop (observed: 64KB method-limit fallback with the regex cleaners).
    picked = df.repartition(F.col(key)).groupBy(key).agg(
        F.max_by(F.struct(*cols), F.col(order_col)).alias("__r")
    )
    return picked.select(key, *[F.col(f"__r.{c}").alias(c) for c in cols])


def exact_article_match(
    supplier: DataFrame,
    base: DataFrame,
    supplier_article: str,
    supplier_price: str,
    base_article: str,
    base_price: str,
    supplier_order: str = "row_id",
    base_order: str = "row_id",
) -> dict[str, DataFrame]:
    """J1: exact match on the normalized article key.

    Returns ``matches`` (with price_diff / price_change_percent / base_index),
    ``price_changes`` (|pct| > 5) and ``new_items`` (supplier-side anti join),
    mirroring main.py:2097-2267.
    """
    sup = (
        supplier.na.drop(subset=[supplier_article, supplier_price])
        .withColumn("article", normalize_key(F.col(supplier_article)))
        .filter(F.col("article").isNotNull())
        .withColumn(
            "supplier_price",
            F.coalesce(F.col(supplier_price).cast("double"), F.lit(0.0)),
        )
    )
    sup = dedupe_last(sup, "article", supplier_order)
    sup_kv = sup.select(
        "article",
        "supplier_price",
        F.col("name").alias("supplier_name"),
        F.col(supplier_order).alias("supplier_index"),
    )

    bas = (
        base.na.drop(subset=[base_article])
        .withColumn("article", normalize_key(F.col(base_article)))
        .filter(F.col("article").isNotNull())
        .withColumn("base_price", base_price_from_config(F.col(base_price)))
    )
    bas = dedupe_last(bas, "article", base_order)
    base_kv = bas.select(
        "article",
        "base_price",
        F.col("name").alias("base_name"),
        F.col(base_order).alias("base_index"),
    )

    # Lazy localCheckpoints: sup_kv and base_kv each feed TWO consumers
    # (the inner join below, plus the matched-key set / anti-join), and
    # Catalyst does not share common subplans across joins — without the
    # checkpoint the base-table scan + regex normalization + dedupe
    # shuffle re-ran once per consumer.  Checkpointing the
    # INPUTS (not the joined frame) keeps the joins visible in the final
    # plan, so the broadcast-strategy plan tests still see them.
    sup_kv = sup_kv.localCheckpoint(eager=False)
    base_kv = base_kv.localCheckpoint(eager=False)
    joined = F.broadcast(sup_kv).join(base_kv, on="article", how="inner")

    matches = joined.select(
        "article",
        "supplier_price",
        "base_price",
        # supplier name, falling back to base name when empty (main.py:2190)
        F.when(
            F.col("supplier_name").isNull() | (F.col("supplier_name") == ""),
            F.col("base_name"),
        )
        .otherwise(F.col("supplier_name"))
        .alias("name"),
        (F.col("supplier_price") - F.col("base_price")).alias("price_diff"),
        pct_change_match(F.col("supplier_price"), F.col("base_price")).alias(
            "price_change_percent"
        ),
        "base_index",
    )

    price_changes = matches.filter(F.abs(F.col("price_change_percent")) > 5.0)

    # New items = supplier rows whose article found no base match.  A
    # broadcast hint on the supplier side of a LEFT ANTI join is illegal
    # (BroadcastHashJoin cannot build the preserved side; the hint was
    # silently dropped with a HintErrorLogger warning).  Instead anti-join
    # against the MATCHED KEY SET — the inner join's own distinct articles
    # — which is supplier-bounded and a legal broadcast build: the base
    # table is never shuffled at any scale (the inner join above already
    # streams it against the broadcast supplier).
    matched_keys = joined.select("article").distinct()
    new_items = sup_kv.join(
        F.broadcast(matched_keys), on="article", how="left_anti"
    ).select(
        "article",
        F.col("supplier_price").alias("price"),
        F.col("supplier_name").alias("name"),
        "supplier_index",
    )

    return {"matches": matches, "price_changes": price_changes, "new_items": new_items}


def price_update_join(
    base: DataFrame,
    supplier: DataFrame,
    base_article: str,
    base_price: str,
    supplier_article: str,
    supplier_price: str,
    supplier_order: str = "row_id",
) -> DataFrame:
    """J7: the MERGE source — supplier price vs current base price, keeping
    only real changes (|Δ| ≥ 0.001), with the update-path percent semantics
    (base 0 → 100%).  Mirrors main.py:4218-4309.
    """
    sup = (
        supplier.withColumn("article", normalize_key(F.col(supplier_article)))
        .filter(F.col("article").isNotNull() & F.col(supplier_price).isNotNull())
    )
    sup = dedupe_last(sup, "article", supplier_order)
    sup_kv = sup.select("article", F.col(supplier_price).cast("double").alias("new_price"))

    bas = (
        base.withColumn("article", normalize_key(F.col(base_article)))
        .filter(F.col("article").isNotNull())
        .select(
            "article",
            F.col(base_price).cast("double").alias("old_price"),
        )
    )

    joined = bas.join(F.broadcast(sup_kv), on="article", how="inner")
    changed = joined.filter(
        F.abs(F.col("new_price") - F.col("old_price")) >= PRICE_EPSILON
    )
    return changed.select(
        "article",
        "old_price",
        "new_price",
        pct_change_update(F.col("new_price"), F.col("old_price")).alias("change_percent"),
    )


def comparison_summary(
    supplier_total: DataFrame, matches: DataFrame, new_items: DataFrame
) -> DataFrame:
    """A2: one-row summary with match_rate = matches/supplier_total*100
    (ref main.py:1120-1133)."""
    s = supplier_total.agg(F.count("*").alias("supplier_total"))
    m = matches.agg(F.count("*").alias("matches"))
    n = new_items.agg(F.count("*").alias("new_items"))
    return (
        s.crossJoin(m)
        .crossJoin(n)
        .select(
            "supplier_total",
            "matches",
            "new_items",
            F.when(
                F.col("supplier_total") > 0,
                F.col("matches") / F.col("supplier_total") * 100.0,
            )
            .otherwise(F.lit(0.0))
            .alias("match_rate"),
        )
    )
