"""Base-table mutation sinks (reference parity: S10, S12, S13, S14, S15).

The reference mutates the master Excel workbook with openpyxl cell writes
(price updates main.py:7007-7244, article writeback main.py:7246-7354, row
inserts with auto-numbering main.py:7356-7981) and file-copy backups
(main.py:6958-7005).  Spark has no cell addresses, so each mutation is the
standard MERGE shape: join the mutation set against the base on its key,
conditionally replace, append an audit trail.  With a transactional table
format the same plans become ``MERGE INTO``/``INSERT``; here the result is
returned as a DataFrame (and optionally written as parquet — the
formatting-preserving Excel surface is inherently driver-side and out of
the distributed model, SURVEY.md §7).

Scale notes: mutation sets are small (one price list) → broadcast joins
against the large base; the audit is an append, never an update; snapshots
are table copies (Delta time-travel in a real deployment).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

PRICE_EPSILON = 0.001  # ref main.py:52/7198: skip writes when |Δ| < 0.001


def _restrict_to_approved(
    updates: DataFrame, key_col: str, approved: DataFrame | list | None
) -> DataFrame:
    """The reference's confirm-dialog / checkbox selection (main.py:4329,
    5788-5806) as an explicit API parameter: ``approved`` is the set of
    keys the user accepted — a list or a 1-column DataFrame; None applies
    everything (the dialog's "yes to all")."""
    if approved is None:
        return updates
    if isinstance(approved, DataFrame):
        keys = approved.select(
            F.col(approved.columns[0]).cast("string").alias("__approved_k")
        ).distinct()
    else:
        spark = updates.sparkSession
        keys = spark.createDataFrame(
            [(str(k),) for k in approved], ["__approved_k"]
        ).distinct()
    return updates.join(
        F.broadcast(keys),
        F.col(key_col).cast("string") == F.col("__approved_k"),
        "left_semi",
    )


def price_merge(
    base: DataFrame,
    updates: DataFrame,
    base_article: str = "article_vitya",
    base_price: str = "price_vitya_usd",
    update_article: str = "article",
    update_price: str = "new_price",
    epsilon: float = PRICE_EPSILON,
    approved: DataFrame | list | None = None,
) -> DataFrame:
    """S12: apply supplier price updates to the base price column.

    Key comparison is string-normalized (the per-supplier int/string typing
    of main.py:7138-7182 is upstream, in the article cleaners); a write
    happens only when |new - old| ≥ epsilon with null old read as 0.0
    (main.py:7189-7208).  Returns the full base with the updated price and
    an ``updated`` flag (the audit is ``filter(updated)``).  ``approved``
    restricts the merge to user-accepted keys (SURVEY §7 risk #7).
    """
    updates = _restrict_to_approved(updates, update_article, approved)
    upd = F.broadcast(
        updates.select(
            F.col(update_article).cast("string").alias("__k"),
            F.col(update_price).cast("double").alias("__np"),
        )
    )
    joined = base.join(upd, F.col(base_article).cast("string") == F.col("__k"), "left")
    old = F.coalesce(F.col(base_price).cast("double"), F.lit(0.0))
    applied = F.col("__np").isNotNull() & (F.abs(F.col("__np") - old) >= epsilon)
    out_cols = [
        F.when(applied, F.col("__np")).otherwise(F.col(c).cast("double")).alias(c)
        if c == base_price
        else F.col(c)
        for c in base.columns
    ]
    return joined.select(*out_cols, applied.alias("updated"))


def article_writeback(
    base: DataFrame,
    matches: DataFrame,
    article_slot: str,
    base_key: str = "row_id",
    match_base_key: str = "base_index",
    match_article: str = "supplier_article",
    approved: DataFrame | list | None = None,
) -> dict[str, DataFrame]:
    """S13 + the occupied-cell audit of the add-articles flow
    (main.py:5962-6051, 7246-7354): write the supplier article into the
    base row's ``article_slot`` when the cell is empty; if occupied with a
    different value, skip and audit.

    Returns ``updated`` (full base with filled cells) and ``audit``
    (one row per attempted write: action ∈ added|skipped_occupied|noop).
    ``approved`` restricts writes to user-accepted supplier articles
    (the checkbox selection of main.py:5788-5806, SURVEY §7 risk #7).
    """
    matches = _restrict_to_approved(matches, match_article, approved)
    w = F.broadcast(
        matches.select(
            F.col(match_base_key).alias("__row"),
            F.col(match_article).cast("string").alias("__art"),
        ).groupBy("__row").agg(F.min("__art").alias("__art"))  # one write per row, deterministic
    )
    joined = base.join(w, F.col(base_key) == F.col("__row"), "left")
    cur = F.col(article_slot).cast("string")
    empty = cur.isNull() | (F.trim(cur) == "") | (F.lower(F.trim(cur)) == "nan")
    action = (
        F.when(F.col("__art").isNull(), F.lit(None).cast("string"))
        .when(empty, F.lit("added"))
        .when(F.trim(cur) == F.col("__art"), F.lit("noop"))
        .otherwise(F.lit("skipped_occupied"))
    )
    updated = joined.select(
        *[
            # the slot becomes string-typed: mixed int/string article
            # vocabularies coexist in it (ref writes either, main.py:7308-7321)
            F.when(action == "added", F.col("__art")).otherwise(cur).alias(c)
            if c == article_slot
            else F.col(c)
            for c in base.columns
        ]
    )
    audit = (
        joined.filter(F.col("__art").isNotNull())
        .select(
            F.col(base_key).alias("base_row"),
            F.lit(article_slot).alias("column"),
            cur.alias("old_value"),
            F.col("__art").alias("new_value"),
            action.alias("action"),
        )
    )
    return {"updated": updated, "audit": audit}


def row_insert_autonumber(
    base: DataFrame,
    new_items: DataFrame,
    base_article: str = "article",
    order_col: str = "supplier_index",
) -> DataFrame:
    """S14 auto-numbering: each inserted row gets master article
    ``max(base.article) + k`` in insertion order (main.py:7411-7445 scans
    the max; 7893-7924 increments per insert).

    ``max + row_number`` over the insertion batch — safe under the
    reference's single-writer model; concurrent writers would need a
    sequence service instead (SURVEY.md §7 hard parts #4).  The global
    row_number window is on the (small, broadcastable) insert batch only,
    never on the base.
    """
    mx = base.agg(F.max(F.col(base_article).cast("long")).alias("__mx"))
    w = Window.orderBy(F.col(order_col).asc())
    return (
        new_items.crossJoin(F.broadcast(mx))
        .withColumn("new_article", F.col("__mx") + F.row_number().over(w))
        .drop("__mx")
    )


def insert_rows(
    base: DataFrame,
    mapped_new_rows: DataFrame,
    order_col: str = "row_id",
    anchor_col: str = "insert_after_row",
) -> DataFrame:
    """S14 positioning: union the mapped new rows so each sorts directly
    after its anchor base row.  Spark has no physical row order, so the
    position is a sort key: base rows at (row, 0), inserts at
    (anchor, 1, insertion order) — ``order_key`` is the presentation
    ordering the Excel writer would realize.

    The dense global key comes from ``global_dense_index`` (range shuffle
    + partition-local windows), NOT a single-partition row_number window —
    the full base flows through this sort, so the global-window shortcut
    would serialize it at scale.
    """
    from mistocksync_spark.operators.ordering import global_dense_index

    b = base.select(
        *base.columns,
        F.col(order_col).cast("double").alias("__pos"),
        F.lit(0).alias("__ins"),
    )
    n = mapped_new_rows.select(
        *[F.col(c) for c in mapped_new_rows.columns if c != anchor_col],
        F.col(anchor_col).cast("double").alias("__pos"),
        F.lit(1).alias("__ins"),
    )
    merged = b.unionByName(n, allowMissingColumns=True)
    keys = [F.col("__pos").asc(), F.col("__ins").asc(), F.col(order_col).asc_nulls_last()]
    return global_dense_index(merged, keys).drop("__pos", "__ins")


def snapshot_diff(
    before: DataFrame,
    after: DataFrame,
    key: str = "row_id",
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """Version diff between two table snapshots: one row per changed cell
    plus added/removed keys — the audit a backup/restore or MERGE dry-run
    reads (the reference's manual before/after eyeballing of its .bak
    copies, made queryable).

    Full outer join on the key; each compared column contributes a
    (key, column, old, new, change) row via an explode of per-column
    structs — one shuffle on the key, output bounded by changed cells
    plus one row per column of every added/removed key.

    Comparison is NATIVE (pre-cast) per column; the string cast is for
    display only.  Added/removed keys always emit their rows, even when
    every compared value is NULL — a full-outer side miss is itself the
    audit fact (a value-inequality filter would silently drop all-NULL
    added/removed keys).
    """
    cols = compare_cols or [c for c in before.columns if c != key and c in after.columns]
    b = before.select(
        F.col(key).alias("__k"),
        F.lit(True).alias("__b_present"),
        *[F.col(c).alias(f"__b_{c}") for c in cols],
    )
    a = after.select(
        F.col(key).alias("__k"),
        F.lit(True).alias("__a_present"),
        *[F.col(c).alias(f"__a_{c}") for c in cols],
    )
    j = b.join(a, on="__k", how="full_outer")
    in_b = F.coalesce(F.col("__b_present"), F.lit(False))
    in_a = F.coalesce(F.col("__a_present"), F.lit(False))
    entries = F.array(
        *[
            F.struct(
                F.lit(c).alias("column"),
                F.col(f"__b_{c}").cast("string").alias("old_value"),
                F.col(f"__a_{c}").cast("string").alias("new_value"),
                # native (pre-cast) comparison — a string cast can mask
                # type-only or precision-only differences
                (~F.col(f"__b_{c}").eqNullSafe(F.col(f"__a_{c}"))).alias("differs"),
            )
            for c in cols
        ]
    )
    per_cell = (
        j.select(F.col("__k").alias(key), in_b.alias("__inb"), in_a.alias("__ina"), F.explode(entries).alias("e"))
        .select(
            key,
            "__inb",
            "__ina",
            F.col("e.column").alias("column"),
            F.col("e.old_value").alias("old_value"),
            F.col("e.new_value").alias("new_value"),
            F.col("e.differs").alias("__differs"),
        )
    )
    change = (
        F.when(~F.col("__inb"), F.lit("added"))
        .when(~F.col("__ina"), F.lit("removed"))
        .otherwise(F.lit("changed"))
    )
    return (
        per_cell.filter((F.col("__inb") != F.col("__ina")) | F.col("__differs"))
        .select(key, "column", "old_value", "new_value", change.alias("change"))
    )


def snapshot(df: DataFrame, path: str) -> str:
    """S15: timestamped-copy backup → table snapshot (parquet write).
    In a Delta/Iceberg deployment this is time-travel, not a copy."""
    df.write.mode("overwrite").parquet(path)
    return path


def save_processed(df: DataFrame, path: str, fmt: str = "parquet", single_file: bool = False) -> str:
    """S10: persist the processed supplier table.  ``single_file`` mirrors
    the reference's one-xlsx/csv output (coalesce(1) — only sane for small
    exports; the scale path keeps natural partitioning)."""
    out = df.coalesce(1) if single_file else df
    if fmt == "csv":
        out.write.mode("overwrite").option("header", True).csv(path)
    else:
        out.write.mode("overwrite").parquet(path)
    return path
