"""Row filters (reference parity: F1–F8) as declarative DataFrame filters —
Catalyst pushes these down to the parquet scan when possible.

Reference semantics: /root/reference/main.py:1320-1373 (filter_by_price),
1388-1415 (vitya balance isin), 1461-1502 (dimi balance != with pandas null
semantics), 2108-2112 (null-key pruning), 1053-1088 (anti-filter of matched).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mistocksync_spark.functions.pricing import MIN_PRICE_THRESHOLD

VITYA_BALANCE_AVAILABLE = ["Имеются в нал.", "Распродажа"]
DIMI_BALANCE_EXPECTED = "Ожидается"


def filter_by_price(df: DataFrame, price_column: str = "price_usd") -> DataFrame:
    """Keep rows with non-null price strictly above the 0.01 threshold
    (ref main.py:1340-1342). No-op if the column is absent."""
    if price_column not in df.columns:
        return df
    p = F.col(price_column)
    return df.filter(p.isNotNull() & (p > MIN_PRICE_THRESHOLD))


def filter_vitya_balance(df: DataFrame, balance_column: str = "balance") -> DataFrame:
    """Keep only in-stock statuses (ref main.py:1395-1397). Null balance rows
    are dropped (isin is null-rejecting in pandas and Spark alike)."""
    if balance_column not in df.columns:
        return df
    return df.filter(F.col(balance_column).isin(VITYA_BALANCE_AVAILABLE))


def _neq_null_safe(col: Column, value: str) -> Column:
    """pandas ``!=`` semantics: NaN != x is True, so null rows SURVIVE.
    Spark's ``!=`` yields null (row dropped) — add the isNull disjunct."""
    return (col != value) | col.isNull()


def filter_dimi_balance(df: DataFrame, columns=("balance", "balance1")) -> DataFrame:
    """Drop rows where any present balance column equals 'Ожидается',
    keeping null-balance rows (ref main.py:1475-1476, pandas semantics)."""
    for c in columns:
        if c in df.columns:
            df = df.filter(_neq_null_safe(F.col(c), DIMI_BALANCE_EXPECTED))
    return df


def anti_filter_matched(df: DataFrame, matched: DataFrame, key: str, matched_key: str | None = None) -> DataFrame:
    """Remove already-matched keys from the unmatched pool after a cascade
    stage (ref main.py:1053-1088 ``~isin``) — a broadcastable left-anti join."""
    mk = matched_key or key
    right = matched.select(F.col(mk).alias(key)).distinct()
    return df.join(F.broadcast(right), on=key, how="left_anti")


def semi_restrict(df: DataFrame, allowed: DataFrame, key: str, allowed_key: str | None = None) -> DataFrame:
    """Restrict to rows whose key appears in ``allowed`` (ref F8,
    main.py:2289-2304) — a broadcastable left-semi join."""
    ak = allowed_key or key
    right = allowed.select(F.col(ak).alias(key)).distinct()
    return df.join(F.broadcast(right), on=key, how="left_semi")


def significant_changes(df: DataFrame, pct_col: str = "price_change_percent", threshold: float = 5.0) -> DataFrame:
    """|pct| > threshold (5 → price_changes sheet, 20 → warnings sheet;
    ref main.py:2212-2214, 3814-3830)."""
    return df.filter(F.abs(F.col(pct_col)) > threshold)
