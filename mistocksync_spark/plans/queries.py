"""Query registry: one entry per implemented operator (SURVEY.md §2), each
with a Spark implementation (using the library operators) and a DuckDB
oracle SQL string that re-derives the same semantics independently.

Input parity: both sides build the supplier/base feeds from ``part`` with
the *same SQL text* (plans/feeds.py), so the oracle validates operator
semantics, not data generation.

Column-name contract: every computed column is aliased identically on both
sides (the driver sorts columns by name before value-hashing).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mistocksync_spark.functions import (
    battery_capacity,
    bracket_code,
    clean_article_dimi,
    clean_article_vitya,
    min_base_price,
    product_code_unified,
    safe_color,
)
from mistocksync_spark.functions.numeric import dec_avg, dec_sum, sql_dec_avg, sql_dec_sum
from mistocksync_spark.operators import aggregates as agg
from mistocksync_spark.operators import filters as flt
from mistocksync_spark.operators import matching
from mistocksync_spark.plans.feeds import BASE_FEED_SQL, SUPPLIER_FEED_SQL, base_feed, supplier_feed

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}

_CTES = f"WITH supplier_feed AS ({SUPPLIER_FEED_SQL}), base_feed AS ({BASE_FEED_SQL})"

# DuckDB fragments mirroring the cleaners (independent re-derivation of the
# same reference semantics the Spark-side column expressions implement).
_SQL_ART_PREP = (
    "CASE WHEN replace({col}, '''', '') LIKE '000%' "
    "THEN substr(replace({col}, '''', ''), 4) ELSE replace({col}, '''', '') END"
)
_SQL_CLEAN_VITYA = (
    "COALESCE(TRY_CAST(array_to_string(regexp_extract_all(" + _SQL_ART_PREP + ", '\\d+'), '') AS BIGINT), 0)"
)
_SQL_CLEAN_DIMI = "NULLIF(" + _SQL_ART_PREP + ", '')"
_SQL_SAFE_COLOR = (
    "CASE WHEN lower(trim({col})) IS NULL OR lower(trim({col})) IN ('nan','none','') "
    "THEN '' ELSE lower(trim({col})) END"
)
_SQL_BRACKET = (
    "CASE WHEN regexp_matches(upper(trim(NULLIF(regexp_extract({col}, '\\(([^)]+)\\)', 1), ''))), '^[A-Za-zА-Яа-я0-9\\-]+$') "
    "AND length(upper(trim(NULLIF(regexp_extract({col}, '\\(([^)]+)\\)', 1), '')))) >= 4 "
    "THEN upper(trim(NULLIF(regexp_extract({col}, '\\(([^)]+)\\)', 1), ''))) ELSE NULL END"
)
_SQL_CAPACITY = (
    "COALESCE("
    + ", ".join(
        "CASE WHEN TRY_CAST(NULLIF(regexp_extract(lower({{col}}), '{pat}', 1), '') AS BIGINT) BETWEEN 5 AND 999999 "
        "THEN NULLIF(regexp_extract(lower({{col}}), '{pat}', 1), '') END".format(pat=p)
        for p in [r"(\d+)\s*mah", r"(\d+)mah", r"(\d+)\s*мач", r"(\d+)мач", r"(\d+)\s*мч", r"(\d+)мч"]
    )
    + ")"
)

_CODE_EXCLUDE = (
    r"NOT regexp_matches(lower(x), '^\d+mah$|^\d+w$|^\d+wh$|^\d+ma$') "
    r"AND NOT regexp_matches(x, '^\d{5,}$') "
    "AND x NOT IN ('USB-C','POWER','PORTABLE','CHARGER','BANK')"
)
_CODE_PATTERNS_SQL = [
    (r"\b[A-Z0-9]+(?:-[A-Z0-9]+)+\b", 0),
    (r"\b[A-Z]{2,}[0-9]{2,}[A-Z]*\b", 0),
    (r"\b[0-9]{3,}[A-Z]{1,3}\b", 0),
    (r"\b[A-Z][0-9]{4,}[A-Z][0-9]+\b", 0),
    (r"\b[A-Z]{4,8}\b", 0),
    (r"\b[A-Z][0-9]{1,3}\b", 0),
    (r"(?:^|[^A-Za-z0-9_А-Яа-я])([А-Я][0-9]{1,3})(?:$|[^A-Za-z0-9_А-Яа-я])", 1),
]


def _sql_name_code(col: str) -> str:
    # NB: standard SQL string literals do not process backslash escapes, so
    # the regex backslashes pass through to RE2 verbatim.
    parts = []
    for pat, group in _CODE_PATTERNS_SQL:
        parts.append(
            f"list_extract(list_filter(regexp_extract_all(upper({col}), '{pat}', {group}), x -> {_CODE_EXCLUDE}), 1)"
        )
    return "COALESCE(" + ", ".join(parts) + ")"


def _sql_unified_code(col: str) -> str:
    brands = ["GREENOE", "XIAOMI", "SAMSUNG", "APPLE", "HUAWEI", "OPPO", "VIVO", "ONEPLUS"]
    brand_sql = "COALESCE(" + ", ".join(
        f"CASE WHEN upper({col}) LIKE '%{b}%' THEN '{b}' END" for b in brands
    ) + ")"
    name_code = _sql_name_code(col)
    return (
        f"COALESCE({_SQL_BRACKET.format(col=col)}, {brand_sql}, "
        f"CASE WHEN length({name_code}) >= 4 THEN {name_code} END)"
    )


def query(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def _preprocess_vitya(feed: DataFrame) -> DataFrame:
    """Vitya preprocess pipeline (ref main.py:1375-1447): F1 price filter →
    F2 balance filter → C2 article cleaning → supplier tag."""
    df = flt.filter_by_price(feed, "price_usd")
    df = flt.filter_vitya_balance(df)
    return df.withColumn("article_vitya", clean_article_vitya(F.col("article_raw"))).withColumn(
        "supplier_name", F.lit("Витя")
    )


_SQL_PREP_VITYA = f"""
  SELECT row_id, name, color, price_usd, balance, balance1,
         {_SQL_CLEAN_VITYA.format(col='article_raw')} AS article_vitya
  FROM supplier_feed
  WHERE price_usd IS NOT NULL AND price_usd > 0.01
    AND balance IN ('Имеются в нал.', 'Распродажа')
"""


# --------------------------------------------------------------------------
# Flagship: TPC-H Q1-style pricing summary (A2/F7-family aggregation shape)
# --------------------------------------------------------------------------
@query(
    "q1_pricing_summary",
    f"""
    SELECT l_returnflag, l_linestatus,
           {sql_dec_sum("l_quantity", 2)} AS sum_qty,
           {sql_dec_sum("l_extendedprice", 2)} AS sum_base_price,
           {sql_dec_sum("l_extendedprice * (1 - l_discount)", 2)} AS sum_disc_price,
           {sql_dec_sum("l_extendedprice * (1 - l_discount) * (1 + l_tax)", 2)} AS sum_charge,
           {sql_dec_avg("l_quantity")} AS avg_qty,
           {sql_dec_avg("l_discount")} AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Decimal-exact sums/means throughout (functions/numeric.py): raw
    # double accumulation is partition-order dependent and the rounded
    # result can flip on half-cases.
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dec_sum("l_quantity", 2).alias("sum_qty"),
            dec_sum("l_extendedprice", 2).alias("sum_base_price"),
            dec_sum(disc_price, 2).alias("sum_disc_price"),
            dec_sum(disc_price * (1 + F.col("l_tax")), 2).alias("sum_charge"),
            dec_avg("l_quantity").alias("avg_qty"),
            dec_avg("l_discount").alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


# --------------------------------------------------------------------------
# S1 feed canary — validates the shared feed derivation end-to-end
# --------------------------------------------------------------------------
@query(
    "supplier_feed_rows",
    _CTES + " SELECT row_id, article_raw, name, color, price_usd, balance, balance1 FROM supplier_feed",
)
def supplier_feed_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    return supplier_feed(spark, sf_dir).select(
        "row_id", "article_raw", "name", "color", "price_usd", "balance", "balance1"
    )


# --------------------------------------------------------------------------
# F1 / F2 / F3 filters
# --------------------------------------------------------------------------
@query(
    "price_filter",
    _CTES + " SELECT row_id, price_usd FROM supplier_feed WHERE price_usd IS NOT NULL AND price_usd > 0.01",
)
def price_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    return flt.filter_by_price(supplier_feed(spark, sf_dir), "price_usd").select("row_id", "price_usd")


@query(
    "vitya_balance_filter",
    _CTES + " SELECT row_id, balance FROM supplier_feed WHERE balance IN ('Имеются в нал.', 'Распродажа')",
)
def vitya_balance_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    return flt.filter_vitya_balance(supplier_feed(spark, sf_dir)).select("row_id", "balance")


@query(
    "dimi_balance_filter",
    # pandas != semantics: NULL balances SURVIVE the filter
    _CTES
    + """
    SELECT row_id, balance, balance1 FROM supplier_feed
    WHERE (balance != 'Ожидается' OR balance IS NULL)
      AND (balance1 != 'Ожидается' OR balance1 IS NULL)
    """,
)
def dimi_balance_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    return flt.filter_dimi_balance(supplier_feed(spark, sf_dir)).select("row_id", "balance", "balance1")


# --------------------------------------------------------------------------
# C2 / C2b / C3 / C4+C5 / C6 / C7 scalar cleaners & extractors
# --------------------------------------------------------------------------
@query(
    "clean_article_vitya",
    _CTES + f" SELECT row_id, article_raw, {_SQL_CLEAN_VITYA.format(col='article_raw')} AS article_clean FROM supplier_feed",
)
def clean_article_vitya_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return supplier_feed(spark, sf_dir).select(
        "row_id", "article_raw", clean_article_vitya(F.col("article_raw")).alias("article_clean")
    )


@query(
    "clean_article_dimi",
    _CTES + f" SELECT row_id, article_raw, {_SQL_CLEAN_DIMI.format(col='article_raw')} AS article_clean FROM supplier_feed",
)
def clean_article_dimi_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return supplier_feed(spark, sf_dir).select(
        "row_id", "article_raw", clean_article_dimi(F.col("article_raw")).alias("article_clean")
    )


@query(
    "safe_color",
    _CTES + f" SELECT row_id, {_SQL_SAFE_COLOR.format(col='color')} AS color_clean FROM supplier_feed",
)
def safe_color_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return supplier_feed(spark, sf_dir).select("row_id", safe_color(F.col("color")).alias("color_clean"))


@query(
    "bracket_code_extract",
    _CTES + f" SELECT row_id, {_SQL_BRACKET.format(col='name')} AS code FROM supplier_feed",
)
def bracket_code_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    return supplier_feed(spark, sf_dir).select("row_id", bracket_code("name").alias("code"))


@query(
    "product_code_extract",
    _CTES + f" SELECT row_id, {_sql_unified_code('name')} AS code FROM supplier_feed",
)
def product_code_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    return supplier_feed(spark, sf_dir).select("row_id", product_code_unified("name").alias("code"))


@query(
    "battery_capacity_extract",
    _CTES + f" SELECT row_id, {_SQL_CAPACITY.format(col='name')} AS capacity FROM supplier_feed",
)
def battery_capacity_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    return supplier_feed(spark, sf_dir).select("row_id", battery_capacity("name").alias("capacity"))


# --------------------------------------------------------------------------
# J1 exact article match + price changes + new items + A2 summary
# --------------------------------------------------------------------------
_SQL_J1 = (
    _CTES
    + f"""
    , prep AS ({_SQL_PREP_VITYA})
    , sup AS (
        SELECT CAST(article_vitya AS STRING) AS article, price_usd AS supplier_price,
               name AS supplier_name, row_id AS supplier_index,
               row_number() OVER (PARTITION BY CAST(article_vitya AS STRING) ORDER BY row_id DESC) AS rn
        FROM prep WHERE article_vitya IS NOT NULL
    )
    , supd AS (SELECT * FROM sup WHERE rn = 1)
    , bas AS (
        SELECT CAST(article_vitya AS STRING) AS article,
               CASE WHEN price_vitya_usd > 0 THEN price_vitya_usd ELSE 0.0 END AS base_price,
               name AS base_name, row_id AS base_index,
               row_number() OVER (PARTITION BY CAST(article_vitya AS STRING) ORDER BY row_id DESC) AS rn
        FROM base_feed WHERE article_vitya IS NOT NULL
    )
    , basd AS (SELECT * FROM bas WHERE rn = 1)
    """
)

_SQL_J1_MATCHES = (
    _SQL_J1
    + """
    SELECT s.article, s.supplier_price, b.base_price,
           CASE WHEN s.supplier_name IS NULL OR s.supplier_name = '' THEN b.base_name ELSE s.supplier_name END AS name,
           s.supplier_price - b.base_price AS price_diff,
           CASE WHEN b.base_price > 0 THEN (s.supplier_price - b.base_price) / b.base_price * 100.0 ELSE 0.0 END AS price_change_percent,
           b.base_index
    FROM supd s JOIN basd b USING (article)
    """
)


def _j1(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    sup = _preprocess_vitya(supplier_feed(spark, sf_dir))
    bas = base_feed(spark, sf_dir)
    return matching.exact_article_match(
        sup,
        bas,
        supplier_article="article_vitya",
        supplier_price="price_usd",
        base_article="article_vitya",
        base_price="price_vitya_usd",
    )


@query("exact_article_match", _SQL_J1_MATCHES)
def exact_article_match_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _j1(spark, sf_dir)["matches"]


@query(
    "price_changes",
    _SQL_J1_MATCHES.replace(
        "FROM supd s JOIN basd b USING (article)",
        """FROM supd s JOIN basd b USING (article)
           WHERE abs(CASE WHEN b.base_price > 0 THEN (s.supplier_price - b.base_price) / b.base_price * 100.0 ELSE 0.0 END) > 5.0""",
    ),
)
def price_changes_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _j1(spark, sf_dir)["price_changes"]


@query(
    "price_warnings",
    _SQL_J1_MATCHES.replace(
        "FROM supd s JOIN basd b USING (article)",
        """FROM supd s JOIN basd b USING (article)
           WHERE abs(CASE WHEN b.base_price > 0 THEN (s.supplier_price - b.base_price) / b.base_price * 100.0 ELSE 0.0 END) > 20.0""",
    ),
)
def price_warnings_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return flt.significant_changes(_j1(spark, sf_dir)["matches"], threshold=20.0)


@query(
    "new_items",
    _SQL_J1
    + """
    SELECT s.article, s.supplier_price AS price, s.supplier_name AS name, s.supplier_index
    FROM supd s LEFT JOIN basd b USING (article) WHERE b.article IS NULL
    """,
)
def new_items_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _j1(spark, sf_dir)["new_items"]


@query(
    "comparison_summary",
    _SQL_J1
    + """
    SELECT (SELECT COUNT(*) FROM supd) AS supplier_total,
           (SELECT COUNT(*) FROM supd s JOIN basd b USING (article)) AS matches,
           (SELECT COUNT(*) FROM supd s LEFT JOIN basd b USING (article) WHERE b.article IS NULL) AS new_items,
           CASE WHEN (SELECT COUNT(*) FROM supd) > 0
                THEN (SELECT COUNT(*) FROM supd s JOIN basd b USING (article)) * 100.0 / (SELECT COUNT(*) FROM supd)
                ELSE 0.0 END AS match_rate
    """,
)
def comparison_summary_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = _j1(spark, sf_dir)
    # supplier_total = deduped supplier keys = matches + new_items
    m = r["matches"].agg(F.count("*").alias("matches"))
    n = r["new_items"].agg(F.count("*").alias("new_items"))
    return (
        m.crossJoin(n)
        .select(
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
    )


# --------------------------------------------------------------------------
# J7 price-update join (MERGE source)
# --------------------------------------------------------------------------
@query(
    "price_update_join",
    _SQL_J1
    + """
    SELECT b.article, b.old_price, s.new_price,
           CASE WHEN b.old_price != 0 THEN (s.new_price - b.old_price) / b.old_price * 100.0 ELSE 100.0 END AS change_percent
    FROM (
        SELECT CAST(article_vitya AS STRING) AS article, price_vitya_usd AS old_price
        FROM base_feed WHERE article_vitya IS NOT NULL
    ) b
    JOIN (SELECT article, supplier_price AS new_price FROM supd) s USING (article)
    WHERE abs(s.new_price - b.old_price) >= 0.001
    """,
)
def price_update_join_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    sup = _preprocess_vitya(supplier_feed(spark, sf_dir)).na.drop(
        subset=["article_vitya", "price_usd"]
    )
    return matching.price_update_join(
        base_feed(spark, sf_dir),
        sup,
        base_article="article_vitya",
        base_price="price_vitya_usd",
        supplier_article="article_vitya",
        supplier_price="price_usd",
    )


# --------------------------------------------------------------------------
# J2 / J3 code-match cascade stages + residual (stage 4)
# --------------------------------------------------------------------------
def _sql_code_cascade(
    code_of,
    match_type: str,
    j1: str | None = None,
    prep: str = "prep",
    supd: str = "supd",
    basd: str = "basd",
    sup_article: str = "article_vitya",
    base_price_col: str = "price_vitya_usd",
) -> str:
    """Oracle CTE chain for a code-match stage.  ``code_of(col)`` renders the
    extractor SQL for a column; mirrors operators/codematch.py semantics.
    Parameterized over the supplier flow (vitya int keys by default; pass
    the dimi CTE names/columns for the string-key flow)."""
    cap = _SQL_CAPACITY.format(col="name")
    sup_color = _SQL_SAFE_COLOR.format(col="color")
    base_parts = [
        f"""
        SELECT {code_of('name')} AS code, row_id * 4 AS base_variant_order,
               'name' AS matched_in, row_id AS base_index, name AS base_name,
               CAST(article AS STRING) AS base_article,
               {sup_color} AS base_color, {cap} AS base_capacity,
               CASE WHEN {base_price_col} > 0 THEN {base_price_col} ELSE 0.0 END AS base_price
        FROM base_feed WHERE name IS NOT NULL AND {code_of('name')} IS NOT NULL
        """
    ]
    for i, c in enumerate(["article_vitya", "article_dimi", "article_mila"]):
        code_c = code_of(f"CAST({c} AS STRING)")
        base_parts.append(
            f"""
        SELECT {code_c} AS code, row_id * 4 + {i + 1} AS base_variant_order,
               '{c}' AS matched_in, row_id AS base_index, name AS base_name,
               CAST(article AS STRING) AS base_article,
               {sup_color} AS base_color, {cap} AS base_capacity,
               CASE WHEN {base_price_col} > 0 THEN {base_price_col} ELSE 0.0 END AS base_price
        FROM base_feed WHERE {c} IS NOT NULL AND {code_c} IS NOT NULL
        """
        )
    base_var = " UNION ALL ".join(base_parts)
    return (
        (j1 if j1 is not None else _SQL_J1)
        + f"""
    , new_set AS (SELECT s.article FROM {supd} s LEFT JOIN {basd} b USING (article) WHERE b.article IS NULL)
    , sup_new AS (SELECT * FROM {prep} WHERE CAST({sup_article} AS STRING) IN (SELECT article FROM new_set))
    , sup_var AS (
        SELECT {code_of('name')} AS code, row_id AS supplier_variant_order,
               name AS supplier_name, COALESCE(price_usd, 0.0) AS supplier_price,
               CAST({sup_article} AS STRING) AS supplier_article,
               {sup_color} AS supplier_color, {cap} AS supplier_capacity
        FROM sup_new WHERE name IS NOT NULL AND {code_of('name')} IS NOT NULL
    )
    , base_var AS ({base_var})
    -- Tiered pre-aggregated lookups (round-11 sf1-oracle rewrite): the
    -- previous formulation materialized every supplier x base pair per
    -- code and row_number'd it, which goes quadratic on skewed codes and
    -- interrupted at sf1.  This is the SAME decomposition the Spark plan
    -- runs (operators/codematch.py code_match): min base_variant_order
    -- per tier-eligibility group, winner = COALESCE over tiers, one 1:1
    -- payload fetch — pair-free at any skew, identical output (the
    -- row_number form picked min (tier, order); within the best tier the
    -- group min IS that pair).
    , b1 AS (SELECT code, base_color, base_capacity, min(base_variant_order) AS o1
             FROM base_var GROUP BY code, base_color, base_capacity)
    , b2 AS (SELECT code, base_color, min(base_variant_order) AS o2
             FROM base_var GROUP BY code, base_color)
    , b3 AS (SELECT code, base_capacity, min(base_variant_order) AS o3
             FROM base_var GROUP BY code, base_capacity)
    , b4 AS (SELECT code, min(base_variant_order) AS o4 FROM base_var GROUP BY code)
    , chosen AS (
        SELECT s.code, s.supplier_variant_order, s.supplier_name, s.supplier_price,
               s.supplier_article, s.supplier_color, s.supplier_capacity,
               CASE WHEN b1.o1 IS NOT NULL THEN 1 WHEN b2.o2 IS NOT NULL THEN 2
                    WHEN b3.o3 IS NOT NULL THEN 3 ELSE 4 END AS tier,
               COALESCE(b1.o1, b2.o2, b3.o3, b4.o4) AS base_variant_order
        FROM sup_var s
        JOIN b4 ON s.code = b4.code
        LEFT JOIN b1 ON s.code = b1.code AND s.supplier_color = b1.base_color
                    AND s.supplier_capacity IS NOT DISTINCT FROM b1.base_capacity
        LEFT JOIN b2 ON s.code = b2.code AND s.supplier_color = b2.base_color
        LEFT JOIN b3 ON s.code = b3.code AND s.supplier_capacity IS NOT DISTINCT FROM b3.base_capacity
    )
    SELECT c.code, c.supplier_name, b.base_name, c.supplier_price, b.base_price,
           c.supplier_article, b.base_article, c.supplier_color, b.base_color,
           c.supplier_capacity, b.base_capacity, b.base_index, b.matched_in,
           '{match_type}' AS match_type, c.tier <= 2 AS color_match,
           (c.tier = 1 OR c.tier = 3) AS capacity_match,
           CASE WHEN b.base_price > 0 THEN (c.supplier_price - b.base_price) / b.base_price * 100.0 ELSE 0.0 END AS price_change_percent,
           c.supplier_variant_order
    FROM chosen c JOIN base_var b
      ON c.code = b.code AND c.base_variant_order = b.base_variant_order
    """
    )


# Memoized per (session, sf_dir, variant): five J1–J3 queries share one
# cascade, and re-running `perform_comparison(cache=True)` per query
# re-cached identical lineages ("Asked to cache already cached data"
# spam).  bench.py clears this between entries so
# each bench reading stays cold.
_CASCADE_MEMO: dict = {}

# Memoized materialized CC label frame per (session, sf_dir): the
# clusters/histogram/survivors family shares ONE connected-components run —
# CC ends in a localCheckpoint, so the memoized frame is already
# materialized and each sibling query pays only its own joins/groupBys
# (re-deriving pairs + CC per sibling measured 79 s vs 12 s).
# bench.py's _reset clears this too, so cold readings stay cold.
_CC_MEMO: dict = {}


def _cascade_memo_clear() -> None:
    _CASCADE_MEMO.clear()
    _CC_MEMO.clear()


def _simhash_cc_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected-components labels over the SimHash near-dup pairs
    (max_hamming=3), materialized once per (session, sf_dir)."""
    key = (id(spark), sf_dir, "simhash_cc")
    if key not in _CC_MEMO:
        from mistocksync_spark.operators.dedup import (
            connected_components,
            simhash,
            simhash_near_dup_pairs,
        )
        from mistocksync_spark.plans.feeds import docs_aug

        pairs = simhash_near_dup_pairs(simhash(docs_aug(spark, sf_dir)), max_hamming=3)
        _CC_MEMO[key] = connected_components(pairs)
    return _CC_MEMO[key]


def _shingles_shared(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (doc_id, shingle) table, lazily materialized once per
    (session, sf_dir) for the n-gram family (prefix-filter join,
    containment pairs) — siblings pay only their own joins instead of
    re-running docs_aug + shingling (the same
    memo pattern as ``_minhash_pairs_shared``).  The headline
    ``ngram_jaccard_pairs`` entry stays unmemoized so its cold bench
    reading measures the full pipeline."""
    key = (id(spark), sf_dir, "shingles")
    if key not in _CC_MEMO:
        from mistocksync_spark.operators.dedup import shingle_table
        from mistocksync_spark.plans.feeds import docs_aug

        _CC_MEMO[key] = shingle_table(docs_aug(spark, sf_dir)).localCheckpoint(eager=False)
    return _CC_MEMO[key]


def _minhash_pairs_shared(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidate pairs, lazily materialized once per
    (session, sf_dir) for the graph-analytics family (degrees, triangles,
    clustering coefficient) — each sibling pays only its own joins over
    the checkpointed edge list instead of re-deriving shingle→minhash→
    band→join.  The headline ``minhash_lsh_pairs`` entry stays
    unmemoized so its cold bench reading measures the full pipeline."""
    key = (id(spark), sf_dir, "minhash_pairs")
    if key not in _CC_MEMO:
        _CC_MEMO[key] = QUERIES["minhash_lsh_pairs"](spark, sf_dir).localCheckpoint(eager=False)
    return _CC_MEMO[key]


def _cascade(spark: SparkSession, sf_dir: str):
    from mistocksync_spark.operators.cascade import perform_comparison

    key = (id(spark), sf_dir, "vitya")
    if key not in _CASCADE_MEMO:
        sup = _preprocess_vitya(supplier_feed(spark, sf_dir))
        _CASCADE_MEMO[key] = perform_comparison(
            sup,
            base_feed(spark, sf_dir),
            supplier_article="article_vitya",
            supplier_price="price_usd",
            base_article="article_vitya",
            base_price="price_vitya_usd",
            cache=True,
        )
    return _CASCADE_MEMO[key]


@query("bracket_code_match", _sql_code_cascade(lambda c: _SQL_BRACKET.format(col=c), "bracket_code"))
def bracket_code_match_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _cascade(spark, sf_dir)["bracket_matches"]


@query("product_code_match", _sql_code_cascade(_sql_unified_code, "product_code"))
def product_code_match_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _cascade(spark, sf_dir)["code_matches"]


# residual needs both stages' matched articles; build it as one query with
# both extractors inlined.  Parameterized over the supplier flow so the
# vitya (int-key) and dimi (string-key) cascades share one template —
# the reference handles both suppliers symmetrically (main.py:992-1133).
def _sql_new_for_base(
    j1: str | None = None,
    prep: str = "prep",
    supd: str = "supd",
    basd: str = "basd",
    sup_article: str = "article_vitya",
    base_price_col: str = "price_vitya_usd",
) -> str:
    head = _sql_code_cascade(
        lambda c: _SQL_BRACKET.format(col=c),
        "bracket_code",
        j1=j1,
        prep=prep,
        supd=supd,
        basd=basd,
        sup_article=sup_article,
        base_price_col=base_price_col,
    ).rsplit("SELECT c.code,", 1)[0]
    code_name = _sql_unified_code("name")
    base_parts = [
        f"SELECT {code_name} AS code FROM base_feed WHERE name IS NOT NULL AND {code_name} IS NOT NULL"
    ]
    for c in ["article_vitya", "article_dimi", "article_mila"]:
        code_c = _sql_unified_code(f"CAST({c} AS STRING)")
        base_parts.append(
            f"SELECT {code_c} AS code FROM base_feed WHERE {c} IS NOT NULL AND {code_c} IS NOT NULL"
        )
    base_var2 = " UNION ALL ".join(base_parts)
    return (
        head
        + f"""
    , bracket_found AS (SELECT DISTINCT supplier_article FROM chosen)
    , sup_var2 AS (
        SELECT {code_name} AS code, row_id AS supplier_variant_order,
               CAST({sup_article} AS STRING) AS supplier_article
        FROM sup_new WHERE name IS NOT NULL AND {code_name} IS NOT NULL
    )
    , base_var2 AS ({base_var2})
    , code_found AS (
        SELECT DISTINCT s.supplier_article FROM sup_var2 s
        WHERE s.code IN (SELECT code FROM base_var2)
    )
    SELECT n.article, n.supplier_price AS price, n.supplier_name AS name, n.supplier_index
    FROM {supd} n
    LEFT JOIN {basd} bb USING (article)
    LEFT JOIN bracket_found bf ON n.article = bf.supplier_article
    LEFT JOIN code_found cf ON n.article = cf.supplier_article
    WHERE bb.article IS NULL AND bf.supplier_article IS NULL AND cf.supplier_article IS NULL
    """
    )


@query("new_items_for_base", _sql_new_for_base())
def new_items_for_base_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _cascade(spark, sf_dir)["new_items_for_base"]


# --------------------------------------------------------------------------
# J4/J5 fuzzy matching (difflib Ratcliff–Obershelp — not SQL-expressible,
# rows-only driver check; exact parity is covered by tests/test_fuzzy.py)
# --------------------------------------------------------------------------
def _cascade_hot(spark: SparkSession, sf_dir: str):
    """Cascade results with the cached stage boundaries eagerly materialized
    in dependency order.  The fuzzy queries consume the RESIDUAL, whose plan
    references the cached new_items/bracket/code boundaries from several
    sibling branches; a single monolithic action recomputes those branches
    concurrently before their cache entries are populated (AQE schedules
    sibling stages in parallel), measured 20.3s vs 11.5s stage-by-stage at
    sf0.1.  Counting each boundary in dependency order fills every cache
    exactly once; the counts themselves are the same jobs the monolithic
    action would run anyway."""
    r = _cascade(spark, sf_dir)
    key = (id(spark), sf_dir, "vitya-hot")
    if key not in _CASCADE_MEMO:
        for k in ("new_items", "bracket_matches", "code_matches"):
            r[k].count()
        _CASCADE_MEMO[key] = True
    return r


@query("fuzzy_match")
def fuzzy_match_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mistocksync_spark.operators.fuzzy import fuzzy_best_match

    r = _cascade_hot(spark, sf_dir)
    candidates = (
        r["new_items_for_base"]
        .withColumnRenamed("price", "price_usd")
        .withColumnRenamed("supplier_index", "cand_order")
    )
    return fuzzy_best_match(
        candidates,
        base_feed(spark, sf_dir),
        candidate_name="name",
        candidate_order="cand_order",
        blocking="bounded",
    ).orderBy("supplier_index")


def fuzzy_match_pair_count(spark: SparkSession, sf_dir: str) -> int:
    """Candidate×base pairs after the length-band prefilter — an UPPER BOUND
    on the pairs the Python scorer evaluates: ``fuzzy_match`` runs the
    ``bounded`` blocking path, whose vectorized quick-ratio bound skips
    difflib for most of these (the broadcast-path count would not
    describe the measured workload).  Not a registered query — the
    bench reports it alongside the timing so the workload scale is
    explicit."""
    from mistocksync_spark.operators.fuzzy import fuzzy_candidate_pairs

    r = _cascade_hot(spark, sf_dir)
    candidates = (
        r["new_items_for_base"]
        .withColumnRenamed("price", "price_usd")
        .withColumnRenamed("supplier_index", "cand_order")
    )
    return fuzzy_candidate_pairs(
        candidates,
        base_feed(spark, sf_dir),
        candidate_name="name",
        candidate_order="cand_order",
        blocking="broadcast",
    ).count()


@query("fuzzy_match_ngram")
def fuzzy_match_ngram_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100×-scale fuzzy path: shared-trigram equi-join blocking instead
    of the broadcast cross join (same difflib scoring and tie-breaking).
    Registered so the blocking switchover is driver-checked (rows-only —
    difflib is not SQL-expressible) and benched as a scale-path entry;
    tests/test_fuzzy.py asserts result parity with ``blocking='broadcast'``."""
    from mistocksync_spark.operators.fuzzy import fuzzy_best_match

    r = _cascade_hot(spark, sf_dir)
    candidates = (
        r["new_items_for_base"]
        .withColumnRenamed("price", "price_usd")
        .withColumnRenamed("supplier_index", "cand_order")
    )
    return fuzzy_best_match(
        candidates,
        base_feed(spark, sf_dir),
        candidate_name="name",
        candidate_order="cand_order",
        blocking="ngram",
    ).orderBy("supplier_index")


# --------------------------------------------------------------------------
# A1 / A3 / A4 / A5 / A6 / A7 aggregates
# --------------------------------------------------------------------------
@query(
    "duplicate_audit",
    _CTES
    + """
    SELECT CAST(dup_key AS STRING) AS value, COUNT(*) AS occurrences,
           MIN(row_id) + 2 AS first_row, MAX(row_id) + 2 AS last_row
    FROM base_feed
    WHERE dup_key IS NOT NULL AND CAST(dup_key AS STRING) != '' AND lower(CAST(dup_key AS STRING)) != 'nan'
    GROUP BY CAST(dup_key AS STRING) HAVING COUNT(*) > 1
    """,
)
def duplicate_audit_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return agg.duplicate_audit(base_feed(spark, sf_dir), "dup_key")


@query(
    "top_event_types",
    """
    SELECT * FROM (
      SELECT event_type AS value, COUNT(*) AS cnt FROM events GROUP BY event_type
    ) ORDER BY cnt DESC, value ASC LIMIT 10
    """,
)
def top_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mistocksync_spark.sources.testdata import load_events

    return agg.top_value_histogram(load_events(spark, sf_dir), "event_type", 10)


@query(
    "null_profile",
    _CTES
    + """
    SELECT CAST(SUM(CASE WHEN price_usd IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS price_usd_nulls,
           CAST(SUM(CASE WHEN price_usd IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS price_usd_notnull,
           CAST(SUM(CASE WHEN color IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS color_nulls,
           CAST(SUM(CASE WHEN color IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS color_notnull,
           CAST(SUM(CASE WHEN balance IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS balance_nulls,
           CAST(SUM(CASE WHEN balance IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS balance_notnull
    FROM supplier_feed
    """,
)
def null_profile_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return agg.null_profile(supplier_feed(spark, sf_dir), ["price_usd", "color", "balance"])


@query(
    "max_article",
    _CTES + " SELECT MAX(TRY_CAST(regexp_extract(CAST(article AS STRING), '(\\d+)', 1) AS BIGINT)) AS max_article FROM base_feed",
)
def max_article_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return agg.max_article_number(base_feed(spark, sf_dir), "article")


@query(
    "min_base_price",
    _CTES
    + """
    SELECT row_id, COALESCE(LEAST(
             CASE WHEN price_dimi_usd > 0 THEN price_dimi_usd END,
             CASE WHEN price_vitya_usd > 0 THEN price_vitya_usd END,
             CASE WHEN price_mila_usd > 0 THEN price_mila_usd END), 0.0) AS min_price
    FROM base_feed
    """,
)
def min_base_price_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return base_feed(spark, sf_dir).select(
        "row_id",
        min_base_price(
            F.col("price_dimi_usd"), F.col("price_vitya_usd"), F.col("price_mila_usd")
        ).alias("min_price"),
    )


@query(
    "price_filter_loss",
    _CTES
    + """
    SELECT COUNT(*) AS total,
           CAST(SUM(CASE WHEN price_usd IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nan_count,
           CAST(SUM(CASE WHEN price_usd = 0 THEN 1 ELSE 0 END) AS BIGINT) AS zero_count,
           CAST(SUM(CASE WHEN price_usd > 0 AND price_usd <= 0.01 THEN 1 ELSE 0 END) AS BIGINT) AS low_price_count,
           CAST(SUM(CASE WHEN price_usd IS NOT NULL AND price_usd > 0.01 THEN 1 ELSE 0 END) AS BIGINT) AS kept
    FROM supplier_feed
    """,
)
def price_filter_loss_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return agg.price_filter_loss_accounting(supplier_feed(spark, sf_dir), "price_usd")


# --------------------------------------------------------------------------
# Dedup extensions: exact, MinHash-LSH, n-gram Jaccard (documents corpus
# augmented with deterministic near/exact duplicates — plans/feeds.py)
# --------------------------------------------------------------------------
_DOCS_CTE = None  # set below to avoid import cycle at module top


def _docs_cte() -> str:
    from mistocksync_spark.plans.feeds import DOCS_AUG_SQL

    return f"WITH docs AS ({DOCS_AUG_SQL})"


_SQL_SHINGLES = r"""
    , tok AS (SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS t FROM docs)
    , sh AS (
        SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
        FROM tok, UNNEST(generate_series(1, greatest(len(t) - 2, 0))) AS u(i)
    )
"""


@query("exact_dedup")
def exact_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mistocksync_spark.operators.dedup import exact_dedup
    from mistocksync_spark.plans.feeds import docs_aug

    return exact_dedup(docs_aug(spark, sf_dir))


@query("exact_dedup_stream")
def exact_dedup_stream_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming parity: exact-dedup as a continuously-running
    digest aggregation (file source, complete mode, Trigger.AvailableNow)
    must equal the batch query — oracle shared with ``exact_dedup``."""
    from mistocksync_spark.streaming.documents import (
        augment_documents,
        exact_dedup_stream,
        read_documents_stream,
    )

    return _run_stream(
        spark,
        exact_dedup_stream(augment_documents(read_documents_stream(spark, sf_dir))),
        "exact_dedup_stream_sink",
        "complete",
    )


@query("minhash_lsh_pairs")
def minhash_lsh_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mistocksync_spark.operators.dedup import lsh_bands, lsh_candidate_pairs, minhash_signatures, shingle_table
    from mistocksync_spark.plans.feeds import docs_aug

    sh = shingle_table(docs_aug(spark, sf_dir))
    # The shingle→minhash→band pipeline feeds BOTH sides of the band
    # self-join (without the checkpoint the plan shows the collect_list
    # ObjectHashAggregate subtree twice, no ReusedExchange) — exactly the
    # persistence decision lsh_candidate_pairs documents as the caller's.
    # Interleaved 4-round A/B: checkpointed 2.01 s vs 2.36 median, the
    # checkpointed arm winning or tying every paired round.
    bands = lsh_bands(minhash_signatures(sh, 8), 2).localCheckpoint(eager=False)
    return lsh_candidate_pairs(bands)


@query("ngram_jaccard_pairs")
def ngram_jaccard_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mistocksync_spark.operators.dedup import ngram_jaccard_pairs, shingle_table
    from mistocksync_spark.plans.feeds import docs_aug

    # The shingle explode feeds the sizes aggregate plus both
    # intersection self-join sides (3 evaluations, no subtree reuse
    # without the checkpoint).  Interleaved 4-round A/B: checkpointed
    # 2.88 s vs 3.25 median, winning all four paired rounds.
    sh = shingle_table(docs_aug(spark, sf_dir)).localCheckpoint(eager=False)
    return ngram_jaccard_pairs(sh, 0.5)


# --------------------------------------------------------------------------
# Text analysis: token counts, quality features, language-ID, fingerprints
# --------------------------------------------------------------------------
@query(
    "token_counts",
    r"""
    SELECT doc_id,
           CASE WHEN trim(text) IS NULL OR trim(text) = '' THEN 0
                ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens,
           len(regexp_extract_all(lower(text), '[a-zа-я]+|[0-9]+|[^\sa-zа-я0-9]', 0)) AS n_subword_tokens
    FROM documents
    """,
)
def token_counts_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mistocksync_spark.operators.textual import bpe_ish_token_count, token_count

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.select(
        "doc_id",
        token_count(F.col("text")).alias("n_tokens"),
        bpe_ish_token_count(F.col("text")).alias("n_subword_tokens"),
    )


_SQL_MIXTURE_PLAN = r"""
    WITH per_src AS (
        SELECT source, COUNT(*) AS docs,
               CAST(SUM(CASE WHEN trim(text) IS NULL OR trim(text) = '' THEN 0
                        ELSE len(regexp_split_to_array(trim(text), '\s+')) END) AS BIGINT) AS tokens
        FROM documents GROUP BY source
    ), totals AS (
        SELECT CAST(SUM(tokens) AS BIGINT) AS total_tokens, COUNT(*) AS n_strata FROM per_src
    )
    SELECT source, docs, tokens,
           tokens / total_tokens AS token_share,
           CASE WHEN tokens > 0
                THEN LEAST(CAST(1.0 AS DOUBLE), (CAST(1000000 AS DOUBLE) / n_strata) / tokens)
                ELSE CAST(1.0 AS DOUBLE) END AS sample_rate,
           tokens * CASE WHEN tokens > 0
                THEN LEAST(CAST(1.0 AS DOUBLE), (CAST(1000000 AS DOUBLE) / n_strata) / tokens)
                ELSE CAST(1.0 AS DOUBLE) END AS expected_tokens
    FROM per_src, totals
"""


@query("mixture_plan", _SQL_MIXTURE_PLAN)
def mixture_plan_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixture planner: per-source inventory + uniform-target sampling
    rates under a 1M-token budget (operators/textual.mixture_plan)."""
    from mistocksync_spark.operators.textual import mixture_plan

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return mixture_plan(docs, token_budget=1_000_000)


def _sql_quality() -> str:
    from mistocksync_spark.operators.textual import LANG_STOPWORDS

    stop_all = sorted({w for ws in LANG_STOPWORDS.values() for w in ws})
    stop_list = ", ".join(f"'{w}'" for w in stop_all)
    ntok = r"len(regexp_split_to_array(trim(text), '\s+'))"
    return rf"""
    SELECT doc_id,
           length(text) AS n_chars,
           {ntok} AS n_tokens,
           CASE WHEN {ntok} > 0 THEN length(regexp_replace(text, '\s+', '', 'g')) / {ntok} ELSE 0.0 END AS mean_token_len,
           CASE WHEN length(text) > 0 THEN length(regexp_replace(text, '[^.,!?;:]', '', 'g')) / length(text) ELSE 0.0 END AS punct_ratio,
           CASE WHEN {ntok} > 0 THEN len(list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x IN ({stop_list}))) / {ntok} ELSE 0.0 END AS stopword_ratio
    FROM documents
    """


@query("doc_quality", _sql_quality())
def doc_quality_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mistocksync_spark.operators.textual import quality_features

    return quality_features(spark.read.parquet(f"{sf_dir}/documents.parquet"))


def _sql_lang_id() -> str:
    from mistocksync_spark.operators.textual import LANG_STOPWORDS

    langs = sorted(LANG_STOPWORDS)
    score_cols = []
    for lang in langs:
        ws = ", ".join(f"'{w}'" for w in LANG_STOPWORDS[lang])
        score_cols.append(
            rf"len(list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x IN ({ws}))) AS score_{lang}"
        )
    best = "greatest(" + ", ".join(f"score_{lang}" for lang in langs) + ")"
    pred = "COALESCE(" + ", ".join(
        f"CASE WHEN score_{lang} = {best} THEN '{lang}' END" for lang in langs
    ) + ")"
    return f"""
    WITH scored AS (SELECT doc_id, {', '.join(score_cols)} FROM documents)
    SELECT doc_id, {', '.join(f'score_{lang}' for lang in langs)},
           CASE WHEN {best} > 0 THEN {pred} ELSE 'unknown' END AS lang_pred
    FROM scored
    """


@query("lang_id", _sql_lang_id())
def lang_id_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mistocksync_spark.operators.textual import language_id

    return language_id(spark.read.parquet(f"{sf_dir}/documents.parquet"))


_SQL_NTOK = r"""CASE WHEN trim(text) IS NULL OR trim(text) = '' THEN 0
                ELSE len(regexp_split_to_array(trim(text), '\s+')) END"""


@query("doc_length_quantiles_approx")
def doc_length_quantiles_approx_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percentile_approx form of doc_length_quantiles (rows-only: sketch
    values are rank-bounded, not exact; tolerance vs exact is asserted in
    tests) — the bounded-memory plan that replaces the exact aggregate at
    100 TB."""
    from mistocksync_spark.operators.textual import length_quantiles_approx

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return length_quantiles_approx(docs)


@query(
    "source_quality_profile",
    f"""
    WITH q AS ({_sql_quality()})
    SELECT d.source, COUNT(*) AS n_docs,
           COUNT(DISTINCT d.lang) AS n_langs,
           CAST(SUM(q.n_tokens) AS BIGINT) AS total_tokens,
           {sql_dec_avg("q.punct_ratio")} AS avg_punct_ratio,
           {sql_dec_avg("q.stopword_ratio")} AS avg_stopword_ratio
    FROM documents d JOIN q ON d.doc_id = q.doc_id
    GROUP BY d.source
    """,
)
def source_quality_profile_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus profile: volume, language diversity, and mean
    quality signals — the triage table that decides which sources get
    filtered harder.  One scan + one map-side-partial groupBy."""
    from mistocksync_spark.operators.textual import quality_features

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    joined = quality_features(docs, carry_cols=("source", "lang"))
    return joined.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.count_distinct("lang").alias("n_langs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        # dec_avg: order-independent decimal-sum means (functions/numeric.py)
        dec_avg("punct_ratio").alias("avg_punct_ratio"),
        dec_avg("stopword_ratio").alias("avg_stopword_ratio"),
    )


@query(
    "event_props_stats",
    """
    SELECT event_type,
           CAST(SUM(CAST(json_extract(props, '$.k') AS INTEGER)) AS BIGINT) AS k_sum,
           CAST(MAX(CAST(json_extract(props, '$.k') AS INTEGER)) AS BIGINT) AS k_max,
           CAST(COUNT(CASE WHEN json_extract(props, '$.k') IS NULL THEN 1 END) AS BIGINT) AS k_missing
    FROM events GROUP BY event_type
    """,
)
def event_props_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction: parse the JSON props payload with a typed
    schema (from_json stays JVM-side / codegen; no UDF) and aggregate —
    the event-property analytics shape for schemaless telemetry."""
    from mistocksync_spark.sources.testdata import load_events
    from pyspark.sql.types import IntegerType, StructField, StructType

    ev = load_events(spark, sf_dir)
    schema = StructType([StructField("k", IntegerType(), True)])
    k = F.from_json(F.col("props"), schema)["k"]
    return (
        ev.withColumn("__k", k)
        .groupBy("event_type")
        .agg(
            F.sum("__k").cast("long").alias("k_sum"),
            F.max("__k").cast("long").alias("k_max"),
            F.count(F.when(F.col("__k").isNull(), 1)).alias("k_missing"),
        )
    )


@query(
    "events_in_incident_windows",
    """
    WITH w AS (
        SELECT event_type AS window_type, MIN(ts) AS w_start,
               MIN(ts) + INTERVAL '1 hour' AS w_end
        FROM events GROUP BY event_type
    )
    SELECT w.window_type,
           strftime(w.w_start, '%Y-%m-%d %H:%M:%S') AS window_start,
           COUNT(*) AS cnt, floor(CAST(SUM(CAST(floor((e.value) * 1000000 + 0.5) AS HUGEINT)) AS DOUBLE) / 100.0 + 0.5) / 10000.0 AS sum_value
    FROM events e JOIN w ON e.ts >= w.w_start AND e.ts < w.w_end
    GROUP BY 1, 2
    """,
)
def events_in_incident_windows_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval (range) join on the graded surface: all events falling in
    any per-type first-hour incident window, WITHOUT an equi key — the
    binned interval_join turns the theta join into an equi-join on time
    bins (a naive join here is a BroadcastNestedLoopJoin)."""
    from mistocksync_spark.operators.temporal import interval_join
    from mistocksync_spark.sources.testdata import load_events

    ev = load_events(spark, sf_dir)
    windows = (
        ev.groupBy(F.col("event_type").alias("window_type"))
        .agg(F.min("ts").alias("w_start"))
        .withColumn("w_end", F.col("w_start") + F.expr("INTERVAL 1 HOUR"))
    )
    joined = interval_join(ev.select("ts", "value"), windows, bin_seconds=3600)
    return joined.groupBy(
        "window_type",
        F.date_format("w_start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
    ).agg(F.count("*").alias("cnt"), dec_sum("value", 4).alias("sum_value"))


@query(
    "event_type_counts_salted",
    """
    SELECT event_type, COUNT(*) AS cnt FROM events GROUP BY event_type
    """,
)
def event_type_counts_salted_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The two-phase salted skew aggregation on the graded surface: result
    must equal a plain groupBy count (the oracle), while the first shuffle
    spreads each hot key over 16 salt buckets."""
    from mistocksync_spark.operators.aggregates import salted_group_count
    from mistocksync_spark.sources.testdata import load_events

    return salted_group_count(load_events(spark, sf_dir), "event_type", salt_buckets=16)


@query(
    "doc_packing_summary",
    f"""
    WITH d AS (SELECT doc_id, lang, {_SQL_NTOK} AS n_tokens FROM documents),
    c AS (
        SELECT doc_id, lang AS stratum, n_tokens,
               CAST(COALESCE(SUM(n_tokens) OVER (
                   PARTITION BY lang ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS before
        FROM d
    ),
    p AS (SELECT stratum, CAST(FLOOR(before / 512) AS BIGINT) AS pack_id, n_tokens FROM c)
    SELECT stratum, COUNT(DISTINCT pack_id) AS n_packs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           round(CAST(SUM(n_tokens) AS DOUBLE) / (COUNT(DISTINCT pack_id) * 512), 4) AS fill_ratio
    FROM p GROUP BY stratum
    """,
)
def doc_packing_summary_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pack-level report: sequences produced and fill ratio per stratum."""
    from mistocksync_spark.operators.textual import pack_documents, token_count

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "lang", token_count(F.col("text")).alias("n_tokens")
    )
    packed = pack_documents(docs, seq_len=512)
    return packed.groupBy("stratum").agg(
        F.count_distinct("pack_id").alias("n_packs"),
        F.sum("n_tokens").alias("total_tokens"),
        # safe rounding: integer token sums are exact/order-independent, so
        # the quotient double is bit-identical on every machine
        F.round(F.sum("n_tokens") / (F.count_distinct("pack_id") * 512), 4).alias("fill_ratio"),
    )


@query(
    "top_event_types_per_user",
    """
    SELECT user_id, event_type, cnt FROM (
        SELECT user_id, event_type, COUNT(*) AS cnt,
               row_number() OVER (PARTITION BY user_id ORDER BY COUNT(*) DESC, event_type ASC) AS rn
        FROM events GROUP BY user_id, event_type
    ) WHERE rn <= 3
    """,
)
def top_event_types_per_user_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-k: each user's 3 most frequent event types.  The
    explicit repartition on user_id alone satisfies BOTH the aggregation's
    clustered distribution (user_id ⊂ the group keys) and the window's
    partitioning, so the whole query runs on ONE shuffle — groupBy first
    would shuffle on (user, type) and the window would re-shuffle on user."""
    from mistocksync_spark.sources.testdata import load_events
    from pyspark.sql import Window

    ev = load_events(spark, sf_dir).repartition(F.col("user_id"))
    counts = ev.groupBy("user_id", "event_type").agg(F.count("*").alias("cnt"))
    w = Window.partitionBy("user_id").orderBy(F.col("cnt").desc(), F.col("event_type").asc())
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("user_id", "event_type", "cnt")
    )


@query(
    "doc_repetition",
    r"""
    WITH tok AS (
        SELECT doc_id, trim(text) AS tt,
               regexp_split_to_array(trim(lower(text)), '\s+') AS t
        FROM documents
    ),
    d AS (
        SELECT doc_id,
               CASE WHEN tt IS NULL OR tt = '' THEN 0 ELSE len(t) END AS n_tokens,
               CASE WHEN tt IS NULL OR tt = '' THEN 0.0
                    ELSE round(1.0 - len(list_distinct(t)) / len(t), 6) END AS dup_token_frac
        FROM tok
    ),
    bg AS (
        SELECT doc_id, t[i] || ' ' || t[i+1] AS g
        FROM tok, UNNEST(generate_series(1, len(t) - 1)) AS u(i)
        WHERE len(t) >= 2 AND NOT (tt IS NULL OR tt = '')
    ),
    c AS (SELECT doc_id, g, COUNT(*) AS cnt FROM bg WHERE g <> '' GROUP BY 1, 2),
    r AS (SELECT doc_id, round(CAST(MAX(cnt) AS DOUBLE) / SUM(cnt), 6) AS top_bigram_frac FROM c GROUP BY doc_id)
    SELECT d.doc_id, d.n_tokens, d.dup_token_frac, COALESCE(r.top_bigram_frac, 0.0) AS top_bigram_frac
    FROM d LEFT JOIN r ON d.doc_id = r.doc_id
    """,
)
def doc_repetition_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals (dup-token and top-bigram shares)."""
    from mistocksync_spark.operators.textual import repetition_features

    return repetition_features(spark.read.parquet(f"{sf_dir}/documents.parquet"))


def _sql_corpus_filter() -> str:
    reason = """
        CASE WHEN lang NOT IN ('de', 'en', 'es', 'fr', 'ru') THEN 'lang'
             WHEN n_tokens < 5 THEN 'too_short'
             WHEN mean_token_len > 12.0 THEN 'token_shape'
             WHEN punct_ratio > 0.2 THEN 'punctuation'
             ELSE 'ok' END
    """
    return f"""
    WITH q AS ({_sql_quality()}),
    j AS (SELECT d.doc_id, d.lang, q.n_tokens, q.mean_token_len, q.punct_ratio
          FROM documents d JOIN q ON d.doc_id = q.doc_id)
    SELECT doc_id, lang, n_tokens, {reason} AS reason, ({reason}) = 'ok' AS keep
    FROM j
    """


@query("corpus_filter", _sql_corpus_filter())
def corpus_filter_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style keep/drop decision with first-failing-rule audit reason."""
    from mistocksync_spark.operators.textual import corpus_filter

    return corpus_filter(spark.read.parquet(f"{sf_dir}/documents.parquet"))


@query(
    "corpus_filter_summary",
    f"""
    SELECT reason, COUNT(*) AS cnt, CAST(SUM(n_tokens) AS BIGINT) AS tokens
    FROM ({_sql_corpus_filter()}) GROUP BY reason
    """,
)
def corpus_filter_summary_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cleaning-run report: docs and tokens kept/dropped per reason —
    one map-side-partial groupBy over the filter decisions."""
    from mistocksync_spark.operators.textual import corpus_filter

    decisions = corpus_filter(spark.read.parquet(f"{sf_dir}/documents.parquet"))
    return decisions.groupBy("reason").agg(
        F.count("*").alias("cnt"), F.sum("n_tokens").alias("tokens")
    )


@query(
    "vocab_topk",
    r"""
    SELECT token, COUNT(*) AS cnt FROM (
        SELECT unnest(regexp_split_to_array(lower(text), '\s+')) AS token FROM documents
    ) WHERE token <> '' GROUP BY token ORDER BY cnt DESC, token ASC LIMIT 100
    """,
)
def vocab_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global token-frequency top-100 (vocabulary profile)."""
    from mistocksync_spark.operators.textual import vocab_topk

    return vocab_topk(spark.read.parquet(f"{sf_dir}/documents.parquet"), k=100)


@query(
    "tfidf_top_terms",
    r"""
    WITH w AS (
        SELECT lang AS stratum, doc_id,
               unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
        FROM documents
    ),
    stats AS (
        SELECT stratum, term, COUNT(*) AS tf, COUNT(DISTINCT doc_id) AS df
        FROM w WHERE term <> '' GROUP BY stratum, term
    ),
    totals AS (SELECT lang AS stratum, COUNT(*) AS n_docs FROM documents GROUP BY lang),
    scored AS (
        SELECT s.stratum, s.term, s.tf, s.df,
               round(s.tf * ln(CAST(t.n_docs AS DOUBLE) / s.df), 6) AS tfidf
        FROM stats s JOIN totals t USING (stratum)
    )
    SELECT stratum, term, tf, df, tfidf, rk FROM (
        SELECT *, row_number() OVER (
            PARTITION BY stratum ORDER BY tfidf DESC, term ASC
        ) AS rk FROM scored
    ) WHERE rk <= 10
    """,
)
def tfidf_top_terms_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language top-10 terms by within-stratum TF-IDF — the corpus-slice
    profile (one groupBy on (stratum, term) + broadcast totals + top-k
    window; see operators/textual.py:tfidf_top_terms)."""
    from mistocksync_spark.operators.textual import tfidf_top_terms

    return tfidf_top_terms(spark.read.parquet(f"{sf_dir}/documents.parquet"), k=10)


@query(
    "doc_packing",
    f"""
    WITH d AS (SELECT doc_id, lang, {_SQL_NTOK} AS n_tokens FROM documents),
    c AS (
        SELECT doc_id, lang AS stratum, n_tokens,
               CAST(COALESCE(SUM(n_tokens) OVER (
                   PARTITION BY lang ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS before
        FROM d
    )
    SELECT doc_id, stratum, n_tokens,
           CAST(FLOOR(before / 512) AS BIGINT) AS pack_id,
           before % 512 AS pack_offset
    FROM c
    """,
)
def doc_packing_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-then-chunk sequence packing into 512-token windows per lang."""
    from mistocksync_spark.operators.textual import pack_documents, token_count

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "lang", token_count(F.col("text")).alias("n_tokens")
    )
    return pack_documents(docs, seq_len=512)


@query(
    "doc_fingerprint",
    """
    SELECT doc_id, md5(text) AS full_hash,
           list_aggregate(list_transform(generate_series(1, greatest(length(lower(text)) - 7, 1)), i -> md5(lower(text)[i:i+7])), 'min') AS min_gram_hash,
           list_aggregate(list_transform(generate_series(1, greatest(length(lower(text)) - 7, 1)), i -> md5(lower(text)[i:i+7])), 'max') AS max_gram_hash
    FROM documents
    """,
)
def doc_fingerprint_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mistocksync_spark.operators.textual import fingerprint

    return fingerprint(spark.read.parquet(f"{sf_dir}/documents.parquet"))


# --------------------------------------------------------------------------
# Similarity search over embeddings: brute-force cosine baseline + LSH
# --------------------------------------------------------------------------
_SQL_DOT = (
    "list_reduce(list_transform(generate_series(1, 64), "
    "i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)), (acc, x) -> acc + x)"
)
_SQL_NORM = (
    "sqrt(list_reduce(list_transform({a}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (acc, x) -> acc + x))"
)

_SQL_TOPK = f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
    SELECT vec_id, cos_sim FROM (
        SELECT e.vec_id,
               CASE WHEN {_SQL_NORM.format(a='e.embedding')} * {_SQL_NORM.format(a='q.qv')} > 0
                    THEN {_SQL_DOT.format(a='e.embedding', b='q.qv')}
                         / ({_SQL_NORM.format(a='e.embedding')} * {_SQL_NORM.format(a='q.qv')})
                    ELSE 0.0 END AS cos_sim
        FROM embeddings e, q
    ) ORDER BY cos_sim DESC, vec_id ASC LIMIT 20
"""


def _query_vec(spark: SparkSession, sf_dir: str) -> list[float]:
    row = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .filter(F.col("vec_id") == 0)
        .select("embedding")
        .collect()[0]
    )
    return [float(x) for x in row[0]]


@query("embedding_topk", _SQL_TOPK)
def embedding_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mistocksync_spark.operators.vectors import brute_force_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return brute_force_topk(emb, _query_vec(spark, sf_dir), k=20)


_SQL_KNN_JOIN = f"""
    WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 8),
    scored AS (
        SELECT q.qid AS query_id, e.vec_id,
               CASE WHEN {_SQL_NORM.format(a='e.embedding')} * {_SQL_NORM.format(a='q.qv')} > 0
                    THEN {_SQL_DOT.format(a='e.embedding', b='q.qv')}
                         / ({_SQL_NORM.format(a='e.embedding')} * {_SQL_NORM.format(a='q.qv')})
                    ELSE 0.0 END AS cos_sim
        FROM embeddings e, q WHERE e.vec_id <> q.qid
    )
    SELECT query_id, vec_id, cos_sim, rnk FROM (
        SELECT query_id, vec_id, cos_sim,
               row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id ASC) AS rnk
        FROM scored
    ) WHERE rnk <= 10
"""


@query("embedding_knn_join", _SQL_KNN_JOIN)
def embedding_knn_join_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched exact k-NN join: top-10 cosine neighbors for each of the
    first 8 embeddings against the whole corpus (self-pairs excluded) —
    two-phase partial top-k, the only shuffle carries k-bounded partials
    (operators/vectors.knn_join)."""
    from mistocksync_spark.operators.vectors import knn_join

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries_df = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return knn_join(emb, queries_df, k=10)


def _sql_topk_lsh(nbits: int = 8, dim: int = 64) -> str:
    """Oracle for the SimHash-bucketed ANN: the hyperplanes are
    deterministic constants, so the bucket ids are SQL-expressible, and
    multi-probe membership (query bucket + all 1-bit flips) is simply
    ``bit_count(xor(bucket, qbucket)) <= 1``."""
    from mistocksync_spark.operators.vectors import _hyperplane

    def dotlit(x: str, b: int) -> str:
        arr = "[" + ", ".join(repr(v) for v in _hyperplane(dim, b)) + "]"
        return (
            f"list_reduce(list_transform(generate_series(1, {dim}), "
            f"i -> CAST({x}[i] AS DOUBLE) * ({arr})[i]), (acc, x) -> acc + x)"
        )

    def bucket(x: str) -> str:
        terms = " + ".join(
            f"(CASE WHEN {dotlit(x, b)} >= 0 THEN {1 << b} ELSE 0 END)" for b in range(nbits)
        )
        return f"({terms})"

    return f"""
    WITH q AS (
        SELECT embedding AS qv, {bucket('embedding')} AS qb
        FROM embeddings WHERE vec_id = 0
    )
    SELECT vec_id, cos_sim FROM (
        SELECT e.vec_id,
               CASE WHEN {_SQL_NORM.format(a='e.embedding')} * {_SQL_NORM.format(a='q.qv')} > 0
                    THEN {_SQL_DOT.format(a='e.embedding', b='q.qv')}
                         / ({_SQL_NORM.format(a='e.embedding')} * {_SQL_NORM.format(a='q.qv')})
                    ELSE 0.0 END AS cos_sim,
               {bucket('e.embedding')} AS eb, q.qb AS qb
        FROM embeddings e, q
    ) WHERE bit_count(xor(eb, qb)) <= 1
    ORDER BY cos_sim DESC, vec_id ASC LIMIT 20
    """


@query("embedding_topk_lsh")
def embedding_topk_lsh_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash-bucketed ANN — full hash check: the deterministic hyperplane
    family makes bucket assignment and multi-probe membership oracle-
    expressible."""
    from mistocksync_spark.operators.vectors import lsh_bucket_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return lsh_bucket_topk(emb, _query_vec(spark, sf_dir), k=20)


ORACLES["embedding_topk_lsh"] = _sql_topk_lsh()


ORACLES["exact_dedup"] = (
    _docs_cte()
    + " SELECT md5(text) AS text_hash, MIN(doc_id) AS keep_id, COUNT(*) AS occurrences FROM docs GROUP BY md5(text)"
)

# complete-mode digest aggregation == the batch query, so the streaming twin
# is held to the SAME full hash oracle (not a rows-only check)
ORACLES["exact_dedup_stream"] = ORACLES["exact_dedup"]

ORACLES["minhash_lsh_pairs"] = (
    _docs_cte()
    + _SQL_SHINGLES
    + """
    , mh AS (
        SELECT doc_id, seed, MIN(md5(CAST(seed AS STRING) || '|' || shingle)) AS minhash
        FROM sh, UNNEST(generate_series(0, 7)) AS s(seed)
        GROUP BY doc_id, seed
    )
    , bands AS (
        SELECT doc_id, seed // 2 AS band, md5(string_agg(minhash, '|' ORDER BY seed)) AS band_key
        FROM mh GROUP BY doc_id, seed // 2
    )
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
    """
)

# MATERIALIZED hints: sh/mh/cand/shc
# are each referenced 2-4 times below and DuckDB inlines CTEs by default,
# re-hashing the 2.6M-shingle x 8-seed minhash table per reference — the
# residual 300 s interrupt after the candidate-bounded rewrite.  Forcing
# one evaluation each runs the sf1 oracle in ~15 s.  Values unchanged
# (hash-verified at sf0.01).
def _hinted(sql: str, old: str, new: str) -> str:
    """``str.replace`` that FAILS LOUDLY when the target text is absent —
    a silent no-op here would quietly reintroduce the ~300 s sf1 CTE
    re-evaluation the MATERIALIZED hint exists to prevent."""
    out = sql.replace(old, new)
    if out == sql:
        raise AssertionError(f"materialization hint target {old!r} not found")
    return out


ORACLES["minhash_estimate_quality"] = (
    _docs_cte()
    + _hinted(_SQL_SHINGLES, ", sh AS (", ", sh AS MATERIALIZED (")
    + """
    , mh AS MATERIALIZED (
        SELECT doc_id, seed, MIN(md5(CAST(seed AS STRING) || '|' || shingle)) AS minhash
        FROM sh, UNNEST(generate_series(0, 7)) AS s(seed)
        GROUP BY doc_id, seed
    )
    , bands AS (
        SELECT doc_id, seed // 2 AS band, md5(string_agg(minhash, '|' ORDER BY seed)) AS band_key
        FROM mh GROUP BY doc_id, seed // 2
    )
    , cand AS MATERIALIZED (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
    )
    , est AS (
        SELECT c.doc_a, c.doc_b,
               round(AVG(CASE WHEN ma.minhash = mb.minhash THEN 1.0 ELSE 0.0 END), 6) AS est_jaccard
        FROM cand c
        JOIN mh ma ON ma.doc_id = c.doc_a
        JOIN mh mb ON mb.doc_id = c.doc_b AND mb.seed = ma.seed
        GROUP BY c.doc_a, c.doc_b
    )
    , sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id)
    -- candidate-bounded exact intersection (round-11 sf1-oracle rewrite,
    -- mirroring the Spark verify): the previous full shingle self-join
    -- computed intersections for EVERY co-bucketed doc pair and
    -- interrupted at sf1; only candidate pairs' intersections are ever
    -- read, so restrict the join to them — identical output.
    , cdocs AS (SELECT doc_a AS doc_id FROM cand UNION SELECT doc_b FROM cand)
    , shc AS MATERIALIZED (SELECT * FROM sh WHERE doc_id IN (SELECT doc_id FROM cdocs))
    , inter AS (
        SELECT c.doc_a, c.doc_b, COUNT(*) AS i
        FROM cand c
        JOIN shc a ON a.doc_id = c.doc_a
        JOIN shc b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
        GROUP BY c.doc_a, c.doc_b
    )
    SELECT e.doc_a, e.doc_b, e.est_jaccard,
           COALESCE(round(CAST(x.i AS DOUBLE) / (na.n + nb.n - x.i), 6), 0.0) AS jaccard
    FROM est e
    LEFT JOIN inter x ON x.doc_a = e.doc_a AND x.doc_b = e.doc_b
    LEFT JOIN sizes na ON na.doc_id = e.doc_a
    LEFT JOIN sizes nb ON nb.doc_id = e.doc_b
    """
)

@query("minhash_estimate_quality")
def minhash_estimate_quality_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch accuracy on the graded surface: MinHash-estimated vs exact
    shingle Jaccard for every LSH candidate pair — the number that sizes
    num_hashes for a production dedup."""
    from mistocksync_spark.operators.dedup import (
        exact_jaccard_for_pairs,
        lsh_bands,
        lsh_candidate_pairs,
        minhash_estimate,
        minhash_signatures,
        shingle_table,
    )
    from mistocksync_spark.plans.feeds import docs_aug

    sh = shingle_table(docs_aug(spark, sf_dir))
    sigs = minhash_signatures(sh, 8)
    pairs = lsh_candidate_pairs(lsh_bands(sigs, 2))
    est = minhash_estimate(sigs, pairs)
    exact = exact_jaccard_for_pairs(sh, pairs)
    return est.join(exact, on=["doc_a", "doc_b"], how="left").na.fill({"jaccard": 0.0})


ORACLES["ngram_jaccard_pairs"] = (
    _docs_cte()
    + _SQL_SHINGLES
    + """
    , sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id)
    , inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b, round(CAST(i AS DOUBLE) / (na.n + nb.n - i), 6) AS jaccard
    FROM inter
    JOIN sizes na ON na.doc_id = doc_a
    JOIN sizes nb ON nb.doc_id = doc_b
    WHERE CAST(i AS DOUBLE) / (na.n + nb.n - i) >= 0.5
    """
)


# --------------------------------------------------------------------------
# Incremental corpus dedup MERGE (the production ingest tick: dedup an
# arriving batch against the EXISTING corpus, append survivors) — composes
# the graded minhash/band/jaccard pieces; plans/feeds.py plants every
# rejection path (near-dup-of-corpus, exact-copy, fresh, intra-batch dup).
# --------------------------------------------------------------------------
def _incr_docs_cte() -> str:
    from mistocksync_spark.plans.feeds import (
        DOCS_INCR_BATCH_SQL,
        DOCS_INCR_CORPUS_SQL,
    )

    return (
        "WITH docs AS ("
        f"SELECT doc_id, text, 0 AS is_batch FROM ({DOCS_INCR_CORPUS_SQL}) "
        "UNION ALL "
        f"SELECT doc_id, text, 1 AS is_batch FROM ({DOCS_INCR_BATCH_SQL}))"
    )


# Rejection rule mirrored in SQL: band collision (8 hashes, 2 rows/band)
# AND exact shingle Jaccard >= 0.5 against any corpus doc or any
# smaller-id batch doc (seen-set includes rejected arrivals — the
# prefix-decomposable rule the operator docstring derives).
_SQL_INCR_TAIL = """
    , mh AS (
        SELECT doc_id, seed, MIN(md5(CAST(seed AS STRING) || '|' || shingle)) AS minhash
        FROM sh, UNNEST(generate_series(0, 7)) AS s(seed)
        GROUP BY doc_id, seed
    )
    , bands AS (
        SELECT doc_id, seed // 2 AS band, md5(string_agg(minhash, '|' ORDER BY seed)) AS band_key
        FROM mh GROUP BY doc_id, seed // 2
    )
    , br AS (
        SELECT b.doc_id, b.band, b.band_key, d.is_batch
        FROM bands b JOIN (SELECT doc_id, is_batch FROM docs) d ON d.doc_id = b.doc_id
    )
    , cand AS (
        SELECT DISTINCT e.doc_id AS earlier_id, l.doc_id AS later_id
        FROM br e JOIN br l ON e.band = l.band AND e.band_key = l.band_key
        WHERE l.is_batch = 1 AND (e.is_batch = 0 OR e.doc_id < l.doc_id)
    )
    , sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id)
    , inter AS (
        SELECT c.earlier_id, c.later_id, COUNT(*) AS cnt
        FROM cand c
        JOIN sh a ON a.doc_id = c.earlier_id
        JOIN sh b ON b.doc_id = c.later_id AND b.shingle = a.shingle
        GROUP BY c.earlier_id, c.later_id
    )
    , rejected AS (
        SELECT DISTINCT x.later_id
        FROM inter x
        JOIN sizes na ON na.doc_id = x.earlier_id
        JOIN sizes nb ON nb.doc_id = x.later_id
        WHERE round(CAST(x.cnt AS DOUBLE) / (na.n + nb.n - x.cnt), 6) >= 0.5
    )
"""


@query("incremental_dedup_merge")
def incremental_dedup_merge_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One ingest tick: merge the arriving document batch into the existing
    corpus, rejecting verified near-duplicates of anything already seen
    (operators/dedup.py:incremental_dedup_merge)."""
    from mistocksync_spark.operators.dedup import incremental_dedup_merge
    from mistocksync_spark.plans.feeds import docs_incr_batch, docs_incr_corpus

    return incremental_dedup_merge(
        docs_incr_corpus(spark, sf_dir), docs_incr_batch(spark, sf_dir)
    )


ORACLES["incremental_dedup_merge"] = (
    _incr_docs_cte()
    + _SQL_SHINGLES
    + _SQL_INCR_TAIL
    + """
    SELECT doc_id, 'corpus' AS origin FROM docs WHERE is_batch = 0
    UNION ALL
    SELECT d.doc_id, 'batch' AS origin FROM docs d
    WHERE d.is_batch = 1 AND d.doc_id NOT IN (SELECT later_id FROM rejected)
    """
)


@query("incremental_dedup_merge_stateful")
def incremental_dedup_merge_stateful_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same ingest tick through the STORED-STATE path: candidates come
    from a precomputed corpus_signature_state band table (what a 100 TB
    corpus persists between ticks) and only candidate corpus docs are
    re-shingled for verification.  Band keys are deterministic per doc,
    so this must hash-match the self-contained query — oracle shared with
    ``incremental_dedup_merge``."""
    from mistocksync_spark.operators.dedup import (
        corpus_signature_state,
        incremental_dedup_merge,
    )
    from mistocksync_spark.plans.feeds import docs_incr_batch, docs_incr_corpus

    corpus = docs_incr_corpus(spark, sf_dir)
    state = corpus_signature_state(corpus).localCheckpoint(eager=False)
    return incremental_dedup_merge(
        corpus, docs_incr_batch(spark, sf_dir), corpus_bands=state
    )


ORACLES["incremental_dedup_merge_stateful"] = ORACLES["incremental_dedup_merge"]


@query("incremental_dedup_merge_pruned")
def incremental_dedup_merge_pruned_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ingest tick against the PARTITIONED persisted state under a
    PRUNED read (sinks/layout.py): the corpus signature state is
    written partitioned by pmod(xxhash64(band, band_key)) buckets, the
    tick computes its batch's touched-bucket set (bounded driver fetch,
    the same expression that placed the rows) and reads ONLY those
    partitions.  Pruning is lossless for the candidate equi-join —
    untouched buckets cannot match any batch band key — so this must
    hash-match the self-contained tick; oracle shared with
    ``incremental_dedup_merge``.  This grades the layout the 20-tick
    ladders (SCALE_r12.md §1) run at scale."""
    import hashlib

    from mistocksync_spark.operators.dedup import (
        corpus_signature_state,
        incremental_dedup_merge,
    )
    from mistocksync_spark.plans.feeds import docs_incr_batch, docs_incr_corpus
    from mistocksync_spark.sinks.layout import (
        keyed_state_append,
        keyed_state_read,
        touched_buckets,
    )

    key = ["band", "band_key"]
    corpus = docs_incr_corpus(spark, sf_dir)
    batch = docs_incr_batch(spark, sf_dir)
    root = (
        "/tmp/spark_graft_band_state/"
        + hashlib.md5(f"incremental_dedup_merge_pruned:{sf_dir}".encode()).hexdigest()[:10]
    )
    import shutil

    shutil.rmtree(root, ignore_errors=True)  # append sink: start clean
    keyed_state_append(corpus_signature_state(corpus), root, key, n_buckets=64)
    bbands = corpus_signature_state(batch).localCheckpoint(eager=False)
    state = keyed_state_read(spark, root, touched_buckets(bbands, key, 64))
    return incremental_dedup_merge(corpus, batch, corpus_bands=state)


ORACLES["incremental_dedup_merge_pruned"] = ORACLES["incremental_dedup_merge"]


@query("incremental_dedup_summary")
def incremental_dedup_summary_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tick accounting: corpus/batch/accepted/rejected counts — the
    rejected-rate is the alerting number of a production ingest (a spike
    means a feed re-sent history)."""
    from mistocksync_spark.operators.dedup import (
        incremental_dedup_merge,
        incremental_dedup_summary,
    )
    from mistocksync_spark.plans.feeds import docs_incr_batch, docs_incr_corpus

    batch = docs_incr_batch(spark, sf_dir)
    merged = incremental_dedup_merge(docs_incr_corpus(spark, sf_dir), batch)
    return incremental_dedup_summary(merged, batch)


ORACLES["incremental_dedup_summary"] = (
    _incr_docs_cte()
    + _SQL_SHINGLES
    + _SQL_INCR_TAIL
    + """
    SELECT
      (SELECT COUNT(*) FROM docs WHERE is_batch = 0) AS n_corpus,
      (SELECT COUNT(*) FROM docs WHERE is_batch = 1) AS n_batch,
      (SELECT COUNT(*) FROM docs WHERE is_batch = 1
         AND doc_id NOT IN (SELECT later_id FROM rejected)) AS n_accepted,
      (SELECT COUNT(*) FROM rejected) AS n_rejected
    """
)


@query("incremental_dedup_stream")
def incremental_dedup_stream_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming parity for the ingest tick: the batch arrives as two
    id-ordered parquet files consumed one per micro-batch (foreachBatch
    MERGE into a versioned state table, the ``price_merge`` pattern); the
    final accepted corpus must equal the one-shot batch query — oracle
    shared with ``incremental_dedup_merge``.  The arrival split (corpus-dup
    arrivals below id 4.5M, fresh + intra-batch-dup arrivals above) is
    id-ordered, so the operator's prefix-decomposable rule guarantees
    bit-identical output to the one-shot run.

    Setup amortization (the ``_run_prepare_stream`` pattern): the
    stream's initial state (docs + bands, both
    ``batch=-1``) is a pure function of the corpus, so it is produced
    ONCE per corpus version in a content-tagged scratch root and COPIED
    pristine per run (the stream mutates state, so runs can't share one
    live copy).  Decisions are unchanged — the copied state is
    bit-identical to what the per-call setup built."""
    import os
    import shutil
    import tempfile

    from mistocksync_spark.plans.feeds import docs_incr_batch, docs_incr_corpus
    from mistocksync_spark.streaming.merge import (
        incremental_corpus_dedup,
        prime_corpus_dedup_state,
        stage_arrivals,
    )

    work = tempfile.mkdtemp(prefix="incr_dedup_stream_")
    tag = _parquet_content_tag(f"{sf_dir}/documents.parquet")
    root = _produce_once_root(
        "/tmp/spark_graft_dedup_stream_state",
        "incremental_dedup_stream_state",
        sf_dir,
        tag,
        lambda r: prime_corpus_dedup_state(docs_incr_corpus(spark, sf_dir), r),
    )
    state_dir = os.path.join(work, "state")
    shutil.copytree(root, state_dir)
    os.remove(os.path.join(state_dir, "_STATE_READY"))
    doc_id = F.col("doc_id")
    arrivals = stage_arrivals(
        docs_incr_batch(spark, sf_dir),
        [
            (doc_id >= lo) & (doc_id < hi)
            for lo, hi in [(0, 4_500_000), (4_500_000, 10_000_000)]
        ],
        os.path.join(work, "arrivals"),
    )
    return incremental_corpus_dedup(
        spark,
        None,  # state primed above (produce-once root, pristine copy)
        arrivals,
        state_dir,
        os.path.join(work, "ckpt"),
    )


ORACLES["incremental_dedup_stream"] = ORACLES["incremental_dedup_merge"]


# --------------------------------------------------------------------------
# Streaming-shaped batch aggregation over events (tumbling window)
# --------------------------------------------------------------------------
@query(
    "events_hourly",
    """
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
           event_type, COUNT(*) AS cnt, floor(CAST(SUM(CAST(floor((value) * 1000000 + 0.5) AS HUGEINT)) AS DOUBLE) / 100.0 + 0.5) / 10000.0 AS sum_value
    FROM events GROUP BY 1, 2
    """,
)
def events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mistocksync_spark.sources.testdata import load_events

    ev = load_events(spark, sf_dir)
    return (
        ev.groupBy(
            F.date_format(F.date_trunc("hour", F.col("ts")), "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "event_type",
        )
        .agg(F.count("*").alias("cnt"), dec_sum("value", 4).alias("sum_value"))
    )



@query(
    "events_funnel",
    """
    WITH p1 AS (
        SELECT user_id, MIN(CASE WHEN event_type = 'view' THEN ts END) AS t1
        FROM events GROUP BY user_id
    ), p2 AS (
        SELECT e.user_id, p.t1,
               MIN(CASE WHEN e.event_type = 'click' AND e.ts > p.t1 THEN e.ts END) AS t2
        FROM events e JOIN p1 p USING (user_id) GROUP BY e.user_id, p.t1
    ), p3 AS (
        SELECT e.user_id, p.t1, p.t2,
               MIN(CASE WHEN e.event_type = 'purchase' AND e.ts > p.t2 THEN e.ts END) AS t3
        FROM events e JOIN p2 p USING (user_id) GROUP BY e.user_id, p.t1, p.t2
    ), counts AS (
        SELECT COUNT(t1) AS n1, COUNT(t2) AS n2, COUNT(t3) AS n3 FROM p3
    )
    SELECT 1 AS step_index, 'view' AS step, n1 AS n_users,
           CASE WHEN n1 > 0 THEN n1 / n1 ELSE 0.0 END AS conversion FROM counts
    UNION ALL
    SELECT 2, 'click', n2, CASE WHEN n1 > 0 THEN n2 / n1 ELSE 0.0 END FROM counts
    UNION ALL
    SELECT 3, 'purchase', n3, CASE WHEN n1 > 0 THEN n3 / n1 ELSE 0.0 END FROM counts
    """,
)
def events_funnel_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strict-order view→click→purchase funnel per user: reach and
    conversion-from-first per step (operators/temporal.funnel — chained
    window minimums over ONE hash exchange, no self-joins)."""
    from mistocksync_spark.operators.temporal import funnel
    from mistocksync_spark.sources.testdata import load_events

    return funnel(load_events(spark, sf_dir), ["view", "click", "purchase"])


@query(
    "events_funnel_1h",
    """
    WITH p1 AS (
        SELECT user_id, MIN(CASE WHEN event_type = 'view' THEN ts END) AS t1
        FROM events GROUP BY user_id
    ), p2 AS (
        SELECT e.user_id, p.t1,
               MIN(CASE WHEN e.event_type = 'click' AND e.ts > p.t1
                        AND epoch_us(e.ts) - epoch_us(p.t1) <= 3600000000
                        THEN e.ts END) AS t2
        FROM events e JOIN p1 p USING (user_id) GROUP BY e.user_id, p.t1
    ), p3 AS (
        SELECT e.user_id, p.t1, p.t2,
               MIN(CASE WHEN e.event_type = 'purchase' AND e.ts > p.t2
                        AND epoch_us(e.ts) - epoch_us(p.t2) <= 3600000000
                        THEN e.ts END) AS t3
        FROM events e JOIN p2 p USING (user_id) GROUP BY e.user_id, p.t1, p.t2
    ), counts AS (
        SELECT COUNT(t1) AS n1, COUNT(t2) AS n2, COUNT(t3) AS n3 FROM p3
    )
    SELECT 1 AS step_index, 'view' AS step, n1 AS n_users,
           CASE WHEN n1 > 0 THEN n1 / n1 ELSE 0.0 END AS conversion FROM counts
    UNION ALL
    SELECT 2, 'click', n2, CASE WHEN n1 > 0 THEN n2 / n1 ELSE 0.0 END FROM counts
    UNION ALL
    SELECT 3, 'purchase', n3, CASE WHEN n1 > 0 THEN n3 / n1 ELSE 0.0 END FROM counts
    """,
)
def events_funnel_1h_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-bounded funnel: each hop must land within 1 hour of the
    previous step (µs integer gap arithmetic, engine-identical) — the
    discriminating conversion metric; the unbounded variant saturates on
    long-lived users."""
    from mistocksync_spark.operators.temporal import funnel
    from mistocksync_spark.sources.testdata import load_events

    return funnel(
        load_events(spark, sf_dir), ["view", "click", "purchase"], max_gap_seconds=3600
    )


@query(
    "events_ohlc",
    """
    WITH ranked AS (
        SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS bucket,
               event_type AS key, value,
               row_number() OVER (PARTITION BY date_trunc('hour', ts), event_type
                                  ORDER BY ts ASC, value ASC) AS rn_first,
               row_number() OVER (PARTITION BY date_trunc('hour', ts), event_type
                                  ORDER BY ts DESC, value DESC) AS rn_last
        FROM events
    )
    SELECT bucket, key,
           round(MAX(CASE WHEN rn_first = 1 THEN value END), 4) AS open,
           round(MAX(CASE WHEN rn_last = 1 THEN value END), 4) AS close,
           round(MIN(value), 4) AS low,
           round(MAX(value), 4) AS high,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS mean_value,
           COUNT(*) AS n_events
    FROM ranked GROUP BY 1, 2
    """,
)
def events_ohlc_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly OHLC candle / hypertable continuous-aggregate rollup per
    event_type — first/last by event time with (ts, value) tie-breaking
    (operators/temporal.ohlc_rollup; one partial-aggregated shuffle)."""
    from mistocksync_spark.operators.temporal import ohlc_rollup
    from mistocksync_spark.sources.testdata import load_events

    return ohlc_rollup(load_events(spark, sf_dir))


# memory-sink names must be unique per invocation: restarting a terminated
# stream under an existing name can collide within one session (e.g. a
# driver scoring pass that runs queries() twice)
_STREAM_SINK_SEQ = [0]


def _stream_sink_name(base: str) -> str:
    _STREAM_SINK_SEQ[0] += 1
    return f"{base}_{_STREAM_SINK_SEQ[0]}"


def _run_stream(spark: SparkSession, stream_df, base: str, mode: str) -> DataFrame:
    """Start a one-shot (Trigger.AvailableNow) stream into a memory sink,
    wait for it, and return the sink table.

    Streaming state partitioning is scoped DOWN to 8 for the run: every
    stateful operator instantiates one state store per shuffle
    partition, and for these bounded single-session streams the
    per-instance setup dominates wall time (the stream-stream join
    measured 8.5 s at 32 partitions vs 2.8 s at 8 on 1 M events; a
    vanilla 200-partition session is worse).  The session value is
    restored afterward — batch plans keep their own parallelism.

    The wait has no fixed bound: an availableNow query stops by itself
    once it has drained its input, and a failed batch raises from
    ``awaitTermination``.
    """
    qname = _stream_sink_name(base)
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        (
            stream_df.writeStream.outputMode(mode)
            .format("memory")
            .queryName(qname)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    return spark.table(qname)


@query("events_hourly_stream")
def events_hourly_stream_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming parity: the same tumbling-window aggregation run
    as a streaming plan (file source, watermark, Trigger.AvailableNow) must
    equal the batch query — oracle shared with ``events_hourly``."""
    from mistocksync_spark.streaming.events import hourly_aggregate, read_events_stream

    return _run_stream(
        spark,
        hourly_aggregate(read_events_stream(spark, sf_dir)),
        "events_hourly_stream_sink",
        "complete",
    )


ORACLES["events_hourly_stream"] = ORACLES["events_hourly"]


# sliding 30-min windows every 15 min: every event belongs to exactly two
# windows (k = 0, 1 slide offsets); tz-free window math on epoch seconds
_SQL_SLIDING = """
    WITH k AS (SELECT ts, event_type, value, u.k FROM events, UNNEST([0, 1]) AS u(k)),
    w AS (
        SELECT strftime(TIMESTAMP '1970-01-01 00:00:00'
                        + ((CAST(floor(epoch(ts) / 900) AS BIGINT) - k) * 900) * INTERVAL '1 second',
                        '%Y-%m-%d %H:%M:%S') AS win_start,
               event_type, value
        FROM k
    )
    SELECT win_start, event_type, COUNT(*) AS cnt, floor(CAST(SUM(CAST(floor((value) * 1000000 + 0.5) AS HUGEINT)) AS DOUBLE) / 100.0 + 0.5) / 10000.0 AS sum_value
    FROM w GROUP BY 1, 2
    """


@query("events_sliding", _SQL_SLIDING)
def events_sliding_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window aggregation (30 min window / 15 min slide) — the
    overlapping-window shape the tumbling events_hourly cannot express."""
    from mistocksync_spark.sources.testdata import load_events
    from mistocksync_spark.streaming.events import sliding_aggregate

    return sliding_aggregate(load_events(spark, sf_dir))


@query("events_sliding_stream")
def events_sliding_stream_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same sliding plan run as Structured Streaming (file source,
    watermark, Trigger.AvailableNow) — oracle shared with events_sliding."""
    from mistocksync_spark.streaming.events import read_events_stream, sliding_aggregate

    return _run_stream(
        spark,
        sliding_aggregate(read_events_stream(spark, sf_dir)),
        "events_sliding_stream_sink",
        "complete",
    )


ORACLES["events_sliding_stream"] = _SQL_SLIDING


@query(
    "events_throttle_stream",
    """
    SELECT user_id, event_type,
           strftime(date_trunc('minute', ts), '%Y-%m-%d %H:%M:%S') AS minute
    FROM events GROUP BY 1, 2, 3
    """,
)
def events_throttle_stream_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming burst suppression via dropDuplicatesWithinWatermark.
    WHICH event of a duplicate burst survives is arrival-order dependent
    (real streaming semantics — deliberately kept), but the KEY SET is
    deterministic: exactly one row per (user, type, minute).  The graded
    surface therefore projects to the keys, turning the former rows-only
    row into a full hash check of the throttle's at-most-once guarantee;
    payload-level batch/stream key parity stays pytest-asserted."""
    from mistocksync_spark.streaming.events import read_events_stream, throttle_stream

    sink = _run_stream(
        spark,
        throttle_stream(read_events_stream(spark, sf_dir)),
        "events_throttle_stream_sink",
        "append",
    )
    # dropDuplicatesWithinWatermark is at-most-once only WITHIN the
    # watermark horizon: a key re-seen after its state evicts re-emits,
    # and which payload wins is batch-order dependent.  The graded
    # contract is the KEY SET, so distinct() the keys-only projection —
    # cheap (already keys-only) and batching-independent.
    return (
        sink
        .select(
            "user_id",
            "event_type",
            F.date_format("minute", "yyyy-MM-dd HH:mm:ss").alias("minute"),
        )
        .distinct()
    )


# --------------------------------------------------------------------------
# Multimodal plumbing: opaque binary payloads, Arrow-batched fake decode
# --------------------------------------------------------------------------
_SQL_HEX8 = (
    "list_reduce(list_transform(generate_series(1, 8), "
    "i -> strpos('0123456789abcdef', substr({sha}, i, 1)) - 1), (acc, x) -> acc * 16 + x)"
)


def _sql_media_features() -> str:
    seed = _SQL_HEX8.format(sha="payload_sha")
    return f"""
    WITH m AS (
        SELECT doc_id AS media_id,
               CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS modality,
               octet_length(encode(text)) AS payload_bytes,
               sha256(text) AS payload_sha
        FROM documents
    ), s AS (SELECT *, {seed} AS seed FROM m)
    SELECT media_id, modality, CAST(payload_bytes AS BIGINT) AS payload_bytes, payload_sha,
           CASE WHEN modality = 'image' THEN 64 + seed % 1024 END AS width,
           CASE WHEN modality = 'image' THEN 64 + (seed // 1024) % 1024 END AS height,
           CASE WHEN modality IN ('audio', 'video') THEN round((seed % 36000) / 10.0, 1) END AS duration_sec,
           (seed % 100000) / 100000.0 AS feature_0
    FROM s
    """


@query("media_features", _sql_media_features())
def media_features_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mistocksync_spark.operators.multimodal import extract_features, media_from_documents

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return extract_features(media_from_documents(docs), deterministic_fake=True)


# --------------------------------------------------------------------------
# SimHash text dedup + embedding-cosine near-dup (north-star extensions)
# --------------------------------------------------------------------------
def _sql_simhash_sig() -> str:
    # bit b of token = bit (b % 4) of hex digit (b // 4) of md5(token)
    bit = "((strpos('0123456789abcdef', substr(md5(token), (b // 4) + 1, 1)) - 1) >> (b % 4)) & 1"
    return f"""
    , tok2 AS (SELECT DISTINCT doc_id, unnest(regexp_split_to_array(lower(text), '\\s+')) AS token FROM docs)
    , votes AS (
        SELECT doc_id, b, SUM(CASE WHEN ({bit}) = 1 THEN 1 ELSE -1 END) AS s
        FROM tok2, UNNEST(generate_series(0, 59)) AS u(b)
        GROUP BY doc_id, b
    )
    , sig AS (
        SELECT doc_id, SUM(CASE WHEN s >= 0 THEN 1::BIGINT << b ELSE 0 END) AS simhash
        FROM votes GROUP BY doc_id
    )
    -- banded candidates (round-11 sf1-oracle rewrite): 4 bands x 15 bits,
    -- the same pigeonhole the Spark plan uses — any pair at Hamming <= 3
    -- shares at least one full band, so the equi-join + exact bit_count
    -- filter returns the EXACT all-pairs result without the O(n^2) scan
    -- that interrupted at sf1.
    , sigb AS (
        SELECT doc_id, simhash, band, (simhash >> (band * 15)) & 32767 AS band_key
        FROM sig, UNNEST(generate_series(0, 3)) AS bb(band)
    )
    , spairs AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
               bit_count(xor(a.simhash, b.simhash)) AS hamming
        FROM sigb a JOIN sigb b
          ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    )
    """


@query("simhash_dedup_pairs")
def simhash_dedup_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mistocksync_spark.operators.dedup import simhash, simhash_near_dup_pairs
    from mistocksync_spark.plans.feeds import docs_aug

    return simhash_near_dup_pairs(simhash(docs_aug(spark, sf_dir)), max_hamming=3)


ORACLES["simhash_dedup_pairs"] = (
    _docs_cte()
    + _sql_simhash_sig()
    + " SELECT doc_a, doc_b, hamming FROM spairs"
)


@query("embedding_near_dup")
def embedding_near_dup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mistocksync_spark.operators.vectors import cosine_near_dup_pairs
    from mistocksync_spark.plans.feeds import emb_aug

    return cosine_near_dup_pairs(emb_aug(spark, sf_dir), threshold=0.99)


_SQL_DOT_VAR = (
    "list_reduce(list_transform(generate_series(1, len({a})), "
    "i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)), (acc, x) -> acc + x)"
)


def _sql_cos(a: str, b: str) -> str:
    """Guarded cosine fragment matching operators/vectors.cosine — the
    strict left-fold dot/norm pair proven bit-identical cross-engine by
    the embedding_topk family."""
    na = _SQL_NORM.format(a=a)
    nb = _SQL_NORM.format(a=b)
    return (
        f"CASE WHEN {na} * {nb} > 0 "
        f"THEN {_SQL_DOT.format(a=a, b=b)} / ({na} * {nb}) ELSE 0.0 END"
    )

ORACLES["embedding_near_dup"] = f"""
    WITH emb AS ({{emb_aug}}),
    withn AS (
        SELECT vec_id, embedding,
               {_SQL_NORM.format(a='embedding')} AS nrm
        FROM emb
    )
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           round(CASE WHEN a.nrm * b.nrm > 0
                 THEN {_SQL_DOT_VAR.format(a='a.embedding', b='b.embedding')} / (a.nrm * b.nrm)
                 ELSE 0.0 END, 6) AS cos_sim
    FROM withn a JOIN withn b ON a.vec_id < b.vec_id
    WHERE CASE WHEN a.nrm * b.nrm > 0
          THEN {_SQL_DOT_VAR.format(a='a.embedding', b='b.embedding')} / (a.nrm * b.nrm)
          ELSE 0.0 END >= 0.99
"""


@query("embedding_near_dup_recall")
def embedding_near_dup_recall_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH recall audit for the graded embedding near-dup surface: candidate
    pair-set parity of the banded-LSH plan vs the exact O(n²) brute baseline
    on the same corpus/threshold.  The oracle asserts n_missed = n_extra = 0
    and both counts equal the exact pair count, so ANY recall loss at the
    default nbits/nbands is a graded hash failure, not a silent data-
    dependent divergence."""
    from mistocksync_spark.operators.vectors import (
        cosine_near_dup_pairs,
        cosine_near_dup_pairs_brute,
    )
    from mistocksync_spark.plans.feeds import emb_aug

    emb = emb_aug(spark, sf_dir)
    # lazy checkpoints: each arm's subplan appears three
    # times in the combined audit plan (count + both anti-join sides) and
    # the optimizer reuses none of it (72 scans, 0 ReusedExchange in the
    # before-plan) — so the O(n²) brute pass ran three times per audit.
    # Materializing each arm once leaves the aggregates reading the
    # checkpointed pair lists; results are identical.
    lsh = (
        cosine_near_dup_pairs(emb, threshold=0.99)
        .select("vec_a", "vec_b")
        .localCheckpoint(eager=False)
    )
    exact = (
        cosine_near_dup_pairs_brute(emb, threshold=0.99)
        .select("vec_a", "vec_b")
        .localCheckpoint(eager=False)
    )
    on = ["vec_a", "vec_b"]
    # 1-row scalar aggregates; the cross joins are the expected trivial
    # 1×1 combines (see PLANS_APPENDIX.md), not data-sized products
    return (
        exact.agg(F.count("*").cast("long").alias("n_exact_pairs"))
        .crossJoin(lsh.agg(F.count("*").cast("long").alias("n_lsh_pairs")))
        .crossJoin(
            exact.join(lsh, on, "left_anti").agg(F.count("*").cast("long").alias("n_missed"))
        )
        .crossJoin(
            lsh.join(exact, on, "left_anti").agg(F.count("*").cast("long").alias("n_extra"))
        )
    )


ORACLES["embedding_near_dup_recall"] = f"""
    WITH emb AS ({{emb_aug}}),
    withn AS (
        SELECT vec_id, embedding,
               {_SQL_NORM.format(a='embedding')} AS nrm
        FROM emb
    ),
    pairs AS (
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
        FROM withn a JOIN withn b ON a.vec_id < b.vec_id
        WHERE CASE WHEN a.nrm * b.nrm > 0
              THEN {_SQL_DOT_VAR.format(a='a.embedding', b='b.embedding')} / (a.nrm * b.nrm)
              ELSE 0.0 END >= 0.99
    )
    SELECT (SELECT COUNT(*) FROM pairs) AS n_exact_pairs,
           (SELECT COUNT(*) FROM pairs) AS n_lsh_pairs,
           CAST(0 AS BIGINT) AS n_missed,
           CAST(0 AS BIGINT) AS n_extra
"""


@query("incremental_embedding_dedup")
def incremental_embedding_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector-side ingest tick: merge arriving embeddings into the corpus,
    rejecting exact-cosine≥0.99 duplicates of anything already seen
    (operators/vectors.py:incremental_embedding_dedup; the feed plants
    exact/scaled corpus dups, fresh negated vectors, and an intra-batch
    scaled dup of a fresh arrival)."""
    from mistocksync_spark.operators.vectors import incremental_embedding_dedup
    from mistocksync_spark.plans.feeds import emb_incr_batch, emb_incr_corpus

    return incremental_embedding_dedup(
        emb_incr_corpus(spark, sf_dir), emb_incr_batch(spark, sf_dir)
    )


@query("incremental_embedding_dedup_stateful")
def incremental_embedding_dedup_stateful_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same vector ingest tick through the STORED-STATE path: the
    corpus band table comes precomputed (what a production vector store
    persists between ticks); band values are deterministic per vector, so
    this must hash-match the self-contained query — oracle shared."""
    from mistocksync_spark.operators.vectors import (
        incremental_embedding_dedup,
        inferred_dim,
        signature_bands,
    )
    from mistocksync_spark.plans.feeds import emb_incr_batch, emb_incr_corpus

    corpus = emb_incr_corpus(spark, sf_dir)
    dim = inferred_dim(corpus, "embedding")
    state = signature_bands(corpus, dim).localCheckpoint(eager=False)
    return incremental_embedding_dedup(
        corpus, emb_incr_batch(spark, sf_dir), dim=dim, corpus_bands=state
    )


def _sql_incremental_embedding_dedup() -> str:
    """Oracle for incremental_embedding_dedup — exact all-pairs cosine.

    FIXTURE-DEPENDENT PARITY: the Spark operator only
    rejects pairs that collide in ≥1 SimHash band before the exact-cosine
    rescore, while this oracle considers EVERY pair at cos >= 0.99.  The
    two agree because the incremental feed (EMB_INCR_CTE_DUCKDB) plants
    sign-identical duplicates (exact / positively-scaled / negated-pair
    copies), which collide in ALL bands by construction, and the natural
    corpus has no cos >= 0.99 pair (10 well-separated Gaussian clusters,
    within-cluster sims ~0.9).  A natural pair at the 0.99 boundary would
    miss all 8 bands with prob ~1e-3 per pair and break parity
    nondeterministically; mirroring the banding in SQL would mean
    inlining the 96x64 hyperplane matrix, so the restriction is
    documented here instead and boundary recall is graded separately by
    ``embedding_near_dup_recall``."""
    from mistocksync_spark.plans.feeds import EMB_INCR_CTE_DUCKDB

    return (
        EMB_INCR_CTE_DUCKDB
        + f"""
    , withn AS (
        SELECT vec_id, embedding, is_batch,
               {_SQL_NORM.format(a='embedding')} AS nrm
        FROM emb
    )
    , rejected AS (
        SELECT DISTINCT l.vec_id
        FROM withn l JOIN withn e
          ON l.is_batch = 1 AND (e.is_batch = 0 OR e.vec_id < l.vec_id)
        WHERE CASE WHEN e.nrm * l.nrm > 0
              THEN {_SQL_DOT_VAR.format(a='e.embedding', b='l.embedding')} / (e.nrm * l.nrm)
              ELSE 0.0 END >= 0.99
    )
    SELECT vec_id, 'corpus' AS origin FROM emb WHERE is_batch = 0
    UNION ALL
    SELECT vec_id, 'batch' AS origin FROM emb
    WHERE is_batch = 1 AND vec_id NOT IN (SELECT vec_id FROM rejected)
    """
    )


ORACLES["incremental_embedding_dedup"] = _sql_incremental_embedding_dedup()
ORACLES["incremental_embedding_dedup_stateful"] = ORACLES["incremental_embedding_dedup"]


@query("incremental_embedding_dedup_ivf")
def incremental_embedding_dedup_ivf_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The vector ingest tick through the IVF-CELL candidate generator and
    the PERSISTED index state: the quantizer is trained once on
    the corpus and frozen, the corpus inverted table is written to parquet
    and read back (the serving stack's own table — see
    ``embedding_topk_ivf_stored``), and the tick assigns only the arriving
    batch.  Decision rule and oracle are identical to
    ``incremental_embedding_dedup`` (exact all-pairs cosine, the same
    fixture-dependent parity documented there); this entry grades the
    candidate-generator swap that keeps tick cost linear on clustered
    corpora (SCALE_r11 §2c)."""
    import hashlib

    from mistocksync_spark.operators.vectors import (
        incremental_embedding_dedup_ivf,
        ivf_assign,
        ivf_train,
    )
    from mistocksync_spark.plans.feeds import emb_incr_batch, emb_incr_corpus

    corpus = emb_incr_corpus(spark, sf_dir)
    n_cells = max(16, corpus.count() // 200)
    cents = ivf_train(corpus, n_centroids=n_cells, iterations=2)
    root = (
        "/tmp/spark_graft_ivf_incr/"
        + hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    )
    ivf_assign(corpus, cents, n_assign=2).write.mode("overwrite").parquet(
        f"{root}/cells"
    )
    return incremental_embedding_dedup_ivf(
        corpus,
        emb_incr_batch(spark, sf_dir),
        cents,
        corpus_cells=spark.read.parquet(f"{root}/cells"),
    )


ORACLES["incremental_embedding_dedup_ivf"] = ORACLES["incremental_embedding_dedup"]


@query("incremental_embedding_dedup_ivf_pruned")
def incremental_embedding_dedup_ivf_pruned_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The IVF vector ingest tick with the stored inverted state written
    PARTITIONED BY CENTROID and read PRUNED to the batch's assigned cells
    (the vector analogue of ``incremental_dedup_merge_pruned``;
    the layout the SCALE_r12 §2 ladders run): pruning is lossless because
    candidates are a centroid equi-join — corpus rows in cells none of
    the batch's assignments touch cannot pair with any arrival.  Same
    decision rule, frozen quantizer and oracle as
    ``incremental_embedding_dedup_ivf``."""
    import hashlib
    import shutil

    from mistocksync_spark.operators.vectors import (
        incremental_embedding_dedup_ivf,
        ivf_assign,
        ivf_train,
    )
    from mistocksync_spark.plans.feeds import emb_incr_batch, emb_incr_corpus

    corpus = emb_incr_corpus(spark, sf_dir)
    batch = emb_incr_batch(spark, sf_dir)
    n_cells = max(16, corpus.count() // 200)
    cents = ivf_train(corpus, n_centroids=n_cells, iterations=2)
    root = (
        "/tmp/spark_graft_ivf_incr/"
        + hashlib.md5(
            f"incremental_embedding_dedup_ivf_pruned:{sf_dir}".encode()
        ).hexdigest()[:10]
    )
    shutil.rmtree(root, ignore_errors=True)
    ivf_assign(corpus, cents, n_assign=2).write.mode("overwrite").partitionBy(
        "centroid"
    ).parquet(f"{root}/cells")
    bcells = ivf_assign(batch, cents, n_assign=2).localCheckpoint(eager=False)
    probe_cells = [
        r.centroid for r in bcells.select("centroid").distinct().collect()
    ]
    pruned = (
        spark.read.parquet(f"{root}/cells")
        .filter(F.col("centroid").isin(probe_cells))
        .select("vec_id", F.col("centroid").cast("long").alias("centroid"))
    )
    return incremental_embedding_dedup_ivf(
        corpus, batch, cents, corpus_cells=pruned
    )


ORACLES["incremental_embedding_dedup_ivf_pruned"] = ORACLES[
    "incremental_embedding_dedup"
]


@query("incremental_embedding_dedup_ivf_stream")
def incremental_embedding_dedup_ivf_stream_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming parity for the VECTOR ingest tick (the
    embedding sibling of ``incremental_dedup_stream``): arrivals land as
    two id-ordered parquet files consumed one per micro-batch
    (foreachBatch MERGE into versioned (vecs, cells) state under a FROZEN
    quantizer), and the final accepted corpus must equal the one-shot
    batch query — oracle shared with ``incremental_embedding_dedup``.
    The split at id 3.5M puts the corpus-dup arrivals (exact/scaled) and
    the accepted negated arrivals in micro-batch 0 and the
    dup-of-accepted-negated arrivals in micro-batch 1, so the CROSS-TICK
    seen-set chain (a tick-1 arrival rejected against a tick-0 ACCEPTED
    arrival) is exercised, not just within-tick dedup.

    Setup amortization (the ``_run_prepare_stream`` pattern): the
    frozen quantizer (``ivf_train`` is deterministic — exact int64
    accumulation, deterministic seeds) and the initial vecs/cells state
    are pure functions of the corpus, so they are produced ONCE per
    corpus version in a content-tagged scratch root (centroids + dim in
    a JSON sidecar, exact float round-trip) and COPIED pristine per run
    — the stream mutates state, so runs can't share one live copy.
    Accepted sets are unchanged."""
    import json as _json
    import os
    import shutil
    import tempfile

    from mistocksync_spark.operators.vectors import inferred_dim, ivf_train
    from mistocksync_spark.plans.feeds import emb_incr_batch, emb_incr_corpus
    from mistocksync_spark.streaming.merge import (
        incremental_embedding_dedup_stream,
        prime_embedding_dedup_state,
        stage_arrivals,
    )

    work = tempfile.mkdtemp(prefix="incr_emb_stream_")
    tag = _parquet_content_tag(f"{sf_dir}/embeddings.parquet")

    def _build(r: str) -> None:
        corpus = emb_incr_corpus(spark, sf_dir).localCheckpoint(eager=False)
        n_cells = max(16, corpus.count() // 200)
        cents = ivf_train(corpus, n_centroids=n_cells, iterations=2)
        dim = inferred_dim(corpus, "embedding")
        prime_embedding_dedup_state(corpus, cents, r)
        with open(os.path.join(r, "_quantizer.json"), "w") as qf:
            _json.dump({"centroids": cents, "dim": dim}, qf)

    root = _produce_once_root(
        "/tmp/spark_graft_emb_stream_state",
        "incremental_embedding_dedup_ivf_stream_state",
        sf_dir,
        tag,
        _build,
    )
    with open(os.path.join(root, "_quantizer.json")) as qf:
        q = _json.load(qf)
    cents, dim = q["centroids"], q["dim"]
    state_dir = os.path.join(work, "state")
    shutil.copytree(root, state_dir)
    os.remove(os.path.join(state_dir, "_STATE_READY"))
    os.remove(os.path.join(state_dir, "_quantizer.json"))
    vec_id = F.col("vec_id")
    arrivals = stage_arrivals(
        emb_incr_batch(spark, sf_dir),
        [
            (vec_id >= lo) & (vec_id < hi)
            for lo, hi in [(0, 3_500_000), (3_500_000, 10_000_000)]
        ],
        os.path.join(work, "arrivals"),
    )
    return incremental_embedding_dedup_stream(
        spark,
        None,  # state primed above (produce-once root, pristine copy)
        arrivals,
        state_dir,
        os.path.join(work, "ckpt"),
        cents,
        dim=dim,
    )


ORACLES["incremental_embedding_dedup_ivf_stream"] = ORACLES[
    "incremental_embedding_dedup"
]


@query("embedding_contamination")
def embedding_contamination_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space decontamination: the planted duplicate vectors
    (vec_id ≥ 1M in the augmented corpus) play the eval/benchmark set and
    must be flagged against the training corpus at cosine ≥ 0.99 — the
    semantic complement of the shingle-based ``contamination_check``
    (operators/vectors.cosine_contamination: one corpus scan, zero joins)."""
    from mistocksync_spark.operators.vectors import cosine_contamination
    from mistocksync_spark.plans.feeds import emb_aug

    aug = emb_aug(spark, sf_dir)
    corpus = aug.filter(F.col("vec_id") < 1000000)
    probes = aug.filter(F.col("vec_id") >= 1000000)
    return cosine_contamination(corpus, probes, threshold=0.99)


ORACLES["embedding_contamination"] = f"""
    WITH emb AS ({{emb_aug}}),
    withn AS (
        SELECT vec_id, embedding,
               {_SQL_NORM.format(a='embedding')} AS nrm
        FROM emb
    )
    SELECT p.vec_id AS eval_id, c.vec_id,
           round(CASE WHEN p.nrm * c.nrm > 0
                 THEN {_SQL_DOT_VAR.format(a='p.embedding', b='c.embedding')} / (p.nrm * c.nrm)
                 ELSE 0.0 END, 6) AS cos_sim
    FROM withn p JOIN withn c ON p.vec_id >= 1000000 AND c.vec_id < 1000000
    WHERE CASE WHEN p.nrm * c.nrm > 0
          THEN {_SQL_DOT_VAR.format(a='p.embedding', b='c.embedding')} / (p.nrm * c.nrm)
          ELSE 0.0 END >= 0.99
"""


def _patch_emb_oracle():
    from mistocksync_spark.plans.feeds import EMB_AUG_SQL_DUCKDB

    for name in (
        "embedding_near_dup",
        "embedding_near_dup_recall",
        "embedding_contamination",
    ):
        ORACLES[name] = ORACLES[name].replace("{emb_aug}", EMB_AUG_SQL_DUCKDB)


_patch_emb_oracle()


@query("embedding_near_dup_ivf")
def embedding_near_dup_ivf_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-restricted embedding near-dup — the 100 TB variant for
    clustered corpora (operators/vectors.cosine_near_dup_pairs_ivf): IVF
    cells scale with the corpus, candidates are same-cell pairs (linear at
    fixed density, vs the banded-SimHash epsilon*n^2 measured in
    SCALE_r11), exact cosine decides.  Shares the exact all-pairs oracle
    with ``embedding_near_dup`` — the same fixture-dependent parity
    documented there (the feed's planted duplicates have identical
    assignment geometry, so the candidate restriction is lossless on it);
    boundary recall is graded by ``embedding_near_dup_ivf_recall``."""
    from mistocksync_spark.operators.vectors import cosine_near_dup_pairs_ivf
    from mistocksync_spark.plans.feeds import emb_aug

    return cosine_near_dup_pairs_ivf(emb_aug(spark, sf_dir), threshold=0.99)


ORACLES["embedding_near_dup_ivf"] = ORACLES["embedding_near_dup"]


@query("embedding_near_dup_ivf_recall")
def embedding_near_dup_ivf_recall_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall audit for the IVF near-dup tier: pair-set parity vs the exact
    O(n^2) brute baseline, same shape as ``embedding_near_dup_recall`` —
    any candidate-restriction loss (a boundary pair sharing none of its
    two nearest cells) is a graded hash failure."""
    from mistocksync_spark.operators.vectors import (
        cosine_near_dup_pairs_brute,
        cosine_near_dup_pairs_ivf,
    )
    from mistocksync_spark.plans.feeds import emb_aug

    emb = emb_aug(spark, sf_dir)
    # lazy checkpoints: same triple-evaluation shape as
    # embedding_near_dup_recall — materialize each arm once
    ivf = (
        cosine_near_dup_pairs_ivf(emb, threshold=0.99)
        .select("vec_a", "vec_b")
        .localCheckpoint(eager=False)
    )
    exact = (
        cosine_near_dup_pairs_brute(emb, threshold=0.99)
        .select("vec_a", "vec_b")
        .localCheckpoint(eager=False)
    )
    on = ["vec_a", "vec_b"]
    return (
        exact.agg(F.count("*").cast("long").alias("n_exact_pairs"))
        .crossJoin(ivf.agg(F.count("*").cast("long").alias("n_ivf_pairs")))
        .crossJoin(
            exact.join(ivf, on, "left_anti").agg(F.count("*").cast("long").alias("n_missed"))
        )
        .crossJoin(
            ivf.join(exact, on, "left_anti").agg(F.count("*").cast("long").alias("n_extra"))
        )
    )


ORACLES["embedding_near_dup_ivf_recall"] = ORACLES["embedding_near_dup_recall"].replace(
    "n_lsh_pairs", "n_ivf_pairs"
)


def _sql_assign_block(name: str, src: str, cents: str, max_rank: int = 1) -> str:
    """One k-means ASSIGNMENT CTE: every ``src`` vector's ``max_rank``
    nearest centroids of ``cents`` under the ivf_train score (dot/|c|,
    ties to the lowest centroid index — numpy argmax-first / stable
    argsort order)."""
    dot_ec = _SQL_DOT_VAR.format(a="e.embedding", b="c.cv")
    score = f"CASE WHEN c.nrm > 0 THEN {dot_ec} / c.nrm ELSE 0.0 END"
    cond = "= 1" if max_rank == 1 else f"<= {max_rank}"
    return f"""{name} AS (
        SELECT vec_id, cidx FROM (
            SELECT e.vec_id, c.cidx,
                   row_number() OVER (
                       PARTITION BY e.vec_id ORDER BY {score} DESC, c.cidx ASC
                   ) AS rnk
            FROM {src} e, {cents} c
        ) WHERE rnk {cond})"""


def _sql_kmeans_blocks(
    src: str, pfx: str, k_sql: str, iterations: int
) -> tuple[list[str], str]:
    """CTE blocks replaying ``ivf_train`` over the ``src`` CTE (vec_id,
    embedding) — lowest-id seeds, per-iteration argmax assignment +
    micro-int centroid means, empty cells keeping the previous centroid
    (the determinism contract documented on ivf_train).  Names carry
    ``pfx`` so one statement can replay TWO quantizers (the rebuild/drift
    oracles).  Returns (blocks, final_cents_cte_name)."""
    blocks = [
        (
            f"{pfx}cents0 AS (SELECT row_number() OVER (ORDER BY vec_id ASC) - 1 AS cidx, "
            f"embedding AS cv, {_SQL_NORM.format(a='embedding')} AS nrm "
            f"FROM {src} ORDER BY vec_id ASC LIMIT {k_sql})"
        ),
        (
            f"{pfx}u AS (SELECT vec_id, unnest(embedding) AS val, "
            f"unnest(generate_series(1, len(embedding))) AS dim FROM {src})"
        ),
    ]
    prev = f"{pfx}cents0"
    for it in range(1, iterations + 1):
        blocks.append(_sql_assign_block(f"{pfx}assign{it}", src, prev, 1))
        blocks.append(
            f"""{pfx}cm{it} AS (
        SELECT a.cidx, u.dim,
               CAST(SUM(CAST(floor(CAST(u.val AS DOUBLE) * 1000000 + 0.5) AS HUGEINT)) AS DOUBLE)
                   / 1000000.0 / COUNT(*) AS mval
        FROM {pfx}assign{it} a JOIN {pfx}u u USING (vec_id)
        GROUP BY a.cidx, u.dim)"""
        )
        blocks.append(
            f"""{pfx}cents{it} AS (
        SELECT cidx, cv, {_SQL_NORM.format(a='cv')} AS nrm FROM (
            SELECT p.cidx, COALESCE(l.cv, CAST(p.cv AS DOUBLE[])) AS cv
            FROM {prev} p LEFT JOIN (
                SELECT cidx, list(mval ORDER BY dim) AS cv FROM {pfx}cm{it} GROUP BY cidx
            ) l USING (cidx)))"""
        )
        prev = f"{pfx}cents{it}"
    return blocks, prev


def _sql_vector_pair_quality(
    nbits: int = 96, nbands: int = 8, iterations: int = 2, threshold: float = 0.99
) -> str:
    """Oracle for ``vector_pair_quality``: independently re-derives all
    THREE pair sets in SQL — exact pairs (all-pairs strict-fold cosine),
    banded-SimHash candidates (the ``_hyperplane`` family replayed as
    ``sin(0.5 + b*1013 + i*9.173)`` with a strict-left-fold sign dot; no
    matrix literals needed because the hyperplanes are a closed form), and
    IVF-cell candidates (the ``ivf_train`` k-means replay from the trained-
    recall oracle, generalized to a corpus-proportional k and a rank<=2
    multi-assignment) — then the counts, ppm recalls and the recommendation
    CASE.

    Cross-engine margin (same contract as ``ivf_train``): the sign bits
    and assignment argmax compare BLAS-accumulated numpy scores against
    strict-fold SQL scores, and libm ``sin`` differs from DuckDB's by
    1 ulp on ~0.1% of hyperplane cells — agreement rests on scores sitting
    far from 0/argmax ties relative to ~1e-13 accumulation error, which
    holds on real embeddings; a knife-edge flip means quantize-before-
    compare on both sides, not an arithmetic bug."""
    from mistocksync_spark.plans.feeds import EMB_AUG_SQL_DUCKDB

    r = nbits // nbands
    k_sql = "(SELECT GREATEST(16, COUNT(*) // 200) FROM ea)"
    dot_ec = _SQL_DOT_VAR.format(a="e.embedding", b="c.cv")
    score = f"CASE WHEN c.nrm > 0 THEN {dot_ec} / c.nrm ELSE 0.0 END"
    blocks = [
        f"ea AS ({EMB_AUG_SQL_DUCKDB})",
        (
            "withn AS (SELECT vec_id, embedding, "
            f"{_SQL_NORM.format(a='embedding')} AS nrm FROM ea)"
        ),
        f"""epairs AS MATERIALIZED (
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
        FROM withn a JOIN withn b ON a.vec_id < b.vec_id
        WHERE CASE WHEN a.nrm * b.nrm > 0
              THEN {_SQL_DOT_VAR.format(a='a.embedding', b='b.embedding')} / (a.nrm * b.nrm)
              ELSE 0.0 END >= {threshold})""",
        f"""hbits AS (
        SELECT vec_id, t.b,
               CASE WHEN list_reduce(list_transform(generate_series(1, len(embedding)),
                    i -> CAST(embedding[i] AS DOUBLE) * sin(0.5 + t.b*1013.0 + (i-1)*9.173)),
                    (acc, x) -> acc + x) >= 0
                    THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS bit
        FROM ea, UNNEST(generate_series(0, {nbits - 1})) AS t(b))""",
        f"""hbands AS (
        SELECT vec_id, b // {r} AS band_id,
               CAST(SUM(bit << (b % {r})) AS BIGINT) AS band_val
        FROM hbits GROUP BY vec_id, b // {r})""",
        """bcand AS MATERIALIZED (
        SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b
        FROM hbands x JOIN hbands y
          ON x.band_id = y.band_id AND x.band_val = y.band_val
         AND x.vec_id < y.vec_id)""",
    ]
    km_blocks, prev = _sql_kmeans_blocks("ea", "", k_sql, iterations)
    blocks += km_blocks
    blocks.append(_sql_assign_block("assignT", "ea", prev, max_rank=2))
    blocks.append(
        """icand AS MATERIALIZED (
        SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b
        FROM assignT x JOIN assignT y
          ON x.cidx = y.cidx AND x.vec_id < y.vec_id)"""
    )
    blocks.append(
        """stats AS (
        SELECT (SELECT COUNT(*) FROM epairs) AS n_exact_pairs,
               (SELECT COUNT(*) FROM bcand) AS n_banded_cand,
               (SELECT COUNT(*) FROM icand) AS n_ivf_cand,
               (SELECT COUNT(*) FROM epairs e LEFT JOIN bcand c
                   ON e.vec_a = c.vec_a AND e.vec_b = c.vec_b
                   WHERE c.vec_a IS NULL) AS banded_missed,
               (SELECT COUNT(*) FROM epairs e LEFT JOIN icand c
                   ON e.vec_a = c.vec_a AND e.vec_b = c.vec_b
                   WHERE c.vec_a IS NULL) AS ivf_missed)"""
    )
    return (
        "WITH "
        + ",\n    ".join(blocks)
        + """
    SELECT n_exact_pairs, n_banded_cand, n_ivf_cand, banded_missed, ivf_missed,
           CASE WHEN n_exact_pairs > 0
                THEN ((n_exact_pairs - banded_missed) * 1000000) // n_exact_pairs
           END AS banded_recall_ppm,
           CASE WHEN n_exact_pairs > 0
                THEN ((n_exact_pairs - ivf_missed) * 1000000) // n_exact_pairs
           END AS ivf_recall_ppm,
           CASE WHEN banded_missed = 0 AND ivf_missed = 0
                     AND n_banded_cand <= n_ivf_cand THEN 'banded'
                WHEN banded_missed = 0 AND ivf_missed = 0 THEN 'ivf'
                WHEN banded_missed = 0 THEN 'banded'
                WHEN ivf_missed = 0 THEN 'ivf'
                WHEN ((n_exact_pairs - banded_missed) * 1000000) // n_exact_pairs
                     >= ((n_exact_pairs - ivf_missed) * 1000000) // n_exact_pairs
                     THEN 'banded'
                ELSE 'ivf' END AS recommended_generator
    FROM stats
    """
    )


@query("vector_pair_quality", _sql_vector_pair_quality())
def vector_pair_quality_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-flight candidate-generator audit for the embedding near-dup
    family (operators/vectors.vector_pair_quality):
    banded-SimHash vs IVF-cell candidate volume, miss counts and ppm
    recall against the exact-threshold pair set, plus the deterministic
    generator recommendation — the vector-side analogue of
    ``lsh_pair_quality``, so the banded/IVF plan choice SCALE_r11 proved
    worth 81×-vs-14× in candidates is made by a graded operator BEFORE a
    100 TB run commits.  On the planted-duplicate driver feed both
    generators are lossless and banding (fewer candidates at this
    density, no index build) wins; on the zipf clustered corpus the same
    operator recommends IVF (SCALE_r12.md)."""
    from mistocksync_spark.operators.vectors import (
        banded_candidate_pairs,
        cosine_near_dup_pairs_brute,
        ivf_candidate_pairs,
        ivf_train,
        vector_pair_quality,
    )
    from mistocksync_spark.plans.feeds import emb_aug

    emb = emb_aug(spark, sf_dir)
    n_cells = max(16, int(emb.count()) // 200)
    cents = ivf_train(emb, n_centroids=n_cells, iterations=2)
    return vector_pair_quality(
        banded_candidate_pairs(emb),
        ivf_candidate_pairs(emb, cents, n_assign=2),
        cosine_near_dup_pairs_brute(emb, threshold=0.99).select("vec_a", "vec_b"),
    )


def _sql_ivf_rebuild_diff(iterations: int = 2) -> str:
    """Oracle for ``ivf_index_rebuild``: replays BOTH quantizers — the
    stale one (k-means on the serving corpus) and the rebuilt one (k-means
    on corpus + accepted arrivals), each with its own corpus-proportional
    k — then the per-centroid population diff of the two inverted tables."""
    from mistocksync_spark.plans.feeds import (
        EMB_DRIFT_ARRIVALS_SQL,
        EMB_DRIFT_CORPUS_SQL,
    )

    blocks = [
        f"corp AS ({EMB_DRIFT_CORPUS_SQL})",
        f"grown AS ({EMB_DRIFT_CORPUS_SQL} UNION ALL {EMB_DRIFT_ARRIVALS_SQL})",
    ]
    ob, ocents = _sql_kmeans_blocks(
        "corp", "o", "(SELECT GREATEST(16, COUNT(*) // 200) FROM corp)", iterations
    )
    nb, ncents = _sql_kmeans_blocks(
        "grown", "n", "(SELECT GREATEST(16, COUNT(*) // 200) FROM grown)", iterations
    )
    blocks += ob + nb
    blocks.append(_sql_assign_block("oassignF", "corp", ocents, 1))
    blocks.append(_sql_assign_block("nassignF", "grown", ncents, 1))
    return (
        "WITH "
        + ",\n    ".join(blocks)
        + """
    SELECT CAST(COALESCE(o.cidx, n.cidx) AS BIGINT) AS centroid,
           COALESCE(o.cnt, 0) AS n_old,
           COALESCE(n.cnt, 0) AS n_new,
           COALESCE(n.cnt, 0) - COALESCE(o.cnt, 0) AS n_delta
    FROM (SELECT cidx, COUNT(*) AS cnt FROM oassignF GROUP BY cidx) o
    FULL OUTER JOIN
         (SELECT cidx, COUNT(*) AS cnt FROM nassignF GROUP BY cidx) n
      ON o.cidx = n.cidx
    """
    )


@query("ivf_index_rebuild", _sql_ivf_rebuild_diff())
def ivf_index_rebuild_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The index-rebuild tick (operators/vectors.ivf_index_rebuild): the
    serving index is built and PERSISTED on the
    drift-fixture corpus (v1 tables), the accepted arrivals grow the
    corpus (on this fixture every arrival is accepted — no cos >= 0.99
    pair straddles the split, the documented emb_incr property), and the
    rebuild re-trains with corpus-proportional k, REWRITES both tables
    (v2) and returns the per-centroid population diff — the audit row set
    the oracle re-derives by replaying both quantizers."""
    import hashlib

    from mistocksync_spark.operators.vectors import (
        ivf_index_rebuild,
        ivf_index_tables,
    )
    from mistocksync_spark.plans.feeds import emb_drift_arrivals, emb_drift_corpus

    corpus = emb_drift_corpus(spark, sf_dir)
    root = (
        "/tmp/spark_graft_ivf_rebuild/"
        + hashlib.md5(f"ivf_index_rebuild:{sf_dir}".encode()).hexdigest()[:10]
    )
    k_old = max(16, int(corpus.count()) // 200)
    cents_v1, inv_v1 = ivf_index_tables(corpus, n_centroids=k_old, iterations=2)
    cents_v1.write.mode("overwrite").parquet(f"{root}/v1/centroids")
    inv_v1.write.mode("overwrite").parquet(f"{root}/v1/inverted")
    grown = corpus.unionByName(emb_drift_arrivals(spark, sf_dir))
    cents_v2, inv_v2, diff = ivf_index_rebuild(
        grown, spark.read.parquet(f"{root}/v1/inverted"), iterations=2
    )
    cents_v2.write.mode("overwrite").parquet(f"{root}/v2/centroids")
    inv_v2.write.mode("overwrite").parquet(f"{root}/v2/inverted")
    return diff


def _sql_ivf_recall_drift(iterations: int = 2, n_probe: int = 4, topk: int = 20) -> str:
    """Oracle for ``ivf_recall_drift``: replays the STALE index probe (the
    corpus-trained quantizer serving the GROWN corpus — arrivals absent
    from its inverted lists by construction) and the REBUILT index probe
    side by side against brute-force top-k on the grown corpus."""
    from mistocksync_spark.plans.feeds import (
        EMB_DRIFT_ARRIVALS_SQL,
        EMB_DRIFT_CORPUS_SQL,
    )

    blocks = [
        f"corp AS ({EMB_DRIFT_CORPUS_SQL})",
        f"grown AS ({EMB_DRIFT_CORPUS_SQL} UNION ALL {EMB_DRIFT_ARRIVALS_SQL})",
        "q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)",
    ]
    ob, ocents = _sql_kmeans_blocks(
        "corp", "o", "(SELECT GREATEST(16, COUNT(*) // 200) FROM corp)", iterations
    )
    nb, ncents = _sql_kmeans_blocks(
        "grown", "n", "(SELECT GREATEST(16, COUNT(*) // 200) FROM grown)", iterations
    )
    blocks += ob + nb
    dot_qc = _SQL_DOT_VAR.format(a="q.qv", b="c.cv")
    qscore = f"CASE WHEN c.nrm > 0 THEN {dot_qc} / c.nrm ELSE 0.0 END"
    blocks.append(_sql_assign_block("oassignF", "corp", ocents, 1))
    blocks.append(
        f"""oprobes AS (
        SELECT cidx FROM (
            SELECT c.cidx, {qscore} AS cs FROM {ocents} c, q
        ) ORDER BY cs DESC, cidx ASC LIMIT {n_probe})"""
    )
    blocks.append(
        f"""stale AS (
        SELECT e.vec_id FROM corp e
        JOIN oassignF a USING (vec_id) JOIN oprobes p ON a.cidx = p.cidx, q
        ORDER BY {_sql_cos('e.embedding', 'q.qv')} DESC, e.vec_id ASC LIMIT {topk})"""
    )
    blocks.append(_sql_assign_block("nassignF", "grown", ncents, 1))
    blocks.append(
        f"""nprobes AS (
        SELECT cidx FROM (
            SELECT c.cidx, {qscore} AS cs FROM {ncents} c, q
        ) ORDER BY cs DESC, cidx ASC LIMIT {n_probe})"""
    )
    blocks.append(
        f"""rebuilt AS (
        SELECT e.vec_id FROM grown e
        JOIN nassignF a USING (vec_id) JOIN nprobes p ON a.cidx = p.cidx, q
        ORDER BY {_sql_cos('e.embedding', 'q.qv')} DESC, e.vec_id ASC LIMIT {topk})"""
    )
    blocks.append(
        f"""brute AS (
        SELECT vec_id FROM (
            SELECT e.vec_id, {_sql_cos('e.embedding', 'q.qv')} AS cs FROM grown e, q
        ) ORDER BY cs DESC, vec_id ASC LIMIT {topk})"""
    )
    return (
        "WITH "
        + ",\n    ".join(blocks)
        + """
    SELECT (SELECT COUNT(*) FROM brute) AS n_exact,
           (SELECT COUNT(*) FROM brute JOIN stale USING (vec_id)) AS n_stale_hits,
           (SELECT COUNT(*) FROM brute JOIN rebuilt USING (vec_id)) AS n_rebuilt_hits,
           CAST((SELECT COUNT(*) FROM brute JOIN stale USING (vec_id)) AS DOUBLE)
               / (SELECT COUNT(*) FROM brute) AS stale_recall_at_k,
           CAST((SELECT COUNT(*) FROM brute JOIN rebuilt USING (vec_id)) AS DOUBLE)
               / (SELECT COUNT(*) FROM brute) AS rebuilt_recall_at_k
    """
    )


@query("ivf_recall_drift", _sql_ivf_recall_drift())
def ivf_recall_drift_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The recall-DRIFT gate the frozen-quantizer assumption needs:
    recall@20 of the STALE persisted index (trained and
    inverted on the pre-arrival corpus, probed over the grown corpus —
    its lists cannot return an un-indexed arrival) vs recall@20 of the
    REBUILT index, both against brute force on the grown corpus.  A
    hash-graded one-row readout: stale recall DROPS when arrivals enter
    the true top-k (the drift the gate exists to catch) and the rebuilt
    index restores it; both probes run the pure serving path
    (ivf_topk_stored over parquet round-tripped tables, no Python
    stage)."""
    import hashlib

    from mistocksync_spark.operators.vectors import (
        brute_force_topk,
        ivf_index_rebuild,
        ivf_index_tables,
        ivf_topk_stored,
    )
    from mistocksync_spark.plans.feeds import emb_drift_arrivals, emb_drift_corpus

    corpus = emb_drift_corpus(spark, sf_dir)
    grown = corpus.unionByName(emb_drift_arrivals(spark, sf_dir))
    qv = _query_vec(spark, sf_dir)
    root = (
        "/tmp/spark_graft_ivf_rebuild/"
        + hashlib.md5(f"ivf_recall_drift:{sf_dir}".encode()).hexdigest()[:10]
    )
    k_old = max(16, int(corpus.count()) // 200)
    cents_v1, inv_v1 = ivf_index_tables(corpus, n_centroids=k_old, iterations=2)
    cents_v1.write.mode("overwrite").parquet(f"{root}/v1/centroids")
    inv_v1.write.mode("overwrite").parquet(f"{root}/v1/inverted")
    stale = ivf_topk_stored(
        grown,
        spark.read.parquet(f"{root}/v1/centroids"),
        spark.read.parquet(f"{root}/v1/inverted"),
        qv,
        k=20,
    ).select("vec_id")
    cents_v2, inv_v2, _diff = ivf_index_rebuild(
        grown, spark.read.parquet(f"{root}/v1/inverted"), iterations=2
    )
    cents_v2.write.mode("overwrite").parquet(f"{root}/v2/centroids")
    inv_v2.write.mode("overwrite").parquet(f"{root}/v2/inverted")
    rebuilt = ivf_topk_stored(
        grown,
        spark.read.parquet(f"{root}/v2/centroids"),
        spark.read.parquet(f"{root}/v2/inverted"),
        qv,
        k=20,
    ).select("vec_id")
    brute = brute_force_topk(grown, qv, k=20).select("vec_id")
    return (
        brute.agg(F.count("*").cast("long").alias("n_exact"))
        .crossJoin(
            brute.join(stale, "vec_id").agg(
                F.count("*").cast("long").alias("n_stale_hits")
            )
        )
        .crossJoin(
            brute.join(rebuilt, "vec_id").agg(
                F.count("*").cast("long").alias("n_rebuilt_hits")
            )
        )
        .select(
            "n_exact",
            "n_stale_hits",
            "n_rebuilt_hits",
            (F.col("n_stale_hits").cast("double") / F.col("n_exact")).alias(
                "stale_recall_at_k"
            ),
            (F.col("n_rebuilt_hits").cast("double") / F.col("n_exact")).alias(
                "rebuilt_recall_at_k"
            ),
        )
    )


# --------------------------------------------------------------------------
# C11 supplier→base mapping + S12/S13/S14 mutation sinks + S11/J6 report
# --------------------------------------------------------------------------
@query(
    "map_supplier_to_base",
    _SQL_J1
    + """
    SELECT s.supplier_name AS name, s.article, s.supplier_price AS price,
           s.article AS article_vitya, s.supplier_price AS price_vitya_usd,
           'Витя' AS supplier, CAST(0 AS BIGINT) AS quantity
    FROM supd s LEFT JOIN basd b USING (article) WHERE b.article IS NULL
    """,
)
def map_supplier_to_base_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mistocksync_spark.functions.mapping import map_supplier_to_base

    new = _j1(spark, sf_dir)["new_items"].withColumnRenamed("name", "supplier_name")
    return map_supplier_to_base(
        new, "vitya", article_col="article", price_col="price", name_col="supplier_name"
    ).withColumnRenamed("supplier_name", "name")


_BASE_COLS_SQL = (
    "b.row_id, b.article, b.name, b.color, b.price, b.article_vitya, "
    "b.price_vitya_usd, b.article_dimi, b.price_dimi_usd, b.article_mila, "
    "b.price_mila_usd, b.dup_key"
)


@query(
    "price_merge",
    _SQL_J1
    + f"""
    , upd AS (
        SELECT b.article AS __k, s.new_price AS __np
        FROM (
            SELECT CAST(article_vitya AS STRING) AS article, price_vitya_usd AS old_price
            FROM base_feed WHERE article_vitya IS NOT NULL
        ) b
        JOIN (SELECT article, supplier_price AS new_price FROM supd) s USING (article)
        WHERE abs(s.new_price - b.old_price) >= 0.001
    )
    SELECT {_BASE_COLS_SQL.replace('b.price_vitya_usd, ', '')},
           CASE WHEN u.__np IS NOT NULL AND abs(u.__np - COALESCE(b.price_vitya_usd, 0.0)) >= 0.001
                THEN u.__np ELSE CAST(b.price_vitya_usd AS DOUBLE) END AS price_vitya_usd,
           (u.__np IS NOT NULL AND abs(u.__np - COALESCE(b.price_vitya_usd, 0.0)) >= 0.001) AS updated
    FROM base_feed b LEFT JOIN upd u ON CAST(b.article_vitya AS STRING) = u.__k
    """,
)
def price_merge_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mistocksync_spark.sinks.mutate import price_merge

    sup = _preprocess_vitya(supplier_feed(spark, sf_dir)).na.drop(
        subset=["article_vitya", "price_usd"]
    )
    updates = matching.price_update_join(
        base_feed(spark, sf_dir),
        sup,
        base_article="article_vitya",
        base_price="price_vitya_usd",
        supplier_article="article_vitya",
        supplier_price="price_usd",
    )
    return price_merge(base_feed(spark, sf_dir), updates)


@query(
    "snapshot_diff",
    _SQL_J1
    + """
    , upd AS (
        SELECT b.article AS __k, s.new_price AS __np
        FROM (
            SELECT CAST(article_vitya AS STRING) AS article, price_vitya_usd AS old_price
            FROM base_feed WHERE article_vitya IS NOT NULL
        ) b
        JOIN (SELECT article, supplier_price AS new_price FROM supd) s USING (article)
        WHERE abs(s.new_price - b.old_price) >= 0.001
    )
    SELECT b.row_id, 'price_vitya_usd' AS column,
           CAST(CAST(b.price_vitya_usd AS DOUBLE) AS STRING) AS old_value,
           CAST(u.__np AS STRING) AS new_value,
           'changed' AS change
    FROM base_feed b JOIN upd u ON CAST(b.article_vitya AS STRING) = u.__k
    WHERE abs(u.__np - COALESCE(b.price_vitya_usd, 0.0)) >= 0.001
      AND CAST(CAST(b.price_vitya_usd AS DOUBLE) AS STRING) IS DISTINCT FROM CAST(u.__np AS STRING)
    """,
)
def snapshot_diff_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Version diff between the base snapshot and the merged result — the
    queryable form of the reference's before/after .bak comparison."""
    from mistocksync_spark.sinks.mutate import price_merge, snapshot_diff

    sup = _preprocess_vitya(supplier_feed(spark, sf_dir)).na.drop(
        subset=["article_vitya", "price_usd"]
    )
    updates = matching.price_update_join(
        base_feed(spark, sf_dir),
        sup,
        base_article="article_vitya",
        base_price="price_vitya_usd",
        supplier_article="article_vitya",
        supplier_price="price_usd",
    )
    merged = price_merge(base_feed(spark, sf_dir), updates)
    return snapshot_diff(
        base_feed(spark, sf_dir), merged, key="row_id", compare_cols=["price_vitya_usd"]
    )


def _sql_writeback_matches() -> str:
    product = ORACLES["product_code_match"]
    bracket = ORACLES["bracket_code_match"]
    return f"""
    , wsrc AS (
        SELECT base_index, supplier_article FROM ({product})
        UNION ALL
        SELECT base_index, supplier_article FROM ({bracket})
    )
    , w AS (
        SELECT base_index AS __row, MIN(CAST(supplier_article AS STRING)) AS __art
        FROM wsrc GROUP BY base_index
    )
    """


@query("article_writeback_audit")
def article_writeback_audit_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mistocksync_spark.sinks.mutate import article_writeback

    r = _cascade(spark, sf_dir)
    writes = r["code_matches"].select("base_index", "supplier_article").unionByName(
        r["bracket_matches"].select("base_index", "supplier_article")
    )
    return article_writeback(base_feed(spark, sf_dir), writes, article_slot="article_vitya")["audit"]


ORACLES["article_writeback_audit"] = (
    _CTES
    + _sql_writeback_matches()
    + """
    SELECT b.row_id AS base_row, 'article_vitya' AS column, CAST(b.article_vitya AS STRING) AS old_value,
           w.__art AS new_value,
           CASE WHEN b.article_vitya IS NULL OR trim(CAST(b.article_vitya AS STRING)) = ''
                     OR lower(trim(CAST(b.article_vitya AS STRING))) = 'nan' THEN 'added'
                WHEN trim(CAST(b.article_vitya AS STRING)) = w.__art THEN 'noop'
                ELSE 'skipped_occupied' END AS action
    FROM base_feed b JOIN w ON b.row_id = w.__row
    """
)


@query("row_insert_autonumber")
def row_insert_autonumber_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mistocksync_spark.sinks.mutate import row_insert_autonumber

    r = _cascade(spark, sf_dir)
    return row_insert_autonumber(base_feed(spark, sf_dir), r["new_items_for_base"])


ORACLES["row_insert_autonumber"] = (
    _CTES
    + f"""
    , nif AS (SELECT * FROM ({ORACLES["new_items_for_base"]}))
    , mx AS (SELECT MAX(CAST(article AS BIGINT)) AS m FROM base_feed)
    SELECT nif.*, mx.m + row_number() OVER (ORDER BY supplier_index ASC) AS new_article
    FROM nif, mx
    """
)


@query(
    "report_matches_sheet",
    _CTES
    + f"""
    , m AS (SELECT * FROM ({ORACLES["exact_article_match"]}))
    SELECT m.article, m.name, m.supplier_price, m.base_price, m.price_diff,
           m.price_change_percent, m.base_index,
           b.color AS base_color,
           CAST(b.article_vitya AS STRING) AS base_article_vitya,
           CAST(b.article_dimi AS STRING) AS base_article_dimi,
           b.price AS base_list_price
    FROM m LEFT JOIN base_feed b ON m.base_index = b.row_id
    """,
)
def report_matches_sheet_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mistocksync_spark.sinks.report import matches_sheet

    return matches_sheet(_j1(spark, sf_dir)["matches"], base_feed(spark, sf_dir))


@query(
    "report_price_changes_sheet",
    _CTES
    + f"""
    , pc AS (SELECT * FROM ({ORACLES["price_changes"]}))
    , prep AS ({_SQL_PREP_VITYA})
    , enr AS (
        SELECT CAST(article_vitya AS STRING) AS article, color AS supplier_color,
               balance AS supplier_balance,
               row_number() OVER (PARTITION BY CAST(article_vitya AS STRING) ORDER BY row_id DESC) AS rn
        FROM prep
    )
    SELECT pc.*, e.supplier_color, e.supplier_balance
    FROM pc LEFT JOIN (SELECT article, supplier_color, supplier_balance FROM enr WHERE rn = 1) e
    USING (article)
    """,
)
def report_price_changes_sheet_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mistocksync_spark.sinks.report import price_changes_sheet

    return price_changes_sheet(
        _j1(spark, sf_dir)["price_changes"],
        _preprocess_vitya(supplier_feed(spark, sf_dir)),
        supplier_article="article_vitya",
    )


@query(
    "report_warnings_sheet",
    _CTES
    + f"""
    SELECT * FROM ({ORACLES["exact_article_match"]}) WHERE abs(price_change_percent) > 20.0
    """,
)
def report_warnings_sheet_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mistocksync_spark.sinks.report import warnings_sheet

    return warnings_sheet(_j1(spark, sf_dir)["matches"])


@query("fuzzy_annotated_new_items")
def fuzzy_annotated_new_items_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5: advisory fuzzy annotation of the FULL new-items batch — difflib
    scoring is not SQL-expressible, rows-only check."""
    from mistocksync_spark.operators.fuzzy import annotate_new_items_with_fuzzy

    new = _j1(spark, sf_dir)["new_items"]
    return annotate_new_items_with_fuzzy(
        new, base_feed(spark, sf_dir), blocking="bounded"
    )


# --------------------------------------------------------------------------
# Dimi flow: string-keyed J1 (int-for-vitya / string-for-dimi typing,
# ref main.py:2122-2125, 7144-7182; pandas != null semantics in F3)
# --------------------------------------------------------------------------
_SQL_J1_DIMI = (
    _CTES
    + f"""
    , prep_d AS (
        SELECT row_id, name, color, price_usd,
               {_SQL_CLEAN_DIMI.format(col='article_raw_dimi')} AS article_dimi
        FROM supplier_feed
        WHERE price_usd IS NOT NULL AND price_usd > 0.01
          AND (balance != 'Ожидается' OR balance IS NULL)
          AND (balance1 != 'Ожидается' OR balance1 IS NULL)
    )
    , sup_d AS (
        SELECT CAST(article_dimi AS STRING) AS article, price_usd AS supplier_price,
               name AS supplier_name, row_id AS supplier_index,
               row_number() OVER (PARTITION BY CAST(article_dimi AS STRING) ORDER BY row_id DESC) AS rn
        FROM prep_d WHERE article_dimi IS NOT NULL
    )
    , supd_d AS (SELECT * FROM sup_d WHERE rn = 1)
    , bas_d AS (
        SELECT CAST(article_dimi AS STRING) AS article,
               CASE WHEN price_dimi_usd > 0 THEN price_dimi_usd ELSE 0.0 END AS base_price,
               name AS base_name, row_id AS base_index,
               row_number() OVER (PARTITION BY CAST(article_dimi AS STRING) ORDER BY row_id DESC) AS rn
        FROM base_feed WHERE article_dimi IS NOT NULL
    )
    , basd_d AS (SELECT * FROM bas_d WHERE rn = 1)
    """
)


def _prep_dimi(spark: SparkSession, sf_dir: str) -> DataFrame:
    feed = supplier_feed(spark, sf_dir)
    df = flt.filter_by_price(feed, "price_usd")
    df = flt.filter_dimi_balance(df)
    return df.withColumn("article_dimi", clean_article_dimi(F.col("article_raw_dimi"))).withColumn(
        "supplier_name", F.lit("Дима")
    )


def _j1_dimi(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return matching.exact_article_match(
        _prep_dimi(spark, sf_dir),
        base_feed(spark, sf_dir),
        supplier_article="article_dimi",
        supplier_price="price_usd",
        base_article="article_dimi",
        base_price="price_dimi_usd",
    )


@query(
    "exact_article_match_dimi",
    _SQL_J1_DIMI
    + """
    SELECT s.article, s.supplier_price, b.base_price,
           CASE WHEN s.supplier_name IS NULL OR s.supplier_name = '' THEN b.base_name ELSE s.supplier_name END AS name,
           s.supplier_price - b.base_price AS price_diff,
           CASE WHEN b.base_price > 0 THEN (s.supplier_price - b.base_price) / b.base_price * 100.0 ELSE 0.0 END AS price_change_percent,
           b.base_index
    FROM supd_d s JOIN basd_d b USING (article)
    """,
)
def exact_article_match_dimi_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _j1_dimi(spark, sf_dir)["matches"]


@query(
    "new_items_dimi",
    _SQL_J1_DIMI
    + """
    SELECT s.article, s.supplier_price AS price, s.supplier_name AS name, s.supplier_index
    FROM supd_d s LEFT JOIN basd_d b USING (article) WHERE b.article IS NULL
    """,
)
def new_items_dimi_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _j1_dimi(spark, sf_dir)["new_items"]


# --------------------------------------------------------------------------
# Sessionization: gaps-and-islands batch plan + applyInPandasWithState
# custom stateful streaming operator (north-star extension)
# --------------------------------------------------------------------------
@query(
    "user_sessions",
    """
    WITH l AS (
        SELECT user_id, ts, value, epoch_us(ts) AS us,
               lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us,
               event_id
        FROM events
    ), s AS (
        SELECT *, SUM(CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000 THEN 1 ELSE 0 END)
                  OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS session_idx
        FROM l
    )
    SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
           strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS session_end,
           COUNT(*) AS n_events, floor(CAST(SUM(CAST(floor((value) * 1000000 + 0.5) AS HUGEINT)) AS DOUBLE) / 100.0 + 0.5) / 10000.0 AS sum_value
    FROM s GROUP BY user_id, session_idx
    """,
)
def user_sessions_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mistocksync_spark.sources.testdata import load_events
    from mistocksync_spark.streaming.sessions import sessionize_batch

    return sessionize_batch(load_events(spark, sf_dir))


@query("user_sessions_stream")
def user_sessions_stream_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful-streaming parity run of the sessionizer — with
    Trigger.AvailableNow and flushed open sessions the output is
    deterministic and equals the batch plan, so it shares the batch
    oracle (full hash check, not rows-only)."""
    from mistocksync_spark.streaming.events import read_events_stream
    from mistocksync_spark.streaming.sessions import sessionize_stateful

    return _run_stream(
        spark,
        sessionize_stateful(read_events_stream(spark, sf_dir), flush_open=True),
        "user_sessions_stream_sink",
        "append",
    )


ORACLES["user_sessions_stream"] = ORACLES["user_sessions"]


@query("embedding_topk_ivf")
def embedding_topk_ivf_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF inverted-file ANN (rows-only: numpy centroid assignment is not
    SQL-expressible; recall vs the exact oracle is asserted in tests)."""
    from mistocksync_spark.operators.vectors import ivf_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return ivf_topk(emb, _query_vec(spark, sf_dir), k=20)


@query("embedding_topk_ivf_trained")
def embedding_topk_ivf_trained_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN probing a Lloyd-refined quantizer (rows-only; objective and
    recall improvements are asserted in tests)."""
    from mistocksync_spark.operators.vectors import ivf_topk, ivf_train

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = ivf_train(emb, iterations=2)
    return ivf_topk(emb, _query_vec(spark, sf_dir), k=20, centroids=cents)




@query(
    "embedding_topk_ivf_recall",
    f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    cents AS (
        SELECT row_number() OVER (ORDER BY vec_id ASC) - 1 AS cidx, embedding AS cv
        FROM embeddings ORDER BY vec_id ASC LIMIT 16
    ),
    probes AS (
        SELECT cidx FROM (
            SELECT c.cidx, {_sql_cos('c.cv', 'q.qv')} AS cs FROM cents c, q
        ) ORDER BY cs DESC, cidx ASC LIMIT 4
    ),
    assign AS (
        SELECT vec_id, cidx FROM (
            SELECT e.vec_id, c.cidx,
                   row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY {_sql_cos('e.embedding', 'c.cv')} DESC, c.cidx ASC
                   ) AS rnk
            FROM embeddings e, cents c
        ) WHERE rnk = 1
    ),
    ivf AS (
        SELECT e.vec_id FROM embeddings e
        JOIN assign a USING (vec_id) JOIN probes p ON a.cidx = p.cidx, q
        ORDER BY {_sql_cos('e.embedding', 'q.qv')} DESC, e.vec_id ASC LIMIT 20
    ),
    brute AS (
        SELECT vec_id FROM (
            SELECT e.vec_id, {_sql_cos('e.embedding', 'q.qv')} AS cs FROM embeddings e, q
        ) ORDER BY cs DESC, vec_id ASC LIMIT 20
    )
    SELECT (SELECT COUNT(*) FROM brute) AS n_exact,
           (SELECT COUNT(*) FROM ivf) AS n_ann,
           (SELECT COUNT(*) FROM brute JOIN ivf USING (vec_id)) AS n_hits,
           CAST((SELECT COUNT(*) FROM brute JOIN ivf USING (vec_id)) AS DOUBLE)
               / (SELECT COUNT(*) FROM brute) AS recall_at_k
    """,
)
def embedding_topk_ivf_recall_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-graded recall@20 of the seed-centroid IVF tier vs the exact
    brute-force baseline: the oracle replicates
    the ENTIRE inverted-file path in SQL — the 16 lowest-id seed
    centroids, nearest-centroid assignment (ties break to the lowest
    centroid index, matching numpy argmax-first), the 4-probe selection,
    and the probed candidate top-k — so any recall loss OR numpy-vs-fold
    assignment divergence is a graded hash failure, not a silent drift.
    The recall quotient is an int/int IEEE division — deterministic."""
    from mistocksync_spark.operators.vectors import brute_force_topk, ivf_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qv = _query_vec(spark, sf_dir)
    ivf = ivf_topk(emb, qv, k=20).select("vec_id")
    brute = brute_force_topk(emb, qv, k=20).select("vec_id")
    # 1-row scalar aggregates; the cross joins are trivial 1x1 combines
    return (
        brute.agg(F.count("*").cast("long").alias("n_exact"))
        .crossJoin(ivf.agg(F.count("*").cast("long").alias("n_ann")))
        .crossJoin(
            brute.join(ivf, "vec_id").agg(F.count("*").cast("long").alias("n_hits"))
        )
        .select(
            "n_exact",
            "n_ann",
            "n_hits",
            (F.col("n_hits").cast("double") / F.col("n_exact")).alias("recall_at_k"),
        )
    )


def _sql_ivf_trained_recall(iterations: int = 2, n_probe: int = 4, topk: int = 20) -> str:
    """Oracle for the TRAINED IVF tier: replays the full Lloyd refinement
    in SQL from ``ivf_train``'s determinism contract — micro-unit int
    accumulation (exact, order-free) and ``(sum/1e6)/count`` IEEE centroid
    updates — so the trained quantizer, the probe set, and the candidate
    top-k are all re-derived independently.  The CTE chain is generated
    per iteration: assign_i (argmax cosine, ties to the lowest centroid
    index, matching numpy argmax-first) then cents_i (per-dim micro-sum
    means, empty clusters keeping the previous centroid)."""
    dot_ec = _SQL_DOT.format(a="e.embedding", b="c.cv")
    score = f"CASE WHEN c.nrm > 0 THEN {dot_ec} / c.nrm ELSE 0.0 END"
    blocks = [
        (
            "cents0 AS (SELECT row_number() OVER (ORDER BY vec_id ASC) - 1 AS cidx, "
            f"embedding AS cv, {_SQL_NORM.format(a='embedding')} AS nrm "
            "FROM embeddings ORDER BY vec_id ASC LIMIT 16)"
        ),
        (
            "u AS (SELECT vec_id, unnest(embedding) AS val, "
            "unnest(generate_series(1, len(embedding))) AS dim FROM embeddings)"
        ),
    ]
    prev = "cents0"
    for i in range(1, iterations + 1):
        blocks.append(
            f"""assign{i} AS (
        SELECT vec_id, cidx FROM (
            SELECT e.vec_id, c.cidx,
                   row_number() OVER (
                       PARTITION BY e.vec_id ORDER BY {score} DESC, c.cidx ASC
                   ) AS rnk
            FROM embeddings e, {prev} c
        ) WHERE rnk = 1)"""
        )
        blocks.append(
            f"""cm{i} AS (
        SELECT a.cidx, u.dim,
               CAST(SUM(CAST(floor(CAST(u.val AS DOUBLE) * 1000000 + 0.5) AS HUGEINT)) AS DOUBLE)
                   / 1000000.0 / COUNT(*) AS mval
        FROM assign{i} a JOIN u USING (vec_id)
        GROUP BY a.cidx, u.dim)"""
        )
        blocks.append(
            f"""cents{i} AS (
        SELECT cidx, cv, {_SQL_NORM.format(a='cv')} AS nrm FROM (
            SELECT p.cidx, COALESCE(l.cv, CAST(p.cv AS DOUBLE[])) AS cv
            FROM {prev} p LEFT JOIN (
                SELECT cidx, list(mval ORDER BY dim) AS cv FROM cm{i} GROUP BY cidx
            ) l USING (cidx)))"""
        )
        prev = f"cents{i}"
    dot_qc = _SQL_DOT.format(a="q.qv", b="c.cv")
    qscore = f"CASE WHEN c.nrm > 0 THEN {dot_qc} / c.nrm ELSE 0.0 END"
    blocks += [
        "q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)",
        f"""probes AS (
        SELECT cidx FROM (
            SELECT c.cidx, {qscore} AS cs FROM {prev} c, q
        ) ORDER BY cs DESC, cidx ASC LIMIT {n_probe})""",
        f"""assignF AS (
        SELECT vec_id, cidx FROM (
            SELECT e.vec_id, c.cidx,
                   row_number() OVER (
                       PARTITION BY e.vec_id ORDER BY {score} DESC, c.cidx ASC
                   ) AS rnk
            FROM embeddings e, {prev} c
        ) WHERE rnk = 1)""",
        f"""ivf AS (
        SELECT e.vec_id FROM embeddings e
        JOIN assignF a USING (vec_id) JOIN probes p ON a.cidx = p.cidx, q
        ORDER BY {_sql_cos('e.embedding', 'q.qv')} DESC, e.vec_id ASC LIMIT {topk})""",
        f"""brute AS (
        SELECT vec_id FROM (
            SELECT e.vec_id, {_sql_cos('e.embedding', 'q.qv')} AS cs FROM embeddings e, q
        ) ORDER BY cs DESC, vec_id ASC LIMIT {topk})""",
    ]
    return (
        "WITH "
        + ",\n    ".join(blocks)
        + """
    SELECT (SELECT COUNT(*) FROM brute) AS n_exact,
           (SELECT COUNT(*) FROM ivf) AS n_ann,
           (SELECT COUNT(*) FROM brute JOIN ivf USING (vec_id)) AS n_hits,
           CAST((SELECT COUNT(*) FROM brute JOIN ivf USING (vec_id)) AS DOUBLE)
               / (SELECT COUNT(*) FROM brute) AS recall_at_k
    """
    )


@query("embedding_topk_ivf_trained_recall", _sql_ivf_trained_recall())
def embedding_topk_ivf_trained_recall_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-graded recall@20 of the Lloyd-TRAINED IVF tier vs brute force:
    the oracle independently re-runs the whole 2-iteration k-means
    (possible because ivf_train's micro-int partial sums make the trained
    centroids bit-deterministic), so training drift,
    probe selection, and recall are all graded — converting a rows-only
    entry into a full hash row."""
    from mistocksync_spark.operators.vectors import brute_force_topk, ivf_topk, ivf_train

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qv = _query_vec(spark, sf_dir)
    cents = ivf_train(emb, iterations=2)
    ivf = ivf_topk(emb, qv, k=20, centroids=cents).select("vec_id")
    brute = brute_force_topk(emb, qv, k=20).select("vec_id")
    return (
        brute.agg(F.count("*").cast("long").alias("n_exact"))
        .crossJoin(ivf.agg(F.count("*").cast("long").alias("n_ann")))
        .crossJoin(
            brute.join(ivf, "vec_id").agg(F.count("*").cast("long").alias("n_hits"))
        )
        .select(
            "n_exact",
            "n_ann",
            "n_hits",
            (F.col("n_hits").cast("double") / F.col("n_exact")).alias("recall_at_k"),
        )
    )


@query("embedding_topk_ivf_stored")
def embedding_topk_ivf_stored_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted-index serving tick: train the IVF quantizer,
    WRITE centroids + inverted lists as parquet tables, read them back,
    and answer the probe purely from the stored tables — no re-training,
    no assignment pass, no Python stage in the probe plan.  Rows-only by
    design (the ANN result is graded through the hash-checked
    ``embedding_topk_ivf_stored_recall`` twin, which holds this exact
    path to the SQL-replayed k-means oracle)."""
    import hashlib

    from mistocksync_spark.operators.vectors import (
        ivf_index_tables,
        ivf_topk_stored,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents_df, inverted = ivf_index_tables(emb, iterations=2)
    # the query name is part of the path so sibling entries (the recall
    # twin) never overwrite this entry's tables mid-read
    root = (
        "/tmp/spark_graft_ivf_index/"
        + hashlib.md5(f"embedding_topk_ivf_stored:{sf_dir}".encode()).hexdigest()[:10]
    )
    cents_df.write.mode("overwrite").parquet(f"{root}/centroids")
    inverted.write.mode("overwrite").parquet(f"{root}/inverted")
    return ivf_topk_stored(
        emb,
        spark.read.parquet(f"{root}/centroids"),
        spark.read.parquet(f"{root}/inverted"),
        _query_vec(spark, sf_dir),
        k=20,
    )


@query("embedding_topk_ivf_stored_recall", _sql_ivf_trained_recall())
def embedding_topk_ivf_stored_recall_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-graded recall@20 of the PERSISTED-index probe vs brute force.
    Shares the trained tier's oracle (the SQL replay of the 2-iteration
    k-means + probe + top-k): the stored path must be bit-identical to
    the in-memory trained path through the parquet round-trip, so any
    persistence-introduced drift — truncated centroid, lost inverted-list
    row, probe-order change — is a graded hash failure."""
    import hashlib

    from mistocksync_spark.operators.vectors import (
        brute_force_topk,
        ivf_index_tables,
        ivf_topk_stored,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qv = _query_vec(spark, sf_dir)
    cents_df, inverted = ivf_index_tables(emb, iterations=2)
    root = (
        "/tmp/spark_graft_ivf_index/"
        + hashlib.md5(
            f"embedding_topk_ivf_stored_recall:{sf_dir}".encode()
        ).hexdigest()[:10]
    )
    cents_df.write.mode("overwrite").parquet(f"{root}/centroids")
    inverted.write.mode("overwrite").parquet(f"{root}/inverted")
    ivf = ivf_topk_stored(
        emb,
        spark.read.parquet(f"{root}/centroids"),
        spark.read.parquet(f"{root}/inverted"),
        qv,
        k=20,
    ).select("vec_id")
    brute = brute_force_topk(emb, qv, k=20).select("vec_id")
    return (
        brute.agg(F.count("*").cast("long").alias("n_exact"))
        .crossJoin(ivf.agg(F.count("*").cast("long").alias("n_ann")))
        .crossJoin(
            brute.join(ivf, "vec_id").agg(F.count("*").cast("long").alias("n_hits"))
        )
        .select(
            "n_exact",
            "n_ann",
            "n_hits",
            (F.col("n_hits").cast("double") / F.col("n_exact")).alias("recall_at_k"),
        )
    )


def _sql_pq_recall(m: int = 8, kc: int = 16, iterations: int = 2, topk: int = 20) -> str:
    """Oracle for the PQ tier: replays codebook training (per-subspace
    L2 k-means over NORMALIZED vectors with micro-int accumulation — the
    pq_train determinism contract), encoding, and ADC scoring in SQL.
    The ADC score folds the m table entries in subspace order via an
    ordered-list reduce, matching numpy's sequential accumulation."""
    dsub = 64 // m

    def dot_d(a: str, b: str) -> str:
        return (
            f"list_reduce(list_transform(generate_series(1, {dsub}), "
            f"i -> ({a})[i] * ({b})[i]), (acc, x) -> acc + x)"
        )

    vslice = f"n.v[b.sub*{dsub}+1 : b.sub*{dsub}+{dsub}]"
    qslice = f"q.qv[b.sub*{dsub}+1 : b.sub*{dsub}+{dsub}]"
    score = f"({dot_d(vslice, 'b.bv')} - 0.5 * {dot_d('b.bv', 'b.bv')})"
    blocks = [
        (
            "nv AS (SELECT vec_id, list_transform(embedding, "
            f"x -> CAST(x AS DOUBLE) / greatest({_SQL_NORM.format(a='embedding')}, 1e-12)) AS v "
            "FROM embeddings)"
        ),
        (
            "un AS (SELECT vec_id, unnest(v) AS val, "
            "unnest(generate_series(1, len(v))) AS dim FROM nv)"
        ),
        f"subs AS (SELECT unnest(generate_series(0, {m - 1})) AS sub)",
        (
            "seeds AS (SELECT row_number() OVER (ORDER BY vec_id ASC) - 1 AS code, v "
            f"FROM (SELECT vec_id, v FROM nv ORDER BY vec_id ASC LIMIT {kc}))"
        ),
        (
            f"books0 AS (SELECT s.sub, d.code, d.v[s.sub*{dsub}+1 : s.sub*{dsub}+{dsub}] AS bv "
            "FROM seeds d, subs s)"
        ),
    ]
    prev = "books0"
    passes = [(i, f"passign{i}") for i in range(1, iterations + 1)] + [(None, "passignF")]
    for i, aname in passes:
        blocks.append(
            f"""{aname} AS (
        SELECT vec_id, sub, code FROM (
            SELECT n.vec_id, b.sub, b.code,
                   row_number() OVER (
                       PARTITION BY n.vec_id, b.sub ORDER BY {score} DESC, b.code ASC
                   ) AS rnk
            FROM nv n, {prev} b
        ) WHERE rnk = 1)"""
        )
        if i is None:
            break
        blocks.append(
            f"""pm{i} AS (
        SELECT a.sub, a.code, (u.dim - 1) % {dsub} + 1 AS sdim,
               CAST(SUM(CAST(floor(u.val * 1000000 + 0.5) AS HUGEINT)) AS DOUBLE)
                   / 1000000.0 / COUNT(*) AS mval
        FROM {aname} a JOIN un u
          ON a.vec_id = u.vec_id AND a.sub = (u.dim - 1) // {dsub}
        GROUP BY 1, 2, 3)"""
        )
        blocks.append(
            f"""books{i} AS (
        SELECT p.sub, p.code, COALESCE(l.bv, p.bv) AS bv
        FROM {prev} p LEFT JOIN (
            SELECT sub, code, list(mval ORDER BY sdim) AS bv FROM pm{i} GROUP BY sub, code
        ) l USING (sub, code))"""
        )
        prev = f"books{i}"
    blocks += [
        "qn AS (SELECT v AS qv FROM nv WHERE vec_id = 0)",
        (
            f"qtab AS (SELECT b.sub, b.code, {dot_d('b.bv', qslice)} AS tval "
            f"FROM {prev} b, qn q)"
        ),
        """adc AS (
        SELECT vec_id, round(list_reduce(list(tval ORDER BY sub), (a, b) -> a + b), 6) AS adc_score
        FROM (SELECT a.vec_id, a.sub, t.tval FROM passignF a JOIN qtab t USING (sub, code))
        GROUP BY vec_id)""",
        f"""pq AS (SELECT vec_id FROM adc ORDER BY adc_score DESC, vec_id ASC LIMIT {topk})""",
        "qraw AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)",
        f"""brute AS (
        SELECT vec_id FROM (
            SELECT e.vec_id, {_sql_cos('e.embedding', 'q.qv')} AS cs FROM embeddings e, qraw q
        ) ORDER BY cs DESC, vec_id ASC LIMIT {topk})""",
    ]
    return (
        "WITH "
        + ",\n    ".join(blocks)
        + """
    SELECT (SELECT COUNT(*) FROM brute) AS n_exact,
           (SELECT COUNT(*) FROM pq) AS n_ann,
           (SELECT COUNT(*) FROM brute JOIN pq USING (vec_id)) AS n_hits,
           CAST((SELECT COUNT(*) FROM brute JOIN pq USING (vec_id)) AS DOUBLE)
               / (SELECT COUNT(*) FROM brute) AS recall_at_k
    """
    )


@query("embedding_topk_pq_recall", _sql_pq_recall())
def embedding_topk_pq_recall_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-graded recall@20 of the PQ/ADC tier vs brute force: the
    oracle independently re-trains the per-subspace
    codebooks (possible because pq_train's micro-int partial sums make
    them bit-deterministic), re-encodes the corpus, and re-scores with
    the same ordered ADC fold — so codebook drift, encoding, and recall
    are all graded.  Uses the m=8/16-code configuration; the showcase
    embedding_topk_pq keeps its m=32/32 compression setting."""
    from mistocksync_spark.operators.vectors import brute_force_topk, pq_topk, pq_train

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qv = _query_vec(spark, sf_dir)
    books = pq_train(emb, m=8, k=16, iterations=2)
    pq = pq_topk(emb, qv, books, k=20).select("vec_id")
    brute = brute_force_topk(emb, qv, k=20).select("vec_id")
    return (
        brute.agg(F.count("*").cast("long").alias("n_exact"))
        .crossJoin(pq.agg(F.count("*").cast("long").alias("n_ann")))
        .crossJoin(
            brute.join(pq, "vec_id").agg(F.count("*").cast("long").alias("n_hits"))
        )
        .select(
            "n_exact",
            "n_ann",
            "n_hits",
            (F.col("n_hits").cast("double") / F.col("n_exact")).alias("recall_at_k"),
        )
    )


def _cascade_dimi(spark: SparkSession, sf_dir: str):
    from mistocksync_spark.operators.cascade import perform_comparison

    key = (id(spark), sf_dir, "dimi")
    if key not in _CASCADE_MEMO:
        _CASCADE_MEMO[key] = perform_comparison(
            _prep_dimi(spark, sf_dir),
            base_feed(spark, sf_dir),
            supplier_article="article_dimi",
            supplier_price="price_usd",
            base_article="article_dimi",
            base_price="price_dimi_usd",
            cache=True,
        )
    return _CASCADE_MEMO[key]


def _sql_code_cascade_dimi(code_of, match_type: str) -> str:
    return _sql_code_cascade(
        code_of,
        match_type,
        j1=_SQL_J1_DIMI,
        prep="prep_d",
        supd="supd_d",
        basd="basd_d",
        sup_article="article_dimi",
        base_price_col="price_dimi_usd",
    )


@query("product_code_match_dimi", _sql_code_cascade_dimi(_sql_unified_code, "product_code"))
def product_code_match_dimi_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _cascade_dimi(spark, sf_dir)["code_matches"]


@query("bracket_code_match_dimi", _sql_code_cascade_dimi(lambda c: _SQL_BRACKET.format(col=c), "bracket_code"))
def bracket_code_match_dimi_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _cascade_dimi(spark, sf_dir)["bracket_matches"]


@query(
    "new_items_for_base_dimi",
    _sql_new_for_base(
        j1=_SQL_J1_DIMI,
        prep="prep_d",
        supd="supd_d",
        basd="basd_d",
        sup_article="article_dimi",
        base_price_col="price_dimi_usd",
    ),
)
def new_items_for_base_dimi_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stage-4 residual for the dimi flow — new items minus bracket- and
    code-matched articles, completing the symmetric 4-stage cascade
    (ref main.py:1554-1563 runs the same stages for every supplier)."""
    return _cascade_dimi(spark, sf_dir)["new_items_for_base"]


@query(
    "clean_name",
    _CTES
    + r"""
    SELECT row_id,
           NULLIF(regexp_replace(regexp_replace(name, '^\s+|\s+$', '', 'g'), '\s+', ' ', 'g'), '') AS name_clean
    FROM supplier_feed
    """,
)
def clean_name_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C1: whitespace-collapse + trim with null/empty → null."""
    from mistocksync_spark.functions.cleaning import clean_invisible_chars

    return supplier_feed(spark, sf_dir).select(
        "row_id", clean_invisible_chars(F.col("name")).alias("name_clean")
    )


# --------------------------------------------------------------------------
# Dedup clustering: connected components over the SimHash near-dup pairs
# (min-label propagation; oracle = DuckDB recursive-CTE transitive closure)
# --------------------------------------------------------------------------
@query("dedup_clusters")
def dedup_clusters_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _simhash_cc_labels(spark, sf_dir)


def _dedup_clusters_oracle() -> str:
    return (
        _docs_cte().replace("WITH ", "WITH RECURSIVE ", 1)
        + _sql_simhash_sig()
        + """
    , edges AS (
        SELECT doc_a AS s, doc_b AS d FROM spairs
        UNION ALL SELECT doc_b, doc_a FROM spairs
    )
    , walk(node, reach) AS (
        SELECT s, d FROM edges
        UNION
        SELECT w.node, e.d FROM walk w JOIN edges e ON e.s = w.reach
    )
    SELECT node AS doc_id, LEAST(node, MIN(reach)) AS cluster_id
    FROM walk GROUP BY node
    """
    )


ORACLES["dedup_clusters"] = _dedup_clusters_oracle()


@query("dedup_cluster_histogram")
def dedup_cluster_histogram_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus duplication profile: clusters-per-size over the WHOLE corpus
    (unpaired docs count as singletons) — the dedup stage's headline report
    (operators/dedup.dedup_cluster_histogram)."""
    from mistocksync_spark.operators.dedup import dedup_cluster_histogram
    from mistocksync_spark.plans.feeds import docs_aug

    docs = docs_aug(spark, sf_dir)
    return dedup_cluster_histogram(
        docs.select("doc_id"), labels=_simhash_cc_labels(spark, sf_dir)
    )


ORACLES["dedup_cluster_histogram"] = (
    _dedup_clusters_oracle().rsplit("SELECT node AS doc_id", 1)[0]
    + """
    , labels AS (SELECT node, LEAST(node, MIN(reach)) AS cluster_id FROM walk GROUP BY node)
    , everydoc AS (
        SELECT d.doc_id, COALESCE(l.cluster_id, d.doc_id) AS cluster_id
        FROM docs d LEFT JOIN labels l ON d.doc_id = l.node
    )
    , sizes AS (SELECT cluster_id, COUNT(*) AS cluster_size FROM everydoc GROUP BY cluster_id)
    SELECT cluster_size, CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(SUM(cluster_size) AS BIGINT) AS n_docs
    FROM sizes GROUP BY cluster_size
    """
)


@query("dedup_survivors")
def dedup_survivors_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairs → clusters → one survivor per cluster: the corpus that would be
    written out by a dedup stage (min-id representative kept)."""
    from mistocksync_spark.operators.dedup import dedup_survivors
    from mistocksync_spark.plans.feeds import docs_aug

    docs = docs_aug(spark, sf_dir)
    return dedup_survivors(
        docs.select("doc_id"), labels=_simhash_cc_labels(spark, sf_dir)
    )


ORACLES["dedup_survivors"] = (
    _dedup_clusters_oracle().rsplit("SELECT node AS doc_id", 1)[0]
    + """
    , labels AS (SELECT node, LEAST(node, MIN(reach)) AS cluster_id FROM walk GROUP BY node)
    SELECT d.doc_id FROM docs d
    LEFT JOIN (SELECT node FROM labels WHERE cluster_id <> node) nr ON d.doc_id = nr.node
    WHERE nr.node IS NULL
    """
)


@query(
    "contamination_check",
    r"""
    WITH tok AS (SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS t FROM documents),
    sh AS (
        SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
        FROM tok, UNNEST(generate_series(1, greatest(len(t) - 2, 0))) AS u(i)
    ),
    ev AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 50 = 0)
    SELECT s.doc_id, COUNT(DISTINCT s.shingle) AS n_hits
    FROM sh s JOIN ev ON s.shingle = ev.shingle
    WHERE s.doc_id % 50 <> 0
    GROUP BY s.doc_id HAVING COUNT(DISTINCT s.shingle) >= 2
    """,
)
def contamination_check_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: corpus docs sharing ≥2 word-trigram
    shingles with a held-out eval slice (doc_id % 50 == 0)."""
    from mistocksync_spark.operators.dedup import contamination_check

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus = docs.filter(F.col("doc_id") % 50 != 0)
    eval_set = docs.filter(F.col("doc_id") % 50 == 0)
    return contamination_check(corpus, eval_set, min_overlap=2)


@query("embedding_dedup_survivors")
def embedding_dedup_survivors_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space dedup decision: banded-LSH near-dup pairs → connected
    components → keep the min-id representative per cluster."""
    from mistocksync_spark.operators.dedup import dedup_survivors
    from mistocksync_spark.operators.vectors import cosine_near_dup_pairs
    from mistocksync_spark.plans.feeds import emb_aug

    emb = emb_aug(spark, sf_dir)
    pairs = cosine_near_dup_pairs(emb, threshold=0.99).select(
        F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b")
    )
    return dedup_survivors(emb.select("vec_id"), pairs, id_col="vec_id")


def _embedding_survivors_oracle() -> str:
    sim = (
        f"CASE WHEN a.nrm * b.nrm > 0 THEN "
        f"{_SQL_DOT_VAR.format(a='a.embedding', b='b.embedding')} / (a.nrm * b.nrm) "
        f"ELSE 0.0 END"
    )
    return f"""
    WITH RECURSIVE emb AS ({{emb_aug}}),
    withn AS (
        SELECT vec_id, embedding, {_SQL_NORM.format(a='embedding')} AS nrm FROM emb
    ),
    pairs AS (
        SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
        FROM withn a JOIN withn b ON a.vec_id < b.vec_id
        WHERE {sim} >= 0.99
    ),
    edges AS (
        SELECT doc_a AS s, doc_b AS d FROM pairs
        UNION ALL SELECT doc_b, doc_a FROM pairs
    ),
    walk(node, reach) AS (
        SELECT s, d FROM edges
        UNION
        SELECT w.node, e.d FROM walk w JOIN edges e ON e.s = w.reach
    ),
    labels AS (SELECT node, LEAST(node, MIN(reach)) AS cluster_id FROM walk GROUP BY node)
    SELECT e.vec_id FROM emb e
    LEFT JOIN (SELECT node FROM labels WHERE cluster_id <> node) nr ON e.vec_id = nr.node
    WHERE nr.node IS NULL
    """


def _patch_emb_survivors_oracle():
    from mistocksync_spark.plans.feeds import EMB_AUG_SQL_DUCKDB

    ORACLES["embedding_dedup_survivors"] = _embedding_survivors_oracle().replace(
        "{emb_aug}", EMB_AUG_SQL_DUCKDB
    )


_patch_emb_survivors_oracle()


# --------------------------------------------------------------------------
# Corpus sampling & profiling: deterministic stratified sample, exact
# per-language length quantiles
# --------------------------------------------------------------------------
_SAMPLE_RATES = {"en": 0.25, "zh": 0.75}
_SAMPLE_DEFAULT = 0.5


def _stratified_sample_oracle() -> str:
    def thr(rate: float) -> str:
        return format(min(int(rate * 65536), 65535), "04x")

    whens = " ".join(
        f"WHEN lang = '{s}' THEN '{thr(r)}'" for s, r in sorted(_SAMPLE_RATES.items())
    )
    return f"""
    SELECT doc_id, lang, n_chars FROM documents
    WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)
          < CASE {whens} ELSE '{thr(_SAMPLE_DEFAULT)}' END
    """


@query("stratified_sample", _stratified_sample_oracle())
def stratified_sample_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mistocksync_spark.operators.textual import stratified_sample

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "lang", "n_chars")
    return stratified_sample(docs, _SAMPLE_RATES, _SAMPLE_DEFAULT)


@query(
    "doc_length_quantiles",
    f"""
    WITH g AS ({agg.sql_discrete_quantiles(
        "documents", "lang", "n_chars",
        {"q0": (1, 4), "q1": (1, 2), "q2": (3, 4), "q3": (9, 10)})})
    SELECT lang, CAST([0.25, 0.5, 0.75, 0.9][i] AS DOUBLE) AS quantile,
           CAST([q0, q1, q2, q3][i] AS DOUBLE) AS n_chars_q
    FROM g, UNNEST(generate_series(1, 4)) AS t(i)
    """,
)
def doc_length_quantiles_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mistocksync_spark.operators.textual import length_quantiles

    return length_quantiles(spark.read.parquet(f"{sf_dir}/documents.parquet"))


# --------------------------------------------------------------------------
# As-of join over the events stream: enrich each click with the latest
# at-or-before purchase of the same user (union-merge plan, ONE shuffle)
# --------------------------------------------------------------------------
@query(
    "events_asof",
    """
    WITH purch AS (
        SELECT user_id, ts, MAX(value) AS p_value
        FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts
    ), clicks AS (
        SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'click'
    ), anch AS (
        SELECT c.event_id, c.user_id, c.ts, c.value,
               (SELECT MAX(p.ts) FROM purch p
                WHERE p.user_id = c.user_id AND p.ts <= c.ts) AS asof_ts
        FROM clicks c
    )
    SELECT a.event_id, a.user_id, a.ts, round(a.value, 6) AS click_value,
           a.asof_ts, round(p.p_value, 6) AS asof_value
    FROM anch a LEFT JOIN purch p ON p.user_id = a.user_id AND p.ts = a.asof_ts
    """,
)
def events_asof_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mistocksync_spark.operators.temporal import asof_join
    from mistocksync_spark.sources.testdata import load_events

    ev = load_events(spark, sf_dir)
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts", F.round("value", 6).alias("click_value")
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("p_value"))
    )
    out = asof_join(clicks, purchases, key="user_id", ts="ts", right_value="p_value")
    return out.withColumn("asof_value", F.round("asof_value", 6))


# --------------------------------------------------------------------------
# Rolling trailing-window rate per user (RANGE frame on epoch seconds):
# one shuffle on user_id, two-pointer sliding frame — no self-join
# --------------------------------------------------------------------------
@query(
    "events_rolling_rate",
    """
    SELECT event_id, user_id, ts, event_type,
           COUNT(*) OVER w AS cnt_win,
           CAST(round(SUM(CAST(round(value, 6) AS DECIMAL(18,6))) OVER w, 4) AS DOUBLE) AS sum_win
    FROM events
    WINDOW w AS (
        PARTITION BY user_id
        ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
        RANGE BETWEEN 3599 PRECEDING AND CURRENT ROW
    )
    """,
)
def events_rolling_rate_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mistocksync_spark.operators.temporal import rolling_window_agg
    from mistocksync_spark.sources.testdata import load_events

    ev = load_events(spark, sf_dir).select(
        "event_id", "user_id", "ts", "event_type", F.round("value", 6).alias("value")
    )
    return rolling_window_agg(ev, key="user_id", ts="ts", value="value").withColumnRenamed(
        "value", "__drop"
    ).drop("__drop")


# --------------------------------------------------------------------------
# Near-dup contamination matrix: MinHash-LSH pairs rolled up to unordered
# source pairs (augmented ids map to their original doc via % 1000000)
# --------------------------------------------------------------------------
@query("dup_rate_by_source")
def dup_rate_by_source_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mistocksync_spark.operators.dedup import (
        dup_rate_by_source,
        lsh_bands,
        lsh_candidate_pairs,
        minhash_signatures,
        shingle_table,
    )
    from mistocksync_spark.plans.feeds import docs_aug

    pairs = lsh_candidate_pairs(lsh_bands(minhash_signatures(shingle_table(docs_aug(spark, sf_dir)), 8), 2))
    raw = spark.read.parquet(f"{sf_dir}/documents.parquet")
    aug_meta = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .union(pairs.select("doc_b"))
        .distinct()
        .withColumn("orig_id", F.col("doc_id") % 1000000)
        .join(raw.select(F.col("doc_id").alias("orig_id"), "source"), "orig_id")
        .select("doc_id", "source")
    )
    return dup_rate_by_source(pairs, aug_meta)


ORACLES["dup_rate_by_source"] = f"""
    WITH pairs AS ({ORACLES["minhash_lsh_pairs"]})
    SELECT least(da.source, db.source) AS source_a,
           greatest(da.source, db.source) AS source_b,
           COUNT(*) AS pair_cnt
    FROM pairs p
    JOIN documents da ON da.doc_id = p.doc_a % 1000000
    JOIN documents db ON db.doc_id = p.doc_b % 1000000
    GROUP BY 1, 2
    """


# --------------------------------------------------------------------------
# Round-5 text-pipeline extensions: PII redaction, C4-style boilerplate
# paragraph removal, context-window chunking (operators/textual.py).
# --------------------------------------------------------------------------


def _docs_pii_cte() -> str:
    from mistocksync_spark.plans.feeds import DOCS_PII_SQL

    return f"WITH docsp AS ({DOCS_PII_SQL})"


def _docs_para_cte() -> str:
    from mistocksync_spark.plans.feeds import DOCS_PARA_SQL

    return f"WITH docsp AS ({DOCS_PARA_SQL})"


@query("pii_redact")
def pii_redact_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub with per-class counts over the planted-PII corpus view
    (operators/textual.pii_redact): single scan, zero shuffles, all JVM
    regex expressions."""
    from mistocksync_spark.operators.textual import pii_redact
    from mistocksync_spark.plans.feeds import docs_pii

    return pii_redact(docs_pii(spark, sf_dir))


from mistocksync_spark.operators.textual import (  # noqa: E402
    PII_EMAIL_RE,
    PII_IPV4_RE,
    PII_PHONE_RE,
)

ORACLES["pii_redact"] = (
    _docs_pii_cte()
    + f"""
    SELECT doc_id,
           len(regexp_extract_all(text, '{PII_EMAIL_RE}')) AS n_emails,
           len(regexp_extract_all(text, '{PII_PHONE_RE}')) AS n_phones,
           len(regexp_extract_all(text, '{PII_IPV4_RE}')) AS n_ips,
           regexp_replace(regexp_replace(regexp_replace(
               text, '{PII_EMAIL_RE}', '[EMAIL]', 'g'),
               '{PII_PHONE_RE}', '[PHONE]', 'g'),
               '{PII_IPV4_RE}', '[IP]', 'g') AS text_redacted
    FROM docsp
    """
)

# shared oracle fragment: docs split into 1-indexed (doc_id, pos, para)
_SQL_PARA_TABLE = """
    , tok AS (SELECT doc_id, string_split(text, chr(10)) AS t FROM docsp)
    , p AS (
        SELECT doc_id, i AS pos, t[i] AS para
        FROM tok, UNNEST(generate_series(1, len(t))) AS u(i)
    )
"""


@query("boilerplate_paragraphs")
def boilerplate_paragraphs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document repeated paragraphs (≥3 distinct docs) over the
    planted-boilerplate corpus view (operators/textual.boilerplate_paragraphs)."""
    from mistocksync_spark.operators.textual import boilerplate_paragraphs
    from mistocksync_spark.plans.feeds import docs_para

    return boilerplate_paragraphs(docs_para(spark, sf_dir), min_docs=3)


ORACLES["boilerplate_paragraphs"] = (
    _docs_para_cte()
    + _SQL_PARA_TABLE
    + """
    SELECT para, COUNT(DISTINCT doc_id) AS n_docs
    FROM p GROUP BY para HAVING COUNT(DISTINCT doc_id) >= 3
    """
)


@query("boilerplate_strip")
def boilerplate_strip_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate-removed, order-preserving reassembly of every document
    (operators/textual.boilerplate_strip): explode once, broadcast-anti-join
    the detected set, one groupBy(doc_id)."""
    from mistocksync_spark.operators.textual import boilerplate_strip
    from mistocksync_spark.plans.feeds import docs_para

    return boilerplate_strip(docs_para(spark, sf_dir), min_docs=3)


ORACLES["boilerplate_strip"] = (
    _docs_para_cte()
    + _SQL_PARA_TABLE
    + """
    , b AS (SELECT para FROM p GROUP BY para HAVING COUNT(DISTINCT doc_id) >= 3)
    , k AS (SELECT doc_id, pos, para FROM p
            WHERE NOT EXISTS (SELECT 1 FROM b WHERE b.para = p.para))
    SELECT d.doc_id, COALESCE(string_agg(k.para, chr(10) ORDER BY k.pos), '') AS text_clean
    FROM docsp d LEFT JOIN k ON d.doc_id = k.doc_id
    GROUP BY d.doc_id
    """
)


@query(
    "doc_chunks",
    """
    WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
    , ex AS (
        SELECT doc_id, t, i AS chunk_id
        FROM tok, UNNEST(generate_series(0, greatest((len(t)-1)//48, 0))) AS u(i)
    )
    SELECT doc_id, chunk_id,
           len(list_slice(t, chunk_id*48+1, chunk_id*48+64)) AS n_tokens,
           array_to_string(list_slice(t, chunk_id*48+1, chunk_id*48+64), ' ') AS chunk_text
    FROM ex
    """,
)
def doc_chunks_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping 64-token windows every 48 tokens per document
    (operators/textual.doc_chunks): sequence + posexplode + slice, one scan,
    zero shuffles."""
    from mistocksync_spark.operators.textual import doc_chunks

    return doc_chunks(
        spark.read.parquet(f"{sf_dir}/documents.parquet"), chunk_size=64, stride=48
    )


# --------------------------------------------------------------------------
# Round-5 session additions: journey analytics over events (transition
# matrix, cohort retention, gap-fill+LOCF, z-score anomalies) and two more
# training-data quality gates (Gopher rules, corpus-relative OOV score).
# --------------------------------------------------------------------------


@query(
    "event_transitions",
    """
    WITH pairs AS (
        SELECT lag(event_type) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
                   AS from_type,
               event_type AS to_type
        FROM events
    )
    SELECT from_type, to_type, COUNT(*) AS cnt,
           round(COUNT(*) / SUM(COUNT(*)) OVER (PARTITION BY from_type), 6) AS prob
    FROM pairs WHERE from_type IS NOT NULL
    GROUP BY from_type, to_type
    """,
)
def event_transitions_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical Markov transition matrix over per-user event journeys
    (operators/temporal.transition_matrix): one hash exchange on user_id
    feeds the lag window; normalization runs over the #types² count frame."""
    from mistocksync_spark.operators.temporal import transition_matrix
    from mistocksync_spark.sources.testdata import load_events

    return transition_matrix(load_events(spark, sf_dir))


@query(
    "user_retention",
    """
    WITH act AS (
        SELECT user_id, CAST(ts AS DATE) AS day,
               MIN(CAST(ts AS DATE)) OVER (PARTITION BY user_id) AS cohort
        FROM events
    ), per AS (
        SELECT DISTINCT user_id, cohort, date_diff('day', cohort, day) AS day_offset
        FROM act
    ), grid AS (
        SELECT cohort, day_offset, COUNT(DISTINCT user_id) AS n_users
        FROM per GROUP BY cohort, day_offset
    )
    SELECT strftime(cohort, '%Y-%m-%d') AS cohort_day, day_offset, n_users,
           MAX(CASE WHEN day_offset = 0 THEN n_users END)
               OVER (PARTITION BY cohort) AS cohort_size,
           round(n_users / MAX(CASE WHEN day_offset = 0 THEN n_users END)
               OVER (PARTITION BY cohort), 6) AS retention
    FROM grid
    """,
)
def user_retention_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort-retention matrix (operators/temporal.retention_cohorts):
    first-seen day per user via an unordered window min, distinct
    (user, offset) activity, day-0 size attached over the tiny grid."""
    from mistocksync_spark.operators.temporal import retention_cohorts
    from mistocksync_spark.sources.testdata import load_events

    return retention_cohorts(load_events(spark, sf_dir))


@query(
    "events_gapfill",
    """
    WITH agg AS (
        SELECT event_type AS key, date_trunc('hour', ts) AS b,
               CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS avg_value
        FROM events GROUP BY 1, 2
    ), spans AS (
        SELECT key, MIN(b) AS b0, MAX(b) AS b1 FROM agg GROUP BY key
    ), grid AS (
        SELECT key, UNNEST(generate_series(b0, b1, INTERVAL 1 HOUR)) AS b FROM spans
    ), filled AS (
        SELECT g.key, g.b, a.avg_value FROM grid g LEFT JOIN agg a USING (key, b)
    )
    SELECT key, strftime(b, '%Y-%m-%d %H:%M:%S') AS bucket, avg_value,
           last_value(avg_value IGNORE NULLS) OVER (
               PARTITION BY key ORDER BY b
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_locf,
           CAST(avg_value IS NULL AS INTEGER) AS is_gap
    FROM filled
    """,
)
def events_gapfill_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable gap-fill + LOCF parity (operators/temporal.gapfill_locf):
    dense hourly grid per event_type between first and last observation,
    missing buckets carry the previous bucket's unrounded decimal-sum
    average (bit-identical across engines) and are flagged."""
    from mistocksync_spark.operators.temporal import gapfill_locf
    from mistocksync_spark.sources.testdata import load_events

    return gapfill_locf(load_events(spark, sf_dir))


@query(
    "events_anomaly",
    f"""
    WITH piv AS (
        SELECT event_type, min(value) AS p FROM events GROUP BY event_type
    ), stats AS (
        SELECT e.event_type, p,
               {sql_dec_avg("e.value - p")} AS muc,
               {sql_dec_avg("(e.value - p) * (e.value - p)")} AS ex2c
        FROM events e JOIN piv USING (event_type) GROUP BY e.event_type, p
    ), s AS (
        SELECT event_type, p + muc AS mu,
               sqrt(greatest(ex2c - muc * muc, 0.0)) AS sigma FROM stats
    )
    SELECT e.event_id, e.event_type, round(e.value, 4) AS value_r,
           floor((e.value - s.mu) / s.sigma * 1000.0 + 0.5) / 1000.0 AS zscore
    FROM events e JOIN s USING (event_type)
    WHERE s.sigma > 0 AND abs((e.value - s.mu) / s.sigma) > 3.0
    """,
)
def events_anomaly_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type z-score outliers (operators/aggregates.zscore_outliers):
    #keys-row stat frame broadcast back onto the scan, flagging pass
    shuffle-free; mean/σ from exact micro-int sums of MIN-pivot-centered
    values, so the flags and the rounded z are bit-deterministic AND
    cancellation-safe for large-mean/small-variance groups."""
    from mistocksync_spark.operators.aggregates import zscore_outliers
    from mistocksync_spark.sources.testdata import load_events

    return zscore_outliers(load_events(spark, sf_dir))


def _sql_gopher(src: str = "documents") -> str:
    from mistocksync_spark.operators.textual import (
        GOPHER_BULLET_RE,
        GOPHER_ELLIPSIS_RE,
        GOPHER_MAX_BULLET_FRAC,
        GOPHER_MAX_ELLIPSIS_FRAC,
        GOPHER_MAX_MEAN_WORD_LEN,
        GOPHER_MAX_SYMBOL_RATIO,
        GOPHER_MAX_WORDS,
        GOPHER_MIN_MEAN_WORD_LEN,
        GOPHER_MIN_WORDS,
        GOPHER_SYMBOL_RE,
    )

    return rf"""
    WITH feat AS (
        SELECT doc_id,
               CASE WHEN text IS NULL OR trim(text) = '' THEN 0
                    ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_words,
               length(regexp_replace(text, '\s+', '', 'g')) AS n_nonspace,
               len(regexp_extract_all(text, '{GOPHER_SYMBOL_RE}')) AS n_symbols,
               CASE WHEN text IS NULL OR trim(text) = '' THEN 0
                    ELSE len(string_split(text, chr(10))) END AS n_lines,
               len(regexp_extract_all(text, '{GOPHER_BULLET_RE}')) AS n_bullet,
               len(regexp_extract_all(text, '{GOPHER_ELLIPSIS_RE}')) AS n_ellipsis
        FROM {src}
    ), ratio AS (
        SELECT doc_id, n_words,
               CASE WHEN n_words > 0 THEN n_nonspace / n_words ELSE 0.0 END AS mean_wl,
               CASE WHEN n_words > 0 THEN n_symbols / n_words ELSE 0.0 END AS sym_r,
               CASE WHEN n_lines > 0 THEN n_bullet / n_lines ELSE 0.0 END AS bul_f,
               CASE WHEN n_lines > 0 THEN n_ellipsis / n_lines ELSE 0.0 END AS ell_f
        FROM feat
    )
    SELECT doc_id, n_words,
           round(mean_wl, 4) AS mean_word_len,
           round(sym_r, 4) AS symbol_ratio,
           round(bul_f, 4) AS bullet_frac,
           round(ell_f, 4) AS ellipsis_frac,
           CAST(n_words >= {GOPHER_MIN_WORDS} AND n_words <= {GOPHER_MAX_WORDS}
                AND mean_wl >= {GOPHER_MIN_MEAN_WORD_LEN}
                AND mean_wl <= {GOPHER_MAX_MEAN_WORD_LEN}
                AND sym_r <= {GOPHER_MAX_SYMBOL_RATIO}
                AND bul_f <= {GOPHER_MAX_BULLET_FRAC}
                AND ell_f <= {GOPHER_MAX_ELLIPSIS_FRAC} AS INTEGER) AS pass_gopher
    FROM ratio
    """


@query("gopher_quality", _sql_gopher())
def gopher_quality_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-rule quality gate (operators/textual.gopher_rules): published
    word-count / word-length / symbol / bullet / ellipsis thresholds as
    pure column expressions — one scan, zero shuffles.  Threshold
    comparisons run on the UNROUNDED shared subexpressions both engines
    compute with single IEEE ops, so the pass flag is exact."""
    from mistocksync_spark.operators.textual import gopher_rules

    return gopher_rules(spark.read.parquet(f"{sf_dir}/documents.parquet"))


@query(
    "rare_token_score",
    r"""
    WITH tok AS (
        SELECT doc_id, token FROM (
            SELECT doc_id,
                   unnest(regexp_split_to_array(lower(text), '\s+')) AS token
            FROM documents
        ) WHERE token <> ''
    ), freq AS (
        SELECT token, COUNT(*) AS cnt FROM tok GROUP BY token
    ), total AS (
        SELECT SUM(cnt) AS t FROM freq
    ), vocab AS (
        SELECT token FROM freq, total WHERE cnt >= ceil(t * 0.0001)
    )
    SELECT t.doc_id, COUNT(*) AS n_tokens, COUNT(v.token) AS n_in_vocab,
           round(1.0 - COUNT(v.token) / COUNT(*), 6) AS oov_fraction
    FROM tok t LEFT JOIN vocab v USING (token)
    GROUP BY t.doc_id
    """,
)
def rare_token_score_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-relative OOV fraction per document (operators/textual.
    rare_token_score): vocabulary = tokens with ≥1e-4 of total token mass
    (≤10k entries by construction → always broadcastable); the exploded
    stream shuffles exactly twice."""
    from mistocksync_spark.operators.textual import rare_token_score

    return rare_token_score(
        spark.read.parquet(f"{sf_dir}/documents.parquet"), rel_threshold=1e-4
    )


@query("event_transitions_stream")
def event_transitions_stream_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful-streaming parity run of the transition matrix: the
    (from, to) pair stream comes from ``applyInPandasWithState`` (O(1)
    state per user — the last event), counted downstream; with
    Trigger.AvailableNow over the static file the result equals the batch
    lag-window plan, so it shares the batch oracle (full hash check)."""
    from mistocksync_spark.operators.temporal import transition_counts
    from mistocksync_spark.streaming.events import read_events_stream
    from mistocksync_spark.streaming.transitions import transition_pairs_stateful

    return transition_counts(_run_stream(
        spark,
        transition_pairs_stateful(read_events_stream(spark, sf_dir)),
        "event_transitions_stream_sink",
        "append",
    ))


ORACLES["event_transitions_stream"] = ORACLES["event_transitions"]


@query(
    "embedding_quantize",
    r"""
    WITH q AS (
        SELECT vec_id, embedding,
               list_max(list_transform(embedding, x -> abs(x))) AS maxabs
        FROM embeddings
    ), s AS (
        SELECT vec_id, embedding,
               -- CAST: 127.0 / FLOAT stays FLOAT in DuckDB; Spark's
               -- lit(127.0)/float is DOUBLE — align the arithmetic type
               CASE WHEN maxabs > 0 THEN 127.0 / CAST(maxabs AS DOUBLE) ELSE 0.0 END AS scale
        FROM q
    )
    SELECT vec_id, len(embedding) AS n_dims,
           round(scale, 6) AS scale_r,
           CASE WHEN scale > 0 THEN CAST(list_reduce(
               list_transform(embedding, x -> CAST(round(x * scale) AS BIGINT)),
               (a, b) -> a + b) AS BIGINT) ELSE 0 END AS sum_q,
           CASE WHEN scale > 0 THEN round(list_reduce(
               list_transform(embedding,
                   x -> pow(x - round(x * scale) / scale, 2)),
               (a, b) -> a + b), 9) ELSE 0.0 END AS recon_err_r
    FROM s
    """,
)
def embedding_quantize_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar quantization audit over the embeddings corpus
    (operators/vectors.quantize_int8): one scan, zero shuffles; the
    reconstruction error folds strictly left-to-right in BOTH engines, so
    the hash parity is exact, not margin-based."""
    from mistocksync_spark.operators.vectors import quantize_int8

    return quantize_int8(spark.read.parquet(f"{sf_dir}/embeddings.parquet"))


@query(
    "events_value_histogram",
    """
    WITH mm AS (SELECT MIN(value) AS lo, MAX(value) AS hi FROM events),
    b AS (
        SELECT CASE WHEN (hi - lo) / 20 > 0
                    THEN CAST(least(floor((value - lo) / ((hi - lo) / 20)), 19) AS BIGINT)
                    ELSE 0 END AS bin,
               lo, hi
        FROM events, mm
    )
    SELECT bin,
           round(lo + bin * ((hi - lo) / 20), 6) AS bin_lo,
           round(lo + (bin + 1) * ((hi - lo) / 20), 6) AS bin_hi,
           COUNT(*) AS cnt
    FROM b GROUP BY bin, lo, hi
    """,
)
def events_value_histogram_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-width 20-bucket histogram over event values
    (operators/aggregates.value_histogram): 1-row bounds broadcast back,
    one ≤nbins-row partial-agg shuffle."""
    from mistocksync_spark.operators.aggregates import value_histogram
    from mistocksync_spark.sources.testdata import load_events

    return value_histogram(load_events(spark, sf_dir), nbins=20)


def _sql_numeric_profile() -> str:
    # CAST(SUM(...) AS BIGINT): DuckDB's SUM over integers returns
    # HUGEINT, which a pandas-path fetch renders as float64 ("0.0" vs
    # Spark's "0") — the CORRECTNESS_r07 hash-FAIL root cause.  Every
    # integer output column must leave the oracle as BIGINT.
    cols = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    micro = "SUM(CAST(floor(({c}) * 1000000 + 0.5) AS HUGEINT))"
    parts = [
        f"""
        SELECT '{c}' AS column_name, COUNT({c}) AS n_values,
               CAST(SUM(CAST({c} IS NULL AS BIGINT)) AS BIGINT) AS n_nulls,
               CAST(MIN({c}) AS DOUBLE) + 0.0 AS min_v,
               CAST(MAX({c}) AS DOUBLE) + 0.0 AS max_v,
               CAST(floor(CAST({micro.format(c=c)} AS DOUBLE) / COUNT({c})) AS BIGINT) AS avg_micro,
               CAST(floor(CAST({micro.format(c=c)} AS DOUBLE) / 10000.0 + 0.5) AS BIGINT) AS sum_centi
        FROM lineitem
        """
        for c in cols
    ]
    return " UNION ALL ".join(parts)


@query("lineitem_profile", _sql_numeric_profile())
def lineitem_profile_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """describe-parity profiler over lineitem's numeric measures
    (operators/aggregates.numeric_profile): every statistic for every
    column computes in ONE full-scan aggregate; rows unpivot via explode."""
    from mistocksync_spark.operators.aggregates import numeric_profile

    return numeric_profile(
        spark.read.parquet(f"{sf_dir}/lineitem.parquet"),
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
    )


@query("embedding_topk_pq")
def embedding_topk_pq_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ADC top-k (rows-only: numpy codebook training
    and the gather-scored scan are not SQL-expressible; recall vs the
    exact brute-force oracle is asserted in tests).  Completes the ANN
    ladder — brute (exact) / LSH buckets (no build) / IVF (coarse
    partitions) / PQ (compressed codes) — each a different 100 TB
    memory/recall trade."""
    from mistocksync_spark.operators.vectors import pq_topk, pq_train

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    books = pq_train(emb, m=32, k=32, iterations=2)
    return pq_topk(emb, _query_vec(spark, sf_dir), books, k=20)


@query(
    "q3_shipping_priority",
    """
    SELECT l.l_orderkey,
           floor(CAST(SUM(CAST(floor((l.l_extendedprice * (1 - l.l_discount)) * 1000000 + 0.5) AS HUGEINT)) AS DOUBLE) / 10000.0 + 0.5) / 100.0 AS revenue,
           strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-01-01'
      AND l.l_shipdate > TIMESTAMP '1998-01-01'
    GROUP BY l.l_orderkey, o.o_orderdate
    ORDER BY revenue DESC, l.l_orderkey ASC
    LIMIT 10
    """,
)
def q3_shipping_priority_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape over the three-table star: segment-filtered customers
    join orders join lineitem, revenue per order, top 10.  The plan the
    engine must produce at 100 TB: both date/segment filters PUSHED into
    the parquet scans, the filtered customer side BROADCAST into orders,
    and only the orders↔lineitem join shuffling on the fact keys (plan
    test pins no-cartesian + pushed filters; AQE handles skew)."""
    cust = (
        spark.read.parquet(f"{sf_dir}/customer.parquet")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    orders = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .filter(F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
        .select("o_orderkey", "o_custkey", "o_orderdate")
    )
    li = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .filter(F.col("l_shipdate") > F.lit("1998-01-01").cast("timestamp"))
        .select("l_orderkey", "l_extendedprice", "l_discount")
    )
    joined = li.join(
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey),
        li.l_orderkey == orders.o_orderkey,
    )
    return (
        joined.groupBy("l_orderkey", "o_orderdate")
        .agg(dec_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 2).alias("revenue"))
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )


def _docs_url_cte() -> str:
    from mistocksync_spark.plans.feeds import DOCS_URL_SQL

    return f"WITH docsu AS ({DOCS_URL_SQL})"


def _sql_url_audit() -> str:
    from mistocksync_spark.operators.textual import (
        DEFAULT_URL_BLOCKLIST,
        URL_DOMAIN_RE,
        URL_RE,
    )

    blocked = ", ".join(f"'{d}'" for d in DEFAULT_URL_BLOCKLIST)
    return (
        _docs_url_cte()
        + f"""
    , u AS (
        SELECT doc_id,
               list_transform(regexp_extract_all(text, '{URL_RE}'),
                              x -> regexp_extract(x, '{URL_DOMAIN_RE}', 1)) AS domains
        FROM docsu
    )
    SELECT doc_id, len(domains) AS n_urls,
           len(list_filter(domains, d -> d IN ({blocked}))) AS n_blocked,
           CAST(len(list_filter(domains, d -> d IN ({blocked}))) = 0 AS INTEGER) AS keep
    FROM u
    """
    )


@query("url_audit", _sql_url_audit())
def url_audit_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style URL/blocklist audit over the planted-URL corpus view
    (operators/textual.url_audit): regex/array expressions, one scan,
    zero shuffles."""
    from mistocksync_spark.operators.textual import url_audit
    from mistocksync_spark.plans.feeds import docs_url

    return url_audit(docs_url(spark, sf_dir))


def _sql_domain_histogram() -> str:
    from mistocksync_spark.operators.textual import URL_DOMAIN_RE, URL_RE

    return (
        _docs_url_cte()
        + f"""
    , d AS (
        SELECT doc_id, unnest(list_transform(regexp_extract_all(text, '{URL_RE}'),
                              x -> regexp_extract(x, '{URL_DOMAIN_RE}', 1))) AS domain
        FROM docsu
    )
    SELECT domain, COUNT(DISTINCT doc_id) AS n_docs, COUNT(*) AS n_mentions
    FROM d GROUP BY domain
    """
    )


@query("domain_histogram", _sql_domain_histogram())
def domain_histogram_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide domain frequency over the planted-URL view
    (operators/textual.domain_histogram): explode + ONE map-side-partial
    aggregation keyed by domain."""
    from mistocksync_spark.operators.textual import domain_histogram
    from mistocksync_spark.plans.feeds import docs_url

    return domain_histogram(docs_url(spark, sf_dir))


@query("dedup_graph_degrees")
def dedup_graph_degrees_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree histogram of the MinHash-LSH candidate graph
    (operators/dedup.similarity_graph_degrees): explode endpoints + two
    shrinking partial-agg groupBys over the pair list."""
    from mistocksync_spark.operators.dedup import similarity_graph_degrees

    return similarity_graph_degrees(_minhash_pairs_shared(spark, sf_dir))


ORACLES["dedup_graph_degrees"] = f"""
    WITH pairs AS ({ORACLES["minhash_lsh_pairs"]})
    , ends AS (
        SELECT doc_a AS doc_id FROM pairs UNION ALL SELECT doc_b FROM pairs
    ), deg AS (
        SELECT doc_id, COUNT(*) AS degree FROM ends GROUP BY doc_id
    )
    SELECT degree, COUNT(*) AS n_docs FROM deg GROUP BY degree
    """


@query(
    "events_winsorized",
    f"""
    WITH t AS ({agg.sql_discrete_quantiles(
        "events", "event_type", "value",
        {"__plo": (1, 100), "__phi": (99, 100)})})
    SELECT e.event_type, COUNT(*) AS n,
           CAST(SUM(CAST(e.value < t.__plo AS BIGINT)) AS BIGINT) AS n_clipped_low,
           CAST(SUM(CAST(e.value > t.__phi AS BIGINT)) AS BIGINT) AS n_clipped_high,
           CAST(floor(CAST(SUM(CAST(floor((least(greatest(e.value, t.__plo), t.__phi)) * 1000000 + 0.5) AS HUGEINT)) AS DOUBLE) / COUNT(least(greatest(e.value, t.__plo), t.__phi))) AS BIGINT) AS mean_winsorized_micro,
           MIN(t.__plo) AS p_lo, MIN(t.__phi) AS p_hi
    FROM events e JOIN t USING (event_type)
    GROUP BY e.event_type
    """,
)
def events_winsorized_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized per-type value statistics (operators/aggregates.
    winsorized_stats): discrete-quantile thresholds (interpolation-free,
    data-independent parity) broadcast back, second pass map-side-partial
    only; every integer column leaves the oracle as BIGINT (never
    HUGEINT — the pandas fetch path renders HUGEINT as float64, the
    CORRECTNESS_r07 hash-FAIL root cause)."""
    from mistocksync_spark.operators.aggregates import winsorized_stats
    from mistocksync_spark.sources.testdata import load_events

    return winsorized_stats(load_events(spark, sf_dir))


def _sql_frame_manifest() -> str:
    seed = _SQL_HEX8.format(sha="sha256(text)")
    return f"""
    WITH d AS (
        SELECT doc_id AS media_id,
               CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS modality,
               round(({seed} % 36000) / 10.0, 1) AS duration_sec
        FROM documents
    ), p AS (
        SELECT media_id, modality, COALESCE(duration_sec, 0.0) AS dur
        FROM d WHERE modality <> 'image'
    ), n_ AS (
        -- CAST(floor(...) AS BIGINT): Spark's cast(double -> long)
        -- truncates while DuckDB's rounds, so floor first
        SELECT *, greatest(CAST(floor(dur / 2.0) AS BIGINT), 1) AS n_raw,
               least(greatest(CAST(floor(dur / 2.0) AS BIGINT), 1), 16) AS n
        FROM p
    ), e_ AS (
        SELECT *, CASE WHEN n_raw > 16 THEN dur / CAST(n AS DOUBLE)
                       WHEN n > 1 THEN 2.0 ELSE 0.0 END AS eff
        FROM n_
    )
    SELECT media_id, modality, n AS n_samples, idx AS sample_idx,
           floor(idx * eff * 1000.0 + 0.5) / 1000.0 AS sample_t_sec
    FROM e_, unnest(generate_series(0, n - 1)) AS t(idx)
    """


@query("media_frame_manifest", _sql_frame_manifest())
def media_frame_manifest_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling schedule over the media table, fully hash-graded:
    the sha-seeded deterministic-fake durations are SQL-expressible (the
    ``media_features`` oracle already replicates them), so the oracle
    re-derives duration → stride/cap schedule → explode independently.
    The sample timestamp uses the IEEE floor-round (bit-identical
    cross-engine; plain round(x, 3) splits on the k/160 half cases a
    stretched stride produces)."""
    from mistocksync_spark.operators.multimodal import (
        extract_features,
        frame_sample_manifest,
        media_from_documents,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    feats = extract_features(media_from_documents(docs))
    out = frame_sample_manifest(feats.filter(F.col("modality") != "image"))
    return out.withColumn("sample_idx", F.col("sample_idx").cast("long"))


_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


@query(
    "events_pivot_daily",
    """
    SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
           COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS click,
           COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS error,
           COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
           COUNT(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
           COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS view
    FROM events GROUP BY 1
    """,
)
def events_pivot_daily_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native pivot: day × event-type count matrix.  The EXPLICIT value
    list keeps the schema static (no extra distinct-values job, no
    schema drift when a type is absent at small SF) — the form that
    compiles to ONE partial-agg shuffle of conditional counts, exactly
    the plan the SQL oracle's CASE aggregation describes."""
    from mistocksync_spark.sources.testdata import load_events

    ev = load_events(spark, sf_dir)
    return (
        ev.groupBy(F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("day"))
        .pivot("event_type", _EVENT_TYPES)
        .agg(F.count(F.lit(1)))
        .na.fill(0, _EVENT_TYPES)
    )


@query(
    "events_rollup",
    """
    SELECT event_type, strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
           COUNT(*) AS cnt, floor(CAST(SUM(CAST(floor((value) * 1000000 + 0.5) AS HUGEINT)) AS DOUBLE) / 100.0 + 0.5) / 10000.0 AS sum_value
    FROM events GROUP BY ROLLUP (event_type, strftime(CAST(ts AS DATE), '%Y-%m-%d'))
    """,
)
def events_rollup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical totals via native ROLLUP: (type, day) cells, per-type
    subtotals, and the grand total in ONE aggregation pass (Spark expands
    grouping sets inside the same hash aggregate — no union of re-scans);
    NULL group markers match the SQL standard on both engines."""
    from mistocksync_spark.sources.testdata import load_events

    ev = load_events(spark, sf_dir)
    return ev.rollup(
        "event_type", F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("day")
    ).agg(F.count("*").alias("cnt"), dec_sum("value", 4).alias("sum_value"))


@query(
    "orders_referential_audit",
    """
    SELECT 'orders_without_customer' AS check_name,
           (SELECT COUNT(*) FROM orders o
            WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)) AS n_violations
    UNION ALL
    SELECT 'lineitems_without_order',
           (SELECT COUNT(*) FROM lineitem l
            WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
    UNION ALL
    SELECT 'customers_without_nation',
           (SELECT COUNT(*) FROM customer c
            WHERE NOT EXISTS (SELECT 1 FROM nation n WHERE n.n_nationkey = c.c_nationkey))
    """,
)
def orders_referential_audit_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit across the order star: orphaned
    orders/lineitems/customers counted via LEFT ANTI joins (each a
    broadcast of the distinct key side where small, else a shuffled
    anti) — the data-quality gate a warehouse runs after every load.
    Three tiny count rows union driver-free."""
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    n = spark.read.parquet(f"{sf_dir}/nation.parquet")

    def orphans(child, child_key, parent, parent_key, name):
        cnt = (
            child.select(F.col(child_key))
            .join(
                F.broadcast(parent.select(F.col(parent_key).alias(child_key)).distinct()),
                on=child_key,
                how="left_anti",
            )
            .agg(F.count("*").alias("n_violations"))
        )
        return cnt.select(F.lit(name).alias("check_name"), "n_violations")

    return (
        orphans(o, "o_custkey", c, "c_custkey", "orders_without_customer")
        .unionByName(orphans(li, "l_orderkey", o, "o_orderkey", "lineitems_without_order"))
        .unionByName(orphans(c, "c_nationkey", n, "n_nationkey", "customers_without_nation"))
    )


@query(
    "q5_local_supplier_volume",
    """
    SELECT n.n_name AS nation,
           floor(CAST(SUM(CAST(floor((l.l_extendedprice * (1 - l.l_discount)) * 1000000 + 0.5) AS HUGEINT)) AS DOUBLE) / 10000.0 + 0.5) / 100.0 AS revenue,
           COUNT(*) AS n_lineitems
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey AND s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '2000-01-01'
    GROUP BY n.n_name
    """,
)
def q5_local_supplier_volume_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: six-table join graph where customer AND supplier
    must share a nation inside one region — local-supplier revenue per
    nation.  The 100 TB plan: region/nation/supplier/customer dims all
    BROADCAST (explicitly marked; supplier/customer carry only their
    keys + nationkey after pruning), so the only shuffles are the
    orders↔lineitem fact join and the final #nations-row aggregate —
    the fact table is never repartitioned twice."""
    r = spark.read.parquet(f"{sf_dir}/region.parquet").filter(F.col("r_name") == "ASIA")
    n = spark.read.parquet(f"{sf_dir}/nation.parquet").join(
        F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey")
    )
    c = spark.read.parquet(f"{sf_dir}/customer.parquet").select("c_custkey", "c_nationkey")
    s = spark.read.parquet(f"{sf_dir}/supplier.parquet").select("s_suppkey", "s_nationkey")
    o = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("2000-01-01").cast("timestamp"))
        )
        .select("o_orderkey", "o_custkey")
    )
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    j = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), F.col("o_custkey") == c.c_custkey)
        .join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .join(
            F.broadcast(n),
            (F.col("c_nationkey") == F.col("n_nationkey"))
            & (F.col("s_nationkey") == F.col("n_nationkey")),
        )
    )
    return j.groupBy(F.col("n_name").alias("nation")).agg(
        dec_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 2).alias("revenue"),
        F.count(F.lit(1)).alias("n_lineitems"),
    )


def _sql_corpus_prepare() -> str:
    return f"""
    WITH g AS ({_sql_gopher()}),
    o AS ({ORACLES["rare_token_score"]}),
    d AS (
        SELECT doc_id, doc_id <> MIN(doc_id) OVER (PARTITION BY md5(text)) AS is_dup
        FROM documents
    ), r AS (
        SELECT g.doc_id, g.n_words,
               COALESCE(o.oov_fraction, 0.0) AS oov_r,
               CASE WHEN d.is_dup THEN 'duplicate'
                    WHEN g.pass_gopher = 0 THEN 'gopher'
                    WHEN o.oov_fraction > 0.5 THEN 'rare_tokens'
                    ELSE 'ok' END AS reason
        FROM g JOIN d USING (doc_id) LEFT JOIN o ON g.doc_id = o.doc_id
    )
    SELECT doc_id, n_words, oov_r, reason,
           CAST(reason = 'ok' AS INTEGER) AS keep
    FROM r
    """


@query("corpus_prepare", _sql_corpus_prepare())
def corpus_prepare_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end training-data decision pipeline (operators/textual.
    corpus_prepare): exact dedup + Gopher rules + OOV gate composed into
    one declarative plan — one decision row per document with the first
    failing gate as the reason."""
    from mistocksync_spark.operators.textual import corpus_prepare

    return corpus_prepare(spark.read.parquet(f"{sf_dir}/documents.parquet"))


@query(
    "events_value_deciles",
    """
    WITH r AS (
        SELECT event_type, value,
               ntile(10) OVER w AS decile,
               percent_rank() OVER w AS pr
        FROM events
        WINDOW w AS (PARTITION BY event_type ORDER BY value ASC, event_id ASC)
    )
    SELECT event_type, decile, COUNT(*) AS n,
           round(MIN(value), 4) AS lo, round(MAX(value), 4) AS hi,
           CAST(SUM(CAST(floor((pr) * 1000000 + 0.5) AS HUGEINT)) AS DOUBLE) / 1000000.0 / COUNT(pr) AS mean_pr
    FROM r GROUP BY event_type, decile
    """,
)
def events_value_deciles_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed rank parity: per-type deciles via ntile(10) + percent_rank
    over a TOTAL order (value, event_id — ties broken deterministically),
    collapsed to one row per (type, decile).  ONE raw-data shuffle (the
    per-type window), then a tiny partial-agg groupBy; both engines
    follow the SQL-standard ceil-then-floor ntile distribution, so the
    bucket boundaries are identical."""
    from pyspark.sql import Window

    from mistocksync_spark.sources.testdata import load_events

    ev = load_events(spark, sf_dir)
    w = Window.partitionBy("event_type").orderBy(F.col("value").asc(), F.col("event_id").asc())
    r = ev.select(
        "event_type",
        "value",
        F.ntile(10).over(w).alias("decile"),
        F.percent_rank().over(w).alias("pr"),
    )
    return r.groupBy("event_type", "decile").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.min("value"), 4).alias("lo"),
        F.round(F.max("value"), 4).alias("hi"),
        dec_avg("pr").alias("mean_pr"),
    )


@query(
    "events_forecast_snaive",
    """
    WITH agg AS (
        SELECT event_type AS key, date_trunc('hour', ts) AS b,
               CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS avg_value
        FROM events GROUP BY 1, 2
    ), anchored AS (
        SELECT key, b, avg_value, MAX(b) OVER (PARTITION BY key) AS last_b
        FROM agg
    )
    SELECT key,
           strftime(b + INTERVAL 24 HOUR, '%Y-%m-%d %H:%M:%S') AS bucket,
           avg_value AS pred_value,
           strftime(b, '%Y-%m-%d %H:%M:%S') AS basis_bucket
    FROM anchored WHERE b > last_b - INTERVAL 24 HOUR
    """,
)
def events_forecast_snaive_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive 24-hour forecast per event type (operators/temporal.
    seasonal_naive_forecast): one partial-agg shuffle, anchor via window
    max over the aggregated frame, horizon = filter + timestamp shift."""
    from mistocksync_spark.operators.temporal import seasonal_naive_forecast
    from mistocksync_spark.sources.testdata import load_events

    return seasonal_naive_forecast(load_events(spark, sf_dir))


@query(
    "events_mad_outliers",
    f"""
    WITH med AS ({agg.sql_discrete_quantiles(
        "events", "event_type", "value", {"__med": (1, 2)})}),
    dev AS (
        SELECT e.event_id, e.event_type, e.value, m.__med,
               abs(e.value - m.__med) AS __dev
        FROM events e JOIN med m USING (event_type)
    ), mad AS ({agg.sql_discrete_quantiles(
        "dev", "event_type", "__dev", {"__mad": (1, 2)})})
    SELECT d.event_id, d.event_type, d.value AS value_v,
           CAST(floor((d.value - d.__med) / t.__mad * 1000.0 + 0.5) AS BIGINT) AS robust_z_milli
    FROM dev d JOIN mad t USING (event_type)
    WHERE t.__mad > 0 AND abs((d.value - d.__med) / t.__mad) > 5.0
    """,
)
def events_mad_outliers_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median/MAD robust outlier flags (operators/aggregates.mad_outliers):
    two discrete-median rank windows collapse to #keys-row frames that
    broadcast back; flagging pass shuffle-free.  Discrete (type-1)
    medians are actual data values, so the cut is a fixed IEEE op
    sequence on identical inputs — no interpolated percentile, no
    round(double), no derived-float output (the z is an exact milli
    integer)."""
    from mistocksync_spark.operators.aggregates import mad_outliers
    from mistocksync_spark.sources.testdata import load_events

    return mad_outliers(load_events(spark, sf_dir))


@query(
    "events_forecast_backtest",
    """
    WITH agg AS (
        SELECT event_type AS key, date_trunc('hour', ts) AS b,
               CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS v
        FROM events GROUP BY 1, 2
    ), anchored AS (
        SELECT key, b, v, MAX(b) OVER (PARTITION BY key) AS last_b FROM agg
    ), actual AS (
        SELECT key, b, v AS a FROM anchored WHERE b > last_b - INTERVAL 24 HOUR
    ), pred AS (
        SELECT key, b + INTERVAL 24 HOUR AS b, v AS p FROM agg
    ), j AS (
        SELECT actual.key, abs(p - a) AS err,
               CASE WHEN (abs(p) + abs(a)) / 2 > 0
                    THEN abs(p - a) / ((abs(p) + abs(a)) / 2) ELSE 0.0 END AS st
        FROM actual JOIN pred USING (key, b)
    )
    SELECT key, COUNT(*) AS n_scored,
           CAST(SUM(CAST(floor((err) * 1000000 + 0.5) AS HUGEINT)) AS DOUBLE) / 1000000.0 / COUNT(err) AS mae,
           CAST(SUM(CAST(floor((st) * 1000000 + 0.5) AS HUGEINT)) AS DOUBLE) / 1000000.0 / COUNT(st) AS smape
    FROM j GROUP BY key
    """,
)
def events_forecast_backtest_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scored backtest of the seasonal-naive forecaster (operators/
    temporal.seasonal_naive_backtest): MAE + sMAPE per key over the last
    observed season, both sides projections of ONE aggregated frame."""
    from mistocksync_spark.operators.temporal import seasonal_naive_backtest
    from mistocksync_spark.sources.testdata import load_events

    return seasonal_naive_backtest(load_events(spark, sf_dir))


def _sql_mixture_apply() -> str:
    # a 20k-token budget (vs the planner query's 1M) so the sampling coin
    # actually drops rows at sf0.01 — a keep-everything oracle would not
    # discriminate
    plan_sql = _SQL_MIXTURE_PLAN.replace("CAST(1000000 AS DOUBLE)", "CAST(20000 AS DOUBLE)")
    return f"""
    WITH plan AS ({plan_sql})
    SELECT d.doc_id, d.source
    FROM documents d JOIN plan p ON d.source = p.source
    WHERE p.sample_rate >= 1.0
       OR substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 4)
          < printf('%04x', CAST(floor(least(p.sample_rate * 65536, 65535)) AS INT))
    """


@query("mixture_apply", _sql_mixture_apply())
def mixture_apply_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Execute the data-mixture plan (operators/textual.mixture_apply):
    the #strata-row plan broadcasts onto the documents scan and the
    deterministic md5-bucket coin decides survival — reproducible
    sampling, no RNG."""
    from mistocksync_spark.operators.textual import mixture_apply

    from mistocksync_spark.operators.textual import mixture_plan

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return mixture_apply(docs, mixture_plan(docs, token_budget=20_000))


@query(
    "events_stickiness",
    """
    WITH active AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ), bounds AS (
        SELECT MIN(day) AS d0, MAX(day) AS d1 FROM active
    ), covered AS (
        SELECT user_id,
               CAST(UNNEST(generate_series(CAST(day AS TIMESTAMP),
                    least(CAST(day AS TIMESTAMP) + INTERVAL 6 DAY,
                          CAST((SELECT d1 FROM bounds) AS TIMESTAMP)),
                    INTERVAL 1 DAY)) AS DATE) AS wday
        FROM active
    ), wau AS (
        SELECT wday, COUNT(DISTINCT user_id) AS wau FROM covered GROUP BY wday
    ), dau AS (
        SELECT day, COUNT(DISTINCT user_id) AS dau FROM active GROUP BY day
    )
    SELECT strftime(day, '%Y-%m-%d') AS day, dau, wau,
           round(dau / wau, 6) AS stickiness
    FROM dau JOIN wau ON dau.day = wau.wday
    """,
)
def events_stickiness_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/WAU stickiness (operators/temporal.stickiness): rolling
    DISTINCT users via the covering-window explode — no self-join, no
    per-day rescans; the explode multiplies (user, day) pairs, never raw
    events."""
    from mistocksync_spark.operators.temporal import stickiness
    from mistocksync_spark.sources.testdata import load_events

    return stickiness(load_events(spark, sf_dir))


@query(
    "customer_rfm",
    f"""
    WITH base AS (
        SELECT o.o_custkey AS c_custkey,
               date_diff('day', MAX(o.o_orderdate),
                         (SELECT MAX(o_orderdate) FROM orders)) AS recency_days,
               COUNT(*) AS frequency,
               floor(CAST(SUM(CAST(floor((o.o_totalprice) * 1000000 + 0.5) AS HUGEINT)) AS DOUBLE) / 10000.0 + 0.5) / 100.0 AS monetary
        FROM orders o GROUP BY o.o_custkey
    ), qr AS ({agg.sql_discrete_quantiles(
        "base", None, "recency_days",
        {"r1": (1, 4), "r2": (1, 2), "r3": (3, 4)})}),
    qf AS ({agg.sql_discrete_quantiles(
        "base", None, "frequency",
        {"f1": (1, 4), "f2": (1, 2), "f3": (3, 4)})}),
    qm AS ({agg.sql_discrete_quantiles(
        "base", None, "monetary",
        {"m1": (1, 4), "m2": (1, 2), "m3": (3, 4)})}),
    q AS (SELECT * FROM qr, qf, qm)
    SELECT c_custkey, recency_days, frequency, monetary,
           4 - (CAST(recency_days > r1 AS INT) + CAST(recency_days > r2 AS INT)
                + CAST(recency_days > r3 AS INT)) AS r_score,
           1 + CAST(frequency > f1 AS INT) + CAST(frequency > f2 AS INT)
             + CAST(frequency > f3 AS INT) AS f_score,
           1 + CAST(monetary > m1 AS INT) + CAST(monetary > m2 AS INT)
             + CAST(monetary > m3 AS INT) AS m_score
    FROM base, q
    """,
)
def customer_rfm_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation over orders: recency/frequency/monetary per
    customer scored into quartiles via DISCRETE-quantile thresholds
    broadcast back (not a global ntile — threshold comparison is
    embarrassingly parallel; see aggregates.discrete_quantiles for why
    interpolated percentiles are banned from graded plans).  The
    per-customer base frame is materialized once (lazy localCheckpoint):
    three rank windows plus the scoring pass consume it and Catalyst
    does not share common subplans across joins."""
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    maxd = o.agg(F.max("o_orderdate").alias("__maxd"))
    base = (
        o.crossJoin(F.broadcast(maxd))
        .groupBy(F.col("o_custkey").alias("c_custkey"))
        .agg(
            F.datediff(F.max("__maxd"), F.max("o_orderdate")).alias("recency_days"),
            F.count(F.lit(1)).alias("frequency"),
            dec_sum("o_totalprice", 2).alias("monetary"),
        )
        .localCheckpoint(eager=False)
    )
    quarts = {1: (1, 4), 2: (1, 2), 3: (3, 4)}
    q = None
    for c in ("recency_days", "frequency", "monetary"):
        qc = agg.discrete_quantiles(
            base, None, c, {f"{c[0]}{i}": frac for i, frac in quarts.items()}
        )
        q = qc if q is None else q.crossJoin(qc)
    j = base.crossJoin(F.broadcast(q))
    b = lambda cond: cond.cast("int")
    return j.select(
        "c_custkey",
        "recency_days",
        "frequency",
        "monetary",
        (
            F.lit(4)
            - (
                b(F.col("recency_days") > F.col("r1"))
                + b(F.col("recency_days") > F.col("r2"))
                + b(F.col("recency_days") > F.col("r3"))
            )
        ).alias("r_score"),
        (
            F.lit(1)
            + b(F.col("frequency") > F.col("f1"))
            + b(F.col("frequency") > F.col("f2"))
            + b(F.col("frequency") > F.col("f3"))
        ).alias("f_score"),
        (
            F.lit(1)
            + b(F.col("monetary") > F.col("m1"))
            + b(F.col("monetary") > F.col("m2"))
            + b(F.col("monetary") > F.col("m3"))
        ).alias("m_score"),
    )


@query(
    "chunk_dup_rate",
    """
    WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
    , ex AS (
        SELECT doc_id, t, i AS chunk_id
        FROM tok, UNNEST(generate_series(0, greatest((len(t)-1)//48, 0))) AS u(i)
    ), chunks AS (
        SELECT doc_id, chunk_id,
               md5(array_to_string(list_slice(t, chunk_id*48+1, chunk_id*48+64), ' ')) AS dig
        FROM ex
    ), multi AS (
        SELECT dig, COUNT(DISTINCT doc_id) AS nd FROM chunks GROUP BY dig
    )
    SELECT c.doc_id, COUNT(*) AS n_chunks,
           CAST(SUM(CAST(m.nd > 1 AS BIGINT)) AS BIGINT) AS n_dup_chunks,
           CAST((CAST(SUM(CAST(m.nd > 1 AS BIGINT)) AS BIGINT) * 1000000)
               // COUNT(*) AS BIGINT) AS dup_rate_ppm
    FROM chunks c JOIN multi m USING (dig)
    GROUP BY c.doc_id
    """,
)
def chunk_dup_rate_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-level cross-document duplication rate: context-window chunks
    (the doc_chunks operator) digest to md5, digests seen in >1 DISTINCT
    doc mark their chunks duplicated, per-doc rate follows — the
    fine-grained dedup signal document-level digests miss (a doc that
    copies half of another is exact-unique but 50% chunk-duplicated).

    Plan: chunking is scan-only; ONE shuffle on the digest builds the
    multi-doc counts; the join back is digest-keyed (no broadcast — the
    digest table scales with the corpus); one per-doc partial agg."""
    from mistocksync_spark.operators.textual import doc_chunks

    chunks = doc_chunks(
        spark.read.parquet(f"{sf_dir}/documents.parquet"), chunk_size=64, stride=48
    ).select("doc_id", F.md5(F.col("chunk_text")).alias("dig"))
    multi = chunks.groupBy("dig").agg(F.countDistinct("doc_id").alias("nd"))
    j = chunks.join(multi, on="dig")
    dup = (F.col("nd") > 1).cast("long")
    return j.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum(dup).alias("n_dup_chunks"),
    ).withColumn(
        # pure integer parts-per-million rate (both counts non-negative,
        # so Spark `div` == DuckDB `//`): no double quotient to diverge
        # on, and no HUGEINT on the oracle side (the pandas fetch path
        # renders HUGEINT as float64 — the CORRECTNESS_r07 FAIL class)
        "dup_rate_ppm",
        F.expr("(n_dup_chunks * 1000000) div n_chunks"),
    )


ORACLES["ngram_containment_pairs"] = (
    _docs_cte()
    + _SQL_SHINGLES
    + """
    , sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id)
    , inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b, round(CAST(i AS DOUBLE) / least(na.n, nb.n), 6) AS containment
    FROM inter
    JOIN sizes na ON na.doc_id = doc_a
    JOIN sizes nb ON nb.doc_id = doc_b
    WHERE CAST(i AS DOUBLE) / least(na.n, nb.n) >= 0.7
    """
)


@query("ngram_containment_pairs")
def ngram_containment_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment near-dup pairs (operators/dedup.containment_pairs):
    the subset-copy detector — |A∩B| / min(|A|,|B|) over distinct shingle
    sets, equi-join candidates only."""
    from mistocksync_spark.operators.dedup import containment_pairs

    return containment_pairs(_shingles_shared(spark, sf_dir), 0.7)


def _triangles_shared(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-row triangle-count frame over the shared MinHash pair list,
    lazily materialized once per (session, sf_dir) — the clustering
    coefficient composes it with the degree/wedge pass instead of
    re-running the two-join closure (the same
    memo pattern as ``_simhash_cc_labels``)."""
    key = (id(spark), sf_dir, "minhash_triangles")
    if key not in _CC_MEMO:
        from mistocksync_spark.operators.dedup import triangle_count

        _CC_MEMO[key] = triangle_count(
            _minhash_pairs_shared(spark, sf_dir)
        ).localCheckpoint(eager=False)
    return _CC_MEMO[key]


@query("dedup_graph_triangles")
def dedup_graph_triangles_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count of the MinHash-LSH candidate graph
    (operators/dedup.triangle_count): ordered-edge two-join closure over
    the pair list — clique-vs-chain structure of the near-dup graph."""
    return _triangles_shared(spark, sf_dir)


ORACLES["dedup_graph_triangles"] = f"""
    WITH pairs AS ({ORACLES["minhash_lsh_pairs"]})
    , e AS (SELECT doc_a, doc_b FROM pairs)
    SELECT COUNT(*) AS n_triangles
    FROM e e1
    JOIN e e2 ON e1.doc_b = e2.doc_a
    JOIN e e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b
    """


@query("dedup_graph_clustering")
def dedup_graph_clustering_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global clustering coefficient of the candidate graph: 3·triangles
    over wedges (wedges = Σ C(degree, 2) from the degree frame — no
    path enumeration).  Near 1 ⇒ template-family cliques; near 0 ⇒
    drifting-revision chains.  Composes the degree histogram and the
    SHARED triangle closure over the SAME pair list — in a warm session
    the two-join closure is paid once across the graph family."""
    from mistocksync_spark.operators.dedup import similarity_graph_degrees

    pairs = _minhash_pairs_shared(spark, sf_dir)
    deg = similarity_graph_degrees(pairs)
    wedges = deg.agg(
        F.sum(
            (F.col("degree") * (F.col("degree") - 1) / 2).cast("long") * F.col("n_docs")
        ).alias("n_wedges")
    )
    tri = _triangles_shared(spark, sf_dir)
    return tri.crossJoin(wedges).select(
        "n_triangles",
        "n_wedges",
        F.when(
            F.col("n_wedges") > 0, F.round(3.0 * F.col("n_triangles") / F.col("n_wedges"), 6)
        )
        .otherwise(F.lit(0.0))
        .alias("clustering_coeff"),
    )


# pairs is referenced four times below; MATERIALIZED stops DuckDB from
# re-running the whole minhash pipeline per reference (see
# minhash_estimate_quality) — the entry's sf1 interrupt closure.
ORACLES["dedup_graph_clustering"] = f"""
    WITH pairs AS MATERIALIZED ({ORACLES["minhash_lsh_pairs"]})
    , ends AS (SELECT doc_a AS doc_id FROM pairs UNION ALL SELECT doc_b FROM pairs)
    , deg AS (SELECT doc_id, COUNT(*) AS degree FROM ends GROUP BY doc_id)
    , w AS (SELECT CAST(SUM(degree * (degree - 1) // 2) AS BIGINT) AS n_wedges FROM deg)
    , e AS (SELECT doc_a, doc_b FROM pairs)
    , t AS (
        SELECT COUNT(*) AS n_triangles
        FROM e e1
        JOIN e e2 ON e1.doc_b = e2.doc_a
        JOIN e e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b
    )
    SELECT n_triangles, n_wedges,
           CASE WHEN n_wedges > 0
                THEN round(3.0 * n_triangles / n_wedges, 6) ELSE 0.0 END AS clustering_coeff
    FROM t, w
    """


@query(
    "event_trigrams",
    """
    WITH seq AS (
        SELECT user_id, event_type AS e3,
               lag(event_type, 1) OVER w AS e2,
               lag(event_type, 2) OVER w AS e1
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
    )
    SELECT e1, e2, e3, COUNT(*) AS cnt
    FROM seq WHERE e1 IS NOT NULL
    GROUP BY e1, e2, e3
    """,
)
def event_trigrams_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent 3-step journey sequences: double lag over the SAME
    per-user window spec (one hash exchange, reused), counts with
    map-side partials — the sequence-mining sibling of the transition
    matrix."""
    from pyspark.sql import Window

    from mistocksync_spark.sources.testdata import load_events

    ev = load_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    seq = ev.select(
        F.lag("event_type", 2).over(w).alias("e1"),
        F.lag("event_type", 1).over(w).alias("e2"),
        F.col("event_type").alias("e3"),
    )
    return seq.filter(F.col("e1").isNotNull()).groupBy("e1", "e2", "e3").agg(
        F.count(F.lit(1)).alias("cnt")
    )


@query(
    "orders_yoy_growth",
    """
    WITH m AS (
        SELECT CAST(strftime(o_orderdate, '%m') AS INT) AS month_num,
               CAST(strftime(o_orderdate, '%Y') AS INT) AS year,
               COUNT(*) AS n_orders,
               floor(CAST(SUM(CAST(floor((o_totalprice) * 1000000 + 0.5) AS HUGEINT)) AS DOUBLE) / 10000.0 + 0.5) / 100.0 AS revenue
        FROM orders GROUP BY 1, 2
    )
    SELECT year, month_num, n_orders, revenue,
           lag(n_orders) OVER w AS prev_year_orders,
           round((n_orders - lag(n_orders) OVER w)
                 / CAST(lag(n_orders) OVER w AS DOUBLE), 6) AS yoy_growth
    FROM m WINDOW w AS (PARTITION BY month_num ORDER BY year ASC)
    """,
)
def orders_yoy_growth_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year monthly order growth WITHOUT a single-partition
    window: partitioning by month-of-year makes lag(1 year) a 12-way
    parallel window over the tiny month×year aggregate; first years have
    NULL growth."""
    from pyspark.sql import Window

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    m = o.groupBy(
        F.month("o_orderdate").alias("month_num"),
        F.year("o_orderdate").alias("year"),
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        dec_sum("o_totalprice", 2).alias("revenue"),
    )
    w = Window.partitionBy("month_num").orderBy(F.col("year").asc())
    prev = F.lag("n_orders").over(w)
    return m.select(
        "year",
        "month_num",
        "n_orders",
        "revenue",
        prev.alias("prev_year_orders"),
        F.round((F.col("n_orders") - prev) / prev.cast("double"), 6).alias("yoy_growth"),
    )


@query(
    "source_mix_drift",
    """
    WITH b AS (
        SELECT source,
               CASE WHEN doc_id % 2 = 0 THEN 'a' ELSE 'b' END AS half
        FROM documents
    ), counts AS (
        SELECT source,
               COUNT(CASE WHEN half = 'a' THEN 1 END) AS n_a,
               COUNT(CASE WHEN half = 'b' THEN 1 END) AS n_b
        FROM b GROUP BY source
    ), totals AS (
        SELECT CAST(SUM(n_a) AS BIGINT) AS t_a, CAST(SUM(n_b) AS BIGINT) AS t_b
        FROM counts
    )
    SELECT source, n_a, n_b,
           round(CASE WHEN t_a > 0 THEN n_a / CAST(t_a AS DOUBLE) ELSE 0.0 END, 6) AS share_a,
           round(CASE WHEN t_b > 0 THEN n_b / CAST(t_b AS DOUBLE) ELSE 0.0 END, 6) AS share_b,
           round(abs((CASE WHEN t_a > 0 THEN n_a / CAST(t_a AS DOUBLE) ELSE 0.0 END)
                   - (CASE WHEN t_b > 0 THEN n_b / CAST(t_b AS DOUBLE) ELSE 0.0 END)), 6) AS drift
    FROM counts, totals
    """,
)
def source_mix_drift_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift monitor: per-source share in two deterministic
    corpus halves (even/odd ids — swap in a time column in production)
    with the absolute share delta — the mixture-regression alarm for a
    pipeline whose upstream composition shifts.  One conditional-count
    shuffle + a 1-row totals broadcast."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    counts = docs.groupBy("source").agg(
        F.count(F.when(F.col("doc_id") % 2 == 0, 1)).alias("n_a"),
        F.count(F.when(F.col("doc_id") % 2 != 0, 1)).alias("n_b"),
    )
    totals = counts.agg(
        F.sum("n_a").alias("t_a"), F.sum("n_b").alias("t_b")
    )
    j = counts.crossJoin(F.broadcast(totals))
    share_a = F.when(F.col("t_a") > 0, F.col("n_a") / F.col("t_a").cast("double")).otherwise(F.lit(0.0))
    share_b = F.when(F.col("t_b") > 0, F.col("n_b") / F.col("t_b").cast("double")).otherwise(F.lit(0.0))
    return j.select(
        "source",
        "n_a",
        "n_b",
        F.round(share_a, 6).alias("share_a"),
        F.round(share_b, 6).alias("share_b"),
        F.round(F.abs(share_a - share_b), 6).alias("drift"),
    )


@query(
    "events_interarrival",
    f"""
    WITH g AS (
        SELECT event_type,
               epoch_us(ts) - epoch_us(lag(ts) OVER (
                   PARTITION BY user_id, event_type ORDER BY ts ASC, event_id ASC))
               AS gap_us
        FROM events
    ), med AS ({agg.sql_discrete_quantiles(
        "g", "event_type", "gap_us", {"median_gap_us": (1, 2)})})
    SELECT g.event_type, COUNT(*) AS n_gaps,
           MIN(med.median_gap_us) AS median_gap_us,
           MIN(g.gap_us) AS min_gap_us,
           MAX(g.gap_us) AS max_gap_us
    FROM g JOIN med USING (event_type)
    WHERE g.gap_us IS NOT NULL
    GROUP BY g.event_type
    """,
)
def events_interarrival_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type inter-arrival statistics: gaps between consecutive events
    of the SAME type per user (activity frequency profile) — one hash
    exchange on (user, type) feeds the lag window; the median is a
    DISCRETE quantile and every statistic stays in exact integer µs
    (BIGINT), so there is no float surface at all."""
    from pyspark.sql import Window

    from mistocksync_spark.sources.testdata import load_events

    ev = load_events(spark, sf_dir)
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    gap = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    g = ev.select("event_type", gap.alias("gap_us")).filter(
        F.col("gap_us").isNotNull()
    )
    med = agg.discrete_quantiles(
        g, "event_type", "gap_us", {"median_gap_us": (1, 2)}
    )
    return g.join(F.broadcast(med), on="event_type").groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.min("median_gap_us").alias("median_gap_us"),
        F.min("gap_us").alias("min_gap_us"),
        F.max("gap_us").alias("max_gap_us"),
    )


@query("ngram_jaccard_prefix")
def ngram_jaccard_prefix_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-filtered exact Jaccard (operators/dedup.jaccard_prefix_pairs)
    — the ppjoin-style scale path whose results are IDENTICAL to
    ngram_jaccard_pairs (same oracle, full hash check): only the
    candidate-generation strategy changes, collapsing the join-key
    distribution by exposing each doc's rarest shingles only."""
    from mistocksync_spark.operators.dedup import jaccard_prefix_pairs

    return jaccard_prefix_pairs(_shingles_shared(spark, sf_dir), 0.5)


ORACLES["ngram_jaccard_prefix"] = ORACLES["ngram_jaccard_pairs"]


@query(
    "events_gapfill_interp",
    """
    WITH agg AS (
        SELECT event_type AS key, date_trunc('hour', ts) AS b,
               CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS avg_value
        FROM events GROUP BY 1, 2
    ), spans AS (
        SELECT key, MIN(b) AS b0, MAX(b) AS b1 FROM agg GROUP BY key
    ), grid AS (
        SELECT key, UNNEST(generate_series(b0, b1, INTERVAL 1 HOUR)) AS b FROM spans
    ), filled AS (
        SELECT g.key, g.b, a.avg_value,
               epoch_us(g.b) // 3600000000 AS idx
        FROM grid g LEFT JOIN agg a USING (key, b)
    ), n AS (
        SELECT key, b, avg_value, idx,
               last_value(avg_value IGNORE NULLS) OVER wp AS prev_v,
               last_value(CASE WHEN avg_value IS NOT NULL THEN idx END IGNORE NULLS) OVER wp AS prev_i,
               first_value(avg_value IGNORE NULLS) OVER wn AS next_v,
               first_value(CASE WHEN avg_value IS NOT NULL THEN idx END IGNORE NULLS) OVER wn AS next_i
        FROM filled
        WINDOW wp AS (PARTITION BY key ORDER BY idx ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               wn AS (PARTITION BY key ORDER BY idx ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
    )
    SELECT key, strftime(b, '%Y-%m-%d %H:%M:%S') AS bucket, avg_value,
           CASE WHEN avg_value IS NOT NULL THEN avg_value
                ELSE prev_v + (next_v - prev_v) * (idx - prev_i)
                     / (next_i - prev_i) END AS value_interp,
           CAST(avg_value IS NULL AS INTEGER) AS is_gap
    FROM n
    """,
)
def events_gapfill_interp_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-interpolation gap fill (operators/temporal.gapfill_interp):
    the ``interpolate`` sibling of LOCF — four ignore-nulls window
    functions over ONE per-key ordering, exact integer hour indices."""
    from mistocksync_spark.operators.temporal import gapfill_interp
    from mistocksync_spark.sources.testdata import load_events

    return gapfill_interp(load_events(spark, sf_dir))


@query(
    "session_purchases",
    """
    WITH l AS (
        SELECT *, epoch_us(ts) AS us,
               lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
        FROM events
    ), s AS (
        SELECT *, SUM(CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000 THEN 1 ELSE 0 END)
                  OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS session_idx
        FROM l
    ), sess AS (
        SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
               strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
               strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS session_end
        FROM s GROUP BY user_id, session_idx
    )
    SELECT sess.user_id, sess.session_idx, sess.session_start,
           COUNT(p.event_id) AS n_purchases,
           COALESCE(floor(CAST(SUM(CAST(floor((p.value) * 1000000 + 0.5) AS HUGEINT)) AS DOUBLE) / 100.0 + 0.5) / 10000.0, 0.0) AS purchase_revenue
    FROM sess LEFT JOIN events p
      ON p.user_id = sess.user_id AND p.event_type = 'purchase'
     AND strftime(p.ts, '%Y-%m-%d %H:%M:%S') BETWEEN sess.session_start AND sess.session_end
    GROUP BY sess.user_id, sess.session_idx, sess.session_start
    """,
)
def session_purchases_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session revenue attribution — the sessionizer composed with a
    per-user range join: each purchase lands in its containing session,
    purchase-less sessions keep zero.  The range predicate rides ON TOP
    of the user_id equi key (per-user session/event cardinality is
    bounded), so the join stays hash/sort-merge on user_id with the
    BETWEEN as a residual filter — no nested loop; formatted-timestamp
    strings compare lexicographically = chronologically."""
    from mistocksync_spark.sources.testdata import load_events
    from mistocksync_spark.streaming.sessions import sessionize_batch

    ev = load_events(spark, sf_dir)
    sess = sessionize_batch(ev).select("user_id", "session_idx", "session_start", "session_end")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("p_ts"),
        F.col("value").alias("p_value"),
        F.col("event_id").alias("p_id"),
    )
    j = sess.join(
        p,
        (sess.user_id == p.p_user)
        & (p.p_ts >= sess.session_start)
        & (p.p_ts <= sess.session_end),
        how="left",
    )
    return j.groupBy("user_id", "session_idx", "session_start").agg(
        F.count("p_id").alias("n_purchases"),
        F.coalesce(dec_sum("p_value", 4), F.lit(0.0)).alias("purchase_revenue"),
    )


@query("events_stickiness_approx")
def events_stickiness_approx_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB form of ``events_stickiness``: ``approx_count_distinct``
    (HyperLogLog++, fixed sketch per group, merged map-side) replaces the
    exact distinct — same covering-window plan, bounded memory.  Rows-only
    (sketch estimates are rank-bounded, not exact; the relative-error
    bound vs the exact twin is asserted in tests)."""
    from mistocksync_spark.sources.testdata import load_events

    ev = load_events(spark, sf_dir)
    day = F.to_date(F.col("ts"))
    active = ev.select(F.col("user_id"), day.alias("__day")).distinct()
    bounds = active.agg(F.min("__day").alias("__d0"), F.max("__day").alias("__d1"))
    covered = active.crossJoin(F.broadcast(bounds)).select(
        "user_id",
        F.explode(
            F.sequence(
                F.col("__day"),
                F.least(F.date_add(F.col("__day"), 6), F.col("__d1")),
            )
        ).alias("__wday"),
    )
    wau = covered.groupBy("__wday").agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("wau_est")
    )
    dau = active.groupBy("__day").agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("dau_est")
    )
    j = dau.join(wau, dau["__day"] == wau["__wday"])
    return j.select(
        F.date_format("__day", "yyyy-MM-dd").alias("day"),
        "dau_est",
        "wau_est",
        F.round(F.col("dau_est") / F.col("wau_est"), 6).alias("stickiness_est"),
    )


def _sql_brand() -> str:
    from mistocksync_spark.functions.codes import BRANDS

    return (
        "COALESCE("
        + ", ".join(
            f"CASE WHEN upper({{col}}) LIKE '%{b}%' THEN '{b}' END" for b in BRANDS
        )
        + ", 'UNBRANDED')"
    )


@query(
    "brand_capacity_inventory",
    _CTES
    + f"""
    SELECT {_sql_brand().format(col='name')} AS brand,
           COALESCE({_SQL_CAPACITY.format(col='name')}, 'n/a') AS capacity,
           COUNT(*) AS n_items,
           CAST(SUM(CAST(floor((price_usd) * 1000000 + 0.5) AS HUGEINT)) AS DOUBLE) / 1000000.0 / COUNT(price_usd) AS avg_price
    FROM supplier_feed
    WHERE price_usd >= 0.01
    GROUP BY 1, 2
    """,
)
def brand_capacity_inventory_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brand × battery-capacity inventory matrix over the supplier feed —
    the market-structure report the reference's cleaners (brand substring
    + C6 capacity extraction) make possible: one scan, the brand/capacity
    expressions are pure JVM regex, one partial-agg shuffle of a tiny
    matrix.  First-brand-wins COALESCE mirrors the reference's ordered
    brand list."""
    from mistocksync_spark.functions.codes import BRANDS

    feed = supplier_feed(spark, sf_dir).filter(F.col("price_usd") >= 0.01)
    up = F.upper(F.col("name"))
    brand = F.coalesce(
        *[F.when(up.contains(b), F.lit(b)) for b in BRANDS], F.lit("UNBRANDED")
    )
    return feed.groupBy(
        brand.alias("brand"),
        F.coalesce(battery_capacity("name"), F.lit("n/a")).alias("capacity"),
    ).agg(
        F.count(F.lit(1)).alias("n_items"),
        dec_avg("price_usd").alias("avg_price"),
    )


@query(
    "events_dow_hour_heatmap",
    """
    SELECT dayofweek(ts) + 1 AS dow, CAST(strftime(ts, '%H') AS INT) AS hour,
           COUNT(*) AS cnt, CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS avg_value
    FROM events GROUP BY 1, 2
    """,
)
def events_dow_hour_heatmap_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week × hour activity heatmap (the ops-dashboard staple):
    one partial-agg shuffle of a ≤168-cell matrix.  Spark dayofweek is
    1=Sunday; the oracle aligns DuckDB's 0=Sunday by +1."""
    from mistocksync_spark.sources.testdata import load_events

    ev = load_events(spark, sf_dir)
    return ev.groupBy(
        F.dayofweek("ts").alias("dow"), F.hour("ts").alias("hour")
    ).agg(
        F.count(F.lit(1)).alias("cnt"),
        # OHLC decimal-mean trick: exact order-independent sum, unrounded
        # bit-identical quotient (a rounded double avg splits on half cases)
        (F.sum(F.col("value").cast("decimal(18,6)")).cast("double") / F.count(F.lit(1))).alias("avg_value"),
    )


# --------------------------------------------------------------------------
# Round 6 — TPC-H-shaped analytics breadth (Q4/Q6/Q10/Q13/Q14/Q18/Q19/Q22
# plan shapes over the driver tables; the columns this testdata lacks —
# commitdate/receiptdate/partsupp/phone — are substituted with equivalent
# predicates so the PLAN SHAPE under test is the canonical one)
# --------------------------------------------------------------------------


@query(
    "q4_order_priority",
    """
    SELECT o.o_orderpriority AS orderpriority, COUNT(*) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1997-01-01'
      AND o.o_orderdate < TIMESTAMP '1998-01-01'
      AND EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey
          AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
      )
    GROUP BY 1
    """,
)
def q4_order_priority_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: order-priority counts over orders that have at
    least one LATE lineitem (shipped >60 days after the order date — the
    commitdate/receiptdate substitute).  The 100 TB plan: the EXISTS is a
    LEFT-SEMI join — equi on the order key with the lateness predicate as
    a residual, so it stays hash/sort-merge (never a nested loop), the
    date filter is pushed into the orders scan, lineitem is pruned to two
    columns, and the semi join emits each order AT MOST ONCE (no
    distinct-after-inner-join blowup).  Final agg is a 5-row matrix."""
    o = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .filter(
            (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .select("o_orderkey", "o_orderdate", "o_orderpriority")
    )
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select("l_orderkey", "l_shipdate")
    late = o.join(
        li,
        (o.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > o.o_orderdate + F.expr("INTERVAL 60 DAYS")),
        how="left_semi",
    )
    return late.groupBy(F.col("o_orderpriority").alias("orderpriority")).agg(
        F.count(F.lit(1)).alias("order_count")
    )


@query(
    "q6_revenue_forecast",
    f"""
    SELECT {sql_dec_sum("l_extendedprice * l_discount", 2)} AS revenue,
           COUNT(*) AS n_rows
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q6_revenue_forecast_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: the pure scan-side query — every predicate is a
    min/max-prunable range on a scanned column, so at 100 TB this is the
    query where pushdown IS the plan: date + discount + quantity filters
    all reach the parquet reader (PushedFilters, row-group skipping), only
    3 columns are read, no join, no wide shuffle — a single partial-agg to
    one row.  Revenue uses the exact micro-int sum (order-independent)."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    return li.agg(
        dec_sum(F.col("l_extendedprice") * F.col("l_discount"), 2).alias("revenue"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@query(
    "q10_returned_items",
    f"""
    SELECT c.c_custkey, c.c_name, n.n_name AS nation,
           {sql_dec_sum("l.l_extendedprice * (1 - l.l_discount)", 2)} AS revenue,
           c.c_acctbal
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE l.l_returnflag = 'R'
      AND o.o_orderdate >= TIMESTAMP '1997-01-01'
      AND o.o_orderdate < TIMESTAMP '1997-04-01'
    GROUP BY 1, 2, 3, 5
    ORDER BY revenue DESC, c.c_custkey ASC
    LIMIT 20
    """,
)
def q10_returned_items_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: lost-revenue ranking of customers whose items came
    back.  100 TB plan: quarter filter pushed into the orders scan,
    returnflag filter pushed into lineitem, the fact↔fact join shuffles
    on the order key ONCE, customer and nation BROADCAST onto the
    aggregate's output side (joining dims after the heavy join keeps the
    shuffled rows narrow), and the top-20 is a TakeOrdered — no global
    sort materialization."""
    o = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .filter(
            (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp"))
        )
        .select("o_orderkey", "o_custkey")
    )
    li = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .filter(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_extendedprice", "l_discount")
    )
    per_cust = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_custkey")
        .agg(dec_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 2).alias("revenue"))
    )
    c = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        "c_custkey", "c_name", "c_nationkey", "c_acctbal"
    )
    n = spark.read.parquet(f"{sf_dir}/nation.parquet").select("n_nationkey", "n_name")
    return (
        per_cust.join(F.broadcast(c), per_cust.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .select(
            "c_custkey",
            "c_name",
            F.col("n_name").alias("nation"),
            "revenue",
            "c_acctbal",
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


@query(
    "q13_order_count_histogram",
    """
    SELECT c_count, COUNT(*) AS custdist
    FROM (
        SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
        FROM customer c
        LEFT JOIN orders o ON c.c_custkey = o.o_custkey
        GROUP BY 1
    )
    GROUP BY 1
    """,
)
def q13_order_count_histogram_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: distribution of customers by how many orders they
    placed, INCLUDING the zero-order customers (the left join the naive
    groupBy misses).  100 TB plan: orders pre-aggregates to per-custkey
    counts FIRST (map-side partial combine — the fact table never carries
    customer attributes through a shuffle), then the count frame joins the
    customer key list; the final histogram is a second tiny partial agg.
    Two narrow shuffles total, both on custkey-sized rows."""
    counts = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("__n"))
    )
    c = spark.read.parquet(f"{sf_dir}/customer.parquet").select("c_custkey")
    per_cust = c.join(counts, c.c_custkey == counts.o_custkey, how="left").select(
        F.coalesce(F.col("__n"), F.lit(0)).alias("c_count")
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@query(
    "q14_promo_revenue_share",
    f"""
    SELECT
      (100.0 * ({sql_dec_sum("CASE WHEN p.p_type = 'PROMO' THEN l.l_extendedprice * (1 - l.l_discount) ELSE 0.0 END", 2)}))
        / ({sql_dec_sum("l.l_extendedprice * (1 - l.l_discount)", 2)}) AS promo_share_pct,
      {sql_dec_sum("CASE WHEN p.p_type = 'PROMO' THEN l.l_extendedprice * (1 - l.l_discount) ELSE 0.0 END", 2)} AS promo_revenue,
      {sql_dec_sum("l.l_extendedprice * (1 - l.l_discount)", 2)} AS total_revenue
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-03-01'
      AND l.l_shipdate < TIMESTAMP '1997-04-01'
    """,
)
def q14_promo_revenue_share_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: share of one month's revenue that came from PROMO
    parts.  100 TB plan: the month filter prunes the lineitem scan to
    ~1/84 of the table, part is the BROADCAST dim (two columns after
    pruning), and both the conditional and total sums come out of ONE
    partial aggregate — the ratio is computed from the two exact
    micro-int sums, so it is bit-identical cross-engine."""
    li = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .filter(
            (F.col("l_shipdate") >= F.lit("1997-03-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
        )
        .select("l_partkey", "l_extendedprice", "l_discount")
    )
    p = spark.read.parquet(f"{sf_dir}/part.parquet").select("p_partkey", "p_type")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0))
    agg_df = li.join(F.broadcast(p), li.l_partkey == p.p_partkey).agg(
        dec_sum(promo, 2).alias("promo_revenue"),
        dec_sum(rev, 2).alias("total_revenue"),
    )
    return agg_df.select(
        ((F.lit(100.0) * F.col("promo_revenue")) / F.col("total_revenue")).alias(
            "promo_share_pct"
        ),
        "promo_revenue",
        "total_revenue",
    )


@query(
    "q18_large_volume_customers",
    f"""
    WITH big AS (
        SELECT l_orderkey, {sql_dec_sum("l_quantity", 2)} AS sum_qty
        FROM lineitem GROUP BY 1
        HAVING {sql_dec_sum("l_quantity", 2)} > 210.0
    )
    SELECT c.c_custkey, c.c_name, o.o_orderkey,
           strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate,
           o.o_totalprice, big.sum_qty
    FROM big
    JOIN orders o ON o.o_orderkey = big.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    ORDER BY o.o_totalprice DESC, o.o_orderkey ASC
    LIMIT 100
    """,
)
def q18_large_volume_customers_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: customers behind the largest-volume orders
    (sum of quantities over an order > 210).  100 TB plan: the HAVING
    pre-aggregate reduces lineitem to the ~1% qualifying order keys
    BEFORE any join (partial combine map-side), the orders join shuffles
    only that reduced frame, customer BROADCASTs, and the top-100 is a
    TakeOrdered.  The quantity sum is the exact micro-int sum so the
    threshold cut is deterministic."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select("l_orderkey", "l_quantity")
    big = (
        li.groupBy("l_orderkey")
        .agg(dec_sum("l_quantity", 2).alias("sum_qty"))
        .filter(F.col("sum_qty") > 210.0)
    )
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    c = spark.read.parquet(f"{sf_dir}/customer.parquet").select("c_custkey", "c_name")
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_totalprice",
            "sum_qty",
        )
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(100)
    )


@query(
    "q19_bracketed_revenue",
    f"""
    SELECT {sql_dec_sum("l.l_extendedprice * (1 - l.l_discount)", 2)} AS revenue,
           COUNT(*) AS n_rows
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 15 AND l.l_quantity BETWEEN 1 AND 20)
       OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 25 AND l.l_quantity BETWEEN 10 AND 30)
       OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 1 AND 35 AND l.l_quantity BETWEEN 20 AND 40)
    """,
)
def q19_bracketed_revenue_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: disjunctive brand/size/quantity brackets — the
    classic test that an OR-of-ANDs stays an EQUI join.  100 TB plan: the
    join key (partkey) is extracted from the disjunction so the plan is a
    broadcast-hash join with the OR as a post-join filter — never a
    nested-loop over the disjunction; the brand-side disjuncts
    (brand IN (...)) and the quantity envelope (1..40) are pushed into
    the part and lineitem scans respectively as a derived prefilter."""
    li = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .filter((F.col("l_quantity") >= 1) & (F.col("l_quantity") <= 40))
        .select("l_partkey", "l_quantity", "l_extendedprice", "l_discount")
    )
    p = (
        spark.read.parquet(f"{sf_dir}/part.parquet")
        .filter(F.col("p_brand").isin("Brand#12", "Brand#23", "Brand#34"))
        .select("p_partkey", "p_brand", "p_size")
    )
    q = F.col("l_quantity")
    cond = (
        ((F.col("p_brand") == "Brand#12") & F.col("p_size").between(1, 15) & q.between(1, 20))
        | ((F.col("p_brand") == "Brand#23") & F.col("p_size").between(1, 25) & q.between(10, 30))
        | ((F.col("p_brand") == "Brand#34") & F.col("p_size").between(1, 35) & q.between(20, 40))
    )
    j = li.join(F.broadcast(p), li.l_partkey == p.p_partkey).filter(cond)
    return j.agg(
        dec_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 2).alias("revenue"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@query(
    "q22_dormant_high_balance",
    f"""
    WITH thr AS (
        SELECT {sql_dec_avg("c_acctbal")} AS avg_bal
        FROM customer WHERE c_acctbal > 0.0
    ),
    recent AS (
        SELECT DISTINCT o_custkey FROM orders
        WHERE o_orderdate >= TIMESTAMP '2000-06-01'
    )
    SELECT c.c_nationkey AS nationkey, COUNT(*) AS numcust,
           {sql_dec_sum("c.c_acctbal", 2)} AS totacctbal
    FROM customer c, thr
    WHERE c.c_acctbal > thr.avg_bal
      AND NOT EXISTS (SELECT 1 FROM recent r WHERE r.o_custkey = c.c_custkey)
    GROUP BY 1
    """,
)
def q22_dormant_high_balance_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: high-balance customers gone dormant (no order in
    the trailing period), counted per nation.  100 TB plan: the positive
    average balance is ONE scalar broadcast back (never a per-row
    subquery), the dormancy test is a LEFT-ANTI join against the
    DISTINCT recent-orderer key set (pre-aggregated map-side before its
    shuffle), and the final per-nation rollup is a ≤#nations-row agg."""
    c = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        "c_custkey", "c_nationkey", "c_acctbal"
    )
    thr = c.filter(F.col("c_acctbal") > 0.0).agg(dec_avg("c_acctbal").alias("__avg_bal"))
    recent = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .filter(F.col("o_orderdate") >= F.lit("2000-06-01").cast("timestamp"))
        .select("o_custkey")
        .distinct()
    )
    rich = c.crossJoin(F.broadcast(thr)).filter(F.col("c_acctbal") > F.col("__avg_bal"))
    dormant = rich.join(recent, rich.c_custkey == recent.o_custkey, how="left_anti")
    return dormant.groupBy(F.col("c_nationkey").alias("nationkey")).agg(
        F.count(F.lit(1)).alias("numcust"),
        dec_sum("c_acctbal", 2).alias("totacctbal"),
    )


# --------------------------------------------------------------------------
# Registrations for the bloom filter pair, trigram char-LM scoring,
# hashing-trick quality logit, and exact two-sample KS drift operators.
# --------------------------------------------------------------------------
_SQL_BLOOM_POS = (
    "(" + _SQL_HEX8.format(sha="md5({i} || '|' || text)") + ") % 65536"
)


def _sql_bloom_bits(where: str) -> str:
    pos = ", ".join(_SQL_BLOOM_POS.format(i=i) for i in range(3))
    return f"""
    SELECT DISTINCT u.bit FROM (
        SELECT [{pos}] AS pos FROM documents WHERE {where}
    ), UNNEST(pos) AS u(bit)
    """


@query("bloom_bits", _sql_bloom_bits("doc_id % 50 = 0"))
def bloom_bits_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter build over the eval slice (operators/dedup.bloom_bits):
    the ≤m-row distinct set-bit frame IS the filter — one partial-agg
    shuffle, md5-derived positions so the contents are deterministic
    cross-engine (unlike a murmur-seeded sketch)."""
    from mistocksync_spark.operators.dedup import bloom_bits

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return bloom_bits(docs.filter(F.col("doc_id") % 50 == 0))


_P0 = _SQL_BLOOM_POS.format(i=0)
_P1 = _SQL_BLOOM_POS.format(i=1)
_P2 = _SQL_BLOOM_POS.format(i=2)


@query(
    "bloom_contamination",
    f"""
    WITH bits AS ({_sql_bloom_bits("doc_id % 50 = 0")}),
    probes AS (
        SELECT doc_id, md5(text) AS dig,
               list_distinct([{_P0}, {_P1}, {_P2}]) AS pos
        FROM documents WHERE doc_id % 50 <> 0
    ),
    hits AS (
        SELECT doc_id FROM (
            SELECT p.doc_id, len(p.pos) AS need, COUNT(*) AS nb
            FROM probes p, UNNEST(p.pos) AS u(b) JOIN bits ON u.b = bits.bit
            GROUP BY p.doc_id, len(p.pos)
        ) WHERE nb = need
    ),
    evd AS (SELECT DISTINCT md5(text) AS dig FROM documents WHERE doc_id % 50 = 0),
    flagged AS (
        SELECT p.doc_id,
               CASE WHEN h.doc_id IS NOT NULL THEN 1 ELSE 0 END AS bloom_hit,
               CASE WHEN p.dig IN (SELECT dig FROM evd) THEN 1 ELSE 0 END AS exact_hit
        FROM probes p LEFT JOIN hits h ON p.doc_id = h.doc_id
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_probed,
           CAST(SUM(bloom_hit) AS BIGINT) AS n_bloom_hits,
           CAST(SUM(exact_hit) AS BIGINT) AS n_exact_hits,
           CAST(SUM(CASE WHEN bloom_hit = 1 AND exact_hit = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_false_pos,
           CAST(SUM(CASE WHEN exact_hit = 1 AND bloom_hit = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_false_neg,
           CAST(SUM(CASE WHEN bloom_hit = 1 AND exact_hit = 0 THEN 1 ELSE 0 END) AS DOUBLE)
               / COUNT(*) AS fp_rate
    FROM flagged
    """,
)
def bloom_contamination_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter contamination screen graded against the EXACT md5
    membership join run alongside (operators/dedup.bloom_contamination):
    one summary row with probe/hit/false-positive counts — false
    negatives impossible by construction, asserted by the n_false_neg
    column the oracle recomputes independently.  100 TB plan: the eval
    set compresses to a ≤m-row broadcast bit frame; probes are a
    broadcast-hash join, never a shuffle of the corpus."""
    from mistocksync_spark.operators.dedup import bloom_contamination

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus = docs.filter(F.col("doc_id") % 50 != 0)
    eval_set = docs.filter(F.col("doc_id") % 50 == 0)
    return bloom_contamination(corpus, eval_set)


@query(
    "charlm_score",
    """
    WITH d AS (
        SELECT doc_id, lang, lower(text) AS low FROM documents
        WHERE length(lower(text)) >= 3
    ),
    tri AS (
        SELECT doc_id, lang, substr(low, CAST(i AS INT), 3) AS tri
        FROM d, UNNEST(generate_series(1, length(low) - 2)) AS u(i)
    ),
    tc AS (SELECT lang, tri, COUNT(*) AS tn FROM tri GROUP BY lang, tri),
    pc AS (
        SELECT lang, substr(tri, 1, 2) AS pre, SUM(tn) AS pn
        FROM tc GROUP BY lang, substr(tri, 1, 2)
    ),
    prob AS (
        SELECT tc.lang, tc.tri,
               CAST(floor(CAST(tn AS DOUBLE) / CAST(pn AS DOUBLE) * 1000000 + 0.5)
                    AS HUGEINT) AS qp
        FROM tc JOIN pc ON tc.lang = pc.lang AND substr(tc.tri, 1, 2) = pc.pre
    )
    SELECT t.doc_id, t.lang, CAST(COUNT(*) AS BIGINT) AS n_trigrams,
           CAST(SUM(p.qp) AS DOUBLE) / 1000000.0 / COUNT(*) AS lm_score
    FROM tri t JOIN prob p ON t.lang = p.lang AND t.tri = p.tri
    GROUP BY t.doc_id, t.lang
    """,
)
def charlm_score_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style corpus-trained character-trigram LM quality score
    (operators/textual.charlm_score): the (lang, trigram) count table is
    bounded by charset³ — NOT corpus size — so it broadcasts back onto
    the trigram stream; probabilities are micro-quantized exact-integer
    sums, bit-identical to this SQL replay."""
    from mistocksync_spark.operators.textual import charlm_score

    return charlm_score(spark.read.parquet(f"{sf_dir}/documents.parquet"))


@query(
    "hashed_quality_logit",
    f"""
    WITH toks AS (
        SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-zа-я0-9]+')) AS tok
        FROM documents
    ),
    pd AS (
        SELECT doc_id, COUNT(*) AS n_tokens,
               SUM((({_SQL_HEX8.format(sha="md5(tok)")}) % 262144)
                   * 2654435761 % 1000003) AS sw
        FROM toks GROUP BY doc_id
    )
    SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(sw AS DOUBLE) / n_tokens / 1000003.0 - 0.5 AS quality_logit,
           CAST((CAST(sw AS DOUBLE) / n_tokens / 1000003.0 - 0.5) > 0 AS INT) AS keep
    FROM pd
    """,
)
def hashed_quality_logit_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-shaped hashing-trick quality classifier
    (operators/textual.hashed_quality_logit): stateless featurization —
    no vocabulary table to build or ship, ZERO joins — one explode + one
    per-doc partial-agg shuffle; integer weight sums keep the logit
    bit-identical cross-engine."""
    from mistocksync_spark.operators.textual import hashed_quality_logit

    return hashed_quality_logit(spark.read.parquet(f"{sf_dir}/documents.parquet"))


@query(
    "source_length_ks",
    """
    WITH counts AS (
        SELECT source, CAST(n_chars AS BIGINT) AS len, COUNT(*) AS cnt
        FROM documents GROUP BY source, n_chars
    ),
    srcs AS (SELECT source, SUM(cnt) AS n_docs FROM counts GROUP BY source),
    vals AS (SELECT DISTINCT len FROM counts),
    filled AS (
        SELECT g.source, g.n_docs, g.len, COALESCE(c.cnt, 0) AS cnt
        FROM (SELECT s.source, s.n_docs, v.len FROM srcs s CROSS JOIN vals v) g
        LEFT JOIN counts c ON g.source = c.source AND g.len = c.len
    ),
    scdf AS (
        SELECT source, len, n_docs,
               CAST(SUM(cnt) OVER (PARTITION BY source ORDER BY len) AS DOUBLE)
                   / n_docs AS scdf
        FROM filled
    ),
    gcdf AS (
        SELECT len,
               CAST(SUM(gcnt) OVER (ORDER BY len) AS DOUBLE)
                   / (SELECT SUM(cnt) FROM counts) AS gcdf
        FROM (SELECT len, SUM(cnt) AS gcnt FROM counts GROUP BY len)
    )
    SELECT s.source, CAST(s.n_docs AS BIGINT) AS n_docs,
           MAX(ABS(s.scdf - g.gcdf)) AS ks_stat
    FROM scdf s JOIN gcdf g USING (len)
    GROUP BY s.source, s.n_docs
    """,
)
def source_length_ks_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample KS drift of each source's length distribution vs
    the whole corpus (operators/textual.source_length_ks): lengths
    aggregate FIRST to (source, length) counts — the only pass over the
    corpus — and every CDF window runs on that bounded frame; all CDFs
    are exact integer-count quotients, deterministic cross-engine."""
    from mistocksync_spark.operators.textual import source_length_ks

    return source_length_ks(spark.read.parquet(f"{sf_dir}/documents.parquet"))


# --------------------------------------------------------------------------
# Round-7 TPC-H breadth: Q2 (correlated min-cost → decorrelated min-join),
# Q15 (view + max-over-aggregate), Q21 (double semi/anti self-join) —
# adapted to the available schema (no partsupp: per-(part, supplier) unit
# cost derives from lineitem; no receipt/commit dates: "late" is the
# returned flag).
# --------------------------------------------------------------------------
@query(
    "q2_min_cost_supplier",
    """
    WITH offers AS (
        SELECT l_partkey, l_suppkey, MIN(l_extendedprice / l_quantity) AS unit_cost
        FROM lineitem GROUP BY l_partkey, l_suppkey
    ),
    eu AS (
        SELECT o.l_partkey, o.l_suppkey, o.unit_cost,
               s.s_acctbal, s.s_name, n.n_name
        FROM offers o
        JOIN supplier s ON o.l_suppkey = s.s_suppkey
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        WHERE r.r_name = 'EUROPE'
    ),
    mc AS (SELECT l_partkey, MIN(unit_cost) AS min_cost FROM eu GROUP BY l_partkey)
    SELECT e.s_acctbal, e.s_name, e.n_name, p.p_partkey, p.p_brand, e.unit_cost
    FROM eu e
    JOIN mc ON e.l_partkey = mc.l_partkey AND e.unit_cost = mc.min_cost
    JOIN part p ON e.l_partkey = p.p_partkey
    WHERE p.p_type = 'STANDARD' AND p.p_size <= 15
    ORDER BY e.s_acctbal DESC, e.n_name, e.s_name, p.p_partkey
    LIMIT 100
    """,
)
def q2_min_cost_supplier_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: the cheapest regional supplier per part, i.e. the
    correlated scalar-min subquery DECORRELATED into an aggregate +
    equality join — the canonical Catalyst answer (a per-row subquery
    would rescan offers per part).  100 TB plan: per-(part, supplier)
    unit costs pre-aggregate map-side on the lineitem scan; supplier /
    nation / region dims BROADCAST onto the offer frame; the per-part
    min is a second ≤#parts-row aggregate joined back on (part, cost)
    equality — exact quotient doubles, so the equality is bit-safe; the
    part filter broadcasts.  The final total-order sort feeds a LIMIT,
    so only 100 rows leave the last stage.  Determinism: min over exact
    IEEE quotients of identical doubles, a total sort key
    (acctbal, nation, name, partkey) unique per (supplier, part) row."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    offers = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_cost")
    )
    sup = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    nat = spark.read.parquet(f"{sf_dir}/nation.parquet")
    reg = spark.read.parquet(f"{sf_dir}/region.parquet").filter(F.col("r_name") == "EUROPE")
    dims = (
        sup.join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey", "s_acctbal", "s_name", "n_name")
    )
    eu = offers.join(F.broadcast(dims), offers.l_suppkey == dims.s_suppkey)
    mc = eu.groupBy(F.col("l_partkey").alias("__pk")).agg(F.min("unit_cost").alias("min_cost"))
    parts = (
        spark.read.parquet(f"{sf_dir}/part.parquet")
        .filter((F.col("p_type") == "STANDARD") & (F.col("p_size") <= 15))
        .select("p_partkey", "p_brand")
    )
    best = eu.join(
        mc, (eu.l_partkey == mc.__pk) & (eu.unit_cost == mc.min_cost)
    ).join(F.broadcast(parts), eu.l_partkey == parts.p_partkey)
    return (
        best.select("s_acctbal", "s_name", "n_name", "p_partkey", "p_brand", "unit_cost")
        .orderBy(
            F.col("s_acctbal").desc(), "n_name", "s_name", "p_partkey"
        )
        .limit(100)
    )


@query(
    "q15_top_supplier",
    f"""
    WITH revenue0 AS (
        SELECT l_suppkey AS supplier_no,
               {sql_dec_sum("l_extendedprice * (1 - l_discount)", 2)} AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1996-04-01'
        GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, s.s_acctbal, r.total_revenue
    FROM supplier s
    JOIN revenue0 r ON s.s_suppkey = r.supplier_no
    WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM revenue0)
    """,
)
def q15_top_supplier_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: the revenue view + max-over-aggregate — an
    aggregate OF an aggregate whose scalar result gates the final join.
    100 TB plan: quarterly revenue per supplier pre-aggregates map-side
    behind a pushed shipdate range filter; the max is a 1-row scalar
    BROADCAST back onto the ≤#suppliers revenue frame (never a per-row
    subquery); the supplier dim attaches by broadcast.  Determinism:
    revenue is the order-independent micro-int decimal sum rounded at
    2 dp on both sides, so the max-equality gate is bit-safe (ties all
    surface, as TPC-H specifies)."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    rev = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        dec_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 2).alias(
            "total_revenue"
        )
    )
    mx = rev.agg(F.max("total_revenue").alias("__mx"))
    top = rev.crossJoin(F.broadcast(mx)).filter(
        F.col("total_revenue") == F.col("__mx")
    )
    sup = spark.read.parquet(f"{sf_dir}/supplier.parquet").select(
        "s_suppkey", "s_name", "s_acctbal"
    )
    return top.join(F.broadcast(sup), top.supplier_no == sup.s_suppkey).select(
        "s_suppkey", "s_name", "s_acctbal", "total_revenue"
    )


@query(
    "q21_waiting_supplier",
    """
    WITH l1 AS (
        SELECT DISTINCT l.l_orderkey, l.l_suppkey
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        WHERE l.l_returnflag = 'R' AND o.o_orderstatus = 'F'
    )
    SELECT s.s_name, CAST(COUNT(*) AS BIGINT) AS numwait
    FROM l1
    JOIN supplier s ON l1.l_suppkey = s.s_suppkey
    WHERE EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
    )
    AND NOT EXISTS (
        SELECT 1 FROM lineitem l3
        WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
          AND l3.l_returnflag = 'R'
    )
    GROUP BY s.s_name
    """,
)
def q21_waiting_supplier_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: suppliers SOLELY responsible for a problem on a
    finalized multi-supplier order — the double semi/anti self-join on
    lineitem (EXISTS another supplier's line; NOT EXISTS another
    supplier's PROBLEM line).  Adapted: 'problem' is the returned flag
    (no receipt/commit dates in this schema).  100 TB plan: the probe
    side collapses to DISTINCT (order, supplier) problem pairs BEFORE
    any self-join (bounded by orders × suppliers-per-order, far smaller
    than lineitem); both EXISTS run as orderkey-hashed LeftSemi /
    LeftAnti joins with the supplier-inequality as residual condition —
    per-order line counts are bounded, so the orderkey hash has no skew;
    orders-status and supplier dims broadcast."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_suppkey", "l_returnflag"
    )
    fin = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey")
    )
    l1 = (
        li.filter(F.col("l_returnflag") == "R")
        .join(fin, li.l_orderkey == fin.o_orderkey)
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    l2 = li.select(
        F.col("l_orderkey").alias("__ok2"), F.col("l_suppkey").alias("__sk2")
    )
    l3 = (
        li.filter(F.col("l_returnflag") == "R")
        .select(F.col("l_orderkey").alias("__ok3"), F.col("l_suppkey").alias("__sk3"))
        .distinct()
    )
    cand = l1.join(
        l2,
        (l1.l_orderkey == F.col("__ok2")) & (l1.l_suppkey != F.col("__sk2")),
        how="left_semi",
    ).join(
        l3,
        (l1.l_orderkey == F.col("__ok3")) & (l1.l_suppkey != F.col("__sk3")),
        how="left_anti",
    )
    sup = spark.read.parquet(f"{sf_dir}/supplier.parquet").select("s_suppkey", "s_name")
    return (
        cand.join(F.broadcast(sup), cand.l_suppkey == sup.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


# --------------------------------------------------------------------------
# Round-7 TPC-H completion: Q7/Q8/Q9/Q11/Q12/Q16/Q17/Q20 shapes — with the
# documented schema adaptations (no partsupp: inventory/supply notions
# derive from lineitem; no shipmode/commitdate: linestatus buckets and the
# returned flag stand in; supplycost proxied as 60% of p_retailprice).
# --------------------------------------------------------------------------
_Q7_BLOC_A = ["NATION_0", "NATION_1", "NATION_2", "NATION_3", "NATION_4"]
_Q7_BLOC_B = ["NATION_5", "NATION_6", "NATION_7", "NATION_8", "NATION_9"]


@query(
    "q7_nation_volume",
    f"""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(year(l.l_shipdate) AS BIGINT) AS l_year,
           {sql_dec_sum("l.l_extendedprice * (1 - l.l_discount)", 2)} AS revenue
    FROM lineitem l
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
    WHERE ((n1.n_name IN ('NATION_0','NATION_1','NATION_2','NATION_3','NATION_4')
         AND n2.n_name IN ('NATION_5','NATION_6','NATION_7','NATION_8','NATION_9'))
        OR (n1.n_name IN ('NATION_5','NATION_6','NATION_7','NATION_8','NATION_9')
         AND n2.n_name IN ('NATION_0','NATION_1','NATION_2','NATION_3','NATION_4')))
      AND l.l_shipdate >= TIMESTAMP '1996-01-01'
      AND l.l_shipdate < TIMESTAMP '1998-01-01'
    GROUP BY 1, 2, 3
    """,
)
def q7_nation_volume_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: bilateral trade volume between two nation blocs
    by ship year (blocs rather than single nations so the result is
    non-degenerate at every scale factor — sf0.001 has only 10
    suppliers).  100 TB plan: supplier→nation and customer→nation dims BROADCAST
    onto their fact sides; the only big shuffle is lineitem⋈orders on
    orderkey; the nation-pair disjunction filters AFTER the broadcast
    attaches (tiny), and the final agg is ≤2×2×#years rows with map-side
    partials.  Revenue is the order-independent micro-int decimal sum."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    sup = spark.read.parquet(f"{sf_dir}/supplier.parquet").select("s_suppkey", "s_nationkey")
    nat = spark.read.parquet(f"{sf_dir}/nation.parquet").select("n_nationkey", "n_name")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").select("c_custkey", "c_nationkey")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select("o_orderkey", "o_custkey")
    n1 = nat.select(F.col("n_nationkey").alias("__nk1"), F.col("n_name").alias("supp_nation"))
    n2 = nat.select(F.col("n_nationkey").alias("__nk2"), F.col("n_name").alias("cust_nation"))
    sn = sup.join(F.broadcast(n1), sup.s_nationkey == F.col("__nk1")).select(
        "s_suppkey", "supp_nation"
    )
    cn = cust.join(F.broadcast(n2), cust.c_nationkey == F.col("__nk2")).select(
        "c_custkey", "cust_nation"
    )
    j = (
        li.join(F.broadcast(sn), li.l_suppkey == sn.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cn), orders.o_custkey == cn.c_custkey)
        .filter(
            (F.col("supp_nation").isin(*_Q7_BLOC_A) & F.col("cust_nation").isin(*_Q7_BLOC_B))
            | (F.col("supp_nation").isin(*_Q7_BLOC_B) & F.col("cust_nation").isin(*_Q7_BLOC_A))
        )
    )
    return j.groupBy(
        "supp_nation", "cust_nation", F.year("l_shipdate").cast("long").alias("l_year")
    ).agg(
        dec_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 2).alias("revenue")
    )


@query(
    "q8_market_share",
    f"""
    WITH vol AS (
        SELECT CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
               l.l_extendedprice * (1 - l.l_discount) AS volume,
               n1.n_name AS supp_nation
        FROM lineitem l
        JOIN part p ON l.l_partkey = p.p_partkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
        JOIN region r ON n2.n_regionkey = r.r_regionkey
        WHERE r.r_name = 'ASIA' AND p.p_type = 'ECONOMY'
          AND o.o_orderdate >= TIMESTAMP '1996-01-01'
          AND o.o_orderdate < TIMESTAMP '1998-01-01'
    )
    SELECT o_year,
           {sql_dec_sum("CASE WHEN supp_nation = 'NATION_5' THEN volume ELSE 0.0 END", 2)} AS nation_volume,
           {sql_dec_sum("volume", 2)} AS total_volume,
           floor(({sql_dec_sum("CASE WHEN supp_nation = 'NATION_5' THEN volume ELSE 0.0 END", 2)})
                 / ({sql_dec_sum("volume", 2)}) * 1000000 + 0.5) / 1000000.0 AS mkt_share
    FROM vol GROUP BY o_year
    """,
)
def q8_market_share_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one nation's share of a region's yearly trade in a
    part type.  100 TB plan: part / supplier-nation / customer-nation-
    region dims all BROADCAST; lineitem⋈orders on orderkey is the single
    big shuffle; the share is a conditional aggregate INSIDE the same
    per-year agg (one pass, no second join).  Both sums are micro-int
    decimal sums and the share quotient gets the IEEE floor-round, so
    the derived double is bit-identical cross-engine."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    part = (
        spark.read.parquet(f"{sf_dir}/part.parquet")
        .filter(F.col("p_type") == "ECONOMY")
        .select("p_partkey")
    )
    sup = spark.read.parquet(f"{sf_dir}/supplier.parquet").select("s_suppkey", "s_nationkey")
    nat = spark.read.parquet(f"{sf_dir}/nation.parquet")
    sn = sup.join(
        F.broadcast(nat.select(F.col("n_nationkey").alias("__nk1"), F.col("n_name").alias("supp_nation"))),
        sup.s_nationkey == F.col("__nk1"),
    ).select("s_suppkey", "supp_nation")
    reg = spark.read.parquet(f"{sf_dir}/region.parquet").filter(F.col("r_name") == "ASIA")
    cn = (
        spark.read.parquet(f"{sf_dir}/customer.parquet")
        .select("c_custkey", "c_nationkey")
        .join(
            F.broadcast(
                nat.join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey).select(
                    F.col("n_nationkey").alias("__nk2")
                )
            ),
            F.col("c_nationkey") == F.col("__nk2"),
        )
        .select("c_custkey")
    )
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    j = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(sn), li.l_suppkey == sn.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cn), F.col("o_custkey") == cn.c_custkey)
    )
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    nat_vol = F.when(F.col("supp_nation") == "NATION_5", vol).otherwise(F.lit(0.0))
    g = j.groupBy(F.year("o_orderdate").cast("long").alias("o_year")).agg(
        dec_sum(nat_vol, 2).alias("nation_volume"),
        dec_sum(vol, 2).alias("total_volume"),
    )
    return g.select(
        "o_year",
        "nation_volume",
        "total_volume",
        (
            F.floor(F.col("nation_volume") / F.col("total_volume") * F.lit(1e6) + F.lit(0.5))
            / F.lit(1e6)
        ).alias("mkt_share"),
    )


@query(
    "q9_product_profit",
    f"""
    SELECT n.n_name AS nation, CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
           {sql_dec_sum(
               "l.l_extendedprice * (1 - l.l_discount) - 0.6 * p.p_retailprice * l.l_quantity", 2
           )} AS sum_profit
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE p.p_name LIKE '%gear%'
    GROUP BY 1, 2
    """,
)
def q9_product_profit_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit on a product line by supplier nation and
    order year.  Adaptation: no partsupp, so supply cost is proxied as
    60% of p_retailprice per unit (documented, same on both sides).
    100 TB plan: the name-filtered part set and supplier→nation dims
    BROADCAST onto the lineitem scan; lineitem⋈orders on orderkey is the
    one big shuffle; profit accumulates as a micro-int decimal sum."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    part = (
        spark.read.parquet(f"{sf_dir}/part.parquet")
        .filter(F.col("p_name").like("%gear%"))
        .select("p_partkey", "p_retailprice")
    )
    sup = spark.read.parquet(f"{sf_dir}/supplier.parquet").select("s_suppkey", "s_nationkey")
    nat = spark.read.parquet(f"{sf_dir}/nation.parquet").select("n_nationkey", "n_name")
    sn = sup.join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey).select(
        "s_suppkey", F.col("n_name").alias("nation")
    )
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select("o_orderkey", "o_orderdate")
    j = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(sn), li.l_suppkey == sn.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
    )
    profit = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - F.lit(0.6) * F.col("p_retailprice") * F.col("l_quantity")
    )
    return j.groupBy(
        "nation", F.year("o_orderdate").cast("long").alias("o_year")
    ).agg(dec_sum(profit, 2).alias("sum_profit"))


@query(
    "q11_important_stock",
    f"""
    WITH pv AS (
        SELECT l_partkey, {sql_dec_sum("l_extendedprice * (1 - l_discount)", 2)} AS value
        FROM lineitem GROUP BY l_partkey
    ),
    tot AS (
        SELECT ({sql_dec_sum("l_extendedprice * (1 - l_discount)", 2)}) AS total,
               CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_parts
        FROM lineitem
    )
    SELECT pv.l_partkey, pv.value
    FROM pv, tot
    WHERE pv.value > tot.total / tot.n_parts * 1.5
    """,
)
def q11_important_stock_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: parts whose traded value exceeds a fraction of
    the GLOBAL total — a group aggregate gated by a global scalar.
    Adaptation: value is traded lineitem value (no partsupp inventory),
    and the gate is 1.5× the MEAN per-part value so the shape stays
    non-degenerate at every scale factor (a fixed fraction of the total
    empties out as #parts grows).  100 TB plan: the global total and
    part count are ONE 1-row aggregate BROADCAST back (never a per-row
    subquery); the threshold is pure IEEE arithmetic on bit-identical
    inputs, so the > gate is bit-safe.  Per-part values pre-aggregate
    map-side on the scan."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    val = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    pv = li.groupBy("l_partkey").agg(dec_sum(val, 2).alias("value"))
    tot = li.agg(
        dec_sum(val, 2).alias("__total"),
        F.countDistinct("l_partkey").cast("long").alias("__n_parts"),
    )
    return (
        pv.crossJoin(F.broadcast(tot))
        .filter(F.col("value") > F.col("__total") / F.col("__n_parts") * F.lit(1.5))
        .select("l_partkey", "value")
    )


@query(
    "q12_priority_by_status",
    """
    SELECT l.l_linestatus AS shipmode,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-01-01'
      AND l.l_shipdate < TIMESTAMP '1998-01-01'
    GROUP BY l.l_linestatus
    """,
)
def q12_priority_by_status_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: the conditional-count pivot of order priorities
    per shipping bucket.  Adaptation: no l_shipmode column, so
    l_linestatus is the bucket.  100 TB plan: the shipdate range filter
    pushes to the lineitem scan; the orderkey join shuffles only the
    filtered year; CASE-sums fold map-side into a ≤#statuses-row agg."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_orderpriority"
    )
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(F.col("l_linestatus").alias("shipmode"))
        .agg(
            F.sum(F.when(hi, 1).otherwise(0)).cast("long").alias("high_line_count"),
            F.sum(F.when(~hi, 1).otherwise(0)).cast("long").alias("low_line_count"),
        )
    )


@query(
    "q16_supplier_breadth",
    """
    SELECT p.p_brand, p.p_type, p.p_size,
           CAST(COUNT(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_brand <> 'Brand#1' AND p.p_size IN (5, 10, 15, 20, 25)
      AND NOT EXISTS (SELECT 1 FROM supplier s
                      WHERE s.s_acctbal < 0 AND s.s_suppkey = l.l_suppkey)
    GROUP BY 1, 2, 3
    """,
)
def q16_supplier_breadth_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: how many distinct suppliers serve each surviving
    (brand, type, size) bucket, excluding a complaint set.  Adaptation:
    the excluded suppliers are those with negative balance (no comment
    column).  100 TB plan: the filtered part dim and the tiny exclusion
    key set BROADCAST (NOT EXISTS → LEFT-ANTI against a broadcast — the
    oracle uses NOT EXISTS, not NOT IN, so a NULL in the exclusion set
    can never flip the whole result away from anti-join semantics);
    COUNT(DISTINCT supplier) shuffles a pre-deduplicated
    (bucket, supplier) frame, never raw lineitem."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select("l_partkey", "l_suppkey")
    part = (
        spark.read.parquet(f"{sf_dir}/part.parquet")
        .filter((F.col("p_brand") != "Brand#1") & F.col("p_size").isin(5, 10, 15, 20, 25))
        .select("p_partkey", "p_brand", "p_type", "p_size")
    )
    bad = (
        spark.read.parquet(f"{sf_dir}/supplier.parquet")
        .filter(F.col("s_acctbal") < 0)
        .select(F.col("s_suppkey").alias("__bad"))
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(bad), li.l_suppkey == F.col("__bad"), how="left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").cast("long").alias("supplier_cnt"))
    )


@query(
    "q17_small_quantity_revenue",
    f"""
    WITH pa AS (
        SELECT l.l_partkey, {sql_dec_avg("l.l_quantity")} AS avg_qty
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        WHERE p.p_brand = 'Brand#3'
        GROUP BY l.l_partkey
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_small_lines,
           floor({sql_dec_sum("l.l_extendedprice", 2)} / 7.0 * 100 + 0.5) / 100.0
               AS avg_yearly
    FROM lineitem l
    JOIN pa ON l.l_partkey = pa.l_partkey
    WHERE l.l_quantity < 0.2 * pa.avg_qty
    """,
)
def q17_small_quantity_revenue_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: revenue that would vanish if small-quantity
    orders of a brand were dropped — the correlated per-part AVG
    subquery DECORRELATED into a per-part aggregate joined back.
    100 TB plan: the brand-filtered part keys BROADCAST onto the scan;
    the per-part average is a ≤#parts-row aggregate that BROADCASTS
    back; the threshold compare is pure IEEE on the bit-identical
    decimal average; the final result is ONE row.  avg_yearly gets the
    IEEE floor-round at 2 dp on both sides."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    part = (
        spark.read.parquet(f"{sf_dir}/part.parquet")
        .filter(F.col("p_brand") == "Brand#3")
        .select("p_partkey")
    )
    brand_li = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    pa = brand_li.groupBy(F.col("l_partkey").alias("__pk")).agg(
        dec_avg("l_quantity").alias("avg_qty")
    )
    small = brand_li.join(F.broadcast(pa), brand_li.l_partkey == F.col("__pk")).filter(
        F.col("l_quantity") < F.lit(0.2) * F.col("avg_qty")
    )
    return small.agg(
        F.count(F.lit(1)).alias("n_small_lines"),
        (
            F.floor(dec_sum("l_extendedprice", 2) / F.lit(7.0) * F.lit(100.0) + F.lit(0.5))
            / F.lit(100.0)
        ).alias("avg_yearly"),
    )


@query(
    "q20_dominant_supplier",
    f"""
    WITH red_parts AS (SELECT p_partkey FROM part WHERE p_name LIKE 'red%'),
    pair_qty AS (
        SELECT l_partkey, l_suppkey, {sql_dec_sum("l_quantity", 2)} AS pair_qty
        FROM lineitem
        WHERE l_partkey IN (SELECT p_partkey FROM red_parts)
        GROUP BY l_partkey, l_suppkey
    ),
    part_qty AS (
        SELECT l_partkey, {sql_dec_sum("l_quantity", 2)} AS part_qty,
               CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS n_supp
        FROM lineitem
        WHERE l_partkey IN (SELECT p_partkey FROM red_parts)
        GROUP BY l_partkey
    ),
    dominant AS (
        SELECT DISTINCT pq.l_suppkey
        FROM pair_qty pq JOIN part_qty t ON pq.l_partkey = t.l_partkey
        WHERE pq.pair_qty > 3.0 * t.part_qty / t.n_supp
    )
    SELECT s.s_suppkey, s.s_name, n.n_name
    FROM supplier s
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    WHERE s.s_suppkey IN (SELECT l_suppkey FROM dominant)
    """,
)
def q20_dominant_supplier_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: suppliers holding a dominant position on a named
    part family — the nested semi-join chain (parts → qualifying
    (part, supplier) volumes → supplier semi-restriction).  Adaptation:
    no partsupp availqty, so dominance is shipping more than
    3× the part's FAIR share of volume (share thresholds that ignore
    the supplier count empty out as scale grows).  100 TB plan: the
    name-filtered part keys BROADCAST into the lineitem scan ONCE and
    both volume aggregates reuse that filtered frame (per-pair and
    per-part, map-side partials); the dominance gate joins the
    ≤#parts-row total back by partkey; the supplier restriction is a
    LEFT-SEMI against the DISTINCT dominant key set; nation attaches by
    broadcast."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_partkey", "l_suppkey", "l_quantity"
    )
    red = (
        spark.read.parquet(f"{sf_dir}/part.parquet")
        .filter(F.col("p_name").like("red%"))
        .select("p_partkey")
    )
    rli = li.join(F.broadcast(red), li.l_partkey == red.p_partkey).select(
        "l_partkey", "l_suppkey", "l_quantity"
    )
    pair = rli.groupBy("l_partkey", "l_suppkey").agg(dec_sum("l_quantity", 2).alias("pair_qty"))
    tot = rli.groupBy(F.col("l_partkey").alias("__pk")).agg(
        dec_sum("l_quantity", 2).alias("part_qty"),
        F.countDistinct("l_suppkey").cast("long").alias("__n_supp"),
    )
    dominant = (
        pair.join(F.broadcast(tot), pair.l_partkey == F.col("__pk"))
        .filter(F.col("pair_qty") > F.lit(3.0) * F.col("part_qty") / F.col("__n_supp"))
        .select("l_suppkey")
        .distinct()
    )
    sup = spark.read.parquet(f"{sf_dir}/supplier.parquet").select(
        "s_suppkey", "s_name", "s_nationkey"
    )
    nat = spark.read.parquet(f"{sf_dir}/nation.parquet").select("n_nationkey", "n_name")
    return (
        sup.join(F.broadcast(dominant), sup.s_suppkey == dominant.l_suppkey, how="left_semi")
        .join(F.broadcast(nat), F.col("s_nationkey") == nat.n_nationkey)
        .select("s_suppkey", "s_name", "n_name")
    )


# --------------------------------------------------------------------------
# Round-7: SemDeDup-shaped semantic dedup (cluster → in-cluster prune) and
# DSIR-shaped importance weighting — LLM-pipeline operators with full
# bit-deterministic SQL replays.
# --------------------------------------------------------------------------
def _sql_semantic_dedup(
    n_clusters: int | str = 16, threshold: float = 0.99
) -> str:
    """Full SQL replay of ``operators/vectors.semantic_dedup``: the
    lowest-id centroid pick, the strict-fold assignment argmax (ties to
    the lowest centroid index), the in-cluster pair scoring, and the
    lower-id-wins drop set — every arithmetic step the Spark plan
    performs, so the hash check is exact by construction (no numpy
    anywhere on either side).  ``n_clusters`` may be a SQL expression
    (the scaled twin passes a corpus-proportional subquery LIMIT)."""
    from mistocksync_spark.plans.feeds import EMB_AUG_SQL_DUCKDB

    cos_ec = _sql_cos("e.embedding", "c.cv")
    cos_ab = _sql_cos("a.embedding", "b.embedding")
    return f"""
    WITH ea AS ({EMB_AUG_SQL_DUCKDB}),
    cents AS (
        SELECT row_number() OVER (ORDER BY vec_id ASC) - 1 AS cidx, embedding AS cv
        FROM ea ORDER BY vec_id ASC LIMIT {n_clusters}
    ),
    assign AS (
        SELECT vec_id, cidx FROM (
            SELECT e.vec_id, c.cidx,
                   row_number() OVER (
                       PARTITION BY e.vec_id ORDER BY {cos_ec} DESC, c.cidx ASC
                   ) AS rnk
            FROM ea e, cents c
        ) WHERE rnk = 1
    ),
    pairs AS (
        SELECT b.vec_id AS dropped
        FROM ea a
        JOIN assign aa ON a.vec_id = aa.vec_id
        JOIN assign ab ON aa.cidx = ab.cidx AND aa.vec_id < ab.vec_id
        JOIN ea b ON b.vec_id = ab.vec_id
        WHERE {cos_ab} >= {threshold}
    ),
    drops AS (SELECT DISTINCT dropped FROM pairs)
    SELECT e.vec_id, CAST(aa.cidx AS BIGINT) AS centroid,
           CAST(CASE WHEN d.dropped IS NULL THEN 1 ELSE 0 END AS INT) AS keep
    FROM ea e
    JOIN assign aa ON e.vec_id = aa.vec_id
    LEFT JOIN drops d ON e.vec_id = d.dropped
    """


@query("semantic_dedup", _sql_semantic_dedup())
def semantic_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-shaped semantic dedup over the augmented embedding feed
    (operators/vectors.semantic_dedup): coarse clusters bound the O(n²)
    pairwise scoring to cluster size — the web-scale embedding-dedup
    design — and a vector drops when a lower-id in-cluster neighbor is
    ≥0.99 cosine.  Fully bit-deterministic: no RNG, no numpy; the
    assignment argmax and pair scores are the same strict-fold
    expressions the oracle replays."""
    from mistocksync_spark.operators.vectors import semantic_dedup
    from mistocksync_spark.plans.feeds import emb_aug

    return semantic_dedup(emb_aug(spark, sf_dir))


@query(
    "semantic_dedup_scaled",
    _sql_semantic_dedup(n_clusters="(SELECT GREATEST(16, COUNT(*) // 200) FROM ea)"),
)
def semantic_dedup_scaled_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup with a CORPUS-PROPORTIONAL cluster count: the fixed-k
    tier's O(n²/k) in-cluster scoring is the method's own
    bound and measured 39.5× on 10× data at k=16 (SCALE_r11); holding
    cluster DENSITY constant instead (k = max(16, n/200) — the same rule
    ``cosine_near_dup_pairs_ivf`` uses) keeps per-cluster pair volume flat
    as the corpus grows, the linear-path answer for this family.  The
    cluster count comes from one bounded count job (the documented
    pre-flight; at 100 TB pass n_clusters explicitly); the oracle derives
    the same k with a subquery LIMIT, so the hash check covers the
    dynamic-k plumbing end-to-end."""
    from mistocksync_spark.operators.vectors import semantic_dedup
    from mistocksync_spark.plans.feeds import emb_aug

    emb = emb_aug(spark, sf_dir)
    return semantic_dedup(emb, n_clusters=max(16, int(emb.count()) // 200))


@query(
    "dsir_weights",
    """
    WITH tok AS (
        SELECT doc_id, source, regexp_split_to_array(lower(text), '\\s+') AS t
        FROM documents
    ),
    stream AS (
        SELECT doc_id,
               CAST(source IN ('src0', 'src1') AS BIGINT) AS is_t,
               (list_reduce(list_transform(generate_series(1, 8),
                    i -> strpos('0123456789abcdef',
                                substr(md5(t[CAST(i2 AS INT)] || ' ' || t[CAST(i2 AS INT) + 1]), i, 1)) - 1),
                    (acc, x) -> acc * 16 + x)) % 4096 AS bucket
        FROM tok, UNNEST(generate_series(1, len(t) - 1)) AS u(i2)
        WHERE len(t) >= 2
    ),
    counts AS (
        SELECT bucket, SUM(is_t) AS ct, COUNT(*) AS cc FROM stream GROUP BY bucket
    ),
    tot AS (SELECT SUM(ct) AS tott, SUM(cc) AS totc FROM counts),
    prob AS (
        SELECT bucket,
               CAST(floor(
                   ((CAST(ct + 1 AS DOUBLE) / CAST(tott + 4096 AS DOUBLE))
                    / (CAST(cc + 1 AS DOUBLE) / CAST(totc + 4096 AS DOUBLE)))
                   * 1000000 + 0.5) AS HUGEINT) AS qr
        FROM counts, tot
    )
    SELECT s.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           CAST(SUM(p.qr) AS DOUBLE) / 1000000.0 / COUNT(*) AS dsir_score,
           CAST((CAST(SUM(p.qr) AS DOUBLE) / 1000000.0 / COUNT(*)) > 1.0 AS INT) AS selected
    FROM stream s JOIN prob p USING (bucket)
    GROUP BY s.doc_id
    """,
)
def dsir_weights_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-shaped importance weighting (operators/textual.dsir_weights):
    hashed-bigram target/corpus models with the target slice source ∈
    {src0, src1}; the bucket table is bounded by the hash dimension —
    never corpus size — so it broadcasts back onto the bigram stream;
    scores are exact-integer count ratios, micro-int accumulated, so the
    selection bit is bit-deterministic cross-engine."""
    from mistocksync_spark.operators.textual import dsir_weights

    return dsir_weights(spark.read.parquet(f"{sf_dir}/documents.parquet"))


@query(
    "purchase_view_join_stream",
    """
    SELECT v.event_id AS view_id, p.event_id AS purchase_id
    FROM events v
    JOIN events p
      ON v.user_id = p.user_id
     AND v.event_type = 'view' AND p.event_type = 'purchase'
     AND v.ts >= p.ts - INTERVAL 1 HOUR AND v.ts <= p.ts
    GROUP BY 1, 2
    """,
)
def purchase_view_join_stream_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join run as Structured Streaming
    (streaming/events.purchase_view_join_stream): purchases attribute to
    the same user's views from the trailing hour; watermarks on BOTH
    sides bound the join state (views age out an hour past the
    watermark).  The graded surface is the DISTINCT matched id-pair set,
    which the batch interval-join oracle recomputes exactly."""
    from mistocksync_spark.streaming.events import (
        purchase_view_join_stream,
        read_events_stream,
    )

    sink = _run_stream(
        spark,
        purchase_view_join_stream(read_events_stream(spark, sf_dir)),
        "purchase_view_join_sink",
        "append",
    )
    # inner-join append emits each pair once per micro-batch pass; the
    # graded contract is the matched KEY-PAIR SET, so distinct() keeps the
    # surface batching-independent (same rationale as the throttle query)
    return sink.select("view_id", "purchase_id").distinct()


@query(
    "bpe_pair_counts",
    r"""
    WITH words AS (
        SELECT unnest(regexp_split_to_array(lower(text), '\s+')) AS w FROM documents
    ),
    wc AS (SELECT w, COUNT(*) AS wn FROM words WHERE length(w) > 0 GROUP BY w),
    pairs AS (
        SELECT substr(w, CAST(i AS INT), 2) AS pair, wn
        FROM wc, UNNEST(generate_series(1, length(w) - 1)) AS u(i)
        WHERE length(w) >= 2
    ),
    pc AS (SELECT pair, SUM(wn) AS cnt FROM pairs GROUP BY pair)
    SELECT pair, CAST(cnt AS BIGINT) AS cnt
    FROM pc ORDER BY cnt DESC, pair ASC LIMIT 50
    """,
)
def bpe_pair_counts_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE merge-pair statistic (operators/textual.bpe_pair_counts): the
    corpus aggregates to the word-TYPE frequency table first — bounded
    by vocabulary, not corpus size — and character pairs explode over
    distinct words only, weighted by frequency.  Exact integer counts;
    total top-k order, so the emitted set is deterministic."""
    from mistocksync_spark.operators.textual import bpe_pair_counts

    return bpe_pair_counts(spark.read.parquet(f"{sf_dir}/documents.parquet"))


# the same nibble-fold hex-to-int fragment as every other md5-bucket
# oracle — built FROM _SQL_HEX8 so a future parity fix there propagates
_SQL_CMS_BUCKET = "(" + _SQL_HEX8.format(sha="md5('{d}|' || {col})") + ") % 1024"


@query(
    "token_cms_estimate",
    r"""
    WITH toks AS (
        SELECT unnest(regexp_split_to_array(lower(text), '\s+')) AS tok FROM documents
    ),
    t AS (SELECT tok FROM toks WHERE length(tok) > 0),
    cells AS (
        SELECT u.d AS seed,
               CASE u.d
    """
    + "\n".join(
        f"               WHEN {d} THEN {_SQL_CMS_BUCKET.format(d=d, col='tok')}"
        for d in range(4)
    )
    + r"""
               END AS bucket
        FROM t, UNNEST([0, 1, 2, 3]) AS u(d)
    ),
    sketch AS (SELECT seed, bucket, COUNT(*) AS cell FROM cells GROUP BY seed, bucket),
    exact AS (SELECT tok, COUNT(*) AS exact_cnt FROM t GROUP BY tok),
    top AS (SELECT tok, exact_cnt FROM exact ORDER BY exact_cnt DESC, tok ASC LIMIT 20),
    probes AS (
        SELECT top.tok, top.exact_cnt, u.d AS seed,
               CASE u.d
    """
    + "\n".join(
        f"               WHEN {d} THEN {_SQL_CMS_BUCKET.format(d=d, col='top.tok')}"
        for d in range(4)
    )
    + r"""
               END AS bucket
        FROM top, UNNEST([0, 1, 2, 3]) AS u(d)
    )
    SELECT p.tok, CAST(p.exact_cnt AS BIGINT) AS exact_cnt,
           CAST(MIN(s.cell) AS BIGINT) AS cms_est,
           CAST(MIN(s.cell) - p.exact_cnt AS BIGINT) AS overshoot
    FROM probes p JOIN sketch s USING (seed, bucket)
    GROUP BY p.tok, p.exact_cnt
    """,
)
def token_cms_estimate_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min-sketch heavy-hitter estimation
    (operators/textual.token_cms_estimate): the depth×width sketch is
    bounded regardless of corpus size and built with ONE partial-agg
    shuffle; estimates can only OVERshoot (collisions add) — the
    overshoot column the oracle recomputes asserts it.  All md5 hashing
    and exact integer counters, bit-identical cross-engine."""
    from mistocksync_spark.operators.textual import token_cms_estimate

    return token_cms_estimate(spark.read.parquet(f"{sf_dir}/documents.parquet"))


def _sql_zorder(a: str, b: str, bits: int = 8) -> str:
    """SQL replay of sinks/layout.zorder_key: the identical shift/mask
    integer fold, exact in any engine."""
    terms = []
    for i in range(bits):
        terms.append(f"((({a}) >> {i}) % 2) * {1 << (2 * i)}")
        terms.append(f"((({b}) >> {i}) % 2) * {1 << (2 * i + 1)}")
    return "(" + " + ".join(terms) + ")"


@query(
    "events_zorder_buckets",
    f"""
    WITH keyed AS (
        SELECT {_sql_zorder("user_id % 256", "CAST(hour(ts) AS BIGINT)")} AS zkey
        FROM events
    )
    SELECT CAST(zkey >> 8 AS BIGINT) AS zblock,
           CAST(COUNT(*) AS BIGINT) AS cnt,
           CAST(MIN(zkey) AS BIGINT) AS zmin,
           CAST(MAX(zkey) AS BIGINT) AS zmax
    FROM keyed GROUP BY zkey >> 8
    """,
)
def events_zorder_buckets_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering key over (user bucket, hour of day) —
    the two-dimension layout key behind sinks/layout.zordered_write
    (Delta/Iceberg OPTIMIZE ZORDER technique, public), graded on its
    exact integer interleave: per coarse z-block row counts and key
    bounds.  Pure shift/mask expressions, one partial-agg shuffle of a
    ≤2^8-row frame; bit-identical cross-engine by construction."""
    from mistocksync_spark.sinks.layout import zorder_key
    from mistocksync_spark.sources.testdata import load_events

    ev = load_events(spark, sf_dir)
    keyed = ev.select(
        zorder_key(
            (F.col("user_id") % 256), F.hour("ts").cast("long"), bits=8
        ).alias("zkey")
    )
    return keyed.groupBy(
        F.shiftright(F.col("zkey"), 8).cast("long").alias("zblock")
    ).agg(
        F.count(F.lit(1)).alias("cnt"),
        F.min("zkey").cast("long").alias("zmin"),
        F.max("zkey").cast("long").alias("zmax"),
    )


def _sql_correlations(table: str, cols: list[str]) -> str:
    """HUGEINT replay of operators/aggregates.numeric_correlations: the
    same exact micro-int moment sums (int128 — no rounding anywhere until
    the single cast of each exact integer difference) and the same final
    IEEE op order (cov / sqrt(vx) / sqrt(vy))."""
    u = "CAST(floor(({c}) * 1000000 + 0.5) AS HUGEINT)"
    moments = [f"COUNT({c}) AS n_{c}" for c in cols]
    moments += [f"SUM({u.format(c=c)}) AS s_{c}" for c in cols]
    moments += [f"SUM({u.format(c=c)} * {u.format(c=c)}) AS ss_{c}" for c in cols]
    pairs = [(a, b) for i, a in enumerate(cols) for b in cols[i + 1 :]]
    moments += [
        f"SUM({u.format(c=a)} * {u.format(c=b)}) AS sp_{a}_{b}" for a, b in pairs
    ]
    selects = []
    for a, b in pairs:
        cov = f"CAST(CAST(n_{a} AS HUGEINT) * sp_{a}_{b} - s_{a} * s_{b} AS DOUBLE)"
        vx = f"CAST(CAST(n_{a} AS HUGEINT) * ss_{a} - s_{a} * s_{a} AS DOUBLE)"
        vy = f"CAST(CAST(n_{a} AS HUGEINT) * ss_{b} - s_{b} * s_{b} AS DOUBLE)"
        selects.append(
            f"SELECT '{a}' AS col_a, '{b}' AS col_b, CAST(n_{a} AS BIGINT) AS n, "
            f"CASE WHEN {vx} > 0 AND {vy} > 0 "
            f"THEN {cov} / sqrt({vx}) / sqrt({vy}) END AS pearson_r FROM m"
        )
    return f"WITH m AS (SELECT {', '.join(moments)} FROM {table}) " + " UNION ALL ".join(
        selects
    )


@query(
    "lineitem_correlations",
    _sql_correlations("lineitem", ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]),
)
def lineitem_correlations_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass exact Pearson correlation matrix over the lineitem
    numeric columns (operators/aggregates.numeric_correlations): all
    moment sums accumulate as exact integers in ONE scan-aggregate (the
    classic one-pass cancellation happens in integer arithmetic, not
    floating point), the matrix unpivots from the single result row, and
    the final divisions are the only IEEE ops — bit-identical to the
    HUGEINT SQL replay."""
    from mistocksync_spark.operators.aggregates import numeric_correlations

    return numeric_correlations(
        spark.read.parquet(f"{sf_dir}/lineitem.parquet"),
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
    )


_SQL_U_VALUE = "CAST(floor(value * 1000000 + 0.5) AS HUGEINT)"


@query(
    "events_cuped",
    f"""
    WITH pu AS (
        SELECT user_id AS usr,
               SUM(CASE WHEN ts < TIMESTAMP '2024-01-16' THEN {_SQL_U_VALUE} ELSE 0 END) AS upre,
               SUM(CASE WHEN ts >= TIMESTAMP '2024-01-16' THEN {_SQL_U_VALUE} ELSE 0 END) AS upost
        FROM events GROUP BY user_id
    ),
    m AS (
        SELECT CAST(COUNT(*) AS HUGEINT) AS n, SUM(upre) AS sx, SUM(upost) AS sy,
               SUM(upre * upre) AS sxx, SUM(upre * upost) AS sxy
        FROM pu
    ),
    j AS (
        SELECT pu.usr, pu.upre, pu.upost,
               CASE WHEN CAST(m.n * m.sxx - m.sx * m.sx AS DOUBLE) > 0
                    THEN CAST(m.n * m.sxy - m.sx * m.sy AS DOUBLE)
                         / CAST(m.n * m.sxx - m.sx * m.sx AS DOUBLE)
                    ELSE 0.0 END AS theta,
               CAST(m.sx AS DOUBLE) / CAST(m.n AS DOUBLE) AS mean_pre
        FROM pu, m
    )
    SELECT CAST(usr % 2 AS BIGINT) AS variant,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(upost) AS DOUBLE) / 1000000.0 / COUNT(*) AS mean_post,
           CAST(SUM(CAST(floor(
               CAST(upost AS DOUBLE)
               - theta * (CAST(upre AS DOUBLE) - mean_pre) + 0.5) AS HUGEINT))
               AS DOUBLE) / 1000000.0 / COUNT(*) AS mean_adjusted,
           MIN(theta) AS theta
    FROM j GROUP BY usr % 2
    """,
)
def events_cuped_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance-reduced A/B readout
    (operators/aggregates.cuped_adjusted_means): per-variant post-period
    means adjusted by the pre-period covariate.  ONE user-keyed shuffle
    builds exact micro-int per-user sums; all cross-user moments
    accumulate those integers exactly (the covariance cancellation
    happens in integer arithmetic), theta and the adjustments are pure
    IEEE ops on bit-identical inputs, and adjusted values re-quantize
    before the per-variant mean — no order-dependent double sum
    anywhere."""
    from mistocksync_spark.operators.aggregates import cuped_adjusted_means
    from mistocksync_spark.sources.testdata import load_events

    return cuped_adjusted_means(load_events(spark, sf_dir), "2024-01-16")


# --------------------------------------------------------------------------
# Data-quality gates — declarative rule engine, join-key
# skew profiler, leakage-safe hash split (operators/quality.py)
# --------------------------------------------------------------------------

_QUALITY_RULES_SQL = """
    WITH s AS (
        SELECT COUNT(*) AS n,
               CAST(COALESCE(SUM(CAST(l_quantity IS NULL AS BIGINT)), 0) AS BIGINT) AS v0,
               CAST(COALESCE(SUM(CAST(l_quantity IS NOT NULL
                    AND (l_quantity < 0 OR l_quantity > 100) AS BIGINT)), 0) AS BIGINT) AS v1,
               CAST(COALESCE(SUM(CAST(l_discount IS NOT NULL
                    AND (l_discount < 0 OR l_discount > 1) AS BIGINT)), 0) AS BIGINT) AS v2,
               CAST(COALESCE(SUM(CAST(l_returnflag IS NOT NULL
                    AND l_returnflag NOT IN ('A', 'N', 'R') AS BIGINT)), 0) AS BIGINT) AS v3,
               CAST(COALESCE(SUM(CAST(l_linestatus IS NOT NULL
                    AND NOT regexp_matches(l_linestatus, '^[OF]$') AS BIGINT)), 0) AS BIGINT) AS v4,
               CAST(COUNT(l_orderkey) - COUNT(DISTINCT l_orderkey) AS BIGINT) AS v5
        FROM lineitem
    )
    SELECT r.rule_name, r.column_name AS "column", r.kind, s.n AS n_rows,
           r.v AS n_violations,
           CASE WHEN s.n > 0
                THEN CAST((CAST(r.v AS HUGEINT) * 1000000) // s.n AS BIGINT)
           END AS violation_ppm,
           r.v = 0 AS passed
    FROM s, LATERAL (
        SELECT * FROM (VALUES
            ('qty_not_null', 'l_quantity', 'not_null', s.v0),
            ('qty_range', 'l_quantity', 'range', s.v1),
            ('disc_range', 'l_discount', 'range', s.v2),
            ('flag_domain', 'l_returnflag', 'isin', s.v3),
            ('status_regex', 'l_linestatus', 'regex', s.v4),
            ('orderkey_unique', 'l_orderkey', 'unique', s.v5)
        ) AS t(rule_name, column_name, kind, v)
    ) AS r
    """


@query("lineitem_quality_rules", _QUALITY_RULES_SQL)
def lineitem_quality_rules_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality gate (operators/quality.
    data_quality_report — the Deequ/Great-Expectations shape): six rules
    over lineitem evaluated with scan sharing — every row-level rule is
    one summed flag inside a SINGLE full-scan aggregate, the uniqueness
    rule one count-distinct branch of the same aggregate, and the
    per-rule rows unpivot from the 1-row result.  Adding a rule never
    adds a pass over the data; every output is an exact integer or
    boolean."""
    from mistocksync_spark.operators.quality import Rule, data_quality_report

    return data_quality_report(
        spark.read.parquet(f"{sf_dir}/lineitem.parquet"),
        [
            Rule("qty_not_null", "l_quantity", "not_null"),
            Rule("qty_range", "l_quantity", "range", {"lo": 0, "hi": 100}),
            Rule("disc_range", "l_discount", "range", {"lo": 0, "hi": 1}),
            Rule("flag_domain", "l_returnflag", "isin", {"values": ["A", "N", "R"]}),
            Rule("status_regex", "l_linestatus", "regex", {"pattern": "^[OF]$"}),
            Rule("orderkey_unique", "l_orderkey", "unique"),
        ],
    )


@query(
    "lineitem_key_skew",
    """
    WITH pk AS (
        SELECT CAST(l_suppkey AS VARCHAR) AS key_value, COUNT(*) AS cnt
        FROM lineitem GROUP BY 1
    ), t AS (
        SELECT CAST(SUM(cnt) AS BIGINT) AS n, COUNT(*) AS k FROM pk
    )
    SELECT key_value, cnt,
           CAST((CAST(cnt AS HUGEINT) * 1000000) // t.n AS BIGINT)
               AS share_ppm,
           CAST((CAST(cnt AS HUGEINT) * t.k * 1000000) // t.n AS BIGINT)
               AS skew_ratio_ppm
    FROM pk, t
    ORDER BY cnt DESC, key_value ASC LIMIT 10
    """,
)
def lineitem_key_skew_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew audit (operators/quality.join_skew_profile): the
    top-10 heaviest l_suppkey values with exact counts, integer-ppm row
    share and skew-vs-uniform ratio — the pre-flight check that decides
    salting / AQE skew-join before a 100 TB shuffle straggles.  ONE
    map-side-partial groupBy (≤ #keys rows), 1-row total broadcast,
    top-k over the aggregated frame only; (cnt desc, key asc) is a
    total order so the emitted set is deterministic."""
    from mistocksync_spark.operators.quality import join_skew_profile

    return join_skew_profile(
        spark.read.parquet(f"{sf_dir}/lineitem.parquet"), "l_suppkey", top_k=10
    )


_SPLIT_SQL = f"""
    WITH g AS (
        SELECT doc_id, n_chars, doc_id // 10 AS grp,
               ({_SQL_HEX8.format(sha="md5(CAST(doc_id // 10 AS VARCHAR))")})
                   % 10000 AS b
        FROM documents
    )
    SELECT CASE WHEN b < 8000 THEN 'train'
                WHEN b < 9000 THEN 'val' ELSE 'test' END AS split,
           COUNT(*) AS n_docs,
           COUNT(DISTINCT grp) AS n_groups,
           CAST(SUM(n_chars) AS BIGINT) AS n_chars_sum
    FROM g GROUP BY 1
    """


@query("doc_split_summary", _SPLIT_SQL)
def doc_split_summary_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test split audit (operators/quality.
    hash_split): every row of a GROUP (here: synthetic 10-doc sites —
    in production a domain or dedup-cluster id) lands in one split
    because the assignment is md5(group) bucket arithmetic, never
    row-level randomness — near-duplicates can't straddle train and
    eval.  The assignment is a stateless column expression (no shuffle);
    the audit is one map-side-partial groupBy over the three splits."""
    from mistocksync_spark.operators.quality import hash_split

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").withColumn(
        "__grp", F.expr("doc_id div 10")
    )
    split = hash_split(docs, "__grp", {"train": 8, "val": 1, "test": 1})
    return split.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_distinct(F.col("__grp")).alias("n_groups"),
        F.sum("n_chars").cast("long").alias("n_chars_sum"),
    )


_LSH_QUALITY_SQL = f"""
    WITH c AS (SELECT doc_a, doc_b FROM ({ORACLES["minhash_lsh_pairs"]})),
    e AS (SELECT doc_a, doc_b FROM ({ORACLES["ngram_jaccard_pairs"]})),
    u AS (
        SELECT CAST(c.doc_a IS NOT NULL AS BIGINT) AS in_lsh,
               CAST(e.doc_a IS NOT NULL AS BIGINT) AS in_exact
        FROM c FULL OUTER JOIN e
          ON c.doc_a = e.doc_a AND c.doc_b = e.doc_b
    )
    SELECT CAST(SUM(in_lsh) AS BIGINT) AS n_lsh,
           CAST(SUM(in_exact) AS BIGINT) AS n_exact,
           CAST(SUM(in_lsh * in_exact) AS BIGINT) AS n_both,
           CASE WHEN SUM(in_lsh) > 0
                THEN (CAST(SUM(in_lsh * in_exact) AS BIGINT) * 1000000)
                     // CAST(SUM(in_lsh) AS BIGINT) END AS precision_ppm,
           CASE WHEN SUM(in_exact) > 0
                THEN (CAST(SUM(in_lsh * in_exact) AS BIGINT) * 1000000)
                     // CAST(SUM(in_exact) AS BIGINT) END AS recall_ppm
    FROM u
    """


@query("lsh_pair_quality", _LSH_QUALITY_SQL)
def lsh_pair_quality_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-level precision/recall of the MinHash-LSH candidate pairs vs
    the exact 0.5-Jaccard pair set (operators/dedup.lsh_pair_quality) —
    the banding-tuning audit run before a full dedup sweep.  The exact
    side reuses the prefix-filtered plan (output proven identical to the
    quadratic-free full Jaccard) and both sides share the memoized
    shingle/pair frames with their sibling queries, so the audit pays
    only its own full-outer alignment join."""
    from mistocksync_spark.operators.dedup import jaccard_prefix_pairs, lsh_pair_quality

    return lsh_pair_quality(
        _minhash_pairs_shared(spark, sf_dir),
        jaccard_prefix_pairs(_shingles_shared(spark, sf_dir), 0.5),
    )


def _sql_bootstrap_ci(n_replicas: int = 200) -> str:
    from mistocksync_spark.operators.aggregates import (
        _POISSON1_U32_THRESHOLDS,
        sql_discrete_quantiles,
    )

    u32 = _SQL_HEX8.format(
        sha="md5(CAST(user_id AS VARCHAR) || ':' || CAST(r.rep AS VARCHAR))"
    )
    w = " + ".join(
        f"CAST(u32 >= {t} AS BIGINT)" for t in _POISSON1_U32_THRESHOLDS
    )
    ci = sql_discrete_quantiles(
        "m", None, "__m", {"ci_lo_micro": (1, 40), "ci_hi_micro": (39, 40)}
    )
    return f"""
    WITH per_user AS (
        SELECT user_id,
               CAST(SUM(CAST(floor((value) * 1000000 + 0.5) AS HUGEINT)) AS DOUBLE)
                   / 1000000.0 AS user_total
        FROM events WHERE event_type = 'purchase' AND value IS NOT NULL
        GROUP BY user_id
    ), u AS (
        SELECT p.user_id, p.user_total, r.rep, {u32} AS u32
        FROM per_user p, UNNEST(generate_series(0, {n_replicas - 1})) AS r(rep)
    ), wt AS (
        SELECT rep, ({w}) AS w,
               CAST(floor((user_total) * 1000000 + 0.5) AS HUGEINT) AS x
        FROM u
    ), pr AS (
        SELECT rep, SUM(w * x) AS sx, CAST(SUM(w) AS BIGINT) AS n
        FROM wt GROUP BY rep HAVING SUM(w) > 0
    ), m AS (
        SELECT rep, CAST(floor(CAST(sx AS DOUBLE) / n) AS BIGINT) AS __m FROM pr
    ), ci AS ({ci}), pt AS (
        SELECT COUNT(*) AS n_rows,
               CAST(floor(CAST(SUM(CAST(floor((user_total) * 1000000 + 0.5) AS HUGEINT)) AS DOUBLE)
                    / COUNT(*)) AS BIGINT) AS mean_micro
        FROM per_user
    )
    SELECT pt.n_rows, {n_replicas} AS n_replicas, pt.mean_micro,
           ci.ci_lo_micro, ci.ci_hi_micro
    FROM pt, ci
    """


@query("events_bootstrap_ci", _sql_bootstrap_ci())
def events_bootstrap_ci_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap 95% CI for the mean per-user purchase total
    (operators/aggregates.poisson_bootstrap_ci — Chamandy et al. 2012,
    public method): the uncertainty readout for a metric over data too
    large to resample classically.  Bootstrapping the per-USER frame is
    the cluster bootstrap — users are the independence unit, and it also
    bounds the hashed-weight work by #users, not #events.  Weights are
    deterministic md5 inverse-CDF draws against integer thresholds;
    replica means and CI bounds are exact integers (discrete quantiles
    of the replica frame) — bit-reproducible in any engine."""
    from mistocksync_spark.functions.numeric import _u
    from mistocksync_spark.operators.aggregates import poisson_bootstrap_ci
    from mistocksync_spark.sources.testdata import load_events

    ev = load_events(spark, sf_dir)
    per_user = (
        ev.filter((F.col("event_type") == "purchase") & F.col("value").isNotNull())
        .groupBy("user_id")
        .agg((F.sum(_u("value")).cast("double") / F.lit(1e6)).alias("user_total"))
    )
    return poisson_bootstrap_ci(per_user, "user_total", "user_id", n_replicas=200)


# --------------------------------------------------------------------------
# Exact-substring (duplicated-span) dedup family: the
# suffix-array-style dedup of Lee et al. 2022 re-expressed as rolling-hash
# gram positions + gaps-and-islands span merge (operators/dedup.py), over
# documents with planted cross-doc substrings (plans/feeds.DOCS_SPAN_SQL:
# a ~123-char license header on every 6th doc, a ~73-char footer on every
# 10th-pattern doc) plus the corpus's natural small-vocabulary repeats.
# --------------------------------------------------------------------------
_SPAN_GRAM = 30
_SPAN_MIN = 60


def _docs_span_cte() -> str:
    from mistocksync_spark.plans.feeds import DOCS_SPAN_SQL

    return f"WITH docs AS ({DOCS_SPAN_SQL})"


_SQL_SPAN_POS = f"""
    , pos AS (
        SELECT doc_id, i AS pos, md5(substr(text, i, {_SPAN_GRAM})) AS g
        FROM docs,
             UNNEST(generate_series(1, greatest(length(text) - {_SPAN_GRAM - 1}, 0))) AS u(i)
    )
"""

# maximal spans from a match CTE named m(doc_a, doc_b, pa, pb, diag) —
# pa minus its rank is constant exactly along a run of consecutive pa
_SQL_SPANS_FROM_M = f"""
    , spans_isl AS (
        SELECT doc_a, doc_b, diag, pa, pb,
               pa - ROW_NUMBER() OVER (PARTITION BY doc_a, doc_b, diag ORDER BY pa) AS isl
        FROM m
    )
    SELECT doc_a, doc_b, MIN(pa) AS start_a, MIN(pb) AS start_b,
           CAST(COUNT(*) + {_SPAN_GRAM - 1} AS BIGINT) AS span_len
    FROM spans_isl GROUP BY doc_a, doc_b, diag, isl
    HAVING COUNT(*) + {_SPAN_GRAM - 1} >= {_SPAN_MIN}
"""

_SQL_ANCHOR_CAND = """
    , anch AS (SELECT doc_id, g FROM pos WHERE substr(g, 1, 1) IN ('0', '1'))
    , cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM anch a JOIN anch b ON a.g = b.g AND a.doc_id < b.doc_id
    )
"""


def _span_positions_shared(
    spark: SparkSession, sf_dir: str, hashed: bool = True
) -> DataFrame:
    """Gram-position table (doc_id, pos, g), lazily materialized once per
    (session, sf_dir) for the span family — the four siblings share one
    positions build instead of re-hashing every character window (the
    ``_shingles_shared`` memo pattern).  ``hashed=False`` keys a SEPARATE
    memo entry with raw-substring grams: the coverage entry only
    tests gram equality, while the anchored variants subsample on the
    digest hex prefix and must keep md5."""
    key = (id(spark), sf_dir, "span_pos" if hashed else "span_pos_raw")
    if key not in _CC_MEMO:
        from mistocksync_spark.operators.dedup import char_gram_positions
        from mistocksync_spark.plans.feeds import docs_span

        _CC_MEMO[key] = char_gram_positions(
            docs_span(spark, sf_dir), gram_len=_SPAN_GRAM, hashed=hashed
        ).localCheckpoint(eager=False)
    return _CC_MEMO[key]


@query(
    "duplicated_spans",
    _docs_span_cte()
    + _SQL_SPAN_POS
    + """
    , m AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pos AS pa, b.pos AS pb,
               a.pos - b.pos AS diag
        FROM pos a JOIN pos b ON a.g = b.g AND a.doc_id < b.doc_id
    )
"""
    + _SQL_SPANS_FROM_M,
)
def duplicated_spans_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All maximal cross-doc duplicated substrings >= 60 chars
    (operators/dedup.duplicated_spans) — the exact baseline of the
    exact-substring family (suffix-array dedup, Lee et al. 2022, public
    method): gram-hash equi-join + per-(pair, diagonal) islands merge.
    Pairwise by definition (the output enumerates pairs), so a cluster of
    n header-sharing docs costs O(n²) match rows — the graded scale paths
    are ``duplicated_span_coverage`` (no pairs) and
    ``duplicated_spans_anchored`` (candidates → rescore)."""
    from mistocksync_spark.operators.dedup import duplicated_spans

    return duplicated_spans(_span_positions_shared(spark, sf_dir), _SPAN_GRAM, _SPAN_MIN)


@query(
    "duplicated_spans_anchored",
    _docs_span_cte()
    + _SQL_SPAN_POS
    + _SQL_ANCHOR_CAND
    + """
    , m AS (
        SELECT c.doc_a, c.doc_b, a.pos AS pa, b.pos AS pb, a.pos - b.pos AS diag
        FROM cand c
        JOIN pos a ON a.doc_id = c.doc_a
        JOIN pos b ON b.doc_id = c.doc_b AND b.g = a.g
    )
"""
    + _SQL_SPANS_FROM_M,
)
def duplicated_spans_anchored_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anchored-candidate + exact-rescore duplicated spans (operators/
    dedup.duplicated_spans_anchored) — the scale path of the span family:
    a 1/8 content-defined anchor sample (first hex char of the gram hash)
    generates candidate pairs with an 8×-smaller join side, then the exact
    span merge runs only over docs that appear in a candidate pair.  Same
    schema and per-pair output as ``duplicated_spans`` on every recalled
    pair (both copies of a duplicated substring anchor at the SAME
    relative offsets, so a >= 60-char span escapes only if all >= 31 of
    its grams miss the 1/8 sample, ≈1.6% per unique content — measured by
    ``span_anchor_recall``).  On this dup-DENSE fixture candidates ≈ all
    pairs so the two stages cost more than one exact pass (recorded, like
    the ppjoin/IVF crossovers); the candidate stage pays off at production
    dup rates where dup pairs are sparse."""
    from mistocksync_spark.operators.dedup import duplicated_spans_anchored

    return duplicated_spans_anchored(
        _span_positions_shared(spark, sf_dir), _SPAN_GRAM, _SPAN_MIN
    )


@query(
    "duplicated_span_coverage",
    _docs_span_cte()
    + _SQL_SPAN_POS
    + f"""
    , dupg AS (SELECT g FROM pos GROUP BY g HAVING COUNT(DISTINCT doc_id) >= 2)
    , iv AS (
        SELECT p.doc_id, p.pos, p.pos + {_SPAN_GRAM - 1} AS e
        FROM pos p JOIN dupg USING (g)
    )
    , fl AS (
        SELECT doc_id, pos, e,
               MAX(e) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_e
        FROM iv
    )
    , islands AS (
        SELECT doc_id, pos, e,
               SUM(CASE WHEN prev_e IS NULL OR pos > prev_e + 1 THEN 1 ELSE 0 END)
                   OVER (PARTITION BY doc_id ORDER BY pos) AS isl
        FROM fl
    )
    , cov AS (
        SELECT doc_id, CAST(SUM(chars) AS BIGINT) AS dc
        FROM (SELECT doc_id, isl, MAX(e) - MIN(pos) + 1 AS chars
              FROM islands GROUP BY doc_id, isl)
        GROUP BY doc_id
    )
    SELECT d.doc_id, length(d.text) AS doc_len,
           COALESCE(c.dc, 0) AS dup_chars,
           ROUND(COALESCE(c.dc, 0) * 1.0 / length(d.text), 6) AS dup_frac
    FROM docs d LEFT JOIN cov c USING (doc_id)
""",
)
def duplicated_span_coverage_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc duplicated-character fraction (operators/dedup.
    duplicated_span_coverage) — the production form of exact-substring
    dedup (the number a corpus filter thresholds on): a position is
    duplicated iff its gram occurs in >= 2 distinct docs (ONE groupBy on
    the gram hash — linear in corpus bytes, no pair explosion however
    large a boilerplate cluster grows), and per-doc coverage is the
    interval-union length via the running-max-end sweep.  This is the
    entry that survives 100 TB unconditionally: no stage is quadratic in
    anything."""
    from mistocksync_spark.operators.dedup import duplicated_span_coverage
    from mistocksync_spark.plans.feeds import docs_span

    return duplicated_span_coverage(
        docs_span(spark, sf_dir),
        gram_len=_SPAN_GRAM,
        positions=_span_positions_shared(spark, sf_dir, hashed=False),
    )


@query(
    "span_anchor_recall",
    _docs_span_cte()
    + _SQL_SPAN_POS
    + _SQL_ANCHOR_CAND
    + f"""
    , ep AS (
        SELECT DISTINCT doc_a, doc_b FROM (
            SELECT doc_a, doc_b, diag, isl
            FROM (
                SELECT doc_a, doc_b, diag, pa,
                       pa - ROW_NUMBER() OVER (PARTITION BY doc_a, doc_b, diag ORDER BY pa) AS isl
                FROM (
                    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pos AS pa,
                           a.pos - b.pos AS diag
                    FROM pos a JOIN pos b ON a.g = b.g AND a.doc_id < b.doc_id
                )
            )
            GROUP BY doc_a, doc_b, diag, isl
            HAVING COUNT(*) + {_SPAN_GRAM - 1} >= {_SPAN_MIN}
        )
    )
    , rec AS (SELECT ep.doc_a, ep.doc_b FROM ep JOIN cand USING (doc_a, doc_b))
    SELECT (SELECT COUNT(*) FROM ep) AS n_exact_pairs,
           (SELECT COUNT(*) FROM cand) AS n_candidate_pairs,
           (SELECT COUNT(*) FROM rec) AS n_recalled,
           CASE WHEN (SELECT COUNT(*) FROM ep) > 0 THEN
               ROUND((SELECT COUNT(*) FROM rec) * 1.0
                     / (SELECT COUNT(*) FROM ep), 6)
           END AS pair_recall
""",
)
def span_anchor_recall_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-flight recall gate for the anchored span variant (operators/
    dedup.span_anchor_recall, the text-span analogue of
    ``vector_pair_quality``): pair-level recall of the 1/8 anchor
    candidate generator against the exact >= 60-char span pairs, as a
    1-row audit run on a sample before a corpus-scale span sweep commits
    to the sampled path."""
    from mistocksync_spark.operators.dedup import span_anchor_recall

    return span_anchor_recall(
        _span_positions_shared(spark, sf_dir), _SPAN_GRAM, _SPAN_MIN
    )


@query(
    "events_salted_dim_join",
    f"""
    WITH dim AS (
        SELECT event_type, length(event_type) AS type_len,
               CASE WHEN event_type IN ('purchase', 'signup') THEN 'conversion'
                    ELSE 'engagement' END AS funnel_stage
        FROM (SELECT DISTINCT event_type FROM events)
    )
    SELECT d.funnel_stage, e.event_type, d.type_len,
           COUNT(*) AS n_events,
           {sql_dec_sum("e.value", 2)} AS sum_value
    FROM events e JOIN dim d USING (event_type)
    GROUP BY 1, 2, 3
""",
)
def events_salted_dim_join_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-proof fact⋈dim join via key salting (operators/aggregates.
    salted_dim_join), graded against the PLAIN join oracle — the salting
    must be semantically invisible (lossless 1:1).  events.event_type has
    5 values over the whole fact table (each key ≈ 20% of rows — the
    hot-key regime): the fact side salts on hash(event_id) % 16, the dim
    replicates 16×, and the join runs on (key, salt) so each hot key
    spreads over 16 reducers instead of straggling one sort-merge task.
    The companion to ``event_type_counts_salted`` for the JOIN side of a
    skewed shuffle; the post-join rollup uses the exact micro-int sum so
    the result is order-independent."""
    from mistocksync_spark.operators.aggregates import salted_dim_join
    from mistocksync_spark.sources.testdata import load_events

    ev = load_events(spark, sf_dir).select("event_id", "event_type", "value")
    dim = (
        ev.select("event_type")
        .distinct()
        .select(
            "event_type",
            F.length("event_type").alias("type_len"),
            F.when(F.col("event_type").isin("purchase", "signup"), "conversion")
            .otherwise("engagement")
            .alias("funnel_stage"),
        )
    )
    joined = salted_dim_join(ev, dim, "event_type", salt_buckets=16, salt_cols=["event_id"])
    return joined.groupBy("funnel_stage", "event_type", "type_len").agg(
        F.count(F.lit(1)).alias("n_events"),
        dec_sum("value", 2).alias("sum_value"),
    )


def _sql_pagerank_ctes(iterations: int = 5) -> str:
    """CTE chain (after a ``mh(doc_a, doc_b)`` CTE) for the unrolled
    integer-PageRank oracle — the same pico-unit arithmetic as
    operators/dedup.similarity_pagerank (BIGINT multiply + floor division
    + exact integer sums), one CTE per iteration.  DuckDB's ``//`` is
    floor division and Spark's ``div`` truncates toward zero — identical
    on the all-positive quantities here.  SUM(BIGINT) returns HUGEINT in
    DuckDB, so each iteration's rank is cast back to BIGINT to pin the
    arithmetic width.  ``edges``/``deg`` are MATERIALIZED: each is
    referenced from every unrolled iteration, and an inlining planner
    would otherwise re-run the whole MinHash pipeline once per iteration
    (the same reason ``_SQL_SHINGLES`` is materialized).
    Shared by ``dedup_pagerank`` and ``dedup_canonicals``."""
    scale = 1_000_000_000_000
    ctes = [
        f"""
    , edges AS MATERIALIZED (
        SELECT doc_a AS src, doc_b AS dst FROM mh
        UNION ALL
        SELECT doc_b AS src, doc_a AS dst FROM mh
    )
    , deg AS MATERIALIZED (SELECT src AS node, COUNT(*) AS deg FROM edges GROUP BY src)
    , ncnt AS (SELECT COUNT(*) AS n FROM deg)
    , pr0 AS (SELECT node, CAST({scale} // (SELECT n FROM ncnt) AS BIGINT) AS r FROM deg)
"""
    ]
    for i in range(1, iterations + 1):
        ctes.append(
            f"""
    , pr{i} AS (
        SELECT d.node,
               CAST((15 * {scale}) // (100 * (SELECT n FROM ncnt))
                    + COALESCE(SUM((p.r * 85) // (100 * dd.deg)), 0) AS BIGINT) AS r
        FROM deg d
        LEFT JOIN edges e ON e.dst = d.node
        LEFT JOIN pr{i - 1} p ON p.node = e.src
        LEFT JOIN deg dd ON dd.node = e.src
        GROUP BY d.node
    )
"""
        )
    return "".join(ctes)


def _sql_mh_cte(recursive: bool = False) -> str:
    kw = "WITH RECURSIVE" if recursive else "WITH"
    return (
        f"{kw} mh AS MATERIALIZED (SELECT doc_a, doc_b FROM ("
        + ORACLES["minhash_lsh_pairs"]
        + "))"
    )


def _sql_pagerank(iterations: int = 5) -> str:
    return (
        _sql_mh_cte()
        + _sql_pagerank_ctes(iterations)
        + f"\n    SELECT node AS doc_id, r AS rank_micro FROM pr{iterations}"
    )


@query("dedup_pagerank", _sql_pagerank(5))
def dedup_pagerank_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank centrality over the MinHash-LSH near-dup graph
    (operators/dedup.similarity_pagerank) — the canonical-pick signal:
    inside a duplicate cluster the highest-rank member is the natural
    survivor, and leaf-y accidental LSH matches rank low.  Exact integer
    pico-unit arithmetic per update (BIGINT multiply, floor division,
    exact sums) makes the 5-iteration fixpoint bit-identical to the
    oracle's unrolled CTE iterations — a float PageRank could not be
    hash-graded.  Shares the memoized candidate-pair frame with the
    graph-analytics siblings."""
    from mistocksync_spark.operators.dedup import similarity_pagerank

    return similarity_pagerank(_minhash_pairs_shared(spark, sf_dir), iterations=5)


def _sql_canonicals(iterations: int = 5) -> str:
    """Canonical-survivor oracle: min-reachable connected components
    (recursive transitive closure, the ``dedup_clusters`` oracle pattern)
    + the unrolled integer PageRank, over the SAME MinHash pair graph,
    argmax joined per cluster with ties to the lowest doc_id."""
    return (
        _sql_mh_cte(recursive=True)
        + _sql_pagerank_ctes(iterations)
        + f"""
    , walk(node, reach) AS (
        SELECT src, dst FROM edges
        UNION
        SELECT w.node, e.dst FROM walk w JOIN edges e ON e.src = w.reach
    )
    , cc AS (
        SELECT node AS doc_id, LEAST(node, MIN(reach)) AS cluster_id
        FROM walk GROUP BY node
    )
    , j AS (
        SELECT cc.cluster_id, cc.doc_id, p.r AS rank_micro
        FROM cc JOIN pr{iterations} p ON p.node = cc.doc_id
    )
    , mx AS (
        SELECT cluster_id, MAX(rank_micro) AS top_rank_micro,
               COUNT(*) AS n_members
        FROM j GROUP BY cluster_id
    )
    SELECT m.cluster_id, MIN(j.doc_id) AS canonical_id, m.n_members,
           m.top_rank_micro
    FROM mx m JOIN j ON j.cluster_id = m.cluster_id
                    AND j.rank_micro = m.top_rank_micro
    GROUP BY m.cluster_id, m.n_members, m.top_rank_micro
"""
    )


@query("dedup_canonicals", _sql_canonicals(5))
def dedup_canonicals_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivor pick per duplicate cluster by centrality (operators/
    dedup.cluster_canonicals): connected components and integer PageRank
    over the SAME MinHash-LSH pair graph, argmax per cluster with ties to
    the lowest doc_id.  Closes the dedup loop on the graded surface —
    graph → clusters → WHICH member to keep (``dedup_survivors`` keeps
    min-id; this keeps the member most central to its cluster).  Shares
    the memoized candidate-pair frame, so the composition pays one CC
    propagation + one 5-round PageRank + two cluster-keyed aggregates."""
    from mistocksync_spark.operators.dedup import (
        cluster_canonicals,
        connected_components,
        similarity_pagerank,
    )

    pairs = _minhash_pairs_shared(spark, sf_dir)
    return cluster_canonicals(
        connected_components(pairs), similarity_pagerank(pairs, iterations=5)
    )


def _sql_bpe_chain(n_merges: int = 6, src: str = "documents") -> str:
    r"""Unrolled BPE merge-learning oracle CTE chain (words, sym0, then
    cnt/bp/m/sel/sym per round): per round, pair counts over the
    current symbol table, a LIMIT-1 argmax (count DESC, lhs, rhs — a total
    order), and the merge applied through the parity-within-island
    positional rule (select every other matched position inside each run
    of consecutive matches) — an independent SQL re-derivation of the
    Spark side's greedy left-to-right fold, equivalent by the island
    parity argument (tested exhaustively in tests/test_spans.py).  Every
    per-round CTE is MATERIALIZED: each is referenced several times and
    chains into the next round.  ``src`` picks the corpus CTE/table the
    word-type table scans (``corpus_prepare_v2`` trains on the KEPT
    docs)."""
    parts = [
        r"""
WITH words AS MATERIALIZED (
    SELECT w, COUNT(*) AS cnt FROM (
        SELECT unnest(regexp_split_to_array(lower(text), '\s+')) AS w
        FROM """
        + src
        + r"""
    ) WHERE w <> '' GROUP BY w
)
, sym0 AS MATERIALIZED (
    SELECT w, cnt, i AS pos, substr(w, i, 1) AS s
    FROM words, UNNEST(generate_series(1, length(w))) AS u(i)
)
"""
    ]
    for k in range(1, n_merges + 1):
        p = k - 1
        parts.append(
            f"""
, cnt{k} AS MATERIALIZED (
    SELECT a.s AS l, b.s AS r, CAST(SUM(a.cnt) AS BIGINT) AS pc
    FROM sym{p} a JOIN sym{p} b ON b.w = a.w AND b.pos = a.pos + 1
    GROUP BY a.s, b.s
)
, bp{k} AS MATERIALIZED (
    SELECT l, r, pc FROM cnt{k} ORDER BY pc DESC, l ASC, r ASC LIMIT 1
)
, m{k} AS MATERIALIZED (
    SELECT s.w, s.pos
    FROM sym{p} s JOIN sym{p} t ON t.w = s.w AND t.pos = s.pos + 1
    WHERE s.s = (SELECT l FROM bp{k}) AND t.s = (SELECT r FROM bp{k})
)
, sel{k} AS MATERIALIZED (
    SELECT w, pos FROM (
        SELECT w, pos, MIN(pos) OVER (PARTITION BY w, isl) AS isl_start
        FROM (
            SELECT w, pos,
                   pos - ROW_NUMBER() OVER (PARTITION BY w ORDER BY pos) AS isl
            FROM m{k}
        )
    ) WHERE (pos - isl_start) % 2 = 0
)
, sym{k} AS MATERIALIZED (
    SELECT w, cnt, ROW_NUMBER() OVER (PARTITION BY w ORDER BY pos) AS pos, s
    FROM (
        SELECT s.w, s.cnt, s.pos,
               CASE WHEN sel.pos IS NOT NULL
                    THEN (SELECT l FROM bp{k}) || (SELECT r FROM bp{k})
                    ELSE s.s END AS s
        FROM sym{p} s
        LEFT JOIN sel{k} sel ON sel.w = s.w AND sel.pos = s.pos
        LEFT JOIN sel{k} dr ON dr.w = s.w AND dr.pos = s.pos - 1
        WHERE dr.pos IS NULL
    )
)
"""
        )
    return "".join(parts)


def _sql_bpe_learn(n_merges: int = 6) -> str:
    union = "\n    UNION ALL ".join(
        f"SELECT {k} AS merge_rank, l AS lhs, r AS rhs, pc AS pair_count FROM bp{k}"
        for k in range(1, n_merges + 1)
    )
    return _sql_bpe_chain(n_merges) + "\n    " + union


@query("bpe_learned_merges", _sql_bpe_learn(6))
def bpe_learned_merges_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full BPE tokenizer-training loop (operators/textual.
    bpe_learn_merges): 6 rounds of pair-count → argmax → greedy merge
    over the word-type table, returning the learned merge ranking — the
    iterative capability ``bpe_pair_counts`` is one round of.  The corpus
    is scanned once (vocab-bounded working set); each round is one
    integer aggregate + a 1-row argmax fetch + a shuffle-free column fold.
    The oracle replays all 6 rounds through an independent positional
    (parity-within-island) formulation of greedy merging."""
    from mistocksync_spark.operators.textual import bpe_learn_merges

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return bpe_learn_merges(docs, n_merges=6)


@query(
    "bpe_token_stats",
    _sql_bpe_chain(6)
    + """
    SELECT s AS token, CAST(SUM(cnt) AS BIGINT) AS corpus_count
    FROM sym6 GROUP BY s
    ORDER BY corpus_count DESC, token ASC LIMIT 50
""",
)
def bpe_token_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 subword tokens by corpus occurrence under the 6 learned BPE
    merges (operators/textual.bpe_token_stats) — the ENCODE readout of
    the tokenizer-training loop.  The oracle reuses the unrolled 6-round
    merge chain and aggregates its final symbol table."""
    from mistocksync_spark.operators.textual import bpe_token_stats

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return bpe_token_stats(docs, n_merges=6, top_k=50)


@query(
    "events_cusum_drift",
    """
    WITH ev AS (
        SELECT event_type, ts, event_id,
               CAST(floor((value) * 1000000 + 0.5) AS BIGINT) AS x
        FROM events WHERE value IS NOT NULL
    ), base AS (
        SELECT event_type,
               CAST(floor(CAST(SUM(x) AS DOUBLE) / COUNT(*)) AS BIGINT) AS baseline_micro,
               COUNT(*) AS n_events
        FROM ev GROUP BY event_type
    ), c AS (
        SELECT e.event_type, e.ts, e.event_id,
               SUM(e.x - b.baseline_micro) OVER (
                   PARTITION BY e.event_type ORDER BY e.ts, e.event_id
                   ROWS UNBOUNDED PRECEDING) AS cum
        FROM ev e JOIN base b USING (event_type)
    ), s AS (
        SELECT event_type, ts,
               cum - LEAST(CAST(0 AS HUGEINT), MIN(cum) OVER (
                   PARTITION BY event_type ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING)) AS s_up,
               GREATEST(CAST(0 AS HUGEINT), MAX(cum) OVER (
                   PARTITION BY event_type ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING)) - cum AS s_down
        FROM c
    ), mx AS (
        SELECT event_type, CAST(MAX(s_up) AS BIGINT) AS max_up_micro,
               CAST(MAX(s_down) AS BIGINT) AS max_down_micro
        FROM s GROUP BY event_type
    )
    SELECT m.event_type, b.n_events, b.baseline_micro, m.max_up_micro,
           m.max_down_micro, MIN(s.ts) AS ts_at_max_up
    FROM mx m
    JOIN base b USING (event_type)
    JOIN s ON s.event_type = m.event_type
          AND CAST(s.s_up AS BIGINT) = m.max_up_micro
    GROUP BY m.event_type, b.n_events, b.baseline_micro, m.max_up_micro,
             m.max_down_micro
""",
)
def events_cusum_drift_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrospective CUSUM drift scan per event type (operators/temporal.
    cusum_drift — Page 1954, public method): one-sided CUSUM maxima of
    the value stream around its per-key baseline, with the first
    timestamp of the upward peak — the drift monitor that catches a feed
    changing level mid-stream.  The recursion is re-expressed as
    prefix-sum minus clipped running extremum, so the scan is pure window
    functions over ONE key-partitioned shuffle; exact micro-int
    arithmetic end-to-end keeps both engines bit-identical."""
    from mistocksync_spark.operators.temporal import cusum_drift
    from mistocksync_spark.sources.testdata import load_events

    return cusum_drift(load_events(spark, sf_dir))


# --------------------------------------------------------------------------
# Document clustering: hashing-trick TF-IDF vectors →
# k-means (the ivf_train machinery) → cluster membership + term readout.
# The corpus-organization family a training pipeline uses for cluster-
# balanced sampling and topic inspection, built so every stage stays
# hash-gradeable: integer linear-idf weights (no transcendentals), double
# arrays, and the dual k-means SQL replay the IVF oracles established.
# --------------------------------------------------------------------------
_DOC_VEC_DIM = 32
_DOC_VEC_K = 8
_DOC_VEC_ITERS = 2

_SQL_DOC_VECS = [
    r"""dtoks AS (
        SELECT doc_id, unnest(regexp_split_to_array(lower(text), '\s+')) AS t
        FROM documents)""",
    """dtf AS MATERIALIZED (
        SELECT doc_id, t, COUNT(*) AS tf FROM dtoks WHERE t <> ''
        GROUP BY doc_id, t)""",
    "ddf AS (SELECT t, COUNT(*) AS df FROM dtf GROUP BY t)",
    "dnd AS (SELECT COUNT(DISTINCT doc_id) AS n FROM dtf)",
    f"""dtw AS MATERIALIZED (
        SELECT f.doc_id, f.t,
               CAST(f.tf * ((1000000 * (SELECT n FROM dnd)) // d.df) AS BIGINT) AS w
        FROM dtf f JOIN ddf d USING (t))""",
    f"""dwb AS (
        SELECT doc_id, ({_SQL_HEX8.format(sha='md5(t)')}) % {_DOC_VEC_DIM} AS b,
               CAST(SUM(w) AS BIGINT) AS w
        FROM dtw GROUP BY doc_id, b)""",
    f"""dspine AS (
        SELECT d.doc_id, s.j AS b
        FROM (SELECT DISTINCT doc_id FROM dwb) d,
             UNNEST(generate_series(0, {_DOC_VEC_DIM - 1})) AS s(j))""",
    """dv AS MATERIALIZED (
        SELECT sp.doc_id AS vec_id,
               list(CAST(COALESCE(w.w, 0) AS DOUBLE) / 1000000.0 ORDER BY sp.b) AS embedding
        FROM dspine sp LEFT JOIN dwb w ON w.doc_id = sp.doc_id AND w.b = sp.b
        GROUP BY sp.doc_id)""",
]


def _sql_doc_clusters() -> tuple[list[str], str]:
    """Shared CTE blocks: doc vectors + the ivf_train k-means replay +
    the final assignment — returns (blocks, assignment_cte_name)."""
    km, cents = _sql_kmeans_blocks("dv", "d", str(_DOC_VEC_K), _DOC_VEC_ITERS)
    blocks = list(_SQL_DOC_VECS) + km
    blocks.append(_sql_assign_block("dassign", "dv", cents, 1))
    return blocks, "dassign"


def _doc_vec_shared(spark: SparkSession, sf_dir: str):
    """Memoized (vectors, term-weights, trained centroids) per
    (session, sf_dir) for the doc-clustering family — the three siblings
    share one featurization and one k-means fit."""
    key = (id(spark), sf_dir, "doc_vecs")
    if key not in _CC_MEMO:
        from mistocksync_spark.operators.textual import (
            hashed_tfidf_vectors,
            tfidf_term_weights,
        )
        from mistocksync_spark.operators.vectors import ivf_train

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        tw = tfidf_term_weights(docs).localCheckpoint(eager=False)
        vecs = hashed_tfidf_vectors(docs, dim=_DOC_VEC_DIM).localCheckpoint(eager=False)
        cents = ivf_train(
            vecs, n_centroids=_DOC_VEC_K, iterations=_DOC_VEC_ITERS,
            vec_col="embedding", id_col="doc_id",
        )
        _CC_MEMO[key] = (vecs, tw, cents)
    return _CC_MEMO[key]


@query(
    "doc_hashed_tfidf",
    "WITH " + ",\n    ".join(_SQL_DOC_VECS)
    + """
    SELECT sp.doc_id, CAST(sp.b AS INT) AS dim_idx,
           CAST(COALESCE(w.w, 0) AS DOUBLE) / 1000000.0 AS weight
    FROM dspine sp LEFT JOIN dwb w ON w.doc_id = sp.doc_id AND w.b = sp.b""",
)
def doc_hashed_tfidf_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick TF-IDF document vectors (operators/textual.
    hashed_tfidf_vectors): stateless featurization — md5 bucket in dim
    32, exact-integer linear-idf weights, one IEEE division per element —
    so the text corpus becomes cluster-/ANN-ready vectors with no
    vocabulary table to build or ship, and downstream k-means stays
    bit-comparable across engines.

    Graded surface: the SAME memoized vectors the k-means family consumes,
    posexploded to scalar (doc_id, dim_idx, weight) — the driver's
    canonicalizer pandas-sorts every output column, so a graded query may
    not expose array/map/struct columns (the array form stays
    available as operators/textual.hashed_tfidf_vectors).  Each exploded
    weight is the identical IEEE division micro/1e6 the oracle computes
    from its dspine/dwb CTEs, so the grade is still bit-exact per element.
    """
    vecs, _, _ = _doc_vec_shared(spark, sf_dir)
    return vecs.select(
        "doc_id", F.posexplode("embedding").alias("dim_idx", "weight")
    )


@query(
    "doc_clusters_kmeans",
    "WITH "
    + ",\n    ".join(_sql_doc_clusters()[0])
    + """
    SELECT cidx AS cluster, COUNT(*) AS n_docs, MIN(vec_id) AS min_doc_id
    FROM dassign GROUP BY cidx
""",
)
def doc_clusters_kmeans_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-means document clustering over the hashed TF-IDF vectors
    (ivf_train/ivf_assign reused as the clustering engine — lowest-id
    seeds, 2 Lloyd iterations, exact micro-int centroid accumulation):
    per-cluster membership counts + the minimum doc id as a stable
    cluster identity.  The corpus-organization step behind cluster-
    balanced training-data sampling; the oracle replays the FULL k-means
    in SQL (the dual-replay machinery the IVF rebuild oracles
    established), so the grade covers the fit, not just the readout."""
    from mistocksync_spark.operators.vectors import ivf_assign

    vecs, _, cents = _doc_vec_shared(spark, sf_dir)
    assign = ivf_assign(vecs, cents, vec_col="embedding", id_col="doc_id")
    return assign.groupBy("centroid").agg(
        F.count(F.lit(1)).alias("n_docs"), F.min("vec_id").alias("min_doc_id")
    ).select(F.col("centroid").alias("cluster"), "n_docs", "min_doc_id")


@query(
    "doc_cluster_terms",
    "WITH "
    + ",\n    ".join(_sql_doc_clusters()[0])
    + """
    , ct AS (
        SELECT a.cidx AS cluster, w.t, CAST(SUM(w.w) AS BIGINT) AS tw
        FROM dtw w JOIN dassign a ON a.vec_id = w.doc_id
        GROUP BY a.cidx, w.t
    )
    , cmx AS (
        SELECT cluster, MAX(tw) AS token_weight_micro FROM ct GROUP BY cluster
    )
    SELECT m.cluster, MIN(c.t) AS top_token, m.token_weight_micro
    FROM cmx m JOIN ct c ON c.cluster = m.cluster AND c.tw = m.token_weight_micro
    GROUP BY m.cluster, m.token_weight_micro
""",
)
def doc_cluster_terms_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top term per document cluster by summed TF-IDF weight (ties to the
    lexicographically first token) — the interpretability readout of
    ``doc_clusters_kmeans`` (what is each cluster about).  One token-level
    join against the assignment + two cluster-keyed aggregates; exact
    integer weights keep the per-cluster argmax hash-gradeable."""
    from mistocksync_spark.operators.vectors import ivf_assign

    vecs, tw, cents = _doc_vec_shared(spark, sf_dir)
    assign = ivf_assign(vecs, cents, vec_col="embedding", id_col="doc_id")
    ct = (
        tw.join(assign, tw.doc_id == assign.vec_id)
        .groupBy("centroid", "t")
        .agg(F.sum("w").cast("long").alias("tw"))
    )
    cmx = ct.groupBy("centroid").agg(F.max("tw").alias("token_weight_micro"))
    return (
        ct.join(cmx, on="centroid")
        .filter(F.col("tw") == F.col("token_weight_micro"))
        .groupBy("centroid", "token_weight_micro")
        .agg(F.min("t").alias("top_token"))
        .select(
            F.col("centroid").alias("cluster"), "top_token", "token_weight_micro"
        )
    )


@query(
    "cluster_balanced_sample",
    "WITH "
    + ",\n    ".join(_sql_doc_clusters()[0])
    + f"""
    , ranked AS (
        SELECT vec_id, cidx,
               row_number() OVER (
                   PARTITION BY cidx
                   ORDER BY md5('cbs|' || CAST(vec_id AS VARCHAR)), vec_id
               ) AS rnk
        FROM dassign
    )
    , picked AS (SELECT vec_id, cidx FROM ranked WHERE rnk <= 20)
    SELECT cidx AS cluster,
           COUNT(*) AS n_sampled,
           CAST(SUM(vec_id) AS BIGINT) AS sampled_id_sum,
           MIN(vec_id) AS min_sampled_id
    FROM picked GROUP BY cidx
""",
)
def cluster_balanced_sample_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-balanced corpus sampling — WHY a training pipeline
    clusters: take (up to) 20 docs per k-means cluster by a deterministic
    md5 rank (seeded hash order, ties to doc id), so the sampled mix is
    topic-balanced instead of frequency-biased, and reproducible with no
    RNG state.  Graded as the per-cluster sample accounting (count,
    id-sum, min id — an id-set digest the oracle recomputes from its own
    replayed fit).  Plan: the assignment plus ONE window rank per
    cluster; at 100 TB the rank is a per-partition top-m, never a global
    sort."""
    from pyspark.sql import Window

    from mistocksync_spark.operators.vectors import ivf_assign

    vecs, _, cents = _doc_vec_shared(spark, sf_dir)
    assign = ivf_assign(vecs, cents, vec_col="embedding", id_col="doc_id")
    w = Window.partitionBy("centroid").orderBy(
        F.md5(F.concat(F.lit("cbs|"), F.col("vec_id").cast("string"))), F.col("vec_id")
    )
    picked = assign.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") <= 20)
    return picked.groupBy("centroid").agg(
        F.count(F.lit(1)).alias("n_sampled"),
        F.sum("vec_id").cast("long").alias("sampled_id_sum"),
        F.min("vec_id").alias("min_sampled_id"),
    ).select(
        F.col("centroid").alias("cluster"), "n_sampled", "sampled_id_sum", "min_sampled_id"
    )


def _parquet_content_tag(*paths: str) -> str:
    """10-hex content-identity tag for produce-once /tmp state: md5 over
    every parquet file's (name, size, mtime_ns) under the given paths —
    stat-only, no data read.  The tag changes whenever the source data is
    regenerated (even bit-identically: mtime moves), so derived state
    keyed on it can never serve stale rows after a testdata refresh
    (the zipf scale corpora ARE regenerated in place)."""
    import hashlib
    import os

    parts = []
    for p in paths:
        files = [p]
        if os.path.isdir(p):
            files = sorted(
                os.path.join(r, f)
                for r, _, fs in os.walk(p)
                for f in fs
                if f.endswith(".parquet")
            )
        for f in files:
            st = os.stat(f)
            parts.append(f"{os.path.basename(f)}:{st.st_size}:{st.st_mtime_ns}")
    return hashlib.md5("|".join(parts).encode()).hexdigest()[:10]


def _scratch_root(base: str, tag: str, max_age_days: float = 7.0) -> str:
    """Session-isolated scratch root ``{base}/{pid}-{tag}``: the pid
    component keeps concurrent sessions on one machine from racing on a
    shared path; sibling roots whose pid is no longer alive are reaped
    here, so abandoned state does not accumulate across sessions.  A
    recycled pid (or a pid owned by another user, where kill(pid, 0)
    raises PermissionError) would keep a dead session's root alive
    forever, so an mtime-age fallback reaps any sibling root older than
    ``max_age_days`` regardless of pid liveness.  Every
    REUSE touches the root's mtime first (without the touch,
    a LIVE session's week-old root could be reaped by a sibling session
    mid-query — between the produce-once marker check and the lazy reads
    — a transient FileNotFound job failure, not just a one-rebuild
    cost); with the touch, a root only ages past the cutoff when no
    session has used it for max_age_days, so live roots are never
    reaped."""
    import os
    import shutil
    import time

    pid = os.getpid()
    root = f"{base}/{pid}-{tag}"
    if os.path.isdir(root):
        os.utime(root)
    cutoff = time.time() - max_age_days * 86400.0
    try:
        for d in os.listdir(base):
            opid = d.split("-", 1)[0]
            if not opid.isdigit() or int(opid) == pid:
                continue
            dead = False
            try:
                os.kill(int(opid), 0)
            except ProcessLookupError:
                dead = True
            except PermissionError:
                pass
            if not dead:
                try:
                    dead = os.stat(f"{base}/{d}").st_mtime < cutoff
                except OSError:
                    continue
            if dead:
                shutil.rmtree(f"{base}/{d}", ignore_errors=True)
    except FileNotFoundError:
        pass
    return root


def _produce_once_root(base: str, name: str, sf_dir: str, tag: str, build) -> str:
    """PRODUCE-ONCE SETUP CONTRACT — the single audited implementation of
    setup amortization, centralized so the discipline stays structurally
    checkable
    (tests/test_layout.py pins that queries.py calls ``_scratch_root``
    ONLY through here plus the one documented bucketed-table site).

    What may live under a produce-once root: SETUP STATE ONLY — standing
    tables, indexes, quantizers, vocabularies that are pure functions of
    the corpus version (the content ``tag``), i.e. state a production
    deployment already has on hand when the graded request arrives.
    What may NEVER live here: a graded result/decision frame, or anything
    derived from per-run inputs — every ``@query`` body recomputes its
    declared result from the parquet inputs on every call, and the prime
    cost stays on the bench record (the first cold sample of a fresh root
    pays ``build``).  Mutating entries must ``shutil.copytree`` the
    pristine root per run and mutate the copy; read-only entries may read
    the root in place.

    ``build(root)`` runs at most once per (session pid, corpus version);
    the ``_STATE_READY`` marker commits it, so an interrupted build is
    re-run from a clean slate, never half-read."""
    import hashlib
    import os
    import shutil

    h = hashlib.md5(f"{name}:{sf_dir}:{tag}".encode()).hexdigest()[:10]
    root = _scratch_root(base, h)
    marker = os.path.join(root, "_STATE_READY")
    if not os.path.exists(marker):
        shutil.rmtree(root, ignore_errors=True)  # append sinks: start clean
        build(root)
        os.makedirs(root, exist_ok=True)  # a build may legitimately write 0 tables
        with open(marker, "w") as mf:
            mf.write(tag)
    return root


@query(
    "orders_bucketed_join",
    f"""
    SELECT c.c_mktsegment,
           COUNT(*) AS n_orders,
           {sql_dec_sum("o.o_totalprice", 2)} AS sum_totalprice
    FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    GROUP BY c.c_mktsegment
""",
)
def orders_bucketed_join_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-located (bucketed) fact⋈dim join: both sides are first written
    as tables bucketed AND per-bucket-sorted on the join key with the
    same bucket count (sinks/layout.bucketed_table_write), so the join
    compiles to a sort-merge join with NO Exchange on either input — the
    organization that removes the biggest shuffle of a 100 TB star join
    (bucket layout is recorded in the catalog; each task merges one
    co-numbered bucket pair locally).  The oracle is the PLAIN join over
    the raw parquet, so the grade asserts the bucketed round-trip and
    co-located join are lossless; the shuffle-free plan itself is pinned
    by tests/test_spans.py.  The write is a per-(sf_dir) one-time cost
    (~#rows), amortized across every subsequent join on that key — the
    same produce-once/probe-many trade as the stored IVF index."""
    import hashlib

    from mistocksync_spark.sinks.layout import bucketed_table_write

    # produce-once guard keyed on a CONTENT fingerprint of the source
    # parquet (size+mtime) plus the session pid: regenerated testdata
    # changes the tag, so the tableExists hit can never serve a stale
    # bucketed copy, and concurrent sessions never race on one /tmp path;
    # dead sessions' roots are reaped by _scratch_root.
    tag = _parquet_content_tag(
        f"{sf_dir}/orders.parquet", f"{sf_dir}/customer.parquet"
    )
    h = hashlib.md5(f"{sf_dir}:{tag}".encode()).hexdigest()[:10]
    # direct _scratch_root call (not _produce_once_root): the guard here is
    # the CATALOG (tableExists on the content-hashed table name), not a
    # _STATE_READY marker — bucketed tables must be registered via
    # saveAsTable, so the marker protocol does not apply.  This is the one
    # documented exception the produce-once structural test allows.
    root = _scratch_root("/tmp/spark_graft_bucketed", h)
    ob, cb = f"orders_b_{h}", f"customer_b_{h}"
    if not spark.catalog.tableExists(ob):
        bucketed_table_write(
            spark.read.parquet(f"{sf_dir}/orders.parquet").select(
                "o_orderkey", "o_custkey", "o_totalprice"
            ),
            ob, f"{root}/orders", "o_custkey", 8,
        )
    if not spark.catalog.tableExists(cb):
        bucketed_table_write(
            spark.read.parquet(f"{sf_dir}/customer.parquet").select(
                "c_custkey", "c_mktsegment"
            ),
            cb, f"{root}/customer", "c_custkey", 8,
        )
    o, c = spark.table(ob), spark.table(cb)
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dec_sum("o_totalprice", 2).alias("sum_totalprice"),
        )
    )


def _sql_hll_parts(val: str = "CAST(user_id AS VARCHAR)", keys: str = "") -> str:
    """Shared HLL CTEs: 60-bit md5 hash fold, bucket/rho split via bin()
    length (exact integer ops — no cross-engine log2)."""
    u = (
        "list_reduce(list_transform(generate_series(1, 15), "
        f"i -> strpos('0123456789abcdef', substr(md5({val}), i, 1)) - 1), "
        "(acc, x) -> acc * 16 + x)"
    )
    kcols = (keys + ", ") if keys else ""
    return f"""
    u AS (SELECT {kcols}{u} AS u FROM events),
    h AS (
        SELECT {kcols}u % 256 AS bucket,
               CASE WHEN u // 256 > 0 THEN 53 - length(bin(u // 256)) ELSE 53 END AS rho
        FROM u
    )"""


@query(
    "user_hll_estimate",
    "WITH "
    + _sql_hll_parts()
    + """
    , regs AS (
        SELECT s.bucket, COALESCE(MAX(h.rho), 0) AS reg
        FROM UNNEST(generate_series(0, 255)) AS s(bucket)
        LEFT JOIN h ON h.bucket = s.bucket
        GROUP BY s.bucket
    )
    , agg AS (
        SELECT CAST(SUM(CAST(1 AS BIGINT) << (53 - reg)) AS BIGINT) AS sum_scaled,
               CAST(SUM(CASE WHEN reg = 0 THEN 1 ELSE 0 END) AS BIGINT) AS zero_registers
        FROM regs
    )
    , ex AS (SELECT COUNT(DISTINCT user_id) AS n_exact FROM events)
    SELECT m, n_exact, zero_registers, sum_scaled, hll_estimate,
           CASE WHEN n_exact > 0 THEN
               CAST(floor(abs(hll_estimate - CAST(n_exact AS DOUBLE)) * 1000000.0
                          / n_exact) AS BIGINT)
           END AS err_ppm
    FROM (
        SELECT 256 AS m, ex.n_exact, agg.zero_registers, agg.sum_scaled,
               ROUND({K} / CAST(agg.sum_scaled AS DOUBLE), 3) AS hll_estimate
        FROM agg, ex
    )
""".replace(
        "{K}",
        repr(__import__("mistocksync_spark.operators.aggregates", fromlist=["_HLL_K"])._HLL_K),
    ),
)
def user_hll_estimate_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct-user sketch (operators/aggregates.
    hll_estimate — Flajolet et al. 2007, public method) graded to the
    BIT: the register table is exact integer state (md5-derived 60-bit
    hashes, rho via bin()-length — no log2 whose last ulp could flip a
    floor cross-engine), sum_scaled is an exact BIGINT shift sum, and
    the raw estimator is ONE IEEE division by it.  The capability every
    100 TB cardinality readout uses when exact COUNT(DISTINCT) is too
    expensive — here graded against the exact count with the ppm error
    on the record."""
    from mistocksync_spark.operators.aggregates import hll_estimate
    from mistocksync_spark.sources.testdata import load_events

    return hll_estimate(load_events(spark, sf_dir), "user_id")


@query(
    "user_hll_merge_audit",
    "WITH "
    + _sql_hll_parts(keys="event_type")
    + """
    , gspine AS (SELECT DISTINCT event_type FROM events)
    , regs_g AS (
        SELECT g.event_type, s.bucket, COALESCE(MAX(h.rho), 0) AS reg
        FROM gspine g
        CROSS JOIN UNNEST(generate_series(0, 255)) AS s(bucket)
        LEFT JOIN h ON h.event_type = g.event_type AND h.bucket = s.bucket
        GROUP BY g.event_type, s.bucket
    )
    , merged AS (SELECT bucket, MAX(reg) AS reg FROM regs_g GROUP BY bucket)
    , gall AS (
        SELECT s.bucket, COALESCE(MAX(h.rho), 0) AS reg
        FROM UNNEST(generate_series(0, 255)) AS s(bucket)
        LEFT JOIN h ON h.bucket = s.bucket
        GROUP BY s.bucket
    )
    SELECT (SELECT COUNT(*) FROM gspine) AS n_groups,
           256 AS n_buckets,
           CAST((SELECT COUNT(*) FROM merged m JOIN gall g
                 ON g.bucket = m.bucket AND g.reg <> m.reg) AS BIGINT)
               AS mismatched_buckets
""",
)
def user_hll_merge_audit_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeability audit of the HLL sketch — the property that makes it
    a 100 TB operator: per-event_type partial register tables combined
    by per-bucket MAX must equal the whole-corpus registers (so sketch
    state combines map-side and the shuffle carries 256 rows per group).
    Output: (n_groups, n_buckets, mismatched_buckets) — graded with the
    oracle recomputing both sides independently; mismatched_buckets = 0
    IS the mergeability proof."""
    from mistocksync_spark.operators.aggregates import hll_registers
    from mistocksync_spark.sources.testdata import load_events

    ev = load_events(spark, sf_dir)
    regs_g = hll_registers(ev, "user_id", group_col="event_type")
    merged = regs_g.groupBy("bucket").agg(F.max("reg").alias("reg_m"))
    glob = hll_registers(ev, "user_id")
    flags = merged.join(glob, on="bucket").select(
        (F.col("reg_m") != F.col("reg")).cast("long").alias("__mm"),
        F.lit(None).cast("string").alias("__grp"),
    )
    # union-tagged 1-row combine, not a scalar join (zero-BNLJ budget)
    u = flags.unionByName(
        ev.select(F.lit(None).cast("long").alias("__mm"), F.col("event_type").alias("__grp"))
    )
    return u.agg(
        F.countDistinct("__grp").alias("n_groups"),
        F.sum("__mm").alias("mismatched_buckets"),
    ).select(
        "n_groups", F.lit(256).cast("int").alias("n_buckets"), "mismatched_buckets"
    )


@query("user_hll_stream")
def user_hll_stream_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming parity for the HLL sketch — its production
    shape: registers accumulate CONTINUOUSLY as a streaming
    groupBy(bucket).max(rho) (stateless hash columns, 256-row state,
    complete mode), then the batch finisher closes the estimate from the
    partial register table (empty-bucket mass is closed-form — no spine).
    Shares ``user_hll_estimate``'s oracle, so the grade asserts the
    streamed sketch equals the batch sketch to the BIT."""
    from mistocksync_spark.operators.aggregates import (
        hll_bucket_rho,
        hll_finish_from_partial,
    )
    from mistocksync_spark.sources.testdata import load_events
    from mistocksync_spark.streaming.events import read_events_stream

    bucket, rho = hll_bucket_rho("user_id")
    regs_stream = (
        read_events_stream(spark, sf_dir)
        .select(bucket, rho)
        .groupBy("bucket")
        .agg(F.max("rho").alias("reg"))
    )
    sink = _run_stream(spark, regs_stream, "user_hll_stream_sink", "complete")
    return hll_finish_from_partial(sink, load_events(spark, sf_dir), "user_id")


ORACLES["user_hll_stream"] = ORACLES["user_hll_estimate"]


# ---------------------------------------------------------------------------
# corpus_prepare_v2 — the corpus operators chained in ONE declarative plan
# ---------------------------------------------------------------------------

_V2_SAMPLE_PER_CLUSTER = 20


def _sql_corpus_prepare_v2(v3: bool = False) -> str:
    """Oracle for ``corpus_prepare_v2``: the full training-data pipeline
    replayed in one SQL statement — MinHash-LSH pairs → integer PageRank
    → connected components → canonical pick, exact-dup window, span
    coverage, Gopher + OOV gates, then (over the KEPT docs only) the
    hashed-TF-IDF featurization, the unrolled k-means fit + assignment,
    the seeded-md5 balanced-sample rank, and the 6-round BPE merge chain
    with per-doc token accounting.  Every sub-chain is the SAME oracle
    formulation its standalone graded entry uses (cited per block), so
    this grade transitively re-asserts each stage AND their composition.

    ``v3=True`` extends the SAME template with the emission tier:
    a ``holdout`` gate (the doc_id % 50 = 0 eval slice — never trained
    on), a ``contaminated`` gate after the five v2 gates (>= 2 distinct
    word-trigram shingles shared with the holdout slice — the
    ``contamination_check`` oracle verbatim), and packed-sequence
    assignment for the sampled kept docs (the ``doc_packing``
    concat-then-chunk replay, stratum = cluster, 2048-token windows).
    With the default ``v3=False`` every injection is the empty string,
    so the v2 oracle text is BYTE-IDENTICAL to its graded form."""
    km_blocks, final_cents = _sql_kmeans_blocks(
        "kv", "k2", str(_DOC_VEC_K), _DOC_VEC_ITERS
    )
    hex8_t = _SQL_HEX8.format(sha="md5(t)")
    bpe = _sql_bpe_chain(6, src="kdocs").replace("\nWITH words", "\n, words", 1)
    contam_ctes = (
        """, v3tok AS (SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS t FROM documents)
    , v3sh AS (
        SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
        FROM v3tok, UNNEST(generate_series(1, greatest(len(t) - 2, 0))) AS u(i)
    )
    , v3ev AS (SELECT DISTINCT shingle FROM v3sh WHERE doc_id % 50 = 0)
    , contam AS (
        SELECT s.doc_id FROM v3sh s JOIN v3ev USING (shingle)
        WHERE s.doc_id % 50 <> 0
        GROUP BY s.doc_id HAVING COUNT(DISTINCT s.shingle) >= 2
    )
    """
        if v3
        else ""
    )
    holdout_case = (
        "CASE WHEN d.doc_id % 50 = 0 THEN 'holdout'\n                    WHEN"
        if v3
        else "CASE WHEN"
    )
    contam_case = (
        "\n                    WHEN cm.doc_id IS NOT NULL THEN 'contaminated'"
        if v3
        else ""
    )
    contam_join = "\n        LEFT JOIN contam cm USING (doc_id)" if v3 else ""
    pack_ctes = (
        f"""
    , v3samp AS (
        SELECT r.vec_id, r.cidx, t.n_bpe_tokens
        FROM ranked r JOIN dtokn t ON t.doc_id = r.vec_id
        WHERE r.rnk <= {_V2_SAMPLE_PER_CLUSTER}
    )
    , v3pack AS (
        SELECT vec_id AS doc_id,
               COALESCE(SUM(n_bpe_tokens) OVER (
                   PARTITION BY cidx ORDER BY vec_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before_tok
        FROM v3samp
    )"""
        if v3
        else ""
    )
    pack_cols = (
        """,
           CAST(pk.before_tok // 2048 AS BIGINT) AS pack_id,
           CAST(pk.before_tok % 2048 AS BIGINT) AS pack_offset"""
        if v3
        else ""
    )
    pack_join = "\n    LEFT JOIN v3pack pk ON pk.doc_id = dec.doc_id" if v3 else ""
    return (
        _sql_mh_cte(recursive=True)
        + _sql_pagerank_ctes(5)
        + f"""
    , walk(node, reach) AS (
        SELECT src, dst FROM edges
        UNION
        SELECT w.node, e.dst FROM walk w JOIN edges e ON e.src = w.reach
    )
    , cc AS (
        SELECT node AS doc_id, LEAST(node, MIN(reach)) AS cluster_id
        FROM walk GROUP BY node
    )
    , cj AS (
        SELECT cc.cluster_id, cc.doc_id, p.r AS rank_micro
        FROM cc JOIN pr5 p ON p.node = cc.doc_id
    )
    , cmx AS (
        SELECT cluster_id, MAX(rank_micro) AS top_rank FROM cj GROUP BY cluster_id
    )
    , canon AS (
        SELECT m.cluster_id, MIN(cj.doc_id) AS canonical_id
        FROM cmx m JOIN cj ON cj.cluster_id = m.cluster_id
                          AND cj.rank_micro = m.top_rank
        GROUP BY m.cluster_id
    )
    , near AS (
        SELECT cc.doc_id, c.canonical_id FROM cc JOIN canon c USING (cluster_id)
    )
    , xd AS (
        SELECT doc_id,
               doc_id <> MIN(doc_id) OVER (PARTITION BY md5(text)) AS is_exact_dup
        FROM documents
    )
    , docs AS (SELECT doc_id, text FROM documents)
    """
        + _SQL_SPAN_POS
        + f"""
    , dupg AS (SELECT g FROM pos GROUP BY g HAVING COUNT(DISTINCT doc_id) >= 2)
    , iv AS (
        SELECT p.doc_id, p.pos, p.pos + {_SPAN_GRAM - 1} AS e
        FROM pos p JOIN dupg USING (g)
    )
    , fl AS (
        SELECT doc_id, pos, e,
               MAX(e) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_e
        FROM iv
    )
    , islands AS (
        SELECT doc_id, pos, e,
               SUM(CASE WHEN prev_e IS NULL OR pos > prev_e + 1 THEN 1 ELSE 0 END)
                   OVER (PARTITION BY doc_id ORDER BY pos) AS isl
        FROM fl
    )
    , cov AS (
        SELECT doc_id, CAST(SUM(chars) AS BIGINT) AS dc
        FROM (SELECT doc_id, isl, MAX(e) - MIN(pos) + 1 AS chars
              FROM islands GROUP BY doc_id, isl)
        GROUP BY doc_id
    )
    , spanf AS (
        SELECT d.doc_id, length(d.text) AS doc_len, COALESCE(c.dc, 0) AS dup_chars
        FROM docs d LEFT JOIN cov c USING (doc_id)
    )
    , g AS ({_sql_gopher()})
    , rts AS ({ORACLES["rare_token_score"]})
    {contam_ctes}, decision AS MATERIALIZED (
        SELECT d.doc_id,
               {holdout_case} xd.is_exact_dup THEN 'exact_dup'
                    WHEN nr.canonical_id IS NOT NULL
                         AND nr.canonical_id <> d.doc_id THEN 'near_dup'
                    WHEN sp.doc_len > 0
                         AND 10 * sp.dup_chars >= 3 * sp.doc_len THEN 'span_dup'
                    WHEN g.pass_gopher = 0 THEN 'gopher'
                    WHEN 2 * r.n_in_vocab < r.n_tokens THEN 'rare_tokens'{contam_case}
                    ELSE 'ok' END AS reason
        FROM documents d
        JOIN xd USING (doc_id)
        LEFT JOIN near nr USING (doc_id)
        JOIN spanf sp USING (doc_id)
        JOIN g USING (doc_id)
        LEFT JOIN rts r USING (doc_id){contam_join}
    )
    , kdocs AS MATERIALIZED (
        SELECT d.doc_id, d.text
        FROM documents d JOIN decision USING (doc_id) WHERE reason = 'ok'
    )
    , kdtoks AS (
        SELECT doc_id, unnest(regexp_split_to_array(lower(text), '\\s+')) AS t
        FROM kdocs)
    , kdtf AS MATERIALIZED (
        SELECT doc_id, t, COUNT(*) AS tf FROM kdtoks WHERE t <> ''
        GROUP BY doc_id, t)
    , kddf AS (SELECT t, COUNT(*) AS df FROM kdtf GROUP BY t)
    , kdnd AS (SELECT COUNT(DISTINCT doc_id) AS n FROM kdtf)
    , kdtw AS (
        SELECT f.doc_id, f.t,
               CAST(f.tf * ((1000000 * (SELECT n FROM kdnd)) // d.df) AS BIGINT) AS w
        FROM kdtf f JOIN kddf d USING (t))
    , kdwb AS (
        SELECT doc_id, ({hex8_t}) % {_DOC_VEC_DIM} AS b,
               CAST(SUM(w) AS BIGINT) AS w
        FROM kdtw GROUP BY doc_id, b)
    , kspine AS (
        SELECT d.doc_id, s.j AS b
        FROM (SELECT DISTINCT doc_id FROM kdwb) d,
             UNNEST(generate_series(0, {_DOC_VEC_DIM - 1})) AS s(j))
    , kv AS MATERIALIZED (
        SELECT sp.doc_id AS vec_id,
               list(CAST(COALESCE(w.w, 0) AS DOUBLE) / 1000000.0 ORDER BY sp.b) AS embedding
        FROM kspine sp LEFT JOIN kdwb w ON w.doc_id = sp.doc_id AND w.b = sp.b
        GROUP BY sp.doc_id)
    , """
        + ",\n    ".join(km_blocks)
        + "\n    , "
        + _sql_assign_block("kassign", "kv", final_cents, 1)
        + f"""
    , ranked AS (
        SELECT vec_id, cidx,
               row_number() OVER (
                   PARTITION BY cidx
                   ORDER BY md5('cpv2|' || CAST(vec_id AS VARCHAR)), vec_id
               ) AS rnk
        FROM kassign
    )"""
        + bpe
        + f"""
    , wtok AS (SELECT w, COUNT(*) AS n_tok FROM sym6 GROUP BY w)
    , dtokn AS (
        SELECT dw.doc_id, CAST(SUM(t.n_tok) AS BIGINT) AS n_bpe_tokens
        FROM (
            SELECT doc_id,
                   unnest(regexp_split_to_array(lower(text), '\\s+')) AS w
            FROM kdocs
        ) dw
        JOIN wtok t ON t.w = dw.w
        WHERE dw.w <> ''
        GROUP BY dw.doc_id
    ){pack_ctes}
    SELECT dec.doc_id, dec.reason,
           ka.cidx AS cluster,
           CASE WHEN dec.reason = 'ok'
                THEN CAST(COALESCE(r2.rnk <= {_V2_SAMPLE_PER_CLUSTER}, FALSE) AS INTEGER)
           END AS sampled,
           CASE WHEN dec.reason = 'ok' THEN tn.n_bpe_tokens END AS n_bpe_tokens{pack_cols}
    FROM decision dec
    LEFT JOIN kassign ka ON ka.vec_id = dec.doc_id
    LEFT JOIN ranked r2 ON r2.vec_id = dec.doc_id
    LEFT JOIN dtokn tn ON tn.doc_id = dec.doc_id{pack_join}
"""
    )


@query("corpus_prepare_v2", _sql_corpus_prepare_v2())
def corpus_prepare_v2_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end training-data pipeline, v2 — every corpus stage
    chained in ONE declarative plan over ONE shared documents scan:

      exact dedup (md5 window) → near-dup CANONICAL pick (MinHash-LSH →
      connected components → integer PageRank, survivors by centrality
      instead of min-id) → exact-substring span-coverage gate (pair-free,
      dup_frac >= 0.30 as an integer compare) → Gopher rules → corpus-
      relative OOV gate; then, over the KEPT corpus only: hashed-TF-IDF
      k-means clustering, cluster-balanced sampling (seeded-md5 rank,
      <= 20/cluster), and BPE token accounting under 6 merges learned on
      the kept text — one decision row per document:
      (doc_id, reason, cluster, sampled, n_bpe_tokens).

    This is the single query to show a 100 TB reviewer: candidate
    generation is bucketed (band equi-joins), the span gate is linear in
    corpus bytes (no pair enumeration), quality gates are scan-local
    column expressions, clustering/BPE work on vocab- or k-bounded
    working sets, and the only driver fetches are the documented bounded
    ones (k-means centroids, 6 BPE argmax rows).  Gate semantics: the
    five gates are independent predicates with first-match-wins reason
    over the FULL corpus graph; the near-dup canonical can never itself
    be an exact_dup casualty, because identical texts have identical
    shingle adjacency hence identical integer PageRank, and both
    tie-breaks (canonical pick, md5 keeper) resolve to the same MIN
    doc_id.  All thresholds compare exact integers (10·dup_chars >=
    3·doc_len; 2·n_in_vocab < n_tokens), so the reason column is
    bit-stable cross-engine.

    Vs v1 (``corpus_prepare``): v1 gates on exact-dup + Gopher + OOV and
    stops at the keep decision; v2 adds the near-dup canonical and span
    gates and carries the kept corpus through clustering, sampling, and
    token budgeting — the full prepare-for-training loop."""
    return _prepare_pipeline(spark, sf_dir, v3=False)


def _prepare_pipeline(spark: SparkSession, sf_dir: str, v3: bool) -> DataFrame:
    """Shared body of ``corpus_prepare_v2`` and ``corpus_prepare_v3``:
    with ``v3=False`` this is the v2 plan unchanged; ``v3=True``
    adds the holdout + decontamination gates and the packed-sequence
    emission (see ``corpus_prepare_v3_q``)."""
    from pyspark.sql import Window

    from mistocksync_spark.operators.dedup import (
        cluster_canonicals,
        connected_components,
        contamination_check,
        duplicated_span_coverage,
        similarity_pagerank,
    )
    from mistocksync_spark.operators.textual import (
        bpe_word_token_counts,
        gopher_rules,
        hashed_tfidf_vectors,
        pack_documents,
        rare_token_score,
    )
    from mistocksync_spark.operators.vectors import ivf_assign, ivf_train

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .localCheckpoint(eager=False)  # ONE scan shared by every gate
    )

    # gate 1: exact duplicate (keep = min doc_id per md5 group)
    hashed = docs.select("doc_id", F.md5("text").alias("__h"))
    keep_min = hashed.groupBy("__h").agg(F.min("doc_id").alias("__keep"))
    exact = hashed.join(keep_min, on="__h").select(
        "doc_id", (F.col("doc_id") != F.col("__keep")).alias("is_exact_dup")
    )

    # gate 2: near-dup non-canonical (centrality survivor pick).
    # connected_components and similarity_pagerank are independent
    # iterative consumers of the same pair list, each with a
    # driver-blocking loop (checkpoint probes / deg count / rank rounds).
    # Materialize the shared lazy checkpoint once (the
    # count below — work both loops needed anyway), then overlap the two
    # loops from a 2-thread pool so each one's stage tails back-fill the
    # other's jobs.
    from mistocksync_spark.sinks.layout import parallel_actions

    pairs = _minhash_pairs_shared(spark, sf_dir)
    pairs.count()  # materialize before fan-out (parallel_actions contract)
    _gate2: dict = {}

    def _run_cc() -> None:
        _gate2["cc"] = connected_components(pairs)

    def _run_pr() -> None:
        _gate2["pr"] = similarity_pagerank(pairs, iterations=5)

    parallel_actions(_run_cc, _run_pr)
    cc = _gate2["cc"]
    canon = cluster_canonicals(cc, _gate2["pr"])
    near = cc.join(
        F.broadcast(canon.select("cluster_id", "canonical_id")), on="cluster_id"
    ).select("doc_id", "canonical_id")

    # gate 3: duplicated-span coverage (pair-free) on the RAW corpus.
    # raw-substring gram keys (hashed=False) — equality is all this
    # gate tests and g is never exposed, so skipping the per-character md5
    # is result-identical (exceptAll 0 both ways at sf0.1) and measured
    # −17% on the coverage subplan.
    from mistocksync_spark.operators.dedup import char_gram_positions

    cov = duplicated_span_coverage(
        docs, positions=char_gram_positions(docs, hashed=False)
    ).select("doc_id", "doc_len", "dup_chars")

    # gates 4+5: Gopher rules, corpus-relative OOV
    g = gopher_rules(docs).select("doc_id", "pass_gopher")
    rts = rare_token_score(docs).select("doc_id", "n_tokens", "n_in_vocab")

    dec_in = (
        docs.select("doc_id")
        .join(exact, on="doc_id")
        .join(near, on="doc_id", how="left")
        .join(cov, on="doc_id")
        .join(g, on="doc_id")
        .join(rts, on="doc_id", how="left")
    )
    reason = F.when(F.col("is_exact_dup"), F.lit("exact_dup"))
    if v3:
        # v3 gate 0: the doc_id % 50 == 0 holdout slice is never trained
        # on (checked FIRST — corpus membership, not content quality);
        # v3 gate 6: decontamination vs that slice, the graded
        # contamination_check plan verbatim (eval shingles broadcast)
        contam = (
            contamination_check(
                docs.filter(F.col("doc_id") % 50 != 0),
                docs.filter(F.col("doc_id") % 50 == 0),
                min_overlap=2,
            )
            .select("doc_id")
            .withColumn("__cont", F.lit(1))
        )
        dec_in = dec_in.join(contam, on="doc_id", how="left")
        reason = F.when(F.col("doc_id") % 50 == 0, F.lit("holdout")).when(
            F.col("is_exact_dup"), F.lit("exact_dup")
        )
    reason = (
        reason.when(
            F.col("canonical_id").isNotNull()
            & (F.col("canonical_id") != F.col("doc_id")),
            F.lit("near_dup"),
        )
        .when(
            (F.col("doc_len") > 0)
            & (10 * F.col("dup_chars") >= 3 * F.col("doc_len")),
            F.lit("span_dup"),
        )
        .when(F.col("pass_gopher") == 0, F.lit("gopher"))
        .when(2 * F.col("n_in_vocab") < F.col("n_tokens"), F.lit("rare_tokens"))
    )
    if v3:
        reason = reason.when(F.col("__cont").isNotNull(), F.lit("contaminated"))
    decision = dec_in.select(
        "doc_id", reason.otherwise(F.lit("ok")).alias("reason")
    ).localCheckpoint(eager=False)  # consumed by kept + the final select

    kept = (
        docs.join(decision.filter(F.col("reason") == "ok").select("doc_id"), "doc_id")
        .localCheckpoint(eager=False)  # shared by featurize + BPE branches
    )

    # kept-corpus clustering + balanced sample
    vecs = hashed_tfidf_vectors(kept, dim=_DOC_VEC_DIM).localCheckpoint(eager=False)
    cents = ivf_train(
        vecs, n_centroids=_DOC_VEC_K, iterations=_DOC_VEC_ITERS,
        vec_col="embedding", id_col="doc_id",
    )
    assign = ivf_assign(vecs, cents, vec_col="embedding", id_col="doc_id")
    w = Window.partitionBy("centroid").orderBy(
        F.md5(F.concat(F.lit("cpv2|"), F.col("vec_id").cast("string"))), F.col("vec_id")
    )
    samp = assign.withColumn("rnk", F.row_number().over(w)).select(
        F.col("vec_id").alias("doc_id"),
        F.col("centroid").alias("cluster"),
        (F.col("rnk") <= _V2_SAMPLE_PER_CLUSTER).cast("int").alias("__samp"),
    )

    # kept-corpus BPE token accounting (vocab-bounded lookup — broadcasts)
    wtok = bpe_word_token_counts(kept, n_merges=6)
    dwords = kept.select(
        "doc_id", F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("w")
    ).filter(F.col("w") != "")
    dtokn = (
        dwords.join(F.broadcast(wtok), on="w")
        .groupBy("doc_id")
        .agg(F.sum("n_tok").cast("long").alias("__ntok"))
    )

    out = (
        decision.join(samp, on="doc_id", how="left")
        .join(dtokn, on="doc_id", how="left")
        .select(
            "doc_id",
            "reason",
            "cluster",
            F.when(
                F.col("reason") == "ok", F.coalesce(F.col("__samp"), F.lit(0))
            ).alias("sampled"),
            F.when(F.col("reason") == "ok", F.col("__ntok")).alias("n_bpe_tokens"),
        )
    )
    if not v3:
        return out
    # v3 emission tier: packed-sequence assignment for the sampled kept
    # docs — the doc_packing concat-then-chunk replay (one shuffle on
    # the cluster stratum, id-ordered running token sum, 2048-token
    # windows); non-sampled docs carry NULL pack columns
    sampd = (
        samp.filter(F.col("__samp") == 1)
        .join(dtokn, on="doc_id")
        .select("doc_id", "cluster", "__ntok")
    )
    packed = pack_documents(
        sampd,
        seq_len=2048,
        token_count_col="__ntok",
        stratum_col="cluster",
        id_col="doc_id",
    ).select("doc_id", "pack_id", "pack_offset")
    return out.join(packed, on="doc_id", how="left").select(
        "doc_id",
        "reason",
        "cluster",
        "sampled",
        "n_bpe_tokens",
        "pack_id",
        "pack_offset",
    )


@query("corpus_prepare_v3", _sql_corpus_prepare_v2(v3=True))
def corpus_prepare_v3_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The training-data pipeline with the EMISSION tier — v2 plus
    the two hygiene gates a training run demands and the layout it
    consumes:

    - ``holdout`` (gate 0): the doc_id % 50 == 0 eval slice is never
      trained on — checked first (corpus membership, not quality);
    - the five v2 gates unchanged (exact_dup → near_dup → span_dup →
      gopher → rare_tokens);
    - ``contaminated`` (gate 6): >= 2 distinct word-trigram shingles
      shared with the holdout slice (the graded ``contamination_check``
      plan: eval shingles collapse to a DISTINCT broadcast, corpus-side
      hits aggregate map-side — no cross join at any scale);
    - then clustering / balanced sampling / BPE token accounting over
      the kept corpus as in v2, plus PACKED-SEQUENCE assignment for the
      sampled docs (``pack_documents``: stratum = cluster, id-ordered
      running token sum, fixed 2048-token windows — one shuffle, no
      global sort): (doc_id, reason, cluster, sampled, n_bpe_tokens,
      pack_id, pack_offset).

    One decision row per document; pack columns are NULL except for
    sampled kept docs.  The oracle is the v2 template with the three
    injections rendered (holdout CASE arm, contamination CTEs, packing
    window replay) — v2's own oracle text stays byte-identical, so its
    standing grade is untouched."""
    return _prepare_pipeline(spark, sf_dir, v3=True)


@query(
    "pack_emission_manifest",
    "SELECT cluster, pack_id,\n"
    "       COUNT(*) AS n_docs,\n"
    "       CAST(SUM(n_bpe_tokens) AS BIGINT) AS n_tokens,\n"
    "       'pack_bucket=' || CAST((cluster * 1000000 + pack_id) % 16 AS STRING)"
    " AS file\n"
    f"FROM ({_sql_corpus_prepare_v2(v3=True)})\n"
    "WHERE pack_id IS NOT NULL\n"
    "GROUP BY cluster, pack_id",
)
def pack_emission_manifest_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pack EMISSION sink graded end-to-end (the
    pipeline's final artifact gets the same "graded decision + graded
    layout" treatment as the state tables): the v3 pipeline's packed
    sampled docs are physically WRITTEN in the loader-consumable layout
    (``sinks/layout.pack_emission_write``: partitioned by pack bucket,
    range-clustered by (cluster, pack_id, pack_offset) inside each
    bucket), and the returned manifest — one row per pack: (cluster,
    pack_id, n_docs, n_tokens, file) — is derived by READING BACK the
    emitted files, with ``file`` the actual partition directory each
    pack landed in (NULL if a pack's rows ever split across directories,
    which the oracle's predicted ``pack_bucket=<b>`` would then
    hash-fail).  So the grade covers the physical write: bucket routing,
    pack integrity, and token accounting against the DuckDB v3 replay.
    Footer range-clustering is pinned separately by
    tests/test_layout.py."""
    import os
    import tempfile

    from mistocksync_spark.sinks.layout import (
        pack_emission_manifest,
        pack_emission_write,
    )

    out = _prepare_pipeline(spark, sf_dir, v3=True)
    packed = out.filter(F.col("pack_id").isNotNull()).select(
        "doc_id",
        "cluster",
        "pack_id",
        "pack_offset",
        F.col("n_bpe_tokens").alias("n_tokens"),
    )
    work = tempfile.mkdtemp(prefix="pack_emission_")
    path = pack_emission_write(packed, os.path.join(work, "packs"))
    return pack_emission_manifest(spark, path)


# Span-gate replay for the prepare tick, restricted to batch docs: gram
# positions come from the BATCH only; a position is duplicated iff its
# gram occurs in the corpus or on a smaller-id batch arrival, and the
# covered-character count is the same gaps-and-islands interval-union
# sweep the one-shot coverage oracle runs.
_SQL_TICK_SPAN = f"""
    , bgp AS (
        SELECT doc_id, i AS pos, md5(substr(text, i, {_SPAN_GRAM})) AS g
        FROM (SELECT doc_id, text FROM docs WHERE is_batch = 1),
             UNNEST(generate_series(1, greatest(length(text) - {_SPAN_GRAM - 1}, 0))) AS u(i)
    )
    , cgr AS (
        SELECT DISTINCT md5(substr(text, i, {_SPAN_GRAM})) AS g
        FROM (SELECT text FROM docs WHERE is_batch = 0),
             UNNEST(generate_series(1, greatest(length(text) - {_SPAN_GRAM - 1}, 0))) AS u(i)
    )
    , gmin AS (SELECT g, MIN(doc_id) AS gmind FROM bgp GROUP BY g)
    , dpos AS (
        SELECT p.doc_id, p.pos, p.pos + {_SPAN_GRAM - 1} AS e
        FROM bgp p
        JOIN gmin m USING (g)
        LEFT JOIN (SELECT g, 1 AS c FROM cgr) cg USING (g)
        WHERE cg.c IS NOT NULL OR m.gmind < p.doc_id
    )
    , sfl AS (
        SELECT doc_id, pos, e,
               MAX(e) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_e
        FROM dpos
    )
    , sisl AS (
        SELECT doc_id, pos, e,
               SUM(CASE WHEN prev_e IS NULL OR pos > prev_e + 1 THEN 1 ELSE 0 END)
                   OVER (PARTITION BY doc_id ORDER BY pos) AS isl
        FROM sfl
    )
    , scov AS (
        SELECT doc_id, CAST(SUM(chars) AS BIGINT) AS dc
        FROM (SELECT doc_id, isl, MAX(e) - MIN(pos) + 1 AS chars
              FROM sisl GROUP BY doc_id, isl)
        GROUP BY doc_id
    )
    , blen AS (SELECT doc_id, length(text) AS dl FROM docs WHERE is_batch = 1)
"""


def _sql_incr_tick(v3: bool = False) -> str:
    """The tick oracle as a template (the ``_sql_corpus_prepare_v2``
    byte-identity trick): with ``v3=False`` every injection renders
    empty and the text is BYTE-IDENTICAL to the pre-v3 tick oracle, so the
    shared standing grade of tick/stored/stream is provably untouched;
    ``v3=True`` splices the holdout CASE arm (first), the frozen-holdout
    shingle + contamination CTEs, and the contaminated arm (last)."""
    h_cte = (
        r"""
    , hsh AS (
        SELECT DISTINCT s.shingle
        FROM sh s JOIN docs d ON d.doc_id = s.doc_id
        WHERE d.is_batch = 0 AND d.doc_id % 50 = 0
    )
    , contam AS (
        SELECT s.doc_id
        FROM sh s
        JOIN docs d ON d.doc_id = s.doc_id
        JOIN hsh h ON h.shingle = s.shingle
        WHERE d.is_batch = 1
        GROUP BY s.doc_id
        HAVING COUNT(DISTINCT s.shingle) >= 2
    )"""
        if v3
        else ""
    )
    h_arm = "WHEN d.doc_id % 50 = 0 THEN 'holdout'\n                " if v3 else ""
    c_arm = (
        "\n                WHEN ct.doc_id IS NOT NULL THEN 'contaminated'"
        if v3
        else ""
    )
    c_join = "\n    LEFT JOIN contam ct ON ct.doc_id = d.doc_id" if v3 else ""
    return (
        _incr_docs_cte()
        + _SQL_SHINGLES
        + _SQL_INCR_TAIL
        + _SQL_TICK_SPAN
        + r"""
    , xh AS (
        SELECT doc_id, is_batch,
               ROW_NUMBER() OVER (
                   PARTITION BY md5(text) ORDER BY is_batch, doc_id
               ) AS rn
        FROM docs
    )
    , bg AS ("""
        + _sql_gopher(src="(SELECT doc_id, text FROM docs WHERE is_batch = 1)")
        + r""")
    , cvtok AS (
        SELECT token FROM (
            SELECT unnest(regexp_split_to_array(lower(text), '\s+')) AS token
            FROM docs WHERE is_batch = 0
        ) WHERE token <> ''
    )
    , cvfreq AS (SELECT token, COUNT(*) AS cnt FROM cvtok GROUP BY token)
    , cvtotal AS (SELECT SUM(cnt) AS t FROM cvfreq)
    , cvocab AS (SELECT token FROM cvfreq, cvtotal WHERE cnt >= ceil(t * 0.0001))
    , btok AS (
        SELECT doc_id, token FROM (
            SELECT doc_id,
                   unnest(regexp_split_to_array(lower(text), '\s+')) AS token
            FROM docs WHERE is_batch = 1
        ) WHERE token <> ''
    )
    , bscore AS (
        SELECT t.doc_id, COUNT(*) AS nt, COUNT(v.token) AS niv
        FROM btok t LEFT JOIN cvocab v USING (token)
        GROUP BY t.doc_id
    )"""
        + h_cte
        + r"""
    SELECT d.doc_id,
           CASE """
        + h_arm
        + r"""WHEN x.rn > 1 THEN 'exact_dup'
                WHEN r.later_id IS NOT NULL THEN 'near_dup'
                WHEN bl.dl > 0 AND 10 * COALESCE(cv.dc, 0) >= 3 * bl.dl
                     THEN 'span_dup'
                WHEN g.pass_gopher = 0 THEN 'gopher'
                WHEN 2 * s.niv < s.nt THEN 'rare_tokens'"""
        + c_arm
        + r"""
                ELSE 'ok' END AS reason
    FROM docs d
    JOIN xh x ON x.doc_id = d.doc_id
    LEFT JOIN rejected r ON r.later_id = d.doc_id
    LEFT JOIN scov cv ON cv.doc_id = d.doc_id
    JOIN blen bl ON bl.doc_id = d.doc_id
    JOIN bg g ON g.doc_id = d.doc_id
    LEFT JOIN bscore s ON s.doc_id = d.doc_id"""
        + c_join
        + r"""
    WHERE d.is_batch = 1
"""
    )


@query("incremental_prepare_tick", _sql_incr_tick())
def incremental_prepare_tick_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One ingest tick of the corpus-prepare pipeline (operators/textual.
    incremental_prepare_tick): per-arrival decision rows against the
    standing corpus — exact-digest seen-set, the incremental MERGE
    near-dup rejection (band collision + Jaccard >= 0.5, arrival-ordered
    and prefix-decomposable), the arrival-ordered span-coverage gate
    (>= 30% of the arrival's chars covered by grams seen in the corpus
    or on a smaller-id arrival — closing the v2/tick gate
    asymmetry), Gopher rules on the arrival text, and OOV vs the CORPUS
    vocabulary.  The production counterpart of ``corpus_prepare_v2``'s
    one-shot decisions: v2 re-decides the world, this decides ONLY the
    batch, reading corpus-scale state through the same candidate-bounded
    plans the incremental dedup family grades."""
    from mistocksync_spark.operators.textual import incremental_prepare_tick
    from mistocksync_spark.plans.feeds import docs_incr_batch, docs_incr_corpus

    return incremental_prepare_tick(
        docs_incr_corpus(spark, sf_dir),
        docs_incr_batch(spark, sf_dir),
        # the SELF-CONTAINED anti-shape, graded on purpose: every state
        # derived inline from the corpus (the stored twin is the
        # production path; deriving state per tick is opt-in)
        allow_corpus_derived_state=True,
    )


@query("incremental_prepare_tick_v3", _sql_incr_tick(v3=True))
def incremental_prepare_tick_v3_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The prepare tick with the v3 EMISSION gates:
    ``corpus_prepare_v3``'s two hygiene gates, at tick time —

    - ``holdout`` (checked FIRST): arrivals in the doc_id % 50 == 0 eval
      slice are never trained on — corpus membership, not quality;
    - the five tick gates unchanged between them;
    - ``contaminated`` (checked LAST, the v3 one-shot's reason order):
      >= 2 distinct word-trigram shingles shared with the corpus
      version's holdout slice.

    The holdout shingle set is FROZEN per corpus version (the eval slice
    never changes on ingest ticks — the vocabulary/IVF-quantizer freeze),
    which keeps this gate prefix-decomposable across micro-batches like
    every other: the ladder's v3 tick union is bit-identical to this
    one-shot (tools/prepare_ladder.py --v3, run at two scales).  Packing
    stays emission-scoped by design — packs are artifacts of a sampling
    pass over the accumulated corpus, not per-arrival verdicts.  The
    oracle is the tick oracle template with the v3 injections rendered
    (holdout CASE arm, frozen-holdout shingle + contamination CTEs) —
    the v1 text stays byte-identical, so the shared standing grade of
    tick/stored/stream is untouched.  Production ticks run the stored
    shape (``streaming/merge.prepare_tick_against_state(holdout_mod=50)``
    probing persisted ``holdout_shingle_state``); this graded entry is
    the self-contained semantic definition."""
    from mistocksync_spark.operators.textual import incremental_prepare_tick
    from mistocksync_spark.plans.feeds import docs_incr_batch, docs_incr_corpus

    return incremental_prepare_tick(
        docs_incr_corpus(spark, sf_dir),
        docs_incr_batch(spark, sf_dir),
        allow_corpus_derived_state=True,
        holdout_mod=50,
    )


@query("incremental_prepare_tick_stored")
def incremental_prepare_tick_stored_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The prepare tick against PERSISTED keyed-append state under PRUNED
    reads (no unpruned state surface remains): DOCS,
    band, DIGEST, and GRAM state are written partitioned by
    pmod(xxhash64(key)) buckets (sinks/layout.keyed_state_append), the
    tick computes the three key-state bucket sets in ONE folded driver
    action (bounded, <= 64 ints each) and reads ONLY those partitions;
    the DOCS store — the last state read to be pruned — is fetched
    only in the buckets the band probe's candidate corpus ids hash to
    (``corpus_fetch``), and the OOV gate scores against the PERSISTED
    frozen vocabulary instead of re-aggregating corpus token mass.  The
    exact gate probes the digest state with the batch's own digests
    instead of re-hashing the standing corpus, and the span gate probes
    the gram state instead of re-gramming it — so every gate's
    corpus-side read is O(batch + probed buckets) and the tick never
    touches a corpus-proportional surface (``corpus=None`` — enforced by
    the operator's stored-state guard).  Pruning is lossless for every
    probe (equi-joins on the bucketed key; the verify semi-restricts the
    docs fetch to exact candidate ids), so this must hash-match the
    self-contained tick — oracle shared with
    ``incremental_prepare_tick``.  This grades the state shape the
    prepare ladder and the streaming twin run.

    The state tables are built PRODUCE-ONCE per corpus content
    (the ``orders_bucketed_join`` pattern: scratch root keyed on a
    parquet content fingerprint + session pid, dead-session roots
    reaped), because that IS the production trade being graded — a tick
    probes standing state, it does not rebuild it; the build cost is
    paid once per corpus version and amortized across every subsequent
    tick.  A ``_STATE_READY`` marker written after the last append makes
    an interrupted build rebuild from clean instead of probing a partial
    table."""
    return _stored_prepare_tick(spark, sf_dir)


def _prepare_state_root(spark: SparkSession, sf_dir: str) -> str:
    """The produce-once root of the prepare state (``prime_prepare_state``:
    docs/bands/digests/grams at ``batch=-1`` + frozen vocab + frozen
    holdout shingles), keyed on the documents' content.  The holdout set
    is built unconditionally so the v1/v3 twins of the stored tick and of
    the stream share one root."""
    from mistocksync_spark.plans.feeds import docs_incr_corpus
    from mistocksync_spark.streaming.merge import prime_prepare_state

    return _produce_once_root(
        "/tmp/spark_graft_prep_stream_state",
        "incremental_prepare_stream_state",
        sf_dir,
        _parquet_content_tag(f"{sf_dir}/documents.parquet"),
        lambda r: prime_prepare_state(
            docs_incr_corpus(spark, sf_dir).select("doc_id", "text"),
            r,
            holdout_mod=50,
        ),
    )


def _stored_prepare_tick(
    spark: SparkSession, sf_dir: str, holdout_mod: int | None = None
) -> DataFrame:
    """Shared body of ``incremental_prepare_tick_stored`` and its v3 twin:
    the stream's probe and gate (folded bucket fetch, candidate-pruned
    docs read, corpus=None), unpinned, on the produce-once prepare root."""
    from mistocksync_spark.plans.feeds import docs_incr_batch
    from mistocksync_spark.streaming.merge import prepare_decisions

    return prepare_decisions(
        docs_incr_batch(spark, sf_dir),
        _prepare_state_root(spark, sf_dir),
        holdout_mod=holdout_mod,
    )


ORACLES["incremental_prepare_tick_stored"] = ORACLES["incremental_prepare_tick"]


@query("incremental_prepare_tick_v3_stored")
def incremental_prepare_tick_v3_stored_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The v3 tick against persisted state under pruned reads — the
    production shape of ``incremental_prepare_tick_v3``, graded: the
    emission gates probe the FROZEN ``holdout_shingle_state`` table
    (built once per corpus version in the same produce-once root as the
    other five state artifacts) while every other gate runs the stored
    twin's pruned-probe plan.  Must hash-match the self-contained v3
    tick — oracle shared with ``incremental_prepare_tick_v3``."""
    return _stored_prepare_tick(spark, sf_dir, holdout_mod=50)


ORACLES["incremental_prepare_tick_v3_stored"] = ORACLES["incremental_prepare_tick_v3"]


@query(
    "prepare_vocab_drift",
    _incr_docs_cte()
    + r"""
    , ctok AS (
        SELECT token FROM (
            SELECT unnest(regexp_split_to_array(lower(text), '\s+')) AS token
            FROM docs WHERE is_batch = 0
        ) WHERE token <> ''
    )
    , cfreq AS (SELECT token, COUNT(*) AS cnt FROM ctok GROUP BY token)
    , ctot AS (SELECT SUM(cnt) AS t FROM cfreq)
    , vf AS (SELECT token FROM cfreq, ctot WHERE cnt >= ceil(t * 0.0001))
    , atok AS (
        SELECT token FROM (
            SELECT unnest(regexp_split_to_array(lower(text), '\s+')) AS token
            FROM docs
        ) WHERE token <> ''
    )
    , afreq AS (SELECT token, COUNT(*) AS cnt FROM atok GROUP BY token)
    , atot AS (SELECT SUM(cnt) AS t FROM afreq)
    , vr AS (SELECT token FROM afreq, atot WHERE cnt >= ceil(t * 0.0001))
    , btok AS (
        SELECT doc_id, token FROM (
            SELECT doc_id,
                   unnest(regexp_split_to_array(lower(text), '\s+')) AS token
            FROM docs WHERE is_batch = 1
        ) WHERE token <> ''
    )
    , sc AS (
        SELECT t.doc_id, COUNT(*) AS nt, COUNT(f.token) AS nf, COUNT(r.token) AS nr
        FROM btok t
        LEFT JOIN vf f USING (token)
        LEFT JOIN vr r USING (token)
        GROUP BY t.doc_id
    )
    , fl AS (
        SELECT CASE WHEN 2 * nf < nt THEN 1 ELSE 0 END AS rf,
               CASE WHEN 2 * nr < nt THEN 1 ELSE 0 END AS rr
        FROM sc
    )
    SELECT COUNT(*) AS n_scored,
           CAST(COALESCE(SUM(rf), 0) AS BIGINT) AS n_rare_frozen,
           CAST(COALESCE(SUM(rr), 0) AS BIGINT) AS n_rare_rebuilt,
           CAST(COALESCE(SUM(CASE WHEN rf <> rr THEN 1 ELSE 0 END), 0) AS BIGINT)
               AS n_disagree,
           CASE WHEN COUNT(*) > 0
                THEN round(CAST(SUM(CASE WHEN rf <> rr THEN 1 ELSE 0 END) AS DOUBLE)
                           / COUNT(*), 6)
           END AS drift_frac
    FROM fl
""",
)
def prepare_vocab_drift_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-staleness gate for the streaming prepare tick
    (operators/textual.vocabulary_drift): the frozen corpus
    vocabulary vs a freshly rebuilt corpus∪batch vocabulary, read out as
    per-arrival rare-token decision disagreement — the OOV analogue of
    the graded ``ivf_recall_drift``, so "when to rebuild the frozen
    vocab" is a measured number, not folklore."""
    from mistocksync_spark.operators.textual import vocabulary_drift
    from mistocksync_spark.plans.feeds import docs_incr_batch, docs_incr_corpus

    return vocabulary_drift(
        docs_incr_corpus(spark, sf_dir), docs_incr_batch(spark, sf_dir)
    )


@query(
    "prepare_vocab_rebuild",
    _incr_docs_cte()
    + r"""
    , ctok AS (
        SELECT token FROM (
            SELECT unnest(regexp_split_to_array(lower(text), '\s+')) AS token
            FROM docs WHERE is_batch = 0
        ) WHERE token <> ''
    )
    , cfreq AS (SELECT token, COUNT(*) AS cnt FROM ctok GROUP BY token)
    , ctot AS (SELECT SUM(cnt) AS t FROM cfreq)
    , vf AS (SELECT token FROM cfreq, ctot WHERE cnt >= ceil(t * 0.0001))
    , atok AS (
        SELECT token FROM (
            SELECT unnest(regexp_split_to_array(lower(text), '\s+')) AS token
            FROM docs
        ) WHERE token <> ''
    )
    , afreq AS (SELECT token, COUNT(*) AS cnt FROM atok GROUP BY token)
    , atot AS (SELECT SUM(cnt) AS t FROM afreq)
    , vr AS (SELECT token FROM afreq, atot WHERE cnt >= ceil(t * 0.0001))
    , tj AS (
        SELECT f.token AS ftok, r.token AS rtok
        FROM vf f FULL OUTER JOIN vr r ON f.token = r.token
    )
    , vc AS (
        SELECT COUNT(ftok) AS n_frozen, COUNT(rtok) AS n_rebuilt,
               COUNT(*) FILTER (WHERE ftok IS NULL) AS n_added,
               COUNT(*) FILTER (WHERE rtok IS NULL) AS n_removed
        FROM tj
    )
    , btok AS (
        SELECT doc_id, token FROM (
            SELECT doc_id,
                   unnest(regexp_split_to_array(lower(text), '\s+')) AS token
            FROM docs WHERE is_batch = 1
        ) WHERE token <> ''
    )
    , sc AS (
        SELECT t.doc_id, COUNT(*) AS nt, COUNT(f.token) AS nf, COUNT(r.token) AS nr
        FROM btok t
        LEFT JOIN vf f USING (token)
        LEFT JOIN vr r USING (token)
        GROUP BY t.doc_id
    )
    , dd AS (
        SELECT COUNT(*) AS n_scored,
               COALESCE(SUM(CASE WHEN (CASE WHEN 2 * nf < nt THEN 1 ELSE 0 END)
                                   <> (CASE WHEN 2 * nr < nt THEN 1 ELSE 0 END)
                            THEN 1 ELSE 0 END), 0) AS ndb
        FROM sc
    )
    SELECT CAST(vc.n_frozen AS BIGINT) AS n_frozen,
           CAST(vc.n_rebuilt AS BIGINT) AS n_rebuilt,
           CAST(vc.n_added AS BIGINT) AS n_added,
           CAST(vc.n_removed AS BIGINT) AS n_removed,
           CAST(dd.n_scored AS BIGINT) AS n_scored,
           CAST(dd.ndb AS BIGINT) AS n_disagree_before,
           CASE WHEN dd.n_scored > 0
                THEN round(CAST(dd.ndb AS DOUBLE) / dd.n_scored, 6)
           END AS drift_before,
           -- rebuilt-vs-independently-rebuilt disagreement is identically
           -- zero in SQL; the Spark side derives BOTH vocabularies and
           -- must EARN the 0 (a non-canonical rebuild hash-fails here)
           CAST(0 AS BIGINT) AS n_disagree_after
    FROM vc, dd
""",
)
def prepare_vocab_rebuild_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The vocabulary REBUILD tick (operators/textual.vocabulary_rebuild,
    the second half of the vocab lifecycle):
    ``prepare_vocab_drift`` measures when the frozen vocabulary is stale;
    this is the tick a deployment runs when the threshold trips —
    re-derive the vocabulary over corpus + arrivals, re-freeze, and audit
    the rebuild in one row: token churn (added/removed — the
    ``ivf_index_rebuild`` cell-diff analogue), the pre-rebuild decision
    drift that triggered it, and the post-rebuild disagreement, which
    must be 0 (pinned by the oracle — the drift curve collapsing is also
    shown live by ``tools/prepare_ladder.py --rebuild-at``)."""
    from mistocksync_spark.operators.textual import vocabulary_rebuild
    from mistocksync_spark.plans.feeds import docs_incr_batch, docs_incr_corpus

    _, audit = vocabulary_rebuild(
        docs_incr_corpus(spark, sf_dir), docs_incr_batch(spark, sf_dir)
    )
    return audit


@query("incremental_prepare_stream")
def incremental_prepare_stream_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming parity for the corpus-prepare ingest tick: the batch
    arrives as two id-ordered parquet files consumed one per micro-batch
    (foreachBatch against KEYED-APPEND docs/bands/digests/grams state
    under pruned probes + a FROZEN initial-corpus vocabulary,
    streaming/merge.incremental_prepare_stream); the union of
    per-micro-batch decisions must equal the one-shot
    ``incremental_prepare_tick`` — oracle shared.  The id-ordered arrival
    split makes every gate prefix-decomposable (see the operator's
    docstring), so this grade asserts decision/batch-boundary
    independence, not just plumbing."""
    return _run_prepare_stream(spark, sf_dir)


def _run_prepare_stream(
    spark: SparkSession,
    sf_dir: str,
    holdout_mod: int | None = None,
    compact_every: int = 1,
) -> DataFrame:
    """Shared body of the prepare-stream twins: split the incremental
    batch feed into two id-ordered arrival files and run them through
    ``incremental_prepare_stream``.

    Setup amortization: the stream's INITIAL state
    (four batch=-1 keyed-append tables + frozen vocab + holdout
    shingles) is a pure function of the corpus, so it is produced ONCE
    per corpus version in a content-tagged scratch root shared with the
    stored tick (``_prepare_state_root``), and each run COPIES the pristine
    directory into its own state_dir (the stream mutates state:
    per-batch appends + compaction, so runs can't share one live copy).
    The copy is I/O-bounded (~state size) vs ~40 s of corpus-scale
    Spark recompute per graded call; decisions are unchanged because
    the copied state is bit-identical to what the setup built."""
    import os
    import shutil
    import tempfile

    from mistocksync_spark.plans.feeds import docs_incr_batch
    from mistocksync_spark.streaming.merge import (
        incremental_prepare_stream,
        stage_arrivals,
    )

    work = tempfile.mkdtemp(prefix="incr_prep_stream_")
    state_dir = os.path.join(work, "state")
    shutil.copytree(_prepare_state_root(spark, sf_dir), state_dir)
    os.remove(os.path.join(state_dir, "_STATE_READY"))
    batch = docs_incr_batch(spark, sf_dir).localCheckpoint(eager=False)
    # id-ordered halves split at the OBSERVED median (hardcoded cuts
    # silently dropped arrivals whenever the corpus's id offsets moved);
    # <=cut / >cut is a partition of the batch, so no row can fall
    # outside the two micro-batches
    cut = batch.agg(F.expr("percentile(doc_id, 0.5)").alias("c")).collect()[0].c
    arrivals = stage_arrivals(
        batch,
        [F.col("doc_id") <= cut, F.col("doc_id") > cut],
        os.path.join(work, "arrivals"),
    )
    return incremental_prepare_stream(
        spark,
        None,  # state primed above (produce-once root, pristine copy)
        arrivals,
        state_dir,
        os.path.join(work, "ckpt"),
        holdout_mod=holdout_mod,
        compact_every=compact_every,
    )


ORACLES["incremental_prepare_stream"] = ORACLES["incremental_prepare_tick"]


def _sql_tombstone_purge() -> str:
    return (
        _docs_cte()
        + r"""
    , keepmin AS (
        SELECT md5(text) AS digest, MIN(doc_id) AS keeper
        FROM docs GROUP BY md5(text)
    )
    , rem AS (
        SELECT doc_id, text FROM docs
        WHERE NOT (doc_id % 50 = 0 AND doc_id < 1000000)
    )
    , g AS ("""
        + _sql_gopher(src="(SELECT doc_id, text FROM rem)")
        + r""")
    , ctok AS (
        SELECT token FROM (
            SELECT unnest(regexp_split_to_array(lower(text), '\s+')) AS token
            FROM docs
        ) WHERE token <> ''
    )
    , cfreq AS (SELECT token, COUNT(*) AS cnt FROM ctok GROUP BY token)
    , ctot AS (SELECT SUM(cnt) AS t FROM cfreq)
    , vf AS (SELECT token FROM cfreq, ctot WHERE cnt >= ceil(t * 0.0001))
    , btok AS (
        SELECT doc_id, token FROM (
            SELECT doc_id,
                   unnest(regexp_split_to_array(lower(text), '\s+')) AS token
            FROM rem
        ) WHERE token <> ''
    )
    , bscore AS (
        SELECT t.doc_id, COUNT(*) AS nt, COUNT(v.token) AS niv
        FROM btok t LEFT JOIN vf v USING (token)
        GROUP BY t.doc_id
    )
    SELECT r.doc_id,
           CASE WHEN k.keeper <> r.doc_id THEN 'exact_dup'
                WHEN g.pass_gopher = 0 THEN 'gopher'
                WHEN 2 * s.niv < s.nt THEN 'rare_tokens'
                ELSE 'ok' END AS reason
    FROM rem r
    JOIN keepmin k ON k.digest = md5(r.text)
    JOIN g ON g.doc_id = r.doc_id
    LEFT JOIN bscore s ON s.doc_id = r.doc_id
"""
    )


def _build_tombstone_purge_store(spark: SparkSession, sf_dir: str, root: str) -> None:
    """Produce-once builder for the docs-side pre-purge standing store
    (docs + digest keepers + frozen original-corpus vocabulary) — shared
    by ``tombstone_purge_emission`` and ``purge_remediation_emission``.
    Eager checkpoint (one materialization of the shared
    corpus), then the three independent store builds overlap."""
    import os

    from mistocksync_spark.operators.textual import corpus_vocabulary
    from mistocksync_spark.plans.feeds import docs_aug
    from mistocksync_spark.sinks.layout import keyed_state_append, parallel_actions

    docs = docs_aug(spark, sf_dir).select("doc_id", "text").localCheckpoint()
    parallel_actions(
        lambda: keyed_state_append(
            docs, os.path.join(root, "docs"), ["doc_id"], batch_id=-1
        ),
        lambda: keyed_state_append(
            docs.select(F.md5("text").alias("digest"), "doc_id")
            .groupBy("digest")
            .agg(F.min("doc_id").alias("keeper")),
            os.path.join(root, "digest_keepers"),
            ["digest"],
        ),
        # frozen ORIGINAL-corpus vocabulary (pure function of the corpus)
        lambda: corpus_vocabulary(docs)
        .write.mode("overwrite")
        .parquet(os.path.join(root, "vocab")),
    )


@query("tombstone_purge_emission", _sql_tombstone_purge())
def tombstone_purge_emission_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten, graded END TO END (the governance
    tick a production training-data pipeline needs): tombstone the
    doc_id % 50 == 0 original docs, PHYSICALLY purge them from the
    bucketed docs store (``sinks/layout.purge_keyed_state`` — a partial
    rewrite of only the buckets the purged ids hash to, never the whole
    table), then emit decisions for the REMAINING corpus read back from
    the purged store:

    - ``exact_dup`` still fires for surviving COPIES of purged docs —
      the digest-keeper table is dedup MEMORY, deliberately not purged
      (deleted content must stay un-trainable even when it re-arrives
      from another source), so the keeper id may reference a doc that no
      longer physically exists;
    - ``gopher`` / ``rare_tokens`` run on the remaining text, scored
      against the FROZEN original-corpus vocabulary (aggregate token
      statistics; per-content remediation happens on the graded
      ``prepare_vocab_rebuild`` tick, the documented lifecycle path).

    The oracle replays the purge as a WHERE-clause exclusion over the
    same augmented feed — so a purge that leaves tombstoned rows behind,
    drops innocent buckets, or corrupts survivors hash-fails here.  The
    physical pruning contract (untouched buckets' files not rewritten)
    is pinned separately by tests/test_layout.py.

    Setup amortization (the ``_run_prepare_stream`` pattern): the
    PRE-purge store (docs + digest keepers + the frozen original-corpus
    vocabulary) is a pure function of the corpus — in production it is
    the standing table a deletion request arrives AGAINST — so it is
    produced once per corpus version in a content-tagged scratch root
    and copied pristine per run; the graded work (physical purge of the
    copy + emission from the purged files) runs in full every call."""
    import hashlib
    import os
    import shutil
    import tempfile

    from mistocksync_spark.operators.textual import corpus_vocabulary, gopher_rules
    from mistocksync_spark.plans.feeds import docs_aug
    from mistocksync_spark.sinks.layout import (
        keyed_state_append,
        keyed_state_read,
        parallel_actions,
        purge_keyed_state,
    )

    tag = _parquet_content_tag(f"{sf_dir}/documents.parquet")
    root = _produce_once_root(
        "/tmp/spark_graft_purge_store",
        "tombstone_purge_store",
        sf_dir,
        tag,
        lambda r: _build_tombstone_purge_store(spark, sf_dir, r),
    )
    work = tempfile.mkdtemp(prefix="tombstone_purge_")
    shutil.rmtree(work)
    shutil.copytree(root, work)
    os.remove(os.path.join(work, "_STATE_READY"))
    p_docs = os.path.join(work, "docs")
    p_dig = os.path.join(work, "digest_keepers")
    # the deletion request, derived from the standing store's own rows
    # (identical id set to the old feed-side filter)
    tomb = (
        keyed_state_read(spark, p_docs)
        .filter((F.col("doc_id") % 50 == 0) & (F.col("doc_id") < 1000000))
        .select("doc_id")
    )
    purge_keyed_state(spark, p_docs, tomb, ["doc_id"])

    remaining = keyed_state_read(spark, p_docs).localCheckpoint(eager=False)
    dig = keyed_state_read(spark, p_dig)
    g = gopher_rules(remaining).select("doc_id", "pass_gopher")
    vocab = spark.read.parquet(os.path.join(work, "vocab"))
    btok = remaining.select(
        "doc_id", F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("token")
    ).filter(F.col("token") != "")
    score = (
        btok.join(F.broadcast(vocab.withColumn("__v", F.lit(1))), on="token", how="left")
        .groupBy("doc_id")
        .agg(F.count("*").alias("__nt"), F.count("__v").alias("__niv"))
    )
    return (
        remaining.select("doc_id", F.md5("text").alias("digest"))
        .join(dig, on="digest")
        .join(g, on="doc_id")
        .join(score, on="doc_id", how="left")
        .select(
            "doc_id",
            F.when(F.col("keeper") != F.col("doc_id"), F.lit("exact_dup"))
            .when(F.col("pass_gopher") == 0, F.lit("gopher"))
            .when(2 * F.col("__niv") < F.col("__nt"), F.lit("rare_tokens"))
            .otherwise(F.lit("ok"))
            .alias("reason"),
        )
    )


@query("incremental_prepare_stream_v3")
def incremental_prepare_stream_v3_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming parity for the v3 (emission-gate) prepare tick: the same
    two id-ordered micro-batches, with the decontamination gate probing
    the FROZEN ``holdout_shingle_state`` written once beside the vocab —
    the holdout freeze is exactly what makes the 'contaminated' verdict
    prefix-decomposable, so the union of per-micro-batch decisions must
    equal the one-shot v3 tick bit-for-bit — oracle shared with
    ``incremental_prepare_tick_v3``.  With this entry every v3 shape is
    graded: self-contained (semantic definition), stored (pruned-probe
    production tick), and streaming (continuous ingest).  The in-stream
    compaction cadence is exercised (and its cost benched) on the v1
    stream entry; the v3 twin runs cadence-off over the IDENTICAL state
    shape rather than paying the same compaction twice in the bench."""
    return _run_prepare_stream(spark, sf_dir, holdout_mod=50, compact_every=0)


ORACLES["incremental_prepare_stream_v3"] = ORACLES["incremental_prepare_tick_v3"]


def _sql_vector_purge() -> str:
    """Oracle for vector_purge_emission — the WHERE-exclusion replay of the
    embedding-store purge: exact all-pairs cosine over (remaining corpus ∪
    batch), with the tombstoned corpus vectors excluded everywhere.  Same
    fixture-dependent parity as ``incremental_embedding_dedup`` (the feed
    plants sign-identical copies, which share IVF cells by construction;
    the natural corpus has no cos >= 0.99 pair)."""
    from mistocksync_spark.plans.feeds import EMB_INCR_CTE_DUCKDB

    return (
        EMB_INCR_CTE_DUCKDB
        + f"""
    , emb2 AS (
        SELECT * FROM emb WHERE NOT (is_batch = 0 AND vec_id % 40 = 0)
    )
    , withn AS (
        SELECT vec_id, embedding, is_batch,
               {_SQL_NORM.format(a='embedding')} AS nrm
        FROM emb2
    )
    , rejected AS (
        SELECT DISTINCT l.vec_id
        FROM withn l JOIN withn e
          ON l.is_batch = 1 AND (e.is_batch = 0 OR e.vec_id < l.vec_id)
        WHERE CASE WHEN e.nrm * l.nrm > 0
              THEN {_SQL_DOT_VAR.format(a='e.embedding', b='l.embedding')} / (e.nrm * l.nrm)
              ELSE 0.0 END >= 0.99
    )
    SELECT vec_id, 'corpus' AS origin FROM emb2 WHERE is_batch = 0
    UNION ALL
    SELECT vec_id, 'batch' AS origin FROM emb2
    WHERE is_batch = 1 AND vec_id NOT IN (SELECT vec_id FROM rejected)
"""
    )


@query("vector_purge_emission", _sql_vector_purge())
def vector_purge_emission_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten for the VECTOR store, graded end to end
    (the embedding twin of ``tombstone_purge_emission``): embeddings of deleted documents are DERIVED
    personal data under the same purge obligation as the text itself.

    Tombstone the ``vec_id % 40 == 0`` corpus vectors and physically
    purge BOTH embedding state tables built by the ingest stack
    (streaming/merge.incremental_embedding_dedup_stream's layout):

    - ``vecs`` (keyed/bucketed on vec_id) — a direct key purge;
    - ``cells`` (the IVF inverted table, keyed/bucketed on CENTROID) —
      purged via ``match_cols``: the tombstoned vectors' own
      deterministic cell assignments supply the touched centroid buckets
      (lossless — a cells row for a tombstoned id can only live in one
      of its n_assign assigned cells), and the per-leaf anti-join
      deletes on vec_id, so innocent rows sharing a centroid survive.

    Both purges are partial rewrites of only the touched buckets
    (untouched-file byte-identity pinned by tests/test_layout.py).

    GOVERNANCE RULE — opposite of the docs store's digest-keeper memory,
    documented here deliberately: the embedding tables keep NO memory of
    purged vectors (band/cell entries are derived from the vector values
    and are exactly the data the deletion request covers), so a
    re-arriving COPY of a purged vector is ACCEPTED.  The emission below
    makes that observable and graded: the IVF ingest tick runs a batch of
    exact/scaled/negated copies against the PURGED store read back, and
    batch copies of tombstoned vectors flip to accepted — the oracle
    replays the purge as a WHERE exclusion, so an incomplete purge (a
    surviving vecs or cells row still rejecting its copy) hash-fails.
    The frozen quantizer goes stale by design; the graded remediation is
    ``ivf_index_rebuild`` (run post-purge in the SCALE_r16 ladder).

    Setup amortization (the ``_run_prepare_stream`` pattern): the
    PRE-purge embedding store (vecs + cells + the frozen deterministic
    quantizer) is a pure function of the corpus — the standing state a
    deletion request arrives against — so it is produced once per corpus
    version in a content-tagged scratch root and copied pristine per
    run; the graded work (both physical purges of the copy + the ingest
    tick over the purged store) runs in full every call."""
    import hashlib
    import json as _json
    import os
    import shutil
    import tempfile

    from mistocksync_spark.operators.vectors import (
        incremental_embedding_dedup_ivf,
        inferred_dim,
        ivf_assign,
        ivf_train,
    )
    from mistocksync_spark.plans.feeds import emb_incr_batch, emb_incr_corpus
    from mistocksync_spark.sinks.layout import (
        keyed_state_append,
        keyed_state_read,
        parallel_actions,
        purge_keyed_state,
        touched_buckets,
    )

    tag = _parquet_content_tag(f"{sf_dir}/embeddings.parquet")

    def _build(r: str) -> None:
        corpus = emb_incr_corpus(spark, sf_dir).localCheckpoint(eager=False)
        dim = inferred_dim(corpus, "embedding")
        n_cells = max(16, corpus.count() // 200)
        cents = ivf_train(corpus, n_centroids=n_cells, iterations=2)
        # two independent table builds over the already-
        # materialized corpus checkpoint — overlap them
        parallel_actions(
            lambda: keyed_state_append(
                corpus.select(
                    "vec_id",
                    F.col("embedding").cast("array<double>").alias("embedding"),
                ),
                os.path.join(r, "vecs"),
                ["vec_id"],
                batch_id=-1,
            ),
            lambda: keyed_state_append(
                ivf_assign(corpus, cents, n_assign=2),
                os.path.join(r, "cells"),
                ["centroid"],
                batch_id=-1,
            ),
        )
        with open(os.path.join(r, "_quantizer.json"), "w") as qf:
            _json.dump({"centroids": cents, "dim": dim}, qf)

    root = _produce_once_root(
        "/tmp/spark_graft_vec_purge_store",
        "vector_purge_store",
        sf_dir,
        tag,
        _build,
    )
    with open(os.path.join(root, "_quantizer.json")) as qf:
        q = _json.load(qf)
    cents, dim = q["centroids"], q["dim"]
    work = tempfile.mkdtemp(prefix="vector_purge_")
    shutil.rmtree(work)
    shutil.copytree(root, work)
    os.remove(os.path.join(work, "_STATE_READY"))
    os.remove(os.path.join(work, "_quantizer.json"))
    p_vecs = os.path.join(work, "vecs")
    p_cells = os.path.join(work, "cells")

    # the deletion request, derived from the standing store's own rows
    # (identical id/vector set to the old feed-side filter — the store
    # holds the exact widened corpus vectors).  EAGER checkpoint: the
    # request must be materialized BEFORE the vecs purge rewrites the
    # very files it derives from (the cells purge re-reads it after)
    tomb = (
        keyed_state_read(spark, p_vecs)
        .filter(F.col("vec_id") % 40 == 0)
        .localCheckpoint()
    )
    # the two purges are independent jobs on distinct
    # tables (the request is eagerly checkpointed above, so neither purge
    # reads files the other rewrites) — overlap them
    parallel_actions(
        lambda: purge_keyed_state(spark, p_vecs, tomb.select("vec_id"), ["vec_id"]),
        lambda: purge_keyed_state(
            spark,
            p_cells,
            ivf_assign(tomb, cents, n_assign=2),
            ["centroid"],
            match_cols=["vec_id"],
        ),
    )

    # emission over the purged store: the production ingest tick, reads
    # pruned exactly as the stream runs them
    batch = (
        emb_incr_batch(spark, sf_dir)
        .select(
            "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
        )
        .localCheckpoint(eager=False)
    )
    bcells = ivf_assign(batch, cents, n_assign=2)
    cells = keyed_state_read(
        spark, p_cells, touched_buckets(bcells, ["centroid"])
    )

    def fetch_vecs(c_ids):
        return keyed_state_read(spark, p_vecs, touched_buckets(c_ids, ["vec_id"]))

    rejected = incremental_embedding_dedup_ivf(
        None,
        batch,
        cents,
        dim=dim,
        corpus_cells=cells,
        return_rejected=True,
        corpus_fetch=fetch_vecs,
    )
    return (
        keyed_state_read(spark, p_vecs)
        .select("vec_id", F.lit("corpus").alias("origin"))
        .unionByName(
            batch.join(F.broadcast(rejected), on="vec_id", how="left_anti").select(
                "vec_id", F.lit("batch").alias("origin")
            )
        )
    )


@query(
    "prepare_holdout_rebuild",
    _incr_docs_cte()
    + _SQL_SHINGLES
    + r"""
    , hf AS (
        SELECT DISTINCT s.shingle
        FROM sh s JOIN docs d ON d.doc_id = s.doc_id
        WHERE d.is_batch = 0 AND d.doc_id % 50 = 0
    )
    , hr AS (
        SELECT DISTINCT s.shingle
        FROM sh s JOIN docs d ON d.doc_id = s.doc_id
        WHERE d.doc_id % 50 = 0
    )
    , tj AS (
        SELECT f.shingle AS fs, r.shingle AS rs
        FROM hf f FULL OUTER JOIN hr r ON f.shingle = r.shingle
    )
    , vc AS (
        SELECT COUNT(fs) AS n_frozen, COUNT(rs) AS n_rebuilt,
               COUNT(*) FILTER (WHERE fs IS NULL) AS n_added,
               COUNT(*) FILTER (WHERE rs IS NULL) AS n_removed
        FROM tj
    )
    , scored AS (
        SELECT doc_id FROM docs WHERE is_batch = 1 AND doc_id % 50 <> 0
    )
    , hits AS (
        SELECT s.doc_id,
               COUNT(DISTINCT CASE WHEN f.shingle IS NOT NULL
                                   THEN s.shingle END) AS nf,
               COUNT(DISTINCT CASE WHEN r.shingle IS NOT NULL
                                   THEN s.shingle END) AS nr
        FROM sh s
        JOIN scored sc ON sc.doc_id = s.doc_id
        LEFT JOIN hf f ON f.shingle = s.shingle
        LEFT JOIN hr r ON r.shingle = s.shingle
        GROUP BY s.doc_id
    )
    , dd AS (
        SELECT COUNT(*) AS n_scored,
               COALESCE(SUM(CASE WHEN
                   (CASE WHEN COALESCE(h.nf, 0) >= 2 THEN 1 ELSE 0 END)
                   <> (CASE WHEN COALESCE(h.nr, 0) >= 2 THEN 1 ELSE 0 END)
                   THEN 1 ELSE 0 END), 0) AS ndb
        FROM scored sc LEFT JOIN hits h ON h.doc_id = sc.doc_id
    )
    SELECT CAST(vc.n_frozen AS BIGINT) AS n_frozen,
           CAST(vc.n_rebuilt AS BIGINT) AS n_rebuilt,
           CAST(vc.n_added AS BIGINT) AS n_added,
           CAST(vc.n_removed AS BIGINT) AS n_removed,
           CAST(dd.n_scored AS BIGINT) AS n_scored,
           CAST(dd.ndb AS BIGINT) AS n_disagree_before,
           CASE WHEN dd.n_scored > 0
                THEN round(CAST(dd.ndb AS DOUBLE) / dd.n_scored, 6)
           END AS drift_before,
           -- rebuilt-vs-independently-rebuilt disagreement is identically
           -- zero in SQL; the Spark side derives BOTH holdout states and
           -- must EARN the 0 (a non-canonical rebuild hash-fails)
           CAST(0 AS BIGINT) AS n_disagree_after
    FROM vc, dd
""",
)
def prepare_holdout_rebuild_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The holdout VERSION-BUMP tick (operators/dedup.holdout_rebuild,
    the third aggregate-artifact lifecycle): ``holdout_shingle_state`` is frozen per corpus version;
    this is the tick that bumps the version — re-derive the eval slice
    and its shingle set over corpus + arrivals, re-freeze, and audit in
    one row: shingle churn, the pre-rebuild contaminated-verdict drift
    over non-holdout arrivals, and the post-rebuild disagreement, pinned
    to 0 by the oracle.  The decision-flip evidence at scale lives in
    the SCALE_r16 ladder (--holdout-rebuild-at)."""
    from mistocksync_spark.operators.dedup import holdout_rebuild
    from mistocksync_spark.plans.feeds import docs_incr_batch, docs_incr_corpus

    _, audit = holdout_rebuild(
        docs_incr_corpus(spark, sf_dir), docs_incr_batch(spark, sf_dir)
    )
    return audit


def _sql_purge_remediation() -> str:
    return (
        _docs_cte()
        + r"""
    , keepmin AS (
        SELECT md5(text) AS digest, MIN(doc_id) AS keeper
        FROM docs GROUP BY md5(text)
    )
    , rem AS (
        SELECT doc_id, text FROM docs
        WHERE NOT (doc_id % 50 = 0 AND doc_id < 1000000)
    )
    , g AS ("""
        + _sql_gopher(src="(SELECT doc_id, text FROM rem)")
        + r""")
    , rtok AS (
        SELECT token FROM (
            SELECT unnest(regexp_split_to_array(lower(text), '\s+')) AS token
            FROM rem
        ) WHERE token <> ''
    )
    , rfreq AS (SELECT token, COUNT(*) AS cnt FROM rtok GROUP BY token)
    , rtot AS (SELECT SUM(cnt) AS t FROM rfreq)
    , vr AS (SELECT token FROM rfreq, rtot WHERE cnt >= ceil(t * 0.0001))
    , btok AS (
        SELECT doc_id, token FROM (
            SELECT doc_id,
                   unnest(regexp_split_to_array(lower(text), '\s+')) AS token
            FROM rem
        ) WHERE token <> ''
    )
    , bscore AS (
        SELECT t.doc_id, COUNT(*) AS nt, COUNT(v.token) AS niv
        FROM btok t LEFT JOIN vr v USING (token)
        GROUP BY t.doc_id
    )
    , dec AS (
        SELECT r.doc_id, r.text,
               CASE WHEN k.keeper <> r.doc_id THEN 'exact_dup'
                    WHEN g.pass_gopher = 0 THEN 'gopher'
                    WHEN 2 * s.niv < s.nt THEN 'rare_tokens'
                    ELSE 'ok' END AS reason
        FROM rem r
        JOIN keepmin k ON k.digest = md5(r.text)
        JOIN g ON g.doc_id = r.doc_id
        LEFT JOIN bscore s ON s.doc_id = r.doc_id
    )
    , d AS (
        SELECT doc_id, doc_id % 8 AS stratum, """
        + _SQL_NTOK
        + r""" AS n_tokens
        FROM dec WHERE reason = 'ok'
    )
    , c AS (
        SELECT doc_id, stratum, n_tokens,
               CAST(COALESCE(SUM(n_tokens) OVER (
                   PARTITION BY stratum ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS before
        FROM d
    )
    , p AS (
        SELECT stratum, CAST(FLOOR(before / 512) AS BIGINT) AS pack_id,
               n_tokens
        FROM c
    )
    SELECT stratum AS cluster, pack_id,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
           'pack_bucket=' || CAST((stratum * 1000000 + pack_id) % 16 AS STRING)
               AS file
    FROM p
    GROUP BY stratum, pack_id
"""
    )


@query("purge_remediation_emission", _sql_purge_remediation())
def purge_remediation_emission_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The governance COMPOSITION, graded end to end (the halves are
    graded separately as well):
    purge → rebuild → re-emit, in one entry whose final artifact only
    hash-matches if every stage held.

    1. PURGE: tombstone the doc_id % 50 == 0 originals and physically
       purge them from the bucketed docs store
       (``tombstone_purge_emission``'s partial-rewrite contract);
    2. REBUILD: re-derive the vocabulary over the PURGED corpus — the
       remediation the tombstone entry's docstring defers to
       (``prepare_vocab_rebuild``'s canonical-rebuild rule: this entry
       derives TWO independent rebuilds and raises unless their token
       sets agree exactly, the drift-returns-to-0 gate run inline);
    3. RE-EMIT: decide the remaining corpus (digest-keeper memory →
       gopher → rare_tokens vs the REBUILT vocabulary), pack the 'ok'
       docs (concat-then-chunk, stratum = doc_id % 8, 512-token
       windows), physically write the pack-bucket layout, and return
       the manifest derived by READING BACK the emitted files.

    The oracle replays the whole composition in SQL — the purge as a
    WHERE exclusion, the rebuild as the post-purge vocabulary, the
    emission as the packing window over the surviving 'ok' docs — so a
    purge that leaves tombstoned rows behind, a non-canonical rebuild
    (different 'ok' set), or a mis-routed pack write all hash-fail on
    the SAME manifest.  Copies of purged docs stay excluded from packs
    (digest-keeper memory), which is the composition's own proof that
    deleted content cannot re-enter the training artifact.

    Setup amortization: the PRE-purge store (docs + digest
    keepers) is shared with ``tombstone_purge_emission`` via the same
    content-tagged produce-once root (one standing table, two graded
    ticks over it); every composition stage — purge, canonical double
    rebuild, decisions, physical pack write, manifest read-back — runs
    in full every call on the per-run copy."""
    import hashlib
    import os
    import shutil
    import tempfile

    from mistocksync_spark.operators.textual import (
        corpus_vocabulary,
        gopher_rules,
        pack_documents,
        token_count,
    )
    from mistocksync_spark.plans.feeds import docs_aug
    from mistocksync_spark.sinks.layout import (
        keyed_state_append,
        keyed_state_read,
        pack_emission_manifest,
        pack_emission_write,
        parallel_actions,
        purge_keyed_state,
    )

    tag = _parquet_content_tag(f"{sf_dir}/documents.parquet")
    # same shared root (and builder) as the tombstone twin
    root = _produce_once_root(
        "/tmp/spark_graft_purge_store",
        "tombstone_purge_store",
        sf_dir,
        tag,
        lambda r: _build_tombstone_purge_store(spark, sf_dir, r),
    )
    work = tempfile.mkdtemp(prefix="purge_remediation_")
    shutil.rmtree(work)
    shutil.copytree(root, work)
    os.remove(os.path.join(work, "_STATE_READY"))
    shutil.rmtree(os.path.join(work, "vocab"))  # rebuilt post-purge here
    p_docs = os.path.join(work, "docs")
    p_dig = os.path.join(work, "digest_keepers")
    tomb = (
        keyed_state_read(spark, p_docs)
        .filter((F.col("doc_id") % 50 == 0) & (F.col("doc_id") < 1000000))
        .select("doc_id")
    )
    purge_keyed_state(spark, p_docs, tomb, ["doc_id"])
    remaining = keyed_state_read(spark, p_docs).localCheckpoint(eager=False)

    # rebuild tick over the purged corpus, canonical-rebuild gate inline:
    # two independent derivations must agree exactly (drift back to 0)
    vr = corpus_vocabulary(remaining).localCheckpoint(eager=False)
    vr2 = corpus_vocabulary(remaining).localCheckpoint(eager=False)
    n_diff = (
        vr.withColumn("__a", F.lit(1))
        .join(vr2.select("token", F.lit(1).alias("__b")), "token", "full_outer")
        .filter(F.col("__a").isNull() | F.col("__b").isNull())
        .count()
    )
    if n_diff != 0:
        raise ValueError(
            f"post-purge vocabulary rebuild is non-canonical: {n_diff} "
            "token-set disagreements between independent derivations"
        )

    dig = keyed_state_read(spark, p_dig)
    g = gopher_rules(remaining).select("doc_id", "pass_gopher")
    btok = remaining.select(
        "doc_id", F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("token")
    ).filter(F.col("token") != "")
    score = (
        btok.join(F.broadcast(vr.withColumn("__v", F.lit(1))), on="token", how="left")
        .groupBy("doc_id")
        .agg(F.count("*").alias("__nt"), F.count("__v").alias("__niv"))
    )
    dec = (
        remaining.select("doc_id", "text", F.md5("text").alias("digest"))
        .join(dig, on="digest")
        .join(g, on="doc_id")
        .join(score, on="doc_id", how="left")
        .select(
            "doc_id",
            "text",
            F.when(F.col("keeper") != F.col("doc_id"), F.lit("exact_dup"))
            .when(F.col("pass_gopher") == 0, F.lit("gopher"))
            .when(2 * F.col("__niv") < F.col("__nt"), F.lit("rare_tokens"))
            .otherwise(F.lit("ok"))
            .alias("reason"),
        )
    )
    ok = dec.filter(F.col("reason") == "ok").select(
        "doc_id",
        F.pmod(F.col("doc_id"), F.lit(8)).alias("stratum"),
        token_count(F.col("text")).alias("n_tokens"),
    )
    packed = pack_documents(
        ok, seq_len=512, token_count_col="n_tokens", stratum_col="stratum"
    ).withColumnRenamed("stratum", "cluster")
    path = pack_emission_write(packed, os.path.join(work, "packs"))
    return pack_emission_manifest(spark, path)
