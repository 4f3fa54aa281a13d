"""Deterministic supplier/base-shaped feeds derived from the star-schema
``part`` table.

The reference's inputs are Excel price lists (vitya/dimi shapes) and a
master base workbook (FIXTURES.md).  The driver's testdata is a TPC-H-ish
star schema, so we synthesize those shapes from ``part`` with **pure SQL
that parses identically in Spark SQL and DuckDB** — the exact same text is
used to build the Spark DataFrame inputs and as a CTE inside every DuckDB
oracle, guaranteeing input parity so the oracle checks test *operator*
semantics, not data generation.

Dialect-portability rules used here: ``||`` for concat (null-propagating in
both), ``CAST(x AS STRING)``, ``floor`` (double in both), integer ``%``,
``lpad``, CASE.  Doubles are derived via ``floor(x*100)`` cent arithmetic so
both engines compute bit-identical values (no round-half differences).
"""

# Vitya-shaped supplier price list.  Columns mirror FIXTURES.md §2:
#  - article_raw exercises the C2 cleaner ('-prefix, 000-prefix, digit-run
#    concatenation AB..C.. → concatenated digits)
#  - names exercise C3/C4/C5/C6 (bracket codes, brands, dashed codes,
#    letter-digit codes, capacities) per FIXTURES.md §4
#  - price_usd has NULL (pk%11=0) and 0.0 (pk%13=0) rows for F1
#  - balance has the availability vocabulary incl NULL rows for F2/F3
SUPPLIER_FEED_SQL = """
SELECT
  p_partkey AS row_id,
  CASE WHEN p_partkey % 10 = 7 THEN p_partkey + 1000000 ELSE p_partkey END AS article_num,
  CASE
    WHEN p_partkey % 4 = 0 THEN '''' || CAST(CASE WHEN p_partkey % 10 = 7 THEN p_partkey + 1000000 ELSE p_partkey END AS STRING)
    WHEN p_partkey % 4 = 1 THEN '000' || CAST(CASE WHEN p_partkey % 10 = 7 THEN p_partkey + 1000000 ELSE p_partkey END AS STRING)
    WHEN p_partkey % 4 = 2 THEN 'AB' || CAST(CASE WHEN p_partkey % 10 = 7 THEN p_partkey + 1000000 ELSE p_partkey END AS STRING) || 'C' || CAST(p_partkey % 97 AS STRING)
    ELSE CAST(CASE WHEN p_partkey % 10 = 7 THEN p_partkey + 1000000 ELSE p_partkey END AS STRING)
  END AS article_raw,
  CASE
    WHEN p_partkey % 4 = 0 THEN '''' || 'XM-' || CAST(p_partkey AS STRING)
    WHEN p_partkey % 4 = 1 THEN '000XM-' || CAST(p_partkey AS STRING)
    ELSE 'XM-' || CAST(p_partkey AS STRING)
  END AS article_raw_dimi,
  CASE p_partkey % 6
    WHEN 0 THEN 'Power Bank XIAOMI ' || CAST(5000 + (p_partkey % 20) * 1000 AS STRING) || 'mah 100w'
    WHEN 1 THEN 'Кабель Type-C (P' || CAST(p_partkey % 100 AS STRING) || 'QDA-RGP) черный'
    WHEN 2 THEN 'Зарядка SAMSUNG ' || CAST(10000 + (p_partkey % 10) * 5000 AS STRING) || ' mAh (EU)'
    WHEN 3 THEN 'Адаптер AC-M' || CAST(p_partkey % 50 AS STRING) || '-SC белый'
    WHEN 4 THEN 'Наушники MJKDDYJ' || lpad(CAST(p_partkey % 90 AS STRING), 2, '0') || 'HT'
    ELSE 'Чехол basic ' || p_name
  END AS name,
  CASE p_partkey % 5
    WHEN 0 THEN 'Black' WHEN 1 THEN 'White' WHEN 2 THEN '  RED  '
    WHEN 3 THEN NULL ELSE 'nan'
  END AS color,
  CASE
    WHEN p_partkey % 11 = 0 THEN NULL
    WHEN p_partkey % 13 = 0 THEN 0.0
    ELSE (floor(p_retailprice * 100) * CAST(100 + ((p_partkey % 9) - 4) * 7 AS DOUBLE)) / 10000.0
  END AS price_usd,
  CASE p_partkey % 7
    WHEN 0 THEN 'Имеются в нал.' WHEN 1 THEN 'Распродажа'
    WHEN 2 THEN 'Ожидается' WHEN 3 THEN 'Нет в наличии' ELSE NULL
  END AS balance,
  CASE
    WHEN p_partkey % 17 = 3 THEN 'Ожидается'
    WHEN p_partkey % 17 = 5 THEN 'В наличии' ELSE NULL
  END AS balance1
FROM part
"""

# Base-shaped master table (FIXTURES.md §1).  article_vitya covers most
# supplier articles (missing for pk%10 in (3,7) → those become new items);
# price_vitya_usd includes 0.0 and NULL rows; dup_key feeds the A1 audit.
BASE_FEED_SQL = """
SELECT
  p_partkey AS row_id,
  p_partkey AS article,
  CASE (p_partkey + 2) % 6
    WHEN 0 THEN 'Power Bank XIAOMI ' || CAST(5000 + (p_partkey % 20) * 1000 AS STRING) || 'mah 100w'
    WHEN 1 THEN 'Кабель Type-C (P' || CAST(p_partkey % 100 AS STRING) || 'QDA-RGP) черный'
    WHEN 2 THEN 'Зарядка SAMSUNG ' || CAST(10000 + (p_partkey % 10) * 5000 AS STRING) || ' mAh (EU)'
    WHEN 3 THEN 'Адаптер AC-M' || CAST(p_partkey % 50 AS STRING) || '-SC белый'
    WHEN 4 THEN 'Наушники MJKDDYJ' || lpad(CAST(p_partkey % 90 AS STRING), 2, '0') || 'HT'
    ELSE 'Чехол basic ' || p_name
  END AS name,
  CASE p_partkey % 7
    WHEN 0 THEN 'black' WHEN 1 THEN 'White' WHEN 2 THEN 'blue'
    WHEN 3 THEN NULL ELSE 'Green'
  END AS color,
  CAST(floor(p_retailprice * 100) / 100.0 AS DOUBLE) AS price,
  CASE WHEN p_partkey % 10 IN (3, 7) THEN NULL ELSE p_partkey END AS article_vitya,
  CASE
    WHEN p_partkey % 10 IN (3, 7) THEN NULL
    WHEN p_partkey % 20 = 0 THEN 0.0
    WHEN p_partkey % 19 = 0 THEN NULL
    ELSE CAST(floor(p_retailprice * 100) / 100.0 AS DOUBLE)
  END AS price_vitya_usd,
  CASE WHEN p_partkey % 3 = 0 THEN 'XM-' || CAST(p_partkey AS STRING) ELSE NULL END AS article_dimi,
  CASE WHEN p_partkey % 3 = 0 THEN CAST(floor(p_retailprice * 95) / 100.0 AS DOUBLE) ELSE NULL END AS price_dimi_usd,
  CASE WHEN p_partkey % 4 = 0 THEN p_partkey + 5000000 ELSE NULL END AS article_mila,
  CASE
    WHEN p_partkey % 4 = 0 AND p_partkey % 8 = 0 THEN CAST(floor(p_retailprice * 90) / 100.0 AS DOUBLE)
    WHEN p_partkey % 4 = 0 THEN 0.0 ELSE NULL
  END AS price_mila_usd,
  p_partkey % 700 AS dup_key
FROM part
"""


# Documents corpus augmented with deterministic near- and exact duplicates
# so the dedup operators have positives to find (the raw driver corpus is
# 500 unique word-soup docs).
DOCS_AUG_SQL = """
SELECT doc_id, text FROM documents
UNION ALL
SELECT doc_id + 1000000 AS doc_id, text || ' почти дубликат хвост' AS text
FROM documents WHERE doc_id % 10 = 0
UNION ALL
SELECT doc_id + 2000000 AS doc_id, text FROM documents WHERE doc_id % 25 = 0
"""


def docs_aug(spark, sf_dir: str):
    import os

    spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).createOrReplaceTempView("documents")
    return spark.sql(DOCS_AUG_SQL)


# Incremental-ingest fixture for the corpus dedup MERGE: the existing
# corpus is the raw documents table; the incoming batch (ids offset above
# 3M so arrival precedence == id order) plants every rejection path —
# near-dup of corpus (%9=0, appended tail), exact copy of corpus (%9=4),
# genuinely fresh docs (%9=1, reversed text shares no shingles), an
# intra-batch near-dup of a fresh arrival (%18=1, the %9=1 text + a tail),
# and a SPAN-dup of corpus (%9=2: the corpus doc's 40% character
# prefix + a unique tail — shares long verbatim substrings, so the
# prepare tick's span gate fires, while 3-word-shingle Jaccard stays
# ~0.4 < 0.5 so the near-dup gate does NOT; prefixes shorter than one
# 30-char gram fall through to the quality gates).
# Pure dialect-portable SQL — the same text builds the Spark input and the
# DuckDB-oracle CTE.
DOCS_INCR_CORPUS_SQL = """
SELECT doc_id, text FROM documents
"""

DOCS_INCR_BATCH_SQL = """
SELECT doc_id + 3000000 AS doc_id, text || ' свежий хвост дубликата' AS text
FROM documents WHERE doc_id % 9 = 0
UNION ALL
SELECT doc_id + 4000000 AS doc_id, text FROM documents WHERE doc_id % 9 = 4
UNION ALL
SELECT doc_id + 5000000 AS doc_id,
  'новый документ номер ' || CAST(doc_id AS STRING) || ' ' || reverse(text) AS text
FROM documents WHERE doc_id % 9 = 1
UNION ALL
SELECT doc_id + 6000000 AS doc_id,
  'новый документ номер ' || CAST(doc_id AS STRING) || ' ' || reverse(text)
    || ' поздняя копия' AS text
FROM documents WHERE doc_id % 18 = 1
UNION ALL
SELECT doc_id + 7000000 AS doc_id,
  substr(text, 1, CAST(floor(length(text) * 0.4) AS INT))
    || ' совершенно новое продолжение номер ' || CAST(doc_id AS STRING) AS text
FROM documents WHERE doc_id % 9 = 2
"""


def docs_incr_corpus(spark, sf_dir: str):
    import os

    spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).createOrReplaceTempView("documents")
    return spark.sql(DOCS_INCR_CORPUS_SQL)


def docs_incr_batch(spark, sf_dir: str):
    import os

    spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).createOrReplaceTempView("documents")
    return spark.sql(DOCS_INCR_BATCH_SQL)


# Documents with deterministic PII planted on every 7th doc (the raw corpus
# is PII-free word soup, so the redaction operator needs positives).  Pure
# dialect-portable SQL — the same text builds the Spark input and the
# DuckDB-oracle CTE.
DOCS_PII_SQL = """
SELECT doc_id,
  CASE WHEN doc_id % 7 = 0
       THEN text || ' contact user' || CAST(doc_id AS STRING)
            || '@example.com or +7 999 123-45-67 from 192.168.1.42'
       ELSE text END AS text,
  lang, source
FROM documents
"""

# Documents with cross-document boilerplate paragraphs planted (newsletter
# header on every 3rd doc, rights footer on 3rd+5th-pattern docs) so the
# C4-style repeated-paragraph detector has positives.
DOCS_PARA_SQL = """
SELECT doc_id,
  CASE
    WHEN doc_id % 3 = 0
      THEN 'subscribe to our newsletter' || chr(10) || text || chr(10) || 'all rights reserved'
    WHEN doc_id % 5 = 1 THEN text || chr(10) || 'all rights reserved'
    ELSE text END AS text,
  lang, source
FROM documents
"""


def docs_pii(spark, sf_dir: str):
    import os

    spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).createOrReplaceTempView("documents")
    return spark.sql(DOCS_PII_SQL)


def docs_para(spark, sf_dir: str):
    import os

    spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).createOrReplaceTempView("documents")
    return spark.sql(DOCS_PARA_SQL)


# Per-(session, sf_dir) feed memo.  The synthetic-quirk projections are huge
# expression trees; without a shared cache every parity query re-derives
# them and projection collapse duplicates them past the JVM 64KB codegen
# method limit (interpreted fallback + a failed janino compile per stage).
# One cached materialization per session sidesteps both.  This is a test-
# fixture concern — the feeds exist only to mirror the DuckDB oracle input.
_FEED_MEMO: dict = {}


def _memo_feed(spark, sf_dir: str, which: str, sql: str):
    import os

    key = (spark, sf_dir, which)
    if key not in _FEED_MEMO:
        spark.read.parquet(os.path.join(sf_dir, "part.parquet")).createOrReplaceTempView("part")
        _FEED_MEMO[key] = spark.sql(sql).cache()
    return _FEED_MEMO[key]


def supplier_feed(spark, sf_dir: str):
    return _memo_feed(spark, sf_dir, "sup", SUPPLIER_FEED_SQL)


def base_feed(spark, sf_dir: str):
    return _memo_feed(spark, sf_dir, "base", BASE_FEED_SQL)


# Embeddings corpus augmented with planted duplicates: exact copies and
# power-of-two-scaled copies (×2 is float-exact, so both engines compute
# bit-identical cosines) — gives the near-dup operators positives to find.
EMB_AUG_SQL_DUCKDB = """
SELECT vec_id, embedding FROM embeddings
UNION ALL
SELECT vec_id + 1000000 AS vec_id, embedding FROM embeddings WHERE vec_id % 20 = 0
UNION ALL
SELECT vec_id + 2000000 AS vec_id, list_transform(embedding, x -> CAST(x AS FLOAT) * 2) AS embedding
FROM embeddings WHERE vec_id % 30 = 0
"""


def emb_aug(spark, sf_dir: str):
    import os

    from pyspark.sql import functions as F

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    exact = emb.filter(F.col("vec_id") % 20 == 0).select(
        (F.col("vec_id") + 1000000).alias("vec_id"), "embedding"
    )
    scaled = emb.filter(F.col("vec_id") % 30 == 0).select(
        (F.col("vec_id") + 2000000).alias("vec_id"),
        F.transform(F.col("embedding"), lambda x: x.cast("float") * 2).alias("embedding"),
    )
    return emb.select("vec_id", "embedding").unionByName(exact).unionByName(scaled)


# Incremental-ingest fixture for the embedding dedup MERGE: corpus = the
# raw vectors; the arriving batch (ids above 1M, so arrival precedence ==
# id order) plants each verdict path — exact copies (%20) and positively
# scaled copies (%30) of corpus vectors (cos = 1 -> rejected vs corpus),
# NEGATED copies (%11=5; cos = -1 with everything corpus-side -> fresh,
# accepted), and a scaled copy of a negated arrival (%22=5; cos = 1 with
# the earlier +3M arrival only -> intra-batch rejection).
def emb_incr_corpus(spark, sf_dir: str):
    import os

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    return emb.select("vec_id", "embedding")


def emb_incr_batch(spark, sf_dir: str):
    import os

    from pyspark.sql import functions as F

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    exact = emb.filter(F.col("vec_id") % 20 == 0).select(
        (F.col("vec_id") + 1000000).alias("vec_id"), "embedding"
    )
    scaled = emb.filter(F.col("vec_id") % 30 == 0).select(
        (F.col("vec_id") + 2000000).alias("vec_id"),
        F.transform(F.col("embedding"), lambda x: x.cast("float") * 2).alias("embedding"),
    )
    negated = emb.filter(F.col("vec_id") % 11 == 5).select(
        (F.col("vec_id") + 3000000).alias("vec_id"),
        F.transform(F.col("embedding"), lambda x: x.cast("float") * -1).alias("embedding"),
    )
    neg_scaled = emb.filter(F.col("vec_id") % 22 == 5).select(
        (F.col("vec_id") + 4000000).alias("vec_id"),
        F.transform(F.col("embedding"), lambda x: x.cast("float") * -3).alias("embedding"),
    )
    return exact.unionByName(scaled).unionByName(negated).unionByName(neg_scaled)


# Index-lifecycle fixture: the SERVING corpus before
# an index rebuild is the ~90% slice (vec_id % 10 != 7); the arrivals are
# the held-out ~10%.  The natural corpus has no cos >= 0.99 pair (the
# documented emb_incr fixture property), so every arrival is ACCEPTED by
# the ingest tick — the grown corpus is simply their union, and the
# held-out vectors sit INSIDE existing clusters, which is exactly the
# stale-quantizer story the recall-drift gate must catch (a stale index
# cannot return an un-indexed arrival that belongs in the true top-k).
EMB_DRIFT_CORPUS_SQL = (
    "SELECT vec_id, embedding FROM embeddings WHERE vec_id % 10 != 7"
)
EMB_DRIFT_ARRIVALS_SQL = (
    "SELECT vec_id, embedding FROM embeddings WHERE vec_id % 10 = 7"
)


def emb_drift_corpus(spark, sf_dir: str):
    import os

    from pyspark.sql import functions as F

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    return emb.filter(F.col("vec_id") % 10 != 7).select("vec_id", "embedding")


def emb_drift_arrivals(spark, sf_dir: str):
    import os

    from pyspark.sql import functions as F

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    return emb.filter(F.col("vec_id") % 10 == 7).select("vec_id", "embedding")


EMB_INCR_CTE_DUCKDB = """
WITH emb AS (
  SELECT vec_id, embedding, 0 AS is_batch FROM embeddings
  UNION ALL
  SELECT vec_id + 1000000, embedding, 1 FROM embeddings WHERE vec_id % 20 = 0
  UNION ALL
  SELECT vec_id + 2000000, list_transform(embedding, x -> CAST(x AS FLOAT) * 2), 1
  FROM embeddings WHERE vec_id % 30 = 0
  UNION ALL
  SELECT vec_id + 3000000, list_transform(embedding, x -> CAST(x AS FLOAT) * -1), 1
  FROM embeddings WHERE vec_id % 11 = 5
  UNION ALL
  SELECT vec_id + 4000000, list_transform(embedding, x -> CAST(x AS FLOAT) * -3), 1
  FROM embeddings WHERE vec_id % 22 = 5
)
"""


# Documents with URLs planted (a per-doc unique page on a rotating set of
# 20 domains every 4th doc; a blocklisted domain on every 9th-pattern doc)
# so the URL-audit / domain-histogram operators have positives.
DOCS_URL_SQL = """
SELECT doc_id,
  CASE WHEN doc_id % 4 = 0
       THEN text || ' see https://site' || CAST(doc_id % 20 AS STRING)
            || '.example.org/p/' || CAST(doc_id AS STRING)
       ELSE text END
  || CASE WHEN doc_id % 9 = 2
          THEN ' via http://tracker.blocked.example.com/c?id=' || CAST(doc_id AS STRING)
          ELSE '' END AS text,
  lang, source
FROM documents
"""


def docs_url(spark, sf_dir: str):
    import os

    spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).createOrReplaceTempView("documents")
    return spark.sql(DOCS_URL_SQL)


# Documents with cross-document duplicated SUBSTRINGS planted (a ~123-char
# license header on every 6th doc, a ~73-char newsletter footer on every
# 10th-pattern doc) so the exact-substring span family has long clustered
# positives on top of the corpus's natural small-vocabulary repeats.
# The plant is bounded to doc_id < 3000: at the driver gate scales every
# doc_id is < 500 so the bound is invisible, while at sf0.1+ it pins the
# planted cluster at ~500/~300 docs — the PAIR-enumerating span entries are
# cluster-quadratic by definition (they list every pair), so an unbounded
# plant would make the graded fixture itself unsweepable at zipf-sf1
# (8,333-doc header cluster → 3.3e9 match rows) without measuring anything
# the bounded cluster doesn't; the corpus-scaling cost component (the
# position scan and gram groupBy) still grows with the corpus.
DOCS_SPAN_SQL = """
SELECT doc_id,
  CASE WHEN doc_id % 6 = 0 AND doc_id < 3000
       THEN 'лицензионное соглашение: копирование и распространение данного текста без письменного разрешения правообладателя запрещено. ' || text
       ELSE text END
  || CASE WHEN doc_id % 10 = 3 AND doc_id < 3000
          THEN ' подпишитесь на нашу еженедельную рассылку чтобы получать все обновления'
          ELSE '' END AS text
FROM documents
"""


def docs_span(spark, sf_dir: str):
    import os

    spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).createOrReplaceTempView("documents")
    return spark.sql(DOCS_SPAN_SQL)
