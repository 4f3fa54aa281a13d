"""Text-analysis operators for document pipelines (north-star extension):
token counting, quality scoring, language-ID heuristic, fingerprinting.

All pure column expressions (codegen-friendly); no UDFs.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Tiny per-language stopword lists for the n-gram/stopword-count heuristic.
# Deterministic and portable — the point is the operator shape, not NLP
# accuracy (the driver's documents corpus is synthetic word-soup anyway).
LANG_STOPWORDS = {
    "de": ["der", "die", "das", "und", "nicht", "ist"],
    "en": ["the", "a", "of", "and", "is", "to"],
    "es": ["el", "la", "de", "que", "y", "los"],
    "fr": ["le", "la", "les", "et", "des", "un"],
    "ru": ["и", "в", "не", "на", "что", "с"],
}

_PUNCT_RE = r"[^.,!?;:]"


def tokens(text: Column) -> Column:
    return F.split(F.lower(text), r"\s+")


def token_count(text: Column) -> Column:
    """Whitespace token count; empty/null-safe."""
    t = F.trim(text)
    return F.when(t.isNull() | (t == ""), F.lit(0)).otherwise(F.size(F.split(t, r"\s+")))


def bpe_ish_token_count(text: Column) -> Column:
    """Sub-word-ish token estimate: count of letter runs, digit runs and
    punctuation marks (a cheap BPE stand-in for budget estimation)."""
    return F.size(F.regexp_extract_all(F.lower(text), F.lit(r"[a-zа-я]+|[0-9]+|[^\sa-zа-я0-9]"), 0))


def quality_features(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Per-doc quality features: length, token count, punctuation ratio,
    stopword ratio, mean token length.  ``carry_cols`` pass through
    untouched so downstream decisions need no re-join on the id."""
    t = F.col(text_col)
    toks = tokens(t)
    n_tok = token_count(t)
    stop_all = sorted({w for ws in LANG_STOPWORDS.values() for w in ws})
    n_stop = F.size(F.filter(toks, lambda x: x.isin(*stop_all)))
    n_punct = F.length(F.regexp_replace(t, _PUNCT_RE, ""))
    return df.select(
        F.col(id_col).alias("doc_id"),
        *[F.col(c) for c in carry_cols],
        F.length(t).alias("n_chars"),
        n_tok.alias("n_tokens"),
        F.when(n_tok > 0, F.length(F.regexp_replace(t, r"\s+", "")) / n_tok)
        .otherwise(F.lit(0.0))
        .alias("mean_token_len"),
        F.when(F.length(t) > 0, n_punct / F.length(t)).otherwise(F.lit(0.0)).alias("punct_ratio"),
        F.when(n_tok > 0, n_stop / n_tok).otherwise(F.lit(0.0)).alias("stopword_ratio"),
    )


def language_id(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Stopword-count argmax language guess with deterministic tie-break
    (higher count wins, then language code ascending)."""
    toks = tokens(F.col(text_col))

    def score(ws):
        # closure (not a default arg): Spark derives the lambda's variable
        # count from its signature, so it must stay single-parameter
        return F.size(F.filter(toks, lambda x: x.isin(*ws)))

    scores = [score(ws).alias(f"score_{lang}") for lang, ws in sorted(LANG_STOPWORDS.items())]
    scored = df.select(F.col(id_col).alias("doc_id"), *scores)
    langs = sorted(LANG_STOPWORDS)
    best = F.greatest(*[F.col(f"score_{lang}") for lang in langs])
    pred = F.coalesce(
        *[F.when(F.col(f"score_{lang}") == best, F.lit(lang)) for lang in langs]
    )
    return scored.select(
        "doc_id",
        *[F.col(f"score_{lang}") for lang in langs],
        F.when(best > 0, pred).otherwise(F.lit("unknown")).alias("lang_pred"),
    )


def stratified_sample(
    df: DataFrame,
    rates: dict[str, float],
    default_rate: float,
    stratum_col: str = "lang",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic per-stratum sampling for corpus rebalancing.

    A training pipeline downsamples over-represented languages/sources; a
    random `sample()` is neither reproducible across engines nor stable
    under re-partitioning.  Instead the sampling decision is a pure
    function of the row key: the first 4 hex chars of md5(id) form a
    uniform 16-bit bucket, and a row survives iff its bucket hex-string is
    below the stratum's threshold.  No shuffle, no RNG state, embarrassingly
    parallel, and re-runs (or a DuckDB re-derivation) pick the same rows.

    ``rates`` maps stratum value → keep-rate in [0, 1]; other strata use
    ``default_rate``.
    """
    bucket = F.substring(F.md5(F.col(id_col).cast("string")), 1, 4)

    def thr(rate: float) -> str:
        return format(min(int(rate * 65536), 65535), "04x")

    keep = F.coalesce(
        *[F.when(F.col(stratum_col) == s, F.lit(thr(r))) for s, r in sorted(rates.items())],
        F.lit(thr(default_rate)),
    )
    return df.filter(bucket < keep)


def mixture_plan(
    df: DataFrame,
    token_budget: int = 1_000_000,
    text_col: str = "text",
    stratum_col: str = "source",
) -> DataFrame:
    """Data-mixture planner: per-stratum corpus inventory plus the sampling
    rate that hits a UNIFORM target mixture under a global token budget —
    the calculation every pretraining-data pipeline runs before assembling
    a mix (docs/tokens per source, current share, keep-rate, expected yield).

    Output per stratum: ``docs``, ``tokens`` (whitespace tokens, same
    definition as ``token_counts``), ``token_share`` of the corpus,
    ``sample_rate`` = min(1, budget/n_strata/tokens) — the rate to feed
    :func:`stratified_sample` — and ``expected_tokens`` = tokens × rate.

    Plan: ONE shuffle (the per-stratum partial-aggregated groupBy); the
    corpus totals come from a second aggregate over the tiny per-stratum
    frame, attached via a 1-row broadcast cross join.  At 100 TB the wide
    text column reduces map-side to two longs per stratum per partition.
    """
    per_src = (
        df.groupBy(F.col(stratum_col).alias("source"))
        .agg(
            F.count("*").alias("docs"),
            F.sum(token_count(F.col(text_col)).cast("long")).alias("tokens"),
        )
    )
    totals = per_src.agg(
        F.sum("tokens").alias("__total_tokens"), F.count("*").alias("__n_strata")
    )
    target = F.col("__total_budget") / F.col("__n_strata")
    # a token-less stratum keeps rate 1.0 (nothing to downsample) — and the
    # guard keeps ANSI mode from raising DIVIDE_BY_ZERO on it
    rate = F.when(
        F.col("tokens") > 0, F.least(F.lit(1.0), target / F.col("tokens"))
    ).otherwise(F.lit(1.0))
    return (
        per_src.crossJoin(F.broadcast(totals))
        .withColumn("__total_budget", F.lit(float(token_budget)))
        .select(
            "source",
            "docs",
            "tokens",
            # same ANSI div-by-zero guard as sample_rate: an all-empty
            # corpus (every stratum 0 tokens) yields share 0.0, not an error
            F.when(
                F.col("__total_tokens") > 0,
                F.col("tokens") / F.col("__total_tokens"),
            )
            .otherwise(F.lit(0.0))
            .alias("token_share"),
            rate.alias("sample_rate"),
            (F.col("tokens") * rate).alias("expected_tokens"),
        )
    )


def length_quantiles(
    df: DataFrame,
    value_col: str = "n_chars",
    stratum_col: str = "lang",
    quantiles: tuple[tuple[int, int], ...] = ((1, 4), (1, 2), (3, 4), (9, 10)),
) -> DataFrame:
    """Exact per-stratum length quantiles — the profiling step that sizes
    filtering thresholds before a corpus run.

    DISCRETE (type-1) quantiles selected by integer rank arithmetic
    (aggregates.discrete_quantiles): actual data values, so the DuckDB
    oracle replays the selection bit-for-bit on ANY data — an
    interpolated quantile is a derived double whose 1-ulp formula
    differences can split the rounding cross-engine.  Probabilities are
    exact integer fractions.  At 100 TB swap in ``percentile_approx``
    (``length_quantiles_approx``) — same output shape, bounded memory.
    """
    from mistocksync_spark.operators.aggregates import discrete_quantiles

    probs = {f"__q{i}": frac for i, frac in enumerate(quantiles)}
    g = discrete_quantiles(df, stratum_col, value_col, probs)
    entries = F.array(
        *[
            F.struct(
                F.lit(num / den).alias("quantile"),
                F.col(f"__q{i}").cast("double").alias(f"{value_col}_q"),
            )
            for i, (num, den) in enumerate(quantiles)
        ]
    )
    return g.select(stratum_col, F.explode(entries).alias("e")).select(
        stratum_col, "e.quantile", f"e.{value_col}_q"
    )


def length_quantiles_approx(
    df: DataFrame,
    value_col: str = "n_chars",
    stratum_col: str = "lang",
    quantiles: tuple[float, ...] = (0.25, 0.5, 0.75, 0.9),
    accuracy: int = 10000,
) -> DataFrame:
    """The 100 TB form of ``length_quantiles``: ``percentile_approx``
    (Greenwald-Khanna sketch — fixed-size state per partition, merged
    map-side) instead of the exact aggregate's full value-count state.
    Same plan shape and output schema; values are within the sketch's
    rank-error bound of exact (asserted in tests), so it carries a
    rows-only driver check."""
    qarr = "array(" + ", ".join(f"{q}D" for q in quantiles) + ")"
    g = df.groupBy(stratum_col).agg(
        F.expr(f"percentile_approx({value_col}, {qarr}, {accuracy})").alias("qv")
    )
    return _unpack_quantiles(g, stratum_col, value_col, quantiles)


def _unpack_quantiles(g: DataFrame, stratum_col: str, value_col: str, quantiles) -> DataFrame:
    return g.select(
        stratum_col,
        F.posexplode("qv").alias("qi", "qraw"),
    ).select(
        stratum_col,
        F.element_at(F.array(*[F.lit(q) for q in quantiles]), F.col("qi") + 1).alias("quantile"),
        F.round(F.col("qraw"), 4).alias(f"{value_col}_q"),
    )


def repetition_features(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher-style repetition signals per document: the fraction of
    repeated tokens (1 - distinct/total) and the share of the most frequent
    word bigram among all bigrams — the degenerate-text detectors that
    complement ``corpus_filter``'s shape rules.

    The distinct-token ratio is a pure column expression; the top-bigram
    share needs per-(doc, bigram) counts, done as explode → two
    aggregations keyed by doc_id (map-side partials, shuffles carry
    per-doc-distinct bigrams, never raw token streams).
    """
    t = F.col(text_col)
    # trimmed tokenization so edge whitespace cannot mint empty tokens
    toks = F.split(F.lower(F.trim(t)), r"\s+")
    empty = F.trim(t).isNull() | (F.trim(t) == "")
    n_tok = F.when(empty, F.lit(0)).otherwise(F.size(toks))
    base = df.select(
        F.col(id_col).alias("doc_id"),
        n_tok.alias("n_tokens"),
        F.when(n_tok > 0, 1.0 - F.size(F.array_distinct(toks)) / n_tok)
        .otherwise(F.lit(0.0))
        .alias("dup_token_frac"),
    )
    # sequence(1, 0) would auto-descend to [1, 0] — guard short docs with
    # an explicit empty index list
    idx = F.when(F.size(toks) >= 2, F.sequence(F.lit(1), F.size(toks) - 1)).otherwise(
        F.array().cast("array<int>")
    )
    bigrams = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(
            F.transform(
                idx,
                lambda i: F.concat_ws(" ", F.element_at(toks, i), F.element_at(toks, i + 1)),
            )
        ).alias("g"),
    ).filter(F.col("g") != "")
    counts = bigrams.groupBy("doc_id", "g").agg(F.count("*").alias("cnt"))
    top = counts.groupBy("doc_id").agg(
        (F.max("cnt") / F.sum("cnt")).alias("top_bigram_frac")
    )
    return base.join(top, on="doc_id", how="left").select(
        "doc_id",
        "n_tokens",
        F.round("dup_token_frac", 6).alias("dup_token_frac"),
        F.round(F.coalesce(F.col("top_bigram_frac"), F.lit(0.0)), 6).alias("top_bigram_frac"),
    )


def corpus_filter(
    df: DataFrame,
    min_tokens: int = 5,
    max_mean_token_len: float = 12.0,
    max_punct_ratio: float = 0.2,
    langs: tuple[str, ...] = ("de", "en", "es", "fr", "ru"),
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str = "lang",
) -> DataFrame:
    """The C4-style keep/drop decision per document, with the FIRST failing
    rule as the reason (rule order: language, length, token shape,
    punctuation) — the audit trail a corpus-cleaning run ships with.

    Pure column expressions over ``quality_features`` with the language
    carried through (no id re-join); filtering 100 TB is one scan, zero
    shuffles/joins, and the reasons aggregate into the run report with a
    single groupBy.
    """
    enriched = quality_features(
        df, text_col=text_col, id_col=id_col, carry_cols=(lang_col,)
    ).withColumnRenamed(lang_col, "__lang")
    reason = (
        F.when(~F.col("__lang").isin(*langs), F.lit("lang"))
        .when(F.col("n_tokens") < min_tokens, F.lit("too_short"))
        .when(F.col("mean_token_len") > max_mean_token_len, F.lit("token_shape"))
        .when(F.col("punct_ratio") > max_punct_ratio, F.lit("punctuation"))
        .otherwise(F.lit("ok"))
    )
    return enriched.select(
        "doc_id",
        F.col("__lang").alias("lang"),
        "n_tokens",
        reason.alias("reason"),
        (reason == "ok").alias("keep"),
    )


def vocab_topk(
    df: DataFrame, k: int = 100, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Global token-frequency top-k — the vocabulary/frequency profile a
    tokenizer-training or contamination check starts from.

    explode → groupBy(token) with map-side partial counts → one shuffle
    keyed by token → top-k.  The classic heavy-shuffle text op: the
    exchange carries one row per DISTINCT token per partition (partial
    aggregation), never one per occurrence.  Deterministic tie-break
    (count desc, token asc).
    """
    toks = df.select(F.explode(tokens(F.col(text_col))).alias("token")).filter(
        F.col("token") != ""
    )
    counts = toks.groupBy("token").agg(F.count("*").alias("cnt"))
    return counts.orderBy(F.col("cnt").desc(), F.col("token").asc()).limit(k)


def tfidf_top_terms(
    df: DataFrame,
    k: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
    stratum_col: str = "lang",
) -> DataFrame:
    """Per-stratum top-k terms by TF-IDF — the "what characterizes this
    corpus slice" profile (idf computed within the stratum, so a term
    common to every document of a language scores ~0 there).

    Plan: explode → ONE groupBy on (stratum, term) computing tf (all
    occurrences, map-side partial counts) and df (distinct docs, Spark's
    two-stage distinct-aggregate rewrite); stratum doc totals are a tiny
    stratum-cardinality aggregate joined back via broadcast; the final
    top-k is a row_number window partitioned by stratum.  The per-
    occurrence rows never cross the wire — the shuffles carry distinct
    (stratum, term[, doc]) partials only.

    Score is rounded to 6 dp BEFORE ranking so the ordering (and the
    emitted rank) is reproducible across engines; ties break on term asc.
    """
    from pyspark.sql import Window

    words = df.select(
        F.col(stratum_col).alias("stratum"),
        F.col(id_col).alias("doc_id"),
        F.explode(tokens(F.trim(F.col(text_col)))).alias("term"),
    ).filter(F.col("term") != "")
    stats = words.groupBy("stratum", "term").agg(
        F.count("*").alias("tf"), F.count_distinct("doc_id").alias("df")
    )
    totals = df.groupBy(F.col(stratum_col).alias("stratum")).agg(F.count("*").alias("n_docs"))
    scored = stats.join(F.broadcast(totals), "stratum").withColumn(
        "tfidf",
        F.round(F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df")), 6),
    )
    w = Window.partitionBy("stratum").orderBy(F.col("tfidf").desc(), F.col("term").asc())
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= k)
        .select("stratum", "term", "tf", "df", "tfidf", "rk")
    )


def pack_documents(
    df: DataFrame,
    seq_len: int = 2048,
    token_count_col: str = "n_tokens",
    stratum_col: str = "lang",
    id_col: str = "doc_id",
) -> DataFrame:
    """Concat-then-chunk sequence packing: documents are laid out in
    deterministic ``id`` order within each stratum and cut into fixed
    ``seq_len`` token windows (docs may straddle a boundary — the standard
    LM-pretraining packing).  Emits each doc's pack id and offset.

    One shuffle (hash by stratum) + one in-partition sort: the running sum
    is a window over the stratum, so no global single-partition ordering
    exists anywhere.  At 100 TB strata are (source, shard) keys sized to
    executors; the pack layout is reproducible because it is a pure
    function of (stratum, id order).
    """
    from pyspark.sql import Window

    w = (
        Window.partitionBy(stratum_col)
        .orderBy(F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    before = F.coalesce(F.sum(token_count_col).over(w), F.lit(0))
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.col(stratum_col).alias("stratum"),
        F.col(token_count_col).alias("n_tokens"),
        F.floor(before / seq_len).alias("pack_id"),
        (before % seq_len).alias("pack_offset"),
    )


def fingerprint(df: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 8) -> DataFrame:
    """Winnowing-style document fingerprint: min and max md5 over the
    lowercased char k-grams, plus the whole-document hash.  Identical
    min-gram fingerprints are a strong near-dup signal for prefix/suffix
    edits; the full hash catches exact dups."""
    low = F.lower(F.col(text_col))
    cnt = F.greatest(F.length(low) - (k - 1), F.lit(1))
    grams = F.transform(F.sequence(F.lit(1), cnt), lambda i: F.md5(F.substring(low, i, k)))
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.md5(F.col(text_col)).alias("full_hash"),
        F.array_min(grams).alias("min_gram_hash"),
        F.array_max(grams).alias("max_gram_hash"),
    )


# --------------------------------------------------------------------------
# PII redaction, boilerplate-paragraph removal, context-window chunking —
# the remaining standard stages of a pre-training text pipeline (C4 /
# RefinedWeb-style cleanup), as pure column-expression plans.
# --------------------------------------------------------------------------

# Deliberately simple patterns that parse identically under Java regex
# (Spark) and RE2 (DuckDB oracles): no lookaround, no backreferences.
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE_RE = r"\+\d{1,3} \d{3} \d{3}-\d{2}-\d{2}"
PII_IPV4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"


def pii_redact(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """PII scrub: replace emails / international-format phone numbers /
    IPv4 literals with typed placeholder tokens and count what was
    redacted per document — the audit trail a compliance review asks for.

    Pure ``regexp_count`` + ``regexp_replace`` column expressions (JVM
    codegen, single corpus scan, zero shuffles; the counts are computed on
    the ORIGINAL text before any replacement, so overlapping pattern
    classes can't mask each other).  Replacement order (email → phone →
    ip) is fixed so the output text is deterministic.
    """
    t = F.col(text_col)
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(t, PII_EMAIL_RE, "[EMAIL]"), PII_PHONE_RE, "[PHONE]"
        ),
        PII_IPV4_RE,
        "[IP]",
    )
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.regexp_count(t, F.lit(PII_EMAIL_RE)).alias("n_emails"),
        F.regexp_count(t, F.lit(PII_PHONE_RE)).alias("n_phones"),
        F.regexp_count(t, F.lit(PII_IPV4_RE)).alias("n_ips"),
        redacted.alias("text_redacted"),
    )


def paragraph_table(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(doc_id, pos, para) — documents split on newline into ordered
    paragraphs; the exploded long form every paragraph-level operator
    shares."""
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "para"),
    )


def boilerplate_paragraphs(
    df: DataFrame, min_docs: int = 3, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Paragraphs repeated across ≥ ``min_docs`` distinct documents — the
    boilerplate detector (nav bars, cookie banners, footers) of C4-style
    cleanup.  One explode + one groupBy(paragraph) with a distinct-doc
    count; at 100 TB the aggregate is map-side partial and the detected
    set is small enough to broadcast into the strip stage.
    """
    return (
        paragraph_table(df, text_col, id_col)
        .groupBy("para")
        .agg(F.count_distinct("doc_id").alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
    )


def boilerplate_strip(
    df: DataFrame, min_docs: int = 3, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Remove cross-document boilerplate paragraphs and reassemble each
    document in original paragraph order (C4's repeated-line removal).

    Plan: explode once, broadcast-anti-join the (small) detected
    boilerplate set, then one groupBy(doc_id) whose ``array_sort`` over
    (pos, para) structs restores order without a Window — so reassembly is
    a single shuffle keyed by doc_id.  Documents whose every paragraph was
    boilerplate survive with empty text (left join from the doc list), so
    the output row count always equals the input's.
    """
    paras = paragraph_table(df, text_col, id_col)
    boiler = boilerplate_paragraphs(df, min_docs, text_col, id_col).select("para")
    kept = paras.join(F.broadcast(boiler), "para", "left_anti")
    reassembled = kept.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "para"))), lambda s: s["para"]
            ),
            "\n",
        ).alias("text_clean")
    )
    return (
        df.select(F.col(id_col).alias("doc_id"))
        .join(reassembled, "doc_id", "left")
        .select("doc_id", F.coalesce("text_clean", F.lit("")).alias("text_clean"))
    )


def doc_chunks(
    df: DataFrame,
    chunk_size: int = 64,
    stride: int = 48,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Context-window chunking: split each document into overlapping
    ``chunk_size``-token windows every ``stride`` tokens — the step that
    turns variable-length documents into training-sample candidates.

    Chunk k covers tokens [k*stride, k*stride + chunk_size); windows are
    emitted while k*stride < n_tokens, so the tail chunk may be short (and,
    when stride < chunk_size, partially contained in its predecessor —
    accepted for the simple deterministic contract).  Pure expressions:
    ``sequence`` + ``posexplode`` + ``slice``, one corpus scan, zero
    shuffles, no UDFs.
    """
    toks = F.split(F.col(text_col), " ")
    n = F.size(toks)
    last_k = F.floor((n - 1) / stride).cast("int")
    exploded = df.select(
        F.col(id_col).alias("doc_id"),
        toks.alias("__toks"),
        F.explode(F.sequence(F.lit(0), F.greatest(last_k, F.lit(0)))).alias("chunk_id"),
    )
    piece = F.slice(F.col("__toks"), F.col("chunk_id") * stride + 1, chunk_size)
    return exploded.select(
        "doc_id",
        "chunk_id",
        F.size(piece).alias("n_tokens"),
        F.array_join(piece, " ").alias("chunk_text"),
    )


# Gopher-style rule thresholds (Rae et al. 2021, public): word-count
# bounds, mean-word-length band, symbol-to-word ratio, bullet/ellipsis
# line shares.  Pure column expressions, single scan, zero shuffles.
GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_WORD_LEN = 3.0
GOPHER_MAX_MEAN_WORD_LEN = 10.0
GOPHER_MAX_SYMBOL_RATIO = 0.1
GOPHER_MAX_BULLET_FRAC = 0.9
GOPHER_MAX_ELLIPSIS_FRAC = 0.3

GOPHER_SYMBOL_RE = r"#|\.\.\.|…"
GOPHER_BULLET_RE = r"(?m)^[ \t]*[-*•]"
GOPHER_ELLIPSIS_RE = r"(?m)(\.\.\.|…)[ \t]*$"


def gopher_rules(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Gopher-style document quality rules: per-doc features plus a pass
    flag.  Complements ``quality_features`` (generic shape stats) and
    ``repetition_features`` (degenerate-text stats) with the published
    rule set training pipelines actually gate on.

    All features are JVM regex/length expressions — one scan, zero
    shuffles, fully codegen'd; ratios are div-guarded for empty docs.
    """
    t = F.col(text_col)
    trimmed = F.trim(t)
    n_words = F.when(
        trimmed.isNull() | (trimmed == ""), F.lit(0)
    ).otherwise(F.size(F.split(trimmed, r"\s+")))
    mean_wl = F.when(
        n_words > 0, F.length(F.regexp_replace(t, r"\s+", "")) / n_words
    ).otherwise(F.lit(0.0))
    n_symbols = F.size(F.regexp_extract_all(t, F.lit(GOPHER_SYMBOL_RE), 0))
    symbol_ratio = F.when(n_words > 0, n_symbols / n_words).otherwise(F.lit(0.0))
    n_lines = F.when(
        trimmed.isNull() | (trimmed == ""), F.lit(0)
    ).otherwise(F.size(F.split(t, "\n")))
    n_bullet = F.size(F.regexp_extract_all(t, F.lit(GOPHER_BULLET_RE), 0))
    n_ellipsis = F.size(F.regexp_extract_all(t, F.lit(GOPHER_ELLIPSIS_RE), 0))
    bullet_frac = F.when(n_lines > 0, n_bullet / n_lines).otherwise(F.lit(0.0))
    ellipsis_frac = F.when(n_lines > 0, n_ellipsis / n_lines).otherwise(F.lit(0.0))
    passes = (
        (n_words >= GOPHER_MIN_WORDS)
        & (n_words <= GOPHER_MAX_WORDS)
        & (mean_wl >= GOPHER_MIN_MEAN_WORD_LEN)
        & (mean_wl <= GOPHER_MAX_MEAN_WORD_LEN)
        & (symbol_ratio <= GOPHER_MAX_SYMBOL_RATIO)
        & (bullet_frac <= GOPHER_MAX_BULLET_FRAC)
        & (ellipsis_frac <= GOPHER_MAX_ELLIPSIS_FRAC)
    )
    return df.select(
        F.col(id_col).alias("doc_id"),
        n_words.alias("n_words"),
        F.round(mean_wl, 4).alias("mean_word_len"),
        F.round(symbol_ratio, 4).alias("symbol_ratio"),
        F.round(bullet_frac, 4).alias("bullet_frac"),
        F.round(ellipsis_frac, 4).alias("ellipsis_frac"),
        passes.cast("int").alias("pass_gopher"),
    )


def rare_token_score(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    rel_threshold: float = 1e-4,
) -> DataFrame:
    """Corpus-relative out-of-vocabulary quality score: the in-corpus
    vocabulary is every token carrying at least ``rel_threshold`` of total
    token mass; each document scores the fraction of its tokens OUTSIDE
    that vocabulary (a cheap unigram-LM "perplexity" stand-in — gibberish
    and boilerplate-free junk score high).

    Plan: the exploded token stream shuffles exactly TWICE — once for the
    map-side-partial token frequency count, once for the per-doc
    aggregation.  The vocabulary is bounded above by 1/rel_threshold
    entries regardless of corpus size (each needs ≥ that share of mass),
    so it ALWAYS broadcasts; the total-mass scalar attaches via a 1-row
    broadcast crossJoin, the same shape ``mixture_plan`` uses.  Docs with
    zero tokens drop out (no denominator).
    """
    tok = (
        df.select(
            F.col(id_col).alias("doc_id"),
            F.explode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("token"),
        )
        .filter(F.col("token") != "")
    )
    freq = tok.groupBy("token").agg(F.count("*").alias("cnt"))
    total = freq.agg(F.sum("cnt").alias("__total"))
    vocab = (
        freq.crossJoin(F.broadcast(total))
        .filter(F.col("cnt") >= F.ceil(F.col("__total") * F.lit(rel_threshold)))
        .select("token")
    )
    joined = tok.join(
        F.broadcast(vocab.withColumn("__v", F.lit(1))), on="token", how="left"
    )
    return (
        joined.groupBy("doc_id")
        .agg(F.count("*").alias("n_tokens"), F.count("__v").alias("n_in_vocab"))
        .select(
            "doc_id",
            "n_tokens",
            "n_in_vocab",
            F.round(1.0 - F.col("n_in_vocab") / F.col("n_tokens"), 6).alias("oov_fraction"),
        )
    )


# URL audit / domain statistics (C4-style URL filtering: blocklisted
# domains disqualify a document before any content-level gate runs).
URL_RE = r"https?://[A-Za-z0-9.-]+(?:/[^ \t\n]*)?"
URL_DOMAIN_RE = r"https?://([A-Za-z0-9.-]+)"
DEFAULT_URL_BLOCKLIST = ("tracker.blocked.example.com",)


def url_audit(
    df: DataFrame,
    blocklist: tuple[str, ...] = DEFAULT_URL_BLOCKLIST,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document URL audit: URL count, blocklisted-domain hit count and
    the keep decision — pure regex/array column expressions, one scan,
    zero shuffles.  The blocklist is a literal predicate (at real scale a
    broadcast set; the operator shape is identical)."""
    t = F.col(text_col)
    urls = F.regexp_extract_all(t, F.lit(URL_RE), 0)
    domains = F.transform(urls, lambda u: F.regexp_extract(u, URL_DOMAIN_RE, 1))
    n_blocked = F.size(F.filter(domains, lambda d: d.isin(*blocklist)))
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.size(urls).alias("n_urls"),
        n_blocked.alias("n_blocked"),
        (n_blocked == 0).cast("int").alias("keep"),
    )


def domain_histogram(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Corpus-wide domain frequency: distinct referencing docs and total
    mentions per domain — the input to curating a URL blocklist.  Explode
    of the per-doc domain arrays feeds ONE map-side-partial aggregation."""
    t = F.col(text_col)
    urls = F.regexp_extract_all(t, F.lit(URL_RE), 0)
    domains = F.transform(urls, lambda u: F.regexp_extract(u, URL_DOMAIN_RE, 1))
    ex = df.select(F.col(id_col).alias("doc_id"), F.explode(domains).alias("domain"))
    return ex.groupBy("domain").agg(
        F.countDistinct("doc_id").alias("n_docs"), F.count("*").alias("n_mentions")
    )


def corpus_prepare(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    oov_threshold: float = 0.5,
    rel_threshold: float = 1e-4,
) -> DataFrame:
    """End-to-end corpus-preparation decision: exact dedup → Gopher rules
    → corpus-relative OOV gate, composed into ONE decision row per input
    document with the first failing gate as the reason — the pipeline a
    training-data run actually executes, here as a single declarative
    plan Catalyst can optimize across stages (the documents scan is
    shared; nothing materializes between gates).

    Gate order mirrors cost: the md5 digest dedup (one shuffle on the
    digest) disqualifies copies before quality matters; the Gopher rules
    are scan-only expressions; the OOV score reuses its two-shuffle
    token plan.  Docs with zero tokens have no OOV row (left join → null
    → gate passes vacuously) and are caught by the word-count rule.
    """
    digest = df.select(
        F.col(id_col).alias("doc_id"), F.md5(F.col(text_col)).alias("__dig")
    )
    keep_ids = digest.groupBy("__dig").agg(F.min("doc_id").alias("__keep_id"))
    dup = digest.join(keep_ids, on="__dig").select(
        "doc_id", (F.col("doc_id") != F.col("__keep_id")).alias("__is_dup")
    )
    g = gopher_rules(df, text_col=text_col, id_col=id_col)
    oov = rare_token_score(
        df, text_col=text_col, id_col=id_col, rel_threshold=rel_threshold
    ).select("doc_id", "oov_fraction")
    joined = g.join(dup, on="doc_id").join(oov, on="doc_id", how="left")
    reason = (
        F.when(F.col("__is_dup"), F.lit("duplicate"))
        .when(F.col("pass_gopher") == 0, F.lit("gopher"))
        .when(F.col("oov_fraction") > oov_threshold, F.lit("rare_tokens"))
        .otherwise(F.lit("ok"))
    )
    return joined.select(
        "doc_id",
        "n_words",
        F.coalesce(F.col("oov_fraction"), F.lit(0.0)).alias("oov_r"),
        reason.alias("reason"),
        (reason == "ok").cast("int").alias("keep"),
    )


def mixture_apply(
    df: DataFrame,
    plan: DataFrame,
    stratum_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Execute a ``mixture_plan``: keep each document with its stratum's
    ``sample_rate`` via the same deterministic md5-bucket coin
    ``stratified_sample`` uses — reproducible across engines and
    re-partitionings, no RNG state.  Strata at rate ≥ 1.0 keep every row
    (the 16-bit threshold would otherwise drop bucket 0xffff).

    Plan: the #strata-row plan broadcasts onto the scan; the filter is a
    pure expression — no shuffle beyond what the plan itself needed.
    """
    rates = plan.select(F.col("source").alias(stratum_col), "sample_rate")
    joined = df.join(F.broadcast(rates), on=stratum_col)
    bucket = F.substring(F.md5(F.col(id_col).cast("string")), 1, 4)
    thr = F.format_string(
        "%04x",
        F.floor(F.least(F.col("sample_rate") * 65536, F.lit(65535.0))).cast("int"),
    )
    keep = (F.col("sample_rate") >= 1.0) | (bucket < thr)
    return joined.filter(keep).select(
        F.col(id_col).alias("doc_id"), F.col(stratum_col).alias("source")
    )


def charlm_score(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                 lang_col: str = "lang") -> DataFrame:
    """CCNet-style language-model quality score, deterministic variant:
    train a per-language character-TRIGRAM model on the corpus itself
    (P(c3 | c1c2) = trigram count / bigram-prefix count) and score each
    document by its mean trigram probability.  Gibberish and OCR noise
    score low against the in-language trigram statistics — the same
    signal CCNet's KenLM perplexity gate uses, in a log-free form whose
    arithmetic is bit-identical cross-engine (count ratios are exact
    IEEE quotients of integers; each is micro-quantized with
    ``floor(p*1e6+0.5)`` and accumulated exactly, never a float sum).

    100 TB plan: the trigram stream (one row per character position)
    collapses immediately to a (doc, lang, trigram, count) frame —
    materialized once (lazy localCheckpoint), because both the count
    table and the scoring probe consume it and Catalyst does not share
    common subplans across joins (without it the explode ran twice —
    7.7 s in a bench).  The (lang, trigram) model table is bounded
    by charset³ per language, NOT by corpus size, so it BROADCASTS back
    onto the per-doc frame; the prefix totals derive from the already-
    aggregated count table (no second pass over the corpus).  Two
    shuffles total (doc-trigram collapse + per-doc re-aggregation),
    zero Python.  Documents shorter than 3 chars have no trigram and no
    output row.
    """
    low = F.lower(F.col(text_col))
    n_tri = F.length(low) - 2
    # Spark's sequence(1, 0) DESCENDS instead of emitting empty, so the
    # <3-char guard must be a filter, not a greatest() clamp
    tri_stream = df.filter(F.length(F.lower(F.col(text_col))) >= 3).select(
        F.col(id_col).alias("doc_id"),
        F.col(lang_col).alias("lang"),
        F.explode(
            F.transform(F.sequence(F.lit(1), n_tri), lambda i: F.substring(low, i, 3))
        ).alias("tri"),
    )
    grouped = (
        tri_stream.groupBy("doc_id", "lang", "tri")
        .agg(F.count(F.lit(1)).alias("__k"))
        .localCheckpoint(eager=False)
    )
    tc = grouped.groupBy("lang", "tri").agg(F.sum("__k").alias("__tn"))
    # pc derives from tc (a self-join by lineage): rename its keys so the
    # prefix-total attach resolves unambiguously
    pc = tc.groupBy(
        F.col("lang").alias("__pl"), F.substring("tri", 1, 2).alias("__pre")
    ).agg(F.sum("__tn").alias("__pn"))
    prob = (
        tc.join(
            pc,
            (F.col("lang") == F.col("__pl"))
            & (F.substring(F.col("tri"), 1, 2) == F.col("__pre")),
        )
        .select(
            F.col("lang").alias("__plang"),
            F.col("tri").alias("__ptri"),
            F.floor(
                F.col("__tn").cast("double") / F.col("__pn").cast("double") * F.lit(1e6)
                + F.lit(0.5)
            )
            .cast("decimal(38,0)")
            .alias("__qp"),
        )
    )
    # prob derives from grouped, so the probe join is a self-join by
    # lineage — qualify both sides with dataset aliases.  Count-weighted
    # sums over the collapsed frame reproduce per-instance accumulation
    # exactly: Σ_instances qp = Σ_trigram-types k·qp.
    scored = grouped.alias("s").join(
        F.broadcast(prob.alias("p")),
        (F.col("s.lang") == F.col("p.__plang")) & (F.col("s.tri") == F.col("p.__ptri")),
    )
    return scored.groupBy(
        F.col("s.doc_id").alias("doc_id"), F.col("s.lang").alias("lang")
    ).agg(
        F.sum("s.__k").alias("n_trigrams"),
        (
            F.sum(F.col("s.__k").cast("decimal(38,0)") * F.col("p.__qp")).cast("double")
            / F.lit(1e6)
            / F.sum("s.__k")
        ).alias("lm_score"),
    )


def hashed_quality_logit(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    dim: int = 262144,
    modulus: int = 1000003,
    mult: int = 2654435761,
) -> DataFrame:
    """fastText-style linear text classifier via the hashing trick: each
    token hashes straight to a weight index (md5 → bucket in ``dim``),
    the "trained" weight is a fixed pseudo-random projection of the
    bucket (Knuth multiplicative hash mod a prime), and the document
    logit is the mean token weight.  The point under test is the SHAPE
    every production quality classifier shares at 100 TB: featurization
    is stateless hashing (no vocabulary table to build, ship, or skew —
    the model is a deterministic function, so scoring needs ZERO joins),
    one explode + ONE per-doc partial-agg shuffle, all JVM expressions.

    Weights live in integer space until the final division (exact
    integer sums are order-independent; ``b*mult`` peaks ≈ 7e14 « 2^63),
    so the logit is bit-identical cross-engine: logit =
    (sum(w)/n)/modulus - 0.5, centered so ≈half the mass is positive.
    """
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(
            F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(r"[a-zа-я0-9]+"), 0)
        ).alias("tok"),
    )
    bucket = F.conv(F.substring(F.md5(F.col("tok")), 1, 8), 16, 10).cast("long") % F.lit(dim)
    w = (bucket * F.lit(mult)) % F.lit(modulus)
    per_doc = toks.select("doc_id", w.alias("__w")).groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum("__w").alias("__sw"),
    )
    logit = (
        F.col("__sw").cast("double") / F.col("n_tokens") / F.lit(float(modulus))
        - F.lit(0.5)
    )
    return per_doc.select(
        "doc_id",
        "n_tokens",
        logit.alias("quality_logit"),
        (logit > 0).cast("int").alias("keep"),
    )


def hashed_tfidf_vectors(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    dim: int = 32,
    n_docs: int | None = None,
) -> DataFrame:
    """Hashing-trick TF-IDF document vectors → (doc_id, embedding
    array<double>): v[j] = Σ over tokens hashing to bucket j of
    tf(d, t) · idf(t) — the stateless featurizer that turns a text corpus
    into vectors for clustering/ANN without building or shipping a
    vocabulary table.

    Exactness contract (so a k-means on these vectors stays
    hash-gradeable): idf is the LINEAR inverse document frequency
    ``(1e6·N) div df(t)`` — an integer, not the usual log(N/df), because
    a cross-engine ln() can differ in the last ulp and this featurizer
    feeds bit-compared pipelines; per-bucket weights are exact BIGINT
    sums and the final element is the single IEEE division w/1e6
    (array<double>, identical in any engine).  Plan: one corpus scan to
    (doc, token) counts, one token-level df aggregate, one per-(doc,
    bucket) partial-agg shuffle, then a bounded transform(sequence)
    assembles the dense array — no joins against a vocabulary, nothing
    grows with corpus size except the linear scans.  Docs with zero
    tokens emit no row.  ``n_docs`` defaults to a bounded driver count
    (#docs with tokens) — pass it explicitly at 100 TB.
    """
    tw = tfidf_term_weights(df, text_col, id_col, n_docs)
    bucket = F.conv(F.substring(F.md5(F.col("t")), 1, 8), 16, 10).cast("long") % F.lit(dim)
    wb = (
        tw.select("doc_id", bucket.alias("b"), "w")
        .groupBy("doc_id", "b")
        .agg(F.sum("w").alias("w"))
    )
    mp = wb.groupBy("doc_id").agg(
        F.map_from_entries(F.collect_list(F.struct("b", "w"))).alias("mp")
    )
    vec = F.expr(
        f"transform(sequence(0, {dim - 1}), "
        f"j -> CAST(COALESCE(element_at(mp, CAST(j AS BIGINT)), 0) AS DOUBLE) / 1000000.0)"
    )
    return mp.select("doc_id", vec.alias("embedding"))


def corpus_vocabulary(
    corpus: DataFrame,
    text_col: str = "text",
    rel_threshold: float = 1e-4,
) -> DataFrame:
    """The standing-corpus vocabulary the OOV gate scores against: every
    token holding >= ``rel_threshold`` of total corpus token mass — one
    (token) column, bounded above by 1/rel_threshold entries regardless
    of corpus size, so it always broadcasts.  Factored out so the
    streaming ingest can FREEZE it across micro-batches (built once from
    the initial corpus, persisted like the band state)."""
    ctok = corpus.select(
        F.explode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("token")
    ).filter(F.col("token") != "")
    cfreq = ctok.groupBy("token").agg(F.count("*").alias("cnt"))
    ctotal = cfreq.agg(F.sum("cnt").alias("__total"))
    return (
        cfreq.crossJoin(F.broadcast(ctotal))
        .filter(F.col("cnt") >= F.ceil(F.col("__total") * F.lit(rel_threshold)))
        .select("token")
    )


def vocabulary_drift(
    corpus: DataFrame,
    batch: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    rel_threshold: float = 1e-4,
    frozen_vocab: DataFrame | None = None,
) -> DataFrame:
    """Measured staleness of a FROZEN ingest vocabulary — the OOV analogue
    of ``ivf_recall_drift``: score every batch
    arrival's rare-token verdict twice, against (a) the frozen CORPUS
    vocabulary the streaming prepare tick uses and (b) a vocabulary
    freshly rebuilt over corpus ∪ batch (what a rebuild tick would
    produce), and report the per-arrival decision disagreement as ONE
    row: (n_scored, n_rare_frozen, n_rare_rebuilt, n_disagree,
    drift_frac).  "When to rebuild the vocabulary" thereby becomes a
    measured number a deployment thresholds on, exactly like the IVF
    index's recall drift.  ``n_scored`` counts arrivals with >= 1 token
    (token-less docs have no OOV verdict under either vocabulary);
    ``drift_frac`` is NULL on an empty batch rather than a
    divide-by-zero (an empty denominator yields NULL, never an error).

    Plan: both vocabularies are bounded by 1/rel_threshold entries and
    broadcast; the only corpus-scale work is the two token-frequency
    aggregates — a rebuild-cadence MEASUREMENT, not an ingest-tick cost.
    ``frozen_vocab`` substitutes a pre-built (token) frame for the frozen
    side — the prepare ladder passes the stream's ACTUAL frozen
    original-corpus vocabulary while ``corpus`` holds the accumulated
    state the rebuild would see.
    """
    cd = corpus.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))
    bd = batch.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))
    vf = (
        frozen_vocab.select("token")
        if frozen_vocab is not None
        else corpus_vocabulary(cd, rel_threshold=rel_threshold)
    )
    vr = corpus_vocabulary(cd.unionByName(bd), rel_threshold=rel_threshold)
    btok = bd.select(
        "doc_id", F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("token")
    ).filter(F.col("token") != "")
    sc = (
        btok.join(F.broadcast(vf.withColumn("__f", F.lit(1))), on="token", how="left")
        .join(F.broadcast(vr.withColumn("__r", F.lit(1))), on="token", how="left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("nt"),
            F.count("__f").alias("nf"),
            F.count("__r").alias("nr"),
        )
    )
    fl = sc.select(
        (2 * F.col("nf") < F.col("nt")).cast("int").alias("rf"),
        (2 * F.col("nr") < F.col("nt")).cast("int").alias("rr"),
    )
    return fl.agg(
        F.count("*").alias("n_scored"),
        F.coalesce(F.sum("rf"), F.lit(0)).cast("long").alias("n_rare_frozen"),
        F.coalesce(F.sum("rr"), F.lit(0)).cast("long").alias("n_rare_rebuilt"),
        F.coalesce(F.sum((F.col("rf") != F.col("rr")).cast("int")), F.lit(0))
        .cast("long")
        .alias("n_disagree"),
    ).select(
        "n_scored",
        "n_rare_frozen",
        "n_rare_rebuilt",
        "n_disagree",
        F.when(
            F.col("n_scored") > 0,
            F.round(F.col("n_disagree") / F.col("n_scored"), 6),
        ).alias("drift_frac"),
    )


def vocabulary_rebuild(
    corpus: DataFrame,
    batch: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    rel_threshold: float = 1e-4,
    frozen_vocab: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """The vocabulary REBUILD tick the frozen-vocab ingest path defers to
    (the missing half of the vocab lifecycle, the
    exact mirror of ``ivf_index_rebuild`` + ``ivf_recall_drift`` on the
    OOV side): re-derive the vocabulary over the GROWN corpus (standing
    corpus + arrivals), re-freeze it, and emit a one-row audit proving
    the rebuild restores agreement:

    (n_frozen, n_rebuilt, n_added, n_removed, n_scored,
     n_disagree_before, drift_before, n_disagree_after)

    - n_added/n_removed: token-set churn of the rebuild (the cell-
      population diff of ``ivf_index_rebuild``);
    - n_disagree_before / drift_before: per-arrival rare-token decision
      disagreement of the OLD frozen vocabulary vs the rebuilt one —
      ``vocabulary_drift``'s number, the reading that TRIGGERED the
      rebuild;
    - n_disagree_after: the same disagreement with the REBUILT vocabulary
      as the frozen side, against an independently re-derived rebuild —
      must be 0 (graded: the oracle pins 0, so a rebuild that produced a
      non-canonical vocabulary hash-fails).

    Returns ``(new_vocab_df, audit_df)``; the caller overwrites the
    persisted frozen vocab with the first (the ladder's --rebuild-at does
    exactly that and shows the per-tick drift curve collapse).

    Plan: two corpus-scale token-frequency aggregates (frozen fallback +
    rebuild — the once-per-cadence cost, NOT a tick cost) and one batch
    token pass against three broadcast vocabularies (each bounded by
    1/rel_threshold entries); the two 1-row readouts combine through a
    union + max aggregate, never a scalar crossJoin."""
    cd = corpus.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))
    bd = batch.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))
    # each vocabulary is consumed twice (token diff + batch scoring):
    # materialize ONCE behind lazy localCheckpoints, or Catalyst re-plans
    # the corpus-scale token aggregate per consumer
    vf = (
        frozen_vocab.select("token")
        if frozen_vocab is not None
        else corpus_vocabulary(cd, rel_threshold=rel_threshold)
    ).localCheckpoint(eager=False)
    grown = cd.unionByName(bd)
    vr = corpus_vocabulary(grown, rel_threshold=rel_threshold).localCheckpoint(
        eager=False
    )
    # the canonical next-state vocabulary, derived independently: the
    # rebuild must reproduce it exactly for n_disagree_after to be 0
    vr2 = corpus_vocabulary(grown, rel_threshold=rel_threshold).localCheckpoint(
        eager=False
    )

    tj = vf.withColumn("__f", F.lit(1)).join(
        vr.select(F.col("token"), F.lit(1).alias("__r")), on="token", how="full_outer"
    )
    vc = tj.agg(
        F.count("__f").cast("long").alias("n_frozen"),
        F.count("__r").cast("long").alias("n_rebuilt"),
        F.sum(F.when(F.col("__f").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_added"),
        F.sum(F.when(F.col("__r").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_removed"),
    )

    btok = bd.select(
        "doc_id", F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("token")
    ).filter(F.col("token") != "")
    sc = (
        btok.join(F.broadcast(vf.withColumn("__vf", F.lit(1))), on="token", how="left")
        .join(F.broadcast(vr.withColumn("__vr", F.lit(1))), on="token", how="left")
        .join(F.broadcast(vr2.withColumn("__vr2", F.lit(1))), on="token", how="left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("nt"),
            F.count("__vf").alias("nf"),
            F.count("__vr").alias("nr"),
            F.count("__vr2").alias("nr2"),
        )
    )
    dd = sc.select(
        (2 * F.col("nf") < F.col("nt")).cast("int").alias("rf"),
        (2 * F.col("nr") < F.col("nt")).cast("int").alias("rr"),
        (2 * F.col("nr2") < F.col("nt")).cast("int").alias("rr2"),
    ).agg(
        F.count("*").cast("long").alias("n_scored"),
        F.coalesce(F.sum((F.col("rf") != F.col("rr")).cast("int")), F.lit(0))
        .cast("long")
        .alias("n_disagree_before"),
        F.coalesce(F.sum((F.col("rr") != F.col("rr2")).cast("int")), F.lit(0))
        .cast("long")
        .alias("n_disagree_after"),
    )
    audit = (
        vc.unionByName(dd, allowMissingColumns=True)
        .agg(
            F.max("n_frozen").alias("n_frozen"),
            F.max("n_rebuilt").alias("n_rebuilt"),
            F.max("n_added").alias("n_added"),
            F.max("n_removed").alias("n_removed"),
            F.max("n_scored").alias("n_scored"),
            F.max("n_disagree_before").alias("n_disagree_before"),
            F.max("n_disagree_after").alias("n_disagree_after"),
        )
        .select(
            "n_frozen",
            "n_rebuilt",
            "n_added",
            "n_removed",
            "n_scored",
            "n_disagree_before",
            F.when(
                F.col("n_scored") > 0,
                F.round(F.col("n_disagree_before") / F.col("n_scored"), 6),
            ).alias("drift_before"),
            "n_disagree_after",
        )
    )
    return vr, audit


def prepare_gate(
    batch: DataFrame,
    corpus_bands: DataFrame,
    batch_bands: DataFrame,
    corpus_digests: DataFrame,
    corpus_grams: DataFrame,
    vocab: DataFrame,
    corpus_fetch: Callable[[DataFrame], DataFrame],
    holdout_mod: int | None,
    holdout_shingles: DataFrame | None,
) -> DataFrame:
    """Per-arrival decision rows for ONE ingest tick — the incremental
    sibling of ``corpus_prepare``/``corpus_prepare_v2``: each ``batch``
    (doc_id, text) document gets (doc_id, reason), reasons evaluated
    against the seen state (standing corpus plus earlier arrivals),
    first-match-wins:

    - ``exact_dup``: md5(text) already seen — in ``corpus_digests`` (the
      stored ``corpus_digest_state``), or on a batch arrival with a
      smaller id (the same arrival-ordered seen-set rule
      ``near_dup_gate`` uses, so the verdict is prefix-decomposable across
      micro-batches);
    - ``near_dup``: the ``operators.dedup.near_dup_gate`` rejection — band
      collision + exact shingle Jaccard >= 0.5 vs corpus or an earlier
      arrival, on ``corpus_bands``/``batch_bands`` and ``corpus_fetch``
      (see that gate);
    - ``span_dup``: >= 30% of the arrival's characters are covered by
      length-30 grams already seen — in ``corpus_grams`` (the stored
      ``corpus_gram_state``, de-duplicated on entry, so cross-tick append
      overlap is harmless), or on a batch arrival with a smaller id;
      coverage is the pair-free interval-union sweep
      ``duplicated_span_coverage`` uses, run over BATCH positions only;
    - ``gopher``: the scan-local Gopher rules on the arrival text;
    - ``rare_tokens``: OOV fraction vs ``vocab``, the (token) vocabulary
      frozen per corpus version (``corpus_vocabulary``) — arrivals are
      scored against the standing vocab, not against a vocabulary the
      batch itself distorts, which is also what keeps multi-tick
      decisions bit-identical to the one-shot tick.

    Every stage reads corpus-scale state only through a probe with batch
    keys or a candidate-bounded fetch, so the tick is batch/candidate-
    proportional end to end; every output row is a batch doc.

    v3 emission gates (``holdout_mod`` not None — the tick twin of
    ``corpus_prepare_v3``): arrivals whose ``doc_id % holdout_mod == 0``
    are 'holdout' (checked FIRST — corpus membership, not quality), and
    arrivals sharing >= 2 distinct word-trigram shingles with
    ``holdout_shingles`` (the stored ``holdout_shingle_state``, FROZEN per
    corpus version like the vocabulary) are 'contaminated' (checked LAST,
    after rare_tokens — the v3 one-shot's exact reason order).
    ``holdout_shingles`` is unused when ``holdout_mod`` is None.
    """
    from mistocksync_spark.operators.dedup import (
        char_gram_positions,
        contamination_check,
        dup_position_coverage,
        near_dup_gate,
    )

    batch_docs = batch.select("doc_id", "text").localCheckpoint(eager=False)

    # exact gate: the corpus is never re-hashed — a batch digest is a dup
    # iff it exists in the digest state (every corpus row precedes every
    # batch row in arrival order) or a smaller-id batch arrival shares it;
    # both probes are batch-proportional
    bh = batch_docs.select("doc_id", F.md5("text").alias("__h"))
    hit = (
        corpus_digests.select(F.col("digest").alias("__h"))
        .distinct()
        .withColumn("__in_c", F.lit(1))
    )
    bmin_h = bh.groupBy("__h").agg(F.min("doc_id").alias("__hmin"))
    exact = (
        bh.join(hit, on="__h", how="left")
        .join(bmin_h, on="__h")
        .select(
            "doc_id",
            (
                F.col("__in_c").isNotNull()
                | (F.col("__hmin") < F.col("doc_id"))
            ).alias("__xdup"),
        )
    )

    rejected = near_dup_gate(
        batch_docs, corpus_bands, batch_bands, corpus_fetch
    ).withColumn("__rej", F.lit(1))

    # span gate: duplicated-character coverage of the ARRIVAL text vs
    # grams seen in the corpus or on a smaller-id arrival — the
    # arrival-ordered analogue of corpus_prepare_v2's pair-free coverage
    # gate.  Positions are extracted from the BATCH only and the sweep
    # runs over batch positions, so the gate is batch-bounded.
    bpos = char_gram_positions(
        batch_docs, text_col="text", id_col="doc_id"
    ).localCheckpoint(eager=False)
    cg = corpus_grams.select("g").distinct()
    bmin_g = bpos.groupBy("g").agg(F.min("doc_id").alias("__gmin"))
    dup_pos = (
        bpos.join(bmin_g, on="g")
        .join(cg.withColumn("__in_cg", F.lit(1)), on="g", how="left")
        .filter(F.col("__in_cg").isNotNull() | (F.col("__gmin") < F.col("doc_id")))
        .select("doc_id", "pos")
    )
    scov = dup_position_coverage(dup_pos)
    blen = batch_docs.select("doc_id", F.length("text").alias("__len"))

    g = gopher_rules(batch_docs).select("doc_id", "pass_gopher")

    btok = batch_docs.select(
        "doc_id", F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("token")
    ).filter(F.col("token") != "")
    bscore = (
        btok.join(
            F.broadcast(vocab.select("token").withColumn("__v", F.lit(1))),
            on="token",
            how="left",
        )
        .groupBy("doc_id")
        .agg(F.count("*").alias("__nt"), F.count("__v").alias("__niv"))
    )

    joined = (
        batch_docs.select("doc_id")
        .join(exact, on="doc_id")
        .join(F.broadcast(rejected), on="doc_id", how="left")
        .join(scov, on="doc_id", how="left")
        .join(blen, on="doc_id")
        .join(g, on="doc_id")
        .join(bscore, on="doc_id", how="left")
    )
    if holdout_mod is not None:
        # v3 gate 6 probe: the graded contamination_check plan against the
        # frozen holdout shingle set (DISTINCT shingles broadcast, batch
        # hits aggregate map-side — batch-proportional)
        contam = (
            contamination_check(batch_docs, None, eval_shingles=holdout_shingles)
            .select("doc_id")
            .withColumn("__cont", F.lit(1))
        )
        joined = joined.join(contam, on="doc_id", how="left")
        reason = F.when(
            F.col("doc_id") % holdout_mod == 0, F.lit("holdout")
        ).when(F.col("__xdup"), F.lit("exact_dup"))
    else:
        reason = F.when(F.col("__xdup"), F.lit("exact_dup"))
    reason = (
        reason.when(F.col("__rej").isNotNull(), F.lit("near_dup"))
        .when(
            (F.col("__len") > 0)
            & (10 * F.coalesce(F.col("dup_chars"), F.lit(0)) >= 3 * F.col("__len")),
            F.lit("span_dup"),
        )
        .when(F.col("pass_gopher") == 0, F.lit("gopher"))
        .when(2 * F.col("__niv") < F.col("__nt"), F.lit("rare_tokens"))
    )
    if holdout_mod is not None:
        reason = reason.when(F.col("__cont").isNotNull(), F.lit("contaminated"))
    return joined.select(
        "doc_id", reason.otherwise(F.lit("ok")).alias("reason")
    )


def incremental_prepare_tick(
    corpus: DataFrame, batch: DataFrame, holdout_mod: int | None = None
) -> DataFrame:
    """One ingest tick of the corpus-prepare pipeline, one-shot:
    ``prepare_gate``'s (doc_id, reason) decision rows for every ``batch``
    (doc_id, text) document against the ``corpus``; ``holdout_mod`` turns
    on the v3 emission gates.

    Every state the gate probes is derived in memory with the builder the
    prepare stream primes it with (``corpus_signature_state``,
    ``corpus_digest_state``, ``corpus_gram_state``, ``corpus_vocabulary``,
    ``holdout_shingle_state``) and the content fetch is the corpus itself,
    so this runs the exact gate the keyed-state ticks run.  Deriving the
    states is corpus-proportional work, which is why the ticks keep them
    stored instead."""
    from mistocksync_spark.operators.dedup import (
        corpus_digest_state,
        corpus_gram_state,
        corpus_signature_state,
        holdout_shingle_state,
    )

    corpus_docs = corpus.select("doc_id", "text")
    batch_docs = batch.select("doc_id", "text")
    return prepare_gate(
        batch_docs,
        corpus_signature_state(corpus_docs),
        corpus_signature_state(batch_docs).localCheckpoint(eager=False),
        corpus_digest_state(corpus_docs),
        corpus_gram_state(corpus_docs),
        corpus_vocabulary(corpus_docs),
        lambda ids: corpus_docs,
        holdout_mod,
        None if holdout_mod is None else holdout_shingle_state(corpus_docs, holdout_mod),
    )


def tfidf_term_weights(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_docs: int | None = None,
) -> DataFrame:
    """Exact-integer TF-IDF term weights → (doc_id, t, w) with
    w = tf(d, t) · ((1e6·N) div df(t)) as BIGINT — the shared base of
    ``hashed_tfidf_vectors`` and the cluster-term readout.  One corpus
    scan to (doc, token) counts (lazily checkpointed: the df aggregate
    and the join both consume it), one token-level df aggregate joined
    back on the token key."""
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("t"),
    ).filter(F.length("t") > 0)
    tf = toks.groupBy("doc_id", "t").agg(F.count(F.lit(1)).alias("tf"))
    tf = tf.localCheckpoint(eager=False)
    dfreq = tf.groupBy("t").agg(F.count(F.lit(1)).alias("df"))
    n = n_docs if n_docs is not None else tf.select("doc_id").distinct().count()
    # pre-multiply in Python: an inline `1000000 * n` would parse as
    # int32 × int32 and overflow under ANSI at n ≥ 2148
    idf = F.expr(f"CAST({1_000_000 * n} AS BIGINT) div df")
    return tf.join(dfreq, on="t").select("doc_id", "t", (F.col("tf") * idf).alias("w"))


def source_length_ks(df: DataFrame, len_col: str = "n_chars",
                     stratum_col: str = "source") -> DataFrame:
    """Distribution-drift monitor: exact two-sample Kolmogorov–Smirnov
    statistic of each source's document-length distribution against the
    whole corpus — the alarm that one ingest source started shipping
    truncated or concatenated documents.

    100 TB plan: lengths aggregate FIRST to (source, length) counts —
    the only pass over the corpus, with map-side combine — and every
    window below runs on that aggregated frame, whose size is bounded
    by #sources × #distinct-lengths, not by row count.  The CDF grid is
    the cross of the (tiny) source list with the (tiny) distinct-length
    list so each source's step-function CDF is evaluated at EVERY global
    jump point (the sup of |F_s - F| lives there).  All CDFs are exact
    integer-count quotients — deterministic cross-engine.
    """
    counts = df.groupBy(
        F.col(stratum_col).alias("source"), F.col(len_col).cast("long").alias("len")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    values = counts.select("len").distinct()
    sources = counts.groupBy("source").agg(F.sum("cnt").alias("n_docs"))
    grid = sources.crossJoin(F.broadcast(values))
    from pyspark.sql import Window

    filled = grid.join(counts, on=["source", "len"], how="left").select(
        "source", "len", "n_docs", F.coalesce(F.col("cnt"), F.lit(0)).alias("cnt")
    )
    w_s = Window.partitionBy("source").orderBy("len")
    total = sources.agg(F.sum("n_docs").alias("__total"))  # 1-row broadcast, no collect
    g_counts = counts.groupBy("len").agg(F.sum("cnt").alias("gcnt"))
    w_g = Window.orderBy("len")  # runs on the ≤#distinct-lengths aggregated frame
    g_cdf = (
        g_counts.select("len", F.sum("gcnt").over(w_g).alias("__gcum"))
        .crossJoin(F.broadcast(total))
        .select("len", (F.col("__gcum").cast("double") / F.col("__total")).alias("gcdf"))
    )
    s_cdf = filled.select(
        "source",
        "len",
        "n_docs",
        (F.sum("cnt").over(w_s).cast("double") / F.col("n_docs")).alias("scdf"),
    )
    j = s_cdf.join(F.broadcast(g_cdf), on="len")
    return j.groupBy("source", "n_docs").agg(
        F.max(F.abs(F.col("scdf") - F.col("gcdf"))).alias("ks_stat")
    )


def dsir_weights(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    target_pred: Column | None = None,
    dim: int = 4096,
) -> DataFrame:
    """DSIR-shaped importance weighting (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling" — public method):
    hashed-bigram bag-of-ngrams models for a TARGET slice and the whole
    corpus (the proposal), and a per-document importance score that ranks
    documents by how target-like their n-gram profile is.

    Deterministic variant: instead of the paper's log-probability sum
    (transcendental ``ln`` is not bit-identical across engines), the
    score is the MEAN smoothed count-ratio over the document's bigrams —
    the same monotone "target-like vs corpus-like" signal, built only
    from exact integer counts and IEEE divisions:

        r(b) = ((ct_b + 1) / (tot_t + D)) / ((cc_b + 1) / (tot_c + D))

    each quotient is an exact-int division (bit-identical), the ratio of
    the two quotients is one more IEEE op, and per-document accumulation
    micro-quantizes r(b) into exact integer sums.  ``selected`` marks
    documents whose mean ratio exceeds parity (1.0).

    100 TB plan: ONE corpus scan explodes bigrams and immediately
    collapses them to a (doc, bucket, count) frame — materialized once
    (lazy localCheckpoint), because the frame feeds THREE consumers
    (bucket counts, corpus totals, per-doc scoring) and Catalyst does
    not share common subplans across joins, so without it the md5
    featurization would run three times (13 s in a bench).  The
    bucket count table is bounded by ``dim`` — NOT corpus size — so it
    (and the 1-row totals) BROADCASTS back onto the per-doc frame;
    featurization is stateless hashing (no vocabulary to build or
    ship).  Two shuffles total (doc-bucket collapse + per-doc
    re-aggregation), zero Python.  Documents with fewer than two tokens
    have no bigram and no row.
    """
    if target_pred is None:
        target_pred = F.col("source").isin("src0", "src1")
    low = F.lower(F.col(text_col))
    toks = F.split(low, r"\s+")

    def bigramify(t: Column) -> Column:
        # explicit empty array for <2-token docs: sequence(1, 0) DESCENDS
        # in Spark instead of emitting empty, and a clamp would silently
        # hash a lone token (concat_ws skips the NULL neighbor) — fail
        # safe even without the filter below
        cnt = F.size(t) - 1
        grams = F.transform(
            F.sequence(F.lit(1), F.greatest(cnt, F.lit(1))),
            lambda i: F.concat_ws(" ", F.element_at(t, i), F.element_at(t, i + 1)),
        )
        return F.when(cnt >= 1, grams).otherwise(F.array().cast("array<string>"))

    stream = (
        df.select(
            F.col(id_col).alias("doc_id"),
            target_pred.cast("long").alias("__t"),
            F.explode(bigramify(toks)).alias("__bg"),
        )
        .select(
            "doc_id",
            "__t",
            (
                F.conv(F.substring(F.md5(F.col("__bg")), 1, 8), 16, 10).cast("long")
                % F.lit(dim)
            ).alias("bucket"),
        )
    )
    grouped = (
        stream.groupBy("doc_id", "__t", "bucket")
        .agg(F.count(F.lit(1)).alias("__k"))
        .localCheckpoint(eager=False)
    )
    counts = grouped.groupBy("bucket").agg(
        F.sum(F.col("__t") * F.col("__k")).alias("__ct"),
        F.sum("__k").alias("__cc"),
    )
    tot = counts.agg(
        F.sum("__ct").alias("__tott"), F.sum("__cc").alias("__totc")
    )
    ratio = (
        (F.col("__ct") + 1).cast("double") / (F.col("__tott") + F.lit(dim)).cast("double")
    ) / (
        (F.col("__cc") + 1).cast("double") / (F.col("__totc") + F.lit(dim)).cast("double")
    )
    prob = (
        counts.crossJoin(F.broadcast(tot))
        .select(
            "bucket",
            F.floor(ratio * F.lit(1e6) + F.lit(0.5)).cast("decimal(38,0)").alias("__qr"),
        )
    )
    # instance-weighted sums over the collapsed frame reproduce the
    # per-instance accumulation exactly: Σ_instances qr = Σ_buckets k·qr
    per_doc = grouped.join(F.broadcast(prob), on="bucket").groupBy("doc_id").agg(
        F.sum("__k").alias("n_bigrams"),
        (
            F.sum(F.col("__k").cast("decimal(38,0)") * F.col("__qr")).cast("double")
            / F.lit(1e6)
            / F.sum("__k")
        ).alias("dsir_score"),
    )
    return per_doc.select(
        "doc_id",
        "n_bigrams",
        "dsir_score",
        (F.col("dsir_score") > 1.0).cast("int").alias("selected"),
    )


def bpe_pair_counts(df: DataFrame, text_col: str = "text", top_k: int = 50) -> DataFrame:
    """BPE/WordPiece vocabulary-induction inner loop: corpus-weighted
    adjacent-character-pair counts, the statistic each merge round of
    tokenizer training maximizes (Sennrich et al. 2016, public method).

    100 TB plan — the classic BPE scaling trick: aggregate the corpus to
    the WORD-TYPE frequency table first (one shuffle, map-side combine;
    the table is bounded by vocabulary size, not corpus size), then
    explode character pairs over DISTINCT words only, weighting each
    pair by the word's corpus frequency.  The pair table is bounded by
    charset² and its aggregation is a second, tiny shuffle.  Exact
    integer counts throughout; the top-k order (count DESC, pair ASC) is
    total, so the emitted set is deterministic.
    """
    words = df.select(
        F.explode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("w")
    ).filter(F.length("w") > 0)
    wc = words.groupBy("w").agg(F.count(F.lit(1)).alias("__wn"))
    pairs = (
        wc.filter(F.length("w") >= 2)
        .select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.length("w") - 1),
                    lambda i: F.col("w").substr(i, F.lit(2)),
                )
            ).alias("pair"),
            "__wn",
        )
    )
    pc = pairs.groupBy("pair").agg(F.sum("__wn").alias("cnt"))
    return (
        pc.orderBy(F.col("cnt").desc(), F.col("pair").asc())
        .limit(top_k)
        .select("pair", F.col("cnt").cast("long").alias("cnt"))
    )


def bpe_learn_merges(
    df: DataFrame, text_col: str = "text", n_merges: int = 6
) -> DataFrame:
    """Full BPE merge LEARNING (Sennrich et al. 2016, public method): run
    ``n_merges`` rounds of count-adjacent-pairs → take the argmax → apply
    the merge, and return the learned merge table
    (merge_rank, lhs, rhs, pair_count) — the tokenizer-training loop that
    ``bpe_pair_counts`` is one round of.

    100 TB plan — the classic BPE scaling shape: the corpus is touched
    ONCE (word-type frequency groupBy, map-side combine; the working set
    is bounded by vocabulary size, not corpus size); every merge round
    then runs on the vocab-sized symbol table — one pair-count aggregate
    (exact integer counts), one 1-row argmax fetch (bounded driver
    collect, the convergence-probe pattern), and one merge application as
    a pure column ``aggregate`` fold (greedy left-to-right, no shuffle),
    with lineage truncated per round.  Determinism: integer counts and the
    total order (count DESC, lhs ASC, rhs ASC) make every argmax unique;
    the fold is sequential per word by construction.  The DuckDB oracle
    re-derives greedy merging through an independent formulation
    (parity-within-island selection over matched positions — proven
    equivalent to the left-to-right fold in tests/test_spans.py).
    """
    spark = df.sparkSession
    _, merges = _bpe_merge_loop(df, text_col, n_merges)
    return spark.createDataFrame(
        merges, "merge_rank int, lhs string, rhs string, pair_count long"
    )


def bpe_token_stats(
    df: DataFrame, text_col: str = "text", n_merges: int = 6, top_k: int = 50
) -> DataFrame:
    """ENCODE under the learned BPE: run the same merge loop, then report
    the top-``top_k`` subword tokens by corpus occurrence
    (token, corpus_count) — the vocabulary readout a tokenizer-training
    pipeline inspects (``vocab_topk`` is the word-level analogue; this is
    the subword table the learned merges induce).  Costs the learn loop
    plus ONE vocab-scale explode/aggregate; the total order
    (count DESC, token ASC) makes the emitted set deterministic."""
    words, _ = _bpe_merge_loop(df, text_col, n_merges)
    return (
        words.select(F.explode("symbols").alias("token"), "cnt")
        .groupBy("token")
        .agg(F.sum("cnt").cast("long").alias("corpus_count"))
        .orderBy(F.col("corpus_count").desc(), F.col("token").asc())
        .limit(top_k)
    )


def bpe_word_token_counts(
    df: DataFrame, text_col: str = "text", n_merges: int = 6
) -> DataFrame:
    """Tokens per word TYPE under the ``n_merges`` learned BPE merges →
    (w, n_tok): the lookup table that turns the trained tokenizer into
    per-document token ACCOUNTING (join each doc's words on ``w``, sum
    ``n_tok``) — what a data pipeline needs to budget a training run in
    tokens rather than documents.  The word string is recovered exactly
    as the concatenation of its symbols (merging only ever concatenates
    adjacent symbols of the same word), so the table is keyed on the
    original word and bounded by vocabulary size, not corpus size —
    it broadcasts."""
    words, _ = _bpe_merge_loop(df, text_col, n_merges)
    return words.select(
        F.array_join("symbols", "").alias("w"),
        F.size("symbols").cast("long").alias("n_tok"),
    )


def _bpe_merge_loop(df: DataFrame, text_col: str, n_merges: int):
    """Shared BPE training loop → (final word-type symbol table
    ``(symbols, cnt)``, learned ``[(rank, lhs, rhs, pair_count), ...]``)."""
    chars = F.expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))")
    words = (
        df.select(F.explode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("w"))
        .filter(F.length("w") > 0)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(chars.alias("symbols"), "cnt")
        .localCheckpoint(eager=False)
    )
    empty_pairs = F.array().cast("array<struct<l:string,r:string>>")
    adj = F.expr(
        "transform(sequence(1, size(symbols) - 1), "
        "i -> struct(element_at(symbols, i) AS l, element_at(symbols, i + 1) AS r))"
    )
    merges = []
    for rank in range(1, n_merges + 1):
        best = (
            words.select(
                F.explode(
                    F.when(F.size("symbols") >= 2, adj).otherwise(empty_pairs)
                ).alias("p"),
                "cnt",
            )
            .groupBy("p.l", "p.r")
            .agg(F.sum("cnt").alias("pc"))
            .orderBy(F.col("pc").desc(), F.col("l").asc(), F.col("r").asc())
            .limit(1)
            .collect()
        )
        if not best:
            break
        a, b, pc = best[0].l, best[0].r, best[0].pc
        merges.append((rank, a, b, int(pc)))
        null_s = F.lit(None).cast("string")
        fold = F.aggregate(
            F.col("symbols"),
            F.struct(
                F.array().cast("array<string>").alias("acc"), null_s.alias("prev")
            ),
            lambda s, x: F.when(
                s["prev"].isNull(), F.struct(s["acc"].alias("acc"), x.alias("prev"))
            )
            .when(
                (s["prev"] == F.lit(a)) & (x == F.lit(b)),
                F.struct(
                    F.concat(s["acc"], F.array(F.lit(a + b))).alias("acc"),
                    null_s.alias("prev"),
                ),
            )
            .otherwise(
                F.struct(
                    F.concat(s["acc"], F.array(s["prev"])).alias("acc"),
                    x.alias("prev"),
                )
            ),
            lambda s: F.when(s["prev"].isNull(), s["acc"]).otherwise(
                F.concat(s["acc"], F.array(s["prev"]))
            ),
        )
        words = words.select(fold.alias("symbols"), "cnt").localCheckpoint(eager=False)
    return words, merges


def token_cms_estimate(
    df: DataFrame,
    text_col: str = "text",
    depth: int = 4,
    width: int = 1024,
    top_k: int = 20,
) -> DataFrame:
    """Count-Min-sketch frequency estimation for the corpus's exact top-k
    tokens — the bounded-memory heavy-hitter primitive (Cormode &
    Muthukrishnan 2005, public method), graded against the exact counts
    computed alongside.

    The sketch is ``depth`` hash rows × ``width`` counters — bounded
    regardless of corpus size — built with ONE partial-agg shuffle of the
    token stream (each token contributes to ``depth`` cells); the
    estimate for a token is the MIN over its ``depth`` cells, which can
    only OVERestimate (collisions add, never subtract) — asserted by the
    ``overshoot`` column the oracle recomputes.  All md5-derived hashing
    and exact integer counters, so every value is bit-identical
    cross-engine.  At 100 TB sketch merges are plain cell-wise sums
    (map-side combine does them for free).
    """
    toks = df.select(
        F.explode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("tok")
    ).filter(F.length("tok") > 0)

    def bucket(col: Column, seed: int) -> Column:
        return (
            F.conv(
                F.substring(F.md5(F.concat(F.lit(f"{seed}|"), col)), 1, 8), 16, 10
            ).cast("long")
            % F.lit(width)
        )

    cells = toks.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).alias("seed"), bucket(F.col("tok"), d).alias("bucket")
                    )
                    for d in range(depth)
                ]
            )
        ).alias("c")
    ).select("c.seed", "c.bucket")
    sketch = cells.groupBy("seed", "bucket").agg(F.count(F.lit(1)).alias("__cell"))

    exact = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("exact_cnt"))
    top = exact.orderBy(F.col("exact_cnt").desc(), F.col("tok").asc()).limit(top_k)
    probes = top.select(
        "tok",
        "exact_cnt",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).alias("seed"), bucket(F.col("tok"), d).alias("bucket")
                    )
                    for d in range(depth)
                ]
            )
        ).alias("p"),
    ).select("tok", "exact_cnt", "p.seed", "p.bucket")
    est = (
        probes.join(F.broadcast(sketch), on=["seed", "bucket"])
        .groupBy("tok", "exact_cnt")
        .agg(F.min("__cell").alias("cms_est"))
    )
    return est.select(
        "tok",
        "exact_cnt",
        "cms_est",
        (F.col("cms_est") - F.col("exact_cnt")).alias("overshoot"),
    )
