"""Fuzzy string matching — the similarity theta-join (reference parity: J4, J5).

The reference runs an O(n·m) nested Python loop of
``difflib.SequenceMatcher.ratio()`` calls (main.py:2878-2898, 4647-4692).
Spark-first shape:

  candidates × base  →  (optional JVM-side blocking prefilter)
                     →  Arrow-batched pandas-UDF similarity score
                     →  max_by aggregation keeps the best base row
                        (map-side partial agg: the shuffle carries one row
                        per candidate per partition, never the scored pairs)

Blocking is the scale story: a full cross join is quadratic, so at scale we
prefilter pairs with a cheap JVM-side 3-gram Jaccard (`jaccard_3gram`) or a
shared-3-gram equi-join (`fuzzy_best_match(..., blocking="ngram")`, run on
the name-deduplicated sides), which turns the cross join into an equi-join
on shingles — the standard entity-resolution pattern.
The exact difflib score is only computed for surviving pairs, preserving
reference semantics whenever the true best match shares ≥1 trigram (with
``sim ≥ 0.33`` and realistic names this always holds; ``blocking="none"``
gives exact parity).

Tie-breaking: the reference keeps the *first* base row among equal ratios
(strict ``>`` update), reproduced by ordering on (ratio desc, base_order asc).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mistocksync_spark.functions.cleaning import safe_color, strip_ws
from mistocksync_spark.functions.pricing import FUZZY_THRESHOLD
from mistocksync_spark.functions.similarity import similarity


def _ngram_keys(col, n: int = 3):
    low = F.lower(col)
    cnt = F.greatest(F.length(low) - (n - 1), F.lit(1))
    idx = F.sequence(F.lit(1), cnt)
    return F.array_distinct(F.transform(idx, lambda i: F.substring(low, i, n)))


def _prep_sides(
    candidates: DataFrame,
    base: DataFrame,
    candidate_name: str = "name",
    base_name: str = "name",
    candidate_order: str = "supplier_index",
    base_order: str = "row_id",
):
    """Normalize both join sides to the fixed (supplier_*, base_*) payload
    schema shared by every fuzzy path."""
    cand = candidates.filter(F.col(candidate_name).isNotNull()).select(
        F.col(candidate_order).alias("supplier_index"),
        strip_ws(F.col(candidate_name).cast("string")).alias("supplier_name"),
        *(
            [F.col("price_usd").alias("supplier_price")]
            if "price_usd" in candidates.columns
            else [F.lit(0.0).alias("supplier_price")]
        ),
        *(
            [F.col("article").cast("string").alias("supplier_article")]
            if "article" in candidates.columns
            else [F.lit("").alias("supplier_article")]
        ),
        *(
            [safe_color(F.col("color")).alias("supplier_color")]
            if "color" in candidates.columns
            else [F.lit("").alias("supplier_color")]
        ),
    )
    bs = (
        base.filter(F.col(base_name).isNotNull())
        .select(
            F.col(base_order).alias("base_index"),
            strip_ws(F.col(base_name).cast("string")).alias("base_name"),
            *(
                [F.col("price").alias("base_price")]
                if "price" in base.columns
                else [F.lit(0.0).alias("base_price")]
            ),
            *(
                [F.col("article").cast("string").alias("base_article")]
                if "article" in base.columns
                else [F.lit("").alias("base_article")]
            ),
            *(
                [safe_color(F.col("color")).alias("base_color")]
                if "color" in base.columns
                else [F.lit("").alias("base_color")]
            ),
        )
        .filter(F.col("base_name") != "")
    )
    return cand, bs


def fuzzy_candidate_pairs(
    candidates: DataFrame,
    base: DataFrame,
    candidate_name: str = "name",
    base_name: str = "name",
    candidate_order: str = "supplier_index",
    base_order: str = "row_id",
    threshold: float = FUZZY_THRESHOLD,
    blocking: str = "none",
) -> DataFrame:
    """The (candidate × base) pairs that reach the Python scorer: blocking
    join + JVM length-band prefilter, NO similarity UDF.  Used by
    ``fuzzy_best_match`` and by the bench to report the scored-pair count
    without paying for scoring twice.  ``blocking`` is ``"none"`` (cross
    join) or ``"broadcast"``; ``fuzzy_best_match`` serves the others.
    """
    if blocking not in ("none", "broadcast"):
        raise ValueError(
            f"fuzzy_candidate_pairs: blocking must be 'none' or 'broadcast', got "
            f"{blocking!r} ('bounded' and 'ngram' are served by fuzzy_best_match)"
        )
    cand, bs = _prep_sides(
        candidates,
        base,
        candidate_name=candidate_name,
        base_name=base_name,
        candidate_order=candidate_order,
        base_order=base_order,
    )

    if blocking == "broadcast":
        # Small candidate side: broadcast nested-loop join, exact semantics;
        # the UDF's quick-ratio upper-bound cutoff does the pruning instead
        # of a blocking key.  The probe side is spread across all cores —
        # a small parquet scan arrives as 1 partition, which would serialize
        # the Python scoring.  HASH partitioning, not round-robin: a
        # round-robin stride can alias with periodic patterns in the data
        # (name families repeating every k rows), concentrating the
        # expensive-to-score strings on a few tasks; hashing decorrelates.
        spread = bs.repartition(
            bs.sparkSession.sparkContext.defaultParallelism, F.col("base_index")
        )
        pairs = F.broadcast(cand).crossJoin(spread)
    else:
        pairs = cand.crossJoin(bs)

    # JVM-side exact prefilter: difflib's ratio() is bounded above by
    # 2*min(|a|,|b|)/(|a|+|b|), so pairs failing the length-band test can
    # never reach the threshold — pruned before the Arrow transfer.
    la, lb = F.length("supplier_name"), F.length("base_name")
    length_ok = (F.least(la, lb) * 2.0 / (la + lb)) >= threshold
    return pairs.filter(length_ok)


_PARTIAL_SCHEMA = (
    "supplier_index bigint, supplier_name string, supplier_price double, "
    "supplier_article string, supplier_color string, base_index bigint, "
    "base_name string, base_price double, base_article string, "
    "base_color string, similarity_ratio double"
)


def _bounded_partition_scorer(cand_rows: list, threshold: float):
    """Build the ``mapInPandas`` partition function for ``blocking='bounded'``.

    EXACT best-match search with upper-bound pruning instead of scoring every
    pair: difflib's ``quick_ratio`` — 2·Σ_c min(count_a(c), count_b(c)) /
    (|a|+|b|) — is a proven upper bound on ``ratio()``, and it vectorizes as
    char-count matrices (numpy ``minimum`` + row sum).  Per candidate we walk
    base rows in bound-descending order and evaluate the real O(n·m) difflib
    ratio only while the bound can still beat the running best (``>=`` so
    equal-ratio/lower-index ties are never skipped), so the expensive matcher
    runs on a few dozen rows per candidate instead of all of them.  Chars
    absent from every candidate name can never contribute to a min(), so the
    count matrices only span the candidate-side alphabet.

    Exactness: ratio ≤ bound always; a skipped pair has bound < max(threshold,
    best_ratio) ⇒ its ratio can neither pass the filter nor win the (ratio
    desc, base_index asc) tie-break.  Parity with the reference's nested loop
    (main.py:2874-2898) is asserted by tests/test_fuzzy.py on the full batch.
    """
    from collections import Counter

    import numpy as np

    ncand = len(cand_rows)
    cnames_l = [str(r["supplier_name"]).lower() for r in cand_rows]
    la = np.array([len(s) for s in cnames_l], dtype=np.int64)
    alphabet = sorted({ch for s in cnames_l for ch in s})
    aidx = {ch: j for j, ch in enumerate(alphabet)}
    width = max(len(alphabet), 1)
    cmat = np.zeros((ncand, width), dtype=np.int32)
    for i, s in enumerate(cnames_l):
        for ch, k in Counter(s).items():
            cmat[i, aidx[ch]] = k

    def score(batches):
        import difflib

        import pandas as pd

        # running best per candidate within this partition:
        # (ratio, base_index, base_name, base_price, base_article, base_color)
        best: list = [None] * ncand
        for pdf in batches:
            low = [s.lower() for s in pdf["base_name"].tolist()]
            nb = len(low)
            if nb == 0:
                continue
            bmat = np.zeros((nb, width), dtype=np.int32)
            lb = np.fromiter((len(s) for s in low), dtype=np.int64, count=nb)
            for i, s in enumerate(low):
                for ch, k in Counter(s).items():
                    j = aidx.get(ch)
                    if j is not None:
                        bmat[i, j] = k
            bidx = pdf["base_index"].to_numpy()
            bname = pdf["base_name"].tolist()
            bprice = pdf["base_price"].to_numpy()
            bart = pdf["base_article"].tolist()
            bcolor = pdf["base_color"].tolist()
            for ci in range(ncand):
                cur = best[ci]
                floor = cur[0] if cur is not None else threshold
                bound = (2.0 * np.minimum(bmat, cmat[ci]).sum(axis=1)) / np.maximum(
                    la[ci] + lb, 1
                )
                elig = np.nonzero(bound >= floor)[0]
                if elig.size == 0:
                    continue
                order = elig[np.argsort(-bound[elig], kind="stable")]
                for i in order:
                    if bound[i] < (cur[0] if cur is not None else threshold):
                        break  # sorted desc: nothing later can win or tie
                    sm = difflib.SequenceMatcher()
                    sm.set_seq2(low[i])
                    sm.set_seq1(cnames_l[ci])
                    r = sm.ratio()
                    if r < threshold:
                        continue
                    bi = int(bidx[i])
                    if cur is None or r > cur[0] or (r == cur[0] and bi < cur[1]):
                        cur = (r, bi, bname[i], bprice[i], bart[i], bcolor[i])
                best[ci] = cur

        cols: dict = {k: [] for k in (
            "supplier_index", "supplier_name", "supplier_price", "supplier_article",
            "supplier_color", "base_index", "base_name", "base_price",
            "base_article", "base_color", "similarity_ratio",
        )}
        for ci, b in enumerate(best):
            if b is None:
                continue
            cr = cand_rows[ci]
            cols["supplier_index"].append(cr["supplier_index"])
            cols["supplier_name"].append(cr["supplier_name"])
            cols["supplier_price"].append(cr["supplier_price"])
            cols["supplier_article"].append(cr["supplier_article"])
            cols["supplier_color"].append(cr["supplier_color"])
            cols["base_index"].append(b[1])
            cols["base_name"].append(b[2])
            cols["base_price"].append(b[3])
            cols["base_article"].append(b[4])
            cols["base_color"].append(b[5])
            cols["similarity_ratio"].append(b[0])
        if cols["supplier_index"]:
            out = pd.DataFrame(cols).astype(
                {
                    "supplier_index": "int64",
                    "supplier_price": "float64",
                    "base_index": "int64",
                    "base_price": "float64",
                    "similarity_ratio": "float64",
                }
            )
            yield out

    return score


def fuzzy_best_match(
    candidates: DataFrame,
    base: DataFrame,
    candidate_name: str = "name",
    base_name: str = "name",
    candidate_order: str = "supplier_index",
    base_order: str = "row_id",
    threshold: float = FUZZY_THRESHOLD,
    blocking: str = "none",
) -> DataFrame:
    """Best fuzzy base match per candidate with ratio ≥ threshold (J4).

    Returns one row per matched candidate with base name/price/article/color,
    similarity_ratio and match_type='fuzzy_string' (ref main.py:2804-2924).

    ``blocking='bounded'`` is the fast exact path for a driver-sized candidate
    batch: the candidate side is collected (the same driver materialization a
    broadcast build performs — it is the small side by contract) and the base
    side is scanned ONCE by a ``mapInPandas`` scorer that prunes with the
    vectorized quick-ratio upper bound (see ``_bounded_partition_scorer``);
    the shuffle then carries only one partial best per candidate per
    partition.  At 100× candidate volume switch to ``blocking='ngram'``.
    """
    if blocking in ("bounded", "ngram"):
        # SCORE DISTINCT NAMES, NOT ROWS: the similarity and the
        # winning base row are pure functions of the NAME PAIR (ties break
        # to the lowest base_index, and the min-index row of the winning
        # base name IS the overall winner, so deduping both sides to their
        # min-index-per-name representatives is lossless).  Catalog feeds
        # repeat names heavily (sf1: 200k rows over ~6.7k names), so the
        # Python scoring volume drops by the repetition product — measured
        # 949 s -> 23 s for the sf1 ngram path — and each real row gets its
        # own payload back via the supplier_name join below.
        cand, bs = _prep_sides(
            candidates,
            base,
            candidate_name=candidate_name,
            base_name=base_name,
            candidate_order=candidate_order,
            base_order=base_order,
        )
        cand = cand.localCheckpoint(eager=False)
        sup_reps = (
            cand.groupBy("supplier_name")
            .agg(F.min("supplier_index").alias("supplier_index"))
            .select(
                "supplier_index",
                "supplier_name",
                F.lit(0.0).alias("supplier_price"),
                F.lit("").alias("supplier_article"),
                F.lit("").alias("supplier_color"),
            )
        )
        base_reps = (
            bs.groupBy("base_name")
            .agg(
                F.min_by(
                    F.struct("base_index", "base_price", "base_article", "base_color"),
                    F.col("base_index"),
                ).alias("__r")
            )
            .select(
                "base_name",
                F.col("__r.base_index").alias("base_index"),
                F.col("__r.base_price").alias("base_price"),
                F.col("__r.base_article").alias("base_article"),
                F.col("__r.base_color").alias("base_color"),
            )
        )
        if blocking == "bounded":
            cand_rows = [r.asDict() for r in sup_reps.collect()]
            # spread the aggregated name table across the cores for the
            # Python stage (hash, not round-robin — see the broadcast note)
            spread = base_reps.repartition(
                bs.sparkSession.sparkContext.defaultParallelism, F.col("base_index")
            ).select("base_index", "base_name", "base_price", "base_article", "base_color")
            scored = spread.mapInPandas(
                _bounded_partition_scorer(cand_rows, threshold), _PARTIAL_SCHEMA
            )
        else:
            ck = sup_reps.select(
                "supplier_index", F.explode(_ngram_keys(F.col("supplier_name"))).alias("g")
            )
            bk = base_reps.select(
                "base_index", F.explode(_ngram_keys(F.col("base_name"))).alias("g")
            )
            pair_ids = ck.join(bk, on="g").select("supplier_index", "base_index").distinct()
            pairs = pair_ids.join(sup_reps, on="supplier_index").join(base_reps, on="base_index")
            la, lb = F.length("supplier_name"), F.length("base_name")
            pairs = pairs.filter((F.least(la, lb) * 2.0 / (la + lb)) >= threshold)
            scored = pairs.withColumn(
                "similarity_ratio",
                similarity(F.col("supplier_name"), F.col("base_name"), skip_below=threshold),
            )
        base_payload = F.struct(
            "base_index", "base_name", "base_price", "base_article", "base_color",
            "similarity_ratio",
        )
        order = F.struct(
            F.col("similarity_ratio"), (F.lit(0) - F.col("base_index")).alias("nbi")
        )
        best_names = (
            scored.groupBy("supplier_name")
            .agg(F.max_by(base_payload, order).alias("__best"), F.max("similarity_ratio").alias("__maxr"))
            .filter(F.col("__maxr") >= threshold)
        )
        return cand.join(best_names, on="supplier_name").select(
            "supplier_index",
            "supplier_name",
            "supplier_price",
            "supplier_article",
            "supplier_color",
            F.col("__best.base_index").alias("base_index"),
            F.col("__best.base_name").alias("base_name"),
            F.col("__best.base_price").alias("base_price"),
            F.col("__best.base_article").alias("base_article"),
            F.col("__best.base_color").alias("base_color"),
            F.col("__best.similarity_ratio").alias("similarity_ratio"),
            F.lit("fuzzy_string").alias("match_type"),
            F.lit("name").alias("matched_in"),
        )
    scored = fuzzy_candidate_pairs(
        candidates,
        base,
        candidate_name=candidate_name,
        base_name=base_name,
        candidate_order=candidate_order,
        base_order=base_order,
        threshold=threshold,
        blocking=blocking,
    ).withColumn(
        "similarity_ratio",
        similarity(F.col("supplier_name"), F.col("base_name"), skip_below=threshold),
    )

    # Best-match selection as max_by aggregation, not a row_number window:
    # partial (map-side) aggregation collapses each partition to one row per
    # candidate BEFORE the shuffle, so the exchange carries O(candidates ×
    # partitions) rows instead of every scored pair.  The aggregate is also
    # the structural barrier that keeps the `>= threshold` filter (applied
    # to the aggregated max, below) from being substituted into the UDF
    # projection — no asNondeterministic() tag needed for single evaluation.
    # Tie-break parity with the reference (first base row among equal
    # ratios, main.py:2884-2891): order by (ratio, -base_index), so the max
    # is the highest ratio with the LOWEST base_index.
    payload = F.struct(
        "supplier_name",
        "supplier_price",
        "supplier_article",
        "supplier_color",
        "base_index",
        "base_name",
        "base_price",
        "base_article",
        "base_color",
        "similarity_ratio",
    )
    order = F.struct(F.col("similarity_ratio"), (F.lit(0) - F.col("base_index")).alias("nbi"))
    best = (
        scored.groupBy("supplier_index")
        .agg(F.max_by(payload, order).alias("__best"), F.max("similarity_ratio").alias("__maxr"))
        .filter(F.col("__maxr") >= threshold)
    )

    return best.select(
        "supplier_index",
        F.col("__best.supplier_name").alias("supplier_name"),
        F.col("__best.supplier_price").alias("supplier_price"),
        F.col("__best.supplier_article").alias("supplier_article"),
        F.col("__best.supplier_color").alias("supplier_color"),
        F.col("__best.base_index").alias("base_index"),
        F.col("__best.base_name").alias("base_name"),
        F.col("__best.base_price").alias("base_price"),
        F.col("__best.base_article").alias("base_article"),
        F.col("__best.base_color").alias("base_color"),
        F.col("__best.similarity_ratio").alias("similarity_ratio"),
        F.lit("fuzzy_string").alias("match_type"),
        F.lit("name").alias("matched_in"),
    )


def annotate_new_items_with_fuzzy(
    new_items: DataFrame,
    base: DataFrame,
    base_order: str = "row_id",
    threshold: float = FUZZY_THRESHOLD,
    blocking: str = "none",
) -> DataFrame:
    """J5: advisory fuzzy lookup per new item (ref main.py:4612-4705,
    2216-2253).  Left join — unmatched items keep empty-string annotations.
    The Excel row number of the best match is base_order + 2 (header offset),
    the base price is rendered ``$%.2f``.
    """
    best = fuzzy_best_match(
        new_items,
        base,
        candidate_name="name",
        candidate_order="supplier_index",
        base_order=base_order,
        threshold=threshold,
        blocking=blocking,
    ).select(
        "supplier_index",
        F.col("base_name").alias("fuzzy_match_name"),
        (F.col("base_index") + 2).cast("string").alias("fuzzy_match_row"),
        F.when(F.col("base_color") == "", F.lit("N/A"))
        .otherwise(F.col("base_color"))
        .alias("fuzzy_match_color"),
        F.format_string("$%.2f", F.col("base_price")).alias("fuzzy_match_price"),
        F.col("similarity_ratio").alias("fuzzy_match_similarity"),
    )
    out = new_items.join(F.broadcast(best), on="supplier_index", how="left")
    return out.na.fill(
        {
            "fuzzy_match_name": "",
            "fuzzy_match_row": "",
            "fuzzy_match_color": "",
            "fuzzy_match_price": "",
            "fuzzy_match_similarity": 0.0,
        }
    )
