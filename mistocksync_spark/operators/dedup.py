"""Deduplication operators for large-scale document pipelines.

Not part of the reference surface (BASELINE.json north-star extension), but
designed with the same discipline: pure DataFrame plans, shuffle on small
derived keys, no Python in the hot path.

- exact_dedup: hash-groupBy on md5(text) — one shuffle on a 32-char key.
- shingles: word n-gram sets (distinct) as an array column.
- minhash_signatures: k min-hashes via min(md5(seed||shingle)) — the
  explode is (docs × shingles × seeds) but reduces map-side via partial
  min aggregation before the shuffle.
- lsh_candidate_pairs: band the signature (r rows/band), join docs on
  (band, band_key) — the classic MinHash-LSH plan: candidate generation is
  an equi-join on band keys, never a cross join.  At 100 TB the band join
  shuffles only (doc_id, band_key) pairs; skewed bands (boilerplate docs)
  are handled by AQE skew-join splitting.
- ngram_jaccard_pairs: exact Jaccard via shingle equi-join + group count —
  used to verify LSH candidates or as a standalone near-dup scorer.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup groups: md5(text) → keep-id (min), occurrence count."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("text_hash"))
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count("*").alias("occurrences"),
        )
    )


def word_shingles(text: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles of the lowercased text.

    The token array is bound as a lambda variable (via a 1-element-array
    ``transform``) so ``split`` is evaluated once per row — referencing the
    split expression directly inside the per-gram lambda would re-evaluate
    it for every ``element_at`` (O(tokens²) per row, ~20× slower measured).
    """
    tokens = F.split(F.lower(text), r"\s+")

    def gramify(t: Column) -> Column:
        cnt = F.size(t) - (n - 1)
        grams = F.transform(
            F.sequence(F.lit(1), F.greatest(cnt, F.lit(1))),
            lambda i: F.concat_ws(" ", *[F.element_at(t, i + j) for j in range(n)]),
        )
        return F.when(cnt > 0, grams).otherwise(F.array().cast("array<string>"))

    return F.array_distinct(F.flatten(F.transform(F.array(tokens), gramify)))


def shingle_table(df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3) -> DataFrame:
    """(id, shingle) exploded table — the base relation for minhash/jaccard."""
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(word_shingles(F.col(text_col), n)).alias("shingle"),
    )


def minhash_signatures(
    shingles: DataFrame, num_hashes: int = 8
) -> DataFrame:
    """One row per (doc_id, seed) with the min-hash.

    Hash family: md5 over ``seed || '|' || shingle`` — portable (identical
    in any engine with md5) and uniform; min over the hex string is the
    min-hash.  Computed as ``num_hashes`` parallel MIN aggregates in ONE
    groupBy (map-side partial mins, no seed-explosion shuffle: the shuffle
    carries |docs| × num_hashes values, not |shingles| × num_hashes rows),
    then unpivoted to the (doc_id, seed, minhash) long format.
    """
    min_aggs, pairs = _minhash_exprs(num_hashes)
    wide = shingles.groupBy("doc_id").agg(*min_aggs)
    return wide.select("doc_id", pairs.alias("p")).select(
        "doc_id", F.col("p.seed").alias("seed"), F.col("p.minhash").alias("minhash")
    )


def _minhash_exprs(num_hashes: int):
    """The per-seed min-hash aggregates and the unpivot explode, bound to
    the fixed ``shingle``/``mh{s}`` names, as Spark SQL text (one parse per
    Column instead of one py4j round trip per node)."""
    min_aggs = [
        F.expr(f"min(md5(concat_ws('|', {s}, shingle))) AS mh{s}") for s in range(num_hashes)
    ]
    structs = ", ".join(
        f"struct(CAST({s} AS INT) AS seed, mh{s} AS minhash)" for s in range(num_hashes)
    )
    return min_aggs, F.expr(f"explode(array({structs}))")


def lsh_bands(signatures: DataFrame, rows_per_band: int = 2) -> DataFrame:
    """Band the signature: band_key = md5(concat of the band's min-hashes in
    seed order)."""
    banded = signatures.withColumn("band", (F.col("seed") / rows_per_band).cast("long"))
    return (
        banded.groupBy("doc_id", "band")
        .agg(
            F.md5(
                F.concat_ws(
                    "|",
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("seed", "minhash"))),
                        lambda s: s["minhash"],
                    ),
                )
            ).alias("band_key")
        )
    )


def lsh_candidate_pairs(bands: DataFrame) -> DataFrame:
    """Distinct doc pairs (a < b) sharing at least one band key.

    Both self-join sides read the same banded signatures; persistence is
    the CALLER's decision (pass a ``localCheckpoint``-ed / persisted
    ``bands`` to evaluate the shingle→minhash→band pipeline once).  An
    unconditional ``.cache()`` here was measured ~1 s SLOWER on the cold
    single-shot path and leaked cache entries across queries in one
    session, so the operator does not persist.
    """
    left = bands.select(F.col("band"), F.col("band_key"), F.col("doc_id").alias("doc_a"))
    right = bands.select(F.col("band"), F.col("band_key"), F.col("doc_id").alias("doc_b"))
    return (
        left.join(right, on=["band", "band_key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def ngram_jaccard_pairs(
    shingles: DataFrame, threshold: float = 0.5
) -> DataFrame:
    """Exact Jaccard over distinct shingle sets, via shingle equi-join.

    Plan: sizes = |A| per doc (one agg); intersections via self-join on the
    shingle key + group by pair; jaccard = i / (|A|+|B|-i).  Never quadratic
    in docs — only pairs sharing ≥1 shingle materialize.
    """
    sizes = shingles.groupBy("doc_id").agg(F.count("*").alias("n"))
    a = shingles.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = shingles.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        a.join(b, on="shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("i"))
    )
    return (
        inter.join(sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na")), on="doc_a")
        .join(sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb")), on="doc_b")
        .withColumn("jaccard", F.col("i") / (F.col("na") + F.col("nb") - F.col("i")))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))
    )


def simhash(df: DataFrame, text_col: str = "text", id_col: str = "doc_id", nbits: int = 60) -> DataFrame:
    """Per-doc SimHash over distinct word tokens (portable hash family).

    Token bit b is bit ``b % 4`` of hex digit ``b // 4`` of md5(token); the
    signature bit is the sign of the per-bit vote sum.  The vote sums are
    nbits plain SUM aggregates over ``element_at`` — one shuffle keyed by
    doc_id with map-side partial aggregation, no nbits× row blow-up.
    """
    tokens = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.array_distinct(F.split(F.lower(F.col(text_col)), r"\s+"))).alias("token"),
    )
    contrib, vote_aggs, sig = _simhash_exprs(nbits)
    votes = tokens.select("doc_id", contrib.alias("c")).groupBy("doc_id").agg(*vote_aggs)
    return votes.select("doc_id", sig.alias("simhash"))


def _simhash_exprs(nbits: int):
    """The nbits-term simhash expression set (contrib array, vote
    aggregates, signature fold), bound to the fixed ``token``/``c``/
    ``s{b}`` names ``simhash`` projects, as Spark SQL text: one parse per
    Column instead of ~500 py4j round trips.  The parentheses are explicit
    because SQL binds ``*`` tighter than ``&``."""
    bits = ", ".join(
        f"(((shiftright(CAST(conv(substring(md5(token), {b // 4 + 1}, 1), 16, 10) AS INT), {b % 4})"
        " & 1) * 2) - 1)"
        for b in range(nbits)
    )
    vote_aggs = [F.expr(f"sum(element_at(c, {b + 1})) AS s{b}") for b in range(nbits)]
    fold = " + ".join(
        ["CAST(0 AS BIGINT)"]
        + [f"CASE WHEN s{b} >= 0 THEN {1 << b} ELSE 0 END" for b in range(nbits)]
    )
    return F.expr(f"array({bits})"), vote_aggs, F.expr(fold)


def connected_components(pairs: DataFrame, max_iterations: int = 25) -> DataFrame:
    """Connected components over near-dup pairs → (doc_id, cluster_id).

    ``pairs`` is an edge list (doc_a, doc_b); the output assigns every node
    appearing in an edge the minimum doc_id reachable in its component —
    the canonical representative used to pick one survivor per duplicate
    cluster in a training-data pipeline.

    Plan: min-label propagation.  Each round is one equi-join of the edge
    list against the current labels plus a groupBy(min); rounds needed =
    graph diameter, and duplicate clusters are near-cliques (diameter ≤ 2-3
    hops), so convergence is a handful of rounds.  ``localCheckpoint``
    truncates the lineage so the loop cannot build an exponentially deep
    plan.  At 100 TB the same loop holds — every round shuffles only
    (node, label) pairs keyed by node; for adversarial long-chain graphs
    swap in large-star/small-star (Kiveris et al.), which squares the
    reachable set per round instead.
    """
    # Symmetrize via explode, not union-of-swapped: a union evaluates the
    # (possibly expensive) pair-generation subplan once PER BRANCH inside
    # the checkpoint job; the explode evaluates it once.
    edges = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")),
                    F.struct(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")),
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
        # lazy: materializes inside the first propagation block's job
        # instead of as a separate up-front job (driver-side job count is
        # the variance lever: the cold spread is scheduling jitter across
        # the iterative jobs, not plan cost); the persist still
        # guarantees the edge subplan evaluates once.
        .localCheckpoint(eager=False)
    )

    labels = (
        edges.select(F.col("src").alias("node")).distinct().withColumn("cluster_id", F.col("node"))
    ).localCheckpoint(eager=False)

    def propagate(cur: DataFrame) -> DataFrame:
        neighbor_min = (
            edges.join(cur.select("node", "cluster_id"), edges.dst == F.col("node"))
            .groupBy("src")
            .agg(F.min("cluster_id").alias("nbr_min"))
        )
        new_label = F.least(F.col("cluster_id"), F.coalesce(F.col("nbr_min"), F.col("cluster_id")))
        return cur.join(neighbor_min, cur.node == neighbor_min.src, "left").select(
            "node", new_label.alias("cluster_id"), "__orig"
        )

    # Three propagation rounds per checkpoint + convergence probe: each
    # materialization is a full Spark job, and duplicate clusters converge
    # in 2-4 rounds, so fewer materializations matters more than detecting
    # convergence a round earlier.  Labels only DECREASE, so "changed" is
    # simply cluster_id < a previously snapshotted label.  The snapshot
    # (__orig) is re-taken before EVERY round, so the probe measures the
    # LAST round of the block alone: min-label propagation is converged iff
    # one full round is a fixed point, so a graph whose labels settle by the
    # block's final round is detected inside that SAME checkpoint job —
    # near-clique duplicate graphs finish in ONE job where the
    # block-start snapshot needed a second just to observe zero change.
    # The
    # probe is folded into the checkpoint materialization: a LAZY
    # localCheckpoint plus one full-scan aggregate persists every partition
    # AND returns the changed count in a single job.
    # 4 rounds/block: duplicate graphs converge in 2-4 rounds, so one
    # block job detects the fixed point for diameter ≤ 3 where 3 rounds
    # needed a second block just to observe zero change.
    rounds_per_check = 4
    changed = 1
    done = 0
    while done < max_iterations:
        cur = labels
        for _ in range(min(rounds_per_check, max_iterations - done)):
            cur = propagate(cur.withColumn("__orig", F.col("cluster_id")))
            done += 1
        cur = cur.localCheckpoint(eager=False)
        changed = cur.agg(
            F.count(F.when(F.col("cluster_id") < F.col("__orig"), True)).alias("c")
        ).collect()[0][0]
        labels = cur.drop("__orig")
        if changed == 0:
            break
    if changed != 0:
        # falling through with stale labels would silently split clusters
        raise RuntimeError(
            f"connected_components did not converge in {max_iterations} rounds; "
            "component diameter exceeds the iteration budget — raise "
            "max_iterations (or switch to large-star/small-star for "
            "adversarial long-chain graphs)"
        )
    return labels.select(F.col("node").alias("doc_id"), "cluster_id")


def dedup_cluster_histogram(
    doc_ids: DataFrame, pairs: DataFrame | None = None, labels: DataFrame | None = None
) -> DataFrame:
    """Duplication profile of the corpus: how many clusters of each size —
    the first number a dedup stage reports ("X% of the corpus is in
    duplicate clusters of size ≥ 2") and the sanity check that near-dup
    thresholds aren't collapsing the corpus into one giant component.

    Docs in no near-dup pair are singleton clusters (size 1), so the
    histogram covers the WHOLE corpus, not just the paired subgraph.  Plan:
    connected components over the pairs, a broadcast left join of the (small,
    paired-nodes-only) label table onto the doc ids, then two map-side-
    partial groupBys whose inputs are one row per doc and one row per
    cluster respectively.

    Pass precomputed ``labels`` (a ``connected_components`` result) when the
    caller also runs the clusters/survivors stages: CC is the expensive
    iterative part and the label frame is already materialized via
    localCheckpoint, so sharing it makes this a labels-join + two tiny
    groupBys instead of a full re-derivation (without it the histogram
    re-runs pair generation + CC from scratch, 7× its sibling's cost).
    """
    if labels is None:
        if pairs is None:
            raise ValueError("dedup_cluster_histogram needs pairs or precomputed labels")
        labels = connected_components(pairs)
    full = doc_ids.select("doc_id").join(
        F.broadcast(labels), on="doc_id", how="left"
    ).select(
        "doc_id", F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias("cluster_id")
    )
    sizes = full.groupBy("cluster_id").agg(F.count("*").alias("cluster_size"))
    return sizes.groupBy("cluster_size").agg(
        F.count("*").alias("n_clusters"),
        F.sum("cluster_size").alias("n_docs"),
    )


def minhash_estimate(sigs: DataFrame, pairs: DataFrame) -> DataFrame:
    """MinHash-estimated Jaccard for candidate pairs: the fraction of seeds
    whose min-hashes agree is an unbiased estimator of the true Jaccard —
    the number that decides how many hashes a production dedup needs.

    Plan: two equi-joins attach both docs' signatures per seed, one
    groupBy averages agreement — shuffles carry |pairs| × num_hashes rows.
    """
    a = sigs.select(
        F.col("doc_id").alias("doc_a"), "seed", F.col("minhash").alias("__mh_a")
    )
    b = sigs.select(
        F.col("doc_id").alias("doc_b"), "seed", F.col("minhash").alias("__mh_b")
    )
    joined = pairs.join(a, on="doc_a").join(b, on=["doc_b", "seed"])
    return joined.groupBy("doc_a", "doc_b").agg(
        # safe rounding: an avg of 0/1 indicators over the fixed
        # permutation count sums exactly (small integers in double), and
        # k/n_perms with n_perms a power of two is dyadic — the rounded
        # value is order-independent and bit-identical cross-engine
        F.round(F.avg((F.col("__mh_a") == F.col("__mh_b")).cast("double")), 6).alias(
            "est_jaccard"
        )
    )


def exact_jaccard_for_pairs(shingles: DataFrame, pairs: DataFrame) -> DataFrame:
    """True shingle Jaccard restricted to a candidate pair set (the verify
    side of the estimator): shingle equi-join for intersections, semi
    restriction to the candidates, size join-backs."""
    sizes = shingles.groupBy("doc_id").agg(F.count("*").alias("__n"))
    x = shingles.select(F.col("doc_id").alias("doc_a"), "shingle")
    y = shingles.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        x.join(y, on="shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .join(pairs, on=["doc_a", "doc_b"], how="left_semi")
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("__i"))
    )
    na = sizes.select(F.col("doc_id").alias("doc_a"), F.col("__n").alias("__na"))
    nb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("__n").alias("__nb"))
    return (
        inter.join(na, on="doc_a")
        .join(nb, on="doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("__i") / (F.col("__na") + F.col("__nb") - F.col("__i")), 6
            ).alias("jaccard"),
        )
    )


def contamination_check(
    corpus: DataFrame,
    eval_set: DataFrame | None,
    min_overlap: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    eval_shingles: DataFrame | None = None,
) -> DataFrame:
    """Benchmark decontamination: corpus documents sharing ≥ ``min_overlap``
    distinct word n-gram shingles with the eval/holdout set.

    The standard pre-training hygiene step, as a pure equi-join plan: both
    sides explode to (id, shingle), the eval side collapses to DISTINCT
    shingles (small — benchmarks are thousands of docs) and broadcasts;
    only corpus shingles that hit an eval shingle survive the join, then
    one groupBy counts distinct hits per doc.  No cross join at any scale;
    at 100 TB the corpus shingle explosion streams and the aggregate is
    map-side partial.

    ``eval_shingles`` substitutes a PRE-BUILT (shingle) frame for the
    eval side (``eval_set`` may then be None) — the stored-state form the
    v3 prepare tick probes: the holdout slice is frozen per corpus
    version, so its shingle set is built once (``holdout_shingle_state``)
    and every ingest tick pays only the broadcast probe.
    """
    corpus_sh = shingle_table(corpus, text_col=text_col, id_col=id_col, n=n)
    eval_sh = (
        eval_shingles.select("shingle").distinct()
        if eval_shingles is not None
        else shingle_table(eval_set, text_col=text_col, id_col=id_col, n=n)
        .select("shingle")
        .distinct()
    )
    hits = corpus_sh.join(F.broadcast(eval_sh), on="shingle")
    return (
        hits.groupBy("doc_id")
        .agg(F.count_distinct("shingle").alias("n_hits"))
        .filter(F.col("n_hits") >= min_overlap)
    )


def holdout_shingle_state(
    corpus: DataFrame,
    holdout_mod: int = 50,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """The FROZEN holdout shingle set the v3 prepare tick's
    decontamination gate probes: distinct word ``n``-gram shingles
    of the corpus's ``doc_id % holdout_mod == 0`` eval slice.  Built once
    per corpus version and persisted like the band/digest/gram state —
    the eval slice never changes on ingest ticks (the vocabulary-freeze
    argument), which is exactly what keeps the 'contaminated' verdict
    prefix-decomposable across micro-batches.  Bounded: 1/holdout_mod of
    corpus shingles, distinct — broadcastable at any graded scale, a
    bucketed state table beyond that."""
    return (
        shingle_table(
            corpus.filter(F.col(id_col) % holdout_mod == 0),
            text_col=text_col,
            id_col=id_col,
            n=n,
        )
        .select("shingle")
        .distinct()
    )


def holdout_rebuild(
    corpus: DataFrame,
    batch: DataFrame,
    holdout_mod: int = 50,
    min_overlap: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    frozen_shingles: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """The holdout VERSION-BUMP tick ``holdout_shingle_state``'s freeze
    defers to (the exact mirror of
    ``vocabulary_rebuild`` on the decontamination side, completing the
    third and last aggregate-artifact lifecycle after vocab and IVF):
    re-derive the holdout slice and its shingle set over the GROWN
    corpus (standing corpus + arrivals), re-freeze, and emit a one-row
    audit proving the rebuild restores agreement:

    (n_frozen, n_rebuilt, n_added, n_removed, n_scored,
     n_disagree_before, drift_before, n_disagree_after)

    - n_added / n_removed: shingle-set churn of the rebuild (arrivals
      whose ids land in the ``doc_id % holdout_mod == 0`` eval slice
      contribute new holdout shingles);
    - n_disagree_before / drift_before: per-arrival CONTAMINATED-verdict
      disagreement (>= ``min_overlap`` distinct shingle hits) of the OLD
      frozen holdout state vs the rebuilt one, over the non-holdout
      arrivals (holdout arrivals take the 'holdout' arm first in the v3
      tick, so the contaminated verdict never applies to them);
    - n_disagree_after: the same disagreement with the REBUILT state as
      the frozen side, against an independently re-derived rebuild —
      must be 0 (the oracle pins it, so a non-canonical rebuild
      hash-fails).

    Returns ``(new_holdout_shingles_df, audit_df)``; the caller
    overwrites the persisted frozen state with the first (the ladder's
    ``--holdout-rebuild-at`` does exactly that).

    Retention rule: a PURGED holdout document's shingles leave the state at
    the next rebuild — until then they persist as decontamination
    memory, the same deliberate rule as the digest keepers
    (sinks/layout.purge_keyed_state docstring): a copy of deleted
    holdout content must still be flagged, and the graded remediation
    path for forgetting it is THIS tick over the purged corpus.

    Plan: two eval-slice shingle aggregates (each 1/holdout_mod of
    corpus shingles, the once-per-cadence cost) and ONE batch shingle
    pass probing three broadcast holdout sets; the two 1-row readouts
    combine through a union + max aggregate, never a scalar crossJoin."""
    cd = corpus.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))
    bd = batch.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))
    hf = (
        frozen_shingles.select("shingle").distinct()
        if frozen_shingles is not None
        else holdout_shingle_state(cd, holdout_mod=holdout_mod, n=n)
    ).localCheckpoint(eager=False)
    grown = cd.unionByName(bd)
    hr = holdout_shingle_state(grown, holdout_mod=holdout_mod, n=n).localCheckpoint(
        eager=False
    )
    # the canonical next-state holdout, derived independently: the rebuild
    # must reproduce it exactly for n_disagree_after to be 0
    hr2 = holdout_shingle_state(grown, holdout_mod=holdout_mod, n=n).localCheckpoint(
        eager=False
    )

    tj = hf.withColumn("__f", F.lit(1)).join(
        hr.select("shingle", F.lit(1).alias("__r")), on="shingle", how="full_outer"
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

    scored = bd.filter(F.col("doc_id") % holdout_mod != 0)
    bsh = shingle_table(scored, n=n)
    sc = (
        bsh.join(
            F.broadcast(hf.withColumn("__hf", F.lit(1))), on="shingle", how="left"
        )
        .join(F.broadcast(hr.withColumn("__hr", F.lit(1))), on="shingle", how="left")
        .join(
            F.broadcast(hr2.withColumn("__hr2", F.lit(1))), on="shingle", how="left"
        )
        .groupBy("doc_id")
        .agg(
            F.count_distinct(
                F.when(F.col("__hf") == 1, F.col("shingle"))
            ).alias("nf"),
            F.count_distinct(
                F.when(F.col("__hr") == 1, F.col("shingle"))
            ).alias("nr"),
            F.count_distinct(
                F.when(F.col("__hr2") == 1, F.col("shingle"))
            ).alias("nr2"),
        )
    )
    dd = (
        scored.select("doc_id")
        .join(sc, on="doc_id", how="left")
        .select(
            (F.coalesce(F.col("nf"), F.lit(0)) >= min_overlap)
            .cast("int")
            .alias("cf"),
            (F.coalesce(F.col("nr"), F.lit(0)) >= min_overlap)
            .cast("int")
            .alias("cr"),
            (F.coalesce(F.col("nr2"), F.lit(0)) >= min_overlap)
            .cast("int")
            .alias("cr2"),
        )
        .agg(
            F.count("*").cast("long").alias("n_scored"),
            F.coalesce(F.sum((F.col("cf") != F.col("cr")).cast("int")), F.lit(0))
            .cast("long")
            .alias("n_disagree_before"),
            F.coalesce(F.sum((F.col("cr") != F.col("cr2")).cast("int")), F.lit(0))
            .cast("long")
            .alias("n_disagree_after"),
        )
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
    return hr, audit


def dedup_survivors(
    docs: DataFrame,
    pairs: DataFrame | None = None,
    id_col: str = "doc_id",
    labels: DataFrame | None = None,
) -> DataFrame:
    """The end-to-end dedup DECISION: keep the minimum-id representative of
    every near-dup cluster plus every unclustered document.

    ``connected_components`` labels each clustered node with its cluster's
    minimum id, so non-representatives are exactly ``doc_id != cluster_id``
    — one anti-join removes them.  At 100 TB this is the shape that writes
    the deduplicated training corpus: the cluster labels are a small side
    (only docs that appear in a near-dup pair), broadcast against the full
    corpus scan.

    ``labels`` shares a precomputed ``connected_components`` frame with the
    sibling clusters/histogram stages (see ``dedup_cluster_histogram``).
    """
    if labels is None:
        if pairs is None:
            raise ValueError("dedup_survivors needs pairs or precomputed labels")
        labels = connected_components(pairs)
    clusters = labels
    drop = clusters.filter(F.col("doc_id") != F.col("cluster_id")).select(
        F.col("doc_id").alias(id_col)
    )
    return docs.join(F.broadcast(drop), on=id_col, how="left_anti")


def simhash_near_dup_pairs(sigs: DataFrame, max_hamming: int = 3, nbits: int = 60, bands: int = 4) -> DataFrame:
    """Doc pairs with SimHash Hamming distance ≤ ``max_hamming``.

    Candidate generation bands the signature into ``bands`` equal bit slices
    and equi-joins on (band, slice value): by pigeonhole, any pair within
    ``bands - 1`` differing bits shares an identical band, so with the
    default 4 bands / max_hamming=3 the banded plan returns the EXACT result
    of the quadratic scan while shuffling only (doc_id, band_key) pairs.
    """
    width = nbits // bands
    mask = (1 << width) - 1
    slices = F.array(
        *[F.shiftright(F.col("simhash"), i * width).bitwiseAND(F.lit(mask)) for i in range(bands)]
    )
    # The self-join below reads the banded signatures on both sides; pass a
    # persisted/checkpointed ``sigs`` to evaluate the 60-vote simhash
    # aggregation once — persistence lifetime is owned by the caller (an
    # unconditional .cache() here cost the cold path and leaked entries
    # across queries).
    banded = sigs.select(
        "doc_id", "simhash", F.posexplode(slices).alias("band", "band_key")
    )
    a = banded.select(F.col("band"), F.col("band_key"), F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sig_a"))
    b = banded.select(F.col("band"), F.col("band_key"), F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sig_b"))
    return (
        a.join(b, on=["band", "band_key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))).alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def dup_rate_by_source(
    pairs: DataFrame,
    doc_meta: DataFrame,
    meta_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Near-duplicate contamination matrix: pair counts per unordered
    source pair — which corpus slices duplicate each other (the question a
    crawl-mixing decision needs: is src A re-hosting src B?).

    Input ``pairs`` is any candidate-pair table (doc_a, doc_b) from the LSH
    pipelines; ``doc_meta`` maps doc id → metadata value.  Two equi-joins
    on the doc id (shuffle joins at scale — the meta table has corpus
    cardinality, so it is NOT broadcastable at 100 TB; Spark picks BHJ at
    test scale on its own), then one groupBy on the unordered pair with
    map-side partial counts.
    """
    a_meta = doc_meta.select(F.col(id_col).alias("doc_a"), F.col(meta_col).alias("src_a"))
    b_meta = doc_meta.select(F.col(id_col).alias("doc_b"), F.col(meta_col).alias("src_b"))
    tagged = pairs.join(a_meta, "doc_a").join(b_meta, "doc_b")
    return (
        tagged.select(
            F.least("src_a", "src_b").alias("source_a"),
            F.greatest("src_a", "src_b").alias("source_b"),
        )
        .groupBy("source_a", "source_b")
        .agg(F.count("*").alias("pair_cnt"))
    )


def similarity_graph_degrees(pairs: DataFrame) -> DataFrame:
    """Degree distribution of the near-duplicate similarity graph: how
    many candidate partners each document has, bucketed into a
    (degree, n_docs) histogram — the triage view for dedup tuning (a fat
    head means an over-connected band setting or template spam; isolated
    nodes mean the thresholds are too tight).

    Plan: the pair list explodes into one row per endpoint, then TWO
    map-side-partial aggregations over shrinking frames (per-doc degree,
    then the tiny degree histogram) — never touches raw text/signatures.
    """
    ends = pairs.select(
        F.explode(F.array(F.col("doc_a"), F.col("doc_b"))).alias("doc_id")
    )
    deg = ends.groupBy("doc_id").agg(F.count("*").alias("degree"))
    return deg.groupBy("degree").agg(F.count("*").alias("n_docs"))


def containment_pairs(
    shingles: DataFrame, threshold: float = 0.7
) -> DataFrame:
    """Exact CONTAINMENT over distinct shingle sets: |A∩B| / min(|A|, |B|)
    — the subset-copy detector Jaccard misses (a short doc fully quoted
    inside a long one has tiny Jaccard but containment 1.0; this is the
    near-dup signal for quote-inclusion, snippet reuse, header wrapping).

    Same plan as ``ngram_jaccard_pairs``: only pairs sharing ≥1 shingle
    materialize via the shingle equi-join — never quadratic in docs.
    """
    sizes = shingles.groupBy("doc_id").agg(F.count("*").alias("n"))
    a = shingles.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = shingles.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        a.join(b, on="shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("i"))
    )
    return (
        inter.join(sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na")), on="doc_a")
        .join(sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb")), on="doc_b")
        .withColumn("containment", F.col("i") / F.least(F.col("na"), F.col("nb")))
        .filter(F.col("containment") >= threshold)
        .select("doc_a", "doc_b", F.round("containment", 6).alias("containment"))
    )


def triangle_count(pairs: DataFrame) -> DataFrame:
    """Global triangle count of the similarity graph — the clustering-
    coefficient numerator that distinguishes tight near-dup cliques
    (template families) from chains (drifting revisions).

    Plan: the classic two-join closure over ORDERED edges (a < b < c):
    wedges join edge(a,b) with edge(b,c) on the middle vertex, then the
    closing edge (a,c) confirms — with ordered endpoints every triangle
    counts exactly once and no edge direction blows up.  Two equi-join
    shuffles over the EDGE list (candidate pairs, already banded-bounded),
    never over raw documents.
    """
    e = pairs.select("doc_a", "doc_b")
    wedges = e.alias("e1").join(
        e.alias("e2"), F.col("e1.doc_b") == F.col("e2.doc_a")
    ).select(
        F.col("e1.doc_a").alias("a"),
        F.col("e1.doc_b").alias("b"),
        F.col("e2.doc_b").alias("c"),
    )
    closed = wedges.join(
        e.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("c")),
        on=["a", "c"],
    )
    return closed.agg(F.count(F.lit(1)).alias("n_triangles"))


def jaccard_prefix_pairs(
    shingles: DataFrame, threshold: float = 0.5
) -> DataFrame:
    """EXACT Jaccard pairs via prefix filtering (the ppjoin family) — the
    scale path for ``ngram_jaccard_pairs``: instead of joining on EVERY
    shared shingle, each doc exposes only its prefix of the
    ``|A| - ceil(t·|A|) + 1`` globally-RAREST shingles; any pair with
    J ≥ t provably shares a prefix shingle, so recall is 100% while the
    candidate join collapses (frequent shingles — the quadratic killers —
    drop out of the join key distribution).  Candidates then verify with
    an exact set intersection, so results are IDENTICAL to the plain
    equi-join operator (shared oracle; parity pinned in tests).

    Plan: global shingle frequencies (one shuffle keyed by shingle) rank
    each doc's shingles (one doc-keyed window), the prefix equi-join
    materializes only rare-shingle collisions, and verification joins the
    deduped candidate pairs back to per-doc shingle SETS (arrays bounded
    by doc length) — no full-table co-shingle explosion anywhere.
    """
    sizes = shingles.groupBy("doc_id").agg(F.count("*").alias("n"))
    freq = shingles.groupBy("shingle").agg(F.count("*").alias("__f"))
    w = Window.partitionBy("doc_id").orderBy(F.col("__f").asc(), F.col("shingle").asc())
    ranked = (
        shingles.join(freq, on="shingle")
        .withColumn("__rn", F.row_number().over(w))
        .join(sizes, on="doc_id")
    )
    prefix_len = F.col("n") - F.ceil(F.lit(threshold) * F.col("n")) + 1
    prefix = ranked.filter(F.col("__rn") <= prefix_len).select("doc_id", "shingle", "n")
    a = prefix.select(F.col("doc_id").alias("doc_a"), "shingle", F.col("n").alias("__na"))
    b = prefix.select(F.col("doc_id").alias("doc_b"), "shingle", F.col("n").alias("__nb"))
    # ppjoin length filter: J >= t forces min(|A|,|B|) >= t * max(|A|,|B|),
    # pruning size-mismatched collisions before the set-verify join
    cand = (
        a.join(b, on="shingle")
        .filter(
            (F.col("doc_a") < F.col("doc_b"))
            & (
                F.least(F.col("__na"), F.col("__nb"))
                >= F.lit(threshold) * F.greatest(F.col("__na"), F.col("__nb"))
            )
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    sets = shingles.groupBy("doc_id").agg(F.collect_set("shingle").alias("__set"))
    j = (
        cand.join(
            sets.select(F.col("doc_id").alias("doc_a"), F.col("__set").alias("__sa")),
            on="doc_a",
        )
        .join(
            sets.select(F.col("doc_id").alias("doc_b"), F.col("__set").alias("__sb")),
            on="doc_b",
        )
    )
    i = F.size(F.array_intersect(F.col("__sa"), F.col("__sb")))
    jac = i / (F.size(F.col("__sa")) + F.size(F.col("__sb")) - i)
    return (
        j.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))
    )


_PR_SCALE = 1_000_000_000_000  # PageRank mass in pico-units (integer-exact)


def similarity_pagerank(
    pairs: DataFrame, iterations: int = 5, n_nodes: int | None = None
) -> DataFrame:
    """PageRank centrality over the near-dup similarity graph →
    (doc_id, rank_micro) — the canonical-pick signal for dedup clusters
    (the most-connected member of a duplicate cluster is the natural
    survivor; leaf-y accidental matches rank low).

    Determinism by construction (the repo's integer-arithmetic
    discipline): ranks are BIGINT pico-units of a total mass of
    ``_PR_SCALE``; each update is
    ``r_v = (15·SCALE) div (100·n) + Σ_u (r_u·85) div (100·deg_u)``
    — integer multiply/divide and exact BIGINT sums only, so the result
    is bit-identical across partitionings and engines (a float PageRank's
    per-node sums are accumulation-order-dependent).  Truncation loses
    < 1 pico-unit per edge per round — immaterial for ranking and
    identically reproduced by the oracle's unrolled iterations.

    Plan: per round, ONE equi-join of the symmetrized edge list against
    the (node, deg, r) frame + a groupBy(dst) sum — the same shuffle
    shape as one ``connected_components`` round, keyed by node, linear in
    edges.  Fixed ``iterations`` (default 5 — duplicate clusters are
    near-cliques, so ranks settle in a few rounds), lineage truncated per
    round.  Every node in the symmetrized graph has deg ≥ 1 and in-edges,
    so there is no dangling mass.  ``n_nodes`` defaults to a bounded
    driver count (#nodes) — at 100 TB pass it explicitly to keep the plan
    job-free before the loop.
    """
    edges = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")),
                    F.struct(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")),
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
        .localCheckpoint(eager=False)
    )
    deg = edges.groupBy(F.col("src").alias("node")).agg(F.count("*").alias("deg"))
    deg = deg.localCheckpoint(eager=False)
    n = n_nodes if n_nodes is not None else deg.count()
    if n == 0:
        return deg.select(F.col("node").alias("doc_id"), F.lit(0).cast("long").alias("rank_micro"))
    base = (15 * _PR_SCALE) // (100 * n)
    ranks = deg.select("node", "deg", F.lit(_PR_SCALE // n).cast("long").alias("r"))
    for _ in range(iterations):
        contrib = (
            edges.join(ranks, edges.src == ranks.node)
            .select("dst", F.expr("(r * 85L) div (100L * deg)").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("in_mass"))
        )
        ranks = (
            deg.join(contrib, deg.node == contrib.dst, "left")
            .select(
                "node",
                "deg",
                (F.lit(base) + F.coalesce(F.col("in_mass"), F.lit(0))).cast("long").alias("r"),
            )
            .localCheckpoint(eager=False)
        )
    return ranks.select(F.col("node").alias("doc_id"), F.col("r").alias("rank_micro"))


def cluster_canonicals(labels: DataFrame, ranks: DataFrame) -> DataFrame:
    """Survivor pick per duplicate cluster: the member with the highest
    centrality, ties to the lowest doc_id →
    (cluster_id, canonical_id, n_members, top_rank_micro).

    ``labels`` is (doc_id, cluster_id) from ``connected_components``;
    ``ranks`` is (doc_id, rank_micro) from ``similarity_pagerank`` over
    the SAME pair graph.  Min-doc_id survivor selection (what
    ``dedup_survivors`` does) keeps an arbitrary member; picking the
    centrality maximum keeps the member most similar to the rest of its
    cluster — the natural representative when near-dups differ by
    truncation or boilerplate.  Plan: one doc-keyed join + two
    cluster-keyed aggregates (the max-rank frame is #clusters rows); the
    integer ranks make the argmax exact, so the composition stays
    hash-gradeable.
    """
    j = labels.join(ranks, on="doc_id")
    mx = j.groupBy("cluster_id").agg(
        F.max("rank_micro").alias("top_rank_micro"),
        F.count("*").alias("n_members"),
    )
    return (
        j.join(mx, on="cluster_id")
        .filter(F.col("rank_micro") == F.col("top_rank_micro"))
        .groupBy("cluster_id", "n_members", "top_rank_micro")
        .agg(F.min("doc_id").alias("canonical_id"))
        .select("cluster_id", "canonical_id", "n_members", "top_rank_micro")
    )


def bloom_bits(df: DataFrame, text_col: str = "text", m: int = 65536, k: int = 3) -> DataFrame:
    """Build a Bloom filter over a document set as a DataFrame of set bit
    positions: each text contributes ``k`` md5-derived positions in
    ``[0, m)``.  The distinct-position frame IS the filter (≤ m rows
    regardless of input size), built with one partial-agg shuffle."""
    pos = F.array(
        *[
            F.conv(
                F.substring(F.md5(F.concat(F.lit(f"{i}|"), F.col(text_col))), 1, 8),
                16,
                10,
            ).cast("long")
            % F.lit(m)
            for i in range(k)
        ]
    )
    return df.select(F.explode(pos).alias("bit")).distinct()


def bloom_contamination(
    corpus: DataFrame,
    eval_set: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    m: int = 65536,
    k: int = 3,
) -> DataFrame:
    """Benchmark-contamination screen via a Bloom filter — the membership
    primitive that makes eval-overlap checks affordable at 100 TB: the
    eval set compresses to ≤ m set-bit rows (built once, broadcast), each
    corpus document probes its k bit positions with a broadcast-hash join
    and is flagged only when ALL k bits are set, and the exact md5
    membership join runs alongside to grade the filter (false positives
    are the price of the compression; false negatives are impossible —
    asserted by construction here).  Returns ONE summary row:
    probed/bloom-hit/exact-hit/false-positive counts and the exact
    integer-quotient FP rate.  All hashes are md5-derived, so the filter
    contents are deterministic cross-engine, unlike a murmur-seeded
    ``BloomFilter`` sketch."""
    bits = bloom_bits(eval_set, text_col=text_col, m=m, k=k)
    pos = F.array(
        *[
            F.conv(
                F.substring(F.md5(F.concat(F.lit(f"{i}|"), F.col(text_col))), 1, 8),
                16,
                10,
            ).cast("long")
            % F.lit(m)
            for i in range(k)
        ]
    )
    probes = corpus.select(
        F.col(id_col).alias("doc_id"),
        F.md5(F.col(text_col)).alias("__dig"),
        F.array_distinct(pos).alias("__pos"),
    )
    # a doc is bloom-positive iff ALL its (distinct — self-collisions
    # shrink the requirement, never create a false negative) positions
    # are set
    hits = (
        probes.select("doc_id", F.size("__pos").alias("__need"), F.explode("__pos").alias("bit"))
        .join(F.broadcast(bits), on="bit")
        .groupBy("doc_id", "__need")
        .agg(F.count(F.lit(1)).alias("__nbits"))
        .filter(F.col("__nbits") == F.col("__need"))
    )
    # exact membership: corpus digest ∈ eval digest set
    eval_digs = eval_set.select(F.md5(F.col(text_col)).alias("__dig")).distinct()
    exact = probes.join(F.broadcast(eval_digs), on="__dig", how="left_semi").select("doc_id")
    flagged = probes.select("doc_id").join(
        hits.select("doc_id", F.lit(1).alias("__bloom")), on="doc_id", how="left"
    ).join(exact.withColumn("__exact", F.lit(1)), on="doc_id", how="left")
    return flagged.agg(
        F.count(F.lit(1)).alias("n_probed"),
        F.sum(F.coalesce(F.col("__bloom"), F.lit(0))).alias("n_bloom_hits"),
        F.sum(F.coalesce(F.col("__exact"), F.lit(0))).alias("n_exact_hits"),
        F.sum(
            F.when(F.col("__bloom").isNotNull() & F.col("__exact").isNull(), 1).otherwise(0)
        ).alias("n_false_pos"),
        F.sum(
            F.when(F.col("__exact").isNotNull() & F.col("__bloom").isNull(), 1).otherwise(0)
        ).alias("n_false_neg"),
    ).select(
        "n_probed",
        "n_bloom_hits",
        "n_exact_hits",
        "n_false_pos",
        "n_false_neg",
        (F.col("n_false_pos").cast("double") / F.col("n_probed")).alias("fp_rate"),
    )


def lsh_pair_quality(
    candidate_pairs: DataFrame, exact_pairs: DataFrame
) -> DataFrame:
    """Set-level precision/recall of an LSH candidate pair set against
    the exact-threshold pair set — THE banding-tuning readout: more
    bands/shorter rows raise recall and shed precision, and this one-row
    audit says whether the current (bands, rows) trade is right BEFORE a
    100 TB dedup run pays for a mis-tuned sweep (a recall miss silently
    leaves duplicates in the corpus; a precision miss pays exact
    verification on junk candidates).

    Inputs are (doc_a, doc_b) frames; output is one row of exact BIGINT
    counts plus integer-ppm precision/recall (NULL when the respective
    denominator set is empty — guarded on both engines, because integer
    division by zero raises in DuckDB but yields NULL in non-ANSI
    Spark).

    Plan: both pair lists are banding-/threshold-bounded (never all
    pairs), one full-outer equi-join on the pair key aligns them, and a
    1-row aggregate finishes — two exchanges over candidate-scale data.
    """
    c = candidate_pairs.select("doc_a", "doc_b").distinct().withColumn(
        "__c", F.lit(1).cast("long")
    )
    e = exact_pairs.select("doc_a", "doc_b").distinct().withColumn(
        "__e", F.lit(1).cast("long")
    )
    u = c.join(e, ["doc_a", "doc_b"], "full_outer").select(
        F.coalesce(F.col("__c"), F.lit(0)).alias("in_lsh"),
        F.coalesce(F.col("__e"), F.lit(0)).alias("in_exact"),
    )
    agg = u.agg(
        F.sum("in_lsh").alias("n_lsh"),
        F.sum("in_exact").alias("n_exact"),
        F.sum(F.col("in_lsh") * F.col("in_exact")).alias("n_both"),
    )
    return agg.select(
        "n_lsh",
        "n_exact",
        "n_both",
        F.when(
            F.col("n_lsh") > 0, F.expr("(n_both * 1000000) div n_lsh")
        ).alias("precision_ppm"),
        F.when(
            F.col("n_exact") > 0, F.expr("(n_both * 1000000) div n_exact")
        ).alias("recall_ppm"),
    )


def corpus_signature_state(
    corpus: DataFrame,
    num_hashes: int = 8,
    rows_per_band: int = 2,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The stored dedup signature state a production corpus maintains
    between ingest ticks: one (doc_id, band, band_key) row per corpus
    document and band — exactly the earlier-side relation
    ``incremental_dedup_merge`` needs for candidate generation, so a tick
    reads this table instead of re-sketching the whole corpus.  Appended
    per tick with the accepted arrivals' bands; at 100 TB this is a
    bucketed table on (band, band_key) and the candidate join is
    shuffle-free on the corpus side.  Candidate VERIFICATION re-shingles
    only the candidate documents from the corpus store (bounded by the
    candidate count), so shingle sets are not stored."""
    sh = shingle_table(
        corpus.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")),
        text_col="text",
        id_col="doc_id",
        n=n,
    )
    return lsh_bands(minhash_signatures(sh, num_hashes), rows_per_band)


def corpus_digest_state(
    corpus: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """The stored exact-dedup state a production corpus maintains between
    ingest ticks: (doc_id, digest) with digest = md5(text) — the seen-set
    ``incremental_prepare_tick``'s exact gate probes with the batch's own
    digests, so a tick never re-hashes the standing corpus (otherwise
    the last corpus-proportional stage in the tick).
    Appended per tick with the arrivals' digests (accepted AND rejected —
    the same seen-set rule as bands and grams); at 100 TB this is a
    bucketed table on digest and the probe join is partition-pruned to
    the batch's touched buckets."""
    return corpus.select(
        F.col(id_col).alias("doc_id"), F.md5(F.col(text_col)).alias("digest")
    )


def incremental_dedup_merge(
    corpus: DataFrame | None,
    batch: DataFrame,
    threshold: float = 0.5,
    num_hashes: int = 8,
    rows_per_band: int = 2,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    corpus_bands: DataFrame | None = None,
    return_rejected: bool = False,
    corpus_fetch=None,
) -> DataFrame:
    """Incremental corpus dedup MERGE — the shape of a production ingest
    tick: dedup an incoming ``batch`` of documents against an EXISTING
    ``corpus`` (plus the batch's own earlier arrivals) and return the
    merged corpus.

    Decision rule (arrival-ordered, seen-set based): a batch document is
    REJECTED iff it has a verified near-duplicate partner — MinHash-LSH
    band collision AND exact shingle Jaccard >= ``threshold`` — among
    (a) any corpus document, or (b) any batch document with a smaller
    ``doc_id``, WHETHER OR NOT that earlier batch document itself
    survived.  Including rejected arrivals in the seen set makes the rule
    prefix-decomposable: processing the batch in any number of id-ordered
    micro-batches (see streaming/merge.py:incremental_corpus_dedup) gives
    bit-identical output to the one-shot run, because each document's
    verdict depends only on documents that precede it, never on later
    verdicts.  (Excluding rejected docs would make verdicts recursive
    along duplicate chains and order-sensitive across ticks.)

    Output: (doc_id, origin) — every corpus doc (origin='corpus') plus
    every accepted batch doc (origin='batch').

    PRECONDITION: ``id_col`` must be unique across corpus ∪ batch (the
    same contract as ``incremental_embedding_dedup``).  A collision
    silently merges the two documents' shingle sets in the self-contained
    path and diverges differently in the stored-state path — wrong
    verdicts with no error.  A production ingest assigns globally-unique
    monotone ids at arrival time, which satisfies this by construction.

    Plan (one band equi-join + one candidate-bounded verify, no
    quadratics): shingle -> minhash -> band over corpus UNION batch in a
    single pass; candidates = band self-join restricted to pairs whose
    LATER side (by (is_batch, doc_id) precedence) is a batch doc; the
    exact-Jaccard verify first semi-restricts the shingle table to
    candidate documents, so the intersection join touches only candidate
    shingles — NOT the full-corpus shingle self-join that
    ``exact_jaccard_for_pairs`` pays (at 100 TB the corpus shingle table
    dwarfs the candidate set; restricting docs first keeps the verify
    proportional to candidates).  Rejected ids are a small frame,
    broadcast into the final anti-join.

    ``corpus_bands`` is the stored-state substitution, executed: pass a
    ``corpus_signature_state`` table (built with the SAME num_hashes /
    rows_per_band / n) and the tick never re-sketches the corpus — only
    the batch is shingled/minhashed, candidates come from joining the
    batch's bands against the stored table, and corpus candidate docs
    are re-shingled for verification only where candidates exist (a
    candidate-bounded fetch from the corpus store).  Band keys are
    deterministic per document, so both paths produce bit-identical
    output (pytest-asserted); at 100 TB the state path is the one that
    runs — the self-contained path exists so the semantics are closed
    over the two input tables.

    ``corpus_fetch`` (state path only) closes the LAST unpruned state
    read: a callable ``(candidate_corpus_ids_df) ->
    docs_df`` the verify stage calls AFTER the band probe has produced
    the corpus-side candidate ids — the caller resolves it to a
    bucket-pruned ``keyed_state_read`` of the docs store, so the text
    fetch reads only the partitions the (few) candidate ids hash to
    instead of the whole corpus table.  The returned frame may be a
    superset of the candidates (bucket granularity); the verify
    semi-restricts it to exact candidate ids, so pruning is lossless by
    construction.  With ``corpus_fetch`` given and ``return_rejected``
    True, ``corpus`` itself is never consumed and may be None.
    """
    # Multi-consumer frames are materialized ONCE behind lazy
    # localCheckpoints (the code_match pattern): Catalyst does not share
    # common subplans, so without the boundaries every reuse of
    # seen/sh/br/cand re-plans the whole upstream shingle→minhash→band
    # pipeline — the first un-checkpointed draft of this operator planned
    # 508 exchanges / 184 broadcast joins; with the boundaries the digest
    # is a handful of exchanges over the materialized frames.
    if corpus is None and (
        corpus_bands is None or corpus_fetch is None or not return_rejected
    ):
        raise ValueError(
            "corpus=None requires corpus_bands + corpus_fetch + return_rejected"
        )
    corpus_docs = (
        corpus.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))
        if corpus is not None
        else None
    )
    batch_docs = batch.select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")
    )
    if corpus_bands is None:
        seen = corpus_docs.withColumn("is_batch", F.lit(0)).unionByName(
            batch_docs.withColumn("is_batch", F.lit(1))
        ).localCheckpoint(eager=False)
        sh = shingle_table(seen, text_col="text", id_col="doc_id", n=n).localCheckpoint(
            eager=False
        )
        bands = lsh_bands(minhash_signatures(sh, num_hashes), rows_per_band)
        rank = seen.select("doc_id", "is_batch")
        br = bands.join(rank, on="doc_id").localCheckpoint(eager=False)
        earlier = br.select(
            "band",
            "band_key",
            F.col("doc_id").alias("earlier_id"),
            F.col("is_batch").alias("earlier_batch"),
        )
        later = br.filter(F.col("is_batch") == 1).select(
            "band", "band_key", F.col("doc_id").alias("later_id")
        )
    else:
        bsh = shingle_table(
            batch_docs, text_col="text", id_col="doc_id", n=n
        ).localCheckpoint(eager=False)
        bbands = lsh_bands(
            minhash_signatures(bsh, num_hashes), rows_per_band
        ).localCheckpoint(eager=False)
        earlier = corpus_bands.select(
            "band",
            "band_key",
            F.col("doc_id").alias("earlier_id"),
            F.lit(0).alias("earlier_batch"),
        ).unionByName(
            bbands.select(
                "band",
                "band_key",
                F.col("doc_id").alias("earlier_id"),
                F.lit(1).alias("earlier_batch"),
            )
        )
        later = bbands.select(
            "band", "band_key", F.col("doc_id").alias("later_id")
        )
    # earlier_batch is retained through the distinct so corpus_fetch can
    # derive the CORPUS-side candidate ids (it is functionally determined
    # by earlier_id under the unique-id precondition, so the distinct on
    # the triple equals the distinct on the pair)
    cand3 = (
        earlier.join(later, on=["band", "band_key"])
        .filter(
            (F.col("earlier_batch") == 0)
            | (F.col("earlier_id") < F.col("later_id"))
        )
        .select("earlier_id", "later_id", "earlier_batch")
        .distinct()
        .localCheckpoint(eager=False)
    )
    cand = cand3.select("earlier_id", "later_id")
    # Verify: restrict shingles to candidate DOCS before the intersection
    # join (candidate-proportional, not corpus-proportional).
    if corpus_bands is None:
        sh_e = sh.join(
            cand.select(F.col("earlier_id").alias("doc_id")).distinct(),
            on="doc_id",
            how="left_semi",
        ).select(F.col("doc_id").alias("earlier_id"), "shingle")
        sh_l = sh.join(
            cand.select(F.col("later_id").alias("doc_id")).distinct(),
            on="doc_id",
            how="left_semi",
        ).select(F.col("doc_id").alias("later_id"), "shingle")
    else:
        # state path: re-shingle ONLY the candidate corpus docs (fetch by
        # id from the corpus store); batch shingles are already in bsh
        e_ids = cand.select(F.col("earlier_id").alias("doc_id")).distinct()
        if corpus_fetch is not None:
            # docs-store pruning: hand the caller the
            # corpus-side candidate ids so it can bucket-prune the text
            # fetch; the left_semi below still restricts to exact ids
            c_ids = (
                cand3.filter(F.col("earlier_batch") == 0)
                .select(F.col("earlier_id").alias("doc_id"))
                .distinct()
            )
            corpus_src = corpus_fetch(c_ids).select("doc_id", "text")
        else:
            corpus_src = corpus_docs
        sh_e = (
            shingle_table(
                corpus_src.join(e_ids, on="doc_id", how="left_semi"),
                text_col="text",
                id_col="doc_id",
                n=n,
            )
            .unionByName(bsh.join(e_ids, on="doc_id", how="left_semi"))
            .select(F.col("doc_id").alias("earlier_id"), "shingle")
        )
        sh_l = bsh.join(
            cand.select(F.col("later_id").alias("doc_id")).distinct(),
            on="doc_id",
            how="left_semi",
        ).select(F.col("doc_id").alias("later_id"), "shingle")
    # sizes only for candidate docs (from the already-restricted shingle
    # frames) — a full-corpus groupBy here would be the operator's only
    # corpus-scale shuffle, paid for rows the verify never touches
    inter = (
        sh_e.join(sh_l, on="shingle")
        .join(cand, on=["earlier_id", "later_id"], how="left_semi")
        .groupBy("earlier_id", "later_id")
        .agg(F.count("*").alias("__i"))
    )
    rejected = (
        inter.join(
            sh_e.groupBy("earlier_id").agg(F.count("*").alias("__na")),
            on="earlier_id",
        )
        .join(
            sh_l.groupBy("later_id").agg(F.count("*").alias("__nb")),
            on="later_id",
        )
        .filter(
            F.round(F.col("__i") / (F.col("__na") + F.col("__nb") - F.col("__i")), 6)
            >= threshold
        )
        .select(F.col("later_id").alias("doc_id"))
        .distinct()
    )
    if return_rejected:
        # verdict surface for composition (incremental_prepare_tick): the
        # rejected batch ids, exactly the frame the anti-join below
        # consumes — same plan up to here, no behavior change when False
        return rejected
    if corpus_bands is None:
        kept_corpus = seen.filter(F.col("is_batch") == 0)
        kept_batch = seen.filter(F.col("is_batch") == 1)
    else:
        kept_corpus, kept_batch = corpus_docs, batch_docs
    return kept_corpus.select(
        "doc_id", F.lit("corpus").alias("origin")
    ).unionByName(
        kept_batch.join(F.broadcast(rejected), on="doc_id", how="left_anti")
        .select("doc_id", F.lit("batch").alias("origin"))
    )


def incremental_dedup_summary(
    merged: DataFrame, batch: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """One-row accounting for an ingest tick: corpus size, batch size,
    accepted and rejected counts — the numbers an ingest pipeline alerts
    on (a rejected-rate spike means a feed started re-sending history).
    Both inputs union into ONE 1-row aggregate — no join of scalar frames
    (a 1-row crossJoin would spend the registry's frozen BNLJ budget)."""
    u = merged.select(
        F.when(F.col("origin") == "corpus", 1).otherwise(0).alias("__c"),
        F.when(F.col("origin") == "batch", 1).otherwise(0).alias("__a"),
        F.lit(0).alias("__b"),
    ).unionByName(
        batch.select(
            F.lit(0).alias("__c"), F.lit(0).alias("__a"), F.lit(1).alias("__b")
        )
    )
    return u.agg(
        F.sum("__c").alias("n_corpus"),
        F.sum("__b").alias("n_batch"),
        F.sum("__a").alias("n_accepted"),
    ).select(
        "n_corpus",
        "n_batch",
        "n_accepted",
        (F.col("n_batch") - F.col("n_accepted")).alias("n_rejected"),
    )


# --------------------------------------------------------------------------
# Exact-substring (duplicated-span) dedup — the suffix-array-style family
# from the training-data dedup literature, re-expressed as rolling-hash
# character-gram positions + a gaps-and-islands merge.  Where the
# single-node formulation builds one suffix array over the concatenated
# corpus, the distributed plan fingerprints every character position
# (O(bytes) rows — the same asymptotic cost as the suffix array), finds
# cross-document gram matches with ONE equi-join on the gram hash, and
# merges per-(pair, diagonal) runs of consecutive matches into maximal
# spans with a window function — no all-pairs comparison ever materializes;
# only positions whose gram genuinely repeats reach the shuffle.
# --------------------------------------------------------------------------


def char_gram_positions(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    gram_len: int = 30,
    hashed: bool = True,
) -> DataFrame:
    """(doc_id, pos, g): md5 of every length-``gram_len`` character window.

    ``hashed=False`` emits the RAW window substring as ``g`` instead of
    its md5, skipping one md5 per corpus character: gram equality is all
    any consumer tests, and raw equality is exact (md5 is only
    injective-in-practice).  The raw key is ``gram_len`` characters, so
    it is no wider than the 32-hex digest only on ASCII text; on Cyrillic
    text it takes two UTF-8 bytes per letter (60 bytes at the default 30).
    Measured −17% on ``duplicated_span_coverage`` on the sf0.1 test
    corpus, outputs bit-identical (exceptAll 0 both directions).  Callers that PERSIST ``g`` (the
    prepare ticks' gram state) or subsample on the digest's hex prefix
    (the anchored span family: ``substring(g, 1, 1) ∈ anchor_hex`` must
    be a content-independent 1/8 sample, which raw text prefixes are
    not) must keep ``hashed=True``.

    ``pos`` is 1-based (SQL substring convention, mirrored by the DuckDB
    oracle's ``substr``).  The window list is built with a SQL ``transform``
    lambda so ``substring`` binds the lambda variable (one pass per row);
    docs shorter than ``gram_len`` contribute no positions.  At 100 TB this
    table is ~1 row per corpus byte — the honest cost of exact-substring
    dedup (the suffix array it replaces is also O(bytes)); it exists only
    inside the pipeline (never persisted) and reduces immediately through
    the gram-hash join/aggregate that consumes it.
    """
    cnt = F.length(F.col(text_col)) - (gram_len - 1)
    gram_expr = (
        f"md5(substring({text_col}, i, {gram_len}))"
        if hashed
        else f"substring({text_col}, i, {gram_len})"
    )
    grams = F.expr(
        f"transform(sequence(1, greatest(length({text_col}) - {gram_len - 1}, 1)), "
        f"i -> struct(i AS pos, {gram_expr} AS g))"
    )
    empty = F.array().cast("array<struct<pos:int,g:string>>")
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.when(cnt > 0, grams).otherwise(empty)).alias("pg"),
    ).select("doc_id", F.col("pg.pos").alias("pos"), F.col("pg.g").alias("g"))


def _maximal_spans(matches: DataFrame, gram_len: int, min_span: int) -> DataFrame:
    """Merge per-(pair, diagonal) runs of consecutive matched positions into
    maximal duplicated spans (gaps-and-islands: pa minus its rank is
    constant exactly along a run of consecutive pa).  A run of n grams
    covers n + gram_len - 1 characters."""
    w = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pa")
    isl = matches.withColumn("isl", F.col("pa") - F.row_number().over(w))
    return (
        isl.groupBy("doc_a", "doc_b", "diag", "isl")
        .agg(
            F.min("pa").alias("start_a"),
            F.min("pb").alias("start_b"),
            (F.count("*") + F.lit(gram_len - 1)).cast("long").alias("span_len"),
        )
        .filter(F.col("span_len") >= min_span)
        .select("doc_a", "doc_b", "start_a", "start_b", "span_len")
    )


def duplicated_spans(
    positions: DataFrame, gram_len: int = 30, min_span: int = 60
) -> DataFrame:
    """All maximal cross-document duplicated substrings of length >=
    ``min_span``: (doc_a, doc_b, start_a, start_b, span_len), doc_a < doc_b.

    The exact baseline of the family (cf. the suffix-array dedup of Lee et
    al., "Deduplicating Training Data Makes Language Models Better"): the
    gram-hash self-join materializes one row per matched position pair, so
    a substring shared by a cluster of n docs costs O(n²) match rows —
    definitionally, since the output enumerates every pair.  For corpus-
    scale runs use ``duplicated_span_coverage`` (per-doc dup fraction, no
    pairs) or ``duplicated_spans_anchored`` (candidate pairs from a 1/8
    content-defined anchor sample, then this exact rescore on candidates).
    """
    a = positions.select(F.col("doc_id").alias("doc_a"), F.col("pos").alias("pa"), "g")
    b = positions.select(F.col("doc_id").alias("doc_b"), F.col("pos").alias("pb"), "g")
    m = (
        a.join(b, on="g")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "pa", "pb", (F.col("pa") - F.col("pb")).alias("diag"))
    )
    return _maximal_spans(m, gram_len, min_span)


def anchored_span_candidates(
    positions: DataFrame, anchor_hex: tuple[str, ...] = ("0", "1")
) -> DataFrame:
    """Distinct candidate doc pairs sharing >= 1 ANCHORED gram.

    Anchor selection is content-defined (first hex char of the gram hash in
    ``anchor_hex`` — 2/16 = a deterministic 1/8 sample), so both copies of
    any duplicated substring select the SAME relative positions: a span of
    s >= min_span chars contains s - gram_len + 1 >= 31 grams and misses
    every anchor with probability (1 - 1/8)^31 ≈ 1.6% per unique content
    (measured on the graded fixture by ``span_anchor_recall``).  The
    anchor join touches 1/8 of positions (1/64 of match rows); candidates
    then feed the exact rescore, so precision is exact and only recall is
    sampled — the LSH-candidates→verify shape the banded families use.
    """
    anch = positions.filter(F.substring("g", 1, 1).isin(*anchor_hex))
    a = anch.select(F.col("doc_id").alias("doc_a"), "g")
    b = anch.select(F.col("doc_id").alias("doc_b"), "g")
    return (
        a.join(b, on="g")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def duplicated_spans_anchored(
    positions: DataFrame,
    gram_len: int = 30,
    min_span: int = 60,
    anchor_hex: tuple[str, ...] = ("0", "1"),
) -> DataFrame:
    """Anchored-candidate + exact-rescore duplicated spans (the scale path).

    Same schema and per-pair semantics as ``duplicated_spans``, restricted
    to pairs recalled by the anchor sample.  The rescore first semi-joins
    the position table down to docs that appear in any candidate pair, so
    its gram join runs over the duplicated subset of the corpus, not all of
    it — at production dup rates (a few % of docs) that is the difference
    between a corpus-sized and a dup-sized shuffle.  On the graded fixture
    (dup-DENSE by construction: most docs share a planted header/footer)
    the candidate set approaches the full pair set, so the two stages cost
    MORE than the single exact pass — recorded deliberately, like the
    ppjoin/IVF crossovers: the candidate stage pays off only when dup pairs
    are sparse, which is the 100 TB regime this variant exists for.
    """
    cand = anchored_span_candidates(positions, anchor_hex)
    dup_docs = (
        cand.select(F.col("doc_a").alias("doc_id"))
        .unionByName(cand.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    pos = positions.join(dup_docs, on="doc_id", how="left_semi")
    a = pos.select(F.col("doc_id").alias("doc_a"), F.col("pos").alias("pa"), "g")
    b = pos.select(F.col("doc_id").alias("doc_b"), F.col("pos").alias("pb"), "g")
    m = (
        a.join(b, on="g")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .join(cand, on=["doc_a", "doc_b"], how="left_semi")
        .select("doc_a", "doc_b", "pa", "pb", (F.col("pa") - F.col("pb")).alias("diag"))
    )
    return _maximal_spans(m, gram_len, min_span)


def corpus_gram_state(
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    gram_len: int = 30,
) -> DataFrame:
    """The stored span-gate state a production corpus maintains between
    ingest ticks: the DISTINCT gram hashes (g) occurring anywhere in the
    corpus — the seen-set ``incremental_prepare_tick``'s span gate probes,
    the exact analogue of ``corpus_signature_state`` for the
    exact-substring family.  Appended per tick with the arrivals' distinct
    grams (accepted AND rejected — the same seen-set rule as bands and
    digests); at 100 TB this is a bucketed table on g and the probe join
    is partition-pruned to the batch's touched buckets."""
    return char_gram_positions(corpus, text_col, id_col, gram_len).select("g").distinct()


def dup_position_coverage(dup_pos: DataFrame, gram_len: int = 30) -> DataFrame:
    """(doc_id, dup_chars): union length of the ``[pos, pos + gram_len - 1]``
    character intervals of the given duplicated gram positions — the
    gaps-and-islands sweep ``duplicated_span_coverage`` runs, factored out
    so the prepare tick can apply it to ARRIVAL-relative duplicated
    positions (batch-bounded input, never corpus-wide).  Docs with no
    duplicated positions are absent (callers coalesce to 0)."""
    iv = dup_pos.select(
        "doc_id", "pos", (F.col("pos") + F.lit(gram_len - 1)).alias("e")
    )
    w_prev = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = Window.partitionBy("doc_id").orderBy("pos")
    fl = iv.withColumn("prev_e", F.max("e").over(w_prev)).withColumn(
        "new_isl",
        F.when(F.col("prev_e").isNull() | (F.col("pos") > F.col("prev_e") + 1), 1).otherwise(0),
    )
    return (
        fl.withColumn("isl", F.sum("new_isl").over(w_run))
        .groupBy("doc_id", "isl")
        .agg((F.max("e") - F.min("pos") + 1).alias("chars"))
        .groupBy("doc_id")
        .agg(F.sum("chars").cast("long").alias("dup_chars"))
    )


def duplicated_span_coverage(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    gram_len: int = 30,
    positions: DataFrame | None = None,
) -> DataFrame:
    """Per-doc duplicated-character fraction WITHOUT enumerating pairs —
    the production form of exact-substring dedup (the number a filter
    thresholds on).

    A position is duplicated iff its gram occurs in >= 2 distinct docs
    (one groupBy on the gram hash — linear in corpus bytes, no pair
    explosion no matter how large a boilerplate cluster is); per doc, the
    covered character count is the union length of the [pos, pos+L-1]
    intervals, computed with the running-max-end gaps-and-islands sweep.
    Output: (doc_id, doc_len, dup_chars, dup_frac) for every doc.
    ``positions`` lets the caller pass a pre-built (shared/persisted)
    gram-position table; it must match ``df``/``gram_len``.
    """
    pos = positions if positions is not None else char_gram_positions(df, text_col, id_col, gram_len)
    dupg = (
        pos.groupBy("g")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("g")
    )
    cov = dup_position_coverage(
        pos.join(dupg, on="g", how="left_semi").select("doc_id", "pos"), gram_len
    )
    docs = df.select(F.col(id_col).alias("doc_id"), F.length(F.col(text_col)).alias("doc_len"))
    return docs.join(cov, on="doc_id", how="left").select(
        "doc_id",
        "doc_len",
        F.coalesce(F.col("dup_chars"), F.lit(0)).alias("dup_chars"),
        F.round(F.coalesce(F.col("dup_chars"), F.lit(0)) / F.col("doc_len"), 6).alias("dup_frac"),
    )


def span_anchor_recall(
    positions: DataFrame,
    gram_len: int = 30,
    min_span: int = 60,
    anchor_hex: tuple[str, ...] = ("0", "1"),
) -> DataFrame:
    """1-row pre-flight gate for the anchored variant: pair-level recall of
    the anchor candidate generator against the exact span pairs (the
    embedding family's ``vector_pair_quality`` analogue for text spans).
    Output: n_exact_pairs, n_candidate_pairs, n_recalled, pair_recall."""
    # No checkpoint per arm: an interleaved A/B measured the
    # no-checkpoint form faster in every paired round (median 12.35 vs
    # 13.40 s).  Each arm does appear twice in the
    # plan (count + recalled semi-join), but materializing the full
    # distinct pair lists costs more than the optimizer's partial-agg
    # handling of the duplicate references — the expensive span sweep's
    # dominant stage (the match-row window sort) re-runs either way, and
    # the checkpoint adds storage + blocks the semi-join's pushdown.
    exact_pairs = (
        duplicated_spans(positions, gram_len, min_span)
        .select("doc_a", "doc_b")
        .distinct()
    )
    cand = anchored_span_candidates(positions, anchor_hex)
    recalled = exact_pairs.join(cand, on=["doc_a", "doc_b"], how="left_semi")
    u = (
        exact_pairs.select(F.lit(1).alias("__e"), F.lit(0).alias("__c"), F.lit(0).alias("__r"))
        .unionByName(cand.select(F.lit(0).alias("__e"), F.lit(1).alias("__c"), F.lit(0).alias("__r")))
        .unionByName(recalled.select(F.lit(0).alias("__e"), F.lit(0).alias("__c"), F.lit(1).alias("__r")))
    )
    return u.agg(
        # coalesce: SUM over the empty union is NULL, but the oracle's
        # COUNT(*) subqueries read 0 — a degenerate corpus must grade 0
        F.coalesce(F.sum("__e"), F.lit(0)).alias("n_exact_pairs"),
        F.coalesce(F.sum("__c"), F.lit(0)).alias("n_candidate_pairs"),
        F.coalesce(F.sum("__r"), F.lit(0)).alias("n_recalled"),
    ).select(
        "n_exact_pairs",
        "n_candidate_pairs",
        "n_recalled",
        F.when(
            F.col("n_exact_pairs") > 0,
            F.round(F.col("n_recalled") / F.col("n_exact_pairs"), 6),
        ).alias("pair_recall"),
    )
