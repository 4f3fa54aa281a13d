"""Incremental ingest as keyed-state streams.

The reference re-reads the whole base workbook and re-runs the comparison
per button press (main.py:889-904).  The streaming shape subscribes to
arrivals and decides each micro-batch with the same gate functions the
one-shot operators run — so the semantics are literally the code that
passed the oracle.

``incremental_price_merge`` MERGEs supplier price updates into the base.
The three keyed-state families — corpus dedup, embedding dedup and corpus
prepare — decide every arrival against the ACCUMULATED seen-set (initial
corpus + every earlier arrival, accepted or rejected).  Each arrival's
verdict depends only on what precedes it, and the vocabulary, holdout
shingles and IVF quantizer are FROZEN per corpus version, so id-ordered
micro-batches reproduce the one-shot batch operators bit for bit — which
is what lets the streams share their oracles.

Each family's state is described once, as data (``_Family``), and run
through one copy of each step; the family gate (``near_dup_gate``,
``embedding_gate`` or ``prepare_gate``) is the only per-family code.  The
one-shot operators (``incremental_dedup_merge``,
``incremental_embedding_dedup_ivf``, ``incremental_prepare_tick``) run
the same gates over state they derive in memory with the builders the
prime uses.  The steps:

- **prime**: one eager ``localCheckpoint`` of the corpus, then every table
  build overlapped in ``parallel_actions`` at ``batch_id=-1``;
- **probe**: lazy checkpoints of the batch-side rows, ONE folded
  ``touched_buckets_multi`` action, pinned and bucket-pruned
  ``keyed_state_read``s (schema from each table's sidecar, so building a
  read starts no Spark job), and a content fetch pruned to the buckets
  the gate's candidate ids hash to.  The gate gets the checkpointed
  batch-side rows too, so it never derives them a second time;
- **tick**: probe, gate, the optional decisions write, then the overlapped
  appends;
- **stream**: an availableNow file stream, one arrival file per micro-batch.

Replay safety: every state read pins ``before_batch=batch_id`` (a replayed
tick sees exactly the pre-batch state, never its own earlier appends) and
every append carries ``batch_id`` (dynamic partition overwrite — a replay
REPLACES its own partitions), so per-tick write bytes are ∝ batch, not ∝
state.  At 100 TB the tables are Delta/Iceberg appends bucketed on their
keys with MERGE idempotency per micro-batch id; the frozen artifacts are
rebuilt on rebuild ticks, never on ingest ticks.
"""

from __future__ import annotations

import glob
import os
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mistocksync_spark.operators.dedup import (
    corpus_digest_state,
    corpus_gram_state,
    corpus_signature_state,
    holdout_shingle_state,
    near_dup_gate,
)
from mistocksync_spark.operators.textual import corpus_vocabulary, prepare_gate
from mistocksync_spark.operators.vectors import embedding_gate, inferred_dim, ivf_assign
from mistocksync_spark.sinks.layout import (
    compact_keyed_state,
    keyed_state_append,
    keyed_state_read,
    keyed_state_tables,
    parallel_actions,
    touched_buckets,
    touched_buckets_multi,
)


def _available_now(spark: SparkSession, src: str, apply_batch, checkpoint: str) -> None:
    """Run ``apply_batch`` over the parquet files under ``src`` as an
    availableNow file stream, one file per micro-batch.  The query ends by
    itself once the backlog is consumed, so there is no timeout to outrun
    on a slow host; a failed batch raises here."""
    q = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def stage_arrivals(batch: DataFrame, predicates, arrivals_dir: str) -> str:
    """Write ``batch`` as one single-file arrival per predicate, in order,
    under ``arrivals_dir``.  The file source orders its backlog by
    modification time, not by name, so the files get ascending mtimes:
    that pins micro-batch k to predicate k — the id order the streams'
    prefix-decomposable verdicts rely on."""
    import shutil
    import time

    os.makedirs(arrivals_dir, exist_ok=True)
    now = time.time()
    for i, pred in enumerate(predicates):
        part = f"{arrivals_dir}_part{i}"
        batch.filter(pred).coalesce(1).write.parquet(part)
        src = next(f for f in os.listdir(part) if f.endswith(".parquet"))
        dst = os.path.join(arrivals_dir, f"arrivals_{i}.parquet")
        os.rename(os.path.join(part, src), dst)
        shutil.rmtree(part)
        os.utime(dst, (now - 120 + 60 * i,) * 2)
    return arrivals_dir


def incremental_price_merge(
    spark: SparkSession, sf_dir: str, out_path: str, checkpoint: str
) -> None:
    """Run the supplier feed as a file stream and MERGE each micro-batch's
    price updates into the base, persisting the merged base to
    ``out_path`` (overwrite-per-batch stands in for a transactional
    MERGE; at 100 TB the source is a Kafka topic of price updates)."""
    from mistocksync_spark.operators.matching import price_update_join
    from mistocksync_spark.plans.feeds import SUPPLIER_FEED_SQL, base_feed
    from mistocksync_spark.sinks.mutate import price_merge

    def apply_batch(batch_df, batch_id: int) -> None:
        from mistocksync_spark.plans.queries import _preprocess_vitya

        s = batch_df.sparkSession
        batch_df.createOrReplaceTempView("part")
        sup = _preprocess_vitya(s.sql(SUPPLIER_FEED_SQL)).na.drop(
            subset=["article_vitya", "price_usd"]
        )
        base = base_feed(s, sf_dir)
        updates = price_update_join(
            base,
            sup,
            base_article="article_vitya",
            base_price="price_vitya_usd",
            supplier_article="article_vitya",
            supplier_price="price_usd",
        )
        price_merge(base, updates).write.mode("overwrite").parquet(out_path)

    _available_now(spark, f"{sf_dir.rstrip('/')}/part.parq*", apply_batch, checkpoint)


@dataclass(frozen=True)
class _Family:
    """One keyed-state family, as data.  ``content`` is the seen-set table
    of the batch frame itself, keyed on ``key``; each ``derived`` table is
    (key columns, derivation from the frame), built the same way at prime
    and at tick and probed by the tick; each ``frozen`` table is written
    once at prime and read whole by the gate.  ``gate(frame, reads,
    fetch, rows)`` gets the pruned reads by table name, the content fetch
    and the batch's own derived rows by table name.
    With ``decides`` it returns decision rows, committed before the state
    appends, and the content rows are the frame verbatim; otherwise it
    returns the rejected ids, which mark the content rows' ``accepted``."""

    content: str
    key: str
    cols: tuple
    derived: dict[str, tuple[list[str], Callable]]
    gate: Callable
    frozen: dict[str, Callable] = field(default_factory=dict)
    decides: bool = False


def _corpus_family(threshold: float = 0.5) -> _Family:
    return _Family(
        "docs",
        "doc_id",
        ("doc_id", "text"),
        {"bands": (["band", "band_key"], corpus_signature_state)},
        lambda frame, reads, fetch, rows: near_dup_gate(
            frame, reads["bands"], rows["bands"], fetch, threshold
        ),
    )


def _embedding_family(
    centroids: list[list[float]],
    n_assign: int = 2,
    threshold: float = 0.99,
    dim: int | None = None,
) -> _Family:
    return _Family(
        "vecs",
        "vec_id",
        # one appended table holds every batch's rows, so the element type
        # must be uniform across appends: widen to double at the boundary
        # (exact for float inputs; the cosine math is already double)
        ("vec_id", F.col("embedding").cast("array<double>").alias("embedding")),
        {"cells": (["centroid"], lambda f: ivf_assign(f, centroids, n_assign=n_assign))},
        lambda frame, reads, fetch, rows: embedding_gate(
            frame, reads["cells"], rows["cells"], fetch, dim, threshold
        ),
    )


def _prepare_family(
    rel_threshold: float = 1e-4, holdout_mod: int | None = None
) -> _Family:
    frozen = {"vocab": lambda f: corpus_vocabulary(f, rel_threshold=rel_threshold)}
    if holdout_mod is not None:
        # v3: the frozen holdout shingle set the decontamination gate probes
        frozen["holdout_shingles"] = lambda f: holdout_shingle_state(
            f, holdout_mod=holdout_mod
        )
    return _Family(
        "docs",
        "doc_id",
        ("doc_id", "text"),
        {
            "bands": (["band", "band_key"], corpus_signature_state),
            "digests": (["digest"], corpus_digest_state),
            "grams": (["g"], corpus_gram_state),
        },
        lambda frame, reads, fetch, rows: prepare_gate(
            frame,
            reads["bands"],
            rows["bands"],
            reads["digests"],
            reads["grams"],
            reads["vocab"],
            fetch,
            holdout_mod,
            reads.get("holdout_shingles"),
        ),
        frozen,
        decides=True,
    )


def _marked(frame: DataFrame, key: str, rejected: DataFrame | None = None) -> DataFrame:
    """Seen-set content rows with (origin, accepted): the prime corpus is
    all accepted; a tick's arrivals are accepted unless rejected."""
    cols = frame.columns
    if rejected is None:
        origin, accepted = F.lit("corpus"), F.lit(True)
    else:
        frame = frame.join(
            F.broadcast(rejected.withColumn("__rej", F.lit(1))), on=key, how="left"
        )
        origin, accepted = F.lit("batch"), F.col("__rej").isNull()
    return frame.select(*cols, origin.alias("origin"), accepted.alias("accepted"))


def _prime(fam: _Family, corpus: DataFrame, state_dir: str) -> str:
    """Build a family's initial state under ``state_dir``."""
    # eager-checkpoint the shared corpus once, so no two concurrent builds
    # race to materialize one lazy checkpoint and none re-derives the feed
    # lineage; the prime wall is then ~max() of the builds, not their sum
    frame = corpus.select(*fam.cols).localCheckpoint()
    content = frame if fam.decides else _marked(frame, fam.key)

    def append(table, keys, rows):
        return lambda: keyed_state_append(
            rows(frame), os.path.join(state_dir, table), keys, batch_id=-1
        )

    def freeze(table, rows):
        return lambda: rows(frame).write.mode("overwrite").parquet(
            os.path.join(state_dir, table)
        )

    parallel_actions(
        append(fam.content, [fam.key], lambda _: content),
        *(append(t, keys, rows) for t, (keys, rows) in fam.derived.items()),
        *(freeze(t, rows) for t, rows in fam.frozen.items()),
    )
    return state_dir


def _decide(fam: _Family, batch_df: DataFrame, state_dir: str, before_batch: int | None):
    """Probe the state with one batch and run the gate; returns (frame,
    derived batch rows by table, gate output)."""
    s = batch_df.sparkSession
    frame = batch_df.select(*fam.cols).localCheckpoint(eager=False)
    # batch-side derived rows, computed ONCE: probe keys now, appended
    # verbatim after the gate
    rows = {
        t: derive(frame).localCheckpoint(eager=False)
        for t, (_, derive) in fam.derived.items()
    }

    def path(table):
        return os.path.join(state_dir, table)

    tb = touched_buckets_multi({t: (rows[t], path(t)) for t in rows})

    def read(table, buckets):
        return keyed_state_read(s, path(table), buckets, before_batch=before_batch)

    reads = {t: read(t, tb[t]) for t in rows}
    reads.update({t: s.read.parquet(path(t)) for t in fam.frozen})
    out = fam.gate(
        frame,
        reads,
        lambda ids: read(fam.content, touched_buckets(ids, path(fam.content))),
        rows,
    )
    return frame, rows, out


def _tick(fam: _Family, batch_df: DataFrame, batch_id: int, state_dir: str) -> None:
    """One ingest tick: decide the batch, then append it to the state."""
    frame, rows, out = _decide(fam, batch_df, state_dir, batch_id)
    if fam.decides:
        # sequential, before the appends: the tick's externally observable
        # commit order is decisions, then state
        out.write.mode("overwrite").parquet(
            os.path.join(state_dir, "decisions", f"b{batch_id}")
        )
        content = frame
    else:
        content = _marked(frame, fam.key, out)
    # every arrival joins the seen-set, accepted or not.  The appends are
    # independent jobs on distinct tables, and the derived frames are
    # already materialized by the probe.  The content rows' gate lineage
    # still scans state tables while a sibling appends to them; that is
    # safe because keyed_state_read snapshots the file index eagerly at
    # read time AND prunes batch partitions >= the current batch, so a
    # concurrent append (or a replayed dynamic overwrite) can never change
    # which files the gate reads
    appends = [(fam.content, [fam.key], content)]
    appends += [(t, fam.derived[t][0], df) for t, df in rows.items()]
    parallel_actions(
        *(
            lambda t=t, keys=keys, df=df: keyed_state_append(
                df, os.path.join(state_dir, t), keys, batch_id=batch_id
            )
            for t, keys, df in appends
        )
    )


def _ready(fam: _Family, corpus: DataFrame | None, state_dir: str) -> None:
    """Prime the state from ``corpus``; with ``corpus=None``, require a
    state_dir that already holds a PRIMED state (the graded entries
    produce it once per corpus version and copy the pristine root per
    run)."""
    if corpus is not None:
        _prime(fam, corpus, state_dir)
        return
    tables = [fam.content, *fam.derived, *fam.frozen]
    missing = [
        p for p in (os.path.join(state_dir, t) for t in tables) if not os.path.isdir(p)
    ]
    if missing:
        raise ValueError(
            f"corpus=None requires a primed state_dir; missing: {missing}"
        )


def compact_state(spark: SparkSession, state_dir: str, batch_id: int) -> tuple[int, int]:
    """The streams' tick-START compaction: every keyed-state table under
    ``state_dir`` is compacted with ``current_batch=batch_id``.  If a prior
    attempt of THIS batch crashed after appending but before its
    checkpoint committed, those uncommitted batch>=batch_id partitions are
    dropped before the rebase-to-max fold — kept, they would become the
    max, before_batch reads would return zero pre-batch rows, and the
    replay's dynamic overwrite would wipe the rebased history.  Committed
    state content is unchanged either way.  Returns (files_before,
    files_after) summed over the tables."""
    before = after = 0
    for path in keyed_state_tables(state_dir):
        b, a = compact_keyed_state(spark, path, current_batch=batch_id)
        before, after = before + b, after + a
    return before, after


def _stream(
    fam: _Family,
    spark: SparkSession,
    arrivals_dir: str,
    state_dir: str,
    checkpoint: str,
    compact_every: int = 0,
) -> DataFrame:
    """Tick every arrival file in ``arrivals_dir`` against the primed state;
    returns the union of decisions, or the accepted (key, origin) set."""

    def apply_batch(batch_df, batch_id: int) -> None:
        batch_id = int(batch_id)
        if compact_every and batch_id > 0 and batch_id % compact_every == 0:
            compact_state(batch_df.sparkSession, state_dir, batch_id)
        _tick(fam, batch_df, batch_id, state_dir)

    _available_now(spark, arrivals_dir, apply_batch, checkpoint)
    if fam.decides:
        parts = sorted(glob.glob(os.path.join(state_dir, "decisions", "b*")))
        return spark.read.parquet(*parts).select("doc_id", "reason")
    return accepted_rows(spark, state_dir, fam.content, fam.key)


def accepted_rows(spark: SparkSession, state_dir: str, content: str, key: str) -> DataFrame:
    """The accepted seen-set of a dedup state: (``key``, origin) of every
    accepted row of its ``content`` table (``docs``/``doc_id`` or
    ``vecs``/``vec_id``), the prime corpus and every tick's arrivals."""
    return (
        keyed_state_read(spark, os.path.join(state_dir, content))
        .filter(F.col("accepted"))
        .select(key, "origin")
    )


def prime_corpus_dedup_state(corpus, state_dir: str) -> str:
    """The corpus dedup stream's initial state: ``docs`` (doc_id, text,
    origin, accepted) and ``bands`` (``corpus_signature_state``), both
    ``batch=-1``."""
    return _prime(_corpus_family(), corpus, state_dir)


def corpus_dedup_tick_against_state(
    batch_df, batch_id: int, state_dir: str, threshold: float = 0.5
) -> None:
    """One corpus-dedup ingest tick (the ``incremental_corpus_dedup``
    micro-batch body): band probe and candidate docs fetch both
    bucket-pruned, reads pinned before ``batch_id``."""
    _tick(_corpus_family(threshold), batch_df, batch_id, state_dir)


def incremental_corpus_dedup(
    spark: SparkSession,
    corpus,
    arrivals_dir: str,
    state_dir: str,
    checkpoint: str,
    threshold: float = 0.5,
) -> DataFrame:
    """Streaming twin of ``operators.dedup.incremental_dedup_merge``: dedup
    each arrival file against the accumulated seen-set.  ``corpus=None``
    runs on an already primed ``state_dir``.  Returns the final accepted
    corpus as (doc_id, origin)."""
    fam = _corpus_family(threshold)
    _ready(fam, corpus, state_dir)
    return _stream(fam, spark, arrivals_dir, state_dir, checkpoint)


def prime_embedding_dedup_state(
    corpus, centroids: list[list[float]], state_dir: str, n_assign: int = 2
) -> str:
    """The embedding dedup stream's initial state: ``vecs`` (vec_id,
    embedding, origin, accepted) and ``cells`` (the IVF inverted table,
    keyed on centroid), both ``batch=-1``."""
    return _prime(_embedding_family(centroids, n_assign), corpus, state_dir)


def embedding_dedup_tick_against_state(
    batch_df,
    batch_id: int,
    state_dir: str,
    centroids: list[list[float]],
    threshold: float = 0.99,
    n_assign: int = 2,
    dim: int | None = None,
) -> None:
    """One vector ingest tick (the ``incremental_embedding_dedup_stream``
    micro-batch body) under the FROZEN quantizer ``centroids``: cell probe
    and exact-rescore vector fetch both bucket-pruned, reads pinned before
    ``batch_id``."""
    fam = _embedding_family(centroids, n_assign, threshold, dim)
    _tick(fam, batch_df, batch_id, state_dir)


def incremental_embedding_dedup_stream(
    spark: SparkSession,
    corpus,
    arrivals_dir: str,
    state_dir: str,
    checkpoint: str,
    centroids: list[list[float]],
    threshold: float = 0.99,
    n_assign: int = 2,
    dim: int | None = None,
) -> DataFrame:
    """Streaming twin of ``operators.vectors.incremental_embedding_dedup_ivf``
    under a FROZEN quantizer (the quantizer re-trains on
    ``ivf_index_rebuild`` ticks, never ingest ticks).  ``corpus=None`` runs
    on an already primed ``state_dir``.  Returns the final accepted corpus
    as (vec_id, origin)."""
    _ready(_embedding_family(centroids, n_assign), corpus, state_dir)
    if dim is None:
        dim = (
            inferred_dim(corpus, "embedding")
            if corpus is not None
            else len(
                keyed_state_read(spark, os.path.join(state_dir, "vecs"))
                .select("embedding").head()["embedding"]
            )
        )
    fam = _embedding_family(centroids, n_assign, threshold, dim)
    return _stream(fam, spark, arrivals_dir, state_dir, checkpoint)


def prime_prepare_state(
    corpus,
    state_dir: str,
    rel_threshold: float = 1e-4,
    holdout_mod: int | None = None,
) -> str:
    """The prepare stream's initial state: ``docs``, ``bands``, ``digests``
    and ``grams`` at ``batch=-1``, the frozen ``vocab`` and, under
    ``holdout_mod``, the frozen ``holdout_shingles``."""
    return _prime(_prepare_family(rel_threshold, holdout_mod), corpus, state_dir)


def prepare_decisions(
    batch_df, state_dir: str, holdout_mod: int | None = None
) -> DataFrame:
    """Per-arrival prepare decisions of ``batch_df`` against a primed state,
    unpinned and without writing anything: the stored-state tick."""
    return _decide(_prepare_family(holdout_mod=holdout_mod), batch_df, state_dir, None)[2]


def prepare_tick_against_state(
    batch_df, batch_id: int, state_dir: str, holdout_mod: int | None = None
) -> None:
    """One prepare ingest tick (the ``incremental_prepare_stream``
    micro-batch body): decisions to ``decisions/b{batch_id}``, then the
    four keyed appends.  ``holdout_mod`` switches to the v3 gate set."""
    _tick(_prepare_family(holdout_mod=holdout_mod), batch_df, batch_id, state_dir)


def incremental_prepare_stream(
    spark: SparkSession,
    corpus,
    arrivals_dir: str,
    state_dir: str,
    checkpoint: str,
    rel_threshold: float = 1e-4,
    holdout_mod: int | None = None,
    compact_every: int = 1,
) -> DataFrame:
    """Streaming twin of ``operators.textual.incremental_prepare_tick``:
    decision rows (exact_dup / near_dup / gopher / rare_tokens / ok, plus
    the v3 gates under ``holdout_mod``) for every arrival file, whose
    union equals the one-shot tick bit for bit.  The OOV gate scores
    against the vocabulary frozen at prime, which is what keeps decisions
    independent of batch boundaries.  Compaction runs inside the stream
    every ``compact_every`` ticks.  ``corpus=None`` runs on an already
    primed ``state_dir``.  Returns the decision rows (doc_id, reason)."""
    fam = _prepare_family(rel_threshold, holdout_mod)
    _ready(fam, corpus, state_dir)
    return _stream(fam, spark, arrivals_dir, state_dir, checkpoint, compact_every)
