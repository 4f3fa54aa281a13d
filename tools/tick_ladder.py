"""Multi-tick ladder for the keyed-state families: N ticks of the
production tick driver (``streaming/merge.py``) against persisted state,
checked against the one-shot operator.

For ``--family corpus|embedding|prepare`` the ladder

1. splits the arrivals into N id-ordered ticks, staged as one parquet
   file each (``stage_arrivals``, the stream's arrival files);
2. primes the state through ``prime_*_state``;
3. runs ``*_tick_against_state(batch, k, state)`` on each tick;
4. every ``--compact-every K`` ticks, runs the stream's tick-start
   compaction (``compact_state``, i.e. ``compact_keyed_state`` with
   ``current_batch=k``) before the tick;
5. prints, per tick, the arrivals, the rows kept, the tick wall, the
   state files and the MB the tick appended (every parquet file under the
   state root, decisions included);
6. asserts that the union of the tick results equals the one-shot
   operator and prints IDENTICAL or MISMATCH.

Inputs: ``corpus`` and ``embedding`` split ``documents.parquet`` /
``embeddings.parquet`` at the median id (the first half primes the state,
the rest arrives); ``prepare`` uses the incremental corpus/batch feeds.
The embedding quantizer is trained once on the corpus half and frozen.

Prepare options:
  --v3            the emission-gate tick (holdout + decontamination
                  against the frozen holdout shingle state);
  --emit          with --v3: pack both accepted sets, write them with
                  ``pack_emission_write`` and require identical manifests;
  --rebuild-at K  print the per-tick vocabulary drift, and after tick K
                  rebuild and re-freeze the vocabulary.  A rebuild starts a
                  new corpus version, so the one-shot check is skipped.

Usage: python tools/tick_ladder.py SF_DIR [--family F] [--ticks N]
           [--compact-every K] [--v3] [--emit] [--rebuild-at K]
Exit status 1 on a mismatch.
"""

from __future__ import annotations

import argparse
import glob
import os
import shutil
import sys
import tempfile
import time
from types import SimpleNamespace

from pyspark.sql import functions as F


def _mb(path: str) -> float:
    files = glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    return sum(os.path.getsize(f) for f in files) / 1e6


def _split_half(spark, sf_dir: str, table: str, key: str, col: str):
    df = spark.read.parquet(f"{sf_dir}/{table}").select(key, col)
    ids = sorted(r[0] for r in df.select(key).collect())
    mid = ids[len(ids) // 2 - 1]
    return df.filter(F.col(key) <= mid), df.filter(F.col(key) > mid)


def _dedup_family(spark, key, content, corpus, arrivals, prime, tick, oneshot):
    """A dedup family: the result is the set of accepted arrival ids."""
    from mistocksync_spark.streaming import merge


    def content_rows(state):
        return spark.read.parquet(os.path.join(state, content))

    return SimpleNamespace(
        key=key,
        corpus=corpus,
        arrivals=arrivals,
        prime=prime,
        tick=tick,
        kept=lambda state, k: content_rows(state)
        .filter((F.col("batch") == k) & F.col("accepted"))
        .count(),
        ticked=lambda state: {
            r[0]
            for r in merge.accepted_rows(spark, state, content, key)
            .filter(F.col("origin") == "batch")
            .collect()
        },
        oneshot=lambda: {
            r[0] for r in oneshot().filter(F.col("origin") == "batch").select(key).collect()
        },
    )


def _family(spark, sf_dir: str, name: str, holdout_mod: int | None):
    from mistocksync_spark.streaming import merge

    if name == "corpus":
        from mistocksync_spark.operators.dedup import incremental_dedup_merge

        corpus, arrivals = _split_half(spark, sf_dir, "documents.parquet", "doc_id", "text")
        return _dedup_family(
            spark, "doc_id", "docs", corpus, arrivals,
            lambda state: merge.prime_corpus_dedup_state(corpus, state),
            merge.corpus_dedup_tick_against_state,
            lambda: incremental_dedup_merge(corpus, arrivals),
        )
    if name == "embedding":
        from mistocksync_spark.operators.vectors import (
            incremental_embedding_dedup_ivf,
            inferred_dim,
            ivf_train,
        )

        corpus, arrivals = _split_half(
            spark, sf_dir, "embeddings.parquet", "vec_id", "embedding"
        )
        cents = ivf_train(corpus, n_centroids=max(16, corpus.count() // 200), iterations=2)
        dim = inferred_dim(corpus, "embedding")
        return _dedup_family(
            spark, "vec_id", "vecs", corpus, arrivals,
            lambda state: merge.prime_embedding_dedup_state(corpus, cents, state),
            lambda batch, k, state: merge.embedding_dedup_tick_against_state(
                batch, k, state, cents, dim=dim
            ),
            lambda: incremental_embedding_dedup_ivf(corpus, arrivals, cents),
        )
    from mistocksync_spark.operators.textual import incremental_prepare_tick
    from mistocksync_spark.plans.feeds import docs_incr_batch, docs_incr_corpus

    corpus = docs_incr_corpus(spark, sf_dir).select("doc_id", "text")
    arrivals = docs_incr_batch(spark, sf_dir).select("doc_id", "text")

    def decisions(df):
        return {(r.doc_id, r.reason) for r in df.collect()}

    return SimpleNamespace(
        key="doc_id",
        corpus=corpus,
        arrivals=arrivals,
        prime=lambda state: merge.prime_prepare_state(corpus, state, holdout_mod=holdout_mod),
        tick=lambda batch, k, state: merge.prepare_tick_against_state(
            batch, k, state, holdout_mod=holdout_mod
        ),
        kept=lambda state, k: spark.read.parquet(os.path.join(state, "decisions", f"b{k}"))
        .filter(F.col("reason") == "ok")
        .count(),
        ticked=lambda state: decisions(
            spark.read.parquet(os.path.join(state, "decisions", "b*"))
        ),
        oneshot=lambda: decisions(
            incremental_prepare_tick(corpus, arrivals, holdout_mod=holdout_mod)
        ),
    )


def _drift_and_rebuild(spark, state: str, batch, k: int, rebuild: bool) -> None:
    """Print tick k's vocabulary drift (the frozen vocabulary against a
    rebuild over the state this tick saw); with ``rebuild``, rebuild the
    vocabulary from that state plus the tick's arrivals and re-freeze it."""
    from mistocksync_spark.operators.textual import vocabulary_drift, vocabulary_rebuild
    from mistocksync_spark.sinks.layout import keyed_state_read

    p_vocab = os.path.join(state, "vocab")
    vocab = spark.read.parquet(p_vocab)
    seen = keyed_state_read(spark, os.path.join(state, "docs"), before_batch=k)
    dr = vocabulary_drift(seen, batch, frozen_vocab=vocab).collect()[0]
    print(
        f"      vocab_drift={dr.n_disagree}/{dr.n_scored} "
        f"(frozen_rare={dr.n_rare_frozen} rebuilt_rare={dr.n_rare_rebuilt})",
        flush=True,
    )
    if not rebuild:
        return
    t0 = time.monotonic()
    # the state before this tick plus its arrivals is exactly the grown
    # corpus: no row enters the token-mass aggregate twice
    new_vocab, audit = vocabulary_rebuild(seen, batch, frozen_vocab=vocab)
    a = audit.collect()[0]
    staged = state.rstrip("/") + ".vocab_rebuilt"
    new_vocab.write.parquet(staged)
    shutil.rmtree(p_vocab)
    os.rename(staged, p_vocab)
    print(
        f"      vocab REBUILD: frozen={a.n_frozen} -> rebuilt={a.n_rebuilt} "
        f"(+{a.n_added}/-{a.n_removed}) drift_before={a.n_disagree_before}/"
        f"{a.n_scored} after={a.n_disagree_after} "
        f"wall={time.monotonic() - t0:.2f}s",
        flush=True,
    )


def _pack_manifest(spark, decided: set, docs, out: str) -> dict:
    """Pack the docs no decision rejected, write them with
    ``pack_emission_write`` and read the manifest back.  Packing must be a
    pure function of (stratum, id order), indifferent to whether the docs
    come from the bucketed state files or the feed."""
    from mistocksync_spark.operators.textual import pack_documents
    from mistocksync_spark.sinks.layout import pack_emission_manifest, pack_emission_write

    rejected = [(int(d),) for d, reason in decided if reason != "ok"]
    rej = spark.createDataFrame(rejected or spark.sparkContext.emptyRDD(), "doc_id long")
    toks = docs.join(rej, on="doc_id", how="left_anti").select(
        "doc_id",
        F.pmod(F.col("doc_id"), F.lit(8)).cast("int").alias("cluster"),
        F.size(F.split(F.col("text"), r"\s+")).cast("long").alias("n_tokens"),
    )
    packed = pack_documents(
        toks, seq_len=2048, token_count_col="n_tokens", stratum_col="cluster", id_col="doc_id"
    ).select(
        "doc_id", F.col("stratum").alias("cluster"), "n_tokens", "pack_id", "pack_offset"
    )
    path = pack_emission_write(packed, out)
    return {
        (r.cluster, r.pack_id): (r.n_docs, r.n_tokens, r.file)
        for r in pack_emission_manifest(spark, path).collect()
    }


def run_ladder(
    spark,
    sf_dir: str,
    family: str,
    n_ticks: int = 5,
    compact_every: int = 0,
    v3: bool = False,
    emit: bool = False,
    rebuild_at: int = 0,
) -> bool:
    """Run the ladder and print its per-tick table; returns whether the
    ticked result equals the one-shot result (True under ``rebuild_at``,
    where there is no one-shot equivalent)."""
    from mistocksync_spark.sinks.layout import keyed_state_read, state_file_count
    from mistocksync_spark.streaming.merge import compact_state, stage_arrivals

    fam = _family(spark, sf_dir, family, 50 if v3 else None)
    work = tempfile.mkdtemp(prefix=f"tick_ladder_{family}_")
    state = os.path.join(work, "state")
    try:
        key = F.col(fam.key)
        ids = sorted(r[0] for r in fam.arrivals.select(key).collect())
        cuts = [ids[len(ids) * i // n_ticks] for i in range(1, n_ticks)] + [ids[-1] + 1]
        preds = [(key >= lo) & (key < hi) for lo, hi in zip([ids[0]] + cuts, cuts)]
        arrivals_dir = stage_arrivals(fam.arrivals, preds, os.path.join(work, "arrivals"))
        t0 = time.monotonic()
        fam.prime(state)
        print(
            f"{family}: primed in {time.monotonic() - t0:.2f}s "
            f"({state_file_count(state)} files, {_mb(state):.3f} MB); "
            f"{len(ids)} arrivals in {n_ticks} ticks",
            flush=True,
        )
        print(
            f"{'tick':>4} {'arrivals':>8} {'kept':>6} {'wall_s':>7} "
            f"{'state_files':>11} {'appended_mb':>11}  compaction"
        )
        for k in range(n_ticks):
            batch = spark.read.parquet(os.path.join(arrivals_dir, f"arrivals_{k}.parquet"))
            note = ""
            if compact_every and k > 0 and k % compact_every == 0:
                t0 = time.monotonic()
                before, after = compact_state(spark, state, k)
                note = f"{before}->{after} files in {time.monotonic() - t0:.2f}s"
            mb = _mb(state)
            t0 = time.monotonic()
            fam.tick(batch, k, state)
            wall = time.monotonic() - t0
            print(
                f"{k + 1:>4} {batch.count():>8} {fam.kept(state, k):>6} {wall:>7.2f} "
                f"{state_file_count(state):>11} {_mb(state) - mb:>11.3f}  {note}",
                flush=True,
            )
            if rebuild_at:
                _drift_and_rebuild(spark, state, batch, k, rebuild=k + 1 == rebuild_at)
        if rebuild_at:
            print("rebuild mode: a vocabulary rebuild starts a new corpus version, "
                  "so there is no one-shot result to compare")
            return True
        t0 = time.monotonic()
        ticked, oneshot = fam.ticked(state), fam.oneshot()
        ok = ticked == oneshot
        print(
            f"one-shot ({time.monotonic() - t0:.2f}s): {len(oneshot)} = "
            f"{n_ticks}-tick union {len(ticked)}: "
            + ("IDENTICAL" if ok else f"MISMATCH {sorted(ticked ^ oneshot)[:20]}"),
            flush=True,
        )
        if emit and ok:
            m_ticked = _pack_manifest(
                spark, ticked, keyed_state_read(spark, os.path.join(state, "docs")),
                os.path.join(work, "packs_ticked"),
            )
            m_oneshot = _pack_manifest(
                spark, oneshot, fam.corpus.unionByName(fam.arrivals),
                os.path.join(work, "packs_oneshot"),
            )
            ok = m_ticked == m_oneshot
            print(f"pack manifests: {len(m_ticked)} = {len(m_oneshot)} packs: "
                  + ("IDENTICAL" if ok else "MISMATCH"), flush=True)
        return ok
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("sf_dir")
    ap.add_argument("--family", choices=("corpus", "embedding", "prepare"), default="corpus")
    ap.add_argument("--ticks", type=int, default=5)
    ap.add_argument("--compact-every", type=int, default=0)
    ap.add_argument("--v3", action="store_true")
    ap.add_argument("--emit", action="store_true")
    ap.add_argument("--rebuild-at", type=int, default=0)
    a = ap.parse_args()
    if (a.v3 or a.emit or a.rebuild_at) and a.family != "prepare":
        ap.error("--v3, --emit and --rebuild-at apply to --family prepare")
    if a.emit and not a.v3:
        ap.error("--emit needs --v3")

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from mistocksync_spark.session import get_spark

    spark = get_spark("tick_ladder")
    ok = run_ladder(
        spark, a.sf_dir, a.family, a.ticks, a.compact_every, a.v3, a.emit, a.rebuild_at
    )
    spark.stop()
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
