"""The workloads, each as set-up plus a sequence of timed operations.

Every operation is timed as a whole (its wall time is the end-to-end
sample) and split into spans, one per call the benchmark makes into a
module's public functions; the span names are the per-layer metric
prefixes.  Counts and sizes that are not part of the user's action are
gathered outside the operation's time window.
"""

from __future__ import annotations

import os
import shutil
import time
import traceback
from contextlib import contextmanager


class Op:
    """One operation: its wall-clock window and the spans inside it."""

    def __init__(self, workload: str, name: str, index: int):
        self.group = f"{workload}:{name}:{index}"
        self.spans: list[tuple[str, float, float]] = []
        self.counts: dict[str, float] = {}
        self.rows = 0
        self.units = 1  # user operations inside this one (a ticks round holds two ticks)
        self.start = self.end = 0.0
        self.error: str | None = None

    @contextmanager
    def span(self, layer: str):
        t0 = time.time()
        try:
            yield
        finally:
            self.spans.append((layer, t0, time.time()))

    @property
    def wall(self) -> float:
        return self.end - self.start

    def as_dict(self) -> dict:
        return {
            "op": self.group, "wall_s": self.wall, "start": self.start,
            "end": self.end, "rows": self.rows, "units": self.units, "spans": self.spans, "counts": self.counts,
            "error": self.error,
        }


def run_op(spark, op: Op, body) -> Op:
    """Run ``body(op)`` under the job group ``workload:op:i``.  An
    exception marks the operation failed; it is recorded, not raised."""
    sc = spark.sparkContext
    sc.setJobGroup(op.group, op.group)
    op.start = time.time()
    try:
        body(op)
    except Exception:  # one failed operation must not end the run
        op.error = traceback.format_exc(limit=8)
    finally:
        op.end = time.time()
        sc.setJobGroup(op.group + ":untimed", "untimed")
    return op


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


# ---------------------------------------------------------------------------
# sync: price list -> cleanse -> cascade -> fuzzy -> report -> merged base
# ---------------------------------------------------------------------------
LAYOUTS = {
    # layout: (source config, supplier article, base article, base price)
    "vitya": ("vitya", "article_vitya", "article_vitya", "price_vitya_usd"),
    "dimi": ("dimi", "article_dimi", "article_dimi", "price_dimi_usd"),
}


def prepare_supplier(raw, layout: str):
    """The reference's per-supplier row filters and article cleaner."""
    from pyspark.sql import functions as F

    from mistocksync_spark.functions import clean_article_dimi, clean_article_vitya
    from mistocksync_spark.operators import filters as flt

    df = flt.filter_by_price(raw, "price_usd")
    if layout == "vitya":
        df = flt.filter_vitya_balance(df)
        return df.withColumn(
            "article_vitya", clean_article_vitya(F.col("article_vitya").cast("string"))
        ).withColumn("supplier_name", F.lit("Витя"))
    df = flt.filter_dimi_balance(df)
    return df.withColumn("article_dimi", clean_article_dimi(F.col("article_dimi"))).withColumn(
        "supplier_name", F.lit("Дима")
    )


def load_base(spark, path: str):
    from mistocksync_spark.sources.reader import SourceConfig, read_parquet

    return read_parquet(spark, path, SourceConfig.load("base"))


def read_list(spark, lst: dict):
    from mistocksync_spark.sources.reader import SourceConfig, read_excel

    return read_excel(spark, lst["path"], SourceConfig.load(LAYOUTS[lst["layout"]][0]))


def compare(sup, base, layout: str) -> dict:
    from mistocksync_spark.operators.cascade import perform_comparison

    _, s_art, b_art, b_price = LAYOUTS[layout]
    return perform_comparison(
        sup, base, supplier_article=s_art, supplier_price="price_usd",
        base_article=b_art, base_price=b_price, cache=True,
    )


class SyncWorkload:
    """One long-lived session syncing a sequence of price lists against a
    base that each sync's merge rewrites and the next sync reloads."""

    def __init__(self, spark, workdir: str, trace: bool):
        self.spark, self.workdir, self.trace = spark, workdir, trace
        self.versions = [os.path.join(workdir, "base.parquet")]
        self.synced: list[tuple[dict, str, str, str]] = []  # (list, base in, base out, report)
        self._last: tuple = ()

    def setup(self) -> None:
        load_base(self.spark, self.versions[0])

    def warm_up(self, lst: dict) -> Op:
        """Untimed: the cascade on one list up to its stage-1 action, which
        takes the driver-side construction and its first planning through
        the cold JVM once."""
        def body(op: Op) -> None:
            sup = prepare_supplier(read_list(self.spark, lst), lst["layout"])
            compare(sup, load_base(self.spark, self.versions[0]), lst["layout"])["new_items"].count()

        op = run_op(self.spark, Op("sync", "warmup", -1), body)
        self.spark.catalog.clearCache()
        return op

    def op(self, i: int, lst: dict) -> Op:
        op = run_op(self.spark, Op("sync", lst["layout"], i), lambda o: self._sync(o, i, lst))
        if self.trace and op.error is None:
            self._trace_counts(op)
        self._last = ()
        self.spark.catalog.clearCache()
        return op

    def _sync(self, op: Op, i: int, lst: dict) -> None:
        from mistocksync_spark.operators.fuzzy import fuzzy_best_match
        from mistocksync_spark.operators.matching import price_update_join
        from mistocksync_spark.sinks.excel import write_report_xlsx
        from mistocksync_spark.sinks.mutate import price_merge
        from mistocksync_spark.sinks.report import build_report

        spark, layout = self.spark, lst["layout"]
        _, s_art, b_art, b_price = LAYOUTS[layout]
        with op.span("sources.read_excel"):
            raw = read_list(spark, lst)
        with op.span("sources.base_read"):
            base = load_base(spark, self.versions[-1])
        sup = prepare_supplier(raw, layout)
        with op.span("operators.cascade.build"):
            res = compare(sup, base, layout)
        with op.span("operators.cascade.run"):
            # fill the cached stage boundaries in dependency order
            for k in ("new_items", "bracket_matches", "code_matches"):
                res[k].count()
        cand = (
            res["new_items_for_base"].withColumnRenamed("price", "price_usd")
            .withColumnRenamed("supplier_index", "cand_order")
        )
        with op.span("operators.fuzzy.run"):
            fuzzy = fuzzy_best_match(
                cand, base, candidate_name="name", candidate_order="cand_order", blocking="bounded"
            ).collect()
        report = os.path.join(self.workdir, f"report_{i:03d}.xlsx")
        with op.span("sinks.excel.report"):
            write_report_xlsx(build_report(res, base, sup, s_art), report)
        nxt = os.path.join(self.workdir, f"base_v{len(self.versions):03d}")
        with op.span("sinks.mutate.merge"):
            updates = price_update_join(
                base, sup.na.drop(subset=[s_art, "price_usd"]), base_article=b_art,
                base_price=b_price, supplier_article=s_art, supplier_price="price_usd",
            )
            merged = price_merge(base, updates, base_article=b_art, base_price=b_price)
            merged.drop("updated").write.mode("overwrite").parquet(nxt)
        self.synced.append((lst, self.versions[-1], nxt, report))
        self.versions.append(nxt)
        op.rows = lst["rows"]
        op.counts["operators.fuzzy.matched"] = len(fuzzy)
        op.counts["sinks.mutate.files_written"] = sum(f.endswith(".parquet") for f in os.listdir(nxt))
        self._last = (base, cand)

    def _trace_counts(self, op: Op) -> None:
        from mistocksync_spark.operators.fuzzy import fuzzy_candidate_pairs

        base, cand = self._last
        op.counts["operators.fuzzy.candidate_pairs"] = fuzzy_candidate_pairs(
            cand, base, candidate_name="name", candidate_order="cand_order", blocking="broadcast"
        ).count()


# ---------------------------------------------------------------------------
# dedup: SimHash pairs -> connected components, MinHash-LSH, embedding near-dup
# ---------------------------------------------------------------------------
class DedupWorkload:
    """Batch near-duplicate audit passes over the document and vector
    corpora."""

    def __init__(self, spark, workdir: str, trace: bool):
        self.spark, self.tables, self.trace = spark, os.path.join(workdir, "tables"), trace
        self.outputs: dict = {}

    def op(self, i: int) -> Op:
        op = run_op(self.spark, Op("dedup", "pass", i), self._pass)
        if self.trace and op.error is None:
            from mistocksync_spark.operators.vectors import banded_candidate_pairs
            from mistocksync_spark.plans.feeds import emb_aug

            op.counts["operators.vectors.candidates"] = banded_candidate_pairs(
                emb_aug(self.spark, self.tables)
            ).count()
        return op

    def _pass(self, op: Op) -> None:
        from mistocksync_spark.operators.dedup import (
            connected_components,
            lsh_bands,
            lsh_candidate_pairs,
            minhash_signatures,
            shingle_table,
            simhash,
            simhash_near_dup_pairs,
        )
        from mistocksync_spark.operators.vectors import cosine_near_dup_pairs
        from mistocksync_spark.plans.feeds import docs_aug, emb_aug

        spark = self.spark
        docs = docs_aug(spark, self.tables)
        with op.span("operators.dedup.simhash_pairs"):
            pairs = simhash_near_dup_pairs(simhash(docs), max_hamming=3).localCheckpoint()
        with op.span("operators.dedup.cc"):
            labels = connected_components(pairs)
            label_rows = labels.collect()
        with op.span("operators.dedup.minhash_pairs"):
            bands = lsh_bands(minhash_signatures(shingle_table(docs), 8), 2).localCheckpoint(eager=False)
            candidates = lsh_candidate_pairs(bands)
            candidate_rows = candidates.collect()
        emb = emb_aug(spark, self.tables)
        with op.span("operators.vectors.near_dup"):
            near = cosine_near_dup_pairs(emb, threshold=0.99)
            near_rows = near.collect()
        self.outputs = {
            "dedup_clusters": (labels.columns, [tuple(r) for r in label_rows]),
            "simhash_dedup_pairs": (pairs.columns, [tuple(r) for r in pairs.collect()]),
            "minhash_lsh_pairs": (candidates.columns, [tuple(r) for r in candidate_rows]),
            "embedding_near_dup": (near.columns, [tuple(r) for r in near_rows]),
        }
        op.rows = docs.count() + emb.count()
        op.counts["operators.dedup.minhash_candidates"] = len(candidate_rows)
        op.counts["operators.vectors.near_dup_pairs"] = len(near_rows)


# ---------------------------------------------------------------------------
# ticks: keyed-state corpus and embedding dedup ticks on growing state
# ---------------------------------------------------------------------------
class TicksWorkload:
    """Rounds of one document ingest tick and one vector ingest tick
    against keyed state that every tick appends to."""

    def __init__(self, spark, workdir: str, rounds: list[dict], centroids, trace: bool, rep: int = 0):
        self.spark, self.workdir, self.rounds, self.trace = spark, workdir, rounds, trace
        self.centroids = centroids
        self.tables = os.path.join(workdir, "tables")
        self.state = os.path.join(workdir, f"state_{rep}")
        self.done: list[int] = []

    def setup(self) -> float:
        """Prime both keyed-state roots from the corpora; returns its time."""
        from mistocksync_spark.plans.feeds import docs_incr_corpus, emb_incr_corpus
        from mistocksync_spark.streaming.merge import (
            prime_corpus_dedup_state,
            prime_embedding_dedup_state,
        )

        shutil.rmtree(self.state, ignore_errors=True)
        t0 = time.perf_counter()
        prime_corpus_dedup_state(
            docs_incr_corpus(self.spark, self.tables), os.path.join(self.state, "corpus")
        )
        prime_embedding_dedup_state(
            emb_incr_corpus(self.spark, self.tables), self.centroids, os.path.join(self.state, "embedding")
        )
        return time.perf_counter() - t0

    def op(self) -> Op:
        """The next round; rounds run in order, with increasing batch ids."""
        from mistocksync_spark.sinks.layout import state_file_count

        i = len(self.done)
        before = dir_bytes(self.state) if self.trace else 0
        op = Op("ticks", "round", i)
        op.units = 2
        run_op(self.spark, op, lambda o: self._round(o, i))
        self.done.append(i)
        if self.trace:
            after = dir_bytes(self.state)
            op.counts["sinks.layout.append_bytes"] = (after - before) / 2
            op.counts["sinks.layout.state_bytes"] = after
            op.counts["sinks.layout.state_files"] = sum(
                state_file_count(os.path.join(self.state, k)) for k in ("corpus", "embedding")
            )
        return op

    def _round(self, op: Op, i: int) -> None:
        from mistocksync_spark.streaming.merge import (
            corpus_dedup_tick_against_state,
            embedding_dedup_tick_against_state,
        )

        docs, vecs = self.rounds[i]["corpus"], self.rounds[i]["embedding"]
        with op.span("streaming.merge.corpus_tick"):
            corpus_dedup_tick_against_state(
                self.spark.read.parquet(docs["path"]), i, os.path.join(self.state, "corpus")
            )
        with op.span("streaming.merge.embedding_tick"):
            embedding_dedup_tick_against_state(
                self.spark.read.parquet(vecs["path"]), i, os.path.join(self.state, "embedding"),
                self.centroids, dim=64,
            )
        op.rows = docs["rows"] + vecs["rows"]
