"""Storage-layout sinks: range clustering must produce disjoint per-file
statistics that a filter can prune; compaction must hit the file-count
target.  Assertions read the actual parquet footers via pyarrow."""

import glob
import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F


def _file_ranges(path, column):
    out = []
    for p in sorted(glob.glob(os.path.join(path, "*.parquet"))):
        md = pq.ParquetFile(p).metadata
        lo, hi = None, None
        for rg in range(md.num_row_groups):
            for ci in range(md.num_columns):
                col = md.row_group(rg).column(ci)
                if col.path_in_schema == column and col.statistics is not None:
                    s = col.statistics
                    lo = s.min if lo is None else min(lo, s.min)
                    hi = s.max if hi is None else max(hi, s.max)
        out.append((lo, hi))
    return out


def test_clustered_write_produces_disjoint_ranges(spark, sf_dir, tmp_path):
    from mistocksync_spark.sinks.layout import clustered_write

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select("event_id", "user_id")
    path = clustered_write(ev, str(tmp_path / "clustered"), ["user_id"], n_files=4)
    ranges = sorted(r for r in _file_ranges(path, "user_id") if r[0] is not None)
    assert len(ranges) >= 2
    for (_, hi_prev), (lo_next, _) in zip(ranges, ranges[1:]):
        assert hi_prev <= lo_next  # disjoint: a user_id predicate prunes files
    # and the data round-trips
    assert spark.read.parquet(path).count() == ev.count()


def test_unclustered_write_overlaps_for_contrast(spark, sf_dir, tmp_path):
    # hash repartition: every file spans ~the whole user_id domain, so a
    # point predicate must open every file — the layout clustered_write fixes
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select("event_id", "user_id")
    path = str(tmp_path / "hashed")
    ev.repartition(4, "user_id").write.parquet(path)
    ranges = [r for r in _file_ranges(path, "user_id") if r[0] is not None]
    overlapping = sum(
        1
        for i, a in enumerate(ranges)
        for b in ranges[i + 1 :]
        if not (a[1] <= b[0] or b[1] <= a[0])
    )
    assert overlapping > 0


def test_compact_files_hits_target_count(spark, sf_dir, tmp_path):
    from mistocksync_spark.sinks.layout import compact_files

    src = str(tmp_path / "many")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    ev.repartition(16).write.parquet(src)
    assert len(glob.glob(os.path.join(src, "*.parquet"))) == 16
    total = sum(os.path.getsize(p) for p in glob.glob(os.path.join(src, "*.parquet")))
    dst = str(tmp_path / "compact")
    n = compact_files(spark, src, dst, target_file_bytes=max(-(-total // 2), 1))
    assert n == 2
    assert len(glob.glob(os.path.join(dst, "*.parquet"))) == 2
    assert spark.read.parquet(dst).count() == ev.count()


def test_keyed_state_append_prune_compact_roundtrip(spark, sf_dir, tmp_path):
    """Round-12 state-table layout: (1) a pruned state read (batch-touched
    buckets only) feeds the ingest tick LOSSLESSLY — identical accepted
    set to the unpruned read; (2) the pruning is real partition pruning
    (PartitionFilters on the bucket column in the scan); (3) the
    compaction tick bounds the file count without changing a row."""
    from mistocksync_spark.operators.dedup import (
        corpus_signature_state,
        near_dup_gate,
        seen_set_merge,
    )
    from mistocksync_spark.sinks.layout import (
        compact_keyed_state,
        keyed_state_append,
        keyed_state_read,
        state_file_count,
        touched_buckets,
    )

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .orderBy("doc_id")
        .limit(300)
    )
    corpus = docs.filter(F.col("doc_id") < 150)
    b1 = docs.filter((F.col("doc_id") >= 150) & (F.col("doc_id") < 200))
    b2 = docs.filter(F.col("doc_id") >= 200)
    path = str(tmp_path / "bands_state")
    key = ["band", "band_key"]

    keyed_state_append(
        corpus_signature_state(corpus), path, key, n_buckets=16, batch_id=-1
    )
    keyed_state_append(corpus_signature_state(b1), path, key, n_buckets=16, batch_id=0)
    files_two_ticks = state_file_count(path)

    # tick over b2: pruned vs unpruned state read, identical verdicts
    b2_bands = corpus_signature_state(b2)
    buckets = touched_buckets(b2_bands, path)
    assert 0 < len(buckets) <= 16
    seen_docs = corpus.unionByName(b1)  # state docs = corpus + all arrivals

    def accepted(state):
        rejected = near_dup_gate(b2, state, b2_bands, lambda ids: seen_docs)
        return {
            r.doc_id
            for r in seen_set_merge(seen_docs, b2, rejected, "doc_id")
            .filter(F.col("origin") == "batch")
            .collect()
        }

    accepted_pruned = accepted(keyed_state_read(spark, path, buckets))
    accepted_full = accepted(keyed_state_read(spark, path))
    assert accepted_pruned == accepted_full and len(accepted_pruned) > 0

    # partition pruning is in the PLAN, not just the row count
    plan = (
        keyed_state_read(spark, path, buckets)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters" in plan and "bucket" in plan

    # compaction: fewer files, zero row drift (order-insensitive content)
    before_rows = sorted(tuple(r) for r in keyed_state_read(spark, path).collect())
    nb, na = compact_keyed_state(spark, path)
    assert nb == files_two_ticks and na <= nb
    assert na <= spark.read.parquet(path).select("bucket").distinct().count()
    after_rows = sorted(tuple(r) for r in keyed_state_read(spark, path).collect())
    assert after_rows == before_rows


def test_prepare_tick_stored_digest_gram_state(spark, sf_dir, tmp_path):
    """The prepare tick's exact and span gates
    probe PERSISTED keyed-append digest/gram state under PRUNED reads,
    bit-identically to the one-shot tick (state derived in memory), and
    the pruning is real partition pruning (PartitionFilters on the bucket
    column) in both state scans."""
    from mistocksync_spark.operators.dedup import (
        char_gram_positions,
        corpus_digest_state,
        corpus_gram_state,
        corpus_signature_state,
    )
    from mistocksync_spark.operators.textual import (
        corpus_vocabulary,
        incremental_prepare_tick,
        prepare_gate,
    )
    from mistocksync_spark.sinks.layout import (
        keyed_state_append,
        keyed_state_read,
        touched_buckets,
    )

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .orderBy("doc_id")
        .limit(240)
        .localCheckpoint(eager=False)
    )
    corpus = docs.filter(F.col("doc_id") < 120)
    # arrivals: an exact copy, a 40%-prefix span-dup, and fresh docs
    batch = (
        corpus.filter(F.col("doc_id") < 20)
        .select((F.col("doc_id") + 1000).alias("doc_id"), "text")
        .unionByName(
            corpus.filter((F.col("doc_id") >= 20) & (F.col("doc_id") < 40)).select(
                (F.col("doc_id") + 2000).alias("doc_id"),
                F.concat(
                    F.expr("substr(text, 1, CAST(floor(length(text) * 0.4) AS INT))"),
                    F.lit(" new tail "),
                    F.col("doc_id").cast("string"),
                ).alias("text"),
            )
        )
        .unionByName(
            docs.filter(F.col("doc_id") >= 120).select(
                (F.col("doc_id") + 3000).alias("doc_id"), "text"
            )
        )
        .localCheckpoint(eager=False)
    )

    p_bands = str(tmp_path / "bands")
    p_dig = str(tmp_path / "digests")
    p_grams = str(tmp_path / "grams")
    keyed_state_append(
        corpus_signature_state(corpus), p_bands, ["band", "band_key"], batch_id=-1
    )
    keyed_state_append(corpus_digest_state(corpus), p_dig, ["digest"], batch_id=-1)
    keyed_state_append(corpus_gram_state(corpus), p_grams, ["g"], batch_id=-1)
    bdig = corpus_digest_state(batch)
    bgrams = char_gram_positions(batch).select("g").distinct()
    digests = keyed_state_read(spark, p_dig, touched_buckets(bdig, p_dig))
    grams = keyed_state_read(spark, p_grams, touched_buckets(bgrams, p_grams))
    bands = keyed_state_read(
        spark, p_bands, touched_buckets(corpus_signature_state(batch), p_bands)
    )

    stored = prepare_gate(
        batch,
        bands,
        corpus_signature_state(batch),
        digests,
        grams,
        corpus_vocabulary(corpus),
        lambda ids: corpus,
        None,
        None,
    )
    plain = incremental_prepare_tick(corpus, batch)
    got = {(r.doc_id, r.reason) for r in stored.collect()}
    want = {(r.doc_id, r.reason) for r in plain.collect()}
    assert got == want
    reasons = {r for _, r in got}
    assert "exact_dup" in reasons and "span_dup" in reasons

    for pruned in (digests, grams):
        plan = pruned._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters" in plan and "bucket" in plan


def _mini_prepare_inputs(spark, sf_dir):
    """Small corpus/batch pair with an exact dup, a near dup and fresh
    docs — shared by the replay-idempotency and pruning tests."""
    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .orderBy("doc_id")
        .limit(160)
        .localCheckpoint(eager=False)
    )
    corpus = docs.filter(F.col("doc_id") < 100)
    batch = (
        corpus.filter(F.col("doc_id") < 15)
        .select((F.col("doc_id") + 1000).alias("doc_id"), "text")
        .unionByName(
            docs.filter(F.col("doc_id") >= 100).select(
                (F.col("doc_id") + 3000).alias("doc_id"), "text"
            )
        )
        .localCheckpoint(eager=False)
    )
    return corpus, batch


def _stream_family(spark, sf_dir, family):
    """One keyed-state stream family on small inputs: ``prime(state)``,
    ``tick(state)`` (micro-batch 0), ``decided(state)`` (the decisions, or
    the arrivals' accepted flags), its state ``tables``, and the table
    whose append the fault-injection test fails."""
    from types import SimpleNamespace

    from mistocksync_spark.operators.vectors import ivf_train
    from mistocksync_spark.sinks.layout import keyed_state_read
    from mistocksync_spark.streaming import merge

    def accepted(state, table, key):
        rows = keyed_state_read(spark, os.path.join(state, table))
        return {
            (r[key], r.accepted) for r in rows.filter("origin = 'batch'").collect()
        }

    if family == "embedding":
        emb = "vec_id long, embedding array<float>"
        corpus = spark.createDataFrame(
            [(1, [1.0, 0.0, 0.0, 0.0]), (2, [0.0, 1.0, 0.0, 0.0])], emb
        )
        batch = spark.createDataFrame(
            [
                (10, [2.0, 0.0, 0.0, 0.0]),  # scaled copy of corpus 1
                (11, [0.0, 1.0, 0.0, 0.0]),  # exact copy of corpus 2
                (12, [0.0, 0.0, 1.0, 0.0]),  # fresh
                (13, [0.0, 0.0, 3.0, 0.0]),  # scaled copy of accepted 12
                (14, [-1.0, 0.0, 0.0, 0.0]),  # negated corpus 1: fresh
            ],
            emb,
        )
        cents = ivf_train(corpus, n_centroids=2, iterations=2)
        return SimpleNamespace(
            prime=lambda st: merge.prime_embedding_dedup_state(corpus, cents, st),
            tick=lambda st: merge.embedding_dedup_tick_against_state(
                batch, 0, st, cents, dim=4
            ),
            decided=lambda st: accepted(st, "vecs", "vec_id"),
            tables=("vecs", "cells"),
            fail="vecs",
        )
    corpus, batch = _mini_prepare_inputs(spark, sf_dir)
    if family == "corpus":
        return SimpleNamespace(
            prime=lambda st: merge.prime_corpus_dedup_state(corpus, st),
            tick=lambda st: merge.corpus_dedup_tick_against_state(batch, 0, st),
            decided=lambda st: accepted(st, "docs", "doc_id"),
            tables=("docs", "bands"),
            fail="bands",
        )
    return SimpleNamespace(
        prime=lambda st: merge.prime_prepare_state(corpus, st),
        tick=lambda st: merge.prepare_tick_against_state(batch, 0, st),
        decided=lambda st: {
            (r.doc_id, r.reason)
            for r in spark.read.parquet(os.path.join(st, "decisions", "b0")).collect()
        },
        tables=("docs", "bands", "digests", "grams"),
        fail="digests",
    )


def _state_rows(spark, state, table):
    rows = spark.read.parquet(os.path.join(state, table)).collect()
    return sorted(repr(tuple(r)) for r in rows)


_FAMILIES = ("prepare", "corpus", "embedding")


@pytest.mark.parametrize("family", _FAMILIES)
def test_tick_replay_is_idempotent(spark, sf_dir, tmp_path, family):
    """A checkpoint-recovery REPLAY of micro-batch k must produce the same
    decisions (NOT judge every arrival against its own earlier appends)
    and leave every state table with exactly one copy of the batch's
    rows: batch-id partitions + dynamic overwrite make the append
    idempotent, and before_batch pins the reads to the pre-batch state."""
    case = _stream_family(spark, sf_dir, family)
    state = str(tmp_path / "state")
    case.prime(state)

    def run():
        case.tick(state)
        counts = {
            t: spark.read.parquet(os.path.join(state, t)).count() for t in case.tables
        }
        return case.decided(state), counts

    dec1, counts1 = run()
    dec2, counts2 = run()  # same batch, same id: foreachBatch re-delivery
    assert dec1 == dec2
    assert counts1 == counts2
    # the replayed verdicts are the REAL ones: some arrivals rejected,
    # some accepted
    verdicts = {v for _, v in dec2}
    if family == "prepare":
        assert "ok" in verdicts and "exact_dup" in verdicts
    else:
        assert verdicts == {True, False}


@pytest.mark.parametrize("family", _FAMILIES)
def test_tick_crash_then_replay_equals_clean_run(
    spark, sf_dir, tmp_path, monkeypatch, family
):
    """Fault injection through the shared tick: one table's first tick
    append raises.  The tick must raise with no sibling append left in
    flight, and a replay of the same batch id must leave the state and
    the decisions exactly as a clean run does."""
    from mistocksync_spark.streaming import merge

    case = _stream_family(spark, sf_dir, family)
    clean, crashed = str(tmp_path / "clean"), str(tmp_path / "crashed")
    case.prime(clean)
    case.prime(crashed)
    case.tick(clean)

    real = merge.keyed_state_append
    failed, started, finished = [], [], []

    def flaky(df, path, key_cols, **kw):
        table = os.path.basename(path)
        if table == case.fail and kw.get("batch_id") == 0 and not failed:
            failed.append(table)
            raise RuntimeError("injected append failure")
        started.append(table)
        real(df, path, key_cols, **kw)
        finished.append(table)

    monkeypatch.setattr(merge, "keyed_state_append", flaky)
    with pytest.raises(RuntimeError, match="injected append failure"):
        case.tick(crashed)
    assert failed == [case.fail]
    # every sibling append ran to completion before the error surfaced
    assert sorted(started) == sorted(finished) == sorted(set(case.tables) - {case.fail})
    assert spark.sparkContext.statusTracker().getActiveJobsIds() == []

    monkeypatch.undo()
    case.tick(crashed)
    assert case.decided(crashed) == case.decided(clean)
    for t in case.tables:
        assert _state_rows(spark, crashed, t) == _state_rows(spark, clean, t), t


def test_prepare_tick_docs_read_is_pruned_and_batch_pinned(spark, sf_dir, tmp_path):
    """The docs-store fetch inside the stored tick is
    real partition pruning — PartitionFilters on BOTH layout columns
    (bucket via the candidate-id bucket set, batch via before_batch) —
    and reads strictly fewer files than the table holds."""
    from mistocksync_spark.sinks.layout import (
        keyed_state_append,
        keyed_state_read,
        touched_buckets,
        touched_buckets_multi,
    )

    corpus, batch = _mini_prepare_inputs(spark, sf_dir)
    p_docs = str(tmp_path / "docs")
    keyed_state_append(corpus, p_docs, ["doc_id"], batch_id=-1)
    keyed_state_append(batch, p_docs, ["doc_id"], batch_id=0)
    c_ids = corpus.limit(3).select("doc_id")
    pruned = keyed_state_read(
        spark, p_docs, touched_buckets(c_ids, p_docs), before_batch=0
    )
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "bucket" in plan and "batch" in plan
    # lossless: every candidate id present; batch rows pinned out
    got_ids = {r.doc_id for r in pruned.select("doc_id").collect()}
    want_ids = {r.doc_id for r in c_ids.collect()}
    assert want_ids <= got_ids
    batch_ids = {r.doc_id for r in batch.select("doc_id").collect()}
    assert not (got_ids & batch_ids)

    # the folded multi-frame bucket fetch equals the per-frame fetches
    multi = touched_buckets_multi({"a": (c_ids, p_docs), "b": (batch, p_docs)})
    assert multi["a"] == touched_buckets(c_ids, p_docs)
    assert multi["b"] == touched_buckets(batch, p_docs)


def test_purge_keyed_state_rewrites_only_touched_buckets(spark, sf_dir, tmp_path):
    """Governance tick: the right-to-be-forgotten purge must remove
    exactly the tombstoned keys' rows, and must NOT open/rewrite any
    bucket the purged keys don't hash to — deletion requests are small,
    so the purge is a partial rewrite (the DELETE-WHERE-with-file-pruning
    shape), never a full-table rewrite."""
    from mistocksync_spark.sinks.layout import (
        _layout_meta,
        keyed_state_append,
        keyed_state_read,
        purge_keyed_state,
        state_bucket,
    )

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .orderBy("doc_id")
        .limit(300)
        .localCheckpoint(eager=False)
    )
    path = str(tmp_path / "docs")
    keyed_state_append(docs, path, ["doc_id"], batch_id=-1)
    tomb_ids = [r.doc_id for r in docs.limit(7).select("doc_id").collect()]
    tomb = docs.filter(F.col("doc_id").isin(tomb_ids)).select("doc_id")
    tomb_buckets = {
        r.b
        for r in tomb.select(
            state_bucket(["doc_id"], _layout_meta(path)["n_buckets"]).alias("b")
        )
        .distinct()
        .collect()
    }
    before = {
        f: (os.path.getmtime(f), os.path.getsize(f))
        for f in glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    }
    removed, rewritten = purge_keyed_state(spark, path, tomb, ["doc_id"])
    assert removed == len(tomb_ids)
    assert rewritten <= len(tomb_buckets)
    after_ids = {r.doc_id for r in keyed_state_read(spark, path).select("doc_id").collect()}
    assert not (after_ids & set(tomb_ids))
    assert len(after_ids) == 300 - len(tomb_ids)
    # untouched buckets: files byte-for-byte undisturbed (same path, size,
    # mtime — never opened for rewrite)
    for f, sig in before.items():
        b = int(f.split("bucket=")[1].split("/")[0])
        if b not in tomb_buckets:
            assert os.path.exists(f)
            assert (os.path.getmtime(f), os.path.getsize(f)) == sig


def test_pack_emission_layout_is_bucket_routed_and_clustered(spark, tmp_path):
    """The pack emission sink's physical layout —
    every row lands in the directory its (stratum, pack_id) bucket
    predicts, rows inside each file are range-clustered by (cluster,
    pack_id, pack_offset) so one pack is one contiguous byte range, and
    the parquet footers carry the pack_id min/max statistics a loader's
    row-group pruning needs.  The manifest read-back must agree with a
    direct aggregation of the input."""
    import pyarrow.parquet as papq

    from mistocksync_spark.sinks.layout import (
        pack_emission_manifest,
        pack_emission_write,
    )

    rows = [
        # (doc_id, cluster, pack_id, pack_offset, n_tokens)
        (i, c, p, o, t)
        for i, (c, p, o, t) in enumerate(
            [(c, p, 97 * j % 2048, 100 + j) for c in range(3) for p in range(4) for j in range(5)]
        )
    ]
    packed = spark.createDataFrame(
        rows, "doc_id long, cluster int, pack_id long, pack_offset long, n_tokens long"
    )
    path = pack_emission_write(packed, str(tmp_path / "packs"), n_buckets=4)

    files = glob.glob(os.path.join(path, "pack_bucket=*", "*.parquet"))
    assert files
    saw_stats = False
    for f in files:
        b = int(f.split("pack_bucket=")[1].split("/")[0])
        t = papq.read_table(f)
        d = t.to_pydict()
        trip = list(zip(d["cluster"], d["pack_id"], d["pack_offset"]))
        # bucket routing: the directory is the bucket formula
        for c, p, _ in trip:
            assert (c * 1000000 + p) % 4 == b
        # in-file range clustering: one pack = one contiguous sorted run
        assert trip == sorted(trip)
        md = papq.ParquetFile(f).metadata
        for rg in range(md.num_row_groups):
            for ci in range(md.num_columns):
                col = md.row_group(rg).column(ci)
                if col.path_in_schema == "pack_id" and col.statistics is not None:
                    saw_stats = True
    assert saw_stats  # the footer min/max a loader prunes row groups on

    man = pack_emission_manifest(spark, path)
    got = {
        (r.cluster, r.pack_id): (r.n_docs, r.n_tokens, r.file)
        for r in man.collect()
    }
    want = {
        (r.cluster, r.pack_id): (
            r.n_docs,
            r.n_tokens,
            f"pack_bucket={(r.cluster * 1000000 + r.pack_id) % 4}",
        )
        for r in packed.groupBy("cluster", "pack_id")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
        )
        .collect()
    }
    assert got == want


def test_window_order_prioritizes_failures_and_oracle_changes(monkeypatch):
    """The driver grades a bounded prefix of queries(): never-graded
    queries must come first, then latest-grade failures, then queries
    whose oracle changed since the digest snapshot, then the rest in
    registry order."""
    import __spark_entry__ as entry_mod

    latest = {
        "ok_old": {"rows_match": True, "schema_match": True, "hash_match": True, "err": None},
        "failed": {"rows_match": True, "schema_match": True, "hash_match": False, "err": None},
        "errored": {"rows_match": None, "schema_match": None, "hash_match": None, "err": "boom"},
        "rows_only_upgraded": {"rows_match": None, "schema_match": None,
                               "hash_match": None, "err": "no_oracle",
                               "spark_rows": 5},
        "oracle_changed": {"rows_match": True, "schema_match": True,
                           "hash_match": True, "err": None},
        # truncated write: a dict without the match keys must NOT score
        # as a pass (rank 3) — positive evidence required
        "truncated": {},
    }
    monkeypatch.setattr(entry_mod, "_latest_grades", lambda: latest)
    monkeypatch.setattr(
        entry_mod, "_oracle_digest_changes", lambda oracles: {"oracle_changed"}
    )
    import mistocksync_spark.plans.queries as qmod

    monkeypatch.setattr(
        qmod,
        "ORACLES",
        {k: "SELECT 1" for k in ("ok_old", "failed", "errored",
                                 "rows_only_upgraded", "oracle_changed",
                                 "fresh", "truncated")},
    )
    registry = {k: object() for k in (
        "ok_old", "failed", "errored", "rows_only_upgraded",
        "oracle_changed", "fresh", "truncated",
    )}
    got = list(entry_mod._window_order(registry))
    assert got[0] == "fresh"                       # never graded
    # latest grade FAIL/error/truncated — no positive evidence of a pass
    assert set(got[1:4]) == {"failed", "errored", "truncated"}
    assert set(got[4:6]) == {"rows_only_upgraded", "oracle_changed"}
    assert got[6] == "ok_old"


def test_zorder_key_interleaves_bits(spark):
    from mistocksync_spark.sinks.layout import zorder_key

    df = spark.createDataFrame(
        [(0, 0), (1, 0), (0, 1), (3, 5)], "a long, b long"
    )
    got = {(r.a, r.b): r.z for r in df.select("a", "b", zorder_key("a", "b", 4).alias("z")).collect()}
    # a occupies even bit positions, b odd: z(1,0)=1, z(0,1)=2
    assert got[(0, 0)] == 0 and got[(1, 0)] == 1 and got[(0, 1)] == 2
    # 3=0b011, 5=0b101 -> interleave: b2 a2 b1 a1 b0 a0 = 1 0 0 1 1 1 = 0b100111
    assert got[(3, 5)] == 0b100111


def test_zordered_write_tightens_both_dimensions(spark, sf_dir, tmp_path):
    """Z-order clustering must leave per-file footer ranges on BOTH
    columns strictly tighter than a hash layout — the two-dimensional
    pruning range clustering on one column can't give."""
    from mistocksync_spark.sinks.layout import zordered_write

    # two wide, independent 8-bit dimensions (sf0.001 has only 15 users,
    # whose span no layout can tighten)
    ev = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select(
            (F.col("event_id") % 256).alias("ua"),
            (F.col("event_id") % 251 % 256).alias("eb"),
        )
    )
    zpath = zordered_write(ev, str(tmp_path / "zorder"), "ua", "eb", bits=8, n_files=8)
    hpath = str(tmp_path / "hashed")
    ev.repartition(8).write.parquet(hpath)

    def mean_span(path, col):
        rngs = [r for r in _file_ranges(path, col) if r[0] is not None]
        return sum(hi - lo for lo, hi in rngs) / len(rngs)

    # both dimensions tighter than the unclustered layout on average
    assert mean_span(zpath, "ua") < mean_span(hpath, "ua")
    assert mean_span(zpath, "eb") < mean_span(hpath, "eb")
    assert spark.read.parquet(zpath).count() == ev.count()


def test_window_order_malformed_row_fails_safe(monkeypatch):
    """A corrupted (non-dict) CORRECTNESS row must re-enter the re-grade
    rotation, not score as a pass."""
    import __spark_entry__ as entry_mod

    monkeypatch.setattr(
        entry_mod, "_latest_grades", lambda: {"corrupt": {"err": "malformed"}}
    )
    monkeypatch.setattr(entry_mod, "_oracle_digest_changes", lambda oracles: set())
    got = list(entry_mod._window_order({"ok": object(), "corrupt": object()}))
    assert got[0] == "ok"       # never graded: rank 0
    assert got[1] == "corrupt"  # malformed: rank 1, ahead of any rank-3


def test_digest_snapshot_merge_only_touches_graded_queries(tmp_path, monkeypatch):
    """Merge mode must update digests only for queries in the newest
    CORRECTNESS file, preserving pending change-flags for the rest."""
    import json

    import tools.digest_snapshot as ds

    repo = tmp_path
    (repo / "tools").mkdir()
    (repo / "CORRECTNESS_r01.json").write_text(json.dumps({"graded_q": {}}))
    snap_path = repo / "tools" / "oracle_digests.json"
    snap_path.write_text(json.dumps({"graded_q": "stale", "pending_q": "old_flag"}))

    from __spark_entry__ import oracle_digest

    oracles = {"graded_q": "SELECT 1", "pending_q": "SELECT 2 -- changed"}
    monkeypatch.setattr(ds, "REPO", str(repo))

    class FakeQueries:
        ORACLES = oracles

    import sys

    monkeypatch.setitem(
        sys.modules, "mistocksync_spark.plans.queries", FakeQueries
    )
    ds.main()
    got = json.loads(snap_path.read_text())
    assert got["graded_q"] == oracle_digest("SELECT 1")   # updated to grade-time
    assert got["pending_q"] == "old_flag"                 # pending flag preserved


def test_digest_snapshot_never_certifies_post_grade_edits():
    """The digest-snapshot ritual, enforced by the
    suite instead of remembered: the snapshot must NEVER certify the
    current tree's oracle for a windowed query unless it matches the
    GRADE-TIME oracle (reconstructed from the driver commit that added
    the latest CORRECTNESS file).  snap[q] == digest(now) while
    digest(now) != digest(grade-time) is exactly the merge-after-edit
    signature that has slipped through before (the merge stored the
    EDITED digest as if graded, erasing the pending-regrade flag); every
    legitimate state — steady, merge-pending, post-merge mid-round edit,
    sentinel-pinned — passes regardless of when in the round the suite
    runs."""
    import glob as _glob
    import hashlib
    import json
    import re
    import subprocess
    import sys
    import tempfile

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    rounds = []
    for p in _glob.glob(os.path.join(repo, "CORRECTNESS_r*.json")):
        m = re.search(r"r(\d+)\.json$", p)
        if m:
            rounds.append((int(m.group(1)), p))
    if not rounds:
        return  # no grade yet — nothing to certify
    n, cpath = max(rounds)
    commit = subprocess.run(
        ["git", "log", "-n1", "--format=%H", "--", f"CORRECTNESS_r{n}.json"],
        cwd=repo, capture_output=True, text=True,
    ).stdout.strip()
    if not commit:
        return  # grade file not committed yet — no grade-time tree exists
    tmp = tempfile.mkdtemp(prefix="grade_time_oracles_")
    subprocess.run(
        f"git archive {commit} mistocksync_spark | tar -x -C {tmp}",
        shell=True, cwd=repo, check=True,
    )
    probe = (
        "import hashlib, json\n"
        "from mistocksync_spark.plans.queries import ORACLES\n"
        "print(json.dumps({k: hashlib.sha256(v.encode()).hexdigest()[:16]"
        " for k, v in ORACLES.items()}))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", probe], cwd=tmp, capture_output=True, text=True
    )
    assert out.returncode == 0, f"grade-time oracle import failed: {out.stderr[-500:]}"
    grade_time = json.loads(out.stdout)

    import __spark_entry__ as entry
    from mistocksync_spark.plans.queries import ORACLES

    with open(os.path.join(repo, "tools", "oracle_digests.json")) as f:
        snap = json.load(f)
    window = set(json.load(open(cpath)).keys())
    bad = []
    for q in window:
        if q not in snap or q not in ORACLES or q not in grade_time:
            continue
        if not re.fullmatch(r"[0-9a-f]{16}", str(snap[q])):
            continue  # sentinel pin (rN-oracle-changed-pending-regrade)
        if snap[q] == entry.oracle_digest(ORACLES[q]) and snap[q] != grade_time[q]:
            bad.append(q)
    assert not bad, (
        f"oracle_digests.json certifies the CURRENT oracle of {bad} but it "
        f"differs from the r{n} grade-time oracle — the digest merge ran "
        "AFTER an oracle edit; pin these to a sentinel "
        "(rN-oracle-changed-pending-regrade) so they re-grade"
    )


def test_registry_rows_only_set_is_closed():
    """Every queries() entry must carry an oracle, except the documented
    rows-only set (difflib scoring, approx sketches, ANN showcase rows
    whose recall siblings ARE hash-graded).  A new operator landing
    without an oracle must be an explicit decision, not an omission."""
    from mistocksync_spark.plans.queries import ORACLES, QUERIES

    documented_rows_only = {
        "fuzzy_match",
        "fuzzy_match_ngram",
        "fuzzy_annotated_new_items",
        "events_stickiness_approx",
        "doc_length_quantiles_approx",
        "embedding_topk_ivf",
        "embedding_topk_ivf_trained",
        "embedding_topk_ivf_stored",
        "embedding_topk_pq",
    }
    missing = set(QUERIES) - set(ORACLES)
    assert missing == documented_rows_only, (
        f"undocumented rows-only queries: {missing - documented_rows_only}; "
        f"stale rows-only entries: {documented_rows_only - missing}"
    )


def test_every_query_has_a_bench_entry_or_is_headline():
    """Every registered query must be timed somewhere in bench.py —
    headline, scale-path, or extension — so no operator ships without a
    recorded cost."""
    import re

    from mistocksync_spark.plans.queries import QUERIES

    src = open("/root/repo/bench.py").read()
    benched = set(re.findall(r'"([a-z0-9_]+)"', src))
    unbenched = {q for q in QUERIES if q not in benched}
    # STRICT — "registered => costed" with no allowed-untimed escape
    # hatch for any entry.
    assert not unbenched, f"queries with no bench entry: {sorted(unbenched)}"


def test_no_stream_wait_has_a_timeout():
    """No ``awaitTermination`` under mistocksync_spark/ takes a timeout: the
    availableNow queries end by themselves, so a fixed bound only turns a
    slow host into an error (or, if its result is ignored, returns while
    the query still runs)."""
    import ast
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parent.parent / "mistocksync_spark"
    bounded = [
        f"{path.relative_to(pkg.parent)}:{node.lineno}"
        for path in sorted(pkg.rglob("*.py"))
        for node in ast.walk(ast.parse(path.read_text()))
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "awaitTermination"
        and (node.args or node.keywords)
    ]
    assert not bounded, f"awaitTermination called with a timeout at {bounded}"


def test_queries_leave_state_probes_and_writes_to_the_tick_driver():
    """The graded registry never probes or lays out keyed state itself:
    queries.py calls no ``touched_buckets``/``touched_buckets_multi``
    (the probe belongs to ``streaming/merge.py``) and writes no table
    ``partitionBy`` (the keyed-state layout is ``batch=/bucket=``, written
    by ``sinks/layout.keyed_state_append``), so the stored-state entries
    grade the code the production tick runs."""
    import ast
    import pathlib

    path = (
        pathlib.Path(__file__).resolve().parent.parent
        / "mistocksync_spark" / "plans" / "queries.py"
    )

    def name(func):
        return func.id if isinstance(func, ast.Name) else getattr(func, "attr", None)

    def on_writer(node):
        while isinstance(node, (ast.Attribute, ast.Call)):
            if isinstance(node, ast.Attribute) and node.attr == "write":
                return True
            node = node.value if isinstance(node, ast.Attribute) else node.func
        return False

    calls = [n for n in ast.walk(ast.parse(path.read_text())) if isinstance(n, ast.Call)]
    probes = [
        n.lineno for n in calls if name(n.func) in ("touched_buckets", "touched_buckets_multi")
    ]
    layouts = [
        n.lineno
        for n in calls
        if isinstance(n.func, ast.Attribute)
        and n.func.attr == "partitionBy"
        and on_writer(n.func.value)
    ]
    assert not probes, f"queries.py probes keyed state itself at lines {probes}"
    assert not layouts, f"queries.py writes a partitioned table at lines {layouts}"


def test_parquet_content_tag_changes_on_regeneration(tmp_path):
    """Produce-once /tmp state is keyed on _parquet_content_tag: a
    regenerated source file (even bit-identical content — mtime moves)
    must change the tag, so a surviving bucketed table can never be
    served stale."""
    import os
    import shutil

    from mistocksync_spark.plans.queries import _parquet_content_tag

    src = "/root/testdata/sf0.001/customer.parquet"
    dst = tmp_path / "customer.parquet"
    shutil.copy(src, dst)
    t1 = _parquet_content_tag(str(dst))
    assert t1 == _parquet_content_tag(str(dst))  # stable while untouched
    os.utime(dst)  # "regenerate" bit-identically
    t2 = _parquet_content_tag(str(dst))
    assert t2 != t1
    # directory form walks nested parquet files
    d = tmp_path / "nested"
    d.mkdir()
    shutil.copy(src, d / "part-0.parquet")
    assert _parquet_content_tag(str(tmp_path)) != t2


def test_scratch_root_isolates_pid_and_reaps_dead_sessions(tmp_path):
    import os

    from mistocksync_spark.plans.queries import _scratch_root

    base = str(tmp_path / "scratch")
    os.makedirs(f"{base}/999999999-deadbeef00")  # no such pid: stale root
    os.makedirs(f"{base}/{os.getpid()}-aaaaaaaaaa")  # our own other tag
    root = _scratch_root(base, "cafebabe00")
    assert root == f"{base}/{os.getpid()}-cafebabe00"
    assert not os.path.exists(f"{base}/999999999-deadbeef00")  # reaped
    assert os.path.exists(f"{base}/{os.getpid()}-aaaaaaaaaa")  # live pid kept


def test_scratch_root_reaps_pid_less_children(tmp_path):
    """Every writer names its root ``{pid}-{tag}``, so a child without
    that prefix (a hash-named dir left by code that no longer runs) is
    dead and goes with the next ``_scratch_root`` call."""
    import os

    from mistocksync_spark.plans.queries import _scratch_root

    base = str(tmp_path / "scratch")
    os.makedirs(f"{base}/6bd280b7d7/part")
    os.makedirs(f"{base}/{os.getpid()}-aaaaaaaaaa")
    _scratch_root(base, "cafebabe00")
    assert sorted(os.listdir(base)) == [f"{os.getpid()}-aaaaaaaaaa"]


def test_pristine_copy_work_dir_sits_under_session_root(tmp_path):
    """A mutating entry's per-run copy is made under this session's
    ``{pid}-`` runs root, not in bare /tmp, so the reaper removes it once
    the session is dead."""
    import os
    import shutil

    from mistocksync_spark.plans.queries import _pristine_copy

    src = tmp_path / "root"
    (src / "bands").mkdir(parents=True)
    (src / "_STATE_READY").write_text("t")
    work, state = _pristine_copy(str(src), "unit_")
    try:
        parent = os.path.dirname(work)
        assert os.path.basename(parent) == f"{os.getpid()}-runs"
        assert os.path.basename(work).startswith("unit_")
        assert sorted(os.listdir(state)) == ["bands"]
    finally:
        shutil.rmtree(work)


def test_compaction_drops_uncommitted_replay_rows(spark, sf_dir, tmp_path):
    """A crashed attempt of batch k leaves batch=k rows
    on disk with no checkpoint commit; the replayed tick's tick-START
    compaction must NOT fold them into the rebase-to-max rewrite (that
    made before_batch=k reads return ZERO pre-batch rows, every arrival
    judged fresh, and the replay's dynamic overwrite then wiped the
    rebased history).  current_batch=k drops them physically; the
    replayed tick then re-appends its own partitions idempotently."""
    from mistocksync_spark.sinks.layout import (
        compact_keyed_state,
        keyed_state_append,
        keyed_state_read,
    )

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .orderBy("doc_id")
        .limit(120)
        .localCheckpoint(eager=False)
    )
    corpus = docs.filter(F.col("doc_id") < 60)
    b0 = docs.filter((F.col("doc_id") >= 60) & (F.col("doc_id") < 90))
    b1 = docs.filter(F.col("doc_id") >= 90)
    path = str(tmp_path / "docs_state")
    keyed_state_append(corpus, path, ["doc_id"], batch_id=-1)
    keyed_state_append(b0, path, ["doc_id"], batch_id=0)
    # crashed attempt of batch 1: rows on disk, checkpoint never committed
    keyed_state_append(b1, path, ["doc_id"], batch_id=1)
    pre = {
        r.doc_id
        for r in keyed_state_read(spark, path, before_batch=1)
        .select("doc_id")
        .collect()
    }
    assert len(pre) == 90  # corpus + b0

    # replay of batch 1 starts with the compaction cadence
    compact_keyed_state(spark, path, current_batch=1)
    assert not glob.glob(os.path.join(path, "batch=1*"))  # leftovers gone
    post = {
        r.doc_id
        for r in keyed_state_read(spark, path, before_batch=1)
        .select("doc_id")
        .collect()
    }
    assert post == pre  # the pre-batch state survived the fold intact

    # the replayed tick re-appends its own partitions and the table is whole
    keyed_state_append(b1, path, ["doc_id"], batch_id=1)
    total = {
        r.doc_id for r in keyed_state_read(spark, path).select("doc_id").collect()
    }
    assert len(total) == 120


def test_compaction_is_incremental_and_skips_compact_leaves(
    spark, sf_dir, tmp_path
):
    """The compaction cadence must rewrite ONLY leaves whose
    file count exceeds the threshold — already-compact buckets' files
    stay byte-for-byte untouched (same path, size, mtime), so the
    compaction tax is O(new small files), never O(state)."""
    from mistocksync_spark.sinks.layout import (
        _layout_meta,
        compact_keyed_state,
        keyed_state_append,
        keyed_state_read,
        state_bucket,
    )

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .orderBy("doc_id")
        .limit(200)
        .localCheckpoint(eager=False)
    )
    corpus = docs.filter(F.col("doc_id") < 150)
    small = docs.filter(F.col("doc_id") >= 150).limit(5)
    path = str(tmp_path / "docs_state")
    keyed_state_append(corpus, path, ["doc_id"], batch_id=-1)
    keyed_state_append(
        docs.filter((F.col("doc_id") >= 100) & (F.col("doc_id") < 150)),
        path,
        ["doc_id"],
        batch_id=0,
    )
    compact_keyed_state(spark, path, current_batch=1)  # fold everything once
    rows_before = sorted(
        tuple(r) for r in keyed_state_read(spark, path).collect()
    )
    # a small tick touches only a few buckets
    keyed_state_append(small, path, ["doc_id"], batch_id=1)
    touched = {
        r.b
        for r in small.select(
            state_bucket(["doc_id"], _layout_meta(path)["n_buckets"]).alias("b")
        )
        .distinct()
        .collect()
    }
    sig = {
        f: (os.path.getmtime(f), os.path.getsize(f))
        for f in glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    }
    nb, na = compact_keyed_state(spark, path, current_batch=2)
    assert na <= nb
    for f, s in sig.items():
        b = int(f.split("bucket=")[1].split("/")[0])
        if b not in touched:
            assert os.path.exists(f), f"untouched leaf rewritten: {f}"
            assert (os.path.getmtime(f), os.path.getsize(f)) == s
    # touched buckets folded to one file each; zero row drift
    for b in touched:
        leaves = glob.glob(os.path.join(path, "**", f"bucket={b}"), recursive=True)
        assert len(leaves) == 1
        assert len(glob.glob(os.path.join(leaves[0], "*.parquet"))) == 1
    rows_after = sorted(
        tuple(r)
        for r in keyed_state_read(spark, path)
        .filter(F.col("doc_id") < 150)
        .collect()
    )
    assert rows_after == [t for t in rows_before]


def test_keyed_state_layout_sidecar_guards_appends_and_purge(
    spark, sf_dir, tmp_path
):
    """(1) mixing bucket counts or key columns in one table must fail
    immediately with a named error, not a downstream AnalysisException,
    and an append without a batch id is not a call at all; (2)
    purge_keyed_state must derive the WRITE-TIME n_buckets from the
    table's sidecar — a caller-supplied count could probe the wrong
    buckets and silently retain rows — and refuses a table without one."""
    import pytest

    from mistocksync_spark.sinks.layout import (
        keyed_state_append,
        keyed_state_read,
        purge_keyed_state,
    )

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .orderBy("doc_id")
        .limit(100)
        .localCheckpoint(eager=False)
    )
    path = str(tmp_path / "docs_state")
    keyed_state_append(docs, path, ["doc_id"], n_buckets=16, batch_id=-1)
    with pytest.raises(TypeError, match="batch_id"):
        keyed_state_append(docs, path, ["doc_id"], n_buckets=16)
    with pytest.raises(ValueError, match="layout mismatch"):  # 16 -> 64
        keyed_state_append(docs, path, ["doc_id"], n_buckets=64, batch_id=0)
    with pytest.raises(ValueError, match="layout mismatch"):  # key change
        keyed_state_append(
            docs.withColumnRenamed("doc_id", "k"), path, ["k"],
            n_buckets=16, batch_id=0,
        )

    tomb = docs.limit(7).select("doc_id")
    bare = str(tmp_path / "bare")
    docs.write.parquet(bare)
    with pytest.raises(ValueError, match="sidecar at .*bare"):
        purge_keyed_state(spark, bare, tomb, ["doc_id"])
    # the sidecar supplies the write-time 16 and the purge is COMPLETE
    # (under a caller-trusted 64, ids hashing to unprobed buckets would
    # silently survive)
    removed, _ = purge_keyed_state(spark, path, tomb, ["doc_id"])
    assert removed == 7
    left = {r.doc_id for r in keyed_state_read(spark, path).collect()}
    assert len(left) == 93 and not (
        left & {r.doc_id for r in tomb.collect()}
    )


def test_keyed_state_read_builds_without_spark_jobs(spark, tmp_path, job_group):
    """With the schema in the sidecar and at most 16 ``bucket=``
    directories per batch, building a state read — whole, bucket-pruned or
    batch-pinned — starts no Spark job: no schema-inference footer job and
    no parallel listing job.  A plain ``spark.read.parquet`` of the same
    table does start one, which shows the job group sees such jobs."""
    from mistocksync_spark.sinks.layout import keyed_state_append, keyed_state_read

    df = spark.range(0, 400).select(
        F.col("id").alias("doc_id"), F.md5(F.col("id").cast("string")).alias("text")
    )
    path = str(tmp_path / "docs")
    keyed_state_append(df.filter("doc_id < 300"), path, ["doc_id"], batch_id=-1)
    keyed_state_append(df.filter("doc_id >= 300"), path, ["doc_id"], batch_id=0)
    assert len(glob.glob(os.path.join(path, "batch=-1", "bucket=*"))) == 16

    with job_group("state-read:sidecar") as ids:
        reads = [
            keyed_state_read(spark, path),
            keyed_state_read(spark, path, buckets=[0, 3, 7]),
            keyed_state_read(spark, path, before_batch=0),
            keyed_state_read(spark, path, buckets=[0, 3, 7], before_batch=0),
        ]
    assert ids == []
    assert [r.count() for r in reads[::2]] == [400, 300]
    assert reads[0].schema == reads[2].schema
    assert reads[0].columns == ["doc_id", "text"]

    with job_group("state-read:inferred") as inferred:
        spark.read.parquet(path)
    assert inferred


def test_keyed_state_append_rejects_column_type_drift(spark, tmp_path):
    """The sidecar records the written schema: an append whose column
    types (or names) differ raises the named layout-mismatch error before
    anything is written; a difference in nullability alone does not."""
    from mistocksync_spark.sinks.layout import (
        _layout_meta,
        keyed_state_append,
        keyed_state_read,
    )

    df = spark.range(0, 50).select(
        F.col("id").alias("doc_id"), F.col("id").cast("string").alias("text")
    )
    path = str(tmp_path / "docs")
    keyed_state_append(df, path, ["doc_id"], batch_id=-1)
    cols = [f["name"] for f in _layout_meta(path)["schema"]["fields"]]
    assert cols == ["doc_id", "text", "batch", "bucket"]
    files = sorted(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))
    with pytest.raises(ValueError, match="layout mismatch"):  # string -> int
        keyed_state_append(
            df.withColumn("text", F.col("doc_id").cast("int")), path, ["doc_id"],
            batch_id=0,
        )
    with pytest.raises(ValueError, match="layout mismatch"):  # renamed column
        keyed_state_append(
            df.withColumnRenamed("text", "body"), path, ["doc_id"], batch_id=0
        )
    assert sorted(
        glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    ) == files
    # a nullable copy of the same columns appends fine
    nullable = df.select(
        "doc_id", F.when(F.col("doc_id") >= 0, F.col("text")).alias("text")
    )
    keyed_state_append(nullable, path, ["doc_id"], batch_id=0)
    assert keyed_state_read(spark, path).count() == 100


def test_purge_match_cols_deletes_by_nonkey_with_bucket_pruning(
    spark, sf_dir, tmp_path
):
    """Vector-store purge: the IVF inverted table is bucketed on
    centroid but deletion requests name vec_id.  ids rows carrying the
    tombstoned vectors' own cell assignments drive the bucket pruning
    (key_cols=centroid) while the per-leaf anti-join deletes on
    match_cols=vec_id — innocent rows sharing a centroid survive, and
    buckets no tombstoned assignment hashes to stay byte-identical."""
    from mistocksync_spark.sinks.layout import (
        _layout_meta,
        keyed_state_append,
        keyed_state_read,
        purge_keyed_state,
        state_bucket,
    )

    emb = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .select("vec_id")
        .orderBy("vec_id")
        .limit(300)
    )
    # synthetic inverted table: each vec assigned to 2 deterministic cells
    cells = emb.select(
        "vec_id", (F.col("vec_id") % 10).alias("centroid")
    ).unionByName(
        emb.select("vec_id", ((F.col("vec_id") + 3) % 10).alias("centroid"))
    ).localCheckpoint(eager=False)
    path = str(tmp_path / "cells")
    keyed_state_append(cells, path, ["centroid"], batch_id=-1)

    tomb = cells.filter(F.col("vec_id") % 40 == 0).localCheckpoint(eager=False)
    tomb_ids = {r.vec_id for r in tomb.select("vec_id").distinct().collect()}
    tomb_buckets = {
        r.b
        for r in tomb.select(
            state_bucket(["centroid"], _layout_meta(path)["n_buckets"]).alias("b")
        )
        .distinct()
        .collect()
    }
    sig = {
        f: (os.path.getmtime(f), os.path.getsize(f))
        for f in glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    }
    removed, rewritten = purge_keyed_state(
        spark, path, tomb, ["centroid"], match_cols=["vec_id"]
    )
    assert removed == 2 * len(tomb_ids)  # both assignments of every tomb id
    left = keyed_state_read(spark, path).localCheckpoint(eager=False)
    assert not (
        {r.vec_id for r in left.select("vec_id").distinct().collect()} & tomb_ids
    )
    # innocent rows in the touched centroids survived
    assert left.count() == 2 * 300 - removed
    for f, s in sig.items():
        b = int(f.split("bucket=")[1].split("/")[0])
        if b not in tomb_buckets:
            assert os.path.exists(f)
            assert (os.path.getmtime(f), os.path.getsize(f)) == s


def test_parallel_actions_runs_all_and_propagates_first_error(spark, tmp_path):
    """``parallel_actions`` overlaps independent driver
    actions.  Semantics pinned here: (a) every thunk runs to completion
    (no silently skipped write), (b) results on disk equal the sequential
    composition, (c) a failing thunk's exception propagates AFTER the
    surviving thunks finish (no write left in flight when the tick
    aborts and the replay contract takes over)."""
    from mistocksync_spark.sinks.layout import (
        keyed_state_append,
        keyed_state_read,
        parallel_actions,
    )

    df = spark.range(0, 200).select(
        F.col("id").alias("doc_id"), F.md5(F.col("id").cast("string")).alias("text")
    ).localCheckpoint()
    seqd, pard = str(tmp_path / "seq"), str(tmp_path / "par")
    for base in (seqd, pard):
        thunks = [
            (lambda b=base: keyed_state_append(df, os.path.join(b, "a"), ["doc_id"], batch_id=0)),
            (lambda b=base: keyed_state_append(
                df.select(F.col("text").alias("digest"), "doc_id"),
                os.path.join(b, "b"), ["digest"], batch_id=0)),
        ]
        if base == seqd:
            for t in thunks:
                t()
        else:
            parallel_actions(*thunks)
    for t in ("a", "b"):
        s = {tuple(r) for r in keyed_state_read(spark, os.path.join(seqd, t)).collect()}
        p = {tuple(r) for r in keyed_state_read(spark, os.path.join(pard, t)).collect()}
        assert s == p and len(p) == 200
    # error propagation: one thunk raises, the other still completes
    done = []

    def ok():
        keyed_state_append(df, str(tmp_path / "c"), ["doc_id"], batch_id=0)
        done.append(True)

    def boom():
        raise RuntimeError("tick failed")

    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="tick failed"):
        parallel_actions(boom, ok)
    assert done == [True]
    assert keyed_state_read(spark, str(tmp_path / "c")).count() == 200


def test_parallel_actions_keeps_callers_job_group(spark, job_group):
    """Jobs submitted from the pool threads stay in the caller's job group,
    so a run's entry label covers its overlapped actions too."""
    from mistocksync_spark.sinks.layout import parallel_actions

    def a():
        spark.range(0, 100).count()

    def b():
        spark.range(0, 200).count()

    with job_group("parallel_actions:sequential") as sequential:
        a()
        b()
    with job_group("parallel_actions:overlapped") as overlapped:
        parallel_actions(a, b)
    assert len(sequential) >= 2
    assert len(overlapped) == len(sequential)


def test_parallel_actions_gives_each_thunk_its_own_local_properties(spark):
    """Each pool thread gets its own copy of the caller's local
    properties: Spark writes to them while an action runs (the SQL
    execution id), so one copy shared by the threads would let one
    action's writes show up in a sibling's jobs."""
    import threading

    from mistocksync_spark.sinks.layout import parallel_actions

    sc = spark.sparkContext
    both_set = threading.Barrier(2, timeout=120)
    got = {}

    def thunk(name):
        def run():
            sc.setLocalProperty("parallel_actions.test", name)
            both_set.wait()
            got[name] = sc.getLocalProperty("parallel_actions.test")

        return run

    parallel_actions(thunk("a"), thunk("b"))
    assert got == {"a": "a", "b": "b"}
