"""Storage-layout sinks: the data-organization levers that decide whether
a 100 TB table is scannable (north-star extension; the reference's only
store is a single Excel workbook — SURVEY.md §2.1).

- ``clustered_write``: range-cluster rows on the filter columns before
  writing, so parquet row-group min/max statistics become DISJOINT and a
  predicate on those columns prunes whole files/row-groups at scan time
  (the poor man's Z-order; for one-to-two filter columns range clustering
  IS the optimal layout).
- ``compact_files``: rewrite a directory of many small files into
  size-targeted larger ones — small-file proliferation is the classic
  slow-death of streaming/incremental sinks (every file costs a task,
  footer fetch and scheduler round-trip at read time).

Both are thin, deliberate compositions of public DataFrame APIs; the
value is pinned by tests that READ BACK the parquet footers and assert
the pruning/compaction actually happened.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def clustered_write(
    df: DataFrame, path: str, cluster_cols: list[str], n_files: int = 8
) -> str:
    """Write ``df`` range-clustered on ``cluster_cols``: repartitionByRange
    gives disjoint per-file value ranges, the within-partition sort gives
    row-group-level min/max locality inside each file."""
    (
        df.repartitionByRange(n_files, *cluster_cols)
        .sortWithinPartitions(*cluster_cols)
        .write.mode("overwrite")
        .parquet(path)
    )
    return path


def compact_files(
    spark: SparkSession, src: str, dst: str, target_file_bytes: int = 128 * 1024 * 1024
) -> int:
    """Rewrite ``src`` into ``dst`` with files sized near
    ``target_file_bytes``; returns the output file count.  The count
    derives from the INPUT's on-disk bytes (post-compression), so the
    output files land near the target without a second pass."""
    import glob
    import os

    total = sum(
        os.path.getsize(p) for p in glob.glob(os.path.join(src, "*.parquet"))
    )
    n = max(1, -(-total // target_file_bytes))  # ceil division
    spark.read.parquet(src).coalesce(n).write.mode("overwrite").parquet(dst)
    return n


def parallel_actions(*thunks) -> None:
    """Run independent Spark driver actions concurrently from a small
    thread pool: actions are only sequential because the driver calls them
    sequentially — concurrent jobs back-fill executor slots freed by each
    other's stage tails, so K small independent writes cost ~max() instead
    of sum() of their walls.

    Contract: every thunk must be a genuinely independent job — distinct
    output directories.  Thunks may share a lazy ``localCheckpoint`` input
    that no action has materialized yet: each checkpoint partition is one
    cached block, which one task computes while other readers of that
    block on the same executor wait for it, so in local mode (one
    executor) every thunk reads the same rows.
    All actions complete before this returns; the first exception
    propagates (remaining futures are still awaited, so no write is left
    silently in flight), with the other failures attached as notes so
    multi-write failures keep their diagnostics.

    Each thunk is wrapped in the caller's thread with
    ``inheritable_thread_target``, so the overlapped jobs keep the
    caller's job group, description and tags."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.util import inheritable_thread_target

    if not thunks:
        return
    if len(thunks) == 1:
        thunks[0]()
        return
    session = SparkSession.active()

    def inherit(thunk):
        # one wrapper per thunk: each wrapper installs its own copy of the
        # caller's local properties in its pool thread, and Spark writes to
        # that copy (the SQL execution id) while the thread's action runs
        wrap = inheritable_thread_target(session)
        # with PYSPARK_PIN_THREAD=false PySpark hands the session back: no
        # JVM thread is tied to a pool thread, so there is nothing to inherit
        return thunk if isinstance(wrap, SparkSession) else wrap(thunk)

    with ThreadPoolExecutor(max_workers=len(thunks)) as pool:
        futures = [pool.submit(inherit(t)) for t in thunks]
        errs = []
        for f in futures:
            try:
                f.result()
            except BaseException as e:  # await ALL, then raise the first
                errs.append(e)
        if errs:
            if hasattr(errs[0], "add_note"):  # Python >= 3.11
                for other in errs[1:]:
                    # str(), not repr(): a PySpark error's repr drops its message
                    errs[0].add_note(
                        "parallel_actions: concurrent action also failed: "
                        f"{type(other).__name__}: {other}"
                    )
            raise errs[0]


def state_bucket(key_cols: list[str], n_buckets: int):
    """Deterministic bucket id for a state-table join key: pmod(xxhash64)
    over the key columns.  The SAME expression computes (a) the partition
    column at write time and (b) the batch's touched-bucket set at read
    time, so pruning can never disagree with placement."""
    from pyspark.sql import functions as F

    return F.pmod(F.xxhash64(*key_cols), F.lit(n_buckets)).cast("int")


def _layout_meta_path(path: str) -> str:
    import os

    # underscore prefix => invisible to Spark's data-file discovery
    return os.path.join(path, "_layout.json")


def _read_layout_meta(path: str) -> dict | None:
    import json
    import os

    p = _layout_meta_path(path)
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return json.load(f)


def _write_layout_meta(path: str, meta: dict) -> None:
    import json

    with open(_layout_meta_path(path), "w") as f:
        json.dump(meta, f)


def _layout_meta(path: str) -> dict:
    """The sidecar of a ``keyed_state_append`` table; a directory without
    one is not a keyed-state table, so nothing may read, compact or purge
    it as one."""
    meta = _read_layout_meta(path)
    if meta is None:
        raise ValueError(
            f"no _layout.json sidecar at {path}: not a keyed_state_append table"
        )
    return meta


def _columns(schema) -> list[tuple[str, str]]:
    # names and types only: parquet reads every column back as nullable
    return [(f.name, f.dataType.simpleString()) for f in schema.fields]


def _state_frame(spark: SparkSession, path: str) -> DataFrame:
    """The whole table with its ``batch``/``bucket`` columns, read under
    the schema its sidecar records, so building the read infers nothing
    from parquet footers."""
    schema = StructType.fromJson(_layout_meta(path)["schema"])
    return spark.read.schema(schema).parquet(path)


def keyed_state_append(
    df: DataFrame,
    path: str,
    key_cols: list[str],
    n_buckets: int = 16,
    *,
    batch_id: int,
) -> str:
    """Append one ingest tick's rows to a persistent state table laid out
    as ``batch=<id>/bucket=<b>``, where the bucket is the join-key hash.
    An equi-join probe only needs the buckets its own keys hash to, so the
    state scan is partition-pruned instead of full, and a tick writes
    bytes proportional to its batch instead of rewriting the whole state.
    At 100 TB this is a bucketed/clustered table in a real catalog;
    directory-partitioned parquet is the same physical idea.

    ``batch_id`` makes the append IDEMPOTENT per micro-batch: the write
    uses DYNAMIC partition overwrite, so a checkpoint-recovery replay of
    batch k REPLACES exactly its own partitions instead of appending a
    second copy.  ``batch`` and ``bucket`` are reserved layout columns;
    readers pin ``before_batch`` (``keyed_state_read``) so a replayed tick
    also *reads* exactly the pre-batch state.  A one-off table (a prime or
    a standing store) is written at ``batch_id=-1``.  This is the
    filesystem rendition of what Delta/Iceberg MERGE-by-txn-id does
    transactionally at 100 TB.

    Layout SIDECAR: the first append records ``n_buckets``, ``key_cols``
    and the full written ``schema`` (data columns plus ``batch`` and
    ``bucket``) in ``_layout.json`` inside the table directory.  Every
    later append checks against it — same bucket count, same key columns,
    same column names and types in the same order (nullability is not
    compared) — so a drifting table fails IMMEDIATELY with a named error
    instead of a downstream AnalysisException.  The sidecar is the only
    source of the bucket count (for ``touched_buckets`` the key columns
    too) and of the schema every read uses.

    The default of 16 buckets keeps each ``batch=`` directory at or under
    Spark's 32-child threshold for listing directories with a Spark job
    (``spark.sql.sources.parallelPartitionDiscovery.threshold``), so with
    the sidecar schema a read lists on the driver and starts no job.  The
    same threshold applies at the table root: more than 32 ``batch=``
    directories between two compactions bring the listing job back."""
    from pyspark.sql import functions as F

    out = df.withColumn("batch", F.lit(int(batch_id))).withColumn(
        "bucket", state_bucket(key_cols, n_buckets)
    )
    meta = {"n_buckets": int(n_buckets), "key_cols": list(key_cols)}
    existing = _read_layout_meta(path)
    if existing is not None:
        was = {k: existing[k] for k in meta}
        cols = _columns(StructType.fromJson(existing["schema"]))
        if was != meta or cols != _columns(out.schema):
            raise ValueError(
                f"keyed_state_append layout mismatch at {path}: table was "
                f"written with {was} and columns {cols}, this append "
                f"requested {meta} and columns {_columns(out.schema)} — "
                "mixing bucket counts, key columns or column types in one "
                "state table breaks partition pruning and its reads"
            )
    (
        out.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch", "bucket")
        .parquet(path)
    )
    if existing is None:
        _write_layout_meta(path, {**meta, "schema": out.schema.jsonValue()})
    return path


def _bucket_of(path: str):
    """The bucket expression of a ``keyed_state_append`` table, from its
    sidecar's key columns and bucket count."""
    meta = _layout_meta(path)
    return state_bucket(meta["key_cols"], meta["n_buckets"]).alias("bucket")


def touched_buckets(df: DataFrame, path: str) -> list[int]:
    """The buckets of the table at ``path`` that ``df``'s join keys hash
    to — a bounded driver fetch (<= n_buckets ints) that becomes the
    pruning predicate on the state read.  ``df`` carries the table's key
    columns; the key columns and the bucket count come from the table's
    sidecar.  Lossless for an equi-join: state rows in untouched buckets
    cannot match any batch key."""
    rows = df.select(_bucket_of(path)).distinct().collect()
    return sorted(r.bucket for r in rows)


def touched_buckets_multi(
    frames: dict[str, tuple[DataFrame, str]],
) -> dict[str, list[int]]:
    """The touched-bucket sets of SEVERAL (frame, table path) pairs,
    computed in ONE driver action (one ``.distinct().collect()`` job per
    frame was the tick floor at small batches — job-launch overhead, not
    data): each frame's bucket ids are tagged, unioned, and collected
    together.  Same bounded result (<= n_buckets ints per tag) as calling
    ``touched_buckets`` per frame."""
    from pyspark.sql import functions as F

    tagged = None
    for tag, (df, path) in frames.items():
        part = df.select(F.lit(tag).alias("__t"), _bucket_of(path)).distinct()
        tagged = part if tagged is None else tagged.unionByName(part)
    out: dict[str, list[int]] = {tag: [] for tag in frames}
    for r in tagged.collect():
        out[r["__t"]].append(r["bucket"])
    return {tag: sorted(b) for tag, b in out.items()}


def keyed_state_read(
    spark: SparkSession,
    path: str,
    buckets: list[int] | None = None,
    before_batch: int | None = None,
) -> DataFrame:
    """Read a ``keyed_state_append`` table, pruned to ``buckets`` when
    given (partition-directory pruning — PartitionFilters in the scan,
    asserted by tests/test_layout.py).  ``before_batch`` pins the read to
    rows appended by micro-batches STRICTLY BEFORE the given id: a
    checkpoint-recovery replay of batch k then sees exactly the pre-batch
    state — never its own earlier appends — which together with the
    idempotent write makes the whole tick replay-safe.

    The read takes its schema from the table's sidecar, so building it
    runs no schema-inference job, and with at most 32 ``batch=`` and 32
    ``bucket=`` directories per level the file listing runs on the driver:
    building the frame starts no Spark job (pinned by
    tests/test_layout.py).  The listing is still eager, so the frame reads
    the files that existed when it was built."""
    from pyspark.sql import functions as F

    df = _state_frame(spark, path)
    if buckets is not None:
        df = df.filter(F.col("bucket").isin([int(b) for b in buckets]))
    if before_batch is not None:
        df = df.filter(F.col("batch") < int(before_batch))
    return df.drop("bucket", "batch")


def state_file_count(path: str) -> int:
    """Data-file count of a state table (recursive) — the small-file
    metric the compaction tick exists to bound."""
    import glob
    import os

    return len(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))


def keyed_state_tables(root: str) -> list[str]:
    """The ``keyed_state_append`` tables directly under ``root``: the
    directories that carry a layout sidecar."""
    import glob
    import os

    return sorted(
        os.path.dirname(p) for p in glob.glob(_layout_meta_path(os.path.join(root, "*")))
    )


def _drop_empty_batch_dirs(path: str) -> None:
    import os

    for t in sorted(os.listdir(path)):
        d = os.path.join(path, t)
        if t.startswith("batch=") and os.path.isdir(d) and not os.listdir(d):
            os.rmdir(d)


def compact_keyed_state(
    spark: SparkSession, path: str, current_batch: int | None = None
) -> tuple[int, int]:
    """INCREMENTAL compaction tick for a ``keyed_state_append`` table: fold
    each bucket whose rows span more than one file into one file,
    preserving every row.  Returns (files_before, files_after).

    - REPLAY SAFETY: ``current_batch`` — the in-flight micro-batch id,
      passed by the in-stream cadence — physically DROPS any
      ``batch >= current_batch`` partitions before compacting.  Those rows
      are uncommitted leftovers of a crashed prior attempt of the same
      batch (its checkpoint never committed); folded into the
      rebase-to-max rewrite, they would make
      ``keyed_state_read(before_batch=k)`` return ZERO pre-batch rows on
      replay (every arrival judged fresh), and the replay's
      dynamic-overwrite appends would then wipe the rebased history.
      Dropping them restores exactly the pre-batch state the replayed tick
      reads; the replay then rewrites its own partitions via the
      idempotent append.  At 100 TB the table format's txn log provides
      the same committed-only view for OPTIMIZE.
    - INCREMENTAL REWRITE: only buckets with more than one file are
      rewritten (what Delta/Iceberg OPTIMIZE does); already-compact leaves
      are never opened, moved, or rewritten — byte-identity pinned by
      tests/test_layout.py — so the cadence tax is O(files appended since
      the last compaction), not O(state).

    Per-bucket file counts and the max committed batch id come from the
    DIRECTORY TREE (no Spark job); the single rewrite job scans only the
    target buckets (partition-pruned ``isin``).  Rewritten rows are
    rebased to the max committed batch id, so future appends keep a
    uniform directory depth — valid because every surviving row is
    checkpoint-committed by construction."""
    import glob
    import os
    import shutil

    from pyspark.sql import functions as F

    _layout_meta(path)
    batches = sorted(
        int(t.split("=", 1)[1]) for t in os.listdir(path) if t.startswith("batch=")
    )
    if current_batch is not None:
        for b in batches:
            if b >= int(current_batch):
                shutil.rmtree(os.path.join(path, f"batch={b}"))
        batches = [b for b in batches if b < int(current_batch)]
    before = state_file_count(path)
    counts: dict[int, int] = {}
    for d in glob.glob(os.path.join(path, "batch=*", "bucket=*")):
        b = int(d.rsplit("=", 1)[1])
        counts[b] = counts.get(b, 0) + len(glob.glob(os.path.join(d, "*.parquet")))
    targets = sorted(b for b, c in counts.items() if c > 1)
    if not targets:
        return before, before
    mx = batches[-1]
    tmp = path.rstrip("/") + ".compact_tmp"
    (
        _state_frame(spark, path)
        .filter(F.col("bucket").isin(targets))
        .withColumn("batch", F.lit(mx))
        .repartition(len(targets), "bucket")
        .write.mode("overwrite")
        .partitionBy("batch", "bucket")
        .parquet(tmp)
    )
    os.makedirs(os.path.join(path, f"batch={mx}"), exist_ok=True)
    for b in targets:
        for d in glob.glob(os.path.join(path, "batch=*", f"bucket={b}")):
            aside = d + ".compact_old"
            os.rename(d, aside)
            shutil.rmtree(aside, ignore_errors=True)
        os.rename(
            os.path.join(tmp, f"batch={mx}", f"bucket={b}"),
            os.path.join(path, f"batch={mx}", f"bucket={b}"),
        )
    shutil.rmtree(tmp, ignore_errors=True)
    _drop_empty_batch_dirs(path)
    return before, state_file_count(path)


def purge_keyed_state(
    spark: SparkSession,
    path: str,
    ids: DataFrame,
    key_cols: list[str],
    match_cols: list[str] | None = None,
) -> tuple[int, int]:
    """Right-to-be-forgotten purge of a ``keyed_state_append`` table (the
    data-governance tick a training-data pipeline needs): physically
    remove every row whose key appears in ``ids``, rewriting ONLY the
    ``batch=/bucket=`` leaves those keys hash to — a deletion request is
    small, so the purge is a partial rewrite proportional to the touched
    buckets, never a full-table rewrite (at 100 TB this is Delta/Iceberg
    ``DELETE WHERE`` with file-level pruning; the classic mistake is the
    rewrite-the-world anti-shape).  A leaf left empty is removed outright.
    Returns (rows_removed, leaf_dirs_rewritten).  Untouched buckets'
    files are not opened, moved, or rewritten (pinned by
    tests/test_layout.py).

    Governance note: purging the CONTENT store does not erase derived
    dedup memory (digest/band tables) — copies of deleted content must
    still be rejected, so those tables keep their keys; aggregate
    artifacts (vocabulary, quantizer) are remediated on their graded
    REBUILD ticks, not here.

    The bucket count is the WRITE-TIME value recorded in the table's
    ``_layout.json`` sidecar: a caller-supplied count that disagreed with
    it would probe the wrong buckets and silently RETAIN rows hashing
    elsewhere — an incompleteness failure for a right-to-be-forgotten
    operation.  A table without a sidecar raises.

    ``match_cols`` (the vector-store purge): when the rows to delete are
    identified by columns OTHER than the table's bucket key — e.g. the
    IVF inverted table is keyed/bucketed on ``centroid`` but a
    right-to-be-forgotten request names ``vec_id`` — pass ``ids`` rows
    carrying BOTH column sets: ``key_cols`` still drive the bucket
    pruning (lossless when every matching row's key value appears in
    ``ids`` — for the inverted table that is exactly the tombstoned
    vectors' own deterministic cell assignments), and the per-leaf
    anti-join deletes on ``match_cols``.

    The driver does almost no work: the purge is THREE bounded jobs
    regardless of leaf count (three sequential jobs PER touched leaf —
    count, anti-join count, write — would pay hundreds of serial driver
    round-trips on a many-bucket request against a many-batch table):
    (1) one partition-pruned scan of the touched buckets with a broadcast
    left join on the tombstone ids, aggregated to per-leaf (rows, purged)
    counts; (2) one dynamic-partition-overwrite write of the surviving
    rows of exactly the leaves that lost rows (untouched leaves —
    including touched-bucket leaves with zero matches — are never
    rewritten, preserving the byte-identity contract); (3) leaves left
    EMPTY are removed with driver fs ops (no job)."""
    import os
    import shutil

    from pyspark.sql import functions as F

    mc = list(match_cols) if match_cols is not None else list(key_cols)
    key_ids = ids.select(*key_cols).distinct().localCheckpoint(eager=False)
    match_ids = (
        ids.select(*mc).distinct().withColumn("__purge", F.lit(1))
    )
    buckets = touched_buckets(key_ids, path)
    if not buckets:
        return 0, 0
    part_cols = ["batch", "bucket"]
    pruned = _state_frame(spark, path).filter(F.col("bucket").isin(buckets))
    data_cols = [c for c in pruned.columns if c not in part_cols]
    flagged = pruned.join(F.broadcast(match_ids), on=mc, how="left").localCheckpoint(
        eager=False
    )
    # job 1: per-leaf (rows, purged-rows) counts — bounded by touched leaves
    stats = (
        flagged.groupBy(*part_cols)
        .agg(
            F.count("*").alias("__n"),
            F.count("__purge").alias("__nrem"),
        )
        .collect()
    )
    affected = [r for r in stats if r["__nrem"] > 0]
    removed = sum(r["__nrem"] for r in affected)
    rewritten = len(affected)
    if not affected:
        return 0, 0

    partial = [r for r in affected if r["__nrem"] < r["__n"]]
    if partial:
        # job 2: ONE dynamic-overwrite write of the survivors of exactly
        # the leaves that lost rows (leaf key encoded as a single long so
        # the partition filter stays a pruned isin, not an OR chain)
        enc = (F.col("batch") + 2) * 1000000 + F.col("bucket")
        keys = [(int(r["batch"]) + 2) * 1000000 + int(r["bucket"]) for r in partial]
        (
            flagged.filter(F.col("__purge").isNull() & enc.isin(keys))
            .select(*data_cols, *part_cols)
            .repartition(len(partial), *part_cols)
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(*part_cols)
            .parquet(path)
        )
    # emptied leaves: dynamic overwrite writes no partition for them, so
    # their old files must be dropped explicitly (driver fs op, no job)
    for r in affected:
        if r["__nrem"] == r["__n"]:
            shutil.rmtree(
                os.path.join(path, f"batch={r['batch']}", f"bucket={r['bucket']}"),
                ignore_errors=True,
            )
    _drop_empty_batch_dirs(path)
    return removed, rewritten


def zorder_key(a, b, bits: int = 16):
    """Z-order (Morton) interleave of two non-negative integer columns —
    the multi-dimension clustering key range clustering can't provide:
    sorting by the interleaved key keeps rows close in BOTH dimensions,
    so parquet min/max statistics prune on either filter column (the
    public Delta/Iceberg OPTIMIZE ZORDER technique).

    Pure integer shift/mask expressions — exact and bit-identical in any
    engine — folding ``bits`` levels of each input into a ``2*bits``-bit
    key.  Inputs must already be bucketized to ``[0, 2^bits)`` (callers
    rank/clamp first; the key of an out-of-range value would silently
    collide).
    """
    from pyspark.sql import functions as F

    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    key = F.lit(0).cast("long")
    for i in range(bits):
        key = (
            key
            + F.shiftleft(F.shiftright(a.cast("long"), i) % 2, 2 * i)
            + F.shiftleft(F.shiftright(b.cast("long"), i) % 2, 2 * i + 1)
        )
    return key


def zordered_write(
    df: DataFrame, path: str, col_a: str, col_b: str, bits: int = 8, n_files: int = 8
) -> str:
    """Write ``df`` clustered on the Z-order key of two columns: range
    partition + in-file sort by the interleaved key, so min/max footer
    statistics stay tight on BOTH dimensions and a point predicate on
    either column prunes files (asserted by reading footers back in
    tests)."""
    from pyspark.sql import functions as F

    keyed = df.withColumn("__zkey", zorder_key(col_a, col_b, bits))
    (
        keyed.repartitionByRange(n_files, F.col("__zkey"))
        .sortWithinPartitions("__zkey")
        .drop("__zkey")
        .write.mode("overwrite")
        .parquet(path)
    )
    return path


def pack_emission_write(
    packed: DataFrame,
    path: str,
    n_buckets: int = 16,
    stratum_col: str = "cluster",
) -> str:
    """Write the PACKED corpus assignment — the training-data pipeline's
    final artifact — in the layout a training
    loader consumes: partitioned by ``pack_bucket`` (a deterministic
    function of the pack key, so a loader fetching pack p opens exactly
    one directory), rows range-clustered inside each bucket by
    (stratum, pack_id, pack_offset) so one pack's documents are one
    contiguous byte range and the parquet footer min/max on pack_id
    prunes row groups within the bucket (footer-asserted by
    tests/test_layout.py).  ``pack_id`` is per-stratum
    (``pack_documents`` numbers packs inside each stratum), so the pack
    key — and the bucket — is the (stratum, pack_id) pair.  At 100 TB
    each bucket is a prefix in object storage and packs stream out in
    pack order with zero shuffle at read time."""
    bucketed = packed.withColumn(
        "pack_bucket", _pack_bucket(stratum_col, n_buckets)
    )
    (
        bucketed.repartition(n_buckets, "pack_bucket")
        .sortWithinPartitions(stratum_col, "pack_id", "pack_offset")
        .write.mode("overwrite")
        .partitionBy("pack_bucket")
        .parquet(path)
    )
    return path


def _pack_bucket(stratum_col: str, n_buckets: int):
    """Deterministic pack bucket — plain integer arithmetic (NOT xxhash)
    so the DuckDB oracle replays it verbatim: the graded manifest's
    ``file`` column must predict the REAL directory the write produced."""
    from pyspark.sql import functions as F

    return (
        (F.col(stratum_col).cast("long") * 1000000 + F.col("pack_id")) % n_buckets
    ).cast("int")


def pack_emission_manifest(
    spark: SparkSession, path: str, stratum_col: str = "cluster"
) -> DataFrame:
    """One manifest row per pack, derived by READING BACK the emitted
    layout (so the grade covers the physical write, not the plan that
    produced it): (stratum, pack_id, n_docs, n_tokens, file) where
    ``file`` is the actual ``pack_bucket=<b>`` partition directory the
    pack's rows landed in.  A mis-bucketed write (rows of one pack split
    across directories, or in the wrong one) surfaces here as either a
    >1 distinct-directory count (asserted) or an oracle hash mismatch on
    ``file``."""
    from pyspark.sql import functions as F

    df = spark.read.parquet(path)  # pack_bucket partition column included
    return (
        df.groupBy(stratum_col, "pack_id")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
            F.count_distinct("pack_bucket").alias("__nb"),
            F.concat(
                F.lit("pack_bucket="), F.min("pack_bucket").cast("string")
            ).alias("file"),
        )
        .select(
            stratum_col,
            "pack_id",
            "n_docs",
            "n_tokens",
            F.when(F.col("__nb") == 1, F.col("file")).alias("file"),
        )
    )


def bucketed_table_write(
    df: DataFrame,
    table: str,
    path: str,
    key: str,
    n_buckets: int = 8,
) -> str:
    """Write ``df`` as a BUCKETED, per-bucket-sorted table (external, at
    ``path``): ``bucketBy(n, key).sortBy(key)`` records the hash layout
    in the catalog, so an equi-join of two tables bucketed on the same
    key with the same bucket count compiles to a sort-merge join with
    NO Exchange on either side — the co-located join that turns the
    biggest shuffle of a 100 TB star join into a local merge
    (tests/test_spans.py pins the shuffle-free plan).  Overwrites any
    prior copy (deterministic content, idempotent).  Returns the table
    name."""
    (
        df.write.mode("overwrite")
        .option("path", path)
        .bucketBy(n_buckets, key)
        .sortBy(key)
        .format("parquet")
        .saveAsTable(table)
    )
    return table
