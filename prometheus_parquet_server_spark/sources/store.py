"""Canonical-store sink/source (S10 in SURVEY.md §2.1).

Reference parity: ``TimeSeriesCollection`` (src/timeseries.rs:396-445) — a
name-keyed in-memory map with a global min/max-time index. Here the store IS
the long table written ``partitionBy("name")``: the reference's name-hash
probe becomes Catalyst partition pruning, and min/max come from a one-line
aggregate (parquet footer statistics make it a metadata-only scan).

Scale: partitioning by metric name bounds every selector scan to one
partition tree; within a partition, files are sorted by the series key so
per-series windows mostly avoid wide shuffles (AQE handles the rest).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from prometheus_parquet_server_spark.model import series_key_str


def write_store(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Persist the canonical long frame partitioned by metric name."""
    (
        df.withColumn("_sk", series_key_str())
        .sortWithinPartitions("_sk", "ts")
        .drop("_sk")
        .write.mode(mode)
        .partitionBy("name")
        .parquet(path)
    )


def read_store(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def write_store_bucketed(
    df: DataFrame,
    table: str,
    buckets: int = 32,
    path: str | None = None,
) -> None:
    """Persist the store bucketed+sorted by the series key.

    At cluster scale this is the difference between every per-series window
    (resample/rate/irate) starting with a full shuffle of the samples and
    starting from pre-clustered files: Spark's bucketing metadata lets the
    planner skip the Exchange when the window partitions on the bucket
    column. Requires a managed/external table (bucket metadata lives in the
    catalog, not in plain parquet)."""
    writer = (
        df.withColumn("_skey", series_key_str())
        .write.mode("overwrite")
        .bucketBy(buckets, "_skey")
        .sortBy("_skey", "ts")
    )
    if path is not None:
        writer = writer.option("path", path)
    writer.saveAsTable(table)


def read_store_bucketed(spark: SparkSession, table: str) -> DataFrame:
    """Read a bucketed store; the ``_skey`` column is the pre-computed
    series identity operators key on."""
    return spark.table(table)


def time_range(df: DataFrame) -> tuple[float, float]:
    """Global MinMaxTime (src/timeseries.rs:423-445)."""
    row = df.agg(F.min("ts").alias("lo"), F.max("ts").alias("hi")).first()
    return row["lo"], row["hi"]


def shift_to_midnight_offset(df: DataFrame, now: float | None = None) -> float:
    """``--shift_to_midnight`` (reference src/main.rs:207-226 +
    src/timeseries.rs:410-417): query_time_offset = today's local midnight −
    the store's min timestamp. Queries subtract it from their grid
    (RegularTimeRange.time_offset) and serialization adds it back per point
    (json_out.matrix_result time_offset) — so recorded test data appears to
    start "today" in Grafana."""
    import time as _time

    now = _time.time() if now is None else now
    local = _time.localtime(now)
    midnight = _time.mktime(
        (local.tm_year, local.tm_mon, local.tm_mday, 0, 0, 0, -1, -1, -1)
    )
    min_ts, _ = time_range(df)
    return float(midnight) - float(min_ts)


class _StoreFS:
    """All maintenance I/O for a store, routed through the Hadoop
    ``FileSystem`` API of the session JVM (``Path.getFileSystem``) instead
    of driver-local ``pathlib``/``shutil`` — so the same compaction/expiry/
    upsert code runs against any Hadoop-supported scheme (``file:``,
    ``hdfs:``, ``s3a:``, ``abfs:``, ``gs:``), which is what the 100 TB
    deployment actually stores data on.

    Crash-safety contract: partition swaps use rename-aside, which is
    atomic on local/HDFS-style filesystems. Object stores (``s3a:`` etc.)
    emulate rename as copy+delete — :attr:`atomic_rename` is False there,
    and callers get a documented warning: on such stores the maintenance
    pass is crash-safe only down to the copy granularity, and a table
    format / commit protocol is the real answer. All staging and trash
    dirs are dot-prefixed, which Spark's partition discovery ignores, so
    readers never see half-written data regardless of scheme.
    """

    #: schemes whose FileSystem.rename is atomic (dir renames are single
    #: metadata ops). Everything else is assumed copy-based.
    _ATOMIC_SCHEMES = {"file", "hdfs", "viewfs", "webhdfs", "local", None}

    def __init__(self, spark: SparkSession, path: str):
        self._jvm = spark._jvm
        self.root = self._jvm.org.apache.hadoop.fs.Path(path)
        self.fs = self.root.getFileSystem(spark._jsc.hadoopConfiguration())
        scheme = self.fs.getUri().getScheme()
        self.atomic_rename = scheme in self._ATOMIC_SCHEMES

    def jpath(self, s: str):
        return self._jvm.org.apache.hadoop.fs.Path(s)

    def exists(self, p) -> bool:
        return bool(self.fs.exists(p if not isinstance(p, str) else self.jpath(p)))

    def delete(self, p) -> None:
        p = p if not isinstance(p, str) else self.jpath(p)
        self.fs.delete(p, True)  # recursive

    def rename(self, src, dst) -> None:
        src = src if not isinstance(src, str) else self.jpath(src)
        dst = dst if not isinstance(dst, str) else self.jpath(dst)
        if not self.fs.rename(src, dst):
            raise IOError(f"rename failed: {src} -> {dst}")

    def subdirs(self, p=None) -> list[str]:
        """Child directory paths of ``p`` (default: store root), sorted by
        basename. One listStatus round-trip — no recursive walk."""
        p = self.root if p is None else (self.jpath(p) if isinstance(p, str) else p)
        if not self.fs.exists(p):
            return []
        out = [
            str(st.getPath())
            for st in self.fs.listStatus(p)
            if st.isDirectory()
        ]
        return sorted(out, key=_basename)

    def parquet_files(self, p) -> list[tuple[str, int]]:
        """Recursive (path, bytes) census of ``*.parquet`` under ``p`` via
        ``listFiles(recursive=True)`` — on object stores this is one
        LIST call per 1000 keys, not a per-directory walk."""
        p = self.jpath(p) if isinstance(p, str) else p
        it = self.fs.listFiles(p, True)
        files: list[tuple[str, int]] = []
        while it.hasNext():
            st = it.next()
            fp = str(st.getPath())
            if fp.endswith(".parquet"):
                files.append((fp, int(st.getLen())))
        return files


def _basename(path_str: str) -> str:
    return path_str.rstrip("/").rsplit("/", 1)[-1]


def _unescape_partition(dirname: str) -> str:
    """Hive escapes special chars in partition values (':' → '%3A'); the
    directory basename must be unquoted before it can be compared with
    real metric names."""
    from urllib.parse import unquote

    return unquote(dirname.split("=", 1)[1])


def _partition_dirs(fs: _StoreFS):
    """(dir path str, unescaped metric name) per ``name=`` partition."""
    for d in fs.subdirs():
        base = _basename(d)
        if base.startswith("name="):
            yield d, _unescape_partition(base)


def _trash_path(fs: _StoreFS, part_dir: str) -> str:
    """Dot-prefixed sibling trash dir: ``name=X`` → ``.trash_name=X``.
    The dot prefix matters — a ``name=X.trash`` sibling would itself be
    partition-discovered as a metric literally named ``X.trash`` (and
    double-count rows mid-swap); Spark ignores dot-prefixed dirs."""
    parent = part_dir.rstrip("/").rsplit("/", 1)[0]
    return f"{parent}/.trash_{_basename(part_dir)}"


def _swap_partition_dir(fs: _StoreFS, part_dir: str, tmp: str) -> None:
    """Replace the live partition dir with ``tmp`` via rename-aside: the
    live dir is renamed out of the way BEFORE the new one moves in, so a
    crash at any step leaves either the old or the new data discoverable —
    never a window where the partition is simply gone, and never a
    half-deleted partition visible to readers. Atomicity holds on
    local/HDFS (``fs.atomic_rename``); see :class:`_StoreFS` for the
    object-store caveat."""
    trash = _trash_path(fs, part_dir)
    if fs.exists(trash):
        fs.delete(trash)
    fs.rename(part_dir, trash)
    try:
        fs.rename(tmp, part_dir)
    except BaseException:
        fs.rename(trash, part_dir)  # roll back — old data stays live
        raise
    fs.delete(trash)


def _removing_path(fs: _StoreFS, part_dir: str) -> str:
    """Sibling dir for REMOVAL renames: ``name=X`` → ``.removing_name=X``.
    Deliberately distinct from ``.trash_``: trash marks a swap's displaced
    old data (GC RESTORES it when the live dir is missing), while
    ``.removing_`` marks data already sentenced to deletion — GC COMPLETES
    the delete. Sharing the trash prefix resurrected fully-expired
    partitions: a crash between rename-aside and delete left
    ``.trash_name=X`` with no live dir, and the next pass restored it."""
    parent = part_dir.rstrip("/").rsplit("/", 1)[0]
    return f"{parent}/.removing_{_basename(part_dir)}"


def _remove_partition_dir(fs: _StoreFS, part_dir: str) -> None:
    """Crash-safe partition removal: rename aside (atomic on local/HDFS —
    readers see the partition fully present or fully gone), then delete;
    a crash mid-delete leaves only a ``.removing_`` dot-dir that the next
    maintenance pass finishes deleting (never restores — see
    :func:`_removing_path`)."""
    marked = _removing_path(fs, part_dir)
    if fs.exists(marked):
        fs.delete(marked)
    fs.rename(part_dir, marked)
    fs.delete(marked)


def _warn_if_rename_not_atomic(fs: _StoreFS) -> None:
    """One warning per maintenance pass on copy-based-rename filesystems:
    the swap protocol is still correct (staging dirs are dot-prefixed and
    invisible to readers) but the old→new cutover is no longer atomic —
    a reader racing the copy can see a partially-populated partition.
    The snapshot store (sources/snapshot_store.py) is the safe variant
    there."""
    if not fs.atomic_rename:
        import warnings

        warnings.warn(
            f"store maintenance on {fs.fs.getUri().getScheme()}: rename is "
            f"copy-based (non-atomic) — readers can race a partition swap; "
            f"prefer the snapshot store on object stores",
            RuntimeWarning,
            stacklevel=3,
        )


def _gc_stale_maintenance_dirs(fs: _StoreFS) -> list[str]:
    """Remove leftovers of a crashed maintenance pass before starting a new
    one: ``.compact_tmp_*`` / ``.expire_tmp_*`` / ``.upsert_tmp_*`` /
    ``.upsert_stage_*`` staging dirs (never swapped in — old data is still
    live, so they are pure garbage), ``.trash_*`` dirs (their swap
    completed or rolled back — either way the live dir exists), and
    ``.removing_*`` dirs (a crashed removal — the delete is completed,
    never restored). Returns the removed paths (for logging/tests).

    HARD-CRASH recovery: a maintainer killed (OOM, SIGKILL) between the
    two renames of a swap leaves the OLD data only in ``.trash_name=X``
    with no live ``name=X`` — the in-process rollback never ran. A trash
    dir whose live partition is missing is therefore RESTORED (renamed
    back to live), never deleted; only trash whose live dir exists (swap
    completed, trash is a stale copy) is garbage.

    SINGLE-MAINTAINER assumption (the swap store's whole maintenance
    surface): this GC treats every staging dir as a dead predecessor's,
    so two maintenance passes running concurrently would delete each
    other's staging. Readers are always safe (dot-dirs are invisible);
    writers must be serialized by the caller. Concurrent writers are the
    snapshot store's job (sources/snapshot_store.py — optimistic commits,
    no shared staging)."""
    removed = []
    staging_prefixes = (".compact_tmp_", ".expire_tmp_", ".upsert_tmp_",
                        ".upsert_stage_")
    for d in fs.subdirs():
        base = _basename(d)
        if base.startswith(".removing_"):
            # removal rename-aside that crashed before its delete: the
            # partition was already sentenced (fully expired) — complete
            # the delete; restoring would resurrect expired data
            fs.delete(d)
            removed.append(d)
        elif base.startswith(".trash_"):
            live_base = base[len(".trash_"):]
            live = f"{d.rstrip('/').rsplit('/', 1)[0]}/{live_base}"
            if fs.exists(live):
                fs.delete(d)  # swap completed — stale copy
                removed.append(d)
            else:
                # hard crash mid-swap: this trash IS the data — restore
                fs.rename(d, live)
        elif base.startswith(staging_prefixes):
            fs.delete(d)
            removed.append(d)
    return removed


def store_file_stats(spark: SparkSession, path: str) -> DataFrame:
    """Per-partition file census of a name-partitioned store:
    (name, n_files, total_bytes, avg_file_bytes) — the signal compaction
    decisions read. Metadata-only (Hadoop FS directory listing, no data
    scan), so it works unchanged on ``file:``/``hdfs:``/``s3a:`` paths."""
    fs = _StoreFS(spark, path)
    rows = []
    for part, name in _partition_dirs(fs):
        files = fs.parquet_files(part)
        if not files:
            continue
        total = sum(sz for _, sz in files)
        rows.append((name, len(files), total, total // len(files)))
    return spark.createDataFrame(
        rows, "name string, n_files long, total_bytes long, avg_file_bytes long"
    )


def compact_store(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    min_files_to_compact: int = 2,
) -> list[str]:
    """Small-file compaction — the lake-maintenance pass a long-running
    100 TB store needs: streaming/incremental ingest leaves each partition
    littered with tiny files, and every query then pays per-file open/
    footer-read/task-schedule overhead. Rewrites each over-fragmented
    ``name=`` partition into ``ceil(bytes / target)`` sorted files.

    Partition-at-a-time (not whole-store): only fragmented partitions are
    rewritten, each swapped in via rename-aside (old dir renamed away, new
    dir renamed in — a crash leaves old or new data live, never neither),
    so an interrupted compaction leaves every other partition untouched.
    Returns the (unescaped) metric names compacted.

    At real scale the same loop runs as N independent jobs (one per
    partition, embarrassingly parallel across a workflow scheduler);
    within one partition the rewrite is a narrow coalesce — no shuffle.
    All directory I/O goes through the Hadoop FileSystem API
    (:class:`_StoreFS`) so the pass runs against ``file:``/``hdfs:``/
    object-store paths alike.
    """
    if target_file_bytes < 1:
        raise ValueError(f"target_file_bytes must be >= 1, got {target_file_bytes}")
    fs = _StoreFS(spark, path)
    _warn_if_rename_not_atomic(fs)
    _gc_stale_maintenance_dirs(fs)
    compacted: list[str] = []
    for part, name in _partition_dirs(fs):
        files = fs.parquet_files(part)
        total = sum(sz for _, sz in files)
        if len(files) < min_files_to_compact or not files:
            continue
        if total // len(files) >= target_file_bytes:
            continue
        n_out = max(1, -(-total // target_file_bytes))  # ceil
        # sort AFTER coalesce: sorting the small input splits first would
        # leave each output file a concatenation of sorted runs, silently
        # breaking the store's files-sorted-by-series-key invariant
        out = (
            spark.read.parquet(part)
            .withColumn("_sk", series_key_str(name=F.lit(name)))
            .coalesce(n_out)
            .sortWithinPartitions("_sk", "ts")
            .drop("_sk")
        )
        tmp = f"{path}/.compact_tmp_{_basename(part)}"
        out.write.mode("overwrite").parquet(tmp)
        _swap_partition_dir(fs, part, tmp)
        compacted.append(name)
    return compacted


def expire_store(
    spark: SparkSession,
    path: str,
    min_ts: float,
) -> dict[str, int]:
    """Retention pass — drop every sample older than ``min_ts`` (epoch
    seconds), the other half of lake maintenance beside
    :func:`compact_store`. Partition-at-a-time with the same rename-aside
    swap; the per-partition min(ts)/count probe is a ts-only column-pruned
    scan (cheap relative to a rewrite — footer-stat pushdown would need
    ``spark.sql.parquet.aggregatePushDown``, which this repo does not
    assume), so partitions with nothing to expire pay one narrow read and
    are left byte-untouched; a fully-expired partition is removed
    outright (rename-aside first, so readers never see it half-deleted).
    Partitions containing no parquet files (crash leftover, manual
    cleanup) are skipped, not crashed on; stale staging/trash dirs from
    an interrupted earlier pass are garbage-collected up front.
    Returns {unescaped name: rows_dropped}.
    """
    fs = _StoreFS(spark, path)
    _warn_if_rename_not_atomic(fs)
    _gc_stale_maintenance_dirs(fs)
    dropped: dict[str, int] = {}
    for part, name in _partition_dirs(fs):
        if not fs.parquet_files(part):
            continue  # empty dir — nothing to read, don't crash the pass
        df = spark.read.parquet(part)
        row = df.agg(F.min("ts").alias("lo"), F.count("*").alias("n")).first()
        if row["n"] == 0 or row["lo"] is None or row["lo"] >= min_ts:
            continue  # nothing to expire — partition untouched
        kept = df.filter(F.col("ts") >= min_ts)
        n_kept = kept.count()
        if n_kept == 0:
            _remove_partition_dir(fs, part)
            dropped[name] = row["n"]
            continue
        tmp = f"{path}/.expire_tmp_{_basename(part)}"
        kept.write.mode("overwrite").parquet(tmp)
        _swap_partition_dir(fs, part, tmp)
        dropped[name] = row["n"] - n_kept
    return dropped


def upsert_store(spark: SparkSession, path: str, updates: DataFrame) -> list[str]:
    """Upsert into the partitioned store: an update row REPLACES any
    existing sample with the same (series key, ts); new (series, ts)
    pairs append. Completes the store lifecycle (write → upsert →
    compact → expire) without a table format: only the ``name=``
    partitions actually touched by ``updates`` are rewritten, each via
    the same crash-safe rename-aside swap as compaction, so a backfill
    of one metric never rewrites — or risks — the rest of the store.

    The merge is ONE distributed job for the whole batch, however many
    metrics it touches (the round-5 version launched one job per name,
    serially — hundreds of sequential job launches for a wide backfill):
    existing rows of every touched partition are read in one
    partition-pruned scan (``name IN (...)`` prunes at the Hive-partition
    level, untouched metrics are never opened), unioned with the updates
    (priority 0 beats existing 1), deduped by ``row_number() over
    (partition by (series key, ts) order by priority, value desc)`` — the
    value tie-break makes duplicate (series, ts) rows WITHIN the update
    batch resolve deterministically (max value wins, the house MAX-dedupe
    rule) instead of by shuffle layout — and written once with
    ``partitionBy("name")`` into a dot-prefixed staging dir. Each staged
    partition is then swapped live with the same crash-safe rename-aside
    as compaction (driver-side metadata ops only; brand-new metrics
    rename straight in). Total job waves: name-collect + merged write ≈ 2,
    independent of the number of touched partitions.
    Returns the (unescaped) metric names rewritten.
    """
    import uuid

    fs = _StoreFS(spark, path)
    _warn_if_rename_not_atomic(fs)
    _gc_stale_maintenance_dirs(fs)
    # cache: the updates lineage is otherwise re-executed once for the
    # name collect plus once for the merged write
    updates = updates.cache()
    try:
        distinct_names = [
            r["name"] for r in updates.select("name").distinct().collect()
        ]
        # NULL metric names have no legal home in a name-partitioned store:
        # they would stage into name=__HIVE_DEFAULT_PARTITION__ and be
        # renamed in as a literal metric partition (and sorted() over
        # mixed None/str raises besides). Reject the batch explicitly.
        if any(n is None for n in distinct_names):
            raise ValueError(
                "upsert_store: updates contain NULL metric names — the "
                "canonical model requires a non-null name; filter or fix "
                "the batch before upserting"
            )
        names = sorted(distinct_names)
        if not names:
            return []
        existing_dirs = {n: p for p, n in _partition_dirs(fs)}
        touched_existing = [n for n in names if n in existing_dirs]

        if existing_dirs:
            # schema gate (the snapshot store's rule, here against the
            # live store's read schema): without it, unionByName COERCES
            # a type-conflicting update — value double + value string
            # silently retypes the whole rewritten partition to string,
            # and an added/missing column either breaks the union or
            # splits the store into heterogeneous partitions that later
            # full reads resolve nondeterministically
            from prometheus_parquet_server_spark.sources.manifest_log import (
                _validated_append_schema,
            )

            store_df = read_store(spark, path)  # ONE partition discovery
            recorded = store_df.schema.jsonValue()
            for fld in recorded["fields"]:
                # the partition axis reads back through Hive partition-type
                # inference (an all-numeric name= set comes back as int);
                # the canonical model says names are strings — pin it so
                # the gate compares the real contract, not the inference
                if fld["name"] == "name":
                    fld["type"] = "string"
            _validated_append_schema(
                recorded,
                updates.schema,
                merge_schema=False,
                evolution_hint=(
                    "the swap store has no recorded schema to pin "
                    "evolved reads, so it does not support schema "
                    "evolution — migrate to the snapshot store "
                    "(snapshot_write(merge_schema=True)) or rewrite via "
                    "write_store"
                ),
            )
        else:
            store_df = None

        merged = updates.withColumn("_prio", F.lit(0))
        if touched_existing:
            existing = store_df.filter(
                F.col("name").isin(touched_existing)
            ).withColumn("_prio", F.lit(1))
            merged = merged.unionByName(existing.select(*merged.columns))
        merged = merged.withColumn("_sk", series_key_str())
        w = Window.partitionBy("_sk", "ts").orderBy("_prio", F.col("value").desc())
        out = (
            merged.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_prio", "_rn")
            # ride the window's exchange: a second repartition("name") would
            # re-shuffle everything just to reduce file count — compaction's
            # job, not upsert's. Rows within each task are sorted so every
            # output file keeps the sorted-by-series-key invariant.
            .sortWithinPartitions("name", "_sk", "ts")
            .drop("_sk")
        )
        stage = f"{path}/.upsert_stage_{uuid.uuid4().hex[:12]}"
        out.write.mode("overwrite").partitionBy("name").parquet(stage)

        # driver-side swap fan-in: pure FS metadata ops, one per partition
        fs.fs.mkdirs(fs.root)  # no-op if the store already exists
        for staged in fs.subdirs(stage):
            base = _basename(staged)
            if not base.startswith("name="):
                continue
            name = _unescape_partition(base)
            live = existing_dirs.get(name)
            if live is None:
                fs.rename(staged, f"{path}/{base}")  # brand-new metric
            else:
                _swap_partition_dir(fs, live, staged)
        fs.delete(stage)
        return names
    finally:
        updates.unpersist()


def store_manifest(spark: SparkSession, path: str) -> DataFrame:
    """Integrity manifest: (name, n_rows, content_hash) per partition,
    where ``content_hash`` is the mod-2^64 SUM of each row's
    ``xxhash64(series key, ts, value)`` — order-insensitive, so any
    re-layout of the same rows (compaction, upsert no-op, replication)
    hashes identically, while one flipped value, lost row, or duplicated
    row changes it. A sum (not XOR — the round-5 design) is multiplicity-
    sensitive: XOR cancels even-multiplicity changes, so removing two
    copies of one duplicated row while adding two of another kept both
    n_rows and the hash unchanged; with a wrapping sum every multiplicity
    change shifts the digest. The wrap goes through decimal(38,0) + pmod
    because Spark 4's ANSI mode makes a bigint SUM *error* on overflow
    rather than wrap. The scan is embarrassingly parallel (map-side
    partial sums, one tiny shuffle of per-partition partials).
    """
    df = read_store(spark, path)
    return (
        df.withColumn("_sk", series_key_str())
        .groupBy("name")
        .agg(
            F.count("*").alias("n_rows"),
            F.expr(
                "cast(pmod(sum(cast(xxhash64(_sk, ts, value) as decimal(38,0))),"
                " 18446744073709551616BD) as decimal(20,0))"
            ).alias("content_hash"),
        )
    )


def verify_store_manifest(
    spark: SparkSession, path: str, manifest: DataFrame
) -> DataFrame:
    """Diff the live store against a previously-recorded manifest:
    returns (name, status) rows for every discrepancy — ``changed``
    (hash or count differs), ``missing`` (in manifest, not on disk),
    ``unexpected`` (on disk, not in manifest). Empty result = intact.

    ``manifest`` must be MATERIALIZED data (rows read back from wherever
    the manifest was persisted), not a live/cached :func:`store_manifest`
    plan over the same path — Spark's cache-plan matching would serve the
    identical cached plan to BOTH sides of the diff and report an intact
    store no matter what changed (pinned by the tampering test).
    """
    live = store_manifest(spark, path)
    m = manifest.select(
        F.col("name"),
        F.col("n_rows").alias("_m_rows"),
        F.col("content_hash").alias("_m_hash"),
    )
    joined = live.join(m, "name", "full_outer")
    return joined.select(
        "name",
        F.when(F.col("n_rows").isNull(), F.lit("missing"))
        .when(F.col("_m_rows").isNull(), F.lit("unexpected"))
        .when(
            (F.col("n_rows") != F.col("_m_rows"))
            | ~F.col("content_hash").eqNullSafe(F.col("_m_hash")),
            F.lit("changed"),
        )
        .alias("status"),
    ).filter(F.col("status").isNotNull())
