"""Sinks: Parquet/table append, idempotent append, the partitioned writer.

The reference loads via sqlite3 ``executemany`` (S3, ``src/etl_pipeline.py:
197-201,272-277``) and relies on ``INSERT OR IGNORE`` for idempotency (S4,
``:198,229,246``). Spark-first equivalents:

- plain append       → ``df.write.mode('append')`` (parallel, partitioned)
- INSERT OR IGNORE   → left-anti join against the existing keys, then append
- partitioned write  → ``write_parquet`` partitions by ``order_year``; it backs
  the two ``warehouse_queries`` partition-pruning queries (the warehouse
  fact itself is range-clustered, see ``bucketing``)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from kickstarter_etl_pipeline_spark.operators.partitioning import materialize


def write_parquet(df: DataFrame, path: str) -> None:
    """Overwrite ``path`` with ``df`` partitioned by ``order_year``."""
    df.write.mode("overwrite").partitionBy("order_year").parquet(path)


def _hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path) for ``path``'s scheme — file:, s3a:, hdfs:, ...
    NOT a local ``os.path`` probe, which silently answers "missing" for
    any object-store/HDFS URI and would duplicate data at deployment
    scale."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath


def _read_existing(spark: SparkSession, path: str) -> DataFrame | None:
    """Read the target if it exists; None only when it genuinely does
    not exist.

    Existence is probed explicitly via the Hadoop FileSystem rather
    than by catching AnalysisException from the reader: the reader
    raises AnalysisException for corrupt footers and config/permission
    failures too, and treating those as "missing" would let callers
    like :func:`merge_upsert` take the overwrite branch and silently
    replace a damaged-but-recoverable table with just the incoming
    batch. A read failure on an EXISTING table propagates to the caller.

    An existing directory with no visible entries counts as missing —
    that's a pre-created-but-never-written target (scratch dirs, an
    S3 "folder" marker), not a damaged table.
    """
    fs, jpath = _hadoop_fs(spark, path)
    if not fs.exists(jpath):
        return None
    if fs.getFileStatus(jpath).isDirectory():
        entries = [
            st.getPath().getName()
            for st in fs.listStatus(jpath)
            if not st.getPath().getName().startswith((".", "_"))
        ]
        if not entries:
            return None
    return spark.read.parquet(path)


def append_ignore_existing(
    spark: SparkSession, df: DataFrame, path: str, keys: list[str]
) -> int:
    """Idempotent append (reference ``INSERT OR IGNORE`` semantics, S4,
    ``src/etl_pipeline.py:198``).

    Reference semantics are per-row first-wins: later rows with a key
    already seen — whether on disk OR earlier in the same batch — are
    ignored. So the incoming batch is first deduplicated on ``keys``
    (min-id-free ``dropDuplicates``: one arbitrary-but-single survivor
    per key, matching what a PK would admit), then anti-joined against
    the existing keys, then appended. Returns the number of rows
    appended. The anti join shuffles only on re-runs; first write is a
    plain parallel append.
    """
    fresh = df.dropDuplicates(keys)
    existing = _read_existing(spark, path)
    if existing is not None:
        fresh = fresh.join(existing.select(*keys), on=keys, how="left_anti")
    n = fresh.count()
    if n:
        fresh.write.mode("append").parquet(path)
    return n


def merge_upsert(spark: SparkSession, df: DataFrame, path: str, keys: list[str]) -> dict[str, int]:
    """SCD1 MERGE (upsert): incoming rows REPLACE existing rows with the
    same key, new keys append, untouched keys survive — the
    ``MERGE WHEN MATCHED THEN UPDATE WHEN NOT MATCHED THEN INSERT``
    analog over plain parquet.

    The merged result is materialized (eager localCheckpoint) BEFORE the
    overwrite: a lazy plan would still be reading the files the write is
    replacing. On a transactional table format (Delta/Iceberg) this
    whole function is one native MERGE — that's the production path at
    100 TB; this is the format-free fallback with the same semantics.

    Returns {"updated": n, "inserted": n, "carried": n}.
    """
    fresh = df.dropDuplicates(keys)
    existing = _read_existing(spark, path)
    if existing is None:
        n = fresh.count()
        fresh.write.mode("overwrite").parquet(path)
        return {"updated": 0, "inserted": n, "carried": 0}
    carried = existing.join(fresh.select(*keys), on=keys, how="left_anti")
    # never read files being overwritten
    merged = materialize(carried.unionByName(fresh.select(*existing.columns)))
    n_carried = carried.count()
    n_existing = existing.count()
    n_fresh = fresh.count()
    merged.write.mode("overwrite").parquet(path)
    return {
        "updated": n_existing - n_carried,
        "inserted": n_fresh - (n_existing - n_carried),
        "carried": n_carried,
    }


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_files: int | None = None,
) -> int:
    """Small-file compaction: rewrite a parquet dataset into
    ``target_files`` files (default: sized so each is ~128 MB).

    Streaming appends and fine-grained idempotent inserts accumulate
    small files; at object-store scale the per-file overhead (listing,
    open, footer read) dominates scans long before data volume does.
    The rewrite goes to a sibling temp dir first, then swaps via
    rename-to-backup → rename-into-place → delete-backup, so at every
    instant the data exists under a recoverable name (``path``,
    ``path_compact_backup``, or ``path_compact_tmp``) and a crash at
    any step loses nothing. A failed swap-in is rolled back by
    restoring the backup. Works on any Hadoop FS scheme (file:, s3a:,
    hdfs:), never reads the files it is replacing.

    NOT atomic for concurrent readers: between the two renames the
    primary path briefly does not exist, so a reader listing files in
    that window fails and should retry. (On a transactional table
    format — Delta/Iceberg OPTIMIZE — compaction is a metadata swap and
    fully concurrent; this is the format-free tier.) Returns the file
    count written.
    """
    fs, src = _hadoop_fs(spark, path)
    jvm = spark._jvm
    if target_files is None:
        total_bytes = fs.getContentSummary(src).getLength()
        target_files = max(1, int(total_bytes // (128 * 1024 * 1024)) + 1)
    tmp = jvm.org.apache.hadoop.fs.Path(path.rstrip("/") + "_compact_tmp")
    backup = jvm.org.apache.hadoop.fs.Path(path.rstrip("/") + "_compact_backup")
    df = spark.read.parquet(path)
    df.repartition(target_files).write.mode("overwrite").parquet(str(tmp))
    if fs.exists(backup):  # leftover from an interrupted earlier run
        fs.delete(backup, True)
    if not fs.rename(src, backup):
        raise IOError(f"compact_parquet: rename {src} -> {backup} failed")
    if not fs.rename(tmp, src):
        fs.rename(backup, src)  # roll back; compacted data stays in tmp
        raise IOError(f"compact_parquet: rename {tmp} -> {src} failed (original restored)")
    fs.delete(backup, True)
    return target_files


def incremental_rollup_update(
    spark: SparkSession,
    path: str,
    batch: DataFrame,
    keys: list[str],
) -> DataFrame:
    """Incrementally maintain a stored rollup: fold a new orders batch
    into persisted per-key partials (count + ``o_totalprice`` sum) WITHOUT rescanning
    history — the materialized-view maintenance pattern. At 100 TB the
    nightly batch touches only its own rows plus the (key-cardinality-
    sized) stored aggregate; a full recompute would rescan the fact.

    Works because count/sum are commutative monoids: stored partials
    and the batch's partials combine by key-wise addition. (avg/stddev
    derive from these at read time; true holistic aggregates — exact
    percentiles — can't be maintained this way and need the recompute
    path.) Returns the updated rollup after persisting it.
    """
    partial = batch.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(F.col("o_totalprice").cast("decimal(28,4)")).alias("sum_o_totalprice"),
    )
    existing = _read_existing(spark, path)
    if existing is not None:
        merged = (
            existing.unionByName(partial)
            .groupBy(*keys)
            .agg(
                F.sum("n_rows").cast("long").alias("n_rows"),
                F.sum("sum_o_totalprice").cast("decimal(28,4)").alias("sum_o_totalprice"),
            )
        )
    else:
        merged = partial
    materialized = materialize(merged)  # never read files being overwritten
    materialized.write.mode("overwrite").parquet(path)
    return materialized


def incremental_distinct_rollup(
    spark: SparkSession,
    path: str,
    batch: DataFrame,
) -> DataFrame:
    """Incrementally maintain a stored per-``event_type`` COUNT(DISTINCT
    user_id) rollup with
    mergeable HyperLogLog sketch partials (Apache DataSketches via
    ``hll_sketch_agg`` / ``hll_union_agg``).

    Exact distinct counts are NOT monoids — they can't be maintained by
    :func:`incremental_rollup_update`'s count/sum folding without
    keeping every member. Sketches restore the monoid property: each
    batch contributes a fixed-size (2^12 registers) binary partial
    per key, stored partials and batch partials merge associatively,
    and the estimate is read off the merged sketch. This is the 100 TB
    pattern for "distinct users per day, updated nightly": the nightly
    job touches its own rows plus key-cardinality × KB of state,
    never the member history. Merge-order invariance (batched folds ==
    one-shot sketch, exactly) is asserted in tests.

    Returns the updated rollup (``event_type`` + ``hll_sketch`` binary).
    """
    partial = batch.groupBy("event_type").agg(
        F.hll_sketch_agg(F.col("user_id").cast("string"), 12).alias("hll_sketch")
    )
    existing = _read_existing(spark, path)
    if existing is not None:
        merged = (
            existing.unionByName(partial)
            .groupBy("event_type")
            .agg(F.hll_union_agg("hll_sketch", True).alias("hll_sketch"))
        )
    else:
        merged = partial
    materialized = materialize(merged)  # never read files being overwritten
    materialized.write.mode("overwrite").parquet(path)
    return materialized


def distinct_rollup_estimates(rollup: DataFrame) -> DataFrame:
    """Read estimates off a sketch rollup: keys + ``n_distinct_est``."""
    return rollup.select(
        *[c for c in rollup.columns if c != "hll_sketch"],
        F.hll_sketch_estimate("hll_sketch").cast("long").alias("n_distinct_est"),
    )


def apply_cdc_batch(
    spark: SparkSession,
    path: str,
    changes: DataFrame,
    keys: list[str],
) -> DataFrame:
    """Apply a CDC change batch (Debezium-style rows tagged I/U/D with a
    monotonically increasing sequence) to a stored table: per key, the
    HIGHEST-sequence change wins — an upsert for I/U, removal for D —
    and untouched keys carry over unchanged.

    Last-writer-wins is resolved with one row_number window over the
    (small relative to the table) change batch, then the survivors
    split into an upsert frame and a delete key set: one anti join for
    carries+deletes, one union for upserts. On a transactional format
    this is MERGE ... WHEN MATCHED [AND op='D'] THEN DELETE; this is
    the format-free twin with identical semantics. The result is
    materialized before the overwrite (never reads files being
    replaced). Returns the updated table.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(*keys).orderBy(F.desc("seq"))
    latest = (
        changes.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    data_cols = [c for c in latest.columns if c not in ("seq", "op")]
    upserts = latest.filter(F.col("op").isin("I", "U")).select(*data_cols)
    removed_or_replaced = latest.select(*keys)  # D keys vanish; I/U keys are replaced
    existing = _read_existing(spark, path)
    if existing is None:
        merged = upserts
    else:
        merged = existing.join(removed_or_replaced, on=keys, how="left_anti").unionByName(
            upserts
        )
    materialized = materialize(merged)  # never read files being overwritten
    materialized.write.mode("overwrite").parquet(path)
    return materialized


# --- versioned snapshots (poor-man's time travel) ---
#
# The container has no Delta/Iceberg package, so the lake-format
# time-travel contract is re-expressed on plain parquet: every write
# lands in an immutable `v=K/` directory, and a `_VERSION` pointer file
# is swapped ATOMICALLY (temp-write + rename, the same crash-safety
# discipline as compact_parquet) only after the snapshot's data is
# fully committed. Readers resolve the pointer (or an explicit
# version), so a writer crash mid-snapshot leaves a dangling v-dir
# that no reader can observe — snapshot isolation by construction.
# With a real lake format the same API maps onto native time travel.


def _version_pointer(spark: SparkSession, table_dir: str):
    fs, _ = _hadoop_fs(spark, table_dir)
    ptr = spark._jvm.org.apache.hadoop.fs.Path(table_dir + "/_VERSION")
    return fs, ptr


def _latest_committed_by_scan(spark: SparkSession, table_dir: str) -> int | None:
    """Crash-recovery fallback: highest ``v=K`` directory whose Spark
    write fully committed (``_SUCCESS`` present). Only consulted when
    the ``_VERSION`` pointer is absent — ``_SUCCESS`` is written by the
    Hadoop output committer strictly before the pointer swap, so every
    directory it admits holds a complete snapshot; a writer that died
    mid-data-write left no ``_SUCCESS`` and stays invisible.

    Semantics under pointer loss (deliberate, documented): a snapshot
    whose DATA committed but whose pointer swap never completed becomes
    visible through this fallback — the in-flight write is treated as
    having completed, which is safe (the data is whole) but means
    recovery can move the table FORWARD past the last pointer-committed
    version. Deployments needing strictly pointer-committed recovery
    should restore the pointer from the desired ``v=K`` instead of
    relying on the scan."""
    fs, _ = _hadoop_fs(spark, table_dir)
    root = spark._jvm.org.apache.hadoop.fs.Path(table_dir)
    if not fs.exists(root):
        return None
    best = None
    for status in fs.listStatus(root):
        name = status.getPath().getName()
        if not (status.isDirectory() and name.startswith("v=")):
            continue
        try:
            v = int(name[2:])
        except ValueError:
            continue
        ok = spark._jvm.org.apache.hadoop.fs.Path(f"{table_dir}/v={v}/_SUCCESS")
        if fs.exists(ok) and (best is None or v > best):
            best = v
    return best


def snapshot_version(spark: SparkSession, table_dir: str) -> int | None:
    """Current committed version, or None for an empty table. The
    pointer is read through the Hadoop FileSystem stream (Spark's text
    reader silently skips ``_``-prefixed metadata files), so the same
    code path works on any filesystem scheme the session can reach.
    A missing pointer falls back to scanning committed ``v=K``
    directories so a crash inside the pointer swap window (or a lost
    pointer file) never makes committed data unreadable. The scan path, when taken,
    logs a WARNING so crash recovery is observable, never silent."""
    fs, ptr = _version_pointer(spark, table_dir)
    if not fs.exists(ptr):
        recovered = _latest_committed_by_scan(spark, table_dir)
        if recovered is not None:
            import logging

            logging.getLogger("kickstarter_etl_pipeline_spark.sinks").warning(
                "snapshot pointer missing under %s; scan recovery resolved "
                "v=%d (data-committed). Restore _VERSION explicitly if "
                "strictly pointer-committed recovery is required.",
                table_dir,
                recovered,
            )
        return recovered
    stream = fs.open(ptr)
    try:
        text = spark._jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
    finally:
        stream.close()
    return int(text.strip())


def write_snapshot(spark: SparkSession, df: DataFrame, table_dir: str) -> int:
    """Commit ``df`` as the next immutable snapshot and return its
    version. Data first, pointer last. The swap prefers FileContext's
    overwriting rename (atomic on HDFS and the local FS — no window
    where the pointer is absent, and it THROWS on failure instead of
    returning false); where FileContext is unavailable it falls back to
    delete+rename with the rename's boolean checked, and the
    ``snapshot_version`` scan fallback covers the delete→rename crash
    window."""
    current = snapshot_version(spark, table_dir)
    version = 1 if current is None else current + 1
    df.write.mode("overwrite").parquet(f"{table_dir}/v={version}")
    fs, ptr = _version_pointer(spark, table_dir)
    tmp = spark._jvm.org.apache.hadoop.fs.Path(table_dir + f"/_VERSION.tmp.{version}")
    out = fs.create(tmp, True)
    out.write(bytearray(str(version).encode("utf-8")))
    out.close()
    try:
        jvm = spark._jvm
        fc = jvm.org.apache.hadoop.fs.FileContext.getFileContext(
            fs.getUri(), jvm.org.apache.hadoop.conf.Configuration()
        )
        overwrite = jvm.org.apache.hadoop.fs.Options.Rename.OVERWRITE
        opts = spark.sparkContext._gateway.new_array(
            jvm.org.apache.hadoop.fs.Options.Rename, 1
        )
        opts[0] = overwrite
        fc.rename(tmp, ptr, opts)
    except Exception:
        if fs.exists(ptr):
            fs.delete(ptr, False)
        if not fs.rename(tmp, ptr):
            raise IOError(
                f"pointer swap failed: rename({tmp}, {ptr}) returned false; "
                f"snapshot v={version} is committed but not yet visible via "
                f"the pointer (the scan fallback in snapshot_version still "
                f"resolves it)"
            )
    return version


def read_snapshot(spark: SparkSession, table_dir: str, version: int | None = None) -> DataFrame:
    """Read the table AS OF ``version`` (default: latest committed).
    Requesting a version newer than the pointer raises — dangling
    uncommitted v-dirs are unreadable by contract."""
    committed = snapshot_version(spark, table_dir)
    if committed is None:
        raise FileNotFoundError(f"no committed snapshot under {table_dir}")
    pick = committed if version is None else version
    if pick > committed or pick < 1:
        raise ValueError(f"version {pick} not committed (latest = {committed})")
    return spark.read.parquet(f"{table_dir}/v={pick}")
