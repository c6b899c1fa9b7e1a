"""Batch scans and sinks (SURVEY §2.1 S1-S3).

The reference reads 255 sensor CSVs one at a time in a driver-side Python
loop (utils/spark_transforming.py:71-88 — one Spark job per file, schema
inferred per file, column identity by listing order) and lists HDFS
directories through the py4j gateway (:34-58).  At scale both are
anti-patterns: here a whole directory tree is one declared-schema scan and
file identity comes from ``input_file_name()`` — no driver loops, no
py4j, no inference passes.
"""

from __future__ import annotations

import json
import logging
import re
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hdfs_stream_processing_spark.plans.inspect import fits_broadcast
from hdfs_stream_processing_spark.schemas import DRIVER_TABLES, schema_for

TABLE_NAMES = list(DRIVER_TABLES)
_log = logging.getLogger(__name__)

#: Attribute holding each session's memo of ANALYZED base-table
#: DataFrames (r15, guide §7.3 "driver-side single-process work"):
#: ``spark.read.parquet`` costs ~85 ms per call (footer/schema resolution
#: + py4j) and every query invocation re-paid it per table — ~100-200 ms
#: of pure driver latency per query, the single largest component of the
#: sub-second tail.  A DataFrame is an immutable LOGICAL PLAN, so reusing
#: the object is plan-level only: nothing is persisted or .cache()d,
#: every action still scans the parquet from disk.  The memo lives on the
#: session object itself: each DataFrame references its session, so a
#: memo keyed by session elsewhere would keep every session alive, while
#: this session ↔ memo cycle is collected with the session.  The driver
#: tables are immutable test fixtures, so the pinned file listing cannot
#: go stale — the same assumption the session's FileStatusCache already
#: makes.
_TABLE_PLANS = "_hsp_table_plans"


def load_table(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """Parquet scan of one driver table (SURVEY S2), memoized per
    (session, dir, table) — see :data:`_TABLE_PLANS`.

    Parquet is self-describing, so no schema argument: Catalyst still gets
    column pruning + predicate pushdown from the footer metadata.

    Timestamp physical encodings vary by how the driver generated the
    parquet, so expected-TimestampType columns are normalized here:

    - TIMESTAMP(NANOS) surfaces as LongType under
      ``spark.sql.legacy.parquet.nanosAsLong`` (session.py) → converted
      with exact integer division (ns values exceed 2^53; float
      division would corrupt the low digits).
    - TIMESTAMP(MICROS, isAdjustedToUTC=false) surfaces as
      TimestampNTZType → cast to TimestampType.  The session time zone
      is pinned to UTC (queries.prep / session factory), so the cast
      maps wall time to the same instant bit-for-bit and every
      ``unix_micros``-based operator (as-of joins, sessionization,
      funnel lags) sees the exact integer microsecond it would read
      straight from the file.
    """
    per = spark.__dict__.setdefault(_TABLE_PLANS, {})
    cached = per.get((sf_dir, table))
    if cached is not None:
        return cached
    df = spark.read.parquet(f"{sf_dir}/{table}.parquet")
    expected = DRIVER_TABLES.get(table)
    if expected is not None:
        for f in expected.fields:
            if not isinstance(f.dataType, T.TimestampType):
                continue
            actual = df.schema[f.name].dataType
            if isinstance(actual, T.LongType):
                df = df.withColumn(
                    f.name, F.timestamp_micros(F.expr(f"{f.name} div 1000"))
                )
            elif isinstance(actual, T.TimestampNTZType):
                df = df.withColumn(f.name, F.col(f.name).cast("timestamp"))
    per[(sf_dir, table)] = df
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TABLE_NAMES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every driver table as a temp view for spark.sql queries."""
    for t, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(t)


def scan_csv_dir(
    spark: SparkSession,
    path: str,
    schema: T.StructType | str,
    sep: str = ",",
    header: bool = True,
    with_source_file: bool = False,
) -> DataFrame:
    """CSV scan with a declared schema (SURVEY S1).

    Replaces the reference's per-file inferSchema read
    (utils/spark_transforming.py:82; data_generator/dataframe_to_kafka.py:78).
    ``path`` may be a file, directory, or glob — one scan for any number of
    files.  ``with_source_file`` adds the originating file path as a column,
    replacing the reference's encode-room-in-directory-name convention.
    """
    if isinstance(schema, str):
        schema = T._parse_datatype_string(schema)  # DDL string
    reader = spark.read.schema(schema).option("header", str(header).lower()).option("sep", sep)
    df = reader.csv(path)
    if with_source_file:
        df = df.withColumn("source_file", F.input_file_name())
    return df


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
) -> None:
    """Parquet batch sink (SURVEY S3; utils/spark_transforming.py:162).

    The reference globally sorts the whole dataset before writing (:143) —
    a full range-partition shuffle that buys nothing once the data is
    columnar.  At 100 TB the layout should come from ``partitionBy`` (e.g.
    date) so partition pruning engages on read; rows within files can be
    ordered cheaply with sortWithinPartitions by the caller if needed.
    """
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def schema_checked(df: DataFrame, table: str) -> DataFrame:
    """Assert a scan matches the registry (names + types, order-insensitive).

    TIMESTAMP and TIMESTAMP_NTZ are treated as equivalent: parquet files
    written with isAdjustedToUTC=false surface as NTZ, and the engine
    pins a UTC session so the two render identically.
    """

    def norm(dt: T.DataType) -> T.DataType:
        return T.TimestampType() if isinstance(dt, T.TimestampNTZType) else dt

    expected = {f.name: norm(f.dataType) for f in schema_for(table).fields}
    actual = {f.name: norm(f.dataType) for f in df.schema.fields}
    if expected != actual:
        raise ValueError(f"schema drift for {table}: expected {expected}, got {actual}")
    return df


def _fs_for(spark: SparkSession, path: str):
    """The Hadoop ``Path`` class and the FileSystem serving ``path``.

    Every ``spark._jvm.org.apache.hadoop.fs.Path`` lookup walks the
    package path over py4j (1–2 ms), so callers resolve the class here
    once and build each further path from it."""
    Path = spark._jvm.org.apache.hadoop.fs.Path
    return Path, Path(path).getFileSystem(spark._jsc.hadoopConfiguration())


def swap_dirs(spark: SparkSession, new_dir: str, live_dir: str) -> None:
    """Publish ``new_dir`` over ``live_dir`` via Hadoop FS renames — the
    swap step :func:`compact_parquet_dir` leaves to its caller.  On HDFS
    a rename is one atomic namenode metadata op, so readers see either
    the old directory or the new one, never a half-compacted mix; the
    retired directory is deleted after the swap."""
    Path, fs = _fs_for(spark, live_dir)
    live = Path(live_dir)
    retired = Path(live_dir.rstrip("/") + "._retired")
    if fs.exists(retired):
        fs.delete(retired, True)
    if not fs.rename(live, retired):
        raise IOError(f"swap_dirs: could not retire {live_dir}")
    if not fs.rename(Path(new_dir), live):
        fs.rename(retired, live)  # roll back
        raise IOError(f"swap_dirs: could not publish {new_dir}")
    fs.delete(retired, True)


def parquet_table_exists(spark: SparkSession, path: str) -> bool:
    """Whether ``path`` holds a readable parquet table: the directory
    exists AND contains at least one visible data file (not just
    ``_SUCCESS`` / ``.crc`` markers or empty partition dirs).

    This is the probe incremental-merge sinks need before deciding
    between "bootstrap a new table" and "fold into the existing one":
    a bare ``fs.exists`` says True for a pre-created empty directory
    (schema inference would then fail), while a ``try/except`` around
    the read would also swallow transient FS errors and corrupt footers
    on a REAL table — silently resetting accumulated state.  Here only
    the not-a-table-yet cases return False; everything else raises.
    Metadata-only: one recursive listing, no data read."""
    Path, fs = _fs_for(spark, path)
    hpath = Path(path)
    if not fs.exists(hpath):
        return False
    it = fs.listFiles(hpath, True)
    while it.hasNext():
        name = it.next().getPath().getName()
        if not name.startswith("_") and not name.startswith("."):
            return True
    return False


def dir_bytes(spark: SparkSession, path: str) -> int:
    """Total bytes under a path via the Hadoop FileSystem API (works for
    HDFS, S3A, and local alike).  Metadata-only — one namenode call, no
    data read."""
    Path, fs = _fs_for(spark, path)
    return int(fs.getContentSummary(Path(path)).getLength())


def compact_parquet_dir(
    spark: SparkSession,
    src_dir: str,
    out_dir: str,
    target_file_mb: int = 128,
    partition_by: list[str] | None = None,
) -> int:
    """Small-file compaction: rewrite a parquet directory into
    ~``target_file_mb``-sized files.  Returns the output file count.

    A streaming parquet sink emits files per micro-batch per partition —
    at 100 TB that is millions of KB-sized files, and every downstream
    scan pays the per-file open/footer/listing cost (the classic HDFS
    small-files failure; the namenode pays it too, per block).  The fix
    is this periodic rewrite: one scan, one ``repartition`` shuffle to
    the byte-budgeted file count, one write.  With ``partition_by`` the
    repartition keys on the partition columns so each output partition
    is written by the tasks that own it (no 200-way small-file fan-out
    per partition directory).

    Writes to ``out_dir`` and returns; it does NOT swap ``out_dir`` over
    ``src_dir``.  To publish the compacted copy to concurrent readers,
    the CALLER renames it over the source path (an atomic namenode
    metadata op on HDFS) — compacting in place would race readers, so
    this function never touches ``src_dir``.
    """
    df = spark.read.parquet(src_dir)
    n_files = max(1, -(-dir_bytes(spark, src_dir) // (target_file_mb * 1024 * 1024)))
    if partition_by:
        df = df.repartition(n_files, *[F.col(c) for c in partition_by])
    else:
        df = df.repartition(n_files)
    write_parquet(df, out_dir, partition_by=partition_by)
    return len([f for f in spark.read.parquet(out_dir).inputFiles()])


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_cols: list[str],
    num_buckets: int = 32,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
    path: str | None = None,
) -> None:
    """Bucketed managed table: pre-shuffled ON DISK by the join/agg key.

    The 100 TB co-location play: two tables bucketed identically on the
    join key join with ZERO exchanges — the shuffle was paid once at
    write time and amortized over every subsequent join (the reference
    re-shuffles its alignment join on every run instead).  ``sort_cols``
    additionally pre-sorts within buckets, removing the sort from
    sort-merge joins.

    With ``path`` the table is EXTERNAL: data lands at the given
    directory instead of the session's warehouse dir (which follows the
    host process's CWD — a location this engine does not control);
    bucketing metadata still registers in the catalog, so the
    zero-exchange join planning is identical.
    """
    writer = df.write.mode(mode).bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    if path is not None:
        writer = writer.option("path", path)
    writer.saveAsTable(table_name)


def upsert_partitioned(
    spark: SparkSession,
    target_dir: str,
    updates: DataFrame,
    keys: list[str],
    partition_col: str,
    order_col: str,
) -> None:
    """MERGE-style upsert into a partitioned parquet directory without a
    table format: rewrite ONLY the partitions the updates touch.

    The 100 TB point is the blast radius: a day's corrections against a
    years-deep table must not rewrite the table.  Dynamic partition
    overwrite scopes the job to the touched partitions — read them back,
    resolve each key to its winning row, overwrite just those
    directories.  Updates beat existing rows on the same key; among
    duplicate update rows the greatest ``order_col`` wins (window over
    ``keys`` — one shuffle on the merge keys, sized by the TOUCHED
    partitions, not the table).

    The touched-partition list is a driver collect, bounded by the
    partition count of the update batch (days, not rows).  With a real
    lakehouse format (Delta/Iceberg) this whole function is MERGE INTO;
    the physical shape — shuffle scoped to touched partitions + dynamic
    overwrite — is the same one their MERGE executes.
    """
    from pyspark.sql import Window

    parts = [r[0] for r in updates.select(partition_col).distinct().collect()]
    current = spark.read.parquet(target_dir).where(F.col(partition_col).isin(parts))
    merged = (
        current.withColumn("_src", F.lit(0))
        .unionByName(updates.withColumn("_src", F.lit(1)))
    )
    w = Window.partitionBy(*keys).orderBy(
        F.col("_src").desc(), F.col(order_col).desc()
    )
    winner = (
        merged.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_src", "_rn")
    )
    (
        winner.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partition_col)
        .parquet(target_dir)
    )


# ---------------------------------------------------------------------------
# Versioned table: snapshot directories + an atomically-published pointer
# ---------------------------------------------------------------------------

def _read_text(fs, hpath) -> str | None:
    """Contents of a small ASCII file, or None when it does not exist."""
    if not fs.exists(hpath):
        return None
    stream = fs.open(hpath)
    try:
        return bytes(stream.readAllBytes()).decode("ascii")
    finally:
        stream.close()


def _write_text(fs, hpath, text: str) -> None:
    out = fs.create(hpath, True)
    try:
        out.write(bytearray(text.encode("ascii")))
    finally:
        out.close()


_VERSION_DIR = re.compile(r"v=([0-9]+)")


def _listed_versions(fs, Path, base: str) -> list[int]:
    """Sorted ``k`` of every ``v=<k>`` entry directly under ``base``,
    from one listing; [] when ``base`` does not exist."""
    hbase = Path(base)
    if not fs.exists(hbase):
        return []
    names = (st.getPath().getName() for st in fs.listStatus(hbase))
    return sorted(int(m[1]) for m in map(_VERSION_DIR.fullmatch, names) if m)


def _read_sidecar(spark: SparkSession, table_dir: str, v: int):
    """``(caller meta, schema JSON)`` recorded in snapshot ``v``'s
    ``_meta.json``; every committed snapshot has one, so a missing
    sidecar raises."""
    Path, fs = _fs_for(spark, table_dir)
    path = f"{table_dir.rstrip('/')}/v={v}/_meta.json"
    raw = _read_text(fs, Path(path))
    if raw is None:
        raise FileNotFoundError(f"snapshot sidecar missing: {path}")
    doc = json.loads(raw)
    return doc["meta"], doc["schema"]


def table_latest_version(spark: SparkSession, table_dir: str) -> int | None:
    """Version the ``_latest`` pointer currently publishes, or None for
    a table that has never committed.

    With no ``_latest`` the pointer is recovered from ``_latest.tmp``:
    :func:`write_table_version` writes and closes that file before it
    deletes the old pointer, so a crash between the delete and the
    rename leaves the complete new pointer there.  An empty
    ``_latest.tmp`` (a crash inside its write) counts as no pointer."""
    Path, fs = _fs_for(spark, table_dir)
    base = table_dir.rstrip("/")
    raw = _read_text(fs, Path(f"{base}/_latest"))
    if raw is None:
        raw = _read_text(fs, Path(f"{base}/_latest.tmp")) or ""
    return int(raw) if raw.strip() else None


#: Types that Spark's Parquet reader reads back as the same type from
#: their Arrow form written by ``pyarrow.parquet``; a snapshot with any
#: other type (intervals, variant, time, void, UDTs) takes the Spark
#: write.
_DRIVER_ENCODABLE = (
    T.BooleanType, T.ByteType, T.ShortType, T.IntegerType, T.LongType,
    T.FloatType, T.DoubleType, T.DecimalType, T.StringType, T.BinaryType,
    T.DateType, T.TimestampType, T.TimestampNTZType,
)


def _driver_encodable(dt: T.DataType) -> bool:
    if isinstance(dt, T.StructType):
        names = [f.name.lower() for f in dt.fields]
        return len(set(names)) == len(names) and all(
            _driver_encodable(f.dataType) for f in dt.fields
        )
    if isinstance(dt, T.ArrayType):
        return _driver_encodable(dt.elementType)
    if isinstance(dt, T.MapType):
        return _driver_encodable(dt.keyType) and _driver_encodable(dt.valueType)
    return type(dt) in _DRIVER_ENCODABLE


def _write_driver_parquet(df: DataFrame, fs, hpath) -> None:
    """Collect ``df`` once as Arrow, encode it as one Parquet file on the
    driver and write the bytes to ``hpath`` through the Hadoop
    FileSystem ``fs``.

    The footer records the Spark version, as a Spark write does: a
    file without it is read under
    ``spark.sql.parquet.datetimeRebaseModeInRead`` (EXCEPTION by
    default), which raises on pre-1582 dates and timestamps, while
    with it Spark reads them as proleptic Gregorian — what Arrow
    wrote.

    The batches are taken as the JVM encoded them, not through
    ``toArrow()``: its cast to the Spark-derived Arrow schema rejects a
    null struct that has a non-nullable field."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    batches = df._collect_as_arrow(empty_list_if_zero_records=False)
    table = pa.Table.from_batches(batches).replace_schema_metadata(
        {"org.apache.spark.version": df.sparkSession.version}
    )
    sink = pa.BufferOutputStream()
    pq.write_table(table, sink)
    out = fs.create(hpath, False)
    try:
        out.write(sink.getvalue().to_pybytes())
    finally:
        out.close()


def write_table_version(
    spark: SparkSession,
    df: DataFrame,
    table_dir: str,
    meta: dict | None = None,
) -> int:
    """Commit ``df`` as the table's next immutable snapshot and publish
    it — the minimal form of the Iceberg/Delta snapshot protocol:

    1. data lands in a NEW directory ``v=<n>/data/`` (never touched
       again);
    2. the sidecar ``v=<n>/_meta.json`` is written;
    3. the ``_latest`` pointer file is written aside as ``_latest.tmp``
       and renamed over the old pointer.

    Readers resolving the pointer therefore see the previous snapshot
    or the new one, never a half-written mix, and every prior version
    stays readable (:func:`read_table_version`) until
    :func:`vacuum_table_versions` retires it — time travel, audits,
    and rollback are all "read an older v=".

    Route for step 1: when Catalyst estimates ``df`` at or under the
    session's ``spark.sql.autoBroadcastJoinThreshold`` and every column
    type round-trips through Arrow, the state is collected once as
    Arrow and written by the driver as
    ``v=<n>/data/part-00000.parquet`` through the same Hadoop
    FileSystem handle as the sidecar and pointer (so HDFS and S3A
    paths work) — no Spark write job.  Larger state, other types, or
    the threshold at -1 take the Spark write.  The decision is logged
    at DEBUG; both routes read back the same through the sidecar
    schema.

    ``n`` is one past the highest ``v=<k>`` in the table directory.
    The published snapshot is always listed (vacuum never removes
    it), and a snapshot orphaned by a crash before its pointer flip is
    skipped over instead of failing every retry on an existing path;
    vacuum removes it later.

    The delete+rename pointer flip is atomic enough for a single
    writer (this engine's loaders run one committer per table); a
    multi-writer lake puts the pointer CAS in a metastore/catalog
    instead — the layout here is deliberately that same shape.  After
    a crash between the delete and the rename,
    :func:`table_latest_version` recovers the pointer from
    ``_latest.tmp``.

    The sidecar always exists.  It records ``df``'s schema, so
    :func:`read_table_version` reads with a declared schema instead of
    starting a Parquet footer-inference job, and the caller's ``meta``
    (small JSON-able commit facts, e.g. the streaming batch id), so
    :func:`table_version_meta` resolves them with one driver-side file
    read instead of a Spark job over the snapshot — the miniature of
    Iceberg/Delta keeping snapshot properties in the manifest, not in
    the data.
    """
    Path, fs = _fs_for(spark, table_dir)
    base = table_dir.rstrip("/")
    n = 1 + max(_listed_versions(fs, Path, base), default=0)
    data = f"{base}/v={n}/data"
    encodable = _driver_encodable(df.schema)
    fits, size, threshold = fits_broadcast(df)
    driver = encodable and fits
    _log.debug(
        "write_table_version route=%s size=%d threshold=%d encodable=%s",
        "driver" if driver else "spark", size, threshold, encodable,
    )
    if driver:
        _write_driver_parquet(df, fs, Path(f"{data}/part-00000.parquet"))
    else:
        df.write.mode("error").parquet(data)
    sidecar = {"meta": meta, "schema": df.schema.jsonValue()}
    _write_text(fs, Path(f"{base}/v={n}/_meta.json"), json.dumps(sidecar))
    tmp = Path(f"{base}/_latest.tmp")
    ptr = Path(f"{base}/_latest")
    _write_text(fs, tmp, str(n))
    if fs.exists(ptr):
        fs.delete(ptr, False)
    if not fs.rename(tmp, ptr):
        raise IOError(f"write_table_version: could not publish pointer for v={n}")
    return n


def read_table_version(
    spark: SparkSession, table_dir: str, version: int | None = None
) -> DataFrame:
    """Read a snapshot: the pointer's latest by default, or any retained
    ``version`` for time travel.

    The read uses the schema the sidecar recorded at commit, so it
    starts no Spark job."""
    v = version if version is not None else table_latest_version(spark, table_dir)
    if v is None:
        raise FileNotFoundError(f"no committed version in {table_dir}")
    _, schema = _read_sidecar(spark, table_dir, v)
    return spark.read.schema(T.StructType.fromJson(schema)).parquet(
        f"{table_dir.rstrip('/')}/v={v}/data"
    )


def table_version_meta(
    spark: SparkSession, table_dir: str, version: int | None = None
) -> dict | None:
    """The ``meta`` a snapshot was committed with (kept in
    ``v=<n>/_meta.json``), or None when it was written without one or
    the table has never committed."""
    v = version if version is not None else table_latest_version(spark, table_dir)
    if v is None:
        return None
    return _read_sidecar(spark, table_dir, v)[0]


def vacuum_table_versions(
    spark: SparkSession, table_dir: str, keep_last: int = 2
) -> list[int]:
    """Retire every snapshot ``v=<k>`` with ``k <= latest - keep_last``
    (never the published one); returns the versions removed, sorted.
    One listing of the table directory finds them; partition-dir
    deletes only — data files of retained versions, the pointer and
    any other entry are never touched.
    """
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    latest = table_latest_version(spark, table_dir)
    if latest is None:
        return []
    Path, fs = _fs_for(spark, table_dir)
    base = table_dir.rstrip("/")
    removed = [k for k in _listed_versions(fs, Path, base) if k <= latest - keep_last]
    for k in removed:
        fs.delete(Path(f"{base}/v={k}"), True)
    return removed


def apply_versioned_batch(
    spark: SparkSession,
    table_dir: str,
    batch_id: int,
    merge: Callable[[DataFrame | None], DataFrame],
) -> bool:
    """Commit one micro-batch to a maintained-state table: the replay
    guard, commit and vacuum every streaming maintainer (rollup, mixed
    rollup, SCD2, golden) shares.

    ``merge(existing)`` gets the latest snapshot, or None before the
    first commit, and returns the new state.  That is committed
    (:func:`write_table_version`) unchanged, with ``batch_id`` as the
    sidecar meta's ``batch`` — the one record of which batch a snapshot
    holds — then all but the last two snapshots are vacuumed.

    Merges are not replay-idempotent (a re-added batch double-counts),
    so a ``batch_id`` at or below the committed one is skipped.  The
    guard reads only the latest sidecar (a driver-side file read, no
    Spark job) and returns before the snapshot is read.  A latest
    snapshot whose sidecar records no ``batch`` was not committed by
    this function, so the guard has nothing to compare: ValueError.

    Returns True when a snapshot was committed, False for a replay
    skip.
    """
    latest = table_latest_version(spark, table_dir)
    existing = None
    if latest is not None:
        meta = table_version_meta(spark, table_dir, latest) or {}
        if "batch" not in meta:
            raise ValueError(
                f"{table_dir}: snapshot v={latest} records no committed batch"
            )
        if batch_id <= meta["batch"]:
            return False
        existing = read_table_version(spark, table_dir, latest)
    write_table_version(spark, merge(existing), table_dir, meta={"batch": batch_id})
    vacuum_table_versions(spark, table_dir, keep_last=2)
    return True
