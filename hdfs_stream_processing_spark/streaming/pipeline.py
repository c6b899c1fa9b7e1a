"""The streaming pipeline, Spark-first (SURVEY §2.9, ST1-ST8).

The reference runs two near-identical Structured Streaming jobs (Kafka →
split/cast parse → CASE classify → sink), duplicated per sink
(/root/reference/spark_streaming/convert-to-elasticsearch.py:98-136 vs
convert-to-minio.py:86-120 — the same transformation written twice).  Here
the transformation is ONE function over a DataFrame — batch and streaming
share it verbatim (that is the point of Structured Streaming) — and sinks
are parameterized:

- ``run_to_parquet``: append mode + checkpointLocation — the north-star
  "HDFS stream processing" sink (convert-to-minio.py:125-131), exactly-once
  via checkpoint + file-manifest commit protocol.
- ``run_to_memory``: deterministic test sink (availableNow drains all
  pending input then stops — ST1's reproducible-trigger choice).

New capabilities the reference lacks (ST5/ST6): event-time watermarks with
tumbling-window aggregation, and streaming deduplication keyed on event id
— both required for correct late-data semantics at scale.
"""

from __future__ import annotations

import uuid
import warnings
import weakref

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hdfs_stream_processing_spark.operators.relational import case_when


def stream_parquet_source(
    spark: SparkSession, path: str, schema: T.StructType, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-based streaming source (directory of parquet).

    File sources are the deterministic stand-in for Kafka in tests (same
    downstream plan; the reference's Kafka options map to
    ``maxFilesPerTrigger`` ≈ ``maxOffsetsPerTrigger`` for backpressure,
    ST7).  Streaming sources require a declared schema — no inference.
    """
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def classify_movement(df: DataFrame, value_col: str = "value") -> DataFrame:
    """The reference's parse→classify stage as one shared batch/stream
    function (replaces the duplicated create_final_dataframe pair,
    convert-to-elasticsearch.py:98-136 / convert-to-minio.py:86-120):
    CASE over a numeric column → categorical label."""
    return case_when(
        df,
        "tier",
        [(F.col(value_col) > 75.0, "high"), (F.col(value_col) > 25.0, "mid")],
        "low",
    )


def run_to_parquet(
    df: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    partition_by: list[str] | None = None,
    processing_time: str | None = None,
):
    """North-star sink: streaming append to Parquet with checkpoint
    (convert-to-minio.py:125-131).  availableNow drains everything
    pending, then stops — deterministic for tests, and the recommended
    batch-backfill trigger in production.  Exactly-once comes from the
    checkpoint WAL + the parquet sink's file-manifest commit.

    With ``processing_time`` (e.g. ``"1 second"``) the query runs
    UNBOUNDED on a processing-time trigger — the reference consumers'
    default mode (convert-to-elasticsearch.py:164-179) — and the started
    ``StreamingQuery`` is returned so the caller controls its lifetime
    (``processAllAvailable()`` + ``stop()`` in tests; run forever in
    production).  Returns None in availableNow mode (the call blocks
    until drained).
    """
    if not df.isStreaming:  # ST8 liveness guard (convert-to-minio.py:140)
        raise ValueError("run_to_parquet expects a streaming DataFrame; use sources.io.write_parquet for batch")
    writer = (
        df.writeStream.format("parquet")
        .outputMode("append")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
    )
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if processing_time is not None:
        return writer.trigger(processingTime=processing_time).start()
    writer.trigger(availableNow=True).start().awaitTermination()
    return None


#: FIFO of live memory-sink table names.  Each ``run_to_memory`` call
#: registers a temp view over a driver-held MemorySink; without cleanup
#: a long session (the 162-query bench runs ~40 streaming queries × 7)
#: retains EVERY past result set on the driver — r7's bench showed this
#: as broad +15–40% drift on small queries (GC pressure), worst on
#: ``stream_window_agg`` (+83%).  Dropping the view as soon as a few
#: newer sinks exist frees the sink rows; the small keep-window lets
#: callers (tests) hold a couple of results side by side.
#: ADVICE r8: keyed per owning session (weakly, so a closed session's
#: list vanishes with it) — memory-sink temp views are session-scoped,
#: and a shared FIFO let one session's registrations evict another's
#: views early.  Names leave the FIFO only after their drop succeeds.
_MEMORY_SINKS: "weakref.WeakKeyDictionary[SparkSession, list[str]]" = (
    weakref.WeakKeyDictionary()
)
_MEMORY_SINKS_KEEP = 8
#: hard bound on names retained while drops fail (ADVICE r9): past
#: this the oldest name is dropped from the FIFO with a warning.
_MEMORY_SINKS_MAX_BACKLOG = 4 * _MEMORY_SINKS_KEEP


def run_to_memory(df: DataFrame, output_mode: str = "append") -> DataFrame:
    """Drain a streaming DataFrame through a memory sink (availableNow)
    and return the collected table as a batch DataFrame.  Test-only sink
    — memory tables live on the driver; the last ``_MEMORY_SINKS_KEEP``
    results stay addressable, older ones are dropped (consume a result
    before starting more than that many new streams)."""
    name = f"mem_{uuid.uuid4().hex[:12]}"
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    spark = df.sparkSession
    sinks = _MEMORY_SINKS.setdefault(spark, [])
    sinks.append(name)
    while len(sinks) > _MEMORY_SINKS_KEEP:
        try:
            # False (already gone) still frees the slot; only an actual
            # failure keeps the name queued so a later call retries
            spark.catalog.dropTempView(sinks[0])
        except Exception:
            # ADVICE r9: a session whose drops fail persistently must
            # not grow its FIFO (and the backing views) without bound —
            # past the hard cap the oldest name is abandoned (the view
            # leaks, bounded) and the skip is made visible
            if len(sinks) > _MEMORY_SINKS_MAX_BACKLOG:
                warnings.warn(
                    f"run_to_memory: dropTempView({sinks[0]!r}) keeps "
                    "failing; abandoning the name to bound the backlog",
                    RuntimeWarning,
                    stacklevel=2,
                )
                sinks.pop(0)
                continue
            break
        sinks.pop(0)
    return spark.table(name)


#: Off-heap state store provider — the one a 100 TB deployment runs.
ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def restore_confs(spark: SparkSession, prior: dict[str, str | None]) -> None:
    """Restore SQL confs captured by :func:`enable_rocksdb_state` (a
    ``None`` value means the conf was unset before)."""
    for key, old in prior.items():
        if old is not None:
            spark.conf.set(key, old)
        else:
            spark.conf.unset(key)


def enable_rocksdb_state(spark: SparkSession) -> dict[str, str | None]:
    """Switch streaming state stores to RocksDB.

    The default HDFS-backed provider keeps all keyed state on the
    executor HEAP — at 100 TB keyed-state volume (dedup keys, open
    windows, join buffers) that is an OOM, not a tuning problem.
    RocksDB keeps state off-heap with disk spill and incremental
    (changelog) checkpointing.  Runtime-settable SQL conf, read when a
    query STARTS — set it before ``start()``.  Returns the prior value
    of EVERY conf it touches (``None`` = was unset); pass that dict to
    :func:`restore_confs` to undo both settings.

    Changelog checkpointing is enabled with it: per-batch checkpoint
    cost becomes O(state CHANGED this batch) instead of O(total state) —
    the difference between seconds and minutes of per-batch overhead at
    real keyed-state volume.
    """
    keys = (
        "spark.sql.streaming.stateStore.providerClass",
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
    )
    prior = {k: spark.conf.get(k, None) for k in keys}
    spark.conf.set(keys[0], ROCKSDB_PROVIDER)
    spark.conf.set(keys[1], "true")
    return prior


def stream_dedup(df: DataFrame, keys: list[str], watermark: tuple[str, str] | None = None) -> DataFrame:
    """Streaming deduplication (ST6 — absent in the reference).

    With a watermark the dedup state is bounded: keys older than the
    watermark are dropped from the state store — mandatory at 100 TB, or
    state grows without bound.  ``dropDuplicatesWithinWatermark`` gives
    TRUE key-level dedup with bounded state: the same key at two event
    times within the watermark delay is still one output row (plain
    ``dropDuplicates(keys + [ts])`` — the pre-Spark-3.5 workaround —
    would emit both)."""
    if watermark is not None:
        return df.withWatermark(*watermark).dropDuplicatesWithinWatermark(keys)
    return df.dropDuplicates(keys)


def stream_window_agg(
    df: DataFrame,
    ts_col: str = "ts",
    value_col: str = "value",
    window: str = "1 hour",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Event-time tumbling-window aggregate with a watermark (ST5 — the
    late-data semantics the reference never defined).

    The watermark bounds aggregation state; the exact-cents sum keeps the
    result bit-reproducible.  In append mode only watermark-closed
    windows emit; complete mode emits all (deterministic for tests).
    """
    # long cents: vectorized-codegen fast path (see queries.cents_sum
    # for the overflow bound; decimal variant in functions.detmath)
    cents = F.round(F.col(value_col) * F.lit(100.0), 0).cast("long")
    return (
        df.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("win"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.sum(cents).cast("double") / F.lit(100.0)).alias("sum_value"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "n",
            "sum_value",
        )
    )


def session_window_agg(
    df: DataFrame,
    ts_col: str = "ts",
    key_col: str = "user_id",
    value_col: str = "value",
    gap: str = "5 minutes",
    watermark: str | None = "10 minutes",
) -> DataFrame:
    """Session windows (ST5): events within ``gap`` of each other merge
    into one session per key; session end = last event + gap.

    Works identically on batch and streaming input (watermark applied
    only when streaming — it bounds the open-session state).  Exact-cents
    sums keep sessions bit-reproducible.
    """
    if watermark is not None and df.isStreaming:
        df = df.withWatermark(ts_col, watermark)
    cents = F.round(F.col(value_col) * F.lit(100.0), 0).cast("long")
    return (
        df.groupBy(F.session_window(F.col(ts_col), gap).alias("win"), F.col(key_col))
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.sum(cents).cast("double") / F.lit(100.0)).alias("sum_value"),
        )
        .select(
            F.col(key_col),
            F.col("win.start").alias("session_start"),
            F.col("win.end").alias("session_end"),
            "n",
            "sum_value",
        )
    )


def stream_stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    max_gap_seconds: int = 120,
    watermark: str = "10 minutes",
    how: str = "inner",
    left_filter: Column | None = None,
    right_filter: Column | None = None,
) -> DataFrame:
    """Stream-stream join with an event-time interval condition — full
    Structured Streaming state machine: BOTH sides buffered in the
    state store, watermarks bounding how long (without them the state
    grows forever; with them rows older than watermark+gap are evicted).

    Equality on ``key`` plus |right_ts − left_ts| ≤ gap.  With
    availableNow over a finite source the result equals the batch
    interval join — which is exactly how it is oracle-checked.

    ``how='leftOuter'`` adds the never-matched left rows with NULL
    right columns — e.g. clicks that never converted, emitted AS the
    stream runs rather than by a daily batch join.  An outer row is
    only provably match-free once the watermark passes its interval, so
    emission trails the watermark; left rows closer than
    ``watermark + gap`` to the stream's end are still pending when a
    finite run terminates (bound the left side or keep the delay small
    when comparing against a batch oracle).

    ``left_filter`` / ``right_filter`` apply AFTER the watermark is
    declared: the watermark then tracks the SOURCE's event-time
    frontier, not the filtered subset's.  This matters for outer
    emission — a predicate that caps the left side's event times (e.g.
    "analyze clicks before Tuesday") would otherwise cap the global
    watermark with it, and the last ``watermark + gap`` of kept rows
    could never be proven match-free.  Filtering a watermarked stream
    is the production shape: the frontier advances with the pipe, not
    with the analyst's WHERE clause.
    """
    gap = f"INTERVAL {max_gap_seconds} SECONDS"
    l = left.withWatermark(left_ts, watermark)
    r = right.withWatermark(right_ts, watermark)
    if left_filter is not None:
        l = l.where(left_filter)
    if right_filter is not None:
        r = r.where(right_filter)
    l, r = l.alias("l"), r.alias("r")
    cond = (
        (F.col(f"l.{key}") == F.col(f"r.{key}"))
        & (F.col(f"r.{right_ts}") >= F.expr(f"l.{left_ts} - {gap}"))
        & (F.col(f"r.{right_ts}") <= F.expr(f"l.{left_ts} + {gap}"))
    )
    # drop the right copy of the equi-key: downstream selects would hit
    # AMBIGUOUS_REFERENCE otherwise
    return l.join(r, on=cond, how=how).drop(F.col(f"r.{key}"))


def run_foreach_batch_compacting(
    df: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    every_n: int = 4,
    target_file_mb: int = 128,
) -> None:
    """Streaming parquet sink with SCHEDULED small-file compaction: each
    micro-batch appends to ``out_dir``; every ``every_n`` batches the
    directory is rewritten to ~``target_file_mb`` files and atomically
    swapped in (``sources.io.compact_parquet_dir`` + ``swap_dirs``).

    This closes the loop the standalone compactor leaves open — a
    streaming sink never stops producing debris, so compaction must be
    ON the ingest path, not a cron job someone forgets.  The rewrite
    runs inside foreachBatch, i.e. between micro-batches, so the sink
    itself never races its own compaction; external readers see an
    atomic namenode rename.  Exactly-once caveat (same as any
    foreachBatch parquet append): a batch replayed after a crash
    appends again — production sinks layer a transactional table
    format or batch_id dedup on top.
    """
    from hdfs_stream_processing_spark.sources.io import compact_parquet_dir, swap_dirs

    def write_and_maybe_compact(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("append").parquet(out_dir)
        if (batch_id + 1) % every_n == 0:
            spark = batch_df.sparkSession
            staging = out_dir.rstrip("/") + f"._compacting_{batch_id}"
            compact_parquet_dir(spark, out_dir, staging, target_file_mb=target_file_mb)
            swap_dirs(spark, staging, out_dir)

    run_foreach_batch(df, write_and_maybe_compact, checkpoint_dir)


def run_foreach_batch(df: DataFrame, batch_fn, checkpoint_dir: str) -> None:
    """foreachBatch sink: hand each micro-batch to an arbitrary BATCH
    writer (upserts, multi-sink fan-out, JDBC — anything the streaming
    sinks don't cover).  ``batch_fn(batch_df, batch_id)`` runs with full
    batch-API power; exactly-once requires batch_fn to be idempotent on
    (batch_id) — the checkpoint replays the last uncommitted batch on
    recovery.
    """
    (
        df.writeStream.foreachBatch(batch_fn)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def run_continuous_rollup(
    df: DataFrame,
    target_dir: str,
    checkpoint_dir: str,
    time_col: str = "ts",
    grain: str = "hour",
    part_col: str = "event_type",
    value_col: str = "value",
) -> None:
    """Continuous aggregate (TimescaleDB-style): a streaming source
    incrementally maintains a per-(time-bucket, type) rollup TABLE —
    each micro-batch folds its partial sums into the stored totals
    instead of recomputing history.

    The merge is additive on exact integer cents, so partial-per-batch
    sums compose to EXACTLY the batch ``GROUP BY`` answer regardless of
    how rows split across micro-batches (double addition would not).
    Replay safety: each stored key carries ``last_batch``; a key whose
    ``last_batch >= batch_id`` already absorbed this batch (foreachBatch
    replays whole batches after a crash) and is skipped, making the
    additive merge idempotent per (key, batch).  The write path is
    ``upsert_partitioned`` — only the partitions the batch touches are
    rewritten, so a day of late sensor data against a years-deep rollup
    rewrites one day, not years.

    Scale: per-batch work is one partial aggregate (map-side combine)
    sized by the BATCH, one join against only the touched keys, one
    scoped partition overwrite.  History is never rescanned — that is
    the entire point of a continuous aggregate.
    """
    from hdfs_stream_processing_spark.sources.io import (
        parquet_table_exists,
        upsert_partitioned,
    )

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        cents = F.round(F.col(value_col) * F.lit(100.0), 0).cast("long")
        delta = (
            batch_df.select(
                F.date_trunc(grain, F.col(time_col)).alias("bucket"),
                F.col(part_col),
                cents.alias("_cents"),
            )
            .groupBy("bucket", part_col)
            .agg(
                F.sum("_cents").alias("_d_cents"),
                F.count(F.lit(1)).alias("_d_n"),
            )
        )
        # probe existence explicitly: only "table not created yet" may
        # fall through to the bootstrap overwrite.  A transient FS error
        # or corrupt footer on an EXISTING rollup must raise, not
        # silently reset accumulated totals to this batch's delta.
        if parquet_table_exists(spark, target_dir):
            existing = spark.read.parquet(target_dir).select(
                "bucket", part_col, "sum_cents", "n", "last_batch"
            )
        else:
            existing = None
        if existing is None:
            out = delta.select(
                "bucket",
                part_col,
                F.col("_d_cents").alias("sum_cents"),
                F.col("_d_n").alias("n"),
                F.lit(batch_id).cast("long").alias("last_batch"),
            )
            out.write.mode("overwrite").partitionBy(part_col).parquet(target_dir)
            return
        merged = (
            delta.join(existing, ["bucket", part_col], "left")
            # drop replayed deltas: this key already absorbed this batch
            .where(F.col("last_batch").isNull() | (F.col("last_batch") < batch_id))
            .select(
                "bucket",
                part_col,
                (F.coalesce(F.col("sum_cents"), F.lit(0)) + F.col("_d_cents")).alias(
                    "sum_cents"
                ),
                (F.coalesce(F.col("n"), F.lit(0)) + F.col("_d_n")).alias("n"),
                F.lit(batch_id).cast("long").alias("last_batch"),
            )
        )
        upsert_partitioned(
            spark, target_dir, merged, ["bucket", part_col], part_col, "last_batch"
        )

    run_foreach_batch(df, merge, checkpoint_dir)


def run_stream_cdc(
    df: DataFrame,
    target_dir: str,
    checkpoint_dir: str,
    key_cols: list[str],
    order_cols: list[str],
    op_col: str,
    part_col: str,
    delete_op: str = "D",
) -> None:
    """Streaming CDC: a continuously-arriving change log maintains a
    mutable snapshot TABLE — the upgrade over the reference's
    append-only sink (convert-to-minio.py:125-131), which can only ever
    grow.  Each micro-batch reduces to its per-key winner (keeping
    delete winners), then MERGEs against only the touched partitions of
    the target: global latest-wins on ``order_cols`` across the stored
    row and the batch winner, a winning delete removes the key.

    Replay safety is CONTENT-based, stronger than the last_batch
    counter in :func:`run_continuous_rollup`: the merge resolves each
    key to the row with the greatest ``order_cols`` no matter how many
    times it sees it, so a replayed batch re-derives the identical
    state (idempotent), and the final table is independent of how the
    log split into micro-batches — an upsert is not additive, so
    nothing needs to remember which batch it came from.

    Deletes persist as TOMBSTONES (``_tombstone`` = true): a winning
    delete must outlive the merge, or a lower-ordered change for the
    same key arriving in a LATER micro-batch (file/Kafka sources are
    not time-ordered) would resurrect the key.  Read the live snapshot
    with :func:`read_cdc_snapshot`; production GC would compact
    tombstones older than the source's out-of-order bound.

    Contracts: ``order_cols`` totally orders each key's changes, and
    ``part_col`` is FUNCTIONALLY DEPENDENT on the key (a key never
    moves partitions — use a hash bucket of the key, not a mutable
    attribute), otherwise the scoped merge cannot see a key's old row.

    Scale: per batch — one batch-sized window, one scan of the touched
    partitions only (blast radius = partitions the batch touches, not
    the table), one dynamic partition overwrite.  History outside the
    touched partitions is never read or written.
    """
    def merge(batch_df: DataFrame, batch_id: int) -> None:
        cdc_merge_batch(
            batch_df, target_dir, key_cols, order_cols, op_col, part_col, delete_op
        )

    run_foreach_batch(df, merge, checkpoint_dir)


def cdc_merge_batch(
    batch_df: DataFrame,
    target_dir: str,
    key_cols: list[str],
    order_cols: list[str],
    op_col: str,
    part_col: str,
    delete_op: str = "D",
) -> None:
    """One CDC merge step (the body :func:`run_stream_cdc` runs per
    micro-batch, public so batch backfills can reuse it and tests can
    drive arbitrary batch splits): reduce the batch to per-key winners,
    merge against the touched partitions of the target with global
    latest-wins on ``order_cols``, persist winning deletes as
    tombstones.  Applying any in-order partition of a log through this
    function leaves the same table as applying it in one call — the
    batch-split-invariance contract (property-tested)."""
    from pyspark.sql import Window

    from hdfs_stream_processing_spark.sources.io import parquet_table_exists

    spark = batch_df.sparkSession
    wb = Window.partitionBy(*key_cols).orderBy(
        *[F.col(c).desc() for c in order_cols]
    )
    winner = (
        batch_df.withColumn("_op", F.col(op_col))
        .withColumn("_rn", F.row_number().over(wb))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )
    if parquet_table_exists(spark, target_dir):
        parts = [r[0] for r in winner.select(part_col).distinct().collect()]
        current = (
            spark.read.parquet(target_dir)
            .where(F.col(part_col).isin(parts))
            .withColumn(
                "_op",
                F.when(F.col("_tombstone"), F.lit(delete_op)).otherwise(
                    F.lit("\x00upsert")
                ),
            )
            .drop("_tombstone")
            .withColumn("_src", F.lit(0))
        )
        merged = current.unionByName(winner.withColumn("_src", F.lit(1)))
        wm = Window.partitionBy(*key_cols).orderBy(
            *[F.col(c).desc() for c in order_cols], F.col("_src").desc()
        )
        winner = (
            merged.withColumn("_rn", F.row_number().over(wm))
            .where(F.col("_rn") == 1)
            .drop("_rn", "_src")
        )
    out = winner.withColumn(
        "_tombstone", F.col("_op") == F.lit(delete_op)
    ).drop("_op")
    (
        out.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(part_col)
        .parquet(target_dir)
    )


def read_cdc_snapshot(spark: SparkSession, target_dir: str) -> DataFrame:
    """The live rows of a :func:`run_stream_cdc` target: tombstoned
    keys filtered out, the marker column dropped."""
    return (
        spark.read.parquet(target_dir)
        .where(~F.col("_tombstone"))
        .drop("_tombstone")
    )


def vacuum_cdc_tombstones(
    spark: SparkSession,
    target_dir: str,
    part_col: str,
    expired: Column,
) -> int:
    """GC expired tombstones from a :func:`run_stream_cdc` target.

    Tombstones exist to outlive out-of-order stragglers; once the
    source's lateness bound has passed they are dead weight.  ``expired``
    is a boolean Column over the stored row (e.g. ``F.col("ts") <
    horizon``) — a tombstone matching it is dropped.  Live rows are
    never touched.  Only partitions that actually hold an expired
    tombstone are rewritten (dynamic overwrite, same blast-radius story
    as the merge); a partition left completely empty has its directory
    removed.  Returns the number of tombstones collected.

    Safety contract: the horizon must ALSO exceed the source's replay
    window — a batch replayed after its delete's tombstone was vacuumed
    would resurrect the key, exactly the hazard every log-compacted
    store (e.g. a Kafka compacted topic's delete.retention.ms) documents.
    """
    full = spark.read.parquet(target_dir)
    dead = F.col("_tombstone") & expired
    parts = [r[0] for r in full.where(dead).select(part_col).distinct().collect()]
    if not parts:
        return 0
    scoped = full.where(F.col(part_col).isin(parts))
    keep = scoped.where(~dead).persist()
    try:
        n_dead = scoped.count() - keep.count()
        alive = {r[0] for r in keep.select(part_col).distinct().collect()}
        (
            keep.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(part_col)
            .parquet(target_dir)
        )
    finally:
        keep.unpersist()
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    for p in parts:
        if p not in alive:
            hp = jvm.org.apache.hadoop.fs.Path(
                target_dir.rstrip("/") + f"/{part_col}={p}"
            )
            fs = hp.getFileSystem(conf)
            if fs.exists(hp):
                fs.delete(hp, True)
    return n_dead


def scd2_apply_batch(
    batch_df: DataFrame,
    table_dir: str,
    key_cols: list[str],
    ts_col: str,
    attr_col: str | list[str],
    tiebreak_cols: list[str] | None = None,
    batch_id: int = 0,
) -> bool:
    """One streaming SCD2 maintenance step (the body
    :func:`run_stream_scd2` runs per micro-batch; public so batch
    backfills reuse it and tests drive arbitrary batch splits).

    Merge: the first batch bootstraps the dimension with
    ``scd2_build``; every later batch folds in through ``scd2_merge``
    — history is never rebuilt.  Replay guard, snapshot commit and
    vacuum are :func:`~hdfs_stream_processing_spark.sources.io.apply_versioned_batch`'s
    contract, so a reader mid-merge sees the previous complete
    dimension and the dimension gets time travel.

    Ordering contract (inherited from ``scd2_merge``): batches arrive
    per-key in ``ts_col`` order.  Out-of-order arrivals must be routed
    through ``operators.incremental.scd2_repair`` instead — the
    high-watermark pattern its docstring describes.

    Returns True if a snapshot was committed, False for a replay skip.
    """
    from hdfs_stream_processing_spark.operators.incremental import (
        scd2_build,
        scd2_merge,
    )
    from hdfs_stream_processing_spark.sources.io import apply_versioned_batch

    def merge(existing):
        if existing is None:
            return scd2_build(batch_df, key_cols, ts_col, attr_col, tiebreak_cols)
        return scd2_merge(
            existing, batch_df, key_cols, ts_col, attr_col, tiebreak_cols
        )

    return apply_versioned_batch(batch_df.sparkSession, table_dir, batch_id, merge)


def run_stream_scd2(
    df: DataFrame,
    table_dir: str,
    checkpoint_dir: str,
    key_cols: list[str],
    ts_col: str,
    attr_col: str | list[str],
    tiebreak_cols: list[str] | None = None,
) -> None:
    """Streaming SCD2: a change stream continuously maintains a type-2
    dimension — the stream-side completion of the scd2_build /
    scd2_merge pair, matching stream_cdc's batch/stream symmetry for
    snapshot tables.  availableNow; see :func:`scd2_apply_batch` for
    the per-batch merge, commit, replay, and ordering contracts."""

    def step(batch_df: DataFrame, batch_id: int) -> None:
        scd2_apply_batch(
            batch_df, table_dir, key_cols, ts_col, attr_col, tiebreak_cols,
            batch_id,
        )

    run_foreach_batch(df, step, checkpoint_dir)


def rollup_apply_batch(
    batch_partial: DataFrame,
    table_dir: str,
    key_cols: list[str],
    sum_cols: list[str],
    batch_id: int = 0,
) -> bool:
    """One streaming materialized-rollup step: fold a micro-batch's
    PARTIAL aggregate into the stored rollup via ``rollup_merge`` (the
    first batch's partial is the rollup) and commit it through
    :func:`~hdfs_stream_processing_spark.sources.io.apply_versioned_batch`,
    whose replay guard keeps the additive merge from double-counting a
    replayed batch.  Complementary to :func:`run_continuous_rollup`'s
    per-key last_batch (that one scopes partition rewrites; this one is
    table-snapshot-atomic and gives the rollup time travel).

    Scale: input is batch-sized partials; the stored table is
    group-cardinality-sized.  The merge is one union + one hash agg —
    history is never re-aggregated.  Returns False on a replay skip."""
    from hdfs_stream_processing_spark.operators import incremental
    from hdfs_stream_processing_spark.sources.io import apply_versioned_batch

    def merge(existing):
        if existing is None:
            return batch_partial.select(*key_cols, *sum_cols)
        return incremental.rollup_merge(existing, batch_partial, key_cols, sum_cols)

    return apply_versioned_batch(
        batch_partial.sparkSession, table_dir, batch_id, merge
    )


def rollup_apply_batch_mixed(
    batch_partial: DataFrame,
    table_dir: str,
    key_cols: list[str],
    merge_spec: dict[str, str],
    batch_id: int = 0,
) -> bool:
    """:func:`rollup_apply_batch` with per-column merge functions
    (sum/min/max via ``rollup_merge_mixed``, round 12) — the variant
    keeper-style state needs (e.g. the streaming substring-scrub
    keeper min).  Commits through
    :func:`~hdfs_stream_processing_spark.sources.io.apply_versioned_batch`;
    its replay guard is harmless for min/max and load-bearing whenever
    the spec has a sum.

    Scale: identical to rollup_apply_batch — batch-sized input, one
    union + one hash agg, group-cardinality-sized state."""
    from hdfs_stream_processing_spark.operators.incremental import (
        rollup_merge_mixed,
    )
    from hdfs_stream_processing_spark.sources.io import apply_versioned_batch

    def merge(existing):
        if existing is None:
            return batch_partial.select(*key_cols, *merge_spec)
        return rollup_merge_mixed(existing, batch_partial, key_cols, merge_spec)

    return apply_versioned_batch(
        batch_partial.sparkSession, table_dir, batch_id, merge
    )


def run_stream_rollup_mixed(
    df: DataFrame,
    table_dir: str,
    checkpoint_dir: str,
    key_cols: list[str],
    merge_spec: dict[str, str],
    partial_fn,
) -> None:
    """:func:`run_stream_rollup` with per-column merge functions —
    availableNow micro-batches folded through
    :func:`rollup_apply_batch_mixed`."""

    def step(batch_df: DataFrame, batch_id: int) -> None:
        rollup_apply_batch_mixed(
            partial_fn(batch_df), table_dir, key_cols, merge_spec, batch_id
        )

    run_foreach_batch(df, step, checkpoint_dir)


def run_stream_rollup(
    df: DataFrame,
    table_dir: str,
    checkpoint_dir: str,
    key_cols: list[str],
    sum_cols: list[str],
    partial_fn,
) -> None:
    """Streaming incremental view maintenance: ``partial_fn`` reduces
    each micro-batch to its partial aggregate (same function a batch
    backfill uses), :func:`rollup_apply_batch` folds it into the stored
    rollup.  availableNow.  Derived rankings/ratios are computed by
    READERS of the rollup (top-k, avg = sum/n, ...) — the state is
    sufficient statistics only."""

    def step(batch_df: DataFrame, batch_id: int) -> None:
        rollup_apply_batch(
            partial_fn(batch_df), table_dir, key_cols, sum_cols, batch_id
        )

    run_foreach_batch(df, step, checkpoint_dir)
