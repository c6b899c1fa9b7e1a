"""Structured Streaming semantics (SURVEY §2.9): batch-stream parity,
north-star parquet sink exactly-once, streaming dedup, watermark windows."""

import pytest

from pyspark.sql import functions as F

from hdfs_stream_processing_spark.sources.io import load_table
from hdfs_stream_processing_spark.streaming import (
    classify_movement,
    run_to_memory,
    run_to_parquet,
    stream_parquet_source,
    stream_window_agg,
)

from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def staged_events(spark, tmp_path_factory):
    """events staged as a 4-file streaming source dir (µs timestamps)."""
    d = str(tmp_path_factory.mktemp("stream_src"))
    events = load_table(spark, SF_DIR, "events")
    events.repartition(4).write.mode("overwrite").parquet(d)
    return d, events


def test_batch_stream_parity(spark, staged_events):
    """The reference duplicates its transform per consumer and never
    proves the two agree (SURVEY §5); here ONE function serves both
    plans and parity is asserted."""
    src_dir, events = staged_events
    batch_out = classify_movement(events).select("event_id", "tier")
    stream = stream_parquet_source(spark, src_dir, events.schema)
    stream_out = run_to_memory(classify_movement(stream)).select("event_id", "tier")
    assert sorted(batch_out.collect()) == sorted(stream_out.collect())


def test_parquet_sink_exactly_once(spark, staged_events, tmp_path):
    """North-star sink (S5): availableNow → parquet + checkpoint.
    Re-running with the same checkpoint must write nothing new."""
    src_dir, events = staged_events
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    stream = stream_parquet_source(spark, src_dir, events.schema)
    run_to_parquet(classify_movement(stream), out_dir, ckpt)
    n1 = spark.read.parquet(out_dir).count()
    assert n1 == events.count()

    # second run, same checkpoint: source exhausted → no duplicates
    stream2 = stream_parquet_source(spark, src_dir, events.schema)
    run_to_parquet(classify_movement(stream2), out_dir, ckpt)
    assert spark.read.parquet(out_dir).count() == n1


def test_processing_time_trigger_long_running(spark, staged_events, tmp_path):
    """ST1 completeness: the reference consumers run UNBOUNDED with the
    default processing-time trigger (convert-to-elasticsearch.py:164-179)
    — every other test here uses availableNow.  Drive a continuously-
    running query through multiple micro-batches (4 source files, 2 per
    trigger), stop it, and assert the output equals the batch transform.
    """
    src_dir, events = staged_events
    out_dir = str(tmp_path / "pt_out")
    ckpt = str(tmp_path / "pt_ckpt")

    stream = stream_parquet_source(spark, src_dir, events.schema, max_files_per_trigger=2)
    q = run_to_parquet(classify_movement(stream), out_dir, ckpt, processing_time="1 second")
    try:
        q.processAllAvailable()  # wait until all pending input is committed
    finally:
        q.stop()
        q.awaitTermination()

    batch = classify_movement(events).select("event_id", "tier")
    got = spark.read.parquet(out_dir).select("event_id", "tier")
    assert sorted(got.collect()) == sorted(batch.collect())

    # 4 files / maxFilesPerTrigger=2 → at least 2 non-empty micro-batches
    filled = {p["batchId"] for p in q.recentProgress if p["numInputRows"] > 0}
    assert len(filled) >= 2, q.recentProgress


def test_rocksdb_state_store_matches_default(spark, staged_events):
    """The off-heap RocksDB state store (the 100 TB provider — heap-backed
    state OOMs at real keyed-state volume) must produce the identical
    watermark-window aggregate as the default provider, and the query's
    progress must prove RocksDB actually held the state."""
    import uuid

    from hdfs_stream_processing_spark.streaming import enable_rocksdb_state, restore_confs

    src_dir, events = staged_events
    stream = stream_parquet_source(spark, src_dir, events.schema)
    agg_default = stream_window_agg(stream)
    expected = sorted(run_to_memory(agg_default, output_mode="complete").collect())

    prior = enable_rocksdb_state(spark)
    try:
        stream2 = stream_parquet_source(spark, src_dir, events.schema)
        agg = stream_window_agg(stream2)
        name = f"rocks_{uuid.uuid4().hex[:8]}"
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        got = sorted(spark.table(name).collect())
        progress = q.recentProgress
    finally:
        restore_confs(spark, prior)

    assert got == expected
    rocks_metrics = [
        p["stateOperators"][0].get("customMetrics", {})
        for p in progress
        if p.get("stateOperators")
    ]
    assert any("rocksdb" in k.lower() for m in rocks_metrics for k in m), rocks_metrics


def test_streaming_dedup_across_batches(spark, tmp_path):
    """ST6: duplicate rows arriving in *different* micro-batches are
    still deduplicated (state store spans batches)."""
    events = load_table(spark, SF_DIR, "events").select("event_id", "value").limit(50)
    d = str(tmp_path / "dupsrc")
    events.coalesce(1).write.mode("append").parquet(d)
    events.coalesce(1).write.mode("append").parquet(d)  # second copy → second batch

    stream = stream_parquet_source(spark, d, events.schema, max_files_per_trigger=1)
    out = run_to_memory(stream.dropDuplicates(["event_id"]))
    assert out.count() == 50


def test_streaming_dedup_within_watermark_key_level(spark, tmp_path):
    """ST6 (VERDICT r3 #3): with a watermark, dedup must be TRUE
    key-level — the same key at two different event times (within the
    watermark delay) is ONE output row.  The old ``keys + [ts]``
    workaround would emit both.  Result keys must equal the batch
    ``dropDuplicates`` keys on the same input."""
    import datetime as dt

    from hdfs_stream_processing_spark.streaming import stream_dedup

    t = lambda m: dt.datetime(2024, 1, 1) + dt.timedelta(minutes=m)
    rows = [(1, t(0), "a"), (1, t(5), "b"), (2, t(1), "c"), (2, t(1), "d"), (3, t(9), "e")]
    df = spark.createDataFrame(rows, "event_id bigint, ts timestamp, payload string")
    src = str(tmp_path / "wmdupsrc")
    # two files → two micro-batches: state must span batches too
    df.where("event_id <= 2").coalesce(1).write.mode("append").parquet(src)
    df.where("event_id >= 2").coalesce(1).write.mode("append").parquet(src)

    stream = stream_parquet_source(spark, src, df.schema, max_files_per_trigger=1)
    out = run_to_memory(
        stream_dedup(stream, ["event_id"], watermark=("ts", "1 hour")),
        output_mode="append",
    )
    got_keys = sorted(r["event_id"] for r in out.select("event_id").collect())
    batch_keys = sorted(
        r["event_id"] for r in df.dropDuplicates(["event_id"]).select("event_id").collect()
    )
    assert got_keys == batch_keys == [1, 2, 3]


def test_window_agg_totals(spark, staged_events):
    """ST5: tumbling windows partition the stream exactly — counts must
    re-add to the input size, sums to the exact-cents total."""
    src_dir, events = staged_events
    stream = stream_parquet_source(spark, src_dir, events.schema)
    agg = stream_window_agg(stream, window="1 hour", watermark="10 minutes")
    out = run_to_memory(agg, output_mode="complete")
    total = out.agg(F.sum("n").alias("n")).collect()[0]["n"]
    assert total == events.count()


def test_stateful_running_totals_accumulate(spark, staged_events, tmp_path):
    """applyInPandasWithState: state survives micro-batches — the final
    emitted row per key must equal the batch aggregate."""
    from pyspark.sql import functions as F

    from hdfs_stream_processing_spark.operators.stateful import running_totals_per_key
    from hdfs_stream_processing_spark.streaming import run_to_memory, stream_parquet_source

    src_dir, events = staged_events
    stream = stream_parquet_source(spark, src_dir, events.schema, max_files_per_trigger=2)
    out = run_to_memory(
        running_totals_per_key(stream.select("user_id", "value")), output_mode="append"
    )
    # multiple batches → multiple rows per key; last (max) row = batch truth
    final = out.groupBy("user_id").agg(
        F.max("n_events").alias("n"), F.max("sum_cents").alias("s")
    )
    cents = F.round(F.col("value") * F.lit(100.0), 0).cast("long")
    truth = events.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"), F.sum(cents).alias("s")
    )
    assert sorted(final.collect()) == sorted(truth.collect())
    # and the stream really did split into >1 batch for at least one key
    multi = out.groupBy("user_id").count().where("count > 1").count()
    assert multi > 0


def test_kafka_builders_configure_without_broker(spark):
    """Kafka source/sink builders are structural here (no broker in the
    container): the reader must configure; load() may fail only with a
    missing-connector/servers error, never a silent no-op."""
    from hdfs_stream_processing_spark.sources.kafka import kafka_stream_source

    reader = kafka_stream_source(spark, "localhost:9092", "office_input",
                                 max_offsets_per_trigger=1000)
    assert reader is not None  # configured builder; .load() needs the jar


def test_stream_stream_join_equals_batch(spark, staged_events):
    """Two watermarked streams joined on (key, ±gap) must equal the
    batch interval join over the same finite data."""
    from hdfs_stream_processing_spark.operators.temporal import range_join_buckets
    from hdfs_stream_processing_spark.streaming.pipeline import (
        stream_stream_interval_join,
    )

    src_dir, events = staged_events
    clicks_b = events.where(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    buys_b = events.where(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    batch_pairs = {
        (r["event_id"], r["r_event_id"])
        for r in range_join_buckets(clicks_b, buys_b, "user_id", "ts", "ts", 120).collect()
    }

    stream = lambda: stream_parquet_source(spark, src_dir, events.schema)
    clicks_s = stream().where(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    buys_s = (
        stream().where(F.col("event_type") == "purchase")
        .select(F.col("event_id").alias("r_id"), "user_id", F.col("ts").alias("r_ts"))
    )
    joined = stream_stream_interval_join(clicks_s, buys_s, "user_id", "ts", "r_ts", 120)
    out = run_to_memory(joined)
    stream_pairs = {(r["event_id"], r["r_id"]) for r in out.collect()}
    assert stream_pairs == batch_pairs and len(batch_pairs) > 0


def test_foreach_batch_sink(spark, staged_events, tmp_path):
    """foreachBatch: every micro-batch reaches the batch writer; total
    rows written equals the input."""
    from hdfs_stream_processing_spark.streaming.pipeline import run_foreach_batch

    src_dir, events = staged_events
    out_dir = str(tmp_path / "fb_out")

    def write_batch(batch_df, batch_id):
        batch_df.write.mode("append").parquet(out_dir)

    stream = stream_parquet_source(spark, src_dir, events.schema, max_files_per_trigger=2)
    run_foreach_batch(stream, write_batch, str(tmp_path / "fb_ck"))
    assert spark.read.parquet(out_dir).count() == events.count()


def test_foreach_batch_compacting_sink(spark, staged_events, tmp_path):
    """Scheduled compaction ON the ingest path: after the run, the sink
    directory must hold every input row exactly once AND fewer files
    than the micro-batch debris an append-only sink leaves behind."""
    from hdfs_stream_processing_spark.streaming.pipeline import (
        run_foreach_batch_compacting,
    )

    src_dir, events = staged_events
    out_dir = str(tmp_path / "cmp_out")

    stream = stream_parquet_source(spark, src_dir, events.schema, max_files_per_trigger=1)
    # 4 source files / 1 per trigger -> 4 batches; compact every 2nd
    run_foreach_batch_compacting(
        stream, out_dir, str(tmp_path / "cmp_ck"), every_n=2, target_file_mb=128
    )
    back = spark.read.parquet(out_dir)
    assert back.count() == events.count()
    assert sorted(back.select("event_id").collect()) == sorted(
        events.select("event_id").collect()
    )
    # last compaction ran at batch 3 (the final batch): everything fits
    # one 128 MB-budget file, so the debris is gone
    assert len(back.inputFiles()) == 1, back.inputFiles()


def test_stateful_rounding_half_up_on_exact_half_cents(spark, tmp_path):
    """ADVICE r2: pandas .round() is half-to-even, F.round is HALF_UP —
    values landing exactly on .5 cents (0.125, 0.375 are exactly
    representable) must produce the SAME cents in the stateful operator
    as in the batch aggregate, both signs."""
    from pyspark.sql import functions as F

    from hdfs_stream_processing_spark.operators.stateful import running_totals_per_key
    from hdfs_stream_processing_spark.streaming import run_to_memory, stream_parquet_source

    rows = [(1, 0.125), (1, 0.375), (2, -0.125), (2, -0.375)]
    df = spark.createDataFrame(rows, "user_id bigint, value double")
    src = str(tmp_path / "halfsrc")
    df.write.parquet(src)

    stream = stream_parquet_source(spark, src, df.schema)
    out = run_to_memory(running_totals_per_key(stream), output_mode="append")
    got = {r["user_id"]: r["sum_cents"] for r in out.collect()}

    cents = F.round(F.col("value") * F.lit(100.0), 0).cast("long")
    truth = {
        r["user_id"]: r["s"]
        for r in df.groupBy("user_id").agg(F.sum(cents).alias("s")).collect()
    }
    # HALF_UP: 12.5→13, 37.5→38 (half-even would give 12+38=50, not 51)
    assert truth == {1: 51, 2: -51}
    assert got == truth


def test_asof_join_no_blended_rows_on_null_columns(spark):
    """ADVICE r2: a matched right row holding a NULL in one value column
    must deliver THAT NULL — not inherit the column from an older right
    row (the struct carry guarantees all columns come from one row)."""
    import datetime as dt

    from hdfs_stream_processing_spark.operators.temporal import asof_join

    t = lambda m: dt.datetime(2024, 1, 1) + dt.timedelta(minutes=m)
    left = spark.createDataFrame(
        [(1, t(20), 100)], "user_id bigint, ts timestamp, event_id bigint"
    )
    right = spark.createDataFrame(
        [(1, t(5), 7.0, "old"), (1, t(10), None, "new")],
        "user_id bigint, ts timestamp, value double, tag string",
    )
    out = asof_join(left, right, "user_id", "ts", "ts", ["value", "tag"]).collect()[0]
    # the t(10) row matches; its value is NULL and must STAY NULL
    assert out["asof_tag"] == "new" and out["asof_value"] is None


def test_continuous_rollup_matches_batch_and_restart_is_noop(spark, staged_events, tmp_path):
    """Incremental per-batch merges must compose to exactly the one-shot
    GROUP BY (integer cents are additive), and restarting the finished
    stream from its checkpoint must not change the stored table."""
    from hdfs_stream_processing_spark.streaming.pipeline import run_continuous_rollup

    src_dir, events = staged_events
    target, ckpt = str(tmp_path / "rollup"), str(tmp_path / "ckpt")
    stream = stream_parquet_source(spark, src_dir, events.schema, max_files_per_trigger=1)
    run_continuous_rollup(stream, target, ckpt)

    cents = F.round(F.col("value") * F.lit(100.0), 0).cast("long")
    expected = sorted(
        events.select(F.date_trunc("hour", "ts").alias("bucket"), "event_type", cents.alias("c"))
        .groupBy("bucket", "event_type")
        .agg(F.sum("c").alias("sum_cents"), F.count(F.lit(1)).alias("n"))
        .collect()
    )
    got = sorted(
        spark.read.parquet(target)
        .select("bucket", F.col("event_type").cast("string"), "sum_cents", "n")
        .collect()
    )
    assert got == expected

    # restart with the same checkpoint: no new files -> byte-identical table
    stream2 = stream_parquet_source(spark, src_dir, events.schema, max_files_per_trigger=1)
    run_continuous_rollup(stream2, target, ckpt)
    again = sorted(
        spark.read.parquet(target)
        .select("bucket", F.col("event_type").cast("string"), "sum_cents", "n")
        .collect()
    )
    assert again == expected


def test_stream_sessionize_merges_sessions_across_microbatches(spark, tmp_path):
    """session_window state (r5): a session whose events arrive in
    DIFFERENT micro-batches must still come out as ONE merged session —
    the streaming session store widens the window as late fragments
    arrive.  Expected sessions are written by hand, not by re-running
    the batch derivation."""
    from hdfs_stream_processing_spark.streaming import session_window_agg

    src = str(tmp_path / "src")
    schema = "user_id long, ts timestamp, value double"
    batch1 = spark.createDataFrame(
        [(7, "2024-01-01 00:00:00", 1.0),   # session A fragment 1
         (9, "2024-01-01 00:00:00", 5.0)],  # user 9's whole session
        "user_id long, ts string, value double",
    ).select("user_id", F.col("ts").cast("timestamp").alias("ts"), "value")
    batch2 = spark.createDataFrame(
        [(7, "2024-01-01 00:04:00", 2.0),   # extends A (gap 4 < 5 min)
         (7, "2024-01-01 00:20:00", 4.0)],  # new session B (gap 16 min)
        "user_id long, ts string, value double",
    ).select("user_id", F.col("ts").cast("timestamp").alias("ts"), "value")
    batch1.coalesce(1).write.mode("append").parquet(src)
    batch2.coalesce(1).write.mode("append").parquet(src)

    from hdfs_stream_processing_spark.streaming import (
        run_to_memory,
        stream_parquet_source,
    )

    stream = stream_parquet_source(spark, src, batch1.schema, max_files_per_trigger=1)
    out = run_to_memory(
        session_window_agg(stream, gap="5 minutes", watermark="1 hour"),
        output_mode="complete",
    )
    got = {(r["user_id"], str(r["session_start"]), str(r["session_end"]),
            r["n"], r["sum_value"]) for r in out.collect()}
    assert got == {
        (7, "2024-01-01 00:00:00", "2024-01-01 00:09:00", 2, 3.0),
        (7, "2024-01-01 00:20:00", "2024-01-01 00:25:00", 1, 4.0),
        (9, "2024-01-01 00:00:00", "2024-01-01 00:05:00", 1, 5.0),
    }


def test_stream_cdc_merge_deletes_and_replay(spark, tmp_path):
    """Streaming CDC (r6): per-key latest-wins across micro-batches,
    winning deletes tombstone keys so an out-of-order lower-seq change
    in a LATER batch cannot resurrect them, and reprocessing the full
    log over the final table — the worst-case replay — is a no-op
    (content idempotency)."""
    from hdfs_stream_processing_spark.streaming.pipeline import (
        read_cdc_snapshot,
        run_stream_cdc,
    )

    src = str(tmp_path / "cdc_src")
    rows1 = [(1, 1, "U", "a", 0), (2, 1, "U", "b", 1), (3, 1, "U", "c", 0)]
    rows2 = [(1, 3, "U", "a2", 0),   # update k=1
             (2, 3, "D", None, 1),   # delete k=2
             (4, 3, "U", "d", 0)]    # insert k=4
    rows3 = [(2, 2, "U", "late", 1)]  # out-of-order: older than the delete
    schema = "k long, seq long, op string, attr string, bucket int"
    for rows in (rows1, rows2, rows3):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(src)

    target = str(tmp_path / "cdc_target")
    src_df = spark.read.parquet(src)

    def run(ckpt_name):
        stream = (
            spark.readStream.schema(src_df.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        run_stream_cdc(
            stream, target, str(tmp_path / ckpt_name),
            ["k"], ["seq"], "op", "bucket",
        )

    run("ckpt1")
    got = {r["k"]: r["attr"] for r in read_cdc_snapshot(spark, target).collect()}
    # k=2 stays deleted: the seq-2 straggler lost to the seq-3 tombstone
    assert got == {1: "a2", 3: "c", 4: "d"}

    # replay EVERYTHING with a fresh checkpoint over the final table:
    # every batch re-merges, state must not change
    run("ckpt2")
    assert {r["k"]: r["attr"] for r in read_cdc_snapshot(spark, target).collect()} == got

    # resume with the original checkpoint (source exhausted): no-op
    run("ckpt1")
    assert {r["k"]: r["attr"] for r in read_cdc_snapshot(spark, target).collect()} == got


def test_vacuum_cdc_tombstones(spark, tmp_path):
    """Tombstone GC: expired tombstones vanish (including a partition
    holding nothing else — its directory is removed), fresh tombstones
    and live rows survive untouched."""
    from pyspark.sql import functions as F

    from hdfs_stream_processing_spark.streaming.pipeline import (
        read_cdc_snapshot,
        run_stream_cdc,
        vacuum_cdc_tombstones,
    )

    src = str(tmp_path / "src")
    rows = [(1, 1, "U", "a", 0),
            (2, 2, "D", None, 1),   # old delete -> expired tombstone
            (3, 9, "D", None, 2),   # fresh delete -> kept tombstone
            (4, 3, "U", "d", 1)]
    spark.createDataFrame(
        rows, "k long, seq long, op string, attr string, bucket int"
    ).coalesce(1).write.mode("append").parquet(src)
    target = str(tmp_path / "target")
    stream = spark.readStream.schema(
        spark.read.parquet(src).schema
    ).parquet(src)
    run_stream_cdc(stream, target, str(tmp_path / "ckpt"),
                   ["k"], ["seq"], "op", "bucket")

    n = vacuum_cdc_tombstones(spark, target, "bucket", F.col("seq") < 5)
    assert n == 1
    stored = spark.read.parquet(target)
    assert {r["k"] for r in stored.collect()} == {1, 3, 4}  # k=2 GC'd
    assert {r["k"] for r in stored.where("_tombstone").collect()} == {3}
    assert {r["k"]: r["attr"] for r in read_cdc_snapshot(spark, target).collect()} \
        == {1: "a", 4: "d"}
    import os

    assert os.path.exists(os.path.join(target, "bucket=2"))  # fresh tombstone partition
    # bucket=1 still exists: k=4 lives there
    assert os.path.exists(os.path.join(target, "bucket=1"))
    # a second vacuum is a no-op
    assert vacuum_cdc_tombstones(spark, target, "bucket", F.col("seq") < 5) == 0


def test_stream_join_left_outer_emits_null_rows_after_watermark(spark, tmp_path):
    """leftOuter stream-stream join: a left row with no match inside
    ±gap emits with NULL right columns once the watermark passes its
    eviction bound.  The analysis cutoff goes through ``left_filter``
    (post-watermark) so the frontier advances with the SOURCE — a
    filtered-out late frontier row still unlocks the outer emission."""
    import datetime as dt

    from hdfs_stream_processing_spark.streaming.pipeline import (
        stream_stream_interval_join,
    )

    t = lambda m: dt.datetime(2024, 1, 1) + dt.timedelta(minutes=m)
    lsrc, rsrc = str(tmp_path / "l"), str(tmp_path / "r")
    lschema = "event_id bigint, user_id bigint, ts timestamp"
    # data file first, frontier file second: two micro-batches, the
    # frontier batch advances the watermark past the data rows' bounds
    spark.createDataFrame(
        [(1, 1, t(0)), (2, 2, t(1))], lschema
    ).coalesce(1).write.mode("append").parquet(lsrc)
    spark.createDataFrame(
        [(3, 3, t(200))], lschema  # frontier row, excluded by left_filter
    ).coalesce(1).write.mode("append").parquet(lsrc)
    rschema = "r_id bigint, user_id bigint, r_ts timestamp"
    spark.createDataFrame(
        [(101, 1, t(1)), (999, 9, t(300))], rschema
    ).coalesce(1).write.mode("append").parquet(rsrc)

    mk = lambda p, s: spark.readStream.schema(s).option("maxFilesPerTrigger", 1).parquet(p)
    joined = stream_stream_interval_join(
        mk(lsrc, spark.createDataFrame([], lschema).schema),
        mk(rsrc, spark.createDataFrame([], rschema).schema),
        "user_id",
        left_ts="ts",
        right_ts="r_ts",
        max_gap_seconds=120,
        watermark="1 minute",
        how="leftOuter",
        left_filter=F.col("ts") < F.lit(t(100)),
    )
    out = {(r["event_id"], r["r_id"]) for r in run_to_memory(joined).collect()}
    # click 1 converted; click 2 is a proven non-match (NULL right);
    # frontier click 3 is filtered out of the analysis entirely
    assert out == {(1, 101), (2, None)}


def test_chained_window_aggs_state_spans_microbatches(spark, tmp_path):
    """Hourly → daily chained stateful aggregation: rows for one day
    arriving across DIFFERENT micro-batches still fold into a single
    daily row once the watermark closes the day (two state stores,
    watermark propagated through both)."""
    import datetime as dt

    t = lambda d, h: dt.datetime(2024, 1, d, h, 30)
    src = str(tmp_path / "chain")
    schema = "event_id bigint, ts timestamp, v bigint"
    # day 1 split across two files/batches; day 3 frontier closes day 1+2
    spark.createDataFrame(
        [(1, t(1, 0), 10), (2, t(1, 5), 20)], schema
    ).coalesce(1).write.mode("append").parquet(src)
    spark.createDataFrame(
        [(3, t(1, 23), 30), (4, t(2, 1), 40), (5, t(3, 12), 99)], schema
    ).coalesce(1).write.mode("append").parquet(src)

    stream = spark.readStream.schema(
        spark.createDataFrame([], schema).schema
    ).option("maxFilesPerTrigger", 1).parquet(src)
    hourly = (
        stream.withWatermark("ts", "1 minute")
        .groupBy(F.window("ts", "1 hour").alias("hw"))
        .agg(F.sum("v").alias("hv"), F.count(F.lit(1)).alias("hn"))
    )
    daily = hourly.groupBy(F.window("hw", "1 day").alias("dw")).agg(
        F.sum("hv").alias("dv"), F.sum("hn").alias("dn")
    )
    out = {
        r["dw"]["start"].day: (r["dv"], r["dn"])
        for r in run_to_memory(daily, output_mode="append").collect()
    }
    # days 1 and 2 closed (watermark at day 3); day 3 still open
    assert out == {1: (60, 3), 2: (40, 1)}


def test_transform_with_state_parity_or_documented_env_gate(spark, staged_events, tmp_path):
    """Spark 4 transformWithStateInPandas: where the environment can run
    it (RocksDB store + python protobuf), the running-totals contract
    must equal the batch GROUP BY — the same oracle as the
    applyInPandasWithState path.  Without protobuf the query fails in
    the TWS driver worker; assert that documented gate rather than
    silently skipping the API."""
    import importlib.util

    from hdfs_stream_processing_spark.operators.stateful import running_totals_tws
    from hdfs_stream_processing_spark.streaming.pipeline import (
        enable_rocksdb_state,
        restore_confs,
    )

    src_dir, events = staged_events
    stream = stream_parquet_source(spark, src_dir, events.schema)
    totals = running_totals_tws(stream.select("user_id", "value"))
    try:
        have_protobuf = importlib.util.find_spec("google.protobuf") is not None
    except ModuleNotFoundError:  # no 'google' namespace package at all
        have_protobuf = False
    prior = enable_rocksdb_state(spark)
    try:
        if not have_protobuf:
            with pytest.raises(Exception) as exc_info:
                run_to_memory(totals, output_mode="append")
            # the driver-worker crash surfaces as STREAM_FAILED with the
            # TWS operator named; the protobuf ImportError is its cause
            # in the driver log
            msg = str(exc_info.value)
            assert "TransformWithStateInPySpark" in msg or "STREAM_FAILED" in msg
            return
        out = run_to_memory(totals, output_mode="append")
        final = out.groupBy("user_id").agg(
            F.max("n_events").alias("n"),
            F.max_by("sum_cents", "n_events").alias("s"),
        )
        cents = F.round(F.col("value") * F.lit(100.0), 0).cast("long")
        want = events.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n"), F.sum(cents).alias("s")
        )
        assert sorted(map(tuple, final.collect())) == sorted(map(tuple, want.collect()))
    finally:
        restore_confs(spark, prior)


def test_stream_scd2_split_invariance_and_replay(spark, tmp_path):
    """Streaming SCD2 (r6): folding an in-order change log through
    scd2_apply_batch in any batch split yields the same dimension as
    one scd2_build; a replayed batch id is skipped (no new snapshot);
    each step publishes a fresh immutable version."""
    import datetime as dt

    from hdfs_stream_processing_spark.operators.incremental import scd2_build
    from hdfs_stream_processing_spark.sources.io import table_latest_version
    from hdfs_stream_processing_spark.streaming.pipeline import (
        read_scd2_snapshot,
        scd2_apply_batch,
    )

    t0 = dt.datetime(2024, 1, 1)
    log = [
        # key 1: a -> a (suppressed) -> b ; key 2: x only
        (1, t0, 1, "a"), (1, t0 + dt.timedelta(1), 2, "a"),
        (1, t0 + dt.timedelta(2), 3, "b"), (2, t0, 4, "x"),
        # later batch: key 1 repeat b (suppressed), key 2 -> y, key 3 new
        (1, t0 + dt.timedelta(3), 5, "b"), (2, t0 + dt.timedelta(3), 6, "y"),
        (3, t0 + dt.timedelta(3), 7, "n"),
    ]
    schema = "k long, ts timestamp, seq long, attr string"
    full = spark.createDataFrame(log, schema)
    want = sorted(
        scd2_build(full, ["k"], "ts", "attr", ["seq"]).collect(),
        key=lambda r: (r["k"], r["valid_from"]),
    )

    for split in ([4, 7], [2, 4, 7], [7]):
        tdir = str(tmp_path / f"dim_{len(split)}_{split[0]}")
        lo = 0
        for bid, hi in enumerate(split):
            batch = spark.createDataFrame(log[lo:hi], schema)
            assert scd2_apply_batch(
                batch, tdir, ["k"], "ts", "attr", ["seq"], batch_id=bid
            )
            lo = hi
        got = sorted(
            read_scd2_snapshot(spark, tdir).collect(),
            key=lambda r: (r["k"], r["valid_from"]),
        )
        assert got == want, f"split {split}"

    # replay guard: re-applying an absorbed batch id commits nothing
    tdir = str(tmp_path / "dim_3_2")  # the [2, 4, 7] table
    v_before = table_latest_version(spark, tdir)
    batch = spark.createDataFrame(log[4:7], schema)
    assert not scd2_apply_batch(
        batch, tdir, ["k"], "ts", "attr", ["seq"], batch_id=2
    )
    assert table_latest_version(spark, tdir) == v_before
    got = sorted(
        read_scd2_snapshot(spark, tdir).collect(),
        key=lambda r: (r["k"], r["valid_from"]),
    )
    assert got == want


def test_stream_rollup_split_invariance_and_replay(spark, tmp_path):
    """Streaming rollup maintenance (r6): any batch split of the input
    folds to the same count table; a replayed batch id is skipped (no
    double counting)."""
    from hdfs_stream_processing_spark.sources.io import table_latest_version
    from hdfs_stream_processing_spark.streaming.pipeline import rollup_apply_batch
    from hdfs_stream_processing_spark.sources.io import read_table_version

    rows = [("a", "x"), ("a", "x"), ("a", "y"), ("b", "x"),
            ("a", "x"), ("b", "z"), ("b", "z")]
    schema = "g string, t string"

    def partial(df):
        return df.groupBy("g", "t").agg(F.count(F.lit(1)).alias("n"))

    want = {
        (r["g"], r["t"]): r["n"]
        for r in partial(spark.createDataFrame(rows, schema)).collect()
    }
    for split in ([7], [3, 7], [2, 5, 7]):
        tdir = str(tmp_path / f"roll_{len(split)}")
        lo = 0
        for bid, hi in enumerate(split):
            assert rollup_apply_batch(
                partial(spark.createDataFrame(rows[lo:hi], schema)),
                tdir, ["g", "t"], ["n"], batch_id=bid,
            )
            lo = hi
        got = {
            (r["g"], r["t"]): r["n"]
            for r in read_table_version(spark, tdir).drop("_batch").collect()
        }
        assert got == want, f"split {split}"

    # replay guard: same batch id again -> skip, counts unchanged
    tdir = str(tmp_path / "roll_3")
    v = table_latest_version(spark, tdir)
    assert not rollup_apply_batch(
        partial(spark.createDataFrame(rows[5:7], schema)),
        tdir, ["g", "t"], ["n"], batch_id=2,
    )
    assert table_latest_version(spark, tdir) == v
    got = {
        (r["g"], r["t"]): r["n"]
        for r in read_table_version(spark, tdir).drop("_batch").collect()
    }
    assert got == want


def test_stream_golden_split_invariance_and_crash_replay(spark, tmp_path):
    """Streaming golden-record maintenance: folding a document corpus
    through golden_apply_batch in ANY batch split equals the one-shot
    full build; a replayed absorbed batch commits nothing; exactly ONE
    combined snapshot commits per batch (r15 single-commit contract —
    a crash can no longer stamp some tables and not others, because the
    pointer flip is the last step of the one commit); and a
    sidecar-less snapshot's replay guard falls back to the max(_batch)
    scan."""
    from hdfs_stream_processing_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signature_wide,
    )
    from hdfs_stream_processing_spark.operators.graph import connected_components
    from hdfs_stream_processing_spark.queries_advanced import (
        _golden_from_members,
        golden_apply_batch,
    )
    from hdfs_stream_processing_spark.sources.io import (
        read_table_version,
        table_latest_version,
        write_table_version,
    )
    from pyspark.sql import functions as F

    # near-dup structure: docs 1/2/3 share text (one cluster), 4/5
    # another, 6 unique; attributes vote differently per member
    rows = [
        (1, "alpha beta gamma delta epsilon zeta", "en", "web", 36),
        (2, "alpha beta gamma delta epsilon zeta", "en", "book", 36),
        (3, "alpha beta gamma delta epsilon zeta eta", "de", "web", 40),
        (4, "one two three four five six seven", "fr", "web", 34),
        (5, "one two three four five six seven", "fr", "wiki", 34),
        (6, "totally unrelated content here now", "en", "web", 35),
    ]
    ddl = "doc_id bigint, text string, lang string, source string, n_chars bigint"
    full = spark.createDataFrame(rows, ddl)

    sig = minhash_signature_wide(full, "doc_id", "text", 8, 2)
    comp = connected_components(lsh_candidate_pairs(sig, "doc_id", 8, 2, wide=True))
    want = sorted(
        _golden_from_members(
            full.join(comp, full.doc_id == comp.id).select(
                "component", "doc_id", "lang", "source", "n_chars"
            )
        )
        .unionByName(
            full.join(comp, full.doc_id == comp.id, "left_anti").select(
                F.col("doc_id").alias("cluster_id"),
                F.col("doc_id").alias("survivor_id"),
                "lang", "source", F.col("n_chars").cast("long").alias("n_chars"),
            )
        )
        .collect()
    )

    from hdfs_stream_processing_spark.queries_advanced import _golden_slice

    def golden_of(state):
        return sorted(
            _golden_slice(
                read_table_version(spark, state).drop("_batch"), "golden"
            ).collect()
        )

    def run_split(split, tag):
        state = str(tmp_path / f"{tag}_state")
        lo = 0
        for bid, hi in enumerate(split):
            batch = spark.createDataFrame(rows[lo:hi], ddl)
            assert golden_apply_batch(batch, state, bid)
            lo = hi
        return state

    for split in ([6], [3, 6], [2, 4, 6], [1, 2, 3, 4, 5, 6]):
        state = run_split(split, f"s{len(split)}_{split[0]}")
        assert golden_of(state) == want, f"split {split}"
        # single-commit contract: exactly one snapshot per micro-batch
        assert table_latest_version(spark, state) == len(split)

    # replay guard: re-applying an absorbed batch commits nothing
    state = run_split([3, 6], "replay")
    v = table_latest_version(spark, state)
    assert not golden_apply_batch(spark.createDataFrame(rows[3:6], ddl), state, 1)
    assert table_latest_version(spark, state) == v

    # sidecar-less snapshot (pre-r14 layout): replay guard must fall
    # back to the max(_batch) scan — re-commit the same content via a
    # BARE write_table_version (no meta), then replay batch 1
    state = run_split([3, 6], "fallback")
    snap = read_table_version(spark, state)
    write_table_version(spark, snap, state)  # no meta sidecar
    v = table_latest_version(spark, state)
    assert not golden_apply_batch(spark.createDataFrame(rows[3:6], ddl), state, 1)
    assert table_latest_version(spark, state) == v
    assert golden_of(state) == want


def test_stream_golden_state_keeps_last_two_snapshots(spark, tmp_path):
    """The golden state is vacuumed like every maintained table: after
    six single-document batches only the last two snapshots remain,
    and the latest carries the long batch stamp."""
    import os

    from hdfs_stream_processing_spark.queries_advanced import golden_apply_batch
    from hdfs_stream_processing_spark.sources.io import read_table_version

    ddl = "doc_id bigint, text string, lang string, source string, n_chars bigint"
    rows = [
        (i, f"doc {i} alpha beta gamma delta", "en", "web", 24) for i in range(1, 7)
    ]
    state = str(tmp_path / "golden_state")
    for bid, row in enumerate(rows):
        assert golden_apply_batch(spark.createDataFrame([row], ddl), state, bid)
    assert sorted(n for n in os.listdir(state) if n.startswith("v=")) == ["v=5", "v=6"]
    snap = read_table_version(spark, state)
    assert dict(snap.dtypes)["_batch"] == "bigint"
    assert {r[0] for r in snap.select("_batch").distinct().collect()} == {5}


def test_stream_ivf_equals_one_shot_assignment(spark):
    """The stream-maintained IVF index (assignments + per-cell counts,
    replay-guarded) must equal the one-shot batch build."""
    from hdfs_stream_processing_spark.queries import QUERIES

    maintained = QUERIES["stream_ivf"](spark, SF_DIR)
    one_shot = QUERIES["ivf_assign"](spark, SF_DIR)
    m = {r["vec_id"]: (r["cell"], r["cell_count"]) for r in maintained.collect()}
    o = {r["vec_id"]: r["cell"] for r in one_shot.collect()}
    assert len(m) == len(o) > 0
    from collections import Counter

    cell_sizes = Counter(o.values())
    for vec_id, (cell, cell_count) in m.items():
        assert o[vec_id] == cell
        assert cell_count == cell_sizes[cell]
