"""Schema registry + IO round-trip (SURVEY §1.3, S1-S3)."""

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hdfs_stream_processing_spark.schemas import DRIVER_TABLES, ddl_for, schema_for
from hdfs_stream_processing_spark.sources.io import (
    load_table,
    scan_csv_dir,
    schema_checked,
    write_parquet,
)

from tests.conftest import SF_DIR


def test_registry_covers_all_driver_tables():
    expected = {
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    }
    assert set(DRIVER_TABLES) == expected


def test_ddl_round_trips(spark):
    # the spark fixture: _parse_datatype_string needs an active session,
    # without it this test only passed when another file ran first
    for table in DRIVER_TABLES:
        ddl = ddl_for(table)
        parsed = T._parse_datatype_string(ddl)
        assert parsed == schema_for(table), table


def test_load_table_matches_registry(spark):
    for table in ["region", "nation", "orders", "events"]:
        df = load_table(spark, SF_DIR, table)
        schema_checked(df, table)  # raises on drift


def test_load_table_events_ts_is_timestamp(spark):
    df = load_table(spark, SF_DIR, "events")
    assert isinstance(df.schema["ts"].dataType, T.TimestampType)
    row = df.orderBy("event_id").first()
    assert row["ts"].year >= 2020


def test_load_table_memo_does_not_keep_its_session_alive(spark):
    """The per-session plan memo must not outlive its session: each
    memoized DataFrame references the session, so the memo may not be
    held anywhere the session is not."""
    import gc
    import weakref

    other = spark.newSession()
    load_table(other, SF_DIR, "events")
    ref = weakref.ref(other)
    # PySpark pins the most recently built session (its RDD.toDF patch
    # closes over it); building one more moves that pin off ``other``
    spark.newSession()
    del other
    gc.collect()
    assert ref() is None


def test_schema_checked_raises_on_drift(spark):
    df = load_table(spark, SF_DIR, "region").withColumnRenamed("r_name", "oops")
    with pytest.raises(ValueError, match="schema drift"):
        schema_checked(df, "region")


def test_csv_and_parquet_round_trip(tmp_path, spark):
    df = load_table(spark, SF_DIR, "nation")
    csv_dir = str(tmp_path / "nation_csv")
    df.write.option("header", "true").csv(csv_dir)
    back = scan_csv_dir(spark, csv_dir, schema_for("nation"))
    assert sorted(back.collect()) == sorted(df.collect())

    pq_dir = str(tmp_path / "nation_pq")
    write_parquet(df, pq_dir)
    back_pq = spark.read.parquet(pq_dir)
    assert sorted(back_pq.collect()) == sorted(df.collect())


def test_compaction_collapses_small_files(tmp_path, spark):
    """compact_parquet_dir: a 32-fragment directory (streaming-sink
    debris) collapses to the byte-budgeted file count with identical
    content — the periodic rewrite every HDFS streaming deployment runs."""
    from hdfs_stream_processing_spark.sources.io import compact_parquet_dir

    df = load_table(spark, SF_DIR, "events").select("event_id", "user_id", "value")
    frag = str(tmp_path / "frag")
    df.repartition(32).write.parquet(frag)
    assert len(spark.read.parquet(frag).inputFiles()) >= 32

    out = str(tmp_path / "compact")
    n_out = compact_parquet_dir(spark, frag, out, target_file_mb=128)
    assert n_out == 1  # tiny table, one 128 MB budget file
    assert sorted(spark.read.parquet(out).collect()) == sorted(df.collect())


def test_compaction_partitioned_layout(tmp_path, spark):
    from hdfs_stream_processing_spark.sources.io import compact_parquet_dir

    df = load_table(spark, SF_DIR, "events").select("event_id", "event_type", "value")
    frag = str(tmp_path / "pfrag")
    df.repartition(16).write.parquet(frag)
    out = str(tmp_path / "pcompact")
    compact_parquet_dir(spark, frag, out, target_file_mb=128, partition_by=["event_type"])
    back = spark.read.parquet(out)
    assert sorted(back.select("event_id", "event_type", "value").collect()) == sorted(df.collect())
    # partition pruning engages on the compacted layout
    assert back.where(F.col("event_type") == "click").count() == df.where(
        F.col("event_type") == "click"
    ).count()


def test_upsert_partitioned_scopes_blast_radius(tmp_path, spark):
    """MERGE-style upsert: updates win over existing rows, new keys
    insert, duplicate updates resolve by order_col — and partitions the
    update batch does NOT touch keep their exact files (the 100 TB
    blast-radius contract of dynamic partition overwrite)."""
    from hdfs_stream_processing_spark.sources.io import upsert_partitioned

    target = str(tmp_path / "tgt")
    base = spark.createDataFrame(
        [(1, "click", 10.0, 1), (2, "click", 20.0, 1), (3, "purchase", 30.0, 1)],
        "id bigint, etype string, value double, ver bigint",
    )
    base.write.partitionBy("etype").parquet(target)
    before = {
        f for f in spark.read.parquet(target).inputFiles() if "etype=purchase" in f
    }

    updates = spark.createDataFrame(
        [(1, "click", 11.0, 2), (1, "click", 12.0, 3), (9, "click", 90.0, 2)],
        "id bigint, etype string, value double, ver bigint",
    )
    upsert_partitioned(spark, target, updates, ["id"], "etype", "ver")

    got = {r["id"]: r["value"] for r in spark.read.parquet(target).collect()}
    # id=1 updated (ver 3 wins over ver 2), id=9 inserted, id=2/3 intact
    assert got == {1: 12.0, 2: 20.0, 3: 30.0, 9: 90.0}
    after = {
        f for f in spark.read.parquet(target).inputFiles() if "etype=purchase" in f
    }
    assert after == before  # untouched partition: identical files


def test_bucketed_join_has_zero_exchanges(spark, tmp_path):
    """write_bucketed's 100 TB claim, proven on the plan: two tables
    bucketed+sorted on the join key sort-merge-join with NO shuffle and
    NO sort — the exchange was paid once at write time."""
    import uuid

    from hdfs_stream_processing_spark.sources.io import write_bucketed

    events = load_table(spark, SF_DIR, "events")
    a = events.select("event_id", "user_id", "value")
    b = events.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    suffix = uuid.uuid4().hex[:8]
    ta, tb = f"bkt_a_{suffix}", f"bkt_b_{suffix}"
    try:
        write_bucketed(a, ta, ["user_id"], num_buckets=8, sort_cols=["user_id"])
        write_bucketed(b, tb, ["user_id"], num_buckets=8, sort_cols=["user_id"])
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", None)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = spark.table(ta).join(spark.table(tb), "user_id")
            n = joined.count()
            plan = joined._jdf.queryExecution().executedPlan().toString()
        finally:
            if old is not None:
                spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
            else:
                spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        assert n == a.count()  # every event row matched its user's stats
        assert "Exchange" not in plan, plan  # co-located: no shuffle at all
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {ta}")
        spark.sql(f"DROP TABLE IF EXISTS {tb}")


def test_versioned_table_commit_time_travel_vacuum(spark, tmp_path):
    """Snapshot protocol: each commit is an immutable v= dir behind an
    atomically-renamed pointer; old versions stay readable (time
    travel) until vacuumed, and vacuum never touches the published or
    retained snapshots."""
    from hdfs_stream_processing_spark.sources.io import (
        read_table_version,
        table_latest_version,
        vacuum_table_versions,
        write_table_version,
    )

    tdir = str(tmp_path / "vt")
    assert table_latest_version(spark, tdir) is None
    d1 = spark.range(3).withColumnRenamed("id", "k")
    d2 = spark.range(5).withColumnRenamed("id", "k")
    d3 = spark.range(7).withColumnRenamed("id", "k")
    assert write_table_version(spark, d1, tdir) == 1
    assert write_table_version(spark, d2, tdir) == 2
    assert write_table_version(spark, d3, tdir) == 3
    assert table_latest_version(spark, tdir) == 3
    # pointer reads latest; any retained version readable explicitly
    assert read_table_version(spark, tdir).count() == 7
    assert read_table_version(spark, tdir, version=1).count() == 3
    removed = vacuum_table_versions(spark, tdir, keep_last=2)
    assert removed == [1]
    assert read_table_version(spark, tdir, version=2).count() == 5
    assert read_table_version(spark, tdir).count() == 7
    import pytest
    with pytest.raises(Exception):
        read_table_version(spark, tdir, version=1).count()


def test_vacuum_removes_exactly_old_versions_with_one_listing(spark, tmp_path):
    """Over 40 commits, with a version gap and stray ``_latest.tmp`` and
    ``v=abc`` entries, vacuum removes exactly the snapshots
    ``<= latest - keep_last``, returns them sorted, and leaves every
    other entry of the table directory alone."""
    import os
    import shutil

    from hdfs_stream_processing_spark.sources.io import (
        read_table_version,
        vacuum_table_versions,
        write_table_version,
    )

    tdir = str(tmp_path / "vt")
    for i in range(40):
        write_table_version(spark, spark.range(i + 1), tdir)
    shutil.rmtree(os.path.join(tdir, "v=10"))  # gap
    os.mkdir(os.path.join(tdir, "v=abc"))
    with open(os.path.join(tdir, "_latest.tmp"), "w") as f:
        f.write("41")
    before = set(os.listdir(tdir))

    removed = vacuum_table_versions(spark, tdir, keep_last=3)
    assert removed == [v for v in range(1, 38) if v != 10]
    assert set(os.listdir(tdir)) == before - {f"v={v}" for v in removed}
    assert {"v=38", "v=39", "v=40", "v=abc", "_latest", "_latest.tmp"} <= before
    assert read_table_version(spark, tdir).count() == 40
    assert read_table_version(spark, tdir, 38).count() == 38
    assert vacuum_table_versions(spark, tdir, keep_last=3) == []
    assert vacuum_table_versions(spark, tdir, keep_last=1) == [38, 39]


def test_commit_skips_snapshot_orphaned_before_pointer_flip(spark, tmp_path):
    """Crash window (a): a crash after ``v=<n>/data`` is written but
    before the pointer flip leaves an orphan snapshot.  The retried
    commit must take the next free version instead of failing on the
    existing path, publish the new rows, and a later vacuum retires
    the orphan."""
    import os

    from hdfs_stream_processing_spark.sources.io import (
        read_table_version,
        table_latest_version,
    )
    from hdfs_stream_processing_spark.streaming.pipeline import rollup_apply_batch

    tdir = str(tmp_path / "roll")
    batch = spark.createDataFrame([("a", 2), ("b", 1)], "k string, n long")
    assert rollup_apply_batch(batch, tdir, ["k"], ["n"], batch_id=0)
    # batch 1 crashed after its data write: v=2/data exists, unpublished
    spark.createDataFrame([("zz", 99)], "k string, n long").write.parquet(
        f"{tdir}/v=2/data"
    )
    assert table_latest_version(spark, tdir) == 1

    assert rollup_apply_batch(batch, tdir, ["k"], ["n"], batch_id=1)
    assert table_latest_version(spark, tdir) == 3
    got = {r["k"]: r["n"] for r in read_table_version(spark, tdir).collect()}
    assert got == {"a": 4, "b": 2}

    assert rollup_apply_batch(batch, tdir, ["k"], ["n"], batch_id=2)
    assert sorted(n for n in os.listdir(tdir) if n.startswith("v=")) == ["v=3", "v=4"]


def test_commit_recovers_pointer_lost_between_delete_and_rename(spark, tmp_path):
    """Crash window (b): a crash after the old ``_latest`` is deleted
    but before ``_latest.tmp`` is renamed over it leaves no pointer.
    The table must still resolve to the new snapshot from the complete
    ``_latest.tmp``, so a replay of the committed batch is skipped
    instead of re-bootstrapping from the batch alone and losing the
    state; an empty ``_latest.tmp`` alone counts as no pointer."""
    import os

    from hdfs_stream_processing_spark.sources.io import (
        read_table_version,
        table_latest_version,
        write_table_version,
    )
    from hdfs_stream_processing_spark.streaming.pipeline import rollup_apply_batch

    def state(tdir):
        return {r["k"]: r["n"] for r in read_table_version(spark, tdir).collect()}

    tdir = str(tmp_path / "roll")
    batch = spark.createDataFrame([("a", 2), ("b", 1)], "k string, n long")
    assert rollup_apply_batch(batch, tdir, ["k"], ["n"], batch_id=0)
    assert rollup_apply_batch(batch, tdir, ["k"], ["n"], batch_id=1)
    # batch 2 crashed after v=3's data, sidecar and _latest.tmp were
    # written and the old _latest was deleted, before the rename
    v3 = spark.createDataFrame([("a", 6), ("b", 3)], "k string, n long")
    assert write_table_version(spark, v3, tdir, meta={"batch": 2}) == 3
    os.rename(f"{tdir}/_latest", f"{tdir}/_latest.tmp")
    if os.path.exists(f"{tdir}/._latest.crc"):  # local-fs checksum file
        os.rename(f"{tdir}/._latest.crc", f"{tdir}/._latest.tmp.crc")
    assert table_latest_version(spark, tdir) == 3

    assert not rollup_apply_batch(batch, tdir, ["k"], ["n"], batch_id=2)
    assert state(tdir) == {"a": 6, "b": 3}
    assert rollup_apply_batch(batch, tdir, ["k"], ["n"], batch_id=3)
    assert table_latest_version(spark, tdir) == 4
    assert os.path.exists(f"{tdir}/_latest")
    assert state(tdir) == {"a": 8, "b": 4}

    # a crash inside the first commit's pointer write: empty _latest.tmp
    fresh = tmp_path / "fresh"
    fresh.mkdir()
    (fresh / "_latest.tmp").write_text("")
    assert table_latest_version(spark, str(fresh)) is None
    assert rollup_apply_batch(batch, str(fresh), ["k"], ["n"], batch_id=0)
    assert state(str(fresh)) == {"a": 2, "b": 1}


def test_corrupt_json_lines_are_quarantined_not_dropped(spark):
    """PERMISSIVE JSON scan: every malformed line lands in
    _corrupt_record (count preserved), no valid row is lost, and the
    corrupt payloads carry the original text for forensics."""
    import pyspark.sql.functions as F
    from pyspark.sql import types as T

    import hdfs_stream_processing_spark.queries as Q
    from hdfs_stream_processing_spark.queries_incremental import _stage_corrupt_json
    from hdfs_stream_processing_spark.sources.io import load_table

    sf = "/root/testdata/sf0.001"
    # Spark disallows count()-style plans whose only referenced column is
    # the internal corrupt column (SPARK-21610); materialize via collect
    # of real columns, the same access pattern the driver gate uses.
    good = Q.QUERIES["scan_corrupt"](spark, sf).collect()
    events = load_table(spark, sf, "events")
    n_bad_expected = events.where(F.col("event_id") % 7 == 0).count()
    assert len(good) == events.count() - n_bad_expected

    stage = _stage_corrupt_json(spark, sf)
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("_corrupt_record", T.StringType()),
        ]
    )
    parsed = spark.read.schema(schema).option("mode", "PERMISSIVE").json(stage)
    bad = parsed.where(F.col("_corrupt_record").isNotNull()).select(
        "event_id", "_corrupt_record"
    ).collect()
    assert len(bad) == n_bad_expected
    assert all(r["_corrupt_record"].startswith('{"event_id"') for r in bad)
