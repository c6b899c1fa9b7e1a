"""Snapshot commit sidecar ``v=<n>/_meta.json``, and the small-state
routes of a maintained-state commit.

``write_table_version`` always writes the sidecar, and it is the only
record of a commit's facts.  It holds the snapshot's schema, so
``read_table_version`` reads with a declared schema and starts no
footer-inference job, and the caller's ``meta``: for a maintained-state
table the committed batch id, which the replay guard reads with one
driver-side file read before any snapshot is read.  The batch id is
not a column of the data.

Small state (under the session's broadcast threshold) merges in one
partition and is written by the driver from Arrow; the threshold at -1
forces the distributed routes.  Both commit the same snapshot.
"""

from __future__ import annotations

import contextlib
import datetime
import decimal
import json
import os

import pytest
from pyspark.sql import types as T

from hdfs_stream_processing_spark import get_spark


@pytest.fixture(scope="module")
def spark():
    return get_spark(app_name="test-snapshot-meta", cpus=4)


def test_meta_roundtrip_and_absence(spark, tmp_path):
    from hdfs_stream_processing_spark.sources.io import (
        read_table_version,
        table_version_meta,
        write_table_version,
    )

    tdir = str(tmp_path / "t")
    d = spark.createDataFrame([(1, 10)], "k int, v int")
    assert write_table_version(spark, d, tdir, meta={"batch": 0}) == 1
    assert write_table_version(spark, d, tdir) == 2  # no caller meta
    assert write_table_version(spark, d, tdir, meta={"batch": 7, "x": "y"}) == 3

    assert table_version_meta(spark, tdir, 1) == {"batch": 0}
    assert table_version_meta(spark, tdir, 2) is None
    assert table_version_meta(spark, tdir) == {"batch": 7, "x": "y"}  # latest
    assert table_version_meta(spark, str(tmp_path / "nope")) is None
    # the sidecar never leaks into the data
    assert read_table_version(spark, tdir, 3).columns == ["k", "v"]


def test_missing_sidecar_raises(spark, tmp_path):
    """Every published snapshot has a sidecar; reading one without it
    is an error, not a fallback."""
    from hdfs_stream_processing_spark.sources.io import (
        read_table_version,
        table_version_meta,
        write_table_version,
    )

    tdir = str(tmp_path / "t")
    write_table_version(spark, spark.createDataFrame([(1,)], "k int"), tdir, {"batch": 0})
    os.remove(os.path.join(tdir, "v=1", "_meta.json"))
    with pytest.raises(FileNotFoundError, match="_meta.json"):
        read_table_version(spark, tdir)
    with pytest.raises(FileNotFoundError, match="_meta.json"):
        table_version_meta(spark, tdir)


def test_rollup_snapshot_is_the_merge_and_replay_reads_only_the_sidecar(
    spark, tmp_path
):
    """The snapshot ``rollup_apply_batch`` commits has exactly the
    merge's columns, its batch id lives in the sidecar, and a replay is
    skipped from the sidecar alone: with the snapshot's data gone it
    still skips, and starts no Spark job."""
    import shutil

    from hdfs_stream_processing_spark.sources.io import (
        read_table_version,
        table_latest_version,
        table_version_meta,
    )
    from hdfs_stream_processing_spark.streaming.pipeline import rollup_apply_batch

    tdir = str(tmp_path / "roll")
    batch = spark.createDataFrame([("a", 3), ("b", 1)], "k string, n long")
    assert rollup_apply_batch(batch, tdir, ["k"], ["n"], batch_id=0)
    assert rollup_apply_batch(batch, tdir, ["k"], ["n"], batch_id=1)
    snap = read_table_version(spark, tdir)
    assert snap.columns == ["k", "n"]
    assert {r["k"]: r["n"] for r in snap.collect()} == {"a": 6, "b": 2}
    assert table_version_meta(spark, tdir) == {"batch": 1}

    shutil.rmtree(os.path.join(tdir, "v=2", "data"))
    sc = spark.sparkContext
    sc.setJobGroup("replay_guard", "replay an absorbed batch")
    try:
        for bid in (0, 1):
            assert not rollup_apply_batch(batch, tdir, ["k"], ["n"], batch_id=bid)
    finally:
        sc.setJobGroup(None, None)
    assert list(sc.statusTracker().getJobIdsForGroup("replay_guard")) == []
    assert table_latest_version(spark, tdir) == 2


@pytest.mark.parametrize("meta", [None, {"x": 1}], ids=["no_meta", "meta_without_batch"])
def test_commit_on_a_snapshot_without_batch_raises(spark, tmp_path, meta):
    """A latest snapshot whose sidecar records no ``batch`` was not
    committed by ``apply_versioned_batch``: its replay guard has
    nothing to compare against, so the commit raises, naming the
    table, and publishes nothing."""
    from hdfs_stream_processing_spark.sources.io import (
        apply_versioned_batch,
        table_latest_version,
        write_table_version,
    )

    tdir = str(tmp_path / "plain")
    d = spark.createDataFrame([(1, 10)], "k int, v int")
    write_table_version(spark, d, tdir, meta=meta)
    with pytest.raises(ValueError, match="plain"):
        apply_versioned_batch(spark, tdir, 0, lambda existing: d)
    assert table_latest_version(spark, tdir) == 1


def test_recorded_schema_round_trip_starts_no_job(spark, tmp_path):
    """Every column type a snapshot commonly holds, nullable or not and
    with nulls in the data, reads back through the recorded schema
    with the same schema and rows as a footer-inferred read of the
    same directory, and the read itself starts no Spark job."""
    from hdfs_stream_processing_spark.sources.io import (
        read_table_version,
        write_table_version,
    )

    schema = T.StructType([
        T.StructField("s", T.StringType(), False),
        T.StructField("l", T.LongType(), True),
        T.StructField("d", T.DoubleType(), True),
        T.StructField("ts", T.TimestampType(), True),
        T.StructField("arr", T.ArrayType(T.LongType(), True), True),
        T.StructField("dec", T.DecimalType(20, 4), True),
    ])
    ts = datetime.datetime(2024, 2, 29, 23, 59, 59, 123456)
    rows = [
        ("a", 1, 0.5, ts, [1, None, 3], decimal.Decimal("12345678901234.5678")),
        ("b", None, None, None, None, None),
        ("c", -(2**62), 1e300, ts, [], decimal.Decimal("-0.0001")),
    ]
    tdir = str(tmp_path / "t")
    write_table_version(spark, spark.createDataFrame(rows, schema), tdir)

    sc = spark.sparkContext
    sc.setJobGroup("snapshot_read", "read the committed snapshot")
    try:
        got = read_table_version(spark, tdir)
    finally:
        sc.setJobGroup(None, None)
    assert list(sc.statusTracker().getJobIdsForGroup("snapshot_read")) == []
    inferred = spark.read.parquet(f"{tdir}/v=1/data")
    assert got.schema == inferred.schema
    assert sorted(got.collect()) == sorted(inferred.collect())


@contextlib.contextmanager
def _session_conf(spark, conf: dict[str, str]):
    """Set session conf keys for the block, then restore them."""
    old = {k: spark.conf.get(k, None) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


#: Forces the distributed routes: broadcast off means nothing is small.
SPARK_ROUTE = {"spark.sql.autoBroadcastJoinThreshold": "-1"}

#: One row per shape: values, nulls everywhere, edge values.  A SQL
#: VALUES table plans as a local relation with a size estimate; a
#: ``createDataFrame`` of Python rows has none and takes the Spark
#: routes.
ROUTE_ROWS = """
SELECT * FROM VALUES
  (1, 4611686018427387904L, 1e300D, 12345678.91BD,
   CAST('12345678901234567890.123456789012345678' AS DECIMAL(38,18)), 'ä', X'00FF',
   true, DATE'1000-01-01', TIMESTAMP'2024-02-29 23:59:59.123456',
   TIMESTAMP_NTZ'1969-12-31 23:59:59', ARRAY(1L, NULL, 3L),
   MAP('x', 1.5D, 'y', CAST(NULL AS DOUBLE)), NAMED_STRUCT('a', 7, 'z', CAST(NULL AS STRING))),
  (2, NULL, NULL, NULL, NULL, '', NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL),
  (3, -9223372036854775808L, -0.0D, -0.01BD, CAST(0 AS DECIMAL(38,18)), 'c', X'',
   false, DATE'2024-02-29', TIMESTAMP'1970-01-01 00:00:00',
   TIMESTAMP_NTZ'2024-02-29 23:59:59.123456', ARRAY(), MAP(), NAMED_STRUCT('a', -1, 'z', 'z'))
  AS t(id, l, d, dec10, dec38, s, b, flag, day, ts, ntz, arr, m, st)
"""
ROUTE_TYPES = [
    "int", "bigint", "double", "decimal(10,2)", "decimal(38,18)", "string", "binary",
    "boolean", "date", "timestamp", "timestamp_ntz", "array<bigint>",
    "map<string,double>", "struct<a:int,z:string>",
]


def _route_rows(spark):
    df = spark.sql(ROUTE_ROWS)
    assert [f.dataType.simpleString() for f in df.schema] == ROUTE_TYPES
    assert not df.schema["id"].nullable and df.schema["l"].nullable
    return df


def _commit_by_both_routes(spark, tmp_path, df):
    """Commit ``df`` once by each write route; returns the two table
    dirs, after checking which route wrote each."""
    from hdfs_stream_processing_spark.sources.io import write_table_version

    driver, dist = str(tmp_path / "driver"), str(tmp_path / "spark")
    write_table_version(spark, df, driver)
    # a Spark write of pre-1582 dates raises under the default rebase mode
    with _session_conf(
        spark, {**SPARK_ROUTE, "spark.sql.parquet.datetimeRebaseModeInWrite": "CORRECTED"}
    ):
        write_table_version(spark, df, dist)

    def files(d):  # without the local file system's .crc files
        return sorted(n for n in os.listdir(f"{d}/v=1/data") if not n.startswith("."))

    assert files(driver) == ["part-00000.parquet"]
    assert "_SUCCESS" in files(dist)
    return driver, dist


def _sidecar_schema(table_dir):
    with open(os.path.join(table_dir, "v=1", "_meta.json")) as f:
        return json.load(f)["schema"]


@pytest.mark.parametrize(
    "tz, where",
    [("UTC", "true"), ("America/New_York", "true"), ("UTC", "false")],
    ids=["utc", "new_york", "empty"],
)
def test_driver_and_spark_write_routes_read_back_equal(spark, tmp_path, tz, where):
    """Every column type a snapshot commonly holds — nested, nullable or
    not, with nulls and a pre-1582 date, or no rows at all — commits
    through the driver route and through the Spark route to snapshots
    that read back with the same schema and rows, and the two sidecars
    record the same schema with its nullability.  Under a non-UTC
    session time zone too: the driver's Arrow encoding carries
    instants, not wall clocks."""
    from hdfs_stream_processing_spark.sources.io import read_table_version

    with _session_conf(spark, {"spark.sql.session.timeZone": tz}):
        df = _route_rows(spark).where(where)
        driver, dist = _commit_by_both_routes(spark, tmp_path, df)
        assert _sidecar_schema(driver) == _sidecar_schema(dist) == df.schema.jsonValue()
        got = {d: read_table_version(spark, d) for d in (driver, dist)}
        assert got[driver].schema == got[dist].schema
        want = df.orderBy("id").collect()
        assert len(want) == (3 if where == "true" else 0)
        for snap in got.values():
            assert snap.orderBy("id").collect() == want


def test_rollup_merge_is_one_partition_when_small(spark, caplog):
    """Under the broadcast threshold the merge coalesces its union to
    one partition, so nothing shuffles above the union — only the batch
    partial's own exchange below it remains.  With the threshold at -1
    the merge keeps its exchange on the key.  Both give the same rows,
    and each decision is logged at DEBUG."""
    from pyspark.sql import functions as F

    from hdfs_stream_processing_spark.operators.incremental import rollup_merge_mixed
    from hdfs_stream_processing_spark.plans import physical_plan

    def merged():
        existing = spark.sql("SELECT * FROM VALUES ('0', 1L, 5L), ('9', 2L, 7L) AS t(k, n, lo)")
        partial = (
            spark.range(40)
            .select((F.col("id") % 3).cast("string").alias("k"), F.col("id").alias("x"))
            .groupBy("k")
            .agg(F.count("*").alias("n"), F.min("x").alias("lo"))
        )
        return rollup_merge_mixed(existing, partial, ["k"], {"n": "sum", "lo": "min"})

    def exchanges_above_union(df):
        above = physical_plan(df).split("Union")[0]
        return above.count("Exchange hashpartitioning")

    logger = "hdfs_stream_processing_spark.operators.incremental"
    with caplog.at_level("DEBUG", logger=logger):
        small = merged()
        with _session_conf(spark, SPARK_ROUTE):
            big = merged()
            assert exchanges_above_union(big) == 1
            want = sorted(big.collect())
    assert exchanges_above_union(small) == 0
    assert sorted(small.collect()) == want
    routes = [r.getMessage().split()[1] for r in caplog.records if r.name == logger]
    assert routes == ["route=one_partition", "route=shuffle"]
