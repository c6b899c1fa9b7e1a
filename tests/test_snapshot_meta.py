"""Snapshot commit sidecar ``v=<n>/_meta.json``.

``write_table_version`` always writes the sidecar, and it is the only
record of a commit's facts.  It holds the snapshot's schema, so
``read_table_version`` reads with a declared schema and starts no
footer-inference job, and the caller's ``meta``: for a maintained-state
table the committed batch id, which the replay guard reads with one
driver-side file read before any snapshot is read.  The batch id is
not a column of the data.
"""

from __future__ import annotations

import datetime
import decimal
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
