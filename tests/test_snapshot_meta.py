"""Snapshot commit sidecar ``v=<n>/_meta.json``.

``write_table_version`` always writes the sidecar.  It records the
snapshot's schema, so ``read_table_version`` reads with a declared
schema and starts no footer-inference job, and the caller's ``meta``
(the streaming batch id), so replay guards resolve it with one
driver-side file read instead of a Spark job per table per
micro-batch.  Older layouts still read: r14 sidecars hold the bare
caller ``meta`` dict, and pre-r14 snapshots have no sidecar, where
every guard falls back to the ``max(_batch)`` scan.
"""

from __future__ import annotations

import datetime
import decimal
import json
import os

import pytest
from pyspark.sql import functions as F
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


def test_rollup_replay_guard_without_sidecar(spark, tmp_path):
    """A snapshot committed without ``meta`` must still arm the replay
    guard through the max(_batch) fallback scan."""
    from hdfs_stream_processing_spark.sources.io import (
        read_table_version,
        table_latest_version,
        write_table_version,
    )
    from hdfs_stream_processing_spark.streaming.pipeline import rollup_apply_batch

    tdir = str(tmp_path / "roll")
    # data carries _batch, the sidecar no batch id
    seed = spark.createDataFrame([("a", 2)], "k string, n long").withColumn(
        "_batch", F.lit(0).cast("long")
    )
    write_table_version(spark, seed, tdir)

    batch = spark.createDataFrame([("a", 3), ("b", 1)], "k string, n long")
    # replay of batch 0 must be skipped via the fallback scan
    assert not rollup_apply_batch(batch, tdir, ["k"], ["n"], batch_id=0)
    assert table_latest_version(spark, tdir) == 1
    # batch 1 folds in and commits WITH the sidecar
    assert rollup_apply_batch(batch, tdir, ["k"], ["n"], batch_id=1)
    from hdfs_stream_processing_spark.sources.io import table_version_meta

    assert table_version_meta(spark, tdir, 2) == {"batch": 1}
    got = {
        r["k"]: r["n"]
        for r in read_table_version(spark, tdir).drop("_batch").collect()
    }
    assert got == {"a": 5, "b": 1}
    # replaying batch 1 is now guarded by the sidecar alone
    assert not rollup_apply_batch(batch, tdir, ["k"], ["n"], batch_id=1)


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


def _plant_legacy_sidecar(tdir: str, v: int, doc: dict | None) -> None:
    """Rewrite snapshot ``v``'s sidecar in an older layout: ``None``
    removes it (pre-r14), a dict replaces it with that bare dict (r14).
    The Hadoop local FS checksum file goes with it."""
    vdir = os.path.join(tdir, f"v={v}")
    for name in ("_meta.json", "._meta.json.crc"):
        os.remove(os.path.join(vdir, name))
    if doc is not None:
        with open(os.path.join(vdir, "_meta.json"), "w") as f:
            json.dump(doc, f)


@pytest.mark.parametrize(
    "legacy", [None, {"batch": 0}], ids=["no_sidecar", "bare_dict_sidecar"]
)
def test_legacy_sidecar_layouts_read_and_guard(spark, tmp_path, legacy):
    """Snapshots whose sidecar predates the schema record still read
    (schema inferred from the footers) and still arm the replay
    guard: from the bare meta dict, or from the max(_batch) scan."""
    from hdfs_stream_processing_spark.sources.io import (
        read_table_version,
        table_latest_version,
        table_version_meta,
    )
    from hdfs_stream_processing_spark.streaming.pipeline import rollup_apply_batch

    tdir = str(tmp_path / "roll")
    batch = spark.createDataFrame([("a", 3), ("b", 1)], "k string, n long")
    assert rollup_apply_batch(batch, tdir, ["k"], ["n"], batch_id=0)
    _plant_legacy_sidecar(tdir, 1, legacy)

    assert table_version_meta(spark, tdir) == legacy
    snap = read_table_version(spark, tdir)
    assert snap.schema == spark.read.parquet(f"{tdir}/v=1/data").schema
    assert {r["k"]: r["n"] for r in snap.collect()} == {"a": 3, "b": 1}

    assert not rollup_apply_batch(batch, tdir, ["k"], ["n"], batch_id=0)
    assert table_latest_version(spark, tdir) == 1
    assert rollup_apply_batch(batch, tdir, ["k"], ["n"], batch_id=1)
    assert table_version_meta(spark, tdir) == {"batch": 1}
    got = {
        r["k"]: r["n"]
        for r in read_table_version(spark, tdir).drop("_batch").collect()
    }
    assert got == {"a": 6, "b": 2}
