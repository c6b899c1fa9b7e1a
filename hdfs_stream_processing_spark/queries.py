"""Named query surface: every operator from SURVEY §2 as an oracle-checked query.

Each query is a ``(spark, sf_dir) -> DataFrame`` callable built from the
package's operators, paired (in ORACLES) with ANSI SQL that DuckDB runs on
the same parquet tables.  The driver hash-compares values, so every query
here is engineered to be **bit-exact across engines**:

- double aggregates go through exact integer cents
  (``round(x*100)`` → decimal sum → one final division of exact operands);
- rankings/limits always carry a unique-key tiebreak (total order);
- hashing uses md5 (identical in Spark and DuckDB);
- timestamps stay µs-precision with a UTC session timezone.

Column aliases match between the Spark plan and the oracle SQL 1:1 — the
driver sorts columns by name before hashing.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from hdfs_stream_processing_spark.functions.timefn import epoch_to_ts, ts_to_string
from hdfs_stream_processing_spark.functions.wire import to_wire
from hdfs_stream_processing_spark.operators import (
    add_lit,
    case_when,
    count_rows,
    drop_nulls,
    group_agg,
    multi_join,
    project_exclude,
    rollup_agg,
    sort_by,
    top_k,
    union_by_name,
    window_rank,
)
from hdfs_stream_processing_spark.operators.aggregates import approx_distinct
from hdfs_stream_processing_spark.operators.text import FOLD_DST, FOLD_SRC
from hdfs_stream_processing_spark.sources.io import load_table

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}

TS_FMT_SPARK = "yyyy-MM-dd HH:mm:ss.SSSSSS"
TS_FMT_DUCK = "%Y-%m-%d %H:%M:%S.%f"


def sql_fold(expr: str) -> str:
    """DuckDB-side mirror of operators.text.ascii_fold (asciifolding):
    the SAME fold table and ß→ss replace, so analyzer-path oracles stay
    bit-identical on accented text."""
    return f"translate(replace({expr}, 'ß', 'ss'), '{FOLD_SRC}', '{FOLD_DST}')"


def query(name: str, oracle: str | None = None):
    """Register a query (and optionally its DuckDB oracle SQL)."""

    def deco(fn: QueryFn) -> QueryFn:
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


from contextlib import contextmanager
import atexit
import functools
import os
import shutil
import tempfile

_REUSED_DIRS: dict = {}
_PROC_ROOT: str | None = None


def _mkdtemp(prefix: str, memo_key: object = None) -> str:
    """Scratch dirs under the repo's ``.tmp/`` (the system /tmp is not
    ours).  With ``memo_key`` the dir is reused per (prefix, key) — for
    the few queries that keep writing into one dir across calls
    (time_travel's versioned table, bucketed_join's external tables).
    Staged inputs go through :func:`_stage_once` instead.

    Every dir lives under one per-process root, made on the first call
    and removed when that process exits.  The exit hook is registered
    then, not at import, and checks the pid it was registered in, so
    neither a Python worker that imports this module nor a forked child
    removes the dirs of the process that made them."""
    global _PROC_ROOT
    if memo_key is not None:
        if (prefix, memo_key) not in _REUSED_DIRS:
            _REUSED_DIRS[(prefix, memo_key)] = _mkdtemp(prefix)
        return _REUSED_DIRS[(prefix, memo_key)]
    if _PROC_ROOT is None:
        base = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".tmp")
        os.makedirs(base, exist_ok=True)
        _PROC_ROOT = tempfile.mkdtemp(prefix=f"hsp_pid{os.getpid()}_", dir=base)
        atexit.register(_remove_proc_root, _PROC_ROOT, os.getpid())
    return tempfile.mkdtemp(prefix=prefix, dir=_PROC_ROOT)


def _remove_proc_root(root: str, pid: int) -> None:
    if os.getpid() == pid:
        shutil.rmtree(root, ignore_errors=True)


_STAGE_CACHE: dict = {}


def _stage_once(stager: Callable[..., None]) -> Callable[..., str]:
    """Stage an immutable query input once per process (the paper's
    download → HDFS put, after which every job only reads it).

    ``stager(out, spark, *args)`` writes the input into the empty dir
    ``out``; the decorated ``stager(spark, *args)`` returns that dir.
    The memo key is the stager's qualified name plus ``args`` (not the
    session), so pass arguments positionally.  Each attempt writes into
    a fresh dir, and the dir is recorded only after the write returns:
    a failed staging leaves no entry and the retry starts clean."""

    @functools.wraps(stager)
    def staged(spark: SparkSession, *args: object) -> str:
        key = (stager.__module__, stager.__qualname__, args)
        if key not in _STAGE_CACHE:
            out = _mkdtemp("hsp" + stager.__name__.removeprefix("_stage") + "_")
            try:
                stager(out, spark, *args)
            except BaseException:
                shutil.rmtree(out, ignore_errors=True)
                raise
            _STAGE_CACHE[key] = out
        return _STAGE_CACHE[key]

    return staged


def _write_per_source(
    spark: SparkSession, sf_dir: str, out: str, files: Callable[[int], dict[str, bytes]]
) -> None:
    """One set of files per corpus source ``src{n}`` into ``out``:
    ``files(n)`` maps a file-name suffix to its bytes (``src{n}{suffix}``).
    Driver work is bounded by the source count, not the corpus."""
    (documents,) = prep(spark, sf_dir, "documents")
    for row in documents.select("source").distinct().collect():
        for suffix, data in files(int(row["source"][3:])).items():
            with open(os.path.join(out, row["source"] + suffix), "wb") as f:
                f.write(data)


@contextmanager
def _conf_override(spark: SparkSession, key: str, value: str):
    """Temporarily override a runtime SQL conf (restored after).  Used to
    right-size STATE partitions for stateful streaming queries: state
    stores cost per-partition overhead, streaming ops cannot
    AQE-coalesce, and the right count tracks keyed-state volume — small
    here, thousands at 100 TB."""
    old = spark.conf.get(key, None)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        if old is not None:
            spark.conf.set(key, old)
        else:
            spark.conf.unset(key)


def prep(spark: SparkSession, sf_dir: str, *tables: str) -> list[DataFrame]:
    """Pin session semantics (driver sessions are not ours) and load tables.

    UTC keeps timestamp rendering engine-neutral; nanosAsLong lets the
    ns-precision events parquet load (converted to µs in load_table).
    Both are runtime-settable SQL confs.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # perf-only (correctness-neutral) pins for driver-default sessions:
    # 200 shuffle partitions on a laptop-sized session just adds task
    # overhead; AQE coalesces whatever is oversized at runtime.
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    if int(spark.conf.get("spark.sql.shuffle.partitions", "200")) > 64:
        spark.conf.set("spark.sql.shuffle.partitions", "32")
    return [load_table(spark, sf_dir, t) for t in tables]


# --- exact-arithmetic helpers (Spark side + the equivalent SQL text) -----


def cents_sum(col: Column, alias: str) -> Column:
    """Order-independent SUM(double) via exact integer cents → double.

    LongType accumulator: 4× faster than decimal(38,0) (stays on the
    vectorized codegen path).  Overflow bound 2^63 cents ≈ $9.2e16,
    ~9× headroom over a 100 TB lineitem; use functions.detmath.money_sum
    (decimal accumulator) beyond that."""
    cents = F.round(col * F.lit(100.0), 0).cast("long")
    return (F.sum(cents).cast("double") / F.lit(100.0)).alias(alias)


def sql_cents_sum(expr: str, alias: str) -> str:
    return (
        f"CAST(SUM(CAST(round(({expr}) * 100.0, 0) AS BIGINT)) AS DOUBLE)"
        f" / 100.0 AS {alias}"
    )


def cents_avg(col: Column, alias: str) -> Column:
    cents = F.round(col * F.lit(100.0), 0).cast("long")
    return (F.sum(cents).cast("double") / (F.count(F.lit(1)) * F.lit(100.0))).alias(alias)


def sql_cents_avg(expr: str, alias: str) -> str:
    return (
        f"CAST(SUM(CAST(round(({expr}) * 100.0, 0) AS BIGINT)) AS DOUBLE)"
        f" / (COUNT(*) * 100.0) AS {alias}"
    )


# ========================================================================
# §2.1 scans
# ========================================================================


@query("scan_parquet", "SELECT event_id, ts, user_id, event_type, value, props FROM events")
def q_scan_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet scan (SURVEY S2; data_generator/dataframe_to_kafka.py:80)."""
    (events,) = prep(spark, sf_dir, "events")
    return events.select("event_id", "ts", "user_id", "event_type", "value", "props")


# ========================================================================
# §2.2 projection / filter / row ops
# ========================================================================


@query("project_exclude", "SELECT event_id, ts, user_id, event_type, value FROM events")
def q_project_exclude(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exclusion projection (dataframe_to_kafka.py:88-90): drop ``props``;
    Catalyst prunes it out of the scan (ReadSchema omits it)."""
    (events,) = prep(spark, sf_dir, "events")
    return project_exclude(events, ["props"])


@query("add_lit", "SELECT n_nationkey, n_name, n_regionkey, 'keti' AS room FROM nation")
def q_add_lit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Literal tag column (utils/spark_transforming.py:114's room label)."""
    (nation,) = prep(spark, sf_dir, "nation")
    return add_lit(nation, "room", "keti")


@query(
    "drop_nulls",
    """SELECT event_id, ts, user_id, event_type, value, props FROM events
       WHERE event_id IS NOT NULL AND ts IS NOT NULL AND user_id IS NOT NULL
         AND event_type IS NOT NULL AND value IS NOT NULL AND props IS NOT NULL""",
)
def q_drop_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Any-null row drop (utils/spark_transforming.py:145)."""
    (events,) = prep(spark, sf_dir, "events")
    return drop_nulls(events)


@query(
    "case_when",
    """SELECT event_id, user_id, value,
              CASE WHEN value > 75.0 THEN 'high'
                   WHEN value > 25.0 THEN 'mid'
                   ELSE 'low' END AS tier
       FROM events""",
)
def q_case_when(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE classification — the reference's ``if_movement`` derivation
    (convert-to-elasticsearch.py:120-134) re-expressed on events.value."""
    (events,) = prep(spark, sf_dir, "events")
    classified = case_when(
        events,
        "tier",
        [(F.col("value") > 75.0, "high"), (F.col("value") > 25.0, "mid")],
        "low",
    )
    return classified.select("event_id", "user_id", "value", "tier")


@query(
    "limit_n",
    """SELECT event_id, ts, user_id, event_type, value FROM
       (SELECT * FROM events ORDER BY event_id LIMIT 100)""",
)
def q_limit_n(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row limit (dataframe_to_kafka.py:94-95), made deterministic with a
    unique-key sort first (a bare LIMIT is arbitrary on any distributed
    engine)."""
    (events,) = prep(spark, sf_dir, "events")
    return top_k(events, [F.col("event_id").asc()], 100).select(
        "event_id", "ts", "user_id", "event_type", "value"
    )


# ========================================================================
# §2.3 joins — the reference's core semantic
# ========================================================================


@query(
    "multi_join",
    f"""SELECT r_name, n_name,
               COUNT(*) AS n_items,
               CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS n_urgent,
               {sql_cents_sum('l_extendedprice * (1.0 - l_discount)', 'revenue')},
               {sql_cents_avg('l_quantity', 'avg_qty')}
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey  = c_custkey
        JOIN nation   ON c_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        GROUP BY r_name, n_name""",
)
def q_multi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: 4 chained equi-joins (the reference's 5-stream temporal
    alignment, utils/spark_transforming.py:97-113, re-expressed as
    lineitem⋈orders⋈customer⋈nation⋈region) + grouped aggregation.

    customer/nation/region are broadcast by Catalyst (under the 10 MB
    threshold at any SF for nation/region; AQE handles customer at scale),
    so the only shuffles are lineitem⋈orders and the final aggregation.
    """
    lineitem, orders, customer, nation, region = prep(
        spark, sf_dir, "lineitem", "orders", "customer", "nation", "region"
    )
    joined = multi_join(
        [lineitem, orders, customer, nation, region],
        [
            ("l_orderkey", "o_orderkey"),
            ("o_custkey", "c_custkey"),
            ("c_nationkey", "n_nationkey"),
            ("n_regionkey", "r_regionkey"),
        ],
    )
    return group_agg(
        joined,
        ["r_name", "n_name"],
        [
            F.count(F.lit(1)).alias("n_items"),
            F.sum(
                F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0)
            ).alias("n_urgent"),
            cents_sum(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")), "revenue"),
            cents_avg(F.col("l_quantity"), "avg_qty"),
        ],
    )


# ========================================================================
# §2.4 set ops
# ========================================================================


@query(
    "union_rooms",
    """SELECT event_id, ts, user_id, event_type, value, 'room_even' AS room
       FROM events WHERE user_id % 2 = 0
       UNION ALL
       SELECT event_id, ts, user_id, event_type, value, 'room_odd' AS room
       FROM events WHERE user_id % 2 = 1""",
)
def q_union_rooms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-name-aligned UNION ALL of per-'room' tables
    (utils/spark_transforming.py:123-131)."""
    (events,) = prep(spark, sf_dir, "events")
    base = events.select("event_id", "ts", "user_id", "event_type", "value")
    even = add_lit(base.where(F.col("user_id") % 2 == 0), "room", "room_even")
    odd = add_lit(base.where(F.col("user_id") % 2 == 1), "room", "room_odd")
    return union_by_name([even, odd])


# ========================================================================
# §2.5 sort / top-k
# ========================================================================


@query("sort_by_ts", "SELECT event_id, ts, user_id, event_type, value FROM events ORDER BY ts, event_id")
def q_sort_by_ts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global sort (utils/spark_transforming.py:143) — range-partition
    shuffle; see relational.sort_by for the 100 TB alternative."""
    (events,) = prep(spark, sf_dir, "events")
    return sort_by(events.select("event_id", "ts", "user_id", "event_type", "value"), ["ts", "event_id"])


@query(
    "top_k",
    """SELECT event_id, user_id, value FROM events
       ORDER BY value DESC, event_id LIMIT 100""",
)
def q_top_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDER BY + LIMIT → TakeOrderedAndProject (per-partition k-heap, no
    global sort shuffle).  Unique-key tiebreak makes ties deterministic."""
    (events,) = prep(spark, sf_dir, "events")
    return top_k(
        events.select("event_id", "user_id", "value"),
        [F.col("value").desc(), F.col("event_id").asc()],
        100,
    )


# ========================================================================
# §2.8 scalar functions: wire codec, time, json
# ========================================================================

_WIRE_COLS = "event_id bigint, ts timestamp, user_id bigint, event_type string, value double"


@query(
    "parse_wire",
    "SELECT event_id, ts, user_id, event_type, value FROM events",
)
def q_parse_wire(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wire round-trip: typed row → concat_ws string → from_csv back
    (encode: dataframe_to_kafka.py:74; decode:
    convert-to-elasticsearch.py:107-114).  Lossless: doubles use Java's
    shortest round-trip repr, timestamps an explicit µs format.  The
    identity oracle proves the codec loses nothing.
    """
    from pyspark.sql import types as T

    (events,) = prep(spark, sf_dir, "events")
    wire = events.select(
        to_wire(
            [
                F.col("event_id"),
                ts_to_string("ts", TS_FMT_SPARK),
                F.col("user_id"),
                F.col("event_type"),
                F.col("value"),
            ]
        ).alias("value")
    )
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    parsed = wire.select(
        F.from_csv(
            F.col("value"),
            _WIRE_COLS,
            {"timestampFormat": TS_FMT_SPARK},
        ).alias("_w")
    ).select("_w.*")
    assert parsed.schema == schema
    return parsed


@query(
    "to_wire",
    f"""SELECT CAST(event_id AS VARCHAR) AS key,
               CAST(event_id AS VARCHAR) || ',' || CAST(user_id AS VARCHAR) || ',' ||
               event_type || ',' || printf('%.6f', value) || ',' ||
               strftime(ts, '{TS_FMT_DUCK}') AS value
        FROM events""",
)
def q_to_wire(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wire encode to (key, value) strings — the Kafka producer shape
    (dataframe_to_kafka.py:74,91,106-108), fully distributed instead of a
    driver collect() loop.  Doubles use printf('%.6f') so the byte output
    is engine-pinned."""
    (events,) = prep(spark, sf_dir, "events")
    return events.select(
        F.col("event_id").cast("string").alias("key"),
        to_wire(
            [
                F.col("event_id"),
                F.col("user_id"),
                F.col("event_type"),
                F.format_string("%.6f", F.col("value")),
                ts_to_string("ts", TS_FMT_SPARK),
            ]
        ).alias("value"),
    )


@query(
    "epoch_to_ts",
    f"""SELECT o_orderkey,
               CAST(epoch(o_orderdate) AS BIGINT) AS epoch_s,
               CAST(to_timestamp(epoch(o_orderdate)) AS TIMESTAMP) AS ts2,
               strftime(CAST(to_timestamp(epoch(o_orderdate)) AS TIMESTAMP),
                        '%Y-%m-%d %H:%M:%S') AS ts_str
        FROM orders""",
)
def q_epoch_to_ts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch seconds ↔ timestamp ↔ display string (F4/F5;
    utils/spark_transforming.py:148-149)."""
    (orders,) = prep(spark, sf_dir, "orders")
    epoch = F.unix_timestamp(F.col("o_orderdate")).alias("epoch_s")
    return orders.select(
        "o_orderkey",
        epoch,
        epoch_to_ts(F.unix_timestamp(F.col("o_orderdate"))).alias("ts2"),
        ts_to_string(epoch_to_ts(F.unix_timestamp(F.col("o_orderdate"))), "yyyy-MM-dd HH:mm:ss").alias(
            "ts_str"
        ),
    )


@query(
    "json_extract",
    "SELECT event_id, CAST(props->>'$.k' AS BIGINT) AS k FROM events",
)
def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON field extraction over events.props (north-star addition;
    the reference has no JSON functions)."""
    (events,) = prep(spark, sf_dir, "events")
    return events.select(
        "event_id", F.get_json_object("props", "$.k").cast("long").alias("k")
    )


# ========================================================================
# §2.6 aggregations
# ========================================================================


@query("count_rows", "SELECT COUNT(*) AS n FROM lineitem")
def q_count_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar row count (dataframe_to_kafka.py:101)."""
    (lineitem,) = prep(spark, sf_dir, "lineitem")
    return count_rows(lineitem)


@query(
    "group_agg",
    f"""SELECT l_returnflag, l_linestatus,
               COUNT(*) AS n,
               {sql_cents_sum('l_quantity', 'sum_qty')},
               {sql_cents_sum('l_extendedprice', 'sum_price')},
               {sql_cents_sum('l_extendedprice * (1.0 - l_discount)', 'sum_disc_price')},
               {sql_cents_avg('l_quantity', 'avg_qty')},
               {sql_cents_avg('l_discount', 'avg_disc')},
               MIN(l_shipdate) AS min_ship, MAX(l_shipdate) AS max_ship
        FROM lineitem
        GROUP BY l_returnflag, l_linestatus""",
)
def q_group_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped grouped aggregation — the Kibana-dashboard semantic
    (README.md:9) natively.  Partial aggregation makes shuffle volume
    O(groups); exact-cents arithmetic makes results partitioning-independent.
    """
    (lineitem,) = prep(spark, sf_dir, "lineitem")
    return group_agg(
        lineitem,
        ["l_returnflag", "l_linestatus"],
        [
            F.count(F.lit(1)).alias("n"),
            cents_sum(F.col("l_quantity"), "sum_qty"),
            cents_sum(F.col("l_extendedprice"), "sum_price"),
            cents_sum(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")), "sum_disc_price"),
            cents_avg(F.col("l_quantity"), "avg_qty"),
            cents_avg(F.col("l_discount"), "avg_disc"),
            F.min("l_shipdate").alias("min_ship"),
            F.max("l_shipdate").alias("max_ship"),
        ],
    )


@query(
    "count_distinct",
    """SELECT COUNT(DISTINCT l_partkey) AS n_parts,
              COUNT(DISTINCT l_suppkey) AS n_supps FROM lineitem""",
)
def q_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct counts (two-phase aggregate)."""
    (lineitem,) = prep(spark, sf_dir, "lineitem")
    return lineitem.agg(
        F.count_distinct("l_partkey").alias("n_parts"),
        F.count_distinct("l_suppkey").alias("n_supps"),
    )


@query("approx_distinct")  # approximate → rows-only check, by design
def q_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct count — the 100 TB default (fixed-size
    sketch, no distinct-shuffle).  Approximate, so no SQL oracle."""
    (lineitem,) = prep(spark, sf_dir, "lineitem")
    return approx_distinct(lineitem, "l_partkey", rsd=0.05)


@query(
    "approx_distinct_ok",
    """SELECT l_returnflag,
              CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_exact,
              TRUE AS within_bound
       FROM lineitem GROUP BY l_returnflag""",
)
def q_approx_distinct_ok(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The HLL error CONTRACT, hash-checked (VERDICT r3 #6): per group,
    Spark computes BOTH the sketch estimate and the exact distinct count
    and emits ``within_bound = |approx - exact| / exact <= 0.05``.  The
    oracle supplies the exact side plus a literal TRUE — if the sketch
    ever drifts past its documented rsd bound, Spark emits FALSE and the
    value hash goes red.  This gives the approximate operator checked
    evidence without pretending HLL is SQL-reproducible."""
    (lineitem,) = prep(spark, sf_dir, "lineitem")
    g = lineitem.groupBy("l_returnflag").agg(
        F.count_distinct("l_partkey").cast("long").alias("n_exact"),
        F.approx_count_distinct("l_partkey", rsd=0.05).cast("double").alias("_approx"),
    )
    rel_err = F.abs(F.col("_approx") - F.col("n_exact").cast("double")) / F.col(
        "n_exact"
    ).cast("double")
    return g.select(
        "l_returnflag", "n_exact", (rel_err <= F.lit(0.05)).alias("within_bound")
    )


@query(
    "rollup_agg",
    f"""SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
               {sql_cents_sum('l_quantity', 'sum_qty')}
        FROM lineitem
        GROUP BY ROLLUP(l_returnflag, l_linestatus)""",
)
def q_rollup_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP subtotals — one Expand + hash aggregate pass."""
    (lineitem,) = prep(spark, sf_dir, "lineitem")
    return rollup_agg(
        lineitem,
        ["l_returnflag", "l_linestatus"],
        [F.count(F.lit(1)).alias("n"), cents_sum(F.col("l_quantity"), "sum_qty")],
    )


@query(
    "grouping_sets",
    f"""SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
               {sql_cents_sum('l_quantity', 'sum_qty')}
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())""",
)
def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary GROUPING SETS (A4 beyond rollup/cube): per-flag totals,
    per-status totals, and the grand total in ONE Expand + hash
    aggregate pass — three aggregations for one scan instead of three
    queries (the multi-granularity report every dashboard batch runs).
    Uses the native DataFrame groupingSets API (Spark 4)."""
    (lineitem,) = prep(spark, sf_dir, "lineitem")
    return lineitem.groupingSets(
        [["l_returnflag"], ["l_linestatus"], []],
        "l_returnflag",
        "l_linestatus",
    ).agg(
        F.count(F.lit(1)).alias("n"),
        cents_sum(F.col("l_quantity"), "sum_qty"),
    )


# ========================================================================
# §2.7 window functions
# ========================================================================


@query(
    "window_rank",
    """SELECT event_id, user_id, ts, value,
              ROW_NUMBER() OVER w AS row_number,
              RANK() OVER w AS rank,
              DENSE_RANK() OVER w AS dense_rank
       FROM events
       WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""",
)
def q_window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking per user over event time (SURVEY §2.7).  One shuffle on
    user_id, sort within partitions; unique tiebreak → deterministic."""
    (events,) = prep(spark, sf_dir, "events")
    ranked = window_rank(
        events.select("event_id", "user_id", "ts", "value"),
        ["user_id"],
        [F.col("ts").asc(), F.col("event_id").asc()],
    )
    # rank functions are INT in Spark, BIGINT in the SQL oracle — align
    return ranked.select(
        "event_id", "user_id", "ts", "value",
        *[F.col(c).cast("long").alias(c) for c in ("row_number", "rank", "dense_rank")],
    )


@query(
    "window_running",
    """SELECT event_id, user_id, ts, value,
              CAST(SUM(CAST(round(value * 100.0, 0) AS BIGINT))
                   OVER running AS DOUBLE) / 100.0 AS running_sum,
              COUNT(*) OVER running AS running_count,
              LAG(value, 1) OVER w AS prev_value,
              LEAD(value, 1) OVER w AS next_value
       FROM events
       WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id),
              running AS (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""",
)
def q_window_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running sum + lag/lead per user (SURVEY §2.7).  The running sum
    accumulates exact integer cents so every prefix is bit-reproducible."""
    from pyspark.sql import Window

    (events,) = prep(spark, sf_dir, "events")
    df = events.select("event_id", "user_id", "ts", "value")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    running = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cents = F.round(F.col("value") * F.lit(100.0), 0).cast("long")
    return (
        df.withColumn("running_sum", F.sum(cents).over(running).cast("double") / F.lit(100.0))
        .withColumn("running_count", F.count(F.lit(1)).over(running))
        .withColumn("prev_value", F.lag("value", 1).over(w))
        .withColumn("next_value", F.lead("value", 1).over(w))
    )


# ========================================================================
# §2.10 LLM-data-pipeline operators: text analysis
# ========================================================================

_STOP_SQL = "('the','a','of','and','to','in','is','it')"


@query(
    "text_stats",
    f"""SELECT doc_id,
               length(text) AS n_chars,
               len(string_split(lower(text), ' ')) AS n_words,
               len(list_distinct(string_split(lower(text), ' '))) AS n_distinct_words,
               CAST(list_sum(list_transform(string_split(lower(text), ' '), t -> length(t))) AS DOUBLE)
                 / CAST(len(string_split(lower(text), ' ')) AS DOUBLE) AS avg_word_len,
               CAST(len(list_filter(string_split(lower(text), ' '), t -> t IN {_STOP_SQL})) AS DOUBLE)
                 / CAST(len(string_split(lower(text), ' ')) AS DOUBLE) AS stopword_ratio
        FROM documents""",
)
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document stats (N5) — built-in array ops, exact-int ratios."""
    from hdfs_stream_processing_spark.operators.text import text_stats

    (documents,) = prep(spark, sf_dir, "documents")
    return text_stats(documents, "doc_id", "text")


@query(
    "quality_score",
    """WITH s AS (
         SELECT doc_id,
                len(string_split(lower(text), ' ')) AS n_words,
                len(list_distinct(string_split(lower(text), ' '))) AS n_distinct_words,
                CAST(len(list_filter(string_split(lower(text), ' '),
                     t -> t IN ('the','a','of','and','to','in','is','it'))) AS DOUBLE)
                  / CAST(len(string_split(lower(text), ' ')) AS DOUBLE) AS stopword_ratio
         FROM documents)
       SELECT doc_id, n_words,
              ((CAST(n_distinct_words AS DOUBLE) / CAST(n_words AS DOUBLE)) * 0.5)
              + ((CASE WHEN n_words >= 20 THEN 1.0
                       ELSE CAST(n_words AS DOUBLE) / 20.0 END) * 0.3)
              + ((1.0 - stopword_ratio) * 0.2) AS quality
       FROM s""",
)
def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring (N5): diversity + length + stopword-rate, one pass."""
    from hdfs_stream_processing_spark.operators.text import quality_score

    (documents,) = prep(spark, sf_dir, "documents")
    return quality_score(documents, "doc_id", "text")


@query(
    "lang_id",
    """WITH bg AS (
         SELECT doc_id,
                list_transform(generate_series(1, greatest(length(lower(text)), 2) - 1),
                               i -> substr(lower(text), CAST(i AS INT), 2)) AS b
         FROM documents),
       r AS (
         SELECT doc_id,
           CAST(len(list_filter(b, x -> x IN ('th','he','an','in','er'))) AS DOUBLE) / CAST(len(b) AS DOUBLE) AS en,
           CAST(len(list_filter(b, x -> x IN ('le','es','de','en','ou'))) AS DOUBLE) / CAST(len(b) AS DOUBLE) AS fr,
           CAST(len(list_filter(b, x -> x IN ('ch','ei','de','en','er'))) AS DOUBLE) / CAST(len(b) AS DOUBLE) AS de,
           CAST(len(list_filter(b, x -> x IN ('os','de','la','el','en'))) AS DOUBLE) / CAST(len(b) AS DOUBLE) AS es
         FROM bg)
       SELECT doc_id,
              CASE WHEN en >= fr AND en >= de AND en >= es AND en > 0 THEN 'en'
                   WHEN fr >= de AND fr >= es AND fr > 0 THEN 'fr'
                   WHEN de >= es AND de > 0 THEN 'de'
                   WHEN es > 0 THEN 'es'
                   ELSE 'unknown' END AS lang_pred,
              en AS en_ratio
       FROM r""",
)
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-n-gram language ID (N5): profile-bigram hit rates."""
    from hdfs_stream_processing_spark.operators.text import lang_id

    (documents,) = prep(spark, sf_dir, "documents")
    return lang_id(documents, "doc_id", "text")


@query(
    "token_count",
    """SELECT doc_id,
              len(string_split(lower(text), ' ')) AS n_words,
              CAST(floor((length(text) + 3) / 4.0) AS BIGINT) AS n_tokens_est,
              CAST(list_sum(list_transform(string_split(lower(text), ' '),
                   t -> CAST(floor((length(t) + 3) / 4.0) AS BIGINT))) AS BIGINT) AS n_subtokens
       FROM documents""",
)
def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting (N5): words + chars/4 estimate + BPE-ish per-word
    subword chunks (ceil(len/4) per word)."""
    from hdfs_stream_processing_spark.operators.text import token_count

    (documents,) = prep(spark, sf_dir, "documents")
    return token_count(documents, "doc_id", "text")


@query(
    "doc_fingerprint",
    """SELECT doc_id, md5(text) AS md5,
              md5(array_to_string(list_sort(list_distinct(string_split(lower(text), ' '))), ' ')) AS bag_md5
       FROM documents""",
)
def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting (N5): raw md5 + order-insensitive bag md5."""
    from hdfs_stream_processing_spark.operators.text import fingerprint

    (documents,) = prep(spark, sf_dir, "documents")
    return fingerprint(documents, "doc_id", "text")


@query(
    "text_ngram",
    f"""SELECT doc_id, token,
              unnest(list_transform(generate_series(2, least(10, length(token))),
                                    i -> {sql_fold('substr(token, 1, i)')})) AS ngram
       FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token
             FROM documents WHERE doc_id < 50)
       WHERE length(token) >= 2""",
)
def q_text_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edge n-grams (N4) — the ES analyzer chain
    (convert-to-elasticsearch.py:20-40) as native array expressions."""
    from hdfs_stream_processing_spark.operators.text import explode_edge_ngrams

    (documents,) = prep(spark, sf_dir, "documents")
    return explode_edge_ngrams(documents.where(F.col("doc_id") < 50), "doc_id", "text")


# ========================================================================
# §2.10 dedup family
# ========================================================================


@query(
    "dedup_exact",
    """SELECT doc_id, text, lang, source, n_chars FROM documents
       QUALIFY row_number() OVER (PARTITION BY lang, source ORDER BY doc_id) = 1""",
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup (N2) with a deterministic survivor per (lang, source)
    group — hash-groupBy semantics, engine-independent representative."""
    from hdfs_stream_processing_spark.operators.dedup import dedup_exact

    (documents,) = prep(spark, sf_dir, "documents")
    return dedup_exact(documents, ["lang", "source"], [F.col("doc_id").asc()])


_MINHASH_SQL_BASE = """
  toks AS (SELECT doc_id, string_split(lower(text), ' ') AS ts FROM documents),
  sh AS (SELECT DISTINCT doc_id, shingle FROM (
           SELECT doc_id,
                  unnest(list_transform(generate_series(1, greatest(len(ts), 2) - 1),
                                        i -> array_to_string(ts[i:i+1], ' '))) AS shingle
           FROM toks)),
  hashed AS (SELECT doc_id, seed,
                    ('0x' || substr(md5(CAST(CAST(floor(seed / 4) AS INT) AS VARCHAR) || ':' || shingle),
                                    1 + CAST(seed % 4 AS INT) * 8, 8))::UBIGINT::BIGINT AS h
             FROM sh, generate_series(0, 7) g(seed)),
  sig AS (SELECT doc_id, seed, MIN(h) AS minhash FROM hashed GROUP BY doc_id, seed)
"""


@query(
    "minhash_sig",
    f"WITH {_MINHASH_SQL_BASE} SELECT doc_id, seed, minhash FROM sig",
)
def q_minhash_sig(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures (N3 building block).  md5-derived hash family →
    bit-identical signatures in any engine (rare for MinHash; deliberate)."""
    from hdfs_stream_processing_spark.operators.dedup import minhash_signature

    (documents,) = prep(spark, sf_dir, "documents")
    return minhash_signature(documents, "doc_id", "text", num_hashes=8, shingle_n=2)


@query(
    "dedup_near",
    f"""WITH {_MINHASH_SQL_BASE},
       banded AS (SELECT doc_id, CAST(floor(seed / 2.0) AS INT) AS band, minhash FROM sig),
       band_sig AS (SELECT doc_id, band,
                           md5(array_to_string(list_sort(list(minhash)), ',')) AS band_hash
                    FROM banded GROUP BY doc_id, band)
       SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       FROM band_sig a JOIN band_sig b USING (band, band_hash)
       WHERE a.doc_id < b.doc_id""",
)
def q_dedup_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup candidates (N3): MinHash → LSH bands → equi-join on band
    hash.  Never all-pairs: the join key is (band, band_hash)."""
    from hdfs_stream_processing_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signature_wide,
    )

    (documents,) = prep(spark, sf_dir, "documents")
    sig = minhash_signature_wide(documents, "doc_id", "text", num_hashes=8, shingle_n=2)
    return lsh_candidate_pairs(sig, "doc_id", num_hashes=8, band_size=2)


@query(
    "ngram_jaccard",
    """WITH sh0 AS (SELECT DISTINCT doc_id, shingle FROM (
            SELECT doc_id, unnest(string_split(lower(text), ' ')) AS shingle
            FROM documents WHERE doc_id < 200)),
       keep AS (SELECT shingle FROM sh0 GROUP BY shingle HAVING COUNT(*) <= 100),
       sh AS (SELECT sh0.doc_id, sh0.shingle FROM sh0 JOIN keep USING (shingle)),
       sz AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
       inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
                 FROM sh a JOIN sh b USING (shingle)
                 WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
       SELECT id_a, id_b,
              CAST(n_inter AS DOUBLE) / CAST(sza.sz + szb.sz - n_inter AS DOUBLE) AS jaccard
       FROM inter
       JOIN sz sza ON sza.doc_id = id_a
       JOIN sz szb ON szb.doc_id = id_b
       WHERE CAST(n_inter AS DOUBLE) / CAST(sza.sz + szb.sz - n_inter AS DOUBLE) >= 0.5""",
)
def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact unigram Jaccard pairs ≥ 0.5 (N3 verification stage).
    Join-on-shared-shingle, never a cross join, with the document-
    frequency cutoff active (shingles in >100 docs are dropped before
    the join — kills stopword join-key skew at scale); at full scale it
    also runs behind LSH candidates (jaccard_pairs(candidates=...))."""
    from hdfs_stream_processing_spark.operators.dedup import jaccard_pairs

    (documents,) = prep(spark, sf_dir, "documents")
    return jaccard_pairs(
        documents.where(F.col("doc_id") < 200),
        "doc_id",
        "text",
        shingle_n=1,
        min_jaccard=0.5,
        max_doc_freq=100,
    )


@query(
    "simhash",
    """WITH tok AS (SELECT DISTINCT doc_id, token FROM (
            SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token FROM documents)),
       h AS (SELECT doc_id, ('0x' || substr(md5(token), 1, 8))::UBIGINT::BIGINT AS h FROM tok),
       bitv AS (SELECT doc_id, i AS bit, SUM(((h >> i) & 1) * 2 - 1) AS v
                FROM h, generate_series(0, 31) g(i) GROUP BY doc_id, i)
       SELECT doc_id,
              CAST(SUM(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << bit) ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS simhash
       FROM bitv GROUP BY doc_id""",
)
def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash fingerprints (N3): md5-derived bit votes over distinct
    tokens — one narrow pass + two aggregations."""
    from hdfs_stream_processing_spark.operators.dedup import simhash

    (documents,) = prep(spark, sf_dir, "documents")
    return simhash(documents, "doc_id", "text", bits=32)


# ========================================================================
# §2.10 similarity search + multimodal
# ========================================================================

_QUANT_SQL = "list_transform({col}, x -> CAST(round(CAST(x AS DOUBLE) * 1000.0, 0) AS BIGINT))"

# shared quantized-cosine building blocks for the ANN oracles: integer
# dot / sqrt(int)·sqrt(int) — one fixed expression tree of exact
# operands, bit-identical across engines (mirrors operators.similarity
# dot_q/cosine_q).
_DOT_SQL = "list_sum(list_transform(list_zip({a}, {b}), p -> p[1] * p[2]))"
_NORM_SQL = "sqrt(CAST(list_sum(list_transform({a}, x -> x * x)) AS DOUBLE))"
_AFF_SQL = (
    f"CAST({_DOT_SQL.format(a='q.qv', b='c.cv')} AS DOUBLE)"
    f" / ({_NORM_SQL.format(a='q.qv')} * {_NORM_SQL.format(a='c.cv')})"
)


def _ivf_iter_sql(prev: str, cur: str) -> str:
    """One deterministic Lloyd step in SQL: argmax-cosine assignment
    (ties to the lowest cell), element-wise HALF_UP-rounded integer
    mean per cell, empty cells keep the previous centroid — the exact
    recurrence train_ivf_centroids runs on Spark."""
    return f"""
       aff_{cur} AS (
         SELECT q.vec_id, q.qv, c.cell, {_AFF_SQL} AS a
         FROM q CROSS JOIN {prev} c),
       asg_{cur} AS (
         SELECT vec_id, qv, cell FROM (
           SELECT vec_id, qv, cell,
                  row_number() OVER (PARTITION BY vec_id ORDER BY a DESC, cell ASC) AS rn
           FROM aff_{cur}) WHERE rn = 1),
       mean_{cur} AS (
         SELECT cell, array_agg(mv ORDER BY i) AS cv FROM (
           SELECT cell, i, CAST(round(CAST(SUM(x) AS DOUBLE) / COUNT(*), 0) AS BIGINT) AS mv
           FROM (SELECT cell, unnest(qv) AS x,
                        unnest(generate_series(1, len(qv))) AS i
                 FROM asg_{cur})
           GROUP BY cell, i) GROUP BY cell),
       {cur} AS (
         SELECT p.cell, COALESCE(m.cv, p.cv) AS cv
         FROM {prev} p LEFT JOIN mean_{cur} m ON p.cell = m.cell)"""


@query(
    "similarity_topk",
    f"""WITH q AS (SELECT vec_id AS query_id, {_QUANT_SQL.format(col='embedding')} AS qv
                   FROM embeddings WHERE vec_id < 20),
       c AS (SELECT vec_id AS neighbor_id, {_QUANT_SQL.format(col='embedding')} AS cv
             FROM embeddings),
       scored AS (SELECT query_id, neighbor_id,
                    CAST(list_sum(list_transform(list_zip(qv, cv), p -> p[1] * p[2])) AS DOUBLE)
                    / (sqrt(CAST(list_sum(list_transform(qv, x -> x * x)) AS DOUBLE))
                       * sqrt(CAST(list_sum(list_transform(cv, x -> x * x)) AS DOUBLE))) AS cosine
                  FROM q, c WHERE query_id <> neighbor_id)
       SELECT query_id, neighbor_id, cosine, rank FROM (
         SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                        ORDER BY cosine DESC, neighbor_id) AS INT) AS rank
         FROM scored)
       WHERE rank <= 10""",
)
def q_similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-10 cosine neighbors for 20 query vectors (N1).
    Quantized integer arithmetic → bit-identical scores and rankings in
    any engine.  Broadcast queries × corpus scan; per-query window top-k."""
    from hdfs_stream_processing_spark.operators.similarity import similarity_topk

    (embeddings,) = prep(spark, sf_dir, "embeddings")
    return similarity_topk(
        embeddings, "vec_id", "embedding", queries_filter=F.col("vec_id") < 20, k=10
    )


def _lsh_oracle_sql(num_planes: int, dims: int, k: int, nflips: int) -> str:
    """DuckDB mirror of operators.similarity.lsh_bucket_topk.

    The LSH path is APPROXIMATE vs exact top-k but fully DETERMINISTIC
    end-to-end — md5-derived ±1 hyperplanes, integer projections,
    quantized-integer cosine — so the whole signature → bucket →
    (multi-probe) → re-rank pipeline is SQL-expressible and bit-exact
    (VERDICT r3 #2; same technique as the ivf_assign oracle).  The
    weights are re-DERIVED in SQL from the same public md5 recipe
    (hyperplane_weights), not pasted as literals, so the oracle is an
    independent formulation.  Projections stay comparison-only (pr > 0,
    abs ordering), so DuckDB's HUGEINT SUM never reaches the output."""
    probes = (
        "probes AS (SELECT vec_id, bucket AS probe FROM sigs)"
        if nflips == 0
        else f"""flips AS (
         SELECT vec_id, p AS fp FROM (
           SELECT vec_id, p, row_number() OVER (PARTITION BY vec_id ORDER BY abs(pr), p) AS rn
           FROM proj)
         WHERE rn <= {nflips}),
       probes AS (
         SELECT vec_id, bucket AS probe FROM sigs
         UNION ALL
         SELECT f.vec_id,
                substr(s.bucket, 1, f.fp)
                || (CASE WHEN substr(s.bucket, f.fp + 1, 1) = '1' THEN '0' ELSE '1' END)
                || substr(s.bucket, f.fp + 2) AS probe
         FROM flips f JOIN sigs s USING (vec_id))"""
    )
    return f"""
WITH qvs AS (SELECT vec_id, {_QUANT_SQL.format(col='embedding')} AS qv FROM embeddings),
     w AS (SELECT p, d,
             CASE WHEN ('0x'||substr(md5(p::VARCHAR || ':' || d::VARCHAR),1,4))::UBIGINT % 2 = 1
                  THEN 1 ELSE -1 END AS wt
           FROM (SELECT unnest(generate_series(0,{num_planes - 1})) AS p),
                (SELECT unnest(generate_series(0,{dims - 1})) AS d)),
     proj AS (SELECT vec_id, p, SUM(qv[d + 1] * wt) AS pr
              FROM qvs, w GROUP BY vec_id, p),
     sigs AS (SELECT vec_id,
                     string_agg(CASE WHEN pr > 0 THEN '1' ELSE '0' END, '' ORDER BY p) AS bucket
              FROM proj GROUP BY vec_id),
     {probes},
     scored AS (
       SELECT a.vec_id AS query_id, s.vec_id AS neighbor_id,
              CAST(list_sum(list_transform(list_zip(qa.qv, qb.qv), pp -> pp[1] * pp[2])) AS DOUBLE)
              / (sqrt(CAST(list_sum(list_transform(qa.qv, x -> x * x)) AS DOUBLE))
                 * sqrt(CAST(list_sum(list_transform(qb.qv, x -> x * x)) AS DOUBLE))) AS cosine
       FROM probes a
       JOIN sigs s ON a.probe = s.bucket AND a.vec_id <> s.vec_id
       JOIN qvs qa ON qa.vec_id = a.vec_id
       JOIN qvs qb ON qb.vec_id = s.vec_id)
SELECT query_id, neighbor_id, cosine, rank FROM (
  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                 ORDER BY cosine DESC, neighbor_id) AS INT) AS rank
  FROM scored)
WHERE rank <= {k}"""


@query("similarity_lsh", _lsh_oracle_sql(num_planes=6, dims=64, k=10, nflips=0))
def q_similarity_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN (N1 scale path): hyperplane-sign buckets turn the
    cross join into an equi-join; exact re-rank within buckets.
    Approximate RECALL, deterministic VALUES — the md5-hyperplane /
    integer-projection / quantized-cosine pipeline is bit-exact in SQL,
    so the full bucket assignment and re-rank are oracle-checked."""
    from hdfs_stream_processing_spark.operators.similarity import lsh_bucket_topk

    (embeddings,) = prep(spark, sf_dir, "embeddings")
    # dims=64 is the pipeline constant (TESTDATA.md) — passing it keeps
    # query construction free of driver jobs (no first-row probe)
    return lsh_bucket_topk(embeddings, "vec_id", "embedding", num_planes=6, k=10, dims=64)


@query("similarity_lsh_multiprobe", _lsh_oracle_sql(num_planes=6, dims=64, k=10, nflips=2))
def q_similarity_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH ANN: each query additionally probes the buckets
    that differ in its least-confident signature bits (smallest
    |projection|), trading linear extra candidates for recall — the
    standard answer to single-probe LSH's recall cliff.  Only the query
    side fans out; the corpus stays one-bucket.  Deterministic flip
    order (|projection|, plane index) makes even the probe fan-out
    oracle-checkable; recall monotonicity is separately asserted in
    tests/test_llm_ops.py."""
    from hdfs_stream_processing_spark.operators.similarity import lsh_bucket_topk

    (embeddings,) = prep(spark, sf_dir, "embeddings")
    return lsh_bucket_topk(
        embeddings, "vec_id", "embedding", num_planes=6, k=10, dims=64, nprobe_flips=2
    )


@query(
    "multimodal_meta",
    """SELECT doc_id, octet_length(encode(text)) AS n_bytes, md5(text) AS payload_md5
       FROM documents""",
)
def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing: binary payload column → Arrow-batched
    mapInPandas metadata extraction (the real decode path shape; codecs
    are stubbed in this container, see operators/multimodal.py)."""
    from hdfs_stream_processing_spark.operators.multimodal import (
        attach_payload,
        payload_meta,
    )

    (documents,) = prep(spark, sf_dir, "documents")
    return payload_meta(attach_payload(documents, "doc_id", "text"))


# ========================================================================
# §2.9 Structured Streaming (file source + availableNow → deterministic)
# ========================================================================


@_stage_once
def _stage_table(out: str, spark: SparkSession, sf_dir: str, table: str, copies: int) -> None:
    """``copies`` copies of one driver table, 4 parquet files each, as a
    streaming source directory.  File source + availableNow is the
    deterministic stand-in for the reference's Kafka source — identical
    downstream plan (SURVEY §5)."""
    for _ in range(copies):
        load_table(spark, sf_dir, table).repartition(4).write.mode("append").parquet(out)


def _stage_events(spark: SparkSession, sf_dir: str, copies: int = 1) -> tuple[str, "T.StructType"]:
    """The events table (µs timestamps) as a staged streaming source:
    ``(source dir, schema)``."""
    (events,) = prep(spark, sf_dir, "events")
    return _stage_table(spark, sf_dir, "events", copies), events.schema


@query(
    "stream_ingest",
    """SELECT event_id, user_id, value,
              CASE WHEN value > 75.0 THEN 'high'
                   WHEN value > 25.0 THEN 'mid'
                   ELSE 'low' END AS tier
       FROM events""",
)
def q_stream_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's streaming pipeline end-to-end (ST1/ST2): file
    source → shared classify stage → sink, availableNow.  The memory sink
    stands in for the Parquet/HDFS sink so the query returns rows; the
    parquet+checkpoint path is exercised in tests/test_streaming.py."""
    from hdfs_stream_processing_spark.streaming import (
        classify_movement,
        run_to_memory,
        stream_parquet_source,
    )

    src_dir, schema = _stage_events(spark, sf_dir)
    stream = stream_parquet_source(spark, src_dir, schema)
    out = run_to_memory(classify_movement(stream))
    return out.select("event_id", "user_id", "value", "tier")


@query("stream_dedup", "SELECT event_id, user_id, value FROM events")
def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup (ST6): the source directory holds TWO copies of
    every event split across files; dropDuplicates state dedups across
    micro-batches (maxFilesPerTrigger forces >1 batch) — output is
    exactly the distinct event set, proved by the identity oracle."""
    from hdfs_stream_processing_spark.streaming import run_to_memory, stream_parquet_source

    src_dir, schema = _stage_events(spark, sf_dir, copies=2)
    stream = stream_parquet_source(spark, src_dir, schema, max_files_per_trigger=3)
    deduped = stream.select("event_id", "user_id", "value").dropDuplicates(["event_id"])
    return run_to_memory(deduped, output_mode="append")


@query(
    "stream_window_agg",
    """SELECT CAST(to_timestamp(floor(epoch(ts) / 3600) * 3600) AS TIMESTAMP) AS window_start,
              CAST(to_timestamp(floor(epoch(ts) / 3600) * 3600 + 3600) AS TIMESTAMP) AS window_end,
              COUNT(*) AS n,
              CAST(SUM(CAST(round(value * 100.0, 0) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_value
       FROM events GROUP BY 1, 2""",
)
def q_stream_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time tumbling windows + watermark (ST5 — new capability):
    1-hour windows over the event stream, exact-cents sums.  Complete
    output mode makes the availableNow run deterministic; append-mode
    late-data semantics are pinned in tests."""
    from hdfs_stream_processing_spark.streaming import (
        run_to_memory,
        stream_parquet_source,
        stream_window_agg,
    )

    src_dir, schema = _stage_events(spark, sf_dir)
    stream = stream_parquet_source(spark, src_dir, schema)
    agg = stream_window_agg(stream, ts_col="ts", value_col="value", window="1 hour", watermark="10 minutes")
    return run_to_memory(agg, output_mode="complete")


# ========================================================================
# Reference pipeline end-to-end + remaining join/set surface
# ========================================================================


@query(
    "align_pipeline",
    """WITH base AS (
         SELECT event_id AS ts_min_bignt,
                value * 1.0 AS co2, value * 2.0 AS humidity, value * 3.0 AS light,
                value * 4.0 AS pir, value * 5.0 AS temperature,
                CASE WHEN user_id % 2 = 0 THEN 'room_0' ELSE 'room_1' END AS room
         FROM events)
       SELECT ts_min_bignt, co2, humidity, light, pir, temperature, room,
              CAST(to_timestamp(1700000000 + ts_min_bignt) AS TIMESTAMP) AS event_ts_min,
              CASE WHEN pir > 250.0 THEN 'movement' ELSE 'no_movement' END AS if_movement
       FROM base""",
)
def q_align_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's ENTIRE batch transform as one Catalyst plan
    (utils/spark_transforming.py:60-165): 5-stream align join per room →
    union → dropna → sort → timestamp derive → movement CASE.  The
    oracle is the algebraic identity of the alignment (each synthesized
    stream is keyed by the unique event_id), proving the join/union
    pipeline loses and fabricates nothing."""
    from hdfs_stream_processing_spark.pipelines import align_rooms

    (events,) = prep(spark, sf_dir, "events")
    return align_rooms(events, n_rooms=2, movement_threshold=250.0)


@query(
    "join_outer",
    """SELECT c_custkey, c_name, o_orderkey, o_totalprice
       FROM customer LEFT JOIN orders ON o_custkey = c_custkey""",
)
def q_join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER join (free from df.join(..., 'left'); absent in the
    reference but part of the exposed surface, SURVEY §2.3)."""
    customer, orders = prep(spark, sf_dir, "customer", "orders")
    return customer.join(
        orders, on=customer["c_custkey"] == orders["o_custkey"], how="left"
    ).select("c_custkey", "c_name", "o_orderkey", "o_totalprice")


@query(
    "join_semi",
    """SELECT c_custkey, c_name FROM customer
       WHERE EXISTS (SELECT 1 FROM orders
                     WHERE o_custkey = c_custkey AND o_totalprice > 400000.0)""",
)
def q_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI join — EXISTS semantics, never duplicates the left side
    (and ships only the join key of the right side at scale)."""
    customer, orders = prep(spark, sf_dir, "customer", "orders")
    big = orders.where(F.col("o_totalprice") > 400000.0)
    return customer.join(
        big, on=customer["c_custkey"] == big["o_custkey"], how="left_semi"
    ).select("c_custkey", "c_name")


@query(
    "join_anti",
    """SELECT c_custkey, c_name FROM customer
       WHERE NOT EXISTS (SELECT 1 FROM orders
                         WHERE o_custkey = c_custkey
                           AND o_orderpriority = '1-URGENT')""",
)
def q_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI join — NOT EXISTS: customers with no urgent orders."""
    customer, orders = prep(spark, sf_dir, "customer", "orders")
    urgent = orders.where(F.col("o_orderpriority") == "1-URGENT")
    return customer.join(
        urgent, on=customer["c_custkey"] == urgent["o_custkey"], how="left_anti"
    ).select("c_custkey", "c_name")


@query(
    "set_ops",
    """SELECT c_nationkey AS nationkey FROM customer
       INTERSECT
       SELECT s_nationkey AS nationkey FROM supplier""",
)
def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT (distinct set semantics) — nations having both
    customers and suppliers."""
    customer, supplier = prep(spark, sf_dir, "customer", "supplier")
    return customer.select(F.col("c_nationkey").alias("nationkey")).intersect(
        supplier.select(F.col("s_nationkey").alias("nationkey"))
    )


@query(
    "except_op",
    """SELECT p_brand AS brand FROM part
       EXCEPT
       SELECT p_brand AS brand FROM part WHERE p_size >= 50""",
)
def q_except_op(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT (distinct set) — brands with no size-50 part."""
    (part,) = prep(spark, sf_dir, "part")
    # subtract = set EXCEPT (exceptAll is multiset difference and would
    # leave per-row copies the SQL EXCEPT removes)
    return part.select(F.col("p_brand").alias("brand")).subtract(
        part.where(F.col("p_size") >= 50).select(F.col("p_brand").alias("brand"))
    )


# ========================================================================
# Remaining source/sink surface (S1/S3) + embedding near-dup
# ========================================================================


@_stage_once
def _stage_events_csv(out: str, spark: SparkSession, sf_dir: str) -> None:
    """The events columns scan_csv reads, as 4 CSV files with a header.
    Staged once: re-writing identical files every call timed the
    staging job, not the declared scan."""
    src = load_table(spark, sf_dir, "events").select("event_id", "user_id", "event_type", "value")
    src.repartition(4).write.mode("overwrite").option("header", "true").csv(out)


@query(
    "scan_csv",
    "SELECT event_id, user_id, event_type, value FROM events",
)
def q_scan_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declared-schema CSV scan (S1): events staged to CSV files, read
    back in ONE directory scan (vs the reference's 255 per-file
    inferSchema jobs, utils/spark_transforming.py:71-88).  The identity
    oracle proves the CSV round-trip is lossless (doubles via shortest
    round-trip repr)."""
    from pyspark.sql import types as T

    from hdfs_stream_processing_spark.sources.io import scan_csv_dir

    prep(spark, sf_dir, "events")
    csv_dir = _stage_events_csv(spark, sf_dir)
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    return scan_csv_dir(spark, csv_dir, schema)


@query(
    "sink_roundtrip",
    "SELECT event_id, ts, user_id, event_type, value FROM events",
)
def q_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned parquet batch sink + scan-back (S3;
    utils/spark_transforming.py:162).  partitionBy(event_type) is the
    layout choice that replaces the reference's global pre-write sort:
    partition pruning on read instead of a range shuffle on write."""
    from hdfs_stream_processing_spark.sources.io import write_parquet

    (events,) = prep(spark, sf_dir, "events")
    out = _mkdtemp("hsp_sink_")
    write_parquet(
        events.select("event_id", "ts", "user_id", "event_type", "value"),
        out,
        partition_by=["event_type"],
    )
    back = spark.read.parquet(out)
    # partition column comes back typed as read; restore column set/types
    return back.select("event_id", "ts", "user_id", F.col("event_type").cast("string"), "value")


@query(
    "compaction",
    "SELECT event_id, ts, user_id, event_type, value FROM events",
)
def q_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction round-trip (S3+): fragment events into 32
    micro-batch-sized files (what a streaming sink leaves behind), rewrite
    byte-budgeted via compact_parquet_dir, scan back.  The oracle asserts
    the rewrite is content-lossless; the file-count collapse is asserted
    in tests/test_schemas_io.py."""
    from hdfs_stream_processing_spark.sources.io import compact_parquet_dir, write_parquet

    (events,) = prep(spark, sf_dir, "events")
    cols = ["event_id", "ts", "user_id", "event_type", "value"]
    frag = _mkdtemp("hsp_frag_")
    write_parquet(events.select(cols).repartition(32), frag)
    out = _mkdtemp("hsp_compact_")
    compact_parquet_dir(spark, frag, out, target_file_mb=128)
    return spark.read.parquet(out).select(cols)


@query(
    "dedup_embedding",
    f"""WITH q AS (SELECT vec_id, label, {_QUANT_SQL.format(col='embedding')} AS qv
                   FROM embeddings),
       pairs AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                    CAST(list_sum(list_transform(list_zip(a.qv, b.qv), p -> p[1] * p[2])) AS DOUBLE)
                    / (sqrt(CAST(list_sum(list_transform(a.qv, x -> x * x)) AS DOUBLE))
                       * sqrt(CAST(list_sum(list_transform(b.qv, x -> x * x)) AS DOUBLE))) AS cosine
                 FROM q a JOIN q b ON a.label = b.label AND a.vec_id < b.vec_id)
       SELECT id_a, id_b, cosine FROM pairs WHERE cosine >= 0.3""",
)
def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup (N3 embedding variant): candidate pairs
    restricted to an equi-join key (label — in production an LSH bucket),
    exact quantized cosine, threshold filter.  Never all-pairs: the join
    is keyed, the cosine exact, the result oracle-checkable."""
    from hdfs_stream_processing_spark.operators.similarity import dot_q, quantized

    (embeddings,) = prep(spark, sf_dir, "embeddings")
    q = embeddings.select("vec_id", "label", quantized("embedding").alias("qv"))
    q = q.withColumn("qn", F.sqrt(dot_q(F.col("qv"), F.col("qv")).cast("double")))
    a = q.select(
        F.col("vec_id").alias("id_a"), F.col("label"), F.col("qv").alias("qa"), F.col("qn").alias("na")
    )
    b = q.select(
        F.col("vec_id").alias("id_b"), F.col("label"), F.col("qv").alias("qb"), F.col("qn").alias("nb")
    )
    pairs = a.join(b, "label").where(F.col("id_a") < F.col("id_b"))
    return (
        pairs.select(
            "id_a",
            "id_b",
            (dot_q(F.col("qa"), F.col("qb")).cast("double") / (F.col("na") * F.col("nb"))).alias("cosine"),
        )
        .where(F.col("cosine") >= 0.3)
    )


# ========================================================================
# Native search (ES replacement), time rollup, custom stateful streaming
# ========================================================================


@query(
    "text_search",
    f"""SELECT doc_id, COUNT(*) AS n_hits FROM (
         SELECT doc_id,
                unnest(list_transform(generate_series(2, least(10, length(token))),
                                      i -> {sql_fold('substr(token, 1, i)')})) AS ngram
         FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token
               FROM documents)
         WHERE length(token) >= 2)
       WHERE ngram = 'val'
       GROUP BY doc_id""",
)
def q_text_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix search through the inverted edge-ngram index — the
    reference's Elasticsearch search capability natively
    (convert-to-elasticsearch.py:20-57).  The oracle states the
    *semantics* (count token occurrences with the prefix); the engine
    answers it with one equi-filter on the index key."""
    from hdfs_stream_processing_spark.operators.text import build_search_index, search_prefix

    (documents,) = prep(spark, sf_dir, "documents")
    index = build_search_index(documents, "doc_id", "text")
    return search_prefix(index, "doc_id", "val")


@query(
    "time_rollup",
    """SELECT date_trunc('hour', ts) AS hour, event_type,
              COUNT(*) AS n,
              CAST(SUM(CAST(round(value * 100.0, 0) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_value
       FROM events
       GROUP BY ROLLUP(date_trunc('hour', ts), event_type)""",
)
def q_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style time rollup: hour × event_type with subtotals and
    grand total in ONE Expand+aggregate pass — the continuous-aggregate
    shape a sensor dashboard reads."""
    from hdfs_stream_processing_spark.operators.aggregates import rollup_agg

    (events,) = prep(spark, sf_dir, "events")
    with_hour = events.withColumn("hour", F.date_trunc("hour", F.col("ts")))
    cents = F.round(F.col("value") * F.lit(100.0), 0).cast("long")
    return rollup_agg(
        with_hour,
        ["hour", "event_type"],
        [
            F.count(F.lit(1)).alias("n"),
            (F.sum(cents).cast("double") / F.lit(100.0)).alias("sum_value"),
        ],
    )


@query(
    "stream_stateful",
    """SELECT user_id, COUNT(*) AS n_events,
              CAST(SUM(CAST(round(value * 100.0, 0) AS BIGINT)) AS BIGINT) AS sum_cents
       FROM events GROUP BY user_id""",
)
def q_stream_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState):
    per-user running totals that survive micro-batch boundaries.  Each
    batch emits the cumulative (n_events, sum_cents) per key touched;
    the FINAL emission per key — max_by n_events — is deterministic
    whatever the micro-batch boundaries, and must equal the batch
    GROUP BY over the whole stream (exact integer cents compose
    additively across batches).  That final state is what the oracle
    checks; the per-batch emission trail stays asserted in
    tests/test_streaming.py."""
    from hdfs_stream_processing_spark.operators.stateful import running_totals_per_key
    from hdfs_stream_processing_spark.streaming import run_to_memory, stream_parquet_source

    src_dir, schema = _stage_events(spark, sf_dir)
    stream = stream_parquet_source(spark, src_dir, schema, max_files_per_trigger=2)
    totals = running_totals_per_key(stream.select("user_id", "value"))
    with _conf_override(spark, "spark.sql.shuffle.partitions", "8"):
        emissions = run_to_memory(totals, output_mode="append")
    return emissions.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"),
        F.max_by("sum_cents", "n_events").alias("sum_cents"),
    )


# ========================================================================
# Session windows + skew-handling
# ========================================================================


@query(
    "session_agg",
    """WITH x AS (SELECT user_id, ts, value,
                CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                          > INTERVAL 5 MINUTE THEN 1 ELSE 0 END AS brk
         FROM events),
       s AS (SELECT user_id, ts, value,
                SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
             FROM x)
       SELECT user_id,
              MIN(ts) AS session_start,
              MAX(ts) + INTERVAL 5 MINUTE AS session_end,
              COUNT(*) AS n,
              CAST(SUM(CAST(round(value * 100.0, 0) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_value
       FROM s GROUP BY user_id, sess""",
)
def q_session_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (ST5, new vs reference): per-user sessions with a
    5-minute inactivity gap.  The oracle derives sessions relationally
    (lag-gap → cumulative break count) — proving Spark's native
    session_window semantics: an event starting exactly at the previous
    session's end (last + gap) still MERGES — the break is strictly
    greater than the gap (verified against Spark; boundary is closed)."""
    from hdfs_stream_processing_spark.streaming.pipeline import session_window_agg

    (events,) = prep(spark, sf_dir, "events")
    return session_window_agg(events, gap="5 minutes", watermark=None)


@query(
    "salted_agg",
    """SELECT event_type,
              CAST(SUM(CAST(round(value * 100.0, 0) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_value,
              COUNT(*) AS n
       FROM events GROUP BY event_type""",
)
def q_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted two-phase aggregation (skew handling, SURVEY §4): a hot
    key's rows spread over 16 salt buckets before the final merge.  The
    oracle is the PLAIN group-by — salting must be invisible in the
    result (exact integer partials re-add associatively)."""
    from hdfs_stream_processing_spark.operators.skew import salted_group_sum

    (events,) = prep(spark, sf_dir, "events")
    cents = F.round(F.col("value") * F.lit(100.0), 0).cast("long")
    return salted_group_sum(events, ["event_type"], cents, "sum_value", salt_buckets=16)


@query(
    "skew_join",
    """SELECT event_id, user_id, c_mktsegment, value
       FROM events JOIN customer ON user_id = c_custkey""",
)
def q_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted equi-join (skew handling, SURVEY §4): the fact side is
    salted over 8 buckets and the dim side replicated once per bucket,
    so a hot user's events spread over 8 reducers instead of one.  The
    oracle is the PLAIN join — salting must be invisible in the result.
    (At dim sizes under the broadcast threshold a plain broadcast join
    needs no salt; this operator is for the dim that doesn't fit.)"""
    from hdfs_stream_processing_spark.operators.skew import salted_join

    events, customer = prep(spark, sf_dir, "events", "customer")
    out = salted_join(
        events.select("event_id", "user_id", "value"),
        customer.select("c_custkey", "c_mktsegment"),
        "user_id",
        "c_custkey",
        salt_buckets=8,
    )
    return out.select("event_id", "user_id", "c_mktsegment", "value")


@query(
    "cdc_apply",
    """WITH ranked AS (
         SELECT user_id, ts, event_id, event_type, value,
                row_number() OVER (PARTITION BY user_id
                                   ORDER BY ts DESC, event_id DESC) AS rn
         FROM events)
       SELECT user_id, ts AS op_ts, event_type, value
       FROM ranked WHERE rn = 1 AND event_type <> 'error'""",
)
def q_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-capture merge (r5): the event log as a change stream
    — signup inserts, error deletes, everything else upserts — applied
    to produce the current per-user snapshot.  Latest op wins; a user
    whose latest op is a delete vanishes.  ONE window shuffle — the
    MERGE a mutable lake table runs per sync, with no join against the
    previous snapshot."""
    from hdfs_stream_processing_spark.operators.incremental import cdc_apply

    (events,) = prep(spark, sf_dir, "events")
    log = events.select("user_id", "ts", "event_id", "event_type", "value")
    op = (
        F.when(F.col("event_type") == "signup", F.lit("I"))
        .when(F.col("event_type") == "error", F.lit("D"))
        .otherwise(F.lit("U"))
    )
    snap = cdc_apply(log, ["user_id"], ["ts", "event_id"], op)
    return snap.select(
        "user_id", F.col("ts").alias("op_ts"), "event_type", "value"
    )


@query(
    "scd2_build",
    """WITH ordered AS (
         SELECT user_id, ts, event_id, event_type,
                lag(event_type) OVER w AS prev_type,
                row_number() OVER w AS rn
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
       vers AS (
         SELECT user_id, ts, event_id, event_type FROM ordered
         WHERE rn = 1 OR event_type IS DISTINCT FROM prev_type)
       SELECT user_id, event_type,
              ts AS valid_from,
              lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
              lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL AS is_current
       FROM vers""",
)
def q_scd2_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type 2 (r5): each user's event_type
    history as validity intervals — consecutive repeats collapsed, each
    surviving version stamped valid_from/valid_to (null = current).
    The suppression lag() and the interval-closing lead() share one key
    partitioning: ONE shuffle builds the whole history."""
    from hdfs_stream_processing_spark.operators.incremental import scd2_build

    (events,) = prep(spark, sf_dir, "events")
    return scd2_build(
        events, ["user_id"], "ts", "event_type", tiebreak_cols=["event_id"]
    ).drop("event_id")


@query(
    "scd2_merge",
    """WITH ordered AS (
         SELECT user_id, ts, event_id, event_type,
                lag(event_type) OVER w AS prev_type,
                row_number() OVER w AS rn
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
       vers AS (
         SELECT user_id, ts, event_id, event_type FROM ordered
         WHERE rn = 1 OR event_type IS DISTINCT FROM prev_type)
       SELECT user_id, event_type,
              ts AS valid_from,
              lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
              lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL AS is_current
       FROM vers""",
)
def q_scd2_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental SCD2 maintenance (r6): history is built from the
    first half-month of events, then the remaining days merge in as the
    nightly batch — open versions close or stay open (same-attribute
    suppression works ACROSS the boundary), closed history passes
    through untouched, and new keys build from the batch alone.  The
    oracle rebuilds from the full log: the merge must be row-identical
    to a from-scratch build."""
    from hdfs_stream_processing_spark.operators.incremental import (
        scd2_build,
        scd2_merge,
    )

    (events,) = prep(spark, sf_dir, "events")
    log = events.select("user_id", "ts", "event_id", "event_type")
    cutoff = F.lit("2024-01-16 00:00:00").cast("timestamp")
    existing = scd2_build(
        log.where(F.col("ts") < cutoff),
        ["user_id"], "ts", "event_type", tiebreak_cols=["event_id"],
    )
    return scd2_merge(
        existing,
        log.where(F.col("ts") >= cutoff),
        ["user_id"], "ts", "event_type", tiebreak_cols=["event_id"],
    )


@query(
    "scd2_multi",
    """WITH ordered AS (
         SELECT user_id, ts, event_id, event_type, value,
                lag(event_type) OVER w AS prev_type,
                lag(value) OVER w AS prev_value,
                row_number() OVER w AS rn
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
       vers AS (
         SELECT user_id, ts, event_id, event_type, value FROM ordered
         WHERE rn = 1 OR event_type IS DISTINCT FROM prev_type
                      OR value IS DISTINCT FROM prev_value)
       SELECT user_id, event_type, value,
              ts AS valid_from,
              lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
              lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL AS is_current
       FROM vers""",
)
def q_scd2_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-attribute SCD2 (r6): a version opens when ANY tracked
    column changes — the shape every real dimension table needs (a
    customer's segment OR region change both cut a new version).  Same
    one-shuffle window plan as the single-attribute build; change
    detection is the null-safe OR across tracked columns."""
    from hdfs_stream_processing_spark.operators.incremental import scd2_build

    (events,) = prep(spark, sf_dir, "events")
    return scd2_build(
        events, ["user_id"], "ts", ["event_type", "value"],
        tiebreak_cols=["event_id"],
    ).drop("event_id")


@query(
    "snapshot_diff",
    """WITH o AS (SELECT user_id, event_type, value FROM (
           SELECT user_id, event_type, value,
                  row_number() OVER (PARTITION BY user_id
                                     ORDER BY ts DESC, event_id DESC) AS rn
           FROM events WHERE ts < TIMESTAMP '2024-01-16 00:00:00') WHERE rn = 1),
       n AS (SELECT user_id, event_type, value FROM (
           SELECT user_id, event_type, value,
                  row_number() OVER (PARTITION BY user_id
                                     ORDER BY ts DESC, event_id DESC) AS rn
           FROM events) WHERE rn = 1)
       SELECT coalesce(o.user_id, n.user_id) AS user_id,
              CASE WHEN o.user_id IS NULL THEN 'added'
                   WHEN n.user_id IS NULL THEN 'removed'
                   WHEN (o.event_type IS DISTINCT FROM n.event_type)
                     OR (o.value IS DISTINCT FROM n.value) THEN 'changed'
              END AS status,
              o.event_type AS old_event_type, o.value AS old_value,
              n.event_type AS new_event_type, n.value AS new_value
       FROM o FULL JOIN n ON o.user_id = n.user_id
       WHERE o.user_id IS NULL OR n.user_id IS NULL
          OR (o.event_type IS DISTINCT FROM n.event_type)
          OR (o.value IS DISTINCT FROM n.value)""",
)
def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed snapshot diff (r5): mid-month state vs final state of the
    per-user latest row — which users were added, changed, or removed,
    with old/new values side by side.  One co-partitioned full-outer
    join; unchanged keys drop out, so the output is the (small) delta
    no matter the table size."""
    from hdfs_stream_processing_spark.operators.incremental import (
        cdc_apply,
        snapshot_diff,
    )

    (events,) = prep(spark, sf_dir, "events")
    log = events.select("user_id", "ts", "event_id", "event_type", "value")
    latest = lambda df: cdc_apply(  # noqa: E731 — pure latest, no deletes
        df, ["user_id"], ["ts", "event_id"], F.lit("U")
    ).select("user_id", "event_type", "value")
    cutoff = F.lit("2024-01-16 00:00:00").cast("timestamp")
    old = latest(log.where(F.col("ts") < cutoff))
    new = latest(log)
    return snapshot_diff(old, new, ["user_id"], ["event_type", "value"])


#: The events-table rule set shared by dq_checks (batch) and stream_dq
#: (unbounded frame) — TRUE = the row violates the rule.
_DQ_RULES = [
    ("value_in_range", lambda: (F.col("value") < 0) | (F.col("value") > 95)),
    (
        "event_type_in_domain",
        lambda: ~F.col("event_type").isin(
            "view", "click", "purchase", "signup", "error"
        ),
    ),
    ("props_not_null", lambda: F.col("props").isNull()),
    (
        "props_json_shape",
        lambda: ~F.col("props").rlike(r'^\{"k": \d+\}$'),
    ),
]

_DQ_ORACLE_PER_ROW = r"""
  SELECT CAST(sum(CASE WHEN value < 0 OR value > 95 THEN 1 ELSE 0 END) AS BIGINT) AS v_range,
         CAST(sum(CASE WHEN event_type NOT IN ('view','click','purchase','signup','error') THEN 1 ELSE 0 END) AS BIGINT) AS v_domain,
         CAST(sum(CASE WHEN props IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v_null,
         CAST(sum(CASE WHEN props IS NOT NULL AND NOT regexp_matches(props, '^\{"k": \d+\}$') THEN 1 ELSE 0 END) AS BIGINT) AS v_shape
  FROM events"""


@query(
    "dq_checks",
    f"""WITH per_row AS ({_DQ_ORACLE_PER_ROW}),
       fk AS (SELECT count(*) AS v_fk
              FROM events e ANTI JOIN customer c ON e.user_id = c.c_custkey)
       SELECT 'value_in_range' AS rule, v_range AS n_violations FROM per_row
       UNION ALL SELECT 'event_type_in_domain', v_domain FROM per_row
       UNION ALL SELECT 'props_not_null', v_null FROM per_row
       UNION ALL SELECT 'props_json_shape', v_shape FROM per_row
       UNION ALL SELECT 'user_fk_exists', v_fk FROM fk""",
)
def q_dq_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality report (r5): every per-row rule (range, domain,
    not-null, JSON shape) measured in ONE aggregate pass over the
    table, plus the referential-integrity rule as an anti-join against
    the broadcastable customer key set.  The reference's only gate was
    a silent dropna(); this measures instead of discarding."""
    from hdfs_stream_processing_spark.operators.quality import (
        dq_check,
        fk_violations,
    )

    events, customer = prep(spark, sf_dir, "events", "customer")
    per_row = dq_check(events, [(n, p()) for n, p in _DQ_RULES])
    fk = fk_violations(events, "user_id", customer, "c_custkey", "user_fk_exists")
    return per_row.unionByName(fk)


@query(
    "stream_dq",
    f"""WITH per_row AS ({_DQ_ORACLE_PER_ROW})
       SELECT 'value_in_range' AS rule, v_range AS n_violations FROM per_row
       UNION ALL SELECT 'event_type_in_domain', v_domain FROM per_row
       UNION ALL SELECT 'props_not_null', v_null FROM per_row
       UNION ALL SELECT 'props_json_shape', v_shape FROM per_row""",
)
def q_stream_dq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME per-row rule set on the unbounded frame (r5): quality
    counters accumulate across micro-batches as a streaming global
    aggregate; complete-mode availableNow emission must equal the batch
    report — one rule list, two execution modes."""
    from hdfs_stream_processing_spark.operators.quality import dq_check
    from hdfs_stream_processing_spark.streaming import (
        run_to_memory,
        stream_parquet_source,
    )

    src_dir, schema = _stage_events(spark, sf_dir)
    stream = stream_parquet_source(spark, src_dir, schema, max_files_per_trigger=2)
    report = dq_check(stream, [(n, p()) for n, p in _DQ_RULES])
    with _conf_override(spark, "spark.sql.shuffle.partitions", "8"):
        return run_to_memory(report, output_mode="complete")


#: The full IVF pipeline (md5 init → 3 Lloyd steps → assignment →
#: nprobe=2 probes → in-cell re-rank) as reusable oracle CTEs ending in
#: ``rescored`` — shared by similarity_ivf and ann_recall.
_IVF_RESCORED_CTES = f"""q AS (SELECT vec_id, {_QUANT_SQL.format(col='embedding')} AS qv FROM embeddings),
       c0 AS (SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cell,
                     qv AS cv
              FROM q ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16),
       {_ivf_iter_sql('c0', 'c1')},
       {_ivf_iter_sql('c1', 'c2')},
       {_ivf_iter_sql('c2', 'c3')},
       corpus AS (
         SELECT vec_id AS neighbor_id, qv AS nv, cell FROM (
           SELECT q.vec_id, q.qv, c.cell,
                  row_number() OVER (PARTITION BY q.vec_id
                                     ORDER BY {_AFF_SQL} DESC, c.cell ASC) AS rn
           FROM q CROSS JOIN c3 c) WHERE rn = 1),
       probes AS (
         SELECT vec_id AS query_id, qv AS pv, cell FROM (
           SELECT q.vec_id, q.qv, c.cell,
                  row_number() OVER (PARTITION BY q.vec_id
                                     ORDER BY {_AFF_SQL} DESC, c.cell ASC) AS rn
           FROM q CROSS JOIN c3 c) WHERE rn <= 2),
       rescored AS (
         SELECT p.query_id, c.neighbor_id,
                CAST({_DOT_SQL.format(a='p.pv', b='c.nv')} AS DOUBLE)
                / ({_NORM_SQL.format(a='p.pv')} * {_NORM_SQL.format(a='c.nv')}) AS cosine
         FROM probes p JOIN corpus c USING (cell)
         WHERE p.query_id <> c.neighbor_id)"""


@query(
    "similarity_ivf",
    f"""WITH {_IVF_RESCORED_CTES}
       SELECT query_id, neighbor_id, cosine, CAST(rank AS INT) AS rank FROM (
         SELECT query_id, neighbor_id, cosine,
                row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id ASC) AS rank
         FROM rescored) WHERE rank <= 10""",
)
def q_similarity_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-bucketed ANN (N1 alternative scale path to LSH): deterministic
    k-means coarse cells (md5-ordered init + 3 Lloyd iterations) + nprobe
    search + exact in-cell re-rank — oracled END-TO-END bit-exact
    (VERDICT r4 #5): every stage is exact-integer / fixed-double
    arithmetic, so the oracle replays the full Lloyd recurrence, the
    nprobe probe selection, and the quantized-cosine re-rank in SQL.
    Recall@10 vs brute force is additionally asserted in
    tests/test_llm_ops.py."""
    from hdfs_stream_processing_spark.operators.similarity import ivf_topk

    (embeddings,) = prep(spark, sf_dir, "embeddings")
    return ivf_topk(embeddings, n_cells=16, nprobe=2, k=10, n_iters=3)


@query(
    "ann_recall",
    f"""WITH {_IVF_RESCORED_CTES},
       ivf AS (
         SELECT query_id, neighbor_id FROM (
           SELECT query_id, neighbor_id,
                  row_number() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, neighbor_id ASC) AS rank
           FROM rescored WHERE query_id < 100) WHERE rank <= 10),
       exact AS (
         SELECT query_id, neighbor_id FROM (
           SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                  row_number() OVER (PARTITION BY a.vec_id ORDER BY
                    CAST({_DOT_SQL.format(a='a.qv', b='b.qv')} AS DOUBLE)
                    / ({_NORM_SQL.format(a='a.qv')} * {_NORM_SQL.format(a='b.qv')}) DESC,
                    b.vec_id ASC) AS rank
           FROM (SELECT * FROM q WHERE vec_id < 100) a CROSS JOIN q b
           WHERE a.vec_id <> b.vec_id) WHERE rank <= 10)
       SELECT e.query_id,
              CAST(count(i.neighbor_id) AS BIGINT) AS n_hits,
              CAST(count(i.neighbor_id) AS DOUBLE) / 10.0 AS recall_at_10
       FROM exact e LEFT JOIN ivf i
         ON e.query_id = i.query_id AND e.neighbor_id = i.neighbor_id
       GROUP BY e.query_id""",
)
def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality contract (r6): recall@10 of the IVF index vs exact
    brute-force top-10, per query, for 100 query vectors against the
    full corpus — the measurement that justifies shipping the
    approximate path.  Overlap COUNTS are integers, so the whole
    quality metric is oracle-hashable end-to-end (the oracle replays
    both the exact ranking and the full IVF pipeline in SQL).  The
    driver tables' embeddings are uniform random — the hardest case
    for any partitioning index — so recall at the nprobe=2 operating
    point sits near 0.33; the recall-vs-nprobe contract (monotone,
    ≥ 0.9 at nprobe 12/16, exactly 1.0 at exhaustive nprobe=16) is
    asserted in tests/test_llm_ops.py."""
    from hdfs_stream_processing_spark.operators.similarity import (
        ivf_topk,
        similarity_topk,
    )

    (embeddings,) = prep(spark, sf_dir, "embeddings")
    qf = F.col("vec_id") < 100
    exact = similarity_topk(
        embeddings, "vec_id", "embedding", queries_filter=qf, k=10
    ).select("query_id", "neighbor_id")
    approx = ivf_topk(
        embeddings, n_cells=16, nprobe=2, k=10, n_iters=3, queries_filter=qf
    ).select("query_id", "neighbor_id")
    joined = exact.join(
        approx.withColumn("_hit", F.lit(1)), ["query_id", "neighbor_id"], "left"
    )
    return joined.groupBy("query_id").agg(
        F.count("_hit").alias("n_hits"),
        (F.count("_hit").cast("double") / F.lit(10.0)).alias("recall_at_10"),
    )


@query(
    "ivf_assign",
    f"""WITH q AS (SELECT vec_id, {_QUANT_SQL.format(col='embedding')} AS qv
                   FROM embeddings),
       cents AS (SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cell,
                        qv AS cv
                 FROM q ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16),
       aff AS (SELECT q.vec_id, c.cell,
                      CAST(list_sum(list_transform(list_zip(q.qv, c.cv), p -> p[1] * p[2])) AS DOUBLE)
                      / (sqrt(CAST(list_sum(list_transform(q.qv, x -> x * x)) AS DOUBLE))
                         * sqrt(CAST(list_sum(list_transform(c.cv, x -> x * x)) AS DOUBLE))) AS a
               FROM q CROSS JOIN cents c)
       SELECT vec_id, CAST(cell AS INTEGER) AS cell FROM (
         SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY a DESC, cell ASC) AS rn
         FROM aff)
       WHERE rn = 1""",
)
def q_ivf_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF assignment stage, oracled bit-exact: every corpus vector's
    argmax-cosine cell against the md5-ordered init centroids (the same
    expression that runs inside every Lloyd step and at query time).
    The oracle re-derives the identical centroids in SQL — md5 ordering
    and quantized integer arithmetic are engine-portable — and does the
    argmax with an independent formulation (cross join + window) against
    Spark's literal-centroid codegen expression."""
    from hdfs_stream_processing_spark.operators.similarity import (
        assign_cells,
        ivf_init_centroids,
        quantized,
    )

    (embeddings,) = prep(spark, sf_dir, "embeddings")
    cents = ivf_init_centroids(embeddings, "vec_id", "embedding", n_cells=16)
    q = embeddings.select("vec_id", quantized("embedding").alias("qv"))
    return assign_cells(q, cents).select("vec_id", "cell")


@query(
    "multimodal_features",
    """SELECT doc_id, octet_length(encode(text)) AS n_bytes FROM documents""",
)
def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature extraction over binary payloads (mapInPandas model-stage
    plumbing).  The oracle checks the relational spine (ids + byte
    lengths); the md5-derived feature vectors are validated in
    tests/test_llm_ops.py."""
    from hdfs_stream_processing_spark.operators.multimodal import (
        attach_payload,
        extract_features,
    )

    (documents,) = prep(spark, sf_dir, "documents")
    feats = extract_features(attach_payload(documents, "doc_id", "text"))
    return feats.select("doc_id", "n_bytes")


@query("similarity_topk_np")  # float GEMM path → rows-only (not bit-portable)
def q_similarity_topk_np(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vectorized brute-force top-k: broadcast query matrix, one numpy
    GEMM per Arrow batch (the 10-100x pandas-UDF-over-per-row path).
    Float results → rows-only; ranking agreement with the exact variant
    is asserted in tests."""
    from hdfs_stream_processing_spark.operators.similarity import similarity_topk_np

    (embeddings,) = prep(spark, sf_dir, "embeddings")
    return similarity_topk_np(
        embeddings, queries_filter=F.col("vec_id") < 20, k=10
    )


# ========================================================================
# Temporal joins (as-of, range) — custom operators Spark lacks natively
# ========================================================================


@query(
    "asof_join",
    """SELECT l.event_id, l.user_id, l.ts, l.value,
              r.ts AS asof_ts, r.value AS asof_value
       FROM (SELECT * FROM events WHERE event_type = 'click') l
       ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') r
         ON l.user_id = r.user_id AND l.ts >= r.ts""",
)
def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for each click, the user's most recent purchase
    at-or-before it.  The oracle is DuckDB's NATIVE ASOF JOIN — Spark
    has no such operator; ours is a union + one window pass per key
    (operators/temporal.py), no join explosion."""
    from hdfs_stream_processing_spark.operators.temporal import asof_join

    (events,) = prep(spark, sf_dir, "events")
    clicks = events.where(F.col("event_type") == "click")
    purchases = events.where(F.col("event_type") == "purchase")
    out = asof_join(
        clicks, purchases, "user_id", "ts", "ts", ["ts", "value"],
        right_tiebreak="event_id",
    )
    return out.select("event_id", "user_id", "ts", "value", "asof_ts", "asof_value")


@query(
    "range_join",
    """SELECT l.event_id, r.event_id AS r_event_id,
              date_diff('microsecond', l.ts, r.ts) AS dt_us
       FROM events l JOIN events r
         ON l.user_id = r.user_id
        AND l.event_type = 'click' AND r.event_type = 'purchase'
        AND abs(date_diff('microsecond', l.ts, r.ts)) <= 120000000""",
)
def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join: (click, purchase) pairs of the same user within
    ±120 s — executed as an equi-join on (user, time bucket) with the
    left side exploded into adjacent buckets (operators/temporal.py);
    the non-equi predicate never reaches the join."""
    from hdfs_stream_processing_spark.operators.temporal import range_join_buckets

    (events,) = prep(spark, sf_dir, "events")
    clicks = events.where(F.col("event_type") == "click")
    purchases = events.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id"
    )
    out = range_join_buckets(clicks, purchases, "user_id", "ts", "ts", 120)
    return out.select(
        "event_id",
        F.col("r_event_id"),
        (F.unix_micros(F.col("r_ts")) - F.unix_micros(F.col("ts"))).alias("dt_us"),
    )


# ========================================================================
# Pivot / unpivot, null handling, regex, percentiles
# ========================================================================


@query(
    "pivot_wide",
    """SELECT user_id,
              CAST(SUM(CASE WHEN event_type = 'click'    THEN CAST(round(value*100.0,0) AS BIGINT) ELSE 0 END) AS DOUBLE)/100.0 AS click,
              CAST(SUM(CASE WHEN event_type = 'view'     THEN CAST(round(value*100.0,0) AS BIGINT) ELSE 0 END) AS DOUBLE)/100.0 AS view,
              CAST(SUM(CASE WHEN event_type = 'purchase' THEN CAST(round(value*100.0,0) AS BIGINT) ELSE 0 END) AS DOUBLE)/100.0 AS purchase,
              CAST(SUM(CASE WHEN event_type = 'signup'   THEN CAST(round(value*100.0,0) AS BIGINT) ELSE 0 END) AS DOUBLE)/100.0 AS signup,
              CAST(SUM(CASE WHEN event_type = 'error'    THEN CAST(round(value*100.0,0) AS BIGINT) ELSE 0 END) AS DOUBLE)/100.0 AS error
       FROM events GROUP BY user_id""",
)
def q_pivot_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: narrow (user, type, value) → wide per-type columns — the
    alternative alignment strategy for the reference's sensor streams
    (SURVEY §1.1).  Explicit value list → single-pass hash aggregate, no
    extra distinct-values job.  Missing cells are 0 (cents sum of an
    empty set)."""
    (events,) = prep(spark, sf_dir, "events")
    cents = F.round(F.col("value") * F.lit(100.0), 0).cast("long")
    return (
        events.groupBy("user_id")
        .pivot("event_type", ["click", "view", "purchase", "signup", "error"])
        .agg((F.coalesce(F.sum(cents), F.lit(0)).cast("double") / F.lit(100.0)))
    )


@query(
    "unpivot_narrow",
    """SELECT l_orderkey, l_linenumber, measure, value FROM (
         SELECT l_orderkey, l_linenumber, 'quantity' AS measure, l_quantity AS value FROM lineitem
         UNION ALL
         SELECT l_orderkey, l_linenumber, 'extendedprice', l_extendedprice FROM lineitem
         UNION ALL
         SELECT l_orderkey, l_linenumber, 'discount', l_discount FROM lineitem)""",
)
def q_unpivot_narrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot/melt: wide measure columns → (measure, value) rows via
    stack() — ONE scan of the input (the oracle's UNION ALL shape scans
    three times; Catalyst's Expand does it in one)."""
    (lineitem,) = prep(spark, sf_dir, "lineitem")
    return lineitem.selectExpr(
        "l_orderkey",
        "l_linenumber",
        "stack(3, 'quantity', l_quantity, 'extendedprice', l_extendedprice,"
        " 'discount', l_discount) AS (measure, value)",
    )


@query(
    "fill_nulls",
    """SELECT event_id,
              COALESCE(CASE WHEN value > 450.0 THEN NULL ELSE value END, -1.0) AS value_filled,
              CASE WHEN value > 450.0 THEN 'outlier' ELSE 'ok' END AS status
       FROM events""",
)
def q_fill_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null handling: nullify outliers, then na.fill — the
    clean-and-impute step every ingest pipeline needs (the reference
    only ever drops, utils/spark_transforming.py:145)."""
    (events,) = prep(spark, sf_dir, "events")
    nulled = events.select(
        "event_id",
        F.when(F.col("value") > 450.0, F.lit(None)).otherwise(F.col("value")).alias("value_filled"),
        F.when(F.col("value") > 450.0, "outlier").otherwise("ok").alias("status"),
    )
    return nulled.na.fill({"value_filled": -1.0})


@query(
    "regex_extract",
    """SELECT event_id, regexp_extract(props, '[0-9]+', 0) AS k_digits,
              CASE WHEN regexp_matches(props, '"k": [0-9]{2}}$') THEN 1 ELSE 0 END AS two_digit
       FROM events""",
)
def q_regex_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex extraction/matching over the raw props string (simple
    character-class patterns behave identically in Java regex and RE2)."""
    (events,) = prep(spark, sf_dir, "events")
    return events.select(
        "event_id",
        F.regexp_extract("props", "[0-9]+", 0).alias("k_digits"),
        F.when(F.col("props").rlike('"k": [0-9]{2}}$'), 1).otherwise(0).alias("two_digit"),
    )


@query(
    "percentiles",
    """SELECT event_type,
              quantile_cont(value, 0.5) AS p50,
              quantile_cont(value, 0.9) AS p90,
              quantile_cont(value, 0.99) AS p99
       FROM events GROUP BY event_type""",
)
def q_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (dashboard latency-style
    metric).  Spark's percentile() and DuckDB's quantile_cont use the
    same (n-1)p interpolation — verified bit-equal.  At 100 TB swap in
    approx_percentile (t-digest) — the exact one materializes per-group
    sorted arrays."""
    (events,) = prep(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("p50"),
        F.expr("percentile(value, 0.9)").alias("p90"),
        F.expr("percentile(value, 0.99)").alias("p99"),
    )


@_stage_once
def _stage_events_wire(out: str, spark: SparkSession, sf_dir: str) -> None:
    """The events as delimited wire strings (the Kafka value format,
    dataframe_to_kafka.py:74), 4 text files."""
    cols = [F.col("event_id"), F.col("user_id"), F.col("event_type"), F.col("value")]
    wire = load_table(spark, sf_dir, "events").select(to_wire(cols).alias("value"))
    wire.repartition(4).write.mode("overwrite").text(out)


@query(
    "stream_wire_ingest",
    """SELECT event_id, user_id, event_type, value,
              CASE WHEN value > 75.0 THEN 'high'
                   WHEN value > 25.0 THEN 'mid'
                   ELSE 'low' END AS tier
       FROM events""",
)
def q_stream_wire_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's EXACT streaming shape end-to-end: delimited wire
    strings (the Kafka value format, dataframe_to_kafka.py:74) arrive on
    a text stream, from_csv decodes them INSIDE the streaming plan
    (convert-to-elasticsearch.py:107-114's split/cast, as one expression),
    CASE classifies, availableNow drains.  The identity-plus-CASE oracle
    proves the full wire → typed → classified streaming path is lossless.
    """
    from pyspark.sql import types as T

    from hdfs_stream_processing_spark.functions.wire import decode_df
    from hdfs_stream_processing_spark.streaming import classify_movement, run_to_memory

    prep(spark, sf_dir, "events")
    stream = spark.readStream.text(_stage_events_wire(spark, sf_dir))  # value: string — the Kafka shape
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    typed = decode_df(stream, schema)
    return run_to_memory(classify_movement(typed))


@query(
    "stream_stream_join",
    """SELECT l.event_id, r.event_id AS r_event_id, l.user_id,
              date_diff('microsecond', l.ts, r.ts) AS dt_us
       FROM events l JOIN events r
         ON l.user_id = r.user_id
        AND l.event_type = 'click' AND r.event_type = 'purchase'
        AND abs(date_diff('microsecond', l.ts, r.ts)) <= 120000000""",
)
def q_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join (new vs reference): click and purchase
    STREAMS joined on user within ±120 s, both sides watermarked state.
    availableNow over the finite source makes it equal to the batch
    interval join — the oracle."""
    from hdfs_stream_processing_spark.streaming import run_to_memory, stream_parquet_source
    from hdfs_stream_processing_spark.streaming.pipeline import stream_stream_interval_join

    src_dir, schema = _stage_events(spark, sf_dir)
    clicks = (
        stream_parquet_source(spark, src_dir, schema)
        .where(F.col("event_type") == "click")
        .select("event_id", "user_id", "ts")
    )
    purchases = (
        stream_parquet_source(spark, src_dir, schema)
        .where(F.col("event_type") == "purchase")
        .select(F.col("event_id").alias("r_id"), F.col("user_id").alias("r_user"), F.col("ts").alias("r_ts"))
    )
    joined = stream_stream_interval_join(
        clicks.withColumnRenamed("user_id", "user_id"),
        purchases.withColumnRenamed("r_user", "user_id"),
        "user_id",
        left_ts="ts",
        right_ts="r_ts",
        max_gap_seconds=120,
    )
    # two-sided state: 8 state partitions halve wall time at this keyed-
    # state volume (conf read at stream start, restored after)
    with _conf_override(spark, "spark.sql.shuffle.partitions", "8"):
        out = run_to_memory(joined)
    return out.select(
        "event_id",
        F.col("r_id").alias("r_event_id"),
        "user_id",
        (F.unix_micros(F.col("r_ts")) - F.unix_micros(F.col("ts"))).alias("dt_us"),
    )


# ========================================================================
# Profiling + reproducible sampling
# ========================================================================


@query(
    "profile_table",
    """WITH w AS (SELECT
         COUNT(*) AS a_n, CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS a_nulls,
         CAST(MIN(value) AS DOUBLE) AS a_min, CAST(MAX(value) AS DOUBLE) AS a_max,
         COUNT(DISTINCT value) AS a_d,
         COUNT(*) AS b_n, CAST(SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS b_nulls,
         CAST(MIN(user_id) AS DOUBLE) AS b_min, CAST(MAX(user_id) AS DOUBLE) AS b_max,
         COUNT(DISTINCT user_id) AS b_d
       FROM events)
       SELECT 'value' AS column, a_n AS n, a_nulls AS n_nulls, a_min AS min_value,
              a_max AS max_value, a_d AS n_distinct FROM w
       UNION ALL
       SELECT 'user_id', b_n, b_nulls, b_min, b_max, b_d FROM w""",
)
def q_profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass numeric profile of events (count/nulls/min/max/distinct
    per column, unpivoted) — the what-is-in-this-table op every pipeline
    runs first."""
    from hdfs_stream_processing_spark.operators.profile import profile_numeric

    (events,) = prep(spark, sf_dir, "events")
    return profile_numeric(events, ["value", "user_id"])


@query(
    "histogram",
    """SELECT floor(value / 25.0) * 25.0 AS bin_start, COUNT(*) AS n
       FROM events GROUP BY 1""",
)
def q_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width value histogram — exact, portable binning."""
    from hdfs_stream_processing_spark.operators.profile import histogram

    (events,) = prep(spark, sf_dir, "events")
    return histogram(events, "value", 25.0)


@query(
    "sample_hash",
    """SELECT event_id, user_id, value FROM events
       WHERE ('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8))::UBIGINT::BIGINT % 100 < 10""",
)
def q_sample_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~10% sample by md5 hash bucket of the key —
    reproducible across engines/runs/partitionings, unlike rand() or
    TABLESAMPLE (the oracle literally selects the same rows)."""
    from hdfs_stream_processing_spark.operators.profile import sample_hash

    (events,) = prep(spark, sf_dir, "events")
    return sample_hash(events.select("event_id", "user_id", "value"), "event_id", 10)


@query(
    "sample_stratified",
    """SELECT event_id, event_type, value FROM (
         SELECT event_id, event_type, value,
                row_number() OVER (PARTITION BY event_type
                                   ORDER BY md5(CAST(event_id AS VARCHAR)), event_id) AS rn
         FROM events) WHERE rn <= 50""",
)
def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly 50 rows per event_type, picked by deterministic
    hash-order (pseudo-random but reproducible) — the per-class quota
    sampler for training-data balancing."""
    from hdfs_stream_processing_spark.operators.profile import sample_stratified

    (events,) = prep(spark, sf_dir, "events")
    return sample_stratified(
        events.select("event_id", "event_type", "value"),
        ["event_type"],
        50,
        [F.md5(F.col("event_id").cast("string")), F.col("event_id")],
    )


# ========================================================================
# max_by/min_by, ordered string_agg, cube, time-range window frames
# ========================================================================


@query(
    "minmax_by",
    """WITH c AS (SELECT user_id, event_id,
                         CAST(round(value*100.0,0) AS BIGINT) AS cents
                  FROM events),
         w AS (SELECT user_id, event_id,
                      row_number() OVER (PARTITION BY user_id
                                         ORDER BY cents DESC, event_id DESC) AS rb,
                      row_number() OVER (PARTITION BY user_id
                                         ORDER BY cents ASC, event_id ASC) AS rw
               FROM c)
       SELECT user_id,
              MAX(CASE WHEN rb = 1 THEN event_id END) AS best_event,
              MAX(CASE WHEN rw = 1 THEN event_id END) AS worst_event
       FROM w GROUP BY user_id""",
)
def q_minmax_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """arg-max/arg-min per group (max_by/min_by): the event with the
    highest/lowest value per user.  The ordering key is a struct of
    (exact cents, unique event_id) — lexicographic struct comparison
    makes ties impossible at ANY scale (no packed-integer multiplier to
    overflow), where bare max_by on a double with duplicate values is
    engine-arbitrary.  The oracle deliberately uses a different
    formulation (row_number windows) so a tie-handling bug on either
    side cannot self-confirm."""
    (events,) = prep(spark, sf_dir, "events")
    cents = F.round(F.col("value") * F.lit(100.0), 0).cast("long")
    ordk = F.struct(cents.alias("cents"), F.col("event_id").alias("id"))
    return events.groupBy("user_id").agg(
        F.max_by("event_id", ordk).alias("best_event"),
        F.min_by("event_id", ordk).alias("worst_event"),
    )


@query(
    "string_agg_sorted",
    """SELECT user_id % 10 AS cohort,
              string_agg(DISTINCT event_type, ',' ORDER BY event_type) AS types
       FROM events GROUP BY user_id % 10""",
)
def q_string_agg_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation: sorted-distinct concatenation per
    group — deterministic despite collect_list's arbitrary order because
    the sort happens after collection."""
    (events,) = prep(spark, sf_dir, "events")
    return events.groupBy((F.col("user_id") % 10).alias("cohort")).agg(
        F.concat_ws(",", F.array_sort(F.array_distinct(F.collect_list("event_type")))).alias(
            "types"
        )
    )


@query(
    "cube_agg",
    """SELECT l_returnflag, l_linestatus, COUNT(*) AS n
       FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)""",
)
def q_cube_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets (every key combination + totals) — one
    Expand + hash-aggregate pass, like rollup."""
    (lineitem,) = prep(spark, sf_dir, "lineitem")
    return lineitem.cube("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n")
    )


@query(
    "window_time_range",
    """SELECT event_id, user_id, ts,
              COUNT(*) OVER w AS n_10min,
              CAST(SUM(CAST(round(value*100.0,0) AS BIGINT)) OVER w AS DOUBLE) / 100.0 AS sum_10min
       FROM events
       WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                    RANGE BETWEEN 600000000 PRECEDING AND CURRENT ROW)""",
)
def q_window_time_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-based RANGE window frame: trailing-10-minute count/sum per
    user — the sliding-metric shape (rate limiting, rolling load).  The
    frame is anchored on integer epoch-µs in BOTH engines: Spark's
    rangeBetween needs a numeric ordering key, and a naive
    ts.cast('long') would truncate to seconds and silently widen the
    frame."""
    from pyspark.sql import Window

    (events,) = prep(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts")))
        .rangeBetween(-600_000_000, 0)
    )
    cents = F.round(F.col("value") * F.lit(100.0), 0).cast("long")
    return events.select(
        "event_id",
        "user_id",
        "ts",
        F.count(F.lit(1)).over(w).alias("n_10min"),
        (F.sum(cents).over(w).cast("double") / F.lit(100.0)).alias("sum_10min"),
    )


# ========================================================================
# Iterative: connected components over near-dup pairs → cluster dedup
# ========================================================================

_PAIRS_SQL = f"""WITH RECURSIVE {_MINHASH_SQL_BASE},
       banded AS (SELECT doc_id, CAST(floor(seed / 2.0) AS INT) AS band, minhash FROM sig),
       band_sig AS (SELECT doc_id, band,
                           md5(array_to_string(list_sort(list(minhash)), ',')) AS band_hash
                    FROM banded GROUP BY doc_id, band),
       pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
                 FROM band_sig a JOIN band_sig b USING (band, band_hash)
                 WHERE a.doc_id < b.doc_id)"""


@query(
    "dedup_clusters",
    f"""{_PAIRS_SQL},
       edges(u, v) AS (SELECT id_a, id_b FROM pairs UNION SELECT id_b, id_a FROM pairs),
       reach(id, r) AS (
         SELECT u, u FROM edges
         UNION
         SELECT e.u, reach.r FROM edges e JOIN reach ON e.v = reach.id)
       SELECT id, MIN(r) AS component FROM reach GROUP BY id""",
)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the MinHash-LSH candidate pairs: every
    near-dup doc labeled with its duplicate cluster (min member id).
    Iterative min-label propagation with a driver convergence loop
    (operators/graph.py) — the oracle is a recursive CTE computing the
    same fixpoint, so even the ITERATIVE algorithm is hash-checked."""
    from hdfs_stream_processing_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signature_wide,
    )
    from hdfs_stream_processing_spark.operators.graph import connected_components

    (documents,) = prep(spark, sf_dir, "documents")
    sig = minhash_signature_wide(documents, "doc_id", "text", num_hashes=8, shingle_n=2)
    pairs = lsh_candidate_pairs(sig, "doc_id", num_hashes=8, band_size=2)
    return connected_components(pairs)


@query(
    "dedup_keep",
    f"""{_PAIRS_SQL},
       edges(u, v) AS (SELECT id_a, id_b FROM pairs UNION SELECT id_b, id_a FROM pairs),
       reach(id, r) AS (
         SELECT u, u FROM edges
         UNION
         SELECT e.u, reach.r FROM edges e JOIN reach ON e.v = reach.id),
       comp AS (SELECT id, MIN(r) AS component FROM reach GROUP BY id)
       SELECT d.doc_id, d.lang, d.source FROM documents d
       LEFT JOIN comp ON d.doc_id = comp.id
       WHERE comp.id IS NULL OR d.doc_id = comp.component""",
)
def q_dedup_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end near-dup dedup: pairs → components → one surviving
    representative (min id) per cluster, non-duplicates untouched.  The
    complete production dedup pipeline as one checked query."""
    from hdfs_stream_processing_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signature_wide,
    )
    from hdfs_stream_processing_spark.operators.graph import (
        cluster_representatives,
        connected_components,
    )

    (documents,) = prep(spark, sf_dir, "documents")
    sig = minhash_signature_wide(documents, "doc_id", "text", num_hashes=8, shingle_n=2)
    pairs = lsh_candidate_pairs(sig, "doc_id", num_hashes=8, band_size=2)
    comp = connected_components(pairs)
    return cluster_representatives(
        documents.select("doc_id", "lang", "source"), comp, "doc_id"
    )


@query(
    "multimodal_frames",
    """SELECT doc_id, frame_idx,
              md5(substr(text, CAST(frame_idx * 64 + 1 AS INT), 64)) AS frame_md5
       FROM (SELECT doc_id, text,
                    unnest(generate_series(0, CAST(floor((length(text) - 64) / 64.0) AS BIGINT))) AS frame_idx
             FROM documents WHERE length(text) >= 64)""",
)
def q_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over binary payloads (video-stage plumbing): 64-byte
    windows at stride 64, one digest row per frame via mapInPandas.  The
    payload is the utf-8 text (pure ASCII), so the oracle reproduces each
    frame digest with md5 of the corresponding text substring."""
    from hdfs_stream_processing_spark.operators.multimodal import (
        attach_payload,
        sample_frames,
    )

    (documents,) = prep(spark, sf_dir, "documents")
    return sample_frames(
        attach_payload(documents, "doc_id", "text"), frame_size=64, stride=64
    )


# ========================================================================
# Additional source formats: JSON lines, ORC
# ========================================================================


@_stage_once
def _stage_events_json(out: str, spark: SparkSession, sf_dir: str) -> None:
    src = load_table(spark, sf_dir, "events").select("event_id", "user_id", "event_type", "value")
    src.repartition(4).write.mode("overwrite").json(out)


@_stage_once
def _stage_events_orc(out: str, spark: SparkSession, sf_dir: str) -> None:
    src = load_table(spark, sf_dir, "events").select("event_id", "ts", "user_id", "event_type", "value")
    src.repartition(4).write.mode("overwrite").orc(out)


@query("scan_json", "SELECT event_id, user_id, event_type, value FROM events")
def q_scan_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines scan with a declared schema (no inference pass): events
    staged as JSONL, read back in one scan.  Identity oracle proves the
    JSON round-trip is lossless (doubles via shortest round-trip repr)."""
    from pyspark.sql import types as T

    prep(spark, sf_dir, "events")
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    return spark.read.schema(schema).json(_stage_events_json(spark, sf_dir))


@query("scan_orc", "SELECT event_id, ts, user_id, event_type, value FROM events")
def q_scan_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC scan: events staged as ORC (the other columnar format with
    predicate pushdown + column pruning), read back.  Identity oracle —
    including µs timestamps."""
    prep(spark, sf_dir, "events")
    return spark.read.orc(_stage_events_orc(spark, sf_dir))


@query(
    "revenue_share",
    """WITH per_nation AS (
         SELECT n_name,
                SUM(CAST(round(l_extendedprice * (1.0 - l_discount) * 100.0, 0) AS BIGINT)) AS cents
         FROM lineitem
         JOIN orders   ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey  = c_custkey
         JOIN nation   ON c_nationkey = n_nationkey
         GROUP BY n_name)
       SELECT n_name,
              CAST(cents AS DOUBLE) / 100.0 AS revenue,
              CAST(cents AS DOUBLE) / CAST(SUM(cents) OVER () AS DOUBLE) AS share
       FROM per_nation""",
)
def q_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Share-of-total analytics: per-nation revenue and its fraction of
    the grand total via a window over the whole frame.  The window sums
    INTEGER cents (associative, order-independent) — a SUM(double)
    OVER () would be partition-order-dependent and never hash-match.

    The unpartitioned window runs over the 25-row AGGREGATE, not the
    fact table — Spark's single-partition warning is about those 25
    rows; aggregating before the global window is exactly the scale-safe
    ordering."""
    from pyspark.sql import Window

    lineitem, orders, customer, nation = prep(
        spark, sf_dir, "lineitem", "orders", "customer", "nation"
    )
    cents = F.round(
        F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")) * F.lit(100.0), 0
    ).cast("long")
    per_nation = (
        lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(nation, F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(F.sum(cents).alias("cents"))
    )
    w = Window.partitionBy()
    return per_nation.select(
        "n_name",
        (F.col("cents").cast("double") / F.lit(100.0)).alias("revenue"),
        (F.col("cents").cast("double") / F.sum("cents").over(w).cast("double")).alias("share"),
    )


# ========================================================================
# Round 4: Z-order layout key + key-level streaming dedup
# ========================================================================

from hdfs_stream_processing_spark.operators.layout import sql_z_order_key, z_order_key  # noqa: E402


@query(
    "zorder_key",
    f"""SELECT l_orderkey, l_linenumber,
               {sql_z_order_key(['l_partkey', 'l_suppkey'])} AS zkey
        FROM lineitem""",
)
def q_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton (Z-order) clustering key over (l_partkey, l_suppkey) —
    the multi-dimensional layout primitive (operators/layout.py: rows
    close in the key TUPLE land in the same file, so min/max stats
    prune scans filtered on either column; the reference writes in
    arrival order, convert-to-minio.py:105-111).  Pure integer bit
    interleave → bit-exact oracle; the actual clustered write
    (zorder_write: ONE range repartition) is locality-tested in
    tests/test_layout.py."""
    (lineitem,) = prep(spark, sf_dir, "lineitem")
    return lineitem.select(
        "l_orderkey",
        "l_linenumber",
        z_order_key(["l_partkey", "l_suppkey"]).alias("zkey"),
    )


@query("stream_dedup_wm", "SELECT event_id, user_id, value FROM events")
def q_stream_dedup_wm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-level streaming dedup with BOUNDED state (ST6, VERDICT r3
    #3): dropDuplicatesWithinWatermark dedups on event_id alone while
    the watermark evicts state — the same key at two event times within
    the delay is ONE row, which plain dropDuplicates(keys+[ts]) gets
    wrong.  Source holds two copies of every event split across files
    (maxFilesPerTrigger forces multiple micro-batches); the identity
    oracle proves exactly the distinct event set comes out."""
    from hdfs_stream_processing_spark.streaming import (
        run_to_memory,
        stream_dedup,
        stream_parquet_source,
    )

    src_dir, schema = _stage_events(spark, sf_dir, copies=2)
    stream = stream_parquet_source(spark, src_dir, schema, max_files_per_trigger=3)
    deduped = stream_dedup(
        stream.select("event_id", "user_id", "value", "ts"),
        ["event_id"],
        watermark=("ts", "10 minutes"),
    ).drop("ts")
    return run_to_memory(deduped, output_mode="append")


@query(
    "approx_quantile_ok",
    """SELECT event_type,
              quantile_cont(value, 0.5) AS p50_exact,
              TRUE AS within_bound
       FROM events GROUP BY event_type""",
)
def q_approx_quantile_ok(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The approx-percentile error CONTRACT, hash-checked (the same
    pattern as approx_distinct_ok): approx_percentile's guarantee is on
    RANK error (1/accuracy), so Spark brackets its own estimate between
    the exact interpolated quantiles at rank 0.5 ± 0.05 — far outside
    the 0.01 rank error accuracy=100 promises — and emits the boolean.
    The oracle supplies the exact median (bit-equal interpolation,
    proven by the `percentiles` query) plus literal TRUE; a sketch
    drifting past its bound flips the hash red."""
    (events,) = prep(spark, sf_dir, "events")
    g = events.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("p50_exact"),
        F.expr("percentile(value, 0.45)").alias("_lo"),
        F.expr("percentile(value, 0.55)").alias("_hi"),
        F.expr("approx_percentile(value, 0.5, 100)").alias("_ap"),
    )
    return g.select(
        "event_type",
        "p50_exact",
        ((F.col("_ap") >= F.col("_lo")) & (F.col("_ap") <= F.col("_hi"))).alias(
            "within_bound"
        ),
    )


@query(
    "asof_forward",
    """SELECT l.event_id, l.user_id, l.ts, l.value,
              r.ts AS asof_ts, r.value AS asof_value
       FROM (SELECT * FROM events WHERE event_type = 'click') l
       ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') r
         ON l.user_id = r.user_id AND l.ts <= r.ts""",
)
def q_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of join (pandas merge_asof direction='forward'): for
    each click, the user's EARLIEST purchase at-or-after it — same
    union + single window pass, timestamp scanned descending
    (operators/temporal.py).  Oracle: DuckDB native ASOF with the
    inequality flipped."""
    from hdfs_stream_processing_spark.operators.temporal import asof_join

    (events,) = prep(spark, sf_dir, "events")
    clicks = events.where(F.col("event_type") == "click")
    purchases = events.where(F.col("event_type") == "purchase")
    out = asof_join(
        clicks, purchases, "user_id", "ts", "ts", ["ts", "value"],
        right_tiebreak="event_id", direction="forward",
    )
    return out.select("event_id", "user_id", "ts", "value", "asof_ts", "asof_value")


@query(
    "asof_tolerance",
    """WITH j AS (
         SELECT l.event_id, l.user_id, l.ts, l.value,
                r.ts AS r_ts, r.value AS r_value
         FROM (SELECT * FROM events WHERE event_type = 'click') l
         ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') r
           ON l.user_id = r.user_id AND l.ts >= r.ts)
       SELECT event_id, user_id, ts, value,
              CASE WHEN date_diff('microsecond', r_ts, ts) <= 600000000
                   THEN r_ts END AS asof_ts,
              CASE WHEN date_diff('microsecond', r_ts, ts) <= 600000000
                   THEN r_value END AS asof_value
       FROM j""",
)
def q_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a match-distance bound (pandas merge_asof
    tolerance): a purchase more than 10 minutes before the click is no
    match — the carried struct includes the matched timestamp, so the
    bound is one comparison, not a second join.  Oracle: DuckDB ASOF
    with the stale match nulled by an exact-microsecond CASE."""
    from hdfs_stream_processing_spark.operators.temporal import asof_join

    (events,) = prep(spark, sf_dir, "events")
    clicks = events.where(F.col("event_type") == "click")
    purchases = events.where(F.col("event_type") == "purchase")
    out = asof_join(
        clicks, purchases, "user_id", "ts", "ts", ["ts", "value"],
        right_tiebreak="event_id", tolerance=600.0,
    )
    return out.select("event_id", "user_id", "ts", "value", "asof_ts", "asof_value")


def _bm25_oracle(terms: list[str], top_n: int) -> str:
    from hdfs_stream_processing_spark.operators.text import bm25_score_expr

    tf_cols = ",\n                ".join(
        f"CAST(len(list_filter(toks, x -> x = '{t}')) AS BIGINT) AS tf{i}"
        for i, t in enumerate(terms)
    )
    df_cols = ",\n                ".join(
        f"CAST(SUM(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df{i}"
        for i in range(len(terms))
    )
    return f"""
WITH base AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
     d AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl,
                {tf_cols}
           FROM base),
     g AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(dl) AS BIGINT) AS sumdl,
                {df_cols}
           FROM d),
     s AS (SELECT doc_id, {bm25_score_expr(len(terms))} AS score FROM d, g)
SELECT doc_id, score, rank FROM (
  SELECT doc_id, score,
         CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT) AS rank
  FROM s)
WHERE rank <= {top_n}"""


_BM25_TERMS = ["value", "spark", "vector"]


@query("text_rank_bm25", _bm25_oracle(_BM25_TERMS, top_n=20))
def q_text_rank_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relevance-ranked search (the scoring half of the reference's
    Elasticsearch delegation — ES ranks with BM25): top-20 documents
    for a 3-term query.  idf is BM25's odds ratio WITHOUT the ln() —
    the only sub-expression whose final ulp differs across engines —
    so the whole score is a +,−,×,/ tree over exact integer stats,
    parsed from ONE shared SQL string by both engines → bit-identical
    scores and ranking (operators/text.py::bm25_rank)."""
    from hdfs_stream_processing_spark.operators.text import bm25_rank

    (documents,) = prep(spark, sf_dir, "documents")
    return bm25_rank(documents, "doc_id", "text", _BM25_TERMS, top_n=20)


@query(
    "text_phrase",
    """SELECT doc_id, n_phrase FROM (
         SELECT doc_id,
                CAST(len(list_filter(generate_series(1, len(toks) - 1),
                         i -> toks[i] = 'value' AND toks[i + 1] = 'table'))
                     AS BIGINT) AS n_phrase
         FROM (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents))
       WHERE n_phrase > 0""",
)
def q_text_phrase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phrase search (ES match_phrase, the positional half of the
    reference's search delegation): documents where 'value table' occur
    ADJACENT, with the occurrence count.  One narrow pass — adjacency
    is a filter over positions, no posexplode self-join, no shuffle
    before the final filter.  element_at is 1-based like DuckDB's list
    indexing, so both engines walk identical positions."""
    from hdfs_stream_processing_spark.operators.text import tokens

    (documents,) = prep(spark, sf_dir, "documents")
    toks = tokens("text")
    n_phrase = F.size(
        F.filter(
            F.sequence(F.lit(1), F.size(toks) - F.lit(1)),
            lambda i: (F.element_at(toks, i) == F.lit("value"))
            & (F.element_at(toks, i + F.lit(1)) == F.lit("table")),
        )
    ).cast("long")
    return documents.select(
        "doc_id", n_phrase.alias("n_phrase")
    ).where(F.col("n_phrase") > 0)


@query(
    "upsert",
    """SELECT event_id, user_id,
              CASE WHEN event_id < 500 THEN value * 2.0 ELSE value END AS value,
              event_type
       FROM events""",
)
def q_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE-style upsert (sources/io.py::upsert_partitioned): write
    events partitioned by type, apply a deterministic update batch
    (value doubled for event_id < 500), scan back.  Dynamic partition
    overwrite rewrites ONLY the touched partitions — the blast-radius
    contract is separately pinned file-for-file in
    tests/test_schemas_io.py; this oracle proves the MERGE result
    itself (updates win, everything else intact)."""
    from hdfs_stream_processing_spark.sources.io import upsert_partitioned, write_parquet

    (events,) = prep(spark, sf_dir, "events")
    base = events.select("event_id", "user_id", "value", "event_type")
    out = _mkdtemp("hsp_upsert_")
    write_parquet(base, out, partition_by=["event_type"])
    updates = base.where(F.col("event_id") < 500).withColumn(
        "value", F.col("value") * F.lit(2.0)
    )
    upsert_partitioned(
        spark, out, updates, ["event_id"], "event_type", "event_id"
    )
    back = spark.read.parquet(out)
    return back.select(
        "event_id", "user_id", "value", F.col("event_type").cast("string")
    )


# ========================================================================


# ========================================================================
# The remaining sections live in sibling modules (round-8 split; VERDICT
# r7 #7).  Import order == original in-file order, so registration order
# in QUERIES/ORACLES is byte-identical to the monolithic file.
# ========================================================================

from hdfs_stream_processing_spark import queries_llmdata  # noqa: E402,F401
from hdfs_stream_processing_spark import queries_analytics  # noqa: E402,F401
from hdfs_stream_processing_spark import queries_incremental  # noqa: E402,F401
from hdfs_stream_processing_spark import queries_advanced  # noqa: E402,F401
from hdfs_stream_processing_spark import queries_audit  # noqa: E402,F401
from hdfs_stream_processing_spark import queries_percep  # noqa: E402,F401
