"""The two benchmark workloads, ``ingest`` and ``maintain``, and the
curation probe of the traced ``ingest`` run.

Each workload stages its seeded inputs, warms up, runs closed-loop
micro-batches for the timed window, checks its outputs and returns an
:class:`Outcome`.  Output checks run after the timed window and never
inside it.
"""

from __future__ import annotations

import contextlib
import glob
import itertools
import os
import shutil
import sys
import threading
import time
from dataclasses import dataclass, field

import gen
import measure

# Units run before timing starts.  On a 4-core host unit latency keeps
# falling for this many units after a cold start (README.md, "Warm-up").
WARMUP = {"ingest": 7, "maintain": 17}

INGEST_EVENTS = 200_000  # rows aligned by the batch transform
INGEST_BATCH_ROWS = 100_000  # rows per replay file, one file per batch
MAINTAIN_LOG_ROWS = 64_000
MAINTAIN_BATCH_ROWS = 2_000
# The batch transform runs after the stream.  Its first run there is
# still 20-40% slower than the next ones (measured on ingest), so it is
# untimed; transform_s is the median of the TRANSFORM_REPS runs after it.
TRANSFORM_REPS = 3

# Curation probe (traced ``ingest`` run only): corpus size and passes,
# the last of which is traced.
CURATE_DOCS = 2_000
CURATE_VECS = 1_000
CURATE_PASSES = 2

ROLLUP_KEYS = ["user_id", "event_type"]
ROLLUP_SUMS = ["n", "cents"]

# Registry shapes one curation pass runs, with the layer each measures.
CURATE_STAGES = (
    ("curate_corpus", "operators.llmdata"),
    ("dedup_near", "operators.dedup"),
    ("similarity_ivf", "operators.similarity"),
)


def log(msg: str) -> None:
    """Progress line on stderr, stamped with seconds since process start."""
    print(f"[{time.time() - measure.process_start_epoch():7.2f}s] {msg}", file=sys.stderr, flush=True)


@dataclass
class Ctx:
    spark: object
    scratch: str
    seed: int
    seconds: float
    trace: bool
    hard_deadline: float  # epoch seconds; units stop being started after it
    tracer: measure.Tracer = field(default_factory=measure.Tracer)

    def path(self, *parts: str) -> str:
        return os.path.join(self.scratch, *parts)


@dataclass
class Outcome:
    unit_ms: list[float]  # timed units, in order
    unit_ids: list[int]
    unit_rows: list[int]  # input rows each timed unit completed
    window_s: float  # first timed unit start -> last timed unit end
    first_unit_start: float  # epoch seconds
    transform_s: float
    attempted: int
    failed: int
    checks: dict[str, bool]
    heap_mb: float  # live driver heap right after the timed window
    warmup_ms: list[float] = field(default_factory=list)
    layers: dict[str, float] = field(default_factory=dict)


def _timed_median(fn) -> float:
    fn()  # untimed warm-up run
    times = []
    for _ in range(TRANSFORM_REPS):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    log("transform runs (s): " + " ".join(f"{x:.3f}" for x in times))
    return measure.median(times)


# ---------------------------------------------------------------------------
# Closed-loop stream driver shared by ingest and maintain
# ---------------------------------------------------------------------------


class Feeder:
    """Closed-loop replay into a file-source directory.

    ``lead`` files are fed before the query starts and each committed
    micro-batch (seen by the progress listener) admits one more copy
    from the staged pool, so the next batch always finds a file
    waiting, until the timed window has run ``seconds``.  Copies land
    under fresh names with fresh modification times, so the file source
    treats every copy as new input.  The first ``warmup`` batches are
    excluded from timing.
    """

    lead = 2

    def __init__(self, pool: list[str], src_dir: str, tmp_dir: str,
                 warmup: int, seconds: float, hard_deadline: float):
        self.pool, self.src_dir, self.tmp_dir = pool, src_dir, tmp_dir
        self.warmup, self.seconds, self.hard_deadline = warmup, seconds, hard_deadline
        self.fed: list[int] = []  # pool index of each fed file, in order
        self.batches: list[dict] = []
        self.window_start: float | None = None
        self.feeding = True
        self.done = threading.Event()
        self._lock = threading.Lock()
        os.makedirs(src_dir, exist_ok=True)
        os.makedirs(tmp_dir, exist_ok=True)

    def _feed_one(self) -> None:
        k = len(self.fed)
        i = k % len(self.pool)
        ext = os.path.splitext(self.pool[i])[1]
        tmp = os.path.join(self.tmp_dir, f"{k:06d}{ext}")
        shutil.copyfile(self.pool[i], tmp)
        os.replace(tmp, os.path.join(self.src_dir, f"{k:06d}{ext}"))
        self.fed.append(i)

    def prime(self) -> None:
        for _ in range(self.lead):
            self._feed_one()

    def on_batch(self, p: dict) -> None:
        with self._lock:
            self.batches.append(p)
            end = p["start"] + p["ms"] / 1e3
            if len(self.batches) == self.warmup + 1:
                self.window_start = p["start"]
            if self.feeding:
                past = self.window_start is not None and end >= self.window_start + self.seconds
                if past or time.time() >= self.hard_deadline:
                    self.feeding = False
                else:
                    self._feed_one()
            if not self.feeding and len(self.batches) >= len(self.fed):
                self.done.set()


def run_stream(ctx: Ctx, name: str, start_query, pool: list[str]) -> tuple[Feeder, int]:
    """Start the query, run the closed loop until the window is done and
    the backlog drained, stop the query.  Returns the feeder (its
    batches and fed files) and the number of batches that raised."""
    spark = ctx.spark
    feeder = Feeder(pool, ctx.path("src"), ctx.path("feed_tmp"), WARMUP[name],
                    ctx.seconds, ctx.hard_deadline)
    listener = measure.ProgressListener(feeder.on_batch)
    spark.streams.addListener(listener)
    feeder.prime()
    query = start_query(ctx.path("src"))
    raised = 0
    try:
        while not feeder.done.wait(0.2):
            if not query.isActive:
                raised = 1  # the query stops at its first failed batch
                break
            if time.time() > ctx.hard_deadline + 15:
                raised = 1  # a batch that never finishes counts as failed
                break
    finally:
        query.stop()
        spark.streams.removeListener(listener)
    return feeder, raised


def _stream_outcome(feeder: Feeder, raised: int, transform_s: float,
                    checks: dict[str, bool], heap_mb: float) -> Outcome:
    batches = sorted(feeder.batches, key=lambda b: b["batch"])
    timed = batches[feeder.warmup:]
    attempted = len(batches) + raised
    failed = raised + (0 if all(checks.values()) else attempted - raised)
    if not timed:
        return Outcome([], [], [], 0.0, time.time(), transform_s, max(1, attempted),
                       max(1, failed), checks, heap_mb)
    first = timed[0]["start"]
    last_end = max(b["start"] + b["ms"] / 1e3 for b in timed)
    return Outcome(
        unit_ms=[b["ms"] for b in timed],
        unit_ids=[b["batch"] for b in timed],
        unit_rows=[b["rows"] for b in timed],
        window_s=last_end - first,
        first_unit_start=first,
        transform_s=transform_s,
        attempted=attempted,
        failed=failed,
        checks=checks,
        heap_mb=heap_mb,
        warmup_ms=[b["ms"] for b in batches[:feeder.warmup]],
    )


def _stream_layers(ctx: Ctx, out: Outcome, feeder: Feeder) -> dict[str, float]:
    timed = [b for b in feeder.batches if b["batch"] in set(out.unit_ids)]
    layers = {f"streaming.{k}_ms": measure.median([b["phases"][k] for b in timed])
              for k in measure.PHASES}
    layers["streaming.input_rows"] = measure.median([b["rows"] for b in timed])
    n = max(1, len(timed))
    totals = measure.spark_totals(ctx.spark, out.first_unit_start,
                             out.first_unit_start + out.window_s)
    layers.update({f"spark.{k}": v / n for k, v in totals.items()})
    return layers


def _overhead_pct(out: Outcome) -> float:
    """Median latency of traced (odd) units over untraced (even) ones,
    minus one, in percent: the tracing overhead within one run."""
    on = [m for i, m in zip(out.unit_ids, out.unit_ms) if i % 2 == 1]
    off = [m for i, m in zip(out.unit_ids, out.unit_ms) if i % 2 == 0]
    if not on or not off:
        return 0.0
    return (measure.median(on) / measure.median(off) - 1.0) * 100.0


# ---------------------------------------------------------------------------
# ingest
# ---------------------------------------------------------------------------


def ingest(ctx: Ctx) -> Outcome:
    """Paper pipeline: align -> Parquet, wire-encode replay, then a
    text-file stream decode -> classify -> Parquet sink."""
    from pyspark.sql import functions as F

    from hdfs_stream_processing_spark import pipelines
    from hdfs_stream_processing_spark.functions import wire
    from hdfs_stream_processing_spark.operators.relational import case_when
    from hdfs_stream_processing_spark.schemas import SENSORS_WIDE
    from hdfs_stream_processing_spark.sources import io
    from hdfs_stream_processing_spark.streaming import pipeline as streaming

    spark = ctx.spark
    ev_path = gen.write_table(gen.events_table(INGEST_EVENTS, ctx.seed), ctx.path("sf"), "events")
    events = spark.read.parquet(ev_path)
    aligned_dir = ctx.path("aligned")

    build_ms: list[float] = []
    write_ms: list[float] = []

    def transform() -> None:
        t0 = time.perf_counter()
        aligned = pipelines.align_rooms(events)
        t1 = time.perf_counter()
        io.write_parquet(aligned, aligned_dir)
        build_ms.append((t1 - t0) * 1e3)
        write_ms.append((time.perf_counter() - t1) * 1e3)

    log("ingest: events staged")
    transform()  # cold pass; its output is the replay source
    layers: dict[str, float] = {}

    # Replay generator: the seed decides which file each aligned row
    # lands in; one file is one micro-batch.
    wide = [f.name for f in SENSORS_WIDE.fields]
    n_files = max(2, INGEST_EVENTS // INGEST_BATCH_ROWS)
    t0 = time.perf_counter()
    encoded = wire.encode_df(spark.read.parquet(aligned_dir).select(*wide), key_col="ts_min_bignt")
    (
        encoded.select(
            "value",
            F.pmod(F.xxhash64("value", F.lit(ctx.seed)), F.lit(n_files)).alias("f"),
        )
        .repartition(n_files, "f")
        .write.partitionBy("f")
        .text(ctx.path("replay_stage"))
    )
    layers["functions.wire.encode_df_ms"] = (time.perf_counter() - t0) * 1e3
    pool = []
    os.makedirs(ctx.path("pool"), exist_ok=True)
    for f in range(n_files):
        (part,) = glob.glob(ctx.path("replay_stage", f"f={f}", "part-*"))
        pool.append(shutil.move(part, ctx.path("pool", f"{f:04d}.txt")))
    log("ingest: replay files staged")
    pool_rows = []
    for p in pool:
        with open(p, "rb") as fh:
            pool_rows.append(sum(1 for _ in fh))

    def start_query(src_dir: str):
        raw = spark.readStream.schema("value string").option("maxFilesPerTrigger", 1).text(src_dir)
        classified = case_when(
            wire.decode_df(raw, SENSORS_WIDE),
            "if_movement",
            [(F.col("pir") > 250.0, "movement")],
            "no_movement",
        )
        return streaming.run_to_parquet(classified, ctx.path("sink"), ctx.path("ckpt"),
                                        processing_time="0 seconds")

    feeder, raised = run_stream(ctx, "ingest", start_query, pool)
    heap_mb = measure.heap_live_mb(spark)
    log("ingest: stream stopped")
    transform_s = _timed_median(transform)
    layers["pipelines.align_rooms.build_ms"] = measure.median(build_ms[-TRANSFORM_REPS:])
    layers["sources.io.write_parquet_ms"] = measure.median(write_ms[-TRANSFORM_REPS:])

    # Output checks: rows out == rows in; movement count == a batch
    # ``pir > 250`` count over the same input files.
    per_file = {
        os.path.basename(r["file"]): (r["n"], r["moving"])
        for r in spark.read.text(pool)
        .select(F.input_file_name().alias("file"),
                wire.parse_wire("value", SENSORS_WIDE).alias("w"))
        .groupBy("file")
        .agg(F.count("*").alias("n"),
             F.sum((F.col("w.pir") > 250.0).cast("long")).alias("moving"))
        .collect()
    }
    names = [os.path.basename(p) for p in pool]
    want_rows = sum(per_file[names[i]][0] for i in feeder.fed)
    want_moving = sum(per_file[names[i]][1] for i in feeder.fed)
    got = (
        spark.read.parquet(ctx.path("sink"))
        .agg(F.count("*").alias("n"),
             F.sum((F.col("if_movement") == "movement").cast("long")).alias("moving"))
        .collect()[0]
    )
    checks = {
        "rows_out_eq_rows_in": got["n"] == want_rows == sum(pool_rows[i] for i in feeder.fed),
        "progress_rows_eq_rows_in": sum(b["rows"] for b in feeder.batches) == want_rows,
        "movement_eq_batch_count": got["moving"] == want_moving,
        "input_nonempty": want_rows > 0,
    }
    out = _stream_outcome(feeder, raised, transform_s, checks, heap_mb)
    if ctx.trace:
        layers.update(_stream_layers(ctx, out, feeder))
        layers["trace.overhead_pct"] = _overhead_pct(out)
        out.layers = layers
    return out


# ---------------------------------------------------------------------------
# maintain
# ---------------------------------------------------------------------------

IO_WRAPPED = ("table_latest_version", "table_version_meta", "read_table_version",
              "write_table_version", "vacuum_table_versions")


def _rollup_partial(df):
    """Per-batch partial of the maintained rollup: event count and
    integer-cent value sum per (user, type); integer sums make the
    incremental and one-shot results exactly comparable."""
    from pyspark.sql import functions as F

    return df.groupBy(*ROLLUP_KEYS).agg(
        F.count("*").alias("n"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"),
    )


def maintain(ctx: Ctx) -> Outcome:
    """The events log, split into many small files, folded batch by
    batch into a versioned rollup table (rollup_merge ->
    write_table_version -> vacuum_table_versions)."""
    import pyarrow.parquet as pq

    from hdfs_stream_processing_spark.operators import incremental
    from hdfs_stream_processing_spark.schemas import schema_for
    from hdfs_stream_processing_spark.sources import io
    from hdfs_stream_processing_spark.streaming import pipeline as streaming

    spark, t = ctx.spark, ctx.tracer
    events = gen.events_table(MAINTAIN_LOG_ROWS, ctx.seed)
    n_files = MAINTAIN_LOG_ROWS // MAINTAIN_BATCH_ROWS
    os.makedirs(ctx.path("pool"), exist_ok=True)
    pool = []
    for i, rows in enumerate(gen.split_rows(events.num_rows, n_files, ctx.seed)):
        path = ctx.path("pool", f"{i:04d}.parquet")
        pq.write_table(events.take(rows), path)
        pool.append(path)

    # Batch transform: the program's rollup step folding the whole log
    # into a separate rollup table in one call.  Each call commits a
    # new version on top of the previous one (the sums grow, the key
    # set does not), as one large micro-batch would.
    one_shot_ids = itertools.count()

    def one_shot() -> None:
        streaming.rollup_apply_batch(_rollup_partial(spark.read.parquet(*pool)),
                                     ctx.path("one_shot"), ROLLUP_KEYS, ROLLUP_SUMS,
                                     next(one_shot_ids))

    log("maintain: log staged")

    table_dir = ctx.path("rollup")
    if ctx.trace:
        for name in IO_WRAPPED:
            t.wrap(io, name, f"sources.io.{name}")
        t.wrap(incremental, "rollup_merge", "operators.incremental.rollup_merge")

    def step(batch_df, batch_id: int) -> None:
        # Odd batches are traced, even ones not: the interleaving gives
        # the tracing overhead within one run.
        t.unit, t.enabled = batch_id, ctx.trace and batch_id % 2 == 1
        with t.span("streaming.foreachBatch") if t.enabled else contextlib.nullcontext():
            streaming.rollup_apply_batch(_rollup_partial(batch_df), table_dir,
                                         ROLLUP_KEYS, ROLLUP_SUMS, batch_id)

    def start_query(src_dir: str):
        # ``run_stream_rollup`` runs this same step with an availableNow
        # trigger, which fixes its input at start; the closed loop needs
        # a trigger that keeps taking newly fed files.
        source = streaming.stream_parquet_source(spark, src_dir, schema_for("events"),
                                                 max_files_per_trigger=1)
        return (
            source.writeStream.foreachBatch(step)
            .option("checkpointLocation", ctx.path("ckpt"))
            .trigger(processingTime="0 seconds")
            .start()
        )

    try:
        feeder, raised = run_stream(ctx, "maintain", start_query, pool)
    finally:
        t.unwrap()
        t.enabled = False
    heap_mb = measure.heap_live_mb(spark)
    log("maintain: stream stopped")
    transform_s = _timed_median(one_shot)

    # Output check: the final snapshot equals a one-shot groupBy over
    # every fed file, compared with exceptAll in both directions.
    fed_paths = sorted(glob.glob(os.path.join(ctx.path("src"), "*.parquet")))
    final = io.read_table_version(spark, table_dir).drop("_batch")
    expected = _rollup_partial(spark.read.parquet(*fed_paths))
    n_final = final.count()
    checks = {
        "fed_files_all_read": len(fed_paths) == len(feeder.fed) == len(feeder.batches),
        "snapshot_minus_groupby_empty": final.exceptAll(expected).count() == 0,
        "groupby_minus_snapshot_empty": expected.exceptAll(final).count() == 0,
        "snapshot_nonempty": n_final > 0,
    }
    out = _stream_outcome(feeder, raised, transform_s, checks, heap_mb)
    if ctx.trace:
        layers = _stream_layers(ctx, out, feeder)
        traced = [i for i in out.unit_ids if i % 2 == 1]
        for name in IO_WRAPPED:
            key = f"sources.io.{name}"
            if name in ("table_latest_version", "table_version_meta"):
                layers[f"{key}.calls"] = measure.median(t.calls(key, traced))
            else:
                layers[f"{key}_ms"] = measure.median(t.per_unit(key, traced))
        layers["operators.incremental.rollup_merge_ms"] = measure.median(
            t.per_unit("operators.incremental.rollup_merge", traced))
        layers["streaming.foreachBatch_self_ms"] = measure.median(
            t.per_unit("streaming.foreachBatch", traced))
        latest = io.table_latest_version(spark, table_dir)
        layers["sources.io.state_bytes"] = float(io.dir_bytes(spark, f"{table_dir}/v={latest}/data"))
        layers["sources.io.state_rows"] = float(n_final)
        layers["trace.overhead_pct"] = _overhead_pct(out)
        out.layers = layers
    return out


# ---------------------------------------------------------------------------
# curation probe
# ---------------------------------------------------------------------------


def _curate_pass(ctx: Ctx, sf_dir: str, out_dir: str, traced: bool) -> dict[str, float]:
    """One curation pass: every registry stage of ``CURATE_STAGES``
    written to its own Parquet sink; returns each stage's seconds.  A
    traced pass splits each stage into build, plan (forcing
    ``executedPlan``) and execute, each under its own Spark job group,
    so ``build_jobs`` counts the jobs a stage starts eagerly."""
    from hdfs_stream_processing_spark import queries as Q
    from hdfs_stream_processing_spark.sources import io

    spark, t = ctx.spark, ctx.tracer
    stage_s = {}
    for name, layer in CURATE_STAGES:
        t0 = time.perf_counter()
        if not traced:
            io.write_parquet(Q.QUERIES[name](spark, sf_dir), os.path.join(out_dir, name))
        else:
            with measure.job_group(spark, f"pb:{t.unit}:{layer}:build"), t.span(f"{layer}.build"):
                df = Q.QUERIES[name](spark, sf_dir)
            with measure.job_group(spark, f"pb:{t.unit}:{layer}:plan"), t.span(f"{layer}.plan"):
                df._jdf.queryExecution().executedPlan()
            with measure.job_group(spark, f"pb:{t.unit}:{layer}:exec"), t.span(f"{layer}.exec"):
                io.write_parquet(df, os.path.join(out_dir, name))
        stage_s[name] = time.perf_counter() - t0
    return stage_s


def _oracle_frames(sf_dir: str, scratch: str) -> dict:
    import duckdb

    from hdfs_stream_processing_spark import queries as Q

    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{os.path.join(scratch, 'duck_tmp')}'")
    for table in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {table} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(sf_dir, table + '.parquet')}')")
    try:
        return {name: con.execute(Q.ORACLES[name]).df() for name, _ in CURATE_STAGES}
    finally:
        con.close()


def _same_rows(a, b) -> bool:
    """Order-insensitive, bit-exact equality of two pandas frames."""
    if len(a) != len(b) or sorted(a.columns) != sorted(b.columns):
        return False
    cols = sorted(a.columns)
    norm = [
        x[cols].astype(str).sort_values(cols, kind="mergesort").reset_index(drop=True)
        for x in (a, b)
    ]
    return bool((norm[0] == norm[1]).all().all())


def curate_probe(ctx: Ctx) -> tuple[dict[str, float], dict[str, bool]]:
    """Per-layer numbers for the curation operators, which no benchmark
    workload runs: ``CURATE_PASSES`` passes over a seeded corpus, the
    last one traced.  Returns the ``operators.*`` metrics and one output
    check per stage (the traced pass equals its DuckDB oracle)."""
    import pyarrow.parquet as pq

    spark, t = ctx.spark, ctx.tracer
    sf_dir = ctx.path("curate_sf")
    gen.write_table(gen.documents_table(CURATE_DOCS, ctx.seed), sf_dir, "documents")
    gen.write_table(gen.embeddings_table(CURATE_VECS, ctx.seed), sf_dir, "embeddings")
    for p in range(CURATE_PASSES):
        traced = p == CURATE_PASSES - 1
        t.unit = f"curate{p}"
        stage_s = _curate_pass(ctx, sf_dir, ctx.path("curate_sink", f"p{p}"), traced)
        log(f"curate probe: pass {p} stages (s): "
            + " ".join(f"{k}={v:.2f}" for k, v in stage_s.items()))
    layers = {}
    for _, layer in CURATE_STAGES:
        for g in ("build", "plan", "exec"):
            layers[f"{layer}.{g}_ms"] = t.per_unit(f"{layer}.{g}", [t.unit])[0]
        for g in ("build", "exec"):
            layers[f"{layer}.{g}_jobs"] = float(
                len(measure.group_job_ids(spark, f"pb:{t.unit}:{layer}:{g}")))

    oracles = _oracle_frames(sf_dir, ctx.scratch)
    last = ctx.path("curate_sink", f"p{CURATE_PASSES - 1}")
    checks = {
        f"curate_probe_{name}_eq_oracle": _same_rows(
            pq.read_table(os.path.join(last, name)).to_pandas(), oracles[name])
        for name, _ in CURATE_STAGES
    }
    return layers, checks


WORKLOADS = {"ingest": ingest, "maintain": maintain}
