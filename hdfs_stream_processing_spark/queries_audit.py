"""Corpus / graph audit queries (round 11, second wave): k-core peel,
k-anonymity release gate, per-frame audio autocorrelation, per-image
channel histograms, and streaming substring-dedup maintenance.

Registered via the shared ``@query`` decorator when ``queries.py``
imports this module at the end of its split chain (round-8 layout:
no query module > ~3k LoC).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession  # noqa: F401
from pyspark.sql import functions as F

from hdfs_stream_processing_spark.queries import (  # noqa: F401
    ORACLES,
    _mkdtemp,
    _stage_once,
    prep,
    query,
)
from hdfs_stream_processing_spark.queries_llmdata import (  # noqa: F401
    _IMG_PX_SQL,
    _SUBSTR_SYNTH_DUCK,
    _WAV_DIMS_SQL,
    _decoded_audio,
    _decoded_shards,
    _stage_documents,
    _substr_synth_df,
)

# §Graph audit: k-core density filter (operators/graph.py::kcore_peel)
# ========================================================================

_KCORE_K = 10
_KCORE_ITERS = 3


def _kcore_oracle(k: int, n_iters: int) -> str:
    """Unrolled peel rounds as CTEs — one degree aggregate + one
    two-sided node restriction per round, exactly the Spark loop."""
    parts = [
        """WITH pairs AS (
         SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS s,
                         's' || CAST(l_suppkey AS VARCHAR) AS d
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       e0 AS (SELECT s, d FROM pairs UNION ALL SELECT d, s FROM pairs)"""
    ]
    for i in range(1, n_iters + 1):
        parts.append(
            f"""k{i} AS (SELECT s FROM e{i - 1} GROUP BY s
              HAVING COUNT(*) >= {k}),
       e{i} AS (SELECT e.s, e.d FROM e{i - 1} e
                JOIN k{i} a ON e.s = a.s
                JOIN k{i} b ON e.d = b.s)"""
        )
    return (
        ",\n       ".join(parts)
        + f"""
       SELECT s AS node, CAST(COUNT(*) AS BIGINT) AS deg
       FROM e{n_iters} GROUP BY s"""
    )


@query("kcore", _kcore_oracle(_KCORE_K, _KCORE_ITERS))
def q_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-core peel over the customer-supplier trade graph (operators/
    graph.py::kcore_peel, r11): which parties remain after every node
    with fewer than 10 surviving trade partners is iteratively removed
    (3 peel rounds)?  The density filter run before community detection
    or spam-graph pruning; bounded rounds keep the lineage finite and
    the result exactly SQL-re-derivable (same contract as the pagerank
    / bfs fixed-iteration loops).  Each round: one degree aggregate +
    two semi-joins keyed on the same node ids; the edge list only
    shrinks, so later rounds are cheaper."""
    from hdfs_stream_processing_spark.operators.graph import kcore_peel

    lineitem, orders = prep(spark, sf_dir, "lineitem", "orders")
    # r15 (VERDICT r14 #4): peel on LONG-encoded node ids — customer
    # 2*key, supplier 2*key+1 (injective, both keys positive ints) —
    # instead of the oracle's 'c<k>'/'s<k>' strings: every per-round
    # exchange/broadcast row shrinks from a ~6-char string to 8 bytes
    # and hashing/compares go integer-speed.  Safe here because kcore's
    # output is a survivor SET + degree (no order-sensitive tie-break
    # anywhere — unlike LPA's min-label, which stays string-keyed);
    # the string form is restored only on the final, survivor-sized
    # result, so the output is byte-identical to the oracle's.
    pairs = (
        lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .select(
            (F.col("o_custkey") * 2).alias("s"),
            (F.col("l_suppkey") * 2 + 1).alias("d"),
        )
        .distinct()
    )
    edges = pairs.unionByName(
        pairs.select(F.col("d").alias("s"), F.col("s").alias("d"))
    )
    core = kcore_peel(edges, "s", "d", k=_KCORE_K, n_iters=_KCORE_ITERS)
    return core.select(
        F.concat(
            F.when(F.col("node") % 2 == 0, F.lit("c")).otherwise(F.lit("s")),
            F.expr("node div 2").cast("string"),  # exact integer div (no double round-trip)
        ).alias("node"),
        "deg",
    )


# §Privacy audit: k-anonymity / l-diversity release gate
# (operators/quality.py::k_anonymity_audit)
# ========================================================================

#: Shared release-gate thresholds — q_k_anonymity, q_stream_k_anonymity
#: and their common oracle all derive from these two constants, so the
#: twin queries cannot silently diverge (ADVICE r11).
_KANON_K = 5
_KANON_L = 3


@query(
    "k_anonymity",
    f"""SELECT o_orderpriority, o_orderstatus,
              CAST(year(o_orderdate) AS INT) AS o_year,
              CAST(month(o_orderdate) AS INT) AS o_month,
              CAST(COUNT(*) AS BIGINT) AS class_size,
              CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_sensitive,
              COUNT(*) >= {_KANON_K} AS meets_k,
              COUNT(DISTINCT o_custkey) >= {_KANON_L} AS meets_l
       FROM orders
       GROUP BY o_orderpriority, o_orderstatus,
                year(o_orderdate), month(o_orderdate)""",
)
def q_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Privacy release gate (operators/quality.py::k_anonymity_audit,
    r11): treat (priority, status, order year, order month) as the
    quasi-identifier and the customer key as the sensitive attribute —
    every equivalence class is audited for k-anonymity (>= 5 members)
    and l-diversity (>= 3 distinct customers).  The month-level QID
    makes the audit non-trivial: sparse priority × status × month
    classes genuinely fail k.  One hash aggregate with map-side
    partials, no joins — linear at any scale."""
    from hdfs_stream_processing_spark.operators.quality import k_anonymity_audit

    (orders,) = prep(spark, sf_dir, "orders")
    prepared = orders.select(
        "o_orderpriority",
        "o_orderstatus",
        F.year("o_orderdate").cast("int").alias("o_year"),
        F.month("o_orderdate").cast("int").alias("o_month"),
        "o_custkey",
    )
    return k_anonymity_audit(
        prepared,
        ["o_orderpriority", "o_orderstatus", "o_year", "o_month"],
        "o_custkey",
        k=_KANON_K,
        l_div=_KANON_L,
    )


# §Audio: per-frame short-lag autocorrelation
# (operators/multimodal.py::audio_autocorr)
# ========================================================================


#: Shared oracle scaffold: regenerate every per-frame lag product of the
#: synthetic waveform (audio_autocorr consumes the sums directly;
#: audio_pitch ranks them per frame).
_AUTOCORR_CORE = f"""{_WAV_DIMS_SQL},
       fr AS (SELECT source, n, len,
                     CAST(unnest(generate_series(0, (len - 16) // 8)) AS INTEGER) AS f
              FROM dims WHERE len >= 16),
       lg AS (SELECT CAST(generate_series AS INTEGER) AS l
              FROM generate_series(1, 3)),
       samp AS (SELECT fr.source, fr.f, lg.l, i.i,
                       ((7 * (fr.f * 8 + i.i) + 3 * fr.n) % 401) - 200 AS amp,
                       ((7 * (fr.f * 8 + i.i + lg.l) + 3 * fr.n) % 401) - 200 AS amp2
                FROM fr
                CROSS JOIN lg
                CROSS JOIN (SELECT CAST(generate_series AS INTEGER) AS i
                            FROM generate_series(0, 15)) i
                WHERE i.i < 16 - lg.l)"""


@query(
    "audio_autocorr",
    f"""WITH {_AUTOCORR_CORE}
       SELECT source,
              CAST(f AS INTEGER) AS frame_id,
              CAST(l AS INTEGER) AS lag,
              CAST(SUM(amp * amp2) AS BIGINT) AS ac
       FROM samp GROUP BY source, f, l""",
)
def q_audio_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-frame autocorrelation at lags 1-3 (operators/multimodal.py::
    audio_autocorr, r11): the time-domain periodicity feature behind
    pitch tracking, framed exactly like audio_frames (16-sample frames,
    stride 8) and kept in exact int64 so the oracle regenerates every
    product sum arithmetically from the synthetic waveform.  Decode →
    frame → lag products are all map-side; zero shuffle, output
    bounded by 3 rows per frame."""
    from hdfs_stream_processing_spark.operators.multimodal import audio_autocorr

    return audio_autocorr(
        _decoded_audio(spark, sf_dir),
        frame_len=16,
        stride=8,
        max_lag=3,
        id_col="source",
        id_type="string",
    )


# §Image: per-channel intensity histogram
# (operators/multimodal.py::image_histogram)
# ========================================================================


@query(
    "image_histogram",
    f"""WITH {_IMG_PX_SQL},
       px AS (SELECT d.source, xs.x, ys.y,
                     (3 * xs.x + 5 * ys.y + d.n) % 256 AS r,
                     (7 * xs.x + 11 * ys.y + 2 * d.n) % 256 AS g,
                     (13 * xs.x + 17 * ys.y + 3 * d.n) % 256 AS b
              FROM dims d
              CROSS JOIN (SELECT CAST(generate_series AS INTEGER) AS x
                          FROM generate_series(0, 16)) xs
              CROSS JOIN (SELECT CAST(generate_series AS INTEGER) AS y
                          FROM generate_series(0, 10)) ys
              WHERE xs.x < d.w AND ys.y < d.h),
       lv AS (SELECT source, 0 AS ch, r AS v FROM px
              UNION ALL SELECT source, 1, g FROM px
              UNION ALL SELECT source, 2, b FROM px)
       SELECT source,
              CAST(ch AS INTEGER) AS channel,
              CAST(v // 16 AS INTEGER) AS bin,
              CAST(COUNT(*) AS BIGINT) AS n_px
       FROM lv GROUP BY source, ch, bin""",
)
def q_image_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-image per-channel 16-bin intensity histogram (operators/
    multimodal.py::image_histogram, r11): the color-distribution
    feature behind exposure gates and near-duplicate screenshot
    heuristics, computed with np.bincount inside the usual
    Arrow-vectorized mapInPandas over decoded BMP frames.  16 bins of
    width 16 make binning the exact integer division value // 16, so
    the oracle recounts every bin from the regenerated pixels.  Zero
    shuffle; output bounded by 48 rows per image."""
    from hdfs_stream_processing_spark.operators.multimodal import image_histogram

    return image_histogram(
        _decoded_shards(spark, sf_dir, "bmp"),
        n_bins=16,
        id_col="source",
        id_type="string",
    )


# §Streaming substring-dedup maintenance (the stream twin of
# substring_dup — window-content doc-frequency as an incremental rollup)
# ========================================================================


@query(
    "stream_substring_dedup",
    f"""WITH raw AS (SELECT doc_id, text, string_split(text, ' ') AS ts
                     FROM documents),
       synth AS (SELECT doc_id,
                        CASE WHEN doc_id % 5 = 0 THEN {_SUBSTR_SYNTH_DUCK}
                             ELSE text END AS t
                 FROM raw),
       t AS (SELECT doc_id, string_split(lower(t), ' ') AS ts FROM synth),
       s AS (SELECT doc_id, n_toks, off,
                    array_to_string(list_slice(ts, off + 1, off + 8), ' ') AS sh
             FROM (SELECT doc_id, ts, len(ts) AS n_toks,
                          unnest(generate_series(0, greatest(len(ts), 8) - 8)) AS off
                   FROM t)),
       d AS (SELECT sh FROM s GROUP BY sh
             HAVING COUNT(DISTINCT doc_id) >= 2),
       m AS (SELECT doc_id, n_toks, off,
                    off - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY off)
                        AS isl
             FROM s JOIN d USING (sh)),
       sp AS (SELECT doc_id,
                     LEAST(MAX(off) + 8, MIN(n_toks)) - MIN(off) AS span_len,
                     COUNT(*) AS nw
              FROM m GROUP BY doc_id, isl)
       SELECT doc_id,
              CAST(COUNT(*) AS BIGINT) AS n_spans,
              CAST(SUM(span_len) AS BIGINT) AS dup_tokens,
              CAST(SUM(nw) AS BIGINT) AS n_windows
       FROM sp GROUP BY doc_id""",
)
def q_stream_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING substring-dedup maintenance (r11): the stride-1
    8-token window-content document-frequency table rides the same
    replay-guarded stream rollup as the chunk/vocabulary tables — each
    micro-batch contributes its batch-local per-content DISTINCT-doc
    count (exact across batches because a document arrives whole in
    exactly one micro-batch), and the per-doc duplicated-span report
    built against the MAINTAINED table must equal the one-shot
    substring_dup computation aggregated per document.  The span merge
    reuses the shared gaps-and-islands tail (operators/llmdata.py::
    spans_from_marked) — stream and batch paths literally share the
    operator code."""
    from hdfs_stream_processing_spark.operators.llmdata import (
        spans_from_marked,
        token_shingles,
    )
    from hdfs_stream_processing_spark.sources.io import read_table_version
    from hdfs_stream_processing_spark.streaming import stream_parquet_source
    from hdfs_stream_processing_spark.streaming.pipeline import run_stream_rollup

    src_dir, schema = _stage_documents(spark, sf_dir)
    stream = stream_parquet_source(spark, src_dir, schema, max_files_per_trigger=2)

    def partial(df: DataFrame) -> DataFrame:
        sh = token_shingles(_substr_synth_df(df), "doc_id", "text", k=8)
        return sh.groupBy("_sh").agg(F.count_distinct("doc_id").alias("nd"))

    tdir = _mkdtemp("hsp_ssub_")
    ckpt = _mkdtemp("hsp_ssub_ckpt_")
    run_stream_rollup(stream, tdir, ckpt, ["_sh"], ["nd"], partial)
    docfreq = (
        read_table_version(spark, tdir)
        .where(F.col("nd") >= F.lit(2))
        .select("_sh")
    )
    (documents,) = prep(spark, sf_dir, "documents")
    sh = token_shingles(_substr_synth_df(documents), "doc_id", "text", k=8)
    spans = spans_from_marked(sh.join(docfreq, "_sh"), "doc_id", k=8)
    return spans.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_spans"),
        F.sum("span_len").cast("bigint").alias("dup_tokens"),
        F.sum("n_windows").cast("bigint").alias("n_windows"),
    )


# §Round-11 third wave: pitch from autocorrelation, deterministic
# train/val/test split audit, streaming k-anonymity maintenance
# ========================================================================


@query(
    "audio_pitch",
    f"""WITH {_AUTOCORR_CORE},
       acc AS (SELECT source, f, l, SUM(amp * amp2) AS ac
               FROM samp GROUP BY source, f, l),
       rk AS (SELECT source, f, l, ac,
                     ROW_NUMBER() OVER (PARTITION BY source, f
                                        ORDER BY ac DESC, l) AS rn
              FROM acc)
       SELECT source,
              CAST(f AS INTEGER) AS frame_id,
              CAST(l AS INTEGER) AS best_lag,
              CAST(ac AS BIGINT) AS best_ac
       FROM rk WHERE rn = 1""",
)
def q_audio_pitch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-frame pitch-lag pick (r11): the argmax lag of the frame's
    autocorrelation — the classic time-domain pitch estimate, as the
    deterministic rank-1 row per (source, frame) with ties broken
    toward the shorter lag.  Composes the audio_autocorr stage with
    one per-frame ranking window (frames are 16 samples, so window
    partitions are 3 rows — never data-sized); the oracle re-ranks
    the same regenerated product sums."""
    from pyspark.sql import Window

    from hdfs_stream_processing_spark.operators.multimodal import audio_autocorr

    ac = audio_autocorr(
        _decoded_audio(spark, sf_dir),
        frame_len=16,
        stride=8,
        max_lag=3,
        id_col="source",
        id_type="string",
    )
    w = Window.partitionBy("source", "frame_id").orderBy(
        F.col("ac").desc(), F.col("lag")
    )
    return (
        ac.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select(
            "source",
            "frame_id",
            F.col("lag").alias("best_lag"),
            F.col("ac").alias("best_ac"),
        )
    )


@query(
    "train_split",
    """SELECT source,
              CASE WHEN b < 80 THEN 'train'
                   WHEN b < 90 THEN 'val'
                   ELSE 'test' END AS split,
              CAST(COUNT(*) AS BIGINT) AS n_docs,
              CAST(SUM(len(string_split(lower(text), ' '))) AS BIGINT)
                  AS n_tokens
       FROM (SELECT source, text,
                    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                        ::UBIGINT::BIGINT % 100 AS b
             FROM documents)
       GROUP BY source, split""",
)
def q_train_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test split with a per-source
    audit (operators/llmdata.py::split_assign, r11): assignment is the
    md5 hash bucket of doc_id — reproducible across engines, runs,
    partitionings, and task retries (never rand()), so every
    join-adjacent table splits consistently by the same key.  The
    audit (docs + tokens per source × split) is what a release ships
    next to the split manifest.  Map-side assignment + one hash
    aggregate; linear at any scale."""
    from hdfs_stream_processing_spark.operators.llmdata import split_assign

    (documents,) = prep(spark, sf_dir, "documents")
    assigned = split_assign(
        documents, "doc_id", [("train", 80), ("val", 10), ("test", 10)]
    )
    return assigned.groupBy("source", "split").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.size(F.split(F.lower(F.col("text")), " ")))
        .cast("bigint")
        .alias("n_tokens"),
    )


def _qid_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The QID-projected orders (priority, status, year, month,
    custkey) — year/month extracted here, so a staged copy carries plain
    ints (the streaming path exercises rollup maintenance, not timestamp
    decoding, which sources/io.load_table already owns)."""
    (orders,) = prep(spark, sf_dir, "orders")
    return orders.select(
        "o_orderpriority",
        "o_orderstatus",
        F.year("o_orderdate").cast("int").alias("o_year"),
        F.month("o_orderdate").cast("int").alias("o_month"),
        "o_custkey",
    )


@_stage_once
def _stage_qid_orders(out: str, spark: SparkSession, sf_dir: str) -> None:
    """The QID-projected orders as a streaming source directory."""
    _qid_orders(spark, sf_dir).repartition(4).write.mode("overwrite").parquet(out)


@query("stream_k_anonymity", None)  # oracle assigned below: k_anonymity's
def q_stream_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING k-anonymity maintenance (r11): the audit's only
    obstacle to incrementality is the DISTINCT-sensitive count — not
    additive across batches when a (QID, sensitive) pair recurs.  The
    fix is the standard sufficient-statistics move: maintain the
    (QID, sensitive) PAIR-count rollup (counts ARE additive, pairs
    spanning micro-batches merge exactly), and derive class_size =
    Σ pair counts, n_sensitive = #pairs per class at READ time.  The
    report against the maintained table must equal the one-shot batch
    audit — oracle IS k_anonymity's."""
    from hdfs_stream_processing_spark.sources.io import read_table_version
    from hdfs_stream_processing_spark.streaming import stream_parquet_source
    from hdfs_stream_processing_spark.streaming.pipeline import run_stream_rollup

    schema = _qid_orders(spark, sf_dir).schema
    stream = stream_parquet_source(
        spark, _stage_qid_orders(spark, sf_dir), schema, max_files_per_trigger=2
    )
    qid = ["o_orderpriority", "o_orderstatus", "o_year", "o_month"]

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy(*qid, "o_custkey").agg(F.count(F.lit(1)).alias("n"))

    tdir = _mkdtemp("hsp_skanon_")
    ckpt = _mkdtemp("hsp_skanon_ckpt_")
    run_stream_rollup(stream, tdir, ckpt, [*qid, "o_custkey"], ["n"], partial)
    pairs = read_table_version(spark, tdir)
    return pairs.groupBy(*qid).agg(
        F.sum("n").cast("bigint").alias("class_size"),
        F.count(F.lit(1)).cast("bigint").alias("n_sensitive"),
    ).select(
        *qid,
        "class_size",
        "n_sensitive",
        (F.col("class_size") >= F.lit(_KANON_K)).alias("meets_k"),
        (F.col("n_sensitive") >= F.lit(_KANON_L)).alias("meets_l"),
    )


ORACLES["stream_k_anonymity"] = ORACLES["k_anonymity"]


# §Round-11 fourth wave: exact grayscale, energy-gated VAD, degree
# distribution
# ========================================================================


@query(
    "image_grayscale",
    f"""WITH {_IMG_PX_SQL},
       px AS (SELECT d.source, d.w, d.h, xs.x, ys.y,
                     (3 * xs.x + 5 * ys.y + d.n) % 256 AS r,
                     (7 * xs.x + 11 * ys.y + 2 * d.n) % 256 AS g,
                     (13 * xs.x + 17 * ys.y + 3 * d.n) % 256 AS b
              FROM dims d
              CROSS JOIN (SELECT CAST(generate_series AS INTEGER) AS x
                          FROM generate_series(0, 16)) xs
              CROSS JOIN (SELECT CAST(generate_series AS INTEGER) AS y
                          FROM generate_series(0, 10)) ys
              WHERE xs.x < d.w AND ys.y < d.h),
       lum AS (SELECT source, w, h, x, y,
                      (299 * r + 587 * g + 114 * b) // 1000 AS yv
               FROM px)
       SELECT source,
              MIN(w) AS width, MIN(h) AS height,
              CAST(SUM(yv) AS BIGINT) AS sum_gray,
              CAST(SUM((y * w + x + 1) * yv) AS BIGINT) AS wsum_gray,
              CAST(MIN(yv) AS INTEGER) AS min_gray,
              CAST(MAX(yv) AS INTEGER) AS max_gray
       FROM lum GROUP BY source""",
)
def q_image_grayscale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact integer grayscale conversion (operators/multimodal.py::
    grayscale_stats, r11): per-pixel BT.601 luma in per-mille integer
    form — (299r + 587g + 114b) // 1000, floor semantics — reduced to
    Σy, the permutation-sensitive position-weighted Σ(pos·y), and the
    min/max an exposure gate consumes; the oracle recomputes every
    luma from the regenerated pixels.  Zero-shuffle mapInPandas like
    every codec stage."""
    from hdfs_stream_processing_spark.operators.multimodal import grayscale_stats

    return grayscale_stats(
        _decoded_shards(spark, sf_dir, "bmp"), id_col="source", id_type="string"
    )


_VAD_THRESHOLD = 200_000


@query(
    "audio_vad",
    f"""WITH {_WAV_DIMS_SQL},
       fr AS (SELECT source, n, len,
                     CAST(unnest(generate_series(0, (len - 16) // 8)) AS INTEGER) AS f
              FROM dims WHERE len >= 16),
       samp AS (SELECT fr.source, fr.f, i.i,
                       ((7 * (fr.f * 8 + i.i) + 3 * fr.n) % 401) - 200 AS amp
                FROM fr
                CROSS JOIN (SELECT CAST(generate_series AS INTEGER) AS i
                            FROM generate_series(0, 15)) i),
       en AS (SELECT source, f, SUM(amp * amp) AS energy
              FROM samp GROUP BY source, f),
       isl AS (SELECT source, f,
                      f - ROW_NUMBER() OVER (PARTITION BY source ORDER BY f)
                          AS grp
               FROM en WHERE energy >= {_VAD_THRESHOLD}),
       runs AS (SELECT source, COUNT(*) AS rl FROM isl GROUP BY source, grp),
       mr AS (SELECT source, MAX(rl) AS longest FROM runs GROUP BY source)
       SELECT en.source,
              CAST(COUNT(*) AS BIGINT) AS n_frames,
              CAST(SUM(CASE WHEN energy >= {_VAD_THRESHOLD}
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_voiced,
              CAST(COALESCE(MIN(mr.longest), 0) AS BIGINT) AS longest_run
       FROM en LEFT JOIN mr ON en.source = mr.source
       GROUP BY en.source""",
)
def q_audio_vad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Energy-gated voice-activity report (r11): frames whose integer
    energy clears the gate are "voiced"; per source the report is
    frame count, voiced count, and the LONGEST consecutive voiced run
    (gaps-and-islands over frame ids) — the silence-trimming /
    segment-extraction precursor, kept exact-integer end to end.
    Composes audio_frames with one per-source island window (bounded
    by frames per clip); the oracle regenerates energies and re-ranks
    the same islands."""
    from pyspark.sql import Window

    from hdfs_stream_processing_spark.operators.multimodal import audio_frames

    fr = audio_frames(
        _decoded_audio(spark, sf_dir),
        frame_len=16,
        stride=8,
        id_col="source",
        id_type="string",
    )
    voiced = fr.where(F.col("energy") >= F.lit(_VAD_THRESHOLD))
    w = Window.partitionBy("source").orderBy("frame_id")
    runs = (
        voiced.withColumn("_grp", F.col("frame_id") - F.row_number().over(w))
        .groupBy("source", "_grp")
        .agg(F.count(F.lit(1)).alias("_rl"))
        .groupBy("source")
        .agg(F.max("_rl").alias("_longest"))
    )
    agg = fr.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_frames"),
        F.sum(
            (F.col("energy") >= F.lit(_VAD_THRESHOLD)).cast("long")
        ).cast("bigint").alias("n_voiced"),
    )
    return agg.join(runs, "source", "left").select(
        "source",
        "n_frames",
        "n_voiced",
        F.coalesce(F.col("_longest"), F.lit(0)).cast("bigint").alias("longest_run"),
    )


@query(
    "degree_hist",
    """WITH pairs AS (
         SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS s,
                         's' || CAST(l_suppkey AS VARCHAR) AS d
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       e0 AS (SELECT s, d FROM pairs UNION ALL SELECT d, s FROM pairs),
       dg AS (SELECT s, COUNT(*) AS deg FROM e0 GROUP BY s)
       SELECT CAST(deg AS BIGINT) AS deg,
              CAST(COUNT(*) AS BIGINT) AS n_nodes
       FROM dg GROUP BY deg""",
)
def q_degree_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the trade graph (r11): how many nodes
    have exactly d trading partners — the first thing a graph audit
    plots (skew/power-law check, and the input to choosing the k-core
    threshold).  Two hash aggregates (degree, then histogram), no
    joins beyond the shared edge derivation; the second agg's input
    is node-count-sized."""
    lineitem, orders = prep(spark, sf_dir, "lineitem", "orders")
    pairs = (
        lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .select(
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("s"),
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("d"),
        )
        .distinct()
    )
    edges = pairs.unionByName(
        pairs.select(F.col("d").alias("s"), F.col("s").alias("d"))
    )
    return (
        edges.groupBy("s")
        .agg(F.count(F.lit(1)).alias("deg"))
        .groupBy("deg")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_nodes"))
        .select(F.col("deg").cast("bigint"), "n_nodes")
    )
