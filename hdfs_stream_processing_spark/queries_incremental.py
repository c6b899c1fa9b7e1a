"""Temporal-join / incremental-maintenance / sketch / statistics queries
(round 6): PIT join, sequence packing, incremental dedup, stream-stream
joins, CMS, correlation; imports the decision-support (TPC-H-shaped)
suite at its original registration point.

Split out of ``queries.py`` (round 8, VERDICT r7 #7 — no file > ~3k
LoC); registration order and the ``QUERIES``/``ORACLES`` registries are
unchanged: this module registers via the shared ``@query`` decorator
when ``queries.py`` imports it at its original position.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession  # noqa: F401
from pyspark.sql import functions as F

from hdfs_stream_processing_spark.queries import (  # noqa: F401
    TS_FMT_DUCK,
    TS_FMT_SPARK,
    _conf_override,
    QUERIES,
    _DOT_SQL,
    _DQ_RULES,
    _NORM_SQL,
    _PAIRS_SQL,
    _QUANT_SQL,
    _mkdtemp,
    _stage_events,
    _stage_once,
    cents_avg,
    cents_sum,
    prep,
    query,
    sql_cents_avg,
    sql_cents_sum,
    sql_fold,
)
from hdfs_stream_processing_spark.queries_llmdata import _stage_documents  # noqa: F401
from hdfs_stream_processing_spark.sources.io import load_table

# Round 6 (cont.): point-in-time join, sequence packing, incremental
# dedup, outer stream-stream join
# ========================================================================


@query(
    "pit_join",
    """WITH ordered AS (
         SELECT user_id, ts, event_id, event_type,
                lag(event_type) OVER w AS prev_type,
                row_number() OVER w AS rn
         FROM events WHERE event_type <> 'purchase'
         WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
       vers AS (
         SELECT user_id, ts, event_id, event_type FROM ordered
         WHERE rn = 1 OR event_type IS DISTINCT FROM prev_type),
       dim AS (
         SELECT user_id, event_type,
                ts AS valid_from,
                lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to
         FROM vers)
       SELECT f.event_id, f.user_id, f.ts, f.value,
              d.event_type AS dim_type, d.valid_from AS dim_since
       FROM events f LEFT JOIN dim d
         ON f.user_id = d.user_id
        AND f.ts >= d.valid_from
        AND (d.valid_to IS NULL OR f.ts < d.valid_to)
       WHERE f.event_type = 'purchase'""",
)
def q_pit_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time join (r6): each purchase enriched with the user's
    SCD2 state AS OF the purchase timestamp — the feature-store lookup
    that prevents label leakage (a January purchase must see the user's
    January-era attribute, not the latest).  Dimension = event_type
    history over non-purchase events; ONE equi-join shuffle, the
    interval predicate rides as a residual, and disjoint versions mean
    at most one match per fact."""
    from hdfs_stream_processing_spark.operators.incremental import (
        pit_join,
        scd2_build,
    )

    (events,) = prep(spark, sf_dir, "events")
    dim = scd2_build(
        events.where(F.col("event_type") != "purchase"),
        ["user_id"], "ts", "event_type", tiebreak_cols=["event_id"],
    ).select("user_id", "event_type", "valid_from", "valid_to")
    facts = events.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    return pit_join(facts, dim, ["user_id"], "ts").select(
        F.col("f.event_id").alias("event_id"),
        F.col("f.user_id").alias("user_id"),
        F.col("f.ts").alias("ts"),
        F.col("f.value").alias("value"),
        F.col("d.event_type").alias("dim_type"),
        F.col("d.valid_from").alias("dim_since"),
    )


@query(
    "seq_pack",
    """WITH t AS (
         SELECT doc_id,
                CAST(floor((length(text) + 3) / 4.0) AS BIGINT) AS n_tok,
                md5('s0|' || CAST(doc_id AS VARCHAR)) AS ord
         FROM documents),
       s AS (
         SELECT doc_id, n_tok, ord,
                ('0x' || substr(ord, 1, 8))::UBIGINT::BIGINT % 4 AS shard_id
         FROM t),
       c AS (
         SELECT doc_id, n_tok, shard_id,
                CAST(row_number() OVER (PARTITION BY shard_id
                     ORDER BY ord, doc_id) AS INT) AS pos,
                COALESCE(SUM(n_tok) OVER (PARTITION BY shard_id
                     ORDER BY ord, doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
         FROM s)
       SELECT doc_id, n_tok, shard_id, pos,
              CAST(floor(cum / 2048.0) AS BIGINT) AS seq_id,
              CAST(cum % 2048 AS BIGINT) AS seq_off
       FROM c""",
)
def q_seq_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style sequence packing (r6): the corpus laid out as 2048-token
    training sequences across 4 shards — concat-and-split in a
    deterministic seeded order, each document stamped with the shard,
    sequence id, and in-sequence offset of its first token.  ONE
    shuffle: the shard exchange is shared by the position window and
    the running token sum (per-shard prefix sums are the reason to
    shard FIRST — a global cumulative sum would need a range
    exchange)."""
    from hdfs_stream_processing_spark.operators.llmdata import pack_sequences
    from hdfs_stream_processing_spark.operators.text import token_count

    (documents,) = prep(spark, sf_dir, "documents")
    toks = token_count(documents, "doc_id", "text").select(
        "doc_id", F.col("n_tokens_est").alias("n_tok")
    )
    return pack_sequences(toks, "doc_id", "n_tok", capacity=2048, n_shards=4, seed="s0")


@query(
    "incr_dedup",
    """WITH batch AS (
         SELECT doc_id, source, text FROM documents WHERE doc_id > 250
         UNION ALL
         SELECT doc_id + 20000, source, text FROM documents
         WHERE doc_id BETWEEN 201 AND 300
         UNION ALL
         SELECT doc_id + 10000, source, text FROM documents WHERE doc_id <= 100),
       ex AS (SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id <= 250),
       fresh AS (
         SELECT b.doc_id, b.source, md5(b.text) AS h FROM batch b
         WHERE NOT EXISTS (SELECT 1 FROM ex WHERE ex.h = md5(b.text))),
       ranked AS (
         SELECT doc_id, source, h,
                row_number() OVER (PARTITION BY h ORDER BY doc_id) AS rn
         FROM fresh)
       SELECT doc_id, source, h FROM ranked WHERE rn = 1""",
)
def q_incr_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental exact dedup (r6): a new crawl batch — fresh docs plus
    recrawls of already-ingested pages under NEW doc ids — deduped
    against the existing corpus's content-hash set without touching
    corpus bytes.  Recrawls of ingested docs drop (anti-join); recrawls
    colliding within the batch collapse to the min-id survivor.  At
    100 TB this is THE dedup shape: per-batch work, corpus keys
    bucketed, history never re-deduplicated."""
    from hdfs_stream_processing_spark.operators.dedup import dedup_incremental

    (documents,) = prep(spark, sf_dir, "documents")
    base = documents.select("doc_id", "source", "text")
    batch = (
        base.where(F.col("doc_id") > 250)
        .unionByName(
            base.where(F.col("doc_id").between(201, 300)).withColumn(
                "doc_id", F.col("doc_id") + F.lit(20000)
            )
        )
        .unionByName(
            base.where(F.col("doc_id") <= 100).withColumn(
                "doc_id", F.col("doc_id") + F.lit(10000)
            )
        )
        .withColumn("h", F.md5(F.col("text")))
    )
    existing_keys = (
        base.where(F.col("doc_id") <= 250).select(F.md5(F.col("text")).alias("h"))
    )
    out = dedup_incremental(batch, existing_keys, ["h"], [F.col("doc_id")])
    return out.select("doc_id", "source", "h")


@query(
    "stream_join_outer",
    """SELECT l.event_id, r.event_id AS r_event_id, l.user_id,
              date_diff('microsecond', l.ts, r.ts) AS dt_us
       FROM (SELECT * FROM events
             WHERE event_type = 'click'
               AND ts < TIMESTAMP '2024-01-25 00:00:00') l
       LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') r
         ON l.user_id = r.user_id
        AND abs(date_diff('microsecond', l.ts, r.ts)) <= 120000000""",
)
def q_stream_join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join (r6): clicks that DID
    convert within ±120 s pair with their purchase; clicks that never
    did emit with NULL right columns once the watermark proves no match
    can arrive — the state store evicts and emits as the stream runs,
    no daily batch join needed.  The analysis cutoff (clicks before
    Jan 25) applies AFTER the watermark declaration, so the frontier
    advances with the full stream and every kept click's eviction
    bound is provably passed before the finite run ends."""
    from hdfs_stream_processing_spark.streaming import (
        run_to_memory,
        stream_parquet_source,
    )
    from hdfs_stream_processing_spark.streaming.pipeline import (
        stream_stream_interval_join,
    )

    src_dir, schema = _stage_events(spark, sf_dir)
    clicks = (
        stream_parquet_source(spark, src_dir, schema, max_files_per_trigger=2)
        .where(F.col("event_type") == "click")
        .select("event_id", "user_id", "ts")
    )
    purchases = (
        stream_parquet_source(spark, src_dir, schema, max_files_per_trigger=2)
        .where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("r_id"),
            F.col("user_id").alias("user_id"),
            F.col("ts").alias("r_ts"),
        )
    )
    joined = stream_stream_interval_join(
        clicks,
        purchases,
        "user_id",
        left_ts="ts",
        right_ts="r_ts",
        max_gap_seconds=120,
        watermark="1 minute",
        how="leftOuter",
        left_filter=F.col("ts") < F.lit("2024-01-25 00:00:00").cast("timestamp"),
    )
    with _conf_override(spark, "spark.sql.shuffle.partitions", "8"):
        out = run_to_memory(joined)
    return out.select(
        "event_id",
        F.col("r_id").alias("r_event_id"),
        "user_id",
        (F.unix_micros(F.col("r_ts")) - F.unix_micros(F.col("ts"))).alias("dt_us"),
    )


@query(
    "incr_rollup",
    """SELECT event_type, CAST(ts AS DATE) AS day,
              COUNT(*) AS n,
              CAST(SUM(CAST(round(value * 100.0, 0) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_value,
              CAST(SUM(CAST(round(value * 100.0, 0) AS BIGINT)) AS DOUBLE) / 100.0
                  / COUNT(*) AS avg_value
       FROM events GROUP BY event_type, CAST(ts AS DATE)""",
)
def q_incr_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate-table maintenance (r6): the daily rollup is
    maintained by merging the new day's PARTIAL aggregate into the
    existing table — additive sufficient statistics (count, integer-
    cent sum) re-aggregate exactly, and avg derives at read time.  The
    oracle aggregates the whole table from scratch: the merge must be
    bit-identical.  A day's load touches batch + rollup rows only —
    history is never rescanned (the batch analog of the streaming
    continuous_rollup)."""
    from hdfs_stream_processing_spark.operators.incremental import rollup_merge

    (events,) = prep(spark, sf_dir, "events")
    cutoff = F.lit("2024-01-25 00:00:00").cast("timestamp")

    def partial(df: DataFrame) -> DataFrame:
        cents = F.round(F.col("value") * F.lit(100.0), 0).cast("long")
        return df.groupBy(
            "event_type", F.col("ts").cast("date").alias("day")
        ).agg(F.count(F.lit(1)).alias("n"), F.sum(cents).alias("cents"))

    existing = partial(events.where(F.col("ts") < cutoff))
    batch = partial(events.where(F.col("ts") >= cutoff))
    merged = rollup_merge(existing, batch, ["event_type", "day"], ["n", "cents"])
    return merged.select(
        "event_type",
        "day",
        "n",
        (F.col("cents").cast("double") / F.lit(100.0)).alias("sum_value"),
        (F.col("cents").cast("double") / F.lit(100.0) / F.col("n")).alias("avg_value"),
    )


@query(
    "avg_yearly",
    """WITH lim AS (
         SELECT l_partkey,
                0.2 * (CAST(SUM(CAST(round(l_quantity, 0) AS BIGINT)) AS DOUBLE)
                       / COUNT(*)) AS qty_lim
         FROM lineitem GROUP BY l_partkey),
       brand AS (SELECT p_partkey FROM part WHERE p_brand = 'Brand#23')
       SELECT COUNT(*) AS n_small,
              CAST(SUM(CAST(round(l.l_extendedprice * 100.0, 0) AS BIGINT)) AS DOUBLE)
                  / 700.0 AS avg_yearly
       FROM lineitem l
       JOIN lim ON l.l_partkey = lim.l_partkey
       JOIN brand ON l.l_partkey = brand.p_partkey
       WHERE CAST(round(l.l_quantity, 0) AS BIGINT) < lim.qty_lim""",
)
def q_avg_yearly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape (correlated-subquery decorrelation): orders whose
    quantity is under 20% of the part's average — the classic "small
    lot" revenue probe.  Catalyst's decorrelated plan: ONE per-part
    aggregate (keyed-small, broadcast back onto the fact scan) + the
    brand dim broadcast — the 100 TB lineitem is scanned, never
    shuffled.  Exact arithmetic throughout: integral quantities and
    integer cents, one final division."""
    (lineitem, part) = prep(spark, sf_dir, "lineitem", "part")
    qty = F.round(F.col("l_quantity"), 0).cast("long")
    lim = (
        lineitem.groupBy("l_partkey")
        .agg(
            (
                F.lit(0.2)
                * (F.sum(qty).cast("double") / F.count(F.lit(1)))
            ).alias("qty_lim")
        )
    )
    brand = part.where(F.col("p_brand") == "Brand#23").select("p_partkey")
    cents = F.round(F.col("l_extendedprice") * F.lit(100.0), 0).cast("long")
    small = (
        lineitem.withColumn("_qty", qty)
        .join(F.broadcast(lim), "l_partkey")
        .join(F.broadcast(brand), F.col("l_partkey") == F.col("p_partkey"))
        .where(F.col("_qty") < F.col("qty_lim"))
    )
    return small.agg(
        F.count(F.lit(1)).alias("n_small"),
        (F.sum(cents).cast("double") / F.lit(700.0)).alias("avg_yearly"),
    )


@query(
    "stream_pit",
    """WITH ordered AS (
         SELECT user_id, ts, event_id, event_type,
                lag(event_type) OVER w AS prev_type,
                row_number() OVER w AS rn
         FROM events WHERE event_type <> 'purchase'
         WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
       vers AS (
         SELECT user_id, ts, event_id, event_type FROM ordered
         WHERE rn = 1 OR event_type IS DISTINCT FROM prev_type),
       dim AS (
         SELECT user_id, event_type,
                ts AS valid_from,
                lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to
         FROM vers)
       SELECT f.event_id, f.user_id, f.ts, f.value,
              d.event_type AS dim_type, d.valid_from AS dim_since
       FROM events f LEFT JOIN dim d
         ON f.user_id = d.user_id
        AND f.ts >= d.valid_from
        AND (d.valid_to IS NULL OR f.ts < d.valid_to)
       WHERE f.event_type = 'purchase'""",
)
def q_stream_pit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time enrichment ON THE STREAM (r6): the purchase stream
    left-joins the static SCD2 dimension with the interval residual —
    stream-static joins are stateless, so each micro-batch enriches
    map-side against the (broadcastable) dimension; same result as the
    batch pit_join, proven by the same oracle."""
    from hdfs_stream_processing_spark.operators.incremental import scd2_build
    from hdfs_stream_processing_spark.streaming import (
        run_to_memory,
        stream_parquet_source,
    )

    src_dir, schema = _stage_events(spark, sf_dir)
    (events,) = prep(spark, sf_dir, "events")
    dim = scd2_build(
        events.where(F.col("event_type") != "purchase"),
        ["user_id"], "ts", "event_type", tiebreak_cols=["event_id"],
    ).select(
        F.col("user_id").alias("d_user"),
        F.col("event_type").alias("dim_type"),
        "valid_from",
        "valid_to",
    )
    facts = (
        stream_parquet_source(spark, src_dir, schema, max_files_per_trigger=2)
        .where(F.col("event_type") == "purchase")
        .select("event_id", "user_id", "ts", "value")
    )
    cond = (
        (F.col("user_id") == F.col("d_user"))
        & (F.col("ts") >= F.col("valid_from"))
        & (F.col("valid_to").isNull() | (F.col("ts") < F.col("valid_to")))
    )
    joined = facts.join(F.broadcast(dim), cond, "left")
    out = run_to_memory(joined)
    return out.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        "dim_type",
        F.col("valid_from").alias("dim_since"),
    )


@query(
    "dedup_near_incr",
    f"""{_PAIRS_SQL.replace("WITH RECURSIVE", "WITH RECURSIVE").replace("pairs AS", "all_pairs AS")},
       cross_pairs AS (SELECT id_a AS cid, id_b AS bid FROM all_pairs
                       WHERE id_a <= 250 AND id_b > 250),
       wsh AS (SELECT DISTINCT doc_id, w FROM (
                 SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
                 FROM documents)),
       sz AS (SELECT doc_id, COUNT(*) AS sz FROM wsh GROUP BY doc_id),
       cinter AS (SELECT p.cid, p.bid, COUNT(*) AS n
                  FROM cross_pairs p
                  JOIN wsh a ON a.doc_id = p.cid
                  JOIN wsh b ON b.doc_id = p.bid AND b.w = a.w
                  GROUP BY 1, 2),
       cdup AS (SELECT DISTINCT ci.bid FROM cinter ci
                JOIN sz sa ON sa.doc_id = ci.cid
                JOIN sz sb ON sb.doc_id = ci.bid
                WHERE CAST(ci.n AS DOUBLE) / (sa.sz + sb.sz - ci.n) >= 0.5),
       clean AS (SELECT doc_id, lang, source FROM documents
                 WHERE doc_id > 250 AND doc_id NOT IN (SELECT bid FROM cdup)),
       wpairs AS (SELECT id_a, id_b FROM all_pairs
                  WHERE id_a > 250
                    AND id_a IN (SELECT doc_id FROM clean)
                    AND id_b IN (SELECT doc_id FROM clean)),
       winter AS (SELECT p.id_a, p.id_b, COUNT(*) AS n
                  FROM wpairs p
                  JOIN wsh a ON a.doc_id = p.id_a
                  JOIN wsh b ON b.doc_id = p.id_b AND b.w = a.w
                  GROUP BY 1, 2),
       wver AS (SELECT wi.id_a, wi.id_b FROM winter wi
                JOIN sz sa ON sa.doc_id = wi.id_a
                JOIN sz sb ON sb.doc_id = wi.id_b
                WHERE CAST(wi.n AS DOUBLE) / (sa.sz + sb.sz - wi.n) >= 0.5),
       edges(u, v) AS (SELECT id_a, id_b FROM wver UNION SELECT id_b, id_a FROM wver),
       reach(id, r) AS (
         SELECT u, u FROM edges
         UNION
         SELECT e.u, reach.r FROM edges e JOIN reach ON e.v = reach.id),
       comp AS (SELECT id, MIN(r) AS component FROM reach GROUP BY id)
       SELECT c.doc_id, c.lang, c.source FROM clean c
       LEFT JOIN comp ON c.doc_id = comp.id
       WHERE comp.id IS NULL OR c.doc_id = comp.component""",
)
def q_dedup_near_incr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental NEAR-dup dedup (r6): the corpus (doc_id ≤ 250)
    maintains its LSH band table; the new crawl batch (doc_id > 250)
    joins its bands against it, Jaccard-verifies the candidates
    touching only candidate corpus docs, drops verified recrawls, then
    collapses within-batch near-dup clusters to their min-id survivor.
    History is never re-deduplicated — per-load cost is batch-sized.
    The oracle replays the whole decision chain (LSH bands, bipartite
    verify, recursive-CTE components) in SQL."""
    from hdfs_stream_processing_spark.operators.dedup import (
        band_hashes,
        dedup_near_incremental,
        minhash_signature_wide,
    )

    (documents,) = prep(spark, sf_dir, "documents")
    docs = documents.select("doc_id", "text", "lang", "source")
    corpus = docs.where(F.col("doc_id") <= 250)
    batch = docs.where(F.col("doc_id") > 250)
    corpus_bands = band_hashes(
        minhash_signature_wide(corpus, "doc_id", "text", num_hashes=8, shingle_n=2),
        "doc_id", num_hashes=8, band_size=2,
    )
    # the operator's intermediates (bands, candidate pairs, verify
    # rows) are batch-bounded — at this batch size 32 reducer waves
    # per exchange are pure scheduling overhead; size the shuffle to
    # the workload as any production job conf would
    with _conf_override(spark, "spark.sql.shuffle.partitions", "8"):
        out = dedup_near_incremental(
            batch, corpus, corpus_bands, "doc_id", "text",
            num_hashes=8, band_size=2, shingle_n=2, min_jaccard=0.5,
        )
    return out.select("doc_id", "lang", "source")


@query(
    "scd2_repair",
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
def q_scd2_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 merge with late-arrival repair (r6): the nightly batch is
    the second half-month PLUS ~1% stragglers from the first half that
    missed their load.  Keys whose batch time-travels behind their
    per-key high watermark rebuild from the archive (semi-join point
    reads); every in-order key takes the cheap incremental merge.  The
    oracle rebuilds from the full log — repair must make the mixed
    pipeline exactly equal to a from-scratch build, which plain
    scd2_merge cannot (a late row can land between changes whose
    repeats were suppressed without trace)."""
    from hdfs_stream_processing_spark.operators.incremental import (
        scd2_build,
        scd2_repair,
    )

    (events,) = prep(spark, sf_dir, "events")
    log = events.select("user_id", "ts", "event_id", "event_type")
    cutoff = F.lit("2024-01-16 00:00:00").cast("timestamp")
    in_batch = (F.col("ts") >= cutoff) | (F.col("event_id") % 97 == 0)
    loaded = log.where(~in_batch)
    existing = scd2_build(
        loaded, ["user_id"], "ts", "event_type", tiebreak_cols=["event_id"]
    )
    hwm = loaded.groupBy("user_id").agg(F.max("ts").alias("max_ts"))
    return scd2_repair(
        existing,
        log.where(in_batch),
        log,
        hwm,
        ["user_id"], "ts", "event_type", tiebreak_cols=["event_id"],
    )


@query(
    "incr_topk",
    """SELECT source, token, n, CAST(rank AS INT) AS rank
       FROM (SELECT source, token, count(*) AS n,
                    row_number() OVER (PARTITION BY source
                                       ORDER BY count(*) DESC, token) AS rank
             FROM (SELECT source, unnest(string_split(lower(text), ' ')) AS token
                   FROM documents)
             GROUP BY source, token)
       WHERE rank <= 3""",
)
def q_incr_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental heavy hitters (r6): the per-(source, token) count
    table is maintained by rollup_merge — each load adds its partial
    counts, history is never re-tokenized — and the top-k ranking reads
    the merged count table (groups × distinct tokens, not the corpus).
    The oracle counts the whole corpus from scratch: the incremental
    count table must rank identically.  This is how exact top-k
    survives continuous ingestion at 100 TB; the count table is the
    only state."""
    from hdfs_stream_processing_spark.operators.incremental import rollup_merge
    from pyspark.sql import Window

    (documents,) = prep(spark, sf_dir, "documents")

    def partial(df: DataFrame) -> DataFrame:
        toks = df.select(
            "source",
            F.explode(F.split(F.lower(F.col("text")), " ")).alias("token"),
        )
        return toks.groupBy("source", "token").agg(F.count(F.lit(1)).alias("n"))

    existing = partial(documents.where(F.col("doc_id") <= 250))
    batch = partial(documents.where(F.col("doc_id") > 250))
    counts = rollup_merge(existing, batch, ["source", "token"], ["n"])
    w = Window.partitionBy("source").orderBy(F.col("n").desc(), F.col("token").asc())
    return counts.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= 3)


@query(
    "incr_pack",
    """WITH t AS (
         SELECT doc_id,
                CAST(floor((length(text) + 3) / 4.0) AS BIGINT) AS n_tok,
                md5('s0|' || CAST(doc_id AS VARCHAR)) AS ord,
                CASE WHEN doc_id > 250 THEN 1 ELSE 0 END AS is_new
         FROM documents),
       s AS (
         SELECT doc_id, n_tok, ord, is_new,
                ('0x' || substr(ord, 1, 8))::UBIGINT::BIGINT % 4 AS shard_id
         FROM t),
       c AS (
         SELECT doc_id, n_tok, shard_id, is_new,
                CAST(row_number() OVER (PARTITION BY shard_id
                     ORDER BY is_new, ord, doc_id) AS INT) AS pos,
                COALESCE(SUM(n_tok) OVER (PARTITION BY shard_id
                     ORDER BY is_new, ord, doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
         FROM s)
       SELECT doc_id, n_tok, shard_id, pos,
              CAST(floor(cum / 2048.0) AS BIGINT) AS seq_id,
              CAST(cum % 2048 AS BIGINT) AS seq_off
       FROM c WHERE is_new = 1""",
)
def q_incr_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental sequence packing (r6): the first 250 docs were packed
    in an earlier load and a data loader may already have consumed
    them, so their coordinates are frozen; the new batch extends each
    shard's token stream from the per-shard cursor (n_docs,
    total_toks — two additive numbers, maintained like any rollup).
    The oracle packs the composite order (history first, then batch)
    from scratch and keeps the batch rows: extension must land every
    new doc exactly where the full repack would."""
    from hdfs_stream_processing_spark.operators.llmdata import (
        pack_extend,
        pack_sequences,
    )
    from hdfs_stream_processing_spark.operators.text import token_count

    (documents,) = prep(spark, sf_dir, "documents")
    toks = token_count(documents, "doc_id", "text").select(
        "doc_id", F.col("n_tokens_est").alias("n_tok")
    )
    hist = pack_sequences(
        toks.where(F.col("doc_id") <= 250), "doc_id", "n_tok", 2048, 4, seed="s0"
    )
    state = hist.groupBy("shard_id").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("n_tok").alias("total_toks")
    )
    return pack_extend(
        state, toks.where(F.col("doc_id") > 250), "doc_id", "n_tok", 2048, 4, seed="s0"
    )


@query(
    "incr_dedup_vec",
    f"""WITH q AS (SELECT vec_id, label, {_QUANT_SQL.format(col='embedding')} AS qv
                   FROM embeddings),
       c AS (SELECT * FROM q WHERE vec_id < 250),
       b AS (SELECT * FROM q WHERE vec_id >= 250),
       drops AS (
         SELECT DISTINCT b.vec_id FROM b JOIN c ON b.label = c.label
         WHERE {_DOT_SQL.format(a='b.qv', b='c.qv')}
               / ({_NORM_SQL.format(a='b.qv')} * {_NORM_SQL.format(a='c.qv')}) >= 0.3
         UNION
         SELECT DISTINCT hi.vec_id FROM b hi JOIN b lo
           ON hi.label = lo.label AND lo.vec_id < hi.vec_id
         WHERE {_DOT_SQL.format(a='hi.qv', b='lo.qv')}
               / ({_NORM_SQL.format(a='hi.qv')} * {_NORM_SQL.format(a='lo.qv')}) >= 0.3)
       SELECT vec_id, label FROM b
       WHERE vec_id NOT IN (SELECT vec_id FROM drops)""",
)
def q_incr_dedup_vec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space incremental dedup (r6): new batch vectors drop
    when cosine-similar (≥ 0.3) to any same-bucket corpus vector or to
    a lower-id same-bucket batch vector — the vector analog of the
    exact/near-dup incremental ops, with the label standing in for the
    production IVF cell.  Exact quantized cosines make the whole
    decision hashable."""
    from hdfs_stream_processing_spark.operators.similarity import (
        embedding_dedup_incremental,
    )

    (embeddings,) = prep(spark, sf_dir, "embeddings")
    corpus = embeddings.where(F.col("vec_id") < 250)
    batch = embeddings.where(F.col("vec_id") >= 250)
    out = embedding_dedup_incremental(
        batch, corpus, "vec_id", "label", "embedding", min_cosine=0.3
    )
    return out.select("vec_id", "label")


@query(
    "ohlc_bars",
    """WITH c AS (SELECT date_trunc('hour', ts) AS hour, event_type, ts, event_id,
                         CAST(round(value * 100.0, 0) AS BIGINT) AS cents
                  FROM events WHERE value IS NOT NULL),
       w AS (SELECT *,
                    row_number() OVER (PARTITION BY hour, event_type
                                       ORDER BY ts, event_id) AS rf,
                    row_number() OVER (PARTITION BY hour, event_type
                                       ORDER BY ts DESC, event_id DESC) AS rl
             FROM c)
       SELECT hour, event_type,
              CAST(MAX(CASE WHEN rf = 1 THEN cents END) AS DOUBLE) / 100.0 AS open,
              CAST(MAX(cents) AS DOUBLE) / 100.0 AS high,
              CAST(MIN(cents) AS DOUBLE) / 100.0 AS low,
              CAST(MAX(CASE WHEN rl = 1 THEN cents END) AS DOUBLE) / 100.0 AS close,
              COUNT(*) AS n
       FROM w GROUP BY hour, event_type""",
)
def q_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC downsampling (time-series staple): per hour × type, the
    opening/closing value by event time (min_by/max_by over a
    (ts, event_id) struct — a total order, so bars are engine- and
    partitioning-independent) plus high/low/count.  ONE hash aggregate
    with map-side partials; integer cents keep every bar exact."""
    (events,) = prep(spark, sf_dir, "events")
    e = events.where(F.col("value").isNotNull())
    cents = F.round(F.col("value") * F.lit(100.0), 0).cast("long")
    key = F.struct(F.col("ts"), F.col("event_id"))
    return (
        e.withColumn("_c", cents)
        .groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour"), F.col("event_type")
        )
        .agg(
            (F.min_by(F.col("_c"), key).cast("double") / F.lit(100.0)).alias("open"),
            (F.max(F.col("_c")).cast("double") / F.lit(100.0)).alias("high"),
            (F.min(F.col("_c")).cast("double") / F.lit(100.0)).alias("low"),
            (F.max_by(F.col("_c"), key).cast("double") / F.lit(100.0)).alias("close"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@query(
    "stream_ohlc",
    """WITH c AS (SELECT date_trunc('hour', ts) AS hour, event_type, ts, event_id,
                         CAST(round(value * 100.0, 0) AS BIGINT) AS cents
                  FROM events WHERE value IS NOT NULL),
       w AS (SELECT *,
                    row_number() OVER (PARTITION BY hour, event_type
                                       ORDER BY ts, event_id) AS rf,
                    row_number() OVER (PARTITION BY hour, event_type
                                       ORDER BY ts DESC, event_id DESC) AS rl
             FROM c)
       SELECT hour, event_type,
              CAST(MAX(CASE WHEN rf = 1 THEN cents END) AS DOUBLE) / 100.0 AS open,
              CAST(MAX(cents) AS DOUBLE) / 100.0 AS high,
              CAST(MIN(cents) AS DOUBLE) / 100.0 AS low,
              CAST(MAX(CASE WHEN rl = 1 THEN cents END) AS DOUBLE) / 100.0 AS close,
              COUNT(*) AS n
       FROM w GROUP BY hour, event_type""",
)
def q_stream_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC bars maintained ON THE STREAM (r6): the same hourly bars as
    the batch ohlc_bars, built as a watermarked tumbling-window
    aggregate — min_by/max_by keyed on (ts, event_id) are
    order-insensitive aggregates, so bars are exact regardless of
    micro-batch arrival order; the batch query is the oracle."""
    from hdfs_stream_processing_spark.streaming import (
        run_to_memory,
        stream_parquet_source,
    )

    src_dir, schema = _stage_events(spark, sf_dir)
    stream = stream_parquet_source(spark, src_dir, schema).where(
        F.col("value").isNotNull()
    )
    cents = F.round(F.col("value") * F.lit(100.0), 0).cast("long")
    key = F.struct(F.col("ts"), F.col("event_id"))
    agg = (
        stream.withColumn("_c", cents)
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window(F.col("ts"), "1 hour").alias("win"), F.col("event_type"))
        .agg(
            (F.min_by(F.col("_c"), key).cast("double") / F.lit(100.0)).alias("open"),
            (F.max(F.col("_c")).cast("double") / F.lit(100.0)).alias("high"),
            (F.min(F.col("_c")).cast("double") / F.lit(100.0)).alias("low"),
            (F.max_by(F.col("_c"), key).cast("double") / F.lit(100.0)).alias("close"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    out = run_to_memory(agg, output_mode="complete")
    return out.select(
        F.col("win.start").alias("hour"),
        "event_type",
        "open",
        "high",
        "low",
        "close",
        "n",
    )


@query(
    "stream_daily_rollup",
    """SELECT CAST(CAST(ts AS DATE) AS TIMESTAMP) AS day,
              CAST(SUM(CAST(round(value * 100.0, 0) AS BIGINT)) AS DOUBLE) / 100.0
                  AS sum_value,
              COUNT(*) AS n,
              COUNT(DISTINCT date_trunc('hour', ts)) AS n_hours
       FROM events
       WHERE value IS NOT NULL AND CAST(ts AS DATE) < DATE '2024-01-30'
       GROUP BY 1""",
)
def q_stream_daily_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHAINED stateful streaming aggregation (r6): hourly window sums
    feed a second, daily windowed aggregate in the same query — two
    state stores, event-time watermark propagated through both (the
    multi-stateful-operator capability Spark gained in 3.4).  Append
    mode emits only watermark-closed days, so the stream's final
    partial day is withheld — the oracle states that contract
    explicitly by cutting at the last closed day.  At 100 TB this is
    the cascade shape (raw → hourly → daily) that otherwise needs two
    jobs and an intermediate table."""
    from hdfs_stream_processing_spark.streaming import (
        run_to_memory,
        stream_parquet_source,
    )

    src_dir, schema = _stage_events(spark, sf_dir)
    stream = stream_parquet_source(spark, src_dir, schema).where(
        F.col("value").isNotNull()
    )
    cents = F.round(F.col("value") * F.lit(100.0), 0).cast("long")
    hourly = (
        stream.withColumn("_c", cents)
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("hw"))
        .agg(F.sum("_c").alias("hc"), F.count(F.lit(1)).alias("hn"))
    )
    daily = hourly.groupBy(F.window("hw", "1 day").alias("dw")).agg(
        F.sum("hc").alias("dc"),
        F.sum("hn").alias("dn"),
        F.count(F.lit(1)).alias("n_hours"),
    )
    with _conf_override(spark, "spark.sql.shuffle.partitions", "8"):
        out = run_to_memory(daily, output_mode="append")
    return out.select(
        F.col("dw.start").alias("day"),
        (F.col("dc").cast("double") / F.lit(100.0)).alias("sum_value"),
        F.col("dn").alias("n"),
        F.col("n_hours"),
    )


@query(
    "dq_quarantine",
    """SELECT event_id,
              array_to_string(list_sort(list_filter([
                CASE WHEN value < 0 OR value > 95 THEN 'value_in_range' END,
                CASE WHEN event_type NOT IN ('view','click','purchase','signup','error')
                     THEN 'event_type_in_domain' END,
                CASE WHEN props IS NULL THEN 'props_not_null' END,
                CASE WHEN NOT regexp_matches(props, '^\\{"k": \\d+\\}$')
                     THEN 'props_json_shape' END
              ], x -> x IS NOT NULL)), ',') AS failed_rules
       FROM events
       WHERE len(list_filter([
                CASE WHEN value < 0 OR value > 95 THEN 'value_in_range' END,
                CASE WHEN event_type NOT IN ('view','click','purchase','signup','error')
                     THEN 'event_type_in_domain' END,
                CASE WHEN props IS NULL THEN 'props_not_null' END,
                CASE WHEN NOT regexp_matches(props, '^\\{"k": \\d+\\}$')
                     THEN 'props_json_shape' END
              ], x -> x IS NOT NULL)) > 0""",
)
def q_dq_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level quarantine (r6): the SAME rule list the dq_checks
    report aggregates, routed per row — quarantined rows carry the
    array of rules they violate, so a loader splits one narrow
    zero-shuffle pass into target + quarantine tables instead of the
    reference's silent dropna().  Output: the quarantine side with
    reasons (sorted and comma-joined — the driver's canonicalizer
    hashes scalar cells only, so the array is serialized to one
    deterministic string, CORRECTNESS_r06 regression)."""
    from hdfs_stream_processing_spark.operators.quality import dq_quarantine

    (events,) = prep(spark, sf_dir, "events")
    out = dq_quarantine(events, [(n, p()) for n, p in _DQ_RULES])
    return (
        out.where(~F.col("is_valid"))
        .select(
            "event_id",
            F.array_join(F.array_sort("failed_rules"), ",").alias("failed_rules"),
        )
    )


@query(
    "cap_per_source",
    """SELECT doc_id, source, n_chars FROM (
         SELECT doc_id, source, n_chars,
                row_number() OVER (PARTITION BY source
                                   ORDER BY n_chars DESC, doc_id) AS rn
         FROM documents)
       WHERE rn <= 40""",
)
def q_cap_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain cap (r6): at most 40 docs per source, longest first
    with a unique-id tiebreak — the anti-dominance cap every crawl
    curation applies (RefinedWeb / MassiveWeb cap per domain) so one
    site cannot swamp the mixture.  One group-key shuffle; survivor
    set is partitioning-independent by the total order."""
    from hdfs_stream_processing_spark.operators.llmdata import cap_per_group

    (documents,) = prep(spark, sf_dir, "documents")
    return cap_per_group(
        documents.select("doc_id", "source", "n_chars"),
        ["source"],
        [F.col("n_chars").desc(), F.col("doc_id").asc()],
        40,
    )


@query(
    "stream_quarantine",
    """SELECT event_id,
              array_to_string(list_sort(list_filter([
                CASE WHEN value < 0 OR value > 95 THEN 'value_in_range' END,
                CASE WHEN event_type NOT IN ('view','click','purchase','signup','error')
                     THEN 'event_type_in_domain' END,
                CASE WHEN props IS NULL THEN 'props_not_null' END,
                CASE WHEN NOT regexp_matches(props, '^\\{"k": \\d+\\}$')
                     THEN 'props_json_shape' END
              ], x -> x IS NOT NULL)), ',') AS failed_rules
       FROM events
       WHERE len(list_filter([
                CASE WHEN value < 0 OR value > 95 THEN 'value_in_range' END,
                CASE WHEN event_type NOT IN ('view','click','purchase','signup','error')
                     THEN 'event_type_in_domain' END,
                CASE WHEN props IS NULL THEN 'props_not_null' END,
                CASE WHEN NOT regexp_matches(props, '^\\{"k": \\d+\\}$')
                     THEN 'props_json_shape' END
              ], x -> x IS NOT NULL)) > 0""",
)
def q_stream_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level quarantine ON THE STREAM (r6): the identical rule list
    routes rows as they arrive — stateless narrow projection, no
    watermark, no state store — so the quarantine table fills
    continuously instead of after a nightly batch.  Same oracle as the
    batch dq_quarantine: one rule list, two execution modes (the
    quality suite's batch/stream symmetry, completed for routing as
    stream_dq completed it for counting)."""
    from hdfs_stream_processing_spark.operators.quality import dq_quarantine
    from hdfs_stream_processing_spark.streaming import (
        run_to_memory,
        stream_parquet_source,
    )

    src_dir, schema = _stage_events(spark, sf_dir)
    stream = stream_parquet_source(spark, src_dir, schema, max_files_per_trigger=2)
    routed = dq_quarantine(stream, [(n, p()) for n, p in _DQ_RULES])
    out = run_to_memory(routed.where(~F.col("is_valid")))
    return out.select(
        "event_id",
        F.array_join(F.array_sort("failed_rules"), ",").alias("failed_rules"),
    )


@query(
    "merge_upsert",
    """WITH base AS (
         SELECT user_id,
                SUM(COALESCE(CAST(round(value * 100.0, 0) AS BIGINT), 0)) AS cents,
                SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS n_err
         FROM events WHERE ts >= TIMESTAMP '2024-01-16 00:00:00'
         GROUP BY user_id),
       src AS (
         SELECT user_id, cents, n_err FROM base
         UNION ALL
         SELECT user_id + 2000, cents, n_err FROM base WHERE user_id < 100),
       merged AS (
         SELECT COALESCE(t.c_custkey, s.user_id) AS c_custkey,
                CASE WHEN t.c_custkey IS NULL
                     THEN 'new-' || CAST(s.user_id AS VARCHAR)
                     ELSE t.c_name END AS c_name,
                CASE WHEN t.c_custkey IS NULL THEN NULL
                     ELSE t.c_nationkey END AS c_nationkey,
                CASE WHEN t.c_custkey IS NULL
                     THEN CAST(s.cents AS DOUBLE) / 100.0
                     WHEN s.user_id IS NOT NULL
                     THEN CAST(CAST(round(t.c_acctbal * 100.0, 0) AS BIGINT)
                               + s.cents AS DOUBLE) / 100.0
                     ELSE t.c_acctbal END AS c_acctbal,
                CASE WHEN t.c_custkey IS NULL THEN 'NEW'
                     ELSE t.c_mktsegment END AS c_mktsegment,
                (t.c_custkey IS NOT NULL AND s.user_id IS NOT NULL
                 AND s.n_err >= 3) AS _del
         FROM customer t FULL OUTER JOIN src s ON t.c_custkey = s.user_id)
       SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
       FROM merged WHERE NOT _del""",
)
def q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative MERGE INTO (r6): the customer table absorbs a
    half-month activity batch in one statement — matched customers with
    ≥ 3 errors DELETE, other matched customers UPDATE their balance by
    the exact-cents activity total, unseen account ids INSERT as new
    rows.  One co-partitioned full-outer join (the snapshot_diff
    shape); the generalized form of cdc_apply for when the target is
    authoritative and the source is just a day's delta."""
    from hdfs_stream_processing_spark.operators.incremental import merge_into

    events, customer = prep(spark, sf_dir, "events", "customer")
    cents = F.coalesce(
        F.round(F.col("value") * F.lit(100.0), 0).cast("long"), F.lit(0)
    )
    base = (
        events.where(F.col("ts") >= F.lit("2024-01-16 00:00:00").cast("timestamp"))
        .groupBy("user_id")
        .agg(
            F.sum(cents).alias("cents"),
            F.sum(
                F.when(F.col("event_type") == "error", F.lit(1)).otherwise(F.lit(0))
            ).alias("n_err"),
        )
    )
    src = base.unionByName(
        base.where(F.col("user_id") < 100).withColumn(
            "user_id", F.col("user_id") + F.lit(2000)
        )
    ).withColumnRenamed("user_id", "c_custkey")
    return merge_into(
        customer,
        src,
        ["c_custkey"],
        update_set={
            "c_acctbal": (
                F.round(F.col("t.c_acctbal") * F.lit(100.0), 0).cast("long")
                + F.col("s.cents")
            ).cast("double")
            / F.lit(100.0)
        },
        insert_values={
            "c_custkey": F.col("s.c_custkey"),
            "c_name": F.concat(
                F.lit("new-"), F.col("s.c_custkey").cast("string")
            ),
            "c_acctbal": F.col("s.cents").cast("double") / F.lit(100.0),
            "c_mktsegment": F.lit("NEW"),
        },
        delete_condition=F.col("s.n_err") >= 3,
    )


@query(
    "time_travel",
    """WITH base AS (
         SELECT user_id,
                SUM(COALESCE(CAST(round(value * 100.0, 0) AS BIGINT), 0)) AS cents,
                SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS n_err
         FROM events WHERE ts >= TIMESTAMP '2024-01-16 00:00:00'
         GROUP BY user_id),
       src AS (
         SELECT user_id, cents, n_err FROM base
         UNION ALL
         SELECT user_id + 2000, cents, n_err FROM base WHERE user_id < 100)
       SELECT t.c_custkey,
              CASE WHEN t.c_custkey IS NULL THEN 'added'
                   WHEN s.n_err >= 3 THEN 'removed'
                   WHEN s.user_id IS NOT NULL AND s.cents <> 0 THEN 'changed'
              END AS status,
              t.c_acctbal AS old_acctbal,
              CASE WHEN s.n_err >= 3 THEN NULL
                   WHEN s.user_id IS NOT NULL
                   THEN CAST(CAST(round(t.c_acctbal * 100.0, 0) AS BIGINT)
                             + s.cents AS DOUBLE) / 100.0
              END AS new_acctbal
       FROM customer t JOIN src s ON t.c_custkey = s.user_id
       WHERE s.n_err >= 3 OR s.cents <> 0
       UNION ALL
       SELECT s.user_id, 'added', NULL, CAST(s.cents AS DOUBLE) / 100.0
       FROM src s LEFT JOIN customer t ON t.c_custkey = s.user_id
       WHERE t.c_custkey IS NULL""",
)
def q_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Versioned table + time travel (r6): the customer table commits
    as snapshot v_n, the MERGE result as v_{n+1} (immutable ``v=``
    dirs behind an atomically-renamed ``_latest`` pointer — the
    minimal Iceberg-shaped commit protocol), old snapshots are
    vacuumed down to the last two, then BOTH versions are read back —
    the new one through the pointer, the old one by explicit version —
    and keyed-diffed.  The oracle derives the same diff from the base
    tables alone, so pointer resolution, snapshot isolation, vacuum
    safety, and the diff all verify in one query."""
    from hdfs_stream_processing_spark.operators.incremental import snapshot_diff
    from hdfs_stream_processing_spark.sources.io import (
        read_table_version,
        table_latest_version,
        vacuum_table_versions,
        write_table_version,
    )

    (customer,) = prep(spark, sf_dir, "customer")
    tdir = _mkdtemp("hsp_versioned_", memo_key=sf_dir)
    merged = QUERIES["merge_upsert"](spark, sf_dir)
    write_table_version(spark, customer, tdir)
    v_new = write_table_version(spark, merged, tdir)
    vacuum_table_versions(spark, tdir, keep_last=2)
    old = read_table_version(spark, tdir, version=v_new - 1)  # time travel
    new = read_table_version(spark, tdir)  # pointer = latest
    assert table_latest_version(spark, tdir) == v_new
    diff = snapshot_diff(old, new, ["c_custkey"], ["c_acctbal"])
    return diff.select(
        "c_custkey",
        "status",
        F.col("old_c_acctbal").alias("old_acctbal"),
        F.col("new_c_acctbal").alias("new_acctbal"),
    )


# Decision-support (TPC-H-shaped) suite — registers into QUERIES/ORACLES
# via the shared @query decorator.  Import sits at module end so the
# decorator and helpers above are defined when the submodule runs.
from hdfs_stream_processing_spark import queries_dss  # noqa: E402,F401


@_stage_once
def _stage_events_time_ordered(out: str, spark: SparkSession, sf_dir: str) -> None:
    """Stage the events table as a streaming source whose files arrive
    in EVENT-TIME order (3 files): file i holds a contiguous ts range strictly
    before file i+1's (cutpoints = exact ts percentiles; events ts is
    unique in the driver data).  File mtimes are stamped increasing so
    the file source's oldest-first ordering is deterministic, and
    ``maxFilesPerTrigger=1`` turns each range into its own micro-batch.
    This is the staging that satisfies the in-order batch contract of
    ``scd2_merge``-style incremental maintenance (a real deployment
    gets the same property from Kafka per-key ordering or time-bucketed
    landing dirs; stragglers route through scd2_repair)."""
    import os as _os
    import time as _time

    events = load_table(spark, sf_dir, "events")
    n_files = 3
    fracs = [i / n_files for i in range(1, n_files)]
    (cuts,) = (
        events.agg(
            F.expr(
                "percentile(unix_micros(ts), array("
                + ",".join(str(f) for f in fracs)
                + "))"
            ).alias("c")
        ).collect()[0]
    )
    bounds = [None, *[int(c) for c in cuts], None]
    base = int(_time.time())
    stamped: set[str] = set()
    for i in range(n_files):
        cond = F.lit(True)
        if bounds[i] is not None:
            cond = cond & (F.unix_micros("ts") > F.lit(bounds[i]))
        if bounds[i + 1] is not None:
            cond = cond & (F.unix_micros("ts") <= F.lit(bounds[i + 1]))
        events.where(cond).coalesce(1).write.mode("append").parquet(out)
        for f in _os.listdir(out):
            p = _os.path.join(out, f)
            if f.endswith(".parquet") and p not in stamped:
                _os.utime(p, (base + i, base + i))
                stamped.add(p)


@query(
    "stream_scd2",
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
def q_stream_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming SCD2 maintenance (r6): the change stream arrives in
    event-time-ordered micro-batches; the first bootstraps the
    dimension via scd2_build, each later one folds in via scd2_merge,
    and every step publishes an immutable snapshot through the
    versioned-table pointer (readers never see a half-merged
    dimension; replays skip on the committed batch id).  The live
    dimension must equal the one-shot scd2_build over the whole log —
    the same oracle proves batch and stream paths identical."""
    from hdfs_stream_processing_spark.streaming import stream_parquet_source
    from hdfs_stream_processing_spark.streaming.pipeline import (
        read_scd2_snapshot,
        run_stream_scd2,
    )

    (events,) = prep(spark, sf_dir, "events")
    src_dir = _stage_events_time_ordered(spark, sf_dir)
    stream = stream_parquet_source(spark, src_dir, events.schema, max_files_per_trigger=1)
    log = stream.select("user_id", "ts", "event_id", "event_type")
    tdir = _mkdtemp("hsp_sscd2_")
    ckpt = _mkdtemp("hsp_sscd2_ckpt_")
    run_stream_scd2(
        log, tdir, ckpt, ["user_id"], "ts", "event_type", tiebreak_cols=["event_id"]
    )
    return read_scd2_snapshot(spark, tdir)


@query(
    "kmeans_refine",
    f"""WITH q AS (SELECT vec_id, {_QUANT_SQL.format(col='embedding')} AS qv
                   FROM embeddings),
       cents AS (SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cell,
                        qv AS cv
                 FROM q ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 8),
       aff AS (SELECT q.vec_id, q.qv, c.cell,
                      CAST(list_sum(list_transform(list_zip(q.qv, c.cv), p -> p[1] * p[2])) AS DOUBLE)
                      / (sqrt(CAST(list_sum(list_transform(q.qv, x -> x * x)) AS DOUBLE))
                         * sqrt(CAST(list_sum(list_transform(c.cv, x -> x * x)) AS DOUBLE))) AS a
               FROM q CROSS JOIN cents c),
       assigned AS (SELECT vec_id, qv, cell FROM (
         SELECT vec_id, qv, cell,
                row_number() OVER (PARTITION BY vec_id ORDER BY a DESC, cell ASC) AS rn
         FROM aff) WHERE rn = 1),
       exploded AS (SELECT cell, CAST(generate_subscripts(qv, 1) - 1 AS INT) AS pos,
                           unnest(qv) AS val
                    FROM assigned)
       SELECT CAST(cell AS INT) AS cell, pos,
              CAST(SUM(val) AS BIGINT) AS sum_q, count(*) AS n
       FROM exploded GROUP BY cell, pos""",
)
def q_kmeans_refine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One exact Lloyd (k-means) iteration, oracle-checked end-to-end:
    every vector is assigned to its argmax-cosine centroid (the
    literal-centroid codegen expression — zero shuffle), then the NEW
    centroid for each cell is recomputed as exact per-dimension integer
    sums + member count (the caller divides sum_q/n — the only float
    step, kept out of the hash).  This is precisely the loop body of
    train_ivf_centroids (rows-only there, as floats); expressing one
    step over exact quantized ints makes the whole iterative-ML path
    verifiable against an independent SQL formulation.

    Scale: assignment is per-row codegen; posexplode is narrow
    (rows × dims, no shuffle); the single exchange keys on
    (cell, pos) — k × dims groups, partial-aggregated map-side, so the
    shuffle carries at most cells × dims × partitions rows regardless
    of corpus size."""
    from hdfs_stream_processing_spark.operators.similarity import (
        assign_cells,
        ivf_init_centroids,
        quantized,
    )

    (embeddings,) = prep(spark, sf_dir, "embeddings")
    cents = ivf_init_centroids(embeddings, "vec_id", "embedding", n_cells=8)
    q = embeddings.select("vec_id", quantized("embedding").alias("qv"))
    assigned = assign_cells(q, cents)
    exploded = assigned.select(
        "cell", F.posexplode("qv").alias("pos", "val")
    )
    return exploded.groupBy(
        F.col("cell").cast("int").alias("cell"), F.col("pos").cast("int").alias("pos")
    ).agg(F.sum("val").alias("sum_q"), F.count(F.lit(1)).alias("n"))


@query(
    "embed_quantize",
    """WITH b AS (SELECT vec_id,
                        list_min(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS lo,
                        list_max(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS hi,
                        embedding
                 FROM embeddings)
       SELECT vec_id, CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS pos,
              CAST(round((CAST(unnest(embedding) AS DOUBLE) - lo) / (hi - lo) * 255.0 - 128.0, 0) AS INT) AS q8
       FROM b WHERE hi > lo""",
)
def q_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector min-max int8 quantization of the embedding column —
    the storage/bandwidth play every 100 TB vector corpus makes (4
    bytes → 1 byte per component; the (lo, hi) pair per vector is the
    dequantization key).  Exploded to (vec_id, pos, q8) rows so the
    hash compare covers every component.

    Bit-exactness: each float32 component is cast to double FIRST in
    both engines (exact), then one shared double expression tree
    ((v-lo)/(hi-lo)*255-128, single round) — identical IEEE754 ops in
    identical order.  Degenerate constant vectors (hi == lo) are
    excluded in both formulations rather than dividing by zero.

    Scale: narrow per-row work, no shuffle at all — array min/max and
    the transform run inside whole-stage codegen; at 100 TB this is a
    pure map over the scan."""
    (embeddings,) = prep(spark, sf_dir, "embeddings")
    dbl = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    b = embeddings.select(
        "vec_id",
        F.array_min(dbl).alias("lo"),
        F.array_max(dbl).alias("hi"),
        dbl.alias("emb"),
    ).where(F.col("hi") > F.col("lo"))
    exploded = b.select(
        "vec_id", "lo", "hi", F.posexplode("emb").alias("pos", "val")
    )
    q8 = F.round(
        (F.col("val") - F.col("lo")) / (F.col("hi") - F.col("lo")) * F.lit(255.0)
        - F.lit(128.0),
        0,
    ).cast("int")
    return exploded.select(
        "vec_id", F.col("pos").cast("int").alias("pos"), q8.alias("q8")
    )


@query(
    "stream_topk",
    """SELECT source, token, n, CAST(rank AS INT) AS rank
       FROM (SELECT source, token, count(*) AS n,
                    row_number() OVER (PARTITION BY source
                                       ORDER BY count(*) DESC, token) AS rank
             FROM (SELECT source, unnest(string_split(lower(text), ' ')) AS token
                   FROM documents)
             GROUP BY source, token)
       WHERE rank <= 3""",
)
def q_stream_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact top-k (r6): the document stream maintains the
    per-(source, token) count table through run_stream_rollup — each
    micro-batch contributes its partial counts, every merge commits a
    versioned snapshot, replays skip on the recorded batch id — and the
    ranking is a READ over the maintained state (groups × tokens, not
    the corpus).  Must rank identically to a from-scratch count of the
    whole corpus (incr_topk's oracle): the batch and stream maintenance
    paths are provably the same view."""
    from pyspark.sql import Window

    from hdfs_stream_processing_spark.streaming import stream_parquet_source
    from hdfs_stream_processing_spark.streaming.pipeline import run_stream_rollup
    from hdfs_stream_processing_spark.sources.io import read_table_version

    src_dir, schema = _stage_documents(spark, sf_dir)
    stream = stream_parquet_source(spark, src_dir, schema, max_files_per_trigger=2)

    def partial(df: DataFrame) -> DataFrame:
        toks = df.select(
            "source",
            F.explode(F.split(F.lower(F.col("text")), " ")).alias("token"),
        )
        return toks.groupBy("source", "token").agg(F.count(F.lit(1)).alias("n"))

    tdir = _mkdtemp("hsp_stopk_")
    ckpt = _mkdtemp("hsp_stopk_ckpt_")
    run_stream_rollup(stream, tdir, ckpt, ["source", "token"], ["n"], partial)
    counts = read_table_version(spark, tdir).drop("_batch")
    w = Window.partitionBy("source").orderBy(F.col("n").desc(), F.col("token").asc())
    return counts.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= 3)


from hdfs_stream_processing_spark.operators.sketch import (  # noqa: E402
    cms_bucket_sql,
    cms_build,
    cms_estimate,
)

_CMS_CELLS_SQL = " UNION ALL ".join(
    f"SELECT {i} AS row, {cms_bucket_sql('token', i, 256)} AS bucket, n FROM counts"
    for i in range(4)
)


@query(
    "cms_topk",
    f"""WITH toks AS (SELECT unnest(string_split(lower(text), ' ')) AS token
                      FROM documents),
       counts AS (SELECT token, count(*) AS n FROM toks GROUP BY token),
       cells AS ({_CMS_CELLS_SQL}),
       sketch AS (SELECT row, bucket, CAST(SUM(n) AS BIGINT) AS total
                  FROM cells GROUP BY row, bucket),
       top AS (SELECT token, n FROM counts
               ORDER BY n DESC, token LIMIT 10),
       probes AS ({" UNION ALL ".join(
           f"SELECT token, n, {i} AS row, {cms_bucket_sql('token', i, 256)} AS bucket FROM top"
           for i in range(4))})
       SELECT p.token, CAST(p.n AS BIGINT) AS true_n,
              CAST(MIN(COALESCE(s.total, 0)) AS BIGINT) AS est
       FROM probes p LEFT JOIN sketch s
         ON p.row = s.row AND p.bucket = s.bucket
       GROUP BY p.token, p.n""",
)
def q_cms_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min Sketch frequency estimation, oracle-checked bit-exact:
    the corpus token counts project into a 4×256 integer sketch
    (md5-derived buckets — deterministic and engine-portable), and the
    top-10 true heavy hitters are point-estimated back out of it.  The
    DuckDB oracle REBUILDS the identical sketch in SQL, so the entire
    construction — hashing, cell sums, min-over-rows estimate — is
    verified, not just plumbed.  The est ≥ true_n over-estimate
    invariant is property-tested in tests/test_operators.py.

    Scale: the item shuffle happens once (the exact count aggregate);
    the sketch is depth × width rows — merged cell-wise it streams and
    tree-reduces (cms_merge == rollup_merge), and estimation is a
    broadcast join.  At 100 TB the sketch replaces the unbounded count
    table wherever approximate frequencies suffice."""
    (documents,) = prep(spark, sf_dir, "documents")
    toks = documents.select(
        F.explode(F.split(F.lower(F.col("text")), " ")).alias("token")
    )
    counts = toks.groupBy("token").agg(F.count(F.lit(1)).alias("n"))
    sketch = cms_build(counts, "token", "n", depth=4, width=256)
    top = counts.orderBy(F.col("n").desc(), F.col("token")).limit(10)
    est = cms_estimate(sketch, top.select("token"), "token", depth=4, width=256)
    return top.join(est, "token").select(
        "token", F.col("n").alias("true_n"), "est"
    )


@query(
    "pagerank",
    """WITH pairs AS (
         SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS s,
                         's' || CAST(l_suppkey AS VARCHAR) AS d
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       edges AS (SELECT s, d FROM pairs UNION ALL SELECT d, s FROM pairs),
       nodes AS (SELECT DISTINCT s AS node FROM edges),
       deg AS (SELECT s, count(*) AS dg FROM edges GROUP BY s),
       r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS r FROM nodes),
       c1 AS (SELECT e.d AS node, SUM(r0.r // deg.dg) AS inc
              FROM edges e JOIN r0 ON e.s = r0.node JOIN deg ON e.s = deg.s
              GROUP BY e.d),
       r1 AS (SELECT n.node, CAST(150000 + (85 * COALESCE(c1.inc, 0)) // 100 AS BIGINT) AS r
              FROM nodes n LEFT JOIN c1 ON n.node = c1.node),
       c2 AS (SELECT e.d AS node, SUM(r1.r // deg.dg) AS inc
              FROM edges e JOIN r1 ON e.s = r1.node JOIN deg ON e.s = deg.s
              GROUP BY e.d),
       r2 AS (SELECT n.node, CAST(150000 + (85 * COALESCE(c2.inc, 0)) // 100 AS BIGINT) AS r
              FROM nodes n LEFT JOIN c2 ON n.node = c2.node)
       SELECT node, r AS rank FROM r2""",
)
def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the customer-supplier trade graph (two exact
    fixed-point iterations): who are the structurally central parties
    when every distinct customer↔supplier trading relation is an edge?
    Integer ranks make the iterative sums order-independent, so the
    oracle — the same two iterations unrolled as SQL CTEs — matches
    bit-exactly; beyond connected components this is the repo's second
    iterative graph operator, the standard 2-shuffle Pregel step per
    round with lineage truncation."""
    from hdfs_stream_processing_spark.operators.graph import pagerank_exact

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
    return pagerank_exact(edges, "s", "d", n_iters=2)


@query(
    "hll_registers",
    """WITH h AS (SELECT md5(CAST(l_partkey AS VARCHAR)) AS hx FROM lineitem),
       br AS (SELECT
                CAST(('0x' || substr(hx, 1, 8))::UBIGINT::BIGINT % 64 AS INT) AS bucket,
                ('0x' || substr(hx, 9, 12))::UBIGINT::BIGINT AS v
              FROM h)
       SELECT bucket,
              MAX(CASE WHEN v = 0 THEN 49
                       ELSE CAST(49 - length(bin(v)) AS INT) END) AS max_rho
       FROM br GROUP BY bucket""",
)
def q_hll_registers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog with OPEN registers (r6): the native
    approx_count_distinct sketch is opaque (rows-only check by design);
    this construction derives buckets and leading-zero ranks from md5 —
    fully deterministic, so the DuckDB oracle rebuilds the register
    table bit-exactly and the WHOLE sketch pipeline is verified, with
    only the final bias division left outside the hash (pytest pins the
    estimate within the published HLL error bound, and register
    mergeability across disjoint partitions).

    Scale: one exchange over at most 2^b groups after map-side partial
    max — the distinct-item shuffle that count_distinct pays never
    happens; that is the entire point of HLL at 100 TB."""
    from hdfs_stream_processing_spark.operators.sketch import hll_registers

    (lineitem,) = prep(spark, sf_dir, "lineitem")
    return hll_registers(lineitem, "l_partkey", b=6)


@query(
    "bloom_prefilter",
    """SELECT o_orderkey, o_custkey FROM orders
       WHERE o_custkey IN (SELECT c_custkey FROM customer
                           WHERE c_mktsegment = 'BUILDING')""",
)
def q_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter membership prefilter (r6): the BUILDING customers'
    key set becomes a 4096-bit / 3-hash bloom (a few-KB bit table), the
    orders scan probes it, and only the surviving candidates reach the
    exact semi-join.  The final result is EXACT — the bloom admits no
    false negatives, and its false positives die in the residual
    semi-join — so the plain IN-subquery oracle proves the whole
    prefilter chain lossless.  FPR and no-false-negative contracts are
    property-tested in tests/test_operators.py.

    Scale: this is the user-level form of what the runtime bloom join
    injects automatically (pytest-asserted elsewhere) — ship a KB-sized
    membership summary instead of broadcasting a 10^8-row key set; the
    probe is k broadcast semi-joins on bit positions, map-side only."""
    from hdfs_stream_processing_spark.operators.sketch import (
        bloom_bits,
        bloom_probe,
    )

    orders, customer = prep(spark, sf_dir, "orders", "customer")
    keys = customer.where(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    bits = bloom_bits(keys, "c_custkey", n_bits=4096, k=3)
    candidates = bloom_probe(orders, "o_custkey", bits, n_bits=4096, k=3)
    exact = candidates.join(
        F.broadcast(keys), F.col("o_custkey") == F.col("c_custkey"), "left_semi"
    )
    return exact.select("o_orderkey", "o_custkey")


@query(
    "fuzzy_pairs",
    """SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
              levenshtein(substr(a.text, 1, 40), substr(b.text, 1, 40)) AS prefix_dist,
              levenshtein(substr(a.text, 1, 40), substr(b.text, 1, 40)) <= 5 AS is_dup
       FROM documents a JOIN documents b
         ON a.source = b.source AND a.doc_id < b.doc_id
        AND abs(length(a.text) - length(b.text)) <= 5
       WHERE regexp_matches(a.text, '^[ -~]*$')
         AND regexp_matches(b.text, '^[ -~]*$')""",
)
def q_fuzzy_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance fuzzy dedup (r6): same-source document pairs pass a
    length-band blocking filter (|Δlen| ≤ 5 — sound, since edit distance
    ≥ length difference), then score levenshtein on a 40-char prefix.
    Complements the set-based near-dup family (MinHash/Jaccard/SimHash)
    with the character-level measure that catches typo-grade edits
    shingles miss.  Non-ASCII rows are excluded in both engines (Spark
    counts codepoints, DuckDB bytes — the oracle would diverge on
    multibyte text; fold with operators.text.ascii_fold first if they
    must participate).

    Scale: blocking turns the quadratic self-join into per-(source,
    length-band) blocks — an equi-join on the block key with the band
    residual, never an all-pairs cross; prefix-bounded levenshtein caps
    per-pair cost at O(40²)."""
    (documents,) = prep(spark, sf_dir, "documents")
    ascii_only = documents.where(F.col("text").rlike("^[ -~]*$"))
    a = ascii_only.select(
        F.col("doc_id").alias("doc_a"),
        F.col("source").alias("src_a"),
        F.substring("text", 1, 40).alias("pfx_a"),
        F.length("text").alias("len_a"),
    )
    b = ascii_only.select(
        F.col("doc_id").alias("doc_b"),
        F.col("source").alias("src_b"),
        F.substring("text", 1, 40).alias("pfx_b"),
        F.length("text").alias("len_b"),
    )
    pairs = a.join(
        b,
        (F.col("src_a") == F.col("src_b"))
        & (F.col("doc_a") < F.col("doc_b"))
        & (F.abs(F.col("len_a") - F.col("len_b")) <= 5),
    )
    dist = F.levenshtein("pfx_a", "pfx_b")
    return pairs.select(
        "doc_a", "doc_b", dist.cast("long").alias("prefix_dist"),
        (dist <= 5).alias("is_dup")
    )


@query(
    "stream_cms",
    f"""WITH toks AS (SELECT unnest(string_split(lower(text), ' ')) AS token
                      FROM documents),
       counts AS (SELECT token, count(*) AS n FROM toks GROUP BY token),
       cells AS ({_CMS_CELLS_SQL})
       SELECT row, bucket, CAST(SUM(n) AS BIGINT) AS total
       FROM cells GROUP BY row, bucket""",
)
def q_stream_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Count-Min maintenance (r6): sketch cells are additive,
    so the SAME run_stream_rollup machinery that maintains exact count
    tables maintains the sketch — each micro-batch contributes its own
    per-batch CMS, cells merge by addition, versioned snapshots carry
    the replay guard.  The maintained sketch must equal the one-shot
    corpus sketch CELL FOR CELL (the oracle rebuilds it in SQL) — the
    strongest possible statement of sketch mergeability: not within
    error bounds, identical.

    Scale: per batch the token shuffle is batch-sized; the stored state
    is depth × width cells FOREVER, no matter how much data streams
    through — the whole point of sketch-backed monitoring at 100 TB."""
    from hdfs_stream_processing_spark.operators.sketch import cms_build
    from hdfs_stream_processing_spark.sources.io import read_table_version
    from hdfs_stream_processing_spark.streaming import stream_parquet_source
    from hdfs_stream_processing_spark.streaming.pipeline import run_stream_rollup

    src_dir, schema = _stage_documents(spark, sf_dir)
    stream = stream_parquet_source(spark, src_dir, schema, max_files_per_trigger=2)

    def partial(df: DataFrame) -> DataFrame:
        toks = df.select(
            F.explode(F.split(F.lower(F.col("text")), " ")).alias("token")
        )
        counts = toks.groupBy("token").agg(F.count(F.lit(1)).alias("n"))
        return cms_build(counts, "token", "n", depth=4, width=256).withColumnRenamed(
            "total", "n"
        )

    tdir = _mkdtemp("hsp_scms_")
    ckpt = _mkdtemp("hsp_scms_ckpt_")
    run_stream_rollup(stream, tdir, ckpt, ["row", "bucket"], ["n"], partial)
    return read_table_version(spark, tdir).drop("_batch").select(
        "row", "bucket", F.col("n").alias("total")
    )


@query(
    "sample_weighted",
    """WITH pri AS (
         SELECT doc_id, source, n_chars,
                (CAST(n_chars AS DOUBLE) * 4294967296.0)
                / ((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT::BIGINT + 1.0)) AS q
         FROM documents),
       ranked AS (
         SELECT doc_id, source, n_chars,
                row_number() OVER (PARTITION BY source
                                   ORDER BY q DESC, doc_id ASC) AS rn
         FROM pri)
       SELECT doc_id, source, n_chars FROM ranked WHERE rn <= 5""",
)
def q_sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted reproducible sampling (r6): 5 docs per source drawn by
    PRIORITY SAMPLING (q = weight/u, top-k) — longer documents
    proportionally likelier, same rows → same sample, and the md5-u /
    single-division construction makes the ranking bit-identical in any
    engine (a log-based Efraimidis-Spirakis key is NOT portable: JVM
    and C libm ln() disagree in the last bit on ~6% of inputs —
    measured, which is why this scheme exists).  Completes the sampling
    family: hash (uniform %), stratified (per-group %), weighted
    (per-group PPS top-k)."""
    from hdfs_stream_processing_spark.operators.profile import sample_weighted

    (documents,) = prep(spark, sf_dir, "documents")
    return sample_weighted(
        documents.select("doc_id", "source", "n_chars"),
        key="doc_id", weight="n_chars", k=5, strata=["source"],
    )


@query(
    "hll_by_group",
    """WITH h AS (SELECT event_type, md5(CAST(user_id AS VARCHAR)) AS hx FROM events),
       br AS (SELECT event_type,
                CAST(('0x' || substr(hx, 1, 8))::UBIGINT::BIGINT % 16 AS INT) AS bucket,
                ('0x' || substr(hx, 9, 12))::UBIGINT::BIGINT AS v
              FROM h)
       SELECT event_type, bucket,
              MAX(CASE WHEN v = 0 THEN 49
                       ELSE CAST(49 - length(bin(v)) AS INT) END) AS max_rho
       FROM br GROUP BY event_type, bucket""",
)
def q_hll_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group HLL registers (r6): distinct users per event type as
    one register table keyed (group, bucket) — the "distinct per day /
    per segment" pattern where exact countDistinct shuffles every
    (group, user) pair but the sketch exchanges at most groups × 2^b
    rows.  Same portable construction as hll_registers, verified
    bit-exact per group; groupwise estimates derive from the registers
    exactly as the global one does."""
    from hdfs_stream_processing_spark.operators.sketch import hll_grouped_registers

    (events,) = prep(spark, sf_dir, "events")
    return hll_grouped_registers(events, "user_id", ["event_type"], b=4)


@_stage_once
def _stage_corrupt_json(out: str, spark: SparkSession, sf_dir: str) -> None:
    """Events as JSON lines, every 7th id truncated mid-object."""
    base = load_table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    good = base.where(F.col("event_id") % 7 != 0).select(
        F.to_json(F.struct("event_id", "user_id", "value")).alias("value")
    )
    bad = base.where(F.col("event_id") % 7 == 0).select(
        F.concat(
            F.lit('{"event_id": '),
            F.col("event_id").cast("string"),
            F.lit(', "user_'),
        ).alias("value")
    )
    good.write.mode("append").text(out)
    bad.write.mode("append").text(out)


@query(
    "scan_corrupt",
    """SELECT event_id, user_id, value FROM events
       WHERE event_id % 7 <> 0""",
)
def q_scan_corrupt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corrupt-record quarantine on a JSON scan (S-surface, operational
    reality): one line in seven of the staged JSON-lines feed is
    truncated mid-object; the PERMISSIVE read routes those lines into
    ``_corrupt_record`` instead of failing the job, and the query
    returns the cleanly-parsed rows — which must equal the valid subset
    of the source exactly (doubles survive the JSON round trip via
    shortest-repr).  The corrupt side is counted and pinned in
    tests/test_schemas_io.py — quarantine, not silent drop.

    Scale: schema-declared JSON scan (no inference pass), narrow
    per-line parse; the malformed-line routing is free — this is how a
    100 TB raw-feed ingest survives the 0.01% of garbage lines every
    real feed contains."""
    from pyspark.sql import types as T

    prep(spark, sf_dir, "events")
    stage = _stage_corrupt_json(spark, sf_dir)
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("_corrupt_record", T.StringType()),
        ]
    )
    parsed = spark.read.schema(schema).option("mode", "PERMISSIVE").json(stage)
    return parsed.where(F.col("_corrupt_record").isNull()).select(
        "event_id", "user_id", "value"
    )


def _corr_pair_sql(a: str, b: str) -> str:
    """One pair's row of the corr_matrix oracle — the same double
    expression tree corr_exact/corr_matrix use, over the shared sums."""
    mean = lambda c: f"(CAST(s_{c} AS DOUBLE) / n)"
    var = lambda c: f"(CAST(ss_{c} AS DOUBLE) / n - {mean(c)} * {mean(c)})"
    cov = f"(CAST(p_{a}_{b} AS DOUBLE) / n - {mean(a)} * {mean(b)})"
    denom = f"(sqrt(greatest({var(a)}, 0.0)) * sqrt(greatest({var(b)}, 0.0)))"
    return (
        f"SELECT '{a}' AS col_a, '{b}' AS col_b, n, "
        f"CASE WHEN {denom} > 0.0 THEN {cov} / {denom} END AS corr FROM s"
    )


@query(
    "corr_matrix",
    """WITH base AS (
         SELECT CAST(round(l_quantity, 0) AS BIGINT) AS qty,
                CAST(round(l_extendedprice, 0) AS BIGINT) AS price,
                CAST(round(l_discount * 100.0, 0) AS BIGINT) AS disc,
                CAST(round(l_tax * 100.0, 0) AS BIGINT) AS tax
         FROM lineitem),
       s AS (
         SELECT count(*) AS n,
                CAST(sum(qty) AS BIGINT) AS s_qty, CAST(sum(qty*qty) AS BIGINT) AS ss_qty,
                CAST(sum(price) AS BIGINT) AS s_price, CAST(sum(price*price) AS BIGINT) AS ss_price,
                CAST(sum(disc) AS BIGINT) AS s_disc, CAST(sum(disc*disc) AS BIGINT) AS ss_disc,
                CAST(sum(tax) AS BIGINT) AS s_tax, CAST(sum(tax*tax) AS BIGINT) AS ss_tax,
                CAST(sum(qty*price) AS BIGINT) AS p_qty_price,
                CAST(sum(qty*disc) AS BIGINT) AS p_qty_disc,
                CAST(sum(qty*tax) AS BIGINT) AS p_qty_tax,
                CAST(sum(price*disc) AS BIGINT) AS p_price_disc,
                CAST(sum(price*tax) AS BIGINT) AS p_price_tax,
                CAST(sum(disc*tax) AS BIGINT) AS p_disc_tax
         FROM base)
       {PAIRS}""".replace("{PAIRS}", " UNION ALL ".join([
           _corr_pair_sql("qty", "price"), _corr_pair_sql("qty", "disc"),
           _corr_pair_sql("qty", "tax"), _corr_pair_sql("price", "disc"),
           _corr_pair_sql("price", "tax"), _corr_pair_sql("disc", "tax"),
       ])),
)
def q_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full pairwise correlation matrix of four lineitem measures in ONE
    aggregate pass (r6): all sufficient statistics — n, per-column Σx
    and Σx², per-pair Σxy — from a single scan + single 1-row exchange,
    pair rows exploded from that row.  m separate corr() jobs become
    one; the profiling pattern a 100 TB feature-engineering pass needs.
    Exact integer sums end in one double expression per pair, so the
    matrix hash-matches the oracle bit-for-bit (native corr never can)."""
    from hdfs_stream_processing_spark.operators.aggregates import corr_matrix

    (lineitem,) = prep(spark, sf_dir, "lineitem")
    return corr_matrix(
        lineitem,
        {
            "qty": F.round(F.col("l_quantity"), 0).cast("long"),
            "price": F.round(F.col("l_extendedprice"), 0).cast("long"),
            "disc": F.round(F.col("l_discount") * F.lit(100.0), 0).cast("long"),
            "tax": F.round(F.col("l_tax") * F.lit(100.0), 0).cast("long"),
        },
    )


@query(
    "stream_anomaly",
    """WITH base AS (
         SELECT event_type,
                count(*) AS n,
                CAST(SUM(CAST(round(value * 100.0, 0) AS BIGINT)) AS BIGINT) AS s1,
                CAST(SUM(CAST(round(value * 100.0, 0) AS BIGINT)
                         * CAST(round(value * 100.0, 0) AS BIGINT)) AS BIGINT) AS s2
         FROM events GROUP BY event_type),
       scored AS (
         SELECT e.event_id, e.event_type, e.value,
                (CAST(round(e.value * 100.0, 0) AS BIGINT)
                 - CAST(b.s1 AS DOUBLE) / b.n)
                / sqrt(greatest(CAST(b.s2 AS DOUBLE) / b.n
                                - (CAST(b.s1 AS DOUBLE) / b.n)
                                  * (CAST(b.s1 AS DOUBLE) / b.n), 0.0)) AS zscore
         FROM events e JOIN base b ON e.event_type = b.event_type)
       SELECT event_id, event_type, value, zscore,
              abs(zscore) > 2.5 AS is_anomaly
       FROM scored""",
)
def q_stream_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming anomaly scoring (r6): the per-type baseline (exact
    integer n/Σx/Σx² from history) broadcasts onto the live stream and
    every arriving event is z-scored map-side — the stateless
    stream-static detection pattern that complements the batch rolling
    z-score (anomaly_zscore).  A baseline refresh is just a new
    broadcast; no streaming state at all, so it scales as a pure map
    over the stream.  Bit-exact: exact sufficient statistics end in one
    fixed double expression per row — the oracle replays it."""
    from hdfs_stream_processing_spark.streaming import (
        run_to_memory,
        stream_parquet_source,
    )

    (events,) = prep(spark, sf_dir, "events")
    cents = F.round(F.col("value") * F.lit(100.0), 0).cast("long")
    base = events.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(cents).alias("s1"),
        F.sum(cents * cents).alias("s2"),
    )
    src_dir, schema = _stage_events(spark, sf_dir)
    stream = stream_parquet_source(spark, src_dir, schema)
    mean = F.col("s1").cast("double") / F.col("n")
    std = F.sqrt(
        F.greatest(
            F.col("s2").cast("double") / F.col("n") - mean * mean, F.lit(0.0)
        )
    )
    scored = (
        stream.join(F.broadcast(base), "event_type")
        .withColumn("zscore", (cents - mean) / std)
        .select(
            "event_id", "event_type", "value", "zscore",
            (F.abs(F.col("zscore")) > F.lit(2.5)).alias("is_anomaly"),
        )
    )
    return run_to_memory(scored)


# ========================================================================

# Round 8: incremental view maintenance — delta join (insert-only both
# sides) and grouped-aggregate maintenance under CDC retractions
# ========================================================================


@_stage_once
def _stage_enriched_view(out: str, spark: SparkSession, sf_dir: str) -> None:
    """Materialize the OLD orders⋈customer view (both sides minus their
    incoming deltas) to parquet once per sf_dir — the fixture for
    ``incr_join``: maintenance must READ this, never recompute it."""
    orders, customer = prep(spark, sf_dir, "orders", "customer")
    o_old = orders.where(F.col("o_orderkey") % 7 != 0)
    c_old = customer.where(F.col("c_custkey") % 5 != 0)
    cents = F.round(F.col("o_totalprice") * F.lit(100.0), 0).cast("long")
    view = (
        o_old.withColumn("price_cents", cents)
        .select("o_orderkey", F.col("o_custkey").alias("c_custkey"), "price_cents")
        .join(c_old.select("c_custkey", "c_name", "c_mktsegment"), "c_custkey")
    )
    view.write.mode("overwrite").parquet(out)


@query(
    "incr_join",
    """SELECT o_custkey AS c_custkey, o_orderkey,
              CAST(round(o_totalprice * 100.0, 0) AS BIGINT) AS price_cents,
              c_name, c_mktsegment
       FROM orders JOIN customer ON o_custkey = c_custkey""",
)
def q_incr_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of a materialized JOIN view
    (operators/incremental.py::delta_join): the old orders⋈customer
    view is a parquet table on disk; a new order batch (ΔO = orderkey
    % 7 == 0) and a new customer batch (ΔC = custkey % 5 == 0) arrive,
    and the new view is V ∪ ΔO⋈C_old ∪ O_old⋈ΔC ∪ ΔO⋈ΔC — history is
    read back, never re-joined.  The oracle is the full from-scratch
    join: the delta algebra must reproduce it row-for-row."""
    from hdfs_stream_processing_spark.operators.incremental import delta_join

    view_dir = _stage_enriched_view(spark, sf_dir)
    view_old = spark.read.parquet(view_dir)
    orders, customer = prep(spark, sf_dir, "orders", "customer")
    cents = F.round(F.col("o_totalprice") * F.lit(100.0), 0).cast("long")
    o = orders.withColumn("price_cents", cents).select(
        "o_orderkey", F.col("o_custkey").alias("c_custkey"), "price_cents"
    )
    c = customer.select("c_custkey", "c_name", "c_mktsegment")
    return delta_join(
        view_old,
        o.where(F.col("o_orderkey") % 7 != 0),
        o.where(F.col("o_orderkey") % 7 == 0),
        c.where(F.col("c_custkey") % 5 != 0),
        c.where(F.col("c_custkey") % 5 == 0),
        "c_custkey",
    ).select("c_custkey", "o_orderkey", "price_cents", "c_name", "c_mktsegment")


@query(
    "incr_retract",
    """WITH final AS (
         SELECT o_orderpriority,
                CAST(round(o_totalprice * 100.0, 0) AS BIGINT)
                  + CASE WHEN o_orderkey % 10 = 8 THEN 1000 ELSE 0 END AS cents
         FROM orders WHERE o_orderkey % 10 <> 9)
       SELECT o_orderpriority, COUNT(*) AS n,
              CAST(SUM(cents) AS BIGINT) AS sum_cents,
              CAST(SUM(cents) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) / 100.0
                  AS avg_price
       FROM final GROUP BY o_orderpriority""",
)
def q_incr_retract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-aggregate maintenance under CDC WITH RETRACTIONS
    (operators/incremental.py::agg_retract_merge): yesterday's
    per-priority (count, cents) table absorbs a change batch — inserts
    (orderkey%10==7, rows new to the table), updates (%10==8, price
    +$10: delta = new−old), deletes (%10==9: −1, −old) — via signed
    deltas, never rescanning history.  The oracle recomputes the final
    state from scratch; the retraction algebra must match it exactly,
    including the derived average."""
    from hdfs_stream_processing_spark.operators.incremental import agg_retract_merge

    (orders,) = prep(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * F.lit(100.0), 0).cast("long")
    d = F.col("o_orderkey") % 10
    base = orders.where(d != 7).select("o_orderpriority", cents.alias("_c"))
    existing = base.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"), F.sum("_c").alias("sum_cents")
    )
    cdc = orders.where(d.isin(7, 8, 9)).select(
        "o_orderpriority",
        F.when(d == 7, F.lit("I")).when(d == 8, F.lit("U")).otherwise(F.lit("D")).alias("op"),
        F.when(d == 7, cents).when(d == 8, cents + F.lit(1000)).alias("new_val"),
        F.when(d != 7, cents).alias("old_val"),
    )
    merged = agg_retract_merge(
        existing, cdc, ["o_orderpriority"], "n", "sum_cents",
        op_col="op", new_val="new_val", old_val="old_val",
    )
    return merged.select(
        "o_orderpriority", "n", "sum_cents",
        (
            F.col("sum_cents").cast("double") / F.col("n").cast("double")
            / F.lit(100.0)
        ).alias("avg_price"),
    )


def _cdc_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The orders CDC log: the base state as inserts plus the change
    batch (inserts %10==7 are already in the table rows; updates %10==8
    add $10; deletes %10==9)."""
    (orders,) = prep(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * F.lit(100.0), 0).cast("long")
    d = F.col("o_orderkey") % 10
    base = orders.where(d != 7).select(
        "o_orderpriority",
        F.lit("I").alias("op"),
        cents.alias("new_val"),
        F.lit(None).cast("long").alias("old_val"),
    )
    changes = orders.where(d.isin(7, 8, 9)).select(
        "o_orderpriority",
        F.when(d == 7, F.lit("I")).when(d == 8, F.lit("U")).otherwise(F.lit("D")).alias("op"),
        F.when(d == 7, cents).when(d == 8, cents + F.lit(1000)).alias("new_val"),
        F.when(d != 7, cents).alias("old_val"),
    )
    return base.unionByName(changes)


@_stage_once
def _stage_cdc_orders(out: str, spark: SparkSession, sf_dir: str) -> None:
    """The orders CDC log as a streaming source: one parquet dir, several
    files so availableNow delivers multiple micro-batches."""
    _cdc_orders(spark, sf_dir).repartition(4).write.mode("overwrite").parquet(out)


@query(
    "stream_retract",
    """WITH final AS (
         SELECT o_orderpriority,
                CAST(round(o_totalprice * 100.0, 0) AS BIGINT)
                  + CASE WHEN o_orderkey % 10 = 8 THEN 1000 ELSE 0 END AS cents
         FROM orders WHERE o_orderkey % 10 <> 9)
       SELECT o_orderpriority, COUNT(*) AS n,
              CAST(SUM(cents) AS BIGINT) AS sum_cents,
              CAST(SUM(cents) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) / 100.0
                  AS avg_price
       FROM final GROUP BY o_orderpriority""",
)
def q_stream_retract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING aggregate maintenance under CDC retractions: the same
    signed-delta algebra as incr_retract, but the change log arrives as
    a STREAM in multiple micro-batches (availableNow) and each batch's
    deltas fold into the versioned rollup table under the batch-id
    replay guard.  Signed deltas make the retraction ADDITIVE — I/U/D
    order across micro-batches cannot matter, which is exactly why the
    signed form is the streaming-safe one.  Groups retracted to n = 0
    drop at read time; the result must equal the oracle's full
    recompute of the final state."""
    from hdfs_stream_processing_spark.sources.io import read_table_version
    from hdfs_stream_processing_spark.streaming import stream_parquet_source
    from hdfs_stream_processing_spark.streaming.pipeline import run_stream_rollup

    schema = _cdc_orders(spark, sf_dir).schema
    stream = stream_parquet_source(
        spark, _stage_cdc_orders(spark, sf_dir), schema, max_files_per_trigger=2
    )

    def partial(df: DataFrame) -> DataFrame:
        op = F.col("op")
        d_n = (
            F.when(op == "I", F.lit(1)).when(op == "D", F.lit(-1)).otherwise(F.lit(0))
        ).cast("long")
        d_sum = (
            F.when(op == "I", F.col("new_val"))
            .when(op == "D", -F.col("old_val"))
            .otherwise(F.col("new_val") - F.col("old_val"))
        ).cast("long")
        return df.groupBy("o_orderpriority").agg(
            F.sum(d_n).alias("n"), F.sum(d_sum).alias("sum_cents")
        )

    tdir = _mkdtemp("hsp_sretract_")
    ckpt = _mkdtemp("hsp_sretract_ckpt_")
    run_stream_rollup(
        stream, tdir, ckpt, ["o_orderpriority"], ["n", "sum_cents"], partial
    )
    state = read_table_version(spark, tdir).where(F.col("n") > 0)
    return state.select(
        "o_orderpriority", "n", "sum_cents",
        (
            F.col("sum_cents").cast("double") / F.col("n").cast("double")
            / F.lit(100.0)
        ).alias("avg_price"),
    )
