"""Scale properties of the physical plans (SURVEY §4): the assertions a
100 TB deployment depends on — broadcasts, pruning, no cartesians,
bounded shuffle counts."""

from pyspark.sql import functions as F

import hdfs_stream_processing_spark.queries as Q
from hdfs_stream_processing_spark.plans import (
    assert_broadcast_join,
    assert_no_cartesian,
    count_shuffles,
    plan_summary,
    pushed_filters,
    read_schemas,
)

from tests.conftest import SF_DIR


def test_multi_join_broadcasts_all_dims(spark):
    df = Q.QUERIES["multi_join"](spark, SF_DIR)
    assert_broadcast_join(df, at_least=4)  # orders/customer/nation/region
    s = plan_summary(df)
    assert s["sort_merge_joins"] == 0  # nothing big enough to shuffle-join
    assert s["shuffles"] == 1  # only the final aggregation exchange


def test_project_exclude_prunes_columns(spark):
    df = Q.QUERIES["project_exclude"](spark, SF_DIR)
    (schema,) = read_schemas(df)
    assert "props" not in schema  # pruned out of the parquet scan itself


def test_filter_pushdown_reaches_scan(spark):
    df = Q.QUERIES["join_semi"](spark, SF_DIR)
    assert any("o_totalprice" in f for f in pushed_filters(df))


def test_similarity_topk_no_cartesian_of_big_sides(spark):
    df = Q.QUERIES["similarity_topk"](spark, SF_DIR)
    assert_no_cartesian(df)  # query side broadcast; corpus scanned once


def test_lsh_is_equi_join_on_bucket(spark):
    df = Q.QUERIES["similarity_lsh"](spark, SF_DIR)
    assert_no_cartesian(df)


def test_dedup_near_is_equi_join_on_band(spark):
    df = Q.QUERIES["dedup_near"](spark, SF_DIR)
    assert_no_cartesian(df)


def test_window_queries_shuffle_once(spark):
    # one hash-partition exchange on user_id; sorting is within partitions
    df = Q.QUERIES["window_rank"](spark, SF_DIR)
    assert count_shuffles(df) == 1


def test_group_agg_partial_aggregation(spark):
    from hdfs_stream_processing_spark.plans import physical_plan

    df = Q.QUERIES["group_agg"](spark, SF_DIR)
    plan = physical_plan(df)
    # two HashAggregates around one Exchange = map-side partial agg
    assert plan.count("HashAggregate") >= 2
    assert count_shuffles(df) == 1


def test_bucketed_join_no_shuffle(spark, tmp_path):
    """Co-located bucketed tables join with ZERO exchanges — the shuffle
    was paid once at write time (the 100 TB amortization play)."""
    from hdfs_stream_processing_spark.sources.io import load_table, write_bucketed

    # warehouse.dir is a static conf — the default ./spark-warehouse is used
    spark.conf.set("spark.sql.sources.bucketing.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ path
    try:
        li = load_table(spark, SF_DIR, "lineitem")
        od = load_table(spark, SF_DIR, "orders")
        write_bucketed(li, "li_b", ["l_orderkey"], num_buckets=8, sort_cols=["l_orderkey"])
        write_bucketed(od, "od_b", ["o_orderkey"], num_buckets=8, sort_cols=["o_orderkey"])
        joined = spark.table("li_b").join(
            spark.table("od_b"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        assert joined.count() == li.count()
        assert count_shuffles(joined) == 0, physical_plan_excerpt(joined)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        spark.sql("DROP TABLE IF EXISTS li_b")
        spark.sql("DROP TABLE IF EXISTS od_b")


def physical_plan_excerpt(df):
    from hdfs_stream_processing_spark.plans import physical_plan

    return physical_plan(df)[:2000]


SHUFFLE_BUDGETS = {
    # query -> max allowed shuffle exchanges (the scale contract: a
    # regression that adds a shuffle to any of these breaks the test
    # before it breaks a 100 TB run)
    "multi_join": 1,       # dims broadcast; only the final agg exchanges
    "group_agg": 1,
    "rollup_agg": 1,
    "window_rank": 1,
    "window_running": 1,
    "top_k": 0,            # TakeOrderedAndProject, no exchange
    "case_when": 0,        # narrow map-only
    "parse_wire": 0,
    "union_rooms": 0,
    "text_stats": 0,
    "doc_fingerprint": 0,
    "sample_hash": 0,      # hash predicate pushes into the scan
    "dedup_near": 3,       # repartition + min-agg + candidate distinct
    "asof_join": 1,        # the single window partitioning
    "ivf_assign": 0,       # literal-centroid argmax: pure codegen map
    "similarity_ivf": 3,   # row-spread repartition (r8: single-split input
                           # pinned the affinity expressions to one task)
                           # + cell join + final top-k window
    # textual count: the distinct-shingle subtree is referenced 5× (df-cutoff
    # agg, semi-join, sizes, both join sides) and each reference prints its
    # exchange; at runtime Spark's ReuseExchange materializes it ONCE and the
    # rest are map-side recomputes off the reused exchange.  The budget
    # guards against a REAL added shuffle (which adds >1 to the text count).
    "ngram_jaccard": 15,
    # round-4 suites — lock in the documented scale shapes:
    "doc_chunk": 0,        # narrow split/sequence/explode/slice
    "pii_redact": 0,       # regexp chain, pure codegen
    "mix_sources": 0,      # hash-bucket filter
    "resample_sources": 0, # filter + bounded explode
    "shard_assign": 1,     # the intentional global re-order
    "repetition_stats": 2, # chained hash aggs
    "decontaminate": 3,    # bench distinct + countDistinct pair (all tiny side)
    "curate_corpus": 7,    # the whole funnel, one DAG
    "gapfill_locf": 2,     # spine agg + window (join broadcasts)
    "gapfill_interp": 2,   # same partitioning, extra sort only
    "sessionize": 1,       # per-user window
    "retention": 3,        # two aggs + co-partitioned join
    "anomaly_zscore": 2,   # hourly agg + per-key window
    "skew_join": 2,        # big side by (key,salt) + exploded dim side
    "cdc_apply": 1,        # one key-partitioned window
    "scd2_build": 1,       # lag + lead share the key partitioning
    "snapshot_diff": 3,    # two latest-windows + co-partitioned join
    "dq_checks": 2,        # one rule-agg reduce + one FK-count reduce
    "heavy_hitters": 2,    # (group,value) counts + group window
    "corr_qty_price": 1,   # one hash aggregate
    "ntile_buckets": 1,    # per-type window
    # round-6 suites:
    # textual count: the existing-SCD2 subtree (1 window shuffle) is
    # referenced 3x (untouched/closed/seed) and the change-key distinct
    # 2x; ReuseExchange materializes each ONCE at runtime.
    "scd2_merge": 7,
    "scd2_multi": 1,       # same one-shuffle window plan as scd2_build
    "grouping_sets": 1,    # one Expand + partial/final hash agg
    "ann_recall": 6,       # exact window + ivf cell join/window + overlap
                           # join/agg + the r8 row-spread repartition
    "dedup_clusters": 1,   # loop rounds checkpointed; one final label agg
    "pit_join": 1,         # scd2 window; version join broadcasts
    "seq_pack": 1,         # the shard exchange, shared by pos + prefix sum
    # corpus keys are corpus-sized at scale (never broadcastable): key
    # distinct + co-partitioned anti-join pair + survivor window
    "incr_dedup": 4,
    "incr_rollup": 2,      # two partial aggs; the merge reuses their keying
    "avg_yearly": 2,       # per-part avg agg + final scalar reduce; fact
                           # scan joins broadcast-only, never shuffles
    "incr_topk": 2,        # two partial count aggs; the small merged
                           # counts sit in one partition, which the
                           # ranking window reuses
    "incr_pack": 2,        # history pack shard exchange + batch shard
                           # exchange; cursor state broadcasts
    # round-6 decision-support suite (queries_dss.py) — at sf0.01 every
    # dim broadcasts, so each query is its aggregation exchange(s) only:
    "ship_priority": 1,        # one group agg; top-10 is TakeOrdered
    "late_ship_priority": 1,   # semi-join broadcast + priority agg
    "nation_trade": 1,         # 5 broadcasts, one (nation,year) agg
    "market_share": 1,         # 7 broadcasts, one year agg
    "returned_revenue": 1,     # per-cust agg; enrich joins broadcast
    "cust_order_dist": 2,      # custkey agg + count-domain agg
    "promo_share": 1,          # single global conditional agg
    "top_supplier": 3,         # rev agg referenced 2x (ReuseExchange
                               # materializes once) + scalar max reduce
    "waiting_suppliers": 1,    # semi+anti broadcast legs + name agg
    "idle_customers": 1,       # scalar-avg reduce; anti-join broadcasts
    "kmeans_refine": 1,        # codegen assignment; one (cell,pos) agg
    "embed_quantize": 0,       # pure map over the scan
    "cms_topk": 5,             # count agg + sketch agg + top-10 + probe join
    "hll_registers": 1,        # one ≤2^b-group exchange, partial max
    "bloom_prefilter": 3,      # the ONE bit-table distinct printed 3x
                               # (k semi-join refs; ReuseExchange
                               # materializes it once at runtime)
    "fuzzy_pairs": 0,          # block equi-join broadcasts at this sf
    "sample_weighted": 1,      # one per-stratum ranking window
    "hll_by_group": 1,         # one (group, bucket) exchange
    "scan_corrupt": 0,         # schema-declared JSON scan, narrow parse
    "corr_matrix": 1,          # ALL pair stats in one 1-row exchange
    "jaccard_join": 1,         # prefix-token candidate join; the doc
                               # array build sits behind a checkpoint
    "regr_by_group": 1,        # one sufficient-stats group agg
    "bfs_reach": 0,            # frontier rounds all checkpointed
    "vocab_ids": 2,            # token-count agg + vocab ranking window;
                               # the corpus-side lookup broadcasts
    "attribution": 2,          # user-keyed touch window + final agg
    # textual count: request-scale key-set distincts printed once per
    # reference (ReuseExchange materializes once) + three 1-row audit
    # reduces; the FACT tables never exchange (0 SortMergeJoin — every
    # membership probe is a broadcast left join).
    "purge_keys": 9,
    # r7 additions: interval_peak = close-day agg + delta net agg +
    # calendar-spine window + peak agg + peak-day agg (all downstream
    # frames calendar-bounded); rolling_actives = daily distinct +
    # bounds + window-day recount; hybrid_rrf = two branch top-k
    # windows + the 50-row fusion join; golden_record = clustered-
    # subset survivor window + two vote aggs/windows + passthrough
    "interval_peak": 5,
    "rolling_actives": 4,
    "hybrid_rrf": 4,
    "golden_record": 7,
    # r9 (VERDICT r8 #5) — the remaining ≥8-shuffle plans, each pinned
    # with its inherency story:
    # late_profile WAS 16/8-scans: four per-delay projections of one
    # totals row union-replanned the whole upstream; r9 rewrote the
    # tail as a single explode.  What remains is the two-level prefix
    # scan itself: chunk repartition + chunk-max agg + the narrow
    # chunk-count window + final 1-row reduce — the price of never
    # running a global single-partition window.
    "late_profile": 4,
    # scd2_repair is THREE history builds by construction — the loaded
    # table's existing SCD2, the archive rebuild for watermark-violating
    # keys, and the incremental merge for in-order keys — plus the
    # per-key watermark agg and the route split; every exchange is
    # keyed on user_id (the partitioning a real deployment already
    # bucket-stores), and the repair leg touches only straggler keys at
    # scale.  The count is textual: ReuseExchange materializes the
    # repeated existing-SCD2 and change-distinct subtrees once.
    "scd2_repair": 24,
    # cluster_coeff composes the kNN graph build (pair-strength agg +
    # per-node top-5 window) with the oriented wedge-close triangle
    # join and the 3-way per-vertex credit union + degree join — graph
    # metrics are multi-join by nature; every join is equi-keyed on
    # node ids (degree-bounded by the k=5 cap, so no quadratic bucket).
    "cluster_coeff": 14,
    # triangle_count is cluster_coeff minus the per-vertex credit legs:
    # same kNN build + one wedge-close join.
    "triangle_count": 8,
    # bpe_train's count is textual 2^K growth (K=3 chained iterations;
    # rep_{i-1} feeds both the pair agg and the apply, so each level
    # prints its predecessors twice) — ReuseExchange materializes each
    # level's vocabulary-sized agg ONCE at runtime; the real cost is K
    # vocabulary aggs.  Documented in the query: checkpoint every ~8
    # levels for production-length merge lists.
    "bpe_train": 16,
    # bpe_train_deep (r10) IS that checkpointed production shape: K=16
    # levels with a staged-parquet lineage cut every 4, so the FINAL
    # DAG is only the last 4 levels over a flat scan — textual 2^4
    # doubling of their vocabulary-sized aggs (+ the symbol-count agg),
    # capped by the stage interval no matter how deep K grows.
    "bpe_train_deep": 32,
    # basket_rules: per-basket item collect + pair explode agg + the
    # two per-item marginal aggs + scalar basket count — the a-priori
    # support/confidence/lift shape, each keyed on items (capped per
    # basket, so pair fan-out is bounded).
    "basket_rules": 9,
    # incr_golden rebuilds ONLY the delta component graph: old-state
    # contraction + batch bands + candidate join + union-find delta +
    # survivorship window; the multi-stage shape is the increment
    # contract (CC(contract(CC(A))∪B) = CC(A∪B)), not a scan fan-out.
    "incr_golden": 10,
    # pq_rotate (r11) runs the WHOLE PQ encode→ADC pipeline TWICE by
    # contract (permuted layout vs raw layout, judged against one
    # exact ranking): each arm is pq_adc_topk's codes agg + LUT agg +
    # per-query top-k window (~5 keyed exchanges), plus the shared
    # 160-row fixture rank window and the final recall joins.  The
    # duplication IS the contract; each arm alone matches pq_topk's
    # budget, and the fixture is in-plan constant-size.
    # r14: +4 (14→18) — the fixture's no-partition window used to
    # collapse each arm to ONE partition, so the scored agg and top-k
    # window were distribution-trivial (and the whole encode ran on a
    # single task); the Arrow encoder spreads the work, and the two
    # tiny ENSURE_REQUIREMENTS exchanges per arm it pays are
    # fixture-row-bounded — at corpus scale the SQL shape paid them
    # too (measured: pq_rotate job-seconds 12.5 → 9.2 at sf0.1).
    "pq_rotate": 18,
    # substring_dup: window-content doc-frequency agg + the instance
    # join + per-doc island window + span agg — every exchange keyed
    # on content or doc, the bucketed-not-all-pairs shape.
    "substring_dup": 4,
    # substring_scrub adds the (doc, pos) coverage agg and the per-doc
    # reassembly on top of substring_dup's chain; the reassembly
    # shuffle is the job (the output IS a rewritten corpus).
    "substring_scrub": 6,
    # kcore (r11): per-round degree aggs + semi-joins hide behind the
    # localCheckpoint lineage cuts; the visible plan is the final
    # degree agg off the checkpointed edge set.
    "kcore": 1,
    # k_anonymity (r11): one QID-keyed agg; exact count_distinct costs
    # the standard two-phase expand — still join-free and linear.
    "k_anonymity": 2,
    # r11 codec stages: decode → frame/bin are map-side only.
    "audio_autocorr": 0,
    "image_histogram": 0,
    # stream_substring_dedup (r11): the maintained doc-frequency table
    # broadcasts into the batch shingle join; the one exchange is the
    # per-doc island window + span agg chain keyed on doc.
    "stream_substring_dedup": 1,
    # r11 third wave: one keyed exchange each — the 3-row-per-frame
    # rank window (audio_pitch), the source×split audit agg
    # (train_split), and the QID re-aggregation of the maintained
    # pair-count rollup (stream_k_anonymity).
    "audio_pitch": 1,
    "train_split": 1,
    "stream_k_anonymity": 1,
    # r11 fourth wave: grayscale is a pure codec map; audio_vad pays
    # the island window + the frame agg (the tiny run table broadcasts
    # back); degree_hist's two aggs sit on the shared edge-derivation
    # distinct (textual fan-out of the reused exchange).
    "image_grayscale": 0,
    "audio_vad": 2,
    "degree_hist": 4,
    # r12: fingerprints are pure codec maps; the near-dup matchers pay
    # one candidate-distinct exchange (the probe equi-join and the
    # verify joins broadcast at this sf — at scale they hash-partition
    # on (probe_idx, probe_val) / pair id, still never all-pairs);
    # communities' per-round join/agg/window shuffles sit behind the
    # localCheckpoint lineage cuts like kcore's; the streaming scrub
    # pays the shingle↔dup-content join, the coverage agg, and the
    # per-doc reassembly (the rewritten corpus IS the output).
    "image_phash": 0,
    "audio_fingerprint": 0,
    "image_dedup_near": 1,
    "audio_dedup_near": 1,
    "communities": 0,
    "stream_substring_scrub": 3,
    # r12 second wave: the keep-actions add only the representative
    # join (components solve driver-side at this pair count, broadcast
    # back); the streaming dedup index pays its candidate-distinct
    # exchange against the maintained table's scan.
    "image_dedup_keep": 0,
    "audio_dedup_keep": 0,
    "stream_image_dedup": 1,
    # r13: PNG decode is a pure codec map (zlib inflate + unfilter are
    # per-file, inside the one mapInPandas stage); streaming
    # communities reads the maintained edge table and, like the batch
    # twin, hides its per-round LPA shuffles behind lineage cuts.
    "image_decode_png": 0,
    "stream_communities": 0,
    # the audio streaming-dedup twin pays the same candidate-distinct
    # exchange as the image one
    "stream_audio_dedup": 1,
    # r14: JPEG decode is a pure codec map (Huffman + IDCT per-file,
    # inside the one mapInPandas stage); the lossy-twin matcher pays
    # the same single candidate-distinct exchange as image_dedup_near
    "image_decode_jpeg": 0,
    "image_dedup_jpeg": 1,
    # combinatorial probes widen the explode ×C(P,2)/P map-side but the
    # plan shape is identical: one candidate-distinct exchange
    "image_dedup_combo": 1,
    # GIF decode: LZW + palette lookup per-file inside the one
    # mapInPandas stage, zero shuffle like every decode query
    "image_decode_gif": 0,
    # ADPCM: decode is a per-file state machine in the decode stage
    # (zero shuffle); the dedup twin pays the matcher's one
    # candidate-distinct exchange
    "audio_decode_adpcm": 0,
    "audio_dedup_adpcm": 1,
    # archive ingest: binaryFile scan -> per-file gunzip/WARC parse in
    # one mapInPandas stage, zero shuffle
    "scan_gzip": 0,
    "scan_warc": 0,
    "image_decode_jpeg_prog": 0,
    "scan_compressed": 0,
}


def test_shuffle_budgets(spark):
    over = {}
    for name, budget in SHUFFLE_BUDGETS.items():
        df = Q.QUERIES[name](spark, SF_DIR)
        n = count_shuffles(df)
        if n > budget:
            over[name] = (n, budget)
    assert not over, f"shuffle budget exceeded: {over}"


def test_rollup_step_job_budget(spark, tmp_path):
    """A maintained-rollup step on an existing small table starts
    exactly 2 Spark jobs: the batch partial's shuffle map stage and the
    collect of the merged state.  The merge runs in one partition, so
    it has no map stage of its own, and the driver writes the snapshot
    from the collected Arrow, so there is no write job.  Reading the
    previous snapshot starts none, because its schema comes from the
    commit sidecar; a footer-inference job there would add one.  A
    replay of the same batch starts none: its stamp is read from the
    sidecar on the driver."""
    from hdfs_stream_processing_spark.streaming.pipeline import rollup_apply_batch

    tdir = str(tmp_path / "roll")
    src = spark.range(2000).select(
        (F.col("id") % 50).alias("k"), F.lit(1).cast("long").alias("n")
    )

    def step(batch_id):
        partial = src.groupBy("k").agg(F.sum("n").alias("n"))
        return rollup_apply_batch(partial, tdir, ["k"], ["n"], batch_id)

    assert step(0)  # bootstrap commit
    sc = spark.sparkContext
    sc.setJobGroup("rollup_step", "one rollup step on an existing table")
    try:
        assert step(1)
        n_step = len(sc.statusTracker().getJobIdsForGroup("rollup_step"))
        assert not step(1)  # replay skip
    finally:
        sc.setJobGroup(None, None)
    assert n_step == 2
    assert len(sc.statusTracker().getJobIdsForGroup("rollup_step")) == 2


def test_plans_md_agrees_with_live_audit(spark):
    """PLANS.md is auto-generated but goes stale when operators change
    after the last regeneration (VERDICT r5: the retention row said 4
    while the code said 3).  For every budget-pinned query, the doc's
    shuffle count must equal the LIVE plan at the same sf the audit
    uses — regenerate with tools/plan_audit.py when this fails."""
    import re
    from pathlib import Path

    text = Path(__file__).resolve().parent.parent.joinpath("PLANS.md").read_text()
    doc = {}
    for line in text.splitlines():
        m = re.match(r"\|\s*(\w+)\s*\|\s*(\d+)\s*\|", line)
        if m:
            doc[m.group(1)] = int(m.group(2))
    assert len(doc) >= 100  # the audit covers the whole registry
    missing = sorted(set(SHUFFLE_BUDGETS) - set(doc))
    assert not missing, f"PLANS.md has no row for: {missing}"
    audit_sf = "/root/testdata/sf0.01"  # what plan_audit.py uses
    stale = {}
    for name in SHUFFLE_BUDGETS:
        live = count_shuffles(Q.QUERIES[name](spark, audit_sf))
        if live != doc[name]:
            stale[name] = {"plans_md": doc[name], "live": live}
    assert not stale, f"PLANS.md stale — rerun tools/plan_audit.py: {stale}"


def test_dynamic_partition_pruning_reaches_partitioned_scan(spark, tmp_path):
    """A selective dim filter must prune the partitioned fact scan at
    RUNTIME (DPP) — at 100 TB this is the difference between reading one
    partition directory and reading the table."""
    from hdfs_stream_processing_spark.plans.inspect import physical_plan
    from hdfs_stream_processing_spark.sources.io import load_table

    events = load_table(spark, SF_DIR, "events")
    fact_dir = str(tmp_path / "fact_by_type")
    events.write.partitionBy("event_type").parquet(fact_dir)
    fact = spark.read.parquet(fact_dir)
    dim = spark.createDataFrame(
        [("click", 1), ("error", 2)], "event_type string, w int"
    ).where(F.col("w") == 1)
    plan = physical_plan(fact.join(dim, "event_type"))
    assert "dynamicpruning" in plan.lower()


def test_runtime_bloom_filter_injected_for_selective_shuffle_join(spark):
    """With broadcast off (the 100 TB big-big join case), Spark must
    inject a bloom runtime filter from the selective side into the fact
    scan.  Thresholds are lowered because the local fixture is tiny; the
    assertion is that OUR plans leave the optimization reachable (no
    manual plan surgery has broken the join pattern)."""
    from hdfs_stream_processing_spark.plans.inspect import optimized_plan
    from hdfs_stream_processing_spark.sources.io import load_table

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        lineitem = load_table(spark, SF_DIR, "lineitem")
        orders = load_table(spark, SF_DIR, "orders").where(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        assert "bloom" in optimized_plan(j).lower()
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_join_results_invariant_across_physical_strategies(spark):
    """The flagship multi-way join must produce identical rows whether
    the planner picks broadcast-hash, shuffled-hash, or sort-merge —
    the correctness-under-strategy guarantee that makes plan tuning
    safe.  Each run pins a different strategy via session confs; the
    rows are compared exactly."""
    name = "multi_join"
    baseline = sorted(map(tuple, Q.QUERIES[name](spark, SF_DIR).collect()))
    assert baseline

    def with_confs(confs):
        old = {}
        for k, v in confs.items():
            old[k] = spark.conf.get(k, None)
            spark.conf.set(k, v)
        try:
            return sorted(map(tuple, Q.QUERIES[name](spark, SF_DIR).collect()))
        finally:
            for k, v in old.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)

    smj = with_confs({
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.join.preferSortMergeJoin": "true",
    })
    assert smj == baseline

    shj = with_confs({
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.join.preferSortMergeJoin": "false",
    })
    assert shj == baseline
