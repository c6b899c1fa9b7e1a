"""Incremental table maintenance: CDC apply, SCD2 history, snapshot diff.

The reference pipeline is append-only (streaming parquet sink,
convert-to-minio.py:125-131) — it has no story for upstream rows that
CHANGE.  A production lake needs one: apply a change-data-capture log to
a snapshot, keep dimension history (slowly-changing type 2), and diff
two snapshots to find what moved.  All three are single-shuffle window/
join plans over the key columns — no collects, no iteration.

Scale notes
-----------
* ``cdc_apply`` and ``scd2_build`` shuffle ONCE on the key; every window
  in the chain shares that partitioning (Catalyst plans one exchange).
  Hot keys (a bot user with millions of change rows) are the usual skew
  story — cap upstream or salt (operators/skew.py).
* ``snapshot_diff`` is one co-partitioned full-outer join on the key —
  both sides shuffle on the same columns; with bucketed snapshots the
  exchanges disappear entirely.
"""

from __future__ import annotations

import logging

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from hdfs_stream_processing_spark.plans.inspect import fits_broadcast

_log = logging.getLogger(__name__)

__all__ = [
    "agg_retract_merge",
    "cdc_apply",
    "delta_join",
    "merge_into",
    "pit_join",
    "rollup_merge",
    "scd2_build",
    "scd2_merge",
    "scd2_repair",
    "purge_cascade",
    "snapshot_diff",
]


def cdc_apply(
    changes: DataFrame,
    key_cols: list[str],
    order_cols: list[str],
    op_col: str | Column,
    delete_op: str = "D",
) -> DataFrame:
    """Apply a change log to produce the current snapshot: for each key,
    the row with the highest ``order_cols`` wins; keys whose winning row
    is a delete disappear.

    This is the MERGE a mutable lake table performs on every sync
    (Delta/Hudi/Iceberg "upsert with deletes"), expressed as one
    window: row_number over (key ORDER BY order DESC) = 1, then filter
    the winner's op.  One shuffle; no join against the existing
    snapshot is needed when the log is complete (initial loads are 'I'
    rows like any other change).
    """
    op = F.col(op_col) if isinstance(op_col, str) else op_col
    w = Window.partitionBy(*key_cols).orderBy(
        *[F.col(c).desc() for c in order_cols]
    )
    return (
        changes.withColumn("_op", op)
        .withColumn("_rn", F.row_number().over(w))
        .where((F.col("_rn") == 1) & (F.col("_op") != F.lit(delete_op)))
        .drop("_rn", "_op")
    )


def scd2_build(
    changes: DataFrame,
    key_cols: list[str],
    ts_col: str,
    attr_col: str | list[str],
    tiebreak_cols: list[str] | None = None,
) -> DataFrame:
    """Slowly-changing-dimension type 2: the validity history of the
    tracked attribute(s) per key.  Consecutive rows with the SAME
    attribute values are collapsed (change suppression), then each
    surviving version gets ``valid_from`` = its timestamp, ``valid_to``
    = the next version's timestamp (null = current), ``is_current``.

    ``attr_col`` may be one column or a list — real dimension tables
    track several (name, segment, tier); a version opens when ANY of
    them changes, and every tracked column rides along in the output.

    Both windows — the lag() that suppresses repeats and the lead()
    that closes intervals — partition on the same key, so the whole
    history builds in ONE shuffle.  ``tiebreak_cols`` totally orders
    same-timestamp changes (same contract as sessionize).

    Null-safe: a key's first change is detected positionally
    (row_number = 1), NOT by ``lag() IS NULL`` — so an attribute that
    is legitimately NULL opens a version, a value→NULL transition is a
    real change, and consecutive NULLs collapse like any other repeat
    (``eqNullSafe`` comparison throughout).
    """
    attrs = [attr_col] if isinstance(attr_col, str) else list(attr_col)
    order = [F.col(ts_col)] + [F.col(c) for c in (tiebreak_cols or [])]
    w = Window.partitionBy(*key_cols).orderBy(*order)
    any_changed = F.lit(False)
    for a in attrs:
        any_changed = any_changed | ~F.col(a).eqNullSafe(F.lag(F.col(a)).over(w))
    versions = (
        changes.select(*key_cols, ts_col, *(tiebreak_cols or []), *attrs)
        .withColumn("_chg", (F.row_number().over(w) == 1) | any_changed)
        .where(F.col("_chg"))
    )
    w2 = Window.partitionBy(*key_cols).orderBy(*order)
    out = versions.select(
        *key_cols,
        *[F.col(a) for a in attrs],
        F.col(ts_col).alias("valid_from"),
        F.lead(F.col(ts_col)).over(w2).alias("valid_to"),
    )
    return out.withColumn("is_current", F.col("valid_to").isNull())


def scd2_merge(
    existing: DataFrame,
    changes: DataFrame,
    key_cols: list[str],
    ts_col: str,
    attr_col: str | list[str],
    tiebreak_cols: list[str] | None = None,
) -> DataFrame:
    """Merge a NEW batch of changes into an EXISTING SCD2 table without
    rebuilding history — the nightly dimension-maintenance op
    (:func:`scd2_build` is the initial load; this is every load after).

    For each key touched by the batch: the open (``is_current``) version
    is re-opened as a seed change at its own ``valid_from``, the new
    changes are appended after it, and the same suppression/closing
    logic replays over that small per-key tail — so a first new change
    equal to the open version's attribute is suppressed (the version
    simply stays open), a differing one closes it.  CLOSED versions of
    touched keys and ALL versions of untouched keys pass through
    untouched; keys new to the dimension build their full history from
    the batch alone.

    Result is row-identical to ``scd2_build`` over the unioned change
    log (the oracle proves it) **provided the contract holds**: every
    change in the batch is strictly later (by ``ts_col``) than EVERY
    previously loaded change for its key — i.e. batches arrive in
    order.  The open version's ``valid_from`` is NOT a sufficient
    check: a suppressed repeat later than ``valid_from`` leaves no
    trace in the table, yet a batch change landing between them would
    change how history replays.  Track the per-key high watermark
    (max loaded ``ts_col``; itself additively mergeable) and route
    violating keys through :func:`scd2_repair`.

    Scale: the change-key set (day-sized) broadcasts into semi/anti
    joins against the existing table — a map-side scan, no shuffle of
    history; the one window shuffle is sized by seed + batch rows only.

    Key columns must be non-null: a NULL key never equi-joins, so its
    existing history can neither be claimed as touched nor passed
    through consistently with a full rebuild (same contract as
    :func:`snapshot_diff` documents for its join keys).
    """
    tb = tiebreak_cols or []
    attrs = [attr_col] if isinstance(attr_col, str) else list(attr_col)
    out_cols = [*key_cols, *attrs, "valid_from", "valid_to", "is_current"]
    chg_keys = changes.select(*key_cols).distinct()
    untouched = existing.join(F.broadcast(chg_keys), key_cols, "left_anti")
    touched = existing.join(F.broadcast(chg_keys), key_cols, "left_semi")
    closed = touched.where(~F.col("is_current"))
    # the open version, replayed as the FIRST change of the tail: _seq 0
    # orders it before any batch change (batch ts is strictly later per
    # the contract; _seq also shields its NULL tiebreak values)
    seed = touched.where(F.col("is_current")).select(
        *key_cols,
        F.col("valid_from").alias(ts_col),
        F.lit(0).alias("_seq"),
        *[F.lit(None).cast(changes.schema[c].dataType).alias(c) for c in tb],
        *[F.col(a) for a in attrs],
    )
    tail = seed.unionByName(
        changes.select(
            *key_cols, ts_col, F.lit(1).alias("_seq"), *tb, *attrs
        )
    )
    rebuilt = scd2_build(tail, key_cols, ts_col, attrs, tiebreak_cols=["_seq", *tb])
    return (
        untouched.select(*out_cols)
        .unionByName(closed.select(*out_cols))
        .unionByName(rebuilt.select(*out_cols))
    )


def rollup_merge(
    existing: DataFrame,
    batch_partial: DataFrame,
    keys: list[str],
    merge_cols: list[str],
) -> DataFrame:
    """Merge a new batch's partial aggregate into an existing rollup
    table — incremental view maintenance for additive aggregates, the
    batch analog of the streaming ``run_continuous_rollup``.  Every
    ``merge_cols`` column must be RE-AGGREGATABLE (counts, integer-cent
    sums, min/max as separate sums is on the caller): merged value =
    sum of partials, so a day's load touches only batch-sized input and
    the rollup table, never the 100 TB history.

    Non-additive stats derive at READ time from additive parts — avg =
    sum/count, variance from (n, Σx, Σx²) — which is why the table
    stores sufficient statistics, not finished answers.

    Scale: one union + one hash agg on the key — the merged table is
    keyed-small (group cardinality, not event cardinality).  This is
    :func:`rollup_merge_mixed` with every column a ``'sum'``, so it
    takes that function's route: no exchange at all when the union is
    under the broadcast threshold, one exchange on the key above it.
    """
    return rollup_merge_mixed(
        existing, batch_partial, keys, {c: "sum" for c in merge_cols}
    )


_MERGE_FNS = {"sum": F.sum, "min": F.min, "max": F.max}


def rollup_merge_mixed(
    existing: DataFrame,
    batch_partial: DataFrame,
    keys: list[str],
    merge_spec: dict[str, str],
) -> DataFrame:
    """:func:`rollup_merge` generalized to per-column merge functions
    (round 12): ``merge_spec`` maps each merged column to ``'sum'``,
    ``'min'`` or ``'max'`` — the three self-decomposable aggregates
    (merge of partials = aggregate of the union), so the same
    incremental-view-maintenance contract holds: a batch load touches
    only batch-sized partials and the rollup table, never history.
    The min/max legs are what keeper-style state needs — e.g. the
    substring-scrub keeper "smallest (doc, offset) that ever carried
    this window content" is a plain min-merge.

    Scale: one union + one hash agg on the key.  Route: when Catalyst
    estimates the union at or under the session's
    ``spark.sql.autoBroadcastJoinThreshold`` (the small state a
    streaming maintainer keeps), the union is coalesced to one
    partition before the agg: a single partition already satisfies the
    key distribution, so the merge plans no exchange and AQE starts no
    map-stage job for it.  Above the threshold (or with it at -1) the
    agg shuffles on the key, with map-side partials on both sides.
    The decision is logged at DEBUG.
    """
    bad = {fn for fn in merge_spec.values() if fn not in _MERGE_FNS}
    if bad:
        raise ValueError(f"unsupported merge fns {sorted(bad)}; use sum/min/max")
    cols = list(merge_spec)
    union = existing.select(*keys, *cols).unionByName(batch_partial.select(*keys, *cols))
    fits, size, threshold = fits_broadcast(union)
    _log.debug(
        "rollup_merge_mixed route=%s size=%d threshold=%d",
        "one_partition" if fits else "shuffle", size, threshold,
    )
    if fits:
        union = union.coalesce(1)
    return union.groupBy(*keys).agg(
        *[_MERGE_FNS[fn](c).alias(c) for c, fn in merge_spec.items()]
    )


def pit_join(
    facts: DataFrame,
    dim: DataFrame,
    key_cols: list[str],
    ts_col: str,
    valid_from: str = "valid_from",
    valid_to: str = "valid_to",
    how: str = "left",
) -> DataFrame:
    """Point-in-time join: enrich each fact row with the dimension
    version that was valid AT the fact's timestamp —
    ``valid_from <= ts < valid_to`` (open versions have NULL
    ``valid_to``).  The feature-store / training-data op that prevents
    label leakage: a model trained on January events must see each
    user's January-era attributes, not today's.

    Composes with :func:`scd2_build` / :func:`scd2_merge` output
    directly.  Facts before a key's first version (or with no dimension
    key at all) keep NULL attributes under ``how='left'``.

    Scale: ONE equi-join shuffle on the key; the interval predicate
    rides along as a join residual, and because SCD2 intervals are
    DISJOINT per key each fact matches at most one version — the output
    never exceeds the fact count.  No range-explosion, no window over
    the fact table.  A dimension small enough to broadcast makes the
    whole thing map-side; history tables bucketed on the key join the
    bucketed fact with zero exchange.
    """
    f, d = facts.alias("f"), dim.alias("d")
    cond = None
    for k in key_cols:
        c = F.col(f"f.{k}") == F.col(f"d.{k}")
        cond = c if cond is None else (cond & c)
    ts = F.col(f"f.{ts_col}")
    cond = (
        cond
        & (ts >= F.col(f"d.{valid_from}"))
        & (F.col(f"d.{valid_to}").isNull() | (ts < F.col(f"d.{valid_to}")))
    )
    out = f.join(d, on=cond, how=how)
    for k in key_cols:
        out = out.drop(F.col(f"d.{k}"))
    return out


def scd2_repair(
    existing: DataFrame,
    changes: DataFrame,
    full_log: DataFrame,
    hwm: DataFrame,
    key_cols: list[str],
    ts_col: str,
    attr_col: str | list[str],
    tiebreak_cols: list[str] | None = None,
) -> DataFrame:
    """:func:`scd2_merge` with a repair path for late-arriving changes.

    ``hwm`` is the per-key high-watermark table (``key_cols`` +
    ``max_ts`` = max ``ts_col`` ever loaded for the key) — the state a
    real lake maintains alongside the dimension (max is additively
    mergeable, so the watermark table is itself a
    :func:`rollup_merge`-style incremental aggregate).  Keys whose
    batch violates the ordering contract (any change at or before the
    key's watermark) cannot be patched incrementally — a late row may
    land between changes whose repeats were suppressed without trace —
    so those keys REBUILD from ``full_log``, while every in-order key
    takes the cheap merge path.

    Scale: the violator set is load-sized (usually tiny — true
    time-travelers); it broadcasts into the anti/semi joins, so
    ``full_log`` — the 100 TB archive — is touched by semi-join point
    reads for violator keys only, exactly like the corpus reads in
    incremental near-dup dedup.
    """
    attrs = [attr_col] if isinstance(attr_col, str) else list(attr_col)
    out_cols = [*key_cols, *attrs, "valid_from", "valid_to", "is_current"]
    bmin = changes.groupBy(*key_cols).agg(F.min(ts_col).alias("_bmin"))
    viol = (
        bmin.join(hwm, key_cols)
        .where(F.col("_bmin") <= F.col("max_ts"))
        .select(*key_cols)
        .distinct()
    )
    ok_existing = existing.join(F.broadcast(viol), key_cols, "left_anti")
    ok_changes = changes.join(F.broadcast(viol), key_cols, "left_anti")
    merged = scd2_merge(
        ok_existing, ok_changes, key_cols, ts_col, attrs, tiebreak_cols
    )
    rebuilt = scd2_build(
        full_log.join(F.broadcast(viol), key_cols, "left_semi"),
        key_cols,
        ts_col,
        attrs,
        tiebreak_cols,
    )
    return merged.select(*out_cols).unionByName(rebuilt.select(*out_cols))


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key_cols: list[str],
    compare_cols: list[str],
) -> DataFrame:
    """Keyed diff of two snapshots: which keys were added, removed, or
    changed (any ``compare_cols`` value differs, null-safe), with the
    old and new value of every compared column side by side.  Unchanged
    keys are dropped — on a 100 TB table the diff is the small output.

    One full-outer join on the key; both sides shuffle on the same
    columns (co-partitioned — bucketed snapshots make it exchange-free).

    Side presence is tracked with a literal marker column per side, not
    key-column nullness — a row whose (first) key column is NULL still
    classifies correctly instead of masquerading as absent.
    """
    o = old.select(
        *[F.col(k).alias(f"_ok_{k}") for k in key_cols],
        *[F.col(c).alias(f"old_{c}") for c in compare_cols],
        F.lit(True).alias("_in_old"),
    )
    n = new.select(
        *[F.col(k).alias(f"_nk_{k}") for k in key_cols],
        *[F.col(c).alias(f"new_{c}") for c in compare_cols],
        F.lit(True).alias("_in_new"),
    )
    cond = None
    for k in key_cols:
        c = o[f"_ok_{k}"] == n[f"_nk_{k}"]
        cond = c if cond is None else (cond & c)
    joined = o.join(n, cond, "full_outer")

    in_old = F.col("_in_old").isNotNull()
    in_new = F.col("_in_new").isNotNull()
    changed = F.lit(False)
    for c in compare_cols:
        changed = changed | ~F.col(f"old_{c}").eqNullSafe(F.col(f"new_{c}"))
    status = (
        F.when(~in_old, F.lit("added"))
        .when(~in_new, F.lit("removed"))
        .when(changed, F.lit("changed"))
    )
    keys = [
        F.coalesce(F.col(f"_ok_{k}"), F.col(f"_nk_{k}")).alias(k) for k in key_cols
    ]
    return (
        joined.withColumn("status", status)
        .where(F.col("status").isNotNull())
        .select(
            *keys,
            "status",
            *[F.col(f"old_{c}") for c in compare_cols],
            *[F.col(f"new_{c}") for c in compare_cols],
        )
    )


def merge_into(
    target: DataFrame,
    source: DataFrame,
    key_cols: list[str],
    update_set: dict[str, Column] | None = None,
    insert_values: dict[str, Column] | None = None,
    delete_condition: Column | None = None,
    matched_condition: Column | None = None,
) -> DataFrame:
    """Declarative MERGE INTO — the lakehouse upsert statement (WHEN
    MATCHED THEN UPDATE/DELETE, WHEN NOT MATCHED THEN INSERT) as one
    DataFrame op producing the new target table.

    ``update_set`` / ``insert_values`` / ``delete_condition`` /
    ``matched_condition`` are Column expressions over the aliased
    sides: reference target columns as ``F.col("t.x")`` and source
    columns as ``F.col("s.y")``.  Clause semantics follow SQL MERGE:
    a matched delete wins over a matched update; unmatched target rows
    pass through; unmatched source rows insert only when
    ``insert_values`` is given (missing target columns default NULL).

    Contract (as in SQL MERGE, which errors on multi-matches): the
    source has at most ONE row per key — pre-aggregate or
    :func:`cdc_apply` the change stream first.

    Scale: ONE co-partitioned full-outer join on the key — the same
    shape as :func:`snapshot_diff`; day-sized sources flip to a
    broadcast/shuffled-hash join automatically, and bucketed targets
    merge with zero exchange.  This is the generalized form of
    :func:`cdc_apply` (which needs no join because its log is
    complete); here the target is authoritative and only touched keys
    change.
    """
    t = target.withColumn("_tp", F.lit(True)).alias("t")
    s = source.withColumn("_sp", F.lit(True)).alias("s")
    cond = None
    for k in key_cols:
        c = F.col(f"t.{k}") == F.col(f"s.{k}")
        cond = c if cond is None else (cond & c)
    j = t.join(s, cond, "full_outer")
    matched = F.col("t._tp").isNotNull() & F.col("s._sp").isNotNull()
    s_only = F.col("t._tp").isNull()
    upd_gate = matched if matched_condition is None else (matched & matched_condition)
    del_gate = (
        F.lit(False) if delete_condition is None else (matched & delete_condition)
    )
    out_cols = []
    for c in target.columns:
        tcol = F.col(f"t.{c}")
        v = tcol
        if update_set and c in update_set:
            v = F.when(upd_gate, update_set[c]).otherwise(tcol)
        if insert_values is not None:
            iv = insert_values.get(
                c, F.lit(None).cast(target.schema[c].dataType)
            )
            v = F.when(s_only, iv).otherwise(v)
        out_cols.append(v.alias(c))
    keep = ~del_gate
    if insert_values is None:
        keep = keep & ~s_only
    return j.where(keep).select(*out_cols)


def purge_cascade(
    requests: DataFrame,
    hops: list[tuple[str, DataFrame, str, str | None]],
) -> tuple[DataFrame, dict[str, DataFrame]]:
    """Propagate a deletion-request list (GDPR/right-to-be-forgotten)
    through a chain of tables and account for every row touched.

    ``requests`` is a one-column DataFrame of root keys to forget (null
    keys are ignored — they can never match a row).  Each hop is
    ``(name, table, key_col, emit_col)``: rows of ``table`` whose
    ``key_col`` is in the incoming key set are purged, and — when
    ``emit_col`` is given — their ``emit_col`` values become the key
    set for the NEXT hop (customer → orders → lineitem: forget a
    customer, their orders go, the orders' line items go).

    Returns ``(audit, retained)``: ``audit`` has one row per hop
    ``(table_name, purged_rows, retained_rows)`` — the compliance
    evidence — and ``retained[name]`` is the purged table, ready to
    swap in via the atomic-rewrite sink.

    Scale: deletion requests are human-scale, so every membership probe
    is a BROADCAST left join marking rows in one map-side pass per
    table — no fact-side shuffle anywhere; audit counts and the
    retained rows read the same marked plan.  The fan-out key sets
    (the purged rows' emit_col) stay proportional to the request list,
    not the fact table; if a hop could fan out past broadcast range
    (~10⁸ keys), split the requests and run the cascade per slice.
    """
    from functools import reduce

    keys = requests.toDF("_purge_key").where(
        F.col("_purge_key").isNotNull()
    ).distinct()
    audits: list[DataFrame] = []
    retained: dict[str, DataFrame] = {}
    for name, df, key_col, emit_col in hops:
        if "_purge_key" in df.columns:
            raise ValueError(
                f"{name} already has a '_purge_key' column; rename it first"
            )
        hit = F.col("_purge_key").isNotNull()
        marked = df.join(
            F.broadcast(keys), F.col(key_col) == F.col("_purge_key"), "left"
        )
        audits.append(
            marked.agg(
                F.coalesce(F.sum(hit.cast("long")), F.lit(0)).alias("purged_rows"),
                F.coalesce(F.sum((~hit).cast("long")), F.lit(0)).alias("retained_rows"),
            ).select(
                F.lit(name).alias("table_name"), "purged_rows", "retained_rows"
            )
        )
        retained[name] = marked.where(~hit).drop("_purge_key")
        if emit_col is not None:
            keys = (
                marked.where(hit)
                .select(F.col(emit_col).alias("_purge_key"))
                .where(F.col("_purge_key").isNotNull())
                .distinct()
                # truncate lineage per hop: hop N's key plan would
                # otherwise re-embed every earlier hop's fact scan, and
                # each of the three consumers (audit, retained, next
                # keys) would recompute that whole chain — quadratic in
                # cascade depth.  The key set is request-proportional,
                # so materializing it is cheap (same precedent as
                # pagerank_exact / bfs_hops round frames).
                .localCheckpoint()
            )
    return reduce(DataFrame.unionByName, audits), retained


def run_purge(
    spark,
    requests: DataFrame,
    hops: list[tuple[str, str, str, str | None]],
) -> DataFrame:
    """EXECUTE a purge cascade against parquet table directories and
    publish the result atomically — the deletion story the reference's
    append-only sink cannot express (its only removal is a transform-
    time ``dropna``, ``spark_streaming/convert-to-minio.py:125-131``;
    once written, rows are permanent).

    Each hop is ``(name, table_dir, key_col, emit_col)``.  The cascade
    plans retained tables via :func:`purge_cascade` (broadcast probes,
    zero fact-side shuffle), writes each to ``<dir>._staged``, then
    publishes every staged directory with the atomic-rename swap the
    batch sink uses (:func:`~hdfs_stream_processing_spark.sources.io.swap_dirs`).

    Atomicity is PER TABLE, not cascade-wide (ADVICE r7): each swap is
    one atomic rename, so a reader of any single table sees its old
    rows or its new rows, never a half-purged mix of that table — but
    the hops swap sequentially, and a crash between swaps publishes a
    referentially inconsistent cross-table state (e.g. customers
    purged, their orders not yet).  The remedy is to re-run
    ``run_purge`` with the same request list: the cascade is
    idempotent (re-planning against already-purged hops retains
    everything untouched and re-stages the unfinished ones), so replay
    converges to the fully-purged state.  A single cascade-wide
    version pointer would close even that window at the cost of a
    custom catalog; out of scope here.

    Returns the POST-swap audit: the cascade re-run against the
    published directories, proving ``purged_rows = 0`` for every hop —
    the compliance evidence that the purge landed and that a replay is
    a no-op (idempotency: re-running the same request list against the
    swapped tables finds nothing to delete).

    The pre-swap audit is intentionally not returned: counting before
    the swap reads the marked plan twice, and the post-swap zero-count
    is the stronger statement.
    """
    from hdfs_stream_processing_spark.sources.io import swap_dirs

    tables = {name: spark.read.parquet(d) for name, d, _, _ in hops}
    _, retained = purge_cascade(
        requests, [(name, tables[name], k, e) for name, d, k, e in hops]
    )
    for name, d, _, _ in hops:
        staged = d.rstrip("/") + "._staged"
        retained[name].write.mode("overwrite").parquet(staged)
    # write everything BEFORE swapping anything: a mid-cascade failure
    # leaves every live directory untouched
    for name, d, _, _ in hops:
        swap_dirs(spark, d.rstrip("/") + "._staged", d)
        # the session may hold a cached file listing for the live path
        # from the reads above — drop it so the audit sees the swap
        spark.catalog.refreshByPath(d)
    post, _ = purge_cascade(
        requests,
        [(name, spark.read.parquet(d), k, e) for name, d, k, e in hops],
    )
    return post


def subject_export(
    requests: DataFrame,
    hops: list[tuple[str, DataFrame, str, str | None, Column]],
) -> DataFrame:
    """Subject-access-request export (GDPR Art. 15) — the READ dual of
    :func:`purge_cascade`: gather every record belonging to each
    requested subject across a chain of tables, tagged with which
    subject it belongs to.

    ``requests`` is a one-column DataFrame of root subject keys (nulls
    ignored).  Each hop is ``(name, table, key_col, emit_col,
    record_key)``: rows of ``table`` whose ``key_col`` matches a
    subject's current key set are exported as
    ``(subject_key, table_name, record_key)``; when ``emit_col`` is
    given, the matched rows' ``emit_col`` values become that subject's
    key set for the next hop — the same customer → orders → lineitem
    traversal the purge runs, except the ROOT subject rides along so
    every exported record is attributable to the subject that owns it
    (a purge only needs the key set; an export must group the evidence
    per data subject).

    Scale mirrors the purge: request lists are human-scale, so every
    hop probes its fact table with one BROADCAST join — zero fact-side
    shuffle; per-hop (subject, key) frames are request-proportional and
    localCheckpoint-truncated so deep chains stay linear.  A record
    reachable from two subjects exports once per subject — each
    subject's file must be complete on its own.
    """
    from functools import reduce

    for name, df, *_ in hops:
        bad = {"_sar_root", "_sar_key"} & set(df.columns)
        if bad:
            raise ValueError(f"{name} already has reserved column(s) {sorted(bad)}")
    keys = (
        requests.toDF("_sar_root")
        .where(F.col("_sar_root").isNotNull())
        .distinct()
        .withColumn("_sar_key", F.col("_sar_root"))
    )
    outs: list[DataFrame] = []
    for name, df, key_col, emit_col, record_key in hops:
        hit = df.join(
            F.broadcast(keys), F.col(key_col) == F.col("_sar_key"), "inner"
        )
        outs.append(
            hit.select(
                F.col("_sar_root").alias("subject_key"),
                F.lit(name).alias("table_name"),
                record_key.cast("string").alias("record_key"),
            ).distinct()
        )
        if emit_col is not None:
            keys = (
                hit.select("_sar_root", F.col(emit_col).alias("_sar_key"))
                .where(F.col("_sar_key").isNotNull())
                .distinct()
                # same lineage truncation as purge_cascade: hop N's key
                # plan would otherwise re-embed every earlier hop's scan
                .localCheckpoint()
            )
    return reduce(DataFrame.unionByName, outs)


def delta_join(
    view_old: DataFrame,
    left_old: DataFrame,
    left_delta: DataFrame,
    right_old: DataFrame,
    right_delta: DataFrame,
    on: str | list[str],
) -> DataFrame:
    """Incremental view maintenance for an inner equi-join: given the
    materialized old view ``V = L_old ⋈ R_old`` and insert-only deltas
    on both sides, the new view is

        ``V ∪ (ΔL ⋈ R_old) ∪ (L_old ⋈ ΔR) ∪ (ΔL ⋈ ΔR)``

    — the classic delta rule (ΔV of a join distributes over union).
    The point at 100 TB: the old view is READ, never recomputed; the
    three delta terms each touch one batch-sized side, so a daily load
    costs O(|Δ| · join fan-out), not O(|history|).

    Caller contract: deltas are INSERT-only (updates/deletes need the
    retraction path, :func:`agg_retract_merge`), and ``L_old``/``ΔL``
    (resp. R) are disjoint on ``on`` rows — exactly the new-batch
    split every warehouse load has.

    Scale: ΔL ⋈ R_old and L_old ⋈ ΔR broadcast the delta side when
    it is batch-small (AQE decides); the union is plan-level only —
    no extra exchange beyond the joins themselves.
    """
    parts = [
        view_old,
        left_delta.join(right_old, on),
        left_old.join(right_delta, on),
        left_delta.join(right_delta, on),
    ]
    from functools import reduce

    return reduce(DataFrame.unionByName, parts)


def agg_retract_merge(
    existing: DataFrame,
    cdc: DataFrame,
    keys: list[str],
    count_col: str,
    sum_col: str,
    op_col: str = "op",
    new_val: str = "new_val",
    old_val: str = "old_val",
) -> DataFrame:
    """Maintain a grouped (count, sum) aggregate table under a CDC batch
    WITH RETRACTIONS: inserts add ``(+1, +new)``, updates add
    ``(0, new − old)``, deletes add ``(−1, −old)`` — the signed-delta
    algebra streaming engines call retraction and warehouses call
    incremental view maintenance with deletes.  ``rollup_merge`` covers
    the insert-only case; this is the general one: the aggregate stays
    exact under any mix of I/U/D without ever rescanning history.

    ``cdc`` carries ``op_col`` ∈ {'I','U','D'}, the group keys the row
    belongs to, ``new_val`` (I, U) and ``old_val`` (U, D).  Groups whose
    maintained count reaches 0 drop out, matching a full recompute.

    Scale: the CDC batch maps to signed deltas row-wise (narrow), then
    one union + one hash agg on the group key — identical cost shape to
    ``rollup_merge``; both sides partial-aggregate before the exchange.
    """
    op = F.col(op_col)
    d_n = (
        F.when(op == "I", F.lit(1))
        .when(op == "D", F.lit(-1))
        .otherwise(F.lit(0))
        .cast("long")
    )
    d_sum = (
        F.when(op == "I", F.col(new_val))
        .when(op == "D", -F.col(old_val))
        .otherwise(F.col(new_val) - F.col(old_val))
        .cast("long")
    )
    deltas = cdc.select(
        *keys, d_n.alias(count_col), d_sum.alias(sum_col)
    )
    merged = rollup_merge(existing, deltas, keys, [count_col, sum_col])
    return merged.where(F.col(count_col) > 0)
