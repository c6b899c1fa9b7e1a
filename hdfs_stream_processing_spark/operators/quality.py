"""Declarative data-quality checks: rule violations counted in one pass.

The reference pipeline's only quality gate is ``dropna()``
(utils/spark_transforming.py:145) — rows silently vanish with no record
of what was wrong.  A 100 TB ingest needs the opposite: MEASURE every
rule violation in one cheap pass, then decide.  ``dq_check`` evaluates
any number of per-row rules in a SINGLE aggregate (each rule is one
conditional-sum column — no per-rule scans, no shuffle beyond the final
1-row reduce), and ``fk_violations`` covers the one class a per-row
expression can't: referential integrity, as an anti-join against the
(broadcastable) parent key set.

Rules are plain boolean Columns (TRUE = row violates), so the same rule
list runs unchanged on a batch frame or an unbounded streaming frame —
the engine's usual batch/stream symmetry.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["dq_check", "dq_quarantine", "fk_violations"]


def dq_check(df: DataFrame, rules: list[tuple[str, Column]]) -> DataFrame:
    """Evaluate every (name, violation-predicate) rule in ONE aggregate
    pass; returns (rule, n_violations), one row per rule.

    A NULL predicate counts as NOT violated — each rule judges only
    what it can see (a null ``props`` fails the not-null rule, not also
    every downstream shape rule).  The single agg produces map-side
    partials for all rules at once: cost is one scan regardless of how
    many rules are registered.
    """
    if not rules:
        raise ValueError("rules must be non-empty")
    sums = [
        F.sum(F.when(pred, F.lit(1)).otherwise(F.lit(0))).alias(f"_v{i}")
        for i, (_, pred) in enumerate(rules)
    ]
    one = df.agg(*sums)
    pairs = F.array(
        *[
            F.struct(
                F.lit(name).alias("rule"), F.col(f"_v{i}").alias("n_violations")
            )
            for i, (name, _) in enumerate(rules)
        ]
    )
    return one.select(F.explode(pairs).alias("p")).select(
        "p.rule", "p.n_violations"
    )


def fk_violations(
    child: DataFrame,
    child_key: str,
    parent: DataFrame,
    parent_key: str,
    rule: str,
) -> DataFrame:
    """Referential-integrity rule: count child rows whose key has no
    parent.  One anti-join on the parent's key column — dim-sized
    parents broadcast and the child never shuffles.  Anti-join ignores
    duplicate right-side keys, so the parent needs no distinct.
    Returns the same (rule, n_violations) shape as :func:`dq_check`
    for unioning into one report.
    """
    keys = parent.select(F.col(parent_key).alias(child_key))
    orphans = child.join(keys, child_key, "left_anti")
    return orphans.agg(
        F.lit(rule).alias("rule"),
        F.count(F.lit(1)).alias("n_violations"),
    )


def dq_quarantine(
    df: DataFrame, rules: list[tuple[str, Column]]
) -> DataFrame:
    """Row-level routing for the same rule list :func:`dq_check`
    aggregates: every row gains ``failed_rules`` — the (name-ordered)
    array of rules it violates — and ``is_valid``.  The loader then
    splits one output into the target table (``is_valid``) and the
    quarantine table (everything else, with its reasons attached) —
    the record the reference's silent ``dropna()`` never kept.

    Pure narrow projection: zero shuffles, whole-stage codegen, one
    shared scan with the counting pass if both run.  NULL predicates
    count as not-violated, matching ``dq_check``.
    """
    if not rules:
        raise ValueError("rules must be non-empty")
    hits = F.array(
        *[
            F.when(pred, F.lit(name)).otherwise(F.lit(None))
            for name, pred in rules
        ]
    )
    failed = F.array_compact(hits)
    return df.withColumn("failed_rules", failed).withColumn(
        "is_valid", F.size(F.col("failed_rules")) == 0
    )


def table_checksum(
    df: DataFrame, table_name: str, cols: list[Column]
) -> DataFrame:
    """Order-independent content checksum of a table — the
    replication / CDC-drift detector: two copies of a table agree iff
    their ``(n_rows, checksum)`` agree, regardless of row order, file
    layout, or partitioning.

    Per row: the given column renderings concat with '|' and hash
    through md5; the first 15 hex chars become a 60-bit integer; the
    table checksum is the SUM of those integers (accumulated in
    128-bit decimal — no overflow, and addition is commutative so the
    result is partition-order-free where a hash-of-sorted-concat would
    force a global sort).  Emitted as a string: the one cross-engine-
    stable rendering of a 128-bit value.

    The caller chooses renderings that are engine-exact (integers,
    strings, cents — never raw doubles or timestamps, whose default
    string forms differ across engines).

    Scale: one map-side pass + a single scalar aggregate; checksum a
    100 TB table without moving a row.  Compare per-partition
    checksums to localize a mismatch.
    """
    rendered = F.concat_ws("|", *[c.cast("string") for c in cols])
    h = F.conv(F.substring(F.md5(rendered), 1, 15), 16, 10).cast("long")
    return df.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(h.cast("decimal(38,0)")).cast("string").alias("checksum"),
    ).select(F.lit(table_name).alias("table_name"), "n_rows", "checksum")


def k_anonymity_audit(
    df: DataFrame,
    qid_cols: list[str],
    sensitive_col: str,
    k: int = 5,
    l_div: int = 2,
) -> DataFrame:
    """Privacy audit for a quasi-identifier combination (round 11):
    one row per equivalence class (distinct QID tuple) with its size,
    the number of distinct sensitive values it carries, and the
    k-anonymity / l-diversity verdicts — the release gate a
    training-data pipeline runs before shipping any table keyed on
    person-adjacent attributes (Sweeney 2002 k-anonymity; Machanavajjhala
    et al. 2007 l-diversity — both public methods).

    A class with ``class_size < k`` re-identifies its members by QID
    lookup; a class with ``n_sensitive < l_div`` leaks the sensitive
    attribute even when k holds (everyone in the class shares it).
    Suppression/generalization is the caller's ACTION on the flagged
    classes (filter or re-bin and re-audit) — the audit itself is the
    operator, mirroring dq_check's measure-then-decide contract.

    Scale: one hash aggregate on the QID tuple with map-side partial
    aggregation (count + approx-exact distinct via a two-level agg is
    unnecessary: count_distinct here is exact and single-pass).  No
    joins, no broadcast, linear in the input.
    """
    if not qid_cols:
        raise ValueError("need at least one quasi-identifier column")
    if k < 2 or l_div < 1:
        raise ValueError("need k >= 2 and l_div >= 1")
    return (
        df.groupBy(*[F.col(c) for c in qid_cols])
        .agg(
            F.count(F.lit(1)).alias("class_size"),
            F.count_distinct(F.col(sensitive_col)).alias("n_sensitive"),
        )
        .select(
            *qid_cols,
            F.col("class_size").cast("long"),
            F.col("n_sensitive").cast("long"),
            (F.col("class_size") >= F.lit(k)).alias("meets_k"),
            (F.col("n_sensitive") >= F.lit(l_div)).alias("meets_l"),
        )
    )
