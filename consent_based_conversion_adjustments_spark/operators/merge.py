"""MERGE INTO semantics (lakehouse-style upsert) as one full-outer
equi-join + conditional projection.

ANSI MERGE's three clauses map onto row predicates over the joined
frame: WHEN MATCHED AND <delete> THEN DELETE (filter), WHEN MATCHED
THEN UPDATE SET (source side wins for the update columns), WHEN NOT
MATCHED THEN INSERT (source-only rows keep their values, target-only
columns go null). A source-only row carrying the delete flag is a
no-op, matching MERGE (you cannot delete what is not there).

Scale shape: exactly one shuffle — the equi-join on the merge key. The
source side is typically a small CDC batch, so AQE broadcast-promotes
it and the target is never shuffled; for repeated merges into a large
target bucketed on the merge key (``DataFrameWriter.bucketBy``) the join
is co-located and shuffle-free. Nothing here is row-at-a-time: the conditional
projection is pure Catalyst.

reference: the reference engine has no upsert; this extends the
relational surface (SURVEY.md §7 step 7 north-star) with the data-
management primitive every incremental corpus/table pipeline needs.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def merge_upsert(
    target: DataFrame,
    source: DataFrame,
    keys: list[str],
    *,
    delete_col: str | None = None,
) -> DataFrame:
    """Merge ``source`` into ``target`` on ``keys`` (assumed non-null,
    unique in each side — the usual MERGE precondition). Update columns
    are the non-key columns the two frames share; target-only columns
    pass through (null on inserted rows); ``delete_col`` (boolean,
    source-side) marks rows to delete. Output schema == target schema.
    """
    t = target.alias("__t")
    s = source.alias("__s")
    cond = reduce(
        lambda a, b: a & b,
        [F.col(f"__t.{k}") == F.col(f"__s.{k}") for k in keys],
    )
    j = t.join(s, cond, "full_outer")
    sp = F.col(f"__s.{keys[0]}").isNotNull()
    if delete_col is not None:
        dflag = F.coalesce(F.col(f"__s.{delete_col}"), F.lit(False))
        # matched+flag → DELETE; source-only+flag → no-op (both drop)
        j = j.filter(~(sp & dflag))
    shared = {
        c
        for c in source.columns
        if c not in keys and c != delete_col and c in target.columns
    }
    outs = [
        F.coalesce(F.col(f"__t.{k}"), F.col(f"__s.{k}")).alias(k)
        for k in keys
    ]
    for c in target.columns:
        if c in keys:
            continue
        if c in shared:
            outs.append(
                F.when(sp, F.col(f"__s.{c}"))
                .otherwise(F.col(f"__t.{c}"))
                .alias(c)
            )
        else:
            outs.append(F.col(f"__t.{c}").alias(c))
    return j.select(*outs)


def table_diff(
    left: DataFrame,
    right: DataFrame,
    keys: list[str],
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """Snapshot reconciliation (data-diff): classify every key as
    ``added`` (right only), ``removed`` (left only), or ``changed``
    (present in both with at least one differing compare column);
    unchanged keys are dropped. Output: the key columns (coalesced),
    ``change_type``, ``n_changed`` (count of differing compare columns,
    0 for added/removed), and ``changed_cols`` (comma-joined sorted
    column names, '' for added/removed). Column comparison is NULL-safe
    (NULL == NULL, NULL != value).

    This is the validation half of CDC: after a MERGE (merge_upsert)
    lands, diffing the pre- and post-images proves exactly which rows the
    batch touched; diffing two independently-produced snapshots audits a
    replication pipeline.

    Scale shape: ONE shuffle — the full-outer equi-join on the key
    (AQE broadcast-promotes a small side); the per-column comparison is
    a pure-Catalyst conditional projection evaluated in-row, and the
    unchanged-row filter sits directly above the join so the (typically
    dominant) unchanged mass never survives the stage. For repeated
    diffs of bucketed snapshots the join is co-located and shuffle-free.

    reference: no analog — data-management primitive for the north-star
    surface (SURVEY.md §7 step 7), sibling of merge_upsert.
    """
    cols = compare_cols or sorted(
        c
        for c in left.columns
        if c not in keys and c in right.columns
    )
    l_ = left.alias("__l")
    r_ = right.alias("__r")
    cond = reduce(
        lambda a, b: a & b,
        [F.col(f"__l.{k}") == F.col(f"__r.{k}") for k in keys],
    )
    j = l_.join(r_, cond, "full_outer")
    in_l = F.col(f"__l.{keys[0]}").isNotNull()
    in_r = F.col(f"__r.{keys[0]}").isNotNull()
    changed = F.array_compact(
        F.array(
            *[
                F.when(
                    ~F.col(f"__l.{c}").eqNullSafe(F.col(f"__r.{c}")),
                    F.lit(c),
                )
                for c in cols
            ]
        )
    )
    change_type = (
        F.when(~in_l, F.lit("added"))
        .when(~in_r, F.lit("removed"))
        .when(F.size(changed) > 0, F.lit("changed"))
    )
    out_keys = [
        F.coalesce(F.col(f"__l.{k}"), F.col(f"__r.{k}")).alias(k)
        for k in keys
    ]
    both = in_l & in_r
    return (
        j.select(
            *out_keys,
            change_type.alias("change_type"),
            F.when(both, F.size(changed))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("n_changed"),
            F.when(both, F.array_join(changed, ","))
            .otherwise(F.lit(""))
            .alias("changed_cols"),
        )
        .filter(F.col("change_type").isNotNull())
    )


def scd2_history(
    changes: DataFrame,
    key: str,
    ts_col: str,
    state_col: str,
    tiebreak_col: str,
) -> DataFrame:
    """Slowly-changing-dimension Type 2: compress a change log into
    versioned validity intervals. Per key, rows are ordered by
    (``ts_col``, ``tiebreak_col``) — the tiebreaker makes the order
    total, so the output is deterministic — consecutive rows with an
    unchanged ``state_col`` are collapsed (change-point compression),
    and each surviving change opens a version with ``valid_from`` = its
    timestamp, ``valid_to`` = the next change's timestamp (NULL on the
    open version), ``version`` = 1-based change index, and
    ``is_current`` on the last version.

    Scale shape: both windows key on the entity, so the whole operator
    is ONE hash shuffle on ``key`` with two in-partition window passes
    (lag to detect change points, then lead/row_number over the
    compressed rows — strictly fewer rows than the input). No global
    window, no single-partition stage. Heavy-hitter caveat shared with
    global ranking: an entity with billions of changes serializes
    within its partition; pre-split such keys by time range first.

    reference: no analog — the temporal-table primitive (Kimball SCD2)
    every warehouse pipeline builds from CDC feeds; extends the
    north-star surface next to merge_upsert/table_diff.
    """
    order = [F.col(ts_col).asc(), F.col(tiebreak_col).asc()]
    w = Window.partitionBy(key).orderBy(*order)
    compressed = (
        changes.withColumn("__prev", F.lag(state_col).over(w))
        .filter(
            F.col("__prev").isNull()
            | ~F.col("__prev").eqNullSafe(F.col(state_col))
        )
        .drop("__prev")
    )
    w2 = Window.partitionBy(key).orderBy(*order)
    return compressed.select(
        F.col(key),
        F.row_number().over(w2).cast("long").alias("version"),
        F.col(state_col).alias("state"),
        F.col(ts_col).alias("valid_from"),
        F.lead(ts_col).over(w2).alias("valid_to"),
        F.lead(ts_col).over(w2).isNull().alias("is_current"),
    )
