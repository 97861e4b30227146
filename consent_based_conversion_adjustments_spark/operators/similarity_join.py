"""The similarity join — kNN / radius / percentile matching (SURVEY.md §2.5).

The reference builds a sklearn ``NearestNeighbors`` index over the consenting
("build") side and probes it with every non-consenting row
(reference: nearest_consented_customers.py:46-264). Spark has no kNN join, so
this module provides four physical routes. ``match_join`` runs a kNN or
radius join on the route its ``impl`` names (``percentile_radius`` does the
same for the nearest-distance pass); ``choose_impl`` picks the route for
``impl="auto"``:

``impl="sql"`` — pure DataFrame composition: broadcast cross join →
    Catalyst distance expression → ``row_number`` top-k (kNN) or theta
    predicate (radius). Fully declarative, DuckDB-oracle-checkable, and the
    plan Catalyst produces is BroadcastNestedLoopJoin → Window. The only
    shuffle is the hash exchange for the per-probe window.

``impl="numpy"`` — the broadcast scale path: the build side's (id, features)
    matrix is broadcast to executors once, and ``mapInPandas`` computes
    vectorized chunked matches per probe partition with numpy. ZERO
    shuffle: output is probe-partitioned (probe_id, build_id, distance)
    pairs directly — or, fused with softmax + scatter-add, per-partition
    partial aggregates (``adjust_partials_numpy``). Per-partition cost is
    O(rows × n_build × width) flops with no m×n row materialization; it
    replaces the reference's single-node sklearn query
    (nearest_consented_customers.py:184-221) with an embarrassingly
    parallel scan.

``impl="grouped"`` — the dictionary kernels: the distance grid over
    DISTINCT feature vectors only, expanded to rows at the output join —
    flat in the row counts on low-cardinality (one-hot) spaces.

``impl="lsh"`` — hyperplane-bucketed co-groups for build sides past the
    broadcast limit; approximate, neither side collected.

The three exact routes break distance ties deterministically by
(distance, ``build_id``) and return the same matches.

The matched-pairs long format ``(probe cols…, build_id, distance)`` is the
engine's core IR — weighting, scatter-add, and all summaries are windows and
groupBys over it (SURVEY.md §3.2).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.distance import metric_distance, parse_minkowski

BUILD_FEATURES = "__build_features"
DISTANCE = "distance"


def resolve_k(number_nearest_neighbors: float, n_build: int) -> int:
    """``k < 1`` is a proportion of the build side
    (reference: nearest_consented_customers.py:145-147, 208-211)."""
    if number_nearest_neighbors < 1:
        k = int(number_nearest_neighbors * n_build)
    else:
        k = int(number_nearest_neighbors)
    if k < 1:
        raise ValueError(
            f"resolved k={k} from number_nearest_neighbors="
            f"{number_nearest_neighbors} with {n_build} build rows"
        )
    if k > n_build:
        # sklearn raises when k > n_fit (reference behavior, SURVEY.md §2.5 J2)
        raise ValueError(f"k={k} exceeds build-side row count {n_build}")
    return k


# -- the grouped (dictionary) kernels: the scale plan for LOW-CARDINALITY
# -- feature spaces. The cocoa one-hot space has ~125 distinct vectors at
# -- ANY scale (segment × nation), so the m·n distance grid recomputes the
# -- same 125×125 distances millions of times — and hyperplane LSH
# -- degenerates to all-pairs (identical vectors share every bucket;
# -- round-12 rung: 627 s where the grid took 133 s). The dictionary
# -- kernel computes the distinct-class grid ONCE (d_p·d_b pairs), selects
# -- per probe-CLASS, and expands to rows only at the output join —
# -- O(d_p·d_b + output) instead of O(m·n), flat in the row counts.
# -- Results are byte-identical to the sql/numpy kernels: distances come
# -- from the same metric_distance expression over the same vectors, and
# -- the (distance, build_id) tie-break is applied over build ROWS.


def probe_class_ids(
    probe: DataFrame, features: str = "features"
) -> DataFrame:
    """``(__pf, __pcid)``: a deterministic dense integer id per distinct
    probe vector (row_number over the array's lexicographic order).

    Why (r13 profile): carrying the raw feature ARRAY as the class key
    through the d_p × matched-build-rows pair frame made every shuffle,
    persist block, and distinct of the radius flagship ~10× wider than
    needed (3.17M rows × a 30-wide double array at sf1.0) — run times
    swung 5.6–88 s on identical plans under the resulting memory
    pressure. The id join keeps arrays confined to the d_p-row
    dictionary. The single-partition window is bounded by the
    dictionary-route admission (d_p·d_b ≤ the pair-grid budget), the
    same scale class as the collected build matrix; exact array
    equality, so no hash-collision risk."""
    pc = probe.select(F.col(features).alias("__pf")).distinct()
    w = Window.orderBy(F.col("__pf").asc())
    return pc.withColumn("__pcid", F.row_number().over(w))


def _class_grid(
    probe: DataFrame,
    build: DataFrame,
    metric: str,
    features: str,
    feature_width: int | None,
    class_ids: DataFrame | None = None,
) -> DataFrame:
    """One row per (distinct probe vector, distinct build vector) with the
    metric distance — ``__pf`` / ``__bf`` are the class keys (the vectors
    themselves: exact equality, no hash-collision risk). With
    ``class_ids`` (``probe_class_ids`` output) the grid additionally
    carries the compact ``__pcid`` key."""
    if class_ids is not None:
        pc = class_ids
    else:
        pc = probe.select(F.col(features).alias("__pf")).distinct()
    bc = build.select(F.col(features).alias("__bf")).distinct()
    grid = pc.crossJoin(F.broadcast(bc))
    return grid.withColumn(
        DISTANCE,
        metric_distance(
            metric, F.col("__pf"), F.col("__bf"), width=feature_width
        ),
    )


def knn_topk_classes(
    probe: DataFrame,
    build: DataFrame,
    k: int,
    *,
    metric: str = "manhattan",
    build_id: str = "build_id",
    features: str = "features",
    feature_width: int | None = None,
    class_ids: DataFrame | None = None,
) -> DataFrame:
    """Per-probe-CLASS exact top-k build rows: class grid → candidate
    classes (cumulative build-row counts over ascending distance, whole
    distance tie-groups kept) → exact (distance, build_id)-ranked top-k
    BUILD ROWS per class — the sql/numpy tie-break. Returns
    (__pf, build_id, distance), ≤ d_p·k rows: every probe row of class
    __pf matches exactly these build rows. Candidate overshoot is
    bounded by the last admitted distance group, the same boundary-tie
    set every exact kernel must rank. With ``class_ids`` the output is
    keyed (__pcid, build_id, distance) instead — the compact frame the
    pipeline's fused adjust consumes (r13: arrays stay in the d_p-row
    dictionary, never in the expanded frames)."""
    key = "__pcid" if class_ids is not None else "__pf"
    grid = _class_grid(
        probe, build, metric, features, feature_width, class_ids=class_ids
    )
    bcounts = build.groupBy(F.col(features).alias("__bf")).agg(
        F.count(F.lit(1)).alias("__bn")
    )
    g = grid.join(F.broadcast(bcounts), "__bf")
    # rows strictly closer than this row's distance group; rangeBetween
    #(orderBy distance) counts <= current, minus the at-distance total
    w_cum = (
        Window.partitionBy(key)
        .orderBy(F.col(DISTANCE).asc())
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_at = Window.partitionBy(key, DISTANCE)
    g = g.withColumn(
        "__before",
        F.sum("__bn").over(w_cum) - F.sum("__bn").over(w_at),
    )
    cand_classes = g.filter(F.col("__before") < k).select(
        key, "__bf", DISTANCE
    )
    brows = build.select(
        F.col(build_id).alias(build_id), F.col(features).alias("__bf")
    )
    cand = cand_classes.join(brows, "__bf").select(key, build_id, DISTANCE)
    w_rank = Window.partitionBy(key).orderBy(
        F.col(DISTANCE).asc(), F.col(build_id).asc()
    )
    return (
        cand.withColumn("__rn", F.row_number().over(w_rank))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def radius_classes(
    probe: DataFrame,
    build: DataFrame,
    radius: float,
    *,
    metric: str = "manhattan",
    build_id: str = "build_id",
    features: str = "features",
    feature_width: int | None = None,
    class_ids: DataFrame | None = None,
) -> DataFrame:
    """Per-probe-CLASS in-radius build rows: (__pf, build_id, distance),
    d_p × avg-in-radius-rows — the class-level contraction of the radius
    join (every probe row of class __pf matches exactly these rows).
    With ``class_ids``: keyed (__pcid, build_id, distance) — this is the
    frame whose width dominates the radius flagship at scale (3.17M
    rows at sf1.0), so the array key stays out of it (r13)."""
    key = "__pcid" if class_ids is not None else "__pf"
    grid = _class_grid(
        probe, build, metric, features, feature_width, class_ids=class_ids
    ).filter(F.col(DISTANCE) <= radius)
    brows = build.select(
        F.col(build_id).alias(build_id), F.col(features).alias("__bf")
    )
    return grid.join(brows, "__bf").select(key, build_id, DISTANCE)


def _join_grouped(
    probe: DataFrame,
    build: DataFrame,
    *,
    k: int | None = None,
    radius: float | None = None,
    metric: str = "manhattan",
    build_id: str = "build_id",
    features: str = "features",
    feature_width: int | None = None,
) -> DataFrame:
    """Dictionary kNN (``knn_topk_classes``, ≤ d_p·k rows, broadcast) or
    radius join (``radius_classes``) expanded onto probe rows. The radius
    form is output-bound: every materialized row beyond the d_p·d_b grid
    is an output row or one of its two expansion precursors."""
    kw = dict(
        metric=metric, build_id=build_id, features=features,
        feature_width=feature_width,
    )
    if k is not None:
        cand = F.broadcast(knn_topk_classes(probe, build, k, **kw))
    else:
        cand = radius_classes(probe, build, radius, **kw)
    payload = probe.withColumn("__pf", F.col(features)).drop(features)
    return payload.join(cand, "__pf").drop("__pf")


def _join_sql(
    probe: DataFrame,
    build: DataFrame,
    *,
    k: int | None = None,
    radius: float | None = None,
    metric: str,
    probe_id: str,
    build_id: str,
    features: str,
    feature_width: int | None,
) -> DataFrame:
    """Broadcast cross join + Catalyst distance column, then the
    ``row_number`` top-k (``k``), the theta predicate (``radius``), or —
    neither given — every pair, for the nearest-distance min. Features are
    pruned after the distance. ``feature_width`` (known from the encoder)
    switches the distance to the allocation-free unrolled form — essential
    when this evaluates O(m·n) pairs inside the broadcast nested-loop
    join."""
    side = build.select(
        F.col(build_id).alias(build_id), F.col(features).alias(BUILD_FEATURES)
    )
    pairs = probe.crossJoin(F.broadcast(side)).withColumn(
        DISTANCE,
        metric_distance(
            metric, F.col(features), F.col(BUILD_FEATURES), width=feature_width
        ),
    ).drop(features, BUILD_FEATURES)
    if k is not None:
        w = Window.partitionBy(probe_id).orderBy(
            F.col(DISTANCE).asc(), F.col(build_id).asc()
        )
        return (
            pairs.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= k)
            .drop("__rn")
        )
    if radius is not None:
        return pairs.filter(F.col(DISTANCE) <= radius)
    return pairs


def match_join(
    probe: DataFrame,
    build: DataFrame,
    *,
    k: float | None = None,
    radius: float | None = None,
    impl: str,
    metric: str = "manhattan",
    probe_id: str = "probe_id",
    build_id: str = "build_id",
    features: str = "features",
    feature_width: int | None = None,
    build_matrix: tuple[np.ndarray, np.ndarray] | None = None,
    n_build: int | None = None,
) -> DataFrame:
    """The similarity join on one physical route: the top-``k`` build rows
    per probe (reference: nearest_consented_customers.py:184-221), or every
    build row within ``radius`` (:153-182). ``impl`` is a route, never
    "auto" — ``resolve_auto_impl`` resolves that first.

    Returns all probe columns but the features, plus (build_id, distance).
    kNN gives exactly k rows per probe (at most k on lsh). A radius probe
    with no match has no row: the matched/unmatched split (:362-364) is an
    anti-join against the output's probe ids. ``k`` may be a proportion of
    the build side (``resolve_k``): the numpy kernel resolves it from the
    matrix it collects anyway; the other routes from ``n_build``, counted
    when not supplied. The mode is chosen on ``is not None``, fixing the
    reference's truthiness dispatch (nearest_consented_customers.py:513)
    so ``radius=0.0`` is a valid empty-match join (FIXTURES.md F5).
    """
    if (k is None) == (radius is None):
        raise ValueError("exactly one of k / radius required")
    if impl == "numpy":
        return _join_numpy(
            probe, build, k=k, radius=radius, metric=metric,
            build_id=build_id, features=features, build_matrix=build_matrix,
        )
    if k is not None:
        if n_build is None:
            n_build = build.count()
        k = resolve_k(k, n_build)
    if impl == "grouped":
        return _join_grouped(
            probe, build, k=k, radius=radius, metric=metric,
            build_id=build_id, features=features, feature_width=feature_width,
        )
    if impl == "sql":
        return _join_sql(
            probe, build, k=k, radius=radius, metric=metric,
            probe_id=probe_id, build_id=build_id, features=features,
            feature_width=feature_width,
        )
    if impl == "lsh":
        kw = dict(
            metric=metric, probe_id=probe_id, build_id=build_id,
            features=features,
        )
        if k is not None:
            matched = knn_join_lsh(
                probe, build, k, feature_width, n_rows_hint=n_build, **kw
            )
        else:
            matched = radius_join_lsh(probe, build, radius, feature_width, **kw)
        # re-attach the probe payload columns (the LSH joins return narrow
        # (probe_id, build_id, distance) rows) — an equi-join on probe_id,
        # shuffle-safe at any probe size
        payload = probe.drop(features)
        if len(payload.columns) > 1:
            matched = matched.join(payload, probe_id)
        return matched
    raise ValueError(f"unknown impl {impl!r}")


def percentile_radius(
    probe: DataFrame,
    build: DataFrame,
    percentile: float,
    *,
    metric: str = "manhattan",
    probe_id: str = "probe_id",
    build_id: str = "build_id",
    features: str = "features",
    impl: str = "sql",
    feature_width: int | None = None,
    build_matrix=None,
) -> float:
    """Auto-radius: the ``percentile`` quantile of each probe's distance to
    its nearest build row (J5 pass 1 / J6).

    Guarantees ≥ percentile·100% of probes match in the subsequent radius
    join (reference: min_radius_by_percentile,
    nearest_consented_customers.py:140-143; README.md:45-48). Uses Spark's
    exact ``percentile`` (linear interpolation — same as pandas
    ``quantile``). The reference runs a full kNN(k=1) pass for the nearest
    distances (nearest_consented_customers.py:518-523); per route:

    - numpy: the k=1 kernel over the shared build matrix;
    - grouped: the min over the class grid per probe class, broadcast back
      onto probe rows (d_p rows of state);
    - sql: a min aggregation over the distance join — Catalyst runs it as a
      partial/final min with no pair materialization beyond the scan;
    - lsh: the k=1 LSH join. Approximate in one direction only: a missed
      true nearest neighbor can INFLATE a probe's nearest distance, never
      shrink it, so the radius errs toward matching ≥ percentile·100% of
      probes (the guarantee the reference mode exists for).
    """
    narrow = probe.select(probe_id, features)
    if impl == "numpy":
        nearest = _join_numpy(
            narrow, build, k=1, metric=metric, build_id=build_id,
            features=features, build_matrix=build_matrix,
        )
    elif impl == "grouped":
        mins = (
            _class_grid(probe, build, metric, features, feature_width)
            .groupBy("__pf")
            .agg(F.min(DISTANCE).alias(DISTANCE))
        )
        nearest = probe.select(F.col(features).alias("__pf")).join(
            F.broadcast(mins), "__pf"
        )
    elif impl == "sql":
        nearest = _join_sql(
            narrow, build, metric=metric, probe_id=probe_id,
            build_id=build_id, features=features, feature_width=feature_width,
        ).groupBy(probe_id).agg(F.min(DISTANCE).alias(DISTANCE))
    elif impl == "lsh":
        nearest = knn_join_lsh(
            narrow, build, 1, feature_width, metric=metric,
            probe_id=probe_id, build_id=build_id, features=features,
        )
    else:
        raise ValueError(f"unknown impl {impl!r}")
    row = nearest.select(
        F.expr(f"percentile({DISTANCE}, {percentile!r})").alias("radius")
    ).first()
    return float(row["radius"])


#: measured broadcast→LSH crossover (PERF.md rounds 11-12, organic sf1.0
#: rung): the broadcast kernels pay the full O(n_probe·n_build) distance
#: GRID, so the crossover lives on the pair count, not on either side
#: alone — round 12's first auto rung caught exactly that: the sf1.0
#: shape (30k probe × 120k build = 3.6e9 pairs) slipped past a
#: probe-rows-only rule and ran the 133 s grid where LSH runs ~6 s.
#: Measured anchors: 3.6e7 pairs (sf0.1: 3k probe × 12k build) → 6-10 s
#: grid, comfortably under LSH's ~3-6 s fixed bucketing overhead + JVM
#: floor only because the grid IS those 6 s; 3.6e9 pairs → 133-299 s
#: grid vs ~6 s LSH. Break-even ≈ grid-throughput (~1-3e7 pairs/s
#: single-stage observed) × LSH floor (~4 s) ≈ 1e8 pairs.
AUTO_MAX_PAIR_GRID = 100_000_000
#: build-matrix size cap for the broadcast kernels: the driver and every
#: executor core hold the collected n_build×width float64 matrix; 128 MB
#: mirrors ``_auto_chunk``'s per-task arithmetic budget
AUTO_BUILD_MATRIX_BYTES = 128 << 20


def choose_impl(
    n_probe: int,
    n_build: int,
    feature_width: int | None = None,
    *,
    d_probe: int | None = None,
    d_build: int | None = None,
    max_pair_grid: int = AUTO_MAX_PAIR_GRID,
    matrix_budget_bytes: int = AUTO_BUILD_MATRIX_BYTES,
) -> str:
    """Physical-strategy selection for the similarity join — the Spark
    analogue of the reference's ``NearestNeighbors(algorithm='auto')``
    (nearest_consented_customers.py:67): pick among the exact
    broadcast/BLAS kernel, the exact dictionary ("grouped") kernel, and
    the bucketed LSH route from numbers MEASURED on the organic sf1.0
    rung (PERF.md rounds 11-12):

    - pair-grid size n_probe·n_build: the broadcast grid computes every
      distance — under ``max_pair_grid`` (~1e8) it beats every
      alternative's fixed overhead (sf0.1's 3.6e7-pair grid: 6-10 s);
      past it the grid grows as the pair product (sf1.0's 3.6e9 pairs:
      133-299 s);
    - distinct-vector counts d_probe·d_build: when the CLASS grid fits
      the same pair budget, the dictionary kernel is exact at
      O(d_p·d_b + output) and byte-identical — the cocoa one-hot space
      has ~125 distinct vectors at ANY row count, so this is the route
      that stays flat at 100×. It dominates LSH everywhere it applies:
      on low-cardinality spaces hyperplane buckets DEGENERATE (identical
      vectors share every bucket — measured 627 s at sf1.0 where the
      dictionary kernel needs one 125×125 grid);
    - build matrix bytes: the broadcast kernels hold the collected
      n_build×width float64 matrix per executor core — past
      ``matrix_budget_bytes`` the broadcast itself is the failure.

    LSH is the route of last resort: both exact plans infeasible means
    genuinely high-cardinality vectors on both sides at beyond-broadcast
    scale — embeddings, not one-hots — which is LSH's actual regime.

    ``feature_width=None`` forces the exact route: the LSH signatures
    need the width, and a caller without it is in the small-dims regime
    the width-free broadcast kernels serve. ``d_probe``/``d_build``
    unknown (None) skips the dictionary route — callers pay the two
    count-distinct aggs only after the grid budget already failed
    (``resolve_auto_impl``).
    """
    if feature_width is None:
        return "numpy"
    if (
        int(n_probe) * int(n_build) <= int(max_pair_grid)
        and int(n_build) * int(feature_width) * 8 <= int(matrix_budget_bytes)
    ):
        return "numpy"
    if (
        d_probe is not None
        and d_build is not None
        and int(d_probe) * int(d_build) <= int(max_pair_grid)
    ):
        return "grouped"
    return "lsh"


def resolve_auto_impl(
    probe: DataFrame,
    build: DataFrame,
    features: str,
    feature_width: int | None,
    n_probe: int | None = None,
    n_build: int | None = None,
    d_probe: int | None = None,
    d_build: int | None = None,
) -> tuple[str, int, int]:
    """The eager half of ``impl="auto"``: count both sides (one
    aggregation over their tagged union, so one job), and — only when the
    row-level grid already failed the budget — count distinct feature
    vectors to test the dictionary route. Returns (impl, n_probe,
    n_build). Distinct counts go through xxhash64 (a 64-bit collision
    could only shrink the COUNT and flip the route, never an answer —
    every route is exact). All four stats are overridable so a caller
    that already knows them (the per-date loop's one-pass precount,
    VERDICT r12 §Next #7) pays zero extra jobs."""
    if n_probe is None or n_build is None:
        side = F.col("__is_probe")
        row = (
            probe.select(F.lit(True).alias("__is_probe"))
            .unionByName(build.select(F.lit(False).alias("__is_probe")))
            .agg(F.count_if(side).alias("p"), F.count_if(~side).alias("b"))
            .first()
        )
        n_probe = row["p"] if n_probe is None else n_probe
        n_build = row["b"] if n_build is None else n_build
    impl = choose_impl(n_probe, n_build, feature_width)
    if impl == "lsh":
        if d_probe is None:
            d_probe = probe.select(
                F.countDistinct(F.xxhash64(features)).alias("d")
            ).first()["d"]
        if d_build is None:
            d_build = build.select(
                F.countDistinct(F.xxhash64(features)).alias("d")
            ).first()["d"]
        impl = choose_impl(
            n_probe, n_build, feature_width,
            d_probe=d_probe, d_build=d_build,
        )
    return impl, n_probe, n_build


#: Measured recall-vs-mass ledger from the 64× embeddings rung
#: (128k build × 128k query — a 64× tile of the 2000-row sf0.1 table;
#: tools/scale/results_lsh_recall_r10.json, PERF.md round 10; the sweep
#: script, run_lsh_recall_r10.py, is in commit 877f3e6). Ground truth = exact
#: top-5 for a 500-probe sample. The calibration corpus has WEAK angular
#: gaps (rotation-tiled synthetic vectors) — a regime unfavorable to
#: angular LSH. Round 13 measured two MORE corpus classes at the same
#: (p, t) grid and falsified recall transfer in BOTH directions (PERF.md
#: round 13): a duplicate-rich organic corpus saturates recall
#: (RECALL_LEDGER_ORGANIC_64X below, ≥0.99 everywhere) while the sparse
#: label-clustered driver corpora measure BELOW this ledger (0.047 at
#: 500 rows / 0.067 at 2000 rows vs 0.127 predicted at p=10/t=8).
#: Ledger predictions are calibration-corpus-relative; the recall
#: CONTRACT must therefore be enforced by in-corpus measurement
#: (``lsh_recall_measured`` + the registered ``cocoa_lsh_recall_audit``
#: query), with ledgers seeding the initial (p, t) guess only. The
#: candidate-MASS model, by contrast, transfers cleanly (within 1%
#: across a 16× pair-product step on the organic rung).
#:
#:   p (planes)  n_tables   candidate mass   recall@5
#:   10          4          85.1 M           0.070
#:   10          8          170.5 M          0.124
#:   10          16         341.0 M          0.230
#:   12          16         99.9 M           0.090
RECALL_LEDGER_64X: tuple[dict, ...] = (
    {"n_planes": 10, "n_tables": 4, "mass": 85_121_132, "recall": 0.070},
    {"n_planes": 10, "n_tables": 8, "mass": 170_465_610, "recall": 0.124},
    {"n_planes": 10, "n_tables": 16, "mass": 340_967_170, "recall": 0.230},
    {"n_planes": 12, "n_tables": 16, "mass": 99_908_734, "recall": 0.090},
)

#: Round-13 organic ledger: bootstrap-resample of the sf0.1 embeddings
#: ×64 (sigma=0.01 jitter + renorm — the tools/scale/rung.py sf1_corpus
#: embeddings recipe), the duplicate-rich regime the engine's own
#: dedup/near-dup workloads live in (tools/scale/results_lsh_recall_r13.json;
#: the sweep script, run_lsh_recall_r13.py, is in commit 877f3e6).
#: Top-k neighbors are jittered near-copies, so they collide in nearly
#: every table: recall saturates (the r1=1.0 rows invert to t=1 via the
#: perfect-recall special case). A 512k validation leg reproduced the
#: pair-product mass scaling within 1% (91.4M×16 predicted vs 1.448G
#: measured at p=12/t=8).
RECALL_LEDGER_ORGANIC_64X: tuple[dict, ...] = (
    {"n_planes": 8, "n_tables": 8, "mass": 667_650_380, "recall": 1.0},
    {"n_planes": 10, "n_tables": 4, "mass": 106_698_708, "recall": 0.9916},
    {"n_planes": 10, "n_tables": 8, "mass": 214_666_944, "recall": 1.0},
    {"n_planes": 10, "n_tables": 16, "mass": 431_370_330, "recall": 1.0},
    {"n_planes": 12, "n_tables": 8, "mass": 91_371_896, "recall": 1.0},
    {"n_planes": 12, "n_tables": 16, "mass": 183_604_536, "recall": 1.0},
)

#: the rungs' corpus sides (mass scales as n_build·n_query relative to
#: them; both the r10 synthetic and r13 organic grids ran at 64× of the
#: 2000-row sf0.1 table). NOTE: this constant shipped as 1_280_000
#: through round 12 — a 10×-per-side recording error the round-13 rung's
#: arithmetic exposed (the uniform-occupancy model t·n_b·n_q/2^p
#: predicts the measured 170M mass at 128k sides and 12.8G at 1.28M
#: sides); mass predictions were 100× under-estimated, making budget
#: feasibility checks too permissive at large n.
_LEDGER_SIDES = (128_000, 128_000)


def lsh_recall_plan(
    n_build: int,
    n_query: int,
    *,
    recall_floor: float,
    target_mass_per_row: int = 64,
    ledger: tuple[dict, ...] = RECALL_LEDGER_64X,
    ledger_sides: tuple[int, int] = _LEDGER_SIDES,
    max_tables: int = 64,
) -> dict:
    """Recall-aware LSH dispatch — the PERF.md round-10 conclusion as
    code (VERDICT r10 §Next #6): given a recall floor and a candidate-
    mass budget LINEAR in the data (``target_mass_per_row·(n_build +
    n_query)``), either return the
    (n_planes, n_tables) meeting the floor within budget, or recommend
    the exact blocked-BLAS route (cosine_neardup_blas / SemDeDup's
    cluster-pruned pass).

    Model — both laws MEASURED on the ledger (PERF.md round 10):

    1. recall = 1 − (1 − r₁(p))^t — OR-amplification is CONCAVE, not
       linear (ADVICE r11): each row's per-table rate is recovered by
       inverting the concave law, r₁ = 1 − (1 − recall)^(1/t), and on
       the ledger those inverted rates are ~constant across 4/8/16
       tables (0.0180 / 0.0164 / 0.0162) — the apparent decay of the
       naive recall/t estimate (0.0175 → 0.0144) IS the concavity. The
       table count solving the floor is t = ⌈ln(1−floor)/ln(1−r₁)⌉,
       which grows super-linearly near floor→1 instead of the linear
       extrapolation's optimistic ⌈floor/r₁⌉ (at r₁≈0.016 a 0.9 floor
       needs ~143 tables, not 57 — correctly infeasible under any
       linear budget);
    2. mass ≈ n_tables · m₁(p) · (n_build·n_query)/(Lb·Lq) — pair-
       sampling scaling off the ledger corpus (the uniform-occupancy
       n·m/2^p model held within 2.2× on the same rung).

    Per-table rates r₁/m₁ are averaged over the ledger rows at each
    measured p; p is NOT extrapolated (the p=12 row shows the signature
    explode + 65k-bucket overhead breaking the 1/2^p idealization). The
    ledger corpus is the weak-angular-gap synthetic rung — re-measure
    with the sweep behind tools/scale/results_lsh_recall_r10.json
    (run_lsh_recall_r10.py in commit 877f3e6) and pass ``ledger=`` for a
    corpus with real structure (recall per table will only improve).

    Returns a dict: ``route`` = "lsh" (+ n_planes/n_tables/
    predicted_recall/predicted_mass/mass_budget) or "exact_blas"
    (+ reason, best_lsh — the closest-miss config for context).
    """
    if not 0.0 < recall_floor <= 1.0:
        raise ValueError(f"recall_floor must be in (0, 1]: {recall_floor}")
    budget = float(target_mass_per_row) * (float(n_build) + float(n_query))
    pair_scale = (float(n_build) * float(n_query)) / (
        float(ledger_sides[0]) * float(ledger_sides[1])
    )
    by_p: dict[int, list[dict]] = {}
    for row in ledger:
        by_p.setdefault(int(row["n_planes"]), []).append(row)
    candidates: list[dict] = []
    for p, rows in sorted(by_p.items()):
        import math

        # invert the concave OR-amplification law per measured row:
        # recall = 1-(1-r1)^t  ⇒  r1 = 1-(1-recall)^(1/t)
        r1 = sum(
            1.0 - (1.0 - r["recall"]) ** (1.0 / r["n_tables"]) for r in rows
        ) / len(rows)
        m1 = sum(r["mass"] / r["n_tables"] for r in rows) / len(rows)
        if r1 <= 0.0:
            continue
        if r1 >= 1.0:
            # a measured recall of 1.0 inverts to a per-table rate of
            # 1.0 — one table already meets ANY floor, and log(1-r1)
            # would be log(0) (ADVICE r12: small corpora can measure
            # perfect recall in a custom ledger)
            t = 1
        elif recall_floor >= 1.0:
            # 1-(1-r1)^t never reaches 1.0 for r1 < 1 — no finite t
            t = max_tables + 1
        else:
            t = math.ceil(math.log(1.0 - recall_floor) / math.log(1.0 - r1))
        t = max(1, t)
        pred_recall = 1.0 - (1.0 - r1) ** t
        pred_mass = t * m1 * pair_scale
        candidates.append(
            {
                "n_planes": p,
                "n_tables": t,
                "predicted_recall": round(pred_recall, 4),
                "predicted_mass": round(pred_mass),
                "feasible": pred_mass <= budget and t <= max_tables,
            }
        )
    feasible = [c for c in candidates if c["feasible"]]
    if feasible:
        # prefer FEWEST TABLES, not least mass: the rung measured p=12/16t
        # SLOWER than p=10/16t despite 3.4x less mass (signature explode
        # + 2^p-bucket group-by overhead dominates once buckets are
        # sparse), and table count is what multiplies that overhead
        best = min(
            feasible, key=lambda c: (c["n_tables"], c["predicted_mass"])
        )
        return {
            "route": "lsh",
            "n_planes": best["n_planes"],
            "n_tables": best["n_tables"],
            "predicted_recall": best["predicted_recall"],
            "predicted_mass": best["predicted_mass"],
            "mass_budget": round(budget),
        }
    best = min(candidates, key=lambda c: c["predicted_mass"]) if candidates else None
    return {
        "route": "exact_blas",
        "reason": (
            f"no measured (p, n_tables) reaches recall {recall_floor} "
            f"within mass budget {round(budget)} (≤ {max_tables} tables) — "
            "recall per unit mass is ~constant on this corpus class "
            "(PERF.md round 10), so OR-amplification cannot beat the "
            "frontier; use cosine_neardup_blas or the SemDeDup "
            "cluster-pruned exact pass"
        ),
        "best_lsh": best,
        "mass_budget": round(budget),
    }


def lsh_params_for(
    n_build: int,
    n_query: int,
    recall_floor: float,
    **plan_kwargs,
) -> tuple[int, int]:
    """(n_planes, n_tables) for the LSH joins from a stated recall floor
    (VERDICT r11 §Next #6 — the recall governor stops being advisory):
    runs ``lsh_recall_plan`` over the measured ledger and returns the
    planned amplification, or raises when no measured configuration
    honors the floor within the linear mass budget (the honest answer is
    the exact blocked-BLAS route, and silently under-recalling is the
    failure mode this helper exists to prevent). Deterministic in the
    side counts, so an oracle can replay the derivation."""
    plan = lsh_recall_plan(
        n_build, n_query, recall_floor=recall_floor, **plan_kwargs
    )
    if plan["route"] != "lsh":
        raise ValueError(
            f"recall_floor={recall_floor} is not achievable by LSH here: "
            f"{plan['reason']}"
        )
    return plan["n_planes"], plan["n_tables"]


def lsh_recall_measured(
    probe: DataFrame,
    build: DataFrame,
    k: int,
    feature_width: int,
    *,
    metric: str = "euclidean",
    probe_id: str = "probe_id",
    build_id: str = "build_id",
    features: str = "features",
    n_planes: int,
    n_tables: int,
    sample_mod: int = 1,
    self_join: bool = True,
    n_rows_hint: int | None = None,
) -> DataFrame:
    """In-corpus recall measurement — the enforcement half of the recall
    contract (VERDICT r12 §Next #1). Round 13 measured the SAME (p, t)
    grid on three corpus classes and recall@k did not transfer across
    any pair of them (0.016 / 0.70 / 0.006 per-table rates at p=10 —
    PERF.md round 13), so a ledger-predicted recall is only as good as
    the calibration corpus's resemblance to the data. This operator
    measures recall on the ACTUAL corpus: exact top-k (the
    (distance, build_id)-tie-broken broadcast kernel) vs the
    (n_planes, n_tables) LSH top-k over a deterministic probe sample
    (``probe_id % sample_mod == 0`` — replayable in SQL), returning one
    row ``(n_exact, hits)``. ``self_join=True`` (a corpus joined to
    itself) ranks k+1 including the self pair and drops it, the
    registered LSH queries' convention. Cost: sample_rows × n_build
    exact distances + the sampled LSH legs — bounded by the sample, not
    the corpus."""
    if sample_mod > 1:
        sample = probe.filter(
            F.col(probe_id) % F.lit(int(sample_mod)) == 0
        )
    else:
        sample = probe
    sample = sample.select(probe_id, features)
    fetch = k + 1 if self_join else k
    # impl="numpy": the chunked-BLAS kernel shares the dot-product
    # distance shape with knn_join_lsh's re-rank AND the oracle's
    # _EUCLID replay — one distance formulation across all three legs
    exact = match_join(
        sample, build, k=fetch, impl="numpy", metric=metric,
        probe_id=probe_id, build_id=build_id, features=features,
        feature_width=feature_width,
    )
    lsh = knn_join_lsh(
        sample, build, fetch, feature_width, metric=metric,
        probe_id=probe_id, build_id=build_id, features=features,
        n_planes=n_planes, n_tables=n_tables, n_rows_hint=n_rows_hint,
    )
    if self_join:
        exact = exact.filter(F.col(probe_id) != F.col(build_id))
        lsh = lsh.filter(F.col(probe_id) != F.col(build_id))
    # ONE aggregation over the exact leg left-joined to the LSH leg:
    # n_exact counts every exact pair, hits counts the matched ones.
    # Both legs emit UNIQUE (probe, build) pairs (row_number-ranked
    # top-k), so the left join never duplicates an exact row and the
    # counts equal the old inner-join + separate-count formulation —
    # which planned the expensive exact kernel as TWO identical subtrees
    # (one per count; r14 plan: MapInPandas twice, ~4.5 s each at sf0.1)
    # and crossJoined the two 1-row aggregates (guide §2.4: duplicated
    # subtrees are shuffles/scans to remove outright).
    exact = exact.select(probe_id, build_id)
    matched = lsh.select(probe_id, build_id).withColumn("__hit", F.lit(1))
    return (
        exact.join(matched, [probe_id, build_id], "left")
        .agg(
            F.count(F.lit(1)).alias("n_exact"),
            F.count("__hit").alias("hits"),
        )
    )


#: per-side row target for one coarse LSH co-group (r14): groups sized to
#: ~64k feature rows keep the Arrow→pandas conversion and the Python
#: function-call overhead amortized over real BLAS work (~32 MB of
#: float64 features per group at width 64) while staying far inside
#: per-task memory. Tunable for clusters with different task memory.
LSH_GROUP_TARGET_ROWS = 1 << 16


def _lsh_coarse_groups(n_rows_hint: int | None, n_planes: int) -> int | None:
    """Coarse co-group count per table for the LSH bucket kernels, from a
    caller-supplied row-count hint (most call sites already counted their
    corpus for the LSH planner). None → per-signature grouping, the exact
    pre-r14 shape. A hint sizes groups to ``LSH_GROUP_TARGET_ROWS`` rows
    per side; at or past 2^n_planes coarse groups the coarsening would be
    a no-op, so per-signature grouping is kept there too."""
    if not n_rows_hint:
        return None
    g = max(1, -(-int(n_rows_hint) // LSH_GROUP_TARGET_ROWS))
    return None if g >= (1 << n_planes) else g


def _lsh_bucket_matches(
    probe: DataFrame,
    build: DataFrame,
    feature_width: int,
    *,
    k: int | None,
    radius: float | None,
    metric: str,
    probe_id: str,
    build_id: str,
    features: str,
    n_planes: int,
    n_tables: int,
    n_rows_hint: int | None,
) -> DataFrame:
    """The LSH joins' one bucket pass: both sides signed by deterministic
    random hyperplanes (multi-table OR-amplification, one BLAS matmul per
    Arrow batch), co-grouped by (table, signature) — or, with a row-count
    hint, by (table, hash(signature) mod g) — and matched per signature
    with ``_match``: the local top-k (``k``) or every pair within
    ``radius``. Returns (probe_id, build_id, distance) rows, one per
    (pair, agreeing table).

    Each group is converted to numpy once and sliced per signature, so a
    per-signature group and a coarse group run identical math: the same
    distance kernel and, for kNN, the same stable argsort whose tie-break
    is (distance, build_id) because each signature's build rows are
    sorted by id.
    """
    from .similarity_search import _signature_array

    if feature_width is None:
        raise ValueError("the LSH route (impl='lsh') requires feature_width")
    sig = _signature_array(
        features, dim=feature_width, n_planes=n_planes, n_tables=n_tables
    )
    q = probe.select(
        F.col(probe_id).alias("__pid"),
        F.col(features).alias("__f"),
        F.posexplode(sig).alias("table_id", "lsh_sig"),
    )
    c = build.select(
        F.col(build_id).alias("__bid"),
        F.col(features).alias("__f"),
        F.posexplode(sig).alias("table_id", "lsh_sig"),
    )
    out_schema = T.StructType(
        [
            T.StructField(probe_id, probe.schema[probe_id].dataType, True),
            T.StructField(build_id, build.schema[build_id].dataType, True),
            T.StructField(DISTANCE, T.DoubleType(), False),
        ]
    )
    build_order = ["lsh_sig", "__bid"] if k is not None else ["lsh_sig"]

    def bucket(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({probe_id: [], build_id: [], DISTANCE: []})
        if left.empty or right.empty:
            return empty
        left = left.sort_values("lsh_sig", kind="stable")
        right = right.sort_values(build_order, kind="stable")
        Q_all = np.array(left["__f"].tolist(), dtype=np.float64)
        C_all = np.array(right["__f"].tolist(), dtype=np.float64)
        l_sig = left["lsh_sig"].to_numpy()
        r_sig = right["lsh_sig"].to_numpy()
        l_pid = left["__pid"].to_numpy()
        r_bid = right["__bid"].to_numpy()
        outs = []
        for s in np.intersect1d(np.unique(l_sig), np.unique(r_sig)):
            ql, qh = np.searchsorted(l_sig, [s, s + 1])
            cl, ch = np.searchsorted(r_sig, [s, s + 1])
            Q, C = Q_all[ql:qh], C_all[cl:ch]
            D = _chunk_distances(Q, C, metric, _is_binary(C) and _is_binary(Q))
            rows, cols, dist = _match(D, k, radius)
            outs.append(
                pd.DataFrame(
                    {
                        probe_id: l_pid[ql:qh][rows],
                        build_id: r_bid[cl:ch][cols],
                        DISTANCE: dist,
                    }
                )
            )
        return pd.concat(outs, ignore_index=True) if outs else empty

    g = _lsh_coarse_groups(n_rows_hint, n_planes)
    key = "lsh_sig"
    if g is not None:
        key = "__grp"
        grp = F.pmod(F.xxhash64("lsh_sig"), F.lit(g))
        q, c = q.withColumn(key, grp), c.withColumn(key, grp)
    return (
        q.groupBy("table_id", key)
        .cogroup(c.groupBy("table_id", key))
        .applyInPandas(bucket, schema=out_schema)
    )


def knn_join_lsh(
    probe: DataFrame,
    build: DataFrame,
    k: int,
    feature_width: int,
    *,
    metric: str = "manhattan",
    probe_id: str = "probe_id",
    build_id: str = "build_id",
    features: str = "features",
    n_planes: int = 4,
    n_tables: int = 8,
    n_rows_hint: int | None = None,
) -> DataFrame:
    """Approximate kNN join for build sides too large to broadcast.

    Neither side is collected: both are signed by deterministic random
    hyperplanes (multi-table OR-amplification, one BLAS matmul per Arrow
    batch), then co-grouped by (table, signature) — a plain shuffle of the
    exploded signature rows, scaling like any relational aggregation — and
    each bucket re-ranks its candidates with a vectorized BLAS distance
    matrix, emitting only its LOCAL top-k per probe. The global top-k over
    per-bucket top-ks is exactly the top-k over the full candidate union,
    so the O(|bucket|²) pair set is never materialized as rows: the
    post-bucket merge sees ≤ n_tables·k rows per probe. Returns ≤ k rows
    per probe (recall governed by n_planes/n_tables). On one-hot features
    Euclidean-style hyperplane buckets align with Manhattan ranking
    (L2² = L1 on binary vectors, SURVEY.md §4). Bucket skew at scale is
    controlled by ``n_planes`` (bucket count per table is 2^n_planes).

    ``n_rows_hint`` (r14, guide §4): the per-signature co-group invokes
    the Python kernel once per (table, signature) — at planner-scaled
    plane counts that is thousands of near-empty pandas groups whose
    per-group conversion/call overhead dwarfs the BLAS work (measured at
    sf0.1: p=10 → 5.5 s where p=6, same compute, → 1.6 s). With a row
    count hint (call sites already count n for ``lsh_params_for``), the
    co-group key coarsens to ``(table, hash(sig) mod g)`` with g sized so
    one group carries ~``LSH_GROUP_TARGET_ROWS`` rows, and the kernel
    sub-buckets by the exact signature INSIDE one vectorized call — same
    per-bucket candidate sets, same distance kernel, same stable
    (distance, build_id) tie-break, so results are identical. Scale
    shape: group size is bounded by the target independent of corpus
    size (g grows with n until it reaches the 2^p per-signature
    granularity, which is exactly the pre-hint shape).
    """
    local = _lsh_bucket_matches(
        probe, build, feature_width, k=k, radius=None, metric=metric,
        probe_id=probe_id, build_id=build_id, features=features,
        n_planes=n_planes, n_tables=n_tables, n_rows_hint=n_rows_hint,
    )
    # a pair surfaces once per agreeing table with an identical distance —
    # collapse before the global top-k (narrow rows only; the feature
    # arrays never left their buckets)
    deduped = local.groupBy(probe_id, build_id).agg(
        F.min(DISTANCE).alias(DISTANCE)
    )
    w = Window.partitionBy(probe_id).orderBy(
        F.col(DISTANCE).asc(), F.col(build_id).asc()
    )
    return (
        deduped.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def radius_join_lsh(
    probe: DataFrame,
    build: DataFrame,
    radius: float,
    feature_width: int,
    *,
    metric: str = "manhattan",
    probe_id: str = "probe_id",
    build_id: str = "build_id",
    features: str = "features",
    n_planes: int = 4,
    n_tables: int = 8,
    n_rows_hint: int | None = None,
) -> DataFrame:
    """Approximate radius join for build sides too large to broadcast —
    the beyond-broadcast route for the reference's radius mode
    (reference: nearest_consented_customers.py:153-182).

    Same bucketed co-group as `knn_join_lsh` (neither side collected,
    hyperplane signatures + equi-join-shaped shuffle on (table, sig)), but
    each bucket emits ALL pairs with distance ≤ radius instead of a local
    top-k. A pair colliding in several tables surfaces once per table with
    an identical distance; a narrow groupBy-min collapses the duplicates.
    Unlike the kNN variant there is no per-probe output bound — the match
    fan-out is whatever the radius admits, exactly like the exact radius
    join — so downstream consumers should aggregate (the adjust kernel
    does) rather than materialize. Recall is governed by
    n_planes/n_tables; tests assert a floor vs the exact join.
    """
    local = _lsh_bucket_matches(
        probe, build, feature_width, k=None, radius=radius, metric=metric,
        probe_id=probe_id, build_id=build_id, features=features,
        n_planes=n_planes, n_tables=n_tables, n_rows_hint=n_rows_hint,
    )
    return local.groupBy(probe_id, build_id).agg(
        F.min(DISTANCE).alias(DISTANCE)
    )


# ---------------------------------------------------------------------------
# numpy scale path
# ---------------------------------------------------------------------------


def _collect_build_matrix(
    build: DataFrame, build_id: str, features: str
) -> tuple[np.ndarray, np.ndarray]:
    rows = build.select(build_id, features).collect()
    ids = np.array([r[0] for r in rows])
    mat = np.array([r[1] for r in rows], dtype=np.float64)
    order = np.argsort(ids, kind="stable")
    return ids[order], mat[order]


def _is_binary(M: np.ndarray) -> bool:
    sample = M[: min(len(M), 64)]
    return bool(((sample == 0.0) | (sample == 1.0)).all())


def _chunk_distances(
    X: np.ndarray, B: np.ndarray, metric: str, binary: bool = False
) -> np.ndarray:
    if metric == "manhattan":
        if binary:
            # on 0/1 vectors |x−b|₁ = |x|₁ + |b|₁ − 2 x·b → one BLAS matmul
            # instead of a chunk×n×w broadcast (pure one-hot feature spaces
            # always hit this path)
            D = X.sum(1)[:, None] + B.sum(1)[None, :] - 2.0 * (X @ B.T)
            np.maximum(D, 0.0, out=D)
            return D
        return np.abs(X[:, None, :] - B[None, :, :]).sum(axis=2)
    if metric == "euclidean":
        # ||x-b||² = ||x||² + ||b||² − 2 x·b  (BLAS-backed)
        sq = (X * X).sum(1)[:, None] + (B * B).sum(1)[None, :] - 2.0 * X @ B.T
        np.maximum(sq, 0.0, out=sq)
        return np.sqrt(sq)
    if metric == "cosine":
        xn = np.sqrt((X * X).sum(1))[:, None]
        bn = np.sqrt((B * B).sum(1))[None, :]
        denom = xn * bn
        with np.errstate(divide="ignore", invalid="ignore"):
            sim = np.where(denom != 0.0, (X @ B.T) / denom, 0.0)
        return 1.0 - sim
    if metric == "hamming":
        return (X[:, None, :] != B[None, :, :]).sum(axis=2).astype(np.float64)
    if metric == "chebyshev":
        return np.abs(X[:, None, :] - B[None, :, :]).max(axis=2)
    p = parse_minkowski(metric)
    if p is not None:
        return (np.abs(X[:, None, :] - B[None, :, :]) ** p).sum(axis=2) ** (
            1.0 / p
        )
    raise ValueError(f"unsupported metric: {metric!r}")


def _auto_chunk(n_build: int, width: int, budget_bytes: int = 128 << 20) -> int:
    """Probe-chunk size keeping the chunk×n×w manhattan broadcast (worst
    case) inside a fixed per-task memory budget."""
    per_row = max(1, n_build * max(width, 1) * 8)
    return max(16, min(1024, budget_bytes // per_row))


def _match(
    D: np.ndarray, k: int | None, radius: float | None
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """The one match step over a distance block: ``(rows, cols, distance)``
    with rows ascending and each row's matches contiguous.

    kNN: the (up to) k nearest per row by a stable argsort, i.e.
    lexicographic (distance, position); the callers' build rows are sorted
    by build_id, so ties at the k-th distance resolve to the smallest
    build_id exactly like the SQL path's row_number ORDER BY (distance,
    build_id). (An argpartition pre-pass would be faster for huge n but
    picks arbitrary candidates among boundary ties — wrong.) Radius:
    ``nonzero(D <= radius)``.
    """
    if k is not None:
        idx = np.argsort(D, axis=1, kind="stable")[:, :k]
        rows = np.repeat(np.arange(D.shape[0]), idx.shape[1])
        return rows, idx.ravel(), np.take_along_axis(D, idx, axis=1).ravel()
    rows, cols = np.nonzero(D <= radius)
    return rows, cols, D[rows, cols]


def _broadcast_build(
    probe: DataFrame,
    build: DataFrame,
    build_id: str,
    features: str,
    build_matrix: tuple[np.ndarray, np.ndarray] | None,
):
    """The numpy kernels' shared setup: the id-sorted build matrix
    (collected unless the caller supplies it) broadcast once, its row
    count, and the Spark type of its ids."""
    ids, mat = build_matrix or _collect_build_matrix(build, build_id, features)
    bc = probe.sparkSession.sparkContext.broadcast((ids, mat))
    id_type = (
        T.LongType() if np.issubdtype(ids.dtype, np.integer) else T.StringType()
    )
    return bc, len(ids), id_type


def _chunk_matches(
    batches: Iterator[pd.DataFrame],
    B: np.ndarray,
    *,
    k: int | None,
    radius: float | None,
    metric: str,
    features: str,
    chunk: int | None,
) -> Iterator[tuple[pd.DataFrame, np.ndarray, np.ndarray, np.ndarray]]:
    """The numpy kernels' one chunk loop: per probe chunk of each Arrow
    batch, yields ``(chunk_pdf, rows, cols, distance)`` from ``_match`` —
    chunk-local probe rows, build positions (B is id-sorted) and
    distances. Chunks without a match are skipped."""
    n = B.shape[0]
    binary = metric == "manhattan" and _is_binary(B)
    step = chunk or _auto_chunk(n, B.shape[1] if n else 1)
    for pdf in batches:
        if pdf.empty or n == 0:
            continue
        X = np.array(pdf[features].tolist(), dtype=np.float64)
        if binary and not _is_binary(X):
            binary = False
        for lo in range(0, len(pdf), step):
            hi = min(lo + step, len(pdf))
            D = _chunk_distances(X[lo:hi], B, metric, binary)
            rows, cols, dist = _match(D, k, radius)
            if len(rows):
                yield pdf.iloc[lo:hi], rows, cols, dist


def _join_numpy(
    probe: DataFrame,
    build: DataFrame,
    *,
    k: float | None = None,
    radius: float | None = None,
    metric: str,
    build_id: str,
    features: str,
    chunk: int | None = None,
    build_matrix: tuple[np.ndarray, np.ndarray] | None = None,
) -> DataFrame:
    """Broadcast-build vectorized kNN (``k``) or radius join via
    mapInPandas — no shuffle. Output: every probe column but the features,
    plus (build_id, distance). ``k`` may be fractional (proportional-k) —
    resolved against the collected build side, sparing the driver a
    count() job.
    """
    bc, n_build, id_type = _broadcast_build(
        probe, build, build_id, features, build_matrix
    )
    if k is not None:
        k = resolve_k(k, n_build)
    pass_cols = [c for c in probe.columns if c != features]
    out_schema = T.StructType(
        [probe.schema[c] for c in pass_cols]
        + [
            T.StructField(build_id, id_type, False),
            T.StructField(DISTANCE, T.DoubleType(), False),
        ]
    )

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        b_ids, B = bc.value
        for part, rows, cols, dist in _chunk_matches(
            batches, B, k=k, radius=radius, metric=metric,
            features=features, chunk=chunk,
        ):
            rep = part[pass_cols].iloc[rows].reset_index(drop=True)
            rep[build_id] = b_ids[cols]
            rep[DISTANCE] = dist
            yield rep

    return probe.mapInPandas(compute, schema=out_schema)


def adjust_partials_numpy(
    probe: DataFrame,
    build: DataFrame,
    *,
    k: float | None = None,
    radius: float | None = None,
    metric: str = "manhattan",
    build_id: str = "build_id",
    features: str = "features",
    conversion_column: str = "conversion_value",
    chunk: int | None = None,
    build_matrix: tuple[np.ndarray, np.ndarray] | None = None,
) -> DataFrame:
    """Fused similarity-join + softmax + map-side scatter-add (W1+W2 in the
    kernel): emits per-partition PARTIAL aggregates instead of matched
    pairs, so the m·k (or m·|radius-matches|) pair set never leaves the
    Python worker.

    Every probe's match set is chunk-local, so its softmax weights
    (max-shifted exactly like scipy.special.softmax,
    reference: nearest_consented_customers.py:404-406) are computable
    in-kernel, segment-wise over the match rows — a kNN chunk is just k
    matches per row; the scatter-add becomes a ``np.bincount`` over build
    positions, accumulated across the whole partition. Output is at most
    ``n_build + 1`` rows per partition regardless of how many pairs matched
    — the distributed equivalent of a map-side combine, which is what makes
    the radius mode (pair fan-out unbounded) safe at 100 TB. The sentinel
    row (null ``build_id``) carries the partition's matched-probe
    conversion total for the naive baseline (W3).

    Row schema: (build_id?, adjusted_partial, sum_distance_partial,
    n_partial, weight_partial, matched_value_partial).
    """
    if (k is None) == (radius is None):
        raise ValueError("exactly one of k / radius required")
    bc, n_build, id_type = _broadcast_build(
        probe, build, build_id, features, build_matrix
    )
    kk = resolve_k(k, n_build) if k is not None else None
    out_schema = T.StructType(
        [
            T.StructField(build_id, id_type, True),
            T.StructField("adjusted_partial", T.DoubleType(), False),
            T.StructField("sum_distance_partial", T.DoubleType(), False),
            T.StructField("n_partial", T.LongType(), False),
            T.StructField("weight_partial", T.DoubleType(), False),
            T.StructField("matched_value_partial", T.DoubleType(), False),
        ]
    )
    narrow = probe.select(features, conversion_column)

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        b_ids, B = bc.value
        n = B.shape[0]
        acc_adj = np.zeros(n)
        acc_dist = np.zeros(n)
        acc_cnt = np.zeros(n, dtype=np.int64)
        acc_w = np.zeros(n)
        tmv = 0.0
        for part, rows, cols, d in _chunk_matches(
            batches, B, k=kk, radius=radius, metric=metric,
            features=features, chunk=chunk,
        ):
            cv = part[conversion_column].to_numpy(dtype=np.float64)
            counts = np.bincount(rows, minlength=len(cv))
            nz = counts > 0
            cnz = counts[nz]
            # shift by each row's min distance (= max of −d); the bincount
            # denominator sums each row's terms in match order
            rmin = np.minimum.reduceat(d, np.cumsum(cnz) - cnz)
            e = np.exp(np.repeat(rmin, cnz) - d)
            w = e / np.bincount(rows, weights=e, minlength=len(cv))[rows]
            acc_adj += np.bincount(cols, weights=w * cv[rows], minlength=n)
            acc_dist += np.bincount(cols, weights=d, minlength=n)
            acc_cnt += np.bincount(cols, minlength=n)
            acc_w += np.bincount(cols, weights=w, minlength=n)
            tmv += cv[nz].sum()
        mask = acc_cnt > 0
        m = int(mask.sum())
        # nullable id dtype: the sentinel row's null must not coerce an
        # int64 id column to float64 (Arrow would reject / lose precision)
        if np.issubdtype(b_ids.dtype, np.integer):
            id_col = pd.array(
                np.append(b_ids[mask], 0), dtype="Int64"
            )
            id_col[m] = pd.NA
        else:
            id_col = pd.array(
                list(b_ids[mask]) + [None], dtype=object
            )
        yield pd.DataFrame(
            {
                build_id: id_col,
                "adjusted_partial": np.append(acc_adj[mask], 0.0),
                "sum_distance_partial": np.append(acc_dist[mask], 0.0),
                "n_partial": np.append(acc_cnt[mask], 0),
                "weight_partial": np.append(acc_w[mask], 0.0),
                "matched_value_partial": np.append(np.zeros(m), tmv),
            }
        )

    return narrow.mapInPandas(compute, schema=out_schema)
