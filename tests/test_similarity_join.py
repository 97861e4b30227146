"""Similarity-join semantics (reference: nearest_consented_customers_test.py)."""

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
import pytest

from consent_based_conversion_adjustments_spark.operators.similarity_join import (
    match_join,
    percentile_radius,
    resolve_k,
)


def _frames(spark, n_probe=7, n_build=11, width=5, seed=3):
    rng = np.random.RandomState(seed)
    probe = spark.createDataFrame(
        pd.DataFrame(
            {
                "pid": range(n_probe),
                "features": [
                    [float(v) for v in rng.randint(0, 3, width)]
                    for _ in range(n_probe)
                ],
            }
        )
    )
    build = spark.createDataFrame(
        pd.DataFrame(
            {
                "bid": range(n_build),
                "features": [
                    [float(v) for v in rng.randint(0, 3, width)]
                    for _ in range(n_build)
                ],
            }
        )
    )
    return probe, build


@pytest.mark.parametrize("impl", ["sql", "numpy"])
def test_knn_returns_exactly_k_per_probe(spark, impl):
    """reference: nearest_consented_customers_test.py:53-60 (invariant 7)."""
    probe, build = _frames(spark)
    out = match_join(probe, build, k=4, probe_id="pid", build_id="bid", impl=impl)
    counts = out.groupBy("pid").count().collect()
    assert len(counts) == 7
    assert all(r["count"] == 4 for r in counts)


@pytest.mark.parametrize(
    "metric",
    ["manhattan", "euclidean", "cosine", "hamming", "chebyshev", "minkowski:3"],
)
def test_impls_agree(spark, metric):
    """The three exact routes agree pairwise on kNN, on radius and on the
    nearest-distance pass (distances up to float reassociation: numpy
    computes in BLAS form, sql and grouped in Catalyst)."""
    from itertools import combinations

    probe, build = _frames(spark, n_probe=23, n_build=17, width=6)
    kw = dict(metric=metric, probe_id="pid", build_id="bid")
    # a radius halfway between two adjacent distinct distances, so no pair
    # sits on the boundary where an ulp of difference would flip it
    d = match_join(probe, build, radius=1e9, impl="sql", **kw).toPandas()
    levels = np.unique(d["distance"].round(9))
    i = (len(levels) - 1) // 2
    radius = float(levels[i] + levels[i + 1]) / 2
    impls = ("sql", "numpy", "grouped")
    for mode in ({"k": 5}, {"radius": radius}):
        out = {
            impl: match_join(probe, build, impl=impl, **mode, **kw)
            .select("pid", "bid", "distance")
            .orderBy("pid", "bid")
            .toPandas()
            for impl in impls
        }
        assert len(out["sql"]) > 0
        for a, b in combinations(impls, 2):
            pd.testing.assert_frame_equal(out[a], out[b], check_dtype=False)
    for p in (0.25, 0.9):
        radii = [
            percentile_radius(probe, build, p, impl=impl, feature_width=6, **kw)
            for impl in impls
        ]
        assert radii == pytest.approx([radii[0]] * 3, rel=1e-9, abs=1e-12)


def test_knn_matches_bruteforce_numpy_oracle(spark):
    probe, build = _frames(spark, n_probe=9, n_build=13, width=4, seed=11)
    P = np.array([r["features"] for r in probe.orderBy("pid").collect()])
    B = np.array([r["features"] for r in build.orderBy("bid").collect()])
    D = np.abs(P[:, None, :] - B[None, :, :]).sum(2)
    out = (
        match_join(probe, build, k=3, probe_id="pid", build_id="bid", impl="sql")
        .orderBy("pid", "distance", "bid")
        .toPandas()
    )
    for pid, grp in out.groupby("pid"):
        expected = np.argsort(D[pid], kind="stable")[:3]
        assert list(grp["bid"]) == sorted(
            expected, key=lambda j: (D[pid][j], j)
        )
        assert list(grp["distance"]) == sorted(D[pid][expected].tolist())


@pytest.mark.parametrize("impl", ["sql", "numpy"])
def test_radius_join_bounds_and_drops_unmatched(spark, impl):
    """reference: nearest_consented_customers.py:153-182 (J3)."""
    probe, build = _frames(spark, seed=5)
    out = match_join(probe, build, radius=3.0, build_id="bid", impl=impl)
    assert out.filter(F.col("distance") > 3.0).count() == 0
    # radius 0 keeps only exact matches; radius huge keeps all pairs
    all_pairs = match_join(probe, build, radius=1e9, build_id="bid", impl=impl)
    assert all_pairs.count() == 7 * 11


def test_resolve_k_proportional_and_errors():
    """reference: nearest_consented_customers.py:145-147, 208-211."""
    assert resolve_k(0.5, 30) == 15
    assert resolve_k(3, 30) == 3
    with pytest.raises(ValueError, match="exceeds build-side"):
        resolve_k(31, 30)
    with pytest.raises(ValueError, match="resolved k"):
        resolve_k(0.001, 30)


def test_knn_join_lsh_recall(spark):
    """Bucketed approximate kNN (no broadcast of either side): returned
    pairs carry exact distances, and recall@k vs the exact join is
    reasonable on this fixture."""
    from consent_based_conversion_adjustments_spark.operators.similarity_join import (
        knn_join_lsh,
    )

    probe, build = _frames(spark, n_probe=30, n_build=40, width=8, seed=9)
    exact = {
        (r["pid"], r["bid"]): r["distance"]
        for r in match_join(
            probe, build, k=3, probe_id="pid", build_id="bid", impl="sql"
        ).collect()
    }
    approx = {
        (r["pid"], r["bid"]): r["distance"]
        for r in knn_join_lsh(
            probe, build, 3, 8, probe_id="pid", build_id="bid"
        ).collect()
    }
    # distances on returned pairs are the true L1 distances (BLAS bucket
    # kernel vs Catalyst sequential sum — identical up to reassociation)
    for pair, d in approx.items():
        if pair in exact:
            assert d == pytest.approx(exact[pair], abs=1e-9)
    recall = len(set(exact) & set(approx)) / len(exact)
    assert recall >= 0.4
    # never more than k per probe
    from collections import Counter

    per_probe = Counter(p for p, _ in approx)
    assert max(per_probe.values()) <= 3


def test_lsh_coarse_grouping_identical(spark):
    """The r14 coarse co-group (n_rows_hint) must be result-IDENTICAL to
    the per-signature grouping, bit-for-bit on distances: same candidate
    sets (signature equality is the join condition either way), same
    per-bucket kernel, same (distance, build_id) tie-break. A small hint
    forces g=1 (the coarsest grouping, one group per table)."""
    from consent_based_conversion_adjustments_spark.operators.similarity_join import (
        knn_join_lsh,
        radius_join_lsh,
    )

    probe, build = _frames(spark, n_probe=30, n_build=40, width=8, seed=9)
    fine = {
        (r["pid"], r["bid"]): r["distance"]
        for r in knn_join_lsh(
            probe, build, 3, 8, probe_id="pid", build_id="bid"
        ).collect()
    }
    coarse = {
        (r["pid"], r["bid"]): r["distance"]
        for r in knn_join_lsh(
            probe, build, 3, 8, probe_id="pid", build_id="bid",
            n_rows_hint=40,
        ).collect()
    }
    assert fine == coarse  # exact equality, distances included

    fine_r = {
        (r["pid"], r["bid"]): r["distance"]
        for r in radius_join_lsh(
            probe, build, 6.0, 8, probe_id="pid", build_id="bid"
        ).collect()
    }
    coarse_r = {
        (r["pid"], r["bid"]): r["distance"]
        for r in radius_join_lsh(
            probe, build, 6.0, 8, probe_id="pid", build_id="bid",
            n_rows_hint=40,
        ).collect()
    }
    assert fine_r == coarse_r


def test_min_distance_and_percentile_radius(spark):
    probe, build = _frames(spark, seed=7)
    nearest = match_join(
        probe, build, k=1, probe_id="pid", build_id="bid", impl="sql"
    )
    nd = {r["pid"]: r["distance"] for r in nearest.collect()}
    # every probe has a nearest distance >= 0
    assert len(nd) == 7 and all(v >= 0 for v in nd.values())
    r95 = percentile_radius(probe, build, 0.95, probe_id="pid", build_id="bid")
    # pandas-compatible linear interpolation quantile
    expected = float(np.quantile(sorted(nd.values()), 0.95))
    assert abs(r95 - expected) < 1e-9
    # percentile coverage invariant (invariant 8, real claim — the reference
    # test compares % to fraction and is vacuous; with linear interpolation
    # the tight guarantee is coverage ≥ p − 1/n):
    matched = match_join(probe, build, radius=r95, build_id="bid", impl="sql")
    frac = matched.select("pid").distinct().count() / 7
    assert frac >= 0.95 - 1.0 / 7 - 1e-9
    # the LSH pass can miss a true nearest neighbor, which only inflates a
    # probe's nearest distance: its radius errs toward matching more
    for p in (0.5, 0.95):
        assert percentile_radius(
            probe, build, p, probe_id="pid", build_id="bid", impl="lsh",
            feature_width=5,
        ) >= percentile_radius(probe, build, p, probe_id="pid", build_id="bid")

def test_radius_join_lsh_subset_and_recall(spark):
    """Bucketed approximate radius join: every returned pair is a true
    in-radius pair with its exact distance (no false positives — buckets
    verify exactly), and recall vs the exact join clears a floor."""
    from consent_based_conversion_adjustments_spark.operators.similarity_join import (
        radius_join_lsh,
    )

    probe, build = _frames(spark, n_probe=30, n_build=40, width=8, seed=9)
    exact = {
        (r["pid"], r["bid"]): r["distance"]
        for r in match_join(
            probe, build, radius=6.0, build_id="bid", impl="sql"
        ).collect()
    }
    approx = {
        (r["pid"], r["bid"]): r["distance"]
        for r in radius_join_lsh(
            probe, build, 6.0, 8, probe_id="pid", build_id="bid"
        ).collect()
    }
    assert set(approx) <= set(exact)
    for pair, d in approx.items():
        assert d == pytest.approx(exact[pair], abs=1e-9)
    assert len(approx) / len(exact) >= 0.4


def test_radius_lsh_adjust_conservation(spark):
    """Conservation over the beyond-broadcast execution path: LSH-matched
    radius pairs → softmax → scatter-add must redistribute each MATCHED
    probe's conversion value exactly once (Σ adjusted over consent ==
    Σ conversion over matched probes), and every received distance is a
    true in-radius distance."""
    from consent_based_conversion_adjustments_spark.operators.adjust import (
        scatter_add,
        softmax_weights,
    )
    from consent_based_conversion_adjustments_spark.operators.similarity_join import (
        radius_join_lsh,
    )
    import pyspark.sql.functions as F

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    feats = emb.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("features"),
        (F.col("vec_id") % 97 + 1).cast("double").alias("conversion_value"),
    )
    probe = feats.filter(F.col("vec_id") % 5 == 0).select(
        F.col("vec_id").alias("probe_id"), "features", "conversion_value"
    )
    build = feats.filter(F.col("vec_id") % 5 != 0).select(
        F.col("vec_id").alias("consent_id"), "features", "conversion_value"
    )
    pairs = radius_join_lsh(
        probe.select("probe_id", "features"),
        build.select("consent_id", "features"),
        1.2, 64, metric="euclidean",
        probe_id="probe_id", build_id="consent_id",
    )
    assert pairs.count() > 0
    weighted = softmax_weights(
        pairs.join(probe.select("probe_id", "conversion_value"), "probe_id")
    )
    out = scatter_add(
        build.select("consent_id", "conversion_value"),
        weighted,
        build_id="consent_id",
    )
    total_received = out.agg(F.sum("adjusted_conversion")).first()[0]
    matched_value = (
        pairs.select("probe_id").distinct()
        .join(probe, "probe_id")
        .agg(F.sum("conversion_value")).first()[0]
    )
    assert total_received == pytest.approx(matched_value, rel=1e-9)
    assert pairs.filter(F.col("distance") > 1.2).count() == 0


def test_similarity_join_lsh_dispatch(spark):
    """impl='lsh' drives all three modes without collecting either side and
    re-attaches probe payload columns."""
    from consent_based_conversion_adjustments_spark.operators.similarity_join import (
        match_join,
        percentile_radius,
    )

    probe, build = _frames(spark, n_probe=20, n_build=25, width=8, seed=7)
    probe = probe.withColumn("payload", F.col("pid") * 10)
    kw = dict(probe_id="pid", build_id="bid", impl="lsh")

    knn = match_join(probe, build, k=3, feature_width=8, **kw)
    assert set(knn.columns) >= {"pid", "bid", "distance", "payload"}
    per_probe = knn.groupBy("pid").count().agg(F.max("count")).first()[0]
    assert per_probe <= 3

    rad = match_join(probe, build, radius=5.0, feature_width=8, **kw)
    assert rad.filter(F.col("distance") > 5.0).count() == 0
    assert "payload" in rad.columns

    # percentile mode: the p50 nearest-distance radius, then a radius join
    r = percentile_radius(probe, build, 0.5, feature_width=8, **kw)
    pct = match_join(probe, build, radius=r, feature_width=8, **kw)
    # at least ~half the probes should match within the p50 nearest radius
    assert pct.select("pid").distinct().count() >= 8

    with pytest.raises(ValueError, match="feature_width"):
        match_join(probe, build, radius=1.0, **kw)


def test_choose_impl_measured_crossover():
    """The auto-dispatch (VERDICT r11 §Next #1) pins the MEASURED sf1.0
    rung, on the PAIR GRID: the sf0.1 shape (3k probe x 12k build =
    3.6e7 pairs, 6-10 s grid) keeps the exact broadcast kernel; the
    sf1.0 shape (30k probe x 120k build = 3.6e9 pairs — the 133 s grid
    the first r12 auto rung caught slipping past a probe-rows-only
    rule) routes to LSH; a build matrix past the 128 MB collect budget
    routes to LSH regardless of grid size; width-free callers stay on
    the width-free exact kernels."""
    from consent_based_conversion_adjustments_spark.operators.similarity_join import (
        choose_impl,
    )

    assert choose_impl(3_000, 12_000, 125) == "numpy"    # sf0.1 shape
    assert choose_impl(30_000, 120_000, 125) == "lsh"    # sf1.0, d unknown
    assert choose_impl(10_000, 10_000, 125) == "numpy"   # 1e8 boundary in
    assert choose_impl(10_001, 10_000, 125) == "lsh"     # boundary out
    # 1M build rows x 64 dims x 8 B = 512 MB > 128 MB collect budget
    assert choose_impl(100, 1_000_000, 64) == "lsh"
    assert choose_impl(1_000_000, 1_000_000, None) == "numpy"
    # the sf1.0 cocoa shape WITH known distinct counts: ~125 one-hot
    # classes per side -> the exact dictionary kernel, never LSH (which
    # degenerates to all-pairs there: 627 s measured, r12 rung)
    assert choose_impl(
        30_000, 120_000, 125, d_probe=125, d_build=125
    ) == "grouped"
    # genuinely high-cardinality (embeddings): dictionary grid infeasible
    assert choose_impl(
        1_000_000, 1_000_000, 64, d_probe=1_000_000, d_build=1_000_000
    ) == "lsh"


def test_similarity_join_auto_routes_by_scale(spark):
    """impl='auto' picks the physical plan from the actual side counts
    (``resolve_auto_impl``, then ``match_join`` on the chosen route — the
    two steps ``run_adjustment`` takes): a >30k-row probe side produces the
    LSH co-group plan (FlatMapCoGroupsInPandas), a small one the
    broadcast/numpy kernel (MapInPandas) — the reference's
    algorithm='auto' made distributed."""
    from consent_based_conversion_adjustments_spark.operators.similarity_join import (
        match_join,
        resolve_auto_impl,
    )

    def auto_knn(probe, build):
        impl, _, n_build = resolve_auto_impl(probe, build, "features", 2)
        return match_join(
            probe, build, k=3, impl=impl, probe_id="pid", build_id="bid",
            feature_width=2, n_build=n_build,
        )

    def side_of(n, idcol, conv, cardinality=None):
        # cardinality=None -> every row a distinct vector (id-scaled);
        # an int -> that many distinct vectors (id % cardinality)
        x = (
            F.col("id").cast("double")
            if cardinality is None
            else (F.col("id") % cardinality).cast("double")
        )
        return spark.range(n).select(
            F.col("id").alias(idcol),
            F.array(x, (x * 2)).alias("features"),
            F.lit(conv).alias("conv"),
        )

    # 40k x 5k = 2e8 pairs > the 1e8 grid budget, every vector distinct
    # -> the dictionary grid is also infeasible -> LSH co-group plan
    big = auto_knn(side_of(40_000, "pid", 1.0), side_of(5_000, "bid", 0.0))
    assert "FlatMapCoGroupsInPandas" in big._jdf.queryExecution().toString()

    # same row counts but ~10 distinct vectors per side -> the exact
    # dictionary kernel: pure Catalyst, no Python kernel of either kind
    grouped = auto_knn(
        side_of(40_000, "pid", 1.0, cardinality=10),
        side_of(5_000, "bid", 0.0, cardinality=10),
    )
    gplan = grouped._jdf.queryExecution().toString()
    assert "FlatMapCoGroupsInPandas" not in gplan
    assert "MapInPandas" not in gplan
    assert grouped.groupBy("pid").count().agg(F.min("count")).first()[0] == 3

    small = auto_knn(side_of(100, "pid", 1.0), side_of(50, "bid", 0.0))
    plan = small._jdf.queryExecution().toString()
    assert "FlatMapCoGroupsInPandas" not in plan
    assert "MapInPandas" in plan  # the numpy broadcast kernel
    # and the small route stays exact: 3 rows per probe
    assert small.groupBy("pid").count().agg(F.min("count")).first()[0] == 3


def test_run_adjustment_auto_equals_pinned_exact(spark, tiled_fixture):
    """On sub-crossover data the auto route must reproduce the pinned
    exact impls bit-for-bit (the driver's green CORRECTNESS rows were
    recorded with impl='sql'; auto resolves to the numpy kernel, whose
    (distance, build_id) tie-break contract makes it value-identical)."""
    from consent_based_conversion_adjustments_spark.config import (
        AdjustmentConfig,
    )
    from consent_based_conversion_adjustments_spark.pipeline import (
        run_adjustment,
    )

    consent, noconsent = tiled_fixture
    cfg = AdjustmentConfig(
        conversion_column="conversion_column",
        id_columns=["id_column"],
        number_nearest_neighbors=2,
    )
    auto = run_adjustment(consent, noconsent, cfg).data_adjusted
    sql = run_adjustment(consent, noconsent, cfg, impl="sql").data_adjusted
    a = sorted(map(tuple, auto.collect()))
    s = sorted(map(tuple, sql.collect()))
    assert a == s


def test_lsh_recall_plan_reproduces_ledger_points():
    """The dispatch helper must reproduce the measured ledger within the
    linearity the round-10 rung established: asking for the measured
    recall at the measured corpus size returns the measured table count,
    and predicted mass/recall land near the measured values."""
    from consent_based_conversion_adjustments_spark.operators.similarity_join import (
        RECALL_LEDGER_64X,
        lsh_recall_plan,
    )

    n = 128_000  # the rung's TRUE sides (r13 corrected the 1.28M record)
    # measured point: p=10, 8 tables -> recall 0.124 at 170.5M mass.
    # Budget: generous enough to admit it.
    plan = lsh_recall_plan(
        n, n, recall_floor=0.12, target_mass_per_row=2000
    )
    assert plan["route"] == "lsh"
    assert plan["n_planes"] == 10
    assert plan["n_tables"] == 8
    measured = next(
        r
        for r in RECALL_LEDGER_64X
        if r["n_planes"] == 10 and r["n_tables"] == 8
    )
    assert abs(plan["predicted_recall"] - measured["recall"]) < 0.015
    assert (
        abs(plan["predicted_mass"] - measured["mass"]) / measured["mass"]
        < 0.15
    )


def test_lsh_recall_plan_routes_high_floor_to_exact():
    """Re-buying sf0.1-level recall at the 64x rung needs ~27x more
    tables — mass far beyond any linear budget. The helper must say so
    and route to the exact blocked-BLAS path (the PERF.md conclusion)."""
    from consent_based_conversion_adjustments_spark.operators.similarity_join import (
        lsh_recall_plan,
    )

    n = 1_280_000
    plan = lsh_recall_plan(n, n, recall_floor=0.78, target_mass_per_row=64)
    assert plan["route"] == "exact_blas"
    assert "cosine_neardup_blas" in plan["reason"]
    assert plan["best_lsh"] is not None


def test_lsh_recall_plan_scales_mass_by_pair_product():
    """Pair-sampling scaling: a 100x-smaller corpus (each side) predicts
    10,000x less mass for the same (p, t) while the linear budget only
    shrinks 100x — the pair-product asymmetry that turns an infeasible
    floor feasible at small n. Sides are relative to the rung's TRUE
    128k corpus (r13 corrected the 1.28M sides record)."""
    from consent_based_conversion_adjustments_spark.operators.similarity_join import (
        lsh_recall_plan,
    )

    big = lsh_recall_plan(
        128_000, 128_000, recall_floor=0.5, target_mass_per_row=64
    )
    small = lsh_recall_plan(
        1_280, 1_280, recall_floor=0.5, target_mass_per_row=64
    )
    assert big["route"] == "exact_blas"
    assert small["route"] == "lsh"
    assert small["predicted_recall"] >= 0.5


def test_lsh_recall_plan_concave_not_linear():
    """ADVICE r11: OR-amplification is concave — at the ledger's
    r1≈0.016, a 0.9 recall floor needs ~143 tables under the true
    1-(1-r1)^t law, not the linear model's 57. The plan must route such
    floors to exact_blas instead of claiming the floor met, and any
    returned prediction must satisfy the concave law, never exceed it."""
    import math

    from consent_based_conversion_adjustments_spark.operators.similarity_join import (
        RECALL_LEDGER_64X,
        lsh_recall_plan,
    )

    n = 1_280_000
    plan = lsh_recall_plan(n, n, recall_floor=0.9, target_mass_per_row=64)
    assert plan["route"] == "exact_blas"
    # even with an effectively unlimited mass budget, the table count the
    # concave law demands exceeds max_tables=64 — still exact_blas
    plan = lsh_recall_plan(n, n, recall_floor=0.9, target_mass_per_row=10**9)
    assert plan["route"] == "exact_blas"
    # a feasible plan's prediction obeys recall = 1-(1-r1)^t for the
    # ledger-inverted r1 (the linear t·r1 overshoots this strictly)
    plan = lsh_recall_plan(n, n, recall_floor=0.3, target_mass_per_row=10**9)
    assert plan["route"] == "lsh"
    rows = [r for r in RECALL_LEDGER_64X if r["n_planes"] == plan["n_planes"]]
    r1 = sum(
        1.0 - (1.0 - r["recall"]) ** (1.0 / r["n_tables"]) for r in rows
    ) / len(rows)
    t = plan["n_tables"]
    assert math.isclose(
        plan["predicted_recall"], 1.0 - (1.0 - r1) ** t, abs_tol=1e-4
    )
    assert plan["predicted_recall"] < t * r1  # strictly below linear
    # floor=1.0 is unreachable by any finite OR-amplification
    assert (
        lsh_recall_plan(n, n, recall_floor=1.0, target_mass_per_row=10**9)[
            "route"
        ]
        == "exact_blas"
    )


def test_lsh_recall_plan_organic_ledger():
    """The r13 organic (duplicate-rich) ledger: near-copy neighbors
    collide in nearly every table, so per-table rates are huge
    (r1≈0.70 at p=10 from the one non-saturated row) and even a 0.9
    floor needs only a couple of tables — the regime where LSH is
    nearly free. Saturated rows (recall 1.0) invert via the
    perfect-recall special case instead of crashing."""
    from consent_based_conversion_adjustments_spark.operators.similarity_join import (
        RECALL_LEDGER_ORGANIC_64X,
        lsh_recall_plan,
    )

    plan = lsh_recall_plan(
        128_000, 128_000, recall_floor=0.9, target_mass_per_row=2000,
        ledger=RECALL_LEDGER_ORGANIC_64X,
    )
    assert plan["route"] == "lsh"
    assert plan["n_tables"] <= 4
    assert plan["predicted_recall"] >= 0.9


def test_lsh_recall_plan_perfect_recall_ledger_row():
    """ADVICE r12: a ledger row with measured recall == 1.0 inverts to a
    per-table rate of 1.0 — the concave inversion must special-case it
    (one table meets any floor) instead of raising a math domain error
    on log(1 - r1). Small corpora legitimately measure perfect recall."""
    from consent_based_conversion_adjustments_spark.operators.similarity_join import (
        lsh_recall_plan,
    )

    ledger = ({"n_planes": 4, "n_tables": 8, "recall": 1.0, "mass": 100},)
    plan = lsh_recall_plan(
        1000, 1000, recall_floor=0.9, target_mass_per_row=64,
        ledger=ledger, ledger_sides=(1000, 1000),
    )
    assert plan["route"] == "lsh"
    assert plan["n_tables"] == 1
    assert plan["predicted_recall"] == 1.0
    # even floor=1.0 is now reachable: r1=1.0 delivers it with one table
    plan = lsh_recall_plan(
        1000, 1000, recall_floor=1.0, target_mass_per_row=64,
        ledger=ledger, ledger_sides=(1000, 1000),
    )
    assert plan["route"] == "lsh"
    assert plan["n_tables"] == 1


def test_lsh_recall_plan_validates_floor():
    import pytest

    from consent_based_conversion_adjustments_spark.operators.similarity_join import (
        lsh_recall_plan,
    )

    with pytest.raises(ValueError, match="recall_floor"):
        lsh_recall_plan(1000, 1000, recall_floor=0.0)
    with pytest.raises(ValueError, match="recall_floor"):
        lsh_recall_plan(1000, 1000, recall_floor=1.5)


def test_lsh_params_for_pins_planned_derivation():
    """The registered cocoa_knn_lsh_planned derivation: at the sf0.01
    side counts (500x500) a 0.12 recall floor prices at the measured
    (p=10, t=8) ledger point; an unreachable floor raises with the
    exact-BLAS recommendation instead of under-recalling."""
    import pytest

    from consent_based_conversion_adjustments_spark.operators.similarity_join import (
        lsh_params_for,
    )

    assert lsh_params_for(500, 500, 0.12) == (10, 8)
    assert lsh_params_for(2_000, 2_000, 0.12) == (10, 8)  # sf0.1 sides
    with pytest.raises(ValueError, match="cosine_neardup_blas"):
        lsh_params_for(1_280_000, 1_280_000, 0.9)


def test_lsh_recall_measured_bounds_and_saturation(spark):
    """The in-corpus recall measurement (r13 self-calibration): n_exact
    is exactly k non-self rows per sampled probe, hits is bounded by it,
    and amplifying tables toward exhaustive bucketing drives measured
    recall to 1.0 — the operator agrees with the exact kernel when the
    candidate set saturates."""
    import numpy as np

    from consent_based_conversion_adjustments_spark.operators.similarity_join import (
        lsh_recall_measured,
    )

    rng = np.random.default_rng(13)
    width, n, k = 8, 48, 3
    M = rng.normal(size=(n, width))
    M /= np.linalg.norm(M, axis=1, keepdims=True)
    rows = [(i, [float(x) for x in M[i]]) for i in range(n)]
    probe = spark.createDataFrame(rows, "probe_id long, features array<double>")
    build = (
        probe.withColumnRenamed("probe_id", "consent_id")
    )
    few = lsh_recall_measured(
        probe, build, k, width, metric="euclidean",
        probe_id="probe_id", build_id="consent_id",
        n_planes=6, n_tables=1, sample_mod=2,
    ).first()
    assert few["n_exact"] == k * (n // 2)
    assert 0 <= few["hits"] <= few["n_exact"]
    many = lsh_recall_measured(
        probe, build, k, width, metric="euclidean",
        probe_id="probe_id", build_id="consent_id",
        n_planes=1, n_tables=16, sample_mod=2,
    ).first()
    assert many["hits"] >= few["hits"]
    assert many["hits"] == many["n_exact"]  # p=1, 16 tables: exhaustive


def _dup_frames(spark, n_probe=40, n_build=60, width=3, seed=5):
    """Low-cardinality fixture: randint(0,2) over width 3 -> 8 possible
    vectors, so both sides carry heavy duplicate classes — the dictionary
    kernel's regime."""
    rng = np.random.RandomState(seed)
    probe = spark.createDataFrame(
        pd.DataFrame({
            "pid": range(n_probe),
            "features": [
                [float(v) for v in rng.randint(0, 2, width)]
                for _ in range(n_probe)
            ],
        })
    )
    build = spark.createDataFrame(
        pd.DataFrame({
            "bid": range(n_build),
            "features": [
                [float(v) for v in rng.randint(0, 2, width)]
                for _ in range(n_build)
            ],
        })
    )
    return probe, build


@pytest.mark.parametrize(
    "metric", ["manhattan", "euclidean", "cosine", "minkowski:3"]
)
def test_grouped_kernel_byte_identical_to_sql(spark, metric):
    """The dictionary kernel must reproduce the sql kernel exactly —
    same pairs, same distances, same (distance, build_id) tie-break —
    on a duplicate-heavy feature space (its production regime)."""
    probe, build = _dup_frames(spark)
    kw = dict(metric=metric, probe_id="pid", build_id="bid")
    for mode in [{"k": k} for k in (1, 3, 7)] + [
        {"radius": r} for r in (0.0, 1.0, 2.5)
    ]:
        a = (
            match_join(probe, build, impl="sql", **mode, **kw)
            .orderBy("pid", "distance", "bid").toPandas()
        )
        b = (
            match_join(probe, build, impl="grouped", **mode, **kw)
            .orderBy("pid", "distance", "bid").toPandas()
        )
        pd.testing.assert_frame_equal(
            a.reset_index(drop=True), b[a.columns].reset_index(drop=True),
            check_dtype=False,
        )
    for p in (0.1, 0.5, 1.0):
        assert percentile_radius(
            probe, build, p, impl="sql", **kw
        ) == percentile_radius(probe, build, p, impl="grouped", **kw)


def test_run_adjustment_grouped_equals_sql(spark, tiled_fixture):
    """End-to-end adjustment through the dictionary kernel (the tiled
    fixture IS a duplicate-class corpus: 3 base rows x10/x5) matches the
    sql route in all three modes. The fused class-level scatter-add sums
    per CLASS instead of per probe row, so float fields may differ by
    reduction order only (the accepted cross-engine class the fused
    numpy kernel established) — compared at rel 1e-12; everything else
    exact."""
    from consent_based_conversion_adjustments_spark.config import (
        AdjustmentConfig,
    )
    from consent_based_conversion_adjustments_spark.pipeline import (
        run_adjustment,
    )

    consent, noconsent = tiled_fixture
    for mode in (
        {"number_nearest_neighbors": 2},
        {"radius": 3.0},
        {"percentile": 0.5},
    ):
        cfg = AdjustmentConfig(
            conversion_column="conversion_column",
            id_columns=["id_column"],
            **mode,
        )
        g = run_adjustment(consent, noconsent, cfg, impl="grouped")
        s = run_adjustment(consent, noconsent, cfg, impl="sql")
        grows = sorted(map(tuple, g.data_adjusted.collect()))
        srows = sorted(map(tuple, s.data_adjusted.collect()))
        assert len(grows) == len(srows)
        for a, b in zip(grows, srows):
            for x, y in zip(a, b):
                if isinstance(x, float):
                    assert x == pytest.approx(y, rel=1e-12, abs=1e-12), (a, b)
                else:
                    assert x == y, (a, b)
        # summary + unmatched diagnostics agree exactly (set semantics)
        assert sorted(map(tuple, g.summary.collect())) == sorted(
            map(tuple, s.summary.collect())
        )
        assert sorted(
            map(tuple, g.unmatched_probes.collect())
        ) == sorted(map(tuple, s.unmatched_probes.collect()))


def test_resolve_auto_impl_prefers_grouped_on_low_cardinality(spark):
    """A beyond-grid-budget input whose distinct-vector grid is tiny must
    resolve to the dictionary kernel, not LSH (the r12 rung's 627 s
    lesson); the distinct counts are only computed past the grid check."""
    from consent_based_conversion_adjustments_spark.operators.similarity_join import (
        resolve_auto_impl,
    )

    probe = spark.range(20_000).select(
        F.col("id").alias("pid"),
        F.array((F.col("id") % 5).cast("double")).alias("features"),
    )
    build = spark.range(20_000).select(
        F.col("id").alias("bid"),
        F.array((F.col("id") % 7).cast("double")).alias("features"),
    )
    impl, n_p, n_b = resolve_auto_impl(probe, build, "features", 1)
    assert impl == "grouped"
    assert (n_p, n_b) == (20_000, 20_000)
