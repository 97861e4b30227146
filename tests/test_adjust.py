"""Redistribution invariants 1-4 + golden end-to-end values.

reference: nearest_consented_customers_test.py:79-193, pipeline_test.py:101-146.
"""

import math

import pandas as pd

import pyspark.sql.functions as F
import pytest

from consent_based_conversion_adjustments_spark.config import AdjustmentConfig
from consent_based_conversion_adjustments_spark.operators.adjust import (
    softmax_weights,
)
from consent_based_conversion_adjustments_spark.pipeline import run_adjustment


CFG_K1 = AdjustmentConfig(
    conversion_column="conversion_column",
    id_columns=["id_column"],
    number_nearest_neighbors=1,
)


def _pipeline_fixture(spark, multi=False):
    """reference: pipeline_test.py:28-57 (FIXTURES.md F2)."""
    noconsent = spark.createDataFrame(
        [("21", "2021-11-21 12:34:56 UTC", 20.0, "dress")],
        ["gclid", "conversion_timestamp", "conversion_value", "conversion_item"],
    )
    consent_rows = [("1", "2021-11-20 12:34:56 UTC", 10.0, "dress")]
    if multi:
        consent_rows.append(("2", "2021-11-20 13:34:56 UTC", 10.0, "dress"))
    consent = spark.createDataFrame(consent_rows, noconsent.columns)
    return consent, noconsent


def _cfg(k):
    return AdjustmentConfig(
        conversion_column="conversion_value",
        id_columns=["gclid", "conversion_timestamp"],
        number_nearest_neighbors=k,
    )


@pytest.mark.parametrize("impl", ["sql", "numpy"])
def test_golden_k1_single_candidate_absorbs_full_value(spark, impl):
    """k=1, one consenting candidate → it absorbs the full 20.0
    (reference: pipeline_test.py:101-124)."""
    consent, noconsent = _pipeline_fixture(spark, multi=False)
    result = run_adjustment(consent, noconsent, _cfg(1), impl=impl)
    row = result.data_adjusted.first()
    assert row["gclid"] == "1"
    assert row["adjusted_conversion"] == pytest.approx(20.0)
    assert row["n_added_conversions"] == 1
    assert row["sum_distribution_weights"] == pytest.approx(1.0)
    summary = result.summary.first()
    assert summary["percentage_matched_conversion_value"] == pytest.approx(100.0)
    assert summary["total_matched_conversion_value"] == pytest.approx(20.0)


@pytest.mark.parametrize("impl", ["sql", "numpy"])
def test_golden_k2_equidistant_split_evenly(spark, impl):
    """k=2 over two equidistant candidates → 10.0 each
    (reference: pipeline_test.py:126-146)."""
    consent, noconsent = _pipeline_fixture(spark, multi=True)
    result = run_adjustment(consent, noconsent, _cfg(2), impl=impl)
    rows = {r["gclid"]: r for r in result.data_adjusted.collect()}
    assert rows["1"]["adjusted_conversion"] == pytest.approx(10.0)
    assert rows["2"]["adjusted_conversion"] == pytest.approx(10.0)
    assert rows["1"]["sum_distribution_weights"] == pytest.approx(0.5)


def test_conservation_upper_bound_rows_monotonicity(spark, tiled_fixture):
    """Invariants 1-4 (reference: nearest_consented_customers_test.py:79-193)."""
    consent, noconsent = tiled_fixture
    cfg = AdjustmentConfig(
        conversion_column="conversion_column",
        id_columns=["id_column"],
        number_nearest_neighbors=3,
    )
    result = run_adjustment(consent, noconsent, cfg)
    adjusted = result.data_adjusted.toPandas()
    # 3: row preservation
    assert len(adjusted) == consent.count()
    total_added = adjusted["adjusted_conversion"].sum()
    total_noconsent = 6.0 * 5 + 9.0 * 5 + 12.0 * 5
    # 1+2: conservation — all probes matched (kNN always matches), so the
    # scattered total equals the noconsent total exactly
    assert total_added == pytest.approx(total_noconsent, rel=1e-9)
    # 4: monotonicity — adjusted totals exceed original when matches exist
    assert (adjusted["adjusted_conversion"] + adjusted["conversion_column"]).sum() > adjusted[
        "conversion_column"
    ].sum()
    # per-probe conservation: each probe's shares sum to its conversion value
    pairs = softmax_weights(
        result.matched_pairs,
        probe_id="__probe_row_id",
        conversion_column="conversion_column",
    )
    per_probe = (
        pairs.groupBy("__probe_row_id")
        .agg(
            F.sum("weighted_conversion_value").alias("s"),
            F.first("conversion_column").alias("v"),
        )
        .collect()
    )
    for r in per_probe:
        assert r["s"] == pytest.approx(r["v"], rel=1e-9)


def test_unmatched_consent_rows_have_null_average_distance(spark):
    """FIXTURES.md F5: pandas NaN (0/0) ↔ Spark null for unmatched rows."""
    consent = spark.createDataFrame(
        [(1, "x", 5.0), (2, "zzz", 5.0)], ["id_column", "cat", "conversion_column"]
    )
    noconsent = spark.createDataFrame(
        [(3, "x", 7.0)], ["id_column", "cat", "conversion_column"]
    )
    cfg = AdjustmentConfig(
        conversion_column="conversion_column",
        id_columns=["id_column"],
        number_nearest_neighbors=1,
    )
    result = run_adjustment(consent, noconsent, cfg)
    rows = {r["id_column"]: r for r in result.data_adjusted.collect()}
    assert rows[1]["adjusted_conversion"] == pytest.approx(7.0)
    assert rows[1]["average_distance"] == pytest.approx(0.0)
    assert rows[2]["adjusted_conversion"] == 0.0
    assert rows[2]["average_distance"] is None
    assert rows[2]["n_added_conversions"] == 0


def test_softmax_numerical_stability_large_distances(spark):
    """Without max-subtraction exp(-1000) underflows to an all-zero
    denominator (reference delegates to scipy; SURVEY.md §4)."""
    pairs = spark.createDataFrame(
        [(1, 10, 1000.0, 5.0), (1, 11, 1001.0, 5.0)],
        ["probe_id", "build_id", "distance", "conversion_value"],
    )
    out = softmax_weights(pairs).collect()
    w = {r["build_id"]: r["weight"] for r in out}
    assert not math.isnan(w[10])
    assert w[10] + w[11] == pytest.approx(1.0)
    assert w[10] > w[11]


def test_naive_adjustment_uniform_smear(spark, tiled_fixture):
    """W3: naive = conversion + Σ matched noconsent / n_consent
    (reference: nearest_consented_customers.py:463-466)."""
    consent, noconsent = tiled_fixture
    cfg = AdjustmentConfig(
        conversion_column="conversion_column",
        id_columns=["id_column"],
        number_nearest_neighbors=2,
    )
    adjusted = run_adjustment(consent, noconsent, cfg).data_adjusted.toPandas()
    smear = (6.0 * 5 + 9.0 * 5 + 12.0 * 5) / 30
    expected = adjusted["conversion_column"] + smear
    assert (adjusted["naive_adjusted_conversion"] - expected).abs().max() < 1e-9


def test_unmatched_probe_diagnostics(spark, tiled_fixture):
    """Radius-join no-match surface (reference logs 'No matching customers
    within radius_value', nearest_consented_customers.py:178-179): probes
    outside the radius appear in unmatched_probes, matched ones do not,
    and the counts partition the probe side."""
    consent, noconsent = tiled_fixture
    cfg = AdjustmentConfig(
        conversion_column="conversion_column",
        id_columns=["id_column"],
        radius=2.0,
    )
    result = run_adjustment(consent, noconsent, cfg)
    n_probe = noconsent.count()
    matched = {
        r["__probe_row_id"]
        for r in result.matched_pairs.select("__probe_row_id").distinct().collect()
    }
    unmatched = {
        r["__probe_row_id"] for r in result.unmatched_probes.collect()
    }
    assert matched.isdisjoint(unmatched)
    assert len(matched) + len(unmatched) == n_probe
    assert len(unmatched) > 0  # the tiled fixture has out-of-radius probes
    # kNN mode matches every probe → empty diagnostic
    knn = run_adjustment(consent, noconsent, CFG_K1)
    assert knn.unmatched_probes.count() == 0


def test_duplicate_id_check(spark, tiled_fixture):
    consent, noconsent = tiled_fixture
    dup_consent = consent.union(consent.limit(1))
    cfg = AdjustmentConfig(
        conversion_column="conversion_column",
        id_columns=["id_column"],
        number_nearest_neighbors=1,
    )
    with pytest.raises(ValueError, match="not unique on the build side"):
        run_adjustment(dup_consent, noconsent, cfg, check_id_uniqueness=True)
    # clean ids pass the check
    run_adjustment(consent, noconsent, cfg, check_id_uniqueness=True)


@pytest.mark.parametrize(
    "mode",
    [
        {"number_nearest_neighbors": 3},
        {"number_nearest_neighbors": 12},
        {"radius": 2.0},
        {"percentile": 0.9},
    ],
)
def test_fused_numpy_adjust_matches_sql(spark, mode):
    """The fused kernel path (adjust_partials_numpy → distribute_from_partials)
    must reproduce the relational sql path's adjusted frame on the sf0.001
    customer split — every bookkeeping column, to 9 decimals (the softmax
    runs in numpy instead of Catalyst `exp`, so agreement is up to float
    reassociation, far inside round-9)."""
    from consent_based_conversion_adjustments_spark.plans.cocoa_queries import (
        consent_split,
    )

    consent, noconsent = consent_split(spark, "/root/testdata/sf0.001")
    cfg = AdjustmentConfig(
        conversion_column="c_acctbal", id_columns=["c_custkey"], **mode
    )
    cols = [
        "adjusted_conversion",
        "average_distance",
        "n_added_conversions",
        "sum_distribution_weights",
        "naive_adjusted_conversion",
    ]

    def frame(impl):
        out = run_adjustment(consent, noconsent, cfg, impl=impl).data_adjusted
        pdf = out.select("c_custkey", *cols).toPandas()
        return pdf.set_index("c_custkey").sort_index()

    a, b = frame("sql"), frame("numpy")
    # clean_data drops non-positive conversions, so < consent.count()
    assert len(a) == len(b) > 0
    assert list(a.index) == list(b.index)
    for c in cols:
        av, bv = a[c].to_numpy(dtype=float), b[c].to_numpy(dtype=float)
        both_nan = pd.isna(a[c]) & pd.isna(b[c])
        close = abs(av - bv) <= 1e-9 * (1.0 + abs(av))
        assert (both_nan | close).all(), c
