"""Preprocessing invariants (reference: preprocess_test.py)."""

import pyspark.sql.functions as F
import pytest

from consent_based_conversion_adjustments_spark.config import AdjustmentConfig
from consent_based_conversion_adjustments_spark.operators.preprocess import (
    clean_data,
    fit_encoder,
    split_adgroup_levels,
    union_encode_split,
)


CFG = AdjustmentConfig(
    conversion_column="conversion_column",
    id_columns=["id_column"],
    number_nearest_neighbors=1,
)


def test_clean_drops_nulls_and_nonpositive(spark):
    df = spark.createDataFrame(
        [(1, 5.0), (2, None), (3, 0.0), (4, -2.0), (5, 1.0)],
        ["id", "conversion"],
    )
    out = clean_data(df, "conversion")
    vals = sorted(r["id"] for r in out.collect())
    assert vals == [1, 5]
    # positivity invariant (reference: preprocess_test.py:60-69)
    assert out.filter(F.col("conversion") <= 0).count() == 0


def test_dummy_width_shape_law(spark, tiled_fixture):
    """width = n_numeric + Σ nunique (the reference's shape law
    base + Σ(nunique−1) + 1 counts replaced source columns;
    preprocess_test.py:45-58)."""
    consent, noconsent = tiled_fixture
    c, nc, enc = union_encode_split(consent, noconsent, CFG)
    # numeric: a, b; categorical: product_level with 2 distinct values
    assert enc.width == 2 + 2
    assert enc.feature_names == ["a", "b", "product_level=1_1", "product_level=2_2"]
    row = c.select("features").first()
    assert len(row["features"]) == enc.width


def test_encode_over_union_aligns_dimensions(spark):
    """Values present on only one side still get a dimension on both —
    the concat-then-encode-then-split trick (preprocess.py:132-147)."""
    consent = spark.createDataFrame(
        [(1, "x", 1.0)], ["id_column", "cat", "conversion_column"]
    )
    noconsent = spark.createDataFrame(
        [(2, "y", 2.0)], ["id_column", "cat", "conversion_column"]
    )
    c, nc, enc = union_encode_split(consent, noconsent, CFG)
    assert enc.feature_names == ["cat=x", "cat=y"]
    assert c.first()["features"] == [1.0, 0.0]
    assert nc.first()["features"] == [0.0, 1.0]
    # schema equality between sides (V2)
    assert c.schema == nc.schema


def test_null_categorical_encodes_all_zeros(spark):
    df = spark.createDataFrame([("x",), (None,)], ["cat"])
    enc = fit_encoder(df, ["cat"], [])
    rows = enc.transform(df).orderBy(F.col("cat").asc_nulls_last()).collect()
    assert rows[0]["features"] == [1.0]
    assert rows[1]["features"] == [0.0]


def test_non_dummy_columns_pass_through(spark):
    cfg = AdjustmentConfig(
        conversion_column="conversion_column",
        id_columns=["id_column"],
        non_dummy_columns=["keep_raw"],
        number_nearest_neighbors=1,
    )
    consent = spark.createDataFrame(
        [(1, "x", "opaque", 1.0)],
        ["id_column", "cat", "keep_raw", "conversion_column"],
    )
    noconsent = spark.createDataFrame(
        [(2, "x", "opaque2", 2.0)],
        ["id_column", "cat", "keep_raw", "conversion_column"],
    )
    c, _, enc = union_encode_split(consent, noconsent, cfg)
    assert enc.feature_names == ["cat=x"]
    assert "keep_raw" in c.columns


def test_drop_columns_removed(spark):
    cfg = AdjustmentConfig(
        conversion_column="conversion_column",
        id_columns=["id_column"],
        drop_columns=["junk"],
        number_nearest_neighbors=1,
    )
    consent = spark.createDataFrame(
        [(1, "x", "j", 1.0)], ["id_column", "cat", "junk", "conversion_column"]
    )
    noconsent = spark.createDataFrame(
        [(2, "x", "j", 2.0)], ["id_column", "cat", "junk", "conversion_column"]
    )
    c, _, enc = union_encode_split(consent, noconsent, cfg)
    assert "junk" not in c.columns
    assert enc.feature_names == ["cat=x"]


def test_split_adgroup_levels(spark):
    df = spark.createDataFrame([("A_B_C",)], ["adgroup"])
    out = split_adgroup_levels(df)
    row = out.first()
    assert (
        row["adgroup_level_0"],
        row["adgroup_level_1"],
        row["adgroup_level_2"],
    ) == ("A", "B", "C")
    assert "adgroup" not in out.columns


def test_high_cardinality_guardrail(spark):
    df = spark.createDataFrame([(str(i),) for i in range(50)], ["cat"])
    with pytest.raises(ValueError, match="max_categories.*drop_columns"):
        fit_encoder(df, ["cat"], [], max_categories=10)
