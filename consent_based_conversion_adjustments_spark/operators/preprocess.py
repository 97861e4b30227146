"""Preprocessing: clean → union → one-hot encode → split.

Re-expresses the reference's concat-then-encode-then-split trick
(reference: preprocess.py:81-148) — the structural guarantee that consenting
and non-consenting rows land in the *same* feature space — as
``unionByName`` → fit one encoding over the union → filter on the
``consent`` flag. The encoding itself (reference: pd.get_dummies,
preprocess.py:99-102) becomes a single ``array<double>`` features column
built from Catalyst expressions: one ``(col == value)`` indicator per
distinct categorical value plus the numeric feature columns.

Scale design: the only non-streaming step is collecting the per-column
distinct value sets (one small ``collect`` over an agg that Catalyst
executes as a partial/final ``collect_set``). The value sets are then baked
into the expression tree as literals, so ``transform`` is a pure map — no
shuffle, fully codegen'd, and safe on a 100 TB input. Cardinality guardrail:
``max_categories`` caps the literal explosion; a column past it must be
listed in ``config.drop_columns`` or bucketed by the ``feature_engineering``
hook.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..config import AdjustmentConfig

CONSENT_FLAG = "consent"


def clean_data(df: DataFrame, conversion_column: str) -> DataFrame:
    """Drop null conversions, keep strictly positive values.

    reference: preprocess.py:45-47 (P2 drop-NaN, P3 predicate filter).
    """
    return df.na.drop(subset=[conversion_column]).filter(
        F.col(conversion_column) > 0
    )


def add_consent_flag(df: DataFrame, value: int) -> DataFrame:
    """reference: preprocess.py:132-133 (P4 literal column add)."""
    return df.withColumn(CONSENT_FLAG, F.lit(value))


@dataclass(frozen=True)
class FeatureEncoder:
    """One-hot encoding fitted over the union of both sides.

    ``categories`` maps categorical column → sorted distinct values (the
    dummy dimensions); ``numeric_cols`` pass through as-is. Feature order is
    deterministic: numerics first (sorted), then each categorical column's
    values in sorted order — the analogue of pd.get_dummies' column order
    being data-independent given the same fitted value sets.
    """

    categories: dict[str, tuple]
    numeric_cols: tuple

    @property
    def feature_names(self) -> list[str]:
        names = [str(c) for c in self.numeric_cols]
        for col in self.categories:
            names.extend(f"{col}={v}" for v in self.categories[col])
        return names

    @property
    def width(self) -> int:
        return len(self.numeric_cols) + sum(
            len(v) for v in self.categories.values()
        )

    def feature_exprs(self) -> list[Column]:
        exprs: list[Column] = [
            F.col(c).cast("double") for c in self.numeric_cols
        ]
        for col, values in self.categories.items():
            for v in values:
                # eqNullSafe: a null categorical encodes as all-zeros, like
                # pd.get_dummies(dummy_na=False)
                exprs.append(
                    F.when(F.col(col).eqNullSafe(F.lit(v)), 1.0).otherwise(0.0)
                )
        return exprs

    def transform(self, df: DataFrame, output_col: str = "features") -> DataFrame:
        return df.withColumn(output_col, F.array(*self.feature_exprs()))


def fit_encoder(
    df: DataFrame,
    categorical_cols: list[str],
    numeric_cols: list[str],
    max_categories: int = 10_000,
    id_cols: list[str] | tuple = (),
) -> FeatureEncoder:
    """Collect sorted distinct values per categorical column in ONE job.

    reference: the implicit fit inside pd.get_dummies over the concatenated
    frame (preprocess.py:99-102).

    The same job counts null ids and null or NaN numeric features and
    raises ``ValueError`` naming the column, as sklearn's fit rejects NaN
    (nearest_consented_customers.py:67).
    """
    invalid = [(c, "id column", "null", F.col(c).isNull()) for c in id_cols]
    for c in numeric_cols:
        x = F.col(c).cast("double")
        invalid.append((c, "numeric feature column", "null or NaN",
                        x.isNull() | F.isnan(x)))
    categories: dict[str, tuple] = {}
    if categorical_cols or invalid:
        row = df.select(
            *[
                F.sort_array(F.collect_set(F.col(c))).alias(c)
                for c in categorical_cols
            ],
            *[F.count(F.when(v[3], 1)).alias(f"__bad{i}")
              for i, v in enumerate(invalid)],
        ).first()
        for i, (c, role, kind, _) in enumerate(invalid):
            if row[f"__bad{i}"]:
                raise ValueError(f"{role} {c!r} has {row[f'__bad{i}']} "
                                 f"{kind} value(s) — drop or fill them first")
        for c in categorical_cols:
            values = tuple(row[c])
            if len(values) > max_categories:
                raise ValueError(
                    f"column {c!r} has {len(values)} distinct values; "
                    f"exceeds max_categories={max_categories} — list it in "
                    "config.drop_columns or bucket it in the "
                    "feature_engineering hook"
                )
            categories[c] = values
    return FeatureEncoder(
        categories=categories, numeric_cols=tuple(sorted(numeric_cols))
    )


def infer_feature_columns(
    df: DataFrame, config: AdjustmentConfig
) -> tuple[list[str], list[str]]:
    """Split the frame's columns into (categorical, numeric) feature roles.

    Mirrors the reference's dtype-driven selection: every string column that
    is not an id/drop/non-dummy/date column is dummy-coded
    (reference: preprocess.py:99-100); numeric columns (minus conversion,
    ids, flags) pass through as numeric features.

    Documented deviation (FIXTURES.md F5): the reference leaves the consent
    flag and non_dummy_columns IN the feature matrix
    (nearest_consented_customers.py:68-75 drops only id + conversion), so
    all its probe-build distances carry a constant +1. Excluding them keeps
    rankings and softmax weights identical (shift-invariance) but means a
    radius tuned on the reference must be reduced by that constant.
    """
    excluded = set(
        config.id_columns
        + config.drop_columns
        + config.non_dummy_columns
        + [config.conversion_column, CONSENT_FLAG]
    )
    if config.date_column:
        excluded.add(config.date_column)
    categorical, numeric = [], []
    for f in df.schema.fields:
        if f.name in excluded:
            continue
        if f.dataType.typeName() == "string":
            categorical.append(f.name)
        else:
            numeric.append(f.name)
    return sorted(categorical), sorted(numeric)


def union_encode_split(
    consent: DataFrame,
    noconsent: DataFrame,
    config: AdjustmentConfig,
    feature_engineering: Callable[[DataFrame], DataFrame] | None = None,
    features_col: str = "features",
) -> tuple[DataFrame, DataFrame, FeatureEncoder]:
    """The full preprocessing operator chain P2-P8 + U1 + E1 + P6.

    reference: preprocess.concatenate_and_process_data (preprocess.py:108-148)
    — concat with consent flags, clean, feature-engineering hook, dummy-code
    over the union, split back on the flag. The union-length invariant U4
    (preprocess.py:136-139) is structurally guaranteed by unionByName (exact,
    no silent row loss), so we do not force an extra count() job here.

    Returns (consent_processed, noconsent_processed, encoder); both outputs
    carry id/non-dummy/conversion columns plus the ``features`` array.
    """
    df = add_consent_flag(noconsent, 0).unionByName(add_consent_flag(consent, 1))
    df = df.drop(*[c for c in config.drop_columns if c in df.columns])
    df = clean_data(df, config.conversion_column)
    if feature_engineering is not None:
        # reference: preprocess.py:52-78 (P8 hook, identity by default)
        df = feature_engineering(df)
    categorical, numeric = infer_feature_columns(df, config)
    encoder = fit_encoder(df, categorical, numeric, id_cols=config.id_columns)
    encoded = encoder.transform(df, output_col=features_col)
    consent_out = encoded.filter(F.col(CONSENT_FLAG) == 1).drop(CONSENT_FLAG)
    noconsent_out = encoded.filter(F.col(CONSENT_FLAG) == 0).drop(CONSENT_FLAG)
    return consent_out, noconsent_out, encoder


def split_adgroup_levels(
    df: DataFrame, adgroup_col: str = "adgroup", n_levels: int = 3, sep: str = "_"
) -> DataFrame:
    """Notebook feature engineering: split ``'A_B_C'`` into level columns.

    reference: cocoa_template.ipynb cell 13 (P8 variant).
    """
    parts = F.split(F.col(adgroup_col), sep)
    out = df
    for i in range(n_levels):
        out = out.withColumn(f"{adgroup_col}_level_{i}", parts.getItem(i))
    return out.drop(adgroup_col)
