"""Redistribution: softmax weighting + scatter-add aggregation (SURVEY §2.6).

The reference computes softmax(-distance) weights per probe with scipy and
scatter-adds shares onto the consent frame with a pandas ``.loc +=`` loop —
its hot spot, O(probes × k) row-wise updates
(reference: nearest_consented_customers.py:376-467). Here both collapse into
relational form over the matched-pairs DataFrame:

- weights are a numerically stable windowed softmax (explicit max
  subtraction, matching scipy.special.softmax's internal shift);
- the scatter-add is a hash aggregation ``groupBy(consent_id).agg(...)``
  followed by a left join back onto the consent rows — Catalyst runs it as
  partial/final aggregation (map-side combine), strictly better than the
  reference loop and linear-scalable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .similarity_join import DISTANCE

WEIGHT = "weight"
WEIGHTED_VALUE = "weighted_conversion_value"


def softmax_weights(
    pairs: DataFrame,
    *,
    probe_id: str = "probe_id",
    conversion_column: str = "conversion_value",
    distance_col: str = DISTANCE,
) -> DataFrame:
    """Per probe: ``w = softmax(−distance)``; ``weighted = conversion · w``.

    Weights sum to 1 per probe ⇒ each non-consenting conversion is
    distributed exactly (conservation invariant,
    reference: nearest_consented_customers_test.py:116-126). Stability: shift
    by the per-probe max of −distance before exp, exactly as
    scipy.special.softmax does (reference:
    nearest_consented_customers.py:404-406) — without it, large distances
    underflow ``exp`` to an all-zero denominator.
    """
    w = Window.partitionBy(probe_id)
    neg = -F.col(distance_col)
    shifted = F.exp(neg - F.max(neg).over(w))
    weight = shifted / F.sum(shifted).over(w)
    return pairs.withColumn(WEIGHT, weight).withColumn(
        WEIGHTED_VALUE, F.col(conversion_column) * F.col(WEIGHT)
    )


def _pair_aggs(weighted_pairs: DataFrame, build_id: str, consent_id: str):
    """Per-consent aggregates of a weighted pair frame (the scatter-add)."""
    return weighted_pairs.groupBy(F.col(build_id).alias(consent_id)).agg(
        F.sum(WEIGHTED_VALUE).alias("adjusted_conversion"),
        F.sum(DISTANCE).alias("__sum_distance"),
        F.count(F.lit(1)).alias("n_added_conversions"),
        F.sum(WEIGHT).alias("sum_distribution_weights"),
    )


def _onto_consent(
    consent: DataFrame,
    aggs: DataFrame,
    smear: float | DataFrame | None,
    *,
    consent_id: str,
    conversion_column: str,
) -> DataFrame:
    """The tail every scatter-add shares: left-join the per-consent
    aggregates (``adjusted_conversion``, ``__sum_distance``,
    ``n_added_conversions``, ``sum_distribution_weights``) onto the consent
    rows, zero-fill the unmatched, derive ``average_distance`` and add the
    naive uniform smear.

    ``smear``: a float already divided by |consent|; a 1-row
    ``__total_matched`` frame, divided by |consent| in-plan through two
    broadcast cross joins (fully lazy — no driver round-trip re-running
    the similarity join per scalar); or None for no baseline column.
    """
    out = consent.join(aggs, on=consent_id, how="left")
    out = out.fillna(
        {
            "adjusted_conversion": 0.0,
            "n_added_conversions": 0,
            "sum_distribution_weights": 0.0,
        }
    )
    out = out.withColumn(
        "average_distance",
        F.when(
            F.col("n_added_conversions") > 0,
            F.col("__sum_distance") / F.col("n_added_conversions"),
        ),
    ).drop("__sum_distance")
    if smear is None:
        return out
    if not isinstance(smear, DataFrame):
        return out.withColumn(
            "naive_adjusted_conversion",
            F.col(conversion_column) + F.lit(float(smear)),
        )
    n_consent = consent.agg(F.count(F.lit(1)).alias("__n_consent"))
    return (
        out.crossJoin(F.broadcast(smear))
        .crossJoin(F.broadcast(n_consent))
        .withColumn(
            "naive_adjusted_conversion",
            F.col(conversion_column)
            + F.col("__total_matched") / F.col("__n_consent"),
        )
        .drop("__total_matched", "__n_consent")
    )


def _total_matched(values: DataFrame, column: str) -> DataFrame:
    """1-row ``__total_matched`` frame: Σ ``column`` (0 when empty)."""
    return values.agg(
        F.coalesce(F.sum(column), F.lit(0.0)).alias("__total_matched")
    )


def scatter_add(
    consent: DataFrame,
    weighted_pairs: DataFrame,
    *,
    build_id: str = "build_id",
    consent_id: str = "consent_id",
    conversion_column: str = "conversion_value",
    total_matched_value: float | None = None,
    n_consent: int | None = None,
) -> DataFrame:
    """Distribute weighted shares onto consent rows + bookkeeping columns.

    Output columns mirror the reference exactly
    (nearest_consented_customers.py:446-466):

    - ``adjusted_conversion``      — Σ weighted shares received (0 if none;
      NOTE: the reference initialises at 0 and never adds the row's own
      conversion — kept faithful)
    - ``average_distance``         — mean distance to matched probes (null
      for unmatched rows: Spark null ≈ pandas NaN 0/0, FIXTURES.md F5)
    - ``n_added_conversions``      — number of matched probes
    - ``sum_distribution_weights`` — Σ softmax weights received
    - ``naive_adjusted_conversion``— conversion + (Σ matched probe values /
      n_consent): the uniform-smear baseline (W3)
    """
    smear = None
    if total_matched_value is not None and n_consent is not None:
        smear = total_matched_value / n_consent
    return _onto_consent(
        consent,
        _pair_aggs(weighted_pairs, build_id, consent_id),
        smear,
        consent_id=consent_id,
        conversion_column=conversion_column,
    )


def distribute_conversions(
    consent: DataFrame,
    pairs: DataFrame,
    *,
    probe_id: str = "probe_id",
    build_id: str = "build_id",
    consent_id: str = "consent_id",
    conversion_column: str = "conversion_value",
) -> DataFrame:
    """softmax_weights + scatter_add in one call (W1 + W2 + W3).

    Fully lazy: the naive-baseline scalars (Σ matched probe values,
    |consent|) are 1-row aggregates attached via broadcast cross joins, so
    the whole adjustment stays one Spark job — no driver-side ``first()`` /
    ``count()`` round-trips (which would re-trigger the similarity join
    once per scalar)."""
    weighted = softmax_weights(
        pairs, probe_id=probe_id, conversion_column=conversion_column
    )
    total_matched = _total_matched(
        weighted.select(probe_id, conversion_column).dropDuplicates([probe_id]),
        conversion_column,
    )
    return _onto_consent(
        consent,
        _pair_aggs(weighted, build_id, consent_id),
        total_matched,
        consent_id=consent_id,
        conversion_column=conversion_column,
    )


def distribute_from_class_pairs(
    consent: DataFrame,
    class_pairs: DataFrame,
    probe_classes: DataFrame,
    *,
    build_id: str = "build_id",
    consent_id: str = "consent_id",
    conversion_column: str = "conversion_value",
) -> DataFrame:
    """The dictionary kernel's fused adjust (W1+W2+W3 at CLASS
    granularity): every probe row of a feature class shares the SAME
    softmax weight distribution over build rows — w(p, b) depends only on
    (class(p), b) — so the scatter-add factors exactly:

        adjusted[b]     = Σ_c convsum_c · w(c, b)
        sum_weights[b]  = Σ_c cnt_c · w(c, b)
        n_added[b]      = Σ_{c matching b} cnt_c
        Σ distance[b]   = Σ_c cnt_c · d(c, b)

    The pair set over probe ROWS (O(n_probe · matches)) is never
    materialized: the widest frame is ``class_pairs`` (d_p × matched
    build rows — r12 rung, sf1.0 radius flagship: 321 s row-level →
    70 s through this factoring, and the growth law drops from
    quadratic-in-rows to linear in the matched frame). Same output
    schema and
    semantics as ``distribute_conversions``; the only divergence is the
    class-wise summation ORDER (the accepted cross-engine class the
    fused numpy kernel already established).

    ``class_pairs``: (class_key, build_id, distance) from
    ``knn_topk_classes`` / ``radius_classes``. ``probe_classes``:
    (class_key, __cnt, __convsum). ``class_key`` is ``__pcid`` (the
    compact dense id, ``probe_class_ids``) on the pipeline path and
    ``__pf`` (the raw vector) for ad-hoc callers.

    The per-class softmax normalizers are computed with two map-side-
    combining AGGREGATIONS broadcast back (d_p rows of state each), not
    a window: a window over the pair frame shuffles the whole frame
    into ≤ d_p partitions, and at sf1.0 that 3.17M-row shuffle (then
    still carrying the array key) swung 5.6–88 s under memory pressure
    (r13 profile). The aggs reduce map-side to d_p rows, the joins are
    broadcasts, and the only remaining shuffle is the scatter-add's own
    groupBy(build_id) — which IS the operator. Summation ORDER within a
    class changes (agg combine vs window scan) — the accepted
    class-wise divergence at 3-decimal rounding (the fused-numpy
    precedent); the driver oracles are unchanged and stay hash-green.
    """
    key = [c for c in class_pairs.columns if c in ("__pcid", "__pf")][0]
    neg = -F.col(DISTANCE)
    mx = class_pairs.groupBy(key).agg(F.max(neg).alias("__mx"))
    shifted = class_pairs.join(F.broadcast(mx), key).withColumn(
        "__sh", F.exp(neg - F.col("__mx"))
    )
    den = shifted.groupBy(key).agg(F.sum("__sh").alias("__den"))
    j = (
        shifted.join(F.broadcast(den), key)
        .withColumn(WEIGHT, F.col("__sh") / F.col("__den"))
        .join(F.broadcast(probe_classes), key)
    )
    aggs = j.groupBy(F.col(build_id).alias(consent_id)).agg(
        F.sum(F.col("__convsum") * F.col(WEIGHT)).alias(
            "adjusted_conversion"
        ),
        F.sum(F.col("__cnt") * F.col(DISTANCE)).alias("__sum_distance"),
        F.sum("__cnt").cast("long").alias("n_added_conversions"),
        F.sum(F.col("__cnt") * F.col(WEIGHT)).alias(
            "sum_distribution_weights"
        ),
    )
    total_matched = _total_matched(
        probe_classes.join(class_pairs.select(key).distinct(), key),
        "__convsum",
    )
    return _onto_consent(
        consent,
        aggs,
        total_matched,
        consent_id=consent_id,
        conversion_column=conversion_column,
    )


def distribute_from_partials(
    consent: DataFrame,
    partials: DataFrame,
    *,
    consent_id: str = "consent_id",
    conversion_column: str = "conversion_value",
) -> DataFrame:
    """Assemble the adjusted frame from fused-kernel partial aggregates
    (``similarity_join.adjust_partials_numpy``): W1+W2 already ran map-side
    inside the kernel, so the only remaining work is a final hash
    aggregation over ≤ partitions·n_build partial rows plus the left join
    back onto the consent side — no pair set, no per-probe window shuffle.
    Output schema and semantics identical to ``distribute_conversions``.
    """
    real = partials.filter(F.col(consent_id).isNotNull())
    aggs = real.groupBy(consent_id).agg(
        F.sum("adjusted_partial").alias("adjusted_conversion"),
        F.sum("sum_distance_partial").alias("__sum_distance"),
        F.sum("n_partial").alias("n_added_conversions"),
        F.sum("weight_partial").alias("sum_distribution_weights"),
    )
    return _onto_consent(
        consent,
        aggs,
        _total_matched(partials, "matched_value_partial"),
        consent_id=consent_id,
        conversion_column=conversion_column,
    )
