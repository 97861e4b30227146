"""Summary statistics (SURVEY.md §2.7, A1-A6).

reference: nearest_consented_customers.py:90-143 — scalar sums/counts over
the matched / non-matched probe split, derived percentages, and the 1-row
summary frame that becomes the second output CSV.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def summary_statistics(
    noconsent: DataFrame,
    matched_probe_ids: DataFrame,
    *,
    probe_id: str = "probe_id",
    conversion_column: str = "conversion_value",
) -> DataFrame:
    """1-row summary frame (A4).

    ``matched_probe_ids``: distinct probe ids that found ≥1 neighbor (from
    the matched-pairs output). Computes everything in one aggregation pass:
    a left-semi-style flag join then conditional aggregation — no per-metric
    jobs like the reference's property cascade
    (nearest_consented_customers.py:90-138). An empty ``noconsent`` gives
    0 matched conversions and 0.0 matched value, as the reference's pandas
    sums do, and empty percentages (0/0).
    """
    flagged = noconsent.join(
        matched_probe_ids.select(probe_id).distinct().withColumn(
            "__matched", F.lit(1)
        ),
        on=probe_id,
        how="left",
    )
    matched = F.col("__matched").isNotNull()
    conv = F.col(conversion_column)
    return flagged.agg(
        (
            F.sum(F.when(matched, conv).otherwise(0.0))
            / F.sum(conv)
            * 100.0
        ).alias("percentage_matched_conversion_value"),
        (
            F.sum(F.when(matched, 1).otherwise(0))
            / F.count(F.lit(1))
            * 100.0
        ).alias("percentage_matched_conversions"),
        F.coalesce(F.sum(F.when(matched, 1).otherwise(0)), F.lit(0))
        .cast("long")
        .alias("number_matched_conversions"),
        F.coalesce(F.sum(F.when(matched, conv).otherwise(0.0)), F.lit(0.0))
        .alias("total_matched_conversion_value"),
    )
