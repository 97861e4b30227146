"""CLI mirroring the reference pipeline's argument surface.

reference: pipeline.py:44-118 (_parse_known_args: tables, column roles,
output path) + 121-140 (RuntimeOptions: metric and exactly one of
k / radius / percentile). Beam ValueProviders become plain argparse flags;
BigQuery tables become parquet paths.

Usage:
    python -m consent_based_conversion_adjustments_spark \
        --consent-path c.parquet --noconsent-path nc.parquet \
        --conversion-column conversion_value --id-columns gclid ts \
        --date-column conversion_date --dates 2021-11-20 2021-11-21 \
        --number-nearest-neighbors 10 --output-path /tmp/out
"""

from __future__ import annotations

import argparse

from .config import AdjustmentConfig
from .pipeline import run_dates
from .session import get_spark


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="consent_based_conversion_adjustments_spark")
    p.add_argument("--consent-path", required=True)
    p.add_argument("--noconsent-path", required=True)
    p.add_argument("--output-path", required=True)
    p.add_argument("--conversion-column", required=True)
    p.add_argument("--id-columns", nargs="+", required=True)
    p.add_argument("--drop-columns", nargs="*", default=[])
    p.add_argument("--non-dummy-columns", nargs="*", default=[])
    p.add_argument("--date-column", required=True)
    p.add_argument("--dates", nargs="+", required=True)
    p.add_argument("--metric", default="manhattan")
    p.add_argument("--number-nearest-neighbors", type=float, default=None)
    p.add_argument("--radius", type=float, default=None)
    p.add_argument("--percentile", type=float, default=None)
    p.add_argument("--impl", choices=["auto", "sql", "numpy", "grouped", "lsh"], default="auto")
    return p


def main(argv: list[str] | None = None) -> None:
    args = build_parser().parse_args(argv)
    config = AdjustmentConfig(
        conversion_column=args.conversion_column,
        id_columns=args.id_columns,
        drop_columns=args.drop_columns,
        non_dummy_columns=args.non_dummy_columns,
        date_column=args.date_column,
        metric=args.metric,
        number_nearest_neighbors=args.number_nearest_neighbors,
        radius=args.radius,
        percentile=args.percentile,
    )
    spark = get_spark("cocoa-spark-cli")
    consent = spark.read.parquet(args.consent_path)
    noconsent = spark.read.parquet(args.noconsent_path)
    run_dates(
        spark, consent, noconsent, config, args.dates, args.output_path,
        impl=args.impl,
    )


if __name__ == "__main__":
    main()
