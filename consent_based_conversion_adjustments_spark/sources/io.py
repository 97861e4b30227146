"""Scans and sinks (SURVEY.md §2.1, S1-S5 + A7-A8).

The reference reads BigQuery with hand-written date predicates and writes
per-date CSVs to GCS (reference: pipeline.py:143-153, 265-295). Here every
scan is a Parquet (or text/CSV) DataFrame read whose filters Catalyst pushes
into the scan — ``.explain`` shows ``PushedFilters: [GreaterThanOrEqual(...)]``
— and partition pruning is free when the data is laid out
``partitionBy(date)``.
"""

from __future__ import annotations

import datetime

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        # events.parquet stores TIMESTAMP(NANOS), which vanilla Spark rejects
        # at schema resolution (PARQUET_TYPE_ILLEGAL). The conf is
        # runtime-settable, so set it here instead of relying on the session
        # builder — read_table must work under any caller-provided session.
        # Spark 4.1 resolves the column to timestamp_ntz under this conf
        # (micros precision, matching DuckDB's naive TIMESTAMP
        # tz-independently); older behavior surfaced a bigint, handled below.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # TIMESTAMP(NANOS) read via nanosAsLong → truncate to micros
        # (integer div — the values exceed 2^53, float division would drift)
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def parallelize_scan(df: DataFrame, min_parallelism: int | None = None) -> DataFrame:
    """Scale-adaptive floor on partition count for heavy per-row compute.

    A single-row-group parquet file is unsplittable, so its scan is ONE
    task no matter the cluster width — and when the stage above it does
    real per-row work (tokenize + hash every document, the multi-distinct
    Expand of a table profile), that one task serializes the whole stage
    (guide §2.5's input-skew case: repartition immediately after the
    read). Measured at sf0.1: the orders profile spent 5.0 s of its 6.5 s
    in the one scan task.

    The gate keeps this a no-op at scale: a frame whose scan already has
    ≥ ``spark.default.parallelism`` partitions (any real-scale table —
    100 TB at 128 MB splits is ~800k partitions) passes through
    untouched, so the round-robin exchange exists only in the regime
    where its input is by construction at most a few row groups. Callers
    apply it where the downstream compute is heavy, never blanket — the
    exchange would otherwise just tax scan-light queries.

    Caveats (ADVICE r13): ``df.rdd.getNumPartitions()`` forces physical
    planning of ``df`` per call, and under AQE it reflects the
    NON-adaptive plan, so the count can differ from what would actually
    execute — acceptable here because call sites pass freshly-read scans
    (planning is cheap, and a scan's partitioning is not
    AQE-re-planned). The round-robin repartition also reorders rows, so
    float aggregations above it see a different reduction order — every
    current caller funnels results through ``stable_round`` before
    comparison, which absorbs that."""
    sc = df.sparkSession.sparkContext
    target = min_parallelism or sc.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def scan_between_dates(
    df: DataFrame,
    date_column: str,
    start: str | datetime.date,
    end: str | datetime.date,
) -> DataFrame:
    """S2: ``WHERE date >= start AND date < end`` — pushed to the scan.

    The reference's ``ORDER BY date`` (pipeline.py:148-152) is dropped: kNN
    matching is order-insensitive (SURVEY.md §2.1 S2).
    """
    c = F.col(date_column)
    return df.filter((c >= F.lit(str(start))) & (c < F.lit(str(end))))


def max_date(df: DataFrame, date_column: str) -> str:
    """S3/A7: formatted MAX(date) — drives the trigger window.

    reference: cloud_function/main.py:124-134.
    """
    row = df.agg(
        F.date_format(F.max(F.col(date_column)), "yyyy-MM-dd").alias("max_date")
    ).first()
    return row["max_date"]


def date_sequence(
    spark: SparkSession, end_date: str, lookback_days: int
) -> DataFrame:
    """A8: the trigger's lookback window of dates, as a DataFrame.

    reference: cloud_function/main.py:103-121.
    """
    return spark.range(1).select(
        F.explode(
            F.sequence(
                F.date_sub(F.to_date(F.lit(end_date)), lookback_days - 1),
                F.to_date(F.lit(end_date)),
            )
        ).alias("date")
    )


def read_csv(
    spark: SparkSession, path: str, schema=None, header: bool = True
) -> DataFrame:
    """CSV source (round-trips the engine's own S4 sink output). Explicit
    schema preferred at scale — inference triggers an extra pass."""
    reader = spark.read.option("header", header)
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", True)
    return reader.csv(path)


def write_adjustments_csv(
    data_adjusted: DataFrame,
    summary: DataFrame,
    base_path: str,
    date: str,
    single_file: bool = True,
) -> None:
    """S4: per-date two-file layout ``<base>/<date>/adjustments_{data,summary}``.

    reference: pipeline.py:265-295. ``single_file`` reproduces the
    reference's one-CSV-per-date blob via ``coalesce(1)`` — at cluster scale
    leave it False and let each partition write its own part file.
    """
    data_out = data_adjusted.coalesce(1) if single_file else data_adjusted
    data_out.write.mode("overwrite").option("header", True).csv(
        f"{base_path}/{date}/adjustments_data"
    )
    summary.coalesce(1).write.mode("overwrite").option("header", True).csv(
        f"{base_path}/{date}/adjustments_summary"
    )
