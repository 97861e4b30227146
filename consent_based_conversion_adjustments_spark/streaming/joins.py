"""Stream-stream time-bounded joins (Structured Streaming state-store
joins).

The other streaming modules run their logic inside ``foreachBatch``
bodies (scd2, admission, covariance) — per-batch relational code against
a persisted store. A stream-STREAM join is different in kind: the engine
itself keeps both sides' recent rows in the state store and emits a
match whenever either side's row arrives, with the time-range condition
+ watermarks bounding how much state is retained. That is the right tool
when BOTH inputs are unbounded and the pairing window is short relative
to the streams (click→purchase conversion pairing, impression→click
dedup windows, request→response latency stitching).

Scale notes: state per key is bounded by (watermark + range bound) ×
arrival rate — the watermark is load-bearing, not decorative: without it
the join must keep every row forever. The join itself shuffles both
sides on the key like any equi-join; the range condition is evaluated
in-state, never as a nested loop over history.
"""

from __future__ import annotations

import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .events import stream_events_from_parquet
from ..session import scratch_dir


def click_purchase_pairs_streaming(
    spark: SparkSession,
    sf_dir: str,
    max_delay_seconds: int = 3600,
    watermark: str = "2 hours",
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Run the REAL streaming engine over the events fixture: two
    readStream legs off the same file source (clicks / purchases), a
    watermarked time-bounded stream-stream join, availableNow trigger
    into a memory sink — then the materialized pairs are returned as a
    batch frame for the oracle.

    Determinism bound: with availableNow over a multi-file source the
    engine MAY split the input into several micro-batches, and a row
    arriving behind the advanced global watermark can be dropped (or
    find the other side's state already evicted). The joined row set
    therefore equals the batch range-join oracle only while cross-
    micro-batch event-time DISORDER stays within ``watermark`` — the
    default 2h covers the events fixture, whose files are written in
    rough time order with far less than 2h of inter-file skew; widen
    the watermark (more retained state) for wilder sources.

    ``checkpoint_dir``: caller-provided checkpoint location (pytest's
    tmp_path); when None a temp dir is created and REMOVED after the
    run completes, so repeated invocations don't accumulate dirs.

    Output: (user_id, click_id, purchase_id, micros_between), exact
    integer microsecond gaps, ordered.
    """

    def leg(event_type: str, prefix: str) -> DataFrame:
        s = stream_events_from_parquet(spark, sf_dir, ts_col="ts", watermark=None)
        return (
            s.filter(F.col("event_type") == event_type)
            .select(
                F.col("user_id").alias(f"{prefix}_user"),
                F.col("event_id").alias(f"{prefix}_id"),
                F.col("ts").alias(f"{prefix}_ts"),
            )
            .withWatermark(f"{prefix}_ts", watermark)
        )

    clicks = leg("click", "click")
    purchases = leg("purchase", "purchase")
    joined = purchases.join(
        clicks,
        (purchases["purchase_user"] == clicks["click_user"])
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("click_ts")
            + F.expr(f"interval {max_delay_seconds} seconds")
        ),
    )
    name = f"ss_click_purchase_{uuid.uuid4().hex[:12]}"
    owns_ckpt = checkpoint_dir is None
    ckpt = checkpoint_dir or scratch_dir("cocoa_ss_join_ckpt_")
    q = (
        joined.select(
            F.col("purchase_user").alias("user_id"),
            F.col("click_id"),
            F.col("purchase_id"),
            (
                F.unix_micros(F.col("purchase_ts").cast("timestamp_ltz"))
                - F.unix_micros(F.col("click_ts").cast("timestamp_ltz"))
            ).alias("micros_between"),
        )
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(600)
    finally:
        if owns_ckpt:
            shutil.rmtree(ckpt, ignore_errors=True)
    return (
        spark.table(name)
        .localCheckpoint()
        .orderBy("user_id", "click_id", "purchase_id")
    )
