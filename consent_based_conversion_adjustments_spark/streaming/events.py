"""Event-time windowing over the events table — batch + Structured Streaming.

The reference has no true streaming (its "stream" is batch re-triggered by
Pub/Sub, SURVEY.md §2.10); this module supplies the event-time operator
family a training-data pipeline needs: tumbling / sliding / session windows
with watermarked streaming variants.

Batch and streaming share the same window expressions — ``tumbling_counts``
etc. accept either a static or a streaming DataFrame (Structured Streaming's
unified model). ``stream_events_from_parquet`` + availableNow lets tests
replay the fixture as a stream and assert stream ≡ batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.rounding import stable_round


def tumbling_counts(
    events: DataFrame, duration: str = "6 hours", ts_col: str = "ts"
) -> DataFrame:
    """Tumbling event-time windows per event_type."""
    return (
        events.groupBy(F.window(ts_col, duration).alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            stable_round(F.sum("value"), 3).alias("sum_value"),
        )
        .select(
            F.date_format("win.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sliding_counts(
    events: DataFrame,
    duration: str = "6 hours",
    slide: str = "3 hours",
    ts_col: str = "ts",
) -> DataFrame:
    """Sliding windows (each event lands in duration/slide windows)."""
    return (
        events.groupBy(F.window(ts_col, duration, slide).alias("win"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.date_format("win.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "n_events",
        )
    )


def _epoch_secs(c) -> F.Column:
    """Epoch seconds for any timestamp flavor. The events fixture reads as
    TIMESTAMP_NTZ (parquet NANOS under nanosAsLong resolves to NTZ in
    Spark 4.1), and NTZ → DOUBLE is an illegal cast — so go through
    TIMESTAMP_LTZ + ``unix_micros`` (always legal). The NTZ→LTZ cast
    interprets wall-clock in the session tz; callers only use differences,
    where any fixed offset cancels."""
    return F.unix_micros(F.col(c).cast("timestamp_ltz")) / F.lit(1e6)


def session_stats(
    events: DataFrame, gap: str = "1 hour", ts_col: str = "ts"
) -> DataFrame:
    """Per-user session windows (gap-based). A new session starts when the
    inter-event gap is ≥ ``gap`` — matching ``F.session_window``'s
    half-open [start, last+gap) semantics, and expressed relationally
    (lag + running sum of session-break flags) so the exact same
    gaps-and-islands SQL runs on DuckDB as the oracle."""
    gap_secs = _parse_gap_seconds(gap)
    w_user = Window.partitionBy("user_id").orderBy(F.col(ts_col).asc())
    flagged = events.withColumn(
        "__secs", _epoch_secs(ts_col)
    ).withColumn(
        "__new_session",
        F.when(
            F.col("__secs") - F.lag("__secs").over(w_user) >= gap_secs,
            1,
        ).otherwise(0),
    ).withColumn(
        "__session_no",
        F.sum("__new_session").over(
            w_user.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return (
        flagged.groupBy("user_id", "__session_no")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.date_format(F.min(ts_col), "yyyy-MM-dd HH:mm:ss").alias(
                "session_start"
            ),
            stable_round(
                F.max("__secs") - F.min("__secs"),
                3,
            ).alias("duration_secs"),
        )
        .select("user_id", "session_start", "n_events", "duration_secs")
    )


def session_window_stats(
    events: DataFrame, gap: str = "1 hour", ts_col: str = "ts"
) -> DataFrame:
    """The same sessionization via the built-in ``session_window`` operator
    (the streaming-capable formulation; state-store-backed under
    writeStream)."""
    return (
        events.groupBy("user_id", F.session_window(ts_col, gap).alias("win"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.date_format("win.start", "yyyy-MM-dd HH:mm:ss").alias(
                "session_start"
            ),
            "n_events",
        )
    )


def dedup_stream(
    events: DataFrame, id_cols: tuple[str, ...] = ("event_id",)
) -> DataFrame:
    """Streaming exactly-once ingestion dedup: drops re-deliveries of the
    same event id arriving within the watermark delay.

    ``dropDuplicatesWithinWatermark`` keys state on ``id_cols`` and —
    unlike plain ``dropDuplicates`` on a stream — expires state once the
    watermark passes, so memory is bounded by the delivery-delay window
    rather than the full stream history. The input must already carry a
    watermark (``stream_events_from_parquet`` does)."""
    return events.dropDuplicatesWithinWatermark(list(id_cols))


def interval_bin_join(
    events: DataFrame,
    intervals: DataFrame,
    ts_col: str = "ts",
    start_col: str = "start",
    end_col: str = "end",
    bin_seconds: int = 6 * 3600,
) -> DataFrame:
    """Range (interval-containment) join via time binning — the scale-safe
    composition for an operator Spark lacks natively.

    Matches each event to every interval with ``start <= ts < end``.
    A naive inequality join degenerates to BroadcastNestedLoopJoin (all
    pairs); instead, intervals explode to the coarse time bins they cover
    and events map to their single bin, so the match is one equi-join on
    the bin key + an exact containment filter. Each event owns exactly one
    bin, so a (event, interval) pair can only meet once — no dedup pass.

    Cost: |events| + Σ interval_spans/bin rows through one well-distributed
    equi-join; pick ``bin_seconds`` near the median interval length so most
    intervals explode to 1–2 bins. Works at any interval count (broadcast
    is never assumed), and AQE's skew-join splitting handles a hot bin.

    Bin math is exact integer microseconds (decimal floor-division, no
    binary floats): the exclusive end uses ``end_micros - 1``, so an
    interval ending exactly on a bin boundary never covers that bin and an
    event sitting exactly on the boundary of the previous bin still meets
    its interval — float epoch-seconds minus an epsilon could double-round
    the end bin one too low and drop that match.
    """
    bin_us = int(bin_seconds) * 1_000_000

    def _us(c: str):
        return F.unix_micros(F.col(c).cast("timestamp_ltz"))

    def _bin_of(us):
        # floor division via decimal: exact at any epoch value, correct
        # (floor, not truncation) for pre-1970 negatives too
        return F.floor(us.cast("decimal(20,0)") / F.lit(bin_us)).cast("long")

    ev_bin = events.withColumn("__bin", _bin_of(_us(ts_col)))
    iv_bin = intervals.withColumn(
        "__bin",
        F.explode(
            F.sequence(
                _bin_of(_us(start_col)),
                _bin_of(_us(end_col) - F.lit(1)),
            )
        ),
    )
    return (
        ev_bin.join(iv_bin, "__bin")
        .filter(
            (F.col(ts_col) >= F.col(start_col))
            & (F.col(ts_col) < F.col(end_col))
        )
        .drop("__bin")
    )


def interval_overlap_pairs(
    df: DataFrame,
    id_col: str,
    start_col: str,
    end_col: str,
    bin_size: int,
    keys: list[str] | None = None,
) -> DataFrame:
    """Interval-interval overlap self-join: all pairs of half-open
    integer intervals ``[start, end)`` with a non-empty intersection
    (``id_a < id_b``), plus the overlap length — the temporal-conflict /
    concurrency primitive (double bookings, concurrent orders,
    co-occurring sessions) that a naive inequality join plans as a
    quadratic nested loop.

    ``start_col``/``end_col`` must be INTEGER units (days, seconds,
    micros — caller's choice); integer bin math keeps every boundary
    case exact, mirroring ``interval_bin_join``. ``keys`` (optional)
    scopes overlaps within a partition key (e.g. per customer).

    Scale shape: both sides explode to the ``bin_size``-wide bins they
    cover, candidates come from ONE equi-join on (keys…, bin), and a
    pair is emitted EXACTLY ONCE without any distinct pass via bin
    ownership: only the bin containing ``max(start_a, start_b)`` counts
    the pair — overlap guarantees both intervals cover that bin (for
    half-open intervals, ``max(start) <= min(end) - 1``), and it is
    unique per pair. Pick ``bin_size`` near the median interval length
    so most intervals explode to 1–2 bins; AQE skew-join splitting
    handles a hot bin.
    """
    keys = list(keys or [])
    s, e = F.col("__s"), F.col("__e")
    base = df.select(
        *keys,
        F.col(id_col).alias("__id"),
        F.col(start_col).cast("long").alias("__s"),
        F.col(end_col).cast("long").alias("__e"),
    ).filter(s < e)
    binned = base.withColumn(
        "__bin",
        F.explode(
            F.sequence(
                F.floor(s / F.lit(bin_size)).cast("long"),
                F.floor((e - 1) / F.lit(bin_size)).cast("long"),
            )
        ),
    )
    a = binned.select(
        *keys,
        F.col("__id").alias("__id_a"),
        F.col("__s").alias("__s_a"),
        F.col("__e").alias("__e_a"),
        "__bin",
    )
    b = binned.select(
        *keys,
        F.col("__id").alias("__id_b"),
        F.col("__s").alias("__s_b"),
        F.col("__e").alias("__e_b"),
        "__bin",
    )
    own = F.floor(
        F.greatest("__s_a", "__s_b") / F.lit(bin_size)
    ).cast("long")
    return (
        a.join(b, [*keys, "__bin"])
        .filter(
            (F.col("__id_a") < F.col("__id_b"))
            & (F.col("__s_a") < F.col("__e_b"))
            & (F.col("__s_b") < F.col("__e_a"))
            & (F.col("__bin") == own)
        )
        .select(
            *keys,
            F.col("__id_a").alias(f"{id_col}_a"),
            F.col("__id_b").alias(f"{id_col}_b"),
            (
                F.least("__e_a", "__e_b") - F.greatest("__s_a", "__s_b")
            ).alias("overlap"),
        )
    )


def _parse_gap_seconds(gap: str) -> float:
    qty, unit = gap.split()
    mult = {"second": 1, "seconds": 1, "minute": 60, "minutes": 60,
            "hour": 3600, "hours": 3600}[unit]
    return float(qty) * mult


def stream_events_from_parquet(
    spark: SparkSession, sf_dir: str, ts_col: str = "ts", watermark: str | None = "1 day"
) -> DataFrame:
    """Replay the events fixture as a file-source stream (for tests /
    availableNow batch-equivalence runs), watermarked for state cleanup.
    ``watermark=None`` skips the watermark so callers that project/rename
    first can set their own (Spark disallows redefining one)."""
    static = spark.read.parquet(f"{sf_dir}/events.parquet")
    stream = (
        spark.readStream.schema(static.schema)
        .option("maxFilesPerTrigger", 1)
        # file-stream source wants a directory; select only the events file
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    if dict(stream.dtypes).get(ts_col) == "bigint":
        stream = stream.withColumn(
            ts_col, F.timestamp_micros(F.expr(f"{ts_col} div 1000"))
        )
    elif dict(stream.dtypes).get(ts_col) == "timestamp_ntz":
        # withWatermark requires TIMESTAMP_LTZ; session tz is UTC, so the
        # cast keeps window boundaries identical to the batch NTZ plan.
        stream = stream.withColumn(ts_col, F.col(ts_col).cast("timestamp_ltz"))
    if watermark is None:
        return stream
    return stream.withWatermark(ts_col, watermark)
