"""Driver-testdata castings of every CoCoA operator, with DuckDB oracles.

FIXTURES.md F4: the customer table split ~80/20 on ``c_custkey % 5`` plays
the consent/no-consent roles; features are the one-hot of c_mktsegment +
c_nationkey-as-categorical; conversion value is c_acctbal.

The oracle SQL re-derives the one-hot L1 distance in closed form: for pure
categorical one-hot blocks, Σ|a_i − b_i| = 2 · #(differing columns) — which
keeps the DuckDB twin free of the pivot machinery while checking the exact
same semantics (including ties, softmax weights, and scatter-add totals).
All distances are integer-valued, so top-k selection and tie-breaks are
float-exact across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import AdjustmentConfig
from ..functions.rounding import sql_round, stable_round
from ..operators.preprocess import CONSENT_FLAG, add_consent_flag, clean_data
from ..pipeline import PROBE_ID, CONSENT_ID, run_adjustment
from ..sources.io import date_sequence, max_date, read_table

FLAGSHIP_K = 5
RADIUS = 2.0
PERCENTILE = 0.9


def consent_split(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    customer = read_table(spark, sf_dir, "customer").select(
        "c_custkey",
        F.col("c_acctbal").cast("double").alias("c_acctbal"),
        "c_mktsegment",
        F.col("c_nationkey").cast("string").alias("c_nation_cat"),
    )
    consent = customer.filter(F.col("c_custkey") % 5 != 0)
    noconsent = customer.filter(F.col("c_custkey") % 5 == 0)
    return consent, noconsent


def _config(**mode) -> AdjustmentConfig:
    return AdjustmentConfig(
        conversion_column="c_acctbal", id_columns=["c_custkey"], **mode
    )


def _round_adjusted(df: DataFrame) -> DataFrame:
    return df.select(
        "c_custkey",
        stable_round("c_acctbal", 3).alias("c_acctbal"),
        stable_round("adjusted_conversion", 3).alias("adjusted_conversion"),
        stable_round("average_distance", 3).alias("average_distance"),
        F.col("n_added_conversions").cast("long").alias("n_added_conversions"),
        stable_round("sum_distribution_weights", 3).alias("sum_distribution_weights"),
        stable_round("naive_adjusted_conversion", 3).alias("naive_adjusted_conversion"),
    )


def _round_summary(df: DataFrame) -> DataFrame:
    return df.select(
        stable_round("percentage_matched_conversion_value", 4).alias(
            "percentage_matched_conversion_value"
        ),
        stable_round("percentage_matched_conversions", 4).alias(
            "percentage_matched_conversions"
        ),
        "number_matched_conversions",
        stable_round("total_matched_conversion_value", 3).alias(
            "total_matched_conversion_value"
        ),
    )


def _pairs(df: DataFrame) -> DataFrame:
    return df.select(
        F.col(PROBE_ID).alias("probe_id"),
        F.col(CONSENT_ID).alias("consent_id"),
        F.col("distance"),
    )


# --- query callables ---------------------------------------------------------


def knn_adjust(spark: SparkSession, sf_dir: str, impl: str = "auto") -> DataFrame:
    consent, noconsent = consent_split(spark, sf_dir)
    result = run_adjustment(
        consent, noconsent, _config(number_nearest_neighbors=FLAGSHIP_K), impl=impl
    )
    return _round_adjusted(result.data_adjusted)


def knn_adjust_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship adjustment through the DICTIONARY kernel
    (impl="grouped", round 12): the distinct-vector class grid replaces
    the m·n row grid — the route `impl="auto"` picks past the pair-grid
    budget whenever the feature space is low-cardinality (the cocoa
    one-hot space: ~125 classes at ANY scale; r12 rung measured the
    broadcast grid at 133 s and degenerate LSH at 627 s on sf1.0 —
    PERF.md round 12 has the grouped-route legs).
    Checked against the SAME oracle as cocoa_knn_adjust — the
    byte-identical contract ((distance, build_id) tie-break over build
    rows) as a driver-hash fact, not just a pytest."""
    return knn_adjust(spark, sf_dir, impl="grouped")


def radius_adjust_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Radius mode through the class-fused dictionary route (the r12 rung's
    321 s → 70 s plan at sf1.0) — same oracle as cocoa_radius_adjust; the
    only divergence class is class-wise summation order at 3-decimal
    rounding (the fused-numpy precedent)."""
    return radius_adjust(spark, sf_dir, impl="grouped")


def percentile_adjust_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percentile mode through the dictionary route: the auto-radius
    resolves via the grouped min-distance pass (d_p rows of state), then
    the class-fused radius adjust — same oracle as
    cocoa_percentile_adjust."""
    return percentile_adjust(spark, sf_dir, impl="grouped")


def knn_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    consent, noconsent = consent_split(spark, sf_dir)
    result = run_adjustment(
        consent, noconsent, _config(number_nearest_neighbors=3)
    )
    return _pairs(result.matched_pairs)


def knn_minkowski(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN pairs under the parametrized minkowski:3 metric — exercises the
    sklearn-style metric pass-through (reference forwards any sklearn
    metric string, nearest_consented_customers.py:50); on one-hot features
    the closed form is (2·#differing-blocks)^(1/3)."""
    consent, noconsent = consent_split(spark, sf_dir)
    result = run_adjustment(
        consent,
        noconsent,
        _config(number_nearest_neighbors=3, metric="minkowski:3"),
    )
    return _pairs(result.matched_pairs).select(
        "probe_id", "consent_id", stable_round("distance", 6).alias("distance")
    )


def knn_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Beyond-broadcast kNN join (J1 scale ceiling): neither side collected —
    hyperplane-LSH bucket candidates (equi-join on (table, signature)) +
    exact re-rank. Exercised on the 64-dim embeddings table, the operator's
    intended regime: high-cardinality continuous features, where buckets
    are selective. (On the cocoa one-hot space — ~125 distinct points —
    identical vectors always share every bucket, so LSH degenerates toward
    all-pairs; the broadcast numpy kernel is the right plan there, and this
    operator is the relief valve for when the BUILD side outgrows a
    broadcast.) Oracle: the hyperplane buckets are deterministic, so
    `_knn_lsh_sql` replays the full pipeline in SQL; recall vs the exact
    join is additionally asserted in tests/test_similarity_join.py."""
    from ..operators.similarity_join import knn_join_lsh

    emb = read_table(spark, sf_dir, "embeddings")
    probe = emb.select(
        F.col("vec_id").alias("probe_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("features"),
    )
    build = emb.select(
        F.col("vec_id").alias("consent_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("features"),
    )
    out = knn_join_lsh(
        probe, build, FLAGSHIP_K, 64,
        metric="euclidean", probe_id="probe_id", build_id="consent_id",
    )
    return out.filter(F.col("probe_id") != F.col("consent_id")).select(
        "probe_id", "consent_id", stable_round("distance", 6).alias("distance")
    )


#: recall floor for the planner-driven LSH query: at the measured
#: ledger's per-table rate (r1 ≈ 0.017, concave-inverted) the plan
#: resolves to the measured (p=10, t=8) configuration — the planner,
#: not a hand-set constant, owns the amplification (VERDICT r11 §Next #6)
PLANNED_RECALL_FLOOR = 0.12


def knn_lsh_planned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`cocoa_knn_lsh_pairs` with PLANNER-DERIVED amplification: the
    (n_planes, n_tables) come from ``lsh_params_for`` — i.e. from
    ``lsh_recall_plan`` over the measured recall ledger under a stated
    ``PLANNED_RECALL_FLOOR`` — instead of hand-set constants. The
    derivation is deterministic in the side counts, so the DuckDB twin
    (`_knn_lsh_planned_sql`) replays it from a duckdb count and splices
    the SAME (p, t) into the signature SQL: a drifted derivation shows
    up as a hash mismatch, which is what makes the contract enforceable
    rather than advisory."""
    from ..operators.similarity_join import knn_join_lsh, lsh_params_for

    emb = read_table(spark, sf_dir, "embeddings")
    n = emb.count()
    n_planes, n_tables = lsh_params_for(n, n, PLANNED_RECALL_FLOOR)
    probe = emb.select(
        F.col("vec_id").alias("probe_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("features"),
    )
    build = emb.select(
        F.col("vec_id").alias("consent_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("features"),
    )
    out = knn_join_lsh(
        probe, build, FLAGSHIP_K, 64,
        metric="euclidean", probe_id="probe_id", build_id="consent_id",
        n_planes=n_planes, n_tables=n_tables, n_rows_hint=n,
    )
    return out.filter(F.col("probe_id") != F.col("consent_id")).select(
        "probe_id", "consent_id", stable_round("distance", 6).alias("distance")
    )


def _knn_lsh_planned_sql() -> str | None:
    """Oracle twin of `knn_lsh_planned`: replays the planner derivation
    from a duckdb row count of the GATE's embeddings table (the driver's
    correctness gate is pinned at sf0.01; a local gate at another scale
    sets ``SPARK_GRAFT_ORACLE_SF_DIR`` — ADVICE r12: deriving from a
    hardcoded sf0.01 path while the gate ran elsewhere would splice
    mismatched parameters and report a spurious hash mismatch), then
    emits the parameterized signature replay. Returns None (rows-only
    fallback) when that table is not on disk."""
    import os

    from ..operators.similarity_join import lsh_params_for

    sf_dir = os.environ.get(
        "SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01"
    )
    path = os.path.join(sf_dir, "embeddings.parquet")
    if not os.path.exists(path):
        return None
    import duckdb as _dd

    n = _dd.sql(f"SELECT count(*) FROM '{path}'").fetchone()[0]
    n_planes, n_tables = lsh_params_for(n, n, PLANNED_RECALL_FLOOR)
    return _knn_lsh_sql(n_planes, n_tables)


#: probe-sample ceiling for the recall audit (sample_mod = n // this)
_AUDIT_SAMPLE_TARGET = 500


def lsh_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predicted-vs-measured recall audit of the LSH planner (VERDICT r12
    §Next #1) — the enforcement half of the recall contract. Round 13
    measured the same (p, t) grid on three corpus classes and recall did
    NOT transfer across any pair (per-table rates 0.016 synthetic / 0.70
    organic-duplicate-rich / 0.006 sparse-clustered at p=10 — PERF.md
    round 13), so `lsh_recall_plan`'s prediction is only trustworthy on
    corpora resembling its calibration ledger. This query measures
    recall ON the actual corpus at the planner's chosen (p, t): exact
    top-k vs LSH top-k over a deterministic probe sample
    (operators.similarity_join.lsh_recall_measured), then inverts the
    concave OR-amplification law on the MEASURED recall to report the
    table count that would truly meet the floor
    (``tables_for_floor``) — the self-calibration step that replaces
    ledger trust with in-corpus evidence. One row:
    (n_vectors, n_planes, n_tables, n_exact, hits, measured_recall,
    predicted_recall, r1_measured, tables_for_floor). The oracle replays
    the ENTIRE chain in SQL — planner derivation (spliced like
    `_knn_lsh_planned_sql`), deterministic signatures, exact ranking,
    sampling rule, and the calibration arithmetic."""
    from ..operators.similarity_join import (
        lsh_params_for,
        lsh_recall_measured,
        lsh_recall_plan,
    )

    emb = read_table(spark, sf_dir, "embeddings")
    n = emb.count()
    n_planes, n_tables = lsh_params_for(n, n, PLANNED_RECALL_FLOOR)
    plan = lsh_recall_plan(n, n, recall_floor=PLANNED_RECALL_FLOOR)
    mod = max(1, n // _AUDIT_SAMPLE_TARGET)
    probe = emb.select(
        F.col("vec_id").alias("probe_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("features"),
    )
    build = emb.select(
        F.col("vec_id").alias("consent_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("features"),
    )
    stats = lsh_recall_measured(
        probe, build, FLAGSHIP_K, 64,
        metric="euclidean", probe_id="probe_id", build_id="consent_id",
        n_planes=n_planes, n_tables=n_tables, sample_mod=mod,
        n_rows_hint=n,
    )
    om = 1.0 - PLANNED_RECALL_FLOOR
    mr_raw = F.col("hits") / F.col("n_exact")
    r1 = stable_round(
        F.lit(1.0) - F.pow(F.lit(1.0) - mr_raw, F.lit(1.0 / n_tables)), 6
    )
    tff = (
        F.when(r1 >= 1.0, F.lit(1))
        .when(r1 <= 0.0, F.lit(None))
        .otherwise(F.ceil(F.log(F.lit(om)) / F.log(F.lit(1.0) - r1)))
    ).cast("long")
    return stats.select(
        F.lit(int(n)).cast("long").alias("n_vectors"),
        F.lit(int(n_planes)).cast("long").alias("n_planes"),
        F.lit(int(n_tables)).cast("long").alias("n_tables"),
        F.col("n_exact").cast("long").alias("n_exact"),
        F.col("hits").cast("long").alias("hits"),
        stable_round(mr_raw, 6).alias("measured_recall"),
        F.lit(float(plan["predicted_recall"])).alias("predicted_recall"),
        r1.alias("r1_measured"),
        tff.alias("tables_for_floor"),
    )


def _lsh_recall_audit_sql() -> str | None:
    """Oracle twin of `lsh_recall_audit`: replays the planner derivation
    from the gate table's row count (the `_knn_lsh_planned_sql`
    contract, including the SPARK_GRAFT_ORACLE_SF_DIR scale guard), the
    deterministic hyperplane signatures, BOTH ranked top-k legs, and the
    measured-r1 inversion — all in SQL. None (rows-only) off-fixture or
    when the planner cannot route to LSH."""
    import os

    from ..operators.similarity_join import lsh_params_for, lsh_recall_plan

    sf_dir = os.environ.get(
        "SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01"
    )
    path = os.path.join(sf_dir, "embeddings.parquet")
    if not os.path.exists(path):
        return None
    import duckdb as _dd

    n = _dd.sql(f"SELECT count(*) FROM '{path}'").fetchone()[0]
    try:
        n_planes, n_tables = lsh_params_for(n, n, PLANNED_RECALL_FLOOR)
    except ValueError:
        return None
    plan = lsh_recall_plan(n, n, recall_floor=PLANNED_RECALL_FLOOR)
    mod = max(1, n // _AUDIT_SAMPLE_TARGET)
    k1 = FLAGSHIP_K + 1
    om = 1.0 - PLANNED_RECALL_FLOOR
    sig_cols, s_list, t_list = _lsh_sig_sql(n_planes, n_tables)
    prelude = _LSH_PAIRS_PRELUDE.format(
        sig_cols=sig_cols, s_list=s_list, t_list=t_list
    )
    mr = "hits * 1.0 / n_exact"
    r1 = sql_round(
        f"1.0 - power(1.0 - {mr}, {1.0 / n_tables!r})", 6
    )
    return f"""{prelude}, exact_scored AS (
    SELECT a.vec_id AS probe_id, b.vec_id AS consent_id,
           {_EUCLID} AS dist_raw
    FROM v a CROSS JOIN v b
    WHERE a.vec_id % {mod} = 0
), exact_ranked AS (
    SELECT *, row_number() OVER (
        PARTITION BY probe_id ORDER BY dist_raw, consent_id) AS rn
    FROM exact_scored
), exact AS (
    SELECT probe_id, consent_id FROM exact_ranked
    WHERE rn <= {k1} AND probe_id <> consent_id
), pairs AS (
    SELECT DISTINCT q.vec_id AS probe_id, c.vec_id AS consent_id
    FROM lng q JOIN lng c ON q.table_id = c.table_id AND q.sig = c.sig
    WHERE q.vec_id % {mod} = 0
), lsh_scored AS (
    SELECT probe_id, consent_id, {_EUCLID} AS dist_raw
    FROM pairs
    JOIN v a ON a.vec_id = probe_id
    JOIN v b ON b.vec_id = consent_id
), lsh_ranked AS (
    SELECT *, row_number() OVER (
        PARTITION BY probe_id ORDER BY dist_raw, consent_id) AS rn
    FROM lsh_scored
), lshk AS (
    SELECT probe_id, consent_id FROM lsh_ranked
    WHERE rn <= {k1} AND probe_id <> consent_id
), stats AS (
    SELECT (SELECT count(*) FROM exact) AS n_exact,
           (SELECT count(*)
            FROM lshk JOIN exact USING (probe_id, consent_id)) AS hits
)
SELECT CAST({n} AS BIGINT) AS n_vectors,
       CAST({n_planes} AS BIGINT) AS n_planes,
       CAST({n_tables} AS BIGINT) AS n_tables,
       CAST(n_exact AS BIGINT) AS n_exact,
       CAST(hits AS BIGINT) AS hits,
       {sql_round(mr, 6)} AS measured_recall,
       {float(plan["predicted_recall"])!r} AS predicted_recall,
       {r1} AS r1_measured,
       CASE WHEN {r1} >= 1.0 THEN 1
            WHEN {r1} <= 0.0 THEN NULL
            ELSE CAST(ceil(ln({om!r}) / ln(1.0 - {r1})) AS BIGINT)
       END AS tables_for_floor
FROM stats
"""


def radius_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Beyond-broadcast RADIUS join (J3 scale ceiling): same bucketed
    co-group as the kNN variant but emitting every in-bucket pair within
    the radius — the route for the reference's radius mode when the build
    side outgrows a broadcast. Embeddings are unit-normalized, so
    euclidean 1.2 ≈ cosine similarity ≥ 0.28 — selective but non-empty at
    every SF. Oracle: `_radius_lsh_sql` replays the deterministic buckets
    in SQL; subset-of-exact and recall-floor are additionally asserted in
    tests/test_similarity_join.py."""
    from ..operators.similarity_join import radius_join_lsh

    emb = read_table(spark, sf_dir, "embeddings")
    probe = emb.select(
        F.col("vec_id").alias("probe_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("features"),
    )
    build = emb.select(
        F.col("vec_id").alias("consent_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("features"),
    )
    out = radius_join_lsh(
        probe, build, 1.2, 64,
        metric="euclidean", probe_id="probe_id", build_id="consent_id",
    )
    return out.filter(F.col("probe_id") < F.col("consent_id")).select(
        "probe_id", "consent_id", stable_round("distance", 6).alias("distance")
    )


def knn_proportional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k < 1 ⇒ proportional to the build side (J2 proportional-k)."""
    consent, noconsent = consent_split(spark, sf_dir)
    result = run_adjustment(
        consent, noconsent, _config(number_nearest_neighbors=0.01)
    )
    return _pairs(result.matched_pairs)


def radius_adjust(spark: SparkSession, sf_dir: str, impl: str = "auto") -> DataFrame:
    consent, noconsent = consent_split(spark, sf_dir)
    result = run_adjustment(consent, noconsent, _config(radius=RADIUS), impl=impl)
    return _round_adjusted(result.data_adjusted)


def radius_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    consent, noconsent = consent_split(spark, sf_dir)
    result = run_adjustment(consent, noconsent, _config(radius=RADIUS))
    return _round_summary(result.summary)


def percentile_adjust(spark: SparkSession, sf_dir: str, impl: str = "auto") -> DataFrame:
    consent, noconsent = consent_split(spark, sf_dir)
    result = run_adjustment(
        consent, noconsent, _config(percentile=PERCENTILE), impl=impl
    )
    return _round_adjusted(result.data_adjusted)


def daily_run(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1-O3 date-loop parity as a checkable query: two "days" of customers
    (a deterministic c_custkey%2 date split — the fixture has no customer
    date column) through the real ``run_dates_collected`` loop — per-date
    scan_between_dates pushdown, an independently fitted encoder and kNN
    adjustment per date, unioned with the date literal (the exact frame the
    per-date CSV sink writes, reference pipeline.py:318-360). The oracle
    re-derives both days in one SQL by constraining pairs to equal derived
    dates and computing the naive smear per date."""
    from ..pipeline import run_dates_collected

    customer = read_table(spark, sf_dir, "customer").select(
        "c_custkey",
        F.col("c_acctbal").cast("double").alias("c_acctbal"),
        "c_mktsegment",
        F.col("c_nationkey").cast("string").alias("c_nation_cat"),
        F.date_add(
            F.lit("1996-01-01").cast("date"),
            (F.col("c_custkey") % 2).cast("int"),
        ).alias("event_date"),
    )
    consent = customer.filter(F.col("c_custkey") % 5 != 0)
    noconsent = customer.filter(F.col("c_custkey") % 5 == 0)
    cfg = _config(number_nearest_neighbors=3, date_column="event_date")
    out = run_dates_collected(
        consent, noconsent, cfg, ["1996-01-01", "1996-01-02"]
    )
    return out.select(
        "date",
        "c_custkey",
        stable_round("c_acctbal", 3).alias("c_acctbal"),
        stable_round("adjusted_conversion", 3).alias("adjusted_conversion"),
        stable_round("average_distance", 3).alias("average_distance"),
        F.col("n_added_conversions").cast("long").alias("n_added_conversions"),
        stable_round("sum_distribution_weights", 3).alias(
            "sum_distribution_weights"
        ),
        stable_round("naive_adjusted_conversion", 3).alias(
            "naive_adjusted_conversion"
        ),
    )


def nearest_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6: per-probe distance to nearest consenting customer."""
    consent, noconsent = consent_split(spark, sf_dir)
    cfg = _config(number_nearest_neighbors=1)
    result = run_adjustment(consent, noconsent, cfg)
    return result.matched_pairs.select(
        F.col(PROBE_ID).alias("probe_id"),
        F.col("distance").alias("distance_to_nearest_neighbor"),
    )


def clean_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2+P3 cleaning + P4 flag + U1 union as one checkable output."""
    consent, noconsent = consent_split(spark, sf_dir)
    unioned = add_consent_flag(noconsent, 0).unionByName(
        add_consent_flag(consent, 1)
    )
    return clean_data(unioned, "c_acctbal").select(
        "c_custkey", stable_round("c_acctbal", 3).alias("c_acctbal"), CONSENT_FLAG
    )


def max_event_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3/A7: formatted MAX(date) scalar."""
    events = read_table(spark, sf_dir, "events")
    return spark.createDataFrame([(max_date(events, "ts"),)], ["max_date"])


def lookback_dates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8: the trigger's lookback window (fixed anchor for determinism)."""
    return date_sequence(spark, "2024-01-30", 7).select(
        F.col("date").cast("string").alias("date")
    )


def nearest_distance_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 second half: percentiles [.25,.5,.75,.9,.95,.99] of the per-probe
    nearest-neighbor distance (reference:
    nearest_distances_statistics_nonconsenting,
    nearest_consented_customers.py:121-123)."""
    consent, noconsent = consent_split(spark, sf_dir)
    cfg = _config(number_nearest_neighbors=1)
    result = run_adjustment(consent, noconsent, cfg)
    nearest = result.matched_pairs.select(
        F.col("distance").alias("d")
    )
    return nearest.agg(
        F.count("d").alias("n"),
        stable_round(F.avg("d"), 4).alias("mean"),
        *[
            stable_round(F.expr(f"percentile(d, {p})"), 3).alias(
                f"p{int(p * 100)}"
            )
            for p in (0.25, 0.5, 0.75, 0.9, 0.95, 0.99)
        ],
    )


def distance_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5: describe()-style statistics of ``average_distance`` over the
    kNN-adjusted output (reference: distance_statistics property,
    nearest_consented_customers.py:116-123)."""
    consent, noconsent = consent_split(spark, sf_dir)
    result = run_adjustment(
        consent, noconsent, _config(number_nearest_neighbors=FLAGSHIP_K)
    )
    d = F.col("average_distance")
    return result.data_adjusted.agg(
        F.count(d).alias("n"),
        stable_round(F.avg(d), 4).alias("mean"),
        stable_round(F.stddev_samp(d), 4).alias("stddev"),
        stable_round(F.min(d), 3).alias("min"),
        stable_round(F.expr("percentile(average_distance, 0.25)"), 3).alias("p25"),
        stable_round(F.expr("percentile(average_distance, 0.5)"), 3).alias("p50"),
        stable_round(F.expr("percentile(average_distance, 0.75)"), 3).alias("p75"),
        stable_round(F.max(d), 3).alias("max"),
    )


def adjusted_describe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 parity for the ADJUSTED output: describe()-style statistics of
    ``adjusted_conversion`` over the kNN-adjusted frame (reference:
    the describe() diagnostics block, nearest_consented_customers.py:
    116-123 — run on the redistribution result rather than distances)."""
    consent, noconsent = consent_split(spark, sf_dir)
    result = run_adjustment(
        consent, noconsent, _config(number_nearest_neighbors=FLAGSHIP_K)
    )
    d = F.col("adjusted_conversion")
    return result.data_adjusted.agg(
        F.count(d).alias("n"),
        stable_round(F.avg(d), 4).alias("mean"),
        stable_round(F.stddev_samp(d), 4).alias("stddev"),
        stable_round(F.min(d), 3).alias("min"),
        stable_round(F.expr("percentile(adjusted_conversion, 0.25)"), 3).alias("p25"),
        stable_round(F.expr("percentile(adjusted_conversion, 0.5)"), 3).alias("p50"),
        stable_round(F.expr("percentile(adjusted_conversion, 0.75)"), 3).alias("p75"),
        stable_round(F.max(d), 3).alias("max"),
    )


# --- oracle SQL --------------------------------------------------------------

_PRELUDE = """
WITH base AS (
    SELECT c_custkey,
           CAST(c_acctbal AS DOUBLE) AS c_acctbal,
           c_mktsegment,
           CAST(c_nationkey AS VARCHAR) AS nat,
           (c_custkey % 5 <> 0) AS consent
    FROM customer
    WHERE c_acctbal IS NOT NULL AND c_acctbal > 0
),
probe AS (SELECT * FROM base WHERE NOT consent),
build AS (SELECT * FROM base WHERE consent),
pairs AS (
    SELECT p.c_custkey AS probe_id,
           b.c_custkey AS consent_id,
           p.c_acctbal AS probe_value,
           (CASE WHEN p.c_mktsegment <> b.c_mktsegment THEN 2.0 ELSE 0.0 END
            + CASE WHEN p.nat <> b.nat THEN 2.0 ELSE 0.0 END) AS distance
    FROM probe p CROSS JOIN build b
)
"""


def _matched_sql(matched: str) -> str:
    """Adjustment + summary tail over a CTE named ``matched`` with columns
    (probe_id, consent_id, probe_value, distance)."""
    return """
, expd AS (
    SELECT *, exp(-distance - max(-distance) OVER (PARTITION BY probe_id)) AS e
    FROM {matched}
),
wts AS (
    SELECT probe_id, consent_id, distance, probe_value,
           e / sum(e) OVER (PARTITION BY probe_id) AS weight
    FROM expd
),
aggs AS (
    SELECT consent_id,
           sum(probe_value * weight) AS adjusted_conversion,
           sum(distance) AS sum_distance,
           count(*) AS n_added_conversions,
           sum(weight) AS sum_distribution_weights
    FROM wts GROUP BY consent_id
),
naive AS (
    SELECT sum(c_acctbal) / (SELECT count(*) FROM build) AS smear
    FROM probe WHERE c_custkey IN (SELECT DISTINCT probe_id FROM {matched})
)
SELECT b.c_custkey,
       {r_acctbal} AS c_acctbal,
       {r_adj} AS adjusted_conversion,
       {r_avgd} AS average_distance,
       coalesce(a.n_added_conversions, 0) AS n_added_conversions,
       {r_wts} AS sum_distribution_weights,
       {r_naive} AS naive_adjusted_conversion
FROM build b LEFT JOIN aggs a ON b.c_custkey = a.consent_id
""".format(
        matched=matched,
        r_acctbal=sql_round("b.c_acctbal", 3),
        r_adj=sql_round("coalesce(a.adjusted_conversion, 0.0)", 3),
        r_avgd=sql_round("a.sum_distance / a.n_added_conversions", 3),
        r_wts=sql_round("coalesce(a.sum_distribution_weights, 0.0)", 3),
        r_naive=sql_round("b.c_acctbal + (SELECT smear FROM naive)", 3),
    )


def _topk_cte(k: int) -> str:
    return f"""
, topk AS (
    SELECT * FROM (
        SELECT *, row_number() OVER (
            PARTITION BY probe_id ORDER BY distance, consent_id) AS rn
        FROM pairs) WHERE rn <= {k}
)"""


KNN_ADJUST_SQL = _PRELUDE + _topk_cte(FLAGSHIP_K) + _matched_sql("topk")

KNN_PAIRS_SQL = (
    _PRELUDE
    + _topk_cte(3)
    + "\nSELECT probe_id, consent_id, distance FROM topk"
)

KNN_MINKOWSKI_SQL = (
    _PRELUDE
    + """
, mink AS (
    -- one-hot closed form: Σ|a−b|³ equals the L1 sum (all terms 0/1), so
    -- minkowski:3 distance = pow(L1, 1/3)
    SELECT probe_id, consent_id, probe_value,
           pow(distance, 1.0/3) AS distance
    FROM pairs
),
topk AS (
    SELECT * FROM (
        SELECT *, row_number() OVER (
            PARTITION BY probe_id ORDER BY distance, consent_id) AS rn
        FROM mink) WHERE rn <= 3
)
SELECT probe_id, consent_id, {r} AS distance FROM topk
""".format(r=sql_round("distance", 6))
)

KNN_PROPORTIONAL_SQL = (
    _PRELUDE
    + """
, topk AS (
    SELECT * FROM (
        SELECT *, row_number() OVER (
            PARTITION BY probe_id ORDER BY distance, consent_id) AS rn
        FROM pairs)
    WHERE rn <= (SELECT CAST(floor(0.01 * count(*)) AS INT) FROM build)
)
SELECT probe_id, consent_id, distance FROM topk"""
)

RADIUS_ADJUST_SQL = (
    _PRELUDE
    + f", matched AS (SELECT * FROM pairs WHERE distance <= {RADIUS})"
    + _matched_sql("matched")
)

RADIUS_SUMMARY_SQL = (
    _PRELUDE
    + """
, matched_ids AS (
    SELECT DISTINCT probe_id FROM pairs WHERE distance <= {radius})
SELECT {r_pct_val}
           AS percentage_matched_conversion_value,
       {r_pct_cnt} AS percentage_matched_conversions,
       CAST(sum(CASE WHEN m.probe_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS number_matched_conversions,
       {r_total}
           AS total_matched_conversion_value
FROM probe p LEFT JOIN matched_ids m ON p.c_custkey = m.probe_id
""".format(
        radius=RADIUS,
        r_pct_val=sql_round(
            "sum(CASE WHEN m.probe_id IS NOT NULL THEN p.c_acctbal ELSE 0 END)"
            " / sum(p.c_acctbal) * 100", 4),
        r_pct_cnt=sql_round(
            "sum(CASE WHEN m.probe_id IS NOT NULL THEN 1 ELSE 0 END)"
            " * 100.0 / count(*)", 4),
        r_total=sql_round(
            "sum(CASE WHEN m.probe_id IS NOT NULL THEN p.c_acctbal ELSE 0 END)", 3),
    )
)

PERCENTILE_ADJUST_SQL = (
    _PRELUDE
    + f"""
, nearest AS (
    SELECT probe_id, min(distance) AS d FROM pairs GROUP BY probe_id),
rad AS (SELECT quantile_cont(d, {PERCENTILE}) AS r FROM nearest),
matched AS (SELECT * FROM pairs WHERE distance <= (SELECT r FROM rad))
"""
    + _matched_sql("matched")
)

NEAREST_DISTANCES_SQL = (
    _PRELUDE
    + """
SELECT probe_id, min(distance) AS distance_to_nearest_neighbor
FROM pairs GROUP BY probe_id"""
)

CLEAN_SQL = """
SELECT c_custkey, {r} AS c_acctbal,
       CASE WHEN c_custkey % 5 <> 0 THEN 1 ELSE 0 END AS consent
FROM customer
WHERE c_acctbal IS NOT NULL AND c_acctbal > 0
""".format(r=sql_round("CAST(c_acctbal AS DOUBLE)", 3))

MAX_EVENT_DATE_SQL = "SELECT strftime(max(ts), '%Y-%m-%d') AS max_date FROM events"

LOOKBACK_DATES_SQL = """
SELECT CAST(CAST(d AS DATE) AS VARCHAR) AS date
FROM generate_series(DATE '2024-01-24', DATE '2024-01-30', INTERVAL 1 DAY) t(d)
"""


DISTANCE_STATS_SQL = (
    _PRELUDE
    + _topk_cte(FLAGSHIP_K)
    + """
, aggs AS (
    SELECT consent_id,
           sum(distance) AS sum_distance,
           count(*) AS n_added
    FROM topk GROUP BY consent_id
), per_row AS (
    SELECT b.c_custkey, a.sum_distance / a.n_added AS avg_d
    FROM build b LEFT JOIN aggs a ON b.c_custkey = a.consent_id
)
SELECT count(avg_d) AS n,
       {r_mean} AS mean,
       {r_std} AS stddev,
       {r_min} AS min,
       {r_p25} AS p25,
       {r_p50} AS p50,
       {r_p75} AS p75,
       {r_max} AS max
FROM per_row
""".format(
        r_mean=sql_round("avg(avg_d)", 4),
        r_std=sql_round("stddev_samp(avg_d)", 4),
        r_min=sql_round("min(avg_d)", 3),
        r_p25=sql_round("quantile_cont(avg_d, 0.25)", 3),
        r_p50=sql_round("quantile_cont(avg_d, 0.5)", 3),
        r_p75=sql_round("quantile_cont(avg_d, 0.75)", 3),
        r_max=sql_round("max(avg_d)", 3),
    )
)


ADJUSTED_DESCRIBE_SQL = (
    _PRELUDE
    + _topk_cte(FLAGSHIP_K)
    + """
, expd AS (
    SELECT *, exp(-distance - max(-distance) OVER (PARTITION BY probe_id)) AS e
    FROM topk
),
wts AS (
    SELECT consent_id, probe_value,
           e / sum(e) OVER (PARTITION BY probe_id) AS weight
    FROM expd
),
aggs AS (
    SELECT consent_id, sum(probe_value * weight) AS adjusted
    FROM wts GROUP BY consent_id
),
per_row AS (
    SELECT coalesce(a.adjusted, 0.0) AS v
    FROM build b LEFT JOIN aggs a ON b.c_custkey = a.consent_id
)
SELECT count(v) AS n,
       {r_mean} AS mean,
       {r_std} AS stddev,
       {r_min} AS min,
       {r_p25} AS p25,
       {r_p50} AS p50,
       {r_p75} AS p75,
       {r_max} AS max
FROM per_row
""".format(
        r_mean=sql_round("avg(v)", 4),
        r_std=sql_round("stddev_samp(v)", 4),
        r_min=sql_round("min(v)", 3),
        r_p25=sql_round("quantile_cont(v, 0.25)", 3),
        r_p50=sql_round("quantile_cont(v, 0.5)", 3),
        r_p75=sql_round("quantile_cont(v, 0.75)", 3),
        r_max=sql_round("max(v)", 3),
    )
)


NEAREST_DISTANCE_STATS_SQL = (
    _PRELUDE
    + """
, nearest AS (
    SELECT probe_id, min(distance) AS d FROM pairs GROUP BY probe_id)
SELECT count(d) AS n,
       {r_mean} AS mean,
       {p25} AS p25, {p50} AS p50, {p75} AS p75,
       {p90} AS p90, {p95} AS p95, {p99} AS p99
FROM nearest
""".format(
        r_mean=sql_round("avg(d)", 4),
        **{
            f"p{int(p * 100)}": sql_round(f"quantile_cont(d, {p})", 3)
            for p in (0.25, 0.5, 0.75, 0.9, 0.95, 0.99)
        },
    )
)


DAILY_RUN_SQL = """
WITH base AS (
    SELECT c_custkey,
           CAST(c_acctbal AS DOUBLE) AS c_acctbal,
           c_mktsegment,
           CAST(c_nationkey AS VARCHAR) AS nat,
           (c_custkey % 5 <> 0) AS consent,
           strftime(DATE '1996-01-01' + CAST(c_custkey % 2 AS INTEGER),
                    '%Y-%m-%d') AS d
    FROM customer
    WHERE c_acctbal IS NOT NULL AND c_acctbal > 0
),
probe AS (SELECT * FROM base WHERE NOT consent),
build AS (SELECT * FROM base WHERE consent),
pairs AS (
    -- per-date independence: matches never cross the derived date
    SELECT p.d, p.c_custkey AS probe_id,
           b.c_custkey AS consent_id,
           p.c_acctbal AS probe_value,
           (CASE WHEN p.c_mktsegment <> b.c_mktsegment THEN 2.0 ELSE 0.0 END
            + CASE WHEN p.nat <> b.nat THEN 2.0 ELSE 0.0 END) AS distance
    FROM probe p JOIN build b ON p.d = b.d
),
topk AS (
    SELECT * FROM (
        SELECT *, row_number() OVER (
            PARTITION BY probe_id ORDER BY distance, consent_id) AS rn
        FROM pairs) WHERE rn <= 3
),
expd AS (
    SELECT *, exp(-distance - max(-distance) OVER (PARTITION BY probe_id)) AS e
    FROM topk
),
wts AS (
    SELECT consent_id, distance, probe_value,
           e / sum(e) OVER (PARTITION BY probe_id) AS weight
    FROM expd
),
aggs AS (
    SELECT consent_id,
           sum(probe_value * weight) AS adjusted_conversion,
           sum(distance) AS sum_distance,
           count(*) AS n_added_conversions,
           sum(weight) AS sum_distribution_weights
    FROM wts GROUP BY consent_id
),
naive AS (
    SELECT p.d,
           sum(p.c_acctbal)
             / (SELECT count(*) FROM build b WHERE b.d = p.d) AS smear
    FROM probe p
    WHERE p.c_custkey IN (SELECT DISTINCT probe_id FROM topk)
    GROUP BY p.d
)
SELECT b.d AS date,
       b.c_custkey,
       {r_acctbal} AS c_acctbal,
       {r_adj} AS adjusted_conversion,
       {r_avgd} AS average_distance,
       coalesce(a.n_added_conversions, 0) AS n_added_conversions,
       {r_wts} AS sum_distribution_weights,
       {r_naive} AS naive_adjusted_conversion
FROM build b
LEFT JOIN aggs a ON b.c_custkey = a.consent_id
LEFT JOIN naive n ON b.d = n.d
""".format(
    r_acctbal=sql_round("b.c_acctbal", 3),
    r_adj=sql_round("coalesce(a.adjusted_conversion, 0.0)", 3),
    r_avgd=sql_round("a.sum_distance / a.n_added_conversions", 3),
    r_wts=sql_round("coalesce(a.sum_distribution_weights, 0.0)", 3),
    r_naive=sql_round("b.c_acctbal + coalesce(n.smear, 0.0)", 3),
)


def _lsh_sig_sql(n_planes: int, n_tables: int, dim: int = 64) -> tuple[str, str, str]:
    """DuckDB fragments replaying `_signature_array`'s hyperplane math:
    the ±1 plane matrix is pure integer mixing (similarity_search.
    plane_sign), so each table's signature becomes literal-list dot
    products. Returns (sig_cols, s_list, t_list) for the WITH chain.
    Float caveat as in `_ann_lsh_sql`: a sign bit could differ only if a
    projection lands within float-reassociation distance of 0."""
    from ..operators.similarity_search import _plane_matrix

    planes = _plane_matrix(dim, n_planes, n_tables)
    sig_cols = []
    for t in range(n_tables):
        terms = []
        for p in range(n_planes):
            lit = (
                "["
                + ",".join(f"{int(s)}.0" for s in planes[:, t * n_planes + p])
                + "]"
            )
            terms.append(
                f"(CASE WHEN list_dot_product(dv, {lit}) > 0"
                f" THEN {1 << p} ELSE 0 END)"
            )
        sig_cols.append("(" + " + ".join(terms) + f") AS s{t}")
    s_list = ",".join(f"s{t}" for t in range(n_tables))
    t_list = ",".join(str(t) for t in range(n_tables))
    return ", ".join(sig_cols), s_list, t_list


_LSH_PAIRS_PRELUDE = """
WITH v AS (
    SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS dv
    FROM embeddings
), sigs AS (
    SELECT vec_id, {sig_cols} FROM v
), lng AS (
    SELECT vec_id, unnest([{s_list}]) AS sig,
           unnest([{t_list}]) AS table_id
    FROM sigs
)"""

# euclidean in the kernel's expression shape:
# sqrt(max(||a||² + ||b||² − 2·a·b, 0))  (similarity_join._chunk_distances)
_EUCLID = (
    "sqrt(greatest(list_dot_product(a.dv, a.dv)"
    " + list_dot_product(b.dv, b.dv)"
    " - 2 * list_dot_product(a.dv, b.dv), 0))"
)


def _knn_lsh_sql(n_planes: int = 4, n_tables: int = 8) -> str:
    """Replay of `cocoa_knn_lsh_pairs`: candidates = pairs sharing any
    (table, signature) bucket; the operator's local-topk-per-bucket union
    provably contains the global top-k over the candidate union, so the
    oracle ranks the candidate set directly (distance, consent_id
    tie-break), keeps rank ≤ k INCLUDING the self pair (rank 1 at
    distance 0, exactly as the operator sees it), then drops self."""
    sig_cols, s_list, t_list = _lsh_sig_sql(n_planes, n_tables)
    prelude = _LSH_PAIRS_PRELUDE.format(
        sig_cols=sig_cols, s_list=s_list, t_list=t_list
    )
    return f"""{prelude}, pairs AS (
    SELECT DISTINCT q.vec_id AS probe_id, c.vec_id AS consent_id
    FROM lng q JOIN lng c ON q.table_id = c.table_id AND q.sig = c.sig
), scored AS (
    SELECT probe_id, consent_id, {_EUCLID} AS dist_raw
    FROM pairs
    JOIN v a ON a.vec_id = probe_id
    JOIN v b ON b.vec_id = consent_id
), ranked AS (
    SELECT *, row_number() OVER (
        PARTITION BY probe_id ORDER BY dist_raw, consent_id) AS rn
    FROM scored
)
SELECT probe_id, consent_id, {sql_round('dist_raw', 6)} AS distance
FROM ranked WHERE rn <= {FLAGSHIP_K} AND probe_id <> consent_id
"""


def radius_lsh_adjust(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end beyond-broadcast adjustment — the 100×-scale execution
    path run whole: hyperplane-LSH radius matching (neither side
    collected, bucketed co-group) feeding the SAME softmax + scatter-add
    kernel as the broadcast routes. Probe/build split and conversion
    values are derived deterministically from the embeddings table
    (vec_id % 5 == 0 → probe, value = vec_id % 97 + 1), mirroring the
    consent split's shape on a feature space where LSH buckets are
    selective. reference: nearest_consented_customers.py:470-524 (radius
    mode + redistribution); conservation property over this path is
    asserted in tests/test_similarity_join.py."""
    from ..operators.similarity_join import radius_join_lsh

    probe, build = _emb_probe_build(spark, sf_dir)
    pairs = radius_join_lsh(
        probe.select("probe_id", "features"),
        build.select("consent_id", "features"),
        1.2,
        64,
        metric="euclidean",
        probe_id="probe_id",
        build_id="consent_id",
    )
    return _lsh_adjust_tail(probe, build, pairs)


def _emb_probe_build(spark: SparkSession, sf_dir: str):
    """Shared probe/build derivation for the beyond-broadcast adjust
    queries: vec_id % 5 == 0 → probe, conversion value = vec_id % 97 + 1."""
    emb = read_table(spark, sf_dir, "embeddings")
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
    return probe, build


def _lsh_adjust_tail(probe: DataFrame, build: DataFrame, pairs: DataFrame) -> DataFrame:
    """Softmax + scatter-add over LSH-matched pairs, rounded for the oracle."""
    from ..operators.adjust import scatter_add, softmax_weights

    weighted = softmax_weights(
        pairs.join(probe.select("probe_id", "conversion_value"), "probe_id")
    )
    out = scatter_add(
        build.select("consent_id", "conversion_value"),
        weighted,
        build_id="consent_id",
    )
    return out.select(
        "consent_id",
        stable_round("conversion_value", 3).alias("conversion_value"),
        stable_round("adjusted_conversion", 3).alias("adjusted_conversion"),
        stable_round("average_distance", 3).alias("average_distance"),
        F.col("n_added_conversions").cast("long").alias("n_added_conversions"),
        stable_round("sum_distribution_weights", 3).alias(
            "sum_distribution_weights"
        ),
    )


def percentile_lsh_adjust(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percentile mode beyond broadcast, run whole: pass 1 =
    `percentile_radius` on the lsh route (per-probe LSH nearest distance →
    exact percentile; a missed true nearest can only INFLATE the radius, so
    the ≥ P%-matched guarantee the reference mode exists for is preserved),
    pass 2 = LSH radius join at that radius feeding the same softmax +
    scatter-add kernel. reference: nearest_consented_customers.py:199-231
    (percentile mode) + 470-524 (redistribution)."""
    from ..operators.similarity_join import (
        percentile_radius,
        radius_join_lsh,
    )

    probe, build = _emb_probe_build(spark, sf_dir)
    radius = percentile_radius(
        probe.select("probe_id", "features"),
        build.select("consent_id", "features"),
        PERCENTILE,
        metric="euclidean",
        probe_id="probe_id",
        build_id="consent_id",
        impl="lsh",
        feature_width=64,
    )
    pairs = radius_join_lsh(
        probe.select("probe_id", "features"),
        build.select("consent_id", "features"),
        radius,
        64,
        metric="euclidean",
        probe_id="probe_id",
        build_id="consent_id",
    )
    return _lsh_adjust_tail(probe, build, pairs)


_LSH_ADJUST_TAIL_SQL = """, expd AS (
    SELECT *, exp(-distance - max(-distance) OVER (PARTITION BY probe_id)) AS e
    FROM matched
), wts AS (
    SELECT *, e / sum(e) OVER (PARTITION BY probe_id) AS weight FROM expd
), aggs AS (
    SELECT consent_id,
           sum(conversion_value * weight) AS adjusted_conversion,
           sum(distance) AS sum_distance,
           count(*) AS n_added_conversions,
           sum(weight) AS sum_distribution_weights
    FROM wts GROUP BY consent_id
)
SELECT e.vec_id AS consent_id,
       {r_conv} AS conversion_value,
       {r_adj} AS adjusted_conversion,
       {r_avgd} AS average_distance,
       CAST(coalesce(a.n_added_conversions, 0) AS BIGINT) AS n_added_conversions,
       {r_wts} AS sum_distribution_weights
FROM embeddings e
LEFT JOIN aggs a ON e.vec_id = a.consent_id
WHERE e.vec_id % 5 <> 0
"""


def _lsh_adjust_tail_sql() -> str:
    return _LSH_ADJUST_TAIL_SQL.format(
        r_conv=sql_round("CAST(e.vec_id % 97 + 1 AS DOUBLE)", 3),
        r_adj=sql_round("coalesce(a.adjusted_conversion, 0.0)", 3),
        r_avgd=sql_round("a.sum_distance / a.n_added_conversions", 3),
        r_wts=sql_round("coalesce(a.sum_distribution_weights, 0.0)", 3),
    )


def _percentile_lsh_adjust_sql() -> str:
    """Replay of `cocoa_percentile_lsh_adjust`: deterministic buckets →
    per-probe nearest candidate distance → quantile_cont radius → radius
    filter → the softmax/scatter-add chain."""
    sig_cols, s_list, t_list = _lsh_sig_sql(4, 8)
    prelude = _LSH_PAIRS_PRELUDE.format(
        sig_cols=sig_cols, s_list=s_list, t_list=t_list
    )
    return f"""{prelude}, cand AS (
    SELECT DISTINCT q.vec_id AS probe_id, c.vec_id AS consent_id
    FROM lng q JOIN lng c ON q.table_id = c.table_id AND q.sig = c.sig
    WHERE q.vec_id % 5 = 0 AND c.vec_id % 5 <> 0
), scored AS (
    SELECT probe_id, consent_id, {_EUCLID} AS distance,
           CAST(probe_id % 97 + 1 AS DOUBLE) AS conversion_value
    FROM cand
    JOIN v a ON a.vec_id = probe_id
    JOIN v b ON b.vec_id = consent_id
), nearest AS (
    SELECT probe_id, min(distance) AS d FROM scored GROUP BY probe_id
), rad AS (
    SELECT quantile_cont(d, {PERCENTILE}) AS r FROM nearest
), matched AS (
    SELECT * FROM scored WHERE distance <= (SELECT r FROM rad)
){_lsh_adjust_tail_sql()}"""


def _radius_lsh_adjust_sql() -> str:
    """Replay of `cocoa_radius_lsh_adjust`: deterministic LSH buckets →
    radius filter → the standard softmax/scatter-add CTE chain keyed on
    the derived probe values."""
    sig_cols, s_list, t_list = _lsh_sig_sql(4, 8)
    prelude = _LSH_PAIRS_PRELUDE.format(
        sig_cols=sig_cols, s_list=s_list, t_list=t_list
    )
    return f"""{prelude}, cand AS (
    SELECT DISTINCT q.vec_id AS probe_id, c.vec_id AS consent_id
    FROM lng q JOIN lng c ON q.table_id = c.table_id AND q.sig = c.sig
    WHERE q.vec_id % 5 = 0 AND c.vec_id % 5 <> 0
), matched AS (
    SELECT probe_id, consent_id, distance,
           CAST(probe_id % 97 + 1 AS DOUBLE) AS conversion_value
    FROM (
        SELECT probe_id, consent_id, {_EUCLID} AS distance
        FROM cand
        JOIN v a ON a.vec_id = probe_id
        JOIN v b ON b.vec_id = consent_id
    ) WHERE distance <= 1.2
){_lsh_adjust_tail_sql()}"""


def _radius_lsh_sql() -> str:
    """Replay of `cocoa_radius_lsh_pairs`: every bucket-colliding pair with
    euclidean distance ≤ 1.2 (filter on the raw distance, round for
    output), probe_id < consent_id."""
    sig_cols, s_list, t_list = _lsh_sig_sql(4, 8)
    prelude = _LSH_PAIRS_PRELUDE.format(
        sig_cols=sig_cols, s_list=s_list, t_list=t_list
    )
    return f"""{prelude}, pairs AS (
    SELECT DISTINCT q.vec_id AS probe_id, c.vec_id AS consent_id
    FROM lng q JOIN lng c ON q.table_id = c.table_id AND q.sig = c.sig
    WHERE q.vec_id < c.vec_id
), scored AS (
    SELECT probe_id, consent_id, {_EUCLID} AS dist_raw
    FROM pairs
    JOIN v a ON a.vec_id = probe_id
    JOIN v b ON b.vec_id = consent_id
)
SELECT probe_id, consent_id, {sql_round('dist_raw', 6)} AS distance
FROM scored WHERE dist_raw <= 1.2
"""


QUERIES: dict[str, tuple] = {
    "cocoa_daily_run": (daily_run, DAILY_RUN_SQL),
    "cocoa_knn_adjust": (knn_adjust, KNN_ADJUST_SQL),
    "cocoa_knn_adjust_grouped": (knn_adjust_grouped, KNN_ADJUST_SQL),
    "cocoa_distance_stats": (distance_stats, DISTANCE_STATS_SQL),
    "cocoa_adjusted_describe": (adjusted_describe, ADJUSTED_DESCRIBE_SQL),
    "cocoa_nearest_distance_stats": (
        nearest_distance_stats,
        NEAREST_DISTANCE_STATS_SQL,
    ),
    "cocoa_knn_pairs": (knn_pairs, KNN_PAIRS_SQL),
    "cocoa_knn_minkowski": (knn_minkowski, KNN_MINKOWSKI_SQL),
    "cocoa_knn_lsh_pairs": (knn_lsh_pairs, _knn_lsh_sql),
    "cocoa_knn_lsh_planned": (knn_lsh_planned, _knn_lsh_planned_sql),
    "cocoa_lsh_recall_audit": (lsh_recall_audit, _lsh_recall_audit_sql),
    "cocoa_radius_lsh_pairs": (radius_lsh_pairs, _radius_lsh_sql),
    "cocoa_radius_lsh_adjust": (radius_lsh_adjust, _radius_lsh_adjust_sql),
    "cocoa_percentile_lsh_adjust": (
        percentile_lsh_adjust,
        _percentile_lsh_adjust_sql,
    ),
    "cocoa_knn_proportional": (knn_proportional, KNN_PROPORTIONAL_SQL),
    "cocoa_radius_adjust": (radius_adjust, RADIUS_ADJUST_SQL),
    "cocoa_radius_adjust_grouped": (radius_adjust_grouped, RADIUS_ADJUST_SQL),
    "cocoa_radius_summary": (radius_summary, RADIUS_SUMMARY_SQL),
    "cocoa_percentile_adjust": (percentile_adjust, PERCENTILE_ADJUST_SQL),
    "cocoa_percentile_adjust_grouped": (
        percentile_adjust_grouped,
        PERCENTILE_ADJUST_SQL,
    ),
    "cocoa_nearest_distances": (nearest_distances, NEAREST_DISTANCES_SQL),
    "cocoa_clean_union": (clean_customers, CLEAN_SQL),
    "cocoa_max_event_date": (max_event_date, MAX_EVENT_DATE_SQL),
    "cocoa_lookback_dates": (lookback_dates, LOOKBACK_DATES_SQL),
}
