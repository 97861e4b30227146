"""End-to-end conversion-adjustment pipeline (SURVEY.md §3.2).

The per-date analytic query of the engine:

    scan consent / scan noconsent
      → clean → union-encode-split (shared one-hot feature space)
      → similarity join (kNN | radius | percentile auto-radius)
      → softmax weighting → scatter-add aggregation (+ naive baseline)
      → data_adjusted + 1-row summary  → per-date CSV sink

reference: pipeline.py:200-239 (ConversionAdjustments.process) →
preprocess.py:108-148 → nearest_consented_customers.py:470-524.

Parallelism is inverted vs the reference (SURVEY.md §2.9 O2): the reference
schedules one date per Beam worker and runs single-node pandas inside; here
each date is a fully distributed Spark job (probe side partitioned across
executors, build side broadcast), and the date loop is driver-side — the
right trade at 100 TB where one date's data alone exceeds a node.
"""

from __future__ import annotations

import dataclasses
import datetime
import logging
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from .config import AdjustmentConfig
from .operators.adjust import (
    distribute_conversions,
    distribute_from_class_pairs,
    distribute_from_partials,
)
from .operators.preprocess import union_encode_split
from .operators.similarity_join import (
    _collect_build_matrix,
    adjust_partials_numpy,
    match_join,
    percentile_radius,
    resolve_auto_impl,
)
from .operators.summary import summary_statistics
from .sources.io import scan_between_dates, write_adjustments_csv

PROBE_ID = "__probe_row_id"
CONSENT_ID = "__consent_row_id"

logger = logging.getLogger(__name__)


@dataclass
class AdjustmentResult:
    data_adjusted: DataFrame
    summary: DataFrame
    matched_pairs: DataFrame
    #: probes that found no neighbor (non-empty only in radius / percentile
    #: mode, or when the build side is empty) — the distributed form of the
    #: reference's per-customer "No matching customers within radius_value"
    #: warning (nearest_consented_customers.py:178-179). Lazy anti-join;
    #: count it to surface the diagnostic.
    unmatched_probes: DataFrame | None = None
    #: every frame ``run_adjustment`` persisted for this result
    _persisted: list[DataFrame] = field(default_factory=list, repr=False)

    def release(self) -> None:
        """Unpersist everything this result persisted. The lazy frames stay
        usable; consuming one afterwards recomputes it."""
        for df in self._persisted:
            df.unpersist()


def _row_id(df: DataFrame, id_columns: list[str], name: str) -> DataFrame:
    """Stable per-row key from the configured id columns.

    The reference keys the scatter-add on the pandas row index
    (nearest_consented_customers.py:317-319, J7); Spark has no positional
    index, so the id columns themselves are the key — this is exactly the
    index→id resolution step J7 dissolving into the join.

    REQUIREMENT: the id-column tuple must be unique per row on each side.
    The reference tolerates duplicate ids because its key is positional;
    here a duplicated consent id would receive the full aggregated share
    once per copy (double-counting) and duplicated probe ids would merge
    distinct probes into one softmax window. ``run_adjustment(...,
    check_id_uniqueness=True)`` asserts this cheaply (count vs
    countDistinct) before running.
    """
    if len(id_columns) == 1:
        return df.withColumn(name, F.col(id_columns[0]))
    return df.withColumn(name, F.concat_ws("§", *[F.col(c).cast("string") for c in id_columns]))


def run_adjustment(
    consent: DataFrame,
    noconsent: DataFrame,
    config: AdjustmentConfig,
    *,
    impl: str = "auto",
    feature_engineering=None,
    check_id_uniqueness: bool = False,
    auto_stats: tuple[int, int, int, int] | None = None,
) -> AdjustmentResult:
    """The full per-date adjustment query. Returns lazy DataFrames.

    ``impl="auto"`` (default) resolves the physical join strategy ONCE up
    front via ``choose_impl`` — one count job, then the measured budgets
    (a 1e8-pair grid and a 128 MB build matrix, PERF.md rounds 11-12) pick
    the numpy broadcast kernel, the grouped dictionary kernel or the
    beyond-broadcast LSH route. The reference makes the same call inside
    sklearn (``NearestNeighbors(algorithm='auto')``,
    nearest_consented_customers.py:67); here the choice is between
    DISTRIBUTED plans, so it lives at the pipeline dispatch. Explicit
    ``impl=`` pins the strategy: the three ``*_grouped`` registrations pin
    "grouped" and ``tools/audit_plans.py`` pins "sql" and "numpy" to audit
    their plans; the ``bench.py`` board and the other registrations run
    "auto" (the ``*_lsh_*`` registrations call the LSH joins directly).

    An empty consent side raises ``ValueError`` in every mode, as
    sklearn's ``fit`` does on an empty index; an empty no-consent side
    adjusts nothing and its summary counts 0 matches.

    ``check_id_uniqueness`` runs one eager count-vs-countDistinct pass per
    side and raises if the configured id columns do not key rows uniquely
    (see ``_row_id`` for why duplicates would silently double-count).

    ``auto_stats``: precomputed ``(n_probe, n_build, d_probe, d_build)``
    for the auto dispatch — the per-date loop supplies them from ONE
    grouped pass over each table (``_per_date_auto_stats``) instead of
    paying a count job (plus two count-distincts past the grid
    budget) per date (VERDICT r12 §Next #7). Routing-only: every stat
    feeds ``choose_impl``; answers do not depend on them on the exact
    routes.
    """
    consent_p, noconsent_p, encoder = union_encode_split(
        consent, noconsent, config, feature_engineering=feature_engineering
    )
    keep = config.id_columns + [config.conversion_column]
    probe = _row_id(noconsent_p, config.id_columns, PROBE_ID).select(
        PROBE_ID, *keep, "features"
    )
    build = _row_id(consent_p, config.id_columns, CONSENT_ID).select(
        CONSENT_ID, *keep, "features"
    )
    if check_id_uniqueness:
        for side, df, key in (("probe", probe, PROBE_ID), ("build", build, CONSENT_ID)):
            row = df.agg(
                F.count(F.lit(1)).alias("n"),
                F.countDistinct(F.col(key)).alias("d"),
            ).first()
            if row["n"] != row["d"]:
                raise ValueError(
                    f"id columns {config.id_columns} are not unique on the "
                    f"{side} side ({row['n']} rows, {row['d']} distinct keys) "
                    "— duplicates would double-count in the scatter-add"
                )
    n_build = None
    if impl == "auto":
        sp, sb, dp, db = auto_stats if auto_stats is not None else (
            None, None, None, None
        )
        impl, n_probe, n_build = resolve_auto_impl(
            probe, build, "features", encoder.width,
            n_probe=sp, n_build=sb, d_probe=dp, d_build=db,
        )
        logger.info(
            "run_adjustment: impl='auto' resolved to %r "
            "(n_probe=%d, n_build=%d, feature_width=%d)",
            impl, n_probe, n_build, encoder.width,
        )
    build_matrix = None
    if impl == "numpy":
        # one eager collect shared by every numpy kernel below (pairs path,
        # percentile pass 1, fused adjust) — the build side is read once
        build_matrix = _collect_build_matrix(build, CONSENT_ID, "features")
        n_build = len(build_matrix[0])
    elif n_build is None:
        n_build = build.count()
    if n_build == 0:
        # sklearn's NearestNeighbors.fit raises on an empty index in every
        # mode (reference: nearest_consented_customers.py:67); fail the
        # same way before anything downstream runs
        raise ValueError(
            "the consent side has no rows — there is no consented customer "
            "to redistribute the no-consent conversions to"
        )
    cfg = config
    if config.percentile is not None:
        # resolve the auto-radius once (one eager percentile pass on the
        # chosen route) so the matched-pairs path and the fused adjust path
        # share it
        r = percentile_radius(
            probe,
            build,
            config.percentile,
            metric=config.metric,
            probe_id=PROBE_ID,
            build_id=CONSENT_ID,
            features="features",
            impl=impl,
            feature_width=encoder.width,
            build_matrix=build_matrix,
        )
        cfg = dataclasses.replace(config, percentile=None, radius=r)
    pairs = match_join(
        probe, build, k=cfg.number_nearest_neighbors, radius=cfg.radius,
        impl=impl, metric=cfg.metric, probe_id=PROBE_ID, build_id=CONSENT_ID,
        features="features", feature_width=encoder.width,
        build_matrix=build_matrix, n_build=n_build,
    )
    # the pairs feed three consumers (scatter-add aggs, naive-baseline
    # scalar, summary) — persist so the join runs once; m·k rows, spillable
    pairs = pairs.persist(StorageLevel.MEMORY_AND_DISK)
    persisted = [pairs]
    consent_keyed = build.drop("features")
    cls_pairs = None
    pc_ids = None
    if impl == "grouped":
        # class-fused scale path: every probe row of a feature class
        # shares the same softmax distribution, so W1+W2 factor through
        # (class, build-row) pairs — the row-level pair set is never
        # materialized for the adjusted output OR the summary (r12 rung,
        # sf1.0 radius flagship: 321 s row-level → 70 s fused, linear in
        # the matched-build-rows frame, vs the numpy grid's 164 s
        # quadratic). `pairs` above stays lazy unless matched_pairs is
        # consumed. r13: the expanded frames are keyed by the compact
        # dense class id (probe_class_ids), never the raw feature array
        # — the array-keyed pair frame swung 5.6–88 s at sf1.0 under
        # memory pressure; compact-keyed it runs ~6 s, stable.
        from .operators.similarity_join import (
            knn_topk_classes,
            probe_class_ids,
            radius_classes,
            resolve_k,
        )

        pc_ids = probe_class_ids(probe, "features").persist(
            StorageLevel.MEMORY_AND_DISK
        )
        probe_classes = (
            probe.groupBy(F.col("features").alias("__pf"))
            .agg(
                F.count(F.lit(1)).alias("__cnt"),
                F.sum(F.col(cfg.conversion_column)).alias("__convsum"),
            )
            .join(F.broadcast(pc_ids), "__pf")
            .select("__pcid", "__cnt", "__convsum")
        )
        if cfg.number_nearest_neighbors is not None:
            k = resolve_k(cfg.number_nearest_neighbors, n_build)
            cls_pairs = knn_topk_classes(
                probe, build, k, metric=cfg.metric, build_id=CONSENT_ID,
                features="features", feature_width=encoder.width,
                class_ids=pc_ids,
            )
        else:
            cls_pairs = radius_classes(
                probe, build, cfg.radius, metric=cfg.metric,
                build_id=CONSENT_ID, features="features",
                feature_width=encoder.width, class_ids=pc_ids,
            )
        cls_pairs = cls_pairs.persist(StorageLevel.MEMORY_AND_DISK)
        persisted += [pc_ids, cls_pairs]
        data_adjusted = distribute_from_class_pairs(
            consent_keyed,
            cls_pairs,
            probe_classes,
            build_id=CONSENT_ID,
            consent_id=CONSENT_ID,
            conversion_column=cfg.conversion_column,
        )
    elif impl == "numpy":
        # fused scale path: softmax + scatter-add run map-side inside the
        # kernel (adjust_partials_numpy) — the pair set is never
        # materialized for the adjusted output; `pairs` above stays lazy
        # unless matched_pairs / summary / unmatched_probes are consumed
        partials = adjust_partials_numpy(
            probe,
            build,
            k=cfg.number_nearest_neighbors,
            radius=cfg.radius,
            metric=cfg.metric,
            build_id=CONSENT_ID,
            features="features",
            conversion_column=cfg.conversion_column,
            build_matrix=build_matrix,
        ).persist(StorageLevel.MEMORY_AND_DISK)
        persisted.append(partials)
        data_adjusted = distribute_from_partials(
            consent_keyed,
            partials,
            consent_id=CONSENT_ID,
            conversion_column=cfg.conversion_column,
        )
    else:
        data_adjusted = distribute_conversions(
            consent_keyed,
            pairs,
            probe_id=PROBE_ID,
            build_id=CONSENT_ID,
            consent_id=CONSENT_ID,
            conversion_column=cfg.conversion_column,
        )
    data_adjusted = data_adjusted.drop(CONSENT_ID)
    if cls_pairs is not None:
        # matched probes = probes whose CLASS matched — a broadcast join
        # against the distinct matched classes (resolved back to vectors
        # through the d_p-row dictionary), never the row-level pairs
        matched_pf = pc_ids.join(
            cls_pairs.select("__pcid").distinct(), "__pcid"
        ).select("__pf")
        matched_ids = (
            probe.select(PROBE_ID, F.col("features").alias("__pf"))
            .join(F.broadcast(matched_pf), "__pf")
            .select(PROBE_ID)
        )
    else:
        matched_ids = pairs.select(PROBE_ID)
    summary = summary_statistics(
        _row_id(noconsent_p, config.id_columns, PROBE_ID),
        matched_ids,
        probe_id=PROBE_ID,
        conversion_column=config.conversion_column,
    )
    unmatched = probe.drop("features").join(
        matched_ids, on=PROBE_ID, how="left_anti"
    )
    return AdjustmentResult(
        data_adjusted=data_adjusted,
        summary=summary,
        matched_pairs=pairs,
        unmatched_probes=unmatched,
        _persisted=persisted,
    )


def _per_date_auto_stats(
    consent: DataFrame,
    noconsent: DataFrame,
    config: AdjustmentConfig,
) -> dict[str, tuple[int, int, int, int]]:
    """date → (n_probe, n_build, d_probe, d_build) in ONE grouped
    aggregation per side (VERDICT r12 §Next #7): the auto dispatch used
    to pay two count jobs — plus two count-distincts past the pair-grid
    budget — PER DATE inside the loop; the same numbers fall out of one
    pass over each cleaned table, grouped by day. Feature roles are
    dtype-driven and date-independent (``infer_feature_columns``), so
    the distinct-feature-vector count per date equals the distinct raw
    feature-tuple count (one-hot is injective on values; numerics pass
    through), hashed exactly as ``resolve_auto_impl`` hashes vectors.
    Dates absent from a side simply have no entry — callers fall back to
    in-loop resolution for them."""
    from .operators.preprocess import (
        add_consent_flag,
        clean_data,
        infer_feature_columns,
    )

    u = add_consent_flag(noconsent, 0).unionByName(add_consent_flag(consent, 1))
    u = u.drop(*[c for c in config.drop_columns if c in u.columns])
    categorical, numeric = infer_feature_columns(u, config)
    feat_cols = categorical + numeric
    per_side: list[dict[str, tuple[int, int]]] = []
    for df in (noconsent, consent):  # probe side first
        cleaned = clean_data(
            df.drop(*[c for c in config.drop_columns if c in df.columns]),
            config.conversion_column,
        )
        rows = (
            cleaned.groupBy(
                F.to_date(F.col(config.date_column))
                .cast("string")
                .alias("__d")
            )
            .agg(
                F.count(F.lit(1)).alias("n"),
                # no feature columns → every row is the same empty vector
                (
                    F.countDistinct(F.xxhash64(*feat_cols))
                    if feat_cols
                    else F.min(F.lit(1)).cast("long")
                ).alias("d"),
            )
            .collect()
        )
        per_side.append({r["__d"]: (r["n"], r["d"]) for r in rows})
    probe_stats, build_stats = per_side
    out: dict[str, tuple[int, int, int, int]] = {}
    for date in set(probe_stats) & set(build_stats):
        (np_, dp), (nb, db) = probe_stats[date], build_stats[date]
        out[date] = (np_, nb, dp, db)
    return out


def _adjust_dates(
    consent: DataFrame,
    noconsent: DataFrame,
    config: AdjustmentConfig,
    dates: list[str],
    impl: str,
):
    """The O1-O2 date loop every ``run_dates*`` entry point shares: yields
    ``(date, AdjustmentResult)``, one independent distributed adjustment per
    date (dates are independent model fits — the encoder and matches must
    not mix days), with the date filters pushed down to the scans
    (reference: pipeline.py:318-360). The caller owns each result's
    ``release()``."""
    if config.date_column is None:
        raise ValueError("the per-date loop requires config.date_column")
    stats = (
        _per_date_auto_stats(consent, noconsent, config)
        if impl == "auto"
        else {}
    )
    for date in dates:
        end = _next_day(date)
        c = scan_between_dates(consent, config.date_column, date, end)
        nc = scan_between_dates(noconsent, config.date_column, date, end)
        try:
            result = run_adjustment(c, nc, config, impl=impl,
                                    auto_stats=stats.get(date))
        except ValueError as err:
            raise ValueError(f"{date}: {err}") from err
        yield date, result


def run_dates(
    spark: SparkSession,
    consent: DataFrame,
    noconsent: DataFrame,
    config: AdjustmentConfig,
    dates: list[str],
    output_path: str,
    *,
    impl: str = "auto",
) -> None:
    """O1-O3 driver loop: one distributed job per date, each date's CSVs
    written before the next date starts and its cached frames released."""
    for date, result in _adjust_dates(consent, noconsent, config, dates, impl):
        write_adjustments_csv(
            result.data_adjusted, result.summary, output_path, date
        )
        if config.radius is not None or config.percentile is not None:
            # reference logs "No matching customers within radius_value ..."
            # per probe (nearest_consented_customers.py:178-179); here one
            # count over the persisted pairs' anti-join per date
            n_unmatched = result.unmatched_probes.count()
            if n_unmatched:
                logger.warning(
                    "%s: %d probes found no consented customer within the "
                    "configured radius — their conversions were not "
                    "redistributed",
                    date,
                    n_unmatched,
                )
        result.release()


def _next_day(date: str) -> str:
    """``date + 1 day`` on the driver — no Spark job for date arithmetic."""
    return (
        datetime.date.fromisoformat(date) + datetime.timedelta(days=1)
    ).isoformat()


def prepare_pipeline_input(
    spark: SparkSession,
    noconsent: DataFrame,
    date_column: str,
    lookback_days: int,
    output_path: str,
) -> list[str]:
    """Trigger-path parity: derive the lookback window from MAX(date) in the
    no-consent table and write the dates.txt the batch pipeline consumes.

    reference: cloud_function/main.py:86-142 (_prepare_pipeline_input —
    MAX-date query, date-window expansion, text blob upload).
    """
    from .sources.io import date_sequence, max_date

    latest = max_date(noconsent, date_column)
    dates = [
        str(r["date"])
        for r in date_sequence(spark, latest, lookback_days).collect()
    ]
    df = spark.createDataFrame([(d,) for d in dates], ["value"])
    df.coalesce(1).write.mode("overwrite").text(f"{output_path}/dates")
    return dates


def run_dates_collected(
    consent: DataFrame,
    noconsent: DataFrame,
    config: AdjustmentConfig,
    dates: list[str],
    *,
    impl: str = "auto",
) -> DataFrame:
    """The O1-O2 date loop without a sink: one independent distributed
    adjustment per date, unioned with a ``date`` literal column. Returning
    it lazily lets callers pick their own sink or feed it to further
    queries. Each date's cached intermediates are released before it
    returns, so consuming the frame recomputes the per-date plans and
    leaves nothing cached."""
    out = None
    for date, result in _adjust_dates(consent, noconsent, config, dates, impl):
        dated = result.data_adjusted.withColumn("date", F.lit(date))
        out = dated if out is None else out.unionByName(dated)
        result.release()
    return out


def run_dates_streaming(
    spark: SparkSession,
    consent: DataFrame,
    noconsent: DataFrame,
    config: AdjustmentConfig,
    dates_path: str,
    output_path: str,
    checkpoint_path: str,
    *,
    impl: str = "auto",
):
    """O5 trigger path as Structured Streaming: the dates.txt blob the
    trigger function writes (`prepare_pipeline_input`) becomes a
    file-source STREAM — each dates file that lands fires the per-date
    adjustment loop over exactly the newly arrived dates, with the
    file-source checkpoint providing exactly-once progress across
    restarts. The cron/PubSub launch collapses into the trigger choice:
    ``availableNow`` for a scheduled catch-up run, a processing-time
    trigger for a long-lived daemon; the engine-side semantics are
    identical either way.

    reference: cloud_function/main.py:86-142 (trigger writes dates.txt) +
    pipeline.py:318-360 (the batch loop). The loop body runs inside
    ``foreachBatch``: the micro-batch is collected (a dates file is a
    handful of date strings by construction — the collect is bounded by
    lookback_days, never by data), then ``run_dates`` runs those dates and
    writes the same ``<output_path>/<date>/adjustments_{data,summary}``
    layout as the batch loop.

    End-to-end semantics: the file-source checkpoint makes batch REPLAY
    at-least-once (a crash after the sink write but before the commit
    re-runs the micro-batch on restart). ``run_dates`` writes each date's
    directories with ``mode("overwrite")``, so a replayed batch rewrites
    them to the identical deterministic result instead of appending, and
    a later dates file containing an already-processed date supersedes
    that date's output (latest run wins) — the reference's per-date
    overwrite contract (reference pipeline.py:292-295 writes a fixed
    per-date object path, so re-runs replace).
    """
    if config.date_column is None:
        raise ValueError("run_dates_streaming requires config.date_column")
    stream = spark.readStream.format("text").load(dates_path)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        dates = sorted(
            {r["value"].strip() for r in batch_df.collect() if r["value"].strip()}
        )
        if dates:
            run_dates(
                spark, consent, noconsent, config, dates, output_path,
                impl=impl,
            )

    return (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
