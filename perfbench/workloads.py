"""Workload definitions and the seeded input generator.

Each workload is a lookback window of dates with a consent and a
no-consent table in the CoCoA shape (FIXTURES.md F2/F3): a unique
``gclid`` per row and side, an ISO ``conversion_date`` string, a
lognormal ``conversion_value`` and the feature columns.  The generator
writes ONE unpartitioned parquet dataset per side, so each date's
``scan_between_dates`` filters the whole table the way the reference's
BigQuery date predicate does.  The program only ever sees these files.

About 1% of the rows on each side carry a zero conversion value, so the
pipeline's cleaning step removes real rows and the checker's
"one output row per cleaned consent row" rule has something to catch.
"""

from __future__ import annotations

import dataclasses
import datetime
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: one-hot schema: three categorical levels of 3 x 25 x 12 values (at most
#: 900 distinct feature vectors, the F3 adgroup split into its levels)
LEVEL_SIZES = (3, 25, 12)
#: Zipf exponent of the categorical draws: a few hot classes, a long tail
ZIPF_S = 2.0
#: share of rows per side whose conversion value is 0 (dropped by cleaning)
ZERO_VALUE_SHARE = 0.01
#: dense feature grid: values are multiples of 1 / DENSE_STEPS
DENSE_STEPS = 1024
FIRST_DATE = datetime.date(2024, 3, 1)


@dataclasses.dataclass(frozen=True)
class Workload:
    name: str
    n_dates: int
    n_consent: int  # rows per date, before cleaning
    n_noconsent: int
    features: str  # "onehot" | "dense"
    k: int | None = None
    percentile: float | None = None
    dense_width: int = 16
    #: untimed passes between the cold pass and the timed ones: over a
    #: three-date window the first warm pass still runs 20-45% slower than
    #: the next (JIT and Python workers still settling); over one date the
    #: first two warm passes agree
    warmup_passes: int = 0
    expected_route: str = "numpy"

    @property
    def dates(self) -> list[str]:
        return [
            (FIRST_DATE + datetime.timedelta(days=i)).isoformat()
            for i in range(self.n_dates)
        ]

    def scaled(self, factor: float) -> "Workload":
        """The same workload with every per-date row count times ``factor``."""
        return dataclasses.replace(
            self,
            n_consent=max(8, int(self.n_consent * factor)),
            n_noconsent=max(4, int(self.n_noconsent * factor)),
        )


WORKLOADS = {
    w.name: w
    for w in (
        # production shape: many small one-hot days; per-date fixed costs
        # dominate and every date routes to the numpy kernel
        Workload(
            name="window_small_days",
            n_dates=3,
            n_consent=2_000,
            n_noconsent=500,
            features="onehot",
            k=5,
            warmup_passes=1,
            expected_route="numpy",
        ),
        # one dense 16-feature day: non-binary L1 distances, the similarity
        # kernel is nearly all of the time.  Runnable by name; BENCHMARK.json
        # leaves it out because a third workload does not fit the run budget
        Workload(
            name="day_dense",
            n_dates=1,
            n_consent=4_000,
            n_noconsent=1_250,
            features="dense",
            k=5,
            expected_route="numpy",
        ),
        # one large one-hot day in percentile mode: the class-grid (grouped)
        # kernel, an eager percentile pass, class-fused adjust.  The smallest
        # 4:1 day whose row grid (5000 x 21000) exceeds the numpy kernel's
        # 1e8-pair budget, so ``auto`` takes the grouped route
        Workload(
            name="window_large_days",
            n_dates=1,
            n_consent=21_000,
            n_noconsent=5_000,
            features="onehot",
            percentile=0.9,
            expected_route="grouped",
        ),
    )
}


def adjustment_config(w: Workload):
    from consent_based_conversion_adjustments_spark.config import (
        AdjustmentConfig,
    )

    return AdjustmentConfig(
        conversion_column="conversion_value",
        id_columns=["gclid"],
        date_column="conversion_date",
        metric="manhattan",
        number_nearest_neighbors=w.k,
        percentile=w.percentile,
    )


def _zipf_choice(
    rng: np.random.Generator, ranking: np.ndarray, size: int
) -> np.ndarray:
    p = 1.0 / np.arange(1, len(ranking) + 1) ** ZIPF_S
    return ranking[rng.choice(len(ranking), size=size, p=p / p.sum())]


def _side_table(
    rng: np.random.Generator,
    w: Workload,
    side: str,
    n_per_date: int,
    rankings: list[np.ndarray],
) -> pa.Table:
    n = n_per_date * w.n_dates
    dates = np.repeat(np.array(w.dates), n_per_date)
    value = rng.lognormal(1.0, 1.0, size=n)
    value[rng.random(n) < ZERO_VALUE_SHARE] = 0.0
    cols = {
        # fixed-width ids: lexicographic order == numeric order, so the
        # (distance, build_id) tie-break is easy to reproduce independently
        "gclid": np.char.add(f"{side}-", np.char.zfill(np.arange(n).astype(str), 8)),
        "conversion_date": dates,
        "conversion_value": value,
    }
    if w.features == "onehot":
        for i, ranking in enumerate(rankings):
            cols[f"level_{i}"] = np.char.add(
                f"l{i}v", _zipf_choice(rng, ranking, n).astype(str)
            )
    else:
        # rounded to a multiple of 2^-10 (about 3 decimals): every L1
        # distance is then exact in float64 whatever the summation order,
        # so equal distances are true ties, broken by build id alone
        for j in range(w.dense_width):
            cols[f"f{j:02d}"] = np.round(rng.standard_normal(n) * DENSE_STEPS) / DENSE_STEPS
    # rows of a date are interleaved over the file, so a date filter touches
    # every row group like a real append-ordered table
    order = rng.permutation(n)
    return pa.table({k: v[order] for k, v in cols.items()})


def feature_columns(table_columns) -> list[str]:
    return [c for c in table_columns if c.startswith(("level_", "f"))]


def generate(w: Workload, seed: int, out_dir: str) -> dict:
    """Write ``consent.parquet`` and ``noconsent.parquet`` under ``out_dir``
    and return the input description recorded with every run."""
    rng = np.random.default_rng([seed, len(w.name)] + [ord(c) for c in w.name])
    os.makedirs(out_dir, exist_ok=True)
    # which value of a level is hot is seeded, and shared by both sides:
    # consenting and non-consenting customers come from one population
    rankings = [rng.permutation(size) for size in LEVEL_SIZES]
    info = {"rows_per_date": {}, "distinct_vectors": {}, "input_bytes": 0}
    for side, n in (("consent", w.n_consent), ("noconsent", w.n_noconsent)):
        t = _side_table(rng, w, side, n, rankings)
        path = os.path.join(out_dir, f"{side}.parquet")
        pq.write_table(t, path, row_group_size=16_384)
        info["input_bytes"] += os.path.getsize(path)
        info["rows_per_date"][side] = n
        # distinct vectors summed over dates: the class-contraction unit is
        # one date's table
        keys = feature_columns(t.column_names) + ["conversion_date"]
        info["distinct_vectors"][side] = (
            t.select(keys).group_by(keys).aggregate([]).num_rows
        )
    info["feature_width"] = (
        sum(LEVEL_SIZES) if w.features == "onehot" else w.dense_width
    )
    return info
