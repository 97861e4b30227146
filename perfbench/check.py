"""Output checker and an independent numpy re-derivation of CoCoA.

Every per-date CSV pair the pipeline writes is checked for four things:

- only consenting ids appear (no no-consent ``gclid``);
- ids are unique;
- one row per cleaned consent row (``conversion_value > 0``);
- value conservation: ``sum(adjusted_conversion)`` and
  ``sum(naive_adjusted_conversion) - sum(conversion_value)`` both equal the
  summary's ``total_matched_conversion_value`` to 1e-9 relative.  (The
  ``adjusted_conversion`` column holds only the redistributed share — the
  reference never adds the row's own value — so the "adjusted minus
  original" form of the invariant holds on the naive column.)

One date per workload is also compared against ``reference_adjusted``
(the one-hot workloads, full ``adjusted_conversion`` column through class
contraction) or ``reference_topk`` (the dense workload, top-k sets of a
seeded probe sample with the (distance, build_id) tie-break).  Neither
imports the package: they restate the algorithm from the reference
(nearest_consented_customers.py) in plain numpy.
"""

from __future__ import annotations

import glob
import os

import numpy as np
import pandas as pd

REL_TOL = 1e-9


def read_inputs(data_dir: str) -> dict[str, pd.DataFrame]:
    return {
        side: pd.read_parquet(os.path.join(data_dir, f"{side}.parquet"))
        for side in ("consent", "noconsent")
    }


def cleaned(df: pd.DataFrame, date: str) -> pd.DataFrame:
    """The rows the pipeline keeps for ``date``: positive, non-null value."""
    day = df[df["conversion_date"] == date]
    return day[day["conversion_value"].notna() & (day["conversion_value"] > 0)]


def _read_single_csv(path: str) -> pd.DataFrame:
    parts = sorted(glob.glob(os.path.join(path, "part-*.csv")))
    if len(parts) != 1:
        raise ValueError(f"{path}: expected one part file, found {len(parts)}")
    return pd.read_csv(parts[0], dtype={"gclid": str})


def read_output(out_dir: str, date: str) -> tuple[pd.DataFrame, pd.Series]:
    data = _read_single_csv(os.path.join(out_dir, date, "adjustments_data"))
    summary = _read_single_csv(os.path.join(out_dir, date, "adjustments_summary"))
    if len(summary) != 1:
        raise ValueError(f"{date}: summary has {len(summary)} rows, expected 1")
    return data, summary.iloc[0]


def _close(a: float, b: float) -> bool:
    return abs(a - b) <= REL_TOL * max(1.0, abs(a), abs(b))


def check_date(
    data: pd.DataFrame,
    summary: pd.Series,
    consent: pd.DataFrame,
    noconsent: pd.DataFrame,
) -> list[str]:
    """Problems with one date's output; empty when it is correct.
    ``consent`` / ``noconsent`` are that date's cleaned input rows."""
    problems = []
    ids = data["gclid"]
    if ids.isin(noconsent["gclid"]).any():
        problems.append("output keyed by a no-consent id")
    if not ids.is_unique:
        problems.append("duplicate ids in output")
    if len(data) != len(consent) or not ids.isin(consent["gclid"]).all():
        problems.append(
            f"{len(data)} output rows for {len(consent)} cleaned consent rows"
        )
    total = float(summary["total_matched_conversion_value"])
    if not _close(float(data["adjusted_conversion"].sum()), total):
        problems.append("sum(adjusted_conversion) != total matched value")
    naive_gain = float(
        data["naive_adjusted_conversion"].sum() - data["conversion_value"].sum()
    )
    if not _close(naive_gain, total):
        problems.append("sum(naive) - sum(original) != total matched value")
    if total > float(noconsent["conversion_value"].sum()) * (1 + REL_TOL):
        problems.append("matched value exceeds the no-consent total")
    return problems


# -- independent re-derivation ------------------------------------------------


def _onehot_codes(consent: pd.DataFrame, noconsent: pd.DataFrame, cols):
    """Integer code per (row, level); both sides share one code book, as the
    pipeline's encoder is fitted over the union of the two sides."""
    both = pd.concat([consent[cols], noconsent[cols]], ignore_index=True)
    codes = np.stack(
        [pd.factorize(both[c])[0] for c in cols], axis=1
    ).astype(np.int64)
    return codes[: len(consent)], codes[len(consent):]


def reference_adjusted(
    consent: pd.DataFrame,
    noconsent: pd.DataFrame,
    feature_cols: list[str],
    *,
    k: int | None = None,
    percentile: float | None = None,
) -> pd.Series:
    """``adjusted_conversion`` per consent ``gclid`` for a one-hot date.

    Every probe row of a feature class shares one softmax distribution over
    build rows, so the scatter-add contracts to
    ``adjusted[b] = sum_c convsum_c * w(c, b)``.  The one-hot Manhattan
    distance between two rows is twice the number of levels that differ.
    """
    build = consent.sort_values("gclid", kind="stable")
    b_codes, p_codes = _onehot_codes(build, noconsent, feature_cols)
    b_cls, b_of_row = np.unique(b_codes, axis=0, return_inverse=True)
    p_cls, p_of_row = np.unique(p_codes, axis=0, return_inverse=True)
    b_of_row = b_of_row.ravel()
    p_of_row = p_of_row.ravel()
    conv = noconsent["conversion_value"].to_numpy(np.float64)
    convsum = np.bincount(p_of_row, weights=conv, minlength=len(p_cls))
    D_cls = 2.0 * (p_cls[:, None, :] != b_cls[None, :, :]).sum(axis=2)
    adjusted = np.zeros(len(build))
    if percentile is not None:
        nearest = D_cls.min(axis=1)[p_of_row]
        radius = float(np.percentile(nearest, percentile * 100.0))
    for c in range(len(p_cls)):
        d_rows = D_cls[c, b_of_row]
        if k is not None:
            # rows are in gclid order: a stable sort is (distance, build_id)
            idx = np.argsort(d_rows, kind="stable")[:k]
        else:
            idx = np.nonzero(d_rows <= radius)[0]
            if len(idx) == 0:
                continue
        d = d_rows[idx]
        e = np.exp(d.min() - d)
        adjusted[idx] += convsum[c] * e / e.sum()
    return pd.Series(adjusted, index=build["gclid"].to_numpy())


def compare_adjusted(data: pd.DataFrame, expected: pd.Series) -> list[str]:
    got = data.set_index("gclid")["adjusted_conversion"].reindex(expected.index)
    if got.isna().any():
        return ["output is missing consent ids the re-derivation has"]
    diff = np.abs(got.to_numpy() - expected.to_numpy())
    tol = REL_TOL * np.maximum(1.0, np.abs(expected.to_numpy()))
    bad = int((diff > tol).sum())
    return [f"{bad} adjusted values differ from the re-derivation"] if bad else []


def reference_topk(
    consent: pd.DataFrame,
    probes: pd.DataFrame,
    feature_cols: list[str],
    k: int,
) -> dict[str, list[str]]:
    """probe gclid -> its k nearest consent gclids (Manhattan, ties broken by
    the smaller build id)."""
    build = consent.sort_values("gclid", kind="stable")
    B = build[feature_cols].to_numpy(np.float64)
    b_ids = build["gclid"].to_numpy()
    out = {}
    for pid, x in zip(probes["gclid"], probes[feature_cols].to_numpy(np.float64)):
        d = np.abs(B - x).sum(axis=1)
        out[pid] = list(b_ids[np.argsort(d, kind="stable")[:k]])
    return out
