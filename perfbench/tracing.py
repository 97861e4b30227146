"""Per-layer tracing from outside the program.

``Tracer.install`` wraps, in this process only, the functions
``pipeline.py`` calls into each layer module.  Because the wrappers sit on
what the pipeline actually calls, the spans follow its real composition.
Each wrapper

- sets a Spark job group of its own and records a span (name, layer,
  start, end, parent, date);
- forces and persists every lazy DataFrame it returns, so that layer's
  work runs inside its own span instead of inside whichever later call
  first consumes the frame;
- afterwards, the group's jobs, tasks, executor run time and shuffle
  bytes are read from the status store.

Spans stay in memory until ``write``.  A span's self time is its duration
minus the union of its children's intervals; the root span
(``pipeline.run_dates``) keeps as self time everything no layer covers,
which is the ``pipeline`` remainder.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import time

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

PKG = "consent_based_conversion_adjustments_spark"

#: (module, function, layer, span name).  ``pipeline`` entries are the
#: pipeline's own eager steps; everything else is a layer module's public
#: function as imported by pipeline.py (plus the two similarity_join
#: helpers it imports at call time and the build-matrix collect).
WRAPPED = (
    ("pipeline", "_per_date_auto_stats", "pipeline", "auto_stats"),
    ("sources.io", "scan_between_dates", "sources.io", "scan"),
    ("sources.io", "write_adjustments_csv", "sources.io", "sink"),
    ("operators.preprocess", "union_encode_split", "preprocess", "encode"),
    ("operators.similarity_join", "resolve_auto_impl", "similarity_join", "dispatch"),
    ("operators.similarity_join", "_collect_build_matrix", "similarity_join", "kernel"),
    ("operators.similarity_join", "percentile_radius", "similarity_join", "percentile"),
    ("operators.similarity_join", "adjust_partials_numpy", "similarity_join", "kernel"),
    ("operators.similarity_join", "probe_class_ids", "similarity_join", "kernel"),
    ("operators.similarity_join", "knn_topk_classes", "similarity_join", "kernel"),
    ("operators.similarity_join", "radius_classes", "similarity_join", "kernel"),
    ("operators.adjust", "distribute_from_partials", "adjust", "scatter"),
    ("operators.adjust", "distribute_from_class_pairs", "adjust", "scatter"),
    ("operators.adjust", "distribute_conversions", "adjust", "scatter"),
    ("operators.summary", "summary_statistics", "summary", "summary"),
)
LAYERS = ("pipeline", "sources.io", "preprocess", "similarity_join", "adjust", "summary")
ROUTES = ("numpy", "grouped", "lsh", "sql")


def covered_s(intervals) -> float:
    """Length of the union of (start, end) intervals."""
    total, cur_end = 0.0, None
    for lo, hi in sorted(intervals):
        if cur_end is not None:
            lo = max(lo, cur_end)
        if hi > lo:
            total += hi - lo
        cur_end = hi if cur_end is None else max(cur_end, hi)
    return total


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._persisted: list[DataFrame] = []
        self._patches: list[tuple[object, str, object]] = []
        self.date: str | None = None
        self.routes = {r: 0 for r in ROUTES}
        self.distances = 0
        self.pairs_out = 0
        self.adjusted_rows = 0
        self.sink_bytes = 0
        #: (impl, n_probe, n_build, d_probe, d_build) of the current date
        self._route = None

    # -- spans ---------------------------------------------------------------

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        idx = len(self.spans)
        group = f"perfbench-span-{idx}"
        rec = {
            "id": idx,
            "name": name,
            "layer": layer,
            "parent": self._stack[-1] if self._stack else None,
            "date": self.date,
            "group": group,
            "start": time.perf_counter(),
        }
        self.spans.append(rec)
        self._stack.append(idx)
        self.sc.setJobGroup(group, name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self._stack:
                parent = self.spans[self._stack[-1]]
                self.sc.setJobGroup(parent["group"], parent["name"])

    def _force(self, value):
        frames = value if isinstance(value, tuple) else (value,)
        for df in frames:
            if isinstance(df, DataFrame):
                df.persist(StorageLevel.MEMORY_AND_DISK)
                df.count()
                self._persisted.append(df)

    def release(self) -> None:
        for df in self._persisted:
            df.unpersist()
        self._persisted.clear()

    # -- wrappers ------------------------------------------------------------

    def _observe(self, fname: str, args, kwargs, result) -> None:
        """Counts taken at the boundary, from the call and its result."""
        if fname == "scan_between_dates":
            return
        if fname == "resolve_auto_impl":
            impl, n_p, n_b = result
            self.routes[impl] = self.routes.get(impl, 0) + 1
            self._route = (
                impl, n_p, n_b, kwargs.get("d_probe") or 0, kwargs.get("d_build") or 0
            )
        elif fname == "adjust_partials_numpy":
            _, n_p, n_b, _, _ = self._route
            self.distances += n_p * n_b
            k = kwargs.get("k")
            if k is not None:
                self.pairs_out += n_p * min(int(k), n_b)
        elif fname == "percentile_radius":
            impl, n_p, n_b, d_p, d_b = self._route
            self.distances += d_p * d_b if impl == "grouped" else n_p * n_b
        elif fname in ("knn_topk_classes", "radius_classes"):
            _, _, _, d_p, d_b = self._route
            self.distances += d_p * d_b
            self.pairs_out += result.count()
        elif fname.startswith("distribute_"):
            self.adjusted_rows += result.count()
        elif fname == "write_adjustments_csv":
            base, date = args[2], args[3]
            for dirpath, _, files in os.walk(os.path.join(base, date)):
                self.sink_bytes += sum(
                    os.path.getsize(os.path.join(dirpath, f)) for f in files
                )

    def _wrap(self, fn, fname: str, layer: str, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if fname == "scan_between_dates":
                self.date = str(args[2])
            with self.span(name, layer):
                result = fn(*args, **kwargs)
                self._force(result)
                self._observe(fname, args, kwargs, result)
            return result

        return traced

    def install(self) -> None:
        import importlib

        pipeline = importlib.import_module(f"{PKG}.pipeline")
        for mod_name, fname, layer, name in WRAPPED:
            mod = importlib.import_module(f"{PKG}.{mod_name}")
            orig = getattr(mod, fname)
            wrapped = self._wrap(orig, fname, layer, name)
            targets = {mod}
            if hasattr(pipeline, fname):
                targets.add(pipeline)
            for target in targets:
                self._patches.append((target, fname, getattr(target, fname)))
                setattr(target, fname, wrapped)

    def uninstall(self) -> None:
        for target, fname, orig in reversed(self._patches):
            setattr(target, fname, orig)
        self._patches.clear()

    # -- results ---------------------------------------------------------------

    def self_times(self) -> None:
        """Fill ``self_s`` on every span: duration minus children's union."""
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        for s in self.spans:
            kids = children.get(s["id"], [])
            covered = covered_s((c["start"], c["end"]) for c in kids)
            s["self_s"] = (s["end"] - s["start"]) - covered

    def write(self, path: str, extra: dict) -> None:
        t0 = self.spans[0]["start"] if self.spans else 0.0
        out = [
            {**s, "start": s["start"] - t0, "end": s["end"] - t0}
            for s in self.spans
        ]
        with open(path, "w") as f:
            json.dump({"spans": out, **extra}, f, indent=1)
