"""CoCoA flagship benchmark: ``pipeline.run_dates`` from parquet scan to CSV sink.

Run from the repository root:

    python3 perfbench/run.py --workload window_small_days --seed 1 \\
        --seconds 5 --trace 0

One run generates the workload's consent / no-consent parquet tables from
``--seed`` (``workloads.py``), then acts as a single closed-loop client:
one ``run_dates`` call over the whole lookback window at a time, in a
fresh ``local[nproc]`` session.

``--trace 0`` (end-to-end metrics, tracing off):
  ``setup_s``        median of three fresh-JVM ``get_spark`` calls
  ``first_window_s`` first pass in the fresh process (JIT, codegen and
                     Python-worker spawn included)
  ``window_s``       median of the warm passes run for ``--seconds`` (at
                     least one; the count is printed), after the workload's
                     untimed warm-up passes
  ``rows_per_s``     input rows (both sides, all dates) / ``window_s``
  ``jobs``           Spark jobs per warm pass (median)
  ``peak_rss_mb``    JVM + Python-worker VmHWM at the end of the run
  ``matched_value_pct``  matched / total no-consent value, from the CSVs

``--trace 1`` (per-layer metrics): the cold and warm-up passes, one warm
untraced pass, then a traced pass (``tracing.py``) whose CSVs must be byte-identical to the
warm pass's.  Its span file lands in ``.perfbench_work/spans/``.

Every output CSV of every pass is checked (``check.py``); a date that
raised or failed the check counts as failed (``failed`` of ``attempted``
in the result).  The last stdout line is the JSON result; the lines
before it are a human-readable report, including the session sizing
(``SPARK_GRAFT_CPUS`` = the CPUs this process may use, a driver heap of a
quarter of RAM capped at 4 GiB) and ``bench.host_fingerprint()``, so host
drift can be told apart from a regression.
"""

from __future__ import annotations

import argparse
import dataclasses
import glob
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

# the program and the host probe come first: without them there is nothing
# to measure and the run fails before it prints a result
import bench  # noqa: E402
from consent_based_conversion_adjustments_spark import pipeline  # noqa: E402
from consent_based_conversion_adjustments_spark.session import get_spark  # noqa: E402

import check  # noqa: E402
from tracing import LAYERS, ROUTES, Tracer, covered_s  # noqa: E402
from workloads import (  # noqa: E402
    WORKLOADS,
    Workload,
    adjustment_config,
    feature_columns,
    generate,
)

SETUPS = 3
#: probes sampled for the dense workload's top-k comparison
TOPK_SAMPLE = 64

END_TO_END_UNITS = {
    "setup_s": "s",
    "first_window_s": "s",
    "window_s": "s",
    "rows_per_s": "rows/s",
    "jobs": "count",
    "peak_rss_mb": "MB",
    "matched_value_pct": "%",
}


def per_layer_units() -> dict[str, str]:
    units = {
        "session.start_s": "s",
        "pipeline.jobs_per_date": "count",
        "pipeline.auto_stats_s": "s",
        "pipeline.driver_gap_s": "s",
        "pipeline.cached_rdds_after": "count",
        "sources.io.scan_s": "s",
        "sources.io.sink_s": "s",
        "sources.io.sink_bytes": "bytes",
        "preprocess.encode_s": "s",
        "preprocess.distinct_ratio": "ratio",
        "similarity_join.dispatch_s": "s",
        **{f"similarity_join.route.{r}": "count" for r in ROUTES},
        "similarity_join.kernel_s": "s",
        "similarity_join.distances": "count",
        "similarity_join.distances_per_s": "1/s",
        "similarity_join.percentile_s": "s",
        "similarity_join.pairs_out": "count",
        "similarity_join.useful_ratio": "ratio",
        "adjust.scatter_s": "s",
        "adjust.shuffle_bytes": "bytes",
        "adjust.rows_out": "count",
        "summary.summary_s": "s",
        "trace.overhead_pct": "%",
    }
    for layer in LAYERS:
        units[f"{layer}.jobs"] = "count"
        units[f"{layer}.task_s"] = "s"
        units[f"{layer}.failed_tasks"] = "count"
    return units


# -- host and session ------------------------------------------------------------


def pin_environment(work: str) -> dict:
    """Session sizing from the host, and every scratch path inside ``work``.
    Must run before the first JVM starts: the JVM and its Python workers
    inherit this environment."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_mb = int(f.readline().split()[1]) // 1024
    # the 48g session default does not fit a small host; a quarter of RAM,
    # capped, leaves room for the Python workers and for other tenants
    heap_mb = max(1024, min(4096, mem_mb // 4))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_DRIVER_MEM=f"{heap_mb}m",
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        SPARK_WAREHOUSE_DIR=os.path.join(work, "warehouse"),
        COCOA_SCRATCH_DIR=os.path.join(work, "scratch"),
        TMPDIR=tmp,
        PYTHONPATH=os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
    )
    tempfile.tempdir = None  # re-read TMPDIR
    return {"cpus": cpus, "driver_heap_mb": heap_mb, "mem_total_mb": mem_mb}


def session_conf(work: str) -> dict[str, str]:
    heap_mb = int(os.environ["SPARK_DRIVER_MEM"].rstrip("m"))
    return {
        # a fixed heap and young generation: left to itself, G1 grows the
        # heap on timing-dependent decisions and the JVM's VmHWM then
        # scatters by a fifth from run to run on the same input
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
            f" -Xms{heap_mb}m -Xmn{heap_mb // 8}m"
        ),
        "spark.ui.showConsoleProgress": "false",
        # every job of a traced pass must still be in the status store
        "spark.ui.retainedJobs": "10000",
        "spark.ui.retainedStages": "10000",
    }


def _status(pid: int) -> dict[str, str]:
    try:
        with open(f"/proc/{pid}/status") as f:
            return dict(line.split(":", 1) for line in f if ":" in line)
    except OSError:  # the process ended meanwhile
        return {}


def _descendants(pid: int) -> list[int]:
    parent = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        parent[int(stat.split("/")[2])] = int(fields[1])
    out, frontier = [], [pid]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out += kids
        frontier += kids
    return out


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def peak_rss_mb(pid: int) -> float:
    """JVM VmHWM plus the VmHWM of every Python worker under it."""
    kb = 0
    for p in [pid] + _descendants(pid):
        st = _status(p)
        if p == pid or st.get("Name", "").strip().startswith("python"):
            kb += int(st.get("VmHWM", "0 kB").split()[0])
    return kb / 1024.0


def stop_session(spark) -> None:
    """Stop the session AND its JVM, then wait for the JVM and the Python
    workers it started, so the next ``get_spark`` is a fresh process."""
    from pyspark import SparkContext

    pid = jvm_pid(spark)
    children = _descendants(pid)
    spark.stop()
    gateway = SparkContext._gateway
    SparkContext._gateway = None
    SparkContext._jvm = None
    gateway.shutdown()
    proc = gateway.proc
    proc.stdin.close()  # the gateway server exits on EOF
    proc.wait(timeout=120)
    deadline = time.monotonic() + 60
    while any(_status(c) for c in children) and time.monotonic() < deadline:
        time.sleep(0.05)


def start_session(work: str):
    t0 = time.perf_counter()
    spark = get_spark("perfbench", extra_conf=session_conf(work))
    return spark, time.perf_counter() - t0


# -- one pass ------------------------------------------------------------------------


@dataclasses.dataclass
class Pass:
    out_dir: str
    wall_s: float = 0.0
    jobs: int = 0
    job_ids: tuple = ()
    error: str | None = None
    cached_rdds_after: int = 0


def run_pass(spark, w: Workload, data_dir: str, out_dir: str, group: str) -> Pass:
    """One closed-loop call: read both tables, ``run_dates`` over the window."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    p = Pass(out_dir)
    t0 = time.perf_counter()
    try:
        consent = spark.read.parquet(os.path.join(data_dir, "consent.parquet"))
        noconsent = spark.read.parquet(os.path.join(data_dir, "noconsent.parquet"))
        pipeline.run_dates(
            spark, consent, noconsent, adjustment_config(w), w.dates, out_dir
        )
    except Exception:  # a failed pass is a measured outcome, not a crash
        p.error = traceback.format_exc()
        print(p.error, file=sys.stderr)
    p.wall_s = time.perf_counter() - t0
    p.job_ids = tuple(sc.statusTracker().getJobIdsForGroup(group))
    p.jobs = len(p.job_ids)
    # what run_dates left cached; released so every pass starts alike.
    # Unpersisting the RDDs alone is not enough: the cache manager would
    # keep their plans, and the next pass would match them and recompute
    # the released data instead of running its own plan.
    persistent = sc._jsc.getPersistentRDDs()
    p.cached_rdds_after = persistent.size()
    spark.catalog.clearCache()
    for rdd in list(persistent.values()):
        rdd.unpersist(True)
    return p


# -- checking ------------------------------------------------------------------------


def check_pass(p: Pass, w: Workload, inputs: dict) -> tuple[int, float, float]:
    """(failed dates, matched value, no-consent value) of one pass."""
    if p.error is not None:
        return w.n_dates, 0.0, 0.0
    failed, matched, total = 0, 0.0, 0.0
    for date in w.dates:
        consent = check.cleaned(inputs["consent"], date)
        noconsent = check.cleaned(inputs["noconsent"], date)
        try:
            data, summary = check.read_output(p.out_dir, date)
            problems = check.check_date(data, summary, consent, noconsent)
        except (OSError, ValueError, KeyError) as e:
            problems = [f"unreadable output: {e}"]
        if problems:
            failed += 1
            print(f"check {date}: {'; '.join(problems)}", file=sys.stderr)
        else:
            matched += float(summary["total_matched_conversion_value"])
            total += float(noconsent["conversion_value"].sum())
    return failed, matched, total


def reference_problems(
    spark, w: Workload, data_dir: str, out_dir: str, inputs: dict, seed: int
) -> list[str]:
    """Compare the first date against the independent re-derivation."""
    date = w.dates[0]
    consent = check.cleaned(inputs["consent"], date)
    noconsent = check.cleaned(inputs["noconsent"], date)
    feats = feature_columns(consent.columns)
    if w.features == "onehot":
        data, _ = check.read_output(out_dir, date)
        expected = check.reference_adjusted(
            consent, noconsent, feats, k=w.k, percentile=w.percentile
        )
        return check.compare_adjusted(data, expected)
    # dense: the top-k sets of a seeded probe sample, through the program's
    # own run_adjustment on that sample (a probe's kNN does not depend on the
    # other probes, and numeric features need no fitted encoder)
    from pyspark.sql import functions as F

    sample = noconsent.sample(n=min(TOPK_SAMPLE, len(noconsent)), random_state=seed)
    expected = check.reference_topk(consent, sample, feats, w.k)
    c = spark.read.parquet(os.path.join(data_dir, "consent.parquet"))
    nc = spark.read.parquet(os.path.join(data_dir, "noconsent.parquet"))
    result = pipeline.run_adjustment(
        c.filter(F.col("conversion_date") == date),
        nc.filter(F.col("gclid").isin(list(sample["gclid"]))),
        adjustment_config(w),
    )
    got: dict[str, list[tuple[float, str]]] = {}
    for pid, bid, dist in result.matched_pairs.select(
        pipeline.PROBE_ID, pipeline.CONSENT_ID, "distance"
    ).collect():
        got.setdefault(pid, []).append((dist, bid))
    bad = sum(
        [b for _, b in sorted(got.get(pid, []))] != ids
        for pid, ids in expected.items()
    )
    return [f"{bad} of {len(expected)} sampled top-k sets differ"] if bad else []


def same_bytes(a: str, b: str, dates: list[str]) -> bool:
    """Every CSV of pass ``a`` equals pass ``b``'s byte for byte (the part
    file names carry a random id; their contents must not differ)."""
    for date in dates:
        for kind in ("adjustments_data", "adjustments_summary"):
            files = [
                sorted(glob.glob(os.path.join(d, date, kind, "part-*")))
                for d in (a, b)
            ]
            if len(files[0]) != len(files[1]) or not files[0]:
                return False
            for fa, fb in zip(*files):
                with open(fa, "rb") as x, open(fb, "rb") as y:
                    if x.read() != y.read():
                        return False
    return True


# -- status store --------------------------------------------------------------------


def group_stats(sc, job_ids) -> dict:
    """Jobs, failed tasks, executor run time and shuffle-write bytes of
    ``job_ids``, plus each job's (submitted, completed) wall interval."""
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    out = {"jobs": len(job_ids), "failed_tasks": 0, "task_s": 0.0,
           "shuffle_bytes": 0, "intervals": []}
    stage_ids = set()
    for jid in job_ids:
        info = tracker.getJobInfo(jid)
        if info is not None:
            stage_ids.update(info.stageIds)
        job = store.job(jid)
        sub, done = job.submissionTime(), job.completionTime()
        if sub.isDefined() and done.isDefined():
            out["intervals"].append(
                (sub.get().getTime() / 1e3, done.get().getTime() / 1e3)
            )
    for sid in stage_ids:
        stage = store.lastStageAttempt(sid)  # skipped stages read as zeros
        out["task_s"] += stage.executorRunTime() / 1e3
        out["failed_tasks"] += stage.numFailedTasks()
        out["shuffle_bytes"] += stage.shuffleWriteBytes()
    return out


# -- runs ------------------------------------------------------------------------------


def _check_all(passes, w, inputs) -> tuple[int, int, float]:
    """(attempted dates, failed dates, matched value %) over ``passes``."""
    failed, pct = 0, None
    for p in passes:
        f, matched, total = check_pass(p, w, inputs)
        failed += f
        if pct is None and f == 0 and total > 0:
            pct = 100.0 * matched / total
    return w.n_dates * len(passes), failed, pct or 0.0


def timed_run(w: Workload, seed: int, seconds: float, work: str, data_dir: str,
              inputs: dict, report: list) -> dict:
    setups = []
    for i in range(SETUPS):
        spark, s = start_session(work)
        setups.append(s)
        if i < SETUPS - 1:
            stop_session(spark)
    out = os.path.join(work, "out")
    try:
        # the cold pass, then the untimed warm-up passes
        passes = [
            run_pass(spark, w, data_dir, f"{out}/{i}", f"perfbench-pass-{i}")
            for i in range(1 + w.warmup_passes)
        ]
        deadline = time.perf_counter() + seconds
        while len(passes) == 1 + w.warmup_passes or time.perf_counter() < deadline:
            i = len(passes)
            passes.append(run_pass(spark, w, data_dir, f"{out}/{i}", f"perfbench-pass-{i}"))
        rss = peak_rss_mb(jvm_pid(spark))
        attempted, failed, pct = _check_all(passes, w, inputs)
        problems = reference_problems(spark, w, data_dir, f"{out}/0", inputs, seed)
    finally:
        stop_session(spark)
    warm = passes[1 + w.warmup_passes:]
    window_s = statistics.median(p.wall_s for p in warm)
    rows = (w.n_consent + w.n_noconsent) * w.n_dates
    report.append(f"setups (s): {[round(s, 3) for s in setups]}")
    report.append(f"warm passes: {len(warm)} (s): {[round(p.wall_s, 3) for p in warm]}")
    report.append(f"failed_ops: {failed}/{attempted} dates")
    for msg in problems:
        report.append(f"re-derivation: {msg}")
    return {
        "correct": failed == 0 and not problems,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            "setup_s": statistics.median(setups),
            "first_window_s": passes[0].wall_s,
            "window_s": window_s,
            "rows_per_s": rows / window_s,
            "jobs": statistics.median(p.jobs for p in warm),
            "peak_rss_mb": rss,
            "matched_value_pct": pct,
        },
    }


def traced_run(w: Workload, seed: int, work: str, data_dir: str, inputs: dict,
               info: dict, report: list, spans_path: str) -> dict:
    spark, start_s = start_session(work)
    sc = spark.sparkContext
    out = os.path.join(work, "out")
    tracer = Tracer(spark)
    try:
        untimed = [run_pass(spark, w, data_dir, f"{out}/cold", "perfbench-cold")] + [
            run_pass(spark, w, data_dir, f"{out}/warmup{i}", f"perfbench-warmup-{i}")
            for i in range(w.warmup_passes)
        ]
        warm = run_pass(spark, w, data_dir, f"{out}/warm", "perfbench-warm")
        warm_stats = group_stats(sc, warm.job_ids)
        tracer.install()
        try:
            with tracer.span("run_dates", "pipeline") as root:
                traced = run_pass(spark, w, data_dir, f"{out}/traced", root["group"])
        finally:
            tracer.uninstall()
            tracer.release()
        layer_stats = {
            layer: group_stats(sc, [
                j for s in tracer.spans if s["layer"] == layer
                for j in sc.statusTracker().getJobIdsForGroup(s["group"])
            ])
            for layer in LAYERS
        }
        attempted, failed, _ = _check_all(untimed + [warm, traced], w, inputs)
        problems = reference_problems(spark, w, data_dir, f"{out}/warm", inputs, seed)
    finally:
        stop_session(spark)
    parity = traced.error is None and same_bytes(f"{out}/warm", f"{out}/traced", w.dates)

    tracer.self_times()
    root_span = tracer.spans[0]
    wall = root_span["end"] - root_span["start"]
    self_by_layer = {layer: 0.0 for layer in LAYERS}
    self_by_name: dict[str, float] = {}
    for s in tracer.spans:
        self_by_layer[s["layer"]] += s["self_s"]
        self_by_name[s["name"]] = self_by_name.get(s["name"], 0.0) + s["self_s"]
    accounted = abs(sum(self_by_layer.values()) - wall) < 1e-6
    kernel_s = self_by_name.get("kernel", 0.0) + self_by_name.get("percentile", 0.0)
    distinct = sum(info["distinct_vectors"].values())
    rows = (w.n_consent + w.n_noconsent) * w.n_dates
    metrics = {
        "session.start_s": start_s,
        "pipeline.jobs_per_date": warm.jobs / w.n_dates,
        "pipeline.auto_stats_s": self_by_name.get("auto_stats", 0.0),
        "pipeline.driver_gap_s": warm.wall_s - covered_s(warm_stats["intervals"]),
        "pipeline.cached_rdds_after": warm.cached_rdds_after,
        "sources.io.scan_s": self_by_name.get("scan", 0.0),
        "sources.io.sink_s": self_by_name.get("sink", 0.0),
        "sources.io.sink_bytes": tracer.sink_bytes,
        "preprocess.encode_s": self_by_name.get("encode", 0.0),
        "preprocess.distinct_ratio": distinct / rows,
        "similarity_join.dispatch_s": self_by_name.get("dispatch", 0.0),
        **{f"similarity_join.route.{r}": tracer.routes.get(r, 0) for r in ROUTES},
        "similarity_join.kernel_s": self_by_name.get("kernel", 0.0),
        "similarity_join.distances": tracer.distances,
        "similarity_join.distances_per_s": tracer.distances / kernel_s if kernel_s else 0.0,
        "similarity_join.percentile_s": self_by_name.get("percentile", 0.0),
        "similarity_join.pairs_out": tracer.pairs_out,
        "similarity_join.useful_ratio": (
            tracer.pairs_out / tracer.distances if tracer.distances else 0.0
        ),
        "adjust.scatter_s": self_by_name.get("scatter", 0.0),
        "adjust.shuffle_bytes": layer_stats["adjust"]["shuffle_bytes"],
        "adjust.rows_out": tracer.adjusted_rows,
        "summary.summary_s": self_by_name.get("summary", 0.0),
        "trace.overhead_pct": 100.0 * (wall - warm.wall_s) / warm.wall_s,
    }
    for layer in LAYERS:
        metrics[f"{layer}.jobs"] = layer_stats[layer]["jobs"]
        metrics[f"{layer}.task_s"] = layer_stats[layer]["task_s"]
        metrics[f"{layer}.failed_tasks"] = layer_stats[layer]["failed_tasks"]

    report.append(f"traced pass {wall:.3f} s vs warm untraced {warm.wall_s:.3f} s "
                  f"(overhead {metrics['trace.overhead_pct']:.1f}%)")
    report.append(f"{'layer':<16}{'self_s':>9}{'share':>8}{'jobs':>6}{'task_s':>9}")
    for layer in LAYERS:
        report.append(
            f"{layer:<16}{self_by_layer[layer]:9.3f}"
            f"{100 * self_by_layer[layer] / wall:7.1f}%"
            f"{layer_stats[layer]['jobs']:6d}{layer_stats[layer]['task_s']:9.3f}"
        )
    report.append(f"{'total':<16}{sum(self_by_layer.values()):9.3f}"
                  f" (traced wall {wall:.3f} s, accounted: {accounted})")
    report.append(f"traced CSVs byte-identical to the untraced pass: {parity}")
    report.append(f"failed_ops: {failed}/{attempted} dates")
    for msg in problems:
        report.append(f"re-derivation: {msg}")
    tracer.write(spans_path, {"workload": w.name, "seed": seed, "metrics": metrics,
                              "self_s_by_layer": self_by_layer})
    report.append(f"spans: {os.path.relpath(spans_path, ROOT)}")
    return {
        "correct": failed == 0 and not problems and parity and accounted,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }


def measure(w: Workload, seed: int, seconds: float, trace: bool) -> dict:
    """One benchmark run; returns the result object plus a ``report``."""
    work_root = os.path.join(ROOT, ".perfbench_work")
    os.makedirs(os.path.join(work_root, "spans"), exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{w.name}-{seed}-", dir=work_root)
    try:
        host = pin_environment(work)
        host.update(bench.host_fingerprint())
        data_dir = os.path.join(work, "data")
        info = generate(w, seed, data_dir)
        inputs = check.read_inputs(data_dir)
        report = [
            f"workload {w.name} seed {seed}: {w.n_dates} dates x "
            f"{w.n_consent} consent / {w.n_noconsent} no-consent rows",
            f"inputs: {json.dumps(info)}",
            f"host: {json.dumps(host)}",
        ]
        if trace:
            spans_path = os.path.join(work_root, "spans", f"{w.name}-seed{seed}.json")
            result = traced_run(w, seed, work, data_dir, inputs, info, report, spans_path)
            units = per_layer_units()
        else:
            result = timed_run(w, seed, seconds, work, data_dir, inputs, report)
            units = END_TO_END_UNITS
    finally:
        shutil.rmtree(work, ignore_errors=True)
    result["metrics"] = {
        name: {"value": result["metrics"][name], "unit": unit}
        for name, unit in units.items()
    }
    for name, m in result["metrics"].items():
        report.append(f"{name:<36} {m['value']:>16.6g} {m['unit']}")
    result["report"] = report
    return result


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t0 = time.perf_counter()
    result = measure(WORKLOADS[args.workload], args.seed, args.seconds, bool(args.trace))
    for line in result.pop("report"):
        print(line)
    print(f"run wall {time.perf_counter() - t0:.1f} s")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
