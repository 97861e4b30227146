"""Self-test of the benchmark itself.  Run from the repository root:

    python3 perfbench/selftest.py

Runs every workload once with tracing off and once with it on, at a scale
small enough for a few minutes in total but large enough to keep each
workload's route, and checks that

- every metric ``BENCHMARK.json`` names is emitted with its unit;
- the similarity-join route counts match the workload definitions;
- the output checker accepts a real output and rejects two perturbed
  copies of it: one adjusted value +1.0, and a row keyed by a no-consent id.

Exits 0 when every check holds and 1 otherwise.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import run  # noqa: E402
from tracing import ROUTES  # noqa: E402
from workloads import WORKLOADS, generate  # noqa: E402

SEED = 7
#: per-workload row scale: the grouped route needs the full one-date size
#: (its row grid must exceed the numpy kernel's pair budget)
SCALE = {"window_small_days": 0.1, "day_dense": 0.25, "window_large_days": 1.0}


def expected_units(kind: str) -> dict[str, str]:
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec[kind]}


def metric_problems(w, trace: bool) -> list[str]:
    result = run.measure(w, SEED, 0.0, trace)
    got = {name: m["unit"] for name, m in result["metrics"].items()}
    want = expected_units("per_layer" if trace else "end_to_end")
    # the spec may leave out a metric the program prints; it may not ask
    # for one the program does not print
    problems = [
        f"{w.name} trace={int(trace)}: {name} missing or not in {unit}"
        for name, unit in want.items()
        if got.get(name) != unit
    ]
    if not result["correct"] or result["failed"]:
        problems.append(f"{w.name} trace={int(trace)}: run not correct")
    if trace:
        routes = {r: result["metrics"][f"similarity_join.route.{r}"]["value"] for r in ROUTES}
        want_routes = {r: w.n_dates if r == w.expected_route else 0 for r in ROUTES}
        if routes != want_routes:
            problems.append(f"{w.name}: routes {routes}, expected {want_routes}")
    return problems


def checker_problems() -> list[str]:
    """The checker accepts a real output and rejects two perturbations."""
    w = WORKLOADS["window_small_days"].scaled(SCALE["window_small_days"])
    work_root = os.path.join(run.ROOT, ".perfbench_work")
    os.makedirs(work_root, exist_ok=True)
    work = tempfile.mkdtemp(prefix="selftest-", dir=work_root)
    try:
        run.pin_environment(work)
        data_dir, out = os.path.join(work, "data"), os.path.join(work, "out")
        generate(w, SEED, data_dir)
        inputs = check.read_inputs(data_dir)
        spark, _ = run.start_session(work)
        try:
            p = run.run_pass(spark, w, data_dir, out, "selftest")
        finally:
            run.stop_session(spark)
        if p.error is not None:
            return ["selftest pass raised"]
        date = w.dates[0]
        consent = check.cleaned(inputs["consent"], date)
        noconsent = check.cleaned(inputs["noconsent"], date)
        data, summary = check.read_output(out, date)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    problems = []
    if check.check_date(data, summary, consent, noconsent):
        problems.append("checker rejects a correct output")
    bumped = data.copy()
    bumped.loc[bumped.index[0], "adjusted_conversion"] += 1.0
    if not check.check_date(bumped, summary, consent, noconsent):
        problems.append("checker accepts an adjusted value +1.0")
    foreign = data.copy()
    foreign.loc[foreign.index[0], "gclid"] = noconsent["gclid"].iloc[0]
    if not check.check_date(foreign, summary, consent, noconsent):
        problems.append("checker accepts a row keyed by a no-consent id")
    return problems


def main() -> int:
    problems = checker_problems()
    for name, w in WORKLOADS.items():
        scaled = w.scaled(SCALE[name])
        for trace in (False, True):
            problems += metric_problems(scaled, trace)
    for msg in problems:
        print(f"FAIL {msg}")
    print("selftest", "FAILED" if problems else "OK")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
