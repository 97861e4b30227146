"""Every top-level def and class of the package has a caller outside tests.

A name whose only occurrence in the package, ``bench.py``,
``__spark_entry__.py``, ``tools/``, ``perfbench/`` or ``examples/`` is its
own definition is reached only from tests: it is dead weight that still
has to be kept green. Delete it (with the tests that check only it), or
allowlist it here with the reason it stays.
"""

import ast
import re
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = ROOT / "consent_based_conversion_adjustments_spark"
CALLERS = ("bench.py", "__spark_entry__.py", "tools", "perfbench", "examples")
ALLOWED = {
    # the batch reference that test_session_formulations_agree checks
    # session_stats against
    "session_window_stats",
}


def _sources():
    roots = [PACKAGE] + [ROOT / c for c in CALLERS]
    for root in roots:
        for path in [root] if root.is_file() else sorted(root.rglob("*.py")):
            yield path, path.read_text()


def test_every_package_def_has_a_non_test_caller():
    sources = dict(_sources())
    tokens = Counter(t for text in sources.values() for t in re.findall(r"\w+", text))
    orphans = []
    for path, text in sources.items():
        if not path.is_relative_to(PACKAGE):
            continue
        lines = text.splitlines()
        for node in ast.parse(text).body:
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                continue
            body = "\n".join(lines[node.lineno - 1 : node.end_lineno])
            own = re.findall(rf"\b{re.escape(node.name)}\b", body)
            if tokens[node.name] == len(own) and node.name not in ALLOWED:
                orphans.append(f"{path.relative_to(ROOT)}:{node.lineno} {node.name}")
    assert not orphans, "defs reached only from tests:\n" + "\n".join(orphans)
