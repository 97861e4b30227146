"""Every top-level def and class of the package has a caller outside tests.

A name whose only occurrence in the code of the package, ``bench.py``,
``__spark_entry__.py``, ``tools/``, ``perfbench/`` or ``examples/`` is its
own definition is reached only from tests: it is dead weight that still
has to be kept green. Delete it (with the tests that check only it), or
allowlist it here with the reason it stays. Comments and docstrings are
prose, not callers, so they are not counted; other strings are, because
``perfbench/tracing.py`` names the functions it wraps in strings.
"""

import ast
import io
import re
import tokenize
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = ROOT / "consent_based_conversion_adjustments_spark"
CALLERS = ("bench.py", "__spark_entry__.py", "tools", "perfbench", "examples")
ALLOWED = {
    # the batch reference that test_session_formulations_agree checks
    # session_stats against
    "session_window_stats",
    # the quadratic all-pairs oracle the MinHash and prefix-filter tests
    # compare the scale routes against
    "jaccard_pairs",
    # the quadratic oracle of ngram_jaccard_pairs_scalable
    "ngram_jaccard_pairs",
    # one call over _bitmap_vocab + _bitmap_apply (the verify stage calls
    # the halves); the test pins the bitmap / array route switch with it
    "_bitmap_masks",
    # the video frame fan-out operator; no registered query decodes video
    "sample_video_frames",
    # the exact all-pairs cosine baseline of the near-duplicate tests
    "cosine_neardup_pairs",
    # the LSH near-duplicate operator the docstrings name as the scale
    # route for high thresholds; its recall is tested
    "cosine_neardup_lsh",
    # executes plan_compaction's plan; no registered query rewrites files
    "compact_parquet",
    # the public O5 streaming trigger entry point, run by the restart tests
    "run_dates_streaming",
}


def _sources():
    roots = [PACKAGE] + [ROOT / c for c in CALLERS]
    for root in roots:
        for path in [root] if root.is_file() else sorted(root.rglob("*.py")):
            yield path, path.read_text()


def _code_words(text):
    """``(line, word)`` for every ``\\w+`` word of the code and of its
    non-docstring strings; comments and docstrings (bare string
    statements) are skipped."""
    doc_starts = {
        (node.lineno, node.col_offset)
        for node in ast.walk(ast.parse(text))
        if isinstance(node, ast.Expr)
        and isinstance(node.value, ast.Constant)
        and isinstance(node.value.value, str)
    }
    in_doc = False
    for tok in tokenize.generate_tokens(io.StringIO(text).readline):
        if tok.type == tokenize.STRING and tok.start in doc_starts:
            in_doc = True
        elif tok.type == tokenize.NEWLINE:
            in_doc = False
        if in_doc or tok.type == tokenize.COMMENT:
            continue
        for word in re.findall(r"\w+", tok.string):
            yield tok.start[0], word


def test_every_package_def_has_a_non_test_caller():
    words = {path: list(_code_words(text)) for path, text in _sources()}
    tokens = Counter(w for ws in words.values() for _, w in ws)
    orphans = []
    for path, ws in words.items():
        if not path.is_relative_to(PACKAGE):
            continue
        for node in ast.parse(path.read_text()).body:
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                continue
            own = sum(
                1
                for line, w in ws
                if w == node.name and node.lineno <= line <= node.end_lineno
            )
            if tokens[node.name] == own and node.name not in ALLOWED:
                orphans.append(f"{path.relative_to(ROOT)}:{node.lineno} {node.name}")
    assert not orphans, "defs reached only from tests:\n" + "\n".join(orphans)
