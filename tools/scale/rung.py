"""sf1.0 scale rungs: time registered queries at sf0.1 and at an organic
10x build of the sf0.1 tables, one fresh JVM per leg.

Run:  python tools/scale/rung.py {sf1_cocoa|sf1_corpus|sf1_stream} [query ...]

Each recipe builds its sf1.0 directory under /tmp (once; later runs reuse
it), then runs each query at sf0.1 and at sf1.0 and prints one JSON line
``{"query", "sf", "sec"}`` per leg to stdout. Nothing is written under
``tools/``; the committed ``results_sf1_*.json`` files are the records of
earlier runs. Default queries per recipe:

- ``sf1_cocoa``: the six cocoa flagship queries. The registry's
  ``cocoa_{knn,radius,percentile}_adjust`` run ``impl="auto"``, the route
  the ``auto:*`` rows of results_sf1_corpus_r12.json timed (the
  ``bench.py`` board pins ``impl="numpy"`` instead).
- ``sf1_corpus``: the corpus/dedup headline set.
- ``sf1_stream``: the streaming / admission state-store set.

Why organic builds instead of identical-copy tiles: tiles flatter
dedup-shaped operators (every duplicate is EXACT, so identity-class
collapse absorbs the blow-up) and flatter the state store (tiled users
add no keys). The recipes:

- ``make_sf1``: bootstrap-resample the customer table 10x. The joint
  (c_mktsegment, c_nationkey) distribution that defines the one-hot
  feature space is preserved; fresh sequential c_custkey keeps the %5
  consent split at 80/20; c_acctbal gets +-1% multiplicative jitter.
- ``make_sf1_corpus``: bootstrap the documents 10x and drop ~2% of each
  copy's tokens (near duplicates at word-level Jaccard ~0.96, which the
  MinHash S-curve must actually catch); bootstrap the embeddings 10x with
  sigma=0.01 gaussian jitter + renormalization.
- ``make_sf1_stream``: events x10 with a fresh user population per copy,
  +-10 min timestamp jitter, 2% row drop, +-5% value jitter and fresh
  event ids; documents from ``make_sf1_corpus``.

Tables a recipe does not rebuild are symlinked from sf0.1. Timing runs
must be serialized on an idle host (PERF.md bench hygiene).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, REPO)
from bench import SF_DIR as SRC  # noqa: E402  (the sf0.1 tables)

COCOA_DST = "/tmp/scale_sf1"
CORPUS_DST = "/tmp/scale_sf1_corpus"
STREAM_DST = "/tmp/scale_sf1_stream"
FACTOR = 10
COCOA_SEED = 11
CORPUS_SEED = 12
STREAM_SEED = 113
DROP_RATE = 0.02
COPIES = 10
TS_JITTER_S = 600.0
USER_STRIDE = 100_000
TIMEOUT_S = 2400.0

#: one fresh-JVM leg: bench.py's warmup, then the registered query through
#: the noop sink; bench.SF_DIR follows SPARK_GRAFT_SF_DIR, which leg() sets
#: to the leg's directory
LEG = """
import json, sys, time
sys.path.insert(0, {repo!r})
import bench
from consent_based_conversion_adjustments_spark.session import get_spark
import __spark_entry__ as e
fn = e.queries()[{name!r}]
spark = get_spark()
bench.warmup(spark)
t0 = time.time()
bench.force(fn(spark, bench.SF_DIR))
print(json.dumps({{"query": {name!r}, "sec": round(time.time() - t0, 3)}}))
"""


def _link_others(dst: str, rebuilt: tuple[str, ...]) -> None:
    os.makedirs(dst, exist_ok=True)
    for fname in os.listdir(SRC):
        if fname in rebuilt:
            continue
        link = os.path.join(dst, fname)
        if not os.path.exists(link):
            os.symlink(os.path.join(SRC, fname), link)


def make_sf1() -> str:
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    _link_others(COCOA_DST, ("customer.parquet",))
    out_path = os.path.join(COCOA_DST, "customer.parquet")
    if os.path.exists(out_path):
        return COCOA_DST
    tbl = pq.read_table(os.path.join(SRC, "customer.parquet"))
    df = tbl.to_pandas()
    n = len(df) * FACTOR
    rng = np.random.default_rng(COCOA_SEED)
    boot = df.iloc[rng.integers(0, len(df), size=n)].reset_index(drop=True)
    boot["c_custkey"] = np.arange(1, n + 1, dtype=boot["c_custkey"].dtype)
    boot["c_acctbal"] = (
        boot["c_acctbal"].astype("float64")
        * (1.0 + rng.uniform(-0.01, 0.01, size=n))
    ).round(2)
    pq.write_table(
        pa.Table.from_pandas(boot, preserve_index=False), out_path
    )
    print(f"wrote {out_path}: {n} customers (bootstrap x{FACTOR} of sf0.1)",
          file=sys.stderr)
    return COCOA_DST


def make_sf1_corpus() -> str:
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    _link_others(CORPUS_DST, ("documents.parquet", "embeddings.parquet"))
    doc_path = os.path.join(CORPUS_DST, "documents.parquet")
    emb_path = os.path.join(CORPUS_DST, "embeddings.parquet")
    if os.path.exists(doc_path) and os.path.exists(emb_path):
        return CORPUS_DST
    # one generator draws the documents, then the embeddings: build both
    # whenever either is missing, so a rebuild reproduces the fresh build
    rng = np.random.default_rng(CORPUS_SEED)

    df = pq.read_table(os.path.join(SRC, "documents.parquet")).to_pandas()
    n = len(df) * FACTOR
    boot = df.iloc[rng.integers(0, len(df), size=n)].reset_index(drop=True)

    def mutate(text: str) -> str:
        words = text.split(" ")
        if len(words) < 4:
            return text
        keep = rng.uniform(size=len(words)) >= DROP_RATE
        keep[0] = True  # never empty a doc
        return " ".join(w for w, k in zip(words, keep) if k)

    boot["text"] = [mutate(t) for t in boot["text"]]
    boot["doc_id"] = np.arange(1, n + 1, dtype="int64")
    boot["n_chars"] = boot["text"].str.len().astype("int64")
    pq.write_table(pa.Table.from_pandas(boot, preserve_index=False), doc_path)
    print(f"wrote {doc_path}: {n} docs (bootstrap x{FACTOR}, "
          f"{DROP_RATE:.0%} token drop)", file=sys.stderr)

    df = pq.read_table(os.path.join(SRC, "embeddings.parquet")).to_pandas()
    n = len(df) * FACTOR
    boot = df.iloc[rng.integers(0, len(df), size=n)].reset_index(drop=True)
    M = np.array(boot["embedding"].tolist(), dtype="float32")
    M = M + rng.normal(scale=0.01, size=M.shape).astype("float32")
    M = M / np.linalg.norm(M, axis=1, keepdims=True)
    boot["embedding"] = list(M)
    boot["vec_id"] = np.arange(1, n + 1, dtype="int64")
    pq.write_table(pa.Table.from_pandas(boot, preserve_index=False), emb_path)
    print(f"wrote {emb_path}: {n} vecs (bootstrap x{FACTOR}, "
          "jitter+renorm)", file=sys.stderr)
    return CORPUS_DST


def make_sf1_stream() -> str:
    import numpy as np
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    _link_others(STREAM_DST, ("events.parquet", "documents.parquet"))
    ev_path = os.path.join(STREAM_DST, "events.parquet")
    if not os.path.exists(ev_path):
        rng = np.random.default_rng(STREAM_SEED)
        df = pq.read_table(os.path.join(SRC, "events.parquet")).to_pandas()
        parts = []
        for c in range(COPIES):
            keep = rng.uniform(size=len(df)) >= DROP_RATE
            copy = df[keep].copy()
            copy["user_id"] = copy["user_id"] + c * USER_STRIDE
            jit = rng.uniform(-TS_JITTER_S, TS_JITTER_S, size=len(copy))
            copy["ts"] = copy["ts"] + (jit * 1e9).astype("timedelta64[ns]")
            copy["value"] = (
                copy["value"] * (1.0 + rng.uniform(-0.05, 0.05, size=len(copy)))
            ).round(2)
            parts.append(copy)
        out = pd.concat(parts, ignore_index=True)
        out = out.sort_values("ts", kind="stable").reset_index(drop=True)
        out["event_id"] = np.arange(len(out), dtype="int64")
        pq.write_table(pa.Table.from_pandas(out, preserve_index=False), ev_path)
        print(f"wrote {ev_path}: {len(out)} organic events ({COPIES}x, fresh "
              f"users, ts/value jitter, {DROP_RATE:.0%} drop)", file=sys.stderr)

    doc_path = os.path.join(STREAM_DST, "documents.parquet")
    if not os.path.exists(doc_path):
        os.symlink(
            os.path.join(make_sf1_corpus(), "documents.parquet"), doc_path
        )
    return STREAM_DST


RECIPES = {
    "sf1_cocoa": (make_sf1, [
        "cocoa_knn_adjust",
        "cocoa_radius_adjust",
        "cocoa_percentile_adjust",
        "cocoa_knn_lsh_pairs",
        "cocoa_radius_lsh_adjust",
        "cocoa_percentile_lsh_adjust",
    ]),
    "sf1_corpus": (make_sf1_corpus, [
        "corpus_pretrain_ids",
        "dedup_minhash",
        "dedup_minhash_collapsed",
        "dedup_clusters",
        "semdedup_admission",
    ]),
    "sf1_stream": (make_sf1_stream, [
        "admission_round",
        "streaming_click_purchase_join",
        "streaming_attribution_rounds",
        "streaming_cms_rounds",
        "streaming_sketch_cube_audit",
    ]),
}


def leg(name: str, sf_dir: str) -> float | None:
    """Seconds for one fresh-JVM leg of registered query ``name``, or None
    (with the stderr tail) when it fails or times out."""
    env = dict(os.environ)
    env["PYTHONPATH"] = REPO + os.pathsep + env.get("PYTHONPATH", "")
    env["SPARK_GRAFT_SF_DIR"] = sf_dir
    code = LEG.format(repo=REPO, name=name)
    try:
        out = subprocess.run(
            [sys.executable, "-c", code], env=env, capture_output=True,
            text=True, timeout=TIMEOUT_S, cwd=REPO,
        )
    except subprocess.TimeoutExpired:
        print(f"  !! {name} @ {sf_dir}: timed out", file=sys.stderr)
        return None
    for line in reversed(out.stdout.strip().splitlines()):
        try:
            rec = json.loads(line)
        except json.JSONDecodeError:
            continue
        if rec.get("query") == name:
            return float(rec["sec"])
    print(f"  !! {name} @ {sf_dir}: no timing; stderr tail:", file=sys.stderr)
    print("\n".join(out.stderr.strip().splitlines()[-5:]), file=sys.stderr)
    return None


def main(argv: list[str]) -> int:
    if not argv or argv[0] not in RECIPES:
        print(f"usage: rung.py {{{'|'.join(RECIPES)}}} [query ...]",
              file=sys.stderr)
        return 2
    build, defaults = RECIPES[argv[0]]
    names = argv[1:] or defaults
    dst = build()
    for sf_label, sf_dir in (("sf0.1", SRC), ("sf1.0", dst)):
        for name in names:
            sec = leg(name, sf_dir)
            print(json.dumps({"query": name, "sf": sf_label, "sec": sec}),
                  flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
