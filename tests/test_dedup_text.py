"""Dedup + text operators vs pure-Python oracles."""

import hashlib

import pytest
import pyspark.sql.functions as F

from consent_based_conversion_adjustments_spark.operators import dedup as D
from consent_based_conversion_adjustments_spark.operators import text as X


DOCS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
    (3, "dog lazy the over jumps fox brown quick the"),  # reorder of 1
    (4, "a completely different document about spark engines"),
    (5, "the quick brown fox jumps over the lazy cat"),  # near-dup of 1
    (6, "der hund ist nicht die katze und das ist gut"),  # German stopwords
]


def py_hash(s: str) -> int:
    acc = 0
    for ch in s:
        acc = (acc * 31 + ord(ch)) % 1_000_000_007
    return acc


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.createDataFrame(DOCS, ["doc_id", "text"])


def test_string_hash_matches_python(spark, docs_df):
    rows = docs_df.select("doc_id", X.string_hash("text").alias("h")).collect()
    for r in rows:
        expected = py_hash(dict(DOCS)[r["doc_id"]])
        assert r["h"] == expected


def test_exact_dedup_groups(docs_df):
    out = {r["canonical_id"]: r["n_copies"]
           for r in D.exact_dedup(docs_df, "text", "doc_id").collect()}
    assert out[1] == 2  # docs 1+2 collapse
    assert out[3] == 1 and out[4] == 1


def test_fingerprint_dedup_catches_reorderings(docs_df):
    out = D.token_fingerprint_dedup(docs_df, "text", "doc_id").collect()
    groups = {r["canonical_id"]: r["n_copies"] for r in out}
    # 1, 2 (exact) and 3 (reordered) share the sorted-distinct-token set
    assert groups[1] == 3


def test_jaccard_pairs_vs_python(docs_df):
    out = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in D.jaccard_pairs(docs_df, "text", "doc_id", 0.5).collect()
    }

    def jac(a, b):
        sa, sb = set(a.split()), set(b.split())
        return len(sa & sb) / len(sa | sb)

    d = dict(DOCS)
    for (a, b), j in out.items():
        assert j == pytest.approx(jac(d[a], d[b]))
    assert (1, 2) in out and out[(1, 2)] == 1.0
    assert (1, 3) in out and out[(1, 3)] == 1.0
    assert (1, 5) in out  # near-dup
    assert not any(4 in p for p in out)


def test_minhash_finds_what_jaccard_finds(docs_df):
    """Banded MinHash + verify must return a subset of the exact pairs, and
    catch the high-similarity ones (16 perms, bands of 4 ⇒ collision prob
    at j=0.8 is 1-(1-0.8⁴)⁴ ≈ 0.88 per band set — on these fixtures all
    exact-dup/reorder pairs must surface)."""
    exact = {
        (r["doc_a"], r["doc_b"])
        for r in D.jaccard_pairs(docs_df, "text", "doc_id", 0.6).collect()
    }
    mh = {
        (r["doc_a"], r["doc_b"])
        for r in D.minhash_neardup(docs_df, "text", "doc_id", 0.6).collect()
    }
    assert mh <= exact
    assert (1, 2) in mh and (1, 3) in mh


def test_simhash_identical_and_near_docs(docs_df):
    sigs = D.simhash_signatures(docs_df, "text", "doc_id")
    pairs = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in D.simhash_neardup_pairs(sigs, max_hamming=8).collect()
    }
    assert pairs[(1, 2)] == 0  # identical text → identical signature
    assert pairs[(1, 3)] == 0  # same token multiset
    assert (1, 5) in pairs  # near-dup within hamming 8


def test_language_id_and_quality(docs_df):
    rows = {
        r["doc_id"]: r
        for r in docs_df.select(
            "doc_id",
            X.language_id("text").alias("lang"),
            X.quality_score("text").alias("q"),
        ).collect()
    }
    assert rows[1]["lang"] == "en"
    assert rows[6]["lang"] == "de"
    assert 0.0 <= rows[4]["q"] <= 1.0


def test_bpe_ish_token_count(spark):
    df = spark.createDataFrame([("hello, world! x2",)], ["text"])
    # hello , world ! x 2 → 6
    assert df.select(X.bpe_ish_token_count("text").alias("n")).first()["n"] == 6


def test_winnow_shingle_fingerprints_detect_overlap(spark, docs_df):
    fps = {
        r["doc_id"]: set(r["fp"])
        for r in docs_df.select(
            "doc_id",
            X.winnow_shingle_fingerprints("text").alias("fp"),
        ).collect()
    }
    assert fps[1] == fps[2]  # identical docs, identical fingerprints
    # near-dup shares most fingerprints; unrelated shares none
    overlap_15 = len(fps[1] & fps[5]) / len(fps[1] | fps[5])
    assert overlap_15 > 0.3
    assert not (fps[1] & fps[4])


@pytest.mark.parametrize("threshold", [0.3, 0.5, 0.8])
def test_prefix_filter_matches_all_pairs(spark, threshold):
    """The prefix-filter route (equi-join candidates + verify) must emit
    exactly the all-pairs result at every threshold — recall is 1.0 by the
    AllPairs prefix theorem, not probabilistic."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    exact = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in D.jaccard_pairs(docs, "text", "doc_id", threshold).collect()
    }
    fast = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in D.jaccard_pairs_scalable(
            docs, "text", "doc_id", threshold
        ).collect()
    }
    assert fast == exact


def test_ngram_prefix_filter_matches_all_pairs(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    exact = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in D.ngram_jaccard_pairs(docs, "text", "doc_id", 0.5, 3).collect()
    }
    fast = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in D.ngram_jaccard_pairs_scalable(
            docs, "text", "doc_id", 0.5, 3
        ).collect()
    }
    assert fast == exact


def test_simhash_banding_matches_all_pairs(spark):
    """Bit-block banding is exact by pigeonhole: compare against a direct
    pairwise hamming computation in Python."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(200)
    sigs = {r["doc_id"]: r["simhash"]
            for r in D.simhash_signatures(docs, "text", "doc_id").collect()}
    expected = {
        (a, b): bin(sigs[a] ^ sigs[b]).count("1")
        for a in sigs for b in sigs
        if a < b and bin(sigs[a] ^ sigs[b]).count("1") <= 3
    }
    got = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in D.simhash_neardup_pairs(
            D.simhash_signatures(docs, "text", "doc_id"), 3
        ).collect()
    }
    assert got == expected


def test_hamming_pairs_grouped_matches_doc_level(spark):
    """The distinct-hash pre-aggregated hamming join (the narrow-hash
    scale route) must emit exactly the doc-level banding's pair set —
    including hamming-0 pairs, which the grouped route derives from the
    within-group branch. Narrow 8-bit fixture with heavy hash collisions
    so every branch (cross-group, within-group, both orderings) is
    exercised."""
    import random

    rng = random.Random(5)
    rows = [(i, rng.randrange(256)) for i in range(300)]
    sigs = spark.createDataFrame(rows, ["doc_id", "simhash"]).withColumn(
        "simhash", F.col("simhash").cast("long")
    )
    want = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in D.simhash_neardup_pairs(sigs, max_hamming=2, bits=8).collect()
    }
    got = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in D.hamming_pairs_grouped(sigs, max_hamming=2, bits=8).collect()
    }
    assert got == want
    assert any(h == 0 for h in want.values())  # collisions present
    assert any(h > 0 for h in want.values())   # cross-group present


def test_minhash_bitmap_and_array_verify_agree(spark):
    """minhash_neardup's bitmap fast path (vocab ≤ 64 dense ids) and the
    general sorted-array verify must emit identical pairs. Build one corpus
    under each regime from the same near-dup structure."""
    import random

    rng = random.Random(7)
    small_vocab = [f"w{i}" for i in range(40)]      # 1-word bitmap
    mid_vocab = [f"w{i}" for i in range(200)]       # multi-word bitmap
    big_vocab = [f"w{i}" for i in range(400)]       # beyond cap → arrays

    def corpus(vocab):
        rows = []
        for d in range(60):
            base = rng.sample(vocab, 12)
            rows.append((2 * d, " ".join(base)))
            near = base[:10] + rng.sample(vocab, 2)  # likely-near-dup twin
            rows.append((2 * d + 1, " ".join(near)))
        return spark.createDataFrame(rows, ["doc_id", "text"])

    for vocab in (small_vocab, mid_vocab, big_vocab):
        df = corpus(vocab)
        hashes = D._token_hash_set(df, "text", "doc_id")
        bm = D._bitmap_masks(hashes)
        if vocab is small_vocab:
            assert bm is not None and bm[1] == 1  # single-word fast path
        elif vocab is mid_vocab:
            assert bm is not None and bm[1] > 1   # multi-word fast path
        else:
            assert bm is None  # falls back to array intersect
        got = {
            (r["doc_a"], r["doc_b"]): round(r["jaccard"], 9)
            for r in D.minhash_neardup(df, "text", "doc_id", 0.6).collect()
        }
        # oracle: replicate signatures→banding→verify in python
        sigs = {
            r["doc_id"]: [r[f"sig_{i}"] for i in range(D.N_PERMUTATIONS)]
            for r in D.minhash_signatures(df, "text", "doc_id").collect()
        }
        toks = {r["doc_id"]: set(r["tok_hashes"]) for r in hashes.collect()}
        n_bands = D.N_PERMUTATIONS // D.BAND_SIZE
        expected = {}
        for a in sigs:
            for b in sigs:
                if a >= b:
                    continue
                shares_band = any(
                    sigs[a][k * D.BAND_SIZE:(k + 1) * D.BAND_SIZE]
                    == sigs[b][k * D.BAND_SIZE:(k + 1) * D.BAND_SIZE]
                    for k in range(n_bands)
                )
                if not shares_band:
                    continue
                j = len(toks[a] & toks[b]) / len(toks[a] | toks[b])
                if j >= 0.6:
                    expected[(a, b)] = round(j, 9)
        assert got == expected


def test_connected_components_shapes(spark):
    """Chain, triangle, and isolated pair resolve to min-id components."""
    from consent_based_conversion_adjustments_spark.operators.dedup import (
        connected_components,
    )

    pairs = spark.createDataFrame(
        [
            # chain 1-2-3-4 (diameter > 1 forces multiple rounds)
            (1, 2), (2, 3), (3, 4),
            # triangle 10-11-12
            (10, 11), (11, 12), (10, 12),
            # isolated pair
            (20, 21),
        ],
        "doc_a long, doc_b long",
    )
    got = {
        r["node"]: r["component"]
        for r in connected_components(pairs).collect()
    }
    assert got == {
        1: 1, 2: 1, 3: 1, 4: 1,
        10: 10, 11: 10, 12: 10,
        20: 20, 21: 20,
    }


def test_connected_components_dirty_edges(spark):
    """Duplicate, reversed, and self-loop edges must not change the
    result — the operator normalizes to src<dst half-edges and tolerates
    duplicates without a dedup shuffle (l0 is a min-agg; the contracted
    edge set has its own distinct), so a producer that emits a pair twice
    or in both orientations is still labeled exactly."""
    from consent_based_conversion_adjustments_spark.operators.dedup import (
        connected_components,
    )

    pairs = spark.createDataFrame(
        [
            (1, 2), (2, 1), (1, 2), (1, 2),   # duplicated + reversed
            (2, 3), (3, 2),
            (7, 7),                            # self-loop: dropped
            (10, 11), (11, 10), (10, 11),
        ],
        "doc_a long, doc_b long",
    )
    got = {
        r["node"]: r["component"]
        for r in connected_components(pairs).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_connected_components_local_vs_distributed_identity(spark, monkeypatch):
    """The r13 driver-local union-find tail (taken whenever the CONTRACTED
    graph fits CC_LOCAL_EDGE_BUDGET half edges) must be answer-identical
    to the distributed jump loop on the same input — same node set, same
    min-id component labels. A chain forces real propagation depth and a
    bridged clique exercises the contraction."""
    from consent_based_conversion_adjustments_spark.operators import dedup as D

    pairs = spark.createDataFrame(
        [
            (1, 2), (2, 3), (3, 4), (4, 5), (5, 6),      # chain
            (10, 11), (11, 12), (10, 12), (12, 30),       # clique + bridge
            (40, 41),
        ],
        "doc_a long, doc_b long",
    )
    local = {
        r["node"]: r["component"]
        for r in D.connected_components(pairs).collect()
    }
    monkeypatch.setattr(D, "CC_LOCAL_EDGE_BUDGET", 0)
    dist = {
        r["node"]: r["component"]
        for r in D.connected_components(pairs).collect()
    }
    assert local == dist
    assert local[6] == 1 and local[30] == 10 and local[41] == 40


def test_dup_shingle_coverage_planted(spark):
    """Planted boilerplate: docs 1–3 share an identical 5-token prefix, doc
    4 is disjoint. Verified against a pure-Python recount of positional
    3-shingle multiplicities."""
    rows = [
        (1, "alpha beta gamma delta epsilon one two"),
        (2, "alpha beta gamma delta epsilon three four"),
        (3, "alpha beta gamma delta epsilon five six"),
        (4, "zeta eta theta iota kappa lambda mu"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_shingles"], r["n_dup_shingles"])
        for r in D.dup_shingle_coverage(df, "text", "doc_id", n=3).collect()
    }

    def shingles(t):
        toks = t.split()
        return [
            " ".join(toks[i : i + 3])
            for i in range(max(len(toks) - 2, 1))
        ]

    per_doc = {d: shingles(t) for d, t in rows}
    docs_per_sh = {}
    for d, shs in per_doc.items():
        for s in set(shs):
            docs_per_sh.setdefault(s, set()).add(d)
    want = {}
    for d, shs in per_doc.items():
        dup = sum(1 for s in shs if len(docs_per_sh[s]) >= 2)
        want[d] = (len(shs), dup)
    assert got == want
    # the shared 5-token prefix yields exactly 3 duplicated shingles
    assert want[1][1] == 3 and want[4][1] == 0


def test_dup_shingle_coverage_counts_positions_not_types(spark):
    """A shingle repeated within one doc AND shared across docs counts once
    per position (coverage is positional, like the RefinedWeb dup-char
    fraction), so 2 occurrences in doc 1 → 2 duplicated positions."""
    rows = [
        (1, "x y z pad1 x y z"),   # "x y z" occurs at 2 positions
        (2, "x y z other words here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_shingles"], r["n_dup_shingles"])
        for r in D.dup_shingle_coverage(df, "text", "doc_id", n=3).collect()
    }
    assert got[1] == (5, 2)
    assert got[2] == (4, 1)


def test_linear_model_score_shape_and_plan(spark):
    """Model-based quality gating: scores are valid probabilities,
    monotone in a positive-weight feature, and the whole query compiles
    to a zero-shuffle single-scan plan (no Exchange) — the property that
    makes classifier filtering one-pass at 100 TB."""
    import pyspark.sql.functions as F

    from consent_based_conversion_adjustments_spark.operators.text import (
        linear_model_score,
    )

    df = spark.createDataFrame(
        [(i, float(i)) for i in range(6)], "id long, x double"
    )
    score = linear_model_score({"x": F.col("x")}, {"x": 1.0}, -2.5)
    rows = df.select("id", score.alias("s")).orderBy("id").collect()
    vals = [r["s"] for r in rows]
    assert all(0.0 < v < 1.0 for v in vals)
    assert vals == sorted(vals)  # positive weight → monotone increasing
    # bias −2.5: x=0 scores < 0.5, x=5 scores > 0.5 (the filter bites)
    assert vals[0] < 0.5 < vals[-1]

    from consent_based_conversion_adjustments_spark.plans.data_queries import (
        doc_model_quality,
    )

    plan = (
        doc_model_quality(spark, "/root/testdata/sf0.001")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan.replace("Exchange rangepartitioning", "")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_incremental_dedup_matches_batch_pipeline(spark):
    """Incremental admission ≡ batch dedup: for the same corpus split, the
    (batch doc, partner) relations from the incremental operator must be
    exactly the full-pipeline near-dup pairs that involve a batch doc and
    an eligible partner (any store doc, or an earlier batch-mate)."""
    import pyspark.sql.functions as F

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    store_docs = docs.filter(F.col("doc_id") % 4 != 0)
    batch = docs.filter(F.col("doc_id") % 4 == 0)

    store_sigs, store_hashes = D.minhash_store(store_docs, "text", "doc_id")
    got = {
        (r["doc_id"], r["dup_of"]): round(r["jaccard"], 9)
        for r in D.incremental_minhash_neardup(
            batch, store_sigs, store_hashes, "text", "doc_id", threshold=0.8
        ).collect()
    }

    full = D.minhash_neardup(docs, "text", "doc_id", threshold=0.8).collect()
    want = {}
    for r in full:
        a, b, j = r["doc_a"], r["doc_b"], round(r["jaccard"], 9)
        if b % 4 == 0:  # batch doc with an earlier partner (store or mate)
            want[(b, a)] = j
        elif a % 4 == 0:  # batch doc with a later store partner
            want[(a, b)] = j
    assert got == want
    assert got  # the fixture must actually exercise the path


def test_admit_batch_sequential_rounds_greedy_oracle(spark):
    """Two arriving batches flow through `admit_batch`; each round's
    relations and the evolving store must match an online-greedy replay
    over the full near-dup pair graph: a doc is rejected iff it relates
    to a store doc or an earlier-id mate of its OWN batch, and only
    admitted docs ever enter the store (a doc whose sole near-dup was
    itself rejected is admitted — the documented divergence from offline
    CC dedup)."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    store_docs = docs.filter(F.col("doc_id") % 4 < 2)
    batches = [
        docs.filter(F.col("doc_id") % 4 == 2),
        docs.filter(F.col("doc_id") % 4 == 3),
    ]
    threshold = 0.8

    # greedy replay over the exact pair graph
    adj: dict[int, set[int]] = {}
    for r in D.minhash_neardup(docs, "text", "doc_id", threshold).collect():
        adj.setdefault(r["doc_a"], set()).add(r["doc_b"])
        adj.setdefault(r["doc_b"], set()).add(r["doc_a"])
    store_ids = {r["doc_id"] for r in store_docs.select("doc_id").collect()}

    sigs, hashes = D.minhash_store(store_docs, "text", "doc_id")
    for batch in batches:
        batch_ids = sorted(
            r["doc_id"] for r in batch.select("doc_id").collect()
        )
        want_rel, admitted = set(), []
        for d in batch_ids:
            partners = {
                x
                for x in adj.get(d, ())
                if x in store_ids or (x in batch_ids and x < d)
            }
            want_rel |= {(d, x) for x in partners}
            if not partners:
                admitted.append(d)
        relations, sigs, hashes = D.admit_batch(
            batch, sigs, hashes, "text", "doc_id", threshold
        )
        got_rel = {
            (r["doc_id"], r["dup_of"]) for r in relations.collect()
        }
        assert got_rel == want_rel
        store_ids |= set(admitted)
        got_store = {r["doc_id"] for r in sigs.select("doc_id").collect()}
        assert got_store == store_ids
        got_store_h = {
            r["doc_id"] for r in hashes.select("doc_id").collect()
        }
        assert got_store_h == store_ids
    assert want_rel  # the final round must actually exercise rejection


def test_admit_batch_class_state_parity(spark):
    """The r14 invariant-maintained store class dictionary: chaining
    rounds with class_state must produce byte-identical relations and
    store membership to chaining without it, on a duplicate-rich fixture
    that exercises multi-member seed classes, cross-round admissions,
    and EMPTY-token docs (always admitted; singletons-vs-merged in the
    maintained dictionary must be output-neutral)."""
    rows = []
    for d in range(30):
        rows.append((4 * d, f"alpha beta gamma w{d % 7}"))
        rows.append((4 * d + 1, f"alpha beta gamma w{d % 7}"))  # identity dup
        rows.append((4 * d + 2, f"delta eps zeta eta w{d}"))
        rows.append((4 * d + 3, ""))  # empty-token doc, every round
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    store_docs = df.filter(F.col("doc_id") % 4 < 2)
    threshold = 0.8

    def run(with_state):
        sigs, hashes = D.minhash_store(store_docs, "text", "doc_id")
        state: dict = {}
        per_round = []
        for mod in (2, 3):
            batch = df.filter(F.col("doc_id") % 4 == mod)
            rel, sigs, hashes = D.admit_batch(
                batch, sigs, hashes, "text", "doc_id", threshold,
                class_state=state if with_state else None,
            )
            per_round.append((
                {(r["doc_id"], r["dup_of"], round(r["jaccard"], 9))
                 for r in rel.collect()},
                {r["doc_id"] for r in sigs.select("doc_id").collect()},
                {r["doc_id"] for r in hashes.select("doc_id").collect()},
            ))
        if with_state:
            assert "store_classes" in state  # the maintained path ran
        return per_round

    assert run(True) == run(False)


def test_incremental_dedup_array_fallback_matches_batch(spark):
    """The incremental verify's general (sorted-array) route: with a
    vocabulary beyond the bitmap cap, incremental admission must still
    equal the batch pipeline restricted to batch-doc relations — same
    contract the bitmap-regime test pins, now on the fallback path."""
    import random

    rng = random.Random(11)
    vocab = [f"w{i}" for i in range(400)]  # > 256 → no bitmap encoding
    rows = []
    for d in range(60):
        base = rng.sample(vocab, 12)
        rows.append((2 * d, " ".join(base)))
        near = base[:10] + rng.sample(vocab, 2)
        rows.append((2 * d + 1, " ".join(near)))
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    hashes = D._token_hash_set(df, "text", "doc_id")
    assert D._bitmap_vocab(hashes) is None  # the fixture forces the fallback

    store_docs = df.filter(F.col("doc_id") % 4 != 0)
    batch = df.filter(F.col("doc_id") % 4 == 0)
    store_sigs, store_hashes = D.minhash_store(store_docs, "text", "doc_id")
    got = {
        (r["doc_id"], r["dup_of"]): round(r["jaccard"], 9)
        for r in D.incremental_minhash_neardup(
            batch, store_sigs, store_hashes, "text", "doc_id", threshold=0.6
        ).collect()
    }
    full = D.minhash_neardup(df, "text", "doc_id", threshold=0.6)
    want = {}
    for r in full.collect():
        a, b, j = r["doc_a"], r["doc_b"], round(r["jaccard"], 9)
        # relations an arriving batch doc has: vs the store (either
        # orientation) or vs an EARLIER batch-mate (a < b by contract)
        if b % 4 == 0 and (a % 4 != 0 or a < b):
            want[(b, a)] = j
        elif a % 4 == 0 and b % 4 != 0:
            want[(a, b)] = j
    assert got == want
    assert got  # the fixture must actually exercise the path


def test_bitmap_vocab_sample_probe_sound(spark):
    """The r14 bounded-sample pre-probe is only a short-circuit, never
    the decision: a corpus whose first 64 docs fit the dictionary cap
    but that overflows later (one 300-distinct-token doc at the end)
    must still return None — the exact probes behind the sample gate
    catch it. And a tiny-vocab corpus LARGER than the sample must still
    bitmap-encode with the full vocabulary (fall-through regime)."""
    small = [(d, "a b c d") for d in range(100)]
    big_doc = [(100, " ".join(f"z{i}" for i in range(300)))]
    df = spark.createDataFrame(small + big_doc, ["doc_id", "text"])
    hashes = D._token_hash_set(df, "text", "doc_id")
    assert D._bitmap_vocab(hashes) is None  # the tail doc overflows alone

    tiny = spark.createDataFrame(
        [(d, f"w{d % 50} w{(d + 1) % 50} w{(d + 2) % 50}")
         for d in range(200)],
        ["doc_id", "text"],
    )
    th = D._token_hash_set(tiny, "text", "doc_id")
    vocab = D._bitmap_vocab(th)
    assert vocab is not None and len(vocab) == 50  # exact full vocabulary


def test_bitmap_vocab_overflow_memoized(spark):
    """A frame whose vocabulary overflowed the bitmap cap is remembered
    (semantic hash): the second probe over the same frame short-circuits
    to None without launching any Spark job — the per-pass probe cost the
    r5 verdict flagged for obviously-overflowing corpora."""
    rows = [(d, " ".join(f"w{d}_{i}" for i in range(30))) for d in range(20)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    hashes = D._token_hash_set(df, "text", "doc_id")
    assert D._bitmap_vocab(hashes) is None  # 600 distinct tokens > 256
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup(None) or [])
    assert D._bitmap_vocab(hashes) is None
    after = len(tracker.getJobIdsForGroup(None) or [])
    assert after == before  # memo hit: no probe job


def test_verify_size_prefilter_parity(spark):
    """The AllPairs length prefilter (min size ≥ t·max size) is exact:
    the general-route verify must return identical relations with it on
    and off, on a size-skewed corpus whose vocabulary forces the
    sorted-array path. The fixture plants size-incompatible near-token
    pairs (a doc and its 3x-longer superset) that banding may propose but
    the prefilter provably kills without intersecting."""
    import random

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(500)]  # > 256 → general route
    rows = []
    for d in range(40):
        base = rng.sample(vocab, 10)
        rows.append((3 * d, " ".join(base)))
        rows.append((3 * d + 1, " ".join(base[:9] + rng.sample(vocab, 1))))
        rows.append((3 * d + 2, " ".join(base + rng.sample(vocab, 20))))
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    hashes = D._token_hash_set(df, "text", "doc_id")
    assert D._bitmap_vocab(hashes) is None
    ids = [r["doc_id"] for r in df.select("doc_id").collect()]
    cands = spark.createDataFrame(
        [(a, b) for a in ids for b in ids if a < b], ["doc_a", "doc_b"]
    )
    a_h = hashes
    kw = dict(
        a_id="doc_a", b_id="doc_b", threshold=0.6, vocab_source=hashes
    )
    with_f = {
        (r["doc_a"], r["doc_b"]): round(r["jaccard"], 9)
        for r in D._verify_pairs_jaccard(
            cands, a_h, a_h, size_prefilter=True, **kw
        ).collect()
    }
    without = {
        (r["doc_a"], r["doc_b"]): round(r["jaccard"], 9)
        for r in D._verify_pairs_jaccard(
            cands, a_h, a_h, size_prefilter=False, **kw
        ).collect()
    }
    assert with_f == without
    assert with_f  # near-dup pairs survive
    # the planted supersets are size-incompatible at t=0.6 (10 vs 30)
    assert all((a % 3, b % 3) != (0, 2) for a, b in with_f if b == a + 2)


def test_incremental_dedup_reingestion_no_self_pair(spark):
    """Replay safety: a doc_id present in BOTH the store and the arriving
    batch (at-least-once upstream, re-ingestion) must not collide with
    itself — a self-pair at jaccard 1.0 would make the admission anti-join
    permanently reject the doc. Real duplicate relations to OTHER docs are
    still reported."""
    import pyspark.sql.functions as F

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    store_docs = docs.filter(F.col("doc_id") % 3 != 2)
    # the batch replays a slice of the store itself plus the genuinely new
    batch = docs.filter(
        (F.col("doc_id") % 3 == 2) | (F.col("doc_id") % 7 == 0)
    )

    store_sigs, store_hashes = D.minhash_store(store_docs, "text", "doc_id")
    rows = D.incremental_minhash_neardup(
        batch, store_sigs, store_hashes, "text", "doc_id", threshold=0.8
    ).collect()
    assert rows  # fixture exercises the path
    assert all(r["doc_id"] != r["dup_of"] for r in rows)

    # a replayed doc with no real near-dup partner stays admissible: it
    # must not appear as a rejected doc_id purely because of itself
    rejected = {r["doc_id"] for r in rows}
    full = D.minhash_neardup(docs, "text", "doc_id", threshold=0.8)
    has_partner = {r["doc_a"] for r in full.collect()} | {
        r["doc_b"] for r in full.collect()
    }
    replayed_unique = {
        r["doc_id"]
        for r in batch.filter(F.col("doc_id") % 3 != 2).collect()
    } - has_partner
    assert replayed_unique, "fixture needs at least one unique replayed doc"
    assert not (replayed_unique & rejected)


SPAN_DOCS = [
    (1, "x1 x2 x3 s1 s2 s3 s4 y1 y2 y3"),  # shared run at tokens [3,7)
    (2, "s1 s2 s3 s4 z1 z2 z3"),           # same run at tokens [0,4)
    (3, "r1 r2 r3 q r1 r2 r3"),            # within-doc repeat -> 2 spans
    (4, "u1 u2 u3 u4 u5"),                 # all unique -> no spans
    (5, "aa bb"),                          # whole-doc dup shorter than n
    (6, "aa bb"),
]


def test_duplicate_spans_planted(spark):
    df = spark.createDataFrame(SPAN_DOCS, ["doc_id", "text"])
    spans = {
        (r["doc_id"], r["span_start"], r["span_end"], r["span_tokens"])
        for r in D.duplicate_spans(df, "text", "doc_id", n=3).collect()
    }
    assert spans == {
        (1, 3, 7, 4),   # exactly the shared run, boundary shingles unique
        (2, 0, 4, 4),
        (3, 0, 3, 3),   # internal repeat: two islands (gap 4 > n)
        (3, 4, 7, 3),
        (5, 0, 3, 3),   # whole-short-doc shingle; end exceeds token count
        (6, 0, 3, 3),
    }


def test_scrub_duplicate_spans_planted(spark):
    df = spark.createDataFrame(SPAN_DOCS, ["doc_id", "text"])
    out = {
        r["doc_id"]: (r["n_tokens"], r["n_kept"], r["scrubbed"])
        for r in D.scrub_duplicate_spans(df, "text", "doc_id", n=3).collect()
    }
    assert out[1] == (10, 6, "x1 x2 x3 y1 y2 y3")
    assert out[2] == (7, 3, "z1 z2 z3")
    assert out[3] == (7, 1, "q")
    assert out[4] == (5, 5, "u1 u2 u3 u4 u5")  # untouched doc survives whole
    assert out[5] == (2, 0, "")  # span end clamps to the short doc's length
    assert out[6] == (2, 0, "")


def test_triangle_counts_known_graph(spark):
    """Hand-checkable graph: K4 on 1-4 (each node in C(3,2)=3 triangles),
    a triangle 5-6-7, a chain 8-9-10 (triangle-free), an isolated edge."""
    edges = []
    k4 = [1, 2, 3, 4]
    for i in range(4):
        for j in range(i + 1, 4):
            edges.append((k4[i], k4[j]))
    edges += [(5, 6), (5, 7), (6, 7)]
    edges += [(8, 9), (9, 10)]
    edges += [(11, 12)]
    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    got = {
        r["doc_id"]: r["n_triangles"]
        for r in D.triangle_counts(df).collect()
    }
    assert got == {1: 3, 2: 3, 3: 3, 4: 3, 5: 1, 6: 1, 7: 1}


def test_component_density_clique_vs_chain(spark):
    """Density separates a perfect nest (K4, density 1.0) from a chain
    (4-path, density 0.5)."""
    edges = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]  # K4
    edges += [(10, 11), (11, 12), (12, 13)]  # chain of 4
    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    got = {
        r["component"]: (r["n_nodes"], r["n_edges"], r["density"])
        for r in D.component_density(df).collect()
    }
    assert got[1] == (4, 6, 1.0)
    assert got[10] == (4, 3, 0.5)


def test_triangle_sampling_deterministic_and_subset(spark):
    """The DOULION coin is a pure hash: two runs agree, q=1 keeps every
    edge (estimate == exact count), larger q keeps a subset."""
    import itertools

    nodes = list(range(12))
    edges = [(a, b) for a, b in itertools.combinations(nodes, 2)]  # K12
    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    exact = {
        r["doc_id"]: r["n_triangles"]
        for r in D.triangle_counts(df).collect()
    }
    assert all(v == 55 for v in exact.values())  # C(11,2) per node in K12
    full = {
        r["doc_id"]: r["est_triangles"]
        for r in D.triangle_counts_sampled(df, q=1).collect()
    }
    assert full == exact
    a = sorted(map(tuple, D.triangle_counts_sampled(df, q=3).collect()))
    b = sorted(map(tuple, D.triangle_counts_sampled(df, q=3).collect()))
    assert a == b and len(a) <= len(exact)


def test_pagerank_invariants_and_python_parity(spark):
    """Star graph 1-(2,3,4) + separate edge 5-6: center outranks leaves,
    symmetric pair ties, total mass ≈ 1, and values match a pure-Python
    power iteration with the same per-round rounding."""
    edges = [(1, 2), (1, 3), (1, 4), (5, 6)]
    df = spark.createDataFrame(edges, ["doc_a", "doc_b"])
    got = {r.node: r.pr for r in D.pagerank(df, iters=3).collect()}

    # pure-Python twin (identical arithmetic incl. stable rounding)
    adj, deg = {}, {}
    for a, b in edges:
        adj.setdefault(a, []).append(b)
        adj.setdefault(b, []).append(a)
    for k, v in adj.items():
        deg[k] = len(v)
    n = len(adj)
    r = {k: round(1.0 / n - 1e-9, 9) for k in adj}
    for _ in range(3):
        r = {
            k: round(
                (1.0 - 0.85) / n
                + 0.85 * sum(r[j] / deg[j] for j in adj[k])
                - 1e-9,
                9,
            )
            for k in adj
        }
    assert set(got) == set(r)
    for k in r:
        assert abs(got[k] - r[k]) < 1e-12, (k, got[k], r[k])
    assert got[1] > got[2]                      # hub outranks leaves
    assert got[2] == got[3] == got[4]           # symmetric leaves tie
    assert got[5] == got[6]                     # symmetric pair ties
    assert abs(sum(got.values()) - 1.0) < 1e-6  # mass conserved (no dangling)


def test_sorted_neighborhood_matches_python_reference(spark):
    """sorted_neighborhood_pairs vs a literal Python SNM (sort by prefix
    key, all pairs within the rank window, exact distinct-token Jaccard):
    same pairs, same jaccard values — including pairs that straddle the
    overlapping-bucket boundary."""
    texts = [
        "alpha beta gamma delta epsilon",
        "alpha beta gamma delta zeta",      # near-dup of 0, adjacent key
        "zebra yak xylophone wombat",
        "alpha beta gamma delta epsilon",   # exact dup of 0
        "mango kiwi papaya",
        "alpha beta gamma delta epsilon x", # near-dup, same prefix
        "zebra yak xylophone wombat extra",
    ] + [f"filler {i} unique words here {i}" for i in range(40)]
    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    window, thr, kc = 5, 0.5, 10
    got = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in D.sorted_neighborhood_pairs(
            df, "text", "doc_id", window=window, threshold=thr, key_chars=kc
        ).collect()
    }

    order = sorted(rows, key=lambda r: (r[1].lower().strip()[:kc], r[0]))
    want = {}
    for i in range(len(order)):
        for j in range(i + 1, min(i + window, len(order))):
            a, b = order[i], order[j]
            sa, sb = set(a[1].split()), set(b[1].split())
            jac = len(sa & sb) / len(sa | sb)
            if jac >= thr:
                want[(min(a[0], b[0]), max(a[0], b[0]))] = jac
    assert set(got) == set(want)
    for k, v in want.items():
        assert abs(got[k] - v) < 1e-9
    # the fixture exercises real matches, not an empty intersection
    assert (0, 3) in want and want[(0, 3)] == 1.0


def test_sorted_neighborhood_candidates_linear_and_unique(spark):
    """The overlapping-bucket join emits each in-window pair exactly once
    and never more than N*(window-1) candidates total (skew-independent
    bound) — checked by running with threshold=0 so the verify keeps
    every candidate."""
    n, window = 100, 6
    df = spark.createDataFrame(
        [(i, f"w{i} w{i+1} w{i+2}") for i in range(n)],
        "doc_id long, text string",
    )
    pairs = D.sorted_neighborhood_pairs(
        df, "text", "doc_id", window=window, threshold=0.0, key_chars=24
    ).collect()
    keys = [(r.doc_a, r.doc_b) for r in pairs]
    assert len(keys) == len(set(keys))          # exactly-once emission
    assert len(keys) <= n * (window - 1)        # linear candidate bound
    # interior ranks see a full window on both sides
    assert len(keys) == n * (window - 1) - (window - 1) * window // 2


def _lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(
                min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb))
            )
        prev = cur
    return prev[-1]


def test_edit_distance_pairs_matches_python_reference(spark):
    """edit_distance_pairs vs brute-force DP levenshtein over all pairs:
    substitutions, insertions, and deletions all in range; the prefix
    filter must lose nothing (recall 1.0 is the operator's contract)."""
    from consent_based_conversion_adjustments_spark.operators.fuzzy import (
        edit_distance_pairs,
    )

    names = [
        "warehouse-unit-0001",
        "warehouse-unit-0002",   # 1 sub from 0001
        "warehouse-unit-00012",  # 1 insert from 0001
        "warehouse-unit-001",    # 1 delete from 0001
        "warehouse-unit-9999",
        "distribution-hub-77",
        "distribution-hub-78",
        "completely different",
    ]
    df = spark.createDataFrame(
        [(i, n) for i, n in enumerate(names)], "id long, name string"
    )
    for d in (1, 2):
        got = {
            (r.id_a, r.id_b): r.distance
            for r in edit_distance_pairs(
                df, "name", "id", max_dist=d, q=3
            ).collect()
        }
        want = {
            (i, j): _lev(names[i], names[j])
            for i in range(len(names))
            for j in range(i + 1, len(names))
            if _lev(names[i], names[j]) <= d
        }
        assert got == want, f"max_dist={d}"
    # the fixture exercises each edit kind at d=1
    assert (0, 1) in want and (0, 2) in want and (0, 3) in want


def test_edit_distance_pairs_hot_key_salting_identical(spark, monkeypatch):
    """The r14 hot-(gram, occ)-key salting must be result-identical to
    the unsalted join. The fixture is the pathological shape: serial
    names sharing every gram but the digit tail, so one ubiquitous gram
    lands in every prefix; forcing the salt threshold to 0 salts every
    key, and the pair set (with distances) must not change."""
    from consent_based_conversion_adjustments_spark.operators import fuzzy

    df = spark.createDataFrame(
        [(i, f"serialname#{i:07d}") for i in range(1, 150)],
        "id long, name string",
    )

    def pairs():
        return {
            (r.id_a, r.id_b, r.distance)
            for r in fuzzy.edit_distance_pairs(
                df, "name", "id", max_dist=1, q=3
            ).collect()
        }

    monkeypatch.setattr(fuzzy, "_SALT_HOT_KEY_ROWS", 10**9)  # never salt
    unsalted = pairs()
    monkeypatch.setattr(fuzzy, "_SALT_HOT_KEY_ROWS", 0)  # salt every key
    assert pairs() == unsalted
    assert unsalted  # the fixture must produce near pairs


def test_edit_distance_pairs_short_string_guard(spark):
    """Inputs below q*(max_dist+1) chars make the q-gram bound vacuous;
    the operator must refuse loudly instead of silently losing pairs."""
    from consent_based_conversion_adjustments_spark.operators.fuzzy import (
        edit_distance_pairs,
    )

    df = spark.createDataFrame(
        [(0, "abcdefgh"), (1, "tiny")], "id long, name string"
    )
    with pytest.raises(ValueError, match="len >= 9"):
        edit_distance_pairs(df, "name", "id", max_dist=2, q=3)


def test_minhash_collapsed_matches_direct(docs_df):
    """Identity-class cascade parity: collapse_identical=True must return
    the EXACT pair set + jaccard values of the direct route (docs 1/2/3
    form an identity class: same token set)."""
    direct = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in D.minhash_neardup(docs_df, "text", "doc_id", 0.6).collect()
    }
    collapsed = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in D.minhash_neardup(
            docs_df, "text", "doc_id", 0.6, collapse_identical=True
        ).collect()
    }
    assert collapsed == direct
    assert collapsed[(1, 2)] == 1.0 and collapsed[(2, 3)] == 1.0


def test_minhash_collapsed_parity_random_corpus(spark):
    """Parity on a corpus with planted identity cliques, reorderings, and
    near-dups — including est_prefilter carry-over and empty docs (which
    must pair with nothing, as in the direct route)."""
    words = [f"w{i}" for i in range(30)]
    rows, did = [], 0
    for base in range(6):
        toks = words[base * 4 : base * 4 + 12]
        text = " ".join(toks)
        for copy in range(3):          # identity clique of 3 (reordered)
            rows.append((did, " ".join(reversed(toks)) if copy else text))
            did += 1
        rows.append((did, " ".join(toks[:10] + words[:2])))  # near-dup
        did += 1
    rows.append((did, "")); did += 1   # empty doc
    rows.append((did, "")); did += 1   # second empty doc
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    for est in (None, 0.5):
        direct = {
            (r["doc_a"], r["doc_b"]): round(r["jaccard"], 9)
            for r in D.minhash_neardup(
                df, "text", "doc_id", 0.6, est_prefilter=est
            ).collect()
        }
        collapsed = {
            (r["doc_a"], r["doc_b"]): round(r["jaccard"], 9)
            for r in D.minhash_neardup(
                df, "text", "doc_id", 0.6, est_prefilter=est,
                collapse_identical=True,
            ).collect()
        }
        assert collapsed == direct, f"est={est}"
    empty_ids = {did - 1, did - 2}
    assert not any(a in empty_ids or b in empty_ids for a, b in collapsed)


def test_minhash_collapsed_chunked_expansion_parity(spark, docs_df, monkeypatch):
    """The chunked-grid expansion (skew fix for mega-cliques) must be
    invisible semantically: force multi-chunk slicing with a tiny chunk
    width and re-check parity on a corpus with a 10-doc identity clique."""
    monkeypatch.setattr(D, "_EXPAND_CHUNK", 3)
    words = [f"q{i}" for i in range(12)]
    rows = [(i, " ".join(words[i % 2 :] + words[: i % 2])) for i in range(10)]
    rows += [(100 + i, f"unique text number {i} about topic{i}") for i in range(5)]
    rows.append((200, " ".join(words[:10])))  # near-dup of the clique
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    direct = {
        (r["doc_a"], r["doc_b"]): round(r["jaccard"], 9)
        for r in D.minhash_neardup(df, "text", "doc_id", 0.6).collect()
    }
    collapsed = {
        (r["doc_a"], r["doc_b"]): round(r["jaccard"], 9)
        for r in D.minhash_neardup(
            df, "text", "doc_id", 0.6, collapse_identical=True
        ).collect()
    }
    assert collapsed == direct
    assert sum(1 for (a, b) in collapsed if a < 10 and b < 10) == 45  # C(10,2)


def test_source_dup_matrix_accounts_for_every_pair(spark):
    """The cross-source rollup partitions the near-dup pair set exactly:
    Σ n_pairs = |pairs|, and every key is orientation-normalized."""
    from consent_based_conversion_adjustments_spark.plans.data_queries import (
        dedup_minhash,
        source_dup_matrix,
    )

    sf = "/root/testdata/sf0.001"
    total = dedup_minhash(spark, sf).count()
    rows = source_dup_matrix(spark, sf).collect()
    assert sum(r["n_pairs"] for r in rows) == total > 0
    assert all(r["source_x"] <= r["source_y"] for r in rows)


def test_minhash_plan_reproduces_engine_defaults():
    """The committed engine parameters (n_perm=16, band_size=4) must be
    exactly what the planner returns for the contract they honor."""
    from consent_based_conversion_adjustments_spark.operators.dedup import (
        BAND_SIZE,
        N_PERMUTATIONS,
        minhash_plan,
    )

    plan = minhash_plan(0.8, recall_floor=0.87, max_candidate_rate=0.1)
    assert plan["feasible"]
    assert plan["n_perm"] == N_PERMUTATIONS
    assert plan["band_size"] == BAND_SIZE


def test_minhash_plan_satisfies_its_own_contract():
    from consent_based_conversion_adjustments_spark.operators.dedup import (
        minhash_collision_prob,
        minhash_plan,
    )

    plan = minhash_plan(0.8)  # defaults: recall 0.9, candidacy 0.05 at 0.4
    assert plan["feasible"]
    p_hi = minhash_collision_prob(0.8, plan["n_bands"], plan["band_size"])
    p_lo = minhash_collision_prob(0.4, plan["n_bands"], plan["band_size"])
    assert p_hi >= 0.9
    assert p_lo <= 0.05
    # recall is bought with signature width: stricter floor, wider sig
    strict = minhash_plan(0.8, recall_floor=0.99)
    assert strict["feasible"] and strict["n_perm"] > plan["n_perm"]


def test_minhash_plan_infeasible_is_flagged_not_fudged():
    from consent_based_conversion_adjustments_spark.operators.dedup import (
        minhash_plan,
    )

    plan = minhash_plan(
        0.9, recall_floor=0.99, max_candidate_rate=0.001, max_perm=8
    )
    assert plan["feasible"] is False
    assert plan["closest"]["n_perm"] <= 8


def test_minhash_collision_prob_is_monotone_s_curve():
    from consent_based_conversion_adjustments_spark.operators.dedup import (
        minhash_collision_prob,
    )

    probs = [minhash_collision_prob(s / 20, 4, 4) for s in range(21)]
    assert probs == sorted(probs)
    assert probs[0] == 0.0 and probs[-1] == 1.0
    # closed-form spot value: 1 - (1 - 0.8^4)^4
    assert abs(minhash_collision_prob(0.8, 4, 4) - 0.8784974492729345) < 1e-12


def test_minhash_plan_validates_inputs():
    import pytest

    from consent_based_conversion_adjustments_spark.operators.dedup import (
        minhash_plan,
    )

    with pytest.raises(ValueError, match="threshold"):
        minhash_plan(0.0)
    with pytest.raises(ValueError, match="reject_below"):
        minhash_plan(0.5, reject_below=0.6)


def test_resolve_minhash_params_contract_threading():
    """VERDICT r11 §Next #6: the planner drives the defaults. Explicit
    params win; a stated contract derives via minhash_plan (the strict
    0.9/0.05 contract at threshold 0.8 prices at (48, 6)); neither keeps
    the engine constants; both at once is an error; an infeasible
    contract raises instead of under-delivering."""
    import pytest

    from consent_based_conversion_adjustments_spark.operators.dedup import (
        BAND_SIZE,
        N_PERMUTATIONS,
        resolve_minhash_params,
    )

    assert resolve_minhash_params(0.8) == (N_PERMUTATIONS, BAND_SIZE)
    assert resolve_minhash_params(
        0.8, recall_floor=0.9, max_candidate_rate=0.05
    ) == (48, 6)
    assert resolve_minhash_params(0.8, n_perm=32, band_size=8) == (32, 8)
    with pytest.raises(ValueError, match="not both"):
        resolve_minhash_params(0.8, recall_floor=0.9, n_perm=32)
    with pytest.raises(ValueError, match="closest"):
        resolve_minhash_params(0.6, recall_floor=0.95, max_candidate_rate=0.05)


def test_admission_store_contract_derivation(tmp_path):
    """AdmissionStore accepts the banding contract and derives the same
    (n_perm, band_size) the planner prices for it."""
    import pytest

    from consent_based_conversion_adjustments_spark.streaming.admission import (
        AdmissionStore,
    )

    s = AdmissionStore(
        str(tmp_path / "s"), threshold=0.8,
        recall_floor=0.9, max_candidate_rate=0.05,
    )
    assert (s.n_perm, s.band_size) == (48, 6)
    default = AdmissionStore(str(tmp_path / "d"), threshold=0.8)
    from consent_based_conversion_adjustments_spark.operators import dedup as D

    assert (default.n_perm, default.band_size) == (
        D.N_PERMUTATIONS, D.BAND_SIZE,
    )
    with pytest.raises(ValueError, match="not both"):
        AdmissionStore(
            str(tmp_path / "x"), threshold=0.8, n_perm=16, recall_floor=0.9
        )


def test_minhash_auto_collapse_routing(spark):
    """collapse_identical='auto' (round 12): the routing agg detects
    exact-token-set duplicate mass; both routes stay byte-identical to
    their explicit twins on both corpus shapes."""
    from consent_based_conversion_adjustments_spark.operators.dedup import (
        _has_identity_dups,
        _token_hash_set,
        minhash_neardup,
    )

    clean = spark.createDataFrame(
        [(i, f"alpha beta gamma delta token{i} epsilon") for i in range(8)],
        "doc_id long, text string",
    )
    dupy = spark.createDataFrame(
        [(i, "same words every time here") for i in range(6)]
        + [(10, "one fully different document text")],
        "doc_id long, text string",
    )
    assert not _has_identity_dups(_token_hash_set(clean, "text", "doc_id"))
    assert _has_identity_dups(_token_hash_set(dupy, "text", "doc_id"))

    for frame in (clean, dupy):
        auto = sorted(
            map(tuple, minhash_neardup(frame, "text", "doc_id", 0.6).collect())
        )
        direct = sorted(
            map(
                tuple,
                minhash_neardup(
                    frame, "text", "doc_id", 0.6, collapse_identical=False
                ).collect(),
            )
        )
        collapsed = sorted(
            map(
                tuple,
                minhash_neardup(
                    frame, "text", "doc_id", 0.6, collapse_identical=True
                ).collect(),
            )
        )
        assert auto == direct == collapsed
    # the dup frame's 6-doc identity class emits all C(6,2) pairs at 1.0
    got = minhash_neardup(dupy, "text", "doc_id", 0.6).collect()
    ones = [r for r in got if r["jaccard"] == 1.0]
    assert len(ones) == 15


def test_neardup_components_equals_pair_route(spark):
    """neardup_components (rep-level CC, r12) must reproduce
    connected_components(minhash_neardup(...)) EXACTLY — same node set,
    same min-label components — on a corpus with exact-duplicate
    classes, near-dup chains across classes, singletons, and an
    empty-text doc (never a node)."""
    from consent_based_conversion_adjustments_spark.operators.dedup import (
        connected_components,
        minhash_neardup,
        neardup_components,
    )

    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    rows = []
    # family A: 2 identity classes of 3, near-dup of each other
    for i in range(3):
        rows.append((10 + i, base))
    for i in range(3):
        rows.append((20 + i, base + " extra"))
    # family B: a 4-doc identity class with no cross edges
    for i in range(4):
        rows.append((30 + i, "completely different words about spark physical plans and shuffles"))
    # singleton + empty
    rows.append((40, "a lonely unique document with its own vocabulary entirely"))
    rows.append((41, ""))
    df = spark.createDataFrame(rows, "doc_id long, text string")

    want = sorted(
        map(
            tuple,
            connected_components(
                minhash_neardup(df, "text", "doc_id", 0.5)
            ).collect(),
        )
    )
    got = sorted(
        map(tuple, neardup_components(df, "text", "doc_id", 0.5).collect())
    )
    assert got == want
    # structure sanity: family A = one 6-doc component labeled 10,
    # family B = one 4-doc component labeled 30, no 40/41 nodes
    comp = dict(got)
    assert {k for k in comp} == set(range(10, 13)) | set(range(20, 23)) | set(range(30, 34))
    assert all(comp[k] == 10 for k in list(range(10, 13)) + list(range(20, 23)))
    assert all(comp[k] == 30 for k in range(30, 34))


def test_minhash_candidates_exactly_once_and_reference_set(spark, docs_df):
    """The single-shuffle exploded banding (r13) must emit each candidate
    pair exactly once and reproduce the any-band-agrees pair set of the
    per-band reference computed row-by-row from the same signatures."""
    sigs = D.minhash_signatures(docs_df, "text", "doc_id", n_perm=16)
    out = D.minhash_candidates(sigs, n_perm=16, band_size=4).collect()
    pairs = [(r["doc_a"], r["doc_b"]) for r in out]
    assert len(pairs) == len(set(pairs)), "duplicate candidate pair emitted"

    # pure-Python reference: band keys via the same int64 fold
    rows = {r["doc_id"]: [r[f"sig_{i}"] for i in range(16)]
            for r in sigs.collect()}

    def band_keys(sig):
        keys = []
        for b in range(4):
            acc = sig[b * 4]
            for v in sig[b * 4 + 1:b * 4 + 4]:
                acc = (acc * 31 + v) % D.BAND_KEY_MOD
            keys.append(acc)
        return keys

    keys = {d: band_keys(s) for d, s in rows.items()}
    ids = sorted(keys)
    expected = {
        (a, b)
        for i, a in enumerate(ids)
        for b in ids[i + 1:]
        if any(ka == kb for ka, kb in zip(keys[a], keys[b]))
    }
    assert set(pairs) == expected


def test_banded_cross_cands_fused_legs_match_separate(spark, docs_df):
    """The fused store+mates leg union (r13) must equal the two legs run
    separately — including per-leg exactly-once multiplicity."""
    store = docs_df.filter(F.col("doc_id") % 2 == 0)
    batch = docs_df.filter(F.col("doc_id") % 2 == 1)
    s_sigs = D.minhash_signatures(store, "text", "doc_id", n_perm=16)
    b_sigs = D.minhash_signatures(batch, "text", "doc_id", n_perm=16)
    kn = D._band_keyed(b_sigs, "doc_id", "n_", 4, 4)
    k_store = D._band_keyed(s_sigs, "dup_of", "s_", 4, 4)
    k_mates = D._band_keyed(b_sigs, "dup_of", "s_", 4, 4)
    fused = sorted(
        (r["doc_id"], r["dup_of"])
        for r in D._banded_cross_cands(
            kn, k_store, 4, False, mates=k_mates
        ).collect()
    )
    separate = sorted(
        [(r["doc_id"], r["dup_of"])
         for r in D._banded_cross_cands(kn, k_store, 4, False).collect()]
        + [(r["doc_id"], r["dup_of"])
           for r in D._banded_cross_cands(kn, k_mates, 4, True).collect()]
    )
    assert fused == separate
