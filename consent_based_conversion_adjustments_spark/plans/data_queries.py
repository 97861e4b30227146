"""Checkable queries for the training-data operators (text analysis, dedup,
similarity search, event-time windows, multimodal plumbing) + DuckDB oracles.

The hashing/text oracles replicate the engine's polynomial hash exactly in
SQL (verified cross-engine: Spark ``ascii``/``aggregate`` ≡ DuckDB
``unicode``/``list_reduce``), so even MinHash signatures and banded
candidate pairs hash-match. Approximate operators whose physics are
Spark-specific (hyperplane LSH buckets, IVF probing) are registered
rows-only and verified in pytest against the exact baselines.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.rounding import sql_round, stable_round
from ..operators import cluster as C
from ..operators import dedup as D
from ..operators import linalg as L
from ..operators import quantize as Q
from ..operators import semdedup as SD
from ..operators import text as X
from ..operators.multimodal import binary_metadata
from ..operators.similarity_search import (
    cosine_neardup_blas,
    cosine_topk,
    ivf_topk,
    lsh_topk,
)
from ..operators.sketches import cms_heavy_hitters_sql
from ..sources.io import read_table
from .caching import make_pin
from ..session import scratch_dir
from ..streaming.events import (
    interval_bin_join,
    session_stats,
    sliding_counts,
    tumbling_counts,
)

JACCARD_THRESHOLD = 0.8
ANN_K = 5
NEARDUP_COSINE = 0.45

# SQL fragments mirroring operators.text primitives ---------------------------

# mirrors text.tokens incl. the empty-token filter (blank docs → [])
_TOKS = "list_filter(regexp_split_to_array(trim({c}), '\\s+'), t -> t <> '')"
_DTOKS = f"list_distinct({_TOKS})"


def _sql_hash(expr: str) -> str:
    """DuckDB twin of text.string_hash (polynomial over codepoints)."""
    return (
        "list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(string_split({expr}, ''), "
        "c -> CAST(unicode(c) AS BIGINT))), "
        "(acc, x) -> (acc * 31 + x) % 1000000007)"
    )


# --- text analysis -----------------------------------------------------------


def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    # One narrow projection computes every token-array traversal exactly once
    # (tokenize, 4 stopword-hit filters, punct strip, BPE-ish extract);
    # everything downstream is scalar arithmetic over those named columns.
    # Spark's subexpression elimination dedups the shared `tokens()` subtree
    # inside the single ProjectExec, so no Exchange barrier is needed — the
    # whole query is a zero-shuffle stateless map (measured ~7x faster than
    # the previous barrier'd form, and strictly better at scale: no shuffle
    # of the text column at all).
    toks = X.tokens("text")
    pre = docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        X.bpe_ish_token_count("text").cast("long").alias("n_bpe_tokens"),
        F.length("text").cast("long").alias("n_chars"),
        X.punct_ratio("text").alias("__praw"),
        *[
            X.stopword_hits_in(toks, lg).alias(f"__h_{lg}")
            for lg in sorted(X.STOPWORDS)
        ],
    )
    sraw = (
        F.when(F.col("n_tokens") > 0, F.col("__h_en") / F.col("n_tokens"))
        .otherwise(0.0)
    )
    length_part = F.least(F.col("n_tokens") / F.lit(50.0), F.lit(1.0))
    punct_part = F.lit(1.0) - F.least(F.col("__praw") * 5.0, F.lit(1.0))
    stop_part = F.least(sraw * 5.0, F.lit(1.0))
    quality = 0.4 * length_part + 0.3 * punct_part + 0.3 * stop_part
    return pre.select(
        "doc_id",
        "n_tokens",
        "n_bpe_tokens",
        "n_chars",
        stable_round("__praw", 4).alias("punct_ratio"),
        stable_round(sraw, 4).alias("stopword_ratio"),
        stable_round(quality, 4).alias("quality"),
        X.language_id_from_hits(
            {lg: F.col(f"__h_{lg}") for lg in sorted(X.STOPWORDS)}
        ).alias("lang_pred"),
    )


def _sql_stop_hits(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in X.STOPWORDS[lang])
    return (
        f"len(list_filter({_TOKS.format(c='text')}, "
        f"t -> lower(t) IN ({words})))"
    )


TEXT_STATS_SQL = """
WITH s AS (
    SELECT doc_id,
           len({toks}) AS n_tokens,
           len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))
               AS n_bpe_tokens,
           length(text) AS n_chars,
           CASE WHEN length(text) > 0 THEN
               CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g'))
                    AS DOUBLE) / length(text) ELSE 0.0 END AS praw,
           CASE WHEN len({toks}) > 0 THEN
               CAST({en_hits} AS DOUBLE) / len({toks}) ELSE 0.0 END AS sraw,
           {de_hits} AS de_hits, {en_hits} AS en_hits,
           {es_hits} AS es_hits, {fr_hits} AS fr_hits
    FROM documents
)
SELECT doc_id, n_tokens, n_bpe_tokens, n_chars,
       {r_punct} AS punct_ratio,
       {r_stop} AS stopword_ratio,
       {r_quality} AS quality,
       CASE
         WHEN fr_hits > greatest(es_hits, en_hits, de_hits, 0) THEN 'fr'
         WHEN es_hits > greatest(en_hits, de_hits, 0) THEN 'es'
         WHEN en_hits > greatest(de_hits, 0) THEN 'en'
         WHEN de_hits > 0 THEN 'de'
         ELSE 'und'
       END AS lang_pred
FROM s
""".format(
    toks=_TOKS.format(c="text"),
    en_hits=_sql_stop_hits("en"),
    de_hits=_sql_stop_hits("de"),
    fr_hits=_sql_stop_hits("fr"),
    es_hits=_sql_stop_hits("es"),
    r_punct=sql_round("praw", 4),
    r_stop=sql_round("sraw", 4),
    r_quality=sql_round(
        "0.4 * least(n_tokens / 50.0, 1.0)"
        " + 0.3 * (1.0 - least(praw * 5.0, 1.0))"
        " + 0.3 * least(sraw * 5.0, 1.0)",
        4,
    ),
)


# A deterministic stand-in for a trained quality classifier: weights over
# the text-stat features, baked into the plan as literals. Term order in
# the score is sorted(key) — the oracle replays the same order.
MODEL_QUALITY_W = {
    "log_tokens": 0.6,
    "punct_ratio": -1.5,
    "quality": 2.5,
    "stopword_ratio": 1.0,
}
MODEL_QUALITY_B = -2.0


def doc_model_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality gating (FineWeb-Edu-style classifier filter):
    a logistic model over the text-stat features scores every document in
    pure Catalyst — one scan, no shuffle, no Python — and thresholding the
    score yields the keep set. Features reuse `text_stats`' rounded
    columns so both engines score bit-identical inputs."""
    ts = text_stats(spark, sf_dir)
    feats = {
        "log_tokens": F.log(F.lit(1.0) + F.col("n_tokens")),
        "punct_ratio": F.col("punct_ratio"),
        "quality": F.col("quality"),
        "stopword_ratio": F.col("stopword_ratio"),
    }
    score = X.linear_model_score(feats, MODEL_QUALITY_W, MODEL_QUALITY_B)
    return ts.select(
        "doc_id",
        stable_round(score, 4).alias("model_score"),
        (score >= 0.5).alias("keep"),
    ).orderBy("doc_id")


MODEL_QUALITY_SQL = """
WITH ts AS ({stats}),
scored AS (
    SELECT doc_id,
           1.0 / (1.0 + exp(-({b}
               + 0.6 * ln(1.0 + n_tokens)
               + -1.5 * punct_ratio
               + 2.5 * quality
               + 1.0 * stopword_ratio))) AS score
    FROM ts
)
SELECT doc_id, {r} AS model_score, score >= 0.5 AS keep
FROM scored ORDER BY doc_id
""".format(stats=TEXT_STATS_SQL, b=float(MODEL_QUALITY_B), r=sql_round("score", 4))


def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    fps = X.winnow_shingle_fingerprints("text", n=3, window=4)
    return docs.select(
        "doc_id",
        X.string_hash("text").alias("text_hash"),
        F.size(fps).cast("long").alias("n_fingerprints"),
        F.array_min(fps).alias("min_fingerprint"),
        F.array_max(fps).alias("max_fingerprint"),
    )


DOC_FINGERPRINTS_SQL = """
WITH grams AS (
    SELECT doc_id, {text_hash} AS text_hash,
           list_transform(
               range(1, greatest(len({toks}) - 2, 1) + 1),
               i -> {gram_hash}) AS kh
    FROM documents
), winnowed AS (
    SELECT doc_id, text_hash,
           list_sort(list_distinct(list_transform(
               range(0, greatest(len(kh) - 4, 0) + 1),
               i -> list_min(kh[i + 1 : i + 4])))) AS fps
    FROM grams
)
SELECT doc_id, text_hash,
       len(fps) AS n_fingerprints,
       list_min(fps) AS min_fingerprint,
       list_max(fps) AS max_fingerprint
FROM winnowed
""".format(
    text_hash=_sql_hash("text"),
    toks=_TOKS.format(c="text"),
    gram_hash=_sql_hash(
        "array_to_string(" + _TOKS.format(c="text") + "[i : i + 2], ' ')"
    ),
)


# --- dedup -------------------------------------------------------------------


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return D.exact_dedup(docs, "text", "doc_id")


DEDUP_EXACT_SQL = """
SELECT min(doc_id) AS canonical_id, count(*) AS n_copies
FROM documents GROUP BY text
"""


def dedup_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return D.token_fingerprint_dedup(docs, "text", "doc_id")


DEDUP_FINGERPRINT_SQL = """
SELECT {fp} AS fingerprint,
       min(doc_id) AS canonical_id,
       count(*) AS n_copies
FROM documents
GROUP BY 1
""".format(
    fp=_sql_hash(f"array_to_string(list_sort({_DTOKS.format(c='text')}), ' ')")
)


def dedup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact token-set Jaccard self-join, scale-safe route: prefix-filter
    candidates (recall 1.0) + exact verify — the oracle below is the plain
    all-pairs SQL, unchanged, because the output is identical."""
    docs = read_table(spark, sf_dir, "documents")
    return D.jaccard_pairs_scalable(
        docs, "text", "doc_id", threshold=JACCARD_THRESHOLD
    )


DEDUP_JACCARD_SQL = f"""
WITH t AS (SELECT doc_id, {_DTOKS.format(c='text')} AS toks FROM documents)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
           / len(list_distinct(list_concat(a.toks, b.toks))) AS jaccard
FROM t a CROSS JOIN t b
WHERE a.doc_id < b.doc_id
  AND CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
      / len(list_distinct(list_concat(a.toks, b.toks))) >= {JACCARD_THRESHOLD}
"""


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact shingle Jaccard self-join via prefix-filter candidates +
    exact verify (no quadratic step; output identical to all-pairs)."""
    docs = read_table(spark, sf_dir, "documents")
    return D.ngram_jaccard_pairs_scalable(
        docs, "text", "doc_id", threshold=0.5, n=3
    )


DEDUP_NGRAM_SQL = """
WITH g AS (
    SELECT doc_id,
           list_distinct(list_transform(
               range(1, greatest(len({toks}) - 2, 1) + 1),
               i -> {gram_hash})) AS grams
    FROM documents
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
           / (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams)))
           AS jaccard
FROM g a CROSS JOIN g b
WHERE a.doc_id < b.doc_id
  AND CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
      / (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams)))
      >= 0.5
""".format(
    toks=_TOKS.format(c="text"),
    gram_hash=_sql_hash(
        "array_to_string(" + _TOKS.format(c="text") + "[i : i + 2], ' ')"
    ),
)


def dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return D.minhash_neardup(docs, "text", "doc_id", threshold=JACCARD_THRESHOLD)


#: banding contract of the planner-driven MinHash query: recall ≥ 0.9 at
#: the Jaccard threshold with ≤ 5% candidacy at threshold/2 — a STRICTER
#: contract than the engine constants honor (they price at 0.87/0.1), so
#: the derived (n_perm=48, band_size=6) is genuinely planner-owned
PLANNED_MINHASH_CONTRACT = {"recall_floor": 0.9, "max_candidate_rate": 0.05}


def dedup_minhash_planned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`dedup_minhash` with PLANNER-DERIVED banding (VERDICT r11 §Next
    #6): (n_perm, band_size) come from ``minhash_plan`` under the stated
    ``PLANNED_MINHASH_CONTRACT`` instead of the hand-set constants. The
    oracle splices the SAME derivation (one ``resolve_minhash_params``
    call feeds both engines at module scope), so a drifted derivation is
    a hash mismatch. Same output contract as dedup_minhash — near-dup
    pairs at Jaccard ≥ threshold — but found through a 48-permutation /
    6-row banding whose S-curve provably honors the 0.9-recall floor."""
    docs = read_table(spark, sf_dir, "documents")
    return D.minhash_neardup(
        docs, "text", "doc_id", threshold=JACCARD_THRESHOLD,
        **PLANNED_MINHASH_CONTRACT,
    )


def _minhash_planned_sql() -> str | None:
    """Lazy oracle twin of `dedup_minhash_planned` (ADVICE r12): the
    planner derivation used to run at module import, so a future tweak
    making the 0.9/0.05 contract infeasible would raise at import and
    break the ENTIRE registry. Deferred here, an infeasible contract
    degrades only this query (None → rows-only fallback) while the
    oracle still replays the SAME ``resolve_minhash_params`` call the
    Spark query makes — a drifted derivation is still a hash mismatch."""
    try:
        n_perm, band_size = D.resolve_minhash_params(
            JACCARD_THRESHOLD, **PLANNED_MINHASH_CONTRACT
        )
    except ValueError:
        return None
    return _minhash_sql(n_perm=n_perm, band_size=band_size)


def dedup_minhash_collapsed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The identity-class cascade route (operators.dedup
    ._minhash_neardup_collapsed): docs with equal token-hash sets collapse
    to one representative before banding; rep pairs expand back afterward
    (output-bound). Byte-identical to dedup_minhash — checked against the
    SAME oracle — while turning a boilerplate clique's banding cost from
    s² shuffled rows into 1 (hot-band study:
    tools/scale/results_hotband_r9.json; script in commit 877f3e6)."""
    docs = read_table(spark, sf_dir, "documents")
    return D.minhash_neardup(
        docs, "text", "doc_id",
        threshold=JACCARD_THRESHOLD, collapse_identical=True,
    )


_SNM_WINDOW = 8
_SNM_KEY_CHARS = 24


def dedup_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood near-dup (operators.dedup
    .sorted_neighborhood_pairs): distributed total-order rank on a text
    prefix, overlapping-bucket equi-join for in-window candidates
    (≤ N·(window−1), skew-independent), shared exact-Jaccard verify."""
    docs = read_table(spark, sf_dir, "documents")
    return D.sorted_neighborhood_pairs(
        docs,
        "text",
        "doc_id",
        window=_SNM_WINDOW,
        threshold=JACCARD_THRESHOLD,
        key_chars=_SNM_KEY_CHARS,
    )


_SNM_JAC = (
    "CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)"
    " / (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks)))"
)
DEDUP_SNM_SQL = f"""
WITH t AS (
    SELECT doc_id,
           list_distinct(list_transform({_DTOKS.format(c='text')},
               tk -> {_sql_hash('tk')})) AS toks,
           substr(lower(trim(text)), 1, {_SNM_KEY_CHARS}) AS snk
    FROM documents
), r AS (
    SELECT doc_id, toks,
           row_number() OVER (ORDER BY snk, doc_id) AS rnk
    FROM t
)
SELECT least(a.doc_id, b.doc_id) AS doc_a,
       greatest(a.doc_id, b.doc_id) AS doc_b,
       {_SNM_JAC} AS jaccard
FROM r a JOIN r b ON b.rnk - a.rnk BETWEEN 1 AND {_SNM_WINDOW - 1}
WHERE {_SNM_JAC} >= {JACCARD_THRESHOLD}
"""


def _minhash_sql(
    src: str = "documents",
    n_perm: int | None = None,
    band_size: int | None = None,
) -> str:
    n_perm = D.N_PERMUTATIONS if n_perm is None else n_perm
    band_size = D.BAND_SIZE if band_size is None else band_size
    sig_exprs = ",\n           ".join(
        f"min((h0 * {D.perm_params(i)[0]} + {D.perm_params(i)[1]}) % 1000000007)"
        f" AS sig_{i}"
        for i in range(n_perm)
    )
    n_bands = n_perm // band_size

    def band_fold(b: int) -> str:
        # verbatim mirror of minhash_candidates' int64 band-key fold
        expr = None
        for i in range(b * band_size, (b + 1) * band_size):
            expr = (
                f"CAST(sig_{i} AS BIGINT)"
                if expr is None
                else f"(({expr}) * 31 + sig_{i}) % {D.BAND_KEY_MOD}"
            )
        return expr

    band_selects = "\n    UNION ALL\n".join(
        f"    SELECT doc_id, {b} AS band_no, {band_fold(b)} AS band_key"
        " FROM sigs"
        for b in range(n_bands)
    )
    return f"""
WITH t AS (
    SELECT doc_id,
           list_distinct(list_transform({_DTOKS.format(c='text')},
               tk -> {_sql_hash('tk')})) AS toks
    FROM {src}
), hashed AS (
    SELECT doc_id, unnest(toks) AS h0 FROM t
), sigs AS (
    SELECT doc_id,
           {sig_exprs}
    FROM hashed GROUP BY doc_id
), bands AS (
{band_selects}
), cands AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b
      ON a.band_no = b.band_no AND a.band_key = b.band_key
    WHERE a.doc_id < b.doc_id
)
SELECT c.doc_a, c.doc_b,
       CAST(len(list_intersect(ta.toks, tb.toks)) AS DOUBLE)
           / len(list_distinct(list_concat(ta.toks, tb.toks))) AS jaccard
FROM cands c
JOIN t ta ON ta.doc_id = c.doc_a
JOIN t tb ON tb.doc_id = c.doc_b
WHERE CAST(len(list_intersect(ta.toks, tb.toks)) AS DOUBLE)
      / len(list_distinct(list_concat(ta.toks, tb.toks))) >= {JACCARD_THRESHOLD}
"""


# Most-recent-only pin for the pretrain survivor set (see plans.caching:
# the queries sharing it return LAZY plans, so each new call releases the
# previous pin, capping cached storage at one survivor set per JVM).
_pin_pretrain = make_pin()


def _pretrain_kept_frames(spark: SparkSession, sf_dir: str):
    """Shared stages of the composed pretraining-corpus cleaning pass:
    kept0 = language+quality gate, kept1 = exact-fingerprint canonical
    survivors, pairs = MinHash near-dup relations among kept1.

    kept1 is PERSISTED (the dsir-count-table precedent): the MinHash
    stage fans it out to one consumer per signature/band build, and
    without the pin each consumer re-derives the whole lang+quality+
    fingerprint chain from the documents scan. Fresh-JVM A/B
    (tools/scale/results_pipeline_r9.json; script in commit 877f3e6):
    noise-level at sf0.1 (the gate chain is cheap there) but 152.5 →
    106.9 s at the 64× identical-copy tiles — the win grows with
    raw-corpus size because
    kept1 is the post-exact-dedup survivor set, the SMALL end of the
    funnel, while the re-derived chain is the big end."""
    docs = read_table(spark, sf_dir, "documents")
    toks = X.tokens("text")
    praw = X.punct_ratio("text")
    quality = X.quality_score_in(toks, praw, X.stopword_ratio_in(toks))
    lang = X.language_id_in(toks)
    kept0 = docs.select("doc_id", "text").where(
        (lang == F.lit("en")) & (quality >= F.lit(0.5))
    )
    canon = D.token_fingerprint_dedup(kept0, "text", "doc_id").select(
        F.col("canonical_id").alias("doc_id")
    )
    kept1 = _pin_pretrain(kept0.join(canon, "doc_id"))
    pairs = D.minhash_neardup(
        kept1, "text", "doc_id", threshold=JACCARD_THRESHOLD
    )
    return docs, kept0, kept1, pairs


def corpus_pretrain_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed pretraining-corpus cleaning pipeline (the FineWeb /
    RefinedWeb recipe shape): language-ID gate → quality gate → exact
    token-fingerprint dedup (keep lowest id per fingerprint) → MinHash
    banded near-dup removal (keep lowest id of each pair). Every stage
    is an already-oracle-checked operator; this query proves they
    COMPOSE — one declarative plan, no materialization between stages,
    so Catalyst pushes the language/quality projection into the single
    documents scan shared by the fingerprint agg and the MinHash
    signature build. The oracle replays all four stages as chained CTEs
    (the MinHash stage via the same generator as dedup_minhash)."""
    _, _, kept1, pairs = _pretrain_kept_frames(spark, sf_dir)
    removed = pairs.select(F.col("doc_b").alias("doc_id")).distinct()
    return kept1.select("doc_id").join(removed, "doc_id", "left_anti").orderBy(
        "doc_id"
    )


def corpus_pretrain_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stage-count funnel of the composed cleaning pipeline — the summary
    a corpus job publishes per snapshot (raw → lang+quality →
    exact-dedup → near-dup survivors)."""
    docs, kept0, kept1, pairs = _pretrain_kept_frames(spark, sf_dir)
    removed = pairs.select(F.col("doc_b").alias("doc_id")).distinct()
    survivors = kept1.select("doc_id").join(removed, "doc_id", "left_anti")
    rows = [
        ("1_raw", docs),
        ("2_lang_quality", kept0),
        ("3_exact_dedup", kept1),
        ("4_neardup_survivors", survivors),
    ]
    out = None
    for stage, frame in rows:
        c = frame.agg(F.count(F.lit(1)).alias("n_docs")).select(
            F.lit(stage).alias("stage"), "n_docs"
        )
        out = c if out is None else out.unionAll(c)
    return out.orderBy("stage")


_PRETRAIN_KEPT_CTES = """scored AS (
    SELECT doc_id, text,
           0.4 * least(len({toks}) / 50.0, 1.0)
           + 0.3 * (1.0 - least(
               CASE WHEN length(text) > 0 THEN
                   CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g'))
                        AS DOUBLE) / length(text) ELSE 0.0 END * 5.0, 1.0))
           + 0.3 * least(
               CASE WHEN len({toks}) > 0 THEN
                   CAST({en_hits} AS DOUBLE) / len({toks}) ELSE 0.0 END * 5.0,
               1.0) AS q,
           CASE
             WHEN {fr_hits} > greatest({es_hits}, {en_hits}, {de_hits}, 0) THEN 'fr'
             WHEN {es_hits} > greatest({en_hits}, {de_hits}, 0) THEN 'es'
             WHEN {en_hits} > greatest({de_hits}, 0) THEN 'en'
             WHEN {de_hits} > 0 THEN 'de'
             ELSE 'und'
           END AS lang_pred
    FROM documents
), kept0 AS (
    SELECT doc_id, text FROM scored WHERE lang_pred = 'en' AND q >= 0.5
), fps AS (
    SELECT doc_id, text, {fp} AS fingerprint FROM kept0
), canon AS (
    SELECT fingerprint, min(doc_id) AS doc_id FROM fps GROUP BY 1
), kept1 AS (
    SELECT f.doc_id, f.text FROM fps f JOIN canon c ON f.doc_id = c.doc_id
), mh_pairs AS ({minhash})"""


def _pretrain_ctes() -> str:
    return _PRETRAIN_KEPT_CTES.format(
        toks=_TOKS.format(c="text"),
        en_hits=_sql_stop_hits("en"),
        de_hits=_sql_stop_hits("de"),
        fr_hits=_sql_stop_hits("fr"),
        es_hits=_sql_stop_hits("es"),
        fp=_sql_hash(
            f"array_to_string(list_sort({_DTOKS.format(c='text')}), ' ')"
        ),
        minhash=_minhash_sql("kept1"),
    )


CORPUS_PRETRAIN_IDS_SQL = f"""
WITH {_pretrain_ctes()}
SELECT doc_id FROM kept1
WHERE doc_id NOT IN (SELECT doc_b FROM mh_pairs)
ORDER BY doc_id
"""

CORPUS_PRETRAIN_FUNNEL_SQL = f"""
WITH {_pretrain_ctes()}
SELECT '1_raw' AS stage, count(*) AS n_docs FROM documents
UNION ALL
SELECT '2_lang_quality', count(*) FROM kept0
UNION ALL
SELECT '3_exact_dedup', count(*) FROM kept1
UNION ALL
SELECT '4_neardup_survivors', count(*) FROM kept1
WHERE doc_id NOT IN (SELECT doc_b FROM mh_pairs)
ORDER BY stage
"""


def incremental_dedup_admission(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production dedup shape: an accepted corpus STORE (doc_id % 4
    != 0 — its signature/token tables stand in for the persisted state)
    receives an arriving batch (doc_id % 4 == 0); every near-dup relation
    a batch doc has against the store or an earlier batch-mate is
    emitted. Only the batch is tokenized in the incremental pass; the
    store is probed through band-key equi-joins alone."""
    docs = read_table(spark, sf_dir, "documents")
    store_docs = docs.filter(F.col("doc_id") % 4 != 0)
    batch = docs.filter(F.col("doc_id") % 4 == 0)
    store_sigs, store_hashes = D.minhash_store(store_docs, "text", "doc_id")
    out = D.incremental_minhash_neardup(
        batch, store_sigs, store_hashes, "text", "doc_id",
        threshold=JACCARD_THRESHOLD,
    )
    return out.select("doc_id", "dup_of", "jaccard").orderBy(
        "doc_id", "dup_of"
    )


def _incremental_dedup_sql() -> str:
    """Replay: the same sig/band CTEs over all documents, with candidates
    restricted to (store→batch) plus (earlier batch-mate→batch)."""
    base = _minhash_sql("documents")
    # reuse everything up to the cands CTE, swap the pairing predicate
    head = base.split("), cands AS (")[0]
    return f"""{head}), cands AS (
    SELECT DISTINCT b.doc_id AS doc_id, a.doc_id AS dup_of
    FROM bands a JOIN bands b
      ON a.band_no = b.band_no AND a.band_key = b.band_key
    WHERE b.doc_id % 4 = 0
      AND (a.doc_id % 4 <> 0 OR a.doc_id < b.doc_id)
)
SELECT c.doc_id, c.dup_of,
       CAST(len(list_intersect(ta.toks, tb.toks)) AS DOUBLE)
           / len(list_distinct(list_concat(ta.toks, tb.toks))) AS jaccard
FROM cands c
JOIN t ta ON ta.doc_id = c.dup_of
JOIN t tb ON tb.doc_id = c.doc_id
WHERE CAST(len(list_intersect(ta.toks, tb.toks)) AS DOUBLE)
      / len(list_distinct(list_concat(ta.toks, tb.toks))) >= {JACCARD_THRESHOLD}
ORDER BY c.doc_id, c.dup_of
"""


def admission_round(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production admission entry point end-to-end: TWO sequential
    batches flow through `admit_batch` against an evolving store
    (store0 = doc_id % 4 < 2, batch1 = % 4 == 2, batch2 = % 4 == 3).
    Online-greedy semantics: a batch doc is rejected iff it relates to a
    store doc or an earlier-id mate of its OWN batch; only admitted docs
    join the store, so batch2 is never tested against batch1's rejects.
    Output: one row per batch doc — ``(doc_id, round_no, n_relations,
    admitted)``."""
    docs = read_table(spark, sf_dir, "documents")
    store0 = docs.filter(F.col("doc_id") % 4 < 2)
    sigs, hashes = D.minhash_store(store0, "text", "doc_id")
    store0_frames = (sigs, hashes)
    # the store-side routing flag is computed ONCE for the seed store and
    # threaded through both rounds — invariant under admission (identity
    # duplicates are always rejected; see admit_batch's contract).
    # class_state (r14) likewise threads the collapsed route's store-side
    # class dictionary so round 2 aggregates only its batch, not the store
    store_dups = D._has_identity_dups(hashes)
    class_state: dict = {}
    out = None
    for round_no, mod in ((1, 2), (2, 3)):
        batch = docs.filter(F.col("doc_id") % 4 == mod)
        rel, sigs, hashes = D.admit_batch(
            batch, sigs, hashes, "text", "doc_id", JACCARD_THRESHOLD,
            store_identity_dups=store_dups, class_state=class_state,
        )
        n_rel = rel.groupBy("doc_id").agg(
            F.count(F.lit(1)).alias("n_rel")
        )
        per_doc = (
            batch.select("doc_id")
            .join(n_rel, "doc_id", "left")
            .select(
                "doc_id",
                F.lit(round_no).alias("round_no"),
                F.coalesce(F.col("n_rel"), F.lit(0))
                .cast("long")
                .alias("n_relations"),
                (F.coalesce(F.col("n_rel"), F.lit(0)) == 0).alias(
                    "admitted"
                ),
            )
        )
        out = per_doc if out is None else out.unionByName(per_doc)
    # admit_batch checkpointed every returned frame eagerly, so the
    # initial store caches are no longer referenced by any pending plan
    for frame in store0_frames:
        frame.unpersist()
    return out.orderBy("round_no", "doc_id")


def _admission_round_sql() -> str:
    """Greedy replay of the two-batch admission over the same banded
    candidate graph: pairs = banding ∩ exact-Jaccard ≥ t (identical CTEs
    to the minhash oracle), then round 1's admitted set feeds round 2's
    store membership — rejected docs never enter it."""
    base = _minhash_sql("documents")
    head = base.split("), cands AS (")[0]
    return f"""{head}), cands AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b
      ON a.band_no = b.band_no AND a.band_key = b.band_key
    WHERE a.doc_id < b.doc_id
), pairs AS (
    SELECT c.doc_a, c.doc_b
    FROM cands c
    JOIN t ta ON ta.doc_id = c.doc_a
    JOIN t tb ON tb.doc_id = c.doc_b
    WHERE CAST(len(list_intersect(ta.toks, tb.toks)) AS DOUBLE)
          / len(list_distinct(list_concat(ta.toks, tb.toks)))
          >= {JACCARD_THRESHOLD}
), sym AS (
    SELECT doc_a AS doc_id, doc_b AS partner FROM pairs
    UNION ALL
    SELECT doc_b AS doc_id, doc_a AS partner FROM pairs
), rel1 AS (
    SELECT doc_id, partner FROM sym
    WHERE doc_id % 4 = 2
      AND (partner % 4 < 2 OR (partner % 4 = 2 AND partner < doc_id))
), adm1 AS (
    SELECT doc_id FROM documents
    WHERE doc_id % 4 = 2
      AND doc_id NOT IN (SELECT doc_id FROM rel1)
), rel2 AS (
    SELECT doc_id, partner FROM sym
    WHERE doc_id % 4 = 3
      AND (partner % 4 < 2
           OR partner IN (SELECT doc_id FROM adm1)
           OR (partner % 4 = 3 AND partner < doc_id))
), out1 AS (
    SELECT d.doc_id, 1 AS round_no, count(r.partner) AS n_relations
    FROM (SELECT doc_id FROM documents WHERE doc_id % 4 = 2) d
    LEFT JOIN rel1 r ON r.doc_id = d.doc_id
    GROUP BY d.doc_id
), out2 AS (
    SELECT d.doc_id, 2 AS round_no, count(r.partner) AS n_relations
    FROM (SELECT doc_id FROM documents WHERE doc_id % 4 = 3) d
    LEFT JOIN rel2 r ON r.doc_id = d.doc_id
    GROUP BY d.doc_id
)
SELECT doc_id, round_no, n_relations, n_relations = 0 AS admitted
FROM (SELECT * FROM out1 UNION ALL SELECT * FROM out2)
ORDER BY round_no, doc_id
"""


def streaming_admission_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAMING admission path end-to-end: three micro-batches
    (epoch 0 = doc_id % 4 < 2, epoch 1 = % 4 == 2, epoch 2 = % 4 == 3)
    flow through `streaming.admission.AdmissionStore.process_batch` — the
    exact ``foreachBatch`` body of the production sink — against a
    parquet-table store in a fresh temp dir, and the admitted table is
    read back. Unlike `admission_round` (whose initial store is taken
    as-is), every epoch here is greedily admitted, INCLUDING the first:
    the stream starts from an empty store. Output: ``(doc_id,
    admit_batch_id)`` of every admitted doc.

    The readStream→sink wiring (file source, availableNow, checkpoint
    replay) is exercised in tests/test_streaming.py; this query pins the
    sink's admission semantics and store layout against the greedy SQL
    oracle."""
    import shutil
    import tempfile

    from ..streaming.admission import AdmissionStore

    docs = read_table(spark, sf_dir, "documents")
    store_dir = scratch_dir("cocoa_admission_store_")
    store = AdmissionStore(store_dir, threshold=JACCARD_THRESHOLD)
    store.process_batch(docs.filter(F.col("doc_id") % 4 < 2), 0)
    store.process_batch(docs.filter(F.col("doc_id") % 4 == 2), 1)
    store.process_batch(docs.filter(F.col("doc_id") % 4 == 3), 2)
    # checkpoint cuts the plan's dependency on the temp-dir files (so the
    # dir can be deleted — invocations don't accumulate), then the
    # ordering is applied to the materialized frame
    out = (
        store.admitted(spark)
        .localCheckpoint()
        .orderBy("admit_batch_id", "doc_id")
    )
    shutil.rmtree(store_dir, ignore_errors=True)
    return out


def _streaming_admission_sql() -> str:
    """Greedy replay of the three-epoch admission: identical banded
    candidate + exact-Jaccard CTEs to the minhash oracle, then each
    epoch's admitted set feeds the next epoch's store membership. Epoch 0
    is itself greedy (empty initial store): a doc is rejected iff it
    relates to an earlier-id mate of its own epoch or an admitted doc of
    an earlier epoch."""
    base = _minhash_sql("documents")
    head = base.split("), cands AS (")[0]
    return f"""{head}), cands AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b
      ON a.band_no = b.band_no AND a.band_key = b.band_key
    WHERE a.doc_id < b.doc_id
), pairs AS (
    SELECT c.doc_a, c.doc_b
    FROM cands c
    JOIN t ta ON ta.doc_id = c.doc_a
    JOIN t tb ON tb.doc_id = c.doc_b
    WHERE CAST(len(list_intersect(ta.toks, tb.toks)) AS DOUBLE)
          / len(list_distinct(list_concat(ta.toks, tb.toks)))
          >= {JACCARD_THRESHOLD}
), sym AS (
    SELECT doc_a AS doc_id, doc_b AS partner FROM pairs
    UNION ALL
    SELECT doc_b AS doc_id, doc_a AS partner FROM pairs
), adm0 AS (
    SELECT doc_id FROM documents
    WHERE doc_id % 4 < 2 AND doc_id NOT IN (
        SELECT doc_id FROM sym
        WHERE doc_id % 4 < 2 AND partner % 4 < 2 AND partner < doc_id
    )
), adm1 AS (
    SELECT doc_id FROM documents
    WHERE doc_id % 4 = 2 AND doc_id NOT IN (
        SELECT doc_id FROM sym
        WHERE doc_id % 4 = 2
          AND (partner IN (SELECT doc_id FROM adm0)
               OR (partner % 4 = 2 AND partner < doc_id))
    )
), adm2 AS (
    SELECT doc_id FROM documents
    WHERE doc_id % 4 = 3 AND doc_id NOT IN (
        SELECT doc_id FROM sym
        WHERE doc_id % 4 = 3
          AND (partner IN (SELECT doc_id FROM adm0)
               OR partner IN (SELECT doc_id FROM adm1)
               OR (partner % 4 = 3 AND partner < doc_id))
    )
)
SELECT doc_id, CAST(admit_batch_id AS BIGINT) AS admit_batch_id FROM (
    SELECT doc_id, 0 AS admit_batch_id FROM adm0
    UNION ALL SELECT doc_id, 1 FROM adm1
    UNION ALL SELECT doc_id, 2 FROM adm2
)
ORDER BY admit_batch_id, doc_id
"""


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    sigs = D.simhash_signatures(docs, "text", "doc_id")
    out = D.simhash_neardup_pairs(sigs, max_hamming=3)
    return out.withColumn("hamming", F.col("hamming").cast("long"))


def _simhash_sql() -> str:
    bit_sums = ",\n           ".join(
        f"sum(((h0 >> {j}) & 1) * 2 - 1) AS s_{j}"
        for j in range(D.SIMHASH_BITS)
    )
    sig = " + ".join(
        f"(CASE WHEN s_{j} > 0 THEN CAST({2**j} AS BIGINT) ELSE 0 END)"
        for j in range(D.SIMHASH_BITS)
    )
    return f"""
WITH toks AS (
    SELECT doc_id, unnest({_DTOKS.format(c='text')}) AS tok FROM documents
), hashed AS (
    SELECT doc_id, {_sql_hash('tok')} AS h0 FROM toks
), sums AS (
    SELECT doc_id,
           {bit_sums}
    FROM hashed GROUP BY doc_id
), sigs AS (
    SELECT doc_id, {sig} AS simhash FROM sums
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
FROM sigs a CROSS JOIN sigs b
WHERE a.doc_id < b.doc_id
  AND bit_count(xor(a.simhash, b.simhash)) <= 3
"""


def vocab_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus heavy hitters: top-20 terms by document frequency (explode →
    count distinct docs → deterministic rank)."""
    docs = read_table(spark, sf_dir, "documents")
    exploded = docs.select(
        "doc_id", F.explode(X.tokens("text")).alias("term")
    )
    counts = exploded.groupBy("term").agg(
        F.countDistinct("doc_id").alias("doc_freq"),
        F.count(F.lit(1)).alias("term_freq"),
    )
    return (
        counts.orderBy(F.col("doc_freq").desc(), F.col("term").asc())
        .limit(20)
    )


VOCAB_TOP_SQL = """
SELECT term,
       count(DISTINCT doc_id) AS doc_freq,
       count(*) AS term_freq
FROM (
    SELECT doc_id, unnest({toks}) AS term
    FROM documents)
GROUP BY term
ORDER BY doc_freq DESC, term
LIMIT 20
""".format(toks=_TOKS.format(c="text"))


def corpus_clean_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed cleaning pipeline: quality-filter → token-fingerprint dedup
    → canonical doc ids (the shape of a real pretraining-corpus pass)."""
    docs = read_table(spark, sf_dir, "documents")
    toks = X.tokens("text")
    praw = X.punct_ratio("text")
    quality = X.quality_score_in(toks, praw, X.stopword_ratio_in(toks))
    good = docs.select("doc_id", "text").withColumn("q", quality).filter(
        F.col("q") >= 0.5
    )
    return (
        D.token_fingerprint_dedup(good, "text", "doc_id")
        .select("canonical_id", "n_copies")
        .orderBy("canonical_id")
    )


CORPUS_CLEAN_SQL = """
WITH scored AS (
    SELECT doc_id, text,
           0.4 * least(len({toks}) / 50.0, 1.0)
           + 0.3 * (1.0 - least(
               CASE WHEN length(text) > 0 THEN
                   CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g'))
                        AS DOUBLE) / length(text) ELSE 0.0 END * 5.0, 1.0))
           + 0.3 * least(
               CASE WHEN len({toks}) > 0 THEN
                   CAST({en_hits} AS DOUBLE) / len({toks}) ELSE 0.0 END * 5.0,
               1.0) AS q
    FROM documents
)
SELECT min(doc_id) AS canonical_id, count(*) AS n_copies
FROM scored
WHERE q >= 0.5
GROUP BY {fp}
ORDER BY canonical_id
""".format(
    toks=_TOKS.format(c="text"),
    en_hits=_sql_stop_hits("en"),
    fp=_sql_hash(f"array_to_string(list_sort({_DTOKS.format(c='text')}), ' ')"),
)


# --- similarity search -------------------------------------------------------


def _query_candidates(spark: SparkSession, sf_dir: str):
    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    candidates = emb.select(F.col("vec_id").alias("cand_id"), "embedding")
    return queries, candidates


def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    queries, candidates = _query_candidates(spark, sf_dir)
    out = cosine_topk(queries, candidates, ANN_K)
    return out.select(
        "query_id", "cand_id", stable_round("cosine", 6).alias("cosine"),
        F.col("rank").cast("long").alias("rank"),
    )


ANN_SQL = """
WITH q AS (
    SELECT vec_id AS query_id,
           list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
    FROM embeddings WHERE vec_id % 100 = 0
), c AS (
    SELECT vec_id AS cand_id,
           list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
    FROM embeddings
), pairs AS (
    SELECT query_id, cand_id,
           list_dot_product(qv, cv)
               / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv)))
               AS cosine
    FROM q CROSS JOIN c WHERE query_id <> cand_id
), ranked AS (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, cand_id) AS rank
    FROM pairs
)
SELECT query_id, cand_id, {r} AS cosine, rank
FROM ranked WHERE rank <= {k}
""".format(r=sql_round("cosine", 6), k=ANN_K)


def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate ANN (hyperplane LSH buckets) — rows-only; recall vs the
    exact baseline is asserted in tests/test_search.py."""
    queries, candidates = _query_candidates(spark, sf_dir)
    out = lsh_topk(queries, candidates, ANN_K)
    return out.select(
        "query_id", "cand_id", stable_round("cosine", 6).alias("cosine"),
        F.col("rank").cast("long").alias("rank"),
    )


def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate ANN (IVF coarse quantization) — rows-only; recall vs the
    exact baseline is asserted in tests/test_search.py."""
    queries, candidates = _query_candidates(spark, sf_dir)
    out = ivf_topk(queries, candidates, ANN_K)
    return out.select(
        "query_id", "cand_id", stable_round("cosine", 6).alias("cosine"),
        F.col("rank").cast("long").alias("rank"),
    )


def _ann_lsh_sql() -> str:
    """Exact DuckDB replay of the hyperplane-LSH pipeline: the ±1 plane
    matrix is pure integer mixing (similarity_search.plane_sign), so it is
    materialized here as literal double lists and every stage — signature
    bits, (table, sig) candidate equi-join, exact cosine re-rank — becomes
    plain SQL. Float caveat: the Spark side projects with a BLAS matmul,
    DuckDB with a sequential list_dot_product; a sign bit could differ only
    if a projection lands within float-reassociation distance of 0."""
    from ..operators.similarity_search import N_PLANES, N_TABLES, _plane_matrix

    planes = _plane_matrix(64, N_PLANES, N_TABLES)
    sig_cols = []
    for t in range(N_TABLES):
        terms = []
        for p in range(N_PLANES):
            lit = (
                "["
                + ",".join(f"{int(s)}.0" for s in planes[:, t * N_PLANES + p])
                + "]"
            )
            terms.append(
                f"(CASE WHEN list_dot_product(dv, {lit}) > 0"
                f" THEN {1 << p} ELSE 0 END)"
            )
        sig_cols.append("(" + " + ".join(terms) + f") AS s{t}")
    s_list = ",".join(f"s{t}" for t in range(N_TABLES))
    t_list = ",".join(str(t) for t in range(N_TABLES))
    return """
WITH v AS (
    SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS dv
    FROM embeddings
), sigs AS (
    SELECT vec_id, {sig_cols} FROM v
), lng AS (
    SELECT vec_id, unnest([{s_list}]) AS sig,
           unnest([{t_list}]) AS table_id
    FROM sigs
), pairs AS (
    SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS cand_id
    FROM lng q JOIN lng c ON q.table_id = c.table_id AND q.sig = c.sig
    WHERE q.vec_id % 100 = 0 AND q.vec_id <> c.vec_id
), scored AS (
    SELECT query_id, cand_id,
           list_dot_product(a.dv, b.dv)
               / (sqrt(list_dot_product(a.dv, a.dv))
                  * sqrt(list_dot_product(b.dv, b.dv))) AS cosine
    FROM pairs
    JOIN v a ON a.vec_id = query_id
    JOIN v b ON b.vec_id = cand_id
), ranked AS (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, cand_id) AS rank
    FROM scored
)
SELECT query_id, cand_id, {r} AS cosine, rank
FROM ranked WHERE rank <= {k}
""".format(
        sig_cols=", ".join(sig_cols),
        s_list=s_list,
        t_list=t_list,
        r=sql_round("cosine", 6),
        k=ANN_K,
    )


def _ann_ivf_sql() -> str | None:
    """Exact DuckDB replay of the IVF pipeline, generated lazily: the
    k-means fit is deterministic (bounded sample in Spark-murmur3 hash
    order, Lloyd via the shared `_kmeans_fit` numpy core on the identical
    matrix → bit-equal centroids), so the centroids become literal double
    lists and assignment / probing / re-rank become plain SQL windows.
    Pinned to sf0.01 — the scale the driver's correctness gate runs at —
    because the fit is data-dependent; returns None (rows-only fallback)
    if that testdata is absent."""
    import os

    import duckdb as _dd
    import numpy as _np

    from ..functions.spark_hash import spark_hash_long
    from ..operators.similarity_search import _kmeans_fit

    path = "/root/testdata/sf0.01/embeddings.parquet"
    if not os.path.exists(path):
        return None
    rows = _dd.connect().execute(
        "SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) "
        f"FROM read_parquet('{path}')"
    ).fetchall()
    rows.sort(key=lambda r: (spark_hash_long(r[0]), r[0]))
    x = _np.array([r[1] for r in rows[:4096]], dtype=_np.float64)
    cents = _kmeans_fit(x, n_cells=16)
    cent_values = ", ".join(
        "({i}, [{vs}])".format(i=i, vs=",".join(repr(float(c)) for c in row))
        for i, row in enumerate(cents)
    )
    return """
WITH v AS (
    SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS dv
    FROM embeddings
), cents(cell_id, cv) AS (VALUES {cent_values}),
cell_sims AS (
    SELECT v.vec_id, c.cell_id,
           list_dot_product(v.dv, c.cv)
               / (sqrt(list_dot_product(v.dv, v.dv))
                  * sqrt(list_dot_product(c.cv, c.cv))) AS cell_sim
    FROM v CROSS JOIN cents c
), cand_cell AS (
    SELECT vec_id AS cand_id, cell_id FROM (
        SELECT vec_id, cell_id, row_number() OVER (
            PARTITION BY vec_id ORDER BY cell_sim DESC, cell_id) AS r
        FROM cell_sims
    ) WHERE r <= 1
), q_cell AS (
    SELECT vec_id AS query_id, cell_id FROM (
        SELECT vec_id, cell_id, row_number() OVER (
            PARTITION BY vec_id ORDER BY cell_sim DESC, cell_id) AS r
        FROM cell_sims WHERE vec_id % 100 = 0
    ) WHERE r <= 4
), pairs AS (
    SELECT DISTINCT query_id, cand_id
    FROM q_cell JOIN cand_cell USING (cell_id)
    WHERE query_id <> cand_id
), scored AS (
    SELECT query_id, cand_id,
           list_dot_product(a.dv, b.dv)
               / (sqrt(list_dot_product(a.dv, a.dv))
                  * sqrt(list_dot_product(b.dv, b.dv))) AS cosine
    FROM pairs
    JOIN v a ON a.vec_id = query_id
    JOIN v b ON b.vec_id = cand_id
), ranked AS (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, cand_id) AS rank
    FROM scored
)
SELECT query_id, cand_id, {r} AS cosine, rank
FROM ranked WHERE rank <= {k}
""".format(cent_values=cent_values, r=sql_round("cosine", 6), k=ANN_K)


_ANN_L2_SQL = """
WITH q AS (
    SELECT vec_id AS query_id,
           list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
    FROM embeddings WHERE vec_id % 100 = 0
), c AS (
    SELECT vec_id AS cand_id,
           list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
    FROM embeddings
), pairs AS (
    SELECT query_id, cand_id,
           list_sum(list_transform(range(1, 65),
               d -> (qv[d] - cv[d]) * (qv[d] - cv[d]))) AS sq_dist
    FROM q CROSS JOIN c WHERE query_id <> cand_id
), ranked AS (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY sq_dist ASC, cand_id) AS rank
    FROM pairs
)
SELECT query_id, cand_id FROM ranked WHERE rank <= {k}
""".format(k=ANN_K)


def ann_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall audit of every approximate ANN path against its exact
    baseline, driver-visible the way ``sq8_recon_error`` is for
    quantization error: LSH and IVF rank by cosine, so they audit
    against the exact cosine top-k; PQ's ADC and SQ8's asymmetric
    kernel approximate squared L2, so they audit against the exact L2
    top-k. Output: (method, n_exact, hits, recall@ANN_K) — one row per
    method, hits counted by (query_id, cand_id) set intersection over
    the shared probe set. All four legs are id-keyed equi-joins over
    k-per-probe row sets; the exact baselines are the already-benched
    brute-force shape."""
    from ..operators.similarity_search import l2_topk

    queries, candidates = _query_candidates(spark, sf_dir)
    # each baseline feeds TWO method joins — localCheckpoint the
    # k·n_probes-row results (125 rows at sf0.01) so the brute-force
    # scans run once, not once per consumer
    brute_cos = (
        cosine_topk(queries, candidates, ANN_K)
        .select("query_id", "cand_id")
        .localCheckpoint()
    )
    brute_l2 = (
        l2_topk(queries, candidates, ANN_K)
        .select("query_id", "cand_id")
        .localCheckpoint()
    )
    methods = [
        ("ivf", ivf_topk(queries, candidates, ANN_K), brute_cos),
        ("lsh", lsh_topk(queries, candidates, ANN_K), brute_cos),
        ("pq", C.pq_topk(queries, candidates, ANN_K), brute_l2),
        ("sq8", Q.sq8_topk(queries, candidates, ANN_K), brute_l2),
    ]
    out = None
    for name, approx, base in methods:
        hits = (
            approx.select("query_id", "cand_id")
            .join(base, ["query_id", "cand_id"])
            .agg(F.count(F.lit(1)).alias("hits"))
        )
        n = base.agg(F.count(F.lit(1)).alias("n_exact"))
        # 1-row × 1-row scalar attach
        row = hits.crossJoin(n).select(
            F.lit(name).alias("method"),
            F.col("n_exact").cast("long").alias("n_exact"),
            F.col("hits").cast("long").alias("hits"),
            stable_round(F.col("hits") / F.col("n_exact"), 6).alias(
                "recall"
            ),
        )
        out = row if out is None else out.unionAll(row)
    return out.orderBy("method")


def _ann_recall_audit_sql() -> str | None:
    """Composed DuckDB replay: each method's already-verified oracle as
    a subquery, set-intersected with its exact-baseline subquery.
    Lazily generated because the IVF oracle is (rows-only fallback when
    the sf0.01 fixture is absent)."""
    ivf = _ann_ivf_sql()
    if ivf is None:
        return None
    r = sql_round("hits * 1.0 / n_exact", 6)
    return f"""
WITH bc AS (SELECT query_id, cand_id FROM ({ANN_SQL})),
bl2 AS (SELECT query_id, cand_id FROM ({_ANN_L2_SQL})),
m_ivf AS (SELECT query_id, cand_id FROM ({ivf})),
m_lsh AS (SELECT query_id, cand_id FROM ({_ann_lsh_sql()})),
m_pq AS (SELECT query_id, cand_id FROM ({PQ_TOPK_SQL})),
m_sq8 AS (SELECT query_id, cand_id FROM ({SQ8_TOPK_SQL})),
stats AS (
    SELECT 'ivf' AS method,
           (SELECT count(*) FROM bc) AS n_exact,
           (SELECT count(*) FROM m_ivf JOIN bc USING (query_id, cand_id))
               AS hits
    UNION ALL
    SELECT 'lsh', (SELECT count(*) FROM bc),
           (SELECT count(*) FROM m_lsh JOIN bc USING (query_id, cand_id))
    UNION ALL
    SELECT 'pq', (SELECT count(*) FROM bl2),
           (SELECT count(*) FROM m_pq JOIN bl2 USING (query_id, cand_id))
    UNION ALL
    SELECT 'sq8', (SELECT count(*) FROM bl2),
           (SELECT count(*) FROM m_sq8 JOIN bl2 USING (query_id, cand_id))
)
SELECT method, n_exact, hits, {r} AS recall
FROM stats ORDER BY method
"""


def embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact near-dup pairs via the block-pair-grid BLAS kernel. The
    corpus' 0.45 threshold is below where angular LSH prunes (random-pair
    any-table collision ≈ 0.96), so the honest scale plan is the exact
    blocked matmul — executed as a cogrouped block-pair grid join (n²·d
    flops in BLAS, B(B+1)/2-way parallel, nothing driver-side) —
    `cosine_neardup_lsh` remains the route for realistic (≥0.9)
    thresholds, recall-tested in tests/test_search_multimodal.py."""
    emb = read_table(spark, sf_dir, "embeddings")
    out = cosine_neardup_blas(emb, NEARDUP_COSINE)
    return out.select(
        "id_a", "id_b", stable_round("cosine", 6).alias("cosine")
    )


EMBEDDING_NEARDUP_SQL = """
WITH v AS (
    SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS dv
    FROM embeddings
), pairs AS (
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           list_dot_product(a.dv, b.dv)
               / (sqrt(list_dot_product(a.dv, a.dv))
                  * sqrt(list_dot_product(b.dv, b.dv))) AS cosine
    FROM v a CROSS JOIN v b WHERE a.vec_id < b.vec_id
)
SELECT id_a, id_b, {r} AS cosine
FROM pairs WHERE cosine >= {t}
""".format(r=sql_round("cosine", 6), t=NEARDUP_COSINE)


# --- event-time windows ------------------------------------------------------


def events_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tumbling_counts(read_table(spark, sf_dir, "events"))


EVENTS_TUMBLING_SQL = """
SELECT strftime(time_bucket(INTERVAL '6 hours', ts), '%Y-%m-%d %H:%M:%S')
           AS window_start,
       event_type,
       count(*) AS n_events,
       {r} AS sum_value
FROM events
GROUP BY 1, 2
""".format(r=sql_round("sum(value)", 3))


def events_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sliding_counts(read_table(spark, sf_dir, "events"))


EVENTS_SLIDING_SQL = """
WITH offsets AS (SELECT unnest([0, 3]) AS off_hours)
SELECT strftime(time_bucket(INTERVAL '6 hours', ts - off_hours * INTERVAL '1 hour')
                + off_hours * INTERVAL '1 hour',
                '%Y-%m-%d %H:%M:%S') AS window_start,
       count(*) AS n_events
FROM events CROSS JOIN offsets
GROUP BY 1
"""


def events_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    return session_stats(read_table(spark, sf_dir, "events"))


EVENTS_SESSIONS_SQL = """
WITH flagged AS (
    SELECT user_id, ts,
           CASE WHEN epoch(ts) - epoch(lag(ts) OVER w) >= 3600
                THEN 1 ELSE 0 END AS new_session
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), numbered AS (
    SELECT user_id, ts,
           sum(new_session) OVER (
               PARTITION BY user_id ORDER BY ts
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
    FROM flagged
)
SELECT user_id,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       count(*) AS n_events,
       {r} AS duration_secs
FROM numbered
GROUP BY user_id, session_no
""".format(r=sql_round("epoch(max(ts)) - epoch(min(ts))", 3))


def events_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON column functions: extract a typed field from the semi-structured
    props payload and aggregate it."""
    events = read_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        events.groupBy("event_type")
        .agg(
            F.sum(k).alias("sum_k"),
            stable_round(F.avg(k), 4).alias("avg_k"),
            F.count(F.when(k.isNull(), 1)).alias("n_missing"),
        )
        .orderBy("event_type")
    )


EVENTS_JSON_SQL = """
SELECT event_type,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
           AS sum_k,
       {r} AS avg_k,
       CAST(count(CASE WHEN json_extract_string(props, '$.k') IS NULL
                       THEN 1 END) AS BIGINT) AS n_missing
FROM events
GROUP BY event_type
ORDER BY event_type
""".format(r=sql_round("avg(CAST(json_extract_string(props, '$.k') AS BIGINT))", 4))


def events_asof_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for each purchase, the most recent click by the same
    user at-or-before its timestamp. Spark has no ASOF JOIN; the idiomatic
    composition is a sorted union + ``last(..., ignorenulls)`` running
    window — one shuffle on user_id, no range explosion (vs the naive
    inequality join, which is quadratic per user)."""
    ev = read_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    tagged = ev.withColumn(
        "__ord", F.when(F.col("event_type") == "click", 0).otherwise(1)
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("__ord").asc(), F.col("event_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    with_click = tagged.withColumn(
        "__click_ts",
        F.last(
            F.when(F.col("event_type") == "click", F.col("ts")), ignorenulls=True
        ).over(w),
    )
    return (
        with_click.filter(F.col("event_type") == "purchase")
        .select(
            "event_id",
            "user_id",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("purchase_ts"),
            F.date_format("__click_ts", "yyyy-MM-dd HH:mm:ss").alias(
                "last_click_ts"
            ),
        )
    )


EVENTS_ASOF_SQL = """
SELECT p.event_id, p.user_id,
       strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
       strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS last_click_ts
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON p.user_id = c.user_id AND p.ts >= c.ts
"""


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters: MinHash pair graph → distributed connected
    components → (doc_id, component=min doc id of its cluster). The
    actionable form of dedup: keep each component's minimum, drop the
    rest. Oracle: recursive CTE computing min reachable label over the
    identical pair set."""
    docs = read_table(spark, sf_dir, "documents")
    # rep-level CC (dedup.neardup_components, r12): answer-identical to
    # connected_components(minhash_neardup(...)) without materializing
    # the member-level pair graph — the organic sf1.0 rung measured 240M
    # member pairs over 50k docs (near-dup families bootstrap into
    # ~5000-doc components), 333 s of CC on a representation the class
    # isomorphism collapses ~2000x
    cc = D.neardup_components(docs, "text", "doc_id", threshold=JACCARD_THRESHOLD)
    return cc.select(
        F.col("node").alias("doc_id"), "component"
    ).orderBy("doc_id")


def _clusters_sql() -> str:
    return f"""
WITH RECURSIVE
p AS (
    SELECT doc_a, doc_b FROM ({_minhash_sql()}) mp
),
edges AS (
    SELECT doc_a AS src, doc_b AS dst FROM p
    UNION
    SELECT doc_b AS src, doc_a AS dst FROM p
),
comp(node, label) AS (
    SELECT DISTINCT src, src FROM edges
    UNION
    SELECT e.dst, c.label
    FROM comp c JOIN edges e ON e.src = c.node
)
SELECT node AS doc_id, min(label) AS component
FROM comp
GROUP BY node
ORDER BY doc_id
"""


def neardup_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc triangle counts over the MinHash near-dup graph
    (operators.dedup.triangle_counts): the cohesion signal that
    separates tight duplicate nests from borderline-match chains."""
    docs = read_table(spark, sf_dir, "documents")
    pairs = D.minhash_neardup(
        docs, "text", "doc_id", threshold=JACCARD_THRESHOLD
    )
    return D.triangle_counts(pairs)


def _triangles_sql() -> str:
    return f"""
WITH pairs AS ({_minhash_sql()}),
e AS (SELECT doc_a AS a, doc_b AS b FROM pairs),
w AS (SELECT e1.a, e1.b, e2.b AS c FROM e e1 JOIN e e2 ON e1.b = e2.a),
tri AS (
    SELECT w.a, w.b, w.c FROM w
    WHERE EXISTS (SELECT 1 FROM e WHERE e.a = w.a AND e.b = w.c)
),
n AS (SELECT unnest([a, b, c]) AS doc_id FROM tri)
SELECT doc_id, count(*) AS n_triangles
FROM n GROUP BY doc_id ORDER BY doc_id
"""


def neardup_triangles_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DOULION triangle estimation over the near-dup graph (q=4): the
    scale-surviving variant — exact enumeration is output-bound on
    dup-dense graphs (operators.dedup.triangle_counts docstring). The
    hash coin is int64-exact, so the oracle replays the sampled graph
    and the counts verbatim."""
    docs = read_table(spark, sf_dir, "documents")
    pairs = D.minhash_neardup(
        docs, "text", "doc_id", threshold=JACCARD_THRESHOLD
    )
    return D.triangle_counts_sampled(pairs, q=4)


def _triangles_sampled_sql() -> str:
    return f"""
WITH pairs AS ({_minhash_sql()}),
e AS (
    SELECT doc_a AS a, doc_b AS b FROM pairs
    WHERE ((doc_a * {D.TRI_MULT_A} + doc_b * {D.TRI_MULT_B})
           % {D.BAND_KEY_MOD}) % 4 = 0
),
w AS (SELECT e1.a, e1.b, e2.b AS c FROM e e1 JOIN e e2 ON e1.b = e2.a),
tri AS (
    SELECT w.a, w.b, w.c FROM w
    WHERE EXISTS (SELECT 1 FROM e WHERE e.a = w.a AND e.b = w.c)
),
n AS (SELECT unnest([a, b, c]) AS doc_id FROM tri)
SELECT doc_id, count(*) AS n_sampled,
       count(*) * 64 AS est_triangles
FROM n GROUP BY doc_id ORDER BY doc_id
"""


def neardup_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank centrality over the MinHash near-dup graph
    (operators.dedup.pagerank): ranks documents by how central they sit
    in their duplication nest — a linkage-based canonical-pick signal.
    Oracle replays all 3 power-iteration rounds with identical per-round
    stable rounding."""
    docs = read_table(spark, sf_dir, "documents")
    pairs = D.minhash_neardup(
        docs, "text", "doc_id", threshold=JACCARD_THRESHOLD
    )
    return (
        D.pagerank(pairs, damping=0.85, iters=3)
        .select(F.col("node").alias("doc_id"), "pr")
        .orderBy("doc_id")
    )


def neardup_component_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-component edge density over the near-dup graph — the
    linear-cost cohesion metric (1.0 = perfect duplicate nest, →0 =
    borderline-match chain); the production replacement for triangle
    counting on dup-dense graphs."""
    docs = read_table(spark, sf_dir, "documents")
    pairs = D.minhash_neardup(
        docs, "text", "doc_id", threshold=JACCARD_THRESHOLD
    )
    return D.component_density(pairs)


def _component_density_sql() -> str:
    d = sql_round("n_edges * 2.0 / (n_nodes * (n_nodes - 1))", 6)
    return f"""
WITH RECURSIVE
p AS (SELECT doc_a, doc_b FROM ({_minhash_sql()}) mp),
edges AS (
    SELECT doc_a AS src, doc_b AS dst FROM p
    UNION
    SELECT doc_b AS src, doc_a AS dst FROM p
),
comp(node, label) AS (
    SELECT DISTINCT src, src FROM edges
    UNION
    SELECT e.dst, c.label
    FROM comp c JOIN edges e ON e.src = c.node
),
labels AS (SELECT node, min(label) AS component FROM comp GROUP BY node),
nn AS (SELECT component, count(*) AS n_nodes FROM labels GROUP BY component),
ec AS (
    SELECT l.component, count(*) AS n_edges
    FROM p JOIN labels l ON l.node = p.doc_a
    GROUP BY l.component
)
SELECT component, n_nodes, n_edges,
       {d} AS density
FROM nn JOIN ec USING (component)
ORDER BY component
"""


def corpus_language_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-detected-language corpus profile: composes the per-doc
    text_stats pass with one aggregation over the predicted language —
    both engines wrap the identical per-doc query, so the rollup proves
    composability of the text layer."""
    ts = text_stats(spark, sf_dir)
    return (
        ts.groupBy("lang_pred")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            stable_round(F.avg("quality"), 6).alias("avg_quality"),
            stable_round(F.avg("n_chars"), 3).alias("avg_chars"),
        )
        .orderBy("lang_pred")
    )


def _language_profile_sql() -> str:
    return f"""
SELECT lang_pred,
       count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       {sql_round('avg(quality)', 6)} AS avg_quality,
       {sql_round('avg(n_chars)', 3)} AS avg_chars
FROM ({TEXT_STATS_SQL}) __ts
GROUP BY lang_pred
ORDER BY lang_pred
"""


def corpus_canonical_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full modern corpus-cleaning pass: quality filter → MinHash
    near-dup pair graph → connected components → keep each cluster's
    canonical (minimum) doc plus all singletons. Composes the cluster
    operator into the cleaning pipeline — what `corpus_clean_ids` does
    with exact fingerprints, upgraded to fuzzy near-dup clusters."""
    docs = read_table(spark, sf_dir, "documents")
    toks = X.tokens("text")
    praw = X.punct_ratio("text")
    quality = X.quality_score_in(toks, praw, X.stopword_ratio_in(toks))
    # persisted: the quality expression (tokenize + regex passes over the
    # full text) feeds both the near-dup pipeline and the final anti-join —
    # without the persist it is evaluated end-to-end twice
    good = (
        docs.select("doc_id", "text")
        .withColumn("q", quality)
        .filter(F.col("q") >= 0.5)
        .persist()
    )
    # rep-level CC — see dedup_clusters (answer-identical, never the
    # member-level pair graph)
    cc = D.neardup_components(good, "text", "doc_id", threshold=JACCARD_THRESHOLD)
    dupes = cc.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias("doc_id")
    )
    return (
        good.select("doc_id")
        .join(dupes, "doc_id", "left_anti")
        .orderBy("doc_id")
    )


_GOOD_SRC = """(
    SELECT doc_id, text FROM (
        SELECT doc_id, text,
               0.4 * least(len({toks}) / 50.0, 1.0)
               + 0.3 * (1.0 - least(
                   CASE WHEN length(text) > 0 THEN
                       CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g'))
                            AS DOUBLE) / length(text) ELSE 0.0 END * 5.0, 1.0))
               + 0.3 * least(
                   CASE WHEN len({toks}) > 0 THEN
                       CAST({en_hits} AS DOUBLE) / len({toks}) ELSE 0.0 END * 5.0,
                   1.0) AS q
        FROM documents)
    WHERE q >= 0.5) __good""".format(
    toks=_TOKS.format(c="text"), en_hits=_sql_stop_hits("en")
)


def _canonical_sql() -> str:
    return f"""
WITH RECURSIVE
p AS (
    SELECT doc_a, doc_b FROM ({_minhash_sql(src=_GOOD_SRC)}) mp
),
edges AS (
    SELECT doc_a AS src, doc_b AS dst FROM p
    UNION
    SELECT doc_b AS src, doc_a AS dst FROM p
),
comp(node, label) AS (
    SELECT DISTINCT src, src FROM edges
    UNION
    SELECT e.dst, c.label
    FROM comp c JOIN edges e ON e.src = c.node
),
labels AS (
    SELECT node, min(label) AS component FROM comp GROUP BY node
)
SELECT g.doc_id
FROM {_GOOD_SRC.replace('__good', 'g')}
LEFT JOIN labels l ON l.node = g.doc_id
WHERE l.node IS NULL OR l.component = g.doc_id
ORDER BY g.doc_id
"""


def events_value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolating quantiles per event type (the distributed exact
    percentile — one shuffle on event_type; swap for approx_percentile at
    unbounded cardinality)."""
    ev = read_table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            stable_round(F.percentile("value", 0.5), 6).alias("p50"),
            stable_round(F.percentile("value", 0.9), 6).alias("p90"),
            stable_round(F.percentile("value", 0.99), 6).alias("p99"),
        )
        .orderBy("event_type")
    )


EVENTS_QUANTILES_SQL = """
SELECT event_type,
       count(*) AS n,
       {p50} AS p50,
       {p90} AS p90,
       {p99} AS p99
FROM events
GROUP BY event_type
ORDER BY event_type
""".format(
    p50=sql_round("quantile_cont(value, 0.5)", 6),
    p90=sql_round("quantile_cont(value, 0.9)", 6),
    p99=sql_round("quantile_cont(value, 0.99)", 6),
)


def events_value_quantiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based quantiles per event type (`approx_percentile`,
    Greenwald-Khanna with relative-error accuracy 1/ε=1000) — the route
    the exact query's docstring points to at unbounded cardinality:
    bounded state per group regardless of row count, mergeable partials.
    Registered rows-only (sketch internals are engine-specific);
    tests/test_corpus.py asserts every value within rank-ε of the exact
    distributed percentile."""
    ev = read_table(spark, sf_dir, "events")
    acc = F.lit(1000)
    return (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            stable_round(
                F.approx_percentile("value", F.lit(0.5), acc), 6
            ).alias("p50"),
            stable_round(
                F.approx_percentile("value", F.lit(0.9), acc), 6
            ).alias("p90"),
            stable_round(
                F.approx_percentile("value", F.lit(0.99), acc), 6
            ).alias("p99"),
        )
        .orderBy("event_type")
    )


def embedding_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization codes (8 subspaces × 8 centroids, 2 Lloyd
    iterations each): the IVF-PQ compression step — 64×4 B vectors
    become 8 3-bit codes. Each subspace is an independent Arrow-kernel
    k-means fit; the oracle replays all eight (operators.cluster.pq_codes)."""
    emb = read_table(spark, sf_dir, "embeddings")
    return C.pq_codes(emb, n_subspaces=8, k=8, iters=2)


PQ_SQL = C.pq_sql(n_subspaces=8, k=8, iters=2, dim=64)


def embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upper-triangle covariance of the embedding columns from ONE
    Arrow-batched partial-Gram pass (operators.linalg.gram_stats): each
    partition ships a dim×dim BLAS accumulation, the combine is a hash
    agg on the cell index, and the mean/count corrections are 1-row /
    dim-row broadcast attaches — nothing scales with table rows except
    the single scan."""
    emb = read_table(spark, sf_dir, "embeddings")
    g = L.gram_stats(emb, "embedding")
    n = g.filter((F.col("d1") == -1) & (F.col("d2") == -1)).select(
        F.col("s").alias("__n")
    )
    mu = g.filter((F.col("d2") == -1) & (F.col("d1") >= 0))
    cells = g.filter((F.col("d1") >= 0) & (F.col("d2") >= 0))
    return (
        cells.crossJoin(F.broadcast(n))
        .join(
            F.broadcast(
                mu.select(F.col("d1").alias("__da"), F.col("s").alias("__s1"))
            ),
            F.col("d1") == F.col("__da"),
        )
        .join(
            F.broadcast(
                mu.select(F.col("d1").alias("__db"), F.col("s").alias("__s2"))
            ),
            F.col("d2") == F.col("__db"),
        )
        .select(
            "d1",
            "d2",
            stable_round(
                F.col("s") / F.col("__n")
                - (F.col("__s1") / F.col("__n"))
                * (F.col("__s2") / F.col("__n")),
                6,
            ).alias("cov"),
        )
        .orderBy("d1", "d2")
    )


EMBEDDING_COV_SQL = """
WITH e AS (
    SELECT vec_id,
           unnest(range(0, 64)) AS d,
           unnest(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS x
    FROM embeddings
), m AS (
    SELECT d, sum(x) / count(*) AS mu FROM e GROUP BY d
), j AS (
    SELECT a.d AS d1, b.d AS d2, sum(a.x * b.x) / count(*) AS exy
    FROM e a JOIN e b ON a.vec_id = b.vec_id AND a.d <= b.d
    GROUP BY a.d, b.d
)
SELECT CAST(j.d1 AS INT) AS d1, CAST(j.d2 AS INT) AS d2,
       {c} AS cov
FROM j
JOIN m ma ON ma.d = j.d1
JOIN m mb ON mb.d = j.d2
ORDER BY d1, d2
""".format(c=sql_round("j.exy - ma.mu * mb.mu", 6))


def embedding_pca_coords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitened top-4 principal coordinates per vector: distributed
    covariance fit (one Gram pass) → driver-side 64×64 eigh (bounded,
    deterministic sign convention) → unrolled codegen projection.
    Genuinely non-SQL-expressible (eigendecomposition) — registered
    rows-only; numpy-parity and whitening-variance pytests carry the
    value check."""
    emb = read_table(spark, sf_dir, "embeddings")
    mean, comps, vars_ = L.pca_fit(emb, 4)
    return L.pca_project(emb, mean, comps, whiten_by=vars_).orderBy("vec_id")


def pca_variance_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed companion for the rows-only ``embedding_pca_coords``: the
    eigendecomposition's SQL-expressible invariant. The trace of the
    covariance equals the sum of ALL its eigenvalues, so emitting the
    eigh eigenvalue sum (the quantity SQL cannot derive directly) next
    to the trace from the distributed Gram pass gives the oracle —
    which computes the trace independently from the covariance CTE —
    a full hash check over both rows: a match certifies the Gram
    partials AND the driver-side eigh agree to 1e-6. The Gram pass is
    the only distributed work (dim·(dim+3)/2-row state); eigh is the
    bounded 64×64 driver step the PCA fit already uses."""
    import numpy as np

    emb = read_table(spark, sf_dir, "embeddings")
    _, cov, _ = L.covariance_fit(emb)
    vals = np.linalg.eigh(np.array(cov))[0]
    rows = [
        ("eigenvalue_sum", float(vals.sum())),
        ("trace_cov", float(sum(cov[d][d] for d in range(len(cov))))),
    ]
    return (
        spark.createDataFrame(rows, "stat string, value double")
        .select("stat", stable_round(F.col("value"), 6).alias("value"))
        .orderBy("stat")
    )


PCA_VARIANCE_AUDIT_SQL = """
WITH e AS (
    SELECT vec_id,
           unnest(range(0, 64)) AS d,
           unnest(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS x
    FROM embeddings
), diag AS (
    SELECT d,
           sum(x * x) / count(*)
               - (sum(x) / count(*)) * (sum(x) / count(*)) AS var
    FROM e GROUP BY d
), tr AS (
    SELECT sum(var) AS t FROM diag
)
SELECT stat, {r} AS value FROM (
    SELECT 'eigenvalue_sum' AS stat, t AS v FROM tr
    UNION ALL
    SELECT 'trace_cov' AS stat, t AS v FROM tr
) ORDER BY stat
""".format(r=sql_round("v", 6))


def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-ADC approximate nearest neighbors (8×8 codebooks, 2 Lloyd
    iterations): candidates scored by m table lookups in an Arrow
    kernel that keeps only batch-local top-k — the full candidate set
    never reaches the ranking window. Oracle replays every codebook fit
    and ranks the complete ADC distance set (operators.cluster.pq_topk)."""
    queries, candidates = _query_candidates(spark, sf_dir)
    return C.pq_topk(queries, candidates, ANN_K)


PQ_TOPK_SQL = C.pq_topk_sql(ANN_K, n_subspaces=8, k=8, iters=2, dim=64)


def ann_sq8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar-quantized ANN (operators.quantize): candidates scanned
    as 0..255 codes (4× fewer bytes than float32 at dim 64), dequantized
    per Arrow batch against exact float64 queries, batch-local top-k only.
    The oracle replays the min/max fit, the affine encode, and the full
    distance ranking."""
    queries, candidates = _query_candidates(spark, sf_dir)
    return Q.sq8_topk(queries, candidates, ANN_K)


SQ8_TOPK_SQL = Q.sq8_topk_sql(ANN_K, dim=64)


def sq8_recon_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension SQ8 dequantization-error audit (mse, max abs err) —
    the quality gate a deployment checks before switching ANN scans from
    float32 vectors to int8 codes. One unrolled min/max fit scan + one
    unrolled error-agg scan; nothing leaves the executors but 2·dim
    aggregates."""
    emb = read_table(spark, sf_dir, "embeddings")
    out = Q.sq8_reconstruction_error(emb)
    return out.select(
        "d",
        stable_round("mse", 9).alias("mse"),
        stable_round("max_abs_err", 9).alias("max_abs_err"),
    )


SQ8_RECON_SQL = """
WITH base AS ({inner})
SELECT d, {m} AS mse, {x} AS max_abs_err FROM base ORDER BY d
""".format(
    inner=Q.sq8_recon_error_sql(dim=64),
    m=sql_round("mse", 9),
    x=sql_round("max_abs_err", 9),
)


def events_user_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user time-weighted average value (operators.timeseries
    .time_weighted_avg): duration weights from one keyed lead-window
    pass, weighted-sum hash agg — never a per-user array."""
    from ..operators.timeseries import time_weighted_avg

    ev = read_table(spark, sf_dir, "events")
    out = time_weighted_avg(ev, "user_id", "ts", "value", "event_id")
    return out.select(
        "user_id",
        stable_round("twap", 6).alias("twap"),
        stable_round("total_seconds", 3).alias("total_seconds"),
        "n_intervals",
    ).orderBy("user_id")


EVENTS_TWAP_SQL = """
WITH d AS (
    SELECT user_id, value,
           (epoch_us(lead(ts) OVER w) - epoch_us(ts)) / 1e6 AS dur
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT user_id,
       {twap} AS twap,
       {tsec} AS total_seconds,
       CAST(count(*) AS BIGINT) AS n_intervals
FROM d WHERE dur IS NOT NULL
GROUP BY user_id ORDER BY user_id
""".format(
    twap=sql_round("sum(value * dur) / sum(dur)", 6),
    tsec=sql_round("sum(dur)", 3),
)


def events_value_mad_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust median/MAD outliers per event type (operators.timeseries
    .mad_anomalies): 50%-breakdown-point variant of the z-score scan —
    tiny per-type aggregates broadcast back, never a per-type window."""
    from ..operators.timeseries import mad_anomalies

    ev = read_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    out = mad_anomalies(ev, "event_type", "value", threshold=3.5)
    return out.select(
        "event_id",
        "event_type",
        "value",
        stable_round("robust_z", 6).alias("robust_z"),
    ).orderBy("event_id")


MAD_ANOMALIES_SQL = """
WITH med AS (
    SELECT event_type, median(value) AS med FROM events GROUP BY 1
), mad AS (
    SELECT e.event_type, median(abs(value - med)) AS mad
    FROM events e JOIN med USING (event_type) GROUP BY 1
), scored AS (
    SELECT event_id, e.event_type AS event_type, value,
           CASE WHEN mad = 0 THEN
                    CASE WHEN abs(value - med) > 0
                         THEN 'infinity'::DOUBLE ELSE 0.0 END
                ELSE abs(value - med) / (mad * 1.4826) END AS rz
    FROM events e JOIN med USING (event_type) JOIN mad USING (event_type)
)
SELECT event_id, event_type, value, {rz} AS robust_z
FROM scored
WHERE rz > 3.5
ORDER BY event_id
""".format(rz=sql_round("rz", 6))


_QQ_POINTS = 101


def click_value_calibrated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q-Q quantile calibration (operators.colstats.quantile_calibrate):
    click values remapped onto the purchase-value distribution — the
    score-calibration primitive. Percentiles from the distributed
    global rank; the reference grid enters as a literal array so the
    interpolation is a zero-shuffle codegen map."""
    from ..operators.colstats import quantile_calibrate, quantile_grid

    ev = read_table(spark, sf_dir, "events")
    grid = quantile_grid(
        ev.filter(F.col("event_type") == "purchase"), "value", _QQ_POINTS
    )
    src = ev.filter(F.col("event_type") == "click").select(
        "event_id", "value"
    )
    out = quantile_calibrate(src, "value", "event_id", grid)
    return out.select(
        "event_id",
        "value",
        stable_round("calibrated", 6).alias("calibrated"),
    ).orderBy("event_id")


_QQ_GRID_SQL = "[" + ", ".join(
    repr(i / (_QQ_POINTS - 1)) for i in range(_QQ_POINTS)
) + "]"
QQ_CALIBRATE_SQL = f"""
WITH g AS (
    SELECT quantile_cont(value, {_QQ_GRID_SQL}) AS grid
    FROM events WHERE event_type = 'purchase'
), r AS (
    SELECT event_id, value,
           percent_rank() OVER (ORDER BY value, event_id) AS pct
    FROM events WHERE event_type = 'click'
), m AS (
    SELECT event_id, value,
           pct * {_QQ_POINTS - 1} AS pos,
           least(floor(pct * {_QQ_POINTS - 1}),
                 {_QQ_POINTS - 2}) AS lo
    FROM r
)
SELECT event_id, value,
       {{interp}} AS calibrated
FROM m CROSS JOIN g
ORDER BY event_id
""".format(
    interp=sql_round(
        "grid[CAST(lo AS INT) + 1] * (1 - (pos - lo))"
        " + grid[CAST(lo AS INT) + 2] * (pos - lo)",
        6,
    )
)


def lineitem_weighted_price_quantiles(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Exact quantity-weighted price quantiles (operators.corpus
    .weighted_quantile): the price below which 25/50/90% of shipped
    QUANTITY falls — prefix scan + threshold min_by, never a
    single-partition window. Integer-valued weights keep every running
    sum float-exact, so the threshold crossings are engine-independent."""
    from ..operators.corpus import weighted_quantile

    li = read_table(spark, sf_dir, "lineitem").select(
        "l_extendedprice",
        "l_quantity",
        (F.col("l_orderkey") * 8 + F.col("l_linenumber")).alias("__tb"),
    )
    return weighted_quantile(
        li, "l_extendedprice", "l_quantity", [0.25, 0.5, 0.9], "__tb"
    )


WEIGHTED_QUANTILE_SQL = """
WITH s AS (
    SELECT l_extendedprice AS x,
           sum(l_quantity) OVER (
               ORDER BY l_extendedprice,
                        l_orderkey * 8 + l_linenumber) AS cw
    FROM lineitem
), t AS (SELECT sum(l_quantity) AS tw FROM lineitem)
SELECT min(CASE WHEN cw >= 0.25 * tw THEN x END) AS wq_0_25,
       min(CASE WHEN cw >= 0.5 * tw THEN x END) AS wq_0_5,
       min(CASE WHEN cw >= 0.9 * tw THEN x END) AS wq_0_9,
       CAST(count(*) AS BIGINT) AS n
FROM s CROSS JOIN t
"""


def flag_weighted_median_price(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-returnflag quantity-weighted median price (operators.corpus
    .grouped_weighted_median): the KEYED cumulative-window form —
    parallel across groups, never a single-partition stage; integer
    weights keep the threshold crossings float-exact."""
    from ..operators.corpus import grouped_weighted_median

    li = read_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice", "l_quantity"
    )
    return grouped_weighted_median(
        li, "l_returnflag", "l_extendedprice", "l_quantity"
    ).orderBy("l_returnflag")


FLAG_WEIGHTED_MEDIAN_SQL = """
WITH c AS (
    SELECT l_returnflag AS g, l_extendedprice AS x,
           sum(l_quantity) AS w, count(*) AS n
    FROM lineitem GROUP BY 1, 2
), s AS (
    SELECT g, x, n,
           sum(w) OVER (PARTITION BY g ORDER BY x
               ROWS UNBOUNDED PRECEDING) AS cw,
           sum(w) OVER (PARTITION BY g) AS tw
    FROM c
)
SELECT g AS l_returnflag,
       min(CASE WHEN cw >= 0.5 * tw THEN x END) AS weighted_median,
       max(tw) AS total_weight,
       CAST(sum(n) AS BIGINT) AS n_rows
FROM s GROUP BY g ORDER BY g
"""


def click_purchase_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample KS distance between click and purchase value
    distributions (operators.corpus.ks_statistic): distributed prefix
    scan over the tagged union — never a single-partition window —
    with exact right-continuous tie handling."""
    from ..operators.corpus import ks_statistic

    ev = read_table(spark, sf_dir, "events")
    a = ev.filter(F.col("event_type") == "click")
    b = ev.filter(F.col("event_type") == "purchase")
    out = ks_statistic(a, b, "value", "event_id")
    return out.select(
        stable_round("ks_d", 9).alias("ks_d"), "n_a", "n_b"
    )


KS_SQL = """
WITH u AS (
    SELECT value AS x,
           CASE WHEN event_type = 'click' THEN 1.0 ELSE 0.0 END AS tag,
           event_id AS tb
    FROM events
    WHERE event_type IN ('click', 'purchase') AND value IS NOT NULL
), s AS (
    SELECT x,
           sum(tag) OVER (ORDER BY x, tag, tb) AS ca,
           row_number() OVER (ORDER BY x, tag, tb) AS r
    FROM u
), pv AS (
    SELECT x, max(ca) AS ca, max(r) AS r FROM s GROUP BY x
), n AS (
    SELECT sum(tag) AS na, count(*) - sum(tag) AS nb FROM u
)
SELECT {ks} AS ks_d,
       CAST(max(na) AS BIGINT) AS n_a,
       CAST(max(nb) AS BIGINT) AS n_b
FROM pv CROSS JOIN n
""".format(ks=sql_round("max(abs(ca / na - (r - ca) / nb))", 9))


def lineitem_revenue_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of line revenue — the inequality statistic over
    a sorted column, from the distributed global rank (never a
    single-partition window): G = 2·Σ r·x / (n·Σx) − (n+1)/n."""
    from ..operators.corpus import global_rank

    li = read_table(spark, sf_dir, "lineitem").select(
        F.col("l_extendedprice").alias("__x"),
        (F.col("l_orderkey") * 8 + F.col("l_linenumber")).alias("__tb"),
    )
    ranked = global_rank(li, ["__x", "__tb"], rank_col="__r")
    return ranked.agg(
        stable_round(
            (2.0 * F.sum(F.col("__r") * F.col("__x")))
            / (F.count(F.lit(1)) * F.sum("__x"))
            - (F.count(F.lit(1)) + 1) / F.count(F.lit(1)),
            6,
        ).alias("gini"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )


GINI_SQL = """
WITH r AS (
    SELECT l_extendedprice AS x,
           row_number() OVER (
               ORDER BY l_extendedprice,
                        l_orderkey * 8 + l_linenumber) AS rk
    FROM lineitem
)
SELECT {g} AS gini, CAST(count(*) AS BIGINT) AS n
FROM r
""".format(
    g=sql_round(
        "2.0 * sum(rk * x) / (count(*) * sum(x))"
        " - (count(*) + 1.0) / count(*)",
        6,
    )
)


_HLL_START, _HLL_END = "2024-01-05", "2024-01-25"


def distinct_users_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact twin of the HLL cube range query: distinct users over the
    same date window, one hash agg (the baseline the sketch replaces at
    scale — this rescans the log, the cube touches #days rows)."""
    ev = read_table(spark, sf_dir, "events")
    day = F.to_date("ts")
    return ev.filter(
        (day >= F.lit(_HLL_START).cast("date"))
        & (day <= F.lit(_HLL_END).cast("date"))
    ).agg(
        F.count_distinct("user_id").cast("long").alias("n_distinct_users"),
        F.count(F.lit(1)).cast("long").alias("n_events"),
    )


DISTINCT_WINDOW_SQL = f"""
SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_distinct_users,
       CAST(count(*) AS BIGINT) AS n_events
FROM events
WHERE CAST(ts AS DATE) BETWEEN DATE '{_HLL_START}' AND DATE '{_HLL_END}'
"""


def distinct_users_window_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mergeable distinct-count cube (streaming.stats
    .daily_distinct_sketches): per-day HLL sketches unioned over the
    window — #days rows aggregated instead of an event-log rescan.
    DataSketches has no DuckDB twin → rows-only; pytest pins the error
    envelope vs exact and merged-daily ≡ direct-range sketching."""
    from ..streaming.stats import daily_distinct_sketches, distinct_over_days

    ev = read_table(spark, sf_dir, "events")
    cube = daily_distinct_sketches(ev)
    return distinct_over_days(cube, _HLL_START, _HLL_END)


def value_quantiles_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact twin of the KLL quantile cube's range query: p25/p50/p90 of
    value over the same date window (the baseline the sketch replaces —
    this rescans the log, the cube merges #days sketch rows)."""
    ev = read_table(spark, sf_dir, "events")
    day = F.to_date("ts")
    return (
        ev.filter(
            (day >= F.lit(_HLL_START).cast("date"))
            & (day <= F.lit(_HLL_END).cast("date"))
        )
        .agg(
            stable_round(
                F.percentile("value", F.lit(0.25)), 6
            ).alias("q_0_25"),
            stable_round(F.percentile("value", F.lit(0.5)), 6).alias(
                "q_0_5"
            ),
            stable_round(F.percentile("value", F.lit(0.9)), 6).alias(
                "q_0_9"
            ),
            F.count("value").cast("long").alias("n_values"),
        )
    )


VALUE_QUANTILES_WINDOW_SQL = f"""
SELECT {sql_round("quantile_cont(value, 0.25)", 6)} AS q_0_25,
       {sql_round("quantile_cont(value, 0.5)", 6)} AS q_0_5,
       {sql_round("quantile_cont(value, 0.9)", 6)} AS q_0_9,
       CAST(count(value) AS BIGINT) AS n_values
FROM events
WHERE CAST(ts AS DATE) BETWEEN DATE '{_HLL_START}' AND DATE '{_HLL_END}'
"""


def value_quantiles_window_kll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mergeable QUANTILE cube (streaming.stats
    .daily_value_sketches): per-day KLL sketches merged over the window
    — #days binary rows instead of a log rescan. DataSketches has no
    DuckDB twin → rows-only; pytest pins the rank-error envelope vs the
    exact twin."""
    from ..streaming.stats import (
        daily_value_sketches,
        value_quantiles_over_days,
    )

    ev = read_table(spark, sf_dir, "events")
    cube = daily_value_sketches(ev)
    return value_quantiles_over_days(
        cube, _HLL_START, _HLL_END, [0.25, 0.5, 0.9]
    )


def streaming_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming stats store end-to-end: three micro-batches
    (vec_id % 3) flow through ``RunningStatsStore.process_batch`` — the
    exact ``foreachBatch`` body — against an epoch-partitioned parquet
    table in a fresh temp dir, and the assembled covariance cells are
    read back. Because Gram partials are additive, the stream result
    equals the batch fit EXACTLY, so the oracle is the same SQL as
    `embedding_covariance` — the strongest batch≡stream check in the
    registry (value-identical, not just semantics-equivalent). The
    readStream→sink wiring is exercised in tests/test_streaming.py."""
    import shutil
    import tempfile

    from ..streaming.stats import RunningStatsStore

    emb = read_table(spark, sf_dir, "embeddings")
    store_dir = scratch_dir("cocoa_gram_store_")
    store = RunningStatsStore(store_dir)
    for epoch in range(3):
        store.process_batch(emb.filter(F.col("vec_id") % 3 == epoch), epoch)
    # eager checkpoint materializes the totals, so the store dir can go
    g = store.totals(spark).localCheckpoint()
    shutil.rmtree(store_dir, ignore_errors=True)
    n = g.filter((F.col("d1") == -1) & (F.col("d2") == -1)).select(
        F.col("s").alias("__n")
    )
    mu = g.filter((F.col("d2") == -1) & (F.col("d1") >= 0))
    cells = g.filter((F.col("d1") >= 0) & (F.col("d2") >= 0))
    return (
        cells.crossJoin(F.broadcast(n))
        .join(
            F.broadcast(
                mu.select(F.col("d1").alias("__da"), F.col("s").alias("__s1"))
            ),
            F.col("d1") == F.col("__da"),
        )
        .join(
            F.broadcast(
                mu.select(F.col("d1").alias("__db"), F.col("s").alias("__s2"))
            ),
            F.col("d2") == F.col("__db"),
        )
        .select(
            "d1",
            "d2",
            stable_round(
                F.col("s") / F.col("__n")
                - (F.col("__s1") / F.col("__n"))
                * (F.col("__s2") / F.col("__n")),
                6,
            ).alias("cov"),
        )
        .orderBy("d1", "d2")
    )


def kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fully distributed Lloyd's k-means (k=8, 3 iterations) over the
    embeddings table — assignment is an unrolled zero-shuffle codegen
    expression, each update one map-side-combinable hash agg; only the
    k×(dim+1) centroid table crosses the driver per iteration
    (operators.cluster.kmeans_assign). The oracle replays init, every
    assignment and every rounded centroid update as chained CTEs."""
    emb = read_table(spark, sf_dir, "embeddings")
    return C.kmeans_assign(emb, k=8, iters=3).orderBy("vec_id")


KMEANS_SQL = C.kmeans_sql(k=8, iters=3, dim=64)

SEMDEDUP_K = 8
SEMDEDUP_ITERS = 2


def semdedup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup pair stage (arXiv:2303.09540): k-means-cluster the
    embeddings, then exact cosine near-dup pairs ONLY within each
    cluster — the cluster key prunes the cross-cluster n² before it
    exists, and each cluster's remaining pair grid runs through the
    (cluster, block-pair)-cogrouped BLAS kernel. The oracle replays the
    full k-means fit plus the within-cluster pair scan."""
    emb = read_table(spark, sf_dir, "embeddings")
    out = SD.semdedup_pairs(
        emb, NEARDUP_COSINE, k=SEMDEDUP_K, iters=SEMDEDUP_ITERS
    )
    return out.select(
        "id_a", "id_b", stable_round("cosine", 6).alias("cosine")
    )


SEMDEDUP_PAIRS_SQL = SD.semdedup_pairs_sql(
    NEARDUP_COSINE, k=SEMDEDUP_K, iters=SEMDEDUP_ITERS, dim=64
)


def semdedup_keep_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup survivor set: drop every row that is the higher id of a
    within-cluster pair above the threshold (keep-lowest-id — the
    cross-engine-deterministic stand-in for the paper's farthest-from-
    centroid pick). Distinct + left-anti over id rows only; vectors
    never re-shuffle after the pair stage."""
    emb = read_table(spark, sf_dir, "embeddings")
    return SD.semdedup_keep(
        emb, NEARDUP_COSINE, k=SEMDEDUP_K, iters=SEMDEDUP_ITERS
    ).orderBy("vec_id")


SEMDEDUP_KEEP_SQL = SD.semdedup_keep_sql(
    NEARDUP_COSINE, k=SEMDEDUP_K, iters=SEMDEDUP_ITERS, dim=64
)


def semdedup_keep_paper(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup survivor set under the PAPER's keep rule (Abbas et al.
    §3): among semantic duplicates keep the member farthest from its
    cluster centroid (prototypical near-center mass prunes first), tie →
    lowest id. Per qualifying pair the nearer member is removed; on a
    transitive dup group exactly the farthest member survives — same
    removal count as keep-lowest-id with the order key swapped. The
    oracle replays fit + distances + pair scan + the CASE removal."""
    emb = read_table(spark, sf_dir, "embeddings")
    return SD.semdedup_keep(
        emb,
        NEARDUP_COSINE,
        k=SEMDEDUP_K,
        iters=SEMDEDUP_ITERS,
        keep="farthest_from_centroid",
    ).orderBy("vec_id")


SEMDEDUP_KEEP_PAPER_SQL = SD.semdedup_keep_paper_sql(
    NEARDUP_COSINE, k=SEMDEDUP_K, iters=SEMDEDUP_ITERS, dim=64
)


def embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster centroid-distance outlier flags (operators.semdedup
    .centroid_outliers): the SemDeDup paper's prune signal as a data-
    quality triage query — distance ships free from the assignment
    argmin, stats are a k-row agg, the flag a broadcast join."""
    emb = read_table(spark, sf_dir, "embeddings")
    out = SD.centroid_outliers(emb, k=SEMDEDUP_K, iters=SEMDEDUP_ITERS)
    return out.select(
        "vec_id",
        "cluster",
        stable_round("sq_dist", 6).alias("sq_dist"),
        "is_outlier",
    ).orderBy("vec_id")


EMBEDDING_OUTLIERS_SQL = SD.centroid_outliers_sql(
    k=SEMDEDUP_K, iters=SEMDEDUP_ITERS, dim=64
)

_DIVERSE_M = 16


def semdedup_admission(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental SemDeDup (operators.semdedup.semdedup_admission): the
    accepted STORE (vec_id % 4 != 0) receives an arriving batch
    (vec_id % 4 == 0); centroids fit on the store only, both sides take
    one labeling pass, and the batch's near-dup relations against the
    store or earlier batch-mates come from two cluster-keyed BLAS
    stages — store×store pairs are never formed. The embedding analog of
    `incremental_dedup_admission`."""
    emb = read_table(spark, sf_dir, "embeddings")
    store = emb.filter(F.col("vec_id") % 4 != 0)
    batch = emb.filter(F.col("vec_id") % 4 == 0)
    out = SD.semdedup_admission(
        store, batch, NEARDUP_COSINE, k=SEMDEDUP_K, iters=SEMDEDUP_ITERS
    )
    return out.select(
        "vec_id", "dup_of", stable_round("cosine", 6).alias("cosine")
    ).orderBy("vec_id", "dup_of")


SEMDEDUP_ADMISSION_SQL = SD.semdedup_admission_sql(
    NEARDUP_COSINE, k=SEMDEDUP_K, iters=SEMDEDUP_ITERS, dim=64
)


def embedding_diverse_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-stratified diverse subset (operators.semdedup
    .diverse_sample): the 16 farthest-from-centroid members per k-means
    cluster — coverage-preserving data pruning (SemDeDup's keep rule /
    SSL-prototypes). The Spark output rounds sq_dist AFTER the ranking
    window, mirroring the oracle."""
    emb = read_table(spark, sf_dir, "embeddings")
    out = SD.diverse_sample(
        emb, _DIVERSE_M, k=SEMDEDUP_K, iters=SEMDEDUP_ITERS
    )
    return out.select(
        "cluster",
        "vec_id",
        stable_round("sq_dist", 6).alias("sq_dist"),
        "rank",
    ).orderBy("cluster", "rank")


EMBEDDING_DIVERSE_SQL = SD.diverse_sample_sql(
    _DIVERSE_M, k=SEMDEDUP_K, iters=SEMDEDUP_ITERS, dim=64
)


def source_dup_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication matrix: MinHash near-dup pairs rolled up
    by the (unordered) source pair — the corpus-governance view of WHICH
    ingests duplicate each other (crawl vs crawl re-fetch, mirror sites,
    licensed-set overlap). One id-keyed join per pair endpoint onto the
    already-bucketed pair stream; the rollup is a |sources|²-bounded agg."""
    docs = read_table(spark, sf_dir, "documents")
    pairs = D.minhash_neardup(
        docs, "text", "doc_id", threshold=JACCARD_THRESHOLD
    )
    a = docs.select(
        F.col("doc_id").alias("doc_a"), F.col("source").alias("__sa")
    )
    b = docs.select(
        F.col("doc_id").alias("doc_b"), F.col("source").alias("__sb")
    )
    return (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .groupBy(
            F.least("__sa", "__sb").alias("source_x"),
            F.greatest("__sa", "__sb").alias("source_y"),
        )
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .orderBy("source_x", "source_y")
    )


SOURCE_DUP_MATRIX_SQL = """
WITH mh_pairs AS ({pairs})
SELECT least(da.source, db.source) AS source_x,
       greatest(da.source, db.source) AS source_y,
       count(*) AS n_pairs
FROM mh_pairs p
JOIN documents da ON da.doc_id = p.doc_a
JOIN documents db ON db.doc_id = p.doc_b
GROUP BY 1, 2
ORDER BY source_x, source_y
""".format(pairs=_minhash_sql("documents"))


def embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid fit — the building block behind IVF coarse
    quantization, as a pure two-level aggregation: posexplode to
    (label, dim) → mean per cell → recombine to the centroid's L2 norm.
    Both shuffles key on high-cardinality composites; no vector ever
    passes through Python."""
    emb = read_table(spark, sf_dir, "embeddings")
    cells = emb.select(
        "label", F.posexplode("embedding").alias("pos", "v")
    )
    per_cell = cells.groupBy("label", "pos").agg(
        F.avg("v").alias("m"), F.count(F.lit(1)).alias("cnt")
    )
    return (
        per_cell.groupBy("label")
        .agg(
            F.max("cnt").alias("n_vecs"),
            stable_round(
                F.sqrt(F.sum(F.col("m") * F.col("m"))), 6
            ).alias("centroid_norm"),
        )
        .orderBy("label")
    )


EMBEDDING_CENTROIDS_SQL = """
WITH cells AS (
    SELECT label, generate_subscripts(embedding, 1) AS pos,
           unnest(embedding) AS v
    FROM embeddings
), per_cell AS (
    SELECT label, pos, avg(CAST(v AS DOUBLE)) AS m, count(*) AS cnt
    FROM cells GROUP BY label, pos
)
SELECT label,
       CAST(max(cnt) AS BIGINT) AS n_vecs,
       {r} AS centroid_norm
FROM per_cell
GROUP BY label
ORDER BY label
""".format(r=sql_round("sqrt(sum(m * m))", 6))


def events_peak_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join via time binning: find the top-10 six-hour windows by
    total event value, then match purchases into those intervals with
    ``interval_bin_join`` (equi-join on the bin key — never a
    nested-loop inequality join; see streaming.events.interval_bin_join)."""
    ev = read_table(spark, sf_dir, "events")
    wins = (
        ev.groupBy(F.window("ts", "6 hours").alias("win"))
        .agg(stable_round(F.sum("value"), 3).alias("total_value"))
        .select(
            F.col("win.start").alias("start"),
            F.col("win.end").alias("end"),
            "total_value",
        )
    )
    top = wins.orderBy(
        F.col("total_value").desc(), F.col("start").asc()
    ).limit(10)
    purchases = ev.filter(F.col("event_type") == "purchase")
    joined = interval_bin_join(purchases, top)
    return (
        joined.groupBy("start", "total_value")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            stable_round(F.sum("value"), 3).alias("purchase_value"),
        )
        .select(
            F.date_format("start", "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "total_value",
            "n_purchases",
            "purchase_value",
        )
        .orderBy("window_start")
    )


EVENTS_PEAK_SQL = """
WITH wins AS (
    SELECT time_bucket(INTERVAL '6 hours', ts) AS start,
           time_bucket(INTERVAL '6 hours', ts) + INTERVAL '6 hours'
               AS end_,
           {tv} AS total_value
    FROM events GROUP BY 1
), top AS (
    SELECT * FROM wins ORDER BY total_value DESC, start LIMIT 10
)
SELECT strftime(top.start, '%Y-%m-%d %H:%M:%S') AS window_start,
       top.total_value,
       count(*) AS n_purchases,
       {pv} AS purchase_value
FROM top JOIN events e
  ON e.event_type = 'purchase'
 AND e.ts >= top.start AND e.ts < top.end_
GROUP BY 1, 2
ORDER BY 1
""".format(
    tv=sql_round("sum(value)", 3), pv=sql_round("sum(e.value)", 3)
)


def events_resample_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resampling with forward fill: each user's event
    stream regularized onto an hourly grid spanning their first→last
    hour, carrying the last observed value across gaps (the standard
    gap-fill before joining irregular telemetry against anything
    gridded).

    Scale shape: events reduce to one row per (user, hour) FIRST (hash
    agg + per-hour window), the grid explodes only span-hours per user
    (never events × hours), and the fill is one last_value(ignorenulls)
    window keyed on user — a single user-keyed shuffle. Long-lived hot
    users inherit the per-source window caveat (range-partition by
    (user, time bucket) and fill per bucket with a carried seed)."""
    ev = read_table(spark, sf_dir, "events")
    h = ev.withColumn("hour_ts", F.date_trunc("hour", F.col("ts")))
    wlast = Window.partitionBy("user_id", "hour_ts").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    ranked = h.select(
        "user_id",
        "hour_ts",
        "value",
        F.row_number().over(wlast).alias("__rn"),
        F.count(F.lit(1))
        .over(Window.partitionBy("user_id", "hour_ts"))
        .alias("__cnt"),
    )
    per_hour = ranked.filter(F.col("__rn") == 1).select(
        "user_id",
        "hour_ts",
        F.col("value").alias("__v"),
        F.col("__cnt").alias("n_events"),
    )
    spans = h.groupBy("user_id").agg(
        F.min("hour_ts").alias("__h0"), F.max("hour_ts").alias("__h1")
    )
    grid = spans.select(
        "user_id",
        F.explode(
            F.sequence("__h0", "__h1", F.expr("interval 1 hour"))
        ).alias("hour_ts"),
    )
    joined = grid.join(per_hour, ["user_id", "hour_ts"], "left")
    wff = (
        Window.partitionBy("user_id")
        .orderBy("hour_ts")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return joined.select(
        "user_id",
        "hour_ts",
        stable_round(F.last("__v", ignorenulls=True).over(wff), 6).alias(
            "value_ff"
        ),
        F.coalesce("n_events", F.lit(0)).cast("long").alias("n_events"),
    ).orderBy("user_id", "hour_ts")


EVENTS_RESAMPLE_SQL = """
WITH h AS (
    SELECT user_id, date_trunc('hour', ts) AS hour_ts, ts, event_id, value
    FROM events
), ranked AS (
    SELECT user_id, hour_ts, value,
           row_number() OVER (PARTITION BY user_id, hour_ts
                              ORDER BY ts DESC, event_id DESC) AS rn,
           count(*) OVER (PARTITION BY user_id, hour_ts) AS cnt
    FROM h
), ph AS (
    SELECT user_id, hour_ts, value AS v, cnt AS n_events
    FROM ranked WHERE rn = 1
), spans AS (
    SELECT user_id, min(hour_ts) AS h0, max(hour_ts) AS h1
    FROM h GROUP BY user_id
), grid AS (
    SELECT user_id,
           unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour_ts
    FROM spans
), joined AS (
    SELECT g.user_id, g.hour_ts, ph.v,
           coalesce(ph.n_events, 0) AS n_events
    FROM grid g LEFT JOIN ph USING (user_id, hour_ts)
)
SELECT user_id, hour_ts,
       {v} AS value_ff,
       CAST(n_events AS BIGINT) AS n_events
FROM joined
ORDER BY user_id, hour_ts
""".format(
    v=sql_round(
        "last_value(v IGNORE NULLS) OVER ("
        "PARTITION BY user_id ORDER BY hour_ts ROWS UNBOUNDED PRECEDING)",
        6,
    )
)


def events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users grouped by first-seen ISO week × weeks
    since that week, distinct active users per cell. Two shuffles on the
    user key (first-seen agg + activity join) and one on the cohort cell —
    all high-cardinality keys; the classic cohort matrix without any
    window function."""
    ev = read_table(spark, sf_dir, "events")
    first_seen = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("__cohort")
    )
    act = ev.join(first_seen, "user_id")
    week_no = F.floor(
        F.datediff(F.to_date("ts"), F.to_date("__cohort")) / 7
    ).cast("long")
    return (
        act.select(
            "user_id",
            F.date_format("__cohort", "yyyy-MM-dd").alias("cohort_week"),
            week_no.alias("week_no"),
        )
        .groupBy("cohort_week", "week_no")
        .agg(F.countDistinct("user_id").alias("n_users"))
        .orderBy("cohort_week", "week_no")
    )


EVENTS_RETENTION_SQL = """
WITH first_seen AS (
    SELECT user_id, date_trunc('week', min(ts)) AS cohort
    FROM events GROUP BY user_id
)
SELECT strftime(cohort, '%Y-%m-%d') AS cohort_week,
       CAST(floor(date_diff('day', CAST(cohort AS DATE), CAST(ts AS DATE)) / 7.0)
            AS BIGINT) AS week_no,
       count(DISTINCT e.user_id) AS n_users
FROM events e JOIN first_seen USING (user_id)
GROUP BY 1, 2
ORDER BY 1, 2
"""


def events_value_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type z-score outliers (|z| > 3): a two-pass anomaly scan — tiny
    per-type moment aggregate broadcast back onto the stream. The shape
    that replaces a window-function formulation at scale (a global window
    per type would single-thread each type's partition; the agg + broadcast
    join keeps the second pass embarrassingly parallel)."""
    ev = read_table(spark, sf_dir, "events")
    stats = ev.groupBy("event_type").agg(
        F.avg("value").alias("__mu"),
        F.stddev_samp("value").alias("__sd"),
    )
    z = (F.col("value") - F.col("__mu")) / F.col("__sd")
    return (
        ev.join(F.broadcast(stats), "event_type")
        .withColumn("__z", z)
        .filter(F.abs("__z") > 3.0)
        .select(
            "event_id",
            "event_type",
            stable_round("value", 3).alias("value"),
            stable_round("__z", 3).alias("zscore"),
        )
        .orderBy("event_id")
    )


EVENTS_ANOMALIES_SQL = """
SELECT event_id, event_type,
       {v} AS value,
       {z} AS zscore
FROM (
    SELECT *,
           avg(value) OVER (PARTITION BY event_type) AS mu,
           stddev_samp(value) OVER (PARTITION BY event_type) AS sd
    FROM events)
WHERE abs((value - mu) / sd) > 3
ORDER BY event_id
""".format(
    v=sql_round("value", 3), z=sql_round("(value - mu) / sd", 3)
)


# --- multimodal plumbing -----------------------------------------------------


def multimodal_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return binary_metadata(docs, "text", "doc_id")


MULTIMODAL_SQL = """
SELECT doc_id AS media_id,
       octet_length(encode(text)) AS n_bytes,
       md5(text) AS content_md5
FROM documents
"""


def audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed audio feature extraction over binary payloads
    (mapInPandas, stateless map — no shuffle, bytes never driver-side).
    Runs the deterministic fake codec so the full Arrow pipeline is
    oracle-checkable: the stand-in derives rate/length/feature from the
    payload's sha256, which DuckDB replays byte-for-byte. The real PCM-WAV
    path (stdlib `wave`, no optional dependency) is exercised in
    tests/test_search_multimodal.py."""
    from ..operators.multimodal import attach_payloads, extract_audio_features

    docs = read_table(spark, sf_dir, "documents")
    media = attach_payloads(docs, "text", "doc_id")
    out = extract_audio_features(media, fake_decode=True)
    return out.select(
        "media_id",
        F.col("n_bytes").cast("long").alias("n_bytes"),
        F.col("sample_rate").cast("long").alias("sample_rate"),
        "n_samples",
        "duration_s",
        # scalar feature columns: the driver's value-hash compares scalars
        *[F.col("feature").getItem(i).alias(f"f{i}") for i in range(8)],
    ).orderBy("media_id")


# byte k (0-based) of sha256(text) as an integer, via hex-pair cast
_SHA_BYTE = "(('0x' || substr(sha256(text), {o}, 2))::INT)"


def _audio_sql() -> str:
    rates = "[8000, 16000, 22050, 44100]"
    b = lambda k: _SHA_BYTE.format(o=2 * k + 1)  # noqa: E731
    feats = ",\n       ".join(f"{b(3 + i)} / 255.0 AS f{i}" for i in range(8))
    return f"""
WITH s AS (
    SELECT doc_id AS media_id,
           octet_length(encode(text)) AS n_bytes,
           list_extract({rates}, 1 + {b(0)} % 4) AS sample_rate,
           256 + ({b(1)} * 256 + {b(2)}) % 4096 AS n_samples,
           {feats}
    FROM documents
)
SELECT CAST(media_id AS BIGINT) AS media_id,
       CAST(n_bytes AS BIGINT) AS n_bytes,
       CAST(sample_rate AS BIGINT) AS sample_rate,
       CAST(n_samples AS BIGINT) AS n_samples,
       CAST(n_samples AS DOUBLE) / sample_rate AS duration_s,
       f0, f1, f2, f3, f4, f5, f6, f7
FROM s ORDER BY media_id
"""


def image_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image dedup — the multimodal layer composed with the
    dedup layer: Arrow decode (deterministic fake codec, so the whole
    pipeline is oracle-checkable) → 16-bit aHash+dHash perceptual hash
    (pure Catalyst, integer-exact thresholds) → one hash aggregation into
    ``(phash, canonical_id, n_copies)`` buckets. The real-codec decode is
    exercised behind the Pillow guard in tests; the scale shape —
    stateless map + map-side-combinable groupBy — is identical either
    way."""
    from ..operators.multimodal import (
        attach_payloads,
        extract_features,
        phash_dedup,
    )

    docs = read_table(spark, sf_dir, "documents")
    feats = extract_features(
        attach_payloads(docs, "text", "doc_id"), fake_decode=True
    )
    out = phash_dedup(feats)
    return out.select(
        "phash",
        "canonical_id",
        F.col("n_copies").cast("long").alias("n_copies"),
    ).orderBy("phash")


def _image_phash_sql() -> str:
    bs = ", ".join(
        f"{_SHA_BYTE.format(o=2 * (2 + i) + 1)} AS b{i}" for i in range(8)
    )
    total = " + ".join(f"b{i}" for i in range(8))
    mean_bits = " + ".join(
        f"(CASE WHEN 8 * b{i} > ({total}) THEN {1 << i} ELSE 0 END)"
        for i in range(8)
    )
    grad_bits = " + ".join(
        f"(CASE WHEN b{i} > b{(i + 1) % 8} THEN {1 << (8 + i)} ELSE 0 END)"
        for i in range(8)
    )
    return f"""
WITH b AS (
    SELECT doc_id AS media_id, {bs} FROM documents
), p AS (
    SELECT media_id,
           CAST({mean_bits} + {grad_bits} AS BIGINT) AS phash
    FROM b
)
SELECT phash, MIN(media_id) AS canonical_id, COUNT(*) AS n_copies
FROM p GROUP BY phash ORDER BY phash
"""


def image_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image NEAR-dup: pairs within hamming distance ≤ 2 of
    the 16-bit perceptual hash, via the distinct-hash pre-aggregated
    hamming join (`hamming_pairs_grouped`): the banded pigeonhole join
    runs over ≤ 2¹⁶ DISTINCT hash values — bounded by the hash space,
    independent of corpus size — and docs expand back through exact-hash
    equi-joins (doc-level banding on a 16-bit hash would emit ~N²/32
    candidates, since its 5-bit block keys take only 32 values). Recall
    1.0, equi-joins only. The oracle replays the hash from sha256 hex
    pairs and verifies with a full xor-popcount — exact cross-engine
    because every threshold in the hash is an INT comparison."""
    from ..operators.multimodal import (
        attach_payloads,
        extract_features,
        perceptual_hash,
    )

    docs = read_table(spark, sf_dir, "documents")
    feats = extract_features(
        attach_payloads(docs, "text", "doc_id"), fake_decode=True
    )
    sigs = feats.select(
        F.col("media_id").alias("doc_id"),
        perceptual_hash("feature").alias("simhash"),
    )
    pairs = D.hamming_pairs_grouped(sigs, max_hamming=2, bits=16)
    return pairs.select(
        F.col("doc_a").alias("media_a"),
        F.col("doc_b").alias("media_b"),
        F.col("hamming").cast("long").alias("hamming"),
    ).orderBy("media_a", "media_b")


def _image_phash_neardup_sql() -> str:
    head = _image_phash_sql().split("SELECT phash,")[0]
    return f"""{head}SELECT a.media_id AS media_a, b.media_id AS media_b,
       CAST(bit_count(xor(a.phash, b.phash)) AS BIGINT) AS hamming
FROM p a JOIN p b ON a.media_id < b.media_id
WHERE bit_count(xor(a.phash, b.phash)) <= 2
ORDER BY media_a, media_b
"""


def corpus_dup_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-document duplicated-passage coverage (RefinedWeb-style dup
    n-gram fraction): per doc, the fraction of 3-word-shingle positions
    whose shingle occurs in ≥2 distinct documents. Never doc×doc — two
    hash aggs + one equi-join on the shingle hash."""
    docs = read_table(spark, sf_dir, "documents")
    cov = D.dup_shingle_coverage(docs, "text", "doc_id", n=3, min_docs=2)
    return cov.select(
        "doc_id",
        "n_shingles",
        "n_dup_shingles",
        stable_round("__frac", 4).alias("dup_fraction"),
    ).orderBy("doc_id")


DUP_COVERAGE_SQL = """
WITH g AS (
    SELECT doc_id,
           list_transform(
               range(1, greatest(len({toks}) - 2, 1) + 1),
               i -> {gram_hash}) AS grams
    FROM documents
), e AS (
    SELECT doc_id, unnest(grams) AS sh FROM g
), c AS (
    SELECT doc_id, sh, count(*) AS cnt FROM e GROUP BY doc_id, sh
), dup AS (
    SELECT sh FROM c GROUP BY sh HAVING count(*) >= 2
)
SELECT c.doc_id,
       CAST(sum(c.cnt) AS BIGINT) AS n_shingles,
       CAST(sum(CASE WHEN dup.sh IS NOT NULL THEN c.cnt ELSE 0 END) AS BIGINT)
           AS n_dup_shingles,
       {frac} AS dup_fraction
FROM c LEFT JOIN dup ON c.sh = dup.sh
GROUP BY c.doc_id
ORDER BY c.doc_id
""".format(
    toks=_TOKS.format(c="text"),
    gram_hash=_sql_hash(
        "array_to_string(" + _TOKS.format(c="text") + "[i : i + 2], ' ')"
    ),
    frac=sql_round(
        "CAST(sum(CASE WHEN dup.sh IS NOT NULL THEN c.cnt ELSE 0 END) AS DOUBLE)"
        " / sum(c.cnt)",
        4,
    ),
)


def dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated-substring spans (word-level Lee et al. 2022):
    maximal token ranges covered by corpus-duplicated 3-gram shingles.
    Shingle-hash equi-join + per-doc gaps-and-islands — never a suffix
    array, never doc×doc (operators.dedup.duplicate_spans)."""
    docs = read_table(spark, sf_dir, "documents")
    return D.duplicate_spans(docs, "text", "doc_id").orderBy(
        "doc_id", "span_start"
    )


# gaps-and-islands twin: WHERE filters before the window, the NULL first
# lag falls to the ELSE branch exactly like Spark's when/otherwise
_SPANS_CORE = """
g AS (
    SELECT doc_id,
           list_transform(
               range(1, greatest(len({toks}) - 2, 1) + 1),
               i -> {gram_hash}) AS grams
    FROM documents
), e AS (
    SELECT doc_id,
           unnest(range(0, len(grams))) AS pos,
           unnest(grams) AS sh
    FROM g
), dup AS (
    SELECT sh FROM e GROUP BY sh HAVING count(*) >= 2
), fl AS (
    SELECT doc_id, pos,
           CASE WHEN pos - lag(pos)
                    OVER (PARTITION BY doc_id ORDER BY pos) <= 3
                THEN 0 ELSE 1 END AS nw
    FROM e WHERE sh IN (SELECT sh FROM dup)
), isl AS (
    SELECT doc_id, pos,
           sum(nw) OVER (PARTITION BY doc_id ORDER BY pos) AS island
    FROM fl
), spans AS (
    SELECT doc_id,
           CAST(min(pos) AS INT) AS span_start,
           CAST(max(pos) + 3 AS INT) AS span_end,
           CAST(max(pos) + 3 - min(pos) AS INT) AS span_tokens
    FROM isl
    GROUP BY doc_id, island
)
""".format(
    toks=_TOKS.format(c="text"),
    gram_hash=_sql_hash(
        "array_to_string(" + _TOKS.format(c="text") + "[i : i + 2], ' ')"
    ),
)

DUP_SPANS_SQL = (
    "WITH "
    + _SPANS_CORE
    + """
SELECT doc_id, span_start, span_end, span_tokens
FROM spans
ORDER BY doc_id, span_start
"""
)


def dup_span_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring scrub: every duplicated span's tokens removed,
    doc rebuilt (operators.dedup.scrub_duplicate_spans). The scrubbed
    text is returned as its polynomial hash so the driver's value
    compare is exact without shipping full texts."""
    docs = read_table(spark, sf_dir, "documents")
    out = D.scrub_duplicate_spans(docs, "text", "doc_id")
    return out.select(
        "doc_id",
        "n_tokens",
        "n_kept",
        X.string_hash(F.col("scrubbed")).alias("scrubbed_hash"),
    ).orderBy("doc_id")


DUP_SCRUB_SQL = (
    "WITH "
    + _SPANS_CORE
    + """
, sp AS (
    SELECT doc_id,
           list({{'s': span_start, 'e': span_end}}) AS sps
    FROM spans GROUP BY doc_id
), d AS (
    SELECT doc_id, {toks} AS toks FROM documents
), j AS (
    SELECT d.doc_id, d.toks, sp.sps
    FROM d LEFT JOIN sp USING (doc_id)
), k AS (
    SELECT doc_id,
           len(toks) AS n_tokens,
           list_transform(
               list_filter(
                   range(0, len(toks)),
                   i -> coalesce(
                       len(list_filter(sps,
                           s -> i >= s.s AND i < s.e)) = 0,
                       TRUE)),
               i -> toks[i + 1]) AS kept
    FROM j
)
SELECT doc_id,
       CAST(n_tokens AS INT) AS n_tokens,
       CAST(len(kept) AS INT) AS n_kept,
       {scrub_hash} AS scrubbed_hash
FROM k
ORDER BY doc_id
""".format(
        toks=_TOKS.format(c="text"),
        scrub_hash=_sql_hash("array_to_string(kept, ' ')"),
    )
)


def embedding_dedup_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup (SemDeDup-family): embedding near-dup pair graph
    (exact block-pair BLAS at this low threshold) → connected components →
    keep each semantic cluster's minimum vec_id plus all singletons. The
    embedding-space twin of `corpus_canonical_ids`. Every stage is
    distributed — the pair graph never touches the driver."""
    emb = read_table(spark, sf_dir, "embeddings")
    pairs = cosine_neardup_blas(emb, NEARDUP_COSINE)
    cc = D.connected_components(pairs, a_col="id_a", b_col="id_b")
    dupes = cc.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias("vec_id")
    )
    return (
        emb.select("vec_id")
        .join(dupes, "vec_id", "left_anti")
        .orderBy("vec_id")
    )


EMBEDDING_DEDUP_SQL = """
WITH RECURSIVE
p AS (
    SELECT id_a, id_b FROM ({pairs}) np
),
edges AS (
    SELECT id_a AS src, id_b AS dst FROM p
    UNION
    SELECT id_b AS src, id_a AS dst FROM p
),
comp(node, label) AS (
    SELECT DISTINCT src, src FROM edges
    UNION
    SELECT e.dst, c.label
    FROM comp c JOIN edges e ON e.src = c.node
),
labels AS (
    SELECT node, min(label) AS component FROM comp GROUP BY node
)
SELECT v.vec_id
FROM embeddings v
LEFT JOIN labels l ON l.node = v.vec_id
WHERE l.node IS NULL OR l.component = v.vec_id
ORDER BY v.vec_id
""".format(pairs=EMBEDDING_NEARDUP_SQL)


# --- Z-order data layout -----------------------------------------------------

_ZBITS = 4  # 16 buckets per dimension, 16 files after the >> 4 tile shift


def _zorder_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem with bucket / z-key / file-assignment columns. Bounds are
    a 1-row broadcast scalar attach; everything else is a stateless map
    (operators.layout). file_z = z >> 4 keeps the top two bits of each
    dimension — a deterministic 4×4-tile assignment, no sort (the
    sampling-based zorder_repartition is the production write path and is
    covered by tests instead)."""
    from ..operators import layout as L

    li = read_table(spark, sf_dir, "lineitem")
    bounds = li.agg(
        F.min("l_partkey").alias("pk_lo"),
        F.max("l_partkey").alias("pk_hi"),
        F.min("l_suppkey").alias("sk_lo"),
        F.max("l_suppkey").alias("sk_hi"),
    )
    b = (
        li.select("l_partkey", "l_suppkey")
        .crossJoin(F.broadcast(bounds))
        .withColumn(
            "bp",
            L.int_bucket(
                F.col("l_partkey"), F.col("pk_lo"), F.col("pk_hi"), _ZBITS
            ),
        )
        .withColumn(
            "bs",
            L.int_bucket(
                F.col("l_suppkey"), F.col("sk_lo"), F.col("sk_hi"), _ZBITS
            ),
        )
    )
    z = L.zorder_key([F.col("bp"), F.col("bs")], _ZBITS)
    return b.withColumn("file_z", F.shiftright(z, _ZBITS)).withColumn(
        "file_lin", F.col("bp")
    )


_ZB_SQL = {
    "bp": f"(((l_partkey - pk_lo) * {1 << _ZBITS}) // (pk_hi - pk_lo + 1))",
    "bs": f"(((l_suppkey - sk_lo) * {1 << _ZBITS}) // (sk_hi - sk_lo + 1))",
}


def _zorder_base_sql() -> str:
    from ..operators.layout import zorder_key_sql

    z = zorder_key_sql([_ZB_SQL["bp"], _ZB_SQL["bs"]], _ZBITS)
    return f"""bounds AS (
    SELECT min(l_partkey) AS pk_lo, max(l_partkey) AS pk_hi,
           min(l_suppkey) AS sk_lo, max(l_suppkey) AS sk_hi
    FROM lineitem
), zb AS (
    SELECT l_partkey, l_suppkey,
           {_ZB_SQL['bp']} AS bp,
           {_ZB_SQL['bs']} AS bs,
           ({z} >> {_ZBITS}) AS file_z,
           {_ZB_SQL['bp']} AS file_lin
    FROM lineitem CROSS JOIN bounds
)"""


def lineitem_zorder_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-file stats table under the Z-order layout — what a lakehouse
    records for min/max file skipping. Beyond-reference layout operator;
    design on operators.layout."""
    return (
        _zorder_base(spark, sf_dir)
        .groupBy(F.col("file_z").alias("file_id"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("l_partkey").alias("pk_min"),
            F.max("l_partkey").alias("pk_max"),
            F.min("l_suppkey").alias("sk_min"),
            F.max("l_suppkey").alias("sk_max"),
        )
        .orderBy("file_id")
    )


ZORDER_FILES_SQL = (
    "WITH "
    + _zorder_base_sql()
    + """
SELECT file_z AS file_id,
       CAST(count(*) AS BIGINT) AS n_rows,
       min(l_partkey) AS pk_min, max(l_partkey) AS pk_max,
       min(l_suppkey) AS sk_min, max(l_suppkey) AS sk_max
FROM zb GROUP BY file_z ORDER BY file_id
"""
)

# predicate box in bucket space: the middle quarter of each dimension
_BOX_LO, _BOX_HI = 6, 9


def zorder_pruning_gain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Head-to-head file-skipping comparison: Z-order layout vs a
    single-column sort, same file count, three predicate shapes (2-D box,
    partkey-only, suppkey-only). A file is scanned when its min/max
    bucket range overlaps the predicate box — exactly the lakehouse
    min/max pruning rule. The linear layout wins nothing on partkey,
    scans EVERYTHING on suppkey-only; Z-order prunes both."""
    # deliberately NOT persisted: base is lineitem-sized (caching it at
    # 100 TB is worse than re-running a stateless map), so the harness's
    # two consumers (file stats, truth counts) each scan once
    base = _zorder_base(spark, sf_dir)
    return _pruning_compare(base, {"zorder": "file_z", "linear": "file_lin"})


def _pruning_compare(base: DataFrame, layouts: dict[str, str]) -> DataFrame:
    """Shared min/max file-skipping harness: per-layout file stats, the
    three predicate shapes, and ground-truth match counts."""
    stats = (
        base.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(name).alias("layout"),
                            F.col(col).alias("file_id"),
                        )
                        for name, col in layouts.items()
                    ]
                )
            ).alias("a"),
            "bp",
            "bs",
        )
        .select("a.layout", "a.file_id", "bp", "bs")
        .groupBy("layout", "file_id")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("bp").alias("bp_min"),
            F.max("bp").alias("bp_max"),
            F.min("bs").alias("bs_min"),
            F.max("bs").alias("bs_max"),
        )
    )
    hit_pk = (F.col("bp_min") <= _BOX_HI) & (F.col("bp_max") >= _BOX_LO)
    hit_sk = (F.col("bs_min") <= _BOX_HI) & (F.col("bs_max") >= _BOX_LO)

    def scanned(cond, col=None):
        return F.sum(
            F.when(cond, F.col(col) if col else F.lit(1)).otherwise(0)
        )

    per_layout = stats.groupBy("layout").agg(
        F.count(F.lit(1)).alias("n_files"),
        scanned(hit_pk & hit_sk).alias("files_scanned_both"),
        scanned(hit_pk & hit_sk, "n_rows").alias("rows_scanned_both"),
        scanned(hit_pk).alias("files_scanned_pk"),
        scanned(hit_pk, "n_rows").alias("rows_scanned_pk"),
        scanned(hit_sk).alias("files_scanned_sk"),
        scanned(hit_sk, "n_rows").alias("rows_scanned_sk"),
    )
    in_pk = F.col("bp").between(_BOX_LO, _BOX_HI)
    in_sk = F.col("bs").between(_BOX_LO, _BOX_HI)
    truth = base.agg(
        F.sum(F.when(in_pk & in_sk, 1).otherwise(0)).alias("rows_match_both"),
        F.sum(F.when(in_pk, 1).otherwise(0)).alias("rows_match_pk"),
        F.sum(F.when(in_sk, 1).otherwise(0)).alias("rows_match_sk"),
    )
    return per_layout.crossJoin(F.broadcast(truth)).orderBy("layout")


ZORDER_PRUNING_SQL = (
    "WITH "
    + _zorder_base_sql()
    + f""",
files AS (
    SELECT layout, file_id,
           count(*) AS n_rows,
           min(bp) AS bp_min, max(bp) AS bp_max,
           min(bs) AS bs_min, max(bs) AS bs_max
    FROM (
        SELECT 'zorder' AS layout, file_z AS file_id, bp, bs FROM zb
        UNION ALL
        SELECT 'linear' AS layout, file_lin AS file_id, bp, bs FROM zb)
    GROUP BY layout, file_id
), per_layout AS (
    SELECT layout,
        CAST(count(*) AS BIGINT) AS n_files,
        CAST(sum(CASE WHEN bp_min <= {_BOX_HI} AND bp_max >= {_BOX_LO}
                       AND bs_min <= {_BOX_HI} AND bs_max >= {_BOX_LO}
                 THEN 1 ELSE 0 END) AS BIGINT) AS files_scanned_both,
        CAST(sum(CASE WHEN bp_min <= {_BOX_HI} AND bp_max >= {_BOX_LO}
                       AND bs_min <= {_BOX_HI} AND bs_max >= {_BOX_LO}
                 THEN n_rows ELSE 0 END) AS BIGINT) AS rows_scanned_both,
        CAST(sum(CASE WHEN bp_min <= {_BOX_HI} AND bp_max >= {_BOX_LO}
                 THEN 1 ELSE 0 END) AS BIGINT) AS files_scanned_pk,
        CAST(sum(CASE WHEN bp_min <= {_BOX_HI} AND bp_max >= {_BOX_LO}
                 THEN n_rows ELSE 0 END) AS BIGINT) AS rows_scanned_pk,
        CAST(sum(CASE WHEN bs_min <= {_BOX_HI} AND bs_max >= {_BOX_LO}
                 THEN 1 ELSE 0 END) AS BIGINT) AS files_scanned_sk,
        CAST(sum(CASE WHEN bs_min <= {_BOX_HI} AND bs_max >= {_BOX_LO}
                 THEN n_rows ELSE 0 END) AS BIGINT) AS rows_scanned_sk
    FROM files GROUP BY layout
), truth AS (
    SELECT
        CAST(sum(CASE WHEN bp BETWEEN {_BOX_LO} AND {_BOX_HI}
                       AND bs BETWEEN {_BOX_LO} AND {_BOX_HI}
                 THEN 1 ELSE 0 END) AS BIGINT) AS rows_match_both,
        CAST(sum(CASE WHEN bp BETWEEN {_BOX_LO} AND {_BOX_HI}
                 THEN 1 ELSE 0 END) AS BIGINT) AS rows_match_pk,
        CAST(sum(CASE WHEN bs BETWEEN {_BOX_LO} AND {_BOX_HI}
                 THEN 1 ELSE 0 END) AS BIGINT) AS rows_match_sk
    FROM zb
)
SELECT * FROM per_layout CROSS JOIN truth ORDER BY layout
"""
)


def hilbert_pruning_gain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert curve vs Z-order at equal file count, same harness as
    zorder_pruning_gain. At power-of-two-aligned file grain the two
    curves TIE on min/max pruning (both tile the grid into equal
    rectangles — this query documents that honestly); Hilbert's real
    edge is ~0.56x the contiguous curve-runs per query box (fewer scan
    ranges/seeks — the Moon et al. 2001 cluster bound, pinned
    quantitatively in tests/test_layout.py)."""
    from ..operators import layout as L

    base = _zorder_base(spark, sf_dir).withColumn(
        "file_h",
        F.shiftright(
            L.hilbert_key(F.col("bp"), F.col("bs"), _ZBITS), _ZBITS
        ),
    )
    return _pruning_compare(base, {"hilbert": "file_h", "zorder": "file_z"})


def _hilbert_base_sql() -> str:
    """zb extended with the Hilbert file id: each reflect/rotate level is
    its own chained CTE (flat SQL instead of exponentially nested CASEs),
    generated by the same loop as the Spark expression."""
    from ..operators.layout import hilbert_sql_steps

    steps = hilbert_sql_steps("bp", "bs", _ZBITS)
    parts = [_zorder_base_sql()]
    prev = "zb"
    for i, (nx, ny, dterm) in enumerate(steps):
        acc = f"CAST({dterm} AS BIGINT)" if i == 0 else f"hd + {dterm}"
        parts.append(
            f"""h{i} AS (
    SELECT l_partkey, l_suppkey, bp, bs, file_z,
           {nx} AS hx, {ny} AS hy, {acc} AS hd
    FROM {prev}
)"""
        )
        prev = f"h{i}"
    parts.append(
        f"""hb AS (
    SELECT l_partkey, l_suppkey, bp, bs, file_z,
           (hd >> {_ZBITS}) AS file_h
    FROM {prev}
)"""
    )
    return ",\n".join(parts)


HILBERT_PRUNING_SQL = (
    "WITH "
    + _hilbert_base_sql()
    + f""",
files AS (
    SELECT layout, file_id,
           count(*) AS n_rows,
           min(bp) AS bp_min, max(bp) AS bp_max,
           min(bs) AS bs_min, max(bs) AS bs_max
    FROM (
        SELECT 'hilbert' AS layout, file_h AS file_id, bp, bs FROM hb
        UNION ALL
        SELECT 'zorder' AS layout, file_z AS file_id, bp, bs FROM hb)
    GROUP BY layout, file_id
), per_layout AS (
    SELECT layout,
        CAST(count(*) AS BIGINT) AS n_files,
        CAST(sum(CASE WHEN bp_min <= {_BOX_HI} AND bp_max >= {_BOX_LO}
                       AND bs_min <= {_BOX_HI} AND bs_max >= {_BOX_LO}
                 THEN 1 ELSE 0 END) AS BIGINT) AS files_scanned_both,
        CAST(sum(CASE WHEN bp_min <= {_BOX_HI} AND bp_max >= {_BOX_LO}
                       AND bs_min <= {_BOX_HI} AND bs_max >= {_BOX_LO}
                 THEN n_rows ELSE 0 END) AS BIGINT) AS rows_scanned_both,
        CAST(sum(CASE WHEN bp_min <= {_BOX_HI} AND bp_max >= {_BOX_LO}
                 THEN 1 ELSE 0 END) AS BIGINT) AS files_scanned_pk,
        CAST(sum(CASE WHEN bp_min <= {_BOX_HI} AND bp_max >= {_BOX_LO}
                 THEN n_rows ELSE 0 END) AS BIGINT) AS rows_scanned_pk,
        CAST(sum(CASE WHEN bs_min <= {_BOX_HI} AND bs_max >= {_BOX_LO}
                 THEN 1 ELSE 0 END) AS BIGINT) AS files_scanned_sk,
        CAST(sum(CASE WHEN bs_min <= {_BOX_HI} AND bs_max >= {_BOX_LO}
                 THEN n_rows ELSE 0 END) AS BIGINT) AS rows_scanned_sk
    FROM files GROUP BY layout
), truth AS (
    SELECT
        CAST(sum(CASE WHEN bp BETWEEN {_BOX_LO} AND {_BOX_HI}
                       AND bs BETWEEN {_BOX_LO} AND {_BOX_HI}
                 THEN 1 ELSE 0 END) AS BIGINT) AS rows_match_both,
        CAST(sum(CASE WHEN bp BETWEEN {_BOX_LO} AND {_BOX_HI}
                 THEN 1 ELSE 0 END) AS BIGINT) AS rows_match_pk,
        CAST(sum(CASE WHEN bs BETWEEN {_BOX_LO} AND {_BOX_HI}
                 THEN 1 ELSE 0 END) AS BIGINT) AS rows_match_sk
    FROM hb
)
SELECT * FROM per_layout CROSS JOIN truth ORDER BY layout
"""
)


# --- behavioral analytics: multi-touch attribution, audience overlap ---------

_ATTR_LOOKBACK_S = 24 * 3600
_ATTR_HALFLIFE_S = 6 * 3600


def campaign_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-touch attribution by campaign (operators.behavior
    .touch_attribution): every purchase's value credited to the same
    user's clicks in the prior 24 h under linear and 6 h-halflife
    time-decay models at once, rolled up to the click's campaign id
    (parsed from the JSON props payload) — the dimension on which the
    two models actually disagree. The range join runs as the
    user+time-bin equi-join (never a nested loop); the oracle is the
    plain quadratic range join."""
    from ..operators.behavior import touch_attribution

    ev = read_table(spark, sf_dir, "events")
    return touch_attribution(
        ev,
        lookback_seconds=_ATTR_LOOKBACK_S,
        halflife_seconds=_ATTR_HALFLIFE_S,
        group_expr=F.get_json_object("props", "$.k").cast("long") % 10,
        group_name="campaign",
    )


CAMPAIGN_ATTRIBUTION_SQL = """
WITH t AS (
    SELECT user_id AS u,
           CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS g,
           epoch_us(ts) AS tt
    FROM events WHERE event_type = 'click'
), c AS (
    SELECT user_id AS u, event_id AS cid, epoch_us(ts) AS ct, value AS v
    FROM events WHERE event_type = 'purchase'
), p AS (
    SELECT t.g, c.cid, c.v,
           pow(2.0, -CAST(c.ct - t.tt AS DOUBLE) / {half_us}) AS w
    FROM t JOIN c ON t.u = c.u
     AND t.tt >= c.ct - {look_us} AND t.tt < c.ct
), pc AS (
    SELECT cid, count(*) AS n_touch, sum(w) AS w_sum FROM p GROUP BY cid
)
SELECT p.g AS campaign,
       CAST(count(DISTINCT p.cid) AS BIGINT) AS n_conversions,
       CAST(count(*) AS BIGINT) AS n_touch_pairs,
       {lin} AS attributed_linear,
       {dec} AS attributed_decay
FROM p JOIN pc USING (cid)
GROUP BY p.g
ORDER BY campaign
""".format(
    half_us=f"{_ATTR_HALFLIFE_S}000000.0",
    look_us=_ATTR_LOOKBACK_S * 1_000_000,
    lin=sql_round("sum(v / n_touch)", 4),
    dec=sql_round("sum(v * w / w_sum)", 4),
)

# audience overlap runs on the first two days only: over the whole month
# every synthetic user performs every event type and all overlaps are 1.0
_AUDIENCE_CUTOFF = "2024-01-03"


def audience_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact pairwise audience overlap (operators.behavior
    .audience_overlap): per unordered event-type pair, user counts and
    Jaccard overlap. The pair explode happens in-row over each user's
    bounded distinct-type set — never a user×user or event×event join;
    the oracle joins two distinct (user, type) tables quadratically."""
    from ..operators.behavior import audience_overlap

    ev = read_table(spark, sf_dir, "events").filter(
        F.col("ts") < F.lit(_AUDIENCE_CUTOFF).cast("timestamp_ntz")
    )
    return audience_overlap(ev)


AUDIENCE_OVERLAP_SQL = f"""
WITH ut AS (
    SELECT DISTINCT user_id, event_type FROM events
    WHERE ts < TIMESTAMP '{_AUDIENCE_CUTOFF}'
), totals AS (
    SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM ut GROUP BY event_type
), overlap AS (
    SELECT a.event_type AS type_a, b.event_type AS type_b,
           CAST(count(*) AS BIGINT) AS users_both
    FROM ut a JOIN ut b
      ON a.user_id = b.user_id AND a.event_type < b.event_type
    GROUP BY a.event_type, b.event_type
)
SELECT type_a, type_b, ta.n AS users_a, tb.n AS users_b, users_both,
       {sql_round('CAST(users_both AS DOUBLE) / (ta.n + tb.n - users_both)', 6)}
           AS jaccard
FROM overlap
JOIN totals ta ON ta.event_type = type_a
JOIN totals tb ON tb.event_type = type_b
ORDER BY type_a, type_b
"""


def audience_overlap_sketched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch audience overlap (operators.behavior
    .audience_overlap_theta): the same matrix from mergeable per-type
    theta sketches of the user set — intersections and differences are
    sketch-side, the capability HLL lacks. Registered rows-only (no
    DuckDB sketch twin); the pytest envelope pins exact-regime equality
    below 2^lgk users and the error bound beyond."""
    from ..operators.behavior import audience_overlap_theta

    ev = read_table(spark, sf_dir, "events").filter(
        F.col("ts") < F.lit(_AUDIENCE_CUTOFF).cast("timestamp_ntz")
    )
    return audience_overlap_theta(ev)


_AO_REL_BOUND = 0.05


def audience_overlap_sketch_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-overlap contract gate (the sketch-audit pattern): every
    sketched |A|, |B|, |A ∩ B| must sit within 5% of the exact matrix
    (at fixture scales the sketches are in their exact regime — a flip
    means the set algebra broke). Sketched matrix read once (T² tiny
    rows, a guarded driver pull), exact side is the in-row pair-explode
    aggregation; a zero exact intersection must be exactly zero
    sketched."""
    from ..operators.behavior import audience_overlap

    sk = {
        (r["type_a"], r["type_b"]): r
        for r in audience_overlap_sketched(spark, sf_dir).collect()
    }
    ev = read_table(spark, sf_dir, "events").filter(
        F.col("ts") < F.lit(_AUDIENCE_CUTOFF).cast("timestamp_ntz")
    )
    exact = audience_overlap(ev).collect()

    def ok(e: float, x: int) -> int:
        if x == 0:
            return int(e == 0.0)
        return int(abs(float(e) / float(x) - 1.0) <= _AO_REL_BOUND)

    rows = []
    for r in exact:
        key = (r["type_a"], r["type_b"])
        s = sk.get(key)
        rows.append(
            (
                r["type_a"],
                r["type_b"],
                int(r["users_a"]),
                int(r["users_b"]),
                int(r["users_both"]),
                0 if s is None else ok(s["est_a"], r["users_a"]),
                0 if s is None else ok(s["est_b"], r["users_b"]),
                0 if s is None else ok(s["est_both"], r["users_both"]),
            )
        )
    return spark.createDataFrame(
        rows,
        "type_a string, type_b string, users_a long, users_b long, "
        "users_both long, within_a int, within_b int, within_both int",
    ).orderBy("type_a", "type_b")


AUDIENCE_OVERLAP_AUDIT_SQL = f"""
WITH ut AS (
    SELECT DISTINCT user_id, event_type FROM events
    WHERE ts < TIMESTAMP '{_AUDIENCE_CUTOFF}'
), totals AS (
    SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM ut GROUP BY event_type
), overlap AS (
    SELECT a.event_type AS type_a, b.event_type AS type_b,
           CAST(count(*) AS BIGINT) AS users_both
    FROM ut a JOIN ut b
      ON a.user_id = b.user_id AND a.event_type < b.event_type
    GROUP BY a.event_type, b.event_type
)
SELECT type_a, type_b, ta.n AS users_a, tb.n AS users_b, users_both,
       1 AS within_a, 1 AS within_b, 1 AS within_both
FROM overlap
JOIN totals ta ON ta.event_type = type_a
JOIN totals tb ON tb.event_type = type_b
ORDER BY type_a, type_b
"""


_GK_RANK_BOUND = 0.002  # accuracy=1000 ⇒ rank error ≤ 1/1000; 2× slack


def approx_value_quantiles_rank_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Greenwald–Khanna contract gate for the rows-only
    ``events_value_quantiles_approx``: per (event_type, φ), the
    NORMALIZED RANK of approx_percentile's answer must sit within
    ±1/accuracy of φ (the GK guarantee; accuracy=1000, bound doubled for
    slack). Reads the per-type approx answers (T tiny rows), then ONE
    conditional aggregation brackets every answer's rank."""
    ev = read_table(spark, sf_dir, "events")
    acc = F.lit(1000)
    qs = [0.5, 0.9, 0.99]
    approx = (
        ev.groupBy("event_type")
        .agg(
            *[
                F.approx_percentile("value", F.lit(q), acc).alias(
                    f"q_{str(q).replace('.', '_')}"
                )
                for q in qs
            ]
        )
        .collect()
    )
    aggs = [F.count("value").alias("n")]
    for r in approx:
        t = r["event_type"]
        for q in qs:
            tag = f"{t}_{str(q).replace('.', '_')}"
            qv = float(r[f"q_{str(q).replace('.', '_')}"])
            cond = F.col("event_type") == F.lit(t)
            aggs.append(
                F.sum(
                    (cond & (F.col("value") < F.lit(qv))).cast("long")
                ).alias(f"lo_{tag}")
            )
            aggs.append(
                F.sum(
                    (cond & (F.col("value") <= F.lit(qv))).cast("long")
                ).alias(f"hi_{tag}")
            )
            aggs.append(F.sum(cond.cast("long")).alias(f"n_{tag}"))
    stats = ev.agg(*aggs).first()
    out = []
    for r in approx:
        t = r["event_type"]
        for q in qs:
            tag = f"{t}_{str(q).replace('.', '_')}"
            n_t = float(stats[f"n_{tag}"])
            lo = stats[f"lo_{tag}"] / n_t
            hi = stats[f"hi_{tag}"] / n_t
            ok = (q >= lo - _GK_RANK_BOUND) and (q <= hi + _GK_RANK_BOUND)
            out.append((t, float(q), int(n_t), int(ok)))
    return spark.createDataFrame(
        out, "event_type string, phi double, n long, within_bound int"
    ).orderBy("event_type", "phi")


APPROX_QUANTILES_AUDIT_SQL = """
SELECT event_type, phi, CAST(count(*) AS BIGINT) AS n, 1 AS within_bound
FROM events CROSS JOIN (VALUES (0.5), (0.9), (0.99)) t(phi)
GROUP BY event_type, phi
ORDER BY event_type, phi
"""


# theta retention cube: week 1 of Jan vs week 3
_RET_A = ("2024-01-01", "2024-01-07")
_RET_B = ("2024-01-15", "2024-01-21")


def retained_users_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact twin of the theta-cube retention query: users active in
    BOTH date ranges, via one user-keyed hash agg with per-range flags
    (map-side partials absorb event volume) and a 1-row rollup — the
    baseline the sketch cube replaces at scale (this rescans the log;
    the cube touches #days binary rows per side)."""
    ev = read_table(spark, sf_dir, "events")
    day = F.to_date("ts")

    def flag(rng):
        return F.max(
            F.when(
                (day >= F.lit(rng[0]).cast("date"))
                & (day <= F.lit(rng[1]).cast("date")),
                1,
            ).otherwise(0)
        )

    per_user = ev.groupBy("user_id").agg(
        flag(_RET_A).alias("__a"), flag(_RET_B).alias("__b")
    )
    return per_user.agg(
        F.sum("__a").cast("long").alias("users_a"),
        F.sum("__b").cast("long").alias("users_b"),
        F.sum(F.col("__a") * F.col("__b")).cast("long").alias("retained"),
        stable_round(
            F.sum(F.col("__a") * F.col("__b")) / F.sum("__a"), 6
        ).alias("retention_rate"),
    )


RETAINED_WINDOW_SQL = """
WITH per_user AS (
    SELECT user_id,
           max(CASE WHEN CAST(ts AS DATE) BETWEEN DATE '{a0}' AND DATE '{a1}'
               THEN 1 ELSE 0 END) AS a,
           max(CASE WHEN CAST(ts AS DATE) BETWEEN DATE '{b0}' AND DATE '{b1}'
               THEN 1 ELSE 0 END) AS b
    FROM events GROUP BY user_id
)
SELECT CAST(sum(a) AS BIGINT) AS users_a,
       CAST(sum(b) AS BIGINT) AS users_b,
       CAST(sum(a * b) AS BIGINT) AS retained,
       {rate} AS retention_rate
FROM per_user
""".format(
    a0=_RET_A[0],
    a1=_RET_A[1],
    b0=_RET_B[0],
    b1=_RET_B[1],
    rate=sql_round("CAST(sum(a * b) AS DOUBLE) / sum(a)", 6),
)


def retained_users_window_theta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mergeable set-algebra cube (streaming.stats
    .daily_user_theta_sketches): per-day theta sketches of the user set,
    each range answered by a union agg over its days, retention by a
    sketch INTERSECTION — the operation HLL cannot express. Rows-only
    (no DuckDB sketch twin); pytest pins exact-regime equality and the
    estimation-regime envelope."""
    from ..streaming.stats import daily_user_theta_sketches, retained_over_ranges

    ev = read_table(spark, sf_dir, "events")
    cube = daily_user_theta_sketches(ev)
    return retained_over_ranges(cube, *_RET_A, *_RET_B)


# --- sketch-contract audits (hashed companions to the rows-only cubes) ------
#
# DataSketches binaries have no DuckDB twin, so the cube queries above are
# rows-only in the driver check. These companions make the sketches'
# CONTRACTS driver-visible anyway (the pca_variance_audit pattern): Spark
# computes the sketch estimate AND the exact answer, emits the exact value
# plus a 0/1 within-bound flag; the oracle recomputes the exact value and
# asserts the flag. A sketch drifting outside its published error envelope
# flips the flag and fails the hash — a real cross-engine gate on the
# guarantee, without pretending DuckDB can replay the sketch internals.
# Bounds are deliberately generous multiples of the published envelopes
# (HLL lgk=12 RSE ≈ 1.04/2^6 = 1.63%; KLL k=800 rank error ≈ 0.85%;
# theta lgk=12 is EXACT below 4096 retained keys) so the flags are stable
# across every sf the driver runs, while still ~10× tighter than "any
# answer passes".

_HLL_REL_BOUND = 0.05
_KLL_RANK_BOUND = 0.02
_THETA_REL_BOUND = 0.05


def hll_window_error_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL cube contract gate: |estimate/exact − 1| ≤ 5% over the
    registered window (3× the lgk=12 RSE). One cube aggregation for the
    estimate (a scalar — the guarded driver pull every sketch readout
    needs), one exact count-distinct for the reference."""
    from ..streaming.stats import daily_distinct_sketches, distinct_over_days

    ev = read_table(spark, sf_dir, "events")
    cube = daily_distinct_sketches(ev)
    est = float(
        distinct_over_days(cube, _HLL_START, _HLL_END).first()[
            "approx_distinct"
        ]
    )
    day = F.to_date("ts")
    exact = ev.filter(
        (day >= F.lit(_HLL_START).cast("date"))
        & (day <= F.lit(_HLL_END).cast("date"))
    ).agg(F.countDistinct("user_id").cast("long").alias("exact_distinct"))
    within = (
        F.abs(F.lit(est) / F.col("exact_distinct").cast("double") - 1.0)
        <= F.lit(_HLL_REL_BOUND)
    )
    return exact.select(
        "exact_distinct",
        F.lit(_HLL_REL_BOUND).alias("rel_bound"),
        within.cast("int").alias("within_bound"),
    )


HLL_AUDIT_SQL = f"""
SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS exact_distinct,
       {_HLL_REL_BOUND!r} AS rel_bound,
       1 AS within_bound
FROM events
WHERE CAST(ts AS DATE) BETWEEN DATE '{_HLL_START}' AND DATE '{_HLL_END}'
"""


def kll_window_rank_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KLL cube contract gate: for each registered quantile φ, the
    NORMALIZED RANK of the sketch's answer must sit within ±2% of φ
    (k=800 ⇒ ≈0.85% published rank error) — the guarantee KLL actually
    makes (about ranks, not values). Spark reads the three sketch
    quantiles (scalars), then one exact pass brackets each answer's rank
    [count(v<q̂), count(v≤q̂)]/n and flags φ against the widened
    interval."""
    from ..streaming.stats import daily_value_sketches, value_quantiles_over_days

    qs = [0.25, 0.5, 0.9]
    ev = read_table(spark, sf_dir, "events")
    cube = daily_value_sketches(ev)
    row = value_quantiles_over_days(cube, _HLL_START, _HLL_END, qs).first()
    day = F.to_date("ts")
    win = ev.filter(
        (day >= F.lit(_HLL_START).cast("date"))
        & (day <= F.lit(_HLL_END).cast("date"))
    )
    aggs = [F.count("value").alias("n")]
    for q in qs:
        tag = str(q).replace(".", "_")
        qv = float(row[f"q_{tag}"])
        aggs.append(
            F.sum((F.col("value") < F.lit(qv)).cast("long")).alias(f"lo_{tag}")
        )
        aggs.append(
            F.sum((F.col("value") <= F.lit(qv)).cast("long")).alias(f"hi_{tag}")
        )
    stats = win.agg(*aggs).first()
    n = float(stats["n"])
    out = []
    for q in qs:
        tag = str(q).replace(".", "_")
        lo = stats[f"lo_{tag}"] / n
        hi = stats[f"hi_{tag}"] / n
        ok = (q >= lo - _KLL_RANK_BOUND) and (q <= hi + _KLL_RANK_BOUND)
        out.append((float(q), int(stats["n"]), int(ok)))
    return spark.createDataFrame(
        out, "phi double, n_values long, within_bound int"
    ).orderBy("phi")


KLL_AUDIT_SQL = f"""
SELECT phi,
       CAST((SELECT count(value) FROM events
             WHERE CAST(ts AS DATE) BETWEEN DATE '{_HLL_START}'
               AND DATE '{_HLL_END}') AS BIGINT) AS n_values,
       1 AS within_bound
FROM (VALUES (0.25), (0.5), (0.9)) t(phi)
ORDER BY phi
"""


def streaming_sketch_cube_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAMED sketch cube through the contract gate: three
    micro-batches (event_id % 3) flow through
    ``SketchCubeStore.process_batch`` — the exact ``foreachBatch`` body —
    into an epoch-partitioned parquet cube in a fresh temp dir, then the
    registered window's distinct estimate and quantile ranks are checked
    against exact answers (same bounds as the batch-cube audits). Output
    rows (metric, n, within_bound); the oracle recomputes the exact
    values and asserts every flag. HLL merge is register-max
    (order-free), so streaming ingestion cannot move the estimate; KLL
    compaction is order-dependent but stays inside its rank bound — the
    flags are stable by construction, not by luck."""
    import shutil
    import tempfile

    from ..streaming.stats import SketchCubeStore

    ev = read_table(spark, sf_dir, "events")
    store_dir = scratch_dir("cocoa_sketch_cube_")
    store = SketchCubeStore(store_dir)
    try:
        for epoch in range(3):
            store.process_batch(
                ev.filter(F.col("event_id") % 3 == epoch), epoch
            )
        est = float(
            store.distinct_over(spark, _HLL_START, _HLL_END).first()[
                "approx_distinct"
            ]
        )
        qs = [0.5, 0.9]
        qrow = store.quantiles_over(
            spark, _HLL_START, _HLL_END, qs
        ).first()
        qvals = {q: float(qrow[f"q_{str(q).replace('.', '_')}"]) for q in qs}
    finally:
        shutil.rmtree(store_dir, ignore_errors=True)
    day = F.to_date("ts")
    win = ev.filter(
        (day >= F.lit(_HLL_START).cast("date"))
        & (day <= F.lit(_HLL_END).cast("date"))
    )
    aggs = [
        F.countDistinct("user_id").cast("long").alias("exact_distinct"),
        F.count("value").alias("n"),
    ]
    for q in qs:
        tag = str(q).replace(".", "_")
        aggs.append(
            F.sum((F.col("value") < F.lit(qvals[q])).cast("long")).alias(
                f"lo_{tag}"
            )
        )
        aggs.append(
            F.sum((F.col("value") <= F.lit(qvals[q])).cast("long")).alias(
                f"hi_{tag}"
            )
        )
    stats = win.agg(*aggs).first()
    n = int(stats["n"])
    rows = [
        (
            "distinct_users",
            int(stats["exact_distinct"]),
            int(
                abs(est / float(stats["exact_distinct"]) - 1.0)
                <= _HLL_REL_BOUND
            ),
        )
    ]
    for q in qs:
        tag = str(q).replace(".", "_")
        lo = stats[f"lo_{tag}"] / float(n)
        hi = stats[f"hi_{tag}"] / float(n)
        ok = (q >= lo - _KLL_RANK_BOUND) and (q <= hi + _KLL_RANK_BOUND)
        rows.append((f"rank_q_{tag}", n, int(ok)))
    return spark.createDataFrame(
        rows, "metric string, n long, within_bound int"
    ).orderBy("metric")


STREAMING_SKETCH_CUBE_AUDIT_SQL = f"""
WITH w AS (
    SELECT user_id, value FROM events
    WHERE CAST(ts AS DATE) BETWEEN DATE '{_HLL_START}' AND DATE '{_HLL_END}'
)
SELECT * FROM (
    SELECT 'distinct_users' AS metric,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n, 1 AS within_bound
    FROM w
    UNION ALL
    SELECT 'rank_q_0_5', CAST(count(value) AS BIGINT), 1 FROM w
    UNION ALL
    SELECT 'rank_q_0_9', CAST(count(value) AS BIGINT), 1 FROM w
)
ORDER BY metric
"""


def theta_retention_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta cube contract gate: the sketched |A|, |B| and |A ∩ B| must
    each sit within 5% of the exact per-user-flag aggregation (at the
    fixture scales the sketch is in its exact regime — the flag failing
    would mean the cube's set algebra broke, not that noise moved).
    Exact side is the retained_users_window aggregation; estimates are
    one cube readout (3 scalars)."""
    from ..streaming.stats import daily_user_theta_sketches, retained_over_ranges

    ev = read_table(spark, sf_dir, "events")
    cube = daily_user_theta_sketches(ev)
    est = retained_over_ranges(cube, *_RET_A, *_RET_B).first()
    exact = retained_users_window(spark, sf_dir).first()
    def ok(e: float, x: int) -> int:
        return int(x > 0 and abs(e / float(x) - 1.0) <= _THETA_REL_BOUND)

    rows = [
        (
            int(exact["users_a"]),
            int(exact["users_b"]),
            int(exact["retained"]),
            ok(float(est["est_a"]), int(exact["users_a"])),
            ok(float(est["est_b"]), int(exact["users_b"])),
            ok(float(est["est_retained"]), int(exact["retained"])),
        )
    ]
    return spark.createDataFrame(
        rows,
        "users_a long, users_b long, retained long, "
        "within_a int, within_b int, within_retained int",
    )


THETA_AUDIT_SQL = """
WITH per_user AS (
    SELECT user_id,
           max(CASE WHEN CAST(ts AS DATE) BETWEEN DATE '{a0}' AND DATE '{a1}'
               THEN 1 ELSE 0 END) AS a,
           max(CASE WHEN CAST(ts AS DATE) BETWEEN DATE '{b0}' AND DATE '{b1}'
               THEN 1 ELSE 0 END) AS b
    FROM events GROUP BY user_id
)
SELECT CAST(sum(a) AS BIGINT) AS users_a,
       CAST(sum(b) AS BIGINT) AS users_b,
       CAST(sum(a * b) AS BIGINT) AS retained,
       1 AS within_a, 1 AS within_b, 1 AS within_retained
FROM per_user
""".format(a0=_RET_A[0], a1=_RET_A[1], b0=_RET_B[0], b1=_RET_B[1])


def events_value_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type OLS trend of event value over time (timeseries
    .linear_trend): slope/intercept/R² from the native SQL:2023
    regression aggregates — one hash agg, no window, no join; the
    regressor is exact-integer-derived fractional days so both engines
    regress on identical doubles."""
    from ..operators.timeseries import linear_trend

    ev = read_table(spark, sf_dir, "events")
    return linear_trend(ev, ["event_type"], "ts", "value", round_scale=4)


EVENTS_TREND_SQL = """
SELECT event_type,
       CAST(count(value) AS BIGINT) AS n,
       {slope} AS slope_per_day,
       {icept} AS intercept,
       {r2} AS r2,
       {delta} AS fitted_delta
FROM (
    SELECT event_type, value,
           CAST(epoch_us(ts) AS DOUBLE) / 86400000000.0 AS x
    FROM events
)
GROUP BY event_type
ORDER BY event_type
""".format(
    slope=sql_round("regr_slope(value, x)", 4),
    icept=sql_round("regr_intercept(value, x)", 4),
    r2=sql_round("regr_r2(value, x)", 4),
    delta=sql_round("regr_slope(value, x) * (max(x) - min(x))", 4),
)


def events_interarrival_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival analysis: per event type, the distribution (p50 /
    p90 / mean) of same-user gaps between consecutive events of that
    type — the arrival-process statistic behind rate limiting, session
    gap tuning, and bot detection (machine traffic shows unnaturally
    tight gaps). One keyed lag window on the high-cardinality
    (user, type) key — never a global sort — then one exact-percentile
    hash agg per type; gaps in exact integer microseconds before the
    seconds division, so both engines aggregate identical doubles."""
    ev = read_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp_ltz"))
    w = Window.partitionBy("user_id", "event_type").orderBy(
        "ts", "event_id"
    )
    gap = (us - F.lag(us).over(w)).cast("double") / 1e6
    gaps = ev.withColumn("__gap", gap).filter(F.col("__gap").isNotNull())
    return (
        gaps.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_gaps"),
            stable_round(F.percentile("__gap", 0.5), 4).alias("p50_s"),
            stable_round(F.percentile("__gap", 0.9), 4).alias("p90_s"),
            stable_round(F.avg("__gap"), 4).alias("mean_s"),
        )
        .orderBy("event_type")
    )


INTERARRIVAL_SQL = """
WITH g AS (
    SELECT event_type,
           CAST(epoch_us(ts) - lag(epoch_us(ts)) OVER (
               PARTITION BY user_id, event_type ORDER BY ts, event_id
           ) AS DOUBLE) / 1e6 AS gap
    FROM events
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_gaps,
       {p50} AS p50_s,
       {p90} AS p90_s,
       {mean} AS mean_s
FROM g WHERE gap IS NOT NULL
GROUP BY event_type
ORDER BY event_type
""".format(
    p50=sql_round("quantile_cont(gap, 0.5)", 4),
    p90=sql_round("quantile_cont(gap, 0.9)", 4),
    mean=sql_round("avg(gap)", 4),
)


def events_props_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured access via the VARIANT type (Spark 4): the JSON
    props payload parses ONCE into the binary variant encoding
    (`parse_json`) and fields extract with `variant_get` path
    expressions — the modern replacement for per-access JSON string
    re-parsing (`get_json_object` re-tokenizes the string every call;
    variant decodes a typed binary). Aggregates k's per-type profile
    plus a derived bucket, all from variant extractions."""
    ev = read_table(spark, sf_dir, "events")
    v = F.parse_json("props")
    k = F.try_variant_get(v, "$.k", "long")
    return (
        ev.select(F.col("event_type"), k.alias("__k"))
        .groupBy("event_type", (F.col("__k") % 10).alias("k_bucket"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("__k").cast("long").alias("sum_k"),
        )
        .orderBy("event_type", "k_bucket")
    )


EVENTS_VARIANT_SQL = """
SELECT event_type,
       CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_bucket,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
           AS sum_k
FROM events
GROUP BY 1, 2
ORDER BY event_type, k_bucket
"""


def orders_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-call per-column table profile (colstats.table_profile):
    counts / nulls / EXACT distincts / min-max / means for every orders
    column in ONE aggregate pass (the multi-count-distinct plans as a
    single Expand, not k scans)."""
    from ..operators.colstats import table_profile

    orders = read_table(spark, sf_dir, "orders")
    return table_profile(orders)


def _table_profile_sql() -> str:
    numeric = {"o_orderkey", "o_custkey", "o_totalprice"}
    cols = [
        "o_custkey",
        "o_orderdate",
        "o_orderkey",
        "o_orderpriority",
        "o_orderstatus",
        "o_totalprice",
    ]
    parts = []
    for c in cols:
        base = (
            f"SELECT '{c}' AS \"column\", "
            f"CAST(count({c}) AS BIGINT) AS n_values, "
            f"CAST(count(CASE WHEN {c} IS NULL THEN 1 END) AS BIGINT)"
            f" AS n_nulls, "
            f"CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct, "
        )
        if c in numeric:
            base += (
                f"{sql_round(f'CAST(min({c}) AS DOUBLE)', 6)} AS min_num, "
                f"{sql_round(f'CAST(max({c}) AS DOUBLE)', 6)} AS max_num, "
                f"{sql_round(f'avg(CAST({c} AS DOUBLE))', 6)} AS mean, "
                "CAST(NULL AS VARCHAR) AS min_str, "
                "CAST(NULL AS VARCHAR) AS max_str FROM orders"
            )
        else:
            base += (
                "CAST(NULL AS DOUBLE) AS min_num, "
                "CAST(NULL AS DOUBLE) AS max_num, "
                "CAST(NULL AS DOUBLE) AS mean, "
                f"min(CAST({c} AS VARCHAR)) AS min_str, "
                f"max(CAST({c} AS VARCHAR)) AS max_str FROM orders"
            )
        parts.append(base)
    return "\nUNION ALL\n".join(parts) + '\nORDER BY "column"'


def events_wow_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week change per event type — the period-over-period
    comparison every metrics dashboard leads with: one hash agg to the
    (type, week) grain (map-side partials absorb event volume), then a
    keyed lag window over the AGGREGATED bounded frame. First week's
    change is NULL, not 0 — no fabricated baseline."""
    ev = read_table(spark, sf_dir, "events")
    week = F.date_format(F.date_trunc("week", F.col("ts")), "yyyy-MM-dd")
    weekly = ev.groupBy(
        F.col("event_type"), week.alias("week")
    ).agg(F.sum("value").alias("__rev"))
    w = Window.partitionBy("event_type").orderBy("week")
    prev = F.lag("__rev").over(w)
    return weekly.select(
        "event_type",
        "week",
        stable_round(F.col("__rev"), 2).alias("revenue"),
        stable_round(prev, 2).alias("prev_revenue"),
        stable_round((F.col("__rev") - prev) / prev, 6).alias("wow_pct"),
    ).orderBy("event_type", "week")


WOW_SQL = """
WITH weekly AS (
    SELECT event_type,
           strftime(date_trunc('week', ts), '%Y-%m-%d') AS week,
           sum(value) AS rev
    FROM events GROUP BY 1, 2
)
SELECT event_type, week,
       {rev} AS revenue,
       {prev} AS prev_revenue,
       {pct} AS wow_pct
FROM (
    SELECT event_type, week, rev,
           lag(rev) OVER (PARTITION BY event_type ORDER BY week) AS prev
    FROM weekly
)
ORDER BY event_type, week
""".format(
    rev=sql_round("rev", 2),
    prev=sql_round("prev", 2),
    pct=sql_round("(rev - prev) / prev", 6),
)


def streaming_attribution_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAMING attribution path (streaming.attribution
    .AttributionStore): three ts-ranged micro-batches flow through the
    exact foreachBatch body — per-epoch touch/credit deltas against a
    parquet store, conversions crediting across batch boundaries through
    the store probe — and the rollup must equal the one-shot batch
    operator, so the ORACLE IS THE SAME SQL as campaign_attribution.
    The readStream→sink wiring and replay idempotence are exercised in
    tests/test_streaming.py; this pins the sink body's semantics and
    store layout."""
    import shutil
    import tempfile

    from ..streaming.attribution import AttributionStore

    ev = read_table(spark, sf_dir, "events")
    store_dir = scratch_dir("cocoa_attr_store_")
    store = AttributionStore(
        store_dir,
        lookback_seconds=_ATTR_LOOKBACK_S,
        halflife_seconds=_ATTR_HALFLIFE_S,
    )
    t1, t2 = "2024-01-11", "2024-01-21"
    store.process_batch(ev.filter(F.col("ts") < t1), 0)
    store.process_batch(
        ev.filter((F.col("ts") >= t1) & (F.col("ts") < t2)), 1
    )
    store.process_batch(ev.filter(F.col("ts") >= t2), 2)
    # eager checkpoint materializes the rollup, so the store dir can go
    out = store.attributed(spark).localCheckpoint()
    shutil.rmtree(store_dir, ignore_errors=True)
    return out


def events_next_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of with tolerance via the general operator
    (operators.asof.asof_join): for every click, the user's NEXT
    purchase within 2 hours (timestamp + value; NULL outside the
    tolerance) — the sorted-union + running-last composition, one
    shuffle, no inequality join. The oracle is DuckDB's native ASOF
    JOIN with the tolerance as a post-CASE."""
    from ..operators.asof import asof_join

    ev = read_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    out = asof_join(
        clicks,
        purchases,
        ["user_id"],
        "ts",
        "ts",
        ["value"],
        direction="forward",
        tolerance_seconds=2 * 3600,
        matched_ts_col="purchase_ts",
    )
    return out.select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("click_ts"),
        F.date_format("purchase_ts", "yyyy-MM-dd HH:mm:ss").alias(
            "purchase_ts"
        ),
        F.col("value").alias("purchase_value"),
    ).orderBy("event_id")


NEXT_PURCHASE_SQL = """
SELECT c.event_id, c.user_id,
       strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS click_ts,
       CASE WHEN p.ts IS NOT NULL AND p.ts <= c.ts + INTERVAL 2 HOUR
            THEN strftime(p.ts, '%Y-%m-%d %H:%M:%S') END AS purchase_ts,
       CASE WHEN p.ts IS NOT NULL AND p.ts <= c.ts + INTERVAL 2 HOUR
            THEN p.value END AS purchase_value
FROM (SELECT * FROM events WHERE event_type = 'click') c
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
  ON c.user_id = p.user_id AND p.ts >= c.ts
ORDER BY c.event_id
"""


def events_value_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA control band per event type over the daily value series
    (timeseries.ewma_anomalies): recurrence-free adjust=True EWMA via
    the (1−α)^(−t) rescaling over the grain-bounded daily frame; flags
    from the group's deviation spread (agg→broadcast two-pass)."""
    from ..operators.timeseries import ewma_anomalies

    ev = read_table(spark, sf_dir, "events")
    return ewma_anomalies(ev, ["event_type"], "ts", "value")


EVENTS_EWMA_SQL = """
WITH daily AS (
    SELECT event_type, CAST(ts AS DATE) AS day, avg(value) AS x
    FROM events GROUP BY event_type, CAST(ts AS DATE)
), ranked AS (
    SELECT event_type, day, x,
           row_number() OVER (PARTITION BY event_type ORDER BY day) - 1 AS t
    FROM daily
), s AS (
    SELECT event_type, day, x, t,
           sum(x * pow(0.7, -t)) OVER
               (PARTITION BY event_type ORDER BY day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cs
    FROM ranked
), e AS (
    SELECT event_type, day, x,
           (cs * pow(0.7, t)) / ((1 - pow(0.7, t + 1)) / 0.3) AS ewma
    FROM s
), d AS (
    SELECT event_type, day, x, ewma,
           x - lag(ewma) OVER (PARTITION BY event_type ORDER BY day) AS dev
    FROM e
), sd AS (
    SELECT event_type, stddev_samp(dev) AS sd FROM d GROUP BY event_type
)
SELECT d.event_type, strftime(d.day, '%Y-%m-%d') AS day,
       {x} AS daily_avg, {ew} AS ewma, {dv} AS deviation,
       CASE WHEN d.dev IS NULL THEN NULL
            ELSE abs(d.dev) > 3.0 * sd.sd END AS is_anomaly
FROM d JOIN sd ON d.event_type = sd.event_type
ORDER BY d.event_type, d.day
""".format(
    x=sql_round("d.x", 6), ew=sql_round("d.ewma", 6), dv=sql_round("d.dev", 6)
)


def lineitem_correlation_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson matrix over lineitem's numeric columns
    (colstats.correlation_matrix): all C(4,2) correlations from ONE
    hash agg of streaming co-moments, exploded in-plan to tidy rows."""
    from ..operators.colstats import correlation_matrix

    li = read_table(spark, sf_dir, "lineitem")
    return correlation_matrix(
        li, ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    )


_CORR_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
CORRELATION_SQL = "\nUNION ALL\n".join(
    f"""SELECT '{a}' AS col_a, '{b}' AS col_b,
       {sql_round(f'corr({a}, {b})', 6)} AS pearson_r FROM lineitem"""
    for i, a in enumerate(_CORR_COLS)
    for b in _CORR_COLS[i + 1 :]
) + "\nORDER BY col_a, col_b"


def orders_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit audit of order totals (colstats
    .benford_audit): one stateless digit map + 9-bucket hash agg + 1-row
    attach; per-digit χ² contributions against log10(1 + 1/d)."""
    from ..operators.colstats import benford_audit

    orders = read_table(spark, sf_dir, "orders")
    return benford_audit(orders, "o_totalprice")


BENFORD_SQL = """
WITH d AS (
    SELECT CAST(floor(o_totalprice
               / pow(10.0, floor(log10(o_totalprice)))) AS BIGINT) AS digit
    FROM orders WHERE o_totalprice > 0
), c0 AS (
    SELECT digit, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY digit
), c AS (
    -- all 9 digits always appear; zero-count digits still contribute chi2
    SELECT g.digit, CAST(COALESCE(c0.n, 0) AS BIGINT) AS n
    FROM (SELECT CAST(range AS BIGINT) AS digit FROM range(1, 10)) g
    LEFT JOIN c0 USING (digit)
), t AS (SELECT CAST(sum(n) AS DOUBLE) AS tot FROM c)
SELECT digit, n,
       {obs} AS observed_frac,
       {ben} AS benford_frac,
       {chi} AS chi2_contrib
FROM c, t
ORDER BY digit
""".format(
    obs=sql_round("n / tot", 6),
    ben=sql_round("log10(1.0 + 1.0 / digit)", 6),
    chi=sql_round(
        "pow(n - log10(1.0 + 1.0 / digit) * tot, 2.0)"
        " / (log10(1.0 + 1.0 / digit) * tot)",
        4,
    ),
)


def streaming_click_purchase_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL stream-stream state-store join (streaming.joins
    .click_purchase_pairs_streaming): two watermarked readStream legs off
    the events file source, purchases ⋈ clicks of the same user within
    [click, click+1h], availableNow into a memory sink. The engine keeps
    both sides in the state store with the range bound + watermark
    limiting retention; the ORACLE is the plain batch range join —
    an inner time-bounded join's row set is micro-batching-independent."""
    from ..streaming.joins import click_purchase_pairs_streaming

    return click_purchase_pairs_streaming(spark, sf_dir)


def user_heavy_hitters_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch audit (operators.sketches): top-10 users by exact
    event count annotated with their CMS estimate — cms_est ≥ true_n
    always; the gap is the collision mass the 4×1024 counter table trades
    for bounded state. Build = one map-side-combinable (row, bucket) agg;
    every cell replayed in the oracle."""
    from ..operators.sketches import cms_heavy_hitters

    events = read_table(spark, sf_dir, "events")
    return cms_heavy_hitters(events, "user_id", 10).orderBy("rank")


CMS_HH_SQL = cms_heavy_hitters_sql(10, table="events", key_col="user_id")


def streaming_cms_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL streaming build of the Count-Min table (streaming.stats
    .CmsStore): the events file stream feeds a foreachBatch sink that
    writes each micro-batch's counter cells to an epoch-partitioned
    parquet store (exactly-once via dynamic partition overwrite); the
    heavy-hitter audit then runs against the store's epoch-summed
    totals. Cells are additive, so the result — and therefore the
    ORACLE — is identical to the one-shot batch CMS (CMS_HH_SQL),
    regardless of how the engine split the micro-batches."""
    import shutil
    import tempfile

    from ..operators.sketches import cms_heavy_hitters
    from ..streaming.events import stream_events_from_parquet
    from ..streaming.stats import CmsStore

    work = scratch_dir("cocoa_cms_store_")
    try:
        store = CmsStore(os.path.join(work, "store"))
        stream = stream_events_from_parquet(spark, sf_dir, watermark=None)
        q = store.sink(stream, os.path.join(work, "ckpt"))
        if not q.awaitTermination(600):
            # timeout with the query still running: the store is partial
            # and the finally-rmtree would race it — fail loudly instead.
            q.stop()
            raise TimeoutError(
                "streaming_cms_rounds: availableNow run did not finish "
                "within 600s; partial store discarded"
            )
        events = read_table(spark, sf_dir, "events")
        return (
            cms_heavy_hitters(events, "user_id", 10, cms=store.totals(spark))
            .orderBy("rank")
            .localCheckpoint()
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)


def streaming_dedup_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL streaming keyed dedup (streaming.dedup): the events fixture
    read as TWO readStream legs and unioned — an at-least-once source
    where every event arrives twice, possibly in different micro-batches
    — through ``dropDuplicatesWithinWatermark`` on event_id. The delay
    exceeds the fixture's event-time span, so no state evicts and the
    emitted set is exactly the batch distinct (the oracle)."""
    from ..streaming.dedup import dedup_events_streaming

    return dedup_events_streaming(spark, sf_dir)


STREAMING_DEDUP_SQL = """
SELECT event_id, user_id, event_type
FROM events ORDER BY event_id
"""


STREAM_JOIN_SQL = """
SELECT c.user_id AS user_id,
       c.event_id AS click_id,
       p.event_id AS purchase_id,
       CAST(epoch_us(p.ts) - epoch_us(c.ts) AS BIGINT) AS micros_between
FROM events c JOIN events p
  ON c.user_id = p.user_id
 AND c.event_type = 'click' AND p.event_type = 'purchase'
 AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
ORDER BY user_id, click_id, purchase_id
"""


QUERIES: dict[str, tuple] = {
    "events_interarrival_stats": (
        events_interarrival_stats,
        INTERARRIVAL_SQL,
    ),
    "events_props_variant": (events_props_variant, EVENTS_VARIANT_SQL),
    "orders_table_profile": (orders_table_profile, _table_profile_sql()),
    "events_wow_change": (events_wow_change, WOW_SQL),
    "streaming_attribution_rounds": (
        streaming_attribution_rounds,
        CAMPAIGN_ATTRIBUTION_SQL,
    ),
    "events_next_purchase": (events_next_purchase, NEXT_PURCHASE_SQL),
    "events_value_ewma": (events_value_ewma, EVENTS_EWMA_SQL),
    "lineitem_correlation_matrix": (
        lineitem_correlation_matrix,
        CORRELATION_SQL,
    ),
    "orders_benford_audit": (orders_benford_audit, BENFORD_SQL),
    "streaming_click_purchase_join": (
        streaming_click_purchase_join,
        STREAM_JOIN_SQL,
    ),
    "streaming_dedup_union": (streaming_dedup_union, STREAMING_DEDUP_SQL),
    "user_heavy_hitters_cms": (user_heavy_hitters_cms, CMS_HH_SQL),
    "streaming_cms_rounds": (streaming_cms_rounds, CMS_HH_SQL),
    "events_value_trend": (events_value_trend, EVENTS_TREND_SQL),
    "retained_users_window": (retained_users_window, RETAINED_WINDOW_SQL),
    "retained_users_window_theta": (retained_users_window_theta, None),
    "hll_window_error_audit": (hll_window_error_audit, HLL_AUDIT_SQL),
    "kll_window_rank_audit": (kll_window_rank_audit, KLL_AUDIT_SQL),
    "theta_retention_audit": (theta_retention_audit, THETA_AUDIT_SQL),
    "streaming_sketch_cube_audit": (streaming_sketch_cube_audit, STREAMING_SKETCH_CUBE_AUDIT_SQL),
    "campaign_attribution": (campaign_attribution, CAMPAIGN_ATTRIBUTION_SQL),
    "audience_overlap_matrix": (audience_overlap_matrix, AUDIENCE_OVERLAP_SQL),
    "audience_overlap_sketched": (audience_overlap_sketched, None),
    "audience_overlap_sketch_audit": (audience_overlap_sketch_audit, AUDIENCE_OVERLAP_AUDIT_SQL),
    "lineitem_zorder_files": (lineitem_zorder_files, ZORDER_FILES_SQL),
    "zorder_pruning_gain": (zorder_pruning_gain, ZORDER_PRUNING_SQL),
    "hilbert_pruning_gain": (hilbert_pruning_gain, HILBERT_PRUNING_SQL),
    "corpus_dup_coverage": (corpus_dup_coverage, DUP_COVERAGE_SQL),
    "dup_spans": (dup_spans, DUP_SPANS_SQL),
    "dup_span_scrub": (dup_span_scrub, DUP_SCRUB_SQL),
    "embedding_dedup_ids": (embedding_dedup_ids, EMBEDDING_DEDUP_SQL),
    "text_stats": (text_stats, TEXT_STATS_SQL),
    "doc_model_quality": (doc_model_quality, MODEL_QUALITY_SQL),
    "doc_fingerprints": (doc_fingerprints, DOC_FINGERPRINTS_SQL),
    "dedup_exact": (dedup_exact, DEDUP_EXACT_SQL),
    "vocab_top_terms": (vocab_top_terms, VOCAB_TOP_SQL),
    "corpus_clean_ids": (corpus_clean_ids, CORPUS_CLEAN_SQL),
    "dedup_fingerprint": (dedup_fingerprint, DEDUP_FINGERPRINT_SQL),
    "dedup_jaccard": (dedup_jaccard, DEDUP_JACCARD_SQL),
    "dedup_ngram_jaccard": (dedup_ngram_jaccard, DEDUP_NGRAM_SQL),
    "dedup_minhash": (dedup_minhash, _minhash_sql()),
    "dedup_minhash_planned": (dedup_minhash_planned, _minhash_planned_sql),
    "dedup_minhash_collapsed": (dedup_minhash_collapsed, _minhash_sql()),
    "dedup_sorted_neighborhood": (dedup_sorted_neighborhood, DEDUP_SNM_SQL),
    "incremental_dedup_admission": (
        incremental_dedup_admission,
        _incremental_dedup_sql,
    ),
    "admission_round": (admission_round, _admission_round_sql),
    "streaming_admission_rounds": (
        streaming_admission_rounds,
        _streaming_admission_sql,
    ),
    "dedup_clusters": (dedup_clusters, _clusters_sql()),
    "neardup_triangles": (neardup_triangles, _triangles_sql()),
    "neardup_pagerank": (
        neardup_pagerank,
        D.pagerank_sql(_minhash_sql(), damping=0.85, iters=3),
    ),
    "neardup_triangles_sampled": (
        neardup_triangles_sampled,
        _triangles_sampled_sql(),
    ),
    "neardup_component_density": (
        neardup_component_density,
        _component_density_sql(),
    ),
    "corpus_canonical_ids": (corpus_canonical_ids, _canonical_sql()),
    "corpus_language_profile": (corpus_language_profile, _language_profile_sql()),
    "dedup_simhash": (dedup_simhash, _simhash_sql()),
    "ann_cosine_topk": (ann_cosine_topk, ANN_SQL),
    "ann_lsh_topk": (ann_lsh_topk, _ann_lsh_sql()),
    "ann_ivf_topk": (ann_ivf_topk, _ann_ivf_sql),
    "ann_recall_audit": (ann_recall_audit, _ann_recall_audit_sql),
    "embedding_neardup": (embedding_neardup, EMBEDDING_NEARDUP_SQL),
    "events_tumbling": (events_tumbling, EVENTS_TUMBLING_SQL),
    "events_sliding": (events_sliding, EVENTS_SLIDING_SQL),
    "events_sessions": (events_sessions, EVENTS_SESSIONS_SQL),
    "events_asof_attribution": (events_asof_attribution, EVENTS_ASOF_SQL),
    "events_json_props": (events_json_props, EVENTS_JSON_SQL),
    "events_value_quantiles": (events_value_quantiles, EVENTS_QUANTILES_SQL),
    "events_value_quantiles_approx": (events_value_quantiles_approx, None),
    "approx_quantiles_rank_audit": (approx_value_quantiles_rank_audit, APPROX_QUANTILES_AUDIT_SQL),
    "events_value_anomalies": (events_value_anomalies, EVENTS_ANOMALIES_SQL),
    "events_retention": (events_retention, EVENTS_RETENTION_SQL),
    "events_resample_hourly": (events_resample_hourly, EVENTS_RESAMPLE_SQL),
    "events_peak_attribution": (events_peak_attribution, EVENTS_PEAK_SQL),
    "embedding_centroids": (embedding_centroids, EMBEDDING_CENTROIDS_SQL),
    "kmeans_clusters": (kmeans_clusters, KMEANS_SQL),
    "semdedup_pairs": (semdedup_pairs, SEMDEDUP_PAIRS_SQL),
    "semdedup_keep_ids": (semdedup_keep_ids, SEMDEDUP_KEEP_SQL),
    "semdedup_keep_paper": (semdedup_keep_paper, SEMDEDUP_KEEP_PAPER_SQL),
    "embedding_outliers": (embedding_outliers, EMBEDDING_OUTLIERS_SQL),
    "embedding_diverse_sample": (
        embedding_diverse_sample,
        EMBEDDING_DIVERSE_SQL,
    ),
    "semdedup_admission": (semdedup_admission, SEMDEDUP_ADMISSION_SQL),
    "source_dup_matrix": (source_dup_matrix, SOURCE_DUP_MATRIX_SQL),
    "ann_sq8_topk": (ann_sq8_topk, SQ8_TOPK_SQL),
    "sq8_recon_error": (sq8_recon_error, SQ8_RECON_SQL),
    "corpus_pretrain_ids": (corpus_pretrain_ids, CORPUS_PRETRAIN_IDS_SQL),
    "corpus_pretrain_funnel": (
        corpus_pretrain_funnel,
        CORPUS_PRETRAIN_FUNNEL_SQL,
    ),
    "embedding_covariance": (embedding_covariance, EMBEDDING_COV_SQL),
    "embedding_pq_codes": (embedding_pq_codes, PQ_SQL),
    "streaming_covariance": (streaming_covariance, EMBEDDING_COV_SQL),
    "distinct_users_window": (distinct_users_window, DISTINCT_WINDOW_SQL),
    "events_user_twap": (events_user_twap, EVENTS_TWAP_SQL),
    "events_value_mad_anomalies": (
        events_value_mad_anomalies,
        MAD_ANOMALIES_SQL,
    ),
    "click_value_calibrated": (click_value_calibrated, QQ_CALIBRATE_SQL),
    "click_purchase_ks": (click_purchase_ks, KS_SQL),
    "lineitem_weighted_price_quantiles": (
        lineitem_weighted_price_quantiles,
        WEIGHTED_QUANTILE_SQL,
    ),
    "flag_weighted_median_price": (
        flag_weighted_median_price,
        FLAG_WEIGHTED_MEDIAN_SQL,
    ),
    "lineitem_revenue_gini": (lineitem_revenue_gini, GINI_SQL),
    "distinct_users_window_hll": (distinct_users_window_hll, None),
    "value_quantiles_window": (
        value_quantiles_window,
        VALUE_QUANTILES_WINDOW_SQL,
    ),
    "value_quantiles_window_kll": (value_quantiles_window_kll, None),
    "ann_pq_topk": (ann_pq_topk, PQ_TOPK_SQL),
    "embedding_pca_coords": (embedding_pca_coords, None),
    "pca_variance_audit": (pca_variance_audit, PCA_VARIANCE_AUDIT_SQL),
    "multimodal_metadata": (multimodal_metadata, MULTIMODAL_SQL),
    "audio_features": (audio_features, _audio_sql),
    "image_phash_dedup": (image_phash_dedup, _image_phash_sql),
    "image_phash_neardup": (image_phash_neardup, _image_phash_neardup_sql),
}
