"""Text analysis operators for training-data pipelines.

Language-ID (stopword-hit heuristic), quality scoring (length / punctuation
/ stopword ratios), token counting (whitespace + BPE-ish regex), and
document fingerprinting (polynomial rolling hash + winnowing). All are pure
Catalyst column expressions — no Python in the row path, fully codegen'd,
and each has an exact DuckDB-SQL twin (verified cross-engine: Spark
``ascii``/``split``/``aggregate`` ≡ DuckDB ``unicode``/``string_split``/
``list_reduce``).

Scale: every operator here is a stateless map over one row — embarrassingly
parallel, no shuffle, safe at any input size.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

HASH_MOD = 1_000_000_007
HASH_BASE = 31

# small deterministic stopword sets for the language heuristic
STOPWORDS = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "it"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein"),
    "fr": ("le", "la", "les", "et", "est", "une", "dans"),
    "es": ("el", "los", "las", "y", "es", "una", "en"),
}

BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def let(value: Column, body) -> Column:
    """Catalyst-level let-binding: evaluate ``value`` ONCE per row and pass
    it to ``body`` as a lambda variable — ``transform(array(v), x ->
    body(x))[0]``.

    Why this exists: referencing a Column subtree from inside a
    higher-order-function lambda re-evaluates the subtree per lambda
    invocation (Spark's subexpression elimination does not reach into
    lambda bodies). E.g. ``transform(seq, i -> slice(tokens(text), i, n))``
    re-tokenizes the whole document for every shingle — O(T²) chars.
    Binding ``tokens(text)`` with ``let`` makes it a lambda variable, which
    IS evaluated once (measured 80× on sf0.01 winnowing: 28.7 s → 0.36 s on
    one core, identical output). Cost: one single-element array allocation
    per row."""
    return F.get(F.transform(F.array(value), body), 0)


def tokens(col: Column | str) -> Column:
    """Whitespace tokenization, empty-string-safe: ``split`` on an empty or
    all-whitespace input yields [""], which would count as one token and
    feed the empty token (string_hash 0) into fingerprints / MinHash /
    stopword ratios — so empty tokens are filtered out and blank documents
    tokenize to []. The DuckDB twin carries the same filter
    (data_queries._TOKS)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(F.trim(c), r"\s+"), lambda t: t != "")


def bpe_ish_token_count(col: Column | str) -> Column:
    """Count of BPE-ish lexical units: letter runs, digit runs, single
    punctuation marks — a cheap proxy for subword token counts."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.regexp_extract_all(c, F.lit(BPE_ISH_PATTERN), 0))


def punct_ratio(col: Column | str) -> Column:
    """Fraction of characters that are punctuation (length-diff trick —
    identical semantics in any regex dialect)."""
    c = F.col(col) if isinstance(col, str) else col
    n = F.length(c)
    stripped = F.length(F.regexp_replace(c, r"[.,!?;:]", ""))
    return F.when(n > 0, (n - stripped) / n).otherwise(0.0)


def stopword_hits_in(toks: Column, lang: str) -> Column:
    """Number of tokens (precomputed array) that are stopwords of ``lang``."""
    words = STOPWORDS[lang]
    return F.size(F.filter(toks, lambda t: F.lower(t).isin(*words)))


def stopword_ratio_in(toks: Column, lang: str = "en") -> Column:
    n = F.size(toks)
    return F.when(n > 0, stopword_hits_in(toks, lang) / n).otherwise(0.0)


def stopword_ratio(col: Column | str, lang: str = "en") -> Column:
    return stopword_ratio_in(tokens(col), lang)


def language_id_from_hits(hits: dict[str, Column]) -> Column:
    """Argmax over precomputed per-language stopword hit counts; ties and
    zero hits resolve to 'und'. Tie-break: first language in sorted order at
    the max (identical to a strictly-greater takeover scan). Built as
    ``greatest`` + one ``when`` per language so each hits expression appears
    exactly twice — a fold of nested CASE accumulators duplicates every
    count subtree 2^n times, which blows up both plan build and interpreted
    eval when the counts are higher-order ``filter()`` calls."""
    langs = sorted(hits)
    m = F.greatest(*[hits[lg] for lg in langs])
    out = F.when(m <= 0, F.lit("und"))
    for lg in langs:
        out = out.when(hits[lg] == m, F.lit(lg))
    return out.otherwise(F.lit("und"))


def language_id_in(toks: Column) -> Column:
    """Argmax over per-language stopword hit counts; ties and zero hits
    resolve to 'und' (undetermined)."""
    return language_id_from_hits(
        {lang: stopword_hits_in(toks, lang) for lang in sorted(STOPWORDS)}
    )


def language_id(col: Column | str) -> Column:
    return language_id_in(tokens(col))


def quality_score_in(toks: Column, praw: Column, sraw: Column) -> Column:
    """Composite [0,1] quality heuristic over precomputed parts: length
    saturation (40%), low punctuation (30%), stopword presence (30%)."""
    length_part = F.least(F.size(toks) / F.lit(50.0), F.lit(1.0))
    punct_part = F.lit(1.0) - F.least(praw * 5.0, F.lit(1.0))
    stop_part = F.least(sraw * 5.0, F.lit(1.0))
    return 0.4 * length_part + 0.3 * punct_part + 0.3 * stop_part


def quality_score(col: Column | str) -> Column:
    toks = tokens(col)
    return quality_score_in(toks, punct_ratio(col), stopword_ratio_in(toks))


# PII patterns: conservative syntax shared verbatim by Java regex (Spark)
# and RE2 (DuckDB) — no backrefs, no lookaround, no \b.
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "[EMAIL]"),
    ("phone", r"[0-9]{3}-[0-9]{3,}", "[PHONE]"),
)


def pii_count(col: Column | str, kind: str) -> Column:
    """Occurrences of one PII kind (see PII_PATTERNS) in a string column."""
    c = F.col(col) if isinstance(col, str) else col
    pat = dict((k, p) for k, p, _ in PII_PATTERNS)[kind]
    return F.size(F.regexp_extract_all(c, F.lit(pat), 0))


def redact_pii(col: Column | str) -> Column:
    """Replaces every PII match with its kind token ([EMAIL], [PHONE]…) —
    the scrubbing pass a pretraining corpus runs before tokenization.
    Stateless regexp_replace chain: pure Catalyst, no shuffle, and the
    patterns are chosen to behave identically under DuckDB's RE2 so the
    redacted text hash-matches cross-engine."""
    out = F.col(col) if isinstance(col, str) else col
    for _, pat, repl in PII_PATTERNS:
        out = F.regexp_replace(out, pat, repl)
    return out


def string_hash(col: Column | str, mod: int = HASH_MOD, base: int = HASH_BASE) -> Column:
    """Polynomial rolling hash over unicode codepoints:
    ``acc = (acc·base + code) mod m``. Bit-identical in DuckDB via
    ``list_reduce(list_prepend(0, list_transform(string_split(s,''),
    c -> unicode(c))), (acc,x) -> (acc*31+x) % m)``."""
    c = F.col(col) if isinstance(col, str) else col
    codes = F.transform(F.split(c, ""), lambda ch: F.ascii(ch).cast("long"))
    return F.aggregate(
        codes, F.lit(0).cast("long"), lambda acc, x: (acc * base + x) % mod
    )


def shingle_hashes_in(toks: Column, n: int = 3) -> Column:
    """Array of polynomial hashes of every n-word shingle of a PRECOMPUTED
    token array (O(tokens·shingle_chars) work). ``toks`` is let-bound —
    passing ``tokens(text)`` directly costs one tokenization per row, not
    one per shingle."""

    def body(t: Column) -> Column:
        starts = F.sequence(
            F.lit(1), F.greatest(F.size(t) - (n - 1), F.lit(1))
        )
        return F.transform(
            starts,
            lambda i: F.aggregate(
                F.transform(
                    F.split(F.array_join(F.slice(t, i, n), " "), ""),
                    lambda ch: F.ascii(ch).cast("long"),
                ),
                F.lit(0).cast("long"),
                lambda acc, x: (acc * HASH_BASE + x) % HASH_MOD,
            ),
        )

    return let(toks, body)


def shingle_hashes(col: Column | str, n: int = 3) -> Column:
    """Array of polynomial hashes of every n-word shingle — the cheap
    rolling-hash family for near-dup fingerprinting (O(tokens) work vs the
    O(chars·k) char-gram variant)."""
    return shingle_hashes_in(tokens(col), n)


def _winnow(hashes: Column, window: int) -> Column:
    """Distinct minima of each ``window`` of consecutive hashes, hashes
    let-bound (otherwise the whole gram-hash array is recomputed per
    window position — O(T²))."""

    def body(kh: Column) -> Column:
        win_starts = F.sequence(
            F.lit(0), F.greatest(F.size(kh) - window, F.lit(0))
        )
        mins = F.transform(
            win_starts, lambda i: F.array_min(F.slice(kh, i + 1, window))
        )
        return F.array_sort(F.array_distinct(mins))

    return let(hashes, body)


def winnow_shingle_fingerprints(
    col: Column | str, n: int = 3, window: int = 4
) -> Column:
    """Winnowing over word-shingle hashes: distinct minima of each
    ``window`` of consecutive shingle hashes (Schleimer et al. SIGMOD'03,
    word-level)."""
    return _winnow(shingle_hashes(col, n), window)


def word_bigrams_in(toks: Column) -> Column:
    """String word-bigrams ("a b") of a token array, preserving repeats —
    the unit of the within-doc repetition signals. zip_with pads the
    shorter side with nulls (and concat_ws silently drops them), so the
    zipped array is sliced back to size-1 before any null pair forms."""

    def body(t: Column) -> Column:
        pairs = F.zip_with(
            t,
            F.slice(t, 2, F.greatest(F.size(t) - 1, F.lit(0))),
            lambda a, b: F.concat_ws(" ", a, b),
        )
        return F.slice(pairs, 1, F.greatest(F.size(t) - 1, F.lit(0)))

    return let(toks, body)


def word_bigrams(col: Column | str) -> Column:
    return word_bigrams_in(tokens(col))


def linear_model_score(
    features: dict[str, Column], weights: dict[str, float], bias: float
) -> Column:
    """Catalyst-only model scoring: ``sigmoid(bias + Σ wᵢ·xᵢ)``.

    The model-based quality-filter shape (classifier gating à la
    FineWeb-Edu) for a model small enough to bake into the plan as
    literals: zero Python, zero shuffle, whole-stage codegen end-to-end,
    so filtering 100 TB costs one scan. A large model would instead be a
    broadcast weight matrix applied inside an Arrow-batched pandas UDF —
    the pipeline shape (stateless per-row score → threshold filter) is
    identical, and this is the degenerate single-neuron case. Terms are
    accumulated in sorted(weights) order so an oracle can replay the
    float-associativity exactly."""
    z = F.lit(float(bias))
    for name in sorted(weights):
        z = z + F.lit(float(weights[name])) * features[name]
    return F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
