"""Deduplication operators: exact, token-fingerprint, n-gram Jaccard,
MinHash+LSH, SimHash.

Each returns a DataFrame and is built from built-in expressions + joins so
Catalyst handles distribution:

- exact/fingerprint dedup → one hash-groupBy (map-side partial agg);
- MinHash → explode(distinct tokens) → 16-way min-agg → band-key equi-join
  (the LSH trick turns the quadratic candidate step into an equi-join,
  which is the only formulation that survives 100 TB);
- SimHash → 32 conditional sums → bit-packed signature → hamming join;
- n-gram Jaccard → exact pairwise verify (used standalone at small n, or as
  the re-rank stage after MinHash banding at scale).

All hashing uses the cross-engine polynomial hash from operators.text so
every stage has an exact DuckDB oracle twin.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..sources.io import parallelize_scan
from .text import HASH_MOD, string_hash, tokens

N_PERMUTATIONS = 16
# chunk width for the identity-class pair expansion: task output bounded
# by _EXPAND_CHUNK² pairs (~1M), shuffle rows carry two ≤8 KB id arrays
_EXPAND_CHUNK = 1024
BAND_SIZE = 4
# int64-exact band-key fold modulus (< 2^53): acc·31 + sig never overflows,
# and DuckDB BIGINT arithmetic mirrors it verbatim (see minhash_candidates)
BAND_KEY_MOD = 9007199254740881
SIMHASH_BITS = 32


def perm_params(i: int) -> tuple[int, int]:
    """Deterministic MinHash permutation coefficients (odd a, spread b)."""
    return 2 * i + 1, 97 * i + 13


def distinct_tokens(col: Column | str) -> Column:
    return F.array_distinct(tokens(col))


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact duplicate groups: canonical (min) id + copy count per text."""
    return (
        df.groupBy(text_col)
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .select("canonical_id", "n_copies")
    )


def token_fingerprint_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Near-exact dedup on the sorted-distinct-token fingerprint (catches
    reorderings / repeated words that byte-exact dedup misses)."""
    fp = string_hash(F.array_join(F.array_sort(distinct_tokens(text_col)), " "))
    return (
        df.withColumn("fingerprint", fp)
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .select("fingerprint", "canonical_id", "n_copies")
    )


def _token_set(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    return df.select(
        F.col(id_col).alias("doc_id"), distinct_tokens(text_col).alias("toks")
    )


def _token_hash_set(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Distinct polynomial token hashes per doc (``array<long>``).

    The int form feeds both the MinHash signature explode and the exact
    Jaccard verify — int-set intersection is far cheaper than string sets at
    millions of candidate pairs, and the DuckDB oracle hashes identically so
    the (negligible, shared) collision behavior is bit-equal.

    ``parallelize_scan``: tokenize+hash is the heaviest per-row projection
    in the dedup pipeline and it runs in the SCAN stage — over an
    unsplittable single-row-group file that is one task for the whole
    corpus (r13 profile). The floor is a no-op whenever the scan already
    carries ≥ default-parallelism partitions (any at-scale table)."""
    df = parallelize_scan(df)
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.array_sort(
            F.array_distinct(
                F.transform(distinct_tokens(text_col), lambda t: string_hash(t))
            )
        ).alias("tok_hashes"),
    )


def jaccard_pairs(
    df: DataFrame, text_col: str, id_col: str, threshold: float = 0.6
) -> DataFrame:
    """All-pairs distinct-token Jaccard ≥ threshold (doc_a < doc_b).

    Quadratic crossJoin — the small-n baseline / oracle form ONLY. It is
    NOT on any production path: the registered scale route is the
    prefix-filter equi-join (`jaccard_pairs_scalable`), and the minhash
    pipeline's verify stage is the hash-set join `_verify_pairs_jaccard`,
    not this function.
    """
    a = _token_set(df, text_col, id_col)
    b = (
        a.withColumnRenamed("doc_id", "doc_id_b")
        .withColumnRenamed("toks", "toks_b")
    )
    pairs = a.crossJoin(b).filter(F.col("doc_id") < F.col("doc_id_b"))
    # arrays are distinct ⇒ |union| = |a| + |b| − |∩|: one set op per pair
    inter = F.size(F.array_intersect("toks", "toks_b"))
    jac = inter / (F.size("toks") + F.size("toks_b") - inter)
    return (
        pairs.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select(
            F.col("doc_id").alias("doc_a"),
            F.col("doc_id_b").alias("doc_b"),
            "jaccard",
        )
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.6,
    n: int = 3,
) -> DataFrame:
    """All-pairs Jaccard over n-word-shingle hash sets (order-sensitive
    near-dup, vs the order-blind token-set variant): catches documents that
    share phrasing, not just vocabulary.

    QUADRATIC small-n baseline ONLY (broadcast crossJoin) — never register
    or run this form at corpus scale; `ngram_jaccard_pairs_scalable` is the
    production path with identical output."""
    from .text import shingle_hashes

    sets = df.select(
        F.col(id_col).alias("doc_id"),
        F.array_distinct(shingle_hashes(text_col, n)).alias("grams"),
    )
    a = sets.select(F.col("doc_id").alias("doc_a"), F.col("grams").alias("ga"))
    b = sets.select(F.col("doc_id").alias("doc_b"), F.col("grams").alias("gb"))
    inter = F.size(F.array_intersect("ga", "gb"))
    jac = inter / (F.size("ga") + F.size("gb") - inter)
    return (
        a.crossJoin(F.broadcast(b))
        .filter(F.col("doc_a") < F.col("doc_b"))
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def prefix_filter_candidates(
    sets: DataFrame, threshold: float, items_col: str = "items"
) -> DataFrame:
    """Exact candidate pairs for a Jaccard-≥ threshold self-join via prefix
    filtering (AllPairs, Bayardo et al. WWW'07) — the scale-safe EXACT
    alternative to the quadratic all-pairs step.

    Under any single global item order, a pair with J(a,b) ≥ t must share at
    least one item inside both docs' prefixes of length
    ``|x| − ⌈t·|x|⌉ + 1``; ordering items by ascending document frequency
    puts the rarest items in the prefix, so the candidate equi-join on the
    prefix item touches small groups. A size-compatibility filter
    (J ≤ min/max sizes) prunes further. Recall is exactly 1.0 — every
    qualifying pair survives — so the exact verify stage reproduces the
    all-pairs result with no quadratic step anywhere.

    Input: ``(doc_id, <items_col>)`` with distinct-item arrays. Output:
    distinct ``(doc_a, doc_b)`` with doc_a < doc_b, a superset of the pairs
    with J ≥ threshold.
    """
    sized = sets.select(
        "doc_id", F.size(items_col).alias("n"), F.col(items_col).alias("items")
    )
    ex = sized.select("doc_id", "n", F.explode("items").alias("item"))
    dfreq = ex.groupBy("item").agg(F.count(F.lit(1)).alias("dfreq"))
    ranked = ex.join(dfreq, "item")
    w = Window.partitionBy("doc_id").orderBy(
        F.col("dfreq").asc(), F.col("item").asc()
    )
    # ε guards float round-up at exact multiples (0.6·5 → 3.0000…04): it can
    # only LENGTHEN the prefix, which keeps recall at 1.0
    pref_len = F.col("n") - F.ceil(F.col("n") * threshold - 1e-9) + 1
    prefix = (
        ranked.withColumn("pos", F.row_number().over(w))
        .filter(F.col("pos") <= pref_len)
        .select("doc_id", "n", "item")
    )
    a = prefix.select(
        F.col("doc_id").alias("doc_a"), F.col("n").alias("n_a"), "item"
    )
    b = prefix.select(
        F.col("doc_id").alias("doc_b"), F.col("n").alias("n_b"), "item"
    )
    return (
        a.join(b, "item")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .filter(
            F.least("n_a", "n_b")
            >= F.greatest("n_a", "n_b") * threshold - 1e-9
        )
        .select("doc_a", "doc_b")
        .dropDuplicates(["doc_a", "doc_b"])
    )


def _verify_jaccard(
    cands: DataFrame, sets: DataFrame, threshold: float, items_col: str
) -> DataFrame:
    """Exact Jaccard ≥ threshold over candidate pairs.

    No broadcast hint on the per-doc item table: it scales with the corpus,
    so a forced broadcast would FAIL outright past the broadcast limit at
    100 TB. Plain equi-joins on doc id let AQE promote to broadcast when the
    table is actually small and fall back to shuffled sort-merge when it
    isn't (both sides hash-partition on the doc id key)."""
    a = sets.select(
        F.col("doc_id").alias("doc_a"), F.col(items_col).alias("__ia")
    )
    b = sets.select(
        F.col("doc_id").alias("doc_b"), F.col(items_col).alias("__ib")
    )
    inter = F.size(F.array_intersect("__ia", "__ib"))
    return (
        cands.join(a, "doc_a")
        .join(b, "doc_b")
        .withColumn(
            "jaccard", inter / (F.size("__ia") + F.size("__ib") - inter)
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def jaccard_pairs_scalable(
    df: DataFrame, text_col: str, id_col: str, threshold: float = 0.6
) -> DataFrame:
    """Distinct-token Jaccard ≥ threshold with the same output as
    `jaccard_pairs` (the oracle semantics are unchanged) but no quadratic
    step: prefix-filter equi-join candidates → exact verify."""
    sets = _token_set(df, text_col, id_col)
    cands = prefix_filter_candidates(sets, threshold, items_col="toks")
    return _verify_jaccard(cands, sets, threshold, items_col="toks")


def ngram_jaccard_pairs_scalable(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.6,
    n: int = 3,
) -> DataFrame:
    """n-gram-shingle Jaccard ≥ threshold, same output as
    `ngram_jaccard_pairs`, candidates via prefix filtering on shingle
    hashes."""
    from .text import shingle_hashes

    sets = df.select(
        F.col(id_col).alias("doc_id"),
        F.array_distinct(shingle_hashes(text_col, n)).alias("grams"),
    )
    cands = prefix_filter_candidates(sets, threshold, items_col="grams")
    return _verify_jaccard(cands, sets, threshold, items_col="grams")


def minhash_signatures(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n_perm: int = N_PERMUTATIONS,
    hashes: DataFrame | None = None,
) -> DataFrame:
    """Per-doc MinHash signature: sig_i = min over tokens of
    (a_i·h(token) + b_i) mod p. One explode + one groupBy with n_perm
    min-aggregates (map-side combinable). Pass a precomputed (persisted)
    ``_token_hash_set`` frame via ``hashes`` to share the tokenize pass
    with the verify stage instead of running it twice."""
    if hashes is None:
        hashes = _token_hash_set(df, text_col, id_col)
    exploded = hashes.select(
        "doc_id", F.explode("tok_hashes").alias("h0")
    )
    aggs = []
    for i in range(n_perm):
        a, b = perm_params(i)
        aggs.append(
            F.min((F.col("h0") * a + b) % HASH_MOD).alias(f"sig_{i}")
        )
    return exploded.groupBy("doc_id").agg(*aggs)


def minhash_collision_prob(
    similarity: float, n_bands: int, band_size: int
) -> float:
    """Banded-LSH candidacy probability at Jaccard ``similarity``:
    P = 1 − (1 − s^r)^b with r rows per band and b bands — the MMDS
    S-curve (Leskovec–Rajaraman–Ullman ch. 3.4). Exact under the
    permutation-independence idealization the banding scheme assumes."""
    return 1.0 - (1.0 - float(similarity) ** int(band_size)) ** int(n_bands)


def minhash_plan(
    threshold: float,
    *,
    recall_floor: float = 0.9,
    max_candidate_rate: float = 0.05,
    reject_below: float | None = None,
    max_perm: int = 256,
    max_band_size: int = 32,
) -> dict:
    """(n_perm, band_size) planner for the banded-MinHash joins — the
    dedup-side companion of ``similarity_join.lsh_recall_plan``: instead
    of eyeballing the S-curve, state the contract and get the cheapest
    parameters that honor it.

    Contract: pairs at Jaccard ≥ ``threshold`` must become candidates
    with probability ≥ ``recall_floor`` (false-negative control), and
    pairs at Jaccard ≤ ``reject_below`` (default: threshold/2 — the
    "clearly not duplicates" mass that dominates a real corpus) must
    become candidates with probability ≤ ``max_candidate_rate``
    (candidate-mass control: at 100 TB the candidate join's cost IS this
    rate times the near-threshold pair mass).

    Search: exhaustive over band_size ∈ [1, max_band_size] × n_bands ∈
    [1, max_perm/band_size] (≤ ~8k closed-form evaluations — no data
    touched); feasible configs are ranked by (n_perm, n_bands):
    signature width n_perm prices the per-doc hashing pass, band count
    n_bands prices the exploded shuffle rows per doc, in that order.

    Returns {"feasible": True, n_perm, band_size, n_bands,
    p_at_threshold, p_at_reject, s50} where s50 = (1/b)^(1/r) is the
    curve midpoint, or {"feasible": False, "closest": <config
    maximizing p_at_threshold − p_at_reject within budget>, ...} when no
    config within ``max_perm`` satisfies both sides (tighten one side or
    raise the budget). The engine defaults (n_perm=16, band_size=4 →
    s50 ≈ 0.71, P(0.8) ≈ 0.878, P(0.4) ≈ 0.099) are exactly what the
    planner returns for the contract they honor:
    ``minhash_plan(0.8, recall_floor=0.87, max_candidate_rate=0.1)`` —
    pinned in the pytest. A stricter 0.9-recall contract prices out at
    (30, 5): recall is bought with signature width, and the planner
    makes that cost explicit instead of silent.
    """
    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1]: {threshold}")
    reject = threshold / 2.0 if reject_below is None else float(reject_below)
    if not 0.0 <= reject < threshold:
        raise ValueError(
            f"reject_below must sit below threshold: {reject} vs {threshold}"
        )
    best = None
    closest = None
    for band_size in range(1, int(max_band_size) + 1):
        for n_bands in range(1, int(max_perm) // band_size + 1):
            p_hi = minhash_collision_prob(threshold, n_bands, band_size)
            p_lo = minhash_collision_prob(reject, n_bands, band_size)
            cfg = {
                "n_perm": band_size * n_bands,
                "band_size": band_size,
                "n_bands": n_bands,
                "p_at_threshold": round(p_hi, 6),
                "p_at_reject": round(p_lo, 6),
                "s50": round((1.0 / n_bands) ** (1.0 / band_size), 6),
            }
            if p_hi >= recall_floor and p_lo <= max_candidate_rate:
                key = (cfg["n_perm"], cfg["n_bands"])
                if best is None or key < (best["n_perm"], best["n_bands"]):
                    best = cfg
            margin = p_hi - p_lo
            if closest is None or margin > closest[0]:
                closest = (margin, cfg)
    if best is not None:
        return {"feasible": True, **best}
    return {"feasible": False, "closest": closest[1]}


def resolve_minhash_params(
    threshold: float,
    *,
    recall_floor: float | None = None,
    max_candidate_rate: float | None = None,
    n_perm: int | None = None,
    band_size: int | None = None,
) -> tuple[int, int]:
    """Contract-driven (n_perm, band_size) defaults (VERDICT r11 §Next
    #6 — the planners stop being advisory): explicit parameters win; a
    stated contract derives them via ``minhash_plan``; neither → the
    engine constants (which are themselves the planner's answer for the
    default contract ``recall_floor=0.87, max_candidate_rate=0.1`` at
    threshold 0.8 — pinned in pytest). An infeasible contract raises
    with the closest config rather than silently under-delivering."""
    if n_perm is not None or band_size is not None:
        if recall_floor is not None or max_candidate_rate is not None:
            raise ValueError(
                "pass either explicit (n_perm, band_size) or a contract "
                "(recall_floor / max_candidate_rate), not both"
            )
        return n_perm or N_PERMUTATIONS, band_size or BAND_SIZE
    if recall_floor is None and max_candidate_rate is None:
        return N_PERMUTATIONS, BAND_SIZE
    plan = minhash_plan(
        threshold,
        recall_floor=0.9 if recall_floor is None else recall_floor,
        max_candidate_rate=(
            0.05 if max_candidate_rate is None else max_candidate_rate
        ),
    )
    if not plan["feasible"]:
        raise ValueError(
            f"no (n_perm <= 256, band_size <= 32) honors recall_floor="
            f"{recall_floor} with max_candidate_rate={max_candidate_rate} "
            f"at threshold {threshold}; closest: {plan['closest']}"
        )
    return plan["n_perm"], plan["band_size"]


def minhash_candidates(
    sigs: DataFrame, n_perm: int = N_PERMUTATIONS, band_size: int = BAND_SIZE
) -> DataFrame:
    """LSH banding: docs sharing any band of the signature become candidate
    pairs (doc_a < doc_b, exactly once). ONE self-equi-join on the exploded
    ``(band_no, band_key)`` rows followed by a pair-level distinct — the
    same candidate set as joining band-by-band, in one exchange instead of
    ``n_bands`` (r13; guide §2.4): the per-band loop planned 2 shuffles (or
    a broadcast build) per band and the loop's unioned legs each re-scanned
    the signature table, while the exploded form shuffles the identical
    n_bands rows/doc ONCE on (band_no, band_key) — the join key includes
    band_no, so only same-band signatures meet, exactly as before — and
    both join sides reuse the same exchange (ReusedExchange: identical
    subplan). The distinct that replaces the old first-agreeing-band
    bookkeeping is a map-side-combinable pair agg whose input is only the
    collision set (identity-duplicate mass — the one case where collisions
    explode — routes through the collapse cascade before ever reaching
    this join).

    Band keys are int64 folds of the band's signature values, not
    concatenated strings: on a candidate-dense corpus the banding join
    materializes O(collisions) rows, and 8-byte longs vs ~40-char strings
    is a large cut in bytes shuffled through the widest stage of the whole
    dedup pipeline (measured 64× candidate volume at 8× scale — the join
    IS the cost). The fold ``acc = (acc·31 + sig) mod 9007199254740881``
    stays exactly representable in int64 (acc < 9.01e15 → acc·31 + 1e9 <
    2.8e17) and is mirrored verbatim in the DuckDB oracle, so a key
    collision (~1.4e-6 at 10⁵ keys) produces the SAME spurious candidate
    in both engines and the exact-Jaccard verify filters it identically —
    zero cross-engine divergence."""
    n_bands = n_perm // band_size

    def band_key(band: int):
        acc = None
        for i in range(band * band_size, (band + 1) * band_size):
            c = F.col(f"sig_{i}")
            acc = (
                c.cast("long")
                if acc is None
                else (acc * F.lit(31) + c) % F.lit(BAND_KEY_MOD)
            )
        return acc

    rows = sigs.select(
        "doc_id",
        F.posexplode(
            F.array(*[band_key(b) for b in range(n_bands)])
        ).alias("band_no", "band_key"),
    )
    a = rows.select(
        F.col("doc_id").alias("doc_a"), "band_no", "band_key"
    )
    b = rows.select(
        F.col("doc_id").alias("doc_b"), "band_no", "band_key"
    )
    return (
        a.join(b, ["band_no", "band_key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .dropDuplicates(["doc_a", "doc_b"])
    )


def minhash_store(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n_perm: int = N_PERMUTATIONS,
) -> tuple[DataFrame, DataFrame]:
    """The persisted dedup state a production pipeline maintains:
    ``(signatures, token-hash sets)`` of every ACCEPTED document. Build
    once over the corpus (in practice both frames are written as tables),
    then each arriving batch goes through `incremental_minhash_neardup` —
    only the batch is tokenized and signed per run, the store is only
    probed through band-key equi-joins, and admitted docs' rows are
    appended to the store for the next batch. Both frames are persisted —
    that IS the store contract (in production they are written tables);
    without it every band join would re-derive them from text."""
    hashes = _token_hash_set(df, text_col, id_col).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    sigs = minhash_signatures(
        df, text_col, id_col, n_perm, hashes=hashes
    ).persist(StorageLevel.MEMORY_AND_DISK)
    return sigs, hashes


def _band_keyed(
    sigs: DataFrame, id_alias: str, prefix: str, n_bands: int, band_size: int
) -> DataFrame:
    """Band keys per doc from a signature table (the incremental
    pipeline's keying, factored module-level so the r13 collapsed
    admission path shares it verbatim)."""

    def band_key(band: int):
        acc = None
        for i in range(band * band_size, (band + 1) * band_size):
            c = F.col(f"sig_{i}")
            acc = (
                c.cast("long")
                if acc is None
                else (acc * F.lit(31) + c) % F.lit(BAND_KEY_MOD)
            )
        return acc

    return sigs.select(
        F.col("doc_id").alias(id_alias),
        *[band_key(b).alias(f"{prefix}bk_{b}") for b in range(n_bands)],
    )


def _band_rows(keyed: DataFrame, id_col: str, prefix: str, n_bands: int) -> DataFrame:
    """Exploded ``(id, band_no, band_key)`` rows of a ``_band_keyed``
    frame — the single-shuffle banding form (see ``minhash_candidates``)."""
    return keyed.select(
        id_col,
        F.posexplode(
            F.array(*[F.col(f"{prefix}bk_{b}") for b in range(n_bands)])
        ).alias("band_no", "band_key"),
    )


def _banded_cross_cands(
    kn: DataFrame,
    left: DataFrame,
    n_bands: int,
    within_batch: bool,
    mates: DataFrame | None = None,
) -> DataFrame:
    """Candidate ``(doc_id, dup_of)`` pairs between a batch keying ``kn``
    (``n_`` prefix) and a partner keying ``left`` (``s_`` prefix): ONE
    equi-join on the exploded (band_no, band_key) rows + a per-leg
    distinct — the same pair set as the old first-agreeing-band per-band
    loop (each leg emitted every agreeing pair exactly once; the distinct
    reproduces that), in one exchange per side instead of ``n_bands``
    (r13; guide §2.4).

    ``mates``: optional second partner keying checked with the
    within-batch orientation (``dup_of < doc_id``) — both partner legs
    ride the SAME join through a flagged union, replacing the two
    separately-planned leg joins the two in-repo call sites used to
    union. Cross-leg duplicates (a replayed id related through both the
    store and its batch copy) stay duplicated exactly as the old
    two-leg union left them — the distinct keys include the leg flag.

    When ``mates`` is given, ``within_batch`` applies to the FIRST
    partner (False → the store leg's re-ingestion guard ``dup_of !=
    doc_id``: a doc_id present in BOTH the store and the arriving batch
    would otherwise collide with itself at jaccard 1.0 and the admission
    anti-join would permanently reject it)."""
    # the __mate flag doubles as the leg-identity key of the distinct
    # below; within_batch=True + mates would give both legs the same flag
    # and silently collapse cross-leg duplicate pairs (ADVICE r13)
    assert not (within_batch and mates is not None), (
        "_banded_cross_cands: mates requires within_batch=False — "
        "True would merge the two legs' identities in the pair distinct"
    )
    krows = _band_rows(kn, "doc_id", "n_", n_bands)
    lrows = _band_rows(left, "dup_of", "s_", n_bands).withColumn(
        "__mate", F.lit(within_batch)
    )
    if mates is not None:
        lrows = lrows.unionByName(
            _band_rows(mates, "dup_of", "s_", n_bands).withColumn(
                "__mate", F.lit(True)
            )
        )
    return (
        lrows.join(krows, ["band_no", "band_key"])
        .filter(
            F.when(
                F.col("__mate"), F.col("dup_of") < F.col("doc_id")
            ).otherwise(F.col("dup_of") != F.col("doc_id"))
        )
        .select("doc_id", "dup_of", "__mate")
        .dropDuplicates(["doc_id", "dup_of", "__mate"])
        .select("doc_id", "dup_of")
    )


def incremental_minhash_neardup(
    new: DataFrame,
    store_sigs: DataFrame,
    store_hashes: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.6,
    n_perm: int = N_PERMUTATIONS,
    band_size: int = BAND_SIZE,
    new_tables: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """Incremental near-dup admission — the production dedup shape: check
    an arriving batch against the existing corpus STORE (and against
    earlier-id docs within its own batch) without touching the corpus
    text again.

    Candidates come from band-key equi-joins exactly like the batch
    pipeline (store×new cross-side plus within-batch), each pair emitted
    only by its FIRST agreeing band; verify is the shared exact-Jaccard
    tail (`_verify_pairs_jaccard`: bitmap masks when the vocabulary
    dictionary-encodes, sorted-array intersect otherwise). Output:
    ``(doc_id, dup_of, jaccard)`` — one row per near-duplicate relation a
    new doc has; admission = anti-join the batch on ``doc_id``; the
    admitted rows' (sigs, hashes) union into the store (`admit_batch`
    packages that whole round). Scale shape: everything is equi-joins on
    int64 band keys — the store can be arbitrarily large, only its
    band/sig/hash tables are read, never its text.

    ``new_tables``: optional prebuilt (sigs, hashes) for the batch — pass
    `minhash_store(new, ...)`'s output when the caller also needs those
    frames (as `admit_batch` does for the store update) so the batch is
    tokenized and signed exactly once."""
    n_bands = n_perm // band_size
    if new_tables is not None:
        new_sigs, new_hashes = new_tables
    else:
        # one tokenize/sign pass for the batch: the banded candidate step
        # references these frames once per band per side, and the verify
        # joins read the token table again — without the persist each band
        # join would re-tokenize the batch from scratch (same reasoning as
        # minhash_neardup). The STORE frames are the caller's persisted
        # state (tables in production), so they are not cached here.
        new_hashes = _token_hash_set(new, text_col, id_col).persist(
            StorageLevel.MEMORY_AND_DISK
        )
        new_sigs = minhash_signatures(
            new, text_col, id_col, n_perm, hashes=new_hashes
        ).persist(StorageLevel.MEMORY_AND_DISK)

    kn = _band_keyed(new_sigs, "doc_id", "n_", n_bands, band_size)
    k_store = _band_keyed(store_sigs, "dup_of", "s_", n_bands, band_size)
    k_mates = _band_keyed(new_sigs, "dup_of", "s_", n_bands, band_size)
    cands = _banded_cross_cands(kn, k_store, n_bands, False, mates=k_mates)
    # one partner row per id: a doc_id present in both the store and the
    # batch (replay) must not contribute two verify rows per relation —
    # the store's accepted version wins (anti-join on ids only, equi-safe)
    partner_hashes = store_hashes.unionByName(
        new_hashes.join(
            store_hashes.select("doc_id"), "doc_id", "left_anti"
        )
    )
    # vocab probe over the FULL union (not the deduped partner frame): a
    # replayed doc with updated text may carry tokens only its batch-side
    # row has, and the bitmap encoding must cover both verify sides
    return _verify_pairs_jaccard(
        cands, partner_hashes, new_hashes, "dup_of", "doc_id", threshold,
        vocab_source=store_hashes.unionByName(new_hashes),
    ).select("doc_id", "dup_of", "jaccard")


def _chunk_explode(frame: DataFrame, arr: str, out: str) -> DataFrame:
    """Slice an id-array column into ≤ ``_EXPAND_CHUNK``-doc chunks and
    explode — the skew-proof class-expansion step (a mega-class fans out
    over (s/chunk)² tasks instead of one straggler; see
    ``_minhash_neardup_collapsed``'s measured rationale)."""
    col = F.col(arr)
    n = F.ceil(F.size(col) / F.lit(_EXPAND_CHUNK)).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n - F.lit(1)),
        lambda i: F.slice(col, i * _EXPAND_CHUNK + 1, _EXPAND_CHUNK),
    )
    return frame.withColumn(out, F.explode(chunks)).drop(arr)


def _admit_relations_collapsed(
    new_sigs: DataFrame,
    new_hashes: DataFrame,
    store_sigs: DataFrame,
    store_hashes: DataFrame,
    threshold: float,
    n_perm: int,
    band_size: int,
    store_classes: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Identity-class cascade for the incremental admission check (r13).

    The organic streaming rung measured `admission_round` at 330 s on
    the 10× duplicate-rich corpus: the direct route bands and verifies
    member×member — 73.8M relation pairs in round 1 — although a
    relation is determined entirely by the two token SETS (Jaccard and
    the MinHash band keys are set functions). Both sides collapse to
    exact identity classes (batch: one hash-agg; store: one O(store)
    hash-agg per round, the same order as the store checkpoint
    `admit_batch` already pays), class REPRESENTATIVES go through the
    SAME banding + verify machinery (`_band_keyed` /
    `_banded_cross_cands` / `_verify_pairs_jaccard`), and member-level
    relations are emitted only by the final chunked-grid expansion —
    output-bound, and any correct relation-emitting operator is
    Ω(output). Byte-identical by the `_minhash_neardup_collapsed`
    argument; within-class pairs are J=1.0 ≥ threshold by definition
    (empty token sets excluded — no signature, never banded). A store
    seeded by admission itself is clique-free (admitted docs are
    pairwise non-related) so its class agg is an identity dictionary;
    raw-seeded stores (benchmark fixtures, bulk imports) are where it
    pays. PRECONDITION (enforced by the `admit_batch` router): no
    doc_id appears in both the store and the batch — the direct route's
    store-wins replay verify is per-member and cannot factor through
    classes.

    Returns ``(relations, rejected_new, store_cls)``. The CLASS-LEVEL
    frames are eagerly checkpointed (they are the small state:
    dictionaries + class relations); ``relations`` is a LAZY expansion
    over them and ``rejected_new`` is derived at class level WITHOUT
    expansion — on the soup corpus the expanded frame is 73.8M rows, and
    materializing/checkpointing it per round was the dominant cost left
    after the banding collapse (r13 profile: 165 s/round with an eager
    expanded checkpoint). Consumers that genuinely need the member-level
    relations (the per-doc relation counts, the relations sink) scan the
    lazy expansion — a map-side explode from checkpointed dictionaries —
    and a count-shaped consumer gets map-side partial aggregation
    instead of a 73.8M-row shuffle.

    ``store_classes`` (r14): the store-side class dictionary from the
    caller's previous round, when it has one. The per-round class agg
    over the FULL store (and its O(store) checkpoint — measured 1.6 GB
    per round at the organic sf1.0 rung, the dominant write of the
    whole round) is invariant-maintainable instead: admitted docs are
    pairwise non-related and unrelated to every store doc, so no
    admitted doc can share a token set with ANY store member — every
    admitted doc is a SINGLETON class, and the store dictionary after a
    round is exactly ``previous ∪ singletons(admitted)``. (Admitted
    EMPTY-token docs all share the empty set; keeping them as
    singletons instead of one merged class is output-neutral: an empty
    class has no signature, is never banded, and so never appears in
    any class relation — only its batch-side handling matters.) With
    ``store_classes`` given, only the BATCH is aggregated (O(batch)
    shuffle + checkpoint) and the returned ``store_cls`` echoes the
    input; with None the union agg below computes both sides and
    returns the store dictionary for the caller to maintain."""

    if store_classes is None:
        # ONE class agg over the flagged union (r13 profile: two per-side
        # checkpointed aggs were two separate jobs; a (side, tok_hashes)
        # key computes both dictionaries in one shuffle and one
        # checkpoint — sides are distinct classes by construction, and
        # batch/store doc ids are disjoint by the router's precondition)
        cls = (
            new_hashes.withColumn("__side", F.lit(0))
            .unionByName(store_hashes.withColumn("__side", F.lit(1)))
            .groupBy("__side", "tok_hashes")
            .agg(
                F.min("doc_id").alias("doc_id"),
                F.sort_array(F.collect_list("doc_id")).alias("members"),
            )
            .localCheckpoint()
        )
        bc = cls.filter(F.col("__side") == 0).drop("__side")
        sc = cls.filter(F.col("__side") == 1).drop("__side")
    else:
        bc = (
            new_hashes.groupBy("tok_hashes")
            .agg(
                F.min("doc_id").alias("doc_id"),
                F.sort_array(F.collect_list("doc_id")).alias("members"),
            )
            .localCheckpoint()
        )
        sc = store_classes
    b_rep_hashes = bc.select("doc_id", "tok_hashes")
    s_rep_hashes = sc.select("doc_id", "tok_hashes")
    b_rep_sigs = new_sigs.join(bc.select("doc_id"), "doc_id")
    s_rep_sigs = store_sigs.join(sc.select("doc_id"), "doc_id")
    n_bands = n_perm // band_size
    kn = _band_keyed(b_rep_sigs, "doc_id", "n_", n_bands, band_size)
    k_store = _band_keyed(s_rep_sigs, "dup_of", "s_", n_bands, band_size)
    k_mates = _band_keyed(b_rep_sigs, "dup_of", "s_", n_bands, band_size)
    # ONE banding + verify chain for both partner sides (r13; the
    # incremental direct route's shape): the two separately-checkpointed
    # verify legs were two full band-join + verify jobs per round. The
    # candidate union verifies in one pass — the rep vocabularies span
    # the same distinct tokens as the member tables (class members share
    # their rep's set), exact jaccard either way — and the store/mates
    # split is recovered by rep-id membership (ids disjoint across
    # sides), a broadcast join against the checkpointed relation frame.
    rep_hashes_all = s_rep_hashes.unionByName(b_rep_hashes)
    cands = _banded_cross_cands(kn, k_store, n_bands, False, mates=k_mates)
    rel_all = _verify_pairs_jaccard(
        cands, rep_hashes_all, b_rep_hashes, "dup_of", "doc_id", threshold,
        vocab_source=rep_hashes_all,
    ).select("doc_id", "dup_of", "jaccard").localCheckpoint()
    sids = sc.select(F.col("doc_id").alias("dup_of"))
    rel_store = rel_all.join(F.broadcast(sids), "dup_of")
    rel_mates = rel_all.join(F.broadcast(sids), "dup_of", "left_anti")

    ma = bc.select("doc_id", F.col("members").alias("__ma"))
    # batch member × store members of each related store class
    g1 = (
        rel_store.join(ma, "doc_id")
        .join(
            sc.select(F.col("doc_id").alias("dup_of"),
                      F.col("members").alias("__mb")),
            "dup_of",
        )
        .select("jaccard", "__ma", "__mb")
    )
    g1 = _chunk_explode(_chunk_explode(g1, "__ma", "__ca"), "__mb", "__cb")
    r_store = (
        g1.repartition("__ca", "__cb")
        .select("jaccard", F.explode("__ca").alias("doc_id"), "__cb")
        .select("doc_id", F.explode("__cb").alias("dup_of"), "jaccard")
    )
    # cross-class within-batch: every member pair across the two classes,
    # later id is the relation's doc_id (the direct route's dup_of <
    # doc_id orientation)
    g2 = (
        rel_mates.join(ma, "doc_id")
        .join(
            bc.select(F.col("doc_id").alias("dup_of"),
                      F.col("members").alias("__mb")),
            "dup_of",
        )
        .select("jaccard", "__ma", "__mb")
    )
    g2 = _chunk_explode(_chunk_explode(g2, "__ma", "__ca"), "__mb", "__cb")
    r_mates = (
        g2.repartition("__ca", "__cb")
        .select("jaccard", F.explode("__ca").alias("__da"), "__cb")
        .select("jaccard", "__da", F.explode("__cb").alias("__db"))
        .select(
            F.greatest("__da", "__db").alias("doc_id"),
            F.least("__da", "__db").alias("dup_of"),
            "jaccard",
        )
    )
    # within-class: all ordered pairs at J=1.0; sorted members let chunk
    # pairs that cannot satisfy dup_of < doc_id prune before exploding
    wgrid = bc.filter(
        (F.size("members") >= 2) & (F.size("tok_hashes") > 0)
    ).select(F.col("members").alias("__ma"), F.col("members").alias("__mb"))
    wgrid = _chunk_explode(_chunk_explode(wgrid, "__ma", "__ca"), "__mb", "__cb")
    r_within = (
        wgrid.filter(F.element_at("__ca", -1) > F.element_at("__cb", 1))
        .repartition("__ca", "__cb")
        .select(F.explode("__ca").alias("doc_id"), "__cb")
        .select("doc_id", F.explode("__cb").alias("dup_of"))
        .filter(F.col("dup_of") < F.col("doc_id"))
        .withColumn("jaccard", F.lit(1.0))
    )
    rel = r_store.unionByName(r_mates).unionByName(r_within)

    # class-level rejection — NO expansion: a member m of class A is
    # rejected iff A relates to the store, or m has an earlier-id related
    # batch member. Class reps ARE their class minima (rep = min(doc_id)),
    # so "earlier related member exists" ⟺ m > min(rep_A, min over
    # related class reps) — with the intra-class leg (m > rep_A) applying
    # only to non-empty token sets (empty docs have no signature, are
    # never banded, and must stay admitted — the direct-route semantics).
    store_related = rel_store.select(
        F.col("doc_id").alias("__rep")
    ).distinct().withColumn("__st", F.lit(1))
    edges = rel_mates.select("doc_id", "dup_of")
    sym = edges.select(
        F.col("doc_id").alias("__rep"), F.col("dup_of").alias("__nb")
    ).unionByName(
        edges.select(
            F.col("dup_of").alias("__rep"), F.col("doc_id").alias("__nb")
        )
    )
    nbr_min = sym.groupBy("__rep").agg(F.min("__nb").alias("__nb_min"))
    expl = bc.select(
        F.col("doc_id").alias("__rep"),
        (F.size("tok_hashes") > 0).alias("__ne"),
        F.explode("members").alias("doc_id"),
    )
    rejected_new = (
        expl.join(F.broadcast(store_related), "__rep", "left")
        .join(F.broadcast(nbr_min), "__rep", "left")
        .filter(
            F.col("__st").isNotNull()
            | (F.col("__ne") & (F.col("doc_id") > F.col("__rep")))
            | (F.col("doc_id") > F.col("__nb_min"))
        )
        .select("doc_id")
    )
    return rel, rejected_new, sc


def admit_batch(
    new: DataFrame,
    store_sigs: DataFrame,
    store_hashes: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.6,
    n_perm: int = N_PERMUTATIONS,
    band_size: int = BAND_SIZE,
    checkpoint_store: bool = True,
    collapse_identical: bool | str = "auto",
    store_identity_dups: bool | None = None,
    class_state: dict | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """One full admission round of the incremental dedup store:
    ``(relations, updated_sigs, updated_hashes)``.

    A batch doc is REJECTED iff it has any near-dup relation — against
    the store, or against an earlier-id mate of its own batch, whether or
    not that mate is itself admitted (online-greedy within a batch; a doc
    whose only near-dup is an earlier REJECTED mate is still rejected —
    the relation exists even though the mate never entered the store).
    Across batches the greedy semantics are exact: only ADMITTED docs
    join the store, so later batches are never tested against rejected
    ones. Admitted docs' (sigs, hashes) rows union into the returned
    store frames for the next round; the batch is tokenized and signed
    exactly once (`new_tables` pass-through). In production the returned
    frames are appended to the persisted store tables — everything here
    is id-keyed equi-joins, so the store can be arbitrarily large.

    ``checkpoint_store`` (default True) eagerly cuts the returned
    frames' lineage and releases the batch's transient sig/hash caches.
    Without it, in-session chaining across rounds degrades
    superlinearly: each round's store is lazy union + anti-join lineage
    over the previous round's, so every one of the next round's band
    joins would recompute the whole prior chain. Since r14 the eager
    write is the admitted DELTA only — ONE wide ``(doc_id, tok_hashes,
    sig_*)`` localCheckpoint per round, O(batch) — and the returned
    store frames are ``store ∪ delta_ckpt`` column views. The r6
    measurement that justified checkpointing the FULL union (882/867 s
    vs 1382/1127 s at the 64× rung, PERF.md round 6) predates the
    exploded single-shuffle banding: the store was then re-scanned ~19×
    per round (16 band joins + verify attaches + vocab probe), and one
    compact copy beat re-reading the union's spilled cache legs that
    many times. After r13's banding fusion the store is scanned ~4×
    per round and the r14 re-measurement inverts the verdict (organic
    sf1.0 admission rung + local A/B recorded in OPTIMIZATION_r14.md);
    the O(store)-per-round checkpoint write was the admission
    pipeline's only remaining superlinear-at-depth cost. Scan legs grow
    by one per in-session round — callers chaining MANY rounds should
    still flush to tables (`streaming.admission`), where parquet
    appends give the O(batch) write AND compact scans. Pass
    False only when the caller immediately writes the returned frames
    out (the production path — the table write itself is the
    checkpoint).

    ``collapse_identical`` ("auto" default, the minhash_neardup r12
    precedent): when either side carries exact token-set duplicate mass
    — one cheap count-vs-distinct agg per side decides — relations
    route through the identity-class cascade
    (`_admit_relations_collapsed`: class reps through the same banding
    + verify, member pairs emitted only at the output). r13 organic
    rung: 330 s → see PERF.md round 13. Batches that REPLAY store ids
    always take the direct route (the store-wins replay verify is
    per-member).

    ``store_identity_dups``: the store side of the auto routing agg,
    when the caller already knows it. It is INVARIANT under admission
    itself: an identity duplicate is a J=1.0 relation (1.0 ≥ any valid
    threshold), so a batch doc identical to a store doc — or to an
    earlier batch mate — always has a relation and is always rejected;
    admitted docs can therefore never create a new identity class, and
    classes never leave the store. The one exception — EMPTY-token docs
    (no signature, never banded, always admitted) can accumulate into an
    identity class the flag misses — is routing-neutral: empty docs
    contribute zero banding cost, both routes are byte-identical
    regardless of the flag, and the collapsed route excludes empty sets
    explicitly. A multi-round caller computes the
    flag once for its seed store and threads it through every round
    (``admission_round`` does) instead of paying a full-store
    aggregation per round; None keeps the self-contained per-call probe.
    (``streaming.admission`` calls `incremental_minhash_neardup`
    directly — the direct route has no routing agg to save.)

    ``class_state`` (r14): an empty dict a multi-round caller threads
    through every round so the collapsed route's STORE-side class
    dictionary is maintained incrementally (admitted docs are always
    singleton classes — see `_admit_relations_collapsed`) instead of
    re-aggregated and re-checkpointed from the full store each round
    (the dominant per-round write at depth: 1.6 GB/round measured at
    the organic sf1.0 rung). Managed entirely inside admit_batch; the
    entry is dropped whenever a round leaves it unmaintainable (direct
    route or checkpoint_store=False), and the next collapsed round
    re-seeds it with one store agg.
    Results are identical with or without it (pinned by pytest)."""
    new_sigs, new_hashes = minhash_store(new, text_col, id_col, n_perm)
    route_collapsed = collapse_identical
    if route_collapsed == "auto":
        route_collapsed = _has_identity_dups(new_hashes) or (
            _has_identity_dups(store_hashes)
            if store_identity_dups is None
            else store_identity_dups
        )
    if route_collapsed:
        # one-row existence probe; any replayed id diverts to the
        # per-member direct route (see _admit_relations_collapsed)
        replayed = (
            new_hashes.select("doc_id")
            .join(store_hashes.select("doc_id"), "doc_id")
            .limit(1)
            .count()
        )
        if replayed:
            route_collapsed = False
    store_cls = None
    if route_collapsed:
        prior_cls = (
            class_state.get("store_classes")
            if class_state is not None
            else None
        )
        relations, rejected_new, store_cls = _admit_relations_collapsed(
            new_sigs, new_hashes, store_sigs, store_hashes,
            threshold, n_perm, band_size, store_classes=prior_cls,
        )
    else:
        relations = incremental_minhash_neardup(
            new, store_sigs, store_hashes, text_col, id_col, threshold,
            n_perm, band_size, new_tables=(new_sigs, new_hashes),
        )
        rejected_new = relations.select("doc_id").distinct()
    # a rejected doc never enters the store; a REPLAYED id (already in the
    # store — tolerated by the verify's re-ingestion guard) must not gain
    # a second store row either, so the union is anti-joined on both
    rejected = rejected_new.unionByName(store_sigs.select("doc_id"))
    delta_sigs = new_sigs.join(rejected, "doc_id", "left_anti")
    delta_hashes = new_hashes.join(rejected, "doc_id", "left_anti")
    if checkpoint_store:
        # eager: the collapsed route already checkpointed its class-level
        # state (relations stay a LAZY expansion over it — materializing
        # the member-level frame per round was the dominant residual cost
        # on duplicate-rich corpora); the direct route's member-level
        # relations must materialize BEFORE the batch caches are released
        # (both store updates and relations read them).
        if not route_collapsed:
            relations = relations.localCheckpoint()
        # ONE O(batch) eager write per round: the admitted delta's
        # sig and hash rows share the doc_id key, so a single wide
        # checkpoint replaces two store-sized ones; the returned
        # frames are column views over (store ∪ delta) — the store
        # legs are the caller's already-materialized state and are
        # never rewritten.
        delta = delta_hashes.join(delta_sigs, "doc_id").localCheckpoint()
        sig_cols = [c for c in new_sigs.columns if c != "doc_id"]
        updated_sigs = store_sigs.unionByName(
            delta.select("doc_id", *sig_cols)
        )
        updated_hashes = store_hashes.unionByName(
            delta.select("doc_id", "tok_hashes")
        )
        if class_state is not None and route_collapsed:
            # invariant-maintained store class dictionary (see
            # _admit_relations_collapsed): admitted docs are always
            # singleton classes, so next round's store side is a
            # lazy column view over this round's delta checkpoint —
            # the per-round O(store) class agg + checkpoint never
            # recurs once the seed round paid it
            class_state["store_classes"] = store_cls.unionByName(
                delta.select(
                    "tok_hashes",
                    "doc_id",
                    F.array("doc_id").alias("members"),
                )
            )
        new_sigs.unpersist()
        new_hashes.unpersist()
    else:
        updated_sigs = store_sigs.unionByName(delta_sigs)
        updated_hashes = store_hashes.unionByName(delta_hashes)
    if class_state is not None and "store_classes" in class_state and (
        not route_collapsed or not checkpoint_store
    ):
        # the maintained dictionary is only valid when this round both
        # took the collapsed route AND checkpointed its delta — anything
        # else leaves the state stale, so drop it (next round re-seeds)
        del class_state["store_classes"]
    return relations, updated_sigs, updated_hashes


BITMAP_MAX_WORDS = 4  # dictionary bitmap verify up to 256 distinct tokens


def _bitmap_masks(
    hashes: DataFrame, max_words: int = BITMAP_MAX_WORDS
) -> tuple[DataFrame, int] | None:
    """Dictionary-encoded bitmap form of the per-doc token-hash sets.

    When the corpus' distinct token-hash vocabulary fits in ``64·max_words``
    dense ids (one cheap distinct-aggregate probe — the same exploded-token
    pass the signature stage already makes), each doc's set becomes
    ``ceil(vocab/64)`` LONG bitmask columns and set intersection in the
    verify stage collapses to a sum of ``bit_count(a_w & b_w)`` — pure
    whole-stage-codegen integer ops, no array materialization through the
    joins. This is the classic bitmap-index trick for dictionary-encodable
    set columns; corpora with larger vocabularies return None and take the
    sorted-array intersect path (the general route — any real corpus
    vocabulary dwarfs any bitmap cap).

    Returns ``((doc_id, mask_0..mask_{w-1}, n), n_words)`` or None.
    """
    svocab = _bitmap_vocab(hashes, max_words)
    if svocab is None:
        return None
    return _bitmap_apply(hashes, svocab)


_VOCAB_OVERFLOW_SEEN: set[tuple[int, int]] = set()


def _bitmap_vocab(
    hashes: DataFrame, max_words: int = BITMAP_MAX_WORDS
) -> list[int] | None:
    """The dictionary probe of `_bitmap_masks`: the sorted distinct
    token-hash vocabulary when it fits ``64·max_words`` dense ids, else
    None. The collect is bounded at ``64·max_words + 1`` rows (the
    documented driver-materialization inventory entry).

    A frame that already overflowed is remembered by its semantic hash
    and short-circuits to None — a caller running several verify passes
    over the same corpus (e.g. the incremental store across batches, or
    clusters after pairs) pays the exploded-distinct probe once, not per
    pass. A hash collision only costs taking the general (sorted-array)
    route where the bitmap route was possible — both are exact."""
    key = (hashes.semanticHash(), max_words)
    if key in _VOCAB_OVERFLOW_SEEN:
        return None
    cap = 64 * max_words
    # bounded-sample overflow pre-probe (r14): the distinct tokens of ANY
    # doc subset lower-bound the corpus vocabulary, so a sample that
    # already exceeds the dictionary cap decides the route in O(sample) —
    # no pass over the full table at all. The r13 max-size probe and the
    # exploded-distinct probe below are each a full O(corpus) scan PER
    # VERIFY CALL (at 100 TB: per-round full-store aggregations; at sf0.1
    # the fixtures' short docs never trip the max-size gate, so every
    # call paid the exploded-distinct shuffle too — r14 profile: 2-3 such
    # probe jobs per minhash query). Any real corpus overflows 64·4=256
    # distinct hashes within a handful of docs; tiny-vocab corpora fall
    # through to the exact probes below, where they are cheap by
    # construction. The pull is bounded: ≤ 64 docs × ≤ cap+1 hashes
    # (a single doc with > cap distinct tokens overflows by itself, so
    # slicing its array at cap+1 loses nothing).
    sample = hashes.select(
        F.size("tok_hashes").alias("n"),
        F.slice("tok_hashes", 1, cap + 1).alias("t"),
    ).limit(64).collect()
    seen: set[int] = set()
    for r in sample:
        if r["n"] > cap:
            _VOCAB_OVERFLOW_SEEN.add(key)
            return None
        seen.update(r["t"])
    if len(seen) > cap:
        _VOCAB_OVERFLOW_SEEN.add(key)
        return None
    # cheap overflow probe (r13): any single doc with > cap distinct
    # tokens overflows the dictionary by itself, and max(size) is a
    # map-side agg over the persisted hash table — no explode, no
    # distinct shuffle. Reached only when the 64-doc sample fit the cap.
    mx = hashes.agg(F.max(F.size("tok_hashes")).alias("mx")).first()["mx"]
    if mx is not None and int(mx) > cap:
        _VOCAB_OVERFLOW_SEEN.add(key)
        return None
    distinct_h = hashes.select(F.explode("tok_hashes").alias("h")).distinct()
    vocab = [r["h"] for r in distinct_h.limit(cap + 1).collect()]
    if not vocab or len(vocab) > cap:
        if vocab:
            _VOCAB_OVERFLOW_SEEN.add(key)
        return None
    return sorted(vocab)


def _bitmap_apply(
    hashes: DataFrame, svocab: list[int]
) -> tuple[DataFrame, int]:
    """Mask-building half of `_bitmap_masks`, applicable to any per-doc
    hash table whose tokens are covered by ``svocab`` (split out so the
    incremental path can encode its two sides against one shared
    vocabulary)."""
    n_words = (len(svocab) + 63) // 64

    def make_merge(bit_of):
        # try_element_at: misses (token in another word) → null → OR 0.
        # The try_ variant makes null-on-miss the explicit contract —
        # plain element_at is documented to error on missing keys under
        # ANSI mode in some Spark configurations.
        return lambda acc, x: acc.bitwiseOR(
            F.coalesce(F.try_element_at(bit_of, x), F.lit(0).cast("long"))
        )

    mask_cols = []
    for w in range(n_words):
        pairs = []
        for i, h in enumerate(svocab[64 * w : 64 * (w + 1)]):
            # bit 63 does not fit a positive int64 literal — two's complement
            bit = (1 << i) if i < 63 else (1 << i) - (1 << 64)
            pairs.extend([F.lit(h), F.lit(bit).cast("long")])
        mask_cols.append(
            F.aggregate(
                "tok_hashes",
                F.lit(0).cast("long"),
                make_merge(F.create_map(*pairs)),
            ).alias(f"mask_{w}")
        )
    out = hashes.select(
        "doc_id", *mask_cols, F.size("tok_hashes").alias("n")
    )
    return out, n_words


def _verify_pairs_jaccard(
    cands: DataFrame,
    a_hashes: DataFrame,
    b_hashes: DataFrame,
    a_id: str,
    b_id: str,
    threshold: float,
    vocab_source: DataFrame,
    size_prefilter: bool = True,
) -> DataFrame:
    """Exact-Jaccard verify of a candidate pair set against per-doc
    token-hash tables — the shared tail of the batch and incremental
    MinHash pipelines. ``cands`` carries ``(a_id, b_id)``; output is
    ``(a_id, b_id, jaccard)`` with jaccard ≥ threshold.

    When ``vocab_source``'s distinct token hashes dictionary-encode into
    ``64·BITMAP_MAX_WORDS`` dense ids (``vocab_source`` must cover BOTH
    pair sides), verification is Σ bit_count(a_w & b_w) — pure
    whole-stage-codegen integer ops, no arrays through the pair joins;
    identical jaccard values because the dense-id map is injective on the
    token hashes the array path intersects. Larger vocabularies take the
    sorted-array intersect (the general route). No broadcast hint on the
    per-doc tables: they grow with the corpus, and a forced broadcast
    would fail outright past the limit at scale; AQE promotes when small.

    ``size_prefilter`` (general route only): J(A,B) ≥ t forces
    ``min(|A|,|B|) ≥ t·max(|A|,|B|)`` (the AllPairs/PPJoin length
    filter), applied IN-ROW between the array-attach joins and the
    intersect: the size conjunct sits in a Filter below the
    jaccard-computing Project, so codegen never intersects a
    size-incompatible pair. Exact and recall-preserving (the oracle is
    unchanged), and free of added shuffles — a join-based variant that
    dropped pairs on narrow size frames BEFORE the array joins was
    measured strictly worse (sf0.1 dedup_minhash 26.6 s vs 11.9 s
    without; wash at 64×): at t=0.8 only ~30% of banded candidates are
    size-incompatible, which does not pay for two extra candidate-set
    shuffles. The bitmap route's intersect is integer ops; it never
    prefilters.
    """
    svocab = _bitmap_vocab(vocab_source)
    if svocab is not None:
        masks_a, n_words = _bitmap_apply(a_hashes, svocab)
        masks_b, _ = _bitmap_apply(b_hashes, svocab)
        a = masks_a.select(
            F.col("doc_id").alias(a_id),
            *[F.col(f"mask_{w}").alias(f"__ma{w}") for w in range(n_words)],
            F.col("n").alias("__na"),
        )
        b = masks_b.select(
            F.col("doc_id").alias(b_id),
            *[F.col(f"mask_{w}").alias(f"__mb{w}") for w in range(n_words)],
            F.col("n").alias("__nb"),
        )
        inter = sum(
            F.bit_count(F.col(f"__ma{w}").bitwiseAND(F.col(f"__mb{w}")))
            for w in range(n_words)
        )
        return (
            cands.join(a, a_id)
            .join(b, b_id)
            .withColumn(
                "jaccard", inter / (F.col("__na") + F.col("__nb") - inter)
            )
            .filter(F.col("jaccard") >= threshold)
            .select(a_id, b_id, "jaccard")
        )
    a = a_hashes.select(
        F.col("doc_id").alias(a_id), F.col("tok_hashes").alias("toks_a")
    )
    b = b_hashes.select(
        F.col("doc_id").alias(b_id), F.col("tok_hashes").alias("toks_b")
    )
    inter = F.size(F.array_intersect("toks_a", "toks_b"))
    # distinct arrays ⇒ |union| = |a| + |b| − |∩| (one set op)
    jac = inter / (F.size("toks_a") + F.size("toks_b") - inter)
    cond = jac >= threshold
    if size_prefilter:
        # ONE conjunction, size check first: the whole predicate sits in
        # the Filter directly above the attach join, where codegen
        # short-circuits — a size-incompatible pair (~30% of banded
        # candidates at t=0.8) never runs array_intersect. Measured on
        # the 435M-candidate 64× rung with disk-backed local dirs,
        # alternating fresh-JVM legs: 342/142 s with vs 520/310 s
        # without (tmpfs local-dir legs at this rung are noise — the
        # shuffle competes with the JVM heap for RAM; see PERF.md r6).
        na, nb = F.size("toks_a"), F.size("toks_b")
        cond = (
            F.least(na, nb) >= F.lit(threshold) * F.greatest(na, nb)
        ) & cond
    return (
        cands.join(a, a_id)
        .join(b, b_id)
        .filter(cond)
        .withColumn("jaccard", jac)
        .select(a_id, b_id, "jaccard")
    )


def minhash_neardup(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.6,
    est_prefilter: float | None = None,
    collapse_identical: bool | str = "auto",
    *,
    recall_floor: float | None = None,
    max_candidate_rate: float | None = None,
    n_perm: int | None = None,
    band_size: int | None = None,
) -> DataFrame:
    """Full MinHash near-dup pipeline: signatures → banded candidates →
    exact Jaccard verify ≥ threshold.

    ``est_prefilter``: optionally drop candidates whose signature-agreement
    fraction (the MinHash Jaccard estimate) falls below this value before
    the exact verify — the standard cascade when verification dominates.
    Trades a small recall loss (P[Binom(16, j) < 16·est] at true similarity
    j) for roughly candidate-ratio speedup; None keeps the exact semantics
    the DuckDB oracle checks.

    ``collapse_identical``: route through the identity-class cascade
    (``_collapse_identity_classes``): docs with EQUAL token-hash sets —
    boilerplate pages, mirrored posts, the classic web-corpus hot band —
    collapse to one representative before banding, and rep pairs expand
    back to member pairs afterwards (output-bound). Byte-identical
    output; turns the banding join's Σ_class s² cost into Σ_class s, the
    difference between a crawl with 10% boilerplate grinding the band
    shuffle and not noticing it (measured: tools/scale/results_hotband_r9.json;
    the A/B script is in commit 877f3e6).

    ``collapse_identical="auto"`` (the DEFAULT since round 12 — the
    choose_impl precedent applied to dedup): tokenize once, then ONE
    cheap aggregation over the persisted hash table decides the route —
    any exact-token-set duplicate mass routes through the collapse
    (where an identity class of s docs costs s through the banding
    instead of s²), a clean corpus skips straight to the direct banding
    on the already-built hashes. Measured on the round-12 organic sf1.0
    rung (50k docs, ~10-member duplicate classes): direct 276.5 s vs
    collapsed 16.6 s — 17× — while on the duplicate-free sf0.1 corpus
    the only auto overhead is the routing agg (the full collapsed route
    costs 1.5× there, which is exactly why this is a data-driven choice
    and not a constant).

    ``recall_floor`` / ``max_candidate_rate`` state the banding contract
    and derive (n_perm, band_size) via ``minhash_plan``
    (``resolve_minhash_params``); explicit ``n_perm``/``band_size`` pin
    them; neither keeps the engine constants.
    """
    n_perm, band_size = resolve_minhash_params(
        threshold,
        recall_floor=recall_floor,
        max_candidate_rate=max_candidate_rate,
        n_perm=n_perm,
        band_size=band_size,
    )
    hashes = None
    if collapse_identical == "auto":
        hashes = _token_hash_set(df, text_col, id_col).persist(
            StorageLevel.MEMORY_AND_DISK
        )
        collapse_identical = _has_identity_dups(hashes)
    if collapse_identical:
        return _minhash_neardup_collapsed(
            df, text_col, id_col, threshold, est_prefilter,
            n_perm=n_perm, band_size=band_size, hashes=hashes,
        )
    # one tokenize pass feeds BOTH the signature explode and the verify
    # stage (it used to run twice, once per consumer); persisted because
    # the banded candidate step references signatures twice per band and
    # the verify joins read the token table on both pair sides
    if hashes is None:
        hashes = _token_hash_set(df, text_col, id_col).persist(
            StorageLevel.MEMORY_AND_DISK
        )
    return _neardup_from_hashes(
        hashes, threshold, est_prefilter, n_perm=n_perm, band_size=band_size
    )


def _has_identity_dups(hashes: DataFrame) -> bool:
    """True iff any two docs share an exact token-hash SET — the mass
    that makes the direct banding quadratic (an s-doc identity class
    collides on EVERY band: s² rows through the widest shuffle). One
    count-vs-distinct aggregation over the persisted hash table;
    xxhash64 over the sorted hash array keys the distinct (64-bit
    collisions would only flip the ROUTE, never the result — both routes
    are byte-identical by the collapsed-route contract)."""
    row = hashes.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct(F.xxhash64("tok_hashes")).alias("d"),
    ).first()
    return int(row["n"]) != int(row["d"])


def _neardup_from_hashes(
    hashes: DataFrame,
    threshold: float,
    est_prefilter: float | None,
    n_perm: int = N_PERMUTATIONS,
    band_size: int = BAND_SIZE,
) -> DataFrame:
    """Banded candidates → optional estimate prefilter → exact verify, over
    a persisted per-doc token-hash table — the shared core of the direct
    and identity-collapsed MinHash routes."""
    sigs = minhash_signatures(
        None, None, None, n_perm=n_perm, hashes=hashes
    ).persist(StorageLevel.MEMORY_AND_DISK)
    cands = minhash_candidates(sigs, n_perm=n_perm, band_size=band_size)
    if est_prefilter is not None:
        sig_cols = [c for c in sigs.columns if c.startswith("sig_")]
        a = sigs.select(
            F.col("doc_id").alias("doc_a"),
            *[F.col(c).alias(f"a_{c}") for c in sig_cols],
        )
        b = sigs.select(
            F.col("doc_id").alias("doc_b"),
            *[F.col(c).alias(f"b_{c}") for c in sig_cols],
        )
        est = sum(
            F.when(F.col(f"a_{c}") == F.col(f"b_{c}"), 1).otherwise(0)
            for c in sig_cols
        ) / F.lit(float(len(sig_cols)))
        cands = (
            cands.join(a, "doc_a")
            .join(b, "doc_b")
            .filter(est >= est_prefilter)
            .select("doc_a", "doc_b")
        )
    return _verify_pairs_jaccard(
        cands, hashes, hashes, "doc_a", "doc_b", threshold,
        vocab_source=hashes,
    )


def _minhash_neardup_collapsed(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float,
    est_prefilter: float | None,
    n_perm: int = N_PERMUTATIONS,
    band_size: int = BAND_SIZE,
    hashes: DataFrame | None = None,
) -> DataFrame:
    """Identity-class cascade: collapse docs with EQUAL token-hash sets to
    one representative, run the banded pipeline over representatives, then
    expand back to member pairs.

    Why: the banding join's cost is Σ over band-key groups of |group|² —
    an identity clique of s docs (same boilerplate text s times) collides
    on EVERY band and costs s² rows through the widest shuffle of the
    pipeline, plus s² exact verifications of Jaccard 1. Collapsing first
    makes the clique cost ONE representative; the s²-sized pair set is
    emitted only at the end, where it is the OUTPUT (any correct
    pair-emitting operator is Ω(output)).

    Byte-identical results by construction: Jaccard depends only on the
    token SET, so (a) members of a class are pairwise J=1 ≥ threshold —
    emitted directly (empty-token docs excluded: they have no MinHash
    signature, so the direct route never pairs them); (b) a cross-class
    pair's Jaccard equals its representatives' Jaccard, and band keys are
    signature-determined, so rep banding finds exactly the class pairs
    the direct banding finds for any member. ``est_prefilter`` semantics
    carry over: within-class signature agreement is identically 1.
    """
    if hashes is None:
        hashes = _token_hash_set(df, text_col, id_col).persist(
            StorageLevel.MEMORY_AND_DISK
        )
    # exact identity classes: group on the sorted hash array itself (no
    # derived fingerprint — distinct classes can never merge)
    classes = (
        hashes.groupBy("tok_hashes")
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.sort_array(F.collect_list("doc_id")).alias("members"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    rep_hashes = classes.select("doc_id", "tok_hashes").persist(
        StorageLevel.MEMORY_AND_DISK
    )
    rep_pairs = _neardup_from_hashes(
        rep_hashes, threshold, est_prefilter,
        n_perm=n_perm, band_size=band_size,
    )

    # Expansion back to member pairs is output-bound in ROWS, but a naive
    # explode×explode runs entirely inside the task holding the class row
    # (explode never redistributes), so a mega-class becomes one straggler
    # task emitting C(s,2) pairs — measured 2× SLOWER than the direct
    # route at a 15,808-doc clique (tools/scale/results_hotband_r9.json)
    # while the small-clique legs were a wash. Chunked-grid expansion
    # fixes the skew: slice each member list into ≤_EXPAND_CHUNK-doc
    # chunks, shuffle the (chunk_a, chunk_b) grid rows (tiny — two ≤8 KB
    # arrays per ~1M output pairs), and explode per chunk pair, so task
    # size is bounded by _EXPAND_CHUNK² and a clique of s docs fans out
    # over (s/chunk)² tasks.
    def chunk_explode(frame: DataFrame, arr: str, out: str) -> DataFrame:
        col = F.col(arr)
        n = F.ceil(F.size(col) / F.lit(_EXPAND_CHUNK)).cast("int")
        chunks = F.transform(
            F.sequence(F.lit(0), n - F.lit(1)),
            lambda i: F.slice(col, i * _EXPAND_CHUNK + 1, _EXPAND_CHUNK),
        )
        return frame.withColumn(out, F.explode(chunks)).drop(arr)

    ma = classes.select(
        F.col("doc_id").alias("doc_a"), F.col("members").alias("__ma")
    )
    mb = classes.select(
        F.col("doc_id").alias("doc_b"), F.col("members").alias("__mb")
    )
    grid = rep_pairs.join(ma, "doc_a").join(mb, "doc_b").select(
        "jaccard", "__ma", "__mb"
    )
    grid = chunk_explode(grid, "__ma", "__ca")
    grid = chunk_explode(grid, "__mb", "__cb")
    cross = (
        grid.repartition("__ca", "__cb")
        .select("jaccard", F.explode("__ca").alias("__da"), "__cb")
        .select("jaccard", "__da", F.explode("__cb").alias("__db"))
        .select(
            F.least("__da", "__db").alias("doc_a"),
            F.greatest("__da", "__db").alias("doc_b"),
            "jaccard",
        )
    )
    # within-class pairs: all C(s, 2) at jaccard 1.0; empty token sets
    # excluded to match the direct route (no signature → never banded).
    # Members are sorted, so chunk pairs whose ranges cannot satisfy
    # doc_a < doc_b are pruned before exploding (~2× less grid work).
    wgrid = classes.filter(
        (F.size("members") >= 2) & (F.size("tok_hashes") > 0)
    ).select(F.col("members").alias("__ma"), F.col("members").alias("__mb"))
    wgrid = chunk_explode(wgrid, "__ma", "__ca")
    wgrid = chunk_explode(wgrid, "__mb", "__cb")
    within = (
        wgrid.filter(
            F.element_at("__cb", -1) > F.element_at("__ca", 1)
        )
        .repartition("__ca", "__cb")
        .select(F.explode("__ca").alias("doc_a"), "__cb")
        .select("doc_a", F.explode("__cb").alias("doc_b"))
        .filter(F.col("doc_a") < F.col("doc_b"))
        .withColumn("jaccard", F.lit(1.0))
    )
    return cross.unionByName(within)


def sorted_neighborhood_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    window: int = 8,
    threshold: float = 0.6,
    key_chars: int = 24,
) -> DataFrame:
    """Sorted-neighborhood near-dup (Hernández & Stolfo, SIGMOD 1995):
    sort the corpus by a blocking key — the first ``key_chars`` of the
    lowercased text — slide a width-``window`` rank window, and verify
    every in-window pair with exact hashed-token Jaccard ≥ ``threshold``.
    Output ``(doc_a, doc_b, jaccard)`` with ``doc_a < doc_b``.

    The classic complement to LSH banding: recall is bounded by the sort
    key (only pairs within ``window − 1`` ranks are candidates — by
    design; duplicates whose first bytes differ are missed), but the
    candidate volume is EXACTLY ≤ N·(window − 1) — linear in the corpus
    and independent of key-collision skew. No hot band key can go
    quadratic, which is the failure mode LSH has to engineer around
    (cf. the phash small-key-space caveat). Use it when a cheap prefix
    of the record is a strong sort key (URLs, titles, names).

    Scale shape: ONE range shuffle — ``global_rank``'s distributed
    total-order rank over (key, id), never a single-partition window —
    then candidates via an OVERLAPPING-BUCKET equi-join: with
    ``bucket = (rank−1) // (window−1)``, any pair within window−1 ranks
    lies in the same or adjacent buckets, so exploding the lower-ranked
    side into {bucket, bucket+1} co-locates every qualifying pair at
    exactly one join key (≤ 2 rows per doc through the exchange, no
    rank-inequality theta-join). The verify tail is the shared exact
    Jaccard stage (bitmap or sorted-array route, size prefilter in-row).
    """
    if window < 2:
        raise ValueError("window must be >= 2 (a 1-window has no pairs)")
    from .corpus import global_rank

    d = window - 1
    keyed = df.select(
        F.col(id_col).alias("doc_id"),
        F.substring(
            F.lower(F.trim(F.col(text_col))), 1, key_chars
        ).alias("__snk"),
    )
    ranked = global_rank(keyed, ["__snk", "doc_id"], rank_col="__r")
    base = ranked.select(
        "doc_id",
        "__r",
        F.floor((F.col("__r") - 1) / d).cast("long").alias("__b"),
    )
    lo = base.select(
        F.col("doc_id").alias("__id_lo"),
        F.col("__r").alias("__r_lo"),
        F.explode(
            F.array(F.col("__b"), F.col("__b") + F.lit(1))
        ).alias("__bk"),
    )
    hi = base.select(
        F.col("doc_id").alias("__id_hi"),
        F.col("__r").alias("__r_hi"),
        F.col("__b").alias("__bk"),
    )
    cands = (
        lo.join(hi, "__bk")
        .filter((F.col("__r_hi") - F.col("__r_lo")).between(1, d))
        .select(
            F.least("__id_lo", "__id_hi").alias("doc_a"),
            F.greatest("__id_lo", "__id_hi").alias("doc_b"),
        )
    )
    # persisted for the same reason as minhash_neardup: the verify joins
    # read the token table on both pair sides (and the bitmap probe may
    # scan it once more) — one tokenize pass, not three
    hashes = _token_hash_set(df, text_col, id_col).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    return _verify_pairs_jaccard(
        cands, hashes, hashes, "doc_a", "doc_b", threshold,
        vocab_source=hashes,
    )


def dup_shingle_coverage(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    min_docs: int = 2,
) -> DataFrame:
    """Per-document duplicated-passage coverage: the fraction of a doc's
    word-shingle positions whose shingle also occurs in ≥ ``min_docs``
    distinct documents — the corpus-level twin of the within-doc
    repetition signals (the RefinedWeb/Gopher "dup n-gram coverage"
    family, computed inter-document). High coverage flags boilerplate and
    template pages that pairwise near-dup misses because no single pair
    crosses the Jaccard threshold.

    Shape (scale-safe — never doc×doc): explode shingle hashes keeping
    multiplicity, one hash-agg per (doc, shingle), one hash-agg per
    shingle for the distinct-doc count, then an equi-join back and a
    per-doc rollup. All four stages are partial-agg/equi-join on the
    shingle hash or the doc id; the duplicated-shingle side is the
    smaller aggregate and AQE broadcast-promotes it when it fits.
    """
    from .text import shingle_hashes

    sh = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(shingle_hashes(text_col, n)).alias("sh"),
    )
    per_doc_sh = sh.groupBy("doc_id", "sh").agg(F.count(F.lit(1)).alias("cnt"))
    dup = (
        per_doc_sh.groupBy("sh")
        .agg(F.count(F.lit(1)).alias("__nd"))
        .filter(F.col("__nd") >= min_docs)
        .select("sh")
    )
    marked = per_doc_sh.join(dup.withColumn("__isdup", F.lit(1)), "sh", "left")
    return (
        marked.groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_shingles"),
            F.sum(
                F.when(F.col("__isdup").isNotNull(), F.col("cnt")).otherwise(0)
            ).alias("n_dup_shingles"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_dup_shingles",
            (F.col("n_dup_shingles") / F.col("n_shingles")).alias("__frac"),
        )
    )


def duplicate_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    min_count: int = 2,
    persist: bool = True,
) -> DataFrame:
    """Exact duplicated-substring spans (the word-level analogue of
    Lee et al. 2022's suffix-array exact-substring dedup,
    arXiv:2107.06499): every maximal token range covered by n-token
    shingles that occur ≥ ``min_count`` times across the whole corpus
    (within-doc repeats count, as in the paper). Returns one row per
    maximal span: (doc_id, span_start, span_end, span_tokens) with
    ``span_end`` exclusive. Docs shorter than ``n`` tokens hash their
    whole text as one shingle; their ``span_end`` may exceed the token
    count and consumers clamp (``scrub_duplicate_spans`` does).

    Scale shape — the suffix-array construction the paper uses is a
    global sort no cluster wants; shingle hashing gives the same
    ≥n-token guarantee with only scale-safe primitives:

    1. posexplode shingle hashes — linear in corpus tokens;
    2. duplicated-shingle set via one map-side-combinable hash agg on
       the shingle hash (``HAVING count ≥ min_count``);
    3. a left-semi equi-join marking duplicated positions (the dup set
       is the smaller aggregate; AQE broadcast-promotes it when small);
    4. per-doc gaps-and-islands (one window keyed on doc_id ordered by
       position — state bounded by tokens-per-doc, never corpus-wide).

    Nothing is quadratic and nothing is globally sorted; the only
    corpus-wide shuffles are the shingle-hash agg and the doc_id window.

    The exploded positions feed both the dup-set agg and the marking
    join; ``persist=True`` pins them (MEMORY_AND_DISK, minhash-table
    convention — caller/bench hygiene unpersists) instead of
    re-tokenizing the corpus for the second consumer — A/B at the 64×
    rung: 89 s recompute vs 59 s persisted. At cluster scale the pin is
    a disk-spill cost vs a second full tokenize pass; keep it unless
    executor storage is the bottleneck.
    """
    from .text import shingle_hashes

    sh = df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(shingle_hashes(text_col, n)).alias("pos", "sh"),
    )
    if persist:
        sh = sh.persist(StorageLevel.MEMORY_AND_DISK)
    dup = (
        sh.groupBy("sh")
        .agg(F.count(F.lit(1)).alias("__cnt"))
        .filter(F.col("__cnt") >= min_count)
        .select("sh")
    )
    hits = sh.join(dup, "sh", "left_semi")
    w = Window.partitionBy("doc_id").orderBy("pos")
    # new island unless this shingle's range touches/overlaps the previous
    # one ([prev, prev+n) vs [pos, pos+n) merge iff pos − prev ≤ n); the
    # lag is NULL on the first row → otherwise-branch → island starts at 1
    flagged = hits.withColumn(
        "__new",
        F.when(F.col("pos") - F.lag("pos").over(w) <= n, F.lit(0)).otherwise(
            F.lit(1)
        ),
    ).withColumn("__island", F.sum("__new").over(w))
    return (
        flagged.groupBy("doc_id", "__island")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + n).alias("span_end"),
        )
        .select(
            "doc_id",
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start")).alias("span_tokens"),
        )
    )


def scrub_duplicate_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    min_count: int = 2,
) -> DataFrame:
    """Apply ``duplicate_spans``: rebuild each document with every
    duplicated span's tokens removed (the "fix the data" step of exact
    substring dedup). Returns (doc_id, n_tokens, n_kept, scrubbed) where
    ``scrubbed`` is the space-joined surviving tokens.

    Scale shape: spans collapse to one array per doc (bounded by
    tokens-per-doc, same key as the doc row — one hash agg + one
    equi-join on doc_id), then token filtering is a pure Catalyst
    higher-order expression per row; no extra shuffle beyond the two
    doc_id-keyed ones and nothing driver-side."""
    from .text import tokens

    spans = duplicate_spans(df, text_col, id_col, n, min_count)
    per_doc = spans.groupBy("doc_id").agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("__spans")
    )
    docs = df.select(
        F.col(id_col).alias("doc_id"), tokens(text_col).alias("__toks")
    )
    joined = docs.join(per_doc, "doc_id", "left").withColumn(
        "__spans",
        F.coalesce(
            F.col("__spans"),
            F.array().cast("array<struct<span_start:int,span_end:int>>"),
        ),
    )
    idx = F.when(
        F.size("__toks") > 0,
        F.sequence(F.lit(0), F.size("__toks") - F.lit(1)),
    ).otherwise(F.array().cast("array<int>"))
    kept = F.filter(
        idx,
        lambda i: ~F.exists(
            F.col("__spans"),
            lambda s: (i >= s["span_start"]) & (i < s["span_end"]),
        ),
    )
    return joined.select(
        "doc_id",
        F.size("__toks").alias("n_tokens"),
        F.size(kept).alias("n_kept"),
        F.array_join(
            F.transform(kept, lambda i: F.element_at("__toks", i + F.lit(1))),
            " ",
        ).alias("scrubbed"),
    )


def simhash_signatures(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """32-bit SimHash: bit j of the signature is set iff the sum over
    tokens of ±1 (sign of bit j of the token hash) is positive."""
    toks = _token_set(df, text_col, id_col)
    exploded = toks.select("doc_id", F.explode("toks").alias("tok")).withColumn(
        "h0", string_hash("tok")
    )
    sums = exploded.groupBy("doc_id").agg(
        *[
            F.sum(
                (F.shiftright(F.col("h0"), j).bitwiseAND(F.lit(1)) * 2 - 1)
            ).alias(f"s_{j}")
            for j in range(SIMHASH_BITS)
        ]
    )
    sig = None
    for j in range(SIMHASH_BITS):
        bit = F.when(F.col(f"s_{j}") > 0, F.lit(2**j).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        sig = bit if sig is None else sig + bit
    return sums.select("doc_id", sig.alias("simhash"))


def simhash_neardup_pairs(
    sigs: DataFrame, max_hamming: int = 3, bits: int = SIMHASH_BITS
) -> DataFrame:
    """Pairs within hamming distance ≤ max_hamming of the 32-bit SimHash,
    via bit-block banding (multi-index hashing).

    Pigeonhole: a pair with hamming ≤ d agrees EXACTLY on at least one of
    d+1 disjoint bit-blocks of the signature, so the candidate step is
    d+1 plain equi-joins on the block values — no quadratic pass. A pair
    agreeing on several blocks is emitted only by its FIRST agreeing block
    (band b's join filters pairs that already agreed on any block < b), so
    emission is exactly-once by construction and no global ``distinct``
    shuffle is needed — the same trick as `minhash_candidates`.

    Exact (recall 1.0), not approximate: banding only prunes pairs that
    differ in every block, which a hamming-≤ d pair cannot — and the
    argument survives a remainder: when ``bits`` is not divisible by
    d+1, the uncovered high bits spoil NO block, and the ≤ d covered
    differing bits spoil at most d of the d+1 blocks, so one block still
    agrees (the final bit_count filter is over the FULL signature either
    way). At 32 bits the blocks are 8-bit keys; for corpora beyond ~10⁷
    docs raise SIMHASH_BITS to 64 so each block carries 16 bits of
    selectivity. ``bits`` parameterizes the signature width so other
    fixed-width hashes (e.g. the 16-bit image perceptual hash) reuse the
    same exact hamming join."""
    n_blocks = max_hamming + 1
    block_bits = bits // n_blocks
    mask = (1 << block_bits) - 1

    def block_val(b: int) -> Column:
        return F.shiftright(F.col("simhash"), b * block_bits).bitwiseAND(
            F.lit(mask)
        )

    rows = sigs.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.array(*[block_val(b) for b in range(n_blocks)])
        ).alias("block_no", "block_key"),
    )
    a = rows.select(
        F.col("doc_id").alias("doc_a"),
        F.col("simhash").alias("sig_a"),
        "block_no",
        "block_key",
    )
    b = rows.select(
        F.col("doc_id").alias("doc_b"),
        F.col("simhash").alias("sig_b"),
        "block_no",
        "block_key",
    )
    # single-shuffle banding (r13, the minhash_candidates rewrite): one
    # equi-join on the exploded (block_no, block_key) rows — both sides
    # reuse the same exchange — and a full-row distinct over the
    # (pair, hamming) output replaces the first-agreeing-block
    # bookkeeping (every duplicate row of a pair is identical, hamming
    # being a pair function, so the distinct is exact)
    return (
        a.join(b, ["block_no", "block_key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .withColumn(
            "hamming", F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
        .dropDuplicates()
    )


def hamming_pairs_grouped(
    sigs: DataFrame, max_hamming: int = 3, bits: int = SIMHASH_BITS
) -> DataFrame:
    """`simhash_neardup_pairs` through a distinct-hash pre-aggregation —
    the scale route for NARROW hashes (e.g. the 16-bit image perceptual
    hash) whose value space 2^bits is far smaller than the corpus. There
    doc-level banding degenerates: every (d+1)-way block key is shared by
    ~N/2^block_bits docs, so the band joins emit ~N²/2^block_bits
    candidate rows (at 16 bits / hamming 2 the block keys carry 5 bits —
    32 distinct values). Here the banded hamming join runs over DISTINCT
    hash values only (≤ 2^bits rows — bounded by the hash space,
    independent of N); docs then expand back through exact-hash
    equi-joins: cross-group expansion for hash pairs at hamming 1..d,
    within-group pairs at hamming 0. Candidate volume is capped at
    2^bits · C(bits, ≤d) hash pairs, and the only N-sized work is the
    expansion joins, whose output is the true pair set (any algorithm
    must emit it). Same exact-recall contract and output schema as
    `simhash_neardup_pairs` — for WIDE hashes (32+ bits, distinct ≈ N)
    the pre-aggregation buys nothing and the doc-level join stays the
    right call."""
    distinct_hashes = sigs.select("simhash").distinct()
    hash_pairs = simhash_neardup_pairs(
        distinct_hashes.select(F.col("simhash").alias("doc_id"), "simhash"),
        max_hamming,
        bits,
    ).select(
        F.col("doc_a").alias("h_a"), F.col("doc_b").alias("h_b"), "hamming"
    )
    left = sigs.select(F.col("doc_id").alias("x"), F.col("simhash").alias("h_a"))
    right = sigs.select(F.col("doc_id").alias("y"), F.col("simhash").alias("h_b"))
    cross = (
        hash_pairs.join(left, "h_a")
        .join(right, "h_b")
        .select(
            F.least("x", "y").alias("doc_a"),
            F.greatest("x", "y").alias("doc_b"),
            "hamming",
        )
    )
    # hamming-0 pairs live WITHIN a hash group (doc_a < doc_b keeps each
    # unordered pair exactly once; the cross branch never emits them, so
    # no distinct shuffle is needed over the union)
    same = (
        sigs.select(F.col("doc_id").alias("doc_a"), "simhash")
        .join(
            sigs.select(F.col("doc_id").alias("doc_b"), "simhash"), "simhash"
        )
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            F.lit(0).cast("integer").alias("hamming"),
        )
    )
    return cross.unionByName(same)


def triangle_counts(
    edges: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    orient_by_degree: bool = True,
) -> DataFrame:
    """Per-node triangle counts over an undirected edge list with
    ``a < b`` per row (the near-dup pair contract) — the standard
    cluster-cohesion signal: near-dup components rich in triangles are
    tight duplicate nests, triangle-free ones are chains of borderline
    matches that a canonical-pick may over-merge.

    Compact-forward enumeration (Latapy 2008): orient every edge from
    the lower to the higher endpoint under the (degree, id) total
    order, build wedges by self-joining out-edges on their source, and
    close each wedge against the oriented edge set — every triangle is
    found exactly once at its lowest-ordered apex. The degree
    orientation is what makes this scale-safe: out-degrees under
    degree order are bounded by O(√m) on ANY graph (vs max-degree
    fan-out under raw id order), which on the near-clique components a
    dup-dense corpus produces is the difference between Σ deg² wedge
    blowup and Σ outdeg² — measured at the 64× rung: the id-ordered
    variant burned >190 CPU-minutes without finishing; degree-ordered
    completes in seconds-to-minutes (PERF.md). ``orient_by_degree=
    False`` keeps the raw-id orientation for small graphs / A-B runs.
    Results are orientation-invariant (same triangles either way).

    Cost shape: one degree agg + two degree-attach joins + one wedge
    self-join + one closing semi-join — all equi-joins on node keys.

    APPLICABILITY BOUND — exact counting enumerates every triangle, and
    a graph's triangle count is the floor on any exact algorithm's
    work: on near-clique components (exactly what a dup-dense near-dup
    graph produces) that is Θ(Σ C(s,3)) ≈ cubic in component size — at
    the 64× rung the id-ordered variant burned >190 CPU-minutes before
    being killed, and no orientation fixes an output-size bound. Use
    this operator on sparse relation graphs; on dup graphs use
    ``triangle_counts_sampled`` (DOULION) or compute cohesion as
    component edge-density (|E| vs C(s,2) — linear)."""
    e0 = edges.select(F.col(a_col).alias("a"), F.col(b_col).alias("b"))
    if orient_by_degree:
        deg = (
            e0.select(F.explode(F.array("a", "b")).alias("n"))
            .groupBy("n")
            .agg(F.count(F.lit(1)).alias("d"))
        )
        ed = (
            e0.join(
                deg.select(
                    F.col("n").alias("a"), F.col("d").alias("__da")
                ),
                "a",
            )
            .join(
                deg.select(
                    F.col("n").alias("b"), F.col("d").alias("__db")
                ),
                "b",
            )
        )
        a_first = (F.col("__da") < F.col("__db")) | (
            (F.col("__da") == F.col("__db")) & (F.col("a") < F.col("b"))
        )
        e = ed.select(
            F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("u"),
            F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("v"),
            F.when(a_first, F.col("__db")).otherwise(F.col("__da")).alias(
                "__dv"
            ),
        )
    else:
        # raw-id orientation: a < b already holds
        e = e0.select(
            F.col("a").alias("u"),
            F.col("b").alias("v"),
            F.col("b").alias("__dv"),  # id doubles as the order key
        )
    wedges = (
        e.alias("e1")
        .join(
            e.select(
                F.col("u").alias("__u2"),
                F.col("v").alias("w"),
                F.col("__dv").alias("__dw"),
            ),
            F.col("u") == F.col("__u2"),
        )
        .filter(
            (F.col("__dv") < F.col("__dw"))
            | ((F.col("__dv") == F.col("__dw")) & (F.col("v") < F.col("w")))
        )
        .select("u", "v", "w")
    )
    tri = wedges.join(
        e.select(F.col("u").alias("v"), F.col("v").alias("w")),
        ["v", "w"],
        "left_semi",
    )
    nodes = tri.select(F.explode(F.array("u", "v", "w")).alias("doc_id"))
    return (
        nodes.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
        .orderBy("doc_id")
    )


TRI_MULT_A = 2654435761
TRI_MULT_B = 40503


def triangle_counts_sampled(
    edges: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    q: int = 8,
) -> DataFrame:
    """DOULION triangle estimation (Tsourakakis et al., KDD 2009): keep
    each edge with probability 1/q, count triangles exactly on the
    sparsified graph, scale by q³. This is the triangle signal that
    SURVIVES dup-dense graphs — the sparsified near-cliques have their
    triangle mass cut by q³, turning an enumeration-infeasible output
    (see triangle_counts' applicability bound) into a tractable one
    with an unbiased global estimate.

    Deterministic: the coin is a Knuth-mixed hash of the edge's
    endpoint pair (int64-exact, replayed verbatim in the SQL oracle),
    so the estimate is stable across runs/partitions/engines. Returns
    per-node (doc_id, n_sampled, est_triangles = n_sampled·q³);
    per-node estimates carry the usual DOULION variance — aggregate
    over components/corpus for tight estimates."""
    mixed = (
        F.col(a_col) * F.lit(TRI_MULT_A) + F.col(b_col) * F.lit(TRI_MULT_B)
    ) % F.lit(BAND_KEY_MOD)
    kept = edges.filter(mixed % F.lit(q) == 0)
    counts = triangle_counts(kept, a_col, b_col)
    return counts.select(
        "doc_id",
        F.col("n_triangles").alias("n_sampled"),
        (F.col("n_triangles") * F.lit(q**3)).alias("est_triangles"),
    )


def component_density(
    edges: DataFrame, a_col: str = "doc_a", b_col: str = "doc_b"
) -> DataFrame:
    """Per-component cohesion as edge density — the LINEAR-cost cohesion
    metric for dup graphs where triangle enumeration is output-bound:
    density = |E| / C(s,2) is 1.0 for a perfect duplicate nest and →0
    for chains of borderline matches, computed from one connected-
    components pass + two component-keyed aggs (no per-triangle work).
    Returns (component, n_nodes, n_edges, density)."""
    cc = connected_components(edges, a_col=a_col, b_col=b_col)
    nodes = cc.groupBy("component").agg(F.count(F.lit(1)).alias("n_nodes"))
    lab = cc.select(
        F.col("node").alias(a_col), F.col("component").alias("__comp")
    )
    edge_comp = edges.join(lab, a_col).groupBy("__comp").agg(
        F.count(F.lit(1)).alias("n_edges")
    )
    from ..functions.rounding import stable_round

    return (
        nodes.join(
            edge_comp, nodes["component"] == edge_comp["__comp"]
        )
        .select(
            "component",
            "n_nodes",
            "n_edges",
            stable_round(
                F.col("n_edges")
                * 2.0
                / (F.col("n_nodes") * (F.col("n_nodes") - 1)),
                6,
            ).alias("density"),
        )
        .orderBy("component")
    )


def pagerank(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    damping: float = 0.85,
    iters: int = 3,
    scale: int = 9,
) -> DataFrame:
    """PageRank over the (undirected) near-dup pair graph → ``(node,
    pr)`` — the centrality signal that ranks which documents sit at the
    CORE of a duplication nest versus its periphery (useful for picking
    canonical representatives by linkage rather than min-id, and for
    prioritizing dup-cluster review). Standard power iteration with
    symmetrized edges, so every node has out-degree ≥ 1 and there is no
    dangling mass.

    Cross-engine exactness: each iteration's rank is stable-rounded to
    ``scale`` decimals (the kmeans-oracle precedent) so the DuckDB replay
    — identical arithmetic per round, including the ``(1.0 - d)/n``
    subexpression shape — hash-matches despite engine-order float sums
    (per-node sums have degree-bounded terms, error ≪ the 1e-9 shift).

    Plan at scale: the degree-annotated out-edge list is built once and
    persisted; each iteration is ONE equi-join of the current rank table
    against it plus a map-side-combinable sum — the canonical distributed
    PageRank shape. Rank state is localCheckpointed per round (the
    iterative-lineage lesson on connected_components), previous snapshot
    unpersisted, so storage holds ≤ 2 rank tables + the edge list.
    Driver traffic: the single node-count scalar.
    """
    from ..functions.rounding import stable_round

    half = pairs.select(
        F.col(a_col).cast("long").alias("a"),
        F.col(b_col).cast("long").alias("b"),
    )
    edges = half.select(
        F.col("a").alias("src"), F.col("b").alias("dst")
    ).unionAll(half.select(F.col("b").alias("src"), F.col("a").alias("dst")))
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    out_edges = edges.join(deg, "src").persist()
    n = out_edges.select("src").distinct().count()
    ranks = (
        out_edges.select("src")
        .distinct()
        .select(
            F.col("src").alias("node"),
            stable_round(F.lit(1.0) / F.lit(float(n)), scale).alias("pr"),
        )
        .localCheckpoint()
    )
    d = float(damping)
    for _ in range(iters):
        contrib = (
            out_edges.join(
                ranks.select(F.col("node").alias("src"), "pr"), "src"
            )
            .groupBy("dst")
            .agg(F.sum(F.col("pr") / F.col("deg")).alias("__s"))
        )
        new = contrib.select(
            F.col("dst").alias("node"),
            stable_round(
                (F.lit(1.0) - F.lit(d)) / F.lit(float(n))
                + F.lit(d) * F.col("__s"),
                scale,
            ).alias("pr"),
        )
        old, ranks = ranks, new.localCheckpoint()
        old.unpersist()
    out_edges.unpersist()
    return ranks


def pagerank_sql(
    pairs_sql: str,
    damping: float = 0.85,
    iters: int = 3,
    scale: int = 9,
) -> str:
    """DuckDB twin of ``pagerank`` — generated by the same parameters so
    per-round arithmetic (including the ``(1.0 - d)/n`` shape and the
    stable rounding) can never drift."""
    d = repr(float(damping))
    rounds = []
    for i in range(1, iters + 1):
        prev = f"r{i - 1}"
        rounds.append(
            f"""r{i} AS (
    SELECT e.dst AS node,
           round((1.0 - {d}) / n.n + {d} * sum(r.pr / e.deg)
                 - 1e-9, {scale}) + 0.0 AS pr
    FROM oe e JOIN {prev} r ON e.src = r.node CROSS JOIN n
    GROUP BY e.dst, n.n
)"""
        )
    return f"""
WITH pairs AS ({pairs_sql}),
e AS (
    SELECT doc_a AS src, doc_b AS dst FROM pairs
    UNION ALL
    SELECT doc_b AS src, doc_a AS dst FROM pairs
),
deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
oe AS (SELECT e.src, e.dst, deg.deg FROM e JOIN deg ON e.src = deg.src),
n AS (SELECT count(*) AS n FROM deg),
r0 AS (
    SELECT src AS node, round(1.0 / n.n - 1e-9, {scale}) + 0.0 AS pr
    FROM deg CROSS JOIN n
),
{",".join(rounds)}
SELECT node AS doc_id, pr FROM r{iters} ORDER BY doc_id
"""


def neardup_components(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.6,
    *,
    n_perm: int | None = None,
    band_size: int | None = None,
    max_iter: int = 25,
) -> DataFrame:
    """Connected components of the MinHash near-dup graph WITHOUT ever
    materializing the member-level pair set — answer-identical to
    ``connected_components(minhash_neardup(df, ...))`` (pytest-pinned),
    built on the identity-class isomorphism: every member of a class
    shares the token SET, so member-level reachability ≡ rep-level
    reachability, and the member-level component minimum equals the
    rep-level component minimum because each rep IS its class's minimum
    member.

    Why it exists (r12 rung): the pair REPRESENTATION is quadratic in
    duplicate-class size — the organic sf1.0 documents produce 240M
    member pairs over 50k docs, and CC's checkpoint materializes all of
    them (333 s for the CC alone). Rep-level the same graph is ~|classes
    in each family|² — the only row-level frames here are the class
    table and the final member expansion (output-bound).

    Node/label contract of the pair route, preserved exactly:

    - nodes = docs appearing in ≥1 pair = members of multi-member
      classes (within-class pairs at J=1) ∪ members of classes with a
      rep-level edge; empty-token-set docs never pair (no signature);
    - component = min doc id reachable = the rep-level component min
      (reps are class minima); a multi-member class with no cross edges
      is its own component under its rep.
    """
    n_perm, band_size = resolve_minhash_params(
        threshold, n_perm=n_perm, band_size=band_size
    )
    hashes = _token_hash_set(df, text_col, id_col).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    classes = (
        hashes.filter(F.size("tok_hashes") > 0)
        .groupBy("tok_hashes")
        .agg(
            F.min("doc_id").alias("__rep"),
            F.collect_list("doc_id").alias("__members"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    rep_hashes = classes.select(
        F.col("__rep").alias("doc_id"), "tok_hashes"
    ).persist(StorageLevel.MEMORY_AND_DISK)
    rep_pairs = _neardup_from_hashes(
        rep_hashes, threshold, None, n_perm=n_perm, band_size=band_size
    )
    rep_cc = connected_components(rep_pairs, max_iter=max_iter)
    out = (
        classes.select(
            "__rep", F.size("__members").alias("__sz"), "__members"
        )
        .join(rep_cc, classes["__rep"] == rep_cc["node"], "left")
        .withColumn("__comp", F.coalesce(F.col("component"), F.col("__rep")))
        .filter((F.col("__sz") >= 2) | F.col("component").isNotNull())
        .select(
            F.explode("__members").alias("node"),
            F.col("__comp").alias("component"),
        )
    )
    return out


#: half-edge ceiling for the driver-local union-find tail of
#: ``connected_components`` — applies to the CONTRACTED graph only (the
#: original edge set never touches the driver). 500k half edges is ~16 MB
#: through Arrow and resolves in well under a second, the same budget
#: class as a broadcast-join side; past it the distributed jump loop runs.
CC_LOCAL_EDGE_BUDGET = 500_000


def _cc_union_find_local(spark, pdf) -> DataFrame:
    """``(label0, rep_label)`` component map of a bounded contracted graph
    via driver-side union-find (min-id root invariant: a union always
    attaches the larger root under the smaller, so every root is its
    component's minimum — answer-identical to the min-label propagation
    loop). ``pdf`` is the already-pulled pandas frame of the deduped
    src<dst half edge set (the caller's bounded ``limit().toPandas()``
    doubles as the size gate — r14, one job instead of count+toPandas)."""
    parent: dict = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:
            parent[x], x = root, parent[x]
        return root

    nodes = set()
    for a, b in zip(pdf["src"].tolist(), pdf["dst"].tolist()):
        nodes.add(a)
        nodes.add(b)
        ra, rb = find(a), find(b)
        if ra != rb:
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
    rows = [(int(n), int(find(n))) for n in nodes]
    return spark.createDataFrame(
        rows, schema="label0 long, rep_label long"
    )


def connected_components(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iter: int = 25,
) -> DataFrame:
    """Connected components of the near-dup pair graph → ``(node,
    component)`` with component = min node id reachable — the step that
    turns pairwise matches into actionable dedup clusters (keep the
    canonical minimum, drop the rest).

    Two phases, both shaped for the near-dup workload where components are
    near-CLIQUES (a c-doc cluster contributes ~c²/2 pairs, so the edge set
    dwarfs the node set — measured 10.9M symmetric edges over 4.7k nodes
    at sf0.1):

    1. **Star contraction** (one pass over the half edge set): every node
       maps to min(itself, its neighbors); edges re-keyed through that map
       collapse cliques to self-loops, which are dropped. Everything works
       off the src<dst half-edges — only in-edges can lower a label, so
       one union-agg computes l0 and the 2|E| symmetric union is never
       materialized. One min-agg plus two equi-joins against the
       (nodes-sized, AQE-broadcastable) label map are the only stages that
       ever touch the edge set, so the O(rounds · |E|) join cost of plain
       label propagation never happens. The contracted residual is tiny
       for near-clique workloads, so the loop's partitioning is sized to
       its measured edge count (full-width shuffles on a few-thousand-row
       graph were pure per-task overhead).
    2. **Min-label propagation with pointer jumping** on the contracted
       graph (orders of magnitude smaller): each round adopts the minimum
       label among self and neighbors, then path-halves (label ← label's
       label — min labels always name reachable nodes, so the composition
       stays inside the component). Jumping turns O(diameter) rounds into
       O(log diameter) — the PRAM pointer-doubling trick, same family as
       the large-star/small-star MapReduce formulation (Kiveris et al.,
       SoCC'14).

    The contracted component of ``l0(v)`` is the component of ``v``, and
    its min label is the true component min: the component's minimum node
    m has ``l0(m) = m``, so it survives contraction as its own
    representative.

    Iteration state is cut with ``localCheckpoint`` (eager) each round:
    persist alone is NOT enough for iterative algorithms — the logical
    plan still nests one round deeper per iteration and re-analysis cost
    grows without bound (measured: the persist form ran >20 min where the
    checkpointed form converges in ~4 s post-edges). The previous round's
    checkpoint blocks are unpersisted once the new round is materialized,
    so executor storage holds at most two label snapshots. On a
    multi-executor cluster swap in reliable ``checkpoint()``
    (localCheckpoint stores blocks on executors and is lost on executor
    failure).

    Raises ``RuntimeError`` if the loop exhausts ``max_iter`` before a
    fixed point — returning unconverged labels would silently mislabel
    components (with jumping, 25 rounds covers diameter ~2²⁵).

    When the CONTRACTED graph fits ``CC_LOCAL_EDGE_BUDGET`` half edges
    the label fixpoint is instead computed by a driver-side union-find
    over the (already measured and bounded) residual — see
    ``_cc_union_find_local``; the loop below is the beyond-budget path.

    The DuckDB oracle twin is a recursive CTE computing min reachable
    label — exact agreement on every node.
    """
    # normalize to src<dst half-edges — the 2|E| symmetric union is never
    # materialized (it used to be the largest checkpoint write here). No
    # distinct: duplicate edges are harmless everywhere downstream (l0 is
    # a min-agg whose map-side combine collapses them nearly free, and the
    # contracted edge set runs through its own distinct), so deduping here
    # would be a full extra shuffle purely to shrink one join input — and
    # every in-repo producer (minhash/simhash/embedding banding) already
    # emits each pair exactly once.
    norm = (
        pairs.select(
            F.least(F.col(a_col), F.col(b_col)).alias("src"),
            F.greatest(F.col(a_col), F.col(b_col)).alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .localCheckpoint()
    )

    # phase 1: star contraction — l0(v) = min(v, neighbors(v)). With
    # src<dst, only in-edges can lower a label (all of v's dst-side
    # neighbors are > v), so one union-agg over half-edges suffices: the
    # (src, src) rows register every node (and its self-candidate), the
    # (dst, src) rows contribute the smaller-id neighbors.
    l0 = (
        norm.select(F.col("src").alias("node"), F.col("src").alias("cand"))
        .unionByName(
            norm.select(F.col("dst").alias("node"), F.col("src").alias("cand"))
        )
        .groupBy("node")
        .agg(F.min("cand").alias("label0"))
        .localCheckpoint()
    )
    re_src = l0.select(
        F.col("node").alias("src"), F.col("label0").alias("csrc")
    )
    re_dst = l0.select(
        F.col("node").alias("dst"), F.col("label0").alias("cdst")
    )
    cnorm = (
        norm.join(re_src, "src")
        .join(re_dst, "dst")
        .filter(F.col("csrc") != F.col("cdst"))
        .select(
            F.least("csrc", "cdst").alias("src"),
            F.greatest("csrc", "cdst").alias("dst"),
        )
        .distinct()
    )
    chalf = cnorm.localCheckpoint()
    norm.unpersist()

    # Driver-local tail for SMALL contracted graphs (r13): after star
    # contraction a near-clique workload leaves a residual of roughly
    # component count, not edge count — measured 3,234 symmetric edges /
    # 450 nodes from the 580k-edge sf0.1 rep graph — and the distributed
    # loop's cost there is pure per-job overhead (3 rounds × 3 jobs ≈
    # 3.5 s for a graph union-find resolves in microseconds). Same
    # auto-routing contract as choose_impl / collapse_identical="auto":
    # a measured size gates a bounded driver-side step (≤ budget half
    # edges ≈ 16 MB via Arrow, the same order as a broadcast side), and
    # past the budget the jump-accelerated distributed loop below runs
    # unchanged. Min-label union-find is answer-identical to min-label
    # propagation (both compute min reachable node id per component).
    # r14: the bounded limit().toPandas() IS the size gate — one job off
    # the checkpoint replaces the separate count + full toPandas pair;
    # only the beyond-budget path pays a count (for loop sizing).
    pdf = chalf.limit(CC_LOCAL_EDGE_BUDGET + 1).toPandas()
    if len(pdf) <= CC_LOCAL_EDGE_BUDGET:
        rep_label = _cc_union_find_local(chalf.sparkSession, pdf)
        chalf.unpersist()
        return l0.join(rep_label, "label0", "left").select(
            F.col("node"),
            F.coalesce("rep_label", "label0").alias("component"),
        )
    n_half = chalf.count()

    cedges = chalf.unionByName(
        chalf.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint()

    # size the loop's partitioning to the data so each round is a couple of
    # single-digit-task jobs instead of full-width shuffles (fixed per-task
    # overhead dominated the loop at small sizes). Falls back to the
    # inherited width when the contracted graph is genuinely large.
    n_cedges = 2 * n_half
    chalf.unpersist()
    loop_parts = max(1, min(cedges.rdd.getNumPartitions(), n_cedges // 2_000_000 + 1))
    if loop_parts < cedges.rdd.getNumPartitions():
        cedges = cedges.repartition(loop_parts).localCheckpoint()

    # phase 2: jump-accelerated label propagation on the contracted graph
    labels = (
        cedges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .repartition(loop_parts)
        .localCheckpoint()
    )
    changed = 0
    for _ in range(max_iter):
        neighbor_min = (
            cedges.join(labels, cedges.src == labels.node)
            .groupBy(F.col("dst").alias("node2"))
            .agg(F.min("label").alias("nbr_label"))
        )
        # checkpointed so the jump's self-join reads it, not re-runs it
        stepped = (
            labels.join(
                neighbor_min, labels.node == neighbor_min.node2, "left"
            )
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce("nbr_label", F.col("label"))
                ).alias("label"),
            )
            .repartition(loop_parts)
            .localCheckpoint()
        )
        # pointer jump: label ← label's label (path halving)
        parent = stepped.select(
            F.col("node").alias("p_node"), F.col("label").alias("p_label")
        )
        new_labels = (
            stepped.join(parent, stepped.label == parent.p_node, "left")
            .select(
                "node", F.coalesce("p_label", "label").alias("label")
            )
            .repartition(loop_parts)
            .localCheckpoint()
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels.unpersist()
        stepped.unpersist()
        labels = new_labels
        if changed == 0:
            break
    if changed != 0:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            f"({changed} labels still changing)"
        )
    # the result depends only on the l0 and final-labels checkpoints —
    # release the contracted edge blocks eagerly (norm, the big one, was
    # released right after contraction)
    cedges.unpersist()
    # map every original node through its contraction representative; reps
    # whose whole component collapsed in phase 1 never reach the loop and
    # keep label0 as their component
    rep = labels.select(
        F.col("node").alias("label0"), F.col("label").alias("rep_label")
    )
    return l0.join(rep, "label0", "left").select(
        F.col("node"),
        F.coalesce("rep_label", "label0").alias("component"),
    )
