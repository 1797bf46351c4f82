"""Entity linking + canonicalization (NEW stages; north_rule).

Pipeline: mentions -> blocked similarity join -> similarity edges ->
connected components -> canonical entity id per surface form.

  * **Blocking** avoids the quadratic all-pairs join: candidate pairs are
    generated only within a block. Two complementary block keys are used —
    the normalized surface itself (exact variants collapse for free) and a
    (first-char, digit-suffix) key so ``prot7`` and ``protein7`` meet
    without comparing every pair of mentions (set-similarity-join blocking
    in the spirit of the PAPERS.md prefix-filtering literature).
  * **Scoring** is character-bigram Jaccard computed with built-in
    array functions (no UDFs).
  * **Canonicalization** runs connected components over above-threshold
    pairs; canonical id = lexicographic min surface-normal in the cluster.

The reference has no linking stage (adapters pre-resolve ids); this module
supplies it Spark-first for transcript corpora.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .materialize import materialize
from .extract import normalize_surface
from .operators.components import connected_components


def _bigrams(col) -> F.Column:
    """Distinct character bigrams of a string column (built-ins only)."""
    chars = F.split(col, "")
    n = F.size(chars)
    idx = F.sequence(F.lit(0), F.greatest(n - F.lit(2), F.lit(0)))
    return F.array_distinct(
        F.filter(
            F.transform(idx, lambda i: F.concat_ws("", F.slice(chars, i + 1, 2))),
            lambda s: F.length(s) == 2,
        )
    )


def _cheap_block(key_col: str) -> F.Column:
    """Coarse block key: first alpha char + trailing digit run."""
    return F.concat(
        F.substring(F.regexp_extract(key_col, "^([a-z]+)", 1), 1, 1),
        F.regexp_extract(key_col, "([0-9]+)$", 1),
    )


def candidate_pairs_guarded(
    surfaces: DataFrame,
    key_col: str = "nkey",
    threshold: float = 0.35,
    max_block_size: int = 1024,
) -> DataFrame:
    """Skew-safe candidate generation: the cheap block key where blocks stay
    bounded, the PPJoin prefix filter for members of oversized blocks.

    The cheap key is one narrow expression + one short-string hash join, so
    it stays the fast path; any block larger than ``max_block_size`` (e.g.
    every digitless surface landing in a single-letter block) is instead
    routed through :func:`candidate_pairs_prefix`, whose candidate volume is
    bounded by rarest-bigram selectivity instead of block cardinality. Both
    branches emit (ka, kb); the union is distinct.
    """
    # localCheckpoint (eager), not persist(): the frame feeds the size
    # histogram, both self-join sides, AND the big-block probe — a persist()
    # released before the returned plan executes would leave all of those
    # recomputing the blocking, and there is no hook to unpersist after the
    # caller's action. The surface table is small (distinct surfaces).
    blocked = materialize(surfaces.withColumn("_block", _cheap_block(key_col)))
    sizes = blocked.groupBy("_block").agg(F.count(F.lit(1)).alias("_bn"))
    tagged = blocked.join(sizes, "_block")
    small = tagged.filter(F.col("_bn") <= max_block_size)
    big = tagged.filter(F.col("_bn") > max_block_size).select(key_col)
    a = small.select(F.col(key_col).alias("ka"), "_block")
    b = small.select(F.col(key_col).alias("kb"), "_block")
    pairs = a.join(b, "_block").filter(F.col("ka") < F.col("kb")).select("ka", "kb")
    if big.limit(1).count() > 0:
        pairs = pairs.unionByName(candidate_pairs_prefix(big, threshold, key_col=key_col))
    return pairs.distinct()


def candidate_pairs_prefix(surfaces: DataFrame, threshold: float = 0.35, key_col: str = "nkey") -> DataFrame:
    """Prefix-filtering candidate generation (PPJoin-style; see the
    set-similarity-join literature in PAPERS.md).

    For bigram sets A, B with Jaccard(A,B) >= t it holds that any pair must
    share at least one element among each set's first
    ``|S| - ceil(t * |S|) + 1`` elements under a single global ordering. We
    order bigrams by ascending global document frequency (rarest first) so
    prefixes are maximally selective; the bigram vocabulary is tiny
    (<= alphabet^2), so the frequency table is computed once and broadcast.
    The prefix join also carries PPJoin's LENGTH filter (lossless:
    Jaccard >= t implies t*|A| <= |B| <= |A|/t), which bounds the pair
    volume a globally-common bigram can emit — without it one frequent
    bigram shared across a large block degenerates to a near-quadratic
    join on exactly the oversized blocks this path exists to protect.
    """
    grams = surfaces.select(F.col(key_col).alias("nkey"), _bigrams(F.col(key_col)).alias("_grams"))
    df_counts = (
        grams.select(F.explode("_grams").alias("g")).groupBy("g").count().withColumnRenamed("count", "_df")
    )
    freq = {r["g"]: r["_df"] for r in df_counts.collect()}
    order = {g: i for i, (g, _) in enumerate(sorted(freq.items(), key=lambda kv: (kv[1], kv[0])))}
    spark = surfaces.sparkSession
    order_df = spark.createDataFrame(list(order.items()), "g string, rank int")

    exploded = grams.select("nkey", F.explode("_grams").alias("g"), F.size("_grams").alias("_n"))
    ranked = exploded.join(F.broadcast(order_df), "g")
    # keep each set's prefix: the (n - ceil(t*n) + 1) lowest-ranked grams
    from pyspark.sql import Window as W

    w = W.partitionBy("nkey").orderBy("rank")
    prefix_len = F.col("_n") - F.ceil(F.col("_n") * F.lit(threshold)) + 1
    prefix = ranked.withColumn("_pos", F.row_number().over(w)).filter(F.col("_pos") <= prefix_len)
    a = prefix.select(F.col("nkey").alias("ka"), "g", F.col("_n").alias("_na"))
    b = prefix.select(F.col("nkey").alias("kb"), "g", F.col("_n").alias("_nb"))
    length_ok = F.least("_na", "_nb") >= F.greatest("_na", "_nb") * F.lit(threshold)
    return (
        a.join(b, "g")
        .filter((F.col("ka") < F.col("kb")) & length_ok)
        .select("ka", "kb")
        .distinct()
    )


def _bigrams_py(s: str) -> set:
    return {s[i : i + 2] for i in range(len(s) - 1)} if len(s) >= 2 else set()


def _cheap_block_py(k: str) -> str:
    import re

    m = re.match(r"^([a-z]+)", k)
    d = re.search(r"([0-9]+)$", k)
    return (m.group(1)[0] if m else "") + (d.group(1) if d else "")


def _prefix_candidates_py(keys: list[str], threshold: float) -> set:
    """Driver-side mirror of candidate_pairs_prefix (same prefix length, same
    (document-frequency, gram) global ordering)."""
    import math

    grams = {k: _bigrams_py(k) for k in keys}
    df: dict[str, int] = {}
    for gs in grams.values():
        for g in gs:
            df[g] = df.get(g, 0) + 1
    rank = {g: i for i, (g, _) in enumerate(sorted(df.items(), key=lambda kv: (kv[1], kv[0])))}
    buckets: dict[str, list[str]] = {}
    for k, gs in grams.items():
        n = len(gs)
        if n == 0:
            continue
        plen = n - math.ceil(n * threshold) + 1
        for g in sorted(gs, key=rank.get)[:plen]:
            buckets.setdefault(g, []).append(k)
    out: set = set()
    for members in buckets.values():
        members = sorted(set(members))
        for i, a in enumerate(members):
            na = len(grams[a])
            for b in members[i + 1 :]:
                nb = len(grams[b])
                # same lossless length filter as the Spark path
                if min(na, nb) >= max(na, nb) * threshold:
                    out.add((a, b))
    return out


def canonicalize_local(keys: list[str], threshold: float = 0.35, max_block_size: int = 1024) -> dict:
    """Driver-side mirror of the distributed blocking + scoring +
    union-find pipeline for small surface domains: identical candidates
    (cheap blocks up to ``max_block_size``, prefix filter beyond), identical
    bigram-Jaccard scoring, identical min-label components — but zero Spark
    jobs, which removes the Amdahl constant that otherwise caps scaling
    efficiency of the surrounding pipeline at high core counts."""
    from .operators.components import connected_components_local

    blocks: dict[str, list[str]] = {}
    for k in keys:
        blocks.setdefault(_cheap_block_py(k), []).append(k)
    pairs: set = set()
    big_members: list[str] = []
    for members in blocks.values():
        if len(members) <= max_block_size:
            members = sorted(set(members))
            for i, a in enumerate(members):
                for b in members[i + 1 :]:
                    pairs.add((a, b))
        else:
            big_members.extend(members)
    if big_members:
        pairs |= _prefix_candidates_py(sorted(set(big_members)), threshold)
    grams = {k: _bigrams_py(k) for k in keys}
    edges = []
    for a, b in pairs:
        ga, gb = grams[a], grams[b]
        union = len(ga | gb)
        sim = len(ga & gb) / union if union else 0.0
        if round(sim, 6) >= threshold:
            edges.append((a, b))
    return connected_components_local(edges)


def score_pairs(pairs: DataFrame, threshold: float = 0.35) -> DataFrame:
    """Character-bigram Jaccard similarity, keep pairs >= threshold."""
    scored = pairs.withColumn("_ba", _bigrams(F.col("ka"))).withColumn("_bb", _bigrams(F.col("kb")))
    inter = F.size(F.array_intersect("_ba", "_bb"))
    union = F.size(F.array_union("_ba", "_bb"))
    sim = F.when(union > 0, inter / union).otherwise(F.lit(0.0))
    return scored.withColumn("sim", F.round(sim, 6)).filter(F.col("sim") >= threshold).select("ka", "kb", "sim")


def canonicalize(
    mentions: DataFrame,
    threshold: float = 0.35,
    max_iter: int = 25,
    driver_cc_threshold: int = 200_000,
    max_block_size: int = 1024,
) -> DataFrame:
    """Mentions -> (nkey, canonical_id) mapping table.

    Blocking + pair scoring run distributed; the component step runs on the
    *distinct-surface* graph, which is tiny relative to the corpus. Below
    ``driver_cc_threshold`` distinct surfaces the scored pairs are collected
    and resolved with a driver-side union-find (replacing ~15 near-empty
    Spark stages of iterative joins); above it, the distributed min-label
    propagation takes over. The resulting map is broadcast back in either
    case. Candidate generation is skew-guarded: cheap blocks up to
    ``max_block_size``, PPJoin prefix filtering beyond.
    """
    # drop NULL surfaces up front: the distributed path would shed them
    # implicitly via join semantics, but the driver path's _cheap_block_py
    # would crash on None — one explicit filter keeps both paths identical
    # (a null surface gets no canonical mapping either way)
    surfaces = (
        mentions.select(normalize_surface(F.col("surface")).alias("nkey"))
        .filter(F.col("nkey").isNotNull())
        .distinct()
    )
    spark = mentions.sparkSession
    # one limited collect both picks the path and, on the driver path, IS
    # the key list; on the distributed path it ships at most
    # driver_cc_threshold short keys once and drops them
    keys = [r["nkey"] for r in surfaces.limit(driver_cc_threshold).collect()]
    if len(keys) < driver_cc_threshold:
        comp_map = canonicalize_local(keys, threshold, max_block_size)
        out = spark.createDataFrame(
            [(k, comp_map.get(k, k)) for k in keys], "nkey string, canonical_id string"
        )
        out._driver_sized = True  # bounded by driver_cc_threshold: safe to broadcast
        return out
    del keys

    # blocking and the self-loops below both read the surfaces
    surfaces = surfaces.persist()
    pairs = candidate_pairs_guarded(surfaces, threshold=threshold, max_block_size=max_block_size)
    edges = score_pairs(pairs, threshold)
    loops = surfaces.select(F.col("nkey").alias("ka"), F.col("nkey").alias("kb"), F.lit(1.0).alias("sim"))
    # the self-loop set alone is >= driver_cc_threshold symmetric edges, so
    # the component step's own limit-collect probe could never take its
    # driver path — skip straight to the distributed propagation
    comp = connected_components(
        edges.unionByName(loops), src="ka", dst="kb", max_iter=max_iter, driver_threshold=0
    )
    surfaces.unpersist()
    return comp.select(F.col("node").alias("nkey"), F.col("comp").alias("canonical_id"))


def _pairwise(ents_col: str = "ents") -> F.Column:
    """Index-aware unordered pair expansion of an array column: each element
    paired with every LATER element — struct(a, b) rows, JVM-side, no join."""
    return F.flatten(
        F.transform(
            F.col(ents_col),
            lambda x, i: F.transform(
                F.slice(F.col(ents_col), i + 2, F.greatest(F.size(F.col(ents_col)) - i - 1, F.lit(0))),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )


def cooccurrence_pairs(linked: DataFrame) -> DataFrame:
    """Within-turn entity pairs from linked mentions — without a self-join.

    A self-join on (conv_id, turn_idx) shuffles the mention table twice; a
    single groupBy + per-turn pair expansion shuffles it once and the pair
    expansion stays JVM-side (entities per turn are few). Output columns:
    (conv_id, turn_idx, ca, la, cb, lb) with ca < cb.
    """
    ents = F.array_distinct(
        F.collect_list(F.struct(F.col("canonical_id").alias("c"), F.col("input_label").alias("l")))
    )
    per_turn = linked.groupBy("conv_id", "turn_idx").agg(ents.alias("ents"))
    pairs = _pairwise()
    exploded = per_turn.select("conv_id", "turn_idx", F.explode(pairs).alias("p")).filter(
        F.col("p.a.c") != F.col("p.b.c")
    )
    a_first = F.col("p.a.c") < F.col("p.b.c")
    return exploded.select(
        "conv_id",
        "turn_idx",
        F.when(a_first, F.col("p.a.c")).otherwise(F.col("p.b.c")).alias("ca"),
        F.when(a_first, F.col("p.a.l")).otherwise(F.col("p.b.l")).alias("la"),
        F.when(a_first, F.col("p.b.c")).otherwise(F.col("p.a.c")).alias("cb"),
        F.when(a_first, F.col("p.b.l")).otherwise(F.col("p.a.l")).alias("lb"),
    )


def _bc(mapping: DataFrame):
    """Broadcast hint ONLY for maps known to be driver-sized (canonicalize's
    fast path tags them). Distinct-surface cardinality is unbounded in an
    open corpus — force-broadcasting a multi-billion-row map from the
    distributed component path would OOM the driver / hit Spark's broadcast
    table limit, so untagged maps go through a plain equi-join and AQE still
    broadcasts them when the runtime size allows."""
    return F.broadcast(mapping) if getattr(mapping, "_driver_sized", False) else mapping


def link_mentions(mentions: DataFrame, threshold: float = 0.35, mapping: DataFrame | None = None) -> DataFrame:
    """Attach canonical ids to every mention row (broadcast join when the
    map is known driver-sized, AQE-decided otherwise)."""
    if mapping is None:
        mapping = canonicalize(mentions, threshold)
    withkey = mentions.withColumn("nkey", normalize_surface(F.col("surface")))
    return withkey.join(_bc(mapping), "nkey", "left").withColumn(
        "canonical_id", F.coalesce(F.col("canonical_id"), F.col("nkey"))
    )
