"""Extraction + linking + connected-components tests."""

import re

import pytest
from pyspark.sql import functions as F

from biocypher_spark.extract import DEFAULT_PATTERNS, extract_mentions, normalize_surface
from biocypher_spark.linking import canonicalize, link_mentions
from biocypher_spark.operators.components import connected_components
from biocypher_spark.transcripts import generate_transcripts


@pytest.fixture(scope="module")
def transcripts(spark):
    return generate_transcripts(spark, 2000).cache()


def test_transcripts_shape(transcripts):
    assert transcripts.columns == ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    assert transcripts.count() == 2000
    # (conv_id, turn_idx) unique + stable
    assert transcripts.select("conv_id", "turn_idx").distinct().count() == 2000
    # hot-key skew present
    hot = transcripts.filter(F.col("conv_id").startswith("hot")).count()
    assert hot == 2000 * 4 // 20
    # ts monotone within conversation
    from pyspark.sql import Window

    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    bad = (
        transcripts.withColumn("_prev", F.lag("ts").over(w))
        .filter(F.col("_prev").isNotNull() & (F.col("ts") <= F.col("_prev")))
        .count()
    )
    assert bad == 0


def test_transcripts_deterministic_across_parallelism(spark):
    a = generate_transcripts(spark, 500, partitions=2).orderBy("conv_id", "turn_idx").collect()
    b = generate_transcripts(spark, 500, partitions=7).orderBy("conv_id", "turn_idx").collect()
    assert a == b


def test_extract_mentions_per_label(transcripts):
    # each label's rows are exactly that label's own matches, numbered in
    # match order per turn (the default patterns read the same in Python)
    got = sorted(tuple(r) for r in extract_mentions(transcripts).collect())
    want = sorted(
        (r["conv_id"], r["turn_idx"], label, m.group(), pos)
        for r in transcripts.select("conv_id", "turn_idx", "text").collect()
        for label, pat in DEFAULT_PATTERNS.items()
        for pos, m in enumerate(re.finditer(pat, r["text"] or ""))
    )
    assert got == want
    assert {w[2] for w in want} == {"protein", "disease"}


def test_text_never_mutated(transcripts):
    # per-turn text equality invariant: extraction does not alter source rows
    before = transcripts.orderBy("conv_id", "turn_idx").select("text").collect()
    extract_mentions(transcripts).count()
    after = transcripts.orderBy("conv_id", "turn_idx").select("text").collect()
    assert before == after


def test_connected_components(spark):
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("d", "e"), ("f", "f")], ["src", "dst"]
    )
    comp = {r["node"]: r["comp"] for r in connected_components(edges).collect()}
    assert comp["a"] == comp["b"] == comp["c"] == "a"
    assert comp["d"] == comp["e"] == "d"
    assert comp["f"] == "f"


def test_canonicalize_variants(spark, transcripts):
    mentions = extract_mentions(transcripts)
    linked = link_mentions(mentions)
    # all three surface variants of protein 7 share one canonical id
    ids = (
        linked.filter(F.col("surface").isin("PROT7", "prot-7", "Protein 7"))
        .select("canonical_id")
        .distinct()
        .collect()
    )
    assert len(ids) == 1
    # distinct canonical protein ids == distinct protein entities mentioned
    n_canon = (
        linked.filter(F.col("input_label") == "protein").select("canonical_id").distinct().count()
    )
    truth = (
        mentions.filter(F.col("input_label") == "protein")
        .select(F.regexp_extract("surface", r"(\d+)$", 1).alias("k"))
        .distinct()
        .count()
    )
    assert n_canon == truth


def test_normalize_surface_equals_lowercase_key_for_every_code_point(spark):
    """The blocking key maps case without ``lower``, yet equals the
    ``lower``-based key (the one the DuckDB oracle SQL of
    ``kg_canonicalize_blocking`` computes) for every Unicode scalar value,
    each set between ASCII letters of both cases."""
    # UTF-32 text "aB<code point>Zy": a leading BOM-like U+FEFF stays a
    # character because it is not the first one
    utf32 = F.concat(F.lit("0000006100000042"), F.lpad(F.hex("id"), 8, "0"), F.lit("0000005A00000079"))
    surfaces = (
        spark.range(0x110000)
        .filter(~F.col("id").between(0xD800, 0xDFFF))
        .select(F.decode(F.unhex(utf32), "UTF-32").alias("s"))
    )
    s = F.col("s")
    lowercase_key = F.regexp_replace(F.lower(s), "[^a-z0-9]", "")
    row = surfaces.select(
        F.count("*").alias("n"),
        F.count(F.when(F.length(s) != 5, 1)).alias("malformed"),
        F.count(F.when(~normalize_surface(s).eqNullSafe(lowercase_key), 1)).alias("mismatches"),
        F.collect_set(F.when(~normalize_surface(s).eqNullSafe(lowercase_key), s)).alias("examples"),
    ).first()
    assert (row["n"], row["malformed"]) == (1_112_064, 0)
    assert row["mismatches"] == 0, row["examples"][:10]


def test_prefix_filter_candidates_superset(spark, transcripts):
    """Prefix filtering must retain every pair the scorer would accept:
    cluster assignments must match the coarse-block path on this corpus."""
    from pyspark.sql import functions as F

    from biocypher_spark.extract import extract_mentions, normalize_surface
    from biocypher_spark.linking import candidate_pairs_prefix, score_pairs

    mentions = extract_mentions(transcripts)
    surfaces = mentions.select(normalize_surface(F.col("surface")).alias("nkey")).distinct()
    pairs = candidate_pairs_prefix(surfaces, threshold=0.35)
    accepted = score_pairs(pairs, 0.35)
    got = {(r["ka"], r["kb"]) for r in accepted.collect()}
    # all three variants of each entity must be pairwise reachable
    assert ("prot7", "protein7") in got


def test_canonicalize_local_matches_distributed(spark):
    """The zero-Spark-job driver path must produce the identical canonical
    map as the distributed blocking + scoring + CC path."""
    import random

    rng = random.Random(7)
    surfaces = (
        [f"prot{i}" for i in range(80)]
        + [f"protein{i}" for i in range(80)]
        + ["".join(rng.choice("abcdefghij") for _ in range(6)) for _ in range(200)]
    )
    mentions = spark.createDataFrame([(s,) for s in surfaces], "surface string")
    local = {
        r["nkey"]: r["canonical_id"]
        for r in canonicalize(mentions, driver_cc_threshold=100_000).collect()
    }
    dist = {
        r["nkey"]: r["canonical_id"]
        for r in canonicalize(mentions, driver_cc_threshold=1).collect()
    }
    assert local == dist


def test_canonicalize_local_hot_block_matches(spark):
    """Digitless hot block (> max_block_size) reroutes through the prefix
    filter identically on both paths."""
    def word(i):
        digits = [(i // 23**k) % 23 for k in range(3)]
        return "s" + "".join(chr(97 + d) for d in digits)

    mentions = spark.createDataFrame([(word(i),) for i in range(300)], "surface string")
    local = {
        r["nkey"]: r["canonical_id"]
        for r in canonicalize(mentions, driver_cc_threshold=100_000, max_block_size=100).collect()
    }
    dist = {
        r["nkey"]: r["canonical_id"]
        for r in canonicalize(mentions, driver_cc_threshold=1, max_block_size=100).collect()
    }
    assert local == dist


def _one_turn(spark, text):
    return spark.createDataFrame(
        [("c1", 0, "user", text, None, None)],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )


def test_extract_mentions_caller_pattern_with_capturing_group(spark):
    """A user pattern with its own capturing group still yields the whole
    match as the surface, not the group."""
    out = extract_mentions(_one_turn(spark, "gene-12 and GEN7 here"), patterns={"gene": r"(GEN|gene-)\d+"})
    got = sorted(r["surface"] for r in out.collect())
    assert got == ["GEN7", "gene-12"]


def test_extract_mentions_m_pos_and_null_text(spark):
    """m_pos counts occurrences per (turn, label) in match order; null and
    empty text rows yield no mention rows without erroring."""
    from biocypher_spark.extract import extract_mentions

    df = spark.createDataFrame(
        [
            ("c1", 0, "user", "PROT1 then DIS2 then PROT3 then PROT1", None, None),
            ("c1", 1, "user", None, None, None),
            ("c1", 2, "user", "", None, None),
        ],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    rows = sorted(
        (r["turn_idx"], r["input_label"], r["surface"], r["m_pos"])
        for r in extract_mentions(df).collect()
    )
    assert rows == [
        (0, "disease", "DIS2", 0),
        (0, "protein", "PROT1", 0),
        (0, "protein", "PROT1", 2),
        (0, "protein", "PROT3", 1),
    ]


def test_prefix_candidates_custom_key_col(spark):
    # the guarded big-block path forwards key_col; the prefix filter must
    # not assume the column is literally named 'nkey'
    from biocypher_spark.linking import candidate_pairs_prefix

    surfaces = spark.createDataFrame(
        [("prot1",), ("prot2",), ("prot11",)], "surface_norm string"
    )
    pairs = {
        (r["ka"], r["kb"])
        for r in candidate_pairs_prefix(surfaces, threshold=0.35, key_col="surface_norm").collect()
    }
    assert ("prot1", "prot2") in pairs


def test_prefix_length_filter_lossless(spark):
    # PPJoin length filter: a pair whose bigram-set sizes differ by more
    # than the threshold ratio can never reach Jaccard >= t, so it must be
    # pruned from the candidates; near-equal-size true pairs survive
    from biocypher_spark.linking import candidate_pairs_prefix, score_pairs

    surfaces = spark.createDataFrame(
        [("ab",), ("abcdefghijklmnopqrstuvwxyz",), ("abcdefghijklmnopqrstuvwxyy",)],
        "nkey string",
    )
    cand = candidate_pairs_prefix(surfaces, threshold=0.5)
    got = {(r["ka"], r["kb"]) for r in cand.collect()}
    # 1 bigram vs 25 bigrams: ratio 0.04 < 0.5 — pruned despite sharing 'ab'
    assert not any("ab" in p for p in got)
    assert ("abcdefghijklmnopqrstuvwxyy", "abcdefghijklmnopqrstuvwxyz") in got
    # and the filter is lossless w.r.t. the verified edge set
    assert score_pairs(cand, 0.5).count() == 1


def test_extraction_tolerates_null_turn_idx(spark):
    """A NULL turn_idx passes through: the mention keeps a NULL turn_idx."""
    from biocypher_spark.extract import extract_mentions

    rows = [
        ("c1", 0, "user", "PROT1 binds PROT2", "", None),
        ("c1", None, "user", "DIS3 mentioned here", "", None),
        ("c2", None, "user", "no entities at all", "", None),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    )
    flat = extract_mentions(df)
    got = {(r["conv_id"], r["turn_idx"], r["surface"]) for r in flat.collect()}
    assert ("c1", None, "DIS3") in got and ("c1", 0, "PROT1") in got


def test_extract_mentions_backreference_patterns(spark):
    """Patterns are Java regexes compiled per label, so numbered and named
    backreferences work beside other labels."""
    df = _one_turn(spark, "abc-abc and abc-abd, PROT1, x-x, k=k")
    patterns = {"protein": r"PROT\d+", "dup": r"(\w+)-\1", "assign": r"(?<w>\w+)=\k<w>"}
    rows = sorted((r["input_label"], r["surface"], r["m_pos"]) for r in extract_mentions(df, patterns).collect())
    assert rows == [
        ("assign", "k=k", 0),
        ("dup", "abc-abc", 0),
        ("dup", "x-x", 1),
        ("protein", "PROT1", 0),
    ]


def test_extract_mentions_overlapping_labels(spark):
    """Labels whose patterns match overlapping spans each report their own
    matches: a span one label claims is still seen by the others."""
    df = _one_turn(spark, "PROT12 binds DIS3")
    patterns = {"protein": r"PROT\d+", "any_id": r"[A-Z]+\d+", "digits": r"\d+"}
    rows = sorted((r["input_label"], r["m_pos"], r["surface"]) for r in extract_mentions(df, patterns).collect())
    assert rows == [
        ("any_id", 0, "PROT12"),
        ("any_id", 1, "DIS3"),
        ("digits", 0, "12"),
        ("digits", 1, "3"),
        ("protein", 0, "PROT12"),
    ]


def test_canonicalize_ignores_null_surfaces(spark):
    """A NULL surface gets no canonical mapping on BOTH the driver-local and
    distributed paths (previously the driver path crashed on None)."""
    from biocypher_spark.linking import canonicalize

    m = spark.createDataFrame(
        [("c1", 0, "protein", "PROT1"), ("c1", 0, "protein", None), ("c1", 1, "protein", "prot-1")],
        "conv_id string, turn_idx int, input_label string, surface string",
    )
    for thresh in (200_000, 0):  # driver path / distributed path
        out = canonicalize(m, driver_cc_threshold=thresh)
        keys = {r["nkey"] for r in out.collect()}
        assert None not in keys and "prot1" in keys


def test_schema_zip_fallback_on_corrupt_zip(tmp_path, monkeypatch):
    """A truncated py-files zip must fall through to the embedded schema."""
    import biocypher_spark.pipeline as pl

    bad = tmp_path / "biocypher_spark.zip"
    bad.write_bytes(b"not a zip archive")
    monkeypatch.setattr(pl, "DEFAULT_SCHEMA", str(bad) + "/config/transcripts_schema.yaml")
    mapping = pl.load_default_schema_mapping()
    assert mapping.extended_schema  # embedded DEFAULT_SCHEMA_DICT compiled
