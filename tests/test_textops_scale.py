"""Scale-path tests for the LLM-data-pipeline operators: banded minhash LSH,
64-bit simhash + Hamming banding, banded multi-table embedding LSH, guarded
candidate blocking, pointer-jumping connected components."""

import pytest
from pyspark.sql import functions as F

from biocypher_spark.linking import (
    candidate_pairs_guarded,
    candidate_pairs_prefix,
)
from biocypher_spark.operators.components import connected_components
from biocypher_spark.similarity import embedding_near_dup
from biocypher_spark.textops import (
    exact_dedup,
    minhash_banded_pairs,
    minhash_dedup,
    ngram_jaccard_pairs,
    simhash64,
    simhash_near_dup,
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
        (3, "the quick brown fox leaps over the lazy dog"),  # 1-token edit
        (4, "entirely different content about spark shuffles and joins"),
        (5, "entirely different content about spark shuffles and joins today"),
        (6, "unrelated short text"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string").cache()


def _brute_jaccard(rows, threshold):
    out = {}
    toks = {r["doc_id"]: set(r["text"].split(" ")) for r in rows}
    ids = sorted(toks)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            j = len(toks[a] & toks[b]) / len(toks[a] | toks[b])
            if j >= threshold:
                out[(a, b)] = round(j, 6)
    return out


def test_minhash_banded_exact_precision_and_dup_recall(docs):
    got = {(r["doc_a"], r["doc_b"]): r["jac"] for r in minhash_banded_pairs(docs, threshold=0.5).collect()}
    brute = _brute_jaccard(docs.collect(), 0.5)
    # precision is exact: every emitted pair is a true >=0.5 pair with the true score
    for pair, jac in got.items():
        assert pair in brute and abs(brute[pair] - jac) < 1e-6
    # exact duplicates always collide in every band -> guaranteed recall
    assert got[(1, 2)] == 1.0
    # banded recall dominates AND-only recall: any pair grouped by the
    # full-signature method shares all bands, hence is a banded candidate
    groups = minhash_dedup(docs).collect()
    by_rep = {}
    for r in groups:
        by_rep.setdefault(r["rep_id"], []).append(r["doc_id"])
    # a verify at threshold 0.0 keeps every banded candidate
    cand = {(r["doc_a"], r["doc_b"]) for r in minhash_banded_pairs(docs, threshold=0.0).collect()}
    for members in by_rep.values():
        members = sorted(members)
        for i, a in enumerate(members):
            for b in members[i + 1 :]:
                assert (a, b) in cand


def test_ngram_jaccard_shingle_pairs(docs):
    pairs = {(r["doc_a"], r["doc_b"]): r["jac"] for r in ngram_jaccard_pairs(docs, threshold=0.5).collect()}
    assert pairs[(1, 2)] == 1.0  # exact dup
    assert (1, 3) in pairs  # one-word edit keeps most 3-gram shingles
    assert all(j >= 0.5 for j in pairs.values())


def test_simhash64_shape_and_near_dup(docs):
    sh = {r["doc_id"]: r["simhash64"] for r in simhash64(docs).collect()}
    assert all(len(h) == 16 and set(h) <= set("0123456789abcdef") for h in sh.values())
    nd = {(r["doc_a"], r["doc_b"]): r["hamming"] for r in simhash_near_dup(docs, max_hamming=3).collect()}
    assert nd[(1, 2)] == 0  # identical text -> identical hash

    def ham(a, b):
        return bin(int(a, 16) ^ int(b, 16)).count("1")

    for (a, b), h in nd.items():
        assert h == ham(sh[a], sh[b]) and h <= 3


def test_simhash_keeps_null_and_empty_text_rows(spark):
    """Docs with null text (or no tokens) must still emit a row — the
    explode+groupBy shape would silently drop them (round-3 advice); the
    sentinel token maps them to the all-zero hash without a repair join."""
    from biocypher_spark.textops import simhash

    docs = spark.createDataFrame(
        [(1, "hello world"), (2, None), (3, "x")], "doc_id long, text string"
    )
    rows16 = {r["doc_id"]: r["simhash"] for r in simhash(docs).collect()}
    assert set(rows16) == {1, 2, 3}
    assert rows16[2] == 0
    rows64 = {r["doc_id"]: r["simhash64"] for r in simhash64(docs).collect()}
    assert set(rows64) == {1, 2, 3}
    assert rows64[2] == "0" * 16


def test_simhash_is_the_low_bits_of_simhash64(spark):
    """simhash is a projection of simhash64's vote sums: for every doc —
    null, empty and whitespace-only text included — its 16-bit int is
    simhash64's first four nibbles read low nibble first."""
    from biocypher_spark.textops import simhash

    texts = [None, "", " ", "   ", "x", "hello world", "a b a b c", "tail  gap ", "ünïcode ✓ 漢字"]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)]
        + [(100 + i, " ".join(f"w{(i * j) % 37}" for j in range(i % 9 + 1))) for i in range(60)],
        "doc_id long, text string",
    )
    h64 = {r["doc_id"]: r["simhash64"] for r in simhash64(docs).collect()}
    h16 = {r["doc_id"]: r["simhash"] for r in simhash(docs).collect()}
    assert set(h16) == set(h64) and len(h16) == docs.count()
    for doc_id, h in h64.items():
        assert h16[doc_id] == int(h[3] + h[2] + h[1] + h[0], 16), (doc_id, h, h16[doc_id])


def test_simhash_near_dup_excludes_tokenless_docs(spark):
    """Null / empty / whitespace-only docs each hash to one constant
    simhash; left in the banding they form a single degenerate bucket whose
    self-join (and true pair set) is quadratic in their count. They carry
    no content to be near-duplicate OF, so they are excluded from pairing —
    mirroring the banded-minhash empty-set exclusion."""
    docs = spark.createDataFrame(
        [(1, None), (2, None), (3, ""), (4, ""), (5, "   "), (6, "real content here"),
         (7, "real content here")],
        "doc_id long, text string",
    )
    pairs = {(r["doc_a"], r["doc_b"]) for r in simhash_near_dup(docs).collect()}
    assert pairs == {(6, 7)}  # no null-null / empty-empty / ws-ws pairs


def test_exact_dedup_hashed_key_equivalent(docs):
    by_hash = {(r["rep_id"], r["n"]) for r in exact_dedup(docs).collect()}
    by_text = {
        (r["rep_id"], r["n"])
        for r in docs.groupBy("text").agg(F.min("doc_id").alias("rep_id"), F.count(F.lit(1)).alias("n")).collect()
    }
    assert by_hash == by_text


def test_embedding_near_dup_banded(spark):
    import math

    def vec(seed, dims=64):
        return [math.sin(seed * 31 + i) for i in range(dims)]

    rows = [(0, vec(1)), (1, vec(1)), (2, vec(2)), (3, vec(3)), (4, vec(1))]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    pairs = {
        (r["va"], r["vb"]): r["cos"]
        for r in embedding_near_dup(emb, threshold=0.99, num_tables=4, planes_per_table=4).collect()
    }
    # identical vectors collide in every table and score 1.0
    assert pairs[(0, 1)] == 1.0 and pairs[(0, 4)] == 1.0 and pairs[(1, 4)] == 1.0
    assert all(c >= 0.99 for c in pairs.values())


def test_embedding_near_dup_bucket_cap_bounds_candidates(spark):
    # a degenerate corpus where EVERY vector is identical: all collide in all
    # buckets; with max_bucket_size=1 every bucket is oversized and dropped,
    # so the candidate set is empty — the cap bounds worst-case volume
    rows = [(i, [1.0] * 64) for i in range(50)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = embedding_near_dup(emb, threshold=0.0, num_tables=2, planes_per_table=2, max_bucket_size=1)
    assert out.count() == 0


def test_candidate_pairs_guarded_reroutes_hot_block(spark):
    # 300 diverse digitless surfaces sharing a first letter: the cheap key
    # would put all of them in ONE block (quadratic); the guard reroutes them
    # through the prefix filter, whose candidates match it exactly

    def word(i):  # "s" + base-23 letter digits -> diverse bigram sets
        digits = [(i // 23**k) % 23 for k in range(3)]
        return "s" + "".join(chr(97 + d) for d in digits)

    surfaces = spark.createDataFrame([(word(i),) for i in range(300)], "nkey string").distinct()
    guarded = candidate_pairs_guarded(surfaces, threshold=0.35, max_block_size=100)
    prefix = candidate_pairs_prefix(surfaces, threshold=0.35)
    g = {(r["ka"], r["kb"]) for r in guarded.collect()}
    p = {(r["ka"], r["kb"]) for r in prefix.collect()}
    assert g == p
    n = surfaces.count()
    assert len(g) < n * (n - 1) / 2  # strictly sub-quadratic


def test_candidate_pairs_guarded_small_blocks_unchanged(spark):
    """Below max_block_size the guarded generator emits exactly the pairs of
    distinct keys that share a cheap block key."""
    from biocypher_spark.linking import _cheap_block_py

    keys = [f"prot{i}" for i in range(40)] + ["proteinalpha", "proteinalphax"]
    surfaces = spark.createDataFrame([(k,) for k in keys], "nkey string")
    guarded = {(r["ka"], r["kb"]) for r in candidate_pairs_guarded(surfaces, max_block_size=100).collect()}
    cheap = {(a, b) for a in keys for b in keys if a < b and _cheap_block_py(a) == _cheap_block_py(b)}
    assert guarded == cheap


def test_connected_components_long_chain(spark):
    # 30-node chain (diameter 29): one-hop propagation would need 29 rounds;
    # pointer jumping converges well inside max_iter=25 and returns ONE component
    edges = spark.createDataFrame(
        [(f"n{i:02d}", f"n{i + 1:02d}") for i in range(29)], "src string, dst string"
    )
    comp = connected_components(edges, max_iter=25, driver_threshold=0).collect()
    assert len(comp) == 30
    assert {r["comp"] for r in comp} == {"n00"}


def test_connected_components_nonconvergence_raises(spark):
    edges = spark.createDataFrame(
        [(f"n{i:02d}", f"n{i + 1:02d}") for i in range(29)], "src string, dst string"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, max_iter=2, driver_threshold=0)


def test_ivf_assign_and_topk(spark):
    """IVF: every vector lands in its max-cosine centroid's list; topk over
    the probed lists equals brute force restricted to those lists."""
    import math

    from biocypher_spark.similarity import cosine_topk, ivf_assign, ivf_topk

    def vec(seed, dims=16):
        return [math.sin(seed * 17 + i) for i in range(dims)]

    rows = [(i, vec(i % 5)) for i in range(40)]  # 5 natural clusters
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    assign = {r["vec_id"]: r["cluster"] for r in ivf_assign(emb, n_centroids=4).collect()}
    # identical vectors (same seed) share a cluster
    for i in range(5, 40):
        assert assign[i] == assign[i - 5]  # vec depends only on seed % 5
    # probing ALL centroids == brute force
    full = ivf_topk(emb, query_vec_id=7, k=5, n_centroids=4, nprobe=4).collect()
    brute = cosine_topk(emb, query_vec_id=7, k=5).collect()
    assert [(r["vec_id"], r["cos"]) for r in full] == [(r["vec_id"], r["cos"]) for r in brute]
    # nprobe=1 returns only vectors from the query's own cluster
    near = ivf_topk(emb, query_vec_id=7, k=5, n_centroids=4, nprobe=1).collect()
    assert all(assign[r["vec_id"]] == assign[7] for r in near)


def test_ivf_trained_centroids(spark):
    """Lloyd's training actually trains: trained centroids differ from the
    lowest-vec_id seed, change at least one assignment on a corpus built to
    confound the seed, and assignments with trained centroids are exactly
    the k natural clusters."""
    import math

    from biocypher_spark.similarity import (
        _collect_centroids,
        ivf_assign,
        ivf_topk,
        train_ivf_centroids,
    )

    def vec(seed, jitter, dims=16):
        return [math.sin(seed * 17 + i) + 0.05 * math.sin(jitter * 7 + i) for i in range(dims)]

    # 3 natural clusters, but the 4 lowest vec_ids all come from cluster 0,
    # so the untrained seed puts 4 centroids inside one cluster
    rows = [(i, vec(0, i)) for i in range(10)]
    rows += [(100 + i, vec(1, i)) for i in range(10)]
    rows += [(200 + i, vec(2, i)) for i in range(10)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    seed_cents = _collect_centroids(emb, 3, "embedding")
    trained = train_ivf_centroids(emb, n_centroids=3, iterations=4)
    assert trained != seed_cents  # it actually moved
    untrained = {r["vec_id"]: r["cluster"] for r in ivf_assign(emb, n_centroids=3).collect()}
    with_trained = {
        r["vec_id"]: r["cluster"] for r in ivf_assign(emb, cents=trained).collect()
    }
    assert untrained != with_trained
    # trained quantizer separates the three natural clusters exactly
    groups = {}
    for vid, cl in with_trained.items():
        groups.setdefault(vid // 100, set()).add(cl)
    assert all(len(s) == 1 for s in groups.values())
    assert len({next(iter(s)) for s in groups.values()}) == 3
    # injecting the same centroids into topk probes consistently
    near = ivf_topk(emb, query_vec_id=105, k=3, nprobe=1, cents=trained).collect()
    assert all(100 <= r["vec_id"] < 200 for r in near)


def test_connected_components_driver_path_matches_distributed(spark):
    edges = spark.createDataFrame(
        [(f"n{i:02d}", f"n{(i * 7) % 40:02d}") for i in range(40)] + [("x1", "x2")],
        "src string, dst string",
    )
    fast = {r["node"]: r["comp"] for r in connected_components(edges).collect()}
    dist = {r["node"]: r["comp"] for r in connected_components(edges, driver_threshold=0).collect()}
    assert fast == dist


def test_near_dup_ops_on_empty_inputs(spark):
    """Empty corpora: every near-dup operator returns an empty frame, no errors."""
    docs = spark.createDataFrame([], "doc_id long, text string")
    assert minhash_banded_pairs(docs).count() == 0
    assert ngram_jaccard_pairs(docs).count() == 0
    assert simhash_near_dup(docs).count() == 0
    emb = spark.createDataFrame([], "vec_id long, embedding array<double>")
    assert embedding_near_dup(emb, num_tables=2, planes_per_table=2).count() == 0


def test_winnow_fingerprints_shared_substring(spark):
    """Winnowing guarantee: documents sharing a substring of length
    >= k + window - 1 share at least one fingerprint."""
    from biocypher_spark.textops import winnow_fingerprints

    shared = "the common boilerplate passage that was copied verbatim"
    rows = [
        (1, f"intro text one. {shared} and then more."),
        (2, f"completely different opening. {shared} different close."),
        (3, "no overlap whatsoever in this short document body here"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    fps = {}
    for r in winnow_fingerprints(docs).collect():
        fps.setdefault(r["doc_id"], set()).add(r["fp"])
    assert fps[1] & fps[2], "shared substring must yield a shared fingerprint"
    # sanity: fingerprints are bounded ints
    assert all(0 <= f < 1 << 20 for s in fps.values() for f in s)


def test_winnow_fingerprints_unicode_no_overflow(spark):
    """CJK/emoji/currency codepoints must not overflow the polynomial hash
    (regression: ascii() is int32; codepoint * 31^4 aborted the job under
    ANSI arithmetic before the long cast)."""
    from biocypher_spark.textops import winnow_fingerprints

    rows = [(1, "hello 世界 and €uro signs in a document 🙂 long enough")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    fps = winnow_fingerprints(docs).collect()
    assert fps and all(0 <= r["fp"] < 1 << 20 for r in fps)


def test_band_candidates_skip_empty_element_docs(spark):
    """Docs with empty shingle sets must not form a degenerate all-NULL
    band bucket (which would self-join quadratically)."""
    rows = [(i, "ab") for i in range(50)] + [(100, "same long text"), (101, "same long text")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    # a verify at threshold 0.0 keeps every banded 3-shingle candidate
    cand = ngram_jaccard_pairs(docs, threshold=0.0, n=3)
    got = {(r["doc_a"], r["doc_b"]) for r in cand.collect()}
    assert got == {(100, 101)}  # none of the 50 sub-n-char docs pair up


def test_pii_scrub(spark):
    from biocypher_spark.textops import pii_scrub

    rows = [
        (1, "mail me at jane.doe+x@corp.io or call 415-555-1234 from 192.168.0.1 ok"),
        (2, "nothing sensitive here at all"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in pii_scrub(docs).collect()}
    assert (out[1]["n_email"], out[1]["n_phone"], out[1]["n_ip"]) == (1, 1, 1)
    assert out[1]["scrubbed"] == "mail me at [EMAIL] or call [PHONE] from [IP] ok"
    assert (out[2]["n_email"], out[2]["n_phone"], out[2]["n_ip"]) == (0, 0, 0)
    assert out[2]["scrubbed"] == "nothing sensitive here at all"


def test_repetition_signals(spark):
    from biocypher_spark.textops import repetition_signals

    rows = [
        (1, "a b a b a b"),      # bigrams: ab ba ab ba ab -> 2 distinct of 5
        (2, "all words unique here"),
        (3, "x\nx\ny"),           # 2 distinct lines of 3
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in repetition_signals(docs).collect()}
    assert out[1]["dup_word_2gram_frac"] == 0.6
    assert out[2]["dup_word_2gram_frac"] == 0.0
    assert abs(out[3]["dup_line_frac"] - 1 / 3) < 1e-6


def test_contamination_check(spark):
    from biocypher_spark.textops import contamination_check

    rows = [(1, "the quick brown fox"), (2, "clean text entirely")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r["contaminated"] for r in contamination_check(docs, ["brown fox", "zzz"]).collect()}
    assert out == {1: True, 2: False}
    # a long probe list still plans (the OR of contains terms is balanced)
    many = [f"probe{i}" for i in range(1200)] + ["entirely"]
    out = {r["doc_id"]: r["contaminated"] for r in contamination_check(docs, many).collect()}
    assert out == {1: False, 2: True}


def test_contamination_join_equals_literal_path(spark):
    """The large-probe semi-join path and the inlined-literal fast path are
    the same screen: identical (doc_id, contaminated) on the same probes,
    including mixed probe lengths and probe-free corpora."""
    from biocypher_spark.textops import contamination_check, contamination_join

    rows = [
        (1, "the quick brown fox jumps"),
        (2, "clean text entirely"),
        (3, "short"),
        (4, "brown fox at a boundary brown fo"),
        (5, "xbrown foxx embedded"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    probes = ["brown fox", "zzz", "short", "jumps"]
    probes_df = spark.createDataFrame([(p,) for p in probes], "probe string")
    literal = {r["doc_id"]: r["contaminated"] for r in contamination_check(docs, probes).collect()}
    joined = {r["doc_id"]: r["contaminated"] for r in contamination_join(docs, probes_df).collect()}
    assert literal == joined
    assert literal == {1: True, 2: False, 3: True, 4: True, 5: True}
    # a filter on the flag plans and binds (no join for Catalyst to push it into)
    hits = {r["doc_id"] for r in contamination_join(docs, probes_df).filter("contaminated").collect()}
    assert hits == {1, 3, 4, 5}
    # empty probe table: nothing is contaminated, no explode runs
    empty = spark.createDataFrame([], "probe string")
    out = {r["doc_id"]: r["contaminated"] for r in contamination_join(docs, empty).collect()}
    assert out == {i: False for i in range(1, 6)}


def test_stratified_sample_deterministic_rates(spark):
    from biocypher_spark.textops import stratified_sample

    rows = [(i, "en" if i % 2 == 0 else "de", f"text {i}") for i in range(2000)]
    docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    out = stratified_sample(docs, {"en": 0.25, "de": 1.0})
    counts = {r["lang"]: r["count"] for r in out.groupBy("lang").count().collect()}
    assert counts["de"] == 1000  # rate 1.0 keeps everything
    assert 150 < counts["en"] < 350  # ~25% of 1000
    # deterministic: same selection every run
    first = {r["doc_id"] for r in out.collect()}
    second = {r["doc_id"] for r in stratified_sample(docs, {"en": 0.25, "de": 1.0}).collect()}
    assert first == second
    # stratum missing from rates drops entirely
    none_kept = stratified_sample(docs, {"fr": 1.0}).count()
    assert none_kept == 0
    # monotone: raising a rate only ADDS rows (hash-cut property)
    bigger = {r["doc_id"] for r in stratified_sample(docs, {"en": 0.5, "de": 1.0}).collect()}
    assert first <= bigger


def test_neardup_cluster_representatives(spark):
    """Pairs -> components -> cluster ids: near-identical docs share a
    cluster, the representative is the min doc_id."""
    from biocypher_spark.operators.components import connected_components
    from biocypher_spark.textops import minhash_banded_pairs

    base = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [
        (1, base), (2, base + " iota"), (3, base + " kappa"),
        (10, "completely different content with other words entirely"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = minhash_banded_pairs(docs, threshold=0.5)
    comp = connected_components(pairs.select("doc_a", "doc_b"), src="doc_a", dst="doc_b")
    clusters = {r["node"]: r["comp"] for r in comp.collect()}
    assert clusters[1] == clusters[2] == clusters[3] == 1
    assert 10 not in clusters  # singleton: no pair membership


def test_repetition_zero_bigram_docs_score_zero(spark):
    """Single-token / empty docs have no bigrams -> NO repetition evidence
    (regression: 1 - 0/1 scored them 1.0, the maximal-repetition value)."""
    from biocypher_spark.textops import repetition_signals

    docs = spark.createDataFrame([(1, "hello"), (2, "")], "doc_id long, text string")
    out = {r["doc_id"]: r["dup_word_2gram_frac"] for r in repetition_signals(docs).collect()}
    assert out == {1: 0.0, 2: 0.0}


def test_vocab_and_length_stats(spark):
    from biocypher_spark.textops import length_stats, vocab_topk

    rows = [
        (1, "en", "a b b c"),
        (2, "en", "a c  d"),  # double space -> empty token, must be dropped
        (3, "de", "a"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    vocab = [(r["token"], r["doc_freq"]) for r in vocab_topk(docs, k=10).collect()]
    # document frequency (not term frequency: doc 1's double 'b' counts once);
    # ties break alphabetically
    assert vocab == [("a", 3), ("c", 2), ("b", 1), ("d", 1)]
    stats = {r["lang"]: r for r in length_stats(docs).collect()}
    assert stats["de"]["n_docs"] == 1 and stats["de"]["avg_tokens"] == 1.0
    assert stats["en"]["min_tokens"] == 4 and stats["en"]["max_tokens"] == 4


def test_cross_corpus_dedup(spark):
    """Exact and near cross-corpus screens: exact flags only identical
    text; near also flags a one-token rewrite; unrelated docs stay clean."""
    from biocypher_spark.textops import exact_dedup_against, near_dedup_against

    base = " ".join(f"tok{i}" for i in range(20))
    reference = spark.createDataFrame(
        [(100, base), (101, "reference only content here")],
        "doc_id long, text string",
    )
    crawl = spark.createDataFrame(
        [(1, base),                                   # exact dup
         (2, base.replace("tok7", "changed")),        # 1-token rewrite: J = 19/21
         (3, "entirely new material about spark")],
        "doc_id long, text string",
    )
    exact = {r["doc_id"]: r["dup_of_ref"] for r in exact_dedup_against(crawl, reference).collect()}
    assert exact == {1: True, 2: False, 3: False}
    near = {
        r["doc_id"]: r["dup_of_ref"]
        for r in near_dedup_against(crawl, reference, threshold=0.8).collect()
    }
    assert near == {1: True, 2: True, 3: False}


# ---------------------------------------------------------------------------
# clean_corpus: the composed hygiene pipeline
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def hygiene_docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog and keeps running onward today"),
        (2, "the quick brown fox jumps over the lazy dog and keeps running onward today"),  # exact dup of 1
        (3, "the quick brown fox jumps over the lazy dog and keeps running onward now"),  # near dup of 1
        (4, "a completely distinct clean document about spark shuffle partitioning strategies"),
        (5, "this document quotes the secret benchmark answer verbatim for testing purposes"),  # contaminated
        (6, "!!! ??? ,,, ;;; ..."),  # punctuation-only -> low quality
        (7, "another clean and unique document describing broadcast joins in catalyst"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string").cache()


def test_clean_corpus_reasons_and_keeps(hygiene_docs):
    from biocypher_spark.textops import clean_corpus

    flags = clean_corpus(
        hygiene_docs,
        near_threshold=0.8,
        probes=["secret benchmark answer"],
        quality_min=0.05,
    )
    got = {r["doc_id"]: (r["keep"], r["drop_reason"]) for r in flags.collect()}
    assert got == {
        1: (True, None),
        2: (False, "exact_dup"),
        3: (False, "near_dup"),
        4: (True, None),
        5: (False, "contaminated"),
        6: (False, "low_quality"),
        7: (True, None),
    }
    # one audit row per input doc, always
    assert flags.count() == hygiene_docs.count()


def test_clean_corpus_reason_priority_is_pipeline_order(spark):
    # a doc that is an exact dup AND contaminated reports exact_dup: later
    # stages only see prior survivors
    from biocypher_spark.textops import clean_corpus

    rows = [
        (1, "the secret benchmark answer appears here"),
        (2, "the secret benchmark answer appears here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["drop_reason"] for r in clean_corpus(
        df, near_threshold=None, probes=["secret benchmark answer"], quality_min=None
    ).collect()}
    assert got == {1: "contaminated", 2: "exact_dup"}


def test_clean_corpus_matches_individual_operators(hygiene_docs):
    # composition equivalence: the keep set equals what the single-purpose
    # operators produce when chained by hand
    from biocypher_spark.textops import (
        clean_corpus,
        contamination_check,
        hygiene_report,
        minhash_banded_pairs,
        text_profile,
    )

    kept = {r["doc_id"] for r in clean_corpus(
        hygiene_docs, near_threshold=0.8, probes=["secret benchmark answer"], quality_min=0.05
    ).filter("keep").collect()}

    rows = hygiene_docs.collect()
    by_text = {}
    for r in sorted(rows, key=lambda r: r["doc_id"]):
        by_text.setdefault(r["text"], r["doc_id"])
    exact_reps = set(by_text.values())
    surv1 = hygiene_docs.filter(F.col("doc_id").isin(*exact_reps))
    pairs = minhash_banded_pairs(surv1, threshold=0.8).collect()
    # true connected-components min-representative semantics ({max(pair)}
    # only coincides with CC on triangle-closed clusters)
    import networkx as nx

    g = nx.Graph()
    g.add_nodes_from(exact_reps)
    g.add_edges_from((p["doc_a"], p["doc_b"]) for p in pairs)
    near_drops = {n for c in nx.connected_components(g) for n in c if n != min(c)}
    surv2 = surv1.filter(~F.col("doc_id").isin(*near_drops) if near_drops else F.lit(True))
    cont = {r["doc_id"] for r in contamination_check(surv2, ["secret benchmark answer"]).filter("contaminated").collect()}
    surv3 = surv2.filter(~F.col("doc_id").isin(*cont) if cont else F.lit(True))
    lowq = {r["doc_id"] for r in text_profile(surv3).filter(F.col("score") < 0.05).collect()}
    expected = {r["doc_id"] for r in surv3.collect()} - lowq
    assert kept == expected

    report = {r["outcome"]: r["n"] for r in hygiene_report(clean_corpus(
        hygiene_docs, near_threshold=0.8, probes=["secret benchmark answer"], quality_min=0.05
    )).collect()}
    assert report == {"kept": 3, "exact_dup": 1, "near_dup": 1, "contaminated": 1, "low_quality": 1}


def test_clean_corpus_stages_optional(hygiene_docs):
    from biocypher_spark.textops import clean_corpus

    flags = clean_corpus(hygiene_docs, near_threshold=None, probes=None, quality_min=None)
    got = {r["doc_id"]: r["drop_reason"] for r in flags.filter("NOT keep").collect()}
    assert got == {2: "exact_dup"}


@pytest.fixture(scope="module")
def cq_docs(spark):
    rows = [
        (1, "a clean and perfectly ordinary document about spark shuffle partitioning strategies"),
        (2, "a clean and perfectly ordinary document about spark shuffle partitioning strategies"),
        (3, "this document quotes the secret benchmark answer verbatim for testing purposes"),
        (4, "!!! secret benchmark answer ???"),  # contaminated AND low quality
        (5, "!!! ??? ,,, ;;; ..."),  # low quality
        (6, None),  # null text: never contaminated, below any quality floor
        (7, "another clean and unique document describing broadcast joins in catalyst"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string").cache()


_PROBE = "secret benchmark answer"
# non-matching padding of two lengths: > _PROBE_SCAN_MAX rows force the
# gram semi-join
_PAD = [f"zq{i:02d}" for i in range(40)] + [f"qzzq{i:03d}" for i in range(40)]
_CQ_EXPECTED = {
    # doc 4 is contaminated and low quality: first match reports contaminated
    "probes+quality": {1: None, 2: "exact_dup", 3: "contaminated", 4: "contaminated",
                       5: "low_quality", 6: "low_quality", 7: None},
    "probes": {1: None, 2: "exact_dup", 3: "contaminated", 4: "contaminated",
               5: None, 6: None, 7: None},
    "quality": {1: None, 2: "exact_dup", 3: None, 4: "low_quality",
                5: "low_quality", 6: "low_quality", 7: None},
}
# an empty-string probe marks every doc contaminated, null text included
_EMPTY_PROBE_EXPECTED = {i: "exact_dup" if i == 2 else "contaminated" for i in range(1, 8)}


@pytest.mark.parametrize(
    "form,config",
    [(form, config) for form in ("list", "small_df", "gram_df", "empty_string_df")
     for config in ("probes+quality", "probes")] + [(None, "quality")],
)
def test_clean_corpus_same_audit_for_every_probe_form(spark, cq_docs, monkeypatch, form, config):
    """Every probe form gives the same audit frame, and the probe table's
    strategy is decided by one _probe_stats pass."""
    from biocypher_spark import textops

    probe_rows = {
        "list": [_PROBE],
        "small_df": [_PROBE],
        "gram_df": [_PROBE] + _PAD,
        "empty_string_df": ["", "zzz"],
        None: None,
    }[form]
    probes = probe_rows
    if form is not None and form.endswith("_df"):
        probes = spark.createDataFrame([(p,) for p in probe_rows], "probe string")
    stats_calls = []
    real_stats = textops._probe_stats
    monkeypatch.setattr(
        textops, "_probe_stats", lambda *a, **k: stats_calls.append(1) or real_stats(*a, **k)
    )
    flags = textops.clean_corpus(
        cq_docs,
        near_threshold=None,
        probes=probes if config != "quality" else None,
        quality_min=0.05 if config != "probes" else None,
    )
    rows = flags.collect()
    expected = _EMPTY_PROBE_EXPECTED if form == "empty_string_df" else _CQ_EXPECTED[config]
    assert len(rows) == len(expected)
    assert {r["doc_id"]: (r["keep"], r["drop_reason"]) for r in rows} == {
        d: (reason is None, reason) for d, reason in expected.items()
    }
    assert len(stats_calls) <= 1


def test_star_edges_linear_on_dup_clusters(spark):
    # a cluster of k mutual dups: all-pairs emits k(k-1)/2, star emits k-1
    # (a verify at threshold 0.0 keeps every candidate edge of each mode)
    from biocypher_spark.textops import minhash_star_near_dup_edges

    k = 10
    rows = [(i, "alpha beta gamma delta epsilon zeta eta theta") for i in range(k)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    assert minhash_banded_pairs(df, threshold=0.0).count() == k * (k - 1) // 2
    star = minhash_star_near_dup_edges(df, threshold=0.0).collect()
    assert len(star) == k - 1
    assert all(r["doc_a"] == 0 for r in star)  # hub = bucket min


def test_star_clustering_matches_pairs_on_near_dup_cluster(spark, docs):
    # on the shared fixture the verified star clustering merges exactly the
    # same components as the all-pairs clustering (dup clusters all verify
    # against their hub)
    from biocypher_spark.operators.components import connected_components
    from biocypher_spark.textops import minhash_banded_pairs, minhash_star_near_dup_edges

    def clusters(pairs_df):
        comp = connected_components(pairs_df.select("doc_a", "doc_b"), src="doc_a", dst="doc_b")
        return {(r["node"], r["comp"]) for r in comp.collect()}

    assert clusters(minhash_star_near_dup_edges(docs, threshold=0.5)) == clusters(
        minhash_banded_pairs(docs, threshold=0.5)
    )


def test_clean_corpus_star_mode(hygiene_docs, monkeypatch):
    """The perfbench-shaped call also pins exactly 4 frames: the exact
    drops, the star path's hashed-set and signature tables, and the star
    candidates. The near-dup drops (read off the components frame) and the
    last stage's drops (one consumer) are not pinned."""
    from biocypher_spark import textops

    pinned = []
    real = textops.materialize
    monkeypatch.setattr(textops, "materialize", lambda df: pinned.append(df) or real(df))
    got = {r["doc_id"]: r["drop_reason"] for r in textops.clean_corpus(
        hygiene_docs, near_threshold=0.8, probes=["secret benchmark answer"],
        quality_min=0.05, near_mode="star",
    ).collect()}
    assert got == {1: None, 2: "exact_dup", 3: "near_dup", 4: None,
                   5: "contaminated", 6: "low_quality", 7: None}
    assert len(pinned) == 4


def test_clean_corpus_empty_and_null_text(spark):
    # empty-string docs must not abort the job (ANSI DIVIDE_BY_ZERO in the
    # quality stage) and null-text docs must not bypass the quality floor
    # via a NULL score
    from biocypher_spark.textops import clean_corpus

    rows = [(1, "a perfectly normal document with plenty of reasonable words here"),
            (2, ""), (3, None)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: (r["keep"], r["drop_reason"]) for r in clean_corpus(
        df, near_threshold=0.9, probes=None, quality_min=0.05
    ).collect()}
    assert got[1] == (True, None)
    assert got[2] == (False, "low_quality")  # scores 0.01 under the guard
    assert got[3] == (False, "low_quality")  # NULL score -> below any floor


def test_clean_corpus_rejects_unknown_near_mode(spark):
    from biocypher_spark.textops import clean_corpus

    df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    with pytest.raises(ValueError, match="near_mode"):
        clean_corpus(df, near_mode="Star")


def test_embedding_dedup_against(spark):
    """Cross-corpus embedding screen: an exact copy and a same-orthant
    perturbation of a reference vector are flagged with the right best
    match (cos ties break to the lowest ref_id); an unrelated vector stays
    clean and keeps NULL match columns."""
    from biocypher_spark.similarity import embedding_dedup_against

    a = [1.0, 2.0, 3.0, 4.0, 1.0, 2.0, 3.0, 4.0]
    b = [-4.0, 3.0, -2.0, 1.0, -4.0, 3.0, -2.0, 1.0]
    a_near = [1.1, 2.0, 3.0, 4.0, 1.0, 2.0, 3.0, 4.1]
    reference = spark.createDataFrame(
        [(10, a), (11, b), (12, a)], "vec_id long, embedding array<double>"
    )
    crawl = spark.createDataFrame(
        [(1, a), (2, a_near), (3, [5.0, -1.0, 0.5, -2.0, 3.0, -0.5, 1.0, -4.0])],
        "vec_id long, embedding array<double>",
    )
    out = {
        r["vec_id"]: r
        for r in embedding_dedup_against(
            crawl, reference, threshold=0.95, num_tables=4, planes_per_table=2, dims=8
        ).collect()
    }
    assert {k: v["dup_of_ref"] for k, v in out.items()} == {1: True, 2: True, 3: False}
    assert out[1]["ref_id"] == 10  # cos 1.0 vs both 10 and 12 -> lowest ref wins
    assert out[1]["cos"] == 1.0
    assert out[2]["ref_id"] == 10 and out[2]["cos"] >= 0.95
    assert out[3]["ref_id"] is None and out[3]["cos"] is None


def test_embedding_dedup_against_string_ids(spark):
    """String vec_ids work, and cos ties still break to the lowest ref_id
    (string order: 'r10' < 'r9')."""
    from biocypher_spark.similarity import embedding_dedup_against

    a = [1.0, 2.0, 3.0, 4.0, 1.0, 2.0, 3.0, 4.0]
    b = [-4.0, 3.0, -2.0, 1.0, -4.0, 3.0, -2.0, 1.0]
    reference = spark.createDataFrame(
        [("r9", a), ("r11", b), ("r10", a)], "vec_id string, embedding array<double>"
    )
    crawl = spark.createDataFrame(
        [("c1", a), ("c2", [5.0, -1.0, 0.5, -2.0, 3.0, -0.5, 1.0, -4.0])],
        "vec_id string, embedding array<double>",
    )
    out = {
        r["vec_id"]: r
        for r in embedding_dedup_against(
            crawl, reference, threshold=0.95, num_tables=4, planes_per_table=2, dims=8
        ).collect()
    }
    assert out["c1"]["dup_of_ref"] and out["c1"]["ref_id"] == "r10" and out["c1"]["cos"] == 1.0
    assert not out["c2"]["dup_of_ref"] and out["c2"]["ref_id"] is None


def test_semantic_dedup_clusters_and_reps(spark):
    # SemDeDup keep-set: identical vectors form one cluster with min-id
    # representative; unrelated vectors stay singleton reps
    import math

    from biocypher_spark.similarity import semantic_dedup

    def vec(seed, dims=64):
        return [math.sin(seed * 31 + i) for i in range(dims)]

    rows = [(0, vec(1)), (1, vec(1)), (2, vec(2)), (3, vec(3)), (4, vec(1))]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {
        r["vec_id"]: (r["cluster_id"], r["is_rep"])
        for r in semantic_dedup(emb, threshold=0.99, num_tables=4, planes_per_table=4).collect()
    }
    assert len(out) == 5  # one row per input vector
    assert out[0] == (0, True) and out[1] == (0, False) and out[4] == (0, False)
    assert out[2] == (2, True) and out[3] == (3, True)
    # keep-set = reps: exactly 3 survive (one per semantic cluster)
    assert sum(1 for _, (c, rep) in out.items() if rep) == 3


def test_clean_corpus_semantic_stage(hygiene_docs, spark):
    # optional SemDeDup stage: docs 4 and 7 share an embedding (paraphrases
    # with no shared shingles) -> the higher doc_id drops as semantic_dup;
    # vectors of docs already dropped by earlier stages must not anchor a
    # semantic cluster (doc 2's vector matches doc 1's, but 2 is already an
    # exact_dup -> 1 stays kept, not semantic-deduped against a dead doc)
    import math

    from biocypher_spark.textops import clean_corpus

    def vec(seed, dims=64):
        return [math.sin(seed * 31 + i) for i in range(dims)]

    emb = spark.createDataFrame(
        [(1, vec(1)), (2, vec(1)), (3, vec(2)), (4, vec(3)), (5, vec(4)),
         (6, vec(5)), (7, vec(3))],
        "vec_id long, embedding array<double>",
    )
    flags = clean_corpus(
        hygiene_docs,
        near_threshold=0.8,
        probes=["secret benchmark answer"],
        quality_min=0.05,
        embeddings=emb,
        semantic_threshold=0.99,
    )
    got = {r["doc_id"]: (r["keep"], r["drop_reason"]) for r in flags.collect()}
    assert got == {
        1: (True, None),
        2: (False, "exact_dup"),
        3: (False, "near_dup"),
        4: (True, None),
        5: (False, "contaminated"),
        6: (False, "low_quality"),
        7: (False, "semantic_dup"),
    }


def test_cosine_zero_norm_vector_does_not_crash(spark):
    """An all-zero embedding (failed/padded row) gets cosine 0.0 instead of
    an ANSI DIVIDE_BY_ZERO crash — in brute-force top-k and in the
    near-dup verify."""
    from biocypher_spark.similarity import cosine_topk, embedding_near_dup

    rows = [(1, [1.0] * 64), (2, [0.0] * 64), (3, [1.0] * 64)]
    emb = spark.createDataFrame(rows, "vec_id int, embedding array<float>")
    got = {r["vec_id"]: r["cos"] for r in cosine_topk(emb, 1, k=5).collect()}
    assert got[2] == 0.0 and got[3] == 1.0
    pairs = {(r["va"], r["vb"]) for r in embedding_near_dup(emb, threshold=0.95).collect()}
    assert (1, 3) in pairs and not any(2 in p for p in pairs)


def test_lsh_dims_mismatch_raises(spark):
    """dims != actual embedding length must raise, not silently collapse
    every vector into bucket 0 (which the size cap then drops)."""
    import pytest as _pytest

    from biocypher_spark.similarity import embedding_near_dup

    emb = spark.createDataFrame(
        [(i, [float(i)] * 32) for i in range(1, 6)], "vec_id int, embedding array<float>"
    )
    with _pytest.raises(Exception, match="!= configured dims"):
        embedding_near_dup(emb, dims=64).collect()


def test_topk_missing_query_raises(spark):
    import pytest as _pytest

    from biocypher_spark.similarity import cosine_topk

    emb = spark.createDataFrame(
        [(i, [float(i)] * 64) for i in range(1, 4)], "vec_id int, embedding array<float>"
    )
    with _pytest.raises(ValueError, match="not found"):
        cosine_topk(emb, 99)


def test_pii_counts_agree_with_scrubbed_tags(spark):
    """Counts chain over the progressively scrubbed text: a phone-shaped
    digit run inside an email local part is consumed by the email
    replacement and must NOT be counted as a phone."""
    from biocypher_spark.textops import pii_scrub

    df = spark.createDataFrame(
        [(1, "contact 5551234567@mail.com"), (2, "call 555-123-4567 now")],
        "doc_id int, text string",
    )
    rows = {r["doc_id"]: r for r in pii_scrub(df).collect()}
    assert rows[1]["n_email"] == 1 and rows[1]["n_phone"] == 0
    assert rows[1]["scrubbed"].count("[EMAIL]") == 1 and "[PHONE]" not in rows[1]["scrubbed"]
    assert rows[2]["n_phone"] == 1 and rows[2]["scrubbed"].count("[PHONE]") == 1


def test_contamination_degenerate_probes_consistent(spark):
    """NULL probes ignored; empty-string probe -> everything contaminated;
    identical verdicts from the inline and join paths."""
    from biocypher_spark.textops import contamination_check, contamination_join

    docs = spark.createDataFrame(
        [(1, "hello world"), (2, "nothing here"), (3, None)], "doc_id int, text string"
    )
    # empty probe: both paths flag every (non-null-text) doc... inline path
    # short-circuits to all-True by the contains('') rule
    inline_all = {r["doc_id"]: r["contaminated"] for r in contamination_check(docs, ["", "x"]).collect()}
    assert inline_all == {1: True, 2: True, 3: True}
    probes_empty = spark.createDataFrame([("",), ("x",)], "probe string")
    join_all = {r["doc_id"]: r["contaminated"] for r in contamination_join(docs, probes_empty).collect()}
    assert join_all == {1: True, 2: True, 3: True}

    # NULL probe ignored on both paths; null text is never contaminated
    inline = {r["doc_id"]: r["contaminated"] for r in contamination_check(docs, [None, "world"]).collect()}
    probes = spark.createDataFrame([(None,), ("world",)], "probe string")
    joined = {r["doc_id"]: r["contaminated"] for r in contamination_join(docs, probes).collect()}
    assert inline == joined == {1: True, 2: False, 3: False}
