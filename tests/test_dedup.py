"""Dedup stage tests (mirror of reference test_deduplicate.py)."""

import pytest
from pyspark.sql import functions as F

from biocypher_spark.dedup import dedup_edges, dedup_nodes, dedup_rel_as_nodes
from biocypher_spark.mapping import SchemaMapping
from biocypher_spark.model import edges_from_tuples, nodes_from_tuples
from biocypher_spark.ontology import NullOntology
from biocypher_spark.translate import SparkTranslator
from fixtures.data_generator import perturbed_edges, protein_nodes, rel_as_node_edges


@pytest.fixture(scope="module")
def translator(spark, schema_path):
    return SparkTranslator(spark, NullOntology(SchemaMapping(schema_path)))


def test_node_dedup_first_wins(spark, translator):
    # p1 appears twice with different scores; the FIRST occurrence survives
    tuples = [
        ("p1", "protein", {"name": "first", "score": 1.0, "taxon": 1, "genes": []}),
        ("p2", "protein", {"name": "x", "score": 2.0, "taxon": 1, "genes": []}),
        ("p1", "protein", {"name": "second", "score": 9.0, "taxon": 1, "genes": []}),
    ]
    nodes = translator.translate_nodes(nodes_from_tuples(spark, tuples)).nodes
    res = dedup_nodes(nodes)
    kept = {r["node_id"]: r for r in res.kept.collect()}
    assert len(kept) == 2
    assert '"first"' in kept["p1"]["props"]["name"]
    dups = res.duplicates.collect()
    assert [(d["kind"], d["label"], d["dup_id"]) for d in dups] == [("node", "protein", "p1")]


def test_node_dedup_global_across_labels(spark, translator):
    # same id under two different labels is STILL a duplicate (reference
    # keeps one global id set, _deduplicate.py:44-52)
    tuples = [
        ("x1", "protein", {"name": "a", "score": 1.0, "taxon": 1, "genes": []}),
        ("x1", "mirna", {"name": "b", "taxon": 1}),
    ]
    nodes = translator.translate_nodes(nodes_from_tuples(spark, tuples)).nodes
    res = dedup_nodes(nodes)
    assert res.kept.count() == 1
    assert res.kept.collect()[0]["node_label"] == "protein"


def test_edge_dedup_per_type(spark, translator):
    edges = perturbed_edges(4)[1:] + perturbed_edges(2)[1:]
    out = translator.translate_edges(edges_from_tuples(spark, edges))
    res = dedup_edges(out.edges)
    assert res.kept.count() == 3
    assert {d["dup_id"] for d in res.duplicates.collect()} == {"prel1"}


def test_edge_dedup_src_tgt_key(spark, translator):
    # 4-tuples without ids: key defaults to src_tgt
    edges = [
        ("a", "b", "phosphorylation", {}),
        ("a", "b", "phosphorylation", {}),
        ("a", "c", "phosphorylation", {}),
    ]
    out = translator.translate_edges(edges_from_tuples(spark, edges))
    res = dedup_edges(out.edges)
    assert res.kept.count() == 2
    assert {d["dup_id"] for d in res.duplicates.collect()} == {"a_b"}


def test_rel_as_node_dedup(spark, translator):
    trips = rel_as_node_edges(3) + rel_as_node_edges(1)
    out = translator.translate_edges(edges_from_tuples(spark, trips))
    kept_nodes, kept_edges, dups = dedup_rel_as_nodes(out.ran_nodes, out.ran_edges)
    assert kept_nodes.count() == 3
    assert kept_edges.count() == 6
    assert {d["dup_id"] for d in dups.collect()} == {"i1"}


def test_no_duplicates_empty_metrics(spark, translator):
    nodes = translator.translate_nodes(nodes_from_tuples(spark, protein_nodes(3))).nodes
    res = dedup_nodes(nodes)
    assert res.duplicates.count() == 0


def test_rel_as_node_dedup_seq_ties(spark, translator):
    """Duplicate triplets sharing id AND SEQ keep exactly ONE pair of helper
    edges (the old (target_id, SEQ) semi-join kept both; edges are now
    rebuilt from the surviving node rows)."""
    trips = rel_as_node_edges(2)
    from biocypher_spark.model import SEQ

    staged = edges_from_tuples(spark, trips + trips)  # exact duplicates
    # force SEQ ties: content-hash style SEQ identical for identical rows
    staged = staged.withColumn(SEQ, F.xxhash64("id"))
    out = translator.translate_edges(staged)
    kept_nodes, kept_edges, dups = dedup_rel_as_nodes(out.ran_nodes, out.ran_edges)
    assert kept_nodes.count() == 2
    assert kept_edges.count() == 4  # one IS_SOURCE_OF + IS_TARGET_OF pair each
    labels = [r["relationship_label"] for r in kept_edges.collect()]
    assert sorted(labels) == ["IS_SOURCE_OF", "IS_SOURCE_OF", "IS_TARGET_OF", "IS_TARGET_OF"]


def test_rel_as_node_dup_id_different_endpoints(spark, translator):
    """Two triplets with the SAME explicit id but different endpoints: the
    reference skips the whole second triplet, so only the first triplet's
    edge pair may survive."""
    t = rel_as_node_edges(1)[0]
    # same relationship id, different source node
    t2 = (t[0], "pX", t[2], t[3], t[4])
    staged = edges_from_tuples(spark, [t, t2])
    out = translator.translate_edges(staged)
    kept_nodes, kept_edges, dups = dedup_rel_as_nodes(out.ran_nodes, out.ran_edges)
    assert kept_nodes.count() == 1
    srcs = {r["source_id"] for r in kept_edges.filter(F.col("relationship_label") == "IS_SOURCE_OF").collect()}
    assert srcs == {t[1]}  # first triplet's source only, never pX


def test_tracking_key_space_plan_grows_linearly(spark):
    """Ten calls on one tracking key space: each call's kept rows are
    consumed, then its ledger frame is cut, so the seen state's executed
    plan grows by a bounded amount per call (it grew about five-fold per
    call when each call's cached plan nested the earlier calls'), and admit
    itself starts no Spark job."""
    from biocypher_spark.dedup import KeySpace
    from conftest import spark_jobs

    keys = KeySpace("_seen_nodes", track_seen=True)
    sizes = []
    for call in range(10):
        df = spark.createDataFrame(
            [(f"p{call}", "protein", 3 * call), (f"p{call + 1}", "protein", 3 * call + 1), (f"p{call}", "mirna", 3 * call + 2)],
            "node_id string, node_label string, _seq long",
        )
        kept, jobs = spark_jobs(spark, lambda: keys.admit(df))
        assert jobs == []
        assert sorted(r["node_id"] for r in kept.collect()) == ([f"p{call}", f"p{call + 1}"] if call == 0 else [f"p{call + 1}"])
        keys.release_earlier_row_pins()
        sizes.append(len(keys.seen._jdf.queryExecution().executedPlan().toString()))
        assert sizes[-1] <= sizes[0] + 1000 * call, sizes
    assert sorted(r["_key"] for r in keys.seen.collect()) == sorted(f"p{i}" for i in range(11))
