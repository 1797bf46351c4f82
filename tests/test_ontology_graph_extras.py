"""O3 grafting, O6 tree view, G5 validation, G6 JSON, S10 BioPathNet."""

import os

import pytest

from biocypher_spark.graph import SparkGraph
from biocypher_spark.mapping import SchemaMapping
from biocypher_spark.model import edges_from_tuples, nodes_from_tuples
from biocypher_spark.ontology import NullOntology, Ontology
from biocypher_spark.translate import SparkTranslator
from biocypher_spark.writer.biopathnet import BioPathNetWriter
from fixtures.data_generator import perturbed_edges, protein_nodes


def test_ontology_graft_merge():
    head = Ontology(SchemaMapping(), parent_map={"disease": "entity", "entity": None})
    tail = Ontology(SchemaMapping(), parent_map={"human disease": "thing", "cancer": "human disease"})
    head.graft(tail, head_join_node="disease", tail_join_node="human disease", merge_nodes=True)
    assert head.get_ancestors("cancer") == ["cancer", "disease", "entity"]


def test_ontology_graft_as_child():
    head = Ontology(SchemaMapping(), parent_map={"disease": "entity"})
    tail = Ontology(SchemaMapping(), parent_map={"cancer": "human disease"})
    head.graft(tail, "disease", "human disease", merge_nodes=False)
    assert head.get_ancestors("cancer") == ["cancer", "human disease", "disease", "entity"]


def test_tree_string():
    onto = Ontology(SchemaMapping(), parent_map={"b": "a", "c": "a", "d": "b"})
    tree = onto.tree_string(root="a")
    assert tree.splitlines()[0] == "a"
    assert any(line.strip() == "d" for line in tree.splitlines())


def test_graph_validation(spark):
    nodes = spark.createDataFrame(
        [("a", "protein"), ("b", "mystery")], ["node_id", "node_label"]
    )
    g = SparkGraph(nodes, nodes.limit(0).selectExpr(
        "node_id as source_id", "node_id as target_id", "'x' as relationship_label"
    ))
    assert g.validate({"protein"}, mode="none") == []
    assert g.validate({"protein"}, mode="warn") == ["mystery"]
    with pytest.raises(ValueError, match="mystery"):
        g.validate({"protein"}, mode="strict")


def test_graph_json_roundtrip(spark, tmp_path):
    nodes = spark.createDataFrame([("a", "protein"), ("b", "gene")], ["node_id", "node_label"])
    edges = spark.createDataFrame([("a", "b", "REL")], ["source_id", "target_id", "relationship_label"])
    g = SparkGraph(nodes, edges)
    g.to_json(str(tmp_path / "kg"))
    g2 = SparkGraph.from_json(spark, str(tmp_path / "kg"))
    assert {r["node_id"] for r in g2.nodes.collect()} == {"a", "b"}
    assert g2.edges.count() == 1


def test_biopathnet_writer(spark, schema_path, tmp_path):
    onto = Ontology(SchemaMapping(schema_path), parent_map={"protein": "polypeptide"})
    translator = SparkTranslator(spark, onto)
    w = BioPathNetWriter(spark, translator, str(tmp_path))
    nodes = translator.translate_nodes(nodes_from_tuples(spark, protein_nodes(2))).nodes
    edges = translator.translate_edges(edges_from_tuples(spark, perturbed_edges(3)[1:])).edges
    assert w.write_nodes(nodes)
    assert w.write_edges(edges)
    types = open(tmp_path / "entity_types.txt").read()
    assert "p1\tprotein" in types
    assert "protein\tpolypeptide" in types
    brg = open(tmp_path / "brg.txt").read()
    assert "p1\tname\tname_StringProperty1" in brg
    assert "protein\tsubclass_of\tpolypeptide" in brg
    skg = open(tmp_path / "skg.txt").read()
    assert "p1\tPERTURBED_IN_DISEASE\tp2" in skg
    names = open(tmp_path / "entity_names.txt").read()
    assert "name_StringProperty1\tStringProperty1" in names


def test_biopathnet_property_value_entities_written_once(spark, schema_path, tmp_path):
    """A property value is one BioPathNet entity: typed and named once,
    however many nodes hold it, within a call and across calls. Its brg
    triple is still written once per node that holds it."""
    translator = SparkTranslator(spark, Ontology(SchemaMapping(schema_path), parent_map={"protein": "polypeptide"}))
    w = BioPathNetWriter(spark, translator, str(tmp_path))
    later = [(f"q{i}", label, props) for i, (_, label, props) in enumerate(protein_nodes(2))]
    for batch in (protein_nodes(3), later):
        assert w.write_nodes(translator.translate_nodes(nodes_from_tuples(spark, batch)).nodes)
    types = open(tmp_path / "entity_types.txt").read().splitlines()
    names = open(tmp_path / "entity_names.txt").read().splitlines()
    assert types.count("taxon_9606\tproperty_value") == 1
    assert names.count("taxon_9606\t9606") == 1
    values = [line for line in types if line.endswith("\tproperty_value")]
    assert values and len(values) == len(set(values))
    assert len(names) == len(set(names))
    brg = open(tmp_path / "brg.txt").read().splitlines()
    assert sum(line.endswith("\ttaxon\ttaxon_9606") for line in brg) == 5
