"""Facade + in-memory KG tests (mirror of reference test_core.py surface)."""

import os
import re

import pytest
from pyspark.sql import functions as F

from biocypher_spark.core import BioCypherSpark
from biocypher_spark.writer.base import pascal_file_label
from biocypher_spark.writer.biopathnet import BioPathNetWriter
from biocypher_spark.writer.neo4j import Neo4jBatchWriter
from biocypher_spark.writer.registry import DBMS_TO_CLASS
from conftest import spark_jobs
from fixtures.data_generator import (
    mirna_nodes,
    mutated_edges,
    perturbed_edges,
    protein_nodes,
    rel_as_node_edges,
)


@pytest.fixture()
def bc(spark, schema_path, tmp_path):
    return BioCypherSpark(spark, output_directory=str(tmp_path), schema_config_path=schema_path)


def test_write_nodes_from_tuples(bc, tmp_path):
    assert bc.write_nodes(protein_nodes(4) + mirna_nodes(4))
    bc.write_import_call()
    assert os.path.isfile(tmp_path / "Protein-part000.csv")
    assert os.path.isfile(tmp_path / "MicroRNA-header.csv")
    assert os.path.isfile(tmp_path / "neo4j-admin-import-call.sh")


def test_write_edges_and_missing(bc, tmp_path):
    edges = perturbed_edges(4)[1:] + [("x1", "a", "b", "nonexistent_label", {})]
    assert bc.write_edges(edges)
    assert os.path.isfile(tmp_path / "PERTURBED_IN_DISEASE-part000.csv")
    assert bc.log_missing_input_labels() == {"nonexistent_label": 1}


def test_in_memory_kg(bc):
    bc.add(protein_nodes(4))
    bc.add(mirna_nodes(2))
    bc.add(perturbed_edges(4)[1:])
    kg = bc.get_kg()
    # edge frames are keyed by relationship label (reference keys per-type
    # frames by entity.get_type(), output/in_memory/_in_memory_kg.py)
    assert set(kg) == {"protein", "microRNA", "PERTURBED_IN_DISEASE"}
    dfs = bc.to_df()
    prot = dfs["protein"]
    assert len(prot) == 4
    assert set(prot.columns) >= {"node_id", "name", "score", "taxon", "genes", "id", "preferred_id"}
    assert prot.loc[prot.node_id == "p1", "score"].iloc[0] == 4.0
    assert list(prot.loc[prot.node_id == "p1", "genes"].iloc[0]) == ["gene1", "gene2"]
    edges = dfs["PERTURBED_IN_DISEASE"]
    assert len(edges) == 3
    assert set(edges.columns) >= {"source_id", "target_id", "residue", "level"}


def test_in_memory_rel_as_node(bc):
    bc.add(rel_as_node_edges(3))
    kg = bc.get_kg()
    assert "post translational interaction" in kg
    assert "IS_SOURCE_OF" in kg
    assert kg["post translational interaction"].count() == 3
    assert kg["IS_SOURCE_OF"].count() == 3


def test_to_networkx(bc):
    bc.add(protein_nodes(3))
    bc.add(perturbed_edges(3)[1:])
    g = bc.to_networkx()
    assert g.number_of_nodes() >= 3
    assert g.number_of_edges() == 2
    assert g.nodes["p1"]["node_label"] == "protein"


def test_write_csv(bc, tmp_path):
    bc.add(protein_nodes(2))
    files = bc.write_csv()
    assert any(f.endswith("Protein.csv") for f in files)
    with open([f for f in files if f.endswith("Protein.csv")][0]) as fh:
        header = fh.readline()
    assert "node_id" in header and "score" in header


def test_schema_info(bc, tmp_path):
    bc.write_nodes(protein_nodes(2))
    info = bc.write_schema_info()
    assert info["is_schema_info"] is True
    assert info["protein"]["present_in_knowledge_graph"] is True
    assert info["microRNA"]["present_in_knowledge_graph"] is False
    assert info["gene to disease association"]["is_relationship"] is True
    assert os.path.isfile(tmp_path / "schema_info.yaml")


def test_duplicate_logging(bc):
    bc.write_nodes(protein_nodes(2) + protein_nodes(2))
    dups = bc.writer.get_duplicate_nodes()
    assert {r["dup_id"] for r in dups.collect()} == {"p1", "p2"}


def test_log_duplicates_reports_the_sinks_built(spark, schema_path, tmp_path, capsys):
    """log_duplicates reports the sinks the facade has built and builds
    none: after in-memory adds it prints the KG's duplicate ids, and no
    batch writer (nor its output directory) appears."""
    out = tmp_path / "out"
    bc = BioCypherSpark(spark, output_directory=str(out), schema_config_path=schema_path)
    bc.add(protein_nodes(2) + protein_nodes(2))
    capsys.readouterr()
    bc.log_duplicates()
    printed = capsys.readouterr().out
    assert "p1" in printed and "p2" in printed
    assert bc._writer is None
    assert not out.exists()


def test_dbms_registry_owl(spark, schema_path, tmp_path):
    """dbms routing (reference _get_writer.py DBMS_TO_CLASS): the facade can
    drive the OWL sink end-to-end."""
    bc = BioCypherSpark(
        spark, dbms="owl", output_directory=str(tmp_path), schema_config_path=schema_path
    )
    assert bc.write_nodes(protein_nodes(2))
    assert bc.write_edges(perturbed_edges(3)[1:])
    owl = open(tmp_path / "biocypher.nt").read()
    assert "owl#NamedIndividual" in owl
    assert "edge_source" in owl  # Association default


def test_dbms_registry_postgres(spark, schema_path, tmp_path):
    bc = BioCypherSpark(
        spark, dbms="postgresql", output_directory=str(tmp_path), schema_config_path=schema_path
    )
    assert bc.write_nodes(protein_nodes(2))
    assert os.path.isfile(tmp_path / "protein-create_table.sql")


def test_dbms_registry_errors(spark, schema_path, tmp_path):
    bc = BioCypherSpark(
        spark, dbms="networkx", output_directory=str(tmp_path), schema_config_path=schema_path
    )
    with pytest.raises(ValueError, match="to_networkx"):
        bc.writer
    bc2 = BioCypherSpark(
        spark, dbms="mongodb", output_directory=str(tmp_path), schema_config_path=schema_path
    )
    with pytest.raises(ValueError, match="unknown dbms"):
        bc2.writer


def test_facade_download(bc, tmp_path):
    from biocypher_spark.download import Downloader, FileDownload

    fetched = []

    def fake_fetch(url, dest):
        fetched.append(url)
        with open(dest, "w") as f:
            f.write("x")

    bc.downloader = Downloader(cache_dir=str(tmp_path / "dlcache"), fetcher=fake_fetch)
    paths = bc.download(FileDownload("r", "http://x/y.txt"))
    assert len(paths) == 1 and fetched == ["http://x/y.txt"]
    bc.download(FileDownload("r", "http://x/y.txt"))
    assert len(fetched) == 1  # cached


def test_dbms_owl_rel_as_node_flattened(spark, schema_path, tmp_path):
    """The OWL sink writes rel-as-node triplets: its admission step splits
    the translated edges into the reified nodes and their helper edges."""
    bc = BioCypherSpark(
        spark, dbms="owl", output_directory=str(tmp_path), schema_config_path=schema_path
    )
    assert bc.write_nodes(protein_nodes(3))
    assert bc.write_edges(rel_as_node_edges(2))
    owl = open(tmp_path / "biocypher.nt").read()
    # reified relationship node instance + IS_SOURCE_OF/IS_TARGET_OF helpers
    assert "i1" in owl
    assert "IS_SOURCE_OF" in owl and "IS_TARGET_OF" in owl


def test_in_memory_cross_call_dedup(bc):
    """The reference shares one Deduplicator across add() calls
    (_in_memory_kg.py:62-66): re-adding the same node/edge in a later call
    must not duplicate rows."""
    bc.add(protein_nodes(2))
    bc.add(protein_nodes(2))
    kg = bc.get_kg()
    assert kg["protein"].count() == 2
    bc.add(perturbed_edges(3)[1:])
    bc.add(perturbed_edges(3)[1:])
    assert bc.get_kg()["PERTURBED_IN_DISEASE"].count() == 2


def test_offline_merge_writes_batch_layout(spark, tmp_path, schema_path):
    """Reference parity: merge_* are _add_* aliases, which write the batch
    layout when offline — not silently accumulate in the in-memory KG."""
    import os

    from biocypher_spark.core import BioCypherSpark
    from fixtures.data_generator import protein_nodes

    bc = BioCypherSpark(spark, output_directory=str(tmp_path), schema_config_path=schema_path)
    assert bc.merge_nodes(protein_nodes(2))
    bc.write_import_call()
    assert os.path.isfile(tmp_path / "Protein-part000.csv")


def test_staged_dataframe_without_seq(spark, tmp_path, schema_path):
    """A user-staged frame lacking the _seq ordering column must be
    accepted (with_seq attaches it) instead of UNRESOLVED_COLUMN."""
    from biocypher_spark.core import BioCypherSpark

    bc = BioCypherSpark(spark, output_directory=str(tmp_path), schema_config_path=schema_path)
    df = spark.createDataFrame(
        [("p1", "protein", {"name": '"x"', "score": "1.0", "taxon": "9606", "genes": "[]"})],
        "id string, input_label string, props map<string,string>",
    )
    bc.add(df)
    kg = bc.get_kg()
    assert any(frame.count() == 1 for frame in kg.values())


def test_inmemory_prop_union_across_rows(spark, tmp_path, schema_path):
    """Property columns are the key UNION of the batch, not just the first
    row's keys (microRNA has no declared properties -> inference)."""
    from biocypher_spark.core import BioCypherSpark

    bc = BioCypherSpark(spark, output_directory=str(tmp_path), schema_config_path=schema_path)
    bc.add([
        ("m1", "mirna", {"name": "x"}),
        ("m2", "mirna", {"name": "y", "taxon": 9606}),
    ])
    kg = bc.get_kg()
    mirna = next(df for label, df in kg.items() if label.lower() == "microrna")
    assert "taxon" in mirna.columns
    rows = {r["id"]: r for r in mirna.collect()}
    assert rows["m2"]["taxon"] == 9606 and rows["m1"]["taxon"] is None


def test_in_memory_add_pins_only_kept_rows(bc, monkeypatch):
    """Each add() pins the rows it keeps and nothing else: the cumulative
    seen keys are not re-checkpointed per call, which would cost O(all ids
    added so far) on every add()."""
    from biocypher_spark import inmemory

    real = inmemory.materialize_lazily
    pinned = []
    monkeypatch.setattr(inmemory, "materialize_lazily", lambda df: pinned.append(df) or real(df))
    per_call = []
    for n in (2, 4, 6):
        before = len(pinned)
        bc.add(protein_nodes(n))
        per_call.append(len(pinned) - before)
    assert all(c <= 1 for c in per_call), per_call
    assert bc.get_kg()["protein"].count() == 6


def _protein(i):
    return (i, "protein", {"score": 1.0, "name": i, "taxon": 9606, "genes": []})


def _ran(i, src, tgt):
    return (i, src, tgt, "post_translational", {"directed": True, "effect": -1})


def _perturbed(i, src, tgt):
    return (i, src, tgt, "protein_disease", {"residue": "T253", "level": 4})


# three (nodes, edges) calls: in-call and cross-call node replays, replayed
# edges and rel-as-node triplets, and a reified id (i1) that first arrived
# as a plain protein node
_THREE_CALLS = [
    (
        [_protein("p1"), _protein("p2"), _protein("p1"), _protein("i1")],
        [_perturbed("prel1", "p1", "p2"), _perturbed("prel1", "p1", "p2")],
    ),
    (
        [_protein("p2"), _protein("p3")],
        [_perturbed("prel1", "p1", "p2"), _perturbed("prel2", "p2", "p3"), _ran("i1", "p1", "p2"), _ran("i2", "p2", "p3")],
    ),
    (
        [_protein("p3"), _protein("p4")],
        [_ran("i2", "p2", "p3"), _ran("i3", "p3", "p4"), _ran("i3", "p3", "p4"), _perturbed("prel3", "p3", "p4")],
    ),
]


def _staged_calls(spark):
    """_THREE_CALLS as staged frames, the third with a node whose id is NULL
    and two edges with a NULL endpoint, which no sink has anything to write
    for."""
    from biocypher_spark.model import edges_from_tuples, nodes_from_tuples

    def null_gone(df, *cols):
        for col in cols:
            df = df.withColumn(col, F.when(F.col(col) == "gone", F.lit(None)).otherwise(F.col(col)))
        return df

    nulls = ([_protein("gone")], [_perturbed("e2", "gone", "p2"), _perturbed("e3", "p1", "gone")])
    return [
        (null_gone(nodes_from_tuples(spark, n + nn), "id"), null_gone(edges_from_tuples(spark, e + ne), "src", "tgt"))
        for (n, e), (nn, ne) in zip(_THREE_CALLS, [([], [])] * 2 + [nulls])
    ]


def _label_key(label):
    """A label as every layout spells it: Pascal-cased by RDF/OWL terms,
    upper snake case in the CSV type column."""
    return re.sub("[^a-z0-9]", "", label.lower())


# each reader returns (node ids, edge keys) as lists: a row written twice
# shows up twice


def _read_batch_csv(writer):
    """The node ids and edge keys of the batch-CSV family's part files."""
    def rows(labels):
        for label in labels:
            for part in writer.parts.get(pascal_file_label(label), []):
                for line in open(os.path.join(writer.outdir, part)).read().splitlines():
                    yield label, line.split(writer.delim)

    nodes = [f[0] for _, f in rows(writer.node_property_dict)]
    target = -2 if writer.edge_line_includes_labels else -1
    edges = [(_label_key(label), f[0], f[target]) for label, f in rows(writer.edge_property_dict)]
    return nodes, edges


def _read_biopathnet(writer):
    """The node ids of entity_types.txt (node rows are typed with their node
    label) and the edge keys of skg.txt."""
    types = [line.split("\t") for line in open(os.path.join(writer.outdir, "entity_types.txt")).read().splitlines()]
    skg = [line.split("\t") for line in open(os.path.join(writer.outdir, "skg.txt")).read().splitlines()]
    labels = {"protein", "post translational interaction"}
    return [i for i, t in types if t in labels], [(_label_key(lab), s, t) for s, lab, t in skg]


def _local(term):
    return term.strip("<>").rsplit("#", 1)[-1].split(":", 1)[-1]


def _read_rdf(writer):
    """The node ids and edge keys of the RDF / OWL files. N-Triples lines and
    JSON-LD objects become (s, p, o) local names, literals kept quoted. A
    node is typed with its class; a reified edge is an RDF bc:subject /
    bc:object or an OWL edge_source / edge_target instance, typed with its
    label; a triple between two resources under any other predicate is a
    direct edge. A JSON-LD file must parse as one document."""
    import json

    triples = []
    for name in sorted(os.listdir(writer.outdir)):
        path = os.path.join(writer.outdir, name)
        if name.endswith(".jsonld"):
            for obj in json.load(open(path))["@graph"]:
                s = _local(obj.pop("@id"))
                triples += [(s, "type", _local(obj.pop("@type")))] if "@type" in obj else []
                for k, v in obj.items():
                    triples.append((s, _local(k), _local(v["@id"]) if isinstance(v, dict) else f'"{v}"'))
        elif name.endswith(".nt"):
            for line in open(path).read().splitlines():
                s, p, o = re.fullmatch(r"(\S+) (\S+) (.+) \.", line).groups()
                triples.append((_local(s), _local(p), o if o.startswith('"') else _local(o)))
    sources = [(s, o) for s, p, o in triples if p == "subject"] + [(o, s) for s, p, o in triples if p == "edge_source"]
    targets = {s: o for s, p, o in triples if p in ("object", "edge_target")}
    types = [(s, o) for s, p, o in triples if p == "type" and o not in ("Class", "ObjectProperty", "NamedIndividual")]
    label = dict(types)
    edges = [(_label_key(label[i]), src, targets[i]) for i, src in sources]
    vocabulary = {"type", "subject", "object", "edge_source", "edge_target", "label", "subClassOf", "subPropertyOf"}
    edges += [(_label_key(p), s, o) for s, p, o in triples if p not in vocabulary and not o.startswith('"')]
    reified = {i for i, _ in sources}
    return [s for s, _ in types if s not in reified], edges


def _read_in_memory(kg):
    frames = kg.get_kg()
    nodes = [r["node_id"] for df in frames.values() if "node_id" in df.columns for r in df.collect()]
    edges = [
        (_label_key(r["relationship_label"]), r["source_id"], r["target_id"])
        for df in frames.values()
        if "source_id" in df.columns
        for r in df.collect()
    ]
    return nodes, edges


# one dbms name per registry class, N-Triples and JSON-LD (a header/footer
# format with a separator between rows) for RDF, and the in-memory KG
_SINKS = [pytest.param(dbms, {}, id=dbms) for dbms in {cls: d for d, cls in reversed(DBMS_TO_CLASS.items())}.values()]
_SINKS += [pytest.param("rdf", {"rdf_format": "json-ld"}, id="rdf-jsonld"), pytest.param(None, {}, id="in-memory")]


@pytest.mark.parametrize("dbms, kwargs", _SINKS)
def test_every_sink_admits_the_same_rows(spark, schema_path, tmp_path, dbms, kwargs):
    """Every sink admits its rows through one dedup.Admission: fed the same
    calls, each writes every kept node id and edge key once, and reports the
    same duplicate rows. The calls replay nodes, edges and rel-as-node
    triplets within and across calls; a reified id (i1) that first arrived
    as a plain protein node is a node duplicate (D1), but its triplet is new
    in the (type, id) space (D3), so its helper edges are kept. A NULL id
    and a NULL endpoint are dropped, and a later call's rows are added to
    what earlier calls wrote."""
    bc = BioCypherSpark(
        spark, dbms=dbms or "neo4j", output_directory=str(tmp_path), schema_config_path=schema_path, **kwargs
    )
    for nodes, edges in _staged_calls(spark):
        if dbms is None:
            bc.add(nodes)
            bc.add(edges)
        else:
            bc.write_nodes(nodes)
            bc.write_edges(edges)
    sink = bc.kg if dbms is None else bc.writer
    if dbms is None:
        read = _read_in_memory
    elif isinstance(sink, Neo4jBatchWriter):
        read = _read_batch_csv
    elif isinstance(sink, BioPathNetWriter):
        read = _read_biopathnet
    else:
        read = _read_rdf
    nodes, edges = read(sink)
    assert sorted(nodes) == ["i1", "i2", "i3", "p1", "p2", "p3", "p4"]
    assert sorted(edges) == sorted([
        ("perturbedindisease", "p1", "p2"),
        ("perturbedindisease", "p2", "p3"),
        ("perturbedindisease", "p3", "p4"),
        ("issourceof", "p1", "i1"),
        ("istargetof", "p2", "i1"),
        ("issourceof", "p2", "i2"),
        ("istargetof", "p3", "i2"),
        ("issourceof", "p3", "i3"),
        ("istargetof", "p4", "i3"),
    ])
    # (kind, label, dup_id): p1 in call 1, p2 and p3 across calls, i1 first
    # seen as a protein (D1); prel1 in and across calls (D2); i2 across
    # calls and i3 in call 3 (D3)
    assert {tuple(r) for r in sink.get_duplicate_nodes().collect()} == {
        ("node", "protein", "p1"),
        ("node", "protein", "p2"),
        ("node", "protein", "p3"),
        ("node", "post translational interaction", "i1"),
    }
    assert {tuple(r) for r in sink.get_duplicate_edges().collect()} == {
        ("edge", "PERTURBED_IN_DISEASE", "prel1"),
        ("edge", "post translational interaction", "i2"),
        ("edge", "post translational interaction", "i3"),
    }


def test_duplicate_reports_run_few_jobs(spark, schema_path, tmp_path):
    """Both duplicate reports read the ledger's lineage-cut frames, never an
    earlier call's admit window: after the staged calls of
    test_every_sink_admits_the_same_rows, and again after those calls are
    repeated, the two run at most 10 Spark jobs together (38 after three
    calls when each report re-ran every call's window)."""
    bc = BioCypherSpark(spark, output_directory=str(tmp_path), schema_config_path=schema_path)

    def reports():
        return [{tuple(r) for r in df.collect()} for df in (bc.kg.get_duplicate_nodes(), bc.kg.get_duplicate_edges())]

    rounds = []
    for _ in range(2):
        for nodes, edges in _staged_calls(spark):
            bc.add(nodes)
            bc.add(edges)
        got, jobs = spark_jobs(spark, reports)
        assert len(jobs) <= 10, (len(rounds), len(jobs))
        rounds.append(got)
    (nodes1, edges1), (nodes2, edges2) = rounds
    assert ("node", "protein", "p1") in nodes1 and ("edge", "PERTURBED_IN_DISEASE", "prel1") in edges1
    # the repeat adds every id of the first round as a cross-call duplicate
    assert nodes1 < nodes2 and edges1 < edges2
    assert {("node", "protein", p) for p in ("p1", "p2", "p3", "p4")} <= nodes2


def test_in_memory_label_as_edge_uses_declared_props(spark, tmp_path):
    """A class routed under its label_as_edge gets its declared property
    types in the in-memory KG, as in the batch writer's header."""
    schema = {
        "protein": {"represented_as": "node", "input_label": "protein", "properties": {"name": "str"}},
        "interaction": {
            "represented_as": "edge",
            "input_label": "interacts",
            "label_as_edge": "INTERACTS_WITH",
            "properties": {"score": "float"},
        },
    }
    bc = BioCypherSpark(spark, output_directory=str(tmp_path), schema=schema)
    edges = [("e1", "p1", "p2", "interacts", {"score": 1})]
    bc.add(edges)
    assert dict(bc.get_kg()["INTERACTS_WITH"].dtypes)["score"] == "double"
    bc.write_edges(edges)
    assert "score:double" in open(tmp_path / "INTERACTS_WITH-header.csv").read().split(";")


def test_in_memory_strict_mode_keeps_the_writer_columns(spark, tmp_path):
    """In strict mode a declared label's in-memory columns are the batch
    writer's header keys, source / licence / version included."""
    schema = {
        "protein": {"represented_as": "node", "input_label": "protein", "properties": {"name": "str", "score": "float"}},
    }
    bc = BioCypherSpark(spark, output_directory=str(tmp_path), schema=schema, strict_mode=True)
    nodes = [("p1", "protein", {"name": "x", "score": 1.5, "source": "s", "licence": "l", "version": "1"})]
    bc.add(nodes)
    bc.write_nodes(nodes)
    header = open(tmp_path / "Protein-header.csv").read().split(";")
    keys = [column.split(":")[0] for column in header[1:-1]]
    assert {"source", "licence", "version"} <= set(keys)
    assert sorted(c for c in bc.get_kg()["protein"].columns if c not in ("node_id", "node_label")) == sorted(keys)


def test_in_memory_types_from_the_first_entity_by_arrival(spark, schema_path, tmp_path):
    """An undeclared label's in-memory types come from its first entity by
    arrival order, as the writer's header does, not from the row the
    admission shuffle happens to place first: here every later row
    carries an int where the first carries 1.5."""
    bc = BioCypherSpark(spark, output_directory=str(tmp_path), schema_config_path=schema_path)
    nodes = [("m9", "mirna", {"w": 1.5})] + [(f"m{i}", "mirna", {"w": i}) for i in range(9)]
    bc.add(nodes)
    bc.write_nodes(nodes)
    (label,) = bc.get_kg()
    assert dict(bc.get_kg()[label].dtypes)["w"] == "double"
    assert "w:double" in open(tmp_path / f"{pascal_file_label(label)}-header.csv").read().split(";")


def test_in_memory_edge_call_job_budget(spark, schema_path, tmp_path):
    """An in-memory add reads its admitted rows' property layouts with one
    aggregate, not a distinct-label collect plus per-label probes: the
    second edge call of _THREE_CALLS, which also adds its reified nodes,
    runs at most 25 Spark jobs (35 with per-label probes)."""
    bc = BioCypherSpark(spark, output_directory=str(tmp_path), schema_config_path=schema_path)
    (nodes1, edges1), (nodes2, edges2), _ = _staged_calls(spark)
    bc.add(nodes1)
    bc.add(edges1)
    bc.add(nodes2)
    _, jobs = spark_jobs(spark, lambda: bc.add(edges2))
    assert len(jobs) <= 25, len(jobs)
    assert sorted(r["node_id"] for r in bc.get_kg()["post translational interaction"].collect()) == ["i2"]
