"""Neo4j batch-writer golden tests (mirror of reference test_neo4j.py)."""

import os

import pytest

from biocypher_spark.mapping import SchemaMapping
from biocypher_spark.model import edges_from_tuples, nodes_from_tuples
from biocypher_spark.ontology import NullOntology, Ontology
from biocypher_spark.translate import SparkTranslator
from biocypher_spark.writer.neo4j import Neo4jBatchWriter
from conftest import spark_jobs
from fixtures.data_generator import (
    mirna_nodes,
    mutated_edges,
    perturbed_edges,
    protein_nodes,
    rel_as_node_edges,
)


@pytest.fixture()
def bw(spark, schema_path, tmp_path):
    translator = SparkTranslator(spark, NullOntology(SchemaMapping(schema_path)))
    return Neo4jBatchWriter(spark, translator, str(tmp_path))


def read(path):
    with open(path) as fh:
        return fh.read()


def _write_translated_nodes(spark, bw, tuples):
    out = bw.translator.translate_nodes(nodes_from_tuples(spark, tuples))
    assert bw.write_nodes(out.nodes)
    return out


def test_node_headers_and_data(spark, bw, tmp_path):
    _write_translated_nodes(spark, bw, protein_nodes(4) + mirna_nodes(4))
    bw.write_import_call()

    header = read(tmp_path / "Protein-header.csv")
    assert header == ":ID;name;score:double;taxon:long;genes:string[];id;preferred_id;:LABEL"
    mirna_header = read(tmp_path / "MicroRNA-header.csv")
    assert mirna_header == ":ID;name;taxon:long;id;preferred_id;:LABEL"

    protein = read(tmp_path / "Protein-part000.csv")
    # golden line (reference test_neo4j.py:321-324 with headless label)
    assert "p1;'StringProperty1';4.0;9606;'gene1|gene2';'p1';'uniprot';'Protein'" in protein
    assert len(protein.strip().split("\n")) == 4
    mirna = read(tmp_path / "MicroRNA-part000.csv")
    assert "m1;'StringProperty1';9606;'m1';'mirbase.mature';'MicroRNA'" in mirna

    call = read(tmp_path / "neo4j-admin-import-call.sh")
    assert "neo4j-admin" in call
    assert '--delimiter=";"' in call
    assert '--nodes="' in call
    assert "Protein-header.csv" in call and 'Protein-part.*"' in call


def test_property_quote_escaping(spark, bw, tmp_path):
    _write_translated_nodes(
        spark,
        bw,
        [("p1", "protein", {"name": "Pandora's box", "score": 4.0, "taxon": 9606, "genes": ["g1"]})],
    )
    data = read(tmp_path / "Protein-part000.csv")
    assert "p1;'Pandora''s box'" in data


def test_newline_scrubbing(spark, bw, tmp_path):
    _write_translated_nodes(
        spark,
        bw,
        [("p1", "protein", {"name": "line1\nline2\rx", "score": 1.0, "taxon": 1, "genes": ["a\nb"]})],
    )
    data = read(tmp_path / "Protein-part000.csv")
    assert "'line1 line2 x'" in data
    assert "'a b'" in data


def test_boolean_and_inferred_props(spark, bw, tmp_path):
    # post translational interaction has no declared properties -> inference
    out = bw.translator.translate_edges(
        edges_from_tuples(
            spark,
            [
                ("i1", "a1", "a2", "post_translational", {"directed": True, "effect": -1}),
                ("i2", "a2", "a3", "post_translational", {"directed": False, "effect": 1}),
            ],
        )
    )
    assert bw.write_edges(out)
    data = read(tmp_path / "PostTranslationalInteraction-part000.csv")
    assert "i1;true;-1;'i1';'id';'PostTranslationalInteraction'" in data
    assert "i2;false;1;'i2';'id';'PostTranslationalInteraction'" in data
    assert "True" not in data and "False" not in data


def test_edge_headers_and_data(spark, bw, tmp_path):
    out = bw.translator.translate_edges(
        edges_from_tuples(spark, perturbed_edges(4)[1:] + mutated_edges(4)[1:])
    )
    assert bw.write_edges(out)
    assert read(tmp_path / "PERTURBED_IN_DISEASE-header.csv") == ":START_ID;id;residue;level:long;:END_ID;:TYPE"
    assert read(tmp_path / "Is_Mutated_In-header.csv") == ":START_ID;id;site;confidence:long;:END_ID;:TYPE"
    pid = read(tmp_path / "PERTURBED_IN_DISEASE-part000.csv")
    assert "prel1;p1;'T253';4;p2;'PERTURBED_IN_DISEASE'".replace("prel1;p1", "p1;prel1") in pid or (
        "p1;prel1;'T253';4;p2;'PERTURBED_IN_DISEASE'" in pid
    )
    mut = read(tmp_path / "Is_Mutated_In-part000.csv")
    assert "m1;mrel1;'3-UTR';1;p2;'Is_Mutated_In'" in mut


def test_write_duplicate_edges(spark, bw, tmp_path):
    edges = perturbed_edges(4)[1:] + mutated_edges(4)[1:]
    edges.append(edges[0])
    out = bw.translator.translate_edges(edges_from_tuples(spark, edges))
    assert bw.write_edges(out)
    pid = read(tmp_path / "PERTURBED_IN_DISEASE-part000.csv")
    assert len(pid.strip().split("\n")) == 3
    dups = bw.get_duplicate_edges().collect()
    assert {(d["label"], d["dup_id"]) for d in dups} == {("PERTURBED_IN_DISEASE", "prel1")}


def test_rel_as_node(spark, bw, tmp_path):
    out = bw.translator.translate_edges(edges_from_tuples(spark, rel_as_node_edges(4)))
    assert bw.write_edges(out)
    iso = read(tmp_path / "IS_SOURCE_OF-part000.csv")
    ito = read(tmp_path / "IS_TARGET_OF-part000.csv")
    pti = read(tmp_path / "PostTranslationalInteraction-part000.csv")
    assert "i1;" in iso and "p1;" in iso and "IS_SOURCE_OF" in iso
    assert "i1;" in ito and "p2;" in ito and "IS_TARGET_OF" in ito
    assert "i1;true;-1;'i1';'id'" in pti
    # IS_SOURCE_OF header has no id column
    assert read(tmp_path / "IS_SOURCE_OF-header.csv") == ":START_ID;:END_ID;:TYPE"


# a reified class declared the tutorial way: represented_as node, no
# source/target and no label_as_edge — the translator reifies every edge
# whose class is represented_as node
_TUTORIAL_RAN_SCHEMA = {
    "protein": {"represented_as": "node", "input_label": "protein", "properties": {"name": "str"}},
    "protein protein interaction": {
        "represented_as": "node",
        "input_label": "interacts_with",
        "properties": {"score": "float"},
    },
    "regulation": {
        "represented_as": "edge",
        "input_label": "regulates",
        "label_as_edge": "REGULATES",
        "properties": {"score": "float"},
    },
}


@pytest.mark.parametrize("validate_props", [True, False])
def test_rel_as_node_without_endpoints_via_facade(spark, tmp_path, validate_props):
    """BioCypherSpark.write_edges writes the reified nodes and their
    IS_PART_OF helper edges of a class without source/target; with
    validate_props off the declared labels skip the per-label probe and
    the helper edges are still written."""
    from biocypher_spark.core import BioCypherSpark

    bc = BioCypherSpark(
        spark, output_directory=str(tmp_path), schema=_TUTORIAL_RAN_SCHEMA, validate_props=validate_props
    )
    assert bc.write_edges(
        [
            ("i1", "p1", "p2", "interacts_with", {"score": 0.5}),
            ("i2", "p2", "p3", "interacts_with", {"score": 0.7}),
            ("r1", "p1", "p3", "regulates", {"score": 0.9}),
        ]
    )
    ppi = read(tmp_path / "ProteinProteinInteraction-part000.csv").strip().split("\n")
    assert sorted(line.split(";")[0] for line in ppi) == ["i1", "i2"]
    part_of = read(tmp_path / "IS_PART_OF-part000.csv").strip().split("\n")
    assert sorted(tuple(line.split(";")[:2]) for line in part_of) == [
        ("p1", "i1"), ("p2", "i1"), ("p2", "i2"), ("p3", "i2"),
    ]
    assert read(tmp_path / "IS_PART_OF-header.csv") == ":START_ID;:END_ID;:TYPE"
    assert read(tmp_path / "REGULATES-part000.csv") == "p1;r1;0.9;p3;'REGULATES'\n"
    assert os.path.isfile(tmp_path / "ProteinProteinInteraction-header.csv")


def test_part_numbering_across_calls(spark, bw, tmp_path):
    _write_translated_nodes(spark, bw, protein_nodes(2))
    _write_translated_nodes(spark, bw, protein_nodes(4)[2:])
    assert os.path.isfile(tmp_path / "Protein-part000.csv")
    assert os.path.isfile(tmp_path / "Protein-part001.csv")
    p0 = read(tmp_path / "Protein-part000.csv")
    p1 = read(tmp_path / "Protein-part001.csv")
    assert "p1;" in p0 and "p3;" in p1


def test_batch_size_splits_parts(spark, bw, tmp_path):
    bw.batch_size = 3
    _write_translated_nodes(spark, bw, protein_nodes(7))
    files = sorted(f for f in os.listdir(tmp_path) if f.startswith("Protein-part"))
    assert files == ["Protein-part000.csv", "Protein-part001.csv", "Protein-part002.csv"]
    # ordering: first file holds p1..p3 in arrival order
    assert read(tmp_path / "Protein-part000.csv").startswith("p1;")
    lines = read(tmp_path / "Protein-part000.csv").strip().split("\n")
    assert [ln.split(";")[0] for ln in lines] == ["p1", "p2", "p3"]
    assert read(tmp_path / "Protein-part002.csv").startswith("p7;")


def test_duplicate_nodes_skipped_across_calls(spark, bw, tmp_path):
    _write_translated_nodes(spark, bw, protein_nodes(2))
    _write_translated_nodes(spark, bw, protein_nodes(3))  # p1,p2 dups
    p1 = read(tmp_path / "Protein-part001.csv")
    assert [ln.split(";")[0] for ln in p1.strip().split("\n")] == ["p3"]
    dups = {(d["kind"], d["dup_id"]) for d in bw.get_duplicate_nodes().collect()}
    assert dups == {("node", "p1"), ("node", "p2")}


def test_inconsistent_props_raise(spark, bw):
    # microRNA has no declared properties -> first-entity inference; a second
    # entity with a different key set must fail (reference
    # test_neo4j.py:523-573 semantics)
    out = bw.translator.translate_nodes(
        nodes_from_tuples(
            spark,
            [("m1", "mirna", {"name": "x", "taxon": 9606}), ("m2", "mirna", {"name": "y"})],
        )
    )
    with pytest.raises(ValueError, match="more or fewer properties"):
        bw.write_nodes(out.nodes)


def test_labels_order_with_ontology(spark, schema_path, tmp_path):
    # small hierarchy: protein -> polypeptide -> biological entity
    onto = Ontology(
        SchemaMapping(schema_path),
        parent_map={"protein": "polypeptide", "polypeptide": "biological entity"},
    )
    translator = SparkTranslator(spark, onto)

    for order, expected in [
        ("Ascending", "'Protein|Polypeptide|BiologicalEntity'"),
        ("Descending", "'BiologicalEntity|Polypeptide|Protein'"),
        ("Alphabetical", "'BiologicalEntity|Polypeptide|Protein'"),
        ("Leaves", "'Protein'"),
    ]:
        outdir = tmp_path / order
        bw = Neo4jBatchWriter(spark, translator, str(outdir), labels_order=order)
        out = translator.translate_nodes(nodes_from_tuples(spark, protein_nodes(1)))
        bw.write_nodes(out.nodes)
        data = read(outdir / "Protein-part000.csv")
        assert data.strip().split(";")[-1] == expected, order


def test_batch_boundary_cases(spark, bw, tmp_path):
    """Reference parametrizes 1e4 and 1e4+4 around the batch size
    (test_neo4j.py:496-520,632-670): exactly full batches must not produce
    an empty trailing part file."""
    bw.batch_size = int(1e4)
    _write_translated_nodes(spark, bw, protein_nodes(10004))
    files = sorted(f for f in os.listdir(tmp_path) if f.startswith("Protein-part"))
    assert files == ["Protein-part000.csv", "Protein-part001.csv"]
    n0 = sum(1 for _ in open(tmp_path / "Protein-part000.csv"))
    n1 = sum(1 for _ in open(tmp_path / "Protein-part001.csv"))
    assert (n0, n1) == (10000, 4)


def test_object_store_output_dir_rejected(spark, schema_path):
    # part-file glob/rename and neo4j-admin import are local-filesystem;
    # an object-store URI must fail at construction, not corrupt silently.
    # file:// must fail too: Spark resolves it to the real path while
    # os.makedirs/glob treat it literally (makedirs('file:///x') creates
    # './file:/x'), so the layout would be written one place and
    # renamed/read from another
    translator = SparkTranslator(spark, NullOntology(SchemaMapping(schema_path)))
    for bad in ("s3a://bucket/out", "file:///mnt/out"):
        with pytest.raises(ValueError, match="local"):
            Neo4jBatchWriter(spark, translator, bad)


def test_uri_output_dir_rejected_across_writers(spark, schema_path):
    # every writer whose layout goes Spark-write -> driver-side glob/rename
    # shares the same guard (RDF, BioPathNet, pandas-CSV)
    from biocypher_spark.inmemory import PandasCSVWriter
    from biocypher_spark.writer.biopathnet import BioPathNetWriter
    from biocypher_spark.writer.rdf import RDFWriter

    translator = SparkTranslator(spark, NullOntology(SchemaMapping(schema_path)))
    for bad in ("s3a://bucket/out", "file:///mnt/out"):
        with pytest.raises(ValueError, match="local"):
            RDFWriter(spark, translator, bad)
        with pytest.raises(ValueError, match="local"):
            BioPathNetWriter(spark, translator, bad)
        with pytest.raises(ValueError, match="local"):
            PandasCSVWriter(bad)


def test_duplicate_reports_over_many_calls(spark, schema_path):
    """An admission that is never repointed (such as the facade's) keeps
    answering over many calls: the duplicate report holds every in-call and
    cross-call duplicate once (set semantics), the seen keys hold each id
    once, and the seen state's plan stays small."""
    from biocypher_spark.dedup import Admission

    translator = SparkTranslator(spark, NullOntology(SchemaMapping(schema_path)))
    admission = Admission()
    calls = 12
    for call in range(calls):
        # p{call} twice in the call, p{call - 1} again from the last call
        rows = [(f"p{i}", "protein", {"name": "x", "score": 1.0, "taxon": 1, "genes": []}) for i in (call, call, call - 1)]
        nodes = translator.translate_nodes(nodes_from_tuples(spark, rows)).nodes
        admission.nodes(nodes).count()
        admission.release_earlier_row_pins("node")
        seen = admission.key_spaces["_seen_nodes"].seen
        assert len(seen._jdf.queryExecution().executedPlan().toString()) < 2000 * (call + 1), call
    got = sorted(tuple(r) for r in admission.duplicates("node").distinct().collect())
    assert got == sorted(("node", "protein", f"p{i}") for i in range(calls))
    assert sorted(r["_key"] for r in seen.collect()) == sorted(f"p{i}" for i in range(-1, calls))


def test_strict_mode_tolerates_both_license_spellings(spark, schema_path):
    """An entity carrying BOTH 'license' and 'licence' must not crash with
    DUPLICATED_MAP_KEY — 'license' wins, matching the reference's
    props['licence'] = props.pop('license')."""
    t = SparkTranslator(spark, NullOntology(SchemaMapping(schema_path)), strict_mode=True)
    nodes = t.translate_nodes(
        nodes_from_tuples(
            spark,
            [("p1", "protein", {
                "license": "MIT", "licence": "GPL",
                "source": "s", "version": "1",
                "name": "x", "score": 1.0, "taxon": 9606, "genes": [],
            })],
        )
    )
    rows = nodes.nodes.collect()
    assert len(rows) == 1
    assert rows[0]["props"]["licence"] == '"MIT"'


def test_edge_labels_order_validated(spark, schema_path, tmp_path):
    # Postgres writer: edge order is NOT forced, so a typo'd value must
    # raise instead of silently falling through to Ascending
    from biocypher_spark.writer.postgres import PostgresBatchWriter

    translator = SparkTranslator(spark, NullOntology(SchemaMapping(schema_path)))
    with pytest.raises(ValueError, match="Invalid labels_order"):
        PostgresBatchWriter(
            spark, translator, str(tmp_path), node_labels_order="Ascending",
            edge_labels_order="leaves",
        )


def test_empty_sanitized_label_gets_placeholder():
    from biocypher_spark.writer.base import pascal_file_label

    assert pascal_file_label("") == "Unlabeled"
    assert pascal_file_label("\u6f22\u5b57") == "Unlabeled"
    assert pascal_file_label("protein") == "Protein"


def test_first_wins_dedup_across_calls(spark, schema_path, tmp_path):
    """One writer, two calls: the surviving part-file rows, the in-call and
    cross-call duplicate metrics, and the seen state. Call 1 carries an
    in-call duplicate (p1 twice, second occurrence under a different label);
    call 2 replays p1/p2 (cross-call dups) and introduces p3 with its own
    in-call duplicate."""
    import glob as _glob

    translator = SparkTranslator(spark, NullOntology(SchemaMapping(schema_path)))
    call1 = [
        ("p1", "protein", {"name": "a", "score": 1.0, "taxon": 1, "genes": []}),
        ("p2", "protein", {"name": "b", "score": 2.0, "taxon": 1, "genes": []}),
        ("p1", "mirna", {"name": "dup", "taxon": 1}),
    ]
    call2 = [
        ("p1", "protein", {"name": "a2", "score": 3.0, "taxon": 1, "genes": []}),
        ("p3", "protein", {"name": "c", "score": 4.0, "taxon": 1, "genes": []}),
        ("p3", "protein", {"name": "c-dup", "score": 5.0, "taxon": 1, "genes": []}),
        ("p2", "mirna", {"name": "replay", "taxon": 1}),
    ]
    w = Neo4jBatchWriter(spark, translator, str(tmp_path), ordered_parts=False)
    for call in (call1, call2):
        w.write_nodes(translator.translate_nodes(nodes_from_tuples(spark, call)).nodes)

    lines = sorted(
        line
        for p in _glob.glob(str(tmp_path / "*-part*.csv"))
        for line in open(p).read().splitlines()
    )
    assert lines == [
        "p1;'a';1.0;1;'';'p1';'uniprot';'Protein'",
        "p2;'b';2.0;1;'';'p2';'uniprot';'Protein'",
        "p3;'c';4.0;1;'';'p3';'uniprot';'Protein'",
    ]
    dups = sorted((r["kind"], r["label"], r["dup_id"]) for r in w.get_duplicate_nodes().collect())
    assert dups == [
        ("node", "microRNA", "p1"),  # call-1 in-call dup (second label)
        ("node", "microRNA", "p2"),  # call-2 cross-call replay of p2
        ("node", "protein", "p1"),   # call-2 cross-call replay of p1
        ("node", "protein", "p3"),   # call-2 in-call dup
    ]
    assert sorted(r["_key"] for r in w.admission.key_spaces["_seen_nodes"].seen.collect()) == ["p1", "p2", "p3"]


def test_dedup_against_seen_starts_no_job(spark, schema_path, tmp_path):
    """With seen state from an earlier call, the dedup only builds plans:
    its caches are filled by the jobs that consume them (the part write)."""
    translator = SparkTranslator(spark, NullOntology(SchemaMapping(schema_path)))
    w = Neo4jBatchWriter(spark, translator, str(tmp_path), ordered_parts=False, track_seen=True)
    w.write_nodes(translator.translate_nodes(nodes_from_tuples(spark, protein_nodes(2))).nodes)
    assert w.admission.key_spaces["_seen_nodes"].seen is not None
    nodes = translator.translate_nodes(nodes_from_tuples(spark, protein_nodes(4))).nodes

    _, jobs = spark_jobs(spark, lambda: w.admission.key_spaces["_seen_nodes"].admit(nodes))
    assert jobs == []


def test_facade_keeps_row_pins_of_latest_call_only(spark, schema_path, tmp_path, monkeypatch):
    """The facade never repoints its admission's state: once a write call
    has written its part files, no full-row frame persisted by an earlier
    call may still be cached."""
    from pyspark.storagelevel import StorageLevel

    from biocypher_spark.core import BioCypherSpark

    frame_cls = type(spark.range(1))
    persist = frame_cls.persist
    persisted = []  # (call, frame) for every persisted frame carrying rows

    def spy(self, *args, **kwargs):
        out = persist(self, *args, **kwargs)
        if "props" in self.columns:
            persisted.append((call, out))
        return out

    monkeypatch.setattr(frame_cls, "persist", spy)
    bc = BioCypherSpark(spark, output_directory=str(tmp_path), schema_config_path=schema_path)
    calls = 3
    for call in range(calls):
        # each call repeats the previous call's ids and adds new ones
        bc.write_nodes(protein_nodes(2 * (call + 1)))
    monkeypatch.undo()

    for earlier in range(calls - 1):
        frames = [df for c, df in persisted if c == earlier]
        assert frames, f"call {earlier} persisted no full-row frame"
        assert all(df.storageLevel == StorageLevel.NONE for df in frames), earlier
    latest = [df for c, df in persisted if c == calls - 1]
    assert any(df.storageLevel != StorageLevel.NONE for df in latest)
    bc.writer.admission.repoint_state(None)
    assert all(df.storageLevel == StorageLevel.NONE for _, df in persisted)


def _part_lines_by_label(outdir):
    """{file label: [(part number, lines)]} of every part file in outdir."""
    out = {}
    for name in sorted(os.listdir(outdir)):
        if "-part" in name:
            label, part = name[: -len(".csv")].rsplit("-part", 1)
            out.setdefault(label, []).append((int(part), read(os.path.join(outdir, name)).splitlines()))
    return out


@pytest.mark.parametrize("labels", [("A", "B"), ("S",) * 6], ids=["disjoint", "shared"])
def test_concurrent_write_part_files_into_one_outdir(spark, tmp_path, monkeypatch, labels):
    """Threads writing part files into one outdir at once: each call keeps
    its own temp dir, and calls sharing a file label still get distinct,
    contiguous part numbers."""
    import threading

    from biocypher_spark.model import SEQ
    from biocypher_spark.writer import base

    frames = [
        spark.createDataFrame(
            [(label, f"{label}:{k}:{i}", k * 1000 + i) for i in range(60)], f"_plabel string, line string, {SEQ} long"
        ).repartition(4)
        for k, label in enumerate(labels)
    ]
    outdir = str(tmp_path)
    start = threading.Barrier(len(frames))
    errors = []
    # each call's first rename waits (up to 1 s) for every other call to
    # reach its own: unserialized numbering would then collide every time,
    # while the rename lock makes the wait time out
    meet, met, move = threading.Barrier(len(frames)), set(), base.shutil.move

    def meeting_move(src, dst):
        if threading.get_ident() not in met:
            met.add(threading.get_ident())
            try:
                meet.wait(timeout=1)
            except threading.BrokenBarrierError:
                pass
        return move(src, dst)

    monkeypatch.setattr(base.shutil, "move", meeting_move)

    def call(df):
        try:
            start.wait()
            base.write_part_files(df, outdir, batch_size=7, ordered=False)
        except Exception as e:
            errors.append(e)

    threads = [threading.Thread(target=call, args=(df,)) for df in frames]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    parts = _part_lines_by_label(outdir)
    assert set(parts) == set(labels)
    for label, files in parts.items():
        assert [n for n, _ in files] == list(range(len(files)))
        assert all(0 < len(lines) <= 7 for _, lines in files)
    written = sorted(line for files in parts.values() for _, lines in files for line in lines)
    expected = sorted(f"{label}:{k}:{i}" for k, label in enumerate(labels) for i in range(60))
    assert written == expected
    assert not [d for d in os.listdir(outdir) if d.startswith("_tmp_parts")]


def test_label_as_edge_resolves_to_one_schema_class(spark, tmp_path):
    """A label_as_edge label resolves to its class alike for the declared
    properties, the ArangoDB collection name and the use_id: false skip."""
    from biocypher_spark.writer.arango import ArangoDBBatchWriter
    from biocypher_spark.writer.base import declared_props, schema_class

    mapping = SchemaMapping(
        schema={
            "gene regulates gene": {
                "represented_as": "edge",
                "label_as_edge": "REGULATES",
                "input_label": "regulation",
                "use_id": False,
                "db_collection_name": "regulation_edges",
                "properties": {"weight": "float"},
            },
        }
    )
    schema = mapping.extended_schema
    translator = SparkTranslator(spark, NullOntology(mapping))
    neo = Neo4jBatchWriter(spark, translator, str(tmp_path / "neo4j"))
    arango = ArangoDBBatchWriter(spark, translator, str(tmp_path / "arango"))
    for label in ("REGULATES", "gene regulates gene"):
        assert schema_class(schema, label) is schema["gene regulates gene"]
        assert declared_props(schema, label) == {"weight": "float"}
        assert arango._collection(label) == "regulation_edges"
        assert neo._edge_skip_id(label) is True
    assert schema_class(schema, "UNKNOWN") is None
    assert declared_props(schema, "UNKNOWN") is None
    assert arango._collection("UNKNOWN") is None
    assert neo._edge_skip_id("UNKNOWN") is False
    assert neo._edge_skip_id("IS_PART_OF") is True
