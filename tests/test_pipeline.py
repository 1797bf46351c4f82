"""End-to-end pipeline tests: extract -> link -> translate -> dedup -> write."""

import collections
import glob
import os
import shutil

import pytest
from pyspark.sql import functions as F

from biocypher_spark.pipeline import KGPipeline
from biocypher_spark.transcripts import generate_transcripts
from conftest import spark_jobs


@pytest.fixture(scope="module")
def result(spark, tmp_path_factory):
    outdir = str(tmp_path_factory.mktemp("kg"))
    transcripts = generate_transcripts(spark, 3000)
    pipe = KGPipeline(spark, outdir)
    res = pipe.run(transcripts)
    return res, outdir


def test_counts_and_layout(result):
    res, outdir = result
    assert res.counts["mentions"] > 0
    assert res.counts["nodes"] > 0
    assert res.counts["edges"] > 0
    files = os.listdir(outdir)
    assert "Protein-header.csv" in files
    assert "Protein-part000.csv" in files
    assert "Disease-header.csv" in files
    assert "INTERACTS_WITH-header.csv" in files
    assert "LINKED_TO-header.csv" in files
    assert "neo4j-admin-import-call.sh" in files
    with open(os.path.join(outdir, "Protein-header.csv")) as fh:
        assert fh.read() == ":ID;name;id;preferred_id;:LABEL"
    with open(os.path.join(outdir, "INTERACTS_WITH-header.csv")) as fh:
        assert fh.read() == ":START_ID;id;turns:long;:END_ID;:TYPE"


def test_triples_view(result):
    res, _ = result
    triples = res.triples()
    assert triples.columns == ["subj", "pred", "obj"]
    preds = {r["pred"] for r in triples.select("pred").distinct().collect()}
    assert preds == {"INTERACTS_WITH", "LINKED_TO"}
    # canonical node ids: all edge endpoints exist in nodes
    node_ids = res.nodes.select(F.col("node_id").alias("subj"))
    dangling = triples.join(node_ids, "subj", "left_anti").count()
    assert dangling == 0


def test_lineage_written(result, spark):
    res, _ = result
    lineage = spark.read.parquet(res.lineage_path)
    stages = {r["stage"] for r in lineage.select("stage").distinct().collect()}
    assert {"mentions", "linked", "nodes", "edges"} <= stages
    assert lineage.filter(F.col("rows") > 0).count() > 0


def test_metrics_table_written(result, spark):
    res, _ = result
    metrics = spark.read.parquet(res.metrics_path)
    names = {r["metric"] for r in metrics.select("metric").collect()}
    assert {"rows_mentions", "rows_nodes", "rows_edges"} <= names
    assert any(n.startswith("sec_") for n in names)
    rows_nodes = metrics.filter(F.col("metric") == "rows_nodes").head()["value"]
    assert rows_nodes == res.counts["nodes"]


def test_resume_skips_stages(spark, tmp_path):
    outdir = str(tmp_path / "kg2")
    transcripts = generate_transcripts(spark, 500)
    pipe = KGPipeline(spark, outdir)
    r1 = pipe.run(transcripts)
    # resume with an EMPTY transcripts frame: checkpointed stages are read
    # back, so outputs match the first run
    pipe2 = KGPipeline(spark, outdir)
    empty = transcripts.limit(0)
    r2 = pipe2.run(empty, resume=True)
    assert r2.counts["mentions"] == r1.counts["mentions"]
    assert r2.counts["nodes"] == r1.counts["nodes"]


def test_resume_does_not_duplicate_part_files(spark, tmp_path):
    import os as _os

    outdir = str(tmp_path / "kg3")
    transcripts = generate_transcripts(spark, 400)
    KGPipeline(spark, outdir).run(transcripts)
    first = sorted(f for f in _os.listdir(outdir) if "-part" in f)
    KGPipeline(spark, outdir).run(transcripts.limit(0), resume=True)
    second = sorted(f for f in _os.listdir(outdir) if "-part" in f)
    assert first == second


def test_crash_between_write_and_checkpoint_wipes_stale_parts(spark, tmp_path):
    """A run that crashed AFTER emitting part files but BEFORE the nodes/edges
    checkpoints landed must not double the imported data on the next run:
    stale {Label}-part*.csv are wiped before re-emission."""
    import os as _os
    import shutil

    outdir = str(tmp_path / "kg4")
    transcripts = generate_transcripts(spark, 400)
    KGPipeline(spark, outdir).run(transcripts)
    first = sorted(f for f in _os.listdir(outdir) if "-part" in f)
    # simulate the crash: writer output exists, stage checkpoints missing
    shutil.rmtree(os.path.join(outdir, "_run", "nodes"))
    shutil.rmtree(os.path.join(outdir, "_run", "edges"))
    KGPipeline(spark, outdir).run(transcripts, resume=True)
    second = sorted(f for f in _os.listdir(outdir) if "-part" in f)
    assert first == second  # same files, no -partNNN continuation appended


def test_label_collision_yields_namespaced_nodes(spark, tmp_path):
    """One canonical id under two labels -> two distinct node ids, never a
    nondeterministic first-wins tie (ADVICE: label-agnostic canonicalize)."""
    import datetime

    rows = [
        ("c1", 0, "user", "tp53 discussed with diabetes context", None, datetime.datetime(2024, 1, 1, 0, 0)),
        ("c1", 1, "assistant", "tp53 again", None, datetime.datetime(2024, 1, 1, 0, 1)),
    ]
    transcripts = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    )
    outdir = str(tmp_path / "kg5")
    # patterns that BOTH match the same surface 'tp53'
    res = KGPipeline(spark, outdir).run(
        transcripts, patterns={"protein": r"\btp53\b", "disease": r"\b(?:tp53|diabetes)\b"}
    )
    ids = [r["node_id"] for r in res.nodes.collect()]
    assert len(ids) == len(set(ids))  # no id collisions
    assert any(i.startswith("protein:") for i in ids)
    assert any(i.startswith("disease:") for i in ids)


def test_default_schema_loads_from_zip(tmp_path, monkeypatch):
    """--py-files deployments resolve the default schema from INSIDE the zip
    (os.path.exists is False for zip members), so local and cluster runs
    share one schema file instead of silently falling back to the embedded
    dict."""
    import zipfile

    import biocypher_spark.pipeline as pl

    zpath = tmp_path / "fake.zip"
    with zipfile.ZipFile(zpath, "w") as zf:
        zf.writestr(
            "config/transcripts_schema.yaml",
            "zipped thing:\n  represented_as: node\n  input_label: zt\n",
        )
    monkeypatch.setattr(pl, "DEFAULT_SCHEMA", str(zpath) + "/config/transcripts_schema.yaml")
    mapping = pl.load_default_schema_mapping()
    assert "zipped thing" in mapping.extended_schema
    # corrupt/missing member -> embedded dict fallback
    monkeypatch.setattr(pl, "DEFAULT_SCHEMA", str(zpath) + "/config/absent.yaml")
    fallback = pl.load_default_schema_mapping()
    assert "protein" in fallback.extended_schema


def test_rerun_resets_lineage(spark, tmp_path):
    # a retried run() on the same pipeline object must not carry the first
    # attempt's lineage rows (per-bucket counts would double and coverage
    # verification could no longer tell once-processed from twice)
    outdir = str(tmp_path / "kg")
    pipe = KGPipeline(spark, outdir)
    transcripts = generate_transcripts(spark, 1000)
    r1 = pipe.run(transcripts)
    n1 = spark.read.parquet(r1.lineage_path).count()
    r2 = pipe.run(transcripts, resume=True)
    assert spark.read.parquet(r2.lineage_path).count() == n1


def test_object_store_output_dir_rejected(spark, tmp_path):
    # resume markers / stale-part wipe are local-filesystem; an object-store
    # URI would silently break both, so it must fail loudly at construction
    with pytest.raises(ValueError, match="local"):
        KGPipeline(spark, "s3a://bucket/out")
    # file:// is equally broken for the driver-side markers/globs: Spark
    # resolves the URI, os.path/glob treat it as a literal relative path
    with pytest.raises(ValueError, match="local"):
        KGPipeline(spark, "file:///mnt/out")
    # an explicit run_dir holds the resume markers and the driver-written
    # lineage/metrics tables, so it must be local as well
    with pytest.raises(ValueError, match="local"):
        KGPipeline(spark, str(tmp_path / "out"), run_dir="s3a://bucket/run")


def test_triple_tuples_schema_driven_labels(spark):
    # custom gazetteers must not be forced through the protein/disease
    # hardcoding: cross-label pairs orient toward a declared edge
    # input_label, undeclared pairs get a deterministic label-alphabetical
    # orientation (and then surface in missing-type metrics downstream)
    from biocypher_spark.pipeline import build_triple_tuples

    linked = spark.createDataFrame(
        [
            # drug+gene co-occur in turn 1; schema declares gene_drug
            ("c1", 1, "drug", "aspirin", "aspirin"),
            ("c1", 1, "gene", "brca1", "brca1"),
            # two genes co-occur in turn 2 (same-label, undeclared)
            ("c1", 2, "gene", "brca1", "brca1"),
            ("c1", 2, "gene", "tp53", "tp53"),
        ],
        "conv_id string, turn_idx int, input_label string, canonical_id string, surface string",
    )
    _, edges = build_triple_tuples(linked, edge_labels={"gene_drug"})
    rows = {r["input_label"]: r for r in edges.collect()}
    assert set(rows) == {"gene_drug", "gene_gene"}
    # declared orientation wins: gene is src even though 'aspirin' < 'brca1'
    assert rows["gene_drug"]["src"] == "gene:brca1"
    assert rows["gene_drug"]["tgt"] == "drug:aspirin"
    # same-label pair emitted (was silently dropped), canonical-id order
    assert rows["gene_gene"]["src"] == "gene:brca1"
    assert rows["gene_gene"]["tgt"] == "gene:tp53"


def test_triple_tuples_default_labels_unchanged(spark):
    # the default schema still yields exactly the protein-first shapes
    from biocypher_spark.pipeline import build_triple_tuples

    linked = spark.createDataFrame(
        [
            ("c1", 1, "disease", "dis1", "DIS1"),
            ("c1", 1, "protein", "prot9", "PROT9"),
            ("c1", 2, "protein", "prot1", "PROT1"),
            ("c1", 2, "protein", "prot2", "PROT2"),
        ],
        "conv_id string, turn_idx int, input_label string, canonical_id string, surface string",
    )
    _, edges = build_triple_tuples(linked)
    rows = {r["input_label"]: r for r in edges.collect()}
    assert rows["protein_disease"]["src"] == "protein:prot9"
    assert rows["protein_disease"]["tgt"] == "disease:dis1"
    assert rows["protein_protein"]["src"] == "protein:prot1"


def test_run_job_budget(spark, tmp_path):
    """KGPipeline.run runs one Spark action per output (four checkpoint
    writes, the canonical-map collect, one CSV write per entity kind); the
    lineage comes from observed aggregates on the checkpoint writes, and the
    writer reads the checkpoints without a per-label probe."""
    transcripts = generate_transcripts(spark, 3000)
    _, jobs = spark_jobs(spark, lambda: KGPipeline(spark, str(tmp_path / "kg")).run(transcripts))
    # 50 jobs when the lineage was a groupBy+collect per stage, the tuple
    # frames were pinned and the writer probed labels; 17 since. The lower
    # bound is this input's count: the edge chain's jobs run on a second
    # driver thread, and one that lost the job group would go uncounted
    assert 16 <= len(jobs) <= 20, f"{len(jobs)} Spark jobs"


_LINEAGE_KEYS = {"mentions": "conv_id", "linked": "conv_id", "nodes": "node_id", "edges": "source_id"}


def _lineage(spark, path):
    return sorted((r["stage"], r["partition_key"], r["rows"]) for r in spark.read.parquet(path).collect())


def _recomputed_lineage(spark, run_dir):
    out = []
    for stage, key in _LINEAGE_KEYS.items():
        df = spark.read.parquet(os.path.join(run_dir, stage))
        for r in df.groupBy(F.pmod(F.xxhash64(key), F.lit(16)).alias("b")).count().collect():
            out.append((stage, f"bucket={r['b']}", r["count"]))
    return sorted(out)


def test_observed_lineage_matches_checkpoints(spark, tmp_path):
    outdir = str(tmp_path / "kg")
    run_dir = os.path.join(outdir, "_run")
    transcripts = generate_transcripts(spark, 800)
    fresh = KGPipeline(spark, outdir).run(transcripts)
    expected = _recomputed_lineage(spark, run_dir)
    assert _lineage(spark, fresh.lineage_path) == expected
    # resumed: mentions/linked are read back (counted by an aggregate over
    # the read-back frame), nodes/edges are rewritten (observed on the write)
    shutil.rmtree(os.path.join(run_dir, "nodes"))
    shutil.rmtree(os.path.join(run_dir, "edges"))
    resumed = KGPipeline(spark, outdir).run(transcripts, resume=True)
    assert _recomputed_lineage(spark, run_dir) == expected
    assert _lineage(spark, resumed.lineage_path) == expected
    assert resumed.counts == fresh.counts


def _csv_rows(outdir):
    """{file label: Counter of (id-ish columns)} parsed through each label's header."""
    out = {}
    for header in glob.glob(os.path.join(outdir, "*-header.csv")):
        label = os.path.basename(header)[: -len("-header.csv")]
        with open(header) as fh:
            cols = fh.read().split(";")
        keep = [cols.index(c) for c in (":ID", ":START_ID", ":END_ID", ":TYPE") if c in cols]
        rows = collections.Counter()
        for part in glob.glob(os.path.join(outdir, f"{label}-part*.csv")):
            with open(part) as fh:
                for line in fh.read().splitlines():
                    fields = line.split(";")
                    rows[tuple(fields[i].strip("'") for i in keep)] += 1
        out[label] = rows
    return out


class _DuplicateTripletPipeline(KGPipeline):
    """Feeds every reified (protein_protein) edge tuple twice, the copy
    arriving later (SEQ + 1), so the rel-as-node dedup has work to do."""

    def _build_tuples(self, linked):
        from biocypher_spark.model import SEQ

        nodes, edges = super()._build_tuples(linked)
        again = edges.filter(F.col("input_label") == "protein_protein").withColumn(SEQ, F.col(SEQ) + 1)
        return nodes, edges.unionByName(again)


def test_rel_as_node_schema_csv_matches_checkpoints(spark, tmp_path, ran_schema):
    """A reified edge class: the CSVs hold exactly the rows of the nodes
    and edges checkpoints (reified nodes with the node labels, helper
    edges with the relationship labels), each duplicated triplet is kept
    once, and the dropped copies are reported as duplicate edges."""
    from biocypher_spark.writer.base import pascal_file_label

    schema = tmp_path / "schema.yaml"
    schema.write_text(ran_schema)
    outdir = str(tmp_path / "kg")
    pipe = _DuplicateTripletPipeline(spark, outdir, schema_config_path=str(schema))
    res = pipe.run(generate_transcripts(spark, 800))
    csv = _csv_rows(outdir)
    expected = collections.defaultdict(collections.Counter)
    for r in res.nodes.collect():
        expected[pascal_file_label(r["node_label"])][(r["node_id"],)] += 1
    for r in res.edges.collect():
        label = r["relationship_label"]
        expected[pascal_file_label(label)][(r["source_id"], r["target_id"], label)] += 1
    assert "ProteinProteinInteraction" in expected and "IS_PART_OF" in expected
    assert csv == dict(expected)
    reified = expected["ProteinProteinInteraction"]
    assert set(reified.values()) == {1}
    assert sum(expected["IS_PART_OF"].values()) == 2 * len(reified)
    dups = {(r["kind"], r["label"], r["dup_id"]) for r in res.duplicate_edges.collect()}
    assert dups == {("edge", "protein protein interaction", node_id) for (node_id,) in reified}


def test_crash_before_csv_marker_reemits_once(spark, tmp_path):
    """A run that crashed after the checkpoints but before the CSV marker
    re-emits the CSVs on resume exactly once: same part files and lines,
    no -partNNN continuation files."""
    outdir = str(tmp_path / "kg")
    transcripts = generate_transcripts(spark, 400)
    KGPipeline(spark, outdir).run(transcripts)
    parts = sorted(glob.glob(os.path.join(outdir, "*-part*.csv")))
    first = _part_lines(outdir)
    # simulate the crash mid-emission: no marker, one part file missing
    shutil.rmtree(os.path.join(outdir, "_run", "csv"))
    os.remove(parts[0])
    KGPipeline(spark, outdir).run(transcripts.limit(0), resume=True)
    assert sorted(glob.glob(os.path.join(outdir, "*-part*.csv"))) == parts
    assert _part_lines(outdir) == first
    assert os.path.exists(os.path.join(outdir, "_run", "csv", "_SUCCESS"))


def _part_lines(outdir):
    """{file label: Counter of its part files' lines}."""
    out = collections.defaultdict(collections.Counter)
    for f in glob.glob(os.path.join(outdir, "*-part*.csv")):
        with open(f) as fh:
            out[os.path.basename(f).rsplit("-part", 1)[0]].update(fh.read().splitlines())
    return dict(out)


@pytest.mark.parametrize("method", ["write_edges", "write_nodes"])
def test_chain_failure_propagates_and_resume_recovers(spark, tmp_path, monkeypatch, method):
    """A failing CSV write on either chain fails run() with its error once
    both chains stopped: no csv marker, no thread left behind, and a resume
    emits the rows of a clean run."""
    import threading

    from biocypher_spark.writer.neo4j import Neo4jBatchWriter

    transcripts = generate_transcripts(spark, 400)
    clean = str(tmp_path / "clean")
    KGPipeline(spark, clean).run(transcripts)
    outdir = str(tmp_path / "kg")

    def fail(self, df):
        raise RuntimeError(f"{method} failed")

    threads = threading.active_count()
    with monkeypatch.context() as m:
        m.setattr(Neo4jBatchWriter, method, fail)
        with pytest.raises(RuntimeError, match=f"{method} failed"):
            KGPipeline(spark, outdir).run(transcripts)
    assert not os.path.exists(os.path.join(outdir, "_run", "csv", "_SUCCESS"))
    assert threading.active_count() == threads
    KGPipeline(spark, outdir).run(transcripts, resume=True)
    assert _csv_rows(outdir) == _csv_rows(clean)
