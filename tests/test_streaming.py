"""Structured Streaming tests: the streaming mention kernel, and
``stream_kg``'s incremental KG, its failure and restart behaviour, and its
durable state."""

import os

import pytest
from pyspark.sql import functions as F

from biocypher_spark.streaming.stream import stream_mentions
from biocypher_spark.transcripts import generate_transcripts
from conftest import spark_jobs


@pytest.fixture(scope="module")
def stream_dir(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("stream_in"))
    generate_transcripts(spark, 1000, partitions=4).write.mode("overwrite").parquet(path)
    return path


def test_stream_mentions_is_expr_kernel_plus_ts(spark):
    from biocypher_spark.extract import extract_mentions

    batch = generate_transcripts(spark, 200)
    got = stream_mentions(batch)
    assert got.columns == ["conv_id", "turn_idx", "ts", "input_label", "surface", "m_pos"]
    want = extract_mentions(batch)
    assert got.drop("ts").exceptAll(want).count() == 0
    assert want.exceptAll(got.drop("ts")).count() == 0


def test_stream_kg_incremental(spark, stream_dir, tmp_path):
    """End-to-end incremental KG: micro-batches through the batch operators
    via foreachBatch; cross-batch node dedup via the writer's persisted
    seen-id anti-join; part numbering continues across batches; stream
    checkpoint makes a rerun a no-op."""
    import glob

    from biocypher_spark.streaming.stream import stream_kg

    outdir = str(tmp_path / "kg_stream")
    ckpt = str(tmp_path / "ckpt")
    q = stream_kg(spark, stream_dir, outdir, ckpt, max_files_per_trigger=1)
    q.awaitTermination(300)

    parts = sorted(glob.glob(os.path.join(outdir, "*-part*.csv")))
    assert parts, "no part files written"
    # node ids unique ACROSS all batches/files per label
    by_label: dict = {}
    for p in parts:
        label = os.path.basename(p).split("-part")[0]
        if label in ("INTERACTS_WITH", "LINKED_TO"):
            continue
        with open(p) as fh:
            for line in fh:
                nid = line.split(";")[0]
                assert nid not in by_label.setdefault(label, set()), f"dup {nid} in {label}"
                by_label[label].add(nid)
    total_nodes = sum(len(v) for v in by_label.values())
    assert total_nodes > 0
    # the import call script exists and globs the labels
    assert os.path.exists(os.path.join(outdir, "neo4j-admin-import-call.sh"))

    # rerun with the SAME checkpoint: source offsets are committed -> no new parts
    q2 = stream_kg(spark, stream_dir, outdir, ckpt, max_files_per_trigger=1)
    q2.awaitTermination(120)
    assert sorted(glob.glob(os.path.join(outdir, "*-part*.csv"))) == parts

    # node set matches the identity-canonicalized batch path over the same data
    from biocypher_spark.extract import extract_mentions, normalize_surface
    from biocypher_spark.linking import link_mentions

    transcripts = spark.read.parquet(stream_dir)
    mentions = extract_mentions(transcripts)
    ident = mentions.select(normalize_surface(F.col("surface")).alias("nkey")).distinct().select(
        "nkey", F.col("nkey").alias("canonical_id")
    )
    linked = link_mentions(mentions, mapping=ident)
    from biocypher_spark.pipeline import build_triple_tuples

    node_tuples, _ = build_triple_tuples(linked)
    want = {r["id"] for r in node_tuples.select("id").distinct().collect()}
    got = set().union(*by_label.values())
    assert got == want


def test_stream_kg_crash_replay_idempotent(spark, tmp_path):
    """At-least-once hardening: part files left by a crashed (uncommitted)
    attempt are wiped before the next batch emits, committed batches are
    skipped on replay, and seen-id state is persisted per batch."""
    import glob
    import json
    import shutil

    from biocypher_spark.streaming.stream import stream_kg

    indir = str(tmp_path / "in")
    generate_transcripts(spark, 400, partitions=2).write.mode("overwrite").parquet(indir)
    outdir = str(tmp_path / "kg")
    ckpt = str(tmp_path / "ckpt")
    q = stream_kg(spark, indir, outdir, ckpt, max_files_per_trigger=1)
    q.awaitTermination(300)

    committed = json.load(open(os.path.join(outdir, "_stream_meta", "committed.json")))
    parts_before = sorted(os.path.basename(p) for p in glob.glob(os.path.join(outdir, "*-part*.csv")))
    assert committed["part_files"] == parts_before and committed["last_batch"] >= 0
    # seen-id generations persisted for restart recovery
    assert glob.glob(os.path.join(outdir, "_stream_meta", "_seen_b*"))

    # simulate a crashed attempt: a part file NOT in the committed inventory
    stale = os.path.join(outdir, "Protein-part900.csv")
    shutil.copy(glob.glob(os.path.join(outdir, "Protein-part*.csv"))[0], stale)

    # new data arrives -> a NEW batch id; the stale part must be wiped first
    generate_transcripts(spark, 200, partitions=1).write.mode("append").parquet(indir)
    q2 = stream_kg(spark, indir, outdir, ckpt, max_files_per_trigger=4)
    q2.awaitTermination(300)

    assert not os.path.exists(stale), "uncommitted stale part survived replay"
    committed2 = json.load(open(os.path.join(outdir, "_stream_meta", "committed.json")))
    assert committed2["last_batch"] > committed["last_batch"]
    # still no duplicate node ids across all parts (seen state survived)
    seen: set = set()
    for p in glob.glob(os.path.join(outdir, "Protein-part*.csv")):
        for line in open(p):
            nid = line.split(";")[0]
            assert nid not in seen
            seen.add(nid)


def _part_lines(outdir):
    """{file label: Counter of its part files' lines}."""
    import collections
    import glob

    out = collections.defaultdict(collections.Counter)
    for f in glob.glob(os.path.join(outdir, "*-part*.csv")):
        with open(f) as fh:
            out[os.path.basename(f).rsplit("-part", 1)[0]].update(fh.read().splitlines())
    return dict(out)


@pytest.fixture(scope="module")
def two_file_stream(spark, tmp_path_factory):
    """An input of two files, one micro-batch each, and the part-file lines
    a clean ``stream_kg`` run over it emits."""
    from biocypher_spark.streaming.stream import stream_kg

    base = tmp_path_factory.mktemp("two_file_stream")
    indir = str(base / "in")
    generate_transcripts(spark, 400, partitions=2).write.parquet(indir)
    clean = str(base / "clean")
    stream_kg(spark, indir, clean, str(base / "ckpt"), max_files_per_trigger=1).awaitTermination(300)
    return indir, _part_lines(clean)


@pytest.mark.parametrize("method", ["write_nodes", "write_edges"])
def test_stream_chain_failure_commits_nothing_and_restart_recovers(
    spark, tmp_path, monkeypatch, two_file_stream, method
):
    """A failing CSV write on either chain of the second micro-batch fails
    the query with its error once both chains stopped: the committed marker
    stays at the first batch, no chain thread is left behind, and a restart
    on the same checkpoint and output emits the rows of a clean run."""
    import json
    import threading

    from pyspark import InheritableThread

    from biocypher_spark.streaming.stream import stream_kg
    from biocypher_spark.writer.neo4j import Neo4jBatchWriter

    indir, clean_lines = two_file_stream
    outdir, ckpt = str(tmp_path / "kg"), str(tmp_path / "ckpt")
    committed_path = os.path.join(outdir, "_stream_meta", "committed.json")
    original = getattr(Neo4jBatchWriter, method)
    calls = []

    def fail_second_batch(self, df):
        calls.append(method)
        if len(calls) > 1:
            raise RuntimeError(f"{method} failed")
        return original(self, df)

    with monkeypatch.context() as m:
        m.setattr(Neo4jBatchWriter, method, fail_second_batch)
        q = stream_kg(spark, indir, outdir, ckpt, max_files_per_trigger=1)
        with pytest.raises(Exception, match=f"{method} failed"):
            q.awaitTermination(300)
    committed = json.load(open(committed_path))
    assert committed["last_batch"] == 0
    assert not [t for t in threading.enumerate() if isinstance(t, InheritableThread)]

    stream_kg(spark, indir, outdir, ckpt, max_files_per_trigger=1).awaitTermination(300)
    assert json.load(open(committed_path))["last_batch"] == 1
    assert _part_lines(outdir) == clean_lines


def test_stream_kg_rel_as_node(spark, tmp_path, monkeypatch, ran_schema):
    """With a schema that reifies protein-protein pairs, two micro-batches
    that share every co-occurring pair write each reified node once, with
    its two helper edges; the seen rel-as-node state holds each once, and
    the second batch's copies are reported as duplicate edges."""
    import json

    import yaml

    from biocypher_spark import pipeline
    from biocypher_spark.mapping import SchemaMapping
    from biocypher_spark.streaming.stream import _load_state, read_stream_state, stream_kg

    mapping = SchemaMapping(schema=yaml.safe_load(ran_schema))
    monkeypatch.setattr(pipeline, "load_default_schema_mapping", lambda: mapping)
    indir = str(tmp_path / "in")
    turns = generate_transcripts(spark, 300, partitions=1)
    turns.write.parquet(indir)
    turns.write.mode("append").parquet(indir)
    outdir = str(tmp_path / "kg")
    stream_kg(spark, indir, outdir, str(tmp_path / "ckpt"), max_files_per_trigger=1).awaitTermination(300)

    meta = os.path.join(outdir, "_stream_meta")
    last = json.load(open(os.path.join(meta, "committed.json")))["last_batch"]
    assert last == 1
    lines = _part_lines(outdir)
    reified = [line.split(";")[0] for line in lines["ProteinProteinInteraction"].elements()]
    assert reified and len(set(reified)) == len(reified)
    assert sum(lines["IS_PART_OF"].values()) == 2 * len(reified)
    assert read_stream_state(spark, outdir)["seen_rel_as_node"] == len(reified)
    dups = _load_state(spark, meta, last).filter(F.col("_kind") == "_dup::duplicate_edges")
    ran_dups = {r["_key"] for r in dups.filter(F.col("_klabel") == "protein protein interaction").collect()}
    assert ran_dups == set(reified)


def test_stream_kg_empty_batch_preserves_seen_state(spark, tmp_path):
    """A micro-batch with no pattern matches must not wipe the persisted
    seen-id generations (regression: the empty branch advanced the marker
    then garbage-collected the only surviving generation)."""
    import datetime
    import glob
    import json

    from biocypher_spark.streaming.stream import stream_kg

    indir = str(tmp_path / "in")
    outdir = str(tmp_path / "kg")
    ckpt = str(tmp_path / "ckpt")
    generate_transcripts(spark, 300, partitions=1).write.mode("overwrite").parquet(indir)
    stream_kg(spark, indir, outdir, ckpt, max_files_per_trigger=4).awaitTermination(300)
    assert glob.glob(os.path.join(outdir, "_stream_meta", "_seen_b*"))

    # batch with NO matches (text contains no PROT/DIS surfaces)
    blank = [("cx", 0, "user", "nothing relevant here", None, datetime.datetime(2024, 1, 1))]
    spark.createDataFrame(
        blank, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    ).write.mode("append").parquet(indir)
    stream_kg(spark, indir, outdir, ckpt, max_files_per_trigger=4).awaitTermination(300)
    gens = glob.glob(os.path.join(outdir, "_stream_meta", "_seen_b*"))
    assert gens, "empty batch wiped the seen-id state"

    # the same entities arriving again must still dedup (state survived)
    generate_transcripts(spark, 300, partitions=1).write.mode("append").parquet(indir)
    stream_kg(spark, indir, outdir, ckpt, max_files_per_trigger=4).awaitTermination(300)
    seen: set = set()
    for p in glob.glob(os.path.join(outdir, "Protein-part*.csv")):
        for line in open(p):
            nid = line.split(";")[0]
            assert nid not in seen, f"duplicate {nid} after empty batch"
            seen.add(nid)
    committed = json.load(open(os.path.join(outdir, "_stream_meta", "committed.json")))
    assert committed["checkpoint_id"]


def test_stream_kg_refuses_swapped_checkpoint(spark, tmp_path):
    import pytest as _pytest

    from biocypher_spark.streaming.stream import stream_kg

    indir = str(tmp_path / "in")
    generate_transcripts(spark, 200, partitions=1).write.mode("overwrite").parquet(indir)
    outdir = str(tmp_path / "kg")
    stream_kg(spark, indir, outdir, str(tmp_path / "ckptA"), max_files_per_trigger=4).awaitTermination(300)
    with _pytest.raises(ValueError, match="different stream checkpoint"):
        stream_kg(spark, indir, outdir, str(tmp_path / "ckptB"))


def test_stream_kg_refuses_legacy_seen_layout(spark, tmp_path):
    """Seen state in the per-attribute layout an earlier commit of this
    engine wrote (``_seen_nodes_b{id}`` directories instead of one
    ``_seen_b{id}`` generation partitioned by ``_kind``) is refused, not
    read: ``read_stream_state`` and ``stream_kg`` raise a ValueError naming
    the layout, and no part file is written."""
    import glob
    import shutil

    from pyspark.sql import functions as F

    from biocypher_spark.streaming.stream import read_stream_state, stream_kg

    indir = str(tmp_path / "in")
    outdir = str(tmp_path / "kg")
    ckpt = str(tmp_path / "ckpt")
    generate_transcripts(spark, 300, partitions=1).write.mode("overwrite").parquet(indir)
    stream_kg(spark, indir, outdir, ckpt, max_files_per_trigger=4).awaitTermination(300)

    # rewrite the committed combined generation into the legacy layout
    meta = os.path.join(outdir, "_stream_meta")
    combined_dirs = glob.glob(os.path.join(meta, "_seen_b*"))
    assert combined_dirs
    for d in combined_dirs:
        bid = os.path.basename(d).rsplit("_b", 1)[1]
        combined = spark.read.parquet(d)
        for attr, cols in (
            ("_seen_nodes", ["_key"]),
            ("_seen_edges", ["_klabel", "_key"]),
            ("_seen_ran", ["_klabel", "_key"]),
        ):
            part = combined.filter(F.col("_kind") == attr).select(*cols)
            if part.limit(1).count() > 0:
                part.write.mode("overwrite").parquet(os.path.join(meta, f"{attr}_b{bid}"))
    for d in combined_dirs:
        shutil.rmtree(d)

    with pytest.raises(ValueError, match="per-attribute layout"):
        read_stream_state(spark, outdir)

    def part_files():
        return {p: os.path.getsize(p) for p in glob.glob(os.path.join(outdir, "*-part*.csv"))}

    parts_before = part_files()
    assert parts_before
    generate_transcripts(spark, 300, partitions=1).write.mode("append").parquet(indir)
    with pytest.raises(ValueError, match="per-attribute layout"):
        stream_kg(spark, indir, outdir, ckpt, max_files_per_trigger=4)
    assert part_files() == parts_before


def test_stream_state_refuses_generations_without_full_marker(spark, tmp_path):
    """A committed combined generation with no ``_FULL`` marker is the
    pre-delta snapshot layout: ``read_stream_state``, and ``stream_kg``
    before any batch runs, refuse it with a ValueError naming the layout."""
    import json

    from biocypher_spark.streaming.stream import read_stream_state, stream_kg

    outdir = str(tmp_path / "kg")
    meta = os.path.join(outdir, "_stream_meta")
    spark.createDataFrame(
        [("_seen_nodes", None, "PROT1", None)], "_kind string, _klabel string, _key string, _dup_kind string"
    ).write.partitionBy("_kind").parquet(os.path.join(meta, "_seen_b0"))
    with open(os.path.join(meta, "committed.json"), "w") as fh:
        json.dump({"last_batch": 0, "part_files": []}, fh)

    with pytest.raises(ValueError, match="pre-delta snapshot layout"):
        read_stream_state(spark, outdir)
    with pytest.raises(ValueError, match="pre-delta snapshot layout"):
        stream_kg(spark, str(tmp_path / "in"), outdir, str(tmp_path / "ckpt"))


def test_load_state_starts_no_job(spark, tmp_path):
    """Loading a committed FULL + delta state only builds plans: it is one
    schema-given read of the generations, so neither a restart nor the
    repoint after a state write starts a Spark job. Each kind's rows equal
    a plain read of the same generations."""
    import json
    from collections import Counter

    from biocypher_spark.streaming.stream import _load_state, _state_read_set, stream_kg

    indir = str(tmp_path / "in")
    generate_transcripts(spark, 400, partitions=2).write.mode("overwrite").parquet(indir)
    outdir = str(tmp_path / "kg")
    stream_kg(spark, indir, outdir, str(tmp_path / "ckpt"), max_files_per_trigger=1).awaitTermination(300)
    meta = os.path.join(outdir, "_stream_meta")
    last = json.load(open(os.path.join(meta, "committed.json")))["last_batch"]
    paths = _state_read_set(meta, last)
    assert len(paths) == 2
    assert os.path.exists(os.path.join(paths[0], "_FULL"))
    assert not os.path.exists(os.path.join(paths[1], "_FULL"))

    state, jobs = spark_jobs(spark, lambda: _load_state(spark, meta, last))
    assert jobs == []

    plain = spark.read.parquet(paths[0])
    for p in paths[1:]:
        plain = plain.unionByName(spark.read.parquet(p))
    cols = {
        "_seen_nodes": ["_key"],
        "_seen_edges": ["_klabel", "_key"],
        "_seen_ran": ["_klabel", "_key"],
        "_dup::duplicate_nodes": ["_dup_kind", "_klabel", "_key"],
        "_dup::duplicate_edges": ["_dup_kind", "_klabel", "_key"],
    }
    assert {r["_kind"] for r in state.select("_kind").distinct().collect()} <= set(cols)
    for kind, kind_cols in cols.items():
        expected = Counter(tuple(r) for r in plain.filter(F.col("_kind") == kind).select(*kind_cols).collect())
        got = Counter(tuple(r) for r in state.filter(F.col("_kind") == kind).select(*kind_cols).collect())
        assert got == expected, kind
    assert state.filter(F.col("_kind") == "_seen_nodes").count() > 0
    assert state.filter(F.col("_kind") == "_seen_edges").count() > 0


def test_stream_kg_nine_batches_leave_no_duplicate_node_ids(spark, tmp_path):
    """9 mention-bearing single-file micro-batches (maxFilesPerTrigger=1):
    every batch commits, and cross-batch dedup through the persisted state
    generations leaves no node id in two part files."""
    import glob
    import json

    from biocypher_spark.streaming.stream import stream_kg

    indir = str(tmp_path / "in")
    generate_transcripts(spark, 900, partitions=9).write.mode("overwrite").parquet(indir)
    outdir = str(tmp_path / "kg")
    ckpt = str(tmp_path / "ckpt")
    q = stream_kg(spark, indir, outdir, ckpt, max_files_per_trigger=1)
    q.awaitTermination(600)

    committed = json.load(open(os.path.join(outdir, "_stream_meta", "committed.json")))
    assert committed["last_batch"] >= 8, f"stream died early at batch {committed['last_batch']}"
    seen: set = set()
    for p in glob.glob(os.path.join(outdir, "Protein-part*.csv")):
        for line in open(p):
            nid = line.split(";")[0]
            assert nid not in seen
            seen.add(nid)


def test_stream_kg_duplicate_metrics_survive_restart(spark, tmp_path):
    """Duplicate-metrics frames ride in the combined per-batch state
    generation (kinds ``_dup::duplicate_*``), so a restarted stream resumes
    the metrics tables instead of resetting them to empty — and re-sending
    the same input records every entity as a cross-batch duplicate."""
    import glob

    from biocypher_spark.streaming.stream import stream_kg

    indir = str(tmp_path / "in")
    outdir = str(tmp_path / "kg")
    ckpt = str(tmp_path / "ckpt")
    generate_transcripts(spark, 300, partitions=1).write.mode("overwrite").parquet(indir)
    stream_kg(spark, indir, outdir, ckpt, max_files_per_trigger=4).awaitTermination(300)

    # re-send the same turns: every node is now a cross-batch duplicate
    generate_transcripts(spark, 300, partitions=1).write.mode("append").parquet(indir)
    stream_kg(spark, indir, outdir, ckpt, max_files_per_trigger=4).awaitTermination(300)

    # a third stream_kg with NO new input restores the writer from the
    # committed generation; the metrics noted by earlier processes must be
    # there (pre-durability they lived only in the dead writer's memory)
    from biocypher_spark.writer import neo4j as neo4j_mod

    captured = {}
    orig = neo4j_mod.Neo4jBatchWriter

    class _Capture(orig):
        def __init__(self, *a, **kw):
            super().__init__(*a, **kw)
            captured["writer"] = self

    neo4j_mod.Neo4jBatchWriter = _Capture
    try:
        stream_kg(spark, indir, outdir, ckpt, max_files_per_trigger=4).awaitTermination(300)
    finally:
        neo4j_mod.Neo4jBatchWriter = orig

    dup_nodes = captured["writer"].get_duplicate_nodes()
    assert dup_nodes is not None
    dup_ids = {r["dup_id"] for r in dup_nodes.collect()}
    # every node id written in the first pass was duplicated by the replay
    node_ids = set()
    for p in glob.glob(os.path.join(outdir, "Protein-part*.csv")):
        for line in open(p):
            node_ids.add(line.split(";")[0])
    assert node_ids and node_ids <= dup_ids


def test_read_stream_state_counts(spark, tmp_path):
    """read_stream_state reports the committed generation's cumulative
    seen-id and duplicate-metrics counts out-of-process (no writer handle),
    and returns {} before any batch has committed state."""
    from biocypher_spark.streaming.stream import read_stream_state, stream_kg

    outdir = str(tmp_path / "kg")
    assert read_stream_state(spark, outdir) == {}

    indir = str(tmp_path / "in")
    generate_transcripts(spark, 300, partitions=1).write.mode("overwrite").parquet(indir)
    stream_kg(spark, indir, outdir, str(tmp_path / "ckpt"), max_files_per_trigger=4).awaitTermination(300)
    first = read_stream_state(spark, outdir)
    assert first["seen_nodes"] > 0 and first["seen_edges"] > 0
    assert first["duplicate_nodes"] == 0 or first["duplicate_nodes"] < first["seen_nodes"]

    # replaying the same turns: seen counts unchanged, every node a duplicate
    generate_transcripts(spark, 300, partitions=1).write.mode("append").parquet(indir)
    stream_kg(spark, indir, outdir, str(tmp_path / "ckpt"), max_files_per_trigger=4).awaitTermination(300)
    second = read_stream_state(spark, outdir)
    assert second["seen_nodes"] == first["seen_nodes"]
    assert second["seen_edges"] == first["seen_edges"]
    assert second["duplicate_nodes"] >= first["seen_nodes"]


def test_stream_kg_duplicate_free_stream_survives_generation_drop(spark, tmp_path):
    """A stream whose batches contain ONLY unique entities (duplicate-
    metrics stay empty forever) must still survive generation drops: the
    ledger's loaded frame reads ``_seen_b{id}`` files that a compaction
    supersedes, whether or not the batch found duplicates, so the per-batch
    repoint must be unconditional — guarding it on ``rows > 0`` resurrects
    the FileNotFoundException crash in the duplicate-free case."""
    import glob
    import json

    from biocypher_spark.streaming.stream import read_stream_state, stream_kg

    # 5 single-file micro-batches; every PROT/DIS id appears exactly once
    # globally and each turn's (subject, object) pair is unique -> no
    # within-batch or cross-batch duplicate node/edge keys anywhere
    indir = str(tmp_path / "in")
    schema = "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    base = __import__("datetime").datetime(2026, 1, 1)
    for b in range(5):
        rows = [
            (
                f"c{b}_{i}",
                0,
                "user",
                f"PROT{b*100+i*2} binds PROT{b*100+i*2+1} in DIS{b*10+i}",
                "",
                base,
            )
            for i in range(5)
        ]
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(indir)

    outdir = str(tmp_path / "kg")
    q = stream_kg(spark, indir, outdir, str(tmp_path / "ckpt"), max_files_per_trigger=1)
    q.awaitTermination(600)

    committed = json.load(open(os.path.join(outdir, "_stream_meta", "committed.json")))
    assert committed["last_batch"] >= 4, f"stream died early at batch {committed['last_batch']}"
    state = read_stream_state(spark, outdir)
    assert state["duplicate_nodes"] == 0 and state["duplicate_edges"] == 0
    assert state["seen_nodes"] > 0


def test_stream_kg_delta_generations_and_compaction(spark, tmp_path):
    """Durable state is LSM-shaped: each batch persists only its DELTA
    (O(batch) write, not O(cumulative corpus) — at 10^12-turn scale the
    snapshot-per-batch design rewrites the whole seen universe every
    micro-batch); every 16 deltas a FULL compaction generation absorbs and
    deletes the older ones. 20 single-file batches cross one compaction
    boundary: the surviving layout must be exactly {full@17, delta@18,
    delta@19}, deltas must be batch-sized, and cross-batch dedup plus the
    out-of-process state readout must see the union."""
    import glob
    import json

    from biocypher_spark.streaming.stream import read_stream_state, stream_kg

    indir = str(tmp_path / "in")
    generate_transcripts(spark, 2000, partitions=20).write.mode("overwrite").parquet(indir)
    outdir = str(tmp_path / "kg")
    ckpt = str(tmp_path / "ckpt")
    stream_kg(spark, indir, outdir, ckpt, max_files_per_trigger=1).awaitTermination(600)

    meta = os.path.join(outdir, "_stream_meta")
    committed = json.load(open(os.path.join(meta, "committed.json")))
    assert committed["last_batch"] == 19
    gens = sorted(
        int(os.path.basename(d).rsplit("_b", 1)[1])
        for d in glob.glob(os.path.join(meta, "_seen_b*"))
    )
    # batch 0 wrote the initial FULL base; batches 1-16 were deltas; batch
    # 17 hit the 16-delta threshold and compacted (deleting 0-16); 18/19
    # are deltas on top of it
    assert gens == [17, 18, 19]
    marked = [b for b in gens if os.path.exists(os.path.join(meta, f"_seen_b{b}", "_FULL"))]
    assert marked == [17]

    # a delta generation holds ~one batch's new keys, not the cumulative
    # state: by batch 18 the 50-protein/20-disease vocabulary is long
    # saturated, so its seen-key rows must be a sliver of the compacted
    # full's (the dup-metrics ride-along rows are counted separately —
    # they scale with batch occurrences, not the cumulative universe)
    def _kind_counts(gen):
        df = spark.read.parquet(os.path.join(meta, f"_seen_b{gen}"))
        return {
            r["_kind"]: r["n"]
            for r in df.groupBy("_kind").agg(F.count(F.lit(1)).alias("n")).collect()
        }

    full_seen = sum(n for k, n in _kind_counts(17).items() if not k.startswith("_dup::"))
    delta_seen = sum(n for k, n in _kind_counts(18).items() if not k.startswith("_dup::"))
    assert full_seen > 0 and delta_seen * 4 < full_seen

    # cross-batch dedup held across the compaction boundary
    seen: set = set()
    for label in ("Protein", "Disease"):
        for p in glob.glob(os.path.join(outdir, f"{label}-part*.csv")):
            for line in open(p):
                nid = line.split(";")[0]
                assert nid not in seen
                seen.add(nid)

    # the out-of-process readout unions full + deltas
    state = read_stream_state(spark, outdir)
    assert state["seen_nodes"] == len(seen)

    # restart on replayed input: restore = full + deltas; every node must
    # be recognized as already seen (no part file grows)
    parts_before = {
        p: os.path.getsize(p) for p in glob.glob(os.path.join(outdir, "*-part*.csv"))
    }
    generate_transcripts(spark, 2000, partitions=1).write.mode("append").parquet(indir)
    stream_kg(spark, indir, outdir, ckpt, max_files_per_trigger=20).awaitTermination(300)
    parts_after = {
        p: os.path.getsize(p) for p in glob.glob(os.path.join(outdir, "*-part*.csv"))
    }
    assert parts_after == parts_before
