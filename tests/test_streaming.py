"""Structured Streaming tests: incremental extraction, watermarked windows,
stateful sessionization."""

import os
import time

import pytest
from pyspark.sql import functions as F

from biocypher_spark.streaming.stream import (
    conversation_sessions,
    read_transcript_stream,
    stream_mentions,
    windowed_mention_counts,
)
from biocypher_spark.transcripts import generate_transcripts


@pytest.fixture(scope="module")
def stream_dir(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("stream_in"))
    generate_transcripts(spark, 1000, partitions=4).write.mode("overwrite").parquet(path)
    return path


def _run_to_completion(query, timeout=120):
    deadline = time.time() + timeout
    while time.time() < deadline:
        query.processAllAvailable()
        return
    raise TimeoutError


def test_stream_windowed_counts(spark, stream_dir):
    stream = read_transcript_stream(spark, stream_dir, max_files_per_trigger=2)
    counts = windowed_mention_counts(stream_mentions(stream))
    q = (
        counts.writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # append mode emits only watermark-closed windows; force completion via
    # one more read of the table after termination
    result = spark.sql("select * from win_counts")
    # batch equivalent for cross-checking totals per surface
    batch = generate_transcripts(spark, 1000)
    from biocypher_spark.extract import extract_mentions_expr

    batch_mentions = extract_mentions_expr(batch).count()
    assert batch_mentions > 0
    # sum of emitted window counts can be smaller (open windows withheld in
    # append mode) but never larger
    emitted = result.agg(F.coalesce(F.sum("n"), F.lit(0))).collect()[0][0]
    assert emitted <= batch_mentions


def test_stream_mentions_is_expr_kernel_plus_ts(spark):
    from biocypher_spark.extract import extract_mentions_expr

    batch = generate_transcripts(spark, 200)
    got = stream_mentions(batch)
    assert got.columns == ["conv_id", "turn_idx", "ts", "input_label", "surface", "m_pos"]
    want = extract_mentions_expr(batch)
    assert got.drop("ts").exceptAll(want).count() == 0
    assert want.exceptAll(got.drop("ts")).count() == 0


def test_stream_sessions_stateful(spark, stream_dir):
    stream = read_transcript_stream(spark, stream_dir, max_files_per_trigger=2)
    sessions = conversation_sessions(stream)
    q = (
        sessions.writeStream.format("memory")
        .queryName("sessions")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    result = spark.sql(
        "select conv_id, max(turns) as turns from sessions group by conv_id"
    )
    got = {r["conv_id"]: r["turns"] for r in result.collect()}
    want = {
        r["conv_id"]: r["cnt"]
        for r in generate_transcripts(spark, 1000).groupBy("conv_id").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    # every conversation's final state matches the batch turn count
    assert got == want


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
    from biocypher_spark.extract import extract_mentions_expr, normalize_surface
    from biocypher_spark.linking import link_mentions

    transcripts = spark.read.parquet(stream_dir)
    mentions = extract_mentions_expr(transcripts)
    ident = mentions.select(normalize_surface(F.col("surface")).alias("nkey")).distinct().select(
        "nkey", F.col("nkey").alias("canonical_id")
    )
    linked = link_mentions(mentions, mapping=ident)
    from biocypher_spark.pipeline import build_triple_tuples

    node_tuples, _ = build_triple_tuples(linked)
    want = {r["id"] for r in node_tuples.select("id").distinct().collect()}
    got = set().union(*by_label.values())
    assert got == want


def test_stream_exact_dedup(spark, stream_dir):
    from biocypher_spark.streaming.stream import stream_exact_dedup

    stream = read_transcript_stream(spark, stream_dir, max_files_per_trigger=2)
    deduped = stream_exact_dedup(stream)
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_sink")
        .outputMode("append")
        .start()
    )
    try:
        _run_to_completion(q)
        got = spark.sql("SELECT count(*) AS n, count(DISTINCT content_hash) AS d FROM dedup_sink").head()
        expected = (
            spark.read.parquet(stream_dir).select(F.md5("text")).distinct().count()
        )
        # one row per distinct content hash, no duplicates emitted
        assert got["n"] == got["d"] == expected
    finally:
        q.stop()


def test_stream_minhash_dedup(spark, stream_dir):
    """Streaming near-dup suppression: one emitted row per distinct full
    minhash signature, agreeing with the batch minhash_dedup grouping."""
    from biocypher_spark.streaming.stream import stream_minhash_dedup
    from biocypher_spark.textops import minhash_signature

    stream = read_transcript_stream(spark, stream_dir, max_files_per_trigger=2)
    deduped = stream_minhash_dedup(stream)
    q = (
        deduped.writeStream.format("memory")
        .queryName("mh_dedup_sink")
        .outputMode("append")
        .start()
    )
    try:
        _run_to_completion(q)
        got = spark.sql(
            "SELECT count(*) AS n, count(DISTINCT sig0 || sig1 || sig2 || sig3) AS d FROM mh_dedup_sink"
        ).head()
        expected = (
            spark.read.parquet(stream_dir)
            .select(*minhash_signature(F.col("text"), seeds=4))
            .distinct()
            .count()
        )
        assert got["n"] == got["d"] == expected
    finally:
        q.stop()


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


def test_stream_kg_restores_legacy_seen_layout(spark, tmp_path):
    """An output dir whose seen-id state was persisted by the older
    one-parquet-per-attr layout must restart WITHOUT losing cross-batch
    dedup (the combined `_seen_b{id}` generation is the current format;
    the per-attr `_seen_nodes_b{id}` dirs are read as a fallback)."""
    import glob
    import shutil

    from pyspark.sql import functions as F

    from biocypher_spark.streaming.stream import stream_kg

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

    # read_stream_state must report the legacy layout's real dedup state
    # (not {}); duplicate metrics are 0 by fact — that engine never
    # persisted them
    from biocypher_spark.streaming.stream import read_stream_state

    legacy_state = read_stream_state(spark, outdir)
    assert legacy_state["seen_nodes"] > 0
    assert legacy_state["duplicate_nodes"] == 0

    # the same entities arriving again must still dedup through the
    # legacy-restored state (no duplicate node ids across all parts)
    generate_transcripts(spark, 300, partitions=1).write.mode("append").parquet(indir)
    stream_kg(spark, indir, outdir, ckpt, max_files_per_trigger=4).awaitTermination(300)
    seen: set = set()
    for p in glob.glob(os.path.join(outdir, "Protein-part*.csv")):
        for line in open(p):
            nid = line.split(";")[0]
            assert nid not in seen, f"duplicate {nid} after legacy restore"
            seen.add(nid)


def test_stream_kg_many_batches_survives_dup_chain_collapse(spark, tmp_path):
    """9 mention-bearing micro-batches at maxFilesPerTrigger=1: enough
    writer calls that the duplicate-metrics chains hit the 16-layer
    collapse mid-stream. The chains' cross-batch layers lazily reference
    superseded ``_seen_b{id}`` generations, which stream_kg deletes after
    each commit — without the per-batch persist of the chains into the
    combined state generation (which repoints them at files that survive
    the drop) the collapse scans deleted files and kills the query."""
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
    metrics frames stay empty forever) must still survive generation drops:
    even an all-empty duplicate frame is a lazy union chain referencing
    superseded ``_seen_b{id}`` files (_note_dups appends its cross-batch
    layer whether or not it has rows), so the per-batch repoint must be
    unconditional — guarding it on ``rows > 0`` resurrects the
    FileNotFoundException crash in the duplicate-free case."""
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
