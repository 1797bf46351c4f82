"""Structured Streaming surface: incremental KG construction.

The reference is strictly batch (single-process generators; SURVEY.md §2.6
notes streaming is a design choice, not a compatibility requirement). This
module adds the Spark-native incremental path, ``stream_kg``: a transcripts
directory/table consumed with ``readStream``, mention extraction as the same
built-in expressions used in batch, and per micro-batch the batch job's KG
tail (``pipeline.kg_chains``) into one Neo4j batch layout, with durable
cross-batch dedup state.
"""

from __future__ import annotations

import glob
import os
from typing import Optional
from urllib.parse import quote

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..extract import _regexp_mentions
from ..materialize import materialize

TRANSCRIPT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("role", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("tool", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ]
)


# marker file of a FULL (compacted) seen-state generation
_FULL_MARKER = "_FULL"

# the `_kind` partition of a state generation that holds each of the
# writer's state frames (keyed as dedup.Admission.state_frames): the three
# seen-key frames and the two duplicate-metrics frames
_STATE_KINDS = {
    "_seen_nodes": "_seen_nodes",
    "_seen_edges": "_seen_edges",
    "_seen_ran": "_seen_ran",
    "duplicate_nodes": "_dup::duplicate_nodes",
    "duplicate_edges": "_dup::duplicate_edges",
}
# columns of every kind's partition (`_dup_kind` is null on seen rows)
_GEN_SCHEMA = "_klabel string, _key string, _dup_kind string"
# a state write is a FULL compaction once the read set holds this many deltas
_COMPACT_EVERY = 16


def _seen_generations(meta_dir: str, prefix: str, upto: int | None = None) -> dict[int, str]:
    """``{batch id: dir}`` of the ``{prefix}_b{N}`` state generations under
    ``meta_dir``; with ``upto``, only those with ``N <= upto``."""
    out = {}
    for d in glob.glob(os.path.join(meta_dir, f"{prefix}_b*")):
        try:
            b = int(os.path.basename(d).rsplit("_b", 1)[1])
        except ValueError:
            continue
        if upto is None or b <= upto:
            out[b] = d
    return out


def _state_read_set(meta_dir: str, upto: int) -> list[str]:
    """Generations up to batch ``upto`` whose union is the cumulative
    state: the newest FULL generation plus every delta after it (``[]``
    before the first state write).

    Two layouts written by earlier commits of this engine are refused, not
    read: the per-attribute ``_seen_nodes_b{N}`` directories, and combined
    generations with no ``_FULL`` marker (pre-delta snapshots)."""
    gens = _seen_generations(meta_dir, "_seen", upto)
    full = [b for b, d in gens.items() if os.path.exists(os.path.join(d, _FULL_MARKER))]
    layout = None
    if any(_seen_generations(meta_dir, a) for a in ("_seen_nodes", "_seen_edges", "_seen_ran")):
        layout = "the pre-combined per-attribute layout (_seen_nodes_b{N} directories)"
    elif gens and not full:
        layout = f"the pre-delta snapshot layout (combined generations with no {_FULL_MARKER} marker)"
    if layout:
        raise ValueError(
            f"{meta_dir} holds stream state in {layout}, which this engine no longer "
            "reads; clear the output directory and replay the stream"
        )
    return [gens[b] for b in sorted(gens) if full and b >= max(full)]


def _load_state(spark: SparkSession, meta_dir: str, upto: int) -> dict[str, Optional[DataFrame]]:
    """The committed state up to batch ``upto`` as the writer's frames,
    keyed as ``dedup.Admission.state_frames``; None for a kind no
    generation of the read set holds.

    Each frame is one read of the kind's partition directories across the
    read set, with the fixed generation schema: no schema inference, and at
    most ``_COMPACT_EVERY`` + 1 paths stay under Spark's parallel-listing
    threshold, so loading starts no Spark job."""
    paths = _state_read_set(meta_dir, upto)
    out: dict[str, Optional[DataFrame]] = {}
    for attr, kind in _STATE_KINDS.items():
        # partitionBy escapes the ':' of the duplicate kinds on disk
        dirs = [os.path.join(p, f"_kind={quote(kind, safe='')}") for p in paths]
        dirs = [d for d in dirs if os.path.isdir(d)]
        if not dirs:
            out[attr] = None
            continue
        df = spark.read.schema(_GEN_SCHEMA).parquet(*dirs)
        if attr == "_seen_nodes":
            out[attr] = df.select("_key")
        elif attr.startswith("_seen"):
            out[attr] = df.select("_klabel", "_key")
        else:
            out[attr] = df.select(
                F.col("_dup_kind").alias("kind"),
                F.col("_klabel").alias("label"),
                F.col("_key").alias("dup_id"),
            )
    return out


def read_transcript_stream(spark: SparkSession, path: str, max_files_per_trigger: int = 8) -> DataFrame:
    return (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def stream_mentions(transcripts: DataFrame, patterns: Optional[dict[str, str]] = None) -> DataFrame:
    """Streaming mention extraction: the ``extract_mentions`` kernel,
    keeping the event time column ``ts``."""
    return _regexp_mentions(transcripts, patterns, ("conv_id", "turn_idx", "ts"))


def stream_kg(
    spark: SparkSession,
    input_path: str,
    output_directory: str,
    checkpoint_dir: str,
    patterns: Optional[dict[str, str]] = None,
    mapping: Optional[DataFrame] = None,
    available_now: bool = True,
    max_files_per_trigger: int = 8,
):
    """Incremental KG construction: streaming transcripts -> per-microbatch
    extract -> link -> translate -> batch-writer append.

    Each micro-batch flows through the SAME batch operators via
    ``foreachBatch``, and through the batch job's KG tail,
    ``pipeline.kg_chains``: its node chain and its edge chain (translate ->
    CSV) overlap on two driver threads. The batch writer's cross-call
    machinery supplies the incremental semantics — part-file numbering
    continues across batches and the writer's one first-wins path
    (``track_seen``) dedups node/edge ids across batches. Its caches (each
    call's first rows and seen keys) are filled by the batch's own part and
    state writes, with no separate count, and released once the batch's
    state generation is written.
    ``foreachBatch`` is AT-LEAST-ONCE, so idempotence is made durable in
    ``{output}/_stream_meta``:

    - ``committed.json`` (atomic rename) records the last committed batch id
      plus the part-file inventory; a replayed batch id <= the committed one
      is skipped outright, and part files NOT in the inventory (leftovers of
      a crashed attempt) are wiped before re-emitting.
    - the writer's seen-id and duplicate-metrics frames are persisted per
      batch as ONE parquet generation (``_seen_b{id}``, partitioned by
      ``_kind``): a FULL snapshot every ``_COMPACT_EVERY`` deltas, a delta
      otherwise. The writer is pointed at the committed generations on
      restart and after every state write, so a process crash cannot reset
      cross-batch dedup; generations newer than the committed marker
      (written but not committed) are discarded. State in a layout that
      earlier commits of this engine wrote (per-attribute directories, or
      generations with no ``_FULL`` marker) is refused with a
      ``ValueError``.

    Canonicalization note: cross-batch consistency requires the surface ->
    canonical map to be batch-independent. Pass a precomputed ``mapping``
    (e.g. from a batch canonicalize over history) to use it; without one,
    each surface maps to its own normalized key (identity canonicalization),
    which is deterministic across any batch split.

    Returns the StreamingQuery (with ``available_now`` it drains the input
    then stops).
    """
    from ..linking import link_mentions
    from ..ontology import NullOntology
    from ..pipeline import build_triple_tuples, edge_input_labels, kg_chains, load_default_schema_mapping
    from ..translate import SparkTranslator
    from ..writer.neo4j import Neo4jBatchWriter

    schema_mapping = load_default_schema_mapping()
    translator = SparkTranslator(spark, NullOntology(schema_mapping))
    writer = Neo4jBatchWriter(
        spark, translator, output_directory, strict_mode=False, validate_props=False,
        ordered_parts=False, track_seen=True,
    )

    def identity_link(mentions: DataFrame) -> DataFrame:
        """Identity canonicalization: canonical_id IS the normalized surface.

        Equivalent to ``link_mentions(mentions, mapping=identity_map)`` —
        the left join against a map of nkey->nkey followed by
        ``coalesce(canonical_id, nkey)`` resolves every row to its own nkey
        — but with ZERO shuffle: no distinct to build the map, no join to
        apply it. This was the dominant per-micro-batch cost (profiled
        ~40% of batch wall before removal)."""
        from ..extract import normalize_surface

        nkey = normalize_surface(F.col("surface"))
        return mentions.withColumn("nkey", nkey).withColumn(
            "canonical_id", F.col("nkey")
        )

    import json as _json
    import shutil

    meta_dir = os.path.join(output_directory, "_stream_meta")
    os.makedirs(meta_dir, exist_ok=True)
    committed_path = os.path.join(meta_dir, "committed.json")

    def _read_committed() -> dict:
        if os.path.exists(committed_path):
            with open(committed_path) as fh:
                return _json.load(fh)
        return {"last_batch": -1, "part_files": []}

    # the writer's five state frames (node ids, edge keys, rel-as-node
    # keys, and the two duplicate-metrics frames) are persisted as ONE
    # parquet generation per state-writing batch, partitioned by `_kind`
    # (see _STATE_KINDS) — one durable write per micro-batch instead of
    # five, which is the fixed-latency floor of every micro-batch at
    # cluster scale. Schema _GEN_SCHEMA: _klabel is null for the node frame
    # (its dedup key is id-only); _dup_kind carries the metrics' own
    # node/edge discriminator and is null on seen rows.
    #
    # LSM-style durable state: each committed batch writes only its DELTA
    # (the batch's new seen keys + duplicate-metrics appends) as generation
    # `_seen_b{N}`; when the committed read set has no FULL generation yet
    # or already holds _COMPACT_EVERY deltas, a FULL snapshot generation is
    # written instead (marker file `_FULL`), and the absorbed generations
    # are deleted after the commit marker advances. Per-batch durable write
    # cost is O(batch), not O(cumulative corpus) — the previous
    # snapshot-per-batch design rewrote the whole seen universe every
    # micro-batch, a quadratic total at 10^12-turn stream scale.
    #
    # After every state write the writer is repointed at the read set
    # (_load_state): the layers _note_dups appended inside the batch lazily
    # reference the batch's pinned frames, and writing them into the
    # generation evaluates them while the pins are live, so the pins can be
    # released and superseded generations deleted. Every frame is replaced,
    # including an all-empty duplicate chain (it still references the
    # batch's pins; no kind directory was written for it, so it loads as
    # None). The metrics tables are restart-durable alongside the dedup
    # state.

    def _seen_row(attr: str, df: DataFrame) -> DataFrame:
        klabel = F.col("_klabel") if "_klabel" in df.columns else F.lit(None).cast("string").alias("_klabel")
        return df.select(
            F.lit(_STATE_KINDS[attr]).alias("_kind"), klabel, "_key",
            F.lit(None).cast("string").alias("_dup_kind"),
        )

    def _dup_row(attr: str, df: DataFrame, dedup: bool) -> DataFrame:
        # dedup=True only at compaction: it re-establishes set semantics on
        # disk and bounds the full snapshot. Delta writes skip it — each
        # _note_dups layer is distinct except for a key that is both an
        # in-batch and a cross-batch duplicate, and the get_duplicate_*
        # accessors apply distinct at read; a per-batch distinct would add
        # a shuffle to every micro-batch to save a handful of written rows
        if dedup:
            df = df.distinct()
        return df.select(
            F.lit(_STATE_KINDS[attr]).alias("_kind"),
            F.col("label").alias("_klabel"),
            F.col("dup_id").alias("_key"),
            F.col("kind").alias("_dup_kind"),
        )

    def _persist_seen(batch_id: int) -> None:
        seen_deltas, dup_deltas = writer.admission.take_state_deltas()
        state = writer.admission.state_frames()
        if all(state[a] is None for a in ("_seen_nodes", "_seen_edges", "_seen_ran")):
            return  # no writer state yet (initial empty batches): nothing to roll
        base = _state_read_set(meta_dir, batch_id)
        full = not base or len(base) > _COMPACT_EVERY
        if not full and not seen_deltas and not dup_deltas:
            # match-less batch in delta mode: the state is already durable
            # in the existing generations (they are only deleted when a
            # newer FULL compaction supersedes them), so an empty delta
            # generation would be pure per-batch write latency
            return
        frames = []
        if full:
            # compaction (or first write): snapshot the cumulative state,
            # superseding every older generation
            for attr, df in state.items():
                if df is None:
                    continue
                frames.append(_seen_row(attr, df) if attr.startswith("_seen") else _dup_row(attr, df, dedup=True))
        else:
            # steady state: write ONLY this batch's additions — O(batch)
            # durable I/O however large the cumulative seen universe is
            for attr, df in seen_deltas.items():
                frames.append(_seen_row(attr, df))
            for attr, df in dup_deltas.items():
                frames.append(_dup_row(attr, df, dedup=False))
        combined = frames[0]
        for other in frames[1:]:
            combined = combined.unionByName(other)
        # the union stacks the frames' partitions (3-5 x 32 locally);
        # coalesce (shuffle-free) trims the write back down. FULL snapshots
        # are O(cumulative corpus): keep them at cluster width (on a wide
        # cluster whose state is already >= defaultParallelism partitions
        # this is a no-op). DELTAS are O(one micro-batch): writing them at
        # full width multiplies a tiny write into width x kinds files whose
        # task-launch + file-commit overhead dominates the batch (measured
        # 2.2-2.6s of a ~8.5s micro-batch at 32 cores; 1/8 width cut the
        # persist step to ~1.3s with the same durable contents)
        width = spark.sparkContext.defaultParallelism
        combined = combined.coalesce(width if full else max(1, width // 8))
        new = os.path.join(meta_dir, f"_seen_b{batch_id}")
        # partitionBy keeps the single write job but gives each kind its
        # own directory, so _load_state reads each kind's files alone
        # instead of decoding the other kinds' row groups (the edges state
        # typically dominates the cumulative size)
        combined.write.mode("overwrite").partitionBy("_kind").parquet(new)
        if full:
            with open(os.path.join(new, _FULL_MARKER), "w") as fh:
                fh.write("")
        # every state frame now reads from generation files, and the
        # batch's pins are released — what keeps a long stream's cache
        # O(state), not O(batches x state)
        writer.admission.repoint_state(_load_state(spark, meta_dir, batch_id))

    def _drop_old_seen(batch_id: int) -> None:
        """Delete committed generations outside the read set: those a FULL
        compaction superseded. Delta generations stay until the next
        compaction absorbs them."""
        keep = set(_state_read_set(meta_dir, batch_id))
        for d in _seen_generations(meta_dir, "_seen", batch_id).values():
            if d not in keep:
                shutil.rmtree(d, ignore_errors=True)

    # checkpoint identity: batch ids are only meaningful relative to ONE
    # stream checkpoint. A reset/swapped checkpoint restarts ids at 0, and
    # the committed-marker skip would then silently drop NEW data — bind
    # the output dir to its checkpoint via a marker token and refuse a
    # mismatch (mirrors run_pipeline's --resume config guard).
    os.makedirs(checkpoint_dir, exist_ok=True)
    ckpt_id_path = os.path.join(checkpoint_dir, "_kg_stream_id")
    if not os.path.exists(ckpt_id_path):
        import time as _time

        with open(ckpt_id_path, "w") as fh:
            fh.write(str(_time.time_ns()))
    with open(ckpt_id_path) as fh:
        ckpt_id = fh.read().strip()
    _initial = _read_committed()
    if _initial["last_batch"] >= 0 and _initial.get("checkpoint_id") not in (None, ckpt_id):
        raise ValueError(
            f"output directory {output_directory} was produced with a different stream "
            "checkpoint; reuse the original --checkpoint or clear the output directory"
        )

    # restart: discard generations written by a crashed, uncommitted
    # attempt, then point the writer at the committed state
    for b, d in _seen_generations(meta_dir, "_seen").items():
        if b > _initial["last_batch"]:
            shutil.rmtree(d, ignore_errors=True)
    writer.admission.repoint_state(_load_state(spark, meta_dir, _initial["last_batch"]))

    def handle_batch(batch_df: DataFrame, batch_id: int) -> None:
        state = _read_committed()
        if batch_id <= state["last_batch"]:
            return  # at-least-once replay of an already-committed batch
        # wipe part files a crashed attempt left behind (not in the
        # committed inventory) so re-emitting cannot double rows
        committed = set(state["part_files"])
        for f in glob.glob(os.path.join(output_directory, "*-part*.csv")):
            if os.path.basename(f) not in committed:
                os.remove(f)
        # plain batch DF inside foreachBatch. Pin the extraction (the
        # per-pattern regexp scans + union over the whole batch) ONCE per
        # micro-batch: the writer path downstream runs several independent
        # actions (the part writes, the state-generation write),
        # each of which would otherwise re-run it (measured 5-7 recomputes
        # per batch; the dominant cost of the stream before pinning)
        mentions = materialize(stream_mentions(batch_df, patterns))
        if mentions.limit(1).count() == 0:
            parts = state["part_files"]
        else:
            if mapping is not None:
                # pin LINKED once: node side (groupBy) and edge side
                # (per-turn pairs) both re-derive from it, and without the
                # pin each downstream pin re-executes the mapping join
                linked = materialize(link_mentions(mentions, mapping=mapping))
            else:
                # identity path: linked is pinned-mentions + two narrow
                # columns — a pin here would be a pure extra job
                linked = identity_link(mentions)
            node_tuples, edge_tuples = build_triple_tuples(
                linked, edge_labels=edge_input_labels(schema_mapping)
            )
            # ONE pin below the translate split: edge_tuples feeds both the
            # plain edges and the reified rows, and the translate layer above
            # it is narrow (broadcast schema join + case conversion), so the
            # writer's own .persist() at its firsts-collect job caches the
            # post-dedup frames — dedicated per-stage pins were each a full
            # scheduled job per micro-batch for data the writer caches
            # anyway. The node and edge chains then overlap in kg_chains,
            # which pins nothing more here.
            kg_chains(node_tuples, materialize(edge_tuples), translator, writer, lambda stage, df: df)
            parts = sorted(
                os.path.basename(f)
                for f in glob.glob(os.path.join(output_directory, "*-part*.csv"))
            )
        # persist this batch's state delta (or a full compaction when one
        # is due); a match-less batch writes nothing in delta mode — its
        # state is already durable in the surviving generations, which
        # _drop_old_seen only deletes once a newer FULL gen supersedes them
        _persist_seen(batch_id)
        tmp = committed_path + ".tmp"
        with open(tmp, "w") as fh:
            _json.dump(
                {"last_batch": batch_id, "part_files": parts, "checkpoint_id": ckpt_id}, fh
            )
        os.replace(tmp, committed_path)
        _drop_old_seen(batch_id)

    stream = read_transcript_stream(spark, input_path, max_files_per_trigger)
    builder = stream.writeStream.foreachBatch(handle_batch).option("checkpointLocation", checkpoint_dir)
    if available_now:
        builder = builder.trigger(availableNow=True)
    return builder.start()


def read_stream_state(spark: SparkSession, output_directory: str) -> dict:
    """Out-of-process readout of a stream's durable state/metrics tables.

    Loads the COMMITTED state generations under ``{output}/_stream_meta``
    (a full compaction plus per-batch deltas, written by
    :func:`stream_kg`) as ``stream_kg`` does on restart, and returns row
    counts per kind: cumulative seen ids
    (``_seen_nodes``/``_seen_edges``/``_seen_ran``) and the duplicate-metrics
    tables (``duplicate_nodes``/``duplicate_edges``). Works on a live or
    finished stream — the generation files are immutable once written and
    the committed marker is atomic. Returns ``{}`` when no batch has
    committed state yet (e.g. an all-empty input); raises ``ValueError`` on
    a state layout ``stream_kg`` refuses."""
    import json as _json

    meta_dir = os.path.join(output_directory, "_stream_meta")
    committed_path = os.path.join(meta_dir, "committed.json")
    if not os.path.exists(committed_path):
        return {}
    with open(committed_path) as fh:
        last_batch = _json.load(fh)["last_batch"]

    state = _load_state(spark, meta_dir, last_batch)
    if all(df is None for df in state.values()):
        return {}
    # Seen keys are disjoint across generations (each delta holds only keys
    # its batch's anti-join admitted); duplicate-metrics rows may recur
    # across delta generations, so they are counted distinct — matching
    # the per-compaction distinct stream_kg applies on disk.
    out = {}
    for attr, key in (
        ("_seen_nodes", "seen_nodes"),
        ("_seen_edges", "seen_edges"),
        ("_seen_ran", "seen_rel_as_node"),
        ("duplicate_nodes", "duplicate_nodes"),
        ("duplicate_edges", "duplicate_edges"),
    ):
        df = state[attr]
        if df is not None and attr.startswith("duplicate"):
            df = df.distinct()
        out[key] = 0 if df is None else df.count()
    return out
