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
import json
import os
import shutil
from functools import reduce
from typing import Optional
from urllib.parse import unquote

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..dedup import DUP_KINDS, LEDGER_COLUMNS
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

# columns of every kind's partition of a state generation; its `_kind`
# partitions are the ledger's kinds (dedup.LEDGER_COLUMNS): the three
# seen-key kinds and the two duplicate-metrics kinds (`_dup_kind` is null on
# seen rows)
_GEN_SCHEMA = "_klabel string, _key string, _dup_kind string"
# a state write is a FULL compaction once the read set holds this many deltas
_COMPACT_EVERY = 16
# read_stream_state's count name of each `_kind`
_COUNTED = {
    "_seen_nodes": "seen_nodes",
    "_seen_edges": "seen_edges",
    "_seen_ran": "seen_rel_as_node",
    DUP_KINDS["node"]: "duplicate_nodes",
    DUP_KINDS["edge"]: "duplicate_edges",
}


def _read_committed(meta_dir: str) -> dict:
    """The stream's commit marker ``committed.json``: ``last_batch`` (-1
    before the first commit), the ``part_files`` inventory and the
    ``checkpoint_id``."""
    path = os.path.join(meta_dir, "committed.json")
    if not os.path.exists(path):
        return {"last_batch": -1, "part_files": []}
    with open(path) as fh:
        return json.load(fh)


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


def _load_state(spark: SparkSession, meta_dir: str, upto: int) -> Optional[DataFrame]:
    """The committed state up to batch ``upto`` as one ledger frame
    (``dedup.LEDGER_COLUMNS``); None before the first state write.

    Each kind is one read of its partition directories across the read
    set, with the fixed generation schema and ``_kind`` as a literal, so a
    filter on ``_kind`` reads that kind's files alone: no schema inference,
    and at most ``_COMPACT_EVERY`` + 1 paths stay under Spark's
    parallel-listing threshold, so loading starts no Spark job."""
    dirs: dict[str, list[str]] = {}
    for gen in _state_read_set(meta_dir, upto):
        for d in sorted(glob.glob(os.path.join(gen, "_kind=*"))):
            # partitionBy escapes the ':' of the duplicate kinds on disk
            dirs.setdefault(unquote(d.rsplit("_kind=", 1)[1]), []).append(d)
    frames = [
        spark.read.schema(_GEN_SCHEMA).parquet(*paths).select(F.lit(kind).alias("_kind"), *LEDGER_COLUMNS[1:])
        for kind, paths in dirs.items()
    ]
    return reduce(DataFrame.unionByName, frames) if frames else None


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
    call's marked first rows and ledger frame) are filled by the batch's
    own part and state writes, with no separate count, and released once
    the batch's state generation is written.
    ``foreachBatch`` is AT-LEAST-ONCE, so idempotence is made durable in
    ``{output}/_stream_meta``:

    - ``committed.json`` (atomic rename) records the last committed batch id
      plus the part-file inventory; a replayed batch id <= the committed one
      is skipped outright, and part files NOT in the inventory (leftovers of
      a crashed attempt) are wiped before re-emitting.
    - the writer's dedup ledger (its seen ids and duplicate rows, already
      in the generation schema) is persisted per batch as ONE parquet
      generation (``_seen_b{id}``, partitioned by ``_kind``): a FULL
      snapshot every ``_COMPACT_EVERY`` deltas, the batch's own ledger
      frames otherwise. The writer is pointed at the committed generations on
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

    meta_dir = os.path.join(output_directory, "_stream_meta")
    os.makedirs(meta_dir, exist_ok=True)
    committed_path = os.path.join(meta_dir, "committed.json")

    # The writer's ledger (dedup.Admission: one frame per admit call, in the
    # generation schema — seen node ids, edge keys and rel-as-node keys, and
    # the two duplicate-metrics kinds) is persisted as ONE parquet
    # generation per state-writing batch, partitioned by `_kind` — one
    # durable write per micro-batch, the fixed-latency floor of every
    # micro-batch at cluster scale. _klabel is null for the node ids (their
    # dedup key is id-only); _dup_kind carries the metrics' own node/edge
    # discriminator and is null on seen rows.
    #
    # LSM-style durable state: each committed batch writes only its DELTA
    # (the ledger frames its admit calls appended) as generation
    # `_seen_b{N}`; when the committed read set has no FULL generation yet
    # or already holds _COMPACT_EVERY deltas, a FULL snapshot generation
    # (the whole ledger) is written instead (marker file `_FULL`), and the
    # absorbed generations are deleted after the commit marker advances.
    # Per-batch durable write cost is O(batch), not O(cumulative corpus).
    #
    # After every state write the writer is repointed at the read set
    # (_load_state): the batch's ledger frames read its pinned rows, and
    # writing them into the generation evaluates them while the pins are
    # live, so the pins can be released and superseded generations
    # deleted. The metrics tables are restart-durable alongside the dedup
    # state.

    def _persist_seen(batch_id: int) -> None:
        base = _state_read_set(meta_dir, batch_id)
        full = not base or len(base) > _COMPACT_EVERY
        state = writer.admission.state(delta=not full)
        if state is None:
            # no writer state yet (initial empty batches), or a match-less
            # batch in delta mode: the state is already durable in the
            # existing generations (they are only deleted when a newer FULL
            # compaction supersedes them), so an empty delta generation
            # would be pure per-batch write latency
            return
        if full:
            # compaction (or first write): the cumulative state, with set
            # semantics re-established on the duplicate rows (a key can be
            # an in-call and a cross-call duplicate; reports apply distinct
            # at read, so deltas skip a per-batch shuffle for it). Seen keys
            # are distinct by construction.
            dup = F.col("_kind").startswith("_dup::")
            state = state.filter(~dup).unionByName(state.filter(dup).distinct())
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
        state = state.coalesce(width if full else max(1, width // 8))
        new = os.path.join(meta_dir, f"_seen_b{batch_id}")
        # partitionBy keeps the single write job but gives each kind its
        # own directory, so a filter on _kind reads that kind's files alone
        # instead of decoding the other kinds' row groups (the edges state
        # typically dominates the cumulative size)
        state.write.mode("overwrite").partitionBy("_kind").parquet(new)
        if full:
            with open(os.path.join(new, _FULL_MARKER), "w") as fh:
                fh.write("")
        # the ledger now reads from generation files, and the batch's pins
        # are released — what keeps a long stream's cache O(state), not
        # O(batches x state)
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
    _initial = _read_committed(meta_dir)
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
        state = _read_committed(meta_dir)
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
            json.dump(
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
    meta_dir = os.path.join(output_directory, "_stream_meta")
    state = _load_state(spark, meta_dir, _read_committed(meta_dir)["last_batch"])
    if state is None:
        return {}
    # Seen keys are disjoint across generations (each delta holds only keys
    # its batch's join admitted); duplicate rows may recur across delta
    # generations, so every kind is counted distinct — matching the
    # per-compaction distinct stream_kg applies on disk.
    counts = dict(state.distinct().groupBy("_kind").count().collect())
    return {name: counts.get(kind, 0) for kind, name in _COUNTED.items()}
