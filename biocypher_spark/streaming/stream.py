"""Structured Streaming surface: incremental KG construction.

The reference is strictly batch (single-process generators; SURVEY.md §2.6
notes streaming is a design choice, not a compatibility requirement). This
module adds the Spark-native incremental path: a transcripts directory/table
consumed with ``readStream``, mention extraction as the same built-in
expressions used in batch, watermarked windowed mention counts for late
data, and a stateful per-conversation session aggregator via
``applyInPandasWithState``.
"""

from __future__ import annotations

from typing import Iterator, Optional

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..extract import DEFAULT_PATTERNS, _regexp_mentions
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


def _union_generations(spark: SparkSession, paths: list[str]) -> DataFrame:
    """Union a set of state-generation parquet dirs into one frame.

    Each generation is its own partitioned (by `_kind`) parquet root, so a
    single multi-path read trips partition discovery
    (CONFLICTING_DIRECTORY_STRUCTURES); per-path reads unioned by name are
    the supported shape. allowMissingColumns tolerates legacy generations
    written before `_dup_kind` rode along (it reads as null there, which is
    exactly the seen-row encoding)."""
    dfs = [spark.read.parquet(p) for p in paths]
    out = dfs[0]
    for df in dfs[1:]:
        out = out.unionByName(df, allowMissingColumns=True)
    return out


def read_transcript_stream(spark: SparkSession, path: str, max_files_per_trigger: int = 8) -> DataFrame:
    return (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def stream_mentions(transcripts: DataFrame, patterns: Optional[dict[str, str]] = None) -> DataFrame:
    """Streaming mention extraction: the ``extract_mentions_expr`` kernel,
    keeping the event time column ``ts``."""
    return _regexp_mentions(transcripts, patterns, ("conv_id", "turn_idx", "ts"))


def stream_exact_dedup(transcripts: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming exact dedup: emit only the FIRST occurrence of each text
    content hash seen within the watermark horizon.

    The dedup state is keyed on ``md5(text)`` (a 32-byte key, not the text
    itself) and bounded by the watermark — the batch reference's in-memory
    seen-set has no streaming analogue at 10^12 rows, but a horizon-bounded
    state store does. Uses ``dropDuplicatesWithinWatermark`` so late
    duplicates inside the horizon are still dropped while state is evicted
    past it."""
    hashed = transcripts.withColumn("content_hash", F.md5("text")).withWatermark(
        "ts", watermark
    )
    return hashed.dropDuplicatesWithinWatermark(["content_hash"])


def stream_minhash_dedup(
    transcripts: DataFrame,
    watermark: str = "1 hour",
    seeds: int = 4,
    text_col: str = "text",
) -> DataFrame:
    """Streaming NEAR-dup suppression: emit only the first row of each full
    minhash-signature group seen within the watermark horizon (the
    streaming analogue of the batch :func:`...textops.minhash_dedup`
    AND-only grouping — near-identical rewrites share the signature and are
    dropped).

    State is keyed on ``seeds`` 16-byte signature values (not the text),
    watermark-bounded exactly like :func:`stream_exact_dedup`; the
    signature expressions are the same md5-min folds as the batch
    operator, so batch and streaming agree on what counts as a near-dup."""
    from ..textops import minhash_signature

    sigs = transcripts.select(
        "*", *minhash_signature(F.col(text_col), seeds=seeds)
    ).withWatermark("ts", watermark)
    return sigs.dropDuplicatesWithinWatermark([f"sig{b}" for b in range(seeds)])


def windowed_mention_counts(
    mentions: DataFrame,
    window: str = "10 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Watermarked tumbling-window counts per entity surface (late rows
    beyond the watermark are dropped, state is bounded)."""
    return (
        mentions.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), "input_label", "surface")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("win.start").alias("win_start"),
            "input_label",
            "surface",
            "n",
        )
    )


_SESSION_SCHEMA = "conv_id string, turns bigint, mentions bigint, first_ts timestamp, last_ts timestamp"
_STATE_SCHEMA = "turns bigint, mentions bigint, first_ts timestamp, last_ts timestamp"


def _session_fn(key, pdfs: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
    turns, mentions, first_ts, last_ts = (
        state.get if state.exists else (0, 0, None, None)
    )
    for pdf in pdfs:
        turns += len(pdf)
        mentions += int(pdf["n_mentions"].sum())
        lo, hi = pdf["ts"].min(), pdf["ts"].max()
        first_ts = lo if first_ts is None or lo < first_ts else first_ts
        last_ts = hi if last_ts is None or hi > last_ts else last_ts
    state.update((turns, mentions, first_ts, last_ts))
    yield pd.DataFrame(
        [
            {
                "conv_id": key[0],
                "turns": turns,
                "mentions": mentions,
                "first_ts": first_ts,
                "last_ts": last_ts,
            }
        ]
    )


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
    ``foreachBatch``; the batch writer's cross-call machinery supplies the
    incremental semantics — part-file numbering continues across batches and
    the seen-id anti-join (``track_seen``) dedups node/edge ids across
    batches. ``foreachBatch`` is AT-LEAST-ONCE, so idempotence is made
    durable in ``{output}/_stream_meta``:

    - ``committed.json`` (atomic rename) records the last committed batch id
      plus the part-file inventory; a replayed batch id <= the committed one
      is skipped outright, and part files NOT in the inventory (leftovers of
      a crashed attempt) are wiped before re-emitting.
    - the writer's three seen-id frames are persisted per committed batch
      as ONE combined parquet generation (``_seen_b{id}``, a ``_kind``
      discriminator column; the pre-combined per-attr layout is still
      restored as a fallback) and reloaded on restart, so a process crash
      cannot reset cross-batch dedup; generations newer than the committed
      marker (written but not committed) are discarded.

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
    from ..pipeline import build_triple_tuples, edge_input_labels, load_default_schema_mapping, tuples_reify
    from ..translate import SparkTranslator
    from ..writer.neo4j import Neo4jBatchWriter

    import os

    schema_mapping = load_default_schema_mapping()
    translator = SparkTranslator(spark, NullOntology(schema_mapping))
    reify = tuples_reify(translator)
    writer = Neo4jBatchWriter(
        spark, translator, output_directory, strict_mode=False, validate_props=False,
        ordered_parts=False, track_seen=True, lazy_seen_pins=True,
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

    import glob
    import json as _json
    import shutil

    meta_dir = os.path.join(output_directory, "_stream_meta")
    os.makedirs(meta_dir, exist_ok=True)
    committed_path = os.path.join(meta_dir, "committed.json")
    _SEEN_ATTRS = ("_seen_nodes", "_seen_edges", "_seen_ran")

    def _read_committed() -> dict:
        if os.path.exists(committed_path):
            with open(committed_path) as fh:
                return _json.load(fh)
        return {"last_batch": -1, "part_files": []}

    def _seen_generations(prefix: str) -> dict[int, str]:
        out = {}
        for d in glob.glob(os.path.join(meta_dir, f"{prefix}_b*")):
            try:
                out[int(os.path.basename(d).rsplit("_b", 1)[1])] = d
            except ValueError:
                continue
        return out

    # the three seen-id frames (node ids, edge keys, rel-as-node keys) are
    # persisted as ONE combined parquet generation per committed batch with
    # a `_kind` discriminator — one durable write per micro-batch instead
    # of three, which is the fixed-latency floor of every micro-batch at
    # cluster scale. Normalized schema: (_kind, _klabel, _key) with
    # _klabel null for the node frame (its dedup key is id-only).
    def _seen_cols(attr: str, df: DataFrame) -> DataFrame:
        part = df.filter(F.col("_kind") == attr) if "_kind" in df.columns else df
        return part.select("_key") if attr == "_seen_nodes" else part.select("_klabel", "_key")

    # LSM-style durable state: each committed batch writes only its DELTA
    # (the batch's new seen keys + duplicate-metrics appends) as generation
    # `_seen_b{N}`; every _COMPACT_EVERY deltas (and on the first write of a
    # stream / after a legacy restore) a FULL snapshot generation is written
    # instead (marker file `_FULL`) and the absorbed generations are deleted
    # after the commit marker advances. Per-batch durable write cost is
    # O(batch), not O(cumulative corpus) — the previous snapshot-per-batch
    # design rewrote the whole seen universe every micro-batch, a quadratic
    # total at 10^12-turn stream scale. The cumulative in-memory view is a
    # union over at most _COMPACT_EVERY+1 generation reads, tracked in
    # _filebacked/_dup_filebacked (the writer's own frames additionally
    # carry the current batch's pinned layer between persists).
    _COMPACT_EVERY = 16
    _FULL_MARKER = "_FULL"
    _filebacked: dict[str, Optional[DataFrame]] = {a: None for a in _SEEN_ATTRS}
    _dup_filebacked: dict[str, Optional[DataFrame]] = {}
    _deltas_since_full = [0]
    _have_full_base = [False]  # a combined generation set exists on disk

    def _is_full_gen(d: str) -> bool:
        return os.path.exists(os.path.join(d, _FULL_MARKER))

    def _gen_read_set(gens: dict[int, str]) -> list[str]:
        """Paths whose union is the cumulative state: the newest FULL
        generation plus every delta after it. A set with no marked member
        is a single legacy pre-delta snapshot (that engine kept exactly one
        generation alive) — read it all."""
        full = [b for b, d in gens.items() if _is_full_gen(d)]
        start = max(full) if full else min(gens)
        return [gens[b] for b in sorted(gens) if b >= start]

    def _restore_seen(last_batch: int) -> None:
        """Load the committed generation set (newest full + later deltas);
        discard generations written by a crashed, uncommitted attempt."""
        gens = _seen_generations("_seen")
        for b, d in list(gens.items()):
            if b > last_batch:
                shutil.rmtree(d, ignore_errors=True)
                del gens[b]
        if gens:
            paths = _gen_read_set(gens)
            combined = _union_generations(spark, paths)
            for attr in _SEEN_ATTRS:
                part = _seen_cols(attr, combined)
                # an attr with zero rows stays None: anti-join vs an empty
                # frame is the identity, and None skips the join entirely
                if part.limit(1).count() > 0:
                    setattr(writer, attr, part)
                    _filebacked[attr] = part
            _point_dups_at(combined)
            for attr in _DUP_ATTRS:
                _dup_filebacked[attr] = getattr(writer, attr)
            _deltas_since_full[0] = len(paths) - 1
            _have_full_base[0] = True
            return
        # legacy layout (pre-combined): one parquet dir per attr — an output
        # dir written by an older engine restarts without losing dedup state.
        # _have_full_base stays False, so the next persist writes a FULL
        # combined snapshot (deltas alone would strand the base state in
        # dirs the combined-first restore no longer reads).
        for attr in _SEEN_ATTRS:
            old = _seen_generations(attr)
            for b, d in list(old.items()):
                if b > last_batch:
                    shutil.rmtree(d, ignore_errors=True)
                    del old[b]
            if old:
                restored = spark.read.parquet(old[max(old)])
                setattr(writer, attr, restored)
                _filebacked[attr] = restored

    # the duplicate-metrics frames ride in the SAME combined generation as
    # the seen-id state (kinds "_dup::duplicate_nodes"/"_dup::duplicate_edges",
    # with the metrics' own node/edge discriminator in an extra ``_dup_kind``
    # column that is null on seen rows). This serves two purposes at zero
    # extra Spark jobs: (1) the layers _note_dups appends inside a batch
    # lazily reference that batch's pinned frames, which are released after
    # every persist — writing the appends into the generation evaluates
    # them while the pins are live and repoints the writer's frames at
    # generation files (and at compaction time, at files that survive the
    # absorbed generations' deletion); (2) the metrics tables become
    # restart-durable alongside the dedup state instead of resetting to
    # empty on resume.
    _DUP_ATTRS = ("duplicate_nodes", "duplicate_edges")

    def _point_dups_at(combined: DataFrame) -> None:
        """Repoint the writer's duplicate-metrics frames at a generation.

        MUST be unconditional for a frame the writer already holds: even an
        all-EMPTY duplicate frame is a lazy union chain referencing the
        superseded seen generations (_note_dups appends the cross-batch
        layer whether or not it has rows), and leaving it un-repointed lets
        _drop_old_seen delete files the next evaluation still reads — the
        duplicate-free-stream variant of the crash the ride-along persist
        exists to prevent. Only a frame the writer does NOT hold (the
        restore path's fresh writer) keeps its None when the generation has
        no rows for it, preserving "no metrics yet" semantics."""
        if "_dup_kind" not in combined.columns:
            return  # legacy generation written before metrics rode along
        for attr in _DUP_ATTRS:
            part = combined.filter(F.col("_kind") == f"_dup::{attr}")
            if getattr(writer, attr) is not None or part.limit(1).count() > 0:
                setattr(writer, attr, part.select(
                    F.col("_dup_kind").alias("kind"),
                    F.col("_klabel").alias("label"),
                    F.col("_key").alias("dup_id"),
                ))
                writer._dup_chain_len[attr] = 0

    def _seen_row(attr: str, df: DataFrame) -> DataFrame:
        klabel = F.col("_klabel") if "_klabel" in df.columns else F.lit(None).cast("string").alias("_klabel")
        return df.select(
            F.lit(attr).alias("_kind"), klabel, "_key",
            F.lit(None).cast("string").alias("_dup_kind"),
        )

    def _dup_row(attr: str, df: DataFrame, dedup: bool) -> DataFrame:
        # dedup=True only at compaction: it re-establishes set semantics on
        # disk and bounds the full snapshot. Delta writes skip it — each
        # _note_dups layer is already distinct within itself (the only
        # possible overlap is a key that is both an in-batch and a
        # cross-batch duplicate), and the get_duplicate_* accessors apply
        # distinct at read; a per-batch distinct would add a shuffle to
        # every micro-batch to save a handful of written rows
        if dedup:
            df = df.distinct()
        return df.select(
            F.lit(f"_dup::{attr}").alias("_kind"),
            F.col("label").alias("_klabel"),
            F.col("dup_id").alias("_key"),
            F.col("kind").alias("_dup_kind"),
        )

    def _dup_cols(part: DataFrame) -> DataFrame:
        return part.select(
            F.col("_dup_kind").alias("kind"),
            F.col("_klabel").alias("label"),
            F.col("_key").alias("dup_id"),
        )

    def _persist_seen(batch_id: int) -> None:
        seen_deltas, dup_deltas = writer.take_state_deltas()
        if all(getattr(writer, a) is None for a in _SEEN_ATTRS):
            return  # no writer state yet (initial empty batches): nothing to roll
        full = (not _have_full_base[0]) or _deltas_since_full[0] >= _COMPACT_EVERY
        if not full and not seen_deltas and not dup_deltas:
            # match-less batch in delta mode: the state is already durable
            # in the existing generations (they are only deleted when a
            # newer FULL compaction supersedes them), so an empty delta
            # generation would be pure per-batch write latency
            return
        frames = []
        if full:
            # compaction (or first combined write): snapshot the cumulative
            # state, superseding every older generation
            for attr in _SEEN_ATTRS:
                df = getattr(writer, attr)
                if df is not None:
                    frames.append(_seen_row(attr, df))
            for attr in _DUP_ATTRS:
                df = getattr(writer, attr)
                if df is not None:
                    frames.append(_dup_row(attr, df, dedup=True))
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
        # own directory, so the per-attr restore/dedup scans
        # partition-prune instead of decoding the other kinds' row groups
        # (the edges state typically dominates the cumulative size)
        combined.write.mode("overwrite").partitionBy("_kind").parquet(new)
        if full:
            with open(os.path.join(new, _FULL_MARKER), "w") as fh:
                fh.write("")
        back = spark.read.parquet(new)
        if full:
            for attr in _SEEN_ATTRS:
                if getattr(writer, attr) is not None:
                    part = _seen_cols(attr, back)
                    _filebacked[attr] = part
                    setattr(writer, attr, part)
            _point_dups_at(back)
            for attr in _DUP_ATTRS:
                _dup_filebacked[attr] = getattr(writer, attr)
            _deltas_since_full[0] = 0
            _have_full_base[0] = True
        else:
            # extend the file-backed view by this generation; the writer's
            # frames (cumulative state = file-backed base + this batch's
            # pinned layer) are repointed at pure file reads so the pins
            # can be released below
            for attr in seen_deltas:
                part = _seen_cols(attr, back)
                prev = _filebacked[attr]
                merged = part if prev is None else prev.unionByName(part)
                _filebacked[attr] = merged
                setattr(writer, attr, merged)
            for attr in dup_deltas:
                part = _dup_cols(back.filter(F.col("_kind") == f"_dup::{attr}"))
                prev = _dup_filebacked.get(attr)
                merged = part if prev is None else prev.unionByName(part)
                _dup_filebacked[attr] = merged
                setattr(writer, attr, merged)
                writer._dup_chain_len[attr] = 0
            _deltas_since_full[0] += 1
        # every seen frame (and dup chain) now reads from generation
        # files — the per-call persist() pins are superseded; releasing
        # them per batch is what keeps a long stream's cache O(state), not
        # O(batches x state)
        writer.release_seen_state_pins()

    def _drop_old_seen(batch_id: int) -> None:
        """Delete generations superseded by a committed FULL compaction
        (and legacy per-attr dirs once a combined base exists). Delta
        generations stay until the next compaction absorbs them."""
        gens = {b: d for b, d in _seen_generations("_seen").items() if b <= batch_id}
        if not gens:
            return
        full = [b for b, d in gens.items() if _is_full_gen(d)]
        if full:
            cut = max(full)
            for b, d in gens.items():
                if b < cut:
                    shutil.rmtree(d, ignore_errors=True)
        for prefix in _SEEN_ATTRS:
            for b, d in _seen_generations(prefix).items():
                if b < batch_id:
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

    _restore_seen(_initial["last_batch"])

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
        # actions (seen-dedup counts, first-row collects, the part write),
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
            # ONE pin below the translate split: edge_tuples feeds both
            # te.edges and te.ran_nodes, and the translate layer above it is
            # narrow (broadcast schema join + case conversion), so the
            # writer's own .persist() at its firsts-collect job caches the
            # post-dedup frames — dedicated te.edges / te.ran_nodes /
            # tn.nodes pins were each a full scheduled job per micro-batch
            # for data the writer caches anyway (3 jobs/batch saved; the
            # earlier 56s->44s pin profiling predates the identity-link
            # fast path that made the upstream chain narrow)
            edge_tuples = materialize(edge_tuples)
            tn = translator.translate_nodes(node_tuples)
            te = translator.translate_edges(edge_tuples)
            writer.write_nodes(tn.nodes)
            # the rel-as-node frames (their dedup and emptiness probe) only
            # when the schema lets these tuples be reified
            writer.write_edges(te if reify else te.edges)
            writer.write_import_call()
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

    Reads the COMMITTED combined state generations under
    ``{output}/_stream_meta`` (a full compaction plus per-batch deltas,
    written by :func:`stream_kg`) and returns row counts per kind:
    cumulative seen ids
    (``_seen_nodes``/``_seen_edges``/``_seen_ran``) and the duplicate-metrics
    tables (``duplicate_nodes``/``duplicate_edges``). Works on a live or
    finished stream — the generation files are immutable once written and
    the committed marker is atomic. Returns ``{}`` when no batch has
    committed state yet (e.g. an all-empty input)."""
    import glob
    import json as _json
    import os

    meta_dir = os.path.join(output_directory, "_stream_meta")
    committed_path = os.path.join(meta_dir, "committed.json")
    if not os.path.exists(committed_path):
        return {}
    with open(committed_path) as fh:
        last_batch = _json.load(fh)["last_batch"]

    def _committed_gens(prefix: str) -> dict[int, str]:
        out = {}
        for d in glob.glob(os.path.join(meta_dir, f"{prefix}_b*")):
            try:
                b = int(os.path.basename(d).rsplit("_b", 1)[1])
            except ValueError:
                continue
            if b <= last_batch:
                out[b] = d
        return out

    gens = _committed_gens("_seen")
    if gens:
        # cumulative state = the newest FULL generation plus every delta
        # after it (a markerless set is a single legacy full snapshot).
        # Seen keys are disjoint across generations (each delta holds only
        # keys its batch's anti-join admitted); duplicate-metrics rows may
        # recur across delta generations, so they are counted distinct —
        # matching the per-compaction distinct the writer applies on disk.
        full = [
            b for b, d in gens.items() if os.path.exists(os.path.join(d, "_FULL"))
        ]
        start = max(full) if full else min(gens)
        paths = [gens[b] for b in sorted(gens) if b >= start]
        combined = _union_generations(spark, paths)
        seen_counts = {
            r["_kind"]: r["n"]
            for r in combined.filter(~F.col("_kind").startswith("_dup::"))
            .groupBy("_kind").agg(F.count(F.lit(1)).alias("n")).collect()
        }
        dup_cols = [c for c in ("_kind", "_klabel", "_key", "_dup_kind") if c in combined.columns]
        dup_counts = {
            r["_kind"]: r["n"]
            for r in combined.filter(F.col("_kind").startswith("_dup::"))
            .dropDuplicates(dup_cols)
            .groupBy("_kind").agg(F.count(F.lit(1)).alias("n")).collect()
        }
        return {
            "seen_nodes": seen_counts.get("_seen_nodes", 0),
            "seen_edges": seen_counts.get("_seen_edges", 0),
            "seen_rel_as_node": seen_counts.get("_seen_ran", 0),
            "duplicate_nodes": dup_counts.get("_dup::duplicate_nodes", 0),
            "duplicate_edges": dup_counts.get("_dup::duplicate_edges", 0),
        }
    # legacy layout (one parquet dir per attr, pre-combined engine): the
    # dedup state stream_kg would restore from is real — report it.
    # Duplicate metrics were never persisted by that engine: 0 by fact.
    out = {}
    for attr, key in (
        ("_seen_nodes", "seen_nodes"),
        ("_seen_edges", "seen_edges"),
        ("_seen_ran", "seen_rel_as_node"),
    ):
        old = _committed_gens(attr)
        out[key] = spark.read.parquet(old[max(old)]).count() if old else 0
    if not any(out.values()):
        return {}
    out["duplicate_nodes"] = 0
    out["duplicate_edges"] = 0
    return out


def conversation_sessions(transcripts: DataFrame, patterns: Optional[dict[str, str]] = None) -> DataFrame:
    """Stateful per-conversation aggregation (custom operator via
    ``applyInPandasWithState``): running turn count, mention count, and the
    first/last timestamps of the conversation."""
    patterns = patterns or DEFAULT_PATTERNS
    combined = "|".join(f"(?:{p})" for p in patterns.values())
    with_counts = transcripts.select(
        "conv_id",
        "ts",
        F.size(F.regexp_extract_all(F.col("text"), F.lit(combined), F.lit(0))).alias("n_mentions"),
    )
    return with_counts.groupBy("conv_id").applyInPandasWithState(
        _session_fn,
        outputStructType=_SESSION_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
