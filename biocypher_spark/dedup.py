"""Shuffle-based deduplication with first-wins determinism (D1-D4).

The reference keeps unbounded in-memory ``set``s on a single process
(/root/reference/biocypher/_deduplicate.py:20-111); at 10^12-row scale that
state must become a shuffle. One mechanism serves every caller: a
:class:`KeySpace` ranks each key group by the explicit arrival column
``SEQ`` (so "first occurrence wins" is deterministic under parallelism),
folds the group's duplicate labels into its first row, and — when it keeps
state across calls — anti-joins the keys earlier calls admitted. It emits
duplicate-metrics rows instead of log lines. Every sink admits its rows
through one :class:`Admission`, which holds the three key spaces with state
(the one-shot ``dedup_*`` calls build a space per call).

Scale notes:
  * node dedup is **global across labels** (one id namespace,
    _deduplicate.py:44-52) -> a single hash shuffle on node_id. AQE handles
    skewed ids; callers can pre-salt pathological key spaces.
  * edge dedup is per (relationship_label, id-or-src_tgt) -> composite key
    shuffle, naturally better distributed.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Optional, Union

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .materialize import materialize
from .model import SEQ, with_seq
from .translate import RAN_HIDDEN_COLS, TranslatedEdges, ran_helper_edges


@dataclass
class DedupResult:
    kept: DataFrame
    duplicates: DataFrame  # metrics table: kind, label, dup_id


def edge_dedup_key() -> F.Column:
    """id, defaulting to ``{src}_{tgt}`` (``Deduplicator.edge_seen``,
    /root/reference/biocypher/_deduplicate.py:67-71).

    Null endpoints coalesce to the string 'None' exactly like the
    reference's f-string — a plain concat would return NULL for every
    null-endpoint edge, collapsing DISTINCT edges ('a'->NULL, 'b'->NULL)
    into one window partition and silently deduping real edges."""
    return F.coalesce(
        F.col("relationship_id"),
        F.concat(
            F.coalesce(F.col("source_id"), F.lit("None")),
            F.lit("_"),
            F.coalesce(F.col("target_id"), F.lit("None")),
        ),
    )


# the three key spaces of the reference's Deduplicator, by the name their
# seen keys carry in stream state: (metrics kind, label column, key column
# (None: edge_dedup_key), keyed per label, columns a sink needs non-NULL)
_SPACES = {
    "_seen_nodes": ("node", "node_label", "node_id", False, ("node_id",)),  # D1: node id, global across labels
    "_seen_edges": ("edge", "relationship_label", None, True, ("source_id", "target_id")),  # D2: (type, edge key)
    "_seen_ran": ("edge", "node_label", "node_id", True, ()),  # D3: (type, reified id)
}


class KeySpace:
    """One first-wins dedup key space; with ``track_seen`` also the keys
    earlier calls admitted.

    A call's rows carry the key as ``_key`` (and the label as ``_klabel``
    for a per-label space) while they are deduped; the seen keys are a
    frame of those columns. The cumulative seen union is never pinned:
    ``Dataset.union`` flattens nested unions, so each call's anti-join reads
    (and fills) every call's persisted key frame directly. Each call's
    full-row pins are released by :meth:`release_earlier_row_pins` once the
    next call consumed them, and every pin by :meth:`release_pins`."""

    def __init__(self, name: str, track_seen: bool = False):
        self.kind, self.label_col, self._key_col, per_label, self._sink_keys = _SPACES[name]
        self.key_cols = ["_klabel", "_key"] if per_label else ["_key"]
        self.track_seen = track_seen
        self.seen: Optional[DataFrame] = None
        self._delta: Optional[DataFrame] = None  # keys admitted since the last take_delta()
        self._key_pins: list[DataFrame] = []  # each call's admitted keys
        self._row_pins: list[list[DataFrame]] = []  # each call's full-row pins

    def _metrics(self, frame: DataFrame, label: Column) -> DataFrame:
        return frame.select(F.lit(self.kind).alias("kind"), label.alias("label"), F.col("_key").alias("dup_id"))

    def admit(self, df: DataFrame) -> tuple[DataFrame, DataFrame]:
        """``(kept rows, (kind, label, dup_id) duplicate rows)`` of ``df``:
        the first row of each key by ``SEQ``, minus the keys of earlier
        calls when the space tracks them.

        One window ranks each key group and folds the group's duplicate
        labels into its first row as ``_dup_labels`` —
        ``collect_set(when(_rn > 1, label))``, bounded by the LABEL
        VOCABULARY, never group size, so a hot key with millions of
        occurrences stays O(labels) in state (a duplicate row with a NULL
        label is not representable in the set and goes unreported;
        translated frames always carry labels). The duplicate rows are
        projections of those first rows:

        - in-call: explode ``_dup_labels`` (key-unique, per-key label set
          => no distinct needed);
        - cross-call: the first rows ANTI the kept keys — the complement of
          the seen anti-join, with no extra scan of the seen state.

        With ``track_seen`` the first rows and the kept rows are pinned, so
        the caller's write, the new seen keys, the next call's anti-join
        and the metrics read one window evaluation. Nothing is counted
        here: each pin is filled by its first consumer's job."""
        key = edge_dedup_key() if self._key_col is None else F.col(self._key_col)
        keyed = df.withColumn("_key", key)
        if len(self.key_cols) == 2:
            keyed = keyed.withColumn("_klabel", F.col(self.label_col))
        w = Window.partitionBy(*self.key_cols).orderBy(SEQ)
        w_all = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        ranked = keyed.withColumn("_rn", F.row_number().over(w))
        ranked = ranked.withColumn(
            "_dup_labels",
            F.collect_set(F.when(F.col("_rn") > 1, F.col(self.label_col))).over(w_all),
        )
        firsts = ranked.filter(F.col("_rn") == 1).drop("_rn")
        if self.track_seen:
            firsts = firsts.persist()
        dups = self._metrics(firsts.filter(F.size("_dup_labels") > 0), F.explode("_dup_labels"))
        if not self.track_seen:
            return firsts.drop("_dup_labels", *self.key_cols), dups
        pins = [firsts]
        if self.seen is None:
            kept = firsts.drop("_dup_labels")
        else:
            kept = firsts.join(self.seen, self.key_cols, "left_anti").drop("_dup_labels").persist()
            pins.append(kept)
            cross = firsts.join(kept.select(*self.key_cols), self.key_cols, "left_anti")
            dups = dups.unionByName(self._metrics(cross, F.col(self.label_col)))
        self._row_pins.append(pins)
        new_keys = kept.select(*self.key_cols).persist()
        self._key_pins.append(new_keys)
        # the union needs NO distinct: new_keys is key-unique (row_number==1
        # keeps one row per key) and disjoint from seen (the anti-join
        # above), and seen is distinct by this same induction — a distinct
        # here would re-shuffle the ENTIRE cumulative seen state on every
        # call, O(all ids ever admitted) per micro-batch at stream scale
        self.seen = new_keys if self.seen is None else self.seen.unionByName(new_keys)
        self._delta = new_keys if self._delta is None else self._delta.unionByName(new_keys)
        return kept.drop(*self.key_cols), dups

    def admit_writable(self, df: DataFrame) -> tuple[DataFrame, DataFrame]:
        """:meth:`admit` over the rows a sink can write (:class:`Admission`):
        a node with a NULL id (D1) or an edge with a NULL endpoint (D2) is
        dropped first. The one-shot ``dedup_*`` calls keep such rows."""
        for c in self._sink_keys:
            df = df.filter(F.col(c).isNotNull())
        return self.admit(df)

    def take_delta(self) -> Optional[DataFrame]:
        """Hand over (and clear) the keys admitted since the last call."""
        delta, self._delta = self._delta, None
        return delta

    def release_earlier_row_pins(self) -> None:
        """Unpersist the full-row pins of all but the latest call. Call once
        the latest call's kept rows were consumed: its anti-join has then
        filled the key pins the earlier rows fed, so only lazy duplicate
        metrics still reach them."""
        while len(self._row_pins) > 1:
            for df in self._row_pins.pop(0):
                df.unpersist()

    def release_pins(self) -> None:
        """Unpersist every pin and drop the delta. Call ONLY once ``seen``
        no longer reads the key pins (repointed at durable storage): until
        then they back the live union, and unpersisting them would force a
        deep lineage recompute on the next anti-join."""
        for df in self._key_pins + [df for pins in self._row_pins for df in pins]:
            df.unpersist()
        self._key_pins.clear()
        self._row_pins.clear()
        self._delta = None


class Admission:
    """A sink's one admission step: the rows it may write, first wins.

    It holds the three key spaces (D1 node id, D2 (type, edge key), D3
    (type, reified id)), keyed by the name their seen keys carry in stream
    state, and the duplicate-metrics frames they feed (D4). Every sink calls
    :meth:`nodes` / :meth:`edges` at the top of its node / edge write, and
    :meth:`release_earlier_row_pins` once it has written what they
    returned. ``track_seen=False`` makes every call one-shot (no cross-call
    seen keys) for single-shot pipelines whose inputs are already unique.
    Cross-call state is an accumulated, persisted key DataFrame per space,
    replacing the reference's unbounded in-memory sets (reference
    ``biocypher/_deduplicate.py:20-29``); ``stream_kg`` persists and reloads
    it through :meth:`take_state_deltas`, :meth:`state_frames` and
    :meth:`repoint_state`."""

    # every _DUP_COLLAPSE appended layers a duplicate-metrics chain is
    # distinct-ed and pinned, so its eventual evaluation pays a bounded plan.
    # It only fires for a sink that is never repointed (the facade's);
    # stream_kg repoints after at most two layers per frame.
    _DUP_COLLAPSE = 16

    def __init__(self, track_seen: bool = True):
        self.key_spaces = {name: KeySpace(name, track_seen) for name in _SPACES}
        self.duplicate_nodes: Optional[DataFrame] = None
        self.duplicate_edges: Optional[DataFrame] = None
        self._dup_chain_len: dict[str, int] = {}  # union layers since last collapse
        # the metrics rows appended since the last take_state_deltas(), which
        # stream_kg persists per micro-batch (O(batch), not O(corpus)); lazy
        # plans only, cleared with the pins in release_seen_state_pins()
        self._dup_deltas: dict[str, DataFrame] = {}

    def _admit(self, space: str, df: DataFrame) -> DataFrame:
        """The rows of ``df`` the key space ``space`` admits (NULL keys
        dropped; a frame with no ``SEQ`` column ranks in its row order); its
        duplicate rows go to the metrics frame of its kind."""
        keys = self.key_spaces[space]
        kept, dups = keys.admit_writable(with_seq(df))
        self._note_dups("duplicate_nodes" if keys.kind == "node" else "duplicate_edges", dups)
        return kept

    def nodes(self, nodes: DataFrame) -> DataFrame:
        """The node rows to write: the first of each id across labels (D1)."""
        return self._admit("_seen_nodes", nodes)

    def reified(self, edges: TranslatedEdges) -> tuple[DataFrame, DataFrame]:
        """``(reified nodes, plain and helper edges)``: the first reified row
        of each (type, id) (D3), and the helper edges of the survivors
        (:func:`ran_surviving_edges`) beside the plain edges."""
        ran_nodes, ran_edges = ran_surviving_edges(self._admit("_seen_ran", edges.ran_nodes), edges.ran_edges)
        return ran_nodes, edges.edges.unionByName(ran_edges)

    def edges(self, edges: Union[DataFrame, TranslatedEdges]) -> tuple[Optional[DataFrame], DataFrame]:
        """``(reified nodes or None, edge rows to write)``: a TranslatedEdges
        is split by :meth:`reified`, and its reified nodes (for the sink's
        node write) are None when one probe finds none; the edge rows are
        the first of each (type, edge key) (D2) (reference ``write_edges``,
        ``biocypher/output/write/_batch_writer.py:437-510``)."""
        ran_nodes = None
        if isinstance(edges, TranslatedEdges):
            ran_nodes, edges = self.reified(edges)
            if ran_nodes.limit(1).count() == 0:
                ran_nodes = None
        return ran_nodes, self._admit("_seen_edges", edges)

    def release_earlier_row_pins(self, kind: str) -> None:
        """:meth:`KeySpace.release_earlier_row_pins` of the spaces of
        ``kind`` (``"node"``: D1; ``"edge"``: D2 and D3)."""
        for keys in self.key_spaces.values():
            if keys.kind == kind:
                keys.release_earlier_row_pins()

    def _note_dups(self, attr: str, dups: DataFrame) -> None:
        """Append a (kind, label, dup_id) batch to a duplicate-metrics frame.

        Plain union per call (set semantics are applied lazily by the
        ``get_duplicate_*`` accessors and eagerly at each collapse) — a
        distinct per call would add a shuffle layer per sink call to the
        eventual evaluation plan. The chains reference the seen frames live
        at append time: a caller that deletes the storage behind superseded
        state persists them and repoints first (stream_kg writes them into
        its per-batch state generation)."""
        prev = getattr(self, attr)
        merged = dups if prev is None else prev.unionByName(dups)
        prev_delta = self._dup_deltas.get(attr)
        self._dup_deltas[attr] = dups if prev_delta is None else prev_delta.unionByName(dups)
        self._dup_chain_len[attr] = self._dup_chain_len.get(attr, 0) + 1
        if self._dup_chain_len[attr] >= self._DUP_COLLAPSE:
            merged = materialize(merged.distinct())
            self._dup_chain_len[attr] = 0
        setattr(self, attr, merged)

    def release_seen_state_pins(self) -> None:
        """Unpersist every pin. Call ONLY once the seen frames were repointed
        at durable storage (repoint_state does): until then the pins back
        the live unions, and the next anti-join would recompute them."""
        for keys in self.key_spaces.values():
            keys.release_pins()
        self._dup_deltas.clear()

    def take_state_deltas(self) -> tuple[dict[str, DataFrame], dict[str, DataFrame]]:
        """Hand over (and clear) the seen-key / duplicate-metrics deltas
        accumulated since the last call — the frames a streaming caller
        persists per micro-batch. MUST be consumed (written out) before
        repoint_state() or release_seen_state_pins(): the delta frames
        reference the batch pins, and after release their lineage points
        at a foreachBatch input that no longer exists."""
        seen = {name: d for name, keys in self.key_spaces.items() if (d := keys.take_delta()) is not None}
        dups, self._dup_deltas = self._dup_deltas, {}
        return seen, dups

    def state_frames(self) -> dict[str, Optional[DataFrame]]:
        """The whole state, keyed as repoint_state takes it: the key spaces'
        seen keys (``_seen_nodes``, ``_seen_edges``, ``_seen_ran``) and
        ``duplicate_nodes``, ``duplicate_edges``; None: no state of that kind."""
        frames = {name: keys.seen for name, keys in self.key_spaces.items()}
        return {**frames, "duplicate_nodes": self.duplicate_nodes, "duplicate_edges": self.duplicate_edges}

    def repoint_state(self, frames: dict[str, Optional[DataFrame]]) -> None:
        """Replace the whole state with ``frames`` (keyed as state_frames())
        read from durable storage. They must already hold every call since
        the last repoint (stream_kg writes their deltas first): those calls'
        pins are released and the metrics chains restart at the frames."""
        for name, keys in self.key_spaces.items():
            keys.seen = frames[name]
        self.duplicate_nodes, self.duplicate_edges = frames["duplicate_nodes"], frames["duplicate_edges"]
        self._dup_chain_len.clear()
        self.release_seen_state_pins()


class AdmittingSink:
    """A sink whose rows pass ``self.admission``; it reports what that
    admission dropped (set semantics: the metrics chains are plain unions)."""

    admission: Admission

    def get_duplicate_nodes(self) -> Optional[DataFrame]:
        dups = self.admission.duplicate_nodes
        return None if dups is None else dups.distinct()

    def get_duplicate_edges(self) -> Optional[DataFrame]:
        dups = self.admission.duplicate_edges
        return None if dups is None else dups.distinct()


def dedup_nodes(nodes: DataFrame) -> DedupResult:
    """Global node-id dedup, first occurrence wins (D1).

    Duplicate metrics record each duplicated id once per label under which
    duplicates appeared, mirroring ``Deduplicator.node_seen`` bookkeeping
    (reference ``biocypher/_deduplicate.py:31-52``)."""
    return DedupResult(*KeySpace("_seen_nodes").admit(nodes))


def dedup_edges(edges: DataFrame) -> DedupResult:
    """Per-(type, id) edge dedup, first occurrence wins (D2)."""
    return DedupResult(*KeySpace("_seen_edges").admit(edges))


def dedup_rel_as_nodes(ran_nodes: DataFrame, ran_edges: DataFrame) -> tuple:
    """Rel-as-node dedup keyed on the reified node's (label, id) (D3).

    The reference skips the whole triplet when the node was seen
    (``rel_as_node_seen``, /root/reference/biocypher/_deduplicate.py:83-111);
    the helper edges follow the surviving rows (``ran_surviving_edges``), so
    exactly the first triplet's edges survive even when a duplicate id
    arrives with different endpoints.
    """
    kept_raw, dups = KeySpace("_seen_ran").admit(ran_nodes)
    kept_nodes, kept_edges = ran_surviving_edges(kept_raw, ran_edges)
    return kept_nodes, kept_edges, dups


def ran_surviving_edges(kept_nodes: DataFrame, ran_edges: DataFrame) -> tuple[DataFrame, DataFrame]:
    """The rel-as-node rows that survived a dedup, and their helper edges.

    With the translator's hidden endpoint columns the helper edges are
    REBUILT from the surviving rows (narrow explode, no shuffle), which is
    deterministic even when SEQ ties across duplicate triplets; the hidden
    columns are dropped from the returned rows. Without them, ``ran_edges``
    is semi-joined on (target_id, SEQ), which assumes SEQ is unique per
    input row."""
    if all(c in kept_nodes.columns for c in RAN_HIDDEN_COLS):
        edges = ran_helper_edges(kept_nodes.select("node_id", *RAN_HIDDEN_COLS, SEQ))
        return kept_nodes.drop(*RAN_HIDDEN_COLS), edges
    surviving = kept_nodes.select(F.col("node_id").alias("target_id"), F.col(SEQ))
    return kept_nodes, ran_edges.join(surviving, ["target_id", SEQ], "left_semi")
