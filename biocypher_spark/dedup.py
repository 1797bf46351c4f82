"""Shuffle-based deduplication with first-wins determinism (D1-D4).

The reference keeps unbounded in-memory ``set``s on a single process
(/root/reference/biocypher/_deduplicate.py:20-111); at 10^12-row scale that
state must become a shuffle. One mechanism serves every caller: a
:class:`KeySpace` ranks each key group by the explicit arrival column
``SEQ`` (so "first occurrence wins" is deterministic under parallelism),
folds the group's duplicate labels into its first row, and — when it keeps
state across calls — marks the keys earlier calls admitted with one left
join.

The whole dedup state is one **ledger**: a list of frames in the stream
state's generation schema ``(_kind, _klabel, _key, _dup_kind)``, one frame
per admit call. A call's frame holds the keys it admitted (``_kind`` = the
space's name, ``_seen_nodes`` / ``_seen_edges`` / ``_seen_ran``) and the
duplicate rows it found (``_kind`` = ``_dup::duplicate_nodes`` /
``_dup::duplicate_edges``, ``_dup_kind`` = the metrics kind). A space's
seen keys, the duplicate reports (D4) and a stream's durable state are
filters of that list. Every sink admits its rows through one
:class:`Admission`, whose three key spaces share one ledger (the one-shot
``dedup_*`` calls build a space per call).

Scale notes:
  * node dedup is **global across labels** (one id namespace,
    _deduplicate.py:44-52) -> a single hash shuffle on node_id. AQE handles
    skewed ids; callers can pre-salt pathological key spaces.
  * edge dedup is per (relationship_label, id-or-src_tgt) -> composite key
    shuffle, naturally better distributed.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import reduce
from typing import Optional, Union

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .materialize import materialize_lazily
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


# the three key spaces of the reference's Deduplicator, by the `_kind` of
# their admitted keys in the ledger: (metrics kind, label column, key column
# (None: edge_dedup_key), keyed per label, columns a sink needs non-NULL)
_SPACES = {
    "_seen_nodes": ("node", "node_label", "node_id", False, ("node_id",)),  # D1: node id, global across labels
    "_seen_edges": ("edge", "relationship_label", None, True, ("source_id", "target_id")),  # D2: (type, edge key)
    "_seen_ran": ("edge", "node_label", "node_id", True, ()),  # D3: (type, reified id)
}
# the `_kind` of the ledger rows that report duplicates, by metrics kind
DUP_KINDS = {"node": "_dup::duplicate_nodes", "edge": "_dup::duplicate_edges"}
LEDGER_COLUMNS = ("_kind", "_klabel", "_key", "_dup_kind")


@dataclass
class LedgerEntry:
    """One ledger frame: an admit call's, of key space ``space``, or the
    state loaded from storage (``space`` None, every kind). ``pin`` is the
    call's persisted rows that ``frame`` reads until its first computation
    (None for loaded and one-shot entries, and once released); ``cut`` tells
    that ``frame`` is a lineage-cut copy (:meth:`KeySpace.release_earlier_row_pins`)."""

    space: Optional[str]
    frame: DataFrame
    pin: Optional[DataFrame] = None
    cut: bool = False


def _union(frames: list[DataFrame]) -> Optional[DataFrame]:
    return reduce(DataFrame.unionByName, frames) if frames else None


def _metrics(ledger: Optional[DataFrame], kind: str) -> Optional[DataFrame]:
    """The ``(kind, label, dup_id)`` duplicate rows of ``kind`` in a ledger
    frame (None: no frame)."""
    if ledger is None:
        return None
    return ledger.filter(F.col("_kind") == DUP_KINDS[kind]).select(
        F.col("_dup_kind").alias("kind"), F.col("_klabel").alias("label"), F.col("_key").alias("dup_id")
    )


class KeySpace:
    """One first-wins dedup key space; with ``track_seen`` also the keys
    earlier calls admitted.

    Each call appends one frame to ``ledger`` (shared by an Admission's
    spaces). A call's rows carry the key as ``_key`` (and the label as
    ``_klabel`` for a per-label space) while they are deduped. With
    ``track_seen`` the call pins its marked rows, and
    :meth:`release_earlier_row_pins` swaps its frame for a lineage-cut copy
    once the caller consumed them, so the next call's join reads no earlier
    call's plan: plans grow linearly with the number of calls, not
    geometrically (every executed cached plan prints its subtree more than
    once, so nested calls multiply)."""

    def __init__(self, name: str, track_seen: bool = False, ledger: Optional[list[LedgerEntry]] = None):
        self.name = name
        self.kind, self.label_col, self._key_col, per_label, self._sink_keys = _SPACES[name]
        self.key_cols = ["_klabel", "_key"] if per_label else ["_key"]
        self.track_seen = track_seen
        self.ledger: list[LedgerEntry] = [] if ledger is None else ledger

    def _frames(self) -> list[DataFrame]:
        """This space's ledger frames and the loaded state. A snapshot: the
        other spaces of a shared ledger append from their own threads."""
        return [e.frame for e in list(self.ledger) if e.space in (None, self.name)]

    @property
    def seen(self) -> Optional[DataFrame]:
        """The keys earlier calls admitted (``key_cols``); None before any."""
        state = _union(self._frames())
        return None if state is None else state.filter(F.col("_kind") == self.name).select(*self.key_cols)

    def _dup_struct(self, label: Column) -> Column:
        return F.struct(
            F.lit(DUP_KINDS[self.kind]).alias("_kind"), label.alias("_klabel"), F.col("_key"),
            F.lit(self.kind).alias("_dup_kind"),
        )

    def admit(self, df: DataFrame) -> DataFrame:
        """The kept rows of ``df``: the first row of each key by ``SEQ``,
        minus the keys of earlier calls when the space tracks them. The
        call's admitted keys and duplicate rows go to its ledger frame.

        One window ranks each key group and folds the group's duplicate
        labels into its first row as ``_dup_labels`` —
        ``collect_set(when(_rn > 1, label))``, bounded by the LABEL
        VOCABULARY, never group size, so a hot key with millions of
        occurrences stays O(labels) in state (a duplicate row with a NULL
        label is not representable in the set and goes unreported;
        translated frames always carry labels). With earlier keys, one left
        join marks the first rows they hold as ``_seen``. The ledger frame is
        one projection of those marked rows: an in-call duplicate per
        ``_dup_labels`` entry, and per row either its admitted key or, when
        ``_seen``, a cross-call duplicate.

        With ``track_seen`` the marked rows are pinned, so the caller's
        write and the ledger frame read one window evaluation. Nothing is
        counted here: the pin is filled by its first consumer's job."""
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
        marked = ranked.filter(F.col("_rn") == 1).drop("_rn")
        seen = self.seen if self.track_seen else None
        is_seen = F.lit(False)
        if seen is not None:
            # no distinct on either side: a call's first rows are key-unique
            # (row_number == 1), and seen is by induction — each call admits
            # only keys no earlier call holds
            marked = marked.join(seen.withColumn("_seen", F.lit(True)), self.key_cols, "left")
            is_seen = F.col("_seen").isNotNull()
        rows = F.transform("_dup_labels", self._dup_struct)
        if self.track_seen:
            marked = marked.persist()
            klabel = F.col("_klabel") if len(self.key_cols) == 2 else F.lit(None).cast("string")
            admitted = F.struct(
                F.lit(self.name).alias("_kind"), klabel.alias("_klabel"), F.col("_key"),
                F.lit(None).cast("string").alias("_dup_kind"),
            )
            rows = F.concat(rows, F.array(F.when(is_seen, self._dup_struct(F.col(self.label_col))).otherwise(admitted)))
        entry = marked.select(F.explode(rows).alias("e")).select("e.*")
        self.ledger.append(LedgerEntry(self.name, entry, marked if self.track_seen else None))
        kept = marked if seen is None else marked.filter(~is_seen)
        return kept.drop("_dup_labels", "_seen", *self.key_cols)

    def admit_writable(self, df: DataFrame) -> DataFrame:
        """:meth:`admit` over the rows a sink can write (:class:`Admission`):
        a node with a NULL id (D1) or an edge with a NULL endpoint (D2) is
        dropped first. The one-shot ``dedup_*`` calls keep such rows."""
        for c in self._sink_keys:
            df = df.filter(F.col(c).isNotNull())
        return self.admit(df)

    def release_earlier_row_pins(self) -> None:
        """Swap the latest call's ledger frame for a lineage-cut copy and
        unpersist the row pins of every earlier call. Call once the latest
        call's kept rows were consumed: its pin is then filled, so the cut
        (:func:`materialize_lazily`) starts no job, and its next consumer
        (the next call's join, a report or a stream's state write) fills the
        copy from the pin. That join filled the earlier calls' copies, so
        their pins are no longer read."""
        pinned = [e for e in list(self.ledger) if e.space == self.name and e.pin is not None]
        for e in pinned[:-1]:
            pin, e.pin = e.pin, None
            pin.unpersist()
        if pinned and not pinned[-1].cut:
            pinned[-1].frame, pinned[-1].cut = materialize_lazily(pinned[-1].frame), True


class Admission:
    """A sink's one admission step: the rows it may write, first wins.

    It holds the three key spaces (D1 node id, D2 (type, edge key), D3
    (type, reified id)) and their one ledger, the whole dedup state: the
    seen keys and the duplicate rows (D4) are filters of it, replacing the
    reference's unbounded in-memory sets (reference
    ``biocypher/_deduplicate.py:20-29``). Every sink calls :meth:`nodes` /
    :meth:`edges` at the top of its node / edge write, and
    :meth:`release_earlier_row_pins` once it has written what they
    returned. ``track_seen=False`` makes every call one-shot (no cross-call
    seen keys, lazy unpinned ledger frames) for single-shot pipelines whose
    inputs are already unique. ``stream_kg`` writes :meth:`state` as its
    per-batch generation and reloads it through :meth:`repoint_state`.

    Threads: ``pipeline.kg_chains`` admits D1 on one thread and D2 on
    another. Each space appends its own entries (``list.append`` is
    atomic), reads a snapshot of the list, and cuts only its own entries."""

    def __init__(self, track_seen: bool = True):
        self.ledger: list[LedgerEntry] = []
        self.key_spaces = {name: KeySpace(name, track_seen, self.ledger) for name in _SPACES}

    def _admit(self, space: str, df: DataFrame) -> DataFrame:
        """The rows of ``df`` the key space ``space`` admits (NULL keys
        dropped; a frame with no ``SEQ`` column ranks in its row order)."""
        return self.key_spaces[space].admit_writable(with_seq(df))

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

    def duplicates(self, kind: str) -> Optional[DataFrame]:
        """The ``(kind, label, dup_id)`` rows the spaces of ``kind`` dropped
        (a row may repeat: a key can be an in-call and a cross-call
        duplicate); None before any call of that kind."""
        frames = [e.frame for e in list(self.ledger) if e.space is None or _SPACES[e.space][0] == kind]
        return _metrics(_union(frames), kind)

    def state(self, delta: bool = False) -> Optional[DataFrame]:
        """The ledger as one frame of ``LEDGER_COLUMNS``; with ``delta``,
        only the calls since the last :meth:`repoint_state`. None: empty."""
        return _union([e.frame for e in list(self.ledger) if not (delta and e.space is None)])

    def repoint_state(self, state: Optional[DataFrame]) -> None:
        """Replace the ledger with ``state`` (a ``LEDGER_COLUMNS`` frame read
        from durable storage; None: no state) and unpersist every pin. It
        must already hold every call since the last repoint (stream_kg
        writes :meth:`state` first): their entries read the pins."""
        pins = [e.pin for e in self.ledger if e.pin is not None]
        self.ledger[:] = [] if state is None else [LedgerEntry(None, state)]
        for pin in pins:
            pin.unpersist()


class AdmittingSink:
    """A sink whose rows pass ``self.admission``; it reports what that
    admission dropped, with set semantics."""

    admission: Admission

    def get_duplicate_nodes(self) -> Optional[DataFrame]:
        dups = self.admission.duplicates("node")
        return None if dups is None else dups.distinct()

    def get_duplicate_edges(self) -> Optional[DataFrame]:
        dups = self.admission.duplicates("edge")
        return None if dups is None else dups.distinct()


def _one_shot(space: str, df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """``(kept rows, (kind, label, dup_id) duplicate rows)`` of one call of a
    fresh key space."""
    keys = KeySpace(space)
    kept = keys.admit(df)
    return kept, _metrics(keys.ledger[0].frame, keys.kind)


def dedup_nodes(nodes: DataFrame) -> DedupResult:
    """Global node-id dedup, first occurrence wins (D1).

    Duplicate metrics record each duplicated id once per label under which
    duplicates appeared, mirroring ``Deduplicator.node_seen`` bookkeeping
    (reference ``biocypher/_deduplicate.py:31-52``)."""
    return DedupResult(*_one_shot("_seen_nodes", nodes))


def dedup_edges(edges: DataFrame) -> DedupResult:
    """Per-(type, id) edge dedup, first occurrence wins (D2)."""
    return DedupResult(*_one_shot("_seen_edges", edges))


def dedup_rel_as_nodes(ran_nodes: DataFrame, ran_edges: DataFrame) -> tuple:
    """Rel-as-node dedup keyed on the reified node's (label, id) (D3).

    The reference skips the whole triplet when the node was seen
    (``rel_as_node_seen``, /root/reference/biocypher/_deduplicate.py:83-111);
    the helper edges follow the surviving rows (``ran_surviving_edges``), so
    exactly the first triplet's edges survive even when a duplicate id
    arrives with different endpoints.
    """
    kept_raw, dups = _one_shot("_seen_ran", ran_nodes)
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
