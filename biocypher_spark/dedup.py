"""Shuffle-based deduplication with first-wins determinism (D1-D4).

The reference keeps unbounded in-memory ``set``s on a single process
(/root/reference/biocypher/_deduplicate.py:20-111); at 10^12-row scale that
state must become a shuffle. We use a window over the dedup key ordered by an
explicit arrival/ordering column so "first occurrence wins" is deterministic
under parallelism, and emit duplicate-metrics tables instead of log lines.

Scale notes:
  * node dedup is **global across labels** (one id namespace,
    _deduplicate.py:44-52) -> a single hash shuffle on node_id. AQE handles
    skewed ids; callers can pre-salt pathological key spaces.
  * edge dedup is per (relationship_label, id-or-src_tgt) -> composite key
    shuffle, naturally better distributed.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .model import SEQ
from .translate import RAN_HIDDEN_COLS, ran_helper_edges


@dataclass
class DedupResult:
    kept: DataFrame
    duplicates: DataFrame  # metrics table: kind, label, dup_id


def _first_wins(df: DataFrame, key_cols: Sequence[str], order_cols: Sequence[str]) -> DataFrame:
    w = Window.partitionBy(*key_cols).orderBy(*order_cols)
    return df.withColumn("_rn", F.row_number().over(w))


def dedup_nodes(nodes: DataFrame, order_cols: Sequence[str] = (SEQ,)) -> DedupResult:
    """Global node-id dedup, first occurrence wins (D1).

    Duplicate metrics record the id once and the label(s) under which
    duplicates appeared, mirroring ``Deduplicator.node_seen`` bookkeeping
    (/root/reference/biocypher/_deduplicate.py:31-52).
    """
    ranked = _first_wins(nodes, ["node_id"], order_cols)
    kept = ranked.filter(F.col("_rn") == 1).drop("_rn")
    dups = (
        ranked.filter(F.col("_rn") > 1)
        .select(
            F.lit("node").alias("kind"),
            F.col("node_label").alias("label"),
            F.col("node_id").alias("dup_id"),
        )
        .distinct()
    )
    return DedupResult(kept=kept, duplicates=dups)


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


def dedup_edges(edges: DataFrame, order_cols: Sequence[str] = (SEQ,)) -> DedupResult:
    """Per-(type, id) edge dedup, first occurrence wins (D2)."""
    keyed = edges.withColumn("_key", edge_dedup_key())
    ranked = _first_wins(keyed, ["relationship_label", "_key"], order_cols)
    kept = ranked.filter(F.col("_rn") == 1).drop("_rn", "_key")
    dups = (
        ranked.filter(F.col("_rn") > 1)
        .select(
            F.lit("edge").alias("kind"),
            F.col("relationship_label").alias("label"),
            F.col("_key").alias("dup_id"),
        )
        .distinct()
    )
    return DedupResult(kept=kept, duplicates=dups)


def dedup_rel_as_nodes(ran_nodes: DataFrame, ran_edges: DataFrame, order_cols: Sequence[str] = (SEQ,)) -> tuple:
    """Rel-as-node dedup keyed on the reified node's (label, id) (D3).

    The reference skips the whole triplet when the node was seen
    (``rel_as_node_seen``, /root/reference/biocypher/_deduplicate.py:83-111);
    the helper edges follow the surviving rows (``ran_surviving_edges``), so
    exactly the first triplet's edges survive even when a duplicate id
    arrives with different endpoints.
    """
    ranked = _first_wins(ran_nodes, ["node_label", "node_id"], order_cols)
    kept_raw = ranked.filter(F.col("_rn") == 1).drop("_rn")
    dups = (
        ranked.filter(F.col("_rn") > 1)
        .select(
            F.lit("edge").alias("kind"),
            F.col("node_label").alias("label"),
            F.col("node_id").alias("dup_id"),
        )
        .distinct()
    )
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
