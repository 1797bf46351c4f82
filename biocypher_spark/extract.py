"""Mention detection over transcript text (NEW stage; north_rule).

One kernel, built-in expressions only: per gazetteer label,
``regexp_extract_all`` + ``posexplode`` (``m_pos`` = occurrence index per
(row, label)), unioned over labels. It stays in the JVM — no Python worker,
no Arrow round trip — and is trivially expressible as the DuckDB oracle
SQL. Patterns are Java regexes (``(?<name>…)`` named groups,
backreferences allowed). Each label's pattern scans the full text, so
labels whose patterns match overlapping spans each report their own
matches. ``KGPipeline`` runs :func:`extract_mentions`;
``streaming.stream.stream_mentions`` runs the same kernel and also carries
the event time ``ts``.

Output: one row per mention with lineage back to (conv_id, turn_idx); the
raw ``text`` column is never mutated (per-turn text-equality invariant).

The reference has no extraction stage — it delegates to user "adapters"
that yield tuples (/root/reference/biocypher/_core.py:455-478); this module
is the Spark-native adapter for transcript corpora.
"""

from __future__ import annotations

from functools import reduce
from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# default gazetteer patterns for the synthetic corpus; callers pass their own
DEFAULT_PATTERNS: dict[str, str] = {
    "protein": r"(?:PROT|prot-|Protein )\d+",
    "disease": r"DIS\d+",
}


def _regexp_mentions(transcripts: DataFrame, patterns: Optional[dict[str, str]], keys: tuple[str, ...]) -> DataFrame:
    """The expression kernel: per label, ``regexp_extract_all`` +
    ``posexplode`` (m_pos = occurrence index per (row, label)), unioned over
    labels. ``keys`` are the input columns each mention row carries."""
    per_label = []
    for label, pat in (patterns or DEFAULT_PATTERNS).items():
        hits = F.regexp_extract_all(F.col("text"), F.lit(pat), F.lit(0))
        per_label.append(
            transcripts.select(
                *keys,
                F.lit(label).alias("input_label"),
                F.posexplode(hits).alias("m_pos", "surface"),
            ).select(*keys, "input_label", "surface", "m_pos")
        )
    return reduce(DataFrame.unionByName, per_label)


def extract_mentions(
    transcripts: DataFrame,
    patterns: Optional[dict[str, str]] = None,
) -> DataFrame:
    """(conv_id, turn_idx, input_label, surface, m_pos) per gazetteer match."""
    return _regexp_mentions(transcripts, patterns, ("conv_id", "turn_idx"))


def normalize_surface(col) -> F.Column:
    """Blocking key: lowercase, strip non-alphanumerics.

    ``PROT7`` / ``prot-7`` / ``Protein 7`` -> ``prot7`` / ``prot7`` /
    ``protein7`` — variants collapse either directly or via the similarity
    join in linking.py.
    """
    return F.regexp_replace(F.lower(col), "[^a-z0-9]", "")
