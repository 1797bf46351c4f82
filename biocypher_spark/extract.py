"""Mention detection over transcript text (NEW stage; north_rule).

One kernel, built-in expressions only: per gazetteer label,
``regexp_extract_all`` + ``posexplode`` (``m_pos`` = occurrence index per
(row, label)), all labels in one projection, so each input row is scanned
once. It stays in the JVM — no Python worker, no Arrow round trip — and is
trivially expressible as the DuckDB oracle SQL. Patterns are Java regexes (``(?<name>…)`` named groups,
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

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# default gazetteer patterns for the synthetic corpus; callers pass their own
DEFAULT_PATTERNS: dict[str, str] = {
    "protein": r"(?:PROT|prot-|Protein )\d+",
    "disease": r"DIS\d+",
}


def _regexp_mentions(transcripts: DataFrame, patterns: Optional[dict[str, str]], keys: tuple[str, ...]) -> DataFrame:
    """The expression kernel: one projection of an array holding, per
    label, ``struct(label, regexp_extract_all(…))``, then ``explode`` +
    ``posexplode`` (m_pos = occurrence index per (row, label)), so the input
    is read once whatever the number of labels. ``keys`` are the input
    columns each mention row carries."""
    per_label = F.array(
        *(
            F.struct(
                F.lit(label).alias("input_label"),
                F.regexp_extract_all(F.col("text"), F.lit(pat), F.lit(0)).alias("hits"),
            )
            for label, pat in (patterns or DEFAULT_PATTERNS).items()
        )
    )
    return (
        transcripts.select(*keys, F.explode(per_label).alias("_m"))
        .select(*keys, "_m.input_label", F.posexplode("_m.hits").alias("m_pos", "surface"))
        .select(*keys, "input_label", "surface", "m_pos")
    )


def extract_mentions(
    transcripts: DataFrame,
    patterns: Optional[dict[str, str]] = None,
) -> DataFrame:
    """(conv_id, turn_idx, input_label, surface, m_pos) per gazetteer match."""
    return _regexp_mentions(transcripts, patterns, ("conv_id", "turn_idx"))


# the code points whose lowercase form holds an ASCII letter or digit: A-Z,
# U+0130 (İ -> "i" + U+0307) and U+212A (Kelvin sign -> "k")
_KEY_UPPER = "ABCDEFGHIJKLMNOPQRSTUVWXYZ\u0130\u212a"
_KEY_LOWER = "abcdefghijklmnopqrstuvwxyzik"


def normalize_surface(col) -> F.Column:
    """Blocking key: lowercase, strip non-alphanumerics.

    ``PROT7`` / ``prot-7`` / ``Protein 7`` -> ``prot7`` / ``prot7`` /
    ``protein7`` — variants collapse either directly or via the similarity
    join in linking.py.

    Equal to ``regexp_replace(lower(col), '[^a-z0-9]', '')`` for every
    string: only the code points in ``_KEY_UPPER`` lowercase to something
    that survives the strip, so mapping just those is enough. It skips
    ``lower``'s ICU case mapping, whose one-off class set-up stalls the
    first scan of a fresh JVM.
    """
    return F.regexp_replace(F.translate(col, _KEY_UPPER, _KEY_LOWER), "[^a-z0-9]", "")
