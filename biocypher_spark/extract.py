"""Mention detection over transcript text (NEW stage; north_rule).

Two kernels with identical output contracts for NON-OVERLAPPING pattern
sets (the default gazetteer is one; the equivalence is asserted in tests).
When two patterns can match overlapping spans of the same text, the
``mapInPandas`` kernel's single combined alternation resolves the overlap by
leftmost-then-pattern-order precedence (each character is consumed once),
while the per-pattern ``regexp_extract_all`` kernel scans the full text once
PER label and reports every label's own matches — pick the variant whose
semantics fit such gazetteers deliberately:

  * ``extract_mentions`` — Arrow-vectorized ``mapInPandas``: pandas
    batches scanned by one compiled alternation regex over salted,
    size-balanced partitions. The batch KG product (``KGPipeline``) runs
    it; this is the path required by the north rule ("batched mention
    detection ... inside vectorized pandas/Arrow UDFs, no per-row Python").
  * ``extract_mentions_expr`` — pure built-in ``regexp_extract_all`` +
    ``posexplode``; stays in whole-stage codegen and is trivially
    expressible as the DuckDB oracle SQL, so it anchors the correctness
    harness. ``streaming.stream.stream_mentions`` runs the same kernel and
    also carries the event time ``ts``.

Output: one row per mention with lineage back to (conv_id, turn_idx); the
raw ``text`` column is never mutated (per-turn text-equality invariant).

The reference has no extraction stage — it delegates to user "adapters"
that yield tuples (/root/reference/biocypher/_core.py:455-478); this module
is the Spark-native adapter for transcript corpora.
"""

from __future__ import annotations

import re
from functools import reduce
from typing import Iterator, Optional

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# default gazetteer patterns for the synthetic corpus; callers pass their own
DEFAULT_PATTERNS: dict[str, str] = {
    "protein": r"(?:PROT|prot-|Protein )\d+",
    "disease": r"DIS\d+",
}

MENTION_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("input_label", T.StringType()),
        T.StructField("surface", T.StringType()),
        T.StructField("m_pos", T.IntegerType()),
    ]
)


def salt_partitions(df: DataFrame) -> DataFrame:
    """Size-balance by (conv_id, turn_idx) hash into 2x default parallelism
    partitions: hot conversations are split across partitions instead of
    hammering one executor.

    Partitions on the RAW 64-bit xxhash64 — not a pre-bucketed
    ``pmod(hash, n)`` value: repartition re-hashes its key with murmur3, and
    murmur3 over only n distinct bucket ids is a balls-in-bins draw (~1/e of
    partitions empty, 3-4x max skew). The full-domain hash spreads evenly."""
    n = df.sparkSession.sparkContext.defaultParallelism * 2
    return df.repartition(n, F.xxhash64("conv_id", "turn_idx"))


def _compile_gazetteer(patterns: dict[str, str]):
    """One combined alternation regex + per-label group bookkeeping.

    Returns (labels, combined, gidx, simple): ``gidx[j]`` is the group
    number of label j's named wrapper group ``g{j}``; ``simple`` is True
    when no user pattern adds inner capturing groups, in which case
    ``match.lastindex - 1`` IS the label index (fast path — no per-match
    group scan).

    Rejects patterns the alternation cannot represent faithfully: wrapping
    shifts group numbers, so a numeric backreference (``\\1``) or named
    backreference (``(?P=x)``) inside a user pattern would silently bind to
    the WRONG group and drop mentions; a user group named ``g<digit+>``
    would collide with the wrapper names. Loud error > silent corruption —
    such patterns work with :func:`extract_mentions_expr` (compiled
    per-label, no renumbering)."""
    labels = list(patterns)
    for label, p in patterns.items():
        # Only an UNESCAPED \1 / (?P= is a real backreference: an even run
        # of preceding backslashes means the token is literal text (e.g.
        # r"\\1" = literal backslash + '1') and renumbering is harmless.
        if re.search(r"(?<!\\)(?:\\\\)*(?:\\[1-9]|\(\?P=)", p):
            raise ValueError(
                f"pattern for {label!r} uses a regex backreference, which the "
                "combined gazetteer alternation cannot renumber — use "
                "extract_mentions_expr for this pattern set"
            )
        if re.search(r"\(\?P<g\d+>", p):
            raise ValueError(
                f"pattern for {label!r} defines a group named 'g<digits>', "
                "which collides with the gazetteer's wrapper groups — rename it"
            )
    combined = re.compile("|".join(f"(?P<g{j}>{p})" for j, p in enumerate(patterns.values())))
    gidx = [combined.groupindex[f"g{j}"] for j in range(len(labels))]
    return labels, combined, gidx, combined.groups == len(labels)


def extract_mentions(
    transcripts: DataFrame,
    patterns: Optional[dict[str, str]] = None,
    balance: bool = True,
) -> DataFrame:
    """mapInPandas extraction: one Arrow batch in, mention rows out."""
    patterns = patterns or DEFAULT_PATTERNS
    labels, combined, gidx, simple = _compile_gazetteer(patterns)
    n_labels = len(labels)

    # finditer over the batch beats pandas str.extractall + melt ~3x here:
    # extractall builds a MultiIndex match frame that the melt/merge/sort
    # then reshapes twice; the comprehension emits final columns directly
    # (A/B: 108 ms vs 38 ms per 10k-row synthetic batch, identical output)
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            conv = pdf["conv_id"].values
            turn = pdf["turn_idx"].values
            o_conv: list = []
            o_turn: list = []
            o_label: list = []
            o_surface: list = []
            o_pos: list = []
            for r, t in enumerate(pdf["text"].values):
                if not isinstance(t, str) or not t:
                    continue
                counts = [0] * n_labels
                for m in combined.finditer(t):
                    g = (
                        m.lastindex - 1
                        if simple
                        else next(j for j, gi in enumerate(gidx) if m.group(gi) is not None)
                    )
                    o_conv.append(conv[r])
                    o_turn.append(turn[r])
                    o_label.append(labels[g])
                    o_surface.append(m.group())
                    # m_pos = occurrence index per (turn, label), matching
                    # the posexplode semantics of the expression variant
                    o_pos.append(counts[g])
                    counts[g] += 1
            if not o_label:
                continue
            yield pd.DataFrame(
                {
                    "conv_id": o_conv,
                    # nullable Int32: a NULL turn_idx arrives as NaN in a
                    # float64 column; plain int32 would raise on it
                    "turn_idx": pd.array(o_turn, dtype="Int32"),
                    "input_label": o_label,
                    "surface": o_surface,
                    "m_pos": pd.array(o_pos, dtype="int32"),
                }
            )

    # project before the Python stage: only (conv_id, turn_idx, text) cross
    # the Arrow boundary — role/tool/ts would roughly double IPC volume,
    # which is the scaling bottleneck on syscall-expensive hosts
    src = transcripts.select("conv_id", "turn_idx", "text")
    if balance:
        src = salt_partitions(src)
    return src.mapInPandas(run, MENTION_SCHEMA)


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


def extract_mentions_expr(
    transcripts: DataFrame,
    patterns: Optional[dict[str, str]] = None,
) -> DataFrame:
    """Built-in extraction: regexp_extract_all per label + posexplode."""
    return _regexp_mentions(transcripts, patterns, ("conv_id", "turn_idx"))


def normalize_surface(col) -> F.Column:
    """Blocking key: lowercase, strip non-alphanumerics.

    ``PROT7`` / ``prot-7`` / ``Protein 7`` -> ``prot7`` / ``prot7`` /
    ``protein7`` — variants collapse either directly or via the similarity
    join in linking.py.
    """
    return F.regexp_replace(F.lower(col), "[^a-z0-9]", "")
