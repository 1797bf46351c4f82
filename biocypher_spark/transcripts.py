"""Deterministic synthetic transcripts table (BASELINE.json input_hint).

Schema: (conv_id string, turn_idx int, role string, text string,
tool string, ts timestamp). Fully arithmetic from ``spark.range`` — no
driver loop, no RNG state — so any row count is reproducible on any
cluster size and two runs at different parallelism see identical data
(the scaling-efficiency evidence protocol needs that).

Shape choices (FIXTURES.md §1):
  * deliberate skew: two hot conversations receive 20% of all turns, to
    exercise salting / AQE skew handling;
  * texts embed gazetteer-style entity mentions (PROT{k} / prot-{k} /
    "Protein {k}" surface variants, DIS{k} diseases) with deterministic
    relation cues so extraction + linking are oracle-checkable;
  * a known subset of rows embeds newline / quote / delimiter characters to
    exercise T6 scrubbing and CSV quoting;
  * ts is monotone within each conversation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

N_ENTITIES = 50  # distinct protein entities pk in [1, N_ENTITIES]
N_DISEASES = 20


def generate_transcripts(spark: SparkSession, n_turns: int, partitions: int | None = None) -> DataFrame:
    """Generate ``n_turns`` transcript rows deterministically."""
    df = spark.range(0, n_turns, 1, partitions or spark.sparkContext.defaultParallelism)
    i = F.col("id")
    base = (i / 20).cast("long")
    slot = (i % 20).cast("int")

    hot = slot < 4
    conv_id = F.when(hot, F.concat(F.lit("hot"), (slot % 2).cast("string"))).otherwise(
        F.concat(F.lit("c"), base.cast("string"))
    )
    turn_idx = F.when(hot, (base * 2 + (slot / 2).cast("long")).cast("int")).otherwise((slot - 4).cast("int"))

    role = (
        F.when(turn_idx % 5 == 4, F.lit("tool"))
        .when(turn_idx % 2 == 0, F.lit("user"))
        .otherwise(F.lit("assistant"))
    )
    tool = F.when(role == "tool", F.concat(F.lit("tool_"), (i % 5).cast("string"))).otherwise(
        F.lit(None).cast("string")
    )

    # entity mentions: protein pk with 3 deterministic surface variants,
    # second protein, and a disease on every 3rd turn
    pk = (i * 7 % N_ENTITIES + 1).cast("int")
    pk2 = (i * 13 % N_ENTITIES + 1).cast("int")
    dk = (i * 11 % N_DISEASES + 1).cast("int")
    variant = (i % 3).cast("int")
    surface1 = (
        F.when(variant == 0, F.concat(F.lit("PROT"), pk.cast("string")))
        .when(variant == 1, F.concat(F.lit("prot-"), pk.cast("string")))
        .otherwise(F.concat(F.lit("Protein "), pk.cast("string")))
    )
    surface2 = F.concat(F.lit("PROT"), pk2.cast("string"))
    disease = F.concat(F.lit("DIS"), dk.cast("string"))

    filler = F.when(i % 37 == 0, F.lit("it's a 'quoted;\nmulti\rline' note ")).otherwise(F.lit(""))
    text = F.when(
        i % 3 == 0,
        F.concat(filler, F.lit("we think "), surface1, F.lit(" interacts with "), surface2, F.lit(" today")),
    ).otherwise(
        F.concat(filler, F.lit("report: "), surface1, F.lit(" is linked to "), disease, F.lit(" in assay")),
    )

    ts = F.timestamp_seconds(F.lit(1704067200) + base * 3600 + turn_idx.cast("long") * 60)

    return df.select(
        conv_id.alias("conv_id"),
        turn_idx.alias("turn_idx"),
        role.alias("role"),
        text.alias("text"),
        tool.alias("tool"),
        ts.alias("ts"),
    )


def read_transcripts(spark: SparkSession, path: str) -> DataFrame:
    """Read a transcripts table (Iceberg when the catalog is configured,
    parquet fallback — the sandbox has no Iceberg runtime jar)."""
    try:
        return spark.read.format("iceberg").load(path)
    except Exception:
        return spark.read.parquet(path)
