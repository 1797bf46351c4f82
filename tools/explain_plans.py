"""Dump formatted physical plans of the engine's key stages to PLANS.md so
plan quality is reviewable without running Spark."""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402


def _writer_rank_df(spark):
    """The ordered part-file assignment on a synthetic lines frame — the
    plan must show the per-(chunk,label) local-rank window over the
    checkpointed range-sorted scan, never a per-label global window."""
    from pyspark.sql import functions as F

    from biocypher_spark.writer.base import ordered_file_assignment

    lines = spark.range(5000).select(
        F.lit("Protein").alias("_plabel"),
        F.concat(F.lit("p"), F.col("id").cast("string")).alias("line"),
        F.col("id").alias("_seq"),
    )
    return ordered_file_assignment(lines, batch_size=1000)



def _near_dedup_against_df(spark, sf: str):
    """Cross-corpus near dedup between two disjoint halves of the documents
    table — the plan must show the shard verify reading its checkpointed
    element-set table while the reference side's only tokenize work sits
    above a LeftSemi candidate-id join (nothing reference-sized pinned)."""
    from pyspark.sql import functions as F

    from biocypher_spark.textops import near_dedup_against

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    return near_dedup_against(
        docs.filter(F.col("doc_id") % 2 == 0), docs.filter(F.col("doc_id") % 2 == 1)
    )


def main() -> None:
    spark = (
        SparkSession.builder.master("local[4]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from biocypher_spark.dedup import dedup_nodes
    from biocypher_spark.extract import extract_mentions
    from biocypher_spark.linking import link_mentions
    from biocypher_spark.mapping import SchemaMapping
    from biocypher_spark.model import nodes_from_tuples
    from biocypher_spark.ontology import NullOntology
    from biocypher_spark.plans import formatted_plan
    from biocypher_spark.queries import q3_top_orders
    from biocypher_spark.transcripts import generate_transcripts
    from biocypher_spark.translate import SparkTranslator

    schema = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tests/fixtures/test_schema_config.yaml")
    t = SparkTranslator(spark, NullOntology(SchemaMapping(schema)))
    nodes_in = nodes_from_tuples(spark, [("p1", "protein", {"name": "x", "score": 1.0, "taxon": 1, "genes": []})])
    translated = t.translate_nodes(nodes_in).nodes
    deduped = dedup_nodes(translated)
    transcripts = generate_transcripts(spark, 1000)
    mentions = extract_mentions(transcripts)
    linked = link_mentions(mentions)

    from biocypher_spark.queries import doc_ngram_jaccard, emb_near_dup
    from biocypher_spark.textops import minhash_star_near_dup_edges, simhash64

    sf = "/root/testdata/sf0.001"
    sections = {
        "Translate (broadcast join, no shuffle)": translated,
        "Dedup (single hash-partition window)": deduped.kept,
        "Dedup duplicate rows (the same window folds each key's duplicate labels; no distinct)": deduped.duplicates,
        "Extraction (built-in regexp, codegen)": mentions,
        "Linking (blocked similarity join + broadcast map-back)": linked,
        "Q3-style join (dimension broadcast)": q3_top_orders(spark, sf),
        "Banded embedding near-dup (checkpointed bucket table, broadcast cap, exact re-score)": emb_near_dup(spark, sf),
        "Shingle n-gram near-dup (banded minhash candidates + est prefilter + exact verify)": doc_ngram_jaccard(spark, sf),
        "SimHash64 (explode + single 64-sum codegen hash aggregate)": simhash64(
            spark.read.parquet(f"{sf}/documents.parquet")
        ),
        "Star-mode near-dup edges (verify of the pinned hub candidates: member sets joined first, "
        "hub sets pruned by a LeftSemi on the hub ids — clean_corpus near_mode='star')": minhash_star_near_dup_edges(
            spark.read.parquet(f"{sf}/documents.parquet")
        ),
        "Cross-corpus near dedup (asymmetric: shard sets pinned once, reference verify "
        "re-derived from candidates only behind a LeftSemi — nothing reference-sized pinned)": (
            _near_dedup_against_df(spark, sf)
        ),
        "Golden-order part-file rank (two-pass distributed: range-sort -> chunk offsets -> local ranks)": _writer_rank_df(spark),
    }
    out = ["# PLANS — formatted physical plans of the hot-path stages\n"]
    out.append("Regenerate with `python tools/explain_plans.py`.\n")
    for title, df in sections.items():
        out.append(f"\n## {title}\n\n```\n{formatted_plan(df).strip()}\n```\n")
    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md"), "w") as fh:
        fh.write("".join(out))
    print("PLANS.md written")
    spark.stop()


if __name__ == "__main__":
    main()
