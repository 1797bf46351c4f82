"""Physical-plan quality assertions: broadcast joins, pushdown, codegen."""

import pytest
from pyspark.sql import functions as F

from biocypher_spark.mapping import SchemaMapping
from biocypher_spark.model import nodes_from_tuples
from biocypher_spark.ontology import NullOntology
from biocypher_spark.plans import count_shuffles, formatted_plan, plan_has, uses_broadcast_join
from biocypher_spark.translate import SparkTranslator
from fixtures.data_generator import protein_nodes

SF = "/root/testdata/sf0.001"


def test_translator_uses_broadcast_join(spark, schema_path):
    t = SparkTranslator(spark, NullOntology(SchemaMapping(schema_path)))
    out = t.translate_nodes(nodes_from_tuples(spark, protein_nodes(4)))
    assert uses_broadcast_join(out.nodes)
    # no shuffle in the translate stage itself: broadcast join only
    assert count_shuffles(out.nodes) == 0


def test_filter_pushdown_to_parquet(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    q = li.filter(F.col("l_partkey") == 7).select("l_orderkey", "l_quantity")
    plan = formatted_plan(q)
    assert "PushedFilters" in plan and "l_partkey" in plan
    # column pruning: ReadSchema carries only needed columns
    assert "l_extendedprice" not in plan.split("ReadSchema")[1].splitlines()[0]


def test_q3_broadcasts_dimension(spark):
    from biocypher_spark.queries import q3_top_orders

    assert uses_broadcast_join(q3_top_orders(spark, SF))


def test_whole_stage_codegen_on_textops(spark):
    from biocypher_spark.textops import quality_score

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = formatted_plan(quality_score(docs))
    # higher-order lambda functions are evaluated JVM-side outside codegen;
    # the requirement is: columnar scan, no Python evaluation anywhere
    assert "codegen id" in plan
    assert "Scan parquet" in plan
    assert "BatchEvalPython" not in plan  # no row-at-a-time Python


def test_extraction_expr_no_python(spark):
    from biocypher_spark.extract import extract_mentions_expr
    from biocypher_spark.transcripts import generate_transcripts

    m = extract_mentions_expr(generate_transcripts(spark, 100))
    plan = formatted_plan(m)
    assert "BatchEvalPython" not in plan


def test_dedup_single_shuffle(spark, schema_path):
    from biocypher_spark.dedup import dedup_nodes

    t = SparkTranslator(spark, NullOntology(SchemaMapping(schema_path)))
    nodes = t.translate_nodes(nodes_from_tuples(spark, protein_nodes(8))).nodes
    kept = dedup_nodes(nodes).kept
    # translate (broadcast) + window dedup => exactly one exchange
    assert count_shuffles(kept) == 1


def test_simhash64_single_shuffle_codegen(spark):
    """simhash64 = explode + ONE partial/final hash aggregate (map-side
    combine: the shuffle carries 64 ints per doc, not exploded tokens), no
    Python on the path."""
    from biocypher_spark.plans import count_shuffles, plan_has
    from biocypher_spark.textops import simhash64

    docs = spark.createDataFrame([(1, "a b c"), (2, "d e f")], "doc_id long, text string")
    df = simhash64(docs)
    assert count_shuffles(df) == 1
    assert plan_has(df, "HashAggregate")
    assert not plan_has(df, "BatchEvalPython")


def test_near_dedup_against_asymmetric_verify(spark):
    """Cross-corpus near dedup is memory-asymmetric: the SHARD side's
    element sets come from its pinned (checkpointed) table — its text is
    tokenized exactly once, so no shard-side md5 survives in the final
    plan — while the REFERENCE side (unbounded at 100 TB) is never pinned
    at corpus size: its verify sets are re-derived from ONLY the candidate
    docs, pruned by a LeftSemi join on the materialized pair ids BELOW the
    tokenize projection. Net plan: exactly one md5-bearing element-set
    projection (the reference re-read) sitting above a LeftSemi."""
    from biocypher_spark.plans import formatted_plan
    from biocypher_spark.textops import near_dedup_against

    a = spark.createDataFrame([(1, "a b c d e f"), (2, "x y z w v u")], "doc_id long, text string")
    r = spark.createDataFrame([(10, "a b c d e f")], "doc_id long, text string")
    plan = formatted_plan(near_dedup_against(a, r))
    md5_lines = [ln for ln in plan.splitlines() if "md5" in ln]
    # the only live tokenize work is the reference re-read producing _sb
    # (its non-empty filter + projection); the shard's verify set _sa comes
    # from its pinned table, so no md5 line may mention it
    assert md5_lines and all("_sa" not in ln for ln in md5_lines), md5_lines
    assert any("_sb" in ln for ln in md5_lines), md5_lines
    assert "LeftSemi" in plan


def test_embedding_near_dup_plan_bounded(spark):
    """Banded embedding near-dup: bucket-size cap joined as a BROADCAST (the
    histogram is tiny), no cartesian product, no Python."""
    from biocypher_spark.plans import formatted_plan
    from biocypher_spark.similarity import embedding_near_dup

    emb = spark.createDataFrame(
        [(i, [float(i % 3)] * 8) for i in range(20)], "vec_id long, embedding array<double>"
    )
    df = embedding_near_dup(emb, threshold=0.5, num_tables=2, planes_per_table=2, dims=8)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastExchange" in plan  # the ok_buckets histogram side
    assert "BatchEvalPython" not in plan


def test_banded_candidates_no_python_no_cartesian(spark):
    from biocypher_spark.plans import formatted_plan
    from biocypher_spark.textops import minhash_band_candidates

    docs = spark.createDataFrame([(1, "a b c"), (2, "a b d")], "doc_id long, text string")
    plan = formatted_plan(minhash_band_candidates(docs))
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_banded_candidates_est_filter_codegen_and_narrow_join(spark):
    """Round-3 invariants of the banded-candidate shape: (a) the
    signature-agreement prefilter is a codegen sum over individual int
    columns — no interpreted zip_with on the collision pair stream; (b)
    the band self-join output is NARROW (signatures are attached after
    the distinct, so no sig column rides through the band join)."""
    from biocypher_spark.plans import formatted_plan
    from biocypher_spark.textops import minhash_band_candidates

    docs = spark.createDataFrame(
        [(i, f"w{i % 3} common tail") for i in range(8)], "doc_id long, text string"
    )
    plan = formatted_plan(
        minhash_band_candidates(docs, bands=2, rows_per_band=2, est_min_matches=3, size_ratio_min=0.5)
    )
    assert "zip_with" not in plan
    # the band self-join keys on (band, bkey) and outputs only ids + the
    # one size int; sig columns appear only in the post-distinct attach
    for line in plan.splitlines():
        if "Join" in line and "bkey" in line:
            assert "sig" not in line


def test_ordered_part_rank_is_distributed(spark):
    """The golden-order part-file rank must stay the two-pass distributed
    scheme: its row_number window partitions by (chunk, label) — a window
    partitioned by label alone serializes each label through one reducer
    task (round-3 find: 46.8s vs 6.1s at 2M single-label rows)."""
    from pyspark.sql import functions as F

    from biocypher_spark.plans import formatted_plan
    from biocypher_spark.writer.base import ordered_file_assignment

    lines = spark.range(500).select(
        F.lit("Protein").alias("_plabel"),
        F.col("id").cast("string").alias("line"),
        F.col("id").alias("_seq"),
    )
    plan = formatted_plan(ordered_file_assignment(lines, batch_size=100))
    window_lines = [ln for ln in plan.splitlines() if "row_number" in ln]
    assert window_lines, "rank window missing from plan"
    assert all("_pid" in ln for ln in window_lines), (
        "rank window must partition by the range-sort chunk id (_pid), "
        "not by label alone:\n" + "\n".join(window_lines)
    )


def test_bucketed_join_has_no_shuffle(spark, tmp_path):
    """Pre-bucketed tables on the join key -> SortMergeJoin with ZERO
    Exchange: the write-time shuffle is amortized across every later join
    (the 100-TB co-location strategy)."""
    from biocypher_spark.operators.bucketing import bucketed_join, write_bucketed
    from biocypher_spark.plans import count_shuffles, plan_has

    orders = spark.range(0, 10_000).selectExpr("id AS orderkey", "id % 97 AS custkey")
    items = spark.range(0, 30_000).selectExpr("id % 10000 AS orderkey", "id AS itemid")
    write_bucketed(orders, "b_orders", "orderkey", 8, path=str(tmp_path / "bo"))
    write_bucketed(items, "b_items", "orderkey", 8, path=str(tmp_path / "bi"))
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # disable broadcast so the test exercises the bucketed SortMergeJoin
        # (at 100 TB neither side broadcasts; that is the case bucketing serves)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = bucketed_join(spark, "b_orders", "b_items", "orderkey")
        assert count_shuffles(joined) == 0
        assert plan_has(joined, "SortMergeJoin")
        assert joined.count() == 30_000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_items")


def test_text_profile_single_pass(spark):
    # the merged profile must stay one scan + row-local projections: zero
    # Exchange (the pre-merge shape joined four per-doc frames on doc_id —
    # three shuffles for columns that never leave their row)
    from biocypher_spark.textops import text_profile

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = formatted_plan(text_profile(docs))
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan


def test_sig_table_is_narrow(spark):
    """The banded-minhash sig/band tables must NOT carry the fat _hs
    element-set array: checkpointed rows cannot be column-pruned, so a fat
    sig table makes the band explode, collision join, and sig attach all
    deserialize arrays they never read (measured 5x on doc_ngram_jaccard
    at sf0.1 when _hs rode inside the sig table). The fat table is
    returned separately for the verify-side joins only."""
    from biocypher_spark.textops import _sig_band_table

    df = spark.createDataFrame([(1, "a b c"), (2, "b c d")], "doc_id long, text string")
    sigs, assigned, hashed = _sig_band_table(df, "text", bands=2, rows_per_band=2)
    assert "_hs" not in sigs.columns
    assert "_hs" not in assigned.columns
    assert set(hashed.columns) == {"doc_id", "_hs"}


def test_star_candidates_have_no_window(spark):
    """Star-edge hubs must come from groupBy(band,bkey).agg(min) + join —
    NOT min-over-window: a window pins each LSH bucket to ONE sort task,
    and the dup-dense corpora this path exists for produce mega-buckets
    (one boilerplate page duplicated millions of times). The groupBy gets
    map-side combine and the join-back is AQE-skew-splittable."""
    from biocypher_spark.plans import formatted_plan
    from biocypher_spark.textops import minhash_band_star_edges

    df = spark.createDataFrame(
        [(i, "a b c d e") for i in range(6)], "doc_id long, text string"
    )
    plan = formatted_plan(minhash_band_star_edges(df))
    assert "Window" not in plan, "star hub must not use a window:\n" + plan
    assert "partial_min" in plan or "HashAggregate" in plan


def test_candidate_only_callers_skip_fat_materialize(spark):
    """need_hashed=False: candidate-only banded-minhash callers must not
    pin the fat per-doc element-set table in executor storage (it has no
    downstream reader there); tokenize+hash still runs inside the one sig
    materialization."""
    from biocypher_spark.textops import _sig_band_table

    df = spark.createDataFrame([(1, "a b c"), (2, "b c d")], "doc_id long, text string")
    sigs, assigned, hashed = _sig_band_table(
        df, "text", bands=2, rows_per_band=2, need_hashed=False
    )
    assert hashed is None
    assert "_hs" not in sigs.columns and "_hs" not in assigned.columns
