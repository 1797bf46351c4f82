"""Physical-plan quality assertions: broadcast joins, pushdown, codegen."""

import re

import pytest
from pyspark.sql import functions as F

from biocypher_spark.mapping import SchemaMapping
from biocypher_spark.model import nodes_from_tuples
from biocypher_spark.ontology import NullOntology
from biocypher_spark.plans import formatted_plan
from biocypher_spark.translate import SparkTranslator
from fixtures.data_generator import protein_nodes

SF = "/root/testdata/sf0.001"


def plan_has(df, *needles: str) -> bool:
    plan = formatted_plan(df)
    return all(n in plan for n in needles)


def count_shuffles(df) -> int:
    """Number of shuffle exchanges (BroadcastExchange excluded)."""
    return len(re.findall(r"^\(\d+\) Exchange\b", formatted_plan(df), re.M))


def uses_broadcast_join(df) -> bool:
    return "BroadcastHashJoin" in formatted_plan(df)


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
    from biocypher_spark.textops import text_profile

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = formatted_plan(text_profile(docs))
    # higher-order lambda functions are evaluated JVM-side outside codegen;
    # the requirement is: columnar scan, no Python evaluation anywhere
    assert "codegen id" in plan
    assert "Scan parquet" in plan
    assert "BatchEvalPython" not in plan  # no row-at-a-time Python


def test_extraction_expr_no_python(spark):
    from biocypher_spark.extract import extract_mentions
    from biocypher_spark.transcripts import generate_transcripts

    m = extract_mentions(generate_transcripts(spark, 100))
    plan = formatted_plan(m)
    assert "MapInPandas" not in plan
    assert "Python" not in plan  # no BatchEvalPython / ArrowEvalPython / MapInArrow node
    # one scan of the input for both gazetteer labels, not one per label
    assert len(re.findall(r"^\(\d+\) Range\b", plan, re.M)) == 1


_CASE_MAPPING = ("lower(", "upper(", "initcap(")


def test_surface_keys_skip_case_mapping(spark, monkeypatch):
    """The blocking key of canonicalize's surface scan and of link_mentions
    maps case by ``translate``: a case-mapping function runs ICU's one-off
    set-up on a fresh JVM's first scan."""
    from biocypher_spark.linking import canonicalize, link_mentions

    mentions = spark.createDataFrame([("PROT7",), ("prot-7",), ("DIS3",)], "surface string")
    plans = []
    collect = type(mentions).collect

    def spy(df):
        plans.append(formatted_plan(df))
        return collect(df)

    monkeypatch.setattr(type(mentions), "collect", spy)
    mapping = canonicalize(mentions)
    monkeypatch.undo()
    assert len(plans) == 1  # the surface frame's limited collect
    plans.append(formatted_plan(link_mentions(mentions, mapping=mapping)))
    for plan in plans:
        assert "translate(" in plan
        assert not [f for f in _CASE_MAPPING if f in plan.lower()]


def test_node_write_builds_each_serializer_once(spark, tmp_path, monkeypatch):
    """The default schema's node labels share one property layout, so the
    node write builds (and Spark compiles) one serializer per property,
    not one per property and label; each label still gets its own
    ``:LABEL`` text."""
    from biocypher_spark.model import nodes_from_tuples
    from biocypher_spark.pipeline import load_default_schema_mapping
    from biocypher_spark.writer import base
    from biocypher_spark.writer.neo4j import Neo4jBatchWriter

    built = []
    serialize_prop = base.serialize_prop

    def counting(raw, *args, **kwargs):
        built.append(raw)
        return serialize_prop(raw, *args, **kwargs)

    monkeypatch.setattr(base, "serialize_prop", counting)
    translator = SparkTranslator(spark, NullOntology(load_default_schema_mapping()))
    staged = nodes_from_tuples(spark, [("p1", "protein", {"name": "P1"}), ("d1", "disease", {"name": "D1"})])
    writer = Neo4jBatchWriter(
        spark, translator, str(tmp_path), validate_props=False, ordered_parts=False, track_seen=False
    )
    writer.write_nodes(translator.translate_nodes(staged).nodes)
    assert len(built) == 3  # name, id, preferred_id
    for label in ("Protein", "Disease"):
        (part,) = tmp_path.glob(f"{label}-part*.csv")
        assert [line.rsplit(";", 1)[1] for line in part.read_text().splitlines()] == [f"'{label}'"]


@pytest.fixture
def arrow_conf_off(spark):
    """Arrow conversion off, as in a session that never sets it: frames built
    from Python rows must not depend on it to stay in the JVM."""
    key = "spark.sql.execution.arrow.pyspark.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        yield
    finally:
        spark.conf.set(key, old)


def _rdd_lineage(df) -> str:
    return df._jdf.queryExecution().toRdd().toDebugString()


def test_local_frames_start_no_python_worker(spark, schema_path, arrow_conf_off, tmp_path, monkeypatch):
    from biocypher_spark.linking import canonicalize
    from biocypher_spark.model import EDGE_SCHEMA, NODE_SCHEMA, local_frame
    from biocypher_spark.operators.components import connected_components
    from biocypher_spark.writer.owl import OWLWriter
    from biocypher_spark.writer.rdf import RDFWriter

    surfaces = spark.createDataFrame([("PROT7",), ("prot-7",), ("Protein 7",), ("DIS3",)], "surface string")
    canon = canonicalize(surfaces)
    translator = SparkTranslator(spark, NullOntology(SchemaMapping(schema_path)))
    mapping = translator.mapping_df()
    edges = spark.createDataFrame([("a", "b"), ("b", "c"), ("d", "e")], "src string, dst string")
    labels = connected_components(edges)
    # the frames the RDF and OWL sinks write: RDF's rdfs:Class row and the
    # OWL vocabulary are driver-built, unioned in front of the rows
    written = []
    write = RDFWriter._write_label_file

    def spy(writer, lines, *args, **kwargs):
        written.append(lines)
        return write(writer, lines, *args, **kwargs)

    monkeypatch.setattr(RDFWriter, "_write_label_file", spy)
    kg_nodes = local_frame(spark, [("p1", "protein", "id", [("name", '"a"')], 0)], NODE_SCHEMA)
    kg_edges = local_frame(spark, [("e1", "p1", "p1", "PERTURBED_IN_DISEASE", [], 0)], EDGE_SCHEMA)
    RDFWriter(spark, translator, str(tmp_path / "rdf")).write_edges(kg_edges)
    owl = OWLWriter(spark, translator, str(tmp_path / "owl"))
    owl.write_nodes(kg_nodes)
    owl.write_edges(kg_edges)
    assert len(written) == 2
    for df in (canon, mapping, labels, *written):
        assert "PythonRDD" not in _rdd_lineage(df)
    # the frames still carry the rows computed in Python
    assert {r["canonical_id"] for r in canon.collect()} == {"prot7", "dis3"}
    assert mapping.count() > 0
    assert dict(labels.collect()) == {"a": "a", "b": "a", "c": "a", "d": "d", "e": "d"}


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
    from biocypher_spark.textops import minhash_banded_pairs

    docs = spark.createDataFrame([(1, "a b c"), (2, "a b d")], "doc_id long, text string")
    plan = formatted_plan(minhash_banded_pairs(docs))
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_banded_candidates_est_filter_codegen_and_narrow_join(spark):
    """Invariants of the banded-candidate shape: (a) the
    signature-agreement prefilter is a codegen sum over individual int
    columns — no interpreted zip_with on the collision pair stream; (b)
    without the prefilter (``est_min_matches=0``) no sig column rides
    through the band self-join — the renamed ``_a{i}``/``_b{i}`` columns
    appear nowhere in the plan; (c) with it, the agreement filter runs
    below the pair distinct, and no band join follows the distinct (no sig
    columns are attached after it): the only joins above the distinct are
    the exact verify's two element-set attaches.

    The est=0 shape is planned through ``minhash_banded_pairs``, the
    est>0 one through ``ngram_jaccard_pairs(est_slack=...)``; both verify
    at their threshold, so the size-ratio prefilter is on in each."""
    import re

    from biocypher_spark.textops import minhash_banded_pairs, ngram_jaccard_pairs

    docs = spark.createDataFrame(
        [(i, f"w{i % 3} common tail") for i in range(8)], "doc_id long, text string"
    )
    sig_col = re.compile(r"\b_[ab]\d+#")

    def nodes(df):
        # {node id: (operator, detail block)}; formatted-plan ids number
        # children before their parents
        plan = formatted_plan(df)
        assert "zip_with" not in plan
        out = {}
        for block in re.split(r"\n(?=\(\d+\) )", plan):
            m = re.match(r"\((\d+)\) (\w+)", block)
            if m:
                out[int(m.group(1))] = (m.group(2), block)
        return out

    narrow = nodes(minhash_banded_pairs(docs, threshold=0.5, bands=2, rows_per_band=2))
    assert any(op.endswith("Join") for op, _ in narrow.values())
    assert not any(sig_col.search(block) for _, block in narrow.values())

    # est_slack 0.1 at threshold 0.5 over 4 seeds: at least 2 matching sigs
    est = nodes(ngram_jaccard_pairs(docs, threshold=0.5, bands=2, rows_per_band=2, est_slack=0.1))
    distinct = min(i for i, (op, _) in est.items() if op == "HashAggregate")
    joins = [i for i, (op, _) in est.items() if op.endswith("Join")]
    assert joins and min(joins) < distinct
    assert len([i for i in joins if i > distinct]) == 2
    assert not any(sig_col.search(block) for i, (_, block) in est.items() if i > distinct)
    agreement = [i for i, (_, block) in est.items() if "CASE WHEN" in block and sig_col.search(block)]
    assert agreement and max(agreement) < distinct


def test_ordered_part_rank_is_distributed(spark):
    """The golden-order part-file rank must stay the two-pass distributed
    scheme: its row_number window partitions by (chunk, label) — a window
    partitioned by label alone serializes each label through one reducer
    task (round-3 find: 46.8s vs 6.1s at 2M single-label rows)."""
    from pyspark.sql import functions as F

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
    map-side combine and the join-back is AQE-skew-splittable.

    Planned on ``_star_candidates`` itself: ``minhash_star_near_dup_edges``
    pins the candidates, so its own plan starts at the pin."""
    from biocypher_spark.textops import _sig_band_table, _star_candidates

    df = spark.createDataFrame(
        [(i, "a b c d e") for i in range(6)], "doc_id long, text string"
    )
    _, assigned, _ = _sig_band_table(df, "text", bands=4, rows_per_band=3, need_hashed=False)
    plan = formatted_plan(_star_candidates(assigned, size_ratio_min=0.5))
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
