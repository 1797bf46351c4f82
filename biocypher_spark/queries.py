"""Operator harness: every implemented operator exposed as a (spark, sf_dir)
query with a DuckDB oracle (driver contract, /root/repo/__spark_entry__.py).

Each query exercises real engine modules (translator, dedup, writer label
closure, graph layer, linking, components, text/similarity operators) over
the driver-generated TPC-H-ish tables so DuckDB can verify row-for-row.
Float outputs are rounded to 6 decimals on both sides; money sums are done
in DECIMAL on both sides so the resulting doubles are bit-identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .materialize import materialize as _materialize

from .extract import extract_mentions, normalize_surface
from .graph import SparkGraph
from .mapping import SchemaMapping
from .model import SEQ
from .ontology import NullOntology, Ontology
from .operators.components import connected_components
from .translate import SparkTranslator

QUERIES: dict = {}
ORACLES: dict[str, str] = {}


def register(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def _t(
    spark: SparkSession, sf_dir: str, name: str, materialize: bool = False, rebalance: bool = True
) -> DataFrame:
    """Read a testdata table; small single-split inputs are rebalanced to
    the cluster width (see below). ``materialize=True`` additionally
    localCheckpoints the rebalanced SMALL input — for queries that consume
    the source in several plan branches (candidate generation + both
    verify sides), where the lazy rebalance would otherwise re-execute per
    branch (measured 2.4x on doc_ngram_jaccard at sf0.1). At scale the
    rebalance path never triggers, so nothing is ever materialized there —
    multi-branch scans of a large parquet table are the normal plan.

    ``rebalance=False`` (round 6): queries whose per-row work is trivial —
    relational scans feeding an aggregate, a window, or a broadcast join —
    opt out of the guard entirely. For them the round-robin exchange (plus
    its mandatory sort-before-repartition pass) costs more than the
    parallelism buys: q3_top_orders 1.7 s -> 0.7 s warm at sf0.1 once its
    three inputs stop being shuffled before the joins, and every such
    query's first shuffle (the aggregate/window exchange) redistributes
    the rows anyway. CPU-heavy per-row paths (minhash/simhash/shingles,
    embedding folds, Arrow Python stages) keep the default: for them a
    single-split scan serializes the dominant cost on one core."""
    if materialize and not rebalance:
        raise ValueError("materialize=True pins the rebalanced input; it needs rebalance=True")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if not rebalance:
        return df
    # a small single-split file would run CPU-heavy per-row work (shingle
    # minhash, simhash votes, embedding math) on ONE core; rebalance rows to
    # the cluster width. At scale inputs arrive in thousands of splits and
    # this is a no-op — the guard only fixes the small-file/CPU-bound
    # mismatch, it never adds a shuffle to an already-parallel scan.
    # Split-count is estimated from the FILE SIZES (driver-side stat of
    # df.inputFiles(), a planning-time constant) — probing
    # df.rdd.getNumPartitions() would force a DataFrame->RDD conversion
    # plan per registered query.
    target = spark.sparkContext.defaultParallelism
    try:
        raw = spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728").lower().rstrip("b")
        units = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}
        max_bytes = int(raw[:-1]) * units[raw[-1]] if raw[-1] in units else int(raw)
    except (ValueError, KeyError, IndexError):
        max_bytes = 128 << 20  # any unit this parser doesn't know -> default
    try:
        import os

        total = sum(os.path.getsize(f.removeprefix("file:")) for f in df.inputFiles())
    except OSError:
        return df
    if -(-total // max_bytes) < target:
        out = df.repartition(target)
        return _materialize(out) if materialize else out
    return df


def _epoch(c: F.Column) -> F.Column:
    """Truncated epoch seconds of a naive (NTZ) timestamp, computed from
    date/time parts so it is session-timezone independent and matches
    DuckDB ``floor(epoch(ts))`` on the identical naive value."""
    days = F.datediff(F.to_date(c), F.lit("1970-01-01").cast("date")).cast("long")
    return days * 86400 + F.hour(c).cast("long") * 3600 + F.minute(c).cast("long") * 60 + F.second(c).cast("long")


# ---------------------------------------------------------------------------
# KG-construction operators over relational testdata
# ---------------------------------------------------------------------------

_PART_SCHEMA = {
    "economy part": {
        "represented_as": "node",
        "preferred_id": "part",
        "input_label": "ECONOMY",
        "properties": {"name": "str", "retail": "float"},
    },
    "standard part": {
        "represented_as": "node",
        "preferred_id": "part",
        "input_label": "STANDARD",
    },
    "order event": {
        "represented_as": "node",
        "preferred_id": "id",
        "input_label": "ordered",
    },
}

_GAZETTEER = r"\b(?:spark|scan|join|merge|sort|window|hash|stream|batch|dup)\b"


def _part_translator(spark) -> SparkTranslator:
    return SparkTranslator(spark, NullOntology(SchemaMapping(schema=dict(_PART_SCHEMA))))


def _part_schema_mapping() -> SchemaMapping:
    return SchemaMapping(schema={k: dict(v) for k, v in _PART_SCHEMA.items() if k != "order event"})


_LABELS_SCRATCH: list[str] = []


def _labels_scratch_dir() -> str:
    """One scratch dir per process for label-string writers (``_all_labels``
    computes strings driver-side and writes nothing, but the writer requires
    an outdir); cached so bench repeats don't leak a tempdir per call."""
    if not _LABELS_SCRATCH:
        import atexit
        import shutil
        import tempfile

        d = tempfile.mkdtemp(prefix="labels_")
        atexit.register(shutil.rmtree, d, ignore_errors=True)
        _LABELS_SCRATCH.append(d)
    return _LABELS_SCRATCH[0]


def _part_label_map(spark, onto: Ontology) -> dict[str, str]:
    """Per-p_type multi-label ``:LABEL`` strings via the Neo4j writer's
    ancestor-closure logic (shared by kg_label_closure / kg_ontology_file
    so the two oracle pairs cannot drift)."""
    from .writer.neo4j import Neo4jBatchWriter

    bw = Neo4jBatchWriter(spark, SparkTranslator(spark, onto), _labels_scratch_dir())
    return {
        "ECONOMY": bw._all_labels("economy part", "Ascending"),
        "STANDARD": bw._all_labels("standard part", "Ascending"),
    }


def _staged_part_nodes(spark, sf_dir) -> DataFrame:
    part = _t(spark, sf_dir, "part", rebalance=False)
    return part.select(
        F.concat(F.lit("p"), F.col("p_partkey").cast("string")).alias("id"),
        F.col("p_type").alias("input_label"),
        F.map_from_arrays(
            F.array(F.lit("name"), F.lit("retail")),
            F.array(
                F.to_json(F.array("p_name")).substr(F.lit(2), F.length(F.to_json(F.array("p_name"))) - F.lit(2)),
                F.col("p_retailprice").cast("string"),
            ),
        ).alias("props"),
        F.col("p_partkey").cast("long").alias(SEQ),
    )


@register(
    "kg_translate_nodes",
    """
    SELECT 'p' || p_partkey AS node_id,
           CASE p_type WHEN 'ECONOMY' THEN 'economy part' ELSE 'standard part' END AS node_label,
           'part' AS preferred_id
    FROM part WHERE p_type IN ('ECONOMY', 'STANDARD')
    """,
)
def kg_translate_nodes(spark, sf_dir):
    """T1: broadcast-join label mapping with preferred-id attachment."""
    out = _part_translator(spark).translate_nodes(_staged_part_nodes(spark, sf_dir))
    return out.nodes.select("node_id", "node_label", "preferred_id")


@register(
    "kg_missing_types",
    """
    SELECT p_type AS input_label, count(*) AS count
    FROM part WHERE p_type NOT IN ('ECONOMY', 'STANDARD')
    GROUP BY p_type
    """,
)
def kg_missing_types(spark, sf_dir):
    """T5: unmapped input labels -> metrics table."""
    out = _part_translator(spark).translate_nodes(_staged_part_nodes(spark, sf_dir))
    return out.missing


@register(
    "kg_dedup_nodes",
    """
    SELECT 'p' || l_partkey AS node_id,
           min(l_orderkey * 10 + l_linenumber) AS first_seq
    FROM lineitem GROUP BY l_partkey
    """,
)
def kg_dedup_nodes(spark, sf_dir):
    """D1: global first-wins node dedup keyed on node_id."""
    from .dedup import dedup_nodes

    li = _t(spark, sf_dir, "lineitem", rebalance=False)
    staged = li.select(
        F.concat(F.lit("p"), F.col("l_partkey").cast("string")).alias("node_id"),
        F.lit("part").alias("node_label"),
        F.lit("part").alias("preferred_id"),
        F.create_map().cast("map<string,string>").alias("props"),
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).cast("long").alias(SEQ),
    )
    res = dedup_nodes(staged)
    return res.kept.select("node_id", F.col(SEQ).alias("first_seq"))


@register(
    "kg_dup_metrics",
    """
    SELECT 'p' || l_partkey AS dup_id, count(*) - 1 AS extra
    FROM lineitem GROUP BY l_partkey HAVING count(*) > 1
    """,
)
def kg_dup_metrics(spark, sf_dir):
    """D4: duplicate-occurrence metrics."""
    li = _t(spark, sf_dir, "lineitem", rebalance=False)
    node_id = F.concat(F.lit("p"), F.col("l_partkey").cast("string"))
    return (
        li.groupBy(node_id.alias("dup_id"))
        .agg((F.count(F.lit(1)) - 1).alias("extra"))
        .filter(F.col("extra") > 0)
    )


@register(
    "kg_rel_as_node",
    """
    SELECT 'c' || o_custkey AS source_id, 'c' || o_custkey || '_o' || o_orderkey || '_True' AS target_id,
           'IS_SOURCE_OF' AS relationship_label
    FROM orders
    UNION ALL
    SELECT 'o' || o_orderkey, 'c' || o_custkey || '_o' || o_orderkey || '_True', 'IS_TARGET_OF'
    FROM orders
    """,
)
def kg_rel_as_node(spark, sf_dir):
    """T2: rel-as-node 1->3 explode with synthesized node ids."""
    orders = _t(spark, sf_dir, "orders", rebalance=False)
    staged = orders.select(
        F.lit(None).cast("string").alias("id"),
        F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("src"),
        F.concat(F.lit("o"), F.col("o_orderkey").cast("string")).alias("tgt"),
        F.lit("ordered").alias("input_label"),
        F.map_from_arrays(F.array(F.lit("directed")), F.array(F.lit("true"))).alias("props"),
        F.col("o_orderkey").cast("long").alias(SEQ),
    )
    out = _part_translator(spark).translate_edges(staged)
    return out.ran_edges.select("source_id", "target_id", "relationship_label")


@register(
    "kg_statistics",
    """
    SELECT 'part' AS label, count(*) AS cnt FROM part
    UNION ALL SELECT 'customer', count(*) FROM customer
    UNION ALL SELECT 'supplier', count(*) FROM supplier
    """,
)
def kg_statistics(spark, sf_dir):
    """D7: per-type node counts through the graph layer."""
    nodes = (
        _t(spark, sf_dir, "part", rebalance=False)
        .select(F.concat(F.lit("p"), "p_partkey").alias("node_id"), F.lit("part").alias("node_label"))
        .unionByName(
            _t(spark, sf_dir, "customer", rebalance=False).select(
                F.concat(F.lit("c"), "c_custkey").alias("node_id"), F.lit("customer").alias("node_label")
            )
        )
        .unionByName(
            _t(spark, sf_dir, "supplier", rebalance=False).select(
                F.concat(F.lit("s"), "s_suppkey").alias("node_id"), F.lit("supplier").alias("node_label")
            )
        )
    )
    g = SparkGraph(nodes, nodes.limit(0).select(
        F.col("node_id").alias("source_id"), F.col("node_id").alias("target_id"), F.lit("x").alias("relationship_label")
    ))
    return g.node_type_counts()


@register(
    "kg_topk_types",
    """
    SELECT l_returnflag || l_linestatus AS label, count(*) AS cnt
    FROM lineitem GROUP BY 1 ORDER BY cnt DESC, label ASC LIMIT 5
    """,
)
def kg_topk_types(spark, sf_dir):
    """D8: top-k type summary with deterministic tie-break."""
    li = _t(spark, sf_dir, "lineitem", rebalance=False)
    nodes = li.select(
        F.concat("l_orderkey", F.lit("_"), "l_linenumber").alias("node_id"),
        F.concat("l_returnflag", "l_linestatus").alias("node_label"),
    )
    g = SparkGraph(nodes, nodes.limit(0).select(
        F.col("node_id").alias("source_id"), F.col("node_id").alias("target_id"), F.lit("x").alias("relationship_label")
    ))
    return g.top_k_types(5)


@register(
    "kg_graph_neighbors",
    """
    SELECT 'c' || c_custkey AS neighbor FROM customer WHERE c_nationkey = 5
    """,
)
def kg_graph_neighbors(spark, sf_dir):
    """G2: neighbor lookup via edge join."""
    cust = _t(spark, sf_dir, "customer", rebalance=False)
    edges = cust.select(
        F.concat(F.lit("c"), "c_custkey").alias("source_id"),
        F.concat(F.lit("n"), "c_nationkey").alias("target_id"),
        F.lit("IN_NATION").alias("relationship_label"),
    )
    g = SparkGraph(edges.select(F.col("source_id").alias("node_id"), F.lit("customer").alias("node_label")), edges)
    return g.get_neighbors("n5", direction="in").select(F.col("neighbor"))


@register(
    "kg_graph_paths",
    """
    SELECT 'n' || n_nationkey AS dst, 1 AS hops FROM nation WHERE n_regionkey = 0
    UNION ALL
    SELECT 'c' || c_custkey, 2
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE n.n_regionkey = 0
    """,
)
def kg_graph_paths(spark, sf_dir):
    """G3: bounded path enumeration from 'r0' (region->nation->customer)."""
    nation = _t(spark, sf_dir, "nation", rebalance=False)
    cust = _t(spark, sf_dir, "customer", rebalance=False)
    edges = nation.select(
        F.concat(F.lit("r"), "n_regionkey").alias("source_id"),
        F.concat(F.lit("n"), "n_nationkey").alias("target_id"),
        F.lit("HAS_NATION").alias("relationship_label"),
    ).unionByName(
        cust.select(
            F.concat(F.lit("n"), "c_nationkey").alias("source_id"),
            F.concat(F.lit("c"), "c_custkey").alias("target_id"),
            F.lit("HAS_CUSTOMER").alias("relationship_label"),
        )
    )
    g = SparkGraph(edges.select(F.col("source_id").alias("node_id"), F.lit("x").alias("node_label")), edges)
    return g.find_paths("r0", max_length=2).select("dst", "hops")


@register(
    "kg_connected_components",
    """
    WITH nodes AS (
      SELECT 'r' || r_regionkey AS node, r_regionkey AS rk FROM region
      UNION ALL SELECT 'n' || n_nationkey, n_regionkey FROM nation
      UNION ALL SELECT 'c' || c_custkey, n.n_regionkey
        FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    )
    SELECT node, min(node) OVER (PARTITION BY rk) AS comp FROM nodes
    """,
)
def kg_connected_components(spark, sf_dir):
    """G4: iterative-join connected components on the geo forest."""
    nation = _t(spark, sf_dir, "nation", rebalance=False)
    cust = _t(spark, sf_dir, "customer", rebalance=False)
    edges = nation.select(
        F.concat(F.lit("n"), "n_nationkey").alias("src"), F.concat(F.lit("r"), "n_regionkey").alias("dst")
    ).unionByName(
        cust.select(F.concat(F.lit("c"), "c_custkey").alias("src"), F.concat(F.lit("n"), "c_nationkey").alias("dst"))
    )
    return connected_components(edges).select("node", "comp")


@register(
    "kg_label_closure",
    """
    SELECT DISTINCT p_type AS input_label,
      CASE p_type
        WHEN 'ECONOMY' THEN '''EconomyPart|Part|NamedThing'''
        WHEN 'STANDARD' THEN '''StandardPart|Part|NamedThing'''
      END AS label_string
    FROM part WHERE p_type IN ('ECONOMY', 'STANDARD')
    """,
)
def kg_label_closure(spark, sf_dir):
    """O1/O2: ancestor :LABEL strings precomputed driver-side, broadcast."""
    onto = Ontology(
        _part_schema_mapping(),
        parent_map={"economy part": "part", "standard part": "part", "part": "named thing"},
    )
    amap = _part_label_map(spark, onto)
    part = _t(spark, sf_dir, "part", rebalance=False).filter(F.col("p_type").isin(*amap)).select("p_type").distinct()
    expr = F.when(F.col("p_type") == "ECONOMY", F.lit(amap["ECONOMY"])).otherwise(F.lit(amap["STANDARD"]))
    return part.select(F.col("p_type").alias("input_label"), expr.alias("label_string"))


@register(
    "kg_ontology_file",
    """
    SELECT DISTINCT p_type AS input_label,
      CASE p_type
        WHEN 'ECONOMY' THEN '''EconomyPart|Part|NamedThing'''
        WHEN 'STANDARD' THEN '''StandardPart|Part|NamedThing'''
      END AS label_string,
      3 AS n_ancestors
    FROM part WHERE p_type IN ('ECONOMY', 'STANDARD')
    """,
)
def kg_ontology_file(spark, sf_dir):
    """O1/O2 through the FILE front door: the ancestor DAG is loaded from a
    real Turtle ontology file (prefixed IRIs, multi-line statements — the
    serialization the round-3 regex reader silently dropped), rooted via
    the reference's raw-label root find, and the multi-label `:LABEL`
    strings are computed by the writer's closure logic. Demonstrates the
    rdfio parser end-to-end against the oracle gate."""
    from importlib import resources

    ref = resources.files("biocypher_spark").joinpath("data/demo_ontology.ttl")
    with resources.as_file(ref) as p:
        onto = Ontology(_part_schema_mapping(), hierarchy_file=str(p), root="named_thing")
    amap = _part_label_map(spark, onto)
    depth = {t: len(onto.get_ancestors(t.lower() + " part")) for t in amap}
    part = _t(spark, sf_dir, "part", rebalance=False).filter(F.col("p_type").isin(*amap)).select("p_type").distinct()
    lbl = F.when(F.col("p_type") == "ECONOMY", F.lit(amap["ECONOMY"])).otherwise(F.lit(amap["STANDARD"]))
    dep = F.when(F.col("p_type") == "ECONOMY", F.lit(depth["ECONOMY"])).otherwise(F.lit(depth["STANDARD"]))
    return part.select(
        F.col("p_type").alias("input_label"),
        lbl.alias("label_string"),
        dep.cast("int").alias("n_ancestors"),
    )


@register(
    "kg_canonicalize_blocking",
    """
    SELECT p_partkey,
           min('p' || p_partkey) OVER (
             PARTITION BY regexp_replace(lower(p_name), '[^a-z0-9]', '', 'g')
           ) AS canonical_id
    FROM part
    """,
)
def kg_canonicalize_blocking(spark, sf_dir):
    """Linking stage 1: normalized-key blocking -> canonical representative."""
    part = _t(spark, sf_dir, "part", rebalance=False)
    w = Window.partitionBy(normalize_surface(F.col("p_name")))
    return part.select(
        "p_partkey",
        F.min(F.concat(F.lit("p"), F.col("p_partkey").cast("string"))).over(w).alias("canonical_id"),
    )


@register(
    "kg_extract_mentions",
    f"""
    SELECT doc_id, unnest(regexp_extract_all(text, '{_GAZETTEER}')) AS surface
    FROM documents
    """,
)
def kg_extract_mentions(spark, sf_dir):
    """Flagship extraction (mapInPandas) over documents-as-transcripts.

    ``balance=False``: ``_t`` already round-robin-rebalanced the small scan
    to cluster width (and at scale the parquet arrives in thousands of
    splits), so the extractor's salt repartition would be a SECOND full
    shuffle of the document text for zero extra balance — the plan goes
    from 2 Exchanges below MapInPandas to 1 (guide §2.4)."""
    docs = _t(spark, sf_dir, "documents")
    transcripts = docs.select(
        F.col("doc_id").cast("string").alias("conv_id"),
        F.lit(0).alias("turn_idx"),
        F.col("text"),
    )
    mentions = extract_mentions(transcripts, patterns={"op": _GAZETTEER}, balance=False)
    return mentions.select(F.col("conv_id").cast("bigint").alias("doc_id"), "surface")


@register(
    "kg_cooccurrence_triples",
    f"""
    WITH m AS (
      SELECT DISTINCT doc_id, unnest(regexp_extract_all(text, '{_GAZETTEER}')) AS w
      FROM documents
    )
    SELECT DISTINCT a.w AS subj, 'CO_OCCURS_WITH' AS pred, b.w AS obj
    FROM m a JOIN m b ON a.doc_id = b.doc_id AND a.w < b.w
    """,
)
def kg_cooccurrence_triples(spark, sf_dir):
    """Flagship triple construction: extraction -> per-doc co-occurrence ->
    dedup -> (subj, pred, obj).

    Pair generation is DOC-LOCAL (the ``linking.cooccurrence_pairs`` shape): one
    ``collect_set`` aggregate per doc, then a JVM array expansion of the
    sorted set into its ordered pairs. The former self-join formulation
    ran the mapInPandas extraction in BOTH join branches (two Python
    stages, four corpus-text Exchanges at sf0.1) and shuffled the mention
    table twice; this plan extracts once and shuffles only narrow
    (doc_id, surface) aggregate rows (guide §2.3-2.4). The per-doc set is
    bounded by the gazetteer vocabulary, so the expansion is O(v^2) with
    tiny v — never corpus-quadratic. Same rows: a sorted distinct set's
    ordered pairs are exactly the a.w < b.w join pairs."""
    mentions = kg_extract_mentions(spark, sf_dir).select("doc_id", F.col("surface").alias("w"))
    per_doc = mentions.groupBy("doc_id").agg(F.array_sort(F.collect_set("w")).alias("_ws"))
    pairs = F.flatten(
        F.transform(
            F.col("_ws"),
            lambda x, i: F.transform(
                F.slice(F.col("_ws"), i + 2, F.greatest(F.size("_ws") - i - 1, F.lit(0))),
                lambda y: F.struct(x.alias("subj"), y.alias("obj")),
            ),
        )
    )
    return (
        per_doc.select(F.explode(pairs).alias("p"))
        .select(
            F.col("p.subj").alias("subj"),
            F.lit("CO_OCCURS_WITH").alias("pred"),
            F.col("p.obj").alias("obj"),
        )
        .distinct()
    )


# ---------------------------------------------------------------------------
# Training-data operators: dedup family, text analysis (textops.py)
# ---------------------------------------------------------------------------

from .textops import (  # noqa: E402
    MINHASH_SEEDS,
    SIMHASH_BITS,
    exact_dedup,
    minhash_banded_pairs,
    minhash_dedup,
    ngram_jaccard_pairs,
    simhash,
    simhash64,
    simhash_near_dup,
)


def _token_count_sql() -> str:
    return r"""
    SELECT doc_id,
           len(string_split(text, ' ')) AS n_tokens,
           len(regexp_extract_all(text, '[a-zA-Z0-9]+|[^a-zA-Z0-9\s]')) AS n_subwords,
           length(text) AS n_chars_check
    FROM documents
    """


@register(
    "doc_exact_dedup",
    "SELECT min(doc_id) AS rep_id, count(*) AS n FROM documents GROUP BY md5(text)",
)
def doc_exact_dedup(spark, sf_dir):
    return exact_dedup(_t(spark, sf_dir, "documents"))


def _minhash_oracle() -> str:
    sig_cols = ",\n      ".join(
        f"list_aggregate(list_transform(string_split(text, ' '), x -> md5('{b}' || x)), 'min') AS sig{b}"
        for b in range(MINHASH_SEEDS)
    )
    parts = ", ".join(f"sig{b}" for b in range(MINHASH_SEEDS))
    return f"""
    WITH sigs AS (SELECT doc_id, {sig_cols} FROM documents)
    SELECT doc_id, min(doc_id) OVER (PARTITION BY {parts}) AS rep_id FROM sigs
    """


@register("doc_minhash_dedup", _minhash_oracle())
def doc_minhash_dedup(spark, sf_dir):
    return minhash_dedup(_t(spark, sf_dir, "documents"))


def _simhash_oracle() -> str:
    terms = []
    for i in range(SIMHASH_BITS):
        pos = i // 4 + 1
        shift = 3 - i % 4
        vote = (
            f"(((strpos('0123456789abcdef', substr(md5(x), {pos}, 1)) - 1) >> {shift}) & 1) * 2 - 1"
        )
        s = f"list_aggregate(list_transform(string_split(text, ' '), x -> {vote}), 'sum')"
        terms.append(f"CASE WHEN {s} >= 0 THEN {1 << i} ELSE 0 END")
    total = " + ".join(terms)
    return f"SELECT doc_id, {total} AS simhash FROM documents"


@register("doc_simhash", _simhash_oracle())
def doc_simhash(spark, sf_dir):
    return simhash(_t(spark, sf_dir, "documents"))


def _simhash64_sql(col: str = "text") -> str:
    """16-nibble hex simhash64 expression (mirrors textops.simhash64)."""
    nibbles = []
    for k in range(16):
        terms = []
        for j in range(4):
            pos = k + 1
            shift = 3 - j
            vote = (
                f"(((strpos('0123456789abcdef', substr(md5(x), {pos}, 1)) - 1) >> {shift}) & 1) * 2 - 1"
            )
            s = f"list_aggregate(list_transform(string_split({col}, ' '), x -> {vote}), 'sum')"
            terms.append(f"CASE WHEN {s} >= 0 THEN {1 << j} ELSE 0 END")
        nibbles.append(f"substr('0123456789abcdef', ({' + '.join(terms)}) + 1, 1)")
    return " || ".join(nibbles)


@register("doc_simhash64", f"SELECT doc_id, {_simhash64_sql()} AS simhash64 FROM documents")
def doc_simhash64(spark, sf_dir):
    return simhash64(_t(spark, sf_dir, "documents"))


def _simhash_near_dup_oracle(max_hamming: int = 3, bands: int = 4) -> str:
    width = 16 // bands
    band_rows = "\n      UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, substr(h, {b * width + 1}, {width}) AS bkey FROM sh"
        for b in range(bands)
    )
    ham_terms = []
    for k in range(16):
        na = f"strpos('0123456789abcdef', substr(a.h, {k + 1}, 1)) - 1"
        nb = f"strpos('0123456789abcdef', substr(b.h, {k + 1}, 1)) - 1"
        ham_terms.append(f"CAST(substr('0112122312232334', xor({na}, {nb}) + 1, 1) AS INT)")
    ham = " + ".join(ham_terms)
    # tokenless docs (null/empty/whitespace-only text) are excluded from
    # pairing, mirroring simhash_near_dup: each such boilerplate class
    # shares one constant simhash -> one degenerate quadratic bucket
    return f"""
    WITH sh AS (SELECT doc_id, {_simhash64_sql()} AS h FROM documents
                WHERE len(list_filter(string_split(text, ' '), x -> x <> '')) > 0),
    bands AS ({band_rows}),
    cand AS (
      SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
      FROM bands x JOIN bands y ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id
    )
    SELECT doc_a, doc_b, {ham} AS hamming
    FROM cand JOIN sh a ON a.doc_id = cand.doc_a JOIN sh b ON b.doc_id = cand.doc_b
    WHERE {ham} <= {max_hamming}
    """


@register("doc_simhash_near_dup", _simhash_near_dup_oracle())
def doc_simhash_near_dup(spark, sf_dir):
    return simhash_near_dup(_t(spark, sf_dir, "documents"), max_hamming=3, bands=4)


_BANDS = 4
_ROWS_PER_BAND = 3


def _band_cte(
    elem_sql: str,
    bands: int = _BANDS,
    rows: int = _ROWS_PER_BAND,
    est_min: int = 0,
    source: str = "documents",
) -> str:
    """CTEs 'hashed' + 'sigs' + 'bands' + 'cand' for banded-minhash candidate
    pairs over the element-list SQL expression (mirrors
    minhash_band_candidates: one 32-bit md5-derived hash per element, then
    the shared (a,b) affine family per seed). With ``est_min`` > 0 the
    candidate CTE also applies the signature-agreement prefilter
    (>= est_min matching sigs of bands*rows)."""
    from .textops import _MINHASH_PRIME, minhash_affine_params

    seeds = bands * rows
    sig_cols = ",\n             ".join(
        f"list_aggregate(list_transform(hs, h -> (h * {a} + {b}) % {_MINHASH_PRIME}), 'min') AS sig{i}"
        for i, (a, b) in enumerate(minhash_affine_params(seeds))
    )
    band_rows = "\n      UNION ALL ".join(
        "SELECT doc_id, {b} AS band, {key} AS bkey FROM sigs".format(
            b=b, key=" || '|' || ".join(f"sig{b * rows + r}::VARCHAR" for r in range(rows))
        )
        for b in range(bands)
    )
    est_join, est_where = "", ""
    if est_min > 0:
        agree = " + ".join(f"CASE WHEN sa.sig{i} = sb.sig{i} THEN 1 ELSE 0 END" for i in range(seeds))
        est_join = "JOIN sigs sa ON sa.doc_id = x.doc_id JOIN sigs sb ON sb.doc_id = y.doc_id"
        est_where = f"AND ({agree}) >= {est_min}"
    return f"""
    hashed AS (SELECT doc_id,
      list_distinct(list_transform({elem_sql}, x -> ('0x' || substr(md5(x), 1, 8))::BIGINT)) AS hs
      FROM {source} WHERE len({elem_sql}) > 0),
    sigs AS (SELECT doc_id, {sig_cols} FROM hashed),
    bands AS ({band_rows}),
    cand AS (
      SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
      FROM bands x JOIN bands y ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id
      {est_join}
      WHERE 1 = 1 {est_where}
    )"""


_SHINGLE_SQL = (
    "list_distinct(list_filter("
    "[substr(text, i, 3) for i in generate_series(1, greatest(length(text) - 2, 1))],"
    " s -> length(s) = 3))"
)

_NGRAM_T = 0.9
_NGRAM_BANDS = 4
_NGRAM_ROWS = 6
_NGRAM_SLACK = 0.1


def _hashed_jac_sql(elem_sql: str) -> tuple[str, str]:
    """('t' CTE body, jac expression) for the exact Jaccard over the
    distinct 32-bit-hashed element sets — mirrors
    textops.hashed_element_set + _verify_hashed_jaccard (union-free
    |A|+|B|-|A∩B| identity; both engines hash identically)."""
    t_cte = (
        "t AS (SELECT doc_id, "
        f"list_distinct(list_transform({elem_sql}, x -> ('0x' || substr(md5(x), 1, 8))::BIGINT)) AS hs "
        f"FROM documents WHERE len({elem_sql}) > 0)"
    )
    inter = "len(list_intersect(a.hs, b.hs))"
    jac = f"round({inter}::DOUBLE / (len(a.hs) + len(b.hs) - {inter}), 6)"
    return t_cte, jac


def _ngram_jaccard_oracle() -> str:
    import math

    est_min = math.ceil((_NGRAM_T - _NGRAM_SLACK) * _NGRAM_BANDS * _NGRAM_ROWS)
    t_cte, jac = _hashed_jac_sql(_SHINGLE_SQL)
    return f"""
    WITH {_band_cte(_SHINGLE_SQL, _NGRAM_BANDS, _NGRAM_ROWS, est_min)},
    {t_cte}
    SELECT doc_a, doc_b, {jac} AS jac
    FROM cand JOIN t a ON a.doc_id = cand.doc_a JOIN t b ON b.doc_id = cand.doc_b
    WHERE {jac} >= {_NGRAM_T}
    """


@register("doc_ngram_jaccard", _ngram_jaccard_oracle())
def doc_ngram_jaccard(spark, sf_dir):
    return ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents", materialize=True),
        threshold=_NGRAM_T,
        bands=_NGRAM_BANDS,
        rows_per_band=_NGRAM_ROWS,
        est_slack=_NGRAM_SLACK,
    )


def _minhash_banded_oracle() -> str:
    t_cte, jac = _hashed_jac_sql("string_split(text, ' ')")
    # deterministic top-1000 slice: the raw pair set is output-bound (this
    # synthetic corpus holds millions of true >=0.5 pairs at sf0.1), so the
    # query bounds its result with a total order instead of collecting them all
    return f"""
    WITH {_band_cte("string_split(text, ' ')")},
    {t_cte}
    SELECT doc_a, doc_b, {jac} AS jac
    FROM cand JOIN t a ON a.doc_id = cand.doc_a JOIN t b ON b.doc_id = cand.doc_b
    WHERE {jac} >= 0.5
    ORDER BY {jac} DESC, doc_a ASC, doc_b ASC
    LIMIT 1000
    """


@register("doc_minhash_banded", _minhash_banded_oracle())
def doc_minhash_banded(spark, sf_dir):
    pairs = minhash_banded_pairs(_t(spark, sf_dir, "documents", materialize=True), threshold=0.5)
    return pairs.orderBy(F.desc("jac"), F.asc("doc_a"), F.asc("doc_b")).limit(1000)


def _lang_oracle() -> str:
    from .textops import _LANG_MARKERS

    cnt = {
        lang: "len(list_filter(string_split(text, ' '), x -> x in ("
        + ", ".join(f"'{m}'" for m in markers)
        + ")))"
        for lang, markers in _LANG_MARKERS.items()
    }
    best = "greatest(" + ", ".join(cnt.values()) + ")"
    whens = " ".join(
        f"WHEN {best} > 0 AND {cnt[lang]} = {best} THEN '{lang}'" for lang in sorted(cnt)
    )
    return f"SELECT doc_id, CASE {whens} ELSE 'und' END AS lang_pred FROM documents"


def _quality_sql() -> str:
    return """
    WITH t AS (
      SELECT doc_id, text,
             len(string_split(text, ' ')) AS n,
             len(list_filter(string_split(text, ' '),
                 x -> x in ('the','and','of','a','in','to','is'))) AS stops,
             len(regexp_extract_all(text, '[.,;:!?'']')) AS punct
      FROM documents
    )
    SELECT doc_id, n AS n_tokens,
           round(stops / n, 6) AS stop_ratio,
           round(least(1.0, n / 100.0) * (1 - punct / greatest(length(text), 1)) * (1 - (stops / n) / 2), 6) AS score
    FROM t
    """


def _text_profile_oracle() -> str:
    return f"""
    SELECT t.doc_id, t.n_tokens, t.n_subwords, t.n_chars_check,
           l.lang_pred, q.stop_ratio, q.score,
           substr(md5(d.text), 1, 16) AS fp
    FROM documents d
    JOIN ({_token_count_sql()}) t ON d.doc_id = t.doc_id
    JOIN ({_lang_oracle()}) l ON d.doc_id = l.doc_id
    JOIN ({_quality_sql()}) q ON d.doc_id = q.doc_id
    """


@register("doc_text_profile", _text_profile_oracle())
def doc_text_profile(spark, sf_dir):
    """Per-document text profile in one row per doc: token/subword/char
    counts, n-gram language ID, quality signals (stopword ratio, composite
    score), and content fingerprint (merged from the separate token-count /
    lang-id / quality-score / fingerprint queries to fit the driver's
    50-query gate)."""
    from .textops import text_profile

    return text_profile(_t(spark, sf_dir, "documents"))


def _winnow_oracle(k: int = 5, window: int = 4) -> str:
    from .textops import _WINNOW_BASE, _WINNOW_MOD

    gram = " + ".join(
        f"ascii(substr(text, i + {j}, 1)) * {_WINNOW_BASE ** (k - 1 - j)}" for j in range(k)
    )
    return f"""
    WITH h AS (
      SELECT doc_id,
             [({gram}) % {_WINNOW_MOD}
              for i in generate_series(1, length(text) - {k - 1})] AS hashes
      FROM documents WHERE length(text) >= {k + window - 1}
    )
    SELECT doc_id,
           unnest(list_distinct([list_min(hashes[i:i + {window - 1}])
                                 for i in generate_series(1, len(hashes) - {window - 1})])) AS fp
    FROM h
    """


@register("doc_winnow_fingerprint", _winnow_oracle())
def doc_winnow_fingerprint(spark, sf_dir):
    """Winnowing (rolling-hash k-gram, min-per-window) fingerprints — the
    MOSS partial-overlap scheme (task brief: rolling-hash fingerprinting)."""
    from .textops import winnow_fingerprints

    return winnow_fingerprints(_t(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Similarity search over embeddings (similarity.py)
# ---------------------------------------------------------------------------

from .similarity import (  # noqa: E402
    cosine_topk,
    embedding_near_dup,
    hyperplane_signs,
    hyperplane_signs_md5,
    lsh_buckets,
)

_DIMS = 64


def _dot_sql(a: str, b: str) -> str:
    return " + ".join(f"{a}[{i}]::DOUBLE * {b}[{i}]::DOUBLE" for i in range(1, _DIMS + 1))


def _cosine_topk_oracle() -> str:
    dot = _dot_sql("e.embedding", "q.qe")
    na = _dot_sql("e.embedding", "e.embedding")
    nq = _dot_sql("q.qe", "q.qe")
    return f"""
    WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
    SELECT vec_id, round(({dot}) / (sqrt({na}) * sqrt({nq})), 6) AS cos
    FROM embeddings e, q
    WHERE e.vec_id != 0
    ORDER BY ({dot}) / (sqrt({na}) * sqrt({nq})) DESC, vec_id ASC
    LIMIT 10
    """


@register("emb_cosine_topk", _cosine_topk_oracle())
def emb_cosine_topk(spark, sf_dir):
    return cosine_topk(_t(spark, sf_dir, "embeddings"), query_vec_id=0, k=10)


def _lsh_oracle() -> str:
    planes = hyperplane_signs(2, _DIMS)
    parts = []
    for p, signs in enumerate(planes):
        proj = " + ".join(
            f"{'' if s > 0 else '-'}embedding[{i + 1}]::DOUBLE" for i, s in enumerate(signs)
        ).replace("+ -", "- ")
        parts.append(f"CASE WHEN ({proj}) >= 0 THEN {1 << p} ELSE 0 END")
    total = " + ".join(parts)
    return f"SELECT vec_id, {total} AS bucket FROM embeddings"


@register("emb_lsh_buckets", _lsh_oracle())
def emb_lsh_buckets(spark, sf_dir):
    return lsh_buckets(_t(spark, sf_dir, "embeddings"), num_planes=2, dims=_DIMS)


_IVF_K = 4
_IVF_NPROBE = 2


def _cos_sql(a: str, b: str) -> str:
    return f"({_dot_sql(a, b)}) / (sqrt({_dot_sql(a, a)}) * sqrt({_dot_sql(b, b)}))"


def _ivf_cluster_sql(k: int = _IVF_K) -> tuple[str, str]:
    """(joins, cluster CASE expr) for IVF assignment over alias ``e``."""
    joins = " ".join(f"JOIN embeddings c{j} ON c{j}.vec_id = {j}" for j in range(k))
    cos = [_cos_sql("e.embedding", f"c{j}.embedding") for j in range(k)]
    g = "greatest(" + ", ".join(cos) + ")"
    whens = " ".join(f"WHEN ({cos[j]}) = {g} THEN {j}" for j in range(k - 1))
    cluster = f"CASE {whens} ELSE {k - 1} END"
    return joins, cluster


def _ivf_topk_oracle(qid: int = 0, k: int = 10) -> str:
    joins, cluster = _ivf_cluster_sql()
    probe_rows = "\n      UNION ALL ".join(
        f"SELECT {j} AS cl, {_cos_sql('q.embedding', f'c{j}.embedding')} AS s "
        f"FROM embeddings q {joins} WHERE q.vec_id = {qid}"
        for j in range(_IVF_K)
    )
    cos_q = _cos_sql("e.embedding", "q.embedding")
    return f"""
    WITH probes AS (
      SELECT cl FROM ({probe_rows}) ORDER BY s DESC, cl ASC LIMIT {_IVF_NPROBE}
    )
    SELECT e.vec_id, round({cos_q}, 6) AS cos
    FROM embeddings e {joins} JOIN embeddings q ON q.vec_id = {qid}
    WHERE ({cluster}) IN (SELECT cl FROM probes) AND e.vec_id != {qid}
    ORDER BY ({cos_q}) DESC, e.vec_id ASC
    LIMIT {k}
    """


@register("emb_ivf_topk", _ivf_topk_oracle())
def emb_ivf_topk(spark, sf_dir):
    from .similarity import ivf_topk

    return ivf_topk(_t(spark, sf_dir, "embeddings"), query_vec_id=0, k=10, n_centroids=_IVF_K, nprobe=_IVF_NPROBE)


def _ivf_recall_oracle() -> str:
    return f"""
    SELECT CAST(count(*) AS DOUBLE) / 10.0 AS recall_at_10
    FROM ({_cosine_topk_oracle()}) exact JOIN ({_ivf_topk_oracle()}) approx
    USING (vec_id)
    """


def _ivf_trained_oracle(iters: int = 2, k: int = _IVF_K, qid: int = 0, topk: int = 10, nprobe: int = _IVF_NPROBE) -> str:
    """Replicate the Spark-side Lloyd's training (similarity.
    train_ivf_centroids) inside DuckDB: per iteration, an argmax
    assignment (window over a cross join with the k-row centroid table)
    and per-cluster per-dim means, ROUNDED TO 6 DECIMALS — the same grid
    the Spark trainer pins to — so float-summation-order differences
    between the engines cannot flip an assignment. An emptied cluster
    keeps its previous centroid ROUNDED (LEFT JOIN + coalesce over
    ``list_transform(round)``), matching the trainer, which rounds the
    whole centroid list each iteration including carried-over entries.

    Memory shape: vector norms are computed ONCE in ``enorm`` and centroid
    norms once per k-row table, so every cosine in the big cross-join
    windows is a single {_DIMS}-term dot plus one divide — the naive
    3-dots-per-cosine inlining tripled expression width and could OOM
    DuckDB when the gate runs alongside a resident Spark JVM."""

    def dot(a: str, b: str) -> str:
        return " + ".join(f"{a}[{i}]::DOUBLE * {b}[{i}]::DOUBLE" for i in range(1, _DIMS + 1))

    # same float ops as inlined sqrt products: sqrt of the identical dot,
    # multiplied pairwise — precomputing in a CTE cannot change the value
    ecos = f"(({dot('e.embedding', 'c.cent')}) / (e.nrm * c.cnrm))"
    parts = [
        f"enorm AS (SELECT vec_id, embedding, sqrt({dot('embedding', 'embedding')}) AS nrm FROM embeddings)",
        f"ca0 AS (SELECT vec_id AS cluster, embedding AS cent FROM embeddings WHERE vec_id < {k})",
    ]
    prev = "ca0"
    for it in range(1, iters + 1):
        parts.append(
            f"cn{it} AS (SELECT cluster, cent, sqrt({dot('cent', 'cent')}) AS cnrm FROM {prev})"
        )
        parts.append(
            f"""a{it} AS (
      SELECT vec_id, embedding, cluster FROM (
        SELECT e.vec_id, e.embedding, c.cluster,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY {ecos} DESC, c.cluster ASC) AS rn
        FROM enorm e CROSS JOIN cn{it} c) WHERE rn = 1)"""
        )
        parts.append(
            f"""ca{it} AS (
      SELECT p.cluster, coalesce(n.cent, list_transform(p.cent, x -> round(x::DOUBLE, 6))) AS cent
      FROM {prev} p LEFT JOIN (
        SELECT cluster, list(m ORDER BY dim) AS cent FROM (
          SELECT cluster, dim, round(sum(v::DOUBLE) / count(*), 6) AS m FROM (
            SELECT cluster, unnest(embedding) AS v,
                   unnest(generate_series(1, {_DIMS})) AS dim FROM a{it})
          GROUP BY cluster, dim)
        GROUP BY cluster) n ON p.cluster = n.cluster)"""
        )
        prev = f"ca{it}"
    parts.append(f"cnf AS (SELECT cluster, cent, sqrt({dot('cent', 'cent')}) AS cnrm FROM {prev})")
    final_cos = f"(({dot('e.embedding', 'q.embedding')}) / (e.nrm * q.nrm))"
    parts.append(
        f"""probes AS (
      SELECT c.cluster FROM cnf c JOIN enorm q ON q.vec_id = {qid}
      ORDER BY (({dot('q.embedding', 'c.cent')}) / (q.nrm * c.cnrm)) DESC, c.cluster ASC LIMIT {nprobe})"""
    )
    parts.append(
        f"""afinal AS (
      SELECT vec_id, cluster FROM (
        SELECT e.vec_id, c.cluster,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY {ecos} DESC, c.cluster ASC) AS rn
        FROM enorm e CROSS JOIN cnf c) WHERE rn = 1)"""
    )
    return f"""
    WITH {', '.join(parts)}
    SELECT e.vec_id, round({final_cos}, 6) AS cos
    FROM afinal a JOIN enorm e ON e.vec_id = a.vec_id
    JOIN enorm q ON q.vec_id = {qid}
    WHERE a.cluster IN (SELECT cluster FROM probes) AND e.vec_id != {qid}
    ORDER BY ({final_cos}) DESC, e.vec_id ASC
    LIMIT {topk}
    """


@register("emb_ivf_trained_topk", _ivf_trained_oracle())
def emb_ivf_trained_topk(spark, sf_dir):
    """IVF ANN over a TRAINED coarse quantizer: Lloyd's k-means runs in
    Spark (one corpus scan + k-row partial-agg shuffle per iteration,
    similarity.train_ivf_centroids), then the probe/scan path is identical
    to emb_ivf_topk with the trained centroids inlined as literals."""
    from .similarity import ivf_topk, train_ivf_centroids

    emb = _t(spark, sf_dir, "embeddings", materialize=True)
    cents = train_ivf_centroids(emb, n_centroids=_IVF_K, iterations=2, round_decimals=6)
    return ivf_topk(emb, query_vec_id=0, k=10, n_centroids=_IVF_K, nprobe=_IVF_NPROBE, cents=cents)


@register("emb_ivf_recall", _ivf_recall_oracle())
def emb_ivf_recall(spark, sf_dir):
    """ANN quality measured, not guessed: recall@10 of the IVF probe path
    against the brute-force cosine top-10 for the same query vector."""
    from .similarity import cosine_topk, ivf_topk

    emb = _t(spark, sf_dir, "embeddings")
    exact = cosine_topk(emb, query_vec_id=0, k=10).select("vec_id")
    approx = ivf_topk(
        emb, query_vec_id=0, k=10, n_centroids=_IVF_K, nprobe=_IVF_NPROBE
    ).select("vec_id")
    return exact.join(approx, "vec_id").agg(
        (F.count(F.lit(1)).cast("double") / 10.0).alias("recall_at_10")
    )


_ND_TABLES = 4
_ND_PLANES = 4
_ND_CAP = 1000
_ND_THRESHOLD = 0.4


def _proj_sql(signs: list[int], col: str) -> str:
    return " + ".join(
        f"{'' if s > 0 else '-'}{col}[{i + 1}]::DOUBLE" for i, s in enumerate(signs)
    ).replace("+ -", "- ")


_ND_XC_MOD = 5  # cross-corpus split: reference = vec_id % 5 == 0, crawl = rest


def _emb_bucket_ctes() -> str:
    """Shared CTE pair ``b, u``: per-table sign-LSH bucket columns from the
    same md5-derived hyperplanes as similarity._multi_table_buckets, then
    the (vec_id, tbl, bucket) union across tables."""
    bucket_cols = []
    for t in range(_ND_TABLES):
        parts = []
        for p, signs in enumerate(hyperplane_signs_md5(t, _ND_PLANES, _DIMS)):
            parts.append(f"CASE WHEN ({_proj_sql(signs, 'embedding')}) >= 0 THEN {1 << p} ELSE 0 END")
        bucket_cols.append(" + ".join(parts) + f" AS bucket{t}")
    unions = "\n      UNION ALL ".join(
        f"SELECT vec_id, {t} AS tbl, bucket{t} AS bucket FROM b" for t in range(_ND_TABLES)
    )
    return (
        f"b AS (SELECT vec_id, embedding, {', '.join(bucket_cols)} FROM embeddings),\n"
        f"    u AS ({unions})"
    )


def _emb_cos_sql() -> str:
    dot = _dot_sql("ea.embedding", "eb.embedding")
    na = _dot_sql("ea.embedding", "ea.embedding")
    nb = _dot_sql("eb.embedding", "eb.embedding")
    return f"round(({dot}) / (sqrt({na}) * sqrt({nb})), 6)"


def _near_dup_oracle() -> str:
    """Banded multi-table LSH near-dup, recomputed end-to-end in SQL: per-table
    bucket from the same md5-derived hyperplanes, bucket-size cap, candidate
    union across tables, exact 64-term cosine re-score. Tagged union of two
    modes (both fit the driver's 50-query gate): 'within' = pairs inside one
    corpus (similarity.embedding_near_dup), 'against' = best reference match
    per new-crawl vector screened against a reference corpus
    (similarity.embedding_dedup_against; cap on the reference side,
    max-cos/min-ref_id argmax)."""
    cos = _emb_cos_sql()
    return f"""
    WITH {_emb_bucket_ctes()},
    ok AS (SELECT tbl, bucket FROM u GROUP BY tbl, bucket HAVING count(*) <= {_ND_CAP}),
    c AS (SELECT u.vec_id, u.tbl, u.bucket FROM u JOIN ok USING (tbl, bucket)),
    cand AS (
      SELECT DISTINCT x.vec_id AS va, y.vec_id AS vb
      FROM c x JOIN c y ON x.tbl = y.tbl AND x.bucket = y.bucket AND x.vec_id < y.vec_id
    ),
    un AS (SELECT * FROM u WHERE vec_id % {_ND_XC_MOD} != 0),
    ur AS (SELECT * FROM u WHERE vec_id % {_ND_XC_MOD} = 0),
    okr AS (SELECT tbl, bucket FROM ur GROUP BY tbl, bucket HAVING count(*) <= {_ND_CAP}),
    cr AS (SELECT ur.vec_id, ur.tbl, ur.bucket FROM ur JOIN okr USING (tbl, bucket)),
    candx AS (
      SELECT DISTINCT n.vec_id AS va, r.vec_id AS vb
      FROM un n JOIN cr r ON n.tbl = r.tbl AND n.bucket = r.bucket
    ),
    verx AS (
      SELECT va, vb, {cos} AS cos
      FROM candx JOIN embeddings ea ON ea.vec_id = candx.va
                 JOIN embeddings eb ON eb.vec_id = candx.vb
      WHERE {cos} >= {_ND_THRESHOLD}
    ),
    bestx AS (
      SELECT va, vb, cos FROM (
        SELECT va, vb, cos,
               row_number() OVER (PARTITION BY va ORDER BY cos DESC, vb ASC) AS rn
        FROM verx
      ) WHERE rn = 1
    )
    SELECT 'within' AS mode, va, vb, {cos} AS cos
    FROM cand JOIN embeddings ea ON ea.vec_id = cand.va
              JOIN embeddings eb ON eb.vec_id = cand.vb
    WHERE {cos} >= {_ND_THRESHOLD}
    UNION ALL
    SELECT 'against' AS mode, va, vb, cos FROM bestx
    """


@register("emb_near_dup", _near_dup_oracle())
def emb_near_dup(spark, sf_dir):
    """Embedding near-dup, both flavours in one tagged union: 'within'
    (pairs inside the corpus, similarity.embedding_near_dup) and 'against'
    (new-crawl vectors screened against a reference corpus derived from the
    same table by vec_id % mod — similarity.embedding_dedup_against, best
    reference match per flagged vector)."""
    from .similarity import _multi_table_buckets, embedding_dedup_against

    emb = _t(spark, sf_dir, "embeddings", materialize=True)
    # both arms consume the SAME multi-table bucket assignment — the
    # hyperplane projections (the dominant per-row cost) run once, pinned;
    # the 'against' arms are parity filters over the pinned narrow table
    bk = _materialize(_multi_table_buckets(emb, _ND_TABLES, _ND_PLANES, _DIMS, "embedding"))
    # ONE histogram aggregate serves both arms' bucket caps (within: all
    # rows; against: reference-parity rows) — the two downstream branches
    # read the same Exchange (ReuseExchange), halving the histogram
    # shuffles of the union DAG (round 6)
    hist = bk.groupBy("tbl", "bucket").agg(
        F.count(F.lit(1)).alias("_n_all"),
        F.count(F.when(F.col("vec_id") % _ND_XC_MOD == 0, 1)).alias("_n_ref"),
    )
    within = embedding_near_dup(
        emb,
        threshold=_ND_THRESHOLD,
        num_tables=_ND_TABLES,
        planes_per_table=_ND_PLANES,
        max_bucket_size=_ND_CAP,
        buckets=bk,
        ok_buckets=hist.filter(F.col("_n_all") <= _ND_CAP).select("tbl", "bucket"),
    ).select(F.lit("within").alias("mode"), "va", "vb", "cos")
    against = (
        embedding_dedup_against(
            emb.filter(F.col("vec_id") % _ND_XC_MOD != 0),
            emb.filter(F.col("vec_id") % _ND_XC_MOD == 0),
            threshold=_ND_THRESHOLD,
            num_tables=_ND_TABLES,
            planes_per_table=_ND_PLANES,
            max_bucket_size=_ND_CAP,
            df_buckets=bk.filter(F.col("vec_id") % _ND_XC_MOD != 0),
            ref_buckets=bk.filter(F.col("vec_id") % _ND_XC_MOD == 0),
            # the union keeps only flagged rows, so the per-vector left
            # join inside the operator is dead weight here (round 6)
            matched_only=True,
            ref_ok_buckets=hist.filter(F.col("_n_ref") <= _ND_CAP).select("tbl", "bucket"),
        )
        .filter("dup_of_ref")
        .select(
            F.lit("against").alias("mode"),
            F.col("vec_id").alias("va"),
            F.col("ref_id").alias("vb"),
            "cos",
        )
    )
    return within.unionByName(against)


def _semantic_dedup_oracle() -> str:
    """SemDeDup end-to-end in SQL: the same capped banded-LSH within-corpus
    pairs as _near_dup_oracle, then recursive-CTE reachability components
    (tractable here: the verified pair graph is tiny — 24 pairs at sf0.01,
    484 at sf0.1) and min-member representative per cluster."""
    cos = _emb_cos_sql()
    return f"""
    WITH RECURSIVE {_emb_bucket_ctes()},
    ok AS (SELECT tbl, bucket FROM u GROUP BY tbl, bucket HAVING count(*) <= {_ND_CAP}),
    c AS (SELECT u.vec_id, u.tbl, u.bucket FROM u JOIN ok USING (tbl, bucket)),
    cand AS (
      SELECT DISTINCT x.vec_id AS va, y.vec_id AS vb
      FROM c x JOIN c y ON x.tbl = y.tbl AND x.bucket = y.bucket AND x.vec_id < y.vec_id
    ),
    pairs AS (
      SELECT va, vb
      FROM cand JOIN embeddings ea ON ea.vec_id = cand.va
                JOIN embeddings eb ON eb.vec_id = cand.vb
      WHERE {cos} >= {_ND_THRESHOLD}
    ),
    sym AS (SELECT va AS a, vb AS b FROM pairs
            UNION ALL SELECT vb, va FROM pairs),
    walk(node, comp) AS (
      SELECT a, a FROM sym
      UNION
      SELECT s.b, w.comp FROM walk w JOIN sym s ON s.a = w.node
    ),
    comps AS (SELECT node, min(comp) AS comp FROM walk GROUP BY node)
    SELECT e.vec_id,
           coalesce(comps.comp, e.vec_id) AS cluster_id,
           (coalesce(comps.comp, e.vec_id) = e.vec_id) AS is_rep
    FROM embeddings e LEFT JOIN comps ON comps.node = e.vec_id
    """


@register("emb_semantic_dedup", _semantic_dedup_oracle())
def emb_semantic_dedup(spark, sf_dir):
    """SemDeDup-style semantic dedup: capped banded-LSH cosine pairs ->
    distributed connected components -> one canonical representative (min
    vec_id) per semantic cluster; the keep-set of an embedding-level dedup
    pass (similarity.semantic_dedup). Replaced emb_ivf_assign in the
    50-query gate — centroid assignment stays oracle-exercised inside
    emb_ivf_topk / emb_ivf_recall / emb_ivf_trained_topk."""
    from .similarity import semantic_dedup

    emb = _t(spark, sf_dir, "embeddings", materialize=True)
    return semantic_dedup(
        emb,
        threshold=_ND_THRESHOLD,
        num_tables=_ND_TABLES,
        planes_per_table=_ND_PLANES,
        max_bucket_size=_ND_CAP,
    )


# ---------------------------------------------------------------------------
# Multimodal plumbing over documents-as-media (multimodal.py)
# ---------------------------------------------------------------------------

_NIB = "strpos('0123456789abcdef', substr(sha256(text), {p}, 1)) - 1"


@register(
    "media_fingerprint",
    f"""
    SELECT 'm' || doc_id AS media_id, 'image' AS kind,
           length(text)::INTEGER AS n_bytes,
           sha256(text) AS content_sha,
           ({_NIB.format(p=1)}) * 16 + ({_NIB.format(p=2)}) AS b0
    FROM documents
    """,
)
def media_fingerprint(spark, sf_dir):
    """Multimodal feature extraction (Arrow-batched mapInPandas over
    size-balanced partitions) exercised over documents-as-media; b0 is the
    first deterministic-codec feature byte recovered from the float feature,
    so the whole decode -> feature path is hash-checked."""
    from .multimodal import extract_features, media_from_documents

    media = media_from_documents(_t(spark, sf_dir, "documents"))
    feats = extract_features(media)
    return feats.select(
        "media_id",
        "kind",
        "n_bytes",
        "content_sha",
        F.round(F.element_at("feature", 1) * 255, 0).cast("int").alias("b0"),
    )


def _media_resize_oracle(width: int = 4, height: int = 4) -> str:
    dim = min(width * height, 32)
    byte_terms = " + ".join(
        f"(({_NIB.format(p=2 * i + 1)}) * 16 + ({_NIB.format(p=2 * i + 2)}))" for i in range(dim)
    )
    return f"""
    SELECT 'm' || doc_id AS media_id, 'image' AS kind,
           {width} AS width, {height} AS height,
           {byte_terms} AS px_sum
    FROM documents
    """


@register("media_resize", _media_resize_oracle())
def media_resize(spark, sf_dir):
    """Multimodal resize plumbing (mapInPandas thumbnails); the oracle
    recomputes the stub codec's pixel-byte sum from sha256 hex."""
    from .multimodal import media_from_documents, resize_media

    media = media_from_documents(_t(spark, sf_dir, "documents"))
    resized = resize_media(media, width=4, height=4)
    return resized.select(
        "media_id",
        "kind",
        "width",
        "height",
        F.aggregate("thumb", F.lit(0), lambda acc, v: acc + v).alias("px_sum"),
    )


@register(
    "media_frame_sample",
    """
    WITH m AS (SELECT doc_id, text, (n_chars % 5) * 1000 AS dur FROM documents),
    f AS (
      SELECT doc_id, text, unnest(generate_series(0, dur - 1000, 1000)) AS frame_ms
      FROM m WHERE dur > 0
    )
    SELECT 'm' || doc_id AS media_id,
           (frame_ms / 1000)::INTEGER AS frame_idx,
           frame_ms::INTEGER AS frame_ms,
           sha256(text || '|' || frame_ms::VARCHAR) AS frame_sha
    FROM f
    """,
)
def media_frame_sample(spark, sf_dir):
    """Vectorized frame sampling (row->frames expansion inside Arrow batches)
    over documents-as-video; the frame hash replicates in SQL via
    sha256(content || big-endian ms)."""
    from .multimodal import media_from_documents, sample_frames

    media = media_from_documents(_t(spark, sf_dir, "documents"), kind="video")
    return sample_frames(media, every_ms=1000)


# ---------------------------------------------------------------------------
# Relational analytics (aggregation / join / window / sessionize)
# ---------------------------------------------------------------------------


@register(
    "q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem", rebalance=False)
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("sum_qty"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double").alias("sum_base_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@register(
    "q3_top_orders",
    """
    SELECT o.o_orderkey,
           CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
    FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
                    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'FURNITURE'
    GROUP BY o.o_orderkey
    ORDER BY revenue DESC, o_orderkey ASC
    LIMIT 10
    """,
)
def q3_top_orders(spark, sf_dir):
    c = _t(spark, sf_dir, "customer", rebalance=False).filter(F.col("c_mktsegment") == "FURNITURE")
    o = _t(spark, sf_dir, "orders", rebalance=False)
    li = _t(spark, sf_dir, "lineitem", rebalance=False)
    rev = F.col("l_extendedprice").cast("decimal(18,2)") * (F.lit(1) - F.col("l_discount").cast("decimal(18,2)"))
    return (
        F.broadcast(c)
        .join(o, c["c_custkey"] == o["o_custkey"])
        .join(li, li["l_orderkey"] == o["o_orderkey"])
        .groupBy("o_orderkey")
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


@register(
    "events_windowed",
    """
    SELECT event_type,
           CAST(floor(floor(epoch(ts)) / 600) AS BIGINT) AS win,
           count(*) AS cnt,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sval
    FROM events
    GROUP BY event_type, win
    """,
)
def events_windowed(spark, sf_dir):
    ev = _t(spark, sf_dir, "events", rebalance=False)
    win = F.floor(_epoch(F.col("ts")) / 600).cast("long")
    return ev.groupBy("event_type", win.alias("win")).agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sval"),
    )


@register(
    "events_sessionize",
    """
    WITH gaps AS (
      SELECT user_id, ts,
             CASE WHEN floor(epoch(ts)) - floor(epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))) > 1800
                    OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    )
    SELECT user_id, CAST(sum(new_session) AS BIGINT) AS n_sessions FROM gaps GROUP BY user_id
    """,
)
def events_sessionize(spark, sf_dir):
    ev = _t(spark, sf_dir, "events", rebalance=False)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag(_epoch(F.col("ts"))).over(w)
    new_session = F.when(prev.isNull() | (_epoch(F.col("ts")) - prev > 1800), 1).otherwise(0)
    return (
        ev.withColumn("new_session", new_session)
        .groupBy("user_id")
        .agg(F.sum("new_session").alias("n_sessions"))
    )


@register(
    "kg_edge_dedup",
    """
    SELECT relationship_label, min(first_seen) AS first_seen, count(*) AS n FROM (
      SELECT 'SUPPLIES' AS relationship_label,
             's' || l_suppkey || '_' || 'p' || l_partkey AS key,
             min(l_orderkey * 10 + l_linenumber) AS first_seen
      FROM lineitem GROUP BY l_suppkey, l_partkey
    ) GROUP BY relationship_label
    """,
)
def kg_edge_dedup(spark, sf_dir):
    """D2: per-(type, src_tgt-key) edge dedup through the dedup operator."""
    from .dedup import dedup_edges

    li = _t(spark, sf_dir, "lineitem", rebalance=False)
    staged = li.select(
        F.lit(None).cast("string").alias("relationship_id"),
        F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("source_id"),
        F.concat(F.lit("p"), F.col("l_partkey").cast("string")).alias("target_id"),
        F.lit("SUPPLIES").alias("relationship_label"),
        F.create_map().cast("map<string,string>").alias("props"),
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).cast("long").alias(SEQ),
    )
    res = dedup_edges(staged)
    return res.kept.groupBy("relationship_label").agg(
        F.min(SEQ).alias("first_seen"), F.count(F.lit(1)).alias("n")
    )


@register(
    "doc_dedup_rate",
    """
    SELECT lang, count(*) AS n_docs, count(DISTINCT text) AS n_unique,
           round(count(DISTINCT text) / count(*), 6) AS unique_ratio
    FROM documents GROUP BY lang
    """,
)
def doc_dedup_rate(spark, sf_dir):
    """Corpus dedup-rate summary per language."""
    docs = _t(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("text").alias("n_unique"),
        F.round(F.countDistinct("text") / F.count(F.lit(1)), 6).alias("unique_ratio"),
    )


# -- training-data hygiene: PII scrub, repetition, contamination --------------

# the synthetic corpus carries no natural PII, so a deterministic subset of
# docs (doc_id % 3 = 0) is enriched with synthetic email/phone/IP inline —
# IN BOTH ENGINES — so the scrub operator is exercised on real matches
# (plain strings: F.lit at module level would need an active SparkContext
# at import time)
_PII_PRE = " contact user"
_PII_POST = "@example.com or 555-123-4567 from 10.0.0.7 now"


def _pii_oracle() -> str:
    from .textops import PII_PATTERNS

    email, phone, ip = (PII_PATTERNS[k][0] for k in ("email", "phone", "ip"))
    # counts chain over the progressively scrubbed text, mirroring
    # textops.pii_scrub: n_{name} == tag occurrences in scrubbed
    return f"""
    WITH t AS (
      SELECT doc_id,
        CASE WHEN doc_id % 3 = 0
          THEN text || '{_PII_PRE}' || doc_id::VARCHAR || '{_PII_POST}'
          ELSE text END AS text
      FROM documents),
    s1 AS (SELECT doc_id, text,
      regexp_replace(text, '{email}', '[EMAIL]', 'g') AS t1 FROM t),
    s2 AS (SELECT doc_id, text, t1,
      regexp_replace(t1, '{phone}', '[PHONE]', 'g') AS t2 FROM s1)
    SELECT doc_id,
      len(regexp_extract_all(text, '{email}')) AS n_email,
      len(regexp_extract_all(t1, '{phone}')) AS n_phone,
      len(regexp_extract_all(t2, '{ip}')) AS n_ip,
      regexp_replace(t2, '{ip}', '[IP]', 'g') AS scrubbed
    FROM s2
    """


@register("doc_pii_scrub", _pii_oracle())
def doc_pii_scrub(spark, sf_dir):
    """PII detection + redaction over the (deterministically enriched)
    corpus; see textops.pii_scrub."""
    from .textops import pii_scrub

    docs = _t(spark, sf_dir, "documents")
    enriched = docs.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.col("text"), F.lit(_PII_PRE), F.col("doc_id").cast("string"), F.lit(_PII_POST)
            ),
        ).otherwise(F.col("text")),
    )
    return pii_scrub(enriched)


def _repetition_oracle() -> str:
    grams = (
        "[toks[i] || ' ' || toks[i + 1] for i in generate_series(1, greatest(len(toks) - 1, 0))]"
    )
    def frac(arr: str) -> str:
        # empty array -> 0.0, matching textops.repetition_signals
        return (
            f"CASE WHEN len({arr}) = 0 THEN 0.0 ELSE "
            f"round(1 - len(list_distinct({arr}))::DOUBLE / greatest(len({arr}), 1), 6) END"
        )

    return f"""
    WITH t AS (SELECT doc_id, string_split(text, chr(10)) AS lines,
                      string_split(text, ' ') AS toks FROM documents),
    g AS (SELECT doc_id, lines, {grams} AS grams FROM t)
    SELECT doc_id,
      {frac("lines")} AS dup_line_frac,
      {frac("grams")} AS dup_word_2gram_frac
    FROM g
    """


@register("doc_repetition", _repetition_oracle())
def doc_repetition(spark, sf_dir):
    """Gopher-style within-document repetition fractions."""
    from .textops import repetition_signals

    return repetition_signals(_t(spark, sf_dir, "documents"))


# near-dup CLUSTERING = banded-minhash pairs -> connected components -> one
# canonical doc per cluster. The query runs on a deterministic subsample
# (doc_id % 29 = 0): the synthetic corpus is near-dup-dense (7.5M pairs >=
# 0.5 at sf0.1), and the oracle's recursive-CTE reachability walk is
# O(sum |component|^2) rows — the subsample keeps the SQL oracle tractable
# while exercising the full pairs -> components -> representative DAG. The
# Spark path itself has no such limit (distributed min-label CC).
_CLUSTER_MOD = 29
_CLUSTER_T = 0.8


def _neardup_cluster_oracle() -> str:
    inter = "len(list_intersect(a.hs, b.hs))"
    jac = f"round({inter}::DOUBLE / (len(a.hs) + len(b.hs) - {inter}), 6)"
    return f"""
    WITH RECURSIVE {_band_cte(
        "string_split(text, ' ')",
        source=f"(SELECT * FROM documents WHERE doc_id % {_CLUSTER_MOD} = 0)",
    )},
    sub AS (SELECT doc_id FROM documents WHERE doc_id % {_CLUSTER_MOD} = 0),
    t AS (SELECT doc_id,
          list_distinct(list_transform(string_split(text, ' '), x -> ('0x' || substr(md5(x), 1, 8))::BIGINT)) AS hs
          FROM documents WHERE doc_id % {_CLUSTER_MOD} = 0),
    pairs AS (
      SELECT doc_a, doc_b
      FROM cand JOIN t a ON a.doc_id = cand.doc_a JOIN t b ON b.doc_id = cand.doc_b
      WHERE {jac} >= {_CLUSTER_T}
    ),
    sym AS (SELECT doc_a AS a, doc_b AS b FROM pairs
            UNION ALL SELECT doc_b, doc_a FROM pairs),
    walk(node, comp) AS (
      SELECT a, a FROM sym
      UNION
      SELECT s.b, w.comp FROM walk w JOIN sym s ON s.a = w.node
    ),
    comps AS (SELECT node, min(comp) AS comp FROM walk GROUP BY node)
    SELECT sub.doc_id, coalesce(comps.comp, sub.doc_id) AS cluster_id
    FROM sub LEFT JOIN comps ON comps.node = sub.doc_id
    """


@register("doc_neardup_clusters", _neardup_cluster_oracle())
def doc_neardup_clusters(spark, sf_dir):
    """Near-dup clusters: banded-minhash pairs -> connected components;
    cluster_id = min doc_id of the component, singletons are their own
    cluster. The canonical-representative step of a dedup pipeline."""
    from .operators.components import connected_components
    from .textops import minhash_banded_pairs

    docs = _t(spark, sf_dir, "documents", materialize=True).filter(F.col("doc_id") % _CLUSTER_MOD == 0)
    pairs = minhash_banded_pairs(docs, threshold=_CLUSTER_T)
    comp = connected_components(pairs.select("doc_a", "doc_b"), src="doc_a", dst="doc_b")
    return (
        docs.select("doc_id")
        .join(comp.withColumnRenamed("node", "doc_id"), "doc_id", "left")
        .select("doc_id", F.coalesce("comp", "doc_id").alias("cluster_id"))
    )


_MIX_RATES = {"de": 1.0, "en": 0.5, "fr": 0.1}


def _stratified_oracle() -> str:
    cases = " ".join(
        f"WHEN '{k}' THEN {int(v * 1_000_000)}" for k, v in sorted(_MIX_RATES.items())
    )
    h = "(('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 1000000)"
    return f"""
    SELECT doc_id, lang FROM documents
    WHERE {h} < CASE lang {cases} ELSE -1 END
    """


@register("doc_stratified_sample", _stratified_oracle())
def doc_stratified_sample(spark, sf_dir):
    """Deterministic data-mixing sample: per-language keep rates via a
    stateless hash cut (textops.stratified_sample)."""
    from .textops import stratified_sample

    docs = _t(spark, sf_dir, "documents")
    return stratified_sample(docs, _MIX_RATES).select("doc_id", "lang")


# cross-corpus dedup: "the new crawl" = doc_id % 7 != 0, "the existing
# training set" = doc_id % 7 == 0 — both derived from the corpus so the
# screen has true positives (the synthetic corpus is near-dup-dense)
_XC_MOD = 7
_XC_T = 0.8
_XC_BANDS, _XC_ROWS = 4, 3


@register(
    "doc_dedup_against_exact",
    f"""
    WITH ref AS (SELECT DISTINCT md5(text) AS k FROM documents WHERE doc_id % {_XC_MOD} = 0),
    c AS (SELECT doc_id, md5(text) AS k FROM documents WHERE doc_id % {_XC_MOD} != 0)
    SELECT c.doc_id, (ref.k IS NOT NULL) AS dup_of_ref
    FROM c LEFT JOIN ref ON c.k = ref.k
    """,
)
def doc_dedup_against_exact(spark, sf_dir):
    """Cross-corpus exact dedup (textops.exact_dedup_against): flag new
    docs whose text already exists in the reference corpus."""
    from .textops import exact_dedup_against

    docs = _t(spark, sf_dir, "documents")
    return exact_dedup_against(
        docs.filter(F.col("doc_id") % _XC_MOD != 0), docs.filter(F.col("doc_id") % _XC_MOD == 0)
    )


def _dedup_against_near_oracle() -> str:
    from .textops import _MINHASH_PRIME, minhash_affine_params

    seeds = _XC_BANDS * _XC_ROWS
    hash_list = "list_distinct(list_transform(string_split(text, ' '), x -> ('0x' || substr(md5(x), 1, 8))::BIGINT))"
    sig_cols = ", ".join(
        f"list_aggregate(list_transform(hs, h -> (h * {a} + {b}) % {_MINHASH_PRIME}), 'min') AS sig{i}"
        for i, (a, b) in enumerate(minhash_affine_params(seeds))
    )

    def bands_sql(src: str) -> str:
        return "\n      UNION ALL ".join(
            "SELECT doc_id, {b} AS band, {key} AS bkey FROM {src}".format(
                b=b,
                key=" || '|' || ".join(f"sig{b * _XC_ROWS + r}::VARCHAR" for r in range(_XC_ROWS)),
                src=src,
            )
            for b in range(_XC_BANDS)
        )

    inter = "len(list_intersect(a.hs, b.hs))"
    jac = f"{inter}::DOUBLE / (len(a.hs) + len(b.hs) - {inter})"
    return f"""
    WITH hc AS (SELECT doc_id, {hash_list} AS hs FROM documents
                WHERE doc_id % {_XC_MOD} != 0 AND len(string_split(text, ' ')) > 0),
    sc AS (SELECT doc_id, {sig_cols} FROM hc),
    bc AS ({bands_sql("sc")}),
    hr AS (SELECT doc_id, {hash_list} AS hs FROM documents
           WHERE doc_id % {_XC_MOD} = 0 AND len(string_split(text, ' ')) > 0),
    sr AS (SELECT doc_id, {sig_cols} FROM hr),
    br AS ({bands_sql("sr")}),
    cand AS (SELECT DISTINCT c.doc_id AS da, r.doc_id AS dr
             FROM bc c JOIN br r ON c.band = r.band AND c.bkey = r.bkey),
    ver AS (SELECT DISTINCT cand.da AS doc_id
            FROM cand JOIN hc a ON a.doc_id = cand.da JOIN hr b ON b.doc_id = cand.dr
            WHERE {jac} >= {_XC_T})
    SELECT c.doc_id, (ver.doc_id IS NOT NULL) AS dup_of_ref
    FROM (SELECT doc_id FROM documents WHERE doc_id % {_XC_MOD} != 0) c
    LEFT JOIN ver ON ver.doc_id = c.doc_id
    """


@register("doc_dedup_against_near", _dedup_against_near_oracle())
def doc_dedup_against_near(spark, sf_dir):
    """Cross-corpus near dedup (textops.near_dedup_against): banded-minhash
    candidates between the new-crawl and training corpora, exact hashed-set
    Jaccard verification."""
    from .textops import near_dedup_against

    docs = _t(spark, sf_dir, "documents", materialize=True)
    return near_dedup_against(
        docs.filter(F.col("doc_id") % _XC_MOD != 0),
        docs.filter(F.col("doc_id") % _XC_MOD == 0),
        threshold=_XC_T,
        bands=_XC_BANDS,
        rows_per_band=_XC_ROWS,
    )


@register(
    "doc_vocab_topk",
    """
    WITH tok AS (
      SELECT unnest(list_distinct(string_split(text, ' '))) AS token FROM documents
    )
    SELECT token, CAST(count(*) AS BIGINT) AS doc_freq
    FROM tok WHERE token != ''
    GROUP BY token
    ORDER BY doc_freq DESC, token ASC
    LIMIT 100
    """,
)
def doc_vocab_topk(spark, sf_dir):
    """Corpus vocabulary by document frequency (textops.vocab_topk)."""
    from .textops import vocab_topk

    return vocab_topk(_t(spark, sf_dir, "documents"), k=100)


@register(
    "doc_length_stats",
    """
    SELECT lang,
      CAST(count(*) AS BIGINT) AS n_docs,
      min(len(string_split(text, ' '))) AS min_tokens,
      max(len(string_split(text, ' '))) AS max_tokens,
      round(avg(len(string_split(text, ' '))), 6) AS avg_tokens,
      round(avg(length(text)), 6) AS avg_chars
    FROM documents GROUP BY lang
    """,
)
def doc_length_stats(spark, sf_dir):
    """Per-language corpus length audit (textops.length_stats)."""
    from .textops import length_stats

    return length_stats(_t(spark, sf_dir, "documents"))


_CONTAMINATION_PROBES = ["table window table", "batch window spark", "quantum zebra probe"]


# the join-path probe table is derived FROM THE CORPUS (substr of every
# 23rd doc), so the screen has true positives at every scale without
# external data; length 12 ~ a short eval n-gram
_CJ_LEN = 12


def _contamination_oracle() -> str:
    """Both contamination paths in one result, tagged by ``mode``:
    'inline' = broadcast-literal probes, 'join' = large-probe semi-join
    (merged so both fit the driver's 50-query gate)."""
    clauses = " OR ".join(f"contains(text, '{p}')" for p in _CONTAMINATION_PROBES)
    return f"""
    SELECT 'inline' AS mode, doc_id, ({clauses}) AS contaminated FROM documents
    UNION ALL
    SELECT 'join' AS mode, d.doc_id, (h.doc_id IS NOT NULL) AS contaminated
    FROM documents d LEFT JOIN (
      SELECT DISTINCT grams.doc_id FROM (
        SELECT doc_id, unnest(list_distinct(list_filter(
          [substr(text, i, {_CJ_LEN}) for i in generate_series(1, greatest(length(text) - {_CJ_LEN - 1}, 1))],
          s -> length(s) = {_CJ_LEN}))) AS g
        FROM documents) grams
      JOIN (
        SELECT DISTINCT substr(text, 5, {_CJ_LEN}) AS probe FROM documents
        WHERE doc_id % 23 = 0 AND length(substr(text, 5, {_CJ_LEN})) = {_CJ_LEN}) probes
      ON grams.g = probes.probe) h
    ON d.doc_id = h.doc_id
    """


@register("doc_contamination", _contamination_oracle())
def doc_contamination(spark, sf_dir):
    """Benchmark-contamination screens, both paths: mode='inline' is the
    broadcast-literal fast path (textops.contamination_check), mode='join'
    is the large-probe-set path (textops.contamination_join: corpus char
    n-grams LEFT SEMI joined against a probe table; exact `contains`
    semantics, document bodies never shuffle)."""
    from .textops import contamination_check, contamination_join

    docs = _t(spark, sf_dir, "documents", materialize=True)
    inline = contamination_check(docs, _CONTAMINATION_PROBES).select(
        F.lit("inline").alias("mode"), "doc_id", "contaminated"
    )
    probes = (
        docs.filter(F.col("doc_id") % 23 == 0)
        .select(F.substring("text", 5, _CJ_LEN).alias("probe"))
        .filter(F.length("probe") == _CJ_LEN)
        .distinct()
    )
    joined = contamination_join(docs, probes).select(
        F.lit("join").alias("mode"), "doc_id", "contaminated"
    )
    return inline.unionByName(joined)


@register(
    "kg_graph_ops",
    """
    WITH multi AS (
      SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
      HAVING count(DISTINCT l_partkey) >= 2
    )
    SELECT DISTINCT 'hyperedges' AS op, 'h' || l.l_orderkey AS c1,
           'ORDER_PARTS' AS c2, 'p' || l.l_partkey AS c3
    FROM lineitem l JOIN multi m ON l.l_orderkey = m.l_orderkey
    UNION ALL
    SELECT 'remove_node' AS op, 'c' || o_custkey AS c1, 'o' || o_orderkey AS c2,
           'PLACED' AS c3
    FROM orders WHERE o_custkey NOT IN (7, 13)
    UNION ALL
    SELECT 'subgraph' AS op, 'n' || n_nationkey AS c1, 'r' || n_regionkey AS c2,
           'IN_REGION' AS c3
    FROM nation WHERE n_regionkey = 1
    UNION ALL
    SELECT 'edges_between' AS op, 'c' || o_custkey AS c1, 'o' || o_orderkey AS c2,
           'PLACED' AS c3
    FROM orders WHERE o_custkey = 7
    """,
)
def kg_graph_ops(spark, sf_dir):
    """G1 graph CRUD surface in one tagged union (merged to fit the
    driver's 50-query gate): hyperedge membership, remove_node, induced
    subgraph, and get_edges_between, each through the SparkGraph layer."""

    def tag(df, op, cols):
        return df.select(
            F.lit(op).alias("op"),
            F.col(cols[0]).alias("c1"),
            F.col(cols[1]).alias("c2"),
            F.col(cols[2]).alias("c3"),
        )

    return (
        tag(_kg_hyperedges(spark, sf_dir), "hyperedges", ["hyperedge_id", "hyperedge_type", "node_id"])
        .unionByName(tag(_kg_remove_node(spark, sf_dir), "remove_node", ["source_id", "target_id", "relationship_label"]))
        .unionByName(tag(_kg_subgraph(spark, sf_dir), "subgraph", ["source_id", "target_id", "relationship_label"]))
        .unionByName(tag(_kg_edges_between(spark, sf_dir), "edges_between", ["source_id", "target_id", "relationship_label"]))
    )


def _kg_hyperedges(spark, sf_dir):
    """G1 hyperedges: per-order hyperedge over its distinct parts, expanded
    back through SparkGraph.hyperedge_membership (reference HyperEdge API,
    _graph.py:99-124, 415-491)."""
    li = _t(spark, sf_dir, "lineitem", rebalance=False)
    part_id = F.concat(F.lit("p"), F.col("l_partkey").cast("string"))
    hyper = (
        li.groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set(part_id)).alias("node_ids"))
        .filter(F.size("node_ids") >= 2)
        .select(
            F.concat(F.lit("h"), F.col("l_orderkey").cast("string")).alias("hyperedge_id"),
            F.lit("ORDER_PARTS").alias("hyperedge_type"),
            "node_ids",
            F.create_map().cast("map<string,string>").alias("props"),
        )
    )
    nodes = li.select(part_id.alias("node_id"), F.lit("part").alias("node_label")).distinct()
    g = SparkGraph(
        nodes,
        nodes.limit(0).select(
            F.col("node_id").alias("source_id"),
            F.col("node_id").alias("target_id"),
            F.lit("x").alias("relationship_label"),
        ),
    ).add_hyperedges(hyper)
    return g.hyperedge_membership()


def _kg_remove_node(spark, sf_dir):
    """G1 removal: remove_node drops the nodes and every touching edge via
    anti-joins (reference _graph.py:215-255)."""
    orders = _t(spark, sf_dir, "orders", rebalance=False)
    edges = orders.select(
        F.concat(F.lit("c"), "o_custkey").alias("source_id"),
        F.concat(F.lit("o"), "o_orderkey").alias("target_id"),
        F.lit("PLACED").alias("relationship_label"),
    )
    g = SparkGraph(
        edges.select(F.col("source_id").alias("node_id"), F.lit("customer").alias("node_label")),
        edges,
    )
    return g.remove_node(["c7", "c13"]).edges


def _kg_subgraph(spark, sf_dir):
    """G1 subgraph: induced edges where BOTH endpoints are kept
    (reference _graph.py:631-655)."""
    nation = _t(spark, sf_dir, "nation", rebalance=False)
    edges = nation.select(
        F.concat(F.lit("n"), "n_nationkey").alias("source_id"),
        F.concat(F.lit("r"), "n_regionkey").alias("target_id"),
        F.lit("IN_REGION").alias("relationship_label"),
    )
    nodes = (
        edges.select(F.col("source_id").alias("node_id"))
        .unionByName(edges.select(F.col("target_id").alias("node_id")))
        .distinct()
        .select("node_id", F.lit("geo").alias("node_label"))
    )
    g = SparkGraph(nodes, edges)
    keep_ids = [r["n_nationkey"] for r in nation.filter(F.col("n_regionkey") == 1).collect()]
    keep = {f"n{k}" for k in keep_ids} | {"r1"}
    return g.get_subgraph(keep).edges


def _kg_edges_between(spark, sf_dir):
    """G1: get_edges_between via the graph layer (all edges out of c7)."""
    orders = _t(spark, sf_dir, "orders", rebalance=False)
    edges = orders.select(
        F.concat(F.lit("c"), "o_custkey").alias("source_id"),
        F.concat(F.lit("o"), "o_orderkey").alias("target_id"),
        F.lit("PLACED").alias("relationship_label"),
    )
    g = SparkGraph(
        edges.select(F.col("source_id").alias("node_id"), F.lit("customer").alias("node_label")),
        edges,
    )
    # union of per-target get_edges_between == simple source filter; use the
    # layer's edge accessor shape
    return g.edges.filter(F.col("source_id") == "c7")
