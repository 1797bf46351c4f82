"""End-to-end KG-construction pipeline: the north-rule DAG.

read transcripts -> mention detection (mapInPandas) -> entity linking +
canonicalization (blocked similarity join + connected components) ->
triple construction -> schema translate (broadcast join) -> dedup (shuffle)
-> Neo4j-admin-import batch layout, with per-partition lineage and metrics
tables and checkpoint-resume per stage.

Checkpoint model. Stages land in ``{run_dir}/{stage}`` parquet in this
order: ``mentions``, ``linked``, ``nodes``, ``edges``. The nodes/edges
checkpoints are written straight from the translated frames (rel-as-node
dedup applied), and the Neo4j CSVs are then emitted FROM those checkpoints
read back, so each corpus-scale aggregate runs once, inside its own
checkpoint write. A ``{run_dir}/csv/_SUCCESS`` marker lands after the
import-call script; it is the only "CSVs already written" signal. On
resume, stages with a ``_SUCCESS`` marker are read back instead of
recomputed (their DataFrames are never built), and the CSVs are
re-emitted — after wiping stale part files — unless the csv marker AND
both the nodes and edges checkpoints it was written from are present.

Lineage rows (stage, conv_id/node/source hash bucket, rows) are observed on
the checkpoint writes themselves (``DataFrame.observe``, no extra job); a
read-back stage is counted with one aggregate instead. The lineage and
metrics tables are tens of driver-side rows, written with pyarrow.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field
from datetime import datetime, timezone
from typing import Callable, Optional

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .extract import extract_mentions
from .linking import link_mentions
from .mapping import SchemaMapping
from .model import SEQ
from .ontology import NullOntology
from .translate import SparkTranslator, _json_str
from .writer.neo4j import Neo4jBatchWriter

DEFAULT_SCHEMA = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "config", "transcripts_schema.yaml")

# embedded fallback for spark-submit --py-files deployments where the repo's
# config/ directory is not on the local filesystem (zip import)
DEFAULT_SCHEMA_DICT: dict = {
    "protein": {
        "represented_as": "node",
        "preferred_id": "canon",
        "input_label": "protein",
        "properties": {"name": "str"},
    },
    "disease": {
        "represented_as": "node",
        "preferred_id": "canon",
        "input_label": "disease",
        "properties": {"name": "str"},
    },
    "protein protein interaction": {
        "represented_as": "edge",
        "label_as_edge": "INTERACTS_WITH",
        "input_label": "protein_protein",
        "properties": {"turns": "int"},
    },
    "protein disease association": {
        "represented_as": "edge",
        "label_as_edge": "LINKED_TO",
        "input_label": "protein_disease",
        "properties": {"turns": "int"},
    },
}

_LINEAGE_BUCKETS = 16
_LINEAGE_SCHEMA = pa.schema(
    [
        ("stage", pa.string()),
        ("partition_key", pa.string()),
        ("status", pa.string()),
        ("rows", pa.int64()),
        ("ts", pa.timestamp("s", tz="UTC")),
    ]
)
_METRICS_SCHEMA = pa.schema(
    [("metric", pa.string()), ("value", pa.float64()), ("ts", pa.timestamp("us", tz="UTC"))]
)


def load_default_schema_mapping() -> SchemaMapping:
    """The default transcripts schema, resolved across deployment modes:

    1. the repo checkout's ``config/transcripts_schema.yaml``;
    2. a ``--py-files biocypher_spark.zip`` deployment, where the yaml
       travels INSIDE the zip (``os.path.exists`` is False for zip members,
       so it is read through ``zipfile``) — local and cluster runs share one
       schema file instead of silently diverging;
    3. the embedded ``DEFAULT_SCHEMA_DICT`` as the last resort.
    """
    if os.path.exists(DEFAULT_SCHEMA):
        return SchemaMapping(DEFAULT_SCHEMA)
    if ".zip" in DEFAULT_SCHEMA:
        zpath, _, member = DEFAULT_SCHEMA.partition(".zip")
        try:
            import zipfile

            import yaml

            with zipfile.ZipFile(zpath + ".zip") as zf:
                data = yaml.safe_load(zf.read(member.lstrip("/\\").replace(os.sep, "/")))
            if data:
                return SchemaMapping(schema=data)
        except (OSError, KeyError, zipfile.BadZipFile):
            # BadZipFile is a direct Exception subclass (not OSError): a
            # truncated py-files artifact must still fall through to the
            # embedded schema instead of crashing pipeline construction
            pass
    return SchemaMapping(schema={k: dict(v) for k, v in DEFAULT_SCHEMA_DICT.items()})


@dataclass
class PipelineResult:
    nodes: DataFrame
    edges: DataFrame
    mentions: DataFrame
    missing_types: DataFrame
    duplicate_nodes: Optional[DataFrame]
    duplicate_edges: Optional[DataFrame]
    lineage_path: str
    counts: dict = field(default_factory=dict)
    metrics_path: str = ""

    def triples(self) -> DataFrame:
        """(subj, pred, obj) view of the constructed graph."""
        return self.edges.select(
            F.col("source_id").alias("subj"),
            F.col("relationship_label").alias("pred"),
            F.col("target_id").alias("obj"),
        )


class KGPipeline:
    """Checkpoint-resumable transcripts -> knowledge-graph pipeline."""

    def __init__(
        self,
        spark: SparkSession,
        output_directory: str,
        schema_config_path: str = DEFAULT_SCHEMA,
        run_dir: Optional[str] = None,
        strict_mode: bool = False,
        link_threshold: float = 0.35,
    ):
        from .writer.base import require_local_dir

        # the CSV batch layout, resume markers, stale-part wipe, and the
        # lineage/metrics tables all go through the LOCAL filesystem
        # (os.path/glob/pyarrow), mirroring the reference: neo4j-admin
        # import itself consumes a local directory.
        self.spark = spark
        self.outdir = require_local_dir(output_directory, "pipeline batch")
        self.run_dir = (
            require_local_dir(run_dir, "pipeline run") if run_dir else os.path.join(output_directory, "_run")
        )
        os.makedirs(self.run_dir, exist_ok=True)
        if schema_config_path == DEFAULT_SCHEMA:
            self.mapping = load_default_schema_mapping()
        else:
            self.mapping = SchemaMapping(schema_config_path)
        self.translator = SparkTranslator(spark, NullOntology(self.mapping), strict_mode=strict_mode)
        self.link_threshold = link_threshold
        self._lineage_rows: list[tuple] = []

    # -- checkpoint helpers -------------------------------------------------

    def _stage_path(self, stage: str) -> str:
        return os.path.join(self.run_dir, stage)

    def _is_done(self, stage: str) -> bool:
        return os.path.exists(os.path.join(self._stage_path(stage), "_SUCCESS"))

    def _mark_done(self, stage: str) -> None:
        os.makedirs(self._stage_path(stage), exist_ok=True)
        with open(os.path.join(self._stage_path(stage), "_SUCCESS"), "w"):
            pass

    def _checkpoint(
        self, stage: str, build: Callable[[], DataFrame], resume: bool, key_col: str = "conv_id"
    ) -> DataFrame:
        """Materialize a stage (or read it back when resuming) and record its
        lineage. ``build`` runs only when the stage is (re)computed."""
        path = self._stage_path(stage)
        if resume and self._is_done(stage):
            back = self.spark.read.parquet(path)
            self._record_lineage(stage, back, key_col)
            return back
        df = build()
        obs = Observation()
        if key_col in df.columns:
            bucket = F.pmod(F.xxhash64(key_col), F.lit(_LINEAGE_BUCKETS))
            counts = [
                F.count(F.when(F.col("_lineage_bucket") == b, 1)).alias(f"bucket={b}")
                for b in range(_LINEAGE_BUCKETS)
            ]
            observed = df.withColumn("_lineage_bucket", bucket).observe(obs, *counts).drop("_lineage_bucket")
        else:
            observed = df.observe(obs, F.count(F.lit(1)).alias("all"))
        observed.write.mode("overwrite").parquet(path)
        ts = int(time.time())
        # empty buckets are skipped, as the groupBy in _record_lineage does
        self._lineage_rows += [(stage, k, "done", n, ts) for k, n in obs.get.items() if n or k == "all"]
        # the known schema spares a schema-inference job per read-back
        return self.spark.read.schema(df.schema).parquet(path)

    def _wipe_stale_parts(self) -> None:
        """Remove {Label}-part*.csv left by a partially-completed previous run
        (the pipeline owns its output directory)."""
        import glob

        for f in glob.glob(os.path.join(self.outdir, "*-part*.csv")):
            os.remove(f)

    def _record_lineage(self, stage: str, df: DataFrame, key_col: str = "conv_id") -> None:
        """Per-partition lineage of a read-back stage: rows per key hash bucket."""
        if key_col not in df.columns:
            self._lineage_rows.append((stage, "all", "done", df.count(), int(time.time())))
            return
        rows = (
            df.groupBy(F.pmod(F.xxhash64(key_col), F.lit(_LINEAGE_BUCKETS)).alias("bucket"))
            .count()
            .collect()
        )
        for r in rows:
            self._lineage_rows.append((stage, f"bucket={r['bucket']}", "done", r["count"], int(time.time())))

    def _write_table(self, name: str, rows: list[tuple], schema: pa.Schema) -> str:
        """Overwrite ``{run_dir}/{name}`` with one driver-written parquet file."""
        path = os.path.join(self.run_dir, name)
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        table = pa.Table.from_pylist([dict(zip(schema.names, r)) for r in rows], schema=schema)
        # microsecond UTC timestamps read back in Spark as TimestampType
        pq.write_table(table, os.path.join(path, "part-00000.parquet"), coerce_timestamps="us")
        self._mark_done(name)
        return path

    def _flush_metrics(self, counts: dict, stage_secs: dict) -> str:
        """Metrics table (north rule: lineage + metrics tables): one row per
        (metric, value) — row counts per stage plus wall seconds per stage."""
        rows = [(f"rows_{k}", float(v)) for k, v in counts.items()]
        rows += [(f"sec_{k}", round(float(v), 3)) for k, v in stage_secs.items()]
        now = datetime.now(timezone.utc)
        return self._write_table("metrics", [(*r, now) for r in rows], _METRICS_SCHEMA)

    def _flush_lineage(self) -> str:
        return self._write_table("lineage", self._lineage_rows, _LINEAGE_SCHEMA)

    # -- triple construction --------------------------------------------------

    def _build_tuples(self, linked: DataFrame) -> tuple[DataFrame, DataFrame]:
        return build_triple_tuples(linked, edge_labels=edge_input_labels(self.mapping))

    # -- run --------------------------------------------------------------------

    def run(self, transcripts: DataFrame, resume: bool = False, patterns: Optional[dict] = None) -> PipelineResult:
        # fresh lineage per run(): a retry on the same object must not carry
        # the failed attempt's rows (per-bucket counts would double and the
        # coverage check could no longer tell once-processed from twice)
        self._lineage_rows = []
        stage_secs: dict[str, float] = {}
        t0 = time.time()
        mentions = self._checkpoint("mentions", lambda: extract_mentions(transcripts, patterns), resume)
        stage_secs["mentions"] = time.time() - t0

        t0 = time.time()
        # link_mentions runs canonicalize's driver collect when called, so
        # it is built only when the stage is recomputed
        linked = self._checkpoint("linked", lambda: link_mentions(mentions, self.link_threshold), resume)
        stage_secs["linked"] = time.time() - t0

        t0 = time.time()
        node_tuples, edge_tuples = self._build_tuples(linked)
        tn = self.translator.translate_nodes(node_tuples)
        te = self.translator.translate_edges(edge_tuples)
        missing = tn.missing.unionByName(te.missing)

        # checkpoints must agree with the emitted CSVs, including for
        # rel-as-node schemas: apply the writer's first-wins dedup of reified
        # nodes + helper-edge rebuild (dedup_rel_as_nodes is the D3 logic
        # write_edges applies), so the nodes checkpoint carries the reified
        # nodes and the edges checkpoint only the SURVIVING helper edges.
        # Skipped when no edge tuple can be reified: translate_edges always
        # returns a ran_nodes frame, empty by construction in that case.
        nodes_out, edges_out, ran_dups = tn.nodes, te.edges, None
        if tuples_reify(self.translator):
            from .dedup import dedup_rel_as_nodes

            ran_nodes_kept, ran_edges_kept, ran_dups = dedup_rel_as_nodes(te.ran_nodes, te.ran_edges)
            nodes_out = nodes_out.unionByName(ran_nodes_kept)
            edges_out = edges_out.unionByName(ran_edges_kept)

        # the CSVs are only reusable alongside the checkpoints they were
        # emitted from; otherwise drop the marker BEFORE rewriting those
        # checkpoints, so a crash in between re-emits on the next resume
        csv_done = resume and self._is_done("nodes") and self._is_done("edges") and self._is_done("csv")
        if not csv_done:
            shutil.rmtree(self._stage_path("csv"), ignore_errors=True)
        nodes = self._checkpoint("nodes", lambda: nodes_out, resume, key_col="node_id")
        edges = self._checkpoint("edges", lambda: edges_out, resume, key_col="source_id")

        writer = Neo4jBatchWriter(
            self.spark,
            self.translator,
            self.outdir,
            strict_mode=False,
            validate_props=False,
            # scale path: content-identical part files without the per-label
            # global-rank shuffle; inputs are unique by construction so the
            # cross-call seen-id bookkeeping is skipped too
            ordered_parts=False,
            track_seen=False,
        )
        if not csv_done:
            # part numbering continues across runs, so parts left by a
            # crashed run (or a plain re-run into the same outdir) would
            # survive beside the new emission and the import-call glob
            # {Label}-part.* would feed duplicated rows to neo4j-admin
            # import: wipe them first
            self._wipe_stale_parts()
            writer.write_nodes(nodes)
            writer.write_edges(edges)
            writer.write_import_call()
            self._mark_done("csv")
        duplicate_edges = writer.get_duplicate_edges()
        if ran_dups is not None and not csv_done:
            # reified nodes dropped by the dedup above, recorded as the
            # writer records its own rel-as-node duplicates
            duplicate_edges = ran_dups if duplicate_edges is None else duplicate_edges.unionByName(ran_dups).distinct()
        lineage_path = self._flush_lineage()
        stage_secs["write"] = time.time() - t0

        counts = {
            stage: sum(r[3] for r in self._lineage_rows if r[0] == stage)
            for stage in ("mentions", "nodes", "edges")
        }
        metrics_path = self._flush_metrics(counts, stage_secs)
        return PipelineResult(
            nodes=nodes,
            edges=edges,
            mentions=mentions,
            missing_types=missing,
            duplicate_nodes=writer.get_duplicate_nodes(),
            duplicate_edges=duplicate_edges,
            lineage_path=lineage_path,
            counts=counts,
            metrics_path=metrics_path,
        )


def tuples_reify(translator: SparkTranslator) -> bool:
    """True when translate_edges can reify an edge tuple built by
    build_triple_tuples. Those tuples are labelled ``{la}_{lb}`` (two
    mention labels joined by "_"), so only a reified input label containing
    "_" can match one; otherwise the translated ran_nodes / ran_edges frames
    are empty by construction."""
    return any("_" in label for label in translator.reified_input_labels())


def edge_input_labels(mapping: SchemaMapping) -> set:
    """Every input_label the schema can route as an edge class (plain
    ``represented_as: edge``, ``label_as_edge``, or rel-as-node classes
    carrying source/target)."""
    out: set = set()
    for conf in mapping.extended_schema.values():
        is_edge = (
            conf.get("represented_as") == "edge"
            or conf.get("label_as_edge") is not None
            or ("source" in conf and "target" in conf)
        )
        if not is_edge:
            continue
        il = conf.get("input_label")
        for lab in il if isinstance(il, list) else [il]:
            if lab:
                out.add(lab)
    return out


def build_triple_tuples(linked: DataFrame, edge_labels: "set | None" = None) -> tuple[DataFrame, DataFrame]:
    """Linked mentions -> staged node/edge tuple frames.

    Node id = canonical id NAMESPACED by input label ("label:canon"):
    canonicalize() merges surfaces label-agnostically, so without the
    namespace one canonical id appearing under two labels would yield two
    node rows with identical id AND identical content-hash SEQ — the
    writer's first-wins window would then pick an arbitrary label. The
    namespace makes ids collision-free and keeps inputs unique by
    construction (the premise behind track_seen=False). Name =
    lexicographically-first surface form of the cluster. Edges =
    within-turn co-occurrence, aggregated with an evidence count
    (`turns`), ids synthesized as src->tgt so edge dedup (D2) is a
    no-op by construction.
    """
    ns_id = F.concat_ws(":", F.col("input_label"), F.col("canonical_id"))
    nodes = (
        linked.groupBy("canonical_id", "input_label")
        .agg(F.min("surface").alias("name"))
        .select(
            ns_id.alias("id"),
            "input_label",
            F.map_from_arrays(F.array(F.lit("name")), F.array(_json_str(F.col("name")))).alias("props"),
            F.xxhash64(ns_id).alias(SEQ),
        )
    )

    from .linking import cooccurrence_pairs

    # edge class + orientation are SCHEMA-DRIVEN, not hardcoded to the
    # default protein/disease gazetteer: a cross-label pair orients toward
    # whichever "{la}_{lb}" direction the schema declares as an edge
    # input_label (protein_disease in the default schema), falling back to
    # deterministic label-alphabetical order for undeclared pairs — those
    # then surface in the translator's missing-type metrics instead of
    # silently vanishing or being mislabeled. Same-label pairs are always
    # emitted as "{la}_{la}" (declared or not) for the same reason.
    if edge_labels is None:
        edge_labels = edge_input_labels(load_default_schema_mapping())
    known = F.array(*[F.lit(l) for l in sorted(edge_labels)]) if edge_labels else F.array().cast("array<string>")

    pairs = cooccurrence_pairs(linked)
    ns_a = F.concat_ws(":", F.col("la"), F.col("ca"))
    ns_b = F.concat_ws(":", F.col("lb"), F.col("cb"))
    lab_ab = F.concat_ws("_", F.col("la"), F.col("lb"))
    lab_ba = F.concat_ws("_", F.col("lb"), F.col("la"))
    ab_known = F.array_contains(known, lab_ab)
    ba_known = F.array_contains(known, lab_ba)
    use_ab = ab_known | (~ba_known & (F.col("la") <= F.col("lb")))
    oriented = (
        pairs.select(
            F.when(use_ab, ns_a).otherwise(ns_b).alias("src"),
            F.when(use_ab, ns_b).otherwise(ns_a).alias("tgt"),
            F.when(use_ab, lab_ab).otherwise(lab_ba).alias("input_label"),
        )
        .groupBy("src", "tgt", "input_label")
        .agg(F.count(F.lit(1)).alias("turns"))
    )
    edges = oriented.select(
        F.concat("src", F.lit("_"), "tgt").alias("id"),
        "src",
        "tgt",
        "input_label",
        F.map_from_arrays(F.array(F.lit("turns")), F.array(F.col("turns").cast("string"))).alias("props"),
        F.xxhash64("src", "tgt", "input_label").alias(SEQ),
    )
    return nodes, edges
