"""BioCypherSpark facade: the reference's ``BioCypher`` entry-point surface
(/root/reference/biocypher/_core.py:81-793) re-expressed over Spark.

Accepts either reference-style entity tuples (node 3-tuples / edge
4-or-5-tuples, auto-dispatched on tuple length like ``translate_entities``,
/root/reference/biocypher/_translate.py:60-73) or already-staged DataFrames.
Offline mode writes the Neo4j admin-import batch layout; online/in-memory
mode accumulates a dict of per-type DataFrames (``add``/``get_kg``/
``to_df``)."""

from __future__ import annotations

import os
from typing import Iterable, Optional, Union

import yaml
from pyspark.sql import DataFrame, SparkSession

from .inmemory import InMemoryKG, PandasCSVWriter
from .mapping import SchemaMapping
from .model import edges_from_tuples, nodes_from_tuples
from .ontology import NullOntology, Ontology
from .translate import SparkTranslator
from .writer.neo4j import Neo4jBatchWriter


class BioCypherSpark:
    def __init__(
        self,
        spark: SparkSession,
        dbms: str = "neo4j",
        offline: bool = True,
        output_directory: str = "biocypher-out",
        schema_config_path: Optional[str] = None,
        schema: Optional[dict] = None,
        head_ontology_parent_map: Optional[dict] = None,
        head_ontology_file: Optional[str] = None,
        head_ontology: Optional[dict] = None,
        tail_ontologies: Optional[dict] = None,
        strict_mode: bool = False,
        session_factory=None,
        **writer_kwargs,
    ):
        self.spark = spark
        self.dbms = dbms
        self.offline = offline
        self.outdir = output_directory
        self.strict_mode = strict_mode
        self.session_factory = session_factory
        self.mapping = SchemaMapping(config_file=schema_config_path, schema=schema)
        if head_ontology:
            # reference-style dict config: {"url", "root_node", ...} with
            # optional tail ontologies grafted at join nodes
            from .ontology import hybrid_ontology

            self.ontology = hybrid_ontology(self.mapping, head_ontology, tail_ontologies)
        elif head_ontology_parent_map or head_ontology_file:
            self.ontology = Ontology(
                self.mapping, parent_map=head_ontology_parent_map, hierarchy_file=head_ontology_file
            )
        else:
            # headless is the default here (no network, no rdflib); reference
            # behaviour per NullOntology (_ontology.py:899-949)
            self.ontology = NullOntology(self.mapping)
        self.translator = SparkTranslator(spark, self.ontology, strict_mode=strict_mode)
        self._writer: Optional[Neo4jBatchWriter] = None
        self._writer_kwargs = writer_kwargs
        self._kg: Optional[InMemoryKG] = None
        self._online_writer = None
        self._missing: dict[str, int] = {}
        self.downloader = None  # lazily a download.Downloader (S2)

    # -- lazy components -----------------------------------------------------

    @property
    def writer(self):
        """Batch writer selected by ``dbms`` (reference ``get_writer``,
        output/write/_get_writer.py:61-96)."""
        if self._writer is None:
            from .writer.registry import get_writer

            self._writer = get_writer(
                self.dbms,
                self.spark,
                self.translator,
                self.outdir,
                strict_mode=self.strict_mode,
                **self._writer_kwargs,
            )
        return self._writer

    @property
    def kg(self) -> InMemoryKG:
        if self._kg is None:
            self._kg = InMemoryKG(self.translator)
        return self._kg

    # -- input staging ----------------------------------------------------------

    def _stage(self, entities: Union[DataFrame, Iterable], kind: Optional[str] = None):
        if isinstance(entities, DataFrame):
            from .model import with_seq

            # a user-staged frame without the arrival-order column would
            # crash deep in translate/dedup on UNRESOLVED_COLUMN `_seq`
            return with_seq(entities), (kind or ("edge" if "src" in entities.columns else "node"))
        entities = list(entities)
        if not entities:
            return None, kind
        first = entities[0]
        if len(first) < 4:
            return nodes_from_tuples(self.spark, entities), "node"
        return edges_from_tuples(self.spark, entities), "edge"

    def _accumulate_missing(self, missing_df: DataFrame) -> None:
        for r in missing_df.collect():
            self._missing[r["input_label"]] = self._missing.get(r["input_label"], 0) + r["count"]

    # -- offline batch writes (S3) ------------------------------------------------

    def _sized_writer(self, batch_size: int):
        """The writer, with the batch-CSV family's rows per part file set."""
        w = self.writer
        if isinstance(w, Neo4jBatchWriter):
            w.batch_size = int(batch_size)
        return w

    def write_nodes(self, entities, batch_size: int = int(1e6), force: bool = False) -> bool:
        staged, _ = self._stage(entities, "node")
        if staged is None:
            return True
        out = self.translator.translate_nodes(staged)
        self._accumulate_missing(out.missing)
        w = self._sized_writer(batch_size)
        if isinstance(w, Neo4jBatchWriter):
            return w.write_nodes(out.nodes, force=force)
        return bool(w.write_nodes(out.nodes))

    def write_edges(self, entities, batch_size: int = int(1e6)) -> bool:
        """Every sink takes the translated edges whole: its admission step
        splits off the rel-as-node rows (``dedup.Admission.edges``)."""
        staged, _ = self._stage(entities, "edge")
        if staged is None:
            return True
        out = self.translator.translate_edges(staged)
        self._accumulate_missing(out.missing)
        return bool(self._sized_writer(batch_size).write_edges(out))

    def write_import_call(self) -> str:
        return self.writer.write_import_call()

    # -- in-memory KG (S11/S12) ------------------------------------------------------

    def add(self, entities) -> None:
        staged, kind = self._stage(entities)
        if staged is None:
            return
        if kind == "edge":
            out = self.translator.translate_edges(staged)
            self._accumulate_missing(out.missing)
            self.kg.add_edges(out)
        else:
            out = self.translator.translate_nodes(staged)
            self._accumulate_missing(out.missing)
            self.kg.add_nodes(out.nodes)

    add_nodes = add
    add_edges = add

    # -- online upserts (S14 facade; reference merge_nodes/merge_edges,
    # /root/reference/biocypher/_core.py:517-549) ------------------------------

    @property
    def online_writer(self):
        if self._online_writer is None:
            if self.session_factory is None:
                raise ValueError(
                    "merge_nodes/merge_edges in online mode need a Bolt "
                    "session_factory (e.g. lambda: GraphDatabase.driver(...).session())"
                )
            from .writer.neo4j_online import Neo4jOnlineWriter

            self._online_writer = Neo4jOnlineWriter(self.session_factory)
        return self._online_writer

    def merge_nodes(self, entities) -> bool:
        """Upsert nodes. Online neo4j mode streams idempotent apoc.merge
        upserts through the Bolt connector; otherwise identical to ``add``
        (the reference's merge_* are aliases of _add_* too)."""
        if not self.offline and self.dbms == "neo4j" and self.session_factory is not None:
            staged, _ = self._stage(entities, "node")
            if staged is None:
                return True
            out = self.translator.translate_nodes(staged)
            self._accumulate_missing(out.missing)
            self.online_writer.write_nodes(out.nodes)
            return True
        if self.offline:
            # reference parity: merge_* are _add_* aliases, and _add_nodes
            # writes the batch layout when offline (_core.py:375-413) —
            # routing to the in-memory KG here would silently skip the
            # part files an adapter expects before write_import_call()
            return self.write_nodes(entities)
        self.add(entities)
        return True

    def merge_edges(self, entities) -> bool:
        """Upsert edges (and rel-as-node triplets) online; offline they
        write the batch layout like the reference's _add_edges alias."""
        if not self.offline and self.dbms == "neo4j" and self.session_factory is not None:
            staged, _ = self._stage(entities, "edge")
            if staged is None:
                return True
            out = self.translator.translate_edges(staged)
            self._accumulate_missing(out.missing)
            # the translator reifies every edge whose class is
            # represented_as: node, which the schema alone cannot rule out
            # for arbitrary input; helper edges ride in the plain edge write
            # (idempotent upserts: nothing to dedup)
            ran_nodes, edges = out.flattened()
            self.online_writer.write_nodes(ran_nodes)
            self.online_writer.write_edges(edges)
            return True
        if self.offline:
            return self.write_edges(entities)
        self.add(entities)
        return True

    def get_kg(self) -> dict[str, DataFrame]:
        return self.kg.get_kg()

    def to_df(self) -> dict:
        return self.kg.to_df()

    def to_networkx(self):
        return self.kg.to_networkx()

    def write_csv(self, output_directory: Optional[str] = None) -> list[str]:
        return PandasCSVWriter(output_directory or self.outdir).write(self.get_kg())

    # -- reporting (T5/D4/D9) ------------------------------------------------------------

    def log_missing_input_labels(self) -> Optional[dict[str, int]]:
        return dict(self._missing) or None

    def log_duplicates(self) -> None:
        # every sink admits its rows through one dedup.Admission, which
        # records what it dropped; report the sinks this facade has built
        for sink in (self._writer, self._kg):
            if sink is None:
                continue
            for df in (sink.get_duplicate_nodes(), sink.get_duplicate_edges()):
                if df is not None:
                    df.show(truncate=False)

    def write_schema_info(self, as_node: bool = False) -> dict:
        """Schema-info aggregation (D9; reference ``write_schema_info``,
        /root/reference/biocypher/_core.py:713-793): extended schema plus
        present_in_knowledge_graph / is_relationship flags derived from what
        was actually written."""
        # the flags read the property dicts, which only the batch-writer
        # family keeps; under other sinks every class reads as not present
        written_nodes = set(getattr(self.writer, "node_property_dict", {}))
        written_edges = set(getattr(self.writer, "edge_property_dict", {}))
        info: dict = {"is_schema_info": True}
        for cls, conf in self.mapping.extended_schema.items():
            entry = dict(conf)
            label_as_edge = conf.get("label_as_edge")
            present = (
                cls in written_nodes
                or cls in written_edges
                or (label_as_edge is not None and label_as_edge in written_edges)
            )
            entry["present_in_knowledge_graph"] = present
            entry["is_relationship"] = conf.get("represented_as") == "edge"
            info[cls] = entry
        os.makedirs(self.outdir, exist_ok=True)
        path = os.path.join(self.outdir, "schema_info.yaml")
        with open(path, "w") as fh:
            yaml.safe_dump(info, fh, sort_keys=False)
        if as_node:
            import json

            # force= is a batch-writer knob (the :LABEL string is the
            # node's own label, without its ancestors); DataFrame-interface
            # sinks take the frame alone
            force_kw = {"force": True} if isinstance(self.writer, Neo4jBatchWriter) else {}
            self.writer.write_nodes(
                self.translator.translate_nodes(
                    nodes_from_tuples(
                        self.spark,
                        [("schema_info", "schema_info", {"schema_info": json.dumps(info, default=str)})],
                    )
                ).nodes
                if "schema_info" in self.translator.mappings
                else self._schema_info_node(info),
                **force_kw,
            )
            # the reference regenerates the import call after appending the
            # schema_info node (_core.py:789) — without it a call file
            # written earlier predates the schema_info part file and the
            # node is silently absent from the imported database
            if hasattr(self.writer, "write_import_call"):
                self.writer.write_import_call()
        return info

    def _schema_info_node(self, info: dict) -> DataFrame:
        import json

        from .model import NODE_SCHEMA

        return self.spark.createDataFrame(
            [("schema_info", "schema_info", "id", {"schema_info": json.dumps(json.dumps(info, default=str))}, 0)],
            NODE_SCHEMA,
        )

    # -- summaries (O6 / D8 parity) ---------------------------------------------------------

    def show_ontology_structure(self) -> str:
        """ASCII ontology hierarchy (reference ``show_ontology_structure``,
        /root/reference/biocypher/_ontology.py:767-856)."""
        if isinstance(self.ontology, Ontology):
            tree = self.ontology.tree_string()
        else:
            tree = "\n".join(sorted(self.mapping.extended_schema))
        print(tree)
        return tree

    def summary(self) -> dict:
        """Top-5 node and edge types by count from the in-memory KG
        (reference ``get_summary``, _workflow.py:494-518)."""
        counts = {label: df.count() for label, df in self.get_kg().items()}
        node_labels = set(self._kg._node_frames) if self._kg else set()
        nodes = {k: v for k, v in counts.items() if k in node_labels}
        edges = {k: v for k, v in counts.items() if k not in node_labels}
        top = lambda d: dict(sorted(d.items(), key=lambda kv: (-kv[1], kv[0]))[:5])  # noqa: E731
        return {"top_node_types": top(nodes), "top_edge_types": top(edges)}

    def download(self, *resources):
        """Resource download/cache (S2; reference ``BioCypher.download`` ->
        Downloader, _core.py + _get.py:103-176). The transport is injectable
        (no network in this sandbox; at cluster scale inputs arrive as
        Iceberg/parquet tables and fetching stays a driver-side utility):
        set ``bc.downloader = Downloader(cache_dir, fetcher=...)`` to control
        transport, else the stdlib urllib default is used."""
        from .download import Downloader

        if self.downloader is None:
            self.downloader = Downloader()
        return self.downloader.download(*resources)

    # -- term translation (T9) --------------------------------------------------------------

    def translate_term(self, term: str):
        return self.translator.translate_term(term)

    def reverse_translate_term(self, term: str):
        return self.translator.reverse_translate_term(term)

    def translate_query(self, query: str):
        return self.translator.translate(query)

    def reverse_translate_query(self, query: str):
        return self.translator.reverse_translate(query)
