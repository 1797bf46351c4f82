"""ArangoDB batch writer (S6).

Reference: ``_ArangoDBBatchWriter``
(/root/reference/biocypher/output/write/graph/_arangodb.py:9-236) — a Neo4j
variant with ``_key`` node ids, ``_from``/``_to`` edge endpoints, headers
without a label column, and per-collection ``arangoimp`` calls."""

from __future__ import annotations

import os

from .base import pascal_file_label, schema_class
from .neo4j import Neo4jBatchWriter


class ArangoDBBatchWriter(Neo4jBatchWriter):
    forced_edge_labels_order = None
    node_line_includes_labels = False
    edge_line_includes_labels = False

    def __init__(self, *args, **kwargs):
        kwargs.setdefault("import_call_bin_prefix", "")
        super().__init__(*args, **kwargs)

    def _import_script_name(self) -> str:
        return "arangodb-import-call.sh"

    def _collection(self, label: str):
        conf = schema_class(self.translator.ontology.mapping.extended_schema, label)
        return None if conf is None else conf.get("db_collection_name")

    def _write_node_headers(self) -> None:
        for label, props in self.node_property_dict.items():
            pascal = pascal_file_label(label)
            header = f"{pascal}-header.csv"
            cols = ["_key"] + list(props.keys())
            with open(os.path.join(self.outdir, header), "w", encoding="utf-8") as fh:
                fh.write(self.delim.join(cols))
            self.import_call_nodes.add(
                (
                    os.path.join(self.import_call_file_prefix, header),
                    os.path.join(self.import_call_file_prefix, f"{pascal}-part.*"),
                    self._collection(label),
                )
            )

    def _write_edge_headers(self) -> None:
        for label, props in self.edge_property_dict.items():
            pascal = pascal_file_label(label)
            header = f"{pascal}-header.csv"
            cols = ["_from", "_key", *props.keys(), "_to"]
            with open(os.path.join(self.outdir, header), "w", encoding="utf-8") as fh:
                fh.write(self.delim.join(cols))
            self.import_call_edges.add(
                (
                    os.path.join(self.import_call_file_prefix, header),
                    os.path.join(self.import_call_file_prefix, f"{pascal}-part.*"),
                    self._collection(label),
                )
            )

    def get_import_call(self) -> str:
        base = f'{self.import_call_bin_prefix}arangoimp --type csv --separator="{self._escaped(self.delim)}" '
        if self.quote == "'":
            base += f'--quote="{self.quote}" '
        else:
            base += f"--quote='{self.quote}' "
        lines = []
        for header, parts, collection in sorted(self.import_call_nodes, key=str):
            line = f"{base} --headers-file {header} --file= {parts} "
            if collection:
                line += f"--create-collection --collection {collection} "
            lines.append(line)
        for header, parts, collection in sorted(self.import_call_edges, key=str):
            line = f"{base} --headers-file {header} --file= {parts} --create-collection --create-collection-type edge "
            if collection:
                line += f"--collection {collection} "
            lines.append(line)
        return "\n".join(lines) + "\n"
