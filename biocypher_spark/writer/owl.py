"""OWL sink (S9): one self-contained file with vocabulary + instances.

Reference: ``_OWLWriter`` (/root/reference/biocypher/output/write/graph/
_owl.py:21-567). Behavior re-expressed without rdflib (absent here), in the
two formats the RDF writer can template (N-Triples = the scale path, Turtle):

- The output is ONE merged file ``{file_stem}.{ext}`` written only once BOTH
  ``write_nodes`` and ``write_edges`` have been called, and rewritten whole
  by every later call (reference ``_write_file``, ``_owl.py:562-567``).
  Rows pass the writer's ``dedup.Admission`` first, as in every sink.
- The file embeds the ontology vocabulary under the node labels in use: each
  label's ancestor chain becomes ``rdfs:subClassOf`` triples and every class
  is typed ``owl:Class`` (the reference starts from the loaded ontology's
  rdflib graph; ``_owl.py:192-194, 254-330``).
- Nodes are class instances AND ``owl:NamedIndividual``, with an
  ``rdfs:label`` literal and one data-property triple per property
  (``_owl.py:322-356``).
- ``edge_model="ObjectProperty"``: an edge is a single
  ``(source, edgeClass, target)`` triple and the edge class is typed
  ``owl:ObjectProperty`` — property values on edges are discarded, as in the
  reference (``_owl.py:403-412``).
- ``edge_model="Association"`` (default): the edge becomes an instance of an
  ``owl:Class`` named after the edge label, linked through the biocypher
  ``edge_source`` / ``edge_target`` object properties (both
  ``rdfs:subPropertyOf`` the generic ``edge``), and carries its properties
  (``_owl.py:414-499``). The instance IRI is the edge id, or
  ``{source}--{label}--{target}`` when the edge has none (``_owl.py:419-423``).

Vocabulary triples are a driver-side handful of strings (one Arrow-built
frame); instance triples are column expressions over the node/edge
DataFrames (no collect, no UDFs).
"""

from __future__ import annotations

import os
from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..model import json_pystr, local_frame
from .rdf import VALUE_SCHEMA, RDFWriter, _escape_literal, _pascal_term

OWL_NS = "http://www.w3.org/2002/07/owl#"
RDFS_NS = "http://www.w3.org/2000/01/rdf-schema#"

EDGE_MODELS = ("Association", "ObjectProperty")


class OWLWriter(RDFWriter):
    """Self-contained OWL export on top of the template RDF writer."""

    _extra_prefixes = f"@prefix owl: <{OWL_NS}> .\n"

    def __init__(
        self,
        spark,
        translator,
        output_directory: str,
        namespace: str = "https://biocypher.org/biocypher#",
        rdf_format: str = "ntriples",
        edge_model: str = "Association",
        file_stem: str = "biocypher",
    ):
        if edge_model not in EDGE_MODELS:
            raise ValueError(
                f"`edge_model` cannot be {edge_model!r}, but should be either: "
                + " or ".join(EDGE_MODELS)
            )
        if rdf_format not in ("ntriples", "nt", "turtle", "ttl"):
            # the OWL template emits triple LINES under a turtle header;
            # xml/json-ld/trig/trix would silently produce a file that is
            # turtle prefixes + triple lines + a foreign footer — corrupt
            # in every parser. Loud error instead.
            raise ValueError(
                f"OWLWriter supports rdf_format 'ntriples' or 'turtle', not {rdf_format!r}"
            )
        super().__init__(spark, translator, output_directory, namespace, rdf_format)
        self.edge_model = edge_model
        self.file_stem = file_stem
        self._node_lines: Optional[DataFrame] = None
        self._edge_lines: Optional[DataFrame] = None
        self._vocab: list[str] = []
        self._written: Optional[str] = None

    # -- term helpers ---------------------------------------------------------

    def _owl(self, term: str) -> str:
        return f"owl:{term}" if self.turtle else f"<{OWL_NS}{term}>"

    def _rdfs(self, term: str) -> str:
        return f"rdfs:{term}" if self.turtle else f"<{RDFS_NS}{term}>"

    # -- vocabulary (driver-side, tiny) ----------------------------------------

    def _add_class_vocabulary(self, labels: list[str]) -> None:
        """Ancestor closure of the labels in use -> subClassOf + owl:Class.

        subClassOf edges come from the ontology's ACTUAL parent DAG, not
        consecutive pairs of the DFS-preorder ancestor chain: with multiple
        inheritance the chain [L, A, Root, B] would fabricate
        'Root subClassOf B' and never emit the real 'L subClassOf B'."""
        chains = self.translator.ontology.ancestor_map(labels)
        closure = sorted({cls for chain in chains.values() for cls in chain})
        parents = getattr(self.translator.ontology, "_parents", {})
        for child in closure:
            for parent in parents.get(child, []):
                if parent in closure:
                    c = self._const(_pascal_term(child))
                    p = self._const(_pascal_term(parent))
                    self._vocab.append(f"{c} {self._rdfs('subClassOf')} {p} .")
        for cls in closure:
            self._vocab.append(
                f"{self._const(_pascal_term(cls))} {self._rdf_type} {self._owl('Class')} ."
            )

    def _association_vocabulary(self, edge_labels: list[str]) -> None:
        edge = self._const("edge")
        self._vocab.append(f"{edge} {self._rdf_type} {self._owl('ObjectProperty')} .")
        for role in ("edge_source", "edge_target"):
            self._vocab.append(f"{self._const(role)} {self._rdfs('subPropertyOf')} {edge} .")
        for label in edge_labels:
            cls = self._const(_pascal_term(label))
            self._vocab.append(f"{cls} {self._rdf_type} {self._owl('Class')} .")

    # -- instances (distributed) --------------------------------------------------

    def write_nodes(self, nodes: DataFrame) -> bool:
        nodes = self.admission.nodes(nodes)
        labels = [r[0] for r in nodes.select("node_label").distinct().collect()]
        self._add_class_vocabulary(labels)
        subject = self._term(F.col("node_id"))
        label_to_class = F.create_map(
            *[x for lab in labels for x in (F.lit(lab), F.lit(self._const(_pascal_term(lab))))]
        )
        cls = F.element_at(label_to_class, F.col("node_label"))
        head = F.array(
            F.concat(subject, F.lit(f" {self._rdf_type} "), cls, F.lit(" .")),
            F.concat(subject, F.lit(f" {self._rdf_type} {self._owl('NamedIndividual')} .")),
            F.concat(
                subject,
                F.lit(f" {self._rdfs('label')} \""),
                _escape_literal(F.col("node_id")),
                F.lit('" .'),
            ),
        )
        prop_lines = F.transform(
            F.map_entries("props"),
            lambda e: F.concat(
                subject, F.lit(" "), self._term(e["key"]),
                F.lit(' "'), _escape_literal(json_pystr(e["value"])), F.lit('" .'),
            ),
        )
        lines = nodes.select(F.explode(F.concat(head, prop_lines)).alias("value"))
        self._node_lines = lines if self._node_lines is None else self._node_lines.union(lines)
        self._write_file()
        self.admission.release_earlier_row_pins("node")
        return True

    def write_edges(self, edges) -> bool:
        """Edges, or a TranslatedEdges whose surviving reified nodes are
        written as nodes (:meth:`dedup.Admission.edges`)."""
        ran_nodes, edges = self.admission.edges(edges)
        if ran_nodes is not None:
            self.write_nodes(ran_nodes)
        labels = [r[0] for r in edges.select("relationship_label").distinct().collect()]
        label_to_pred = F.create_map(
            *[x for lab in labels for x in (F.lit(lab), F.lit(self._const(_pascal_term(lab))))]
        )
        pred = F.element_at(label_to_pred, F.col("relationship_label"))
        src = self._term(F.col("source_id"))
        tgt = self._term(F.col("target_id"))
        if self.edge_model == "ObjectProperty":
            for label in labels:
                self._vocab.append(
                    f"{self._const(_pascal_term(label))} {self._rdf_type} "
                    f"{self._owl('ObjectProperty')} ."
                )
            lines = edges.select(
                F.concat(src, F.lit(" "), pred, F.lit(" "), tgt, F.lit(" .")).alias("value")
            )
        else:
            self._association_vocabulary(labels)
            inst = self._term(
                F.coalesce(
                    F.col("relationship_id"),
                    F.concat("source_id", F.lit("--"), "relationship_label", F.lit("--"), "target_id"),
                )
            )
            head = F.array(
                F.concat(inst, F.lit(f" {self._rdf_type} "), pred, F.lit(" .")),
                F.concat(src, F.lit(f" {self._const('edge_source')} "), inst, F.lit(" .")),
                F.concat(inst, F.lit(f" {self._const('edge_target')} "), tgt, F.lit(" .")),
            )
            prop_lines = F.transform(
                F.map_entries("props"),
                lambda e: F.concat(
                    inst, F.lit(" "), self._term(e["key"]),
                    F.lit(' "'), _escape_literal(json_pystr(e["value"])), F.lit('" .'),
                ),
            )
            lines = edges.select(F.explode(F.concat(head, prop_lines)).alias("value"))
        self._edge_lines = lines if self._edge_lines is None else self._edge_lines.union(lines)
        self._write_file()
        self.admission.release_earlier_row_pins("edge")
        return True

    # -- output -------------------------------------------------------------------

    def _write_file(self) -> None:
        """Emit the single merged OWL file once nodes AND edges are in
        (mirrors _owl.py:562-567)."""
        if self._node_lines is None or self._edge_lines is None:
            return
        vocab = local_frame(self.spark, [(line,) for line in dict.fromkeys(self._vocab)], VALUE_SCHEMA)
        merged = vocab.union(self._node_lines).union(self._edge_lines)
        self._written = self._write_label_file(merged, f"{self.file_stem}.{self._ext}", replace=True)

    @property
    def output_path(self) -> Optional[str]:
        return self._written
