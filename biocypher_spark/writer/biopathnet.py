"""BioPathNet sink (S10): entity_types / entity_names / background-graph /
skg TSV files.

Reference: ``_BioPathNetWriter``
(/root/reference/biocypher/output/write/graph/_biopathnet.py:12-284). Layout:
``entity_types.txt`` (entity_id \\t type), ``entity_names.txt`` (n \\t n),
``brg.txt`` (property triples entity \\t prop \\t prop_value plus the used
ontology sub-hierarchy), ``skg.txt`` (edge triples). The reference appends
across calls (learning/validation/test splits) — so do we, after the
sink's ``dedup.Admission``: a node id or an edge key an earlier call wrote
is not written again, nor is a property-value entity any call typed. Lines
are built as Spark expressions and streamed into the target files
driver-side (file-append concat, no row collection)."""

from __future__ import annotations

import glob
import os
import shutil

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..dedup import Admission, AdmittingSink, KeySpace
from ..materialize import materialize
from ..model import SEQ, json_pystr


def _append_lines(df: DataFrame, outdir: str, filename: str) -> None:
    tmp = os.path.join(outdir, "_tmp_bpn")
    df.write.mode("overwrite").text(tmp)
    target = os.path.join(outdir, filename)
    with open(target, "ab") as out:
        for part in sorted(glob.glob(os.path.join(tmp, "part-*"))):
            with open(part, "rb") as fh:
                shutil.copyfileobj(fh, out)
    shutil.rmtree(tmp, ignore_errors=True)


class BioPathNetWriter(AdmittingSink):
    def __init__(self, spark, translator, output_directory: str):
        from .base import require_local_dir

        self.spark = spark
        self.translator = translator
        self.outdir = require_local_dir(output_directory, "BioPathNet")
        os.makedirs(self.outdir, exist_ok=True)
        self.admission = Admission()
        # property-value entities ({key}_{value}), first wins across calls
        self._value_keys = KeySpace("_seen_nodes", track_seen=True)
        self._hierarchy_seen: set = set()  # (child, parent) pairs written by any call

    def write_nodes(self, nodes: DataFrame) -> bool:
        nodes = self.admission.nodes(nodes)
        # entity_types: id \t semantic type
        types = nodes.select(
            F.concat_ws("\t", "node_id", "node_label").alias("value")
        )
        _append_lines(types, self.outdir, "entity_types.txt")

        # property triples into the background graph; values prefixed with
        # the property name, spaces stripped (reference :90-101)
        entries = nodes.select("node_id", SEQ, F.explode(F.map_entries("props")).alias("e"))
        pv = F.regexp_replace(json_pystr(F.col("e.value")), " ", "")
        pv_id = F.concat(F.col("e.key"), F.lit("_"), pv)
        prop_rows = entries.filter(F.col("e.value").isNotNull() & (F.col("e.value") != "null")).select(
            F.concat_ws("\t", "node_id", F.col("e.key"), pv_id).alias("brg"),
            pv_id.alias("node_id"), F.lit("property_value").alias("node_label"), pv.alias("pv"), SEQ,
        )
        # pinned so the value key space ranks and anti-joins a shallow plan,
        # not the node admission's lineage
        prop_rows = materialize(prop_rows)
        _append_lines(prop_rows.select(F.col("brg").alias("value")), self.outdir, "brg.txt")
        values = self._value_keys.admit(prop_rows.drop("brg"))
        for filename, col in (("entity_types.txt", "node_label"), ("entity_names.txt", "pv")):
            _append_lines(values.select(F.concat_ws("\t", "node_id", col).alias("value")), self.outdir, filename)

        # used ontology sub-hierarchy (driver-side, tiny domain): child
        # is_a parent edges for every label's ancestor chain
        labels = [r[0] for r in nodes.select("node_label").distinct().collect()]
        hier, tlines, nlines = [], [], []
        seen = self._hierarchy_seen
        for label in labels:
            try:
                chain = self.translator.ontology.get_ancestors(label)
            except KeyError:
                chain = [label]
            for child, parent in zip(chain, chain[1:]):
                if (child, parent) not in seen:
                    seen.add((child, parent))
                    hier.append(f"{child}\tsubclass_of\t{parent}")
                    tlines.append(f"{child}\t{parent}")
                    nlines.append(f"{child}\t{child}")
            root = chain[-1]
            if (root, "THING") not in seen:
                seen.add((root, "THING"))
                tlines.append(f"{root}\tTHING")
                nlines.append(f"{root}\t{root}")
        for filename, lines in (("brg.txt", hier), ("entity_types.txt", tlines), ("entity_names.txt", nlines)):
            with open(os.path.join(self.outdir, filename), "a", encoding="utf-8") as fh:
                for ln in lines:
                    fh.write(ln + "\n")
        self.admission.release_earlier_row_pins("node")
        self._value_keys.release_earlier_row_pins()
        return True

    def write_edges(self, edges) -> bool:
        """Edges, or a TranslatedEdges whose surviving reified nodes are
        written as nodes (:meth:`dedup.Admission.edges`)."""
        ran_nodes, edges = self.admission.edges(edges)
        if ran_nodes is not None:
            self.write_nodes(ran_nodes)
        lines = edges.select(
            F.concat_ws(
                "\t",
                "source_id",
                F.coalesce(
                    F.col("relationship_label"),
                    F.concat("source_id", F.lit("_"), "target_id"),
                ),
                "target_id",
            ).alias("value")
        )
        _append_lines(lines, self.outdir, "skg.txt")
        self.admission.release_earlier_row_pins("edge")
        return True
