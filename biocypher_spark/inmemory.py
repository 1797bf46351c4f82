"""In-memory KG sinks (S11 pandas dict, S12 networkx) and the CSV sink (S7).

Reference: ``PandasKG`` (/root/reference/biocypher/output/in_memory/
_pandas.py:6-37), ``NetworkxKG`` (.../_networkx.py:7-44) and
``_PandasCSVWriter`` (/root/reference/biocypher/output/write/relational/
_csv.py:8-71). The reference json_normalizes each entity dict and concats
per type; here the KG is a dict of *Spark* DataFrames per type (kept
distributed), with ``to_df()`` converting to pandas for API parity and
``to_networkx()`` collecting into a DiGraph. Property flattening happens
with one typed ``from_json`` per type — no per-row Python.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import Admission, AdmittingSink
from .materialize import materialize
from .model import SEQ, json_decode_str
from .writer.base import declared_props, infer_prop_types


def _typed_props(df: DataFrame, prop_types: dict) -> DataFrame:
    """Flatten the JSON property map into typed columns."""
    out = df
    for key, declared in prop_types.items():
        raw = F.element_at(F.col("props"), key)
        if declared in ("int", "integer", "long"):
            col = raw.cast("long")
        elif declared in ("float", "double", "dbl"):
            col = raw.cast("double")
        elif declared in ("bool", "boolean"):
            col = raw == "true"
        elif declared and declared.endswith("[]"):
            elem = {"str": "string", "int": "bigint", "long": "bigint", "float": "double", "double": "double", "bool": "boolean"}.get(declared[:-2], "string")
            col = F.from_json(raw, f"array<{elem}>")
        else:
            col = F.when(raw.startswith('"'), json_decode_str(raw)).otherwise(raw)
        out = out.withColumn(key, col)
    return out.drop("props")


class InMemoryKG(AdmittingSink):
    """dict {type -> Spark DataFrame} knowledge graph with dedup-on-add."""

    def __init__(self, translator):
        self.translator = translator
        self._node_frames: dict[str, DataFrame] = {}
        self._edge_frames: dict[str, DataFrame] = {}
        # cross-call dedup state: the reference shares ONE Deduplicator
        # across add() calls (_in_memory_kg.py:62-66)
        self.admission = Admission()

    def _pin(self, kept: DataFrame, kind: str) -> DataFrame:
        """The admitted rows of one add, pinned: the per-type frames built
        from them outlive the key spaces' row pins. The pin evaluates every
        anti-join of this call, so the earlier calls' row pins have fed the
        key pins they back."""
        kept = materialize(kept)
        self.admission.release_earlier_row_pins(kind)
        return kept

    def _prop_types_for(self, label: str, df: DataFrame, kind: str) -> dict:
        declared = declared_props(self.translator.ontology.mapping.extended_schema, label)
        if declared:
            d = dict(declared)
            if kind == "node":
                d.setdefault("id", "str")
                d.setdefault("preferred_id", "str")
            return d
        first = df.select(F.map_keys("props").alias("k"), F.map_values("props").alias("v")).head(1)
        if not first:
            return {}
        # the first row's key order anchors the column order (stable for
        # homogeneous batches), but the INFERRED SET is the key union of
        # the whole batch — head(1) alone silently and permanently dropped
        # properties present only on other rows (the reference's PandasKG
        # json_normalize keeps the union). min(v) picks a deterministic
        # sample value per extra key for type inference.
        head_props = dict(zip(first[0]["k"] or [], first[0]["v"] or []))
        extra = (
            df.select(F.explode("props").alias("k", "v"))
            .filter(~F.col("k").isin(*head_props) if head_props else F.lit(True))
            .groupBy("k")
            .agg(F.min("v").alias("v"))
            .collect()
        )
        for r in sorted(extra, key=lambda r: r["k"]):
            head_props[r["k"]] = r["v"]
        return infer_prop_types(head_props)

    def add_nodes(self, nodes: DataFrame) -> None:
        kept = self._pin(self.admission.nodes(nodes), "node")
        for label in [r[0] for r in kept.select("node_label").distinct().collect()]:
            sub = kept.filter(F.col("node_label") == label)
            typed = _typed_props(sub.drop(SEQ), self._prop_types_for(label, sub, "node"))
            prev = self._node_frames.get(label)
            self._node_frames[label] = (
                typed if prev is None else prev.unionByName(typed, allowMissingColumns=True)
            )

    def add_edges(self, edges) -> None:
        """Edges, or a TranslatedEdges whose surviving reified nodes are
        added as nodes (:meth:`dedup.Admission.edges`)."""
        ran_nodes, edges = self.admission.edges(edges)
        if ran_nodes is not None:
            self.add_nodes(ran_nodes)
        kept = self._pin(edges, "edge")
        for label in [r[0] for r in kept.select("relationship_label").distinct().collect()]:
            sub = kept.filter(F.col("relationship_label") == label)
            typed = _typed_props(sub.drop(SEQ), self._prop_types_for(label, sub, "edge"))
            prev = self._edge_frames.get(label)
            self._edge_frames[label] = (
                typed if prev is None else prev.unionByName(typed, allowMissingColumns=True)
            )

    def get_kg(self) -> dict[str, DataFrame]:
        return {**self._node_frames, **self._edge_frames}

    def to_df(self) -> dict:
        """Per-type pandas frames (reference ``BioCypher.to_df`` surface)."""
        return {label: df.toPandas() for label, df in self.get_kg().items()}

    def to_networkx(self):
        """Collected nx.DiGraph: node frames = have node_id; edge frames =
        have source_id+target_id (reference _networkx.py:29-44)."""
        import networkx as nx

        g = nx.DiGraph()
        for label, df in self._node_frames.items():
            for r in df.collect():
                d = r.asDict()
                g.add_node(d.pop("node_id"), node_label=d.pop("node_label"), **d)
        for label, df in self._edge_frames.items():
            for r in df.collect():
                d = r.asDict()
                g.add_edge(
                    d.pop("source_id"),
                    d.pop("target_id"),
                    relationship_label=d.pop("relationship_label"),
                    **d,
                )
        return g


class PandasCSVWriter:
    """S7: one CSV per entity type (reference _csv.py writes via pandas
    ``to_csv``; here each type coalesces to one Spark CSV part renamed)."""

    def __init__(self, output_directory: str):
        from .writer.base import require_local_dir

        self.outdir = require_local_dir(output_directory, "pandas-CSV")
        os.makedirs(self.outdir, exist_ok=True)

    def write(self, kg: dict[str, DataFrame]) -> list[str]:
        import glob
        import shutil

        from .writer.base import pascal_file_label

        written = []
        for label, df in kg.items():
            plabel = pascal_file_label(label)
            tmp = os.path.join(self.outdir, f"_tmp_{plabel}")
            out_df = df
            for f_name, dtype in df.dtypes:
                if dtype.startswith("array"):
                    out_df = out_df.withColumn(f_name, F.to_json(F.col(f_name)))
            out_df.coalesce(1).write.mode("overwrite").option("header", True).csv(tmp)
            part = glob.glob(os.path.join(tmp, "part-*.csv"))[0]
            target = os.path.join(self.outdir, f"{plabel}.csv")
            shutil.move(part, target)
            shutil.rmtree(tmp)
            written.append(target)
        return written
