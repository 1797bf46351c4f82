"""In-memory KG sinks (S11 pandas dict, S12 networkx) and the CSV sink (S7).

Reference: ``PandasKG`` (/root/reference/biocypher/output/in_memory/
_pandas.py:6-37), ``NetworkxKG`` (.../_networkx.py:7-44) and
``_PandasCSVWriter`` (/root/reference/biocypher/output/write/relational/
_csv.py:8-71). The reference json_normalizes each entity dict and concats
per type; here the KG is a dict of *Spark* DataFrames per type (kept
distributed), with ``to_df()`` converting to pandas for API parity and
``to_networkx()`` collecting into a DiGraph. Property flattening happens
with one typed ``from_json`` per type — no per-row Python. A type's
columns follow the batch writer's rule (``writer.base.property_layouts``:
declared properties, else the first entity's by ``SEQ``), widened to the
key union of its rows like the reference's ``json_normalize``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import Admission, AdmittingSink
from .materialize import materialize_lazily
from .model import SEQ, json_decode_str
from .writer.base import KEY_SET, LABEL_COL, property_layouts, with_key_set


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

    def _add(self, admitted: DataFrame, kind: str) -> None:
        """Add one call's admitted rows, pinned: the per-type frames (lazy
        filters of the pin) outlive the key spaces' row pins. The one
        aggregate of :func:`writer.base.property_layouts` fills the pin and
        so evaluates every anti-join of this call before the earlier calls'
        row pins are released. A type's columns are its layout's key union,
        as the reference's ``json_normalize`` keeps."""
        kept = materialize_lazily(with_key_set(admitted))
        schema = self.translator.ontology.mapping.extended_schema
        layouts = property_layouts(kept, kind, schema, self.translator.strict_mode)
        self.admission.release_earlier_row_pins(kind)
        frames = self._node_frames if kind == "node" else self._edge_frames
        for label, layout in layouts.items():
            sub = kept.filter(F.col(LABEL_COL[kind]) == label).drop(SEQ, KEY_SET)
            typed = _typed_props(sub, layout.key_union())
            prev = frames.get(label)
            frames[label] = typed if prev is None else prev.unionByName(typed, allowMissingColumns=True)

    def add_nodes(self, nodes: DataFrame) -> None:
        self._add(self.admission.nodes(nodes), "node")

    def add_edges(self, edges) -> None:
        """Edges, or a TranslatedEdges whose surviving reified nodes are
        added as nodes (:meth:`dedup.Admission.edges`)."""
        ran_nodes, edges = self.admission.edges(edges)
        if ran_nodes is not None:
            self.add_nodes(ran_nodes)
        self._add(edges, "edge")

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
