"""Neo4j admin-import batch writer — the flagship sink (S3).

Produces the exact reference layout: per-label ``{PascalLabel}-partNNN.csv``
data files, ``{PascalLabel}-header.csv`` header files, and a
``neo4j-admin-import-call.sh`` script (reference
``_Neo4jBatchWriter``, /root/reference/biocypher/output/write/graph/_neo4j.py
and ``_BatchWriter``, .../_batch_writer.py). Serialization rules
(``;`` delimiter, ``|`` array delimiter, ``'`` quote with doubling escape,
lowercase booleans, empty field for null) match the reference's golden tests
(/root/reference/test/output/write/graph/test_neo4j.py:107,298,321,1006).

Spark-first execution: label ancestor strings are precomputed driver-side
and inlined as literals, and every write call is one partitioned text job
per entity kind. Every write call first admits its rows through the
writer's ``dedup.Admission``, the step every sink shares: a window over the
call's rows, then an anti-join against the keys of earlier calls, whose
caches are filled by the jobs that read them, never by a separate count.
Property columns follow ``base.property_layouts``, shared with the
in-memory KG: one aggregate per call, none when every routed label is
declared and ``validate_props`` is off.
"""

from __future__ import annotations

import os
from collections import OrderedDict
from typing import Callable, Optional

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from ..dedup import Admission, AdmittingSink
from ..model import SEQ
from ..naming import sentence_to_pascal, to_list
from ..translate import SparkTranslator
from .base import (
    BOOL_ARRAY,
    BOOL_TYPES,
    DOUBLE_ARRAY,
    DOUBLE_TYPES,
    LABEL_COL,
    LONG_ARRAY,
    LONG_TYPES,
    STR_ARRAY,
    declared_layout,
    edge_line_expr,
    node_line_expr,
    pascal_file_label,
    property_layouts,
    require_local_dir,
    schema_class,
    with_key_set,
    write_part_files,
)

_LABELS_ORDERS = ("Ascending", "Descending", "Alphabetical", "Leaves")
_RAN_EDGE_LABELS = ("IS_SOURCE_OF", "IS_TARGET_OF", "IS_PART_OF")


def _header_type_suffix(key: str, declared: Optional[str]) -> str:
    """Property header column with Neo4j type suffix
    (/root/reference/biocypher/output/write/graph/_neo4j.py:125-141)."""
    if declared in LONG_TYPES:
        return f"{key}:long"
    if declared in LONG_ARRAY:
        return f"{key}:long[]"
    if declared in DOUBLE_TYPES:
        return f"{key}:double"
    if declared in DOUBLE_ARRAY:
        return f"{key}:double[]"
    if declared in BOOL_TYPES:
        return f"{key}:boolean"
    if declared in BOOL_ARRAY:
        return f"{key}:boolean[]"
    if declared in STR_ARRAY:
        return f"{key}:string[]"
    return key


class Neo4jBatchWriter(AdmittingSink):
    """Write node/edge DataFrames in Neo4j admin-import layout.

    Subclasses override the dialect knobs (``quote_mode``, ``array_mode``),
    header/DDL emission, and the import-call script to cover the other batch
    targets (PostgreSQL/SQLite/ArangoDB), mirroring the reference's
    ``_BatchWriter`` hierarchy."""

    quote_mode = "double"
    array_mode = "delim"
    forced_edge_labels_order = "Leaves"  # Neo4j: single edge label (_neo4j.py:44-52)
    node_line_includes_labels = True
    edge_line_includes_labels = True

    def __init__(
        self,
        spark,
        translator: SparkTranslator,
        output_directory: str,
        delimiter: str = ";",
        array_delimiter: str = "|",
        quote: str = "'",
        db_name: str = "neo4j",
        wipe: bool = True,
        strict_mode: bool = False,
        skip_bad_relationships: bool = False,
        skip_duplicate_nodes: bool = False,
        import_call_bin_prefix: Optional[str] = None,
        import_call_file_prefix: Optional[str] = None,
        labels_order: str = "Ascending",
        node_labels_order: Optional[str] = None,
        edge_labels_order: Optional[str] = None,
        batch_size: int = int(1e6),
        validate_props: bool = True,
        ordered_parts: bool = True,
        track_seen: bool = True,
    ):
        self.spark = spark
        self.translator = translator
        self.outdir = require_local_dir(output_directory, "admin-import")
        os.makedirs(self.outdir, exist_ok=True)
        self.delim = delimiter
        self.adelim = array_delimiter
        self.quote = quote
        self.db_name = db_name
        self.wipe = wipe
        self.strict_mode = strict_mode
        self.skip_bad_relationships = skip_bad_relationships
        self.skip_duplicate_nodes = skip_duplicate_nodes
        self.import_call_bin_prefix = import_call_bin_prefix or "bin/"
        self.import_call_file_prefix = import_call_file_prefix or output_directory
        self.node_labels_order = node_labels_order or labels_order
        self.edge_labels_order = self.forced_edge_labels_order or (edge_labels_order or labels_order)
        if self.node_labels_order not in _LABELS_ORDERS:
            raise ValueError(f"Invalid labels_order: {self.node_labels_order}")
        if self.edge_labels_order not in _LABELS_ORDERS:
            # same loud contract as the reference's match-default — a typo
            # would otherwise silently fall through to Ascending in
            # _all_labels' if/elif chain
            raise ValueError(f"Invalid labels_order: {self.edge_labels_order}")
        self.batch_size = int(batch_size)
        self.validate_props = validate_props
        # ordered_parts=True reproduces the reference's arrival-order part
        # files (needs a per-label global rank — golden-parity mode);
        # False is the scale path: content-identical lines, arbitrary
        # file assignment, zero extra shuffle.
        self.ordered_parts = ordered_parts
        self.admission = Admission(track_seen)

        self.node_property_dict: "OrderedDict[str, dict]" = OrderedDict()
        self.edge_property_dict: "OrderedDict[str, dict]" = OrderedDict()
        self.import_call_nodes: set = set()
        self.import_call_edges: set = set()
        self.parts: dict[str, list[str]] = {}

    # -- label strings ------------------------------------------------------

    def _escaped(self, s: str) -> str:
        return s.replace("\\", "\\\\")

    def _array_string(self, items: list[str]) -> str:
        joined = self.adelim.join(str(x) for x in items)
        return f"{self.quote}{joined.replace(self.quote, self.quote * 2)}{self.quote}"

    def _all_labels(self, label: str, order: str, force: bool = False) -> str:
        """Ancestor `:LABEL` string (O1/O2; reference ``_get_all_labels``,
        /root/reference/biocypher/output/write/_batch_writer.py:512-555)."""
        if force:
            return sentence_to_pascal(label)
        try:
            ancestors = self.translator.ontology.get_ancestors(label)
        except KeyError:
            ancestors = [label]
        labels = list(OrderedDict.fromkeys(sentence_to_pascal(a) for a in ancestors))
        if order == "Alphabetical":
            labels.sort()
        elif order == "Descending":
            labels.reverse()
        elif order == "Leaves":
            labels = labels[:1]
        return self._array_string(labels)

    # -- property layouts ---------------------------------------------------

    def _validate_consistent_props(self, layouts: dict, known: dict) -> None:
        """Reference hard-errors when entities of one label diverge in
        property-key sets (order-invariant; reference
        ``_batch_writer.py:785-797``), checked over ``layouts``' key sets."""
        for label, layout in layouts.items():
            ref = set(known.get(label) or layout.types)
            for row in layout.firsts:
                if set(row) != ref:
                    raise ValueError(
                        f"At least one entity of class {label} has more or fewer properties "
                        f"than another. Reference properties: {sorted(ref)}, "
                        f"found: {sorted(row)}."
                    )

    def _declared_prop_dicts(self, kind: str) -> Optional[dict]:
        """Property dicts of the labels the schema routes as ``kind`` when
        each of them declares its properties — their line expressions then
        need nothing from the data. None when a label would need
        first-entity inference, or when ``validate_props`` needs the
        call's key sets anyway."""
        if self.validate_props:
            return None
        schema = self.translator.ontology.mapping.extended_schema
        routed = {cls: conf for cls, conf in schema.items() if to_list(conf.get("input_label"))}
        if kind == "node":
            labels = {cls for cls, conf in routed.items() if conf.get("represented_as") == "node"}
        else:
            labels = {
                conf.get("label_as_edge") or cls
                for cls, conf in routed.items()
                if conf.get("represented_as") not in (None, "node")
            }
        declared = {label: declared_layout(schema, label, kind, self.strict_mode) for label in sorted(labels)}
        return declared if labels and all(declared.values()) else None

    def _write_by_label(
        self,
        df: DataFrame,
        kind: str,
        label_string: Callable[[str], str],
        line_for: Callable[[str, dict, Column], Column],
    ) -> None:
        """Write each row's line to its label's part files; labels that got
        rows get their headers. ``label_string(label)`` is a label's
        ``:LABEL`` / ``:TYPE`` text and ``line_for(label, props, labels)``
        the line of the rows sharing ``label``'s layout, with ``labels`` the
        column holding each row's label text.

        When the schema declares the properties of every label it routes as
        ``kind``, rows of those labels are written without looking at the
        data first, and a count observed on that write tells whether any
        row carries another label (rel-as-node helper edges, whose role
        labels come from the data). Only such rows go through
        :func:`base.property_layouts`, whose one aggregate gives each
        label's layout and, for ``validate_props``, its key sets; it is
        skipped when there are none."""
        label_col = LABEL_COL[kind]
        known = self.node_property_dict if kind == "node" else self.edge_property_dict
        declared = self._declared_prop_dicts(kind)
        if declared is not None:
            hit = F.coalesce(F.col(label_col).isin(list(declared)), F.lit(False))
            obs = Observation()
            observed = df.observe(obs, F.count(F.when(~hit, 1)).alias("other"))
            self._write_lines(observed.filter(hit), kind, declared, known, label_string, line_for)
            if not obs.get["other"]:
                return
            df = df.filter(~hit)
        df = with_key_set(df).persist()
        layouts = property_layouts(df, kind, self.translator.ontology.mapping.extended_schema, self.strict_mode)
        if layouts:
            if self.validate_props:
                self._validate_consistent_props(layouts, known)
            prop_dicts = {label: layout.types for label, layout in layouts.items()}
            self._write_lines(df, kind, prop_dicts, known, label_string, line_for)
        df.unpersist()

    def _write_lines(
        self,
        df: DataFrame,
        kind: str,
        prop_dicts: dict,
        known: dict,
        label_string: Callable[[str], str],
        line_for: Callable[[str, dict, Column], Column],
    ) -> None:
        """One text job writing each row's line to its label's part files;
        labels that got rows join ``known``, whose layouts win over
        ``prop_dicts`` (their headers are written).

        Labels with one layout (property dict, and for edges whether the id
        column is written) share one line expression, which looks their
        label text up in a literal map: each serializer is built and
        compiled once per layout, not once per label."""
        label_col = LABEL_COL[kind]
        prop_dicts = {label: known.get(label) or props for label, props in prop_dicts.items()}
        layouts: dict[tuple, list[str]] = {}
        for label, props in prop_dicts.items():
            layout = (tuple(props.items()), kind == "edge" and self._edge_skip_id(label))
            layouts.setdefault(layout, []).append(label)
        # a label without a line format fails the job loudly instead of
        # being written under another label's columns
        line = plabel = F.raise_error(
            F.concat(F.lit(f"no line format for {label_col} "), F.coalesce(F.col(label_col), F.lit("NULL")))
        )
        for labels in layouts.values():
            texts = F.create_map(*(F.lit(x) for label in labels for x in (label, label_string(label))))
            line = F.when(
                F.col(label_col).isin(labels), line_for(labels[0], prop_dicts[labels[0]], texts[F.col(label_col)])
            ).otherwise(line)
        by_file = {}
        for label in prop_dicts:
            plabel = F.when(F.col(label_col) == label, F.lit(pascal_file_label(label))).otherwise(plabel)
            by_file[pascal_file_label(label)] = label
        lines_df = df.select(plabel.alias("_plabel"), line.alias("line"), F.col(SEQ))
        written = write_part_files(lines_df, self.outdir, self.batch_size, ordered=self.ordered_parts)
        for plab, names in written.items():
            self.parts.setdefault(plab, []).extend(names)
            label = by_file[plab]
            known[label] = prop_dicts[label]

    def write_nodes(self, nodes: DataFrame, force: bool = False) -> bool:
        """NODE_SCHEMA DataFrame -> part files + headers. Returns True."""
        nodes = self.admission.nodes(nodes)

        def line_for(label: str, props: dict, labels: Column) -> Column:
            return node_line_expr(
                props,
                labels,
                self.delim,
                self.adelim,
                self.quote,
                self.quote_mode,
                self.array_mode,
                self.node_line_includes_labels,
            )

        self._write_by_label(
            nodes, "node", lambda label: self._all_labels(label, self.node_labels_order, force), line_for
        )
        self.admission.release_earlier_row_pins("node")
        self._write_node_headers()
        return True

    def _write_node_headers(self) -> None:
        for label, props in self.node_property_dict.items():
            plabel = pascal_file_label(label)
            cols = [":ID"] + [_header_type_suffix(k, v) for k, v in props.items()] + [":LABEL"]
            with open(os.path.join(self.outdir, f"{plabel}-header.csv"), "w", encoding="utf-8") as fh:
                fh.write(self.delim.join(cols))
            self.import_call_nodes.add(
                (
                    os.path.join(self.import_call_file_prefix, f"{plabel}-header.csv"),
                    os.path.join(self.import_call_file_prefix, f"{plabel}-part.*"),
                )
            )

    # -- edges ----------------------------------------------------------------

    def _edge_skip_id(self, label: str) -> bool:
        if label in _RAN_EDGE_LABELS:
            return True
        conf = schema_class(self.translator.ontology.mapping.extended_schema, label)
        return conf is not None and conf.get("use_id") is False

    def write_edges(self, edges) -> bool:
        """EDGE_SCHEMA DataFrame or TranslatedEdges -> part files + headers.

        The reified nodes of a TranslatedEdges that survive admission are
        written through the node path, and their helper edges alongside the
        plain edges (:meth:`dedup.Admission.edges`)."""
        ran_nodes, edges = self.admission.edges(edges)
        if ran_nodes is not None:
            self.write_nodes(ran_nodes)

        def line_for(label: str, props: dict, labels: Column) -> Column:
            return edge_line_expr(
                props,
                labels,
                self.delim,
                self.adelim,
                self.quote,
                self._edge_skip_id(label),
                self.quote_mode,
                self.array_mode,
                self.edge_line_includes_labels,
            )

        self._write_by_label(edges, "edge", lambda label: self._all_labels(label, self.edge_labels_order), line_for)
        self.admission.release_earlier_row_pins("edge")
        self._write_edge_headers()
        return True

    def _write_edge_headers(self) -> None:
        for label, props in self.edge_property_dict.items():
            plabel = pascal_file_label(label)
            cols = [":START_ID"]
            if not self._edge_skip_id(label):
                cols.append("id")
            cols += [_header_type_suffix(k, v) for k, v in props.items()]
            cols += [":END_ID", ":TYPE"]
            with open(os.path.join(self.outdir, f"{plabel}-header.csv"), "w", encoding="utf-8") as fh:
                fh.write(self.delim.join(cols))
            self.import_call_edges.add(
                (
                    os.path.join(self.import_call_file_prefix, f"{plabel}-header.csv"),
                    os.path.join(self.import_call_file_prefix, f"{plabel}-part.*"),
                )
            )

    # -- import call -----------------------------------------------------------

    def _import_call(self, import_cmd: str, database_cmd: str, wipe_cmd: str) -> str:
        call = f"{self.import_call_bin_prefix}neo4j-admin {import_cmd} "
        call += f"{database_cmd}{self.db_name} "
        call += f'--delimiter="{self._escaped(self.delim)}" '
        call += f'--array-delimiter="{self._escaped(self.adelim)}" '
        if self.quote == "'":
            call += f'--quote="{self.quote}" '
        else:
            call += f"--quote='{self.quote}' "
        if self.wipe:
            call += f"{wipe_cmd}true "
        if self.skip_bad_relationships:
            call += "--skip-bad-relationships=true "
        if self.skip_duplicate_nodes:
            call += "--skip-duplicate-nodes=true "
        for header, parts in sorted(self.import_call_nodes):
            call += f'--nodes="{header},{parts}" '
        for header, parts in sorted(self.import_call_edges):
            call += f'--relationships="{header},{parts}" '
        return call

    def get_import_call(self) -> str:
        v4 = self._import_call("import", "--database=", "--force=")
        v5 = self._import_call("database import full", "", "--overwrite-destination=")
        shell = os.environ.get("SHELL", "/bin/bash")
        check = f"version=$({self.import_call_bin_prefix}neo4j-admin --version | cut -d '.' -f 1)"
        return (
            f"#!{shell}\n"
            f"{check}\n"
            'echo "Neo4j detected version: $version" >&2\n'
            "if [[ $version -lt 5 ]] ; then\n"
            f"    {v4}\n"
            "else\n"
            f"    {v5}\n"
            "fi\n"
        )

    def _import_script_name(self) -> str:
        return "neo4j-admin-import-call.sh"

    def write_import_call(self) -> str:
        path = os.path.join(self.outdir, self._import_script_name())
        with open(path, "w", encoding="utf-8") as fh:
            fh.write(self.get_import_call())
        return path
