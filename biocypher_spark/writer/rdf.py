"""RDF sink (S8): one file per label; ntriples / turtle / xml / json-ld.

Reference: ``_RDFWriter`` (/root/reference/biocypher/output/write/graph/
_rdf.py:30-687) serializes via rdflib; rdflib is not available in this
sandbox, so every format here is emitted directly from column expressions
(`concat` / `to_json` of escaped terms) — which is also the scalable path:
the serialization work distributes with the data instead of collecting the
graph into an rdflib store. N-Triples is fully line-oriented; turtle / xml
/ json-ld add a constant header/footer spliced in during the single-file
copy. Rows pass the writer's ``dedup.Admission`` first, and a later call's
rows are appended to the label's file (its footer cut and rewritten), so
the file stays one document. Nodes become ``<id> rdf:type <Class>`` plus
one triple per property (reference node triples :347-417); edges with an
id are reified through BIOCYPHER-namespaced ``bc:subject``/``bc:object``
with one triple per edge property, and each edge file types its class
``rdfs:Class`` (reference edge reification + class typing :183-266,
394-398); id-less edges become direct triples (documented deviation:
nothing to reify or hang properties on)."""

from __future__ import annotations

import glob
import os
import re
import shutil

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..dedup import Admission, AdmittingSink
from ..model import json_pystr, local_frame
from ..naming import sentence_to_pascal
from .base import pascal_file_label, require_local_dir

RDF_TYPE = "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>"


def _escape_literal(col):
    out = F.replace(col, F.lit("\\"), F.lit("\\\\"))
    out = F.replace(out, F.lit('"'), F.lit('\\"'))
    out = F.regexp_replace(out, "\n", "\\\\n")
    return F.regexp_replace(out, "\r", "\\\\r")


def _safe_id(col):
    """IRI-safe local name."""
    return F.regexp_replace(col, "[^a-zA-Z0-9_.:-]", "_")


def _iri(namespace: str, col):
    return F.concat(F.lit(f"<{namespace}"), _safe_id(col), F.lit(">"))


def _pn_local(col):
    """Turtle PN_LOCAL-safe local name — SAME charset as :func:`_safe_id`
    (':' and '.' are legal inside PN_LOCAL), so one entity gets one IRI
    across formats; only the grammar's positional rules differ: no leading
    '-' or '.', no trailing '.'."""
    safe = F.regexp_replace(_safe_id(col), "^[-.]", "_")
    return F.regexp_replace(safe, "\\.$", "_")


def _pascal_term(label: str) -> str:
    """Driver-side IRI/XML-name/PN_LOCAL-safe Pascal class name. Labels are
    user vocabulary too — unsanitized they put spaces/quotes into IRIs and
    XML element names ('gene (human)' -> 'Gene (human)'), which parsers
    reject file-wide."""
    p = re.sub(r"[^a-zA-Z0-9_.-]", "_", sentence_to_pascal(label))
    if not p or not re.match(r"[A-Za-z_]", p[0]):
        p = "_" + p
    return p


def _escape_xml(col):
    """XML text-content escaping (property literals land in element text, so
    only the three mandatory entities are needed; IRIs in attributes are
    already sanitized to [a-zA-Z0-9_.:-])."""
    out = F.replace(col, F.lit("&"), F.lit("&amp;"))
    out = F.replace(out, F.lit("<"), F.lit("&lt;"))
    return F.replace(out, F.lit(">"), F.lit("&gt;"))


def _xml_name(col):
    """XML element-name-safe property key (names must not start with a
    digit or '-'; a leading underscore is prefixed if needed)."""
    safe = F.regexp_replace(col, "[^a-zA-Z0-9_-]", "_")
    return F.when(F.substring(safe, 1, 1).rlike("[A-Za-z_]"), safe).otherwise(
        F.concat(F.lit("_"), safe)
    )


TURTLE_FORMATS = ("turtle", "ttl")
TRIG_FORMATS = ("trig",)
XML_FORMATS = ("xml", "rdf/xml", "pretty-xml")
JSONLD_FORMATS = ("json-ld", "jsonld")
TRIX_FORMATS = ("trix",)
SUPPORTED_FORMATS = (
    ("ntriples", "nt") + TURTLE_FORMATS + TRIG_FORMATS + XML_FORMATS + JSONLD_FORMATS + TRIX_FORMATS
)

_RDF_NS = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
_RDFS_NS = "http://www.w3.org/2000/01/rdf-schema#"
_TRIX_NS = "http://www.w3.org/2004/03/trix/trix-1/"

# the one column of a frame of file lines
VALUE_SCHEMA = T.StructType([T.StructField("value", T.StringType())])


class RDFWriter(AdmittingSink):
    """``rdf_format``: ``ntriples`` (default; line-oriented, the scale path),
    ``turtle`` (same triples with @prefix header and prefixed names),
    ``trig`` (turtle inside a default-graph block), ``xml`` (RDF/XML, one
    ``rdf:Description`` block per row), ``json-ld`` (a ``@graph`` of
    per-row node objects, JSON-escaped JVM-side via ``to_json``), or
    ``trix`` (schema-regular TriX XML, one ``<triple>`` element per
    emitted triple) — all serialized from string templates / built-in
    expressions, matching the reference ``_RDFWriter``'s rdflib format
    switch without rdflib (n3 is accepted as turtle by rdflib and not
    separately emitted here)."""

    _extra_prefixes = ""  # turtle @prefix lines a subclass adds

    def __init__(
        self,
        spark,
        translator,
        output_directory: str,
        namespace: str = "https://biocypher.org/biocypher#",
        rdf_format: str = "ntriples",
    ):
        if rdf_format not in SUPPORTED_FORMATS:
            raise ValueError(
                f"rdf_format {rdf_format!r} not supported: one of {SUPPORTED_FORMATS} "
                "(the serializations the reference's rdflib switch emits for this data model)"
            )
        self.spark = spark
        self.translator = translator
        self.outdir = require_local_dir(output_directory, "RDF")
        self.ns = namespace
        self.trig = rdf_format in TRIG_FORMATS
        self.turtle = rdf_format in TURTLE_FORMATS or self.trig
        self.xml = rdf_format in XML_FORMATS
        self.jsonld = rdf_format in JSONLD_FORMATS
        self.trix = rdf_format in TRIX_FORMATS
        os.makedirs(self.outdir, exist_ok=True)
        self.admission = Admission()
        self._files: set[str] = set()  # file names this writer has written

    @property
    def _ext(self) -> str:
        if self.trig:
            return "trig"
        if self.turtle:
            return "ttl"
        if self.xml:
            return "xml"
        if self.trix:
            return "trix"
        return "jsonld" if self.jsonld else "nt"

    def _header(self) -> str:
        if self.trix:
            return f'<?xml version="1.0" encoding="utf-8"?>\n<TriX xmlns="{_TRIX_NS}">\n  <graph>\n'
        if self.xml:
            return (
                '<?xml version="1.0" encoding="utf-8"?>\n'
                "<rdf:RDF\n"
                f'   xmlns:bc="{self.ns}"\n'
                '   xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"\n'
                '   xmlns:rdfs="http://www.w3.org/2000/01/rdf-schema#"\n'
                ">\n"
            )
        if self.jsonld:
            return (
                "{\n"
                f'  "@context": {{"bc": "{self.ns}", '
                '"rdf": "http://www.w3.org/1999/02/22-rdf-syntax-ns#", '
                '"rdfs": "http://www.w3.org/2000/01/rdf-schema#"},\n'
                '  "@graph": [\n'
            )
        if not self.turtle:
            return ""  # N-Triples: lines only
        turtle_header = (
            f"@prefix bc: <{self.ns}> .\n"
            "@prefix rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#> .\n"
            f"@prefix rdfs: <http://www.w3.org/2000/01/rdf-schema#> .\n{self._extra_prefixes}\n"
        )
        # TriG: the same turtle triples inside a default-graph block
        return turtle_header + "{\n" if self.trig else turtle_header

    def _footer(self) -> str:
        if self.jsonld:
            return "\n  ]\n}\n"
        if self.xml:
            return "</rdf:RDF>\n"
        if self.trix:
            return "  </graph>\n</TriX>\n"
        return "}\n" if self.trig else ""

    def _write_label_file(self, lines: DataFrame, filename: str, replace: bool = False) -> str:
        """Write the ``value`` rows of ``lines`` into ``filename`` between
        the format's header and footer. Into a file this writer wrote
        before (unless ``replace``) the rows are appended: the known footer
        is cut, the rows appended and the footer rewritten, so every format
        stays one document. The copy is a driver-side stream of the one
        part file; no row is collected."""
        tmp = os.path.join(self.outdir, "_tmp_rdf")
        lines.coalesce(1).write.mode("overwrite").text(tmp)
        part = glob.glob(os.path.join(tmp, "part-*"))[0]
        target = os.path.join(self.outdir, filename)
        footer = self._footer()
        first = replace or filename not in self._files
        if first:
            with open(target, "w", encoding="utf-8") as out:
                out.write(self._header())
        else:
            with open(target, "rb+") as out:
                out.truncate(out.seek(0, os.SEEK_END) - len(footer.encode()))
        with open(target, "a", encoding="utf-8") as out, open(part, encoding="utf-8") as src:
            if self.jsonld:
                # valid JSON needs separators BETWEEN rows: a comma before
                # every row but the document's first
                for line in src:
                    out.write(("    " if first else ",\n    ") + line.rstrip("\n"))
                    first = False
            else:
                shutil.copyfileobj(src, out)
            out.write(footer)
        self._files.add(filename)
        shutil.rmtree(tmp, ignore_errors=True)
        return target

    def _term(self, col):
        """Subject/predicate/object term from a column value."""
        if self.turtle:
            return F.concat(F.lit("bc:"), _pn_local(col))
        return _iri(self.ns, col)

    def _prop_entries(self):
        """props entries minus null/empty values: the reference's property
        loops are guarded with ``if value:`` so its output never carries
        '\"None\"'/'\"\"' literals. (We keep 0/False — unlike the reference's
        full-falsy skip — since they are real data; only the two
        no-information renderings are dropped.)"""
        return F.filter(
            F.map_entries("props"),
            lambda e: ~json_pystr(e["value"]).isin("None", ""),
        )

    def _prop_triples(self, subject):
        """One N-Triples / Turtle line per property of ``subject``."""
        return F.transform(
            self._prop_entries(),
            lambda e: F.concat(
                subject, F.lit(" "), self._term(e["key"]),
                F.lit(' "'), _escape_literal(json_pystr(e["value"])), F.lit('" .'),
            ),
        )

    def _xml_props(self):
        """The property elements of an ``rdf:Description`` block."""
        return F.concat_ws(
            "",
            F.transform(
                self._prop_entries(),
                lambda e: F.concat(
                    F.lit("    <bc:"), _xml_name(e["key"]), F.lit(">"), _escape_xml(json_pystr(e["value"])),
                    F.lit("</bc:"), _xml_name(e["key"]), F.lit(">\n"),
                ),
            ),
        )

    def _const(self, pascal_name: str) -> str:
        return f"bc:{pascal_name}" if self.turtle else f"<{self.ns}{pascal_name}>"

    @property
    def _rdf_type(self) -> str:
        return "rdf:type" if self.turtle else RDF_TYPE

    @property
    def _rdf_subject(self) -> str:
        # the reference namespaces subject/object in the BIOCYPHER
        # namespace (as_uri('subject', 'biocypher'), _rdf.py:240-252), not
        # rdf: — SPARQL written against reference output matches bc:subject
        return "bc:subject" if self.turtle else f"<{self.ns}subject>"

    @property
    def _rdf_object(self) -> str:
        return "bc:object" if self.turtle else f"<{self.ns}object>"

    def _sanitized_props(self):
        """props map with 'bc:'-prefixed IRI-sanitized keys and JSON-string
        values, FIRST-WINS deduplicated on the sanitized key. Sanitization
        can collide distinct raw keys ('retail price' and 'retail_price'
        both map to bc:retail_price); a plain transform_keys would then
        build a duplicate-key map, which errors the whole label write under
        Spark's default mapKeyDedupPolicy=EXCEPTION. The triple-per-key
        formats emit both colliding triples; one JSON object cannot, so the
        first entry (map_entries preserves insertion order) is kept."""
        sanitized = F.transform(
            self._prop_entries(),
            lambda e: F.struct(
                F.concat(F.lit("bc:"), _safe_id(e["key"])).alias("key"),
                json_pystr(e["value"]).alias("value"),
            ),
        )
        keys = F.transform(sanitized, lambda e: e["key"])
        first_wins = F.filter(
            sanitized, lambda e, i: F.array_position(keys, e["key"]) == i + F.lit(1)
        )
        return F.map_from_entries(first_wins)

    def write_nodes(self, nodes: DataFrame) -> list[str]:
        written = []
        nodes = self.admission.nodes(nodes)
        # a NULL props map would otherwise null out concat()/map_concat()
        # chains: the node would vanish from nt/ttl/trix (explode of NULL)
        # and corrupt the JSON-LD array — normalize to the empty map once
        nodes = nodes.withColumn(
            "props", F.coalesce(F.col("props"), F.create_map().cast("map<string,string>"))
        )
        labels = [r[0] for r in nodes.select("node_label").distinct().collect()]
        for label in labels:
            sub = nodes.filter(F.col("node_label") == label)
            pascal = _pascal_term(label)
            if self.jsonld:
                # one JSON object per node row; all string values, escaped
                # JVM-side by to_json (props merged as a dynamic-key map)
                obj = F.to_json(
                    F.map_concat(
                        F.create_map(
                            F.lit("@id"),
                            F.concat(F.lit("bc:"), _safe_id(F.col("node_id"))),
                            F.lit("@type"),
                            F.lit(f"bc:{pascal}"),
                        ),
                        # property keys are namespaced (and IRI-sanitized)
                        # like every other format: un-prefixed keys are not
                        # declared in @context so JSON-LD expansion would
                        # silently drop them, and a key literally named
                        # '@id'/'@type' would collide in map_concat
                        self._sanitized_props(),
                    )
                )
                lines = sub.select(obj.alias("value"))
            elif self.trix:
                subj = F.concat(
                    F.lit(f"    <triple><uri>{self.ns}"), _safe_id(F.col("node_id")), F.lit("</uri>")
                )
                type_line = F.concat(
                    subj, F.lit(f"<uri>{_RDF_NS}type</uri><uri>{self.ns}{pascal}</uri></triple>")
                )
                prop_lines = F.transform(
                    self._prop_entries(),
                    lambda e: F.concat(
                        subj,
                        F.lit(f"<uri>{self.ns}"),
                        _safe_id(e["key"]),
                        F.lit("</uri><plainLiteral>"),
                        _escape_xml(json_pystr(e["value"])),
                        F.lit("</plainLiteral></triple>"),
                    ),
                )
                lines = sub.select(
                    F.explode(F.concat(F.array(type_line), prop_lines)).alias("value")
                )
            elif self.xml:
                block = F.concat(
                    F.lit(f'  <rdf:Description rdf:about="{self.ns}'),
                    _safe_id(F.col("node_id")),
                    F.lit('">\n'),
                    F.lit(f'    <rdf:type rdf:resource="{self.ns}{pascal}"/>\n'),
                    self._xml_props(),
                    F.lit("  </rdf:Description>"),
                )
                lines = sub.select(block.alias("value"))
            else:
                subject = self._term(F.col("node_id"))
                type_line = F.concat(subject, F.lit(f" {self._rdf_type} {self._const(pascal)} ."))
                lines = sub.select(
                    F.explode(F.concat(F.array(type_line), self._prop_triples(subject))).alias("value")
                )
            written.append(self._write_label_file(lines, f"{pascal_file_label(label)}.{self._ext}"))
        self.admission.release_earlier_row_pins("node")
        return written

    def write_edges(self, edges) -> list[str]:
        """Edges, or a TranslatedEdges whose surviving reified nodes are
        written as nodes (:meth:`dedup.Admission.edges`)."""
        ran_nodes, edges = self.admission.edges(edges)
        written = [] if ran_nodes is None else self.write_nodes(ran_nodes)
        edges = edges.withColumn(
            "props", F.coalesce(F.col("props"), F.create_map().cast("map<string,string>"))
        )
        labels = [r[0] for r in edges.select("relationship_label").distinct().collect()]
        for label in labels:
            sub = edges.filter(F.col("relationship_label") == label)
            pascal = _pascal_term(label)
            if self.jsonld:
                ref = lambda col: F.struct(F.concat(F.lit("bc:"), _safe_id(col)).alias("@id"))  # noqa: E731
                direct = F.to_json(
                    F.struct(
                        F.concat(F.lit("bc:"), _safe_id(F.col("source_id"))).alias("@id"),
                        ref(F.col("target_id")).alias(f"bc:{pascal}"),
                    )
                )
                base = F.to_json(
                    F.struct(
                        F.concat(F.lit("bc:"), _safe_id(F.col("relationship_id"))).alias("@id"),
                        F.lit(f"bc:{pascal}").alias("@type"),
                        ref(F.col("source_id")).alias("bc:subject"),
                        ref(F.col("target_id")).alias("bc:object"),
                    )
                )
                # splice the (string-valued) sanitized props object into the
                # reified JSON — struct fields are fixed-typed, a map can't
                # mix the @id refs with string props, so merge textually
                sp = self._sanitized_props()
                reified = F.concat(
                    F.regexp_replace(base, "\\}$", ""),
                    F.when(
                        F.size(sp) > 0,
                        F.concat(F.lit(","), F.regexp_replace(F.to_json(sp), "^\\{", "")),
                    ).otherwise(F.lit("}")),
                )
                lines = sub.select(
                    F.when(F.col("relationship_id").isNotNull(), reified)
                    .otherwise(direct)
                    .alias("value")
                )
                cls_line = f'{{"@id": "bc:{pascal}", "@type": "rdfs:Class"}}'
            elif self.trix:
                uri = lambda col: F.concat(F.lit(f"<uri>{self.ns}"), _safe_id(col), F.lit("</uri>"))  # noqa: E731
                direct = F.concat(
                    F.lit("    <triple>"),
                    uri(F.col("source_id")),
                    F.lit(f"<uri>{self.ns}{pascal}</uri>"),
                    uri(F.col("target_id")),
                    F.lit("</triple>"),
                )
                rel = uri(F.col("relationship_id"))
                prop_triples = F.concat_ws(
                    "",
                    F.transform(
                        self._prop_entries(),
                        lambda e: F.concat(
                            F.lit("\n    <triple>"),
                            rel,
                            F.lit(f"<uri>{self.ns}"),
                            _safe_id(e["key"]),
                            F.lit("</uri><plainLiteral>"),
                            _escape_xml(json_pystr(e["value"])),
                            F.lit("</plainLiteral></triple>"),
                        ),
                    ),
                )
                reified = F.concat(
                    F.lit("    <triple>"),
                    rel,
                    F.lit(f"<uri>{_RDF_NS}type</uri><uri>{self.ns}{pascal}</uri></triple>\n    <triple>"),
                    rel,
                    F.lit(f"<uri>{self.ns}subject</uri>"),
                    uri(F.col("source_id")),
                    F.lit("</triple>\n    <triple>"),
                    rel,
                    F.lit(f"<uri>{self.ns}object</uri>"),
                    uri(F.col("target_id")),
                    F.lit("</triple>"),
                    prop_triples,
                )
                lines = sub.select(
                    F.when(F.col("relationship_id").isNotNull(), reified).otherwise(direct).alias("value")
                )
                cls_line = (
                    f"    <triple><uri>{self.ns}{pascal}</uri>"
                    f"<uri>{_RDF_NS}type</uri><uri>{_RDFS_NS}Class</uri></triple>"
                )
            elif self.xml:
                res = lambda col: F.concat(F.lit(f'rdf:resource="{self.ns}'), _safe_id(col), F.lit('"'))  # noqa: E731
                direct = F.concat(
                    F.lit(f'  <rdf:Description rdf:about="{self.ns}'),
                    _safe_id(F.col("source_id")),
                    F.lit('">\n'),
                    F.lit(f"    <bc:{pascal} "),
                    res(F.col("target_id")),
                    F.lit("/>\n  </rdf:Description>"),
                )
                reified = F.concat(
                    F.lit(f'  <rdf:Description rdf:about="{self.ns}'),
                    _safe_id(F.col("relationship_id")),
                    F.lit('">\n'),
                    F.lit(f'    <rdf:type rdf:resource="{self.ns}{pascal}"/>\n'),
                    F.lit("    <bc:subject "),
                    res(F.col("source_id")),
                    F.lit("/>\n    <bc:object "),
                    res(F.col("target_id")),
                    F.lit("/>\n"),
                    self._xml_props(),
                    F.lit("  </rdf:Description>"),
                )
                lines = sub.select(
                    F.when(F.col("relationship_id").isNotNull(), reified).otherwise(direct).alias("value")
                )
                cls_line = (
                    f'  <rdf:Description rdf:about="{self.ns}{pascal}">\n'
                    f'    <rdf:type rdf:resource="{_RDFS_NS}Class"/>\n'
                    "  </rdf:Description>"
                )
            else:
                pred = self._const(pascal)
                src = self._term(F.col("source_id"))
                tgt = self._term(F.col("target_id"))
                direct = F.concat(src, F.lit(f" {pred} "), tgt, F.lit(" ."))
                rel = self._term(F.col("relationship_id"))
                # one line per triple via explode (props ride on the
                # reified edge node, reference _rdf.py:254-259)
                reified_arr = F.concat(
                    F.array(
                        F.concat(rel, F.lit(f" {self._rdf_type} {pred} .")),
                        F.concat(rel, F.lit(f" {self._rdf_subject} "), src, F.lit(" .")),
                        F.concat(rel, F.lit(f" {self._rdf_object} "), tgt, F.lit(" .")),
                    ),
                    self._prop_triples(rel),
                )
                arr = F.when(F.col("relationship_id").isNotNull(), reified_arr).otherwise(
                    F.array(direct)
                )
                lines = sub.select(F.explode(arr).alias("value"))
                if self.turtle:
                    cls_line = f"bc:{pascal} rdf:type rdfs:Class ."
                else:
                    cls_line = f"<{self.ns}{pascal}> {RDF_TYPE} <{_RDFS_NS}Class> ."
            # the reference types every edge class rdfs:Class in its file
            # (_rdf.py:394-398) — one driver-literal row in front, once
            name = f"{pascal_file_label(label)}.{self._ext}"
            if name not in self._files:
                lines = local_frame(self.spark, [(cls_line,)], VALUE_SCHEMA).union(lines)
            written.append(self._write_label_file(lines, name))
        self.admission.release_earlier_row_pins("edge")
        return written
