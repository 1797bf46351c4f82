"""Spark translator: staged input tuples -> typed BioCypher nodes/edges.

The reference translates row-by-row in a Python generator
(/root/reference/biocypher/_translate.py:75-335). Here the input-label ->
ontology-class mapping is compiled driver-side into a small DataFrame and
**broadcast-joined** against the staged input; property filtering, strict
validation, preferred-id attachment, and the rel-as-node 1->3 explode are all
built-in column expressions (no Python UDFs), so the whole stage stays inside
whole-stage codegen and Catalyst can push filters into the scan.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Optional

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .model import SEQ, json_decode_str, json_encode_str, json_pystr, local_frame
from .naming import sentence_to_pascal, to_list
from .ontology import NullOntology

_STRICT_PROPS = ["source", "licence", "version"]

_MAPPING_SCHEMA = T.StructType(
    [
        T.StructField("input_label", T.StringType()),
        T.StructField("cls", T.StringType()),
        T.StructField("preferred_id", T.StringType()),
        T.StructField("represented_as", T.StringType()),
        T.StructField("label_as_edge", T.StringType()),
        T.StructField("whitelist", T.ArrayType(T.StringType())),
        T.StructField("exclude", T.ArrayType(T.StringType())),
    ]
)


@dataclass
class TranslatedEdges:
    """Result of edge translation: plain edges plus rel-as-node parts."""

    edges: DataFrame
    ran_nodes: DataFrame  # reified relationship nodes (NODE_SCHEMA)
    ran_edges: DataFrame  # IS_SOURCE_OF / IS_TARGET_OF / role edges
    missing: DataFrame  # (input_label, count) of unmapped labels

    def flattened(self) -> tuple[DataFrame, DataFrame]:
        """``(reified nodes, plain and helper edges)`` as translated, with no
        dedup: for a sink whose writes are idempotent upserts."""
        return self.ran_nodes.drop(*RAN_HIDDEN_COLS), self.edges.unionByName(self.ran_edges)


@dataclass
class TranslatedNodes:
    nodes: DataFrame
    missing: DataFrame


RAN_HIDDEN_COLS = ["_src", "_tgt", "_l1", "_l2"]


def ran_helper_edges(nodes_with_endpoints: DataFrame) -> DataFrame:
    """Explode rel-as-node rows carrying hidden endpoint/role columns into
    their IS_SOURCE_OF/IS_TARGET_OF (or role) helper-edge pairs. Narrow
    (no shuffle); used by the translator and by triplet dedup so the edges
    always correspond 1:1 to the surviving node rows."""
    empty_props = F.create_map().cast("map<string,string>")
    return nodes_with_endpoints.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit(None).cast("string").alias("relationship_id"),
                    F.col("_src").alias("source_id"),
                    F.col("node_id").alias("target_id"),
                    F.col("_l1").alias("relationship_label"),
                    empty_props.alias("props"),
                    F.col(SEQ).alias(SEQ),
                ),
                F.struct(
                    F.lit(None).cast("string").alias("relationship_id"),
                    F.col("_tgt").alias("source_id"),
                    F.col("node_id").alias("target_id"),
                    F.col("_l2").alias("relationship_label"),
                    empty_props.alias("props"),
                    F.col(SEQ).alias(SEQ),
                ),
            )
        ).alias("e")
    ).select("e.*")


class SparkTranslator:
    """Broadcast-join translator with reference-equivalent semantics."""

    def __init__(self, spark: SparkSession, ontology=None, strict_mode: bool = False):
        self.spark = spark
        self.ontology = ontology or NullOntology()
        self.strict_mode = strict_mode
        self._compile_mapping()

    # -- driver-side mapping compile ------------------------------------

    def _compile_mapping(self) -> None:
        """input_label -> class rows; later schema entries win on collision.

        Mirrors ``Translator._update_ontology_types``
        (/root/reference/biocypher/_translate.py:369-390). Also builds the
        Cypher term-translation dictionaries (T9 parity).
        """
        rows: dict[str, tuple] = {}
        self.mappings: dict[str, str] = {}
        self.reverse_mappings: dict[str, str | list] = {}

        for cls, conf in self.ontology.mapping.extended_schema.items():
            labels = conf.get("input_label")
            whitelist = conf.get("properties") or None
            if whitelist is not None and not isinstance(whitelist, dict):
                raise AttributeError(
                    f"Properties for type {cls} should be a dictionary. Verify your schema "
                    "(did you declare properties as a list?)"
                )
            wl_keys = list(whitelist.keys()) if whitelist else None
            if self.strict_mode and wl_keys:
                wl_keys = wl_keys + [p for p in _STRICT_PROPS if p not in wl_keys]
            exclude = to_list(conf.get("exclude_properties"))
            for lab in to_list(labels):
                rows[lab] = (
                    lab,
                    cls,
                    conf.get("preferred_id", "id"),
                    conf.get("represented_as"),
                    conf.get("label_as_edge"),
                    wl_keys,
                    exclude,
                )
            target = conf.get("label_as_edge") or cls
            for lab in to_list(labels):
                self.mappings[lab] = sentence_to_pascal(target)
            # raw input_label as-is (list or scalar), matching the reference's
            # reverse-mapping store — lists make reverse_translate ambiguous
            # and raise there, scalars translate directly; a class WITHOUT
            # an input_label (ontology-only/parent) must not register None,
            # or reverse_translate would rewrite ':Class)' to ':None)'
            if labels is not None:
                self.reverse_mappings[sentence_to_pascal(target)] = labels

        self._mapping_rows = list(rows.values())

    def reified_input_labels(self) -> set:
        """Input labels translate_edges reifies: those whose class (the last
        schema entry claiming the label) is ``represented_as: node``."""
        return {row[0] for row in self._mapping_rows if row[3] == "node"}

    def mapping_df(self) -> DataFrame:
        return local_frame(self.spark, self._mapping_rows, _MAPPING_SCHEMA)

    # -- shared pieces ----------------------------------------------------

    def _strict_prepare(self, df: DataFrame, kind: str) -> DataFrame:
        """license->licence rename + required-property validation (T4).

        Reference raises on the first offending entity
        (/root/reference/biocypher/_translate.py:96-111, 233-259); we
        validate set-wise with one aggregate and raise with an example id.
        """
        props = F.col("props")
        lic = F.element_at(props, "license")
        # drop BOTH spellings before re-adding: an entity carrying 'license'
        # AND 'licence' would otherwise hit DUPLICATED_MAP_KEY under the
        # default mapKeyDedupPolicy=EXCEPTION; the reference's
        # props['licence'] = props.pop('license') overwrites — same here
        renamed = F.when(
            lic.isNotNull(),
            F.map_concat(
                F.map_filter(props, lambda k, v: ~k.isin("license", "licence")),
                F.create_map(F.lit("licence"), lic),
            ),
        ).otherwise(props)
        df = df.withColumn("props", renamed)
        missing_req = df.filter(
            ~F.map_contains_key(F.col("props"), "source")
            | ~F.map_contains_key(F.col("props"), "licence")
            | ~F.map_contains_key(F.col("props"), "version")
        )
        offender = missing_req.select(F.col("id")).head(1)
        if offender:
            raise ValueError(
                f"{kind} {offender[0][0]} is missing one of the required strict-mode "
                f"properties {_STRICT_PROPS}."
            )
        return df

    @staticmethod
    def _filtered_props() -> Column:
        """Apply whitelist/exclude semantics of ``_filter_props``
        (/root/reference/biocypher/_translate.py:157-201).

        With a whitelist the output keys are exactly the whitelist (excluded
        or absent keys present with null, i.e. the reference's None-fill);
        with only an exclude list, matching keys are dropped; otherwise
        props pass through.
        """
        props = F.col("props")
        wl = F.col("whitelist")
        excl = F.col("exclude")
        whitelisted = F.map_from_arrays(
            wl,
            F.transform(
                wl,
                lambda k: F.when(F.array_contains(excl, k), F.lit(None).cast("string")).otherwise(
                    F.element_at(props, k)
                ),
            ),
        )
        excluded_only = F.map_filter(props, lambda k, v: ~F.array_contains(excl, k))
        return (
            F.when(wl.isNotNull(), whitelisted)
            .when(F.size(excl) > 0, excluded_only)
            .otherwise(props)
        )

    def _missing(self, joined: DataFrame) -> DataFrame:
        """Unmapped input labels -> (input_label, count) metrics table (T5)."""
        return (
            joined.filter(F.col("cls").isNull())
            .groupBy("input_label")
            .agg(F.count(F.lit(1)).alias("count"))
        )

    # -- nodes -------------------------------------------------------------

    def translate_nodes(self, nodes_in: DataFrame) -> TranslatedNodes:
        """Staged node tuples -> NODE_SCHEMA rows + missing-type metrics.

        Equivalent of ``Translator.translate_nodes``
        (/root/reference/biocypher/_translate.py:75-143) plus the
        BioCypherNode property injection (`id`, `preferred_id`) from
        /root/reference/biocypher/_create.py:52-71.
        """
        if self.strict_mode:
            nodes_in = self._strict_prepare(nodes_in, "Node")
        joined = nodes_in.join(F.broadcast(self.mapping_df()), "input_label", "left")
        missing = self._missing(joined)
        matched = joined.filter(F.col("cls").isNotNull())

        props_out = self._filtered_props()
        # drop reserved :TYPE, stale id/preferred_id, then inject canonical ones
        props_out = F.map_filter(props_out, lambda k, v: ~k.isin(":TYPE", "id", "preferred_id"))
        props_out = F.map_concat(
            props_out,
            F.create_map(
                F.lit("id"), json_encode_str(F.col("id")),
                F.lit("preferred_id"), json_encode_str(F.col("preferred_id")),
            ),
        )
        nodes = matched.select(
            F.col("id").alias("node_id"),
            F.col("cls").alias("node_label"),
            F.col("preferred_id"),
            props_out.alias("props"),
            F.col(SEQ),
        )
        return TranslatedNodes(nodes=nodes, missing=missing)

    # -- edges -------------------------------------------------------------

    def translate_edges(self, edges_in: DataFrame) -> TranslatedEdges:
        """Staged edge tuples -> edges + rel-as-node explode + metrics.

        Equivalent of ``Translator.translate_edges``
        (/root/reference/biocypher/_translate.py:203-335): plain edges keep
        ``label_as_edge`` (or the class) as relationship label; classes with
        ``represented_as: node`` become one reified node plus two edges with
        IS_SOURCE_OF/IS_TARGET_OF (directed), src_role/tar_role, or
        IS_PART_OF labels. The reified node id is synthesized as
        ``{src}_{tgt}_{joined property values}`` when no id is provided.
        """
        if self.strict_mode:
            edges_in = self._strict_prepare(edges_in, "Edge")
        joined = edges_in.join(F.broadcast(self.mapping_df()), "input_label", "left")
        # an edge class admitted to the schema without represented_as cannot
        # be routed (plain vs rel-as-node) — the reference fails loudly with
        # KeyError on extended_schema[...]["represented_as"]
        # (_translate.py:270). Raising per-row doesn't distribute, so such
        # edges are surfaced through the missing-labels metrics instead of
        # being silently dropped by the NULL-failing filters below.
        unroutable = F.col("cls").isNotNull() & F.col("represented_as").isNull()
        missing = self._missing(
            joined.withColumn("cls", F.when(unroutable, F.lit(None)).otherwise(F.col("cls")))
        )
        matched = joined.filter(F.col("cls").isNotNull() & F.col("represented_as").isNotNull())

        fprops = self._filtered_props()
        # reserved keys for edges: :TYPE, id, _ID (BioCypherEdge.__post_init__,
        # /root/reference/biocypher/_create.py:184-209)
        edge_props = F.map_filter(fprops, lambda k, v: ~k.isin(":TYPE", "id", "_ID"))

        plain = matched.filter(F.col("represented_as") != "node").select(
            F.col("id").alias("relationship_id"),
            F.col("src").alias("source_id"),
            F.col("tgt").alias("target_id"),
            F.coalesce(F.col("label_as_edge"), F.col("cls")).alias("relationship_label"),
            edge_props.alias("props"),
            F.col(SEQ),
        )

        ran = matched.filter(F.col("represented_as") == "node").withColumn("fprops", fprops)
        synth_id = F.concat(
            F.col("src"), F.lit("_"), F.col("tgt"), F.lit("_"),
            F.concat_ws("_", F.transform(F.map_values(F.col("fprops")), json_pystr)),
        )
        ran = ran.withColumn("ran_id", F.coalesce(F.col("id"), synth_id))
        directed = F.element_at(F.col("fprops"), "directed") == F.lit("true")
        src_role = json_decode_str(F.element_at(F.col("fprops"), "src_role"))
        tar_role = json_decode_str(F.element_at(F.col("fprops"), "tar_role"))
        # truthiness, not just non-null: the reference's .get(...) fallback
        # treats EMPTY role strings as absent (IS_PART_OF), and an empty
        # relationship label would also break the part-file layout
        # (pascal_file_label('') == '')
        has_roles = (
            src_role.isNotNull() & (src_role != "") & tar_role.isNotNull() & (tar_role != "")
        )
        ran = ran.withColumn(
            "l1",
            F.when(directed, F.lit("IS_SOURCE_OF")).when(has_roles, src_role).otherwise(F.lit("IS_PART_OF")),
        ).withColumn(
            "l2",
            F.when(directed, F.lit("IS_TARGET_OF")).when(has_roles, tar_role).otherwise(F.lit("IS_PART_OF")),
        )

        node_props = F.map_filter(F.col("fprops"), lambda k, v: ~k.isin(":TYPE", "id", "preferred_id"))
        node_props = F.map_concat(
            node_props,
            F.create_map(
                F.lit("id"), json_encode_str(F.col("ran_id")),
                F.lit("preferred_id"), F.lit('"id"'),
            ),
        )
        # hidden endpoint/role columns let downstream dedup rebuild the helper
        # edges from the SURVIVING node rows (first triplet wins exactly, even
        # when SEQ ties or duplicate ids carry different endpoints) instead of
        # semi-joining on a non-unique (target_id, SEQ) key
        ran_nodes = ran.select(
            F.col("ran_id").alias("node_id"),
            F.col("cls").alias("node_label"),
            F.lit("id").alias("preferred_id"),
            node_props.alias("props"),
            F.col(SEQ),
            F.col("src").alias("_src"),
            F.col("tgt").alias("_tgt"),
            F.col("l1").alias("_l1"),
            F.col("l2").alias("_l2"),
        )

        ran_edges = ran_helper_edges(
            ran.select(
                F.col("ran_id").alias("node_id"),
                F.col("src").alias("_src"),
                F.col("tgt").alias("_tgt"),
                F.col("l1").alias("_l1"),
                F.col("l2").alias("_l2"),
                F.col(SEQ),
            )
        )

        return TranslatedEdges(
            edges=plain,
            ran_nodes=ran_nodes,
            ran_edges=ran_edges,
            missing=missing,
        )

    # -- term/query translation (T9, API parity) ---------------------------

    def translate_term(self, term: str) -> Optional[str]:
        return self.mappings.get(term)

    def reverse_translate_term(self, term: str):
        return self.reverse_mappings.get(term)

    def translate(self, query: str) -> str:
        for key, val in self.mappings.items():
            query = query.replace(":" + key, ":" + val)
        return query

    def reverse_translate(self, query: str) -> str:
        for key, val in self.reverse_mappings.items():
            a, b = f":{key})", f":{key}]"
            if a in query or b in query:
                if isinstance(val, list):
                    raise NotImplementedError(
                        f"Many-to-one mappings are not reversible ({key} -> {val})."
                    )
                query = query.replace(a, f":{val})").replace(b, f":{val}]")
        return query
