"""Canonical Spark schemas and tuple <-> DataFrame helpers.

The engine's staging representation keeps property bags as
``map<string,string>`` where every *value* is JSON-encoded (``4.0``,
``true``, ``"text"``, ``["a","b"]``). This keeps one stable wire type
through extraction -> translate -> dedup while preserving scalar types for
the writers, which cast per the declared schema. All per-row work stays
JVM-side; JSON encode/decode uses built-in functions only.

Reference data shapes: node 3-tuples / edge 5-tuples
(/root/reference/biocypher/_translate.py:60-73, 228-230) and the
BioCypherNode/Edge dataclasses (/root/reference/biocypher/_create.py:22-209).
"""

from __future__ import annotations

import json
from typing import Iterable

import pyarrow as pa
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

# arrival-order column used for deterministic first-wins dedup
SEQ = "_seq"

NODE_SCHEMA = T.StructType(
    [
        T.StructField("node_id", T.StringType()),
        T.StructField("node_label", T.StringType()),
        T.StructField("preferred_id", T.StringType()),
        T.StructField("props", T.MapType(T.StringType(), T.StringType())),
        T.StructField(SEQ, T.LongType()),
    ]
)

EDGE_SCHEMA = T.StructType(
    [
        T.StructField("relationship_id", T.StringType()),
        T.StructField("source_id", T.StringType()),
        T.StructField("target_id", T.StringType()),
        T.StructField("relationship_label", T.StringType()),
        T.StructField("props", T.MapType(T.StringType(), T.StringType())),
        T.StructField(SEQ, T.LongType()),
    ]
)


def encode_props(props: dict | None) -> dict[str, str]:
    """JSON-encode each property value (driver-side, test/fixture helper)."""
    return {k: json.dumps(v) for k, v in (props or {}).items()}


def local_frame(spark: SparkSession, rows: Iterable[tuple], schema: T.StructType) -> DataFrame:
    """Rows built in Python -> DataFrame through one Arrow stream.

    ``createDataFrame`` over a Python list pickles the rows through
    ``parallelize`` and a Python ``map``, so every consumer of the frame
    starts a Python worker (a ``PythonRDD`` stage). A ``pyarrow.Table`` is
    read by the JVM directly, whatever ``spark.sql.execution.arrow.*`` says.
    """
    arrow = to_arrow_schema(schema)
    cols = list(zip(*rows)) or [()] * len(arrow)
    table = pa.Table.from_arrays([pa.array(c, type=f.type) for c, f in zip(cols, arrow)], schema=arrow)
    return spark.createDataFrame(table, schema=schema)


_NODE_TUPLE_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType()),
        T.StructField("input_label", T.StringType()),
        T.StructField("_pk", T.ArrayType(T.StringType())),
        T.StructField("_pv", T.ArrayType(T.StringType())),
        T.StructField(SEQ, T.LongType()),
    ]
)

_EDGE_TUPLE_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType()),
        T.StructField("src", T.StringType()),
        T.StructField("tgt", T.StringType()),
        T.StructField("input_label", T.StringType()),
        T.StructField("_pk", T.ArrayType(T.StringType())),
        T.StructField("_pv", T.ArrayType(T.StringType())),
        T.StructField(SEQ, T.LongType()),
    ]
)


def _ordered_map_df(df: DataFrame) -> DataFrame:
    """Build the props map from parallel key/value arrays.

    Python dict -> Spark map conversion does not preserve insertion order;
    ``map_from_arrays`` does, and property order matters for first-entity
    type inference and rel-as-node id synthesis.
    """
    return df.withColumn("props", F.map_from_arrays("_pk", "_pv")).drop("_pk", "_pv")


def nodes_from_tuples(spark: SparkSession, tuples: Iterable[tuple]) -> DataFrame:
    """(id, input_label, props) tuples -> staged node DataFrame."""
    rows = []
    for i, t in enumerate(tuples):
        enc = encode_props(t[2] if len(t) > 2 else {})
        rows.append((str(t[0]), str(t[1]), list(enc.keys()), list(enc.values()), i))
    return _ordered_map_df(spark.createDataFrame(rows, _NODE_TUPLE_SCHEMA)).select(
        "id", "input_label", "props", SEQ
    )


def edges_from_tuples(spark: SparkSession, tuples: Iterable[tuple]) -> DataFrame:
    """(id?, src, tgt, input_label, props) 4/5-tuples -> staged edge DataFrame.

    Legacy 4-tuples (no id) are padded with None, mirroring
    /root/reference/biocypher/_translate.py:228-230.
    """
    rows = []
    for i, t in enumerate(tuples):
        if len(t) == 4:
            _id, src, tgt, lab, props = None, t[0], t[1], t[2], t[3]
        else:
            _id, src, tgt, lab, props = t
        enc = encode_props(props)
        rows.append(
            (
                str(_id) if _id is not None else None,
                str(src),
                str(tgt),
                str(lab),
                list(enc.keys()),
                list(enc.values()),
                i,
            )
        )
    return _ordered_map_df(spark.createDataFrame(rows, _EDGE_TUPLE_SCHEMA)).select(
        "id", "src", "tgt", "input_label", "props", SEQ
    )


# -- JSON scalar helpers (all JVM-side expressions) -------------------------


# Jackson escapes exactly '"', '\' and U+0000-U+001F in a JSON string;
# every other character stands as itself (Java regexes)
_JSON_ESCAPED = r'["\\\x00-\x1f]'
_JSON_PLAIN = r'^"[^"\\\x00-\x1f]*"\z'  # \z: `$` also matches before a final line break


def json_encode_str(col: Column) -> Column:
    """JSON-encode a string column: ``abc`` -> ``"abc"``, NULL -> ``null``.

    A value with nothing to escape is only wrapped in quotes; any other
    value, NULL included, goes through Jackson (``to_json``). Both give the
    same text, and the common plain value skips a JSON generator per row."""
    arr = F.to_json(F.array(col))
    jackson = F.substring(arr, F.lit(2), F.length(arr) - F.lit(2))
    return F.when(~col.rlike(_JSON_ESCAPED), F.concat(F.lit('"'), col, F.lit('"'))).otherwise(jackson)


def json_decode_str(col: Column) -> Column:
    """Decode a JSON-encoded scalar to its string value (null-safe).

    A quoted string with no escape and no raw control character is the text
    between its quotes; anything else, NULL and malformed text included,
    goes through Jackson (``from_json``). Both give the same value, and the
    common plain value skips a JSON parser per row. Text Jackson reads as an
    empty array (blank, ``]``) decodes to NULL."""
    jackson = F.get(F.from_json(F.concat(F.lit("["), col, F.lit("]")), T.ArrayType(T.StringType())), 0)
    return F.when(col.rlike(_JSON_PLAIN), F.substring(col, F.lit(2), F.length(col) - F.lit(2))).otherwise(jackson)


def json_pystr(col: Column) -> Column:
    """JSON-encoded scalar -> the string Python's ``str()`` would produce.

    ``true``/``false`` -> ``True``/``False``; ``null`` (or missing) ->
    ``None``; quoted strings are decoded; numbers pass through. Used for the
    reference-compatible rel-as-node id synthesis
    (/root/reference/biocypher/_translate.py:278). Arrays fall back to their
    JSON text (documented deviation; reference would use Python list repr).
    """
    return (
        F.when(col.isNull() | (col == "null"), F.lit("None"))
        .when(col == "true", F.lit("True"))
        .when(col == "false", F.lit("False"))
        .when(col.startswith('"'), json_decode_str(col))
        .otherwise(col)
    )


def scrub_newlines(col: Column) -> Column:
    """Replace CR/LF with spaces in a decoded string column.

    Reference scrubs every string property at node construction
    (/root/reference/biocypher/_create.py:73-94); we apply it at the writer
    edge so raw transcript text stays intact in lineage tables (the
    per-turn-text-equality invariant).
    """
    return F.regexp_replace(col, "\r\n|\r|\n", " ")


def with_seq(df: DataFrame) -> DataFrame:
    """Attach a deterministic arrival-order column if absent.

    For files read in a stable order this yields a stable first-wins
    ordering per partition; pipelines at scale should instead pass explicit
    ordering keys (e.g. conv_id, turn_idx) to the dedup stage.
    """
    if SEQ in df.columns:
        return df
    return df.withColumn(SEQ, F.monotonically_increasing_id())
