"""Output checks: each product's output against an independent DuckDB computation.

The expected graph is derived from the generated input with the rules the
engine documents: the default gazetteer patterns, surfaces normalized to
lowercase alphanumerics, canonical id = the least normalized surface of its
blocking key (first letter + trailing digits; every pair inside such a block
of the generated vocabulary scores above the linking threshold), node id =
``label:canonical``, edges = entity pairs within one turn, oriented
protein -> disease or by canonical id, with ``turns`` the number of turns
that name both.
"""

from __future__ import annotations

import glob
import os

import duckdb

_MENTIONS = r"""
    select conv_id, turn_idx, label, s as surface,
           regexp_replace(lower(s), '[^a-z0-9]', '', 'g') as nkey
    from (
        select conv_id, turn_idx, 'protein' as label,
               unnest(regexp_extract_all(text, '(?:PROT|prot-|Protein )\d+')) as s
        from read_parquet('{src}/*.parquet')
        union all
        select conv_id, turn_idx, 'disease', unnest(regexp_extract_all(text, 'DIS\d+'))
        from read_parquet('{src}/*.parquet')
    )
"""

_CANON = {
    # KGPipeline.run: blocked similarity linking
    "linked": r"""
        select nkey, min(nkey) over (
            partition by left(nkey, 1) || regexp_extract(nkey, '[0-9]+$')) as cid
        from (select distinct nkey from m)
    """,
    # stream_kg without a mapping: the normalized surface is the canonical id
    "identity": "select distinct nkey, nkey as cid from m",
}

_GRAPH = """
    create or replace temp table m as {mentions};
    create or replace temp table c as {canon};
    create or replace temp table ents as
        select distinct conv_id, turn_idx, label, cid, surface
        from m join c using (nkey);
    create or replace temp table exp_nodes as
        select label || ':' || cid as id, min(surface) as name from ents group by all;
    create or replace temp table exp_edges as
        with e as (select distinct conv_id, turn_idx, label, cid from ents),
        p as (
            select a.conv_id, a.turn_idx,
                   case when a.label = b.label then a.label || ':' || least(a.cid, b.cid)
                        else 'protein:' || (case when a.label = 'protein' then a.cid else b.cid end) end as src,
                   case when a.label = b.label then a.label || ':' || greatest(a.cid, b.cid)
                        else 'disease:' || (case when a.label = 'disease' then a.cid else b.cid end) end as tgt,
                   case when a.label = b.label then 'INTERACTS_WITH' else 'LINKED_TO' end as type
            from e a join e b using (conv_id, turn_idx)
            where a.cid < b.cid
        )
        select src, tgt, type, count(*) as turns from p group by all;
"""


def _csv(out_dir: str, label: str, columns: dict) -> str:
    parts = sorted(glob.glob(os.path.join(out_dir, f"{label}-part*.csv")))
    if not parts:
        return "select " + ", ".join(f"null::{t} as {c}" for c, t in columns.items()) + " where false"
    files = ", ".join(f"'{p}'" for p in parts)
    cols = ", ".join(f"'{c}': '{t}'" for c, t in columns.items())
    return f"select * from read_csv([{files}], delim=';', quote='''', escape='''', header=false, columns={{{cols}}})"


_NODE_COLS = {"id": "varchar", "name": "varchar", "id2": "varchar", "pref": "varchar", "lab": "varchar"}
_EDGE_COLS = {"src": "varchar", "eid": "varchar", "turns": "bigint", "tgt": "varchar", "type": "varchar"}


class GraphCheck:
    """Expected KG for one input, computed once and compared with each run's output."""

    def __init__(self, input_dir: str, canon: str):
        self.con = duckdb.connect()
        self.con.execute("set threads to 1")
        self.con.execute(_GRAPH.format(mentions=_MENTIONS.format(src=input_dir), canon=_CANON[canon]))

    def _diff(self, expected: str, actual: str) -> int:
        """Rows in one multiset and not the other."""
        q = f"""select (select count(*) from (({expected}) except all ({actual})))
                     + (select count(*) from (({actual}) except all ({expected})))"""
        return self.con.sql(q).fetchone()[0]

    def _actual(self, out_dir: str) -> tuple[str, str]:
        nodes = " union all ".join(
            f"select id, name from ({_csv(out_dir, lab, _NODE_COLS)})" for lab in ("Protein", "Disease")
        )
        edges = " union all ".join(
            f"select src, tgt, type, turns, eid from ({_csv(out_dir, t, _EDGE_COLS)})"
            for t in ("INTERACTS_WITH", "LINKED_TO")
        )
        return nodes, edges

    def batch_errors(self, out_dir: str) -> list[str]:
        """KGPipeline.run: CSV nodes (id, name) and edges (src, tgt, type, turns)
        equal the expected multisets, and so do the nodes/edges checkpoints."""
        nodes, edges = self._actual(out_dir)
        run = os.path.join(out_dir, "_run")
        checks = {
            "csv nodes": self._diff("select id, name from exp_nodes", nodes),
            "csv edges": self._diff("select src, tgt, type, turns from exp_edges", f"select src, tgt, type, turns from ({edges})"),
            "checkpoint nodes": self._diff(
                "select id from exp_nodes", f"select node_id from read_parquet('{run}/nodes/*.parquet')"
            ),
            "checkpoint edges": self._diff(
                "select src, tgt, type, turns from exp_edges",
                f"""select source_id, target_id, relationship_label, cast(map_extract(props, 'turns')[1] as bigint)
                    from read_parquet('{run}/edges/*.parquet')""",
            ),
        }
        return [f"{k}: {v} rows differ" for k, v in checks.items() if v]

    def stream_errors(self, out_dir: str) -> list[str]:
        """stream_kg: node and edge ids are unique across all part files and
        equal the expected (identity-canonical) id sets."""
        nodes, edges = self._actual(out_dir)
        checks = {
            "node ids": self._diff("select id from exp_nodes", f"select id from ({nodes})"),
            "edge ids": self._diff("select src || '_' || tgt from exp_edges", f"select eid from ({edges})"),
        }
        return [f"{k}: {v} rows differ" for k, v in checks.items() if v]


def hygiene_errors(outcomes: dict, planted: dict, flags_dir: str, clean_dir: str) -> list[str]:
    """clean_corpus: the report's outcome counts equal the planted counts, the
    audit frame has one row per document and the clean set holds the kept ones."""
    errors = [f"{k}: got {outcomes.get(k, 0)}, planted {v}" for k, v in planted.items() if outcomes.get(k, 0) != v]
    errors += [f"unexpected outcome {k}" for k in outcomes if k not in planted]
    con = duckdb.connect()
    n_flags = con.sql(f"select count(distinct doc_id) from read_parquet('{flags_dir}/*.parquet')").fetchone()[0]
    n_clean = con.sql(f"select count(*) from read_parquet('{clean_dir}/*.parquet')").fetchone()[0]
    if n_flags != sum(planted.values()):
        errors.append(f"audit rows {n_flags} != docs {sum(planted.values())}")
    if n_clean != planted["kept"]:
        errors.append(f"clean rows {n_clean} != kept {planted['kept']}")
    return errors
