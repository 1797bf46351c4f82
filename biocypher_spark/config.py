"""Layered configuration loader.

Semantics match the reference merge rules
(/root/reference/biocypher/_config/__init__.py:69-108): built-in defaults <-
user-level yaml <- working-directory yaml, where an explicit ``null`` in a
higher layer *clears* the default (e.g. ``head_ontology: null`` switches to
headless mode) and dict values shallow-merge key-wise."""

from __future__ import annotations

import os
from typing import Optional

import yaml

DEFAULTS: dict = {
    "biocypher": {
        "dbms": "neo4j",
        "offline": True,
        "strict_mode": False,
        "head_ontology": None,  # headless by default: no network in sandbox
        "output_directory": "biocypher-out",
        "schema_config_path": None,
    },
    "neo4j": {
        "database_name": "neo4j",
        "wipe": True,
        "delimiter": ";",
        "array_delimiter": "|",
        "quote_character": "'",
        "labels_order": "Ascending",
        "skip_duplicate_nodes": False,
        "skip_bad_relationships": False,
    },
    "postgresql": {
        "database_name": "postgres",
        "delimiter": "\t",
        "quote_character": '"',
    },
}


def _read_yaml(path: Optional[str]) -> dict:
    if path and os.path.exists(path):
        with open(path) as fh:
            return yaml.safe_load(fh) or {}
    return {}


def _apply(layer: dict, onto: dict) -> None:
    for key, value in layer.items():
        if value is None:
            onto[key] = None
        elif isinstance(onto.get(key), dict) and isinstance(value, dict):
            # nested explicit nulls clear too
            for k2, v2 in value.items():
                onto[key][k2] = v2
        else:
            onto[key] = value


def read_config(
    user_config_file: Optional[str] = None,
    local_config_file: Optional[str] = None,
) -> dict:
    """defaults <- user yaml <- local yaml, null clears, dicts merge."""
    import copy

    merged = copy.deepcopy(DEFAULTS)
    user = _read_yaml(
        user_config_file
        or os.path.join(os.path.expanduser("~"), ".config", "biocypher_spark", "config.yaml")
    )
    local = _read_yaml(local_config_file or "biocypher_spark_config.yaml") or _read_yaml(
        "config/biocypher_spark_config.yaml" if local_config_file is None else None
    )
    _apply(user, merged)
    _apply(local, merged)
    return merged
