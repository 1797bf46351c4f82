"""biocypher_spark: a from-scratch PySpark-native knowledge-graph
construction engine with the capabilities of BioCypher (reference at
/root/reference), applied to Iceberg/parquet tables of multi-turn agent
transcripts. See SURVEY.md for the operator inventory this implements."""

from .airr import AirrKG
from .core import BioCypherSpark
from .dedup import dedup_edges, dedup_nodes, dedup_rel_as_nodes
from .download import APIRequest, Downloader, FileDownload, Resource
from .extract import extract_mentions
from .graph import SparkGraph
from .linking import canonicalize, link_mentions
from .mapping import SchemaMapping
from .model import edges_from_tuples, nodes_from_tuples
from .ontology import NullOntology, Ontology
from .pipeline import KGPipeline
from .transcripts import generate_transcripts, read_transcripts
from .workflow import SparkWorkflow, create_workflow
from .translate import SparkTranslator

__all__ = [
    "APIRequest",
    "AirrKG",
    "BioCypherSpark",
    "Downloader",
    "FileDownload",
    "KGPipeline",
    "Resource",
    "NullOntology",
    "Ontology",
    "SchemaMapping",
    "SparkGraph",
    "SparkTranslator",
    "canonicalize",
    "dedup_edges",
    "dedup_nodes",
    "dedup_rel_as_nodes",
    "edges_from_tuples",
    "extract_mentions",
    "generate_transcripts",
    "link_mentions",
    "nodes_from_tuples",
    "read_transcripts",
]

__version__ = "0.1.0"
