import os
import sys
import uuid

import pytest

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_TESTS = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, _REPO)
sys.path.insert(0, _TESTS)
# python workers spawned by Spark must resolve test/fixture modules that
# cloudpickle references by name
os.environ["PYTHONPATH"] = os.pathsep.join(
    [p for p in (_REPO, _TESTS, os.environ.get("PYTHONPATH")) if p]
)

from pyspark.sql import SparkSession  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    spark = (
        SparkSession.builder.master("local[4]")
        .appName("biocypher-spark-tests")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        .getOrCreate()
    )
    yield spark
    spark.stop()


def spark_jobs(spark, fn):
    """``(fn(), ids of the Spark jobs fn started)``: the jobs are those of a
    fresh job group (kept by jobs on a ``pyspark.InheritableThread``), whose
    local properties are cleared afterwards."""
    sc = spark.sparkContext
    group = f"test-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, getattr(fn, "__name__", "test jobs"))
    try:
        out = fn()
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


SCHEMA_PATH = os.path.join(os.path.dirname(__file__), "fixtures", "test_schema_config.yaml")


@pytest.fixture(scope="session")
def schema_path():
    return SCHEMA_PATH


# the transcripts schema with protein-protein pairs reified as nodes
# (rel-as-node) and protein-disease pairs as plain edges
RAN_SCHEMA = """
protein:
  represented_as: node
  preferred_id: canon
  input_label: protein
  properties:
    name: str
disease:
  represented_as: node
  preferred_id: canon
  input_label: disease
  properties:
    name: str
protein protein interaction:
  represented_as: node
  source: protein
  target: protein
  input_label: protein_protein
  properties:
    turns: int
protein disease association:
  represented_as: edge
  label_as_edge: LINKED_TO
  input_label: protein_disease
  properties:
    turns: int
"""


@pytest.fixture(scope="session")
def ran_schema():
    return RAN_SCHEMA
