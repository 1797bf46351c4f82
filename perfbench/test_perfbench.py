"""Tests of the benchmark's own parts: python3 -m pytest perfbench -q"""

from __future__ import annotations

import glob
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import gen  # noqa: E402
import spans  # noqa: E402


def test_transcripts_same_seed_same_rows_other_seed_other_entities():
    a = gen.transcripts(500, 7, 1000, 100)
    assert a.equals(gen.transcripts(500, 7, 1000, 100))
    b = gen.transcripts(500, 8, 1000, 100)
    assert a.schema == b.schema and a.num_rows == b.num_rows
    # same conversation layout, different entity draw
    for col in ("conv_id", "turn_idx", "role", "tool", "ts"):
        assert a.column(col).equals(b.column(col))
    assert a.column("text") != b.column("text")
    hot = sum(c.startswith("hot") for c in a.column("conv_id").to_pylist())
    assert hot == 100  # two hot conversations carry 20% of turns


def test_documents_same_seed_same_corpus_and_planted_counts():
    (a, pa_), (b, pb) = gen.documents(400, 3), gen.documents(400, 3)
    assert a.equals(b) and pa_ == pb
    c, pc = gen.documents(400, 4)
    assert pc == pa_ and c.num_rows == a.num_rows == sum(pa_.values())
    assert a.column("text") != c.column("text")
    texts = a.column("text").to_pylist()
    exact = len(texts) - len(set(texts))
    assert exact == pa_["exact_dup"]
    probes = gen.probes(3)
    assert sum(any(p in t for p in probes) for t in texts) == pa_["contaminated"]


def _span(sid, parent, start, end, layer="pipeline"):
    return {"id": sid, "name": f"s{sid}", "layer": layer, "parent": parent, "start": start, "end": end}


def test_self_times_subtract_the_union_of_children():
    tree = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 4.0, "linking"),
        _span(2, 1, 2.0, 3.0, "materialize"),
        # two children of the root from another thread, overlapping each other
        _span(3, 0, 5.0, 7.0, "writer.neo4j"),
        _span(4, 0, 6.0, 8.0, "writer.neo4j"),
        # a child that outlives its parent only counts inside the parent
        _span(5, 2, 2.5, 3.5, "operators.components"),
    ]
    st = spans.self_times(tree)
    assert st[0] == pytest.approx(10 - 3 - 3)
    assert st[1] == pytest.approx(3 - 1)
    assert st[2] == pytest.approx(1 - 0.5)
    assert st[3] == pytest.approx(2) and st[4] == pytest.approx(2)
    table = spans.layer_table(tree, {})
    assert table["writer.neo4j"]["calls"] == 2
    assert table["linking"]["self_s"] == pytest.approx(2)


def test_uninstall_restores_every_wrapped_reference():
    pytest.importorskip("pyspark")
    import importlib

    from pyspark.sql.readwriter import DataFrameWriter

    def snapshot():
        for entry in spans.FUNCTIONS + spans.METHODS:
            importlib.import_module(entry[1])
        refs = {
            (m.__name__, k): v
            for m in list(sys.modules.values())
            if getattr(m, "__name__", "").startswith("biocypher_spark")
            for k, v in vars(m).items()
            if callable(v)
        }
        for _, modname, cls, meth in spans.METHODS:
            refs[(cls, meth)] = vars(getattr(sys.modules[modname], cls))[meth]
        refs["parquet"] = DataFrameWriter.parquet
        return refs

    class Session:
        sparkContext = None

    before = snapshot()
    tracer = spans.Tracer(Session())
    tracer.install()
    assert snapshot() != before
    tracer.uninstall()
    assert snapshot() == before


def test_event_log_folds_task_metrics_by_span(tmp_path):
    pytest.importorskip("pyspark")
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    events = tmp_path / "events"
    events.mkdir()
    spark = (
        SparkSession.builder.master("local[2]")
        .appName("perfbench-test")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", str(events))
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.rolling.enabled", "false")
        .getOrCreate()
    )
    try:
        spark.range(100).count()  # before the traced run: not charged to any span
        tracer = spans.Tracer(spark)
        with tracer.span("root", "pipeline"):
            with tracer.span("agg", "linking"):
                spark.range(1000).groupBy((F.col("id") % 7).alias("k")).count().collect()
            spark.range(10).count()  # root's own job
    finally:
        spark.stop()
    (log,) = glob.glob(str(events / "*"))
    folded = spans.fold_event_log(log, tracer.window_ms)
    assert None not in folded  # the pre-run job fell outside the window
    agg = folded[1]
    assert agg["jobs"] >= 1 and agg["shuffle_write_mb"] > 0 and agg["records_out"] >= 7
    assert folded[0]["jobs"] >= 1
    table = spans.layer_table(tracer.spans, folded)
    assert table["linking"]["calls"] == 1 and table["linking"]["jobs"] == agg["jobs"]
    root = tracer.spans[0]
    assert sum(row["self_s"] for row in table.values()) == pytest.approx(root["end"] - root["start"])
