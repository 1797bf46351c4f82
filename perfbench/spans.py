"""Spans around the engine's layers, and a fold of Spark's event log by span.

Tracing works from outside the program: ``Tracer.install`` swaps each
listed public function (in every ``biocypher_spark`` module that holds a
reference to it) and each listed method for a wrapper that opens a span.
A span records wall time and sets the Spark job description to its own id,
so every job a span triggers is charged to it; ``fold_event_log`` then sums
the ``SparkListenerTaskEnd`` metrics of those jobs per span. Work a layer
defers (a lazy DataFrame) runs under the span of the action that triggers
it, and jobs no span labelled are charged to the root span.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import json
import sys
import threading
import time
from collections import defaultdict

LAYERS = (
    "extract",
    "linking",
    "operators.components",
    "translate",
    "dedup",
    "writer.neo4j",
    "materialize",
    "pipeline",
    "streaming",
    "textops",
)
STATS = ("self_s", "calls", "jobs", "task_cpu_s", "shuffle_write_mb", "spill_mb", "records_out")

# (layer, module, attribute) of module-level functions to wrap
FUNCTIONS = (
    ("extract", "biocypher_spark.extract", "extract_mentions"),
    ("linking", "biocypher_spark.linking", "link_mentions"),
    ("linking", "biocypher_spark.linking", "canonicalize"),
    ("linking", "biocypher_spark.linking", "canonicalize_local"),
    ("linking", "biocypher_spark.linking", "candidate_pairs_guarded"),
    ("linking", "biocypher_spark.linking", "cooccurrence_pairs"),
    ("operators.components", "biocypher_spark.operators.components", "connected_components"),
    ("operators.components", "biocypher_spark.operators.components", "connected_components_local"),
    ("materialize", "biocypher_spark.materialize", "materialize"),
    ("dedup", "biocypher_spark.dedup", "edge_dedup_key"),
    ("pipeline", "biocypher_spark.pipeline", "build_triple_tuples"),
    ("streaming", "biocypher_spark.streaming.stream", "stream_mentions"),
    ("textops", "biocypher_spark.textops", "clean_corpus"),
    ("textops", "biocypher_spark.textops", "minhash_star_near_dup_edges"),
    ("textops", "biocypher_spark.textops", "hygiene_report"),
)
# (layer, module, class, method) of methods to wrap
METHODS = (
    ("pipeline", "biocypher_spark.pipeline", "KGPipeline", "_record_lineage"),
    ("translate", "biocypher_spark.translate", "SparkTranslator", "translate_nodes"),
    ("translate", "biocypher_spark.translate", "SparkTranslator", "translate_edges"),
    ("writer.neo4j", "biocypher_spark.writer.neo4j", "Neo4jBatchWriter", "write_nodes"),
    ("writer.neo4j", "biocypher_spark.writer.neo4j", "Neo4jBatchWriter", "write_edges"),
    ("writer.neo4j", "biocypher_spark.writer.neo4j", "Neo4jBatchWriter", "write_import_call"),
)


class Tracer:
    """Records spans (name, layer, parent, start, end) in memory.

    Each thread keeps its own span stack; a span opened on a thread with an
    empty stack (such as a streaming ``foreachBatch`` callback) is a child
    of the root span.
    """

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.root: int | None = None
        self.window_ms: list | None = None  # epoch ms of the root span, for fold_event_log
        self.overhead_s = 0.0  # time spent in begin/end, mostly the py4j job-description calls
        self._local = threading.local()
        self._lock = threading.Lock()
        self._undo: list = []

    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def begin(self, name: str, layer: str) -> int:
        t0 = time.perf_counter()
        stack = self._stack()
        parent = stack[-1] if stack else self.root
        with self._lock:
            sid = len(self.spans)
            self.spans.append({"id": sid, "name": name, "layer": layer, "parent": parent, "start": time.perf_counter(), "end": None})
        if self.root is None:
            self.root = sid
            self.window_ms = [time.time() * 1000, None]
        stack.append(sid)
        self.sc.setJobDescription(f"span:{sid}")
        self.overhead_s += time.perf_counter() - t0
        return sid

    def end(self, sid: int) -> None:
        t0 = self.spans[sid]["end"] = time.perf_counter()
        if sid == self.root:
            self.window_ms[1] = time.time() * 1000
        stack = self._stack()
        stack.pop()
        outer = stack[-1] if stack else (self.root if sid != self.root else None)
        self.sc.setJobDescription(None if outer is None else f"span:{outer}")
        self.overhead_s += time.perf_counter() - t0

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        sid = self.begin(name, layer)
        try:
            yield sid
        finally:
            self.end(sid)

    def _wrap(self, fn, name: str, layer: str):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name, layer):
                return fn(*args, **kwargs)

        return wrapper

    def install(self) -> None:
        """Wrap every listed function and method, and DataFrameWriter.parquet."""
        # import everything first, so no module copies a reference that is already wrapped
        for entry in FUNCTIONS + METHODS:
            importlib.import_module(entry[1])
        for layer, modname, attr in FUNCTIONS:
            original = getattr(sys.modules[modname], attr)
            wrapped = self._wrap(original, f"{layer}.{attr}", layer)
            for mod in list(sys.modules.values()):
                if getattr(mod, "__name__", "").startswith("biocypher_spark") and getattr(mod, attr, None) is original:
                    setattr(mod, attr, wrapped)
                    self._undo.append((mod, attr, original))
        for layer, modname, cls_name, meth in METHODS:
            cls = getattr(sys.modules[modname], cls_name)
            original = cls.__dict__[meth]
            setattr(cls, meth, self._wrap(original, f"{layer}.{cls_name}.{meth}", layer))
            self._undo.append((cls, meth, original))

        from pyspark.sql.readwriter import DataFrameWriter

        original_parquet = DataFrameWriter.parquet
        tracer = self

        @functools.wraps(original_parquet)
        def parquet(writer, path, *args, **kwargs):
            # a checkpoint or state write belongs to the layer that issued it
            stack = tracer._stack()
            parent = stack[-1] if stack else tracer.root
            layer = tracer.spans[parent]["layer"] if parent is not None else "pipeline"
            with tracer.span(f"{layer}.parquet:{_stage_path(path)}", layer):
                return original_parquet(writer, path, *args, **kwargs)

        DataFrameWriter.parquet = parquet
        self._undo.append((DataFrameWriter, "parquet", original_parquet))

    def uninstall(self) -> None:
        for owner, attr, original in reversed(self._undo):
            setattr(owner, attr, original)
        self._undo.clear()


def _stage_path(path: str) -> str:
    """Last two components of an output path, e.g. ``_run/mentions``."""
    parts = [p for p in str(path).replace("\\", "/").split("/") if p]
    return "/".join(parts[-2:])


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span duration minus the part of it covered by its child spans."""
    children: dict[int, list] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered, cursor = 0.0, s["start"]
        for a, b in sorted(children[s["id"]]):
            a, b = max(a, cursor), min(b, s["end"])
            if b > a:
                covered += b - a
                cursor = b
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def fold_event_log(path: str, window_ms: tuple[float, float]) -> dict[int | None, dict]:
    """Task metrics summed per span id (``None``: jobs no span labelled).

    Reads an uncompressed, non-rolling Spark event log. Jobs without a span
    label count only when submitted inside ``window_ms`` (epoch ms of the
    traced run). A stage counts toward the first job that lists it; AQE
    runs query stages as jobs of their own, each carrying the description
    of the span that started the query.
    """
    stage_span: dict[int, int | None] = {}
    out: dict = defaultdict(lambda: defaultdict(float))
    skip = object()
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                desc = (ev.get("Properties") or {}).get("spark.job.description") or ""
                sid = int(desc[5:]) if desc.startswith("span:") else None
                if sid is None and not window_ms[0] <= ev.get("Submission Time", 0) <= window_ms[1]:
                    sid = skip
                else:
                    out[sid]["jobs"] += 1
                for st in ev["Stage IDs"]:
                    stage_span.setdefault(st, sid)
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics")
                sid = stage_span.get(ev["Stage ID"], skip)
                if not m or sid is skip:
                    continue
                acc = out[sid]
                sw = m.get("Shuffle Write Metrics", {})
                om = m.get("Output Metrics", {})
                acc["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                acc["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 1e6
                acc["spill_mb"] += (m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)) / 1e6
                acc["records_out"] += sw.get("Shuffle Records Written", 0) + om.get("Records Written", 0)
    return out


def layer_table(spans: list[dict], folded: dict) -> dict[str, dict[str, float]]:
    """Per-layer stats: span self time and calls, plus the folded job metrics.

    Jobs no span labelled go to the root span's layer.
    """
    table = {layer: {stat: 0.0 for stat in STATS} for layer in LAYERS}
    selfs = self_times(spans)
    root_layer = spans[0]["layer"]
    for s in spans:
        row = table[s["layer"]]
        row["self_s"] += selfs[s["id"]]
        row["calls"] += 1
    for sid, metrics in folded.items():
        layer = spans[sid]["layer"] if sid is not None and sid < len(spans) else root_layer
        for stat, value in metrics.items():
            table[layer][stat] += value
    return table
