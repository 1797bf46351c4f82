"""End-to-end benchmark of the engine's shipped products.

    python3 perfbench/run.py --workload kg_batch --seed 1 --seconds 1 --trace 0

Run from the root of a checkout. Inputs are generated from the seed (and
cached under ``.perfbench/``) before the Spark session starts. Set-up is
the Spark session start; then product runs repeat, one at a time, until
``--seconds`` have passed (at least one run), so the first timed run is a
product's first run in a fresh JVM, as with the ``spark-submit`` jobs.
Every run's output is checked. The last line of standard output is one
JSON object: with ``--trace 0`` the end-to-end metrics (medians over the
timed runs), with ``--trace 1`` the per-layer table of one traced run and
the time its spans spent on their own bookkeeping.
``--workload all`` runs every workload in turn, each in its own process,
and prints each one's result line.
"""

from __future__ import annotations

import argparse
import contextlib
import glob
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

import pyarrow.parquet as pq

import checks
import gen
import procstat
import spans

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORES = os.cpu_count() or 4

# input sizes
KG_BATCH_TURNS = 8_000
KG_PROTEINS, KG_DISEASES = 200_000, 100_000  # wide vocabulary: most entities are rare
KG_STREAM_TURNS = 8_000
KG_STREAM_FILES, KG_STREAM_PER_TRIGGER = 4, 2
NARROW_PROTEINS, NARROW_DISEASES = 50, 20  # the repo generator's vocabulary
HYGIENE_DOCS = 8_000
QUALITY_MIN = 0.5


def _du_mb(path: str, pattern: str = "**/*") -> float:
    files = glob.glob(os.path.join(path, pattern), recursive=True)
    return sum(os.path.getsize(f) for f in files if os.path.isfile(f)) / 1e6


class KGBatch:
    """``KGPipeline.run`` over wide-vocabulary transcripts."""

    root_layer = "pipeline"
    conf: dict = {}

    rows = KG_BATCH_TURNS

    def __init__(self, cache: str, seed: int):
        self.input = gen.cached(
            cache, f"wide-p{KG_PROTEINS}-d{KG_DISEASES}-f{CORES}", seed, self.rows,
            lambda d: gen.write_files(gen.transcripts(self.rows, seed, KG_PROTEINS, KG_DISEASES), d, CORES),
        )
        self._check = None

    def run(self, spark, out: str) -> dict:
        from biocypher_spark.pipeline import KGPipeline

        KGPipeline(spark, out).run(spark.read.parquet(self.input))
        return {}

    def errors(self, out: str, info: dict) -> list[str]:
        if self._check is None:
            self._check = checks.GraphCheck(self.input, "linked")
        return self._check.batch_errors(out)

    def layer_extras(self, out: str, info: dict) -> dict:
        return {"writer.neo4j.csv_mb": _du_mb(out, "*.csv"), "pipeline.checkpoint_mb": _du_mb(os.path.join(out, "_run"))}


class KGStream:
    """``stream_kg`` with ``available_now`` over narrow-vocabulary transcript files."""

    root_layer = "streaming"
    conf: dict = {}

    rows = KG_STREAM_TURNS

    def __init__(self, cache: str, seed: int):
        self.input = gen.cached(
            cache, f"narrow-p{NARROW_PROTEINS}-d{NARROW_DISEASES}-f{KG_STREAM_FILES}", seed, self.rows,
            lambda d: gen.write_files(
                gen.transcripts(self.rows, seed, NARROW_PROTEINS, NARROW_DISEASES), d, KG_STREAM_FILES
            ),
        )
        self._check = None

    def run(self, spark, out: str) -> dict:
        from biocypher_spark.streaming.stream import stream_kg

        q = stream_kg(spark, self.input, os.path.join(out, "kg"), os.path.join(out, "ckpt"),
                      max_files_per_trigger=KG_STREAM_PER_TRIGGER)
        q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        batches = [p["durationMs"]["triggerExecution"] / 1000 for p in q.recentProgress if p["numInputRows"] > 0]
        return {"batch_s": batches}

    def errors(self, out: str, info: dict) -> list[str]:
        if self._check is None:
            self._check = checks.GraphCheck(self.input, "identity")
        return self._check.stream_errors(os.path.join(out, "kg"))

    def layer_extras(self, out: str, info: dict) -> dict:
        kg = os.path.join(out, "kg")
        return {
            "writer.neo4j.csv_mb": _du_mb(kg, "*.csv"),
            "streaming.state_mb": _du_mb(os.path.join(kg, "_stream_meta")) + _du_mb(os.path.join(out, "ckpt")),
            "streaming.batches": len(info["batch_s"]),
        }


class Hygiene:
    """``clean_corpus`` + ``hygiene_report`` as ``jobs/run_hygiene.py`` runs them."""

    root_layer = "textops"
    # clean_corpus hits a Catalyst failure in Union.rewriteConstraints
    # ("key not found: text#N") in a fresh session; constraint propagation
    # off avoids it
    conf = {"spark.sql.constraintPropagation.enabled": "false"}

    rows = HYGIENE_DOCS

    def __init__(self, cache: str, seed: int):
        def build(d: str) -> None:
            table, planted = gen.documents(self.rows, seed)
            pq.write_table(table, os.path.join(d, "docs.parquet"))
            with open(os.path.join(d, "planted.json"), "w") as fh:
                json.dump(planted, fh)

        self.seed = seed
        self.input = gen.cached(cache, "docs", seed, self.rows, build)
        with open(os.path.join(self.input, "planted.json")) as fh:
            self.planted = json.load(fh)

    def run(self, spark, out: str) -> dict:
        from biocypher_spark.textops import clean_corpus, hygiene_report

        docs = spark.read.parquet(os.path.join(self.input, "docs.parquet"))
        flags = clean_corpus(docs, near_mode="star", probes=gen.probes(self.seed), quality_min=QUALITY_MIN)
        flags.write.mode("overwrite").parquet(os.path.join(out, "flags"))
        flags_back = spark.read.parquet(os.path.join(out, "flags"))
        docs.join(flags_back.filter("keep").select("doc_id"), "doc_id", "left_semi").write.mode(
            "overwrite"
        ).parquet(os.path.join(out, "clean"))
        outcomes = {r["outcome"]: r["n"] for r in hygiene_report(flags_back).collect()}
        with open(os.path.join(out, "report.json"), "w") as fh:
            json.dump(outcomes, fh)
        return {"outcomes": outcomes}

    def errors(self, out: str, info: dict) -> list[str]:
        return checks.hygiene_errors(info["outcomes"], self.planted, os.path.join(out, "flags"), os.path.join(out, "clean"))

    def layer_extras(self, out: str, info: dict) -> dict:
        return {}


WORKLOADS = {"kg_batch": KGBatch, "kg_stream": KGStream, "hygiene": Hygiene}


def start_spark(work: str, conf: dict, event_log: bool):
    from pyspark.sql import SparkSession

    b = (
        SparkSession.builder.master(f"local[{CORES}]")
        .appName("perfbench")
        .config("spark.driver.memory", "2g")  # the host has 15 GB shared with other jobs
        .config("spark.sql.shuffle.partitions", str(CORES))
        .config("spark.sql.files.maxPartitionBytes", "32m")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", os.path.join(work, "tmp"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}")
    )
    if event_log:
        os.makedirs(os.path.join(work, "events"), exist_ok=True)
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", os.path.join(work, "events"))
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
        )
    for k, v in conf.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and the Python workers under it) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None and getattr(gateway, "proc", None) is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()  # the JVM exits when its stdin closes
        gateway.proc.wait(timeout=60)


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def run_once(wl, spark, work: str, jpid: int, tracer=None) -> dict:
    """One product run into a fresh output directory, timed from outside;
    with a tracer, the run is its root span."""
    out = os.path.join(work, "out")
    shutil.rmtree(out, ignore_errors=True)
    root = tracer.span(f"{wl.root_layer}.{type(wl).__name__}", wl.root_layer) if tracer else contextlib.nullcontext()
    c0 = procstat.cpu_seconds(jpid)
    t0 = time.perf_counter()
    with root:
        info = wl.run(spark, out)
    wall = time.perf_counter() - t0
    cpu = procstat.cpu_seconds(jpid) - c0
    errors = wl.errors(out, info)
    return {"wall": wall, "cpu": cpu, "bytes_mb": _du_mb(out), "errors": errors, "info": info, "out": out}


def _metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=1)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if args.workload == "all":
        status = 0
        for name in WORKLOADS:
            res = _child(name, args.seed, args.seconds, args.trace)
            print(json.dumps({"workload": name, **(res or {})}), flush=True)
            status = status if res else 1
        return status

    if not os.path.isdir(os.path.join(ROOT, "biocypher_spark")):
        print(f"perfbench: no biocypher_spark package under {ROOT}; run from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    # Python workers unpickle functions by module path
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)

    cls = WORKLOADS[args.workload]
    work = os.path.join(ROOT, ".perfbench")
    run_dir = os.path.join(work, f"run-{os.getpid()}")
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    # keep temporary and shuffle files inside the checkout
    os.environ["TMPDIR"] = os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "tmp")
    wl = cls(os.path.join(work, "inputs"), args.seed)

    try:
        t_setup = time.perf_counter()
        spark = start_spark(run_dir, cls.conf, event_log=bool(args.trace))
        try:
            jpid = jvm_pid(spark)
            setup_s = time.perf_counter() - t_setup
            if args.trace:
                tracer = spans.Tracer(spark)
                tracer.install()
                try:
                    with procstat.PeakRss(jpid) as rss:
                        traced_run = run_once(wl, spark, run_dir, jpid, tracer)
                finally:
                    tracer.uninstall()
                traced_run["peak_rss_mb"] = rss.peak
            else:
                result = timed(wl, spark, run_dir, jpid, args.seconds, setup_s)
        finally:
            stop_spark(spark)
        if args.trace:
            result = fold_trace(wl, tracer, traced_run, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


def _child(workload: str, seed: int, seconds: float, trace: int) -> dict | None:
    """Run one workload in a fresh process; its result line, or None on failure."""
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    res = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
    lines = res.stdout.strip().splitlines()
    return json.loads(lines[-1]) if res.returncode == 0 and lines else None


def timed(wl, spark, run_dir: str, jpid: int, seconds: float, setup_s: float) -> dict:
    """Product runs, one at a time, until ``seconds`` have passed (at least one)."""
    runs, failed, batch_s = [], 0, []
    t0 = time.perf_counter()
    while not runs or time.perf_counter() - t0 < seconds:
        try:
            r = run_once(wl, spark, run_dir, jpid)
        except Exception:  # a failed product run is counted, not fatal
            traceback.print_exc()
            failed += 1
            runs.append(None)
            continue
        if r["errors"]:
            print(f"output check failed: {r['errors']}", file=sys.stderr)
            failed += 1
        runs.append(r)
        batch_s += r["info"].get("batch_s", [])
    ok = [r for r in runs if r is not None]

    def med(values) -> float:
        values = list(values)
        return statistics.median(values) if values else 0.0

    metrics = {
        "setup_s": _metric(setup_s, "s"),
        "wall_s": _metric(med(r["wall"] for r in ok), "s"),
        "rows_per_s": _metric(med(wl.rows / r["wall"] for r in ok), "rows/s"),
        "cpu_s": _metric(med(r["cpu"] for r in ok), "s"),
        "bytes_written_mb": _metric(med(r["bytes_mb"] for r in ok), "MB"),
    }
    if batch_s:
        metrics["batch_s_p50"] = _metric(statistics.median(batch_s), "s")
        metrics["batch_count"] = _metric(len(batch_s), "count")
    return {"correct": failed == 0, "attempted": len(runs), "failed": failed, "metrics": metrics}


_UNITS = {"self_s": "s", "calls": "count", "jobs": "count", "task_cpu_s": "s",
          "shuffle_write_mb": "MB", "spill_mb": "MB", "records_out": "count"}


def fold_trace(wl, tracer, r: dict, run_dir: str) -> dict:
    """Per-layer table of the traced run (event log read after the session stopped)."""
    (log,) = glob.glob(os.path.join(run_dir, "events", "*"))
    table = spans.layer_table(tracer.spans, spans.fold_event_log(log, tracer.window_ms))
    metrics = {f"{layer}.{stat}": _metric(v, _UNITS[stat]) for layer, row in table.items() for stat, v in row.items()}
    extras = {"writer.neo4j.csv_mb": 0.0, "pipeline.checkpoint_mb": 0.0, "streaming.state_mb": 0.0,
              "streaming.batches": 0, **wl.layer_extras(r["out"], r["info"])}
    for k, v in extras.items():
        metrics[k] = _metric(v, "count" if k == "streaming.batches" else "MB")
    root = tracer.spans[tracer.root]
    metrics["trace.wall_s"] = _metric(root["end"] - root["start"], "s")
    metrics["trace.overhead_s"] = _metric(tracer.overhead_s, "s")
    metrics["process.peak_rss_mb"] = _metric(r["peak_rss_mb"], "MB")
    if r["errors"]:
        print(f"output check failed: {r['errors']}", file=sys.stderr)
    return {"correct": not r["errors"], "attempted": 1, "failed": int(bool(r["errors"])), "metrics": metrics}


if __name__ == "__main__":
    sys.exit(main())
