"""spark-submit entry point: STREAMING transcripts -> incremental KG layout.

Usage:
    spark-submit --py-files biocypher_spark.zip jobs/run_stream.py \
        --input /path/to/transcripts-dir (parquet files, appended over time) \
        --output /path/to/kg-out --checkpoint /path/to/ckpt \
        [--continuous]   # keep running; default drains available input (availableNow)

Each micro-batch flows through the batch operators (extract -> link ->
translate -> Neo4j batch writer); the writer's cross-call seen-id dedup and
part numbering give incremental append semantics. foreachBatch is
at-least-once, so {output}/_stream_meta makes replays idempotent: an atomic
committed-batch marker + part-file inventory (crashed attempts are wiped
and re-emitted once; committed batches are skipped) and per-batch state
generations holding the seen ids and duplicate metrics (a delta per batch,
a FULL compaction every 16 deltas), which a restart reloads, so cross-batch
dedup survives process restarts. State in a layout that earlier commits of
this engine wrote is refused with a ValueError: clear the output directory
and replay. The output directory is owned by its checkpoint — reuse it only
with the same --checkpoint. Build the zip with: python tools/make_pyfiles.py
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--checkpoint", required=True)
    ap.add_argument("--continuous", action="store_true")
    ap.add_argument("--max-files-per-trigger", type=int, default=8)
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.appName("biocypher-spark-stream")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")

    from biocypher_spark.streaming.stream import stream_kg

    t0 = time.time()
    query = stream_kg(
        spark,
        args.input,
        args.output,
        args.checkpoint,
        available_now=not args.continuous,
        max_files_per_trigger=args.max_files_per_trigger,
    )
    if args.continuous:
        query.awaitTermination()
    else:
        query.awaitTermination()
        from biocypher_spark.streaming.stream import read_stream_state

        parts = sorted(glob.glob(os.path.join(args.output, "*-part*.csv")))
        print(
            json.dumps(
                {
                    "part_files": len(parts),
                    "labels": sorted({os.path.basename(p).split("-part")[0] for p in parts}),
                    "sec": round(time.time() - t0, 2),
                    "checkpoint": args.checkpoint,
                    # durable state/metrics tables from the committed
                    # generation: cumulative dedup state + duplicate counts
                    "state": read_stream_state(spark, args.output),
                }
            )
        )
    spark.stop()


if __name__ == "__main__":
    main()
