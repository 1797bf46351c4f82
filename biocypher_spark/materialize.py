"""Lineage-cutting materialization with a cluster-safe mode.

Many operators in this engine pin a small intermediate frame — a signature
table, a band assignment, a drop-set — so that (a) downstream stages reuse
the computed result instead of re-deriving the whole upstream plan, and
(b) frames derived from nondeterministic sources (sampling, row_number over
arrival order) stay FIXED across the multiple actions that consume them.

``DataFrame.localCheckpoint()`` is the right default on a single machine
and in ``local[*]`` testing: eager, no I/O round-trip to a checkpoint dir.
Its documented weakness at cluster scale (round-3 review): blocks live
UNREPLICATED on executors and the lineage is discarded, so one lost
executor between the pin and the last consumer fails the job with no way
to recompute. On a 1000-executor run that lasts hours, some executor loss
is expected, not exceptional.

``materialize(df)`` keeps the default behavior but honors a session conf:

    spark.conf.set("spark.biocypher.materialize", "reliable")
    spark.sparkContext.setCheckpointDir("hdfs://…/checkpoints")

``reliable`` routes every pin through ``DataFrame.checkpoint(eager=True)``
— an eager write to the (HDFS/S3-backed, executor-loss-proof) checkpoint
directory. Same semantics, same eagerness, same nondeterminism pinning;
the only trade is one distributed write+read per pinned frame, which the
pinned frames are sized for (signatures, ids, band keys — never document
bodies). Checkpoint files are NOT deleted by default when the frame is
garbage-collected: iterative callers (connected_components pins ~2 frames
per iteration; stream_kg pins several per micro-batch) will accumulate
files in the checkpoint dir across a long run unless the session is built
with ``spark.cleaner.referenceTracking.cleanCheckpoints=true`` (a
context-start conf — it cannot be enabled after the session exists) or an
external sweeper prunes old run directories. A deliberately unsupported third option is ``persist`` with a
replicated storage level: persist keeps lineage, so losing both replicas
silently RECOMPUTES a frame that may derive from nondeterministic
sampling — exactly the inconsistency pinning exists to prevent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

MATERIALIZE_CONF = "spark.biocypher.materialize"


def materialize(df: DataFrame) -> DataFrame:
    """Eagerly pin ``df`` and cut its lineage.

    Mode comes from the ``spark.biocypher.materialize`` session conf:
    ``local`` (default — ``localCheckpoint``) or ``reliable``
    (``checkpoint`` into the configured checkpoint dir; raises with a
    pointer to ``setCheckpointDir`` if none is set, rather than failing
    deep inside a Spark job).
    """
    return _checkpoint(df, eager=True)


def materialize_lazily(df: DataFrame) -> DataFrame:
    """:func:`materialize` without its own job: the returned frame's plan is
    already lineage-free, and the first job that reads it computes and pins
    the rows (in the same mode). Planning it starts no job only when the
    caches ``df`` reads are already filled: under AQE a cache stage that is
    not gets filled first."""
    return _checkpoint(df, eager=False)


def _checkpoint(df: DataFrame, eager: bool) -> DataFrame:
    mode = df.sparkSession.conf.get(MATERIALIZE_CONF, "local")
    if mode == "local":
        return df.localCheckpoint(eager=eager)
    if mode == "reliable":
        sc = df.sparkSession.sparkContext
        if sc.getCheckpointDir() is None:
            raise ValueError(
                "spark.biocypher.materialize=reliable requires a checkpoint "
                "directory: call spark.sparkContext.setCheckpointDir(<path on "
                "HDFS/S3/shared storage>) before running operators"
            )
        return df.checkpoint(eager=eager)
    raise ValueError(
        f"unknown {MATERIALIZE_CONF} mode {mode!r}: expected 'local' or 'reliable'"
    )
