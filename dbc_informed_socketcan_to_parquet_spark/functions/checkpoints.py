"""Lineage-cutting materialization with a fault-tolerance ladder.

Several operators materialize an intermediate exactly once and embed the
result in the plan they return (measured hot sets, LSH truth-pair sets,
per-round CC labels).  ``persist`` is the wrong tool there — the cache
entry has no release path once the frame is handed back (the caller
cannot unpersist a plan fragment), so repeated calls in a long-lived
session leak corpus-scale caches.  ``localCheckpoint`` fixes the leak
(blocks are RDD-owned, ContextCleaner-released) but stores UNREPLICATED
executor-local blocks with truncated lineage: under dynamic allocation
or spot-node loss, every downstream job on the returned frame becomes
unrecoverable (r12 advisory).

:func:`durable_checkpoint` is the ladder: when the session has BOTH a
RELIABLE checkpoint directory (``sparkContext.setCheckpointDir`` —
HDFS/S3-backed, survives executor loss) AND
``spark.cleaner.referenceTracking.cleanCheckpoints=true`` (without it,
reliable checkpoint files are never deleted and a long-lived session
sweeping parameters fills the checkpoint dir with orphaned
corpus-scale directories — the same leak shape persist has, just on
disk; r13 review finding), use a true ``checkpoint``; otherwise fall
back to ``localCheckpoint``, which is exactly right on a single-JVM
``local[*]`` session where executor loss means the whole app is gone
anyway.  A 100 TB deployment on preemptible nodes should set both at
submit time; the operators then upgrade automatically, no call-site
changes.  (The cleaner flag is read by the ContextCleaner at app start
— set it in spark-submit conf, not at runtime.)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

_CLEAN_CHECKPOINTS_CONF = "spark.cleaner.referenceTracking.cleanCheckpoints"


def durable_checkpoint(df: DataFrame, eager: bool = True) -> DataFrame:
    """Materialize ``df`` with cut lineage: reliable ``checkpoint`` when a
    checkpoint dir is configured AND the ContextCleaner is allowed to
    delete checkpoint files, else ``localCheckpoint``.

    The eager reliable path persists around the checkpoint so the plan
    computes ONCE (``RDD.checkpoint`` otherwise recomputes the lineage a
    second time to write the files) and unpersists immediately after —
    the checkpoint files carry the data from then on.

    The LAZY case always uses ``localCheckpoint`` (r16, ADVICE r15):
    a lazy reliable checkpoint cannot be persisted-around (there is no
    hook to unpersist after the deferred materialization — keeping the
    persist is exactly the session-lifetime cache leak this module
    exists to avoid), so on a checkpoint-dir cluster it would recompute
    its subtree a second time when the files are written.  Lazy call
    sites here are compute-once *performance* devices whose
    materialization must happen inside the consuming action, not
    fault-tolerance boundaries.  Once a lazy ``localCheckpoint`` has
    materialized, its lineage is cut: losing an executor that holds its
    blocks fails every later action on the returned frame, and re-running
    the action does not help — the caller must rebuild the plan from its
    sources.  That is the cheaper side of the trade against a guaranteed
    doubled pass.

    Spark Connect exposes no ``sparkContext``; there the probe fails and
    we use ``localCheckpoint`` (Connect-supported since 4.0), matching
    the pre-r13 behavior.
    """
    if not eager:
        return df.localCheckpoint(eager=False)
    try:
        sc = df.sparkSession.sparkContext
        reliable = (
            sc.getCheckpointDir() is not None
            and str(sc._jsc.sc().conf().get(
                _CLEAN_CHECKPOINTS_CONF, "false")).lower() == "true"
        )
    except Exception:
        reliable = False
    if not reliable:
        return df.localCheckpoint(eager=eager)
    df = df.persist()
    try:
        out = df.checkpoint(eager=True)
    finally:
        df.unpersist()
    return out


def counted_checkpoint(df: DataFrame, *aggs: Column) -> tuple[DataFrame, tuple]:
    """Eager :func:`durable_checkpoint` of ``df`` and the values of the
    aggregates ``aggs`` over its rows, in order (default: the row count),
    observed on the checkpoint's own job, so no count job runs.  A lazy
    checkpoint executes nothing and would leave the observation at 0 rows.

    Spark Connect's checkpoint command does not return observed metrics
    (its ``Observation`` stays empty); there the aggregates run as one
    job on the checkpointed frame."""
    aggs = aggs or (F.count(F.lit(1)).alias("n"),)
    seen = Observation()
    out = durable_checkpoint(df.observe(seen, *aggs), eager=True)
    got = seen.get
    return out, tuple(got.values()) if got else tuple(out.agg(*aggs).first())
