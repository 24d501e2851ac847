"""Input parallelism for CPU-heavy operators, and the one owner of
checkpoint pins and of the engine's private-JVM reads.

Spark sizes scan splits by bytes (``spark.sql.files.maxPartitionBytes``),
which is right for I/O-bound plans but wrong for compute-bound ones: a
small file packs into ONE split, serializing an expensive Arrow kernel
or per-pair verify onto one core. ``spread_for_cpu`` round-robins such
inputs up to the session's default parallelism — and is a structural
no-op at 100 TB, where the scan already yields thousands of splits.

Every ``localCheckpoint`` in the engine goes through
``local_checkpoint_tracked``, which reads the pinned RDD id from the
checkpointed frame and records it in one registry per Spark
application; ``release_rdds`` and ``release_pinned`` free pins. The
``_jsc``/``_jdf`` handles are reached only in this module.
"""

from __future__ import annotations

import os
import threading
from urllib.parse import urlparse

from pyspark.sql import DataFrame


def spread_for_cpu(df: DataFrame, cap: int | None = None) -> DataFrame:
    """Round-robin repartition to the session's default parallelism IF
    the scan is under-parallel. Split count is estimated from file
    metadata (local files) — no job, no RDD conversion; non-local URIs
    fall back to the physical-plan partition count.

    ``cap`` bounds the inflation target (never the natural split count):
    iterative algorithms that re-reference a SMALL input across many
    stages pay per-task scheduling each round, so a caller that knows
    its stage structure can cap fan-out. At scale the scan is already
    parallel and both the spread and the cap are structural no-ops."""
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    if cap is not None:
        target = min(target, cap)
    try:
        files = df.inputFiles()
        max_bytes = int(
            spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728").rstrip("b")
        )
        total = sum(
            os.path.getsize(urlparse(f).path) for f in files if f.startswith("file:")
        )
        est_splits = max(len(files), -(-total // max_bytes))
    except Exception:
        # exception path ONLY (non-local URIs / missing files): df.rdd
        # here is a metadata peek at the physical plan's partitioning,
        # never an action.
        est_splits = df.rdd.getNumPartitions()
    if est_splits < target:
        return df.repartition(target)
    return df


def _persistent_rdd_ids(spark) -> set[int]:
    """Every RDD id the session's SparkContext holds persisted — the
    global view harnesses diff to find leaked checkpoint blocks."""
    return {int(k) for k in spark.sparkContext._jsc.getPersistentRDDs().keySet()}


def scan_size_bytes(df: DataFrame) -> int:
    """Optimizer size estimate of a frame (file-source statistics —
    derived from parquet file lengths, NO job)."""
    return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())


def checkpoint_rdd_id(df: DataFrame) -> int:
    """Id of the RDD a checkpointed frame reads. ``localCheckpoint``
    returns a frame whose analyzed plan is a ``LogicalRDD`` holding the
    pinned RDD, so the frame itself names the blocks it owns. Raises if
    the plan is not a ``LogicalRDD`` or its RDD is not persisted — a
    frame that is not a live checkpoint, or a Spark whose plan shape
    this engine has not been checked against."""
    plan = df._jdf.queryExecution().analyzed()
    rid = int(plan.rdd().id()) if plan.nodeName() == "LogicalRDD" else None
    jmap = df.sparkSession.sparkContext._jsc.getPersistentRDDs()
    if rid is None or not jmap.containsKey(rid):
        raise RuntimeError(
            f"frame is not a live localCheckpoint (analyzed plan "
            f"{plan.nodeName()}, rdd id {rid}); checkpoint ownership is "
            f"read from the LogicalRDD plan, checked on Spark 4.1.2, "
            f"running Spark {df.sparkSession.version}"
        )
    return rid


# Checkpoint blocks pinned through local_checkpoint_tracked and not yet
# released, per Spark application id. Each id is read from its own
# frame, so concurrent checkpoints from several driver threads never
# claim each other's blocks.
_PINNED: dict[str, set[int]] = {}
_LOCK = threading.Lock()


def local_checkpoint_tracked(
    df: DataFrame, eager: bool = True
) -> tuple[DataFrame, set[int]]:
    """``df.localCheckpoint()`` plus the id of the RDD block set the
    checkpoint pinned, so iterative algorithms can release superseded
    rounds with :func:`release_rdds`. Spark's ContextCleaner only frees
    checkpoint blocks after BOTH the Python wrapper and the py4j proxy
    are garbage-collected — far too late for a loop that pins a fresh
    copy of its state every round (N rounds would hold N copies of the
    state in executor storage memory, evicting genuinely hot blocks at
    scale). Every pin is recorded in the session's registry until
    released (:func:`release_rdds`, :func:`release_pinned`).

    ``eager=False`` marks the checkpoint but defers materialization to
    the caller's next action — use when that action is immediate (e.g.
    a convergence-witness aggregate), folding checkpoint-write and
    witness into ONE job instead of two. The persist registration (and
    therefore id tracking) happens at call time either way. Only safe
    when the frame is consumed by an action before any multi-reference
    plan — a lazy checkpoint referenced twice inside its materializing
    job may compute partitions twice."""
    out = df.localCheckpoint(eager=eager)
    rid = checkpoint_rdd_id(out)
    with _LOCK:
        _PINNED.setdefault(out.sparkSession.sparkContext.applicationId, set()).add(rid)
    return out, {rid}


def pinned_rdd_ids(spark) -> set[int]:
    """Ids of this session's tracked checkpoints not yet released."""
    with _LOCK:
        return set(_PINNED.get(spark.sparkContext.applicationId, ()))


def release_rdds(spark, ids: set[int]) -> None:
    """Unpersist the given checkpoint block ids (non-blocking) and drop
    them from the registry. Only ever call this on SUPERSEDED state: a
    localCheckpoint's blocks ARE its data — releasing blocks a live
    DataFrame still reads fails its next action."""
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    for rid in ids:
        jrdd = jmap.get(rid)
        if jrdd is not None:
            jrdd.unpersist(False)
    with _LOCK:
        _PINNED.get(spark.sparkContext.applicationId, set()).difference_update(ids)


def release_pinned(spark) -> None:
    """Release every tracked checkpoint of this session except the
    corpus_cache frames (``corpus_cache.clear`` owns those). Call only
    after the frames that read them have been consumed."""
    from .corpus_cache import cached_rdd_ids  # corpus_cache imports this module

    release_rdds(spark, pinned_rdd_ids(spark) - cached_rdd_ids(spark))
