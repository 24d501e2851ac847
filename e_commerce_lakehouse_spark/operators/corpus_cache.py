"""Session-scoped cache of shared dedup-family intermediates.

Several dedup/near-dup queries re-derive the SAME intermediate from the
same corpus scan — the exact-Jaccard pair list feeds both the pair
query and connected-components clustering, and the MinHash signature
frame feeds both full-corpus LSH pairing and incremental admission. At
100 TB each of those recomputations is a full corpus pass (tokenize +
hash every document); amortizing them is the difference between one
pass and N.

``shared_df`` materializes the intermediate once per (session, key)
via tracked localCheckpoint and returns the same frame to every later
caller. The real-world analog at cluster scale is a persisted bucketed
table (the signature index of ``minhash_lsh_incremental``'s docstring);
localCheckpoint is the single-JVM stand-in with identical semantics.

Lifecycle: each cached frame names its own checkpoint block, so
harnesses that drop leftover checkpoint blocks between queries
(bench.py) can EXCLUDE live cache blocks (``cached_rdd_ids``) and
release everything at shutdown (``clear``);
``parallelize.release_pinned`` never touches them. Keys embed the Spark
applicationId, so a new session never sees a dead session's frames.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from .parallelize import checkpoint_rdd_id, local_checkpoint_tracked, release_rdds

_CACHE: dict[tuple, DataFrame] = {}


def shared_df(
    spark: SparkSession, key: tuple, builder: Callable[[], DataFrame]
) -> DataFrame:
    """Materialize ``builder()`` once per (session, key); return the
    checkpointed frame on every call. ``key`` must capture every
    parameter that changes the frame (sf_dir, hash counts, shingle…)."""
    full_key = (spark.sparkContext.applicationId, *key)
    hit = _CACHE.get(full_key)
    if hit is not None:
        return hit
    df, _ = local_checkpoint_tracked(builder())
    _CACHE[full_key] = df
    return df


def cached_rdd_ids(spark: SparkSession) -> set[int]:
    """Block ids of live cache entries for this session — harnesses
    subtract these when sweeping leftover checkpoint blocks."""
    app = spark.sparkContext.applicationId
    return {checkpoint_rdd_id(df) for k, df in _CACHE.items() if k[0] == app}


def clear(spark: SparkSession) -> None:
    """Release every cache block of this session and forget the frames
    (end-of-run hygiene; also lets tests force cold rebuilds)."""
    app = spark.sparkContext.applicationId
    for k in [k for k in _CACHE if k[0] == app]:
        release_rdds(spark, {checkpoint_rdd_id(_CACHE.pop(k))})
