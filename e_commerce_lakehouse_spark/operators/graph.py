"""Clickstream-graph operators: transition-edge derivation and an
integer-exact PageRank.

The reference has no graph tier; this extends the engine the way its
recommendation surface (reference scripts/spark_jobs/streaming_flow.py
rerank) would grow next: item-to-item transition graphs from event
streams, ranked by a random-surfer model.

Determinism at scale: classic PageRank sums doubles, and floating-point
addition is not associative — shuffle order changes low bits run to
run. Here every quantity is an integer in 1e-12 "rank units"
(floor divisions, exact integer sums), so results are bit-identical
across partitionings, engines, and reruns — the same strategy as the
engine's money/cosine math, and what makes an unrolled SQL oracle
possible.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

RANK_SCALE = 10**12  # rank mass is tracked in 1e-12 units


def click_edges(events: DataFrame) -> DataFrame:
    """Directed item-transition edges from the event log: for each user,
    order events by (ts, event_id) — micros + unique id, so the order is
    total and engine-portable — and emit (prev item → item) for every
    consecutive pair with distinct items. DISTINCT: the simple directed
    graph, not the multigraph.

    One window shuffle on user_id + one distinct; at 100 TB both hash
    uniformly (user_id is high-cardinality, edges are bounded by
    items²)."""
    from .parallelize import spread_for_cpu

    # get_json_object is regex-backed per-row parsing — don't let a
    # single-split scan serialize it ahead of the window shuffle
    events = spread_for_cpu(events)
    ev = events.select(
        "user_id",
        "event_id",
        "ts",
        F.get_json_object("props", "$.k").cast("long").alias("item"),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.withColumn("prev", F.lag("item").over(w))
    return (
        seq.filter(F.col("prev").isNotNull() & (F.col("prev") != F.col("item")))
        .select(F.col("prev").alias("src"), F.col("item").alias("dst"))
        .distinct()
    )


def pagerank(
    edges: DataFrame,
    iters: int = 2,
    scale: int = RANK_SCALE,
    damp_num: int = 85,
    damp_den: int = 100,
) -> DataFrame:
    """Fixed-iteration PageRank over (src, dst) edges, all-integer:

        r0[v]   = scale div N
        share[u]= r[u] div outdeg[u]
        r'[v]   = (damp_den-damp_num)*scale div (damp_den*N)
                  + (damp_num * Σ_in share) div damp_den

    Dangling mass is dropped (the standard simplification) and nodes
    with no in-edges keep only the teleport term. Integer sums are
    associative, so the result is independent of shuffle order —
    deterministic enough to hash-compare against an unrolled SQL oracle.

    Distribution: edges/nodes/degrees materialize once (localCheckpoint
    — they are re-joined every round); each round is one join + one
    groupBy shuffled on uniform node keys. N (the node count) is the
    only driver-side value — a scalar, like any iterative-ML state.
    """
    from .parallelize import local_checkpoint_tracked, release_rdds

    spark = edges.sparkSession
    edges, _ = local_checkpoint_tracked(edges)
    nodes, _ = local_checkpoint_tracked(
        edges.select(F.col("src").alias("node")).union(edges.select("dst")).distinct()
    )
    deg, _ = local_checkpoint_tracked(
        edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    )
    n = nodes.count()
    teleport = ((damp_den - damp_num) * scale) // (damp_den * n)
    r = nodes.withColumn("r", F.lit(scale // n))
    # r's plan otherwise deepens by two joins per round: harmless at the
    # default 2 iterations, quadratic Catalyst analysis by ~50. Cut the
    # lineage every few rounds and release the checkpoint the cut
    # supersedes (values are unchanged — the math is integer-exact).
    ckpt_every = 8
    r_ids: set[int] = set()
    for it in range(iters):
        contrib = (
            edges.join(r, edges.src == r.node)
            .join(deg, "src")
            .select("dst", F.expr("r div deg").alias("share"))
            .groupBy("dst")
            .agg(F.sum("share").alias("s"))
        )
        r = nodes.join(contrib, nodes.node == contrib.dst, "left").select(
            "node",
            (
                F.lit(teleport)
                + F.expr(f"({damp_num} * coalesce(s, CAST(0 AS BIGINT))) div {damp_den}")
            ).alias("r"),
        )
        if (it + 1) % ckpt_every == 0 and it + 1 < iters:
            r, new_ids = local_checkpoint_tracked(r)
            release_rdds(spark, r_ids)
            r_ids = new_ids
    return r.select("node", F.col("r").alias("rank_scaled"))


def undirect(edges: DataFrame) -> DataFrame:
    """Canonicalize directed (src, dst) edges into the undirected simple
    graph: (lo, hi) with lo < hi, self-loops dropped, distinct. One
    uniform-key shuffle (the distinct)."""
    return (
        edges.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("lo"),
            F.greatest("src", "dst").alias("hi"),
        )
        .distinct()
    )


def triangle_counts(edges: DataFrame) -> DataFrame:
    """Per-node triangle counts via degree-ordered edge orientation
    (the node-iterator++ / "compact-forward" algorithm of Latapy 2008,
    the standard MapReduce formulation per Suri & Vassilvitskii 2011,
    "Counting Triangles and the Curse of the Last Reducer").

    Orient every undirected edge from its (degree, node)-smaller
    endpoint to its larger one; enumerate wedges only from each node's
    ORIENTED out-neighborhood; a wedge (u→v, u→w) with (deg,v)<(deg,w)
    closes iff the oriented edge v→w exists. Every triangle is counted
    exactly once, at its smallest-order corner.

    Why this survives 100 TB: oriented out-degree is bounded by
    O(sqrt(m)) regardless of skew (a hub of degree d ranks above almost
    all its neighbors, so its OUT-degree stays small) — the wedge
    self-join explodes on out-degree squared, so orientation converts
    the curse-of-the-last-reducer hot key into a uniformly bounded one.
    Three shuffles total: degree agg, wedge self-join on src, closing
    semi-join on (v, w). All-integer, so counts hash exactly.

    Returns (node, tri_count) for EVERY node of the undirected graph,
    zeros included.
    """
    from .parallelize import local_checkpoint_tracked

    und, _ = local_checkpoint_tracked(undirect(edges))
    deg = (
        und.select(F.col("lo").alias("node"))
        .union(und.select("hi"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    # orient by the total order (deg, node); carry the out-endpoint's
    # order key so the wedge stage never re-joins degrees
    e = (
        und.join(deg.withColumnRenamed("node", "lo"), "lo")
        .withColumnRenamed("deg", "deg_lo")
        .join(
            deg.select(F.col("node").alias("hi"), F.col("deg").alias("deg_hi")),
            "hi",
        )
    )
    fwd = F.col("deg_lo") < F.col("deg_hi")
    tie = (F.col("deg_lo") == F.col("deg_hi")) & (F.col("lo") < F.col("hi"))
    oriented, _ = local_checkpoint_tracked(
        e.select(
            F.when(fwd | tie, F.col("lo")).otherwise(F.col("hi")).alias("src"),
            F.when(fwd | tie, F.col("hi")).otherwise(F.col("lo")).alias("dst"),
            F.when(fwd | tie, F.col("deg_hi")).otherwise(F.col("deg_lo")).alias("deg_dst"),
        )
    )
    e1 = oriented.select("src", F.col("dst").alias("v"), F.col("deg_dst").alias("dv"))
    e2 = oriented.select("src", F.col("dst").alias("w"), F.col("deg_dst").alias("dw"))
    wedges = e1.join(e2, "src").filter(
        (F.col("dv") < F.col("dw"))
        | ((F.col("dv") == F.col("dw")) & (F.col("v") < F.col("w")))
    )
    tris = wedges.join(
        oriented.select(F.col("src").alias("v"), F.col("dst").alias("w")),
        ["v", "w"],
        "inner",
    ).select(F.col("src").alias("a"), F.col("v").alias("b"), F.col("w").alias("c"))
    corners = (
        tris.select(F.col("a").alias("node"))
        .union(tris.select("b"))
        .union(tris.select("c"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("tri_count"))
    )
    return deg.join(corners, "node", "left").select(
        "node", F.coalesce("tri_count", F.lit(0).cast("long")).alias("tri_count")
    )
