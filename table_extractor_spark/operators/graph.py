"""Iterative graph ranking over a distributed edge list.

PageRank (Page et al. 1999, "The PageRank citation ranking") in the
Pregel-ish DataFrame shape (Malewicz et al. SIGMOD 2010): each iteration
is one join (ranks onto out-edges) plus one partial-agg'd groupBy of the
contributions — the per-superstep plan a 10^12-edge cluster run wants,
with NO driver-side traffic at all (contrast the sanctioned O(1)-rows
collects in Lloyd training: here even the loop state stays
distributed; only the iteration COUNT lives on the driver).

Arithmetic is integer-exact end to end (the engine's reproducibility
policy): ranks are parts-per-million int64, each edge contributes
``rank div outdeg`` (exact per edge, so the SUM is order- and
partition-invariant), and the damping update is
``150_000 + 850_000 * sum_contrib div 1_000_000``.  Any engine replays
it bit-for-bit — the DuckDB oracle chains one CTE per iteration.

Dangling nodes (no out-edges) DROP their mass rather than spreading it
uniformly — the common simplification; total rank is therefore not
conserved and scores are comparative, not a probability.  Stated here
so the semantics are honest, not discovered.

Overflow budget: a node's rank after an update is at most
``150_000 + 850_000 * indeg`` ppm-scale, so the pre-division product
``850_000 * sum_contrib`` needs ``sum_contrib < 2^63 / 850_000 ≈ 1.08e13``
— guarded with ``assert_true`` per node, so a graph dense enough to
overflow fails loudly instead of wrapping.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

PPM = 1_000_000
DAMPING_PPM = 850_000
BASE_PPM = PPM - DAMPING_PPM  # 150_000
_SUM_BUDGET = (1 << 63) // DAMPING_PPM


def pagerank(
    edges: DataFrame,
    iters: int = 3,
    src: str = "src",
    dst: str = "dst",
    checkpoint_every: int = 8,
    sum_budget: int = _SUM_BUDGET,
) -> DataFrame:
    """(node, rank_ppm) after ``iters`` exact-integer PageRank rounds over
    the directed edge list.  ``edges`` rows must be distinct (src, dst)
    pairs; node ids are compared as-is, so namespace them upstream if two
    id spaces can collide (e.g. ``'c:'||custkey`` vs ``'s:'||suppkey``).

    Shape per iteration: broadcast-free join of the rank table onto the
    out-edge table (both hash-partitioned on the source key — co-located
    on a cluster that pre-bucketed edges), then one partial-agg'd groupBy
    on dst.  The out-degree join happens ONCE before the loop and the
    (src, dst, deg) table is persisted: iterations re-scan it, not the
    raw edges.  Lineage is truncated with localCheckpoint every
    ``checkpoint_every`` iterations so deep runs don't accumulate an
    unbounded plan tree (K<=8, the common case, never checkpoints).

    Cache lifetime: the fan and node tables stay persisted for as long as
    the returned DataFrame is in use (they back every iteration of its
    plan, so they cannot be released here).  A session ranking MANY
    graphs should unpersist them between runs —
    ``spark.catalog.clearCache()`` or hold references and
    ``df.unpersist()`` once the ranks are materialized."""
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    if checkpoint_every < 1:
        raise ValueError(
            f"checkpoint_every must be >= 1, got {checkpoint_every}"
            " (use a value > iters to disable checkpointing)"
        )
    outdeg = edges.groupBy(src).agg(F.count("*").cast("long").alias("__deg"))
    fan = edges.join(outdeg, src).select(
        F.col(src).alias("__src"), F.col(dst).alias("__dst"), "__deg"
    )
    fan.persist()
    nodes = (
        edges.select(F.col(src).alias("node"))
        .union(edges.select(F.col(dst).alias("node")))
        .distinct()
        .persist()
    )
    ranks = nodes.withColumn("rank_ppm", F.lit(PPM).cast("long"))
    for i in range(iters):
        contribs = (
            fan.join(ranks, fan["__src"] == ranks["node"])
            .select(
                F.col("__dst").alias("node"),
                F.expr("rank_ppm div __deg").alias("__c"),
            )
            .groupBy("node")
            .agg(F.sum("__c").cast("long").alias("__s"))
        )
        s = F.coalesce(F.col("__s"), F.lit(0).cast("long"))
        # the >= 0 leg catches a sum so large it WRAPPED int64 during
        # aggregation (wraps land anywhere in [-2^63, 2^63); a negative
        # or huge value both fail) — the budget check alone would let a
        # wrapped-negative sum through
        guarded = F.when(
            F.assert_true(
                (s >= 0) & (s < F.lit(sum_budget)),
                F.lit(
                    "pagerank: contribution sum exceeds the int64 damping "
                    "budget (~1.08e13 ppm); rescale ranks or shard the graph"
                ),
            ).isNull(),
            s,
        )
        ranks = (
            nodes.join(contribs, "node", "left")
            .withColumn("__g", guarded)
            .select(
                "node",
                F.expr(
                    f"CAST({BASE_PPM} + {DAMPING_PPM} * __g div {PPM} AS BIGINT)"
                ).alias("rank_ppm"),
            )
        )
        if (i + 1) % checkpoint_every == 0 and i + 1 < iters:
            ranks = ranks.localCheckpoint(eager=False)
    return ranks


def triangle_counts(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Per-node triangle participation counts over an UNDIRECTED edge list
    (rows must be distinct canonical pairs, src < dst, no self-loops).

    The MapReduce-classic degree-ordered edge-iterator (Schank & Wagner
    2005; Suri & Vassilvitskii WWW 2011): orient every undirected edge
    from its lower-(degree, id) endpoint to the higher one, build wedges
    by self-joining the oriented list on the source, and close each wedge
    with one more equi-join.  The orientation is the whole scale story —
    it bounds every node's out-degree by O(sqrt(m)) regardless of how
    skewed the raw degree distribution is, so the wedge join emits
    sum(outdeg^2) = O(m^1.5) rows worst-case instead of the hub-quadratic
    blowup a naive neighbor join suffers on a power-law graph.  Three
    shuffles end to end (degree groupBy, wedge self-join, closing join);
    every comparison is explicit (deg, id) tuple logic so the DuckDB
    oracle replays the same orientation bit-for-bit.

    Returns (node, n_triangles) for nodes in >= 1 triangle; each triangle
    increments all three corners.

    Cache lifetime (same contract as pagerank): the oriented edge table
    stays persisted while the returned DataFrame is in use — it backs
    both sides of the wedge join and the closing probe.  A session
    counting triangles over MANY graphs should release it between runs
    (``spark.catalog.clearCache()`` or unpersist after materializing)."""
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    deg = (
        e.select(F.col("u").alias("node"))
        .union(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("long").alias("deg"))
    )
    ed = (
        e.join(deg.select(F.col("node").alias("u"), F.col("deg").alias("du")), "u")
        .join(deg.select(F.col("node").alias("v"), F.col("deg").alias("dv")), "v")
    )
    lt = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = ed.select(
        F.when(lt, F.col("u")).otherwise(F.col("v")).alias("s"),
        F.when(lt, F.col("v")).otherwise(F.col("u")).alias("t"),
        F.when(lt, F.col("dv")).otherwise(F.col("du")).alias("dt"),
    ).persist()
    e1 = oriented.select(
        F.col("s"), F.col("t").alias("a"), F.col("dt").alias("da")
    )
    e2 = oriented.select(
        F.col("s"), F.col("t").alias("b"), F.col("dt").alias("db")
    )
    wedges = e1.join(e2, "s").filter(
        (F.col("da") < F.col("db"))
        | ((F.col("da") == F.col("db")) & (F.col("a") < F.col("b")))
    )
    closing = oriented.select(
        F.col("s").alias("a"), F.col("t").alias("b")
    )
    tris = wedges.join(closing, ["a", "b"]).select("s", "a", "b")
    corners = (
        tris.select(F.col("s").alias("node"))
        .union(tris.select(F.col("a").alias("node")))
        .union(tris.select(F.col("b").alias("node")))
    )
    return corners.groupBy("node").agg(
        F.count("*").cast("long").alias("n_triangles")
    )


def k_hop_distances(
    edges: DataFrame,
    seeds: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
    checkpoint_every: int = 8,
) -> DataFrame:
    """BFS hop distance (0..k) from a seed node set over a DIRECTED edge
    list: (node, hop) with hop = the MINIMUM number of edges from any
    seed, nodes beyond k hops absent.  ``seeds`` is a one-column
    DataFrame named ``node`` (kept distributed — a frontier is data, not
    driver state).

    Each round is the Pregel BFS superstep as two DataFrame ops: join the
    frontier onto the out-edge list (expand), then LEFT ANTI against the
    visited set (the dedup that makes hop = shortest distance and, more
    importantly at scale, keeps the frontier from re-exploding into
    already-settled regions — without it a dense graph's frontier grows
    as paths, not nodes).

    Every frontier is EAGERLY localCheckpoint-ed, which buys three things
    at once.  (1) Real materialization: each frontier is read twice
    (next round's expand/anti + the final union), and a lazily-built
    loop quietly recomputes early frontiers exponentially often.
    (2) PLAN truncation: nxt_h's logical plan embeds visited_{h-1},
    which embeds nxt_{h-1} — left untruncated the printed plan TREE
    doubles every hop and a deep walk OOMs the driver merely rendering
    it for the SQL UI.  (3) An EARLY EXIT the moment the frontier drains
    (the count on the checkpointed RDD is the sanctioned O(1)-scalar
    driver traffic, same budget as Lloyd training): a k=10 request
    over a diameter-3 component does 3 rounds, not 10.  The visited
    accumulator additionally truncates its union chain every
    ``checkpoint_every`` hops so deep walks keep a shallow plan.

    Checkpointed frontier RDDs back the returned union and hold their
    blocks while it is referenced; they are GC-released with the
    DataFrame — no session-level cache is pinned (unlike
    pagerank/triangle_counts, nothing here needs clearCache)."""
    if k < 0:
        raise ValueError(f"k must be >= 0, got {k}")
    if checkpoint_every < 1:
        raise ValueError(
            f"checkpoint_every must be >= 1, got {checkpoint_every}"
        )
    frontier = seeds.select("node").distinct().localCheckpoint(eager=True)
    visited = frontier.withColumn("hop", F.lit(0).cast("long"))
    out = edges.select(F.col(src).alias("__s"), F.col(dst).alias("__d"))
    for h in range(1, k + 1):
        nxt = (
            frontier.join(out, frontier["node"] == out["__s"])
            .select(F.col("__d").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .localCheckpoint(eager=True)
        )
        if nxt.count() == 0:  # frontier drained: all reachable nodes settled
            break
        visited = visited.union(nxt.withColumn("hop", F.lit(h).cast("long")))
        if h % checkpoint_every == 0 and h < k:
            visited = visited.localCheckpoint(eager=False)
        frontier = nxt
    return visited
