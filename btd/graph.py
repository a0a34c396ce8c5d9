"""Graph analytics over the materialized KG: PageRank and k-hop
reachability as iterated DataFrame joins (GraphFrames-style,
dependency-free).

Same execution discipline as connected components (btd.link.canonical):
driver-side fixed-iteration loop, one shuffle per iteration (join ranks
to out-edges, re-aggregate by destination), ``localCheckpoint`` lineage
cuts managed by :class:`btd.ckpt.CheckpointLoop` so superseded
iterations' blocks are freed instead of pinning executor storage for
the session. Dangling nodes (no out-edges) redistribute uniformly, so
ranks sum to n throughout — the invariant the tests assert.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from btd.ckpt import CheckpointLoop


def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    n_iter: int = 10,
    src: str = "src",
    dst: str = "dst",
    checkpoint_interval: int = 5,
    tol: float | None = None,
) -> DataFrame:
    """edges(src, dst) → (node, rank); ranks sum to #nodes.

    Duplicate edges count as parallel edges (weight = multiplicity),
    matching the reference's duplicate-preserving degree semantics.

    ``checkpoint_interval``: iterations chained lazily between eager
    ``localCheckpoint`` cuts. Each cut is a job barrier; between cuts
    the iterations pipeline inside one job (the dangling-mass scalar
    per iteration becomes a nested broadcast subquery). Lineage depth
    stays bounded by the interval either way — raise it when per-job
    latency dominates (small graphs), lower toward 1 when an
    iteration's shuffle is itself huge.

    ``tol``: convergence early-exit. When set, each CHECKPOINT (not
    each iteration — the check joins two materialized rank snapshots,
    one node-keyed exchange + a 1-row max, so it rides the checkpoint
    cadence for free) compares max |Δrank| against ``tol`` and stops
    when the window moved less than that; ``n_iter`` becomes the
    ceiling instead of the exact count. None (default) keeps the
    fixed-iteration contract the byte-exact oracles replicate.

    Each checkpoint logs ``"pagerank step <i>: <wall> s"`` (``btd.ckpt``
    logger): iterations run = min(steps * checkpoint_interval, n_iter).
    """
    for arg, v in (("n_iter", n_iter), ("checkpoint_interval", checkpoint_interval)):
        if v < 1:
            raise ValueError(f"{arg} must be >= 1, got {v}")
    with CheckpointLoop(edges.sparkSession, "pagerank") as loop:
        # explode, not union-of-projections: one evaluation of the edge
        # subtree for the node set
        nodes = loop.static(
            edges.select(
                F.explode(F.array(F.col(src), F.col(dst))).alias("node")
            ).distinct()
        )
        n_nodes = nodes.count()
        out_deg = edges.groupBy(F.col(src).alias("node")).agg(
            F.count(F.lit(1)).alias("out_deg")
        )
        # pre-join static structure once; re-used every iteration
        ew = loop.static(
            edges.select(F.col(src).alias("node"), F.col(dst).alias("dst_node"))
            .join(out_deg, "node")
        )
        # static set of dangling nodes (no out-edges) — computed once
        dangling_nodes = loop.static(nodes.join(out_deg, "node", "left_anti"))

        ranks = nodes.withColumn("rank", F.lit(1.0))
        prev_ck = ranks  # last checkpointed snapshot (tol mode only)
        for it in range(n_iter):
            contribs = (
                ew.join(ranks, "node")
                .groupBy(F.col("dst_node").alias("node"))
                .agg(F.sum(F.col("rank") / F.col("out_deg")).alias("recv"))
            )
            # dangling mass as a lazy 1-row aggregate cross-joined in — no
            # per-iteration driver action; the checkpoint below is the only
            # job each iteration runs
            dm = dangling_nodes.join(ranks, "node").agg(
                F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dm")
            )
            ranks = (
                nodes.join(contribs, "node", "left")
                .crossJoin(F.broadcast(dm))
                .select(
                    "node",
                    (
                        F.lit(1.0 - damping)
                        + F.lit(damping)
                        * (
                            F.coalesce(F.col("recv"), F.lit(0.0))
                            + F.col("dm") / F.lit(float(n_nodes))
                        )
                    ).alias("rank"),
                )
            )
            if (it + 1) % checkpoint_interval == 0 or it == n_iter - 1:
                ranks = loop.step(ranks)
                if tol is not None and it < n_iter - 1:
                    # the loop's window keeps the previous snapshot alive:
                    # both sides are materialized checkpoints, so the delta
                    # is one node-keyed join + a 1-row max, per CHECKPOINT,
                    # not per iteration
                    delta = (
                        ranks.join(
                            prev_ck.select("node", F.col("rank").alias("_prev")),
                            "node",
                        )
                        .agg(F.max(F.abs(F.col("rank") - F.col("_prev"))))
                        .collect()[0][0]
                    )
                    if delta is not None and delta < tol:
                        break
                    prev_ck = ranks
        loop.keep(ranks)  # statics and the previous snapshot are freed
    return ranks


def khop(
    edges: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
    roots: DataFrame | None = None,
    keep_self: bool = False,
) -> DataFrame:
    """edges(src, dst) → (root, node, hops): every node reachable from
    ``root`` in at most ``k`` directed hops, with ``hops`` = the
    MINIMUM hop count (1..k); self-pairs excluded unless ``keep_self``
    (a cycle returning to the root IS a reachability fact — SPARQL
    ``<p>+`` semantics need it; the neighborhood-size call doesn't,
    hence the default). ``roots`` (a
    1-column seed DataFrame) restricts the expansion to the given seed
    entities — the usual KG call shape ("the 3-hop neighborhood of
    these customers"), and the knob that bounds output volume when the
    full all-roots closure is not the question being asked.

    Level-synchronous BFS as iterated joins: each level joins the
    previous FRONTIER (not the full reach set) against the edge table,
    then anti-joins out pairs already reached at a shorter distance.
    That frontier+anti-join discipline is the scale property: a naive
    k-way walk expansion enumerates every length-≤k PATH (combinatorial
    in fan-out — the DuckDB oracle does exactly that, affordable only
    at gate scale), while this plan's per-level work is bounded by the
    DISTINCT pair set. Each level is one equi-join shuffle on the
    frontier's node column plus one anti-join on (root, node); AQE
    skew-split covers hub nodes.

    Hop counts are small fixed iteration depths (k ≤ ~6 in any query a
    KG user runs), so the loop is driver-side like :func:`pagerank`,
    no lineage blowup at these depths.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    e = (
        edges.select(F.col(src).alias("_s"), F.col(dst).alias("_n"))
        .distinct()
    )
    first = e
    if roots is not None:
        seeds = roots.select(
            F.col(roots.columns[0]).alias("_s")
        ).distinct()
        first = e.join(seeds, "_s")
    level = first.select(
        F.col("_s").alias("root"), F.col("_n").alias("node")
    )
    reached = level.withColumn("hops", F.lit(1))
    for h in range(2, k + 1):
        level = (
            level.join(e, level["node"] == e["_s"])
            .select("root", F.col("_n").alias("node"))
            .distinct()
            .join(reached, ["root", "node"], "left_anti")
        )
        reached = reached.unionByName(level.withColumn("hops", F.lit(h)))
    if keep_self:
        return reached
    return reached.where(F.col("root") != F.col("node"))


def triangle_count(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """(node, n_triangles): per-node triangle participation counts over
    the UNDIRECTED simple graph (direction, duplicate edges, and
    self-loops are normalized away first) — the local clustering
    signal, and on a KG the "alias cliques vs alias chains" shape
    probe for the same-as graph.

    Degree-ordered orientation (the node-iterator++ discipline): every
    edge is oriented from lower to higher (degree, id), wedges are
    built only at each triangle's LOWEST-ordered vertex, and closed
    with one more equi-join against the oriented edges. Wedge volume
    is Σ out_deg(v)² where out-degrees are degree-capped by the
    orientation (a hub of degree d contributes O(d) oriented edges
    only toward HIGHER-degree nodes — the classic bound that keeps the
    plan alive on power-law graphs, vs Σ deg² for naive id-ordering
    which explodes at the hubs). Each triangle is found exactly once;
    the orientation choice changes wedge volume, never the count, so
    the DuckDB oracle may use plain id-ordering.

    Three keyed exchanges end-to-end (normalize+degree, wedge join,
    closing join) + the per-node rollup; AQE skew-split covers any
    residual hot source.
    """
    und = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    deg = (
        und.select(F.explode(F.array("a", "b")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("_d"))
    )
    # orient by (degree, id): carry each endpoint's order key so the
    # wedge join can dedupe (v, w) pairs without re-joining degrees
    keyed = (
        und.join(deg.withColumnRenamed("node", "a"), "a")
        .withColumnRenamed("_d", "_da")
        .join(deg.withColumnRenamed("node", "b"), "b")
        .withColumnRenamed("_d", "_db")
        .select(
            F.struct(F.col("_da").alias("d"), F.col("a").alias("n")).alias("ka"),
            F.struct(F.col("_db").alias("d"), F.col("b").alias("n")).alias("kb"),
        )
    )
    ed = keyed.select(
        F.when(F.col("ka") < F.col("kb"), F.col("ka"))
        .otherwise(F.col("kb"))
        .alias("lo"),
        F.when(F.col("ka") < F.col("kb"), F.col("kb"))
        .otherwise(F.col("ka"))
        .alias("hi"),
    )
    e1, e2, e3 = ed.alias("e1"), ed.alias("e2"), ed.alias("e3")
    tri = (
        e1.join(e2, (F.col("e1.lo") == F.col("e2.lo"))
                & (F.col("e1.hi") < F.col("e2.hi")))
        .join(
            e3,
            (F.col("e3.lo") == F.col("e1.hi"))
            & (F.col("e3.hi") == F.col("e2.hi")),
        )
        .select(
            F.col("e1.lo.n").alias("u"),
            F.col("e1.hi.n").alias("v"),
            F.col("e2.hi.n").alias("w"),
        )
    )
    return (
        tri.select(F.explode(F.array("u", "v", "w")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
