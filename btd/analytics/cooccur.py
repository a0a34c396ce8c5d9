"""Basket co-occurrence: item pairs that appear together, counted by
shared basket — association mining's candidate-pair primitive (the
support-counting pass of A-Priori / market-basket analysis), and on a
KG the "entities mentioned in the same context" affinity signal.

The scale discipline is the per-basket self-join: pair volume is
Σ m_b² over basket sizes m_b — bounded by the data model's basket
width, NOT the corpus size, so it stays linear as baskets accumulate.
The hazard is a pathological mega-basket (one basket holding 10⁵
items → 10¹⁰ pairs); ``max_basket_size`` purges those before pairing,
the same guard the LSH blocking join uses (btd/link/blocking.py).
The pair aggregation itself keys on (item_a, item_b) — hot ITEMS are
harmless because no shuffle keys on a single item.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _basket_items(
    df: DataFrame, basket: str, item: str, max_size: int | None
) -> DataFrame:
    """Distinct (_b, _i) basket memberships, baskets wider than
    ``max_size`` purged: widths are counted by a window over the
    basket-hashed exchange the distinct already made."""
    items = df.select(
        F.col(basket).alias("_b"), F.col(item).alias("_i")
    ).distinct()
    if max_size is None:
        return items
    w = Window.partitionBy("_b")
    return (
        items.withColumn("_sz", F.count(F.lit(1)).over(w))
        .where(F.col("_sz") <= max_size)
        .drop("_sz")
    )


def basket_cooccurrence(
    df: DataFrame,
    basket: str,
    item: str,
    min_shared: int = 2,
    max_basket_size: int | None = None,
) -> DataFrame:
    """(item_a, item_b, n_baskets): unordered item pairs co-occurring
    in at least ``min_shared`` distinct baskets, item_a < item_b.

    Plan: distinct (basket, item) — one exchange that also de-dupes
    repeated items within a basket — then a self-equi-join on basket
    (co-partitioned: both sides arrive hashed by basket, so the join
    itself is shuffle-free on top of the distinct), then one
    partial-aggregated count keyed by the pair. With
    ``max_basket_size``, basket widths are counted with a window over
    the same basket-hashed exchange and oversized baskets dropped
    before pairing (purged baskets would dominate pair volume while
    carrying near-zero signal — every pair in a mega-basket has
    support ≥ its size only from itself).
    """
    items = _basket_items(df, basket, item, max_basket_size)
    b = items.select("_b", F.col("_i").alias("_j"))
    return (
        items.join(b, "_b")
        .where(F.col("_i") < F.col("_j"))
        .groupBy(
            F.col("_i").alias("item_a"), F.col("_j").alias("item_b")
        )
        .agg(F.count(F.lit(1)).alias("n_baskets"))
        .where(F.col("n_baskets") >= min_shared)
    )


def neighborhood_jaccard(
    df: DataFrame,
    node: str,
    neighbor: str,
    min_jaccard: float = 0.0,
    max_neighbor_degree: int | None = None,
) -> DataFrame:
    """(node_a, node_b, n_common, jaccard): neighborhood-overlap link
    prediction — for node pairs sharing at least one neighbor,
    J = |N(a) ∩ N(b)| / |N(a) ∪ N(b)|, node_a < node_b. The classic
    structural-similarity score (who talks to the same tools / buys
    the same parts / cites the same entities).

    Candidate generation IS basket co-occurrence with the roles
    flipped (basket = shared neighbor): pairs only materialize through
    a common neighbor, so volume is Σ deg(neighbor)² — bounded by
    neighbor fan-in, not node-pairs. A non-discriminating hub neighbor
    (everyone bought it → its deg² dominates while J-signal ≈ 0) is
    purged by ``max_neighbor_degree`` BEFORE pairing; degrees for the
    union term come from the SAME purged edge set, so the emitted
    jaccard is exact over the operator's post-purge graph (documented
    contract — not an approximation of the unpurged value).

    jaccard is ROUND(,6) from an exact integer ratio — engine-stable.
    ``min_jaccard`` prunes the OUTPUT only (all candidates are still
    counted; at scale you set it high and let the count stay partial-
    aggregated).
    """
    pairs = _basket_items(df, neighbor, node, max_neighbor_degree)
    deg = pairs.groupBy(F.col("_i").alias("_n")).agg(
        F.count(F.lit(1)).alias("_deg")
    )
    other = pairs.select("_b", F.col("_i").alias("_j"))
    common = (
        pairs.join(other, "_b")
        .where(F.col("_i") < F.col("_j"))
        .groupBy("_i", "_j")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        common.join(deg.withColumnRenamed("_n", "_i"), "_i")
        .withColumnRenamed("_deg", "_di")
        .join(deg.withColumnRenamed("_n", "_j"), "_j")
        .withColumnRenamed("_deg", "_dj")
        .select(
            F.col("_i").alias("node_a"),
            F.col("_j").alias("node_b"),
            "n_common",
            F.round(
                F.col("n_common")
                / (F.col("_di") + F.col("_dj") - F.col("n_common")),
                6,
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= min_jaccard)
    )


def adamic_adar(
    df: DataFrame,
    node: str,
    neighbor: str,
    max_neighbor_degree: int | None = None,
) -> DataFrame:
    """(node_a, node_b, aa_score): Adamic–Adar link prediction —
    AA(a,b) = Σ over shared neighbors z of 1/ln(deg(z)). The
    log-damping is the semantic difference from
    :func:`neighborhood_jaccard`: a rare shared neighbor (deg 2) is
    strong evidence, a common one nearly none — the standard baseline
    the jaccard score over-weights hubs against.

    Same candidate-generation scale shape (pairs only through shared
    neighbors, Σ deg² bounded, ``max_neighbor_degree`` purge knob),
    but the per-neighbor weight rides the pairing join, so scoring
    needs NO degree re-join afterward: distinct edges → neighbor
    degree (one partial-aggregated exchange) → self-join through the
    neighbor carrying 1/ln(deg) → pair-keyed sum. A degree-1 neighbor
    is shared by nobody, so ln(deg) ≥ ln 2 wherever a weight is
    evaluated — no division hazard.

    aa_score is ROUND(,6): addends are exact same-input doubles on
    both engines; the pair-sum's summation-order drift (~1e-15) sits
    9 orders below the rounding step.
    """
    pairs = _basket_items(df, neighbor, node, max_neighbor_degree)
    deg = pairs.groupBy("_b").agg(F.count(F.lit(1)).alias("_deg"))
    weighted = pairs.join(deg, "_b").select(
        "_b", "_i", (F.lit(1.0) / F.log(F.col("_deg"))).alias("_w")
    )
    other = weighted.select("_b", F.col("_i").alias("_j"), "_w")
    return (
        weighted.drop("_w")
        .join(other, "_b")
        .where(F.col("_i") < F.col("_j"))
        .groupBy(F.col("_i").alias("node_a"), F.col("_j").alias("node_b"))
        .agg(F.round(F.sum("_w"), 6).alias("aa_score"))
    )
