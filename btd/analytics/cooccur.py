"""Basket co-occurrence: item pairs that appear together, counted by
shared basket — association mining's candidate-pair primitive (the
support-counting pass of A-Priori / market-basket analysis), and on a
KG the "entities mentioned in the same context" affinity signal.

The scale discipline is the per-basket self-join: pair volume is
Σ m_b² over basket sizes m_b — bounded by the data model's basket
width, NOT the corpus size, so it stays linear as baskets accumulate.
The hazard is a pathological mega-basket (one basket holding 10⁵
items → 10¹⁰ pairs); ``max_basket_size`` purges those before pairing.
All three functions are calls to the one shared-key pair kernel and
its purge (btd.lsh.key_pairs, basket = key). The pair aggregation
keys on (item_a, item_b) — hot ITEMS are harmless because no shuffle
keys on a single item.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from btd.lsh import _purge_hot_keys, key_pairs


def basket_cooccurrence(
    df: DataFrame,
    basket: str,
    item: str,
    min_shared: int = 2,
    max_basket_size: int | None = None,
) -> DataFrame:
    """(item_a, item_b, n_baskets): unordered item pairs co-occurring
    in at least ``min_shared`` distinct baskets, item_a < item_b.

    Distinct (basket, item) memberships — one exchange hashed on both,
    which also de-dupes repeated items within a basket — then
    ``key_pairs`` with basket = key: a window over a basket-hashed
    exchange sizes baskets when ``max_basket_size`` is set (the
    self-join reuses that exchange), then one partial-aggregated count
    per pair. ``max_basket_size`` drops oversized baskets before
    pairing: they would dominate pair volume while carrying near-zero
    signal.
    """
    items = df.select(basket, item).distinct()
    return key_pairs(items, basket, item, max_basket_size).select(
        F.col("id_a").alias("item_a"),
        F.col("id_b").alias("item_b"),
        F.col("n_shared").alias("n_baskets"),
    ).where(F.col("n_baskets") >= min_shared)


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
    m = df.select(F.col(neighbor).alias("_k"), F.col(node).alias("_i")).distinct()
    if max_neighbor_degree is not None:
        m = _purge_hot_keys(m, "_k", max_neighbor_degree)
    deg = m.groupBy("_i").agg(F.count(F.lit(1)).alias("_d"))
    n = F.col("n_shared")
    return (
        key_pairs(m, "_k", "_i")
        .join(deg.toDF("id_a", "_da"), "id_a")
        .join(deg.toDF("id_b", "_db"), "id_b")
        .select(
            F.col("id_a").alias("node_a"),
            F.col("id_b").alias("node_b"),
            n.alias("n_common"),
            F.round(n / (F.col("_da") + F.col("_db") - n), 6).alias(
                "jaccard"
            ),
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
    but the per-neighbor weight rides the pairing join: it is
    ``key_pairs``' ``adamic_adar`` sum over the key size its purge
    window already counts (on distinct memberships, so |key| =
    deg(z)), so there is no degree group-by or re-join. A
    degree-1 neighbor is shared by nobody, so ln(deg) ≥ ln 2 wherever
    a weight is summed — no division hazard.

    aa_score is ROUND(,6): addends are exact same-input doubles on
    both engines; the pair-sum's summation-order drift (~1e-15) sits
    9 orders below the rounding step.
    """
    edges = df.select(neighbor, node).distinct()
    return key_pairs(
        edges, neighbor, node, max_neighbor_degree, adamic_adar=True
    ).select(
        F.col("id_a").alias("node_a"),
        F.col("id_b").alias("node_b"),
        F.round("w_sum", 6).alias("aa_score"),
    )
