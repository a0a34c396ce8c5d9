"""Schema mining and assertion hygiene over an extracted triple table —
the KG-construction steps that run AFTER extraction/linking and BEFORE
materialization: what predicates exist and how they fan out
(``ontology_stats``), what type each entity is (``infer_types``), which
assertion wins when a functional property conflicts
(``resolve_conflicts``), and how far the graph reaches in two hops
(``two_hop_reach``).

All four are single-pass declarative plans: one keyed exchange each
(plus the self-join in ``two_hop_reach``), partial aggregation
map-side, no Python in the hot path. Rank-1 window filters benefit
from Spark 4's WindowGroupLimit: the ``rk = 1`` predicate is pushed
into a per-partition group limit BEFORE the exchange, so a hot entity
with 10⁸ assertions ships only its per-input-partition winners.

Reference parity note: the reference (problems/*.java) has no schema
mining; these extend its degree/count analyses (DistinctTriples.java,
utils/RDFStatement.java fields) to the predicate/type level the
north-star's KG pipeline needs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from btd.lsh import _purge_hot_keys


def ontology_stats(triples: DataFrame) -> DataFrame:
    """Per-predicate schema profile: assertion count, distinct
    subjects/objects, and mean object fanout per subject.

    Plan: ONE exchange keyed by predicate. The distinct counts ride the
    same aggregation as partial-aggregated ``count(DISTINCT ...)``
    (Spark expands to a two-phase plan internally — still one logical
    pass, no per-predicate re-scan). Predicate cardinality is tiny by
    construction (it's the schema), so the final reduce is trivially
    balanced no matter how skewed the DATA is across predicates.

    avg_fanout = assertions / distinct subjects, rounded to 6 so the
    DuckDB twin hashes identically.
    """
    return (
        triples.groupBy("pred")
        .agg(
            F.count(F.lit(1)).alias("n_triples"),
            F.countDistinct("subj").alias("n_subjects"),
            F.countDistinct("obj").alias("n_objects"),
        )
        .withColumn(
            "avg_fanout",
            F.round(F.col("n_triples") / F.col("n_subjects"), 6),
        )
        .orderBy("pred")
    )


def infer_types(triples: DataFrame) -> DataFrame:
    """Majority-vote entity typing: an entity's inferred type is the
    predicate it most often appears with as subject (ties break to the
    lexicographically smallest predicate — deterministic under any
    partitioning).

    Plan: partial-aggregated (subj, pred) count, then a rank-1 window
    keyed by subj — two exchanges, deliberately: keeping the count
    keyed on (subj, pred) balances a celebrity entity across tasks
    (collapsing to one subj-keyed exchange would co-locate its whole
    histogram), and the second exchange moves only the aggregated
    histogram, with WindowGroupLimit pruning non-winners map-side
    (Partial before the exchange — plan-verified), so a hot entity
    ships its per-input-partition winners, not its predicate list.
    """
    counted = triples.groupBy("subj", "pred").agg(
        F.count(F.lit(1)).alias("n_evidence")
    )
    w = Window.partitionBy("subj").orderBy(
        F.col("n_evidence").desc(), F.col("pred").asc()
    )
    return (
        counted.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select(
            F.col("subj").alias("entity"),
            F.col("pred").alias("inferred_type"),
            "n_evidence",
        )
    )


def resolve_conflicts(triples: DataFrame) -> DataFrame:
    """Functional-property conflict resolution: when one (subj, pred)
    carries several objects, the most recent assertion wins — recency
    is (turn_idx DESC, conv_id DESC), with obj ASC as the final
    deterministic tie-break for same-provenance duplicates. Emits the
    winning object plus how many distinct objects competed (the
    conflict signal a curation pass alerts on).

    Plan: one exchange keyed by (subj, pred) feeding BOTH window
    functions (row_number + the distinct-conflict collect_set). The
    full-frame conflict count blocks WindowGroupLimit pruning — every
    assertion must reach its group, which is inherent to counting
    conflicts — so the exchange carries all assertions at the
    (subj, pred) grain. That grain is finer than per-entity (a
    celebrity subject spreads across its predicates); if ONE
    functional property of ONE entity is hot enough to straggle,
    drop the conflict count and the rank-1 branch prunes map-side
    like infer_types.
    """
    w = Window.partitionBy("subj", "pred")
    wo = w.orderBy(
        F.col("turn_idx").desc(), F.col("conv_id").desc(), F.col("obj").asc()
    )
    return (
        triples.withColumn("rk", F.row_number().over(wo))
        .withColumn(
            "n_conflicting", F.size(F.collect_set("obj").over(w))
        )
        .where(F.col("rk") == 1)
        .select(
            "subj",
            "pred",
            F.col("obj").alias("obj_resolved"),
            "n_conflicting",
        )
    )


def two_hop_reach(
    edges: DataFrame, max_mid_fanout: int | None = None
) -> DataFrame:
    """Per-source two-hop neighborhood size: for each subject, the
    exact count of distinct objects reachable via one intermediate
    node (subject --e1--> mid --e2--> object).

    Plan: self-equi-join on the mid node (e1.object = e2.subject) —
    both sides exchange-hashed on the SAME key, so the join is one
    shuffle each side — then a distinct count keyed by source. The
    scale hazard is a hub mid (an object with 10⁶ in-edges joined to
    10⁶ out-edges → 10¹² pairs); ``max_mid_fanout`` purges mids whose
    OUT-degree exceeds the cap before the join, through the one
    hot-key purge of the shared-key pair kernel
    (btd.lsh._purge_hot_keys) — a hub's two-hop contribution is
    near-zero signal at quadratic cost. khop (btd/graph.py:138)
    answers the general-k BFS form; this is the declarative k=2 with
    exact distinct counting.
    """
    right = edges.select(
        F.col("subject").alias("_mid"), F.col("object").alias("_dst")
    )
    if max_mid_fanout is not None:
        right = _purge_hot_keys(right, "_mid", max_mid_fanout).drop("_n")
    left = edges.select(
        F.col("subject").alias("src"), F.col("object").alias("_mid")
    )
    return (
        left.join(right, "_mid")
        .groupBy("src")
        .agg(F.countDistinct("_dst").alias("n_two_hop"))
    )


def temporal_triples(triples: DataFrame) -> DataFrame:
    """(subj, pred, obj, valid_from, valid_to): assertion HISTORY as
    validity intervals — the temporal-KG materialization that
    complements resolve_conflicts (which keeps only the winner). Per
    (subj, pred), assertions are ordered by provenance recency
    (turn_idx, conv_id, obj — the same total order resolve_conflicts
    ranks by, ascending); consecutive re-assertions of the SAME object
    collapse into one interval; each surviving assertion is valid from
    its own turn_idx until the turn_idx that supersedes it, and the
    current assertion carries NULL valid_to ("valid now"). An as-of
    query over the KG is then a range predicate on these two columns
    (btd.temporal.asof_join is the event-side twin).

    Plan: ONE (subj, pred) exchange feeding two windows over the same
    sort — lag(obj) marks change points, the filter drops repeats,
    lead(turn_idx) on the SURVIVORS closes each interval. The filter
    preserves partitioning and ordering, so the second window adds no
    exchange and no sort (plan-asserted in tests). Hot (subj, pred)
    keys ship their assertion history once — the natural grain, same
    skew posture as resolve_conflicts.
    """
    w = Window.partitionBy("subj", "pred").orderBy(
        F.col("turn_idx").asc(), F.col("conv_id").asc(), F.col("obj").asc()
    )
    marked = triples.select(
        "subj", "pred", "obj", "turn_idx", "conv_id"
    ).withColumn("_prev_obj", F.lag("obj").over(w))
    changes = marked.where(
        F.col("_prev_obj").isNull() | (F.col("_prev_obj") != F.col("obj"))
    )
    return changes.select(
        "subj",
        "pred",
        "obj",
        F.col("turn_idx").alias("valid_from"),
        F.lead("turn_idx").over(w).alias("valid_to"),
    )
