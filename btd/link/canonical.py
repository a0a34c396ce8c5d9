"""Canonicalization: connected components over same-as edges +
deterministic canonical-ID election (min entity_id per component).

Two algorithms behind ``algorithm=``:

- ``"label"`` (default): min-label propagation as an iterated DataFrame
  self-join — the GraphFrames-style approach without the dependency.
  Each iteration: push every node's current label across all edges
  (both directions), keep the min. Converges in O(component diameter)
  iterations with ONE shuffle each; entity same-as components are
  shallow (chains/stars of surface variants), so diameter is usually
  the cheaper target.
- ``"star"``: alternating large-star/small-star edge rewriting
  (Kiveris et al., "Connected Components in MapReduce and Beyond",
  SoCC'14). Each round shrinks component height multiplicatively, so
  convergence is O(log n) rounds INDEPENDENT of diameter — the scale
  answer for adversarially deep components (e.g. a transcript corpus
  whose same-as graph contains a long alias chain) where label
  propagation would need diameter iterations.

Catalyst can't express fixpoints, so both loops are driver-side with
``localCheckpoint`` per iteration to cut lineage (SURVEY.md §7.3);
:class:`btd.ckpt.CheckpointLoop` frees superseded iterations' blocks
so the loop doesn't pin executor storage for the session.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from btd.ckpt import CheckpointLoop


def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    max_iter: int = 25,
    algorithm: str = "label",
) -> DataFrame:
    """nodes(entity_id) + edges(id_a, id_b) →
    (entity_id, canonical_id = min entity_id of the component).

    Raises RuntimeError if the labels have not reached a fixpoint after
    ``max_iter`` rounds."""
    if algorithm == "star":
        return _connected_components_star(nodes, edges, max_iter)
    if algorithm != "label":
        raise ValueError(f"unknown algorithm: {algorithm!r}")
    with CheckpointLoop(nodes.sparkSession, "components") as loop:
        # undirected: both directions once, reused every iteration. Explode,
        # not union-of-projections — a union's branches each re-evaluate
        # the (possibly expensive) edge subtree; explode reads it once.
        und = loop.static(
            edges.select(
                F.explode(
                    F.array(
                        F.struct(
                            F.col("id_a").alias("src"), F.col("id_b").alias("dst")
                        ),
                        F.struct(
                            F.col("id_b").alias("src"), F.col("id_a").alias("dst")
                        ),
                    )
                ).alias("e")
            )
            .select("e.src", "e.dst")
            .distinct()
        )
        labels = loop.step(
            nodes.select("entity_id", F.col("entity_id").alias("canonical_id"))
        )

        for _ in range(max_iter):
            msgs = und.join(
                labels, und.src == labels.entity_id, "inner"
            ).select(F.col("dst").alias("entity_id"), "canonical_id")
            # the loop's window keeps labels alive for the diff below
            new_labels = loop.step(
                labels.select("entity_id", "canonical_id")
                .unionByName(msgs)
                .groupBy("entity_id")
                .agg(F.min("canonical_id").alias("canonical_id"))
            )
            changed = (
                new_labels.alias("n")
                .join(labels.alias("o"), "entity_id")
                .where(F.col("n.canonical_id") != F.col("o.canonical_id"))
                .limit(1)
                .count()
            )
            labels = new_labels
            if changed == 0:
                break
        else:
            raise _no_fixpoint(max_iter)
        loop.keep(labels)
    return labels


def _no_fixpoint(max_iter: int) -> RuntimeError:
    """Labels that are still changing are wrong, not approximate."""
    return RuntimeError(
        f"connected components did not converge within max_iter={max_iter}"
        " rounds; raise max_iter, or use algorithm='star' for deep"
        " components"
    )


def _connected_components_star(
    nodes: DataFrame, edges: DataFrame, max_iter: int = 25
) -> DataFrame:
    """Alternating large-star/small-star (Kiveris et al., SoCC'14).

    State = an edge set. Per round (two shuffles):
      large-star: per node u, with m = min(N(u) ∪ {u}), rewrite every
        LARGER neighbor v > u to the edge (v, m) — hangs big neighbors
        directly under the local minimum.
      small-star: orient edges max→min; per node u, with m = min of its
        smaller neighbors, rewrite every smaller neighbor v (and u) to
        (v, m) / (u, m) — flattens the small side into a star.
    Component height halves-ish per round ⇒ O(log n) rounds; at the
    fixpoint every non-root node holds exactly the edge (node, root)
    where root = component min. IDs compare lexicographically (strings)
    exactly as the label algorithm's F.min election does.
    """
    with CheckpointLoop(nodes.sparkSession, "components_star") as loop:
        # state is kept max→min oriented and distinct, so set equality is
        # checkable as (same count) + (no new-minus-old rows)
        cur = loop.step(
            edges.select(
                F.greatest("id_a", "id_b").alias("u"),
                F.least("id_a", "id_b").alias("v"),
            )
            .where(F.col("u") != F.col("v"))
            .distinct()
        )
        n_cur = cur.count()

        for _ in range(max_iter):
            # ---- large-star --------------------------------------------
            und = cur.select(
                F.explode(
                    F.array(
                        F.struct(F.col("u").alias("u"), F.col("v").alias("v")),
                        F.struct(F.col("v").alias("u"), F.col("u").alias("v")),
                    )
                ).alias("e")
            ).select("e.u", "e.v")
            nbr_min = und.groupBy("u").agg(F.min("v").alias("mn"))
            large = (
                und.join(nbr_min, "u")
                .where(F.col("v") > F.col("u"))
                .select(
                    F.col("v").alias("u"),
                    F.least(F.col("mn"), F.col("u")).alias("v"),
                )
                .where(F.col("u") != F.col("v"))
                .distinct()
            )

            # ---- small-star --------------------------------------------
            dirmax = (
                large.select(
                    F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
                )
                .where(F.col("u") != F.col("v"))
                .distinct()
            )
            nmin = dirmax.groupBy("u").agg(F.min("v").alias("mn"))
            small = (
                dirmax.join(nmin, "u")
                .select(
                    F.explode(
                        F.array(
                            F.struct(F.col("v").alias("a"), F.col("mn").alias("b")),
                            F.struct(F.col("u").alias("a"), F.col("mn").alias("b")),
                        )
                    ).alias("e")
                )
                .select(F.col("e.a").alias("u"), F.col("e.b").alias("v"))
                .where(F.col("u") != F.col("v"))
                .distinct()
            )
            # one checkpoint per round: the window holds cur and new
            new = loop.step(small)
            n_new = new.count()
            changed = (
                n_new != n_cur
                or new.exceptAll(cur).limit(1).count() > 0
            )
            cur, n_cur = new, n_new
            if not changed:
                break
        else:
            raise _no_fixpoint(max_iter)

        # at the fixpoint each non-root node has exactly one edge, to the
        # component root; isolated nodes label themselves
        member = cur.select(
            F.greatest("u", "v").alias("entity_id"),
            F.least("u", "v").alias("root"),
        ).groupBy("entity_id").agg(F.min("root").alias("root"))
        out = loop.step(
            nodes.select("entity_id")
            .join(member, "entity_id", "left")
            .select(
                "entity_id",
                F.coalesce("root", F.col("entity_id")).alias("canonical_id"),
            )
        )
        loop.keep(out)
    return out


def canonicalize_entities(entities: DataFrame, same_as: DataFrame) -> DataFrame:
    """entities(entity_id, surface) + same_as(id_a, id_b, score) →
    ENTITIES schema (entity_id, canonical_id, surface)."""
    labels = connected_components(entities.select("entity_id"), same_as)
    return entities.join(labels, "entity_id").select(
        "entity_id", "canonical_id", "surface"
    )
