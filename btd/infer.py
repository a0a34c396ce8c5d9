"""Rule-based forward chaining over the triple table — SPARQL
``CONSTRUCT`` and RDFS-style materialization, the enrichment step that
completes KG construction (extract → link → canonicalize → ENTAIL).

``construct(triples, where, template)`` binds a basic graph pattern
(:mod:`btd.bgp` — selectivity-ordered joins, broadcast anchors) and
instantiates template triples from each solution: one narrow select
per template pattern over ONE shared solution frame, unioned and
deduplicated. ``infer(triples, rules)`` iterates a rule set to
fixpoint: each round applies every rule to the current graph,
anti-joins out already-known triples, and unions in the fresh ones;
the loop stops when a round derives nothing.

Scale posture, stated honestly:

* Evaluation is NAIVE (each round re-derives over the full graph),
  bounded by the anti-join so the UNION only ever grows by genuinely
  new triples. That is the right trade for the target workload —
  heterogeneous RDFS-style rule sets (domain/range typing, predicate
  mapping, inverses, bounded subclass chains) whose fixpoint depth is
  the schema's hierarchy depth, a small constant. Per-round cost is
  Σ_rules cost(body BGP over g); rounds are capped by ``max_rounds``.
* For PURE transitive closure (one recursive rule, unbounded depth)
  this engine is the wrong tool and the property-path operator is the
  right one: ``bgp_match(..., [("?a", "<p>+", "?b")])`` compiles to
  khop's frontier BFS, which IS the semi-naive evaluation of that
  rule (per-level work bounded by the delta). ``infer`` raises after
  ``max_rounds`` instead of silently truncating, so a rule set that
  needs unbounded recursion fails loudly.
* Fixpoint detection is one driver-side ``isEmpty`` of the
  (checkpointed) fresh-triple set per round — the same bounded driver
  state discipline as pagerank's convergence check. Lineage is cut per
  round via :class:`btd.ckpt.CheckpointLoop`, which keeps only the
  current and previous round's checkpoints alive.
"""

from __future__ import annotations

from functools import reduce
from typing import Iterable, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from btd.bgp import _POSITIONS, _is_var, bgp_match
from btd.ckpt import CheckpointLoop

Pattern = Sequence[str]
#: (body patterns, head templates)
Rule = tuple[Sequence[Pattern], Sequence[Pattern]]


def construct(
    triples: DataFrame,
    where: Iterable[Pattern],
    template: Iterable[Pattern],
    columns: Sequence[str] = _POSITIONS,
    **bgp_kwargs,
) -> DataFrame:
    """SPARQL CONSTRUCT: match ``where``, emit ``template`` triples.

    Template terms are ``"?var"`` (must be bound by the required or
    optional patterns of ``where``) or constants. Returns a distinct
    triple frame with the same ``columns`` schema as the input, so
    constructed graphs union/join back against their source directly.
    With a 4-column (quad) schema, a 3-term template emits into the
    default graph (``''``, the reference's no-context encoding —
    RDFStatement.java treats absent context as empty); a 4-term
    template sets the graph term explicitly.
    """
    template = [tuple(t) for t in template]
    if not template:
        raise ValueError("CONSTRUCT needs at least one template triple")
    sol = bgp_match(
        triples, where, distinct=True, columns=columns, **bgp_kwargs
    )
    bound = set(sol.columns)
    outs = []
    for t in template:
        if len(t) not in (3, len(columns)):
            raise ValueError(
                f"template {t!r} must have 3 terms or one per column "
                f"({len(columns)})"
            )
        if len(t) < len(columns):
            t = t + ("",) * (len(columns) - len(t))  # default graph
        sel = []
        for term, cname in zip(t, columns):
            if _is_var(term):
                v = term[1:]
                if v not in bound:
                    raise ValueError(
                        f"template variable ?{v} is not bound by the "
                        f"WHERE patterns (bound: {sorted(bound)})"
                    )
                sel.append(F.col(v).alias(cname))
            else:
                sel.append(F.lit(term).alias(cname))
        outs.append(sol.select(*sel))
    return reduce(lambda a, b: a.unionByName(b), outs).distinct()


def infer(
    triples: DataFrame,
    rules: Iterable[Rule],
    max_rounds: int = 8,
    columns: Sequence[str] = _POSITIONS,
    **bgp_kwargs,
) -> DataFrame:
    """Forward-chain ``rules`` to fixpoint; return the saturated graph
    (distinct input triples plus everything derivable).

    Provenance columns beyond ``columns`` are pruned — entailment is a
    statement about the distinct graph, not about assertions; join the
    result back to the assertion table on (s, p, o) if lineage of the
    BASE triples is needed downstream.

    Raises RuntimeError if the rule set has not converged after
    ``max_rounds`` — a recursive rule that needs unbounded depth
    should use the ``<p>+`` property-path operator instead (see module
    docstring). ``optional=`` is rejected: a NULL binding in a derived
    triple never equi-matches in the fixpoint anti-join, so the loop
    could only end in that RuntimeError.
    """
    rules = [
        (list(body), list(head)) for body, head in rules
    ]
    if not rules:
        raise ValueError("at least one rule is needed")
    if "optional" in bgp_kwargs:
        raise ValueError(
            "infer rules take no optional= patterns: an unbound template "
            "variable derives NULL triples that never reach a fixpoint"
        )
    with CheckpointLoop(triples.sparkSession, "infer") as loop:
        g = loop.step(triples.select(*columns).distinct())
        for _ in range(max_rounds):
            derived = reduce(
                lambda a, b: a.unionByName(b),
                [
                    construct(g, body, head, columns=columns, **bgp_kwargs)
                    for body, head in rules
                ],
            )
            # the window keeps g (previous state) alive for the union below
            fresh = loop.step(
                derived.join(g, on=list(columns), how="left_anti").distinct()
            )
            if fresh.isEmpty():
                loop.keep(g)  # g IS the result; the empty fresh is freed
                return g
            g = loop.step(g.unionByName(fresh))
        raise RuntimeError(
            f"no fixpoint after {max_rounds} rounds — the rule set "
            "recurses deeper than max_rounds; raise it, or express the "
            "recursive rule as a <p>+ property path (khop BFS)"
        )
