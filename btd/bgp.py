"""Basic-graph-pattern (BGP) matching over the triple table — the
conjunctive-query workload an RDF store serves (SPARQL ``SELECT
[DISTINCT]`` over a BGP, plus ``OPTIONAL``), expressed as Catalyst
equi-joins.

The reference repo exists to FEED this workload: its MapReduce jobs
profile the billion-triples dump (distinct counts, degree histograms —
Distinct.java, OutDegreeCount.java) that a triple store then answers
pattern queries over. This module is that query half, Spark-first:

* each triple pattern compiles to a filtered, pruned projection of the
  ONE shared triple scan — constants become pushed-down equality
  predicates, variables become renamed columns — so Catalyst sees
  nothing but plain equi-joins over narrow 1-3 column frames;
* join ORDER is chosen greedily by selectivity (bound-term count
  first, then shared-variable connectivity) because vanilla Spark does
  not reorder inner joins without CBO statistics; this is the classic
  heuristic of Stocker et al., "SPARQL basic graph pattern
  optimization using selectivity estimation" (WWW 2008);
* a pattern with >= ``broadcast_bound`` bound terms is broadcast — a
  (subj,pred)- or (pred,obj)-bound slice of even a 10^12-triple table
  is overwhelmingly dimension-sized, and broadcasting it turns the
  anchor join shuffle-free (callers with a pathological constant can
  pass ``broadcast_bound=None``);
* ``optional`` patterns LEFT-join after the required block, mirroring
  SPARQL OPTIONAL semantics: unmatched rows keep their required
  bindings and carry NULL for the optional-only variables;
* ``minus`` patterns ANTI-join (SPARQL MINUS): a required solution is
  dropped when the minus pattern matches on their shared variables —
  variables appearing only in the minus pattern are existential;
* a predicate constant ending in ``+`` is a SPARQL property path
  (``<p>+``): the pattern matches pairs connected by 1..path_max_hops
  edges of that predicate, compiled to the level-synchronous
  frontier+anti-join BFS of :func:`btd.graph.khop` (per-level work
  bounded by the distinct pair set, not path volume). A bound endpoint
  seeds the BFS — bound subject forward, bound object backward over
  the reversed slice — so the closure never expands beyond the
  asked-for neighborhood; self-reach through a cycle is included, per
  SPARQL.

Scale posture: k required patterns cost k-1 joins of PATTERN-sized
(never corpus-sized) slices, each keyed on the shared variable(s); the
triple scan is shared, so predicate pushdown + column pruning reach the
parquet reader once. No cartesian product can appear unless the caller
writes a disconnected BGP on purpose (raises by default;
``allow_product=True`` to override). Hot join variables (a star on a
hub entity) are ordinary skewed equi-joins — AQE skew splitting
applies, same as every keyed exchange in this repo.
"""

from __future__ import annotations

from typing import Iterable, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_POSITIONS = ("subj", "pred", "obj")

Pattern = Sequence[str]


def _is_var(term: str) -> bool:
    return isinstance(term, str) and term.startswith("?") and len(term) > 1


class _Compiled:
    """One triple pattern as a narrow projected slice of the scan."""

    __slots__ = ("df", "vars", "bound", "idx", "pattern")

    def __init__(
        self,
        triples: DataFrame,
        pattern: Pattern,
        idx: int,
        columns: Sequence[str] = _POSITIONS,
        path_max_hops: int = 3,
    ):
        if len(pattern) not in (3, len(columns)):
            raise ValueError(
                f"pattern {pattern!r} must have 3 terms (s, p, o) or "
                f"{len(columns)} (one per column, quad form)"
            )
        pred = pattern[1]
        if not _is_var(pred) and pred.endswith("+") and len(pred) > 1:
            if len(pattern) != 3:
                raise ValueError(
                    f"path pattern {pattern!r} must be a 3-term triple; "
                    "scope the graph by pre-filtering the quads frame"
                )
            self._compile_path(triples, pattern, idx, columns, path_max_hops)
            return
        conds = []
        proj: dict[str, str] = {}  # var name -> source column
        bound = 0
        for col, term in zip(columns, pattern):
            if _is_var(term):
                v = term[1:]
                if v in proj:
                    # repeated variable inside ONE pattern => equality
                    # between the two positions, filtered pre-projection
                    conds.append(F.col(col) == F.col(proj[v]))
                else:
                    proj[v] = col
            else:
                conds.append(F.col(col) == F.lit(term))
                bound += 1
        if not proj:
            raise ValueError(
                f"pattern {pattern!r} binds no variables; a fully-ground "
                "pattern is an EXISTS filter — express it as a required "
                "pattern sharing a variable, or pre-filter the triples"
            )
        df = triples
        for c in conds:
            df = df.where(c)
        self.df = df.select(
            *[F.col(src).alias(v) for v, src in proj.items()]
        )
        self.vars = set(proj)
        self.bound = bound
        self.idx = idx
        self.pattern = tuple(pattern)

    def _compile_path(
        self,
        triples: DataFrame,
        pattern: Pattern,
        idx: int,
        columns: Sequence[str],
        max_hops: int,
    ) -> None:
        """``(s, <p>+, o)``: transitive closure of the predicate's edge
        slice up to ``max_hops``, via khop's frontier BFS.

        Self-reach solutions are KEPT (khop ``keep_self``): on a cyclic
        graph, SPARQL ``<p>+`` includes a→…→a, and ``(?x <p>+ ?x)``
        enumerates exactly the nodes on ≤max_hops cycles. A bound
        endpoint always SEEDS the BFS — bound subject directly, bound
        object by reversing the edge slice — so the closure never
        expands past the asked-for neighborhood in either direction.
        """
        from btd.graph import khop

        if max_hops < 1:
            raise ValueError(
                f"path_max_hops must be >= 1, got {max_hops} (SPARQL "
                "<p>+ is one-or-more; there is no zero-hop closure)"
            )
        s_term, pred, o_term = pattern
        scol, pcol, ocol = columns[:3]
        base = triples.where(F.col(pcol) == F.lit(pred[:-1])).select(
            F.col(scol).alias("_s"), F.col(ocol).alias("_n")
        )
        reverse = False
        roots = None
        if not _is_var(s_term):
            # bound subject => seed the forward BFS
            roots = base.where(F.col("_s") == F.lit(s_term)).select("_s")
        elif not _is_var(o_term):
            # bound object => BFS BACKWARD from it over reversed edges,
            # never the full all-roots closure
            reverse = True
            base = base.select(
                F.col("_n").alias("_s"), F.col("_s").alias("_n")
            )
            roots = base.where(F.col("_s") == F.lit(o_term)).select("_s")
        closure = khop(
            base, k=max_hops, src="_s", dst="_n", roots=roots,
            keep_self=True,
        )
        s_out, o_out = ("node", "root") if reverse else ("root", "node")
        sel = []
        self.vars = set()
        if _is_var(s_term) and _is_var(o_term) and s_term == o_term:
            # (?x <p>+ ?x): nodes on a cycle of length <= max_hops
            closure = closure.where(F.col("root") == F.col("node"))
            sel.append(F.col("root").alias(s_term[1:]))
            self.vars.add(s_term[1:])
        else:
            if _is_var(s_term):
                sel.append(F.col(s_out).alias(s_term[1:]))
                self.vars.add(s_term[1:])
            if _is_var(o_term):
                sel.append(F.col(o_out).alias(o_term[1:]))
                self.vars.add(o_term[1:])
        if not sel:
            raise ValueError(
                f"pattern {pattern!r} binds no variables; a fully-ground "
                "path is an EXISTS filter — share a variable instead"
            )
        self.df = closure.select(*sel)
        # s/o constants count toward selectivity; the path itself doesn't
        # ((?x <p>+ ?x) binds one variable yet has no constant endpoint)
        self.bound = sum(not _is_var(t) for t in (s_term, o_term))
        self.idx = idx
        self.pattern = tuple(pattern)


def _maybe_broadcast(c: _Compiled, broadcast_bound: int | None) -> DataFrame:
    if broadcast_bound is not None and c.bound >= broadcast_bound:
        return F.broadcast(c.df)
    return c.df


def bgp_match(
    triples: DataFrame,
    patterns: Iterable[Pattern],
    optional: Iterable[Pattern] = (),
    minus: Iterable[Pattern] = (),
    distinct: bool = True,
    broadcast_bound: int | None = 2,
    allow_product: bool = False,
    columns: Sequence[str] = _POSITIONS,
    path_max_hops: int = 3,
) -> DataFrame:
    """Match a conjunctive basic graph pattern against ``triples``.

    ``triples`` needs columns (subj, pred, obj); extra columns (conv_id
    provenance etc.) are pruned away. Each pattern is a 3-sequence of
    terms: ``"?name"`` is a variable, anything else a constant. Returns
    one column per distinct variable, named without the ``?``, ordered
    by first appearance in the user's pattern list (required before
    optional) — NOT by the planner's join order, which is internal.

    ``distinct=True`` gives SPARQL ``SELECT DISTINCT`` semantics (the
    deterministic choice for oracle comparison); ``distinct=False``
    keeps bag semantics.

    ``optional`` patterns LEFT-join sequentially: each joins the
    solution built so far (required block plus earlier optionals) on
    its shared variables, and must share at least one — an unshared
    optional would be a cross product of NULLs, always a query bug. An
    optional keyed on an earlier optional's variable therefore never
    matches rows where that variable is NULL (the left-join-chain
    behavior of SQL engines and most stores; formal SPARQL
    unbound-compatibility would let it bind — restructure as a nested
    ``bgp_match(..., distinct=False)`` group joined manually if you
    need that reading).

    Each ``minus`` pattern ANTI-joins the required block on its shared
    variables (SPARQL MINUS); it must share at least one variable — a
    domain-disjoint MINUS removes nothing in SPARQL and is always a
    query bug here. MINUS applies before OPTIONAL, so optional-only
    variables cannot be minus keys.

    ``columns`` renames the (subject, predicate, object) positions for
    triple tables with a different schema — e.g. the reference's
    n-quad table uses ``("subject", "predicate", "object")``. Passing
    FOUR names enables quad patterns (SPARQL GRAPH scoping): a 4-term
    pattern binds or constrains the graph/context position too, while
    3-term patterns leave it unconstrained. A bound graph term counts
    toward selectivity like any constant (a (p, g)-bound slice
    broadcasts). Property-path patterns stay 3-term — scope the graph
    by pre-filtering the quads frame.

    Each pattern slice scans ``triples`` once. Over a parquet/Iceberg
    triple table that is the right plan (constant predicates prune and
    push down per slice); over an EXPENSIVE derived plan (e.g. raw
    pandas-UDF extraction) persist the frame first — production BGP
    runs against the materialized triple table, not the extractor.

    A constant predicate ending in ``+`` is a property path: pairs
    connected by 1..``path_max_hops`` hops of that predicate (SPARQL
    ``<p>+`` truncated at a fixed depth — unbounded closure over an
    unknown graph is not a plan that survives 100 TB; pick the depth
    the question actually needs). A vocabulary whose predicate IRIs
    themselves end in ``+`` would collide with this syntax; escape by
    pre-filtering the triples frame instead of using a constant term.
    """
    if len(columns) not in (3, 4):
        raise ValueError(
            f"columns must name (subject, predicate, object) or "
            f"(subject, predicate, object, graph) positions, "
            f"got {tuple(columns)!r}"
        )
    mk = lambda ps: [  # noqa: E731
        _Compiled(triples, p, i, columns, path_max_hops)
        for i, p in enumerate(ps)
    ]
    req, opt, neg = mk(patterns), mk(optional), mk(minus)
    if not req:
        raise ValueError("at least one required pattern is needed")

    # user-facing column order: first appearance, required then optional
    # (minus variables are removed, never bound — they don't project)
    out_cols: list[str] = []
    for c in req + opt:
        for term in c.pattern:
            if _is_var(term) and term[1:] not in out_cols:
                out_cols.append(term[1:])

    # ---- greedy selectivity-ordered join over the required block ----
    remaining = list(req)
    remaining.sort(key=lambda c: (-c.bound, c.idx))
    first = remaining.pop(0)
    # hint the anchor only when an inner join inside this call consumes
    # it — an unconsumed ResolvedHint would escape on the returned frame
    # and force-broadcast the result into the CALLER's next join,
    # whatever its size
    cur = _maybe_broadcast(first, broadcast_bound) if remaining else first.df
    bound_vars = set(first.vars)
    while remaining:
        # prefer max shared vars, then max bound terms, then user order
        remaining.sort(
            key=lambda c: (-len(c.vars & bound_vars), -c.bound, c.idx)
        )
        nxt = remaining.pop(0)
        shared = sorted(nxt.vars & bound_vars)
        if shared:
            cur = cur.join(
                _maybe_broadcast(nxt, broadcast_bound), on=shared, how="inner"
            )
        elif allow_product:
            cur = cur.crossJoin(nxt.df)
        else:
            raise ValueError(
                f"disconnected BGP: pattern {nxt.pattern!r} shares no "
                f"variable with {sorted(bound_vars)}; this forces a "
                "cartesian product — pass allow_product=True if intended"
            )
        bound_vars |= nxt.vars

    # ---- MINUS block: anti joins on the shared variables ----
    for c in neg:
        shared = sorted(c.vars & bound_vars)
        if not shared:
            raise ValueError(
                f"minus pattern {c.pattern!r} shares no variable with the "
                "required block; a domain-disjoint MINUS removes nothing "
                "— restructure the query"
            )
        cur = cur.join(
            _maybe_broadcast(c, broadcast_bound), on=shared, how="left_anti"
        )

    # ---- OPTIONAL block: left joins, required bindings preserved ----
    for c in opt:
        shared = sorted(c.vars & bound_vars)
        if not shared:
            raise ValueError(
                f"optional pattern {c.pattern!r} shares no variable with "
                "the required block; an unshared OPTIONAL cross-products "
                "NULLs — restructure the query"
            )
        cur = cur.join(
            _maybe_broadcast(c, broadcast_bound), on=shared, how="left"
        )
        bound_vars |= c.vars

    cur = cur.select(*out_cols)
    return cur.distinct() if distinct else cur
