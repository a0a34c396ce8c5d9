"""BGP matcher semantics + plan assertions (btd.bgp).

Reference tie-in: the reference profiles the billion-triples dump the
way a store operator would before serving pattern queries over it
(SURVEY.md §2); bgp_match IS that query surface, so its semantics are
pinned here against hand-computable graphs.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from btd.bgp import bgp_match


@pytest.fixture(scope="module")
def kg(spark):
    rows = [
        ("alice", "works_at", "acme"),
        ("bob", "works_at", "acme"),
        ("carol", "works_at", "globex"),
        ("acme", "located_in", "rome"),
        ("alice", "uses", "spark"),
        ("bob", "uses", "duckdb"),
        ("alice", "knows", "bob"),
        ("dave", "likes", "dave"),
        ("dave", "likes", "erin"),
        # duplicate assertion (bag-vs-set semantics)
        ("alice", "works_at", "acme"),
    ]
    df = spark.createDataFrame(rows, "subj string, pred string, obj string")
    df.persist()
    df.count()
    return df


def _set(df):
    return {tuple(r) for r in df.collect()}


def test_chain_join(kg):
    out = bgp_match(
        kg, [("?p", "works_at", "?co"), ("?co", "located_in", "?city")]
    )
    assert out.columns == ["p", "co", "city"]
    assert _set(out) == {("alice", "acme", "rome"), ("bob", "acme", "rome")}


def test_star_join_with_constant_anchor(kg):
    out = bgp_match(
        kg, [("?p", "works_at", "acme"), ("?p", "uses", "?tool")]
    )
    assert _set(out) == {("alice", "spark"), ("bob", "duckdb")}


def test_constant_only_filter_single_pattern(kg):
    out = bgp_match(kg, [("?p", "works_at", "globex")])
    assert _set(out) == {("carol",)}


def test_repeated_variable_in_one_pattern(kg):
    out = bgp_match(kg, [("?x", "likes", "?x")])
    assert _set(out) == {("dave",)}


def test_distinct_vs_bag(kg):
    pat = [("?p", "works_at", "acme")]
    assert bgp_match(kg, pat).count() == 2
    assert bgp_match(kg, pat, distinct=False).count() == 3  # dup kept


def test_column_order_is_user_order_not_planner_order(kg):
    # planner starts at the 2-bound second pattern, but output columns
    # follow first appearance in the USER's list
    out = bgp_match(
        kg, [("?p", "works_at", "?co"), ("?co", "located_in", "rome")]
    )
    assert out.columns == ["p", "co"]
    assert _set(out) == {("alice", "acme"), ("bob", "acme")}


def test_optional_keeps_unmatched_with_null(kg):
    out = bgp_match(
        kg,
        [("?p", "works_at", "?co")],
        optional=[("?co", "located_in", "?city")],
    )
    assert _set(out) == {
        ("alice", "acme", "rome"),
        ("bob", "acme", "rome"),
        ("carol", "globex", None),
    }


def test_optional_all_null_variable(kg):
    # objects of `uses` never appear as subjects -> optional never binds
    out = bgp_match(
        kg,
        [("?p", "uses", "?tool")],
        optional=[("?tool", "located_in", "?city")],
    )
    assert _set(out) == {
        ("alice", "spark", None),
        ("bob", "duckdb", None),
    }


def test_minus_removes_matching_solutions(kg):
    # workers minus those who use anything -> carol only
    out = bgp_match(
        kg,
        [("?p", "works_at", "?co")],
        minus=[("?p", "uses", "?tool")],
    )
    assert _set(out) == {("carol", "globex")}
    # minus variable is existential, never projected
    assert out.columns == ["p", "co"]


def test_minus_with_constant(kg):
    out = bgp_match(
        kg,
        [("?p", "works_at", "acme")],
        minus=[("?p", "uses", "spark")],
    )
    assert _set(out) == {("bob",)}


def test_minus_unshared_raises(kg):
    with pytest.raises(ValueError, match="domain-disjoint"):
        bgp_match(
            kg, [("?p", "works_at", "?co")], minus=[("?a", "likes", "?b")]
        )


def test_minus_then_optional_composes(kg):
    out = bgp_match(
        kg,
        [("?p", "works_at", "?co")],
        optional=[("?co", "located_in", "?city")],
        minus=[("?p", "uses", "?tool")],
    )
    assert _set(out) == {("carol", "globex", None)}


def test_columns_mapping_nquad_schema(spark, kg):
    nq = kg.select(
        kg.subj.alias("subject"),
        kg.pred.alias("predicate"),
        kg.obj.alias("object"),
    ).withColumn("context", F.col("subject"))
    out = bgp_match(
        nq,
        [("?p", "works_at", "?co"), ("?co", "located_in", "?city")],
        columns=("subject", "predicate", "object"),
    )
    assert _set(out) == {("alice", "acme", "rome"), ("bob", "acme", "rome")}


@pytest.fixture(scope="module")
def chain_kg(spark):
    # a -next-> b -next-> c -next-> d, plus labels
    rows = [
        ("a", "next", "b"),
        ("b", "next", "c"),
        ("c", "next", "d"),
        ("x", "next", "b"),
        ("a", "label", "start"),
    ]
    df = spark.createDataFrame(rows, "subj string, pred string, obj string")
    df.persist()
    df.count()
    return df


def test_path_closure_both_vars(chain_kg):
    out = bgp_match(chain_kg, [("?s", "next+", "?t")], path_max_hops=3)
    assert _set(out) == {
        ("a", "b"), ("a", "c"), ("a", "d"),
        ("b", "c"), ("b", "d"),
        ("c", "d"),
        ("x", "b"), ("x", "c"), ("x", "d"),
    }


def test_path_depth_truncates(chain_kg):
    out = bgp_match(chain_kg, [("?s", "next+", "?t")], path_max_hops=1)
    assert _set(out) == {("a", "b"), ("b", "c"), ("c", "d"), ("x", "b")}


def test_path_bound_subject_seeds_bfs(chain_kg):
    out = bgp_match(chain_kg, [("a", "next+", "?t")], path_max_hops=3)
    assert _set(out) == {("b",), ("c",), ("d",)}


def test_path_bound_object_filters(chain_kg):
    out = bgp_match(chain_kg, [("?s", "next+", "d")], path_max_hops=3)
    # a->b->c->d is 3 hops; x->b->c->d too
    assert _set(out) == {("a",), ("b",), ("c",), ("x",)}
    out2 = bgp_match(chain_kg, [("?s", "next+", "d")], path_max_hops=2)
    assert _set(out2) == {("b",), ("c",)}


def test_path_joins_with_plain_pattern(chain_kg):
    out = bgp_match(
        chain_kg,
        [("?s", "label", "start"), ("?s", "next+", "?t")],
        path_max_hops=2,
    )
    assert _set(out) == {("a", "b"), ("a", "c")}


def test_path_ground_and_bad_depth_raise(chain_kg):
    with pytest.raises(ValueError, match="binds no variables"):
        bgp_match(chain_kg, [("a", "next+", "d")])
    with pytest.raises(ValueError, match="path_max_hops"):
        bgp_match(chain_kg, [("?s", "next+", "?t")], path_max_hops=0)


@pytest.fixture(scope="module")
def cyclic_kg(spark):
    # a -> b -> c -> a (3-cycle), d -> d (self-loop), e -> a (tail-in)
    rows = [
        ("a", "next", "b"),
        ("b", "next", "c"),
        ("c", "next", "a"),
        ("d", "next", "d"),
        ("e", "next", "a"),
    ]
    df = spark.createDataFrame(rows, "subj string, pred string, obj string")
    df.persist()
    df.count()
    return df


def test_path_includes_self_reach_through_cycles(cyclic_kg):
    # SPARQL <p>+ includes a -> ... -> a
    out = bgp_match(cyclic_kg, [("a", "next+", "?t")], path_max_hops=3)
    assert _set(out) == {("b",), ("c",), ("a",)}
    back = bgp_match(cyclic_kg, [("?s", "next+", "a")], path_max_hops=3)
    assert _set(back) == {("b",), ("c",), ("a",), ("e",)}


def test_path_same_variable_enumerates_cycle_nodes(cyclic_kg):
    out = bgp_match(cyclic_kg, [("?x", "next+", "?x")], path_max_hops=3)
    assert _set(out) == {("a",), ("b",), ("c",), ("d",)}
    short = bgp_match(cyclic_kg, [("?x", "next+", "?x")], path_max_hops=1)
    assert _set(short) == {("d",)}  # only the self-loop closes in 1 hop


def test_path_selectivity_counts_constant_endpoints(cyclic_kg):
    # (?x <p>+ ?x) binds one variable but has no constant endpoint: it
    # must rank (and broadcast) like the all-roots closure it is
    from btd.bgp import _Compiled

    def bound(pattern):
        return _Compiled(cyclic_kg, pattern, 0).bound

    assert bound(("?x", "next+", "?x")) == 0
    assert bound(("?s", "next+", "?t")) == 0
    assert bound(("a", "next+", "?t")) == 1
    assert bound(("?s", "next+", "a")) == 1


def test_path_bound_object_is_rooted_not_filtered(cyclic_kg):
    # the reverse-BFS plan must not expand the full closure: the
    # joined-frontier per level only ever contains ancestors of 'a'
    out = bgp_match(cyclic_kg, [("?s", "next+", "a")], path_max_hops=1)
    assert _set(out) == {("c",), ("e",)}


@pytest.fixture(scope="module")
def quads(spark):
    rows = [
        ("a", "p", "b", "g1"),
        ("a", "p", "c", "g2"),
        ("b", "q", "c", "g1"),
        ("b", "q", "d", "g2"),
        ("c", "q", "e", "g2"),
    ]
    df = spark.createDataFrame(
        rows, "subj string, pred string, obj string, ctx string"
    )
    df.persist()
    df.count()
    return df


def test_quad_pattern_binds_graph_variable(quads):
    out = bgp_match(
        quads,
        [("?s", "p", "?o", "?g")],
        columns=("subj", "pred", "obj", "ctx"),
    )
    assert out.columns == ["s", "o", "g"]
    assert _set(out) == {("a", "b", "g1"), ("a", "c", "g2")}


def test_quad_constant_graph_scopes_the_join(quads):
    # both patterns scoped to g1: the g2 chain a->c, b->d must not leak
    out = bgp_match(
        quads,
        [("?s", "p", "?o", "g1"), ("?o", "q", "?t", "g1")],
        columns=("subj", "pred", "obj", "ctx"),
    )
    assert _set(out) == {("a", "b", "c")}


def test_quad_shared_graph_variable_joins_within_graph(quads):
    # SPARQL GRAPH ?g { ... }: both patterns in the SAME (any) graph
    out = bgp_match(
        quads,
        [("?s", "p", "?o", "?g"), ("?o", "q", "?t", "?g")],
        columns=("subj", "pred", "obj", "ctx"),
    )
    # g1: a-p->b, b-q->c; g2: a-p->c, c-q->e. The cross-graph chains
    # (a->b with b-q->d in g2, a->c with b-q->d) must not appear.
    assert _set(out) == {("a", "b", "g1", "c"), ("a", "c", "g2", "e")}


def test_triple_pattern_over_quads_ignores_graph(quads):
    out = bgp_match(
        quads,
        [("?s", "p", "?o")],
        columns=("subj", "pred", "obj", "ctx"),
    )
    assert _set(out) == {("a", "b"), ("a", "c")}


def test_quad_path_pattern_rejected(quads):
    with pytest.raises(ValueError, match="path pattern"):
        bgp_match(
            quads,
            [("?s", "p+", "?o", "g1")],
            columns=("subj", "pred", "obj", "ctx"),
        )


def test_columns_arity_validated(kg):
    with pytest.raises(ValueError, match="columns"):
        bgp_match(
            kg, [("?p", "works_at", "?co")], columns=("subject", "predicate")
        )


def test_single_pattern_result_carries_no_broadcast_hint(kg, spark):
    # an unconsumed hint would force-broadcast the result into the
    # caller's next join regardless of its size
    res = bgp_match(kg, [("?p", "works_at", "acme")])
    other = spark.createDataFrame([("alice", 1)], "p string, n int")
    joined = other.join(res, "p")
    plan = joined._sc._jvm.PythonSQLUtils.explainString(
        joined._jdf.queryExecution(), "formatted"
    )
    # Catalyst may still choose broadcast by size estimate; what must
    # NOT appear is our hint surviving in the analyzed logical plan
    logical = str(joined._jdf.queryExecution().analyzed())
    assert "UnresolvedHint" not in logical and "ResolvedHint" not in logical


def test_disconnected_raises_and_product_override(kg):
    pats = [("?p", "works_at", "acme"), ("?x", "likes", "?y")]
    with pytest.raises(ValueError, match="disconnected"):
        bgp_match(kg, pats)
    out = bgp_match(kg, pats, allow_product=True)
    assert out.count() == 2 * 2  # {alice,bob} x {dave->dave, dave->erin}


def test_optional_unshared_raises(kg):
    with pytest.raises(ValueError, match="shares no variable"):
        bgp_match(
            kg, [("?p", "uses", "?tool")], optional=[("?a", "likes", "?b")]
        )


def test_ground_pattern_raises(kg):
    with pytest.raises(ValueError, match="binds no variables"):
        bgp_match(kg, [("alice", "works_at", "acme")])


def test_bad_arity_and_empty_raise(kg):
    with pytest.raises(ValueError, match="at least one required"):
        bgp_match(kg, [])
    with pytest.raises(ValueError, match="must have 3 terms"):
        bgp_match(kg, [("?a", "?b")])


def test_plan_broadcasts_bound_anchor_and_no_cartesian(kg):
    out = bgp_match(
        kg,
        [("?p", "works_at", "acme"), ("?p", "uses", "?tool")],
    )
    plan = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted"
    )
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    # broadcast disabled -> planner must not inject one via our hint
    out2 = bgp_match(
        kg,
        [("?p", "works_at", "acme"), ("?p", "uses", "?tool")],
        broadcast_bound=None,
    )
    assert out2.count() == 2


def test_provenance_columns_are_pruned(kg):
    wide = kg.withColumn("conv_id", kg.subj).withColumn(
        "turn_idx", kg.subj.substr(1, 1)
    )
    out = bgp_match(
        wide, [("?p", "works_at", "?co"), ("?co", "located_in", "?city")]
    )
    assert out.columns == ["p", "co", "city"]
    assert out.count() == 2
