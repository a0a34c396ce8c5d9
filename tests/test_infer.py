"""Forward-chaining inference semantics (btd.infer): CONSTRUCT
instantiation, multi-round fixpoint, convergence bookkeeping, and the
loud failure for unbounded recursion.
"""

from __future__ import annotations

import pytest

from btd.infer import construct, infer


@pytest.fixture(scope="module")
def kg(spark):
    rows = [
        ("alice", "works_at", "acme"),
        ("bob", "works_at", "acme"),
        ("acme", "located_in", "rome"),
        ("alice", "uses", "spark"),
    ]
    df = spark.createDataFrame(rows, "subj string, pred string, obj string")
    df.persist()
    df.count()
    return df


def _set(df):
    return {tuple(r) for r in df.collect()}


def test_construct_instantiates_template(kg):
    out = construct(
        kg,
        [("?p", "works_at", "?co"), ("?co", "located_in", "?city")],
        [("?p", "based_in", "?city")],
    )
    assert out.columns == ["subj", "pred", "obj"]
    assert _set(out) == {
        ("alice", "based_in", "rome"),
        ("bob", "based_in", "rome"),
    }


def test_construct_multi_template_and_constants(kg):
    out = construct(
        kg,
        [("?p", "works_at", "?co")],
        [("?p", "type", "Employee"), ("?co", "type", "Company")],
    )
    assert _set(out) == {
        ("alice", "type", "Employee"),
        ("bob", "type", "Employee"),
        ("acme", "type", "Company"),
    }


def test_construct_unbound_template_var_raises(kg):
    with pytest.raises(ValueError, match="not bound"):
        construct(kg, [("?p", "works_at", "?co")], [("?p", "x", "?nope")])
    with pytest.raises(ValueError, match="at least one template"):
        construct(kg, [("?p", "works_at", "?co")], [])


def test_infer_two_round_fixpoint(kg, spark):
    # r1 fires on base triples; r2 fires on r1's derivations — the
    # fixpoint needs a second round, and a third derives nothing
    rules = [
        ([("?p", "works_at", "?co")], [("?p", "employed", "yes")]),
        ([("?p", "employed", "yes")], [("?p", "status", "known")]),
    ]
    out = infer(kg, rules)
    got = _set(out)
    assert ("alice", "employed", "yes") in got
    assert ("alice", "status", "known") in got
    assert ("bob", "status", "known") in got
    # base triples retained; nothing else invented
    assert ("alice", "works_at", "acme") in got
    assert len(got) == 4 + 2 + 2


def test_infer_result_is_distinct_graph(spark):
    # duplicate assertions collapse before entailment
    rows = [("a", "p", "b"), ("a", "p", "b")]
    df = spark.createDataFrame(rows, "subj string, pred string, obj string")
    out = infer(df, [([("?x", "p", "?y")], [("?y", "q", "?x")])])
    assert _set(out) == {("a", "p", "b"), ("b", "q", "a")}


def test_infer_unbounded_recursion_raises(spark):
    # counter chain: n -> succ -> n+1, rule re-derives succ on succ —
    # an ever-growing frontier can't converge in max_rounds
    rows = [(f"n{i}", "next", f"n{i+1}") for i in range(6)]
    df = spark.createDataFrame(rows, "subj string, pred string, obj string")
    rules = [
        (
            [("?a", "next", "?b"), ("?b", "next", "?c")],
            [("?a", "next", "?c")],
        )
    ]
    with pytest.raises(RuntimeError, match="fixpoint"):
        infer(df, rules, max_rounds=1)
    # with room it DOES converge to the transitive closure
    out = infer(df, rules, max_rounds=5)
    assert out.count() == 6 + 5 + 4 + 3 + 2 + 1  # all i<j pairs


def test_infer_frees_loop_checkpoints(kg, spark):
    before = {
        int(i)
        for i in spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()
    }
    out = infer(
        kg, [([("?p", "works_at", "?co")], [("?p", "employed", "yes")])]
    )
    out.count()
    after = {
        int(i)
        for i in spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()
    }
    # the loop may keep exactly ONE checkpoint alive: the returned graph
    assert len(after - before) <= 1


def test_infer_no_fixpoint_frees_every_checkpoint(spark):
    # the RuntimeError path returns nothing, so the loop must not keep
    # its last step pinned for the session lifetime
    rows = [(f"n{i}", "next", f"n{i+1}") for i in range(6)]
    df = spark.createDataFrame(rows, "subj string, pred string, obj string")
    rules = [
        (
            [("?a", "next", "?b"), ("?b", "next", "?c")],
            [("?a", "next", "?c")],
        )
    ]
    jsc = spark.sparkContext._jsc
    baseline = jsc.getPersistentRDDs().size()
    with pytest.raises(RuntimeError, match="fixpoint"):
        infer(df, rules, max_rounds=1)
    assert jsc.getPersistentRDDs().size() == baseline


def test_infer_rejects_optional(kg):
    with pytest.raises(ValueError, match="optional"):
        infer(
            kg,
            [([("?p", "works_at", "?co")], [("?p", "employed", "?co")])],
            optional=[("?co", "located_in", "?city")],
        )


def test_infer_empty_rules_raise(kg):
    with pytest.raises(ValueError, match="at least one rule"):
        infer(kg, [])
