"""Differential tests: each reference analysis vs a pure-Python oracle
over the synthetic triples fixture (SURVEY.md §5 strategy)."""

from __future__ import annotations

import collections

import pytest

from btd.analytics import (
    distinct_contexts_per_triple,
    distinct_subject_count,
    indegree_histogram,
    outdegree_histogram,
    percentages,
    remove_duplicate_triples,
    top_k_contexts,
    top_k_outdegree,
)


def test_distinct_subject_count(spark, triples_df, triples_rows):
    expected = len({s for s, *_ in triples_rows})
    got = distinct_subject_count(triples_df).collect()[0]["n_distinct_subjects"]
    assert got == expected


def _py_outdegree(rows):
    c = collections.Counter(s for s, *_ in rows)
    return collections.Counter(c.values())


def _py_indegree(rows):
    c = collections.Counter(o for _, _, o, _ in rows)
    return collections.Counter(c.values())


def test_outdegree_histogram(spark, triples_df, triples_rows):
    got = outdegree_histogram(triples_df).collect()
    assert {r.degree: r.n_nodes for r in got} == _py_outdegree(triples_rows)
    degrees = [r.degree for r in got]
    assert degrees == sorted(degrees)  # ascending golden order


def test_indegree_histogram(spark, triples_df, triples_rows):
    got = indegree_histogram(triples_df).collect()
    assert {r.degree: r.n_nodes for r in got} == _py_indegree(triples_rows)


def test_top_k_outdegree(spark, triples_df, triples_rows):
    counts = collections.Counter(s for s, *_ in triples_rows)
    expected = sorted(
        ((d, n) for n, d in counts.items()), reverse=True
    )[:10]
    expected = sorted(expected)  # ascending emission like the reference
    got = [(r.degree, r.node) for r in top_k_outdegree(triples_df, 10).collect()]
    assert got == expected


def test_percentages_correct_and_compat(spark, triples_df, triples_rows):
    bs = sum(1 for s, *_ in triples_rows if s.startswith("_"))
    bo = sum(1 for _, _, o, _ in triples_rows if o.startswith("_"))
    nc = sum(1 for *_, c in triples_rows if c == "")
    r = percentages(triples_df).collect()[0]
    assert (r.blank_subject, r.blank_object, r.no_context, r.total) == (
        bs,
        bo,
        nc,
        len(triples_rows),
    )
    # reference bug-compat: blank_object mirrors blank_subject
    rc = percentages(triples_df, compat="reference").collect()[0]
    assert rc.blank_object == rc.blank_subject == bs
    with pytest.raises(ValueError, match="refrence"):
        percentages(triples_df, compat="refrence")


def test_distinct_contexts_per_triple(spark, triples_df, triples_rows):
    oracle: dict[tuple, set] = collections.defaultdict(set)
    for s, p, o, c in triples_rows:
        oracle[(s, p, o)].add(c)  # '' counts as one distinct context
    got = {
        (r.subject, r.predicate, r.object): r.n_contexts
        for r in distinct_contexts_per_triple(triples_df).collect()
    }
    assert got == {k: len(v) for k, v in oracle.items()}


def test_top_k_contexts_tiebreak(spark, triples_df, triples_rows):
    oracle: dict[tuple, set] = collections.defaultdict(set)
    for s, p, o, c in triples_rows:
        oracle[(s, p, o)].add(c)
    ranked = sorted(
        ((len(v), k[0], k[1], k[2]) for k, v in oracle.items()), reverse=True
    )[:10]
    expected = sorted(ranked)
    got = [
        (r.n_contexts, r.subject, r.predicate, r.object)
        for r in top_k_contexts(triples_df, 10).collect()
    ]
    assert got == expected


def test_remove_duplicates(spark, triples_df, triples_rows):
    expected = {(s, p, o) for s, p, o, _ in triples_rows}
    got = {
        (r.subject, r.predicate, r.object)
        for r in remove_duplicate_triples(triples_df).collect()
    }
    assert got == expected
    assert remove_duplicate_triples(triples_df).count() == len(expected)


def test_dedup_idempotent_on_doubled_input(spark, triples_df):
    # report/report.md:364-376: duplicating the file leaves dedup output
    # unchanged.
    doubled = triples_df.union(triples_df)
    a = remove_duplicate_triples(triples_df).count()
    b = remove_duplicate_triples(doubled).count()
    assert a == b


def test_basket_cooccurrence_counts_and_purge(spark):
    from btd.analytics.cooccur import basket_cooccurrence

    rows = [
        # basket 1: {a, b, c}; basket 2: {a, b}; basket 3: {b, c};
        # basket 4: {a, a, b} (dup item must collapse);
        # basket 5: mega-basket {a..f} — purged when cap=4
        (1, "a"), (1, "b"), (1, "c"),
        (2, "a"), (2, "b"),
        (3, "b"), (3, "c"),
        (4, "a"), (4, "a"), (4, "b"),
        (5, "a"), (5, "b"), (5, "c"), (5, "d"), (5, "e"), (5, "f"),
    ]
    df = spark.createDataFrame(rows, "basket long, item string")
    got = {
        (r.item_a, r.item_b): r.n_baskets
        for r in basket_cooccurrence(df, "basket", "item", 2).collect()
    }
    # mega-basket included: ab=4, ac=2, bc=3
    assert got == {("a", "b"): 4, ("a", "c"): 2, ("b", "c"): 3}
    capped = {
        (r.item_a, r.item_b): r.n_baskets
        for r in basket_cooccurrence(
            df, "basket", "item", 2, max_basket_size=4
        ).collect()
    }
    # basket 5 purged before pairing
    assert capped == {("a", "b"): 3, ("b", "c"): 2}
