"""CheckpointLoop ownership: each step owns exactly the RDD its own
localCheckpoint persisted — never a concurrently persisted one — and
the ``with`` block frees every state but the kept one."""

from __future__ import annotations

import pytest

from btd.ckpt import (
    CheckpointLoop,
    _checkpoint_owned,
    _persistent_ids,
    release,
)


def test_checkpoint_owned_is_exact(spark):
    df = spark.range(50).selectExpr("id", "id * 2 AS y")
    before = _persistent_ids(spark)
    out, ids = _checkpoint_owned(spark, df)
    try:
        # exactly one new persisted RDD, and it is the one we own
        assert len(ids) == 1
        assert ids <= _persistent_ids(spark) - before
        assert out.count() == 50
    finally:
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        for rid in ids:
            rdd = jmap.get(rid)
            if rdd is not None:
                rdd.unpersist(False)


def test_loop_does_not_free_foreign_persist(spark):
    """An RDD persisted by 'someone else' while the loop runs must
    survive step() frees and the end of the block — the ownership id
    comes from the checkpointed plan, not a global before/after diff."""
    foreign = spark.range(100).persist()
    foreign.count()
    try:
        with CheckpointLoop(spark, "t") as loop:
            state = loop.step(spark.range(10).selectExpr("id AS a"))
            # a concurrent persist between steps (the mis-attribution
            # window of the old diff approach)
            foreign2 = spark.range(200).persist()
            foreign2.count()
            state = loop.step(state.selectExpr("a + 1 AS a"))
        live = _persistent_ids(spark)
        assert foreign.rdd.id() in live or foreign.storageLevel.useMemory
        assert foreign2.storageLevel.useMemory
        assert foreign2.count() == 200
    finally:
        foreign.unpersist()
        foreign2.unpersist()


def test_loop_frees_all_but_the_kept_state(spark):
    """step() holds at most the current and the previous state; leaving
    the block frees the statics and every state but the kept one."""
    baseline = _persistent_ids(spark)
    with CheckpointLoop(spark, "t") as loop:
        loop.static(spark.range(5).selectExpr("id AS s"))
        state = loop.step(spark.range(10).selectExpr("id AS a"))
        for _ in range(3):
            state = loop.step(state.selectExpr("a + 1 AS a"))
        assert len(_persistent_ids(spark) - baseline) == 3  # static + 2
        with pytest.raises(ValueError, match="last two"):
            loop.keep(spark.range(1))
        loop.keep(state)
    assert len(_persistent_ids(spark) - baseline) == 1
    assert sorted(r.a for r in state.collect()) == list(range(3, 13))
    release(state.selectExpr("a * 2 AS b"))  # a frame built on the result
    assert _persistent_ids(spark) == baseline


def test_loop_frees_everything_on_exception(spark):
    baseline = _persistent_ids(spark)
    with pytest.raises(RuntimeError, match="boom"):
        with CheckpointLoop(spark, "t") as loop:
            loop.static(spark.range(5).selectExpr("id AS s"))
            state = loop.step(spark.range(10).selectExpr("id AS a"))
            loop.keep(state)
            raise RuntimeError("boom")
    assert _persistent_ids(spark) == baseline


def _pagerank(spark):
    from btd.graph import pagerank

    e = spark.createDataFrame([(1, 2), (2, 3), (3, 1)], "src long, dst long")
    return pagerank(e, n_iter=2)


def _components(algorithm):
    def run(spark):
        from btd.link.canonical import connected_components

        nodes = spark.createDataFrame([(i,) for i in range(6)], "entity_id long")
        edges = spark.createDataFrame(
            [(0, 1), (1, 2), (4, 5)], "id_a long, id_b long"
        )
        return connected_components(nodes, edges, algorithm=algorithm)

    return run


def _infer(spark):
    from btd.infer import infer

    df = spark.createDataFrame(
        [("a", "p", "b")], "subj string, pred string, obj string"
    )
    return infer(df, [([("?x", "p", "?y")], [("?y", "q", "?x")])])


def _semantic_dedup(spark):
    from btd.dataops.similarity import semantic_dedup

    rows = [(i, [1.0, 0.01 * i, float(i % 3)]) for i in range(12)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    return semantic_dedup(emb, threshold=0.9, n_clusters=2)


def _near_dup_groups(spark):
    from btd.dataops.dedup import near_dup_groups

    text = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(0, text), (1, text + " twice"), (2, "something else entirely")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    return near_dup_groups(docs)


def _canonicalize(spark):
    from btd.link.canonical import canonicalize_entities

    ents = spark.createDataFrame(
        [("a", "A"), ("b", "B"), ("c", "C")], "entity_id string, surface string"
    )
    same = spark.createDataFrame(
        [("a", "b", 0.9)], "id_a string, id_b string, score double"
    )
    return canonicalize_entities(ents, same)


@pytest.mark.parametrize(
    "run",
    [_pagerank, _components("label"), _components("star"), _infer,
     _semantic_dedup, _near_dup_groups, _canonicalize],
    ids=["pagerank", "cc_label", "cc_star", "infer", "semantic_dedup",
         "near_dup_groups", "canonicalize_entities"],
)
def test_release_frees_kept_loop_result(spark, caller_checkpoint, run):
    """A loop result (or a wrapper's frame over it) holds its kept
    checkpoint until release(); release frees it and nothing else —
    a caller's own checkpoint in the same plan survives."""
    own, own_ids = caller_checkpoint
    baseline = _persistent_ids(spark)
    out = run(spark)
    assert out.collect()
    assert _persistent_ids(spark) - baseline  # the kept checkpoint
    release(out.crossJoin(own))
    assert not _persistent_ids(spark) - baseline
    assert own_ids <= _persistent_ids(spark)
