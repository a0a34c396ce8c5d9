"""CheckpointLoop ownership: each step owns exactly the RDD its own
localCheckpoint persisted — never a concurrently persisted one — and
the ``with`` block frees every state but the kept one."""

from __future__ import annotations

import pytest

from btd.ckpt import CheckpointLoop, _checkpoint_owned, _persistent_ids


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
    loop._free(_persistent_ids(spark) - baseline)


def test_loop_frees_everything_on_exception(spark):
    baseline = _persistent_ids(spark)
    with pytest.raises(RuntimeError, match="boom"):
        with CheckpointLoop(spark, "t") as loop:
            loop.static(spark.range(5).selectExpr("id AS s"))
            state = loop.step(spark.range(10).selectExpr("id AS a"))
            loop.keep(state)
            raise RuntimeError("boom")
    assert _persistent_ids(spark) == baseline
