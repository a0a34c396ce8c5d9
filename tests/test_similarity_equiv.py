"""Kernel equivalence: the BLAS exact baselines must produce exactly
the rows of a Catalyst fold-per-pair reference (same ROUND(,6) values)
— the license for gating them as the exact cosine ops. The fold
reference lives here, not in the library: it is an independent
implementation of the same contract, O(n²) and only run at test size."""

from __future__ import annotations

import pytest
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from btd.dataops.similarity import blas_near_dup, blas_topk, normalized

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    df = spark.read.parquet(f"{SF}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    df.persist()
    df.count()
    return df


def _ndot(a: str, b: str):
    """Dot product of two pre-normalized double arrays."""
    return F.aggregate(
        F.zip_with(F.col(a), F.col(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _fold_pairs(emb: DataFrame) -> DataFrame:
    """(id_a, id_b, cosine) over the all-pairs cross join, id_a != id_b."""
    n = normalized(emb)
    a = n.select(F.col("vec_id").alias("id_a"), F.col("en").alias("e_a"))
    b = n.select(F.col("vec_id").alias("id_b"), F.col("en").alias("e_b"))
    return (
        a.crossJoin(b)
        .where(F.col("id_a") != F.col("id_b"))
        .select("id_a", "id_b", F.round(_ndot("e_a", "e_b"), 6).alias("cosine"))
    )


def _fold_topk(emb: DataFrame, k: int) -> DataFrame:
    w = Window.partitionBy("id_a").orderBy(F.desc("cosine"), F.asc("id_b"))
    return (
        _fold_pairs(emb)
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("id_a", "id_b", "cosine", "rank")
    )


def _fold_near_dup(emb: DataFrame, threshold: float) -> DataFrame:
    return _fold_pairs(emb).where(
        (F.col("id_a") < F.col("id_b")) & (F.col("cosine") >= threshold)
    )


def test_blas_topk_equals_fold_topk(spark, emb):
    fold = {tuple(r) for r in _fold_topk(emb, 3).collect()}
    blas = {tuple(r) for r in blas_topk(emb, 3).collect()}
    assert blas == fold


def test_blas_near_dup_equals_fold_near_dup(spark, emb):
    fold = {tuple(r) for r in _fold_near_dup(emb, 0.4).collect()}
    blas = {tuple(r) for r in blas_near_dup(emb, 0.4).collect()}
    assert blas == fold
    assert len(fold) > 0  # threshold low enough to be non-trivial


def test_lsh_near_dup_precision_and_recall_vs_blas(spark, emb):
    """The bucketed 100 TB near-dup path vs the exact baseline:
    precision must be 1 (every emitted pair is an exact-baseline pair
    with the identical ROUND(,6) cosine — candidates are scored with
    the same float path, never estimated from the sketch) and recall
    must clear the floor the deterministic hyperplanes yield on this
    corpus. Random 64-dim vectors at cosine 0.45 are the adversarial
    recall case (collision p ≈ 0.65/plane); real near-dup corpora sit
    at cosine ≥ 0.99 where p ≈ 0.955 and table-recall ≈ 1 — pinned by
    the planted-duplicate test below."""
    from btd.dataops.similarity import auto_lsh_bits, lsh_near_dup

    exact = {tuple(r) for r in blas_near_dup(emb, 0.45).collect()}
    bits = auto_lsh_bits(emb.count())
    got = {
        tuple(r)
        for r in lsh_near_dup(emb, dim=64, threshold=0.45, bits=bits).collect()
    }
    assert got <= exact  # precision 1, cosines byte-identical
    assert len(exact) > 0
    assert len(got) / len(exact) >= 0.7  # deterministic: 5/7 here


def test_lsh_near_dup_finds_all_planted_duplicates(spark, emb):
    """At the operating point that matters for dedup (threshold 0.99),
    recall on true duplicates is exactly 1: an identical vector lands
    in the same bucket of EVERY table, so no planted copy can escape
    the candidate join."""
    from pyspark.sql import functions as F

    from btd.dataops.similarity import lsh_near_dup

    copies = emb.where(F.col("vec_id") % 25 == 0).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding"
    )
    n_copies = copies.count()
    planted = emb.unionByName(copies)
    got = lsh_near_dup(planted, dim=64, threshold=0.99).where(
        (F.col("id_b") - F.col("id_a")) == 1_000_000
    )
    assert got.count() == n_copies > 0


@pytest.fixture(scope="module")
def megacluster(spark):
    """The adversarial dedup corpus: every vector is a near-duplicate
    of one direction, so IVF/SemDeDup assignment puts ~all of them in
    ONE cluster — the case where an unsharded bucket-local kernel
    degrades to a single O(n^2) straggler task."""
    import numpy as np

    rng = np.random.RandomState(7)
    base = rng.randn(16)
    base /= np.linalg.norm(base)
    rows = [
        (i, [float(x) for x in (base + 0.01 * rng.randn(16))])
        for i in range(2000)
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    ).repartition(8)
    df.persist()
    df.count()
    return df


def _one_bucket(megacluster):
    return megacluster.select(
        F.lit(0).alias("bucket"),
        F.lit("b").alias("side"),
        "vec_id",
        F.col("embedding").cast("array<double>").alias("embedding"),
    )


def test_megabucket_sharding_threshold_mode_equivalent(spark, megacluster):
    """Sharded (cap << occupancy) and unsharded bucket-local scoring
    must emit the identical pair set with identical ROUND(,6) cosines:
    members hash into one shard each, queries visit every shard, so
    each (query, member) pair is scored exactly once either way."""
    from btd.dataops.similarity import _bucket_local_pairs

    g = _one_bucket(megacluster)
    un = {
        tuple(r)
        for r in _bucket_local_pairs(g, threshold=0.95, shard_cap=10**9)
        .distinct()
        .collect()
    }
    sh = {
        tuple(r)
        for r in _bucket_local_pairs(g, threshold=0.95, shard_cap=300)
        .distinct()
        .collect()
    }
    assert un and un == sh


def test_megabucket_sharding_topk_mode_equivalent(spark, megacluster):
    """k mode emits per-(query, shard) top-k — a superset of the
    per-bucket top-k — so after the callers' global rank window the
    final top-k must be identical to the unsharded run."""
    from pyspark.sql import Window

    from btd.dataops.similarity import _bucket_local_pairs

    def final_topk(shard_cap):
        w = Window.partitionBy("id_a").orderBy(
            F.desc("cosine"), F.asc("id_b")
        )
        return {
            tuple(r)
            for r in _bucket_local_pairs(
                _one_bucket(megacluster), k=5, shard_cap=shard_cap
            )
            .distinct()
            .withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= 5)
            .select("id_a", "id_b", "cosine", "rank")
            .collect()
        }

    un = final_topk(10**9)
    sh = final_topk(300)
    assert len(un) == 2000 * 5
    assert un == sh


def test_megabucket_sharding_splits_into_many_tasks(spark, megacluster):
    """The point of the fix: the kernel stage must fan the megacluster
    out across shards (ceil(2000/300) = 7 groups) instead of one task.
    Assert the plan reparations on (bucket, _sh) and the output is
    produced from > 1 non-empty shard group."""
    from btd.dataops.similarity import _bucket_local_pairs

    g = _one_bucket(megacluster)
    pairs = _bucket_local_pairs(g, threshold=0.99, shard_cap=300)
    # shard id participates in the group key => FlatMapGroupsInPandas
    # keyed on bucket AND _sh
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "_sh" in plan
    # semantic_dedup end-to-end on the same corpus: sharded run keeps
    # the exact keeper semantics (everything collapses to vec_id 0)
    from btd.dataops.similarity import semantic_dedup

    out = semantic_dedup(megacluster, threshold=0.95, n_clusters=1)
    keepers = {r.keep_vec_id for r in out.collect()}
    assert keepers == {0}


def test_semantic_dedup_recall_vs_exact_baseline(spark):
    """Quantify SemDeDup's known trade (cross-cluster near-dup pairs
    are out of candidate scope by design) the way lsh_near_dup has
    recall floors: on a 1,620-vector corpus of 10 loose gaussian
    clusters with 120 planted near-dup twins, compare the operator's
    grouping against the exact blas_near_dup pair set at the same
    threshold. Measured: overall pair recall 0.9962 (133 of 34,985
    exact pairs straddle a k-means boundary and are unseen — the
    published method's documented cost) and 120/120 planted twins
    recovered (real duplicates co-cluster). Deterministic end-to-end
    (fixed rng seed, seedless Lloyd), so the floors are tight."""
    import numpy as np

    from btd.dataops.similarity import blas_near_dup, semantic_dedup

    rng = np.random.RandomState(42)
    dim = 16
    centers = rng.randn(10, dim) * 3
    rows: list = []
    vid = 0
    for c in range(10):
        for _ in range(150):
            rows.append(
                (vid, [float(x) for x in centers[c] + rng.randn(dim)])
            )
            vid += 1
    base_ids = rng.choice(vid, 120, replace=False)
    base_map = {r[0]: np.array(r[1]) for r in rows}
    twins = []
    for b in base_ids:
        v = base_map[int(b)]
        t = v + 0.08 * np.linalg.norm(v) / np.sqrt(dim) * rng.randn(dim)
        rows.append((vid, [float(x) for x in t]))
        twins.append((int(b), vid))
        vid += 1
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    ).repartition(8)
    emb.persist()
    emb.count()

    exact = {(r.id_a, r.id_b) for r in blas_near_dup(emb, 0.92).collect()}
    comp = {
        r.vec_id: r.keep_vec_id
        for r in semantic_dedup(
            emb, threshold=0.92, cluster_target=200
        ).collect()
    }
    same = sum(1 for a, b in exact if comp[a] == comp[b])
    assert len(exact) > 30_000
    assert same / len(exact) >= 0.99
    assert all(comp[a] == comp[b] for a, b in twins)
    emb.unpersist()


def test_recall_at_k_identity_and_miss(spark):
    """recall_at_k == 1.0 against itself; a query the approx side
    missed entirely still counts (as 0), so bucket misses show up."""
    from btd.dataops.similarity import recall_at_k

    exact = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 1), (2, 3)], "id_a long, id_b long"
    )
    full = recall_at_k(exact, exact, k=2).collect()[0]
    assert full["n_queries"] == 2 and full["avg_recall_at_k"] == 1.0
    approx = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    part = recall_at_k(approx, exact, k=2).collect()[0]
    # query 1 recovered 1 of 2; query 2 missed entirely -> (0.5+0)/2
    assert part["n_queries"] == 2 and part["avg_recall_at_k"] == 0.25


def test_pq_topk_recall_floor_and_parity_shape(spark, emb):
    """PQ-ADC on the isotropic gate corpus (PQ's adversarial case —
    no correlation structure to exploit): recall@3 vs exact must hold
    the measured floor at the gated layout, and every query must get
    exactly k rows ranked 1..k."""
    from btd.dataops.similarity import pq_topk, recall_at_k

    pq = pq_topk(emb, k=3, m=8, n_codes=64, n_iter=3)
    per_q = pq.groupBy("id_a").count().collect()
    assert all(r["count"] == 3 for r in per_q)
    r = recall_at_k(pq, blas_topk(emb, 3), k=3).collect()[0]
    assert r["avg_recall_at_k"] >= 0.25, r
