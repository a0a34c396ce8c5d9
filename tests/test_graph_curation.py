"""PageRank vs a numpy oracle; curation/sampling vs Python oracles."""

from __future__ import annotations

import logging

import numpy as np
import pytest
from pyspark.sql import functions as F

from btd.ckpt import _persistent_ids
from btd.dataops.curation import curate, deterministic_sample
from btd.graph import khop, pagerank


def _np_pagerank(edge_list, damping=0.85, n_iter=10):
    nodes = sorted({n for e in edge_list for n in e})
    idx = {n: i for i, n in enumerate(nodes)}
    n = len(nodes)
    out_deg = np.zeros(n)
    for s, _ in edge_list:
        out_deg[idx[s]] += 1
    r = np.ones(n)
    for _ in range(n_iter):
        recv = np.zeros(n)
        for s, d in edge_list:
            recv[idx[d]] += r[idx[s]] / out_deg[idx[s]]
        dangling = r[out_deg == 0].sum()
        r = (1 - damping) + damping * (recv + dangling / n)
    return {nd: r[idx[nd]] for nd in nodes}


@pytest.mark.parametrize(
    "edge_list",
    [
        [("a", "b"), ("b", "c"), ("c", "a")],                     # cycle
        [("a", "b"), ("a", "c"), ("b", "c")],                     # dag + dangling c
        [("a", "b"), ("a", "b"), ("b", "a"), ("c", "a")],         # parallel edges
    ],
)
def test_pagerank_vs_numpy(spark, edge_list):
    edges = spark.createDataFrame(edge_list, "src string, dst string")
    got = {r.node: r.rank for r in pagerank(edges, n_iter=10).collect()}
    expected = _np_pagerank(edge_list)
    assert set(got) == set(expected)
    for k in got:
        assert abs(got[k] - expected[k]) < 1e-9, k
    assert abs(sum(got.values()) - len(got)) < 1e-9  # mass conserved


def _pagerank_steps(caplog, edges, **kw):
    """(ranks dict, number of ``pagerank step`` log records) of one call."""
    caplog.clear()
    with caplog.at_level(logging.INFO, logger="btd.ckpt"):
        ranks = {r.node: r.rank for r in pagerank(edges, **kw).collect()}
    steps = [
        r for r in caplog.records if r.getMessage().startswith("pagerank step")
    ]
    return ranks, len(steps)


def test_pagerank_tol_early_exit_matches_fixed(spark, caplog):
    """Convergence early-exit (r4 verdict item 5): on a fast-converging
    graph the tol mode must stop well before the n_iter ceiling (one
    delta check per CHECKPOINT, so the exit lands on a checkpoint
    boundary) and produce ranks identical to the fixed-iteration run
    at the tolerance. Rounds are read off the loop's per-step log."""
    edge_list = [("a", "b"), ("b", "c"), ("c", "a"), ("c", "b")]
    edges = spark.createDataFrame(edge_list, "src string, dst string")
    got, steps = _pagerank_steps(
        caplog, edges, n_iter=50, checkpoint_interval=5, tol=1e-9
    )
    assert steps < 50 // 5  # exits before the ceiling
    # exits on a checkpoint cut: the ranks ARE the fixed run of
    # steps * interval iterations
    at_cut = {
        r.node: r.rank
        for r in pagerank(edges, n_iter=steps * 5).collect()
    }
    for k in at_cut:
        assert abs(got[k] - at_cut[k]) < 1e-12, k
    fixed = {
        r.node: r.rank
        for r in pagerank(edges, n_iter=50, checkpoint_interval=5).collect()
    }
    for k in fixed:
        assert abs(got[k] - fixed[k]) < 1e-7, k
    assert abs(sum(got.values()) - len(got)) < 1e-9  # mass conserved
    # tol=None keeps the exact fixed-iteration contract (oracle mode)
    _, steps = _pagerank_steps(caplog, edges, n_iter=10, checkpoint_interval=5)
    assert steps == 2


@pytest.mark.parametrize("arg", ["n_iter", "checkpoint_interval"])
def test_pagerank_rejects_nonpositive_args_and_frees(
    spark, caller_checkpoint, arg
):
    """A non-positive iteration argument raises ValueError naming it
    before anything is persisted (n_iter=0 would otherwise return a
    frame whose checkpoint was never taken)."""
    edges = spark.createDataFrame([("a", "b")], "src string, dst string")
    baseline = _persistent_ids(spark)
    with pytest.raises(ValueError, match=arg):
        pagerank(edges, **{arg: 0})
    assert not _persistent_ids(spark) - baseline
    assert caller_checkpoint[1] <= _persistent_ids(spark)


def test_khop_rejects_k_below_one(spark):
    """"At most k hops" is undefined below k=1: raise rather than return
    the 1-hop pairs."""
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("d", "a")],
        "src string, dst string",
    )
    assert khop(edges, 1).count() == 4
    for k in (0, -1):
        with pytest.raises(ValueError, match="k must be >= 1"):
            khop(edges, k)


def test_pagerank_hot_node_ranks_highest(spark, triples_df):
    edges = triples_df.select(
        F.col("subject").alias("src"), F.col("object").alias("dst")
    )
    ranks = pagerank(edges, n_iter=5)
    top = ranks.orderBy(F.desc("rank")).limit(5).collect()
    assert top[0].rank > 1.0


def test_deterministic_sample(spark, triples_df):
    s1 = deterministic_sample(triples_df, "subject", 20)
    s2 = deterministic_sample(triples_df.repartition(7), "subject", 20)
    a = {tuple(r) for r in s1.collect()}
    b = {tuple(r) for r in s2.collect()}
    assert a == b  # partitioning-independent
    frac = len({r[0] for r in a}) / triples_df.select("subject").distinct().count()
    assert 0.05 < frac < 0.45  # ~20% of subjects, hash-spread


def test_curate_matches_python(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    rows = {r.doc_id: r.text for r in docs.select("doc_id", "text").collect()}
    from btd.dataops.textstats import STOPWORDS

    def keep(text):
        toks = text.split(" ")
        sr = sum(1 for t in toks if t in STOPWORDS) / len(toks)
        return 50 <= len(toks) <= 5000 and sr <= 0.35

    import hashlib

    fps = {}
    for did, text in sorted(rows.items()):
        if keep(text):
            fp = hashlib.md5(
                " ".join(sorted(set(text.split(" ")))).encode()
            ).hexdigest()
            fps.setdefault(fp, did)  # min doc_id wins (sorted insert)
    got = {(r.doc_id, r.fingerprint) for r in curate(docs).collect()}
    assert got == {(did, fp) for fp, did in fps.items()}
    assert len(got) > 0

def _py_khop(edge_list, k, roots=None):
    """Reference BFS: min directed hop count per (root, node) pair."""
    from collections import defaultdict, deque

    adj = defaultdict(set)
    for s, d in edge_list:
        adj[s].add(d)
    srcs = sorted({s for s, _ in edge_list})
    if roots is not None:
        srcs = [s for s in srcs if s in roots]
    out = {}
    for r in srcs:
        dist = {r: 0}
        q = deque([r])
        while q:
            u = q.popleft()
            if dist[u] == k:
                continue
            for v in adj[u]:
                if v not in dist:
                    dist[v] = dist[u] + 1
                    q.append(v)
        for node, h in dist.items():
            if node != r and h >= 1:
                out[(r, node)] = h
    return out


@pytest.mark.parametrize(
    "edge_list,k",
    [
        # diamond: two paths a->d (len 2) plus shortcut a->d (len 1):
        # min-hop must report 1, not 2
        ([("a", "b"), ("a", "c"), ("b", "d"), ("c", "d"), ("a", "d")], 3),
        # chain longer than k: e unreachable within 2 hops of a
        ([("a", "b"), ("b", "c"), ("c", "d"), ("d", "e")], 2),
        # cycle: self-pairs excluded, everything else min-hop
        ([("a", "b"), ("b", "c"), ("c", "a")], 3),
        # parallel edges collapse
        ([("a", "b"), ("a", "b"), ("b", "c")], 2),
    ],
)
def test_khop_vs_python_bfs(spark, edge_list, k):
    from btd.graph import khop

    edges = spark.createDataFrame(edge_list, "src string, dst string")
    got = {(r.root, r.node): r.hops for r in khop(edges, k).collect()}
    assert got == _py_khop(edge_list, k)


def test_khop_roots_restrict(spark):
    from btd.graph import khop

    edge_list = [("a", "b"), ("b", "c"), ("x", "y"), ("y", "c")]
    edges = spark.createDataFrame(edge_list, "src string, dst string")
    roots = spark.createDataFrame([("a",)], "r string")
    got = {(r.root, r.node): r.hops for r in khop(edges, 2, roots=roots).collect()}
    assert got == _py_khop(edge_list, 2, roots={"a"})
