"""Linking-layer tests: LSH blocking recall, scoring P/R on gazetteer
variants, connected-components convergence on adversarial graphs,
canonical-ID election determinism."""

from __future__ import annotations

import itertools
import math
from collections import Counter

import pytest
from pyspark.sql import functions as F

from btd.ckpt import _persistent_ids
from btd.fixtures import GAZETTEER
from btd.link.blocking import candidate_pairs
from btd.link.canonical import canonicalize_entities, connected_components
from btd.link.scoring import score_candidates, score_pair_py
from btd.lsh import key_pairs


@pytest.fixture(scope="module")
def entities(spark):
    surfaces = sorted({s for forms in GAZETTEER.values() for s in forms})
    return spark.createDataFrame(
        [(s, s) for s in surfaces], "entity_id string, surface string"
    )


def _true_pairs():
    out = set()
    for forms in GAZETTEER.values():
        for a, b in itertools.combinations(sorted(forms), 2):
            out.add((a, b))
    return out


def test_blocking_recall(spark, entities):
    cands = {(r.id_a, r.id_b) for r in candidate_pairs(entities).collect()}
    missing = _true_pairs() - cands
    assert not missing, f"blocking missed true pairs: {missing}"


def test_scoring_separates_true_from_false(spark, entities):
    pairs = candidate_pairs(entities)
    edges = {
        (r.id_a, r.id_b)
        for r in score_candidates(pairs, entities, 0.6).collect()
    }
    true = _true_pairs()
    assert true <= edges, f"missed: {true - edges}"
    # no cross-canonical link may survive scoring
    surf2canon = {s: c for c, fs in GAZETTEER.items() for s in fs}
    wrong = {(a, b) for a, b in edges if surf2canon[a] != surf2canon[b]}
    assert not wrong, f"false links: {wrong}"


def test_score_kernel_examples():
    assert score_pair_py("Acme Corp", "ACME Corporation") == 1.0
    assert score_pair_py("Bob Smith", "Robert Smith") == 1.0
    assert score_pair_py("Alice Johnson", "A. Johnson") >= 0.9
    assert score_pair_py("Apache Spark", "Apache Hadoop") < 0.6


@pytest.mark.parametrize(
    "edges,expected_components",
    [
        # chain a-b-c-d-e (adversarial: diameter = n-1)
        ([("a", "b"), ("b", "c"), ("c", "d"), ("d", "e")], {"a": "a", "b": "a", "c": "a", "d": "a", "e": "a"}),
        # star centered z
        ([("z", "a"), ("z", "b"), ("z", "c")], {"z": "a", "a": "a", "b": "a", "c": "a"}),
        # two components + isolated node
        ([("a", "b"), ("x", "y")], {"a": "a", "b": "a", "x": "x", "y": "x", "q": "q"}),
    ],
)
def test_connected_components(spark, edges, expected_components):
    nodes = spark.createDataFrame(
        [(n,) for n in expected_components], "entity_id string"
    )
    e = spark.createDataFrame(edges, "id_a string, id_b string")
    got = {
        r.entity_id: r.canonical_id
        for r in connected_components(nodes, e).collect()
    }
    assert got == expected_components


@pytest.mark.parametrize("algorithm", ["label", "star"])
def test_connected_components_star_parametrized(spark, algorithm):
    """Both algorithms agree on the canonical parametrized graphs."""
    edges = [("a", "b"), ("b", "c"), ("c", "d"), ("x", "y")]
    expected = {"a": "a", "b": "a", "c": "a", "d": "a", "x": "x", "y": "x", "q": "q"}
    nodes = spark.createDataFrame(
        [(n,) for n in expected], "entity_id string"
    )
    e = spark.createDataFrame(edges, "id_a string, id_b string")
    got = {
        r.entity_id: r.canonical_id
        for r in connected_components(nodes, e, algorithm=algorithm).collect()
    }
    assert got == expected


def test_star_cc_converges_on_1000_node_chain(spark):
    """Adversarial deep component: a 1000-node chain has diameter 999 —
    label propagation needs ~999 iterations, large-star/small-star must
    finish within 25 rounds (O(log n)) and label everything with the
    chain head."""
    ids = [f"n{i:04d}" for i in range(1000)]
    nodes = spark.createDataFrame([(n,) for n in ids], "entity_id string")
    e = spark.createDataFrame(
        [(ids[i], ids[i + 1]) for i in range(999)],
        "id_a string, id_b string",
    )
    got = {
        r.entity_id: r.canonical_id
        for r in connected_components(
            nodes, e, max_iter=25, algorithm="star"
        ).collect()
    }
    assert got == {n: "n0000" for n in ids}


@pytest.mark.parametrize("algorithm,max_iter", [("label", 25), ("star", 1)])
def test_cc_no_fixpoint_raises_and_frees_every_checkpoint(
    spark, caller_checkpoint, algorithm, max_iter
):
    """A 60-node chain needs 59 label rounds (diameter) and more than
    one star round: stopping at max_iter would hand back a wrong
    partition (35 components at the label default), so it must raise —
    and, returning nothing, keep no checkpoint pinned."""
    ids = [f"n{i:02d}" for i in range(60)]
    nodes = spark.createDataFrame([(n,) for n in ids], "entity_id string")
    e = spark.createDataFrame(
        [(ids[i], ids[i + 1]) for i in range(59)], "id_a string, id_b string"
    )
    baseline = _persistent_ids(spark)
    with pytest.raises(RuntimeError, match=f"max_iter={max_iter}"):
        connected_components(nodes, e, max_iter=max_iter, algorithm=algorithm)
    assert not _persistent_ids(spark) - baseline
    assert caller_checkpoint[1] <= _persistent_ids(spark)


@pytest.mark.parametrize("algorithm", ["label", "star"])
def test_cc_bad_input_frees_every_checkpoint(
    spark, caller_checkpoint, algorithm
):
    """nodes without an entity_id column fail to analyse — in the label
    path after the edge static is pinned, in the star path after the
    loop has converged — and must leave no checkpoint behind."""
    from pyspark.errors import AnalysisException

    nodes = spark.createDataFrame([("a",), ("b",)], "id string")
    e = spark.createDataFrame([("a", "b")], "id_a string, id_b string")
    baseline = _persistent_ids(spark)
    with pytest.raises(AnalysisException):
        connected_components(nodes, e, algorithm=algorithm)
    assert not _persistent_ids(spark) - baseline
    assert caller_checkpoint[1] <= _persistent_ids(spark)


def test_label_and_star_agree_on_random_graph(spark):
    """Seeded random graph (multi-component, cycles, isolated nodes):
    identical labels from both algorithms."""
    import random

    rng = random.Random(42)
    ids = [f"v{i:03d}" for i in range(200)]
    edges = [
        (rng.choice(ids), rng.choice(ids)) for _ in range(150)
    ]
    nodes = spark.createDataFrame([(n,) for n in ids], "entity_id string")
    e = spark.createDataFrame(edges, "id_a string, id_b string")
    label = {
        r.entity_id: r.canonical_id
        for r in connected_components(
            nodes, e, max_iter=50, algorithm="label"
        ).collect()
    }
    star = {
        r.entity_id: r.canonical_id
        for r in connected_components(
            nodes, e, max_iter=25, algorithm="star"
        ).collect()
    }
    assert star == label
    assert len(set(label.values())) > 1  # genuinely multi-component


def test_canonicalize_matches_gazetteer(spark, entities):
    pairs = candidate_pairs(entities)
    same_as = score_candidates(pairs, entities, 0.6)
    ents = canonicalize_entities(entities, same_as)
    rows = ents.collect()
    # cluster-by-canonical must equal the gazetteer grouping
    got: dict[str, set] = {}
    for r in rows:
        got.setdefault(r.canonical_id, set()).add(r.surface)
    expected = {min(fs): set(fs) for fs in GAZETTEER.values()}
    assert {frozenset(v) for v in got.values()} == {
        frozenset(v) for v in expected.values()
    }
    # deterministic election: canonical is the min surface of its cluster
    for canon, members in got.items():
        assert canon == min(members)


# (key, id) rows; the first holds one band key with 80 of 100 ids (a
# viral band), every id also in a parity band, so most pairs meet in two
_HOT_BAND = [(i, "hot" if i < 80 else f"cold{i % 7}") for i in range(100)]
_HOT_BAND += [(i, f"parity{i % 2}") for i in range(100)]
# repeated (key, id) rows: each pair still comes out once, but n_shared
# counts joined rows — why the callers that read it pass distinct rows
_DUPS = [(1, "x"), (1, "x"), (2, "x"), (2, "y"), (1, "y"), (1, "y"), (3, "y")]
# key "wide" (6 ids) is over a cap of 4 and drops with all its pairs
_PURGE = [(i, "wide") for i in range(6)] + [(i, f"k{i // 2}") for i in range(6)]
_PURGE += [(0, "k9"), (1, "k9"), (2, "k9"), (5, "k9")]


@pytest.mark.parametrize(
    "rows,cap,aa",
    [(_HOT_BAND, None, False), (_DUPS, None, False), (_PURGE, 4, False),
     (_PURGE, None, True), (_PURGE, 4, True)],
    ids=["hot_band", "dup_rows", "purged", "adamic_adar", "purged_aa"],
)
def test_key_pairs_exact(spark, rows, cap, aa):
    """key_pairs against an itertools.combinations reference: each pair
    sharing a key once, id_a < id_b, n_shared = the joined rows (the
    shared keys, on distinct rows), keys over ``max_key_size`` rows
    dropped, and with ``adamic_adar`` w_sum = Σ 1/ln(|key|) over them."""
    df = spark.createDataFrame(rows, "i long, band_key string")
    got = key_pairs(
        df, "band_key", "i", max_key_size=cap, adamic_adar=aa
    ).collect()
    members: dict[str, Counter[int]] = {}
    for i, key in rows:
        members.setdefault(key, Counter())[i] += 1
    n_want: Counter[tuple[int, int]] = Counter()
    w_want: Counter[tuple[int, int]] = Counter()
    for ids in members.values():
        size = sum(ids.values())
        if cap is None or size <= cap:
            for a, b in itertools.combinations(sorted(ids), 2):
                n_want[a, b] += ids[a] * ids[b]
                w_want[a, b] += ids[a] * ids[b] / math.log(size)
    assert len(got) == len(n_want)  # no pair twice
    assert {(r.id_a, r.id_b): r.n_shared for r in got} == n_want
    if aa:
        for r in got:
            assert abs(r.w_sum - w_want[r.id_a, r.id_b]) < 1e-12
    if rows is _HOT_BAND:  # the hot band dominates the pair set
        assert len(n_want) > 80 * 79 // 2
    if rows is _DUPS:  # (1, 2) meets in x and in y, id 1 twice in each
        assert n_want[1, 2] == 4
    if rows is _PURGE and cap is not None:
        assert (0, 5) in n_want and (3, 4) not in n_want


def test_block_purging_noop_below_cap_and_prunes_hot_block(spark, entities):
    """max_block_size (block purging): identical candidates when every
    block is under the cap; a planted non-discriminating hot block
    (300 dense numeric-ish surfaces that share minhash bands) is
    dropped while the gazetteer's true pairs — generated by the
    redundant name-token blocker too — all survive."""
    base = {(r.id_a, r.id_b) for r in candidate_pairs(entities).collect()}
    capped = {
        (r.id_a, r.id_b)
        for r in candidate_pairs(entities, max_block_size=128).collect()
    }
    assert capped == base  # cap a no-op on the small corpus

    # 300 surfaces sharing their LAST TOKEN: the name-token blocker
    # alone makes one 300-member block -> C(300,2) = 44,850 pairs of
    # zero discriminative value
    hot = spark.createDataFrame(
        [(f"u{i:04d} shared", f"u{i:04d} shared") for i in range(300)],
        "entity_id string, surface string",
    )
    mixed = entities.unionByName(hot)
    purged = candidate_pairs(mixed, max_block_size=128)
    n_unpurged = candidate_pairs(mixed).count()
    n_purged = purged.count()
    assert n_purged < n_unpurged / 2  # the quadratic block is gone
    got = {(r.id_a, r.id_b) for r in purged.collect()}
    missing = _true_pairs() - got
    assert not missing, f"purging lost true pairs: {missing}"
