"""Physical-plan audits: the optimizations SURVEY.md §4 promises must
actually appear in `.explain` output — pushdown, pruning, partial
aggregation, TakeOrderedAndProject, broadcast joins. These guard the
100 TB story: a regression that re-reads all columns or de-broadcasts
the entity map shows up here, not in row counts."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from btd.analytics import outdegree_histogram, top_k_outdegree
from btd.star import edges

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_column_pruning_reaches_parquet_scan(spark):
    df = spark.read.parquet(f"{SF}/lineitem.parquet").select("l_orderkey")
    plan = _plan(df)
    assert "ReadSchema" in plan
    # only the selected column is read, not all 11
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_orderkey" in read_schema
    assert "l_extendedprice" not in read_schema


def test_filter_pushdown_reaches_parquet_scan(spark):
    df = (
        spark.read.parquet(f"{SF}/orders.parquet")
        .where(F.col("o_orderkey") > 100)
        .select("o_orderkey")
    )
    plan = _plan(df)
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l][0]
    assert "GreaterThan(o_orderkey,100)" in pushed


def test_topk_compiles_to_take_ordered(spark):
    plan = _plan(top_k_outdegree(edges(spark, SF), 10))
    assert "TakeOrderedAndProject" in plan


def test_histogram_has_partial_aggregation(spark):
    plan = _plan(outdegree_histogram(edges(spark, SF)))
    # partial+final pairs = the reference's combiner, built in
    assert plan.count("HashAggregate") >= 4


def test_kg_entity_join_is_broadcast(spark, transcripts_df, tmp_path):
    from btd import pipeline

    res = pipeline.run(spark, transcripts_df, str(tmp_path / "kg"))
    # rebuild the final join lazily to inspect its plan
    from btd.extract.relations import extract_triples

    tri = extract_triples(transcripts_df)
    ent = res["entities"]
    joined = tri.join(
        F.broadcast(
            ent.select(F.col("surface").alias("subj"), "canonical_id")
        ),
        "subj",
    )
    assert "BroadcastHashJoin" in _plan(joined)


def test_whole_stage_codegen_covers_narrow_pipeline(spark):
    # AQE wraps shuffling plans before execution, hiding codegen ids in
    # the static explain; a narrow scan→project→filter pipeline shows
    # them directly.
    df = edges(spark, SF).where(F.col("subject").startswith("_"))
    assert "codegen id" in _plan(df)


def test_histogram_plan_shape(spark):
    """The whole 2-MapReduce-job reference chain as one plan: two
    exchanges only (per-subject agg, per-degree agg), scans pruned to
    the key columns."""
    plan = _plan(outdegree_histogram(edges(spark, SF)))
    body = plan.split("\n\n")[0]
    assert body.count("Exchange") == 3  # 2 agg shuffles + output sort
    read_schemas = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert all(
        "struct<o_custkey:bigint>" in l or "struct<l_orderkey:bigint>" in l
        for l in read_schemas
    )


def test_parse_is_jvm_only(spark, tmp_path):
    """The n-quad parse path must contain no Python evaluation."""
    from btd.fixtures import gen_triples, to_lines
    from btd.parse import read_nquads

    path = tmp_path / "quads.nq"
    path.write_text("\n".join(to_lines(gen_triples(50, seed=3))) + "\n")
    plan = _plan(read_nquads(spark, str(path)))
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


@pytest.mark.parametrize(
    "conf,expected",
    [("spark.sql.adaptive.enabled", "true"),
     ("spark.sql.adaptive.skewJoin.enabled", "true")],
)
def test_aqe_confs(spark, conf, expected):
    assert spark.conf.get(conf) == expected


def test_asof_join_is_single_exchange_window(spark):
    """The as-of join must plan as union -> ONE hash exchange on the
    key -> window, never a join of the two sides (whose plan would
    carry a second exchange pair or, worse, a cross product)."""
    from btd.temporal import asof_join

    ev = spark.read.parquet(f"{SF}/events.parquet")
    l = ev.where(F.col("event_type") == "error").select(
        "event_id", "ts", "user_id", "value"
    )
    r = ev.where(F.col("event_type") == "click").select(
        "user_id", "ts", "value"
    )
    plan = _plan(asof_join(l, r, on="user_id", right_cols=["value"]))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert plan.count("Window") >= 1
    # exactly one shuffle: the hashpartitioning on the union
    exchanges = [
        l_ for l_ in plan.splitlines()
        if l_.strip().startswith("(") and "Exchange" in l_ and "Reused" not in l_
    ]
    assert len(exchanges) == 1, exchanges


def test_range_join_stays_equi_keyed(spark):
    """The bucketed range join must be an equi join on (key, bucket),
    not a nested-loop theta join."""
    from btd.temporal import range_join_count

    ev = spark.read.parquet(f"{SF}/events.parquet")
    l = ev.where(F.col("event_type") == "error").select(
        "event_id", "ts", "user_id", "value"
    )
    r = ev.where(F.col("event_type") == "click").select(
        "user_id", "ts", "value"
    )
    plan = _plan(range_join_count(l, r, on="user_id"))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    assert ("SortMergeJoin" in plan or "ShuffledHashJoin" in plan
            or "BroadcastHashJoin" in plan)


def test_lsh_topk_scorer_is_distributed(spark):
    """ANN scoring must be bucket-LOCAL and lazy: constructing the
    lsh_topk DataFrame runs ZERO Spark jobs (the round-1 broadcast
    scorer collected the full matrix at construction time), the plan
    has NO shuffle joins (vectors shuffle once per bucket membership
    into a FlatMapGroupsInPandas — never once per pair; the 100x probe
    measured the pair-join scorer at ~90 GB of vector shuffle), and no
    cross product anywhere. The ONLY join allowed is the megabucket
    shard fix's broadcast of the oversized-bucket occupancy table
    (LeftOuter BuildRight, one int row per hot bucket) back onto the
    stream — that join moves no vector payload across the wire."""
    from btd.dataops.similarity import lsh_topk

    emb = spark.read.parquet(f"{SF}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    sc = spark.sparkContext
    sc.setJobGroup("lsh_lazy_probe", "assert no jobs during plan build")
    try:
        # bits pinned: auto-sizing (bits=None) legitimately runs one
        # count job; the zero-job guarantee is for pinned bucketing
        df = lsh_topk(emb, dim=64, k=3, bits=4)
        plan = _plan(df)
    finally:
        sc.setJobGroup(None, None)
    tracker = sc.statusTracker()
    assert tracker.getJobIdsForGroup("lsh_lazy_probe") == []
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    assert "FlatMapGroupsInPandas" in plan
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan
    join_types = set(re.findall(r"(\w*Join)\b", plan)) - {"Join"}
    assert join_types <= {"BroadcastHashJoin"}, join_types
    # the allowed broadcast is the one-int-row-per-hot-bucket occupancy
    # table ONLY — a broadcast that ships the vector payload would pass
    # the type check while rebuilding the ~90 GB join at scale
    for blk in re.split(r"\n\(\d+\) ", plan):
        if blk.startswith("BroadcastExchange"):
            assert "embedding" not in blk, blk[:300]


def test_pq_topk_scorer_is_distributed_no_corpus_broadcast(spark):
    """IVFADC scoring must be bucket-local like lsh/ivf_topk: the r4
    design collected the FULL normalized matrix to the driver and
    broadcast it (O(n·dim) driver memory — the one scale-killer the
    r4 verdict flagged). Training (the two Lloyd loops) legitimately
    runs jobs at construction; the SCORING plan must have no cross
    product, no shuffle joins, bucket-local FlatMapGroupsInPandas, and
    no BroadcastExchange carrying vector payload (the only allowed
    broadcast is the one-int-row-per-hot-bucket occupancy table)."""
    from btd.dataops.similarity import pq_topk

    emb = spark.read.parquet(f"{SF}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    plan = _plan(pq_topk(emb, k=3, m=8, n_codes=64, n_iter=1, nprobe=4))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    assert "FlatMapGroupsInPandas" in plan
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan
    join_types = set(re.findall(r"(\w*Join)\b", plan)) - {"Join"}
    assert join_types <= {"BroadcastHashJoin"}, join_types
    for blk in re.split(r"\n\(\d+\) ", plan):
        if blk.startswith("BroadcastExchange"):
            assert "embedding" not in blk and "en#" not in blk, blk[:300]


def test_prefix_filter_jaccard_has_no_cross_product(spark):
    from btd.dataops.dedup import ngram_jaccard_pairs

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text"
    )
    plan = _plan(ngram_jaccard_pairs(docs, 0.5))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan


def test_lsh_near_dup_scorer_is_distributed(spark):
    """The gated near-dup scale path must share lsh_topk's plan shape:
    zero jobs at construction (no full-matrix collect anywhere), no
    cross product, bucket-local scoring (FlatMapGroupsInPandas), and
    no SHUFFLE joins — the threshold runs inside the bucket kernel;
    only the megabucket-shard occupancy broadcast join is allowed."""
    from btd.dataops.similarity import lsh_near_dup

    emb = spark.read.parquet(f"{SF}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    sc = spark.sparkContext
    sc.setJobGroup("near_dup_lazy_probe", "assert no jobs during plan build")
    try:
        df = lsh_near_dup(emb, dim=64, threshold=0.45, bits=4)
        plan = _plan(df)
    finally:
        sc.setJobGroup(None, None)
    assert sc.statusTracker().getJobIdsForGroup("near_dup_lazy_probe") == []
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    assert "FlatMapGroupsInPandas" in plan
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan
    join_types = set(re.findall(r"(\w*Join)\b", plan)) - {"Join"}
    assert join_types <= {"BroadcastHashJoin"}, join_types
    # the allowed broadcast is the one-int-row-per-hot-bucket occupancy
    # table ONLY — a broadcast that ships the vector payload would pass
    # the type check while rebuilding the ~90 GB join at scale
    for blk in re.split(r"\n\(\d+\) ", plan):
        if blk.startswith("BroadcastExchange"):
            assert "embedding" not in blk, blk[:300]


def test_mix_sources_broadcasts_manifest(spark):
    """The mix manifest must reach the plan as a broadcast join (never
    a shuffle of the corpus against a 4-row table), with the md5
    filter applied corpus-side."""
    from btd.dataops.curation import mix_sources

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "source"
    )
    plan = _plan(mix_sources(docs, {"src0": 1.0, "src1": 0.5}))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_tfidf_broadcasts_corpus_count_not_df_table(spark):
    """The 1-row n_docs aggregate must arrive via broadcast (it's the
    only hand-broadcast in the plan); the df table join is left to
    Catalyst/AQE (vocabulary grows with the corpus — forcing a
    broadcast there would OOM executors at 100 TB)."""
    from btd.dataops.textstats import tfidf_top_terms

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text"
    )
    plan = _plan(tfidf_top_terms(docs, k=3))
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan
    # partial+final aggregation on both shuffled aggs (tf and df)
    assert plan.count("HashAggregate") >= 4


def test_khop_has_no_cartesian_and_bounded_joins(spark):
    """Frontier BFS must stay equi-join shuffles: no cartesian products,
    and the anti-join dedup appears as LeftAnti — per-level work bounded
    by the distinct pair set, the property that survives 100 TB."""
    from btd.graph import khop

    e = edges(spark, SF).select(
        F.col("subject").alias("src"), F.col("object").alias("dst")
    )
    roots = e.where(F.col("src").startswith("_:c")).select("src")
    plan = _plan(khop(e, k=3, roots=roots))
    assert "CartesianProduct" not in plan
    assert "LeftAnti" in plan


def test_cluster_sample_is_single_window_shuffle(spark):
    """After the (driver-bounded) codebook train, the keep phase is ONE
    exchange keyed by cluster feeding a running-window — no join, no
    second shuffle."""
    from btd.dataops.similarity import cluster_sample

    emb = spark.read.parquet(f"{SF}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    plan = _plan(cluster_sample(emb, per_cluster=3, n_clusters=8, n_iter=2))
    assert "CartesianProduct" not in plan
    assert "Window" in plan
    # exactly one exchange below the window (hashpartitioning on
    # cluster); "(n) Exchange" = the details block, one per node
    assert plan.count(") Exchange") == 1
    # map-side partial top-N prune before the shuffle: only ≤ quota
    # rows per (partition, cluster) travel the wire
    assert "WindowGroupLimit" in plan


def test_funnel_is_single_aggregate_no_join(spark):
    """The whole ordered-funnel chain must compile to ONE per-user
    aggregate + a global rollup: no joins, no windows — the shape whose
    shuffle volume is one pass over events regardless of funnel depth."""
    from btd.temporal import funnel

    ev = spark.read.parquet(f"{SF}/events.parquet")
    plan = _plan(funnel(ev, ["view", "click", "purchase"]))
    assert "Join" not in plan
    assert "Window" not in plan
    # per-user partial+final agg pair, then the 1-row global rollup
    assert "HashAggregate" in plan or "ObjectHashAggregate" in plan


def test_cooccurrence_join_is_coparitioned_equi(spark):
    """The basket self-join must be an equi-join on the basket key with
    no cartesian product; pair counting gets partial aggregation."""
    from btd.analytics.cooccur import basket_cooccurrence

    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    plan = _plan(
        basket_cooccurrence(li, "l_orderkey", "l_partkey", 2)
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("HashAggregate") >= 2


def test_purged_key_pairs_exchange_count_is_pinned(spark):
    """The purged shared-key pair kernel, as basket_cooccurrence runs
    it, has exactly three exchanges: the caller's (basket, item)
    distinct, the basket-hashed purge window (which the basket
    self-join reuses) and the pair group-by. AQE and broadcast are off
    so the static shape is the one pinned; one more exchange here is
    one more full shuffle of the memberships."""
    from btd.analytics.cooccur import basket_cooccurrence

    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    confs = {
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        plan = basket_cooccurrence(
            li, "l_orderkey", "l_partkey", max_basket_size=40
        )._jdf.queryExecution().executedPlan().toString()
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
    keys = [
        re.sub(r"#\d+L?", "", k)
        for k in re.findall(
            r"(?m)^[\s:+-]*Exchange hashpartitioning\((.*), \d+\)", plan
        )
    ]
    assert keys == ["_i, _j", "_k", "l_orderkey, l_partkey"], plan
    assert plan.count("ReusedExchange") == 1, plan  # the self-join's side


def test_bigram_lm_broadcasts_vocab_only(spark):
    """V (a 1-row aggregate) is the only hand-broadcast; model and
    starts tables join on their keys (vocabulary ∝ corpus — a forced
    broadcast there would OOM at scale)."""
    from btd.dataops.textstats import bigram_lm_scores

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text"
    )
    plan = _plan(bigram_lm_scores(docs))
    assert "CartesianProduct" not in plan
    assert "BroadcastExchange" in plan


def test_triangle_count_all_equi_joins(spark):
    """Wedge build + closing join must both be equi-joins (struct keys
    hash fine); no cartesian fallback. The per-node rollup gets partial
    aggregation."""
    from btd.analytics.cooccur import basket_cooccurrence
    from btd.graph import triangle_count

    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    ed = basket_cooccurrence(
        li, basket="l_orderkey", item="l_partkey", min_shared=2
    ).select(F.col("item_a").alias("src"), F.col("item_b").alias("dst"))
    plan = _plan(triangle_count(ed))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "HashAggregate" in plan


def test_set_pr_is_one_full_outer_join(spark):
    """The P/R compare is ONE keyed full-outer join + a 1-row rollup —
    no driver-side set diff, no nested-loop."""
    from btd.eval import set_pr
    from btd.extract.derive import transcripts_from_events
    from btd.extract.relations import extract_triples

    tx = transcripts_from_events(spark, SF)
    gold = extract_triples(tx)
    got = extract_triples(tx.where(F.col("turn_idx") % 2 == 0))
    plan = _plan(set_pr(got, gold, ["subj", "pred", "obj"]))
    assert "SortMergeJoin FullOuter" in plan
    # ... and it is the ONLY join in the whole compare
    for op in (
        "BroadcastHashJoin",
        "ShuffledHashJoin",
        "CartesianProduct",
        "BroadcastNestedLoopJoin",
    ):
        assert op not in plan
    assert plan.count("SortMergeJoin FullOuter") == 1


def test_upsert_is_single_window_no_join(spark):
    """MERGE-without-a-table-format must compile to union + ONE window
    exchange with the map-side WindowGroupLimit prune — no join."""
    from btd.materialize import upsert
    from btd.star import edges

    ex = edges(spark, SF)
    upd = ex.where(F.col("predicate") == "<contains>").withColumn(
        "context", F.lit("<upd>")
    )
    plan = _plan(upsert(ex, upd, ["subject", "predicate", "object"]))
    assert "Join" not in plan
    # partial (map-side) + final WindowGroupLimit around the single
    # key exchange: only candidate winners travel the wire
    assert plan.count("WindowGroupLimit") >= 2
    body = plan.split("\n\n")[0]
    assert body.count("Exchange") == 1


def test_infer_types_prunes_window_map_side(spark):
    """The rank-1 filter must compile to WindowGroupLimit with a
    Partial pass BEFORE the exchange — hot entities ship winners, not
    histograms (btd/ontology.py infer_types docstring)."""
    from btd.extract.derive import transcripts_from_events
    from btd.extract.relations import extract_triples
    from btd.ontology import infer_types

    plan = _plan(
        infer_types(extract_triples(transcripts_from_events(spark, SF)))
    )
    assert "WindowGroupLimit" in plan
    assert "Partial" in plan.split("WindowGroupLimit")[-1] or (
        plan.count("WindowGroupLimit") >= 2
    )


def test_resolve_conflicts_single_exchange_for_both_windows(spark):
    """row_number + the conflict count share ONE (subj, pred)
    exchange; a second keyed exchange would double the shuffle at the
    assertion grain."""
    from btd.extract.derive import transcripts_from_events
    from btd.extract.relations import extract_triples
    from btd.ontology import resolve_conflicts

    plan = _plan(
        resolve_conflicts(extract_triples(transcripts_from_events(spark, SF)))
    )
    # formatted mode lists each Exchange's keys on an Arguments line;
    # exactly ONE is keyed on subj (the other is the transcript
    # derivation's user_id row_number window — upstream, not ours)
    keyed = [
        l
        for l in plan.splitlines()
        if "hashpartitioning(subj" in l
    ]
    assert len(keyed) == 1, keyed


def test_heavy_hitters_topk_is_take_ordered(spark):
    """The rank<=k filter over the term table must collapse to
    TakeOrderedAndProject (k rows per partition to the driver), never
    a full sort of the vocabulary."""
    from btd.dataops.textstats import heavy_hitters

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(heavy_hitters(docs, k=20))
    assert "TakeOrderedAndProject" in plan


def test_two_hop_reach_is_equi_join_with_partial_distinct(spark):
    """Self-join must stay equi-keyed on the mid node (no cartesian /
    broadcast-nested-loop), and the distinct count must partial-
    aggregate on (src, dst) before the src exchange."""
    from btd.ontology import two_hop_reach
    from btd.star import edges

    plan = _plan(two_hop_reach(edges(spark, SF)))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "partial_count" in plan


def test_temporal_triples_two_windows_share_one_exchange(spark):
    """lag-mark, filter, lead-close must ride ONE (subj, pred)
    exchange and ONE sort — the filter preserves partitioning and
    ordering, so the interval-closing window adds neither."""
    from btd.extract.derive import transcripts_from_events
    from btd.extract.relations import extract_triples
    from btd.ontology import temporal_triples

    plan = _plan(
        temporal_triples(extract_triples(transcripts_from_events(spark, SF)))
    )
    keyed = [l for l in plan.splitlines() if "hashpartitioning(subj" in l]
    assert len(keyed) == 1, keyed
    body = plan.split("\n\n")[0]
    # 2 ops windows + 1 upstream transcript row_number window; ONE sort
    # for ours (the other is the derivation's) — a third sort or a
    # second subj-keyed exchange means the filter stopped preserving
    # the window's partitioning/ordering
    assert body.count("Window") == 3
    assert body.count("Sort") == 2


def test_bgp_pattern_slices_prune_union_branches(spark):
    """Each BGP pattern's constant-predicate filter must fold the
    edges UNION down to its single source table: the <ordered> slice
    scans only orders, the <contains> slice only lineitem — at a
    10^12-triple scale the difference is reading half the corpus
    per pattern vs all of it."""
    from btd.bgp import bgp_match

    df = bgp_match(
        edges(spark, SF),
        [("?c", "<ordered>", "?o"), ("?o", "<contains>", "?p")],
        columns=("subject", "predicate", "object"),
    )
    plan = _plan(df)
    import re

    scans = re.findall(r"\(\d+\) Scan parquet", plan)
    assert len(scans) == 2  # one per pattern, not 2 per pattern
    assert "CartesianProduct" not in plan
    # distinct compiles to partial+final hash aggregate, map-side combined
    assert len(re.findall(r"\(\d+\) HashAggregate", plan)) >= 2


def test_bgp_minus_is_anti_join_not_subquery_loop(spark):
    from btd.bgp import bgp_match

    df = bgp_match(
        edges(spark, SF),
        [("?c", "<ordered>", "?o")],
        minus=[("?o", "<contains>", "?x")],
        columns=("subject", "predicate", "object"),
    )
    plan = _plan(df)
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan
