"""Driver contract (PySpark target).

``entry(spark)`` smoke-runs the flagship query on sf0.001. ``gates()`` is
the ordered table of gated queries, one ``(name, query fn, oracle SQL)``
row each; ``queries()`` and ``oracle_sql()`` are its two projections,
and ``queries()[name](spark, sf_dir)`` is compared against
``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash).
"""

from __future__ import annotations

import atexit
import functools
import hashlib
import os
import shutil
import tempfile
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from pyspark.sql import Window
from pyspark.sql import functions as F

from btd import analytics as A
from btd.dataops import contract as D
from btd.dataops.similarity import auto_lsh_bits, auto_nlist, auto_semdedup_nlist
from btd.extract.derive import TRANSCRIPTS_SQL, transcripts_from_events
from btd.extract.mentions import detect_mentions
from btd.extract.relations import extract_triples
from btd.extract.turns import ordered_turns
from btd.link.canonical import connected_components
from btd.star import EDGES_SQL, edges

SF0001 = "/root/testdata/sf0.001"

QueryFn = Callable[[SparkSession, str], DataFrame]


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: widest-shuffle reference analysis (problem 6) — top-10
    triples by distinct-context count over the star-schema edges."""
    return A.top_k_contexts(edges(spark, SF0001), 10)


# --------------------------------------------------------------------------
# reference-parity analyses (SURVEY.md §2) over the star-schema edges
# --------------------------------------------------------------------------


def _q_distinct(spark: SparkSession, sf: str) -> DataFrame:
    return A.distinct_subject_count(edges(spark, sf))


def _q_distinct_spo(spark: SparkSession, sf: str) -> DataFrame:
    """North-star: distinct subject/predicate/object counts in one
    multi-distinct pass (the reference shipped subjects only)."""
    return A.distinct_spo_counts(edges(spark, sf))


def _q_outdegree_hist(spark: SparkSession, sf: str) -> DataFrame:
    return A.outdegree_histogram(edges(spark, sf))


def _q_indegree_hist(spark: SparkSession, sf: str) -> DataFrame:
    return A.indegree_histogram(edges(spark, sf))


def _q_topk_outdegree(spark: SparkSession, sf: str) -> DataFrame:
    return A.top_k_outdegree(edges(spark, sf), 10)


def _q_percentages(spark: SparkSession, sf: str) -> DataFrame:
    return A.percentages(edges(spark, sf))


def _q_distinct_contexts(spark: SparkSession, sf: str) -> DataFrame:
    return A.distinct_contexts_per_triple(edges(spark, sf))


def _q_distinct_contexts_hll(spark: SparkSession, sf: str) -> DataFrame:
    """The report's 'bloom filter' alternative for problem 6
    (report/report.md:453-484) as HyperLogLog++: approx_count_distinct
    per (s,p,o). Gated EXACTLY against the count_distinct oracle — on
    the gate corpus per-triple context cardinality is tiny (<= ~20),
    where HLL++'s linear-counting range is deterministic-exact, so the
    hash comparison is a real pass/fail, not a tolerance."""
    return A.distinct_contexts_per_triple(edges(spark, sf), approximate=True)


def _q_top_contexts(spark: SparkSession, sf: str) -> DataFrame:
    return A.top_k_contexts(edges(spark, sf), 10)


def _q_dedup(spark: SparkSession, sf: str) -> DataFrame:
    return A.remove_duplicate_triples(edges(spark, sf))


def _q_percentages_compat(spark: SparkSession, sf: str) -> DataFrame:
    """Reference bug-compat mode: 'blank object' counter actually tests
    the subject (RDFStatement.java:40-42) — reproduces the published
    464,951,010/464,951,010 twin counts semantics."""
    return A.percentages(edges(spark, sf), compat="reference")


def _edges_to_lines(e: DataFrame) -> DataFrame:
    """Serialize edge quads to input-shaped n-quad lines (shared by the
    roundtrip and parse-metrics gate queries; keep in lockstep with the
    oracle SQL CASE twin)."""
    return e.select(
        F.when(
            F.col("context") == "",
            F.format_string("%s %s %s .", "subject", "predicate", "object"),
        )
        .otherwise(
            F.format_string(
                "%s %s %s %s .", "subject", "predicate", "object", "context"
            )
        )
        .alias("value")
    )


def _q_parse_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """End-to-end through the REAL n-quad regex path: serialize the
    edges to input-shaped quad lines, re-parse with the reference
    regex (S2/P5/F1), then aggregate — proves parse∘serialize is the
    identity on valid quads inside the driver gate."""
    from btd.parse import parse_nquads

    lines = _edges_to_lines(edges(spark, sf))
    return A.percentages(parse_nquads(lines))


def _q_parse_metrics(spark: SparkSession, sf: str) -> DataFrame:
    """The reference's log-and-drop policy as a one-pass metric
    (RDFStatement.java:57-66): valid serialized edges + 50 planted
    malformed lines + one typed-literal line → (parsed, dropped).
    Boolean regex matching agrees between Java regex and RE2, so the
    oracle counts with DuckDB regexp_matches on the same pattern."""
    from btd.parse import parse_metrics

    lines = _edges_to_lines(edges(spark, sf))
    bad = spark.range(50).select(
        F.concat(F.lit("malformed line "), F.col("id").cast("string")).alias(
            "value"
        )
    )
    typed = spark.range(1).select(
        F.lit('<s> <p> "v"^^<t> .').alias("value")
    )
    framed = spark.range(1).select(
        F.lit('garbage <s> <p> <o> . trailing').alias("value")
    )  # valid quad inside garbage: matches() rejects (anchored)
    return parse_metrics(
        lines.unionByName(bad).unionByName(typed).unionByName(framed)
    )


@functools.cache
def _gate_dir() -> str:
    """The process's one scratch directory for gate outputs (sink
    roundtrips, stream sources), removed at interpreter exit. Being
    private to the process, nothing in it can be stale or shared with a
    concurrent run (e.g. bench + pytest on the same sf)."""
    path = tempfile.mkdtemp(prefix="btd_gate_")
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    return path


def _sink_roundtrip(spark: SparkSession, sf: str, codec: str | None) -> DataFrame:
    """S3/S4 sinks in the driver gate (round 3 — previously
    pytest-golden only): serialize the edges to input-shaped n-quad
    lines, write them through the REAL text sink (gzip codec for S4),
    re-read with read_nquads and aggregate. The gz variant re-reads
    with ``min_partitions`` so the decompress-then-repartition escape
    hatch for unsplittable gz inputs is itself driver-gated. Each call
    writes a fresh directory under the gate dir."""
    from btd.parse import read_nquads

    tmp = tempfile.mkdtemp(prefix="sink_", dir=_gate_dir())
    w = _edges_to_lines(edges(spark, sf)).write.mode("overwrite")
    if codec:
        w = w.option("compression", codec)
    w.text(tmp)
    parsed = read_nquads(
        spark, tmp, min_partitions=8 if codec else None
    )
    return A.percentages(parsed)


def _q_text_sink_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    return _sink_roundtrip(spark, sf, None)


def _q_gzip_sink_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    return _sink_roundtrip(spark, sf, "gzip")


def _q_ev_asof_join(spark: SparkSession, sf: str) -> DataFrame:
    """As-of join (custom operator — Spark has no primitive): each
    'error' event gains the same user's most recent 'click' at or
    before it. Oracled against DuckDB's native ASOF LEFT JOIN."""
    from btd.temporal import asof_join

    ev = spark.read.parquet(f"{sf}/events.parquet")
    errors = ev.where(F.col("event_type") == "error").select(
        "event_id", "ts", "user_id", "value"
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", "ts", "value"
    )
    return asof_join(errors, clicks, on="user_id", right_cols=["value"])


def _q_ev_range_count(spark: SparkSession, sf: str) -> DataFrame:
    """Trailing-window range join as a bucketed equi-join: per error
    event, COUNT of the user's clicks in the prior 24h."""
    from btd.temporal import range_join_count

    ev = spark.read.parquet(f"{sf}/events.parquet")
    errors = ev.where(F.col("event_type") == "error").select(
        "event_id", "ts", "user_id", "value"
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", "ts", "value"
    )
    return range_join_count(
        errors, clicks, on="user_id", window_seconds=86400,
        left_id="event_id",
    )


def _q_ev_sessionize(spark: SparkSession, sf: str) -> DataFrame:
    """Batch gap-based sessionization (30-min gap): lag -> boundary
    flag -> running sum, one shuffle. Streaming twin: btd.streaming.
    sessionize_stream (applyInPandasWithState)."""
    from btd.dataops.sessions import sessionize

    ev = spark.read.parquet(f"{sf}/events.parquet")
    # event_id tiebreak: deterministic row order across the two window
    # passes even if the corpus ever gains tied timestamps
    return sessionize(ev, gap_minutes=30, tiebreak="event_id")


def _q_ev_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """Hierarchical totals via ROLLUP(event_type, hour) — subtotal and
    grand-total rows marked with explicit GROUPING() flags (ANSI), so a
    real NULL or sentinel-valued event_type in the data can never be
    confused with a subtotal row."""
    ev = spark.read.parquet(f"{sf}/events.parquet").withColumn(
        "hour", F.date_trunc("hour", F.col("ts"))
    )
    return ev.rollup("event_type", "hour").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 4).alias("sum_value"),
        F.grouping("event_type").cast("int").alias("g_event_type"),
        F.grouping("hour").cast("int").alias("g_hour"),
    ).select(
        "event_type", "hour", "g_event_type", "g_hour",
        "n_events", "sum_value",
    )


def _q_ev_quantiles(spark: SparkSession, sf: str) -> DataFrame:
    """Exact continuous percentiles per group (Spark percentile() ==
    DuckDB quantile_cont, same interpolation); the approximate
    t-digest path (approx_percentile) is the 100TB variant, traded
    here for oracle-exact values."""
    ev = spark.read.parquet(f"{sf}/events.parquet")
    return ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.25)"), 6).alias("q25"),
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("q50"),
        F.round(F.expr("percentile(value, 0.75)"), 6).alias("q75"),
        F.round(F.expr("percentile(value, 0.99)"), 6).alias("q99"),
    )


def _q_ev_quantiles_approx(spark: SparkSession, sf: str) -> DataFrame:
    """The 100 TB percentile path: percentile_approx (Greenwald-Khanna,
    mergeable partial sketches — one partial-aggregated shuffle instead
    of a full sort per group). At the gate corpus the per-group row
    count is far below the accuracy parameter, so GK retains every
    sample and returns the exact lower order statistic — which is
    DuckDB's quantile_disc definition, giving a true hash oracle for
    the approximate operator."""
    ev = spark.read.parquet(f"{sf}/events.parquet")
    args = "value, {q}, 100000"
    return ev.groupBy("event_type").agg(
        *[
            F.round(
                F.expr(f"percentile_approx({args.format(q=q)})"), 6
            ).alias(f"q{int(q * 100)}")
            for q in (0.25, 0.5, 0.75, 0.99)
        ]
    )


def _q_ev_pivot(spark: SparkSession, sf: str) -> DataFrame:
    """Pivoted per-user event-type counts (explicit value list — at
    scale you always pin the pivot domain to avoid a discovery pass)."""
    ev = spark.read.parquet(f"{sf}/events.parquet")
    types = ["click", "error", "purchase", "signup", "view"]
    return (
        ev.groupBy("user_id")
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
        .na.fill(0, types)
    )


def _q_ev_json_extract(spark: SparkSession, sf: str) -> DataFrame:
    """Semi-structured path: pull a typed field out of the JSON props
    column and aggregate — JSONPath stays JVM-side (get_json_object),
    no Python."""
    ev = spark.read.parquet(f"{sf}/events.parquet")
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return ev.groupBy("event_type").agg(
        F.sum(k).alias("sum_k"),
        F.count(F.when(k.isNotNull(), 1)).alias("n_with_k"),
        F.max(k).alias("max_k"),
    )


def _q_ev_retention(spark: SparkSession, sf: str) -> DataFrame:
    """Weekly cohort-retention triangle over the event stream — two
    partial-aggregated exchanges (first-event per user, then
    distinct-user count per cell); output is ≤ weeks² cells at any
    corpus scale."""
    from btd.temporal import cohort_retention

    return cohort_retention(spark.read.parquet(f"{sf}/events.parquet"))


def _q_ev_funnel(spark: SparkSession, sf: str) -> DataFrame:
    """Strictly-ordered view→click→purchase funnel, first-touch
    anchors: ONE per-user aggregate collecting sorted per-step ts
    arrays, chain resolved with JVM array expressions (element_at of a
    higher-order filter) — no joins, no windows, no Python. The twin
    unrolls the chain as per-stage MIN joins."""
    from btd.temporal import funnel

    return funnel(
        spark.read.parquet(f"{sf}/events.parquet"),
        ["view", "click", "purchase"],
    )


def _q_kg_copurchase(spark: SparkSession, sf: str) -> DataFrame:
    """Basket co-occurrence (market-basket support counting) over the
    order→part containment edges: part pairs sharing ≥2 orders. Pair
    volume is Σ basket_width² — bounded by the data model, not the
    corpus; the mega-basket purge knob is exercised in pytest."""
    from btd.analytics.cooccur import basket_cooccurrence

    li = spark.read.parquet(f"{sf}/lineitem.parquet")
    return basket_cooccurrence(
        li, basket="l_orderkey", item="l_partkey", min_shared=2
    )


def _q_kg_triangles(spark: SparkSession, sf: str) -> DataFrame:
    """Per-node triangle counts over the co-purchase graph (item pairs
    sharing ≥2 orders). Degree-ordered orientation keeps wedge volume
    hub-safe; the oracle closes wedges with plain id-ordering — any
    orientation finds each triangle exactly once."""
    from btd.analytics.cooccur import basket_cooccurrence
    from btd.graph import triangle_count

    li = spark.read.parquet(f"{sf}/lineitem.parquet")
    edges_df = basket_cooccurrence(
        li, basket="l_orderkey", item="l_partkey", min_shared=2
    ).select(F.col("item_a").alias("src"), F.col("item_b").alias("dst"))
    return triangle_count(edges_df)


def _q_kg_neighbor_jaccard(spark: SparkSession, sf: str) -> DataFrame:
    """Neighborhood-overlap link prediction (orders as nodes, parts as
    shared neighbors): jaccard ≥ 0.5, hub neighbors (degree > 40)
    purged before pairing — both scale knobs live in the gate."""
    from btd.analytics.cooccur import neighborhood_jaccard

    li = spark.read.parquet(f"{sf}/lineitem.parquet")
    return neighborhood_jaccard(
        li,
        node="l_orderkey",
        neighbor="l_partkey",
        min_jaccard=0.5,
        max_neighbor_degree=40,
    )


def _q_ev_profile(spark: SparkSession, sf: str) -> DataFrame:
    """One-pass column profiler over events (nulls, exact distincts,
    string-rendered min/max) — the ingest health check that runs before
    anything else; single aggregation, stack() to long form, no driver
    work beyond the tiny result."""
    from btd.quality import profile_table

    return profile_table(
        spark.read.parquet(f"{sf}/events.parquet"),
        ["event_id", "user_id", "event_type", "value", "props"],
    )


def _q_ev_profile_approx(spark: SparkSession, sf: str) -> DataFrame:
    """profile_table's documented 100 TB mode: approx_count_distinct
    (HLL++, one pass, no Expand replication) instead of exact
    count_distinct. Gated EXACTLY on the columns where that is honest:
    at rsd=0.005 (2^16 registers) the gate-corpus cardinalities
    user_id=150 and event_type=5 sit deep in HLL++'s deterministic
    linear-counting range and the estimates land exact (measured at
    sf0.01: 150/5 on the nose) — the same trick
    ref_distinct_contexts_hll uses, so the oracle's exact
    COUNT(DISTINCT) is a true pass/fail. props (100 distinct) is
    excluded: its estimate at this precision reads 99 — the gate only
    claims exactness where it holds. rsd=0.002 would make all three
    exact but costs 8x the aggregate-buffer work (registers scale
    1/rsd²; measured 60 s vs 7 s at sf0.01) for no extra gate power."""
    from btd.quality import profile_table

    return profile_table(
        spark.read.parquet(f"{sf}/events.parquet"),
        ["user_id", "event_type"],
        exact=False,
        rsd=0.005,
    )


def _q_kg_fk_check(spark: SparkSession, sf: str) -> DataFrame:
    """Constraint report over the star schema: two referential checks
    (anti-joins — clean on this data, the zeros are the assertion) and
    one uniqueness check with REAL violations (lineitem repeats
    (orderkey, partkey) across suppliers — 110 rows at sf0.01)."""
    from btd.quality import constraint_report, duplicate_keys, fk_violations

    li = spark.read.parquet(f"{sf}/lineitem.parquet")
    orders = spark.read.parquet(f"{sf}/orders.parquet")
    cust = spark.read.parquet(f"{sf}/customer.parquet")
    return constraint_report(
        {
            "lineitem_orderkey_fk": fk_violations(
                li, "l_orderkey", orders, "o_orderkey"
            ),
            "orders_custkey_fk": fk_violations(
                orders, "o_custkey", cust, "c_custkey"
            ),
            "lineitem_orderpart_unique": duplicate_keys(
                li, ["l_orderkey", "l_partkey"]
            ),
        }
    )


def _q_ev_moving_avg(spark: SparkSession, sf: str) -> DataFrame:
    """Trailing 3-row moving average per user — ONE shuffle, bounded
    frame state; deterministic (ts, event_id) tiebreak makes the float
    frame identical on both engines."""
    from btd.temporal import moving_avg

    return moving_avg(spark.read.parquet(f"{sf}/events.parquet"))


def _q_ev_hopping(spark: SparkSession, sf: str) -> DataFrame:
    """Hopping event-time windows (10 min window / 5 min slide) in
    batch: the window() generator expands rows to their 2 owning
    windows (narrow), then one partial-aggregated exchange. The twin
    enumerates the slide-aligned starts arithmetically."""
    from btd.temporal import hopping_window_counts

    return hopping_window_counts(spark.read.parquet(f"{sf}/events.parquet"))


def _q_kg_upsert(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental KG maintenance: MERGE updated containment edges
    (context rewritten) plus brand-new part-existence triples into the
    materialized edge set, keyed (subject, predicate, object) — one
    window exchange, no join. Ambiguous duplicate keys tie-break on
    the full remaining tuple, mirrored in the twin."""
    from btd.materialize import upsert

    ex = edges(spark, sf)
    li = spark.read.parquet(f"{sf}/lineitem.parquet")
    upd = li.where(F.col("l_orderkey") % 5 == 0).select(
        F.concat(F.lit("<o"), F.col("l_orderkey").cast("string"), F.lit(">"))
        .alias("subject"),
        F.lit("<contains>").alias("predicate"),
        F.when(
            F.col("l_partkey") % 7 == 0,
            F.concat(F.lit("_:p"), F.col("l_partkey").cast("string")),
        )
        .otherwise(
            F.concat(F.lit("<p"), F.col("l_partkey").cast("string"), F.lit(">"))
        )
        .alias("object"),
        F.lit("<upd>").alias("context"),
    )
    new = (
        spark.read.parquet(f"{sf}/part.parquet")
        .where(F.col("p_partkey") % 100 == 0)
        .select(
            F.concat(
                F.lit("<p"), F.col("p_partkey").cast("string"), F.lit(">")
            ).alias("subject"),
            F.lit("<exists>").alias("predicate"),
            F.lit("true").alias("object"),
            F.lit("").alias("context"),
        )
    )
    return upsert(ex, upd.unionByName(new), ["subject", "predicate", "object"])


def _q_kg_adamic_adar(spark: SparkSession, sf: str) -> DataFrame:
    """Adamic–Adar link prediction on the same order/part bipartite
    fixture as kg_neighbor_jaccard — log-damped shared-neighbor
    evidence, hub purge at degree 40, output thresholded at 0.5 (on
    the ROUND(,6) score, mirrored in the twin)."""
    from btd.analytics.cooccur import adamic_adar

    li = spark.read.parquet(f"{sf}/lineitem.parquet")
    return adamic_adar(
        li, node="l_orderkey", neighbor="l_partkey", max_neighbor_degree=40
    ).where(F.col("aa_score") >= 0.5)


def _q_doc_postings(spark: SparkSession, sf: str) -> DataFrame:
    """Positional inverted index over documents, hapax-ish terms
    dropped (min_df=5). Positions ride as an ascending comma-joined
    scalar so the compare is order-exact without array hashing."""
    from btd.dataops.textstats import postings

    return postings(
        spark.read.parquet(f"{sf}/documents.parquet"), min_df=5
    )


def _q_kg_eval_pr(spark: SparkSession, sf: str) -> DataFrame:
    """The north rule's acceptance metric AS an operator: distributed
    set precision/recall of a degraded extraction run (even-indexed
    turns only → known misses, plus one synthetic wrong triple per
    conversation → known false positives) against the full extraction
    as gold. ONE keyed full-outer join + a 1-row rollup — the
    comparison a 10^12-turn corpus needs, vs the driver-side diff the
    pytest asserts use."""
    from btd.eval import set_pr

    tx = transcripts_from_events(spark, sf)
    gold = extract_triples(tx)
    synth = tx.select("conv_id").distinct().select(
        F.col("conv_id").alias("subj"),
        F.lit("_synthetic").alias("pred"),
        F.lit("x").alias("obj"),
        "conv_id",
        F.lit(-1).cast("int").alias("turn_idx"),
    )
    got = extract_triples(
        tx.where(F.col("turn_idx") % 2 == 0)
    ).unionByName(synth)
    return set_pr(got, gold, ["subj", "pred", "obj", "conv_id", "turn_idx"])


def _q_kg_ontology_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Per-predicate schema profile of the extracted triples —
    assertion count, distinct subjects/objects, mean fanout. ONE
    exchange keyed by predicate; the final reduce is schema-sized."""
    from btd.ontology import ontology_stats

    return ontology_stats(
        extract_triples(transcripts_from_events(spark, sf))
    )


def _q_kg_type_infer(spark: SparkSession, sf: str) -> DataFrame:
    """Majority-vote entity typing over extracted triples: inferred
    type = most frequent predicate per subject, pred-asc tie-break.
    One partial-aggregated (subj,pred) count + a WindowGroupLimit-
    pruned rank-1 window on the reused subj partitioning."""
    from btd.ontology import infer_types

    return infer_types(
        extract_triples(transcripts_from_events(spark, sf))
    )


def _q_kg_conflict_resolve(spark: SparkSession, sf: str) -> DataFrame:
    """Functional-property conflict resolution: latest assertion wins
    per (subj, pred) — recency (turn_idx DESC, conv_id DESC), obj ASC
    final tie-break — emitting the winner plus the distinct-object
    conflict count. One window exchange, rank pruned map-side."""
    from btd.ontology import resolve_conflicts

    return resolve_conflicts(
        extract_triples(transcripts_from_events(spark, sf))
    )


def _q_kg_two_hop_reach(spark: SparkSession, sf: str) -> DataFrame:
    """Exact two-hop neighborhood size per source over the KG edges
    (customer → order → part): self-join on the mid node (both sides
    hashed on the same key) + one distinct count keyed by source. The
    hub-mid purge knob is exercised in pytest."""
    from btd.ontology import two_hop_reach

    return two_hop_reach(edges(spark, sf))


def _q_doc_heavy_hitters(spark: SparkSession, sf: str) -> DataFrame:
    """Exact top-20 terms by document frequency — distinct (doc,term)
    and the df count share one exchange; top-k is a rank window over
    the schema-sized term table, df-desc then term-asc tie-break."""
    from btd.dataops.textstats import heavy_hitters

    return heavy_hitters(
        spark.read.parquet(f"{sf}/documents.parquet"), k=20
    )


def _q_ev_anomaly(spark: SparkSession, sf: str) -> DataFrame:
    """Per-user z-score outliers (|z| > 2, sample stddev) over event
    values — ONE window exchange keyed by user; single-event and
    zero-variance users yield NULL z and drop on both engines."""
    from btd.temporal import zscore_outliers

    return zscore_outliers(
        spark.read.parquet(f"{sf}/events.parquet"), threshold=2.0
    )


def _q_kg_entity_cooccur(spark: SparkSession, sf: str) -> DataFrame:
    """Entity co-mention affinity edges from provenance: entity pairs
    (triple subjects+objects) sharing >= 2 conversations — the untyped
    KG-enrichment edge a recommendation/context layer adds next to the
    typed triples. Reuses the basket primitive (basket = conv_id):
    pair volume is bounded by per-conversation entity width, and the
    mega-basket purge knob applies unchanged."""
    from btd.analytics.cooccur import basket_cooccurrence

    tri = extract_triples(transcripts_from_events(spark, sf))
    ents = tri.select("conv_id", F.col("subj").alias("entity")).unionByName(
        tri.select("conv_id", F.col("obj").alias("entity"))
    )
    return basket_cooccurrence(
        ents, basket="conv_id", item="entity", min_shared=2
    )


def _q_doc_winnow(spark: SparkSession, sf: str) -> DataFrame:
    """Winnowing rolling-hash fingerprints (k=3 token grams, window 4):
    any shared ≥6-token run between docs shares a fingerprint. One
    doc_id window with a bounded frame + the distinct exchange."""
    from btd.dataops.textstats import winnow_fingerprints

    return winnow_fingerprints(
        spark.read.parquet(f"{sf}/documents.parquet"), k=3, window=4
    )


def _q_kg_temporal_triples(spark: SparkSession, sf: str) -> DataFrame:
    """Temporal-KG materialization: assertion history per (subj, pred)
    as validity intervals — consecutive same-object re-assertions
    collapse, the live assertion carries NULL valid_to. One keyed
    exchange, two windows over one sort (plan-asserted)."""
    from btd.ontology import temporal_triples

    return temporal_triples(
        extract_triples(transcripts_from_events(spark, sf))
    )


def _q_doc_dsir(spark: SparkSession, sf: str) -> DataFrame:
    """DSIR importance weights: mean bigram log-likelihood ratio under
    the src0 target model vs the corpus model — the data-selection
    tilt a 100 TB mix pass resamples on. Target side LEFT-joined with
    the smoothed 1/(0+V_t) floor for unseen bigrams."""
    from btd.dataops.textstats import dsir_weights

    return dsir_weights(
        spark.read.parquet(f"{sf}/documents.parquet"), target_source="src0"
    )


def _q_kg_turn_integrity(spark: SparkSession, sf: str) -> DataFrame:
    from btd.extract.turns import check_turn_integrity

    return check_turn_integrity(transcripts_from_events(spark, sf))


# --------------------------------------------------------------------------
# north-rule KG construction stages over transcripts derived from events
# --------------------------------------------------------------------------


def _q_kg_turn_order(spark: SparkSession, sf: str) -> DataFrame:
    tx = transcripts_from_events(spark, sf)
    return ordered_turns(tx).select(
        "conv_id", "turn_idx", "turn_rank", "role", "tool", "text"
    )


def _q_kg_extract(spark: SparkSession, sf: str) -> DataFrame:
    return extract_triples(transcripts_from_events(spark, sf))


def _q_kg_extract_windowed(spark: SparkSession, sf: str) -> DataFrame:
    """Context-windowed extraction over per-conversation turn order:
    a pronoun turn ('It uses beacon.') planted at the end of every
    conversation must resolve its subject from the previous turn's
    leading token."""
    from btd.extract.relations import extract_triples_windowed

    tx = transcripts_from_events(spark, sf)
    planted = tx.groupBy("conv_id").agg(F.max("ts").alias("ts")).select(
        "conv_id",
        F.lit(1000000).cast("int").alias("turn_idx"),
        F.lit("user").alias("role"),
        F.lit("It uses beacon.").alias("text"),
        F.lit("beacon").alias("tool"),
        "ts",
    )
    return extract_triples_windowed(tx.unionByName(planted))


def _q_kg_mentions(spark: SparkSession, sf: str) -> DataFrame:
    tx = transcripts_from_events(spark, sf)
    surfaces = [
        r[0]
        for r in spark.read.parquet(f"{sf}/events.parquet")
        .select("event_type")
        .distinct()
        .collect()
    ]
    return detect_mentions(tx.where(F.col("text").like("% uses %")), surfaces)


def _gate_parquet(df: DataFrame, kind: str, sf: str) -> str:
    """Write ``df`` as parquet once per (process, kind, sf) under the
    gate dir, for a file-source stream (streaming sources read
    directories, and the testdata is read-only): the streaming gate
    queries share one derive+write instead of each paying it."""
    tag = hashlib.md5(sf.encode()).hexdigest()[:8]
    path = os.path.join(_gate_dir(), f"{kind}_{tag}")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        df.write.mode("overwrite").parquet(path)
    return path


def _tx_stream(spark: SparkSession, sf: str) -> DataFrame:
    """File-source stream over the derived transcripts."""
    from btd.streaming import stream_transcripts

    path = _gate_parquet(transcripts_from_events(spark, sf), "tx", sf)
    return stream_transcripts(spark, path)


def _drain(stream: DataFrame, mode: str = "append") -> DataFrame:
    """Run a gate stream over all available input into a fresh memory
    sink and return the sink's table."""
    from btd.streaming import run_to_memory

    name = f"gate_stream_{uuid.uuid4().hex}"
    run_to_memory(stream, name, mode=mode)
    return stream.sparkSession.table(name)


def _q_stream_extract(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming twin of kg_extract_triples through the REAL Structured
    Streaming path: file-source stream → incremental pandas-UDF
    extraction → memory sink, drained with processAllAvailable. Shares
    the batch extraction oracle — the stream must produce byte-equal
    triples (stateless/narrow ⇒ append mode, no watermark)."""
    from btd.streaming import stream_extract_triples

    return _drain(stream_extract_triples(_tx_stream(spark, sf)))


def _q_stream_windowed_counts(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming event-time windowed aggregation (10-min tumbling
    windows + watermark) drained in complete mode so every window is
    emitted. n_roles uses approx_count_distinct (exact distinct is
    unsupported on streams); at role cardinality <= 3 HLL++ is
    deterministic-exact, so the COUNT(DISTINCT) oracle is a true
    pass/fail."""
    from btd.streaming import windowed_turn_counts

    return _drain(
        windowed_turn_counts(_tx_stream(spark, sf)), mode="complete"
    )


def _q_stream_hopping(spark: SparkSession, sf: str) -> DataFrame:
    """Hopping (overlapping) event-time windows on the STREAM: the same
    window() generator as the tumbling gate but with a 5-min slide, so
    every turn lands in 2 windows and the state store carries the
    overlap — the 'rate over 10 min, refreshed every 5' streaming
    shape. Complete-mode drain; twin enumerates slide-aligned starts."""
    from btd.streaming import windowed_turn_counts

    return _drain(
        windowed_turn_counts(_tx_stream(spark, sf), slide="5 minutes"),
        mode="complete",
    )


def _q_stream_sessionize(spark: SparkSession, sf: str) -> DataFrame:
    """Custom stateful streaming operator in the gate:
    applyInPandasWithState gap-sessionization over a file-source
    transcript stream, update-mode memory sink. The static input
    arrives as ONE micro-batch (file source, no maxFilesPerTrigger),
    so each session — closed or final-open — is emitted exactly once
    and the result equals the batch formulation: a full SQL oracle for
    the arbitrary-state operator."""
    from btd.streaming import sessionize_stream

    return _drain(
        sessionize_stream(_tx_stream(spark, sf), gap_minutes=30),
        mode="update",
    )


def _q_stream_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming exact dedup in the gate: the transcript stream is
    unioned with ITSELF (every row a duplicate) and dropDuplicates
    against the state store must restore exactly one row per
    (conv_id, turn_idx) — then aggregated per conversation so the
    oracle compares a stable shape."""
    from btd.streaming import dedup_stream

    s = _tx_stream(spark, sf)
    return _drain(dedup_stream(s.unionByName(s))).groupBy("conv_id").agg(
        F.count(F.lit(1)).alias("n_turns"),
        F.count_distinct("turn_idx").alias("n_distinct_turns"),
    )


def _q_stream_join(spark: SparkSession, sf: str) -> DataFrame:
    """Stream-stream inner join in the gate: user turns × assistant
    turns of the same conversation within a 30-min window, both sides
    watermarked (bounded join state). The static input arrives in one
    micro-batch so every match is emitted; aggregated per conversation
    to a stable shape the static SQL self-join replicates exactly."""
    from btd.streaming import response_join_stream

    return (
        _drain(response_join_stream(_tx_stream(spark, sf)))
        .groupBy(F.col("u_conv_id").alias("conv_id"))
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.count_distinct("u_turn_idx").alias("n_user_turns"),
            F.count_distinct("a_turn_idx").alias("n_asst_turns"),
        )
    )


def _q_stream_anomaly(spark: SparkSession, sf: str) -> DataFrame:
    """Custom stateful streaming operator #2 in the gate: running
    per-user z-score anomalies (Welford-style three-scalar state via
    applyInPandasWithState, append mode) over a file-source event
    stream. One micro-batch for the static replay, so the output
    equals the batch expanding-window formulation — a full SQL oracle
    for an arbitrary-state operator, like stream_sessionize."""
    from btd.streaming import zscore_anomaly_stream

    ev = spark.read.parquet(f"{sf}/events.parquet")
    path = _gate_parquet(ev.select("event_id", "ts", "user_id", "value"), "ev", sf)
    stream = spark.readStream.schema(
        spark.read.parquet(path).schema
    ).parquet(path)
    return _drain(zscore_anomaly_stream(stream, threshold=2.0))


def _q_stream_enrich(spark: SparkSession, sf: str) -> DataFrame:
    """Stream-static enrichment join in the gate: streaming turns
    broadcast-joined to a static tool dimension (derived from events),
    aggregated per tool category."""
    from btd.streaming import enrich_stream

    dim = (
        spark.read.parquet(f"{sf}/events.parquet")
        .select(F.col("event_type").alias("tool"))
        .distinct()
        .withColumn(
            "tool_category",
            F.when(F.length("tool") > 5, "long").otherwise("short"),
        )
    )
    return (
        _drain(enrich_stream(_tx_stream(spark, sf), dim))
        .groupBy("tool_category")
        .agg(
            F.count(F.lit(1)).alias("n_turns"),
            F.count_distinct("tool").alias("n_tools"),
        )
    )


def _nation_chain_graph(spark: SparkSession, sf: str):
    """Chain graph from nations: consecutive nations of a region are
    linked, so components == regions (diameter ~4 exercises >1 CC
    iteration). Shared by both CC gate queries so the fixture can't
    drift between them."""
    nation = spark.read.parquet(f"{sf}/nation.parquet")
    nid = F.concat(F.lit("n"), F.col("n_nationkey").cast("string"))
    nodes = nation.select(nid.alias("entity_id"))
    w = Window.partitionBy("n_regionkey").orderBy("n_nationkey")
    edges_df = (
        nation.select(nid.alias("id_b"), F.lag(nid).over(w).alias("id_a"))
        .where(F.col("id_a").isNotNull())
    )
    return nodes, edges_df


def _q_kg_components(spark: SparkSession, sf: str) -> DataFrame:
    """Iterative connected components (min-label propagation) over the
    nation chain graph."""
    nodes, edges_df = _nation_chain_graph(spark, sf)
    return connected_components(nodes, edges_df)


def _q_kg_components_star(spark: SparkSession, sf: str) -> DataFrame:
    """Same component fixture, alternating large-star/small-star
    algorithm (O(log n) rounds regardless of diameter — the adversarial-
    depth scale path). Shares kg_components' oracle."""
    nodes, edges_df = _nation_chain_graph(spark, sf)
    return connected_components(nodes, edges_df, algorithm="star")


def _kg_entity_table(spark: SparkSession, sf: str) -> DataFrame:
    tri = extract_triples(transcripts_from_events(spark, sf))
    # explode, not union-of-projections: a union's branches each
    # re-evaluate the pandas-UDF extraction subtree; explode reads it
    # once (same distinct surfaces either way). persist(): downstream
    # the tiny entity table feeds blocking (2 subtrees), scoring (2
    # broadcast sides) and canonicalization (nodes + final join) — up
    # to 6 re-runs of the extraction UDF without it. Spark's
    # CacheManager dedupes by canonicalized plan, so kg_same_as and
    # kg_entities share ONE materialization per session; the pipeline
    # proper gets the same effect from its stage writes
    # (btd/pipeline.py), and bench.py's cleanup() unpersists between
    # timed queries.
    return (
        tri.select(F.explode(F.array("subj", "obj")).alias("surface"))
        .distinct()
        .withColumn("entity_id", F.col("surface"))
        .persist()
    )


def _q_kg_same_as(spark: SparkSession, sf: str) -> DataFrame:
    """Entity-linking stage end-to-end: LSH blocking self-join +
    pandas-UDF scoring. On the derived corpus the surviving edges are
    exactly the 'crew <type>' ↔ '<type>' alias pairs (score 0.9 from
    the token-containment rule) — SQL-predictable, hence oracled."""
    from btd.link.blocking import candidate_pairs
    from btd.link.scoring import score_candidates

    ents = _kg_entity_table(spark, sf)
    # block purging ON (the 100 TB configuration): no-op at the gate
    # corpus (max block 11 ≪ 128, oracle exact); at the 10× probe it
    # cuts the hot-band pair explosion (57× pairs at 10× entities)
    return score_candidates(
        candidate_pairs(ents, max_block_size=128), ents, 0.6
    )


def _q_kg_entities(spark: SparkSession, sf: str) -> DataFrame:
    """Full linking + canonicalization: connected components over the
    same-as edges, canonical = min(entity_id) per component."""
    from btd.link.blocking import candidate_pairs
    from btd.link.canonical import canonicalize_entities
    from btd.link.scoring import score_candidates

    ents = _kg_entity_table(spark, sf)
    same = score_candidates(
        candidate_pairs(ents, max_block_size=128), ents, 0.6
    )
    return canonicalize_entities(ents, same)


def _q_kg_outdegree_hist(spark: SparkSession, sf: str) -> DataFrame:
    """Reference analysis reproduced over the north-rule KG output
    (north_star: 'reproduces the original repo's analyses as Spark SQL
    jobs' on the constructed graph)."""
    tri = extract_triples(transcripts_from_events(spark, sf)).select(
        F.col("subj").alias("subject"),
        F.col("pred").alias("predicate"),
        F.col("obj").alias("object"),
    )
    return A.outdegree_histogram(tri)


def _q_kg_khop(spark: SparkSession, sf: str) -> DataFrame:
    """3-hop neighborhood of the blank-node customers over the
    star-schema graph: level-synchronous BFS (btd.graph.khop) — each
    level joins only the FRONTIER against the edge table and anti-joins
    out already-reached pairs, so per-level work is bounded by the
    distinct pair set (the plan that survives 100 TB). The DuckDB twin
    enumerates length-≤3 paths recursively and takes MIN(hops): exact
    but combinatorial in fan-out, affordable only at gate scale."""
    from btd.graph import khop

    e = edges(spark, sf).select(
        F.col("subject").alias("src"), F.col("object").alias("dst")
    )
    roots = e.where(F.col("src").startswith("_:c")).select("src")
    return khop(e, k=3, roots=roots)


def _q_kg_bgp(spark: SparkSession, sf: str) -> DataFrame:
    """SPARQL-style basic-graph-pattern query over the extracted KG —
    the conjunctive workload the reference's billion-triples profiling
    exists to serve: users anchored on the 2-bound pattern
    (?u uses click) — broadcast, shuffle-free anchor join — starred
    with every (?tool, ?crew) they used / met. Greedy selectivity
    planner (btd/bgp.py): most-bound pattern first, then shared-
    variable connectivity; 2 pattern-sized exchanges, never the corpus.
    The extraction is persisted so the three pattern slices share ONE
    UDF pass — the stand-in for querying the materialized triple table
    (production BGP never re-runs the extractor per pattern)."""
    from btd.bgp import bgp_match

    tri = extract_triples(transcripts_from_events(spark, sf)).persist()
    return bgp_match(
        tri,
        [
            ("?u", "uses", "click"),
            ("?u", "uses", "?tool"),
            ("?u", "met_with", "?crew"),
        ],
    )


def _q_kg_bgp_optional(spark: SparkSession, sf: str) -> DataFrame:
    """BGP with SPARQL OPTIONAL semantics: every met_with assertion
    keeps its required bindings, LEFT-joined with the user's tools and
    with a (?crew located_in ?loc) pattern that can never bind on this
    corpus (crew surfaces are not subjects) — the all-NULL column is
    the point: unmatched OPTIONAL must preserve rows, not drop them.
    Extraction persisted — one UDF pass shared by all three slices."""
    from btd.bgp import bgp_match

    tri = extract_triples(transcripts_from_events(spark, sf)).persist()
    return bgp_match(
        tri,
        [("?u", "met_with", "?crew")],
        optional=[
            ("?u", "uses", "?tool"),
            ("?crew", "located_in", "?loc"),
        ],
    )


def _q_ref_bgp_chain(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus-scale chain BGP directly over the reference's n-quad
    table (column mapping, no re-shape): customer --ordered--> order
    --contains--> part. ONE equi-join keyed on the order node — both
    pattern slices hash on the same key — plus the distinct exchange;
    the shape every path query over a 10^12-triple store reduces to."""
    from btd.bgp import bgp_match

    return bgp_match(
        edges(spark, sf),
        [
            ("?c", "<ordered>", "?o"),
            ("?o", "<contains>", "?p"),
        ],
        columns=("subject", "predicate", "object"),
    )


def _q_ref_bgp_minus(spark: SparkSession, sf: str) -> DataFrame:
    """SPARQL MINUS as a distributed anti-join over the n-quads:
    (customer, order) pairs whose order contains NO part — the minus
    pattern's ?x is existential, never shuffled wide. Catches the
    empty-order rows both engines must agree on."""
    from btd.bgp import bgp_match

    return bgp_match(
        edges(spark, sf),
        [("?c", "<ordered>", "?o")],
        minus=[("?o", "<contains>", "?x")],
        columns=("subject", "predicate", "object"),
    )


def _q_ref_bgp_path(spark: SparkSession, sf: str) -> DataFrame:
    """SPARQL property path (<p>+, depth-bounded) over the n-quads
    with every edge relabeled <linked>: the full 2-hop reachability
    closure customer→order→part plus the 1-hop pairs. Compiles to
    khop's frontier+anti-join BFS (per-level work bounded by the
    distinct pair set); a production caller binds the subject so the
    BFS seeds from roots instead of the whole graph — both call
    shapes are pytest-pinned in tests/test_bgp.py."""
    from btd.bgp import bgp_match

    nq = edges(spark, sf).select(
        "subject", F.lit("<linked>").alias("predicate"), "object"
    )
    return bgp_match(
        nq,
        [("?s", "<linked>+", "?t")],
        columns=("subject", "predicate", "object"),
        path_max_hops=2,
    )


def _q_ref_construct(spark: SparkSession, sf: str) -> DataFrame:
    """SPARQL CONSTRUCT over the n-quads: the chain BGP's solutions
    instantiated as NEW <bought> triples — the enrichment primitive
    that turns query results back into graph. One chain join + one
    narrow template select + the distinct exchange."""
    from btd.infer import construct

    return construct(
        edges(spark, sf),
        [("?c", "<ordered>", "?o"), ("?o", "<contains>", "?p")],
        [("?c", "<bought>", "?p")],
        columns=("subject", "predicate", "object"),
    )


def _q_kg_infer(spark: SparkSession, sf: str) -> DataFrame:
    """Forward-chaining entailment to fixpoint over the extracted KG
    (btd/infer.py): two predicate-mapping rules plus an inverse rule
    that only fires on round-1 derivations — the fixpoint genuinely
    needs a second round, and the third proves convergence. Returns
    the saturated distinct graph; per-round cost is the rule-body BGPs
    over the growing graph, lineage cut per round via CheckpointLoop."""
    from btd.infer import infer

    tri = extract_triples(transcripts_from_events(spark, sf))
    rules = [
        ([("?u", "uses", "?t")], [("?u", "interacts_with", "?t")]),
        ([("?u", "met_with", "?c")], [("?u", "interacts_with", "?c")]),
        ([("?u", "interacts_with", "?x")], [("?x", "touched_by", "?u")]),
    ]
    return infer(tri, rules)


def _q_ref_bgp_graph(spark: SparkSession, sf: str) -> DataFrame:
    """SPARQL GRAPH scoping over the n-quads' context position: the
    default-graph ('') ordered edges chained into containment with the
    supplier graph bound as a variable — the quad form of the chain
    query, exercising a 4th pattern position end-to-end. broadcast is
    raised to 3 bound terms here ON PURPOSE: '' (no-context) is a
    LOW-selectivity constant — it matches the entire orders side — so
    the 2-bound heuristic would broadcast a corpus-sized slice; the
    bound-term count is a proxy for selectivity, not a guarantee, and
    this query documents the knob for the exception."""
    from btd.bgp import bgp_match

    return bgp_match(
        edges(spark, sf),
        [
            ("?c", "<ordered>", "?o", ""),
            ("?o", "<contains>", "?p", "?sup"),
        ],
        columns=("subject", "predicate", "object", "context"),
        broadcast_bound=3,
    )


# --------------------------------------------------------------------------
# the gate table: oracle SQL shared by several rows, then the rows
# --------------------------------------------------------------------------

_EDGES_CTE = f"WITH edges AS ({EDGES_SQL})"
_TX_CTE = f"WITH tx AS ({TRANSCRIPTS_SQL})"
#: the extraction rule's columns over the tx CTE (kg_extract_triples)
_TRIPLE_COLS = """split_part(text, ' ', 1) AS subj,
                   CASE WHEN text LIKE '% uses %' THEN 'uses'
                        ELSE 'met_with' END AS pred,
                   CASE WHEN text LIKE '% uses %'
                        THEN substr(text, strpos(text, ' uses ') + 6,
                                    length(text) - strpos(text, ' uses ') - 6)
                        ELSE substr(text, strpos(text, ' met with ') + 10,
                                    length(text) - strpos(text, ' met with ') - 10)
                   END AS obj,
                   conv_id, turn_idx"""
_EXTRACT_TRIPLES_SQL = f"""{_TX_CTE}
            SELECT {_TRIPLE_COLS}
            FROM tx"""
# extracted-triples CTE, reused by the schema-mining / conflict-resolution
# oracles
_TRIPLES_CTE = f"""{_TX_CTE},
            triples AS (
            SELECT {_TRIPLE_COLS}
            FROM tx)"""
_PERCENTAGES_SQL = f"""{_EDGES_CTE}
            SELECT CAST(SUM(CASE WHEN substr(subject, 1, 1) = '_' THEN 1 ELSE 0 END) AS BIGINT) AS blank_subject,
                   CAST(SUM(CASE WHEN substr(object, 1, 1) = '_' THEN 1 ELSE 0 END) AS BIGINT) AS blank_object,
                   CAST(SUM(CASE WHEN context = '' THEN 1 ELSE 0 END) AS BIGINT) AS no_context,
                   CAST(COUNT(*) AS BIGINT) AS total
            FROM edges"""
_DISTINCT_CONTEXTS_SQL = f"""{_EDGES_CTE}
            SELECT subject, predicate, object,
                   CAST(COUNT(DISTINCT context) AS BIGINT) AS n_contexts
            FROM edges GROUP BY subject, predicate, object"""
_OUTDEGREE_HIST_SQL = f"""{_EDGES_CTE},
            deg AS (SELECT subject, CAST(COUNT(*) AS BIGINT) AS degree
                    FROM edges GROUP BY subject)
            SELECT degree, CAST(COUNT(*) AS BIGINT) AS n_nodes
            FROM deg GROUP BY degree"""
_COMPONENTS_SQL = """
            SELECT 'n' || CAST(n_nationkey AS VARCHAR) AS entity_id,
                   MIN('n' || CAST(n_nationkey AS VARCHAR))
                       OVER (PARTITION BY n_regionkey) AS canonical_id
            FROM nation"""


@functools.cache
def gates() -> tuple[tuple[str, QueryFn, str], ...]:
    """One row per gated query: (name, query fn, DuckDB oracle SQL). Row
    order is the driver's grading order, and it grades only the FIRST 50
    rows per round, so the head of the table is a rotation schedule that
    puts queries needing a fresh row first. tests/test_oracle_parity.py
    checks every row. Built on first use: the ANN twins apply the SAME
    auto-sizing rules the Spark queries use to the gate corpus's vector
    count, read from its parquet footer (no inlined layout constant can
    desync)."""
    n = D._gate_corpus_n()
    lsh_topk = D._lsh_topk_sql(bits=auto_lsh_bits(n))
    brute_topk = D._brute_topk_sql(3)
    return (
        # slots 1-2: the two r05 reds (the ev_profile pair)
        # numeric columns profile NUMERICALLY (typed min/max, then an
        # engine-neutral rendering: ints plain cast, doubles fixed
        # %.6f after ROUND(,6)+0.0) — lexicographic min/max of
        # stringified numbers was both wrong and engine-unstable
        # (Spark 1.0E-4 vs DuckDB 0.0001 — the r04 hash miss)
        ("ev_profile", _q_ev_profile, """
            SELECT 'event_id' AS "column",
                   CAST(COUNT(*) AS BIGINT) AS n_rows,
                   CAST(SUM(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_nulls,
                   CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_distinct,
                   CAST(MIN(event_id) AS VARCHAR) AS min_value,
                   CAST(MAX(event_id) AS VARCHAR) AS max_value
            FROM events
            UNION ALL
            SELECT 'user_id', COUNT(*),
                   CAST(SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END)
                        AS BIGINT),
                   COUNT(DISTINCT user_id),
                   CAST(MIN(user_id) AS VARCHAR),
                   CAST(MAX(user_id) AS VARCHAR)
            FROM events
            UNION ALL
            SELECT 'event_type', COUNT(*),
                   CAST(SUM(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END)
                        AS BIGINT),
                   COUNT(DISTINCT event_type),
                   MIN(event_type), MAX(event_type)
            FROM events
            UNION ALL
            SELECT 'value', COUNT(*),
                   CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END)
                        AS BIGINT),
                   COUNT(DISTINCT value),
                   printf('%.6f', ROUND(MIN(value), 6) + 0.0),
                   printf('%.6f', ROUND(MAX(value), 6) + 0.0)
            FROM events
            UNION ALL
            SELECT 'props', COUNT(*),
                   CAST(SUM(CASE WHEN props IS NULL THEN 1 ELSE 0 END)
                        AS BIGINT),
                   COUNT(DISTINCT props),
                   MIN(props), MAX(props)
            FROM events"""),
        # exact COUNT(DISTINCT) oracle for the HLL++ path: on the gate
        # corpus these columns' cardinalities (user_id 150, event_type
        # 5) sit in HLL++'s deterministic-exact linear-counting range
        # at rsd=0.005 — same trick as ref_distinct_contexts_hll, so
        # the hash gate is a true pass/fail, not a tolerance (props is
        # excluded: 100 distinct estimates as 99 at this precision)
        ("ev_profile_approx", _q_ev_profile_approx, """
            SELECT 'user_id' AS "column",
                   CAST(COUNT(*) AS BIGINT) AS n_rows,
                   CAST(SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_nulls,
                   CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_distinct,
                   CAST(MIN(user_id) AS VARCHAR) AS min_value,
                   CAST(MAX(user_id) AS VARCHAR) AS max_value
            FROM events
            UNION ALL
            SELECT 'event_type', COUNT(*),
                   CAST(SUM(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END)
                        AS BIGINT),
                   COUNT(DISTINCT event_type),
                   MIN(event_type), MAX(event_type)
            FROM events"""),

        # 3-37: the stale tail, last graded r03/r04: the training-data ops
        # (btd/dataops/contract.py; the three near-dup rows run the
        # btd.lsh.key_pairs kernel) and the ev_* batch suite
        ("doc_curation", D._q_curation, D.CURATION_SQL),
        ("doc_sample", D._q_doc_sample, D.DOC_SAMPLE_SQL),
        ("doc_exact_dedup", D._q_exact_dedup, D.EXACT_DEDUP_SQL),
        ("doc_ngram_jaccard", D._q_ngram_jaccard, D.NGRAM_JACCARD_SQL),
        ("doc_minhash_near_dup", D._q_minhash_near_dup, D.MINHASH_NEAR_DUP_SQL),
        ("doc_simhash_near_dup", D._q_simhash_near_dup, D._simhash_sql()),
        ("doc_dedup_groups", D._q_dedup_groups, D.DEDUP_GROUPS_SQL),
        ("doc_token_stats", D._q_token_stats, D.TOKEN_STATS_SQL),
        ("doc_quality_scores", D._q_quality, D.QUALITY_SQL),
        ("doc_language_id", D._q_lang_id, D.LANG_ID_SQL),
        ("doc_fingerprints", D._q_fingerprints, D.FINGERPRINTS_SQL),
        ("doc_repetition", D._q_repetition, D.REPETITION_SQL),
        ("doc_tfidf", D._q_doc_tfidf, D.TFIDF_SQL),
        ("doc_lm_score", D._q_doc_lm, D.LM_SCORE_SQL),
        ("doc_media_features", D._q_media_features, D.MEDIA_FEATURES_SQL),
        ("doc_frame_sample", D._q_frame_sample, D.FRAME_SAMPLE_SQL),
        ("doc_resize", D._q_resize, D.RESIZE_SQL),
        ("doc_decontaminate", D._q_decontaminate, D._decontaminate_sql()),
        ("doc_stratified_sample", D._q_stratified_sample, D.STRATIFIED_SAMPLE_SQL),
        ("doc_mix", D._q_mix, D._mix_sql()),
        ("doc_chunk", D._q_chunk, D.CHUNK_SQL),
        ("doc_scrub_pii", D._q_scrub, D.SCRUB_SQL),
        ("ev_anomaly", _q_ev_anomaly, """
            SELECT event_id, user_id, value, z FROM (
              SELECT event_id, user_id, value,
                     ROUND((value - AVG(value) OVER w)
                           / STDDEV_SAMP(value) OVER w, 6) AS z
              FROM events WINDOW w AS (PARTITION BY user_id))
            WHERE ABS(z) > 2"""),
        ("ev_funnel", _q_ev_funnel, """
            WITH a0 AS (SELECT user_id, MIN(ts) AS t0 FROM events
                        WHERE event_type = 'view' GROUP BY user_id),
            a1 AS (SELECT e.user_id, MIN(e.ts) AS t1
                   FROM events e JOIN a0 USING (user_id)
                   WHERE e.event_type = 'click' AND e.ts >= a0.t0
                   GROUP BY e.user_id),
            a2 AS (SELECT e.user_id, MIN(e.ts) AS t2
                   FROM events e JOIN a1 USING (user_id)
                   WHERE e.event_type = 'purchase' AND e.ts >= a1.t1
                   GROUP BY e.user_id)
            SELECT 'view' AS step, 0 AS step_idx,
                   (SELECT CAST(COUNT(*) AS BIGINT) FROM a0) AS n_users
            UNION ALL
            SELECT 'click', 1, (SELECT CAST(COUNT(*) AS BIGINT) FROM a1)
            UNION ALL
            SELECT 'purchase', 2,
                   (SELECT CAST(COUNT(*) AS BIGINT) FROM a2)"""),
        ("ev_asof_join", _q_ev_asof_join, """
            SELECT l.event_id, l.ts, l.user_id, l.value,
                   r.value AS value_asof, r.ts AS ts_asof
            FROM (SELECT * FROM events WHERE event_type = 'error') l
            ASOF LEFT JOIN
                 (SELECT * FROM events WHERE event_type = 'click') r
              ON l.user_id = r.user_id AND r.ts <= l.ts"""),
        ("ev_range_count", _q_ev_range_count, """
            SELECT l.event_id, l.ts, l.user_id, l.value,
                   CAST(COUNT(r.user_id) AS BIGINT) AS n_in_range
            FROM (SELECT * FROM events WHERE event_type = 'error') l
            LEFT JOIN
                 (SELECT * FROM events WHERE event_type = 'click') r
              ON l.user_id = r.user_id AND r.ts <= l.ts
                 AND r.ts >= l.ts - INTERVAL 86400 SECOND
            GROUP BY l.event_id, l.ts, l.user_id, l.value"""),
        ("ev_moving_avg", _q_ev_moving_avg, """
            SELECT user_id, event_id, ts,
                   ROUND(AVG(value) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 6)
                       AS mavg
            FROM events"""),
        ("ev_hopping", _q_ev_hopping, """
            WITH ev AS (SELECT value,
                               -- floor, not CAST: DuckDB's cast ROUNDS,
                               -- pushing a .5+ fractional-second event
                               -- across a slide boundary Spark keeps
                               CAST(floor(epoch(ts)) AS BIGINT) AS e
                        FROM events),
            x AS (SELECT value,
                         unnest([make_timestamp((e - e % 300 - 300)
                                                * 1000000),
                                 make_timestamp((e - e % 300)
                                                * 1000000)]) AS ws
                  FROM ev)
            SELECT ws AS window_start,
                   CAST(COUNT(*) AS BIGINT) AS n_events,
                   ROUND(SUM(value), 4) AS total
            FROM x GROUP BY ws"""),
        ("ev_sessionize", _q_ev_sessionize, """
            WITH g AS (
              SELECT user_id, ts,
                     CASE WHEN lag(ts) OVER w IS NULL
                               OR floor(epoch(ts)) - floor(epoch(lag(ts) OVER w))
                                  > 1800
                          THEN 1 ELSE 0 END AS ns
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
            s AS (SELECT user_id, ts,
                         SUM(ns) OVER (PARTITION BY user_id ORDER BY ts
                                       ROWS UNBOUNDED PRECEDING) AS session_id
                  FROM g)
            SELECT user_id,
                   CAST(session_id AS BIGINT) AS session_id,
                   CAST(COUNT(*) AS BIGINT) AS n_events,
                   MIN(ts) AS session_start,
                   MAX(ts) AS session_end
            FROM s GROUP BY user_id, session_id"""),
        ("ev_rollup", _q_ev_rollup, """
            SELECT event_type,
                   date_trunc('hour', ts) AS hour,
                   CAST(GROUPING(event_type) AS INTEGER) AS g_event_type,
                   CAST(GROUPING(date_trunc('hour', ts)) AS INTEGER)
                       AS g_hour,
                   CAST(COUNT(*) AS BIGINT) AS n_events,
                   ROUND(SUM(value), 4) AS sum_value
            FROM events
            GROUP BY ROLLUP (event_type, date_trunc('hour', ts))"""),
        ("ev_quantiles", _q_ev_quantiles, """
            SELECT event_type,
                   ROUND(quantile_cont(value, 0.25), 6) AS q25,
                   ROUND(quantile_cont(value, 0.5), 6) AS q50,
                   ROUND(quantile_cont(value, 0.75), 6) AS q75,
                   ROUND(quantile_cont(value, 0.99), 6) AS q99
            FROM events GROUP BY event_type"""),
        ("ev_quantiles_approx", _q_ev_quantiles_approx, """
            SELECT event_type,
                   ROUND(quantile_disc(value, 0.25), 6) AS q25,
                   ROUND(quantile_disc(value, 0.5), 6) AS q50,
                   ROUND(quantile_disc(value, 0.75), 6) AS q75,
                   ROUND(quantile_disc(value, 0.99), 6) AS q99
            FROM events GROUP BY event_type"""),
        ("ev_pivot", _q_ev_pivot, """
            SELECT user_id,
                   CAST(COUNT(*) FILTER (event_type = 'click') AS BIGINT)
                       AS click,
                   CAST(COUNT(*) FILTER (event_type = 'error') AS BIGINT)
                       AS error,
                   CAST(COUNT(*) FILTER (event_type = 'purchase') AS BIGINT)
                       AS purchase,
                   CAST(COUNT(*) FILTER (event_type = 'signup') AS BIGINT)
                       AS signup,
                   CAST(COUNT(*) FILTER (event_type = 'view') AS BIGINT)
                       AS view
            FROM events GROUP BY user_id"""),
        ("ev_json_extract", _q_ev_json_extract, """
            SELECT event_type,
                   CAST(SUM(TRY_CAST(json_extract_string(props, '$.k')
                                     AS BIGINT)) AS BIGINT) AS sum_k,
                   CAST(COUNT(TRY_CAST(json_extract_string(props, '$.k')
                                       AS BIGINT)) AS BIGINT) AS n_with_k,
                   CAST(MAX(TRY_CAST(json_extract_string(props, '$.k')
                                     AS BIGINT)) AS BIGINT) AS max_k
            FROM events GROUP BY event_type"""),
        ("ev_retention", _q_ev_retention, """
            WITH first AS (SELECT user_id,
                                  CAST(date_trunc('week', MIN(ts)) AS DATE)
                                      AS cohort_week
                           FROM events GROUP BY user_id),
            act AS (SELECT user_id,
                           CAST(date_trunc('week', ts) AS DATE) AS week
                    FROM events)
            SELECT f.cohort_week,
                   CAST(date_diff('day', f.cohort_week, a.week) // 7
                        AS BIGINT) AS offset_weeks,
                   CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS n_users
            FROM act a JOIN first f USING (user_id)
            GROUP BY f.cohort_week, offset_weeks"""),

        # 38-50: the reference analyses and extras, last graded r03
        # (ref_parse_roundtrip r04), then the first r04 KG-linking row
        ("ref_indegree_histogram", _q_indegree_hist, f"""{_EDGES_CTE},
            deg AS (SELECT object, CAST(COUNT(*) AS BIGINT) AS degree
                    FROM edges GROUP BY object)
            SELECT degree, CAST(COUNT(*) AS BIGINT) AS n_nodes
            FROM deg GROUP BY degree"""),
        ("ref_topk_outdegree", _q_topk_outdegree, f"""{_EDGES_CTE}
            SELECT subject AS node, CAST(COUNT(*) AS BIGINT) AS degree
            FROM edges GROUP BY subject
            ORDER BY degree DESC, node DESC LIMIT 10"""),
        ("ref_percentages", _q_percentages, _PERCENTAGES_SQL),
        ("ref_distinct_contexts", _q_distinct_contexts, _DISTINCT_CONTEXTS_SQL),
        # HLL++ is deterministic-exact at the gate's tiny per-triple
        # cardinalities, so the exact-count SQL is its oracle too
        ("ref_distinct_contexts_hll", _q_distinct_contexts_hll, _DISTINCT_CONTEXTS_SQL),
        ("ref_top_contexts", _q_top_contexts, f"""{_DISTINCT_CONTEXTS_SQL}
            ORDER BY n_contexts DESC, subject DESC, predicate DESC, object DESC
            LIMIT 10"""),
        ("ref_dedup", _q_dedup, f"""{_EDGES_CTE}
            SELECT DISTINCT subject, predicate, object FROM edges"""),
        ("ref_percentages_compat", _q_percentages_compat, f"""{_EDGES_CTE}
            SELECT CAST(SUM(CASE WHEN substr(subject, 1, 1) = '_' THEN 1 ELSE 0 END) AS BIGINT) AS blank_subject,
                   CAST(SUM(CASE WHEN substr(subject, 1, 1) = '_' THEN 1 ELSE 0 END) AS BIGINT) AS blank_object,
                   CAST(SUM(CASE WHEN context = '' THEN 1 ELSE 0 END) AS BIGINT) AS no_context,
                   CAST(COUNT(*) AS BIGINT) AS total
            FROM edges"""),
        ("ref_parse_metrics", _q_parse_metrics, f"""{_EDGES_CTE},
            lines AS (
              SELECT CASE WHEN context = ''
                          THEN subject || ' ' || predicate || ' '
                               || object || ' .'
                          ELSE subject || ' ' || predicate || ' '
                               || object || ' ' || context || ' .'
                     END AS value
              FROM edges
              UNION ALL
              SELECT 'malformed line ' || CAST(r AS VARCHAR)
              FROM range(50) t(r)
              UNION ALL
              SELECT '<s> <p> "v"^^<t> .'
              UNION ALL
              SELECT 'garbage <s> <p> <o> . trailing')
            SELECT CAST(SUM(CASE WHEN regexp_full_match(value, '(<[^>]+>|[a-zA-Z0-9_:]+) (<[^ ]+>) (<[^>]+>|".*"|[a-zA-Z0-9_:]+|"[^>]*>) (?:(<[^>]+>) )?\\.')
                                 THEN 1 ELSE 0 END) AS BIGINT) AS parsed,
                   CAST(SUM(CASE WHEN regexp_full_match(value, '(<[^>]+>|[a-zA-Z0-9_:]+) (<[^ ]+>) (<[^>]+>|".*"|[a-zA-Z0-9_:]+|"[^>]*>) (?:(<[^>]+>) )?\\.')
                                 THEN 0 ELSE 1 END) AS BIGINT) AS dropped
            FROM lines"""),
        # valid quads survive serialize→regex-parse unchanged, so the
        # oracle is the plain percentages over the un-roundtripped edges
        ("ref_parse_roundtrip", _q_parse_roundtrip, _PERCENTAGES_SQL),
        # valid quads survive serialize→sink→scan→regex-parse unchanged,
        # so the sink roundtrips share the plain-percentages oracle
        ("ref_text_sink_roundtrip", _q_text_sink_roundtrip, _PERCENTAGES_SQL),
        ("ref_gzip_sink_roundtrip", _q_gzip_sink_roundtrip, _PERCENTAGES_SQL),
        ("kg_entities", _q_kg_entities, """
            WITH surf AS (
                SELECT DISTINCT 'u' || CAST(user_id AS VARCHAR) AS s FROM events
                UNION
                SELECT DISTINCT event_type AS s FROM events WHERE event_id % 2 = 0
                UNION
                SELECT DISTINCT 'crew ' || event_type AS s FROM events
                WHERE event_id % 2 = 1)
            SELECT s AS entity_id,
                   CASE WHEN s LIKE 'crew %'
                             AND substr(s, 6) IN (SELECT DISTINCT event_type
                                                  FROM events WHERE event_id % 2 = 0)
                        THEN LEAST(s, substr(s, 6))
                        WHEN s IN (SELECT DISTINCT event_type FROM events
                                   WHERE event_id % 2 = 1)
                             AND s IN (SELECT DISTINCT event_type FROM events
                                       WHERE event_id % 2 = 0)
                        THEN LEAST(s, 'crew ' || s)
                        ELSE s END AS canonical_id,
                   s AS surface
            FROM surf"""),

        # past the window: the rest of the r04 greens (KG linking and
        # schema mining), then the r05 greens in r05's grading order
        ("kg_same_as", _q_kg_same_as, """
            WITH t_even AS (SELECT DISTINCT event_type FROM events
                            WHERE event_id % 2 = 0),
                 t_odd AS (SELECT DISTINCT event_type FROM events
                           WHERE event_id % 2 = 1)
            SELECT LEAST(e.event_type, 'crew ' || e.event_type) AS id_a,
                   GREATEST(e.event_type, 'crew ' || e.event_type) AS id_b,
                   CAST(0.9 AS DOUBLE) AS score
            FROM t_even e JOIN t_odd o ON e.event_type = o.event_type"""),
        ("kg_components", _q_kg_components, _COMPONENTS_SQL),
        ("kg_components_star", _q_kg_components_star, _COMPONENTS_SQL),
        ("kg_ontology_stats", _q_kg_ontology_stats, f"""{_TRIPLES_CTE}
            SELECT pred,
                   COUNT(*) AS n_triples,
                   COUNT(DISTINCT subj) AS n_subjects,
                   COUNT(DISTINCT obj) AS n_objects,
                   ROUND(COUNT(*) * 1.0 / COUNT(DISTINCT subj), 6)
                       AS avg_fanout
            FROM triples GROUP BY pred ORDER BY pred"""),
        ("kg_type_infer", _q_kg_type_infer, f"""{_TRIPLES_CTE},
            counted AS (SELECT subj, pred, COUNT(*) AS n_evidence
                        FROM triples GROUP BY subj, pred),
            ranked AS (SELECT subj, pred, n_evidence,
                              ROW_NUMBER() OVER (PARTITION BY subj
                                  ORDER BY n_evidence DESC, pred ASC) AS rk
                       FROM counted)
            SELECT subj AS entity, pred AS inferred_type, n_evidence
            FROM ranked WHERE rk = 1"""),
        ("kg_conflict_resolve", _q_kg_conflict_resolve, f"""{_TRIPLES_CTE},
            ranked AS (SELECT subj, pred, obj,
                              ROW_NUMBER() OVER (PARTITION BY subj, pred
                                  ORDER BY turn_idx DESC, conv_id DESC,
                                           obj ASC) AS rk,
                              CAST(COUNT(DISTINCT obj) OVER (
                                  PARTITION BY subj, pred) AS INTEGER)
                                  AS n_conflicting
                       FROM triples)
            SELECT subj, pred, obj AS obj_resolved, n_conflicting
            FROM ranked WHERE rk = 1"""),
        ("kg_two_hop_reach", _q_kg_two_hop_reach, f"""{_EDGES_CTE}
            SELECT l.subject AS src,
                   COUNT(DISTINCT r.object) AS n_two_hop
            FROM edges l JOIN edges r ON l.object = r.subject
            GROUP BY l.subject"""),
        ("doc_heavy_hitters", _q_doc_heavy_hitters, """
            WITH tok AS (SELECT DISTINCT doc_id, term FROM (
                     SELECT doc_id,
                            unnest(string_split(text, ' ')) AS term
                     FROM documents)),
            dfreq AS (SELECT term, COUNT(*) AS df FROM tok GROUP BY term),
            ranked AS (SELECT term, df,
                              ROW_NUMBER() OVER (ORDER BY df DESC,
                                                 term ASC) AS rk
                       FROM dfreq)
            SELECT term, df FROM ranked WHERE rk <= 20"""),
        ("doc_postings", _q_doc_postings, """
            WITH tok AS (SELECT doc_id,
                                unnest(string_split(text, ' ')) AS term,
                                generate_subscripts(
                                    string_split(text, ' '), 1) - 1 AS pos
                         FROM documents),
            pl AS (SELECT term, doc_id,
                          CAST(COUNT(*) AS BIGINT) AS tf,
                          string_agg(CAST(pos AS VARCHAR), ','
                                     ORDER BY pos) AS positions
                   FROM tok GROUP BY term, doc_id)
            SELECT term, doc_id, tf, positions FROM
                (SELECT *, COUNT(*) OVER (PARTITION BY term) AS df FROM pl)
            WHERE df >= 5"""),
        ("emb_pq_topk", D._q_emb_pq_topk,
         D._pq_topk_sql(m=8, n_codes=64, n_clusters=auto_nlist(n), nprobe=4)),
        ("emb_recall_at_k", D._q_emb_recall, D._recall_sql(lsh_topk, brute_topk, 3)),
        ("doc_dsir", _q_doc_dsir, """
            WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS tk
                       FROM documents),
            bg AS (SELECT doc_id, source,
                          unnest(tk[1:len(tk) - 1]) AS w1,
                          unnest(tk[2:len(tk)]) AS w2
                   FROM t WHERE len(tk) >= 2),
            model AS (SELECT w1, w2, COUNT(*) AS c12
                      FROM bg GROUP BY w1, w2),
            starts AS (SELECT w1, SUM(c12) AS c1 FROM model GROUP BY w1),
            vocab AS (SELECT COUNT(DISTINCT w) AS v FROM
                          (SELECT unnest(string_split(text, ' ')) AS w
                           FROM documents)),
            tmodel AS (SELECT w1, w2, COUNT(*) AS t12
                       FROM bg WHERE source = 'src0' GROUP BY w1, w2),
            tstarts AS (SELECT w1, SUM(t12) AS t1 FROM tmodel GROUP BY w1),
            tvocab AS (SELECT COUNT(DISTINCT w) AS tv FROM
                          (SELECT unnest(string_split(text, ' ')) AS w
                           FROM documents WHERE source = 'src0')),
            sc AS (SELECT g.doc_id,
                          ln((COALESCE(tm.t12, 0) + 1)
                             / (COALESCE(ts.t1, 0) + tv.tv))
                          - ln((m.c12 + 1) / (s.c1 + v.v)) AS lr
                   FROM bg g
                   JOIN model m USING (w1, w2)
                   JOIN starts s USING (w1)
                   LEFT JOIN tmodel tm USING (w1, w2)
                   LEFT JOIN tstarts ts USING (w1)
                   CROSS JOIN vocab v
                   CROSS JOIN tvocab tv)
            SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
                   ROUND(AVG(lr), 6) AS dsir_weight
            FROM sc GROUP BY doc_id"""),
        ("doc_winnow_fingerprints", _q_doc_winnow, """
            WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk
                       FROM documents),
            pos AS (SELECT doc_id, tk,
                           unnest(range(1, len(tk) - 1)) AS i
                    FROM t),
            grams AS (SELECT doc_id, i,
                             md5(array_to_string(tk[i:i+2], ' ')) AS h
                      FROM pos),
            wins AS (SELECT doc_id, i,
                            MIN(h) OVER (PARTITION BY doc_id ORDER BY i
                                         ROWS BETWEEN 3 PRECEDING
                                                  AND CURRENT ROW) AS fp
                     FROM grams)
            SELECT DISTINCT doc_id, fp FROM wins WHERE i >= 4"""),
        ("doc_winnow_near_dup", D._q_winnow_near_dup, D.WINNOW_NEAR_DUP_SQL),
        ("kg_temporal_triples", _q_kg_temporal_triples, f"""{_TRIPLES_CTE},
            marked AS (SELECT subj, pred, obj, turn_idx, conv_id,
                              lag(obj) OVER w AS prev_obj
                       FROM triples
                       WINDOW w AS (PARTITION BY subj, pred
                                    ORDER BY turn_idx ASC, conv_id ASC,
                                             obj ASC)),
            changes AS (SELECT subj, pred, obj, turn_idx, conv_id
                        FROM marked
                        WHERE prev_obj IS NULL OR prev_obj <> obj)
            SELECT subj, pred, obj,
                   turn_idx AS valid_from,
                   lead(turn_idx) OVER w2 AS valid_to
            FROM changes
            WINDOW w2 AS (PARTITION BY subj, pred
                          ORDER BY turn_idx ASC, conv_id ASC, obj ASC)"""),
        ("kg_entity_cooccur", _q_kg_entity_cooccur, f"""{_TRIPLES_CTE},
            ents AS (SELECT conv_id, subj AS entity FROM triples
                     UNION ALL
                     SELECT conv_id, obj AS entity FROM triples),
            items AS (SELECT DISTINCT conv_id, entity FROM ents)
            SELECT a.entity AS item_a, b.entity AS item_b,
                   CAST(COUNT(*) AS BIGINT) AS n_baskets
            FROM items a JOIN items b
              ON a.conv_id = b.conv_id AND a.entity < b.entity
            GROUP BY a.entity, b.entity
            HAVING COUNT(*) >= 2"""),
        ("stream_anomaly", _q_stream_anomaly, """
            WITH pr AS (SELECT event_id, user_id, value,
                               COUNT(value) OVER w AS n_prior,
                               AVG(value) OVER w AS m,
                               STDDEV_SAMP(value) OVER w AS s
                        FROM events
                        WINDOW w AS (PARTITION BY user_id
                                     ORDER BY ts, event_id
                                     ROWS BETWEEN UNBOUNDED PRECEDING
                                              AND 1 PRECEDING))
            SELECT event_id, user_id, value,
                   ROUND((value - m) / s, 6) AS z,
                   CAST(n_prior AS BIGINT) AS n_prior
            FROM pr
            WHERE n_prior >= 2 AND s > 0 AND ABS((value - m) / s) > 2"""),
        ("stream_sessionize", _q_stream_sessionize, f"""{_TX_CTE},
            g AS (
              SELECT conv_id, ts,
                     CASE WHEN lag(ts) OVER w IS NULL
                               OR floor(epoch(ts)) - floor(epoch(lag(ts) OVER w))
                                  > 1800
                          THEN 1 ELSE 0 END AS ns
              FROM tx
              WINDOW w AS (PARTITION BY conv_id ORDER BY ts)),
            s AS (SELECT conv_id, ts,
                         SUM(ns) OVER (PARTITION BY conv_id ORDER BY ts
                                       ROWS UNBOUNDED PRECEDING) - 1
                             AS session_idx
                  FROM g)
            SELECT conv_id,
                   CAST(session_idx AS INTEGER) AS session_idx,
                   CAST(COUNT(*) AS BIGINT) AS n_turns,
                   MIN(ts) AS start_ts,
                   MAX(ts) AS end_ts
            FROM s GROUP BY conv_id, session_idx"""),
        ("kg_upsert", _q_kg_upsert, f"""
            WITH ex AS ({EDGES_SQL}),
            upd AS (SELECT '<o' || CAST(l_orderkey AS VARCHAR) || '>'
                               AS subject,
                           '<contains>' AS predicate,
                           CASE WHEN l_partkey % 7 = 0
                                THEN '_:p' || CAST(l_partkey AS VARCHAR)
                                ELSE '<p' || CAST(l_partkey AS VARCHAR)
                                     || '>' END AS object,
                           '<upd>' AS context
                    FROM lineitem WHERE l_orderkey % 5 = 0),
            nw AS (SELECT '<p' || CAST(p_partkey AS VARCHAR) || '>'
                              AS subject,
                          '<exists>' AS predicate,
                          'true' AS object,
                          '' AS context
                   FROM part WHERE p_partkey % 100 = 0),
            tagged AS (SELECT *, 0 AS pri FROM upd
                       UNION ALL SELECT *, 0 FROM nw
                       UNION ALL SELECT *, 1 FROM ex),
            r AS (SELECT *, ROW_NUMBER() OVER (
                      PARTITION BY subject, predicate, object
                      ORDER BY pri, context) AS rk
                  FROM tagged)
            SELECT subject, predicate, object, context
            FROM r WHERE rk = 1"""),
        ("kg_pagerank", D._q_kg_pagerank, D._pagerank_sql()),
        ("kg_fk_check", _q_kg_fk_check, """
            SELECT 'lineitem_orderkey_fk' AS "constraint",
                   CAST((SELECT COUNT(*) FROM lineitem l
                         WHERE l.l_orderkey IS NULL OR NOT EXISTS
                             (SELECT 1 FROM orders o
                              WHERE o.o_orderkey = l.l_orderkey))
                        AS BIGINT) AS n_violations
            UNION ALL
            SELECT 'orders_custkey_fk',
                   CAST((SELECT COUNT(*) FROM orders o
                         WHERE o.o_custkey IS NULL OR NOT EXISTS
                             (SELECT 1 FROM customer c
                              WHERE c.c_custkey = o.o_custkey))
                        AS BIGINT)
            UNION ALL
            SELECT 'lineitem_orderpart_unique',
                   CAST((SELECT COALESCE(SUM(c), 0) FROM
                             (SELECT COUNT(*) AS c FROM lineitem
                              GROUP BY l_orderkey, l_partkey
                              HAVING COUNT(*) > 1))
                        AS BIGINT)"""),
        ("emb_lsh_topk", D._q_emb_lsh_topk, lsh_topk),
        ("emb_ivf_topk", D._q_emb_ivf_topk, D._ivf_topk_sql(n_clusters=auto_nlist(n))),
        ("emb_cosine_near_dup", D._q_emb_near_dup,
         D._lsh_near_dup_sql(bits=auto_lsh_bits(n))),
        ("emb_semantic_dedup", D._q_emb_semdedup,
         D._ivf_semdedup_sql(n_clusters=auto_semdedup_nlist(n))),
        ("emb_cluster_sample", D._q_emb_cluster_sample,
         D._ivf_cluster_sample_sql(n_clusters=auto_nlist(n))),
        ("emb_cosine_near_dup_exact", D._q_emb_near_dup_exact,
         D.EMB_NEAR_DUP_EXACT_SQL),
        ("emb_brute_force_topk", D._q_emb_brute_topk, brute_topk),
        ("stream_extract_triples", _q_stream_extract, _EXTRACT_TRIPLES_SQL),
        ("stream_windowed_counts", _q_stream_windowed_counts, f"""{_TX_CTE}
            SELECT make_timestamp(CAST(floor(epoch(ts) / 600) * 600
                                       AS BIGINT) * 1000000)
                       AS window_start,
                   make_timestamp((CAST(floor(epoch(ts) / 600) * 600
                                        AS BIGINT) + 600) * 1000000)
                       AS window_end,
                   conv_id,
                   CAST(COUNT(*) AS BIGINT) AS n_turns,
                   CAST(COUNT(DISTINCT role) AS BIGINT) AS n_roles
            FROM tx
            GROUP BY 1, 2, 3"""),
        ("stream_hopping", _q_stream_hopping, f"""{_TX_CTE},
            hop AS (SELECT conv_id, role,
                           unnest([CAST(floor(epoch(ts)) AS BIGINT)
                                   - CAST(floor(epoch(ts)) AS BIGINT) % 300
                                   - 300,
                                   CAST(floor(epoch(ts)) AS BIGINT)
                                   - CAST(floor(epoch(ts)) AS BIGINT) % 300])
                               AS ws
                    FROM tx)
            SELECT make_timestamp(ws * 1000000) AS window_start,
                   make_timestamp((ws + 600) * 1000000) AS window_end,
                   conv_id,
                   CAST(COUNT(*) AS BIGINT) AS n_turns,
                   CAST(COUNT(DISTINCT role) AS BIGINT) AS n_roles
            FROM hop GROUP BY 1, 2, 3"""),
        ("stream_dedup", _q_stream_dedup, f"""{_TX_CTE}
            SELECT conv_id,
                   CAST(COUNT(*) AS BIGINT) AS n_turns,
                   CAST(COUNT(DISTINCT turn_idx) AS BIGINT)
                       AS n_distinct_turns
            FROM tx GROUP BY conv_id"""),
        ("stream_enrich", _q_stream_enrich, f"""{_TX_CTE},
            dim AS (SELECT DISTINCT event_type AS tool,
                           CASE WHEN length(event_type) > 5
                                THEN 'long' ELSE 'short' END AS tool_category
                    FROM events)
            SELECT d.tool_category,
                   CAST(COUNT(*) AS BIGINT) AS n_turns,
                   CAST(COUNT(DISTINCT t.tool) AS BIGINT) AS n_tools
            FROM tx t LEFT JOIN dim d USING (tool)
            GROUP BY d.tool_category"""),
        ("stream_join", _q_stream_join, f"""{_TX_CTE}
            SELECT u.conv_id,
                   CAST(COUNT(*) AS BIGINT) AS n_pairs,
                   CAST(COUNT(DISTINCT u.turn_idx) AS BIGINT)
                       AS n_user_turns,
                   CAST(COUNT(DISTINCT a.turn_idx) AS BIGINT)
                       AS n_asst_turns
            FROM tx u
            JOIN tx a ON a.conv_id = u.conv_id
                     AND u.role = 'user' AND a.role = 'assistant'
                     AND a.ts >= u.ts
                     AND a.ts <= u.ts + INTERVAL 1800 SECOND
            GROUP BY u.conv_id"""),
        ("kg_khop", _q_kg_khop, f"""WITH RECURSIVE edges AS ({EDGES_SQL}),
            eg AS (SELECT DISTINCT subject AS s, object AS n FROM edges),
            reach(root, node, hops) AS (
                SELECT eg.s, eg.n, 1 FROM eg
                WHERE starts_with(eg.s, '_:c')
                UNION
                SELECT r.root, eg.n, r.hops + 1
                FROM reach r JOIN eg ON eg.s = r.node
                WHERE r.hops < 3)
            SELECT root, node, CAST(MIN(hops) AS INTEGER) AS hops
            FROM reach
            WHERE root <> node
            GROUP BY root, node"""),
        ("kg_triangles", _q_kg_triangles, """
            WITH items AS (SELECT DISTINCT l_orderkey AS b,
                                           l_partkey AS i
                           FROM lineitem),
            pairs AS (SELECT a.i AS u, c.i AS v
                      FROM items a JOIN items c ON a.b = c.b AND a.i < c.i
                      GROUP BY a.i, c.i HAVING COUNT(*) >= 2),
            tri AS (SELECT e1.u AS u, e1.v AS v, e2.v AS w
                    FROM pairs e1
                    JOIN pairs e2 ON e2.u = e1.u AND e2.v > e1.v
                    JOIN pairs e3 ON e3.u = e1.v AND e3.v = e2.v),
            nodes AS (SELECT u AS node FROM tri
                      UNION ALL SELECT v FROM tri
                      UNION ALL SELECT w FROM tri)
            SELECT node, CAST(COUNT(*) AS BIGINT) AS n_triangles
            FROM nodes GROUP BY node"""),
        ("kg_bgp", _q_kg_bgp, f"""{_TRIPLES_CTE}
            SELECT DISTINCT a.subj AS u, b.obj AS tool, c.obj AS crew
            FROM triples a
            JOIN triples b ON b.subj = a.subj
            JOIN triples c ON c.subj = a.subj
            WHERE a.pred = 'uses' AND a.obj = 'click'
              AND b.pred = 'uses' AND c.pred = 'met_with'"""),
        ("kg_bgp_optional", _q_kg_bgp_optional, f"""{_TRIPLES_CTE}
            SELECT DISTINCT a.subj AS u, a.obj AS crew,
                   b.obj AS tool, c.obj AS loc
            FROM triples a
            LEFT JOIN triples b ON b.subj = a.subj AND b.pred = 'uses'
            LEFT JOIN triples c ON c.subj = a.obj AND c.pred = 'located_in'
            WHERE a.pred = 'met_with'"""),
        ("ref_bgp_chain", _q_ref_bgp_chain, f"""{_EDGES_CTE}
            SELECT DISTINCT a.subject AS c, a.object AS o, b.object AS p
            FROM edges a
            JOIN edges b ON b.subject = a.object
            WHERE a.predicate = '<ordered>'
              AND b.predicate = '<contains>'"""),
        ("ref_bgp_minus", _q_ref_bgp_minus, f"""{_EDGES_CTE}
            SELECT DISTINCT a.subject AS c, a.object AS o
            FROM edges a
            WHERE a.predicate = '<ordered>'
              AND NOT EXISTS (SELECT 1 FROM edges b
                              WHERE b.predicate = '<contains>'
                                AND b.subject = a.object)"""),
        ("ref_bgp_path", _q_ref_bgp_path, f"""WITH RECURSIVE edges AS ({EDGES_SQL}),
            reach AS (
                SELECT subject AS s, object AS t, 1 AS hops FROM edges
                UNION
                SELECT r.s, x.object, r.hops + 1
                FROM reach r JOIN edges x ON x.subject = r.t
                WHERE r.hops < 2
            )
            SELECT DISTINCT s, t FROM reach"""),
        ("ref_construct", _q_ref_construct, f"""{_EDGES_CTE}
            SELECT DISTINCT a.subject AS subject,
                   '<bought>' AS predicate, b.object AS object
            FROM edges a
            JOIN edges b ON b.subject = a.object
            WHERE a.predicate = '<ordered>'
              AND b.predicate = '<contains>'"""),
        ("kg_infer", _q_kg_infer, f"""{_TRIPLES_CTE},
            base AS (SELECT DISTINCT subj, pred, obj FROM triples),
            inter AS (SELECT DISTINCT subj,
                             'interacts_with' AS pred, obj
                      FROM base WHERE pred IN ('uses', 'met_with')),
            touched AS (SELECT DISTINCT obj AS subj,
                               'touched_by' AS pred, subj AS obj
                        FROM inter)
            SELECT subj, pred, obj FROM base
            UNION SELECT subj, pred, obj FROM inter
            UNION SELECT subj, pred, obj FROM touched"""),
        ("ref_bgp_graph", _q_ref_bgp_graph, f"""{_EDGES_CTE}
            SELECT DISTINCT a.subject AS c, a.object AS o,
                   b.object AS p, b.context AS sup
            FROM edges a
            JOIN edges b ON b.subject = a.object
            WHERE a.predicate = '<ordered>' AND a.context = ''
              AND b.predicate = '<contains>'"""),
        ("kg_copurchase", _q_kg_copurchase, """
            WITH items AS (SELECT DISTINCT l_orderkey AS b,
                                           l_partkey AS i
                           FROM lineitem)
            SELECT a.i AS item_a, c.i AS item_b,
                   CAST(COUNT(*) AS BIGINT) AS n_baskets
            FROM items a JOIN items c ON a.b = c.b AND a.i < c.i
            GROUP BY a.i, c.i
            HAVING COUNT(*) >= 2"""),
        ("kg_neighbor_jaccard", _q_kg_neighbor_jaccard, """
            WITH e AS (SELECT DISTINCT l_partkey AS b, l_orderkey AS i
                       FROM lineitem),
            kept AS (SELECT b, i FROM
                         (SELECT b, i, COUNT(*) OVER (PARTITION BY b) AS sz
                          FROM e)
                     WHERE sz <= 40),
            deg AS (SELECT i, COUNT(*) AS d FROM kept GROUP BY i),
            common AS (SELECT a.i AS na, c.i AS nb, COUNT(*) AS n_common
                       FROM kept a JOIN kept c ON a.b = c.b AND a.i < c.i
                       GROUP BY a.i, c.i)
            SELECT na AS node_a, nb AS node_b,
                   CAST(n_common AS BIGINT) AS n_common,
                   ROUND(n_common / (da.d + db.d - n_common), 6) AS jaccard
            FROM common
            JOIN deg da ON da.i = na
            JOIN deg db ON db.i = nb
            WHERE ROUND(n_common / (da.d + db.d - n_common), 6) >= 0.5"""),
        ("kg_adamic_adar", _q_kg_adamic_adar, """
            WITH e AS (SELECT DISTINCT l_partkey AS b, l_orderkey AS i
                       FROM lineitem),
            kept AS (SELECT b, i FROM
                         (SELECT b, i, COUNT(*) OVER (PARTITION BY b) AS sz
                          FROM e)
                     WHERE sz <= 40),
            deg AS (SELECT b, COUNT(*) AS d FROM kept GROUP BY b),
            wt AS (SELECT k.b, k.i, 1.0 / ln(d.d) AS w
                   FROM kept k JOIN deg d USING (b))
            SELECT a.i AS node_a, c.i AS node_b,
                   ROUND(SUM(a.w), 6) AS aa_score
            FROM wt a JOIN wt c ON a.b = c.b AND a.i < c.i
            GROUP BY a.i, c.i
            HAVING ROUND(SUM(a.w), 6) >= 0.5"""),
        ("kg_eval_pr", _q_kg_eval_pr, f"""{_TX_CTE},
            gold AS (SELECT DISTINCT {_TRIPLE_COLS}
            FROM tx),
            gote AS (SELECT DISTINCT {_TRIPLE_COLS}
            FROM tx WHERE turn_idx % 2 = 0),
            synth AS (SELECT DISTINCT conv_id AS subj, '_synthetic' AS pred,
                             'x' AS obj, conv_id, CAST(-1 AS INTEGER) AS turn_idx
                      FROM tx),
            got AS (SELECT * FROM gote UNION SELECT * FROM synth),
            counts AS (SELECT
                (SELECT COUNT(*) FROM (SELECT * FROM got INTERSECT
                                       SELECT * FROM gold)) AS tp,
                (SELECT COUNT(*) FROM (SELECT * FROM got EXCEPT
                                       SELECT * FROM gold)) AS fp,
                (SELECT COUNT(*) FROM (SELECT * FROM gold EXCEPT
                                       SELECT * FROM got)) AS fn)
            SELECT CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
                   CAST(fn AS BIGINT) AS fn,
                   ROUND(tp / (tp + fp), 6) AS precision,
                   ROUND(tp / (tp + fn), 6) AS recall,
                   ROUND(2.0 * (tp / (tp + fp)) * (tp / (tp + fn))
                         / (tp / (tp + fp) + tp / (tp + fn)), 6) AS f1
            FROM counts"""),
        ("kg_turn_order", _q_kg_turn_order, f"""{_TX_CTE}
            SELECT conv_id, turn_idx,
                   CAST(ROW_NUMBER() OVER (PARTITION BY conv_id
                        ORDER BY turn_idx) AS INTEGER) AS turn_rank,
                   role, tool, text
            FROM tx"""),
        ("kg_extract_triples", _q_kg_extract, _EXTRACT_TRIPLES_SQL),
        ("kg_extract_windowed", _q_kg_extract_windowed, f"""{_TX_CTE},
            planted AS (
              SELECT conv_id, 1000000 AS turn_idx, 'user' AS role,
                     'It uses beacon.' AS text, 'beacon' AS tool,
                     MAX(ts) AS ts
              FROM tx GROUP BY conv_id),
            allt AS (SELECT * FROM tx UNION ALL SELECT * FROM planted),
            wt AS (SELECT conv_id, turn_idx, text,
                          lag(text) OVER (PARTITION BY conv_id
                                          ORDER BY turn_idx, ts) AS prev
                   FROM allt)
            SELECT CASE WHEN text = 'It uses beacon.'
                        THEN split_part(prev, ' ', 1)
                        ELSE split_part(text, ' ', 1) END AS subj,
                   CASE WHEN text LIKE '% uses %' THEN 'uses'
                        ELSE 'met_with' END AS pred,
                   CASE WHEN text LIKE '% uses %'
                        THEN substr(text, strpos(text, ' uses ') + 6,
                                    length(text) - strpos(text, ' uses ') - 6)
                        ELSE substr(text, strpos(text, ' met with ') + 10,
                                    length(text) - strpos(text, ' met with ') - 10)
                   END AS obj,
                   conv_id, turn_idx
            FROM wt"""),
        ("kg_mentions", _q_kg_mentions, f"""{_TX_CTE}
            SELECT conv_id, turn_idx, tool AS surface,
                   CAST(strpos(text, tool) - 1 AS INTEGER) AS start,
                   CAST(strpos(text, tool) - 1 + length(tool) AS INTEGER) AS "end"
            FROM tx WHERE text LIKE '% uses %'"""),
        ("kg_outdegree_histogram", _q_kg_outdegree_hist, """
            WITH deg AS (SELECT CAST(COUNT(*) AS BIGINT) AS degree
                         FROM events GROUP BY user_id)
            SELECT degree, CAST(COUNT(*) AS BIGINT) AS n_nodes
            FROM deg GROUP BY degree"""),
        ("kg_turn_integrity", _q_kg_turn_integrity, f"""{_TX_CTE}
            SELECT conv_id,
                   CAST(COUNT(*) AS BIGINT) AS n_turns,
                   CAST(COUNT(*) - COUNT(DISTINCT turn_idx) AS BIGINT) AS n_dup_turns,
                   CAST(MIN(turn_idx) AS INTEGER) AS min_turn_idx,
                   CAST(MAX(turn_idx) AS INTEGER) AS max_turn_idx
            FROM tx GROUP BY conv_id"""),
        ("ref_distinct_subjects", _q_distinct, f"""{_EDGES_CTE}
            SELECT CAST(COUNT(DISTINCT subject) AS BIGINT) AS n_distinct_subjects
            FROM edges"""),
        ("ref_distinct_spo_counts", _q_distinct_spo, f"""{_EDGES_CTE}
            SELECT CAST(COUNT(DISTINCT subject) AS BIGINT)
                       AS n_distinct_subjects,
                   CAST(COUNT(DISTINCT predicate) AS BIGINT)
                       AS n_distinct_predicates,
                   CAST(COUNT(DISTINCT object) AS BIGINT)
                       AS n_distinct_objects
            FROM edges"""),
        ("ref_outdegree_histogram", _q_outdegree_hist, _OUTDEGREE_HIST_SQL),
    )


def queries() -> dict[str, QueryFn]:
    """Gate name → query function, in grading order."""
    return {name: fn for name, fn, _ in gates()}


def oracle_sql() -> dict[str, str]:
    """Gate name → DuckDB oracle SQL, in grading order."""
    return {name: sql for name, _, sql in gates()}
