"""Headline benchmark: runs every implemented query at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line.

Each timing covers the full pipeline scan→result (like the reference's
per-job wall times, BASELINE.md). Results are forced with a noop write
(no driver collect skew) except tiny top-k outputs.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entrymod  # noqa: E402
from btd.session import get_spark  # noqa: E402


def force(df) -> int:
    """Execute the plan fully; return row count."""
    return df.count()


def cleanup(spark) -> None:
    """Reset cross-query session state so each timing is isolated.

    Graph queries intentionally keep their FINAL localCheckpoint alive
    for the caller (``CheckpointLoop.keep``); in a 50-query
    bench session those pile up and steal executor storage from later
    queries (measured: ref_top_contexts 25 s polluted vs 4.8 s fresh).
    Streaming gate queries also leave memory-sink temp views holding
    their results. The bench owns the whole session, so dropping
    everything between queries is safe and makes timings reproducible.
    """
    spark.catalog.clearCache()
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    for rid in [int(i) for i in jmap.keySet().toArray()]:
        rdd = jmap.get(rid)
        if rdd is not None:
            rdd.unpersist(False)
    for t in spark.catalog.listTables():
        if t.tableType == "TEMPORARY":
            spark.catalog.dropTempView(t.name)


def _calib_work(_=None) -> float:
    """One fixed pure-Python workload (xorshift loop); module-level so
    Pool can pickle it. Deliberately NOT numpy: BLAS multithreading
    fans a single matmul across every idle core, which makes the
    single-process wall measure host idleness instead of per-core
    speed (observed 0.06 s idle vs 1.24 s busy for the same matmul —
    a 20x swing that says nothing about one core)."""
    import time as _t

    t0 = _t.perf_counter()
    x = 0x9E3779B9
    for _i in range(2_000_000):
        x ^= (x << 13) & 0xFFFFFFFF
        x ^= x >> 17
        x ^= (x << 5) & 0xFFFFFFFF
    return _t.perf_counter() - t0


def host_calibration() -> dict:
    """~2 s pure-CPU probe of the sandbox host, recorded in the result
    so a contended run is visible IN the artifact instead of reading as
    an engine regression. Two signals: single_s = one-process wall of
    the fixed loop (0.62-0.74 s measured on this VM quiet — the
    whole-VM slowdown signal), and par8_over_single = per-process
    slowdown when 8 run concurrently (1.1-1.5 quiet; a matmul variant
    of this probe measured 6.8 while neighbors owned the cores — the
    parallel-capacity slowdown signal). Either signal >>2x its quiet
    value means every Spark timing in this file is inflated by roughly
    that factor; compare records via their calibrations before reading
    a wall delta as a regression.
    """
    from multiprocessing import Pool

    single = _calib_work()
    with Pool(8) as p:
        par = p.map(_calib_work, range(8))
    return {
        "single_s": round(single, 3),
        "par8_worst_s": round(max(par), 3),
        "par8_over_single": round(max(par) / single, 2),
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = float(sf_dir.rstrip("/").split("sf")[-1]) if "sf" in sf_dir else -1.0
    calib = host_calibration()  # before the JVM: clean fork, quiet cores
    spark = get_spark("btd-bench", cores=cores, shuffle_partitions=cores)

    qs = entrymod.queries()
    # warm-up: JVM/codegen/parquet footer caches, not counted
    force(qs["ref_distinct_subjects"](spark, sf_dir))

    # best-of-N per query: the sandbox host is noisy (see
    # BENCH/BASELINE.md); min wall is the engine's actual cost
    trials = int(os.environ.get("BTD_BENCH_TRIALS", "2"))
    timings: dict[str, float] = {}
    for name in sorted(qs):
        best = float("inf")
        for _ in range(trials):
            t0 = time.perf_counter()
            force(qs[name](spark, sf_dir))
            best = min(best, time.perf_counter() - t0)
            cleanup(spark)
        timings[name] = round(best, 4)

    total = round(sum(timings.values()), 4)

    # headline north-rule metric: transcript triple-extraction
    # throughput (BASELINE.md targets triples/sec; scaling efficiency
    # is measured separately by BENCH/scaling.py with fresh JVMs)
    from pyspark.sql import functions as F

    from BENCH.scaling import build_input
    from btd.extract.relations import extract_triples

    # 32 replicas ≈ 3.2M turns at sf0.1: large enough that per-job fixed
    # costs stop dominating and the rate reflects steady-state kernel
    # throughput (peak measured 1.48M turns/s at 12.8M turns, local[32])
    replicas = int(os.environ.get("BTD_BENCH_EXTRACT_REPLICAS", "32"))
    tx = build_input(spark, sf_dir, replicas).repartition(cores * 4)
    tx.persist()
    n_turns = tx.count()  # materialized outside the timed window
    best = float("inf")
    n_triples = 0
    for _ in range(trials):
        t0 = time.perf_counter()
        n_triples = extract_triples(tx).count()
        best = min(best, time.perf_counter() - t0)
    tx.unpersist()

    out = {
        "metric": "total_query_wall_time",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "cores": cores,
        "extraction_turns": n_turns,
        "extraction_triples": n_triples,
        "extraction_triples_per_sec": round(n_triples / best, 1),
        "host_calib": calib,
    }

    # 10x scale probe (VERDICT r1 #7): the shuffle-heavy headline subset
    # at sf1 (deterministic 10x of sf0.1, BENCH/make_scale.py — built on
    # first use), recorded next to the sf0.1 numbers so a regression
    # that only shows where shuffles spill is caught round-over-round.
    # Disable with BTD_BENCH_SCALE_PROBE=0.
    if os.environ.get("BTD_BENCH_SCALE_PROBE", "1") != "0" and sf <= 0.2:
        # isolated + budgeted: a probe failure or overrun must never
        # cost the main bench record (the driver needs its ONE line)
        # 240 s default: the subset grew to 20 queries in round 3
        budget = float(os.environ.get("BTD_BENCH_PROBE_BUDGET", "240"))
        subset = [
            "ref_dedup", "ref_distinct_contexts", "ref_top_contexts",
            "ref_outdegree_histogram", "doc_exact_dedup",
            "doc_minhash_near_dup", "doc_simhash_near_dup",
            "doc_dedup_groups",
            "emb_lsh_topk", "emb_ivf_topk", "emb_cosine_near_dup",
            "kg_extract_triples",
            "kg_entities", "kg_pagerank", "ev_sessionize",
            "ev_asof_join", "ev_range_count",
            # round-3 additions with real shuffle surface: BFS joins,
            # bigram-model join, basket pair counting, shared-neighbor
            # pair generation (the Σ deg² plan worth watching at 10×)
            "kg_khop", "doc_lm_score", "kg_copurchase",
            "kg_neighbor_jaccard",
            # r4: mid-keyed self-join + distinct count — the Σ deg²
            # shape two_hop shares with the pair generators above
            "kg_two_hop_reach",
            # r5: the rewritten bucketed IVFADC path — watch its codes
            # shuffle + bucket-local scoring at 10x like the other ANN
            "emb_pq_topk",
        ]
        try:
            from BENCH.make_scale import ensure

            # the dataset build counts against the budget too — a slow
            # first-time build then skips queries instead of overrunning
            probe_t0 = time.perf_counter()
            probe_dir = ensure(spark)
            cleanup(spark)
            pt: dict[str, float] = {}
            skipped: list[str] = []
            for name in subset:
                if time.perf_counter() - probe_t0 > budget:
                    skipped = subset[subset.index(name):]
                    break
                t0 = time.perf_counter()
                force(qs[name](spark, probe_dir))
                pt[name] = round(time.perf_counter() - t0, 4)
                cleanup(spark)
            out["scale_probe"] = {
                "sf": 1.0,
                "queries": pt,
                "value": round(sum(pt.values()), 4),
                "skipped_over_budget": skipped,
                "note": "10x deterministic scale-up of sf0.1; compare "
                "per-query ratios vs the main section (linear or better "
                "= healthy; quadratic = a bucket/join layout bug)",
            }
        except Exception as exc:  # noqa: BLE001 — record, don't die
            out["scale_probe"] = {"error": f"{type(exc).__name__}: {exc}"}

    # Full record (probe per-query timings, notes) → a per-configuration
    # ``_last`` file, gitignored: one shared last_run.json got clobbered
    # by later runs at another sf, and writing run_sf{sf}_c{cores}.json
    # itself overwrote the curated, committed record of that
    # configuration with whatever host load the latest run saw (copy a
    # run over the curated file by hand when it is the one to keep).
    # The driver captures only the LAST 2000 chars of stdout, so an
    # 86-query JSON line (~2.8 KB) can never parse from the tail. The
    # final stdout line is therefore built to a hard 1900-char budget:
    # keep the SLOWEST queries (the headline numbers) and drop the
    # cheapest until it fits, recording how many were omitted and where
    # the complete record lives.
    repo = os.path.dirname(os.path.abspath(__file__))
    sf_tag = str(sf).replace(".", "p") if sf >= 0 else "unknown"
    rec_name = f"run_sf{sf_tag}_c{cores}_last.json"
    # BTD_BENCH_RECORD_DIR redirects the record (e.g. the contract test
    # writes to a tmp dir so pytest runs never dirty a committed record)
    rec_dir = os.environ.get(
        "BTD_BENCH_RECORD_DIR", os.path.join(repo, "BENCH")
    )
    rec_path = os.path.join(rec_dir, rec_name)
    with open(rec_path, "w") as f:
        json.dump(out, f, indent=1)
    rec_ref = (
        os.path.relpath(rec_path, repo)
        if rec_path.startswith(repo + os.sep)
        else rec_path
    )

    def render(n_keep: int) -> str:
        slowest = dict(
            sorted(
                sorted(timings.items(), key=lambda kv: -kv[1])[:n_keep]
            )
        )
        compact = {
            "metric": out["metric"],
            "value": out["value"],
            "unit": out["unit"],
            "queries": {k: round(v, 2) for k, v in slowest.items()},
            "sf": out["sf"],
            "cores": out["cores"],
            "n_queries": len(timings),
            "queries_omitted": len(timings) - len(slowest),
            "extraction_triples_per_sec": out[
                "extraction_triples_per_sec"
            ],
            "host_calib": calib,
            "full_record": rec_ref,
        }
        sp = out.get("scale_probe")
        if isinstance(sp, dict) and "value" in sp:
            compact["scale_probe"] = {
                "sf": sp["sf"],
                "value": sp["value"],
                "n_queries": len(sp["queries"]),
            }
        elif isinstance(sp, dict):
            compact["scale_probe"] = {"error": str(sp.get("error"))[:80]}
        return json.dumps(compact, separators=(",", ":"))

    n_keep = len(timings)
    line = render(n_keep)
    while len(line) > 1900 and n_keep > 5:
        # each dropped entry frees ~25 chars; step proportionally
        n_keep -= max(1, (len(line) - 1900) // 25)
        line = render(max(n_keep, 5))
    print(line, flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
