"""Steady-state benchmark of btd: n-quad analytics and SPARQL queries.

Run from the root of a checkout:

    python3 perfbench/run.py --workload nquad_analytics --seed 1 --seconds 10 --trace 0

One process opens one pinned Spark session (``local[nproc]``), builds the
workload's inputs from the seed, runs the workload's round untimed until
steady (its ``warmup_rounds``), then times rounds for ``--seconds`` (at
least its ``min_rounds``). Every round's outputs are checked. The last stdout line
is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` — the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``. The line before it is the full record (host
calibration, set-up parts, warm-up and round walls), also written to
``.perfbench_out/``. Inputs, Spark scratch space and outputs live in
``.perfbench_work/`` and are deleted at exit.

With ``--trace 1`` the Spark event log is on, and timed rounds alternate
traced (spans and job groups around every call into ``btd``) and
untraced; the difference of their median walls is the tracing overhead.
LAYERS.md maps each per-layer metric to the end-to-end metric it moves.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

import tracing
from workloads import WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: session pins
SHUFFLE_PARTITIONS = 4
DRIVER_MEM = "2g"
#: set-up is repeated and its median reported
SETUP_REPEATS = 3
#: no new round starts this long after the session began starting, so
#: a run on a slow host still ends well within three minutes
HARD_CAP_S = 120.0
FLOOR_SAMPLES = 5


def _args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _pin_environment(work: str) -> dict[str, str]:
    """Environment and Spark conf that keep every file the run makes
    inside ``work`` and let Python workers import ``btd``."""
    dirs = {k: os.path.join(work, k) for k in ("local", "tmp", "warehouse")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = dirs["local"]
    os.environ["TMPDIR"] = dirs["tmp"]
    os.environ["BTD_WAREHOUSE"] = dirs["warehouse"]
    os.environ["BTD_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": dirs["local"],
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={dirs['tmp']}",
    }


def _stop(spark) -> None:
    """Stop the session and wait for its JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:  # a hung JVM must not outlive us
            proc.kill()
            proc.wait()


def _n_persistent(spark) -> int:
    return int(spark.sparkContext._jsc.getPersistentRDDs().size())


def run(args, work: str, calib: dict) -> dict:
    import bench
    from btd.session import get_spark

    t_process = time.perf_counter()
    conf = _pin_environment(work)
    log_dir = os.path.join(work, "eventlog")
    if args.trace:
        os.makedirs(log_dir, exist_ok=True)
        conf.update(tracing.event_log_conf(log_dir))
    cores = len(os.sched_getaffinity(0))

    t0 = time.perf_counter()
    spark = get_spark(f"perfbench-{args.workload}", cores=cores,
                      shuffle_partitions=SHUFFLE_PARTITIONS, extra_conf=conf)
    spark.range(1).count()
    start_s = time.perf_counter() - t0
    try:
        w = WORKLOADS[args.workload](args.seed, os.path.join(work, "data"))
        preps = []
        for _ in range(SETUP_REPEATS):
            t = time.perf_counter()
            w.prepare(spark)
            preps.append(time.perf_counter() - t)
        w.finish(spark)
        tracer = tracing.Tracer(spark)

        def play(r: int, traced: bool) -> dict:
            tracer.enabled, tracer.round_id = traced, r
            held0 = _n_persistent(spark)
            t = time.perf_counter()
            with tracer.span("round"):
                ops = w.run_round(spark, tracer, r)
            wall = time.perf_counter() - t
            held = _n_persistent(spark) - held0  # before cleanup: leaks show
            tracer.enabled = False
            failed = w.check(ops, r)
            bench.cleanup(spark)
            shutil.rmtree(w.round_output(r), ignore_errors=True)
            return {"round": r, "traced": traced, "wall": wall, "held": held,
                    "failed": failed, "attempted": len(ops),
                    "ops": [(name, op_wall, value) for name, op_wall, value in ops]}

        # a traced run warms up one round longer: its overhead figure
        # compares rounds, so they must be steady
        warmup = w.warmup_rounds + args.trace
        warm = [play(r, False) for r in range(warmup)]
        floor = []
        if args.trace:
            for _ in range(FLOOR_SAMPLES):
                t = time.perf_counter()
                spark.range(1).count()
                floor.append(time.perf_counter() - t)
        timed: list[dict] = []
        t_timed = time.perf_counter()
        while len(timed) < w.min_rounds or time.perf_counter() - t_timed < args.seconds:
            if time.perf_counter() - t_process > HARD_CAP_S:
                break
            # traced first: left-over warm-up drift inflates, never hides, the overhead
            traced = bool(args.trace) and len(timed) % 2 == 0
            timed.append(play(warmup + len(timed), traced))
        timed_s = time.perf_counter() - t_timed
    finally:
        _stop(spark)

    rounds = warm + timed
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "cores": cores,
        "shuffle_partitions": SHUFFLE_PARTITIONS,
        "host_calib": calib,
        "input_rows": w.input_rows,
        "rows_name": w.rows_name,
        "session_start_s": start_s,
        "prepare_s": preps,
        "warmup_walls_s": [r["wall"] for r in warm],
        "round_walls_s": [r["wall"] for r in timed],
        "attempted": sum(r["attempted"] for r in rounds),
        "failed": sum(r["failed"] for r in rounds),
        "timed_s": timed_s,
    }
    record["error_rate"] = record["failed"] / record["attempted"]
    untraced = [r for r in timed if not r["traced"]]
    if args.trace:
        spans = tracer.self_times()
        per_span = tracing.fold_event_log(log_dir)
        record["metrics"] = layer_metrics(w, warm, timed, spans, per_span, start_s, floor)
        record["spans"] = spans
    else:
        record["metrics"] = end_to_end_metrics(w, untraced, start_s, preps)
    record["rounds"] = [{k: v for k, v in r.items() if k != "ops"} | {
        "ops": [(name, op_wall) for name, op_wall, _ in r["ops"]]} for r in rounds]
    return record


def end_to_end_metrics(w, timed: list[dict], start_s: float, preps: list[float]) -> dict:
    round_s = statistics.median(r["wall"] for r in timed)
    points = [op_wall for r in timed for name, op_wall, _ in r["ops"] if w.is_point(name)]
    _, p50, p75 = statistics.quantiles(points, n=4)
    return {
        "setup_s": (start_s + statistics.median(preps), "s"),
        "round_s": (round_s, "s"),
        "rows_per_s": (w.input_rows / round_s, "1/s"),
        "point_p50_s": (p50, "s"),
        "point_p75_s": (p75, "s"),
    }


#: spans reported as ``<span>_s``: the median over traced rounds of the
#: round's total self time in that span
TIMED_SPANS = (
    "parse.scan",
    "parse.serialize",
    "analytics.distinct_subject_count",
    "analytics.outdegree_histogram",
    "analytics.indegree_histogram",
    "analytics.top_k_outdegree",
    "analytics.percentages",
    "analytics.distinct_contexts_per_triple",
    "analytics.remove_duplicate_triples",
    "bgp.chain",
    "bgp.minus",
    "bgp.graph",
    "bgp.path",
    "infer.construct",
    "infer.infer",
    "graph.khop",
)

_SPARK_METRICS = {
    "spark.jobs": ("jobs", 1, "count"),
    "spark.stages": ("stages", 1, "count"),
    "spark.tasks": ("tasks", 1, "count"),
    "spark.executor_run_s": ("executor_run_ms", 1e-3, "s"),
    "spark.executor_cpu_s": ("executor_cpu_ns", 1e-9, "s"),
    "spark.gc_s": ("gc_ms", 1e-3, "s"),
    "spark.shuffle_read_bytes": ("shuffle_read_bytes", 1, "bytes"),
    "spark.shuffle_write_bytes": ("shuffle_write_bytes", 1, "bytes"),
    "spark.spill_bytes": ("spill_bytes", 1, "bytes"),
}


def layer_metrics(w, warm, timed, spans, per_span, start_s, floor) -> dict:
    med = tracing.median_or_zero
    traced = [r for r in timed if r["traced"]]
    untraced = [r for r in timed if not r["traced"]]
    by_round: dict[int, list[dict]] = {r["round"]: [] for r in traced}
    for s in spans:
        by_round[s["round"]].append(s)

    def per_round(select, value) -> float:
        """Median over traced rounds of the round's sum of ``value``
        over the spans ``select`` keeps."""
        return med(sum(value(s) for s in ss if select(s)) for ss in by_round.values())

    def stat(s, key) -> float:
        return per_span.get(s["id"], {}).get(key, 0.0)

    out: dict = {
        "session.start_s": (start_s, "s"),
        "session.floor_s": (med(floor), "s"),
        "session.cold_round_s": (warm[0]["wall"], "s"),
    }
    for name in TIMED_SPANS:
        out[f"{name}_s"] = (per_round(lambda s, n=name: s["name"] == n, lambda s: s["self"]), "s")
    out["bgp.point_s"] = (med(s["self"] for s in spans if s["name"] == "bgp.point"), "s")

    last = traced[-1]["ops"]
    scan = [value for name, _, value in last if name == "parse.scan"]
    scan_s = out["parse.scan_s"][0]
    out["parse.stmts_per_s"] = (scan[0][0] / scan_s if scan and scan_s else 0.0, "1/s")
    out["parse.dropped_lines"] = (scan[0][1] if scan else 0, "count")
    is_analytics = lambda s: s["name"].startswith("analytics.")  # noqa: E731
    out["analytics.shuffle_write_bytes"] = (
        per_round(is_analytics, lambda s: stat(s, "shuffle_write_bytes")), "bytes")
    out["analytics.spill_bytes"] = (
        per_round(is_analytics, lambda s: stat(s, "spill_bytes")), "bytes")

    # a round's op spans are the round span's children, in op order
    bgp_rows = bgp_results = 0.0
    for r in traced:
        kids = [s for s in by_round[r["round"]] if s["name"] != "round"]
        for s, (_, _, value) in zip(kids, r["ops"], strict=True):
            if s["name"].startswith("bgp."):
                bgp_rows += stat(s, "join_rows")
                bgp_results += value
    out["bgp.rows_examined_per_result"] = (
        bgp_rows / bgp_results if bgp_results else 0.0, "ratio")
    infer_rows = [value for name, _, value in last if name == "infer.infer"]
    out["infer.derived_rows"] = (
        infer_rows[0] - w.expected["base_distinct"] if infer_rows else 0, "count")
    out["ckpt.rdds_held_after_call"] = (max(r["held"] for r in traced), "count")

    for metric, (key, scale, unit) in _SPARK_METRICS.items():
        out[metric] = (per_round(lambda s: True, lambda s, k=key: stat(s, k)) * scale, unit)

    traced_round = med(r["wall"] for r in traced)
    out["trace.overhead_s"] = (traced_round - med(r["wall"] for r in untraced), "s")
    out["trace.coverage"] = (
        per_round(lambda s: s["name"] != "round", lambda s: s["self"]) / traced_round, "ratio")
    return out


def main(argv=None) -> int:
    args = _args(argv)
    if not (os.path.isdir(os.path.join(ROOT, "btd")) and os.path.isfile(os.path.join(ROOT, "bench.py"))):
        print(f"perfbench: no btd checkout at {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import bench

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    calib = bench.host_calibration()  # before the JVM starts: quiet cores
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    try:
        record = run(args, work, calib)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"),
              "w") as f:
        json.dump(record, f, indent=1, default=str)
    summary = {k: v for k, v in record.items() if k not in ("spans", "rounds")}
    print(json.dumps(summary, default=str))
    print(json.dumps({
        "correct": record["failed"] == 0,
        "attempted": record["attempted"],
        "failed": record["failed"],
        "metrics": {name: {"value": value, "unit": unit}
                    for name, (value, unit) in record["metrics"].items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
