"""Seeded inputs for the benchmark workloads, with their ground truth.

Everything here is a pure function of the seed: the same seed gives
byte-identical files and identical truth. Inputs are generated in
Python (no Spark job), so the truth is known exactly and independently
of the code under test.

- :func:`nquad_corpus` — n-quad TEXT in the shape of
  ``BENCH/nquad_throughput.py``: a power-law hot subject, ~30% blank
  subjects, ~15% blank objects, plain and typed literals, ~30% missing
  contexts, triples repeated across contexts, and a seeded share of
  malformed lines the parser must drop.
- :func:`star_tables` — ``orders`` and ``lineitem`` parquet tables in the
  sf0.1 shape (customers order orders, orders contain parts supplied by
  suppliers), the input of ``btd.star.edges``; some orders are empty so
  MINUS has rows to return.
"""

from __future__ import annotations

import os
import random
from collections import Counter

#: fixed sizes: every seed does identical work
NQUAD_STATEMENTS = 100_000
NQUAD_FILES = 8
MALFORMED_SHARE = 0.02

#: star-schema scale as a fraction of sf0.1 (150k orders, 600k lines)
STAR_ORDERS = 12_000
STAR_CUSTOMERS = 1_200
STAR_PARTS = 1_600
STAR_SUPPLIERS = 160
EMPTY_ORDER_SHARE = 0.02


def _nquad_lines(seed: int, n: int) -> tuple[list[str], list[tuple]]:
    """(all lines, the valid quads they encode) for ``n`` statements."""
    rng = random.Random(seed)
    n_subj = max(1, n // 20)
    n_obj = max(1, n // 10)
    pool: list[tuple[str, str, str]] = []
    lines: list[str] = []
    quads: list[tuple] = []
    for i in range(n):
        if rng.random() < MALFORMED_SHARE:
            kind = rng.randrange(3)
            if kind == 0:  # no terminating dot
                lines.append(f"<http://ex.org/s/{i}> <http://ex.org/p/1> <http://ex.org/o/{i}>")
            elif kind == 1:  # comment line
                lines.append(f"# malformed line {i}")
            else:  # two terms only
                lines.append(f"<http://ex.org/s/{i}> <http://ex.org/p/2> .")
            continue
        if pool and rng.random() < 0.15:
            # the same triple again, usually under another context
            s, p, o = pool[rng.randrange(len(pool))]
        else:
            sid = 0 if rng.random() < 0.10 else int(n_subj * rng.random() ** 2)
            s = f"_:b{sid}" if sid % 10 < 3 else f"<http://ex.org/s/{sid}>"
            p = f"<http://ex.org/p/{rng.randrange(12)}>"
            oid = rng.randrange(n_obj)
            r = rng.random()
            if r < 0.15:
                o = f"_:ob{oid}"
            elif r < 0.30:
                o = f'"literal value {oid}"'
            elif r < 0.40:
                o = f'"{1990 + oid % 30}-01-02"^^<http://www.w3.org/2001/XMLSchema#date>'
            else:
                o = f"<http://ex.org/o/{oid}>"
            if len(pool) < 20_000:
                pool.append((s, p, o))
        c = "" if rng.random() < 0.30 else f"<http://ctx.org/g/{rng.randrange(20)}>"
        lines.append(f"{s} {p} {o} {c} ." if c else f"{s} {p} {o} .")
        quads.append((s, p, o, c))
    return lines, quads


def nquad_corpus(seed: int, out_dir: str) -> list[tuple]:
    """Write the corpus as ``NQUAD_FILES`` uncompressed text files under
    ``out_dir``; return the valid quads it encodes."""
    lines, quads = _nquad_lines(seed, NQUAD_STATEMENTS)
    os.makedirs(out_dir, exist_ok=True)
    step = -(-len(lines) // NQUAD_FILES)
    for k in range(NQUAD_FILES):
        with open(os.path.join(out_dir, f"part-{k:03d}.nq"), "w") as f:
            f.write("\n".join(lines[k * step:(k + 1) * step]) + "\n")
    return quads


def nquad_truth(quads: list[tuple]) -> dict:
    """Exact expected results of the reference analyses over ``quads``."""
    spo = {q[:3] for q in quads}
    outdeg = Counter(q[0] for q in quads)
    indeg = Counter(q[2] for q in quads)
    top = sorted(outdeg.items(), key=lambda kv: (kv[1], kv[0]), reverse=True)[:10]
    return {
        "parsed": len(quads),
        "dropped": NQUAD_STATEMENTS - len(quads),
        "distinct_subjects": len(outdeg),
        "out_hist": sorted(Counter(outdeg.values()).items()),
        "in_hist": sorted(Counter(indeg.values()).items()),
        "topk": sorted(top, key=lambda kv: (kv[1], kv[0])),
        "percentages": (
            sum(q[0].startswith("_") for q in quads),
            sum(q[2].startswith("_") for q in quads),
            sum(q[3] == "" for q in quads),
            len(quads),
        ),
        "distinct_spo": len(spo),
        "distinct_spoc": len(set(quads)),
    }


def star_tables(seed: int, out_dir: str) -> dict[str, str]:
    """Write ``orders.parquet`` and ``lineitem.parquet`` under ``out_dir``
    (the layout ``btd.star.load`` reads); return their paths."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(seed * 7919 + 1)
    custkey = [rng.randrange(STAR_CUSTOMERS) for _ in range(STAR_ORDERS)]
    l_order: list[int] = []
    l_part: list[int] = []
    l_supp: list[int] = []
    for ok in range(STAR_ORDERS):
        if rng.random() < EMPTY_ORDER_SHARE:
            continue
        for _ in range(rng.randint(1, 7)):
            l_order.append(ok)
            l_part.append(rng.randrange(STAR_PARTS))
            l_supp.append(rng.randrange(STAR_SUPPLIERS))
    os.makedirs(out_dir, exist_ok=True)
    paths = {
        "orders": os.path.join(out_dir, "orders.parquet"),
        "lineitem": os.path.join(out_dir, "lineitem.parquet"),
    }
    pq.write_table(
        pa.table({
            "o_orderkey": pa.array(range(STAR_ORDERS), pa.int64()),
            "o_custkey": pa.array(custkey, pa.int64()),
        }),
        paths["orders"],
    )
    pq.write_table(
        pa.table({
            "l_orderkey": pa.array(l_order, pa.int64()),
            "l_partkey": pa.array(l_part, pa.int64()),
            "l_suppkey": pa.array(l_supp, pa.int64()),
        }),
        paths["lineitem"],
    )
    return paths


def customer_term(key: int) -> str:
    """The subject term ``btd.star.edges`` gives customer ``key``."""
    return f"_:c{key}" if key % 10 == 0 else f"<c{key}>"


def part_term(key: int) -> str:
    """The object term ``btd.star.edges`` gives part ``key``."""
    return f"_:p{key}" if key % 7 == 0 else f"<p{key}>"
