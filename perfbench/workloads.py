"""The benchmark's workloads: inputs, one round of work, output checks.

A workload is driven by one closed-loop client: each operation starts
when the previous one has returned. An operation is one call into a
``btd`` public function plus the action that forces its result, run
inside a tracer span named ``<module>.<what>``.

``prepare`` builds the inputs (timed as set-up, repeated), ``finish``
computes the expected results (untimed), ``run_round`` runs one round
and returns, per operation, its name, wall time and result, and
``check`` turns a round's results into the number of failed checks.
"""

from __future__ import annotations

import os
import random
import shutil
import time

import inputs


class _Workload:
    #: name of the rows ``rows_per_s`` counts
    rows_name: str
    #: untimed rounds before timing starts
    warmup_rounds: int
    #: timed rounds at least, whatever the measuring time
    min_rounds: int

    def __init__(self, seed: int, work_dir: str):
        self.seed = seed
        self.work = work_dir
        self.input_rows = 0

    def round_output(self, r: int) -> str:
        """Directory a round writes its output to; deleted after the round."""
        return os.path.join(self.work, f"out-round{r}")

    def is_point(self, op_name: str) -> bool:
        """Whether an operation counts toward the point-latency
        percentiles; by default every operation (one job each) does."""
        return True

    def _op(self, tracer, ops: list, name: str, fn) -> None:
        t0 = time.perf_counter()
        with tracer.span(name):
            value = fn()
        ops.append((name, time.perf_counter() - t0, value))


class NquadAnalytics(_Workload):
    """The reference's seven analyses, each on its own from raw n-quad
    text, plus the parser's line counters and the serialized dedup
    output written back as text."""

    rows_name = "statements"
    warmup_rounds = 3
    min_rounds = 3

    def prepare(self, spark) -> None:
        self.corpus = os.path.join(self.work, "nquads")
        shutil.rmtree(self.corpus, ignore_errors=True)
        self._quads = inputs.nquad_corpus(self.seed, self.corpus)

    def finish(self, spark) -> None:
        self.truth = inputs.nquad_truth(self._quads)
        self.input_rows = inputs.NQUAD_STATEMENTS
        del self._quads

    def run_round(self, spark, tracer, r: int) -> list:
        from pyspark.sql import functions as F

        import btd.analytics as A
        from btd.parse import parse_metrics, read_nquads, to_nquad_lines

        ops: list = []

        def tri():
            return read_nquads(spark, self.corpus)

        def rows(df):
            return [tuple(x) for x in df.collect()]

        self._op(tracer, ops, "parse.scan",
                 lambda: rows(parse_metrics(spark.read.text(self.corpus)))[0])
        self._op(tracer, ops, "analytics.distinct_subject_count",
                 lambda: rows(A.distinct_subject_count(tri()))[0][0])
        self._op(tracer, ops, "analytics.outdegree_histogram",
                 lambda: rows(A.outdegree_histogram(tri())))
        self._op(tracer, ops, "analytics.indegree_histogram",
                 lambda: rows(A.indegree_histogram(tri())))
        self._op(tracer, ops, "analytics.top_k_outdegree",
                 lambda: rows(A.top_k_outdegree(tri(), 10)))
        self._op(tracer, ops, "analytics.percentages",
                 lambda: rows(A.percentages(tri()))[0])
        self._op(tracer, ops, "analytics.distinct_contexts_per_triple",
                 lambda: rows(A.distinct_contexts_per_triple(tri()).agg(
                     F.count(F.lit(1)), F.sum("n_contexts")))[0])
        held: dict = {}

        def dedup():
            held["df"] = A.remove_duplicate_triples(tri()).persist()
            return held["df"].count()

        def serialize():
            to_nquad_lines(held["df"]).write.text(self.round_output(r))
            held["df"].unpersist()
            return _count_lines(self.round_output(r))

        self._op(tracer, ops, "analytics.remove_duplicate_triples", dedup)
        self._op(tracer, ops, "parse.serialize", serialize)
        return ops

    def check(self, ops: list, r: int) -> int:
        t = self.truth
        res = {name: value for name, _, value in ops}
        checks = {
            "parse.scan": res["parse.scan"] == (t["parsed"], t["dropped"]),
            "analytics.distinct_subject_count":
                res["analytics.distinct_subject_count"] == t["distinct_subjects"],
            # histogram mass = distinct subjects; the shape must match too
            "analytics.outdegree_histogram":
                sum(n for _, n in res["analytics.outdegree_histogram"])
                == res["analytics.distinct_subject_count"]
                and res["analytics.outdegree_histogram"] == t["out_hist"],
            "analytics.indegree_histogram":
                res["analytics.indegree_histogram"] == t["in_hist"],
            "analytics.top_k_outdegree":
                res["analytics.top_k_outdegree"] == t["topk"],
            "analytics.percentages":
                res["analytics.percentages"] == t["percentages"],
            "analytics.distinct_contexts_per_triple":
                res["analytics.distinct_contexts_per_triple"]
                == (t["distinct_spo"], t["distinct_spoc"]),
            "analytics.remove_duplicate_triples":
                res["analytics.remove_duplicate_triples"] == t["distinct_spo"]
                <= res["parse.scan"][0],
            "parse.serialize":
                res["parse.serialize"] == res["analytics.remove_duplicate_triples"],
        }
        return sum(not ok for ok in checks.values())


def _count_lines(path: str) -> int:
    n = 0
    for name in os.listdir(path):
        if name.startswith("part-"):
            with open(os.path.join(path, name), "rb") as f:
                n += sum(1 for _ in f)
    return n


#: point queries per round, drawn in turn from a seeded sequence
POINTS_PER_ROUND = 12
POINT_QUERIES = 36
#: hop bound of the property path and of khop
PATH_HOPS = 2
KHOP_HOPS = 2

_COLS = ("subject", "predicate", "object")


class SparqlQuery(_Workload):
    """Read-only queries over a triple table built from
    ``btd.star.edges``: seeded point BGPs with a bound customer or
    part, and a fixed set of analytic shapes. Every result count is
    checked against DuckDB running ``btd.star.EDGES_SQL`` and SQL twins
    of the queries over the same tables."""

    rows_name = "quads"
    warmup_rounds = 1
    min_rounds = 2

    def is_point(self, op_name: str) -> bool:
        return op_name == "bgp.point"

    def prepare(self, spark) -> None:
        from btd.star import edges

        self.star = os.path.join(self.work, "star")
        self.table = os.path.join(self.work, "triples")
        shutil.rmtree(self.star, ignore_errors=True)
        inputs.star_tables(self.seed, self.star)
        edges(spark, self.star).write.mode("overwrite").parquet(self.table)

    def finish(self, spark) -> None:
        rng = random.Random(self.seed * 31 + 17)
        self.points = []
        for i in range(POINT_QUERIES):
            if i % 2 == 0:
                self.points.append(("customer", inputs.customer_term(
                    rng.randrange(inputs.STAR_CUSTOMERS))))
            else:
                self.points.append(("part", inputs.part_term(
                    rng.randrange(inputs.STAR_PARTS))))
        self.path_root = inputs.customer_term(rng.randrange(inputs.STAR_CUSTOMERS))
        self.infer_part = inputs.part_term(rng.randrange(inputs.STAR_PARTS))
        self.expected = _duckdb_counts(self)
        self.input_rows = self.expected["quads"]
        self.triples = spark.read.parquet(self.table)

    def _point_patterns(self, kind: str, term: str) -> list:
        if kind == "customer":  # chain from a bound customer
            return [(term, "<ordered>", "?o"), ("?o", "<contains>", "?p")]
        return [("?o", "<contains>", term), ("?c", "<ordered>", "?o")]  # star on a part

    def infer_rules(self) -> list:
        return [
            ([("?c", "<ordered>", "?o"), ("?o", "<contains>", self.infer_part)],
             [("?c", "<bought>", self.infer_part)]),
        ]

    def run_round(self, spark, tracer, r: int) -> list:
        from pyspark.sql import functions as F

        from btd.bgp import bgp_match
        from btd.graph import khop
        from btd.infer import construct, infer

        tri = self.triples
        ops: list = []
        first = (r * POINTS_PER_ROUND) % POINT_QUERIES
        for i in range(first, first + POINTS_PER_ROUND):
            kind, term = self.points[i % POINT_QUERIES]
            pats = self._point_patterns(kind, term)
            self._op(tracer, ops, "bgp.point",
                     lambda: len(bgp_match(tri, pats, columns=_COLS).collect()))
        chain = [("?c", "<ordered>", "?o"), ("?o", "<contains>", "?p")]
        self._op(tracer, ops, "bgp.chain",
                 lambda: bgp_match(tri, chain, columns=_COLS).count())
        self._op(tracer, ops, "bgp.minus",
                 lambda: bgp_match(tri, [("?c", "<ordered>", "?o")],
                                   minus=[("?o", "<contains>", "?x")],
                                   columns=_COLS).count())
        self._op(tracer, ops, "bgp.graph",
                 lambda: bgp_match(tri, [("?c", "<ordered>", "?o", ""),
                                         ("?o", "<contains>", "?p", "?sup")],
                                   columns=_COLS + ("context",),
                                   broadcast_bound=3).count())
        linked = tri.select("subject", F.lit("<linked>").alias("predicate"), "object")
        self._op(tracer, ops, "bgp.path",
                 lambda: bgp_match(linked, [(self.path_root, "<linked>+", "?t")],
                                   columns=_COLS, path_max_hops=PATH_HOPS).count())
        self._op(tracer, ops, "infer.construct",
                 lambda: construct(tri, chain, [("?c", "<bought>", "?p")],
                                   columns=_COLS).count())
        e = tri.select(F.col("subject").alias("src"), F.col("object").alias("dst"))
        self._op(tracer, ops, "graph.khop",
                 lambda: khop(e, k=KHOP_HOPS,
                              roots=e.where(F.col("src").startswith("_:c")).select("src"))
                 .count())
        self._op(tracer, ops, "infer.infer",
                 lambda: infer(tri, self.infer_rules(), columns=_COLS).count())
        return ops

    def expected_for(self, r: int) -> list:
        first = (r * POINTS_PER_ROUND) % POINT_QUERIES
        want = [self.expected["points"][i % POINT_QUERIES]
                for i in range(first, first + POINTS_PER_ROUND)]
        return want + [self.expected[k] for k in (
            "chain", "minus", "graph", "path", "construct", "khop", "infer")]

    def check(self, ops: list, r: int) -> int:
        got = [value for _, _, value in ops]
        return sum(g != w for g, w in zip(got, self.expected_for(r), strict=True))


def _duckdb_counts(w: SparqlQuery) -> dict:
    """Expected result counts from DuckDB over the same parquet tables."""
    import duckdb

    from btd.star import EDGES_SQL

    con = duckdb.connect(config={"threads": 2, "memory_limit": "1GB"})
    try:
        for name in ("orders", "lineitem"):
            con.execute(
                f"CREATE VIEW {name} AS SELECT * FROM "
                f"read_parquet('{os.path.join(w.star, name + '.parquet')}')"
            )
        con.execute(f"CREATE TABLE edges AS {EDGES_SQL}")

        def one(sql: str, *params) -> int:
            return int(con.execute(sql, list(params)).fetchone()[0])

        chain_sql = """FROM edges a JOIN edges b ON b.subject = a.object
                       WHERE a.predicate = '<ordered>' AND b.predicate = '<contains>'"""
        points = []
        for kind, term in w.points:
            if kind == "customer":
                points.append(one(f"SELECT count(*) FROM (SELECT DISTINCT a.object, b.object "
                                  f"{chain_sql} AND a.subject = ?)", term))
            else:
                points.append(one(f"SELECT count(*) FROM (SELECT DISTINCT a.subject, a.object "
                                  f"{chain_sql} AND b.object = ?)", term))
        derived = f"""bought AS (SELECT DISTINCT a.subject AS s, '<bought>' AS p, b.object AS o
                                 {chain_sql} AND b.object = $part)"""
        return {
            "quads": one("SELECT count(*) FROM edges"),
            "points": points,
            "chain": one(f"SELECT count(*) FROM (SELECT DISTINCT a.subject, a.object, b.object "
                         f"{chain_sql})"),
            "minus": one("""SELECT count(*) FROM (SELECT DISTINCT a.subject, a.object
                            FROM edges a WHERE a.predicate = '<ordered>'
                            AND NOT EXISTS (SELECT 1 FROM edges b
                                            WHERE b.predicate = '<contains>'
                                              AND b.subject = a.object))"""),
            "graph": one(f"SELECT count(*) FROM (SELECT DISTINCT a.subject, a.object, "
                         f"b.object, b.context {chain_sql} AND a.context = '')"),
            "path": one(f"""WITH RECURSIVE reach(t, h) AS (
                                SELECT object, 1 FROM edges WHERE subject = ?
                                UNION
                                SELECT e.object, r.h + 1 FROM reach r
                                JOIN edges e ON e.subject = r.t WHERE r.h < {PATH_HOPS})
                            SELECT count(DISTINCT t) FROM reach""", w.path_root),
            "construct": one(f"SELECT count(*) FROM (SELECT DISTINCT a.subject, b.object "
                             f"{chain_sql})"),
            "khop": one(f"""WITH RECURSIVE r(root, node, h) AS (
                                SELECT subject, object, 1 FROM edges
                                WHERE starts_with(subject, '_:c')
                                UNION
                                SELECT r.root, e.object, r.h + 1 FROM r
                                JOIN edges e ON e.subject = r.node WHERE r.h < {KHOP_HOPS})
                            SELECT count(*) FROM (SELECT DISTINCT root, node FROM r
                                                  WHERE root <> node)"""),
            "infer": int(con.execute(
                f"""WITH {derived}
                    SELECT count(*) FROM (
                        SELECT subject, predicate, object FROM edges
                        UNION SELECT s, p, o FROM bought)""",
                {"part": w.infer_part}).fetchone()[0]),
            "base_distinct": one("SELECT count(*) FROM (SELECT DISTINCT subject, predicate, "
                                 "object FROM edges)"),
        }
    finally:
        con.close()


WORKLOADS = {
    "nquad_analytics": NquadAnalytics,
    "sparql_query": SparqlQuery,
}
