"""olap_read: oracle-checked relational queries over generated sf0.1 inputs.

The untimed warm-up cycle runs every query of ``QUERIES`` once; each timed
cycle runs ``TIMED_PASSES`` passes over them, each pass in its own order
drawn from the seed. An operation is ``REGISTRY[name].spark_fn`` (plan
construction, including ``load()`` and any eager actions) followed by
``collect()``. The first result of each query (in the warm-up) is compared
with its oracle SQL run by duckdb on the same files; later results are
compared by row count.
"""

from __future__ import annotations

import os
import random

import duckdb
import pyarrow.parquet as pq

import gen
from harness import Op, Tracer, median_or_zero, mean_or_zero
from spark_iceberg_schema_evolution_spark.queries import REGISTRY
from check_correctness import value_hash

QUERIES = [
    "q05_join_inner_agg",
    "q11_asof_join",
    "q12_tpch_q1",
    "q18_window_topk",
    "q34_tumbling_hour",
    "q139_interval_join",
]
# Two queries are left out because their oracles disagree with Spark on some
# generated inputs:
# - q159_gaps_islands takes the day of a timestamp as
#   CAST(epoch(ts) AS BIGINT) // 86400, which rounds the fractional second,
#   so an event in the last half second of a day lands on the next day in
#   duckdb but not in Spark; generated events hit this on about one seed in
#   six.
# - q79_percentile_cont rounds an interpolated median to 2 dp. When a
#   group's two middle prices differ by an odd number of cents the median
#   is a half cent, held as a double just below it (249362.54499999998);
#   Spark's ROUND gives .54 and duckdb's .55. About one seed in twenty.

# passes over QUERIES per timed cycle, each in its own seeded order
TIMED_PASSES = 2


class OlapRead:
    name = "olap_read"
    default_scale = 0.1

    def __init__(self, spark, tracer: Tracer, seed: int, scale: float):
        self.spark = spark
        self.tracer = tracer
        self.seed = seed
        self.scale = scale
        self.data_dir = ""
        # oracle row count per query, once its first result was compared
        self.expected: dict[str, int] = {}

    def prepare(self, work_dir: str) -> None:
        self.data_dir = os.path.join(work_dir, "data")
        gen.make_relational(self.data_dir, self.seed, self.scale)

    def _oracle(self, name: str) -> tuple[int, str, list[str]]:
        con = duckdb.connect()
        try:
            for f in sorted(os.listdir(self.data_dir)):
                t = f.removesuffix(".parquet")
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.data_dir}/{f}')"
                )
            res = con.execute(REGISTRY[name].oracle)
            cols = [d[0] for d in res.description]
            rows = res.fetchall()
        finally:
            con.close()
        return len(rows), value_hash(cols, rows), cols

    def _op(self, name: str) -> Op:
        tr = self.tracer

        def fn():
            with tr.span("queries.spark_fn", query=name):
                df = REGISTRY[name].spark_fn(self.spark, self.data_dir)
            with tr.span("consume"):
                rows = df.collect()
                tr.phases(df)
            return df.columns, rows

        def check(out) -> bool:
            cols, rows = out
            if name in self.expected:
                return len(rows) == self.expected[name]
            n, h, ocols = self._oracle(name)
            self.expected[name] = n
            return (
                sorted(cols) == sorted(ocols)
                and len(rows) == n
                and value_hash(cols, [tuple(r) for r in rows]) == h
            )

        return Op(name, "read", fn, check)

    def cycle(self, i: int) -> list[Op]:
        # cycle 0 is the untimed warm-up, which runs each query once
        ops = []
        for p in range(1 if i == 0 else TIMED_PASSES):
            order = list(QUERIES)
            random.Random(f"{self.seed}/{i}/{p}").shuffle(order)
            ops += [self._op(q) for q in order]
        return ops

    def final_check(self) -> list[str]:
        missing = [q for q in QUERIES if q not in self.expected]
        return [f"never checked: {missing}"] if missing else []

    def stored_bytes_per_live_row(self) -> float:
        paths = [os.path.join(self.data_dir, f) for f in os.listdir(self.data_dir)]
        n_rows = sum(pq.ParquetFile(p).metadata.num_rows for p in paths)
        return sum(os.path.getsize(p) for p in paths) / n_rows

    def layer_metrics(self, errors: list[str]) -> dict:
        spans = [s for s in self.tracer.spans if s.name == "queries.spark_fn"]
        return {
            "queries.build_s": median_or_zero(s.t1 - s.t0 for s in spans),
            "queries.build_jobs": mean_or_zero(s.spark.get("jobs", 0) for s in spans),
        }
