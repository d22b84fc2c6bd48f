"""lake_dml: the paper's table lifecycle on one month-partitioned table.

Set-up builds ``db.orders`` (partitioned by ``months(o_orderdate)``) from a
generated batch of orders. Each cycle then runs, with inputs drawn from the
seed (``KINDS`` fixes the order):

- commits: a plain ``append``; a schema-evolving ``append`` that brings a new
  int column, then ``widen_column_type`` (int -> bigint) and
  ``rename_column`` on that column; a ``merge_into`` upsert (half matched
  keys, half new); copy-on-write ``delete_where`` and ``update_where`` on one
  month each;
- reads: ``read_where`` on one key, ``read_where`` on one month and a
  ``read(version=...)`` time travel;
- metadata: ``files()`` + ``snapshots()``;
- maintenance, at the end of the cycle: ``compact`` and
  ``expire_snapshots``.

Every operation is replayed on a duckdb copy of the table (outside timing).
Reads are compared with the replay at that point, each commit records a
replay snapshot for time travel, and the final table state (row count and
value hash) is compared with the replay at the end of the run.
"""

from __future__ import annotations

import datetime as dt
import os
import random

import duckdb
import numpy as np
import pyarrow as pa
from pyspark.sql import functions as F

import gen
from harness import Op, Tracer, mean_or_zero, median_or_zero
from check_correctness import value_hash
from spark_iceberg_schema_evolution_spark.tables import LakehouseCatalog

KEEP_LAST = 6


def _month(m: int) -> tuple[dt.datetime, dt.datetime]:
    lo = dt.datetime(2024, m, 1)
    hi = dt.datetime(2024 + m // 12, m % 12 + 1, 1)
    return lo, hi


def _month_sql(m: int) -> str:
    lo, hi = _month(m)
    return f"o_orderdate >= TIMESTAMP '{lo}' AND o_orderdate < TIMESTAMP '{hi}'"


def _du(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, names in os.walk(path)
        for f in names
    )


class LakeDml:
    name = "lake_dml"
    default_scale = 0.1

    def __init__(self, spark, tracer: Tracer, seed: int, scale: float):
        self.spark = spark
        self.tracer = tracer
        self.seed = seed
        self.scale = scale
        self.n_cust = gen.rows("customer", scale)
        self.n_initial = gen.rows("orders", scale) // 5
        self.batch_rows = max(20, self.n_initial // 30)
        self.table = None

    # -- set-up -------------------------------------------------------------

    def prepare(self, work_dir: str) -> None:
        self.data_dir = os.path.join(work_dir, "inputs")
        first = gen.write_table(
            gen.lake_orders(self.seed, 0, self.n_initial, 0, self.n_cust),
            os.path.join(self.data_dir, "batch-0.parquet"),
        )
        catalog = LakehouseCatalog(self.spark, os.path.join(work_dir, "warehouse"))
        catalog.create_namespace("db")
        self.table = catalog.table("db", "orders")
        df = self.spark.read.parquet(first)
        self.table.create(df.schema, partition_month_of="o_orderdate")
        self.version = self.table.append(df)
        self.files_under = self.table.data_dir
        self.con = duckdb.connect()
        self.con.execute(f"CREATE TABLE t AS SELECT * FROM read_parquet('{first}') LIMIT 0")
        self.snaps: dict[int, str] = {}
        self._snapshot(self.version - 1)
        self.con.execute(f"INSERT INTO t SELECT * FROM read_parquet('{first}')")
        self._snapshot(self.version)
        self.next_key = self.n_initial
        self.n_batches = 1
        self.rows_changed: dict[int, int] = {}

    def _snapshot(self, version: int) -> None:
        name = f"v{version}"
        self.con.execute(f"CREATE OR REPLACE TABLE {name} AS SELECT * FROM t")
        self.snaps[version] = name

    def _batch_file(self, table) -> str:
        path = os.path.join(self.data_dir, f"batch-{self.n_batches}.parquet")
        self.n_batches += 1
        return gen.write_table(table, path)

    def _commit_check(self, sql: list[str], cow: bool = False):
        """Replay ``sql`` on duckdb once the engine committed, and snapshot
        it under the engine's new version. For a copy-on-write DML the
        statements' row counts are the rows it changed."""

        def check(version) -> bool:
            changed = 0
            for stmt in sql:
                res = self.con.execute(stmt).fetchone()
                if cow:
                    changed += int(res[0])
            if cow:
                self.rows_changed[self.tracer.op_id] = changed
                if changed == 0 and version == self.version:
                    return True  # stats proved no match: no new snapshot
            if version <= self.version:
                return False
            self.version = version
            self._snapshot(version)
            return True

        return check

    # -- operations ---------------------------------------------------------

    def _append(self, rng: random.Random, cycle: int, evolve: bool) -> Op:
        tbl = gen.lake_orders(self.seed, self.n_batches, self.batch_rows, self.next_key, self.n_cust)
        self.next_key += self.batch_rows
        sql = []
        if evolve:
            col = f"c{cycle}"
            vals = np.random.default_rng([self.seed, 4, cycle]).integers(0, 1000, tbl.num_rows)
            tbl = tbl.append_column(col, pa.array(vals.astype(np.int32)))
            sql.append(f"ALTER TABLE t ADD COLUMN {col} INTEGER")
        path = self._batch_file(tbl)
        sql.append(f"INSERT INTO t BY NAME SELECT * FROM read_parquet('{path}')")
        tr = self.tracer

        def fn():
            df = self.spark.read.parquet(path)
            with tr.span("tables.append"):
                return self.table.append(df)

        return Op("append_evolve" if evolve else "append", "commit", fn, self._commit_check(sql))

    def _widen(self, cycle: int) -> Op:
        col = f"c{cycle}"
        tr = self.tracer

        def fn():
            with tr.span("tables.widen_column_type"):
                return self.table.widen_column_type(col, "bigint")

        return Op("widen_column_type", "commit", fn,
                  self._commit_check([f"ALTER TABLE t ALTER COLUMN {col} TYPE BIGINT"]))

    def _rename(self, cycle: int) -> Op:
        old, new = f"c{cycle}", f"r{cycle}"
        tr = self.tracer

        def fn():
            with tr.span("tables.rename_column"):
                return self.table.rename_column(old, new)

        return Op("rename_column", "commit", fn,
                  self._commit_check([f"ALTER TABLE t RENAME COLUMN {old} TO {new}"]))

    def _merge(self, rng: random.Random) -> Op:
        half = self.batch_rows // 2
        matched = np.array(sorted(rng.sample(range(self.next_key), half)), dtype=np.int64)
        tbl = gen.lake_orders(self.seed, self.n_batches, self.batch_rows, self.next_key, self.n_cust)
        keys = np.concatenate([matched, np.arange(self.next_key, self.next_key + self.batch_rows - half)])
        self.next_key += self.batch_rows - half
        tbl = tbl.set_column(0, "o_orderkey", pa.array(keys))
        path = self._batch_file(tbl)
        src = f"read_parquet('{path}')"
        sql = [
            f"UPDATE t SET o_totalprice = s.o_totalprice, o_orderstatus = s.o_orderstatus "
            f"FROM {src} s WHERE t.o_orderkey = s.o_orderkey",
            f"INSERT INTO t BY NAME SELECT * FROM {src} s "
            f"WHERE s.o_orderkey NOT IN (SELECT o_orderkey FROM t)",
        ]
        tr = self.tracer

        def fn():
            df = self.spark.read.parquet(path)
            with tr.span("tables.merge_into"):
                return self.table.merge_into(
                    df,
                    on=["o_orderkey"],
                    # the batch's keys are distinct by construction, as a
                    # CDC batch deduplicated upstream would be
                    source_unique=True,
                    matched_update={
                        "o_totalprice": "s.o_totalprice",
                        "o_orderstatus": "s.o_orderstatus",
                    },
                )

        return Op("merge_into", "commit", fn, self._commit_check(sql, cow=True))

    def _delete(self, rng: random.Random) -> Op:
        cond = f"{_month_sql(rng.randint(1, 12))} AND o_orderkey % 7 = {rng.randint(0, 6)}"
        tr = self.tracer

        def fn():
            with tr.span("tables.delete_where"):
                return self.table.delete_where(cond)

        return Op("delete_where", "commit", fn,
                  self._commit_check([f"DELETE FROM t WHERE {cond}"], cow=True))

    def _update(self, rng: random.Random) -> Op:
        cond = f"{_month_sql(rng.randint(1, 12))} AND o_orderkey % 5 = {rng.randint(0, 4)}"
        tr = self.tracer

        def fn():
            with tr.span("tables.update_where"):
                return self.table.update_where(cond, {"o_orderpriority": "'1-URGENT'"})

        return Op("update_where", "commit", fn, self._commit_check(
            [f"UPDATE t SET o_orderpriority = '1-URGENT' WHERE {cond}"], cow=True))

    def _plan(self, filters) -> None:
        if self.tracer.enabled:
            with self.tracer.span("tables.plan_scan") as s:
                plan = self.table.plan_scan(filters)
            s.attrs["files_scanned"] = plan["files_scanned"]
            s.attrs["files_total"] = plan["files_total"]

    def _read_key(self, rng: random.Random) -> Op:
        key = rng.randrange(self.next_key)
        filters = [("o_orderkey", "=", key)]
        tr = self.tracer

        def fn():
            self._plan(filters)
            with tr.span("tables.read_where"):
                df = self.table.read_where(filters)
            with tr.span("consume"):
                rows = df.collect()
                tr.phases(df)
            return df.columns, rows

        def check(out) -> bool:
            cols, rows = out
            res = self.con.execute(f"SELECT * FROM t WHERE o_orderkey = {key}")
            dcols = [d[0] for d in res.description]
            return value_hash(cols, [tuple(r) for r in rows]) == value_hash(dcols, res.fetchall())

        return Op("read_key", "read", fn, check)

    def _read_month(self, rng: random.Random) -> Op:
        m = rng.randint(1, 12)
        lo, hi = _month(m)
        filters = [("o_orderdate", ">=", lo), ("o_orderdate", "<", hi)]
        tr = self.tracer

        def fn():
            self._plan(filters)
            with tr.span("tables.read_where"):
                df = self.table.read_where(filters).agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents"),
                    F.countDistinct("o_custkey").alias("custs"),
                )
            with tr.span("consume"):
                row = df.collect()[0]
                tr.phases(df)
            return tuple(row)

        def check(out) -> bool:
            exp = self.con.execute(
                "SELECT COUNT(*), SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)), "
                f"COUNT(DISTINCT o_custkey) FROM t WHERE {_month_sql(m)}"
            ).fetchone()
            return tuple(out) == tuple(exp)

        return Op("read_month", "read", fn, check)

    def _read_version(self, rng: random.Random) -> Op:
        tr = self.tracer
        back = rng.randint(1, KEEP_LAST - 2)
        state = {}

        def fn():
            live = sorted(self.snaps)
            state["v"] = v = live[max(0, len(live) - 1 - back)]
            with tr.span("tables.read"):
                df = self.table.read(version=v).agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents"),
                    F.max("o_orderkey").alias("kmax"),
                )
            with tr.span("consume"):
                row = df.collect()[0]
                tr.phases(df)
            return tuple(row)

        def check(out) -> bool:
            exp = self.con.execute(
                "SELECT COUNT(*), SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)), "
                f"MAX(o_orderkey) FROM {self.snaps[state['v']]}"
            ).fetchone()
            return tuple(out) == tuple(exp)

        return Op("read_version", "read", fn, check)

    def _read_meta(self) -> Op:
        tr = self.tracer

        def fn():
            with tr.span("tables.files"):
                files = self.table.files()
            with tr.span("tables.snapshots"):
                snaps = self.table.snapshots()
            return files, snaps

        def check(out) -> bool:
            files, snaps = out
            n = self.con.execute("SELECT COUNT(*) FROM t").fetchone()[0]
            live_rows = sum(f["rows"] or 0 for f in files if f["content"] == "data")
            return live_rows == n and [s["version"] for s in snaps] == sorted(self.snaps)

        return Op("files_snapshots", "meta", fn, check)

    def _compact(self) -> Op:
        tr = self.tracer

        def fn():
            with tr.span("tables.compact"):
                return self.table.compact()

        return Op("compact", "maint", fn, self._commit_check([]))

    def _expire(self) -> Op:
        tr = self.tracer

        def fn():
            with tr.span("tables.expire_snapshots"):
                return self.table.expire_snapshots(keep_last=KEEP_LAST)

        def check(dropped) -> bool:
            for v in dropped:
                self.con.execute(f"DROP TABLE {self.snaps.pop(v)}")
            return len(self.snaps) <= KEEP_LAST

        return Op("expire_snapshots", "maint", fn, check)

    def _ops(self, kinds: list[str], i: int, rng: random.Random):
        """Ops are built lazily, in order, so each one's inputs see the
        keys and columns left by the ones before it."""
        make = {
            "append": lambda: self._append(rng, i, False),
            "evolve": lambda: self._append(rng, i, True),
            "widen": lambda: self._widen(i),
            "rename": lambda: self._rename(i),
            "merge": lambda: self._merge(rng),
            "delete": lambda: self._delete(rng),
            "update": lambda: self._update(rng),
            "read_key": lambda: self._read_key(rng),
            "read_month": lambda: self._read_month(rng),
            "read_version": lambda: self._read_version(rng),
            "meta": self._read_meta,
            "compact": self._compact,
            "expire": self._expire,
        }
        for k in kinds:
            yield make[k]()

    # One fixed sequence, each operation once: the seed draws every
    # operation's inputs (batches, keys, months), not their order, because
    # the order decides which files the snapshots kept for time travel pin,
    # and so the stored bytes.
    KINDS = ["append", "read_key", "merge", "evolve", "read_month", "widen",
             "delete", "read_version", "rename", "update", "meta", "compact",
             "expire"]

    def cycle(self, i: int):
        return self._ops(self.KINDS, i, random.Random(f"{self.seed}/lake/{i}"))

    # -- results ------------------------------------------------------------

    def final_check(self) -> list[str]:
        df = self.table.read()
        rows = [tuple(r) for r in df.collect()]
        res = self.con.execute("SELECT * FROM t")
        dcols = [d[0] for d in res.description]
        drows = res.fetchall()
        if len(rows) != len(drows) or value_hash(df.columns, rows) != value_hash(dcols, drows):
            return [f"final table state differs from the replay: {len(rows)} vs {len(drows)} rows"]
        return []

    def stored_bytes_per_live_row(self) -> float:
        n = self.con.execute("SELECT COUNT(*) FROM t").fetchone()[0]
        return _du(self.table.path) / n

    def layer_metrics(self, errors: list[str]) -> dict:
        spans = self.tracer.spans

        def durations(name):
            return [s.t1 - s.t0 for s in spans if s.name == name]

        op_jobs: dict[int, int] = {}
        op_out: dict[int, int] = {}
        for s in spans:
            op_jobs[s.op_id] = op_jobs.get(s.op_id, 0) + s.spark.get("jobs", 0)
            op_out[s.op_id] = op_out.get(s.op_id, 0) + s.spark.get("output_records", 0)
        commit_ops = {s.op_id for s in spans if s.name.startswith("op.") and s.name[3:] in (
            "append", "append_evolve", "widen_column_type", "rename_column",
            "merge_into", "delete_where", "update_where")}
        cow = [i for i in self.rows_changed if i in op_out]
        plans = [s for s in spans if s.name == "tables.plan_scan"]
        return {
            "tables.append_s": median_or_zero(durations("tables.append")),
            "tables.merge_into_s": median_or_zero(durations("tables.merge_into")),
            "tables.delete_where_s": median_or_zero(durations("tables.delete_where")),
            "tables.update_where_s": median_or_zero(durations("tables.update_where")),
            "tables.compact_s": median_or_zero(durations("tables.compact")),
            "tables.expire_snapshots_s": median_or_zero(durations("tables.expire_snapshots")),
            "tables.read_plan_s": median_or_zero(durations("tables.plan_scan")),
            # each read kind's own latency, which read_p50_s (the middle of
            # the three) cannot show
            "tables.read_key_s": median_or_zero(durations("op.read_key")),
            "tables.read_month_s": median_or_zero(durations("op.read_month")),
            "tables.read_version_s": median_or_zero(durations("op.read_version")),
            "tables.jobs_per_commit": mean_or_zero(op_jobs[i] for i in commit_ops),
            "tables.rows_written_per_row_changed": (
                sum(op_out[i] for i in cow) / max(1, sum(self.rows_changed[i] for i in cow))
            ),
            "tables.files_scanned_ratio": mean_or_zero(
                s.attrs["files_scanned"] / max(1, s.attrs["files_total"]) for s in plans
            ),
            "tables.live_files": float(sum(1 for f in self.table.files() if f["content"] == "data")),
            "tables.metadata_bytes": float(_du(self.table.meta_dir)),
            "tables.commit_conflicts": float(sum("CommitConflict" in e for e in errors)),
        }
