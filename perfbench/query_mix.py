"""query_mix: a fixed list of registry queries at sf0.1, built then counted.

The tables are generated from the seed (``tpch_gen``). Most queries are
short and bound by the per-query driver floor (driver build, Catalyst,
a few small adaptive jobs); a few read the copy-on-write and Delta
layouts, one goes through the Python data source, and two are heavy
joins. The layouts those queries derive are built on first touch, in
the warm-up pass, and kept: every timed pass reads the same layouts.
"""

from __future__ import annotations

import os
import time

import checks
import tpch_gen
from harness import fresh_dir

SF = 0.1
SHORT = [
    "q6_revenue_change",
    "order_status_pivot",
    "customers_without_urgent_orders",
    "join_cardinality_estimate",
    "string_predicate_scan",
    "orders_cube",
    "daily_active_users",
    "ts_weekly_trend",
]
TABLE_FORMATS = [
    "orders_cow_changes",
    "orders_delta_log_scan",
]
PYDS = ["orders_delta_pyds_timetravel_scan"]
HEAVY = ["q9_profit_by_nation_year", "q21_last_shipper"]
QUERIES = SHORT + TABLE_FORMATS + PYDS + HEAVY


class QueryMix:
    ops_per_pass = len(QUERIES)
    # per-layer figures only this workload produces
    extra_layers = {
        "plans.build_s": "s",
        "plans.exec_s": "s",
        "plans.jobs_per_query": "count",
        "plans.stages_per_query": "count",
        "plans.tasks_per_query": "count",
    }

    def __init__(self, spark, seed: int, work: str, tracer):
        import __spark_entry__

        self.spark = spark
        self.seed = seed
        self.tracer = tracer
        self.data = os.path.join(work, "tables")
        registry = __spark_entry__.queries()
        self.oracles = __spark_entry__.oracle_sql()
        self.queries = {name: registry[name] for name in QUERIES}

    def build_inputs(self) -> None:
        fresh_dir(self.data)
        tpch_gen.write_tables(self.data, self.seed, SF)

    def reset(self) -> None:
        """Session memos and persisted blocks are dropped by the pass
        loop; the tables and derived layouts stay."""

    def run_pass(self, rec: dict) -> None:
        for name in QUERIES:
            with self.tracer.span("query", query=name):
                t0 = time.perf_counter()
                with self.tracer.span("plans.build"):
                    df = self.queries[name](self.spark, self.data)
                t1 = time.perf_counter()
                layer = "delta_datasource.read" if name in PYDS else "plans.exec"
                with self.tracer.span(layer):
                    df.count()
                t2 = time.perf_counter()
            rec.setdefault("query_s", []).append(t2 - t0)
            rec.setdefault("build_s", []).append(t1 - t0)

    def after_pass(self, rec: dict) -> tuple[int, int]:
        return self.ops_per_pass, 0

    def report(self, rec: dict, med) -> dict:
        return {"query_p50_s": (med(rec["query_s"]), "s")}

    def layers(self, self_times: dict, stats: dict, setup_times: dict) -> dict:
        per_query = stats.get("per_query", [])
        n = max(len(per_query), 1)
        return {
            "plans.build_s": self_times.get("plans.build", 0.0),
            "plans.exec_s": self_times.get("plans.exec", 0.0),
            "plans.jobs_per_query": sum(q["jobs"] for q in per_query) / n,
            "plans.stages_per_query": sum(q["stages"] for q in per_query) / n,
            "plans.tasks_per_query": sum(q["tasks"] for q in per_query) / n,
            "delta_datasource.read_s": self_times.get("delta_datasource.read", 0.0),
        }

    def check(self) -> list[str]:
        """Every query equals its DuckDB oracle over the same tables."""
        import duckdb

        con = duckdb.connect()
        for table in tpch_gen.TABLES:
            con.execute(
                f"CREATE VIEW {table} AS SELECT * FROM "
                f"'{os.path.join(self.data, table + '.parquet')}'"
            )
        problems: list[str] = []
        for name in QUERIES:
            got = self.queries[name](self.spark, self.data).toPandas()
            want = con.execute(self.oracles[name]).df()
            problems += checks.frames_match(name, got, want)
        return problems
