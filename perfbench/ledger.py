"""ledger_commits: a daily-balance Delta table, one tick per day.

Set-up generates every account's daily balances with
``generate_series_frame`` and writes a template table: the history in
one commit, the change data feed switched on, then a week of daily
appends so that reads meet more than one generation of files. Each
pass restores the template and then, per tick:

* ``write_delta_log`` appends the day's balances;
* ``delta_merge`` re-states the previous day for a few accounts;
* ``delta_delete`` drops one closed account;
* a snapshot aggregate is read through ``read_delta_log`` and again
  through ``format("tspdelta")``.

After the ticks: a time-travel read, ``delta_read_cdc``, a checkpoint,
``delta_optimize``, ``delta_vacuum``, a read-back and
``delta_verify_crc``. Every read is compared with a pandas model of the
same operations, computed during set-up.

One operation fails today on every pass: the change feed streamed
through ``readStream.format("tspdelta")`` from
``startingVersion='earliest'``. It is attempted, counted as failed and
timed apart from the pass.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np
import pandas as pd

import checks
from harness import dir_bytes, tree_cpu_s

ACCOUNTS = 200
HISTORY_DAYS = 90  # in the template's first commit
WEEK = 3  # daily appends on top of it in the template
TICKS = 1
CORRECTIONS = 12  # accounts re-stated per tick
START = "2019-01-01"
END = "2019-04-04"  # HISTORY_DAYS + WEEK + TICKS days from START


def _summary_col():
    from pyspark.sql import functions as F

    return [
        F.count(F.lit(1)),
        F.sum(F.round(F.col("balance") * 100).cast("long")),
        F.sum((F.col("account") * 1_000_003 + F.col("day")) % checks.KEY_MOD),
    ]


class LedgerCommits:
    # per tick: append, merge, delete, two reads; then time travel, cdc,
    # checkpoint, optimize, vacuum, read-back, crc; and the stream read
    ops_per_pass = 5 * TICKS + 7 + 1

    def __init__(self, spark, seed: int, work: str, tracer):
        self.spark = spark
        self.seed = seed
        self.work = work
        self.tracer = tracer
        self.template = os.path.join(work, "ledger_template")
        self.table = os.path.join(work, "ledger")
        self.pass_no = 0
        self.problems: list[str] = []

    # -- set-up ------------------------------------------------------------
    def _frame(self, rows: pd.DataFrame):
        return self.spark.createDataFrame(rows, "account long, day int, balance double")

    def _day_rows(self, accounts, day: int) -> pd.DataFrame:
        accounts = np.asarray(sorted(accounts), dtype=np.int64)
        return pd.DataFrame({
            "account": accounts,
            "day": np.full(len(accounts), day, dtype=np.int32),
            "balance": np.round(self.balances[accounts, day], 2),
        })

    def build_inputs(self) -> None:
        import time_series_prediction_spark.sources.deltalog as dl
        from time_series_prediction_spark.sources.generate import (
            generate_series_frame,
        )

        with self.tracer.span("generate"):
            series = generate_series_frame(
                self.spark, ACCOUNTS, start_date=START, end_date=END, seed=self.seed
            ).select("primaryaccountholder", "balance").toPandas()
        series = series.sort_values("primaryaccountholder")
        self.balances = np.stack(series["balance"].to_numpy()).astype(np.float64)

        shutil.rmtree(self.template, ignore_errors=True)
        base = pd.concat(
            [self._day_rows(range(ACCOUNTS), d) for d in range(HISTORY_DAYS)]
        )
        dl.write_delta_log(self._frame(base), self.template)
        dl.delta_set_table_property(
            self.spark, self.template, "delta.enableChangeDataFeed", "true"
        )
        model = [base]
        for d in range(HISTORY_DAYS, HISTORY_DAYS + WEEK):
            day = self._day_rows(range(ACCOUNTS), d)
            dl.write_delta_log(self._frame(day), self.template, mode="append")
            model.append(day)
        self.template_version = dl.delta_snapshot(self.spark, self.template)[2]
        self._plan_ticks(pd.concat(model, ignore_index=True))

    def _plan_ticks(self, live: pd.DataFrame) -> None:
        """Draw each tick's operations from the seed and replay them on
        a pandas model: the expected summary after every tick, the
        expected change feed, and the expected final state."""
        rng = np.random.default_rng(self.seed)
        open_accounts = set(range(ACCOUNTS))
        self.ticks = []
        self.expected_start = checks.ledger_summary(live)
        changes = []
        for t in range(TICKS):
            day = HISTORY_DAYS + WEEK + t
            append = self._day_rows(open_accounts, day)
            live = pd.concat([live, append], ignore_index=True)
            changes.append(append.assign(_change_type="insert"))
            fixed = rng.choice(sorted(open_accounts), CORRECTIONS, replace=False)
            fix = self._day_rows(fixed, day - 1)
            fix["balance"] = np.round(fix["balance"] + rng.normal(0, 50, len(fix)), 2)
            key = live.set_index(["account", "day"]).index
            hit = key.isin(fix.set_index(["account", "day"]).index)
            changes.append(live[hit].assign(_change_type="update_preimage"))
            changes.append(fix.assign(_change_type="update_postimage"))
            live = pd.concat([live[~hit], fix], ignore_index=True)
            closed = int(rng.choice(sorted(open_accounts - set(fixed.tolist()))))
            open_accounts.discard(closed)
            gone = live["account"] == closed
            changes.append(live[gone].assign(_change_type="delete"))
            live = live[~gone].reset_index(drop=True)
            self.ticks.append({
                "append": append, "fix": fix, "closed": closed,
                "expected": checks.ledger_summary(live),
            })
        self.expected_final = checks.ledger_summary(live)
        self.expected_feed = pd.concat(changes, ignore_index=True)

    def reset(self) -> None:
        shutil.rmtree(self.table, ignore_errors=True)
        shutil.copytree(self.template, self.table)

    # -- one pass ----------------------------------------------------------
    def _read_jvm(self, version: int | None = None):
        import time_series_prediction_spark.sources.deltalog as dl

        return dl.read_delta_log(self.spark, self.table, version=version).agg(
            *_summary_col()
        ).collect()[0]

    def _read_pyds(self):
        return self.spark.read.format("tspdelta").load(self.table).agg(
            *_summary_col()
        ).collect()[0]

    def run_pass(self, rec: dict) -> tuple[float, float]:
        """Returns the wall and CPU time of the stream read, which the
        pass loop takes out of the pass."""
        import time_series_prediction_spark.sources.deltalog as dl
        from time_series_prediction_spark.sources.delta_datasource import (
            register_tspdelta,
        )

        span = self.tracer.span
        problems: list[str] = []
        register_tspdelta(self.spark)
        for t, tick in enumerate(self.ticks):
            with span("tick", tick=t):
                c0 = time.perf_counter()
                with span("deltalog.append"):
                    dl.write_delta_log(
                        self._frame(tick["append"]), self.table, mode="append"
                    )
                with span("deltalog.merge"):
                    dl.delta_merge(
                        self.spark, self.table, self._frame(tick["fix"]),
                        key=["account", "day"],
                    )
                with span("deltalog.delete"):
                    dl.delta_delete(
                        self.spark, self.table, f"account = {tick['closed']}"
                    )
                c1 = time.perf_counter()
                with span("deltalog.snapshot"):
                    dl.delta_snapshot(self.spark, self.table)
                with span("deltalog.read"):
                    jvm = self._read_jvm()
                c2 = time.perf_counter()
                with span("delta_datasource.read"):
                    pyds = self._read_pyds()
                c3 = time.perf_counter()
            rec.setdefault("commit_s", []).append(c1 - c0)
            rec.setdefault("read_s", []).append(c2 - c1)
            rec.setdefault("pyds_read_s", []).append(c3 - c2)
            problems += checks.summary_matches(f"tick {t} read_delta_log", jvm, tick["expected"])
            problems += checks.summary_matches(f"tick {t} tspdelta", pyds, tick["expected"])

        live_rows = self.expected_final[0]
        rec.setdefault("stored_bytes_per_row", []).append(dir_bytes(self.table) / live_rows)
        with span("deltalog.time_travel"):
            old = self._read_jvm(version=self.template_version)
        problems += checks.summary_matches("time travel", old, self.expected_start)
        with span("deltalog.cdc"):
            feed, _ = dl.delta_read_cdc(self.spark, self.table, self.template_version)
            feed = feed.select("account", "day", "balance", "_change_type").toPandas()
        problems += checks.feed_matches("delta_read_cdc", feed, self.expected_feed)

        s0, u0 = time.perf_counter(), tree_cpu_s()
        self._stream_earliest(rec)
        excluded = (time.perf_counter() - s0, tree_cpu_s() - u0)

        with span("deltalog.checkpoint"):
            dl.write_checkpoint(self.spark, self.table)
        with span("deltalog.optimize"):
            dl.delta_optimize(self.spark, self.table)
        with span("deltalog.vacuum"):
            dl.delta_vacuum(self.spark, self.table, retention_ms=0)
        with span("deltalog.read"):
            after = self._read_jvm()
        problems += checks.summary_matches("read after OPTIMIZE and VACUUM", after, self.expected_final)
        with span("deltalog.verify_crc"):
            dl.delta_verify_crc(self.spark, self.table)
        self.problems += problems
        return excluded

    def _stream_earliest(self, rec: dict) -> None:
        """The change feed streamed from the earliest version. Today it
        raises; once it runs, its rows must net to what
        ``delta_read_cdc`` reports over the same versions."""
        import time_series_prediction_spark.sources.deltalog as dl

        self.pass_no += 1
        name = f"ledger_feed_{self.pass_no}"
        t0 = time.perf_counter()
        try:
            query = (
                self.spark.readStream.format("tspdelta")
                .option("readChangeFeed", "true")
                .option("startingVersion", "earliest")
                .load(self.table)
                .writeStream.format("memory").queryName(name)
                .option("checkpointLocation", os.path.join(self.work, "stream_ck", name))
                .trigger(availableNow=True)
                .start()
            )
            try:
                query.awaitTermination()
            finally:
                query.stop()
        except Exception:  # the fault this operation exists to show
            rec.setdefault("stream_failed", []).append(1)
            rec.setdefault("stream_s", []).append(time.perf_counter() - t0)
            return
        rec.setdefault("stream_failed", []).append(0)
        rec.setdefault("stream_s", []).append(time.perf_counter() - t0)
        got = self.spark.sql(f"SELECT account, day, balance, _change_type FROM {name}").toPandas()
        want, _ = dl.delta_read_cdc(self.spark, self.table, -1)
        want = want.select("account", "day", "balance", "_change_type").toPandas()
        self.problems += checks.feed_matches(
            "streamed change feed", checks.net_changes(got), checks.net_changes(want)
        )

    def after_pass(self, rec: dict) -> tuple[int, int]:
        return self.ops_per_pass, rec["stream_failed"][-1]

    # -- figures -----------------------------------------------------------
    def report(self, rec: dict, med) -> dict:
        return {
            "commit_p50_s": (med(rec["commit_s"]), "s"),
            "read_p50_s": (med(rec["read_s"]), "s"),
            "pyds_read_p50_s": (med(rec["pyds_read_s"]), "s"),
            "stored_bytes_per_row": (med(rec["stored_bytes_per_row"]), "B/row"),
            "stream_cdf_s": (med(rec["stream_s"]), "s"),
        }

    def layers(self, self_times: dict, stats: dict, setup_times: dict) -> dict:
        import time_series_prediction_spark.sources.deltalog as dl

        files = dl.delta_snapshot(self.spark, self.table)[0]
        gen = setup_times.get("generate", 0.0)
        out = {
            f"deltalog.{op}_s": self_times.get(f"deltalog.{op}", 0.0)
            for op in (
                "append", "merge", "delete", "snapshot", "read", "time_travel",
                "cdc", "checkpoint", "optimize", "vacuum",
            )
        }
        out.update({
            "generate.s": gen,
            "generate.series_per_s": ACCOUNTS / gen if gen else 0.0,
            "deltalog.live_files": len(files),
            "deltalog.log_bytes": dir_bytes(self.table, under="_delta_log"),
            "deltalog.data_bytes": dir_bytes(self.table) - dir_bytes(self.table, under="_delta_log"),
            "delta_datasource.read_s": self_times.get("delta_datasource.read", 0.0),
            "delta_datasource.partitions": self.spark.read.format("tspdelta")
            .load(self.table).rdd.getNumPartitions(),
        })
        return out

    # -- correctness -------------------------------------------------------
    def check(self) -> list[str]:
        problems = list(self.problems)
        pyds = self._read_pyds()
        problems += checks.summary_matches("tspdelta after OPTIMIZE and VACUUM", pyds, self.expected_final)
        return problems
