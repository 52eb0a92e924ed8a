"""Shared machinery: the Spark session, process-tree CPU and memory,
the pass loop, spans, and Spark's event log.

Every workload is a closed loop with one client: the benchmark calls
the library, waits for the result, then issues the next call.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import statistics
import subprocess
import time
from contextlib import contextmanager

_CLK_TCK = os.sysconf("SC_CLK_TCK")


# -- process tree ----------------------------------------------------------
def _children(pid: int) -> list[int]:
    kids: list[int] = []
    for task in glob.glob(f"/proc/{pid}/task/*/children"):
        try:
            with open(task) as f:
                kids.extend(int(c) for c in f.read().split())
        except OSError:
            continue
    return kids


def process_tree(root: int | None = None) -> list[int]:
    """This process and every live descendant: the JVM that PySpark
    launches and the Python workers the JVM forks."""
    todo = [root or os.getpid()]
    seen: list[int] = []
    while todo:
        pid = todo.pop()
        if pid in seen:
            continue
        seen.append(pid)
        todo.extend(_children(pid))
    return seen


def tree_cpu_s() -> float:
    """User plus system CPU of the process tree, reaped children included."""
    total = 0
    for pid in process_tree():
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # fields[0] is field 3 (state); utime..cstime are fields 14..17
        total += sum(int(v) for v in fields[11:15])
    return total / _CLK_TCK


def tree_peak_rss_mb() -> float:
    """Sum over the process tree of each process's peak resident set."""
    total_kb = 0
    for pid in process_tree():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


# -- spans -----------------------------------------------------------------
class Tracer:
    """Spans kept in memory: name, start, end, parent and a trace id per
    pass. Disabled, ``span`` costs one attribute test."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.trace_id: str | None = None

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "trace": self.trace_id,
            "start": time.time(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def self_times(self, trace_id: str) -> dict[str, float]:
        """Per span name: summed duration minus the time its children cover."""
        spans = [s for s in self.spans if s["trace"] == trace_id]
        child_s: dict[int, float] = {}
        for s in spans:
            if s["parent"] is not None:
                child_s[s["parent"]] = (
                    child_s.get(s["parent"], 0.0) + s["end"] - s["start"]
                )
        out: dict[str, float] = {}
        for s in spans:
            own = (s["end"] - s["start"]) - child_s.get(s["id"], 0.0)
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    def named(self, trace_id: str, name: str) -> list[dict]:
        return [
            s for s in self.spans if s["trace"] == trace_id and s["name"] == name
        ]


# -- Spark event log -------------------------------------------------------
def read_event_log(log_dir: str) -> list[dict]:
    events: list[dict] = []
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        with open(path) as f:
            for line in f:
                line = line.strip()
                if line:
                    events.append(json.loads(line))
    return events


def spark_job_stats(events: list[dict], start: float, end: float) -> dict:
    """Jobs submitted in ``[start, end]`` (epoch seconds) and the stages
    and tasks they ran: counts, executor run time, shuffle write, spill."""
    lo, hi = start * 1000.0, end * 1000.0
    jobs = [
        e for e in events
        if e.get("Event") == "SparkListenerJobStart"
        and lo <= e.get("Submission Time", -1) <= hi
    ]
    stage_ids = {sid for j in jobs for sid in j.get("Stage IDs", [])}
    stages = 0
    for e in events:
        if e.get("Event") == "SparkListenerStageCompleted":
            info = e.get("Stage Info", {})
            if info.get("Stage ID") in stage_ids and info.get("Completion Time"):
                stages += 1
    tasks = 0
    run_ms = shuffle_b = spill_b = 0
    for e in events:
        if e.get("Event") != "SparkListenerTaskEnd":
            continue
        if e.get("Stage ID") not in stage_ids:
            continue
        tasks += 1
        m = e.get("Task Metrics") or {}
        run_ms += m.get("Executor Run Time", 0)
        shuffle_b += (m.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0
        )
        spill_b += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    return {
        "jobs": len(jobs),
        "stages": stages,
        "tasks": tasks,
        "executor_run_s": run_ms / 1000.0,
        "shuffle_write_mb": shuffle_b / 1e6,
        "spill_mb": spill_b / 1e6,
    }


# -- session ---------------------------------------------------------------
def cores() -> int:
    return len(os.sched_getaffinity(0))


def start_session(work: str, event_log: bool):
    """``local[<cores>]`` session whose scratch space stays under ``work``."""
    from time_series_prediction_spark.session import get_spark

    local = os.path.join(work, "spark-local")
    os.makedirs(local, exist_ok=True)
    conf = {
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # the driver heap starts at Spark's default 1 GB maximum: left to
        # grow, its sizing and the collections it triggers differed from
        # run to run, and whole ledger runs came out up to 50% slower
        "spark.driver.extraJavaOptions": (
            f"-Xms1g -Djava.io.tmpdir={local} -Dderby.system.home={work}"
        ),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + log_dir
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.rolling.enabled"] = "false"
    spark = get_spark(
        app_name="perfbench", master=f"local[{cores()}]", extra_conf=conf
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then the JVM it launched, and wait for both to end."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def reset_spark_state(spark) -> None:
    """Drop session memos, cached tables and persisted blocks so the
    next pass recomputes from its inputs, then collect garbage in the
    driver and the JVM so that no pass inherits another's heap."""
    import gc

    from time_series_prediction_spark.session_memo import clear_session_memos

    clear_session_memos(spark)
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def dir_bytes(path: str, under: str | None = None) -> int:
    """Bytes of every regular file below ``path`` (only below the
    ``under`` subdirectory when given)."""
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        rel = os.path.relpath(dirpath, path)
        if under is not None and not (rel == under or rel.startswith(under + os.sep)):
            continue
        for name in files:
            total += os.path.getsize(os.path.join(dirpath, name))
    return total


def median(values: list[float]) -> float:
    return float(statistics.median(values))
