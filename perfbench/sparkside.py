"""Spark session lifecycle, Spark's own REST metrics, and memory probes
of the JVM and its Python workers, all read from outside the program.

Only two settings differ from the package defaults, both forced by the
host: the core count (at most ``nproc``) and the driver memory (the 32g
default exceeds small hosts).  No Spark metrics confs are turned on; the
REST API is the UI's, which is on by default.
"""

from __future__ import annotations

import json
import os
import re
import signal
import subprocess
import threading
import time
import urllib.request

from spans import descendants, proc_mem_mb

_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
#: the SQL endpoint pages its list (20 executions by default)
_SQL_PAGE = 100_000
_VALUE = re.compile(r"^(?:total[^\n]*\n)?([\d.,]+) ?([A-Za-z]+)?")


def parse_metric(text: str) -> float:
    """A SQL metric string ('8.3 MiB', '486 ms', 'total (min, med, max
    ...)\\n2.7 s (...)', '20,000') as bytes, seconds or a count."""
    m = _VALUE.match(text.strip())
    if not m:
        return 0.0
    num = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit in _SIZE:
        return num * _SIZE[unit]
    if unit in _TIME:
        return num * _TIME[unit]
    return num


def _alive(pid: int) -> bool:
    """True while ``pid`` runs (a zombie awaiting its reaper has ended)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


_PY_BYTES = ("data sent to Python workers", "data returned from Python workers")
#: plan nodes of Python data sources (scan and write)
_DATASOURCE_NODES = ("BatchScan", "OverwriteByExpression", "AppendData")


def _python_bytes(execs: list[dict], sql_mark: int) -> float:
    """Bytes sent to and returned from Python workers by the executions
    after ``sql_mark`` (``execs`` sorted by id).  On Spark 4.1 the
    Python-data-source nodes report a running total over every scan and
    write of the session, so their share of one execution is the increase
    over the previous execution that had such a node; other Python nodes
    report per execution."""
    total, last_cum = 0.0, 0.0
    for e in execs:
        own = 0.0
        for node in e.get("nodes", []):
            value = sum(
                parse_metric(m["value"]) for m in node.get("metrics", []) if m["name"] in _PY_BYTES
            )
            if node["nodeName"].startswith(_DATASOURCE_NODES) and value:
                own += value - last_cum if value >= last_cum else value
                last_cum = value
            else:
                own += value
        if e["id"] > sql_mark:
            total += own
    return total


class SparkHost:
    """Starts and finally shuts down the one Spark JVM of a
    benchmark process, and reads its REST API."""

    def __init__(self, cores: int, driver_mem: str):
        self.cores = cores
        self.driver_mem = driver_mem
        self.spark = None
        self.jvm_pid: int | None = None

    def start(self):
        from excelstream_spark.session import get_spark
        from excelstream_spark.sources.xlsx import register_xlsx

        os.environ["SPARK_GRAFT_CPUS"] = str(self.cores)
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = self.driver_mem
        self.spark = get_spark("perfbench")
        register_xlsx(self.spark)
        sc = self.spark.sparkContext
        self.jvm_pid = sc._gateway.proc.pid
        self._base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
        return self.spark

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown(self, timeout: float = 60.0) -> None:
        """Stop the session, end the JVM and wait until it and every
        process under it (the Python daemon and workers) have exited;
        whatever is still alive after ``timeout`` is killed."""
        from pyspark import SparkContext

        self.stop_session()
        gw = SparkContext._gateway
        if gw is None:
            return
        kids = descendants(gw.proc.pid)
        gw.shutdown()
        gw.proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            gw.proc.wait(timeout)
        except subprocess.TimeoutExpired:
            gw.proc.kill()
            gw.proc.wait()
        deadline = time.monotonic() + timeout
        while any(_alive(k) for k in kids) and time.monotonic() < deadline:
            time.sleep(0.05)
        for k in kids:
            if _alive(k):
                try:
                    os.kill(k, signal.SIGKILL)
                except ProcessLookupError:
                    pass  # exited since the check
        SparkContext._gateway = None
        SparkContext._jvm = None

    # -- REST -------------------------------------------------------------

    def rest(self, path: str):
        with urllib.request.urlopen(self._base + path, timeout=30) as r:
            return json.load(r)

    def mark(self) -> tuple[int, int]:
        """(highest job id, highest SQL execution id) seen so far."""
        jobs = self.rest("/jobs")
        sql = self.rest(f"/sql?details=false&length={_SQL_PAGE}")
        return (
            max((j["jobId"] for j in jobs), default=-1),
            max((e["id"] for e in sql), default=-1),
        )

    def phase_metrics(self, mark: tuple[int, int]) -> dict:
        """Stage and SQL-operator totals of every job and SQL execution
        started after ``mark``.  Waits for the UI listener to catch up."""
        job_mark, sql_mark = mark
        for _ in range(100):
            jobs = [j for j in self.rest("/jobs") if j["jobId"] > job_mark]
            every = sorted(
                self.rest(f"/sql?details=true&planDescription=false&length={_SQL_PAGE}"),
                key=lambda e: e["id"],
            )
            execs = [e for e in every if e["id"] > sql_mark]
            if all(j["status"] != "RUNNING" for j in jobs) and all(
                e["status"] != "RUNNING" for e in execs
            ):
                break
            time.sleep(0.1)
        stage_ids = {s for j in jobs for s in j["stageIds"]}
        stages = [
            s for s in self.rest("/stages")
            if s["stageId"] in stage_ids and s["status"] == "COMPLETE"
        ]
        out = {
            "tasks": sum(s["numTasks"] for s in stages),
            "run_s": sum(s["executorRunTime"] for s in stages) / 1e3,
            "cpu_s": sum(s["executorCpuTime"] for s in stages) / 1e9,
            "gc_s": sum(s["jvmGcTime"] for s in stages) / 1e3,
            "shuffle_bytes": sum(s["shuffleWriteBytes"] for s in stages),
        }
        out["cpu_share"] = out["cpu_s"] / out["run_s"] if out["run_s"] else 0.0
        out["task_max_over_median"] = self._skew(stages)
        out["python_bytes"] = _python_bytes(every, sql_mark)
        return out

    def _skew(self, stages: list[dict]) -> float:
        """Slowest over median task duration in the stage with the most
        run time: how much one straggler holds up the phase."""
        multi = [s for s in stages if s["numTasks"] > 1]
        if not multi:
            return 0.0
        s = max(multi, key=lambda s: s["executorRunTime"])
        q = self.rest(f"/stages/{s['stageId']}/{s['attemptId']}/taskSummary?quantiles=0.5,1.0")
        med, top = q["duration"]
        return top / med if med else 0.0


class TreeMemory(threading.Thread):
    """Polls VmHWM of the JVM and of every process under it (the Python
    daemon and workers), keeping each pid's highest reading, so workers
    that exit before the end still count."""

    def __init__(self, host: SparkHost, interval: float = 0.25):
        super().__init__(daemon=True)
        self.host = host
        self.interval = interval
        self.jvm_hwm = 0.0
        self.worker_hwm: dict[int, float] = {}
        self._halt = threading.Event()

    def sample(self) -> None:
        pid = self.host.jvm_pid
        self.jvm_hwm = max(self.jvm_hwm, proc_mem_mb(pid).get("VmHWM", 0.0))
        for k in descendants(pid):
            hwm = proc_mem_mb(k).get("VmHWM", 0.0)
            self.worker_hwm[k] = max(self.worker_hwm.get(k, 0.0), hwm)

    def run(self) -> None:
        while not self._halt.wait(self.interval):
            self.sample()

    def finish(self) -> None:
        self._halt.set()
        self.join(10)
        self.sample()

    @property
    def python_peak_mb(self) -> float:
        return max(self.worker_hwm.values(), default=0.0)
