"""Run plumbing shared by every workload: the Spark session, CPU pinning,
the process-tree memory sampler, span recording and the Spark REST
status reader. Nothing here reaches inside ``usls_doc_spark``."""

from __future__ import annotations

import contextlib
import json
import os
import re
import threading
import time
import urllib.request

MAX_CORES = 4
PAGE_BYTES = os.sysconf("SC_PAGE_SIZE")


def pin_cores() -> list[int]:
    """Pin this process (and so the JVM and Python workers it starts) to
    at most MAX_CORES of the CPUs it may use."""
    cores = sorted(os.sched_getaffinity(0))[:MAX_CORES]
    os.sched_setaffinity(0, cores)
    return cores


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def driver_memory_mb() -> int:
    """An eighth of the machine's memory, within [1, 4] GiB."""
    total_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                total_kb = int(line.split()[1])
    return max(1024, min(4096, total_kb // 1024 // 8))


def start_session(root: str, scratch: str, n_cores: int, ui: bool):
    """A local[n_cores] session whose temporary files stay under
    ``scratch`` and whose Python workers import the package from ``root``."""
    from pyspark.sql import SparkSession

    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "spark-local")
    # no hsperfdata files in /tmp from the launcher JVM or the driver JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    mem = driver_memory_mb()
    spark = (
        SparkSession.builder.master(f"local[{n_cores}]")
        .appName("perfbench")
        .config("spark.driver.memory", f"{mem}m")
        .config("spark.sql.shuffle.partitions", str(n_cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.executorEnv.PYTHONPATH", root)
        .config("spark.sql.warehouse.dir", os.path.join(scratch, "warehouse"))
        .config("spark.driver.extraJavaOptions",
                f"-Xms{mem}m -XX:+AlwaysPreTouch -XX:-UsePerfData "
                f"-Djava.io.tmpdir={tmp} -Dderby.system.home={scratch}")
        .config("spark.ui.enabled", str(ui).lower())
        .config("spark.ui.port", "0")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


class RssMonitor:
    """Samples the summed resident memory of this process and all its
    descendants (driver, JVM, Python workers) while ``armed``. Only java
    and python processes count: children the JVM spawns to run shell
    commands share its address space until they exec, and would count it
    twice. RSS comes from statm, which the kernel answers from counters;
    smaps_rollup (for PSS) would walk the JVM's page tables every sample."""

    def __init__(self, interval_s: float = 0.25) -> None:
        self.interval_s = interval_s
        self.peak_bytes = 0
        self.peak_split: dict[str, int] = {}
        self.armed = False
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def tree_rss(self) -> tuple[int, dict[str, int]]:
        """Summed RSS of the tree in bytes, and its split by command name."""
        children: dict[int, list[int]] = {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(entry))
        split: dict[str, int] = {}
        todo = [os.getpid()]
        while todo:
            pid = todo.pop()
            todo.extend(children.get(pid, ()))
            try:
                with open(f"/proc/{pid}/comm") as f:
                    comm = f.read().strip()
                if not comm.startswith(("java", "python")):
                    continue
                with open(f"/proc/{pid}/statm") as f:
                    rss = int(f.read().split()[1]) * PAGE_BYTES
            except (OSError, IndexError, ValueError):
                continue
            split[comm] = split.get(comm, 0) + rss
        return sum(split.values()), split

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            if self.armed:
                total, split = self.tree_rss()
                if total > self.peak_bytes:
                    self.peak_bytes, self.peak_split = total, split

    def close(self) -> None:
        self._stop.set()
        self._thread.join()


class Tracer:
    """In-memory spans (name, start, end, parent) and counters, written
    out once when the run ends. Disabled tracers record nothing."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self.counters: dict[str, float] = {}
        self._stack: list[int] = []
        self._t0 = time.monotonic()

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "parent": self._stack[-1] if self._stack else None,
               "start_s": time.monotonic() - self._t0, "end_s": None}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end_s"] = time.monotonic() - self._t0

    def count(self, name: str, value: float) -> None:
        if self.enabled:
            self.counters[name] = self.counters.get(name, 0) + value


_UNITS = {"B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4,
          "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_VALUE_RE = re.compile(r"([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]+)?")


def parse_sql_metric(text: str) -> float:
    """'total (min, med, max ...)\\n13.9 s (...)' -> 13.9; sizes in bytes,
    times in seconds, plain counts as numbers."""
    line = text.split("\n")[-1]
    m = _VALUE_RE.match(line.strip())
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    return value * _UNITS.get(m.group(2) or "", 1.0)


class SparkRest:
    """Reads job, stage and SQL-node metrics of tagged work from the
    Spark UI's REST API. Work is tagged with ``setJobGroup(tag, tag)``,
    which also becomes the SQL execution's description."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def _executions(self, match) -> list[dict]:
        return [e for e in self.get("/sql?details=true&planDescription=false&length=100000")
                if match(e.get("description") or "")]

    def settle(self, match, timeout_s: float = 20.0) -> None:
        """Wait until the listener has recorded every tagged job and SQL
        execution as finished (events reach the UI asynchronously)."""
        deadline = time.monotonic() + timeout_s
        while time.monotonic() < deadline:
            jobs = [j for j in self.get("/jobs") if match(j.get("jobGroup") or "")]
            execs = self._executions(match)
            if (all(j["status"] != "RUNNING" for j in jobs)
                    and all(e["status"] != "RUNNING" for e in execs)
                    and all(j["numActiveTasks"] == 0 for j in jobs)):
                return
            time.sleep(0.2)

    def stage_metrics(self, match, wall_s: float, n_cores: int) -> dict[str, float]:
        jobs = [j for j in self.get("/jobs") if match(j.get("jobGroup") or "")]
        ids = {s for j in jobs for s in j["stageIds"]}
        stages = [s for s in self.get("/stages") if s["stageId"] in ids
                  and s["status"] == "COMPLETE"]
        run_ms = sum(s["executorRunTime"] for s in stages)
        skew = 1.0
        if stages:
            heavy = max(stages, key=lambda s: s["executorRunTime"])
            q = self.get(f"/stages/{heavy['stageId']}/{heavy['attemptId']}"
                         "/taskSummary?quantiles=0.5,1.0")["executorRunTime"]
            skew = q[1] / q[0] if q[0] > 0 else 1.0
        mb = 1e6
        return {
            "spark.tasks": float(sum(s["numCompleteTasks"] for s in stages)),
            "spark.task_skew": skew,
            "spark.core_busy_share": run_ms / 1000 / (wall_s * n_cores),
            "spark.shuffle_write_mb": sum(s["shuffleWriteBytes"] for s in stages) / mb,
            "spark.shuffle_read_mb": sum(s["shuffleReadBytes"] for s in stages) / mb,
            "spark.spill_mb": sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"]
                                  for s in stages) / mb,
        }

    def node_metrics(self, match) -> dict[str, float]:
        """Python-boundary totals (summed over tasks) and the number of
        parquet scan nodes across the tagged SQL executions."""
        names = {
            "time to run Python workers": "pipeline.python_run_s",
            "time to start Python workers": "pipeline.python_start_s",
            "data sent to Python workers": "pipeline.arrow_mb_sent",
            "data returned from Python workers": "pipeline.arrow_mb_returned",
        }
        out = {v: 0.0 for v in names.values()}
        out["scans"] = 0.0
        for e in self._executions(match):
            for node in e.get("nodes", []):
                if node["nodeName"].startswith("Scan parquet"):
                    out["scans"] += 1
                for m in node.get("metrics", []):
                    key = names.get(m["name"])
                    if key:
                        out[key] += parse_sql_metric(m["value"])
        for key in ("pipeline.arrow_mb_sent", "pipeline.arrow_mb_returned"):
            out[key] /= 1e6
        return out
