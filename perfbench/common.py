"""Shared plumbing for the benchmark workloads: the Spark session, the
process-tree memory sampler, job counting, percentiles and the result line.

Nothing here imports pyspark or the engine at module level, so the test
suite and the input generator can import it cheaply.
"""

from __future__ import annotations

import json
import os
import signal
import statistics
import subprocess
import threading
import time
from dataclasses import dataclass, field

#: Root of the checkout (the directory that holds ``perfbench/``).
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: Scratch space for the run; git ignores it and the run deletes it.
WORK = os.path.join(ROOT, "perfbench", "_work")

PAGE_MB = os.sysconf("SC_PAGE_SIZE") / 2**20


#: Seconds between two samples of the process tree's resident memory.
SAMPLE_INTERVAL_S = 0.2
#: How long ``stop_spark`` waits for the JVM and workers before killing them.
STOP_TIMEOUT_S = 60.0


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def p90(values: list[float]) -> float:
    """90th percentile, interpolated between the closest ranks."""
    if len(values) < 2:
        return median(values)
    return statistics.quantiles(values, n=10, method="inclusive")[-1]


@dataclass
class Result:
    """What one run prints as its last line."""

    attempted: int = 0
    failed: int = 0
    metrics: dict[str, tuple[float, str]] = field(default_factory=dict)
    #: One line per failed check, printed to stderr.
    problems: list[str] = field(default_factory=list)

    def put(self, name: str, value: float, unit: str) -> None:
        self.metrics[name] = (float(value), unit)

    def fail(self, count: int, why: str) -> None:
        self.failed += count
        self.problems.append(why)

    def line(self, names: list[str]) -> str:
        """The JSON result restricted to (and required to contain) ``names``."""
        missing = [n for n in names if n not in self.metrics]
        if missing:
            raise KeyError(f"workload did not measure {missing}")
        return json.dumps(
            {
                "correct": self.failed == 0 and self.attempted > 0,
                "attempted": self.attempted,
                "failed": self.failed,
                "metrics": {
                    n: {"value": self.metrics[n][0], "unit": self.metrics[n][1]}
                    for n in names
                },
            }
        )


# -- process tree and memory ---------------------------------------------------


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # comm may contain spaces; the fields after its closing paren are fixed.
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * PAGE_MB
    except (OSError, IndexError, ValueError):
        return 0.0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


class MemorySampler:
    """Samples the resident set of this process and all its descendants
    (the JVM and the Python workers it forks) from ``/proc``, and keeps the
    peaks: total, JVM, and Python workers."""

    def __init__(self) -> None:
        self.peak_total = 0.0
        self.peak_jvm = 0.0
        self.peak_workers = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> None:
        me = os.getpid()
        jvm = workers = 0.0
        for pid in descendants(me):
            comm = _comm(pid)
            if comm == "java":
                jvm += _rss_mb(pid)
            elif comm.startswith("python"):
                workers += _rss_mb(pid)
        total = _rss_mb(me) + jvm + workers
        self.peak_total = max(self.peak_total, total)
        self.peak_jvm = max(self.peak_jvm, jvm)
        self.peak_workers = max(self.peak_workers, workers)

    def _loop(self) -> None:
        while not self._stop.wait(SAMPLE_INTERVAL_S):
            self.sample()

    def __enter__(self) -> "MemorySampler":
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.sample()

    def report(self, result: Result) -> None:
        result.put("peak_rss_mb", self.peak_total, "MB")
        result.put("mem.jvm_peak_rss_mb", self.peak_jvm, "MB")
        result.put("mem.py_workers_peak_rss_mb", self.peak_workers, "MB")


# -- Spark session -----------------------------------------------------------


def prepare_env() -> int:
    """Point every scratch location of Spark, the JVM and Python at the
    run's work directory, and let executor-side Python workers import the
    engine package and this benchmark from the checkout. Call before
    pyspark starts its JVM. Returns the core count used for ``local[n]``."""
    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # Every JVM (Spark's launcher too): temp files in the work directory, and
    # no /tmp/hsperfdata_* counters file.
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    return cores


def start_spark(cores: int):
    """The engine's own session factory in ``local[cores]``; the benchmark
    adds only locations (inside the work directory) and quiet logs."""
    from weather_monitoring_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        extra_conf={"spark.sql.warehouse.dir": os.path.join(WORK, "warehouse")},
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM and every process under it, and wait
    until all have exited (SIGKILL after ``STOP_TIMEOUT_S``)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    procs = descendants(os.getpid())
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=STOP_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + STOP_TIMEOUT_S
    for pid in procs:
        while _alive(pid):
            if time.monotonic() > deadline:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            time.sleep(0.05)


def _alive(pid: int) -> bool:
    """True while ``pid`` runs; a zombie (exited, not yet reaped by its
    parent) counts as ended."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return False
    return stat[stat.rindex(")") + 2] not in "ZX"


class JobCounter:
    """Counts the Spark jobs and tasks run under job groups, read from the
    status tracker. Only used in traced runs."""

    def __init__(self, sc) -> None:
        self.tracker = sc.statusTracker()

    def jobs(self, group: str) -> list[int]:
        return list(self.tracker.getJobIdsForGroup(group))

    def tasks(self, job_ids: list[int]) -> int:
        n = 0
        for jid in job_ids:
            info = self.tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                stage = self.tracker.getStageInfo(sid)
                n += stage.numTasks if stage else 0
        return n
