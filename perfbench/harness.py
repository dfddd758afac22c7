"""Process-level plumbing shared by the workloads.

- ``Workdir``: every file the run writes (Spark local dirs, warehouse,
  JVM temp files, crawl state, the trace's event log) lives under one
  directory inside the checkout and is removed when the run ends.
- ``RssSampler``: peak resident memory summed over this process and all
  of its descendants (the JVM and its Python workers), read from /proc;
  a JVM's momentary fork before it execs a subprocess is not counted.
- ``Meter``: wall seconds and CPU seconds (user + system) of the same
  process tree across a stretch of the run. CPU time is what the
  end-to-end metrics gate on: on a host shared with other tenants, wall
  time moves with their load, CPU time with the program's own work.
- ``start_session`` / ``stop_session``: a ``local[nproc]`` session from
  the engine's own factory, and a shutdown that waits for the JVM and
  every worker to exit.
"""

from __future__ import annotations

import os
import shutil
import statistics
import subprocess
import threading
import time
from dataclasses import dataclass
from pathlib import Path

REPO_ROOT = Path(__file__).resolve().parent.parent
WORK_ROOT = REPO_ROOT / ".perfbench_work"

# Settings the engine reads from the environment. The benchmark passes
# everything it needs explicitly, so none of these may change a run.
_SCRUBBED_ENV_PREFIXES = ("SPARK_GRAFT_",)
_SCRUBBED_ENV = ("SPARK_LOCAL_DIRS", "PYSPARK_PIN_THREAD")


def nproc() -> int:
    """Cores this process may run on (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


def median(values) -> float:
    return float(statistics.median(values))


class Workdir:
    """A per-run scratch directory under ``.perfbench_work`` in the checkout."""

    def __init__(self, tag: str):
        self.path = WORK_ROOT / f"{tag}-{os.getpid()}"
        shutil.rmtree(self.path, ignore_errors=True)
        for sub in ("tmp", "spark-local", "warehouse", "events"):
            (self.path / sub).mkdir(parents=True, exist_ok=True)

    def sub(self, name: str) -> Path:
        p = self.path / name
        p.mkdir(parents=True, exist_ok=True)
        return p

    def remove(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)
        try:
            WORK_ROOT.rmdir()  # only when no other run is using it
        except OSError:
            pass


def prepare_environment(work: Workdir) -> None:
    """Make the engine importable by Spark's Python workers and keep every
    temp file inside the work dir. Must run before pyspark starts the JVM."""
    for key in list(os.environ):
        if key.startswith(_SCRUBBED_ENV_PREFIXES) or key in _SCRUBBED_ENV:
            del os.environ[key]
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = str(REPO_ROOT) + (os.pathsep + path if path else "")
    os.environ["TMPDIR"] = str(work.path / "tmp")


# ---------------------------------------------------------------------------
# peak RSS and CPU time of the process tree
# ---------------------------------------------------------------------------

_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICK = os.sysconf("SC_CLK_TCK")


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces: fields resume after the last ')'
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def _exe(pid: int) -> str | None:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return None


def tree_rss_bytes(pid: int) -> int:
    """Summed RSS of ``pid`` and its descendants. A child of the JVM that
    still runs the JVM's own binary is the JVM launching a subprocess
    between fork and exec: it maps every page of the JVM, so counting it
    would add the JVM a second time for that instant. It is skipped."""
    kids = _children_map()
    total, todo = 0, [pid]
    while todo:
        p = todo.pop()
        try:
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            continue
        exe = _exe(p)
        jvm = exe is not None and os.path.basename(exe) == "java"
        todo.extend(c for c in kids.get(p, ()) if not (jvm and _exe(c) == exe))
    return total


def tree_cpu_s(pid: int) -> float:
    """CPU seconds (user + system) used so far by ``pid`` and its live
    descendants, including the exited children each has reaped, so a
    Python worker that exits mid-operation still counts. Time the
    hypervisor stole from the VM is not in these counters."""
    kids = _children_map()
    ticks, todo = 0, [pid]
    while todo:
        p = todo.pop()
        try:
            with open(f"/proc/{p}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # utime, stime, cutime, cstime: fields 14-17, after the ')' of comm
        ticks += sum(int(v) for v in stat[stat.rindex(")") + 2 :].split()[11:15])
        todo.extend(kids.get(p, ()))
    return ticks / _TICK


@dataclass(frozen=True)
class Cost:
    wall_s: float
    cpu_s: float


class Meter:
    """Wall and process-tree CPU seconds since construction."""

    def __init__(self):
        self._pid = os.getpid()
        self._wall = time.perf_counter()
        self._cpu = tree_cpu_s(self._pid)

    def read(self) -> Cost:
        return Cost(time.perf_counter() - self._wall, tree_cpu_s(self._pid) - self._cpu)


class RssSampler:
    """Samples the process tree's summed RSS every ``interval`` seconds on a
    daemon thread; ``stop()`` joins it and returns the peak in bytes."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self._halt = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def _loop(self) -> None:
        pid = os.getpid()
        while not self._halt.is_set():
            self.peak = max(self.peak, tree_rss_bytes(pid))
            self._halt.wait(self.interval)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> int:
        self._halt.set()
        self._thread.join(timeout=10)
        self.peak = max(self.peak, tree_rss_bytes(os.getpid()))
        return self.peak


# ---------------------------------------------------------------------------
# Spark session lifecycle
# ---------------------------------------------------------------------------

# The JVM heap ceiling. The engine's default (8g) lets the heap grow to a
# size that depends on GC timing, so peak RSS swung by 2x between runs of
# the same input; the live data of both workloads fits in far less.
DRIVER_MEMORY = "2g"


def start_session(work: Workdir, event_log: bool = False):
    """Start ``local[nproc]`` through the engine's ``get_spark`` and run one
    trivial job. Returns (spark, Cost)."""
    from searchgov_spider_spark.session import get_spark

    conf = {
        "spark.local.dir": str(work.path / "spark-local"),
        "spark.sql.warehouse.dir": str(work.path / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work.path / 'tmp'}",
        "spark.driver.memory": DRIVER_MEMORY,
    }
    if event_log:
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = (work.path / "events").as_uri()
        conf["spark.eventLog.compress"] = "false"
    meter = Meter()
    spark = get_spark("perfbench", master=f"local[{nproc()}]", extra_conf=conf)
    spark.range(1).count()
    return spark, meter.read()


def stop_session(spark, timeout: float = 60.0) -> None:
    """Stop Spark, shut the JVM gateway down and wait until the JVM and all
    Python workers have exited."""
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
        proc.stdin.close()  # the JVM exits when its stdin pipe closes
        try:
            proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=timeout)
    deadline = time.monotonic() + timeout
    while descendants(os.getpid()):
        if time.monotonic() > deadline:
            for pid in descendants(os.getpid()):
                try:
                    os.kill(pid, 9)
                except OSError:
                    pass
            break
        time.sleep(0.1)
