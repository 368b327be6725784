"""Host stamps, the Spark session, package shipping and RSS sampling.

Everything the benchmark writes goes under ``.bench_data/perfbench`` of
the checkout it runs from; nothing outside the checkout is read or
written.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import subprocess
import threading
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PACKAGE = "pdf2gtfs_spark"
WORK_ROOT = REPO / ".bench_data" / "perfbench"


def nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def loadavg() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def spin_seconds() -> float:
    """A fixed single-thread CPU loop. Contention from outside this
    machine's view stretches it the same way it stretches task times,
    so its ratio against the best of a run flags a dirty window."""
    t0 = time.perf_counter()
    x = 0
    for i in range(1_000_000):
        x += i
    return time.perf_counter() - t0


def source_digest() -> str:
    """sha256 over the package sources (the checkout may not be a git
    repository, so this stands in for the commit there)."""
    h = hashlib.sha256()
    for src in sorted((REPO / PACKAGE).rglob("*.py")):
        h.update(str(src.relative_to(REPO)).encode())
        h.update(src.read_bytes())
    return h.hexdigest()


def git_commit() -> str | None:
    if not (REPO / ".git").exists() or shutil.which("git") is None:
        return None
    try:
        out = subprocess.run(["git", "-C", str(REPO), "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None


def session_settings(shuffle_partitions: int) -> dict:
    """Master and driver memory follow this host, not a fixed size:
    local[nproc] and an eighth of MemTotal, clamped to 1-4 GiB."""
    n = nproc()
    mem_mb = max(1024, min(4096, mem_total_mb() // 8))
    return {"master": f"local[{n}]", "driver_memory": f"{mem_mb}m",
            "shuffle_partitions": shuffle_partitions}


class Session:
    """Owns the Spark session and the JVM behind it; ``close`` stops
    both and waits for the JVM to exit."""

    def __init__(self, work: Path, settings: dict,
                 event_log: Path | None = None) -> None:
        from pyspark.sql import SparkSession

        tmp = work / "tmp"
        tmp.mkdir(parents=True, exist_ok=True)
        os.environ["TMPDIR"] = str(tmp)
        # every JVM the launch starts would otherwise write
        # /tmp/hsperfdata_<user>, outside the checkout
        os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
        # ship the package zip to the Python workers: without it a
        # driver started outside the repo root fails in the worker with
        # ``ModuleNotFoundError: pdf2gtfs_spark``
        from tools.make_pyfiles import build

        pyzip = build(work / "dist")
        b = (SparkSession.builder
             .master(settings["master"])
             .appName("perfbench")
             .config("spark.driver.memory", settings["driver_memory"])
             .config("spark.driver.host", "127.0.0.1")
             .config("spark.driver.bindAddress", "127.0.0.1")
             .config("spark.driver.extraJavaOptions",
                     f"-Djava.io.tmpdir={tmp}")
             .config("spark.local.dir", str(tmp))
             .config("spark.sql.warehouse.dir", str(work / "warehouse"))
             .config("spark.submit.pyFiles", str(pyzip))
             .config("spark.ui.enabled", "false")
             .config("spark.ui.showConsoleProgress", "false")
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.sql.shuffle.partitions",
                     str(settings["shuffle_partitions"]))
             .config("spark.sql.execution.arrow.pyspark.enabled", "true"))
        if event_log is not None:
            event_log.mkdir(parents=True, exist_ok=True)
            b = (b.config("spark.eventLog.enabled", "true")
                 .config("spark.eventLog.dir", str(event_log))
                 .config("spark.eventLog.compress", "false")
                 .config("spark.eventLog.rolling.enabled", "false"))
        self.spark = b.getOrCreate()
        self.spark.sparkContext.setLogLevel("ERROR")

    def close(self) -> None:
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            # the JVM exits when its stdin closes (pyspark's launcher
            # contract); escalate only if it does not
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def tree_rss_mb(root: int) -> float:
    """RSS of every descendant of ``root`` (the JVM and its Python
    workers; the benchmark's own interpreter is not counted)."""
    kids = _children()
    total_kb = 0
    stack = list(kids.get(root, []))
    while stack:
        pid = stack.pop()
        stack.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024


class RssSampler:
    """Samples ``tree_rss_mb`` on a thread while active; keeps the peak."""

    def __init__(self, interval: float = 0.25) -> None:
        self.interval = interval
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb(me))
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak_mb = max(self.peak_mb, tree_rss_mb(os.getpid()))


def stamp_start() -> dict:
    import pyarrow
    import pyspark

    return {
        "nproc": nproc(),
        "mem_total_mb": mem_total_mb(),
        "load_before": loadavg(),
        "spin_before_s": spin_seconds(),
        "cpu_ticks_before": cpu_ticks(),
        "git_commit": git_commit(),
        "source_sha256": source_digest(),
        "spark_version": pyspark.__version__,
        "pyarrow_version": pyarrow.__version__,
    }


def stamp_end(stamp: dict) -> dict:
    spin_after = spin_seconds()
    stamp["load_after"] = loadavg()
    stamp["spin_after_s"] = spin_after
    # the share of CPU time the hypervisor gave to other guests while
    # the run was on: the contention a virtual machine cannot see in
    # its load average
    (s0, t0), (s1, t1) = stamp.pop("cpu_ticks_before"), cpu_ticks()
    stamp["steal_share"] = (s1 - s0) / (t1 - t0) if t1 > t0 else 0.0
    stamp["spin_ratio"] = (max(stamp["spin_before_s"], spin_after)
                           / min(stamp["spin_before_s"], spin_after))
    return stamp
