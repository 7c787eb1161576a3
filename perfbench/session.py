"""Spark session, scratch directories and process-tree accounting.

Everything a run writes — Spark local dirs, warehouse, Derby home, JVM
temp files, snapshot checkpoints, the event log — lives in one scratch
directory under the checkout, removed when the run ends, so the
benchmark leaves the working tree as it found it whatever the cwd.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import threading
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE_SIZE = os.sysconf("SC_PAGE_SIZE")


def cores() -> int:
    return len(os.sched_getaffinity(0))


def driver_memory_gb() -> int:
    """A quarter of physical memory, between 1 and 4 GB: enough for the
    benchmark's inputs, and leaves the rest of a shared box alone."""
    with open("/proc/meminfo") as f:
        total_kb = int(f.readline().split()[1])
    return max(1, min(4, total_kb // (4 * 1024 * 1024)))


class Scratch:
    """A per-run directory under ``<root>/.bench_tmp``, removed on close."""

    def __init__(self, root: str):
        self.path = os.path.join(root, ".bench_tmp", f"run-{os.getpid()}")
        shutil.rmtree(self.path, ignore_errors=True)
        os.makedirs(self.path)
        # Python-side temp files (the gateway's connection file, Arrow
        # spill) follow TMPDIR; the JVM's follow java.io.tmpdir below
        os.environ["TMPDIR"] = self.sub("tmp")
        import tempfile

        tempfile.tempdir = None

    def sub(self, name: str) -> str:
        p = os.path.join(self.path, name)
        os.makedirs(p, exist_ok=True)
        return p

    def close(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)
        parent = os.path.dirname(self.path)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


def build_spark(root: str, scratch: Scratch, shuffle_partitions: int,
                event_log: bool = False):
    """``local[<cores>]`` session in this process. ``PYTHONPATH`` is set
    before the JVM starts so Python workers can import the engine."""
    paths = [root] + [p for p in os.environ.get("PYTHONPATH", "").split(":") if p]
    os.environ["PYTHONPATH"] = ":".join(dict.fromkeys(paths))
    # the environment variable wins over spark.local.dir when set
    os.environ["SPARK_LOCAL_DIRS"] = scratch.sub("local")
    # spark-submit's launcher JVM would write hsperfdata under /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    from pyspark.sql import SparkSession

    tmp = scratch.sub("tmp")
    mem = f"{driver_memory_gb()}g"
    b = (
        SparkSession.builder.master(f"local[{cores()}]")
        .appName("perfbench")
        .config("spark.driver.memory", mem)
        # initial heap = max heap, touched at start: G1 grows the heap
        # when its GC time ratio says so, and touches a fixed heap's pages
        # only as it first allocates in them, which on a noisy host varied
        # the JVM's resident size by 20% between identical runs; a
        # pre-touched fixed heap does not move.
        # -XX:-UsePerfData: the JVM would write hsperfdata under /tmp.
        .config("spark.driver.extraJavaOptions",
                f"-Xms{mem} -XX:+AlwaysPreTouch -XX:-UsePerfData "
                f"-Djava.io.tmpdir={tmp} "
                f"-Dderby.system.home={tmp}")
        .config("spark.local.dir", scratch.sub("local"))
        .config("spark.sql.warehouse.dir", scratch.sub("warehouse"))
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    if event_log:
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.dir", scratch.sub("eventlog")))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then end the gateway JVM (it exits when its
    stdin closes) and wait for it; any process still left under this
    one is killed and reaped."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    if gateway is not None:
        gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    for pid in reversed(tree_pids(os.getpid())[1:]):
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            continue
    deadline = time.monotonic() + 30
    while len(tree_pids(os.getpid())) > 1 and time.monotonic() < deadline:
        try:
            os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            pass
        time.sleep(0.1)


# ---------------------------------------------------------------- /proc
def _stat(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat from field 3 (state) on."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    return s[s.rindex(")") + 2:].split()


def tree_pids(root_pid: int) -> list[int]:
    """``root_pid`` and all its live descendants, parents first."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = _stat(int(d))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(d))
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop(0)
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_cpu_s(root_pid: int) -> float:
    """User + system seconds of the tree, reaped children included: a
    process that exits between two readings moves its time into its
    parent's cutime/cstime, so the difference of two readings counts it."""
    ticks = 0
    for pid in tree_pids(root_pid):
        st = _stat(pid)
        if st is not None:
            ticks += sum(int(x) for x in st[11:15])
    return ticks / CLK_TCK


def rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * PAGE_SIZE / 2**20
    except OSError:
        return 0.0


def pss_mb(pid: int) -> float:
    """Proportional set size: resident memory with each shared page split
    among the processes sharing it."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def tree_mem_mb(root_pid: int, jvm_pid: int | None) -> float:
    """Resident memory of the tree. Python workers are forked from one
    daemon and share most of their pages, so they count by PSS (summing
    their RSS would count shared memory once per worker). The JVM shares
    nothing and is large, so it counts by RSS, which is cheap to read
    where PSS would walk its page tables."""
    return sum(rss_mb(pid) if pid == jvm_pid else pss_mb(pid)
               for pid in tree_pids(root_pid))


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


class RssSampler:
    """Samples the tree's resident memory (``tree_mem_mb``) while open;
    ``peak_mb`` is the largest sample."""

    def __init__(self, root_pid: int, interval_s: float = 0.2):
        self.root_pid = root_pid
        self.jvm_pid = jvm_pid()
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_mem_mb(self.root_pid, self.jvm_pid))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak_mb = max(self.peak_mb, tree_mem_mb(self.root_pid, self.jvm_pid))
