"""Host-relative Spark session, host fingerprint, and process-tree meters.

Everything the benchmark measures runs in one driver process at
``local[nproc]``. The session is sized from the host (cores, RAM), every
``SPARK_GRAFT_*`` tuning variable is dropped before the engine is imported,
and all scratch state (shuffle files, warehouse, event logs, temp files)
lives under the benchmark's work directory inside the checkout.
"""

from __future__ import annotations

import hashlib
import os
import pathlib
import platform
import subprocess
import threading
import time

ROOT = pathlib.Path(__file__).resolve().parent.parent

# share of host RAM the driver JVM may use, capped: the box is shared with
# other jobs, and a heap the crawl fills keeps peak RSS from tracking how
# far the JVM happened to grow an oversized heap
DRIVER_MEM_FRACTION = 0.125
DRIVER_MEM_CAP_MB = 2048


def scrub_tuning_env() -> list[str]:
    """Drop every ``SPARK_GRAFT_*`` variable so a stray export cannot change
    what gets measured; returns the names dropped."""
    dropped = sorted(k for k in os.environ if k.startswith("SPARK_GRAFT_"))
    for k in dropped:
        del os.environ[k]
    return dropped


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def ram_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_mem_mb() -> int:
    return max(1024, min(DRIVER_MEM_CAP_MB, int(ram_mb() * DRIVER_MEM_FRACTION)))


def session_conf(work: pathlib.Path, event_log: bool) -> dict[str, str]:
    """Spark settings for the benchmark session, all derived from the host
    and confined to ``work``.

    The driver JVM compiles with C1 only (``TieredStopAtLevel=1``). Under
    the default tiered JIT, C2 kept compiling for three or four crawls past
    the warm-up: the first timed crawl of frontier_bulk took 11-13 s and the
    fourth about 8.5 s, so a steady figure needs about a minute of warm-up
    per run. Once C2 has settled, a crawl takes as long as under C1 (C1 is
    slightly faster) and splits across the engine's phases the same way;
    the paired figures are in ``crawlbench/README.md``. The heap is fixed
    (``-Xms`` = driver memory) so that the full collection between
    operations (:func:`release_cached`) never shrinks it."""
    tmp = work / "tmp"
    conf = {
        "spark.driver.memory": f"{driver_mem_mb()}m",
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:TieredStopAtLevel=1"
            f" -Xms{driver_mem_mb()}m",
    }
    if event_log:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": str(work / "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    for key in ("spark.local.dir", "spark.sql.warehouse.dir"):
        os.makedirs(conf[key], exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    if event_log:
        os.makedirs(conf["spark.eventLog.dir"], exist_ok=True)
    return conf


def source_digest(*rel_paths: str) -> str:
    """sha256 over the named files (or every ``*.py`` under a named
    directory) of the checkout, in path order."""
    h = hashlib.sha256()
    for rel in rel_paths:
        p = ROOT / rel
        files = sorted(p.rglob("*.py")) if p.is_dir() else [p]
        for f in files:
            h.update(str(f.relative_to(ROOT)).encode())
            h.update(f.read_bytes())
    return h.hexdigest()


def git_sha() -> str | None:
    try:
        out = subprocess.run(
            ["git", "-C", str(ROOT), "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None


def fingerprint(spark) -> dict:
    """Where and on what a run was measured. A checkout that is not a git
    repository carries no SHA; the engine source digest identifies it."""
    import pyspark

    return {
        "nproc": nproc(),
        "ram_mb": ram_mb(),
        "driver_mem_mb": driver_mem_mb(),
        "master": spark.sparkContext.master,
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "java": spark.sparkContext._jvm.java.lang.System.getProperty(
            "java.version"),
        "git_sha": git_sha(),
        "engine_digest": source_digest("spider_spark")[:16],
    }


# -- process-tree meters ------------------------------------------------------

_CLK_TCK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_table() -> dict[int, tuple[int, float, int]]:
    """pid → (ppid, cpu seconds incl. reaped children, rss bytes)."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                raw = f.read()
        except OSError:
            continue  # exited between listdir and open
        fields = raw[raw.rindex(")") + 2:].split()
        # fields[0] is field 3 (state) of proc(5)
        ppid = int(fields[1])
        ticks = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
        out[int(name)] = (ppid, ticks / _CLK_TCK, int(fields[21]) * _PAGE)
    return out


def tree_usage(root: int | None = None) -> tuple[float, int]:
    """(cpu seconds, rss bytes) summed over ``root`` and its descendants:
    the driver Python, the driver JVM and the Python workers."""
    root = os.getpid() if root is None else root
    table = _stat_table()
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    cpu, rss, todo = 0.0, 0, [root]
    while todo:
        pid = todo.pop()
        if pid in table:
            cpu += table[pid][1]
            rss += table[pid][2]
        todo.extend(children.get(pid, ()))
    return cpu, rss


def descendants(root: int | None = None) -> list[int]:
    root = os.getpid() if root is None else root
    table = _stat_table()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        kids = [p for p, (pp, _, _) in table.items() if pp == pid]
        out.extend(kids)
        todo.extend(kids)
    return out


class TreeMeter:
    """Context manager: CPU seconds and peak RSS of the process tree while
    the block runs. RSS is sampled every 0.1 s."""

    INTERVAL_S = 0.1

    def __init__(self):
        self.cpu_s = 0.0
        self.peak_rss = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _sample(self) -> None:
        while not self._stop.wait(self.INTERVAL_S):
            self.peak_rss = max(self.peak_rss, tree_usage()[1])

    def __enter__(self) -> "TreeMeter":
        self._cpu0, self.peak_rss = tree_usage()
        self._thread = threading.Thread(target=self._sample, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        cpu1, rss = tree_usage()
        self.cpu_s = cpu1 - self._cpu0
        self.peak_rss = max(self.peak_rss, rss)


def release_cached(spark, keep: set[int]) -> None:
    """Start the next operation from a clean driver heap: unpersist every
    cached RDD except ``keep`` (the checkpoints a finished crawl left
    behind), then collect the heap. Otherwise old crawls' blocks and garbage
    pile up, and a crawl pays for its predecessors' collections (on
    polite_budgeted, every other crawl spent ~9 s more JVM CPU)."""
    for rdd_id, rdd in spark.sparkContext._jsc.getPersistentRDDs().items():
        if rdd_id not in keep:
            rdd.unpersist(True)
    spark.sparkContext._jvm.System.gc()


def stop_spark(spark) -> None:
    """Stop the session and the gateway JVM behind it; PySpark otherwise
    keeps the JVM alive until the Python process exits."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)


def wait_for_children(timeout: float = 30.0) -> list[int]:
    """After the session stops, wait until every process this benchmark
    started has exited; returns the pids still alive at the deadline."""
    deadline = time.monotonic() + timeout
    while True:
        left = descendants()
        if not left or time.monotonic() > deadline:
            return left
        for pid in left:
            try:
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                pass
        time.sleep(0.2)
