"""Host sizing, Spark session start/stop and process accounting for the
benchmark. Everything here reads /proc directly (psutil is not a
dependency of the repository)."""

from __future__ import annotations

import os
import subprocess
import threading
import time

PAGE_SIZE = os.sysconf("SC_PAGE_SIZE")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_heap_mb() -> int:
    """An eighth of host RAM, clamped to [1, 2] GiB. The inputs need a
    few hundred MB of heap; a small ceiling that the JVM actually
    reaches keeps its resident size, and so peak_rss_mb, repeatable
    (on a 4-vCPU, 15 GB host a 4 GiB heap grew to between 2.3 and
    3.4 GB RSS run to run)."""
    return max(1024, min(2048, mem_total_mb() // 8))


def configure_env(root: str, work: str, event_log: str | None) -> None:
    """Session settings fitted to the host, and every scratch path of
    the driver JVM, its Python workers and Spark inside `work`.

    The process must run in `root`: the JVM's temp dir and the
    directory of the Unix sockets between the JVM and Python (guackg
    turns them on) are given relative to it. A socket path holds at
    most 107 bytes, which an absolute path under a deep checkout
    exceeds; relative ones are short wherever the checkout is."""
    tmp = os.path.relpath(os.path.join(work, "tmp"), root)
    socks = os.path.relpath(os.path.join(work, "uds"), root)
    local = os.path.join(work, "spark-local")
    for d in (tmp, socks, local):
        os.makedirs(d, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = os.path.abspath(tmp)
    heap = f"{driver_heap_mb()}m"
    # no hsperfdata file in /tmp. AlwaysPreTouch with -Xms = heap: the
    # driver heap is sized and made resident once at JVM start, instead
    # of growing in ~500 MB steps and faulting in pages as G1 first uses
    # them, whose timing varies run to run (a 2 GiB heap that a query
    # round does not fill read 2.1-2.25 GB RSS), and peak_rss_mb with
    # it. defaultJavaOptions is prepended to the GC options
    # guackg.session sets as extraJavaOptions.
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:+AlwaysPreTouch")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.driver.defaultJavaOptions=-Xms{heap} "
        f"--conf spark.python.unix.domain.socket.dir={socks} "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell")
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["GUACKG_LOCAL_DIR"] = local
    os.environ["GUACKG_DRIVER_MEM"] = heap
    # deploy-time bucket count of the edges table, as bench.py sets it
    # for bench-scale corpora (32 buckets leave ~10^2-row leaf files)
    os.environ["GUACKG_EDGE_BUCKETS"] = "8"
    os.environ.pop("GUACKG_STAGE_PROBE", None)
    os.environ.pop("GUACKG_SYNC_STAGES", None)
    os.environ.pop("GUACKG_GRAPH_DRIVER_BOUND", None)
    if event_log:
        os.environ["GUACKG_EVENT_LOG"] = event_log
    else:
        os.environ.pop("GUACKG_EVENT_LOG", None)


def start_spark():
    from guackg.session import get_spark
    n = nproc()
    spark = get_spark("perfbench", master=f"local[{n}]", shuffle_partitions=n)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the context, then the gateway JVM (it exits when its stdin
    closes) and wait for it; its Python workers end with it."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    reap_descendants()


def _parents() -> dict[int, int]:
    """pid -> ppid of every process visible in /proc."""
    parents = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        parents[int(name)] = int(stat.rsplit(")", 1)[1].split()[1])
    return parents


def descendants(parents: dict[int, int] | None = None) -> list[int]:
    kids: dict[int, list[int]] = {}
    for child, parent in (parents or _parents()).items():
        kids.setdefault(parent, []).append(child)
    out, todo = [], [os.getpid()]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def reap_descendants(timeout: float = 30.0) -> None:
    """Wait for every process this one started to end; kill stragglers."""
    deadline = time.time() + timeout
    while descendants() and time.time() < deadline:
        time.sleep(0.2)
    for pid in descendants():
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass
    while descendants() and time.time() < deadline + 10:
        time.sleep(0.2)


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * PAGE_SIZE
    except (OSError, IndexError, ValueError):
        return 0


def _exe(pid: int | None) -> str | None:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return None


def footprint_bytes() -> int:
    """Summed RSS of every descendant of this process: the driver JVM,
    its Python daemon and workers. A child the JVM has forked but not
    yet exec'd (a Hadoop shell-out) maps the JVM's pages and would
    count them twice, so it is skipped."""
    parents = _parents()
    total = 0
    for pid in descendants(parents=parents):
        exe = _exe(pid)
        if exe and exe.endswith("/java") and exe == _exe(parents.get(pid)):
            continue
        total += _rss_bytes(pid)
    return total


class PeakRss:
    """Peak of footprint_bytes() while in use as a context."""

    def __init__(self, interval: float = 0.1) -> None:
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, footprint_bytes())
            self._stop.wait(self.interval)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak / (1024 * 1024)
