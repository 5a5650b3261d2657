"""Per-run directory, Spark session and process lifetime of a benchmark run.

Everything the run writes (Spark local dirs, engine workdirs, generated
inputs, JVM and Python temp files) lives under one directory inside the
checkout, ``.perfbench/run-<pid>``, removed on exit even when the run fails.
The Spark heap is derived from MemTotal instead of the library's 48g default,
and the JVM (plus the Python workers it forks) is stopped and waited for
before the process exits.
"""

from __future__ import annotations

import os
import shutil
import signal
import subprocess
import tempfile
import threading
import time

# Retention far above what one run submits (crawl_steady: ~250 stages per
# cycle); stage-id gaps are still checked, see stagestats.py.
STATUS_RETENTION = {
    "spark.ui.retainedJobs": "200000",
    "spark.ui.retainedStages": "200000",
    "spark.ui.retainedTasks": "2000000",
}


def process_start_monotonic() -> float:
    """time.monotonic() value at which this process was created (from
    /proc/self/stat start time), so set-up time includes interpreter start."""
    try:
        with open("/proc/self/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        start_ticks = int(fields[19])
        with open("/proc/uptime") as f:
            uptime = float(f.read().split()[0])
        age = uptime - start_ticks / os.sysconf("SC_CLK_TCK")
        return time.monotonic() - max(age, 0.0)
    except (OSError, ValueError, IndexError):
        return time.monotonic()


def mem_total_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal not found in /proc/meminfo")


def driver_mem(total_bytes: int) -> str:
    """Heap for the single local-mode JVM: a quarter of the box, between
    1 GiB and the library's 48 GiB default."""
    mib = total_bytes // 4 // (1 << 20)
    return f"{max(1024, min(mib, 48 * 1024))}m"


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def _children(pid: int) -> list[int]:
    out = []
    try:
        with open(f"/proc/{pid}/task/{pid}/children") as f:
            out = [int(x) for x in f.read().split()]
    except OSError:
        pass
    return out


def process_tree(pid: int) -> list[int]:
    tree, todo = [], [pid]
    while todo:
        p = todo.pop()
        tree.append(p)
        todo.extend(_children(p))
    return tree


def host_steal_seconds() -> float:
    """CPU time the hypervisor gave to other guests, summed over all CPUs."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, ValueError, IndexError):
        return 0


class RssSampler:
    """Samples the summed RSS of a process tree (the JVM and the Python
    workers it forks) and keeps the peak and every pid it saw."""

    def __init__(self, root_pid: int, interval: float = 0.2):
        self.root_pid = root_pid
        self.interval = interval
        self.peak = 0
        self.seen: set[int] = set()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> int:
        pids = process_tree(self.root_pid)
        self.seen.update(pids)
        total = sum(rss_bytes(p) for p in pids)
        self.peak = max(self.peak, total)
        return total

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def start(self) -> "RssSampler":
        self.sample()
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        if self._thread.is_alive():
            self._thread.join()


class RunEnv:
    """Context manager owning the per-run directory, the Spark session and
    the JVM process tree."""

    def __init__(self, root: str, cores: int | None = None):
        self.root = root
        self.cores = cores or cpu_count()
        base = os.path.join(root, ".perfbench")
        os.makedirs(base, exist_ok=True)
        self.dir = tempfile.mkdtemp(prefix=f"run-{os.getpid()}-", dir=base)
        self.spark = None
        self.jvm: subprocess.Popen | None = None
        self.rss: RssSampler | None = None
        self._old_handlers: dict = {}
        self._old_env: dict = {}

    def path(self, *parts: str) -> str:
        p = os.path.join(self.dir, *parts)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        return p

    def __enter__(self) -> "RunEnv":
        for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
            self._old_handlers[sig] = signal.signal(sig, _raise_exit)
        tmp = os.path.join(self.dir, "tmp")
        os.makedirs(tmp, exist_ok=True)
        env = {
            "TMPDIR": tmp,
            "SPARK_LOCAL_DIRS": os.path.join(self.dir, "spark-local"),
            "SPARK_GRAFT_DRIVER_MEM": driver_mem(mem_total_bytes()),
            "SPARK_GRAFT_CPUS": str(self.cores),
        }
        self._old_env = {k: os.environ.get(k) for k in env}
        os.environ.update(env)
        tempfile.tempdir = tmp
        return self

    def start_spark(self):
        from pyspark import SparkContext

        from biz_crawlers_spark.session import get_spark

        conf = {
            **STATUS_RETENTION,
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.dir, "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={os.environ['TMPDIR']} "
                f"-Dderby.system.home={os.path.join(self.dir, 'derby')}"
            ),
        }
        self.spark = get_spark(
            cores=self.cores, shuffle_partitions=self.cores, app="perfbench",
            extra_conf=conf,
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.jvm = getattr(SparkContext._gateway, "proc", None)
        if self.jvm is not None:
            self.rss = RssSampler(self.jvm.pid).start()
        return self.spark

    def stop_spark(self) -> None:
        from pyspark import SparkContext

        seen = set(self.rss.seen) if self.rss else set()
        if self.rss:
            self.rss.stop()
        if self.spark is not None:
            try:
                self.spark.stop()
            except Exception:
                pass
            self.spark = None
        gw = SparkContext._gateway
        if gw is not None:
            try:
                gw.shutdown()
            except Exception:
                pass
            SparkContext._gateway = None
            SparkContext._jvm = None
        if self.jvm is not None:
            # the JVM exits when its stdin closes; escalate if it does not
            try:
                if self.jvm.stdin:
                    self.jvm.stdin.close()
                self.jvm.wait(timeout=20)
            except (subprocess.TimeoutExpired, OSError):
                self.jvm.terminate()
                try:
                    self.jvm.wait(timeout=10)
                except subprocess.TimeoutExpired:
                    self.jvm.kill()
                    self.jvm.wait()
            self.jvm = None
        _reap(seen - {os.getpid()})

    def __exit__(self, *exc) -> None:
        try:
            self.stop_spark()
        finally:
            shutil.rmtree(self.dir, ignore_errors=True)
            for k, v in self._old_env.items():
                if v is None:
                    os.environ.pop(k, None)
                else:
                    os.environ[k] = v
            tempfile.tempdir = None
            for sig, h in self._old_handlers.items():
                signal.signal(sig, h)


def _raise_exit(signum, _frame):
    raise SystemExit(128 + signum)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _reap(pids: set[int], timeout: float = 10.0) -> None:
    """Wait for the JVM's former children (Python workers) to exit; kill any
    left after ``timeout``."""
    deadline = time.monotonic() + timeout
    live = {p for p in pids if _alive(p)}
    while live and time.monotonic() < deadline:
        time.sleep(0.1)
        live = {p for p in live if _alive(p)}
    for p in live:
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass
    while live and time.monotonic() < deadline + 5:
        time.sleep(0.05)
        live = {p for p in live if _alive(p)}
