"""Process environment of one benchmark run: work directories inside the
checkout, a Spark session sized for the box, a /proc RSS sampler for the
driver process tree, and an orderly shutdown that waits for every child."""

from __future__ import annotations

import os
import platform
import signal
import subprocess
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")  # everything the benchmark writes
CACHE = os.path.join(WORK, "inputs")     # generated inputs + oracle digests
# per-run temp, removed at exit; one per process, so runs never share it
SCRATCH = os.path.join(WORK, f"run-{os.getpid()}")


def prepare_process_env() -> None:
    """Point every temp/scratch location of Python, the JVM and Spark into
    the checkout before the first JVM is launched."""
    import tempfile

    tmp = os.path.join(SCRATCH, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(SCRATCH, "spark-local")
    # -XX:-UsePerfData: no /tmp/hsperfdata_* files from either JVM (the
    # spark-submit launcher and the driver)
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}")
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def heap_gb() -> int:
    """Driver heap from MemAvailable: a quarter of it, 1..8 GB, which
    leaves the rest to the Python workers and the page cache."""
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemAvailable:"):
                avail_gb = int(line.split()[1]) / (1 << 20)
                return max(1, min(8, int(avail_gb / 4)))
    return 2


def build_session(n_cores: int, event_log_dir: str | None = None):
    """local[n_cores] session; every conf set explicitly so a session
    rebuilt in the same JVM (the local[1] scaling run) does not inherit
    the previous context's settings."""
    from pyspark.sql import SparkSession

    heap = f"{heap_gb()}g"
    b = (SparkSession.builder.master(f"local[{n_cores}]")
         .appName("perfbench")
         .config("spark.driver.memory", heap)
         # heap committed and touched at launch: the JVM heap adds a
         # constant to peak_rss_mb instead of G1's run-to-run expansion
         .config("spark.driver.extraJavaOptions",
                 f"-Xms{heap} -XX:+AlwaysPreTouch")
         .config("spark.sql.shuffle.partitions", str(2 * n_cores))
         .config("spark.sql.adaptive.enabled", "true")
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false")
         .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
         .config("spark.python.sql.dataFrameDebugging.enabled", "false")
         .config("spark.sql.warehouse.dir",
                 os.path.join(SCRATCH, "warehouse"))
         .config("spark.eventLog.enabled", str(bool(event_log_dir)).lower()))
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        b = (b.config("spark.eventLog.dir", "file://" + event_log_dir)
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.rolling.enabled", "false"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def describe(spark) -> dict:
    return dict(nproc=cores(), master=spark.sparkContext.master,
                driver_heap=spark.conf.get("spark.driver.memory"),
                spark=spark.version, python=platform.python_version())


def _children() -> dict[int, int]:
    """pid -> ppid for every process visible in /proc."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        out[int(d)] = int(stat.rsplit(")", 1)[1].split()[1])
    return out


def descendants(root: int | None = None) -> list[int]:
    root = os.getpid() if root is None else root
    tree = _children()
    found, frontier = [], [root]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in tree.items() if pp == p]
        found.extend(kids)
        frontier.extend(kids)
    return found


def _resident_kb(pid: int) -> int:
    """Resident memory of one process. Python processes count their PSS:
    the forked workers share most of their pages with the pyspark daemon,
    and PSS counts a page shared by n processes 1/n in each. The JVM shares
    nothing with them, and its smaps walk costs ~40 ms at a 3 GB heap, so
    it counts its plain RSS."""
    try:
        with open(f"/proc/{pid}/comm") as f:
            java = f.read().strip() == "java"
        key = "VmRSS:" if java else "Pss:"
        with open(f"/proc/{pid}/{'status' if java else 'smaps_rollup'}") as f:
            for line in f:
                if line.startswith(key):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak resident memory of this process and all its descendants (the
    JVM and its Python workers), sampled every `period` seconds."""

    def __init__(self, period: float = 0.5):
        self.period = period
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.period)

    def sample(self) -> None:
        me = os.getpid()
        kb = sum(_resident_kb(p) for p in [me, *descendants(me)])
        self.peak_kb = max(self.peak_kb, kb)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


def shutdown() -> None:
    """Stop the active context, then the JVM gateway, and wait until no
    child process of this interpreter is left (the JVM's Python workers
    exit when it does)."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    wait_children()


def wait_children(timeout: float = 30.0) -> None:
    deadline = time.time() + timeout
    while descendants() and time.time() < deadline:
        time.sleep(0.2)
    for pid in descendants():
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    deadline = time.time() + 5
    while descendants() and time.time() < deadline:
        time.sleep(0.1)
