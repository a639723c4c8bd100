"""The machine the benchmark runs on: a Spark session sized to it, the
run conditions recorded beside each result, the memory sampler, and the
shutdown that leaves no process behind."""

from __future__ import annotations

import os
import platform
import signal
import subprocess
import threading
import time

# driver heap as a share of physical RAM; in local mode the executors
# share this heap
HEAP_SHARE = 0.125
MIN_HEAP_MB = 1024


def cpus_available() -> int:
    return len(os.sched_getaffinity(0))


def physical_mb() -> int:
    return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20


def fit(cpus_needed: int, heap_mb_needed: int) -> tuple[int, int]:
    """(cpus, heap_mb) for a session on this box: every CPU of the
    affinity set, and a heap sized from physical RAM. Raise when a
    workload needs more CPUs or memory than the box has."""
    cpus = cpus_available()
    if cpus_needed > cpus:
        raise SystemExit(f"perfbench: the workload needs {cpus_needed} "
                         f"CPUs, the CPU affinity set holds {cpus}")
    heap_mb = max(MIN_HEAP_MB, int(physical_mb() * HEAP_SHARE))
    if heap_mb_needed > heap_mb:
        raise SystemExit(f"perfbench: the workload needs a {heap_mb_needed}"
                         f" MB driver heap, this box gives {heap_mb} MB "
                         f"({HEAP_SHARE:.0%} of {physical_mb()} MB RAM)")
    return cpus, heap_mb


def start_session(cpus: int, heap_mb: int, work: str,
                  event_log: str | None = None):
    """a local[cpus] session whose scratch files stay under ``work``."""
    from pyspark.sql import SparkSession
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    b = (SparkSession.builder.master(f"local[{cpus}]")
         .appName("perfbench")
         .config("spark.driver.memory", f"{heap_mb}m")
         # no hsperfdata file in the system temp directory
         .config("spark.driver.extraJavaOptions",
                 f"-XX:-UsePerfData -Djava.io.tmpdir={tmp} "
                 f"-Dderby.system.home={tmp}")
         .config("spark.local.dir", tmp)
         .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
         .config("spark.sql.shuffle.partitions", str(max(2 * cpus, 16)))
         .config("spark.sql.adaptive.enabled", "true")
         .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
         # constraint propagation makes Catalyst evaluate the encode UDF
         # twice over UDF-derived join keys; the engine is tuned with it
         # off
         .config("spark.sql.constraintPropagation.enabled", "false")
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false"))
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", "file://" + event_log)
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.rolling.enabled", "false"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """stop Spark, close the JVM gateway and wait for the JVM and the
    Python workers it forked to end."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        # the JVM exits when its stdin reaches EOF
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while descendants() and time.time() < deadline:
        time.sleep(0.1)
    for pid in descendants():
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    for pid in descendants():
        try:
            os.waitpid(pid, 0)
        except ChildProcessError:
            pass


def _ppid_map() -> dict[int, int]:
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after ')'
        fields = stat[stat.rfind(")") + 2:].split()
        if fields[0] != "Z":
            out[int(name)] = int(fields[1])
    return out


def descendants(root: int | None = None) -> list[int]:
    root = os.getpid() if root is None else root
    parent = _ppid_map()
    children: dict[int, list[int]] = {}
    for pid, ppid in parent.items():
        children.setdefault(ppid, []).append(pid)
    out, stack = [], [root]
    while stack:
        for c in children.get(stack.pop(), []):
            out.append(c)
            stack.append(c)
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class PeakRss:
    """samples the summed resident memory of every process this one
    started (the Spark JVM and its Python workers) until stopped.

    The peak is the highest level held over two consecutive samples: a
    child the JVM spawns shares the JVM's memory until it execs, and a
    single sample in that instant counts the JVM twice."""

    def __init__(self, period_s: float = 0.2):
        self.period_s = period_s
        self.peak_kb = 0
        self.peak_processes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        prev_kb, prev_n = 0, 0
        while not self._stop.is_set():
            pids = descendants()
            kb = sum(_rss_kb(p) for p in pids)
            held_kb, held_n = min((kb, len(pids)), (prev_kb, prev_n))
            if held_kb > self.peak_kb:
                self.peak_kb, self.peak_processes = held_kb, held_n
            prev_kb, prev_n = kb, len(pids)
            self._stop.wait(self.period_s)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


def conditions(spark, cpus: int, heap_mb: int) -> dict:
    """what the run ran on, recorded beside its metrics."""
    import pyspark
    jvm = spark.sparkContext._jvm
    return {
        "loadavg": list(os.getloadavg()),
        "cpu_affinity": sorted(os.sched_getaffinity(0)),
        "local_cores": cpus,
        "driver_heap_mb": heap_mb,
        "physical_mb": physical_mb(),
        "spark": spark.version,
        "pyspark": pyspark.__version__,
        "python": platform.python_version(),
        "java": jvm.System.getProperty("java.version"),
    }
