"""The benchmark's runner environment, made explicit.

Everything the library's behaviour depends on is fixed here rather than
read from the caller's environment: the master is ``local[<cores this
process may use>]``, shuffle-partition and shard counts are constants,
the Spark UI and console progress bar are off (the progress bar writes
to stdout), Python workers get the checkout on ``PYTHONPATH``, and every
file Spark, the JVM or Python writes lands under the run's work dir.
"""

from __future__ import annotations

import os
import threading

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CORES = len(os.sched_getaffinity(0))
# fixed, not derived from the host: the same plan on every machine
SHUFFLE_PARTITIONS = 8
JVM_HEAP = "2g"

# caller knobs that would change what is measured or where files go
_DROPPED_ENV = (
    "SPARK_GRAFT_EXTRA_CONF",
    "SPARK_DRIVER_MEMORY",
    "SPARK_SHUFFLE_PARTITIONS",
    "SPARK_LOCAL_DIRS",
    "PYSPARK_SUBMIT_ARGS",
)


def prepare_process(work_dir: str) -> None:
    """Point temp files at ``work_dir`` and let workers import the package.

    Must run before pyspark starts the JVM: the JVM and the Python
    workers it forks inherit this process's environment."""
    import tempfile

    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    for k in _DROPPED_ENV:
        os.environ.pop(k, None)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")


def spark_session(work_dir: str, event_log_dir: str | None = None):
    """A fresh SparkSession on ``local[CORES]`` with the library's confs."""
    from pyspark.sql import SparkSession
    from xorfilter_net_spark.sources.session import session_confs

    confs = session_confs(SHUFFLE_PARTITIONS)
    tmp = os.path.join(work_dir, "tmp")
    confs.update(
        {
            "spark.master": f"local[{CORES}]",
            "spark.app.name": "perfbench",
            "spark.driver.memory": JVM_HEAP,
            # a fixed, pre-touched heap: peak RSS then follows the Python
            # workers and off-heap memory, not the GC's heap-sizing luck
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -Xms{JVM_HEAP} -XX:+AlwaysPreTouch"
            ),
            "spark.local.dir": os.path.join(work_dir, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
            "spark.eventLog.enabled": "false",
        }
    )
    if event_log_dir is not None:
        os.makedirs(event_log_dir, exist_ok=True)
        confs.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    builder = SparkSession.builder
    for k, v in confs.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def end_jvm() -> None:
    """Stop any running SparkContext, end the JVM and wait for it to exit
    (its Python workers exit with it). Does nothing if there is no JVM."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        # the gateway server exits when its stdin closes
        if proc.stdin is not None:
            proc.stdin.close()
        proc.wait(timeout=60)


class JvmMemory:
    """Garbage-collection time and old-generation peak of the session's
    JVM, from its management beans. The fixed heap hides heap use from
    RSS; these show it."""

    def __init__(self, spark):
        mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
        self._gcs = list(mf.getGarbageCollectorMXBeans())
        self._old = [p for p in mf.getMemoryPoolMXBeans()
                     if "Old Gen" in p.getName()]

    def gc_s(self) -> float:
        """Seconds spent in collections since the JVM started."""
        return sum(b.getCollectionTime() for b in self._gcs) / 1e3

    def reset_peak(self) -> None:
        for p in self._old:
            p.resetPeakUsage()

    def old_gen_peak_bytes(self) -> int:
        """Peak old-generation use since the last ``reset_peak``."""
        return sum(p.getPeakUsage().getUsed() for p in self._old)


# -- host context ------------------------------------------------------------

def cpu_times() -> list[int]:
    """Aggregate ``cpu`` line of ``/proc/stat`` (jiffies per state)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor stole between two samples."""
    d = [b - a for a, b in zip(before, after)]
    total = sum(d[:8])  # guest time is already counted in user
    return d[7] / total if total > 0 else 0.0


def _descendants(root: int) -> list[tuple[int, int, str]]:
    """``(pid, parent pid, command name)`` of every process below ``root``."""
    children: dict[int, list[tuple[int, str]]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        comm = stat[stat.index("(") + 1:stat.rindex(")")]
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append((int(name), comm))
    out, todo = [], [root]
    while todo:
        parent = todo.pop()
        for pid, comm in children.get(parent, []):
            out.append((pid, parent, comm))
            todo.append(pid)
    return out


def _server_pids(root: int) -> tuple[list[int], list[int]]:
    """The JVM (this process's ``java`` child) and the Python processes
    below it. Other descendants are left out: the JVM spawns short-lived
    helpers (Hadoop's local file system runs ``chmod``), and until its
    exec a spawned child shares the JVM's memory, so counting it would
    count the whole heap twice."""
    jvm, python = [], []
    for pid, parent, comm in _descendants(root):
        if parent == root and comm == "java":
            jvm.append(pid)
        elif comm.startswith("python"):
            python.append(pid)
    return jvm, python


def _rss_bytes(pids: list[int]) -> int:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            continue
    return total


class RssSampler:
    """Peak summed RSS of the JVM and the Python workers it forks, and of
    the Python workers alone, sampled from ``/proc`` on a thread."""

    INTERVAL_S = 0.1

    def __init__(self):
        self.peak_bytes = 0
        self.peak_python_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            jvm, python = _server_pids(me)
            py = _rss_bytes(python)
            self.peak_python_bytes = max(self.peak_python_bytes, py)
            self.peak_bytes = max(self.peak_bytes, _rss_bytes(jvm) + py)
            self._stop.wait(self.INTERVAL_S)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
