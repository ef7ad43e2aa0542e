"""Session, process and measurement plumbing shared by every workload.

Everything the benchmark writes lands under ``<checkout>/.perfbench_work``:
Spark's shuffle/spill dir, the JVM and Python temp dirs, the warehouse,
the event log of a traced run and every generated input. Nothing is read
or written outside the checkout.
"""

from __future__ import annotations

import os
import shutil
import signal
import statistics
import threading
import time
from contextlib import contextmanager, nullcontext

WORK_DIRNAME = ".perfbench_work"


def box_cores() -> int:
    """Cores this process may run on (what `nproc` prints)."""
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # not Linux
        return os.cpu_count() or 1


def mem_total_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_heap_mb() -> int:
    """One eighth of physical memory, clamped to [1 GiB, 4 GiB]. In local
    mode the driver heap is the executors' heap too; the package's 48g
    default is more than a 16 GB box has."""
    return max(1024, min(4096, mem_total_bytes() // (8 << 20)))


def prepare_workdir(root: str) -> str:
    """Fresh work dir under the checkout; temp files of this process and
    of every process it starts go there."""
    work = os.path.join(root, WORK_DIRNAME)
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "spark-local", "warehouse", "events", "data"):
        os.makedirs(os.path.join(work, sub))
    tmp = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = tmp
    import tempfile

    tempfile.tempdir = tmp
    return work


def start_spark(root: str, work: str, trace: bool, cores: int):
    """A local[cores] session sized from this box, through the package's
    own session factory so the engine's production configs (AQE, Arrow,
    shuffle partitions = cores) apply unchanged."""
    import sys

    heap = driver_heap_mb()
    os.environ["SPARK_DRIVER_MEM"] = f"{heap}m"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    # executors unpickle UDFs that reference the package by import path
    pypath = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["PYTHONPATH"] = pypath
    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.executorEnv.PYTHONPATH": pypath,
        "spark.executorEnv.TMPDIR": tmp,
        # a fixed-size heap: with the default small initial heap, when
        # G1 grows it decides how often a short run collects
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Xms{heap}m",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(work, "events"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    from commoncrawl_fetcher_lite_spark.session import get_spark

    spark = get_spark("perfbench", cores=cores, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


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
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, stack = [], [pid]
    while stack:
        for c in kids.get(stack.pop(), []):
            out.append(c)
            stack.append(c)
    return out


def _pss_bytes(pid: int) -> int:
    """Proportional set size: shared pages split among their sharers, so
    a child forked from the JVM (Hadoop's shell helpers) does not count
    the JVM's resident pages a second time, as its RSS would."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


class MemSampler:
    """Peak memory (PSS) of this process plus all its descendants (the
    JVM and its Python workers), sampled from /proc every `period` s."""

    def __init__(self, period: float = 0.5):
        self.period = period
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        me = os.getpid()
        total = sum(_pss_bytes(p) for p in [me, *descendants(me)])
        self.peak = max(self.peak, total)

    def _loop(self) -> None:
        while not self._stop.wait(self.period):
            self._sample()

    def __enter__(self) -> "MemSampler":
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait until every
    process this one started has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            # the JVM exits when its stdin closes
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait(timeout=10)
    reap_descendants()


def reap_descendants(timeout: float = 30.0) -> None:
    deadline = time.time() + timeout
    sig = signal.SIGTERM
    while True:
        left = descendants(os.getpid())
        if not left:
            return
        if time.time() > deadline:
            sig = signal.SIGKILL
        for pid in left:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        for pid in left:
            try:
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                pass
        time.sleep(0.2)


def median(xs):
    return statistics.median(xs) if xs else None


def dir_bytes(path: str) -> int:
    total = 0
    for base, _dirs, files in os.walk(path):
        for fn in files:
            total += os.path.getsize(os.path.join(base, fn))
    return total


class OpTimer:
    """Times the named parts of one op; a part is also a span when the
    op is traced. ``OpTimer(None, False)`` times without tracing."""

    def __init__(self, tracer, traced: bool):
        self.tracer = tracer
        self.traced = traced
        self.parts: dict[str, float] = {}

    @contextmanager
    def __call__(self, name: str):
        t0 = time.perf_counter()
        with self.tracer.span(name) if self.tracer else nullcontext():
            yield
        self.parts[name] = self.parts.get(name, 0.0) + time.perf_counter() - t0
