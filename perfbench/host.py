"""Host sizing, the benchmark's Spark session, and /proc accounting of the
process tree the session spawns (driver, JVM, pyspark daemon and workers).

``getrusage(RUSAGE_CHILDREN)`` only sees children that have exited, so it
misses the live JVM and the reused Python workers; this module reads
``/proc/<pid>/stat`` and ``/proc/<pid>/smaps_rollup`` of every live process
in the tree instead.
"""

from __future__ import annotations

import os
import platform
import signal
import subprocess
import tempfile
import threading
import time
from pathlib import Path

CLK_TCK = os.sysconf("SC_CLK_TCK")
# "jit" is the JVM's JIT compiler threads, counted apart from the rest of
# the JVM: they compile Spark's code for many cycles after start-up, and
# their share of the JVM's CPU swings widely from run to run
CLASSES = ("driver", "jvm", "jit", "pyworkers")
WORK_CLASSES = ("driver", "jvm", "pyworkers")


def host_info() -> dict:
    import numpy
    import pyarrow
    import pyspark

    with open("/proc/meminfo") as f:
        mem_kb = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_mb": mem_kb // 1024,
        "driver_heap_mb": driver_heap_mb(mem_kb // 1024),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__,
        "python": platform.python_version(),
    }


def driver_heap_mb(mem_total_mb: int) -> int:
    """A sixteenth of MemTotal, within [1, 4] GB: ample for inputs of tens
    of MB, and the rest stays free for the Python workers, the page cache
    that holds the sinks, and the host's other tenants."""
    return max(1024, min(4096, mem_total_mb // 16))


def start_session(root: Path, work: Path, host: dict):
    """``local[nproc]`` session whose scratch (shuffle, spill, temp files)
    stays under ``work``, with the repo root on the workers' path."""
    tmp = work / "tmp"
    local = work / "local"
    tmp.mkdir(parents=True, exist_ok=True)
    local.mkdir(parents=True, exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = str(root) + (os.pathsep + path if path else "")
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = str(tmp)
    # SPARK_LOCAL_DIRS overrides spark.local.dir in local mode
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    from hadoop_etl_udfs_spark.session import get_spark

    heap_mb = host["driver_heap_mb"]
    return get_spark(
        app_name="perfbench",
        cores=host["nproc"],
        extra_conf={
            "spark.driver.memory": f"{heap_mb}m",
            "spark.local.dir": str(local),
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.driver.extraJavaOptions": (
                # a fixed heap size keeps the JVM's resizing decisions out
                # of the timings; its pages are not pre-touched, so the PSS
                # peaks still grow with the heap the engine uses. Compiler
                # threads that never exit keep their CPU time readable per
                # thread.
                f"-Xms{heap_mb}m -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
                " -XX:-UseDynamicNumberOfCompilerThreads"
            ),
            "spark.ui.showConsoleProgress": "false",
            # the traced run reads every stage of the run back at the end
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )


def cpu_steal() -> tuple[int, int]:
    """(steal, total) jiffies of the whole machine from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def _parent_map() -> dict[int, int]:
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                s = f.read()
        except OSError:
            continue
        out[int(d)] = int(s[s.rindex(")") + 2:].split()[1])
    return out


def descendants(root_pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, ppid in _parent_map().items():
        children.setdefault(ppid, []).append(pid)
    out, stack = [], [root_pid]
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(children.get(pid, ()))
    return out


class ProcTree:
    """CPU seconds and PSS of this process and everything it spawned,
    split into driver / jvm / pyworkers."""

    def __init__(self) -> None:
        self.root = os.getpid()
        self._cls: dict[int, str] = {}

    def _classify(self, pid: int) -> str:
        cls = self._cls.get(pid)
        if cls is None:
            if pid == self.root:
                cls = "driver"
            else:
                try:
                    exe = os.readlink(f"/proc/{pid}/exe")
                except OSError:
                    exe = ""
                cls = "jvm" if os.path.basename(exe) == "java" else "pyworkers"
            self._cls[pid] = cls
        return cls

    def cpu(self) -> dict[str, float]:
        """Per-class utime+stime of live processes plus cutime+cstime of
        the children they already reaped, so a worker that exits mid-run
        keeps counting (through its parent). The JVM's JIT compiler threads
        are taken out of "jvm" and counted as "jit"."""
        out = dict.fromkeys(CLASSES, 0.0)
        for pid in descendants(self.root):
            ticks = _ticks(f"/proc/{pid}/stat", 15)
            if ticks is None:
                continue
            cls = self._classify(pid)
            if cls == "jvm":
                jit = _jit_ticks(pid)
                out["jit"] += jit / CLK_TCK
                ticks -= jit
            out[cls] += ticks / CLK_TCK
        return out

    def pss_mb(self) -> dict[str, float]:
        out = dict.fromkeys(WORK_CLASSES, 0.0)
        for pid in descendants(self.root):
            try:
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    kb = next(int(ln.split()[1]) for ln in f if ln.startswith("Pss:"))
            except (OSError, StopIteration):
                continue
            out[self._classify(pid)] += kb / 1024
        return out


def _ticks(path: str, end: int) -> int | None:
    """utime+stime (``end`` 13) or that plus cutime+cstime (``end`` 15)
    from a stat file, or None once the process or thread is gone."""
    try:
        with open(path) as f:
            s = f.read()
    except OSError:
        return None
    return sum(int(x) for x in s[s.rindex(")") + 2:].split()[11:end])


def _jit_ticks(pid: int) -> int:
    out = 0
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/comm") as f:
                if not f.read().startswith(("C1 CompilerThre", "C2 CompilerThre")):
                    continue
        except OSError:
            continue
        out += _ticks(f"/proc/{pid}/task/{tid}/stat", 13) or 0
    return out


class JvmHeap:
    """Peak old-generation occupancy of the session's JVM from its
    MemoryPoolMXBeans: it grows with the data the engine keeps alive, which
    PSS (touched pages) cannot show. The young pools are left out; their
    peaks track the collector's sizing of them, not the engine's data."""

    def __init__(self, sc) -> None:
        mf = sc._jvm.java.lang.management.ManagementFactory
        self.pools = [
            p for p in mf.getMemoryPoolMXBeans()
            if p.getType().toString() == "Heap memory"
            and not any(w in p.getName() for w in ("Eden", "Survivor"))
        ]

    def reset(self) -> None:
        for p in self.pools:
            p.resetPeakUsage()

    def peak_mb(self) -> float:
        """Peak since ``reset()``."""
        return sum(p.getPeakUsage().getUsed() for p in self.pools) / 2**20


class PssSampler:
    """Background thread sampling the tree's PSS while ``active`` is set;
    ``take()`` returns the per-class and total peaks since the last call."""

    def __init__(self, tree: ProcTree, period_s: float = 0.3) -> None:
        self.tree = tree
        self.period_s = period_s
        self.active = threading.Event()
        self._stop = threading.Event()
        self._lock = threading.Lock()
        self._peak: dict[str, float] = {}
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self) -> PssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    def sample(self) -> None:
        pss = self.tree.pss_mb()
        pss["total"] = sum(pss.values())
        with self._lock:
            for k, v in pss.items():
                self._peak[k] = max(self._peak.get(k, 0.0), v)

    def _run(self) -> None:
        while not self._stop.wait(self.period_s):
            if self.active.is_set():
                self.sample()

    def take(self) -> dict[str, float]:
        with self._lock:
            peak, self._peak = self._peak, {}
        return peak


def stop_session(spark, timeout_s: float = 60.0) -> None:
    """Stop Spark, end the JVM, and wait until every process the session
    spawned has exited."""
    sc = spark.sparkContext
    gateway = sc._gateway
    proc = getattr(gateway, "proc", None)
    spawned = [p for p in descendants(os.getpid()) if p != os.getpid()]
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        # the gateway JVM exits when its stdin closes
        proc.stdin.close()
        try:
            proc.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    if not _wait_gone(spawned, timeout_s):
        for p in spawned:
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass
        if not _wait_gone(spawned, timeout_s):
            raise RuntimeError(f"session processes still alive: {spawned}")


def _wait_gone(pids: list[int], timeout_s: float) -> bool:
    deadline = time.monotonic() + timeout_s
    while any(_alive(p) for p in pids):
        if time.monotonic() > deadline:
            return False
        time.sleep(0.1)
    return True


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            state = f.read().rsplit(")", 1)[1].split()[0]
    except OSError:
        return False
    return state != "Z"
