"""Host fitting for the benchmark: environment, Spark session, memory.

Everything the benchmark writes goes under ``<checkout>/.perfbench_work``:
Spark's local dirs, the JVM's and Python's temp dirs and every dataset.
The session runs on ``local[nproc]`` with driver memory sized from
MemTotal, and the engine package is put on Spark's Python workers' path.
"""

from __future__ import annotations

import os
import shutil
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def mem_total_kb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_mem_gb(total_kb: int) -> int:
    """A quarter of the host's memory, between 1 and 2 GiB: the driver
    is also the only executor in local mode, the inputs are tens of
    megabytes, and the Python workers and other tenants need the rest."""
    return max(1, min(2, total_kb // (4 << 20)))


def engine_importable() -> bool:
    return os.path.isfile(os.path.join(ROOT, "cpp_parquet_spark",
                                       "__init__.py"))


class Host:
    """One benchmark process's environment: work directory, session and
    the versions and sizes the output records."""

    def __init__(self, workload: str, seed: int):
        self.nproc = os.cpu_count() or 1
        try:
            self.nproc = len(os.sched_getaffinity(0))
        except AttributeError:
            pass
        self.mem_total_kb = mem_total_kb()
        self.work = os.path.join(ROOT, ".perfbench_work",
                                 f"{workload}-{seed}-{os.getpid()}")
        self.spark = None

    def prepare_env(self) -> None:
        """Must run before pyspark starts the JVM."""
        os.makedirs(self.work, exist_ok=True)
        tmp = os.path.join(self.work, "tmp")
        local = os.path.join(self.work, "spark-local")
        os.makedirs(tmp, exist_ok=True)
        os.makedirs(local, exist_ok=True)
        os.environ["TMPDIR"] = tmp
        os.environ["SPARK_LOCAL_DIRS"] = local
        os.environ["SPARK_GRAFT_CPUS"] = str(self.nproc)
        mem = f"{driver_mem_gb(self.mem_total_kb)}g"
        os.environ["SPARK_DRIVER_MEM"] = mem
        # Spark's Python workers import the engine by name
        path = os.environ.get("PYTHONPATH", "")
        os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
        os.environ["PYSPARK_PYTHON"] = sys.executable
        os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
        os.environ["PYSPARK_SUBMIT_ARGS"] = (
            # a heap fixed at its maximum from the start: the JVM's
            # resident size then does not depend on when G1 grows it
            f"--driver-java-options '-Djava.io.tmpdir={tmp} -Xms{mem}' "
            f"--conf spark.sql.warehouse.dir={self.work}/warehouse "
            "--conf spark.ui.showConsoleProgress=false pyspark-shell")
        if ROOT not in sys.path:
            sys.path.insert(0, ROOT)

    def start_spark(self):
        from cpp_parquet_spark.session import get_spark
        self.spark = get_spark(f"local[{self.nproc}]", app="perfbench")
        return self.spark

    def info(self, seed: int) -> dict:
        import pyarrow
        import pyspark
        return {"nproc": self.nproc, "mem_total_kb": self.mem_total_kb,
                "driver_mem": os.environ.get("SPARK_DRIVER_MEM"),
                "pyspark": pyspark.__version__,
                "pyarrow": pyarrow.__version__, "seed": seed,
                "python": sys.version.split()[0]}

    def close(self) -> None:
        """Stop Spark, wait for the JVM to exit, remove the work dir."""
        if self.spark is not None:
            from pyspark import SparkContext
            gw = SparkContext._gateway
            proc = getattr(gw, "proc", None)
            self.spark.stop()
            if gw is not None:
                gw.shutdown()
            if proc is not None:
                if proc.stdin is not None:
                    proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except Exception:
                    proc.kill()
                    proc.wait(timeout=10)
            self.spark = None
        shutil.rmtree(self.work, ignore_errors=True)
        parent = os.path.dirname(self.work)
        try:
            os.rmdir(parent)
        except OSError:
            pass


def _tree_rss_kb(root_pid: int) -> dict[str, int]:
    """Resident memory of ``root_pid`` and its descendants, by kind:
    the driver, the JVM it launched, Spark's Python workers; also the
    number of those processes and the largest worker's memory. Other
    descendants are left out: a child the JVM has forked but not yet
    exec'd (Hadoop's shell helpers) shows the JVM's whole resident set,
    which it shares, and would count the heap twice."""
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    comm: dict[int, str] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rfind(")") + 2:].split()
        pid, ppid = int(d), int(fields[1])
        children.setdefault(ppid, []).append(pid)
        rss[pid] = int(fields[21]) * (os.sysconf("SC_PAGE_SIZE") // 1024)
        comm[pid] = stat[stat.find("(") + 1:stat.rfind(")")]
    out = {"driver": rss.get(root_pid, 0), "jvm": 0, "workers": 0,
           "procs": 1, "largest_worker": 0}
    stack = list(children.get(root_pid, ()))
    while stack:
        p = stack.pop()
        name = comm.get(p, "")
        if name == "java":
            out["jvm"] += rss.get(p, 0)
        elif name.startswith("python"):
            out["workers"] += rss.get(p, 0)
            out["largest_worker"] = max(out["largest_worker"],
                                        rss.get(p, 0))
        else:
            continue
        out["procs"] += 1
        stack.extend(children.get(p, ()))
    return out


class RssSampler:
    """Peak of the process tree's summed resident memory, sampled on a
    background thread every ``period`` seconds."""

    def __init__(self, period: float = 0.2):
        self.period = period
        self.peak_kb = 0
        self.peak_by_kind_kb = {"driver": 0, "jvm": 0, "workers": 0}
        #: the sample that set the peak: seconds since start, what
        #: ``label()`` said was running, resident kB by kind, the largest
        #: worker's and the number of processes in the tree
        self.at_peak: dict = {}
        self.label = lambda: None
        self._t0 = time.perf_counter()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        kinds = _tree_rss_kb(os.getpid())
        extra = {k: kinds.pop(k) for k in ("procs", "largest_worker")}
        total = sum(kinds.values())
        if total > self.peak_kb:
            self.peak_kb = total
            self.at_peak = {"t_s": time.perf_counter() - self._t0,
                            "during": self.label(), **extra, **kinds}
        for k, v in kinds.items():
            self.peak_by_kind_kb[k] = max(self.peak_by_kind_kb[k], v)

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.period)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        if not self._stop.is_set():
            self._stop.set()
            self._thread.join(timeout=5)
            self._sample()
        return self.peak_kb / 1024.0


def now() -> float:
    return time.perf_counter()


def cpu_ticks() -> tuple[int, int]:
    """(all, steal) jiffies of every CPU since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return sum(fields[:8]), fields[7]


def steal_share(t0: tuple[int, int], t1: tuple[int, int]) -> float | None:
    """Share of CPU time the hypervisor gave other guests between two
    ``cpu_ticks`` readings: a host-load gauge for reading spreads."""
    total = t1[0] - t0[0]
    return (t1[1] - t0[1]) / total if total > 0 else None
