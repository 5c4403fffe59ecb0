"""Shared benchmark plumbing: paths, environment, Spark session,
process-tree memory sampling and small statistics helpers.

Everything the benchmark writes lives under ``<root>/.perfbench_work``
(removed on exit), where ``<root>`` is the directory that holds this
package's parent: the checkout the benchmark is run from.
"""

from __future__ import annotations

import os
import shutil
import signal
import statistics
import sys
import threading
import time
from pathlib import Path

PKG = Path(__file__).resolve().parent
ROOT = PKG.parent
ENGINE = ROOT / "ecov003_l2t_stars_spark"


def cpu_count() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def prepare_env(work: Path) -> None:
    """Pin the environment before the JVM and Python workers start:
    engine importable by workers, single-threaded BLAS in every worker,
    all temporary files (Spark local dirs, JVM and Python temp files) in
    ``work``."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    pp = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = str(ROOT) + (os.pathsep + pp if pp else "")
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ[var] = "1"
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpu_count())
    os.environ["SPARK_DRIVER_MEM"] = "3g"
    import tempfile

    tempfile.tempdir = str(tmp)
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))


def start_spark(app: str, work: Path, event_log: Path | None = None):
    """The engine's own session factory at ``local[nproc]``; with
    ``event_log`` set, Spark's uncompressed event log goes there."""
    from ecov003_l2t_stars_spark.session import get_spark

    tmp = work / "tmp"
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(work / "spark-local"),
        # no hsperfdata files in the system temp directory
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} "
        "-XX:-UsePerfData",
    }
    if event_log is not None:
        event_log.mkdir(parents=True, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": str(event_log),
                "spark.eventLog.compress": "false",
            }
        )
    spark = get_spark(
        app_name=app, master=f"local[{cpu_count()}]", extra_conf=conf
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _proc_table() -> tuple[dict[int, int], dict[int, int], dict[int, str]]:
    """(parent, resident pages, state) of every process in /proc."""
    parent: dict[int, int] = {}
    pages: dict[int, int] = {}
    state: dict[int, str] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
            with open(f"/proc/{entry}/statm") as f:
                resident = int(f.read().split()[1])
        except (OSError, ValueError, IndexError):
            continue
        pid = int(entry)
        # the command name may hold spaces: fields follow the last ')'
        fields = stat.rsplit(")", 1)[1].split()
        state[pid], parent[pid], pages[pid] = fields[0], int(fields[1]), resident
    return parent, pages, state


def _descendants(root: int, parent: dict[int, int]) -> set[int]:
    out = set()
    for pid in parent:
        p = pid
        while p and p != root:
            p = parent.get(p, 0)
        if p == root and pid != root:
            out.add(pid)
    return out


def stop_spark(spark, timeout: float = 60.0) -> None:
    """Stop the session and its JVM, then wait until every process the
    session started (the JVM, the Python worker daemon and its workers)
    has ended; any still running after ``timeout`` seconds is killed."""
    from pyspark import SparkContext

    started = _descendants(os.getpid(), _proc_table()[0])
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            # the gateway JVM exits when its stdin pipe closes
            proc.stdin.close()
            proc.wait(timeout=timeout)
    deadline = time.monotonic() + timeout
    while True:
        state = _proc_table()[2]
        alive = [p for p in started if state.get(p, "Z") != "Z"]
        if not alive:
            return
        if time.monotonic() > deadline:
            for p in alive:
                os.kill(p, signal.SIGKILL)
            return
        time.sleep(0.1)


class RssSampler:
    """Peak resident memory of this process and its descendants, sampled
    from /proc on a thread, in two parts: the driver side (this process,
    the JVM and its helpers) and the Python workers (the PySpark daemon
    and its forks). How many workers the daemon forks varies from run to
    run with task timing, so only the driver side is a steady figure.

    A descendant counts from its second consecutive sample on: a child
    the JVM spawns for a shell command briefly shares the JVM's address
    space and would otherwise count the JVM's memory twice."""

    def __init__(self, interval: float = 0.25) -> None:
        self.interval = interval
        self.driver_peak_bytes = 0
        self.workers_peak_bytes = 0
        self.workers_peak = 0
        self._prev: set[int] = set()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    @staticmethod
    def _is_worker(pid: int) -> bool:
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                return b"pyspark.daemon" in f.read()
        except OSError:
            return False

    def _sample(self) -> None:
        me = os.getpid()
        parent, pages, _ = _proc_table()
        tree = _descendants(me, parent)
        counted = tree & self._prev
        self._prev = tree
        workers = {p for p in counted if self._is_worker(p)}
        driver = pages.get(me, 0) + sum(pages[p] for p in counted - workers)
        self.driver_peak_bytes = max(self.driver_peak_bytes,
                                     driver * self._page)
        self.workers_peak_bytes = max(
            self.workers_peak_bytes,
            sum(pages[p] for p in workers) * self._page,
        )
        self.workers_peak = max(self.workers_peak, len(workers))

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def median(xs: list[float]) -> float:
    return float(statistics.median(xs))


def dir_bytes(path: Path, suffix: str = ".parquet") -> tuple[int, int]:
    """(bytes, files) of the data files under ``path``."""
    n_bytes = n_files = 0
    if path.exists():
        for p in path.rglob(f"*{suffix}"):
            n_bytes += p.stat().st_size
            n_files += 1
    return n_bytes, n_files


def reset_dir(path: Path) -> Path:
    shutil.rmtree(path, ignore_errors=True)
    path.mkdir(parents=True)
    return path

