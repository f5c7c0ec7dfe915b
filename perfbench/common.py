"""Process-tree sampling, Spark session start and small statistics helpers.

Everything here reads ``/proc`` directly: the benchmark must not depend
on packages the engine does not already need.
"""

from __future__ import annotations

import os
import statistics
import threading
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
_TICK = os.sysconf("SC_CLK_TCK")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def steal_ticks() -> int:
    """Cumulative hypervisor steal ticks of the whole machine."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # field 2 (comm) may contain spaces; everything after ')' is fixed
    return raw[raw.rfind(")") + 2 :].split()


def process_tree(root_pid: int | None = None) -> list[int]:
    """``root_pid`` and all of its live descendants."""
    root_pid = root_pid or os.getpid()
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields:
            children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_cpu_s(pids: list[int]) -> float:
    """User+system CPU of the tree, including reaped children of each member."""
    total = 0
    for pid in pids:
        f = _stat_fields(pid)
        if f:
            total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return total / _TICK


def tree_pss_bytes(pids: list[int]) -> int:
    """Resident memory of the tree as summed proportional set size: pages
    the forked Python workers share with their daemon count once, so the
    figure does not jump with the number of idle workers kept alive."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            pass
    return total


class TreeSampler:
    """Background sampler of the process tree's resident memory.

    ``peak_mb()`` gives the peak seen since ``mark()``; the tree is
    re-listed on every tick so Python workers forked by the JVM are
    included from the moment they exist.
    """

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self._peak = 0
        self._stop = threading.Event()
        self._lock = threading.Lock()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            rss = tree_pss_bytes(process_tree())
            with self._lock:
                self._peak = max(self._peak, rss)
            self._stop.wait(self.interval)

    def start(self) -> TreeSampler:
        self._thread.start()
        return self

    def mark(self) -> None:
        with self._lock:
            self._peak = tree_pss_bytes(process_tree())

    def peak_mb(self) -> float:
        with self._lock:
            return self._peak / 2**20

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()


def configure_environment(work: Path) -> None:
    """Keep every file Spark and its workers write inside ``work`` and
    make ``crawler_spark`` importable by the Python workers, whatever
    the caller's working directory is."""
    for sub in ("spark-local", "tmp"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    # every JVM, the spark-submit launcher included: no hsperfdata file in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}"
    paths = [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def start_spark(work: Path):
    from crawler_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        master=f"local[{nproc()}]",
        extra_conf={
            "spark.local.dir": str(work / "spark-local"),
            "spark.sql.warehouse.dir": str(work / "spark-warehouse"),
            # the stage table is the source of the spark.* task metrics
            "spark.ui.retainedStages": "100000",
            "spark.ui.retainedJobs": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()  # the session is started once a job has run
    return spark


def stop_spark(spark) -> None:
    """Stop the context, then the JVM, and wait until both are gone."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        try:
            gateway.shutdown()
        except Exception:  # noqa: BLE001 - already closed
            pass
    if proc is not None:
        try:
            proc.stdin.close()
        except Exception:  # noqa: BLE001
            pass
        try:
            proc.wait(timeout=20)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()


def reap_children(timeout: float = 20.0) -> None:
    """Wait for every descendant to exit; kill what is left after ``timeout``."""
    deadline = time.time() + timeout
    while time.time() < deadline:
        rest = [p for p in process_tree() if p != os.getpid()]
        if not rest:
            return
        time.sleep(0.2)
    for pid in process_tree():
        if pid != os.getpid():
            try:
                os.kill(pid, 9)
            except OSError:
                pass
    for pid in process_tree():
        if pid != os.getpid():
            try:
                os.waitpid(pid, 0)
            except OSError:
                pass


class CheckFailed(Exception):
    """An output of the engine differs from what the benchmark derived."""


def median(xs: list[float]) -> float:
    return float(statistics.median(xs))


def tail(xs: list[float]) -> dict:
    """The highest percentile with at least ten samples beyond it.

    With ``n`` samples that is the ``1 - 10/n`` quantile; fewer than
    eleven samples have no such percentile, and the record says so.
    """
    n = len(xs)
    if n < 11:
        return {"value": None, "percentile": None, "samples": n}
    pct = 100.0 * (1.0 - 10.0 / n)
    ordered = sorted(xs)
    k = min(n - 1, max(0, int(round(pct / 100.0 * (n - 1)))))
    return {"value": ordered[k], "percentile": round(pct, 2), "samples": n}
