"""Run hygiene, the Spark session, sampling, statistics and spans shared by
the workloads."""

from __future__ import annotations

import glob
import json
import os
import shutil
import sys
import threading
import time
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)

#: Per-run state lives under the checkout, in a tree wiped at every start.
RUN_ROOT = ".perfbench_run"


def cpu_count() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def cpu_times() -> tuple[int, int]:
    """(all, steal) jiffies of the whole machine, from /proc/stat: the
    steal share of a run tells how much CPU a hypervisor took away."""
    try:
        with open("/proc/stat") as f:
            vals = [int(v) for v in f.readline().split()[1:]]
        return sum(vals), vals[7] if len(vals) > 7 else 0
    except (OSError, ValueError):
        return 0, 0


def driver_memory() -> str:
    """A driver heap that fits the box: a quarter of physical memory,
    between 1 and 2 GiB (the session default of 24g does not fit)."""
    try:
        total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (ValueError, OSError):
        total = 8 << 30
    return f"{max(1, min(2, total // 4 >> 30))}g"


def prepare_root(workload: str) -> str:
    """Wipe and recreate the run's state tree and point every temp-file
    consumer (Python, the JVM, Spark's block manager, the warehouse) into
    it, so nothing lands in ``/tmp`` or ``spark-warehouse/``."""
    root = os.path.join(os.getcwd(), RUN_ROOT, workload)
    shutil.rmtree(root, ignore_errors=True)
    # flush what earlier runs left dirty, so its writeback does not land
    # in this run's timed regions
    os.sync()
    for sub in ("tmp", "local", "warehouse", "events", "data"):
        os.makedirs(os.path.join(root, sub))
    tmp = os.path.join(root, "tmp")
    os.environ["TMPDIR"] = tmp
    import tempfile

    tempfile.tempdir = tmp
    cpus = str(cpu_count())
    os.environ["SPARK_GRAFT_CPUS"] = cpus
    os.environ["SPARK_MASTER"] = f"local[{cpus}]"
    os.environ["SPARK_DRIVER_MEMORY"] = driver_memory()
    # the spark-submit launcher is a JVM of its own
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    return root


def start_spark(root: str, trace: bool):
    """The engine's own session factory, with run-local directories,
    console progress off and, in a traced run only, the event log on."""
    if REPO not in sys.path:
        sys.path.insert(0, REPO)
    from sf_epa_data_ingestion_spark.session import get_spark

    tmp = os.path.join(root, "tmp")
    conf = {
        "spark.local.dir": os.path.join(root, "local"),
        "spark.sql.warehouse.dir": os.path.join(root, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData"
        ),
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.streaming.numRecentProgressUpdates": "10000",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(root, "events"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(app_name="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then close the gateway JVM and wait for it (and
    with it every Python worker it forked) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — a hung JVM is killed, not leaked
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


# --------------------------------------------------------------------------
# memory
# --------------------------------------------------------------------------

def _anon_kb(pid: int) -> int:
    """``RssAnon`` of ``pid``: a counter read, with no page-table walk
    and no lock the sampled process could wait on."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("RssAnon:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _is_python_worker(pid: int) -> bool:
    """A PySpark daemon or worker. Other children of the JVM are
    short-lived fork+exec helpers whose pre-exec image shares the JVM's
    pages; counting them would count the JVM twice."""
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return b"pyspark.daemon" in f.read()
    except OSError:
        return False


def _descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        for path in glob.glob(f"/proc/{p}/task/*/children"):
            try:
                with open(path) as f:
                    todo.extend(int(c) for c in f.read().split())
            except OSError:
                pass
    return out


class RssSampler(threading.Thread):
    """Peak anonymous RSS of the driver JVM, and of its PySpark daemon and
    workers together, sampled every ``period`` seconds, with the largest
    number of those Python processes seen alive at once."""

    def __init__(self, pid: int, period: float = 0.25):
        super().__init__(daemon=True)
        self.pid = pid
        self.period = period
        self.peak_jvm_kb = 0
        self.peak_workers_kb = 0
        self.peak_workers = 0
        self._halt = threading.Event()

    def sample(self) -> None:
        workers = [p for p in _descendants(self.pid)[1:] if _is_python_worker(p)]
        self.peak_jvm_kb = max(self.peak_jvm_kb, _anon_kb(self.pid))
        self.peak_workers_kb = max(self.peak_workers_kb, sum(_anon_kb(p) for p in workers))
        self.peak_workers = max(self.peak_workers, len(workers))

    def run(self) -> None:
        while not self._halt.wait(self.period):
            self.sample()

    def stop(self) -> None:
        self.sample()
        self._halt.set()
        self.join()


# --------------------------------------------------------------------------
# statistics
# --------------------------------------------------------------------------

def median(xs: list[float]) -> float:
    s = sorted(xs)
    n = len(s)
    if n == 0:
        raise ValueError("median of no samples")
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2.0


def tail(xs: list[float]) -> dict:
    """The highest percentile with at least ten samples beyond it: with
    ``n`` sorted samples that is the ``n - 10``-th one, percentile
    ``100 * (n - 10) / n``. Below 21 samples that percentile is not above
    the median, so the median (upper median for even ``n``) is reported:
    no tail is supported. The record keeps the percentile, the sample
    count and the number of samples beyond."""
    s = sorted(xs)
    n = len(s)
    if n == 0:
        raise ValueError("tail of no samples")
    k = max(n - 11, n // 2)
    return {"value": s[k], "percentile": round(100.0 * (k + 1) / n, 2),
            "samples": n, "beyond": n - 1 - k}


# --------------------------------------------------------------------------
# spans
# --------------------------------------------------------------------------

class Tracer:
    """Spans around the benchmark's calls into the program: name, start,
    end, parent and run id, kept in memory and written out at the end.

    In a traced run each span also sets a Spark job group named after its
    id, so the event log attributes every job, stage and task to the
    innermost span that caused it. Untraced, ``span`` costs one branch."""

    def __init__(self, enabled: bool, run_id: str, sc=None):
        self.enabled = enabled
        self.run_id = run_id
        self.sc = sc
        self.timed = False  # set while the timed region runs
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._names: dict[int, str] = {}

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        sid = len(self._names)
        self._names[sid] = name
        parent = self._stack[-1] if self._stack else None
        rec = {"id": sid, "name": name, "parent": parent, "run_id": self.run_id,
               "timed": self.timed, **attrs}
        self.sc.setJobGroup(f"pb{sid}", name)
        self._stack.append(sid)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self.spans.append(rec)
            if parent is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            else:
                self.sc.setJobGroup(f"pb{parent}", self._names[parent])

    def self_seconds(self) -> dict[int, float]:
        """span id -> duration minus the time its child spans cover."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out = {}
        for s in self.spans:
            covered, cur_s, cur_e = 0.0, None, None
            for a, b in sorted(kids.get(s["id"], [])):
                if cur_e is None or a > cur_e:
                    if cur_e is not None:
                        covered += cur_e - cur_s
                    cur_s, cur_e = a, b
                else:
                    cur_e = max(cur_e, b)
            if cur_e is not None:
                covered += cur_e - cur_s
            out[s["id"]] = (s["end"] - s["start"]) - covered
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def per_call(tracer: Tracer, name: str, scale: float = 1.0) -> float | None:
    """Median duration of the timed or probed spans called ``name``
    (seconds times ``scale``); None when no such span ran."""
    ds = [s["end"] - s["start"] for s in tracer.spans if s["name"] == name and s.get("timed")]
    return median(ds) * scale if ds else None
