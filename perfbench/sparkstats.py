"""What Spark itself reports, attributed to the benchmark's spans.

Two sources, both used in the traced run only:

- the event log: every job carries the job group its span set, so jobs,
  stages and task metrics (run time, GC, shuffle, spill) and the SQL
  metrics of Python and scan nodes (rows, bytes, files) add up per span;
- a ``QueryExecutionListener`` registered through the py4j callback
  server: each action's ``QueryPlanningTracker`` phases (analysis,
  optimization, planning), attributed to the innermost span whose
  interval holds the phase start.
"""

from __future__ import annotations

import glob
import json
import os

#: Physical nodes that run Python code (Arrow/pandas UDF boundaries).
_PY_NODE_MARKS = ("Python", "Pandas", "Arrow")
_SCAN_MARKS = ("Scan parquet", "Scan json", "Scan csv", "Scan text", "Scan orc")

COUNTERS = ("jobs", "stages", "tasks", "task_s", "gc_s", "shuffle_write_mb",
            "shuffle_read_mb", "spill_mb", "python_rows", "python_mb",
            "scan_files", "scan_mb", "scan_rows", "planning_ms")


class PlanningListener:
    """Collects (start_s, planning_ms) for every successful action."""

    def __init__(self):
        self.records: list[tuple[float, float]] = []

    def onSuccess(self, funcName, qe, durationNs):  # noqa: N802 — py4j interface
        try:
            it = qe.tracker().phases().iterator()
            start, total = None, 0
            while it.hasNext():
                kv = it.next()
                ph = kv._2()
                total += ph.endTimeMs() - ph.startTimeMs()
                start = ph.startTimeMs() if start is None else min(start, ph.startTimeMs())
            if start is not None:
                self.records.append((start / 1000.0, float(total)))
        except Exception:  # noqa: BLE001 — a metrics callback must never fail a query
            pass

    def onFailure(self, funcName, qe, exception):  # noqa: N802
        pass

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def register_planning_listener(spark) -> PlanningListener:
    from pyspark.java_gateway import ensure_callback_server_started

    ensure_callback_server_started(spark.sparkContext._gateway)
    lst = PlanningListener()
    spark._jsparkSession.listenerManager().register(lst)
    return lst


def drain_listeners(spark) -> None:
    """Wait until queued listener events (and so planning callbacks) are
    delivered."""
    try:
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    except Exception:  # noqa: BLE001
        pass


def _walk(plan: dict, out: dict) -> None:
    name = plan.get("nodeName", "")
    is_py = any(m in name for m in _PY_NODE_MARKS)
    is_scan = any(name.startswith(m) for m in _SCAN_MARKS)
    for m in plan.get("metrics", []):
        aid, mname = m.get("accumulatorId"), m.get("name", "")
        if is_py and mname == "number of output rows":
            out[aid] = "python_rows"
        elif mname in ("data sent to Python workers", "data returned from Python workers"):
            out[aid] = "python_mb"
        elif is_scan and mname == "number of files read":
            out[aid] = "scan_files"
        elif is_scan and mname in ("size of files read",):
            out[aid] = "scan_mb"
        elif is_scan and mname == "number of output rows":
            out[aid] = "scan_rows"
    for c in plan.get("children", []):
        _walk(c, out)


def parse_event_log(events_dir: str) -> dict[str, dict[str, float]]:
    """Job group -> summed counters (see ``COUNTERS``) from the run's
    event log. Jobs outside any group are keyed ``t<submission ms>``."""
    paths = [p for p in glob.glob(os.path.join(events_dir, "*")) if not p.endswith(".inprogress")]
    paths = paths or glob.glob(os.path.join(events_dir, "*"))
    acc_kind: dict[int, str] = {}
    stage_group: dict[int, str] = {}
    exec_group: dict[int, str] = {}
    driver_updates: list[tuple[int, list]] = []
    out: dict[str, dict[str, float]] = {}

    def bucket(g: str) -> dict[str, float]:
        return out.setdefault(g, dict.fromkeys(COUNTERS, 0.0))

    for path in paths:
        with open(path) as f:
            for line in f:
                try:
                    ev = json.loads(line)
                except ValueError:
                    continue
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    # streaming micro-batches run on the query's own thread,
                    # under the query's job group, not a span's: keyed by
                    # submission time instead
                    g = props.get("spark.jobGroup.id") or ""
                    if not g.startswith("pb"):
                        g = f"t{ev.get('Submission Time', 0)}"
                    bucket(g)["jobs"] += 1
                    for s in ev.get("Stage IDs", []):
                        stage_group.setdefault(s, g)
                    eid = props.get("spark.sql.execution.id")
                    if eid is not None:
                        exec_group.setdefault(int(eid), g)
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    b = bucket(stage_group.get(info["Stage ID"], ""))
                    b["stages"] += 1
                    b["tasks"] += info.get("Number of Tasks", 0)
                elif kind == "SparkListenerTaskEnd":
                    b = bucket(stage_group.get(ev.get("Stage ID"), ""))
                    m = ev.get("Task Metrics") or {}
                    b["task_s"] += m.get("Executor Run Time", 0) / 1000.0
                    b["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                    sw = m.get("Shuffle Write Metrics") or {}
                    b["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 2**20
                    sr = m.get("Shuffle Read Metrics") or {}
                    b["shuffle_read_mb"] += (
                        sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    ) / 2**20
                    b["spill_mb"] += (
                        m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    ) / 2**20
                    for a in (ev.get("Task Info") or {}).get("Accumulables", []):
                        k = acc_kind.get(a.get("ID"))
                        if k is not None:
                            _add(b, k, a.get("Update"))
                elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                    "SparkListenerSQLAdaptiveExecutionUpdate"
                ):
                    _walk(ev.get("sparkPlanInfo") or {}, acc_kind)
                elif kind.endswith("SparkListenerDriverAccumUpdates"):
                    driver_updates.append((ev.get("executionId"), ev.get("accumUpdates") or []))
    for eid, ups in driver_updates:
        b = bucket(exec_group.get(eid, ""))
        for aid, val in ups:
            k = acc_kind.get(aid)
            if k is not None:
                _add(b, k, val)
    return out


def _add(b: dict, kind: str, val) -> None:
    try:
        v = float(val)
    except (TypeError, ValueError):
        return
    b[kind] += v / 2**20 if kind in ("python_mb", "scan_mb") else v


def attribute(tracer, groups: dict[str, dict[str, float]],
              planning: list[tuple[float, float]]) -> dict[int, dict[str, float]]:
    """Span id -> counters of the span itself (not its children): by job
    group where the job carried one, else by time (the innermost span
    open at the job's submission or the action's planning start)."""
    spans = sorted(tracer.spans, key=lambda s: s["start"])

    def innermost(t: float):
        inner = None
        for s in spans:
            if s["start"] <= t <= s["end"] and (inner is None or s["start"] >= inner["start"]):
                inner = s
        return None if inner is None else inner["id"]

    per: dict[int, dict[str, float]] = {}

    def add(sid, b):
        if sid is not None:
            tgt = per.setdefault(sid, dict.fromkeys(COUNTERS, 0.0))
            for k, v in b.items():
                tgt[k] += v

    for g, b in groups.items():
        if g.startswith("pb"):
            add(int(g[2:]), b)
        elif g.startswith("t"):
            add(innermost(int(g[1:]) / 1000.0), b)
    for start, ms in planning:
        add(innermost(start), {"planning_ms": ms})
    return per


def inclusive(tracer, per: dict[int, dict[str, float]]) -> dict[int, dict[str, float]]:
    """Span id -> counters of the span including all its descendants."""
    parent = {s["id"]: s["parent"] for s in tracer.spans}
    out = {s["id"]: dict.fromkeys(COUNTERS, 0.0) for s in tracer.spans}
    for sid, b in per.items():
        r = sid
        while r is not None:
            for k, v in b.items():
                out[r][k] += v
            r = parent.get(r)
    return out
