#!/usr/bin/env python3
"""Run one benchmark workload against the engine and print its metrics.

    python3 perfbench/run.py --workload stream --seed 1 --seconds 15 --trace 0

Run from the repository root. Each run is a fresh process on
``local[<cpus>]``: it wipes its state tree under ``.perfbench_run/``,
generates its inputs from ``--seed`` (not timed), starts the session and
the program's own set-up (timed as ``setup_s``), runs the workload's
closed loop for ``--seconds``, checks the outputs, stops every process it
started, and prints one JSON object as the last line of standard output:

    {"correct": true, "attempted": 8, "failed": 0, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics of ``BENCHMARK.json``;
``--trace 1`` turns on spans, job groups, the event log and a planning
listener and reports the per-layer metrics instead. After its timed
region a traced run probes every other layer family (``curate``,
``serve``, ``stream``) untimed in the same session, so each per-layer
metric is measured in every traced run; a metric that could not be
measured makes the run incomplete, never 0. ``traced.*`` are the
end-to-end values measured under tracing: set against an untraced run of
the same seed they give the tracing overhead. ``--corrupt`` damages one
output before the checks, which must then fail.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import common  # noqa: E402
import gen  # noqa: E402
import sparkstats  # noqa: E402

E2E = ("setup_s", "op_p50_ms")
#: Workloads with an end-to-end run; ``serve`` is a layer family probed
#: by the traced runs only.
WORKLOADS = ("curate", "stream")
FAMILIES = ("curate", "serve", "stream")
#: Event-log and planning counters reported per timed operation as spark.*
SPARK_COUNTERS = tuple(k for k in sparkstats.COUNTERS if k != "scan_rows")


def load_json(path: str) -> dict:
    with open(path) as f:
        return json.load(f)


def workload_class(name: str):
    if name == "curate":
        from curate import Curate

        return Curate
    if name == "serve":
        from serve import Serve

        return Serve
    from stream import Stream

    return Stream


def make_inputs(name: str, seed: int, spec: dict, data_dir: str) -> dict:
    """Generate the workload's inputs and write the files the program
    reads. Pure function of (seed, spec)."""
    if name == "curate":
        inputs = gen.curate_inputs(seed, spec)
    elif name == "serve":
        inputs = gen.serve_inputs(seed, spec)
        from serve import write_inputs

        write_inputs(inputs, data_dir)
    else:
        inputs = gen.stream_inputs(seed, spec, spec["warmup_files"] + spec["max_files"])
        from stream import write_inputs

        write_inputs(inputs, data_dir, spec)
    return inputs


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt", action="store_true")
    args = ap.parse_args(argv)

    bench = load_json(os.path.join(os.getcwd(), "BENCHMARK.json"))
    specs = load_json(os.path.join(HERE, "spec.json"))
    spec = specs[args.workload]
    if not os.path.isdir(os.path.join(common.REPO, "sf_epa_data_ingestion_spark")):
        print("perfbench: the engine package is not in this checkout", file=sys.stderr)
        return 2
    # wiping the previous run's tree is the harness's work, not set-up
    t_prep = time.perf_counter()
    root = common.prepare_root(args.workload)
    prep_s = time.perf_counter() - t_prep
    trace = bool(args.trace)
    load1, load5, _ = os.getloadavg()
    cpu0 = common.cpu_times()

    t_gen = time.perf_counter()
    inputs = make_inputs(args.workload, args.seed, spec, os.path.join(root, "data"))
    inputs_hash = gen.inputs_hash(inputs)
    gen_s = time.perf_counter() - t_gen

    spark = common.start_spark(root, trace)
    sc = spark.sparkContext
    rss = common.RssSampler(sc._gateway.proc.pid)
    rss.start()
    tracer = common.Tracer(trace, f"{args.workload}-{args.seed}-{os.getpid()}", sc)
    planning = None
    if trace:
        planning = sparkstats.register_planning_listener(spark)
    wl = workload_class(args.workload)(spark, spec, inputs, root, tracer)
    wl.setup()
    setup_s = time.perf_counter() - T_PROCESS - prep_s - gen_s

    errors: list[str] = []
    n_ops = failed_ops = 0
    tracer.timed = True
    t0 = time.perf_counter()
    while time.perf_counter() - t0 < args.seconds and not wl.exhausted():
        n_ops += 1
        try:
            wl.step()
        except Exception:  # noqa: BLE001 — a failed operation is data
            failed_ops += 1
            errors.append(traceback.format_exc(limit=3))
            if failed_ops >= 3:
                break
    timed_s = time.perf_counter() - t0
    tracer.timed = False

    wl.finish()
    n_checks, failed_checks, check_msgs = wl.check(corrupt=args.corrupt)
    rss.stop()
    memory = {
        "memory.jvm_peak_rss_anon_mb": rss.peak_jvm_kb / 1024.0,
        "memory.workers_peak_rss_anon_mb": rss.peak_workers_kb / 1024.0,
        "memory.workers_peak": float(rss.peak_workers),
    }
    op_ms = [1000.0 * s for s in wl.ops]
    e2e = {"setup_s": setup_s}
    if op_ms:
        e2e["op_p50_ms"] = common.median(op_ms)

    layers = dict(memory)
    probed = []
    if trace:
        layers.update({f"traced.{k}": v for k, v in e2e.items()})
        for name in FAMILIES:
            if name == args.workload:
                continue
            try:
                pspec = {**specs[name], **specs[name].get("probe", {})}
                probe = run_probe(name, args.seed, pspec, spark, root, tracer)
            except Exception:  # noqa: BLE001 — a failed probe is a failed operation
                failed_checks += 1
                errors.append(f"probe {name}:\n" + traceback.format_exc(limit=3))
                continue
            _, probe_failed, probe_msgs = probe.check()
            failed_checks += probe_failed
            check_msgs += [f"probe {name}: {m}" for m in probe_msgs]
            probed.append(probe)
        sparkstats.drain_listeners(spark)
    common.stop_spark(spark)
    summary = {}
    if trace:
        found, summary = spark_layers([wl] + probed, tracer, planning, root)
        layers.update(found)

    failed = min(n_ops, failed_ops + failed_checks)
    cpu1 = common.cpu_times()
    record = {
        "workload": args.workload, "seed": args.seed, "trace": trace,
        "inputs_sha256": inputs_hash, "prep_s": prep_s, "gen_s": gen_s,
        "loadavg_1m_5m": [load1, load5],
        "cpus": common.cpu_count(), "driver_memory": os.environ["SPARK_DRIVER_MEMORY"],
        "memory": memory,
        "steal_share": (cpu1[1] - cpu0[1]) / max(1, cpu1[0] - cpu0[0]),
        "timed_s": timed_s, "ops": n_ops, "failed_ops": failed_ops,
        "checks": n_checks, "failed_checks": failed_checks,
        "error_rate": failed / max(1, n_ops),
        "op_ms": [round(x, 1) for x in op_ms],
        "items_per_s": sum(wl.items(k) for k in range(len(op_ms))) / sum(wl.ops) if op_ms else None,
        "tail": common.tail(op_ms) if op_ms else None,
        "errors": errors, "check_failures": check_msgs[:20],
        "e2e": e2e, "layers": layers, "spans": summary,
    }
    with open(os.path.join(root, "record.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    if trace:
        tracer.dump(os.path.join(root, "spans.json"))
    for e in errors + check_msgs[:5]:
        print(e.rstrip(), file=sys.stderr)

    wanted = bench["per_layer"] if trace else bench["end_to_end"]
    values = layers if trace else e2e
    metrics = {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]}
               for m in wanted if values.get(m["name"]) is not None}
    missing = [m["name"] for m in wanted if m["name"] not in metrics]
    if missing:
        print(f"perfbench: not measured: {', '.join(missing)}", file=sys.stderr)
    print(
        f"perfbench {args.workload} seed={args.seed} trace={int(trace)} inputs_sha256={inputs_hash[:16]} "
        f"loadavg={load1:.2f} ops={n_ops} error_rate={record['error_rate']:.4f} "
        f"record={os.path.relpath(os.path.join(root, 'record.json'))}"
    )
    print(json.dumps({
        "correct": failed == 0 and not missing,
        "attempted": max(1, n_ops),
        "failed": max(failed, 1) if missing else failed,
        "metrics": metrics,
    }), flush=True)
    return 0


def run_probe(name: str, seed: int, spec: dict, spark, root: str, tracer):
    """In a traced run, after the timed region: the ``name`` family's
    set-up plus ``probe_steps()`` of its operations, spans tagged
    ``timed="probe"``. Returns the probed workload, for its layers and
    checks."""
    proot = os.path.join(root, "probe", name)
    os.makedirs(os.path.join(proot, "data"))
    inputs = make_inputs(name, seed, spec, os.path.join(proot, "data"))
    wl = workload_class(name)(spark, spec, inputs, proot, tracer)
    wl.setup()
    tracer.timed = "probe"
    try:
        for _ in range(wl.probe_steps()):
            wl.step()
    finally:
        tracer.timed = False
        wl.finish()
    return wl


def spark_layers(workloads, tracer, planning, root) -> tuple[dict, dict]:
    """Event-log and planning counters, per timed operation, then each
    workload's own layer metrics; and, per span name, the median wall
    time and Spark counters of its timed or probed calls."""
    groups = sparkstats.parse_event_log(os.path.join(root, "events"))
    per = sparkstats.attribute(tracer, groups, planning.records if planning else [])
    inc = sparkstats.inclusive(tracer, per)
    ops = [s["id"] for s in tracer.spans if s["parent"] is None and s.get("timed") is True]
    out = {}
    if ops:
        out = {f"spark.{k}": sum(inc[i][k] for i in ops) / len(ops) for k in SPARK_COUNTERS}
        selfs = tracer.self_seconds()
        out["trace.op_self_ms"] = common.median([selfs[i] * 1000.0 for i in ops])
    out["trace.spans"] = float(len(tracer.spans))
    for wl in workloads:
        out.update(wl.layers(tracer, inc))
    by_name: dict[str, list] = {}
    for s in tracer.spans:
        if s.get("timed"):
            by_name.setdefault(s["name"], []).append(s)
    summary = {
        name: {"calls": len(ss),
               "wall_s": common.median([s["end"] - s["start"] for s in ss]),
               **{k: common.median([inc[s["id"]][k] for s in ss])
                  for k in sparkstats.COUNTERS}}
        for name, ss in by_name.items()
    }
    return out, summary


if __name__ == "__main__":
    sys.exit(main())
