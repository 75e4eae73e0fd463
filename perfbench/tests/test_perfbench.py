"""The benchmark's own tests: generator determinism, the metric contract
with BENCHMARK.json, the tail rule, and that corrupted outputs fail the
checks. None of them starts Spark.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import copy
import json
import os
import re
import shutil
import subprocess
import sys

import pytest

PB = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
REPO = os.path.dirname(PB)
sys.path.insert(0, PB)

import common  # noqa: E402
import curate  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
import serve  # noqa: E402
import stream  # noqa: E402

BENCH = json.load(open(os.path.join(REPO, "BENCHMARK.json")))
SPEC = json.load(open(os.path.join(PB, "spec.json")))


def small(name: str) -> dict:
    s = copy.deepcopy(SPEC[name])
    s.update({"curate": {"products": 60}, "serve": {"docs": 80},
              "stream": {"events_per_file": 50, "docs_per_file": 20, "warmup_files": 1,
                         "max_files": 3}}[name])
    return s


def _tree(path: str) -> dict[str, bytes]:
    out = {}
    for d, _, files in os.walk(path):
        for f in files:
            p = os.path.join(d, f)
            out[os.path.relpath(p, path)] = open(p, "rb").read()
    return out


@pytest.mark.parametrize("name", ["curate", "serve", "stream"])
def test_same_seed_gives_byte_identical_inputs(name, tmp_path):
    spec = small(name)
    dirs = [tmp_path / "a", tmp_path / "b", tmp_path / "c"]
    hashes = []
    for d, seed in zip(dirs, (7, 7, 8)):
        d.mkdir()
        hashes.append(gen.inputs_hash(run.make_inputs(name, seed, spec, str(d))))
    assert hashes[0] == hashes[1] != hashes[2]
    assert _tree(str(dirs[0])) == _tree(str(dirs[1]))


def test_generated_inputs_have_the_stated_properties():
    inp = gen.curate_inputs(3, SPEC["curate"])
    assert all(len(p["pdfs"]) >= 2 for p in inp["products"])
    assert inp["metadata"] and all(len(t) < 1512 for t in inp["labels"].values())
    missing = sum("types" not in p for p in inp["payloads"].values()) / len(inp["payloads"])
    assert 0.03 < missing < 0.2
    assert inp["plant"]["exact"] and inp["plant"]["near"] and inp["plant"]["c4_reject"]
    sv = gen.serve_inputs(3, SPEC["serve"])
    kinds = [r["kind"] for r in sv["requests"]]
    assert kinds == SPEC["serve"]["cycle"] + ["refresh"] and len(sv["feeds"]) == 1
    ev = gen.stream_inputs(3, SPEC["stream"], 4)["events"][1]
    hot = sum(r["user_id"] < SPEC["stream"]["hot_users"] for r in ev) / len(ev)
    assert abs(hot - SPEC["stream"]["hot_share"]) < 0.05


def test_metric_names_and_units_match_benchmark():
    assert set(BENCH) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    e2e = {m["name"]: m for m in BENCH["end_to_end"]}
    assert set(e2e) == set(run.E2E)
    assert e2e["setup_s"]["unit"] == "s" and e2e["setup_s"]["better"] == "lower"
    assert e2e["setup_s"]["bound"] == max(m["bound"] for m in e2e.values()) <= 0.25
    produced = (
        {f"spark.{k}" for k in run.SPARK_COUNTERS}
        | {"trace.op_self_ms", "trace.spans"}
        | {"memory.jvm_peak_rss_anon_mb", "memory.workers_peak_rss_anon_mb", "memory.workers_peak"}
        | {f"traced.{k}" for k in run.E2E}
        | set(curate.LAYERS) | set(serve.LAYERS) | set(stream.LAYERS)
    )
    layers = [m["name"] for m in BENCH["per_layer"]]
    assert len(layers) == len(set(layers)) and set(layers) == produced
    for m in BENCH["end_to_end"] + BENCH["per_layer"]:
        assert re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}", m["name"])
        assert m["unit"] == _unit(m["name"]), m
    # every traced run probes the layer families it does not run itself
    assert [w["name"] for w in BENCH["workloads"]] == list(run.WORKLOADS)
    assert set(run.WORKLOADS) <= set(run.FAMILIES) == {"curate", "serve", "stream"}


def _unit(name: str) -> str:
    """The unit a metric name promises by its unit tag."""
    for tag, unit in (("ms", "ms"), ("s", "s"), ("mb", "MB"), ("ratio", "ratio"), ("recall", "ratio")):
        if re.search(rf"_{tag}(_|$)", name):
            return unit
    return "count"


def test_tail_rule():
    t = common.tail(list(range(1, 101)))
    assert (t["value"], t["percentile"], t["beyond"], t["samples"]) == (90, 90.0, 10, 100)
    t = common.tail(list(range(1, 31)))
    assert (t["value"], t["beyond"]) == (20, 10)
    t = common.tail(list(range(1, 22)))
    assert (t["value"], t["beyond"]) == (11, 10)
    # below 21 samples no percentile above the median has ten beyond it
    t = common.tail([5, 1, 4, 2, 3, 6])
    assert (t["value"], t["beyond"]) == (4, 2)
    assert common.tail([7.0])["value"] == 7.0
    assert common.median([3, 1, 2, 10]) == 2.5


def test_corrupted_stream_outputs_fail():
    inp = gen.stream_inputs(5, small("stream"), 3)
    latest = {}
    for rows in inp["events"]:
        for r in rows:
            n, tot, ts = latest.get(r["user_id"], (0, 0.0, -(1 << 62)))
            latest[r["user_id"]] = (n + 1, tot + r["value"], max(ts, r["ts_us"]))
    assert stream.check_user_stats(inp["events"], latest) == []
    uid = min(latest)
    bad = dict(latest)
    bad[uid] = (latest[uid][0], latest[uid][1] + 0.5, latest[uid][2])
    assert stream.check_user_stats(inp["events"], bad)
    del bad[uid]
    assert stream.check_user_stats(inp["events"], bad)


def test_feed_files_appear_whole(tmp_path):
    src = tmp_path / "a.parquet"
    src.write_bytes(b"PAR1" * 1000)
    (tmp_path / "watched").mkdir()
    stream._publish(str(src), str(tmp_path / "watched"), "00001.parquet")
    assert os.listdir(tmp_path / "watched") == ["00001.parquet"]
    assert (tmp_path / "watched" / "00001.parquet").read_bytes() == src.read_bytes()


def test_c4_rules_and_digest():
    ok = " ".join(["alpha", "beta", "gamma", "delta"] * 15)
    assert stream.c4_keep(ok)
    assert not stream.c4_keep("too short text")
    assert not stream.c4_keep(ok + " {")
    assert not stream.c4_keep("Lorem Ipsum " + ok)
    assert stream.digest("A  b\tC ") == stream.digest("a b c")


def test_corrupted_bm25_reply_fails():
    corpus = {1: "red apple pie", 2: "green apple", 3: "red red car", 4: "blue sky"}
    want = serve.brute_bm25(corpus, "red apple")
    assert [d for d, _ in want][:2] == [1, 3] or [d for d, _ in want][:2] == [3, 1]
    assert serve.compare_bm25(want, want) is None
    wrong_score = [(want[0][0], want[0][1] + 1.0)] + want[1:]
    assert serve.compare_bm25(wrong_score, want)
    assert serve.compare_bm25(want[:-1], want)
    # a document holding no query term, even with a plausible score
    assert serve.compare_bm25([(4, want[0][1])] + want[1:], want)
    assert serve.compare_bm25(want, want, k=2) is not None
    assert serve.compare_bm25(want[:2], want, k=2) is None


def test_curated_expectation_and_corruption():
    spec = SPEC["curate"]
    inp = gen.curate_inputs(9, spec)
    want, near = curate.expected_curated(inp, spec)
    for _, copy_id in inp["plant"]["exact"] + inp["plant"]["near"]:
        assert copy_id not in want
    for doc_id in inp["plant"]["c4_reject"]:
        assert doc_id not in want
    assert near and curate.diff_ids(set(want), want) is None
    damaged = set(want)
    damaged.discard(min(damaged))
    assert curate.diff_ids(damaged, want)


def test_run_fails_without_the_engine(tmp_path):
    """In a directory that holds only BENCHMARK.json and the benchmark's
    own files the run must exit non-zero and print no result."""
    shutil.copy(os.path.join(REPO, "BENCHMARK.json"), tmp_path)
    shutil.copytree(PB, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "stream", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0
    assert '"correct"' not in p.stdout


def test_every_layer_metric_names_what_it_should_move():
    assert set(SPEC["layer_map"]) == {m["name"] for m in BENCH["per_layer"]}
