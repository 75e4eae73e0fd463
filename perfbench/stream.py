"""``stream``: a micro-batch replay in a closed loop.

Two Structured Streaming queries read parquet feed directories, one file
per trigger (``maxFilesPerTrigger=1``):

- events -> ``streaming.stateful.running_user_stats`` -> ``foreachBatch``
  that keeps the latest emitted row per user;
- documents -> ``streaming.ingest.training_doc_appender`` (C4 gate,
  in-batch and cross-batch exact dedup, exactly-once txsink commits,
  compaction) into a ``TxTable``.

One feed step admits the next event file, waits until the stateful query
has committed it, then admits the next document file and waits for the
ingest query; the next step starts only then. Set-up runs a warm-up
replay of ``warmup_files`` steps through separate queries, checkpoints
and table, then starts the measured queries.

Correctness: the final per-user stats equal one group-by over every fed
event, and the table's row count equals the number of distinct
normalized-text digests among fed documents that pass the C4 rules, both
recomputed in plain Python.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import shutil
import time

import pyarrow as pa
import pyarrow.parquet as pq

from common import median

LAYERS = (
    "streaming.stateful.add_batch_ms", "streaming.stateful.planning_ms",
    "streaming.stateful.wal_commit_ms", "streaming.stateful.offset_commit_ms",
    "streaming.stateful.state_rows", "streaming.stateful.state_mb",
    "streaming.stateful.state_commit_ms", "streaming.ingest.add_batch_ms",
    "streaming.ingest.planning_ms", "streaming.ingest.wal_commit_ms",
    "streaming.ingest.admitted_ratio", "storage.txlog.commits", "storage.txlog.files_live",
)

EVENT_SCHEMA = "event_id long, user_id long, ts timestamp, value double"
DOC_SCHEMA = "doc_id long, text string"


def write_inputs(inputs: dict, data_dir: str, spec: dict) -> None:
    for kind in ("events", "docs"):
        os.makedirs(os.path.join(data_dir, kind))
    for i, rows in enumerate(inputs["events"]):
        pq.write_table(pa.table({
            "event_id": pa.array([r["event_id"] for r in rows], pa.int64()),
            "user_id": pa.array([r["user_id"] for r in rows], pa.int64()),
            "ts": pa.array([r["ts_us"] for r in rows], pa.timestamp("us", tz="UTC")),
            "value": pa.array([r["value"] for r in rows], pa.float64()),
        }), os.path.join(data_dir, "events", f"{i:05d}.parquet"))
    for i, rows in enumerate(inputs["docs"]):
        pq.write_table(pa.table({
            "doc_id": pa.array([r["doc_id"] for r in rows], pa.int64()),
            "text": pa.array([r["text"] for r in rows], pa.string()),
        }), os.path.join(data_dir, "docs", f"{i:05d}.parquet"))


def _progress(q) -> list[dict]:
    return [json.loads(p.json) if hasattr(p, "json") else dict(p) for p in q.recentProgress]


def _publish(src: str, dst_dir: str, name: str) -> None:
    """Copy ``src`` into a watched source directory so a running query
    never lists it half written: the copy gets a dot-prefixed name, which
    Spark's file listing skips, and is renamed into place when complete."""
    tmp = os.path.join(dst_dir, f".{name}.tmp")
    shutil.copyfile(src, tmp)
    os.replace(tmp, os.path.join(dst_dir, name))


class _Pipeline:
    """The two queries over one pair of source directories."""

    def __init__(self, spark, root: str, tag: str, spec: dict):
        from sf_epa_data_ingestion_spark.storage.txlog import TxTable
        from sf_epa_data_ingestion_spark.streaming.ingest import training_doc_appender
        from sf_epa_data_ingestion_spark.streaming.stateful import running_user_stats

        self.dir = os.path.join(root, tag)
        self.src_ev = os.path.join(self.dir, "src_events")
        self.src_doc = os.path.join(self.dir, "src_docs")
        os.makedirs(self.src_ev)
        os.makedirs(self.src_doc)
        self.latest: dict[int, tuple] = {}

        def keep_latest(df, batch_id):
            for r in df.collect():
                prev = self.latest.get(r["user_id"])
                if prev is None or r["n_events"] >= prev[0]:
                    self.latest[r["user_id"]] = (r["n_events"], r["total_value"], r["last_ts"])

        events = (spark.readStream.schema(EVENT_SCHEMA).option("maxFilesPerTrigger", 1)
                  .parquet(self.src_ev))
        self.q_stats = (
            running_user_stats(events).writeStream.outputMode("update")
            .foreachBatch(keep_latest)
            .option("checkpointLocation", os.path.join(self.dir, "ckpt_stats"))
            .queryName(f"{tag}_stats").start()
        )
        self.table = TxTable(spark, os.path.join(self.dir, "corpus")).create_empty(
            "doc_id long, text string, text_hash string"
        )
        docs = (spark.readStream.schema(DOC_SCHEMA).option("maxFilesPerTrigger", 1)
                .parquet(self.src_doc))
        self.q_docs = (
            docs.writeStream.foreachBatch(training_doc_appender(
                self.table, f"perfbench-{tag}", compact_files=spec["compact_files"],
                compact_target_files=1,
            ))
            .option("checkpointLocation", os.path.join(self.dir, "ckpt_docs"))
            .queryName(f"{tag}_docs").start()
        )

    def feed(self, data_dir: str, i: int, tracer) -> None:
        name = f"{i:05d}.parquet"
        with tracer.span("streaming.stateful.batch"):
            _publish(os.path.join(data_dir, "events", name), self.src_ev, name)
            self.q_stats.processAllAvailable()
        with tracer.span("streaming.ingest.batch"):
            _publish(os.path.join(data_dir, "docs", name), self.src_doc, name)
            self.q_docs.processAllAvailable()

    def stop(self) -> None:
        for q in (self.q_stats, self.q_docs):
            q.stop()


class Stream:
    name = "stream"

    def __init__(self, spark, spec: dict, inputs: dict, root: str, tracer):
        self.spark = spark
        self.spec = spec
        self.inputs = inputs
        self.root = root
        self.data = os.path.join(root, "data")
        self.tr = tracer
        self.ops: list[float] = []
        self.next_file = spec["warmup_files"]

    def setup(self) -> None:
        if self.spec["warmup_files"]:
            warm = _Pipeline(self.spark, self.root, "warmup", self.spec)
            for i in range(self.spec["warmup_files"]):
                warm.feed(self.data, i, self.tr)
            warm.stop()
        self.pipe = _Pipeline(self.spark, self.root, "measured", self.spec)
        self.versions_at_start = len(self.pipe.table.versions())

    def exhausted(self) -> bool:
        return self.next_file >= len(self.inputs["events"])

    def probe_steps(self) -> int:
        return self.spec["max_files"]

    def items(self, k: int) -> int:
        """Feed rows of the ``k``-th timed step."""
        i = self.spec["warmup_files"] + k
        return len(self.inputs["events"][i]) + len(self.inputs["docs"][i])

    def step(self) -> None:
        t0 = time.perf_counter()
        with self.tr.span("stream.step"):
            self.pipe.feed(self.data, self.next_file, self.tr)
        self.ops.append(time.perf_counter() - t0)
        self.next_file += 1

    def fed(self) -> range:
        return range(self.spec["warmup_files"], self.spec["warmup_files"] + len(self.ops))

    def finish(self) -> None:
        """Stop the measured queries and keep their progress reports."""
        self.progress = {"stats": _progress(self.pipe.q_stats), "docs": _progress(self.pipe.q_docs)}
        self.pipe.stop()

    def check(self, corrupt: bool = False) -> tuple[int, int, list[str]]:
        latest = dict(self.pipe.latest)
        rows = self.pipe.table.row_count()
        if corrupt:
            uid = min(latest)
            n, tot, ts = latest[uid]
            latest[uid] = (n + 1, tot, ts)
        fails = check_user_stats([self.inputs["events"][i] for i in self.fed()], latest)
        want = admitted_digests([self.inputs["docs"][i] for i in self.fed()])
        if rows != len(want):
            fails.append(f"corpus table has {rows} rows, {len(want)} distinct admitted digests")
        return 2, len(fails), fails

    def layers(self, tracer, spark_ops: dict) -> dict:
        # every batch of the measured queries ran inside a timed feed step
        st, dc = ([p for p in self.progress[q] if p.get("numInputRows", 0) > 0]
                  for q in ("stats", "docs"))
        if not st or not dc:
            return {}

        def med(ps, key):
            vals = [p["durationMs"][key] for p in ps if key in p.get("durationMs", {})]
            return float(median(vals)) if vals else None

        ops = [p["stateOperators"][0] for p in st]
        fed_docs = sum(len(self.inputs["docs"][i]) for i in self.fed())
        versions = self.pipe.table.versions()
        rows_added = self.pipe.table.row_count()
        return {
            "streaming.stateful.add_batch_ms": med(st, "addBatch"),
            "streaming.stateful.planning_ms": med(st, "queryPlanning"),
            "streaming.stateful.wal_commit_ms": med(st, "walCommit"),
            "streaming.stateful.offset_commit_ms": med(st, "commitOffsets"),
            "streaming.stateful.state_rows": float(ops[-1]["numRowsTotal"]),
            "streaming.stateful.state_mb": ops[-1]["memoryUsedBytes"] / 2**20,
            "streaming.stateful.state_commit_ms": float(median([o["commitTimeMs"] for o in ops])),
            "streaming.ingest.add_batch_ms": med(dc, "addBatch"),
            "streaming.ingest.planning_ms": med(dc, "queryPlanning"),
            "streaming.ingest.wal_commit_ms": med(dc, "walCommit"),
            "streaming.ingest.admitted_ratio": rows_added / max(1, fed_docs),
            "storage.txlog.commits": (len(versions) - self.versions_at_start) / max(1, len(self.ops)),
            "storage.txlog.files_live": float(len(self.pipe.table.read_files())),
        }


# --------------------------------------------------------------------------
# independent recomputations
# --------------------------------------------------------------------------

def check_user_stats(event_files: list[list[dict]], latest: dict) -> list[str]:
    """Per-user (count, sum, max event time) over every fed event against
    the latest row the stream emitted for that user."""
    want: dict[int, list] = {}
    for rows in event_files:
        for r in rows:
            w = want.setdefault(r["user_id"], [0, 0.0, -(1 << 62)])
            w[0] += 1
            w[1] += r["value"]
            w[2] = max(w[2], r["ts_us"])
    fails = []
    if set(want) != set(latest):
        fails.append(f"users: {len(want)} fed, {len(latest)} emitted")
    for uid, (n, tot, ts_us) in sorted(want.items()):
        got = latest.get(uid)
        if got is None:
            continue
        g_n, g_tot, g_ts = got
        g_us = round(g_ts.timestamp() * 1_000_000) if hasattr(g_ts, "timestamp") else g_ts
        if g_n != n or abs(g_tot - tot) > 1e-6 * max(1.0, abs(tot)) or g_us != ts_us:
            fails.append(f"user {uid}: got {(g_n, g_tot, g_us)} want {(n, tot, ts_us)}")
    return fails


_WORD_SPLIT = re.compile(r"[^a-z0-9]+")
_WS = re.compile(r"[ \t\n\x0b\f\r]+")


def c4_keep(text: str | None) -> bool:
    """The C4/Gopher document rules, re-derived: 50 to 100000 words of
    [a-z0-9], mean word length 3 to 10, no '{', no 'lorem ipsum'."""
    if text is None:
        return False
    words = [w for w in _WORD_SPLIT.split(text.lower()) if w]
    if not 50 <= len(words) <= 100_000:
        return False
    mean = sum(map(len, words)) / len(words)
    return 3.0 <= mean <= 10.0 and "{" not in text and "lorem ipsum" not in text.lower()


def digest(text: str) -> str:
    """md5 of the normalized text: lowercase, whitespace runs collapsed."""
    return hashlib.md5(_WS.sub(" ", text.lower()).strip().encode()).hexdigest()


def admitted_digests(doc_files: list[list[dict]]) -> set[str]:
    return {digest(d["text"]) for rows in doc_files for d in rows if c4_keep(d["text"])}
