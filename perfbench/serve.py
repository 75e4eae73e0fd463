"""``serve``: the layers of the hybrid search service, probed.

``serve`` is not a workload of its own (see README.md); a traced run of
another workload probes it after its timed region, untimed, in the same
session. Set-up is the service's own: a ``storage.txindex`` BM25 index
and an IVF-PQ vector index over the generated chunks. Then one request
cycle, each request sent after the previous reply:

- ``bm25``: ``TxSearchSnapshot.bm25_maxscore`` on the pinned generation;
- ``hybrid``: ``search.hybrid_search_ann_many`` (BM25 leg on the pinned
  generation + IVF-PQ leg, fused by RRF);
- ``ann``: ``similarity.ivfpq_search`` alone;
- ``refresh``: ``refresh_tx_search_index`` of a fixed-size change feed,
  then the client re-pins the new generation.

Correctness: every BM25 reply is compared with a brute-force BM25 over
the corpus of the generation it was served from, scored in DuckDB.
"""

from __future__ import annotations

import os
import re

import pyarrow as pa
import pyarrow.parquet as pq

from common import per_call


def write_inputs(inputs: dict, data_dir: str) -> None:
    docs = inputs["docs"]
    table = pa.table({
        "doc_id": pa.array([d["doc_id"] for d in docs], pa.int64()),
        "text": pa.array([d["text"] for d in docs], pa.string()),
        "embedding": pa.array([d["embedding"] for d in docs], pa.list_(pa.float64())),
    })
    pq.write_table(table, os.path.join(data_dir, "corpus.parquet"))


class Serve:
    name = "serve"

    def __init__(self, spark, spec: dict, inputs: dict, root: str, tracer):
        self.spark = spark
        self.spec = spec
        self.inputs = inputs
        self.root = root
        self.tr = tracer
        self.idx = os.path.join(root, "txindex")
        self.vidx = os.path.join(root, "vindex")
        self.next_req = 0
        self.checked: list[dict] = []
        self.files_live: list[int] = []

    def setup(self) -> None:
        from sf_epa_data_ingestion_spark.operators import similarity
        from sf_epa_data_ingestion_spark.storage import txindex

        spark, spec = self.spark, self.spec
        self.docs = spark.read.parquet(os.path.join(self.root, "data", "corpus.parquet"))
        with self.tr.span("storage.txindex.build"):
            txindex.materialize_tx_search_index(
                self.docs, self.idx, id_col="doc_id", text_col="text",
                n_buckets=spec["n_buckets"],
            )
        with self.tr.span("operators.similarity.build"):
            similarity.materialize_vector_index(
                self.docs, self.vidx, corpus_id="doc_id", vec_col="embedding",
                dim=spec["dim"], n_centroids=spec["n_centroids"],
            )
            self.index, self.coarse, self.cq, _ = similarity.load_vector_index(spark, self.vidx)
        self._pin()

    def _pin(self) -> None:
        from sf_epa_data_ingestion_spark.storage import txindex

        with self.tr.span("storage.txindex.pin"):
            self.snap = txindex.load_tx_search_index(self.spark, self.idx)

    def probe_steps(self) -> int:
        return len(self.inputs["requests"])

    def step(self) -> None:
        req = self.inputs["requests"][self.next_req]
        rid = self.next_req
        self.next_req += 1
        with self.tr.span("serve.request", kind=req["kind"]):
            if req["kind"] == "refresh":
                self._refresh(req["feed"])
            else:
                self._read(req, rid)

    def _read(self, req: dict, rid: int) -> None:
        from sf_epa_data_ingestion_spark.operators import search, similarity

        spark, dim, qid = self.spark, self.spec["dim"], -(rid + 1)
        kind = req["kind"]
        if kind == "bm25":
            with self.tr.span("operators.search.bm25"):
                q = spark.createDataFrame([(qid, req["text"])], "query_id long, query_text string")
                rows = self.snap.bm25_maxscore(q, k=10).collect()
            self.checked.append({
                "text": req["text"], "gen": self.snap.gen, "n_docs": self.snap.n_docs,
                "rows": [(int(r["id"]), float(r["score"])) for r in rows],
            })
        elif kind == "ann":
            with self.tr.span("operators.similarity.ann"):
                q = spark.createDataFrame([(qid, req["vec"])], "query_id long, embedding array<double>")
                rows = similarity.ivfpq_search(
                    self.index, self.docs.select("doc_id", "embedding"), q, self.coarse,
                    self.cq, k=10, corpus_id="doc_id", dim=dim,
                ).collect()
        else:
            with self.tr.span("operators.search.hybrid_ann"):
                q = spark.createDataFrame(
                    [(qid, req["text"], req["vec"])],
                    "query_id long, query_text string, query_vec array<double>",
                )
                rows = search.hybrid_search_ann_many(
                    self.docs, self.snap.postings(), self.snap.stats(), q, self.index,
                    self.coarse, self.cq, k=10, id_col="doc_id", dim=dim,
                ).collect()
        if not rows:
            raise RuntimeError(f"{kind} request {rid} returned no hits")

    def _refresh(self, k: int) -> None:
        from sf_epa_data_ingestion_spark.storage import txindex

        feed = self.inputs["feeds"][k]
        with self.tr.span("storage.txindex.refresh"):
            changes = self.spark.createDataFrame(
                [(c["doc_id"], c["text"], c["_change_type"]) for c in feed],
                "doc_id long, text string, _change_type string",
            )
            txindex.refresh_tx_search_index(
                self.spark, self.idx, changes, id_col="doc_id", text_col="text",
                txn=("perfbench-serve", k),
            )
        self._pin()
        self.files_live.append(self._files_live())

    def _files_live(self) -> int:
        from sf_epa_data_ingestion_spark.storage.txlog import TxTable
        from sf_epa_data_ingestion_spark.streaming.generations import GenerationStore

        versions = GenerationStore(self.idx).meta(self.snap.gen)["versions"]
        return sum(
            len(TxTable(self.spark, os.path.join(self.idx, p)).read_files(version=int(v)))
            for p, v in versions.items()
        )

    def finish(self) -> None:
        pass

    def corpus_at(self, gen: int) -> dict[int, str]:
        """The corpus a generation serves: the generated docs with feeds
        0 .. gen-2 applied (generation 1 is the initial build)."""
        live = {d["doc_id"]: d["text"] for d in self.inputs["docs"]}
        for feed in self.inputs["feeds"][: gen - 1]:
            for c in feed:
                if c["_change_type"] == "delete":
                    live.pop(c["doc_id"], None)
            for c in feed:
                if c["_change_type"] == "insert":
                    live[c["doc_id"]] = c["text"]
        return live

    def check(self, corrupt: bool = False) -> tuple[int, int, list[str]]:
        """Brute-force BM25 in DuckDB for every recorded reply."""
        fails = []
        corpora: dict[int, dict[int, str]] = {}
        for i, rec in enumerate(self.checked):
            got = list(rec["rows"])
            if corrupt and i == 0:
                got[0] = (got[0][0], got[0][1] + 1.0)
            if rec["gen"] not in corpora:
                corpora[rec["gen"]] = self.corpus_at(rec["gen"])
            corpus = corpora[rec["gen"]]
            if len(corpus) != rec["n_docs"]:
                fails.append(f"bm25 gen {rec['gen']}: n_docs {rec['n_docs']} != {len(corpus)}")
                continue
            msg = compare_bm25(got, brute_bm25(corpus, rec["text"]))
            if msg:
                fails.append(f"bm25 {rec['text']!r} gen {rec['gen']}: {msg}")
        return len(self.checked), len(fails), fails

    def layers(self, tracer, spark_ops: dict) -> dict:
        reads = [s for s in tracer.spans if s["name"] == "serve.request" and s.get("timed")
                 and s.get("kind") != "refresh"]
        if not reads or not self.files_live:
            return {}
        n = len(reads)
        tot = {k: sum(spark_ops.get(s["id"], {}).get(k, 0.0) for s in reads)
               for k in ("stages", "planning_ms", "scan_files", "scan_rows")}
        return {
            "storage.txindex.pin_ms": per_call(tracer, "storage.txindex.pin", 1000.0),
            "operators.search.bm25_ms": per_call(tracer, "operators.search.bm25", 1000.0),
            "operators.search.hybrid_ann_ms": per_call(tracer, "operators.search.hybrid_ann", 1000.0),
            "operators.similarity.ann_ms": per_call(tracer, "operators.similarity.ann", 1000.0),
            "serve.stages_per_request": tot["stages"] / n,
            "serve.planning_ms_per_request": tot["planning_ms"] / n,
            "serve.files_scanned_per_request": tot["scan_files"] / n,
            "serve.rows_scanned_per_hit": tot["scan_rows"] / (n * 10),
            "storage.txindex.refresh_ms": per_call(tracer, "storage.txindex.refresh", 1000.0),
            "storage.txindex.files_live": float(self.files_live[-1]),
        }


LAYERS = (
    "storage.txindex.pin_ms", "operators.search.bm25_ms", "operators.search.hybrid_ann_ms",
    "operators.similarity.ann_ms", "serve.stages_per_request", "serve.planning_ms_per_request",
    "serve.files_scanned_per_request", "serve.rows_scanned_per_hit",
    "storage.txindex.refresh_ms", "storage.txindex.files_live",
)

_NON_ALNUM = re.compile(r"[^a-z0-9\s]")


def _tokens(text: str) -> list[str]:
    """The engine's BM25 tokenization, re-derived: lowercase, every
    character outside [a-z0-9] and whitespace becomes a space, split."""
    return _NON_ALNUM.sub(" ", text.lower()).split()


def brute_bm25(corpus: dict[int, str], text: str) -> list[tuple[int, float]]:
    """Okapi BM25 (k1=1.2, b=0.75, idf = ln(1 + (N - df + 0.5)/(df + 0.5)),
    distinct query terms, scores rounded to 6 places) of every document
    of ``corpus`` that holds a query term, scored in DuckDB and ranked by
    score, then id."""
    import duckdb

    toks = [(d, tok) for d, t in corpus.items() for tok in _tokens(t)]
    con = duckdb.connect()
    con.register("toks", pa.table({"doc_id": pa.array([r[0] for r in toks], pa.int64()),
                                   "tok": pa.array([r[1] for r in toks], pa.string())}))
    con.register("q", pa.table({"tok": pa.array(sorted(set(_tokens(text))), pa.string())}))
    return con.execute(
        """
        with tf as (select doc_id, tok, count(*) tf from toks group by all),
             dl as (select doc_id, count(*)::double dl from toks group by all),
             a as (select avg(dl) avgdl from dl),
             df as (select tok, count(distinct doc_id) df from toks group by tok)
        select tf.doc_id,
               round(sum(ln(1 + (? - df.df + 0.5) / (df.df + 0.5))
                         * (tf.tf * 2.2) / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / a.avgdl))), 6) s
        from tf join q using (tok) join df using (tok) join dl using (doc_id), a
        group by tf.doc_id
        order by s desc, tf.doc_id
        """,
        [float(len(corpus))],
    ).fetchall()


def compare_bm25(got: list[tuple[int, float]], ranking: list[tuple[int, float]],
                 k: int = 10) -> str | None:
    """None when ``got`` is a correct top-``k`` of ``ranking``: the same
    score at every rank (tied ids may come in another order), and every
    returned id is a matching document scored as ``ranking`` scores it."""
    want = ranking[:k]
    if len(got) != len(want):
        return f"{len(got)} hits, want {len(want)}"
    scores = dict(ranking)
    for (gid, gs), (_, ws) in zip(got, want):
        if abs(gs - ws) > 1e-5 or abs(scores.get(gid, float("-inf")) - gs) > 1e-5:
            return f"got {got[:3]} want {want[:3]}"
    return None
