"""``curate``: a batch run of the reference pipeline plus the curation
operators, one pass at a time.

One pass, each step persisted as a stage table before the next starts (so
each step's busy time is its own):

1. ``plans.pipeline.run_ingest``: fetch the EPA payloads through the
   in-memory fetcher, normalize, ``atomic_overwrite`` the 10 tables;
2. ``plans.pipeline.plan_downloads``: ``pdf_to_download`` (latest PDF per
   product, anti-join against the labels already downloaded);
3. ``sources.rest.download_binaries`` through the in-memory downloader;
4. ``plans.pipeline.merge_download_metadata``: the metadata MERGE;
5. ``plans.pipeline.rechunk`` of ``pdf_to_chunk``'s stage files;
6. ``plans.pipeline.enrich_chunks``;
7. PII redaction + ``operators.cleaning.c4_quality_filter``;
8. ``operators.dedup.exact_dedup``;
9. ``operators.dedup.ngram_jaccard_pairs`` then ``connected_components``;
10. ``operators.quality_model.score_docs_lr`` with the generated model;
11. ``operators.sampling.pack_sequences``;
12. one ``TxTable`` append of the curated documents.

A batch job pays its cold start on every run, so the pass is timed cold:
set-up is the session and the input frames only. (A warm-up pass costs
about 45 s of set-up, as much as the pass itself, and warm passes spread
as much from run to run as cold ones.) The quality model is a pre-trained
input (trained offline, applied in the pass).

A traced run of another workload probes this one: the same set-up and
one pass, untimed, in its session (see ``run.run_probe``).

Correctness: the curated doc-id set equals a pure-Python recomputation
from the generated inputs (latest label per product, C4 rules, exact
digests, 8-character-shingle Jaccard with union-find), and every planted
near-duplicate pair is among the pairs found.
"""

from __future__ import annotations

import itertools
import os
import re
import time

from common import per_call
from stream import c4_keep, digest

STEPS = (
    ("plans.run_ingest", "plans.run_ingest_s"),
    ("plans.pdf_to_download", "plans.pdf_to_download_s"),
    ("sources.rest.download", "sources.rest.download_s"),
    ("operators.mutate.merge", "operators.mutate.merge_s"),
    ("plans.rechunk", "plans.rechunk_s"),
    ("plans.enrich", "plans.enrich_s"),
    ("operators.cleaning.filter", "operators.cleaning.filter_s"),
    ("operators.dedup.exact", "operators.dedup.exact_s"),
    ("operators.dedup.near_pairs", "operators.dedup.near_pairs_s"),
    ("operators.dedup.components", "operators.dedup.components_s"),
    ("operators.quality_model.score", "operators.quality_model.score_s"),
    ("operators.sampling.pack", "operators.sampling.pack_s"),
    ("storage.txlog.append", "storage.txlog.append_s"),
)
LAYERS = tuple(m for _, m in STEPS) + (
    "operators.cleaning.kept_ratio", "operators.dedup.pairs_out", "operators.dedup.planted_recall",
)


class Curate:
    name = "curate"

    def __init__(self, spark, spec: dict, inputs: dict, root: str, tracer):
        self.spark = spark
        self.spec = spec
        self.inputs = inputs
        self.root = root
        self.tr = tracer
        self.ops: list[float] = []
        self.results: list[dict] = []

    def setup(self) -> None:
        from sf_epa_data_ingestion_spark import schemas

        spark, inp = self.spark, self.inputs
        self.frames = (
            spark.createDataFrame([(i,) for i in inp["ids"]], "id string"),
            spark.createDataFrame(
                [tuple(m.get(f.name) for f in schemas.EPA_PDF_INGESTION_METADATA.fields)
                 for m in inp["metadata"]],
                schemas.EPA_PDF_INGESTION_METADATA,
            ),
            spark.createDataFrame(
                [tuple(c.get(f.name) for f in schemas.DOCS_CHUNKS_TABLE.fields) for c in inp["chunks"]],
                schemas.DOCS_CHUNKS_TABLE,
            ),
        )
        payloads, labels = inp["payloads"], inp["labels"]
        self.fetcher = lambda item_id: payloads.get(item_id)  # noqa: E731
        self.downloader = lambda url: labels[url].encode("utf-8")  # noqa: E731
        model = inp["model"]
        self.model = ({int(b): w for b, w in model["weights"].items()}, model["bias"])

    def exhausted(self) -> bool:
        return False

    def probe_steps(self) -> int:
        return 1

    def items(self, k: int) -> int:
        """Input documents (one label per product) of the ``k``-th pass."""
        return len(self.inputs["products"])

    def _stage(self, df, name: str, tag: str):
        path = os.path.join(self.root, "stages", tag, name)
        df.write.parquet(path)
        return self.spark.read.parquet(path)

    def step(self) -> None:
        t0 = time.perf_counter()
        res = self._pass(f"pass{len(self.ops)}")
        self.ops.append(time.perf_counter() - t0)
        self.results.append(res)

    def _pass(self, tag: str) -> dict:
        import pyspark.sql.functions as F

        from sf_epa_data_ingestion_spark.operators.cleaning import c4_quality_filter, redact_pii
        from sf_epa_data_ingestion_spark.operators.dedup import (
            connected_components,
            exact_dedup,
            ngram_jaccard_pairs,
        )
        from sf_epa_data_ingestion_spark.operators.quality_model import score_docs_lr
        from sf_epa_data_ingestion_spark.operators.sampling import pack_sequences
        from sf_epa_data_ingestion_spark.plans import epa_views, pipeline
        from sf_epa_data_ingestion_spark.sources.rest import download_binaries
        from sf_epa_data_ingestion_spark.storage.txlog import TxTable

        spark, spec, tr = self.spark, self.spec, self.tr
        ids, metadata, chunks0 = self.frames
        stage = lambda df, name: self._stage(df, name, tag)  # noqa: E731
        cfg = pipeline.PipelineConfig(warehouse=os.path.join(self.root, "warehouse", tag),
                                      environment="BENCH")
        with tr.span("curate.pass"):
            with tr.span("plans.run_ingest"):
                tables = pipeline.run_ingest(spark, ids, self.fetcher, cfg)
            with tr.span("plans.pdf_to_download"):
                todo = stage(
                    pipeline.plan_downloads(tables, metadata)
                    .withColumn("url", F.concat(F.lit(spec["base_url"]), F.col("PDFFILE"))),
                    "todo",
                )
            with tr.span("sources.rest.download"):
                got = download_binaries(todo.select("url"), self.downloader, url_col="url")
                staged = stage(
                    todo.join(got.filter(F.col("status") == "ok"), "url").select(
                        "url", "EPAREGNO", "PRODUCTNAME", "PDFFILE", "PDFFILE_ACCEPTED_DATE",
                        "PDF_FILE_NAME", "n_bytes",
                        F.concat(F.lit("EPA_LABEL_PDF/"), F.col("PDF_FILE_NAME")).alias("RELATIVE_PATH"),
                        F.decode(F.col("content"), "UTF-8").alias("TEXT"),
                    ),
                    "downloads",
                )
            with tr.span("operators.mutate.merge"):
                new_meta = staged.select(
                    F.regexp_extract("EPAREGNO", r"^(\d+)-", 1).cast("long").alias("ID"),
                    F.col("PRODUCTNAME").alias("PRODUCT_NAME"),
                    F.concat(F.lit("stage/"), F.col("RELATIVE_PATH")).alias("STAGE_FILE_PATH"),
                    F.col("url").alias("ORIGINAL_URL"),
                    F.col("n_bytes").alias("FILE_SIZE_BYTES"),
                    F.lit(None).cast("timestamp_ntz").alias("UPLOAD_TIMESTAMP"),
                    F.lit("PENDING").alias("PROCESSING_STATUS"),
                    "EPAREGNO", "PDF_FILE_NAME", "PDFFILE_ACCEPTED_DATE", "PDFFILE",
                )
                merged = stage(pipeline.merge_download_metadata(metadata, new_meta), "metadata")
            with tr.span("plans.rechunk"):
                to_chunk = epa_views.pdf_to_chunk(
                    staged.select("RELATIVE_PATH", F.col("n_bytes").alias("SIZE")), merged
                ).join(staged.select("RELATIVE_PATH", "TEXT"), "RELATIVE_PATH")
                chunks = stage(
                    pipeline.rechunk(chunks0, to_chunk.select("RELATIVE_PATH", "SIZE", "TEXT")),
                    "chunks",
                )
            with tr.span("plans.enrich"):
                docs = stage(
                    pipeline.enrich_chunks(
                        chunks, merged, tables["EPA_COMPANY_INFO"], tables["EPA_PRODUCTS"],
                        tables["EPA_TYPES"],
                    ).select(
                        F.regexp_extract("RELATIVE_PATH", r"_(\d+)-\d+\.pdf$", 1).cast("long").alias("doc_id"),
                        F.col("CHUNK").alias("text"),
                        "COMPANYNAME", "PRODUCTNAME", "SIGNAL_WORD", "CATEGORY_EPA_TYPE",
                    ),
                    "docs",
                )
            with tr.span("operators.cleaning.filter"):
                red = docs.withColumn("text", redact_pii(F.col("text")))
                keep = c4_quality_filter(red).filter("keep").select("doc_id")
                clean = stage(red.join(keep, "doc_id", "left_semi"), "clean")
            with tr.span("operators.dedup.exact"):
                reps = exact_dedup(clean).select(F.col("keep_id").alias("doc_id"))
                exact = stage(clean.join(reps, "doc_id", "left_semi"), "exact")
            with tr.span("operators.dedup.near_pairs"):
                pairs = stage(
                    ngram_jaccard_pairs(exact, k=spec["near_k"], threshold=spec["near_threshold"]),
                    "pairs",
                )
            with tr.span("operators.dedup.components"):
                comps = connected_components(pairs)
                dropped = comps.filter(F.col("id") != F.col("component")).select(F.col("id").alias("doc_id"))
                final = stage(exact.join(dropped, "doc_id", "left_anti"), "final")
            with tr.span("operators.quality_model.score"):
                w, b = self.model
                scored = stage(
                    final.join(score_docs_lr(final, w, b, dim=len(w)).withColumnRenamed("id", "doc_id"),
                               "doc_id"),
                    "scored",
                )
            with tr.span("operators.sampling.pack"):
                sized = scored.withColumn("n_tokens", F.size(F.split("text", r"\s+")))
                packed = stage(
                    sized.join(pack_sequences(sized, "doc_id", "n_tokens", spec["pack_budget"],
                                              n_shards=4), "doc_id"),
                    "packed",
                )
            with tr.span("storage.txlog.append"):
                table = TxTable(spark, os.path.join(self.root, "curated", tag))
                table.create_empty(packed.schema).append(packed)
        return {"table": table, "pairs": pairs, "docs": docs, "clean": clean}

    def finish(self) -> None:
        pass

    def check(self, corrupt: bool = False) -> tuple[int, int, list[str]]:
        want, near = expected_curated(self.inputs, self.spec)
        fails = []
        for k, res in enumerate(self.results):
            got = {r["doc_id"] for r in res["table"].read().select("doc_id").collect()}
            if corrupt and k == 0:
                got.discard(min(got))
            msg = diff_ids(got, want)
            if msg:
                fails.append(f"pass {k}: {msg}")
            found = {(r["id_a"], r["id_b"]) for r in res["pairs"].select("id_a", "id_b").collect()}
            found |= {(b, a) for a, b in found}
            res["pairs_out"] = len(found) // 2
            res["recall"] = sum(tuple(p) in found for p in near) / max(1, len(near))
            res["kept_ratio"] = res["clean"].count() / max(1, res["docs"].count())
            if res["recall"] < 1.0:
                fails.append(f"pass {k}: planted near-duplicate recall {res['recall']:.3f}")
        return len(self.results), len(fails), fails

    def layers(self, tracer, spark_ops: dict) -> dict:
        if not self.results or "recall" not in self.results[0]:
            return {}
        out = {metric: per_call(tracer, span) for span, metric in STEPS}
        res = self.results[0]
        out["operators.cleaning.kept_ratio"] = float(res["kept_ratio"])
        out["operators.dedup.pairs_out"] = float(res["pairs_out"])
        out["operators.dedup.planted_recall"] = float(res["recall"])
        return out


# --------------------------------------------------------------------------
# independent recomputation
# --------------------------------------------------------------------------

_EMAIL = re.compile(r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}")
_IDNUM = re.compile(r"\b\d{3}-\d{2}-\d{4}\b")
_WS = re.compile(r"[ \t\n\x0b\f\r]+")


def _shingles(text: str, k: int) -> set[str]:
    t = _WS.sub(" ", text.lower()).strip()
    return {t[i:i + k] for i in range(max(1, len(t) - k + 1))}


def diff_ids(got: set[int], want: set[int]) -> str | None:
    if got == want:
        return None
    return (f"curated ids differ: {len(got - want)} unexpected ({sorted(got - want)[:5]}), "
            f"{len(want - got)} missing ({sorted(want - got)[:5]})")


def expected_curated(inputs: dict, spec: dict) -> tuple[set[int], list[tuple[int, int]]]:
    """The curated doc ids a correct pass produces, and the planted
    near-duplicate pairs among them that must be found."""
    downloaded = {m["EPAREGNO"]: m["PDFFILE"] for m in inputs["metadata"]}
    base = spec["base_url"]
    docs: dict[int, str] = {}
    for p in inputs["products"]:
        doc_id = 100 + p["i"]
        if downloaded.get(p["reg"]) == p["latest"]:
            # not re-downloaded: its chunk from the earlier run stays
            docs[doc_id] = next(c["CHUNK"] for c in inputs["chunks"]
                                if c["RELATIVE_PATH"].endswith(f"_{p['reg']}.pdf"))
        else:
            docs[doc_id] = inputs["labels"][base + p["latest"]]
    docs = {d: _IDNUM.sub("<ID>", _EMAIL.sub("<EMAIL>", t)) for d, t in docs.items()}
    docs = {d: t for d, t in docs.items() if c4_keep(t)}
    first: dict[str, int] = {}
    for d in sorted(docs):
        first.setdefault(digest(docs[d]), d)
    kept = sorted(first.values())
    sh = {d: _shingles(docs[d], spec["near_k"]) for d in kept}
    parent = {d: d for d in kept}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in itertools.combinations(kept, 2):
        inter = len(sh[a] & sh[b])
        if inter and inter / (len(sh[a]) + len(sh[b]) - inter) >= spec["near_threshold"]:
            ra, rb = find(a), find(b)
            parent[max(ra, rb)] = min(ra, rb)
    want = {d for d in kept if find(d) == d}
    near = [(a, b) for a, b in inputs["plant"]["near"] if a in sh and b in sh]
    return want, near
