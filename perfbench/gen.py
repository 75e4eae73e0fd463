"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of ``(seed, spec)``: numpy's PCG64
stream seeded with ``[seed, workload tag]``, no clock, no hash
randomisation, no set iteration order. The same seed therefore gives the
same inputs byte for byte, and ``inputs_hash`` (sha256 of the canonical
JSON of everything the program receives) proves it in each run record.

Text is drawn from two vocabularies:

- ``CORPUS_WORDS``: the 30 words of the engine's sf0.1 ``documents``
  corpus (its planted ``dup`` marker left out), used uniformly as filler,
  as in that corpus;
- a domain vocabulary of pronounceable pseudo-words drawn with Zipf
  weights, so term frequencies are skewed as in real label text and BM25
  queries have rare and common terms.
"""

from __future__ import annotations

import hashlib
import json

import numpy as np

CORPUS_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()

_TAGS = {"curate": 1, "serve": 2, "stream": 3}
_ONSETS = "b c d f g h k l m n p r s t v z br ch cl cr dr fl gr pl pr sh st tr".split()
_VOWELS = "a e i o u ai ea ou".split()


def inputs_hash(obj) -> str:
    """sha256 of the canonical JSON form of ``obj``."""
    blob = json.dumps(obj, sort_keys=True, separators=(",", ":")).encode()
    return hashlib.sha256(blob).hexdigest()


def vocabulary(n: int) -> list[str]:
    """``n`` distinct lowercase pseudo-words of 2-4 syllables. Fixed for a
    given ``n`` (seed-independent), so vocabularies are comparable across
    seeds and only the draws from them change."""
    rng = np.random.default_rng(0)
    seen: set[str] = set()
    out: list[str] = []
    while len(out) < n:
        w = "".join(
            _ONSETS[rng.integers(len(_ONSETS))] + _VOWELS[rng.integers(len(_VOWELS))]
            for _ in range(int(rng.integers(2, 5)))
        )
        if w not in seen and w not in CORPUS_WORDS:
            seen.add(w)
            out.append(w)
    return out


def zipf_weights(n: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()


class _Text:
    """Label-text sampler: filler corpus words mixed with Zipf domain terms."""

    def __init__(self, rng: np.random.Generator, vocab: list[str], zipf_s: float,
                 domain_share: float):
        self.rng = rng
        self.vocab = vocab
        self.p = zipf_weights(len(vocab), zipf_s)
        self.domain_share = domain_share

    def words(self, n: int) -> list[str]:
        n_dom = int(round(n * self.domain_share))
        dom = self.rng.choice(len(self.vocab), size=n_dom, p=self.p)
        fill = self.rng.integers(len(CORPUS_WORDS), size=n - n_dom)
        ws = [self.vocab[i] for i in dom] + [CORPUS_WORDS[i] for i in fill]
        order = self.rng.permutation(n)
        return [ws[i] for i in order]

    def doc(self, lo: int, hi: int, max_chars: int = 1400) -> str:
        ws = self.words(int(self.rng.integers(lo, hi + 1)))
        text = " ".join(ws)
        while len(text) > max_chars:
            ws.pop()
            text = " ".join(ws)
        return text

    def near_copy(self, text: str, edit_share: float) -> str:
        """Replace ``edit_share`` of the words: a near-duplicate whose
        8-char-shingle Jaccard with ``text`` stays well above 0.5."""
        ws = text.split(" ")
        n_edit = max(1, int(round(len(ws) * edit_share)))
        for i in self.rng.choice(len(ws), size=n_edit, replace=False):
            ws[int(i)] = self.vocab[int(self.rng.integers(len(self.vocab)))]
        return " ".join(ws)

    def exact_copy(self, text: str) -> str:
        """Same normalized text (case and whitespace changed only)."""
        ws = text.split(" ")
        cut = int(self.rng.integers(1, len(ws)))
        return " ".join(ws[:cut]).upper() + "  \t" + " ".join(ws[cut:]) + " "


def _c4_reject(t: _Text, kind: int) -> str:
    """A label the C4 gate must drop: too short, code-like, or placeholder."""
    base = t.doc(60, 90)
    if kind == 0:
        return " ".join(base.split(" ")[:12])
    if kind == 1:
        return base + " { return null; }"
    return "Lorem ipsum dolor sit amet " + base


def _pii(t: _Text, text: str) -> str:
    ws = text.split(" ")
    user = "".join(t.vocab[int(i)] for i in t.rng.integers(len(t.vocab), size=2))
    ws.insert(int(t.rng.integers(len(ws))), f"{user}@example.org")
    a, b, c = (int(x) for x in t.rng.integers(100, 999, size=3))
    ws.insert(int(t.rng.integers(len(ws))), f"{a}-{b % 100:02d}-{c * 10 + 7}")
    return " ".join(ws)


# --------------------------------------------------------------------------
# curate
# --------------------------------------------------------------------------

def curate_inputs(seed: int, spec: dict) -> dict:
    """EPA REST payloads, label texts behind their download URLs, the
    metadata of labels already downloaded, and the chunk table those
    downloads produced.

    Planted structure (shares are of the labels the pass downloads):
    exact copies and near copies of earlier labels, C4 rejects, and PII.
    Every label stays below the chunker's 1512-character window, so each
    downloaded label becomes exactly one chunk (one curated document).
    The quality model the pass applies comes with the inputs."""
    rng = np.random.default_rng([seed, _TAGS["curate"]])
    t = _Text(rng, vocabulary(spec["vocab"]), spec["zipf_s"], spec["domain_share"])
    n = spec["products"]
    payloads: dict[str, dict] = {}
    labels: dict[str, str] = {}
    products = []
    for i in range(n):
        reg = f"{100 + i}-{1 + i % 97}"
        name = f"{t.vocab[i % len(t.vocab)].capitalize()} Label {100 + i}"
        n_pdf = int(rng.integers(spec["pdfs_min"], spec["pdfs_max"] + 1))
        days = sorted(rng.choice(1500, size=n_pdf, replace=False).tolist())
        pdfs = [
            {
                "epa_reg_num": reg,
                "pdffile": f"{reg}_v{k}.pdf",
                "pdffile_accepted_date": f"{2019 + d // 365:04d}-{1 + d % 365 // 31:02d}-{1 + d % 28:02d}",
            }
            for k, d in enumerate(days)
        ]
        latest = max(pdfs, key=lambda p: (p["pdffile_accepted_date"], [-ord(c) for c in p["pdffile"]]))
        payload = {
            "eparegno": reg,
            "productname": name,
            "registereddate": f"20{10 + i % 12:02d}-0{1 + i % 9}-1{i % 10}",
            "signal_word": ["CAUTION", "WARNING", "DANGER"][i % 3],
            "product_status": "Registered",
            "pdffiles": pdfs,
        }

        def maybe(key, value):
            if rng.random() >= spec["missing_array_share"]:
                payload[key] = value

        maybe("companyinfo", [{"name": f"{t.vocab[(7 * i) % len(t.vocab)].capitalize()} Corp",
                               "city": CORPUS_WORDS[i % 30], "state": "CA"}])
        maybe("active_ingredients", [{"pc_code": f"PC{i % 50}", "active_ing": t.vocab[(3 * i + j) % len(t.vocab)],
                                      "active_ing_percent": float(round(rng.random() * 50, 2))}
                                     for j in range(1 + i % 3)])
        maybe("sites", [{"site": CORPUS_WORDS[(i + j) % 30]} for j in range(1 + i % 4)])
        maybe("pests", [{"pest": t.vocab[(11 * i + j) % len(t.vocab)]} for j in range(1 + i % 3)])
        maybe("formulations", [{"formulation": ["LIQUID", "DUST", "GRANULAR"][i % 3]}])
        maybe("altbrandnames", [{"altbrandname": f"{name} {j}"} for j in range(i % 3)])
        maybe("types", [{"type": ty} for ty in (["HERBICIDE", "INSECTICIDE", "FUNGICIDE"][: 1 + i % 3])])
        maybe("transfer_history", [{"previous_eparegno": f"{i}-0", "previous_company": "Old Co",
                                    "transferred_date": "2015-01-01"}] if i % 5 == 0 else [])
        payloads[reg] = payload
        products.append({"i": i, "reg": reg, "name": name, "pdfs": pdfs, "latest": latest["pdffile"]})

    # which products were downloaded before this pass: at their latest file
    # (skipped by the anti-join) or at an older one (re-downloaded, their
    # stale chunk purged by the rechunk)
    state = rng.random(n)
    current = state < spec["downloaded_share"]
    stale = (state >= spec["downloaded_share"]) & (
        state < spec["downloaded_share"] + spec["stale_share"]
    )
    todo = [p for p, c in zip(products, current) if not c]
    # planted label structure over the labels the pass downloads
    kinds = rng.random(len(todo))
    e, nn, c4, pii = (spec["exact_dup_share"], spec["near_dup_share"],
                      spec["c4_reject_share"], spec["pii_share"])
    plain: list[int] = []
    plant = {"exact": [], "near": [], "c4_reject": [], "pii": []}
    for j, p in enumerate(todo):
        k = kinds[j]
        doc_id = 100 + p["i"]
        if k < e and plain:
            src = plain[int(rng.integers(len(plain)))]
            text = t.exact_copy(labels[todo[src]["latest"]])
            plant["exact"].append([100 + todo[src]["i"], doc_id])
        elif k < e + nn and plain:
            src = plain[int(rng.integers(len(plain)))]
            text = t.near_copy(labels[todo[src]["latest"]], spec["near_edit_share"])
            plant["near"].append([100 + todo[src]["i"], doc_id])
        elif k < e + nn + c4:
            text = _c4_reject(t, int(rng.integers(3)))
            plant["c4_reject"].append(doc_id)
        elif k < e + nn + c4 + pii:
            text = _pii(t, t.doc(spec["words_min"], spec["words_max"]))
            plant["pii"].append(doc_id)
        else:
            text = t.doc(spec["words_min"], spec["words_max"])
            plain.append(j)
        labels[p["latest"]] = text
    for p in products:
        for f in p["pdfs"]:
            if f["pdffile"] not in labels:
                labels[f["pdffile"]] = t.doc(spec["words_min"], spec["words_max"])

    metadata = []
    chunks = []
    for p, c, s in zip(products, current, stale):
        if not (c or s):
            continue
        older = [f for f in p["pdfs"] if f["pdffile"] != p["latest"]]
        f = next(x for x in p["pdfs"] if x["pdffile"] == p["latest"]) if c else older[0]
        fname = f"{p['name']}_{p['reg']}".replace(" ", "_") + ".pdf"
        metadata.append({
            "ID": 100 + p["i"], "PRODUCT_NAME": p["name"],
            "STAGE_FILE_PATH": f"stage/EPA_LABEL_PDF/{fname}",
            "ORIGINAL_URL": spec["base_url"] + f["pdffile"],
            "FILE_SIZE_BYTES": len(labels[f["pdffile"]]),
            "PROCESSING_STATUS": "CHUNKED", "EPAREGNO": p["reg"],
            "PDF_FILE_NAME": fname, "PDFFILE_ACCEPTED_DATE": f["pdffile_accepted_date"],
            "PDFFILE": f["pdffile"],
        })
        chunks.append({"RELATIVE_PATH": f"EPA_LABEL_PDF/{fname}",
                       "SIZE": len(labels[f["pdffile"]]), "CHUNK": labels[f["pdffile"]]})
    # a pre-trained quality model (hashed-bucket weights in the engine's
    # fixed-point scale, 2^20 = 1.0): the pass applies it, never trains
    qw = rng.integers(-(1 << 18), 1 << 18, size=spec["model_dim"])
    return {
        "model": {"weights": {str(b): int(w) for b, w in enumerate(qw)}, "bias": 0},
        "ids": sorted(payloads),
        "payloads": payloads,
        "labels": {spec["base_url"] + k: v for k, v in sorted(labels.items())},
        "metadata": metadata,
        "chunks": chunks,
        "products": products,
        "plant": plant,
    }


# --------------------------------------------------------------------------
# serve
# --------------------------------------------------------------------------

def serve_inputs(seed: int, spec: dict) -> dict:
    """A chunk corpus with embeddings, one seeded request cycle, and the
    change feed its refresh request applies.

    The cycle is ``refresh_every`` requests: reads whose classes follow
    ``spec["cycle"]``, then a refresh. The seed draws the BM25 terms
    (Zipf, with a share repeating an earlier query) and the query
    vectors. The refresh applies a fixed-size insert/update/delete feed,
    generated against the corpus state earlier feeds leave behind. An
    update is the CoW pair a txlog change feed carries: a delete of the
    old image and an insert of the new one."""
    rng = np.random.default_rng([seed, _TAGS["serve"]])
    vocab = vocabulary(spec["vocab"])
    t = _Text(rng, vocab, spec["zipf_s"], spec["domain_share"])
    dim = spec["dim"]
    n = spec["docs"]
    # embeddings: a few topic centres plus noise, rounded so they are
    # exact in JSON and parquet
    centres = rng.standard_normal((spec["topics"], dim))
    topic = rng.integers(spec["topics"], size=n)
    emb = np.round(centres[topic] + 0.35 * rng.standard_normal((n, dim)), 4)
    corpus = {i: t.doc(spec["words_min"], spec["words_max"]) for i in range(n)}
    docs = [{"doc_id": i, "text": corpus[i], "embedding": emb[i].tolist()} for i in range(n)]

    p = zipf_weights(len(vocab), spec["query_zipf_s"])
    past: list[str] = []
    requests = []
    feeds = []
    live = dict(corpus)
    next_id = n
    cycle = spec["cycle"]
    for r in range(spec["refresh_every"]):
        if (r + 1) % spec["refresh_every"] == 0:
            ids = sorted(live)
            pick = rng.choice(len(ids), size=spec["delta_update"] + spec["delta_delete"], replace=False)
            upd = [ids[int(k)] for k in pick[: spec["delta_update"]]]
            dele = [ids[int(k)] for k in pick[spec["delta_update"]:]]
            feed = []
            for d in upd:
                feed.append({"doc_id": d, "text": live[d], "_change_type": "delete"})
                live[d] = t.doc(spec["words_min"], spec["words_max"])
                feed.append({"doc_id": d, "text": live[d], "_change_type": "insert"})
            for d in dele:
                feed.append({"doc_id": d, "text": live.pop(d), "_change_type": "delete"})
            for _ in range(spec["delta_insert"]):
                live[next_id] = t.doc(spec["words_min"], spec["words_max"])
                feed.append({"doc_id": next_id, "text": live[next_id], "_change_type": "insert"})
                next_id += 1
            requests.append({"kind": "refresh", "feed": len(feeds)})
            feeds.append(feed)
            continue
        kind = cycle[len([q for q in requests if q["kind"] != "refresh"]) % len(cycle)]
        req = {"kind": kind}
        if kind in ("bm25", "hybrid"):
            if past and rng.random() < spec["repeat_share"]:
                req["text"] = past[int(rng.integers(len(past)))]
            else:
                k = int(rng.integers(spec["terms_min"], spec["terms_max"] + 1))
                req["text"] = " ".join(vocab[int(i)] for i in rng.choice(len(vocab), size=k, p=p))
                past.append(req["text"])
        if kind in ("ann", "hybrid"):
            c = int(rng.integers(spec["topics"]))
            req["vec"] = np.round(centres[c] + 0.35 * rng.standard_normal(dim), 4).tolist()
        requests.append(req)
    return {"docs": docs, "requests": requests, "feeds": feeds}


# --------------------------------------------------------------------------
# stream
# --------------------------------------------------------------------------

def stream_inputs(seed: int, spec: dict, n_files: int) -> dict:
    """``n_files`` event files and ``n_files`` document files, one of each
    per feed step.

    Events: a ``hot_share`` of each file comes from ``hot_users`` users,
    the rest uniformly from ``users``; a ``late_share`` carries an event
    time earlier than anything in the previous file (late and out of
    order). Documents: a ``dup_share`` repeats a document admitted in
    this or an earlier file (case and whitespace changed), and a
    ``c4_reject_share`` must be dropped by the quality gate."""
    rng = np.random.default_rng([seed, _TAGS["stream"]])
    t = _Text(rng, vocabulary(spec["vocab"]), spec["zipf_s"], spec["domain_share"])
    base_us = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
    span_us = 60_000_000  # one minute of event time per file
    event_files, doc_files = [], []
    seen_docs: list[str] = []
    next_event, next_doc = 0, 0
    for f in range(n_files):
        m = spec["events_per_file"]
        hot = rng.random(m) < spec["hot_share"]
        users = np.where(hot, rng.integers(spec["hot_users"], size=m),
                         spec["hot_users"] + rng.integers(spec["users"], size=m))
        ts = base_us + f * span_us + rng.integers(span_us, size=m)
        late = rng.random(m) < spec["late_share"]
        if f > 0:
            ts = np.where(late, base_us + rng.integers(f * span_us, size=m) - span_us // 2, ts)
        value = np.round(rng.random(m) * 100.0, 3)
        event_files.append([
            {"event_id": next_event + j, "user_id": int(users[j]), "ts_us": int(ts[j]),
             "value": float(value[j])}
            for j in range(m)
        ])
        next_event += m
        docs = []
        for _ in range(spec["docs_per_file"]):
            k = rng.random()
            if k < spec["dup_share"] and seen_docs:
                text = t.exact_copy(seen_docs[int(rng.integers(len(seen_docs)))])
            elif k < spec["dup_share"] + spec["c4_reject_share"]:
                text = _c4_reject(t, int(rng.integers(3)))
            else:
                text = t.doc(spec["words_min"], spec["words_max"])
                seen_docs.append(text)
            docs.append({"doc_id": next_doc, "text": text})
            next_doc += 1
        doc_files.append(docs)
    return {"events": event_files, "docs": doc_files}
