"""Seeded input generator for the e2ebench workloads.

Everything here is a pure function of the seed and the size arguments, so
the same seed always yields byte-identical inputs. Three outputs:

* ``write_corpus`` -- a corpus in the ``documents`` / ``embeddings`` parquet
  schema the batch queries and the HTTP facade read.
* ``write_landing`` -- staged ingest ticks: per tick one WARC segment (plain
  or per-record gzip, a small share of corrupt records) plus one ``.txt``
  file per good document. The harness moves them into the landing zones on
  schedule (temp name + rename).
* ``write_requests`` -- the seeded HTTP request mix for the facade.

Which proportions are measured and which are choices is set out in
``README.md`` ("Inputs").
"""
import bisect
import gzip
import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The head of the vocabulary is the term set of the sf* test corpora, so
# queries with built-in term bags (q45's "spark vector merge filter") still
# match; the long tail is synthetic.
HEAD_TERMS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch").split()
SYLLABLES = ("ka ri to mu se la po ne vi do zu ha mi ro te sa lu ki pe na "
             "go bi fa qu xe ja yo wi cu de").split()
VOCAB_SIZE = 4000
ZIPF_S = 1.05
LANGS = [("en", 0.41), ("zh", 0.15), ("es", 0.15), ("fr", 0.15), ("de", 0.14)]
N_SOURCES = 20
EMB_DIM = 64
N_LABELS = 10
EXACT_DUP_SHARE = 0.05
NEAR_DUP_SHARE = 0.10
CORRUPT_SHARE = 0.04
ROUTE_CYCLE = ("lex", "hybrid", "similar")


def vocabulary(rng):
    words, seen = list(HEAD_TERMS), set(HEAD_TERMS)
    while len(words) < VOCAB_SIZE:
        w = "".join(rng.choice(SYLLABLES) for _ in range(rng.randint(2, 4)))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


class TextSource:
    """Zipf-distributed terms; lengths uniform on [10, 100] words like sf0.1."""

    def __init__(self, seed):
        self.rng = random.Random(seed)
        self.words = vocabulary(self.rng)
        weights = [1.0 / (r + 1) ** ZIPF_S for r in range(len(self.words))]
        total = sum(weights)
        acc, self.cum = 0.0, []
        for w in weights:
            acc += w / total
            self.cum.append(acc)

    def term(self):
        return self.words[min(bisect.bisect(self.cum, self.rng.random()),
                              len(self.words) - 1)]

    def text(self):
        return " ".join(self.term() for _ in range(self.rng.randint(10, 100)))

    def near_copy(self, text):
        """Replace one word in twenty: Jaccard stays high enough for banding."""
        toks = text.split()
        for i in range(len(toks)):
            if self.rng.random() < 0.05:
                toks[i] = self.term()
        return " ".join(toks)


def zipf_cluster_sizes(rng, total, cap):
    """Split ``total`` planted copies into clusters with Zipf-like sizes."""
    sizes = []
    while total > 0:
        s = min(total, cap, max(1, int(cap / (1 + rng.paretovariate(1.2)))))
        sizes.append(s)
        total -= s
    return sizes


def corpus_texts(seed, n_docs):
    src = TextSource(seed)
    rng = src.rng
    texts = [None] * n_docs
    n_exact = int(n_docs * EXACT_DUP_SHARE)
    n_near = int(n_docs * NEAR_DUP_SHARE)
    n_base = n_docs - n_exact - n_near
    for i in range(n_base):
        texts[i] = src.text()
    # planted duplicate clusters: each cluster copies one base document;
    # Zipf sizes so the largest buckets hit the dedup caps
    cap = max(4, n_docs // 40)
    nxt = n_base
    for kind, count in (("exact", n_exact), ("near", n_near)):
        for size in zipf_cluster_sizes(rng, count, cap):
            origin = texts[rng.randrange(n_base)]
            for _ in range(size):
                texts[nxt] = origin if kind == "exact" else src.near_copy(origin)
                nxt += 1
    # interleave the planted copies with the base documents
    order = list(range(n_docs))
    rng.shuffle(order)
    return [texts[j] for j in order], src


def write_corpus(out, seed, n_docs):
    """documents.parquet + embeddings.parquet under ``out`` (idempotent)."""
    marker = os.path.join(out, "_COMPLETE")
    if os.path.exists(marker):
        return out
    os.makedirs(out, exist_ok=True)
    texts, src = corpus_texts(seed, n_docs)
    rng = src.rng
    langs, lw = zip(*LANGS)
    docs = pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choices(langs, lw, k=n_docs), pa.string()),
        "source": pa.array([f"src{i % N_SOURCES}" for i in range(n_docs)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    pq.write_table(docs, os.path.join(out, "documents.parquet"))
    n_vec = max(N_LABELS * 4, int(n_docs * 0.4))
    npr = np.random.default_rng(seed)
    centers = npr.normal(0.0, 0.12, (N_LABELS, EMB_DIM))
    labels = npr.integers(0, N_LABELS, n_vec)
    vecs = (centers[labels] + npr.normal(0.0, 0.08, (n_vec, EMB_DIM))).astype(np.float32)
    emb = pa.table({
        "vec_id": pa.array(range(n_vec), pa.int64()),
        "embedding": pa.array([v.tolist() for v in vecs], pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32), pa.int32()),
    })
    pq.write_table(emb, os.path.join(out, "embeddings.parquet"))
    with open(marker, "w") as f:
        f.write(json.dumps({"seed": seed, "docs": n_docs, "vectors": n_vec}))
    return out


def warc_record(doc_id, text, corrupt):
    payload = text.encode("utf-8")
    head = (f"{'WARC/9.9' if corrupt else 'WARC/1.0'}\r\n"
            "WARC-Type: response\r\n"
            f"WARC-Record-ID: <urn:bench:{doc_id}>\r\n"
            "WARC-Date: 2026-01-01T00:00:00Z\r\n"
            f"WARC-Target-URI: http://bench.test/doc/{doc_id}\r\n"
            "Content-Type: text/plain; charset=utf-8\r\n"
            f"Content-Length: {len(payload)}\r\n\r\n")
    return head.encode("ascii") + payload + b"\r\n\r\n"


def write_landing(out, seed, ticks, per_tick):
    """Stage ``ticks`` ingest ticks of ``per_tick`` documents under ``out``.

    Tick t lands ``tick-<t>/segment-<t>.warc[.gz]`` (odd ticks gzip each
    record) and one ``<doc_id>.txt`` per good document. A corrupt record is
    a response record with a bad version line; it never gets a ``.txt``
    twin, so no sink may hold it. ``manifest.json`` lists good and corrupt
    ids per tick.
    """
    marker = os.path.join(out, "manifest.json")
    if os.path.exists(marker):
        with open(marker) as f:
            return json.load(f)
    src = TextSource(seed + 7919)
    rng = src.rng
    manifest = {"seed": seed, "per_tick": per_tick, "ticks": []}
    doc_id = 1
    recent = []
    for t in range(ticks):
        d = os.path.join(out, f"tick-{t:04d}")
        os.makedirs(d, exist_ok=True)
        gz = t % 2 == 1
        seg = bytearray()
        good, bad = [], []
        for _ in range(per_tick):
            # some near-copies of recent documents, so the dedup sink matches
            if recent and rng.random() < NEAR_DUP_SHARE:
                text = src.near_copy(rng.choice(recent))
            else:
                text = src.text()
            corrupt = rng.random() < CORRUPT_SHARE
            rec = warc_record(doc_id, text, corrupt)
            seg += gzip.compress(rec, mtime=0) if gz else rec
            if corrupt:
                bad.append(doc_id)
            else:
                good.append(doc_id)
                recent = (recent + [text])[-50:]
                with open(os.path.join(d, f"{doc_id}.txt"), "w") as f:
                    f.write(text)
            doc_id += 1
        name = f"segment-{t:04d}.warc" + (".gz" if gz else "")
        with open(os.path.join(d, name), "wb") as f:
            f.write(bytes(seg))
        manifest["ticks"].append({"dir": os.path.basename(d), "segment": name,
                                  "good": good, "corrupt": bad})
    with open(marker, "w") as f:
        json.dump(manifest, f)
    return manifest


def write_requests(path, seed, n_docs, n_requests):
    """Seeded /search and /similar request mix, one JSON object a line.

    Routes repeat lexical ``/search``, hybrid ``/search`` with a probe
    document and ``/similar``, an equal mix, so every run samples the same
    mix.
    Terms and probe ids are drawn Zipf-like, so popular requests repeat as
    they would in real traffic.
    """
    if os.path.exists(path):
        return path
    src = TextSource(seed)  # same vocabulary as the corpus of this seed
    rng = random.Random(seed + 104729)
    n_vec = max(N_LABELS * 4, int(n_docs * 0.4))
    head = src.words[:400]
    weights = [1.0 / (r + 1) ** ZIPF_S for r in range(len(head))]
    vec_weights = [1.0 / (r + 1) ** 0.8 for r in range(n_vec)]
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        for i in range(n_requests):
            terms = "+".join(dict.fromkeys(rng.choices(head, weights, k=2)))
            probe = rng.choices(range(n_vec), vec_weights)[0]
            route = ROUTE_CYCLE[i % len(ROUTE_CYCLE)]
            if route == "lex":
                req = {"route": "lex", "query": f"/search?q={terms}"}
            elif route == "hybrid":
                req = {"route": "hybrid",
                       "query": f"/search?mode=hybrid&q={terms}&probeDoc={probe}"}
            else:
                req = {"route": "similar", "query": f"/similar?probeDoc={probe}&k=10"}
            f.write(json.dumps(req) + "\n")
    os.replace(tmp, path)
    return path

