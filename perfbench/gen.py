"""Seeded input generator for the benchmark.

Everything the benchmark feeds the engine is derived here from one integer
seed, with numpy and pyarrow only (no Spark, no engine imports), and written
as parquet:

- ``corpus/documents.parquet`` (doc_id, text, lang, source, n_chars) and,
  for ``serve``, ``corpus/embeddings.parquet`` (vec_id, embedding float[64],
  label) — the two tables the engine's ``sf_dir`` readers expect.
- ``planted.parquet`` (doc_a, doc_b), for ``batch``: near-duplicate pairs
  planted in the corpus (a copy of a long document with its last word changed, so the two
  share all but one word trigram).

and, for ``serve``, made on demand one unit at a time (``ingest_batch`` and
``requests``, each from its own seeded stream, so unit ``b``'s inputs do not
depend on how many units a run makes):

- ``batches/docs_<b>.parquet`` / ``batches/vecs_<b>.parquet`` plus
  ``batches/planted_<b>.parquet`` (new_doc_id, src_doc_id): an ingest batch
  of new documents and vectors, a seeded share of which are near-duplicates
  of corpus documents.
- ``requests/requests_<b>.parquet`` (req_id, kind, words, qv): the unit's
  search requests, alternating ``bm25`` keyword requests and ``knn`` vector
  requests. The first request of unit 0 is the engine's default BM25 word
  set, so it can be checked against the batch ``bm25_retrieve`` query.

The text model borrows the tile-mutation idea of scripts/make_scale_data.py:
a base vocabulary is suffixed per "tile" so the vocabulary grows with the
corpus while the sentiment lexicon and the BM25 query words stay intact.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DIM = 64
N_LABELS = 16
DEFAULT_BM25_WORDS = ("slow", "query", "join")

# Words the engine reads meaning into: sentiment lexicon, neutral words,
# stopwords and the default BM25 query set. They are never tile-suffixed.
_KEEP = (
    "fast", "good", "excellent", "nice", "slow", "bad", "terrible", "dup",
    "table", "scan", "visit", "stay", "the", "a", "an", "and", "or", "of",
    "to", "in", "is", "it", "query", "join",
)
_BASE = (
    "batch", "part", "spark", "line", "column", "order", "small", "sort",
    "value", "hash", "group", "agg", "filter", "big", "key", "window", "row",
    "stream", "merge", "data", "vector", "customer", "index", "cache",
    "shuffle", "stage", "task", "worker", "plan", "node", "disk", "page",
    "log", "file", "schema", "count", "rank", "score", "token", "word",
    "guest", "hotel", "room", "staff", "price", "clean", "view", "bed",
    "food", "service", "night", "trip", "city", "beach", "pool", "desk",
)
_TILES = 6
_LANGS = ("en", "de", "fr", "es", "zh")

# Per-workload input sizes. serve has the sf0.1 documents and embeddings
# row counts; batch's corpus is smaller to fit the run budget (README.md,
# "Input sizes").
SIZES = {
    "batch": {"docs": 1000, "planted": 20},
    "serve": {"docs": 5000, "vecs": 2000, "batch_docs": 200, "dup_share": 0.25, "request_pairs": 2},
}


def vocabulary() -> list[str]:
    return list(_KEEP) + [f"{w}{t}" if t else w for t in range(_TILES) for w in _BASE]


def _word_probs(vocab: list[str]) -> np.ndarray:
    # Zipf-like: the kept words sit first and are the most frequent.
    p = 1.0 / np.arange(1, len(vocab) + 1) ** 0.8
    return p / p.sum()


def _texts(rng: np.random.Generator, n: int, lo: int, hi: int) -> list[str]:
    vocab = np.array(vocabulary())
    probs = _word_probs(list(vocab))
    lens = rng.integers(lo, hi + 1, size=n)
    words = rng.choice(vocab, size=int(lens.sum()), p=probs)
    out, at = [], 0
    for ln in lens:
        out.append(" ".join(words[at : at + ln]))
        at += ln
    return out


def _near_copy(rng: np.random.Generator, text: str) -> str:
    """Same text with the last word replaced: one trigram differs."""
    toks = text.split(" ")
    vocab = vocabulary()
    new = toks[-1]
    while new == toks[-1]:
        new = vocab[int(rng.integers(len(vocab)))]
    return " ".join(toks[:-1] + [new])


def _docs_table(ids: list[int], texts: list[str], rng: np.random.Generator) -> pa.Table:
    langs = rng.integers(0, len(_LANGS), size=len(ids))
    srcs = rng.integers(0, 8, size=len(ids))
    return pa.table(
        {
            "doc_id": pa.array(ids, pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array([_LANGS[i] for i in langs], pa.string()),
            "source": pa.array([f"src{i}" for i in srcs], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _centers(seed: int) -> np.ndarray:
    return np.random.default_rng([seed, 7]).normal(size=(N_LABELS, DIM))


def _vectors(rng: np.random.Generator, centers: np.ndarray, n: int) -> tuple[np.ndarray, np.ndarray]:
    labels = rng.integers(0, N_LABELS, size=n)
    v = centers[labels] + rng.normal(scale=0.9, size=(n, DIM))
    return (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32), labels


def _vecs_table(ids: list[int], vecs: np.ndarray, labels: np.ndarray) -> pa.Table:
    return pa.table(
        {
            "vec_id": pa.array(ids, pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )


def _write(table: pa.Table, path: str) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")
    return path


def _corpus(rng: np.random.Generator, n_docs: int, n_planted: int) -> tuple[list[str], list[tuple[int, int]]]:
    """Corpus texts; the first ``n_docs // 4`` docs are long (40-60 words)
    so they can serve as near-duplicate sources."""
    n_long = n_docs // 4
    texts = _texts(rng, n_long, 40, 60) + _texts(rng, n_docs - n_long - n_planted, 8, 40)
    pairs = []
    srcs = rng.choice(n_long, size=n_planted, replace=False)
    for s in srcs:
        pairs.append((int(s), len(texts)))
        texts.append(_near_copy(rng, texts[s]))
    return texts, pairs


def generate(out_dir: str, seed: int, workload: str) -> dict:
    """Write the corpus of ``workload`` for ``seed`` under ``out_dir``;
    returns the paths and sizes the benchmark needs."""
    size = SIZES[workload]
    rng = np.random.default_rng([seed, 1])
    texts, pairs = _corpus(rng, size["docs"], size.get("planted", 0))
    paths: dict = {"sf_dir": os.path.join(out_dir, "corpus"), "n_docs": len(texts)}
    _write(_docs_table(list(range(len(texts))), texts, rng), os.path.join(paths["sf_dir"], "documents.parquet"))
    if size.get("vecs"):
        vecs, labels = _vectors(rng, _centers(seed), size["vecs"])
        _write(_vecs_table(list(range(len(vecs))), vecs, labels), os.path.join(paths["sf_dir"], "embeddings.parquet"))
    if pairs:
        paths["planted"] = _write(
            pa.table({"doc_a": pa.array([a for a, _ in pairs], pa.int64()), "doc_b": pa.array([b for _, b in pairs], pa.int64())}),
            os.path.join(out_dir, "planted.parquet"),
        )
    return paths


def requests(out_dir: str, seed: int, b: int) -> str:
    """Write the search requests of serve unit ``b``: ``request_pairs``
    pairs of a BM25 request and a k-NN request (a query vector near a
    corpus vector)."""
    rng = np.random.default_rng([seed, 3, b])
    n = 2 * SIZES["serve"]["request_pairs"]
    corpus = pq.read_table(os.path.join(out_dir, "corpus", "embeddings.parquet"), columns=["embedding"])
    vecs = corpus.column("embedding").to_numpy(zero_copy_only=False)
    vocab = [w for w in vocabulary() if w not in _KEEP[12:22]]  # no stopwords
    kinds, words, qvs = [], [], []
    for i in range(n):
        if i % 2 == 0:
            kinds.append("bm25")
            if b == 0 and i == 0:
                words.append(list(DEFAULT_BM25_WORDS))
            else:
                pick = rng.choice(len(vocab), size=3, replace=False)
                words.append([vocab[j] for j in pick])
            qvs.append([])
        else:
            kinds.append("knn")
            base = vecs[int(rng.integers(len(vecs)))].astype(np.float64)
            q = base + rng.normal(scale=0.05, size=DIM)
            words.append([])
            qvs.append(list(q / np.linalg.norm(q)))
    table = pa.table(
        {
            "req_id": pa.array(range(b * n, (b + 1) * n), pa.int64()),
            "kind": pa.array(kinds, pa.string()),
            "words": pa.array(words, pa.list_(pa.string())),
            "qv": pa.array(qvs, pa.list_(pa.float64())),
        }
    )
    return _write(table, os.path.join(out_dir, "requests", f"requests_{b}.parquet"))


def ingest_batch(out_dir: str, seed: int, b: int) -> dict:
    """Write serve ingest batch ``b``: ``batch_docs`` new documents with
    vectors, a ``dup_share`` of them near-copies of long corpus documents."""
    size = SIZES["serve"]
    rng = np.random.default_rng([seed, 2, b])
    corpus = pq.read_table(os.path.join(out_dir, "corpus", "documents.parquet"), columns=["text"])
    corpus_texts = corpus.column("text").to_pylist()
    n_long = size["docs"] // 4
    m = size["batch_docs"]
    n_dup = int(round(m * size["dup_share"]))
    texts = _texts(rng, m - n_dup, 8, 40)
    srcs = rng.choice(n_long, size=n_dup, replace=False)
    texts += [_near_copy(rng, corpus_texts[s]) for s in srcs]
    ids = list(range(size["docs"] + b * m, size["docs"] + (b + 1) * m))
    vecs, labels = _vectors(rng, _centers(seed), m)
    d = os.path.join(out_dir, "batches")
    return {
        "docs": _write(_docs_table(ids, texts, rng), os.path.join(d, f"docs_{b}.parquet")),
        "vecs": _write(_vecs_table(ids, vecs, labels), os.path.join(d, f"vecs_{b}.parquet")),
        "planted": _write(
            pa.table({"new_doc_id": pa.array(ids[m - n_dup :], pa.int64()), "src_doc_id": pa.array(srcs, pa.int64())}),
            os.path.join(d, f"planted_{b}.parquet"),
        ),
        "n_docs": m,
        "n_dup": n_dup,
    }
