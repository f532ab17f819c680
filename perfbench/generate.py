"""Deterministic, vectorised input generator for the collection benchmark.

Everything the program receives is drawn here from ``--seed``: the corpus
rows, the query texts with their filters, and the write batches of the
``churn`` workload. The same seed gives byte-identical inputs (see
``fingerprint``); numpy draws whole matrices at once, so generation stays a
small share of set-up time.

Vocabulary: ``VOCAB`` words ranked by a Zipf law (exponent ``ZIPF_S``).
Corpus and query tokens come from it, so the embedder's per-process token
memo holds the whole working set. Churn writes draw mostly first-seen
tokens (random 40-bit hex words), so the memo misses on them.

Metadata: every row carries ``Year`` (one of ``YEARS`` values) and ``Lang``
(one of ``LANGS``), independently uniform, so a ``Year eq`` + ``Lang eq``
filter selects about 1 % of the rows.
"""

from __future__ import annotations

import hashlib
import json
import numpy as np

DIM = 384  # the reference embedding width (onnx.rs:20)
VOCAB = 20_000
ZIPF_S = 1.1
YEARS = tuple(range(2000, 2010))
LANGS = ("en", "de", "fr", "es", "it", "nl", "pt", "sv", "pl", "cs")
DUP_SHARE = 0.02  # share of corpus rows that copy an earlier document (exact similarity ties)
N_DOCS = 3_000
DOC_LEN = (8, 40)  # tokens per document, inclusive
N_QUERIES = 512
QUERY_LEN = (3, 8)
WRITE_BATCH = 100  # rows per churn append or upsert
FRESH_SHARE = 0.8  # share of first-seen tokens in churn writes
BATCH_PROBES = 2  # queries per cosine_query_many request
SIZES = dict(  # for the run record
    dim=DIM, vocab=VOCAB, zipf_s=ZIPF_S, dup_share=DUP_SHARE, n_docs=N_DOCS, doc_len=DOC_LEN,
    n_queries=N_QUERIES, query_len=QUERY_LEN, write_batch=WRITE_BATCH, fresh_share=FRESH_SHARE,
    batch_probes=BATCH_PROBES,
)


def _zipf_cdf() -> np.ndarray:
    p = 1.0 / np.arange(1, VOCAB + 1, dtype=np.float64) ** ZIPF_S
    return np.cumsum(p / p.sum())


_WORDS = np.char.add("w", np.arange(VOCAB).astype(str))
_CDF = _zipf_cdf()


def _zipf_tokens(rng: np.random.Generator, shape: tuple[int, int]) -> np.ndarray:
    """Words drawn by inverse-CDF lookup: one uniform matrix, one searchsorted."""
    ranks = np.searchsorted(_CDF, rng.random(shape), side="right")
    return _WORDS[np.minimum(ranks, VOCAB - 1)]


def _join(words: np.ndarray, lens: np.ndarray) -> list[str]:
    return [" ".join(row[:n]) for row, n in zip(words.tolist(), lens.tolist())]


def _metadata(rng: np.random.Generator, n: int) -> list[dict[str, str]]:
    years = rng.integers(0, len(YEARS), n)
    langs = rng.integers(0, len(LANGS), n)
    return [
        {"Year": str(YEARS[y]), "Lang": LANGS[g]}
        for y, g in zip(years.tolist(), langs.tolist())
    ]


def corpus(seed: int) -> list[tuple[str, str, dict[str, str]]]:
    """The initial collection as ``(id, document, metadata)`` rows.

    Ids are zero-padded, so string order is insertion order. A ``DUP_SHARE``
    of rows repeat an earlier document, which gives exact similarity ties
    that the id-ascending tie rule must break."""
    rng = np.random.default_rng([seed, 0])
    n = N_DOCS
    lo, hi = DOC_LEN
    lens = rng.integers(lo, hi + 1, n)
    docs = _join(_zipf_tokens(rng, (n, hi)), lens)
    dup = np.flatnonzero(rng.random(n) < DUP_SHARE)
    dup = dup[dup > 0]
    src = (rng.random(dup.size) * dup).astype(np.int64)  # an earlier row
    for d, s in zip(dup.tolist(), src.tolist()):
        docs[d] = docs[s]
    meta = _metadata(rng, n)
    return [(f"doc{i:07d}", docs[i], meta[i]) for i in range(n)]


def queries(seed: int) -> list[tuple[str, int, str]]:
    """``(text, year, lang)`` per query; the filter is ``Year eq`` + ``Lang eq``."""
    rng = np.random.default_rng([seed, 1])
    n = N_QUERIES
    lo, hi = QUERY_LEN
    lens = rng.integers(lo, hi + 1, n)
    texts = _join(_zipf_tokens(rng, (n, hi)), lens)
    meta = _metadata(rng, n)
    return [(t, int(m["Year"]), m["Lang"]) for t, m in zip(texts, meta)]


def _fresh_docs(rng: np.random.Generator, n: int) -> list[str]:
    lo, hi = DOC_LEN
    lens = rng.integers(lo, hi + 1, n)
    fresh = np.char.add("x", np.char.mod("%010x", rng.integers(0, 1 << 40, (n, hi))))
    words = np.where(rng.random((n, hi)) < FRESH_SHARE, fresh, _zipf_tokens(rng, (n, hi)))
    return _join(words, lens)


def append_batch(seed: int, k: int) -> list[tuple[str, str, dict[str, str]]]:
    """The ``k``-th append batch of ``churn``: new ids, mostly first-seen tokens."""
    rng = np.random.default_rng([seed, 2, k])
    n = WRITE_BATCH
    docs = _fresh_docs(rng, n)
    meta = _metadata(rng, n)
    return [(f"new{k:05d}-{j:04d}", docs[j], meta[j]) for j in range(n)]


def upsert_batch(seed: int, k: int) -> list[tuple[str, str, dict[str, str]]]:
    """The ``k``-th upsert batch of ``churn``: distinct ids of the initial
    corpus, each given a new document and metadata."""
    rng = np.random.default_rng([seed, 3, k])
    n = WRITE_BATCH
    ids = np.sort(rng.choice(N_DOCS, n, replace=False))
    docs = _fresh_docs(rng, n)
    meta = _metadata(rng, n)
    return [(f"doc{i:07d}", docs[j], meta[j]) for j, i in enumerate(ids.tolist())]


def embed_batch(seed: int, n: int = 2_000) -> list[str]:
    """A fixed document batch for timing the embedder alone (Zipf words,
    so it measures the memo-hit path the corpus ingest takes)."""
    rng = np.random.default_rng([seed, 4])
    lo, hi = DOC_LEN
    return _join(_zipf_tokens(rng, (n, hi)), rng.integers(lo, hi + 1, n))


def fingerprint(seed: int, batches: int = 3) -> str:
    """sha256 over every input a run can draw for ``seed`` (first
    ``batches`` write batches of each kind)."""
    h = hashlib.sha256()
    parts = [corpus(seed), queries(seed), embed_batch(seed, 200)]
    parts += [append_batch(seed, k) for k in range(batches)]
    parts += [upsert_batch(seed, k) for k in range(batches)]
    for part in parts:
        h.update(json.dumps(part, sort_keys=True).encode("utf-8"))
    return h.hexdigest()
