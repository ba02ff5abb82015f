"""Seeded inputs. The program only ever sees the files written here; the
same seed gives byte-identical files."""

from __future__ import annotations

import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# the documents-table vocabulary of the repository's test tiers
VOCAB = [
    "join", "hash", "row", "batch", "scan", "column", "customer", "filter",
    "small", "slow", "merge", "order", "vector", "line", "data", "table",
    "agg", "value", "key", "stream", "window", "spark", "a", "group", "part",
    "big", "sort", "query", "fast", "the",
]
LANGS = ["en", "zh", "es", "de", "fr"]

# serve_search request types: (HTTP path, search mode or None for /rag)
REQUEST_TYPES = [
    ("search_documents", "keyword"),
    ("search_documents", "vector"),
    ("search_documents", "hybrid"),
    ("search_documents", "media"),
    ("rag", None),
]


def type_name(path: str, mode: str | None) -> str:
    return mode or path


def write_spans_corpus(path: str, n: int, seed: int) -> None:
    """``corpus.make_doc`` documents (doc_id, spans[]), the extraction
    job's input contract."""
    from doc_agent_spark import corpus

    corpus.write_parquet(path, n, seed=seed)


def write_documents(path: str, n: int, seed: int) -> None:
    """The serve ``documents`` table (doc_id, text, lang, source, n_chars):
    10-105 vocabulary words per doc, ~5% carrying a rare 'dup' token."""
    rng = np.random.default_rng(seed)
    vocab = np.array(VOCAB)
    lens = rng.integers(10, 106, n)
    words = vocab[rng.integers(0, len(vocab), int(lens.sum()))]
    texts = [" ".join(c) for c in np.split(words, np.cumsum(lens)[:-1])]
    dup = rng.random(n) < 0.05
    texts = [t + " dup" if d else t for t, d in zip(texts, dup)]
    table = pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[rng.integers(0, len(LANGS), n)]),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    pq.write_table(table, path)


def queries(seed: int, count: int) -> list[str]:
    """Distinct two-word queries: each one is a new cache key."""
    rng = random.Random(seed)
    seen: list[str] = []
    while len(seen) < count:
        q = " ".join(rng.sample(VOCAB, 2))
        if q not in seen:
            seen.append(q)
    return seen
