"""Seeded inputs built from the engine's fixture tables.

``fixtures/`` holds copies of the fixture parquet files the engine's
queries and tests are written for (FIXTURES.md): the ten sf0.01 tables,
which the registry workloads read as they are, and the sf0.1
``documents`` table, which the generators below replicate. Every
generated file is a pure function of ``(seed, size)``: the seed drives a
numpy PCG64 row permutation and the md5 labels, and pyarrow writes the
files, so one seed gives byte-identical files and another seed gives
different ones (``tree_digest`` checks it).
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FIXTURES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures")
SF_SMALL = os.path.join(FIXTURES, "sf0.01")
SF_DOCS = os.path.join(FIXTURES, "sf0.1", "documents.parquet")


def _rng(seed: int, stream: str) -> np.random.Generator:
    """An independent generator per (seed, stream)."""
    digest = hashlib.sha256(f"{seed}|{stream}".encode()).digest()
    return np.random.Generator(np.random.PCG64(int.from_bytes(digest[:16], "little")))


def _replicate(seed: int, stream: str, n_rows: int) -> pa.Table:
    """``n_rows`` rows of the sf0.1 documents: whole copies of the table,
    each in its own seeded order, cut at ``n_rows``."""
    docs = pq.read_table(SF_DOCS)
    rng = _rng(seed, stream)
    copies = -(-n_rows // docs.num_rows)
    order = np.concatenate([rng.permutation(docs.num_rows) for _ in range(copies)])
    return docs.take(pa.array(order[:n_rows]))


def write_sentiment_csv(path: str, seed: int, n_rows: int) -> int:
    """A headerless latin-1 CSV in the Sentiment140 layout
    (sentiment, id, date, query, user, tweet). A document's text is the
    tweet and its source the user; ids are fresh (0..n_rows-1) and the
    0/4 label comes from md5(seed|id), so both classes are near-balanced
    for any seed."""
    docs = _replicate(seed, "tweets", n_rows)
    lines = []
    for i, (text, user) in enumerate(zip(docs["text"].to_pylist(),
                                         docs["source"].to_pylist())):
        label = 4 if hashlib.md5(f"{seed}|{i}".encode()).digest()[0] & 1 else 0
        tweet = text.replace('"', '""')
        lines.append(f'"{label}","{i}","Mon Apr 06 22:19:45 PDT 2009",'
                     f'"NO_QUERY","{user}","{tweet}"\n')
    with open(path, "w", encoding="latin-1", newline="") as fh:
        fh.writelines(lines)
    return n_rows


def write_corpus(out_dir: str, seed: int, n_docs: int) -> int:
    """The ingest corpus: ``documents.parquet`` with ``n_docs`` rows of
    the sf0.1 documents under fresh ids (the shape every LLM-data writer
    in the engine consumes)."""
    os.makedirs(out_dir, exist_ok=True)
    docs = _replicate(seed, "corpus", n_docs)
    docs = docs.set_column(0, "doc_id", pa.array(np.arange(n_docs, dtype=np.int64) + 1_000_000))
    pq.write_table(docs, os.path.join(out_dir, "documents.parquet"), compression="snappy")
    return n_docs


def tree_digest(path: str) -> tuple[str, int]:
    """sha256 over every file under ``path`` (sorted relative names and
    bytes) plus the total byte count: the generator-determinism check."""
    h, total = hashlib.sha256(), 0
    paths = [path] if os.path.isfile(path) else sorted(
        os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
    for p in paths:
        with open(p, "rb") as fh:
            data = fh.read()
        h.update(os.path.relpath(p, path).encode() + b"\0" + data)
        total += len(data)
    return h.hexdigest(), total
