"""Document embedding (SURVEY.md §2.8 U2).

The reference runs DistilBERT and takes the CLS vector
(reference src/main.py:84-86, 768-d float32). Torch/transformers are
not in this container, so the engine ships:

- ``hash_embed``: a REAL, deterministic hash-projection embedder —
  each token hashes to a stable pseudo-random unit vector (seeded by
  the token bytes, not Python's randomized hash); the document vector
  is the L2-normalized mean. This is the classic feature-hashing trick;
  it preserves the contract (fixed-dim float vector per doc) and is
  what tests and the declared query run.
- ``hf_embed_factory`` (import-gated): the genuine DistilBERT CLS
  embedding as an *iterator* pandas_udf — the model loads ONCE per
  executor python worker and streams Arrow batches through, which is
  the pattern that makes transformer inference viable on a cluster.

Both produce array<float> of EMBED_DIM.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

EMBED_DIM = 64  # matches the embeddings fixture (FIXTURES.md §A)


def _token_vec(token: str, dim: int) -> np.ndarray:
    """Deterministic pseudo-random vector for a token: md5 → seed →
    standard normal draw. Stable across processes and Python runs."""
    seed = int.from_bytes(hashlib.md5(token.encode("utf-8")).digest()[:4], "big")
    rng = np.random.RandomState(seed)
    return rng.standard_normal(dim).astype(np.float32)


@F.pandas_udf(T.ArrayType(T.FloatType()))
def hash_embed(texts: Iterator[pd.Series]) -> Iterator[pd.Series]:
    """U2 stand-in, iterator form: per-batch vectorized embedding with
    a per-worker token-vector cache (the analogue of loading the model
    once per executor)."""
    cache: dict[str, np.ndarray] = {}

    def tok_vec(tk: str) -> np.ndarray:
        v = cache.get(tk)
        if v is None:
            v = _token_vec(tk, EMBED_DIM)
            cache[tk] = v
        return v

    for batch in texts:
        out = []
        for text in batch:
            if not text or not text.split():
                out.append([0.0] * EMBED_DIM)
                continue
            m = np.mean([tok_vec(tk) for tk in text.split()], axis=0)
            n = float(np.linalg.norm(m))
            out.append([float(x) for x in (m / n if n > 0 else m)])
        yield pd.Series(out)


def hf_embed_factory(model_name: str = "distilbert-base-uncased", dim: int = 768):
    """Genuine DistilBERT CLS embedding (reference semantics,
    src/main.py:84-86) as an iterator pandas_udf. ImportError where
    torch/transformers are absent (this container); the Spark-side
    plumbing is identical to hash_embed."""
    import torch  # noqa: F401 — gated import
    from transformers import AutoModel, AutoTokenizer

    @F.pandas_udf(T.ArrayType(T.FloatType()))
    def embed(texts: Iterator[pd.Series]) -> Iterator[pd.Series]:
        tok = AutoTokenizer.from_pretrained(model_name)
        model = AutoModel.from_pretrained(model_name)
        model.eval()
        for batch in texts:
            with torch.no_grad():
                enc = tok(
                    batch.fillna("").tolist(),
                    max_length=30,
                    truncation=True,
                    padding="max_length",
                    return_tensors="pt",
                )
                out = model(**enc)
                cls = out.last_hidden_state[:, 0, :].numpy()
            yield pd.Series([list(map(float, row)) for row in cls])

    return embed
