"""Vector math over ``array<float>`` columns as JVM higher-order
functions — no Python crossing, so these run inside whole-stage codegen
and scale to 100 TB of embeddings.

Used by the similarity-search lane (operators/similarity.py) and the
embedding-cosine near-dup lane (operators/dedup.py). SURVEY.md §2.4 J5.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    """Dot product via zip_with + aggregate (pure JVM). Elements are
    cast to double BEFORE multiplying: float*float in Spark is a
    float32 multiply, which would diverge from any double-precision
    oracle; double accumulation left-to-right is reproducible across
    engines."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double"))
    )


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity; 0.0 when either vector is all-zero."""
    denom = l2_norm(a) * l2_norm(b)
    return F.when(denom == 0.0, F.lit(0.0)).otherwise(dot(a, b) / denom)


# ------------------------------------------ hyperplane sign-bit hashes
#
# LSH bucket ids = sign bits of fixed pseudo-random projections. Unlike
# the exact-math functions above (oracle-checked, so they stay JVM
# HOFs), bucket hashing feeds rows-only LSH lanes — here one
# Arrow-batched numpy matmul replaces num_planes interpreted
# zip_with/aggregate trees per row (measured 20x+ on the dedup lane:
# 64 HOF projections over dim-64 vectors dominated the whole query).
# Planes are derived on the driver from a seeded RandomState, captured
# in the UDF closure; no RNG state ships to executors.


def _plane_matrix(dim: int, n_planes: int, seed: int):
    rng = np.random.RandomState(seed)
    return rng.standard_normal((n_planes, dim))


def hyperplane_bucket(vec_col: str | Column, dim: int, num_planes: int,
                      seed: int) -> Column:
    """Single bucket id: bit p (weight 2^p) set iff projection onto
    plane p is >= 0. Convention matches the historical JVM builder
    (sig |= 1<<p), so multi-probe bit flips compose unchanged."""
    from pyspark.sql.functions import pandas_udf

    planes = _plane_matrix(dim, num_planes, seed)
    weights = (1 << np.arange(num_planes)).astype(np.int64)

    @pandas_udf("long")
    def _bucket(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype="int64")
        m = np.vstack(v.to_numpy()).astype(np.float64, copy=False)
        bits = (m @ planes.T >= 0).astype(np.int64)
        return pd.Series(bits @ weights)

    # Deterministic in fact; the flag stops the optimizer from
    # inlining the UDF into join-inferred isnotnull()/user filters,
    # which re-evaluates the full-corpus matmul a second time (two
    # ArrowEvalPython nodes over the same scan — measured 2x wall on
    # knn_lsh's corpus side). Pinned by test_plans.
    return _bucket.asNondeterministic()(
        F.col(vec_col) if isinstance(vec_col, str) else vec_col)


def pdot(a: Column, b: Column) -> Column:
    """Arrow-batched numpy dot product — the verify-step hot path for
    the rows-only LSH lanes. One einsum per batch replaces an
    interpreted zip_with/aggregate tree per row (measured ~3s / 80k
    dim-64 pairs for the HOF form; the batch form is ~100x less
    interpreter work). NOT for oracle-matched queries: numpy pairwise
    summation differs from left-to-right double accumulation in the
    last ulps — exact lanes keep :func:`dot`."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _dot(x: pd.Series, y: pd.Series) -> pd.Series:
        if len(x) == 0:
            return pd.Series([], dtype="float64")
        mx = np.vstack(x.to_numpy()).astype(np.float64, copy=False)
        my = np.vstack(y.to_numpy()).astype(np.float64, copy=False)
        return pd.Series(np.einsum("ij,ij->i", mx, my))

    return _dot(a, b)


def punit(a: Column) -> Column:
    """Arrow-batched unit-normalize (float output, zero vectors pass
    through), for rows-only lanes
    that already cross into Python for bucket hashing: one numpy pass
    per batch instead of a per-element interpreted transform (which
    Catalyst may additionally push below an explode, multiplying the
    per-row cost by the fan-out)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<float>")
    def _unit(x: pd.Series) -> pd.Series:
        if len(x) == 0:
            return pd.Series([], dtype="object")
        m = np.vstack(x.to_numpy()).astype(np.float64, copy=False)
        n = np.linalg.norm(m, axis=1, keepdims=True)
        out = np.divide(m, n, out=m.copy(), where=n != 0).astype(np.float32)
        return pd.Series(list(out))

    return _unit(a)


def band_buckets(vec_col: str | Column, dim: int, planes_per_band: int,
                 num_bands: int, seed: int) -> Column:
    """array<long> of ``num_bands`` bucket ids — one signature of
    num_bands*planes_per_band sign bits sliced MinHash-style into
    bands (band b owns planes [b*p, (b+1)*p), first plane = MSB). A
    pair is an LSH candidate iff ANY band agrees on ALL its bits:
    P(candidate) = 1-(1-(1-θ/π)^p)^b."""
    from pyspark.sql.functions import pandas_udf

    planes = _plane_matrix(dim, planes_per_band * num_bands, seed)
    weights = (1 << np.arange(planes_per_band - 1, -1, -1)).astype(np.int64)

    @pandas_udf("array<long>")
    def _bands(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype="object")
        m = np.vstack(v.to_numpy()).astype(np.float64, copy=False)
        bits = (m @ planes.T >= 0).astype(np.int64)
        bk = bits.reshape(len(m), num_bands, planes_per_band) @ weights
        return pd.Series(list(bk))

    # Same duplicate-evaluation guard as hyperplane_bucket above.
    return _bands.asNondeterministic()(
        F.col(vec_col) if isinstance(vec_col, str) else vec_col)


def remap_hot_buckets(df, hot, *, bucket_col: str, refine: Column,
                      join_keys):
    """Negative-space hot-bucket refinement shared by every LSH lane
    (knn_lsh corpus + probe sides, near_dedup_embedding): rows whose
    bucket is over cap move to ``-(bucket * 256 + refine + 1)`` using
    up-to-8-bit refine sign bits; cold bucket ids are >= 0, so
    refined ids can never collide with an unrelated cold bucket.

    The 256 packing and the +1 bias must agree BIT-FOR-BIT between a
    corpus and the probes that join against it — which is exactly why
    this is one function instead of three inline copies. ``hot`` must
    carry ``join_keys`` plus a true ``__hot`` flag column."""
    return (
        df.join(F.broadcast(hot), join_keys, "left")
        .withColumn(
            bucket_col,
            F.when(
                F.col("__hot"),
                -(F.col(bucket_col) * 256 + refine + 1),
            ).otherwise(F.col(bucket_col)),
        )
        .drop("__hot")
    )
