"""Relational core: projections, filters, sampling, set ops, splits.

Most of these are one Spark call — the engine's value is (a) the exact-N
stratified sampler the reference needs but Spark lacks as a builtin
(SURVEY.md §2.3 M1, reference src/main.py:67-69), and (b) deterministic
ordering discipline (md5-of-key, FIXTURES.md §C) so sampling queries are
oracle-checkable.

Scale notes: every operator here is a narrow transformation or a single
shuffle; nothing touches the driver. The stratified sampler is a window
over ``partitionBy(strata)`` — one shuffle on the strata key; at 100 TB
with few strata, salting applies (see ``stratified_sample_exact``
docstring).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from team_02_spark.util import knuth_uniform


def det_order_key(col: Column) -> Column:
    """Deterministic pseudo-random order key both Spark and DuckDB agree
    on: md5 of the string form (FIXTURES.md §C — never engine hash())."""
    return F.md5(col.cast("string"))


def stratified_sample_exact(
    df: DataFrame, strata: str, n_per_stratum: int, *, key: str, seed: str = ""
) -> DataFrame:
    """Exactly-n-per-group sample (reference semantics: 1000 uniform
    rows per sentiment class, src/main.py:67-69), deterministic: rows
    ranked by md5(seed || key) within each stratum, first n kept.

    One shuffle on ``strata``. With few strata and huge data the window
    sort is the bottleneck; for that regime pre-filter cheaply first —
    keep only rows whose md5 prefix falls below a bound ~ n/N (a
    deterministic Bernoulli pre-sample), then rank the survivors. The
    pre-filter keeps the windowed set O(n) per stratum.
    """
    rank_key = det_order_key(F.concat(F.lit(seed), F.col(key).cast("string")))
    w = Window.partitionBy(strata).orderBy(rank_key)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= n_per_stratum)
        .drop("__rn")
    )


def bernoulli_sample_deterministic(
    df: DataFrame, strata: str, fractions: dict[str, float], *, key: str,
    salt: str = "|bern"
) -> DataFrame:
    """Per-stratum Bernoulli sample with an ENGINE-PORTABLE gate: keep
    a row iff the first 8 md5 hex chars of (key || salt) sort below
    frac * 16^8 (the deterministic_split construction, per stratum).
    Same map-side no-shuffle economics as sampleBy, but reproducible
    across engines, runs, and repartitionings — so it is
    oracle-checkable and safe to use in resumable pipelines where a
    re-run must select the SAME rows. Strata absent from ``fractions``
    are dropped (sampleBy semantics)."""
    gate = F.substring(
        det_order_key(F.concat(F.col(key).cast("string"), F.lit(salt))), 1, 8
    )
    bound = None
    for s, frac in fractions.items():
        b = F.lit(format(min(int(frac * 16**8), 16**8 - 1), "08x"))
        bound = (F.when(F.col(strata) == s, b) if bound is None
                 else bound.when(F.col(strata) == s, b))
    # rows outside the fraction map: bound is NULL -> predicate NULL
    # -> filtered out
    return df.filter(gate < bound)


def deterministic_split(df: DataFrame, frac: float, key: str) -> tuple[DataFrame, DataFrame]:
    """Deterministic, repartition-stable split: md5(key) < threshold.
    Disjoint + exhaustive by construction; oracle-checkable."""
    if not 0.0 <= frac <= 1.0:
        raise ValueError(f"frac must be in [0, 1], got {frac}")
    # frac=1.0 would format as 9 hex chars and break the string
    # comparison — clamp to the max 8-char bound (matches everything
    # except the 16^-8 sliver whose md5 prefix is exactly ffffffff).
    bound = format(min(int(frac * 16**8), 16**8 - 1), "08x")
    pred = F.substring(det_order_key(F.col(key)), 1, 8) < bound
    return df.filter(pred), df.filter(~pred)


def union_all(*dfs: DataFrame) -> DataFrame:
    """M2: vertical concat, duplicate-preserving (pandas concat
    semantics, src/main.py:70); by-name so column order is irrelevant."""
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d)
    return out


def dedup_exact(df: DataFrame, *cols: str) -> DataFrame:
    """M3: exact dedup on a column subset (hash groupBy under the hood —
    map-side partial dedup then one shuffle on the dedup key)."""
    return df.dropDuplicates(list(cols) if cols else None)


def weighted_sample_exact(df: DataFrame, weight: Column | str, n: int, *,
                          key: str) -> DataFrame:
    """Weighted sampling without replacement (Efraimidis-Spirakis
    A-Res): each row draws u ~ Uniform(0,1) and scores -ln(u)/w; the n
    SMALLEST scores win — inclusion probability proportional to w.

    Deterministic twist: u comes from a Knuth multiplicative hash of
    the key (pure integer/float arithmetic — reproducible in any
    engine, so the declared query is oracle-checkable), not an RNG.
    One TakeOrdered pass; no shuffle beyond the top-n."""
    w_col = F.col(weight) if isinstance(weight, str) else weight
    score = -F.log(knuth_uniform(key)) / w_col
    return (
        df.withColumn("__score", score)
        .orderBy("__score", F.col(key))
        .limit(n)
        .drop("__score")
    )
