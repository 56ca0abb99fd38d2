"""Benchmark-contamination detection — the train/eval hygiene check
every LLM data pipeline runs before training: flag training documents
that share at least ``min_shared`` distinct word n-grams with any
benchmark/eval document.

Same machinery as the dedup lane (shingle sets + equi-join on the
shingle). The join carries no broadcast hint: the benchmark side grows
with the data, so size stats and AQE pick the strategy — a broadcast
while the benchmark's grams fit under autoBroadcastJoinThreshold, a
sort-merge join past it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from team_02_spark.operators.dedup import shingles
from team_02_spark.util import ensure_parallelism


def find_contaminated(docs: DataFrame, benchmark: DataFrame, *,
                      min_shared: int = 2, shingle_n: int = 3,
                      id_col: str = "doc_id", text_col: str = "text",
                      bench_id_col: str = "bench_id") -> DataFrame:
    """Returns (doc_id, bench_id, n_shared) for every contaminated
    (doc, benchmark-item) pair with >= min_shared shared distinct
    n-grams."""
    doc_grams = ensure_parallelism(docs).select(
        F.col(id_col), F.explode(F.array_distinct(shingles(text_col, shingle_n))).alias("g")
    )
    bench_grams = benchmark.select(
        F.col(bench_id_col), F.explode(F.array_distinct(shingles(text_col, shingle_n))).alias("g")
    )
    return (
        doc_grams.join(bench_grams, "g")
        .groupBy(id_col, bench_id_col)
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def decontaminate(docs: DataFrame, benchmark: DataFrame, *,
                  min_shared: int = 2, shingle_n: int = 3,
                  id_col: str = "doc_id", text_col: str = "text",
                  bench_id_col: str = "bench_id") -> DataFrame:
    """Drop every contaminated training document (anti-join on the
    flagged ids)."""
    flagged = find_contaminated(
        docs, benchmark, min_shared=min_shared, shingle_n=shingle_n,
        id_col=id_col, text_col=text_col, bench_id_col=bench_id_col,
    ).select(id_col).distinct()
    return docs.join(flagged, id_col, "left_anti")
