"""Shared helpers for declared queries — the hash-match discipline in
one place (SURVEY.md §7.3 "hard parts": float formatting, widening,
timestamp precision)."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from team_02_spark.sources import load_table

# Decimal precision used to make double-sums order-independent: a
# double cast to DECIMAL(18,4) sums exactly, then one exact conversion
# back to double. Bit-identical in Spark and DuckDB regardless of
# partitioning/order.
DEC = "decimal(18,4)"
DEC_SQL = "DECIMAL(18,4)"


def dsum(col: str | Column) -> Column:
    """Order-independent sum of a double column, returned as double."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(DEC)).cast("double")


def dsum_sql(expr: str) -> str:
    return f"CAST(SUM(CAST({expr} AS {DEC_SQL})) AS DOUBLE)"


def davg(col: str | Column) -> Column:
    """Order-independent mean: exact decimal sum / count, as double."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(DEC)).cast("double") / F.count(c)


def davg_sql(expr: str) -> str:
    return f"CAST(SUM(CAST({expr} AS {DEC_SQL})) AS DOUBLE) / COUNT({expr})"


def to_cents(col: str) -> Column:
    """2dp-valued double -> exact BIGINT cents (FIXTURES.md §C)."""
    return (F.col(col).cast("decimal(18,2)") * 100).cast("bigint")


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


def run_dir(spark: SparkSession, label: str) -> str:
    """Per-application scratch dir for sink/scan round-trip lanes.

    Keyed by the Spark applicationId so two concurrent sessions
    (parallel test workers, simultaneous driver + bench runs) never
    clobber each other's output directory mid-read. Deterministic
    within a session, so overwrite-mode re-runs stay idempotent."""
    import os
    import tempfile

    app = spark.sparkContext.applicationId
    return os.path.join(tempfile.gettempdir(), f"team02_{label}_{app}")
