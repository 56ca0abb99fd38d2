"""Query registry: name -> (spark fn, oracle SQL | None).

Contract (driver, __spark_entry__.py docstring): every declared
operator gets a PySpark impl ``(spark, sf_dir) -> DataFrame`` and,
when SQL-expressible, a DuckDB-runnable ANSI oracle over the same
parquet views. Column names MUST match between the two — the driver
sorts columns by name before hashing values.

Discipline rules (FIXTURES.md §C, enforced by tests/test_oracle.py):
- alias every computed column identically on both sides;
- no engine ``hash()``/``rand()`` — md5-of-key for deterministic order;
- double aggregates: sum via DECIMAL cast then cast back to double
  (order-independent, bit-identical across engines);
- timestamps: explicit date_trunc / casts to microsecond precision.
"""

from __future__ import annotations

from dataclasses import dataclass
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # ANSI SQL for DuckDB; None => rows-only check


QUERIES: dict[str, QuerySpec] = {}


def query(name: str, oracle: str | None = None):
    """Register a declared query. ``oracle=None`` marks a rows-only
    check (non-SQL-expressible op)."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        if name in QUERIES:
            raise ValueError(f"duplicate query key {name!r}")
        QUERIES[name] = QuerySpec(name, fn, oracle)
        return fn

    return deco
