"""Session-factory defaults that change how the engine runs, not what it
answers."""

from __future__ import annotations

from functools import reduce

from team_02_spark.session import codegen_compilations


def test_codegen_cache_holds_working_set(spark):
    """A working set of ~300 generated classes survives a second round.

    Each of the 150 union branches inlines its own integer literal, so
    it generates its own classes (300 compilations per cold round).
    Spark's default cache holds 100 classes, so with it the second
    round compiles every one of them again.
    """
    def round_():
        reduce(lambda a, b: a.unionAll(b), [
            spark.range(0, 4, 1, 1).selectExpr(f"id + {i} AS x")
            for i in range(150)
        ]).collect()

    round_()
    before = codegen_compilations(spark)
    round_()
    assert codegen_compilations(spark) - before == 0
