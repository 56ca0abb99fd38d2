"""Driver-contract verification — simulates EXACTLY what the round
driver does: vanilla SparkSession (none of our session.py configs),
DuckDB views over the fixture parquet, and a side-by-side compare of
every declared query against its oracle.

Usage:
    python tools/verify_driver.py                    # all keys, sf0.01
    python tools/verify_driver.py --sf sf0.1         # scale sweep
    python tools/verify_driver.py q_pagerank q_auc   # subset
    python tools/verify_driver.py --window           # the projected
        50-key driver window (red + pinned + new + stalest), the end-of-round
        pre-driver evidence sweep
    python tools/verify_driver.py --times ...        # also print each
        key's wall seconds (Spark side only, query + compare fetch),
        so staleness sweeps double as coarse per-key perf evidence
        between official benches (r13 verdict optional #7b)

Exit code 0 iff every checked key matches (rows-only keys must run).
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tests")
)

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def main() -> int:
    args = sys.argv[1:]
    sf = "sf0.01"
    if "--sf" in args:
        i = args.index("--sf")
        sf = args[i + 1]
        args = args[:i] + args[i + 2:]
    times = "--times" in args
    if times:
        args.remove("--times")
    if "--window" in args:
        # sweep exactly the keys the round driver will check next:
        # the first 50 of __spark_entry__'s window order (red, pinned
        # or unchecked keys, then stalest rows first)
        args.remove("--window")
        import __spark_entry__ as e

        args += list(e.queries())[:50]
    sf_dir = f"/root/testdata/{sf}"

    import duckdb
    from pyspark.sql import SparkSession

    from oracle_harness import compare

    # Vanilla SEMANTICS (no team_02 session configs), but a JVM big
    # enough for scale sweeps: the default 1g driver heap OOMs on the
    # heaviest lanes at sf0.1 (q_triangles' 124M-wedge stage), and a
    # dead gateway then fails every remaining key with
    # ConnectionRefused. Heap size changes capacity, never answers.
    mem = os.environ.get("SPARK_GRAFT_VERIFY_MEM", "8g")
    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.driver.memory", mem)
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    import __spark_entry__ as e

    con = duckdb.connect()
    for n in TABLES:
        con.execute(
            f"CREATE VIEW {n} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{n}.parquet')"
        )
    qs, osql = e.queries(), e.oracle_sql()
    keys = args or sorted(qs)
    bad = 0
    for name in keys:
        if name not in qs:
            print(f"{name}: UNKNOWN KEY")
            bad += 1
            continue
        t0 = time.perf_counter()
        try:
            if name in osql:
                problems = compare(
                    qs[name](spark, sf_dir), con.execute(osql[name]).fetchdf()
                )
                if problems:
                    bad += 1
                    print(f"{name}: {problems}")
            else:
                n_rows = qs[name](spark, sf_dir).count()
                assert n_rows >= 0
        except Exception as exc:  # noqa: BLE001 - report and continue
            bad += 1
            print(f"{name}: EXCEPTION {type(exc).__name__}: {exc}")
        if times:
            # single-shot wall incl. the DuckDB twin + compare — a
            # coarse ceiling on the lane's cost, not a bench number
            print(f"{name}: {time.perf_counter() - t0:.2f}s")
    n_oracle = sum(1 for k in keys if k in osql)
    print(
        f"checked {len(keys)} keys ({n_oracle} oracle, "
        f"{len(keys) - n_oracle} rows-only) at {sf}: {bad} failures"
    )
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
