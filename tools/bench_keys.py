"""Per-key bench isolation (r15 optimization round): time a subset of
declared queries with EXACTLY the bench.py methodology (same session
factory, same table+calibration warmup, same noop sink, best-of-N) so
single-lane before/after numbers are comparable to the official bench
without paying for the whole 51-key session.

Usage:
    python tools/bench_keys.py q_triangles q_semdedup [--sf sf0.1]
        [--runs 3] [--explain plans/r15 --tag before]

Each timed key prints its samples and the whole-stage-codegen classes
each run compiled (`compiles=[...]`); a warm repeat that compiles is
paying codegen again.

--explain DIR writes DIR/<key>_<tag>.txt with explain("formatted")
for each key (the judge-checkable plan evidence for this round).
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    # argparse (r15 advisor low): the hand-rolled flag parsing raised
    # bare IndexError on a trailing flag and silently consumed a
    # key-looking value; argparse gives usage errors for free.
    import argparse

    ap = argparse.ArgumentParser(
        description="Per-key bench isolation with bench.py methodology")
    ap.add_argument("keys", nargs="+", help="declared query keys")
    ap.add_argument("--sf", default="sf0.1",
                    help="fixture name, or an absolute fixture directory")
    ap.add_argument("--runs", type=int, default=3,
                    help="best-of-N runs (0 = explain-only)")
    ap.add_argument("--explain", dest="explain_dir", default=None,
                    help="write DIR/<key>_<tag>.txt explain dumps")
    ap.add_argument("--tag", default="before")
    ns = ap.parse_args()
    sf, runs, explain_dir, tag, keys = (
        ns.sf, ns.runs, ns.explain_dir, ns.tag, ns.keys)

    sf_dir = os.path.join("/root/testdata", sf)
    from team_02_spark import get_spark
    from team_02_spark.session import codegen_compilations
    from team_02_spark.queries import QUERIES
    from team_02_spark.sources import TABLES, load_table

    spark = get_spark("team_02_spark-bench-keys")
    spark.sparkContext.setLogLevel("ERROR")

    # identical warmup to bench.py: every table through the noop sink
    # (JVM + codegen + page cache), then one trivial pandas_udf pass
    for name in TABLES:
        load_table(spark, sf_dir, name).write.format("noop").mode(
            "overwrite").save()
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _warm(s):
        return s * 1.0

    spark.range(1024).select(_warm(F.col("id").cast("double"))).write.format(
        "noop").mode("overwrite").save()

    results = {}
    for name in keys:
        if name not in QUERIES:
            print(f"unknown key: {name}", file=sys.stderr)
            return 2
        fn = QUERIES[name].fn
        if explain_dir:
            os.makedirs(explain_dir, exist_ok=True)
            df = fn(spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted")
            with open(os.path.join(explain_dir, f"{name}_{tag}.txt"), "w") as fh:
                fh.write(plan)
            if "ExistingRDD" in plan:
                # checkpoint-truncated lane (r15 verdict #8): also dump
                # the UNtruncated tree with shared_pass in explain-only
                # passthrough mode, so the sub-plan behind every
                # `Scan ExistingRDD` stays judge-checkable. The conf is
                # reset before any timed run below.
                from team_02_spark.util import SHARED_PASS_INLINE_CONF

                spark.conf.set(SHARED_PASS_INLINE_CONF, "true")
                try:
                    fdf = fn(spark, sf_dir)
                    with open(os.path.join(
                            explain_dir, f"{name}_{tag}_full.txt"), "w") as fh:
                        fh.write(fdf._sc._jvm.PythonSQLUtils.explainString(
                            fdf._jdf.queryExecution(), "formatted"))
                finally:
                    spark.conf.set(SHARED_PASS_INLINE_CONF, "false")
        if runs < 1:  # explain-only mode
            print(f"{name}: explained", flush=True)
            continue
        spark.sparkContext.setJobDescription(f"bench_keys:{name}")
        samples, compiles = [], []
        for _ in range(runs):
            c0 = codegen_compilations(spark)
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            samples.append(round(time.perf_counter() - t0, 3))
            compiles.append(codegen_compilations(spark) - c0)
        spark.sparkContext.setJobDescription(None)
        results[name] = samples
        print(f"{name}: best={min(samples):.3f}  samples={samples}  "
              f"compiles={compiles}", flush=True)
    if results:
        total = sum(min(s) for s in results.values())
        print(f"TOTAL(best): {total:.3f}s over {len(results)} keys")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
