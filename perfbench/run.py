#!/usr/bin/env python3
"""Benchmark driver for the team_02_spark engine.

    python3 perfbench/run.py --workload llm_sql_ingest --seed 1 --seconds 5 --trace 0

Run from the repository root. One process runs one workload as one
closed-loop client on ``local[<cores>]``: build the inputs from the
seed, start the engine and make one untimed warm-up pass over the
workload's steps (``setup_s``), then run timed passes until
``--seconds`` have elapsed (at least one). Every step's output is
checked after its pass, outside the timing, the warm-up pass's too.
Timings are medians over the timed passes. The last stdout line is the
JSON result; the line before it carries input sizes, digests, the pass
count and per-step times. ``--trace 1`` records spans and a Spark event
log, runs the workload's probes after the passes, and reports the
per-layer metrics instead. README.md in this directory lists every
metric.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import spans as tr  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

END_TO_END = [("setup_s", "s"), ("pass_s", "s"), ("step_geomean_s", "s"),
              ("rows_per_s", "1/s"), ("cpu_s", "s"), ("peak_rss_mb", "MB")]
LAYERS = ["sources", "operators.relational", "functions.text", "ml.embed",
          "ml.models", "ml.scoring", "sinks", "operators.dedup",
          "operators.contamination", "operators.clustering", "operators.similarity",
          "queries.relational", "queries.windows", "queries.graph", "streaming"]
LAYER_METRICS = [("wall_s", "s"), ("tasks", "count"), ("task_run_s", "s"),
                 ("offcpu_s", "s"), ("shuffle_mb", "MB"), ("spill_mb", "MB"),
                 ("parallel_eff", "ratio")]
TRAINERS = ["random_forest", "logistic_regression", "linear_svc", "svc_rbf_rff",
            "gaussian_nb", "gbt"]
PER_LAYER = (
    [(f"{layer}.{m}", u) for layer in LAYERS for m, u in LAYER_METRICS]
    + [("session.jvm_start_s", "s"), ("session.warmup_s", "s"),
       ("sources.scan_amplification", "ratio")]
    + [(f"ml.models.fit_s.{t}", "s") for t in TRAINERS]
    + [("sinks.files_written", "count"), ("sinks.write_amplification", "ratio"),
       ("streaming.batches", "count"), ("trace.pass_s", "s"), ("trace.overhead_s", "s")]
)


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def isolate(work: str) -> dict[str, str]:
    """Point every scratch location of Python, the JVM and Spark inside
    ``work`` so runs share no state and write nothing outside it."""
    dirs = {k: os.path.join(work, k) for k in ("tmp", "local", "warehouse", "events")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = dirs["tmp"]
    os.environ["SPARK_LOCAL_DIRS"] = dirs["local"]
    # the JVM that spark-submit runs first to build the driver command
    # would otherwise keep its perf-data file under /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    return dirs


def spark_conf(dirs: dict[str, str], traced: bool) -> dict[str, str]:
    conf = {
        "spark.sql.warehouse.dir": dirs["warehouse"],
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={dirs['tmp']} -Dderby.system.home={dirs['tmp']} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.enabled": "false",
    }
    if traced:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + dirs["events"],
            "spark.eventLog.compress": "false",
        })
    return conf


def stop_engine(spark) -> None:
    """Stop the session, then the gateway JVM (which takes its Python
    workers with it), and wait for every child process to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        try:
            proc.stdin.close()  # the gateway JVM exits when stdin closes
            proc.wait(timeout=60)
        except (OSError, subprocess.TimeoutExpired):
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while time.time() < deadline and len(tr.tree_pids()) > 1:
        time.sleep(0.2)
    for pid in tr.tree_pids()[1:]:
        try:
            os.kill(pid, 9)
            os.waitpid(pid, 0)
        except (OSError, ChildProcessError):
            pass


CPUS = os.cpu_count() or 1


def clock() -> float:
    """Wall time minus the time the hypervisor took this VM's CPUs away
    (steal, per CPU). On a shared host, steal comes and goes with other
    tenants' load and stretches every wall time it overlaps: on a shared
    4-core VM a warm pass grew by about 0.55 s per stolen CPU-second.
    The per-CPU share is what a fully busy VM would have lost. Without
    steal (bare metal) this is the wall clock."""
    return time.perf_counter() - tr.steal_s() / CPUS


def run_pass(wl, steps, tracer, sample_cpu: bool, span: str = "pass") -> dict:
    """Run ``steps`` once (timed), then the checks and the reaping
    (untimed). A step that raises or fails its check is a failed step.
    Times are ``clock()`` times; ``raw`` is the pass's plain wall time."""
    rec = {"steps": {}, "problems": [], "lazy": {st.name for st in steps if st.lazy}}
    outputs = {}
    cpu0 = tr.tree_cpu_s() if sample_cpu else 0.0
    w0, t0 = time.perf_counter(), clock()
    with tracer.span(span, "bench"):
        for st in steps:
            s = clock()
            with tracer.span(st.name, st.layer):
                try:
                    outputs[st.name] = st.run()
                except Exception as exc:
                    traceback.print_exc()
                    outputs[st.name] = exc
            rec["steps"][st.name] = clock() - s
    rec["wall"] = clock() - t0
    rec["raw"] = time.perf_counter() - w0
    rec["cpu"] = tr.tree_cpu_s() - cpu0 if sample_cpu else 0.0
    c0 = time.perf_counter()
    for st in steps:
        out = outputs[st.name]
        if isinstance(out, Exception):
            problem = f"raised {type(out).__name__}: {out}"
        else:
            try:
                problem = st.check(out) if st.check else None
            except Exception as exc:
                traceback.print_exc()
                problem = f"check raised {type(exc).__name__}: {exc}"
        if problem:
            rec["problems"].append((st.name, problem))
    sink = wl.after_pass()
    rec["sink_files"], rec["sink_bytes"] = sink.get("files", 0), sink.get("bytes", 0)
    rec["check"] = time.perf_counter() - c0
    return rec


def layer_metrics(wl, recs, probe, tracer, jobs, batches, cores) -> dict[str, float]:
    """Fold the spans (self time) and event-log jobs into the per-layer
    metrics, per pass: spans of the timed passes count 1/passes each,
    the probes after them count once. Layers the workload does not
    touch read 0."""
    n = len(recs)
    selft = tr.self_times(tracer.spans)
    counters = tr.attribute(jobs, tracer.spans)
    zero = dict.fromkeys(tr.COUNTERS + ("wall_s",), 0.0)
    per_layer: dict[str, dict[str, float]] = {}
    reads = 0.0
    for sp in tracer.spans:
        w = 1.0 / n if sp.pass_id < n else 1.0
        acc = per_layer.setdefault(sp.layer, dict(zero))
        acc["wall_s"] += w * selft[sp.id]
        for k, v in counters.get(sp.id, {}).items():
            acc[k] += w * v
        if sp.pass_id < n:
            reads += w * counters.get(sp.id, {}).get("records_read", 0.0)
    out: dict[str, float] = {}
    for layer in LAYERS:
        r = per_layer.get(layer, zero)
        out[f"{layer}.wall_s"] = r["wall_s"]
        out[f"{layer}.tasks"] = r["tasks"]
        out[f"{layer}.task_run_s"] = r["task_run_s"]
        out[f"{layer}.offcpu_s"] = r["task_run_s"] - r["cpu_s"]
        out[f"{layer}.shuffle_mb"] = r["shuffle_mb"]
        out[f"{layer}.spill_mb"] = r["spill_mb"]
        out[f"{layer}.parallel_eff"] = (
            r["task_run_s"] / (r["wall_s"] * cores) if r["wall_s"] > 0 else 0.0)
    out["sources.scan_amplification"] = reads / max(wl.input_rows, 1)
    for t in TRAINERS:  # a trainer left out of the timed pass is a probe
        out[f"ml.models.fit_s.{t}"] = statistics.median(
            r["steps"].get(f"fit.{t}", probe["steps"].get(f"fit.{t}", 0.0)) for r in recs)
    out["sinks.files_written"] = (
        statistics.median(r["sink_files"] for r in recs) + probe["sink_files"])
    out["sinks.write_amplification"] = (
        statistics.median(r["sink_bytes"] for r in recs) + probe["sink_bytes"]
    ) / max(wl.sink_input_bytes, 1)
    tops = [sp for sp in tracer.spans if sp.parent is None]
    out["streaming.batches"] = sum(
        (1.0 / n if sp.pass_id < n else 1.0)
        for b in batches for sp in tops if sp.start <= b <= sp.end)
    return out


def main(argv=None) -> int:
    steal0 = tr.steal_s()
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "team_02_spark", "session.py")):
        print("perfbench: run from the repository root (team_02_spark/ not found)",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    base = os.path.join(root, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    dirs = isolate(work)
    traced = bool(args.trace)
    cores = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)

    wl = WORKLOADS[args.workload](work, args.seed)
    g0 = time.perf_counter()
    wl.prepare()
    gen_s = time.perf_counter() - g0

    from team_02_spark.session import get_spark

    s0 = time.perf_counter()
    spark = get_spark("perfbench", extra_conf=spark_conf(dirs, traced))
    spark.sparkContext.setLogLevel("ERROR")
    jvm_start_s = time.perf_counter() - s0
    try:
        wl.bind(spark)
        # The warm-up pass meets the engine cold: JIT, whole-stage
        # codegen, Python-worker start and module imports. Its spans
        # are not kept, so the trace holds the timed passes and probes.
        warm = run_pass(wl, wl.steps(), tr.Tracer(), sample_cpu=False)
        warmup_s = warm["wall"]
        setup_s = (tr.process_age_s() - (tr.steal_s() - steal0) / CPUS
                   - gen_s - warm["check"])
        tracer = tr.Tracer(spark.sparkContext if traced else None)
        recs = []
        t0 = time.perf_counter()
        while not recs or time.perf_counter() - t0 < args.seconds:
            tracer.pass_id = len(recs)
            recs.append(run_pass(wl, wl.steps(), tracer, sample_cpu=not traced))
        peak_rss_mb = tr.tree_peak_rss_mb()
        tracer.pass_id = len(recs)
        probe = run_pass(wl, wl.probes() if traced else [], tracer, False, "probes")
        c0 = time.perf_counter()
        final = wl.final_checks()
        check_s = sum(r["check"] for r in [warm, *recs, probe]) + time.perf_counter() - c0
    finally:
        c0 = time.perf_counter()
        stop_engine(spark)
        stop_s = time.perf_counter() - c0
    # every execution of a step (warm-up, timed passes, probes) is one
    # attempt; it fails when it raised or failed its check, or when the
    # step failed a once-per-process check
    executed = [warm, *recs, probe]
    problems = [p for r in executed for p in r["problems"]] + final
    attempted = sum(len(r["steps"]) for r in executed)
    failed = sum(1 for r in executed for name in r["steps"]
                 if any(p[0] == name for p in r["problems"] + final))

    steps = list(recs[0]["steps"])
    pass_s = statistics.median(r["wall"] for r in recs)
    step_s = {k: statistics.median(r["steps"][k] for r in recs) for k in steps}
    detail = {
        "workload": wl.name, "seed": args.seed, "cores": cores, "passes": len(recs),
        "input_rows": wl.input_rows, "input_bytes": wl.input_bytes,
        "input_sha256": wl.digest, "gen_s": round(gen_s, 4),
        "session_s": round(jvm_start_s, 4), "warmup_s": round(warmup_s, 4),
        "pass_s": [round(r["wall"], 4) for r in recs],
        "pass_wall_s": [round(r["raw"], 4) for r in recs],
        "check_s": round(check_s, 4), "stop_s": round(stop_s, 4),
        "step_s": {k: round(v, 4) for k, v in step_s.items()},
        "probe_s": {k: round(v, 4) for k, v in probe["steps"].items()},
        "problems": problems,
    }
    baseline = os.path.join(base, f"untraced-{wl.name}.json")
    if traced:
        jobs, batches = tr.fold_event_log(tr.read_event_logs(dirs["events"]))
        metrics = layer_metrics(wl, recs, probe, tracer, jobs, batches, cores)
        tracer.dump(os.path.join(base, f"spans-{wl.name}.json"))
        metrics["session.jvm_start_s"] = jvm_start_s
        metrics["session.warmup_s"] = warmup_s
        metrics["trace.pass_s"] = pass_s
        try:
            with open(baseline, encoding="utf-8") as fh:
                metrics["trace.overhead_s"] = pass_s - statistics.median(json.load(fh))
        except (OSError, ValueError, TypeError, statistics.StatisticsError):
            metrics["trace.overhead_s"] = 0.0
            detail["note"] = "no untraced run of this workload yet: trace.overhead_s is 0"
        units = dict(PER_LAYER)
    else:
        metrics = {
            "setup_s": setup_s,
            "pass_s": pass_s,
            "step_geomean_s": math.exp(statistics.fmean(
                math.log(max(v, 1e-6)) for k, v in step_s.items() if k not in recs[0]["lazy"])),
            "rows_per_s": wl.input_rows / pass_s,
            "cpu_s": statistics.median(r["cpu"] for r in recs),
            "peak_rss_mb": peak_rss_mb,
        }
        units = dict(END_TO_END)
        try:
            with open(baseline, encoding="utf-8") as fh:
                history = list(json.load(fh))
        except (OSError, ValueError, TypeError):
            history = []
        with open(baseline, "w", encoding="utf-8") as fh:
            json.dump(history + [pass_s], fh)
    shutil.rmtree(work, ignore_errors=True)

    for name, problem in problems:
        print(f"perfbench: OUTPUT CHECK FAILED {wl.name}/{name}: {problem}", file=sys.stderr)
    print(json.dumps(detail))
    result = {
        "correct": not problems,
        "attempted": attempted,
        "failed": failed,
        "metrics": {tr.check_name(k): {"value": metrics[k], "unit": u} for k, u in units.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
