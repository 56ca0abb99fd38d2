"""Spans, Spark event-log folding, and process-tree counters.

Spans are recorded by the benchmark around each call into an engine
layer and kept in memory. Spark work is attributed to the innermost open
span by setting the job group to the span id, so the event log (enabled
with ``spark.eventLog.enabled``) can be folded into per-span task
counters after the session stops.
"""

from __future__ import annotations

import glob
import json
import os
import re
import time
from dataclasses import dataclass, field

NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")


def check_name(name: str) -> str:
    """Metric and span names: a letter or digit, then up to 63 of
    ``[A-Za-z0-9_.-]``."""
    if not NAME_RE.fullmatch(name):
        raise ValueError(f"bad metric name {name!r}")
    return name


@dataclass
class Span:
    id: int
    name: str
    layer: str
    pass_id: int
    parent: int | None
    start: float
    end: float = 0.0


@dataclass
class Tracer:
    """In-memory span recorder. ``sc`` is the SparkContext whose job
    group follows the innermost open span; ``None`` records spans only."""

    sc: object = None
    spans: list[Span] = field(default_factory=list)
    stack: list[Span] = field(default_factory=list)
    pass_id: int = 0

    def span(self, name: str, layer: str):
        return _SpanCtx(self, check_name(name), check_name(layer))

    def _enter(self, name: str, layer: str) -> Span:
        parent = self.stack[-1].id if self.stack else None
        sp = Span(len(self.spans), name, layer, self.pass_id, parent, time.time())
        self.spans.append(sp)
        self.stack.append(sp)
        self._tag()
        return sp

    def _exit(self, sp: Span) -> None:
        sp.end = time.time()
        self.stack.pop()
        self._tag()

    def _tag(self) -> None:
        if self.sc is None:
            return
        if self.stack:
            top = self.stack[-1]
            self.sc.setJobGroup(f"pb{top.id}", top.name)
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            json.dump([sp.__dict__ for sp in self.spans], fh)


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, layer: str):
        self.tracer, self.name, self.layer = tracer, name, layer

    def __enter__(self) -> Span:
        self.sp = self.tracer._enter(self.name, self.layer)
        return self.sp

    def __exit__(self, *exc) -> None:
        self.tracer._exit(self.sp)


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the union of its children's intervals
    (clipped to the span)."""
    children: dict[int, list[Span]] = {}
    for sp in spans:
        if sp.parent is not None:
            children.setdefault(sp.parent, []).append(sp)
    out = {}
    for sp in spans:
        covered, cur_s, cur_e = 0.0, None, None
        for c in sorted(children.get(sp.id, []), key=lambda c: c.start):
            s, e = max(c.start, sp.start), min(c.end, sp.end)
            if e <= s:
                continue
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        out[sp.id] = (sp.end - sp.start) - covered
    return out


COUNTERS = ("tasks", "task_run_s", "cpu_s", "shuffle_mb", "spill_mb", "records_read")


def fold_event_log(lines) -> tuple[list[dict], list[float]]:
    """Fold Spark event-log JSON lines into per-job counters.

    Returns ``(jobs, batches)``: one dict per job with its job group,
    submission time (epoch seconds) and the summed task counters of its
    stages, and the epoch times of structured-streaming progress events
    (one per micro-batch)."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    batches: list[float] = []
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            jobs[ev["Job ID"]] = {
                "group": (ev.get("Properties") or {}).get("spark.jobGroup.id") or "",
                "time": ev.get("Submission Time", 0) / 1e3,
                **dict.fromkeys(COUNTERS, 0.0),
            }
            for sid in ev.get("Stage IDs", []):
                stage_job[sid] = ev["Job ID"]
        elif kind == "SparkListenerTaskEnd":
            job = jobs.get(stage_job.get(ev.get("Stage ID"), -1))
            if job is None:
                continue
            m = ev.get("Task Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            job["tasks"] += 1
            job["task_run_s"] += m.get("Executor Run Time", 0) / 1e3
            job["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            job["shuffle_mb"] += (sw.get("Shuffle Bytes Written", 0)
                                  + sr.get("Remote Bytes Read", 0)
                                  + sr.get("Local Bytes Read", 0)) / 2**20
            job["spill_mb"] += m.get("Disk Bytes Spilled", 0) / 2**20
            job["records_read"] += (m.get("Input Metrics") or {}).get("Records Read", 0)
        elif kind.endswith("QueryProgressEvent"):
            stamp = (ev.get("progress") or {}).get("timestamp")
            if stamp:
                batches.append(_iso_epoch(stamp))
    return list(jobs.values()), batches


def _iso_epoch(stamp: str) -> float:
    from datetime import datetime, timezone

    return datetime.strptime(stamp, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=timezone.utc).timestamp()


def innermost(spans: list[Span], t: float) -> Span | None:
    """The latest-started span whose interval holds time ``t``."""
    best = None
    for sp in spans:
        if sp.start <= t <= sp.end and (best is None or sp.start >= best.start):
            best = sp
    return best


def attribute(jobs: list[dict], spans: list[Span]) -> dict[int, dict[str, float]]:
    """Counters per span id. A job tagged with one of our span ids goes
    to that span; any other job (streaming micro-batch threads set their
    own group) goes to the innermost span open when it was submitted.
    Jobs outside every span are dropped."""
    by_id = {f"pb{sp.id}": sp.id for sp in spans}
    out: dict[int, dict[str, float]] = {}
    for job in jobs:
        sid = by_id.get(job["group"])
        if sid is None:
            sp = innermost(spans, job["time"])
            if sp is None:
                continue
            sid = sp.id
        acc = out.setdefault(sid, dict.fromkeys(COUNTERS, 0.0))
        for k in COUNTERS:
            acc[k] += job[k]
    return out


def read_event_logs(log_dir: str) -> list[str]:
    """Every line of every event-log file under ``log_dir`` (plain and
    rolling ``eventlog_v2_*`` layouts)."""
    lines = []
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)):
        if os.path.isfile(path) and not path.endswith(".crc") and "appstatus" not in path:
            with open(path, encoding="utf-8") as fh:
                lines.extend(fh)
    return lines


# --- process tree (/proc) ------------------------------------------------

_TICK = os.sysconf("SC_CLK_TCK")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", encoding="utf-8") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def tree_pids(root: int | None = None) -> list[int]:
    root = root or os.getpid()
    kids, out, todo = _children(), [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def tree_cpu_s() -> float:
    """User+system CPU of this process and every live descendant,
    including the reaped children each one has waited for."""
    total = 0
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/stat", encoding="utf-8") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
    return total / _TICK


def tree_peak_rss_mb() -> float:
    """Sum of per-process resident high-water marks (VmHWM) over the
    tree: an upper bound on the tree's peak resident set."""
    total = 0
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/status", encoding="utf-8") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            continue
    return total / 1024


def steal_s() -> float:
    """Seconds the hypervisor ran something else while this VM's CPUs
    were ready to run (the ``steal`` column of ``/proc/stat``, summed
    over CPUs); 0 on bare metal."""
    with open("/proc/stat", encoding="utf-8") as fh:
        return int(fh.readline().split()[8]) / _TICK


def process_age_s() -> float:
    """Seconds since this process was created (kernel start time)."""
    with open("/proc/self/stat", encoding="utf-8") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime", encoding="utf-8") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / _TICK
