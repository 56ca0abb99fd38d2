"""Tests for the benchmark's own logic (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os

import pytest

import gen
import spans
from run import END_TO_END, PER_LAYER
from workloads import WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))


@pytest.mark.parametrize("name", ["pass_s", "ml.models.fit_s.gbt", "q-1.x_2", "9lives"])
def test_valid_names(name):
    assert spans.check_name(name) == name


@pytest.mark.parametrize("name", ["", "_lead", ".lead", "has space", "a/b", "é", "x" * 65])
def test_invalid_names(name):
    with pytest.raises(ValueError):
        spans.check_name(name)


def test_declared_metrics_match_benchmark_json():
    with open(os.path.join(HERE, "..", "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == END_TO_END
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == PER_LAYER
    assert sorted(w["name"] for w in spec["workloads"]) == sorted(WORKLOADS)
    for name, _ in END_TO_END + PER_LAYER:
        spans.check_name(name)
    assert len({n for n, _ in END_TO_END + PER_LAYER}) == len(END_TO_END + PER_LAYER)


def _span(i, parent, start, end, layer="x"):
    return spans.Span(i, f"s{i}", layer, 0, parent, start, end)


def test_self_time_subtracts_union_of_children():
    tree = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 4.0),   # overlaps span 2: union 1..5
        _span(2, 0, 3.0, 5.0),
        _span(3, 0, 8.0, 12.0),  # clipped to 8..10
        _span(4, 1, 1.5, 2.0),   # grandchild: counts against 1, not 0
    ]
    got = spans.self_times(tree)
    assert got[0] == pytest.approx(10.0 - 4.0 - 2.0)
    assert got[1] == pytest.approx(3.0 - 0.5)
    assert got[2] == pytest.approx(2.0)
    assert got[3] == pytest.approx(4.0)
    assert got[4] == pytest.approx(0.5)


def test_tracer_nests_and_records_pass():
    t = spans.Tracer()
    t.pass_id = 3
    with t.span("pass", "bench"):
        with t.span("step", "sinks"):
            pass
    outer, inner = t.spans
    assert inner.parent == outer.id and inner.pass_id == 3
    assert outer.start <= inner.start <= inner.end <= outer.end


def test_fold_recorded_event_log():
    # pb0 scans a 1000-row parquet dir into the noop sink; pb1 aggregates
    # it, which adds a shuffle. Each group ran more than one job.
    with open(os.path.join(HERE, "testdata", "eventlog.jsonl"), encoding="utf-8") as fh:
        jobs, batches = spans.fold_event_log(fh)
    by_group: dict[str, dict] = {}
    for j in jobs:
        acc = by_group.setdefault(j["group"], dict.fromkeys(spans.COUNTERS, 0.0))
        for k in spans.COUNTERS:
            acc[k] += j[k]
        assert j["task_run_s"] >= 0 and j["cpu_s"] >= 0 and j["time"] > 1e9
    assert set(by_group) == {"pb0", "pb1"}
    scan, agg = by_group["pb0"], by_group["pb1"]
    assert scan["records_read"] == 1000 and scan["shuffle_mb"] == 0 and scan["tasks"] >= 4
    assert agg["records_read"] == 1000 and agg["shuffle_mb"] > 0 and agg["tasks"] > 4
    assert batches == []


def test_attribute_by_group_then_by_time():
    tree = [_span(0, None, 100.0, 200.0, "a"), _span(1, 0, 150.0, 160.0, "b")]
    zero = dict.fromkeys(spans.COUNTERS, 0.0)
    jobs = [
        {**zero, "group": "pb0", "time": 155.0, "tasks": 2},         # tagged: wins over time
        {**zero, "group": "stream-run-id", "time": 155.0, "tasks": 3},  # innermost open span
        {**zero, "group": "", "time": 120.0, "tasks": 5},
        {**zero, "group": "", "time": 300.0, "tasks": 7},            # outside every span
    ]
    got = spans.attribute(jobs, tree)
    assert got[0]["tasks"] == 7 and got[1]["tasks"] == 3


def test_progress_events_count_as_batches():
    line = json.dumps({
        "Event": "org.apache.spark.sql.streaming.StreamingQueryListener$QueryProgressEvent",
        "progress": {"timestamp": "2026-01-01T00:00:01.500Z"},
    })
    _, batches = spans.fold_event_log([line])
    assert batches == [pytest.approx(1767225601.5)]


def test_generators_are_seed_deterministic(tmp_path):
    def build(seed, name):
        d = tmp_path / name
        d.mkdir()
        gen.write_sentiment_csv(str(d / "t.csv"), seed, 300)
        gen.write_corpus(str(d / "corpus"), seed, 7_000)
        return gen.tree_digest(str(d))

    a, b, c = build(1, "a"), build(1, "b"), build(2, "c")
    assert a == b
    assert a[0] != c[0]


def test_sentiment_csv_shape(tmp_path):
    path = tmp_path / "t.csv"
    gen.write_sentiment_csv(str(path), 5, 400)
    import csv

    with open(path, encoding="latin-1", newline="") as fh:
        rows = list(csv.reader(fh))
    assert len(rows) == 400 and all(len(r) == 6 for r in rows)
    labels = [r[0] for r in rows]
    assert set(labels) == {"0", "4"} and 120 < labels.count("4") < 280
    assert [int(r[1]) for r in rows] == list(range(400))


def test_corpus_replicates_fixture_documents_under_fresh_ids(tmp_path):
    import pyarrow.parquet as pq

    gen.write_corpus(str(tmp_path), 3, 7_000)
    got = pq.read_table(str(tmp_path / "documents.parquet"))
    docs = pq.read_table(gen.SF_DOCS)
    assert got.schema == docs.schema and got.num_rows == 7_000
    ids = got["doc_id"].to_pylist()
    assert len(set(ids)) == 7_000 and min(ids) > max(docs["doc_id"].to_pylist())
    fixture_texts = set(docs["text"].to_pylist())
    texts = got["text"].to_pylist()
    assert set(texts) <= fixture_texts
    assert set(texts[:docs.num_rows]) == fixture_texts  # first copy is whole
