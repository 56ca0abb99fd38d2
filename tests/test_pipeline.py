"""End-to-end pipeline test on the reference's own committed fixture:
the complete training flow (CSV → sample → clean → embed → 4 trainers
→ metrics) and the inference flow (featurize → multi-model score →
predictions sink) — the 'a reference user could switch' proof.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import functions as F

from team_02_spark.ml.models import train_with_tracking, trainers
from team_02_spark.pipeline import (
    featurize,
    prepare_training_data,
    run_inference_pipeline,
    run_training_pipeline,
)
from tests.conftest import SF_SMOKE

# The reference's committed sample is the post-drop snapshot
# (,sentiment,tweet). Rebuild a Sentiment140-layout CSV from it so the
# S1 scan path (6 cols, latin-1, headerless) is exercised end to end.
# Without it, the same layout comes from the sf0.01 documents fixture:
# text is the tweet, and md5(doc_id) picks a deterministic 0/4 label.
REF_FIXTURE = "/root/reference/data/tweets_1000.csv"
DOCS_FIXTURE = os.path.join(os.path.dirname(SF_SMOKE), "sf0.01",
                            "documents.parquet")


def _sentiment_rows() -> list[tuple[str, str, str]]:
    """(id, sentiment, tweet) rows, from the reference sample if present."""
    import csv
    import hashlib

    if os.path.exists(REF_FIXTURE):
        return [tuple(r) for r in
                list(csv.reader(open(REF_FIXTURE, encoding="latin-1")))[1:]]
    import pyarrow.parquet as pq

    docs = pq.read_table(DOCS_FIXTURE, columns=["doc_id", "text"]).to_pylist()
    return [
        (str(d["doc_id"]),
         "4" if hashlib.md5(str(d["doc_id"]).encode()).digest()[0] & 1 else "0",
         d["text"])
        for d in docs
    ]


def _make_sentiment140_csv(tmpdir: str) -> str:
    import csv

    path = os.path.join(tmpdir, "tweets.csv")
    with open(path, "w", encoding="latin-1", newline="") as f:
        w = csv.writer(f)
        for idx, sent, tweet in _sentiment_rows():
            w.writerow([sent, idx, "Mon Apr 06 22:19:45 PDT 2009", "NO_QUERY",
                        f"user{idx}", tweet])
    return path


def test_training_pipeline_end_to_end(spark):
    with tempfile.TemporaryDirectory() as tmp:
        csv_path = _make_sentiment140_csv(tmp)
        data = prepare_training_data(spark, csv_path, per_class=50,
                                     snapshot_dir=tmp)
        counts = {r["sentiment"]: r["n"] for r in
                  data.groupBy("sentiment").agg(F.count("*").alias("n")).collect()}
        assert all(n == 50 for n in counts.values())
        # snapshot written, content-addressed
        snaps = [d for d in os.listdir(tmp) if d.endswith(".csv") and os.path.isdir(os.path.join(tmp, d))]
        assert len(snaps) == 1 and len(snaps[0]) == 36  # md5 hex + '.csv'

        feats = featurize(data)
        row = feats.first()
        assert isinstance(row["tokens"], list)
        assert len(row["embedding"]) == 64

        ready = feats.select(
            "id", "embedding",
            F.when(F.col("sentiment") == 4, 1).otherwise(0).alias("y"),
        )
        _m, metrics = train_with_tracking(
            ready, "embedding", "y", "logistic_regression",
            trainers()["logistic_regression"],
        )
        assert metrics["tp"] + metrics["fp"] + metrics["fn"] + metrics["tn"] > 0


def test_run_training_pipeline_scores_every_trainer(spark):
    """The packaged training entry point: one metrics dict per
    trainers() key, each scored on the whole holdout, and its
    logistic_regression counts equal the hand-built path's above."""
    from team_02_spark.ml.models import _to_features

    with tempfile.TemporaryDirectory() as tmp:
        csv_path = _make_sentiment140_csv(tmp)
        results = run_training_pipeline(spark, csv_path, per_class=50)

        ready = featurize(prepare_training_data(spark, csv_path, per_class=50)).select(
            "id", "embedding",
            F.when(F.col("sentiment") == 4, 1).otherwise(0).alias("y"),
        )
        holdout = _to_features(ready, "embedding", "y").randomSplit(
            [0.8, 0.2], seed=15)[1].count()
        _m, hand = train_with_tracking(
            ready, "embedding", "y", "logistic_regression",
            trainers()["logistic_regression"],
        )

    assert set(results) == set(trainers())
    assert holdout > 0
    for name, m in results.items():
        assert m["tp"] + m["fp"] + m["fn"] + m["tn"] == holdout, name
    lr = results["logistic_regression"]
    assert [lr[k] for k in ("tp", "fp", "fn", "tn")] == \
        [hand[k] for k in ("tp", "fp", "fn", "tn")]


def test_inference_pipeline_end_to_end(spark):
    with tempfile.TemporaryDirectory() as tmp:
        csv_path = _make_sentiment140_csv(tmp)
        data = prepare_training_data(spark, csv_path, per_class=50)
        feats = featurize(data)
        ready = feats.select(
            "id", "embedding",
            F.when(F.col("sentiment") == 4, 1).otherwise(0).alias("y"),
        )
        zoo = trainers()
        fitted = {
            name: train_with_tracking(ready, "embedding", "y", name, zoo[name])[0]
            for name in ("logistic_regression", "gaussian_nb")
        }
        fresh = data.select("id", "tweet").limit(20)
        out_path = os.path.join(tmp, "predictions.parquet")
        scored = run_inference_pipeline(spark, fresh, fitted, out_path=out_path)
        assert scored.count() == 20
        assert set(fitted) < set(scored.columns)
        # sink round-trips
        back = spark.read.parquet(out_path)
        assert back.count() == 20


def test_jsonl_roundtrip_preserves_content(spark, tmp_path):
    """documents -> gzip JSONL shards -> read back with explicit
    schema: same dataset fingerprint, no schema-inference pre-pass
    (schema passed explicitly)."""
    from team_02_spark.sinks.writers import (
        dataset_fingerprint, read_jsonl, write_jsonl,
    )
    from team_02_spark.sources import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text", "lang"
    )
    out = str(tmp_path / "docs_jsonl")
    write_jsonl(docs.repartition(4), out)
    back = read_jsonl(spark, out, schema="doc_id long, text string, lang string")
    assert dataset_fingerprint(back, "doc_id", "text", "lang") == \
        dataset_fingerprint(docs, "doc_id", "text", "lang")
    import glob
    assert glob.glob(out + "/*.json.gz")  # gzip shards on disk


def test_orc_roundtrip_preserves_content(spark, tmp_path):
    """ORC sink/source round-trip (columnar alternative to parquet,
    supported natively by Spark): fingerprint-equal content."""
    from team_02_spark.sinks.writers import dataset_fingerprint
    from team_02_spark.sources import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text", "lang"
    )
    out = str(tmp_path / "docs_orc")
    docs.repartition(2).write.mode("overwrite").orc(out)
    back = spark.read.orc(out)
    assert dataset_fingerprint(back, "doc_id", "text", "lang") == \
        dataset_fingerprint(docs, "doc_id", "text", "lang")


def test_write_training_shards_layout(spark, tmp_path):
    """Shard export: every doc lands in exactly one shard, shard
    assignment matches q_shard_plan's manifest, and the in-shard
    order is reproducible (two writes give identical per-file row
    order)."""
    import glob

    from team_02_spark.queries import QUERIES
    from team_02_spark.sinks.writers import write_training_shards
    from team_02_spark.sources import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    out = str(tmp_path / "shards")
    manifest = {r["shard"]: r["n_docs"]
                for r in write_training_shards(docs, out, n_shards=16).collect()}
    assert sum(manifest.values()) == docs.count()
    assert len(glob.glob(out + "/shard=*")) == len(manifest)

    plan = {r["shard"]: r["n_docs"]
            for r in QUERIES["q_shard_plan"].fn(spark, "/root/testdata/sf0.001").collect()}
    assert manifest == plan  # writer executes exactly the dry-run plan

    out2 = str(tmp_path / "shards2")
    write_training_shards(docs, out2, n_shards=16)
    s0 = sorted(glob.glob(out + "/shard=3/*.parquet"))
    s1 = sorted(glob.glob(out2 + "/shard=3/*.parquet"))
    ids0 = [r["doc_id"] for r in spark.read.parquet(*s0).collect()]
    ids1 = [r["doc_id"] for r in spark.read.parquet(*s1).collect()]
    assert ids0 == ids1 and len(ids0) > 0


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_featurize_materializes_once_and_changes_no_result(spark):
    """featurize ends in shared_pass: every consumer of the featurized
    frame reads the checkpointed rows, so the stem/embed pandas_udfs
    (ArrowEvalPython) are gone from the executed plan of each fit,
    split and confusion job. The inline-explain conf restores the full
    plan, and both frames give the same rows and confusion counts."""
    from team_02_spark.util import SHARED_PASS_INLINE_CONF

    def ready(feats):
        return feats.select(
            "id", "tokens", "embedding",
            F.when(F.col("sentiment") == 4, 1).otherwise(0).alias("y"),
        )

    with tempfile.TemporaryDirectory() as tmp:
        data = prepare_training_data(spark, _make_sentiment140_csv(tmp),
                                     per_class=50)
        shared = ready(featurize(data))
        spark.conf.set(SHARED_PASS_INLINE_CONF, "true")
        try:
            inline = ready(featurize(data))
        finally:
            spark.conf.unset(SHARED_PASS_INLINE_CONF)

        shared_rows = shared.collect()
        inline_rows = inline.collect()
        assert "ArrowEvalPython" not in _executed_plan(shared)
        assert "ExistingRDD" in _executed_plan(shared)
        assert "ArrowEvalPython" in _executed_plan(inline)
        assert sorted(map(tuple, shared_rows)) == sorted(map(tuple, inline_rows))

        zoo = trainers()
        cells = ("tp", "fp", "fn", "tn")
        for name in ("logistic_regression", "gaussian_nb"):
            a, b = (train_with_tracking(f, "embedding", "y", name, zoo[name])[1]
                    for f in (shared, inline))
            assert [a[k] for k in cells] == [b[k] for k in cells], name
