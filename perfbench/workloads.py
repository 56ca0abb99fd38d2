"""The two benchmark workloads.

Each workload builds its inputs from the seed (``prepare``, before the
engine is imported), then exposes the steps of one pass. A step is one
call into an engine layer. Its ``check`` runs after the pass, outside
the timing, and turns the step's output into a problem string (or
``None``). ``after_pass`` reaps what a pass left; ``final_checks`` runs
the once-per-process checks; ``probes`` are traced-only calls, checked
like steps: isolated calls for layers that otherwise run lazily inside
another layer's jobs, and the layers left out of the timed pass.
"""

from __future__ import annotations

import glob
import os
import shutil
from collections.abc import Callable
from dataclasses import dataclass

import gen


@dataclass
class Step:
    name: str
    layer: str
    run: Callable[[], object]
    check: Callable[[object], str | None] | None = None
    lazy: bool = False  # only builds a plan; its Spark jobs run in later steps


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _data_files(root: str) -> tuple[int, int]:
    """Data files and bytes under ``root`` (Spark/Hadoop marker, checksum
    and hidden files excluded)."""
    n = size = 0
    for d, _, fs in os.walk(root):
        for f in fs:
            if not f.startswith((".", "_")):
                n += 1
                size += os.path.getsize(os.path.join(d, f))
    return n, size


class Workload:
    """Passes of steps over seeded inputs. The run makes one untimed
    warm-up pass, then repeats timed passes until its window has
    elapsed."""

    name = ""

    def __init__(self, work: str, seed: int):
        self.work, self.seed = work, seed
        self.input_rows = 0
        self.input_bytes = 0
        self.sink_input_bytes = 0  # bytes of the input the sinks rewrite
        self.digest = ""

    def prepare(self) -> None:
        raise NotImplementedError

    def bind(self, spark) -> None:
        self.spark = spark

    def steps(self) -> list[Step]:
        raise NotImplementedError

    def probes(self) -> list[Step]:
        return []

    def after_pass(self) -> dict[str, int]:
        """Sink files and bytes the pass left, counted on disk; then
        removes every output, so each pass starts from the same state."""
        return {}

    def final_checks(self) -> list[tuple[str, str]]:
        return []


class RegistryWorkload(Workload):
    """Registry keys over the sf0.01 fixture tables, in a fixed order. A
    key's result is persisted while it is written to the
    noop sink, so the check after the pass reads the rows the timed step
    computed instead of running the key again. Keys with an oracle are
    compared with DuckDB once per process; rows-only keys must give the
    same ``dataset_fingerprint`` on every pass, the warm-up pass
    included."""

    keys: dict[str, str] = {}  # key -> layer, run in every pass
    probe_keys: dict[str, str] = {}  # key -> layer, run in traced runs only

    def prepare(self) -> None:
        import pyarrow.parquet as pq

        self.sf = gen.SF_SMALL
        files = [os.path.join(self.sf, f"{t}.parquet") for t in self.tables]
        self.input_rows = sum(pq.read_metadata(f).num_rows for f in files)
        self.input_bytes = sum(os.path.getsize(f) for f in files)
        self.digest = gen.tree_digest(self.sf)[0]
        self.oracle_checked: set[str] = set()
        self.fingerprints: dict[str, list[str]] = {}

    def _df(self, key: str):
        from team_02_spark.queries import QUERIES

        return QUERIES[key].fn(self.spark, self.sf)

    def _run(self, key: str):
        df = self._df(key).persist()
        _noop(df)
        return df

    def _check(self, key: str):
        from team_02_spark.queries import QUERIES
        from team_02_spark.sinks.writers import dataset_fingerprint

        sql = QUERIES[key].oracle

        def check(df):
            try:
                if sql is None:
                    self.fingerprints.setdefault(key, []).append(dataset_fingerprint(df))
                    return None
                if key in self.oracle_checked:
                    return None
                from oracle import compare, duckdb_frame

                self.oracle_checked.add(key)
                return "; ".join(compare(df.toPandas(), duckdb_frame(sql, self.sf))) or None
            finally:
                df.unpersist()
        return check

    def _steps(self, keys: dict[str, str]) -> list[Step]:
        return [Step(k, layer, lambda k=k: self._run(k), self._check(k))
                for k, layer in keys.items()]

    def steps(self) -> list[Step]:
        return self._steps(self.keys)

    def probes(self) -> list[Step]:
        return self._steps(self.probe_keys)

    def final_checks(self) -> list[tuple[str, str]]:
        problems = []
        for key, fps in self.fingerprints.items():
            if len(set(fps)) != 1:
                problems.append((key, f"dataset_fingerprint differs across runs: {fps}"))
        return problems


class SentimentE2E(Workload):
    """The paper's flow as one batch job: CSV scan, exact stratified
    sample, clean/stem + embed, four classifiers, scoring of the whole
    CSV with every fitted model, predictions sink. The engine's other
    two trainers are traced-only probes."""

    name = "sentiment_e2e"
    csv_rows = 2_000
    per_class = 200
    # trainers() leaves LogisticRegression, LinearSVC and the RFF
    # LinearSVC at MLlib's 100 iterations; one pass with them takes
    # about 67 s cold, more than a run can spend. The other three
    # trainers run as the engine configures them.
    max_iter = 10
    # With all six trainers a run (warm-up pass plus one timed pass)
    # takes about 80 s, and up to 95 s on a busy host: more than the run
    # budget allows. The two left out are the engine's additions to
    # MLlib's stock classifiers: its random-Fourier-feature stand-in for
    # the RBF SVC and GBT, which is not in the paper's zoo.
    probe_trainers = ("svc_rbf_rff", "gbt")

    def prepare(self) -> None:
        self.csv = os.path.join(self.work, "tweets.csv")
        self.input_rows = gen.write_sentiment_csv(self.csv, self.seed, self.csv_rows)
        self.digest, self.input_bytes = gen.tree_digest(self.csv)
        self.sink_input_bytes = self.input_bytes
        self.out = os.path.join(self.work, "out")

    def _trainers(self) -> dict:
        from team_02_spark.ml.models import trainers

        zoo = trainers()
        zoo["logistic_regression"].setMaxIter(self.max_iter)
        zoo["linear_svc"].setMaxIter(self.max_iter)
        zoo["svc_rbf_rff"].svc_kwargs["maxIter"] = self.max_iter
        return zoo

    def steps(self) -> list[Step]:
        from pyspark.sql import functions as F

        from team_02_spark import pipeline
        from team_02_spark.sinks.writers import write_predictions
        from team_02_spark.sources import read_sentiment140_csv

        st: dict = {"models": {}}
        pred_dir = os.path.join(self.out, "predictions")

        def prepare():
            st["data"] = pipeline.prepare_training_data(
                self.spark, self.csv, per_class=self.per_class)

        def featurize():
            feats = pipeline.featurize(st["data"])
            st["ready"] = feats.select(
                "id", "embedding",
                F.when(F.col("sentiment") == 4, 1).otherwise(0).cast("int").alias("y"))

        def infer():
            tweets = read_sentiment140_csv(self.spark, self.csv).select("id", "tweet")
            st["scored"] = pipeline.run_inference_pipeline(self.spark, tweets, st["models"])

        steps = [
            Step("prepare_training_data", "operators.relational", prepare,
                 self._check_classes(st), lazy=True),
            Step("featurize", "functions.text", featurize, lazy=True),
        ]
        steps += [self._fit_step(st, name, est) for name, est in self._trainers().items()
                  if name not in self.probe_trainers]
        steps += [
            Step("run_inference_pipeline", "ml.scoring", infer, lazy=True),
            Step("write_predictions", "sinks",
                 lambda: write_predictions(st["scored"], pred_dir),
                 lambda _: self._check_predictions(pred_dir)),
        ]
        self._state = st
        return steps

    def _fit_step(self, st, name, est) -> Step:
        from team_02_spark.ml.models import train_with_tracking

        def fit():
            model, m = train_with_tracking(st["ready"], "embedding", "y", name, est)
            st["models"][name] = model
            return m["tp"] + m["fp"] + m["fn"] + m["tn"]

        def holdout_check(total):
            if "holdout" not in st:  # same split as train_with_tracking
                st["holdout"] = st["ready"].randomSplit([0.8, 0.2], seed=15)[1].count()
            if total != st["holdout"]:
                return f"tp+fp+fn+tn={total} != holdout {st['holdout']}"
            return None

        return Step(f"fit.{name}", "ml.models", fit, holdout_check)

    def _check_classes(self, st):
        def check(_):
            counts = {r["sentiment"]: r["count"]
                      for r in st["data"].groupBy("sentiment").count().collect()}
            if counts != {0: self.per_class, 4: self.per_class}:
                return f"per-class counts {counts} != {self.per_class} each"
            return None
        return check

    def _check_predictions(self, pred_dir):
        from pyspark.sql import functions as F

        preds = self.spark.read.parquet(pred_dir)
        models = [c for c in preds.columns if c not in ("id", "tweet")]
        bad = F.lit(0)
        for c in models:
            bad = bad + F.when(F.col(c).isin(0.0, 1.0), 0).otherwise(1)
        row = preds.agg(F.count("*").alias("n"), F.sum(bad).alias("bad")).first()
        want = len(self._trainers()) - len(self.probe_trainers)
        if len(models) != want:
            return f"{len(models)} prediction columns, want {want}"
        if row["n"] != self.input_rows:
            return f"{row['n']} prediction rows != {self.input_rows} CSV rows"
        if row["bad"]:
            return f"{row['bad']} predictions outside {{0,1}}"
        return None

    def probes(self) -> list[Step]:
        from pyspark.sql import functions as F

        from team_02_spark import pipeline
        from team_02_spark.functions.text import clean_and_stem
        from team_02_spark.ml.embed import hash_embed
        from team_02_spark.sources import read_sentiment140_csv

        st = self._state
        zoo = self._trainers()

        def text():
            st["tokens"] = st["data"].select(
                F.array_join(clean_and_stem(F.col("tweet")), " ").alias("t")).collect()

        def embed():
            local = self.spark.createDataFrame([(r["t"],) for r in st["tokens"]], "t string")
            _noop(local.select(hash_embed(F.col("t"))))

        return [
            Step("probe.read_csv", "sources",
                 lambda: _noop(read_sentiment140_csv(self.spark, self.csv))),
            Step("probe.stratified_sample", "operators.relational",
                 lambda: _noop(pipeline.prepare_training_data(
                     self.spark, self.csv, per_class=self.per_class))),
            Step("probe.clean_and_stem", "functions.text", text),
            Step("probe.hash_embed", "ml.embed", embed),
            Step("probe.score", "ml.scoring", lambda: _noop(st["scored"])),
        ] + [self._fit_step(st, name, zoo[name]) for name in self.probe_trainers]

    def after_pass(self) -> dict[str, int]:
        files, size = _data_files(self.out)
        shutil.rmtree(self.out, ignore_errors=True)
        return {"files": files, "bytes": size}


DOC_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"


class LlmSqlIngest(RegistryWorkload):
    """Everything but the paper's flow, one registry key per layer. The
    timed pass holds the LLM-data lanes (Arrow/pandas_udf and dense
    kernels behind ``ensure_parallelism``) and the JVM-only relational
    and window lanes. The graph lane, the bucketed CDC stream and the
    write path (JSONL export and schema'd re-read, hash-sharded training
    layout, write-audit-publish, compaction, over a corpus of sf0.1
    documents under fresh ids) run as traced-only probes: with them a
    warmed-up run no longer fits the run budget. Every output and
    catalog table is removed after a pass and after the probes."""

    name = "llm_sql_ingest"
    corpus_docs = 2_000
    tables = ("documents", "embeddings", "customer", "orders", "lineitem")
    keys = {
        "q_clean_stem": "functions.text",
        "q_embed": "ml.embed",
        "q_dedup_ngram": "operators.dedup",
        "q_decontaminate_bloom": "operators.contamination",
        "q_kmeans_adaptive": "operators.clustering",
        "q_knn_topk": "operators.similarity",
        "q_join_multi": "queries.relational",
        "q_window_running": "queries.windows",
    }
    probe_keys = {
        "q_triangles": "queries.graph",
        "q_cdc_stream_bucketed": "streaming",
    }

    def prepare(self) -> None:
        super().prepare()
        self.corpus = os.path.join(self.work, "corpus")
        self.out = os.path.join(self.work, "out")
        gen.write_corpus(self.corpus, self.seed, self.corpus_docs)
        digest, size = gen.tree_digest(self.corpus)
        self.sink_input_bytes = size
        self.digest = gen.hashlib.sha256((self.digest + digest).encode()).hexdigest()

    def probes(self) -> list[Step]:
        from team_02_spark.sinks.writers import (compact_parquet, dataset_fingerprint,
                                                 publish_audited, read_jsonl, write_jsonl,
                                                 write_training_shards)
        from team_02_spark.sources import load_table

        p = {k: os.path.join(self.out, k) for k in ("jsonl", "shards", "published", "compact")}
        st: dict = {}
        n = self.corpus_docs
        docs = load_table(self.spark, self.corpus, "documents")
        corpus_fp = dataset_fingerprint(docs)

        def audit(df):
            got = df.count()
            return None if got == n else f"staged {got} rows, want {n}"

        def read():
            st["df"] = read_jsonl(self.spark, p["jsonl"], schema=DOC_SCHEMA)
            _noop(st["df"])

        def shards():
            return sum(r["n_docs"] for r in write_training_shards(
                st["df"], p["shards"], n_shards=16).collect())

        def publish():
            st["snap"] = publish_audited(st["df"], p["published"], checks=[audit])

        def fp_check(path):
            def check(_):
                got = dataset_fingerprint(self.spark.read.parquet(path()))
                return None if got == corpus_fp else f"fingerprint of {path()} differs"
            return check

        return super().probes() + [
            Step("write_jsonl", "sinks", lambda: write_jsonl(docs, p["jsonl"])),
            Step("read_jsonl", "sources", read),
            Step("write_training_shards", "sinks", shards,
                 lambda total: None if total == n else f"shard manifest {total} != {n}"),
            Step("publish_audited", "sinks", publish, fp_check(lambda: st["snap"])),
            Step("compact_parquet", "sinks",
                 lambda: compact_parquet(self.spark, st["snap"], out_path=p["compact"]),
                 fp_check(lambda: p["compact"])),
        ]

    def after_pass(self) -> dict[str, int]:
        files, size = _data_files(self.out)
        shutil.rmtree(self.out, ignore_errors=True)
        for row in self.spark.sql("SHOW TABLES").collect():
            if not row["isTemporary"]:
                self.spark.sql(f"DROP TABLE IF EXISTS {row['tableName']}")
        for d in glob.glob(os.path.join(self.work, "tmp", "team02_*")):
            shutil.rmtree(d, ignore_errors=True)
        return {"files": files, "bytes": size}


WORKLOADS = {w.name: w for w in (LlmSqlIngest, SentimentE2E)}
