"""ML-lane declared queries (SURVEY.md §2.8): tokenizer encode,
embedding, multi-model scoring. All rows-only (pandas_udf / composite
ML ops are not ANSI-SQL-expressible) — the driver records row-count +
schema; semantics are pinned by golden/property tests in tests/.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from team_02_spark.ml.embed import hash_embed
from team_02_spark.ml.scoring import score_deterministic
from team_02_spark.ml.tokenize import attention_mask, hash_subword_encode
from team_02_spark.queries.registry import query
from team_02_spark.queries._util import t


@query(
    "q_tokenize",
    # Full ANSI oracle (r9, the q_crossmodal_knn pattern): the
    # stand-in tokenizer is deterministic md5 arithmetic — words =
    # split on the EXPLICIT ASCII class [ \t\n\r\f\v] (empties
    # dropped; ml.tokenize._WS pins the same class Python-side, since
    # str.split()'s Unicode class and RE2's \s disagree on \v/\x85/
    # NBSP — r9 advisor low), greedy 4-char pieces per word, id = 1 +
    # first-4-md5-bytes % (VOCAB-1) via the proven
    # ('0x'||substr(md5,1,8))::BIGINT idiom, flatten in (word, piece)
    # order, truncate at 30, post-pad with 0. Real ids are never 0,
    # so n_real_tokens = LEAST(n_pieces, 30).
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(COALESCE(text, ''),
                                            '[ \\t\\n\\r\\f\\v]+'),
                         w -> w <> '') AS ws
      FROM documents
    ),
    words AS (
      SELECT doc_id, unnest(ws) AS word, unnest(range(1, len(ws) + 1)) AS wi
      FROM toks
    ),
    pieces AS (
      SELECT doc_id, wi,
             unnest(range(0, CAST(ceil(length(word) / 4.0) AS BIGINT))) AS pi,
             word
      FROM words
    ),
    pids AS (
      SELECT doc_id, wi, pi,
             1 + ('0x' || substr(md5(substr(word, CAST(4*pi + 1 AS BIGINT),
                                            4)), 1, 8))::BIGINT
                 % 30521 AS pid
      FROM pieces
    ),
    ordered AS (
      SELECT doc_id, pid,
             ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY wi, pi) AS pos
      FROM pids
    ),
    folded AS (
      SELECT doc_id, list(pid ORDER BY pos) AS ids0,
             CAST(LEAST(MAX(pos), 30) AS INT) AS n_real
      FROM ordered WHERE pos <= 30 GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(30 AS INT) AS seq_len,
           array_to_string(
             list_concat(COALESCE(f.ids0, []),
                         list_transform(
                           range(1, 31 - COALESCE(len(f.ids0), 0)),
                           x -> CAST(0 AS BIGINT))), ',') AS ids_csv,
           COALESCE(f.n_real, 0) AS n_real_tokens
    FROM documents d LEFT JOIN folded f ON d.doc_id = f.doc_id
    """,
)
def q_tokenize(spark, sf_dir):
    """U1 + F9/F8: subword-encode to 30 ids (post-padded) + attention
    mask, the reference's encode→pad→mask chain (src/main.py:79-81) as
    one Arrow-batched stage. Arrays exit as scalars/joined strings.
    Since r9 the whole chain is pinned by a full DuckDB oracle (the
    stand-in's md5 piece ids are exactly recomputable SQL-side)."""
    docs = t(spark, sf_dir, "documents")
    ids = hash_subword_encode(F.col("text"))
    out = docs.select("doc_id", ids.alias("ids"))
    return out.select(
        "doc_id",
        F.size("ids").cast("int").alias("seq_len"),
        F.array_join(F.col("ids").cast("array<string>"), ",").alias("ids_csv"),
        F.aggregate(attention_mask(F.col("ids")), F.lit(0), lambda a, x: a + x)
        .cast("int").alias("n_real_tokens"),
    )


@query("q_embed")  # rows-only: pandas_udf embedder
def q_embed(spark, sf_dir):
    """U2: deterministic hash-projection document embedding (64-d,
    unit-norm) — the engine's DistilBERT stand-in with identical
    plumbing (iterator pandas_udf, Arrow batches)."""
    docs = t(spark, sf_dir, "documents")
    emb = hash_embed(F.col("text"))
    return docs.select(
        "doc_id",
        F.size(emb).cast("int").alias("dim"),
        F.round(
            F.aggregate(emb, F.lit(0.0), lambda a, x: a + x.cast("double") * x.cast("double")),
            4,
        ).alias("sq_norm"),
    )


# r12 (r11 verdict #7): "svc_rbf_rff" joins the scored zoo so the
# reference's RBF intent (sklearn SVC(kernel='rbf'), src/main.py:101-
# 104 — approximated by ml.models.RFFLinearSVC) is exercised in the
# U9 column-per-model pass end-to-end, not just unit-tested; the
# oracle extends automatically (it is generated from this list).
_SCORE_MODELS = ["random_forest", "logistic_regression", "linear_svc",
                 "svc_rbf_rff", "knn", "gaussian_nb"]


def _score_sql(name: str) -> str:
    return (
        "CASE WHEN substr(md5(CAST(doc_id AS VARCHAR) || '|" + name + "'), 1, 1)"
        " IN ('0','2','4','6','8','a','c','e') THEN 0 ELSE 1 END AS " + name
    )


@query(
    "q_score_multi",
    oracle="SELECT doc_id, "
    + ", ".join(_score_sql(m) for m in _SCORE_MODELS)
    + " FROM documents",
)
def q_score_multi(spark, sf_dir):
    """U9: one prediction column per model in a single pass (the
    reference's per-row/per-model loop, src/main.py:151-157, spec form
    per SURVEY §2.10.2). Deterministic md5-parity stand-in models —
    exact predictions oracle-checked."""
    docs = t(spark, sf_dir, "documents")
    return score_deterministic(docs.select("doc_id"), "doc_id", _SCORE_MODELS)


@query("q_bpe_encode")  # rows-only: learned merges are corpus-statistical
def q_bpe_encode(spark, sf_dir):
    """U1 scale-side: TRAIN a BPE tokenizer on the corpus (8 merges —
    the fixture vocabulary is tiny) then encode with it. The corpus is
    touched once for word counts; merge iterations run on the
    vocab-sized word table only."""
    from team_02_spark.ml.bpe import apply_bpe, train_bpe

    docs = t(spark, sf_dir, "documents")
    merges = train_bpe(docs, n_merges=8)
    return docs.select(
        "doc_id",
        F.size(apply_bpe(merges, F.col("text"))).cast("int").alias("n_subwords"),
    )


@query(
    "q_stratified_kfold",
    oracle="""
    WITH folded AS (
        SELECT lang,
               CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                    ::UBIGINT % 5 AS INT) AS fold
        FROM documents
    )
    SELECT lang, fold, COUNT(*) AS n_docs
    FROM folded GROUP BY lang, fold
    """,
)
def q_stratified_kfold(spark, sf_dir):
    """Deterministic stratified k-fold assignment for train/eval
    splits: fold = md5(doc_id) prefix mod k — repartition-stable,
    engine-portable (never engine hash()/rand(), FIXTURES.md §C), and
    uniform within every language stratum. Returns the stratum x fold
    contingency table that a pipeline would assert balance on. Scale:
    the only shuffle is the tiny (lang, fold) aggregate; assignment
    itself is a stateless map."""
    docs = t(spark, sf_dir, "documents")
    fold = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long") % 5
    ).cast("int")
    return (
        docs.select("lang", fold.alias("fold"))
        .groupBy("lang", "fold")
        .agg(F.count("*").alias("n_docs"))
    )


@query(
    "q_cv_agreement",
    oracle="""
    WITH scored AS (
        SELECT CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                    ::UBIGINT % 5 AS INT) AS fold,
               CASE WHEN substr(md5(CAST(doc_id AS VARCHAR) || '|random_forest'), 1, 1)
                    IN ('0','2','4','6','8','a','c','e') THEN 0 ELSE 1 END AS m_rf,
               CASE WHEN substr(md5(CAST(doc_id AS VARCHAR) || '|logistic_regression'), 1, 1)
                    IN ('0','2','4','6','8','a','c','e') THEN 0 ELSE 1 END AS m_lr,
               CASE WHEN substr(md5(CAST(doc_id AS VARCHAR) || '|knn'), 1, 1)
                    IN ('0','2','4','6','8','a','c','e') THEN 0 ELSE 1 END AS m_knn
        FROM documents
    )
    SELECT fold,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN m_rf = m_lr THEN 1 ELSE 0 END) AS BIGINT)
               AS n_agree,
           ROUND(CAST(SUM(CASE WHEN m_rf = m_lr THEN 1 ELSE 0 END) AS DOUBLE)
               / COUNT(*), 6) AS agree_rate,
           CAST(SUM(CASE WHEN m_rf + m_lr + m_knn >= 2 THEN 1 ELSE 0 END)
               AS BIGINT) AS n_ensemble_pos
    FROM scored GROUP BY fold
    """,
)
def q_cv_agreement(spark, sf_dir):
    """Cross-validated model-agreement report: per fold (the
    q_stratified_kfold assignment), the pairwise agreement of two
    scorers and the 3-model majority vote — the eval sheet a
    multi-model scoring run (U9) publishes. Scoring is the same
    deterministic md5-parity stand-in as q_score_multi, so exact
    counts are oracle-checkable; one map-side scoring pass, one tiny
    fold aggregate. BIGINT-cast sums + ROUND(rate, 6) both sides
    (q_funnel precedent — DuckDB SUM(CASE) is HUGEINT, raw double
    division is hasher-hostile)."""
    docs = t(spark, sf_dir, "documents").select("doc_id")
    scored = score_deterministic(
        docs, "doc_id", ["random_forest", "logistic_regression", "knn"]
    )
    fold = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long") % 5
    ).cast("int")
    agree = F.sum(
        F.when(F.col("random_forest") == F.col("logistic_regression"), 1)
        .otherwise(0)
    )
    return (
        scored.withColumn("fold", fold)
        .groupBy("fold")
        .agg(
            F.count("*").alias("n_docs"),
            agree.cast("bigint").alias("n_agree"),
            F.round(agree.cast("double") / F.count("*"), 6).alias("agree_rate"),
            F.sum(
                F.when(
                    F.col("random_forest")
                    + F.col("logistic_regression")
                    + F.col("knn")
                    >= 2,
                    1,
                ).otherwise(0)
            ).cast("bigint").alias("n_ensemble_pos"),
        )
    )
