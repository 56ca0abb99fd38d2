"""LLM training-data curation pipeline (north star, BASELINE.json):
the composite every pretraining corpus goes through, as one
DataFrame→DataFrame function —

    language filter → quality filter → exact dedup → near dedup →
    token-budget annotation → (optionally) sharded partitioned write.

Each stage is one of the engine's operators; the pipeline adds the
composition order that matters at scale: cheap row-local filters FIRST
(scan-time, pushed down), exact dedup second (one shuffle on md5),
expensive pairwise near-dedup LAST on the already-shrunk survivor set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from team_02_spark.functions.text import lang_id, quality_score, token_count
from team_02_spark.operators.dedup import near_dedup_minhash


def curate(docs: DataFrame, *, languages: tuple[str, ...] = ("en",),
           min_quality: float = 0.3, min_tokens: int = 5,
           near_dedup: bool = True, dedup_threshold: float = 0.8,
           id_col: str = "doc_id", text_col: str = "text",
           use_lang_pred: bool = True) -> DataFrame:
    """Curation composite. Returns survivors with the audit columns
    (lang_pred, quality, n_tokens) kept — a curation run you can't
    audit is a curation run you can't debug."""
    annotated = docs.withColumn("lang_pred", lang_id(F.col(text_col))).withColumn(
        "quality", quality_score(F.col(text_col))
    ).withColumn("n_tokens", token_count(F.col(text_col)))
    lang_ok = F.col("lang").isin(*languages)
    if use_lang_pred:  # accept either the tag or the detector
        lang_ok = lang_ok | F.col("lang_pred").isin(*languages)
    filtered = annotated.filter(
        lang_ok
        & (F.col("quality") >= min_quality)
        & (F.col("n_tokens") >= min_tokens)
    )
    # exact dedup: one survivor per distinct text (min id)
    from pyspark.sql import Window

    w = Window.partitionBy(F.md5(F.col(text_col))).orderBy(id_col)
    exact = (
        filtered.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    if near_dedup:
        survivors = near_dedup_minhash(
            exact, id_col=id_col, text_col=text_col, threshold=dedup_threshold
        )
    else:
        survivors = exact
    return survivors
