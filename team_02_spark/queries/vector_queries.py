"""Vector/similarity-search queries over `embeddings` (SURVEY.md §2.4
J5, north-star "similarity search").

q_knn_topk is the exact, oracle-checked baseline (5 probe vectors vs
the whole corpus); q_knn_lsh is the 100 TB path (hyperplane-bucketed,
multi-probe) — probabilistic recall → rows-only. q_crossmodal_knn
retrieves across modalities through the shared fake-codec feature
space. Cosines are computed
in double on both sides (see functions/vectors.dot) and rounded to 6dp
before ranking so rank order can't flip on last-ulp noise.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from team_02_spark.functions.vectors import cosine, l2_norm
from team_02_spark.operators.dedup import near_dedup_embedding
from team_02_spark.operators.similarity import knn_classify, knn_lsh
from team_02_spark.queries.registry import query
from team_02_spark.queries._util import t
from team_02_spark.util import ensure_parallelism, shared_pass

# Cosine in portable SQL: unnest both fixed-length lists positionally,
# accumulate in double. DuckDB's generate_subscripts/list arithmetic:
# we use list_transform over an index range — identical sequential
# double accumulation to Spark's aggregate().
COS_SQL = """
    list_sum(list_transform(range(1, 65),
        i -> CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)))
    / (SQRT(list_sum(list_transform(range(1, 65),
        i -> CAST(q.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE))))
     * SQRT(list_sum(list_transform(range(1, 65),
        i -> CAST(c.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)))))
"""


@query(
    "q_knn_topk",
    oracle=f"""
    WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 5),
    scored AS (
        SELECT q.vec_id AS q_id, c.vec_id AS c_id,
               ROUND({COS_SQL}, 6) AS score
        FROM embeddings c, q
        WHERE c.vec_id <> q.vec_id
    )
    SELECT q_id, c_id, score, rnk FROM (
        SELECT q_id, c_id, score,
               CAST(ROW_NUMBER() OVER (PARTITION BY q_id
                                       ORDER BY score DESC, c_id) AS INT) AS rnk
        FROM scored
    ) r WHERE rnk <= 10
    """,
)
def q_knn_topk(spark, sf_dir):
    """J5 baseline: exact cosine top-10 for 5 probe vectors. The probe
    set is broadcast; the corpus streams map-side; one window per probe
    keeps k."""
    emb = t(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    scored = (
        ensure_parallelism(emb).join(F.broadcast(probes), F.col("vec_id") != F.col("q_id"))
        .withColumn("score", F.round(cosine(F.col("q_vec"), F.col("embedding")), 6))
    )
    # r13: partial-rank cut before the per-probe window (exact — the
    # global top-10 by (score desc, vec_id) survives every
    # per-partition top-10 cut), so the full corpus never funnels into
    # one sort task per probe. Oracle hash unchanged.
    from team_02_spark.operators.similarity import partial_topk

    scored = partial_topk(scored, "q_id", 10,
                          F.desc("score"), F.col("vec_id"))
    w = Window.partitionBy("q_id").orderBy(F.desc("score"), F.col("vec_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= 10)
        .select("q_id", F.col("vec_id").alias("c_id"), "score", "rnk")
    )


@query("q_knn_lsh")  # rows-only: LSH bucket recall is probabilistic
def q_knn_lsh(spark, sf_dir):
    """J5 scale path: random-hyperplane LSH (8 planes, multi-probe)
    prunes the corpus per probe; exact cosine re-ranks candidates."""
    emb = t(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    return knn_lsh(probes, emb, 10, dim=64)


@query(
    "q_knn_classify",
    oracle=f"""
    WITH q AS (SELECT vec_id AS q_id, embedding FROM embeddings
               WHERE vec_id < 20),
    c AS (SELECT vec_id, embedding, label FROM embeddings
          WHERE vec_id >= 20),
    scored AS (
        SELECT q.q_id, c.vec_id AS c_id, ROUND({COS_SQL}, 6) AS score
        FROM c, q
    ),
    top5 AS (
        SELECT q_id, c_id FROM (
            SELECT q_id, c_id,
                   ROW_NUMBER() OVER (PARTITION BY q_id
                                      ORDER BY score DESC, c_id) AS rnk
            FROM scored
        ) r WHERE rnk <= 5
    ),
    votes AS (
        SELECT t.q_id, c.label, COUNT(*) AS votes
        FROM top5 t JOIN c ON t.c_id = c.vec_id
        GROUP BY t.q_id, c.label
    )
    SELECT q_id, label AS prediction FROM (
        SELECT q_id, label,
               ROW_NUMBER() OVER (PARTITION BY q_id
                                  ORDER BY votes DESC, label) AS r
        FROM votes
    ) v WHERE r = 1
    """,
)
def q_knn_classify(spark, sf_dir):
    """U6: KNN classifier (k=5, majority vote) — the engine's
    distributed stand-in for the reference's KNeighborsClassifier
    (reference src/main.py:106-109). Oracle-checked (was rows-only):
    the neighbor ranking rounds cosine to 6dp with an id tiebreak and
    the vote breaks ties toward the smaller label, so every step is
    engine-portable."""
    emb = t(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    corpus = emb.filter(F.col("vec_id") >= 20)
    return knn_classify(probes, corpus, k=5, round_decimals=6)


@query(
    "q_vector_norms",
    oracle="""
    SELECT vec_id,
           ROUND(SQRT(list_sum(list_transform(embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 6) AS l2,
           ROUND(list_sum(list_transform(embedding,
                 x -> CAST(x AS DOUBLE))), 6) AS comp_sum,
           CAST(len(embedding) AS INT) AS dim
    FROM embeddings
    """,
)
def q_vector_norms(spark, sf_dir):
    """Vector scalar ops: L2 norm, component sum, dimensionality —
    JVM higher-order functions, no UDF."""
    emb = t(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id",
        F.round(l2_norm(F.col("embedding")), 6).alias("l2"),
        F.round(
            F.aggregate(
                F.col("embedding"), F.lit(0.0), lambda acc, x: acc + x.cast("double")
            ),
            6,
        ).alias("comp_sum"),
        F.size("embedding").cast("int").alias("dim"),
    )


@query(
    "q_dedup_embedding",
    oracle="""
    WITH losers AS (
        SELECT DISTINCT b.vec_id
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        WHERE list_sum(list_transform(range(1, 65),
                  i -> CAST(a.embedding[i] AS DOUBLE)
                     * CAST(b.embedding[i] AS DOUBLE)))
              / (SQRT(list_sum(list_transform(range(1, 65),
                    i -> CAST(a.embedding[i] AS DOUBLE)
                       * CAST(a.embedding[i] AS DOUBLE))))
               * SQRT(list_sum(list_transform(range(1, 65),
                    i -> CAST(b.embedding[i] AS DOUBLE)
                       * CAST(b.embedding[i] AS DOUBLE)))))
              >= 0.95
    )
    SELECT e.vec_id FROM embeddings e
    WHERE e.vec_id NOT IN (SELECT vec_id FROM losers)
    """,
)
def q_dedup_embedding(spark, sf_dir):
    """M4 embedding form: cosine ≥ 0.95 near-dup removal via
    random-hyperplane buckets + exact verify, keep-first.

    Oracle-checked against the exact all-pairs threshold dedup (was
    rows-only): candidates are verified with an exact cosine, so the
    survivor set equals the exact answer whenever LSH recall is
    complete — and the fixtures have NO pair in [0.90, 0.999), so the
    threshold boundary cannot flip between the numpy dot (Spark side)
    and DuckDB's list arithmetic. The oracle's quadratic self-join is
    oracle-side only (sf<=0.1, seconds in DuckDB); the engine path
    stays bucketed."""
    emb = t(spark, sf_dir, "embeddings")
    return near_dedup_embedding(emb.select("vec_id", "embedding")).select("vec_id")


@query(
    "q_embed_centroid",
    oracle="""
    SELECT e.label,
           CAST(i.i - 1 AS INT) AS dim,
           CAST(SUM(CAST(CAST(e.embedding[CAST(i.i AS INT)] AS DOUBLE)
                         AS DECIMAL(18,4))) AS DOUBLE)
           / COUNT(*) AS centroid
    FROM embeddings e, range(1, 65) i(i)
    GROUP BY e.label, dim
    """,
)
def q_embed_centroid(spark, sf_dir):
    """Per-class centroid of the embedding column, in long form
    (label, dim, mean) — the building block of IVF training and
    class-prototype dedup. posexplode keeps everything JVM-side; the
    shuffle key (label, dim) has cardinality |classes| x dim, so the
    aggregate is map-side-combined and tiny. Element sums go through
    DECIMAL(18,4) for order-independence (FIXTURES.md §C)."""
    emb = t(spark, sf_dir, "embeddings")
    ex = emb.select(
        "label", F.posexplode("embedding").alias("dim", "val")
    ).select("label", F.col("dim").cast("int").alias("dim"), "val")
    return ex.groupBy("label", "dim").agg(
        (
            F.sum(F.col("val").cast("double").cast("decimal(18,4)")).cast("double")
            / F.count("*")
        ).alias("centroid")
    )


@query(
    "q_vector_quantize",
    oracle="""
    WITH vd AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
               CAST(list_min(list_transform(embedding,
                    x -> CAST(x AS DOUBLE))) AS DOUBLE) AS vmin,
               CAST(list_max(list_transform(embedding,
                    x -> CAST(x AS DOUBLE))) AS DOUBLE) AS vmax
        FROM embeddings
    ),
    scaled AS (
        SELECT vec_id, v, vmin, (vmax - vmin) / 255.0 AS scale FROM vd
    ),
    coded AS (
        SELECT vec_id, v, vmin, scale,
               list_transform(v, x -> CASE WHEN scale = 0 THEN 0
                    ELSE CAST(floor((x - vmin) / scale + 0.5) AS BIGINT)
                    END) AS codes
        FROM scaled
    )
    SELECT vec_id,
           CAST(list_sum(codes) AS BIGINT) AS code_sum,
           list_sum(list_transform(range(1, 65), i ->
               (v[CAST(i AS INT)] - (vmin + codes[CAST(i AS INT)] * scale))
             * (v[CAST(i AS INT)] - (vmin + codes[CAST(i AS INT)] * scale))))
           / 64.0 AS mse
    FROM coded
    """,
)
def q_vector_quantize(spark, sf_dir):
    """Int8-style scalar quantization of each embedding (per-vector
    min/max affine grid, 256 levels) with exact reconstruction-error
    accounting: code_sum is the integer checksum of the code vector,
    mse the mean squared dequantization error. All higher-order JVM
    functions — at 100 TB this is the compression pass before ANN
    index build, and it never leaves whole-stage codegen. Rounding is
    floor(x + 0.5) on both sides (engine round() half-mode differs);
    squares are written as x*x (libm pow differs in the last ulp)."""
    emb = t(spark, sf_dir, "embeddings")
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    df = emb.select(
        "vec_id",
        v.alias("v"),
        F.array_min(v).alias("vmin"),
        ((F.array_max(v) - F.array_min(v)) / F.lit(255.0)).alias("scale"),
    )
    codes = F.transform(
        F.col("v"),
        lambda x: F.when(F.col("scale") == 0, F.lit(0).cast("long")).otherwise(
            F.floor((x - F.col("vmin")) / F.col("scale") + F.lit(0.5))
        ),
    )
    df = df.withColumn("codes", codes)
    sqerr = F.zip_with(
        F.col("v"),
        F.col("codes"),
        lambda x, c: (x - (F.col("vmin") + c * F.col("scale")))
        * (x - (F.col("vmin") + c * F.col("scale"))),
    )
    return df.select(
        "vec_id",
        F.aggregate(
            F.col("codes"), F.lit(0).cast("long"), lambda a, x: a + x
        ).alias("code_sum"),
        (
            F.aggregate(sqerr, F.lit(0.0), lambda a, x: a + x) / F.lit(64.0)
        ).alias("mse"),
    )


@query("q_knn_ivf")  # rows-only: KMeans cell layout is probabilistic recall
def q_knn_ivf(spark, sf_dir):
    """J5 scale path #2: inverted-file ANN — seeded KMeans cells
    partition the corpus, each probe searches its n_probe nearest
    cells, exact cosine re-ranks inside. Recall vs brute force is
    pinned by tests/test_ml.py::test_knn_ivf_recall; at production
    scale the cell id becomes the table partition key so probes are
    partition-pruned reads (see operators/similarity.py:157)."""
    emb = t(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    # r14: single-file fixture scans as 1 partition — parallelize the
    # cell-tag/score stages (no-op on partitioned inputs)
    corpus = ensure_parallelism(emb.filter(F.col("vec_id") >= 5))
    from team_02_spark.operators.similarity import knn_ivf
    return knn_ivf(probes, corpus, k=10, n_cells=8, n_probe=4)


@query(
    "q_retrieval_metrics",
    oracle=f"""
    WITH q AS (SELECT vec_id AS q_id, embedding, label FROM embeddings
               WHERE vec_id < 20),
    c AS (SELECT vec_id, embedding, label FROM embeddings
          WHERE vec_id >= 20),
    scored AS (
        SELECT q.q_id, q.label AS q_label, c.vec_id AS c_id,
               c.label AS c_label, ROUND({COS_SQL}, 6) AS score
        FROM c, q
    ),
    ranked AS (
        SELECT q_id, q_label, c_label,
               ROW_NUMBER() OVER (PARTITION BY q_id
                                  ORDER BY score DESC, c_id) AS rnk
        FROM scored
    ),
    rel_tot AS (
        SELECT q.q_id, COUNT(*) AS n_rel
        FROM q JOIN c ON c.label = q.label
        GROUP BY q.q_id
    ),
    top10 AS (SELECT * FROM ranked WHERE rnk <= 10)
    SELECT t.q_id,
           CAST(SUM(CASE WHEN t.c_label = t.q_label THEN 1 ELSE 0 END)
                AS BIGINT) AS hits_at_10,
           ROUND(CAST(SUM(CASE WHEN t.c_label = t.q_label THEN 1 ELSE 0 END)
                      AS DOUBLE) / LEAST(10, ANY_VALUE(r.n_rel)), 4)
             AS recall_at_10,
           ROUND(COALESCE(MAX(CASE WHEN t.c_label = t.q_label
                                   THEN 1.0 / t.rnk END), 0.0), 4)
             AS mrr_at_10,
           ROUND(SUM(CASE WHEN t.c_label = t.q_label
                          THEN 1.0 / (LN(t.rnk + 1) / LN(2)) ELSE 0 END)
                 / (SELECT SUM(1.0 / (LN(i + 1) / LN(2)))
                    FROM range(1, 11) s(i)
                    WHERE i <= LEAST(10, ANY_VALUE(r.n_rel))), 4)
             AS ndcg_at_10
    FROM top10 t JOIN rel_tot r ON t.q_id = r.q_id
    GROUP BY t.q_id
    """,
)
def q_retrieval_metrics(spark, sf_dir):
    """Retrieval-quality metrics for the vector lane — recall@10,
    MRR@10, NDCG@10 per probe, with "relevant" = same class label as
    the probe (the standard label-as-relevance eval when no judgment
    set exists). This is the measurement half of the ANN lanes: the
    exact ranking scored here is the ground truth the LSH/IVF recall
    tests compare against.

    Ranking is engine-portable (cosine rounded to 6dp, id tiebreak).
    recall's denominator is min(10, |relevant|) (bounded recall);
    NDCG's ideal DCG likewise truncates at min(10, |relevant|).
    log2 comes from the LN family, so all three metrics round to 4dp
    at exit (FIXTURES.md §C). Scale: top-10 per probe is a broadcast
    probe scan + per-probe window over <=10 rows; every aggregate is
    probe-cardinality-sized."""
    emb = t(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_vec"),
        F.col("label").alias("q_label"),
    )
    corpus = emb.filter(F.col("vec_id") >= 20)
    scored = corpus.join(F.broadcast(probes)).select(
        "q_id",
        "q_label",
        F.col("vec_id").alias("c_id"),
        F.col("label").alias("c_label"),
        F.round(cosine(F.col("q_vec"), F.col("embedding")), 6).alias("score"),
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("score"), "c_id")
    top10 = scored.withColumn("rnk", F.row_number().over(w)).filter(
        F.col("rnk") <= 10
    )
    rel_tot = (
        corpus.join(F.broadcast(probes), corpus["label"] == probes["q_label"])
        .groupBy("q_id")
        .agg(F.count("*").alias("n_rel"))
    )
    hit = F.col("c_label") == F.col("q_label")
    one_if = lambda c: F.sum(F.when(c, 1).otherwise(0))  # noqa: E731
    denom_k = F.least(F.lit(10), F.any_value("n_rel"))
    # ideal DCG of k hits: sum_{i=1..k} 1/log2(i+1), as a SQL-free
    # column expression over a literal 1..10 array
    idcg = F.aggregate(
        F.filter(
            F.sequence(F.lit(1), F.lit(10)), lambda i: i <= denom_k
        ),
        F.lit(0.0),
        lambda acc, i: acc
        + F.lit(1.0) / (F.log(i.cast("double") + 1) / F.log(F.lit(2.0))),
    )
    dcg = F.sum(
        F.when(
            hit, F.lit(1.0) / (F.log(F.col("rnk").cast("double") + 1) / F.log(F.lit(2.0)))
        ).otherwise(F.lit(0.0))
    )
    return (
        top10.join(rel_tot, "q_id")
        .groupBy("q_id")
        .agg(
            one_if(hit).cast("bigint").alias("hits_at_10"),
            F.round(one_if(hit).cast("double") / denom_k, 4).alias("recall_at_10"),
            F.round(
                F.coalesce(
                    F.max(F.when(hit, F.lit(1.0) / F.col("rnk"))), F.lit(0.0)
                ),
                4,
            ).alias("mrr_at_10"),
            F.round(dcg / idcg, 4).alias("ndcg_at_10"),
        )
    )


@query("q_pq_search")  # rows-only: KMeans codebooks are impl-specific
def q_pq_search(spark, sf_dir):
    """J5 scale path #3: product-quantization ANN — per-subspace
    KMeans codebooks compress each vector to m=8 small ints (32x vs
    float32 at dim 64), and search scores corpus rows by summing m
    lookup-table entries (asymmetric distance, Jegou et al. 2011)
    without ever decoding. Recall vs brute force is pinned by
    tests/test_ml.py::test_pq_recall; at production scale PQ composes
    with IVF (ivf_build_layout partitions, PQ codes inside each cell)
    so a probe reads only probed cells AND only bytes, not vectors."""
    from team_02_spark.operators.similarity import (
        fit_pq_codebooks,
        pq_encode,
        pq_search_rerank,
    )

    emb = t(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    corpus = emb.filter(F.col("vec_id") >= 5)
    # empty-corpus guard (same contract as knn_ivf): KMeans cannot fit
    # zero rows — return the empty result with the stable schema
    if corpus.select("vec_id").first() is None:
        return probes.select(
            "q_id",
            F.col("q_id").alias("vec_id"),
            F.lit(0.0).alias("score"),
            F.lit(0).alias("rank"),
        ).limit(0)
    books = fit_pq_codebooks(corpus, m=8, n_codes=16)
    encoded = pq_encode(corpus, books).select("vec_id", "pq_codes")
    return pq_search_rerank(probes, encoded, corpus, books, k=10)


@query("q_ivf_pq_serve")  # rows-only: KMeans codebooks/cells are impl-specific
def q_ivf_pq_serve(spark, sf_dir):
    """J5 serving form (r13 verdict #2): IVF-PQ with the index built
    ONCE per corpus and cached under the warehouse — partition-pruned
    codes-only reads of the probed cells, ADC shortlist, exact rerank
    (operators/similarity.ivf_pq_serve). q_pq_search is the
    fit-included census of the same math; THIS key carries the
    production cost profile (fit at ingest, serve from bytes), which
    at 100 TB is the only affordable shape. Recall vs brute force is
    pinned by tests/test_ml.py::test_ivf_pq_serve_caches_and_recalls.

    The cache dir is keyed by corpus identity (embeddings file path +
    size + mtime) and the fit params, so a changed fixture or a
    param change lands in a fresh dir and "rebuilt when missing" is
    the whole invalidation story."""
    import hashlib
    import os

    from team_02_spark.operators.similarity import ivf_pq_serve

    emb = t(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    corpus = emb.filter(F.col("vec_id") >= 5)
    if corpus.select("vec_id").first() is None:  # KMeans can't fit 0 rows
        return probes.select(
            "q_id",
            F.col("q_id").alias("vec_id"),
            F.lit(0.0).alias("score"),
            F.lit(0).alias("rank"),
        ).limit(0)
    # ONE params dict feeds both the cache key and the serve call, so
    # a param edit cannot miss the key (r14 review); ivf_pq_serve
    # additionally validates the loaded meta against these.
    params = {"n_cells": 8, "m": 8, "n_codes": 16, "seed": 42}
    src = os.path.join(sf_dir, "embeddings.parquet")
    # stat failure is LOUD, not a weaker key: a key without size+mtime
    # would silently serve a stale index after an in-place regenerate
    st = os.stat(src)
    sig = (f"{os.path.abspath(src)}:{st.st_size}:{st.st_mtime_ns}"
           f":corpus=v>=5:{sorted(params.items())}")
    warehouse = spark.conf.get(
        "spark.sql.warehouse.dir", "spark-warehouse").removeprefix("file:")
    cache_dir = os.path.join(
        warehouse, "ivfpq_serve_" + hashlib.md5(sig.encode()).hexdigest()[:12])
    return ivf_pq_serve(spark, corpus, cache_dir, probes, k=10,
                        n_probe=4, **params)


# ----------------------------------------------------- MMR (round 4)

def _mmr_oracle(k: int = 5, shortlist_n: int = 20) -> str:
    """Unrolled greedy MMR as plain CTEs (no engine-specific
    recursion): step s joins the pairwise-sim table against the chosen
    set, windows on the exact-double MMR score of the 6dp-rounded
    inputs, and appends the winner. lam/pen weights enter as CAST
    DOUBLE literals — see operators.similarity.mmr_diversify for the
    1-lam floating-point trap."""
    steps = []
    for s in range(2, k + 1):
        steps.append(f"""
    pen{s} AS (
        SELECT p.q_id, p.a AS c_id, MAX(p.sim) AS pen
        FROM pairs p JOIN chosen{s - 1} ch
          ON p.q_id = ch.q_id AND p.b = ch.c_id
        GROUP BY p.q_id, p.a
    ),
    sel{s} AS (
        SELECT q_id, c_id, rel, {s} AS sel_rank FROM (
            SELECT sh.q_id, sh.c_id, sh.rel,
                   ROW_NUMBER() OVER (PARTITION BY sh.q_id
                       ORDER BY CAST(0.7 AS DOUBLE) * sh.rel
                              - CAST(0.3 AS DOUBLE) * pn.pen DESC,
                                sh.c_id) AS r
            FROM short sh
            JOIN pen{s} pn ON sh.q_id = pn.q_id AND sh.c_id = pn.c_id
            WHERE NOT EXISTS (SELECT 1 FROM chosen{s - 1} c2
                              WHERE c2.q_id = sh.q_id AND c2.c_id = sh.c_id)
        ) z WHERE r = 1
    ),
    chosen{s} AS (
        SELECT q_id, c_id FROM chosen{s - 1}
        UNION ALL SELECT q_id, c_id FROM sel{s}
    )""")
    union = "\n    UNION ALL ".join(f"SELECT * FROM sel{s}" for s in range(1, k + 1))
    return f"""
    WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 5),
    scored AS (
        SELECT q.vec_id AS q_id, c.vec_id AS c_id,
               ROUND({COS_SQL}, 6) AS rel
        FROM embeddings c, q
        WHERE c.vec_id <> q.vec_id
    ),
    short AS (
        SELECT q_id, c_id, rel FROM (
            SELECT q_id, c_id, rel,
                   ROW_NUMBER() OVER (PARTITION BY q_id
                                      ORDER BY rel DESC, c_id) AS rnk
            FROM scored) s
        WHERE rnk <= {shortlist_n}
    ),
    pairs AS (
        SELECT s1.q_id, s1.c_id AS a, s2.c_id AS b,
               ROUND({COS_SQL}, 6) AS sim
        FROM short s1
        JOIN short s2 ON s1.q_id = s2.q_id AND s1.c_id <> s2.c_id
        JOIN embeddings q ON q.vec_id = s1.c_id
        JOIN embeddings c ON c.vec_id = s2.c_id
    ),
    sel1 AS (
        SELECT q_id, c_id, rel, 1 AS sel_rank FROM (
            SELECT q_id, c_id, rel,
                   ROW_NUMBER() OVER (PARTITION BY q_id
                                      ORDER BY rel DESC, c_id) AS r
            FROM short) s WHERE r = 1
    ),
    chosen1 AS (SELECT q_id, c_id FROM sel1),
    {",".join(steps)}
    SELECT q_id, c_id, rel, CAST(sel_rank AS INT) AS sel_rank
    FROM ({union}) u
    """


@query("q_mmr_diverse", oracle=_mmr_oracle())
def q_mmr_diverse(spark, sf_dir):
    """Diversity re-ranking for retrieval / training-data selection:
    greedy Maximal Marginal Relevance (lam=0.7) picks 5 of each
    query's top-20 cosine candidates, trading relevance against
    redundancy with the already-picked set. The corpus-wide work is
    the broadcast top-N scoring; the greedy loop runs per-query over
    the 20-row shortlist inside applyInPandas (never on the driver),
    on 6dp-rounded JVM cosines so the unrolled-CTE DuckDB twin picks
    identically."""
    from team_02_spark.operators.similarity import mmr_diversify

    emb = t(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    return mmr_diversify(probes, emb, k=5, shortlist_n=20,
                         lam=0.7, pen_weight=0.3)


@query(
    "q_embedding_drift",
    oracle="""
    WITH tagged AS (
        SELECT label,
               CASE WHEN vec_id % 2 = 0 THEN 'a' ELSE 'b' END AS snap,
               embedding
        FROM embeddings
    ),
    cent AS (
        SELECT label, snap, i.i - 1 AS dim,
               CAST(SUM(CAST(CAST(embedding[CAST(i.i AS INT)] AS DOUBLE)
                             AS DECIMAL(18,4))) AS DOUBLE)
               / COUNT(*) AS c
        FROM tagged, range(1, 65) i(i)
        GROUP BY label, snap, dim
    ),
    ab AS (
        SELECT a.label, a.dim, a.c AS ca, b.c AS cb
        FROM cent a JOIN cent b
          ON a.label = b.label AND a.dim = b.dim
        WHERE a.snap = 'a' AND b.snap = 'b'
    ),
    dots AS (
        SELECT label, SUM(ca * cb) AS num,
               SUM(ca * ca) AS na, SUM(cb * cb) AS nb,
               CAST(COUNT(*) AS BIGINT) AS dims
        FROM ab GROUP BY label
    )
    SELECT label, dims,
           ROUND(num / (SQRT(na) * SQRT(nb)), 4) AS centroid_cosine,
           ROUND(1.0 - num / (SQRT(na) * SQRT(nb)), 4) AS drift
    FROM dots
    """,
)
def q_embedding_drift(spark, sf_dir):
    """Embedding-space drift between two corpus snapshots: split the
    vectors deterministically (vec_id parity — stand-in for
    time-window snapshots), compute each label's per-snapshot centroid
    (the q_embed_centroid pass, decimal-exact element means), and
    report per-label centroid cosine / drift — the gate that catches a
    re-embedded or shifted corpus before an index rebuild. All heavy
    work is the two map-side-combined centroid aggregates over
    (label, snap, dim) keys; the cosine runs on |labels|x64 rows. 4dp
    rounding absorbs the 64-term double-sum ulp (order differs across
    engines only past ~1e-14 relative)."""
    emb = t(spark, sf_dir, "embeddings")
    tagged = emb.select(
        "label",
        F.when(F.col("vec_id") % 2 == 0, "a").otherwise("b").alias("snap"),
        F.posexplode("embedding").alias("dim", "val"),
    )
    cent = tagged.groupBy("label", "snap", "dim").agg(
        (
            F.sum(F.col("val").cast("double").cast("decimal(18,4)"))
            .cast("double") / F.count("*")
        ).alias("c")
    )
    a = cent.filter(F.col("snap") == "a").select(
        "label", "dim", F.col("c").alias("ca")
    )
    b = cent.filter(F.col("snap") == "b").select(
        "label", "dim", F.col("c").alias("cb")
    )
    dots = a.join(b, ["label", "dim"]).groupBy("label").agg(
        F.sum(F.col("ca") * F.col("cb")).alias("num"),
        F.sum(F.col("ca") * F.col("ca")).alias("na"),
        F.sum(F.col("cb") * F.col("cb")).alias("nb"),
        F.count("*").cast("bigint").alias("dims"),
    )
    cos = F.col("num") / (F.sqrt("na") * F.sqrt("nb"))
    return dots.select(
        "label", "dims",
        F.round(cos, 4).alias("centroid_cosine"),
        F.round(F.lit(1.0) - cos, 4).alias("drift"),
    )


# Lloyd k-means, 2 unrolled iterations, in EXACT fixed-point integer
# arithmetic (operators/clustering.py module docstring carries the
# cross-engine exactness argument: one deterministic FLOOR(double*1e4)
# quantization, then BIGINT distances/sums and a single IEEE divide
# per centroid component — no reassociation can flip an argmin, so
# the oracle hash-matches the assignment, not just its shape).
# The CTE chain is shared with q_semdedup's oracle, which prunes
# within the SAME clusters. The seed ORDER BY is parametrized (r12):
# "vec_id" = the default first-k-ids seeding; the md5 form = the
# kmeans_assign(seeding="md5_spread") deterministic uniform sample.


def _kmeans_ctes(seed_order: str = "vec_id",
                 target_cluster_size: int | None = None,
                 two_level: bool = False) -> str:
    """The shared k-means CTE chain. Default emits the original
    fixed-k=8 SQL byte-identically; ``target_cluster_size`` switches
    c0 to the adaptive form — k = clamp(ceil(n/target), 1, 65536)
    computed from the same corpus count the Spark side uses
    (operators/clustering.adaptive_k), so the derived k matches at
    ANY scale factor. ``two_level`` (requires target_cluster_size)
    additionally derives the IVF split in the kk CTE — kc = exact
    ceiling sqrt of k (FLOOR(SQRT(k)) corrected by the kc*kc >= k
    case, which lands on math.isqrt's answer in every case — see
    operators/clustering.twolevel_split), kf = (k + kc - 1) // kc —
    and seeds the COARSE chain with kc centroids; the fine chain
    (_kmeans_twolevel_ctes(adaptive=True)) then reads kk.kf."""
    if two_level and target_cluster_size is None:
        # r13 advisor low: without this guard the call would silently
        # fall into the fixed-k=8 branch (no kk CTE) and a composed
        # _kmeans_twolevel_ctes(adaptive=True) oracle would reference
        # the nonexistent kk only at oracle-execution time.
        raise ValueError("_kmeans_ctes: two_level=True requires "
                         "target_cluster_size")
    if target_cluster_size is None:
        c0 = """
    c0 AS (
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY {seed}) - 1 AS INT) AS cid,
               qv AS cv
        FROM (SELECT vec_id, qv FROM q ORDER BY {seed} LIMIT 8)
    ),"""
    elif two_level:
        c0 = """
    kk AS (
        SELECT k, kc, (k + kc - 1) // kc AS kf FROM (
            SELECT k, CASE WHEN f * f >= k THEN f ELSE f + 1 END AS kc
            FROM (
                SELECT k, CAST(FLOOR(SQRT(CAST(k AS DOUBLE))) AS BIGINT) AS f
                FROM (SELECT LEAST(65536, GREATEST(1,
                          CAST((COUNT(*) + {tgt} - 1) // {tgt} AS BIGINT)))
                          AS k
                      FROM q)
            )
        )
    ),
    c0 AS (
        SELECT CAST(rn - 1 AS INT) AS cid, qv AS cv
        FROM (SELECT vec_id, qv,
                     ROW_NUMBER() OVER (ORDER BY {seed}) AS rn
              FROM q)
        CROSS JOIN kk WHERE rn <= kk.kc
    ),""".replace("{tgt}", str(target_cluster_size))
    else:
        c0 = """
    kk AS (
        SELECT LEAST(65536, GREATEST(1,
                   CAST((COUNT(*) + {tgt} - 1) // {tgt} AS BIGINT))) AS k
        FROM q
    ),
    c0 AS (
        SELECT CAST(rn - 1 AS INT) AS cid, qv AS cv
        FROM (SELECT vec_id, qv,
                     ROW_NUMBER() OVER (ORDER BY {seed}) AS rn
              FROM q)
        CROSS JOIN kk WHERE rn <= kk.k
    ),""".replace("{tgt}", str(target_cluster_size))
    return ("""
    WITH q AS (
        SELECT vec_id,
               list_transform(embedding,
                   x -> CAST(FLOOR(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qv
        FROM embeddings
    ),"""
            + c0.replace("{seed}", seed_order) + """
    d1 AS (
        SELECT q.vec_id, c.cid,
               list_sum(list_transform(range(1, 65),
                   i -> (q.qv[i] - c.cv[i]) * (q.qv[i] - c.cv[i]))) AS d
        FROM q CROSS JOIN c0 c
    ),
    a1 AS (
        SELECT vec_id, cid AS cluster FROM (
            SELECT vec_id, cid,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY d, cid) AS rn
            FROM d1
        ) WHERE rn = 1
    ),
    u1 AS (
        SELECT a1.cluster, t.pos, SUM(q.qv[t.pos]) AS s, COUNT(*) AS n
        FROM a1 JOIN q USING (vec_id)
        CROSS JOIN (SELECT UNNEST(range(1, 65)) AS pos) t
        GROUP BY a1.cluster, t.pos
    ),
    c1 AS (
        SELECT cluster AS cid,
               list(CAST(FLOOR(CAST(s AS DOUBLE) / n) AS BIGINT)
                    ORDER BY pos) AS cv
        FROM u1 GROUP BY cluster
    ),
    d2 AS (
        SELECT q.vec_id, c.cid,
               list_sum(list_transform(range(1, 65),
                   i -> (q.qv[i] - c.cv[i]) * (q.qv[i] - c.cv[i]))) AS d
        FROM q CROSS JOIN c1 c
    ),
    asg AS (
        SELECT vec_id, CAST(cid AS INT) AS cluster FROM (
            SELECT vec_id, cid,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY d, cid) AS rn
            FROM d2
        ) WHERE rn = 1
    )
    """)


_KMEANS_CTES = _kmeans_ctes()
_KMEANS_SPREAD_CTES = _kmeans_ctes("md5(CAST(vec_id AS VARCHAR)), vec_id")

_KMEANS_ORACLE = _KMEANS_CTES + """
    SELECT vec_id, cluster FROM asg
    """


@query("q_kmeans", oracle=_KMEANS_ORACLE)
def q_kmeans(spark, sf_dir):
    """Distributed k-means (k=8, 2 Lloyd iterations) over the
    embedding corpus — the SemDeDup-style semantic-bucketing
    primitive (cluster, then prune/mix/balance per bucket). Per
    iteration: a MAP-SIDE argmin over the broadcast centroid array
    for assignment (r15 — zero corpus shuffles) + one integer-sum
    shuffle for the update; no driver collect; empty
    clusters drop (plain Lloyd). Deterministic seeding (k smallest
    vec_ids) so the DuckDB twin reproduces the exact assignment."""
    from team_02_spark.operators.clustering import kmeans_assign

    emb = ensure_parallelism(t(spark, sf_dir, "embeddings"))
    return kmeans_assign(emb, "embedding", "vec_id", k=8, iters=2)


@query(
    "q_kmeans_spread",
    oracle=_KMEANS_SPREAD_CTES + """
    SELECT vec_id, cluster FROM asg
    """,
)
def q_kmeans_spread(spark, sf_dir):
    """q_kmeans with the r12 ``md5_spread`` seeding: initial centroids
    are the k rows smallest by (md5(CAST(vec_id AS STRING)), vec_id)
    — a deterministic uniform sample of the corpus instead of the
    first k ids, so seeds land across the data distribution even when
    id order correlates with content (r11 verdict #5). Both engines
    render bigints and md5 identically and compare the lowercase-hex
    strings bytewise, so the seed SET and ORDER — hence the whole
    integer-exact assignment — hash-match. Everything after seeding
    is the q_kmeans plan verbatim (map-side argmin assign + bounded
    integer-sum shuffles); the seeding adds one md5 per row to the
    one-off seed scan, nothing to the iterations."""
    from team_02_spark.operators.clustering import kmeans_assign

    emb = ensure_parallelism(t(spark, sf_dir, "embeddings"))
    return kmeans_assign(emb, "embedding", "vec_id", k=8, iters=2,
                         seeding="md5_spread")


@query(
    "q_kmeans_adaptive",
    oracle=_kmeans_ctes(target_cluster_size=25) + """
    SELECT vec_id, cluster FROM asg
    """,
)
def q_kmeans_adaptive(spark, sf_dir):
    """q_kmeans with k DERIVED from the corpus (r11 verdict #4 under
    driver-hash protection): k = clamp(ceil(n / 25), 1, 65536),
    computed from one bounded count on the Spark side
    (kmeans_assign(target_cluster_size=25) → adaptive_k) and from
    the SAME COUNT(*) arithmetic in the oracle's kk CTE — so the key
    proves the derivation MATCHES at any scale factor, not just that
    a fixed k clusters identically. At sf0.01 (n=200) the derived
    k=8 coincides with q_kmeans; at sf0.1 (n=2000) it scales to
    k=80 — the same query text, a corpus-dependent k, hash-green at
    both. Per-iteration plan unchanged: the centroid side stays a
    one gathered broadcast array row (k longs × d — bytes at any
    realistic k) probed map-side."""
    from team_02_spark.operators.clustering import kmeans_assign

    emb = ensure_parallelism(t(spark, sf_dir, "embeddings"))
    return kmeans_assign(emb, "embedding", "vec_id", iters=2,
                         target_cluster_size=25)


# Fine (within-cell) Lloyd stage appended to the coarse chain: seeds
# = the k_fine smallest vec_ids per coarse cell, one assign, one
# centroid rebuild, one re-assign — the q_kmeans arithmetic keyed by
# (coarse cell, fine id). Composite exit id = cc*k_fine + fcid,
# surfaced as the CTE ``tl`` so callers can either SELECT it directly
# (q_kmeans_twolevel) or compose the SemDeDup prune on top of it
# (q_semdedup_twolevel). ``adaptive`` reads k_fine from the kk CTE
# (two_level _kmeans_ctes) instead of the literal 8.


def _kmeans_twolevel_ctes(adaptive: bool = False) -> str:
    if adaptive:
        f0 = """
    f0 AS (
        SELECT cc, CAST(rn - 1 AS INT) AS fcid, qv AS cv
        FROM fs CROSS JOIN kk WHERE rn <= kk.kf
    ),"""
        tl = """
    tl AS (
        SELECT vec_id, CAST(cc * kk.kf + fcid AS INT) AS cluster
        FROM fa2 CROSS JOIN kk
    )"""
    else:
        f0 = """
    f0 AS (
        SELECT cc, CAST(rn - 1 AS INT) AS fcid, qv AS cv
        FROM fs WHERE rn <= 8
    ),"""
        tl = """
    tl AS (
        SELECT vec_id, CAST(cc * 8 + fcid AS INT) AS cluster FROM fa2
    )"""
    return ("""
    , fs AS (
        SELECT a.cluster AS cc, q.vec_id, q.qv,
               ROW_NUMBER() OVER (PARTITION BY a.cluster
                                  ORDER BY q.vec_id) AS rn
        FROM asg a JOIN q USING (vec_id)
    ),"""
            + f0 + """
    fd1 AS (
        SELECT p.vec_id, p.cc, c.fcid,
               list_sum(list_transform(range(1, 65),
                   i -> (p.qv[i] - c.cv[i]) * (p.qv[i] - c.cv[i]))) AS d
        FROM fs p JOIN f0 c ON p.cc = c.cc
    ),
    fa1 AS (
        SELECT vec_id, cc, fcid FROM (
            SELECT vec_id, cc, fcid,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY d, fcid) AS rn
            FROM fd1
        ) WHERE rn = 1
    ),
    fu1 AS (
        SELECT fa1.cc, fa1.fcid, t.pos, SUM(q.qv[t.pos]) AS s, COUNT(*) AS n
        FROM fa1 JOIN q USING (vec_id)
        CROSS JOIN (SELECT UNNEST(range(1, 65)) AS pos) t
        GROUP BY fa1.cc, fa1.fcid, t.pos
    ),
    f1 AS (
        SELECT cc, fcid,
               list(CAST(FLOOR(CAST(s AS DOUBLE) / n) AS BIGINT)
                    ORDER BY pos) AS cv
        FROM fu1 GROUP BY cc, fcid
    ),
    fd2 AS (
        SELECT p.vec_id, p.cc, c.fcid,
               list_sum(list_transform(range(1, 65),
                   i -> (p.qv[i] - c.cv[i]) * (p.qv[i] - c.cv[i]))) AS d
        FROM fs p JOIN f1 c ON p.cc = c.cc
    ),
    fa2 AS (
        SELECT vec_id, cc, fcid FROM (
            SELECT vec_id, cc, fcid,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY d, fcid) AS rn
            FROM fd2
        ) WHERE rn = 1
    ),"""
            + tl)


_KMEANS_TWOLEVEL_TAIL = (_kmeans_twolevel_ctes()
                         + "\n    SELECT vec_id, cluster FROM tl\n    ")


@query("q_kmeans_twolevel", oracle=_KMEANS_CTES + _KMEANS_TWOLEVEL_TAIL)
def q_kmeans_twolevel(spark, sf_dir):
    """Two-level (IVF-style) coarse-then-refine Lloyd assignment —
    the scale path for the ~1e5+ derived-cluster regime where flat
    assignment's n·k·d stops being affordable (measured 9.4× decade
    slope on q_kmeans_adaptive; SCALING.md r12). 8 coarse × 8 fine =
    64 composite clusters here; per-row work per iteration is
    (8+8)·d instead of 64·d, and at the production shape (100×100 =
    10⁴ clusters) the cut is 50×. Every stage — coarse Lloyd, per-
    cell min-id seeding, within-cell assign/update — is the same
    integer-exact deterministic arithmetic, so the APPROXIMATION is
    exactly defined and the whole composite assignment hash-matches
    DuckDB. The fine assign joins each row to only its own cell's
    centroids (broadcast of k_coarse·k_fine long-vectors)."""
    from team_02_spark.operators.clustering import kmeans_assign_twolevel

    emb = ensure_parallelism(t(spark, sf_dir, "embeddings"))
    return kmeans_assign_twolevel(emb, "embedding", "vec_id",
                                  k_coarse=8, k_fine=8, iters=2)


def _semdedup_tail(asg: str = "asg") -> str:
    """The within-cluster cosine>=0.95 keep-first prune, appended to
    any CTE exposing (vec_id, cluster) — ``asg`` for the flat chains,
    ``tl`` for the two-level composite assignment (the prune is
    cluster-id-agnostic: ids are opaque join keys to it)."""
    return """
    , losers AS (
        SELECT DISTINCT yb.vec_id
        FROM {asg} xa JOIN {asg} ya
          ON xa.cluster = ya.cluster AND xa.vec_id < ya.vec_id
        JOIN embeddings xb ON xb.vec_id = xa.vec_id
        JOIN embeddings yb ON yb.vec_id = ya.vec_id
        WHERE list_sum(list_transform(range(1, 65),
                  i -> CAST(xb.embedding[i] AS DOUBLE)
                     * CAST(yb.embedding[i] AS DOUBLE)))
              / (SQRT(list_sum(list_transform(range(1, 65),
                    i -> CAST(xb.embedding[i] AS DOUBLE)
                       * CAST(xb.embedding[i] AS DOUBLE))))
               * SQRT(list_sum(list_transform(range(1, 65),
                    i -> CAST(yb.embedding[i] AS DOUBLE)
                       * CAST(yb.embedding[i] AS DOUBLE)))))
              >= 0.95
    )
    SELECT a.vec_id, a.cluster FROM {asg} a
    WHERE a.vec_id NOT IN (SELECT vec_id FROM losers)
    """.replace("{asg}", asg)


_SEMDEDUP_TAIL = _semdedup_tail()
_SEMDEDUP_ORACLE = _KMEANS_CTES + _SEMDEDUP_TAIL


@query("q_semdedup", oracle=_SEMDEDUP_ORACLE)
def q_semdedup(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023, public): k-means-bucket the
    corpus, then prune cosine >= 0.95 near-duplicates WITHIN each
    cluster, keep-first — the published semantic-dedup cascade that
    avoids the all-pairs join by only comparing semantic neighbors.
    Cross-cluster near-dups are deliberately not compared (the
    paper's approximation); the oracle prunes within the SAME
    deterministic clusters, so the survivor set hash-matches exactly.
    Returns survivors as (vec_id, cluster).

    Scale posture: cluster ids are the pair-join keys, so per-key
    work is C(n/k, 2) — the SemDeDup dial is k itself (the paper
    runs k ~ 11k on LAION so clusters stay small; kmeans_assign's k
    scales the same way and each Lloyd iteration stays broadcast +
    bounded shuffles). At corpus scale pass
    ``target_cluster_size`` instead of a literal k — kmeans_assign
    then derives k = adaptive_k(count, target) from one bounded
    count (r12, operators/clustering.py), so a 100 TB caller never
    inherits a fixture k. At the fixture SFs the pinned k=8 keeps
    the oracle's quadratic twin cheap (same oracle as before). The pair verify is punit+pdot (Arrow-batch
    numpy — the HOF cosine fold was measured 5x slower on the ~1.5e6
    within-cluster pairs): numpy's pairwise summation differs from
    the oracle's left fold only in last ulps, and the 0.95 boundary
    carries fixture margin (max real-fixture pair ~0.51; synthetic
    near-dups sit >= 0.999 — the same guarantee q_dedup_embedding's
    pdot verify relies on), so the survivor SET cannot flip.

    Exact pre-collapse (the near_dedup_embedding guard, applied here
    because the k dial canNOT split identical points — 20k exact
    clones co-cluster at ANY k and would pay C(20k,2) under one
    cluster key): RAW-identical vectors collapse to their min-id
    representative before the pair join. The key is the raw embedding
    (r11 advisor fix: a unit-vector key is NOT cluster-safe — v and
    2v share u bitwise but FLOOR(raw*1e4) can quantize them into
    different clusters, and a collapsed non-rep in another cluster
    would be dropped where the no-collapse oracle keeps it).
    Exactness with the raw key: raw-identical rows provably share
    quantization, hence cluster, hence unit vector — so a non-rep m
    has dot(u, u) = 1 >= t with its rep r < m in the SAME cluster
    (loser regardless), and any non-rep witness x < r for a rep r
    implies its own rep x0 <= x is an equal-cosine same-cluster
    witness — the minhash-collapse proof verbatim. The collapse is
    the minhash r11 single-pass form (xxhash64(raw)-keyed min/min_by
    hash-agg with map-side combine — a window partitioned on the key
    would sort each clone group in ONE task, the very funnel the
    guard removes; hash keying accepts the repo-standard 2^-64
    collision tolerance). Zero vectors (cosine 0 by convention) key
    on their own id so they never collapse."""
    return _semdedup_frame(spark, sf_dir, k=8)


@query(
    "q_semdedup_adaptive",
    oracle=_kmeans_ctes(target_cluster_size=25) + _SEMDEDUP_TAIL,
)
def q_semdedup_adaptive(spark, sf_dir):
    """The full SemDeDup cascade with the k dial DERIVED (r11 verdict
    #4 end-to-end): k = clamp(ceil(n/25), 1, 65536) from one bounded
    count on both sides (see q_kmeans_adaptive), then the same
    within-cluster cosine >= 0.95 keep-first prune. At sf0.01 the
    derived k=8 coincides with q_semdedup; at sf0.1 k=80 shrinks the
    per-cluster pair join to ~C(25, 2) cells — the paper's posture
    (clusters sized by target, pair work ~n·target/2) hash-proven at
    two corpus sizes with one query text. Exact pre-collapse and
    scale notes: q_semdedup's docstring applies verbatim."""
    return _semdedup_frame(spark, sf_dir, target_cluster_size=25)


@query(
    "q_semdedup_twolevel",
    oracle=(_kmeans_ctes(target_cluster_size=25, two_level=True)
            + _kmeans_twolevel_ctes(adaptive=True)
            + _semdedup_tail("tl")),
)
def q_semdedup_twolevel(spark, sf_dir):
    """The SemDeDup cascade on the TWO-LEVEL derived-k assignment
    (r12 verdict #3/next-round #4: q_semdedup_adaptive drives the
    FLAT assignment, whose per-iteration n·k·d cost at k ∝ n is the
    measured n²·d/target ceiling — 9.4×/decade; the remedy existed
    in-repo but wasn't composed into the flagship cascade). Here
    k_total = clamp(ceil(n/25), 1, 65536) splits into kc = ceil-sqrt
    and kf = ceil(k/kc) — per-row assignment work (kc+kf)·d instead
    of k·d — and the SAME cosine >= 0.95 keep-first prune runs within
    the composite (coarse·kf + fine) clusters, which are opaque join
    keys to the prune stage. Every stage stays integer-exact and
    deterministic, so the whole composition (derivation, split,
    two-level Lloyd, prune) hash-matches DuckDB from one query text
    at any SF (kc=kf=3 at sf0.01; kc=kf=9 at sf0.1). Exact
    pre-collapse notes: q_semdedup's docstring applies verbatim
    (raw-identical rows share quantization, hence coarse cell, hence
    fine cluster)."""
    return _semdedup_frame(spark, sf_dir, two_level=True,
                           target_cluster_size=25)


def _semdedup_frame(spark, sf_dir, two_level: bool = False,
                    **kmeans_kwargs):
    from team_02_spark.functions.vectors import pdot, punit
    from team_02_spark.operators.clustering import (
        kmeans_assign,
        kmeans_assign_twolevel,
    )

    emb = t(spark, sf_dir, "embeddings")
    assign = kmeans_assign_twolevel if two_level else kmeans_assign
    # r15: assignment is map-side (clustering._tag), so the raw
    # embedding rides along via keep= — the former emb ⋈ clusters
    # join-back (a full-corpus shuffle on both sides) is gone.
    clusters = assign(emb, "embedding", "vec_id", iters=2,
                      keep=("embedding",), **kmeans_kwargs)
    tagged = clusters.select(
        "vec_id",
        "cluster",
        F.col("embedding").alias("__raw"),
        punit(F.col("embedding")).alias("u"),
    )
    key = F.when(
        F.exists(F.col("__raw"), lambda x: x != 0.0),
        F.xxhash64(F.col("__raw")),
    ).otherwise(F.xxhash64(F.col("__raw"), F.col("vec_id")))
    reps = (
        tagged.groupBy(key.alias("__k"))
        .agg(
            F.min("vec_id").alias("vec_id"),
            F.min_by(F.struct("cluster", "u"), F.col("vec_id")).alias("__cu"),
        )
        .select(
            "vec_id",
            F.col("__cu.cluster").alias("cluster"),
            F.col("__cu.u").alias("u"),
        )
        # three consumers (both pair sides + the survivor anti-join) —
        # lazily localCheckpoint so clustering + collapse run ONCE
        .transform(shared_pass)
    )
    a = reps.select(
        "cluster", F.col("vec_id").alias("a"), F.col("u").alias("ua")
    )
    b = reps.select(
        "cluster", F.col("vec_id").alias("b"), F.col("u").alias("ub")
    )
    losers = (
        a.join(b, "cluster")
        .filter(F.col("a") < F.col("b"))
        .filter(pdot(F.col("ua"), F.col("ub")) >= 0.95)
        .select(F.col("b").alias("vec_id"))
        .distinct()
    )
    return reps.select("vec_id", "cluster").join(losers, "vec_id", "left_anti")


@query(
    "q_jl_project",
    oracle="""
    WITH sgn AS (
        SELECT i.range AS i, j.range AS j,
               CASE WHEN substr(md5(i.range || '_' || j.range), 1, 1)
                         IN ('0','2','4','6','8','a','c','e')
                    THEN 1.0 ELSE -1.0 END AS s
        FROM range(0, 16) i CROSS JOIN range(0, 64) j
    ),
    srows AS (SELECT i, list(s ORDER BY j) AS srow FROM sgn GROUP BY i),
    smat AS (SELECT list(srow ORDER BY i) AS m FROM srows),
    proj AS (
        SELECT e.vec_id,
               list_transform(range(1, 17), i ->
                   ROUND(list_sum(list_transform(range(1, 65), j ->
                       CAST(e.embedding[j] AS DOUBLE) * t.m[i][j])) * 0.25, 6)
               ) AS z
        FROM embeddings e CROSS JOIN smat t
    )
    SELECT vec_id, CAST(dim - 1 AS INT) AS dim, z[dim] AS v
    FROM proj CROSS JOIN range(1, 17) r(dim)
    """,
)
def q_jl_project(spark, sf_dir):
    """Johnson–Lindenstrauss random projection 64 → 16 dims with the
    Achlioptas ±1 matrix derived from md5 first-hex-digit parity —
    the dimensionality-reduction pre-step for ANN/clustering at
    corpus scale, fully oracle-checkable because BOTH engines derive
    the same matrix from the same public md5 arithmetic (the
    synthesized-partsupp pattern). Map-side only: the matrix is a
    plan-time literal, no shuffle, no UDF, no driver collect; the
    1/sqrt(16) scale is the exactly-representable 0.25 and the fold
    order matches DuckDB's list_sum.

    Exits EXPLODED — (vec_id, dim, v) — so the driver compares plain
    doubles instead of engine-specific array renderings."""
    from team_02_spark.operators.clustering import jl_project

    emb = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    proj = jl_project(emb, "embedding", d_out=16, d_in=64)
    return proj.select(
        "vec_id", F.posexplode("z").alias("dim", "v")
    ).withColumn("dim", F.col("dim").cast("int"))


@query(
    "q_knn_jl",
    oracle="""
    WITH sgn AS (
        SELECT i.range AS i, j.range AS j,
               CASE WHEN substr(md5(i.range || '_' || j.range), 1, 1)
                         IN ('0','2','4','6','8','a','c','e')
                    THEN 1.0 ELSE -1.0 END AS s
        FROM range(0, 16) i CROSS JOIN range(0, 64) j
    ),
    srows AS (SELECT i, list(s ORDER BY j) AS srow FROM sgn GROUP BY i),
    smat AS (SELECT list(srow ORDER BY i) AS m FROM srows),
    proj AS (
        SELECT e.vec_id, e.embedding,
               list_transform(range(1, 17), i ->
                   ROUND(list_sum(list_transform(range(1, 65), j ->
                       CAST(e.embedding[j] AS DOUBLE) * t.m[i][j])) * 0.25, 6)
               ) AS z
        FROM embeddings e CROSS JOIN smat t
    ),
    q AS (SELECT vec_id AS q_id, embedding AS q_vec, z AS qz
          FROM proj WHERE vec_id < 5),
    coarse AS (
        SELECT q.q_id, c.vec_id AS c_id, c.embedding, q.q_vec,
               ROUND(list_sum(list_transform(range(1, 17), i ->
                   (q.qz[i] - c.z[i]) * (q.qz[i] - c.z[i]))), 6) AS d2
        FROM proj c, q
        WHERE c.vec_id <> q.q_id
    ),
    cand AS (
        SELECT q_id, c_id, embedding, q_vec FROM (
            SELECT q_id, c_id, embedding, q_vec,
                   ROW_NUMBER() OVER (PARTITION BY q_id
                                      ORDER BY d2, c_id) AS crnk
            FROM coarse
        ) WHERE crnk <= 50
    ),
    exact AS (
        SELECT q_id, c_id,
               ROUND(list_sum(list_transform(range(1, 65),
                   i -> CAST(q_vec[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))
               / (SQRT(list_sum(list_transform(range(1, 65),
                     i -> CAST(q_vec[i] AS DOUBLE) * CAST(q_vec[i] AS DOUBLE))))
                * SQRT(list_sum(list_transform(range(1, 65),
                     i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))))
               , 6) AS score
        FROM cand
    )
    SELECT q_id, c_id, score, rnk FROM (
        SELECT q_id, c_id, score,
               CAST(ROW_NUMBER() OVER (PARTITION BY q_id
                                       ORDER BY score DESC, c_id) AS INT) AS rnk
        FROM exact
    ) WHERE rnk <= 10
    """,
)
def q_knn_jl(spark, sf_dir):
    """Project-filter-refine ANN (J5): JL-project corpus + probes to
    16 dims (map-only, deterministic Achlioptas matrix), coarse
    top-50 per probe by projected squared-L2 (4x cheaper per pair
    than 64-dim scoring), exact 64-dim cosine re-rank to top-10.
    Unlike q_knn_lsh (probabilistic buckets → rows-only), EVERY stage
    here is deterministic in both engines, so this approximate-ANN
    lane carries a full value-hash oracle — candidate set included.
    The coarse stage is the oracle-able brute baseline of the
    template; at 100 TB the same refine pattern runs behind knn_lsh /
    knn_ivf candidate generation instead of a full scan. Ties break
    on c_id at both stages; all scores rounded 6dp pre-rank.

    Candidate-width dial (r11 verdict #8 — the operating points in
    writing, the knn_lsh (planes, depth) convention): width trades
    exact-rerank cost (width/N of the corpus re-scored per probe)
    for recall; the rule is width >= k x concentration factor, where
    the factor absorbs JL rank distortion at d_out (≈2-5 at
    d_out=16 on clustered data; unbounded on a corpus whose cosines
    concentrate — there rank IS tie noise and no width short of N
    helps). Measured recall@10 vs q_knn_topk on the structured
    corpus (20 Gaussian clusters x 100 members, N=2000, k=10 —
    test_ml's lshcurve construction):

        width   25     50     100    200
        recall  0.54   0.76   1.00   1.00   (rerank 1.2..10% of N)

    The declared key pins width=50 (the >= 0.7 point, 2.5% rerank);
    width=100 (5% rerank) is the saturation knee — the concentration
    factor on this corpus is ~10. On the near-uniform driver
    fixture recall reads 0.16 — the SAME fixture pathology as
    knn_lsh's documented 0.17 cold row, not the template ceiling.
    d_out (16) trades coarse-stage cost for JL distortion."""
    return _knn_jl_frame(spark, sf_dir, width=50)


def _knn_jl_frame(spark, sf_dir, *, width: int = 50):
    """q_knn_jl's implementation with the candidate width exposed so
    the width→recall curve above is measurable (the declared key and
    its oracle pin width=50)."""
    from team_02_spark.operators.clustering import jl_project

    emb = ensure_parallelism(t(spark, sf_dir, "embeddings")).select(
        "vec_id", "embedding"
    )
    proj = jl_project(emb.withColumn("__e", F.col("embedding")), "embedding") \
        .withColumnRenamed("__e", "embedding")
    probes = proj.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_vec"),
        F.col("z").alias("qz"),
    )
    d2 = F.round(
        F.aggregate(
            F.zip_with(F.col("qz"), F.col("z"), lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ),
        6,
    )
    coarse = (
        proj.join(F.broadcast(probes), F.col("vec_id") != F.col("q_id"))
        .withColumn("d2", d2)
    )
    # Two-stage coarse top-width: a plain per-probe window funnels
    # the whole corpus's rows for one probe into ONE sort task; the
    # shared partial_topk cut bounds the final window's input at
    # width*n_partitions rows while the true top-width (and so the
    # oracle hash) is unchanged.
    from team_02_spark.operators.similarity import partial_topk

    coarse = partial_topk(coarse, "q_id", width, F.asc("d2"),
                          F.col("vec_id"))
    wc = Window.partitionBy("q_id").orderBy("d2", F.col("vec_id"))
    cand = (
        coarse.withColumn("crnk", F.row_number().over(wc))
        .filter(F.col("crnk") <= width)
        .select("q_id", F.col("vec_id").alias("c_id"), "q_vec", "embedding")
    )
    exact = cand.withColumn(
        "score", F.round(cosine(F.col("q_vec"), F.col("embedding")), 6)
    )
    we = Window.partitionBy("q_id").orderBy(F.desc("score"), F.col("c_id"))
    return (
        exact.withColumn("rnk", F.row_number().over(we).cast("int"))
        .filter(F.col("rnk") <= 10)
        .select("q_id", "c_id", "score", "rnk")
    )


@query(
    "q_cluster_profile",
    oracle=_KMEANS_CTES + """
    , tot AS (SELECT COUNT(*) AS n_total FROM asg)
    SELECT a.cluster, CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(CAST(COUNT(*) AS DOUBLE) / t.n_total, 6) AS share,
           MIN(a.vec_id) AS first_member
    FROM asg a CROSS JOIN tot t
    GROUP BY a.cluster, t.n_total
    """,
)
def q_cluster_profile(spark, sf_dir):
    """Cluster observability: per-bucket size, corpus share, and the
    representative (min-id) member for the deterministic k-means
    assignment — the balance check a SemDeDup-style pipeline runs
    BEFORE pruning (a bucket holding half the corpus means k is too
    small; an empty one means Lloyd dropped it). Reuses the exact
    clustering, so it hash-matches the same CTE chain; the share
    divide is one IEEE op rounded 6dp."""
    from team_02_spark.operators.clustering import kmeans_assign

    emb = t(spark, sf_dir, "embeddings")
    asg = kmeans_assign(emb, "embedding", "vec_id", k=8, iters=2)
    tot = asg.agg(F.count("*").alias("n_total"))
    return (
        asg.crossJoin(F.broadcast(tot))
        .groupBy("cluster", "n_total")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.min("vec_id").alias("first_member"),
        )
        .select(
            "cluster", "n",
            F.round(F.col("n").cast("double") / F.col("n_total"), 6)
            .alias("share"),
            "first_member",
        )
    )


@query(
    "q_crossmodal_knn",
    # Full ANSI oracle (r8 verdict #4 — the last exactly-computable
    # rows-only key): the fake-codec feature is the 8-bin histogram of
    # the text's UTF-8 bytes (np.histogram over [0,256) => bin =
    # byte // 32 = first_hex_nibble // 2, so DuckDB recomputes it from
    # hex(encode(text)) without per-byte blob access), normalized in
    # double then narrowed to REAL exactly like the Arrow float32
    # feature column; cosine/round/rank replay the q_knn_topk pattern.
    # An empty payload decodes as one zero byte (the fake-codec
    # contract), hence the '00' substitution.
    oracle="""
    WITH hx0 AS (
      SELECT doc_id, hex(encode(COALESCE(text, ''))) AS hx FROM documents
    ),
    hx1 AS (
      SELECT doc_id, CASE WHEN length(hx) = 0 THEN '00' ELSE hx END AS hx
      FROM hx0
    ),
    bins AS (
      SELECT doc_id,
             (strpos('0123456789ABCDEF',
                     substr(hx, CAST(2*u-1 AS BIGINT), 1)) - 1) // 2 AS bin
      FROM (SELECT doc_id, hx, unnest(range(1, length(hx)//2 + 1)) AS u
            FROM hx1)
    ),
    counts AS (
      SELECT doc_id, COUNT(*) AS total,
             [CAST(SUM(CASE WHEN bin=0 THEN 1 ELSE 0 END) AS BIGINT),
              CAST(SUM(CASE WHEN bin=1 THEN 1 ELSE 0 END) AS BIGINT),
              CAST(SUM(CASE WHEN bin=2 THEN 1 ELSE 0 END) AS BIGINT),
              CAST(SUM(CASE WHEN bin=3 THEN 1 ELSE 0 END) AS BIGINT),
              CAST(SUM(CASE WHEN bin=4 THEN 1 ELSE 0 END) AS BIGINT),
              CAST(SUM(CASE WHEN bin=5 THEN 1 ELSE 0 END) AS BIGINT),
              CAST(SUM(CASE WHEN bin=6 THEN 1 ELSE 0 END) AS BIGINT),
              CAST(SUM(CASE WHEN bin=7 THEN 1 ELSE 0 END) AS BIGINT)] AS h
      FROM bins GROUP BY doc_id
    ),
    feat AS (
      SELECT doc_id,
             list_transform(h, c -> CAST(CAST(c AS DOUBLE) / total AS REAL))
               AS f
      FROM counts
    ),
    scored AS (
      SELECT q.doc_id AS q_id, c.doc_id AS vec_id,
             ROUND(
               list_sum(list_transform(range(1, 9),
                   i -> CAST(q.f[i] AS DOUBLE) * CAST(c.f[i] AS DOUBLE)))
               / (SQRT(list_sum(list_transform(range(1, 9),
                   i -> CAST(q.f[i] AS DOUBLE) * CAST(q.f[i] AS DOUBLE))))
                * SQRT(list_sum(list_transform(range(1, 9),
                   i -> CAST(c.f[i] AS DOUBLE) * CAST(c.f[i] AS DOUBLE)))))
             , 6) AS score
      FROM feat c, (SELECT * FROM feat WHERE doc_id % 499 = 0) q
    )
    SELECT q_id, vec_id, score, rnk AS "rank" FROM (
      SELECT q_id, vec_id, score,
             CAST(ROW_NUMBER() OVER (PARTITION BY q_id
                                     ORDER BY score DESC, vec_id) AS INT)
               AS rnk
      FROM scored
    ) r WHERE rnk <= 3
    """,
)
def q_crossmodal_knn(spark, sf_dir):
    """Cross-modal retrieval: text queries against a media corpus
    through the SHARED deterministic feature space (the fake-codec
    byte-histogram embedder on both sides — the seam where a real
    CLIP-style dual encoder plugs in). Every ~500th document is a
    text-side query; the full corpus is the media side; exact cosine
    top-3 via the broadcast brute-force kernel (recall oracle for the
    IVF path at scale). Self-retrieval property pinned by test: a
    query's own media item scores exactly 1.0 (the coarse fake-codec
    histograms collide across duplicate-shaped texts, so same-score
    ties with lower ids may crowd it out of the top-k — rank-1 is
    still always a 1.0 hit). Since r9 the whole lane is pinned by a
    full DuckDB oracle (decorator above) — the fake-codec features
    and the cosine top-3 are deterministic arithmetic, so even this
    mapInPandas lane is hash-checked, not rows-only."""
    from team_02_spark.operators.multimodal import (
        extract_features, synthesize_media,
    )

    docs = t(spark, sf_dir, "documents")
    media = extract_features(
        synthesize_media(docs, kind="image"), decode_stub="fake"
    ).select(F.col("doc_id").alias("vec_id"),
             F.col("feature").alias("embedding"))
    qdocs = docs.filter(F.col("doc_id") % 499 == 0)
    queries = extract_features(
        synthesize_media(qdocs, kind="text"), decode_stub="fake"
    ).select(F.col("doc_id").alias("q_id"), F.col("feature").alias("q_vec"))
    from team_02_spark.operators.similarity import knn_bruteforce

    return knn_bruteforce(queries, media, k=3, round_decimals=6)
