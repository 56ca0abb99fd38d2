"""Scaling probe: measures the two scaling dimensions that predict
100 TB behavior from local runs —

  data scaling:  fixed cores, corpus replicated 1x/4x/16x -> runtime
                 should grow near-linearly (no quadratic pair blowup
                 in dedup, no driver bottleneck)
  core scaling:  fixed corpus, local[2/8/32] -> runtime should shrink
                 with cores (no serialization point)

Usage (one JSON line per invocation):
    python tools/scaling_probe.py data  <replication>
    python tools/scaling_probe.py cores <n_cores>

Results are recorded in SCALING.md.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def build_corpus(spark, replication: int) -> str:
    """Replicate the sf0.1 documents table with distinct doc_ids."""
    from pyspark.sql import functions as F

    out = os.path.join(tempfile.gettempdir(), f"scaling_docs_{replication}x")
    if not os.path.exists(out):
        base = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
        n = base.count()
        copies = [
            base.select(
                (F.col("doc_id") + F.lit(i * n)).alias("doc_id"), "text", "lang"
            )
            for i in range(replication)
        ]
        df = copies[0]
        for c in copies[1:]:
            df = df.unionByName(c)
        df.repartition(32).write.mode("overwrite").parquet(out)
    return out


def workload(spark, path: str) -> dict[str, float]:
    """The two scale-sensitive lanes: MinHash near-dedup (pairwise
    candidate discovery) and token frequency (explode + agg)."""
    from pyspark.sql import functions as F

    from team_02_spark.functions.text import clean_tokens
    from team_02_spark.operators.dedup import near_dedup_minhash

    docs = spark.read.parquet(path)
    docs.write.format("noop").mode("overwrite").save()  # warm
    t0 = time.perf_counter()
    near_dedup_minhash(docs.select("doc_id", "text"), threshold=0.6).write.format(
        "noop"
    ).mode("overwrite").save()
    dedup_s = time.perf_counter() - t0
    spark.catalog.clearCache()
    t0 = time.perf_counter()
    (
        docs.select(F.explode(clean_tokens(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), "token")
        .limit(20)
        .write.format("noop")
        .mode("overwrite")
        .save()
    )
    tok_s = time.perf_counter() - t0
    return {"dedup_sec": round(dedup_s, 2), "token_topk_sec": round(tok_s, 2)}


def embedding_probe(replication: int) -> None:
    """Adversarial data-scaling sweep for the embedding LSH lane
    (judge r1 #2): the sf0.1 embeddings table replicated N× with
    identical vectors under fresh ids — the classic quadratic killer,
    since every copy lands in the same bucket regardless of plane
    count. Records dedup wall-clock, surviving rows, the adaptive
    plane count chosen, and the max per-(band,bucket) size over
    distinct representatives — the quantity the guards bound."""
    from pyspark.sql import functions as F

    from team_02_spark import get_spark
    from team_02_spark.operators.dedup import (
        adaptive_num_planes,
        embedding_bucket_stats,
        near_dedup_embedding,
    )

    spark = get_spark(f"scaling-emb-{replication}x")
    spark.sparkContext.setLogLevel("ERROR")
    base = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    n = base.count()
    df = base
    for i in range(1, replication):
        df = df.unionByName(
            base.select((F.col("vec_id") + F.lit(i * n)).alias("vec_id"), "embedding")
        )
    df = df.repartition(32).persist()
    total = df.count()
    df.write.format("noop").mode("overwrite").save()  # warm

    t0 = time.perf_counter()
    kept = near_dedup_embedding(df).count()
    dedup_s = time.perf_counter() - t0

    planes = adaptive_num_planes(total, 1024)
    reps = df.groupBy("embedding").agg(F.min("vec_id").alias("vec_id"))
    max_bucket = (
        embedding_bucket_stats(reps, "embedding", planes_per_band=planes)
        .agg(F.max("n").alias("m"))
        .collect()[0]["m"]
    )
    print(
        json.dumps(
            {
                "mode": "embedding",
                "replication": replication,
                "n_vectors": total,
                "kept": kept,
                "dedup_sec": round(dedup_s, 2),
                "adaptive_planes_per_band": planes,
                "max_bucket_over_reps": max_bucket,
            }
        )
    )
    spark.stop()




def minhash_probe(replication: int) -> None:
    """Adversarial hot-band sweep for the MinHash dedup lane (r9
    verdict #4 — the text twin of the knnlsh probe): ONE document
    duplicated 20k x replication ways on top of the sf0.1 corpus. All
    copies share every band bucket, so WITHOUT the identical-set
    collapse the band self-join emits C(20kN,2) pairs under one join
    key — 2.0e8 / 3.2e9 / 5.1e10 at 1x/4x/16x, a single-task funnel.
    Reports: (a) the RAW band-bucket concentration and the derived
    pre-collapse candidate-pair total (arithmetic over bucket sizes —
    materializing 5.1e10 pairs is exactly what the guard exists to
    avoid); (b) the post-collapse band input (distinct sets only) and
    its derived pair total; (c) measured end-to-end wall-clock and
    survivor count of near_dedup_minhash WITH the collapse. Honest
    residual also probed: 2k NEAR-clones (one distinct token appended
    per copy -> distinct sets, pairwise J >= 0.6) stay C(n,2) in the
    verify stage — collapse can't help there; numbers recorded so the
    limitation is measured, not guessed."""
    from pyspark.sql import functions as F

    from team_02_spark import get_spark
    from team_02_spark.operators.dedup import (
        minhash_signature,
        near_dedup_minhash,
    )

    spark = get_spark(f"scaling-minhash-{replication}x")
    spark.sparkContext.setLogLevel("ERROR")
    base = spark.read.parquet("/root/testdata/sf0.1/documents.parquet").select(
        "doc_id", "text"
    )
    n = base.count()
    hot_n = 20_000 * replication
    hot_text = base.filter(F.col("doc_id") == 0).first()["text"]
    hot = spark.range(hot_n).select(
        (F.col("id") + n).alias("doc_id"), F.lit(hot_text).alias("text")
    )
    corpus = base.unionByName(hot).repartition(32).persist()
    total = corpus.count()
    corpus.write.format("noop").mode("overwrite").save()  # warm

    def band_stats(df):
        """(max band-bucket size, derived candidate pairs sum C(n,2))
        for the signatures of df — the pre-join concentration the
        self-join would have to pay."""
        sig = minhash_signature(df, "doc_id", "text")
        rows_per_band, bands = 4, 8
        band_cols = [
            F.struct(
                F.lit(b).alias("band"),
                F.xxhash64(*[F.col(f"mh_{i}") for i in
                             range(b * rows_per_band, (b + 1) * rows_per_band)]
                           ).alias("bh"))
            for b in range(bands)
        ]
        sizes = (
            sig.select(F.explode(F.array(*band_cols)).alias("bk"))
            .groupBy("bk.band", "bk.bh").agg(F.count("*").alias("n"))
        )
        agg = sizes.agg(
            F.max("n").alias("mx"),
            F.sum(F.col("n") * (F.col("n") - 1) / 2).alias("pairs"),
        ).first()
        return int(agg["mx"]), int(agg["pairs"])

    raw_max, raw_pairs = band_stats(corpus)
    # the post-collapse band input: one representative per distinct
    # set; exact clones have identical text, so text-keyed min-id is
    # the same collapse the operator performs on hashed shingle sets
    reps = (
        corpus.groupBy("text").agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id", "text")
    )
    rep_max, rep_pairs = band_stats(reps)

    t0 = time.perf_counter()
    survivors = near_dedup_minhash(corpus, threshold=0.6).count()
    dedup_s = time.perf_counter() - t0

    # residual: 2k NEAR-clones (distinct sets, J >= 0.6 pairwise) —
    # the collapse can't merge them; verify stays C(n,2). Fixed size,
    # not scaled by replication: the point is the measured constant.
    # Since r11 (verdict #3) the C(n,2) GENERATION is triangle-split:
    # measured twice, plain (cap=None) vs forced-hot (cap=512 -> the
    # 2k bucket splits S=4 ways over 10 cells), same survivors.
    near = spark.range(2_000).select(
        (F.col("id") + 10_000_000).alias("doc_id"),
        F.concat(F.lit(hot_text + " tail"), F.col("id").cast("string")
                 ).alias("text"),
    )
    near_corpus = base.unionByName(near)
    t0 = time.perf_counter()
    near_kept = near_dedup_minhash(
        near_corpus, threshold=0.6, hot_bucket_cap=None).count()
    near_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    near_kept_split = near_dedup_minhash(
        near_corpus, threshold=0.6, hot_bucket_cap=512).count()
    near_split_s = time.perf_counter() - t0

    # the 20k near-clone shape (verdict #3's probe ask) is too big to
    # verify end-to-end locally (C(20k,2) x 8 bands ~ 1.6e9 raw pair
    # rows — that VOLUME is contracted; the question is its SPREAD),
    # so measure the generation layout exactly: group sizes under the
    # operator's own pmod(xxhash64(id), S) split at the default cap,
    # then the per-cell pair counts |g_i||g_j| (C(|g_i|,2) diagonal).
    # max_cell is what the single biggest join key generates — the
    # former single task owned pairs_total.
    cap = 1024  # the operator default (minhash_candidate_pairs)
    n_near = 20_000
    s = min(64, -(-n_near // cap))  # ceil
    groups = (
        spark.range(n_near)
        .select(F.pmod(F.xxhash64((F.col("id") + 10_000_000)), F.lit(s))
                .cast("int").alias("g"))
        .groupBy("g").count().collect()
    )
    gsz = {r["g"]: r["count"] for r in groups}
    cells = {}
    for i in range(s):
        for j in range(i, s):
            cells[(i, j)] = (
                gsz.get(i, 0) * (gsz.get(i, 0) - 1) // 2 if i == j
                else gsz.get(i, 0) * gsz.get(j, 0)
            )
    pairs_total = n_near * (n_near - 1) // 2

    print(json.dumps({
        "mode": "minhash", "replication": replication, "n_docs": total,
        "hot_copies": hot_n,
        "raw_max_band_bucket": raw_max,
        "raw_candidate_pairs": raw_pairs,
        "collapsed_max_band_bucket": rep_max,
        "collapsed_candidate_pairs": rep_pairs,
        "dedup_sec": round(dedup_s, 2), "survivors": survivors,
        "nearclone_2k_sec": round(near_s, 2), "nearclone_kept": near_kept,
        "nearclone_2k_split_sec": round(near_split_s, 2),
        "nearclone_kept_split": near_kept_split,
        "nc20k_subgroups": s,
        "nc20k_cells": len(cells),
        "nc20k_pairs_total": pairs_total,
        "nc20k_max_cell_pairs": max(cells.values()),
        "nc20k_spread_x": round(pairs_total / max(cells.values()), 1),
    }))
    spark.stop()


def simhash_probe(replication: int) -> None:
    """Adversarial hot-block sweep for the SimHash dedup lane (r11
    verdict #3 — the pigeonhole twin of the minhash probe): 10k x
    replication synthetic fingerprints all sharing block0 == 0 with
    random high bits (pairwise hamming >> 3, so they contribute ZERO
    verified pairs — the cost is pure candidate GENERATION), on top
    of the sf0.1 corpus fingerprints. Before r12 the block-0 join
    either paid C(n,2) under one join key (cap=None) or EXCLUDED the
    block (recall loss); now the triangle split spreads the same
    exact pair set over S = ceil(n/cap) sub-groups. Reports measured
    wall-clock plain vs split (same verified-pair count — the
    exactness test in miniature, at probe scale) plus the derived
    cell layout at the operator default cap."""
    from pyspark.sql import functions as F

    from team_02_spark import get_spark
    from team_02_spark.operators.dedup import simhash, simhash_dup_pairs

    spark = get_spark(f"scaling-simhash-{replication}x")
    spark.sparkContext.setLogLevel("ERROR")
    base = spark.read.parquet("/root/testdata/sf0.1/documents.parquet").select(
        "doc_id", "text"
    )
    fps_base = simhash(base, "doc_id", "text")
    n = base.count()
    hot_n = 10_000 * replication
    # block0 (bits 0-15) == 0; bits 16-62 random and distinct -> the
    # block-0 bucket holds every row, pairwise hamming far above 3
    hot = spark.range(hot_n).select(
        (F.col("id") + n).alias("doc_id"),
        F.shiftleft(F.xxhash64("id").bitwiseAND(F.lit((1 << 46) - 1)), 16)
        .alias("simhash"),
    )
    fps = fps_base.unionByName(hot).repartition(32).persist()
    fps.write.format("noop").mode("overwrite").save()  # warm

    t0 = time.perf_counter()
    plain = simhash_dup_pairs(fps, block_bucket_cap=None).count()
    plain_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    split = simhash_dup_pairs(fps).count()  # default cap 4096
    split_s = time.perf_counter() - t0

    cap = 4096
    s = min(64, -(-hot_n // cap))
    groups = (
        spark.range(hot_n)
        .select(F.pmod(F.xxhash64((F.col("id") + n)), F.lit(s))
                .cast("int").alias("g"))
        .groupBy("g").count().collect()
    )
    gsz = {r["g"]: r["count"] for r in groups}
    cells = {
        (i, j): (gsz.get(i, 0) * (gsz.get(i, 0) - 1) // 2 if i == j
                 else gsz.get(i, 0) * gsz.get(j, 0))
        for i in range(s) for j in range(i, s)
    }
    pairs_total = hot_n * (hot_n - 1) // 2
    print(json.dumps({
        "mode": "simhash", "replication": replication,
        "n_fps": n + hot_n, "hot_block_rows": hot_n,
        "plain_sec": round(plain_s, 2), "plain_pairs": plain,
        "split_sec": round(split_s, 2), "split_pairs": split,
        "hot_subgroups": s, "hot_cells": len(cells),
        "hot_pairs_total": pairs_total,
        "hot_max_cell_pairs": max(cells.values()),
        "hot_spread_x": round(pairs_total / max(cells.values()), 1),
    }))
    spark.stop()


def lshcurve_probe(n_clusters: int) -> None:
    """Recall/cost curve for knn_lsh's probe_depth dial (r9 verdict
    #5) on a STRUCTURED corpus — the counterpart to the near-uniform
    fixture whose score-tie noise made the 0.17 cold-recall row in
    SCALING.md §ANN meaningless as a recall measure. Corpus: 50k
    64-dim vectors in ``n_clusters`` Gaussian clusters (unit-norm
    centers, sigma 0.08 — tight enough that a cluster is the true
    neighborhood, wide enough that members straddle plane boundaries);
    40 queries drawn as fresh jittered cluster members. Ground truth:
    brute-force cosine top-10. Reports recall@10 and wall-clock at
    probe_depth 0/1/2 with fixed adaptive planes — the dial a user
    turns when 1-bit probing's recall is not enough and more planes
    (which LOWER recall) are the only other knob."""
    import numpy as np
    from pyspark.sql import functions as F

    from team_02_spark import get_spark
    from team_02_spark.operators.dedup import adaptive_num_planes
    from team_02_spark.operators.similarity import knn_bruteforce, knn_lsh

    spark = get_spark(f"scaling-lshcurve-{n_clusters}")
    spark.sparkContext.setLogLevel("ERROR")
    dim, n_vec, n_q = 64, 50_000, 40
    rng = np.random.RandomState(7)
    centers = rng.standard_normal((n_clusters, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    assign = rng.randint(0, n_clusters, n_vec)
    vecs = centers[assign] + rng.normal(0, 0.08, (n_vec, dim))
    corpus = spark.createDataFrame(
        [(int(i), [float(x) for x in vecs[i]]) for i in range(n_vec)],
        "vec_id long, embedding array<double>",
    ).repartition(32).persist()
    corpus.count()

    q_assign = rng.randint(0, n_clusters, n_q)
    q_vecs = centers[q_assign] + rng.normal(0, 0.08, (n_q, dim))
    probes = spark.createDataFrame(
        [(int(i), [float(x) for x in q_vecs[i]]) for i in range(n_q)],
        "q_id long, q_vec array<double>",
    ).persist()
    probes.count()

    truth: dict[int, set[int]] = {}
    for r in knn_bruteforce(probes, corpus, 10).collect():
        truth.setdefault(r["q_id"], set()).add(r["vec_id"])

    # SPARK_GRAFT_LSHCURVE_PLANES overrides the adaptive count — the
    # more-planes-plus-deeper-probing row of the SCALING.md curve
    planes = int(os.environ.get("SPARK_GRAFT_LSHCURVE_PLANES", "0")) \
        or adaptive_num_planes(n_vec, 4096, lo=8, hi=24)
    out = {"mode": "lshcurve", "n_clusters": n_clusters,
           "n_vectors": n_vec, "dim": dim, "planes": planes}
    for depth in (0, 1, 2):
        t0 = time.perf_counter()
        got = knn_lsh(probes, corpus, 10, dim=dim, num_planes=planes,
                      probe_depth=depth).collect()
        secs = time.perf_counter() - t0
        hits: dict[int, int] = {q: 0 for q in truth}
        for r in got:
            if r["vec_id"] in truth[r["q_id"]]:
                hits[r["q_id"]] += 1
        out[f"depth{depth}_recall"] = round(
            sum(hits.values()) / (10 * len(truth)), 3)
        out[f"depth{depth}_sec"] = round(secs, 2)
    print(json.dumps(out))
    spark.stop()


def knnlsh_probe(replication: int) -> None:
    """Adversarial data-scaling sweep for the SERVING half of the
    vector lane (r8 verdict #6 — the dedup half has the `embedding`
    mode above): q_knn_lsh's plan under a hot DIRECTION in the
    corpus. 20k x replication near-identical copies of one base
    vector (deterministic 1e-3 jitter — identical copies would share
    refinement sign bits and be UNsplittable by design; a tight
    cluster is the realistic skewed-serving-corpus case) are appended
    to the sf0.1 embeddings. Five probes: three cold base vectors,
    two aimed INTO the hot direction. Reports wall-clock and
    max-bucket candidate count for the unguarded vs the
    bucket_cap-guarded path, plus recall@10 vs brute force for both —
    the guard must bound per-probe scoring cost while degrading
    recall only inside the hot direction."""
    import numpy as np
    from pyspark.sql import functions as F

    from team_02_spark import get_spark
    from team_02_spark.operators.dedup import adaptive_num_planes
    from team_02_spark.operators.similarity import knn_bruteforce, knn_lsh

    spark = get_spark(f"scaling-knnlsh-{replication}x")
    spark.sparkContext.setLogLevel("ERROR")
    base = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    n = base.count()
    hot_n = 20_000 * replication
    rng = np.random.RandomState(0)
    v = np.array(
        base.filter(F.col("vec_id") == 0).first()["embedding"], dtype=np.float64
    )
    hot_rows = [
        (int(n + i), [float(x) for x in v + rng.normal(0, 1e-3, v.shape)])
        for i in range(hot_n)
    ]
    hot = spark.createDataFrame(hot_rows, "vec_id long, embedding array<float>")
    corpus = base.unionByName(hot).repartition(32).persist()
    total = corpus.count()
    corpus.write.format("noop").mode("overwrite").save()  # warm

    probe_rows = [
        (100_000 + i,
         [float(x) for x in v + rng.normal(0, 1e-3, v.shape)])
        for i in range(2)
    ]
    probes = base.filter(F.col("vec_id").isin(1, 2, 3)).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    ).unionByName(
        spark.createDataFrame(probe_rows, "q_id long, q_vec array<float>")
    ).persist()
    probes.count()

    planes = adaptive_num_planes(total, 4096, lo=8, hi=24)

    def bucket_max(cap):
        from team_02_spark.functions.vectors import (
            hyperplane_bucket,
            remap_hot_buckets,
        )

        b = corpus.withColumn(
            "__bucket", hyperplane_bucket("embedding", 64, planes, 42)
        )
        if cap is not None:
            sizes = b.groupBy("__bucket").agg(F.count("*").alias("n"))
            hot_b = sizes.filter(F.col("n") > cap).select(
                "__bucket", F.lit(True).alias("__hot")
            )
            b = remap_hot_buckets(
                b, hot_b, bucket_col="__bucket",
                refine=hyperplane_bucket("embedding", 64, 8, 42 + 10_007),
                join_keys="__bucket",
            )
        return b.groupBy("__bucket").count().agg(F.max("count")).first()[0]

    # Recall by SCORE THRESHOLD, not id identity: the hot probes see
    # 20k x replication score-ties at ~1.0, where id-set overlap is
    # noise. A returned neighbor counts if its true cosine reaches the
    # brute-force 10th-best score (6dp).
    thr: dict[int, float] = {}
    for r in knn_bruteforce(probes, corpus, 10, round_decimals=6).collect():
        q = r["q_id"]
        thr[q] = min(thr.get(q, 1.0), r["score"])

    out = {"mode": "knnlsh", "replication": replication,
           "n_vectors": total, "planes": planes,
           "max_bucket_uncapped": bucket_max(None),
           "max_bucket_after_refine": bucket_max(4096)}
    for label, cap in (("uncapped", None), ("capped", 4096)):
        t0 = time.perf_counter()
        got = knn_lsh(probes, corpus, 10, dim=64, bucket_cap=cap).collect()
        secs = time.perf_counter() - t0
        hits: dict[int, int] = {q: 0 for q in thr}
        for r in got:
            if round(r["score"], 6) >= thr[r["q_id"]] - 1e-9:
                hits[r["q_id"]] += 1
        cold = [h / 10 for q, h in hits.items() if q < 100_000]
        hot_r = [h / 10 for q, h in hits.items() if q >= 100_000]
        out[f"{label}_sec"] = round(secs, 2)
        out[f"{label}_recall_cold"] = round(sum(cold) / len(cold), 3)
        out[f"{label}_recall_hot"] = round(sum(hot_r) / len(hot_r), 3)
    print(json.dumps(out))
    spark.stop()


def substring_probe(replication: int) -> None:
    """Data-scaling sweep for the ExactSubstr lane (q_dedup_substring):
    sf0.1 documents replicated N× under fresh doc_ids — adversarial by
    construction, since every replica shares EVERY 10-token gram with
    its source, so the duplicated-occurrence stream grows linearly in
    N (each gram's occurrence list deepens, but the join-back is
    occurrence-keyed, never pairwise: cost must stay ~linear, not
    N² as a pair-enumeration design would)."""
    from pyspark.sql import functions as F

    from team_02_spark import get_spark
    from team_02_spark.operators.dedup import substring_dedup_stats

    spark = get_spark(f"scaling-substr-{replication}x")
    spark.sparkContext.setLogLevel("ERROR")
    base = spark.read.parquet("/root/testdata/sf0.1/documents.parquet").select(
        "doc_id", "text"
    )
    n = base.count()
    df = base
    for i in range(1, replication):
        df = df.unionByName(
            base.select((F.col("doc_id") + F.lit(i * n)).alias("doc_id"), "text")
        )
    df = df.repartition(32).persist()
    total = df.count()
    df.write.format("noop").mode("overwrite").save()  # warm

    t0 = time.perf_counter()
    stats = substring_dedup_stats(df, k=10).persist()
    stats.write.format("noop").mode("overwrite").save()
    probe_s = time.perf_counter() - t0
    agg = stats.agg(
        F.sum("dup_tokens").alias("dup"),
        F.sum(F.when(F.col("dup_tokens") > 0, 1).otherwise(0)).alias("hit"),
    ).collect()[0]
    print(json.dumps({
        "mode": "substring", "replication": replication, "n_docs": total,
        "probe_sec": round(probe_s, 2),
        "dup_tokens": int(agg["dup"]), "docs_hit": int(agg["hit"]),
    }))
    spark.stop()


def cms_probe(replication: int) -> None:
    """Data-scaling sweep for the CMS lane (q_cms_topk shape): sf0.1
    documents replicated N× (same text, so the vocab is CONSTANT while
    the stream grows N×) — the sketch property under test: counter
    rows stay bounded at d*w, build cost grows only with the scan, and
    the vocab-sized hashing stage (post r6 pre-aggregation) does the
    same md5 work at every N."""
    from pyspark.sql import functions as F

    from team_02_spark import get_spark
    from team_02_spark.operators.sketches import merge_cms, shard_cms

    spark = get_spark(f"scaling-cms-{replication}x")
    spark.sparkContext.setLogLevel("ERROR")
    base = spark.read.parquet("/root/testdata/sf0.1/documents.parquet").select(
        "doc_id", "text"
    )
    n = base.count()
    df = base
    for i in range(1, replication):
        df = df.unionByName(
            base.select((F.col("doc_id") + F.lit(i * n)).alias("doc_id"), "text")
        )
    df = df.repartition(32).persist()
    df.write.format("noop").mode("overwrite").save()  # warm

    toks = df.select(
        F.explode(
            F.array_remove(F.split(F.lower(F.col("text")), r"\W+"), "")
        ).alias("token")
    )
    t0 = time.perf_counter()
    cms = merge_cms(shard_cms(toks, keys=[], value="token"), keys=[]).persist()
    rows = cms.count()
    build_s = time.perf_counter() - t0
    total = cms.agg(F.sum("cnt").alias("s")).collect()[0]["s"]
    print(json.dumps({
        "mode": "cms", "replication": replication,
        "build_sec": round(build_s, 2), "counter_rows": rows,
        "stream_tokens": int(total // 5),
    }))
    spark.stop()


def pairs_probe(replication: int) -> None:
    """Bounded-candidates evidence for the self-join lanes
    (q_cooccurrence, q_market_basket): candidate pairs must grow
    LINEARLY with the corpus, and per-block pair counts must stay
    capped by the block alphabet, under two replication regimes —
    disjoint keys (new users/orders: linear by construction) and
    same-block (same users, duplicated rows: the adversarial case the
    distinct-before-join step must absorb)."""
    import time as _t

    from pyspark.sql import functions as F

    from team_02_spark import get_spark

    from team_02_spark.sources import load_table

    spark = get_spark(f"scaling-pairs-{replication}x")
    spark.sparkContext.setLogLevel("ERROR")
    ev = load_table(spark, "/root/testdata/sf0.1", "events")
    n_users = 1500  # sf0.1 user cardinality ceiling

    def cooccur_pairs(events):
        present = events.select(
            "user_id", F.date_trunc("hour", "ts").alias("h"), "event_type"
        ).distinct()
        a, b = present.alias("a"), present.alias("b")
        joined = a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.h") == F.col("b.h"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        return joined

    res = {"mode": "pairs", "replication": replication}

    # regime 1: disjoint users (corpus growth = new population)
    disjoint = ev
    for i in range(1, replication):
        disjoint = disjoint.unionByName(
            ev.withColumn("user_id", F.col("user_id") + i * n_users)
        )
    t0 = _t.perf_counter()
    res["disjoint_pairs"] = cooccur_pairs(disjoint).count()
    res["disjoint_sec"] = round(_t.perf_counter() - t0, 2)

    # regime 2: same users, duplicated rows (adversarial: blocks
    # deepen but distinct() caps pairs at C(|alphabet|,2) per block)
    same = ev
    for _ in range(1, replication):
        same = same.unionByName(ev)
    t0 = _t.perf_counter()
    res["sameblock_pairs"] = cooccur_pairs(same).count()
    res["sameblock_sec"] = round(_t.perf_counter() - t0, 2)

    print(__import__("json").dumps(res))
    spark.stop()


def _build_graph_corpus(spark, replication: int) -> str:
    """lineitem/orders replicated N× under fresh order keys (customer
    side offset per copy, suppliers FIXED — hub degrees inflate N×,
    the adversarial direction for wedge/contribution joins). Shared
    by the graph (PageRank) and triangles probes."""
    import os
    import tempfile

    from pyspark.sql import functions as F

    src = "/root/testdata/sf0.1"
    out = os.path.join(tempfile.gettempdir(), f"scaling_graph_{replication}x")
    if not os.path.exists(os.path.join(out, ".done")):
        os.makedirs(out, exist_ok=True)
        li = spark.read.parquet(f"{src}/lineitem.parquet")
        orders = spark.read.parquet(f"{src}/orders.parquet")
        n_ord = orders.agg(F.max("o_orderkey")).first()[0] + 1
        n_cust = orders.agg(F.max("o_custkey")).first()[0] + 1
        li_c, ord_c = [], []
        for i in range(replication):
            li_c.append(li.withColumn(
                "l_orderkey", F.col("l_orderkey") + F.lit(i * n_ord)))
            # custkeys offset per copy: the CUSTOMER side grows N x
            # while suppliers stay fixed - hub degrees inflate N x,
            # the adversarial direction for the contribution join
            ord_c.append(
                orders.withColumn(
                    "o_orderkey", F.col("o_orderkey") + F.lit(i * n_ord)
                ).withColumn(
                    "o_custkey", F.col("o_custkey") + F.lit(i * n_cust)
                ))
        li_all, ord_all = li_c[0], ord_c[0]
        for a, b in zip(li_c[1:], ord_c[1:]):
            li_all, ord_all = li_all.unionByName(a), ord_all.unionByName(b)
        li_all.write.mode("overwrite").parquet(os.path.join(out, "lineitem.parquet"))
        ord_all.write.mode("overwrite").parquet(os.path.join(out, "orders.parquet"))
        for t_name in ("region nation customer supplier part events "
                       "documents embeddings").split():
            link = os.path.join(out, f"{t_name}.parquet")
            if not os.path.exists(link):
                os.symlink(os.path.join(src, f"{t_name}.parquet"), link)
        open(os.path.join(out, ".done"), "w").close()

    spark.read.parquet(os.path.join(out, "lineitem.parquet")).write.format(
        "noop").mode("overwrite").save()  # warm
    return out


def graph_probe(replication: int) -> None:
    """Data-scaling sweep for the graph lane: PageRank over the
    replicated bipartite graph (see _build_graph_corpus). Edge count
    grows ~linearly with the fact table; the fear is the
    rank-contribution join degenerating — this records wall-clock and
    edge count to show it doesn't."""
    from team_02_spark import get_spark
    from team_02_spark.queries import QUERIES

    spark = get_spark(f"scaling-graph-{replication}x")
    spark.sparkContext.setLogLevel("ERROR")
    out = _build_graph_corpus(spark, replication)
    t0 = time.perf_counter()
    QUERIES["q_pagerank"].fn(spark, out).write.format("noop").mode(
        "overwrite").save()
    pr_s = time.perf_counter() - t0
    from team_02_spark.queries.graph import _edges

    n_edges = _edges(spark, out).count()
    print(json.dumps({
        "mode": "graph", "replication": replication,
        "n_edges": n_edges, "pagerank_sec": round(pr_s, 2),
    }))
    spark.stop()


def triangles_probe(replication: int) -> None:
    """Data-scaling sweep for the degree-ordered triangle count: the
    replicated corpus keeps the SUPPLIER set fixed while co-supply
    pair multiplicity and degrees inflate N× — the adversarial hub
    regime the orientation exists for. Records the triangle-lane
    wall-clock plus the distinct-edge count (saturating toward
    |S|²/2) so the curve can be read against the O(m^1.5) claim."""
    from team_02_spark import get_spark
    from team_02_spark.queries import QUERIES

    spark = get_spark(f"scaling-tri-{replication}x")
    spark.sparkContext.setLogLevel("ERROR")
    out = _build_graph_corpus(spark, replication)
    t0 = time.perf_counter()
    row = QUERIES["q_triangles"].fn(spark, out).collect()[0]
    tri_s = time.perf_counter() - t0
    print(json.dumps({
        "mode": "triangles", "replication": replication,
        "n_edges": row["n_edges"], "n_triangles": row["n_triangles"],
        "triangles_sec": round(tri_s, 2),
    }))
    spark.stop()


def journey_probe(replication: int) -> None:
    """Data-scaling sweep for the sequence-pattern lane
    (q_match_recognize) — the ONE round-7 lane whose per-key state
    grows with the corpus: each user's journey string lengthens N×
    under replication (fresh event ids, same users), so this measures
    the MATCH_RECOGNIZE partition contract honestly: time should grow
    ~linearly with total events (collect_list + regex are linear),
    and the lane stays healthy as long as a single user's sequence
    fits an executor — the documented re-shard threshold."""
    from pyspark.sql import functions as F

    from team_02_spark import get_spark
    from team_02_spark.queries import QUERIES

    spark = get_spark(f"scaling-journey-{replication}x")
    spark.sparkContext.setLogLevel("ERROR")
    out = os.path.join(tempfile.gettempdir(), f"scaling_ev_{replication}x")
    if not os.path.exists(os.path.join(out, ".done")):
        os.makedirs(out, exist_ok=True)
        base = spark.read.parquet("/root/testdata/sf0.1/events.parquet")
        df = base
        for i in range(1, replication):
            df = df.unionByName(
                base.withColumn(
                    "event_id", F.col("event_id") + F.lit(i * 100_000_000)
                )
            )
        df.repartition(32).write.mode("overwrite").parquet(
            os.path.join(out, "events.parquet"))
        for t_name in ("region nation customer supplier part orders "
                       "lineitem documents embeddings").split():
            link = os.path.join(out, f"{t_name}.parquet")
            if not os.path.exists(link):
                os.symlink(f"/root/testdata/sf0.1/{t_name}.parquet", link)
        open(os.path.join(out, ".done"), "w").close()
    t0 = time.perf_counter()
    res_df = QUERIES["q_match_recognize"].fn(spark, out)
    agg = res_df.agg(
        F.count("*").alias("n_users"),
        F.max("n_events").alias("max_journey"),
        F.sum(F.col("matched").cast("int")).alias("n_matched"),
    ).first()
    sec = time.perf_counter() - t0
    print(json.dumps({
        "mode": "journey", "replication": replication,
        "n_users": agg["n_users"], "max_journey": int(agg["max_journey"]),
        "n_matched": int(agg["n_matched"]), "journey_sec": round(sec, 2),
    }))
    spark.stop()


def ranktest_probe(replication: int) -> None:
    """Data-scaling sweep for the nonparametric-test lanes
    (q_mann_whitney, q_hodges_lehmann): events replicated N× with
    FRESH event ids (value grid and user parity preserved), both
    statistics end-to-end. The claim under test is the value-grid
    collapse: the corpus aggregates to the distinct-cents table
    before any windowing/cross-joining, so wall-clock should stay
    flat while the input grows N× and the grid size stays constant."""
    from pyspark.sql import functions as F

    from team_02_spark import get_spark
    from team_02_spark.queries import QUERIES

    spark = get_spark(f"scaling-ranktest-{replication}x")
    spark.sparkContext.setLogLevel("ERROR")
    out = os.path.join(tempfile.gettempdir(), f"scaling_ev_{replication}x")
    if not os.path.exists(os.path.join(out, ".done")):
        os.makedirs(out, exist_ok=True)
        base = spark.read.parquet("/root/testdata/sf0.1/events.parquet")
        df = base
        for i in range(1, replication):
            df = df.unionByName(
                base.withColumn(
                    "event_id", F.col("event_id") + F.lit(i * 100_000_000)
                )
            )
        df.repartition(32).write.mode("overwrite").parquet(
            os.path.join(out, "events.parquet"))
        for t_name in ("region nation customer supplier part orders "
                       "lineitem documents embeddings").split():
            link = os.path.join(out, f"{t_name}.parquet")
            if not os.path.exists(link):
                os.symlink(f"/root/testdata/sf0.1/{t_name}.parquet", link)
        open(os.path.join(out, ".done"), "w").close()
    n_rows = spark.read.parquet(os.path.join(out, "events.parquet")).count()
    res = {"mode": "ranktest", "replication": replication, "n_events": n_rows}
    for key, col in (("q_mann_whitney", "u1_doubled"),
                     ("q_hodges_lehmann", "hl_shift_cents")):
        t0 = time.perf_counter()
        row = QUERIES[key].fn(spark, out).first()
        res[f"{key.removeprefix('q_')}_sec"] = round(
            time.perf_counter() - t0, 2)
        res[f"{key.removeprefix('q_')}_stat"] = int(row[col])
    print(json.dumps(res))
    spark.stop()


def bfs_probe(replication: int) -> None:
    """Data-scaling sweep for the BFS shortest-path lane over the
    replicated bipartite graph (see _build_graph_corpus: customer
    side grows N×, suppliers FIXED — so the supplier hop's fan-out
    inflates N×, the adversarial direction for the frontier⋈edges
    join). Records wall-clock, edge count, and reached-node count:
    the claim under test is that per-round work tracks the NEW
    frontier (anti-join shrink), not the visited set."""
    from team_02_spark import get_spark
    from team_02_spark.queries import QUERIES
    from team_02_spark.queries.graph import _edges

    spark = get_spark(f"scaling-bfs-{replication}x")
    spark.sparkContext.setLogLevel("ERROR")
    out = _build_graph_corpus(spark, replication)
    t0 = time.perf_counter()
    reached = QUERIES["q_shortest_path"].fn(spark, out)
    n_reached = reached.count()
    bfs_s = time.perf_counter() - t0
    n_edges = _edges(spark, out).count()
    print(json.dumps({
        "mode": "bfs", "replication": replication,
        "n_edges": n_edges, "n_reached": n_reached,
        "bfs_sec": round(bfs_s, 2),
    }))
    spark.stop()


def interval_probe(replication: int) -> None:
    """Data-scaling sweep for the sweep-line interval-union lane:
    lineitem replicated N× with the SUPPLIER set fixed, so every
    supplier's interval count (and overlap density) grows N× — the
    adversarial direction for the per-key window passes. Linear time
    and a constant output row count (|suppliers|) are the pass
    criteria."""
    from pyspark.sql import functions as F

    from team_02_spark import get_spark
    from team_02_spark.queries import QUERIES

    spark = get_spark(f"scaling-interval-{replication}x")
    spark.sparkContext.setLogLevel("ERROR")
    out = os.path.join(tempfile.gettempdir(), f"scaling_iv_{replication}x")
    if not os.path.exists(os.path.join(out, ".done")):
        os.makedirs(out, exist_ok=True)
        base = spark.read.parquet("/root/testdata/sf0.1/lineitem.parquet")
        df = base
        for i in range(1, replication):
            df = df.unionByName(
                base.withColumn(
                    "l_orderkey", F.col("l_orderkey") + F.lit(i * 10_000_000)
                )
            )
        df.repartition(32).write.mode("overwrite").parquet(
            os.path.join(out, "lineitem.parquet"))
        for t_name in ("region nation customer supplier part orders "
                       "events documents embeddings").split():
            link = os.path.join(out, f"{t_name}.parquet")
            if not os.path.exists(link):
                os.symlink(f"/root/testdata/sf0.1/{t_name}.parquet", link)
        open(os.path.join(out, ".done"), "w").close()
    n_rows = spark.read.parquet(os.path.join(out, "lineitem.parquet")).count()
    t0 = time.perf_counter()
    res = QUERIES["q_interval_coverage"].fn(spark, out)
    n_out = res.count()
    iv_s = time.perf_counter() - t0
    print(json.dumps({
        "mode": "interval", "replication": replication,
        "n_intervals": n_rows, "n_suppliers": n_out,
        "interval_sec": round(iv_s, 2),
    }))
    spark.stop()


def saltint_probe(replication: int) -> None:
    """Adversarial HOT-KEY probe for interval_union_salted (r8): ONE
    key owns ALL N×1M intervals, the shape where the plain per-key
    sweep degenerates to a single window partition (one core sorts
    and scans everything, and at cluster scale one executor must hold
    one key's full history). The salted operator re-shards the same
    rows over (key, epoch-bucket) cells first. Pass criteria: both
    operators agree exactly, and the salted wall-clock stays flat-ish
    while the unsalted one grows with the single partition."""
    from pyspark.sql import functions as F

    from team_02_spark import get_spark
    from team_02_spark.operators.analytics import (
        interval_union,
        interval_union_salted,
    )

    spark = get_spark(f"scaling-saltint-{replication}x")
    spark.sparkContext.setLogLevel("ERROR")
    n = replication * 1_000_000
    # deterministic pseudo-random starts over a 100M-wide axis,
    # width-50k intervals -> heavy overlap, ~100M/50k islands
    df = (
        spark.range(n)
        .select(
            F.lit("hot").alias("k"),
            F.pmod(F.xxhash64(F.col("id")), F.lit(100_000_000)).alias("s"),
        )
        .withColumn("e", F.col("s") + F.lit(50_000))
    )
    t0 = time.perf_counter()
    plain = interval_union(df, "k", "s", "e").collect()
    t_plain = time.perf_counter() - t0
    t0 = time.perf_counter()
    salted = interval_union_salted(
        df, "k", "s", "e", bucket_width=1_000_000
    ).collect()
    t_salted = time.perf_counter() - t0
    assert sorted(map(tuple, plain)) == sorted(map(tuple, salted)), (
        plain, salted)
    print(json.dumps({
        "mode": "saltint", "replication": replication, "n_intervals": n,
        "n_islands": plain[0]["n_islands"], "covered": plain[0]["covered"],
        "plain_sec": round(t_plain, 2), "salted_sec": round(t_salted, 2),
    }))
    spark.stop()


def cdcmerge_probe(replication: int) -> None:
    """CDC merge-step probe (r8): plain full-outer upsert (must
    re-shuffle the WHOLE N×1M-row snapshot — full outer can't
    broadcast) vs upsert_bucketed over a co-bucketed snapshot (zero
    Exchange on the state side). Both apply the identical 1k-row
    batch and write the merged snapshot; the bucketed side's one-time
    initial bucket-write is excluded (it is the paid-once ingest
    cost), its per-batch work — batch bucket-write + merge + bucketed
    output — is all included. Results asserted equal."""
    from pyspark.sql import functions as F

    from team_02_spark import get_spark
    from team_02_spark.operators.scale import write_bucketed
    from team_02_spark.operators.upsert import upsert, upsert_bucketed

    spark = get_spark(f"scaling-cdcmerge-{replication}x")
    spark.sparkContext.setLogLevel("ERROR")
    n = replication * 1_000_000
    app = spark.sparkContext.applicationId.replace("-", "_").replace(".", "_")
    # ~120-byte payload per row: the shuffle cost a CDC snapshot
    # actually pays is row-width × rows over the network — narrow
    # 16-byte rows would hide it behind parquet-write overheads
    pay = F.concat(F.lit("x" * 112), F.col("id").cast("string"))
    state = spark.range(n).select(
        F.col("id").alias("k"), pay.alias("val")
    )
    batch = spark.range(1_000).select(
        (F.col("id") * (n // 1_000)).alias("k"),
        F.lit("updated").alias("val"),
        (F.col("id") % 10 == 0).alias("dead"),
    )
    plain_dir = os.path.join(tempfile.gettempdir(), f"cdcm_plain_{app}")
    state_dir = os.path.join(tempfile.gettempdir(), f"cdcm_state_{app}")
    state.write.mode("overwrite").parquet(state_dir)
    base = spark.read.parquet(state_dir)
    t0 = time.perf_counter()
    upsert(base, batch, "k", tombstone_col="dead",
           broadcast_updates=False).write.mode("overwrite").parquet(plain_dir)
    t_plain = time.perf_counter() - t0
    state_t, out_t = f"b8p_state_{app}", f"b8p_out_{app}"
    write_bucketed(base, state_t, "k", num_buckets=32)  # paid-once ingest
    t0 = time.perf_counter()
    upsert_bucketed(spark, state_t, batch, "k", out_t,
                    num_buckets=32, tombstone_col="dead")
    t_bucketed = time.perf_counter() - t0
    a = spark.read.parquet(plain_dir)
    b = spark.table(out_t)
    assert a.count() == b.count() and a.subtract(b).count() == 0
    print(json.dumps({
        "mode": "cdcmerge", "replication": replication, "snapshot_rows": n,
        "plain_merge_sec": round(t_plain, 2),
        "bucketed_merge_sec": round(t_bucketed, 2),
    }))
    for t_name in (state_t, out_t):
        spark.sql(f"DROP TABLE IF EXISTS {t_name}")
    import shutil
    shutil.rmtree(plain_dir, ignore_errors=True)
    shutil.rmtree(state_dir, ignore_errors=True)
    spark.stop()


def rangejoin_probe(replication: int) -> None:
    """Data-scaling sweep for binned_range_join vs the naive theta
    join (broadcast disabled — both sides 'big'). Synthetic axis:
    N×1k overlapping intervals of width 1500, N×100k points spread
    over the same span, bin_width 1500 — matched pairs grow linearly.
    The binned form should scale ~linearly in N; the naive
    BroadcastNestedLoopJoin compares |iv|×|pts| pairs (quadratic in
    N), so it is only measured at small N to anchor the contrast."""
    from pyspark.sql import functions as F

    from team_02_spark import get_spark
    from team_02_spark.operators.scale import binned_range_join

    spark = get_spark(f"scaling-rangejoin-{replication}x")
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    n_iv = 1_000 * replication
    n_pt = 100_000 * replication
    span = n_iv * 997 + 1500
    iv = (
        spark.range(n_iv)
        .select(
            F.col("id").alias("iv_id"),
            (F.col("id") * 997).alias("lo"),
            (F.col("id") * 997 + 1500).alias("hi"),
        )
        .repartition(32)
        .persist()
    )
    pts = (
        spark.range(n_pt)
        .select(
            F.col("id").alias("pt_id"),
            F.floor(F.col("id") * float(span) / n_pt).cast("long").alias("p"),
        )
        .repartition(32)
        .persist()
    )
    iv.count(), pts.count()  # warm

    res = {
        "mode": "rangejoin", "replication": replication,
        "n_intervals": n_iv, "n_points": n_pt,
    }
    t0 = time.perf_counter()
    res["n_pairs"] = binned_range_join(
        iv, pts, "lo", "hi", "p", bin_width=1500
    ).count()
    res["binned_sec"] = round(time.perf_counter() - t0, 2)

    if replication <= 4:  # naive is quadratic — anchor only
        t0 = time.perf_counter()
        naive_pairs = iv.join(
            pts, (F.col("p") >= F.col("lo")) & (F.col("p") <= F.col("hi"))
        ).count()
        res["naive_sec"] = round(time.perf_counter() - t0, 2)
        assert naive_pairs == res["n_pairs"], (naive_pairs, res["n_pairs"])
    print(json.dumps(res))
    spark.stop()


def hybrid_probe(replication: int) -> None:
    """Data-scaling sweep for the hybrid-retrieval lane (q_rrf_hybrid):
    documents AND embeddings replicated N× under fresh ids. The scale
    claim under test: each lane reduces to its top-50 candidates via
    TakeOrderedAndProject — the BM25 side is a token-keyed aggregate
    over the corpus and the cosine side one broadcast-probe scan, so
    wall-clock should track corpus size ~linearly with NO global-sort
    or window-over-everything term appearing as corpus grows."""
    import os
    import tempfile

    from pyspark.sql import functions as F

    from team_02_spark import get_spark
    from team_02_spark.queries import QUERIES

    spark = get_spark(f"scaling-hybrid-{replication}x")
    spark.sparkContext.setLogLevel("ERROR")
    src = "/root/testdata/sf0.1"
    out = os.path.join(tempfile.gettempdir(), f"scaling_hybrid_{replication}x")
    if not os.path.exists(os.path.join(out, ".done")):
        os.makedirs(out, exist_ok=True)
        docs = spark.read.parquet(f"{src}/documents.parquet")
        emb = spark.read.parquet(f"{src}/embeddings.parquet")
        n_doc = docs.agg(F.max("doc_id")).first()[0] + 1
        n_vec = emb.agg(F.max("vec_id")).first()[0] + 1
        d_all, e_all = docs, emb
        for i in range(1, replication):
            d_all = d_all.unionByName(
                docs.withColumn("doc_id", F.col("doc_id") + F.lit(i * n_doc))
            )
            # vec_id 0 is the probe vector; replicas keep fresh ids so
            # only the original probe row drives the semantic lane
            e_all = e_all.unionByName(
                emb.withColumn("vec_id", F.col("vec_id") + F.lit(i * n_vec))
            )
        d_all.repartition(32).write.mode("overwrite").parquet(
            os.path.join(out, "documents.parquet"))
        e_all.repartition(32).write.mode("overwrite").parquet(
            os.path.join(out, "embeddings.parquet"))
        for t_name in ("region nation customer supplier part orders "
                       "lineitem events").split():
            link = os.path.join(out, f"{t_name}.parquet")
            if not os.path.exists(link):
                os.symlink(os.path.join(src, f"{t_name}.parquet"), link)
        open(os.path.join(out, ".done"), "w").close()

    for t_name in ("documents", "embeddings"):
        spark.read.parquet(os.path.join(out, f"{t_name}.parquet")).write.format(
            "noop").mode("overwrite").save()  # warm
    n_docs = spark.read.parquet(os.path.join(out, "documents.parquet")).count()

    t0 = time.perf_counter()
    QUERIES["q_rrf_hybrid"].fn(spark, out).write.format("noop").mode(
        "overwrite").save()
    rrf_s = time.perf_counter() - t0
    print(json.dumps({
        "mode": "hybrid", "replication": replication,
        "n_docs": n_docs, "rrf_sec": round(rrf_s, 2),
    }))
    spark.stop()


def dsir_probe(replication: int) -> None:
    """Data-scaling sweep for the DSIR selection lane: documents
    replicated N× under fresh ids (source labels preserved, so the
    target slice grows with the corpus — the realistic regime). The
    lane is three token-keyed shuffles + one broadcast of 1-row
    totals; wall-clock should track corpus size ~linearly with no
    per-doc or per-token driver state."""
    from pyspark.sql import functions as F

    from team_02_spark import get_spark
    from team_02_spark.queries import QUERIES

    spark = get_spark(f"scaling-dsir-{replication}x")
    spark.sparkContext.setLogLevel("ERROR")
    src = "/root/testdata/sf0.1"
    out = os.path.join(tempfile.gettempdir(), f"scaling_dsir_{replication}x")
    if not os.path.exists(os.path.join(out, ".done")):
        os.makedirs(out, exist_ok=True)
        docs = spark.read.parquet(f"{src}/documents.parquet")
        n_doc = docs.agg(F.max("doc_id")).first()[0] + 1
        d_all = docs
        for i in range(1, replication):
            d_all = d_all.unionByName(
                docs.withColumn("doc_id", F.col("doc_id") + F.lit(i * n_doc))
            )
        d_all.repartition(32).write.mode("overwrite").parquet(
            os.path.join(out, "documents.parquet"))
        for t_name in ("region nation customer supplier part orders "
                       "lineitem events embeddings").split():
            link = os.path.join(out, f"{t_name}.parquet")
            if not os.path.exists(link):
                os.symlink(os.path.join(src, f"{t_name}.parquet"), link)
        open(os.path.join(out, ".done"), "w").close()

    spark.read.parquet(os.path.join(out, "documents.parquet")).write.format(
        "noop").mode("overwrite").save()  # warm
    n_docs = spark.read.parquet(os.path.join(out, "documents.parquet")).count()
    t0 = time.perf_counter()
    QUERIES["q_dsir_select"].fn(spark, out).write.format("noop").mode(
        "overwrite").save()
    dsir_s = time.perf_counter() - t0
    print(json.dumps({
        "mode": "dsir", "replication": replication,
        "n_docs": n_docs, "dsir_sec": round(dsir_s, 2),
    }))
    spark.stop()


def skew_probe(replication: int) -> None:
    """Adversarial-skew sweep for salted_join: a synthetic fact table
    (N×2M rows) with 90% of rows on ONE key, joined to a 10k-row dim,
    with AQE's skew splitting DISABLED on both paths so the probe
    isolates the salting transform itself (on a real cluster AQE is
    the first line of defense and salting the explicit fallback).
    Records plain-join vs salted-join wall-clock and verifies equal
    output counts — the salted path should hold roughly flat per-row
    while the plain path is bounded by the single hot task."""
    from pyspark.sql import functions as F

    from team_02_spark import get_spark
    from team_02_spark.operators.skew import salted_join

    spark = get_spark(f"scaling-skew-{replication}x", extra_conf={
        "spark.sql.adaptive.skewJoin.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    })
    spark.sparkContext.setLogLevel("ERROR")
    n_fact = 2_000_000 * replication
    hot_share = 0.9
    fact = (
        spark.range(n_fact)
        .select(
            F.when(F.col("id") % 10 < int(hot_share * 10), F.lit(7))
            .otherwise(F.pmod(F.col("id"), F.lit(10_000))).alias("k"),
            (F.col("id") % 97).alias("v"),
        )
        .repartition(32)
        .persist()
    )
    dim = spark.range(10_000).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("attr")
    ).persist()
    fact.count(), dim.count()  # warm

    t0 = time.perf_counter()
    n_plain = fact.join(dim, "k").count()
    plain_s = time.perf_counter() - t0

    t0 = time.perf_counter()
    n_salted = salted_join(fact, dim, "k", salt=32).count()
    salted_s = time.perf_counter() - t0
    assert n_plain == n_salted, (n_plain, n_salted)

    print(json.dumps({
        "mode": "skew", "replication": replication, "n_fact": n_fact,
        "hot_share": hot_share, "plain_sec": round(plain_s, 2),
        "salted_sec": round(salted_s, 2), "n_out": n_plain,
    }))
    spark.stop()


def bigram_lm_probe(replication: int) -> None:
    """Data-scaling sweep for the bigram-LM lane (q_bigram_lm shape):
    sf0.1 documents replicated Nx under fresh doc_ids (same text, so
    the VOCAB and both count tables are CONSTANT while the pair stream
    grows Nx). The property under test: scoring cost grows only with
    the corpus scan + pair shuffle — the count-table joins never become
    corpus-sized, so runtime is near-linear in N."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from team_02_spark import get_spark

    spark = get_spark(f"scaling-bigramlm-{replication}x")
    spark.sparkContext.setLogLevel("ERROR")
    base = spark.read.parquet("/root/testdata/sf0.1/documents.parquet").select(
        "doc_id", "text"
    )
    n = base.count()
    df = base
    for i in range(1, replication):
        df = df.unionByName(
            base.select((F.col("doc_id") + F.lit(i * n)).alias("doc_id"), "text")
        )
    df = df.repartition(32).persist()
    df.write.format("noop").mode("overwrite").save()  # warm

    toks = df.select(
        "doc_id",
        F.filter(F.split(F.lower(F.col("text")), r"\s+"), lambda x: x != "").alias("tk"),
    )
    exploded = toks.select("doc_id", F.posexplode("tk").alias("pos", "w"))
    w = Window.partitionBy("doc_id").orderBy("pos")
    pairs = exploded.select(
        "doc_id", F.col("w").alias("w1"), F.lead("w").over(w).alias("w2")
    ).filter(F.col("w2").isNotNull())
    t0 = time.perf_counter()
    first_counts = pairs.groupBy("w1").agg(F.count("*").alias("n_first"))
    bg_counts = pairs.groupBy("w1", "w2").agg(F.count("*").alias("n_xy"))
    scored = (
        pairs.join(bg_counts, ["w1", "w2"])
        .join(first_counts, ["w1"])
        .select("doc_id", F.expr("n_xy * 1000000000 DIV n_first").alias("p_e9"))
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_bigrams"),
             F.expr("CAST(SUM(p_e9) AS BIGINT) DIV COUNT(*)").alias("avg_p_e9"))
    )
    scored.write.format("noop").mode("overwrite").save()
    score_s = time.perf_counter() - t0
    vocab = bg_counts.count()
    print(json.dumps({
        "mode": "bigram_lm", "replication": replication,
        "score_sec": round(score_s, 2), "bigram_vocab_rows": vocab,
        "docs": n * replication,
    }))
    spark.stop()


def basket_probe(replication: int) -> None:
    """Data-scaling sweep for the market-basket / association-rules
    lanes: the sf0.1 (order, part) item set replicated Nx under fresh
    orderkeys — baskets grow Nx while the per-basket size distribution
    is CONSTANT. The property under test: candidate pairs are bounded
    per basket (sum of C(|basket|,2)), so pair generation and the rule
    joins scale linearly with baskets — never corpus-quadratically."""
    from pyspark.sql import functions as F

    from team_02_spark import get_spark

    spark = get_spark(f"scaling-basket-{replication}x")
    spark.sparkContext.setLogLevel("ERROR")
    base = (
        spark.read.parquet("/root/testdata/sf0.1/lineitem.parquet")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    span = base.agg(F.max("l_orderkey")).collect()[0][0] + 1
    df = base
    for i in range(1, replication):
        df = df.unionByName(
            base.select(
                (F.col("l_orderkey") + F.lit(i * span)).alias("l_orderkey"),
                "l_partkey",
            )
        )
    df = df.repartition(32).persist()
    df.write.format("noop").mode("overwrite").save()  # warm

    t0 = time.perf_counter()
    a, b = df.alias("a"), df.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(F.col("a.l_partkey").alias("x"), F.col("b.l_partkey").alias("y"))
        .agg(F.count("*").alias("n_xy"))
    )
    n_pairs = pairs.agg(F.sum("n_xy").alias("s")).collect()[0]["s"]
    pair_s = time.perf_counter() - t0
    print(json.dumps({
        "mode": "basket", "replication": replication,
        "pair_sec": round(pair_s, 2),
        "candidate_pairs": int(n_pairs),
        "baskets": int(df.select("l_orderkey").distinct().count()),
    }))
    spark.stop()


def kmeans_probe(replication: int) -> None:
    """Clustering-lane sweep: (a) kmeans_assign end-to-end on the
    sf0.1 embeddings replicated Nx (fresh vec_ids, vector VALUES
    repeat — the build_sf1 convention), expecting scan-linear
    wall-clock: every per-iteration structure (k-row broadcast, k*d
    update output) is corpus-size-independent; (b) the SemDeDup
    adversarial clone shape — ONE vector cloned 20k x on top of the
    base corpus — where the k dial is useless (identical points
    co-cluster at any k) and only the exact pre-collapse keeps the
    within-cluster pair join off a C(20k,2) single key. (b) is
    fixed-size by design: the point is the measured constant."""
    import tempfile

    from pyspark.sql import functions as F

    from team_02_spark import get_spark
    from team_02_spark.operators.clustering import kmeans_assign
    from team_02_spark.queries import QUERIES

    spark = get_spark(f"scaling-kmeans-{replication}x")
    spark.sparkContext.setLogLevel("ERROR")
    base = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
    n = base.count()
    corp = base
    for i in range(1, replication):
        corp = corp.unionByName(
            base.select((F.col("vec_id") + i * n).alias("vec_id"),
                        "embedding", "label")
        )
    corp = corp.repartition(32).persist()
    total = corp.count()
    corp.write.format("noop").mode("overwrite").save()  # warm

    t0 = time.perf_counter()
    asg = kmeans_assign(corp, "embedding", "vec_id", k=8, iters=2)
    asg.write.format("noop").mode("overwrite").save()
    kmeans_s = time.perf_counter() - t0

    # (b) clone-adversarial SemDeDup via the real query on a temp dir
    hot = base.filter(F.col("vec_id") == 0).first()
    clones = spark.range(20_000).select(
        (F.col("id") + 10_000_000).alias("vec_id"),
        F.lit(hot["embedding"]).alias("embedding"),
        F.lit(0).alias("label"),
    )
    tmp = tempfile.mkdtemp(prefix="kmeans_probe_")
    base.unionByName(clones.select("vec_id", "embedding", "label")) \
        .write.mode("overwrite").parquet(f"{tmp}/embeddings.parquet")
    t0 = time.perf_counter()
    kept = QUERIES["q_semdedup"].fn(spark, tmp).count()
    sem_s = time.perf_counter() - t0

    print(json.dumps({
        "mode": "kmeans", "replication": replication, "n_vecs": total,
        "kmeans_sec": round(kmeans_s, 2),
        "semdedup_clone20k_sec": round(sem_s, 2),
        "semdedup_kept": kept,
    }))
    spark.stop()


def main() -> None:
    mode, arg = sys.argv[1], int(sys.argv[2])
    if mode == "skew":
        skew_probe(arg)
        return
    if mode == "relational":
        relational_probe(arg)
        return
    if mode == "dsir":
        dsir_probe(arg)
        return
    if mode == "rangejoin":
        rangejoin_probe(arg)
        return
    if mode == "hybrid":
        hybrid_probe(arg)
        return
    if mode == "pq":
        pq_probe(arg)
        return
    if mode == "pqcut":
        pqcut_probe(arg)
        return
    if mode == "twolevel":
        twolevel_probe(arg)
        return
    if mode == "twolevelcascade":
        twolevel_cascade_probe(arg)
        return
    if mode == "prunedial":
        prune_dial_probe(arg)
        return
    if mode == "prunedialnoise":
        prune_dial_probe(arg, noise_eps=0.02)
        return
    if mode == "embedding":
        embedding_probe(arg)
        return
    if mode == "knnlsh":
        knnlsh_probe(arg)
        return
    if mode == "minhash":
        minhash_probe(arg)
        return
    if mode == "simhash":
        simhash_probe(arg)
        return
    if mode == "lshcurve":
        lshcurve_probe(arg)
        return
    if mode == "pairs":
        pairs_probe(arg)
        return
    if mode == "graph":
        graph_probe(arg)
        return
    if mode == "triangles":
        triangles_probe(arg)
        return
    if mode == "bfs":
        bfs_probe(arg)
        return
    if mode == "interval":
        interval_probe(arg)
        return
    if mode == "saltint":
        saltint_probe(arg)
        return
    if mode == "cdcmerge":
        cdcmerge_probe(arg)
        return
    if mode == "ranktest":
        ranktest_probe(arg)
        return
    if mode == "journey":
        journey_probe(arg)
        return
    from team_02_spark import get_spark

    if mode == "cms":
        cms_probe(arg)
        return
    if mode == "bigram_lm":
        bigram_lm_probe(arg)
        return
    if mode == "kmeans":
        kmeans_probe(arg)
        return
    if mode == "basket":
        basket_probe(arg)
        return
    if mode == "substring":
        substring_probe(arg)
        return
    if mode == "data":
        spark = get_spark(f"scaling-data-{arg}x")
        spark.sparkContext.setLogLevel("ERROR")
        path = build_corpus(spark, arg)
        n = spark.read.parquet(path).count()
        res = {"mode": "data", "replication": arg, "n_docs": n, "cores": 32}
    elif mode != "cores":
        # a typo'd/unwired mode must fail loudly, not silently run the
        # cores sweep with the arg as a core count (burned once in r10)
        raise SystemExit(f"unknown probe mode {mode!r}")
    else:
        spark = get_spark(f"scaling-cores-{arg}", master=f"local[{arg}]")
        spark.sparkContext.setLogLevel("ERROR")
        path = build_corpus(spark, 16)
        n = spark.read.parquet(path).count()
        res = {"mode": "cores", "cores": arg, "n_docs": n}
    res.update(workload(spark, path))
    print(json.dumps(res))
    spark.stop()




def relational_probe(replication: int) -> None:
    """Replicate lineitem (600k rows at sf0.1) and run the relational
    headline shapes: q1-style agg, 3-way broadcast join, running
    window. Prints one JSON line."""
    from pyspark.sql import Window, functions as F

    from team_02_spark import get_spark

    spark = get_spark(f"scaling-rel-{replication}x")
    spark.sparkContext.setLogLevel("ERROR")
    out = os.path.join(tempfile.gettempdir(), f"scaling_li_{replication}x")
    if not os.path.exists(out):
        base = spark.read.parquet("/root/testdata/sf0.1/lineitem.parquet")
        n = base.count()
        df = base
        for i in range(1, replication):
            df = df.unionByName(
                base.withColumn("l_orderkey", F.col("l_orderkey") + F.lit(i * 10_000_000))
            )
        df.repartition(32).write.mode("overwrite").parquet(out)
    li = spark.read.parquet(out)
    n_rows = li.count()
    res = {"mode": "relational", "replication": replication, "n_rows": n_rows}

    t0 = time.perf_counter()
    (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(18,4)")).cast("double").alias("sq"),
            F.count("*").alias("n"),
        )
        .write.format("noop").mode("overwrite").save()
    )
    res["agg_sec"] = round(time.perf_counter() - t0, 2)

    orders = spark.read.parquet("/root/testdata/sf0.1/orders.parquet")
    cust = spark.read.parquet("/root/testdata/sf0.1/customer.parquet")
    t0 = time.perf_counter()
    (
        li.withColumn("l_orderkey", F.pmod(F.col("l_orderkey"), F.lit(10_000_000)))
        .join(F.broadcast(orders), F.col("l_orderkey") == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("c_mktsegment")
        .agg(F.sum(F.col("l_extendedprice").cast("decimal(18,4)")).cast("double").alias("rev"))
        .write.format("noop").mode("overwrite").save()
    )
    res["join_sec"] = round(time.perf_counter() - t0, 2)

    w = Window.partitionBy("l_orderkey").orderBy("l_linenumber").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    t0 = time.perf_counter()
    li.select(
        "l_orderkey",
        F.sum(F.col("l_quantity").cast("decimal(18,4)")).over(w).alias("run"),
    ).write.format("noop").mode("overwrite").save()
    res["window_sec"] = round(time.perf_counter() - t0, 2)
    print(json.dumps(res))
    spark.stop()




def _replicate_embeddings(spark, replication: int):
    """sf0.1 embeddings replicated N× under fresh ids — the shared
    vector-corpus recipe for the pq/pqcut/twolevel probes (one
    definition so an id-collision or partitioning fix applies to all
    of them). Returns (base_frame, replicated_persisted_frame,
    total_rows)."""
    from pyspark.sql import functions as F

    base = spark.read.parquet(
        "/root/testdata/sf0.1/embeddings.parquet"
    ).select("vec_id", "embedding")
    n = base.count()
    df = base
    for i in range(1, replication):
        df = df.unionByName(
            base.select((F.col("vec_id") + F.lit(i * n)).alias("vec_id"),
                        "embedding")
        )
    df = df.repartition(32).persist()
    return base, df, df.count()


def pq_probe(replication: int) -> None:
    """Data-scaling sweep for the PQ lane: embeddings replicated N×
    under fresh ids, codebooks trained once per corpus, then the two
    production costs measured — full-corpus encode (the index build, a
    pure map) and shortlist+rerank search for 5 probes. Both should
    track corpus size ~linearly: encode is map-only, search's corpus
    side is codes-only with a per-query top-k window."""
    from pyspark.sql import functions as F

    from team_02_spark import get_spark
    from team_02_spark.operators.similarity import (
        fit_pq_codebooks,
        pq_encode,
        pq_search_rerank,
    )

    spark = get_spark(f"scaling-pq-{replication}x")
    spark.sparkContext.setLogLevel("ERROR")
    base, df, total = _replicate_embeddings(spark, replication)

    books = fit_pq_codebooks(df, m=8, n_codes=16)
    t0 = time.perf_counter()
    encoded = pq_encode(df, books).select("vec_id", "pq_codes").persist()
    encoded.write.format("noop").mode("overwrite").save()
    enc_s = time.perf_counter() - t0

    probes = base.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    t0 = time.perf_counter()
    pq_search_rerank(probes, encoded, df, books, k=10).write.format(
        "noop").mode("overwrite").save()
    search_s = time.perf_counter() - t0
    print(json.dumps({
        "mode": "pq", "replication": replication, "n_vectors": total,
        "encode_sec": round(enc_s, 2), "search_sec": round(search_s, 2),
    }))
    spark.stop()


def twolevel_probe(replication: int) -> None:
    """Second decade point for kmeans_assign_twolevel at the derived-k
    shape (r12 verdict optional #8): sf0.1 embeddings replicated N×
    under fresh ids, target_cluster_size=25, so k_total = 80·N (N=100
    → k=8000, the ~90×89 production shape). Confirms the √k per-row
    slope holds past the first crossover (flat assignment at this
    shape would be ~k/(kc+kf) ≈ 45× more multiplies per row — not run:
    it extrapolates to ~40 min on this box from the r12 k=800 point).
    Best-of-2, assignment materialized through the noop sink."""
    from team_02_spark import get_spark
    from team_02_spark.operators.clustering import (
        adaptive_k,
        kmeans_assign_twolevel,
        twolevel_split,
    )

    spark = get_spark(f"scaling-twolevel-{replication}x")
    spark.sparkContext.setLogLevel("ERROR")
    _, df, total = _replicate_embeddings(spark, replication)
    k_total = adaptive_k(total, 25)
    kc, kf = twolevel_split(k_total)

    runs = []
    for _ in range(2):
        t0 = time.perf_counter()
        kmeans_assign_twolevel(
            df, "embedding", "vec_id", iters=2, target_cluster_size=25
        ).write.format("noop").mode("overwrite").save()
        runs.append(round(time.perf_counter() - t0, 2))
    print(json.dumps({
        "mode": "twolevel", "replication": replication, "n_vectors": total,
        "k_total": k_total, "k_coarse": kc, "k_fine": kf,
        "runs_sec": runs, "best_sec": min(runs),
    }))
    spark.stop()


def twolevel_cascade_probe(replication: int) -> None:
    """Second decade point for the FULL SemDeDup cascade on the
    two-level derived-k assignment (r13 verdict #6: the assignment was
    measured at 100× in r13, the cascade — collapse + within-cluster
    pair prune + survivor anti-join on top of it — was not). Runs the
    EXACT declared lane: the replicated corpus is written as
    ``embeddings.parquet`` under a temp sf-dir and
    ``q_semdedup_twolevel``'s registered fn is called on it, so the
    measured plan is byte-identical to the driver's/bench's (scan
    included). N=100 → k_total=8000 (kc=90, kf=89), the production
    shape. Best-of-2 through the noop sink; the r13 assignment-only
    reading at the same N isolates the cascade's own overhead by
    subtraction."""
    import shutil
    import tempfile

    from team_02_spark import get_spark
    from team_02_spark.operators.clustering import adaptive_k, twolevel_split
    from team_02_spark.queries import QUERIES

    spark = get_spark(f"scaling-twolevelcascade-{replication}x")
    spark.sparkContext.setLogLevel("ERROR")
    _, df, total = _replicate_embeddings(spark, replication)
    k_total = adaptive_k(total, 25)
    kc, kf = twolevel_split(k_total)

    tmp = tempfile.mkdtemp(prefix="twolevelcascade_")
    try:
        df.write.mode("overwrite").parquet(f"{tmp}/embeddings.parquet")
        fn = QUERIES["q_semdedup_twolevel"].fn
        runs = []
        for _ in range(2):
            t0 = time.perf_counter()
            fn(spark, tmp).write.format("noop").mode("overwrite").save()
            runs.append(round(time.perf_counter() - t0, 2))
        print(json.dumps({
            "mode": "twolevelcascade", "replication": replication,
            "n_vectors": total, "k_total": k_total, "k_coarse": kc,
            "k_fine": kf, "runs_sec": runs, "best_sec": min(runs),
        }))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    spark.stop()


def prune_dial_probe(replication: int,
                     noise_eps: float | None = None) -> None:
    """target_cluster_size sizing study for the SemDeDup cascade (r13
    verdict optional #7a / r14 verdict #6): fixed corpus (sf0.1
    embeddings replicated N×), the two-level derived-k cascade run at
    target ∈ {10, 25, 50, 100}. The dial trades the two stages
    against each other: k_total = n/target, so a SMALLER target means
    more clusters (assignment per-row work ~√k grows) but fewer pair
    candidates per cluster (prune work ~n·target/2 falls); a LARGER
    target the reverse.

    Two modes, one scaffold (r15 self-review: they must measure the
    SAME pipeline):

    - ``noise_eps=None`` (mode "prunedial"): bytewise replicas,
      best-of-2 walls — the COST study. Copies collapse in the exact
      pre-collapse stage, so survivors are constant by construction.
    - ``noise_eps=0.02`` (mode "prunedialnoise"): each replica gets
      small deterministic per-component noise (xxhash64(new_vec_id,
      dim) → uniform·eps relative; cosine(copy, base) ≥ ~0.999), so
      copies survive the exact collapse and must be caught by the
      within-cluster cosine ≥ 0.95 prune — the RECALL study. Ground
      truth is planted: ideal dedup prunes all (N−1)·n_base copies
      (the base row, min vec_id, is the keeper), so planted_recall =
      1 − surviving_copies/planted reads what the dial trades away
      (a copy split across a cluster boundary from its base is
      invisible to SemDeDup by design)."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from team_02_spark import get_spark
    from team_02_spark.operators.clustering import adaptive_k, twolevel_split
    from team_02_spark.queries.vector_queries import _semdedup_frame

    mode = "prunedialnoise" if noise_eps else "prunedial"
    spark = get_spark(f"scaling-{mode}-{replication}x")
    spark.sparkContext.setLogLevel("ERROR")
    if noise_eps is None:
        base, df, total = _replicate_embeddings(spark, replication)
        n0 = base.count()
    else:
        base = spark.read.parquet(
            "/root/testdata/sf0.1/embeddings.parquet"
        ).select("vec_id", "embedding")
        n0 = base.count()
        emb_type = base.schema["embedding"].dataType.simpleString()
        df = base
        for i in range(1, replication):
            # per-(new id, dim) uniform in [-1, 1]; relative noise
            # keeps zero components zero (a zero vector stays
            # bytewise-equal and is handled by the exact collapse)
            df = df.unionByName(base.select(
                (F.col("vec_id") + F.lit(i * n0)).alias("vec_id"),
                F.transform(
                    "embedding",
                    lambda x, j: x * (
                        1.0 + noise_eps * (F.pmod(
                            F.xxhash64(F.col("vec_id") + F.lit(i * n0), j),
                            F.lit(1001)).cast("double") / 500.0 - 1.0)
                    ),
                ).cast(emb_type).alias("embedding"),
            ))
        df = df.repartition(32).persist()
        total = df.count()
    planted = (replication - 1) * n0
    tmp = tempfile.mkdtemp(prefix=f"{mode}_")
    out = {"mode": mode, "replication": replication, "n_base": n0,
           "n_vectors": total, "points": []}
    if noise_eps:
        out["planted_copies"] = planted
        out["eps"] = noise_eps
    try:
        df.write.mode("overwrite").parquet(f"{tmp}/embeddings.parquet")
        for target in (10, 25, 50, 100):
            k_total = adaptive_k(total, target)
            kc, kf = twolevel_split(k_total)
            runs, survivors = [], None
            # recall mode is deterministic — one run; cost mode keeps
            # the r14 best-of-2 wall discipline
            for _ in range(1 if noise_eps else 2):
                t0 = time.perf_counter()
                frame = _semdedup_frame(spark, tmp, two_level=True,
                                        target_cluster_size=target)
                if noise_eps:
                    frame = frame.persist()
                survivors = frame.count()
                runs.append(round(time.perf_counter() - t0, 2))
            point = {
                "target": target, "k_total": k_total, "kc": kc, "kf": kf,
                "survivors": survivors, "runs_sec": runs,
                "best_sec": min(runs),
            }
            if noise_eps:
                surviving_copies = frame.filter(
                    F.col("vec_id") >= n0).count()
                frame.unpersist()
                point["surviving_copies"] = surviving_copies
                point["planted_recall"] = round(
                    1 - surviving_copies / planted, 4)
            out["points"].append(point)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    print(json.dumps(out))
    spark.stop()


def pqcut_probe(replication: int) -> None:
    """Before/after best-of-3 of the r12 partial-rank commit on the
    PQ/IVF serving lanes (r12 verdict #1: the commit touched
    pq_search_adc / ivf_topk but the changed-lane bench check skipped
    them, and the official BENCH_r12 read q_pq_search at 16.1 s — 9x
    its band — in a session the calibration instrument showed was
    contaminated). This probe pins the lane's own measurement: the
    exact q_pq_search shape (codebook fit excluded — it's identical
    either way; encode + shortlist + rerank timed) and a knn_ivf
    point, each best-of-3 WITH and WITHOUT partial_topk, on the
    sf0.1 corpus replicated N x under fresh ids."""
    from pyspark.sql import functions as F

    from team_02_spark import get_spark
    from team_02_spark.operators.similarity import (
        fit_pq_codebooks,
        knn_ivf,
        pq_encode,
        pq_search_rerank,
    )

    spark = get_spark(f"scaling-pqcut-{replication}x")
    spark.sparkContext.setLogLevel("ERROR")
    base, df, total = _replicate_embeddings(spark, replication)
    probes = base.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )

    books = fit_pq_codebooks(df, m=8, n_codes=16)
    encoded = pq_encode(df, books).select("vec_id", "pq_codes").persist()
    encoded.count()

    def best3(fn) -> float:
        times = []
        for _ in range(3):
            t0 = time.perf_counter()
            fn().write.format("noop").mode("overwrite").save()
            times.append(time.perf_counter() - t0)
        return round(min(times), 3)

    res = {"mode": "pqcut", "replication": replication, "n_vectors": total}
    for cut in (True, False):
        res[f"pq_rerank_cut_{str(cut).lower()}_sec"] = best3(
            lambda: pq_search_rerank(probes, encoded, df, books, k=10,
                                     partial_cut=cut)
        )
    # the knn_ivf point (its cut has no toggle — it IS the production
    # path; measured for the band record the verdict asked for)
    res["knn_ivf_sec"] = best3(lambda: knn_ivf(probes, df, 10))
    print(json.dumps(res))
    spark.stop()


if __name__ == "__main__":
    main()
