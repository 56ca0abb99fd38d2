"""Core relational queries: project / filter / union / distinct /
dedup / set ops / sampling / split (SURVEY.md §2.2, §2.3).

Scale notes per query are in the docstrings; the common theme: filters
and projections are plain Column expressions that Catalyst pushes into
the parquet scan (PushedFilters / ReadSchema), so these run at scan
speed regardless of table size.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from team_02_spark.operators.relational import (
    deterministic_split,
    stratified_sample_exact,
    union_all,
)
from team_02_spark.queries.registry import query
from team_02_spark.queries._util import t


@query(
    "q_project",
    oracle="SELECT doc_id, lang, source, n_chars FROM documents",
)
def q_project(spark, sf_dir):
    """P1/P2: column projection — prunes the wide `text` column at the
    scan (ReadSchema shows only 4 columns)."""
    return t(spark, sf_dir, "documents").select("doc_id", "lang", "source", "n_chars")


@query(
    "q_filter_eq",
    oracle="SELECT doc_id, lang, n_chars FROM documents WHERE lang = 'en'",
)
def q_filter_eq(spark, sf_dir):
    """P3: equality filter (reference sentiment==4/==0 pattern,
    src/main.py:68-69) — pushed to parquet row-group stats."""
    return (
        t(spark, sf_dir, "documents")
        .filter(F.col("lang") == "en")
        .select("doc_id", "lang", "n_chars")
    )


@query(
    "q_filter_compound",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_discount, l_returnflag
    FROM lineitem
    WHERE l_quantity > 25
      AND l_returnflag IN ('A', 'R')
      AND l_discount BETWEEN 0.02 AND 0.08
    """,
)
def q_filter_compound(spark, sf_dir):
    """P4: conjunction of range / IN / between predicates — all pushed
    down as one AND'd PushedFilters list."""
    li = t(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_quantity") > 25)
        & F.col("l_returnflag").isin("A", "R")
        & F.col("l_discount").between(0.02, 0.08)
    ).select("l_orderkey", "l_linenumber", "l_quantity", "l_discount", "l_returnflag")


@query(
    "q_union_all",
    oracle="""
    SELECT doc_id, lang FROM documents WHERE lang = 'en'
    UNION ALL
    SELECT doc_id, lang FROM documents WHERE lang = 'fr'
    """,
)
def q_union_all(spark, sf_dir):
    """M2: duplicate-preserving vertical concat (pandas concat
    semantics, reference src/main.py:70)."""
    docs = t(spark, sf_dir, "documents")
    en = docs.filter(F.col("lang") == "en").select("doc_id", "lang")
    fr = docs.filter(F.col("lang") == "fr").select("doc_id", "lang")
    return union_all(en, fr)


@query(
    "q_distinct",
    oracle="SELECT DISTINCT lang, source FROM documents",
)
def q_distinct(spark, sf_dir):
    """M3: distinct — map-side partial dedup then one shuffle on the
    pair; AQE coalesces the post-shuffle partitions."""
    return t(spark, sf_dir, "documents").select("lang", "source").distinct()


@query(
    "q_dedup_exact",
    oracle="""
    SELECT doc_id, text FROM (
        SELECT doc_id, text,
               ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        FROM documents
    ) d WHERE rn = 1
    """,
)
def q_dedup_exact(spark, sf_dir):
    """M3 content dedup: one survivor (min doc_id) per distinct text;
    shuffle key is md5(text) so wide text bytes shuffle once, hashed."""
    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    w = Window.partitionBy(F.md5(F.col("text"))).orderBy("doc_id")
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


@query(
    "q_intersect",
    oracle="""
    SELECT source FROM documents WHERE lang = 'en'
    INTERSECT
    SELECT source FROM documents WHERE lang = 'fr'
    """,
)
def q_intersect(spark, sf_dir):
    """M5: set intersection (distinct semantics, both engines)."""
    docs = t(spark, sf_dir, "documents")
    return (
        docs.filter(F.col("lang") == "en").select("source")
        .intersect(docs.filter(F.col("lang") == "fr").select("source"))
    )


@query(
    "q_except",
    oracle="""
    SELECT c_custkey FROM customer
    EXCEPT
    SELECT o_custkey AS c_custkey FROM orders
    """,
)
def q_except(spark, sf_dir):
    """M5: set difference — customers that never ordered."""
    cust = t(spark, sf_dir, "customer").select("c_custkey")
    ordered = t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("c_custkey"))
    return cust.subtract(ordered)


@query(
    "q_sample_stratified",
    oracle="""
    SELECT doc_id, lang FROM (
        SELECT doc_id, lang,
               ROW_NUMBER() OVER (
                   PARTITION BY lang
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
               ) AS rn
        FROM documents
    ) s WHERE rn <= 10
    """,
)
def q_sample_stratified(spark, sf_dir):
    """M1: exact-N-per-stratum sample (reference: 1000/class,
    src/main.py:67-69), deterministic via md5-of-key ordering so the
    oracle reproduces it (FIXTURES.md §C: never rand())."""
    docs = t(spark, sf_dir, "documents").select("doc_id", "lang")
    return stratified_sample_exact(docs, "lang", 10, key="doc_id")


@query(
    "q_split",
    oracle="""
    SELECT part, COUNT(*) AS n FROM (
        SELECT CASE WHEN SUBSTRING(md5(CAST(doc_id AS VARCHAR)), 1, 8) < 'cccccccc'
                    THEN 'train' ELSE 'test' END AS part
        FROM documents
    ) s GROUP BY part
    """,
)
def q_split(spark, sf_dir):
    """M6: deterministic 80/20-style holdout split (reference
    train_test_split, src/main.py:89) — md5-threshold form, disjoint +
    exhaustive by construction. Declared output = per-part counts
    (the property the split guarantees); 0xcccccccc/0x100000000 ≈ 0.8."""
    docs = t(spark, sf_dir, "documents")
    train, test = deterministic_split(docs, 0.8, key="doc_id")
    return union_all(
        train.select(F.lit("train").alias("part")),
        test.select(F.lit("test").alias("part")),
    ).groupBy("part").agg(F.count("*").alias("n"))


@query(
    "q_fingerprint",
    oracle="""
    SELECT md5(COALESCE(string_agg(h, '' ORDER BY h), '')) AS dataset_fingerprint,
           COUNT(*) AS n_rows
    FROM (SELECT md5(text) AS h FROM documents) t
    """,
)
def q_fingerprint(spark, sf_dir):
    """S4: order-insensitive dataset content fingerprint (reference
    md5-of-csv-bytes cache key, src/main.py:71 — made
    partitioning-stable by hashing the SORTED per-row hashes).

    Scale note: sort_array(collect_list()) funnels one hash per row to
    a single reducer — fine to ~10^8 rows of 32-byte hashes; beyond
    that switch to the hierarchical form (per-partition md5, then md5
    of sorted partition digests)."""
    docs = t(spark, sf_dir, "documents").select(F.md5(F.col("text")).alias("h"))
    return docs.agg(
        F.md5(F.array_join(F.sort_array(F.collect_list("h")), "")).alias(
            "dataset_fingerprint"
        ),
        F.count("*").alias("n_rows"),
    )


@query(
    "q_sample_weighted",
    oracle="""
    SELECT doc_id, n_chars FROM (
        SELECT doc_id, n_chars,
               -LN(CAST(( (CAST(doc_id AS HUGEINT) * 2654435761) % 4294967296 ) + 1 AS DOUBLE) / 4294967297.0)
                 / n_chars AS score
        FROM documents
    ) s ORDER BY score, doc_id LIMIT 25
    """,
)
def q_sample_weighted(spark, sf_dir):
    """M1 extension: weighted sampling without replacement
    (Efraimidis-Spirakis A-Res, inclusion ∝ n_chars) — deterministic
    via a Knuth multiplicative hash in place of the RNG, so the oracle
    reproduces the exact sample."""
    from team_02_spark.operators.relational import weighted_sample_exact

    docs = t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return weighted_sample_exact(docs, "n_chars", 25, key="doc_id")


@query(
    "q_sample_systematic",
    oracle="""
    WITH ranked AS (
        SELECT o_custkey, o_orderkey,
               CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey
                                       ORDER BY o_orderdate, o_orderkey)
                    AS INT) AS rn
        FROM orders
    )
    SELECT o_custkey, o_orderkey, rn FROM ranked WHERE rn % 5 = 1
    """,
)
def q_sample_systematic(spark, sf_dir):
    """Systematic (every-Nth) sampling per stratum: order each
    customer's orders on (date, key) and keep ranks 1, 6, 11, ... —
    the deterministic complement to the Bernoulli / stratified-exact-N
    / weighted A-Res lanes. Partition-local windows: no global sort,
    scales with the stratum count."""
    orders = t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        orders.select(
            "o_custkey", "o_orderkey",
            F.row_number().over(w).cast("int").alias("rn"),
        )
        .filter(F.col("rn") % 5 == 1)
    )
