"""Text-pipeline and document queries: the flagship token top-k, the
reference cleaning pipeline, the text-analysis lane (lang-id, quality,
token budgets), and the dedup lane over `documents`.

SURVEY.md §2.7 (F1-F5), §2.3 (M3/M4), plus the north-star LLM-pipeline
operators (BASELINE.json). Everything except the Porter stemmer and the
LSH-probabilistic dedups is DuckDB-oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from team_02_spark.functions.text import (
    NLTK_STOPWORDS,
    bpe_ish_token_count,
    clean_and_stem,
    clean_tokens,
    lang_id,
    quality_score,
    token_count,
)
from team_02_spark.operators.sketches import cms_heavy_hitters
from team_02_spark.operators.dedup import (
    near_dedup_minhash,
    near_dedup_simhash,
    shingles,
    substring_dedup_stats,
)
from team_02_spark.queries.registry import query
from team_02_spark.queries._util import t
from team_02_spark.util import ensure_parallelism, shared_pass

# SQL fragments shared by oracles -------------------------------------

# string.punctuation as RE2 ranges (ASCII 33-47, 58-64, 91-96, 123-126)
# — no quote/backslash characters, so it embeds safely in SQL strings.
_PUNCT_CLASS = "[!-/:-@[-`{-~]"
_STOPWORDS_SQL = ", ".join("'" + w.replace("'", "''") + "'" for w in NLTK_STOPWORDS)


def _sql_str_list(words) -> str:
    return ", ".join("'" + w.replace("'", "''") + "'" for w in words)

_CLEAN_TOKENS_SQL = f"""
    list_filter(
        string_split_regex(
            regexp_replace(
                regexp_replace(text, 'https?://\\S+|www\\.\\S+', '', 'g'),
                '{_PUNCT_CLASS}', '', 'g'),
            '\\W+'),
        tk -> tk <> '' AND tk NOT IN ({_STOPWORDS_SQL}))
"""


@query(
    "q_token_topk",
    oracle=f"""
    WITH toks AS (
        SELECT unnest({_CLEAN_TOKENS_SQL}) AS token FROM documents
    )
    SELECT token, COUNT(*) AS cnt
    FROM toks
    GROUP BY token
    ORDER BY cnt DESC, token
    LIMIT 20
    """,
)
def q_token_topk(spark, sf_dir):
    """FLAGSHIP (SURVEY §7.1): clean (F1-F4, pure Column ops) → explode
    → token frequency → top-20. Exercises scan, projection, array HOFs,
    explode, hash agg, TakeOrdered — one shuffle for the agg, one
    top-k. This is also ``entry()``'s query."""
    docs = t(spark, sf_dir, "documents").select("text")
    return (
        docs.select(F.explode(clean_tokens(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), F.col("token"))
        .limit(20)
    )


@query(
    "q_clean_text",
    oracle=f"""
    SELECT doc_id,
           array_to_string({_CLEAN_TOKENS_SQL}, ' ') AS clean_text,
           CAST(len({_CLEAN_TOKENS_SQL}) AS INT) AS n_clean_tokens
    FROM documents
    """,
)
def q_clean_text(spark, sf_dir):
    """F1-F4: URL-strip → punct-strip → tokenize(\\W+) → NLTK-stopword
    drop, duplicate-preserving (reference spec, SURVEY §2.10.1).
    Emitted as a joined string so the hash compare is array-layout-
    independent. Stemming (F5) is q_clean_stem (golden-tested)."""
    docs = t(spark, sf_dir, "documents")
    toks = clean_tokens(F.col("text"))
    return docs.select(
        "doc_id",
        F.array_join(toks, " ").alias("clean_text"),
        F.size(toks).cast("int").alias("n_clean_tokens"),
    )


@query("q_clean_stem")  # rows-only: no stemmer in DuckDB; golden tests cover it
def q_clean_stem(spark, sf_dir):
    """F1-F5 with Porter stemming (pandas_udf, Arrow-batched) — the
    full reference cleaning pipeline (src/main.py:51-61, intent form)."""
    docs = t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.array_join(clean_and_stem(F.col("text")), " ").alias("stemmed_text"),
    )


@query(
    "q_lang_id",
    oracle="""
    WITH scored AS (
        SELECT doc_id, lang,
            len(list_distinct(list_filter(string_split_regex(lower(text), '\\s+'),
                x -> x IN ('the','and','of','to','is','in','that','it','for','with')))) AS s_en,
            len(list_distinct(list_filter(string_split_regex(lower(text), '\\s+'),
                x -> x IN ('le','la','les','et','de','un','une','est','pour','que')))) AS s_fr,
            len(list_distinct(list_filter(string_split_regex(lower(text), '\\s+'),
                x -> x IN ('el','los','las','y','es','en','por','para','con','una')))) AS s_es,
            len(list_distinct(list_filter(string_split_regex(lower(text), '\\s+'),
                x -> x IN ('der','die','das','und','ist','nicht','mit','ein','für','auf')))) AS s_de,
            len(list_distinct(list_filter(string_split_regex(lower(text), '\\s+'),
                x -> x IN ('的','是','在','了','和','有','我','不','这','中')))) AS s_zh
        FROM documents
    )
    SELECT doc_id, lang,
           CASE WHEN GREATEST(s_en, s_fr, s_es, s_de, s_zh) = 0 THEN 'und'
                WHEN s_zh = GREATEST(s_en, s_fr, s_es, s_de, s_zh) THEN 'zh'
                WHEN s_fr = GREATEST(s_en, s_fr, s_es, s_de, s_zh) THEN 'fr'
                WHEN s_es = GREATEST(s_en, s_fr, s_es, s_de, s_zh) THEN 'es'
                WHEN s_en = GREATEST(s_en, s_fr, s_es, s_de, s_zh) THEN 'en'
                ELSE 'de' END AS lang_pred
    FROM scored
    """,
)
def q_lang_id(spark, sf_dir):
    """Text-analysis: heuristic language ID (marker-token argmax; ties
    broken toward the lexicographically larger code in both engines)."""
    docs = t(spark, sf_dir, "documents")
    return docs.select("doc_id", "lang", lang_id(F.col("text")).alias("lang_pred"))


@query(
    "q_quality_score",
    oracle=f"""
    SELECT doc_id,
           ROUND((
             LEAST(CAST(LENGTH(text) AS DOUBLE) / 200.0, 1.0)
             + CAST(LENGTH(text) - LENGTH(regexp_replace(text, '[A-Za-z\\s]', '', 'g')) AS DOUBLE)
               / GREATEST(LENGTH(text), 1)
             + LEAST(CAST(len(list_distinct(list_filter(
                   string_split_regex(lower(text), '\\s+'),
                   x -> x IN ({_sql_str_list(NLTK_STOPWORDS[:50])})))) AS DOUBLE)
               / 5.0, 1.0)
           ) / 3.0, 6) AS quality
    FROM documents
    """,
)
def q_quality_score(spark, sf_dir):
    """Text-analysis: composite quality heuristic (length, alpha ratio,
    stopword presence) — all JVM expressions, identical arithmetic in
    the oracle, rounded to 6dp."""
    docs = t(spark, sf_dir, "documents")
    return docs.select("doc_id", F.round(quality_score(F.col("text")), 6).alias("quality"))


@query(
    "q_token_count",
    oracle="""
    SELECT doc_id,
           CAST(len(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS INT)
               AS n_ws_tokens,
           CAST(len(list_filter(string_split_regex(text, '[\\s[:punct:]]+'), x -> x <> ''))
                + CAST(list_sum(list_transform(
                      list_filter(string_split_regex(text, '[\\s[:punct:]]+'), x -> x <> ''),
                      x -> CASE WHEN LENGTH(x) > 4
                                THEN CAST(FLOOR((LENGTH(x) - 1) / 4.0) AS INT)
                                ELSE 0 END)) AS INT) AS INT) AS n_bpe_tokens,
           n_chars
    FROM documents
    """,
)
def q_token_count(spark, sf_dir):
    """Text-analysis: whitespace token budget + BPE-ish word-piece
    estimate (len/4 heuristic for long words)."""
    docs = t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        token_count(F.col("text")).cast("int").alias("n_ws_tokens"),
        bpe_ish_token_count(F.col("text")).alias("n_bpe_tokens"),
        "n_chars",
    )


@query(
    "q_doc_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(text) || '-' || printf('%08x', length(text)) AS fingerprint
    FROM documents
    """,
)
def q_doc_fingerprint(spark, sf_dir):
    """Text-analysis: per-document content fingerprint — md5 digest
    plus hex char-length suffix, both engine-portable (oracle-checked;
    was rows-only while the fingerprint used xxhash64, which DuckDB
    lacks)."""
    docs = t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.concat_ws(
            "-", F.md5("text"), F.format_string("%08x", F.length("text"))
        ).alias("fingerprint"),
    )


# ---------------------------------------------------------- dedup lane

_NGRAM_SETS_SQL = """
    SELECT doc_id,
           CASE WHEN len(string_split(text, ' ')) < 3
                THEN [text]
                ELSE list_distinct(list_transform(
                    range(1, len(string_split(text, ' ')) - 1),
                    i -> array_to_string(list_slice(string_split(text, ' '), i, i + 2), ' ')))
           END AS sh
    FROM documents
"""


# Exact-threshold keep-first dedup over the 3-word-shingle sets — the
# oracle for BOTH q_dedup_ngram (complete candidate generation, equal
# by construction) and q_dedup_near (MinHash-LSH candidates + exact
# Jaccard verify: equal only when LSH recall is complete). With 8
# bands x 4 rows a pair at Jaccard J is a candidate with probability
# 1-(1-J^4)^8: 0.985 at J = 0.8, 0.9973 at 0.85, above 0.999 only from
# J ~ 0.88. The gate is green because of the fixtures' pair bands, not
# the S-curve: sf0.01 has no pair in [0.5, 0.9), and sf0.1 has 7 pairs
# in [0.8, 0.9) and none in [0.5, 0.8). A miss surfaces as a hash
# mismatch, which is exactly what the check is for.
_EXACT_DEDUP_ORACLE = f"""
    WITH sets AS ({_NGRAM_SETS_SQL}),
    sizes AS (SELECT doc_id, len(sh) AS sz FROM sets),
    ex AS (SELECT doc_id, unnest(sh) AS s FROM sets),
    cand AS (
        SELECT a.doc_id AS ida, b.doc_id AS idb, COUNT(*) AS inter
        FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    ),
    losers AS (
        SELECT DISTINCT c.idb AS doc_id
        FROM cand c
        JOIN sizes x ON c.ida = x.doc_id
        JOIN sizes y ON c.idb = y.doc_id
        WHERE CAST(c.inter AS DOUBLE) / (x.sz + y.sz - c.inter) >= 0.6
    )
    SELECT d.doc_id FROM documents d
    WHERE d.doc_id NOT IN (SELECT doc_id FROM losers)
    """


@query("q_dedup_ngram", oracle=_EXACT_DEDUP_ORACLE)
def q_dedup_ngram(spark, sf_dir):
    """M4 exact form: n-gram (3-shingle) Jaccard near-dedup with
    *complete* candidate generation (pairs sharing ≥1 shingle — any
    pair with jaccard>0 shares one, so nothing is missed). Keep-first
    rule: drop a doc iff a similar doc with smaller id exists.

    This is the exact-verifiable variant; q_dedup_near is the
    MinHash-LSH scale path (probabilistic recall → rows-only)."""
    docs = t(spark, sf_dir, "documents")
    # the shingle-set frame feeds both candidate sides and both size
    # joins — lazily localCheckpoint so shingling runs ONCE, not 4x
    sets_df = ensure_parallelism(docs).select(
        "doc_id", F.array_distinct(shingles("text", 3)).alias("sh")
    ).transform(shared_pass)
    ex = sets_df.select("doc_id", F.explode("sh").alias("s"))
    a, b = ex.alias("a"), ex.alias("b")
    cand = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("ida"), F.col("b.doc_id").alias("idb"))
        .agg(F.count("*").alias("inter"))
    )
    sizes = sets_df.select("doc_id", F.size("sh").alias("sz"))
    losers = (
        cand.join(sizes.withColumnRenamed("doc_id", "ida").withColumnRenamed("sz", "sza"), "ida")
        .join(sizes.withColumnRenamed("doc_id", "idb").withColumnRenamed("sz", "szb"), "idb")
        .filter(
            F.col("inter").cast("double")
            / (F.col("sza") + F.col("szb") - F.col("inter"))
            >= 0.6
        )
        .select(F.col("idb").alias("doc_id"))
        .distinct()
    )
    return docs.select("doc_id").join(losers, "doc_id", "left_anti")


@query("q_dedup_near", oracle=_EXACT_DEDUP_ORACLE)
def q_dedup_near(spark, sf_dir):
    """M4 scale path: MinHash(32 hashes) + LSH(8 bands) near-dedup,
    threshold 0.6, keep-first. At 100 TB the band-bucket equi-join
    replaces the shared-shingle join that q_dedup_ngram uses.

    Oracle-checked against the exact-threshold result (was rows-only):
    candidates are verified with exact Jaccard on the same shingle
    sets, so the survivor set equals the exact answer whenever LSH
    recall is complete — see _EXACT_DEDUP_ORACLE."""
    docs = t(spark, sf_dir, "documents")
    return near_dedup_minhash(
        docs.select("doc_id", "text"), threshold=0.6
    ).select("doc_id")


# Engine-portable SimHash oracle (VERDICT r3 #8): with portable=True
# the fingerprint's 64 bits derive from md5 hex digits (bit b = bit
# b%4 of digit b//4 of the token's md5), so DuckDB can recompute the
# EXACT fingerprints, take ALL pairs (oracles need not scale), and
# apply the same hamming<=3 keep-first rule. The 64-bit fp is carried
# as two 32-bit BIGINT halves on the DuckDB side (BIGINT << 63 is not
# portable); hamming = bit_count(xor(lo)) + bit_count(xor(hi)).
# Pigeonhole recall at hamming<=3 is exact, so Spark's 4-block join
# equals the all-pairs answer whenever no block is hot-capped.
_SIMHASH_BIT_SUMS = ",\n           ".join(
    f"CAST(SUM(CASE WHEN (strpos('0123456789abcdef', substr(mh, {b // 4 + 1}, 1)) - 1)"
    f" & {1 << (b % 4)} != 0 THEN 1 ELSE -1 END) AS BIGINT) AS s{b}"
    for b in range(64)
)
_SIMHASH_LO = " + ".join(
    f"(CASE WHEN s{b} > 0 THEN {1 << b} ELSE 0 END)" for b in range(32)
)
_SIMHASH_HI = " + ".join(
    f"(CASE WHEN s{b} > 0 THEN {1 << (b - 32)} ELSE 0 END)" for b in range(32, 64)
)
_SIMHASH_ORACLE = rf"""
    WITH toks AS (
        SELECT doc_id,
               unnest(list_filter(string_split_regex(lower(text), '\W+'),
                                  x -> x <> '')) AS t
        FROM documents
    ),
    h AS (SELECT doc_id, md5(t) AS mh FROM toks),
    sums AS (
        SELECT doc_id,
           {_SIMHASH_BIT_SUMS}
        FROM h GROUP BY doc_id
    ),
    fp AS (
        SELECT doc_id,
               CAST({_SIMHASH_LO} AS BIGINT) AS lo,
               CAST({_SIMHASH_HI} AS BIGINT) AS hi
        FROM sums
    ),
    losers AS (
        SELECT DISTINCT b.doc_id
        FROM fp a JOIN fp b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) <= 3
    )
    SELECT d.doc_id FROM documents d
    WHERE d.doc_id NOT IN (SELECT doc_id FROM losers)
"""


@query("q_dedup_simhash", oracle=_SIMHASH_ORACLE)
def q_dedup_simhash(spark, sf_dir):
    """M4: 64-bit SimHash near-dedup (hamming ≤ 3 via 4-block
    pigeonhole equi-joins — no cross join). Was rows-only; now runs
    the PORTABLE fingerprint (md5-digit bits, see operators/dedup.
    simhash) so the survivor set is hash-checked against DuckDB's
    all-pairs recompute — pigeonhole recall at hamming ≤ 3 is exact,
    so the sets agree identically. Production corpora keep the
    xxhash64 fast path (portable=False)."""
    docs = t(spark, sf_dir, "documents")
    return near_dedup_simhash(
        docs.select("doc_id", "text"), portable=True
    ).select("doc_id")


@query(
    "q_similar_pairs",
    oracle=f"""
    WITH sets AS ({_NGRAM_SETS_SQL}),
    sizes AS (SELECT doc_id, len(sh) AS sz FROM sets),
    ex AS (SELECT doc_id, unnest(sh) AS s FROM sets),
    cand AS (
        SELECT a.doc_id AS a, b.doc_id AS b, COUNT(*) AS inter
        FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT c.a, c.b,
           ROUND(CAST(c.inter AS DOUBLE) / (x.sz + y.sz - c.inter), 6) AS jaccard
    FROM cand c
    JOIN sizes x ON c.a = x.doc_id
    JOIN sizes y ON c.b = y.doc_id
    WHERE CAST(c.inter AS DOUBLE) / (x.sz + y.sz - c.inter) >= 0.6
    """,
)
def q_similar_pairs(spark, sf_dir):
    """Document similarity join (J5 text form): all pairs with 3-gram
    Jaccard ≥ 0.6, exact."""
    docs = t(spark, sf_dir, "documents")
    sets_df = ensure_parallelism(docs).select("doc_id", F.array_distinct(shingles("text", 3)).alias("sh"))
    ex = sets_df.select("doc_id", F.explode("sh").alias("s"))
    a, b = ex.alias("a"), ex.alias("b")
    cand = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("a"), F.col("b.doc_id").alias("b"))
        .agg(F.count("*").alias("inter"))
    )
    sizes = sets_df.select("doc_id", F.size("sh").alias("sz"))
    jac = F.col("inter").cast("double") / (F.col("sza") + F.col("szb") - F.col("inter"))
    return (
        cand.join(sizes.withColumnRenamed("doc_id", "a").withColumnRenamed("sz", "sza"), "a")
        .join(sizes.withColumnRenamed("doc_id", "b").withColumnRenamed("sz", "szb"), "b")
        .filter(jac >= 0.6)
        .select("a", "b", F.round(jac, 6).alias("jaccard"))
    )


@query(
    "q_curation",
    oracle=f"""
    WITH annotated AS (
        SELECT doc_id, text, lang,
               LENGTH(text) AS n_chars_c,
               len(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS n_tokens
        FROM documents
    ),
    filtered AS (
        SELECT * FROM annotated WHERE lang = 'en' AND n_tokens >= 5
    ),
    exact AS (
        SELECT doc_id FROM (
            SELECT doc_id,
                   ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
            FROM filtered
        ) x WHERE rn = 1
    )
    SELECT doc_id FROM exact
    """,
)
def q_curation(spark, sf_dir):
    """North-star composite: the curation pipeline's deterministic
    core (language filter → token budget → exact dedup), oracle-
    matched; the full pipeline with MinHash near-dedup is q_curation_full
    (rows-only, LSH recall is probabilistic)."""
    from team_02_spark.pipeline_data import curate

    docs = t(spark, sf_dir, "documents")
    out = curate(docs, languages=("en",), min_quality=0.0, min_tokens=5,
                 near_dedup=False, use_lang_pred=False)
    return out.select("doc_id")


@query(
    "q_curation_full",
    oracle=f"""
    WITH annotated AS (
        SELECT doc_id, text, lang,
            CASE WHEN GREATEST(s_en, s_fr, s_es, s_de, s_zh) = 0 THEN 'und'
                 WHEN s_zh = GREATEST(s_en, s_fr, s_es, s_de, s_zh) THEN 'zh'
                 WHEN s_fr = GREATEST(s_en, s_fr, s_es, s_de, s_zh) THEN 'fr'
                 WHEN s_es = GREATEST(s_en, s_fr, s_es, s_de, s_zh) THEN 'es'
                 WHEN s_en = GREATEST(s_en, s_fr, s_es, s_de, s_zh) THEN 'en'
                 ELSE 'de' END AS lang_pred,
            (LEAST(CAST(LENGTH(text) AS DOUBLE) / 200.0, 1.0)
             + CAST(LENGTH(text)
                    - LENGTH(regexp_replace(text, '[A-Za-z\\s]', '', 'g'))
                    AS DOUBLE) / GREATEST(LENGTH(text), 1)
             + LEAST(CAST(n_stop AS DOUBLE) / 5.0, 1.0)) / 3.0 AS quality,
            n_tokens
        FROM (
            SELECT doc_id, text, lang,
                len(list_distinct(list_filter(string_split_regex(lower(text), '\\s+'),
                    x -> x IN ('the','and','of','to','is','in','that','it','for','with')))) AS s_en,
                len(list_distinct(list_filter(string_split_regex(lower(text), '\\s+'),
                    x -> x IN ('le','la','les','et','de','un','une','est','pour','que')))) AS s_fr,
                len(list_distinct(list_filter(string_split_regex(lower(text), '\\s+'),
                    x -> x IN ('el','los','las','y','es','en','por','para','con','una')))) AS s_es,
                len(list_distinct(list_filter(string_split_regex(lower(text), '\\s+'),
                    x -> x IN ('der','die','das','und','ist','nicht','mit','ein','für','auf')))) AS s_de,
                len(list_distinct(list_filter(string_split_regex(lower(text), '\\s+'),
                    x -> x IN ('的','是','在','了','和','有','我','不','这','中')))) AS s_zh,
                len(list_distinct(list_filter(string_split_regex(lower(text), '\\s+'),
                    x -> x IN ({_sql_str_list(NLTK_STOPWORDS[:50])})))) AS n_stop,
                CAST(len(list_filter(string_split_regex(text, '\\s+'),
                    x -> x <> '')) AS INT) AS n_tokens
            FROM documents
        )
    ),
    filtered AS (
        SELECT doc_id, text, lang, n_tokens FROM annotated
        WHERE (lang IN ('en','fr') OR lang_pred IN ('en','fr'))
          AND quality >= 0.2 AND n_tokens >= 5
    ),
    exact AS (
        SELECT doc_id, text, lang, n_tokens FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY md5(text)
                                         ORDER BY doc_id) AS rn
            FROM filtered
        ) x WHERE rn = 1
    ),
    sets AS (
        SELECT doc_id,
               CASE WHEN len(string_split(text, ' ')) < 3
                    THEN [text]
                    ELSE list_distinct(list_transform(
                        range(1, len(string_split(text, ' ')) - 1),
                        i -> array_to_string(list_slice(string_split(text, ' '), i, i + 2), ' ')))
               END AS sh
        FROM exact
    ),
    sizes AS (SELECT doc_id, len(sh) AS sz FROM sets),
    ex AS (SELECT doc_id, unnest(sh) AS s FROM sets),
    cand AS (
        SELECT a.doc_id AS ida, b.doc_id AS idb, COUNT(*) AS inter
        FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    ),
    losers AS (
        SELECT DISTINCT c.idb AS doc_id
        FROM cand c
        JOIN sizes x ON c.ida = x.doc_id
        JOIN sizes y ON c.idb = y.doc_id
        WHERE CAST(c.inter AS DOUBLE) / (x.sz + y.sz - c.inter) >= 0.6
    )
    SELECT e.doc_id, e.lang, e.n_tokens FROM exact e
    WHERE e.doc_id NOT IN (SELECT doc_id FROM losers)
    """,
)
def q_curation_full(spark, sf_dir):
    """The complete curation composite incl. MinHash near-dedup —
    filters first, exact dedup second, pairwise near-dedup last on the
    shrunk set (the composition order that matters at 100 TB).

    Oracle-checked (was rows-only): every stage is engine-portable —
    the lang/quality/token annotations reuse the proven q_lang_id /
    q_quality_score / q_token_count arithmetic (the quality FILTER
    compares the unrounded expression, which is identical IEEE
    arithmetic on both engines — no libm, no rounding boundary), the
    exact dedup is min-id-per-md5, and the near-dedup stage shares
    the exact-threshold keep-first semantics of _EXACT_DEDUP_ORACLE,
    applied to the curated survivor set (equal only at complete LSH
    recall: P = 0.985 at J = 0.8, > 0.999 only from J ~ 0.88; the
    fixtures have no pair in [0.5, 0.8), see _EXACT_DEDUP_ORACLE)."""
    from team_02_spark.pipeline_data import curate

    docs = t(spark, sf_dir, "documents")
    out = curate(docs, languages=("en", "fr"), min_quality=0.2,
                 min_tokens=5, dedup_threshold=0.6).select(
        "doc_id", "lang", F.col("n_tokens").cast("int").alias("n_tokens")
    )
    return out


@query(
    "q_pii_scrub",
    oracle="""
    SELECT doc_id,
           regexp_replace(
             regexp_replace(
               regexp_replace(text,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
               '\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b', '<IP>', 'g'),
             '\\+?\\d[\\d\\s().-]{7,}\\d', '<PHONE>', 'g') AS scrubbed,
           CAST(len(regexp_extract_all(text,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))
              + len(regexp_extract_all(
                    regexp_replace(text,
                      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                    '\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b'))
              + len(regexp_extract_all(
                    regexp_replace(
                      regexp_replace(text,
                        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                      '\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b', '<IP>', 'g'),
                    '\\+?\\d[\\d\\s().-]{7,}\\d'))
             AS INT) AS n_pii
    FROM documents
    """,
)
def q_pii_scrub(spark, sf_dir):
    """Data-hygiene lane: typed PII scrubbing (emails/IPs/phones →
    <EMAIL>/<IP>/<PHONE> tokens) + span count — pure regex Column
    expressions at scan speed."""
    from team_02_spark.functions.text import pii_count, pii_scrub

    docs = t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        pii_scrub(F.col("text")).alias("scrubbed"),
        pii_count(F.col("text")).alias("n_pii"),
    )


@query(
    "q_repetition_filter",
    oracle="""
    WITH grams AS (
        SELECT doc_id,
               CASE WHEN len(string_split(text, ' ')) < 3
                    THEN [text]
                    ELSE list_transform(
                        range(1, len(string_split(text, ' ')) - 1),
                        i -> array_to_string(list_slice(string_split(text, ' '), i, i + 2), ' '))
               END AS g
        FROM documents
    )
    SELECT doc_id,
           ROUND(1.0 - CAST(len(list_distinct(g)) AS DOUBLE) / GREATEST(len(g), 1), 6)
               AS rep_ratio,
           CASE WHEN 1.0 - CAST(len(list_distinct(g)) AS DOUBLE) / GREATEST(len(g), 1) > 0.3
                THEN 1 ELSE 0 END AS too_repetitive
    FROM grams
    """,
)
def q_repetition_filter(spark, sf_dir):
    """Data-hygiene lane: Gopher-style within-document repetition
    signal (1 - distinct/total 3-grams) and the drop flag at 0.3."""
    from team_02_spark.functions.text import repetition_ratio

    docs = t(spark, sf_dir, "documents")
    r = repetition_ratio(F.col("text"), 3)
    return docs.select(
        "doc_id",
        F.round(r, 6).alias("rep_ratio"),
        F.when(r > 0.3, 1).otherwise(0).alias("too_repetitive"),
    )


# Shared by q_contamination and q_decontaminate_bloom: benchmark =
# every 100th doc; 3-gram shingles (DuckDB twin of operators.dedup.
# shingles — fixture text is pre-normalized, see FIXTURES.md).
_CONTAM_CTES_SQL = """
    bench AS (
        SELECT doc_id AS bench_id, text FROM documents WHERE doc_id % 100 = 0
    ),
    doc_grams AS (
        SELECT doc_id, unnest(list_distinct(
            CASE WHEN len(string_split(text, ' ')) < 3 THEN [text]
                 ELSE list_transform(range(1, len(string_split(text, ' ')) - 1),
                      i -> array_to_string(list_slice(string_split(text, ' '), i, i + 2), ' '))
            END)) AS g
        FROM documents
    ),
    bench_grams AS (
        SELECT bench_id, unnest(list_distinct(
            CASE WHEN len(string_split(text, ' ')) < 3 THEN [text]
                 ELSE list_transform(range(1, len(string_split(text, ' ')) - 1),
                      i -> array_to_string(list_slice(string_split(text, ' '), i, i + 2), ' '))
            END)) AS g
        FROM bench
    )
"""


@query(
    "q_contamination",
    oracle=f"""
    WITH {_CONTAM_CTES_SQL}
    SELECT d.doc_id, b.bench_id, COUNT(*) AS n_shared
    FROM doc_grams d JOIN bench_grams b ON d.g = b.g
    GROUP BY d.doc_id, b.bench_id
    HAVING COUNT(*) >= 5
    """,
)
def q_contamination(spark, sf_dir):
    """Data-hygiene lane: benchmark contamination — every (training
    doc, benchmark item) pair sharing >= 5 distinct 3-grams. The
    benchmark side (every 100th doc here) scales with the corpus, so
    the join carries no hint; size stats pick a broadcast at these
    scales and the corpus never shuffles."""
    from team_02_spark.operators.contamination import find_contaminated

    docs = t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 100 == 0).select(
        F.col("doc_id").alias("bench_id"), "text"
    )
    return find_contaminated(docs, bench, min_shared=5)


@query(
    "q_decontaminate_bloom",
    oracle=f"""
    WITH {_CONTAM_CTES_SQL},
    flagged AS (
        SELECT d.doc_id
        FROM doc_grams d JOIN bench_grams b ON d.g = b.g
        GROUP BY d.doc_id, b.bench_id
        HAVING COUNT(*) >= 5
    )
    SELECT doc_id FROM documents
    WHERE doc_id NOT IN (SELECT DISTINCT doc_id FROM flagged)
    """,
)
def q_decontaminate_bloom(spark, sf_dir):
    """Hygiene lane: the training corpus with every contaminated
    document removed — the exact gram join of q_contamination, then an
    anti-join on the flagged ids. The key keeps its historical name; a
    Bloom prefilter once ran ahead of the join and measured slower
    than the join alone."""
    from team_02_spark.operators.contamination import decontaminate

    docs = t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 100 == 0).select(
        F.col("doc_id").alias("bench_id"), "text"
    )
    return decontaminate(docs, bench, min_shared=5).select("doc_id")


@query(
    "q_split_leakage",
    oracle=f"""
    WITH sets AS ({_NGRAM_SETS_SQL}),
    parts AS (
        SELECT doc_id,
               CASE WHEN SUBSTRING(md5(CAST(doc_id AS VARCHAR)), 1, 8) < 'cccccccc'
                    THEN 'train' ELSE 'test' END AS part
        FROM documents
    ),
    sizes AS (SELECT doc_id, len(sh) AS sz FROM sets),
    ex AS (SELECT doc_id, unnest(sh) AS s FROM sets),
    cand AS (
        SELECT a.doc_id AS train_id, b.doc_id AS test_id, COUNT(*) AS inter
        FROM ex a
        JOIN parts pa ON a.doc_id = pa.doc_id AND pa.part = 'train'
        JOIN ex b ON a.s = b.s
        JOIN parts pb ON b.doc_id = pb.doc_id AND pb.part = 'test'
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT c.train_id, c.test_id,
           ROUND(CAST(c.inter AS DOUBLE) / (x.sz + y.sz - c.inter), 6) AS jaccard
    FROM cand c
    JOIN sizes x ON c.train_id = x.doc_id
    JOIN sizes y ON c.test_id = y.doc_id
    WHERE CAST(c.inter AS DOUBLE) / (x.sz + y.sz - c.inter) >= 0.6
    """,
)
def q_split_leakage(spark, sf_dir):
    """Eval-hygiene lane: train/test LEAKAGE audit — near-duplicate
    pairs that cross the deterministic 80/20 split boundary (q_split's
    md5 gate), i.e. test docs whose near-twin sits in train and would
    inflate eval numbers. Exact 3-gram Jaccard >= 0.6 over shared-
    shingle candidates; the shingle equi-join bounds candidates by
    co-occurrence (same shape as q_similar_pairs — swap in the
    MinHash band join at 100 TB)."""
    docs = t(spark, sf_dir, "documents")
    part = F.when(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8) < "cccccccc",
        "train",
    ).otherwise("test")
    sets_df = ensure_parallelism(docs).select(
        "doc_id", part.alias("part"),
        F.array_distinct(shingles("text", 3)).alias("sh"),
    )
    ex = sets_df.select("doc_id", "part", F.explode("sh").alias("s"))
    a = ex.filter(F.col("part") == "train").select(
        F.col("doc_id").alias("train_id"), "s")
    b = ex.filter(F.col("part") == "test").select(
        F.col("doc_id").alias("test_id"), "s")
    cand = (
        a.join(b, "s")
        .groupBy("train_id", "test_id")
        .agg(F.count("*").alias("inter"))
    )
    sizes = sets_df.select("doc_id", F.size("sh").alias("sz"))
    jac = F.col("inter").cast("double") / (F.col("sza") + F.col("szb") - F.col("inter"))
    return (
        cand.join(sizes.withColumnRenamed("doc_id", "train_id")
                  .withColumnRenamed("sz", "sza"), "train_id")
        .join(sizes.withColumnRenamed("doc_id", "test_id")
              .withColumnRenamed("sz", "szb"), "test_id")
        .filter(jac >= 0.6)
        .select("train_id", "test_id", F.round(jac, 6).alias("jaccard"))
    )


# ------------------------------------------- search / packing lane (r2)

_BM25_TERMS = ["spark", "join", "vector"]
_BM25_K1, _BM25_B = 1.2, 0.75


# The BM25 pipeline as named CTEs, shared by the q_bm25 oracle and the
# hybrid-retrieval (RRF) oracle in queries/hybrid.py.
BM25_CTES_SQL = f"""
    toks AS (
        SELECT doc_id, unnest({_CLEAN_TOKENS_SQL}) AS token FROM documents
    ),
    doclen AS (
        SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id
    ),
    stats AS (
        SELECT CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl,
               COUNT(*) AS n_docs
        FROM doclen
    ),
    tf AS (
        SELECT doc_id, token, COUNT(*) AS tf
        FROM toks WHERE token IN ({_sql_str_list(_BM25_TERMS)})
        GROUP BY doc_id, token
    ),
    docfreq AS (
        SELECT token, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY token
    ),
    bm25 AS (
        SELECT t.doc_id,
               ROUND(SUM(
                   ROUND(LN((s.n_docs - f.df + 0.5) / (f.df + 0.5) + 1.0), 6)
                   * (t.tf * ({_BM25_K1} + 1.0))
                   / (t.tf + {_BM25_K1} * (1.0 - {_BM25_B} + {_BM25_B} * d.dl / s.avgdl))
               ), 4) AS bm25,
               CAST(COUNT(*) AS INT) AS n_terms_hit
        FROM tf t
        JOIN docfreq f ON t.token = f.token
        JOIN doclen d ON t.doc_id = d.doc_id
        CROSS JOIN stats s
        GROUP BY t.doc_id
    )
"""


@query(
    "q_bm25",
    oracle=f"""
    WITH {BM25_CTES_SQL}
    SELECT doc_id, bm25, n_terms_hit FROM bm25
    """,
)
def q_bm25(spark, sf_dir):
    """Search lane: BM25 (Robertson/Sparck Jones, the Okapi form with
    the +1 idf floor) for a fixed term set, fully relational — explode
    → tf / df / doclen aggregates → one scoring join. The per-doc
    token lists never leave the executors; corpus-level scalars
    (N, avgdl) ride a broadcast. idf is rounded to 6dp on both engines
    (LN is libm, last-ulp divergent), the final score to 4dp."""
    return bm25_scores(spark, sf_dir)


def bm25_scores(spark, sf_dir, terms=tuple(_BM25_TERMS)):
    """The q_bm25 body as a reusable lane (hybrid retrieval fuses it
    with the vector lane in queries/hybrid.py).

    For a FIXED query term set the whole statistics side collapses to
    one pass: tokenize once (the explode is a generator barrier, so
    Catalyst cannot re-inline the regex pipeline per consumer — the
    same trick as minhash_signature), fold per-doc length and every
    term's frequency in a SINGLE map-side-combined aggregate, then
    fold THAT into one broadcast row carrying n_docs, avgdl, and all
    document frequencies. Scoring is a pure map under the broadcast.
    The r2 form paid two corpus explode-shuffles (doclen + tf); this
    form pays one, which is also why the hybrid lane's lexical top-50
    reduces to TakeOrderedAndProject over the aggregate."""
    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    toks = docs.select(
        "doc_id", F.explode(clean_tokens(F.col("text"))).alias("token")
    )
    one_if_tok = lambda c: F.sum(F.when(c, 1).otherwise(0))  # noqa: E731
    per_doc = toks.groupBy("doc_id").agg(
        F.count("*").alias("dl"),
        *[
            one_if_tok(F.col("token") == term).alias(f"__tf_{i}")
            for i, term in enumerate(terms)
        ],
    )
    one_if = lambda c: F.sum(F.when(c, 1).otherwise(0))  # noqa: E731
    glob = F.broadcast(
        per_doc.agg(
            (F.sum("dl").cast("double") / F.count("*")).alias("avgdl"),
            F.count("*").alias("n_docs"),
            *[
                one_if(F.col(f"__tf_{i}") > 0).alias(f"__df_{i}")
                for i in range(len(terms))
            ],
        )
    )
    def term_score(i: int):
        tf = F.col(f"__tf_{i}").cast("double")
        df = F.col(f"__df_{i}")
        idf = F.round(
            F.log((F.col("n_docs") - df + 0.5) / (df + 0.5) + 1.0), 6
        )
        s = idf * (tf * (_BM25_K1 + 1.0)) / (
            tf + _BM25_K1 * (1.0 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl"))
        )
        return F.when(F.col(f"__tf_{i}") > 0, s).otherwise(F.lit(0.0))

    score = term_score(0)
    for i in range(1, len(terms)):
        score = score + term_score(i)
    hits = F.lit(0)
    for i in range(len(terms)):
        hits = hits + F.when(F.col(f"__tf_{i}") > 0, 1).otherwise(0)
    return (
        per_doc.crossJoin(glob)
        .withColumn("n_terms_hit", hits.cast("int"))
        .filter(F.col("n_terms_hit") >= 1)
        .select("doc_id", F.round(score, 4).alias("bm25"), "n_terms_hit")
    )


@query(
    "q_pack_sequences",
    oracle="""
    WITH sized AS (
        SELECT doc_id,
               CAST(len(list_filter(string_split_regex(text, '\\s+'), x -> x <> ''))
                    AS BIGINT) AS n_tok
        FROM documents
    ),
    placed AS (
        SELECT doc_id, n_tok,
               SUM(n_tok) OVER (ORDER BY doc_id
                                ROWS UNBOUNDED PRECEDING) - n_tok AS start_off
        FROM sized
    )
    SELECT doc_id, n_tok,
           CAST(FLOOR(start_off / 2048.0) AS BIGINT) AS pack_id
    FROM placed
    """,
)
def q_pack_sequences(spark, sf_dir):
    """Training-pipeline lane: sequence packing — assign each document
    to a fixed-budget context pack (2048 tokens) by its cumulative
    start offset in deterministic doc_id order. The offset form of
    greedy packing is a pure running-sum window (one sort-shuffle, no
    stateful scan), which is what makes it tractable at corpus scale;
    at 1000 executors the ORDER BY doc_id window runs per range
    partition with a tiny prefix-sum fixup."""
    docs = t(spark, sf_dir, "documents")
    sized = docs.select(
        "doc_id", token_count(F.col("text")).cast("long").alias("n_tok")
    )
    from pyspark.sql import Window

    w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, 0)
    return sized.select(
        "doc_id",
        "n_tok",
        F.floor((F.sum("n_tok").over(w) - F.col("n_tok")) / 2048.0)
        .cast("long")
        .alias("pack_id"),
    )


_POSTING_TERMS = ["merge", "stream", "window", "vector", "scan"]


@query(
    "q_inverted_index",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, unnest({_CLEAN_TOKENS_SQL}) AS token FROM documents
    ),
    hits AS (
        SELECT DISTINCT token, doc_id FROM toks
        WHERE token IN ({_sql_str_list(_POSTING_TERMS)})
    )
    SELECT token,
           array_to_string(list_sort(list(doc_id)), ',') AS postings,
           CAST(COUNT(*) AS INT) AS df
    FROM hits
    GROUP BY token
    """,
)
def q_inverted_index(spark, sf_dir):
    """Search lane: posting-list construction — term → sorted doc_id
    list + document frequency for a fixed vocabulary slice. One
    explode + one agg; at scale the posting lists shard by term
    (the natural inverted-index layout) and doc ids arrive pre-sorted
    per shard when the corpus is id-ordered."""
    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    hits = (
        docs.select("doc_id", F.explode(clean_tokens(F.col("text"))).alias("token"))
        .filter(F.col("token").isin(_POSTING_TERMS))
        .distinct()
    )
    return hits.groupBy("token").agg(
        F.array_join(F.sort_array(F.collect_set("doc_id")), ",").alias("postings"),
        F.countDistinct("doc_id").cast("int").alias("df"),
    )


# Exact 3-gram-Jaccard >= 0.6 duplicate COMPONENTS, shared by
# q_dup_components and q_component_split on BOTH engine sides — one
# definition, so a threshold/shingle change can never desynchronize
# the component lane from the leakage-safe split built on it.
# Use as: WITH RECURSIVE {_COMPONENT_CTES_SQL} SELECT ... FROM roots
_COMPONENT_CTES_SQL = f"""sets AS ({_NGRAM_SETS_SQL}),
    sizes AS (SELECT doc_id, len(sh) AS sz FROM sets),
    ex AS (SELECT doc_id, unnest(sh) AS s FROM sets),
    cand AS (
        SELECT a.doc_id AS ida, b.doc_id AS idb, COUNT(*) AS inter
        FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    ),
    pairs AS (
        SELECT c.ida AS a, c.idb AS b
        FROM cand c
        JOIN sizes x ON c.ida = x.doc_id
        JOIN sizes y ON c.idb = y.doc_id
        WHERE CAST(c.inter AS DOUBLE) / (x.sz + y.sz - c.inter) >= 0.6
    ),
    edges AS (
        SELECT a, b FROM pairs UNION SELECT b AS a, a AS b FROM pairs
    ),
    nodes AS (SELECT DISTINCT a AS node FROM edges),
    walk AS (
        SELECT node, node AS comp FROM nodes
        UNION
        SELECT e.b AS node, w.comp FROM walk w JOIN edges e ON e.a = w.node
    ),
    roots AS (SELECT node, MIN(comp) AS comp FROM walk GROUP BY node)"""


def _dup_component_roots(spark, sf_dir):
    """Spark twin of _COMPONENT_CTES_SQL's ``roots``: (node, comp)
    min-labels over the exact-Jaccard duplicate graph."""
    from team_02_spark.operators.dedup import connected_components

    docs = t(spark, sf_dir, "documents")
    # the shingle-set frame feeds both candidate sides and both size
    # joins — lazily localCheckpoint so shingling runs ONCE, not 4x
    sets_df = ensure_parallelism(docs).select(
        "doc_id", F.array_distinct(shingles("text", 3)).alias("sh")
    ).transform(shared_pass)
    ex = sets_df.select("doc_id", F.explode("sh").alias("s"))
    a, b = ex.alias("a"), ex.alias("b")
    cand = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("ida"), F.col("b.doc_id").alias("idb"))
        .agg(F.count("*").alias("inter"))
    )
    sizes = sets_df.select("doc_id", F.size("sh").alias("sz"))
    pairs = (
        cand.join(sizes.withColumnRenamed("doc_id", "ida").withColumnRenamed("sz", "sza"), "ida")
        .join(sizes.withColumnRenamed("doc_id", "idb").withColumnRenamed("sz", "szb"), "idb")
        .filter(
            F.col("inter").cast("double")
            / (F.col("sza") + F.col("szb") - F.col("inter"))
            >= 0.6
        )
        .select(F.col("ida").alias("a"), F.col("idb").alias("b"))
    )
    return connected_components(pairs)


@query(
    "q_dup_components",
    oracle=f"""
    WITH RECURSIVE {_COMPONENT_CTES_SQL}
    SELECT node, comp FROM roots
    """,
)
def q_dup_components(spark, sf_dir):
    """Iterative-algorithm lane WITH an exact oracle: full transitive
    duplicate groups — exact n-gram Jaccard pairs (q_dedup_ngram's
    complete candidate generation) closed under connectivity by
    min-label propagation with pointer-doubling (O(log diameter) join
    rounds, no driver state). The DuckDB twin walks the same graph
    with a recursive CTE, so the fixpoint itself is value-checked,
    not just row counts."""
    return _dup_component_roots(spark, sf_dir)


@query(
    "q_edit_distance",
    oracle="""
    SELECT a.p_partkey AS key_a, b.p_partkey AS key_b,
           a.p_brand AS brand,
           CAST(levenshtein(a.p_name, b.p_name) AS INT) AS dist
    FROM part a JOIN part b
      ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
    WHERE levenshtein(a.p_name, b.p_name) <= 3
    """,
)
def q_edit_distance(spark, sf_dir):
    """Fuzzy entity matching by Levenshtein distance within blocking
    buckets — the record-linkage primitive next to the token-set dedup
    lanes (operators/dedup.py). Candidates are generated ONLY inside a
    brand block (at 100 TB: block on length band + first token, same
    bounded-candidates discipline), and the distance runs in the JVM
    (built-in levenshtein), never Python."""
    part = t(spark, sf_dir, "part")
    a = part.alias("a")
    b = part.alias("b")
    dist = F.levenshtein(F.col("a.p_name"), F.col("b.p_name"))
    return (
        a.join(
            b,
            (F.col("a.p_brand") == F.col("b.p_brand"))
            & (F.col("a.p_partkey") < F.col("b.p_partkey")),
        )
        .select(
            F.col("a.p_partkey").alias("key_a"),
            F.col("b.p_partkey").alias("key_b"),
            F.col("a.p_brand").alias("brand"),
            dist.cast("int").alias("dist"),
        )
        .filter(F.col("dist") <= 3)
    )


@query(
    "q_pmi_bigrams",
    oracle=f"""
    WITH toks AS (
        SELECT {_CLEAN_TOKENS_SQL} AS tk FROM documents
    ),
    bigrams AS (
        SELECT unnest(list_transform(range(1, len(tk)),
                      i -> tk[CAST(i AS INT)] || ' ' || tk[CAST(i AS INT) + 1]))
               AS bg
        FROM toks
    ),
    uni AS (SELECT unnest(tk) AS w FROM toks),
    bg_counts AS (
        SELECT bg, COUNT(*) AS n_xy FROM bigrams GROUP BY bg HAVING COUNT(*) >= 5
    ),
    uni_counts AS (SELECT w, COUNT(*) AS n_w FROM uni GROUP BY w),
    tot AS (SELECT (SELECT COUNT(*) FROM uni) AS t_uni,
                   (SELECT COUNT(*) FROM bigrams) AS t_bg)
    SELECT split_part(bg, ' ', 1) AS w1,
           split_part(bg, ' ', 2) AS w2,
           n_xy,
           CAST(CAST(ln((CAST(n_xy AS DOUBLE) / t_bg)
                        / ((CAST(u1.n_w AS DOUBLE) / t_uni)
                         * (CAST(u2.n_w AS DOUBLE) / t_uni)))
                     AS DECIMAL(18,8)) AS DOUBLE) AS pmi
    FROM bg_counts
    CROSS JOIN tot
    JOIN uni_counts u1 ON u1.w = split_part(bg, ' ', 1)
    JOIN uni_counts u2 ON u2.w = split_part(bg, ' ', 2)
    """,
)
def q_pmi_bigrams(spark, sf_dir):
    """Pointwise-mutual-information collocation mining: which token
    bigrams co-occur far above chance — the phrase-detection pass a
    corpus pipeline runs before vocabulary building (cf. BM25/inverted
    index above).

    ONE corpus pass: each token explodes as a (token, next-token)
    pair (next NULL for a document's last token) and a single
    pair-count aggregate is the only corpus-scale shuffle. Unigram
    counts, bigram counts, and both corpus totals are then exact
    folds of that vocabulary-sized table — count(w) = Σ pairs
    starting with w (every occurrence starts exactly one pair),
    bigram counts are the non-NULL rows. The r2 form scanned and
    regex-cleaned the corpus twice (uni + bigram lanes); this halves
    the expensive tokenization work at any scale. ln() is libm, so
    PMI is snapped to DECIMAL(18,8) before exiting (FIXTURES.md §C)."""
    docs = t(spark, sf_dir, "documents").select(
        clean_tokens(F.col("text")).alias("tk"))
    # (w, nxt) per token occurrence; nxt NULL terminates each doc
    pair_expr = F.expr(
        "CASE WHEN size(tk) >= 1 THEN transform(sequence(1, size(tk)), "
        "i -> struct(element_at(tk, i) AS w, "
        "            CASE WHEN i < size(tk) THEN element_at(tk, i + 1) END AS nxt)) "
        "ELSE array() END"
    )
    pairs = docs.select(F.explode(pair_expr).alias("p")).select("p.w", "p.nxt")
    pc = pairs.groupBy("w", "nxt").agg(F.count("*").alias("n"))
    uni_counts = pc.groupBy("w").agg(F.sum("n").alias("n_w"))
    # (w, nxt) is the aggregate's key and tokens are \W+-free, so the
    # joined bigram string is already unique — no regroup needed
    bg_all = pc.filter(F.col("nxt").isNotNull()).select(
        F.concat_ws(" ", "w", "nxt").alias("bg"), F.col("n").alias("n_xy")
    )
    bg_counts = bg_all.filter(F.col("n_xy") >= 5)
    tot = F.broadcast(
        pc.agg(
            F.sum("n").alias("t_uni"),
            F.sum(F.when(F.col("nxt").isNotNull(), F.col("n"))).alias("t_bg"),
        )
    )
    w1 = F.expr("split_part(bg, ' ', 1)")
    w2 = F.expr("split_part(bg, ' ', 2)")
    joined = (
        bg_counts.withColumn("w1", w1).withColumn("w2", w2)
        .crossJoin(tot)
        .join(uni_counts.withColumnRenamed("w", "w1")
              .withColumnRenamed("n_w", "n_w1"), "w1")
        .join(uni_counts.withColumnRenamed("w", "w2")
              .withColumnRenamed("n_w", "n_w2"), "w2")
    )
    pmi = F.log(
        (F.col("n_xy").cast("double") / F.col("t_bg"))
        / (
            (F.col("n_w1").cast("double") / F.col("t_uni"))
            * (F.col("n_w2").cast("double") / F.col("t_uni"))
        )
    )
    return joined.select(
        "w1", "w2", "n_xy",
        pmi.cast("decimal(18,8)").cast("double").alias("pmi"),
    )


@query(
    "q_doc_stats",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, {_CLEAN_TOKENS_SQL} AS tk FROM documents
    )
    SELECT doc_id,
           CAST(len(tk) AS INT) AS n_tokens,
           CAST(len(list_distinct(tk)) AS INT) AS n_unique,
           CAST(len(list_distinct(tk)) AS DOUBLE)
               / NULLIF(len(tk), 0) AS ttr
    FROM toks
    """,
)
def q_doc_stats(spark, sf_dir):
    """Per-document lexical statistics: token count, vocabulary size,
    type-token ratio — the diversity screen next to q_quality_score /
    q_repetition_filter in a curation pipeline. Pure array HOFs (no
    explode, no shuffle: a map-only projection over the scan);
    NULLIF-guarded for empty documents."""
    docs = t(spark, sf_dir, "documents")
    tk = clean_tokens(F.col("text"))
    n_tokens = F.size(tk)
    n_unique = F.size(F.array_distinct(tk))
    return docs.select(
        "doc_id",
        n_tokens.cast("int").alias("n_tokens"),
        n_unique.cast("int").alias("n_unique"),
        (n_unique.cast("double") / F.nullif(n_tokens, F.lit(0))).alias("ttr"),
    )


@query(
    "q_keyword_tfidf",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, unnest({_CLEAN_TOKENS_SQL}) AS token FROM documents
    ),
    tf AS (
        SELECT doc_id, token, COUNT(*) AS tf
        FROM toks GROUP BY doc_id, token
    ),
    df AS (
        SELECT token, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY token
    ),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
        -- tf as INT: a BIGINT*DECIMAL(18,8) product overflows Spark's
        -- 38-digit cap and silently drops to scale 7 — INT keeps s=8
        SELECT tf.doc_id, tf.token,
               CAST(tf.tf AS INT) * CAST(ln(CAST(n.n_docs AS DOUBLE) / df.df)
                            AS DECIMAL(18,8)) AS score
        FROM tf JOIN df ON tf.token = df.token CROSS JOIN n
    )
    SELECT doc_id, token, CAST(score AS DOUBLE) AS score, rnk FROM (
        SELECT doc_id, token, score,
               CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
                                       ORDER BY score DESC, token) AS INT)
                   AS rnk
        FROM scored
    ) r WHERE rnk <= 3
    """,
)
def q_keyword_tfidf(spark, sf_dir):
    """Keyword extraction: top-3 tokens per document by tf-idf. The
    idf ln() is snapped to DECIMAL(18,8) BEFORE ranking, so tf*idf is
    exact decimal arithmetic and the rank order (score desc, token)
    cannot flip on a last-ulp libm difference. Two partial-agg
    shuffles (tf, df), the doc-count scalar broadcasts, one per-doc
    window keeps k."""
    docs = t(spark, sf_dir, "documents").select(
        "doc_id", clean_tokens(F.col("text")).alias("tk"))
    toks = docs.select("doc_id", F.explode("tk").alias("token"))
    tf = toks.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    df_ = toks.groupBy("token").agg(F.count_distinct("doc_id").alias("df"))
    n = F.broadcast(
        t(spark, sf_dir, "documents").agg(F.count("*").alias("n_docs"))
    )
    idf = F.log(F.col("n_docs").cast("double") / F.col("df")).cast("decimal(18,8)")
    scored = tf.join(df_, "token").crossJoin(n).select(
        "doc_id", "token", (F.col("tf").cast("int") * idf).alias("score")
    )
    from pyspark.sql import Window
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), "token")
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= 3)
        .select("doc_id", "token", F.col("score").cast("double").alias("score"), "rnk")
    )


_QUALITY_SQL = f"""ROUND((
    LEAST(CAST(LENGTH(text) AS DOUBLE) / 200.0, 1.0)
    + CAST(LENGTH(text) - LENGTH(regexp_replace(text, '[A-Za-z\\s]', '', 'g')) AS DOUBLE)
      / GREATEST(LENGTH(text), 1)
    + LEAST(CAST(len(list_distinct(list_filter(
          string_split_regex(lower(text), '\\s+'),
          x -> x IN ({_sql_str_list(NLTK_STOPWORDS[:50])})))) AS DOUBLE)
      / 5.0, 1.0)
) / 3.0, 6)"""


@query(
    "q_dedup_keep_best",
    oracle=f"""
    WITH scored AS (
        SELECT doc_id, md5(text) AS grp, {_QUALITY_SQL} AS quality
        FROM documents
    )
    SELECT doc_id, quality FROM (
        SELECT doc_id, quality,
               ROW_NUMBER() OVER (PARTITION BY grp
                                  ORDER BY quality DESC, doc_id) AS rn
        FROM scored
    ) r WHERE rn = 1
    """,
)
def q_dedup_keep_best(spark, sf_dir):
    """Quality-aware exact dedup: within each md5(text) duplicate
    group keep the HIGHEST-quality copy (q_quality_score's heuristic,
    doc_id tie-break) instead of the smallest id — what a curation
    pipeline actually wants when duplicates differ in metadata. Same
    single-shuffle shape as q_dedup_exact: the wide text bytes are
    hashed into the shuffle key, never moved twice."""
    docs = t(spark, sf_dir, "documents")
    from pyspark.sql import Window
    w = Window.partitionBy(F.md5(F.col("text"))).orderBy(
        F.desc("quality"), "doc_id"
    )
    return (
        docs.select(
            "doc_id",
            F.col("text"),
            F.round(quality_score(F.col("text")), 6).alias("quality"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "quality")
    )


@query(
    "q_dup_rate_by_source",
    oracle="""
    WITH grouped AS (
        SELECT source,
               ROW_NUMBER() OVER (PARTITION BY md5(text)
                                  ORDER BY doc_id) AS rn
        FROM documents
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dups,
           ROUND(CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS DOUBLE)
               / COUNT(*), 6) AS dup_rate
    FROM grouped GROUP BY source
    """,
)
def q_dup_rate_by_source(spark, sf_dir):
    """Curation reporting: per-source duplicate rates (how dirty is
    each ingest feed) — the metric sheet a dedup run publishes. Same
    md5-keyed single shuffle as q_dedup_exact, then a tiny source
    aggregate. BIGINT-cast sums + ROUND(rate, 6) both sides: DuckDB's
    SUM(CASE) is HUGEINT and raw double division is hasher-hostile
    (q_funnel precedent, FIXTURES.md §C)."""
    docs = t(spark, sf_dir, "documents")
    from pyspark.sql import Window
    w = Window.partitionBy(F.md5(F.col("text"))).orderBy("doc_id")
    grouped = docs.select(
        "source", F.row_number().over(w).alias("rn")
    )
    dup = F.sum(F.when(F.col("rn") > 1, 1).otherwise(0))
    return grouped.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        dup.cast("bigint").alias("n_dups"),
        F.round(dup.cast("double") / F.count("*"), 6).alias("dup_rate"),
    )


@query(
    "q_char_ngrams",
    oracle="""
    WITH grams AS (
        SELECT unnest(list_transform(range(1, GREATEST(LENGTH(text) - 1, 1)),
                      i -> substr(text, CAST(i AS INT), 3))) AS g
        FROM documents
    )
    SELECT g, COUNT(*) AS cnt
    FROM grams
    WHERE LENGTH(g) = 3
    GROUP BY g
    ORDER BY cnt DESC, g
    LIMIT 20
    """,
)
def q_char_ngrams(spark, sf_dir):
    """Character-trigram corpus profile (top-20) — the feature family
    classical language-ID and gibberish detectors train on (the n-gram
    sibling of functions/text.lang_id's marker-word heuristic). The
    trigram windows are generated with sequence+transform (JVM HOFs,
    no UDF), exploded once, and partial-aggregated map-side before the
    single shuffle; top-20 is TakeOrdered."""
    docs = t(spark, sf_dir, "documents").select("text")
    grams = docs.select(
        F.explode(
            F.expr(
                "transform(sequence(1, greatest(length(text) - 2, 1)), "
                "i -> substring(text, i, 3))"
            )
        ).alias("g")
    ).filter(F.length("g") == 3)
    return (
        grams.groupBy("g")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), "g")
        .limit(20)
    )


@query(
    "q_setsim_join",
    oracle=f"""
    WITH sets AS (
        SELECT doc_id, list_distinct({_CLEAN_TOKENS_SQL}) AS tk
        FROM documents
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(len(list_intersect(a.tk, b.tk)) AS DOUBLE)
               / NULLIF(len(list_distinct(a.tk || b.tk)), 0) AS sim
    FROM sets a JOIN sets b ON a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.tk, b.tk)) AS DOUBLE)
              / NULLIF(len(list_distinct(a.tk || b.tk)), 0) >= 0.8
    """,
)
def q_setsim_join(spark, sf_dir):
    """Set-similarity join (token-set Jaccard >= 0.8) with PREFIX
    FILTERING — the PPJoin-family candidate pruning: tokens are
    globally ordered rarest-first, each document exposes only its
    first |s| - ceil(t*|s|) + 1 tokens, and two documents can pass the
    threshold ONLY if their prefixes share a token. The filter is
    LOSSLESS for Jaccard, so the brute-force oracle matches exactly —
    an advanced pruning strategy whose output is still bit-checkable.
    At 100 TB: candidates are bounded by rare-token postings lists
    (the frequent tokens never enter a prefix), the inverted-index
    discipline of operators/dedup.py taken one step further."""
    docs = t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(F.array_distinct(clean_tokens(F.col("text")))).alias("token"),
    )
    freq = toks.groupBy("token").agg(F.count("*").alias("f"))
    # rarest-first total order (f, token); sets carried as sorted arrays
    sets = (
        toks.join(freq, "token")
        .groupBy("doc_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("f", "token"))),
                lambda s: s["token"],
            ).alias("tk")
        )
        .withColumn("sz", F.size("tk"))
        # feeds both prefix sides AND both verify sides — lazily
        # localCheckpoint so tokenize+freq+collect runs ONCE, not 4x
        .transform(shared_pass)
    )
    pref_len = (F.col("sz") - F.ceil(0.8 * F.col("sz")) + 1).cast("int")
    prefixes = sets.select(
        "doc_id", F.explode(F.slice("tk", 1, pref_len)).alias("token")
    )
    cand = (
        prefixes.alias("a")
        .join(
            prefixes.alias("b"),
            (F.col("a.token") == F.col("b.token"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .distinct()
    )
    sa = sets.select(F.col("doc_id").alias("id_a"), F.col("tk").alias("tk_a"))
    sb = sets.select(F.col("doc_id").alias("id_b"), F.col("tk").alias("tk_b"))
    inter = F.size(F.array_intersect("tk_a", "tk_b"))
    union = F.size(F.array_union("tk_a", "tk_b"))
    sim = inter.cast("double") / F.nullif(union, F.lit(0))
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", sim.alias("sim"))
        .filter(F.col("sim") >= 0.8)
    )


# ------------------------------------------------- round-3 hygiene lane

@query(
    "q_text_normalize",
    oracle=r"""
    SELECT doc_id,
           trim(regexp_replace(
               regexp_replace(
                   lower(text),
                   '[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]|​|‌|‍|﻿',
                   '', 'g'),
               '\s+', ' ', 'g')) AS norm_text,
           CAST(LENGTH(text) - LENGTH(regexp_replace(text,
               '[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]|​|‌|‍|﻿',
               '', 'g')) AS INT) AS n_stripped
    FROM documents
    """,
)
def q_text_normalize(spark, sf_dir):
    """Text normalization hygiene pass: case fold, strip control and
    zero-width characters (ZWSP/ZWNJ/ZWJ/BOM — the classic invisible
    junk in web-crawled corpora), collapse whitespace runs, trim.
    Pure regex Column expressions at scan speed on both engines, plus
    the per-doc stripped-character count as the audit column. (Full
    NFC/NFKC normalization needs ICU — that step is a pandas_udf in
    functions/text.py territory and deliberately not part of this
    oracle-checked core.)"""
    docs = t(spark, sf_dir, "documents")
    junk = (
        "[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f]"
        "|​|‌|‍|﻿"
    )
    stripped = F.regexp_replace(F.col("text"), junk, "")
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), junk, ""), r"\s+", " "
        )
    )
    return docs.select(
        "doc_id",
        norm.alias("norm_text"),
        (F.length("text") - F.length(stripped)).cast("int").alias("n_stripped"),
    )


@query(
    "q_domain_stats",
    oracle=r"""
    WITH urls AS (
        SELECT doc_id,
               unnest(regexp_extract_all(text, 'https?://([A-Za-z0-9.-]+)', 1))
                   AS domain
        FROM documents
    )
    SELECT lower(domain) AS domain,
           COUNT(*) AS n_urls,
           COUNT(DISTINCT doc_id) AS n_docs
    FROM urls
    GROUP BY lower(domain)
    """,
)
def q_domain_stats(spark, sf_dir):
    """Web-provenance report: extract every http(s) URL's host from
    the text, count mentions and distinct documents per domain — the
    source-attribution table crawl pipelines build before domain-level
    filtering/reweighting. regexp_extract_all keeps extraction on the
    scan; the aggregate shuffles only (domain)-keyed counts. The
    character-class regex is shared verbatim across engines (no
    lookarounds — RE2-safe)."""
    docs = t(spark, sf_dir, "documents")
    urls = docs.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(
                F.col("text"), F.lit(r"https?://([A-Za-z0-9.-]+)"), F.lit(1)
            )
        ).alias("domain"),
    )
    return (
        urls.select("doc_id", F.lower("domain").alias("domain"))
        .groupBy("domain")
        .agg(
            F.count("*").alias("n_urls"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
    )


@query(
    "q_component_split",
    oracle=f"""
    WITH RECURSIVE {_COMPONENT_CTES_SQL}
    SELECT d.doc_id,
           COALESCE(r.comp, d.doc_id) AS root,
           CASE WHEN SUBSTRING(md5(CAST(COALESCE(r.comp, d.doc_id)
                                        AS VARCHAR)), 1, 8) < 'cccccccc'
                THEN 'train' ELSE 'test' END AS split
    FROM documents d LEFT JOIN roots r ON d.doc_id = r.node
    """,
)
def q_component_split(spark, sf_dir):
    """Leakage-SAFE train/test split: where q_split gates each doc
    independently (and q_split_leakage then audits the near-dup pairs
    that cross the boundary), this split gates each near-duplicate
    COMPONENT — every doc inherits the md5 gate of its component's
    min-id root, so a test doc can never have a near-twin in train by
    construction (the GroupShuffleSplit discipline, applied to the
    dup graph). The component roots are literally q_dup_components'
    output (`_dup_component_roots`, one shared definition on both
    engine sides); singleton docs root themselves; one deterministic
    hash decision per root. At 100 TB the pair generation swaps to
    the MinHash band join and the closure is the same fixpoint; the
    split decision itself stays a pure map over (doc_id, root)."""
    docs = t(spark, sf_dir, "documents")
    roots = _dup_component_roots(spark, sf_dir).withColumnRenamed(
        "node", "doc_id"
    )
    root = F.coalesce(F.col("comp"), F.col("doc_id"))
    return docs.join(roots, "doc_id", "left").select(
        "doc_id",
        root.alias("root"),
        F.when(
            F.substring(F.md5(root.cast("string")), 1, 8) < "cccccccc",
            "train",
        ).otherwise("test").alias("split"),
    )


@query(
    "q_ngram_dup_rate",
    oracle="""
    WITH tok AS (
        SELECT doc_id, source,
               list_filter(string_split_regex(text, '\\s+'), x -> x <> '')
                 AS toks
        FROM documents
    ),
    g AS (
        SELECT doc_id, source,
               unnest(list_transform(range(1, len(toks) - 1),
                      i -> toks[i] || ' ' || toks[i + 1] || ' '
                           || toks[i + 2])) AS gram
        FROM tok WHERE len(toks) >= 3
    ),
    spread AS (
        SELECT gram, COUNT(DISTINCT doc_id) AS nd FROM g GROUP BY gram
    )
    SELECT g.source,
           COUNT(*) AS n_grams,
           CAST(SUM(CASE WHEN s.nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_grams,
           ROUND(CAST(SUM(CASE WHEN s.nd > 1 THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 6) AS dup_rate
    FROM g JOIN spread s ON g.gram = s.gram
    GROUP BY g.source
    """,
)
def q_ngram_dup_rate(spark, sf_dir):
    """Duplicated-n-gram token share per source — the corpus-health
    number from Lee et al. 2021 ("Deduplicating Training Data Makes
    Language Models Better", there with 10-grams; 3-grams here so the
    fixture's near-duplicates make the metric non-vacuous): the
    fraction of 3-gram INSTANCES whose gram also appears in at least
    one other document. ONE corpus explode+shuffle collapses the
    stream to (gram, source) partials (instance count + per-source
    doc spread; a doc carries exactly one source, so the global
    spread is the sum of per-source spreads); everything after runs
    on that vocab-sized table, lazily checkpointed so its two
    consumers (global spread + join back) reuse one corpus pass —
    the metric costs what a token count costs at 100 TB."""
    docs = t(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.col("text"), r"\s+"), lambda x: x != "")
    tok = docs.select("doc_id", "source", toks.alias("toks")).filter(
        F.size("toks") >= 3
    )
    # r15 (guide §2.3 — shuffle keys, not payloads): the gram string
    # never exits this query (output is per-source counts), so the
    # shuffle key is xxhash64 of the 3-token SLICE — 8 bytes instead
    # of a materialized ~20-40 byte concat per position, and the
    # groupBy/join run on longs. Tokens are \s+-split (no token
    # contains a space), so slice equality ≡ the old concat equality;
    # hash keying accepts the repo-standard 2^-64 collision tolerance
    # (the minhash-collapse convention).
    g = tok.select(
        "doc_id",
        "source",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size("toks") - 3),
                lambda i: F.xxhash64(F.slice(F.col("toks"), i + 1, 3)),
            )
        ).alias("gram"),
    )
    gs = (
        g.groupBy("gram", "source")
        .agg(
            F.count("*").alias("cnt"),
            F.countDistinct("doc_id").alias("nd_s"),
        )
        .transform(shared_pass)
    )
    spread = gs.groupBy("gram").agg(F.sum("nd_s").alias("nd"))
    dup_cnt = F.when(F.col("nd") > 1, F.col("cnt")).otherwise(F.lit(0))
    return (
        gs.join(spread, "gram")
        .groupBy("source")
        .agg(
            F.sum("cnt").alias("n_grams"),
            F.sum(dup_cnt).cast("bigint").alias("n_dup_grams"),
            F.round(F.sum(dup_cnt).cast("double") / F.sum("cnt"), 6)
            .alias("dup_rate"),
        )
    )


@query(
    "q_entity_clusters",
    oracle="""
    WITH RECURSIVE pairs AS (
        SELECT a.p_partkey AS a, b.p_partkey AS b
        FROM part a JOIN part b
          ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
        WHERE levenshtein(a.p_name, b.p_name) <= 3
    ),
    edges AS (
        SELECT a, b FROM pairs UNION SELECT b AS a, a AS b FROM pairs
    ),
    nodes AS (SELECT DISTINCT a AS node FROM edges),
    walk AS (
        SELECT node, node AS comp FROM nodes
        UNION
        SELECT e.b AS node, w.comp FROM walk w JOIN edges e ON e.a = w.node
    ),
    roots AS (SELECT node, MIN(comp) AS comp FROM walk GROUP BY node)
    SELECT r.comp AS entity_id,
           COUNT(*) AS n_records,
           CAST(MIN(r.node) AS BIGINT) AS min_key,
           CAST(MAX(r.node) AS BIGINT) AS max_key
    FROM roots r GROUP BY r.comp
    """,
)
def q_entity_clusters(spark, sf_dir):
    """Entity resolution end-to-end: the q_edit_distance match pairs
    (brand-blocked Levenshtein <= 3 — bounded candidates, JVM
    distance) closed under transitivity into ENTITY clusters via the
    same pointer-doubling min-label closure as the dup-component
    lane — records A~B and B~C merge into one entity even when A and
    C don't match directly, which is the whole point of the closure
    step in record linkage. Output is the per-entity roster summary
    (cluster id = min record key, size, key bounds); the DuckDB twin
    walks the identical graph recursively, so the fixpoint is
    value-checked. At 100 TB the blocking key swaps to length-band +
    first-token and the closure cost stays O(matched records), not
    O(table)."""
    from team_02_spark.operators.dedup import connected_components

    part = t(spark, sf_dir, "part")
    a, b = part.alias("a"), part.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.p_brand") == F.col("b.p_brand"))
            & (F.col("a.p_partkey") < F.col("b.p_partkey")),
        )
        .filter(F.levenshtein(F.col("a.p_name"), F.col("b.p_name")) <= 3)
        .select(F.col("a.p_partkey").alias("a"), F.col("b.p_partkey").alias("b"))
    )
    return (
        connected_components(pairs)
        .groupBy(F.col("comp").alias("entity_id"))
        .agg(
            F.count("*").alias("n_records"),
            F.min("node").cast("bigint").alias("min_key"),
            F.max("node").cast("bigint").alias("max_key"),
        )
    )


@query(
    "q_dedup_substring",
    oracle="""
    WITH tok AS (
        SELECT doc_id,
               list_filter(string_split_regex(text, '\\s+'), x -> x <> '')
                 AS toks
        FROM documents
    ),
    base AS (SELECT doc_id, len(toks) AS n_tokens, toks FROM tok),
    occ0 AS (
        SELECT doc_id,
               unnest(list_transform(range(1, len(toks) - 10 + 2),
                      i -> {'pos': i - 1,
                            'gram': array_to_string(toks[i:i+9], ' ')}),
                      recursive := true)
        FROM base WHERE n_tokens >= 10
    ),
    occ AS (
        SELECT doc_id, pos, gram, doc_id * 1000000 + pos AS okey FROM occ0
    ),
    ga AS (
        SELECT gram, COUNT(DISTINCT doc_id) AS nd, MIN(okey) AS mk
        FROM occ GROUP BY gram
    ),
    dup AS (
        SELECT o.doc_id, o.pos AS s, o.pos + 9 AS e
        FROM occ o JOIN ga ON o.gram = ga.gram
        WHERE ga.nd >= 2 AND o.okey <> ga.mk
    ),
    isl AS (
        SELECT doc_id, s, e,
               CASE WHEN s > COALESCE(MAX(e) OVER (
                        PARTITION BY doc_id ORDER BY s
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    -2) + 1 THEN 1 ELSE 0 END AS brk
        FROM dup
    ),
    isl2 AS (
        SELECT doc_id, s, e,
               SUM(brk) OVER (PARTITION BY doc_id ORDER BY s
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS island
        FROM isl
    ),
    spans AS (
        SELECT doc_id, island, MIN(s) AS ss, MAX(e) AS se
        FROM isl2 GROUP BY doc_id, island
    ),
    perdoc AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
               CAST(SUM(se - ss + 1) AS BIGINT) AS dup_tokens
        FROM spans GROUP BY doc_id
    )
    SELECT b.doc_id,
           CAST(b.n_tokens AS BIGINT) AS n_tokens,
           COALESCE(p.dup_tokens, 0) AS dup_tokens,
           COALESCE(p.n_spans, 0) AS n_spans,
           ROUND(CAST(COALESCE(p.dup_tokens, 0) AS DOUBLE)
                 / GREATEST(b.n_tokens, 1), 6) AS dup_ratio
    FROM base b LEFT JOIN perdoc p USING (doc_id)
    """,
)
def q_dedup_substring(spark, sf_dir):
    """M4, ExactSubstr mode (Lee et al. 2021's suffix-array dedup,
    the one cross-document dedup family member MinHash/SimHash/
    embedding lanes don't cover): per-document duplicated-substring
    stats — tokens covered by a >= 10-token run that also appears in
    another document (all-but-one canonical copy marked), merged into
    maximal spans. The paper's ICL suffix-array pipeline is a
    single-node build; the Spark shape (operators/dedup.py
    substring_duplicate_spans) is stride-1 k-gram anchors: one corpus
    explode -> gram-keyed aggregate (vocab-sized) -> join-back
    (candidates bounded by gram co-membership, never all-pairs) ->
    per-doc window interval-merge. Cost class: a token count plus one
    gram shuffle; no driver state."""
    docs = t(spark, sf_dir, "documents")
    return substring_dedup_stats(
        ensure_parallelism(docs), "doc_id", "text", k=10
    )


@query(
    "q_cms_topk",
    oracle=r"""
    WITH toks AS (
        SELECT unnest(list_filter(string_split_regex(lower(text), '\W+'),
                                  x -> x <> '')) AS t
        FROM documents
    ),
    occ AS (SELECT t, md5(t) AS mh FROM toks),
    cms AS (
        SELECT i AS depth,
               ('0x' || substr(mh, 4 * i + 1, 4))::BIGINT % 8192 AS bucket,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM occ, range(0, 5) r(i)
        GROUP BY 1, 2
    ),
    exact AS (
        SELECT t, CAST(COUNT(*) AS BIGINT) AS exact FROM toks GROUP BY t
    ),
    probes AS (
        SELECT e.t, e.exact, i AS depth,
               ('0x' || substr(md5(e.t), 4 * i + 1, 4))::BIGINT % 8192
                 AS bucket
        FROM exact e, range(0, 5) r(i)
    ),
    est AS (
        SELECT p.t, p.exact,
               CAST(MIN(COALESCE(c.cnt, 0)) AS BIGINT) AS est
        FROM probes p LEFT JOIN cms c USING (depth, bucket)
        GROUP BY p.t, p.exact
    )
    SELECT t AS token, est, exact,
           CAST(est - exact AS BIGINT) AS overestimate
    FROM est
    ORDER BY est DESC, token
    LIMIT 20
    """,
)
def q_cms_topk(spark, sf_dir):
    """Count-min heavy hitters over the corpus token stream — the
    frequency member of the mergeable-sketch family (HLL distinct /
    KLL quantile / theta set-ops / CMS counts / exact bitmaps,
    operators/sketches.py): the sketch is a (depth, bucket, cnt)
    table of at most d*w rows built in one map-side-combined stream
    pass, shards merge by counter SUM, and every distinct token
    (vocab-sized candidate set) is point-queried for its min-counter
    estimate. Portable md5-chunk hashing (one md5, d disjoint 16-bit
    chunks) makes the sketch engine-exact, so the DuckDB twin hash-
    matches — Spark's own `count_min_sketch` SQL aggregate emits an
    opaque binary with no SQL estimate/merge in 4.1, which is why the
    table form is the production path here. Output includes exact
    counts and the per-token overestimate so sketch error is visible."""
    docs = t(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(
            F.array_remove(F.split(F.lower(F.col("text")), r"\W+"), "")
        ).alias("token")
    )
    return cms_heavy_hitters(toks, value="token", k=20)


@query(
    "q_dedup_substring_strip",
    oracle="""
    WITH tok AS (
        SELECT doc_id,
               list_filter(string_split_regex(text, '\\s+'), x -> x <> '')
                 AS toks
        FROM documents
    ),
    base AS (SELECT doc_id, len(toks) AS n_tokens, toks FROM tok),
    occ0 AS (
        SELECT doc_id,
               unnest(list_transform(range(1, len(toks) - 10 + 2),
                      i -> {'pos': i - 1,
                            'gram': array_to_string(toks[i:i+9], ' ')}),
                      recursive := true)
        FROM base WHERE n_tokens >= 10
    ),
    occ AS (
        SELECT doc_id, pos, gram, doc_id * 1000000 + pos AS okey FROM occ0
    ),
    ga AS (
        SELECT gram, COUNT(DISTINCT doc_id) AS nd, MIN(okey) AS mk
        FROM occ GROUP BY gram
    ),
    dup AS (
        SELECT o.doc_id, o.pos AS s, o.pos + 9 AS e
        FROM occ o JOIN ga ON o.gram = ga.gram
        WHERE ga.nd >= 2 AND o.okey <> ga.mk
    ),
    isl AS (
        SELECT doc_id, s, e,
               CASE WHEN s > COALESCE(MAX(e) OVER (
                        PARTITION BY doc_id ORDER BY s
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    -2) + 1 THEN 1 ELSE 0 END AS brk
        FROM dup
    ),
    isl2 AS (
        SELECT doc_id, s, e,
               SUM(brk) OVER (PARTITION BY doc_id ORDER BY s
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS island
        FROM isl
    ),
    spans AS (
        SELECT doc_id, island, MIN(s) AS ss, MAX(e) AS se
        FROM isl2 GROUP BY doc_id, island
    ),
    dead AS (
        SELECT doc_id, unnest(range(ss, se + 1)) AS pos FROM spans
    ),
    stream AS (
        SELECT doc_id,
               unnest(list_transform(range(1, len(toks) + 1),
                      i -> {'pos': i - 1, 'tok': toks[i]}),
                      recursive := true)
        FROM tok
    ),
    kept AS (
        SELECT s.doc_id, s.pos, s.tok
        FROM stream s LEFT JOIN dead d
          ON s.doc_id = d.doc_id AND s.pos = d.pos
        WHERE d.pos IS NULL
    )
    SELECT b.doc_id,
           COALESCE(string_agg(k.tok, ' ' ORDER BY k.pos), '') AS text
    FROM base b LEFT JOIN kept k ON b.doc_id = k.doc_id
    GROUP BY b.doc_id
    """,
)
def q_dedup_substring_strip(spark, sf_dir):
    """The destructive half of the ExactSubstr lane, oracle-checked on
    the REBUILT TEXT itself: every cross-document duplicated >=10-token
    span (all-but-canonical copies) is removed positionally and the
    survivors re-joined — string-for-string parity with the DuckDB
    twin proves span positions, interval merge, and reassembly all at
    once. Same cost shape as q_dedup_substring plus one anti-join on
    (doc, pos) keys (dead-position volume == duplicated tokens, a
    corpus-shrinking quantity) and one per-doc sorted rebuild."""
    from team_02_spark.operators.dedup import strip_cross_duplicate_spans

    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    return strip_cross_duplicate_spans(
        ensure_parallelism(docs), "doc_id", "text", k=10
    )


@query(
    "q_zipf_fit",
    oracle=r"""
    WITH toks AS (
        SELECT unnest(list_filter(string_split_regex(lower(text), '\W+'),
                                  x -> x <> '')) AS t
        FROM documents
    ),
    cnt AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS c FROM toks GROUP BY t),
    top AS (
        SELECT t, c, ROW_NUMBER() OVER (ORDER BY c DESC, t) AS r
        FROM cnt
        QUALIFY r <= 100
    ),
    pts AS (
        SELECT LN(CAST(r AS DOUBLE)) AS lx, LN(CAST(c AS DOUBLE)) AS ly
        FROM top
    ),
    s AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n, SUM(lx) AS sx, SUM(ly) AS sy,
               SUM(lx * ly) AS sxy, SUM(lx * lx) AS sxx, SUM(ly * ly) AS syy
        FROM pts
    )
    SELECT CAST(n AS BIGINT) AS n_points,
           ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 4) AS slope,
           ROUND((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx)
                 / n, 4) AS intercept,
           ROUND(((n * sxy - sx * sy) * (n * sxy - sx * sy))
                 / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 4) AS r2
    FROM s
    """,
)
def q_zipf_fit(spark, sf_dir):
    """Zipf's-law fit of the corpus frequency distribution: OLS slope
    of log-frequency on log-rank over the top-100 tokens — the
    one-number corpus-health readout that separates natural language
    (slope near -1) from templated/spam text. The corpus collapses to
    vocab-sized counts in one pass; rank, logs and the closed-form
    regression all run on a 100-row table (TakeOrdered top-k, tiny
    window). 4dp rounding absorbs the cross-engine LN ulp (the
    q_dsir_select precedent)."""
    docs = t(spark, sf_dir, "documents")
    from pyspark.sql import Window as W

    toks = docs.select(
        F.explode(
            F.array_remove(F.split(F.lower(F.col("text")), r"\W+"), "")
        ).alias("tok")
    )
    cnt = toks.groupBy("tok").agg(F.count("*").cast("bigint").alias("c"))
    top = cnt.orderBy(F.desc("c"), "tok").limit(100).withColumn(
        "r", F.row_number().over(W.orderBy(F.desc("c"), "tok"))
    )
    pts = top.select(
        F.log(F.col("r").cast("double")).alias("lx"),
        F.log(F.col("c").cast("double")).alias("ly"),
    )
    s = pts.agg(
        F.count("*").cast("double").alias("n"),
        F.sum("lx").alias("sx"), F.sum("ly").alias("sy"),
        F.sum(F.col("lx") * F.col("ly")).alias("sxy"),
        F.sum(F.col("lx") * F.col("lx")).alias("sxx"),
        F.sum(F.col("ly") * F.col("ly")).alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return s.select(
        n.cast("bigint").alias("n_points"),
        F.round(slope, 4).alias("slope"),
        F.round((sy - slope * sx) / n, 4).alias("intercept"),
        F.round(
            ((n * sxy - sx * sy) * (n * sxy - sx * sy))
            / ((n * sxx - sx * sx) * (n * syy - sy * sy)),
            4,
        ).alias("r2"),
    )


@query(
    "q_containment_pairs",
    oracle=f"""
    WITH sets AS ({_NGRAM_SETS_SQL}),
    sizes AS (SELECT doc_id, len(sh) AS sz FROM sets),
    ex AS (SELECT doc_id, unnest(sh) AS s FROM sets),
    cand AS (
        SELECT a.doc_id AS ida, b.doc_id AS idb,
               CAST(COUNT(*) AS BIGINT) AS inter
        FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT c.ida, c.idb, c.inter,
           CAST(x.sz AS BIGINT) AS sza, CAST(y.sz AS BIGINT) AS szb,
           ROUND(CAST(c.inter AS DOUBLE) / LEAST(x.sz, y.sz), 6)
             AS containment
    FROM cand c
    JOIN sizes x ON c.ida = x.doc_id
    JOIN sizes y ON c.idb = y.doc_id
    WHERE CAST(c.inter AS DOUBLE) / LEAST(x.sz, y.sz) >= 0.8
    """,
)
def q_containment_pairs(spark, sf_dir):
    """Shingle-set CONTAINMENT pairs — the asymmetric cousin of the
    Jaccard dedup lanes: containment = |A∩B| / min(|A|,|B|) catches
    quote/expansion relationships (one doc embedded in a longer one)
    that symmetric Jaccard dilutes below threshold. Same bounded
    candidate generation as q_dedup_ngram (pairs sharing >= 1 shingle
    — complete, never all-pairs); the DECIMAL-free ratio is a quotient
    of exact integers so the strict >= 0.8 gate is deterministic."""
    docs = t(spark, sf_dir, "documents")
    # the shingle-set frame feeds both candidate sides and both size
    # joins — lazily localCheckpoint so shingling runs ONCE, not 4x
    sets_df = ensure_parallelism(docs).select(
        "doc_id", F.array_distinct(shingles("text", 3)).alias("sh")
    ).transform(shared_pass)
    ex = sets_df.select("doc_id", F.explode("sh").alias("s"))
    a, b = ex.alias("a"), ex.alias("b")
    cand = (
        a.join(b, (F.col("a.s") == F.col("b.s"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("ida"),
                 F.col("b.doc_id").alias("idb"))
        .agg(F.count("*").cast("bigint").alias("inter"))
    )
    sizes = sets_df.select("doc_id", F.size("sh").alias("sz"))
    ratio = F.col("inter").cast("double") / F.least("sza", "szb")
    return (
        cand.join(sizes.withColumnRenamed("doc_id", "ida")
                  .withColumnRenamed("sz", "sza"), "ida")
        .join(sizes.withColumnRenamed("doc_id", "idb")
              .withColumnRenamed("sz", "szb"), "idb")
        .filter(ratio >= 0.8)
        .select(
            "ida", "idb", "inter",
            F.col("sza").cast("bigint").alias("sza"),
            F.col("szb").cast("bigint").alias("szb"),
            F.round(ratio, 6).alias("containment"),
        )
    )
