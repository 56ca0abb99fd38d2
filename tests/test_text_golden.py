"""Golden-output tests for the text-cleaning pipeline (SURVEY.md §5.2.2).

Inputs are real rows from the reference's committed sample fixture
(/root/reference/data/tweets_1000.csv — reference src/main.py:73
output snapshot); expected outputs encode the ADOPTED spec
(SURVEY §2.10.1): strip URLs → strip punctuation → split \\W+ →
drop NLTK stopwords → Porter-stem; always array<string>.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from team_02_spark.functions.text import (
    clean_and_stem,
    clean_tokens,
    porter_stem,
)

# (tweet, expected clean tokens pre-stem, expected stemmed)
GOLDEN = [
    (
        "http://twitpic.com/8dmcz - I miss my friends ",
        ["I", "miss", "friends"],
        ["i", "miss", "friend"],
    ),
    (
        "@yoitsandrea Awwww, why did ya lose? ",
        ["yoitsandrea", "Awwww", "ya", "lose"],
        ["yoitsandrea", "awwww", "ya", "lose"],
    ),
    (
        "@Chevy_Boo I'd *love* to, but have a big day tomorrow &amp; about done"
        " for the night.    Thank you for asking me!",
        # "I'd" → punct-strip → "Id"; "&amp;" → "amp"; stopwords dropped.
        # Classic Porter: day→dai (1c y→i; NLTK's extension mode would
        # keep "day" — documented deviation, see porter_stem docstring).
        ["ChevyBoo", "Id", "love", "big", "day", "tomorrow", "amp", "done",
         "night", "Thank", "asking"],
        ["chevyboo", "id", "love", "big", "dai", "tomorrow", "amp", "done",
         "night", "thank", "ask"],
    ),
    ("http://only-a-url.example.com/x", [], []),
    ("", [], []),
]


@pytest.mark.parametrize("tweet,clean,_stemmed", GOLDEN)
def test_clean_tokens_golden(spark, tweet, clean, _stemmed):
    df = spark.createDataFrame([(tweet,)], "tweet string")
    got = df.select(clean_tokens(F.col("tweet")).alias("toks")).first()["toks"]
    assert got == clean, f"{tweet!r}: {got} != {clean}"


@pytest.mark.parametrize("tweet,_clean,stemmed", GOLDEN)
def test_clean_and_stem_golden(spark, tweet, _clean, stemmed):
    df = spark.createDataFrame([(tweet,)], "tweet string")
    got = df.select(clean_and_stem(F.col("tweet")).alias("toks")).first()["toks"]
    # Porter stemming per the classic algorithm; stems of mixed-case
    # tokens are case-normalized by our stemmer contract below.
    assert [s.lower() for s in got] == stemmed, f"{tweet!r}: {got} != {stemmed}"


# Canonical Porter (1980) vectors — published example pairs.
PORTER_VECTORS = [
    ("caresses", "caress"), ("ponies", "poni"), ("ties", "ti"),
    ("caress", "caress"), ("cats", "cat"), ("feed", "feed"),
    ("agreed", "agre"), ("plastered", "plaster"), ("motoring", "motor"),
    ("sing", "sing"), ("conflated", "conflat"), ("troubled", "troubl"),
    ("sized", "size"), ("hopping", "hop"), ("tanned", "tan"),
    ("falling", "fall"), ("hissing", "hiss"), ("fizzed", "fizz"),
    ("failing", "fail"), ("filing", "file"), ("happy", "happi"),
    ("sky", "sky"), ("relational", "relat"), ("conditional", "condit"),
    ("rational", "ration"), ("digitizer", "digit"), ("operator", "oper"),
    ("feudalism", "feudal"), ("hopefulness", "hope"), ("formality", "formal"),
    ("sensitivity", "sensit"), ("triplicate", "triplic"), ("formative", "form"),
    ("formalize", "formal"), ("electricity", "electr"), ("electrical", "electr"),
    ("hopeful", "hope"), ("goodness", "good"), ("revival", "reviv"),
    ("allowance", "allow"), ("inference", "infer"), ("airliner", "airlin"),
    ("adjustable", "adjust"), ("defensible", "defens"), ("irritant", "irrit"),
    ("replacement", "replac"), ("adjustment", "adjust"), ("dependent", "depend"),
    ("adoption", "adopt"), ("homologou", "homolog"), ("communism", "commun"),
    ("activate", "activ"), ("angulariti", "angular"), ("homologous", "homolog"),
    ("effective", "effect"), ("bowdlerize", "bowdler"), ("probate", "probat"),
    ("rate", "rate"), ("cease", "ceas"), ("controll", "control"),
    ("roll", "roll"),
]


@pytest.mark.parametrize("word,stem", PORTER_VECTORS)
def test_porter_stem_vectors(word, stem):
    assert porter_stem(word) == stem


def test_pii_scrub_synthetic(spark):
    from team_02_spark.functions.text import pii_count, pii_scrub

    rows = [
        ("reach me at bob@example.com or 192.168.0.1", "<EMAIL>", 2),
        ("call +1 (555) 123-4567 now", "<PHONE>", 1),
        ("no pii here at all", None, 0),
    ]
    df = spark.createDataFrame([(t,) for t, _, _ in rows], "text string")
    out = df.select(
        pii_scrub(F.col("text")).alias("s"), pii_count(F.col("text")).alias("n")
    ).collect()
    for (_, expect_tag, expect_n), r in zip(rows, out):
        if expect_tag:
            assert expect_tag in r["s"], r["s"]
        assert r["n"] == expect_n, (r["s"], r["n"])
        assert "@" not in r["s"]


def test_repetition_ratio_synthetic(spark):
    from team_02_spark.functions.text import repetition_ratio

    df = spark.createDataFrame(
        [("spam spam spam spam spam spam spam spam",),
         ("each word here appears exactly once in text",)],
        "text string",
    )
    out = df.select(repetition_ratio(F.col("text")).alias("r")).collect()
    assert out[0]["r"] > 0.8   # pure loop
    assert out[1]["r"] == 0.0  # all distinct


def test_decontaminate(spark):
    from team_02_spark.operators.contamination import decontaminate

    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog today"),
         (2, "completely unrelated content with different words entirely"),
         (3, "quick brown fox jumps over everything else near here")],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        "bench_id long, text string",
    )
    kept = decontaminate(docs, bench, min_shared=2)
    ids = {r["doc_id"] for r in kept.collect()}
    assert 1 not in ids      # verbatim overlap → removed
    assert 2 in ids          # clean → kept


def test_decontaminate_empty_benchmark_keeps_everything(spark):
    from team_02_spark.operators.contamination import decontaminate

    docs = spark.createDataFrame(
        [(1, "some text here"), (2, "other text there")],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame([], "bench_id long, text string")
    assert decontaminate(docs, bench, min_shared=2).count() == 2


def test_domain_stats_on_url_bearing_rows(spark, tmp_path):
    """ADVICE r3: the fixture corpus contains no http(s) URLs, so the
    driver's q_domain_stats check is 0-rows-vs-0-rows — vacuous. This
    exercises the actual extraction logic (query AND oracle SQL) on a
    synthetic documents table with URLs, multi-URL rows, mixed case,
    and URL-free noise."""
    import duckdb

    from team_02_spark.queries import QUERIES

    rows = [
        (1, "see https://Example.COM/page and http://example.com/other", "en", "src0", 55),
        (2, "plain text with no links at all", "en", "src1", 31),
        (3, "dup host http://sub.Example.com http://sub.example.com x", "en", "src2", 56),
        (4, "mixed https://other.org/a?b=c trailing", "en", "src0", 38),
        (5, "not-a-url htp://bad.example nope", "en", "src1", 32),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    sf = str(tmp_path)
    df.coalesce(1).write.parquet(f"{sf}/documents.parquet")

    spec = QUERIES["q_domain_stats"]
    got = {(r["domain"], r["n_urls"], r["n_docs"])
           for r in spec.fn(spark, sf).collect()}
    assert got == {
        ("example.com", 2, 1),
        ("sub.example.com", 2, 1),
        ("other.org", 1, 1),
    }

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf}/documents.parquet/*.parquet')"
    )
    oracle = {tuple(r) for r in con.execute(spec.oracle).fetchall()}
    assert oracle == got


def test_strip_repeated_spans_golden(spark):
    from team_02_spark.functions.text import strip_repeated_spans

    rep = " ".join(["a b c d"] * 3)                 # 12 tokens, gram n=4 repeats
    clean = "every word here is fresh and unrepeated"
    df = spark.createDataFrame([(1, rep), (2, clean), (3, None), (4, "tiny doc")],
                               "doc_id long, text string")
    out = {r["doc_id"]: r["s"] for r in
           df.select("doc_id", strip_repeated_spans(F.col("text"), 4).alias("s")).collect()}
    # first 4-gram kept; the two verbatim repeats dropped
    assert out[1] == "a b c d"
    assert out[2] == clean          # nothing repeated → unchanged
    assert out[3] is None           # null passthrough
    assert out[4] == "tiny doc"     # shorter than n → untouched


def test_strip_repeated_spans_partial_tail(spark):
    """A repeat that starts inside the doc tail (fewer than n tokens
    left) is NOT treated as a span — only full n-grams dedup."""
    from team_02_spark.functions.text import strip_repeated_spans

    txt = "p q r s x p q r"                        # tail repeat is only 3 long
    df = spark.createDataFrame([(1, txt)], "doc_id long, text string")
    got = df.select(strip_repeated_spans(F.col("text"), 4).alias("s")).first()["s"]
    assert got == txt


def test_split_leakage_synthetic_cross_boundary(spark, monkeypatch, tmp_path):
    """Fixture-independent exercise of the leakage detector: build a
    documents table where a known near-dup pair straddles the md5
    split boundary, run the registered query against it, and pin the
    detected pair. Guards against the q_domain_stats-style vacuous-
    oracle trap if fixtures drift."""
    import duckdb

    from team_02_spark.queries import QUERIES

    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = base.replace("today", "tonight")
    # choose ids on opposite sides of the 'cccccccc' md5 gate
    from hashlib import md5 as _md5
    train_id = next(i for i in range(1000)
                    if _md5(str(i).encode()).hexdigest()[:8] < "cccccccc")
    test_id = next(i for i in range(1000)
                   if _md5(str(i).encode()).hexdigest()[:8] >= "cccccccc")
    rows = [(train_id, base, "en", "s0", len(base)),
            (test_id, near, "en", "s1", len(near)),
            (999999, "completely different content with no shared threegrams at all here", "en", "s2", 60)]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars int")
    path = str(tmp_path / "documents.parquet")
    df.coalesce(1).write.parquet(path)
    # the query reads <sf_dir>/documents.parquet
    out = QUERIES["q_split_leakage"].fn(spark, str(tmp_path)).collect()
    got = {(r["train_id"], r["test_id"]) for r in out}
    assert (train_id, test_id) in got
    assert all(p[0] != 999999 and p[1] != 999999 for p in got)

    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}/*.parquet')")
    oracle = {(r[0], r[1]) for r in
              con.execute(QUERIES["q_split_leakage"].oracle).fetchall()}
    assert got == oracle


def test_compression_ratio_orders_repetitive_below_prose(spark):
    from team_02_spark.functions.text import compression_ratio

    df = spark.createDataFrame(
        [(1, "buy now " * 200),
         (2, "The five boxing wizards jump quickly over the glib jazzy dwarf "
             "while a quartet of vexed gnomes plots beyond the fjord at dusk."),
         (3, ""), (4, None)],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["cr"] for r in
           df.select("doc_id", compression_ratio(F.col("text")).alias("cr")).collect()}
    assert out[1] < 0.1           # looped spam compresses to almost nothing
    assert out[3] == 1.0 and out[4] is None
    assert out[1] < out[2]        # spam below prose
    assert 0.3 < out[2] <= 1.2    # prose in the sane band


class TestStripHtml:
    """Golden vectors for the HTML boilerplate stripper."""

    CASES = [
        # tags removed, block boundaries become newlines
        ("<html><body><h1>Title</h1><p>One.</p><p>Two.</p></body></html>",
         "Title\nOne.\nTwo."),
        # script/style contents are INVISIBLE text and must vanish
        ("<p>keep</p><script>var x = 'gone';</script><style>p{color:red}"
         "</style><p>also</p>", "keep\nalso"),
        # entities decode; inline tags don't split words
        ("A &amp; B &lt;tag&gt; say &quot;hi&quot; to <b>bold</b>world",
         "A & B <tag> say \"hi\" to bold world"),
        # comments + br handling (attributed br is still a line break)
        ("line1<br>line2<!-- hidden -->done", "line1\nline2 done"),
        ("a<br class=\"x\">b<br/>c", "a\nb\nc"),
        # escaped entities must not double-unescape: &amp;lt; renders
        # as the literal text "&lt;", NOT as "<"
        ("5 &amp;lt; 6 &amp;amp; more", "5 &lt; 6 &amp; more"),
        # nbsp + whitespace collapse
        ("a&nbsp;&nbsp;b   c\n\n\nd", "a b c\nd"),
        # no html at all: passthrough (modulo whitespace collapse)
        ("plain text stays", "plain text stays"),
    ]

    def test_golden_vectors(self, spark):
        from team_02_spark.functions.text import strip_html

        src = spark.createDataFrame(
            [(i, html) for i, (html, _) in enumerate(self.CASES)],
            "id long, text string",
        )
        got = {
            r["id"]: r["out"]
            for r in src.select(
                "id", strip_html(F.col("text")).alias("out")
            ).collect()
        }
        for i, (_, want) in enumerate(self.CASES):
            assert got[i] == want, (i, got[i], want)

    def test_jvm_only(self, spark):
        from team_02_spark.functions.text import strip_html
        from team_02_spark.plans import uses_python_udf

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        df = docs.select(strip_html(F.col("text")).alias("t"))
        assert not uses_python_udf(df)
