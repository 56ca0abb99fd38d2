"""Text-processing stages: the reference's cleaning pipeline re-expressed
as Catalyst-visible Column expressions, plus the text-analysis operators
an LLM-data pipeline needs (language ID, quality scoring, token
counting, fingerprinting).

Reference semantics (SURVEY.md §2.7 / §2.10): the reference's
``_clean_tweet`` (reference src/main.py:51-61) *intends* — per the spec
decision in SURVEY §2.10.1 — remove URLs → strip punctuation → split on
``\\W+`` → drop NLTK-English stopwords → Porter-stem. Everything except
the stemmer is a built-in JVM expression here (URL regex, translate,
split, array_except); only Porter stemming crosses into Python, as an
Arrow-batched pandas_udf, and it is the *last* stage so every filter
runs before the opaque UDF (manual pushdown — Catalyst will not cross a
Python UDF).
"""

from __future__ import annotations

import string
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

URL_RE = r"(https?://\S+|www\.\S+)"

# NLTK English stopword list, inlined (public corpus content; the
# reference loads it at src/main.py:45 via nltk.download('stopwords')).
# Spark's StopWordsRemover default list differs — fidelity requires the
# NLTK list (SURVEY §2.7 F4).
NLTK_STOPWORDS = [
    "i", "me", "my", "myself", "we", "our", "ours", "ourselves", "you",
    "you're", "you've", "you'll", "you'd", "your", "yours", "yourself",
    "yourselves", "he", "him", "his", "himself", "she", "she's", "her",
    "hers", "herself", "it", "it's", "its", "itself", "they", "them",
    "their", "theirs", "themselves", "what", "which", "who", "whom",
    "this", "that", "that'll", "these", "those", "am", "is", "are",
    "was", "were", "be", "been", "being", "have", "has", "had",
    "having", "do", "does", "did", "doing", "a", "an", "the", "and",
    "but", "if", "or", "because", "as", "until", "while", "of", "at",
    "by", "for", "with", "about", "against", "between", "into",
    "through", "during", "before", "after", "above", "below", "to",
    "from", "up", "down", "in", "out", "on", "off", "over", "under",
    "again", "further", "then", "once", "here", "there", "when",
    "where", "why", "how", "all", "any", "both", "each", "few", "more",
    "most", "other", "some", "such", "no", "nor", "not", "only", "own",
    "same", "so", "than", "too", "very", "s", "t", "can", "will",
    "just", "don", "don't", "should", "should've", "now", "d", "ll",
    "m", "o", "re", "ve", "y", "ain", "aren", "aren't", "couldn",
    "couldn't", "didn", "didn't", "doesn", "doesn't", "hadn", "hadn't",
    "hasn", "hasn't", "haven", "haven't", "isn", "isn't", "ma",
    "mightn", "mightn't", "mustn", "mustn't", "needn", "needn't",
    "shan", "shan't", "shouldn", "shouldn't", "wasn", "wasn't",
    "weren", "weren't", "won", "won't", "wouldn", "wouldn't",
]


def strip_urls(text: Column) -> Column:
    """F1: remove URLs (reference gates on spaCy ``like_url``,
    src/main.py:53-55; spec = remove)."""
    return F.regexp_replace(text, URL_RE, "")


def strip_punct(text: Column) -> Column:
    """F2: drop every char in string.punctuation (src/main.py:57).
    ``translate`` is a single codegen'd pass — no regex engine."""
    return F.translate(text, string.punctuation, "")


def tokenize(text: Column) -> Column:
    """F3: split on non-word runs, exactly ``re.split('\\W+', text)``
    (src/main.py:58), dropping empty tokens the split produces at the
    string edges."""
    return F.array_remove(F.split(text, r"\W+"), "")


def remove_stopwords(tokens: Column, stopwords: list[str] | None = None) -> Column:
    """F4: drop NLTK-English stopwords (src/main.py:59). Uses the
    ``filter`` higher-order function, NOT ``array_except`` — the
    reference's list comprehension preserves duplicate tokens and
    array_except would dedup them."""
    words = F.array(*[F.lit(w) for w in (stopwords or NLTK_STOPWORDS)])
    return F.filter(tokens, lambda t: ~F.array_contains(words, t))


def clean_tokens(text: Column, *, lowercase: bool = False) -> Column:
    """F1→F4 composed: URL-strip, punct-strip, tokenize, stopword-drop.
    The reference does NOT lowercase (fidelity note SURVEY §2.7 F6);
    ``lowercase=True`` gives the conventional variant."""
    t = strip_punct(strip_urls(text))
    if lowercase:
        t = F.lower(t)
    return remove_stopwords(tokenize(t))


# ---------------------------------------------------------------- F5
# Porter stemmer — pure-python implementation of the CLASSIC Porter
# (1980) algorithm. The reference uses nltk.PorterStemmer()
# (src/main.py:44,60) whose default mode adds NLTK-specific extensions
# (e.g. keeps "day" where classic yields "dai"); we pin to the
# published algorithm — documented deviation (SURVEY §7.3 discipline).
# Vectorized over Arrow batches; no per-row Python UDF.

_VOWELS = "aeiou"


def _is_cons(word: str, i: int) -> bool:
    c = word[i]
    if c in _VOWELS:
        return False
    if c == "y":
        return i == 0 or not _is_cons(word, i - 1)
    return True


def _measure(stem: str) -> int:
    """Porter's m: number of VC sequences in the C?(VC)^m V? form."""
    run = "".join("c" if _is_cons(stem, i) else "v" for i in range(len(stem)))
    collapsed = []
    for ch in run:
        if not collapsed or collapsed[-1] != ch:
            collapsed.append(ch)
    return "".join(collapsed).count("vc")


def _contains_vowel(stem: str) -> bool:
    return any(not _is_cons(stem, i) for i in range(len(stem)))


def _ends_double_cons(word: str) -> bool:
    return len(word) >= 2 and word[-1] == word[-2] and _is_cons(word, len(word) - 1)


def _cvc(word: str) -> bool:
    if len(word) < 3:
        return False
    if not (_is_cons(word, len(word) - 3) and not _is_cons(word, len(word) - 2) and _is_cons(word, len(word) - 1)):
        return False
    return word[-1] not in "wxy"


def porter_stem(word: str) -> str:
    """Porter (1980) stemming algorithm, standard formulation."""
    if len(word) <= 2:
        return word
    w = word

    # Step 1a
    if w.endswith("sses"):
        w = w[:-2]
    elif w.endswith("ies"):
        w = w[:-2]
    elif w.endswith("ss"):
        pass
    elif w.endswith("s"):
        w = w[:-1]

    # Step 1b
    flag_1b = False
    if w.endswith("eed"):
        if _measure(w[:-3]) > 0:
            w = w[:-1]
    elif w.endswith("ed"):
        if _contains_vowel(w[:-2]):
            w = w[:-2]
            flag_1b = True
    elif w.endswith("ing"):
        if _contains_vowel(w[:-3]):
            w = w[:-3]
            flag_1b = True
    if flag_1b:
        if w.endswith(("at", "bl", "iz")):
            w += "e"
        elif _ends_double_cons(w) and not w.endswith(("l", "s", "z")):
            w = w[:-1]
        elif _measure(w) == 1 and _cvc(w):
            w += "e"

    # Step 1c
    if w.endswith("y") and _contains_vowel(w[:-1]):
        w = w[:-1] + "i"

    # Step 2
    step2 = [
        ("ational", "ate"), ("tional", "tion"), ("enci", "ence"),
        ("anci", "ance"), ("izer", "ize"), ("abli", "able"),
        ("alli", "al"), ("entli", "ent"), ("eli", "e"), ("ousli", "ous"),
        ("ization", "ize"), ("ation", "ate"), ("ator", "ate"),
        ("alism", "al"), ("iveness", "ive"), ("fulness", "ful"),
        ("ousness", "ous"), ("aliti", "al"), ("iviti", "ive"),
        ("biliti", "ble"),
    ]
    for suf, rep in step2:
        if w.endswith(suf):
            if _measure(w[: -len(suf)]) > 0:
                w = w[: -len(suf)] + rep
            break

    # Step 3
    step3 = [
        ("icate", "ic"), ("ative", ""), ("alize", "al"), ("iciti", "ic"),
        ("ical", "ic"), ("ful", ""), ("ness", ""),
    ]
    for suf, rep in step3:
        if w.endswith(suf):
            if _measure(w[: -len(suf)]) > 0:
                w = w[: -len(suf)] + rep
            break

    # Step 4
    step4 = [
        "al", "ance", "ence", "er", "ic", "able", "ible", "ant",
        "ement", "ment", "ent", "ion", "ou", "ism", "ate", "iti",
        "ous", "ive", "ize",
    ]
    for suf in step4:
        if w.endswith(suf):
            stem = w[: -len(suf)]
            if _measure(stem) > 1:
                if suf == "ion" and not stem.endswith(("s", "t")):
                    break
                w = stem
            break

    # Step 5a
    if w.endswith("e"):
        stem = w[:-1]
        m = _measure(stem)
        if m > 1 or (m == 1 and not _cvc(stem)):
            w = stem
    # Step 5b
    if _measure(w) > 1 and _ends_double_cons(w) and w.endswith("l"):
        w = w[:-1]
    return w


@F.pandas_udf(T.ArrayType(T.StringType()))
def stem_tokens(batches: "Iterator[pd.Series]") -> "Iterator[pd.Series]":
    """F5: Porter-stem each token of an array<string> column.
    Iterator form with a per-worker memo cache: natural-language token
    distributions are Zipfian, so the cache turns the per-token cost
    into a dict lookup for all but the first occurrence."""
    cache: dict[str, str] = {}

    def stem(tok: str) -> str:
        s = cache.get(tok)
        if s is None:
            s = porter_stem(tok)
            cache[tok] = s
        return s

    for tokens in batches:
        yield tokens.map(
            lambda arr: [stem(t) for t in arr] if arr is not None else None
        )


def clean_and_stem(text: Column) -> Column:
    """Full reference cleaning pipeline F1→F5 (spec form, SURVEY
    §2.10.1): always returns array<string>."""
    return stem_tokens(clean_tokens(text))


# ------------------------------------------------- text analysis lane
# Extension operators for LLM training-data pipelines (BASELINE.json
# north star). All pure Column expressions — run at scan speed.

# Tiny per-language stopword marker lists for n-gram-free heuristic
# language ID. Public linguistic facts; chosen to be disjoint enough on
# the fixture vocabulary.
_LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "is", "in", "that", "it", "for", "with"],
    "fr": ["le", "la", "les", "et", "de", "un", "une", "est", "pour", "que"],
    "es": ["el", "los", "las", "y", "es", "en", "por", "para", "con", "una"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "mit", "ein", "für", "auf"],
    "zh": ["的", "是", "在", "了", "和", "有", "我", "不", "这", "中"],
}


def lang_id(text: Column) -> Column:
    """Heuristic language ID: score = count of language-marker tokens
    hit; argmax over languages, 'und' when nothing matches. Expressed
    with JVM array ops (no UDF): tokenize once, intersect with each
    marker list."""
    toks = F.split(F.lower(text), r"\s+")
    scores = F.array(
        *[
            F.struct(
                F.size(
                    F.array_intersect(toks, F.array(*[F.lit(w) for w in words]))
                ).alias("score"),
                F.lit(lang).alias("lang"),
            )
            for lang, words in _LANG_MARKERS.items()
        ]
    )
    best = F.array_max(scores)
    return F.when(best["score"] > 0, best["lang"]).otherwise(F.lit("und"))


def quality_score(text: Column) -> Column:
    """Composite quality heuristic in [0,1]: mean of
    - length score: min(1, n_chars/200)
    - alpha ratio: fraction of chars that are not punctuation/digits
    - stopword presence: min(1, stopword_hits/5)  (fluent text has them)
    All JVM expressions; castable to the DuckDB oracle.
    """
    n = F.length(text)
    alpha = (n - F.length(F.regexp_replace(text, r"[A-Za-z\s]", ""))) / F.greatest(n, F.lit(1))
    toks = F.split(F.lower(text), r"\s+")
    stop_hits = F.size(
        F.array_intersect(toks, F.array(*[F.lit(w) for w in NLTK_STOPWORDS[:50]]))
    )
    length_score = F.least(n / F.lit(200.0), F.lit(1.0))
    stop_score = F.least(stop_hits / F.lit(5.0), F.lit(1.0))
    return (length_score + alpha + stop_score) / F.lit(3.0)


def token_count(text: Column) -> Column:
    """Whitespace token count — the standard quick budget estimate."""
    return F.size(F.array_remove(F.split(text, r"\s+"), ""))


def bpe_ish_token_count(text: Column) -> Column:
    """BPE-flavored token estimate: count word pieces after splitting on
    whitespace AND punctuation boundaries, plus one token per ~4 chars
    of long words (the common len/4 heuristic, fully deterministic)."""
    pieces = F.array_remove(F.split(text, r"[\s\p{Punct}]+"), "")
    long_extra = F.aggregate(
        pieces,
        F.lit(0),
        lambda acc, w: acc
        + F.when(
            F.length(w) > 4, F.floor((F.length(w) - 1) / F.lit(4.0)).cast("int")
        ).otherwise(F.lit(0)),
    )
    return (F.size(pieces) + long_extra).cast("int")


# ----------------------------------------------- data-hygiene lane
# PII scrubbing and repetition filtering — standard LLM training-data
# hygiene, all Catalyst expressions (scan-speed, no UDF).

PII_PATTERNS = {
    # order matters: emails before bare domains, phones after.
    "EMAIL": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "IP": r"\b(?:\d{1,3}\.){3}\d{1,3}\b",
    "PHONE": r"\+?\d[\d\s().-]{7,}\d",
}


def pii_scrub(text: Column) -> Column:
    """Replace emails / IPs / phone-shaped spans with typed tokens
    (<EMAIL>, <IP>, <PHONE>). Deterministic regex pass per class."""
    out = text
    for tag, pattern in PII_PATTERNS.items():
        out = F.regexp_replace(out, pattern, f"<{tag}>")
    return out


def pii_count(text: Column) -> Column:
    """How many spans ``pii_scrub`` replaces. Counted SEQUENTIALLY on
    the progressively-scrubbed text (an IP also matches the looser
    phone pattern — independent counting would double-count it)."""
    total = F.lit(0)
    current = text
    for tag, pattern in PII_PATTERNS.items():
        total = total + F.size(F.regexp_extract_all(current, F.lit(pattern), F.lit(0)))
        current = F.regexp_replace(current, pattern, f"<{tag}>")
    return total.cast("int")


def repetition_ratio(text: Column, n: int = 3) -> Column:
    """Gopher-style repetition signal: 1 - distinct/total word
    n-grams. 0 = no repeated n-gram, →1 = the document is one loop.
    Used as a quality filter (drop docs above ~0.3)."""
    toks = F.array_remove(F.split(F.lower(text), r"\W+"), "")
    idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0)))
    grams = F.when(F.size(toks) < n, F.array(F.concat_ws(" ", toks))).otherwise(
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)))
    )
    return (
        F.lit(1.0) - F.size(F.array_distinct(grams)) / F.greatest(F.size(grams), F.lit(1))
    )


def strip_repeated_spans(text: Column, n: int = 10) -> Column:
    """Intra-document exact-substring dedup (the within-doc half of
    Lee et al. 2021, "Deduplicating Training Data Makes Language
    Models Better"): greedily drop any span whose opening word n-gram
    already occurred earlier in the SAME document — boilerplate
    repeats, scraped nav blocks, copy-paste loops.

    Semantics (deterministic, order-sensitive by design): scan tokens
    left to right; if the n-gram starting at position i was seen
    before, skip n tokens and continue the scan AFTER the span
    (spans never partially overlap a kept region); otherwise emit the
    token and record the n-gram. Documents shorter than n tokens pass
    through untouched.

    Sequential per-doc loop → Arrow pandas_udf (one doc is one cell;
    the scan is O(len) with a per-doc set). Not SQL-expressible, so
    golden-tested rather than oracle-checked."""

    @F.pandas_udf(T.StringType())
    def _strip(batches: "Iterator[pd.Series]") -> "Iterator[pd.Series]":
        for s in batches:
            out = []
            for doc in s:
                if doc is None:
                    out.append(None)
                    continue
                toks = doc.split()
                if len(toks) < n:
                    out.append(doc)
                    continue
                seen: set = set()
                kept = []
                i = 0
                while i < len(toks):
                    if i + n <= len(toks):
                        gram = " ".join(toks[i:i + n])
                        if gram in seen:
                            i += n
                            continue
                        seen.add(gram)
                    kept.append(toks[i])
                    i += 1
                out.append(" ".join(kept))
            yield pd.Series(out)

    return _strip(text)


def compression_ratio(text: Column) -> Column:
    """zlib compression ratio (compressed/raw bytes) — the classic
    cheap repetitiveness signal for pretraining quality filters:
    boilerplate and looped spam compress far below ~0.4, natural
    prose sits higher. Deterministic (zlib level 6), Arrow-batched;
    empty/null-safe (ratio 1.0 for empty). Complements the n-gram
    repetition_ratio above: zlib catches long-range and non-aligned
    repeats that fixed-n shingles miss."""
    import zlib

    @F.pandas_udf(T.DoubleType())
    def _ratio(batches: "Iterator[pd.Series]") -> "Iterator[pd.Series]":
        for s in batches:
            out = []
            for doc in s:
                if doc is None:
                    out.append(None)
                    continue
                raw = doc.encode("utf-8")
                if not raw:
                    out.append(1.0)
                    continue
                out.append(len(zlib.compress(raw, 6)) / len(raw))
            yield pd.Series(out, dtype="float64")

    return _ratio(text)


def strip_html(text: Column) -> Column:
    """Boilerplate-strip raw HTML down to its visible text — the step
    in front of every web-crawl curation funnel (extends the F1-F4
    cleaning family to web sources; the reference only ever sees
    pre-extracted tweet text). Pure JVM regexp passes, no Python:

    1. drop <script>/<style>/<noscript> ELEMENTS with their contents
       (their text is never visible);
    2. drop HTML comments;
    3. turn block-level closers/openers and <br> into newlines so
       words from adjacent blocks don't fuse;
    4. drop every remaining tag;
    5. decode the half-dozen entities that dominate real pages
       (&amp; &lt; &gt; &quot; &#39; &nbsp;);
    6. collapse runs of blank lines / spaces.

    This is deliberately a lightweight extractor (tag-blind, no DOM,
    no main-content scoring a la trafilatura/readability) — it runs
    at scan speed inside codegen; swap in a Pandas-UDF extractor only
    for sources where layout noise dominates."""
    no_elem = F.regexp_replace(
        text, r"(?is)<(script|style|noscript)\b.*?</\1\s*>", " "
    )
    no_comment = F.regexp_replace(no_elem, r"(?s)<!--.*?-->", " ")
    blocks = F.regexp_replace(
        no_comment,
        r"(?i)<(?:br\b[^>]*|/?(?:p|div|li|ul|ol|h[1-6]|tr|table|"
        r"blockquote|section|article|header|footer)\b[^>]*)>",
        "\n",
    )
    no_tag = F.regexp_replace(blocks, r"(?s)<[^>]+>", " ")
    decoded = no_tag
    # &amp; must decode LAST: doing it earlier turns escaped entity
    # text ("&amp;lt;", which renders as "&lt;") into "&lt;" while
    # later passes still run, double-unescaping it to "<".
    for ent, ch in (
        ("&nbsp;", " "), ("&lt;", "<"), ("&gt;", ">"),
        ("&quot;", "\""), ("&#39;", "'"), ("&amp;", "&"),
    ):
        decoded = F.replace(decoded, F.lit(ent), F.lit(ch))
    one_space = F.regexp_replace(decoded, r"[ \t\x0b\f\r]+", " ")
    tidy_lines = F.regexp_replace(one_space, r" ?\n ?", "\n")
    squeezed = F.regexp_replace(tidy_lines, r"\n{2,}", "\n")
    # trim() strips only spaces — newlines at the edges need the regex
    return F.regexp_replace(squeezed, r"^\s+|\s+$", "")
