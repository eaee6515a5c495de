"""Text-analysis operators over the ``documents`` table: the
readability scoring heuristics re-expressed as columnar SQL (SURVEY.md
§2.3/§2.7 demo queries) plus the training-data-pipeline text metrics
(language ID, quality scoring, token counting, fingerprinting).

Everything is built-in-function only: whole-stage codegen end to end,
no Python in the hot path.
"""

from __future__ import annotations

import re
from collections import Counter
from hashlib import md5
from math import floor

from pyspark.sql import Window
from pyspark.sql import functions as F

from .common import content_hash, floor_scaled, read, spread
from .kernels import collect_within, docs, map_docs, tokenize_batch


def comma_score(spark, sf_dir):
    """The element content score (ArticleGrabber.swift:770-801):
    1 (base) + commas+1 + min(floor(len/100), 3)."""
    d = docs(spark, sf_dir)
    commas = F.length("text") - F.length(F.regexp_replace("text", ",", ""))
    return d.select(
        "doc_id",
        (
            F.lit(2)
            + commas
            + F.least(F.floor(F.length("text") / 100), F.lit(3))
        ).cast("bigint").alias("content_score"),
    )


COMMA_SCORE_SQL = """
SELECT doc_id,
       CAST(2 + (length(text) - length(replace(text, ',', '')))
              + least(CAST(floor(length(text) / 100) AS BIGINT), 3) AS BIGINT)
       AS content_score
FROM documents
"""


def class_weight(spark, sf_dir):
    """±25 class/id weighting (ArticleGrabber.swift:853-867) applied to
    the ``source`` column as the class-name analogue."""
    d = read(spark, sf_dir, "documents")
    positive = (
        "article|body|content|entry|hentry|h-entry|main|page|pagination|post|"
        "text|blog|story"
    )
    negative = (
        "-ad-|hidden|banner|combx|comment|com-|contact|footer|gdpr|masthead|"
        "media|meta|outbrain|promo|related|scroll|share|shoutbox|sidebar|"
        "skyscraper|sponsor|shopping|tags|widget"
    )
    w = (
        F.when(F.col("source").rlike(negative), -25).otherwise(0)
        + F.when(F.col("source").rlike(positive), 25).otherwise(0)
    )
    return d.select("doc_id", w.cast("bigint").alias("class_weight"))


CLASS_WEIGHT_SQL = """
SELECT doc_id,
       CAST((CASE WHEN regexp_matches(source, '-ad-|hidden|banner|combx|comment|com-|contact|footer|gdpr|masthead|media|meta|outbrain|promo|related|scroll|share|shoutbox|sidebar|skyscraper|sponsor|shopping|tags|widget') THEN -25 ELSE 0 END)
          + (CASE WHEN regexp_matches(source, 'article|body|content|entry|hentry|h-entry|main|page|pagination|post|text|blog|story') THEN 25 ELSE 0 END) AS BIGINT)
       AS class_weight
FROM documents
"""


def readerable_score(spark, sf_dir):
    """The readerable heuristic (Readability.swift:234-308):
    sqrt(len - 140) accumulated, thresholded at 20 — here per document
    over its character count."""
    d = read(spark, sf_dir, "documents")
    score = F.when(
        F.col("n_chars") >= 140, F.sqrt(F.col("n_chars") - 140)
    ).otherwise(F.lit(0.0))
    return d.select(
        "doc_id",
        # integer-scaled output (round 6): sqrt of an int is the
        # identical IEEE double in both engines, and floor(x*1e4+0.5)
        # lands on the same integer — emitting that integer as BIGINT
        # (instead of dividing back to a double) keeps every double
        # out of the driver's hash surface, the rule corpus_report's
        # two red rounds established.
        floor_scaled(score, 4).alias("readerable_score_e4"),
        (score > 20).alias("readerable"),
    )


READERABLE_SQL = """
SELECT doc_id,
       CAST(floor(CASE WHEN n_chars >= 140 THEN sqrt(n_chars - 140) ELSE 0.0 END
                  * 10000 + 0.5) AS BIGINT)
         AS readerable_score_e4,
       (CASE WHEN n_chars >= 140 THEN sqrt(n_chars - 140) ELSE 0.0 END) > 20
         AS readerable
FROM documents
"""


def normalized_text_length(spark, sf_dir):
    """getInnerText whitespace collapse (ProcessorBase.swift:49-56):
    trim + \\s{2,} -> ' ', then count chars."""
    d = docs(spark, sf_dir)
    return d.select(
        "doc_id",
        F.length(F.trim(F.regexp_replace("text", "[ \t\n\x0b\f\r]{2,}", " "))).alias(
            "norm_length"
        ),
    )


NORM_LENGTH_SQL = """
SELECT doc_id,
       length(trim(regexp_replace(text, '[ \t\n\x0b\f\r]{2,}', ' ', 'g'))) AS norm_length
FROM documents
"""


def token_counts(spark, sf_dir):
    """Whitespace tokens plus a BPE-ish regex token count
    (word pieces + punctuation as separate tokens)."""
    d = docs(spark, sf_dir)
    # r07: regexp_count avoids materializing the token ARRAYS the old
    # size(split)/size(regexp_extract_all) built per row just to count
    # them: size(split(s, re)) == regexp_count(s, re) + 1 (split yields
    # one more piece than separators, incl. the empty-string case)
    return d.select(
        "doc_id",
        (F.expr("regexp_count(trim(text), '[ \t\n\x0b\f\r]+')") + 1)
        .cast("bigint")
        .alias("ws_tokens"),
        F.expr(
            "regexp_count(text, '[A-Za-z0-9]+|[^A-Za-z0-9 \\\\t\\\\n\\\\x0b\\\\f\\\\r]')"
        ).cast("bigint").alias("regex_tokens"),
    )


TOKEN_COUNTS_SQL = """
SELECT doc_id,
       CAST(len(string_split_regex(trim(text), '[ \t\n\x0b\f\r]+')) AS BIGINT) AS ws_tokens,
       CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9 \t\n\x0b\f\r]')) AS BIGINT)
         AS regex_tokens
FROM documents
"""


def _quality_terms():
    """(n_words, n_stop, n_punct): the quality gate's per-doc counts as
    doubles.  regexp_count(sep)+1 == size(split(...)) (see
    token_counts) — no token array materialized just to count it."""
    n_words = (
        F.expr("regexp_count(trim(text), '[ \t\n\x0b\f\r]+')") + 1
    ).cast("double")
    stop_re = r"\\b(the|a|an|and|or|of|to|in|is|it)\\b"
    n_stop = F.expr(rf"regexp_count(lower(text), '{stop_re}')").cast("double")
    n_punct = F.expr(r"regexp_count(text, '[.,;:!?]')").cast("double")
    return n_words, n_stop, n_punct


def _quality_e4(n_words, n_stop, n_punct):
    """The composite quality score, integer-scaled: length, stopword
    ratio and punctuation density over ``n_chars``/``text``."""
    return floor_scaled(
        F.least(F.col("n_chars") / 1000.0, F.lit(1.0)) * 0.4
        + F.least(n_stop / n_words * 5.0, F.lit(1.0)) * 0.4
        + (1.0 - F.least(n_punct / F.length("text") * 20.0, F.lit(1.0))) * 0.2,
        4,
    )


def quality_score(spark, sf_dir):
    """Composite document-quality heuristics: length, mean word length,
    stopword ratio, punctuation density.  Integer-scaled BIGINT outputs
    (round 6): the per-row doubles are deterministic (same IEEE op
    sequence over ints in both engines), but no double crosses the
    driver's hash surface — the rule corpus_report's two red rounds
    established."""
    d = spread(
        spark, read(spark, sf_dir, "documents").select("doc_id", "text", "n_chars")
    )
    n_words, n_stop, n_punct = _quality_terms()
    mean_word_len = F.length(F.regexp_replace("text", "[ \t\n\x0b\f\r]+", "")) / n_words
    return d.select(
        "doc_id",
        floor_scaled(mean_word_len, 4).alias("mean_word_len_e4"),
        floor_scaled(n_stop / n_words, 4).alias("stopword_ratio_e4"),
        floor_scaled(n_punct / F.length("text"), 6).alias("punct_density_e6"),
        _quality_e4(n_words, n_stop, n_punct).alias("quality_e4"),
    )


QUALITY_SQL = """
WITH f AS (
  SELECT doc_id, text, n_chars,
         CAST(len(string_split_regex(trim(text), '[ \t\n\x0b\f\r]+')) AS DOUBLE) AS n_words,
         CAST(len(regexp_extract_all(lower(text), '\\b(the|a|an|and|or|of|to|in|is|it)\\b')) AS DOUBLE) AS n_stop,
         CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS DOUBLE) AS n_punct
  FROM documents
)
SELECT doc_id,
       CAST(floor(length(regexp_replace(text, '[ \t\n\x0b\f\r]+', '', 'g')) / n_words * 10000 + 0.5) AS BIGINT) AS mean_word_len_e4,
       CAST(floor(n_stop / n_words * 10000 + 0.5) AS BIGINT) AS stopword_ratio_e4,
       CAST(floor(n_punct / length(text) * 1000000 + 0.5) AS BIGINT) AS punct_density_e6,
       CAST(floor((least(n_chars / 1000.0, 1.0) * 0.4
              + least(n_stop / n_words * 5.0, 1.0) * 0.4
              + (1.0 - least(n_punct / length(text) * 20.0, 1.0)) * 0.2) * 10000 + 0.5) AS BIGINT) AS quality_e4
FROM f
"""


_LANG_MARKERS = {
    "en": r"\\b(the|and|of|to|is|with)\\b",
    "de": r"\\b(der|die|das|und|ist|mit)\\b",
    "fr": r"\\b(le|la|les|et|est|avec)\\b",
    "es": r"\\b(el|los|las|es|con|para)\\b",
}


def _lang_counts():
    """{code: per-doc marker count of that language}."""
    return {
        code: F.expr(rf"regexp_count(lower(text), '{p}')")
        for code, p in _LANG_MARKERS.items()
    }


def _lang_argmax(counts):
    """The predicted language over ``counts`` ({code: Column}): the
    argmax, 'und' when nothing matches, ties to the lowest code."""
    best = F.greatest(*counts.values())
    pred = F.when(best <= 0, F.lit("und"))
    for code in sorted(counts):
        pred = pred.when(counts[code] == best, F.lit(code))
    return pred


def lang_id(spark, sf_dir):
    """N-gram/stopword-marker language ID: argmax of per-language
    marker counts, 'und' when nothing matches (deterministic
    tie-break by language code)."""
    # r07: spread the single-split scan so the 4 marker regexes run at
    # cluster parallelism, not on one core (guide §2.5; 1.8 s -> 0.5 s
    # at sf1.0/local[32])
    d = spread(spark, read(spark, sf_dir, "documents").select("doc_id", "lang", "text"))
    counts = _lang_counts()
    scored = d.select(
        "doc_id", "lang", *[c.alias(f"n_{code}") for code, c in counts.items()]
    )
    pred = _lang_argmax({code: F.col(f"n_{code}") for code in counts})
    return scored.select("doc_id", "lang", pred.alias("lang_pred"))


LANG_ID_SQL = """
WITH m AS (
  SELECT doc_id, lang,
         len(regexp_extract_all(lower(text), '\\b(the|and|of|to|is|with)\\b'))   AS n_en,
         len(regexp_extract_all(lower(text), '\\b(der|die|das|und|ist|mit)\\b')) AS n_de,
         len(regexp_extract_all(lower(text), '\\b(le|la|les|et|est|avec)\\b'))   AS n_fr,
         len(regexp_extract_all(lower(text), '\\b(el|los|las|es|con|para)\\b'))  AS n_es
  FROM documents
)
SELECT doc_id, lang,
       CASE WHEN greatest(n_en, n_de, n_fr, n_es) <= 0 THEN 'und'
            WHEN n_de = greatest(n_en, n_de, n_fr, n_es) THEN 'de'
            WHEN n_en = greatest(n_en, n_de, n_fr, n_es) THEN 'en'
            WHEN n_es = greatest(n_en, n_de, n_fr, n_es) THEN 'es'
            ELSE 'fr' END AS lang_pred
FROM m
"""


# The rolling window runs over the first FINGERPRINT_CAP chars only —
# an EXPLICIT cap, not a silent one.  Two reasons: (a) a fingerprint
# prefix is standard winnowing practice (the head of a document is its
# most stable region), and (b) substring(norm, i, 16) inside a lambda
# is O(i) per call on UTF8 strings (byte-scan to find the char
# offset), so an uncapped window is O(len^2) — a multi-MB document
# would take hours in one task.  Capped, the worst case is
# FINGERPRINT_CAP^2 byte scans (~64M, sub-second) regardless of
# document size.
FINGERPRINT_CAP = 8192


_WS = re.compile(r"[ \t\n\x0b\f\r]+")


def _fingerprint(ids, texts):
    """Arrow kernel for ``doc_fingerprint`` (guide §4.2): the old JVM
    form ran one interpreted md5 PER 16-char WINDOW inside a
    ``transform`` lambda (HOFs are CodegenFallback) — ~14M interpreted
    md5+substring evaluations at sf1.0, measured 18.6 s.  Here the
    window min runs over raw 16-byte digests (hex encoding is a
    monotone fixed-width byte map, so min over digests == min over the
    hex strings Spark compared), hex-encoded once per doc.  Semantics
    mirror the expression exactly: normalize = regexp_replace ws+ ->
    ' ' , trim(' '), lower(); head = first FINGERPRINT_CAP chars;
    windows = substring(head, i, 16) for i in 1..max(len-15, 1) (the
    final short/empty windows of the 1-window case included); null
    text -> null outputs."""
    content, fps = [], []
    for t in texts:
        if t is None:
            content.append(None)
            fps.append(None)
            continue
        norm = _WS.sub(" ", t).strip(" ").lower()
        b = norm.encode()
        content.append(md5(b).hexdigest())
        if len(norm) == len(b):
            # pure-ASCII fast path: char windows == byte windows
            head = b[:FINGERPRINT_CAP]
            fps.append(
                min(
                    md5(head[i : i + 16]).digest()
                    for i in range(max(len(head) - 15, 1))
                ).hex()
            )
        else:
            head_s = norm[:FINGERPRINT_CAP]
            fps.append(
                min(
                    md5(head_s[i : i + 16].encode()).digest()
                    for i in range(max(len(head_s) - 15, 1))
                ).hex()
            )
    return {"content_md5": content, "fingerprint": fps}


def doc_fingerprint(spark, sf_dir):
    """Rolling-hash document fingerprint: minimum md5 over the 16-char
    sliding windows of the first FINGERPRINT_CAP normalized chars
    (winnowing-style), plus a whole-document content hash.

    Round-7: Arrow kernel (see ``_fingerprint``); 18.6 s ->
    ~0.7 s at sf1.0/local[32], values bit-identical (oracle green)."""
    return map_docs(
        spark, sf_dir, _fingerprint, "content_md5 string, fingerprint string"
    )


FINGERPRINT_SQL = f"""
WITH n AS (
  SELECT doc_id, lower(trim(regexp_replace(text, '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g'))) AS norm
  FROM documents
),
h AS (
  SELECT doc_id, norm, substr(norm, 1, {FINGERPRINT_CAP}) AS head FROM n
)
SELECT doc_id,
       md5(norm) AS content_md5,
       list_min([md5(substr(head, i, 16)) FOR i IN range(1, greatest(length(head) - 15, 1) + 1)])
         AS fingerprint
FROM h
"""


QUERIES = {
    "comma_score": (comma_score, COMMA_SCORE_SQL),
    "class_weight": (class_weight, CLASS_WEIGHT_SQL),
    "readerable_score": (readerable_score, READERABLE_SQL),
    "normalized_text_length": (normalized_text_length, NORM_LENGTH_SQL),
    "token_counts": (token_counts, TOKEN_COUNTS_SQL),
    "quality_score": (quality_score, QUALITY_SQL),
    "lang_id": (lang_id, LANG_ID_SQL),
    "doc_fingerprint": (doc_fingerprint, FINGERPRINT_SQL),
}


def _token_set_sim(ref_tokens):
    """Kernel factory for ``token_set_similarity``: the old JVM form
    paid an interpreted ``filter(tokens, t -> NOT array_contains(ref,
    t))`` — O(tokens x ref) per doc through a CodegenFallback HOF.
    Here: C tokenization (``tokenize_batch``, bit-parity with the
    expression), one Python set probe per token, integer arithmetic
    identical to the SQL CASE (all operands are non-negative ints, so
    ``//`` == Spark ``div``).  Tokens are ASCII post-strip, so Python
    ``len`` == Spark ``length`` on the joined strings.  Null text ->
    null similarity (the expression's null flow); a null ref token
    array drops every element in the JVM filter (NULL predicate), so
    ``ref_tokens=None`` maps to a = 0."""
    refset = set(ref_tokens) if ref_tokens is not None else None

    def sims(ids, texts):
        out = []
        for ws in tokenize_batch(texts):
            if ws is None:
                out.append(None)
                continue
            b = len(" ".join(ws))
            if b == 0:
                out.append(10000)
                continue
            if refset is None:
                a = 0
            else:
                a = len(" ".join(t for t in ws if t not in refset))
            out.append(((b - a) * 20000 + b) // (2 * b))
        return {"similarity_e4": out}

    return sims


def token_set_similarity(spark, sf_dir):
    """The reference's textSimilarity (ArticleGrabber.swift:667-703) as
    a columnar set-difference: similarity of every doc against doc 0 =
    1 - len(join(tokensB \\ tokensA)) / len(join(tokensB)).

    Round 6: ``similarity_e4`` is a pure-integer rational — both
    operands are integer string lengths, so round(1e4*(b-a)/b) =
    ((b-a)*20000 + b) DIV (2b), BIGINT end to end (the corpus_report /
    tfidf recipe; no double ever crosses the driver hash).  b = 0 ⇒
    similarity 1.0 ⇒ 10000, mirroring the old double branch.

    r07: Arrow kernel (``_token_set_sim``); the single ref row is
    collected at build time (the same 1-row table the old plan shipped
    inside F.broadcast) — 2.4 s -> ~1.2 s at 10x-sf0.1."""
    base = read(spark, sf_dir, "documents").select("doc_id", "text")
    toks = F.expr(
        "regexp_extract_all(lower(regexp_replace(text, '[^a-zA-Z0-9 ]', ' ')),"
        " '[^ ]+', 0)"
    )
    # the 1-row ref branch stays on the raw scan so the doc_id=0
    # predicate pushes to parquet instead of scanning behind a
    # round-robin exchange
    ref = collect_within(
        base.filter(F.col("doc_id") == 0).select(toks.alias("ref_tokens")),
        1,
        "token_set_similarity reference doc (doc_id 0)",
    )
    d = spread(spark, base)
    if ref.num_rows == 0:
        # crossJoin against an empty ref table yields no rows
        return d.select(
            "doc_id", F.lit(None).cast("bigint").alias("similarity_e4")
        ).limit(0)
    return map_docs(
        spark,
        d,
        _token_set_sim(ref.column("ref_tokens")[0].as_py()),
        "similarity_e4 bigint",
    )


TOKEN_SET_SIMILARITY_SQL = """
WITH t AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(regexp_replace(text, '[^a-zA-Z0-9 ]', ' ', 'g')), ' +'),
                     x -> x <> '') AS tokens
  FROM documents
),
r AS (SELECT tokens AS ref_tokens FROM t WHERE doc_id = 0),
l AS (
  SELECT doc_id,
         coalesce(length(array_to_string(tokens, ' ')), 0) AS b,
         coalesce(length(array_to_string(list_filter(tokens, x -> NOT list_contains(ref_tokens, x)), ' ')), 0) AS a
  FROM t, r
)
SELECT doc_id,
       CAST(CASE WHEN b = 0 THEN 10000
                 ELSE (CAST(b - a AS BIGINT) * 20000 + b) // (2 * CAST(b AS BIGINT)) END
            AS BIGINT) AS similarity_e4
FROM l
"""

QUERIES["token_set_similarity"] = (token_set_similarity, TOKEN_SET_SIMILARITY_SQL)


def curation_pipeline(spark, sf_dir):
    """End-to-end training-data curation over ``documents``: language
    gate (marker-based lang id agrees with the labeled lang), quality
    gate, then exact dedup keeping the lowest doc_id per content hash.
    The composition every large-scale text pipeline runs; each stage is
    individually oracled above, and the composition is oracled here.

    r07: single-pass.  The lang and quality gates are per-row
    predicates over the SAME table, so the semi-join composition is a
    conjunctive filter — one scan, one projection computing both gate
    expressions (identical to lang_id's and quality_score's, same
    constants) and the content hash, then the per-hash keep-min
    window.  The old shape ran THREE scans of documents plus TWO
    sequential broadcast builds (each waiting on its branch's full
    regex pass): 6.5 s -> ~1.1 s at sf1.0/local[32]; rows identical
    (oracle green, plus a direct row-set comparison during the A/B).

    The filter MUST evaluate the gate as a projected COLUMN, not as a
    pushed-down predicate: ProjectExec codegen has subexpression
    elimination, FilterExec does not, so the same CASE-over-
    regexp_count chain measured 0.46 s as a column and ~5 s as a
    filter condition (each WHEN branch re-running every regexp_count).
    Catalyst pushes any deterministic predicate below the projection,
    re-creating exactly that slow form — hence the `_nd`
    monotonically_increasing_id column and the single non-splittable
    `when(_nd >= 0, _keep)` condition (always == _keep, but it
    references a nondeterministic column so PushPredicateThroughNonJoin
    must leave it above the projection).  `_nd` never reaches the
    output and feeds only an always-true comparison, so task retries
    re-drawing different ids cannot affect row membership or values."""
    d = spread(
        spark,
        read(spark, sf_dir, "documents").select("doc_id", "lang", "text", "n_chars"),
    )
    # the lang gate is lang_id's lang_pred and the quality gate
    # quality_score's quality_e4 (quality_e4 >= 5000 ⟺ the old
    # rounded-double quality >= 0.5 — exact integers, round-6 rule)
    pred = _lang_argmax(_lang_counts())
    quality_e4 = _quality_e4(*_quality_terms())
    return (
        d.select(
            "doc_id",
            content_hash().alias("content_hash"),
            ((pred == F.col("lang")) & (quality_e4 >= 5000)).alias("_keep"),
            F.monotonically_increasing_id().alias("_nd"),
        )
        .filter(F.when(F.col("_nd") >= 0, F.col("_keep")))
        .withColumn(
            "rank",
            F.row_number().over(
                Window.partitionBy("content_hash").orderBy("doc_id")
            ),
        )
        .filter(F.col("rank") == 1)
        .select("doc_id", "content_hash")
    )


CURATION_SQL = f"""
WITH ident AS ({LANG_ID_SQL.replace(';', '')}),
q AS ({QUALITY_SQL.replace(';', '')}),
hashed AS (
  SELECT doc_id,
         md5(lower(trim(regexp_replace(text, '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g')))) AS content_hash
  FROM documents
),
gated AS (
  SELECT h.doc_id, h.content_hash
  FROM hashed h
  WHERE h.doc_id IN (SELECT doc_id FROM ident WHERE lang_pred = lang)
    AND h.doc_id IN (SELECT doc_id FROM q WHERE quality_e4 >= 5000)
)
SELECT doc_id, content_hash
FROM (
  SELECT doc_id, content_hash,
         row_number() OVER (PARTITION BY content_hash ORDER BY doc_id) AS rank
  FROM gated
) WHERE rank = 1
"""

QUERIES["curation_pipeline"] = (curation_pipeline, CURATION_SQL)


def pii_scan(spark, sf_dir):
    """PII / contamination scan — the pre-release gate of a training
    corpus: per-doc counts of email-, phone-, and URL-shaped strings,
    plus the release flag.  Pure built-in regexp_extract_all: stays in
    whole-stage codegen, embarrassingly parallel, no shuffle."""
    d = docs(spark, sf_dir)
    email_re = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    phone_re = r"\\+?[0-9][0-9 ()-]{7,}[0-9]"
    # explicit class, not \s: Java \s includes \x0B, RE2's does not —
    # a \x0B would end the URL in Spark but ride inside it in DuckDB
    url_re = r"https?://[^ \\t\\n\\x0b\\f\\r]+"
    n = lambda pat: F.expr(f"regexp_count(text, '{pat}')").cast("bigint")
    return d.select(
        "doc_id",
        n(email_re).alias("n_emails"),
        n(phone_re).alias("n_phones"),
        n(url_re).alias("n_urls"),
        (
            (n(email_re) > 0) | (n(phone_re) > 0)
        ).alias("has_pii"),
    )


PII_SQL = """
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(text, '\\+?[0-9][0-9 ()-]{7,}[0-9]')) AS BIGINT) AS n_phones,
       CAST(len(regexp_extract_all(text, 'https?://[^ \\t\\n\\x0b\\f\\r]+')) AS BIGINT) AS n_urls,
       (len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) > 0
        OR len(regexp_extract_all(text, '\\+?[0-9][0-9 ()-]{7,}[0-9]')) > 0) AS has_pii
FROM documents
"""

QUERIES["pii_scan"] = (pii_scan, PII_SQL)


TOP_TERMS_K = 100


def _word_count(ids, texts):
    """Arrow kernel for ``top_terms``: per-batch word Counter — the
    Python-side equivalent of the map-side PARTIAL count (exact integer
    partials, summed by the final aggregation), so only ~vocab-sized
    rows leave each task instead of one exploded row per token.
    Tokenization is ``tokenize_batch`` — bit-parity with
    ``_SPARK_WORDS`` (ASCII strip first, so lower()/split() only see
    ASCII); null/empty text contributes nothing, exactly like
    ``explode`` of an empty array."""
    counts: Counter = Counter()
    for ws in tokenize_batch(texts):
        if ws:
            counts.update(ws)
    return {"word": list(counts.keys()), "n": list(counts.values())}


def top_terms(spark, sf_dir):
    """Corpus-wide term frequency, top-100.  The shuffle key is the
    word — Zipf-skewed by nature — but each hot word crosses the wire
    once per task, not once per occurrence: the Arrow kernel emits
    per-task partial counts (r07; the explode + map-side-partial-agg
    form computed the same partials but paid the JVM tokenizer + a
    2.7M-row explode per 10x-sf0.1 — 2.5 s vs ~1.2 s).  Final sum is
    an exact integer aggregation; TakeOrdered for the top-k, no global
    sort."""
    d = spread(spark, read(spark, sf_dir, "documents").select("text"))
    partial = map_docs(spark, d, _word_count, "word string, n bigint")
    return (
        partial.groupBy("word")
        .agg(F.sum("n").alias("n"))
        .orderBy(F.desc("n"), F.asc("word"))
        .limit(TOP_TERMS_K)
    )


TOP_TERMS_SQL = f"""
SELECT word, count(*) AS n
FROM (
  SELECT unnest(list_filter(string_split_regex(lower(regexp_replace(text, '[^a-zA-Z0-9 ]', ' ', 'g')), ' +'), x -> x <> '')) AS word
  FROM documents
)
GROUP BY word
ORDER BY n DESC, word ASC
LIMIT {TOP_TERMS_K}
"""

QUERIES["top_terms"] = (top_terms, TOP_TERMS_SQL)


# -- repetition stats (Gopher-style quality signals) ------------------------
# Published data-quality pipelines (Gopher's repetition rules, Dolma,
# RefinedWeb) drop documents whose content is dominated by repeated
# fragments.  Per document: fraction of words that are duplicates of an
# earlier word, and the same for 2-grams — all array-native Spark
# built-ins (whole-stage codegen, zero Python), map-side only.
from .dedup import _DUCK_WORDS as _R_DUCK_WORDS


def _repetition(ids, texts):
    """Arrow kernel for ``repetition_stats``: the JVM form tokenized
    three ways (words, normalized text, lookahead bigram regex) and
    paid ``array_distinct`` per row.  Here: ``tokenize_batch`` (bit-
    parity with ``_SPARK_WORDS``), sets for the distinct counts, and
    the SAME IEEE double expression (1.0 - nd/n, *1e4, +0.5, floor,
    /1e4 — each step a correctly rounded double op in the same order,
    so results are bit-identical to the SQL).  Word bigrams == the
    lookahead regex matches over the normalized text (<2 words -> no
    matches -> size 0 -> 0.0).  Null text -> null outputs (size(NULL)
    flows null through the CASE)."""
    n_out, dw_out, db_out = [], [], []
    for ws in tokenize_batch(texts):
        if ws is None:
            n_out.append(None)
            dw_out.append(None)
            db_out.append(None)
            continue
        n = len(ws)
        n_out.append(n)
        if n == 0:
            dw_out.append(0.0)
        else:
            dw_out.append(floor((1.0 - len(set(ws)) / n) * 10000 + 0.5) / 10000)
        nb = n - 1 if n >= 2 else 0
        if nb == 0:
            db_out.append(0.0)
        else:
            bigrams = {ws[i] + " " + ws[i + 1] for i in range(nb)}
            db_out.append(floor((1.0 - len(bigrams) / nb) * 10000 + 0.5) / 10000)
    return {"n_words": n_out, "dup_word_frac": dw_out, "dup_bigram_frac": db_out}


def repetition_stats(spark, sf_dir):
    """(doc_id, n_words, dup_word_frac, dup_bigram_frac) — repetition
    quality signals for filter thresholds.  r07: Arrow kernel (see
    ``_repetition``); 2.3 s -> ~1.2 s at 10x-sf0.1."""
    return map_docs(
        spark,
        sf_dir,
        _repetition,
        "n_words int, dup_word_frac double, dup_bigram_frac double",
    )


REPETITION_SQL = f"""
WITH w AS (SELECT doc_id, {_R_DUCK_WORDS} AS words FROM documents),
b AS (
  SELECT doc_id, words,
         CASE WHEN len(words) >= 2 THEN
           [words[i] || ' ' || words[i+1] FOR i IN range(1, len(words))]
         ELSE [] END AS bigrams
  FROM w
)
SELECT doc_id,
       len(words) AS n_words,
       CASE WHEN len(words) = 0 THEN 0.0
            ELSE floor((1.0 - len(list_distinct(words)) / len(words)) * 10000 + 0.5) / 10000
       END AS dup_word_frac,
       CASE WHEN len(bigrams) = 0 THEN 0.0
            ELSE floor((1.0 - len(list_distinct(bigrams)) / len(bigrams)) * 10000 + 0.5) / 10000
       END AS dup_bigram_frac
FROM b
"""

QUERIES["repetition_stats"] = (repetition_stats, REPETITION_SQL)


# -- per-document TF-IDF top terms ------------------------------------------
TFIDF_TOP_K = 3


def _tf(ids, texts):
    """Arrow kernel for ``tfidf_top_terms``: per-document word Counter
    -> final (doc_id, word, tf) rows.  Each doc is wholly contained in
    one Arrow row, so the per-doc counts ARE the global tf values (no
    cross-batch merge needed) — exact integers, identical to
    ``explode`` + ``groupBy(doc_id, word).count()``.  Tokenization is
    ``tokenize_batch`` (bit-parity with ``_SPARK_WORDS``); null/empty
    text emits nothing, matching explode-of-empty."""
    out_d, out_w, out_c = [], [], []
    for did, ws in zip(ids, tokenize_batch(texts)):
        if not ws:
            continue
        counts = Counter(ws)
        out_d += [did] * len(counts)
        out_w += counts.keys()
        out_c += counts.values()
    return {"doc_id": out_d, "word": out_w, "tf": out_c}


def tfidf_top_terms(spark, sf_dir):
    """Top-``TFIDF_TOP_K`` characteristic terms per document by
    TF-IDF.  The score is the RATIONAL form scaled to an integer,
    ``tf * 1e6 DIV df``: for a fixed corpus the per-document ranking
    it induces equals tf*(N/df) (N is a constant factor), and integer
    arithmetic is bit-identical across engines where a 1-ulp ``ln()``
    difference could flip a rank tie.  No N in the product keeps the
    score inside int64 at any corpus size (tf <= doc words ~ 1e6 ->
    score <= 1e12); granularity note: floor() merges scores whose
    tf/df ratios differ by < 1e-6 — ties then break on the word,
    identically in both engines.

    Scale shape: one Arrow tf kernel per consumer (map-side only — the
    df branch partial-counts per task before its vocab-sized
    exchange); the df table is vocab-sized (<< corpus) so Spark
    broadcasts it at the join when under threshold, and the Zipf-hot
    word keys are fine because each hot word is ONE row on the df side
    (AQE skew-join splits the tf side if needed).  Final per-doc top-k
    is a window on doc_id — uniformly distributed, no skew."""
    # r07 Arrow kernel: each document lives whole inside one Arrow row,
    # so a per-doc Counter emits the FINAL (doc_id, word, tf) rows —
    # exact integers, no explode, no (doc_id, word) aggregation at all
    # (the explode + groupBy form paid the JVM tokenizer + a
    # 27M-token explode at 10x-sf0.1: 3.7 s vs 1.6 s).  The df and
    # scored consumers each re-run the kernel (no cross-subtree CSE
    # below exchanges, and — measured, r07 — exchange reuse never
    # fires across mapInArrow subtrees, so a pinned repartition only
    # adds shuffles): two ~0.5 s kernel passes beat one 4 s explode.
    tf = map_docs(spark, sf_dir, _tf, "word string, tf bigint")
    df = tf.groupBy("word").agg(F.count(F.when(F.col("tf") >= 1, 1)).alias("df"))
    scored = tf.join(df, "word").withColumn(
        "score_micro", F.expr("tf * 1000000L DIV df")
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("score_micro"), F.asc("word")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TFIDF_TOP_K)
        .select(
            "doc_id",
            "word",
            "tf",
            "df",
            "score_micro",
            F.col("rnk").cast("bigint").alias("rnk"),
        )
    )


TFIDF_SQL = f"""
WITH wds AS (
  SELECT doc_id, unnest({{DUCK_WORDS}}) AS word
  FROM documents
),
tf AS (SELECT doc_id, word, count(*) AS tf FROM wds GROUP BY doc_id, word),
df AS (SELECT word, count(*) AS df FROM tf GROUP BY word)
SELECT doc_id, word, tf, df,
       tf * 1000000 // df AS score_micro,
       CAST(row_number() OVER (PARTITION BY doc_id
                               ORDER BY tf * 1000000 // df DESC, word ASC)
            AS BIGINT) AS rnk
FROM tf JOIN df USING (word)
QUALIFY rnk <= {TFIDF_TOP_K}
""".replace("{DUCK_WORDS}", _R_DUCK_WORDS)

QUERIES["tfidf_top_terms"] = (tfidf_top_terms, TFIDF_SQL)
