"""Property tests: the lookahead-regex shingle/gram/chunk expressions
(the collapse-proof forms) agree with a straightforward Python
reference on arbitrary texts — the semantics are pinned independent of
the driver corpus, over one shared Spark session."""

import re

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

# words of 1-3 ascii alnum chars, texts with messy separators
_word = st.text(
    alphabet="ab1", min_size=1, max_size=3
)
_texts = st.lists(
    st.one_of(_word, st.sampled_from([" ", ",", ".", "  ", "\t", "!"])),
    max_size=30,
).map("".join)


def _py_words(text: str) -> list[str]:
    return [w for w in re.sub(r"[^a-zA-Z0-9 ]", " ", text.lower()).split(" ") if w]


def _spark_eval(spark, expr: str, text: str):
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(text,)], "text STRING")
    return df.select(F.expr(expr).alias("v")).collect()[0].v


@settings(
    max_examples=30,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(_texts)
def test_shingles_match_python_reference(spark, text):
    from swift_readability_spark.operators.dedup import (
        _SPARK_NORM,
        _SPARK_SHINGLES,
    )

    got = _spark_eval(spark, _SPARK_SHINGLES.replace("norm", f"({_SPARK_NORM})"), text)
    words = _py_words(text)
    if len(words) >= 3:
        want = [" ".join(words[i : i + 3]) for i in range(len(words) - 2)]
    else:
        want = [" ".join(words)]
    assert got == want


@settings(
    max_examples=30,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(_texts)
def test_chunks_match_python_reference(spark, text):
    from swift_readability_spark.operators.curation import (
        CHUNK_WORDS,
        _SPARK_CHUNKS,
    )

    got = _spark_eval(spark, _SPARK_CHUNKS, text)
    words = _py_words(text)
    want = [
        " ".join(words[i : i + CHUNK_WORDS])
        for i in range(0, len(words), CHUNK_WORDS)
    ]
    assert got == want


@settings(
    max_examples=30,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(_texts, st.integers(min_value=2, max_value=8))
def test_ngrams_match_python_reference(spark, text, n):
    from swift_readability_spark.operators.dedup import (
        _SPARK_NORM,
        _ngram_lookahead_re,
    )

    expr = f"regexp_extract_all(({_SPARK_NORM}), '{_ngram_lookahead_re(n)}', 1)"
    got = _spark_eval(spark, expr, text)
    words = _py_words(text)
    want = [" ".join(words[i : i + n]) for i in range(max(len(words) - n + 1, 0))]
    assert got == want


# arbitrary Unicode (no lone surrogates: not encodable), biased toward
# the characters where Python and Java text handling could disagree:
# non-ASCII letters, U+212A KELVIN SIGN (lowercases to ASCII 'k'),
# U+0130, NBSP, tabs/newlines and ASCII punctuation
_unicode_text = st.text(
    alphabet=st.one_of(
        st.sampled_from("aZ9 \t\n\u00a0\u212a\u0130\u00e9\u00df\u4e2d.,-_"),
        st.characters(blacklist_categories=("Cs",)),
    ),
    max_size=40,
)


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(st.lists(st.one_of(st.none(), _unicode_text), min_size=1, max_size=8))
@example([None, "", "\u212aelvin caf\u00e9\u00a0na\u00efve\tTAB", " \u00a0 "])
def test_tokenize_batch_matches_spark_words(spark, texts):
    """The Python tokenizer every Arrow kernel shares equals the JVM
    ``_SPARK_WORDS`` expression row for row (None for null text)."""
    from pyspark.sql import functions as F

    from swift_readability_spark.operators.dedup import _SPARK_WORDS
    from swift_readability_spark.operators.kernels import tokenize_batch

    df = spark.createDataFrame(list(enumerate(texts)), "i INT, text STRING")
    got = dict(df.select("i", F.expr(_SPARK_WORDS).alias("w")).collect())
    assert tokenize_batch(texts) == [got[i] for i in range(len(texts))]
