"""The flagship operator: full readability extraction over an
interleaved spans corpus — with a *value-checked* oracle.

The driver's testdata has no spans table, so we construct one
deterministically from ``documents``: each row becomes an HTML page
(title/author/description metadata + the text split into paragraphs),
segmented into interleaved text/media spans (every third document gets
a media span).  Because the construction is closed-form, the expected
extraction output (title, byline, excerpt, lang, text length,
readerable score) is computable in pure SQL — so even the Arrow-batch
extraction stage gets a DuckDB value oracle, not just a row count.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..extract import DEFAULT_BASE_URL
from ..pipeline.job import plan_extraction
from .common import read

_HTML_HEAD = (
    "'<html lang=\"' || lang || '\"><head><title>Doc ' || doc_id || '</title>"
    "<meta name=\"author\" content=\"Author ' || doc_id || '\">"
    "<meta property=\"og:description\" content=\"Synthetic document ' || doc_id || '\">"
    "</head><body><div class=\"content\"><p>' || "
    "replace(text, '. ', '.</p><p>') || '</p>'"
)
_HTML_TAIL = "'</div></body></html>'"
_MEDIA_REF = "'http://fakehost/media/img-' || doc_id || '.jpg'"


def interleaved_documents(
    spark, sf_dir, partitions: int | None = None, where: str | None = None
):
    """documents -> (doc_id, spans) in the BASELINE input_hint shape.

    ``partitions`` serves callers that materialize or replicate the
    pages themselves (``perfbench`` writes them, ``bench.py``
    cross-joins them): it round-robins the base table so the HTML
    construction runs in parallel even when the source is a single
    parquet file.  The extraction plans leave it unset, since their
    ``doc_id`` route already spreads the corpus.
    ``where`` filters the source BELOW the Arrow stage (pushed to the
    parquet scan) — filters cannot be pushed through mapInArrow, so a
    consumer that only needs a slice must prune here, not above.
    """
    d = read(spark, sf_dir, "documents")
    if where:
        d = d.filter(where)
    if partitions:
        d = d.repartition(partitions)
    return d.selectExpr(
        "CAST(doc_id AS STRING) AS doc_id",
        f"""
        CASE WHEN doc_id % 3 = 0 THEN array(
            named_struct('kind', 'text', 'text', {_HTML_HEAD},
                         'media_ref', CAST(NULL AS STRING), 'offset', 0),
            named_struct('kind', 'media', 'text', CAST(NULL AS STRING),
                         'media_ref', {_MEDIA_REF}, 'offset', 1),
            named_struct('kind', 'text', 'text', {_HTML_TAIL},
                         'media_ref', CAST(NULL AS STRING), 'offset', 2))
        ELSE array(
            named_struct('kind', 'text', 'text', {_HTML_HEAD} || {_HTML_TAIL},
                         'media_ref', CAST(NULL AS STRING), 'offset', 0))
        END AS spans
        """,
    )


def _extracted(spark, sf_dir, where: str | None = None):
    # partition count from actual cluster parallelism, not
    # spark.sql.shuffle.partitions: a default-200 session would spread
    # this small demo corpus over 200 tasks of pure overhead.  The
    # doc_id route is the plan's one corpus shuffle.
    n = max(int(spark.sparkContext.defaultParallelism), 2)
    docs = interleaved_documents(spark, sf_dir, where=where)
    return plan_extraction(docs, DEFAULT_BASE_URL, run_id="entry", n_partitions=n)


def extract_metadata(spark, sf_dir):
    """Readability extraction (metadata view) — value-oracle-checked."""
    return _extracted(spark, sf_dir).select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        "title",
        "byline",
        "lang",
        "excerpt",
        F.col("text_length").cast("bigint").alias("text_length"),
        "readerable",
        F.col("error").isNotNull().alias("failed"),
    )


EXTRACT_METADATA_SQL = """
WITH base AS (
  SELECT doc_id, lang, n_chars, text,
         string_split(text, '. ') AS parts,
         (length(text) - length(replace(text, '. ', ''))) / 2 AS n_splits
  FROM documents
),
scored AS (
  SELECT doc_id, lang, n_chars, n_splits,
         [CASE WHEN i < len(parts) THEN length(parts[i]) + 1
               ELSE length(parts[i]) END
          FOR i IN range(1, len(parts) + 1)] AS para_lens
  FROM base
)
SELECT doc_id,
       'Doc ' || doc_id AS title,
       'Author ' || doc_id AS byline,
       lang,
       'Synthetic document ' || doc_id AS excerpt,
       CAST(n_chars - n_splits AS BIGINT) AS text_length,
       list_reduce(list_transform(para_lens,
                                  l -> CASE WHEN l >= 140 THEN sqrt(l - 140)
                                            ELSE 0.0 END),
                   (a, b) -> a + b) > 20 AS readerable,
       false AS failed
FROM scored
"""


def extract_spans_stats(spark, sf_dir):
    """Span-skeleton view of the extraction output.  Value-oracled:
    the constructed corpus keeps exactly one media span iff
    doc_id %% 3 = 0 (the media sits inside the retained content div),
    giving spans [text, media, text], else a single text span.  The
    span *content* is gated by the fixture pytest suite."""
    out = _extracted(spark, sf_dir)
    return out.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.size("spans").cast("bigint").alias("n_spans"),
        F.expr("size(filter(spans, s -> s.kind = 'media'))")
        .cast("bigint")
        .alias("n_media_spans"),
        F.expr("element_at(spans, 1).kind").alias("first_kind"),
    )


EXTRACT_SPANS_STATS_SQL = """
SELECT doc_id,
       CAST(CASE WHEN doc_id % 3 = 0 THEN 3 ELSE 1 END AS BIGINT) AS n_spans,
       CAST(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS BIGINT) AS n_media_spans,
       'text' AS first_kind
FROM documents
"""


QUERIES = {
    "extract_metadata": (extract_metadata, EXTRACT_METADATA_SQL),
    "extract_spans_stats": (extract_spans_stats, EXTRACT_SPANS_STATS_SQL),
}


CURATE_MIN_CHARS = 200


def extract_and_curate(spark, sf_dir):
    """The end-to-end training-data pipeline in one plan: extraction
    (Arrow-batch readability core) -> quality gates on the EXTRACTED
    content (parse success, minimum length) -> exact
    dedup on the extracted text (hash-groupBy, min-doc_id canonical)
    -> curated survivors.  Everything after the extraction stage is
    native DataFrame code; the only shuffle beyond extraction's is the
    dedup hash aggregation.  Value-oracled end to end because the
    constructed corpus makes the extracted text closed-form
    (replace(text, '. ', '.')).

    The readerable flag is deliberately NOT a gate here: the synthetic
    corpus's paragraphs are short, so it passes only ~1% and would
    make the demo degenerate — on real pages add
    ``& F.col("readerable")``."""
    return _curated(spark, sf_dir).select(
        "doc_id", "title", "lang", "text_length", "content_hash"
    )


def _curated(spark, sf_dir, with_content: bool = False, where: str | None = None):
    """Shared extract -> quality-gate -> exact-dedup subplan.

    The canonical-per-hash pick is a WINDOW (row_number over
    content_hash), not a groupBy + self-semi-join: the self-join form
    references the extraction subtree twice and Spark has no cross-DAG
    CSE below Exchange boundaries, so the Arrow extraction stage — the
    most expensive stage of the whole pipeline — physically ran TWICE
    (measured: 2 PythonMapInArrow nodes in the executedPlan).  The
    window form is one subtree, one extraction pass."""
    from pyspark.sql import Window

    out = _extracted(spark, sf_dir, where=where)
    # plain text of the extracted article: concatenate text spans,
    # strip markup (span text is serialized HTML of the cleaned
    # content; the synthetic corpus has no entity-escaped chars)
    content_text = (
        "regexp_replace(concat_ws('', transform(filter(spans,"
        " s -> s.kind = 'text'), s -> s.text)), '<[^>]*>', '')"
    )
    cols = [
        F.col("doc_id").cast("bigint").alias("doc_id"),
        "title",
        "lang",
        F.col("text_length").cast("bigint").alias("text_length"),
        F.md5(F.col("content")).alias("content_hash"),
    ]
    if with_content:
        cols.append("content")
    curated = (
        out.filter(
            (F.col("error").isNull())
            & (F.col("text_length") >= CURATE_MIN_CHARS)
        )
        .withColumn("content", F.expr(content_text))
        .select(*cols)
    )
    w = Window.partitionBy("content_hash").orderBy("doc_id")
    return (
        curated.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") == 1)
        .drop("rnk")
    )


EXTRACT_AND_CURATE_SQL = f"""
WITH base AS (
  SELECT doc_id, lang, n_chars, text,
         string_split(text, '. ') AS parts,
         (length(text) - length(replace(text, '. ', ''))) / 2 AS n_splits
  FROM documents
),
scored AS (
  SELECT doc_id, lang, n_chars, n_splits, text,
         [CASE WHEN i < len(parts) THEN length(parts[i]) + 1
               ELSE length(parts[i]) END
          FOR i IN range(1, len(parts) + 1)] AS para_lens
  FROM base
),
ex AS (
  SELECT doc_id,
         'Doc ' || doc_id AS title,
         lang,
         CAST(n_chars - n_splits AS BIGINT) AS text_length,
         md5(replace(text, '. ', '.')) AS content_hash,
         list_reduce(list_transform(para_lens,
                                    l -> CASE WHEN l >= 140 THEN sqrt(l - 140)
                                              ELSE 0.0 END),
                     (a, b) -> a + b) > 20 AS readerable
  FROM scored
),
gated AS (
  SELECT * FROM ex WHERE text_length >= {CURATE_MIN_CHARS}
)
SELECT g.doc_id, g.title, g.lang, g.text_length, g.content_hash
FROM gated g
JOIN (
  SELECT content_hash, min(doc_id) AS doc_id FROM gated GROUP BY content_hash
) c ON g.content_hash = c.content_hash AND g.doc_id = c.doc_id
"""

QUERIES["extract_and_curate"] = (extract_and_curate, EXTRACT_AND_CURATE_SQL)


# -- the whole training-data pipeline as ONE plan ---------------------------
# extract -> quality gate -> exact dedup -> eval-set decontamination ->
# hash-stable split -> token-budget sequence packing.  A user of the
# reference engine plus a data-pipeline stack runs these as six jobs;
# here it is one DAG with ONE pass of the expensive Arrow extraction
# over the corpus (plus a scan-pruned re-extraction of the ~tiny eval
# slice), and every stage stays value-oracled because each is
# deterministic and closed-form on the constructed corpus.
TRAIN_EVAL_DOCS = 20  # curated docs with doc_id < this form the eval set


def build_training_set(spark, sf_dir):
    """(doc_id, lang, text_length, n_tokens, split, pack_bucket,
    seq_id) for every curated, decontaminated corpus document.

    Scale shape: one Arrow extraction pass + window dedup (see
    ``_curated``); the eval branch re-extracts ONLY ``doc_id <
    TRAIN_EVAL_DOCS`` (the filter sits below the Arrow stage, pushed
    to the scan — filters cannot cross mapInArrow) and collapses to a
    single broadcast row of distinct 60-bit gram hashes, so the
    contamination check is a map-side ``array_intersect`` per doc —
    the corpus subtree is referenced exactly once, no self-join.
    Split and pack-bucket reuse ``dataset_split``'s and
    ``pack_sequences``'s EXACT hash and constants, so a document keeps
    the same train/val/test membership and packing stream whether the
    stages run as this one DAG or as the standalone operators (a
    different hash here would silently reshuffle former val/test docs
    into train for users switching between the two)."""
    from pyspark.sql import Window

    from .curation import _PACK_BUCKET, PACK_BUDGET
    from .dedup import DECON_NGRAM, _SPARK_SPLIT, _ngram_lookahead_re, _spark_hash60

    norm = (
        "trim(regexp_replace(lower(regexp_replace(content,"
        " '[^a-zA-Z0-9 ]', ' ')), ' +', ' '))"
    )
    grams = (
        f"array_distinct(transform(regexp_extract_all(norm,"
        f" '{_ngram_lookahead_re(DECON_NGRAM)}', 1),"
        f" g -> {_spark_hash60('g')}))"
    )

    def with_grams(df):
        return df.withColumn("norm", F.expr(norm)).withColumn(
            "grams", F.expr(grams)
        )

    eval_row = (
        with_grams(
            _curated(
                spark, sf_dir, with_content=True,
                where=f"doc_id < {TRAIN_EVAL_DOCS}",
            )
        )
        .select(F.explode("grams").alias("g"))
        .distinct()
        .agg(F.collect_set("g").alias("eval_grams"))
    )
    corpus = with_grams(
        _curated(spark, sf_dir, with_content=True)
    ).filter(F.col("doc_id") >= TRAIN_EVAL_DOCS)
    clean = (
        corpus.crossJoin(F.broadcast(eval_row))
        .withColumn(
            "overlap", F.size(F.array_intersect("grams", "eval_grams"))
        )
        .filter(F.col("overlap") == 0)
    )
    routed = clean.selectExpr(
        "doc_id",
        "lang",
        "text_length",
        "CAST(size(split(trim(content), '[ \\\\t\\\\n\\\\x0b\\\\f\\\\r]+')) AS BIGINT) AS n_tokens",
        f"{_SPARK_SPLIT} AS split",
        f"CAST({_PACK_BUCKET} AS BIGINT) AS pack_bucket",
    )
    w = (
        Window.partitionBy("split", "pack_bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("n_tokens").over(w)
    return routed.select(
        "doc_id",
        "lang",
        "text_length",
        "n_tokens",
        "split",
        "pack_bucket",
        F.floor((cum - F.col("n_tokens")) / PACK_BUDGET)
        .cast("bigint")
        .alias("seq_id"),
    )


def _build_training_set_sql() -> str:
    from .curation import PACK_BUCKETS, PACK_BUDGET
    from .dedup import (
        DECON_NGRAM,
        SPLIT_BUCKETS,
        TEST_PCT,
        VAL_PCT,
        _duck_hash,
        _duck_hash60,
        _gram_expr_duck,
    )

    content = "replace(text, '. ', '.')"
    split_bucket = (
        f"{_duck_hash('CAST(doc_id AS VARCHAR)')} % {SPLIT_BUCKETS}"
    )
    pack_bucket = (
        f"{_duck_hash('CAST(doc_id AS VARCHAR)')} % {PACK_BUCKETS}"
    )
    return f"""
WITH base AS (
  SELECT doc_id, lang, n_chars, text,
         (length(text) - length(replace(text, '. ', ''))) / 2 AS n_splits
  FROM documents
),
ex AS (
  SELECT doc_id, lang,
         CAST(n_chars - n_splits AS BIGINT) AS text_length,
         {content} AS content,
         md5({content}) AS content_hash
  FROM base
),
gated AS (
  SELECT * FROM ex WHERE text_length >= {CURATE_MIN_CHARS}
),
curated AS (
  SELECT doc_id, lang, text_length, content,
         row_number() OVER (PARTITION BY content_hash ORDER BY doc_id) AS rnk
  FROM gated
  QUALIFY rnk = 1
),
words AS (
  SELECT doc_id, lang, text_length, content,
         list_filter(string_split_regex(lower(regexp_replace(content,
           '[^a-zA-Z0-9 ]', ' ', 'g')), ' +'), x -> x <> '') AS words
  FROM curated
),
grams AS (
  SELECT doc_id, lang, text_length, content,
         list_distinct(list_transform({_gram_expr_duck(DECON_NGRAM)},
                                      g -> {_duck_hash60('g')})) AS grams
  FROM words
),
eval_grams AS (
  SELECT DISTINCT unnest(grams) AS g FROM grams WHERE doc_id < {TRAIN_EVAL_DOCS}
),
clean AS (
  SELECT g.* FROM grams g
  WHERE g.doc_id >= {TRAIN_EVAL_DOCS}
    AND NOT EXISTS (
      SELECT 1 FROM eval_grams e WHERE list_contains(g.grams, e.g)
    )
),
routed AS (
  SELECT doc_id, lang, text_length,
         CAST(len(string_split_regex(trim(content), '[ \t\n\x0b\f\r]+')) AS BIGINT) AS n_tokens,
         CASE WHEN {split_bucket} < {VAL_PCT} THEN 'val'
              WHEN {split_bucket} < {VAL_PCT + TEST_PCT} THEN 'test'
              ELSE 'train' END AS split,
         CAST({pack_bucket} AS BIGINT) AS pack_bucket
  FROM clean
)
SELECT doc_id, lang, text_length, n_tokens, split, pack_bucket,
       CAST(floor((sum(n_tokens) OVER (PARTITION BY split, pack_bucket
                                       ORDER BY doc_id
                                       ROWS UNBOUNDED PRECEDING) - n_tokens)
                  / {PACK_BUDGET}) AS BIGINT) AS seq_id
FROM routed
"""


QUERIES["build_training_set"] = (build_training_set, _build_training_set_sql())
