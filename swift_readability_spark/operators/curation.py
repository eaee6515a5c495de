"""Corpus-curation operators a 100-TB training-data pipeline needs
beyond per-document extraction: chunk-level boilerplate dedup
(CCNet-style), token-budget sequence packing, deterministic mixture
sampling, a per-language corpus report, and a k-NN join.

Every operator is a pure DataFrame plan (whole-stage codegen built-ins,
no Python UDFs) with a DuckDB value oracle.  Cross-engine determinism
rules reused from the sibling modules:

- portable 32-bit hash = first 8 hex chars of md5 (``_spark_hash`` /
  ``_duck_hash`` in dedup.py) — never engine ``hash()``,
- portable rounding = floor(x*10^k + 0.5)/10^k (common.floor_round) — never
  engine ``round()`` on doubles,
- any per-key ordering ties broken by an explicit unique column.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from .common import content_hash, duck_sum128, floor_round, read, spark_sum64
from .dedup import _SPARK_NORM, _duck_hash, _duck_hash60, _spark_hash, _spark_hash60
from .kernels import docs, h60, map_docs, tokenize_batch

# ---------------------------------------------------------------------------
# shared chunk expressions (identical tokenization on both engines, same
# normalization as text.py's token ops)
# ---------------------------------------------------------------------------
CHUNK_WORDS = 10  # pseudo-paragraph size: the corpus text has no real
# line structure (TESTDATA.md word-soup), so the "line" unit of
# CCNet-style dedup is a fixed 10-word chunk — same shape, same plan.

# Chunking is ONE regexp_extract_all over the normalized text (each
# greedy match consumes up to CHUNK_WORDS space-separated words) —
# single linear codegen pass, no arrays, no lambdas.  The obvious
# alternative (transform(sequence(...), i -> slice(words, i*10+1, 10)))
# is an O(n^2) landmine: when the expression lands on an interpreted
# eval path (explode pushes the implicit size()>0 filter through it),
# Slice.eval converts the WHOLE words array per chunk — a 50k-word
# mega-doc took minutes; the regex form takes milliseconds.
_CHUNK_RE = f"[^ ]+( [^ ]+){{0,{CHUNK_WORDS - 1}}}"
# _SPARK_NORM imported from dedup.py — ONE definition of the word
# tokenization; chunks here must agree with shingles/words there.
_DUCK_NORM = (
    "trim(regexp_replace(lower(regexp_replace(text, '[^a-zA-Z0-9 ]', ' ', 'g')),"
    " ' +', ' ', 'g'))"
)
_SPARK_CHUNKS = f"regexp_extract_all({_SPARK_NORM}, '{_CHUNK_RE}', 0)"
_DUCK_CHUNKS = f"regexp_extract_all({_DUCK_NORM}, '{_CHUNK_RE}', 0)"


def _chunk_exploded(ids, texts):
    """(doc_id, chunk_idx, chunk, chunk_h) rows — the C-regex twin of
    ``posexplode(_SPARK_CHUNKS)`` + ``_spark_hash60(chunk)``: the norm
    text split into consecutive <=CHUNK_WORDS-word chunks (exactly the
    greedy lookahead matches).  Null/empty text explodes to nothing."""
    out_id, out_idx, out_c = [], [], []
    for did, ws in zip(ids, tokenize_batch(texts)):
        if not ws:
            continue
        chunks = [
            " ".join(ws[i : i + CHUNK_WORDS]) for i in range(0, len(ws), CHUNK_WORDS)
        ]
        out_id += [did] * len(chunks)
        out_idx += range(len(chunks))
        out_c += chunks
    return {
        "doc_id": out_id,
        "chunk_idx": out_idx,
        "chunk": out_c,
        "chunk_h": h60(out_c),
    }


def _chunk_count(ids, texts):
    """``size(_SPARK_CHUNKS)`` as bigint: 0 for empty text, null for
    null text (size(NULL) semantics)."""
    return {
        "n_chunks": [
            None if ws is None else (len(ws) + CHUNK_WORDS - 1) // CHUNK_WORDS
            for ws in tokenize_batch(texts)
        ]
    }


_CHUNK_DDL = "chunk_idx int, chunk string, chunk_h bigint"


def paragraph_dedup(spark, sf_dir):
    """CCNet-style chunk-level dedup: drop every occurrence of a
    normalized 10-word chunk that appears more than once corpus-wide
    (boilerplate / licence headers / navigation text), then reassemble
    each document from its surviving chunks in order.

    Scale shape: explode -> hash-groupBy count (map-side partial agg)
    -> the over-threshold chunk set is tiny relative to the corpus, so
    it broadcasts and the removal join is a map-side anti-join — the
    only full shuffle is the final per-doc reassembly.  The duplicate
    count groups on a 60-bit md5 of the chunk, never the string: the
    count shuffle and the broadcast dup set carry 8-byte ints, and the
    chunk text itself only rides the doc_id-keyed reassembly.

    r07: chunking + hashing run in one Arrow kernel (C regex + C md5 —
    the JVM chunk regex + interpreted per-chunk md5/conv subtree was
    re-executed for the dup table, the keep side and the count side;
    17 -> ~5 s at 50k docs)."""
    d = docs(spark, sf_dir)
    exploded = map_docs(spark, d, _chunk_exploded, _CHUNK_DDL)
    dup_chunks = (
        exploded.select("chunk_h")
        .groupBy("chunk_h")
        .count()
        .filter(F.col("count") > 1)
        .select("chunk_h")
    )
    kept = (
        exploded.join(F.broadcast(dup_chunks), "chunk_h", "left_anti")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_kept"),
            F.array_join(
                F.expr("transform(array_sort(collect_list(struct(chunk_idx, chunk))), s -> s.chunk)"),
                " ",
            ).alias("dedup_text"),
        )
    )
    return (
        map_docs(spark, d, _chunk_count, "n_chunks bigint")
        .join(kept, "doc_id", "left")
        .select(
            "doc_id",
            "n_chunks",
            F.coalesce(F.col("n_kept"), F.lit(0)).cast("bigint").alias("n_kept"),
            (F.col("n_chunks") - F.coalesce(F.col("n_kept"), F.lit(0)))
            .cast("bigint")
            .alias("n_removed"),
            F.coalesce(F.col("dedup_text"), F.lit("")).alias("dedup_text"),
        )
    )


PARAGRAPH_DEDUP_SQL = f"""
WITH c AS (
  SELECT doc_id, {_DUCK_CHUNKS} AS chunks FROM documents
),
e AS (
  SELECT doc_id, pos - 1 AS chunk_idx, chunks[pos] AS chunk,
         {_duck_hash60('chunks[pos]')} AS chunk_h
  FROM c, LATERAL (SELECT unnest(generate_series(1, len(chunks))) AS pos) u
),
dup AS (
  SELECT chunk_h FROM e GROUP BY chunk_h HAVING count(*) > 1
),
k AS (
  SELECT doc_id, count(*) AS n_kept,
         string_agg(chunk, ' ' ORDER BY chunk_idx) AS dedup_text
  FROM e ANTI JOIN dup USING (chunk_h)
  GROUP BY doc_id
)
SELECT c.doc_id,
       CAST(len(c.chunks) AS BIGINT) AS n_chunks,
       CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept,
       CAST(len(c.chunks) - coalesce(k.n_kept, 0) AS BIGINT) AS n_removed,
       coalesce(k.dedup_text, '') AS dedup_text
FROM c LEFT JOIN k ON c.doc_id = k.doc_id
"""


# ---------------------------------------------------------------------------
# token-budget sequence packing
# ---------------------------------------------------------------------------
PACK_BUDGET = 256  # tokens per packed training sequence
PACK_BUCKETS = 8  # parallel packing streams

_TOKENS_SPARK = "size(split(trim(text), '[ \\\\t\\\\n\\\\x0b\\\\f\\\\r]+'))"
_TOKENS_DUCK = "len(string_split_regex(trim(text), '[ \\t\\n\\x0b\\f\\r]+'))"
# the packing stream of doc_id (pack_sequences, build_training_set)
_PACK_BUCKET = f"pmod({_spark_hash('CAST(doc_id AS STRING)')}, {PACK_BUCKETS})"


def pack_sequences(spark, sf_dir):
    """Greedy sequence packing for LLM training: assign documents to
    fixed token-budget sequences by cumulative token count.

    A single global ordering would serialize the packing, so documents
    are first routed to ``PACK_BUCKETS`` independent streams by a
    stable hash and packed within each stream — the windows then
    parallelize per bucket (one shuffle, no global sort).  seq_id is a
    pure function of (bucket, doc_id order), so re-runs and resumes
    agree.  Documents larger than the budget get a sequence of their
    own (floor((cumsum - tok)/budget) places them where they start).
    """
    d = read(spark, sf_dir, "documents")
    base = d.selectExpr(
        "doc_id",
        f"{_PACK_BUCKET} AS bucket",
        f"CAST({_TOKENS_SPARK} AS BIGINT) AS n_tokens",
    )
    w = (
        Window.partitionBy("bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("n_tokens").over(w)
    return base.select(
        "doc_id",
        F.col("bucket").cast("bigint").alias("bucket"),
        "n_tokens",
        F.floor((cum - F.col("n_tokens")) / PACK_BUDGET)
        .cast("bigint")
        .alias("seq_id"),
    )


PACK_SEQUENCES_SQL = f"""
WITH b AS (
  SELECT doc_id,
         {_duck_hash('CAST(doc_id AS VARCHAR)')} % {PACK_BUCKETS} AS bucket,
         CAST({_TOKENS_DUCK} AS BIGINT) AS n_tokens
  FROM documents
)
SELECT doc_id,
       CAST(bucket AS BIGINT) AS bucket,
       n_tokens,
       CAST(floor((sum(n_tokens) OVER (PARTITION BY bucket ORDER BY doc_id
                                       ROWS UNBOUNDED PRECEDING) - n_tokens)
                  / {PACK_BUDGET}) AS BIGINT) AS seq_id
FROM b
"""


def pack_sequences_stats(spark, sf_dir):
    """The packing-efficiency audit for ``pack_sequences`` (house
    "no silent caps" pattern — the greedy packer's waste is measured,
    not assumed): sequence count, fill ratio, over-budget sequences
    (a document larger than the budget gets a sequence of its own, by
    design).  All outputs are exact integers — fill_ratio_e4 is the
    integer rational ``total_tokens*1e4 DIV capacity`` (positive
    operands, so Spark's truncating div and DuckDB's flooring ``//``
    agree).  Plan: the pack windows + one (bucket, seq_id) groupBy
    sharing the bucket partitioning + a single-row rollup."""
    p = pack_sequences(spark, sf_dir)
    per_seq = p.groupBy("bucket", "seq_id").agg(
        F.count("*").alias("n_docs_seq"),
        F.sum("n_tokens").alias("seq_tokens"),
    )
    return per_seq.agg(
        F.count("*").cast("bigint").alias("n_sequences"),
        F.sum("n_docs_seq").cast("bigint").alias("n_docs"),
        F.sum("seq_tokens").cast("bigint").alias("total_tokens"),
        F.max("seq_tokens").cast("bigint").alias("max_seq_tokens"),
        F.sum(F.when(F.col("seq_tokens") > PACK_BUDGET, 1).otherwise(0))
        .cast("bigint")
        .alias("n_over_budget"),
        F.expr(
            f"CAST(sum(seq_tokens) * 10000 DIV (count(*) * {PACK_BUDGET})"
            " AS BIGINT)"
        ).alias("fill_ratio_e4"),
    )


PACK_SEQUENCES_STATS_SQL = f"""
WITH b AS (
  SELECT doc_id,
         {_duck_hash('CAST(doc_id AS VARCHAR)')} % {PACK_BUCKETS} AS bucket,
         CAST({_TOKENS_DUCK} AS BIGINT) AS n_tokens
  FROM documents
),
p AS (
  SELECT bucket,
         CAST(floor((sum(n_tokens) OVER (PARTITION BY bucket ORDER BY doc_id
                                         ROWS UNBOUNDED PRECEDING) - n_tokens)
                    / {PACK_BUDGET}) AS BIGINT) AS seq_id,
         n_tokens
  FROM b
),
s AS (
  SELECT bucket, seq_id, count(*) AS n_docs_seq, sum(n_tokens) AS seq_tokens
  FROM p GROUP BY bucket, seq_id
)
SELECT CAST(count(*) AS BIGINT) AS n_sequences,
       CAST(sum(n_docs_seq) AS BIGINT) AS n_docs,
       CAST(sum(seq_tokens) AS BIGINT) AS total_tokens,
       CAST(max(seq_tokens) AS BIGINT) AS max_seq_tokens,
       CAST(sum(CASE WHEN seq_tokens > {PACK_BUDGET} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_over_budget,
       CAST(sum(seq_tokens) * 10000 // (count(*) * {PACK_BUDGET}) AS BIGINT)
         AS fill_ratio_e4
FROM s
"""


# ---------------------------------------------------------------------------
# deterministic mixture sampling
# ---------------------------------------------------------------------------
# per-language inclusion percentages for the training mixture;
# sampling is a pure function of doc_id (hash-fraction), so the sample
# is stable under re-runs and corpus appends — never rand()
MIXTURE_PCT = {"en": 100, "de": 60, "fr": 60, "es": 30, "zh": 30}
_MIX_SALT = "mix:"  # decorrelate from dataset_split's buckets


def _mix_case() -> str:
    arms = " ".join(
        f"WHEN '{lang}' THEN {pct}" for lang, pct in sorted(MIXTURE_PCT.items())
    )
    return f"CASE lang {arms} ELSE 0 END"


def mixture_sample(spark, sf_dir):
    """Deterministic per-language downsampling to mixture weights —
    map-side projection + filter, zero shuffle at any scale."""
    d = read(spark, sf_dir, "documents")
    bucket = f"pmod({_spark_hash(repr(_MIX_SALT) + ' || CAST(doc_id AS STRING)')}, 100)"
    return (
        d.selectExpr(
            "doc_id",
            "lang",
            f"CAST({bucket} AS BIGINT) AS bucket",
            f"CAST({_mix_case()} AS BIGINT) AS keep_pct",
        )
        .filter(F.col("bucket") < F.col("keep_pct"))
    )


MIXTURE_SAMPLE_SQL = f"""
SELECT doc_id, lang,
       CAST({_duck_hash(f"{_MIX_SALT!r} || CAST(doc_id AS VARCHAR)")} % 100 AS BIGINT) AS bucket,
       CAST({_mix_case()} AS BIGINT) AS keep_pct
FROM documents
WHERE {_duck_hash(f"{_MIX_SALT!r} || CAST(doc_id AS VARCHAR)")} % 100 < {_mix_case()}
"""


# ---------------------------------------------------------------------------
# per-language corpus report
# ---------------------------------------------------------------------------
def _corpus_report_per_lang(spark, sf_dir):
    """Shared exact-integer aggregation stage for corpus_report and
    its bisecting twin corpus_report_cols: one hash-groupBy (map-side
    partial agg) producing per-language doc counts, token totals,
    distinct-content counts and the exact text-length sum."""
    d = read(spark, sf_dir, "documents")
    return (
        d.select(
            "lang",
            F.expr(_TOKENS_SPARK).cast("bigint").alias("n_tokens"),
            content_hash().alias("content_hash"),
            F.length("text").cast("bigint").alias("text_len"),
        )
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.countDistinct("content_hash").alias("n_distinct"),
            F.expr(spark_sum64("text_len")).alias("_sum_len"),
        )
    )


def corpus_report(spark, sf_dir):
    """The corpus report card: per-language doc counts, token totals,
    distinct-content counts and corpus share.  One hash-groupBy (map-
    side partial agg) + a broadcast-sized window over the language
    rows — scales as a pure aggregation.

    NO DOUBLES CROSS THE OUTPUT (round 6).  r04 and r05 both produced
    a driver-red hash on this query — first on avg(double), then on
    fround(exact_int/exact_int) despite an identical-IEEE-op-sequence
    argument that held at every local scale factor.  Two falsified
    rounds ⇒ the empirical rule: every derived column is an integer
    rational, rounded half-up IN INTEGER SPACE (the tfidf_top_terms
    recipe, driver-green r05):

        avg_len_e4      = round(1e4 * Σlen / n)   = (Σlen*20000 + n) DIV (2n)
        corpus_share_e4 = round(1e4 * n / total)  = (n*20000 + total) DIV (2·total)

    The Σlen*20000 product is formed in DECIMAL(38,0) on the Spark
    side (HUGEINT in DuckDB) so it cannot overflow at any corpus size;
    the quotient ≤ 2e4·max_doc_len fits BIGINT trivially.  All
    operands are non-negative, so trunc-div (Spark) == floor-div
    (DuckDB)."""
    per_lang = _corpus_report_per_lang(spark, sf_dir)
    total = Window.partitionBy()
    return per_lang.withColumn(
        "_total_docs", F.sum("n_docs").over(total)
    ).selectExpr(
        "lang",
        "n_docs",
        "total_tokens",
        "n_distinct",
        "(CAST(_sum_len AS DECIMAL(38,0)) * 20000 + n_docs) div (2 * n_docs)"
        " AS avg_len_e4",
        "(n_docs * 20000 + _total_docs) div (2 * _total_docs)"
        " AS corpus_share_e4",
    )


_CORPUS_REPORT_PER_SQL = f"""
  SELECT lang,
         count(*) AS n_docs,
         sum(CAST({_TOKENS_DUCK} AS BIGINT)) AS total_tokens,
         count(DISTINCT md5(lower(trim(regexp_replace(text, '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g'))))) AS n_distinct,
         {duck_sum128('CAST(length(text) AS BIGINT)')} AS _sum_len
  FROM documents
  GROUP BY lang
"""

CORPUS_REPORT_SQL = f"""
WITH per AS ({_CORPUS_REPORT_PER_SQL})
SELECT lang, n_docs, total_tokens, n_distinct,
       CAST((_sum_len * 20000 + n_docs) // (2 * n_docs) AS BIGINT) AS avg_len_e4,
       CAST((n_docs * 20000 + sum(n_docs) OVER ()) // (2 * sum(n_docs) OVER ()) AS BIGINT)
         AS corpus_share_e4
FROM per
"""


def corpus_report_cols(spark, sf_dir):
    """Bisecting twin of corpus_report: the exact-integer aggregation
    inputs ONLY (no derived ratio columns).  If corpus_report is ever
    driver-red again while this twin is green, the divergence is
    localized to the avg_len_e4/corpus_share_e4 derivation; if BOTH
    are red, it is in tokenization/md5/aggregation itself."""
    return _corpus_report_per_lang(spark, sf_dir).selectExpr(
        "lang", "n_docs", "total_tokens", "n_distinct",
        "_sum_len AS sum_len",
    )


CORPUS_REPORT_COLS_SQL = f"""
WITH per AS ({_CORPUS_REPORT_PER_SQL})
SELECT lang, n_docs, total_tokens, n_distinct,
       CAST(_sum_len AS BIGINT) AS sum_len
FROM per
"""


# ---------------------------------------------------------------------------
# k-NN join (each query doc -> top-k corpus neighbours)
# ---------------------------------------------------------------------------
KNN_QUERIES = 5  # vec_id < 5 are the query set
KNN_K = 3

from .similarity import _D_DOT, _D_NORM  # oracle-green FP-parity expressions


def knn_join(spark, sf_dir):
    """k-NN join: exact cosine top-k corpus neighbours for EVERY vector
    in a query set (the batched generalization of ann_bruteforce_topk).

    Scale shape: the query side is collected (a query batch is always
    broadcast-class relative to the corpus), so the corpus is scanned
    once with no shuffle of the big side; the per-query top-k is a
    window over q_id.  For query sets too big to broadcast, block both
    sides with the hyperplane signature (similarity.py) first — same
    downstream plan.  r07: the per-(row, query) cosine runs in the
    shared Arrow kernel (exact fold parity) instead of an interpreted
    HOF chain over the crossJoin."""
    from .similarity import _query_vecs, _scored_against_queries

    e = read(spark, sf_dir, "embeddings")
    queries = _query_vecs(e, F.col("vec_id") < KNN_QUERIES, KNN_QUERIES)
    scored = _scored_against_queries(e, queries, F.col("vec_id") >= KNN_QUERIES)
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine_raw"), F.asc("vec_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= KNN_K)
        .select(
            "q_id",
            F.col("vec_id").alias("neighbor_id"),
            F.col("rnk").cast("bigint").alias("rnk"),
            floor_round(F.col("cosine_raw"), 4).alias("cosine"),
        )
    )


KNN_JOIN_SQL = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
q AS (SELECT vec_id AS q_id, emb AS qvec FROM e WHERE vec_id < {KNN_QUERIES}),
scored AS (
  SELECT q.q_id, e.vec_id,
         {_D_DOT.format(a='e.emb', b='q.qvec')}
           / ({_D_NORM.format(v='e.emb')} * {_D_NORM.format(v='q.qvec')}) AS cosine_raw
  FROM e, q
  WHERE e.vec_id >= {KNN_QUERIES}
)
SELECT q_id, vec_id AS neighbor_id,
       CAST(row_number() OVER (PARTITION BY q_id ORDER BY cosine_raw DESC, vec_id ASC) AS BIGINT) AS rnk,
       floor(cosine_raw * 10000 + 0.5) / 10000 AS cosine
FROM scored
QUALIFY rnk <= {KNN_K}
"""


def chunk_dedup_stats(spark, sf_dir):
    """The audit for paragraph_dedup ("no silent caps" rule): how much
    text the >1-occurrence rule removes.  One explode + chunk-hash
    groupBy (map-side partial, 8-byte shuffle keys — same 60-bit md5
    stand-in as paragraph_dedup, from the same r07 Arrow kernel) + a
    single-row rollup."""
    exploded = map_docs(spark, sf_dir, _chunk_exploded, _CHUNK_DDL).select("chunk_h")
    per_chunk = exploded.groupBy("chunk_h").agg(F.count("*").alias("freq"))
    return per_chunk.select(
        F.sum("freq").cast("bigint").alias("n_occurrences"),
        F.count("*").cast("bigint").alias("n_distinct"),
        F.sum(F.when(F.col("freq") > 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_dup_chunks"),
        F.sum(F.when(F.col("freq") > 1, F.col("freq")).otherwise(0))
        .cast("bigint")
        .alias("n_removed_occurrences"),
        F.max("freq").cast("bigint").alias("max_freq"),
    )


CHUNK_DEDUP_STATS_SQL = f"""
WITH c AS (
  SELECT doc_id, {_DUCK_CHUNKS} AS chunks FROM documents
),
e AS (
  SELECT {_duck_hash60('unnest(chunks)')} AS chunk_h FROM c
),
f AS (
  SELECT chunk_h, count(*) AS freq FROM e GROUP BY chunk_h
)
SELECT CAST(sum(freq) AS BIGINT) AS n_occurrences,
       CAST(count(*) AS BIGINT) AS n_distinct,
       CAST(sum(CASE WHEN freq > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks,
       CAST(sum(CASE WHEN freq > 1 THEN freq ELSE 0 END) AS BIGINT) AS n_removed_occurrences,
       CAST(max(freq) AS BIGINT) AS max_freq
FROM f
"""


# ---------------------------------------------------------------------------
# exact stratified sampling (eval-set construction)
# ---------------------------------------------------------------------------
STRATA_K = 50  # exact docs per language stratum
# oversample factor for the candidate pre-filter: candidates per
# stratum ~ Binomial(n, 8K/n) with mean 8K = 400; P(< K = 50) is
# astronomically small (Chernoff), the fixed corpus makes the outcome
# deterministic, and an in-plan assert_true fails LOUDLY if a stratum
# ever undershoots (tests/test_curation.py plants one that does).
STRATA_OVERSAMPLE = 8
_STRATA_BUCKETS = 1_000_000


def _hash_top_k(df, key, n_key, k, oversample, what, knob):
    """The ``k`` rows with the lowest (hash bucket, doc_id) per ``key``
    of ``df`` — the rows carry their key's size in column ``n_key`` —
    plus their ``rnk``; a pure function of doc_id, never rand().

    Oversample-then-exact, NOT a naive per-key window (which shuffles
    the whole corpus and sends each key's full partition to one task):
    a hash-bucket pre-filter keeps ~``oversample``*k candidates per key
    map-side, whatever the key's size, then the exact top-k window runs
    on candidates only.  Keys smaller than k keep everything (the
    threshold saturates).

    Loud floor on the probabilistic oversample ("no silent caps",
    VERDICT r04 item 5): if a key's candidate pool ever undershoots
    min(k, key size) — P is Chernoff-negligible but not zero on a
    changing corpus — the job fails naming ``knob`` as the remedy
    instead of silently returning a short sample.  The count window
    shares the key partitioning with the row_number window: one
    Exchange, and the guard sits in a filter so Catalyst can't prune
    it (the simhash pair-budget guard pattern, dedup.py)."""
    bucket = f"pmod({_spark_hash60('CAST(doc_id AS STRING)')}, {_STRATA_BUCKETS})"
    # integer ceil-div keeps both engines bit-identical (no float ceil)
    thresh = (
        f"least(CAST({_STRATA_BUCKETS} AS BIGINT),"
        f" CAST(({oversample * k}L * {_STRATA_BUCKETS}"
        f" + {n_key} - 1) DIV {n_key} AS BIGINT))"
    )
    undershoot = F.concat(
        F.lit(f"{what}: oversample pre-filter kept "),
        F.col("n_cand").cast("string"),
        F.lit(f" candidates for {key} '"),
        F.col(key),
        F.lit("' of "),
        F.col(n_key).cast("string"),
        F.lit(f" docs < min(K={k}, {key} size) — raise {knob} (now {oversample})"),
    )
    w = Window.partitionBy(key)
    return (
        df.withColumn("bucket", F.expr(bucket))
        .filter(F.col("bucket") < F.expr(thresh))
        .withColumn("n_cand", F.count("*").over(w))
        .filter(
            F.assert_true(
                F.col("n_cand") >= F.least(F.lit(k), F.col(n_key)), undershoot
            ).isNull()
        )
        .drop("n_cand")
        .withColumn("rnk", F.row_number().over(w.orderBy("bucket", "doc_id")))
        .filter(F.col("rnk") <= k)
    )


def stratified_sample(spark, sf_dir):
    """Exactly min(K, |stratum|) documents per language, deterministic
    under re-runs (pure function of doc_id, never rand()).

    Scale shape: a tiny per-language count aggregates map-side and
    broadcasts, then ``_hash_top_k`` samples each stratum (a naive
    window over a raw stratum would send each language's full
    partition to one task — a skew bomb for an 80%-English crawl).

    NULL languages group under the '' sentinel (both engines): an
    inner join on the nullable key would silently drop the
    unknown-language stratum instead of sampling it."""
    d = read(spark, sf_dir, "documents").withColumn(
        "lang", F.coalesce("lang", F.lit(""))
    )
    counts = d.groupBy("lang").agg(F.count("*").alias("n_stratum"))
    return _hash_top_k(
        d.join(F.broadcast(counts), "lang"),
        "lang",
        "n_stratum",
        STRATA_K,
        STRATA_OVERSAMPLE,
        "stratified_sample",
        "STRATA_OVERSAMPLE",
    ).select("doc_id", "lang", F.col("rnk").cast("bigint").alias("rnk"))


STRATIFIED_SAMPLE_SQL = f"""
WITH d AS (SELECT doc_id, coalesce(lang, '') AS lang FROM documents),
counts AS (SELECT lang, count(*) AS n_stratum FROM d GROUP BY lang),
cand AS (
  SELECT d.doc_id, d.lang,
         {_duck_hash60('CAST(d.doc_id AS VARCHAR)')} % {_STRATA_BUCKETS} AS bucket
  FROM d JOIN counts USING (lang)
  WHERE {_duck_hash60('CAST(d.doc_id AS VARCHAR)')} % {_STRATA_BUCKETS}
        < least({_STRATA_BUCKETS},
                ({STRATA_OVERSAMPLE * STRATA_K} * {_STRATA_BUCKETS}
                 + n_stratum - 1) // n_stratum)
)
SELECT doc_id, lang,
       CAST(row_number() OVER (PARTITION BY lang ORDER BY bucket, doc_id)
            AS BIGINT) AS rnk
FROM cand
QUALIFY rnk <= {STRATA_K}
"""


# ---------------------------------------------------------------------------
# per-source frequency cap (domain cap)
# ---------------------------------------------------------------------------
SOURCE_CAP = 20  # max docs kept per source
SOURCE_CAP_OVERSAMPLE = 8  # candidate pre-filter factor (see stratified)


def _source_counts(spark, sf_dir):
    """(documents with NULL sources as '', per-source ``n_source``)."""
    d = read(spark, sf_dir, "documents").withColumn(
        "source", F.coalesce("source", F.lit(""))
    )
    return d, d.groupBy("source").agg(F.count("*").alias("n_source"))


def source_cap(spark, sf_dir):
    """Per-source frequency cap: keep at most ``SOURCE_CAP`` documents
    per ``source``, deterministic under re-runs (pure function of
    doc_id, never rand()).  The C4/RefinedWeb-style domain cap — no
    single domain may dominate a web-scale training corpus.

    Scale shape — stratified_sample's ``_hash_top_k`` with a
    pass-through branch: (1) per-source counts aggregate map-side;
    broadcast while the distinct-source count fits the broadcast
    budget (20 here; at crawl domain cardinality ~1e8 swap the
    broadcast for a plain source-keyed join — agg, join and window all
    share the source partitioning, so AQE coalesces to one Exchange of
    the big side).
    (2) Docs from under-cap sources pass through WITHOUT entering any
    window.  (3) Over-cap sources take the hash-bucket pre-filter
    (~OVERSAMPLE*CAP candidates per source regardless of source size —
    heavy-hitter-proof: a 1e9-doc domain still sends ~160 rows to its
    window task), the loud undershoot floor and the exact
    top-CAP-by-hash window.

    NULL sources group under the '' sentinel (both engines, operator
    AND audit): an inner join on a nullable key would silently drop
    null-source docs while the groupBy-based audit still counted them
    — the conservation law n_kept == |output| would break."""
    d, counts = _source_counts(spark, sf_dir)
    joined = d.join(F.broadcast(counts), "source")
    under = joined.filter(F.col("n_source") <= SOURCE_CAP).select(
        "doc_id", "source"
    )
    capped = _hash_top_k(
        joined.filter(F.col("n_source") > SOURCE_CAP),
        "source",
        "n_source",
        SOURCE_CAP,
        SOURCE_CAP_OVERSAMPLE,
        "source_cap",
        "SOURCE_CAP_OVERSAMPLE",
    ).select("doc_id", "source")
    return under.unionByName(capped)


SOURCE_CAP_SQL = f"""
WITH d AS (SELECT doc_id, coalesce(source, '') AS source FROM documents),
counts AS (SELECT source, count(*) AS n_source FROM d GROUP BY source),
under AS (
  SELECT d.doc_id, d.source FROM d JOIN counts USING (source)
  WHERE n_source <= {SOURCE_CAP}
),
cand AS (
  SELECT d.doc_id, d.source,
         {_duck_hash60('CAST(d.doc_id AS VARCHAR)')} % {_STRATA_BUCKETS} AS bucket
  FROM d JOIN counts USING (source)
  WHERE n_source > {SOURCE_CAP}
    AND {_duck_hash60('CAST(d.doc_id AS VARCHAR)')} % {_STRATA_BUCKETS}
        < least({_STRATA_BUCKETS},
                ({SOURCE_CAP_OVERSAMPLE * SOURCE_CAP} * {_STRATA_BUCKETS}
                 + n_source - 1) // n_source)
),
capped AS (
  SELECT doc_id, source FROM cand
  QUALIFY row_number() OVER (PARTITION BY source ORDER BY bucket, doc_id)
          <= {SOURCE_CAP}
)
SELECT doc_id, source FROM under
UNION ALL
SELECT doc_id, source FROM capped
"""


def source_cap_stats(spark, sf_dir):
    """The audit for source_cap ("no silent caps" rule): how many
    sources exceed the cap and how much the cap removes.  Pure integer
    outputs from the per-source count aggregate — one map-side partial
    agg and a single-row rollup, no window, no join.  NULL sources
    group under '' exactly as in source_cap, so n_kept == |source_cap
    output| holds on any corpus."""
    _, counts = _source_counts(spark, sf_dir)
    kept = F.least(F.col("n_source"), F.lit(SOURCE_CAP))
    return counts.agg(
        F.count("*").cast("bigint").alias("n_sources"),
        F.sum(F.when(F.col("n_source") > SOURCE_CAP, 1).otherwise(0))
        .cast("bigint")
        .alias("n_over_cap"),
        F.sum("n_source").cast("bigint").alias("n_docs"),
        F.sum(kept).cast("bigint").alias("n_kept"),
        (F.sum("n_source") - F.sum(kept)).cast("bigint").alias("n_dropped"),
        F.max("n_source").cast("bigint").alias("max_source_docs"),
    )


SOURCE_CAP_STATS_SQL = f"""
WITH d AS (SELECT coalesce(source, '') AS source FROM documents),
counts AS (SELECT source, count(*) AS n_source FROM d GROUP BY source)
SELECT CAST(count(*) AS BIGINT) AS n_sources,
       CAST(sum(CASE WHEN n_source > {SOURCE_CAP} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_over_cap,
       CAST(sum(n_source) AS BIGINT) AS n_docs,
       CAST(sum(least(n_source, {SOURCE_CAP})) AS BIGINT) AS n_kept,
       CAST(sum(n_source) - sum(least(n_source, {SOURCE_CAP})) AS BIGINT)
         AS n_dropped,
       CAST(max(n_source) AS BIGINT) AS max_source_docs
FROM counts
"""


QUERIES = {
    "paragraph_dedup": (paragraph_dedup, PARAGRAPH_DEDUP_SQL),
    "source_cap": (source_cap, SOURCE_CAP_SQL),
    "source_cap_stats": (source_cap_stats, SOURCE_CAP_STATS_SQL),
    "stratified_sample": (stratified_sample, STRATIFIED_SAMPLE_SQL),
    "chunk_dedup_stats": (chunk_dedup_stats, CHUNK_DEDUP_STATS_SQL),
    "pack_sequences": (pack_sequences, PACK_SEQUENCES_SQL),
    "pack_sequences_stats": (pack_sequences_stats, PACK_SEQUENCES_STATS_SQL),
    "mixture_sample": (mixture_sample, MIXTURE_SAMPLE_SQL),
    "corpus_report": (corpus_report, CORPUS_REPORT_SQL),
    "corpus_report_cols": (corpus_report_cols, CORPUS_REPORT_COLS_SQL),
    "knn_join": (knn_join, KNN_JOIN_SQL),
}
