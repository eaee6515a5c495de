"""Bucketed-table shuffle elision, for real (VERDICT r01 item 3).

``write_bucketed_corpus`` persists the corpus with
``bucketBy(N, doc_id)``; Catalyst then reports
``HashPartitioning(doc_id, N)`` from the scan, so doc_id-keyed
aggregations/joins over the bucketed table need NO Exchange — the
plain-Spark realization of an Iceberg ``bucket(N, doc_id)`` layout.
"""

import pytest

import pyspark.sql.functions as F

from swift_readability_spark.pipeline.io import write_bucketed_corpus

TABLE = "srs_test_corpus_bucketed"
N_BUCKETS = 8


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def bucketed(spark, corpus_dir):
    docs = spark.read.parquet(corpus_dir + "/documents.parquet")
    write_bucketed_corpus(docs, TABLE, N_BUCKETS)
    yield spark.table(TABLE)
    spark.sql(f"DROP TABLE IF EXISTS {TABLE}")


def test_docid_aggregation_has_no_exchange(spark, corpus_dir, bucketed):
    agg = bucketed.groupBy("doc_id").agg(F.count("*").alias("n"))
    assert "Exchange" not in _plan(agg)
    # the identical aggregation over the plain parquet corpus shuffles
    plain = (
        spark.read.parquet(corpus_dir + "/documents.parquet")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n"))
    )
    assert "Exchange" in _plan(plain)


def test_docid_self_join_has_no_exchange(bucketed):
    a = bucketed.select("doc_id")
    b = bucketed.select("doc_id", F.size("spans").alias("n_spans"))
    joined = a.join(b.hint("merge"), "doc_id")
    assert "Exchange" not in _plan(joined)


def test_extraction_over_bucketed_table_elides_shuffle(spark, bucketed):
    """The full extraction plan over the bucketed corpus in
    assume_pre_partitioned mode: zero Exchange, results identical to
    the shuffled route."""
    from swift_readability_spark.pipeline.job import plan_extraction

    pre = plan_extraction(
        bucketed, "http://fakehost/test/page.html", "r", N_BUCKETS,
        assume_pre_partitioned=True,
    )
    assert "Exchange" not in _plan(pre)
    shuffled = plan_extraction(
        bucketed, "http://fakehost/test/page.html", "r", N_BUCKETS
    )
    got = {(r["doc_id"], r["title"], r["text_length"]) for r in pre.collect()}
    want = {(r["doc_id"], r["title"], r["text_length"]) for r in shuffled.collect()}
    assert got == want


def test_bucketed_scan_reports_bucket_layout(bucketed):
    plan = _plan(bucketed.groupBy("doc_id").count())
    assert "Bucketed: true" in plan or "SelectedBucketsCount" in plan


def test_read_documents_all_formats(spark, corpus_dir, tmp_path_factory):
    """The same documents round-trip through parquet, JSON-lines, and
    CSV sources (CSV cannot carry the nested spans column, so it
    round-trips the flat projection)."""
    from swift_readability_spark.pipeline.io import read_documents

    out = tmp_path_factory.mktemp("formats")
    docs = spark.read.parquet(corpus_dir + "/documents.parquet").filter(
        F.col("doc_id").startswith("syn-")
    )
    n = docs.count()

    pq = str(out / "d.parquet")
    docs.write.parquet(pq)
    assert read_documents(spark, pq).count() == n

    js = str(out / "d.jsonl")
    docs.write.json(js)
    got = read_documents(spark, js)
    assert got.count() == n
    # spans survive the JSON round trip (schema inferred)
    assert "spans" in got.columns
    assert got.selectExpr("size(spans)").agg({"size(spans)": "min"}).collect()[0][0] >= 1

    cs = str(out / "d.csv")
    docs.selectExpr("doc_id", "size(spans) AS n_spans").write.option(
        "header", "true"
    ).csv(cs)
    flat = read_documents(spark, cs, schema="doc_id STRING, n_spans INT")
    assert flat.count() == n
    assert flat.schema["n_spans"].dataType.simpleString() == "int"


def test_read_documents_explicit_format_beats_extension(
    spark, corpus_dir, tmp_path_factory
):
    """The common lake layout is a directory of part files with no
    extension on the directory path — sniffing would misread it as
    parquet; the explicit fmt parameter must win (ADVICE r02)."""
    import pytest

    from swift_readability_spark.pipeline.io import read_documents

    out = tmp_path_factory.mktemp("fmt")
    docs = spark.read.parquet(corpus_dir + "/documents.parquet").filter(
        F.col("doc_id").startswith("syn-")
    )
    n = docs.count()
    d = str(out / "json_parts")  # extension-less directory of JSON parts
    docs.write.json(d)
    got = read_documents(spark, d, fmt="json")
    assert got.count() == n and "spans" in got.columns
    with pytest.raises(ValueError, match="unsupported input format"):
        read_documents(spark, d, fmt="avro")
