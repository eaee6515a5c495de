"""Bucketed-table shuffle elision, for real (VERDICT r01 item 3).

``write_bucketed_corpus`` persists the corpus with
``bucketBy(N, doc_id)``; Catalyst then reports
``HashPartitioning(doc_id, N)`` from the scan, so doc_id-keyed
aggregations/joins over the bucketed table need NO Exchange — the
plain-Spark realization of an Iceberg ``bucket(N, doc_id)`` layout.
"""

import re

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
    """The full extraction plan over the bucketed corpus: Spark drops
    the route itself when the bucket count equals the route's task
    count (the scan already reports ``hashpartitioning(doc_id, N)``),
    also behind the resume anti-join, and extracts the same rows as the
    routed plan; at any other count the one Exchange stays."""
    from swift_readability_spark.pipeline.job import (
        plan_extraction,
        with_partition_key,
    )

    url = "http://fakehost/test/page.html"
    elided = plan_extraction(bucketed, url, "r", N_BUCKETS)
    assert "Exchange" not in _plan(elided)
    done = spark.createDataFrame([(1,)], "partition_key int")
    pending = (
        with_partition_key(bucketed, N_BUCKETS)
        .join(F.broadcast(done), "partition_key", "left_anti")
        .drop("partition_key")
    )
    resumed = _plan(plan_extraction(pending, url, "r", N_BUCKETS))
    assert "BroadcastExchange" in resumed
    assert resumed.count("Exchange") == resumed.count("BroadcastExchange")
    routed = plan_extraction(bucketed, url, "r", N_BUCKETS // 2)
    assert len(re.findall(r"Exchange hashpartitioning\(doc_id", _plan(routed))) == 1
    got = {(r["doc_id"], r["title"], r["text_length"]) for r in elided.collect()}
    want = {(r["doc_id"], r["title"], r["text_length"]) for r in routed.collect()}
    assert got == want


def test_bucketed_scan_reports_bucket_layout(bucketed):
    plan = _plan(bucketed.groupBy("doc_id").count())
    assert "Bucketed: true" in plan or "SelectedBucketsCount" in plan


def test_read_documents_all_formats(spark, corpus_dir, tmp_path_factory):
    """The same documents round-trip through parquet, JSON-lines and
    ORC sources."""
    import shutil

    from swift_readability_spark.pipeline.io import read_documents
    from swift_readability_spark.pipeline.job import DOCUMENTS_SCHEMA

    out = tmp_path_factory.mktemp("formats")
    docs = spark.read.parquet(corpus_dir + "/documents.parquet").filter(
        F.col("doc_id").startswith("syn-")
    )
    n = docs.count()

    pq = str(out / "d.parquet")
    docs.write.parquet(pq)
    assert read_documents(spark, pq).count() == n
    # an extension the reader does not know reads as parquet
    dotted = str(out / "corpus-2024.10")
    shutil.copytree(pq, dotted)
    assert read_documents(spark, dotted).count() == n

    orc = str(out / "d.orc")
    docs.write.orc(orc)
    assert read_documents(spark, orc).count() == n

    js = str(out / "d.jsonl")
    docs.write.json(js)
    got = read_documents(spark, js)
    assert got.count() == n
    # spans survive the JSON round trip (read with the documents schema)
    assert got.schema == DOCUMENTS_SCHEMA
    assert got.selectExpr("size(spans)").agg({"size(spans)": "min"}).collect()[0][0] >= 1


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
