"""Robustness: malformed input becomes error rows, never job failures;
mega-docs stay within batch bounds."""

import pyspark.sql.functions as F

from swift_readability_spark.extract import extract_document
from swift_readability_spark.pipeline.job import DOCUMENTS_SCHEMA, plan_extraction


def test_malformed_documents_become_error_rows(spark):
    rows = [
        ("ok-doc", [{"kind": "text", "text": "<html><body><p>" + "words " * 200 + "</p></body></html>", "media_ref": None, "offset": 0}]),
        ("empty-spans", []),
        ("null-spans", None),
        ("bad-offset", [{"kind": "media", "text": None, "media_ref": "x.jpg", "offset": 5}]),
        ("not-html", [{"kind": "text", "text": "\x00\x01<<<>>>&&&", "media_ref": None, "offset": 0}]),
    ]
    df = spark.createDataFrame(rows, DOCUMENTS_SCHEMA)
    out = plan_extraction(df, "http://fakehost/x.html", "t", n_partitions=4).collect()
    assert len(out) == len(rows)
    by_id = {r["doc_id"]: r for r in out}
    assert by_id["ok-doc"]["error"] is None
    assert by_id["ok-doc"]["text_length"] > 0
    # degenerate inputs either produce an empty-but-valid result or a
    # recorded error -- never an exception
    for doc_id in ("empty-spans", "null-spans", "bad-offset", "not-html"):
        assert doc_id in by_id


def test_pure_python_never_raises():
    for spans in ([], None, [{"kind": "text", "text": None, "media_ref": None, "offset": 0}]):
        result = extract_document("x", spans or [], "http://fakehost/x.html")
        assert result["doc_id"] == "x"


def test_extraction_deterministic_across_runs(spark, corpus_dir):
    docs = spark.read.parquet(corpus_dir + "/documents.parquet").limit(30)
    a = plan_extraction(docs, "http://fakehost/test/page.html", "r1", 4)
    b = plan_extraction(docs, "http://fakehost/test/page.html", "r1", 4)
    ra = {(r["doc_id"], str(r["spans"]), r["title"]) for r in a.collect()}
    rb = {(r["doc_id"], str(r["spans"]), r["title"]) for r in b.collect()}
    assert ra == rb


def test_read_committed_filters_orphans(spark, corpus_dir, tmp_path_factory):
    """A crash between the output append and the lineage append leaves
    orphan rows; read_committed must hide them."""
    from swift_readability_spark.pipeline.job import (
        plan_extraction,
        read_committed,
        run_extraction,
    )

    out = tmp_path_factory.mktemp("orphan")
    docs = spark.read.parquet(corpus_dir + "/documents.parquet")

    # committed run
    run_extraction(
        spark, docs.limit(40), str(out / "extracted"), str(out / "lineage"),
        n_partitions=4,
    )
    committed = read_committed(spark, str(out / "extracted"), str(out / "lineage"))
    n_committed = committed.count()
    assert n_committed == 40

    # simulate a crash: output appended, lineage never written
    orphan = plan_extraction(
        docs.limit(10).withColumn("doc_id", F.concat(F.lit("orphan-"), "doc_id")),
        "http://fakehost/test/page.html",
        "crashed-run",
        n_partitions=4,
    )
    from swift_readability_spark.pipeline.job import with_partition_key  # noqa: F401

    orphan.write.mode("append").partitionBy("run_id").parquet(str(out / "extracted"))

    raw = spark.read.parquet(str(out / "extracted"))
    assert raw.count() == 50
    visible = read_committed(spark, str(out / "extracted"), str(out / "lineage"))
    assert visible.count() == n_committed
    assert visible.filter(F.col("run_id") == "crashed-run").count() == 0


def test_mega_document_isolated_and_extracted(spark):
    """A multi-megabyte document mixed with small ones extracts without
    destabilizing the job."""
    from swift_readability_spark.corpus.synth import synth_doc_html
    from swift_readability_spark.pipeline.job import DOCUMENTS_SCHEMA, plan_extraction
    from swift_readability_spark.spans.codec import html_to_spans
    import random

    rng = random.Random(99)
    big_html = synth_doc_html(rng, n_paragraphs=11000, n_media=100)
    assert len(big_html) > 5_000_000
    big_spans = html_to_spans(big_html, "http://fakehost/syn/mega.html")
    small = [
        (f"small-{i}", [{"kind": "text", "text": "<html><body><p>" + "text here, words. " * 100 + "</p></body></html>", "media_ref": None, "offset": 0}])
        for i in range(20)
    ]
    df = spark.createDataFrame(small + [("mega", big_spans)], DOCUMENTS_SCHEMA)
    rows = plan_extraction(
        df, "http://fakehost/test/page.html", "mega", n_partitions=4
    ).collect()
    by_id = {r["doc_id"]: r for r in rows}
    assert by_id["mega"]["error"] is None
    assert by_id["mega"]["text_length"] > 1_000_000
    assert all(by_id[f"small-{i}"]["error"] is None for i in range(20))


def test_arrow_input_batches_close_at_the_byte_cap(spark):
    """Spark closes every ``mapInArrow`` input batch at
    ``arrow.maxBytesPerBatch`` however many records
    ``maxRecordsPerBatch`` allows: that cap bounds a batch of
    mega-docs."""
    from swift_readability_spark.pipeline.session import map_batches

    def batch_rows(batch):
        # one row per input batch, holding its record count
        return {"n": [batch.num_rows]}

    key = "spark.sql.execution.arrow.maxBytesPerBatch"
    old = spark.conf.get(key, None)
    spark.conf.set(key, str(1 << 20))
    try:
        rows = spark.range(0, 40, numPartitions=1).select(
            F.repeat(F.lit("x"), 300_000).alias("text")
        )
        sizes = [r["n"] for r in map_batches(rows, batch_rows, "n bigint").collect()]
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)
    assert sum(sizes) == 40
    # 300 KB rows under a 1 MiB cap: a batch closes once its 4th row
    # crosses the cap
    assert max(sizes) <= 4


def test_pathologically_deep_document_contained():
    """A 5000-deep nested document must produce a row (error or empty),
    never an uncaught RecursionError."""
    deep = "<html><body>" + "<div>" * 5000 + "text" + "</div>" * 5000 + "</body></html>"
    spans = [{"kind": "text", "text": deep, "media_ref": None, "offset": 0}]
    result = extract_document("deep", spans, "http://fakehost/x")
    assert result["doc_id"] == "deep"
    assert result["error"] is None or "Error" in result["error"] or "error" in result["error"]


def test_pathologically_wide_document_is_linear():
    """Tens of thousands of siblings under one parent: sibling walks
    must be O(1) per step (verified index hints), not O(width) — a
    30k-paragraph flat body took 31s before the fix, 1.2s after.
    Bound generous for shared-host noise but far below quadratic."""
    import time

    html = (
        "<html><body>"
        + "".join(f"<p>paragraph {i} with some words.</p>" for i in range(30000))
        + "</body></html>"
    )
    spans = [{"kind": "text", "text": html, "media_ref": None, "offset": 0}]
    t0 = time.monotonic()
    result = extract_document("wide", spans, "http://fakehost/x")
    elapsed = time.monotonic() - t0
    assert result["error"] is None
    assert result["text_length"] > 500_000
    assert elapsed < 10.0, f"wide-doc extraction took {elapsed:.1f}s (quadratic?)"
