"""Spark-level pipeline tests: extraction job, lineage, resume, skew
routing.  Uses the deterministic synthetic corpus (conftest)."""

import pyspark.sql.functions as F
import pytest

from swift_readability_spark.corpus.synth import FIXTURES_DIR
from swift_readability_spark.pipeline.job import (
    lineage_from_output,
    run_extraction,
    with_partition_key,
)

N_PARTITIONS = 8
MEGA_DOC = "syn-42-39"  # conftest.corpus_dir: the one mega-doc
# one fixture page when the reference corpus is present, else a small
# synthetic doc, plus the first synthetic doc and the mega-doc
SAMPLE_IDS = ("001" if FIXTURES_DIR.is_dir() else "syn-42-1", "syn-42-0", MEGA_DOC)


@pytest.fixture(scope="module")
def extracted(spark, corpus_dir, tmp_path_factory):
    from swift_readability_spark.core.readability import ReadabilityOptions

    out = tmp_path_factory.mktemp("run")
    docs = spark.read.parquet(corpus_dir + "/documents.parquet")
    run_id = run_extraction(
        spark,
        docs,
        str(out / "extracted"),
        str(out / "lineage"),
        n_partitions=N_PARTITIONS,
        # the reference harness preserves the caption class
        # (ReadabilityTests.swift:23)
        options=ReadabilityOptions(classes_to_preserve=("caption",)),
    )
    return {
        "run_id": run_id,
        "out": str(out),
        "df": spark.read.parquet(str(out / "extracted")),
        "lineage": spark.read.parquet(str(out / "lineage")),
    }


def test_every_document_extracted(spark, corpus_dir, extracted):
    docs = spark.read.parquet(corpus_dir + "/documents.parquet")
    assert extracted["df"].count() == docs.count()
    assert extracted["df"].select("doc_id").distinct().count() == docs.count()


def test_no_unexpected_errors(extracted):
    errors = extracted["df"].filter(F.col("error").isNotNull()).count()
    assert errors == 0


def test_spark_matches_pure_python(spark, corpus_dir, extracted):
    """The distributed result per document equals the single-process
    core (determinism across the Arrow boundary)."""
    from swift_readability_spark.extract import extract_document

    rows = extracted["df"].filter(F.col("doc_id").isin(*SAMPLE_IDS)).collect()
    docs = {
        r["doc_id"]: r["spans"]
        for r in spark.read.parquet(corpus_dir + "/documents.parquet")
        .filter(F.col("doc_id").isin(*SAMPLE_IDS))
        .collect()
    }
    assert len(rows) == 3
    for row in rows:
        local = extract_document(
            row["doc_id"],
            [s.asDict() for s in docs[row["doc_id"]]],
            "http://fakehost/test/page.html",
        )
        got = [(s["kind"], s["text"], s["media_ref"]) for s in local["spans"]]
        want = [(s["kind"], s["text"], s["media_ref"]) for s in row["spans"]]
        assert got == want
        assert local["title"] == row["title"]


@pytest.mark.skipif(
    not FIXTURES_DIR.is_dir(),
    reason=f"reference fixture corpus not present at {FIXTURES_DIR}",
)
def test_fixture_parity_through_spark(spark, corpus_dir, extracted):
    """Golden-span equality for ALL 130 fixtures that went through the
    full distributed path (the same gate as the pure-Python suite, but
    across the Arrow boundary and the shuffle)."""
    from swift_readability_spark.spans.compare import compare_spans

    got = {
        r["doc_id"]: r["spans"]
        for r in extracted["df"].filter(~F.col("doc_id").startswith("syn-")).collect()
    }
    expected = {
        r["doc_id"]: r["spans"]
        for r in spark.read.parquet(corpus_dir + "/expected_spans.parquet").collect()
    }
    assert set(got) == set(expected)
    failures = []
    for doc_id, spans in got.items():
        mism = compare_spans(
            [s.asDict() for s in spans], [s.asDict() for s in expected[doc_id]]
        )
        if mism:
            failures.append((doc_id, mism[0][:120]))
    assert failures == [], failures[:5]


def test_lineage_covers_all_partitions(extracted):
    lineage = extracted["lineage"]
    assert lineage.agg(F.sum("doc_count")).collect()[0][0] == extracted["df"].count()
    keys = {r["partition_id"] for r in lineage.collect()}
    assert keys <= set(range(N_PARTITIONS))


def test_partition_key_stability(spark, corpus_dir):
    docs = spark.read.parquet(corpus_dir + "/documents.parquet")
    a = {r["doc_id"]: r["partition_key"] for r in with_partition_key(docs, 8).collect()}
    b = {r["doc_id"]: r["partition_key"] for r in with_partition_key(docs, 8).collect()}
    assert a == b


def test_checksum_deterministic(spark, extracted):
    l1 = lineage_from_output(extracted["df"], "2026-01-01 00:00:00", N_PARTITIONS)
    l2 = lineage_from_output(extracted["df"], "2026-01-01 00:00:00", N_PARTITIONS)
    c1 = {r["partition_id"]: r["checksum"] for r in l1.collect()}
    c2 = {r["partition_id"]: r["checksum"] for r in l2.collect()}
    assert c1 == c2


def test_lineage_records_key_domain(extracted):
    domains = {r["n_partitions"] for r in extracted["lineage"].collect()}
    assert domains == {N_PARTITIONS}


def test_output_is_partitioned_by_run_id(spark, extracted):
    """partitionBy(run_id): the commit/read-back filter prunes to one
    run's files instead of rescanning all historical output."""
    import os

    subdirs = [
        d
        for d in os.listdir(extracted["out"] + "/extracted")
        if d.startswith("run_id=")
    ]
    assert subdirs == [f"run_id={extracted['run_id']}"]
    plan = (
        spark.read.parquet(extracted["out"] + "/extracted")
        .filter(F.col("run_id") == extracted["run_id"])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters: [" in plan and "run_id" in plan.split(
        "PartitionFilters:"
    )[1].split("]")[0]


def test_resume_skips_committed_and_completes(spark, corpus_dir, tmp_path_factory):
    """Crash-resume semantics: a run that only committed some partition
    keys is completed by a second run, and the union equals a
    single-shot run (no duplicates, no gaps)."""
    out = tmp_path_factory.mktemp("resume")
    docs = spark.read.parquet(corpus_dir + "/documents.parquet")
    keyed = with_partition_key(docs, N_PARTITIONS)

    # simulate a run that died after committing keys {0..3}
    partial = keyed.filter(F.col("partition_key") < 4).drop("partition_key")
    run_extraction(
        spark,
        partial,
        str(out / "extracted"),
        str(out / "lineage"),
        n_partitions=N_PARTITIONS,
    )
    committed_before = spark.read.parquet(str(out / "extracted")).count()
    assert 0 < committed_before < docs.count()

    # resume over the FULL input: only uncommitted keys are processed
    run_extraction(
        spark,
        docs,
        str(out / "extracted"),
        str(out / "lineage"),
        n_partitions=N_PARTITIONS,
    )
    final = spark.read.parquet(str(out / "extracted"))
    assert final.count() == docs.count()
    assert final.select("doc_id").distinct().count() == docs.count()

    # third run: everything committed -> nothing new
    run_extraction(
        spark,
        docs,
        str(out / "extracted"),
        str(out / "lineage"),
        n_partitions=N_PARTITIONS,
    )
    assert spark.read.parquet(str(out / "extracted")).count() == docs.count()


def test_resume_rejects_mismatched_key_domain(spark, corpus_dir, tmp_path_factory):
    """Resuming with a different n_partitions must fail loudly: the
    anti-join would compare keys from different pmod domains and
    silently skip or redo documents."""
    out = tmp_path_factory.mktemp("mismatch")
    docs = spark.read.parquet(corpus_dir + "/documents.parquet").limit(5)
    run_extraction(
        spark,
        docs,
        str(out / "extracted"),
        str(out / "lineage"),
        n_partitions=N_PARTITIONS,
    )
    with pytest.raises(ValueError, match="n_partitions"):
        run_extraction(
            spark,
            docs,
            str(out / "extracted"),
            str(out / "lineage"),
            n_partitions=N_PARTITIONS * 2,
        )
    # omitting n_partitions adopts the recorded domain: no-op rerun
    run_extraction(spark, docs, str(out / "extracted"), str(out / "lineage"))
    assert spark.read.parquet(str(out / "extracted")).count() == 5
    domains = {
        r["n_partitions"]
        for r in spark.read.parquet(str(out / "lineage")).collect()
    }
    assert domains == {N_PARTITIONS}


def test_numeric_run_id_rejected_and_generated_ids_safe():
    """partitionBy(run_id) + Spark partition-column type inference:
    an all-digit run_id reads back as bigint and poisons the output
    directory with a mixed-type partition column (ADVICE r02)."""
    import uuid as _uuid

    from swift_readability_spark.pipeline.job import check_run_id

    with pytest.raises(ValueError, match="digits"):
        check_run_id("123456789012")
    assert check_run_id("r123") == "r123"
    # the generator shape: never all-digits by construction
    assert not ("r" + _uuid.uuid4().hex[:11]).isdigit()


def test_legacy_null_domain_rows_mixed_with_recorded_domain_raise(
    spark, tmp_path_factory
):
    """Lineage mixing pre-upgrade rows (null n_partitions) with a
    recorded domain must fail resume loudly: the legacy keys' domain
    is unverifiable, so adopting the recorded one could silently skip
    or redo work (ADVICE r02)."""
    from swift_readability_spark.pipeline.job import committed_state

    out = tmp_path_factory.mktemp("nulldomain")
    lineage = str(out / "lineage")
    schema = (
        "run_id string, partition_id int, doc_count long, checksum string,"
        " wall_ms double, started_at timestamp, finished_at timestamp,"
        " n_partitions int"
    )
    rows = [
        ("r-old", 0, 3, "x", 1.0, None, None, None),  # legacy: null domain
        ("r-new", 1, 3, "y", 1.0, None, None, 8),
    ]
    spark.createDataFrame(rows, schema).write.parquet(lineage)
    with pytest.raises(ValueError, match="legacy"):
        committed_state(spark, lineage)


def test_mega_doc_flows_through_heavy_path(spark, corpus_dir, extracted):
    """The synthetic mega-doc is present and non-trivially extracted."""
    mega = extracted["df"].filter(F.col("doc_id") == MEGA_DOC).collect()
    assert len(mega) == 1
    assert mega[0]["text_length"] > 100_000


def test_pre_partitioned_mode_elides_shuffle(spark, corpus_dir):
    """assume_pre_partitioned consumes scan partitions directly:
    no Exchange in the physical plan, identical results."""
    from swift_readability_spark.pipeline.job import plan_extraction

    docs = spark.read.parquet(corpus_dir + "/documents.parquet").filter(
        F.col("doc_id").startswith("syn-")
    )
    default = plan_extraction(docs, "http://fakehost/test/page.html", "r", 4)
    elided = plan_extraction(
        docs, "http://fakehost/test/page.html", "r", 4, assume_pre_partitioned=True
    )
    plan = elided._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    a = {(r["doc_id"], r["title"], r["text_length"]) for r in default.collect()}
    b = {(r["doc_id"], r["title"], r["text_length"]) for r in elided.collect()}
    assert a == b


def test_run_extraction_pre_partitioned_end_to_end(spark, corpus_dir, tmp_path_factory):
    """The shuffle-elision flag through the FULL job (not just
    plan_extraction): same rows as the shuffled route, lineage
    committed, resume no-op on rerun."""
    out = tmp_path_factory.mktemp("prepart")
    docs = (
        spark.read.parquet(corpus_dir + "/documents.parquet")
        .filter(F.col("doc_id").startswith("syn-"))
        .repartition(4, "doc_id")
    )
    run_extraction(
        spark,
        docs,
        str(out / "extracted"),
        str(out / "lineage"),
        n_partitions=N_PARTITIONS,
        assume_pre_partitioned=True,
    )
    got = spark.read.parquet(str(out / "extracted"))
    assert got.count() == docs.count()
    assert got.filter(F.col("error").isNotNull()).count() == 0
    # rerun resumes to a no-op
    run_extraction(
        spark,
        docs,
        str(out / "extracted"),
        str(out / "lineage"),
        assume_pre_partitioned=True,
    )
    assert spark.read.parquet(str(out / "extracted")).count() == docs.count()
