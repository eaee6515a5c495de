"""Spark-level pipeline tests: extraction job, lineage, resume, skew
routing.  Uses the deterministic synthetic corpus (conftest)."""

import pyspark.sql.functions as F
import pytest

from swift_readability_spark.corpus.synth import FIXTURES_DIR
from swift_readability_spark.pipeline.job import (
    DOCUMENTS_SCHEMA,
    SPANS_TYPE,
    lineage_from_output,
    read_committed,
    run_extraction,
    with_partition_key,
)

N_PARTITIONS = 8
MEGA_DOC = "syn-42-39"  # conftest.corpus_dir: the one mega-doc
# one fixture page when the reference corpus is present, else a small
# synthetic doc, plus the first synthetic doc and the mega-doc
SAMPLE_IDS = ("001" if FIXTURES_DIR.is_dir() else "syn-42-1", "syn-42-0", MEGA_DOC)
PLAIN_PAGE = "<html><body><p>" + "plain words here. " * 40 + "</p></body></html>"


def _plain_docs(spark, doc_ids):
    """One small readerable page per id."""
    span = {"kind": "text", "text": PLAIN_PAGE, "media_ref": None, "offset": 0}
    return spark.createDataFrame([(i, [span]) for i in doc_ids], DOCUMENTS_SCHEMA)


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
    # partition_key and run_id are computed on the JVM side, after the
    # Arrow stage: every row has its doc_id's resume key and this run id
    want_key = F.pmod(F.xxhash64("doc_id"), F.lit(N_PARTITIONS)).cast("int")
    wrong = extracted["df"].filter(
        ~F.col("partition_key").eqNullSafe(want_key)
        | ~F.col("run_id").eqNullSafe(F.lit(extracted["run_id"]))
    )
    assert wrong.count() == 0


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


def _checksums(df):
    lineage = lineage_from_output(df, "2026-01-01 00:00:00", N_PARTITIONS)
    return {r["partition_id"]: r["checksum"] for r in lineage.collect()}


def test_checksum_ignores_row_order_and_sees_span_text(spark, extracted):
    df = extracted["df"]
    base = _checksums(df)
    # the definition: hex of the sums of the high (signed) and low
    # (unsigned) 32-bit halves of xxhash64(doc_id, spans), per key
    sums = {}
    for r in df.select("partition_key", F.xxhash64("doc_id", "spans").alias("h")).collect():
        hi, lo = sums.get(r["partition_key"], (0, 0))
        sums[r["partition_key"]] = (hi + (r["h"] >> 32), lo + (r["h"] & 0xFFFFFFFF))
    mask = (1 << 64) - 1
    assert base == {k: f"{hi & mask:016x}{lo & mask:016x}" for k, (hi, lo) in sums.items()}
    assert _checksums(df.repartition(7).sortWithinPartitions(F.rand(1))) == base
    # one document's span text changes: its key's checksum, and only
    # that one, changes
    edited = F.transform("spans", lambda s: s.withField("text", F.concat(s["text"], F.lit("!"))))
    target = F.col("doc_id") == SAMPLE_IDS[1]
    changed = _checksums(df.withColumn("spans", F.when(target, edited).otherwise(F.col("spans"))))
    [key] = [r["partition_key"] for r in df.filter(target).collect()]
    assert changed[key] != base[key]
    assert {k: v for k, v in changed.items() if k != key} == {
        k: v for k, v in base.items() if k != key
    }


def test_lineage_aggregate_holds_constant_state_per_key(spark):
    """The commit pass is one codegen hash aggregate: no per-document
    hash string, no collected array per key.  200k documents under one
    partition key aggregate to one row."""
    n = 200_000
    span = F.struct(
        F.lit("text").alias("kind"),
        F.col("id").cast("string").alias("text"),
        F.lit(None).cast("string").alias("media_ref"),
        F.lit(0).alias("offset"),
    )
    docs = spark.range(n).select(
        F.concat(F.lit("doc-"), F.col("id").cast("string")).alias("doc_id"),
        F.array(span).cast(SPANS_TYPE).alias("spans"),
        F.lit(3).alias("partition_key"),
        F.lit("rbig").alias("run_id"),
        F.lit(1.0).alias("wall_ms"),
    )
    lineage = lineage_from_output(docs, "2026-01-01 00:00:00", N_PARTITIONS)
    plan = lineage._jdf.queryExecution().executedPlan().toString()
    assert "HashAggregate" in plan
    for banned in ("ObjectHashAggregate", "SortAggregate", "collect_list", "to_json", "sha2"):
        assert banned not in plan, banned
    [row] = lineage.collect()
    assert (row["partition_id"], row["doc_count"], row["wall_ms"]) == (3, n, float(n))
    assert len(row["checksum"]) == 32


def test_session_leaves_spark_defaults_unset(spark):
    """build_session restates no Spark default: AQE, its partition
    coalescing and skew-join splitting read Spark's own ``true``, and
    the scan split floor is Spark's ``defaultParallelism`` fallback."""
    conf = spark.sparkContext.getConf()
    for key in (
        "spark.sql.adaptive.enabled",
        "spark.sql.adaptive.coalescePartitions.enabled",
        "spark.sql.adaptive.skewJoin.enabled",
    ):
        assert not conf.contains(key), key
        assert spark.conf.get(key) == "true", key
    assert not conf.contains("spark.sql.files.minPartitionNum")
    assert spark.conf.get("spark.sql.files.minPartitionNum", None) is None


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


def test_commit_reads_only_this_runs_directory(spark, tmp_path_factory, monkeypatch):
    """The commit pass lists this run's directory only: a run_id filter
    prunes the scan, but its file index lists every earlier run's
    directory first, with a Spark job of its own past
    ``parallelPartitionDiscovery.threshold`` (32 paths).  The run id
    needs escaping in the directory name (``:`` is ``%3A``)."""
    from urllib.parse import unquote

    from swift_readability_spark.pipeline import job

    out = tmp_path_factory.mktemp("manyruns")
    paths = (str(out / "extracted"), str(out / "lineage"))
    spark.range(33).selectExpr("'x' AS doc_id", "concat('old', id) AS run_id").write.partitionBy(
        "run_id"
    ).parquet(paths[0])
    commits = []
    lineage = job.lineage_from_output
    monkeypatch.setattr(
        job, "lineage_from_output", lambda df, *a: commits.append(df) or lineage(df, *a)
    )
    run_extraction(spark, _plain_docs(spark, ["n1", "n2"]), *paths, n_partitions=2, run_id="new:1")
    files = [unquote(f) for f in commits[0].inputFiles()]  # file URIs
    assert files and all("/run_id=new%3A1/" in f for f in files), files
    rows = spark.read.parquet(paths[1]).collect()
    assert {r["run_id"] for r in rows} == {"new:1"} and sum(r["doc_count"] for r in rows) == 2


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


_SAFE_RUN_IDS = ["r123", "stream-0", "r1e5", "e5", "Inf", "NaNs", "Infinity-0", "d2024-01-01"]
_TYPED_RUN_IDS = ["-3", "1.5", "1e5", "2024-01-01", "NaN", "Infinity"]


def test_run_id_check_matches_partition_type_inference(spark, tmp_path):
    """Every id ``check_run_id`` accepts reads back from a schema-less
    scan of a ``partitionBy(run_id)`` directory as a string; every id
    Spark infers as another type (int, double, decimal, date) raises."""
    from pyspark.sql.types import StringType

    from swift_readability_spark.pipeline.job import check_run_id

    ids = _SAFE_RUN_IDS + _TYPED_RUN_IDS
    rows = [(k, run_id, 0) for k, run_id in enumerate(ids)]
    spark.createDataFrame(rows, "k int, run_id string, x int").write.partitionBy(
        "k", "run_id"
    ).parquet(str(tmp_path / "t"))

    def inferred(k):
        # one id per directory: a mixed directory would widen to string
        return spark.read.parquet(str(tmp_path / "t" / f"k={k}")).schema["run_id"].dataType

    for k, run_id in enumerate(ids):
        if run_id in _SAFE_RUN_IDS:
            assert check_run_id(run_id) == run_id
            assert inferred(k) == StringType(), run_id
        else:
            assert inferred(k) != StringType(), run_id
            with pytest.raises(ValueError, match="start it with a letter"):
                check_run_id(run_id)


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


def test_legacy_lineage_without_domain_column(spark, tmp_path_factory):
    """Lineage written before n_partitions was recorded reads back with
    a null domain, so resume needs the original n_partitions passed
    explicitly."""
    from swift_readability_spark.pipeline.job import committed_state

    out = tmp_path_factory.mktemp("legacy")
    lineage = str(out / "lineage")
    spark.createDataFrame(
        [("r-old", 2, 3, "x", 1.0, None, None)],
        "run_id string, partition_id int, doc_count long, checksum string,"
        " wall_ms double, started_at timestamp, finished_at timestamp",
    ).write.parquet(lineage)
    keys, domain = committed_state(spark, lineage)
    assert domain is None
    assert [r["partition_key"] for r in keys.collect()] == [2]
    with pytest.raises(ValueError, match="predates"):
        run_extraction(
            spark, spark.createDataFrame([], DOCUMENTS_SCHEMA), str(out / "extracted"), lineage
        )


def test_input_without_spans_fails_before_any_commit(spark, tmp_path_factory):
    """A (doc_id, html) frame carries no spans to extract: the job fails
    at plan time and writes no lineage, instead of committing every
    document as an empty 'no_article' extraction that resume would then
    skip for good."""
    from pyspark.errors import AnalysisException

    out = tmp_path_factory.mktemp("nospans")
    docs = spark.createDataFrame([("d1", PLAIN_PAGE)], "doc_id string, html string")
    with pytest.raises(AnalysisException, match="spans"):
        run_extraction(
            spark, docs, str(out / "extracted"), str(out / "lineage"), n_partitions=2
        )
    assert not (out / "lineage").exists()


@pytest.mark.parametrize(
    "line",
    [
        '{"id": "j1", "html": "<p>x</p>"}',  # neither doc_id nor spans
        '{"doc_id": "j1", "spans": "[]"}',  # spans a string
        '{"doc_id": "j1", "spans": [{"kind": "text", "text": "x", "offset": 1.5}]}',
    ],
    ids=["no_keys", "spans_string", "offset_float"],
)
def test_malformed_json_fails_before_any_commit(spark, tmp_path_factory, line):
    """JSON is read with the documents schema, so a file that does not
    fit it reads as ``(doc_id, spans)`` and passes the plan-time check.
    It must still fail the run, not commit its documents as empty
    extractions that resume would then skip for good."""
    from swift_readability_spark.pipeline.io import read_documents

    out = tmp_path_factory.mktemp("badjson")
    (out / "docs.jsonl").write_text(line + "\n")
    docs = read_documents(spark, str(out / "docs.jsonl"))
    with pytest.raises(Exception, match="JSON document without doc_id|MALFORMED_RECORD"):
        run_extraction(spark, docs, str(out / "extracted"), str(out / "lineage"), n_partitions=2)
    assert not (out / "lineage").exists()
    assert not list((out / "extracted").rglob("*.parquet"))


def test_csv_documents_fail_before_any_job(spark, tmp_path_factory):
    """CSV cannot carry the nested ``spans``: ``read_documents`` rejects
    a ``.csv`` path and ``fmt="csv"`` before Spark touches the input, so
    no job runs and nothing is written."""
    from swift_readability_spark.pipeline.io import read_documents

    out = tmp_path_factory.mktemp("csvdocs")
    (out / "docs.csv").write_text('doc_id,spans\nc1,"[]"\n')
    sc = spark.sparkContext
    sc.setJobGroup("csv-docs", "reader format check")
    try:
        for path, fmt in ((str(out / "docs.csv"), None), (str(out), "csv")):
            with pytest.raises(ValueError, match=r"'csv'.*\['json', 'orc', 'parquet'\]"):
                docs = read_documents(spark, path, fmt=fmt)
                run_extraction(
                    spark, docs, str(out / "extracted"), str(out / "lineage"), n_partitions=2
                )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("csv-docs") == []
    assert not (out / "extracted").exists() and not (out / "lineage").exists()


def test_non_string_doc_id_fails_at_plan_time(spark, tmp_path):
    """JSON inference reads numeric ids as bigint, which the Arrow
    kernel's string output column cannot hold.  ``read_documents`` reads
    parquet with its own types, so a mistyped file meets the same check."""
    from swift_readability_spark.pipeline.io import read_documents
    from swift_readability_spark.pipeline.job import plan_extraction

    docs = _plain_docs(spark, ["1", "2"]).selectExpr("CAST(doc_id AS BIGINT) AS doc_id", "spans")
    docs.write.parquet(str(tmp_path / "docs.parquet"))
    for df in (docs, read_documents(spark, str(tmp_path / "docs.parquet"))):
        with pytest.raises(ValueError, match="doc_id has type bigint"):
            plan_extraction(df, "http://fakehost/x.html", "r", 2)


def test_json_round_trip_extracts(spark, corpus_dir, tmp_path_factory):
    """JSON documents extract as the parquet input does, read through
    ``read_documents`` (the documents schema) or by inference, which
    orders the span fields alphabetically, reads ``offset`` as bigint
    and drops a field null in every row (no ``media_ref`` on a
    text-only corpus): the plan-time check accepts all of it."""
    from swift_readability_spark.pipeline.io import read_documents
    from swift_readability_spark.pipeline.job import plan_extraction

    out = tmp_path_factory.mktemp("jsondocs")
    syn = spark.read.parquet(corpus_dir + "/documents.parquet").filter(
        F.col("doc_id").startswith("syn-") & (F.col("doc_id") != MEGA_DOC)
    )
    for name, docs, fields in (
        ("syn", syn, "kind:string,media_ref:string,offset:bigint,text:string"),
        ("plain", _plain_docs(spark, ["p1", "p2"]), "kind:string,offset:bigint,text:string"),
    ):
        path = str(out / f"{name}.jsonl")
        docs.write.json(path)
        got = read_documents(spark, path)
        assert got.schema == DOCUMENTS_SCHEMA
        inferred = spark.read.json(path)
        assert inferred.schema["spans"].dataType.simpleString() == f"array<struct<{fields}>>"

        def rows(df):
            plan = plan_extraction(df, "http://fakehost/test/page.html", "r", 2)
            return sorted(plan.select("doc_id", "spans", "text_length", "error").collect())

        want = rows(docs)
        assert want and all(r["error"] is None for r in want)
        assert rows(got) == want
        assert rows(inferred) == want


def test_numeric_json_ids_extract(spark, tmp_path_factory):
    """JSON numbers as ids arrive as their JSON text, so a numeric-id
    corpus extracts instead of failing the plan-time ``doc_id`` check
    (inference reads ``123`` as bigint and ``4.5e1`` as double)."""
    import json

    from swift_readability_spark.pipeline.io import read_documents

    out = tmp_path_factory.mktemp("numericids")
    span = {"kind": "text", "text": PLAIN_PAGE, "offset": 0}
    lines = [f'{{"doc_id": {i}, "spans": [{json.dumps(span)}]}}' for i in ("123", "4.5e1")]
    (out / "docs.jsonl").write_text("\n".join(lines) + "\n")
    paths = (str(out / "extracted"), str(out / "lineage"))
    run_extraction(spark, read_documents(spark, str(out / "docs.jsonl")), *paths, n_partitions=2)
    rows = read_committed(spark, *paths).select("doc_id", "error", "text_length").collect()
    assert sorted((r["doc_id"], r["error"]) for r in rows) == [("123", None), ("4.5e1", None)]
    assert all(r["text_length"] > 0 for r in rows)


def test_run_extraction_defaults_to_default_parallelism(spark, tmp_path_factory):
    """Without n_partitions (and no lineage to adopt a domain from) the
    resume-key domain is the session's defaultParallelism: one
    extraction task per slot, whatever spark.sql.shuffle.partitions is."""
    out = tmp_path_factory.mktemp("default_domain")
    docs = _plain_docs(spark, [f"d{i}" for i in range(6)])
    run_extraction(spark, docs, str(out / "extracted"), str(out / "lineage"))
    lineage = spark.read.parquet(str(out / "lineage")).collect()
    assert {r["n_partitions"] for r in lineage} == {spark.sparkContext.defaultParallelism}


def test_lineage_started_at_is_an_instant_in_any_session_time_zone(
    spark, tmp_path_factory
):
    """started_at and finished_at are the same clock in a non-UTC
    session: a UTC wall-clock string read in America/Los_Angeles would
    land hours after finished_at."""
    out = tmp_path_factory.mktemp("tz")
    docs = _plain_docs(spark, ["tz-1", "tz-2"])
    key = "spark.sql.session.timeZone"
    before = spark.conf.get(key)
    spark.conf.set(key, "America/Los_Angeles")
    try:
        run_extraction(
            spark, docs, str(out / "extracted"), str(out / "lineage"), n_partitions=2
        )
        elapsed = [
            r[0]
            for r in spark.read.parquet(str(out / "lineage"))
            .select(F.unix_micros("finished_at") - F.unix_micros("started_at"))
            .collect()
        ]
    finally:
        spark.conf.set(key, before)
    assert elapsed
    assert all(0 <= us < 600 * 10**6 for us in elapsed), elapsed


def test_empty_first_run_then_rerun_without_n_partitions(spark, tmp_path_factory):
    """A run over zero documents commits nothing: neither the commit
    read nor ``read_committed`` may fail for want of a parquet footer to
    infer a schema from, and a rerun without n_partitions must not ask
    for the key domain of a lineage that holds no rows."""
    from swift_readability_spark.pipeline.job import LINEAGE_SCHEMA

    out = tmp_path_factory.mktemp("empty")
    paths = (str(out / "extracted"), str(out / "lineage"))
    run_extraction(spark, spark.createDataFrame([], DOCUMENTS_SCHEMA), *paths)
    assert read_committed(spark, *paths).count() == 0
    run_extraction(spark, _plain_docs(spark, ["one"]), *paths)
    assert read_committed(spark, *paths).count() == 1
    rows = spark.read.parquet(paths[0]).collect()
    assert [(r["doc_id"], r["error"]) for r in rows] == [("one", None)]
    # the schema committed_state reads lineage with is what the job writes
    lineage = spark.read.parquet(paths[1])
    assert lineage.count() == 1
    assert [(f.name, f.dataType) for f in lineage.schema] == [
        (f.name, f.dataType) for f in LINEAGE_SCHEMA
    ]


def test_mega_doc_flows_through_heavy_path(spark, corpus_dir, extracted):
    """The synthetic mega-doc is present and non-trivially extracted."""
    mega = extracted["df"].filter(F.col("doc_id") == MEGA_DOC).collect()
    assert len(mega) == 1
    assert mega[0]["text_length"] > 100_000
