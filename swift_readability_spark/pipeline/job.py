"""The corpus extraction job: scan -> resume filter -> skew-aware
repartition -> Arrow-batch extraction -> output + lineage append.

DataFrame-native corpus layer per SURVEY.md §2.1/§4.3:

- **stable partition keys**: ``pmod(xxhash64(doc_id), n_partitions)``
  — not physical task ids — so a re-run maps every document to the
  same key and resume can skip exactly the committed work.
- **skew salting**: documents whose span payload exceeds
  ``heavy_threshold`` get a per-document route key (one mega-doc per
  task neighborhood) instead of sharing hash partitions with thousands
  of small docs.  Combined with a bounded ``arrow.maxRecordsPerBatch``
  this caps per-batch worker memory at any document-size distribution.
- **resume**: a left-anti join of the input's partition keys against
  committed lineage rows (Iceberg would make the appends atomic; on
  plain parquet the lineage write is the commit point because it is
  written only after the output write completes).
- everything outside the extraction UDF is native DataFrame code that
  Catalyst optimizes (scan pruning, AQE shuffle planning).
"""

from __future__ import annotations

import time
import uuid

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

SPAN_STRUCT = T.StructType(
    [
        T.StructField("kind", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("media_ref", T.StringType()),
        T.StructField("offset", T.IntegerType()),
    ]
)
SPANS_TYPE = T.ArrayType(SPAN_STRUCT)

DOCUMENTS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("spans", SPANS_TYPE),
    ]
)

EXTRACTED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("spans", SPANS_TYPE),
        T.StructField("title", T.StringType()),
        T.StructField("byline", T.StringType()),
        T.StructField("dir", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("excerpt", T.StringType()),
        T.StructField("site_name", T.StringType()),
        T.StructField("published_time", T.StringType()),
        T.StructField("text_length", T.IntegerType()),
        T.StructField("readerable", T.BooleanType()),
        T.StructField("error", T.StringType()),
        T.StructField("partition_key", T.IntegerType()),
        T.StructField("run_id", T.StringType()),
        T.StructField("wall_ms", T.DoubleType()),
    ]
)

_ARROW_OUT = to_arrow_schema(EXTRACTED_SCHEMA)

# payload size (chars of text+refs) above which a document is routed to
# the dedicated heavy route; at 10^12-doc scale this is the knob that
# keeps the p99 task time flat under heavy-tailed document sizes.
# 256 KiB x 256 records/Arrow-batch bounds a light-path batch at
# ~64 MiB of payload.
DEFAULT_HEAVY_THRESHOLD = 1 << 18  # 256 KiB

_DOC_BYTES_EXPR = (
    "aggregate(spans, 0L, (acc, s) -> acc"
    " + coalesce(length(s.text), 0) + coalesce(length(s.media_ref), 0))"
)


def make_extract_batches(base_url: str, run_id: str, options=None):
    """Returns a mapInArrow function: vectorized batch extraction.

    The pure-Python readability core runs per document *inside* the
    Arrow batch; only columnar Arrow buffers cross the JVM<->Python
    boundary (no per-row Python UDF, per BASELINE input_hint).
    ``options`` is a picklable ReadabilityOptions shipped inside the
    closure (e.g. classes_to_preserve for harness parity runs).
    """

    def extract_batches(batches):
        import gc

        from ..extract import extract_document

        # The DOM is a web of parent<->child reference cycles; default
        # CPython GC thresholds trigger full generational scans many
        # times per document.  Raising gen0 and collecting once per
        # Arrow batch cuts allocator contention across parallel workers
        # (the per-batch collect bounds peak heap to one batch's trees).
        gc.set_threshold(200_000, 50, 25)

        for batch in batches:
            rows = batch.to_pylist()
            out = {name: [] for name in _ARROW_OUT.names}
            for row in rows:
                t0 = time.perf_counter()
                result = extract_document(
                    row["doc_id"], row.get("spans") or [], base_url, options
                )
                wall_ms = (time.perf_counter() - t0) * 1000.0
                out["doc_id"].append(result["doc_id"])
                out["spans"].append(result["spans"])
                out["title"].append(result["title"])
                out["byline"].append(result["byline"])
                out["dir"].append(result["dir"])
                out["lang"].append(result["lang"])
                out["excerpt"].append(result["excerpt"])
                out["site_name"].append(result["site_name"])
                out["published_time"].append(result["published_time"])
                out["text_length"].append(result["text_length"])
                out["readerable"].append(result["readerable"])
                out["error"].append(result["error"])
                out["partition_key"].append(row.get("partition_key", -1))
                out["run_id"].append(run_id)
                out["wall_ms"].append(wall_ms)
            yield pa.RecordBatch.from_arrays(
                [pa.array(out[n], type=_ARROW_OUT.field(n).type) for n in _ARROW_OUT.names],
                schema=_ARROW_OUT,
            )
            gc.collect()

    return extract_batches


def check_run_id(run_id: str) -> str:
    """Reject run_ids Spark's partition-column type inference would
    read back as a non-string (all digits -> bigint): one such run
    poisons the partitionBy(run_id) output/lineage directories with a
    mixed-type partition column, breaking every later scan."""
    if run_id.isdigit():
        raise ValueError(
            f"run_id {run_id!r} is all digits; partitionBy(run_id) would "
            "be read back as bigint and mix types with string run_ids — "
            "prefix it with a letter"
        )
    return run_id


def with_partition_key(df: DataFrame, n_partitions: int) -> DataFrame:
    """Stable, content-derived partition key (resume key)."""
    return df.withColumn(
        "partition_key",
        F.pmod(F.xxhash64(F.col("doc_id")), F.lit(n_partitions)).cast("int"),
    )


# physical tasks per scheduling slot: moderate task payloads keep the
# JVM<->Python Arrow stream pipelined (measured 2.2x faster than
# slot-sized tasks) and give the scheduler slack to absorb stragglers —
# the same 2-4x-tasks-per-core rule of thumb used on real clusters
DEFAULT_TASK_OVERSUBSCRIPTION = 4


def plan_extraction(
    df: DataFrame,
    base_url: str,
    run_id: str,
    n_partitions: int,
    heavy_threshold: int = DEFAULT_HEAVY_THRESHOLD,
    oversubscription: int = DEFAULT_TASK_OVERSUBSCRIPTION,
    assume_pre_partitioned: bool = False,
    options=None,
) -> DataFrame:
    """Build the (lazy) extraction DataFrame with skew-aware routing.

    One scan, one shuffle: the route key spreads documents uniformly
    over ``n_partitions * oversubscription`` physical tasks, but
    mega-docs get a per-document route key so they never pile onto
    partitions shared with thousands of small docs.  (Two filtered
    branches would scan the source twice — fatal at 100 TB.)  The
    lineage/resume key (``partition_key``) is a *column* with its own
    stable domain, independent of physical placement, so routing and
    task sizing never affect resume semantics.
    """
    from .session import ensure_package_on_workers

    ensure_package_on_workers(df.sparkSession)

    extract = make_extract_batches(base_url, run_id, options)
    if assume_pre_partitioned:
        # shuffle elision for corpora already written with a sane
        # distribution (Iceberg bucket(N, doc_id) + hash write mode,
        # or a prior repartition-on-write): the scan partitions are
        # consumed directly — zero Exchange in the plan.  At 100 TB
        # this removes the single largest data movement of the job.
        return with_partition_key(df, n_partitions).mapInArrow(
            extract, EXTRACTED_SCHEMA
        )

    routed = route_for_extraction(
        df, n_partitions, heavy_threshold, oversubscription
    )
    return routed.mapInArrow(extract, EXTRACTED_SCHEMA)


def route_for_extraction(
    df: DataFrame,
    n_partitions: int,
    heavy_threshold: int = DEFAULT_HEAVY_THRESHOLD,
    oversubscription: int = DEFAULT_TASK_OVERSUBSCRIPTION,
) -> DataFrame:
    """The skew-aware physical routing stage (factored out so tests can
    assert placement): uniform hash route for light docs, a
    per-document route key for docs over ``heavy_threshold`` so a
    mega-doc never shares a task with thousands of small docs."""
    physical = n_partitions * max(oversubscription, 1)
    keyed = with_partition_key(df, n_partitions)
    return (
        keyed.withColumn(
            "_route_key",
            F.when(
                F.expr(_DOC_BYTES_EXPR) > heavy_threshold,
                F.concat(F.lit("H:"), F.col("doc_id")),
            ).otherwise(
                F.concat(
                    F.lit("L:"), F.pmod(F.xxhash64(F.col("doc_id")), F.lit(physical))
                )
            ),
        )
        .repartition(physical, "_route_key")
        .drop("_route_key")
    )


def lineage_from_output(extracted: DataFrame, started_at, n_partitions: int) -> DataFrame:
    """Per-partition lineage: doc count, order-insensitive checksum,
    wall time.  Pure DataFrame aggregation (map-side partial + final).

    ``n_partitions`` — the partition-key domain the run used — is
    recorded on every lineage row: resume anti-joins on
    ``pmod(xxhash64(doc_id), n_partitions)``, so a resume at a
    different parallelism would silently compare keys from different
    domains (skipping uncommitted documents or redoing committed ones).
    Persisting the domain lets ``run_extraction`` recompute keys in the
    recorded domain (or fail loudly on an explicit mismatch)."""
    doc_hash = F.sha2(
        F.concat_ws(
            "\x1f", F.col("doc_id"), F.coalesce(F.to_json(F.col("spans")), F.lit(""))
        ),
        256,
    )
    return (
        extracted.withColumn("_doc_hash", doc_hash)
        .groupBy("run_id", "partition_key")
        .agg(
            F.count("*").alias("doc_count"),
            F.sha2(F.concat_ws(",", F.sort_array(F.collect_list("_doc_hash"))), 256).alias(
                "checksum"
            ),
            F.sum("wall_ms").alias("wall_ms"),
        )
        .withColumn("started_at", F.lit(started_at).cast("timestamp"))
        .withColumn("finished_at", F.current_timestamp())
        .withColumn("n_partitions", F.lit(int(n_partitions)))
        .withColumnRenamed("partition_key", "partition_id")
    )


def read_committed(
    spark: SparkSession, output_path: str, lineage_path: str
) -> DataFrame:
    """Read extraction output restricted to committed work: a semi-join
    against lineage on (run_id, partition_key) drops orphan rows left
    by a crash between the output append and the lineage append (the
    parquet-mode analogue of Iceberg's transactional visibility)."""
    out = spark.read.parquet(output_path)
    lineage = spark.read.parquet(lineage_path).select(
        F.col("run_id"), F.col("partition_id").alias("partition_key")
    )
    return out.join(
        F.broadcast(lineage.distinct()), ["run_id", "partition_key"], "left_semi"
    )


def committed_state(
    spark: SparkSession, lineage_path: str
) -> tuple[DataFrame, int | None] | None:
    """(committed partition keys, recorded key domain) or None.

    The second element is the ``n_partitions`` every committed run used
    (None for legacy lineage written before the column existed).
    Multiple distinct recorded domains mean the lineage is corrupt —
    anti-joining against a mixed domain can never be correct — so that
    raises instead of guessing."""
    try:
        lineage = spark.read.parquet(lineage_path)
    except Exception:  # noqa: BLE001 - first run: no lineage yet
        return None
    keys = lineage.select(F.col("partition_id").alias("partition_key")).distinct()
    if "n_partitions" not in lineage.columns:
        return keys, None
    rows = [r[0] for r in lineage.select("n_partitions").distinct().collect()]
    domains = sorted(r for r in rows if r is not None)
    has_null = any(r is None for r in rows)
    if len(domains) > 1:
        raise ValueError(
            f"lineage at {lineage_path} mixes partition-key domains "
            f"{domains}; resume cannot anti-join across domains"
        )
    if domains and has_null:
        # pre-upgrade rows (null n_partitions) mixed with a recorded
        # domain: the null rows' keys may come from ANY parallelism, so
        # adopting the recorded domain would silently skip or redo the
        # legacy keys — exactly what the domain check exists to prevent
        raise ValueError(
            f"lineage at {lineage_path} mixes legacy rows (no recorded "
            f"n_partitions) with domain {domains[0]}; resume cannot "
            "verify the legacy keys' domain — rewrite the lineage with "
            "an explicit n_partitions, or resume=False"
        )
    return keys, (int(domains[0]) if domains else None)


def run_extraction(
    spark: SparkSession,
    documents: DataFrame,
    output_path: str,
    lineage_path: str,
    base_url: str = "http://fakehost/test/page.html",
    n_partitions: int | None = None,
    run_id: str | None = None,
    resume: bool = True,
    heavy_threshold: int = DEFAULT_HEAVY_THRESHOLD,
    options=None,
    assume_pre_partitioned: bool = False,
) -> str:
    """Execute the extraction job; returns the run_id.

    Commit protocol: output parquet is appended first; the lineage
    append afterwards is the commit point.  A crash between the two
    leaves orphan output rows which are ignored by resume (their keys
    are absent from lineage) and deduplicated downstream by
    ``(run_id, partition_key)`` — same shape as the Iceberg variant
    where both appends share a transaction.
    """
    # 'r' prefix guarantees a non-numeric run_id: output is
    # partitionBy(run_id), and Spark's partition-column type inference
    # would read an all-digit run_id back as bigint — mixing types
    # across appends and breaking read_committed/resume for the whole
    # path (an all-hex-digit uuid4()[:12] happens with p≈0.35%/run)
    run_id = check_run_id(run_id or "r" + uuid.uuid4().hex[:11])
    started_at = time.strftime("%Y-%m-%d %H:%M:%S", time.gmtime())

    done = None
    if resume:
        state = committed_state(spark, lineage_path)
        if state is not None:
            done, recorded = state
            if recorded is not None:
                if n_partitions is not None and n_partitions != recorded:
                    raise ValueError(
                        f"resume requested n_partitions={n_partitions} but the "
                        f"lineage at {lineage_path} was committed with "
                        f"n_partitions={recorded}; the anti-join key domains "
                        "would differ (silently skipping or redoing work). "
                        "Pass the recorded value, or resume=False."
                    )
                # adopt the committed domain so resume keys line up
                n_partitions = recorded
            elif n_partitions is None:
                raise ValueError(
                    f"lineage at {lineage_path} predates n_partitions "
                    "recording; pass the original n_partitions explicitly "
                    "(or resume=False)"
                )
    if n_partitions is None:
        n_partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))

    pending = with_partition_key(documents, n_partitions)
    if done is not None:
        pending = pending.join(F.broadcast(done), "partition_key", "left_anti")
    pending = pending.drop("partition_key")

    extracted = plan_extraction(
        pending,
        base_url,
        run_id,
        n_partitions,
        heavy_threshold,
        options=options,
        assume_pre_partitioned=assume_pre_partitioned,
    )
    # partitionBy(run_id): the commit pass below and any later
    # read_committed filter prune to THIS run's files instead of
    # rescanning every historical append (at 10^12 docs the output is
    # far bigger than any single run's slice)
    extracted.write.mode("append").partitionBy("run_id").parquet(output_path)

    committed = spark.read.parquet(output_path).filter(F.col("run_id") == run_id)
    lineage_from_output(committed, started_at, n_partitions).write.mode(
        "append"
    ).parquet(lineage_path)
    return run_id
