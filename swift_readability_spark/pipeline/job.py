"""The corpus extraction job: scan -> resume filter -> hash
repartition on doc_id -> Arrow-batch extraction -> output + lineage
append.

DataFrame-native corpus layer per SURVEY.md §2.1/§4.3:

- **stable partition keys**: ``pmod(xxhash64(doc_id), n_partitions)``
  — not physical task ids — so a re-run maps every document to the
  same key and resume can skip exactly the committed work.
- **one route**: a single hash of ``doc_id`` spreads documents, mega-docs
  included, evenly over the extraction tasks.  Per-batch worker memory
  is bounded by Spark closing every Arrow input batch at
  ``arrow.maxRecordsPerBatch`` records or ``arrow.maxBytesPerBatch``
  bytes, whichever comes first, at any document-size distribution.
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
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..extract import DEFAULT_BASE_URL
from .session import map_batches

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

# one row per (run_id, partition key): what lineage_from_output writes
LINEAGE_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType()),
        T.StructField("partition_id", T.IntegerType()),
        T.StructField("doc_count", T.LongType()),
        T.StructField("checksum", T.StringType()),
        T.StructField("wall_ms", T.DoubleType()),
        T.StructField("started_at", T.TimestampType()),
        T.StructField("finished_at", T.TimestampType()),
        T.StructField("n_partitions", T.IntegerType()),
    ]
)

# the Arrow kernel's output: plan_extraction adds the rest in the JVM
_KERNEL_SCHEMA = T.StructType(
    [f for f in EXTRACTED_SCHEMA.fields if f.name not in ("partition_key", "run_id")]
)


def make_extract_batches(base_url: str, options=None):
    """Returns the extraction kernel, a :func:`map_batches` function.

    The pure-Python readability core runs per document *inside* the
    Arrow batch; only columnar Arrow buffers cross the JVM<->Python
    boundary (no per-row Python UDF, per BASELINE input_hint).
    ``options`` is a picklable ReadabilityOptions shipped inside the
    closure (e.g. classes_to_preserve for harness parity runs).
    """

    def extract_batch(batch):
        import gc

        from ..extract import extract_document

        # The DOM is a web of parent<->child reference cycles; default
        # CPython GC thresholds trigger full generational scans many
        # times per document.  Raising gen0 and collecting once per
        # Arrow batch cuts allocator contention across parallel workers
        # (the per-batch collect bounds peak heap to one batch's trees).
        gc.set_threshold(200_000, 50, 25)
        results = []
        for row in batch.to_pylist():
            t0 = time.perf_counter()
            result = extract_document(
                row["doc_id"], row["spans"] or [], base_url, options
            )
            result["wall_ms"] = (time.perf_counter() - t0) * 1000.0
            results.append(result)
        gc.collect()
        return {name: [r[name] for r in results] for name in _KERNEL_SCHEMA.names}

    return extract_batch


# what Java's number parsers trim from a string's ends
_JAVA_BLANK = "".join(map(chr, range(33)))


def check_run_id(run_id: str) -> str:
    """Reject run_ids Spark's partition-column type inference would
    read back as a non-string: one such run poisons the
    partitionBy(run_id) output/lineage directories with a mixed-type
    partition column, breaking every later scan.

    Spark tries int, bigint, decimal, double (Java's parser, which
    also reads ``NaN`` and ``Infinity``), timestamp and date before
    string.  Every form those accept starts with a digit, a sign, a dot
    or a blank, except ``NaN`` and ``Infinity``, so an id is safe when
    it starts with an ASCII letter and is neither of those two."""
    head = run_id[:1]
    special = run_id.rstrip(_JAVA_BLANK) in ("NaN", "Infinity")
    if special or not (head.isascii() and head.isalpha()):
        raise ValueError(
            f"run_id {run_id!r}: Spark reads partition values made of digits "
            "and signs, NaN and Infinity back as numbers, dates or timestamps, "
            "so partitionBy(run_id) would mix types with string run_ids — "
            "start it with a letter"
        )
    return run_id


def with_partition_key(df: DataFrame, n_partitions: int) -> DataFrame:
    """Stable, content-derived partition key (resume key)."""
    return df.withColumn(
        "partition_key",
        F.pmod(F.xxhash64(F.col("doc_id")), F.lit(n_partitions)).cast("int"),
    )


# physical extraction tasks per resume key: every task pays a fixed
# cost (task deserialization, Python stage setup, one parquet writer,
# one more file for the commit pass to read), so one task per key, and
# with n_partitions = slots one task per slot.  On a cluster,
# n_partitions >> slots already gives the scheduler small tasks to
# balance stragglers with.
DEFAULT_TASK_OVERSUBSCRIPTION = 1


def plan_extraction(
    df: DataFrame,
    base_url: str,
    run_id: str,
    n_partitions: int,
    options=None,
) -> DataFrame:
    """Build the (lazy) extraction DataFrame.

    One scan, one shuffle: :func:`route_for_extraction` hashes
    ``doc_id`` over ``n_partitions * DEFAULT_TASK_OVERSUBSCRIPTION``
    physical tasks, so documents of every size spread evenly.
    Only ``doc_id`` and ``spans`` cross the shuffle and the Arrow
    boundary; input without either column fails here, at plan time,
    instead of extracting every document as empty.
    The lineage/resume key (``partition_key``) is a *column* with its
    own stable domain, computed from ``doc_id`` after the Arrow stage,
    so routing and task sizing never affect resume semantics.

    Over a table whose scan reports ``hashpartitioning(doc_id,
    n_partitions)`` (``write_bucketed_corpus`` with as many buckets)
    Spark drops the route by itself, also behind the resume anti-join.
    A plain parquet path declares no layout: Spark packs its files into
    scan splits by size, so the route stays.
    """
    df = route_for_extraction(df.select("doc_id", "spans"), n_partitions)
    extracted = map_batches(df, make_extract_batches(base_url, options), _KERNEL_SCHEMA)
    return (
        with_partition_key(extracted, n_partitions)
        .withColumn("run_id", F.lit(run_id))
        .select(*EXTRACTED_SCHEMA.names)
    )


def route_for_extraction(df: DataFrame, n_partitions: int) -> DataFrame:
    """The physical route of the extraction stage (factored out so tests
    can assert placement): one hash of ``doc_id`` over
    ``n_partitions * DEFAULT_TASK_OVERSUBSCRIPTION`` tasks."""
    return df.repartition(n_partitions * DEFAULT_TASK_OVERSUBSCRIPTION, "doc_id")


def lineage_from_output(extracted: DataFrame, started_at, n_partitions: int) -> DataFrame:
    """Per-partition lineage: doc count, order-insensitive checksum,
    wall time.  One codegen hash aggregate (map-side partial + final)
    whose state per key is four numbers, however many documents it holds.

    ``checksum`` is the hex of two sums over the documents: of the high
    (signed) and of the low (unsigned) 32-bit half of
    ``xxhash64(doc_id, spans)``.  Sums do not depend on row order, and
    each stays exact in BIGINT up to 2^31 documents per key; beyond
    that ANSI arithmetic raises instead of wrapping.

    ``started_at`` is a timezone-aware datetime (one instant in any
    session time zone) or a timestamp string, which Spark reads in the
    session time zone.

    ``n_partitions`` — the partition-key domain the run used — is
    recorded on every lineage row: resume anti-joins on
    ``pmod(xxhash64(doc_id), n_partitions)``, so a resume at a
    different parallelism would silently compare keys from different
    domains (skipping uncommitted documents or redoing committed ones).
    Persisting the domain lets ``run_extraction`` recompute keys in the
    recorded domain (or fail loudly on an explicit mismatch)."""
    h = F.xxhash64("doc_id", "spans")
    return (
        extracted.groupBy("run_id", F.col("partition_key").alias("partition_id"))
        .agg(
            F.count("*").alias("doc_count"),
            F.sum(F.shiftright(h, 32)).alias("hi"),
            F.sum(h.bitwiseAND(0xFFFFFFFF)).alias("lo"),
            F.sum("wall_ms").alias("wall_ms"),
        )
        .select(
            "run_id",
            "partition_id",
            "doc_count",
            F.format_string("%016x%016x", "hi", "lo").alias("checksum"),
            "wall_ms",
            F.lit(started_at).cast("timestamp").alias("started_at"),
            F.current_timestamp().alias("finished_at"),
            F.lit(int(n_partitions)).alias("n_partitions"),
        )
    )


def read_committed(
    spark: SparkSession, output_path: str, lineage_path: str
) -> DataFrame:
    """Read extraction output restricted to committed work: a semi-join
    against lineage on (run_id, partition_key) drops orphan rows left
    by a crash between the output append and the lineage append (the
    parquet-mode analogue of Iceberg's transactional visibility).  Both
    paths are read with their schemas, so the paths of a run over zero
    documents read as empty instead of failing schema inference."""
    out = spark.read.schema(EXTRACTED_SCHEMA).parquet(output_path)
    lineage = spark.read.schema(LINEAGE_SCHEMA).parquet(lineage_path).select(
        F.col("run_id"), F.col("partition_id").alias("partition_key")
    )
    return out.join(
        F.broadcast(lineage.distinct()), ["run_id", "partition_key"], "left_semi"
    )


def _path_exists(spark: SparkSession, path: str) -> bool:
    """Whether ``path`` exists, asked of its Hadoop FileSystem."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()).exists(jpath)


def committed_state(
    spark: SparkSession, lineage_path: str
) -> tuple[DataFrame, int | None] | None:
    """(committed partition keys, recorded key domain), or None when
    nothing is committed: no lineage yet, or lineage of empty runs only.

    The second element is the ``n_partitions`` every committed run used
    (None for legacy lineage written before the column existed: read
    with ``LINEAGE_SCHEMA``, its rows have a null ``n_partitions``).
    Multiple distinct recorded domains mean the lineage is corrupt —
    anti-joining against a mixed domain can never be correct — so that
    raises instead of guessing."""
    if not _path_exists(spark, lineage_path):
        return None
    lineage = spark.read.schema(LINEAGE_SCHEMA).parquet(lineage_path)
    rows = [r[0] for r in lineage.select("n_partitions").distinct().collect()]
    if not rows:
        return None
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
    keys = lineage.select(F.col("partition_id").alias("partition_key")).distinct()
    return keys, (int(domains[0]) if domains else None)


def run_extraction(
    spark: SparkSession,
    documents: DataFrame,
    output_path: str,
    lineage_path: str,
    base_url: str = DEFAULT_BASE_URL,
    n_partitions: int | None = None,
    run_id: str | None = None,
    resume: bool = True,
    options=None,
) -> str:
    """Execute the extraction job; returns the run_id.

    ``n_partitions`` is the resume-key domain: the one recorded in the
    lineage when resuming, else the session's ``defaultParallelism``
    (one extraction task per slot, see
    ``DEFAULT_TASK_OVERSUBSCRIPTION``).

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
    started_at = datetime.now(timezone.utc)

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
        n_partitions = spark.sparkContext.defaultParallelism

    pending = with_partition_key(documents, n_partitions)
    if done is not None:
        pending = pending.join(F.broadcast(done), "partition_key", "left_anti")
    pending = pending.drop("partition_key")

    extracted = plan_extraction(pending, base_url, run_id, n_partitions, options)
    # partitionBy(run_id): the commit pass below and any later
    # read_committed filter prune to THIS run's files instead of
    # rescanning every historical append (at 10^12 docs the output is
    # far bigger than any single run's slice)
    extracted.write.mode("append").partitionBy("run_id").parquet(output_path)

    committed = (
        spark.read.schema(EXTRACTED_SCHEMA)
        .parquet(output_path)
        .filter(F.col("run_id") == run_id)
    )
    lineage_from_output(committed, started_at, n_partitions).write.mode(
        "append"
    ).parquet(lineage_path)
    return run_id
