"""Corpus I/O: the bucketed-corpus writer and the multi-format
documents reader.

Output and lineage are plain parquet appends; the semantics relied
upon — append-only output, lineage-as-commit-point — are the ones an
Iceberg table would make transactional (see ``job.run_extraction``'s
commit-protocol note for the parquet caveat).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed_corpus(
    df: DataFrame, table: str, n_buckets: int = 1024
) -> None:
    """Persist a corpus as a bucketed table (plain Spark datasource
    bucketing — no Iceberg jars needed): ``bucketBy(N, doc_id)`` writes
    each bucket as its own file set and records the layout in the
    catalog, so every later scan reports
    ``HashPartitioning(doc_id, N)`` and Catalyst elides the Exchange
    for any doc_id-keyed aggregation or join over it — the plan effect
    of an Iceberg ``bucket(N, doc_id)`` layout (tests/test_bucketed.py
    asserts zero Exchange)."""
    (
        df.repartition(n_buckets, "doc_id")
        .write.mode("overwrite")
        .bucketBy(n_buckets, "doc_id")
        .sortBy("doc_id")
        .format("parquet")
        .saveAsTable(table)
    )


_FORMAT_BY_EXT = {
    ".parquet": "parquet",
    ".json": "json",
    ".jsonl": "json",
    ".ndjson": "json",
    ".csv": "csv",
    ".orc": "orc",
}


def read_documents(
    spark: SparkSession,
    path: str,
    schema: str | None = None,
    fmt: str | None = None,
) -> DataFrame:
    """Read a documents table from any of the common lake formats.

    ``fmt`` (parquet/json/csv/orc) wins when given — the common lake
    layout is a *directory* of .json/.csv part files whose path carries
    no extension, so extension sniffing alone would misread it as
    parquet; sniffing is only the fallback for unset ``fmt``.  CSV
    reads with a header; JSON is line-delimited.  Passing an explicit
    ``schema`` string avoids the inference scan — at 100 TB schema
    inference is a full extra pass, so production callers should
    always pass it."""
    import os

    if fmt is None:
        ext = os.path.splitext(path.rstrip("/"))[1].lower()
        fmt = _FORMAT_BY_EXT.get(ext, "parquet")
    elif fmt not in set(_FORMAT_BY_EXT.values()):
        raise ValueError(
            f"unsupported input format {fmt!r}; expected one of "
            f"{sorted(set(_FORMAT_BY_EXT.values()))}"
        )
    reader = spark.read
    if schema:
        reader = reader.schema(schema)
    if fmt == "csv":
        reader = reader.option("header", "true").option(
            "inferSchema", "false" if schema else "true"
        )
    return reader.format(fmt).load(path)
