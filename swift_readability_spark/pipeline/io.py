"""Corpus I/O: the bucketed-corpus writer and the documents reader.

Output and lineage are plain parquet appends; the semantics relied
upon — append-only output, lineage-as-commit-point — are the ones an
Iceberg table would make transactional (see ``job.run_extraction``'s
commit-protocol note for the parquet caveat).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .job import DOCUMENTS_SCHEMA


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
    ".orc": "orc",
}
_FORMATS = sorted(set(_FORMAT_BY_EXT.values()))


def read_documents(spark: SparkSession, path: str, fmt: str | None = None) -> DataFrame:
    """Read a ``(doc_id, spans)`` documents table.

    ``fmt`` (parquet/json/orc) wins when given — the common lake
    layout is a *directory* of part files whose path carries no
    extension, so extension sniffing alone would misread it as
    parquet; sniffing is only the fallback for unset ``fmt``, and a
    path with any other extension (``corpus-2024.10``) reads as
    parquet.  A ``.csv`` path or any other ``fmt``, CSV included (it
    cannot carry the nested ``spans``), raises before Spark touches
    the path.

    Parquet and ORC carry their own types and are read as they are;
    ``plan_extraction`` rejects a mistyped file at plan time.  JSON is
    line-delimited and read with :data:`DOCUMENTS_SCHEMA`: no inference
    scan, and a numeric id arrives as its JSON text (``123`` as
    ``'123'``, ``4.5e1`` as ``'4.5e1'``).  A fixed schema hides a bad
    JSON file from the plan-time check, so the read fails in the first
    task that meets one instead, before anything is committed: a value
    of the wrong type fails the parse (``FAILFAST``), and a document
    without ``doc_id`` or ``spans`` fails its row."""
    if fmt is None:
        ext = os.path.splitext(path.rstrip("/"))[1].lower()
        fmt = _FORMAT_BY_EXT.get(ext, "csv" if ext == ".csv" else "parquet")
    if fmt not in _FORMATS:
        raise ValueError(
            f"unsupported input format {fmt!r} for {path}; expected one of {_FORMATS}"
        )
    if fmt == "json":
        docs = spark.read.schema(DOCUMENTS_SCHEMA).option("mode", "FAILFAST").json(path)
        return docs.select(
            *(
                F.coalesce(c, F.raise_error(F.lit(f"JSON document without {c} in {path}"))).alias(c)
                for c in DOCUMENTS_SCHEMA.names
            )
        )
    return spark.read.format(fmt).load(path)
