"""SparkSession builder tuned for the extraction workload.

Scale design (targets a 1000-executor cluster even though tests run on
local[N]).  No conf is set to the value Spark already defaults to:

- Arrow exchange on with a bounded records-per-batch; Spark also
  closes every Arrow input batch at ``arrow.maxBytesPerBatch`` (64 MiB
  by default), so a batch of big documents holds only a few of them.
- shuffle.partitions sized by caller (cores at local scale; thousands
  at cluster scale), else the started session's ``defaultParallelism``.
- session time zone UTC.

The master is the caller's, else the launcher's: ``spark-submit
--master``, or pyspark's own ``local[*]`` under plain ``python``.

What it leaves to Spark: AQE (post-shuffle coalescing and skew-join
splitting are on by default), the scan split size (maxPartitionBytes
128 MB, floored by ``defaultParallelism`` splits: scan tasks stay
executor-memory-sized at any corpus size).

The package's Python stages all enter the executors through
:func:`map_batches`, which ships the package, installs
:func:`install_zip_reread_guard` in each task before the stage's
per-batch function runs, and assembles every output batch.
"""

from __future__ import annotations

import atexit
import os

from pyspark.sql import SparkSession

# Records per Arrow batch crossing the JVM<->Python boundary.  Too
# small and per-batch round-trip overhead dominates (64 measured ~3x
# slower than 512 on the extraction stage); too large and a batch of
# big documents blows worker memory.  Re-tuned in round 2 after the
# core got ~1.5x faster per doc (transfer overhead became a larger
# share): 512 measured +7% over 256 at sf0.1/local[32], 1024 only +1%
# more.  Batch memory is bounded by bytes, not by this count: Spark
# closes every mapInArrow input batch at
# spark.sql.execution.arrow.maxBytesPerBatch (64 MiB by default), so a
# batch of ~1 MB mega-docs holds about 64 rows, not 512.
ARROW_MAX_RECORDS_PER_BATCH = 512


def ensure_package_on_workers(spark: SparkSession) -> None:
    """Make ``swift_readability_spark`` importable in executor Python
    workers regardless of the driver's cwd/PYTHONPATH: zip the package
    once and ship it via addPyFile (the programmatic equivalent of
    ``spark-submit --py-files``).  Idempotent per session.  Spark serves
    the zip to executors for the session's whole life, so it is removed
    when the driver process exits."""
    marker = "swift_readability_spark.workers_ready"
    try:
        if spark.conf.get(marker, None) == "1":
            return
    except Exception:  # noqa: BLE001
        pass
    import tempfile
    import zipfile
    from pathlib import Path

    pkg_dir = Path(__file__).resolve().parent.parent
    # rebuild per session (cheap, ~40 files): a cached zip would ship
    # stale code to workers after the package changes on disk
    fd, zip_name = tempfile.mkstemp(
        prefix="swift_readability_spark_pkg_", suffix=".zip"
    )
    os.close(fd)
    atexit.register(Path(zip_name).unlink, missing_ok=True)
    with zipfile.ZipFile(zip_name, "w") as zf:
        for py in sorted(pkg_dir.rglob("*.py")):
            zf.write(py, py.relative_to(pkg_dir.parent))
    spark.sparkContext.addPyFile(zip_name)
    spark.conf.set(marker, "1")


def install_zip_reread_guard() -> None:
    """Stop ``importlib.invalidate_caches()`` from re-reading unchanged
    zip archives in this process.

    pyspark's worker calls ``importlib.invalidate_caches()`` at the start
    of every task, and CPython 3.11's ``zipimporter.invalidate_caches``
    re-reads the archive's whole zip directory in pure Python each time.
    A worker holds a dozen importers on ``pyspark.zip`` (~1.3k entries)
    and two on the Spark core jar (~5.4k), so every task paid
    0.15-0.22 s before it saw its first batch.

    The guard re-reads an archive only when its ``(st_mtime_ns,
    st_size)`` differs from the last read or ``stat`` fails; otherwise
    the importer keeps the directory already in zipimport's cache.  The
    archives cached when the guard goes in count as read at that moment
    (in a worker, the task's own ``invalidate_caches`` has just read
    them).  A rewritten archive is still re-read, and a newly added one
    still gets a fresh zipimporter.  Idempotent: it wraps once per
    process."""
    import zipimport

    reread = zipimport.zipimporter.invalidate_caches
    if getattr(reread, "zip_reread_guard", False):
        return

    def stamp(archive):
        try:
            st = os.stat(archive)
        except OSError:
            return None
        return st.st_mtime_ns, st.st_size

    stamps = {a: stamp(a) for a in list(zipimport._zip_directory_cache)}

    def invalidate_caches(self):
        now = stamp(self.archive)
        files = zipimport._zip_directory_cache.get(self.archive)
        if now is not None and now == stamps.get(self.archive) and files is not None:
            self._files = files
            return
        reread(self)
        stamps[self.archive] = now

    invalidate_caches.zip_reread_guard = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches


def map_batches(df, fn, schema):
    """``df.mapInArrow`` over the per-batch function ``fn``: the one way
    the package's Python stages enter the executors.

    Ships the package to the executor Python workers and, once per
    task, installs :func:`install_zip_reread_guard` before ``fn`` sees
    a batch.  Empty input batches are skipped.  ``fn(batch)`` returns
    ``{name: values}`` for the columns of ``schema`` (a DDL string or a
    StructType), each an Arrow array, a numpy array (a masked array's
    masked slots become nulls) or a list, typed from ``schema``; a
    column ``fn`` leaves out is the input batch's column of that name.
    ``fn.__name__`` is the stage's name in the plan."""
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    ensure_package_on_workers(df.sparkSession)
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    fields = list(to_arrow_schema(schema))

    def task(batches):
        import pyarrow as pa

        install_zip_reread_guard()
        for batch in batches:
            if batch.num_rows == 0:
                continue
            cols = fn(batch)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(cols[f.name], type=f.type)
                    if f.name in cols
                    else batch.column(f.name)
                    for f in fields
                ],
                [f.name for f in fields],
            )

    task.__name__ = fn.__name__
    return df.mapInArrow(task, schema)


def build_session(
    app_name: str = "swift-readability-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    builder = SparkSession.builder.appName(app_name)
    if master is not None:
        builder = builder.master(master)
    builder = (
        builder.config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            str(ARROW_MAX_RECORDS_PER_BATCH),
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    if shuffle_partitions is None:
        # one shuffle partition per slot; on a real cluster, pass
        # ~2-3x total executor cores instead
        shuffle_partitions = spark.sparkContext.defaultParallelism
    spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    return spark
