"""The spark-submit entry point (``run_job.py``) runs the package's own
session: its resume-key domain is the launcher's parallelism, and a
rerun into the same paths resumes to a no-op."""

import os
import subprocess
import sys
from pathlib import Path

import pyarrow.parquet as pq
import pyspark

from swift_readability_spark.corpus.synth import build_corpus

REPO = Path(__file__).resolve().parent.parent
SPARK_SUBMIT = Path(pyspark.__file__).parent / "bin" / "spark-submit"


def _submit(*args):
    out = subprocess.run(
        [str(SPARK_SUBMIT), "--master", "local[2]", str(REPO / "run_job.py"), *args],
        capture_output=True,
        text=True,
        timeout=600,
        env=dict(
            os.environ,
            PYSPARK_PYTHON=sys.executable,
            PYSPARK_DRIVER_PYTHON=sys.executable,
        ),
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert "run_id=" in out.stdout, out.stdout[-2000:]


def test_spark_submit_records_launcher_parallelism_and_resumes(tmp_path):
    docs = build_corpus(str(tmp_path / "corpus"), n_synth=12, include_fixtures=False)
    output, lineage = tmp_path / "out", tmp_path / "lineage"
    args = ("--input", docs, "--output", str(output), "--lineage", str(lineage))
    _submit(*args)
    lin = pq.read_table(lineage).to_pylist()
    assert lin and {r["n_partitions"] for r in lin} == {2}
    assert len(list(output.glob("run_id=*/part-*"))) <= 2
    assert pq.read_table(output).num_rows == 12
    _submit(*args)
    assert pq.read_table(output).num_rows == 12
    assert pq.read_table(lineage).num_rows == len(lin)


def test_streaming_rejects_non_parquet_input_before_spark(tmp_path):
    """The stream reads parquet only: another --input-format is a usage
    error (exit 2) raised before any session starts."""
    out = subprocess.run(
        [
            sys.executable,
            str(REPO / "run_job.py"),
            "--streaming",
            "--input-format",
            "json",
            "--input",
            str(tmp_path / "docs.jsonl"),
            "--output",
            str(tmp_path / "out"),
            "--lineage",
            str(tmp_path / "lineage"),
        ],
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert out.returncode == 2, out.stderr[-2000:]
    assert "--streaming reads parquet input only" in out.stderr
    assert "SparkContext" not in out.stderr


def test_streaming_names_runs_after_run_id(tmp_path):
    """--run-id reaches the stream: micro-batch k commits as
    ``<run-id>-<k>``."""
    docs = build_corpus(str(tmp_path / "corpus"), n_synth=6, include_fixtures=False)
    lineage = tmp_path / "lineage"
    _submit(
        "--streaming",
        "--run-id",
        "nightly",
        "--input",
        docs,
        "--output",
        str(tmp_path / "out"),
        "--lineage",
        str(lineage),
    )
    assert {r["run_id"] for r in pq.read_table(lineage).to_pylist()} == {"nightly-0"}
