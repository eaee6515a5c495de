"""The worker hook: ``install_zip_reread_guard`` keeps
``importlib.invalidate_caches()`` from re-reading unchanged zip archives
(pyspark's worker calls it at the start of every task), every Python
stage the package creates runs with the guard installed, and the
package zip shipped to the workers does not outlive the driver."""

import importlib
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport
from pathlib import Path

import pytest

from swift_readability_spark.pipeline import session
from swift_readability_spark.pipeline.session import (
    install_zip_reread_guard,
    map_batches,
)


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name in modules:
            zf.writestr(f"{name}.py", f"NAME = {name!r}\n")


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    """An archive holding ``m_a`` on sys.path, imported once; yields the
    archive path and a list that counts its directory reads.  The
    zipimporter method, sys.path and the import caches are restored
    afterwards."""
    archive = tmp_path / "mods.zip"
    _write_zip(archive, ["m_a"])
    monkeypatch.syspath_prepend(str(archive))
    monkeypatch.setattr(
        zipimport.zipimporter,
        "invalidate_caches",
        zipimport.zipimporter.invalidate_caches,
    )
    importlib.import_module("m_a")
    reads = []
    real = zipimport._read_directory

    def counting(path):
        if path == str(archive):
            reads.append(path)
        return real(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    yield archive, reads
    for name in ("m_a", "m_b"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(str(archive), None)
    zipimport._zip_directory_cache.pop(str(archive), None)


def test_unguarded_invalidate_rereads(zip_on_path):
    _, reads = zip_on_path
    importlib.invalidate_caches()
    assert len(reads) == 1


def test_unchanged_archive_is_not_reread(zip_on_path):
    _, reads = zip_on_path
    install_zip_reread_guard()
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads == []


def test_rewritten_archive_is_reread_once(zip_on_path):
    archive, reads = zip_on_path
    install_zip_reread_guard()
    _write_zip(archive, ["m_a", "m_b"])
    importlib.invalidate_caches()
    assert len(reads) == 1
    assert importlib.import_module("m_b").NAME == "m_b"
    importlib.invalidate_caches()
    assert len(reads) == 1


def test_missing_archive_is_reread(zip_on_path):
    archive, reads = zip_on_path
    install_zip_reread_guard()
    archive.unlink()
    importlib.invalidate_caches()
    assert len(reads) == 1


def test_install_wraps_once(zip_on_path):
    install_zip_reread_guard()
    guarded = zipimport.zipimporter.invalidate_caches
    install_zip_reread_guard()
    assert zipimport.zipimporter.invalidate_caches is guarded
    assert guarded.zip_reread_guard


def test_one_mapinarrow_call_site():
    """Every Python stage the package creates goes through the one
    batch driver, ``map_batches``: it is the only ``mapInArrow`` call,
    no module calls ``mapInPandas``, and only the driver loops over
    batches or builds an output batch (``RecordBatch.from_arrays`` /
    ``from_pylist`` / ``from_pydict``)."""
    import ast

    pkg = Path(session.__file__).resolve().parent.parent
    sites = {"mapInArrow": [], "mapInPandas": [], "RecordBatch": [], "for batch": []}
    for p in sorted(pkg.rglob("*.py")):
        path = str(p.relative_to(pkg))
        for node in ast.walk(ast.parse(p.read_text())):
            if isinstance(node, ast.For) and getattr(node.target, "id", None) == "batch":
                sites["for batch"].append(path)
            if not (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)):
                continue
            attr, owner = node.func.attr, node.func.value
            if attr in ("mapInArrow", "mapInPandas"):
                sites[attr].append(path)
            elif (
                attr in ("from_arrays", "from_pylist", "from_pydict")
                and getattr(owner, "attr", getattr(owner, "id", None)) == "RecordBatch"
            ):
                sites["RecordBatch"].append(path)
    assert sites == {
        "mapInArrow": ["pipeline/session.py"],
        "mapInPandas": [],
        "RecordBatch": ["pipeline/session.py"],
        "for batch": ["pipeline/session.py"],
    }
    assert not hasattr(session, "map_arrow") and not hasattr(session, "on_worker")


def test_workers_run_with_guard(spark):
    from swift_readability_spark.operators.kernels import map_docs
    from swift_readability_spark.pipeline.job import DOCUMENTS_SCHEMA, plan_extraction

    html = "<html><body><p>" + "a few plain words. " * 30 + "</p></body></html>"
    rows = [
        (f"d{i}", [{"kind": "text", "text": html, "media_ref": None, "offset": 0}])
        for i in range(40)
    ]
    corpus = spark.createDataFrame(rows, DOCUMENTS_SCHEMA).repartition(4)

    def n_chars(ids, texts):
        return {"n": [len(t) for t in texts]}

    texts = corpus.selectExpr("doc_id", "spans[0].text AS text")
    counted = map_docs(spark, texts, n_chars, "n bigint").collect()
    assert sorted(r["n"] for r in counted) == [len(html)] * 40
    extracted = plan_extraction(corpus, "http://example.com/", "rhook", 2).collect()
    assert len(extracted) == 40 and not any(r["error"] for r in extracted)

    def probe(batch):
        """Report, from inside the worker, whether the guard is installed,
        how many zip directories ``invalidate_caches`` re-reads and how
        many objects the worker heap has frozen, with the worker's pid
        and the time."""
        import gc
        import importlib
        import os
        import sys
        import time
        import zipimport

        real = zipimport._read_directory
        reads = []

        def counting(path):
            reads.append(path)
            return real(path)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        zips = sum(
            isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values()
        )
        guarded = bool(
            getattr(zipimport.zipimporter.invalidate_caches, "zip_reread_guard", False)
        )
        n = batch.num_rows
        return {
            "guarded": [guarded] * n,
            "zips": [zips] * n,
            "rereads": [len(reads)] * n,
            "frozen": [gc.get_freeze_count()] * n,
            "pid": [os.getpid()] * n,
            "t": [time.monotonic_ns()] * n,
        }

    # one row, so one batch, per task: a few workers run them in turn
    n_tasks = 64
    probed = map_batches(
        spark.range(0, n_tasks, numPartitions=n_tasks),
        probe,
        "guarded boolean, zips bigint, rereads bigint, frozen bigint, pid bigint, t bigint",
    ).collect()
    assert len(probed) == n_tasks
    assert all(r["guarded"] for r in probed)
    assert all(r["zips"] > 0 for r in probed)
    assert [r["rereads"] for r in probed] == [0] * n_tasks
    assert all(r["frozen"] > 0 for r in probed)
    # the frozen heap plateaus in a reused worker: a task leaves no
    # cycles behind in it (the first pa.array imports pandas, which
    # the second task's freeze takes in; from the third task on it is
    # flat)
    by_pid = {}
    for r in sorted(probed, key=lambda r: r["t"]):
        by_pid.setdefault(r["pid"], []).append(r["frozen"])
    reused = [counts for counts in by_pid.values() if len(counts) >= 8]
    assert reused, {pid: len(c) for pid, c in by_pid.items()}
    for counts in reused:
        assert abs(counts[-1] - counts[2]) <= 0.05 * counts[2], counts


def test_package_zip_removed_at_driver_exit(tmp_path):
    """A driver that ships the package and exits leaves no package zip
    in its temp dir."""
    script = textwrap.dedent(
        """
        import glob, os, sys, tempfile
        sys.path.insert(0, sys.argv[1])
        from swift_readability_spark.pipeline.session import build_session, map_batches

        def identity(batch):
            return {}

        spark = build_session(master="local[1]", shuffle_partitions=1)
        print(map_batches(spark.range(4), identity, "id long").count())
        pattern = os.path.join(tempfile.gettempdir(), "swift_readability_spark_pkg_*.zip")
        print(len(glob.glob(pattern)))
        spark.stop()
        """
    )
    repo = Path(__file__).resolve().parent.parent
    out = subprocess.run(
        [sys.executable, "-c", script, str(repo)],
        capture_output=True,
        text=True,
        timeout=300,
        env=dict(os.environ, TMPDIR=str(tmp_path)),
    )
    assert out.returncode == 0, out.stderr[-2000:]
    # the job ran with one zip shipped from tmp_path ...
    assert out.stdout.split()[-2:] == ["4", "1"]
    # ... and the driver's exit removed it
    assert list(tmp_path.glob("swift_readability_spark_pkg_*.zip")) == []
