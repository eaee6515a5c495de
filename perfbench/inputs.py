"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of ``(sizes, seed)`` and writes
parquet files only; the program under test receives nothing but those
files.  The generators that need no Spark session are cached per
(workload, scale, seed) under the checkout's ``.perfbench/cache``
directory, which holds at most ``CACHE_KEEP`` entries.
"""

from __future__ import annotations

import datetime as dt
import shutil
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CACHE_KEEP = 6

# The operators' `documents` table is closed-vocabulary filler: 10-99
# words drawn uniformly from these 30, no sentence breaks, and one row
# in 20 a copy of another row's text with " dup" appended.
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = np.array(["en", "de", "fr", "es", "zh"])
_LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
_SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
_PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
_EPOCH = dt.datetime(1995, 1, 1)


def cached(cache_root: Path, key: str, build) -> Path:
    """Directory for ``key``, built by ``build(tmp_dir)`` on a miss.

    The build writes into a temporary sibling that is renamed into
    place, so an interrupted build never leaves a half-written entry."""
    cache_root.mkdir(parents=True, exist_ok=True)
    final = cache_root / key
    if (final / "_DONE").exists():
        final.touch()
        return final
    tmp = cache_root / f".{key}.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(final, ignore_errors=True)
    tmp.mkdir()
    build(tmp)
    (tmp / "_DONE").touch()
    tmp.rename(final)
    entries = sorted(
        (p for p in cache_root.iterdir() if not p.name.startswith(".")),
        key=lambda p: p.stat().st_mtime,
    )
    for old in entries[:-CACHE_KEEP]:
        shutil.rmtree(old, ignore_errors=True)
    return final


def _cents(rng, lo: int, hi: int, n: int) -> np.ndarray:
    """Exact 2-dp decimals stored as their nearest doubles."""
    return rng.integers(lo, hi + 1, n) / 100.0


def _timestamps(days: np.ndarray) -> pa.Array:
    base = np.datetime64(_EPOCH, "us")
    return pa.array(base + days.astype("timedelta64[D]"), type=pa.timestamp("us"))


def documents_table(n_docs: int, seed: int) -> pa.Table:
    """(doc_id, text, lang, source, n_chars) with distinct bigint ids,
    drawn from the same distributions as the operators' sf tables."""
    rng = np.random.default_rng([seed, 1])
    n_words = rng.integers(10, 100, n_docs)
    words = rng.integers(0, len(_VOCAB), int(n_words.sum()))
    bounds = np.concatenate([[0], np.cumsum(n_words)])
    texts = [
        " ".join(_VOCAB[w] for w in words[bounds[i] : bounds[i + 1]])
        for i in range(n_docs)
    ]
    dups = rng.choice(n_docs, n_docs // 20, replace=False)
    for i, j in zip(dups, rng.integers(0, n_docs, len(dups))):
        texts[i] = texts[j] + " dup"
    return pa.table(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(_LANGS, n_docs, p=_LANG_P),
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def relational_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """customer / orders / lineitem / embeddings with the operators' sf
    table sizes (150k customers, 1.5M orders, 6M lineitems per unit of
    ``sf``; at least 500 vectors) and their independent uniform columns,
    restricted to the columns the headline queries read plus the keys.
    Money columns are exact 2-dp decimals."""
    rng = np.random.default_rng([seed, 2])
    n_c = max(int(150_000 * sf), 10)
    n_o = max(int(1_500_000 * sf), 10)
    n_l = max(int(6_000_000 * sf), 10)
    n_e = max(int(20_000 * sf), 500)
    customer = pa.table(
        {
            "c_custkey": np.arange(n_c, dtype=np.int64),
            "c_name": [f"Customer#{k:09d}" for k in range(n_c)],
            "c_nationkey": rng.integers(0, 25, n_c).astype(np.int32),
            "c_acctbal": _cents(rng, -99_999, 999_999, n_c),
            "c_mktsegment": rng.choice(_SEGMENTS, n_c),
        }
    )
    orders = pa.table(
        {
            "o_orderkey": np.arange(n_o, dtype=np.int64),
            "o_custkey": rng.integers(0, n_c, n_o).astype(np.int64),
            "o_orderstatus": rng.choice(np.array(["F", "O", "P"]), n_o),
            "o_totalprice": _cents(rng, 100_000, 49_999_999, n_o),
            "o_orderdate": _timestamps(rng.integers(0, 2404, n_o)),  # .. 2001-08-01
            "o_orderpriority": rng.choice(_PRIORITIES, n_o),
        }
    )
    lineitem = pa.table(
        {
            "l_orderkey": rng.integers(0, n_o, n_l).astype(np.int64),
            "l_partkey": rng.integers(0, max(int(200_000 * sf), 10), n_l).astype(np.int64),
            "l_suppkey": rng.integers(0, max(int(10_000 * sf), 10), n_l).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n_l).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_l).astype(np.float64),
            "l_extendedprice": _cents(rng, 90_000, 10_499_999, n_l),
            "l_discount": _cents(rng, 0, 10, n_l),
            "l_tax": _cents(rng, 0, 8, n_l),
            "l_returnflag": rng.choice(np.array(["A", "N", "R"]), n_l),
            "l_linestatus": rng.choice(np.array(["F", "O"]), n_l),
            "l_shipdate": _timestamps(rng.integers(1, 2500, n_l)),  # .. 2001-11-04
        }
    )
    dim = 64
    emb = rng.normal(0.0, 0.125, (n_e, dim)).astype(np.float32)
    embeddings = pa.table(
        {
            "vec_id": np.arange(n_e, dtype=np.int64),
            "embedding": pa.ListArray.from_arrays(
                pa.array(np.arange(0, n_e * dim + 1, dim, dtype=np.int32)),
                pa.array(emb.ravel()),
            ),
            "label": rng.integers(0, 10, n_e).astype(np.int32),
        }
    )
    return {
        "customer": customer,
        "orders": orders,
        "lineitem": lineitem,
        "embeddings": embeddings,
    }


def write_operator_tables(out: Path, sf: float, seed: int) -> None:
    """The five tables the headline queries read, sized by ``sf``."""
    pq.write_table(documents_table(max(int(50_000 * sf), 500), seed), out / "documents.parquet")
    for name, table in relational_tables(sf, seed).items():
        pq.write_table(table, out / f"{name}.parquet")


def write_documents(out: Path, n_docs: int, seed: int) -> None:
    """The ``documents`` table alone, for the interleaved pages."""
    pq.write_table(documents_table(n_docs, seed), out / "documents.parquet")


def write_pages(spark, sf_dir: Path, path: Path, n_partitions: int) -> None:
    """Materialize the program's interleaved-spans pages for the
    ``documents`` table under ``sf_dir`` (one HTML page per row, every
    third page with a media span) at ``path``."""
    from swift_readability_spark.operators.extraction import interleaved_documents

    interleaved_documents(spark, str(sf_dir), partitions=n_partitions).write.parquet(str(path))


def write_synth_pages(out: Path, n_docs: int, seed: int, mega_every: int) -> None:
    """``corpus.synth`` article pages (every ``mega_every``-th a ~1 MB
    mega-doc) as ``pages.parquet``.  The seed picks the content; the
    ``doc_id``s are ``syn-<i>`` for every seed, because the extraction
    route places documents by a hash of their id, and a seed that moved
    the mega-docs onto other tasks would change the run's slowest task.
    Runs in a child process so the generator's Python heap never counts
    toward the benchmark's RSS; the call returns after the child has
    exited and leaves no helper process behind."""
    import subprocess
    import sys

    subprocess.run(
        [sys.executable, __file__, str(out / "pages.parquet"), str(n_docs), str(seed),
         str(mega_every)],
        check=True,
    )


def _synth_child(path: str, n_docs: int, seed: int, mega_every: int) -> None:
    import sys

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
    from swift_readability_spark.corpus.synth import (
        synth_documents,
        write_documents_parquet,
    )

    rows = synth_documents(n_docs, seed=seed, mega_every=mega_every)
    write_documents_parquet([(f"syn-{i}", spans) for i, (_, spans) in enumerate(rows)], path)


if __name__ == "__main__":
    import sys

    _synth_child(sys.argv[1], int(sys.argv[2]), int(sys.argv[3]), int(sys.argv[4]))
