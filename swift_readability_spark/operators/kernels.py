"""The Python boundary of the corpus operators: the shared per-document
primitives, the vector primitives, the one ``(doc_id, text)`` adapter,
and the one bounded driver collect.  Every kernel is a per-batch
function run by ``pipeline.session.map_batches`` (re-exported here),
which ships the package, installs the worker's zip re-read guard and
assembles the output batches.

Kernels (the word/shingle/chunk -> md5 -> integer pipelines) are
per-document independent, so each runs as one ``mapInArrow`` stage:
C-backed ``re`` tokenization, hashlib md5 and numpy batch reductions.
The JVM expression forms stay verbatim in the oracle SQL; the
interpreted-HOF md5+conv per element they pay measured 8.3 s
(simhash) / 5.8 s (minhash) at sf1.0/local[32] against ~1 s here.

Tokenization parity is EXACT by construction: the ASCII strip
``[^a-zA-Z0-9 ]`` runs FIRST, so lower()/split() only ever see ASCII
(Java/Python/DuckDB case-fold and whitespace semantics coincide on
ASCII; every other character, U+212A and NBSP included, is already a
space).  Null text yields null outputs (``transform(NULL) -> NULL``
in both engines); zero words yield simhash 0 / the md5('') shingle,
matching the array forms.  Memory per batch is bounded: Arrow ships
<= 512 docs per batch (session.py) and the per-bit reductions use one
cumsum buffer over the batch's words, never an n_words x 32 matrix.

Vector primitives (the embedding kernels):
``embedding_matrix`` unpacks an Arrow ``list<float|double>`` column
into an (n, dim) float64 matrix plus its validity mask, and
``fold_dot`` is the exact sequential-fold dot product that the cosine,
hyperplane-signature and IVF-argmax kernels share with the JVM
``aggregate(zip_with(...))`` forms, and ``fold_cosines`` the cosine
matrix the query and IVF kernels score with.  Ragged rows and null
elements raise instead of taking a slower path with different results.
"""

from __future__ import annotations

import re
from hashlib import md5

import numpy as np

from ..pipeline.session import map_batches
from .common import read, spread

_ASCII_STRIP = re.compile("[^a-zA-Z0-9 ]")


# -- shared per-document primitives ----------------------------------------


def tokenize_batch(texts):
    """Per-doc word lists mirroring ``dedup._SPARK_WORDS`` (None for
    null text)."""
    return [
        None if t is None else _ASCII_STRIP.sub(" ", t).lower().split()
        for t in texts
    ]


def segments(lists):
    """int64 lengths of per-doc lists (0 for None) and the segment
    bounds into their concatenation."""
    counts = np.fromiter(
        (0 if x is None else len(x) for x in lists), dtype=np.int64, count=len(lists)
    )
    bounds = np.zeros(len(lists) + 1, dtype=np.int64)
    np.cumsum(counts, out=bounds[1:])
    return counts, bounds


def md5_u64(strings):
    """uint64 array of the first 8 md5 digest bytes, big-endian, for a
    flat string iterable.  ``>> 32`` is the portable 32-bit hash (first
    8 hex chars, ``dedup._spark_hash``); ``>> 4`` the 60-bit one."""
    buf = b"".join(md5(s.encode()).digest()[:8] for s in strings)
    return np.frombuffer(buf, dtype=">u8").astype(np.uint64)


def h60(strings):
    """int64 array of the portable 60-bit hash (first 15 md5 hex chars,
    ``dedup._spark_hash60``)."""
    return (md5_u64(strings) >> np.uint64(4)).astype(np.int64)


def vote32(h, counts, bounds):
    """Packed 32-bit majority vote per doc segment of the uint64 hashes
    ``h``: bit b of doc i is set iff 2 * |{hashes in segment i with bit
    b set}| > counts[i].  One int64 cumsum buffer per bit — bounded
    memory even when one doc holds millions of words."""
    fp = np.zeros(len(counts), dtype=np.int64)
    cs = np.empty(len(h) + 1, dtype=np.int64)
    cs[0] = 0
    for b in range(32):
        np.cumsum((h >> np.uint64(b)) & np.uint64(1), out=cs[1:])
        ones = cs[bounds[1:]] - cs[bounds[:-1]]
        fp |= (2 * ones > counts).astype(np.int64) << b
    return fp


def shingles_for(words):
    """3-word shingles mirroring ``dedup._SPARK_SHINGLES`` (never
    empty)."""
    if len(words) >= 3:
        return [" ".join(words[i : i + 3]) for i in range(len(words) - 2)]
    return [" ".join(words)]


def null_safe_i64(values, texts):
    """``values`` with None wherever the doc's text is null."""
    if any(t is None for t in texts):
        return [None if t is None else int(v) for t, v in zip(texts, values)]
    return values


# -- vector primitives -----------------------------------------------------


def embedding_matrix(col, dim=None):
    """(X, valid) for an Arrow ``list<float|double>`` column: the rows
    as an (n, dim) float64 matrix (zeros on null rows) and the boolean
    mask of non-null rows.  ``dim`` defaults to the first non-null
    row's length.  A non-null row of another length, or one holding a
    null element, raises ValueError naming the row."""
    import pyarrow as pa
    import pyarrow.compute as pc

    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    valid = col.is_valid().to_numpy(zero_copy_only=False)
    lens = pc.list_value_length(col).to_numpy(zero_copy_only=False)
    if dim is None:
        dim = int(lens[valid][0]) if valid.any() else 0
    bad = np.flatnonzero(valid & (lens != dim))
    if len(bad):
        r = bad[0]
        raise ValueError(f"embedding row {r} has {lens[r]} values, expected {dim}")
    flat = col.flatten()
    if flat.null_count:
        r = pc.list_parent_indices(col).to_numpy()[
            flat.is_null().to_numpy(zero_copy_only=False)
        ][0]
        raise ValueError(f"embedding row {r} holds a null element")
    X = np.zeros((len(col), dim))
    X[valid] = flat.to_numpy(zero_copy_only=False).reshape(int(valid.sum()), dim)
    return X, valid


def fold_dot(A, B):
    """``acc = acc + A[..., i] * B[..., i]`` over the last axis from
    ``acc = 0.0``, broadcasting the leading axes: the sequential left
    fold of Spark's ``aggregate(zip_with(...), 0D, (acc, v) -> acc + v)``
    bit for bit, because every numpy elementwise op is one correctly
    rounded IEEE double op applied in the same order.  Row . vector is
    ``fold_dot(X, v)``; every row against every cell is
    ``fold_dot(X[:, None, :], C[None, :, :])``."""
    if A.shape[-1] != B.shape[-1]:
        raise ValueError(f"fold_dot: dimension {A.shape[-1]} != {B.shape[-1]}")
    acc = np.zeros(np.broadcast_shapes(A.shape[:-1], B.shape[:-1]))
    for i in range(A.shape[-1]):
        acc = acc + A[..., i] * B[..., i]
    return acc


def fold_cosines(X, valid, Y):
    """(n, m) exact cosines of every row of ``X`` against every row of
    ``Y``: ``fold_dot(x, y) / (sqrt(fold_dot(x, x)) * sqrt(fold_dot(y,
    y)))``, the op order of the JVM and DuckDB forms.  Rows outside the
    ``valid`` mask (null embeddings) are never divided and read 0; a
    non-null zero row divides 0/0 and reads NaN, as in SQL."""
    dots = fold_dot(X[:, None, :], Y[None, :, :])
    norms = np.sqrt(fold_dot(X, X))[:, None] * np.sqrt(fold_dot(Y, Y))[None, :]
    return np.divide(dots, norms, out=np.zeros_like(dots), where=valid[:, None])


# -- the kernel wrapper ----------------------------------------------------


def docs(spark, sf_dir):
    """The documents table's (doc_id, text) scan, spread to cluster
    parallelism (common.spread: the bench corpus is ONE parquet file ->
    one scan split -> a single Python worker would run the whole stage;
    measured 3.0 s single-task vs ~0.8 s spread at sf1.0/local[32])."""
    return spread(spark, read(spark, sf_dir, "documents").select("doc_id", "text"))


def map_docs(spark, df, fn, out_ddl):
    """Run the per-document kernel ``fn`` over ``df`` — a DataFrame with
    a ``text`` column (and usually ``doc_id``), or an sf_dir meaning
    :func:`docs` of it — as one :func:`map_batches` stage.

    ``fn(ids, texts)`` gets one Arrow batch as Python lists (``ids`` is
    None when the input has no doc_id) and returns the output columns
    named in ``out_ddl``.  When the input carries doc_id, the output
    starts with it in the input's type: a kernel that returns no
    ``doc_id`` passes the input column through (one row per doc), one
    that explodes rows returns its own."""
    if isinstance(df, str):
        df = docs(spark, df)
    id_t = dict(df.dtypes).get("doc_id")
    if id_t is not None:
        out_ddl = f"doc_id {id_t}, {out_ddl}"

    def kernel(batch):
        ids = batch.column("doc_id").to_pylist() if id_t is not None else None
        return fn(ids, batch.column("text").to_pylist())

    kernel.__name__ = fn.__name__  # the kernel's name in the plan
    return map_batches(df, kernel, out_ddl)


# -- the bounded driver collect --------------------------------------------


class CollectCapExceeded(RuntimeError):
    """A driver collect with no distributed fallback is over its cap."""


def bounded_collect(df, cap):
    """``df`` as an Arrow table on the driver, or None when it holds
    more than ``cap`` rows: a ``limit(cap + 1)`` probe, so at most
    cap + 1 rows ever reach the driver."""
    tbl = df.limit(cap + 1).toArrow()
    return None if tbl.num_rows > cap else tbl


def collect_within(df, cap, what):
    """:func:`bounded_collect` for sites without a fallback: raises
    :class:`CollectCapExceeded` naming ``what`` above the cap."""
    tbl = bounded_collect(df, cap)
    if tbl is None:
        raise CollectCapExceeded(
            f"{what}: more than {cap} rows would be collected to the driver"
        )
    return tbl
