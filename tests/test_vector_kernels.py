"""The shared vector primitives (``kernels.embedding_matrix`` /
``kernels.fold_dot``) and the embedding kernels built on them.

``fold_dot`` must equal the JVM's sequential ``aggregate(zip_with(...))``
fold under float ``==`` (the oracles compare raw doubles), and a vector
the kernels cannot read as a dense row must fail loudly instead of
taking a path with different results.
"""

import math
import warnings

import numpy as np
import pyarrow as pa
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from swift_readability_spark.operators.dedup import _hyperplane_sigs
from swift_readability_spark.operators.kernels import embedding_matrix, fold_dot
from swift_readability_spark.operators.similarity import (
    HYPERPLANES,
    _query_cosine,
    _within_hamming_probe,
)


def _seq_fold(x, y):
    """Pure-Python sequential left fold from 0.0 (Spark's aggregate)."""
    acc = 0.0
    for a, b in zip(x, y):
        acc = acc + float(a) * float(b)
    return acc


_F32_MAX = float(np.finfo(np.float32).max)
_F32_TINY = float(np.finfo(np.float32).smallest_subnormal)
_f32 = st.one_of(
    st.sampled_from([0.0, -0.0, _F32_TINY, -_F32_TINY, _F32_MAX, -_F32_MAX]),
    st.floats(width=32, allow_nan=False, allow_infinity=False),
)


@settings(max_examples=200, deadline=None)
@given(dim=st.integers(1, 12), data=st.data())
def test_fold_dot_is_the_sequential_fold(dim, data):
    """Row . vector and row x cells (the IVF argmax broadcast) both
    equal the scalar fold exactly, over float32-valued vectors with
    signed zeros, subnormals and large magnitudes."""
    vec = st.lists(_f32, min_size=dim, max_size=dim)
    X = data.draw(st.lists(vec, min_size=1, max_size=5))
    C = data.draw(st.lists(vec, min_size=1, max_size=4))
    Xm = np.array(X, dtype=np.float32).astype(np.float64)
    Cm = np.array(C, dtype=np.float32).astype(np.float64)
    assert fold_dot(Xm, Cm[0]).tolist() == [_seq_fold(x, C[0]) for x in X]
    assert fold_dot(Xm[:, None, :], Cm[None, :, :]).tolist() == [
        [_seq_fold(x, c) for c in C] for x in X
    ]


_GOOD = [float(i % 7) - 3.0 for i in range(64)]


def _batch(rows):
    return pa.RecordBatch.from_arrays(
        [
            pa.array(range(len(rows)), type=pa.int64()),
            pa.array([0] * len(rows), type=pa.int32()),
            pa.array(rows, type=pa.list_(pa.float32())),
        ],
        ["vec_id", "label", "embedding"],
    )


_Q = _GOOD[::-1]


def _cosine(rows, keep=None):
    out = _query_cosine([0], np.array([_Q]), keep)(_batch(rows))
    return pa.array(out["cosine_raw"]).to_pylist()


def _exact_cosine(x):
    return _seq_fold(x, _Q) / (np.sqrt(_seq_fold(x, x)) * np.sqrt(_seq_fold(_Q, _Q)))


def _near_query(X):
    """The 8-bit hyperplane probe around the query's signature."""
    qsig = int(_hyperplane_sigs(np.array([_Q]), HYPERPLANES)[0])
    return _within_hamming_probe(_hyperplane_sigs(X, HYPERPLANES), qsig)


@pytest.mark.parametrize(
    "bad",
    [_GOOD[:63], _GOOD + [1.0], _GOOD[:10] + [None] + _GOOD[11:]],
    ids=["short", "long", "null_element"],
)
def test_ragged_or_null_element_embedding_raises(bad):
    """A row of the wrong length or with a null element raises
    ValueError naming the row in the query-cosine kernel, with or
    without a row mask; a top-level null embedding still yields a null
    cosine next to a valid row's exact-fold value."""
    for keep in (None, _near_query):
        with pytest.raises(ValueError, match="row 1"):
            _cosine([_GOOD, bad], keep)
    assert _cosine([_GOOD, None]) == [_exact_cosine(_GOOD), None]


def test_null_row_is_never_divided():
    """A null embedding is masked before the cosine division, so
    scoring it raises no 0/0 RuntimeWarning; a non-null zero vector
    still divides 0/0 and reads NaN, as the SQL forms do."""
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        assert _cosine([None, _GOOD]) == [None, _exact_cosine(_GOOD)]
    with np.errstate(invalid="ignore"):
        assert math.isnan(_cosine([[0.0] * len(_GOOD)])[0])


def test_hyperplane_sigs_are_the_sequential_fold_bits():
    """Bit b of a signature is set iff the exact fold with plane b is
    strictly positive, for a vector and its negation."""
    X, _ = embedding_matrix(_batch([_GOOD, [-x for x in _GOOD]]).column("embedding"))
    assert _hyperplane_sigs(X, HYPERPLANES).tolist() == [
        sum(1 << b for b, h in enumerate(HYPERPLANES) if _seq_fold(v, h) > 0)
        for v in (_GOOD, [-x for x in _GOOD])
    ]


def test_row_mask_drops_null_and_far_rows_before_scoring():
    """With a row mask the kernel scores only the non-null rows it
    keeps: a null embedding and a row whose signature is far from the
    query's (its negation flips every bit) are dropped, and a near row
    (the query, halved) keeps its exact-fold cosine."""
    near, far = [x / 2 for x in _Q], [-x for x in _Q]
    sigs = _hyperplane_sigs(np.array([_Q, far]), HYPERPLANES)
    assert bin(int(sigs[0] ^ sigs[1])).count("1") > 2
    batch = _batch([None, far, near])
    out = _query_cosine([0], np.array([_Q]), _near_query)(batch)
    assert out["vec_id"].to_pylist() == [2]
    assert pa.array(out["cosine_raw"]).to_pylist() == [_exact_cosine(near)]
