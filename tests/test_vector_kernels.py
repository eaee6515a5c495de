"""The shared vector primitives (``kernels.embedding_matrix`` /
``kernels.fold_dot``) and the embedding kernels built on them.

``fold_dot`` must equal the JVM's sequential ``aggregate(zip_with(...))``
fold under float ``==`` (the oracles compare raw doubles), and a vector
the kernels cannot read as a dense row must fail loudly instead of
taking a path with different results.
"""

import numpy as np
import pyarrow as pa
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from swift_readability_spark.operators.dedup import hyperplane_sig_batches
from swift_readability_spark.operators.kernels import fold_dot
from swift_readability_spark.operators.similarity import (
    HYPERPLANES,
    _query_cosine_batches,
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


def _kernels():
    return {
        "sig": hyperplane_sig_batches(HYPERPLANES),
        "cosine_raw": _query_cosine_batches([0], np.array([_GOOD[::-1]])),
    }


@pytest.mark.parametrize(
    "bad",
    [_GOOD[:63], _GOOD + [1.0], _GOOD[:10] + [None] + _GOOD[11:]],
    ids=["short", "long", "null_element"],
)
def test_ragged_or_null_element_embedding_raises(bad):
    """A row of the wrong length or with a null element raises
    ValueError naming the row in the hyperplane-signature and the
    query-cosine kernels; a top-level null embedding still yields a
    null sig / cosine next to a valid row's exact-fold value."""
    for out_col, kernel in _kernels().items():
        with pytest.raises(ValueError, match="row 1"):
            list(kernel(iter([_batch([_GOOD, bad])])))

    sig, cos = (
        next(kernel(iter([_batch([_GOOD, None])]))).column(out_col).to_pylist()
        for out_col, kernel in _kernels().items()
    )
    assert sig[1] is None and cos[1] is None
    assert sig[0] == sum(
        1 << b for b, h in enumerate(HYPERPLANES) if _seq_fold(_GOOD, h) > 0
    )
    q = _GOOD[::-1]
    assert cos[0] == _seq_fold(_GOOD, q) / (
        np.sqrt(_seq_fold(_GOOD, _GOOD)) * np.sqrt(_seq_fold(q, q))
    )
