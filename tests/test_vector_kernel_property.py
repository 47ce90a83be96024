"""Property tests for the shared vector-kernel numerics in
`s3_manifest_spark.operators.similarity`: `_matrix` (embedding column
-> float64 matrix), `_unit` (row 2-norm normalization under the one
zero-norm rule) and `_unpack_block` (one packed block -> ids + unit
matrix).  Every vector kernel in `similarity`, `dedup` and `semdedup`
runs these three, so they are pinned here against the expressions the
kernels used to spell out per site.  Pure numpy: no SparkSession.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest
from hypothesis import assume, given, settings
from hypothesis import strategies as st

from s3_manifest_spark.operators.similarity import _matrix, _unit, _unpack_block

#: components are 0 or at least 2**-10 in magnitude: no row norm lands
#: under the 1e-12 floor unless the row is zero, and no square or
#: quotient underflows (np.errstate(all="raise") would flag it)
component = st.one_of(
    st.just(0.0),
    st.floats(2.0**-10, 2.0**10, width=32),
    st.floats(-(2.0**10), -(2.0**-10), width=32),
)


@st.composite
def rows(draw, min_rows=1):
    n = draw(st.integers(min_rows, 12))
    d = draw(st.integers(1, 16))
    return [draw(st.lists(component, min_size=d, max_size=d)) for _ in range(n)]


def column(rs, dtype):
    """An Arrow-delivered embedding column: one numpy array per row."""
    return pd.Series([np.asarray(r, dtype=dtype) for r in rs])


def nonzero(rs):
    return all(any(x != 0.0 for x in r) for r in rs)


@pytest.mark.parametrize("dtype", ["float32", "float64"])
@settings(max_examples=150, deadline=None)
@given(rs=rows())
def test_unit_matrix_bit_equals_the_unguarded_expressions(dtype, rs):
    assume(nonzero(rs))
    col = column(rs, dtype)
    got = _unit(_matrix(col))
    e = np.stack(col.to_numpy()).astype("float64")
    assert got.dtype == np.float64
    assert np.array_equal(got, e / np.linalg.norm(e, axis=1, keepdims=True))
    assert np.array_equal(got, e / np.sqrt((e * e).sum(axis=1, keepdims=True)))


@settings(max_examples=150, deadline=None)
@given(rs=rows(), data=st.data())
def test_zero_rows_stay_zero_without_a_float_warning(rs, data):
    zero = data.draw(st.lists(st.booleans(), min_size=len(rs), max_size=len(rs)))
    rs = [[0.0] * len(r) if z else r for r, z in zip(rs, zero)]
    col = column(rs, "float32")
    with np.errstate(all="raise"):
        got = _unit(_matrix(col))
    e = np.stack(col.to_numpy()).astype("float64")
    is_zero = ~e.any(axis=1)
    assert np.array_equal(got[is_zero], np.zeros_like(e[is_zero]))
    rest = e[~is_zero]
    assert np.array_equal(
        got[~is_zero], rest / np.linalg.norm(rest, axis=1, keepdims=True)
    )


@settings(max_examples=150, deadline=None)
@given(rs=rows(), data=st.data())
def test_dims_truncates_before_normalizing(rs, data):
    d = len(rs[0])
    dims = data.draw(st.integers(1, d))
    trunc = [r[:dims] for r in rs]
    assume(nonzero(trunc))
    col = column(rs, "float32")
    got = _unit(_matrix(col, dims))
    assert got.shape == (len(rs), dims)
    e = np.stack(col.to_numpy()).astype("float64")[:, :dims]
    assert np.array_equal(got, e / np.linalg.norm(e, axis=1, keepdims=True))
    assert np.allclose(np.linalg.norm(got, axis=1), 1.0)
    assert np.array_equal(_matrix(col, None), _matrix(col))


@pytest.mark.parametrize("as_list", [False, True])
@settings(max_examples=150, deadline=None)
@given(rs=rows(), data=st.data())
def test_unpack_block_inverts_the_packing(as_list, rs, data):
    ids = data.draw(
        st.lists(
            st.integers(-(2**62), 2**62),
            min_size=len(rs),
            max_size=len(rs),
            unique=True,
        )
    )
    # what _pack_blocks ships: transform(rs, r -> r.vec_id) and the
    # row-major flatten(transform(rs, r -> r.embedding)), as Arrow
    # arrays (or plain lists)
    raw_ids = np.asarray(ids, dtype="int64")
    raw_mat = np.asarray([x for r in rs for x in r], dtype="float32")
    if as_list:
        raw_ids, raw_mat = raw_ids.tolist(), raw_mat.tolist()
    got_ids, got = _unpack_block(raw_ids, raw_mat)
    assert got_ids.dtype == np.int64
    assert got_ids.tolist() == ids
    # the same rows as the per-row column _matrix decodes
    want = _unit(_matrix(column(rs, "float32")))
    assert got.shape == want.shape
    assert np.array_equal(got, want)


@settings(max_examples=150, deadline=None)
@given(blocks=st.lists(rows(), min_size=1, max_size=4), data=st.data())
def test_unpack_block_bit_equals_the_per_element_conversion(blocks, data):
    # the packed columns as Arrow delivers them to a pandas UDF: object
    # arrays holding one int64 / float32 ndarray per block row
    ids = [
        data.draw(st.lists(st.integers(-(2**62), 2**62), min_size=len(b),
                           max_size=len(b), unique=True))
        for b in blocks
    ]
    flat = [[x for r in b for x in r] for b in blocks]
    raw_ids = pa.array(ids, pa.list_(pa.int64())).to_pandas().to_numpy()
    raw_mat = pa.array(flat, pa.list_(pa.float32())).to_pandas().to_numpy()
    assert raw_mat.dtype == object and raw_mat[0].dtype == np.float32
    for ri, rm in zip(raw_ids, raw_mat):
        got_ids, got = _unpack_block(ri, rm)
        # the expression _unpack_block used before: one Python scalar
        # per component
        want_ids = np.asarray(list(ri), dtype="int64")
        want = np.asarray(list(rm), dtype="float64").reshape(len(want_ids), -1)
        assert got_ids.dtype == np.int64
        assert np.array_equal(got_ids, want_ids)
        assert np.array_equal(got, _unit(want))
