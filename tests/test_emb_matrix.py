"""similarity._emb_matrix, the one embedding-matrix builder, against the
per-row stack it replaced: bit-identical (n, d) float64 matrices on the
sf0.1 embeddings, in every input shape the kernels hand it."""

from __future__ import annotations

import numpy as np
import pyarrow.parquet as pq
import pytest

from cqlcopy_spark.operators.similarity import _emb_matrix

SF = "/root/testdata/sf0.1"


def _per_row(vecs) -> np.ndarray:
    """The replaced idiom, kept as the reference."""
    return np.stack([np.asarray(v, dtype=np.float64) for v in vecs])


@pytest.fixture(scope="module")
def emb():
    """The raw float32 column as the mapInPandas kernels see it."""
    return pq.read_table(f"{SF}/embeddings.parquet").to_pandas()["embedding"]


@pytest.mark.parametrize("shape", ["float32_series", "float64_series", "row_lists"])
def test_emb_matrix_is_bit_identical_to_per_row_stack(emb, shape):
    if shape == "float32_series":
        vecs = emb
    elif shape == "float64_series":  # after _emb_double's cast
        vecs = emb.map(lambda v: v.astype(np.float64))
    else:  # collected Row.emb values (driver-side training samples)
        vecs = [v.astype(np.float64).tolist() for v in emb]
    want = _per_row(vecs)
    got = _emb_matrix(vecs)
    assert got.dtype == np.float64 and got.shape == want.shape == (len(emb), 64)
    assert got.tobytes() == want.tobytes()
    # a generator input (the sample call sites) builds the same matrix
    assert _emb_matrix(v for v in vecs).tobytes() == want.tobytes()


def test_emb_matrix_rejects_an_empty_batch_like_np_stack():
    with pytest.raises(ValueError):
        _per_row([])
    with pytest.raises(ValueError):
        _emb_matrix([])
