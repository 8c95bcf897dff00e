"""The Arrow list -> matrix reader behind every NumPy vector pass (the
Lloyd rounds, the kNN distances, the embedding cosine verify): rows of
exactly ``dims`` values read as they are, anything else raises. No
Spark session."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pytest

from boltzmannclean_spark.functions.vectors import list_matrix

DTYPES = [(pa.int64(), np.int64), (pa.float64(), np.float64)]


@pytest.mark.parametrize("arrow_type,dtype", DTYPES)
def test_reads_fixed_rows(arrow_type, dtype):
    arr = pa.array([[1, 2], [3, 4], [5, 6]], pa.list_(arrow_type))
    m = list_matrix(arr, 2, dtype)
    assert m.dtype == dtype and m.tolist() == [[1, 2], [3, 4], [5, 6]]
    assert list_matrix(arr.slice(1, 2), 2, dtype).tolist() == [[3, 4], [5, 6]]
    chunked = pa.chunked_array([arr.slice(0, 1), arr.slice(1)])
    assert list_matrix(chunked, 2, dtype).tolist() == m.tolist()
    assert list_matrix(arr.slice(3), 2, dtype).shape == (0, 2)
    # NULL elements outside the slice are not the slice's.
    holed = pa.array([[None, 0], [7, 8]], pa.list_(arrow_type))
    assert list_matrix(holed.slice(1), 2, dtype).tolist() == [[7, 8]]


def _ragged(t):
    # 3 + 5 values: the total is 2 rows x 4 dims, the rows are not.
    return pa.array([[1] * 3, [2] * 5], pa.list_(t))


def _ragged_slice(t):
    return pa.array([[0] * 4, [1] * 3, [2] * 5, [3] * 4], pa.list_(t)).slice(1, 2)


def _null_row(t):
    return pa.array([[1] * 4, None], pa.list_(t))


def _null_element(t):
    return pa.array([[1] * 4, [1, None, 3, 4]], pa.list_(t))


@pytest.mark.parametrize("arrow_type,dtype", DTYPES)
@pytest.mark.parametrize("make", [_ragged, _ragged_slice, _null_row, _null_element])
def test_rejects_rows_of_another_length(make, arrow_type, dtype):
    with pytest.raises(ValueError):
        list_matrix(make(arrow_type), 4, dtype)
