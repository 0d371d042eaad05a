"""Varbyte/delta codec: property-based round-trips (pure numpy, no Spark)."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from refimage_spark.index.codec import (
    varbyte_decode,
    varbyte_encode,
    varbyte_encode_with_lengths,
)


@given(
    st.lists(st.integers(min_value=0, max_value=2**62 - 1), max_size=500)
)
@settings(max_examples=200, deadline=None)
def test_varbyte_roundtrip(vals):
    a = np.array(vals, dtype=np.uint64)
    assert varbyte_decode(varbyte_encode(a)).tolist() == vals


@given(
    st.lists(st.integers(min_value=0, max_value=2**40), min_size=1, max_size=300)
)
@settings(max_examples=100, deadline=None)
def test_lengths_variant_consistent(vals):
    a = np.array(vals, dtype=np.uint64)
    blob1 = varbyte_encode(a)
    blob2, lengths = varbyte_encode_with_lengths(a)
    assert blob1 == blob2
    assert int(lengths.sum()) == len(blob2)
    # per-value slices decode independently
    off = np.concatenate(([0], np.cumsum(lengths)))
    for i, v in enumerate(vals[:20]):
        piece = blob2[off[i] : off[i + 1]]
        assert varbyte_decode(piece).tolist() == [v]


def test_empty():
    assert varbyte_encode(np.empty(0, np.uint64)) == b""
    assert varbyte_decode(b"").size == 0
