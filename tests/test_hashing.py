"""Kernel tests — analog of the reference's checksum self-test contract
(/root/reference/data_validation.py:204-208: crc32(b'foo') == '8C736521',
asserted before every generation at :493-496)."""

import numpy as np
import pandas as pd
import pytest

from np_data_validation_spark.functions import hashing as H


def test_empty_input_matches_published_vector():
    out = H.xxh64_int32_batch(np.array([], dtype=np.int32), np.array([0, 0]))
    assert int(out[0]) == H.XXH64_EMPTY == 0xEF46DB3751D8E999


def test_pinned_golden():
    assert H.xxh64_int32_scalar(H.GOLDEN_TOKENS) == H.GOLDEN_HASH
    H.kernel_self_test()


def test_udf_self_test_fails_a_diverged_kernel(monkeypatch):
    """The UDF runs the golden self-test on a worker's first batch and
    raises (no ``assert``, which ``python -O`` strips) when it fails."""
    import pyarrow as pa

    monkeypatch.setattr(H, "_SELF_TESTED", False)
    monkeypatch.setattr(H, "GOLDEN_HASH", H.GOLDEN_HASH ^ 1)
    batch = pa.array([[1, 2, 3]], type=pa.list_(pa.int32()))
    with pytest.raises(RuntimeError, match="pinned golden"):
        H.tok_hash_arrow.func(batch)
    assert H._SELF_TESTED is False
    monkeypatch.setattr(H, "GOLDEN_HASH", H.GOLDEN_HASH ^ 1)
    assert H.tok_hash_arrow.func(batch).to_pylist() == [
        H.xxh64_int32_scalar([1, 2, 3]) - (1 << 64)
    ]
    assert H._SELF_TESTED is True


def test_vector_matches_scalar_across_lengths():
    rng = np.random.default_rng(7)
    batches = [
        list(range(0, 20)) + [31, 32, 33, 63, 64, 100, 511, 512, 1000],
        # equal lengths take the uniform path: 16 tokens is the contiguous
        # reshape, 13 the padded scatter
        [16] * 100,
        [13] * 100,
    ]
    for lens in batches:
        rows = [rng.integers(-(2**31), 2**31, size=l).astype(np.int32) for l in lens]
        flat = np.concatenate(rows)
        offsets = np.concatenate([[0], np.cumsum([len(r) for r in rows])])
        vec = H.xxh64_int32_batch(flat, offsets)
        for i, r in enumerate(rows):
            assert H.xxh64_int32_scalar(r) == int(vec[i]), f"len={len(r)}"


def test_vector_matches_scalar_skewed_blocks():
    """Crosses the block boundary + exercises the sorted-skew dispatch."""
    rng = np.random.default_rng(11)
    lens = rng.integers(0, 90, size=40_000)
    flat = rng.integers(-(2**31), 2**31, size=int(lens.sum())).astype(np.int32)
    offsets = np.concatenate([[0], np.cumsum(lens)])
    vec = H.xxh64_int32_batch(flat, offsets)
    for i in rng.integers(0, len(lens), size=100):
        row = flat[offsets[i] : offsets[i + 1]]
        assert H.xxh64_int32_scalar(row) == int(vec[i])


def test_sliced_offsets():
    rng = np.random.default_rng(3)
    lens = rng.integers(1, 30, size=50)
    flat = rng.integers(-(2**31), 2**31, size=int(lens.sum())).astype(np.int32)
    offsets = np.concatenate([[0], np.cumsum(lens)])
    sub = H.xxh64_int32_batch(flat, offsets[10:20])
    for j in range(9):
        row = flat[offsets[10 + j] : offsets[11 + j]]
        assert H.xxh64_int32_scalar(row) == int(sub[j])


def test_hypothesis_property():
    hypothesis = pytest.importorskip("hypothesis")
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=50, deadline=None)
    @given(
        st.lists(
            st.lists(
                st.integers(min_value=-(2**31), max_value=2**31 - 1),
                max_size=70,
            ),
            min_size=1,
            max_size=8,
        )
    )
    def prop(rows):
        flat = np.array([x for r in rows for x in r], dtype=np.int32)
        offsets = np.concatenate([[0], np.cumsum([len(r) for r in rows])])
        vec = H.xxh64_int32_batch(flat, offsets)
        for i, r in enumerate(rows):
            assert H.xxh64_int32_scalar(r) == int(vec[i])

    prop()


@pytest.mark.usefixtures("spark")
def test_pandas_udf_in_spark(spark):
    pdf = pd.DataFrame(
        {
            "doc_id": ["a", "b", "c", "d"],
            "tokens": [
                np.array([1, 2, 3], dtype=np.int32),
                np.array([], dtype=np.int32),
                None,
                np.arange(100, dtype=np.int32),
            ],
        }
    )
    df = spark.createDataFrame(pdf)
    out = {
        r["doc_id"]: r["tok_hash"]
        for r in H.with_tok_hash(df).select("doc_id", "tok_hash").collect()
    }

    def s64(x):
        return int(np.uint64(x).astype(np.int64))

    assert out["a"] == s64(H.xxh64_int32_scalar([1, 2, 3]))
    assert out["b"] == s64(H.XXH64_EMPTY)
    assert out["c"] is None
    assert out["d"] == s64(H.xxh64_int32_scalar(np.arange(100, dtype=np.int32)))
