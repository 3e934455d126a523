"""Vectorized xxhash64 content fingerprint for token arrays.

This is the engine's analog of the reference's pluggable checksum kernel
(``checksum_generator`` slot, /root/reference/data_validation.py:430-432,
bound to a chunked CRC32 at :642). Design doctrine carried over: *"hash +
filesize uniquely identify data, regardless of path"*
(/root/reference/data_validation.py:5) — here, ``(tok_hash, n_tok)``
uniquely identify a token payload regardless of ``doc_id``/``source``.

One kernel: XXH64 of the little-endian int32 byte buffer of each token
array, computed batch-wise in numpy over Arrow batches by an Arrow-native
UDF (``tok_hash_arrow``). The per-batch hot loop is fully vectorized across
rows — rows sorted by length into blocks, each a padded ``[rows, max_len]``
lane matrix processed stripe-by-stripe over column slices; there is **no
per-row Python**. The manifest's ``tok_hash`` lives in the same value
space, so snapshot and manifest fingerprints compare directly.

The XXH64 algorithm is implemented from the public spec
(github.com/Cyan4973/xxHash/blob/dev/doc/xxhash_spec.md). A golden
self-test (`kernel_self_test`) mirrors the reference's habit of asserting
``crc32(b'foo') == '8C736521'`` before use (data_validation.py:204-208,
:493-496): ``tok_hash_arrow`` runs it once per Python worker process, on
the first batch that worker hashes, and raises instead of hashing with a
diverged kernel.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_P1 = np.uint64(11400714785074694791)
_P2 = np.uint64(14029467366897019727)
_P3 = np.uint64(1609587929392839161)
_P4 = np.uint64(9650029242287828579)
_P5 = np.uint64(2870177450012600261)
_U64 = np.uint64
_MASK64 = 0xFFFFFFFFFFFFFFFF

#: Published XXH64 test vector: hash of empty input at seed 0 (the engine
#: always hashes at seed 0).
XXH64_EMPTY = 0xEF46DB3751D8E999

#: Golden values for the kernel self-test, pinned from the scalar spec
#: implementation (analog of the reference's golden '8C736521').
GOLDEN_TOKENS = [1, 2, 3]
#: XXH64(le-bytes(int32 [1,2,3]), seed=0) — pinned from the scalar spec
#: implementation; as signed int64 (Spark LongType): -5398535361462201860.
GOLDEN_HASH: int = 13048208712247349756


def _rotl(x: np.ndarray | np.uint64, r: int):
    r = _U64(r)
    return (x << r) | (x >> (_U64(64) - r))


def _round(acc, lane):
    return _rotl(acc + lane * _P2, 31) * _P1


# ---------------------------------------------------------------------------
# Scalar spec implementation (self-test / goldens only — not the hot path)
# ---------------------------------------------------------------------------


def xxh64_bytes_scalar(data: bytes) -> int:
    """Plain-Python XXH64 straight from the public spec. O(len) Python —
    used only by the kernel self-test, to pin goldens and to
    property-test the vectorized kernel."""
    p1, p2, p3, p4, p5 = (int(x) for x in (_P1, _P2, _P3, _P4, _P5))

    def rotl(x: int, r: int) -> int:
        return ((x << r) | (x >> (64 - r))) & _MASK64

    def rnd(acc: int, lane: int) -> int:
        return (rotl((acc + lane * p2) & _MASK64, 31) * p1) & _MASK64

    n = len(data)
    i = 0
    if n >= 32:
        a1 = (p1 + p2) & _MASK64
        a2 = p2
        a3 = 0
        a4 = -p1 & _MASK64
        while n - i >= 32:
            a1 = rnd(a1, int.from_bytes(data[i : i + 8], "little"))
            a2 = rnd(a2, int.from_bytes(data[i + 8 : i + 16], "little"))
            a3 = rnd(a3, int.from_bytes(data[i + 16 : i + 24], "little"))
            a4 = rnd(a4, int.from_bytes(data[i + 24 : i + 32], "little"))
            i += 32
        acc = (rotl(a1, 1) + rotl(a2, 7) + rotl(a3, 12) + rotl(a4, 18)) & _MASK64
        for a in (a1, a2, a3, a4):
            acc = ((acc ^ rnd(0, a)) * p1 + p4) & _MASK64
    else:
        acc = p5
    acc = (acc + n) & _MASK64
    while n - i >= 8:
        acc = (rotl(acc ^ rnd(0, int.from_bytes(data[i : i + 8], "little")), 27) * p1 + p4) & _MASK64
        i += 8
    while n - i >= 4:
        acc = (rotl(acc ^ ((int.from_bytes(data[i : i + 4], "little") * p1) & _MASK64), 23) * p2 + p3) & _MASK64
        i += 4
    while n - i >= 1:
        acc = (rotl(acc ^ ((data[i] * p5) & _MASK64), 11) * p1) & _MASK64
        i += 1
    acc ^= acc >> 33
    acc = (acc * p2) & _MASK64
    acc ^= acc >> 29
    acc = (acc * p3) & _MASK64
    acc ^= acc >> 32
    return acc


def xxh64_int32_scalar(tokens) -> int:
    """XXH64 of a token array's little-endian int32 buffer (scalar ref)."""
    return xxh64_bytes_scalar(np.asarray(tokens, dtype=np.int32).tobytes())


# ---------------------------------------------------------------------------
# Vectorized batch kernel (the hot path)
# ---------------------------------------------------------------------------


def xxh64_int32_batch(flat: np.ndarray, offsets: np.ndarray) -> np.ndarray:
    """XXH64 of N variable-length int32 buffers, vectorized across rows.

    flat: concatenated int32 token values of all rows (Arrow list layout);
    offsets: int64[N+1] row boundaries into ``flat``.
    Returns uint64[N].

    Strategy: rows are padded into a ``[N, Lmax]`` uint64 lane matrix; the
    32-byte-stripe loop runs ``Lmax // 8`` iterations of column numpy ops
    over the rows still active at that stripe, so cost is O(N * Lmax / 8)
    vector ops — no Python touches an individual row. Each token is one
    4-byte XXH64 lane; buffer length is always a multiple of 4, so there is
    no 1-byte tail phase.
    """
    offsets = np.asarray(offsets, dtype=np.int64)
    n = len(offsets) - 1
    if n == 0:
        return np.empty(0, dtype=np.uint64)
    flat_u = np.ascontiguousarray(np.asarray(flat, dtype=np.int32)).view(np.uint32)
    flat_u = flat_u[int(offsets[0]) : int(offsets[-1])]
    starts = offsets[:-1] - offsets[0]
    lens = np.diff(offsets)
    with np.errstate(over="ignore"):
        return _xxh64_dispatch(flat_u, starts, lens)


#: Row-block size: keeps each column op's working set (~8B * block) inside
#: cache and bounds the padded-matrix allocation.
_BLOCK_ROWS = 16384


def _xxh64_dispatch(
    flat_u: np.ndarray, starts: np.ndarray, lens: np.ndarray
) -> np.ndarray:
    """Process rows in blocks of ``_BLOCK_ROWS``. Whenever row lengths
    differ, sort rows by length first and scatter results back, so every
    block is either uniform or sorted by length and padded work tracks the
    true token count, not ``rows x max_len``."""
    n = len(lens)
    order = np.argsort(lens, kind="stable") if lens.max() > lens.min() else None
    out = np.empty(n, dtype=np.uint64)
    for lo in range(0, n, _BLOCK_ROWS):
        hi = min(lo + _BLOCK_ROWS, n)
        if order is None:
            out[lo:hi] = _xxh64_block(flat_u, starts[lo:hi], lens[lo:hi])
        else:
            idx = order[lo:hi]
            out[idx] = _xxh64_block(flat_u, starts[idx], lens[idx])
    return out


def _xxh64_block(
    flat_u: np.ndarray, starts: np.ndarray, lens: np.ndarray
) -> np.ndarray:
    """XXH64 at seed 0 of one non-empty block of rows whose lengths are
    all equal or sorted ascending (``_xxh64_dispatch`` guarantees it)."""
    n = len(lens)
    lmax = int(lens.max())

    if lmax == 0:
        return _avalanche(np.full(n, _P5, dtype=np.uint64))

    uniform = bool((lens == lmax).all())

    # Padded token matrix [n, lpad] uint32, lpad a multiple of 8 so a uint64
    # view pairs adjacent tokens into ready-made 8-byte little-endian lanes
    # (token[2i] | token[2i+1] << 32) with zero arithmetic.
    lpad = (lmax + 7) & ~7
    contiguous = uniform and bool(
        (starts == starts[0] + np.arange(n, dtype=np.int64) * lmax).all()
    )
    if contiguous and lpad == lmax:
        m32 = flat_u[starts[0] : starts[0] + n * lmax].reshape(n, lmax)
    else:
        # 1D flat scatter: dest[g] = row*lpad + col for the g-th token.
        m32 = np.zeros(n * lpad, dtype=np.uint32)
        total = int(lens.sum())
        cum = np.cumsum(lens) - lens  # first flat position of each row
        pos = np.arange(total, dtype=np.int64)
        m32[pos + np.repeat(np.arange(n, dtype=np.int64) * lpad - cum, lens)] = (
            flat_u[pos + np.repeat(starts - cum, lens)]
        )
        m32 = m32.reshape(n, lpad)
    m64 = m32.view(np.uint64)  # [n, lpad/2]

    nstripes = lens // 8  # 32-byte stripes = 8 tokens = 4 uint64 lanes
    max_ns = int(nstripes.max())

    a1 = np.full(n, _P1 + _P2, dtype=np.uint64)
    a2 = np.full(n, _P2, dtype=np.uint64)
    a3 = np.zeros(n, dtype=np.uint64)
    a4 = np.full(n, _U64(0) - _P1, dtype=np.uint64)
    for s in range(max_ns):
        b = 4 * s
        if uniform:
            a1 = _round(a1, m64[:, b])
            a2 = _round(a2, m64[:, b + 1])
            a3 = _round(a3, m64[:, b + 2])
            a4 = _round(a4, m64[:, b + 3])
        else:
            # rows are sorted by length, so the rows with a stripe s are a
            # suffix of the block
            k = int(np.searchsorted(nstripes, s, side="right"))
            a1[k:] = _round(a1[k:], m64[k:, b])
            a2[k:] = _round(a2[k:], m64[k:, b + 1])
            a3[k:] = _round(a3[k:], m64[k:, b + 2])
            a4[k:] = _round(a4[k:], m64[k:, b + 3])

    merged = _rotl(a1, 1) + _rotl(a2, 7) + _rotl(a3, 12) + _rotl(a4, 18)
    for a in (a1, a2, a3, a4):
        merged = (merged ^ _round(np.uint64(0), a)) * _P1 + _P4
    acc = np.where(nstripes > 0, merged, _P5)

    acc = acc + lens.astype(np.uint64) * _U64(4)  # total byte length

    # Tail: up to 3 eight-byte lanes (token pairs) + up to 1 four-byte lane.
    # Stripe starts are 8-token aligned, so pair lanes sit at uint64 column
    # nstripes*4 + k and the final odd token is the low half of the next one.
    trem = lens - nstripes * 8  # 0..7 tokens
    npairs = trem // 2
    if trem.any():
        c64 = nstripes * 4
        last64 = lpad // 2 - 1
        for k in range(3):
            active = npairs > k
            if not active.any():
                break
            lane = np.take_along_axis(
                m64, np.minimum(c64 + k, last64)[:, None], 1
            )[:, 0]
            upd = _rotl(acc ^ _round(np.uint64(0), lane), 27) * _P1 + _P4
            acc = np.where(active, upd, acc)
        has4 = (trem % 2) == 1
        if has4.any():
            lane4 = (
                np.take_along_axis(
                    m64, np.minimum(c64 + npairs, last64)[:, None], 1
                )[:, 0]
                & _U64(0xFFFFFFFF)
            )
            upd = _rotl(acc ^ (lane4 * _P1), 23) * _P2 + _P3
            acc = np.where(has4, upd, acc)

    return _avalanche(acc)


def _avalanche(acc: np.ndarray) -> np.ndarray:
    acc = acc ^ (acc >> _U64(33))
    acc = acc * _P2
    acc = acc ^ (acc >> _U64(29))
    acc = acc * _P3
    acc = acc ^ (acc >> _U64(32))
    return acc


# ---------------------------------------------------------------------------
# Spark surfaces
# ---------------------------------------------------------------------------


#: Set once ``kernel_self_test`` has passed in this process (a Python
#: worker runs it on the first batch it hashes).
_SELF_TESTED = False


@F.arrow_udf(T.LongType())
def tok_hash_arrow(tokens: pa.Array) -> pa.Array:
    """Arrow-native vectorized UDF, the engine's one hash kernel: the batch
    arrives as a ``pa.ListArray`` and the flat values + offsets go straight
    to the numpy kernel — no Arrow->pandas->Arrow round trip, no per-row
    object materialization. Null token arrays hash to null (the
    reference's "checksum not yet generated" state). Values are pinned
    against the scalar spec by the udf_xxhash_golden query and
    tests/test_hashing.py; the first batch in each worker process runs
    ``kernel_self_test``, so a diverged kernel fails the task instead of
    writing wrong hashes."""
    global _SELF_TESTED
    if not _SELF_TESTED:
        kernel_self_test()
        _SELF_TESTED = True
    if isinstance(tokens, pa.ChunkedArray):  # defensive: chunked batches
        tokens = tokens.combine_chunks()
    if not (pa.types.is_list(tokens.type) and tokens.type.value_type == pa.int32()):
        tokens = tokens.cast(pa.list_(pa.int32()))
    offsets = tokens.offsets.to_numpy()
    base, end = int(offsets[0]), int(offsets[-1])
    flat = tokens.values.slice(base, end - base).to_numpy(zero_copy_only=False)
    hashes = xxh64_int32_batch(flat, offsets - base).view(np.int64)
    valid = np.asarray(tokens.is_valid())
    if valid.all():
        return pa.array(hashes, type=pa.int64())
    return pa.array(hashes, type=pa.int64(), mask=~valid)


def with_tok_hash(df: DataFrame) -> DataFrame:
    """Append ``tok_hash`` (of the ``tokens`` column) to a sequences
    DataFrame.

    The reference gated checksum generation behind size thresholds because
    per-file CRC32 was expensive (its ``checksum_threshold``); the
    vectorized kernel removes the need — every row is fingerprinted.
    """
    return df.withColumn("tok_hash", tok_hash_arrow(F.col("tokens")))


def kernel_self_test() -> None:
    """Golden self-check before use — analog of the reference's
    ``test_crc32_function`` run before every generation
    (data_validation.py:204-208, :493-496). Raises ``RuntimeError`` (not
    ``assert``, which ``python -O`` strips) on any mismatch."""
    empty = xxh64_int32_batch(np.array([], dtype=np.int32), np.array([0, 0]))
    if int(empty[0]) != XXH64_EMPTY:
        raise RuntimeError("xxh64 kernel failed the empty-input golden")
    got = xxh64_int32_batch(
        np.array(GOLDEN_TOKENS, dtype=np.int32), np.array([0, len(GOLDEN_TOKENS)])
    )
    expect = xxh64_int32_scalar(GOLDEN_TOKENS)
    if int(got[0]) != expect:
        raise RuntimeError("xxh64 vector kernel diverged from the scalar spec")
    if expect != GOLDEN_HASH:
        raise RuntimeError("xxh64 scalar kernel diverged from the pinned golden")
