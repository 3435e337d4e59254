"""Vectorized MurmurHash3_x64_128 (Austin Appleby, public domain).

The reference hashes every key with MurmurHash3_x64_128 under seed
SALT_CONSTANT = 0x97c29b3a and derives two 32-bit words (h1, h2) for
Kirsch–Mitzenmacher double hashing (public dablooms `hash_func`,
src/dablooms.c:≈182; murmur body src/murmur.c). Spark's builtin
`hash()` is Murmur3_x86_32 and `xxhash64` is a different algorithm —
neither matches — and no `mmh3` wheel is available, so we implement
the x64_128 variant as a batch numpy kernel.

Two implementations:

- :func:`murmur3_x64_128_scalar` — straight pure-Python transcription
  of the canonical algorithm; the test oracle (slow path).
- :func:`murmur3_x64_128_buffer` — vectorized over a whole batch of
  (offset, length) rows of one flat byte buffer, the Arrow
  string/binary layout; :func:`murmur3_x64_128` feeds it a list of
  keys. Like the reference body, which reads its input with
  `getblock64` (src/murmur.c), it works on 64-bit little-endian words,
  never on single bytes: the batch's used byte range is copied once
  into a zero-tailed uint64 array, and the word at any byte offset is
  two word loads and two shifts. Rows are sorted by descending 16-byte
  block count, so the rows that have block j form a prefix and each
  round runs over that prefix. The 0–15 tail bytes are the same word
  loads masked to the row's remaining length; masked-off bytes are
  zero, which is what the canonical byte-by-byte tail switch mixes in.
  All arithmetic is np.uint64 with wrapping semantics, matching C
  unsigned overflow.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from dablooms_spark.functions.arrow_utils import arrow_byte_view

# dablooms SALT_CONSTANT (src/dablooms.c:≈20)
DABLOOMS_SEED = 0x97C29B3A

_C1 = np.uint64(0x87C37B91114253D5)
_C2 = np.uint64(0x4CF5AD432745937F)

#: low-m-bytes masks, m = 0..8 (a shift by 64 would be undefined)
_BYTE_MASK = np.array([(1 << (8 * m)) - 1 for m in range(9)], dtype=np.uint64)


def _rotl(x: np.ndarray, r: int) -> np.ndarray:
    r_ = np.uint64(r)
    return (x << r_) | (x >> np.uint64(64 - r))


def _fmix(k: np.ndarray) -> np.ndarray:
    k = k ^ (k >> np.uint64(33))
    k = k * np.uint64(0xFF51AFD7ED558CCD)
    k = k ^ (k >> np.uint64(33))
    k = k * np.uint64(0xC4CEB9FE1A85EC53)
    k = k ^ (k >> np.uint64(33))
    return k


def _as_byte_buffer(keys) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(uint8 buffer, int64 offsets, int64 lengths) for a batch of keys.

    Accepts a list/ndarray/pandas-Series of ``bytes`` or ``str``
    (str is UTF-8 encoded — the engine's byte-identical-text rule).
    A batch Arrow reads as one string/binary column with no null is
    built by Arrow; any other batch (``None``, non-text keys) takes
    the per-key loop. Both give the same bytes for every key.
    """
    try:
        arr = pa.array(keys)
    except (pa.ArrowException, TypeError, ValueError):
        arr = None
    if isinstance(arr, pa.Array) and arr.type in (pa.string(), pa.binary()) and not arr.null_count:
        return arrow_byte_view(arr)
    n = len(keys)
    lengths = np.empty(n, dtype=np.int64)
    parts = []
    for i, k in enumerate(keys):
        if isinstance(k, str):
            k = k.encode("utf-8")
        elif not isinstance(k, (bytes, bytearray, memoryview)):
            k = bytes(k)
        lengths[i] = len(k)
        parts.append(k)
    buf = np.frombuffer(b"".join(parts), dtype=np.uint8) if parts else np.empty(0, np.uint8)
    offsets = np.zeros(n, dtype=np.int64)
    np.cumsum(lengths[:-1], out=offsets[1:])
    return buf, offsets, lengths


def murmur3_x64_128(keys, seed: int = DABLOOMS_SEED) -> tuple[np.ndarray, np.ndarray]:
    """Batch MurmurHash3_x64_128 over a list/array of bytes or str.

    Returns (out1, out2): the two uint64 words of each 128-bit hash,
    matching the canonical C output layout ((uint64_t*)out)[0|1].
    """
    return murmur3_x64_128_buffer(*_as_byte_buffer(keys), seed)


def murmur3_x64_128_buffer(
    buf: np.ndarray,
    offsets: np.ndarray,
    lengths: np.ndarray,
    seed: int = DABLOOMS_SEED,
) -> tuple[np.ndarray, np.ndarray]:
    """Batch MurmurHash3_x64_128 over a flat uint8 buffer with per-row
    (offset, length) views — the zero-copy Arrow hot path: a pyarrow
    string/binary column is exactly this layout, so the Spark-side
    kernels never materialize per-row Python objects.

    Word-gather layout (the reference's `getblock64`): the used byte
    range [min offset, max end) is copied once into ``W``, a
    little-endian uint64 array with two zero words past the end, and
    the offsets are rebased into it. The word at byte p is
    ``(W[p>>3] >> 8r) | ((W[(p>>3)+1] << 1) << (63 - 8r))`` with
    r = p & 7; the split shift keeps every shift below 64. A row's
    blocks all share its r, so the shifts are computed once per row.
    Memory is O(used bytes / 8 + n) at any length skew.
    """
    n = len(lengths)
    if n == 0:
        e = np.empty(0, np.uint64)
        return e, e

    lengths = np.asarray(lengths, dtype=np.int64)
    offsets = np.asarray(offsets, dtype=np.int64)
    lo = int(offsets.min())
    used = int((offsets + lengths).max()) - lo
    raw = np.zeros(((used >> 3) + 3) << 3, dtype=np.uint8)
    raw[:used] = buf[lo: lo + used]
    W = raw.view("<u8")

    nblocks = lengths >> 4
    max_blocks = int(nblocks.max())
    if int(nblocks.min()) == max_blocks:
        # every row has the same block count: no reorder needed
        order = None
        starts, lens_s = offsets - lo, lengths
    else:
        # descending block count: the rows that have block j are a prefix
        # (a uint8/uint16 key sorts by radix)
        key = (max_blocks - nblocks).astype(np.min_scalar_type(max_blocks))
        order = np.argsort(key, kind="stable")
        starts, lens_s = offsets[order] - lo, lengths[order]
    nb_s = lens_s >> 4
    q = starts >> 3  # word index of each row's next block
    rs = ((starts & 7) << 3).astype(np.uint64)
    ls = np.uint64(63) - rs
    one = np.uint64(1)

    with np.errstate(over="ignore"):
        h1 = np.full(n, np.uint64(seed))
        h2 = np.full(n, np.uint64(seed))

        asc = nb_s[::-1]
        w0 = W[q]  # each row's next word; a block's third word starts the next block
        for j in range(max_blocks):
            cnt = n - int(np.searchsorted(asc, j, side="right"))
            qc, r, l_ = q[:cnt], rs[:cnt], ls[:cnt]
            w1, w2 = W[qc + 1], W[qc + 2]
            k1 = (w0[:cnt] >> r) | ((w1 << one) << l_)
            k2 = (w1 >> r) | ((w2 << one) << l_)
            qc += 2
            w0 = w2
            a, b = h1[:cnt], h2[:cnt]

            k1 *= _C1
            k1 = _rotl(k1, 31)
            k1 *= _C2
            a ^= k1
            a[:] = _rotl(a, 27) + b
            a[:] = a * np.uint64(5) + np.uint64(0x52DCE729)

            k2 *= _C2
            k2 = _rotl(k2, 33)
            k2 *= _C1
            b ^= k2
            b[:] = _rotl(b, 31) + a
            b[:] = b * np.uint64(5) + np.uint64(0x38495AB5)

        # Tail: the len & 15 trailing bytes, masked out of the same word
        # loads. A row with no tail reads k1 = k2 = 0, which mixes to 0
        # and leaves h1, h2 as the canonical switch does.
        tail = lens_s & 15
        w0, w1, w2 = W[q], W[q + 1], W[q + 2]
        k1 = ((w0 >> rs) | ((w1 << one) << ls)) & _BYTE_MASK[np.minimum(tail, 8)]
        k2 = ((w1 >> rs) | ((w2 << one) << ls)) & _BYTE_MASK[np.maximum(tail - 8, 0)]
        k2 *= _C2
        k2 = _rotl(k2, 33)
        k2 *= _C1
        h2 ^= k2
        k1 *= _C1
        k1 = _rotl(k1, 31)
        k1 *= _C2
        h1 ^= k1

        # Finalization
        ln_s = lens_s.astype(np.uint64)
        h1 ^= ln_s
        h2 ^= ln_s
        h1 += h2
        h2 += h1
        h1 = _fmix(h1)
        h2 = _fmix(h2)
        h1 += h2
        h2 += h1

    if order is None:
        return h1, h2
    out1 = np.empty(n, np.uint64)
    out2 = np.empty(n, np.uint64)
    out1[order] = h1
    out2[order] = h2
    return out1, out2


def murmur3_x64_128_scalar(key: bytes, seed: int = DABLOOMS_SEED) -> tuple[int, int]:
    """Pure-Python canonical transcription — the test oracle."""
    if isinstance(key, str):
        key = key.encode("utf-8")
    m = 0xFFFFFFFFFFFFFFFF
    c1 = 0x87C37B91114253D5
    c2 = 0x4CF5AD432745937F
    h1 = seed & m
    h2 = seed & m
    length = len(key)
    nblocks = length // 16

    def rotl(x, r):
        return ((x << r) | (x >> (64 - r))) & m

    def fmix(k):
        k ^= k >> 33
        k = (k * 0xFF51AFD7ED558CCD) & m
        k ^= k >> 33
        k = (k * 0xC4CEB9FE1A85EC53) & m
        k ^= k >> 33
        return k

    for b in range(nblocks):
        k1 = int.from_bytes(key[b * 16 : b * 16 + 8], "little")
        k2 = int.from_bytes(key[b * 16 + 8 : b * 16 + 16], "little")
        k1 = (k1 * c1) & m
        k1 = rotl(k1, 31)
        k1 = (k1 * c2) & m
        h1 ^= k1
        h1 = rotl(h1, 27)
        h1 = (h1 + h2) & m
        h1 = (h1 * 5 + 0x52DCE729) & m
        k2 = (k2 * c2) & m
        k2 = rotl(k2, 33)
        k2 = (k2 * c1) & m
        h2 ^= k2
        h2 = rotl(h2, 31)
        h2 = (h2 + h1) & m
        h2 = (h2 * 5 + 0x38495AB5) & m

    tail = key[nblocks * 16 :]
    if tail:
        k1 = int.from_bytes(tail[:8].ljust(8, b"\0"), "little")
        k2 = int.from_bytes(tail[8:16].ljust(8, b"\0"), "little")
        k2 = (k2 * c2) & m
        k2 = rotl(k2, 33)
        k2 = (k2 * c1) & m
        h2 ^= k2
        k1 = (k1 * c1) & m
        k1 = rotl(k1, 31)
        k1 = (k1 * c2) & m
        h1 ^= k1

    h1 ^= length
    h2 ^= length
    h1 = (h1 + h2) & m
    h2 = (h2 + h1) & m
    h1 = fmix(h1)
    h2 = fmix(h2)
    h1 = (h1 + h2) & m
    h2 = (h2 + h1) & m
    return h1, h2


def dablooms_hash_words(keys, seed: int = DABLOOMS_SEED) -> tuple[np.ndarray, np.ndarray]:
    """The reference's (h1, h2) uint32 pair per key.

    Public dablooms `hash_func` (src/dablooms.c:≈182) computes a
    uint32 checksum[4] from the 128-bit hash and uses checksum[0] and
    checksum[1] — on little-endian, the low and high 32-bit halves of
    the first uint64 output word.
    """
    out1, _ = murmur3_x64_128(keys, seed)
    return _split_words(out1)


def dablooms_hash_words_buffer(
    buf: np.ndarray,
    offsets: np.ndarray,
    lengths: np.ndarray,
    seed: int = DABLOOMS_SEED,
) -> tuple[np.ndarray, np.ndarray]:
    """Zero-copy-buffer variant of :func:`dablooms_hash_words`."""
    out1, _ = murmur3_x64_128_buffer(buf, offsets, lengths, seed)
    return _split_words(out1)


def _split_words(out1: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    h1 = out1.astype(np.uint32)  # low 32 bits
    h2 = (out1 >> np.uint64(32)).astype(np.uint32)  # high 32 bits
    return h1, h2
