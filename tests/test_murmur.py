"""Hash-kernel parity tests (SURVEY.md §5.2.1).

The vectorized numpy MurmurHash3_x64_128 must agree byte-for-byte with
the canonical algorithm: we check it against (a) the SMHasher
verification protocol whose published constant for MurmurHash3_x64_128
is 0x6384BA69, and (b) a scalar pure-Python transcription, on
adversarial lengths (0, 1, 15, 16, 17, multi-block, long).
"""

import random

import tracemalloc

import numpy as np
import pyarrow as pa
import pytest

from dablooms_spark.functions.arrow_utils import arrow_byte_view
from dablooms_spark.functions.murmur import (
    DABLOOMS_SEED,
    murmur3_x64_128,
    murmur3_x64_128_buffer,
    murmur3_x64_128_scalar,
    dablooms_hash_words,
)
from dablooms_spark.functions.hashing import km_expand, km_indexes


def _hash_bytes(key: bytes, seed: int) -> bytes:
    o1, o2 = murmur3_x64_128([key], seed)
    return int(o1[0]).to_bytes(8, "little") + int(o2[0]).to_bytes(8, "little")


def test_smhasher_verification_constant():
    """SMHasher VerificationTest: hash keys {0},{0,1},...,{0..254} with
    seed 256-len, hash the concatenated digests with seed 0; the first
    4 little-endian bytes must be 0x6384BA69 (published constant for
    MurmurHash3_x64_128). Passing proves bit-exactness of the whole
    algorithm including tails and finalization."""
    digests = b""
    for i in range(256):
        key = bytes(range(i))
        digests += _hash_bytes(key, 256 - i)
    final = _hash_bytes(digests, 0)
    verification = int.from_bytes(final[:4], "little")
    assert verification == 0x6384BA69, hex(verification)


@pytest.mark.parametrize("seed", [0, 1, DABLOOMS_SEED, 0xFFFFFFFF])
def test_vectorized_matches_scalar(seed):
    rng = random.Random(42)
    keys = [b""]
    for ln in [1, 2, 7, 8, 9, 15, 16, 17, 31, 32, 33, 100, 1000, 4097]:
        keys.append(bytes(rng.randrange(256) for _ in range(ln)))
    o1, o2 = murmur3_x64_128(keys, seed)
    for i, k in enumerate(keys):
        s1, s2 = murmur3_x64_128_scalar(k, seed)
        assert (int(o1[i]), int(o2[i])) == (s1, s2), f"mismatch len={len(k)}"


def test_batch_random_fuzz():
    rng = random.Random(7)
    keys = [
        bytes(rng.randrange(256) for _ in range(rng.randrange(0, 300)))
        for _ in range(500)
    ]
    o1, o2 = murmur3_x64_128(keys, DABLOOMS_SEED)
    sample = rng.sample(range(500), 50)
    for i in sample:
        s1, s2 = murmur3_x64_128_scalar(keys[i], DABLOOMS_SEED)
        assert (int(o1[i]), int(o2[i])) == (s1, s2)


def test_str_is_hashed_as_utf8():
    o1a, o2a = murmur3_x64_128(["héllo wörld"])
    o1b, o2b = murmur3_x64_128(["héllo wörld".encode("utf-8")])
    assert o1a[0] == o1b[0] and o2a[0] == o2b[0]


def test_dablooms_words_split():
    """checksum[0]/checksum[1] = low/high 32 bits of first u64 word."""
    keys = [b"abc", b"def" * 10]
    o1, _ = murmur3_x64_128(keys)
    h1, h2 = dablooms_hash_words(keys)
    for i in range(2):
        assert int(h1[i]) == int(o1[i]) & 0xFFFFFFFF
        assert int(h2[i]) == int(o1[i]) >> 32


def test_km_indexes_match_slow_oracle():
    """(h1 + i*h2) % cpf with uint32 wrap, band offset i*cpf."""
    keys = [b"alpha", b"beta", b"x" * 50]
    nfuncs, cpf = 7, 12347
    idx = km_indexes(keys, nfuncs, cpf)
    h1, h2 = dablooms_hash_words(keys)
    for r, k in enumerate(keys):
        for i in range(nfuncs):
            expect = ((int(h1[r]) + i * int(h2[r])) & 0xFFFFFFFF) % cpf + i * cpf
            assert idx[r, i] == expect
    assert idx.shape == (3, nfuncs)
    idx2 = km_expand(h1, h2, nfuncs, cpf)
    assert np.array_equal(idx, idx2)


def test_padded_layout_edge_cases_match_scalar():
    """The word-gather kernel must be bit-identical to the canonical
    scalar transcription on batches that mix block counts and tails:
    empty keys, tail-only rows, a longest row that is an exact
    16-multiple while other rows carry tails, and a batch whose rows
    all have one length (the no-reorder case)."""
    from dablooms_spark.functions.murmur import murmur3_x64_128_scalar

    batches = [
        [b"", b"a", b"0123456789abcdef", b"0123456789abcde"],
        [b"x" * 32, b"y" * 17, b"z" * 3, b"w" * 16],      # 16-mult max + tails
        [b"fixedlen" * 3] * 5,                              # fixed-length path
        [bytes([i % 256]) * (i * 7 % 61) for i in range(200)],
    ]
    for keys in batches:
        o1, o2 = murmur3_x64_128(keys)
        for i, k in enumerate(keys):
            s1, s2 = murmur3_x64_128_scalar(k)
            assert int(o1[i]) == s1 and int(o2[i]) == s2, (keys, i)


def _assert_matches_scalar(arr, seed, keys):
    o1, o2 = murmur3_x64_128_buffer(*arrow_byte_view(arr), seed)
    assert len(o1) == len(keys)
    for i, k in enumerate(keys):
        s1, s2 = murmur3_x64_128_scalar(b"" if k is None else k, seed)
        assert (int(o1[i]), int(o2[i])) == (s1, s2), (i, None if k is None else len(k))


@pytest.mark.parametrize("seed", [0, 0xFFFFFFFF])
def test_word_kernel_edges_match_scalar(seed):
    """The word-gather kernel against the scalar oracle on the layouts
    that move its word loads: every length 0-300 (each multiple of 8
    and 16), rows starting at every byte offset mod 8, a sliced Arrow
    array whose data buffer is larger than the slice, large_string,
    null rows (hashed as empty), one 64 KiB key among short ones, and
    non-ASCII text."""
    rng = random.Random(seed)
    keys = [bytes(rng.randrange(256) for _ in range(ln)) for ln in range(301)]
    rng.shuffle(keys)
    _assert_matches_scalar(pa.array(keys, type=pa.binary()), seed, keys)

    # odd start offsets: a 1-7 byte pad row before each probe row
    odd = []
    for i, ln in enumerate([1, 7, 8, 9, 15, 16, 17, 24, 31, 32, 33, 64]):
        odd += [b"p" * (i % 7 + 1), bytes(rng.randrange(256) for _ in range(ln))]
    _assert_matches_scalar(pa.array(odd, type=pa.binary()), seed, odd)

    parent = pa.array(keys, type=pa.binary())
    sliced = parent.slice(97, 101)
    assert sliced.offset > 0
    assert sliced.buffers()[2].size > sum(len(k) for k in keys[97:198])
    _assert_matches_scalar(sliced, seed, keys[97:198])

    # the kernel copies the slice's bytes, not its parent's buffer
    big = pa.array([b"B" * (8 << 20)] + keys, type=pa.binary()).slice(1)
    view = arrow_byte_view(big)
    tracemalloc.start()
    try:
        murmur3_x64_128_buffer(*view, seed)
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert peak < (1 << 20), peak

    text = ["héllo wörld", "", "日本語のキー" * 5, "x" * 33, "ü" * 8]
    enc = [t.encode("utf-8") for t in text]
    _assert_matches_scalar(pa.array(text, type=pa.large_string()), seed, enc)
    _assert_matches_scalar(pa.array(text, type=pa.string()), seed, enc)

    with_nulls = [b"abc", None, b"0123456789abcdef0", None, b""]
    _assert_matches_scalar(pa.array(with_nulls, type=pa.binary()), seed, with_nulls)

    skewed = [b"a", b"bb" * 9, bytes(rng.randrange(256) for _ in range(64 << 10)), b"", b"c" * 16]
    _assert_matches_scalar(pa.array(skewed, type=pa.binary()), seed, skewed)


def test_list_routes_give_identical_hashes(monkeypatch):
    """A batch of only str or only bytes is laid out by Arrow; a batch
    with None or a non-text key takes the per-key loop. Both routes
    must hash str (as UTF-8), bytes, non-ASCII and empty keys to the
    same words."""
    import dablooms_spark.functions.murmur as M

    arrow_calls = []
    view = M.arrow_byte_view
    monkeypatch.setattr(M, "arrow_byte_view", lambda a: arrow_calls.append(a.type) or view(a))

    text = ["plain", "", "héllo wörld", "日本語" * 7, "x" * 16, "0123456789abcdef0"]
    raw = [t.encode("utf-8") for t in text]
    expect = [murmur3_x64_128_scalar(b) for b in raw]
    for keys in (text, raw, np.array(text, dtype=object)):
        arrow_calls.clear()
        o1, o2 = M.murmur3_x64_128(keys)
        assert arrow_calls, "a str-only or bytes-only batch takes the Arrow route"
        assert [(int(a), int(b)) for a, b in zip(o1, o2)] == expect
    for keys in (text + [7], raw + [7]):  # an int key: the per-key loop
        arrow_calls.clear()
        o1, o2 = M.murmur3_x64_128(keys)
        assert not arrow_calls
        assert [(int(a), int(b)) for a, b in zip(o1, o2)][:len(raw)] == expect
    with pytest.raises(TypeError):
        M.murmur3_x64_128(["a", None])
