"""Counting Bloom filter — numpy state + batch kernels.

Semantics follow the public dablooms counting bloom
(src/dablooms.c: `counting_bloom_add` ≈L202, `counting_bloom_remove`
≈L220, `counting_bloom_check` ≈L238, nibble ops `bitmap_increment` /
`bitmap_decrement` / `bitmap_check` ≈L97–170):

- 4-bit saturating counters, two per byte (even counter index → high
  nibble, odd → low nibble, matching `bitmap_increment`'s layout).
- Banded layout: hash function i owns slice [i*cpf, (i+1)*cpf).
- check(key) = AND over all nfuncs counters != 0 → no false negatives.
- Documented deviation: the reference *errors and refuses* an
  increment that would overflow 0x0f (≈L108); we saturate at 15
  instead (and clamp decrements at 0), which preserves the no-false-
  negative invariant and — crucially — makes the counter a saturating
  sum, so distributed counter-sum merge is exact: clip(a,15) ⊕
  clip(b,15) == clip(a+b,15).

In-memory state is the *unpacked* uint8 counter array (one counter
per byte, values 0..15) for fast vectorized kernels; serialization
packs to dablooms-style nibbles with a small self-describing header
(the reference's files are not self-describing — new_*_from_file
src/dablooms.c:≈322 requires the caller to re-supply capacity and
error_rate; we embed them instead so merges can validate geometry).

Every counter update — add, remove, merge, subtract, merge_blobs — is
the one counter scatter of core/pieces.py: the touched counters as
int32, `scatter` of the signed counts, `settle` back to clipped uint8
(or the strict refusal, raised before anything is written).
"""

from __future__ import annotations

import struct

import numpy as np

from dablooms_spark.core.codec import delta_decode, delta_encode
from dablooms_spark.core.geometry import BloomGeometry
from dablooms_spark.core.pieces import scatter, settle
from dablooms_spark.functions.hashing import km_expand, km_indexes
from dablooms_spark.functions.murmur import DABLOOMS_SEED

_MAGIC = b"DBSK"
_VERSION = 1
_KIND_COUNTING = 1  # dense nibble payload
_KIND_COUNTING_SPARSE = 2  # u64 nnz + index array + u8 counts
# u64 nnz + u64 gap_len + u64 exc_len + delta-u8 gap stream +
# (pos u32, gap u32) exceptions + u8 counts — ~2 B/counter vs 5 for
# kind 2; only used while size fits u32 exception fields
_KIND_COUNTING_SPARSE_GAPS = 3
# magic 4s | version u16 | kind u8 | flags u8 | capacity u64 | error f64 |
# nfuncs u32 | pad u32 | counts_per_func u64 | first_id u64 | count u64
# flags bit 0: on_overflow == 'error' (strict reference-parity mode) —
# older blobs wrote 0 here, which correctly decodes as 'saturate'
_HDR = struct.Struct("<4sHBBQdIIQQQ")
_FLAG_STRICT_OVERFLOW = 0x01


class CountingBloom:
    """One counting-bloom layer with fixed geometry."""

    __slots__ = ("geometry", "counters", "count", "first_id", "seed", "on_overflow")

    def __init__(
        self,
        capacity: int,
        error_rate: float,
        first_id: int = 0,
        seed: int = DABLOOMS_SEED,
        _counters: np.ndarray | None = None,
        _count: int = 0,
        on_overflow: str = "saturate",
    ):
        if on_overflow not in ("saturate", "error"):
            raise ValueError("on_overflow must be 'saturate' or 'error'")
        self.geometry = BloomGeometry(capacity, error_rate)
        self.seed = seed
        self.first_id = int(first_id)
        self.count = int(_count)
        # "saturate" (default): counters clamp at 15/0 — keeps
        # distributed counter-sum merges exact and associative.
        # "error": reference parity — bitmap_increment (src/dablooms.c
        # ≈L108) REFUSES an increment that would overflow a 4-bit
        # counter, and bitmap_decrement (≈L122) refuses decrementing a
        # zero counter. Batch calls raise atomically (no partial
        # mutation), unlike the reference's per-key error return.
        self.on_overflow = on_overflow
        if _counters is None:
            self.counters = np.zeros(self.geometry.size, dtype=np.uint8)
        else:
            if _counters.shape != (self.geometry.size,):
                raise ValueError("counter array does not match geometry")
            self.counters = _counters

    # ---- kernels -------------------------------------------------------

    def _indexes(self, keys) -> np.ndarray:
        g = self.geometry
        return km_indexes(keys, g.nfuncs, g.counts_per_func, self.seed)

    def _indexes_hashed(self, h1: np.ndarray, h2: np.ndarray) -> np.ndarray:
        g = self.geometry
        return km_expand(h1, h2, g.nfuncs, g.counts_per_func)

    def _apply(self, idx: np.ndarray, delta: int, n: int) -> None:
        """Add `delta` (+1 add, −1 remove) at every index through the
        one counter kernel (core/pieces.py): gather the touched
        counters, or take all of them, as int32, scatter, settle. A
        strict refusal raises before anything is written."""
        flat = idx.ravel()
        strict = self.on_overflow == "error"
        # sparse under size/8 indices: it sorts the indices but gathers
        # and writes back only the hit counters. Timed on this typed
        # path at 9.6M counters (numpy 1.26, 4-core host, medians of 7,
        # two runs): size/4 sparse 73-86 ms vs dense 34-51 ms, size/8
        # 29-31 vs 24-40 ms, size/16 15-18 vs 22-23 ms.
        if flat.size * 8 < self.geometry.size:
            at, counts = np.unique(flat, return_counts=True)
            acc = self.counters[at].astype(np.int32)
            scatter(acc, counts.astype(np.int32) * np.int32(delta))
            self.counters[at] = settle(acc, strict)
        else:
            acc = self.counters.astype(np.int32)
            scatter(acc, np.int32(delta), flat)
            self.counters = settle(acc, strict)
        self.count += delta * n

    def add(self, keys) -> None:
        """Batch add: scatter +1 on all banded indices, saturating at 15
        (counting_bloom_add ≈L202 → bitmap_increment ≈L97)."""
        if len(keys) == 0:
            return
        self._apply(self._indexes(keys), 1, len(keys))

    def add_hashed(self, h1: np.ndarray, h2: np.ndarray) -> None:
        if len(h1) == 0:
            return
        self._apply(self._indexes_hashed(h1, h2), 1, len(h1))

    def add_buffer(self, buf, offsets, lengths) -> None:
        """Zero-copy Arrow buffer path (same surface as the other
        sketches, so the generic sketch_agg operators can build
        per-group membership filters)."""
        from dablooms_spark.functions.murmur import dablooms_hash_words_buffer

        h1, h2 = dablooms_hash_words_buffer(buf, offsets, lengths, self.seed)
        self.add_hashed(h1, h2)

    def remove(self, keys) -> None:
        """Batch remove: scatter −1, clamped at 0
        (counting_bloom_remove ≈L220 → bitmap_decrement ≈L122)."""
        if len(keys) == 0:
            return
        self._apply(self._indexes(keys), -1, len(keys))

    def remove_hashed(self, h1: np.ndarray, h2: np.ndarray) -> None:
        if len(h1) == 0:
            return
        self._apply(self._indexes_hashed(h1, h2), -1, len(h1))

    def check(self, keys) -> np.ndarray:
        """Batch membership: bool array; True iff every banded counter
        is non-zero (counting_bloom_check ≈L238). Vectorized full
        verdict matrix instead of the reference's branchy early-exit —
        SIMD beats branching at batch scale."""
        if len(keys) == 0:
            return np.empty(0, dtype=bool)
        idx = self._indexes(keys)
        return (self.counters[idx] != 0).all(axis=1)

    def check_hashed(self, h1: np.ndarray, h2: np.ndarray) -> np.ndarray:
        if len(h1) == 0:
            return np.empty(0, dtype=bool)
        idx = self._indexes_hashed(h1, h2)
        return (self.counters[idx] != 0).all(axis=1)

    # ---- cardinality from the counters alone ----------------------------

    def counter_sum(self) -> int:
        """Sum of all 4-bit counters (int64 accumulate)."""
        return int(self.counters.sum(dtype=np.int64))

    def saturated(self) -> bool:
        """True iff any counter currently sits at the 4-bit ceiling —
        a conservative witness that an add MAY have clipped (a counter
        legitimately at 15 also trips it). While this is False, no
        upward clip has ever happened."""
        return bool((self.counters == 15).any())

    def added_count(self) -> tuple[int, bool]:
        """(live adds, exact?) recovered from the counter state alone.

        Every add scatters +1 into exactly nfuncs counters and every
        remove scatters −1 into the same ones, so
        sum(counters) == nfuncs · (adds − removes) EXACTLY while no
        counter has ever clipped (up at 15, or down at 0 by removing a
        key that was never added — the same remove-only-present-keys
        contract dablooms' counting_bloom_remove assumes,
        src/dablooms.c:≈L220). Unlike the header count (dablooms'
        `counting_bloom_add` ≈L202 bumps header->count), the
        counter-sum stays correct under counter-sum merges of
        overlapping partials, because duplicate adds add.

        exact=False when a saturation witness exists or the sum is not
        divisible by nfuncs; the returned value is then a lower bound.
        """
        s = self.counter_sum()
        k = self.geometry.nfuncs
        exact = (not self.saturated()) and s % k == 0
        return s // k, exact

    def density_estimate(self) -> float:
        """Bit-density cardinality (Swamidass & Baldi, J. Chem. Inf.
        Model. 2007): with the banded layout each hash function owns
        its own cpf-slot table, so per band
        n̂_i = −cpf · ln(1 − X_i/cpf) with X_i = nonzero slots in band
        i; average the bands. Works even when counters saturate (it
        only reads zero/nonzero), at estimator (not exact) precision.
        """
        g = self.geometry
        bands = self.counters.reshape(g.nfuncs, g.counts_per_func)
        fill = (bands != 0).sum(axis=1, dtype=np.int64) / float(g.counts_per_func)
        # a completely full band carries no information — clamp instead
        # of returning inf so merged estimates stay finite
        fill = np.minimum(fill, 1.0 - 1e-12)
        return float(np.mean(-g.counts_per_func * np.log1p(-fill)))

    # ---- merge ---------------------------------------------------------

    def compatible(self, other: "CountingBloom") -> bool:
        return (
            self.geometry == other.geometry
            and self.seed == other.seed
            and self.first_id == other.first_id
        )

    @classmethod
    def merge_blobs(cls, blobs: list[bytes], seed: int = DABLOOMS_SEED) -> "CountingBloom":
        """Merge serialized filters without densifying a sparse one:
        every payload is a counter piece (kinds 2 and 3 sparse, the
        nibble kind dense) scattered into ONE accumulator by the fold
        step of core/pieces.py. Traffic = one accumulator pass plus
        Σ nnz — the shape a 1000-shard merge needs. Any strict input
        makes the merge strict, and a mixed merge is refused: a
        saturate blob may carry clipped counters."""
        acc = None
        for blob in blobs:
            hdr, g, idx, vals = _payload(blob)
            _m, _v, _k, flags, capacity, error_rate, _nf, _p, _cpf, fid, cnt = hdr
            b_strict = bool(flags & _FLAG_STRICT_OVERFLOW)
            if acc is None:
                geometry, strict = (capacity, error_rate), b_strict
                acc, count, first_id = np.zeros(g.size, dtype=np.int32), 0, fid
            elif (capacity, error_rate) != geometry:
                raise ValueError("cannot merge counting blooms with different geometry")
            elif b_strict != strict:
                raise ValueError("cannot merge blobs with different on_overflow modes")
            count += cnt
            first_id = min(first_id, fid)
            scatter(acc, vals, idx)
        return cls(
            *geometry,
            first_id=first_id,
            seed=seed,
            # a strict cross-shard sum past 15 is the overflow the
            # reference refuses single-node (bitmap_increment ≈L108)
            _counters=settle(acc, strict),
            _count=count,
            on_overflow="error" if strict else "saturate",
        )

    def subtract(self, other: "CountingBloom") -> "CountingBloom":
        """Counter-wise subtraction, clamped at 0 — the blob-algebra
        form of a batch remove. `other` is a DELETION-COUNT filter
        (built by adding the deleted keys); subtracting it is exactly
        equivalent to remove()ing those keys one batch at a time:
        counters never exceed 15, so max(c - min(d,15), 0) ==
        max(c - d, 0) for any true multiplicity d. This is what lets a
        10^10-row deletion stream reduce to per-layer blobs in the
        cluster instead of 16 B/row on the driver. Mutates self and
        returns it (mirroring remove_hashed)."""
        if self.geometry != other.geometry or self.seed != other.seed:
            raise ValueError(
                "cannot subtract counting blooms with different geometry"
            )
        acc = self.counters.astype(np.int32)
        scatter(acc, -other.counters.astype(np.int32))
        self.counters = settle(acc, self.on_overflow == "error")
        # floor at 0: over-removal (deleting never-inserted keys) must
        # not drive the count negative — a negative count cannot even
        # serialize (u64 header field)
        self.count = max(self.count - other.count, 0)
        return self

    def merge(self, other: "CountingBloom") -> "CountingBloom":
        """Associative, commutative saturating counter-sum merge.

        Not implemented by the single-process reference; this is the
        distributed extension (north_rule). Exactness: a counter is
        the saturated number of (key, band) hits; saturating-sum of
        saturated partials equals the saturated total, so a merged
        filter is bit-identical to a single-node build over the union.

        Raises: ValueError on geometry/seed/on_overflow mismatch;
        OverflowError when both operands are strict
        (on_overflow='error') and a summed counter would pass 15 —
        strict checkpoints therefore need overflow handling at
        restore/merge time (see sources/checkpoint.py).
        """
        if self.geometry != other.geometry or self.seed != other.seed:
            raise ValueError("cannot merge counting blooms with different geometry")
        if self.on_overflow != other.on_overflow:
            # a saturate-mode operand may already hold clipped counters,
            # so a "strict" merge result could understate true counts —
            # exactly the remove-hazard strict mode exists to prevent.
            # Refuse rather than silently mislabel.
            raise ValueError(
                "cannot merge filters with different on_overflow modes "
                f"({self.on_overflow!r} vs {other.on_overflow!r})"
            )
        strict = self.on_overflow == "error"
        acc = self.counters.astype(np.int32)
        scatter(acc, other.counters)
        return CountingBloom(
            self.geometry.capacity,
            self.geometry.error_rate,
            first_id=min(self.first_id, other.first_id),
            seed=self.seed,
            _counters=settle(acc, strict),
            _count=self.count + other.count,
            on_overflow="error" if strict else "saturate",
        )

    # ---- serde ---------------------------------------------------------

    def to_bytes(self) -> bytes:
        """Self-describing blob; picks dense nibble packing (the
        dablooms file layout) or a sparse (index, count) encoding,
        whichever is smaller. Sparse matters at scale: a shard holding
        n keys of a filter sized for N >> n keys has ~n·k nonzero
        counters out of N·k/ln2 — stage-1 partial blobs shrink ~10x,
        which is exactly the bytes the merge shuffle and the driver
        collect pay for."""
        g = self.geometry
        nnz = int(np.count_nonzero(self.counters))
        idx_width = 8 if g.size > 0xFFFFFFFF else 4
        sparse_bytes = 8 + nnz * (idx_width + 1)
        # gaps cost >= 1 B per nonzero: a dense payload within both
        # sparse floors wins (ties go dense) without coding the nonzeros
        kind = _KIND_COUNTING
        if g.num_nibble_bytes > min(24 + 2 * nnz, sparse_bytes):
            nz = np.flatnonzero(self.counters)
            vals = self.counters[nz]
            candidates = [(g.num_nibble_bytes, _KIND_COUNTING),
                          (sparse_bytes, _KIND_COUNTING_SPARSE)]
            if g.size <= 0xFFFFFFFF:
                gaps_b, exc_b = delta_encode(nz.astype(np.int64))
                candidates.append((24 + len(gaps_b) + len(exc_b) + nnz,
                                   _KIND_COUNTING_SPARSE_GAPS))
            kind = min(candidates)[1]
        flags = _FLAG_STRICT_OVERFLOW if self.on_overflow == "error" else 0
        header = _HDR.pack(
            _MAGIC,
            _VERSION,
            kind,
            flags,
            g.capacity,
            g.error_rate,
            g.nfuncs,
            0,
            g.counts_per_func,
            self.first_id,
            self.count,
        )
        if kind == _KIND_COUNTING_SPARSE_GAPS:
            return (
                header
                + struct.pack("<QQQ", nnz, len(gaps_b), len(exc_b))
                + gaps_b
                + exc_b
                + vals.tobytes()
            )
        if kind == _KIND_COUNTING_SPARSE:
            idx = nz.astype(np.uint64 if idx_width == 8 else np.uint32)
            return header + struct.pack("<Q", nnz) + idx.tobytes() + vals.tobytes()
        c = self.counters
        if len(c) % 2:
            c = np.concatenate([c, np.zeros(1, np.uint8)])
        packed = (c[0::2] << 4) | c[1::2]  # even index → high nibble
        return header + packed.tobytes()

    @classmethod
    def from_bytes(cls, blob: bytes, seed: int = DABLOOMS_SEED) -> "CountingBloom":
        hdr, g, idx, vals = _payload(blob)
        _m, _v, _k, flags, capacity, error_rate, _nf, _p, _cpf, first_id, count = hdr
        if idx is None:
            counters = vals
        else:
            counters = np.zeros(g.size, dtype=np.uint8)
            counters[idx] = vals
        return cls(
            capacity,
            error_rate,
            first_id=first_id,
            seed=seed,
            _counters=counters,
            _count=count,
            on_overflow="error" if flags & _FLAG_STRICT_OVERFLOW else "saturate",
        )

    def __repr__(self):
        g = self.geometry
        return (
            f"CountingBloom(capacity={g.capacity}, error_rate={g.error_rate:g}, "
            f"nfuncs={g.nfuncs}, cpf={g.counts_per_func}, count={self.count}, "
            f"first_id={self.first_id})"
        )


def _payload(blob: bytes) -> tuple[tuple, BloomGeometry, np.ndarray | None, np.ndarray]:
    """The one payload reader (from_bytes, merge_blobs): (header
    fields, the geometry they name, indices, u8 counts) — the counts
    as a counter piece: sorted int64 indices with kinds 2 and 3 (the
    kind-3 gap stream is the sparse piece's, decoded by the same
    codec), or None and the whole unpacked counter array with the
    nibble kind. Raises on a foreign magic or kind byte and on a
    header whose nfuncs/counts_per_func do not match its capacity and
    error rate."""
    hdr = _HDR.unpack_from(blob, 0)
    magic, _v, kind, _f, capacity, error_rate, nfuncs, _p, cpf, _fid, _cnt = hdr
    if magic != _MAGIC or kind not in (
        _KIND_COUNTING, _KIND_COUNTING_SPARSE, _KIND_COUNTING_SPARSE_GAPS
    ):
        raise ValueError("not a counting-bloom blob")
    g = BloomGeometry(capacity, error_rate)
    if g.nfuncs != nfuncs or g.counts_per_func != cpf:
        raise ValueError("blob geometry does not match its config")
    off = _HDR.size
    if kind == _KIND_COUNTING_SPARSE_GAPS:
        nnz, gl, el = struct.unpack_from("<QQQ", blob, off)
        off += 24
        idx = delta_decode(blob[off : off + gl], blob[off + gl : off + gl + el])
        vals = np.frombuffer(blob, dtype=np.uint8, count=nnz, offset=off + gl + el)
        return hdr, g, idx, vals
    if kind == _KIND_COUNTING_SPARSE:
        (nnz,) = struct.unpack_from("<Q", blob, off)
        idx_dtype = np.uint64 if g.size > 0xFFFFFFFF else np.uint32
        idx = np.frombuffer(blob, dtype=idx_dtype, count=nnz, offset=off + 8)
        vals = np.frombuffer(blob, dtype=np.uint8, count=nnz, offset=off + 8 + idx.nbytes)
        return hdr, g, idx.astype(np.int64), vals
    packed = np.frombuffer(blob, dtype=np.uint8, offset=off)
    counters = np.empty(len(packed) * 2, dtype=np.uint8)
    counters[0::2] = packed >> 4  # even index → high nibble
    counters[1::2] = packed & 0x0F
    return hdr, g, None, counters[: g.size]
