"""Scaling (stacking) counting Bloom filter.

Semantics follow the public dablooms scaling bloom
(src/dablooms.c: `scaling_bloom_add` ≈L487, `scaling_bloom_remove`
≈L517, `scaling_bloom_check` ≈L537, `new_counting_bloom_from_scale`
≈L352, ERROR_TIGHTENING_RATIO=0.5 ≈L19):

- An ordered stack of counting-bloom layers. Layer i is built with
  error_rate = ε0 * 0.5^(i+1) (geometric tightening, Almeida et al.
  2007) and the *same* capacity, so compound FP ≤ Σ ε0*0.5^(i+1) ≤ ε0
  regardless of how many layers accumulate.
- Every element carries a monotone uint64 id. Adds route to the newest
  layer whose first_id <= id; a brand-new id (> max_id) landing when
  the newest layer holds >= capacity-1 elements triggers growth of a
  fresh layer with first_id = max_id + 1.
- Removes route by id to the layer that held the insert; checks OR
  across layers (newest→oldest in the reference; order-independent).

Distributed extension (north_rule, not in the single-process
reference): shards build independent scaling filters over disjoint id
ranges; merge concatenates layers (associative, order canonicalized by
first_id) and counter-sums any layers that share (first_id, geometry).
To keep the compound FP bound ≤ ε across S shards, the builder hands
each shard an ε budget of ε/S — since nfuncs = ceil(log2(1/ε)), a
1000-way split costs only ~10 extra hash functions per layer.
"""

from __future__ import annotations

import struct
from collections.abc import Iterable, Iterator

import numpy as np

from dablooms_spark.core.counting_bloom import _HDR as _LAYER_HDR
from dablooms_spark.core.counting_bloom import CountingBloom
from dablooms_spark.core.geometry import ERROR_TIGHTENING_RATIO, BloomGeometry
from dablooms_spark.functions.murmur import DABLOOMS_SEED, dablooms_hash_words

_MAGIC = b"DBSC"
_VERSION = 1
# magic 4s | version u16 | pad u16 | capacity u64 | error f64 | max_id u64 |
# num_layers u32 | pad u32
_HDR = struct.Struct("<4sHHQdQII")
# then num_layers records of: length u64 | counting-bloom blob
_LEN = struct.Struct("<Q")


class ScalingBloom:
    __slots__ = ("capacity", "error_rate", "seed", "layers", "max_id")

    def __init__(
        self,
        capacity: int,
        error_rate: float,
        seed: int = DABLOOMS_SEED,
        layers: list[CountingBloom] | None = None,
        max_id: int = 0,
        start_id: int = 0,
    ):
        """`start_id` sets the initial layer's first_id (0 in the
        reference's scaling_bloom_init ≈L382). Distributed shard builds
        pass their id-range start so layers from different shards never
        collide on first_id and merge stays a pure concatenation."""
        self.capacity = int(capacity)
        self.error_rate = float(error_rate)
        self.seed = seed
        self.max_id = int(max_id) if layers is not None else max(int(start_id) - 1, 0)
        if layers is None:
            layers = [self._new_layer(0, first_id=int(start_id))]
        self.layers = layers

    def _new_layer(self, layer_index: int, first_id: int) -> CountingBloom:
        eps = self.error_rate * ERROR_TIGHTENING_RATIO ** (layer_index + 1)
        return CountingBloom(self.capacity, eps, first_id=first_id, seed=self.seed)

    # ---- id routing ------------------------------------------------------

    def _route(self, ids: np.ndarray) -> np.ndarray:
        """Per-row target layer index: newest layer with first_id <= id
        (the reference's newest→oldest scan, ≈L490); ids below every
        first_id fall through to layer 0, as the C loop does."""
        first_ids = np.array([l.first_id for l in self.layers], dtype=np.int64)
        tgt = np.searchsorted(first_ids, ids, side="right") - 1
        return np.maximum(tgt, 0)

    # ---- mutation --------------------------------------------------------

    def add(self, keys, ids) -> None:
        """Batch add with id routing and capacity-triggered layer growth.

        `ids` must be sorted non-decreasing within the batch (the Spark
        build sorts within partitions upstream, mirroring the monotone
        insertion-sequence assumption of the reference).
        """
        if len(keys) == 0:
            return
        keys = np.asarray(keys, dtype=object)
        h1, h2 = dablooms_hash_words(keys, self.seed)
        self.add_hashed(h1, h2, ids)

    def add_hashed(self, h1: np.ndarray, h2: np.ndarray, ids) -> None:
        """Hash-precomputed variant (the Arrow zero-copy build path)."""
        n = len(h1)
        if n == 0:
            return
        ids = np.asarray(ids, dtype=np.int64)
        if n > 1 and np.any(np.diff(ids) < 0):
            raise ValueError("ScalingBloom.add requires non-decreasing ids")

        # Historic rows (id <= max_id) route to their original layer and
        # never trigger growth (grow requires id > max_id, ≈L497).
        hist = ids <= self.max_id
        if np.any(hist):
            tgt = self._route(ids[hist])
            hh1, hh2 = h1[hist], h2[hist]
            for li in np.unique(tgt):
                m = tgt == li
                self.layers[li].add_hashed(hh1[m], hh2[m])

        fresh_idx = np.flatnonzero(~hist)
        pos = 0
        while pos < len(fresh_idx):
            cur = self.layers[-1]
            room = (self.capacity - 1) - cur.count
            if room <= 0:
                # new_counting_bloom_from_scale: first_id = max_id + 1.
                self.layers.append(
                    self._new_layer(len(self.layers), first_id=self.max_id + 1)
                )
                cur = self.layers[-1]
                room = (self.capacity - 1) - cur.count
            take = fresh_idx[pos : pos + room]
            cur.add_hashed(h1[take], h2[take])
            self.max_id = int(ids[take[-1]])
            pos += len(take)

    def remove(self, keys, ids) -> None:
        """Batch remove routed by id (scaling_bloom_remove ≈L517)."""
        if len(keys) == 0:
            return
        keys = np.asarray(keys, dtype=object)
        h1, h2 = dablooms_hash_words(keys, self.seed)
        self.remove_hashed(h1, h2, ids)

    def remove_hashed(self, h1: np.ndarray, h2: np.ndarray, ids) -> None:
        if len(h1) == 0:
            return
        ids = np.asarray(ids, dtype=np.int64)
        tgt = self._route(ids)
        for li in np.unique(tgt):
            m = tgt == li
            self.layers[li].remove_hashed(h1[m], h2[m])

    def check(self, keys) -> np.ndarray:
        """Batch membership: OR across layers (scaling_bloom_check ≈L537).
        One murmur hash per key, re-expanded per layer geometry."""
        if len(keys) == 0:
            return np.empty(0, dtype=bool)
        keys = np.asarray(keys, dtype=object)
        h1, h2 = dablooms_hash_words(keys, self.seed)
        return self.check_hashed(h1, h2)

    def check_hashed(self, h1: np.ndarray, h2: np.ndarray) -> np.ndarray:
        return check_layers(reversed(self.layers), h1, h2)

    @property
    def count(self) -> int:
        return sum(l.count for l in self.layers)

    # ---- cardinality from the counters alone -----------------------------

    def counter_sum(self) -> int:
        return sum(l.counter_sum() for l in self.layers)

    def added_count(self) -> tuple[int, bool]:
        """(live adds, exact?) across all layers — each key lives in
        exactly one layer (id routing), so the per-layer counter-sum
        counts (see CountingBloom.added_count) simply add. exact iff
        every layer is exact."""
        total, exact = 0, True
        for l in self.layers:
            n, ok = l.added_count()
            total += n
            exact = exact and ok
        return total, exact

    def density_estimate(self) -> float:
        """Swamidass–Baldi bit-density estimate summed over layers
        (layers partition the key space by id, so estimates add)."""
        return sum(l.density_estimate() for l in self.layers)

    # ---- merge / subtract --------------------------------------------------

    def subtract(self, other: "ScalingBloom") -> "ScalingBloom":
        """Layer-wise counter subtraction — the blob-algebra form of a
        batch remove. `other` is a DELETION filter sharing this
        filter's layer skeleton (same first_id + error_rate per touched
        layer, as built by operators.bloom_remove's distributed path);
        each matching layer subtracts counter-wise, clamped at 0 —
        exactly what remove_hashed would have done row-at-a-time.
        Mutates self and returns it."""
        if (self.capacity, self.seed) != (other.capacity, other.seed):
            raise ValueError("cannot subtract scaling blooms with different config")
        mine = {
            (l.first_id, l.geometry.error_rate): l for l in self.layers
        }
        for dl in other.layers:
            if dl.count == 0 and not dl.counters.any():
                continue
            tgt = mine.get((dl.first_id, dl.geometry.error_rate))
            if tgt is None:
                raise ValueError(
                    "deletion filter layer (first_id="
                    f"{dl.first_id}, eps={dl.geometry.error_rate:g}) has no "
                    "matching layer in the target filter"
                )
            tgt.subtract(dl)
        return self

    def merge(self, other: "ScalingBloom") -> "ScalingBloom":
        """Associative layer-wise merge: counter-sum layers that share
        (first_id, geometry); concatenate the rest; canonical order by
        (first_id, error_rate desc) so any merge tree yields a
        bit-identical serialized filter."""
        if (self.capacity, self.seed) != (other.capacity, other.seed):
            raise ValueError("cannot merge scaling blooms with different config")
        by_key: dict[tuple, CountingBloom] = {}
        for layer in list(self.layers) + list(other.layers):
            key = (layer.first_id, layer.geometry.error_rate)
            if key in by_key:
                by_key[key] = by_key[key].merge(layer)
            else:
                by_key[key] = layer
        layers = [by_key[k] for k in sorted(by_key, key=lambda t: (t[0], -t[1]))]
        return ScalingBloom(
            self.capacity,
            min(self.error_rate, other.error_rate),
            seed=self.seed,
            layers=layers,
            max_id=max(self.max_id, other.max_id),
        )

    @classmethod
    def merge_blobs(cls, blobs: list[bytes], seed: int = DABLOOMS_SEED) -> bytes:
        """Merge serialized scaling filters AT THE BYTE LEVEL.

        Layers serialize independently, and disjoint-range shard layers
        never share (first_id, error_rate), so the common case is a
        pure splice: read the layer records, sort them by key, and
        concatenate layer bytes — zero numpy work, zero unpack/repack.
        Colliding layers (same first_id AND error_rate) fall back to
        CountingBloom.merge_blobs for that group. Returns the merged
        blob (callers needing the object deserialize once)."""
        metas = []
        by_key: dict[tuple, list[bytes]] = {}
        for blob in blobs:
            capacity, error_rate, max_id, records = layer_records(blob)
            metas.append((capacity, error_rate, max_id))
            for l_fid, l_eps, _cnt, rec in records:
                by_key.setdefault((l_fid, -l_eps), []).append(bytes(rec))
        if len({(m[0]) for m in metas}) != 1:
            raise ValueError("cannot merge scaling blooms with different capacity")
        merged_layers = []
        for key in sorted(by_key):
            group = by_key[key]
            if len(group) == 1:
                merged_layers.append(group[0])
            else:
                merged_layers.append(
                    CountingBloom.merge_blobs(group, seed=seed).to_bytes()
                )
        capacity = metas[0][0]
        error_rate = min(m[1] for m in metas)
        max_id = max(m[2] for m in metas)
        parts = [
            _HDR.pack(
                _MAGIC, _VERSION, 0, capacity, error_rate, max_id,
                len(merged_layers), 0,
            )
        ]
        for rec in merged_layers:
            parts.append(_LEN.pack(len(rec)))
            parts.append(rec)
        return b"".join(parts)

    # ---- serde -----------------------------------------------------------

    def to_bytes(self) -> bytes:
        parts = [
            _HDR.pack(
                _MAGIC,
                _VERSION,
                0,
                self.capacity,
                self.error_rate,
                self.max_id,
                len(self.layers),
                0,
            )
        ]
        for layer in self.layers:
            blob = layer.to_bytes()
            parts.append(_LEN.pack(len(blob)))
            parts.append(blob)
        return b"".join(parts)

    @classmethod
    def from_bytes(cls, blob: bytes, seed: int = DABLOOMS_SEED) -> "ScalingBloom":
        capacity, error_rate, max_id, records = layer_records(blob)
        layers = [CountingBloom.from_bytes(rec, seed=seed) for *_, rec in records]
        return cls(capacity, error_rate, seed=seed, layers=layers, max_id=max_id)

    def __repr__(self):
        return (
            f"ScalingBloom(capacity={self.capacity}, error_rate={self.error_rate:g}, "
            f"layers={len(self.layers)}, count={self.count}, max_id={self.max_id})"
        )


def layer_records(blob: bytes) -> tuple[int, float, int, Iterator[tuple]]:
    """The one reader of the scaling-blob layout: (capacity,
    error_rate, max_id, records), where records yields each layer as
    (first_id, layer error rate, count, counting-bloom blob bytes),
    the fields read from the layer's own counting-bloom header. Raises
    on a foreign magic before any record is read."""
    magic, _ver, _pad, capacity, error_rate, max_id, nlayers, _p2 = _HDR.unpack_from(blob, 0)
    if magic != _MAGIC:
        raise ValueError("not a scaling-bloom blob")

    def records() -> Iterator[tuple]:
        off = _HDR.size
        for _ in range(nlayers):
            (ln,) = _LEN.unpack_from(blob, off)
            off += _LEN.size
            rec = blob[off : off + ln]
            off += ln
            h = _LAYER_HDR.unpack_from(rec, 0)
            yield h[9], h[5], h[10], rec

    return capacity, error_rate, max_id, records()


def check_layers(
    layers: Iterable[CountingBloom], h1: np.ndarray, h2: np.ndarray
) -> np.ndarray:
    """The one layered membership walk (scaling_bloom_check ≈L537):
    OR of the layers' verdicts, `layers` given newest first. A key that
    answers "present" drops out of every older layer's check — at
    steady state most hits are recent — and the walk pulls no further
    layer once every key has, so a generator that decodes layers on
    demand (the sharded cogroup probe) decodes no more than it needs."""
    verdict = np.zeros(len(h1), dtype=bool)
    if not len(h1):
        return verdict
    pending = ~verdict
    for layer in layers:
        verdict[pending] = layer.check_hashed(h1[pending], h2[pending])
        pending = ~verdict
        if not pending.any():
            break
    return verdict
