"""Counter pieces — the one transport format of every distributed
bloom build and remove.

dablooms adds and removes are the same operation on 4-bit counters:
a saturating increment or a floored decrement of each key's nfuncs
banded indices (counting_bloom_add/_remove, src/dablooms.c ≈L202/
≈L220). Distributed, a map task turns its rows' `km_expand` indices
into one counter PIECE per touched key (a layer, a (shard, layer), a
counter-range chunk); the merge sums a key's pieces and clips at 15.
Because min(15, Σ min(15, tᵢ)) == min(15, Σ tᵢ) for tᵢ ≥ 0, the
merged counters are invariant to piece boundaries and encodings —
any partitioning, flush schedule or sparse/dense mix is bit-identical.

A piece row is (key columns..., idx, exc, vals, n, max_id):

- sparse: idx/exc are the delta-u8 gap stream of the sorted unique
  indices (core/codec.py), vals their clipped uint8 multiplicities;
- dense: idx is EMPTY (the marker — a non-empty sparse piece always
  has a gap stream) and vals is the key's whole clipped uint8 counter
  array.

n is the key's row count (carried by one piece per key), max_id the
largest routing id seen (0 when the stage has no ids).

on_overflow='error' (a strict filter, CountingBloom's reference-parity
mode) refuses instead of clipping: the encoder raises when a key's
count within one piece passes 15, the fold when the summed counters
do — together exactly the counters whose true total passes 15.

`scatter` and `settle` are the one counter kernel of the package:
besides the fold, every CountingBloom add, remove, merge, subtract
and blob merge runs through them, so the 4-bit add, the clip and the
strict refusal (dablooms' bitmap_increment/bitmap_decrement,
src/dablooms.c ≈L97–170) are written once, here.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator
from itertools import repeat

import numpy as np
import pyarrow as pa

from dablooms_spark.core.codec import delta_decode, delta_encode
from dablooms_spark.core.geometry import BloomGeometry
from dablooms_spark.functions.hashing import km_expand

# Bounded drain: a piece stage accumulates nfuncs-expanded index
# arrays per input partition; without a cap, worker memory is
# proportional to the CALLER'S partition size (a coalesce(1) feeding
# a multi-GB partition would OOM the Python worker). Draining every
# ~4M accumulated index elements (~16-32 MB) bounds memory
# unconditionally — the merge already sums any number of pieces per
# key, so extra pieces change nothing but shuffle row count.
PIECE_FLUSH_ELEMS = 4 << 20

# A key whose accumulated index count reaches DENSE_PIECE_FRAC × its
# counter-space size drains as a DENSE piece. At that density the
# sparse form is no smaller (nnz ≈ 0.4·size ⇒ ~2 B/nz ≈ the dense
# payload) and strictly more expensive: it sorts every index on emit
# (np.unique) and scatter-adds on merge (np.add.at), both DRAM-random
# patterns that collapse under multi-core memory-bus contention, while
# the dense path bincounts per Kirsch-Mitzenmacher band (the band's
# counter space is L2-resident) and merges by vector add — 2.06× in
# the tools/micro_dense_piece.py A/B. None disables dense pieces and
# the hold-back (sparse-only).
DENSE_PIECE_FRAC: float | None = 0.5

_PIECE_COLUMNS = [
    ("idx", "binary"), ("exc", "binary"), ("vals", "binary"),
    ("n", "long"), ("max_id", "long"),
]
_ARROW_TYPES = {"binary": pa.large_binary(), "long": pa.int64()}

Key = tuple
Route = Callable[[pa.RecordBatch], Iterable[tuple]]


def chunk_bounds(size: int, chunks: int) -> np.ndarray:
    """Counter offsets splitting a key's space into `chunks` ranges."""
    return np.linspace(0, size, chunks + 1).astype(np.int64)


def runs(codes: np.ndarray, *cols: np.ndarray) -> Iterator[tuple]:
    """(code, *col_slices) per distinct code, ascending. ONE stable
    argsort + contiguous-run slicing rather than a boolean mask per
    group: with S shards × L layers a mask loop makes S·L passes over
    the batch — pure DRAM traffic that throttles exactly where a
    build should scale."""
    if len(codes) == 0:
        return
    order = np.argsort(codes, kind="stable")
    sc = codes[order]
    cols = [c[order] for c in cols]
    starts = np.flatnonzero(np.concatenate(([True], sc[1:] != sc[:-1])))
    ends = np.append(starts[1:], len(sc))
    for lo, hi in zip(starts.tolist(), ends.tolist()):
        yield (int(sc[lo]), *(c[lo:hi] for c in cols))


def _refuse_overflow(raw: np.ndarray, strict: bool) -> None:
    """The one strict refusal (on_overflow='error'), raised before any
    counter is written: a summed counter past 15 is the increment
    bitmap_increment refuses (src/dablooms.c ≈L108), one below 0 the
    decrement of a zero counter bitmap_decrement refuses (≈L122)."""
    if not strict:
        return
    if raw.max(initial=0) > 15:
        raise OverflowError(
            "increment would overflow a 4-bit counter "
            "(reference bitmap_increment refusal; use "
            "on_overflow='saturate' for mergeable distributed builds)"
        )
    if raw.min(initial=0) < 0:
        raise OverflowError(
            "decrement of a zero counter refused "
            "(reference bitmap_decrement parity)"
        )


def dense_counts(
    parts: list[np.ndarray], g: BloomGeometry, strict: bool = False
) -> np.ndarray:
    """Clipped uint8 counters from raveled (rows, nfuncs) km_expand
    chunks: one bincount per KM band, whose counter space
    (counts_per_func cells) is L2-resident, so the scatter never
    leaves cache the way a whole-space sort does. `strict` raises
    instead of clipping."""
    cat = np.concatenate(parts).reshape(-1, g.nfuncs)
    cpf = g.counts_per_func
    out = np.empty(g.size, dtype=np.uint8)
    for b in range(g.nfuncs):
        # plain-int offset: exact in both the uint32 and the
        # giant-geometry int64 km_expand dtypes
        db = np.bincount(cat[:, b] - b * cpf, minlength=cpf)
        _refuse_overflow(db, strict)
        np.minimum(db, 15, out=db)
        out[b * cpf:(b + 1) * cpf] = db
    return out


class PieceEncoder:
    """The one piece encoder: per-key accumulation of km_expand
    indices inside a map task, drained as sparse or dense pieces.

    Build it on the driver — the module limits are read here, so they
    ship inside the pickled closure and caller overrides of
    PIECE_FLUSH_ELEMS / DENSE_PIECE_FRAC reach the workers — and pass
    `map_fn(route)` to mapInArrow. `route(batch)` yields
    (key, h1, h2, ids-or-None) per touched key; `geometry_of(key)`
    gives the key's counter space. With chunks > 1 each key's space is
    cut into counter ranges on emit and the chunk number becomes the
    last key field (counter-range merge parallelism for one wide
    filter). on_overflow='error' raises instead of clipping a piece's
    counts (see the module docstring)."""

    def __init__(
        self,
        key_fields: Iterable[str],
        geometry_of: Callable[[Key], BloomGeometry],
        chunks: int = 1,
        on_overflow: str = "saturate",
    ):
        self.key_fields = list(key_fields)
        self.geometry_of = geometry_of
        self.chunks = chunks
        if on_overflow not in ("saturate", "error"):
            raise ValueError("on_overflow must be 'saturate' or 'error'")
        self.strict = on_overflow == "error"
        self.flush_elems = PIECE_FLUSH_ELEMS
        self.dense_frac = DENSE_PIECE_FRAC
        cols = [(f, "long") for f in self.key_fields] + _PIECE_COLUMNS
        self.ddl = ", ".join(f"{f} {t}" for f, t in cols)
        self.schema = pa.schema([(f, _ARROW_TYPES[t]) for f, t in cols])

    def _encode(self, key: Key, parts: list[np.ndarray], elems: int):
        """(chunk, idx, exc, vals) for one key's accumulated indices."""
        g = self.geometry_of(key)
        bounds = chunk_bounds(g.size, self.chunks)
        if self.dense_frac is not None and elems >= self.dense_frac * g.size:
            dense = dense_counts(parts, g, self.strict)
            return [
                (c, b"", b"", dense[bounds[c]:bounds[c + 1]].tobytes())
                for c in range(self.chunks)
            ]
        nz, cnts = np.unique(np.concatenate(parts), return_counts=True)
        _refuse_overflow(cnts, self.strict)
        vals = np.minimum(cnts, 15).astype(np.uint8)
        cuts = np.searchsorted(nz, bounds)
        out = []
        for c in range(self.chunks):
            lo, hi = int(cuts[c]), int(cuts[c + 1])
            if lo < hi:
                gaps, exc = delta_encode(nz[lo:hi].astype(np.int64) - bounds[c])
                out.append((c, gaps, exc, vals[lo:hi].tobytes()))
        return out

    def map_fn(self, route: Route):
        """mapInArrow body: route every batch, drain whenever the
        accumulated index count passes the flush budget, drain the
        rest at the end of the partition."""

        def stage(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
            parts: dict[Key, list[np.ndarray]] = {}
            elems: dict[Key, int] = {}
            rows: dict[Key, int] = {}
            max_id: dict[Key, int] = {}

            def drain(final: bool) -> pa.RecordBatch | None:
                # mid-stream, hold back the ONE key routed last (the
                # key the stream is still filling) while it is below
                # the dense threshold: flushing it would fragment a
                # would-be dense key into sparse slivers. The held key
                # is also capped at the flush budget, so after every
                # drain fewer than flush_elems indices remain and the
                # stage never holds more than ~2 flush budgets plus
                # one batch, whatever the key sizes.
                held = None
                if not final and self.dense_frac is not None and last in parts:
                    cap = min(
                        self.dense_frac * self.geometry_of(last).size,
                        self.flush_elems,
                    )
                    if elems[last] < cap:
                        held = last
                out = {f: [] for f in self.schema.names}
                for k in sorted(parts):
                    if k == held:
                        continue
                    first = True
                    for c, idx, exc, vals in self._encode(k, parts[k], elems[k]):
                        key = k + (c,) if self.chunks > 1 else k
                        for f, v in zip(self.key_fields, key):
                            out[f].append(v)
                        out["idx"].append(idx)
                        out["exc"].append(exc)
                        out["vals"].append(vals)
                        out["n"].append(rows[k] if first else 0)
                        out["max_id"].append(max_id[k])
                        first = False
                for d in (parts, elems, rows, max_id):
                    for k in list(d):
                        if k != held:
                            del d[k]
                if not out["idx"]:
                    return None
                return pa.RecordBatch.from_pydict(out, schema=self.schema)

            last = None
            for batch in batches:
                for key, h1, h2, ids in route(batch):
                    g = self.geometry_of(key)
                    arr = km_expand(h1, h2, g.nfuncs, g.counts_per_func).ravel()
                    parts.setdefault(key, []).append(arr)
                    elems[key] = elems.get(key, 0) + arr.size
                    rows[key] = rows.get(key, 0) + len(h1)
                    top = int(ids.max()) if ids is not None else 0
                    max_id[key] = max(max_id.get(key, 0), top)
                    last = key
                if sum(elems.values()) >= self.flush_elems:
                    rb = drain(final=False)
                    if rb is not None:
                        yield rb
            rb = drain(final=True)
            if rb is not None:
                yield rb

        return stage


def scatter(acc: np.ndarray, vals, idx: np.ndarray | None = None) -> None:
    """Add signed counts into an int32 accumulator: at `idx` (sparse;
    `vals` an array or one numpy scalar for every index), or cell for
    cell when idx is None (dense, the whole counter array). The one
    counter scatter: `fold` feeds it pieces, CountingBloom blob
    payloads, adds, removes, merges and subtractions. Values go in as
    int32, which keeps np.add.at on numpy's typed fast path (a Python
    int scalar takes the generic path, ~10x slower)."""
    if idx is not None:
        np.add.at(acc, idx, vals.astype(np.int32))
    elif vals.size:
        if vals.size != acc.size:
            raise ValueError(
                f"dense piece has {vals.size} counters, geometry "
                f"expects {acc.size}"
            )
        acc += vals


def settle(acc: np.ndarray, strict: bool) -> np.ndarray:
    """The summed counters as uint8, clipped to 0..15; `strict` raises
    instead where one passes 15 or falls below 0, before the caller
    writes anything back."""
    _refuse_overflow(acc, strict)
    np.clip(acc, 0, 15, out=acc)
    return acc.astype(np.uint8)


def fold(pieces, size: int, on_overflow: str = "saturate", geometry=None) -> np.ndarray:
    """The one fold: sum a key's pieces (any sparse/dense mix — a
    pandas group or any object with idx/exc/vals columns) into its
    clipped uint8 counter array of `size` cells; on_overflow='error'
    raises where a summed counter passes 15. A row whose `blob` is not
    NULL (a prior checkpoint's layer) scatters that blob's payload; a
    blob of another geometry or overflow mode than `geometry` and
    on_overflow is refused, as its counters mean nothing here."""
    # a lazy import: counting_bloom imports this module
    from dablooms_spark.core.counting_bloom import _FLAG_STRICT_OVERFLOW, _payload

    strict = on_overflow == "error"
    acc = np.zeros(size, dtype=np.int32)
    blobs = getattr(pieces, "blob", repeat(None))
    for idx, exc, vals, blob in zip(pieces.idx, pieces.exc, pieces.vals, blobs):
        if blob is None:
            v = np.frombuffer(vals, dtype=np.uint8)
            scatter(acc, v, delta_decode(idx, exc) if len(idx) else None)
            continue
        hdr, g, at, v = _payload(blob)
        mode = "error" if hdr[3] & _FLAG_STRICT_OVERFLOW else "saturate"
        if (g, mode) != (geometry, on_overflow):
            raise ValueError(
                f"eps-schedule drift: a prior layer was built as {g} with "
                f"on_overflow={mode!r}; this fold expects {geometry} with "
                f"on_overflow={on_overflow!r}. Pass the expected_layers the "
                "checkpoint was built with; a checkpoint that already holds "
                "layers of two schedules cannot be extended and has to be "
                "rebuilt under one expected_layers"
            )
        scatter(acc, v, at)
    return settle(acc, strict)
