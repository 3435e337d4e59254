"""Distributed remove (counter decrement) — reference ops
counting_bloom_remove (src/dablooms.c:≈220) and scaling_bloom_remove
(≈517) lifted to a deletions DataFrame.

Two paths:

- `bloom_remove` (small deletion sets): text bytes are hashed map-side
  (mapInArrow, zero-copy); the 16 B/row hash words (plus the 8 B
  routing id for scaling filters) come to the driver, which decrements
  vectorized. A 10M-row deletion set moves 160 MB — fine; a 10^10-row
  stream would be 160 GB on the driver — not fine.
- `bloom_remove_distributed` (any size): builds a DELETION-COUNT
  filter in the cluster — per-partition counter pieces
  (core/pieces.py), folded per layer on the driver for small
  deletion frames or in one piece-only shuffle otherwise
  (operators/merge.py) — and subtracts blobs on the driver. Above
  the fold gate, driver traffic is bounded by (num_layers × layer
  blob size) regardless of deletion count, the same shape as the
  build.
  Exactness: counters never exceed 15, so subtracting the saturated
  deletion multiplicities is bit-identical to row-at-a-time removal
  (max(c - min(d,15), 0) == max(c - d, 0); property-tested).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dablooms_spark.core.geometry import BloomGeometry
from dablooms_spark.core.pieces import PieceEncoder, fold, runs
from dablooms_spark.functions.arrow_utils import arrow_byte_view
from dablooms_spark.functions.murmur import DABLOOMS_SEED, dablooms_hash_words_buffer
from dablooms_spark.operators.merge import fold_or_exchange


def _hashed_rows(df: DataFrame, key_col: str, id_col: str | None, seed: int):
    cols = [F.col(key_col).cast("string").alias("key")]
    if id_col is not None:
        cols.append(F.col(id_col).cast("long").alias("id"))
    sdf = df.select(*cols).filter(F.col("key").isNotNull())

    has_id = id_col is not None

    def hash_stage(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            buf, offs, lens = arrow_byte_view(batch.column(0))
            h1, h2 = dablooms_hash_words_buffer(buf, offs, lens, seed)
            packed = (h1.astype(np.uint64) << np.uint64(32)) | h2.astype(np.uint64)
            cols_ = {"hw": packed.view(np.int64)}
            fields = [("hw", pa.int64())]
            if has_id:
                cols_["id"] = batch.column(1).to_numpy(zero_copy_only=False).astype(
                    np.int64
                )
                fields.append(("id", pa.int64()))
            yield pa.RecordBatch.from_pydict(cols_, schema=pa.schema(fields))

    schema = "hw long, id long" if has_id else "hw long"
    return sdf.mapInArrow(hash_stage, schema=schema)


def bloom_remove(filt, deletions: DataFrame, key_col: str,
                 id_col: str | None = None, seed: int = DABLOOMS_SEED):
    """Apply a deletions DataFrame to a driver-side filter, mutating it.

    CountingBloom needs no ids; ScalingBloom routes every deletion to
    the layer that held the insert by id (pass the same id/timestamp
    column the build used). Returns the filter for chaining.
    """
    from dablooms_spark.core.counting_bloom import CountingBloom
    from dablooms_spark.core.scaling_bloom import ScalingBloom

    if isinstance(filt, ScalingBloom) and id_col is None:
        raise ValueError("scaling-bloom removal requires the routing id column")
    hashed = _hashed_rows(deletions, key_col, id_col, seed)
    rows = hashed.toArrow()
    hw = rows.column("hw").to_numpy(zero_copy_only=False).view(np.uint64)
    h1 = (hw >> np.uint64(32)).astype(np.uint32)
    h2 = hw.astype(np.uint32)
    if isinstance(filt, CountingBloom):
        filt.remove_hashed(h1, h2)
    else:
        ids = rows.column("id").to_numpy(zero_copy_only=False).astype(np.int64)
        filt.remove_hashed(h1, h2, ids)
    return filt


def _deletion_pieces(
    deletions: DataFrame,
    key_col: str,
    id_col: str,
    skeleton: list[tuple[int, int, float]],
    seed: int,
) -> DataFrame:
    """Map-only stage of the scaling remove (no row shuffle): hash keys
    zero-copy, route each row to its layer of the target's skeleton
    ((first_id, capacity, error_rate) per layer, tiny — rides in the
    task closure) — the newest layer with first_id <= id, the
    scaling_bloom_remove ≈L517 scan as a searchsorted — and emit one
    counter piece (core/pieces.py) per (partition, touched layer).
    Pieces saturate at 15: counters never exceed 15, so the clipped
    multiplicity subtracts identically to the true one."""
    first_ids = np.array([fid for fid, _, _ in skeleton], dtype=np.int64)
    geoms = [BloomGeometry(cap, eps) for _, cap, eps in skeleton]

    sdf = deletions.select(
        F.col(key_col).cast("string").alias("key"),
        F.col(id_col).cast("long").alias("id"),
    ).filter(F.col("key").isNotNull() & F.col("id").isNotNull())

    def route(batch: pa.RecordBatch):
        ids = batch.column(1).to_numpy(zero_copy_only=False).astype(np.int64)
        if len(ids) == 0:
            return
        buf, offs, lens = arrow_byte_view(batch.column(0))
        h1, h2 = dablooms_hash_words_buffer(buf, offs, lens, seed)
        tgt = np.maximum(np.searchsorted(first_ids, ids, side="right") - 1, 0)
        for li, a, b, i in runs(tgt, h1, h2, ids):
            yield (li,), a, b, i

    enc = PieceEncoder(["layer"], lambda key: geoms[key[0]])
    return sdf.mapInArrow(enc.map_fn(route), schema=enc.ddl)


def _scaling_deletion_blobs(
    deletions: DataFrame,
    key_col: str,
    id_col: str,
    skeleton: list[tuple[int, int, float]],
    seed: int,
) -> list:
    """Rows (layer, blob, n): one deletion-count filter per TOUCHED
    layer of the target's layer skeleton. Stage 1 is
    _deletion_pieces; stage 2 folds each layer's pieces into one
    self-describing deletion blob — on the driver when the deletions
    frame is small, else in one groupBy(layer) exchange (pieces, never
    rows)."""
    from dablooms_spark.core.counting_bloom import CountingBloom

    geoms = [BloomGeometry(cap, eps) for _, cap, eps in skeleton]
    pieces = _deletion_pieces(deletions, key_col, id_col, skeleton, seed)

    def merge_layer(pdf):
        import pandas as pd

        li = int(pdf.layer.iloc[0])
        fid, cap, eps = skeleton[li]
        dl = CountingBloom(
            cap, eps, first_id=fid, seed=seed,
            _counters=fold(pdf, geoms[li].size), _count=int(pdf.n.sum()),
        )
        return pd.DataFrame(
            {"layer": [li], "blob": [dl.to_bytes()], "n": [dl.count]}
        )

    return fold_or_exchange(
        pieces, ["layer"], merge_layer, "layer long, blob binary, n long",
        gate=deletions, collect=True,
    )


def bloom_remove_distributed(
    filt, deletions: DataFrame, key_col: str,
    id_col: str | None = None, seed: int = DABLOOMS_SEED,
):
    """Apply a deletions DataFrame to a driver-side filter WITHOUT the
    deletion rows ever visiting the driver (the scalable twin of
    bloom_remove — reference semantics counting_bloom_remove ≈L220 /
    scaling_bloom_remove ≈L517, property-tested bit-identical to the
    row-at-a-time driver path).

    Topology: deletions hash map-side and reduce to per-layer
    DELETION-COUNT blobs inside the cluster (one blob-only shuffle);
    the driver receives at most num_layers blobs — bounded by the
    filter's own size, independent of deletion count — and subtracts
    counter-wise. Mutates and returns `filt`."""
    from dablooms_spark.core.counting_bloom import CountingBloom
    from dablooms_spark.core.scaling_bloom import ScalingBloom
    from dablooms_spark.operators.bloom_build import build_counting_bloom

    if isinstance(filt, CountingBloom):
        g = filt.geometry
        dl = build_counting_bloom(
            deletions.select(F.col(key_col).cast("string").alias("key")),
            "key",
            capacity=g.capacity,
            error_rate=g.error_rate,
            seed=filt.seed,
        )
        dl.first_id = filt.first_id  # deletion blob adopts the target's id
        return filt.subtract(dl)
    if not isinstance(filt, ScalingBloom):
        raise TypeError(f"unsupported filter type {type(filt).__name__}")
    if id_col is None:
        raise ValueError("scaling-bloom removal requires the routing id column")
    skeleton = [
        (l.first_id, l.geometry.capacity, l.geometry.error_rate)
        for l in filt.layers
    ]
    for r in _scaling_deletion_blobs(deletions, key_col, id_col, skeleton, seed):
        filt.layers[int(r.layer)].subtract(
            CountingBloom.from_bytes(bytes(r.blob), seed=seed)
        )
    return filt
