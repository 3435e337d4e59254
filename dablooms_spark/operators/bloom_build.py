"""Distributed bloom-filter build — the two-phase topology.

The reference is a single-process writer (scaling_bloom_add,
src/dablooms.c:≈487). The Spark-native equivalent (SURVEY.md §4.3):

  stage 1 (no shuffle of text):  mapInArrow over input partitions —
      each task hashes its Arrow batches zero-copy and emits either
      one partition-local filter blob or counter PIECES (sparse
      gap-coded or dense clipped counters per touched layer/chunk,
      encoded by core/pieces.py). The wide text column never
      shuffles; only blobs or pieces do.
  stage 2 (merge, operators/merge.py): pieces fold per key — on the
      driver when the input estimate is small, else in one
      groupBy(key) exchange — and blobs merge through the blob tree:
      log_fanin(P) rounds of blob-only groupBy(shard // fanin)
      shuffles, then a driver-side merge of the last ≤ fanin blobs.
      At P=10k input partitions and fanin 64 that is two tiny shuffle
      rounds; at local scale usually zero.

This is the map-side-combine shape Catalyst builds for its own
partial aggregates, expressed for a Python UDAF whose state (the
filter) is too structured for Spark's builtin aggregate buffer.
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dablooms_spark.core.counting_bloom import CountingBloom
from dablooms_spark.core.geometry import BloomGeometry
from dablooms_spark.core.pieces import PieceEncoder, chunk_bounds, fold, runs
from dablooms_spark.core.scaling_bloom import ScalingBloom
from dablooms_spark.functions.arrow_utils import arrow_byte_view
from dablooms_spark.functions.murmur import DABLOOMS_SEED, dablooms_hash_words_buffer
from dablooms_spark.operators.merge import (
    _BLOB_SCHEMA,
    _BLOB_SCHEMA_PA,
    fold_or_exchange,
    merge_blobs,
)
from dablooms_spark.operators.merge import merge_blobs_df  # noqa: F401 (public re-export)


#: optimized-logical-plan nodes that are NARROW (no exchange, no
#: broadcast, no Python stage) — the only shapes for which calling
#: .rdd.getNumPartitions() is guaranteed job-free under AQE. Anything
#: else (joins, aggregates, repartitions, mapInArrow, ...) could have
#: its query stages EXECUTED by the .rdd conversion, silently running
#: the plan twice, so those fall back to the dynamic count path.
_NARROW_PLAN_NODES = frozenset(
    {"Project", "Filter", "Relation", "Range", "LocalRelation", "LogicalRDD"}
)


def _static_num_partitions(df: DataFrame) -> int | None:
    """Partition count of a provably-narrow plan, else None.

    Used to size merge trees without a count() job (guide §1/§2.4: the
    dynamic path pays persist + one full extra job over the input just
    to learn a number the plan already knows). Returning None is always
    safe — callers keep the dynamic persist+count path."""
    try:
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        for line in plan.splitlines():
            node = line.lstrip(" :+-*").split(" ", 1)[0].rstrip(",")
            if node and node not in _NARROW_PLAN_NODES:
                return None
        return int(df.rdd.getNumPartitions())
    except Exception:
        return None


def _chunked_counting_build(
    df: DataFrame,
    sdf: DataFrame,
    capacity: int,
    error_rate: float,
    seed: int,
    num_chunks: int,
) -> CountingBloom:
    """Wide-filter build: each task emits its partial counters as
    pieces of `num_chunks` counter-range chunks (core/pieces.py); the
    merge folds each chunk — on the driver for small inputs, else in
    ONE groupBy(chunk) exchange, num_chunks-way parallel and
    independent of shard count, no task ever holding more than (chunk
    width + its pieces) — and the driver concatenates the chunks.

    Tasks never materialize the full counter array: with capacity >>
    per-task rows it is O(size) of random-scatter writes per task —
    32 concurrent 77MB working sets thrash a single socket's cache —
    so the encoder collects banded indices and sorts once per drain."""
    g = BloomGeometry(capacity, error_rate)
    bounds = chunk_bounds(g.size, num_chunks)

    def route(batch: pa.RecordBatch):
        buf, offs, lens = arrow_byte_view(batch.column(0))
        if len(lens):
            h1, h2 = dablooms_hash_words_buffer(buf, offs, lens, seed)
            yield (), h1, h2, None

    enc = PieceEncoder(["chunk"], lambda key: g, chunks=num_chunks)
    pieces = sdf.mapInArrow(enc.map_fn(route), schema=enc.ddl)

    def merge_chunk(pdf):
        import pandas as pd

        c = int(pdf.chunk.iloc[0])
        counters = fold(pdf, int(bounds[c + 1] - bounds[c]))
        return pd.DataFrame(
            {"chunk": [c], "dense": [counters.tobytes()], "n": [int(pdf.n.sum())]}
        )

    # small inputs skip the piece exchange entirely (gated on the
    # caller's frame; bit-identical either way)
    rows = fold_or_exchange(
        pieces, ["chunk"], merge_chunk, "chunk long, dense binary, n long",
        gate=df, collect=True,
    )
    counters = np.zeros(g.size, dtype=np.uint8)
    total = 0
    for r in rows:
        c = int(r.chunk)
        counters[bounds[c] : bounds[c + 1]] = np.frombuffer(r.dense, dtype=np.uint8)
        total += int(r.n)
    return CountingBloom(
        capacity, error_rate, seed=seed, _counters=counters, _count=total
    )


def counting_bloom_partials(
    df: DataFrame,
    key_col: str,
    capacity: int,
    error_rate: float,
    seed: int = DABLOOMS_SEED,
    num_build_partitions: int | None = None,
    on_overflow: str = "saturate",
) -> DataFrame:
    """Stage 1 only: one partial-filter blob row per input partition
    (shard, blob, n). Checkpoint this for resumable builds.

    on_overflow='error' builds strict partials: a 4-bit overflow
    raises in the executor (reference bitmap_increment refusal), the
    strict flag rides the blob header, and merge_blobs re-checks
    cross-partition sums — the distributed form of the reference's
    single-node refusal."""
    if on_overflow not in ("saturate", "error"):
        raise ValueError("on_overflow must be 'saturate' or 'error'")
    sdf = df.select(F.col(key_col).alias("key")).filter(F.col("key").isNotNull())
    if num_build_partitions:
        sdf = sdf.repartition(num_build_partitions)

    def build_partition(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        cb = CountingBloom(capacity, error_rate, seed=seed, on_overflow=on_overflow)
        from pyspark import TaskContext

        shard = TaskContext.get().partitionId() if TaskContext.get() else 0
        for batch in batches:
            buf, offs, lens = arrow_byte_view(batch.column(0))
            h1, h2 = dablooms_hash_words_buffer(buf, offs, lens, seed)
            cb.add_hashed(h1, h2)
        if cb.count:
            yield pa.RecordBatch.from_pydict(
                {"shard": [shard], "blob": [cb.to_bytes()], "n": [cb.count]},
                schema=_BLOB_SCHEMA_PA,
            )

    return sdf.mapInArrow(build_partition, schema=_BLOB_SCHEMA)


def build_counting_bloom(
    df: DataFrame,
    key_col: str,
    capacity: int,
    error_rate: float,
    seed: int = DABLOOMS_SEED,
    num_build_partitions: int | None = None,
    merge_fanin: int = 8,
    on_overflow: str = "saturate",
) -> CountingBloom:
    """Build one counting bloom over a key column, distributed.

    Exactness: the saturating counter-sum merge makes the result
    bit-identical to a single-process dablooms build over the same
    keys (any partitioning, any merge order), so no repartition is
    needed — each input partition builds locally and only blobs move.

    on_overflow='error' reproduces the reference's refusal to push a
    4-bit counter past 15 (bitmap_increment ≈L108) distributed:
    partial builds raise executor-side, and cross-partition merge sums
    re-check before clipping. Standard-path only — the chunked wide-
    filter merge stays saturate-mode (its pieces clip before the
    strict flag could see the true sum)."""
    if on_overflow not in ("saturate", "error"):
        raise ValueError("on_overflow must be 'saturate' or 'error'")
    # SCALE-ADAPTIVE stage-1 parallelism (guide §2.5 input skew /
    # §6 split size): parquet splits at row-group granularity, so an
    # input written as few fat row groups hash+expands on fewer cores
    # than the cluster has. When the (narrow) input plan has fewer
    # partitions than cores AND is big enough that per-task compute
    # dwarfs an exchange (spark.dablooms.build.fanoutMinBytes, default
    # 256 MiB of Catalyst-estimated input), repartition the PROJECTED
    # key column — a few bytes per row, never the payload — across the
    # cores. The size gate matters: an interleaved A/B showed the
    # ungated version costs small builds ~25-35% (two extra stages
    # on a box where a stage round-trip is ~0.2 s) while small inputs
    # have nothing to gain from fan-out. At real scale inputs carry
    # >> cores partitions and this is a no-op either way; the filter
    # is bit-identical under any partitioning (saturating counter-sum
    # merge, property-tested).
    auto_parts = None
    if num_build_partitions is None:
        spark = df.sparkSession
        dp = spark.sparkContext.defaultParallelism
        np_ = _static_num_partitions(df)
        if np_ is not None and 0 < np_ < dp:
            from dablooms_spark.operators.bloom_probe import _parse_size_bytes

            try:
                min_bytes = _parse_size_bytes(
                    spark.conf.get("spark.dablooms.build.fanoutMinBytes", "256m")
                )
                est = int(
                    df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
                )
            except Exception:
                min_bytes, est = 1, 0
            if est >= min_bytes:
                auto_parts = dp
    g = BloomGeometry(capacity, error_rate)
    if g.size > 2_000_000:
        if on_overflow == "error":
            raise ValueError(
                "on_overflow='error' is not supported on the chunked "
                "wide-filter path (pieces clip before a strict check "
                "could see true sums); use saturate mode or a smaller "
                "geometry"
            )
        sdf = df.select(F.col(key_col).alias("key")).filter(F.col("key").isNotNull())
        if num_build_partitions or auto_parts:
            sdf = sdf.repartition(num_build_partitions or auto_parts)
        # wide filter: chunked merge — one shuffle, counter-range
        # parallelism, no multi-round tree, no fat blobs to the driver
        num_chunks = max(df.sparkSession.sparkContext.defaultParallelism, 16)
        return _chunked_counting_build(df, sdf, capacity, error_rate, seed, num_chunks)
    blob_df = counting_bloom_partials(
        df, key_col, capacity, error_rate, seed,
        num_build_partitions or auto_parts, on_overflow,
    )
    # static tree sizing: partials emit <= 1 blob per input partition,
    # so the partition count bounds the blob count — one action total
    # instead of persist + count + collect (guide §1.2: fewer passes)
    num_blobs = num_build_partitions or auto_parts or _static_num_partitions(df)
    filt, _ = merge_blobs(blob_df, seed, merge_fanin, num_blobs=num_blobs)
    if filt is None:
        return CountingBloom(capacity, error_rate, seed=seed, on_overflow=on_overflow)
    return filt


def scaling_bloom_partials(
    df: DataFrame,
    key_col: str,
    id_col: str,
    capacity: int,
    error_rate: float,
    seed: int = DABLOOMS_SEED,
    num_shards: int | None = None,
) -> DataFrame:
    """Stage 1 of the scaling-bloom build: one blob row per id-range
    shard (shard, blob, n).

    Shards own disjoint, contiguous id ranges (repartitionByRange on
    the id column — ids are the reference's monotone insertion
    sequence, here a timestamp/row-id column), each shard runs the
    exact dablooms layer state machine over its range, and the merge
    concatenates layers. The per-shard error budget is ε/S so the
    compound false-positive bound stays ≤ ε after the union
    (nfuncs grows only by log2(S) — the cheap way to stay bounded).
    """
    spark = df.sparkSession
    if num_shards is None:
        num_shards = spark.sparkContext.defaultParallelism
    eps_shard = error_rate / num_shards

    sdf = df.select(
        F.col(key_col).alias("key"), F.col(id_col).cast("long").alias("id")
    ).filter(F.col("key").isNotNull() & F.col("id").isNotNull())

    # Hash BEFORE the range shuffle: the id routing needs every row to
    # move to its id-range shard, but only the 128->64-bit hash words
    # are needed downstream — 16 B/row instead of the full text bytes
    # (a ~80x shuffle-volume cut on a web corpus).
    def hash_stage(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            ids = batch.column(1).to_numpy(zero_copy_only=False).astype(np.int64)
            if len(ids) == 0:
                continue
            buf, offs, lens = arrow_byte_view(batch.column(0))
            h1, h2 = dablooms_hash_words_buffer(buf, offs, lens, seed)
            packed = (h1.astype(np.uint64) << np.uint64(32)) | h2.astype(np.uint64)
            yield pa.RecordBatch.from_pydict(
                {"hw": packed.view(np.int64), "id": ids},
                schema=pa.schema([("hw", pa.int64()), ("id", pa.int64())]),
            )

    # Explicit id-range bucketing instead of repartitionByRange: the
    # range partitioner SAMPLES its child, which would execute the
    # hash stage (and the text scan under it) twice. One column-pruned
    # min/max pass over ids gives exact bounds; bucket = linear map of
    # id into [0, num_shards). Buckets are id-disjoint, which is all
    # the layer-concat merge needs.
    lo, hi = sdf.agg(F.min("id"), F.max("id")).first()
    if lo is None:
        lo, hi = 0, 0
    width = max((int(hi) - int(lo)) // num_shards + 1, 1)
    bucket = ((F.col("id") - F.lit(int(lo))) / F.lit(width)).cast("long")
    hashed = (
        sdf.mapInArrow(hash_stage, schema="hw long, id long")
        .repartition(num_shards, bucket)
        .sortWithinPartitions("id")
    )

    def build_partition(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from pyspark import TaskContext

        shard = TaskContext.get().partitionId() if TaskContext.get() else 0
        sb = None
        for batch in batches:
            ids = batch.column(1).to_numpy(zero_copy_only=False).astype(np.int64)
            if len(ids) == 0:
                continue
            if sb is None:
                sb = ScalingBloom(capacity, eps_shard, seed=seed, start_id=int(ids[0]))
            hw = batch.column(0).to_numpy(zero_copy_only=False).view(np.uint64)
            h1 = (hw >> np.uint64(32)).astype(np.uint32)
            h2 = hw.astype(np.uint32)  # low 32 bits
            sb.add_hashed(h1, h2, ids)
        if sb is not None:
            yield pa.RecordBatch.from_pydict(
                {"shard": [shard], "blob": [sb.to_bytes()], "n": [sb.count]},
                schema=_BLOB_SCHEMA_PA,
            )

    return hashed.mapInArrow(build_partition, schema=_BLOB_SCHEMA)


_LAYER_SCHEMA = (
    "first_id long, layer_eps double, capacity long, max_id long, "
    "sb_eps double, blob binary, n long"
)


#: Basel-normalizer for the polynomial fixed-boundary ε schedule:
#: Σ_k 1/(k+1)² = π²/6, so ε·(6/π²)/(k+1)² sums to exactly ε.
FIXED_POLY = 6.0 / (math.pi ** 2)


def fixed_layer_eps(
    k: int, error_rate: float, expected_layers: int | None = None
) -> float:
    """Per-layer FP budget for fixed-boundary layouts, Σ_k ≤ ε always.

    Default (expected_layers=None): the open-ended polynomial schedule
    ε·(6/π²)/(k+1)² — works for any number of layers, but front-loads
    the budget, so deep layers pay ~2·log₂(k) extra hash functions
    (mean nfuncs ≈ 17.8 at 81 layers, ≈ 29 at 10^12-row layer counts).

    With expected_layers=L (batch builds KNOW the id range — row
    counts are one parquet-footer read): layers below L share a
    uniform ε/(2L) budget — mean nfuncs drops to ≈ 14.0 at L=81
    (21% less hash/index traffic, 19% less counter memory; ~32% at
    10^12 scale) — and overflow layers (a wrong hint) continue on the
    polynomial schedule over the reserved ε/2, so the compound bound
    survives ANY overflow: Σ = L·ε/(2L) + (ε/2)·(6/π²)·Σ1/(j+1)² ≤ ε.
    Consumers never recompute this schedule from indices alone: layer
    rows carry layer_eps, probes read geometry from blob bytes, and
    the sharded remove path validates stored layer_eps against its
    caller-supplied schedule before decrementing."""
    if expected_layers is not None:
        if expected_layers < 1:
            raise ValueError(
                f"expected_layers must be >= 1, got {expected_layers}"
            )
        if k < expected_layers:
            return error_rate * 0.5 / expected_layers
        return error_rate * 0.5 * FIXED_POLY / (k - expected_layers + 1) ** 2
    return error_rate * FIXED_POLY / (k + 1) ** 2


def _fixed_pieces(
    df: DataFrame,
    key_col: str,
    id_col: str,
    capacity: int,
    error_rate: float,
    seed: int,
    expected_layers: int | None,
):
    """Stage 1 of the fixed-boundary build: (pieces DataFrame keyed by
    layer, per-layer fold emitting _LAYER_SCHEMA rows)."""
    width = max(capacity - 1, 1)
    geom_cache: dict[int, BloomGeometry] = {}

    # Per-layer error budget: the reference's geometric ε·0.5^(k+1)
    # assumes few layers (it grows only on overflow); with fixed
    # boundaries a long id stream means many layers, and geometric
    # tightening would grow nfuncs LINEARLY in k (layer 80 would carry
    # 89 hash functions). fixed_layer_eps keeps the same published
    # guarantee (Σ_k ε_k ≤ ε) with nfuncs growing only logarithmically
    # — or staying FLAT under the uniform ε/(2L) schedule when the
    # caller supplies expected_layers (documented deviation, same
    # class as the range path's per-shard ε/S budget).
    if expected_layers is not None and expected_layers < 1:
        raise ValueError(f"expected_layers must be >= 1, got {expected_layers}")

    def layer_geom(k: int) -> BloomGeometry:
        g = geom_cache.get(k)
        if g is None:
            g = BloomGeometry(
                capacity, fixed_layer_eps(k, error_rate, expected_layers)
            )
            geom_cache[k] = g
        return g

    sdf = df.select(
        F.col(key_col).alias("key"), F.col(id_col).cast("long").alias("id")
    ).filter(F.col("key").isNotNull() & F.col("id").isNotNull())

    def route(batch: pa.RecordBatch):
        ids = batch.column(1).to_numpy(zero_copy_only=False).astype(np.int64)
        if len(ids) == 0:
            return
        if ids.min() < 0:
            # layer = id // width needs non-negative ids (layer -1
            # would divide the ε schedule by zero); refusing beats
            # silently dropping, which would false-negative
            raise ValueError(
                "fixed-boundary layout requires non-negative ids; "
                f"got {int(ids.min())}"
            )
        buf, offs, lens = arrow_byte_view(batch.column(0))
        h1, h2 = dablooms_hash_words_buffer(buf, offs, lens, seed)
        for li, a, b, i in runs(ids // width, h1, h2, ids):
            yield (li,), a, b, i

    enc = PieceEncoder(["layer"], lambda key: layer_geom(key[0]))
    pieces = sdf.mapInArrow(enc.map_fn(route), schema=enc.ddl)

    def merge_layer(pdf):
        import pandas as pd

        li = int(pdf.layer.iloc[0])
        g = layer_geom(li)
        cb = CountingBloom(
            capacity, g.error_rate, first_id=li * width, seed=seed,
            _counters=fold(pdf, g.size), _count=int(pdf.n.sum()),
        )
        return pd.DataFrame(
            {
                "first_id": [li * width],
                "layer_eps": [g.error_rate],
                "capacity": [capacity],
                "max_id": [int(pdf.max_id.max())],
                "sb_eps": [error_rate],
                "blob": [cb.to_bytes()],
                "n": [cb.count],
            }
        )

    return pieces, merge_layer


def scaling_bloom_fixed_partials(
    df: DataFrame,
    key_col: str,
    id_col: str,
    capacity: int,
    error_rate: float,
    seed: int = DABLOOMS_SEED,
    expected_layers: int | None = None,
) -> DataFrame:
    """Scaling-bloom build with FIXED id-value layer boundaries — the
    no-shuffle topology for dense insertion-sequence ids (the
    reference's own id model: monotone unique integers,
    scaling_bloom_add src/dablooms.c:≈487).

    Layer k owns ids [k·(capacity−1), (k+1)·(capacity−1)); since ids
    are UNIQUE integers, a width-(capacity−1) range can never hold more
    than capacity−1 elements, so each layer keeps the reference's
    per-layer load bound and ε·0.5^(k+1) tightening by construction —
    the compound FP stays ≤ ε with NO ε/S budget split (layers are
    global, not per-shard). Because the layer set is a deterministic
    function of id alone, every input partition builds partials of the
    SAME layers and the merge is a pure counter-sum:

      stage 1 (mapInArrow, no row movement): hash keys zero-copy,
          route rows by id//(capacity−1), emit one counter piece per
          (partition, touched layer) — sparse gap-coded, or dense
          once the layer is half full (core/pieces.py);
      stage 2 (the only shuffle — pieces, never rows): groupBy(layer)
          folds pieces and emits the layer-row form
          (_LAYER_SCHEMA, restore with restore_scaling_bloom_layers).

    vs scaling_bloom_partials (the arrival-order state machine): that
    path must range-shuffle every row (16 B/row — 16 TB at 10^12 rows)
    plus sort within shards; this one moves only counter pieces. Use
    the range path when ids are sparse (e.g. raw timestamps — fixed
    boundaries would mint one layer per capacity-sized id gap); use
    this one whenever ids are dense row numbers, which the build can
    always arrange (monotonically-increasing row ids are the
    reference's model). The result is partition-order invariant
    (counter-sum merge) but not bit-identical to the sequential
    grow-at-count machine — the same documented deviation class as
    the per-shard ε budget.
    """
    pieces, merge_layer = _fixed_pieces(
        df, key_col, id_col, capacity, error_rate, seed, expected_layers
    )
    return pieces.groupBy("layer").applyInPandas(merge_layer, schema=_LAYER_SCHEMA)


def scaling_layers_df(blob_df: DataFrame, seed: int = DABLOOMS_SEED) -> DataFrame:
    """Merge a (shard, blob, n) DataFrame of scaling-bloom partials
    into the filter's canonical LAYER-ROW form — one row per
    (first_id, layer_eps) layer — entirely in parallel.

    This is the merge+checkpoint shape that scales: a scaling filter
    over 10^12 rows is tens of GB, so the one-blob artifact
    (merge_blobs_df) funnels every byte through a single final task,
    while layers are the filter's natural parallel unit — id-disjoint
    shards NEVER share (first_id, eps), so the merge is a pure
    repartition (colliding layers, e.g. from a resumed build over the
    same id range, counter-sum in their own group) and the write
    spreads one task per layer. Restore with
    restore_scaling_bloom_layers; equality with the one-blob path is
    property-tested bit-identically.
    """
    def explode_layers(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        import struct as _struct

        for batch in batches:
            fids, epss, caps, mids, sbes, blobs, ns = [], [], [], [], [], [], []
            for blob in batch.column(1):
                blob = blob.as_py()
                magic, _ver, _pad, capacity, sb_eps, max_id, nlayers, _p2 = (
                    _struct.unpack_from("<4sHHQdQII", blob, 0)
                )
                if magic != b"DBSC":
                    raise ValueError("scaling_layers_df expects scaling-bloom blobs")
                off = _struct.calcsize("<4sHHQdQII")
                for _ in range(nlayers):
                    (ln,) = _struct.unpack_from("<Q", blob, off)
                    off += 8
                    rec = blob[off : off + ln]
                    off += ln
                    # counting-bloom header: error_rate f64 at byte 16,
                    # first_id u64 at 40, count u64 at 48
                    (l_eps,) = _struct.unpack_from("<d", rec, 16)
                    (l_fid,) = _struct.unpack_from("<Q", rec, 40)
                    (l_cnt,) = _struct.unpack_from("<Q", rec, 48)
                    fids.append(l_fid)
                    epss.append(l_eps)
                    caps.append(capacity)
                    mids.append(max_id)
                    sbes.append(sb_eps)
                    blobs.append(rec)
                    ns.append(l_cnt)
            if fids:
                yield pa.RecordBatch.from_pydict(
                    {
                        "first_id": fids,
                        "layer_eps": epss,
                        "capacity": caps,
                        "max_id": mids,
                        "sb_eps": sbes,
                        "blob": blobs,
                        "n": ns,
                    },
                    schema=pa.schema(
                        [
                            ("first_id", pa.int64()),
                            ("layer_eps", pa.float64()),
                            ("capacity", pa.int64()),
                            ("max_id", pa.int64()),
                            ("sb_eps", pa.float64()),
                            ("blob", pa.large_binary()),
                            ("n", pa.int64()),
                        ]
                    ),
                )

    layers = blob_df.mapInArrow(explode_layers, schema=_LAYER_SCHEMA)
    return merge_layer_rows(layers, seed)


def merge_layer_rows(layers_df: DataFrame, seed: int = DABLOOMS_SEED) -> DataFrame:
    """Counter-sum colliding (first_id, layer_eps) layer rows — the
    merge step for any union of layer-row DataFrames: resumed builds
    over overlapping id ranges, or an ingest batch unioned with the
    prior checkpoint. Id-disjoint layers pass through untouched; the
    whole merge is one parallel groupBy, no driver traffic."""

    def merge_layer_group(pdf):
        import pandas as pd

        if len(pdf) > 1:
            merged = CountingBloom.merge_blobs([bytes(b) for b in pdf.blob], seed=seed)
            blob, n = merged.to_bytes(), merged.count
        else:
            blob, n = bytes(pdf.blob.iloc[0]), int(pdf.n.iloc[0])
        return pd.DataFrame(
            {
                "first_id": [int(pdf.first_id.iloc[0])],
                "layer_eps": [float(pdf.layer_eps.iloc[0])],
                "capacity": [int(pdf.capacity.iloc[0])],
                "max_id": [int(pdf.max_id.max())],
                "sb_eps": [float(pdf.sb_eps.min())],
                "blob": [blob],
                "n": [n],
            }
        )

    return layers_df.groupBy("first_id", "layer_eps").applyInPandas(
        merge_layer_group, schema=_LAYER_SCHEMA
    )


def assemble_scaling_bloom(rows, seed: int = DABLOOMS_SEED) -> ScalingBloom:
    """Driver-side ScalingBloom from collected layer rows
    (_LAYER_SCHEMA; canonical order first_id asc, eps desc — matching
    ScalingBloom.merge)."""
    rows = sorted(rows, key=lambda r: (r.first_id, -r.layer_eps))
    if not rows:
        raise ValueError("no layer rows")
    layers = [CountingBloom.from_bytes(bytes(r.blob), seed=seed) for r in rows]
    return ScalingBloom(
        int(rows[0].capacity),
        float(min(r.sb_eps for r in rows)),
        seed=seed,
        layers=layers,
        max_id=int(max(r.max_id for r in rows)),
    )


def restore_scaling_bloom_layers(
    spark, path: str, seed: int = DABLOOMS_SEED
) -> ScalingBloom:
    """Reassemble a ScalingBloom from a parquet of layer rows written
    by scaling_layers_df / scaling_bloom_fixed_partials. The
    single-row artifact this replaces is the anti-pattern at scale;
    restore is the only step that deserializes whole layers, and a
    probe-side variant can just as well keep the layers AS a DataFrame
    (see operators/sharded.py for the filter-as-DataFrame probe
    topology)."""
    rows = spark.read.parquet(path).collect()
    if not rows:
        raise ValueError(f"no layer rows at {path}")
    return assemble_scaling_bloom(rows, seed)


def build_scaling_bloom(
    df: DataFrame,
    key_col: str,
    id_col: str,
    capacity: int,
    error_rate: float,
    seed: int = DABLOOMS_SEED,
    num_shards: int | None = None,
    merge_fanin: int = 8,
    id_layout: str = "range",
    expected_layers: int | None = None,
) -> ScalingBloom:
    """Build a scaling counting bloom, distributed, returning the
    merged driver-side filter.

    id_layout='range' (default): arrival-order layer state machine over
    id-range shards (see scaling_bloom_partials — works for any
    monotone ids, e.g. timestamps, at the cost of a 16 B/row range
    shuffle + sort). id_layout='dense': fixed id-value layer boundaries
    (scaling_bloom_fixed_partials — no row shuffle at all; requires
    unique integer ids, best when they're dense row numbers; pass
    expected_layers=ceil(n_rows/(capacity-1)) when the row count is
    known — one parquet-footer read — to switch the ε schedule from
    polynomial to uniform, see fixed_layer_eps). Use partials + a
    layer-row checkpoint write when the filter is too big to
    collect."""
    if id_layout == "dense":
        # small inputs fold the pieces on the driver, skipping the
        # groupBy(layer) exchange + pandas stage (bit-identical)
        pieces, merge_layer = _fixed_pieces(
            df, key_col, id_col, capacity, error_rate, seed, expected_layers
        )
        rows = fold_or_exchange(
            pieces, ["layer"], merge_layer, _LAYER_SCHEMA, gate=df, collect=True
        )
        if not rows:
            return ScalingBloom(capacity, error_rate, seed=seed)
        return assemble_scaling_bloom(rows, seed)
    if expected_layers is not None:
        raise ValueError(
            "expected_layers applies only to id_layout='dense' — the "
            "range path's layer count is an arrival-order outcome, not "
            "a function of the id span"
        )
    blob_df = scaling_bloom_partials(
        df, key_col, id_col, capacity, error_rate, seed, num_shards
    )
    # the range build repartitions to num_shards before its partial
    # stage, so the blob count is statically bounded by the shard count
    filt, _ = merge_blobs(
        blob_df, seed, merge_fanin,
        num_blobs=num_shards or df.sparkSession.sparkContext.defaultParallelism,
    )
    if filt is None:
        return ScalingBloom(capacity, error_rate, seed=seed)
    return filt
