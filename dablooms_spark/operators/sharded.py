"""The layered sharded filter: a filter too big to broadcast, kept as
a DataFrame of (shard, layer) counting-bloom rows.

A filter sized for 10^12 keys at ε=0.01 is ~1.4 TB of nibbles: it can
neither broadcast nor live on the driver. Each key hash-routes to one
of S shards (`pmod(xxhash64(key), S)`, pure Catalyst on both sides),
and each shard holds counting-bloom layers checked newest first, as
dablooms' scaling filter checks its layers (scaling_bloom_check,
src/dablooms.c ≈L437 family). Three filters are this one structure
with a different layer key:

  * sharded counting (the wrappers below): one layer per shard, sized
    capacity/S;
  * sharded scaling (sharded_scaling.py): layers keyed by id window;
  * rotating generations (generations.py): layers keyed by time bucket.

The layered core is the one build, probe and remove of all three (the
walk itself is scaling_bloom.check_layers, the exact pass
bloom_probe.confirm); a wrapper supplies the layer key, the per-layer
geometry and the row projection.

- build_layers: one map stage (layer_pieces) emits counter pieces
  (core/pieces.py) per touched (shard, layer) and input partition;
  they fold per (shard, layer) on the driver while their measured
  bytes fit the fold ceiling, else in one piece-only exchange
  (merge.fold_or_exchange). Rows never shuffle; the fold is
  an exact saturating counter sum, bit-identical to one node's build.
- probe_layers: a key walks its shard's layers newest first and stops
  at the first that answers "present" — in bloom_probe's one
  broadcast UDF (shared with the whole-filter probe) when the blobs
  fit spark.dablooms.probe.autoBroadcastBytes, else in a
  (shard, salt) cogroup whose salt bounds a hot shard's task. No
  false negatives; FP ≤ Σ of the shard's per-layer ε.
- remove_layers: deletion pieces co-group with the layer rows and
  subtract counter-wise, floored at zero (counting_bloom_remove ≈L220).
- confirm (bloom_probe): the exact LEFT SEMI / ANTI pass over the
  bloom verdicts, shared with the broadcast filter's joins.

Per (shard, layer) semantics are exactly counting_bloom_add/check
(≈L202/≈238); sharding is the topology the reference's single mmap
file cannot express.
"""

from __future__ import annotations

import operator
from collections.abc import Callable
from functools import reduce

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType, StructField, StructType

from dablooms_spark.core.counting_bloom import CountingBloom
from dablooms_spark.core.geometry import BloomGeometry
from dablooms_spark.core.pieces import PieceEncoder, fold, runs
from dablooms_spark.functions.arrow_utils import arrow_byte_view
from dablooms_spark.functions.murmur import DABLOOMS_SEED, dablooms_hash_words_buffer
from dablooms_spark.operators.bloom_probe import _conf_size_bytes, _probe_udf, _verdicts, confirm
from dablooms_spark.operators.merge import _BLOB_SCHEMA, _partial_bytes, fold_or_exchange
from dablooms_spark.operators.merge import _with_blob_rows

_SHARD_SEED = 0x5D

Geometry = Callable[[int], BloomGeometry]


def _shard_expr(key, num_shards: int):
    # JVM-side routing: both build and probe compute the same shard in
    # whole-stage codegen; murmur is only used for the filter bits
    return F.pmod(F.xxhash64(key, F.lit(_SHARD_SEED)), F.lit(num_shards))


def _probe_broadcast_bytes(spark) -> int:
    """Blob bytes under which a sharded filter is broadcast instead of
    co-grouped with every probe row (spark.dablooms.probe.
    autoBroadcastBytes, default 64 MiB, executor-memory bound; '0' off)."""
    return _conf_size_bytes(spark, "spark.dablooms.probe.autoBroadcastBytes", "64m")


def _check_num_shards(built: int, num_shards: int) -> None:
    """Refuse rows built with another num_shards (routing and width)."""
    if int(built) != num_shards:
        raise ValueError(
            f"num_shards drift: layer rows were built with "
            f"num_shards={int(built)}, called with {num_shards} — shard "
            "routing and layer width differ"
        )


def layer_pieces(
    keyed: DataFrame,
    num_shards: int,
    geometry: Geometry,
    seed: int = DABLOOMS_SEED,
    on_overflow: str = "saturate",
) -> DataFrame:
    """The map-only stage of every build and remove: `keyed` carries
    (key string, layer long[, id long]); rows with a NULL column drop
    out, each row routes to (its key's shard, its layer), and every
    input partition emits one counter piece (core/pieces.py) per
    touched (shard, layer). `geometry(layer)` sizes a layer. An `id`
    column feeds the pieces' max_id and must be non-negative."""
    has_ids = "id" in keyed.columns
    cols = ["key", "layer", "shard"] + (["id"] if has_ids else [])
    present = reduce(operator.and_, [F.col(c).isNotNull() for c in keyed.columns])
    sdf = (
        keyed.filter(present)
        .withColumn("shard", _shard_expr(F.col("key"), num_shards))
        .select(*cols)
    )

    def route(batch: pa.RecordBatch):
        layers, shards, *ids = (
            batch.column(i).to_numpy(zero_copy_only=False).astype(np.int64)
            for i in range(1, batch.num_columns)
        )
        if ids and len(ids[0]) and ids[0].min() < 0:
            # ids place keys in fixed id windows; refusing beats
            # silently misrouting (a misrouted key would false-negative)
            raise ValueError(
                "fixed-boundary layout requires non-negative ids; "
                f"got {int(ids[0].min())}"
            )
        buf, offs, lens = arrow_byte_view(batch.column(0))
        h1, h2 = dablooms_hash_words_buffer(buf, offs, lens, seed)
        # floor div/mod decode negative layers (pre-1970 generations)
        for code, a, b, *i in runs(layers * num_shards + shards, h1, h2, *ids):
            layer, shard = divmod(code, num_shards)
            yield (shard, layer), a, b, (i[0] if i else None)

    enc = PieceEncoder(
        ["shard", "layer"], lambda k: geometry(k[1]), on_overflow=on_overflow
    )
    return sdf.mapInArrow(enc.map_fn(route), schema=enc.ddl)


def build_layers(
    keyed: DataFrame,
    num_shards: int,
    geometry: Geometry,
    row: Callable[[int, int, CountingBloom, int], dict],
    schema: str,
    seed: int = DABLOOMS_SEED,
    width: int = 0,
    on_overflow: str = "saturate",
    prior: DataFrame | None = None,
) -> DataFrame:
    """Build a layered sharded filter from `keyed` (see layer_pieces):
    the pieces fold per (shard, layer) into one CountingBloom each
    (first_id = layer·width), projected to an output row by
    `row(shard, layer, bloom, max_id)`. The fold runs on the driver
    when the pieces' measured bytes are small, else in one exchange
    (merge.fold_or_exchange). `prior` layers (shard, layer, n, max_id,
    blob) fold in the same groups as blob rows."""

    def merge_layer(pdf: pd.DataFrame) -> pd.DataFrame:
        shard, layer = int(pdf.shard.iloc[0]), int(pdf.layer.iloc[0])
        g = geometry(layer)
        cb = CountingBloom(
            g.capacity, g.error_rate, first_id=layer * width, seed=seed,
            _counters=fold(pdf, g.size, on_overflow, geometry=g),
            _count=int(pdf.n.sum()), on_overflow=on_overflow,
        )
        out = row(shard, layer, cb, int(pdf.max_id.max()))
        return pd.DataFrame({c: [v] for c, v in out.items()})

    pieces = layer_pieces(keyed, num_shards, geometry, seed, on_overflow)
    pieces = _with_blob_rows(pieces, prior)
    return fold_or_exchange(pieces, ["shard", "layer"], merge_layer, schema)


def probe_layers(
    probe_df: DataFrame,
    key,
    layers: DataFrame,
    num_shards: int,
    salt: int = 8,
    seed: int = DABLOOMS_SEED,
    out_col: str = "is_member",
) -> DataFrame:
    """probe_df + a Boolean `out_col`: is the string Column `key` in
    the layered filter `layers` (shard, layer, blob, num_shards)?
    SIZE-ADAPTIVE (guide §2.4): layers whose blobs fit
    autoBroadcastBytes are broadcast to a UDF (no probe-side shuffle);
    bigger ones co-group on (shard, salt), the layer side replicated
    `salt` ways so no task holds more than ~rows/(S·salt) probe rows.
    Both give the same verdicts (same blobs, walk and NULL handling)."""
    thr = _probe_broadcast_bytes(probe_df.sparkSession)
    if thr > 0:
        # persist: the size check and the probe share ONE computation
        # of the build lineage (the cache stays for the cogroup probe)
        layers = layers.persist()
        if _partial_bytes(layers) <= thr:
            rows = layers.collect()
            layers.unpersist()
            shard_layers: dict[int, list[bytes]] = {}
            for r in sorted(rows, key=lambda r: -int(r["layer"])):
                _check_num_shards(r["num_shards"], num_shards)
                shard_layers.setdefault(int(r["shard"]), []).append(bytes(r["blob"]))
            probe = _probe_udf(probe_df.sparkSession, shard_layers, seed)
            return probe_df.withColumn(
                out_col, probe(key, _shard_expr(key, num_shards))
            )
    # __key_str is the JVM CAST(key AS STRING) — the exact bytes the
    # build hashed; re-rendering python-side (astype(str)) can differ
    # for doubles/decimals and would false-negative
    p = (
        probe_df.withColumn("__key_str", key)
        .withColumn("__shard", _shard_expr(key, num_shards))
        .withColumn(
            "__salt", F.pmod(F.xxhash64(key, F.lit(_SHARD_SEED + 1)), F.lit(salt))
        )
    )
    # __salt MUST be long on both sides: cogroup hash-partitions each
    # side independently and int 0 / long 0 hash apart — an int salt
    # splits groups into a probe-only half (all-False verdicts) and an
    # orphan layer half whenever the sides don't share a partition
    b = layers.select(
        F.col("shard").cast("long").alias("__shard"),
        F.explode(
            F.sequence(F.lit(0).cast("long"), F.lit(salt - 1).cast("long"))
        ).alias("__salt"),
        "layer", "blob", "num_shards",
    )
    out_schema = StructType(
        list(probe_df.schema.fields) + [StructField(out_col, BooleanType())]
    )
    in_cols = [f.name for f in probe_df.schema.fields]

    def probe_group(keys, probe_pdf: pd.DataFrame, layer_pdf: pd.DataFrame) -> pd.DataFrame:
        if probe_pdf.empty:
            return pd.DataFrame(columns=in_cols + [out_col])
        out = probe_pdf[in_cols]
        if layer_pdf.empty:
            # shard holds no keys: every probe is a definite negative
            return out.assign(**{out_col: False})
        _check_num_shards(layer_pdf["num_shards"].iloc[0], num_shards)
        blobs = layer_pdf.sort_values("layer", ascending=False).blob
        verdict = _verdicts(
            pa.Array.from_pandas(probe_pdf["__key_str"], type=pa.large_string()),
            probe_pdf["__shard"].to_numpy(),
            lambda _s: (CountingBloom.from_bytes(bytes(b), seed=seed) for b in blobs),
            seed,
        )
        return out.assign(**{out_col: verdict})

    return (
        p.groupBy("__shard", "__salt")
        .cogroup(b.groupBy("__shard", "__salt"))
        .applyInPandas(probe_group, schema=out_schema)
    )


def remove_layers(
    rows: DataFrame,
    pieces: DataFrame,
    geometry: Geometry,
    schema: str,
    seed: int = DABLOOMS_SEED,
    validate: Callable[[pd.Series], None] | None = None,
    on_overflow: str = "saturate",
) -> DataFrame:
    """Subtract deletion `pieces` (layer_pieces over the deleted rows)
    from the layer `rows` they co-group with on (shard, layer),
    floored at zero (a strict blob refuses instead); n drops by the
    deletions applied. `validate(row)` may refuse a row first.
    Deletions with no layer row target keys never inserted there and
    are dropped. Returns `schema` rows; no blob visits the driver."""
    cols = [c.strip().split()[0] for c in schema.split(",")]

    def apply_deletions(keys, row_pdf: pd.DataFrame, piece_pdf: pd.DataFrame) -> pd.DataFrame:
        if row_pdf.empty:
            return pd.DataFrame(columns=cols)
        row = row_pdf.iloc[0]
        if validate is not None:
            validate(row)
        if piece_pdf.empty:
            return row_pdf[cols]
        cb = CountingBloom.from_bytes(bytes(row["blob"]), seed=seed)
        g = geometry(int(row["layer"]))
        # subtract() refuses a deletion filter of another geometry
        cb.subtract(CountingBloom(
            g.capacity, g.error_rate, first_id=cb.first_id, seed=seed,
            _counters=fold(piece_pdf, g.size, on_overflow),
            _count=int(piece_pdf.n.sum()),
        ))
        new = row_pdf.iloc[[0]].copy()
        new["blob"] = [cb.to_bytes()]
        new["n"] = [cb.count]
        return new[cols]

    return (
        rows.groupBy("shard", "layer")
        .cogroup(pieces.groupBy("shard", "layer"))
        .applyInPandas(apply_deletions, schema=schema)
    )


def _counting(df: DataFrame, key_col: str, capacity: int, error_rate: float,
              num_shards: int, layer=None):
    """(keyed frame, geometry) of sharded counting layers, each shard's
    layer sized capacity/num_shards; `layer` defaults to 0."""
    g = BloomGeometry(max(1, capacity // num_shards), error_rate)
    keyed = df.select(
        F.col(key_col).cast("string").alias("key"),
        (F.lit(0).cast("long") if layer is None else layer).alias("layer"),
    )
    return keyed, lambda _layer: g


def _as_layers(blobs_df: DataFrame, num_shards: int) -> DataFrame:
    return blobs_df.select(
        "shard", F.lit(0).cast("long").alias("layer"), "blob", "n",
        F.lit(num_shards).cast("long").alias("num_shards"),
    )


def build_sharded_counting_bloom(
    df: DataFrame,
    key_col: str,
    capacity: int,
    error_rate: float,
    num_shards: int = 64,
    seed: int = DABLOOMS_SEED,
    on_overflow: str = "saturate",
) -> DataFrame:
    """DataFrame(shard long, blob binary, n long): one counting bloom
    per key-hash shard, each sized capacity/num_shards (build_layers;
    rows never shuffle). on_overflow='error' extends the reference's bitmap_increment
    refusal (≈L108) to the sharded topology: a counter whose count
    passes 15 within one partition's piece or across the folded
    pieces raises, and the strict flag rides each blob header; a
    checkpoint above driverMergeMaxBytes (operators/merge.py)."""
    keyed, geometry = _counting(df, key_col, capacity, error_rate, num_shards)
    return build_layers(
        keyed, num_shards, geometry,
        lambda s, _layer, cb, _max_id: {"shard": s, "blob": cb.to_bytes(), "n": cb.count},
        _BLOB_SCHEMA, seed, on_overflow=on_overflow,
    )


def sharded_bloom_remove(
    blobs_df: DataFrame,
    deletions: DataFrame,
    key_col: str,
    capacity: int,
    error_rate: float,
    num_shards: int = 64,
    seed: int = DABLOOMS_SEED,
    on_overflow: str = "saturate",
) -> DataFrame:
    """Counter-decrement deletions against a sharded counting filter
    (remove_layers) — counting_bloom_remove (src/dablooms.c ≈L220) at
    the sharded topology; returns the new (shard, blob, n) DataFrame.
    capacity/error_rate/num_shards/seed must match the build's.
    Over-removal (keys never inserted) floors, mirroring the
    non-strict decrement; pass on_overflow='error' when removing from
    a strict filter so a deletion key repeated past 15 raises instead
    of clipping (a clipped deletion count would mask the over-removal
    the strict mode exists to refuse)."""
    keyed, geometry = _counting(deletions, key_col, capacity, error_rate, num_shards)
    pieces = layer_pieces(keyed, num_shards, geometry, seed, on_overflow)
    return remove_layers(
        _as_layers(blobs_df, num_shards), pieces, geometry, _BLOB_SCHEMA, seed,
        on_overflow=on_overflow,
    )


def sharded_bloom_probe(
    probe_df: DataFrame,
    key_col: str,
    blobs_df: DataFrame,
    num_shards: int = 64,
    salt: int = 8,
    seed: int = DABLOOMS_SEED,
    out_col: str = "is_member",
    key_cast: str | None = None,
) -> DataFrame:
    """probe_df + a Boolean membership column for a sharded counting
    filter (probe_layers over one layer per shard). No false
    negatives; FPs ≤ the per-shard bound. `key_cast`: optional type
    cast BEFORE the string cast — must match the build side's (see
    bloom_probe_column)."""
    key = F.col(key_col)
    if key_cast is not None:
        key = key.cast(key_cast)
    return probe_layers(
        probe_df, key.cast("string"), _as_layers(blobs_df, num_shards),
        num_shards, salt, seed, out_col,
    )


def sharded_semi_join(
    probe_df: DataFrame,
    key_col: str,
    blobs_df: DataFrame,
    exact_df: DataFrame | None = None,
    exact_key: str | None = None,
    num_shards: int = 64,
    salt: int = 8,
    seed: int = DABLOOMS_SEED,
    key_cast: str | None = None,
) -> DataFrame:
    """Semi join against a sharded filter: bloom-prune (no false
    negatives), then optionally confirm survivors exactly."""
    out = sharded_bloom_probe(
        probe_df, key_col, blobs_df, num_shards, salt, seed, "__hit", key_cast
    )
    return confirm(out, key_col, exact_df, exact_key)


def sharded_anti_join(
    probe_df: DataFrame,
    key_col: str,
    blobs_df: DataFrame,
    exact_df: DataFrame | None = None,
    exact_key: str | None = None,
    num_shards: int = 64,
    salt: int = 8,
    seed: int = DABLOOMS_SEED,
    key_cast: str | None = None,
) -> DataFrame:
    """LEFT ANTI against a sharded filter: bloom misses pass straight
    through (definite negatives); with exact_df only the ε-sized hit
    set pays for an exact anti join."""
    out = sharded_bloom_probe(
        probe_df, key_col, blobs_df, num_shards, salt, seed, "__hit", key_cast
    )
    return confirm(out, key_col, exact_df, exact_key, anti=True)
