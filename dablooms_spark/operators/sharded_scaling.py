"""Sharded SCALING bloom — the unbounded-stream filter at sizes
broadcast can't reach.

`build_scaling_bloom` materializes one driver-side filter and probes
by broadcast; at 10^12 keys the filter is tens of GB and neither fits
the driver nor a broadcast. This module keeps the scaling filter AS a
DataFrame of (shard, layer) rows and probes by co-group, composing the
two at-scale topologies already in the library:

  * key-hash sharding (operators/sharded.py): a key's membership
    question touches exactly ONE shard — probe volume never multiplies
    by layer count;
  * fixed id-value layer boundaries (bloom_build.
    scaling_bloom_fixed_partials): the layer set is a deterministic
    function of id, so the build is one map stage over the scan plus a
    piece-only shuffle — rows never move.

Layout: layer k of every shard owns ids in
[k·S·(capacity−1), (k+1)·S·(capacity−1)). Unique ids mean a window
holds ≤ S·(capacity−1) keys TOTAL; shard s draws a 1/S hash sample of
them, so the expected shard-layer load is capacity−1 — the reference's
per-layer bound in expectation rather than by construction. The layer
geometry carries a 6·√capacity slack (Binomial(W, 1/S) tail: overflow
probability < 1e-8 per shard-layer), the documented deviation this
topology trades for losing the row shuffle.

Per-layer error: the polynomial ε·(6/π²)/(k+1)² schedule (see
scaling_bloom_fixed_partials). NO ε/num_shards split is needed: a key
is checked only against its own shard's layers, so its compound FP is
Σ_k ε_k ≤ ε regardless of shard count — sharding here is free in
space, unlike the range path's per-shard budget.

Reference parity: per (shard, layer) semantics are exactly
counting_bloom_add/check (src/dablooms.c ≈L202/≈238) under the
scaling filter's layer schedule (≈L437); the sharded topology is what
the single mmap file cannot express.
"""

from __future__ import annotations

from typing import Iterator as TIterator
from typing import Tuple as TTuple

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import arrow_udf
from pyspark.sql.types import BooleanType, StructField, StructType

from dablooms_spark.core.counting_bloom import CountingBloom
from dablooms_spark.core.geometry import BloomGeometry
from dablooms_spark.core.pieces import PieceEncoder, fold, runs
from dablooms_spark.functions.arrow_utils import arrow_byte_view
from dablooms_spark.functions.murmur import DABLOOMS_SEED, dablooms_hash_words_buffer
from dablooms_spark.operators.merge import fold_or_exchange
from dablooms_spark.operators.sharded import (
    _SHARD_SEED,
    _measure_blobs,
    _probe_broadcast_bytes,
    _shard_expr,
)

_ROW_SCHEMA = (
    "shard long, first_id long, layer_eps double, capacity long, "
    "max_id long, sb_eps double, blob binary, n long, num_shards long"
)


def _ensure_num_shards(layers_df: DataFrame, num_shards: int) -> DataFrame:
    """num_shards determines BOTH shard routing and the layer width
    (width = (capacity-1)*num_shards): probing or deleting with a
    mismatched value routes keys to (shard, first_id) groups that
    mostly don't exist — silent drops — and can scatter decrements
    into wrong counters of a group that does exist. The build
    therefore stamps num_shards into every layer row; here we keep the
    column for per-group validation. Pre-r4 artifacts without the
    column get the caller's value stamped in (nothing to validate
    against — documented trust)."""
    if "num_shards" not in layers_df.columns:
        return layers_df.withColumn(
            "num_shards", F.lit(num_shards).cast("long")
        )
    return layers_df


def _layer_geom(
    k: int,
    capacity: int,
    error_rate: float,
    cache: dict,
    expected_layers: int | None = None,
) -> BloomGeometry:
    from dablooms_spark.operators.bloom_build import fixed_layer_eps

    g = cache.get(k)
    if g is None:
        slack = 6 * int(np.sqrt(capacity)) + 16
        g = BloomGeometry(
            capacity + slack, fixed_layer_eps(k, error_rate, expected_layers)
        )
        cache[k] = g
    return g


def _pieces_df(
    df: DataFrame,
    key_col: str,
    id_col: str,
    capacity: int,
    error_rate: float,
    num_shards: int,
    seed: int,
    expected_layers: int | None = None,
) -> DataFrame:
    """Map-only stage shared by build and remove: hash keys zero-copy
    and emit one counter piece (core/pieces.py) per (input partition,
    shard, touched layer). No row movement."""
    width = max(capacity - 1, 1) * num_shards
    geom_cache: dict[int, BloomGeometry] = {}

    key = F.col(key_col).cast("string")
    sdf = df.select(
        key.alias("key"),
        F.col(id_col).cast("long").alias("id"),
        _shard_expr(key, num_shards).alias("shard"),
    ).filter(F.col("key").isNotNull() & F.col("id").isNotNull())

    def route(batch: pa.RecordBatch):
        ids = batch.column(1).to_numpy(zero_copy_only=False).astype(np.int64)
        if len(ids) == 0:
            return
        if ids.min() < 0:
            # a negative id would corrupt the shard/layer composite
            # encoding AND the fixed-boundary layer math; refusing
            # beats silently dropping (a drop would false-negative)
            raise ValueError(
                "fixed-boundary layout requires non-negative ids; "
                f"got {int(ids.min())}"
            )
        shards = batch.column(2).to_numpy(zero_copy_only=False).astype(np.int64)
        buf, offs, lens = arrow_byte_view(batch.column(0))
        h1, h2 = dablooms_hash_words_buffer(buf, offs, lens, seed)
        group = shards * (1 << 40) + ids // width  # composite group code
        for code, a, b, i in runs(group, h1, h2, ids):
            yield (code >> 40, code & ((1 << 40) - 1)), a, b, i

    enc = PieceEncoder(
        ["shard", "layer"],
        lambda k: _layer_geom(k[1], capacity, error_rate, geom_cache, expected_layers),
    )
    return sdf.mapInArrow(enc.map_fn(route), schema=enc.ddl)


def build_sharded_scaling_layers(
    df: DataFrame,
    key_col: str,
    id_col: str,
    capacity: int,
    error_rate: float,
    num_shards: int = 16,
    seed: int = DABLOOMS_SEED,
    expected_layers: int | None = None,
) -> DataFrame:
    """DataFrame(shard, first_id, layer_eps, capacity, max_id, sb_eps,
    blob, n): one counting-bloom layer per (shard, id window). Pass
    expected_layers=ceil((max_id+1)/((capacity-1)*num_shards)) when
    the id span is known to switch the per-layer ε schedule from
    polynomial to uniform (see bloom_build.fixed_layer_eps — ~20%
    less hash/index work at 80 layers, more at scale). Rows
    never shuffle: stage 1 (_pieces_df) hashes keys zero-copy and
    emits one counter piece per (partition, shard, touched layer);
    stage 2 — pieces not rows — folds per (shard, layer), on the
    driver for small inputs (the layer rows then come back as a local
    relation) or else in one exchange. Shard routing is the same
    JVM-side expression the probe uses (`pmod(xxhash64(key), S)`)."""
    width = max(capacity - 1, 1) * num_shards
    geom_cache: dict[int, BloomGeometry] = {}
    pieces = _pieces_df(df, key_col, id_col, capacity, error_rate,
                        num_shards, seed, expected_layers)

    def merge_layer(pdf: pd.DataFrame) -> pd.DataFrame:
        s = int(pdf["shard"].iloc[0])
        li = int(pdf["layer"].iloc[0])
        g = _layer_geom(li, capacity, error_rate, geom_cache,
                        expected_layers)
        cb = CountingBloom(
            g.capacity, g.error_rate, first_id=li * width, seed=seed,
            _counters=fold(pdf, g.size), _count=int(pdf.n.sum()),
        )
        return pd.DataFrame(
            {
                "shard": [s],
                "first_id": [li * width],
                "layer_eps": [g.error_rate],
                "capacity": [capacity],
                "max_id": [int(pdf.max_id.max())],
                "sb_eps": [error_rate],
                "blob": [cb.to_bytes()],
                "n": [cb.count],
                "num_shards": [num_shards],
            }
        )

    return fold_or_exchange(
        pieces, ["shard", "layer"], merge_layer, _ROW_SCHEMA, gate=df
    )


def _broadcast_scaling_probe_udf(spark, shard_layers: dict, seed: int):
    """Vectorized membership UDF over (key_str, shard) against
    broadcast {shard: [layer blobs newest-first]} — the shuffle-free
    probe for sharded scaling filters small enough to replicate. Same
    newest-first early-skip loop as the cogroup path; layers
    deserialize once per task (iterator form, guide §4.5)."""
    bc = spark.sparkContext.broadcast(shard_layers)

    def probe_batch(keys: pa.Array, shards: np.ndarray, cache: dict) -> np.ndarray:
        layers = bc.value
        buf, offs, lens = arrow_byte_view(keys)
        h1, h2 = dablooms_hash_words_buffer(buf, offs, lens, seed)
        verdict = np.zeros(len(shards), dtype=bool)
        for s in np.unique(shards):
            blobs = layers.get(int(s))
            if not blobs:
                continue
            cbs = cache.get(int(s))
            if cbs is None:
                cbs = [CountingBloom.from_bytes(b, seed=seed) for b in blobs]
                cache[int(s)] = cbs
            idx = np.flatnonzero(shards == s)
            unknown = np.ones(len(idx), dtype=bool)
            for cb in cbs:
                if not unknown.any():
                    break
                sub = idx[unknown]
                hit = cb.check_hashed(h1[sub], h2[sub])
                verdict[sub[hit]] = True
                unknown[np.flatnonzero(unknown)[hit]] = False
        if keys.null_count:
            # NULL keys are definite non-members (parity with the
            # cogroup path's mask)
            verdict &= ~np.asarray(pa.compute.is_null(keys))
        return verdict

    @arrow_udf("boolean")
    def probe(it: TIterator[TTuple[pa.Array, pa.Array]]) -> TIterator[pa.Array]:
        cache: dict = {}
        for keys, shards in it:
            sh = shards.to_numpy(zero_copy_only=False).astype(np.int64)
            yield pa.array(probe_batch(keys, sh, cache))

    return probe


def sharded_scaling_probe(
    probe_df: DataFrame,
    key_col: str,
    layers_df: DataFrame,
    num_shards: int = 16,
    salt: int = 8,
    seed: int = DABLOOMS_SEED,
    out_col: str = "is_member",
) -> DataFrame:
    """probe_df + Boolean membership against a sharded scaling filter.

    Probe rows co-group with their shard's LAYER rows on (shard,
    salt); the layer side replicates `salt` ways so a hot shard splits
    across tasks. Layers are consulted newest-first with early-skip —
    once a key answers positive it drops out of later (older) layer
    checks, the vectorized form of scaling_bloom_check's loop
    (src/dablooms.c ≈L238 family). No false negatives; FPs ≤ the
    compound Σ layer budgets ≤ sb_eps.

    Topology is SIZE-ADAPTIVE (guide §2.4): when the layer rows' total
    blob bytes fit spark.dablooms.probe.autoBroadcastBytes (default
    64 MiB, '0' disables) the layers are collected + broadcast and the
    verdict is a vectorized UDF column — zero shuffle of the probe
    side (which otherwise moves EVERY probe row with all its payload
    columns through the cogroup). Bigger filters keep the cogroup
    topology, which never materializes the filter in one place.
    Verdicts are identical either way (same blobs, same newest-first
    early-skip loop, same NULL handling)."""
    key = F.col(key_col).cast("string")
    spark = probe_df.sparkSession
    thr = _probe_broadcast_bytes(spark)
    if thr > 0:
        layers_df2, total = _measure_blobs(_ensure_num_shards(layers_df, num_shards))
        if total <= thr:
            rows = layers_df2.collect()
            layers_df2.unpersist()
            if rows:
                built_shards = int(rows[0]["num_shards"])
                if built_shards != num_shards:
                    raise ValueError(
                        f"num_shards drift: layer rows were built with "
                        f"num_shards={built_shards}, probe called with "
                        f"{num_shards} — shard routing and layer width differ"
                    )
            shard_layers: dict[int, list[bytes]] = {}
            for r in sorted(rows, key=lambda r: -int(r["first_id"])):
                shard_layers.setdefault(int(r["shard"]), []).append(
                    bytes(r["blob"])
                )
            probe = _broadcast_scaling_probe_udf(spark, shard_layers, seed)
            return probe_df.withColumn(
                out_col, probe(key, _shard_expr(key, num_shards))
            )
        layers_df = layers_df2
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
    # __salt MUST be long on both sides: the probe side's pmod(xxhash64)
    # is long, and cogroup hash-partitions each side independently —
    # an int salt here lands the blob rows in DIFFERENT shuffle
    # partitions than their probe rows (int 0 and long 0 hash apart),
    # silently splitting every group into a probe-only half (all-False
    # verdicts) and an orphan blob half
    b = _ensure_num_shards(layers_df, num_shards).select(
        F.col("shard").cast("long").alias("__shard"),
        F.explode(
            F.sequence(F.lit(0).cast("long"), F.lit(salt - 1).cast("long"))
        ).alias("__salt"),
        "first_id",
        "blob",
        "num_shards",
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
            return out.assign(**{out_col: False})
        built_shards = int(layer_pdf["num_shards"].iloc[0])
        if built_shards != num_shards:
            raise ValueError(
                f"num_shards drift: layer rows were built with "
                f"num_shards={built_shards}, probe called with "
                f"{num_shards} — shard routing and layer width differ"
            )
        keys_str = probe_pdf["__key_str"]
        arr = pa.array(keys_str.astype(str), type=pa.large_string())
        buf, offs, lens = arrow_byte_view(arr)
        h1, h2 = dablooms_hash_words_buffer(buf, offs, lens, seed)
        verdict = np.zeros(len(probe_pdf), dtype=bool)
        unknown = np.ones(len(probe_pdf), dtype=bool)
        layer_pdf = layer_pdf.sort_values("first_id", ascending=False)
        for blob in layer_pdf.blob:
            if not unknown.any():
                break
            cb = CountingBloom.from_bytes(bytes(blob), seed=seed)
            idx = np.flatnonzero(unknown)
            hit = cb.check_hashed(h1[idx], h2[idx])
            verdict[idx[hit]] = True
            unknown[idx[hit]] = False
        nulls = keys_str.isna().to_numpy()
        if nulls.any():
            verdict &= ~nulls
        return out.assign(**{out_col: verdict})

    return (
        p.groupBy("__shard", "__salt")
        .cogroup(b.groupBy("__shard", "__salt"))
        .applyInPandas(probe_group, schema=out_schema)
    )


def sharded_scaling_remove(
    layers_df: DataFrame,
    deletions: DataFrame,
    key_col: str,
    id_col: str,
    capacity: int,
    error_rate: float,
    num_shards: int = 16,
    seed: int = DABLOOMS_SEED,
    expected_layers: int | None = None,
) -> DataFrame:
    """Counter-decrement deletions against a sharded scaling filter,
    fully in the cluster — reference semantics counting_bloom_remove
    (src/dablooms.c ≈L220) at the sharded topology. Returns the new
    layer-rows DataFrame; no blob ever visits the driver.

    Deletions run the SAME map-only piece stage as the build (the
    deletion's id routes it to the layer that owned its insertion,
    dablooms' id model), then each (shard, layer) cogroup subtracts
    counter-wise with a floor at zero. capacity/error_rate/num_shards
    must match the build's (validated against the layer rows). A
    deletion whose (shard, layer) has no layer row targets a key never
    inserted there and is dropped, mirroring the non-strict decrement
    floor. The count n decreases by the deletions applied (floored at
    zero). Saturated counters carry the reference's documented
    remove-after-saturation hazard, exactly as in the driver-side
    path."""
    width = max(capacity - 1, 1) * num_shards
    geom_cache: dict[int, BloomGeometry] = {}
    pieces = _pieces_df(deletions, key_col, id_col, capacity, error_rate,
                        num_shards, seed, expected_layers)
    # align pieces to the layer rows' key space
    pieces = pieces.withColumn(
        "first_id", F.col("layer") * F.lit(width)
    ).drop("layer")

    layers_df = _ensure_num_shards(layers_df, num_shards)
    # Eager one-row check too: with a mismatched num_shards most
    # deletion pieces route to (shard, first_id) groups that don't
    # exist, where the per-group validation below can never fire (the
    # cogroup sees no layer row to compare) and deletions would be
    # silently dropped as "never inserted". One first() is one tiny
    # job, negligible against the remove itself.
    head = layers_df.select("num_shards").first()
    if head is not None and int(head["num_shards"]) != num_shards:
        raise ValueError(
            f"num_shards drift: layer rows were built with "
            f"num_shards={head['num_shards']}, remove called with "
            f"{num_shards}"
        )
    out_fields = [
        "shard", "first_id", "layer_eps", "capacity", "max_id", "sb_eps",
        "blob", "n", "num_shards",
    ]

    def apply_deletions(keys, layer_pdf: pd.DataFrame, piece_pdf: pd.DataFrame) -> pd.DataFrame:
        if layer_pdf.empty:
            # deletions for keys never inserted here: dropped (floor)
            return pd.DataFrame(columns=out_fields)
        row = layer_pdf.iloc[0]
        if int(row["capacity"]) != capacity or float(row["sb_eps"]) != error_rate:
            raise ValueError(
                "geometry drift: layer rows were built with "
                f"capacity={row['capacity']}, error_rate={row['sb_eps']}"
            )
        if int(row["num_shards"]) != num_shards:
            raise ValueError(
                f"num_shards drift: layer rows were built with "
                f"num_shards={row['num_shards']}, remove called with "
                f"{num_shards} — deletion pieces would route to wrong "
                f"(shard, first_id) groups"
            )
        li = int(row["first_id"]) // width
        expect_eps = _layer_geom(
            li, capacity, error_rate, geom_cache, expected_layers
        ).error_rate
        if abs(float(row["layer_eps"]) - expect_eps) > 1e-15:
            raise ValueError(
                "eps-schedule drift: layer rows carry "
                f"layer_eps={row['layer_eps']} but the remove's schedule "
                f"(expected_layers={expected_layers}) derives "
                f"{expect_eps} — deletion indices were expanded under a "
                "different geometry; pass the build's expected_layers"
            )
        if piece_pdf.empty:
            return layer_pdf[out_fields]
        cb = CountingBloom.from_bytes(bytes(row["blob"]), seed=seed)
        removed = int(piece_pdf.n.sum())
        dl = CountingBloom(
            cb.geometry.capacity, cb.geometry.error_rate,
            first_id=cb.first_id, seed=seed,
            _counters=fold(piece_pdf, cb.geometry.size), _count=removed,
        )
        cb = cb.subtract(dl)
        cb.count = max(int(row["n"]) - removed, 0)
        new = layer_pdf.iloc[[0]].copy()
        new["blob"] = [cb.to_bytes()]
        new["n"] = [cb.count]
        return new[out_fields]

    return (
        layers_df.groupBy("shard", "first_id")
        .cogroup(pieces.groupBy("shard", "first_id"))
        .applyInPandas(apply_deletions, schema=_ROW_SCHEMA)
    )


def merge_sharded_layer_rows(
    layers_df: DataFrame, seed: int = DABLOOMS_SEED
) -> DataFrame:
    """Union-merge sharded layer rows: rows sharing (shard, first_id)
    — e.g. a resumed/incremental build continuing inside the same id
    window — counter-sum into one row; disjoint rows pass through.
    One parallel groupBy over (shard, first_id): the filter's natural
    parallel unit, no driver traffic (the sharded twin of
    bloom_build.merge_layer_rows). Geometry consistency (capacity,
    sb_eps, num_shards) is validated per colliding group."""
    out_fields = [
        "shard", "first_id", "layer_eps", "capacity", "max_id", "sb_eps",
        "blob", "n", "num_shards",
    ]

    def merge_group(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) == 1:
            return pdf[out_fields]
        for col in ("capacity", "sb_eps", "num_shards"):
            if pdf[col].nunique() > 1:
                raise ValueError(
                    f"geometry drift inside (shard, first_id) group: "
                    f"{col} values {sorted(pdf[col].unique())}"
                )
        if pdf["layer_eps"].nunique() > 1:
            raise ValueError(
                "eps-schedule drift inside (shard, first_id) group: "
                f"layer_eps values {sorted(pdf['layer_eps'].unique())} — "
                "the colliding rows were built under different layer-eps "
                "schedules (e.g. one batch with an expected_layers hint "
                "and one without, or different hints); rebuild the batches "
                "with one pinned expected_layers so colliding layers share "
                "a geometry"
            )
        cb = CountingBloom.merge_blobs(
            [bytes(b) for b in pdf.blob], seed=seed
        )
        new = pdf.iloc[[0]].copy()
        new["blob"] = [cb.to_bytes()]
        new["n"] = [int(cb.count)]
        new["max_id"] = [int(pdf.max_id.max())]
        return new[out_fields]

    return layers_df.groupBy("shard", "first_id").applyInPandas(
        merge_group, schema=_ROW_SCHEMA
    )


def sharded_scaling_semi_join(
    probe_df: DataFrame,
    key_col: str,
    layers_df: DataFrame,
    exact_df: DataFrame | None = None,
    exact_key: str | None = None,
    num_shards: int = 16,
    salt: int = 8,
    seed: int = DABLOOMS_SEED,
) -> DataFrame:
    """Semi join against a sharded scaling filter: bloom-prune (no
    false negatives), optionally confirm survivors exactly — the
    bloom_semi_join contract at scaling-filter sizes broadcast can't
    reach."""
    out = sharded_scaling_probe(
        probe_df, key_col, layers_df, num_shards, salt, seed, "__hit"
    )
    out = out.filter(F.col("__hit")).drop("__hit")
    if exact_df is not None:
        ek = exact_key or key_col
        from dablooms_spark.operators.bloom_probe import _semi_dim

        out = out.join(
            _semi_dim(exact_df, ek),
            on=F.col(key_col) == F.col("__ek"),
            how="left_semi",
        )
    return out
