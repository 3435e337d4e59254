"""Sharded SCALING bloom — the unbounded-stream filter at sizes
broadcast can't reach.

`build_scaling_bloom` materializes one driver-side filter and probes
by broadcast; at 10^12 keys the filter is tens of GB and fits neither.
This module is the layered sharded filter (operators/sharded.py) with
layers keyed by id window: a key's membership question touches ONE
shard (probe volume never multiplies by layer count), and the layer
set is a deterministic function of id (bloom_build.
scaling_bloom_fixed_partials), so the build is one map stage plus a
piece-only shuffle — rows never move. The wrappers supply the layer
key id // width, the slack-and-schedule geometry and the 9-column
layer row, and validate the rows' geometry on remove.

Layout: layer k of every shard owns ids in
[k·S·(capacity−1), (k+1)·S·(capacity−1)). Unique ids mean a window
holds ≤ S·(capacity−1) keys; shard s draws a 1/S hash sample, so the
expected shard-layer load is capacity−1 — the reference's per-layer
bound in expectation. The geometry carries a 6·√capacity slack
(Binomial tail: overflow probability < 1e-8 per shard-layer), the
documented deviation traded for losing the row shuffle.

Per-layer error: the polynomial ε·(6/π²)/(k+1)² schedule (see
scaling_bloom_fixed_partials). NO ε/num_shards split is needed: a key
is checked only against its own shard's layers, so its compound FP is
Σ_k ε_k ≤ ε regardless of shard count.

Reference parity: per (shard, layer) semantics are exactly
counting_bloom_add/check (src/dablooms.c ≈L202/≈238) under the
scaling filter's layer schedule (≈L437).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dablooms_spark.core.counting_bloom import CountingBloom
from dablooms_spark.core.geometry import BloomGeometry
from dablooms_spark.functions.murmur import DABLOOMS_SEED
from dablooms_spark.operators.bloom_build import fixed_layer_eps
from dablooms_spark.operators.bloom_probe import confirm
from dablooms_spark.operators.sharded import (
    Geometry,
    _check_num_shards,
    build_layers,
    layer_pieces,
    probe_layers,
    remove_layers,
)

_ROW_SCHEMA = (
    "shard long, first_id long, layer_eps double, capacity long, "
    "max_id long, sb_eps double, blob binary, n long, num_shards long"
)


def _ensure_num_shards(layers_df: DataFrame, num_shards: int) -> DataFrame:
    """The build stamps num_shards (shard routing AND layer width) into
    every layer row so probe and remove can refuse a mismatch. Older
    artifacts without the column get the caller's value stamped in
    (nothing to validate against — documented trust)."""
    if "num_shards" in layers_df.columns:
        return layers_df
    return layers_df.withColumn("num_shards", F.lit(num_shards).cast("long"))


def _scaling_layers(
    df: DataFrame,
    key_col: str,
    id_col: str,
    capacity: int,
    error_rate: float,
    num_shards: int,
    expected_layers: int | None = None,
) -> tuple[DataFrame, Geometry, int]:
    """(keyed frame with layer = id // width, layer geometry, width);
    layer k holds capacity + 6·√capacity slack at the k-th ε."""
    width = max(capacity - 1, 1) * num_shards
    slack = 6 * int(np.sqrt(capacity)) + 16
    cache: dict[int, BloomGeometry] = {}

    def geometry(k: int) -> BloomGeometry:
        if k not in cache:
            cache[k] = BloomGeometry(
                capacity + slack, fixed_layer_eps(k, error_rate, expected_layers)
            )
        return cache[k]

    keyed = df.select(
        F.col(key_col).cast("string").alias("key"),
        F.col(id_col).cast("long").alias("id"),
    ).withColumn("layer", F.expr(f"id div {width}"))
    return keyed, geometry, width


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
    """Map-only stage shared by build and remove: one counter piece
    per (input partition, shard, touched layer). No row movement."""
    keyed, geometry, _ = _scaling_layers(
        df, key_col, id_col, capacity, error_rate, num_shards, expected_layers
    )
    return layer_pieces(keyed, num_shards, geometry, seed)


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
    blob, n, num_shards): one counting-bloom layer per (shard, id
    window). Pass expected_layers=ceil((max_id+1)/((capacity-1)*num_shards))
    when the id span is known to switch the per-layer ε schedule from
    polynomial to uniform (see bloom_build.fixed_layer_eps — ~20%
    less hash/index work at 80 layers, more at scale). build_layers:
    one map stage of counter pieces, folded per (shard, layer) on the
    driver when the pieces are small, else in one piece-only exchange
    (a checkpoint, not recomputed from lineage: operators/merge.py)."""
    return _fold_layers(
        df, key_col, id_col, capacity, error_rate, num_shards, seed,
        expected_layers,
    )


def _fold_layers(df: DataFrame, key_col: str, id_col: str, capacity: int,
                 error_rate: float, num_shards: int, seed: int,
                 expected_layers: int | None, prior: DataFrame | None = None):
    """build_sharded_scaling_layers' one measured fold. `prior` layer
    rows (an ingest checkpoint's) fold in with the pieces per (shard,
    first_id div width); a prior row stamped with another num_shards
    raises in Catalyst, before the fold."""
    keyed, geometry, width = _scaling_layers(
        df, key_col, id_col, capacity, error_rate, num_shards, expected_layers
    )
    if prior is not None:
        drift = F.lit(f"num_shards drift: prior rows not built with num_shards={num_shards}")
        prior = prior.select(
            "shard", F.expr(f"first_id div {width}").alias("layer"), "n", "max_id",
            F.when(F.col("num_shards") == num_shards, F.col("blob"))
            .otherwise(F.raise_error(drift)).alias("blob"),
        )

    def row(shard: int, _layer: int, cb: CountingBloom, max_id: int) -> dict:
        return {
            "shard": shard, "first_id": cb.first_id,
            "layer_eps": cb.geometry.error_rate, "capacity": capacity,
            "max_id": max_id, "sb_eps": error_rate, "blob": cb.to_bytes(),
            "n": cb.count, "num_shards": num_shards,
        }

    return build_layers(
        keyed, num_shards, geometry, row, _ROW_SCHEMA, seed, width=width,
        prior=prior,
    )


def sharded_scaling_probe(
    probe_df: DataFrame,
    key_col: str,
    layers_df: DataFrame,
    num_shards: int = 16,
    salt: int = 8,
    seed: int = DABLOOMS_SEED,
    out_col: str = "is_member",
) -> DataFrame:
    """probe_df + Boolean membership against a sharded scaling filter:
    probe_layers ordered by first_id, so each key walks its shard's
    layers newest first with early skip — the vectorized
    scaling_bloom_check loop (src/dablooms.c ≈L238 family). No false
    negatives; FPs ≤ Σ layer budgets ≤ sb_eps."""
    layers = _ensure_num_shards(layers_df, num_shards).select(
        "shard", F.col("first_id").alias("layer"), "blob", "num_shards"
    )
    return probe_layers(
        probe_df, F.col(key_col).cast("string"), layers, num_shards, salt,
        seed, out_col,
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

    Deletions run the build's piece stage (a deletion's id routes it
    to the layer that owned its insertion, dablooms' id model), then
    remove_layers subtracts per (shard, layer), floored at zero.
    capacity/error_rate/num_shards/expected_layers must match the
    build's (validated against the layer rows). Saturated counters
    carry the reference's documented remove-after-saturation hazard,
    exactly as in the driver-side path."""
    keyed, geometry, width = _scaling_layers(
        deletions, key_col, id_col, capacity, error_rate, num_shards,
        expected_layers,
    )
    layers_df = _ensure_num_shards(layers_df, num_shards)
    # eager one-row check too: with a mismatched num_shards most
    # deletion pieces route to groups with no layer row, where the
    # per-group validation never fires and deletions would be dropped
    # silently as "never inserted"
    head = layers_df.select("num_shards").first()
    if head is not None:
        _check_num_shards(head["num_shards"], num_shards)

    def validate(row) -> None:
        if int(row["capacity"]) != capacity or float(row["sb_eps"]) != error_rate:
            raise ValueError(
                "geometry drift: layer rows were built with "
                f"capacity={row['capacity']}, error_rate={row['sb_eps']}"
            )
        _check_num_shards(row["num_shards"], num_shards)
        expect_eps = geometry(int(row["layer"])).error_rate
        if abs(float(row["layer_eps"]) - expect_eps) > 1e-15:
            raise ValueError(
                "eps-schedule drift: layer rows carry "
                f"layer_eps={row['layer_eps']} but the remove's schedule "
                f"(expected_layers={expected_layers}) derives "
                f"{expect_eps} — deletion indices were expanded under a "
                "different geometry; pass the build's expected_layers"
            )

    rows = layers_df.withColumn("layer", F.expr(f"first_id div {width}"))
    pieces = layer_pieces(keyed, num_shards, geometry, seed)
    return remove_layers(rows, pieces, geometry, _ROW_SCHEMA, seed, validate)


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
    false negatives), optionally confirm survivors exactly."""
    out = sharded_scaling_probe(
        probe_df, key_col, layers_df, num_shards, salt, seed, "__hit"
    )
    return confirm(out, key_col, exact_df, exact_key)
