"""Filter-quality observability: observed false-positive rate vs the
configured bound.

The reference's own acceptance test (test_dablooms.c chk_results:
probe a disjoint key set, count hits, require observed ≤ configured ε)
is a one-shot C loop; at cluster scale the same question is a
DataFrame aggregation over a membership probe. This module makes it a
first-class operator so pipelines can assert filter health in-line
(e.g. after an incremental ingest or a remove wave) and the bench can
report the north-rule metric "observed false-positive rate vs
configured bound" next to throughput.

No false negatives is the hard guarantee and is asserted elsewhere
(probe of the inserted set); FP rate is statistical — observed ≤ ε is
the expectation, with sampling noise ~sqrt(ε/n), which is why the
report carries the probe count alongside the rate.
"""

from __future__ import annotations

from collections.abc import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dablooms_spark.functions.murmur import DABLOOMS_SEED


def _fp_report(probed: DataFrame, bound: float) -> DataFrame:
    """The one-row report over a probe's `is_member` column: probes,
    false_positives, fp_rate, configured_bound, within_bound."""
    bound = F.lit(float(bound))
    rate = F.col("false_positives") / F.col("probes")
    return probed.agg(
        F.count("*").alias("probes"),
        F.sum(F.col("is_member").cast("long")).alias("false_positives"),
    ).select(
        "probes",
        "false_positives",
        F.round(rate, 6).alias("fp_rate"),
        bound.alias("configured_bound"),
        (rate <= bound).alias("within_bound"),
    )


def observed_fp_rate(
    negatives: DataFrame,
    key_col: str,
    bloom,
    bound: float | None = None,
    seed: int = DABLOOMS_SEED,
) -> DataFrame:
    """One-row DataFrame(probes, false_positives, fp_rate,
    configured_bound, within_bound) from probing keys KNOWN to be
    absent from the filter (the caller's contract — any present key
    inflates the 'observed FP' count by construction).

    `bloom` is a CountingBloom or a ScalingBloom (what
    bloom_probe_column accepts; anything else raises a TypeError).
    `bound` defaults to the filter's configured error rate. The probe
    is the same broadcast vectorized path production queries use; the
    aggregation is a map-side partial count — one scan, no shuffle of
    rows.
    """
    from dablooms_spark.operators.bloom_probe import bloom_probe_column

    probed = bloom_probe_column(
        negatives.select(F.col(key_col)), key_col, bloom, seed=seed
    )
    if bound is None:
        # a CountingBloom's rate is its geometry's, a ScalingBloom's its own
        bound = getattr(bloom, "geometry", bloom).error_rate
    return _fp_report(probed, bound)


def observed_fp_rate_per_layer(
    negatives: DataFrame,
    key_col: str,
    scaling,
    seed: int = DABLOOMS_SEED,
) -> DataFrame:
    """Per-LAYER chk_results: one row per scaling layer —
    (layer, first_id, layer_eps, capacity, n, probes, false_positives,
    fp_rate, within_bound) — from probing keys known absent from the
    whole filter against EACH layer independently.

    The north-star acceptance criterion is per-layer ("observed FP
    within the configured bound at each scaling layer", tightening
    schedule src/dablooms.c:≈19/≈371): the compound OR-probe report
    (observed_fp_rate) can hide one overloaded layer behind several
    underloaded ones; this report cannot.

    One scan: the filter blob is broadcast once, every batch is hashed
    ONCE (layers share the murmur base hashes; only the
    Kirsch-Mitzenmacher expansion differs per geometry), each layer
    contributes one boolean per key, and the per-layer hit counts fall
    out of a map-side partial aggregation over the hit-vector column —
    no shuffle of probe rows, L+1 aggregate cells per partition. The
    layer metadata (first_id, eps, capacity, live count) is driver-side
    knowledge stamped in as literals, so the report stays a lazy
    DataFrame."""
    from dablooms_spark.operators.bloom_probe import _broadcast_filter

    layers_of = _broadcast_filter(negatives.sparkSession, {0: [scaling.to_bytes()]}, seed)
    n_layers = len(scaling.layers)

    def _layer_hits_arrow(arr: pa.Array) -> pa.Array:
        import numpy as np
        import pyarrow.compute as pc

        from dablooms_spark.functions.arrow_utils import arrow_byte_view
        from dablooms_spark.functions.murmur import dablooms_hash_words_buffer

        filt = layers_of(0)[0]
        buf, offs, lens = arrow_byte_view(arr)
        h1, h2 = dablooms_hash_words_buffer(buf, offs, lens, seed)
        mat = np.empty((len(h1), len(filt.layers)), dtype=bool)
        for j, layer in enumerate(filt.layers):
            mat[:, j] = layer.check_hashed(h1, h2)
        if arr.null_count:
            mat &= ~np.asarray(pc.is_null(arr))[:, None]
        offsets = pa.array(
            np.arange(len(h1) + 1, dtype=np.int32) * len(filt.layers)
        )
        return pa.ListArray.from_arrays(offsets, pa.array(mat.reshape(-1)))

    from pyspark.sql.functions import arrow_udf

    @arrow_udf("array<boolean>")
    def layer_hits(it: Iterator[pa.Array]) -> Iterator[pa.Array]:
        for arr in it:
            yield _layer_hits_arrow(arr)

    probed = negatives.select(
        layer_hits(F.col(key_col).cast("string")).alias("__hits")
    )
    agg = probed.agg(
        F.count("*").alias("probes"),
        *[
            F.sum(F.element_at("__hits", j + 1).cast("long")).alias(f"__fp{j}")
            for j in range(n_layers)
        ],
    )
    # L metadata literals per row; stack() pivots the L fp columns into
    # L rows without an action (the agg itself is the only job).
    cells = ", ".join(
        f"{j}, bigint({layer.first_id}), double({layer.geometry.error_rate!r}), "
        f"bigint({layer.geometry.capacity}), bigint({layer.count}), __fp{j}"
        for j, layer in enumerate(scaling.layers)
    )
    return agg.select(
        F.expr(
            f"stack({n_layers}, {cells}) as "
            "(layer, first_id, layer_eps, capacity, n, false_positives)"
        ),
        "probes",
    ).select(
        "layer",
        "first_id",
        "layer_eps",
        "capacity",
        "n",
        "probes",
        "false_positives",
        F.round(F.col("false_positives") / F.col("probes"), 6).alias("fp_rate"),
        (
            F.col("false_positives") / F.col("probes") <= F.col("layer_eps")
        ).alias("within_bound"),
    )


def observed_fp_rate_sharded(
    negatives: DataFrame,
    key_col: str,
    layers_df: DataFrame,
    num_shards: int | None = None,
    bound: float | None = None,
    seed: int = DABLOOMS_SEED,
) -> DataFrame:
    """observed_fp_rate for a sharded SCALING filter kept as layer
    rows (bigger-than-broadcast sizes): same one-row report, probed
    through the cogroup path. `bound` and `num_shards` default to the
    artifact's stamped sb_eps / num_shards (one head-row read)."""
    from dablooms_spark.operators.sharded_scaling import sharded_scaling_probe

    if bound is None or num_shards is None:
        cols = ["sb_eps"] + (
            ["num_shards"] if "num_shards" in layers_df.columns else []
        )
        head = layers_df.select(*cols).first()
        if bound is None:
            bound = float(head["sb_eps"]) if head is not None else 0.0
        if num_shards is None:
            if head is None or "num_shards" not in cols:
                raise ValueError(
                    "num_shards not stamped in the artifact; pass it"
                )
            num_shards = int(head["num_shards"])
    probed = sharded_scaling_probe(
        negatives.select(F.col(key_col)), key_col, layers_df,
        num_shards=num_shards, seed=seed,
    )
    return _fp_report(probed, bound)
