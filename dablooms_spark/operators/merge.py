"""The one merge executor: driver fold or exchange, and the blob tree.

Every distributed build and remove ends the same way: a DataFrame of
partials (counter pieces or serialized sketches) keyed by some group
columns, folded per group. Small inputs collect the partials and fold
them on the driver — no exchange, no pandas stage; bigger ones run
`groupBy(keys).applyInPandas(fold)`, which keeps the driver out of
the data path. The per-group fold is the same function either way, so
both topologies give identical rows (order-invariant merges).

This module is the only reader of the driver-fold ceiling
(spark.dablooms.build.driverMergeMaxBytes) and of the Catalyst size
estimate it is compared with.
"""

from __future__ import annotations

import math
from collections.abc import Callable

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dablooms_spark.core.counting_bloom import CountingBloom
from dablooms_spark.core.scaling_bloom import ScalingBloom
from dablooms_spark.core.serde import loads
from dablooms_spark.functions.murmur import DABLOOMS_SEED

# the (shard, blob, n) partial-blob row, as Spark DDL and as the
# Arrow schema the mapInArrow stages that emit it build batches with
_BLOB_SCHEMA = "shard long, blob binary, n long"
_BLOB_SCHEMA_PA = pa.schema(
    [("shard", pa.int64()), ("blob", pa.large_binary()), ("n", pa.int64())]
)


def _driver_merge_max_bytes(spark) -> int:
    """Catalyst-estimated input ceiling under which partials are
    collected and folded DRIVER-SIDE instead of through a groupBy
    exchange (spark.dablooms.build.driverMergeMaxBytes, size string,
    default 32 MiB; '0' disables). Interleaved same-session A/B on the
    bench build: driver fold 0.869 s vs distributed merge 0.958 s
    end-to-end — the fold also removes a stage, a shuffle and a pandas
    round-trip. Above the ceiling the distributed merge keeps the
    driver out of the data path."""
    from dablooms_spark.operators.bloom_probe import _parse_size_bytes

    try:
        return _parse_size_bytes(
            spark.conf.get("spark.dablooms.build.driverMergeMaxBytes", "32m")
        )
    except Exception:
        return 32 << 20


def _est_plan_bytes(df: DataFrame) -> int | None:
    """Catalyst's optimized-plan size estimate, or None."""
    try:
        return int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except Exception:
        return None


def fold_or_exchange(
    partials: DataFrame,
    keys: list[str],
    fold: Callable[[pd.DataFrame], pd.DataFrame],
    schema: str,
    gate: DataFrame,
    collect: bool = False,
):
    """Fold `partials` per `keys` group with `fold` (one group's rows
    in, output rows out, `schema`-shaped) — on the driver when `gate`'s
    size estimate fits driverMergeMaxBytes, else through
    groupBy(keys).applyInPandas.

    `gate` is the frame whose estimate decides (the caller's input or
    its projected key frame — each caller keeps its own, since the
    two differ several-fold on wide rows): the collected bytes are
    bounded by partitions × groups × piece size, which only threatens
    the driver when that input is large. Returns the merged
    DataFrame, or with collect=True the merged rows (attribute
    access by column name) — the driver fold then never round-trips
    through createDataFrame."""
    spark = partials.sparkSession
    est = _est_plan_bytes(gate)
    if est is None or not 0 <= est <= _driver_merge_max_bytes(spark):
        merged = partials.groupBy(*keys).applyInPandas(fold, schema=schema)
        return merged.collect() if collect else merged
    pdf = pd.DataFrame.from_records(partials.collect(), columns=partials.columns)
    groups = pdf.groupby(keys, sort=True) if len(pdf) else []
    rows = [r for _, g in groups for r in fold(g).itertuples(index=False)]
    return rows if collect else spark.createDataFrame(rows, schema=schema)


def _merge_blobs_to_bytes(blobs: list[bytes], seed: int) -> bytes:
    """Fold serialized (self-describing) sketches to a serialized
    result, using the no-densify fast paths: counting blooms
    scatter-add sparsely, scaling blooms splice layer bytes."""
    magic = bytes(blobs[0][:4])
    if magic == b"DBSK":
        return CountingBloom.merge_blobs([bytes(b) for b in blobs], seed=seed).to_bytes()
    if magic == b"DBSC":
        return ScalingBloom.merge_blobs([bytes(b) for b in blobs], seed=seed)
    out = loads(blobs[0], seed=seed)
    for b in blobs[1:]:
        out = out.merge(loads(b, seed=seed))
    return out.to_bytes()


def _blob_tree(blob_df: DataFrame, seed: int, fanin: int, n: int, keep: int) -> DataFrame:
    """The blob tree: rounds of groupBy(shard % k), k = ceil(n/fanin),
    merge (shard, blob, n) rows in parallel (the log-depth critical
    path) until at most `keep` rows remain. Shuffles only blobs. Small
    fanin keeps every round wide enough to use the cluster — with wide
    filters the merge is memory-bandwidth work, and one task merging
    64 blobs serializes exactly what the tree is meant to parallelize.
    An overestimated n only adds empty merge groups."""

    def merge_group(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame(
            {
                "shard": [int(pdf.g.min())],
                "blob": [_merge_blobs_to_bytes(list(pdf.blob), seed)],
                "n": [int(pdf.n.sum())],
            }
        )

    while n > keep:
        k = math.ceil(n / fanin)
        blob_df = (
            blob_df.withColumn("g", (F.col("shard") % F.lit(k)).cast("long"))
            .groupBy("g")
            .applyInPandas(merge_group, schema=_BLOB_SCHEMA)
        )
        n = k
    return blob_df


def merge_blobs(
    blob_df: DataFrame,
    seed: int,
    fanin: int = 8,
    num_blobs: int | None = None,
):
    """Merge (shard, blob, n) rows to one driver-side sketch:
    (sketch or None, total n). The tree runs until <= 8 blobs remain,
    which are collected and folded on the driver.

    Pass num_blobs (any upper bound — builders know their partition or
    shard count) to size the tree STATICALLY: without it the partials
    are persisted and counted — one extra full job over the input plus
    a cache round-trip — purely to learn a number the caller already
    had. With the bound, the whole merge is ONE action."""
    if num_blobs is not None:
        rows = _blob_tree(blob_df, seed, fanin, max(int(num_blobs), 1), 8).collect()
    else:
        blob_df = blob_df.persist()
        try:
            rows = _blob_tree(blob_df, seed, fanin, blob_df.count(), 8).collect()
        finally:
            # a strict (on_overflow='error') merge RAISES on overflow —
            # an expected path that must not leak the pinned partials
            blob_df.unpersist()
    if not rows:
        return None, 0
    blobs = [bytes(r.blob) for r in rows]
    if blobs[0][:4] == b"DBSK":
        sk = CountingBloom.merge_blobs(blobs, seed=seed)
    elif len(blobs) == 1:
        sk = loads(blobs[0], seed=seed)
    else:
        sk = loads(_merge_blobs_to_bytes(blobs, seed), seed=seed)
    return sk, sum(r.n for r in rows)


def merge_blobs_df(
    blob_df: DataFrame,
    seed: int = DABLOOMS_SEED,
    fanin: int = 8,
    num_blobs: int | None = None,
) -> DataFrame:
    """Merge a (shard, blob, n) DataFrame down to ONE blob row, fully
    inside Spark — the result never visits the driver. Chain with a
    parquet write for the scalable build→checkpoint→broadcast flow
    (at 10^12 rows the merged filter is GBs; collecting it is the
    anti-pattern, checkpointing it is the product).

    Pass num_blobs (an upper bound is fine — builders know their shard
    count) to size the merge tree WITHOUT a count() action: counting
    an un-persisted blob_df materializes the whole expensive partials
    stage once for the count and again for the downstream write."""
    # clamp a caller-supplied estimate to >= 2: an underestimate of
    # exactly 1 would skip the loop and silently return a multi-row
    # frame; with 2 the final pass always runs one full merge (a true
    # single-blob input just round-trips through one trivial group)
    n = max(num_blobs, 2) if num_blobs is not None else blob_df.count()
    return _blob_tree(blob_df, seed, fanin, n, 1)
