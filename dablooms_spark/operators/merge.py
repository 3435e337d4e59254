"""The one merge executor: driver fold or exchange.

Every distributed build, remove and sketch merge ends the same way: a
DataFrame of partials (counter pieces, layer rows or serialized
sketches) keyed by some group columns, folded per group by one
function. The partials are persisted and measured (one JVM job fills
the cache and counts its bytes); within the ceiling they fold on the
driver, above it through `groupBy(keys).applyInPandas(fold)`, which
keeps the driver out of the data path. Both give identical rows.

The contract: a measured merge runs its piece stage once and returns
its result computed. The driver fold is eager; the exchange is
`localCheckpoint()`ed (eager) before the cached partials are released,
so nothing downstream re-runs it, and nothing stays in the cache
manager. A checkpoint has no lineage to recompute lost blocks from
(as in operators/graph.py), so they are stored twice: it survives the
loss of one executor. '0' skips the measure; the exchange stays lazy.

The driver path moves bytes with no Python stage on either side: the
cached pieces come in as Arrow (`toArrow`), and a returned frame goes
out as pickled rows the JVM unpickles itself (`_local_frame`), so its
first action runs JVM tasks only.

Outside the measure there is one merge: `merge_blobs_df`, whose
single output row must never visit the driver, merges in a tree of
blob-only rounds, at most 8 blobs per task.

This module is the only reader of the driver-fold ceiling
(spark.dablooms.build.driverMergeMaxBytes), a cap on measured bytes.
"""

from __future__ import annotations

import math
from collections.abc import Callable

import pandas as pd
import pyarrow as pa
from pyspark import StorageLevel
from pyspark.serializers import AutoBatchedSerializer, CPickleSerializer
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import _create_converter, _make_type_verifier

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
    """Ceiling on the MEASURED partial bytes (_partial_bytes) collected
    and folded DRIVER-SIDE instead of through a groupBy exchange
    (spark.dablooms.build.driverMergeMaxBytes, size string, default
    32 MiB; '0' forces the exchange). The fold removes a stage, a
    shuffle and a pandas round-trip: interleaved perfbench
    ingest_webpages runs, 4-core host, BENCH/ab_arrow_driver_fold.jsonl
    set fold_vs_exchange. Above the ceiling the distributed merge keeps
    the driver out of the data path."""
    from dablooms_spark.operators.bloom_probe import _conf_size_bytes

    return _conf_size_bytes(spark, "spark.dablooms.build.driverMergeMaxBytes", "32m")


def _partial_bytes(partials: DataFrame) -> int:
    """Bytes of the PERSISTED `partials`, measured while one JVM job
    (a row count over the cached scan: no exchange; an aggregate would
    split into three adaptive jobs) fills the cache — the cache builder
    adds up every value it stores (a binary or string's length + 4, 8
    per long), within a few bytes a row of what a collect moves.
    Reads Spark 4.1 internals on purpose (lookupCachedData,
    sizeInBytesStats, toRdd); a test pins the value to the public
    octet_length sum, so an upgrade that moves them fails loudly. The
    accumulator only grows (a recomputed block adds again), so with
    the default, uncompressed cache serializer a drift can only pick
    the exchange, never flood the driver."""
    partials.select("*")._jdf.queryExecution().toRdd().count()
    cached = partials.sparkSession._jsparkSession.sharedState().cacheManager()
    entry = cached.lookupCachedData(partials._jdf).get()
    return int(entry.cachedRepresentation().cacheBuilder().sizeInBytesStats().value())


def _exchange(partials: DataFrame, keys: list[str], fold, schema: str) -> DataFrame:
    return partials.groupBy(*keys).applyInPandas(fold, schema=schema)


def _with_blob_rows(pieces: DataFrame, prior: DataFrame | None) -> DataFrame:
    """Counter `pieces` plus `prior` layers (piece keys, n, max_id,
    blob) as the blob rows pieces.fold reads: `blob` is NULL on pieces,
    the piece columns empty on prior rows. A Catalyst projection: the
    measure counts a prior layer at its blob bytes."""
    if prior is None:
        return pieces
    empty = F.lit(bytearray())
    prior = prior.withColumns({"idx": empty, "exc": empty, "vals": empty})
    return pieces.withColumn("blob", F.lit(None).cast("binary")).unionByName(prior)


def fold_or_exchange(
    partials: DataFrame,
    keys: list[str],
    fold: Callable[[pd.DataFrame], pd.DataFrame],
    schema: str,
    collect: bool = False,
):
    """Fold `partials` per `keys` group with `fold` (one group's rows
    in, output rows out, `schema`-shaped). Persisted and measured, the
    partials fold on the driver when their bytes fit
    driverMergeMaxBytes, else through groupBy(keys).applyInPandas
    ('0' skips the measure). Returns the merged DataFrame, computed
    (see the module contract), or with collect=True the merged rows
    (attribute access by column name). Groups with NULL keys are
    kept on both paths, as Spark's groupBy keeps them."""
    spark = partials.sparkSession
    cap = _driver_merge_max_bytes(spark)
    if cap <= 0:
        merged = _exchange(partials, keys, fold, schema)
        return merged.collect() if collect else merged
    partials = partials.persist()
    try:
        if _partial_bytes(partials) > cap:
            merged = _exchange(partials, keys, fold, schema)
            return merged.collect() if collect else merged.localCheckpoint(
                storageLevel=StorageLevel.MEMORY_AND_DISK_2
            )
        pdf = partials.toArrow().to_pandas()
    finally:
        partials.unpersist()
    groups = pdf.groupby(keys, sort=True, dropna=False) if len(pdf) else []
    rows = [r for _, g in groups for r in fold(g).itertuples(index=False)]
    return rows if collect else _local_frame(spark, rows, schema)


def _local_frame(spark, rows: list, schema: str) -> DataFrame:
    """`spark.createDataFrame(rows, schema)` — the same type check,
    internal conversion, rows, schema and partition count — minus its
    Python stage: createDataFrame pickles with parallelize's batch
    serializer, so the frame's first action re-pickles every row in an
    identity map on the Python workers. Pickled here with the
    serializer `RDD._to_java_object_rdd` expects, the rows unpickle in
    the JVM. The plan is a LogicalRDD (not a LocalRelation), so a
    filter on the frame stays a Filter. Reads PySpark 4.1 internals on
    purpose; a test pins the result to createDataFrame's."""
    sc = spark.sparkContext
    jvm = sc._jvm
    struct = spark._parse_ddl(schema)
    verify, convert = _make_type_verifier(struct), _create_converter(struct)
    data = []
    for r in rows:
        verify(r)
        data.append(struct.toInternal(convert(r)))
    n = sc.defaultParallelism
    pickled = sc._serialize_to_jvm(
        data,
        AutoBatchedSerializer(CPickleSerializer()),
        lambda path: jvm.PythonRDD.readRDDFromFile(sc._jsc, path, n),
        lambda: jvm.PythonParallelizeServer(sc._jsc.sc(), n),
    )
    jrows = jvm.SerDeUtil.toJavaArray(jvm.SerDeUtil.pythonToJava(pickled, True))
    jdf = spark._jsparkSession.applySchemaToPythonRDD(jrows.rdd(), struct.json())
    df = DataFrame(jdf, spark)
    df._schema = struct
    return df


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


#: blobs one merge task folds: a group of a merge_blobs_df tree round,
#: and a fold group of sketch_agg's partials
_FANIN = 8


def merge_blobs_df(
    blob_df: DataFrame,
    seed: int = DABLOOMS_SEED,
    num_blobs: int | None = None,
) -> DataFrame:
    """Merge a (shard, blob, n) DataFrame down to ONE blob row, fully
    inside Spark — the result never visits the driver. Chain with a
    parquet write for the scalable build→checkpoint→broadcast flow
    (at 10^12 rows the merged filter is GBs; collecting it is the
    anti-pattern, checkpointing it is the product).

    The blob tree: rounds of groupBy(shard % k), k = ceil(n/8), merge
    the rows in parallel (the log-depth critical path) until one row
    remains. Shuffles only blobs, and no task holds more than 8 —
    each partial can be as large as the whole filter, so one fold
    group over every partial (fold_or_exchange above its ceiling)
    would not fit where this does. An overestimated n only adds empty
    merge groups.

    Pass num_blobs (an upper bound is fine — builders know their shard
    count) to size the merge tree WITHOUT a count() action: counting
    an un-persisted blob_df materializes the whole expensive partials
    stage once for the count and again for the downstream write."""
    # clamp a caller-supplied estimate to >= 2: an underestimate of
    # exactly 1 would skip the loop and silently return a multi-row
    # frame; with 2 the final pass always runs one full merge (a true
    # single-blob input just round-trips through one trivial group)
    n = max(num_blobs, 2) if num_blobs is not None else blob_df.count()

    def merge_group(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame(
            {
                "shard": [int(pdf.g.min())],
                "blob": [_merge_blobs_to_bytes(list(pdf.blob), seed)],
                "n": [int(pdf.n.sum())],
            }
        )

    while n > 1:
        k = math.ceil(n / _FANIN)
        blob_df = (
            blob_df.withColumn("g", (F.col("shard") % F.lit(k)).cast("long"))
            .groupBy("g")
            .applyInPandas(merge_group, schema=_BLOB_SCHEMA)
        )
        n = k
    return blob_df
