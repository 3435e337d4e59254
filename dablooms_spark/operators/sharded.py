"""Sharded counting bloom — filters too big to broadcast.

A single filter sized for 10^12 keys at ε=0.01 is ~1.4 TB of
nibbles: it can neither broadcast nor live on the driver. The sharded
form keeps the filter AS a DataFrame — S shards, each a self-contained
counting bloom over the keys that hash-route to it — and probes by
routing probe rows to their shard (`pmod(xxhash64(key), S)`, pure
Catalyst on both sides) and co-grouping them with the shard blob.

Scale shape:
- build: per input partition, one partial blob per TOUCHED shard
  (map-side combine, gap-coded sparse serde), then ONE blob-only
  shuffle merges partials per shard — rows never shuffle
  (counting-bloom merge is an exact saturating counter-sum, so
  shard filters are bit-identical to single-node builds).
- probe: the probe side shuffles ONCE on (shard, salt) — the
  unavoidable cost of consulting state too big to replicate; the salt
  bounds each cogroup task's pandas frame so a hot shard can't OOM a
  task. Verdicts keep the bloom invariant: no false negatives,
  false positives ≤ the per-shard configured bound.

Reference parity: semantics per shard are exactly
counting_bloom_add/check (src/dablooms.c ≈L202/≈238); sharding is the
distributed-scale topology the reference's single mmap file cannot
express.
"""

from __future__ import annotations

from collections.abc import Iterator
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
from dablooms_spark.functions.arrow_utils import arrow_byte_view
from dablooms_spark.functions.murmur import DABLOOMS_SEED, dablooms_hash_words_buffer
from dablooms_spark.operators.merge import fold_or_exchange

_SHARD_SEED = 0x5D


def _shard_expr(key, num_shards: int):
    # JVM-side routing: both build and probe compute the same shard in
    # whole-stage codegen; murmur is only used for the filter bits
    return F.pmod(F.xxhash64(key, F.lit(_SHARD_SEED)), F.lit(num_shards))


def _probe_broadcast_bytes(spark) -> int:
    """Size ceiling under which a sharded filter's blobs are collected
    and BROADCAST for a shuffle-free probe instead of co-grouped
    (guide §2.4/§3.1: a broadcast of the small side replaces a shuffle
    of the big side — here the big side is every probe row with all
    its payload columns). Parameterised via
    spark.dablooms.probe.autoBroadcastBytes (size string; '0' disables
    broadcast routing entirely); the 64 MiB default is an
    executor-memory bound, independent of data scale: filters above it
    keep the cogroup topology that never materializes the filter in
    one place."""
    from dablooms_spark.operators.bloom_probe import _parse_size_bytes

    try:
        v = spark.conf.get("spark.dablooms.probe.autoBroadcastBytes", "64m")
    except Exception:
        v = "64m"
    try:
        return _parse_size_bytes(v)
    except Exception:
        return 64 << 20


def _measure_blobs(blobs_df: DataFrame) -> tuple[DataFrame, int]:
    """Persist the blob rows and return (persisted_df, total_blob_bytes).

    One tiny aggregate over the (already small) blob side decides the
    probe topology; the persist makes the decision pass and the probe
    itself share ONE computation of the build lineage. In the
    broadcast outcome the cache is dropped immediately after collect;
    in the cogroup outcome it stays so the probe reads cached blobs."""
    blobs_df = blobs_df.persist()
    row = blobs_df.agg(
        F.sum(F.length(F.col("blob"))).alias("__bytes")
    ).first()
    total = int(row["__bytes"] or 0)
    return blobs_df, total


def _broadcast_counting_probe_udf(spark, shard_blobs: dict, seed: int):
    """Vectorized membership UDF over (key_str, shard) against a
    broadcast {shard: blob} dict — the shuffle-free probe for sharded
    counting filters small enough to replicate. Arrow-native; filters
    deserialize once per task (iterator form)."""
    bc = spark.sparkContext.broadcast(shard_blobs)

    def probe_batch(keys: pa.Array, shards: np.ndarray, cache: dict) -> np.ndarray:
        blobs = bc.value
        buf, offs, lens = arrow_byte_view(keys)
        h1, h2 = dablooms_hash_words_buffer(buf, offs, lens, seed)
        verdict = np.zeros(len(shards), dtype=bool)
        for s in np.unique(shards):
            blob = blobs.get(int(s))
            if blob is None:
                continue
            cb = cache.get(int(s))
            if cb is None:
                cb = CountingBloom.from_bytes(blob, seed=seed)
                cache[int(s)] = cb
            m = shards == s
            verdict[m] = cb.check_hashed(h1[m], h2[m])
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
    per key-hash shard, each sized capacity/num_shards. Rows never
    shuffle — partitions emit per-shard partial blobs, one blob-only
    shuffle merges them.

    on_overflow='error' extends the reference's bitmap_increment
    refusal (≈L108) to the sharded topology: partial adds raise
    executor-side, the strict flag rides each blob header, and the
    per-shard merge_blobs re-checks cross-partition sums."""
    if on_overflow not in ("saturate", "error"):
        raise ValueError("on_overflow must be 'saturate' or 'error'")
    cap_shard = max(1, capacity // num_shards)
    sdf = df.select(
        F.col(key_col).cast("string").alias("key")
    ).filter(F.col("key").isNotNull()).withColumn(
        "shard", _shard_expr(F.col("key"), num_shards)
    )

    def build_partials(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        filters: dict[int, CountingBloom] = {}
        for batch in batches:
            buf, offs, lens = arrow_byte_view(batch.column(0))
            h1, h2 = dablooms_hash_words_buffer(buf, offs, lens, seed)
            shards = batch.column(1).to_numpy(zero_copy_only=False).astype(np.int64)
            order = np.argsort(shards, kind="stable")
            ss, h1s, h2s = shards[order], h1[order], h2[order]
            bounds = np.searchsorted(ss, np.arange(num_shards + 1))
            for s in np.unique(ss):
                lo, hi = bounds[s], bounds[s + 1]
                cb = filters.get(int(s))
                if cb is None:
                    cb = CountingBloom(
                        cap_shard, error_rate, seed=seed, on_overflow=on_overflow
                    )
                    filters[int(s)] = cb
                cb.add_hashed(h1s[lo:hi], h2s[lo:hi])
        if filters:
            items = sorted(filters.items())
            yield pa.RecordBatch.from_pydict(
                {
                    "shard": [s for s, _ in items],
                    "blob": [cb.to_bytes() for _, cb in items],
                    "n": [cb.count for _, cb in items],
                },
                schema=pa.schema(
                    [("shard", pa.int64()), ("blob", pa.large_binary()), ("n", pa.int64())]
                ),
            )

    partials = sdf.mapInArrow(build_partials, schema="shard long, blob binary, n long")

    def merge_shard(pdf: pd.DataFrame) -> pd.DataFrame:
        merged = CountingBloom.merge_blobs([bytes(b) for b in pdf.blob], seed=seed)
        return pd.DataFrame(
            {
                "shard": [int(pdf.shard.iloc[0])],
                "blob": [merged.to_bytes()],
                "n": [int(pdf.n.sum())],
            }
        )

    # small inputs (gated on the projected key frame) merge the
    # per-(partition, shard) partials on the driver — bit-identical:
    # the merge is an order-invariant saturating counter sum
    return fold_or_exchange(
        partials, ["shard"], merge_shard, "shard long, blob binary, n long",
        gate=sdf,
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
    """Counter-decrement deletions against a sharded counting filter,
    fully in the cluster — counting_bloom_remove (src/dablooms.c
    ≈L220) at the sharded topology. Returns the new (shard, blob, n)
    DataFrame; no blob ever visits the driver.

    Deletions run the SAME build pipeline (per-shard deletion-count
    filters, blob-only shuffle), then each shard cogroup subtracts
    counter-wise, floored at zero. capacity/error_rate/num_shards/seed
    must match the build's — sharding and geometry are derived from
    them. Over-removal (keys never inserted) floors, mirroring the
    non-strict decrement; pass on_overflow='error' when removing from
    a strict filter so a deletion key repeated past 15 raises instead
    of clipping (a clipped deletion count would mask the over-removal
    the strict mode exists to refuse)."""
    del_blobs = build_sharded_counting_bloom(
        deletions, key_col, capacity, error_rate, num_shards, seed, on_overflow
    )
    cols = ["shard", "blob", "n"]

    def apply_deletions(keys, blob_pdf: pd.DataFrame, del_pdf: pd.DataFrame) -> pd.DataFrame:
        if blob_pdf.empty:
            # deletions routed to a shard that holds no keys: floor
            return pd.DataFrame(columns=cols)
        if del_pdf.empty:
            return blob_pdf[cols]
        cb = CountingBloom.from_bytes(bytes(blob_pdf.blob.iloc[0]), seed=seed)
        dl = CountingBloom.merge_blobs([bytes(b) for b in del_pdf.blob], seed=seed)
        # subtract() floors count at 0 itself (from_bytes restored the
        # build-side n; merge_blobs summed the deletion partials')
        cb = cb.subtract(dl)
        return pd.DataFrame(
            {"shard": [int(blob_pdf.shard.iloc[0])], "blob": [cb.to_bytes()],
             "n": [cb.count]}
        )

    return (
        blobs_df.groupBy("shard")
        .cogroup(del_blobs.groupBy("shard"))
        .applyInPandas(apply_deletions, schema="shard long, blob binary, n long")
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
    """probe_df + a Boolean membership column, for a sharded filter.

    Probe rows co-group with their shard's blob on (shard, salt): the
    blob side replicates `salt` ways so a hot shard splits across
    tasks and no task materializes more than ~rows/(S·salt) as pandas.
    No false negatives; FPs ≤ the per-shard bound.

    `key_cast`: optional intermediate type applied BEFORE the string
    cast — must match the build side's cast (see bloom_probe_column).

    Topology is SIZE-ADAPTIVE (guide §2.4): when the filter's total
    blob bytes fit spark.dablooms.probe.autoBroadcastBytes (default
    64 MiB, '0' disables) the blobs are collected + broadcast and the
    verdict is a vectorized UDF column — zero shuffle of the probe
    side. Bigger filters keep the cogroup topology below, which never
    materializes the filter in one place. Verdicts are identical
    either way (same blobs, same hash kernel, same NULL handling).
    """
    key = F.col(key_col)
    if key_cast is not None:
        key = key.cast(key_cast)
    key = key.cast("string")
    spark = probe_df.sparkSession
    thr = _probe_broadcast_bytes(spark)
    if thr > 0:
        blobs_df, total = _measure_blobs(blobs_df)
        if total <= thr:
            rows = blobs_df.collect()
            blobs_df.unpersist()
            shard_blobs = {int(r["shard"]): bytes(r["blob"]) for r in rows}
            probe = _broadcast_counting_probe_udf(spark, shard_blobs, seed)
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
    # side independently and int 0 / long 0 hash to different shuffle
    # partitions — an int salt silently splits groups into a
    # probe-only half (all-False verdicts) and an orphan blob half
    # whenever the sides don't coalesce into one partition
    b = blobs_df.select(
        F.col("shard").cast("long").alias("__shard"),
        F.explode(
            F.sequence(F.lit(0).cast("long"), F.lit(salt - 1).cast("long"))
        ).alias("__salt"),
        "blob",
    )
    out_schema = StructType(
        list(probe_df.schema.fields) + [StructField(out_col, BooleanType())]
    )
    in_cols = [f.name for f in probe_df.schema.fields]

    def probe_group(keys, probe_pdf: pd.DataFrame, blob_pdf: pd.DataFrame) -> pd.DataFrame:
        if probe_pdf.empty:
            return pd.DataFrame(columns=in_cols + [out_col])
        out = probe_pdf[in_cols]
        if blob_pdf.empty:
            # shard holds no keys: every probe is a definite negative
            return out.assign(**{out_col: False})
        cb = CountingBloom.from_bytes(bytes(blob_pdf.blob.iloc[0]), seed=seed)
        keys_str = probe_pdf["__key_str"]
        arr = pa.array(keys_str.astype(str), type=pa.large_string())
        buf, offs, lens = arrow_byte_view(arr)
        h1, h2 = dablooms_hash_words_buffer(buf, offs, lens, seed)
        verdict = cb.check_hashed(h1, h2)
        # a NULL key is a definite non-member — astype(str) renders it
        # as the literal 'None'/'nan', which must not alias a real key
        # (mirrors _check_arrow's null handling in bloom_probe)
        nulls = keys_str.isna().to_numpy()
        if nulls.any():
            verdict &= ~nulls
        return out.assign(**{out_col: verdict})

    return (
        p.groupBy("__shard", "__salt")
        .cogroup(b.groupBy("__shard", "__salt"))
        .applyInPandas(probe_group, schema=out_schema)
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
    negatives), then optionally confirm survivors exactly — the
    bloom_semi_join contract at filter sizes broadcast can't reach."""
    out = sharded_bloom_probe(
        probe_df, key_col, blobs_df, num_shards, salt, seed, "__hit", key_cast
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
    set pays for an exact anti join — bloom_anti_join's contract at
    filter sizes broadcast can't reach."""
    out = sharded_bloom_probe(
        probe_df, key_col, blobs_df, num_shards, salt, seed, "__hit", key_cast
    )
    misses = out.filter(~F.col("__hit")).drop("__hit")
    if exact_df is None:
        return misses
    ek = exact_key or key_col
    from dablooms_spark.operators.bloom_probe import _semi_dim

    dim = _semi_dim(exact_df, ek)
    candidates = out.filter(F.col("__hit")).drop("__hit")
    confirmed_absent = candidates.join(
        dim, on=F.col(key_col) == F.col("__ek"), how="left_anti"
    )
    return misses.unionByName(confirmed_absent)
