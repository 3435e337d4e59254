"""Rotating-generation membership: "seen within the last N days?"

The reference answers lifetime membership ("have we EVER seen this
URL?" — bitly's use-case, scaling_bloom_check). Production dedup
usually wants the windowed variant with expiry, and the classic
design is generation rotation: one filter per time bucket
(generation), probe ORs the last G generations, expiry deletes whole
generations — never per-key deletes. Spark-first rendering:

  build   — ONE pass: rows map to (gen, shard) partial counting
            blooms executor-side (composite-group variant of the
            sharded builder's kernel; rows never shuffle), one
            blob-only shuffle merges per (gen, shard). The artifact
            is a DataFrame (gen, shard, blob, n) — at scale, parquet
            PARTITIONED BY gen, so both the window probe and expiry
            are partition pruning.
  probe   — the live window's blobs counter-sum per shard (merge is
            the same saturating sum as everywhere; counts only grow,
            so membership-OR is preserved: no false negatives, FP
            bounded by the window's summed load vs per-shard
            geometry), then the standard per-shard cogroup probe.
  expire  — drop generations older than the window: a FILTER on the
            gen column (a partition/metadata delete at scale). No
            counter decrements needed — that is the point of
            rotation; per-key remove within a generation still works
            via sharded_bloom_remove on that generation's rows.

Per-generation semantics per shard remain exactly
counting_bloom_add/check (src/dablooms.c ≈L202/≈238); the rotation
layer is the windowed-retention topology the reference's single mmap
file cannot express.

Sizing: capacity is PER GENERATION (expected keys per bucket). A
window of G generations probes a structure holding ≤ G×capacity
keys; each generation's filter keeps its own ε bound, and the merged
window filter's FP is ≤ Σ per-generation observed FP (union bound on
counter collisions).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dablooms_spark.core.counting_bloom import CountingBloom
from dablooms_spark.functions.arrow_utils import arrow_byte_view
from dablooms_spark.functions.murmur import DABLOOMS_SEED, dablooms_hash_words_buffer
from dablooms_spark.operators.sharded import _shard_expr

_UNIT_SECONDS = {
    "second": 1, "seconds": 1,
    "minute": 60, "minutes": 60,
    "hour": 3600, "hours": 3600,
    "day": 86400, "days": 86400,
    "week": 604800, "weeks": 604800,
}


def generation_seconds(generation: str | int) -> int:
    """'1 day' / '6 hours' / raw seconds → bucket width in seconds."""
    if isinstance(generation, int):
        if generation <= 0:
            raise ValueError("generation seconds must be positive")
        return generation
    parts = generation.strip().split()
    if len(parts) != 2 or parts[1].lower() not in _UNIT_SECONDS:
        raise ValueError(
            f"unparseable generation {generation!r}; use e.g. '1 day', "
            f"'6 hours', or an integer second count"
        )
    n = int(parts[0])
    if n <= 0:
        raise ValueError("generation must be positive")
    return n * _UNIT_SECONDS[parts[1].lower()]


def gen_expr(ts_col, gen_sec: int):
    """Generation id of a timestamp: floor(epoch_seconds / width) —
    JVM-side, so build and probe agree in whole-stage codegen."""
    return F.floor(F.unix_timestamp(F.col(ts_col).cast("timestamp")) / gen_sec)


def build_generation_filters(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    generation: str | int,
    capacity: int,
    error_rate: float,
    num_shards: int = 16,
    seed: int = DABLOOMS_SEED,
) -> DataFrame:
    """DataFrame(gen long, shard long, blob binary, n long): one
    counting bloom per (generation, key-hash shard), each sized
    capacity/num_shards (capacity = expected keys per generation).
    One map pass + one blob-only shuffle, rows never shuffle — the
    composite-group twin of build_sharded_counting_bloom."""
    gen_sec = generation_seconds(generation)
    cap_shard = max(1, capacity // num_shards)
    sdf = (
        df.select(
            F.col(key_col).cast("string").alias("key"),
            gen_expr(ts_col, gen_sec).alias("gen"),
        )
        .filter(F.col("key").isNotNull() & F.col("gen").isNotNull())
        .withColumn("shard", _shard_expr(F.col("key"), num_shards))
    )

    def build_partials(
        batches: Iterator[pa.RecordBatch],
    ) -> Iterator[pa.RecordBatch]:
        filters: dict[int, CountingBloom] = {}
        for batch in batches:
            buf, offs, lens = arrow_byte_view(batch.column(0))
            h1, h2 = dablooms_hash_words_buffer(buf, offs, lens, seed)
            gens = batch.column(1).to_numpy(zero_copy_only=False).astype(np.int64)
            shards = batch.column(2).to_numpy(zero_copy_only=False).astype(np.int64)
            comb = gens * num_shards + shards
            order = np.argsort(comb, kind="stable")
            cs, h1s, h2s = comb[order], h1[order], h2[order]
            uniq, starts = np.unique(cs, return_index=True)
            bounds = np.append(starts, len(cs))
            for i, c in enumerate(uniq):
                cb = filters.get(int(c))
                if cb is None:
                    cb = CountingBloom(cap_shard, error_rate, seed=seed)
                    filters[int(c)] = cb
                cb.add_hashed(h1s[bounds[i]:bounds[i + 1]],
                              h2s[bounds[i]:bounds[i + 1]])
        if filters:
            items = sorted(filters.items())
            # numpy floor-div/mod match the JVM floor() route for
            # negative generations too (mod sign follows the divisor)
            yield pa.RecordBatch.from_pydict(
                {
                    "gen": [c // num_shards for c, _ in items],
                    "shard": [c % num_shards for c, _ in items],
                    "blob": [cb.to_bytes() for _, cb in items],
                    "n": [cb.count for _, cb in items],
                },
                schema=pa.schema(
                    [
                        ("gen", pa.int64()),
                        ("shard", pa.int64()),
                        ("blob", pa.large_binary()),
                        ("n", pa.int64()),
                    ]
                ),
            )

    partials = sdf.mapInArrow(
        build_partials, schema="gen long, shard long, blob binary, n long"
    )

    def merge_group(pdf: pd.DataFrame) -> pd.DataFrame:
        merged = CountingBloom.merge_blobs([bytes(b) for b in pdf.blob], seed=seed)
        return pd.DataFrame(
            {
                "gen": [int(pdf.gen.iloc[0])],
                "shard": [int(pdf.shard.iloc[0])],
                "blob": [merged.to_bytes()],
                "n": [int(pdf.n.sum())],
            }
        )

    return partials.groupBy("gen", "shard").applyInPandas(
        merge_group, schema="gen long, shard long, blob binary, n long"
    )


def live_window(gens_df: DataFrame, as_of_gen: int, window: int) -> DataFrame:
    """The window's generations: (as_of_gen - window, as_of_gen] —
    a gen-column filter (partition pruning on a gen-partitioned
    artifact)."""
    if window <= 0:
        raise ValueError("window must be >= 1 generation")
    return gens_df.filter(
        (F.col("gen") > as_of_gen - window) & (F.col("gen") <= as_of_gen)
    )


def expire_generations(
    gens_df: DataFrame, as_of_gen: int, window: int
) -> DataFrame:
    """Retention pass: drop every generation outside the live window.
    At scale (artifact parquet-partitioned by gen) this is a
    partition delete — no counters are touched, which is the entire
    point of rotation over per-key decrement."""
    return live_window(gens_df, as_of_gen, window)


def write_generation_artifact(
    gens_df: DataFrame, path: str, mode: str = "overwrite"
) -> None:
    """Persist the (gen, shard, blob, n) filter set PARTITIONED BY
    gen — the layout where the live-window read is file-listing
    partition pruning and expiry is a whole-partition delete (drop
    the gen=<old> directories; no counter is ever touched). New
    generations append with mode='append': gen values never collide
    across time buckets, so append is conflict-free."""
    gens_df.write.mode(mode).partitionBy("gen").parquet(path)


def read_generation_window(
    spark, path: str, as_of_gen: int, window: int
) -> DataFrame:
    """Scan ONLY the live window's generation partitions of a
    write_generation_artifact layout (the gen filter lands in the
    scan's PartitionFilters — plan-asserted in tests). Columns come
    back in the build schema (gen long, shard long, blob binary,
    n long); gen is re-cast from the inferred partition-column type
    AFTER the pruning filter so pruning still applies."""
    df = live_window(spark.read.parquet(path), as_of_gen, window)
    return df.select(
        F.col("gen").cast("long").alias("gen"),
        F.col("shard").cast("long").alias("shard"),
        F.col("blob"),
        F.col("n").cast("long").alias("n"),
    )


def generation_window_probe(
    probe_df: DataFrame,
    key_col: str,
    gens_df: DataFrame,
    as_of_gen: int,
    window: int,
    num_shards: int = 16,
    seed: int = DABLOOMS_SEED,
    out_col: str = "is_member",
) -> DataFrame:
    """probe_df + out_col: was the key seen in the last `window`
    generations ending at as_of_gen? The live generations counter-sum
    per shard (membership-OR preserved — counts only grow), then the
    standard per-shard cogroup probe runs once; the probe side
    shuffles once regardless of window width."""
    from dablooms_spark.operators.sharded import sharded_bloom_probe

    live = live_window(gens_df, as_of_gen, window)

    def merge_shard(pdf: pd.DataFrame) -> pd.DataFrame:
        merged = CountingBloom.merge_blobs([bytes(b) for b in pdf.blob], seed=seed)
        return pd.DataFrame(
            {
                "shard": [int(pdf.shard.iloc[0])],
                "blob": [merged.to_bytes()],
                "n": [int(pdf.n.sum())],
            }
        )

    window_blobs = live.groupBy("shard").applyInPandas(
        merge_shard, schema="shard long, blob binary, n long"
    )
    return sharded_bloom_probe(
        probe_df, key_col, window_blobs, num_shards=num_shards, seed=seed,
        out_col=out_col,
    )


def generation_semi_join(
    probe_df: DataFrame,
    key_col: str,
    gens_df: DataFrame,
    as_of_gen: int,
    window: int,
    exact_df: DataFrame | None = None,
    exact_key: str | None = None,
    num_shards: int = 16,
    seed: int = DABLOOMS_SEED,
) -> DataFrame:
    """probe rows whose key was seen in the live window: bloom-prune
    (no false negatives), optionally confirm survivors exactly — the
    bloom_semi_join contract at the rotating-window topology."""
    out = generation_window_probe(
        probe_df, key_col, gens_df, as_of_gen, window, num_shards, seed,
        out_col="__hit",
    )
    out = out.filter(F.col("__hit")).drop("__hit")
    if exact_df is not None:
        from dablooms_spark.operators.bloom_probe import _semi_dim

        ek = exact_key or key_col
        out = out.join(
            _semi_dim(exact_df, ek),
            on=F.col(key_col) == F.col("__ek"),
            how="left_semi",
        )
    return out
