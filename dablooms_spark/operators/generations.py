"""Rotating-generation membership: "seen within the last N days?"

The reference answers lifetime membership ("have we EVER seen this
URL?" — scaling_bloom_check). Windowed dedup with expiry uses
generation rotation: one filter per time bucket, probe ORs the last G
generations, expiry drops whole generations — never per-key deletes.
This is the layered sharded filter (operators/sharded.py) with the
generation as the layer key:

  build   — rows map to (shard, gen) counter pieces (rows never
            shuffle), folded per (gen, shard) on the driver or in one
            piece-only shuffle. The artifact (gen, shard, blob, n) is,
            at scale, parquet PARTITIONED BY gen, so the window read
            and expiry are partition pruning.
  probe   — the live window's generations are each shard's layers: a
            key walks them newest first and stops at the first that
            answers "present". No generations are merged: no false
            negatives, and each generation keeps its own ε.
  expire  — a FILTER on gen (a partition delete at scale); per-key
            remove within a generation still works via
            sharded_bloom_remove on that generation's rows.

Per-generation semantics per shard are exactly counting_bloom_add/
check (src/dablooms.c ≈L202/≈238).

Sizing: capacity is PER GENERATION (expected keys per bucket), split
evenly over the shards. A key is checked against its shard's G live
generations, each an independent filter at its own load, so by the
union bound the window's FP is ≤ Σ per-generation FP — ≤ G·ε while
every generation stays within capacity. (Counter-summing the window
into one filter per shard instead loads one geometry with the whole
window's keys: G=4 generations each half full at ε=0.01 read FP ≈
0.15 that way, against the 0.04 bound.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dablooms_spark.functions.murmur import DABLOOMS_SEED
from dablooms_spark.operators.bloom_probe import confirm
from dablooms_spark.operators.sharded import _counting, build_layers, probe_layers

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
    One map pass plus a driver fold or one piece-only shuffle, rows
    never shuffle — build_sharded_counting_bloom with the generation
    as the layer key. Timestamps before 1970 give negative gens; a
    checkpoint above driverMergeMaxBytes (operators/merge.py)."""
    keyed, geometry = _counting(
        df, key_col, capacity, error_rate, num_shards,
        layer=gen_expr(ts_col, generation_seconds(generation)),
    )
    return build_layers(
        keyed, num_shards, geometry,
        lambda s, gen, cb, _: {"gen": gen, "shard": s, "blob": cb.to_bytes(),
                               "n": cb.count},
        "gen long, shard long, blob binary, n long", seed,
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
    """Retention pass: drop every generation outside the live window
    — a partition delete at scale; no counter is touched."""
    return live_window(gens_df, as_of_gen, window)


def write_generation_artifact(
    gens_df: DataFrame, path: str, mode: str = "overwrite"
) -> None:
    """Persist the (gen, shard, blob, n) filter set PARTITIONED BY
    gen: the window read is partition pruning and expiry drops
    gen=<old> directories. New generations append with mode='append'
    (gen values never collide across time buckets)."""
    gens_df.write.mode(mode).partitionBy("gen").parquet(path)


def read_generation_window(
    spark, path: str, as_of_gen: int, window: int
) -> DataFrame:
    """Scan ONLY the live window's gen partitions of a
    write_generation_artifact layout (PartitionFilters on gen), in the
    build schema; gen is re-cast AFTER the pruning filter so pruning
    still applies."""
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
    generations ending at as_of_gen? The live generations are the
    layers of each shard, walked newest first with early skip
    (probe_layers) — no generation is merged with another, so FP stays
    ≤ Σ per-generation FP and no false negatives."""
    layers = live_window(gens_df, as_of_gen, window).select(
        "shard", F.col("gen").alias("layer"), "blob",
        F.lit(num_shards).cast("long").alias("num_shards"),
    )
    return probe_layers(
        probe_df, F.col(key_col).cast("string"), layers, num_shards,
        seed=seed, out_col=out_col,
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
    return confirm(out, key_col, exact_df, exact_key)
