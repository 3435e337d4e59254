"""Bloom probe — the read path, broadcast to every probe task.

Spark equivalent of scaling_bloom_check / counting_bloom_check
(src/dablooms.c:≈537/≈238). Every broadcast filter ships as one
{shard: [blobs newest first]} value: a whole CountingBloom or
ScalingBloom is {0: [blob]}, a sharded filter's layer rows
(sharded.probe_layers) one list per shard. Each Python worker decodes
a value once into one LRU, and one vectorized Arrow UDF walks a key's
layers newest first (scaling_bloom.check_layers). A filter sized for
10^8 keys at ε=0.01 is ~100 MB of nibbles — broadcastable; bigger
filters stay a DataFrame of hash-sharded layer rows (operators/
sharded.py), probed by a salted cogroup instead.

`bloom_semi_join` is the runtime-filter pattern: probe → filter →
(optionally) exact semi-join the surviving candidates. With exact
verification the result is exactly LEFT SEMI JOIN — the bloom only
prunes the shuffle — which at 100 TB is the point: the big side never
shuffles rows the filter already rejected, and the bloom has no false
negatives so no row is lost.
"""

from __future__ import annotations

import re
from collections import OrderedDict
from collections.abc import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import arrow_udf

from dablooms_spark.core.counting_bloom import CountingBloom
from dablooms_spark.core.scaling_bloom import ScalingBloom, check_layers
from dablooms_spark.core.serde import loads
from dablooms_spark.functions.arrow_utils import arrow_byte_view
from dablooms_spark.functions.murmur import DABLOOMS_SEED, dablooms_hash_words_buffer

# Per-worker decoded-filter cache: the broadcast ships bytes; each
# Python worker decodes a broadcast value once, not once per task or
# batch. One entry per broadcast value, keyed by the value OBJECT's
# identity (a worker keeps one long-lived value per broadcast); the
# entry holds the value so the id stays valid, and decodes a shard's
# layers the first time a task touches it. Content hashing would risk
# collisions between filters sharing a prefix/suffix. True LRU (evict
# oldest, not clear-all) so a many-filter job degrades gracefully
# instead of thrashing.
_FILTER_CACHE: "OrderedDict[int, tuple[dict, dict]]" = OrderedDict()
_FILTER_CACHE_MAX = 8


def _decoded_layers(value: dict, shard: int, decode, seed: int) -> list:
    """Worker side: the decoded layers (newest first) of `shard` in the
    broadcast value `value`, through the LRU."""
    key = id(value)
    entry = _FILTER_CACHE.get(key)
    if entry is None:
        while len(_FILTER_CACHE) >= _FILTER_CACHE_MAX:
            _FILTER_CACHE.popitem(last=False)
        entry = _FILTER_CACHE[key] = (value, {})
    else:
        _FILTER_CACHE.move_to_end(key)
    decoded = entry[1]
    if shard not in decoded:
        decoded[shard] = [decode(b, seed=seed) for b in value.get(shard, ())]
    return decoded[shard]


def _broadcast_filter(spark, shard_blobs: dict[int, list[bytes]], seed: int):
    """Broadcast a filter as {shard: [blobs newest first]} and return
    `layers_of(shard)`, its worker-side reader of decoded layers."""
    bc = spark.sparkContext.broadcast(shard_blobs)
    # read on the driver, so the closure carries the decode the workers
    # run (a wrapper patched over `loads` there reaches them too)
    decode = loads

    def layers_of(shard: int) -> list:
        return _decoded_layers(bc.value, shard, decode, seed)

    return layers_of


def _verdicts(keys: pa.Array, shards: np.ndarray | None, layers_of, seed: int) -> np.ndarray:
    """Membership of string `keys` routed to `shards` (None: all to
    shard 0), each walking `layers_of(shard)` newest first; NULL keys
    are definite negatives (a NULL would otherwise alias the empty
    string). The broadcast and cogroup probes both run exactly this."""
    buf, offs, lens = arrow_byte_view(keys)
    h1, h2 = dablooms_hash_words_buffer(buf, offs, lens, seed)
    if shards is None:
        verdict = check_layers(layers_of(0), h1, h2)
    else:
        verdict = np.zeros(len(shards), dtype=bool)
        for s in np.unique(shards).tolist():
            idx = np.flatnonzero(shards == s)
            verdict[idx] = check_layers(layers_of(s), h1[idx], h2[idx])
    if keys.null_count:
        verdict &= ~np.asarray(pa.compute.is_null(keys))
    return verdict


def _probe_udf(spark, shard_blobs: dict[int, list[bytes]], seed: int):
    """The broadcast probe: an Arrow UDF over (key string[, shard
    long]) against the broadcast filter `shard_blobs`; called with the
    key alone it probes shard 0. Zero-copy end to end (Spark 4.1
    arrow_udf): Arrow string buffers in, hash kernel, boolean buffer
    out — no per-row Python string objects."""
    layers_of = _broadcast_filter(spark, shard_blobs, seed)

    @arrow_udf("boolean")
    def probe(it: Iterator[tuple[pa.Array, ...]]) -> Iterator[pa.Array]:
        for batch in it:
            keys, shards = batch if isinstance(batch, tuple) else (batch, None)
            if shards is not None:
                shards = shards.to_numpy(zero_copy_only=False).astype(np.int64)
            yield pa.array(_verdicts(keys, shards, layers_of, seed))

    return probe


def bloom_probe_column(
    df: DataFrame,
    key_col: str | Column,
    bloom,
    out_col: str = "is_member",
    seed: int = DABLOOMS_SEED,
    key_cast: str | None = None,
) -> DataFrame:
    """Append a Boolean membership column (no false negatives; false
    positives ≤ the filter's configured bound).

    `key_cast`: optional intermediate type the key is cast to BEFORE
    the string cast — must match whatever cast the build side applied,
    or the rendered bytes diverge and the filter false-negatives."""
    if not isinstance(bloom, (CountingBloom, ScalingBloom)):
        raise TypeError(
            "bloom_probe_column probes a CountingBloom or a ScalingBloom, "
            f"not {type(bloom).__name__}"
        )
    probe = _probe_udf(df.sparkSession, {0: [bloom.to_bytes()]}, seed)
    key = F.col(key_col) if isinstance(key_col, str) else key_col
    if key_cast is not None:
        key = key.cast(key_cast)
    return df.withColumn(out_col, probe(key.cast("string")))


def bloom_semi_join(
    probe_df: DataFrame,
    key_col: str,
    bloom,
    exact_df: DataFrame | None = None,
    exact_key: str | None = None,
    seed: int = DABLOOMS_SEED,
    key_cast: str | None = None,
) -> DataFrame:
    """probe_df rows whose key the filter reports present.

    With `exact_df`, surviving candidates are confirmed by a real
    LEFT SEMI join — exact results, bloom-pruned shuffle.
    """
    probed = bloom_probe_column(probe_df, key_col, bloom, "__bloom_hit", seed, key_cast)
    return confirm(probed, key_col, exact_df, exact_key, hit="__bloom_hit")


def bloom_anti_join(
    probe_df: DataFrame,
    key_col: str,
    bloom,
    exact_df: DataFrame | None = None,
    exact_key: str | None = None,
    seed: int = DABLOOMS_SEED,
    key_cast: str | None = None,
) -> DataFrame:
    """Without `exact_df`: probe_df rows the filter reports ABSENT —
    guaranteed true negatives (the bloom invariant: no false negatives
    ⇒ a 'not present' verdict is definite), but false positives drop
    some genuinely-absent rows.

    With `exact_df`: exact LEFT ANTI JOIN semantics — bloom-misses pass
    straight through (definite negatives, no join work), and only the
    small bloom-hit candidate set pays for an exact anti join. At scale
    the expensive join runs on ~|dim| + ε·|probe| rows instead of all
    of probe_df."""
    probed = bloom_probe_column(probe_df, key_col, bloom, "__bloom_hit", seed, key_cast)
    return confirm(probed, key_col, exact_df, exact_key, anti=True, hit="__bloom_hit")


def confirm(
    probed: DataFrame,
    key_col: str,
    exact_df: DataFrame | None = None,
    exact_key: str | None = None,
    anti: bool = False,
    hit: str = "__hit",
) -> DataFrame:
    """The semi/anti join over a bloom verdict column `hit`, shared by
    every bloom, sharded and ingest join. Semi: the hits, confirmed
    exactly against exact_df when given. Anti: the misses (definite
    negatives) plus, with exact_df, the ε-sized hit set that a real
    anti join finds absent."""
    hits = probed.filter(F.col(hit)).drop(hit)
    misses = probed.filter(~F.col(hit)).drop(hit) if anti else None
    if exact_df is None:
        return misses if anti else hits
    confirmed = hits.join(
        _semi_dim(exact_df, exact_key or key_col),
        on=F.col(key_col) == F.col("__ek"),
        how="left_anti" if anti else "left_semi",
    )
    return misses.unionByName(confirmed) if anti else confirmed


_SIZE = re.compile(r"(-?(?:\d+\.?\d*|\.\d+))([kmgtp]?b|[kmgtp])?")
_SIZE_UNITS = {"": 1, "b": 1, "k": 1 << 10, "m": 1 << 20, "g": 1 << 30,
               "t": 1 << 40, "p": 1 << 50}


def _parse_size_bytes(v: str) -> int:
    """Spark size-string to bytes ('10m', '1g', '0.5g', '2tb',
    '10485760b', '-1'); a fractional size scales before it truncates.
    Anything else raises a ValueError."""
    m = _SIZE.fullmatch(str(v).strip().lower())
    if m is None:
        raise ValueError(f"{v!r} is not a size: use bytes or a b/k/m/g/t/p(b) suffix")
    return int(float(m.group(1)) * _SIZE_UNITS[(m.group(2) or "")[:1]])


def _conf_size_bytes(spark, key: str, default: str) -> int:
    """A spark.dablooms.* size key, parsed; a value that does not parse
    raises, naming the key, rather than silently meaning the default."""
    v = spark.conf.get(key, default)
    try:
        return _parse_size_bytes(v)
    except ValueError as e:
        raise ValueError(f"{key}={e}") from None


def _semi_dim(exact_df: DataFrame, ek: str):
    """Build side for the exact LEFT SEMI/ANTI confirm join.

    Semi/anti joins are insensitive to build-side duplicates, so the
    distinct() is ONLY worth its Exchange + aggregate when the dim is
    too big to broadcast (there, dedup shrinks the join shuffle).
    Dims under spark.sql.autoBroadcastJoinThreshold skip it and
    broadcast directly — one stage fewer, identical results."""
    dim = exact_df.select(F.col(ek).alias("__ek"))
    spark = exact_df.sparkSession
    try:
        thr = _parse_size_bytes(
            spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10m")
        )
        est = int(
            dim._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except Exception:
        thr, est = 0, 1
    if 0 <= est <= thr:
        return F.broadcast(dim)
    return dim.distinct()


_INTEGRAL_TYPES = ("byte", "short", "integer", "long")


def _bloom_key_cast(probe_type, dim_type) -> tuple[bool, str | None]:
    """(bloom_safe, canonical_cast) for the runtime-filter strategy.

    The bloom build/probe hash CAST(key AS STRING) bytes, while the
    exact-join fallback compares keys NATIVELY (Catalyst coerces both
    sides to a common type). If two natively-equal values render to
    different strings (double 25.0 vs int 25, decimal scale), the bloom
    false-negatives and the semi join silently drops rows. Safe cases:
      - identical types: no cast needed;
      - both integral: cast both sides to long (lossless, and equal
        integrals always render identically as longs).
    Anything else (float vs int, decimal vs double, string vs numeric)
    is declared bloom-unsafe — callers fall back to an exact strategy
    or raise, never risk a wrong answer."""
    if probe_type == dim_type:
        return True, None
    if (
        probe_type.typeName() in _INTEGRAL_TYPES
        and dim_type.typeName() in _INTEGRAL_TYPES
    ):
        return True, "long"
    return False, None


def _approx_n_keys(dim_keys: DataFrame, dk: str) -> int:
    """Price the filter with approx_count_distinct, not an exact
    distinct().count(): the exact version is a full distinct Exchange
    of the dim side purely for PLANNING — at 100× scale that planning
    pass can cost more than the filter build it sizes. The HLL++
    partial aggregates map-side (no row shuffle, one small partial per
    partition) at rsd=2%; the 1.1× + 64 slack covers undershoot, and
    the filter tolerates overshoot by construction (capacity slack
    only lowers the observed FP rate; the exact verify join keeps
    results exact regardless)."""
    n = dim_keys.agg(
        F.approx_count_distinct(F.col(dk), rsd=0.02).alias("__n")
    ).first()["__n"]
    return int(n * 1.1) + 64


def _auto_runtime_join(
    probe_df: DataFrame,
    dim_df: DataFrame,
    on: str,
    how: str,
    dim_key: str | None,
    strategy: str,
    error_rate: float,
    bloom_blob_budget: int,
    seed: int,
) -> DataFrame:
    """Shared decision + execution for auto_semi_join/auto_anti_join
    (identical stats probe and strategy choice; only the join type and
    the bloom primitive differ)."""
    from dablooms_spark.core.geometry import BloomGeometry
    from dablooms_spark.operators.bloom_build import build_counting_bloom

    spark = probe_df.sparkSession
    dk = dim_key or on
    dim_keys = dim_df.select(F.col(dk))
    n_keys: int | None = None
    bloom_safe, key_cast = _bloom_key_cast(
        probe_df.schema[on].dataType, dim_df.schema[dk].dataType
    )

    if strategy == "auto":
        thr = _parse_size_bytes(
            spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10m")
        )
        size = int(
            dim_df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
        if 0 <= size <= thr:
            strategy = "broadcast"
        elif not bloom_safe:
            # key types string-render differently → bloom would false-
            # negative; exact shuffle keeps the LEFT SEMI/ANTI contract
            strategy = "shuffle"
        else:
            # one approximate counting pass over the (smaller) dim side
            # prices the filter (map-side HLL partials, no distinct
            # Exchange); the probe side is never scanned for stats
            n_keys = _approx_n_keys(dim_keys, dk)
            blob_size = BloomGeometry(max(n_keys, 1), error_rate).size
            # one blob that fits the budget broadcasts (bloom); a key
            # universe beyond it goes SHARDED — the filter stays a
            # DataFrame, per-shard blobs each fit the budget, and the
            # probe still sheds definite misses before the exact join
            strategy = "bloom" if blob_size <= bloom_blob_budget else "sharded"

    cond = F.col(on) == F.col("__dk")
    dimsel = dim_keys.withColumnRenamed(dk, "__dk")
    if strategy in ("bloom", "sharded") and not bloom_safe:
        raise ValueError(
            f"{strategy} strategy is unsafe for key types "
            f"{probe_df.schema[on].dataType.simpleString()} vs "
            f"{dim_df.schema[dk].dataType.simpleString()}: natively-equal "
            "values may render to different strings (false negatives). "
            "Cast both keys to a common type first, or use "
            "strategy='shuffle'/'broadcast'."
        )
    if strategy == "broadcast":
        # semi/anti joins are duplicate-insensitive on the build side:
        # broadcast the raw keys, skip the distinct Exchange
        out = probe_df.join(F.broadcast(dimsel), cond, how)
    elif strategy in ("bloom", "sharded"):
        if n_keys is None:
            n_keys = _approx_n_keys(dim_keys, dk)
        # build over the string-cast key: the probe paths cast their
        # key to string, so build/probe bytes must match; differing
        # integral types are canonicalized to long on BOTH sides
        dim_key_expr = F.col(dk)
        if key_cast is not None:
            dim_key_expr = dim_key_expr.cast(key_cast)
        dim_keys_str = dim_df.select(dim_key_expr.cast("string").alias(dk))
        if strategy == "bloom":
            filt = build_counting_bloom(
                dim_keys_str, dk, capacity=max(n_keys, 1),
                error_rate=error_rate, seed=seed,
            )
            join_fn = bloom_semi_join if how == "left_semi" else bloom_anti_join
            out = join_fn(
                probe_df, on, filt, exact_df=dim_df, exact_key=dk, seed=seed,
                key_cast=key_cast,
            )
        else:
            from dablooms_spark.operators.sharded import (
                build_sharded_counting_bloom,
                sharded_anti_join,
                sharded_semi_join,
            )

            blob_size = BloomGeometry(max(n_keys, 1), error_rate).size
            num_shards = int(max(16, -(-blob_size // max(bloom_blob_budget, 1))))
            blobs = build_sharded_counting_bloom(
                dim_keys_str, dk, capacity=max(n_keys, 1),
                error_rate=error_rate, num_shards=num_shards, seed=seed,
            )
            join_fn = (
                sharded_semi_join if how == "left_semi" else sharded_anti_join
            )
            out = join_fn(
                probe_df, on, blobs, exact_df=dim_df, exact_key=dk,
                num_shards=num_shards, seed=seed, key_cast=key_cast,
            )
    elif strategy == "shuffle":
        out = probe_df.join(dimsel.distinct(), cond, how)
    else:
        raise ValueError(f"unknown strategy {strategy!r}")
    out.auto_join_strategy = strategy
    out.auto_semi_strategy = strategy  # back-compat alias
    return out


def auto_semi_join(
    probe_df: DataFrame,
    dim_df: DataFrame,
    on: str,
    dim_key: str | None = None,
    strategy: str = "auto",
    error_rate: float = 0.01,
    bloom_blob_budget: int = 64 << 20,
    seed: int = DABLOOMS_SEED,
) -> DataFrame:
    """LEFT SEMI join with an explicit strategy decision — the
    Python-side stand-in for a Catalyst runtime-filter rewrite rule
    (SURVEY §4.2 stretch; a JVM rule needs Scala). Result is EXACTLY
    `probe_df LEFT SEMI JOIN dim_df` under every strategy.

    Decision (strategy='auto'), from plan statistics:
      broadcast — dim's Catalyst sizeInBytes fits under
        spark.sql.autoBroadcastJoinThreshold: hash-join with an
        explicit broadcast hint, no shuffle of the probe side.
      bloom — dim too big to broadcast whole, but a counting-bloom
        over its distinct keys fits bloom_blob_budget (1 byte/counter
        nibble pair): build-probe-verify — the probe side sheds
        definite misses BEFORE the shuffle, and survivors are
        confirmed with an exact semi join (no false positives leak).
      sharded — key universe too big for ONE filter blob: the filter
        becomes a DataFrame of per-shard blobs (each under the
        budget), probed by (shard, salt) cogroup; the probe side
        still sheds definite misses before the exact join.
      shuffle — key types render-unsafe for hashing: plain shuffled
        semi join, AQE handles skew.

    The chosen strategy is recorded on the result as
    `df.auto_join_strategy` (alias `auto_semi_strategy`) so
    tests/operators can assert the plan.
    """
    return _auto_runtime_join(
        probe_df, dim_df, on, "left_semi", dim_key, strategy,
        error_rate, bloom_blob_budget, seed,
    )


def auto_anti_join(
    probe_df: DataFrame,
    dim_df: DataFrame,
    on: str,
    dim_key: str | None = None,
    strategy: str = "auto",
    error_rate: float = 0.01,
    bloom_blob_budget: int = 64 << 20,
    seed: int = DABLOOMS_SEED,
) -> DataFrame:
    """LEFT ANTI twin of auto_semi_join — same stats-driven decision,
    exactly `probe_df LEFT ANTI JOIN dim_df` under every strategy. The
    bloom path is where anti joins shine at scale: a bloom MISS is a
    definite negative (no false negatives), so the bulk of the probe
    side passes through with zero join work and only the small
    bloom-hit candidate set pays for the exact anti join."""
    return _auto_runtime_join(
        probe_df, dim_df, on, "left_anti", dim_key, strategy,
        error_rate, bloom_blob_budget, seed,
    )
