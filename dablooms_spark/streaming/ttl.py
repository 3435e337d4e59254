"""Streaming TTL dedup: rotating-generation bounded state.

`streaming_first_seen` answers the full-history question ("have we
EVER seen this key?" — bitly's scaling_bloom_check use-case, reference
src/dablooms.c ≈L238). This operator answers the windowed variant
production dedup usually wants: "was the key seen within the last
`window` generations?" — the streaming twin of
operators/generations.py.

State per shard is one counting bloom PER LIVE GENERATION
(time bucket). Old generations evict WHOLE once the watermark
guarantees no still-admissible row could probe them — the rotation
trade: no per-key decrements, state bounded by
(window + lateness/gen_sec + 1) generations regardless of how many
keys the stream has ever carried. Per-generation semantics remain
counting_bloom add/check.

Semantics (event-time, g(row) = floor(epoch(ts)/gen_sec)):

  * a row is EMITTED iff no previously-processed row shares its key
    with generation in (g - window, g]. Within a micro-batch, rows
    are processed in ascending (ts, *order_cols) order, so for a
    single-batch (or in-order) stream the emitted set equals the SQL
      NOT EXISTS (prior same-key row p with g(p) > g(e) - window);
  * EVERY sighting refreshes the TTL: suppressed occurrences still
    mark their own generation, so a key seen continuously is
    suppressed continuously (sliding TTL), and re-emitted only after
    a full `window` generations of silence;
  * emissions can repeat per key (that is the point): once per
    TTL-expiry, never within a live window (blooms have no false
    negatives — the no-duplicate-within-window guarantee is hard);
    a first-in-window occurrence is lost only to a false positive
    (probability ≤ error_rate at per-generation capacity);
  * rows older than the current watermark are dropped (the operator's
    job for arbitrary stateful ops), with the same session-timezone
    watermark protocol as streaming_first_seen.
"""

from __future__ import annotations

import struct
import warnings
from typing import Any, Iterator, Tuple

import numpy as np
import pandas as pd

from dablooms_spark.core.counting_bloom import CountingBloom
from dablooms_spark.core.geometry import BloomGeometry
from dablooms_spark.core.scaling_bloom import check_layers
from dablooms_spark.functions.murmur import DABLOOMS_SEED, dablooms_hash_words
from dablooms_spark.streaming.dedup import (
    DEFAULT_STATE_BUDGET_BYTES,
    _stamp_shards,
    _unstamp_shards,
    default_first_seen_shards,
)

STATE_SCHEMA = "blob binary"
_KEY = "__ttl_key"
_SHARD = "__ttl_shard"
_GEN = "__ttl_gen"

#: multi-generation state framing: magic, generation count, then
#: per-generation (gen id, blob length, blob bytes); the whole payload
#: carries the num_shards stamp footer shared with streaming dedup.
_TTL_HDR = struct.Struct("<8sI")
_TTL_GEN_HDR = struct.Struct("<qI")
_TTL_MAGIC = b"DBTTLGEN"


def encode_ttl_state(gens: dict[int, CountingBloom], num_shards: int) -> bytes:
    parts = [_TTL_HDR.pack(_TTL_MAGIC, len(gens))]
    for g in sorted(gens):
        blob = gens[g].to_bytes()
        parts.append(_TTL_GEN_HDR.pack(int(g), len(blob)))
        parts.append(blob)
    return _stamp_shards(b"".join(parts), num_shards)


def decode_ttl_state(
    raw: bytes, seed: int = DABLOOMS_SEED
) -> tuple[dict[int, CountingBloom], int | None]:
    payload, stored_shards = _unstamp_shards(bytes(raw))
    magic, n = _TTL_HDR.unpack_from(payload, 0)
    if magic != _TTL_MAGIC:
        raise ValueError(
            "streaming_ttl_first_seen: state blob is not a rotating-"
            "generation payload (bad magic) — this checkpoint was not "
            "written by this operator"
        )
    gens: dict[int, CountingBloom] = {}
    off = _TTL_HDR.size
    for _ in range(n):
        g, ln = _TTL_GEN_HDR.unpack_from(payload, off)
        off += _TTL_GEN_HDR.size
        gens[g] = CountingBloom.from_bytes(payload[off:off + ln], seed=seed)
        off += ln
    return gens, stored_shards


def make_ttl_updater(
    gen_sec: int,
    window: int,
    cap_shard: int,
    error_rate: float,
    num_shards: int,
    out_columns: list[str],
    ts_col: str,
    seed: int = DABLOOMS_SEED,
    order_cols: list[str] | None = None,
    session_tz: str = "UTC",
):
    """State-update fn for applyInPandasWithState: group = shard,
    state = framed per-generation counting blooms, output = rows whose
    key was not seen in the last `window` generations.

    Expects the precomputed `_GEN` column (JVM-side gen_expr, so the
    build/probe bucket math is identical to the batch operator and
    immune to pandas timezone rendering). Rows arrive with event-time
    `ts_col`; processing order within a batch is ascending
    (ts_col, *order_cols), which makes the single-batch emitted set
    equal to the NOT-EXISTS oracle."""
    sort_cols = [ts_col] + list(order_cols or [])

    def update(
        key: Tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state,
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            (raw,) = state.get
            gens, stored_shards = decode_ttl_state(bytes(raw), seed=seed)
            if stored_shards is not None and stored_shards != num_shards:
                raise ValueError(
                    "streaming_ttl_first_seen: checkpoint was built with "
                    f"num_shards={stored_shards} but this restart uses "
                    f"num_shards={num_shards}; key->shard routing would "
                    "change and in-window keys would be re-emitted. Pin "
                    "num_shards for the life of a checkpoint."
                )
            for cb in gens.values():
                if cb.geometry.capacity != cap_shard:
                    raise ValueError(
                        "streaming_ttl_first_seen: restored generation "
                        f"filter has capacity {cb.geometry.capacity} but "
                        f"this restart expects {cap_shard} "
                        "(= capacity_per_generation//num_shards); pin both "
                        "for the life of a checkpoint."
                    )
                break
        else:
            gens = {}
        changed = False

        wm_ms = state.getCurrentWatermarkMs()
        wm_utc = pd.Timestamp(wm_ms, unit="ms", tz="UTC") if wm_ms > 0 else None

        chunks: list[pd.DataFrame] = []
        for pdf in pdfs:
            if wm_utc is not None and not pdf.empty:
                ts = pdf[ts_col]
                if getattr(ts.dt, "tz", None) is not None:
                    thr = wm_utc.tz_convert(ts.dt.tz)
                else:
                    # naive column values are session-zone wall times
                    try:
                        thr = wm_utc.tz_convert(session_tz).tz_localize(None)
                    except Exception:
                        warnings.warn(
                            "streaming_ttl_first_seen: cannot interpret "
                            f"session timezone {session_tz!r}; comparing "
                            "the watermark as UTC",
                            stacklevel=2,
                        )
                        thr = wm_utc.tz_localize(None)
                pdf = pdf[ts >= thr]
            if not pdf.empty:
                chunks.append(pdf)

        if chunks:
            batch = pd.concat(chunks) if len(chunks) > 1 else chunks[0]
            batch = batch.sort_values(sort_cols, kind="mergesort")
            # ascending generation order: earlier generations' sightings
            # must be registered before later generations probe them
            for g in sorted(batch[_GEN].unique()):
                rows = batch[batch[_GEN] == g]
                # one candidate per key per generation (ts-smallest —
                # later same-gen occurrences are in-window by definition)
                firsts = rows.drop_duplicates(subset=[_KEY], keep="first")
                keys = firsts[_KEY].to_numpy(dtype=object)
                h1, h2 = dablooms_hash_words(keys, seed)
                g = int(g)
                seen = check_layers(
                    (gens[wg] for wg in range(g, g - window, -1) if wg in gens),
                    h1, h2,
                )
                fresh = ~seen
                if fresh.any():
                    yield firsts.loc[fresh, out_columns]
                # every sighting refreshes the TTL: mark this
                # generation for ALL keys not already in its filter
                own = gens.get(g)
                if own is None:
                    own = CountingBloom(cap_shard, error_rate, seed=seed)
                    gens[g] = own
                in_own = np.asarray(own.check_hashed(h1, h2), dtype=bool)
                if (~in_own).any():
                    own.add_hashed(h1[~in_own], h2[~in_own])
                    changed = True

        # watermark-driven whole-generation eviction: any row still
        # admissible has ts >= watermark, so its probe window reaches
        # back only to generations > wm_gen - window
        if wm_ms > 0 and gens:
            wm_gen = (wm_ms // 1000) // gen_sec
            dead = [g for g in gens if g <= wm_gen - window]
            for g in dead:
                del gens[g]
                changed = True

        if changed:
            if gens:
                state.update((bytearray(encode_ttl_state(gens, num_shards)),))
            elif state.exists:
                state.remove()

    return update


def streaming_ttl_first_seen(
    stream_df,
    key_col: str,
    ts_col: str,
    generation: str | int,
    window: int,
    capacity_per_generation: int,
    error_rate: float,
    delay: str = "1 hour",
    num_shards: int | None = None,
    seed: int = DABLOOMS_SEED,
    order_cols: list[str] | None = None,
    state_budget_bytes: int = DEFAULT_STATE_BUDGET_BYTES,
):
    """Emit each stream row whose key was NOT seen within the last
    `window` generations (time buckets of `generation`, e.g. '1 day'),
    with state bounded by the live window — the streaming twin of the
    batch rotating-generation filter (operators/generations.py).

    Returns a streaming DataFrame with stream_df's columns; attach a
    sink + checkpointLocation. `withWatermark(ts_col, delay)` is
    applied here: the watermark both drops too-late rows and drives
    whole-generation state eviction (a generation is freed once no
    admissible row could still probe it — rotation's partition-delete
    analogue; per-key decrements never happen).

    capacity_per_generation sizes each generation's filter (expected
    distinct keys per time bucket); per-shard geometry is
    capacity_per_generation/num_shards at full error_rate (a key
    consults only its own shard). Total state per shard ≈
    (window + lateness/gen_sec + 1) generation blobs. num_shards (and
    capacity) must be pinned for a checkpoint's life — blobs carry the
    num_shards stamp and a mismatched restart raises."""
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupStateTimeout

    from dablooms_spark.operators.generations import gen_expr, generation_seconds

    if window <= 0:
        raise ValueError("window must be >= 1 generation")
    gen_sec = generation_seconds(generation)
    if num_shards is None:
        num_shards = default_first_seen_shards(capacity_per_generation)
    cap_shard = max(1, int(capacity_per_generation) // max(1, num_shards))
    blob_bytes = BloomGeometry(cap_shard, error_rate).num_nibble_bytes
    if blob_bytes * (window + 1) > state_budget_bytes:
        warnings.warn(
            f"streaming_ttl_first_seen: ~{(blob_bytes * (window + 1)) >> 20} MB "
            f"of live generation filters per shard "
            f"(capacity_per_generation={capacity_per_generation}, "
            f"window={window}, num_shards={num_shards}) exceeds the "
            f"{state_budget_bytes >> 20} MB state budget — raise num_shards",
            stacklevel=2,
        )

    out_columns = list(stream_df.columns)
    wm = stream_df.withWatermark(ts_col, delay)
    keyed = (
        wm.withColumn(_KEY, F.col(key_col).cast("string"))
        .filter(F.col(_KEY).isNotNull())
        .withColumn(_GEN, gen_expr(ts_col, gen_sec))
        .filter(F.col(_GEN).isNotNull())
        .withColumn(_SHARD, F.pmod(F.xxhash64(F.col(_KEY)), F.lit(num_shards)))
    )
    session_tz = (
        stream_df.sparkSession.conf.get("spark.sql.session.timeZone", "UTC")
        or "UTC"
    )
    update = make_ttl_updater(
        gen_sec, window, cap_shard, error_rate, num_shards, out_columns,
        ts_col, seed, order_cols, session_tz,
    )
    out_schema = keyed.select(*out_columns).schema
    return keyed.groupBy(_SHARD).applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
