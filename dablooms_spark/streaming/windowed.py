"""Windowed streaming sketch aggregation with watermark-bounded state.

The incremental builder (streaming/incremental.py) keeps ONE filter
per shard forever — the reference's lifetime-filter semantics. This
module adds the event-time-window variant a web pipeline needs for
"distinct URLs per hour" style questions: one HLL per (window, group),
updated per micro-batch, FINALIZED and evicted when the watermark
passes the window end (EventTimeTimeout), so state is bounded by
(windows in flight × groups), never by stream length.

Late data: Spark auto-drops late rows only for BUILT-IN windowed
aggregations; for applyInPandasWithState it is the operator's job.
The updater filters rows older than state.getCurrentWatermarkMs()
(converted into the session timezone for naive columns) BEFORE
touching state. Without that filter a late row for an already-evicted
window would resurrect it as a fresh near-empty sketch — or crash the
query outright, since setTimeoutTimestamp at-or-below the watermark
is illegal. Surviving rows always satisfy ts >= watermark, so their
window end is strictly above the watermark and the timeout
registration is always valid. (Contrast the lifetime filter, where
dablooms id-routing makes late rows land in their historic layer
instead of being dropped.)
"""

from __future__ import annotations

from typing import Any, Iterator, Tuple

import pandas as pd
import pyarrow as pa
from pyspark.sql import functions as F

from dablooms_spark.core.hll import HyperLogLog
from dablooms_spark.core.theta import ThetaSketch
from dablooms_spark.functions.arrow_utils import arrow_byte_view
from dablooms_spark.functions.murmur import DABLOOMS_SEED

OUTPUT_SCHEMA = (
    "win_start timestamp, group string, approx_distinct double, final boolean"
)
STATE_SCHEMA = "blob binary, win_end_ms long"


def make_windowed_sketch_updater(
    factory, loads, late_ts_col: str | None = None, session_tz: str = "UTC"
):
    """State-update fn for applyInPandasWithState keyed by
    (window_start, window_end_ms, group). `factory()` builds an empty
    sketch, `loads(blob)` revives one; any sketch with add(keys) /
    estimate() / to_bytes() works — HLL for fixed-size state, theta
    for EXACT counts while under-full (retained < k ⇒ estimate() is
    the true distinct count, which is what lets the streaming query
    hash-match an exact GROUP BY oracle).

    late_ts_col: event-time column filtered against the current
    watermark (module docstring: arbitrary stateful ops must do this
    themselves). An all-late batch for an EVICTED window returns
    without touching state — the closed window is not resurrected and
    no illegal timeout is registered."""

    def update(
        key: Tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state,
    ) -> Iterator[pd.DataFrame]:
        win_start, win_end_ms, group = key
        if state.hasTimedOut:
            # watermark passed the window end: emit the FINAL answer
            # and evict — this is the state bound
            blob, _ = state.get
            h = loads(bytes(blob))
            state.remove()
            yield pd.DataFrame(
                {
                    "win_start": [win_start],
                    "group": [group],
                    "approx_distinct": [float(h.estimate())],
                    "final": [True],
                }
            )
            return
        wm_utc = None
        if late_ts_col is not None:
            wm_ms = state.getCurrentWatermarkMs()
            if wm_ms > 0:
                wm_utc = pd.Timestamp(wm_ms, unit="ms", tz="UTC")
        live: list[pd.DataFrame] = []
        for pdf in pdfs:
            if wm_utc is not None and len(pdf):
                ts = pdf[late_ts_col]
                if getattr(ts.dt, "tz", None) is not None:
                    thr = wm_utc.tz_convert(ts.dt.tz)
                else:
                    # naive column values are session-zone wall times
                    try:
                        thr = wm_utc.tz_convert(session_tz).tz_localize(None)
                    except Exception:
                        thr = wm_utc.tz_localize(None)
                pdf = pdf[ts >= thr]
            if len(pdf):
                live.append(pdf)
        if not live:
            # entirely-late group: never resurrect a closed window
            # (no state write, and — critically — no timeout
            # registration, which would be <= the watermark and
            # illegal); an existing open window keeps its prior
            # state and timeout untouched
            return
        if state.exists:
            blob, _ = state.get
            h = loads(bytes(blob))
        else:
            h = factory()
        for pdf in live:
            # NULL keys are not distinct values (COUNT(DISTINCT) skips them)
            keys = pa.array(pdf.key, type=pa.large_string()).drop_null()
            h.add_buffer(*arrow_byte_view(keys))
        state.update((bytearray(h.to_bytes()), int(win_end_ms)))
        # fire once the event-time watermark passes the window end
        # (surviving rows have ts >= watermark, and their window's end
        # is > ts, so this is always strictly above the watermark)
        state.setTimeoutTimestamp(int(win_end_ms))
        yield pd.DataFrame(
            {
                "win_start": [win_start],
                "group": [group],
                "approx_distinct": [float(h.estimate())],
                "final": [False],
            }
        )

    return update


def make_windowed_hll_updater(
    p: int,
    seed: int = DABLOOMS_SEED,
    late_ts_col: str | None = None,
    session_tz: str = "UTC",
):
    def factory():
        return HyperLogLog(p=p, seed=seed)

    def loads(blob: bytes):
        return HyperLogLog.from_bytes(blob)

    return make_windowed_sketch_updater(factory, loads, late_ts_col, session_tz)


def make_windowed_theta_updater(
    k: int,
    seed: int = DABLOOMS_SEED,
    late_ts_col: str | None = None,
    session_tz: str = "UTC",
):
    def factory():
        return ThetaSketch(k=k, seed=seed)

    def loads(blob: bytes):
        return ThetaSketch.from_bytes(blob)

    return make_windowed_sketch_updater(factory, loads, late_ts_col, session_tz)


def windowed_distinct_stream(
    stream_df,
    ts_col: str,
    key_col: str,
    group_col: str | None = None,
    window: str = "1 hour",
    watermark: str = "30 minutes",
    p: int = 12,
    seed: int = DABLOOMS_SEED,
    sketch: str = "hll",
    k: int = 4096,
):
    """Streaming approximate distinct-count per event-time window
    (and optional group). Returns the streaming DataFrame
    (win_start, group, approx_distinct, final); attach a sink with a
    checkpointLocation. Rows emit per micro-batch (final=false) and
    once more when the watermark closes the window (final=true).

    sketch='hll' (default): fixed 2^p-byte state per window.
    sketch='theta': KMV with parameter k — EXACT while a window's
    distinct count stays under k (the oracle-checkable mode), bounded
    estimate beyond."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    session_tz = (
        stream_df.sparkSession.conf.get("spark.sql.session.timeZone", "UTC")
        or "UTC"
    )
    if sketch == "hll":
        updater = make_windowed_hll_updater(p, seed, ts_col, session_tz)
    elif sketch == "theta":
        updater = make_windowed_theta_updater(k, seed, ts_col, session_tz)
    else:
        raise ValueError(f"unknown sketch {sketch!r}")

    # watermarks require TIMESTAMP (with zone); parquet often stores NTZ
    wm = stream_df.withColumn(
        ts_col, F.col(ts_col).cast("timestamp")
    ).withWatermark(ts_col, watermark)
    g = (
        F.col(group_col).cast("string")
        if group_col is not None
        else F.lit("__all__")
    )
    keyed = wm.select(
        F.window(F.col(ts_col), window).alias("win"),
        g.alias("group"),
        F.col(key_col).cast("string").alias("key"),
        F.col(ts_col).alias(ts_col),
    ).select(
        F.col("win.start").alias("win_start"),
        (F.unix_millis(F.col("win.end"))).alias("win_end_ms"),
        "group",
        "key",
        ts_col,
    )
    return keyed.groupBy("win_start", "win_end_ms", "group").applyInPandasWithState(
        updater,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
