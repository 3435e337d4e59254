"""Late-data semantics of windowed_distinct_stream: Spark leaves
late-row filtering to the user function for arbitrary stateful ops,
so the updater itself must drop rows older than the watermark —
otherwise a late row for an already-evicted window resurrects it as a
fresh near-empty sketch (or kills the query: registering a timeout
at-or-below the watermark is illegal)."""

import datetime as dt


def test_late_rows_cannot_resurrect_evicted_window(spark, tmp_path_factory):
    from dablooms_spark.streaming.windowed import windowed_distinct_stream

    src = str(tmp_path_factory.mktemp("win_late_src"))
    ckpt = str(tmp_path_factory.mktemp("win_late_ckpt"))

    t = dt.datetime(2024, 1, 20, 10, 5, 0)

    # batch 1: three users in window 10:00-11:00 (W1) + one frontier
    # row at 13:00 that pushes the watermark to 12:30 -> W1 is closed
    # from batch 2 onward
    b1 = [("u1", t), ("u2", t), ("u3", t),
          ("fx", dt.datetime(2024, 1, 20, 13, 0, 0))]
    # batch 2: W1 has NO data, so its EventTimeTimeout fires (final
    # row); one on-time row + one slightly-late-but-admitted row
    # (12:40 >= watermark 12:30 -> kept, window 12:00-13:00)
    b2 = [("u4", dt.datetime(2024, 1, 20, 13, 5, 0)),
          ("u5", dt.datetime(2024, 1, 20, 12, 40, 0))]
    # batch 3: a LATE row for the EVICTED W1 — must be dropped, not
    # resurrect the window (and not crash the query via an illegal
    # timeout registration)
    b3 = [("ghost", dt.datetime(2024, 1, 20, 10, 10, 0))]

    schema = "user string, ts timestamp"
    for b in (b1, b2, b3):
        spark.createDataFrame(b, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    out = windowed_distinct_stream(
        stream, "ts", "user", window="1 hour", watermark="30 minutes",
        sketch="theta",  # exact while under-full -> counts assertable
    )
    q = (
        out.writeStream.format("memory")
        .queryName("win_late_sink")
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    rows = spark.sql("SELECT * FROM win_late_sink").collect()
    spark.catalog.dropTempView("win_late_sink")

    w1 = dt.datetime(2024, 1, 20, 10, 0, 0)
    w1_rows = [r for r in rows if r["win_start"] == w1]
    finals = [r for r in rows if r["final"]]

    # W1 closed exactly once, with the pre-eviction count — and the
    # ghost row neither re-opened it (no fresh count-1 row) nor added
    # a second final
    assert [(r["final"], r["approx_distinct"]) for r in w1_rows] in (
        [(False, 3.0), (True, 3.0)],
        [(True, 3.0), (False, 3.0)],  # collect order is not guaranteed
    )
    assert len(finals) == 1 and finals[0]["win_start"] == w1

    # the slightly-late-but-inside-watermark row WAS admitted
    w12 = dt.datetime(2024, 1, 20, 12, 0, 0)
    assert any(
        r["win_start"] == w12 and r["approx_distinct"] == 1.0 for r in rows
    )
    # the 13:00 window saw both fx and u4
    w13 = dt.datetime(2024, 1, 20, 13, 0, 0)
    assert any(
        r["win_start"] == w13 and r["approx_distinct"] == 2.0 for r in rows
    )


class _FakeWinState:
    """GroupState stand-in for the windowed updater: exists/get/
    update/remove + watermark + timeout registration capture."""

    def __init__(self, value=None, wm_ms=-1, timed_out=False):
        self._value = value
        self._wm_ms = wm_ms
        self.hasTimedOut = timed_out
        self.timeout_set = None
        self.removed = False

    @property
    def exists(self):
        return self._value is not None

    @property
    def get(self):
        return self._value

    def update(self, value):
        self._value = value

    def remove(self):
        self._value, self.removed = None, True

    def getCurrentWatermarkMs(self):
        return self._wm_ms

    def setTimeoutTimestamp(self, ts_ms):
        self.timeout_set = ts_ms


def test_windowed_updater_late_filter_session_tz():
    """The windowed updater's late filter converts the epoch-UTC
    watermark into the session zone before comparing naive event
    times (same protocol as the dedup stream): with session tz
    America/New_York a naive on-time wall clock reads 5h earlier than
    its UTC instant and must still be admitted."""
    import pandas as pd

    from dablooms_spark.streaming.windowed import make_windowed_theta_updater

    wm_utc = pd.Timestamp("2026-01-01 12:00:00", tz="UTC")
    wm_ms = int(wm_utc.value // 1_000_000)
    win_end_ms = wm_ms + 3_600_000  # window still open

    def run(session_tz, naive_ts, state):
        upd = make_windowed_theta_updater(
            64, late_ts_col="ts", session_tz=session_tz
        )
        pdf = pd.DataFrame({
            "key": [f"k{i}" for i in range(len(naive_ts))],
            "ts": pd.to_datetime(naive_ts),
        })
        return list(
            upd((pd.Timestamp("2026-01-01 11:00:00"), win_end_ms, "g"),
                iter([pdf]), state)
        )

    # NY wall 07:30 == 12:30 UTC (on time); 06:30 == 11:30 UTC (late)
    st = _FakeWinState(wm_ms=wm_ms)
    out = run("America/New_York",
              ["2026-01-01 06:30:00", "2026-01-01 07:30:00"], st)
    assert len(out) == 1 and out[0]["approx_distinct"].iloc[0] == 1.0
    assert st.timeout_set == win_end_ms and st.exists

    # entirely-late batch for a group with NO state: no resurrection,
    # no state write, no timeout registration
    st2 = _FakeWinState(wm_ms=wm_ms)
    out2 = run("UTC", ["2026-01-01 10:00:00"], st2)
    assert out2 == [] and not st2.exists and st2.timeout_set is None

    # entirely-late batch for an OPEN group: state and prior timeout
    # untouched, nothing emitted
    blob = None
    st3 = _FakeWinState(wm_ms=wm_ms)
    run("UTC", ["2026-01-01 12:30:00"], st3)  # seed real state
    blob = bytes(st3.get[0])
    st4 = _FakeWinState(value=st3.get, wm_ms=wm_ms)
    out4 = run("UTC", ["2026-01-01 10:00:00"], st4)
    assert out4 == [] and bytes(st4.get[0]) == blob
    assert st4.timeout_set is None


def test_windowed_updater_hashes_key_bytes_and_skips_nulls():
    """The updater feeds the sketch the keys' UTF-8 bytes from the
    Arrow buffer: the state blob equals a sketch built key by key over
    the non-NULL keys, and a NULL key is no distinct value (as in
    COUNT(DISTINCT))."""
    import pandas as pd

    from dablooms_spark.core.hll import HyperLogLog
    from dablooms_spark.core.theta import ThetaSketch
    from dablooms_spark.streaming.windowed import (
        make_windowed_hll_updater,
        make_windowed_theta_updater,
    )

    # no "" key: a NULL must not alias the empty string either
    keys = [f"k{i % 37}" for i in range(200)] + ["ü-ß", None, "k1"]
    key = (pd.Timestamp("2026-01-01 11:00:00"), 1, "g")
    for make, sketch in ((make_windowed_hll_updater(10), HyperLogLog(p=10)),
                         (make_windowed_theta_updater(64), ThetaSketch(k=64))):
        st = _FakeWinState()
        out = list(make(key, iter([pd.DataFrame({"key": keys})]), st))
        sketch.add([k.encode() for k in keys if k is not None])
        assert bytes(st.get[0]) == sketch.to_bytes()
        assert len(out) == 1
    assert out[0]["approx_distinct"].iloc[0] == 38.0  # 37 + "ü-ß"
