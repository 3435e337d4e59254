"""Sharded scaling bloom: build/probe/semi-join at bigger-than-
broadcast filter sizes."""

import hashlib
import math

from pyspark.sql import functions as F

from dablooms_spark.operators.sharded_scaling import (
    build_sharded_scaling_layers,
    sharded_scaling_probe,
    sharded_scaling_semi_join,
)

CAP, EPS, SHARDS = 2000, 0.02, 4


def _rows(spark, n=30_000, parts=8):
    return spark.range(0, n, 1, parts).select(
        F.concat(F.lit("key"), F.col("id")).alias("k"), F.col("id").alias("id")
    )


def test_no_false_negatives_and_fp_bound(spark):
    rows = _rows(spark)
    layers = build_sharded_scaling_layers(
        rows, "k", "id", capacity=CAP, error_rate=EPS, num_shards=SHARDS
    ).cache()
    res = sharded_scaling_probe(rows.select("k"), "k", layers, num_shards=SHARDS)
    assert res.filter("NOT is_member").count() == 0
    fresh = spark.range(30_000, 60_000).select(
        F.concat(F.lit("key"), F.col("id")).alias("k")
    )
    fp = (
        sharded_scaling_probe(fresh, "k", layers, num_shards=SHARDS)
        .filter("is_member")
        .count()
    )
    # compound bound is Σ layer budgets ≤ EPS; allow 1.5x sampling slop
    assert fp / 30_000 <= EPS * 1.5
    layers.unpersist()


def test_shard_layer_load_within_slack(spark):
    """Hash-sampled shard-layer load stays under the 6·√capacity
    geometry slack (the documented deviation from the reference's
    hard bound)."""
    layers = build_sharded_scaling_layers(
        _rows(spark), "k", "id", capacity=CAP, error_rate=EPS, num_shards=SHARDS
    )
    max_load = layers.agg(F.max("n")).collect()[0][0]
    assert max_load <= CAP + 6 * int(math.sqrt(CAP)) + 16


def test_partition_order_invariance(spark):
    """Counter-sum merge: the layer rows are byte-identical no matter
    how the input was partitioned."""
    def fingerprint(parts):
        layers = build_sharded_scaling_layers(
            _rows(spark, parts=parts), "k", "id",
            capacity=CAP, error_rate=EPS, num_shards=SHARDS,
        )
        return {
            (r["shard"], r["first_id"]): hashlib.md5(bytes(r["blob"])).hexdigest()
            for r in layers.collect()
        }

    a, b = fingerprint(3), fingerprint(11)
    assert a == b


def test_null_keys_probe_false(spark):
    rows = _rows(spark, n=5_000)
    layers = build_sharded_scaling_layers(
        rows, "k", "id", capacity=CAP, error_rate=EPS, num_shards=SHARDS
    )
    probe = spark.createDataFrame(
        [("key1",), (None,), ("key2",)], "k string"
    )
    got = {
        r["k"]: r["is_member"]
        for r in sharded_scaling_probe(probe, "k", layers, num_shards=SHARDS).collect()
    }
    assert got["key1"] and got["key2"]
    assert got[None] is False


def test_semi_join_exact(spark):
    rows = _rows(spark, n=10_000)
    dim = rows.filter("id % 3 = 0").select(F.col("k").alias("dk"))
    layers = build_sharded_scaling_layers(
        rows.filter("id % 3 = 0"), "k", "id",
        capacity=CAP, error_rate=EPS, num_shards=SHARDS,
    )
    got = sharded_scaling_semi_join(
        rows.select("k"), "k", layers, exact_df=dim, exact_key="dk",
        num_shards=SHARDS,
    )
    expect = rows.join(dim, rows.k == dim.dk, "left_semi")
    assert got.count() == expect.count() == 10_000 // 3 + 1


def test_wide_probe_multi_partition_group_alignment(spark):
    """Regression: probe-side __salt is LONG (pmod of xxhash64); the
    blob/layer side's exploded salt must be LONG too, or cogroup
    hash-partitions the two sides differently (int 0 and long 0 hash
    apart) and every unaligned group returns all-False verdicts. AQE
    partition coalescing masked this for narrow probes at tiny SF —
    disable it and probe with a WIDE frame across many partitions."""
    from dablooms_spark.operators.sharded import (
        build_sharded_counting_bloom,
        sharded_bloom_probe,
    )

    coalesce_key = "spark.sql.adaptive.coalescePartitions.enabled"
    old = spark.conf.get(coalesce_key, "true")
    spark.conf.set(coalesce_key, "false")
    try:
        rows = _rows(spark, n=20_000).withColumn("pad", F.expr("repeat('x', 64)"))
        dim = rows.filter("id % 5 = 0")
        expect = 20_000 // 5

        layers = build_sharded_scaling_layers(
            dim, "k", "id", capacity=CAP, error_rate=EPS, num_shards=SHARDS
        )
        got = (
            sharded_scaling_probe(rows, "k", layers, num_shards=SHARDS)
            .filter("is_member")
            .count()
        )
        assert got >= expect, f"false negatives: {expect - got}"
        assert got <= expect * (1 + EPS * 2)

        blobs = build_sharded_counting_bloom(
            dim, "k", capacity=5_000, error_rate=0.01, num_shards=8
        )
        got_c = (
            sharded_bloom_probe(rows, "k", blobs, num_shards=8)
            .filter("is_member")
            .count()
        )
        assert got_c >= expect, f"false negatives: {expect - got_c}"
    finally:
        spark.conf.set(coalesce_key, old)


def test_sharded_scaling_remove(spark):
    """Distributed decrement: removed keys go definitively absent
    (modulo FP), survivors keep the no-false-negative guarantee, and
    removing EVERYTHING zeroes every counter bit-exactly (counters
    stayed under saturation at this load)."""
    import numpy as np

    from dablooms_spark.core.counting_bloom import CountingBloom
    from dablooms_spark.operators.sharded_scaling import sharded_scaling_remove

    rows = _rows(spark, n=10_000)
    layers = build_sharded_scaling_layers(
        rows, "k", "id", capacity=CAP, error_rate=EPS, num_shards=SHARDS
    ).cache()
    layers.count()

    gone = rows.filter("id % 4 = 0")
    kept = rows.filter("id % 4 != 0")
    after = sharded_scaling_remove(
        layers, gone, "k", "id", capacity=CAP, error_rate=EPS,
        num_shards=SHARDS,
    ).cache()
    # survivors: zero false negatives
    still = sharded_scaling_probe(kept.select("k"), "k", after, num_shards=SHARDS)
    assert still.filter("NOT is_member").count() == 0
    # removed keys: absent up to the FP bound
    ghost = (
        sharded_scaling_probe(gone.select("k"), "k", after, num_shards=SHARDS)
        .filter("is_member")
        .count()
    )
    assert ghost <= gone.count() * EPS * 1.5
    # counts decremented
    assert after.agg(F.sum("n")).collect()[0][0] == kept.count()

    # full removal zeroes every counter
    empty = sharded_scaling_remove(
        after, kept, "k", "id", capacity=CAP, error_rate=EPS,
        num_shards=SHARDS,
    )
    for r in empty.collect():
        cb = CountingBloom.from_bytes(bytes(r["blob"]))
        assert not np.any(cb.counters), "counters not zeroed"
        assert r["n"] == 0
    layers.unpersist()
    after.unpersist()


def test_double_typed_keys_no_false_negatives(spark):
    """Regression: the probe must hash the JVM CAST(key AS STRING)
    bytes, not a pandas astype(str) re-rendering — doubles like 1e20
    render '1.0E20' JVM-side but '1e+20' in python, which would
    false-negative every inserted key of such a column."""
    from dablooms_spark.operators.sharded import (
        build_sharded_counting_bloom,
        sharded_bloom_probe,
    )

    rows = spark.range(1, 2_000).select(
        (F.col("id").cast("double") * 1e18).alias("k"),
        F.col("id").alias("id"),
    )
    layers = build_sharded_scaling_layers(
        rows, "k", "id", capacity=CAP, error_rate=EPS, num_shards=SHARDS
    )
    fn = (
        sharded_scaling_probe(rows, "k", layers, num_shards=SHARDS)
        .filter("NOT is_member")
        .count()
    )
    assert fn == 0
    blobs = build_sharded_counting_bloom(rows, "k", capacity=4_000, error_rate=0.01)
    fn_c = (
        sharded_bloom_probe(rows, "k", blobs)
        .filter("NOT is_member")
        .count()
    )
    assert fn_c == 0


def test_checkpoint_roundtrip_sharded_layers(spark, tmp_path):
    """Sharded layers commit/restore through the checkpoint protocol
    as a DataFrame; the one-filter restore path refuses them (they are
    per-shard filters, not layers of one filter)."""
    import pytest as _pytest

    from dablooms_spark.sources.checkpoint import CheckpointManager

    rows = _rows(spark, n=5_000)
    layers = build_sharded_scaling_layers(
        rows, "k", "id", capacity=CAP, error_rate=EPS, num_shards=SHARDS
    )
    mgr = CheckpointManager(str(tmp_path / "ck"))
    seq = mgr.commit(layers, "run", "sharded-scaling")
    m = mgr.manifest(seq)
    restored = mgr.load_blobs(spark, m)
    res = sharded_scaling_probe(rows.select("k"), "k", restored, num_shards=SHARDS)
    assert res.filter("NOT is_member").count() == 0
    with _pytest.raises(ValueError, match="SHARDED scaling layers"):
        mgr.restore_sketch(spark, m)


def test_build_plan_is_piece_only(spark):
    """The build's only Exchange moves pieces, never rows: the row
    side of the plan is scan -> project -> python map; no Sort
    anywhere (fixed boundaries need no ordering). Forces the
    distributed merge path — small inputs would otherwise take the
    driver fold, which has no exchange at all (asserted bit-identical
    in test_driver_fold_matches_distributed)."""
    rows = _rows(spark, n=2_000)
    spark.conf.set("spark.dablooms.build.driverMergeMaxBytes", "0")
    try:
        layers = build_sharded_scaling_layers(
            rows, "k", "id", capacity=CAP, error_rate=EPS, num_shards=SHARDS
        )
        plan = layers._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.unset("spark.dablooms.build.driverMergeMaxBytes")
    assert plan.count("Exchange") == 1, plan
    # the only Sort sits ABOVE the piece exchange (applyInPandas
    # grouping over piece rows); the row side below the exchange —
    # scan -> project -> MapInArrow — is sort-free
    below_exchange = plan.split("Exchange", 1)[1]
    assert "MapInArrow" in below_exchange, plan
    assert "Sort" not in below_exchange, plan


def test_sharded_counting_remove(spark):
    """Distributed decrement for the sharded COUNTING filter:
    survivors keep zero false negatives, removed keys fall to the FP
    bound, and full removal zeroes every counter."""
    import numpy as np

    from dablooms_spark.core.counting_bloom import CountingBloom
    from dablooms_spark.operators.sharded import (
        build_sharded_counting_bloom,
        sharded_bloom_probe,
        sharded_bloom_remove,
    )

    rows = _rows(spark, n=8_000)
    blobs = build_sharded_counting_bloom(
        rows, "k", capacity=16_000, error_rate=0.01, num_shards=8
    ).cache()
    blobs.count()
    gone = rows.filter("id % 4 = 0")
    kept = rows.filter("id % 4 != 0")
    after = sharded_bloom_remove(
        blobs, gone, "k", capacity=16_000, error_rate=0.01, num_shards=8
    ).cache()
    still = sharded_bloom_probe(kept.select("k"), "k", after, num_shards=8)
    assert still.filter("NOT is_member").count() == 0
    ghost = (
        sharded_bloom_probe(gone.select("k"), "k", after, num_shards=8)
        .filter("is_member")
        .count()
    )
    assert ghost <= gone.count() * 0.01 * 2 + 5
    assert after.agg(F.sum("n")).collect()[0][0] == kept.count()
    empty = sharded_bloom_remove(
        after, kept, "k", capacity=16_000, error_rate=0.01, num_shards=8
    )
    for r in empty.collect():
        cb = CountingBloom.from_bytes(bytes(r["blob"]))
        assert not np.any(cb.counters)
        assert r["n"] == 0
    blobs.unpersist()
    after.unpersist()


def test_sharded_counting_strict_overflow(spark):
    """Strict mode through the sharded build: a key repeated past 15
    raises whether the copies sit in one partition or only sum past 15
    across partitions; clean strict builds probe normally."""
    import pytest as _pytest

    from dablooms_spark.operators.sharded import (
        build_sharded_counting_bloom,
        sharded_bloom_probe,
    )

    clean = _rows(spark, n=500).select("k")
    blobs = build_sharded_counting_bloom(
        clean, "k", 2_000, 0.01, num_shards=4, on_overflow="error"
    )
    got = sharded_bloom_probe(clean, "k", blobs, num_shards=4)
    assert got.filter("NOT is_member").count() == 0

    hot = spark.range(32, numPartitions=4).select(F.lit("dup").alias("k"))
    with _pytest.raises(Exception, match="overflow"):
        build_sharded_counting_bloom(
            hot, "k", 2_000, 0.01, num_shards=4, on_overflow="error"
        ).count()


def test_num_shards_drift_raises(spark):
    """num_shards determines shard routing AND layer width; a
    mismatched probe/remove must refuse instead of silently answering
    from wrong counters (or dropping deletions)."""
    import pytest

    from dablooms_spark.operators.sharded_scaling import sharded_scaling_remove

    rows = _rows(spark, n=2_000, parts=2)
    layers = build_sharded_scaling_layers(
        rows, "k", "id", capacity=CAP, error_rate=EPS, num_shards=SHARDS
    ).cache()
    with pytest.raises(Exception, match="num_shards drift"):
        sharded_scaling_probe(
            rows.select("k"), "k", layers, num_shards=SHARDS * 2
        ).collect()
    # remove validates eagerly (one first()), before any piece work
    with pytest.raises(ValueError, match="num_shards drift"):
        sharded_scaling_remove(
            layers, rows.limit(10), "k", "id", CAP, EPS, num_shards=SHARDS * 2
        )
    layers.unpersist()


def test_sharded_chunked_flush_bit_identical(spark, monkeypatch):
    """PIECE_FLUSH_ELEMS chunking is invisible to the sharded scaling
    build: tiny flush budget on a single giant partition == default."""
    import dablooms_spark.core.pieces as pieces
    from dablooms_spark.functions.murmur import DABLOOMS_SEED
    from dablooms_spark.operators.sharded_scaling import _pieces_df

    rows = _rows(spark, n=8_000, parts=1)

    def snap():
        return {
            (r.shard, r.first_id): (bytes(r.blob), r.n)
            for r in build_sharded_scaling_layers(
                rows.coalesce(1), "k", "id",
                capacity=CAP, error_rate=EPS, num_shards=SHARDS,
            ).collect()
        }

    base = snap()
    monkeypatch.setattr(pieces, "PIECE_FLUSH_ELEMS", 1024)
    assert snap() == base
    # 8,000 rows arrive as ONE Arrow batch by default; with several
    # batches per partition the tiny budget drains mid-stream, so
    # every (shard, layer) spanning several batches ships more than
    # one piece — memory stays bounded although each batch touches
    # every shard — and the layers are still bit-identical
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "500")
    try:
        assert snap() == base
        per_key = (
            _pieces_df(rows.coalesce(1), "k", "id", CAP, EPS, SHARDS, DABLOOMS_SEED)
            .groupBy("shard", "layer")
            .agg(F.count("*").alias("pieces"), F.sum("n").alias("n"),
                 F.max("n").alias("piece_rows"))
            .collect()
        )
    finally:
        spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
    spanning = [r for r in per_key if r.n > 1_000]
    assert len(spanning) >= SHARDS
    assert all(r.pieces > 1 for r in spanning), per_key
    # no piece carries more than two batches of rows
    assert max(r.piece_rows for r in per_key) <= 1_000


def test_sharded_uniform_schedule_build_probe_remove(spark):
    """expected_layers through the sharded topology: build + probe
    (geometry from blob bytes, schedule-agnostic) + remove (schedule
    revalidated against stored layer_eps; drift refused)."""
    import pytest as _pt

    from dablooms_spark.operators.sharded_scaling import (
        build_sharded_scaling_layers,
        sharded_scaling_probe,
        sharded_scaling_remove,
    )

    df = spark.range(6_000).select(
        F.concat(F.lit("u"), F.col("id")).alias("key"), F.col("id")
    )
    L = (6_000 - 1) // ((500 - 1) * 4) + 1
    layers = build_sharded_scaling_layers(
        df, "key", "id", capacity=500, error_rate=0.05, num_shards=4,
        expected_layers=L,
    ).cache()
    assert all(
        abs(r.layer_eps - 0.05 * 0.5 / L) < 1e-15 for r in layers.collect()
    )
    probed = sharded_scaling_probe(df, "key", layers, num_shards=4)
    assert probed.filter("NOT is_member").count() == 0
    # remove with the matching schedule zeroes the removed keys' counters
    dels = df.filter(F.col("id") < 100)
    after = sharded_scaling_remove(
        layers, dels, "key", "id", capacity=500, error_rate=0.05,
        num_shards=4, expected_layers=L,
    )
    assert after.agg(F.sum("n")).first()[0] == 6_000 - 100
    # schedule drift (remove without the build's hint) is refused
    with _pt.raises(Exception, match="eps-schedule drift"):
        sharded_scaling_remove(
            layers, dels, "key", "id", capacity=500, error_rate=0.05,
            num_shards=4,
        ).agg(F.sum("n")).first()
    layers.unpersist()


def test_fold_refuses_prior_rows_of_another_num_shards(spark):
    """Prior layer rows fold with a batch's pieces only under the
    num_shards they were built with: another stamp raises (a Catalyst
    check before the fold) at the driver fold and at the exchange."""
    import pytest

    from dablooms_spark.functions.murmur import DABLOOMS_SEED
    from dablooms_spark.operators.sharded_scaling import _fold_layers

    rows = _rows(spark, n=4_000, parts=2)
    prior = build_sharded_scaling_layers(
        rows, "k", "id", capacity=CAP, error_rate=EPS, num_shards=SHARDS
    ).collect()
    prior = spark.createDataFrame(prior)
    for ceiling in (None, "0"):
        if ceiling is not None:
            spark.conf.set("spark.dablooms.build.driverMergeMaxBytes", ceiling)
        try:
            forged = prior.withColumn("num_shards", F.lit(SHARDS * 2).cast("long"))
            with pytest.raises(Exception, match="num_shards drift"):
                _fold_layers(
                    rows, "k", "id", CAP, EPS, SHARDS, DABLOOMS_SEED, None,
                    prior=forged,
                ).collect()
            # the same rows under their own stamp fold cleanly
            got = _fold_layers(
                rows, "k", "id", CAP, EPS, SHARDS, DABLOOMS_SEED, None, prior=prior,
            ).agg(F.sum("n")).first()[0]
            assert got == 2 * 4_000
        finally:
            spark.conf.unset("spark.dablooms.build.driverMergeMaxBytes")


def test_driver_fold_matches_distributed(spark):
    """Small inputs build the layer rows via a driver-side piece fold
    (no exchange); the rows must be bit-identical to the distributed
    groupBy merge — same blobs, same counts, same geometry columns."""
    rows = _rows(spark, n=10_000)
    drv = build_sharded_scaling_layers(
        rows, "k", "id", capacity=CAP, error_rate=EPS, num_shards=SHARDS
    ).collect()
    spark.conf.set("spark.dablooms.build.driverMergeMaxBytes", "0")
    try:
        dist = build_sharded_scaling_layers(
            rows, "k", "id", capacity=CAP, error_rate=EPS, num_shards=SHARDS
        ).collect()
    finally:
        spark.conf.unset("spark.dablooms.build.driverMergeMaxBytes")
    key = lambda r: (r.shard, r.first_id)
    a = {key(r): r for r in drv}
    b = {key(r): r for r in dist}
    assert set(a) == set(b)
    for k in a:
        assert bytes(a[k].blob) == bytes(b[k].blob), k
        for col in ("layer_eps", "capacity", "max_id", "sb_eps", "n", "num_shards"):
            assert a[k][col] == b[k][col], (k, col)

    # grouped sketch finalize takes the same gate: approx_distinct_by
    # and quantiles_by (KLL) answer identically either way. Groups stay
    # below the KLL k, so no compaction makes the fold order matter.
    from dablooms_spark.operators.sketch_agg import approx_distinct_by, quantiles_by

    ev = spark.range(0, 500, 1, 4).select(
        (F.col("id") % 5).cast("string").alias("g"), (F.col("id") * 7 % 389).alias("v")
    )
    for agg in (
        lambda: approx_distinct_by(ev, "g", "v", p=10),
        lambda: quantiles_by(ev, "g", "v", [0.1, 0.5, 0.9], kind="kll", k=200),
    ):
        drv_rows = sorted(map(tuple, agg().collect()))
        spark.conf.set("spark.dablooms.build.driverMergeMaxBytes", "0")
        try:
            dist_rows = sorted(map(tuple, agg().collect()))
        finally:
            spark.conf.unset("spark.dablooms.build.driverMergeMaxBytes")
        assert len(drv_rows) >= 5
        assert drv_rows == dist_rows


def test_counting_driver_fold_matches_distributed(spark):
    """Sharded COUNTING twin of the above."""
    from dablooms_spark.operators.sharded import build_sharded_counting_bloom

    rows = _rows(spark, n=10_000)
    drv = build_sharded_counting_bloom(
        rows, "k", capacity=8_000, error_rate=0.02, num_shards=SHARDS
    ).collect()
    spark.conf.set("spark.dablooms.build.driverMergeMaxBytes", "0")
    try:
        dist = build_sharded_counting_bloom(
            rows, "k", capacity=8_000, error_rate=0.02, num_shards=SHARDS
        ).collect()
    finally:
        spark.conf.unset("spark.dablooms.build.driverMergeMaxBytes")
    a = {r.shard: r for r in drv}
    b = {r.shard: r for r in dist}
    assert set(a) == set(b)
    for s in a:
        assert bytes(a[s].blob) == bytes(b[s].blob), s
        assert a[s].n == b[s].n

    # generation filters take the same gate (projected (key, gen) frame)
    from dablooms_spark.operators.generations import build_generation_filters

    events = rows.withColumn("ts", (F.col("id") * 37).cast("timestamp"))

    def gens():
        return sorted(
            (r.gen, r.shard, bytes(r.blob), r.n)
            for r in build_generation_filters(
                events, "k", "ts", "1 hour", capacity=2_000, error_rate=0.02,
                num_shards=SHARDS,
            ).collect()
        )

    drv_g = gens()
    spark.conf.set("spark.dablooms.build.driverMergeMaxBytes", "0")
    try:
        dist_g = gens()
    finally:
        spark.conf.unset("spark.dablooms.build.driverMergeMaxBytes")
    assert len(drv_g) > SHARDS
    assert drv_g == dist_g
