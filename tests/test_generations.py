"""Rotating-generation filters: build, window probe, expiry.

Semantics under test: per-generation membership is exactly
counting_bloom add/check (reference src/dablooms.c ≈L202/≈238); the
rotation layer answers "seen within the last N generations" with no
false negatives, and expiry is a whole-generation drop (gen-column
filter), never a per-key decrement.
"""

import datetime as dt

import pytest

from dablooms_spark.operators.generations import (
    build_generation_filters,
    expire_generations,
    generation_seconds,
    generation_semi_join,
    generation_window_probe,
)

DAY = 86400


def test_generation_seconds_parsing():
    assert generation_seconds("1 day") == DAY
    assert generation_seconds("6 hours") == 6 * 3600
    assert generation_seconds("2 weeks") == 2 * 604800
    assert generation_seconds(90) == 90
    for bad in ("fortnight", "0 days", "-1 hour", 0, -5):
        with pytest.raises(ValueError):
            generation_seconds(bad)


def _fixture(spark):
    """Keys spread over four 1-day generations, one key recurring.

    gen index g0..g3 (day buckets of 2024-03-01..04):
      g0: a, b      g1: c      g2: a, d      g3: e
    """
    base = dt.datetime(2024, 3, 1, 12, 0, 0)
    rows = [
        ("a", base),
        ("b", base + dt.timedelta(hours=1)),
        ("c", base + dt.timedelta(days=1)),
        ("a", base + dt.timedelta(days=2)),
        ("d", base + dt.timedelta(days=2, hours=3)),
        ("e", base + dt.timedelta(days=3)),
    ]
    df = spark.createDataFrame(rows, "key string, ts timestamp")
    g0 = int(base.replace(tzinfo=dt.timezone.utc).timestamp()) // DAY
    return df, g0


def test_build_and_window_probe(spark):
    df, g0 = _fixture(spark)
    gens = build_generation_filters(
        df, "key", "ts", "1 day", capacity=64, error_rate=0.01, num_shards=4
    ).cache()
    rows = gens.collect()
    assert sorted({r.gen for r in rows}) == [g0, g0 + 1, g0 + 2, g0 + 3]
    # per-generation key loads survive the blob merge
    n_by_gen = {}
    for r in rows:
        n_by_gen[r.gen] = n_by_gen.get(r.gen, 0) + r.n
    assert n_by_gen == {g0: 2, g0 + 1: 1, g0 + 2: 2, g0 + 3: 1}

    probe = spark.createDataFrame(
        [(k,) for k in "abcdez"], "key string"
    )

    def hits(as_of, window):
        out = generation_window_probe(
            probe, "key", gens, as_of, window, num_shards=4
        )
        return {r.key for r in out.collect() if r.is_member}

    # window = last 2 generations ending at g3: {a, d (g2), e (g3)}
    got = hits(g0 + 3, 2)
    assert {"a", "d", "e"} <= got  # no false negatives, ever
    assert got <= {"a", "d", "e"}  # tiny load, generous geometry: no FP
    # full-history window sees everything, never the unseen key
    assert hits(g0 + 3, 4) == {"a", "b", "c", "d", "e"}
    # as_of in the past excludes FUTURE generations
    assert hits(g0 + 1, 2) == {"a", "b", "c"}
    gens.unpersist()

    # a pre-1970 timestamp lands in a negative generation, which the
    # (shard, layer) route carries like any other
    old = spark.createDataFrame(
        [("p", dt.datetime(1969, 12, 30, 6, 0, 0))], "key string, ts timestamp"
    )
    neg = build_generation_filters(
        df.unionByName(old), "key", "ts", "1 day", capacity=64,
        error_rate=0.01, num_shards=4,
    ).cache()
    assert min(r.gen for r in neg.collect()) == -2
    probe_p = spark.createDataFrame([("p",), ("a",)], "key string")
    got = {
        r.key: r.is_member
        for r in generation_window_probe(
            probe_p, "key", neg, -1, 2, num_shards=4
        ).collect()
    }
    assert got == {"p": True, "a": False}
    neg.unpersist()


def test_window_membership_monotone(spark):
    """Widening the window can only add members (each generation it
    adds is one more layer of the membership-OR)."""
    df, g0 = _fixture(spark)
    gens = build_generation_filters(
        df, "key", "ts", "1 day", capacity=64, error_rate=0.01, num_shards=2
    ).cache()
    probe = spark.createDataFrame([(k,) for k in "abcde"], "key string")
    prev: set = set()
    for w in (1, 2, 3, 4):
        out = generation_window_probe(probe, "key", gens, g0 + 3, w, num_shards=2)
        cur = {r.key for r in out.collect() if r.is_member}
        assert prev <= cur
        prev = cur
    gens.unpersist()


def test_expire_generations_is_gen_filter(spark):
    df, g0 = _fixture(spark)
    gens = build_generation_filters(
        df, "key", "ts", "1 day", capacity=64, error_rate=0.01, num_shards=2
    )
    kept = expire_generations(gens, g0 + 3, 2)
    assert sorted({r.gen for r in kept.collect()}) == [g0 + 2, g0 + 3]
    # the plan is a plain Filter on gen — partition pruning at scale
    plan = kept._jdf.queryExecution().optimizedPlan().toString()
    assert "gen" in plan and "Filter" in plan.split("\n")[0]
    # recurring key 'a' survives expiry of its OLD generation: its g2
    # sighting keeps it a member; per-key decrement never ran
    probe = df.sparkSession.createDataFrame([("a",), ("b",)], "key string")
    out = generation_window_probe(probe, "key", kept, g0 + 3, 2, num_shards=2)
    got = {r.key: r.is_member for r in out.collect()}
    assert got["a"] is True and got["b"] is False


def test_generation_semi_join_exact_confirm(spark):
    df, g0 = _fixture(spark)
    gens = build_generation_filters(
        df, "key", "ts", "1 day", capacity=64, error_rate=0.01, num_shards=4
    )
    probe = spark.createDataFrame(
        [("a", 1), ("b", 2), ("c", 3), ("d", 4), ("e", 5), ("z", 6)],
        "key string, payload int",
    )
    exact = df.filter(
        "ts >= timestamp'2024-03-03 00:00:00'"
    ).select("key").distinct()
    out = generation_semi_join(
        probe, "key", gens, g0 + 3, 2, exact_df=exact, exact_key="key",
        num_shards=4,
    )
    assert {(r.key, r.payload) for r in out.collect()} == {
        ("a", 1), ("d", 4), ("e", 5)
    }


def test_artifact_roundtrip_prunes_partitions(spark, tmp_path_factory):
    """gen-partitioned artifact: the window read prunes at the
    file-listing level (PartitionFilters on gen), probing the
    restored window matches probing the in-memory build, and expiry
    is a partition-set shrink."""
    from dablooms_spark.operators.generations import (
        read_generation_window,
        write_generation_artifact,
    )

    df, g0 = _fixture(spark)
    gens = build_generation_filters(
        df, "key", "ts", "1 day", capacity=64, error_rate=0.01, num_shards=4
    )
    path = str(tmp_path_factory.mktemp("genart")) + "/gens"
    write_generation_artifact(gens, path)

    win = read_generation_window(spark, path, g0 + 3, 2)
    assert [f.name for f in win.schema.fields] == ["gen", "shard", "blob", "n"]
    sc = spark.sparkContext
    plan = sc._jvm.PythonSQLUtils.explainString(
        win._jdf.queryExecution(), "formatted"
    )
    part_filters = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert part_filters and "gen" in part_filters[0], plan
    assert sorted({r.gen for r in win.collect()}) == [g0 + 2, g0 + 3]

    probe = spark.createDataFrame([(k,) for k in "abcdez"], "key string")
    from_disk = generation_window_probe(probe, "key", win, g0 + 3, 2, num_shards=4)
    in_mem = generation_window_probe(probe, "key", gens, g0 + 3, 2, num_shards=4)
    assert {(r.key, r.is_member) for r in from_disk.collect()} == {
        (r.key, r.is_member) for r in in_mem.collect()
    }

    # append of a NEW generation coexists with pruning
    nxt = spark.createDataFrame(
        [("f", dt.datetime(2024, 3, 5, 8, 0, 0))], "key string, ts timestamp"
    )
    write_generation_artifact(
        build_generation_filters(
            nxt, "key", "ts", "1 day", capacity=64, error_rate=0.01, num_shards=4
        ),
        path,
        mode="append",
    )
    win2 = read_generation_window(spark, path, g0 + 4, 2)
    got = {
        r.key: r.is_member
        for r in generation_window_probe(
            probe.union(spark.createDataFrame([("f",)], "key string")),
            "key", win2, g0 + 4, 2, num_shards=4,
        ).collect()
    }
    assert got["f"] is True and got["e"] is True and got["a"] is False


def test_build_plan_is_blob_only(spark):
    """The generation build's only Exchange moves per-(shard, gen)
    counter pieces, never rows: below it the plan is scan -> project
    -> MapInArrow, sort-free. Forces the exchange before the build
    (small pieces fold on the driver)."""
    df, _ = _fixture(spark)
    spark.conf.set("spark.dablooms.build.driverMergeMaxBytes", "0")
    try:
        gens = build_generation_filters(
            df, "key", "ts", "1 day", capacity=64, error_rate=0.01, num_shards=4
        )
        plan = gens._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.unset("spark.dablooms.build.driverMergeMaxBytes")
    assert plan.count("Exchange") == 1, plan
    below = plan.split("Exchange", 1)[1]
    assert "MapInArrow" in below and "Sort" not in below, plan


def test_bad_window_rejected(spark):
    df, g0 = _fixture(spark)
    gens = build_generation_filters(
        df, "key", "ts", "1 day", capacity=64, error_rate=0.01, num_shards=2
    )
    with pytest.raises(ValueError):
        generation_window_probe(
            spark.createDataFrame([("a",)], "key string"),
            "key", gens, g0, 0, num_shards=2,
        )


def test_window_fp_within_summed_generation_budget(spark):
    """A window probe checks each live generation as its own layer, so
    its FP is bounded by the sum of the per-generation ε: G=4
    generations, each loaded to half its capacity, probed with 20,000
    never-inserted keys, stay within 4·ε on both probe topologies.
    (Counter-summing the window into one filter per shard loads one
    geometry with all four generations' keys and reads FP ≈ 0.15.)"""
    from pyspark.sql import functions as F

    G, cap, eps, per_gen = 4, 8_000, 0.01, 4_000
    base = 1_700_000_000 // DAY * DAY
    rows = spark.range(0, G * per_gen, 1, 4).select(
        F.concat(F.lit("k"), F.col("id")).alias("key"),
        (F.lit(base) + F.floor(F.col("id") / per_gen) * DAY + F.col("id") % 1_000)
        .cast("timestamp").alias("ts"),
    )
    gens = build_generation_filters(
        rows, "key", "ts", "1 day", capacity=cap, error_rate=eps, num_shards=4
    ).cache()
    g_last = base // DAY + G - 1
    assert sorted({r.gen for r in gens.collect()}) == list(range(g_last - 3, g_last + 1))
    absent = spark.range(0, 20_000, 1, 4).select(
        F.concat(F.lit("z"), F.col("id")).alias("key")
    )
    conf = "spark.dablooms.probe.autoBroadcastBytes"
    try:
        for bcast in ("64m", "0"):  # broadcast UDF, then the cogroup
            spark.conf.set(conf, bcast)
            fp = generation_window_probe(
                absent, "key", gens, g_last, G, num_shards=4
            ).filter("is_member").count() / 20_000
            assert fp <= G * eps, (bcast, fp)
            missed = generation_window_probe(
                rows.select("key"), "key", gens, g_last, G, num_shards=4
            ).filter("NOT is_member").count()
            assert missed == 0, (bcast, missed)
    finally:
        spark.conf.unset(conf)
    gens.unpersist()
