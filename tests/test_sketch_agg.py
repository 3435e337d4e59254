"""Spark two-phase sketch aggregation tests: estimates vs exact Spark
answers on driver testdata; the exact heavy-hitter composition."""

import pytest
from pyspark.sql import functions as F

from dablooms_spark.operators.sketch_agg import (
    approx_distinct_by,
    frequent_keys,
    grouped_sketch_agg,
    quantiles_by,
    sketch_agg,
)
from dablooms_spark.sources import load_table


@pytest.fixture(scope="module")
def events(spark, sf_dir):
    return load_table(spark, sf_dir, "events")


def test_global_hll_vs_exact(spark, events):
    h = sketch_agg(events, "user_id", "hll", p=14)
    exact = events.select(F.countDistinct("user_id")).first()[0]
    assert abs(h.estimate() - exact) / exact < 0.05


def test_global_cms_point_queries(spark, events):
    cms = sketch_agg(events, "event_type", "cms", eps=1e-4, delta=0.01)
    exact = dict(
        events.groupBy("event_type").count().rdd.map(tuple).collect()
    )
    for et, cnt in exact.items():
        est = int(cms.query([et.encode()])[0])
        assert est >= cnt
        assert est <= cnt + int(1e-4 * cms.total) + 1


def test_global_tdigest_vs_exact_quantiles(spark, events):
    td = sketch_agg(events, "value", "tdigest", delta=200)
    vals = [r[0] for r in events.select("value").filter("value is not null").collect()]
    import numpy as np

    arr = np.array(vals)
    for q in (0.1, 0.5, 0.9):
        est = float(td.quantile(q)[0])
        rank = float(np.mean(arr <= est))
        assert abs(rank - q) < 0.03


def test_grouped_hll_per_event_type(spark, events):
    got = {
        r["event_type"]: r["approx_distinct"]
        for r in approx_distinct_by(events, "event_type", "user_id", p=14).collect()
    }
    exact = {
        r["event_type"]: r["d"]
        for r in events.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("d"))
        .collect()
    }
    assert set(got) == set(exact)
    for k in exact:
        assert abs(got[k] - exact[k]) / max(exact[k], 1) < 0.05, k


def test_grouped_quantiles_kll(spark, events):
    got = quantiles_by(events, "event_type", "value", [0.5], kind="kll", k=200)
    rows = got.collect()
    assert len(rows) == events.select("event_type").distinct().count()
    exact = {
        r["event_type"]: r["m"]
        for r in events.groupBy("event_type")
        .agg(F.expr("percentile(value, 0.5)").alias("m"))
        .collect()
    }
    for r in rows:
        assert r["value"] == pytest.approx(exact[r["event_type"]], rel=0.15)


def test_frequent_keys_exact(spark, events):
    min_count = 30
    got = frequent_keys(events, "user_id", min_count)
    exact = (
        events.groupBy(F.col("user_id").cast("string").alias("user_id"))
        .agg(F.count("*").alias("cnt"))
        .filter(F.col("cnt") >= min_count)
    )
    g = {(r.user_id, r.cnt) for r in got.collect()}
    e = {(r.user_id, r.cnt) for r in exact.collect()}
    assert g == e, f"missing={e - g} extra={g - e}"


def test_grouped_blob_counts(spark, events):
    blobs = grouped_sketch_agg(events, "event_type", "user_id", "hll", p=10)
    rows = blobs.collect()
    total = sum(r.n for r in rows)
    assert total == events.filter("user_id is not null").count()


def test_sketch_rollup_hierarchy(spark, events):
    """HLL hierarchy from one scan: finest (type, day-bucket), per-type,
    global — estimates agree with exact rollup."""
    from dablooms_spark.operators.sketch_agg import rollup_distinct

    ev = events.withColumn("bucket", (F.col("user_id") % 3).cast("string"))
    got = rollup_distinct(ev, ["event_type", "bucket"], "user_id", p=14)
    rows = {(r.event_type, r.bucket): r.approx_distinct for r in got.collect()}
    exact = {
        (r.event_type, r.bucket): r.d
        for r in ev.rollup("event_type", "bucket")
        .agg(F.countDistinct("user_id").alias("d"))
        .collect()
    }
    assert set(rows) == set(exact)
    for key, v in exact.items():
        assert abs(rows[key] - v) / max(v, 1) < 0.05, key


def test_rollup_distinct_maps_folded_rows_without_exchange(spark, events):
    """Each folded rollup row maps to its estimate in place: at the
    default ceiling the plan above the driver fold's rows holds no
    Exchange and no grouped pandas map, and the rows equal an
    estimate of sketch_rollup's blobs."""
    from dablooms_spark.core.hll import HyperLogLog
    from dablooms_spark.operators.sketch_agg import rollup_distinct, sketch_rollup

    ev = events.withColumn("bucket", (F.col("user_id") % 3).cast("string"))
    cols = ["event_type", "bucket"]
    got = rollup_distinct(ev, cols, "user_id", p=12)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "FlatMapGroupsInPandas" not in plan, plan
    want = {
        (r.event_type, r.bucket): int(round(HyperLogLog.from_bytes(r.blob).estimate()))
        for r in sketch_rollup(ev, cols, "user_id", "hll", p=12).collect()
    }
    rows = [((r.event_type, r.bucket), r.approx_distinct) for r in got.collect()]
    assert len(rows) == len(want) and dict(rows) == want


def test_sketch_rollup_rows_equal_across_merge_ceilings(spark):
    """A rollup's rolled-up levels are NULL-keyed groups, which the
    driver fold keeps as Spark's groupBy does: a 3x5 rollup gives the
    same 19 rows at the default ceiling, '0' and '1b'. A NULL in a
    group column raises, with one group column as with two."""
    from dablooms_spark.operators.sketch_agg import sketch_rollup

    df = spark.range(0, 3_000, 1, 4).select(
        F.concat(F.lit("k"), F.col("id")).alias("key"),
        (F.col("id") % 3).cast("string").alias("a"),
        (F.col("id") % 5).cast("string").alias("b"),
    )
    got = []
    for ceiling in (None, "0", "1b"):
        if ceiling is not None:
            spark.conf.set("spark.dablooms.build.driverMergeMaxBytes", ceiling)
        try:
            rows = sketch_rollup(df, ["a", "b"], "key", "hll", p=10).collect()
        finally:
            spark.conf.unset("spark.dablooms.build.driverMergeMaxBytes")
        got.append(set(map(tuple, rows)))
        assert len(rows) == 19, ceiling
    assert got[0] == got[1] == got[2]
    assert {r[:2] for r in got[0] if r[1] is None} == {
        (None, None), ("0", None), ("1", None), ("2", None)
    }
    assert sum(r[3] for r in got[0] if r[0] is None) == 3_000
    with pytest.raises(Exception, match="NULL value in a group column"):
        sketch_rollup(
            df.withColumn("b", F.when(F.col("key") != "k7", F.col("b"))),
            ["a", "b"], "key", "hll", p=10,
        ).collect()
    with pytest.raises(Exception, match="NULL value in a group column"):
        sketch_rollup(
            df.withColumn("a", F.when(F.col("key") != "k7", F.col("a"))),
            ["a"], "key", "hll", p=10,
        ).collect()


def test_grouped_bloom_filters_per_type(spark, events):
    """Per-group membership filters via the generic sketch agg: one
    counting bloom per event_type over user keys — no FN within the
    group, bounded FP for other groups' keys."""
    from dablooms_spark.core.serde import loads

    blobs = grouped_sketch_agg(
        events.withColumn("key", F.concat_ws(":", "user_id", "event_type")),
        "event_type",
        "key",
        "counting_bloom",
        capacity=1000,
        error_rate=0.01,
    )
    filters = {r.event_type: loads(bytes(r.blob)) for r in blobs.collect()}
    assert set(filters) == {"click", "view", "purchase", "signup", "error"}
    rows = events.select("user_id", "event_type").collect()
    import numpy as np

    for et, filt in filters.items():
        members = [f"{r.user_id}:{r.event_type}".encode() for r in rows if r.event_type == et]
        others = [f"{r.user_id}:zzz-{et}".encode() for r in rows][:2000]
        assert filt.check(members).all(), f"FN in group {et}"
        assert filt.check(others).mean() <= 0.05


def test_frequent_keys_degenerate_threshold_uses_direct_agg(spark):
    """min_count <= num_partitions: the pigeonhole stage admits every
    distinct key, so frequent_keys must fall back to the exact
    one-shuffle aggregate and NEVER materialize candidates (round-1
    collected them to the driver — OOM at scale)."""
    df = (
        spark.range(0, 50_000)
        .select((F.col("id") % 20_000).cast("string").alias("k"))
        .repartition(16)
    )
    # 16 partitions, min_count 8 -> local threshold 0 -> degenerate
    got = frequent_keys(df, "k", min_count=8)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" not in plan and "PythonMapInArrow" not in plan
    exact = (
        df.groupBy("k").agg(F.count("*").alias("cnt")).filter("cnt >= 8")
    )
    assert {(r.k, r.cnt) for r in got.collect()} == {
        (r.k, r.cnt) for r in exact.collect()
    }


def test_frequent_keys_distributed_prune_no_driver_candidates(spark):
    """Sketch path (min_count >> partitions): result exact, and the
    candidate set is pruned executor-side via the broadcast CMS blob —
    there is no candidates.collect() in the operator anymore, so a
    large distinct-key universe is safe."""
    import inspect

    src = inspect.getsource(frequent_keys)
    assert "candidates.collect" not in src

    df = (
        spark.range(0, 60_000)
        .select(
            F.when(F.col("id") % 3 == 0, F.lit("hot"))
            .otherwise(F.col("id").cast("string"))
            .alias("k")
        )
        .repartition(4)
    )
    got = frequent_keys(df, "k", min_count=1000)
    rows = {(r.k, r.cnt) for r in got.collect()}
    assert rows == {("hot", 20_000)}


def test_sketch_udaf_surface_and_merge_reagg(spark, events):
    """Literal groupBy().agg() UDAF surface: per-group HLL blobs match
    exact distincts; merging per-group blobs via merge_sketch_udaf
    equals a global build (associativity, no row rescans); SQL
    registration works end-to-end."""
    from dablooms_spark.operators.udafs import (
        hll_estimate,
        merge_sketch_udaf,
        register_sketch_udafs,
        sketch_udaf,
    )

    hll = sketch_udaf("hll", p=14)
    per_type = events.groupBy("event_type").agg(hll(F.col("user_id")).alias("blob"))
    got = {
        r.event_type: r.est
        for r in per_type.select(
            "event_type", hll_estimate(F.col("blob")).alias("est")
        ).collect()
    }
    exact = {
        r.event_type: r.d
        for r in events.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("d"))
        .collect()
    }
    for k, d in exact.items():
        assert abs(got[k] - d) / max(d, 1) < 0.05, k

    # re-aggregate blobs -> global estimate == merge associativity
    merged = per_type.agg(merge_sketch_udaf()(F.col("blob")).alias("blob"))
    g_est = merged.select(hll_estimate(F.col("blob")).alias("e")).first().e
    g_exact = events.select(F.countDistinct("user_id")).first()[0]
    assert abs(g_est - g_exact) / g_exact < 0.05

    # SQL surface
    register_sketch_udafs(spark)
    events.createOrReplaceTempView("ev_udaf_t")
    row = spark.sql(
        """SELECT dablooms_hll_estimate(dablooms_merge_agg(blob)) AS est
           FROM (SELECT event_type, dablooms_hll_agg(user_id) AS blob
                 FROM ev_udaf_t GROUP BY event_type)"""
    ).first()
    assert abs(row.est - g_exact) / g_exact < 0.05


def test_sketch_udaf_quantiles_and_bloom(spark, events):
    from dablooms_spark.operators.udafs import (
        bloom_check,
        quantile_udf,
        sketch_udaf,
    )

    td = sketch_udaf("tdigest", delta=200)
    med = (
        events.groupBy("event_type")
        .agg(td(F.col("value")).alias("blob"))
        .select("event_type", quantile_udf(0.5)(F.col("blob")).alias("m"))
    )
    exact = {
        r.event_type: r.m
        for r in events.groupBy("event_type")
        .agg(F.expr("percentile(value, 0.5)").alias("m"))
        .collect()
    }
    for r in med.collect():
        assert r.m == pytest.approx(exact[r.event_type], rel=0.1), r.event_type

    bloom = sketch_udaf("counting_bloom", capacity=10_000, error_rate=0.01)
    blobs = events.groupBy("event_type").agg(
        bloom(F.col("user_id")).alias("blob")
    )
    probe = blobs.select(
        "event_type", bloom_check(F.col("blob"), F.lit("1")).alias("hit")
    )
    # user 1 exists in events: groups containing them must report True
    users_by_type = {
        r.event_type
        for r in events.filter("user_id = 1").select("event_type").distinct().collect()
    }
    got = {r.event_type: r.hit for r in probe.collect()}
    assert all(got[t] for t in users_by_type)


def test_approx_join_size_brackets_exact(spark, events):
    """CMS inner product: never underestimates the true join size and
    stays within the published eps*|A|*|B| bound."""
    from dablooms_spark.operators.sketch_agg import approx_join_size

    a = events.filter("event_type = 'click'")
    b = events.filter("event_type = 'view'")
    exact = a.select(F.col("user_id").alias("k")).join(
        b.select(F.col("user_id").alias("k")), "k"
    ).count()
    est = approx_join_size(a, "user_id", b, "user_id", eps=1e-4, delta=0.01)
    na, nb = a.count(), b.count()
    assert est >= exact
    assert est <= exact + 1e-4 * na * nb + 1


def test_theta_kmv_distributed_set_algebra(spark, events):
    """From-scratch KMV theta through the two-phase distributed agg:
    estimates vs exact intersection/difference without any join."""
    from dablooms_spark.operators.sketch_agg import sketch_agg

    clicks = events.filter("event_type = 'click'")
    views = events.filter("event_type = 'view'")
    a = sketch_agg(clicks, "user_id", "theta", k=2048)
    b = sketch_agg(views, "user_id", "theta", k=2048)
    ca = {r.user_id for r in clicks.select("user_id").distinct().collect()}
    vb = {r.user_id for r in views.select("user_id").distinct().collect()}
    assert abs(a.estimate() - len(ca)) / max(len(ca), 1) < 0.1
    both = len(ca & vb)
    assert abs(a.intersect_estimate(b) - both) / max(both, 1) < 0.2


def test_agg_sketch_by_auto_routes_and_warns(spark, events):
    """VERDICT r2 item 6: the UDAF surface gets a size guard — small
    inputs take the ergonomic grouped-agg UDAF; inputs over the byte
    budget WARN and reroute to grouped_sketch_agg (blob-only shuffle).
    Both engines produce bit-identical HLL blobs (register-max is
    merge-order invariant)."""
    import warnings as _w

    import pytest

    from dablooms_spark.operators.udafs import agg_sketch_by

    # small input: auto -> udaf path, no warning
    with _w.catch_warnings():
        _w.simplefilter("error")  # any warning would raise
        small = agg_sketch_by(events, "event_type", "user_id", "hll", p=12)
    plan = small._jdf.queryExecution().executedPlan().toString()
    assert "AggregateInPandas" in plan or "AggregatePython" in plan

    # zero budget: auto -> warn + reroute to partials
    with pytest.warns(UserWarning, match="rerouting to grouped_sketch_agg"):
        routed = agg_sketch_by(
            events, "event_type", "user_id", "hll", udaf_bytes_limit=0, p=12
        )
    got_small = {r.event_type: bytes(r.blob) for r in small.collect()}
    got_routed = {r.event_type: bytes(r.blob) for r in routed.collect()}
    assert got_small == got_routed

    # explicit engines agree too
    udaf = agg_sketch_by(events, "event_type", "user_id", "hll", engine="udaf", p=12)
    part = agg_sketch_by(events, "event_type", "user_id", "hll", engine="partial", p=12)
    assert {r.event_type: bytes(r.blob) for r in udaf.collect()} == {
        r.event_type: bytes(r.blob) for r in part.collect()
    }


def test_global_counting_bloom_has_no_false_negatives(spark, events):
    """The merged filter hashes with the seed its partials were built
    with (a bloom blob does not store its seed)."""
    users = [
        str(r[0]).encode()
        for r in events.select("user_id").filter("user_id is not null").collect()
    ]
    for extra in ({}, {"seed": 7}):
        filt = sketch_agg(
            events.repartition(6), "user_id", "counting_bloom",
            capacity=2_000, error_rate=0.01, **extra,
        )
        assert filt.check(users).all(), extra
        assert filt.count == len(users)


def _local_partials(df, col, kind, params):
    """One partial sketch per partition, built as phase 1 builds it."""
    import pyarrow as pa

    from dablooms_spark.functions.arrow_utils import arrow_byte_view
    from dablooms_spark.operators.sketch_agg import _KINDS

    out = []
    for part in df.select(F.col(col).cast("string")).rdd.glom().collect():
        vals = [r[0] for r in part if r[0] is not None]
        if vals:
            sk = _KINDS[kind][0](**params)
            sk.add_buffer(*arrow_byte_view(pa.array(vals, pa.string())))
            out.append(sk)
    return out


def test_global_sketch_agg_at_12_partitions_equals_local_fold(spark, events):
    """12 partials — more than one fold group of the old merge tree —
    fold under one key to the bytes of a local fold of the partials,
    on the driver and through the exchange ('0')."""
    import functools

    d = events.repartition(12).persist()
    cases = {
        "hll": {"p": 12},
        "cms": {"eps": 1e-3, "delta": 0.01},
        "theta": {"k": 256},
        "counting_bloom": {"capacity": 2_000, "error_rate": 0.01},
    }
    try:
        want = {
            kind: functools.reduce(
                lambda a, b: a.merge(b), _local_partials(d, "user_id", kind, p)
            ).to_bytes()
            for kind, p in cases.items()
        }
        for ceiling in (None, "0"):
            if ceiling is not None:
                spark.conf.set("spark.dablooms.build.driverMergeMaxBytes", ceiling)
            try:
                for kind, p in cases.items():
                    got = sketch_agg(d, "user_id", kind, **p).to_bytes()
                    assert got == want[kind], (kind, ceiling)
            finally:
                spark.conf.unset("spark.dablooms.build.driverMergeMaxBytes")
    finally:
        d.unpersist()


def test_global_order_dependent_sketches_at_12_partitions(spark, events):
    """KLL, t-digest and MG merges depend on fold order; at 12 partials
    they keep the bounds the other tests hold them to."""
    import numpy as np

    d = events.repartition(12)
    arr = np.array(
        [r[0] for r in d.select("value").filter("value is not null").collect()]
    )
    td = sketch_agg(d, "value", "tdigest", delta=200)
    for q in (0.1, 0.5, 0.9):
        rank = float(np.mean(arr <= float(td.quantile(q)[0])))
        assert abs(rank - q) < 0.03, q
    kll = sketch_agg(d, "value", "kll", k=200)
    assert float(kll.quantile([0.5])[0]) == pytest.approx(np.median(arr), rel=0.15)

    truth = {
        str(r["user_id"]).encode(): r["cnt"]
        for r in d.groupBy("user_id").agg(F.count("*").alias("cnt")).collect()
    }
    exact = sketch_agg(d, "user_id", "mg", k=8192)
    assert {k: lo for k, lo, hi in exact.heavy_hitters(1)} == truth
    small = sketch_agg(d, "user_id", "mg", k=8)
    for key, lo, hi in small.heavy_hitters(1):
        assert lo <= truth[key] <= hi


def test_global_sketch_agg_above_ceiling_folds_at_most_8_per_task(
    spark, events, monkeypatch
):
    """Above the ceiling ('1b') 40 partials go through one exchange in
    groups of at most 8 input partitions, and the folded groups give
    the bytes of a local fold of the partials."""
    import functools

    from dablooms_spark.operators import merge

    exchange, groups = merge._exchange, []

    def spy(partials, keys, fold, schema):
        counts = partials.groupBy(*keys).count().collect()
        groups.append(sorted(r["count"] for r in counts))
        return exchange(partials, keys, fold, schema)

    monkeypatch.setattr(merge, "_exchange", spy)
    d = events.filter("user_id is not null").repartition(40).persist()
    cases = {
        "hll": {"p": 12},
        "cms": {"eps": 1e-3, "delta": 0.01},
        "theta": {"k": 256},
        "counting_bloom": {"capacity": 2_000, "error_rate": 0.01},
    }
    spark.conf.set("spark.dablooms.build.driverMergeMaxBytes", "1b")
    try:
        for kind, p in cases.items():
            want = functools.reduce(
                lambda a, b: a.merge(b), _local_partials(d, "user_id", kind, p)
            ).to_bytes()
            groups.clear()
            assert sketch_agg(d, "user_id", kind, **p).to_bytes() == want, kind
            assert groups == [[8, 8, 8, 8, 8]], kind
    finally:
        spark.conf.unset("spark.dablooms.build.driverMergeMaxBytes")
        d.unpersist()
