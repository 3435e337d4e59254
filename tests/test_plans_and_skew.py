"""Physical-plan quality and skew-handling tests (SURVEY.md §4.2):
the scan must prune columns (never read the wide html BINARY for a
url-only build) and push filters down; salted aggregation must match
exact results; streaming incremental build must converge to the batch
filter's verdicts."""

import os

import pytest
from pyspark.sql import functions as F

from dablooms_spark.operators.skew import salted_group_counts, salted_repartition
from dablooms_spark.sources import load_table, synth_webpages


@pytest.fixture(scope="module")
def wp_parquet(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("wp")) + "/webpages"
    synth_webpages(spark, n_rows=5_000, partitions=4).write.parquet(path)
    return path


def _formatted_plan(df) -> str:
    sc = df.sparkSession.sparkContext
    return sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_column_pruning_excludes_html(spark, wp_parquet):
    """A url-only pipeline must never read the html BINARY column —
    the scan's ReadSchema is the contract."""
    wp = spark.read.parquet(wp_parquet)
    q = wp.filter(F.col("lang") == "en").select("url")
    plan = _formatted_plan(q)
    scan = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert scan, plan
    assert "html" not in scan[0], scan[0]
    assert "url" in scan[0]


def test_filter_pushdown_reaches_scan(spark, wp_parquet):
    wp = spark.read.parquet(wp_parquet)
    q = wp.filter(F.col("lang") == "en").select("url")
    plan = _formatted_plan(q)
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert pushed and "lang" in pushed[0], plan


def test_bloom_build_plan_has_no_text_shuffle(spark, wp_parquet):
    """The counting build must not shuffle rows at all: stage 1 is
    mapInArrow over the scan; only the chunk/blob exchange follows the
    python stage. Assert no Exchange appears below ArrowEvalPython-
    style nodes reading the text."""
    from dablooms_spark.operators.bloom_build import counting_bloom_partials

    wp = spark.read.parquet(wp_parquet)
    partials = counting_bloom_partials(wp, "text", 10_000, 0.01)
    plan = _formatted_plan(partials)
    # the partial-build plan: scan -> project/filter -> python map.
    assert "Exchange" not in plan, plan
    scan = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert scan and "html" not in scan[0]


def test_salted_counts_match_exact(spark, wp_parquet):
    wp = spark.read.parquet(wp_parquet).withColumn(
        "host", F.regexp_extract("url", r"https://([^/]+)/", 1)
    )
    exact = {
        r.host: r.cnt
        for r in wp.groupBy("host").agg(F.count("*").alias("cnt")).collect()
    }
    salted = {r.host: r.cnt for r in salted_group_counts(wp, "host").collect()}
    assert salted == exact


def test_salted_repartition_spreads_hot_key(spark, wp_parquet):
    wp = spark.read.parquet(wp_parquet).withColumn(
        "host", F.regexp_extract("url", r"https://([^/]+)/", 1)
    )
    hot = wp.groupBy("host").count().orderBy(F.desc("count")).first().host
    hot_rows = wp.filter(F.col("host") == hot)
    plain = hot_rows.repartition(8, "host")
    spread = salted_repartition(hot_rows, "host", 8, salt_buckets=8)
    plain_parts = plain.rdd.glom().map(len).collect()
    spread_parts = spread.rdd.glom().map(len).collect()
    assert max(plain_parts) == sum(plain_parts)  # all rows in one task
    assert max(spread_parts) < sum(spread_parts) * 0.6  # spread across tasks


def test_streaming_incremental_bloom(spark, tmp_path_factory):
    """availableNow micro-batch run over a file stream: the stateful
    incremental build must produce filters with zero false negatives
    over everything streamed, across multiple input files (batches)."""
    from dablooms_spark.core.serde import loads
    from dablooms_spark.streaming import streaming_bloom_update

    src = str(tmp_path_factory.mktemp("stream_src")) + "/in"
    events = load_table(spark, "/root/testdata/sf0.001", "events")
    # two appends → multiple files → multiple micro-batches with
    # maxFilesPerTrigger=1 under availableNow
    events.filter("event_id % 2 = 0").coalesce(1).write.mode("append").parquet(src)
    events.filter("event_id % 2 = 1").coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .withColumn("key", F.concat_ws(":", "user_id", "event_type"))
    )
    out = streaming_bloom_update(
        stream, "key", "event_id", capacity=500, error_rate=0.05, num_shards=4
    )
    ckpt = str(tmp_path_factory.mktemp("stream_ckpt"))
    q = (
        out.writeStream.format("memory")
        .queryName("bloom_updates")
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    updates = spark.sql("select * from bloom_updates").collect()
    assert updates, "no streaming updates emitted"
    # take the LAST update per shard (outputMode=update emits per batch)
    latest = {}
    for r in updates:
        latest[r.shard] = r  # rows arrive in batch order; later wins
    filters = [loads(bytes(r.blob)) for r in latest.values()]
    total = sum(f.count for f in filters)
    assert total == events.count()
    # zero false negatives across the union of shard filters
    keys = [
        (str(r.user_id) + ":" + r.event_type).encode()
        for r in events.collect()
    ]
    import numpy as np

    verdict = np.zeros(len(keys), dtype=bool)
    for f in filters:
        verdict |= f.check(keys)
    assert verdict.all(), "false negative in streamed filter"

def test_webtable_partition_pruning(spark, tmp_path_factory):
    """Iceberg-style layout: a lang filter must prune partitions at
    the file-listing level (PartitionFilters in the scan node)."""
    from dablooms_spark.sources.webtable import read_webpages, write_webpages

    path = str(tmp_path_factory.mktemp("webtable")) + "/webpages"
    wp = synth_webpages(spark, n_rows=3_000, partitions=4)
    write_webpages(wp, path)

    en = read_webpages(spark, path, langs=["en"])
    plan = _formatted_plan(en.select("url"))
    part_filters = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert part_filters and "lang" in part_filters[0], plan
    # pruned scan really reads only en rows
    assert en.count() == wp.filter("lang = 'en'").count()
    # and never the html column for a url-only projection
    scan = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert scan and "html" not in scan[0]


def test_streaming_windowed_hll_with_watermark(spark, tmp_path_factory):
    """Event-time windowed HLL distinct: estimates near exact per
    window, and a window FINALIZES (and its state evicts) once the
    watermark passes its end."""
    from dablooms_spark.streaming.windowed import windowed_distinct_stream

    src = str(tmp_path_factory.mktemp("wstream_src")) + "/in"
    events = load_table(spark, "/root/testdata/sf0.001", "events")
    # batch 1: early window; batch 2: events far enough ahead that the
    # watermark passes batch 1's windows
    lo = events.filter("ts < timestamp'2024-01-02'")
    hi = events.filter("ts >= timestamp'2024-01-05'")
    assert lo.count() > 0 and hi.count() > 0
    lo.coalesce(1).write.mode("append").parquet(src)
    hi.coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    out = windowed_distinct_stream(
        stream, "ts", "user_id", window="6 hours", watermark="1 hour", p=12
    )
    ckpt = str(tmp_path_factory.mktemp("wstream_ckpt"))
    q = (
        out.writeStream.format("memory")
        .queryName("win_hll")
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    rows = spark.sql("select * from win_hll").collect()
    assert rows, "no windowed updates emitted"
    finals = {r.win_start: r.approx_distinct for r in rows if r.final}
    assert finals, "watermark never finalized a window"
    exact = {
        r.w["start"]: r.d
        for r in events.select(F.window("ts", "6 hours").alias("w"), "user_id")
        .groupBy("w")
        .agg(F.countDistinct("user_id").alias("d"))
        .collect()
    }
    for ws, est in finals.items():
        assert abs(est - exact[ws]) / max(exact[ws], 1) < 0.1, ws


def test_fixed_scaling_build_plan_shape(spark, wp_parquet):
    """The fixed-boundary scaling build's plan IS its scaling story:
    the piece stage runs directly over the scan with NO row exchange,
    no sort, and no html read; the only Exchange in the whole job is
    the blob-piece groupBy (hashpartitioning on the layer key)."""
    from dablooms_spark.operators.bloom_build import scaling_bloom_fixed_partials

    wp = spark.read.parquet(wp_parquet)
    spark.conf.set("spark.dablooms.build.driverMergeMaxBytes", "0")
    try:
        layers = scaling_bloom_fixed_partials(
            wp, "text", "row_id", capacity=5_000, error_rate=0.05
        )
    finally:
        spark.conf.unset("spark.dablooms.build.driverMergeMaxBytes")
    plan = _formatted_plan(layers)
    lines = plan.splitlines()
    exchanges = [l for l in lines if l.startswith("(") and "Exchange" in l]
    assert len(exchanges) == 1, plan  # only the piece groupBy
    # the one Exchange (and applyInPandas's group-sort above it) moves
    # PIECE rows keyed by layer — never corpus text rows
    for node in ("Exchange", "Sort"):
        blocks = [
            i for i, l in enumerate(lines)
            if l.startswith("(") and f") {node}" in l
        ]
        for i in blocks:
            seg = "\n".join(lines[i : i + 4])
            assert "layer" in seg and "text" not in seg, seg
    scan = [l for l in lines if "ReadSchema" in l]
    assert scan and "html" not in scan[0]


def test_bucketed_join_no_exchange(spark, tmp_path_factory):
    """Co-located join layout: two tables bucketed+sorted on the join
    key merge-join with ZERO Exchange in the plan — the pre-shuffled
    topology big recurring joins should be stored in."""
    from dablooms_spark.sources.webtable import write_bucketed

    loc = str(tmp_path_factory.mktemp("bucketdb"))
    spark.sql(f"CREATE DATABASE IF NOT EXISTS bucketdb LOCATION '{loc}'")
    try:
        a = spark.range(10_000).select(
            F.col("id").alias("key"), (F.col("id") * 2).alias("va")
        )
        b = spark.range(5_000).select(
            F.col("id").alias("key"), (F.col("id") * 3).alias("vb")
        )
        write_bucketed(a, "bucketdb.ta", "key", buckets=8)
        write_bucketed(b, "bucketdb.tb", "key", buckets=8)
        ta, tb = spark.table("bucketdb.ta"), spark.table("bucketdb.tb")
        # disable broadcast so the join must pick a shuffle-or-bucketed
        # merge strategy
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        # bucketed-scan output ordering is opt-in since SPARK-28632;
        # with it on, single-file sorted buckets (write_bucketed
        # repartitions on the bucket hash) eliminate the read-side
        # Sort as well as the Exchange
        spark.conf.set(
            "spark.sql.legacy.bucketedTableScan.outputOrdering", "true"
        )
        try:
            joined = ta.join(tb, "key")
            plan = _formatted_plan(joined)
            import re as _re

            assert "SortMergeJoin" in plan, plan
            assert "Exchange" not in plan, plan
            # a re-sort would appear as a standalone "Sort (N)" node
            # (careful: "+- Sort" is a substring of "+- SortMergeJoin")
            assert not _re.search(r"\bSort \(\d+\)", plan), plan
            assert joined.count() == 5_000
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
            spark.conf.set(
                "spark.sql.legacy.bucketedTableScan.outputOrdering", "false"
            )
    finally:
        spark.sql("DROP DATABASE IF EXISTS bucketdb CASCADE")
