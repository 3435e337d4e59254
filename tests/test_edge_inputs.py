"""Empty/degenerate inputs through every round-3 operator — the
edges a long-running pipeline hits on quiet days (empty batch, empty
benchmark, probe before any build)."""

from pyspark.sql import functions as F


def _empty_kv(spark):
    return spark.createDataFrame([], "k string, id long")


def test_sharded_scaling_empty_build_and_probe(spark):
    from dablooms_spark.operators.sharded_scaling import (
        build_sharded_scaling_layers,
        sharded_scaling_probe,
        sharded_scaling_remove,
    )

    layers = build_sharded_scaling_layers(
        _empty_kv(spark), "k", "id", capacity=100, error_rate=0.05, num_shards=4
    )
    assert layers.count() == 0
    probe = spark.createDataFrame([("a",), ("b",)], "k string")
    res = sharded_scaling_probe(probe, "k", layers, num_shards=4)
    assert res.filter("is_member").count() == 0
    assert res.count() == 2
    # removing from an empty filter yields an empty filter
    dels = spark.createDataFrame([("a", 1)], "k string, id long")
    after = sharded_scaling_remove(
        layers, dels, "k", "id", capacity=100, error_rate=0.05, num_shards=4
    )
    assert after.count() == 0


def test_sharded_counting_empty_deletions(spark):
    from dablooms_spark.operators.sharded import (
        build_sharded_counting_bloom,
        sharded_bloom_probe,
        sharded_bloom_remove,
    )

    rows = spark.createDataFrame([("a",), ("b",)], "k string")
    blobs = build_sharded_counting_bloom(rows, "k", 100, 0.05, num_shards=4)
    after = sharded_bloom_remove(
        blobs, spark.createDataFrame([], "k string"), "k", 100, 0.05,
        num_shards=4,
    )
    got = sharded_bloom_probe(rows, "k", after, num_shards=4)
    assert got.filter("NOT is_member").count() == 0


def test_incremental_ingest_empty_batch(spark, tmp_path):
    from dablooms_spark.operators.ingest import incremental_ingest, restore_filter

    path = str(tmp_path / "ck")
    b1 = spark.createDataFrame([("a",), ("b",)], "key string")
    incremental_ingest(b1, "key", path, "run", 100, 0.05)
    empty = spark.createDataFrame([], "key string")
    new_rows, seq = incremental_ingest(empty, "key", path, "run", 100, 0.05)
    assert new_rows.count() == 0
    assert seq == 2
    filt, _ = restore_filter(spark, path, "run")
    assert filt.count == 2  # prior keys survive an empty round


def test_incremental_ingest_empty_first_batch(spark, tmp_path):
    """An empty first batch commits one empty-filter row, which the
    next batch merges into like any prior."""
    from dablooms_spark.operators.ingest import incremental_ingest, restore_filter

    path = str(tmp_path / "ck")
    empty = spark.createDataFrame([], "key string")
    new_rows, seq = incremental_ingest(empty, "key", path, "run", 100, 0.05)
    assert new_rows.count() == 0 and seq == 1
    filt, _ = restore_filter(spark, path, "run")
    assert filt.count == 0 and not filt.counters.any()
    b = spark.createDataFrame([("a",), ("b",)], "key string")
    new_rows, seq = incremental_ingest(b, "key", path, "run", 100, 0.05)
    assert new_rows.count() == 2 and seq == 2
    assert restore_filter(spark, path, "run")[0].count == 2


def test_incremental_ingest_scaling_empty_batch(spark, tmp_path):
    from dablooms_spark.operators.ingest import (
        incremental_ingest_scaling,
        restore_filter,
    )

    path = str(tmp_path / "ck")
    b1 = spark.createDataFrame([("a", 0), ("b", 1)], "key string, id long")
    incremental_ingest_scaling(b1, "key", "id", path, "run", 100, 0.05)
    empty = spark.createDataFrame([], "key string, id long")
    new_rows, seq = incremental_ingest_scaling(
        empty, "key", "id", path, "run", 100, 0.05
    )
    assert new_rows.count() == 0
    assert seq == 2
    filt, _ = restore_filter(spark, path, "run")
    assert filt.count == 2


def test_contamination_empty_benchmark(spark):
    from dablooms_spark.operators.sampling import (
        contamination_pairs,
        decontaminate,
    )

    docs = spark.createDataFrame(
        [(1, "some training text here for the corpus")], ["doc_id", "text"]
    )
    empty = spark.createDataFrame([], "doc_id long, text string")
    assert contamination_pairs(docs, empty).count() == 0
    assert decontaminate(docs, empty).count() == 1


def test_split_empty_frame(spark):
    from dablooms_spark.operators.sampling import deterministic_split

    empty = spark.createDataFrame([], "key string")
    out = deterministic_split(empty, "key", {"train": 0.9, "test": 0.1})
    assert out.count() == 0
    assert "split" in out.columns


def test_repetition_and_url_empty_strings(spark):
    from dablooms_spark.operators.textops import with_repetition_scores
    from dablooms_spark.operators.urlops import with_url_parts

    df = spark.createDataFrame([(0, "")], ["doc_id", "text"])
    r = with_repetition_scores(df).first()
    # split('', ' ') yields [''] — one empty token, no bigrams
    assert r["n_tokens"] == 1 and r["top_bigram_count"] == 0
    u = spark.createDataFrame([("",)], ["url"])
    p = with_url_parts(u).first()
    assert p["canonical_url"] == "" and p["host"] == ""
