"""Checkpoint/restore tests — the reference's persistence suite
reimagined for Spark (SURVEY.md §3.3/§4.1: flush→reopen round trip,
seqnum commit protocol, torn-write detection) plus resumability."""

import json
import os

import pytest
from pyspark.sql import functions as F

from dablooms_spark.core import CountingBloom
from dablooms_spark.operators import build_counting_bloom, bloom_probe_column
from dablooms_spark.operators.bloom_build import counting_bloom_partials
from dablooms_spark.sources import load_table
from dablooms_spark.sources.checkpoint import CheckpointManager, checkpoint_sketch


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents")


def test_flush_reopen_roundtrip(spark, docs, tmp_path_factory):
    """Mirror of the reference's remove/reopen persistence tests:
    build → checkpoint → restore → identical filter, same verdicts."""
    path = str(tmp_path_factory.mktemp("ckpt"))
    filt = build_counting_bloom(docs, "text", capacity=600, error_rate=0.05)
    seq = checkpoint_sketch(
        filt, spark, path, run_id="r1",
        lineage={"input": "documents", "key": "text"},
        metrics={"fp_target": 0.05},
    )
    assert seq == 1
    mgr = CheckpointManager(path)
    restored = mgr.restore_sketch(spark)
    assert restored.to_bytes() == filt.to_bytes()
    probed = bloom_probe_column(docs, "text", restored)
    assert probed.filter("NOT is_member").count() == 0


def test_partial_blobs_checkpoint_and_merge(spark, docs, tmp_path_factory):
    """Checkpoint stage-1 partials, restore, tree-merge — equals the
    direct build bit-for-bit (per-partition lineage recorded)."""
    path = str(tmp_path_factory.mktemp("ckpt"))
    partials = counting_bloom_partials(docs, "text", 600, 0.05)
    mgr = CheckpointManager(path)
    seq = mgr.commit(partials, run_id="r2", stage="partials",
                     lineage={"input": "documents"})
    m = mgr.manifest(seq)
    assert m["total_rows"] == docs.count()
    assert m["num_partitions"] >= 1
    assert all("rows" in p and "shard" in p for p in m["partitions"])
    restored = mgr.restore_sketch(spark, m)
    direct = build_counting_bloom(docs, "text", 600, 0.05)
    assert restored.to_bytes() == direct.to_bytes()


def test_resume_from_checkpoint(spark, docs, tmp_path_factory):
    """Associativity gives resumability: restore(first half) merge
    build(second half) == build(all), bit-identical."""
    path = str(tmp_path_factory.mktemp("ckpt"))
    first = docs.filter("doc_id < 250")
    second = docs.filter("doc_id >= 250")
    f1 = build_counting_bloom(first, "text", 600, 0.05)
    checkpoint_sketch(f1, spark, path, run_id="half")
    mgr = CheckpointManager(path)
    resumed = mgr.restore_sketch(spark).merge(
        build_counting_bloom(second, "text", 600, 0.05)
    )
    full = build_counting_bloom(docs, "text", 600, 0.05)
    assert resumed.to_bytes() == full.to_bytes()


def test_torn_write_ignored(spark, docs, tmp_path_factory):
    """Blobs without a manifest (crash between blob write and manifest
    rename) are invisible to restore — the dirty-seqnum semantics."""
    path = str(tmp_path_factory.mktemp("ckpt"))
    filt = build_counting_bloom(docs, "text", 600, 0.05)
    checkpoint_sketch(filt, spark, path, run_id="good")
    mgr = CheckpointManager(path)
    # simulate a torn write: blob dir exists, manifest missing
    orphan_dir = os.path.join(path, "blobs", "seq=99")
    spark.createDataFrame(
        [(0, bytearray(b"garbage"), 1)], "shard long, blob binary, n long"
    ).write.parquet(orphan_dir)
    latest = mgr.latest()
    assert latest["run_id"] == "good"
    assert mgr.restore_sketch(spark).to_bytes() == filt.to_bytes()


def test_seqnum_monotone_and_run_filter(spark, docs, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("ckpt"))
    f = build_counting_bloom(docs.limit(100), "text", 200, 0.05)
    s1 = checkpoint_sketch(f, spark, path, run_id="a")
    s2 = checkpoint_sketch(f, spark, path, run_id="b")
    s3 = checkpoint_sketch(f, spark, path, run_id="a")
    assert (s1, s2, s3) == (1, 2, 3)
    mgr = CheckpointManager(path)
    assert mgr.latest()["seqnum"] == 3
    assert mgr.latest(run_id="b")["seqnum"] == 2


def test_checkpoint_layer_rows_manifest_roundtrip(spark, tmp_path):
    """CheckpointManager accepts the layer-row artifact: manifest
    carries per-layer metrics, restore reassembles the filter
    bit-identically to a direct driver build."""
    from pyspark.sql import functions as F

    from dablooms_spark.operators import build_scaling_bloom
    from dablooms_spark.operators.bloom_build import scaling_bloom_fixed_partials
    from dablooms_spark.sources.checkpoint import CheckpointManager

    df = spark.range(8000).select(
        F.concat(F.lit("k"), F.col("id")).alias("key"), F.col("id")
    )
    layers = scaling_bloom_fixed_partials(
        df, "key", "id", capacity=2000, error_rate=0.05
    )
    mgr = CheckpointManager(str(tmp_path / "ckpt"))
    seq = mgr.commit(layers, run_id="r1", stage="layers",
                     lineage={"input": "range(8000)"})
    m = mgr.manifest(seq)
    assert m["total_rows"] == 8000
    assert m["num_partitions"] == 8000 // 1999 + 1  # one entry per layer
    restored = mgr.restore_sketch(spark, m)
    direct = build_scaling_bloom(
        df, "key", "id", capacity=2000, error_rate=0.05, id_layout="dense"
    )
    assert restored.to_bytes() == direct.to_bytes()
