"""Incremental batch ingest over the checkpoint protocol."""

import json
import os

import pytest
from pyspark.sql import functions as F

from dablooms_spark.operators.bloom_build import build_counting_bloom
from dablooms_spark.operators.ingest import incremental_ingest, restore_filter


def _batches(spark):
    """Three overlapping key batches: b2 re-sends half of b1, b3
    re-sends keys from both."""
    b1 = spark.range(0, 100).select(F.concat(F.lit("k"), F.col("id")).alias("key"))
    b2 = spark.range(50, 150).select(F.concat(F.lit("k"), F.col("id")).alias("key"))
    b3 = spark.range(0, 200, 4).select(F.concat(F.lit("k"), F.col("id")).alias("key"))
    return b1, b2, b3


def test_incremental_ingest_split_and_merge(spark, tmp_path):
    path = str(tmp_path / "ck")
    b1, b2, b3 = _batches(spark)

    n1, s1 = incremental_ingest(b1, "key", path, "run", 1000, 0.01)
    assert s1 == 1
    assert n1.count() == 100  # fresh path: everything is new

    n2, s2 = incremental_ingest(
        b2, "key", path, "run", 1000, 0.01, exact_seen_df=b1, exact_key="key"
    )
    assert s2 == 2
    new2 = {r["key"] for r in n2.collect()}
    assert new2 == {f"k{i}" for i in range(100, 150)}

    seen = b1.unionByName(b2)
    n3, s3 = incremental_ingest(
        b3, "key", path, "run", 1000, 0.01, exact_seen_df=seen, exact_key="key"
    )
    new3 = {r["key"] for r in n3.collect()}
    assert new3 == {f"k{i}" for i in range(0, 200, 4) if i >= 150}

    # committed filter is bit-identical to one build over all batches
    filt, manifest = restore_filter(spark, path, "run")
    union_all = b1.unionByName(b2).unionByName(b3)
    oneshot = build_counting_bloom(union_all, "key", 1000, 0.01)
    assert filt.to_bytes() == oneshot.to_bytes()
    # lineage chain: 3 -> 2 -> 1 -> None
    assert manifest["lineage"]["parent_seqnum"] == 2


def test_incremental_ingest_no_false_negatives_without_exact(spark, tmp_path):
    """Approximate mode: every truly-new key either surfaces in
    new_rows or is an FP casualty — but no previously-seen key is ever
    reported new."""
    path = str(tmp_path / "ck")
    b1, b2, _ = _batches(spark)
    incremental_ingest(b1, "key", path, "run", 1000, 0.01)
    n2, _ = incremental_ingest(b2, "key", path, "run", 1000, 0.01)
    reported_new = {r["key"] for r in n2.collect()}
    truly_seen = {f"k{i}" for i in range(50, 100)}
    assert not (reported_new & truly_seen)


def test_incremental_ingest_custom_seed(spark, tmp_path):
    """Regression: the probe must hash with the SAME seed the filter
    was built with — a dropped seed makes membership answers random
    and previously-seen keys leak into new_rows."""
    path = str(tmp_path / "ck")
    b1, b2, _ = _batches(spark)
    incremental_ingest(b1, "key", path, "run", 1000, 0.01, seed=123)
    n2, _ = incremental_ingest(b2, "key", path, "run", 1000, 0.01, seed=123)
    reported_new = {r["key"] for r in n2.collect()}
    truly_seen = {f"k{i}" for i in range(50, 100)}
    assert not (reported_new & truly_seen)
    # and the truly-new keys actually surface (bloom isn't garbage)
    assert len(reported_new) >= 49


def test_incremental_ingest_geometry_drift_raises(spark, tmp_path):
    path = str(tmp_path / "ck")
    b1, b2, _ = _batches(spark)
    incremental_ingest(b1, "key", path, "run", 1000, 0.01)
    with pytest.raises(ValueError, match="geometry drift"):
        incremental_ingest(b2, "key", path, "run", 2000, 0.01)


def test_incremental_ingest_scaling(spark, tmp_path):
    """Scaling ingest: layer rows append across batches; the committed
    filter is bit-identical to a one-shot dense build over every
    batch, and the split is exact with a seen-dim."""
    from pyspark.sql import functions as F

    from dablooms_spark.operators.bloom_build import build_scaling_bloom
    from dablooms_spark.operators.ingest import (
        incremental_ingest_scaling,
        restore_filter,
    )
    from dablooms_spark.sources.checkpoint import CheckpointManager
    from dablooms_spark.operators.bloom_build import assemble_scaling_bloom

    path = str(tmp_path / "ck")
    # unique ids 0..8999; keys repeat mod 6000 so batch 2's lower half
    # re-sends batch-1 keys under NEW ids (the reference's add-again)
    all_rows = spark.range(0, 9_000).select(
        F.concat(F.lit("k"), (F.col("id") % 6_000)).alias("key"),
        F.col("id").alias("id"),
    )
    batches = [
        all_rows.filter(f"id >= {lo} AND id < {hi}")
        for lo, hi in [(0, 3_000), (3_000, 6_000), (6_000, 9_000)]
    ]
    seen = None
    for i, b in enumerate(batches):
        new_rows, seq = incremental_ingest_scaling(
            b, "key", "id", path, "run", capacity=1_000, error_rate=0.02,
            exact_seen_df=seen, exact_key="key", batch_tag=f"b{i}",
        )
        n_new = new_rows.count()
        if i == 0:
            assert n_new == 3_000
        elif i == 1:
            assert n_new == 3_000  # ids 3000..5999 -> keys k3000..k5999, all new
        else:
            assert n_new == 0  # ids 6000..8999 -> keys k0..k2999, all seen
        seen = b if seen is None else seen.unionByName(b)

    mgr = CheckpointManager(path)
    restored = assemble_scaling_bloom(
        mgr.load_blobs(spark, mgr.latest("run")).collect()
    )
    oneshot = build_scaling_bloom(
        all_rows, "key", "id", capacity=1_000, error_rate=0.02,
        id_layout="dense",
    )
    assert restored.to_bytes() == oneshot.to_bytes()
    # restore_filter handles layer-row artifacts too
    filt, manifest = restore_filter(spark, path, "run")
    assert manifest["lineage"]["batch_tag"] == "b2"
    assert filt.to_bytes() == oneshot.to_bytes()


def test_incremental_ingest_scaling_geometry_drift(spark, tmp_path):
    import pytest as _pytest
    from pyspark.sql import functions as F

    from dablooms_spark.operators.ingest import incremental_ingest_scaling

    path = str(tmp_path / "ck")
    b = spark.range(100).select(
        F.concat(F.lit("k"), F.col("id")).alias("key"), F.col("id").alias("id")
    )
    incremental_ingest_scaling(b, "key", "id", path, "run", 500, 0.02)
    with _pytest.raises(ValueError, match="geometry drift"):
        incremental_ingest_scaling(b, "key", "id", path, "run", 600, 0.02)


def test_incremental_ingest_manifest_metadata(spark, tmp_path):
    path = str(tmp_path / "ck")
    b1, _, _ = _batches(spark)
    _, seq = incremental_ingest(
        b1, "key", path, "run", 500, 0.02, batch_tag="day=2026-08-17"
    )
    with open(os.path.join(path, "manifest", f"{seq:012d}.json")) as fh:
        m = json.load(fh)
    assert m["lineage"]["batch_tag"] == "day=2026-08-17"
    assert m["lineage"]["capacity"] == 500
    assert m["total_rows"] == 100


def test_restore_filter_refuses_sharded_counting_artifact(spark, tmp_path):
    """A multi-row (shard, blob, n) artifact — a sharded counting
    filter or un-merged partials — must not be silently merged into
    one saturated filter (per-shard blobs are sized capacity/S yet
    together hold every key: merged FP -> 1 with no error)."""
    from dablooms_spark.operators.sharded import build_sharded_counting_bloom
    from dablooms_spark.sources.checkpoint import CheckpointManager

    path = str(tmp_path / "ck")
    keys = spark.range(2_000).select(
        F.concat(F.lit("k"), F.col("id")).alias("key")
    )
    blobs = build_sharded_counting_bloom(keys, "key", 2_000, 0.01, num_shards=8)
    CheckpointManager(path).commit(blobs, "run", stage="sharded")
    with pytest.raises(ValueError, match="sharded_bloom_probe"):
        restore_filter(spark, path, "run")


def test_scaling_ingest_autoroutes_above_broadcast_budget(spark, tmp_path, monkeypatch):
    """Above the probe's broadcast gate the split must not assemble the
    prior filter on the driver: same new_rows through the distributed
    layer-row probe, with assemble_scaling_bloom forbidden."""
    import dablooms_spark.operators.bloom_build as bb
    from dablooms_spark.operators.ingest import incremental_ingest_scaling

    def mk_batch(lo, hi):
        return spark.range(lo, hi).select(
            F.concat(F.lit("k"), F.col("id")).alias("key"), F.col("id").alias("rid")
        )

    b1, b2 = mk_batch(0, 800), mk_batch(400, 1_200)
    expected_new = {f"k{i}" for i in range(800, 1_200)}

    # reference run: broadcast path (default gate)
    pa_, pb_ = str(tmp_path / "a"), str(tmp_path / "b")
    for p in (pa_, pb_):
        incremental_ingest_scaling(b1, "key", "rid", p, "run", 500, 0.05)
    ref, _ = incremental_ingest_scaling(
        b2, "key", "rid", pa_, "run", 500, 0.05,
        exact_seen_df=b1, exact_key="key",
    )
    assert {r["key"] for r in ref.collect()} == expected_new

    # gate '0' forces the cogroup: driver assembly must never happen
    def boom(*a, **k):  # pragma: no cover - failure path
        raise AssertionError("driver-side assemble_scaling_bloom was called")

    monkeypatch.setattr(bb, "assemble_scaling_bloom", boom)
    spark.conf.set("spark.dablooms.probe.autoBroadcastBytes", "0")
    try:
        routed, seq = incremental_ingest_scaling(
            b2, "key", "rid", pb_, "run", 500, 0.05,
            exact_seen_df=b1, exact_key="key", split_salt=4,
        )
        assert {r["key"] for r in routed.collect()} == expected_new
        assert seq == 2

        # approximate mode too (no exact verify): misses only, no driver
        pc_ = str(tmp_path / "c")
        incremental_ingest_scaling(b1, "key", "rid", pc_, "run", 500, 0.05)
        approx, _ = incremental_ingest_scaling(
            b2, "key", "rid", pc_, "run", 500, 0.05, split_salt=4,
        )
        got = {r["key"] for r in approx.collect()}
    finally:
        spark.conf.unset("spark.dablooms.probe.autoBroadcastBytes")
    assert got <= expected_new  # never reports a seen key as new
    assert len(got) >= len(expected_new) * 0.9  # only FP casualties missing


def test_incremental_ingest_sharded_scaling(spark, tmp_path):
    """Fully sharded ingest loop: split through the per-shard cogroup
    probe (no driver or whole-filter replication), committed artifact
    bit-identical to a one-shot sharded build over all batches."""
    from dablooms_spark.operators.ingest import (
        incremental_ingest_sharded_scaling,
    )
    from dablooms_spark.operators.sharded_scaling import (
        build_sharded_scaling_layers,
    )
    from dablooms_spark.sources.checkpoint import CheckpointManager

    path = str(tmp_path / "ck")
    CAP, EPS, SHARDS = 500, 0.05, 4

    def mk(lo, hi):
        return spark.range(lo, hi).select(
            F.concat(F.lit("k"), F.col("id")).alias("key"),
            F.col("id").alias("rid"),
        )

    b1, b2 = mk(0, 800), mk(400, 1_300)
    n1, s1 = incremental_ingest_sharded_scaling(
        b1, "key", "rid", path, "run", CAP, EPS, num_shards=SHARDS
    )
    assert (s1, n1.count()) == (1, 800)
    n2, s2 = incremental_ingest_sharded_scaling(
        b2, "key", "rid", path, "run", CAP, EPS, num_shards=SHARDS,
        exact_seen_df=b1, exact_key="key",
    )
    assert s2 == 2
    assert {r["key"] for r in n2.collect()} == {
        f"k{i}" for i in range(800, 1_300)
    }

    # committed artifact is bit-identical to a one-shot sharded build
    # over the CONCATENATION of the batches (duplicates included —
    # counting semantics, same contract as incremental_ingest; the
    # overlap lands in shared id windows and exercises collide-merge)
    oneshot = {
        (r.shard, r.first_id): (bytes(r.blob), r.n)
        for r in build_sharded_scaling_layers(
            b1.unionByName(b2), "key", "rid", CAP, EPS, num_shards=SHARDS
        ).collect()
    }
    mgr = CheckpointManager(path)
    committed = {
        (r.shard, r.first_id): (bytes(r.blob), r.n)
        for r in mgr.load_blobs(spark, mgr.latest("run")).collect()
    }
    assert committed == oneshot

    # num_shards drift vs lineage refuses before any work
    with pytest.raises(ValueError, match="geometry drift"):
        incremental_ingest_sharded_scaling(
            b2, "key", "rid", path, "run", CAP, EPS, num_shards=SHARDS * 2
        )

    # non-overlapping batches ARE bit-identical to the one-shot build
    path2 = str(tmp_path / "ck2")
    c1, c2 = mk(0, 600), mk(600, 1_200)
    incremental_ingest_sharded_scaling(
        c1, "key", "rid", path2, "run", CAP, EPS, num_shards=SHARDS
    )
    incremental_ingest_sharded_scaling(
        c2, "key", "rid", path2, "run", CAP, EPS, num_shards=SHARDS
    )
    mgr2 = CheckpointManager(path2)
    committed2 = {
        (r.shard, r.first_id): (bytes(r.blob), r.n)
        for r in mgr2.load_blobs(spark, mgr2.latest("run")).collect()
    }
    oneshot2 = {
        (r.shard, r.first_id): (bytes(r.blob), r.n)
        for r in build_sharded_scaling_layers(
            mk(0, 1_200), "key", "rid", CAP, EPS, num_shards=SHARDS
        ).collect()
    }
    assert committed2 == oneshot2


def test_ingest_scaling_uniform_schedule_consistent_across_batches(spark, tmp_path):
    """expected_layers threads through the ingest loop: two batches
    with the same hint produce ONE row per id window (no eps-split
    collisions) and the restored filter stays exact."""
    from dablooms_spark.operators.ingest import incremental_ingest_scaling

    ck = str(tmp_path / "ck")
    b1 = spark.range(0, 3_000).select(
        F.concat(F.lit("k"), F.col("id")).alias("key"), F.col("id")
    )
    b2 = spark.range(3_000, 6_000).select(
        F.concat(F.lit("k"), F.col("id")).alias("key"), F.col("id")
    )
    L = (6_000 - 1) // (1_000 - 1) + 1
    for b, tag in [(b1, "d1"), (b2, "d2")]:
        incremental_ingest_scaling(
            b, "key", "id", ck, "run", capacity=1_000, error_rate=0.05,
            batch_tag=tag, expected_layers=L,
        )
    from dablooms_spark.operators.ingest import restore_filter

    filt, _ = restore_filter(spark, ck, "run")
    # one geometry per id window — the same hint on both batches means
    # colliding windows merged instead of eps-splitting
    eps_per_layer = {l.first_id: l.geometry.error_rate for l in filt.layers}
    assert all(abs(e - 0.05 * 0.5 / L) < 1e-15 for e in eps_per_layer.values())
    assert filt.check([f"k{i}".encode() for i in range(6_000)]).all()


def test_incremental_ingest_sharded_scaling_pre_r4_artifact(spark, tmp_path):
    """A pre-r4 sharded checkpoint (layer rows without the stamped
    num_shards column) must ingest, not AnalysisException at the
    unionByName: the ingest path stamps the caller's value in, same
    tolerance the probe path already has."""
    from dablooms_spark.operators.ingest import (
        incremental_ingest_sharded_scaling,
    )
    from dablooms_spark.operators.sharded_scaling import (
        build_sharded_scaling_layers,
    )
    from dablooms_spark.sources.checkpoint import CheckpointManager

    path = str(tmp_path / "ck_legacy")
    CAP, EPS, SHARDS = 500, 0.05, 4

    def mk(lo, hi):
        return spark.range(lo, hi).select(
            F.concat(F.lit("k"), F.col("id")).alias("key"),
            F.col("id").alias("rid"),
        )

    # forge the pre-r4 artifact: a real commit with the column dropped
    legacy = build_sharded_scaling_layers(
        mk(0, 600), "key", "rid", CAP, EPS, num_shards=SHARDS
    ).drop("num_shards")
    mgr = CheckpointManager(path)
    mgr.commit(
        legacy, "run", stage="ingest-sharded-scaling",
        lineage={
            "capacity": CAP, "error_rate": EPS, "num_shards": SHARDS,
        },
    )

    new_rows, seq = incremental_ingest_sharded_scaling(
        mk(300, 900), "key", "rid", path, "run", CAP, EPS,
        num_shards=SHARDS, exact_seen_df=mk(0, 600), exact_key="key",
    )
    assert seq == 2
    assert {r["key"] for r in new_rows.collect()} == {
        f"k{i}" for i in range(600, 900)
    }
    committed = {
        (r.shard, r.first_id): (bytes(r.blob), r.n)
        for r in mgr.load_blobs(spark, mgr.latest("run")).collect()
    }
    oneshot = {
        (r.shard, r.first_id): (bytes(r.blob), r.n)
        for r in build_sharded_scaling_layers(
            mk(0, 600).unionByName(mk(300, 900)), "key", "rid", CAP, EPS,
            num_shards=SHARDS,
        ).collect()
    }
    assert committed == oneshot


def test_ingest_commits_identical_layers_at_every_merge_ceiling(spark, tmp_path):
    """Three batches through each scaling ingest commit the same layer
    rows whether the merges fold on the driver (default), take the
    lazy exchange ('0') or the measured, checkpointed one ('1b')."""
    from dablooms_spark.operators.ingest import (
        incremental_ingest_scaling,
        incremental_ingest_sharded_scaling,
    )
    from dablooms_spark.sources.checkpoint import CheckpointManager

    def batch(lo, hi):
        return spark.range(lo, hi, 1, 4).select(
            F.concat(F.lit("k"), F.col("id")).alias("key"), F.col("id").alias("rid")
        )

    ingests = {
        "scaling": lambda b, path: incremental_ingest_scaling(
            b, "key", "rid", path, "run", 500, 0.05
        ),
        "sharded": lambda b, path: incremental_ingest_sharded_scaling(
            b, "key", "rid", path, "run", 500, 0.05, num_shards=4
        ),
    }
    got = {}
    for ceiling in (None, "0", "1b"):
        if ceiling is not None:
            spark.conf.set("spark.dablooms.build.driverMergeMaxBytes", ceiling)
        try:
            for name, ingest in ingests.items():
                path = str(tmp_path / f"{name}-{ceiling}")
                for lo, hi in ((0, 800), (400, 1_300), (1_300, 1_600)):
                    ingest(batch(lo, hi), path)
                mgr = CheckpointManager(path)
                rows = mgr.load_blobs(spark, mgr.latest("run")).collect()
                got.setdefault(name, []).append(sorted(map(tuple, rows)))
        finally:
            spark.conf.unset("spark.dablooms.build.driverMergeMaxBytes")
    for name, (default, lazy, measured) in got.items():
        assert default and default == lazy == measured, name


def _scaling_ingests(**kw):
    from dablooms_spark.operators.ingest import (
        incremental_ingest_scaling,
        incremental_ingest_sharded_scaling,
    )

    return {
        "scaling": lambda b, path: incremental_ingest_scaling(
            b, "key", "rid", path, "run", 500, 0.05, **kw
        ),
        "sharded": lambda b, path: incremental_ingest_sharded_scaling(
            b, "key", "rid", path, "run", 500, 0.05, num_shards=4, **kw
        ),
    }


def _rid_batch(spark, lo, hi):
    return spark.range(lo, hi, 1, 4).select(
        F.concat(F.lit("k"), F.col("id")).alias("key"), F.col("id").alias("rid")
    )


def test_each_ingest_micro_batch_runs_one_merge(spark, tmp_path, monkeypatch):
    """Each micro-batch of both scaling ingests folds its pieces and the
    prior checkpoint's layer rows in ONE fold_or_exchange call, and no
    other merge (an `_exchange` outside that call) runs."""
    import sys

    import dablooms_spark.operators.ingest  # noqa: F401
    import dablooms_spark.operators.sharded_scaling  # noqa: F401
    from dablooms_spark.operators import merge

    calls = []
    real_fold, real_exchange = merge.fold_or_exchange, merge._exchange
    inside = []

    def fold_spy(*args, **kwargs):
        calls.append("fold_or_exchange")
        inside.append(1)
        try:
            return real_fold(*args, **kwargs)
        finally:
            inside.pop()

    def exchange_spy(*args, **kwargs):
        if not inside:
            calls.append("_exchange")
        return real_exchange(*args, **kwargs)

    for name, mod in list(sys.modules.items()):
        if name.startswith("dablooms_spark.operators"):
            for attr, real, spy in (
                ("fold_or_exchange", real_fold, fold_spy),
                ("_exchange", real_exchange, exchange_spy),
            ):
                if getattr(mod, attr, None) is real:
                    monkeypatch.setattr(mod, attr, spy)

    for name, ingest in _scaling_ingests().items():
        path = str(tmp_path / name)
        for lo, hi in ((0, 800), (400, 1_300), (1_300, 1_600)):
            calls.clear()
            ingest(_rid_batch(spark, lo, hi), path)
            assert calls == ["fold_or_exchange"], (name, lo, calls)


@pytest.mark.parametrize("collide", [True, False])
def test_ingest_refuses_eps_schedule_drift(spark, tmp_path, collide):
    """A batch whose expected_layers hint differs from the checkpoint's
    is refused by both scaling ingests, whether or not its id windows
    meet the checkpoint's layers, and nothing is committed."""
    from dablooms_spark.sources.checkpoint import CheckpointManager

    first = _scaling_ingests()
    hinted = _scaling_ingests(expected_layers=8)
    lo, hi = (400, 1_300) if collide else (5_000, 5_400)
    for name in first:
        path = str(tmp_path / name)
        first[name](_rid_batch(spark, 0, 800), path)
        with pytest.raises(Exception, match="eps-schedule drift"):
            hinted[name](_rid_batch(spark, lo, hi), path)
        assert CheckpointManager(path).latest("run")["seqnum"] == 1
