"""Incremental batch ingest: the reference library's home workflow.

bitly's production use of dablooms is "have we seen this key before?"
across successive ingests — restore yesterday's filter, split today's
batch into seen/new, add the new keys, persist for tomorrow. This
module packages that loop as one resumable operator over the
checkpoint protocol (sources/checkpoint.py, mirroring
scaling_bloom_flush's write-ahead commit order, src/dablooms.c ≈L552):

    new_rows, seq = incremental_ingest(batch, "url", path, "crawl", ...)

Scale shape per batch (none of these steps collect rows):
  * restore      — read ONE merged blob row from the last commit
                   (the artifact is kept merged, so restore is O(filter
                   size), not O(history))
  * split        — broadcast-blob probe; bloom misses are DEFINITE
                   new keys (no false negatives); with exact_seen_df
                   the ε-sized hit set is verified by a real anti join,
                   making the split exact
  * add + commit — the batch filter is built like any counting filter
                   (build_counting_bloom: counter pieces, one fold),
                   counter-sum merged into the restored prior on the
                   driver and committed as one row under the next
                   seqnum with parent lineage

Counter-sum merge associativity makes the committed filter
bit-identical to a single build over the concatenation of every batch
ingested so far (property-tested).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dablooms_spark.core.counting_bloom import CountingBloom
from dablooms_spark.core.serde import loads
from dablooms_spark.functions.murmur import DABLOOMS_SEED
from dablooms_spark.operators.bloom_build import build_counting_bloom
from dablooms_spark.operators.bloom_probe import bloom_anti_join, confirm
from dablooms_spark.operators.merge import _BLOB_SCHEMA, fold_or_exchange
from dablooms_spark.sources.checkpoint import CheckpointManager


def restore_filter(
    spark: SparkSession,
    checkpoint_path: str,
    run_id: str | None = None,
    seed: int = DABLOOMS_SEED,
):
    """(filter, manifest) from the latest commit, or (None, None) on a
    fresh path. The ingest artifact is always one merged blob row, so
    this reads O(filter size) bytes regardless of ingest history."""
    mgr = CheckpointManager(checkpoint_path)
    manifest = mgr.latest(run_id)
    if manifest is None:
        return None, None
    df = mgr.load_blobs(spark, manifest)
    if "shard" in df.columns and "first_id" in df.columns:
        # sharded scaling layers are per-shard filters meant to stay a
        # DataFrame — assembling them into one filter would interleave
        # unrelated shards' layers and compound FP across shards
        raise ValueError(
            "checkpoint holds SHARDED scaling layers; load them with "
            "CheckpointManager.load_blobs and probe with "
            "sharded_scaling_probe"
        )
    if "first_id" in df.columns:
        # scaling ingest artifact: layer rows reassemble positionally
        from dablooms_spark.operators.bloom_build import assemble_scaling_bloom

        rows = df.collect()
        return (assemble_scaling_bloom(rows, seed) if rows else None), manifest
    rows = df.select("blob").collect()
    if not rows:
        return None, manifest
    if len(rows) > 1 and "shard" in df.columns:
        # The ingest artifact is by contract ONE merged blob row. A
        # multi-row (shard, blob, n) artifact here is either a sharded
        # COUNTING filter (operators/sharded.py — per-shard blobs each
        # sized capacity/num_shards that together hold every key;
        # merging them into one small filter saturates it, observed FP
        # → 1, with no error raised because all shards share a
        # geometry) or uncommitted partials. Refuse both, mirroring
        # the sharded-scaling branch above.
        raise ValueError(
            "checkpoint holds multiple (shard, blob) rows — a sharded "
            "counting filter or un-merged partials, not an ingest "
            "artifact; for sharded filters load with "
            "CheckpointManager.load_blobs and probe with "
            "sharded_bloom_probe (merging per-shard blobs into one "
            "filter would saturate it); for partials run merge_blobs_df "
            "first"
        )
    filt = loads(bytes(rows[0].blob), seed=seed)
    for r in rows[1:]:
        filt = filt.merge(loads(bytes(r.blob), seed=seed))
    return filt, manifest


def incremental_ingest(
    batch_df: DataFrame,
    key_col: str,
    checkpoint_path: str,
    run_id: str,
    capacity: int,
    error_rate: float,
    seed: int = DABLOOMS_SEED,
    exact_seen_df: DataFrame | None = None,
    exact_key: str | None = None,
    batch_tag: str | None = None,
) -> tuple[DataFrame, int]:
    """One ingest round. Returns (new_rows, committed_seqnum).

    new_rows are the batch rows whose key was NOT present in any
    previously ingested batch: exact when exact_seen_df (the prior
    keys, e.g. the upstream table filtered to earlier partitions) is
    given; otherwise within the filter's false-positive bound (a few
    genuinely-new rows may be misclassified seen — never the reverse).

    The returned DataFrame is lazy; the filter update is committed
    eagerly (the batch is scanned once for the build; new_rows
    evaluate on the caller's schedule).
    """
    spark = batch_df.sparkSession
    prior, manifest = restore_filter(spark, checkpoint_path, run_id, seed)

    if prior is None:
        new_rows = batch_df
    else:
        if not isinstance(prior, CountingBloom):
            raise TypeError(
                "incremental_ingest checkpoints counting blooms; found "
                f"{type(prior).__name__} at {checkpoint_path}"
            )
        new_rows = bloom_anti_join(
            batch_df, key_col, prior,
            exact_df=exact_seen_df, exact_key=exact_key, seed=seed,
        )

    # update side: batch filter + prior → one merged row. The prior
    # is already on the driver (restore loaded it), so the merge is one
    # counter sum there
    if prior is not None:
        g = prior.geometry
        if (g.capacity, g.error_rate) != (capacity, error_rate):
            raise ValueError(
                "geometry drift: checkpoint was built with "
                f"capacity={g.capacity}, error_rate={g.error_rate}"
            )
    filt = build_counting_bloom(batch_df, key_col, capacity, error_rate, seed)
    if prior is not None:
        filt = prior.merge(filt)
    merged = spark.createDataFrame(
        [(0, bytearray(filt.to_bytes()), int(filt.count))], _BLOB_SCHEMA
    )

    mgr = CheckpointManager(checkpoint_path)
    seq = mgr.commit(
        merged,
        run_id,
        stage="ingest",
        lineage={
            "parent_seqnum": manifest["seqnum"] if manifest else None,
            "batch_tag": batch_tag,
            "key_col": key_col,
            "capacity": capacity,
            "error_rate": error_rate,
        },
    )
    return new_rows, seq


def _refuse_lineage_drift(manifest: dict, **called) -> None:
    """Refuse a checkpoint whose lineage names another geometry than
    this call's (a checkpoint without lineage is trusted)."""
    lin = manifest.get("lineage") or {}
    drift = [f"{k}={lin.get(k)} (called with {v})" for k, v in called.items()
             if lin and lin.get(k) != v]
    if drift:
        raise ValueError("geometry drift vs checkpoint lineage: " + ", ".join(drift))


def incremental_ingest_scaling(
    batch_df: DataFrame,
    key_col: str,
    id_col: str,
    checkpoint_path: str,
    run_id: str,
    capacity: int,
    error_rate: float,
    seed: int = DABLOOMS_SEED,
    exact_seen_df: DataFrame | None = None,
    exact_key: str | None = None,
    batch_tag: str | None = None,
    split_salt: int | None = None,
    expected_layers: int | None = None,
) -> tuple[DataFrame, int]:
    """The scaling-filter ingest loop: dablooms' unbounded-stream
    model across successive batches. Each batch carries fresh unique
    ids (the reference's monotone insertion sequence continuing across
    days); fixed id-value boundaries mean a new batch's layers are
    id-disjoint from the checkpoint's, so the artifact grows by
    appending layers exactly like scaling_bloom_add growing at
    capacity. The update is ONE measured merge (operators/merge.py):
    the checkpoint's layer rows fold per layer with the batch's
    counter pieces, on the driver when small, else in one exchange.

    Returns (new_rows, committed_seqnum) with the same split
    semantics/guarantees as incremental_ingest. The split probes the
    prior layer rows as ONE logical shard through sharded_scaling_probe,
    so the prior filter is never assembled on the driver; that probe's
    measured gate (spark.dablooms.probe.autoBroadcastBytes) broadcasts
    the layers when their bytes fit and otherwise co-groups them with
    the batch, replicated split_salt ways (default max(8,
    defaultParallelism)). Each cogroup task holds the full layer set,
    so for filters beyond EXECUTOR memory build sharded from the start
    with build_sharded_scaling_layers."""
    from dablooms_spark.operators.bloom_build import _LAYER_SCHEMA, _fixed_pieces
    from dablooms_spark.operators.sharded_scaling import sharded_scaling_probe

    spark = batch_df.sparkSession
    mgr = CheckpointManager(checkpoint_path)
    manifest = mgr.latest(run_id)

    prior_layers = None
    if manifest is not None:
        _refuse_lineage_drift(manifest, capacity=capacity, error_rate=error_rate)
        prior_layers = mgr.load_blobs(spark, manifest)
        if "first_id" not in prior_layers.columns:
            raise TypeError(
                "incremental_ingest_scaling checkpoints layer rows; "
                f"found a counting-bloom artifact at {checkpoint_path} "
                "(use incremental_ingest for that run)"
            )
        # bloom misses are definite new keys; with exact_seen_df the
        # ε-sized hit set is verified by a real anti join
        salt = split_salt or max(8, spark.sparkContext.defaultParallelism)
        one_shard = prior_layers.withColumn("shard", F.lit(0).cast("long"))
        probed = sharded_scaling_probe(
            batch_df, key_col, one_shard, num_shards=1, salt=salt,
            seed=seed, out_col="__seen",
        )
        new_rows = confirm(
            probed, key_col, exact_seen_df, exact_key, anti=True, hit="__seen"
        )
    else:
        new_rows = batch_df

    # expected_layers: the TOTAL layer count of the whole id stream
    # (ids route to global windows id//(capacity-1), so the hint spans
    # the stream, not the batch). Pass the SAME value on every batch:
    # the fold refuses any checkpoint layer built under another ε
    # schedule (eps-schedule drift), touched by this batch or not
    pieces, merge_layer = _fixed_pieces(
        batch_df, key_col, id_col, capacity, error_rate, seed,
        expected_layers, prior=prior_layers,
    )
    merged = fold_or_exchange(pieces, ["layer"], merge_layer, _LAYER_SCHEMA)
    seq = mgr.commit(
        merged,
        run_id,
        stage="ingest-scaling",
        lineage={
            "parent_seqnum": manifest["seqnum"] if manifest else None,
            "batch_tag": batch_tag,
            "key_col": key_col,
            "id_col": id_col,
            "capacity": capacity,
            "error_rate": error_rate,
        },
    )
    return new_rows, seq


def incremental_ingest_sharded_scaling(
    batch_df: DataFrame,
    key_col: str,
    id_col: str,
    checkpoint_path: str,
    run_id: str,
    capacity: int,
    error_rate: float,
    num_shards: int = 16,
    seed: int = DABLOOMS_SEED,
    exact_seen_df: DataFrame | None = None,
    exact_key: str | None = None,
    batch_tag: str | None = None,
    salt: int = 8,
    expected_layers: int | None = None,
) -> tuple[DataFrame, int]:
    """The ingest loop at the fully SHARDED topology — the
    beyond-EXECUTOR-memory end state. incremental_ingest_scaling's
    distributed split still replicates the whole layer set to every
    probe task; here the filter stays sharded end to end:

      * restore  — the checkpoint artifact IS the sharded layer-row
                   DataFrame (never assembled into one filter);
      * split    — sharded_scaling_probe: each cogroup task holds ONE
                   shard's layers (≈ filter_size / num_shards), so
                   task memory is bounded by shard sizing, not filter
                   size; same split guarantees as incremental_ingest;
      * add      — ONE measured merge (operators/merge.py): the
                   batch's counter pieces (one map stage) and the
                   prior layer rows fold per (shard, layer) — a
                   counter-sum, so the committed artifact is
                   bit-identical to a one-shot sharded build over all
                   batches so far — on the driver when small, else in
                   one exchange;
      * commit   — atomic manifest under the next seqnum with parent
                   lineage.

    num_shards must match the prior artifact's (validated via the
    stamped num_shards column; drift raises rather than mis-routing).
    """
    from dablooms_spark.operators.sharded_scaling import (
        _ensure_num_shards,
        _fold_layers,
        sharded_scaling_probe,
    )

    spark = batch_df.sparkSession
    mgr = CheckpointManager(checkpoint_path)
    manifest = mgr.latest(run_id)

    prior_layers = None
    if manifest is not None:
        _refuse_lineage_drift(
            manifest, capacity=capacity, error_rate=error_rate, num_shards=num_shards
        )
        prior_layers = mgr.load_blobs(spark, manifest)
        if "shard" not in prior_layers.columns or "first_id" not in prior_layers.columns:
            raise TypeError(
                "incremental_ingest_sharded_scaling checkpoints SHARDED "
                f"layer rows; found a different artifact at {checkpoint_path}"
            )
        # pre-r4 sharded artifacts lack the stamped num_shards column;
        # stamp the caller's value in (the probe path already tolerates
        # such artifacts the same way) so the fold's num_shards check
        # below accepts them too
        prior_layers = _ensure_num_shards(prior_layers, num_shards)
        probed = sharded_scaling_probe(
            batch_df, key_col, prior_layers, num_shards=num_shards,
            salt=salt, seed=seed, out_col="__seen",
        )
        new_rows = confirm(
            probed, key_col, exact_seen_df, exact_key, anti=True, hit="__seen"
        )
    else:
        new_rows = batch_df

    # expected_layers must be the SAME on every batch: the fold
    # refuses any checkpoint layer built under another ε schedule
    # (eps-schedule drift), touched by this batch or not
    merged = _fold_layers(
        batch_df, key_col, id_col, capacity, error_rate, num_shards, seed,
        expected_layers, prior=prior_layers,
    )
    seq = mgr.commit(
        merged,
        run_id,
        stage="ingest-sharded-scaling",
        lineage={
            "parent_seqnum": manifest["seqnum"] if manifest else None,
            "batch_tag": batch_tag,
            "key_col": key_col,
            "id_col": id_col,
            "capacity": capacity,
            "error_rate": error_rate,
            "num_shards": num_shards,
        },
    )
    return new_rows, seq
