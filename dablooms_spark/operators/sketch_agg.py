"""Generic two-phase sketch aggregation (SURVEY.md §4.2).

`applyInPandas` alone would shuffle raw rows (all the text bytes!) to
one task per group. Instead every sketch here aggregates in two
phases, the same shape Catalyst uses for its own partial aggregates:

  phase 1 — mapInArrow over input partitions: one partial sketch per
      (partition[, group]) updated from zero-copy Arrow buffers; only
      small blobs leave the task.
  phase 2 — a fold of the blobs in the measured merge
      (operators/merge.py): per group of at most 8 input partitions,
      then on the driver (global), or per group (grouped, rollup).
      Above the ceiling the shuffle moves kilobytes per group, never
      rows.

All sketch classes share the same surface (add/add_buffer, merge,
to_bytes/from_bytes), so one operator serves Bloom/HLL/CMS/t-digest/
KLL.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dablooms_spark.core.cms import CountMinSketch
from dablooms_spark.core.counting_bloom import CountingBloom
from dablooms_spark.core.hll import HyperLogLog
from dablooms_spark.core.kll import KLLSketch
from dablooms_spark.core.mg import MisraGries
from dablooms_spark.core.serde import loads
from dablooms_spark.core.tdigest import TDigest
from dablooms_spark.core.theta import ThetaSketch
from dablooms_spark.functions.arrow_utils import arrow_byte_view
from dablooms_spark.functions.murmur import DABLOOMS_SEED
from dablooms_spark.operators.merge import _FANIN, _merge_blobs_to_bytes, fold_or_exchange

_KINDS = {
    "hll": (HyperLogLog, "string"),
    "cms": (CountMinSketch, "string"),
    "tdigest": (TDigest, "numeric"),
    "kll": (KLLSketch, "numeric"),
    "theta": (ThetaSketch, "string"),
    # Misra-Gries heavy hitters (factory kwargs: k; exact when total
    # distinct <= k, else counts carry a <= N/(k+1) one-sided error)
    "mg": (MisraGries, "string"),
    # per-group membership filters (e.g. one seen-URL filter per host);
    # factory kwargs: capacity, error_rate
    "counting_bloom": (CountingBloom, "string"),
}


def _make(kind: str, params: dict):
    cls, mode = _KINDS[kind]
    return cls(**params), mode


def _update_from_arrow(sketch, mode: str, col: pa.Array) -> None:
    if mode == "string":
        buf, offs, lens = arrow_byte_view(col)
        sketch.add_buffer(buf, offs, lens)
    else:
        v = col.to_numpy(zero_copy_only=False).astype(np.float64)
        sketch.add(v)


def sketch_agg(df: DataFrame, col: str, kind: str, **params):
    """Aggregate one column into a single driver-side sketch object.

    String sketches (hll, cms) hash the column's UTF-8 bytes; numeric
    sketches (tdigest, kll) consume doubles. NULLs are skipped.
    """
    _, mode = _KINDS[kind]
    cast = "string" if mode == "string" else "double"
    sdf = df.select(F.col(col).cast(cast).alias("v")).filter(F.col("v").isNotNull())

    def build(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from pyspark import TaskContext

        sk, mode_ = _make(kind, params)
        k = TaskContext.get().partitionId() // _FANIN
        n = 0
        for batch in batches:
            _update_from_arrow(sk, mode_, batch.column(0))
            n += batch.num_rows
        if n:
            yield pa.RecordBatch.from_pydict(
                {"k": [k], "blob": [sk.to_bytes()]},
                schema=pa.schema([("k", pa.int64()), ("blob", pa.large_binary())]),
            )

    partials = sdf.mapInArrow(build, schema="k long, blob binary")
    seed = params.get("seed", DABLOOMS_SEED)

    def merge_group(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame({"blob": [_merge_blobs_to_bytes(list(pdf.blob), seed)]})

    # keyed by partition // 8: above the ceiling no exchange task folds
    # more than 8 partials (a counting_bloom partial can be as large as
    # the whole filter); the driver folds the ceil(partitions / 8) rest
    rows = fold_or_exchange(partials, ["k"], merge_group, "blob binary", collect=True)
    if not rows:
        return _make(kind, params)[0]
    blobs = [bytes(r.blob) for r in rows]
    blob = blobs[0] if len(blobs) == 1 else _merge_blobs_to_bytes(blobs, seed)
    return loads(blob, seed=seed)


_GROUPED_SCHEMA = "g string, blob binary, n long"
_GROUPED_SCHEMA_PA = pa.schema(
    [("g", pa.large_string()), ("blob", pa.large_binary()), ("n", pa.int64())]
)


def _grouped_partials(
    df: DataFrame,
    group_col: str,
    value_col: str,
    kind: str,
    params: dict,
) -> DataFrame:
    """Phase 1 of every grouped operator: a (g string, blob, n) partial
    per (input partition, group) over the rows whose group and value
    are both non-NULL (map-side combine), batch rows partitioned by
    group Arrow-side (no per-row Python)."""
    _, mode = _KINDS[kind]
    cast = "string" if mode == "string" else "double"
    sdf = df.select(
        F.col(group_col).cast("string").alias("g"),
        F.col(value_col).cast(cast).alias("v"),
    ).filter(F.col("v").isNotNull() & F.col("g").isNotNull())

    def build(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        sketches: dict[str, object] = {}
        counts: dict[str, int] = {}
        for batch in batches:
            tbl = pa.Table.from_batches([batch])
            # partition batch rows by group using Arrow-side dictionary
            # encoding (no per-row Python): sort indices by group code
            codes = pa.compute.dictionary_encode(batch.column(0))
            idx = pa.compute.sort_indices(codes.indices)
            sorted_tbl = tbl.take(idx)
            sorted_codes = codes.indices.take(idx).to_numpy(zero_copy_only=False)
            dict_vals = codes.dictionary.to_pylist()
            bounds = np.searchsorted(
                sorted_codes, np.arange(len(dict_vals) + 1), side="left"
            )
            vcol = sorted_tbl.column(1).combine_chunks()
            for gi, gname in enumerate(dict_vals):
                lo, hi = int(bounds[gi]), int(bounds[gi + 1])
                if lo == hi:
                    continue
                if gname not in sketches:
                    sketches[gname], counts[gname] = _make(kind, params)[0], 0
                _update_from_arrow(sketches[gname], mode, vcol.slice(lo, hi - lo))
                counts[gname] += hi - lo
        if sketches:
            yield pa.RecordBatch.from_pydict(
                {
                    "g": list(sketches),
                    "blob": [sk.to_bytes() for sk in sketches.values()],
                    "n": list(counts.values()),
                },
                schema=_GROUPED_SCHEMA_PA,
            )

    return sdf.mapInArrow(build, schema=_GROUPED_SCHEMA)


def _blob_merge(keys: list[str], seed: int):
    """Per-group fold of (keys..., blob, n) rows into one such row."""

    def merge_group(pdf: pd.DataFrame) -> pd.DataFrame:
        out = {c: [pdf[c].iloc[0]] for c in keys}
        out["blob"] = [_merge_blobs_to_bytes(list(pdf.blob), seed)]
        out["n"] = [int(pdf.n.sum())]
        return pd.DataFrame(out)

    return merge_group


def grouped_sketch_agg(
    df: DataFrame,
    group_col: str,
    value_col: str,
    kind: str,
    **params,
) -> DataFrame:
    """One sketch blob per group: DataFrame(group string, blob binary,
    n long). Phase 1 holds a dict of per-group partial sketches per
    partition (map-side combine); phase 2 folds only blobs, per group,
    in the measured merge (operators/merge.py; above its ceiling the
    frame is a checkpoint, not recomputed from lineage)."""
    seed = params.get("seed", DABLOOMS_SEED)
    partials = _grouped_partials(df, group_col, value_col, kind, params)
    merged = fold_or_exchange(partials, ["g"], _blob_merge(["g"], seed), _GROUPED_SCHEMA)
    return merged.withColumnRenamed("g", group_col)


def sketch_rollup(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    kind: str,
    **params,
) -> DataFrame:
    """Sketch hierarchy: one blob per grouping level of a rollup —
    (c1, c2, ..., blob, n) with NULLs marking rolled-up levels, like
    SQL ROLLUP. A NULL in a group column fails the action reading it.

    The input is scanned ONCE; every coarser level is produced by
    merging child blobs — kilobytes per group — instead of
    re-aggregating rows. Each phase-1 task merges its own finest-level
    partials up the hierarchy (Spark's ROLLUP shape: the levels are
    expanded below the partial aggregate), so every level's partials
    fold in ONE measured merge keyed by group_cols, whose rolled-up
    levels are NULL-keyed groups (a checkpoint above the ceiling, not
    recomputed from lineage). This is the pattern that makes
    per-(lang, host) → per-lang → global cardinality hierarchies
    affordable at 10^12 rows: the raw data is touched once, the
    hierarchy is sketch algebra.
    """
    assert group_cols, "need at least one group column"
    depth, seed = len(group_cols), params.get("seed", DABLOOMS_SEED)
    schema = ", ".join(f"{c} string" for c in group_cols) + ", blob binary, n long"
    arrow_schema = pa.schema(
        [(c, pa.large_string()) for c in group_cols]
        + [("blob", pa.large_binary()), ("n", pa.int64())]
    )

    def roll_up(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        # the finest keys split back out of the joined group string;
        # level k keeps the first k of them, merged from level k + 1
        level = [
            (tuple(g.split("\x1f")), blob, n)
            for part in batches
            for g, blob, n in zip(*(c.to_pylist() for c in part.columns))
        ]
        if not level:
            return
        rows = list(level)
        for k in range(depth - 1, -1, -1):
            groups: dict[tuple, list] = {}
            for key, blob, n in level:
                groups.setdefault(key[:k] + (None,) * (depth - k), []).append((blob, n))
            level = [
                (key, _merge_blobs_to_bytes([b for b, _ in bn], seed), sum(n for _, n in bn))
                for key, bn in groups.items()
            ]
            rows += level
        keys, blobs, ns = zip(*rows)
        cols = {c: [key[i] for key in keys] for i, c in enumerate(group_cols)}
        yield pa.RecordBatch.from_pydict(
            {**cols, "blob": list(blobs), "n": list(ns)}, schema=arrow_schema
        )

    # concat_ws skips NULLs (a NULL marks a rolled-up level): refuse them
    cols = [F.col(c).cast("string") for c in group_cols]
    msg = F.lit(f"sketch_rollup: NULL value in a group column {group_cols}")
    keyed = df.withColumn(
        "__g", F.when(F.concat(*cols).isNull(), F.raise_error(msg)).otherwise(
            F.concat_ws("\x1f", *cols))
    )
    partials = _grouped_partials(keyed, "__g", value_col, kind, params).mapInArrow(
        roll_up, schema=schema
    )
    return fold_or_exchange(partials, group_cols, _blob_merge(group_cols, seed), schema)


def rollup_distinct(
    df: DataFrame, group_cols: list[str], key_col: str, p: int = 14
) -> DataFrame:
    """HLL distinct-count hierarchy: (group_cols..., approx_distinct)
    for every rollup level, input scanned once. The folded rows are
    already one per group, so each maps to its estimate in place (a
    narrow mapInArrow, no exchange)."""
    blobs = sketch_rollup(df, group_cols, key_col, "hll", p=p)
    schema_cols = ", ".join(f"{c} string" for c in group_cols)

    def estimate(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            raw = batch.column("blob").to_pylist()
            ests = [int(round(HyperLogLog.from_bytes(b).estimate())) for b in raw]
            yield pa.RecordBatch.from_arrays(
                [batch.column(c) for c in group_cols] + [pa.array(ests, pa.int64())],
                names=group_cols + ["approx_distinct"],
            )

    return blobs.mapInArrow(estimate, schema=f"{schema_cols}, approx_distinct long")


# ---------------------------------------------------------------------------
# High-level estimates
# ---------------------------------------------------------------------------


def _grouped_merge_finalize(
    df: DataFrame,
    group_col: str,
    value_col: str,
    kind: str,
    params: dict,
    finalize,
    out_schema: str,
) -> DataFrame:
    """grouped_sketch_agg's phase 1 + ONE measured fold that merges
    each group's partial blobs AND finalizes (estimate / quantiles) in
    the same pass, instead of a second fold over the merged blobs
    (a checkpoint above the ceiling, not recomputed from lineage)."""
    partials = _grouped_partials(df, group_col, value_col, kind, params)

    def merge_finalize(pdf: pd.DataFrame) -> pd.DataFrame:
        sk = loads(pdf.blob.iloc[0])
        for b in pdf.blob.iloc[1:]:
            sk = sk.merge(loads(b))
        return finalize(pdf.g.iloc[0], sk)

    # identical on either path: every sketch here merges associatively
    return fold_or_exchange(partials, ["g"], merge_finalize, out_schema)


def approx_distinct_by(
    df: DataFrame, group_col: str, key_col: str, p: int = 14, sparse: bool = False
) -> DataFrame:
    """HLL distinct-count per group: (group, approx_distinct long).

    sparse=True starts every partial in the HLL++-style sparse mode
    (core/hll.py): groups whose distinct count stays under m/8 hold
    the exact hash-word set through the partials AND the blob merges,
    so their estimate is the EXACT distinct count (the oracle-checked
    regime); bigger groups upgrade to dense registers losslessly and
    answer with the usual ~1.04/sqrt(m) error. Blob shuffle bytes only
    shrink: a sparse blob never outgrows the register array. Above
    driverMergeMaxBytes the result is a checkpoint (operators/merge.py)."""

    def finalize(g: str, sk) -> pd.DataFrame:
        return pd.DataFrame(
            {group_col: [g], "approx_distinct": [int(round(sk.estimate()))]}
        )

    return _grouped_merge_finalize(
        df, group_col, key_col, "hll", {"p": p, "sparse": sparse},
        finalize, f"{group_col} string, approx_distinct long",
    )


def quantiles_by(
    df: DataFrame,
    group_col: str,
    value_col: str,
    quantiles: list[float],
    kind: str = "tdigest",
    **params,
) -> DataFrame:
    """Per-group quantile estimates: (group, q double, value double);
    a checkpoint above driverMergeMaxBytes (operators/merge.py)."""
    assert kind in ("tdigest", "kll")
    qs = list(quantiles)

    def finalize(g: str, sk) -> pd.DataFrame:
        vals = sk.quantile(qs)
        return pd.DataFrame(
            {group_col: [g] * len(qs), "q": qs, "value": [float(v) for v in vals]}
        )

    return _grouped_merge_finalize(
        df, group_col, value_col, kind, params, finalize,
        f"{group_col} string, q double, value double",
    )


def frequent_keys(
    df: DataFrame,
    key_col: str,
    min_count: int,
    cms_eps: float = 1e-4,
    cms_delta: float = 0.01,
    materialize: bool = True,
) -> DataFrame:
    """EXACT distributed heavy hitters: all keys with count >= min_count.

    Three-stage runtime-filter composition, provably exact:
      1. pigeonhole candidates — a key with global count >= T must have
         local count >= T/P in at least one of P partitions, so the
         union of per-partition keys with local count >= T/P is a
         superset of the answer (computed map-side, no row shuffle);
      2. CMS prune — a global count-min sketch never underestimates, so
         dropping candidates with CMS estimate < T is safe and cheap;
      3. exact recount of the surviving (small) candidate set via a
         broadcast semi join + groupBy.

    materialize=False skips the final persist+count and returns a lazy
    result (composable); the CMS stage still runs eagerly (its blob
    must exist to broadcast), and the input is scanned once more per
    downstream action instead of being cached.
    """
    spark = df.sparkSession
    sdf = df.select(F.col(key_col).cast("string").alias("k")).filter(
        F.col("k").isNotNull()
    )
    num_parts = sdf.rdd.getNumPartitions() or 1
    local_threshold = min_count // num_parts
    if local_threshold < 2:
        # Degenerate pigeonhole: a local threshold of <=1 admits every
        # distinct key as a candidate (the common case at scale when
        # partitions outnumber min_count). The exact hash-aggregate IS
        # the cheapest correct plan here — one shuffle of map-side
        # combined (k, partial-count) pairs — so skip the sketch stages
        # entirely rather than materialize all distinct keys anywhere.
        return (
            sdf.groupBy("k")
            .agg(F.count("*").alias("cnt"))
            .filter(F.col("cnt") >= min_count)
            .withColumnRenamed("k", key_col)
        )

    if materialize:
        sdf = sdf.persist()

    def local_candidates(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        # Arrow-native fold: per-batch value_counts tables concatenated
        # and group-summed ONCE at the end — no per-distinct-key Python
        # objects, so the stage's cost tracks Arrow buffer sizes, not
        # Python object count (this was the last per-element Python
        # loop in a hot path).
        parts = []
        for batch in batches:
            vc = pa.compute.value_counts(batch.column(0))
            parts.append(
                pa.table({"k": vc.field("values"), "c": vc.field("counts")})
            )
        if not parts:
            return
        agg = pa.concat_tables(parts).group_by("k").aggregate([("c", "sum")])
        mask = pa.compute.greater_equal(
            agg.column("c_sum"), pa.scalar(local_threshold, pa.int64())
        )
        cands = agg.column("k").filter(mask).combine_chunks().cast(pa.large_string())
        if len(cands):
            yield pa.RecordBatch.from_arrays([cands], names=["k"])

    candidates = sdf.mapInArrow(local_candidates, schema="k string").distinct()

    # CMS prune stays DISTRIBUTED: broadcast the merged sketch blob
    # (bounded: d*w int64s) and probe candidates executor-side with the
    # zero-copy buffer kernel. The candidate set never touches the
    # driver — the round-1 version collect()ed it, which OOMs the
    # driver whenever the pigeonhole stage is weak.
    cms = sketch_agg(sdf, "k", "cms", eps=cms_eps, delta=cms_delta)
    bc_blob = spark.sparkContext.broadcast(cms.to_bytes())

    def cms_prune(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        sk = CountMinSketch.from_bytes(bc_blob.value)
        for batch in batches:
            col = batch.column(0)
            buf, offsets, lengths = arrow_byte_view(col)
            est = sk.query_buffer(buf, offsets, lengths)
            mask = est >= min_count
            if mask.any():
                yield pa.RecordBatch.from_arrays(
                    [col.filter(pa.array(mask))], names=["k"]
                )

    survivors = candidates.mapInArrow(cms_prune, schema="k string")
    out = (
        sdf.join(F.broadcast(survivors), "k", "left_semi")
        .groupBy("k")
        .agg(F.count("*").alias("cnt"))
        .filter(F.col("cnt") >= min_count)
        .withColumnRenamed("k", key_col)
    )
    if not materialize:
        return out
    result = out.persist()
    result.count()
    sdf.unpersist()
    return result


def heavy_hitters_mg(
    df: DataFrame,
    key_col: str,
    min_count: int,
    k: int = 1024,
) -> DataFrame:
    """ONE-PASS heavy hitters via a mergeable Misra-Gries summary —
    the single-scan complement of `frequent_keys` (which is exact for
    any k but re-reads the surviving candidates for the recount).

    Shape: phase-1 partial MG per input partition (mapInArrow, batch
    rows pre-grouped by murmur words, no per-row Python), phase-2
    blob fold (sketch_agg's measured merge, at most 8 partials per
    exchange task) — only <= k-entry blobs move, never rows. The data
    is scanned ONCE; there is no candidate semi-join or second
    aggregation pass.

    Returns (key_col, cnt_lo, cnt_hi): cnt_lo <= f(key) <= cnt_hi with
    cnt_hi - cnt_lo = E <= N/(k+1) (Agarwal et al., Mergeable
    Summaries, PODS 2012). Every key with true count >= min_count
    appears whenever min_count > E — no false negatives above the
    error floor; keys in [min_count - E, min_count) may appear too.
    With k >= total distinct keys E = 0 and the result is EXACT (the
    oracle-checked regime). Rows are bounded by k, so the output is
    broadcast-size by construction.
    """
    spark = df.sparkSession
    sk = sketch_agg(df, key_col, "mg", k=k)
    hh = sk.heavy_hitters(min_count)
    return spark.createDataFrame(
        [(key.decode("utf-8"), lo, hi) for key, lo, hi in hh],
        schema=f"{key_col} string, cnt_lo long, cnt_hi long",
    )


def approx_join_size(
    df_a: DataFrame,
    key_a: str,
    df_b: DataFrame,
    key_b: str,
    eps: float = 1e-4,
    delta: float = 0.01,
) -> int:
    """Inner-join output-size estimate WITHOUT running the join: build
    one CMS per side (map-side partials, blob-only merges) and take
    the sketch inner product — Σ_k f_A(k)·f_B(k), never an
    underestimate, error ≤ ε·|A|·|B| w.p. ≥ 1−δ. The planner-style
    primitive behind broadcast/shuffle/bloom decisions when row
    statistics are stale (compare auto_semi_join, which uses Catalyst
    stats + a distinct count)."""
    a = sketch_agg(df_a, key_a, "cms", eps=eps, delta=delta)
    b = sketch_agg(df_b, key_b, "cms", eps=eps, delta=delta)
    return a.inner_product(b)
