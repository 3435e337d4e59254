"""Generic two-phase sketch aggregation (SURVEY.md §4.2).

`applyInPandas` alone would shuffle raw rows (all the text bytes!) to
one task per group. Instead every sketch here aggregates in two
phases, the same shape Catalyst uses for its own partial aggregates:

  phase 1 — mapInArrow over input partitions: one partial sketch per
      (partition[, group]) updated from zero-copy Arrow buffers; only
      small blobs leave the task.
  phase 2 — tree merge of blobs (global) or a groupBy over blobs
      (grouped): the shuffle moves kilobytes per group, never rows.

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
from dablooms_spark.core.tdigest import TDigest
from dablooms_spark.core.theta import ThetaSketch
from dablooms_spark.functions.arrow_utils import arrow_byte_view
from dablooms_spark.operators.merge import fold_or_exchange, merge_blobs

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


def _loads_any(blob: bytes):
    from dablooms_spark.core.serde import loads

    return loads(bytes(blob))


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
        shard = TaskContext.get().partitionId() if TaskContext.get() else 0
        n = 0
        for batch in batches:
            _update_from_arrow(sk, mode_, batch.column(0))
            n += batch.num_rows
        if n:
            yield pa.RecordBatch.from_pydict(
                {"shard": [shard], "blob": [sk.to_bytes()], "n": [n]},
                schema=pa.schema(
                    [("shard", pa.int64()), ("blob", pa.large_binary()), ("n", pa.int64())]
                ),
            )

    blob_df = sdf.mapInArrow(build, schema="shard long, blob binary, n long")
    # merge_blobs dispatches via blob magic; static sizing from the
    # (narrow) input plan's partition count skips the persist+count
    # job the dynamic path pays just to learn the blob count
    from dablooms_spark.operators.bloom_build import _static_num_partitions

    sk, _n = merge_blobs(
        blob_df, seed=0, fanin=8, num_blobs=_static_num_partitions(sdf)
    )
    if sk is None:
        sk, _ = _make(kind, params)
    return sk


def _grouped_build_partials(
    batches: Iterator[pa.RecordBatch], kind: str, params: dict, mode: str
) -> Iterator[pa.RecordBatch]:
    """Phase-1 body shared by grouped_sketch_agg and the fused
    merge+finalize operators: one partial sketch per group per task,
    batch rows partitioned by group Arrow-side (no per-row Python)."""
    sketches: dict[str, object] = {}
    counts: dict[str, int] = {}
    for batch in batches:
        tbl = pa.Table.from_batches([batch])
        # partition batch rows by group using Arrow-side dictionary
        # encoding (no per-row Python): sort indices by group code
        g = batch.column(0)
        codes = pa.compute.dictionary_encode(g)
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
            sk = sketches.get(gname)
            if sk is None:
                sk, _m = _make(kind, params)
                sketches[gname] = sk
                counts[gname] = 0
            _update_from_arrow(sk, mode, vcol.slice(lo, hi - lo))
            counts[gname] += hi - lo
    if sketches:
        names = list(sketches)
        yield pa.RecordBatch.from_pydict(
            {
                "g": names,
                "blob": [sketches[n].to_bytes() for n in names],
                "n": [counts[n] for n in names],
            },
            schema=pa.schema(
                [("g", pa.large_string()), ("blob", pa.large_binary()), ("n", pa.int64())]
            ),
        )


def grouped_sketch_agg(
    df: DataFrame,
    group_col: str,
    value_col: str,
    kind: str,
    **params,
) -> DataFrame:
    """One sketch blob per group: DataFrame(group string, blob binary,
    n long). Phase 1 holds a dict of per-group partial sketches per
    partition (map-side combine); phase 2 shuffles only blobs."""
    _, mode = _KINDS[kind]
    cast = "string" if mode == "string" else "double"
    sdf = df.select(
        F.col(group_col).cast("string").alias("g"),
        F.col(value_col).cast(cast).alias("v"),
    ).filter(F.col("v").isNotNull() & F.col("g").isNotNull())

    def build(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        yield from _grouped_build_partials(batches, kind, params, mode)

    partials = sdf.mapInArrow(build, schema="g string, blob binary, n long")

    def merge_group(pdf: pd.DataFrame) -> pd.DataFrame:
        sk = _loads_any(pdf.blob.iloc[0])
        for b in pdf.blob.iloc[1:]:
            sk = sk.merge(_loads_any(b))
        return pd.DataFrame(
            {"g": [pdf.g.iloc[0]], "blob": [sk.to_bytes()], "n": [int(pdf.n.sum())]}
        )

    return (
        partials.groupBy("g")
        .applyInPandas(merge_group, schema="g string, blob binary, n long")
        .withColumnRenamed("g", group_col)
    )


def sketch_rollup(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    kind: str,
    **params,
) -> DataFrame:
    """Sketch hierarchy: one blob per grouping level of a rollup —
    (c1, c2, ..., blob, n) with NULLs marking rolled-up levels, like
    SQL ROLLUP.

    The input is scanned ONCE (finest-level grouped sketches); every
    coarser level is produced by merging child blobs — kilobytes per
    group — instead of re-aggregating rows. This is the pattern that
    makes per-(lang, host) → per-lang → global cardinality hierarchies
    affordable at 10^12 rows: the raw data is touched once, the
    hierarchy is sketch algebra.
    """
    assert group_cols, "need at least one group column"
    finest = grouped_sketch_agg(
        df.withColumn(
            "__g", F.concat_ws("\x1f", *[F.col(c).cast("string") for c in group_cols])
        ),
        "__g",
        value_col,
        kind,
        **params,
    )
    split = F.split(F.col("__g"), "\x1f")
    finest = finest.select(
        *[split.getItem(i).alias(c) for i, c in enumerate(group_cols)],
        "blob",
        "n",
    ).persist()

    def merge_group(pdf: pd.DataFrame) -> pd.DataFrame:
        sk = _loads_any(pdf.blob.iloc[0])
        for b in pdf.blob.iloc[1:]:
            sk = sk.merge(_loads_any(b))
        out = {c: [pdf[c].iloc[0]] for c in pdf.columns if c not in ("blob", "n")}
        out["blob"] = [sk.to_bytes()]
        out["n"] = [int(pdf.n.sum())]
        return pd.DataFrame(out)

    levels = [finest]
    current = finest
    schema_cols = ", ".join(f"{c} string" for c in group_cols)
    for depth in range(len(group_cols) - 1, -1, -1):
        # null out the rolled-up dimensions, merge the parent level's
        # blobs per remaining key — each level is sketch algebra over
        # the level above, never a rescan
        nulled = current
        for c in group_cols[depth:]:
            nulled = nulled.withColumn(c, F.lit(None).cast("string"))
        level = nulled.groupBy(*group_cols).applyInPandas(
            merge_group, schema=f"{schema_cols}, blob binary, n long"
        )
        levels.append(level)
        current = level
    out = levels[0]
    for lv in levels[1:]:
        out = out.unionByName(lv)
    return out


def rollup_distinct(
    df: DataFrame, group_cols: list[str], key_col: str, p: int = 14
) -> DataFrame:
    """HLL distinct-count hierarchy: (group_cols..., approx_distinct)
    for every rollup level, input scanned once."""
    blobs = sketch_rollup(df, group_cols, key_col, "hll", p=p)
    schema_cols = ", ".join(f"{c} string" for c in group_cols)

    def estimate(pdf: pd.DataFrame) -> pd.DataFrame:
        ests = [int(round(HyperLogLog.from_bytes(b).estimate())) for b in pdf.blob]
        out = {c: pdf[c] for c in group_cols}
        out["approx_distinct"] = ests
        return pd.DataFrame(out)

    return blobs.groupBy(*group_cols).applyInPandas(
        estimate, schema=f"{schema_cols}, approx_distinct long"
    )


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
    """grouped_sketch_agg's phase 1 + a SINGLE phase-2 applyInPandas
    that merges each group's partial blobs AND finalizes (estimate /
    quantiles) in the same pass.

    The two-pass form (merge applyInPandas, then a second groupBy +
    applyInPandas for the estimate) pays a second Exchange + pandas
    round-trip: the merge's output attributes are new to Catalyst, so
    the follow-up groupBy cannot reuse the first shuffle's
    partitioning. The fold order over each group's blobs is the same
    shuffle-arrival order as the two-pass form — results identical."""
    _, mode = _KINDS[kind]
    cast = "string" if mode == "string" else "double"
    sdf = df.select(
        F.col(group_col).cast("string").alias("g"),
        F.col(value_col).cast(cast).alias("v"),
    ).filter(F.col("v").isNotNull() & F.col("g").isNotNull())

    def build(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        yield from _grouped_build_partials(batches, kind, params, mode)

    partials = sdf.mapInArrow(build, schema="g string, blob binary, n long")

    def merge_finalize(pdf: pd.DataFrame) -> pd.DataFrame:
        sk = _loads_any(pdf.blob.iloc[0])
        for b in pdf.blob.iloc[1:]:
            sk = sk.merge(_loads_any(b))
        return finalize(pdf.g.iloc[0], sk)

    # Small inputs (gated on the projected (g, v) frame) skip the
    # groupBy exchange + pandas stage and fold + finalize on the
    # driver: collected bytes are bounded by partitions x groups x
    # blob size, which only threatens the driver when the input itself
    # is large. Results identical — all sketches here merge
    # associatively, and the per-group fold order was already
    # shuffle-arrival order (arbitrary) on the exchange path.
    return fold_or_exchange(partials, ["g"], merge_finalize, out_schema, gate=sdf)


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
    shrink: a sparse blob never outgrows the register array."""

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
    """Per-group quantile estimates: (group, q double, value double)."""
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
    blob-only tree merge — the only shuffle moves <= k-entry blobs, and
    the driver holds exactly one <= k-entry summary at the end, never
    rows. At 100 TB the data is scanned ONCE; there is no candidate
    semi-join or second aggregation pass.

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
