"""The three benchmark workloads: inputs, set-up, timed ops and their
correctness gates.

Every input is generated from the run's seed inside Spark (no files are
read), so the same seed always gives the same inputs and the library
only ever sees the generated DataFrames. Each timed op returns a
materialised result (a driver-side filter, a collected row list or a
count), so moving work between DataFrame construction and the action
cannot move its wall time. Each op carries a check that is applied to
its result untimed; a check failure counts as a failed op exactly like
an exception does.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field
from typing import Callable

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dablooms_spark.operators import (
    bloom_probe_column,
    bloom_remove_distributed,
    bloom_semi_join,
    build_counting_bloom,
    build_scaling_bloom,
    build_sharded_scaling_layers,
    observed_fp_rate_per_layer,
    sharded_scaling_probe,
    sharded_scaling_semi_join,
)
from dablooms_spark.operators.sketch_agg import approx_distinct_by, quantiles_by, sketch_agg
from dablooms_spark.sources import synth_webpages

EPS = 0.01
# the library's size gates, at their defaults (bloom_build / bloom_probe)
DRIVER_MERGE_MAX_BYTES = 32 << 20
PROBE_BROADCAST_BYTES = 64 << 20
PARTITIONS = 4
VERIFY_KEYS = 32_000  # about this many inserted keys (or all) feed the per-run ingest checks

# Published error bounds the sketch checks hold each estimate to.
HLL_P = 14
HLL_REL_BOUND = 4 * 1.04 / math.sqrt(1 << HLL_P)  # 4 standard errors...
HLL_ABS_SLACK = 1  # ...plus one for rounding the estimate to a count
CMS_EPS = 1e-4  # overcount <= eps * N with probability 1 - delta
CMS_DELTA = 0.01
KLL_K = 200
KLL_RANK_BOUND = 0.0165  # normalized rank error at k=200, 99% confidence
TDIGEST_RANK_BOUND = 0.01  # rank error at the probed quantiles

# Input sizes per scale: "full" is what the benchmark measures, "tiny"
# is the smoke-test size (sf0.001 and ~10k synthetic pages).
SCALES = {
    "full": {"pages": 500_000, "sf": 0.1, "sketch_pages": 250_000},
    "tiny": {"pages": 10_000, "sf": 0.001, "sketch_pages": 10_000},
}


@dataclass
class Op:
    """One timed operator call: `run` returns the materialised result,
    `check` maps it to (failures, quality measures) untimed."""

    name: str
    kind: str  # build | remove | probe | agg
    keys: int  # keys inserted, removed, probed or aggregated per call
    run: Callable[[], object]
    check: Callable[[object], tuple[list[str], dict]]
    # functions/core replay components that model the op's executor work
    replay: tuple[str, ...] = ()


@dataclass
class Inputs:
    """What set-up leaves behind: the DataFrames the ops read, with
    their row counts and the Catalyst size estimates the gates read."""

    frames: dict[str, DataFrame] = field(default_factory=dict)
    rows: dict[str, int] = field(default_factory=dict)
    est_bytes: dict[str, int] = field(default_factory=dict)


def plan_bytes(df: DataFrame) -> int:
    """Catalyst's optimized-plan sizeInBytes, the number the size gates read."""
    return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())


def _unit(col, seed: int, salt: int):
    """Seeded uniform [0, 1) per row, computed in the JVM."""
    return (F.abs(F.xxhash64(col, F.lit(seed * 7919 + salt))) % 1_000_000) / 1_000_000.0


def rank_error(sorted_vals: np.ndarray, x: float, q: float) -> float:
    """Distance from q to the exact rank interval of x."""
    n = len(sorted_vals)
    lo = np.searchsorted(sorted_vals, x, "left") / n
    hi = np.searchsorted(sorted_vals, x, "right") / n
    return 0.0 if lo <= q <= hi else min(abs(q - lo), abs(q - hi))


def _gate(failures: list[str], name: str, ratio: float) -> None:
    if not ratio <= 1.0:
        failures.append(f"{name} = {ratio:.4g} x bound")


class Workload:
    """Base: `load` generates the inputs once; `setup` (repeatable)
    builds the library state the ops read; `oracle` computes exact
    answers once; `ops` lists one cycle of timed ops; `end_cycle` releases per-cycle
    state; `verify` runs the untimed once-per-run checks."""

    name = ""

    def __init__(self, spark: SparkSession, seed: int, scale: str):
        self.spark = spark
        self.seed = seed
        self.size = SCALES[scale]
        self.inputs = Inputs()
        self.cached: list[DataFrame] = []
        self.notes: dict = {}

    def _cache(self, name: str, df: DataFrame) -> DataFrame:
        df = df.persist()
        self.cached.append(df)
        self.inputs.rows[name] = df.count()
        self.inputs.est_bytes[name] = plan_bytes(df)
        self.inputs.frames[name] = df
        return df

    def release(self) -> None:
        for df in self.cached:
            df.unpersist()
        self.cached = []

    def load(self) -> None:
        raise NotImplementedError

    def setup(self) -> None:
        """Library work the timed ops depend on (none by default)."""

    def oracle(self) -> None:
        """Exact answers the checks compare against, computed once
        after set-up with plain Spark and numpy."""

    def ops(self) -> list[Op]:
        raise NotImplementedError

    def end_cycle(self) -> None:
        pass

    def verify(self) -> tuple[list[str], dict]:
        return [], {}

    def prune_ratios(self) -> dict[str, dict]:
        """Per semi-join op: filter survivors / probe rows and exact
        survivors / filter survivors (traced runs only)."""
        return {}

    def replay_input(self) -> tuple[DataFrame, str, str, int]:
        """(frame, string key column, numeric column, filter capacity)
        for the driver-side functions/core replays."""
        raise NotImplementedError


class IngestWebpages(Workload):
    """Write path above every size gate: builds over 500k long URLs."""

    name = "ingest_webpages"

    def load(self) -> None:
        n = self.size["pages"]
        # not cached: the builds read the generated crawl directly, and
        # the all-column plan estimate is what the merge gate reads
        wp = synth_webpages(self.spark, n_rows=n, seed=self.seed, partitions=PARTITIONS)
        self.inputs.frames["webpages"] = wp
        self.inputs.rows["webpages"] = wp.select("url").count()
        self.inputs.est_bytes["webpages"] = plan_bytes(wp)
        self.notes["url_only_est_bytes"] = plan_bytes(wp.select("url"))
        if n == SCALES["full"]["pages"] and plan_bytes(wp) <= DRIVER_MERGE_MAX_BYTES:
            raise AssertionError("ingest input estimate no longer above the driver-merge gate")
        self.n = self.inputs.rows["webpages"]
        self.sc_capacity = max(self.n // 4, 2)
        self.sc_layers = (self.n - 1) // (self.sc_capacity - 1) + 1
        self.sh_shards = 8
        self.sh_capacity = max(self.n // 32, 2)
        self.sh_layers = -(-self.n // ((self.sh_capacity - 1) * self.sh_shards))
        self.cycle: dict = {}

    def ops(self) -> list[Op]:
        wp, n = self.inputs.frames["webpages"], self.n
        cyc = self.cycle

        def counting():
            cyc["counting"] = build_counting_bloom(
                wp, "url", capacity=int(n * 1.1), error_rate=EPS)
            return cyc["counting"]

        def scaling():
            cyc["scaling"] = build_scaling_bloom(
                wp, "url", "row_id", capacity=self.sc_capacity, error_rate=EPS,
                id_layout="dense", expected_layers=self.sc_layers)
            return cyc["scaling"]

        def sharded():
            layers = build_sharded_scaling_layers(
                wp, "url", "row_id", capacity=self.sh_capacity, error_rate=EPS,
                num_shards=self.sh_shards, expected_layers=self.sh_layers).persist()
            cyc["sharded"] = layers
            layers.count()
            return layers

        def remove():
            filt = cyc["scaling"]
            dels = wp.filter(F.col("row_id") % 2 == 1)
            return bloom_remove_distributed(filt, dels, "url", "row_id")

        def check_count(expect):
            def check(filt):
                got = filt.count
                return ([] if got == expect else [f"count {got} != {expect}"]), {}
            return check

        def check_sharded(layers):
            got = layers.agg(F.sum("n")).first()[0]
            return ([] if got == n else [f"sharded count {got} != {n}"]), {}

        removed = n // 2
        return [
            Op("build_counting_bloom", "build", n, counting, check_count(n),
               ("functions.murmur.hash_s", "core.counting_bloom.add_s")),
            Op("build_scaling_bloom", "build", n, scaling, check_count(n),
               ("functions.murmur.hash_s", "core.scaling_bloom.add_s")),
            Op("build_sharded_scaling_layers", "build", n, sharded, check_sharded,
               ("functions.murmur.hash_s", "core.scaling_bloom.add_s")),
            Op("bloom_remove_distributed", "remove", removed, remove,
               check_count(n - removed),
               ("functions.murmur.hash_s", "core.scaling_bloom.add_s")),
        ]

    def end_cycle(self) -> None:
        if "sharded" in self.cycle:
            self.cycle.pop("sharded").unpersist()
        self.cycle.clear()

    def verify(self) -> tuple[list[str], dict]:
        """test_dablooms add-all/remove-half on this cycle's filters:
        no false negative on kept keys, FP <= eps on removed keys (per
        layer and compound), and FP <= eps on keys never inserted."""
        wp, cyc = self.inputs.frames["webpages"], self.cycle
        sb, cb, sh = cyc["scaling"], cyc["counting"], cyc["sharded"]
        fails: list[str] = []
        odd = F.col("row_id") % 2 == 1
        count = lambda cond: F.sum(cond.cast("long"))
        # 2 keys in every `every`, spread over every layer and shard,
        # generated once and probed as inserted and as never-inserted
        # against all filters
        every = max(2, self.n // VERIFY_KEYS & ~1)
        part = wp.filter(F.col("row_id") % every < 2).select("url", "row_id").persist()
        mixed = part.withColumn("present", F.lit(True)).unionByName(
            part.withColumn("url", F.concat("url", F.lit("?absent")))
            .withColumn("present", F.lit(False)))
        mixed = bloom_probe_column(mixed, "url", sb, "in_sb")
        mixed = bloom_probe_column(mixed, "url", cb, "in_cb")
        mixed = sharded_scaling_probe(mixed, "url", sh, num_shards=self.sh_shards,
                                      out_col="in_sh")
        p, kept = F.col("present"), F.col("present") & ~odd
        r = mixed.agg(
            count(kept & ~F.col("in_sb")).alias("fn_sb"),
            count(p & ~F.col("in_cb")).alias("fn_cb"),
            count(p & ~F.col("in_sh")).alias("fn_sh"),
            count(p & odd & F.col("in_sb")).alias("fp_removed"),
            count(p & odd).alias("removed"),
            count(~p & F.col("in_cb")).alias("fp_cb"),
            count(~p & F.col("in_sh")).alias("fp_sh"),
            count(~p).alias("absent"),
        ).first()
        false_negatives = r["fn_sb"] + r["fn_cb"] + r["fn_sh"]
        if false_negatives:
            fails.append(f"false negatives: {false_negatives}")
        ratios = {"scaling.removed": r["fp_removed"] / r["removed"] / EPS,
                  "counting.absent": r["fp_cb"] / r["absent"] / EPS,
                  "sharded.absent": r["fp_sh"] / r["absent"] / EPS}
        removed = part.filter(odd).select("url")
        for row in observed_fp_rate_per_layer(removed, "url", sb).collect():
            ratios[f"scaling.layer{row['layer']}.removed"] = (
                row["false_positives"] / row["probes"]) / row["layer_eps"]
        part.unpersist()
        fp_over_eps = max(ratios.values())
        _gate(fails, "fp_over_eps", fp_over_eps)
        self.notes["fp_over_eps_by_filter"] = ratios
        self.notes["scaling_layers"] = len(sb.layers)
        return fails, {
            "false_negatives": int(false_negatives),
            "fp_over_eps": fp_over_eps,
            "filter_bytes_per_key": len(cb.to_bytes()) / self.n,
        }

    def replay_input(self):
        wp = self.inputs.frames["webpages"]
        sample = min(self.n, 500_000)
        df = wp.filter(F.col("row_id") < sample).select(
            "url", F.col("row_id").cast("double").alias("v"))
        return df, "url", "v", int(sample * 1.1)


def tpch_tables(spark: SparkSession, seed: int, sf: float) -> dict[str, DataFrame]:
    """Seeded TPC-H-shaped customer/orders/lineitem at scale factor sf
    (sf0.1: 15k customers, 150k orders, ~600k lineitems, ~70% of
    orders above o_totalprice 150000)."""
    n_cust, n_ord = int(150_000 * sf), int(1_500_000 * sf)
    customer = spark.range(1, n_cust + 1, 1, PARTITIONS).select(
        F.col("id").alias("c_custkey"),
        F.round(_unit("id", seed, 1) * 10999.98 - 999.99, 2).alias("c_acctbal"),
    )
    orders = spark.range(1, n_ord + 1, 1, PARTITIONS).select(
        F.col("id").alias("o_orderkey"),
        (F.abs(F.xxhash64("id", F.lit(seed * 7919 + 2))) % n_cust + 1).alias("o_custkey"),
        F.round(_unit("id", seed, 3) * 499_000 + 1000, 2).alias("o_totalprice"),
    )
    lines = (F.abs(F.xxhash64("o_orderkey", F.lit(seed * 7919 + 4))) % 7 + 1).cast("int")
    lineitem = orders.select(
        F.col("o_orderkey").alias("l_orderkey"),
        F.explode(F.sequence(F.lit(1), lines)).alias("l_linenumber"),
        F.col("o_totalprice").alias("l_extendedprice"),
    )
    return {"customer": customer, "orders": orders, "lineitem": lineitem}


class ProbeTpch(Workload):
    """Read path below every size gate: semi joins and a probe against
    filters built in set-up, over short integer-string keys."""

    name = "probe_tpch"
    SHARDS = 8

    def load(self) -> None:
        t = tpch_tables(self.spark, self.seed, self.size["sf"])
        customer = self._cache("customer", t["customer"])
        orders = self._cache("orders", t["orders"])
        lineitem = self._cache("lineitem", t["lineitem"])

        self.dim = customer.filter(F.col("c_acctbal") > 0).select(
            F.col("c_custkey").cast("string").alias("ckey"))
        self.rich = orders.filter(F.col("o_totalprice") > 150000).select(
            F.col("o_orderkey").cast("string").alias("okey"),
            F.col("o_orderkey").alias("oid"))
        self.orders_probe = orders.withColumn("okey", F.col("o_custkey").cast("string"))
        self.line_probe = lineitem.withColumn("lkey", F.col("l_orderkey").cast("string"))
        # 50/50 seeded mix: present keys are inserted lineitem keys,
        # absent ones shift the line number past the 7 TPC-H allows
        absent = _unit(F.concat_ws(":", "l_orderkey", "l_linenumber"), self.seed, 5) < 0.5
        self.mix = lineitem.select(
            F.concat_ws(":", "l_orderkey",
                        F.col("l_linenumber") + F.when(absent, 7).otherwise(0)).alias("k"),
            (~absent).alias("present"))

        self.line_keys = lineitem.select(
            F.concat_ws(":", "l_orderkey", "l_linenumber").alias("k"))
        self.n_dim, self.n_rich = self.dim.count(), self.rich.count()
        self.orders_layers = None

    def setup(self) -> None:
        cap = lambda n: max(int(n * 1.1), 100)
        self.cust_filter = build_counting_bloom(
            self.dim, "ckey", capacity=cap(self.n_dim), error_rate=EPS)
        if self.orders_layers is not None:
            self.orders_layers.unpersist()
        self.orders_layers = build_sharded_scaling_layers(
            self.rich, "okey", "oid", capacity=cap(self.n_rich // self.SHARDS),
            error_rate=EPS, num_shards=self.SHARDS).persist()
        layer_rows = self.orders_layers.count()
        self.line_filter = build_counting_bloom(
            self.line_keys, "k", capacity=cap(self.inputs.rows["lineitem"]), error_rate=EPS)
        self.notes.update(orders_layer_rows=layer_rows, rich_orders=self.n_rich,
                          dim_keys=self.n_dim)

    def release(self) -> None:
        super().release()
        if self.orders_layers is not None:
            self.orders_layers.unpersist()

    def oracle(self) -> None:
        self.exact_semi_orders = self.orders_probe.join(
            self.dim, F.col("okey") == F.col("ckey"), "left_semi").count()
        self.exact_semi_lines = self.line_probe.join(
            self.rich, F.col("lkey") == F.col("okey"), "left_semi").count()
        counts = self.mix.groupBy("present").count().collect()
        self.mix_present = sum(r["count"] for r in counts if r["present"])
        self.mix_absent = sum(r["count"] for r in counts if not r["present"])

        layer_bytes, self.orders_eps = self.orders_layers.agg(
            F.sum(F.length("blob")), F.first("sb_eps")).first()
        self.filter_bytes = {
            "customer_counting": len(self.cust_filter.to_bytes()),
            "orders_sharded_scaling": int(layer_bytes or 0),
            "lineitem_counting": len(self.line_filter.to_bytes()),
        }
        if max(self.filter_bytes.values()) >= PROBE_BROADCAST_BYTES:
            raise AssertionError("a probe_tpch filter is no longer below the broadcast gate")
        self.notes["filter_bytes"] = self.filter_bytes

    def ops(self) -> list[Op]:
        def semi_orders():
            return bloom_semi_join(self.orders_probe, "okey", self.cust_filter,
                                   exact_df=self.dim, exact_key="ckey").count()

        def semi_lines():
            return sharded_scaling_semi_join(
                self.line_probe, "lkey", self.orders_layers, exact_df=self.rich,
                exact_key="okey", num_shards=self.SHARDS).count()

        def probe_mix():
            p, m = F.col("present"), F.col("is_member")
            return bloom_probe_column(self.mix, "k", self.line_filter).agg(
                F.sum((p & ~m).cast("long")).alias("fn"),
                F.sum((~p & m).cast("long")).alias("fp"),
            ).first()

        def check_equal(expect):
            def check(got):
                return ([] if got == expect else [f"semi join rows {got} != exact {expect}"]), {}
            return check

        def check_mix(row):
            fails = []
            if row["fn"]:
                fails.append(f"false negatives: {row['fn']}")
            ratio = (row["fp"] / self.mix_absent) / EPS
            _gate(fails, "fp_over_eps", ratio)
            return fails, {"false_negatives": int(row["fn"]), "fp_over_eps": ratio}

        rows = self.inputs.rows
        return [
            Op("bloom_semi_join", "probe", rows["orders"], semi_orders,
               check_equal(self.exact_semi_orders),
               ("functions.murmur.hash_s", "core.counting_bloom.check_s")),
            Op("sharded_scaling_semi_join", "probe", rows["lineitem"], semi_lines,
               check_equal(self.exact_semi_lines),
               ("functions.murmur.hash_s", "core.scaling_bloom.check_s")),
            Op("bloom_probe_column", "probe", rows["lineitem"], probe_mix, check_mix,
               ("functions.murmur.hash_s", "core.counting_bloom.check_s")),
        ]

    def prune_ratios(self) -> dict[str, dict]:
        rows = self.inputs.rows
        hits_o = bloom_probe_column(self.orders_probe, "okey", self.cust_filter).filter(
            "is_member").count()
        hits_l = sharded_scaling_probe(self.line_probe, "lkey", self.orders_layers,
                                       num_shards=self.SHARDS).filter("is_member").count()
        return {
            "bloom_semi_join": {"prune_ratio": hits_o / rows["orders"],
                                "confirm_ratio": self.exact_semi_orders / max(hits_o, 1)},
            "sharded_scaling_semi_join": {"prune_ratio": hits_l / rows["lineitem"],
                                          "confirm_ratio": self.exact_semi_lines / max(hits_l, 1)},
        }

    def verify(self) -> tuple[list[str], dict]:
        """Set-up filters: no false negatives on their keys, FP <= eps
        on keys they never saw; one probe pass per filter."""
        fails: list[str] = []
        n_cust = self.inputs.rows["customer"]
        n_ord = self.inputs.rows["orders"]

        def mixed(keys, never, col):
            return keys.select(col, F.lit(True).alias("present")).unionByName(
                never.select(F.col("id").cast("string").alias(col), F.lit(False).alias("present")))

        def tally(probed):
            p, m = F.col("present"), F.col("is_member")
            return probed.agg(F.sum((p & ~m).cast("long")).alias("fn"),
                              F.sum((~p & m).cast("long")).alias("fp"),
                              F.sum((~p).cast("long")).alias("absent")).first()

        never_cust = self.spark.range(n_cust + 1, n_cust + 1 + 10 * n_cust, 1, PARTITIONS)
        never_ord = self.spark.range(n_ord + 1, 2 * n_ord + 1, 1, PARTITIONS)
        r1 = tally(bloom_probe_column(mixed(self.dim, never_cust, "ckey"), "ckey",
                                      self.cust_filter))
        r2 = tally(sharded_scaling_probe(mixed(self.rich, never_ord, "okey"), "okey",
                                         self.orders_layers, num_shards=self.SHARDS))
        fn = r1["fn"] + r2["fn"]
        if fn:
            fails.append(f"false negatives: {fn}")
        ratios = {"customer_counting": r1["fp"] / r1["absent"] / EPS,
                  "orders_sharded_scaling": r2["fp"] / r2["absent"] / self.orders_eps}
        fp_over_eps = max(ratios.values())
        _gate(fails, "fp_over_eps", fp_over_eps)
        self.notes["fp_over_eps_by_filter"] = ratios
        keys = self.notes["dim_keys"] + self.notes["rich_orders"] + self.inputs.rows["lineitem"]
        return fails, {"false_negatives": int(fn), "fp_over_eps": fp_over_eps,
                       "filter_bytes_per_key": sum(self.filter_bytes.values()) / keys}

    def replay_input(self):
        df = self.mix.limit(500_000).withColumn("v", F.rand(self.seed))
        return df, "k", "v", int(self.inputs.rows["lineitem"] * 1.1)


EVENT_TYPES = ("view", "click", "purchase", "signup", "error")


def events_table(spark: SparkSession, seed: int, sf: float) -> DataFrame:
    """Seeded `events` stream at scale factor sf (sf0.1: 100k rows, 5
    even event types, 1,500 users, exponential values)."""
    n, users = int(1_000_000 * sf), max(int(15_000 * sf), 1)
    pick = (F.abs(F.xxhash64("id", F.lit(seed * 7919 + 6))) % len(EVENT_TYPES) + 1).cast("int")
    return spark.range(0, n, 1, PARTITIONS).select(
        F.col("id").alias("event_id"),
        (F.abs(F.xxhash64("id", F.lit(seed * 7919 + 7))) % users + 1).alias("user_id"),
        F.element_at(F.array(*[F.lit(t) for t in EVENT_TYPES]), pick).alias("event_type"),
        F.round(-50.0 * F.log(1.0 - _unit("id", seed, 8)), 2).alias("value"),
    )


class SketchGroups(Workload):
    """Grouped sketch aggregation, no Bloom code: few even groups
    (events by type) and many skewed ones (pages by host)."""

    name = "sketch_groups"

    def load(self) -> None:
        events = self._cache("events", events_table(self.spark, self.seed, self.size["sf"]))
        wp = synth_webpages(self.spark, n_rows=self.size["sketch_pages"], seed=self.seed,
                            partitions=PARTITIONS)
        self._cache("pages", wp.select(
            F.split("url", "/").getItem(2).alias("host"), "url",
            F.col("warc_ts").cast("double").alias("ts")))

    def oracle(self) -> None:
        events, pages = self.inputs.frames["events"], self.inputs.frames["pages"]
        ev = events.select("event_type", "user_id", "value").toArrow().to_pandas()
        pg = pages.select("host", "ts").toArrow().to_pandas()
        self.exact_distinct_events = ev.groupby("event_type").user_id.nunique().to_dict()
        self.exact_count_events = ev.event_type.value_counts().to_dict()
        self.exact_distinct_hosts = pg.host.value_counts().to_dict()  # urls are unique
        self.sorted_values = {g: np.sort(s.to_numpy()) for g, s in ev.groupby("event_type").value}
        self.sorted_ts = {g: np.sort(s.to_numpy()) for g, s in pg.groupby("host").ts}
        top = max(self.exact_distinct_hosts.values()) / len(pg)
        self.notes.update(hosts=len(self.exact_distinct_hosts), top_host_share=top)

    def ops(self) -> list[Op]:
        events, pages = self.inputs.frames["events"], self.inputs.frames["pages"]
        n_ev, n_pg = self.inputs.rows["events"], self.inputs.rows["pages"]

        def distinct_check(exact: dict, col: str):
            def check(rows):
                fails, worst = [], 0.0
                got = {r[col]: r["approx_distinct"] for r in rows}
                if set(got) != set(exact):
                    fails.append("group set differs from exact")
                for g, e in exact.items():
                    bound = HLL_REL_BOUND * e + HLL_ABS_SLACK
                    worst = max(worst, abs(got.get(g, 0) - e) / bound)
                _gate(fails, "hll err/bound", worst)
                return fails, {"sketch_err_over_bound": worst}
            return check

        def quantile_check(sorted_by_group: dict, col: str, bound: float):
            def check(rows):
                fails, worst, groups = [], 0.0, set()
                for r in rows:
                    groups.add(r[col])
                    vals = sorted_by_group.get(r[col])
                    if vals is None:
                        fails.append(f"unknown group {r[col]!r}")
                        continue
                    worst = max(worst, rank_error(vals, r["value"], r["q"]) / bound)
                if groups != set(sorted_by_group):
                    fails.append("group set differs from exact")
                _gate(fails, "rank err/bound", worst)
                return fails, {"sketch_err_over_bound": worst}
            return check

        def cms_check(cms):
            fails, worst = [], 0.0
            keys = list(self.exact_count_events)
            est = cms.query(keys)
            for k, e in zip(keys, est):
                over = int(e) - self.exact_count_events[k]
                if over < 0:
                    fails.append(f"cms undercount on {k}")
                worst = max(worst, over / (CMS_EPS * n_ev))
            _gate(fails, "cms overcount/bound", worst)
            return fails, {"sketch_err_over_bound": worst}

        return [
            Op("approx_distinct_by.events", "agg", n_ev,
               lambda: approx_distinct_by(events, "event_type", "user_id", p=HLL_P).collect(),
               distinct_check(self.exact_distinct_events, "event_type"), ("core.hll.add_s",)),
            Op("sketch_agg.cms.events", "agg", n_ev,
               lambda: sketch_agg(events, "event_type", "cms", eps=CMS_EPS, delta=CMS_DELTA),
               cms_check, ("core.cms.add_s",)),
            Op("quantiles_by.tdigest.events", "agg", n_ev,
               lambda: quantiles_by(events, "event_type", "value", [0.5, 0.95, 0.99],
                                    kind="tdigest").collect(),
               quantile_check(self.sorted_values, "event_type", TDIGEST_RANK_BOUND),
               ("core.tdigest.add_s",)),
            Op("quantiles_by.kll.events", "agg", n_ev,
               lambda: quantiles_by(events, "event_type", "value", [0.5],
                                    kind="kll", k=KLL_K).collect(),
               quantile_check(self.sorted_values, "event_type", KLL_RANK_BOUND),
               ("core.kll.add_s",)),
            Op("approx_distinct_by.hosts", "agg", n_pg,
               lambda: approx_distinct_by(pages, "host", "url", p=HLL_P).collect(),
               distinct_check(self.exact_distinct_hosts, "host"), ("core.hll.add_s",)),
            Op("quantiles_by.kll.hosts", "agg", n_pg,
               lambda: quantiles_by(pages, "host", "ts", [0.5], kind="kll", k=KLL_K).collect(),
               quantile_check(self.sorted_ts, "host", KLL_RANK_BOUND), ("core.kll.add_s",)),
        ]

    def replay_input(self):
        pages = self.inputs.frames["pages"]
        return pages.limit(500_000), "url", "ts", 500_000


WORKLOADS = {w.name: w for w in (IngestWebpages, ProbeTpch, SketchGroups)}
