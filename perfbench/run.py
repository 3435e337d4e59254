"""Repository benchmark for dablooms_spark.

    python3 perfbench/run.py --workload ingest_webpages --seed 1 --seconds 20 --trace 0

Load model: one driver process, one client thread, closed loop. The
client issues its next operator call only after the previous result is
materialised; Spark runs at local[4]. Each op is timed from call to
materialised result. Workloads, inputs and checks are in workloads.py;
README.md maps every metric to its layer and workload.

Timings are on-CPU wall (see `elapsed`). --trace 0 prints the
end-to-end metrics. --trace 1 enables Spark's event
log, alternates cycles with and without tracing, and prints the
per-layer metrics. Either way the last stdout line is one JSON object
{"correct", "attempted", "failed", "metrics"}; the line before it is a
JSON detail record (per-op series, RSS series, control loop, named
metrics), also written under perfbench/_work/.
"""

from __future__ import annotations

import time


def clock() -> tuple[float, int, int]:
    """(wall seconds, busy jiffies, steal jiffies); the jiffies are
    summed over all CPUs, from /proc/stat."""
    with open("/proc/stat") as fh:
        user, nice, system, _, _, irq, softirq, steal = map(int, fh.readline().split()[1:9])
    return time.perf_counter(), user + nice + system + irq + softirq, steal


T_PROCESS = clock()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")
CORES = 4
SETUP_REPS = 3
END_TO_END_UNITS = {
    "keys_per_s": "keys/s",
    "op_p50_s": "s",
    "setup_s": "s",
    "driver_peak_rss_mb": "MB",
}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["ingest_webpages", "probe_tpch", "sketch_groups"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", choices=["full", "tiny"], default="full",
                    help="input size; 'tiny' is the smoke-test size")
    return ap.parse_args(argv)


def control_loop_s(seed: int) -> float:
    """Spark-free numpy yardstick of host speed: median of 7 sorts of
    2M doubles."""
    import numpy as np

    data = np.random.default_rng(seed).random(2_000_000)
    walls = []
    for _ in range(7):
        t0 = time.perf_counter()
        np.sort(data)
        walls.append(time.perf_counter() - t0)
    return statistics.median(walls)


def rss_mb(pid) -> tuple[float, float]:
    """(current, peak) resident set of a process, in MB."""
    vals = {}
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            key, _, rest = line.partition(":")
            if key in ("VmRSS", "VmHWM"):
                vals[key] = int(rest.split()[0]) / 1024.0
    return vals.get("VmRSS", 0.0), vals.get("VmHWM", 0.0)


def make_session(run_dir: str, trace: bool):
    """local[4] session whose side files all live under run_dir and
    whose Python workers import dablooms_spark from this checkout,
    wherever the benchmark was started from."""
    from pyspark.sql import SparkSession

    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    b = (
        SparkSession.builder.master(f"local[{CORES}]")
        .appName("dablooms-perfbench")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # a pre-touched fixed heap keeps the JVM's share of
        # driver_peak_rss_mb from following GC timing
        .config("spark.driver.memory", "1g")
        .config("spark.driver.extraJavaOptions",
                f"-Xms1g -XX:+AlwaysPreTouch -Djava.io.tmpdir={tmp} -XX:-UsePerfData")
        .config("spark.local.dir", os.path.join(run_dir, "local"))
        .config("spark.sql.warehouse.dir", os.path.join(run_dir, "warehouse"))
        .config("spark.executorEnv.PYTHONPATH", os.environ["PYTHONPATH"])
        .config("spark.sql.shuffle.partitions", str(2 * CORES))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "20000")
    )
    if trace:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", "file://" + log_dir)
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.rolling.enabled", "false"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then end the JVM and wait for it."""
    proc = spark.sparkContext._gateway.proc
    spark.stop()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


class EventLogSwitch:
    """Detaches and re-attaches Spark's event logger between cycles, so
    that untraced cycles run without it (for trace.overhead_ratio)."""

    def __init__(self, sc):
        jsc = sc._jsc.sc()
        self.bus = jsc.listenerBus()
        self.logger = jsc.eventLogger().get()
        self.on = True

    def set(self, on: bool) -> None:
        if on and not self.on:
            self.bus.addToEventLogQueue(self.logger)
        elif self.on and not on:
            self.bus.removeListener(self.logger)
        self.on = on


def run_op(sc, workload: str, op, tracer=None) -> tuple[tuple, list[str], dict]:
    """One timed call of `op`, then its untimed check. An exception or
    a failed check is reported in the failure list, never raised."""
    sc.setJobDescription(f"bench:{workload}:{op.name}")
    span = tracer.begin(op.name) if tracer else None
    c0 = clock()
    err, result = None, None
    try:
        result = op.run()
    except Exception as e:
        err = f"{type(e).__name__}: {e}"
    wall = elapsed(c0, clock())
    if span:
        tracer.end(span)
    sc.setJobDescription(None)
    if err is not None:
        return wall, [err], {}
    try:
        fails, measures = op.check(result)
    except Exception as e:
        fails, measures = [f"check raised {type(e).__name__}: {e}"], {}
    return wall, fails, measures


def elapsed(c0, c1) -> tuple[float, float, float]:
    """(wall, on-CPU wall, CPU seconds) between two clock() readings.
    On a shared host the hypervisor withholds runnable vCPUs for a
    share of the time (steal); on-CPU wall scales the wall by
    busy / (busy + steal), so it estimates what the wall would have
    been without that. End-to-end timings use it."""
    wall = c1[0] - c0[0]
    busy, steal = c1[1] - c0[1], c1[2] - c0[2]
    return (wall, wall * busy / (busy + steal) if busy + steal else wall,
            busy / os.sysconf("SC_CLK_TCK"))


def geomean(xs):
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def run(args) -> tuple[dict, dict]:
    import workloads
    import tracing

    stamp = f"{args.workload}-seed{args.seed}-trace{args.trace}-{args.scale}"
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    os.makedirs(run_dir, exist_ok=True)
    detail: dict = {"workload": args.workload, "seed": args.seed, "scale": args.scale,
                    "trace": args.trace, "cores": CORES,
                    "load_model": "closed loop, 1 client, local[4]"}
    spark = None
    try:
        detail["control_start_s"] = control_loop_s(args.seed)
        spark = make_session(run_dir, bool(args.trace))
        sc = spark.sparkContext
        jvm_pid = sc._gateway.proc.pid
        from pyspark.sql import functions as F
        from dablooms_spark.operators import build_counting_bloom

        # the warm-up job crosses the Arrow/Python boundary on every core
        warm = spark.range(0, CORES * 200, 1, CORES * 2).select(
            F.col("id").cast("string").alias("k"))
        build_counting_bloom(warm, "k", capacity=1000, error_rate=0.05)
        session = elapsed(T_PROCESS, clock())

        wl = workloads.WORKLOADS[args.workload](spark, args.seed, args.scale)
        sc.setJobDescription(f"bench:{args.workload}:setup")
        c0 = clock()
        wl.load()
        load = elapsed(c0, clock())
        setup_walls = []
        for _ in range(SETUP_REPS):
            c0 = clock()
            wl.setup()
            setup_walls.append(elapsed(c0, clock()))
        wl.oracle()
        sc.setJobDescription(None)
        # the library's set-up builds repeat; session and inputs happen once
        setup, setup_raw = (session[i] + load[i] + statistics.median(w[i] for w in setup_walls)
                            for i in (1, 0))
        detail.update(session_s=session, load_s=load, setup_rep_s=setup_walls,
                      setup_s=setup, setup_raw_s=setup_raw,
                      inputs={"rows": wl.inputs.rows, "est_bytes": wl.inputs.est_bytes})

        ops = wl.ops()
        tracer = tracing.Tracer(sc, args.workload) if args.trace else None
        switch = EventLogSwitch(sc) if args.trace else None
        calls: list[dict] = []
        cycles: list[dict] = []
        quality: dict = {"false_negatives": 0, "fp_over_eps": 0.0,
                         "sketch_err_over_bound": 0.0}
        failures: list[str] = []

        def note(op_name, fails, measures):
            failures.extend(f"{op_name}: {f}" for f in fails)
            for k, v in measures.items():
                if k == "false_negatives":
                    quality[k] += v
                elif k in quality:
                    quality[k] = max(quality[k], v)
                else:
                    quality[k] = v

        # cycle 0 warms every op up (its calls are checked but not timed)
        # and leaves the filters the once-per-run verify reads; then
        # whole timed cycles run until --seconds of op wall. Traced runs
        # alternate plain and traced timed cycles, and
        # trace.overhead_ratio compares the two in one process.
        measured = 0.0
        cycle = 0
        while cycle == 0 or measured < args.seconds or (args.trace and cycle < 3):
            t_cycle = time.perf_counter()
            warmup = cycle == 0
            traced = bool(args.trace) and cycle % 2 == 0 and not warmup
            if switch:
                switch.set(traced)
            op_walls = 0.0
            for op in ops:
                (wall, oncpu, cpu), fails, measures = run_op(sc, args.workload, op,
                                                        tracer if traced else None)
                op_walls += wall
                note(op.name, fails, measures)
                calls.append({"op": op.name, "cycle": cycle, "traced": traced,
                              "warmup": warmup, "wall_s": wall, "oncpu_s": oncpu, "cpu_s": cpu,
                              "ok": not fails})
            py_rss, _ = rss_mb("self")
            jvm_rss, _ = rss_mb(jvm_pid)
            cycles.append({"cycle": cycle, "traced": traced, "warmup": warmup,
                           "op_wall_s": op_walls, "driver_rss_mb": py_rss + jvm_rss})
            if warmup:
                t0 = time.perf_counter()
                sc.setJobDescription(f"bench:{args.workload}:verify")
                try:
                    fails, measures = wl.verify()
                except Exception as e:
                    fails, measures = [f"verify raised {type(e).__name__}: {e}"], {}
                sc.setJobDescription(None)
                note("verify", fails, measures)
                detail["verify_s"] = time.perf_counter() - t0
                calls.append({"op": "verify", "cycle": cycle, "traced": False,
                              "warmup": True, "wall_s": None, "ok": not fails})
            else:
                measured += time.perf_counter() - t_cycle
            wl.end_cycle()
            cycle += 1
        if switch:
            switch.set(True)

        replay, scan_walls, prune = None, [], {}
        if args.trace:
            import numpy as np

            # sources layer: a count of every input as the ops see it
            for df in wl.inputs.frames.values():
                t0 = time.perf_counter()
                df.count()
                scan_walls.append(time.perf_counter() - t0)
            prune = wl.prune_ratios()
            frame, key_col, val_col, capacity = wl.replay_input()
            tbl = frame.select(key_col, val_col).toArrow()
            replay = tracing.replay_layers(
                tbl.column(0).combine_chunks(),
                np.asarray(tbl.column(1).to_numpy(), dtype=np.float64),
                capacity, workloads.EPS)

        _, py_peak = rss_mb("self")
        _, jvm_peak = rss_mb(jvm_pid)
        wl.release()
        stop_session(spark)
        spark = None
        detail["control_end_s"] = control_loop_s(args.seed)

        untraced = [c for c in calls if not (c["traced"] or c["warmup"])]
        keys_of = {op.name: op.keys for op in ops}
        kind_of = {op.name: op.kind for op in ops}
        def figures(field):
            # medians per op keep one slow call (a host hiccup) from
            # moving the run's figure
            med = {name: statistics.median(c[field] for c in untraced if c["op"] == name)
                   for name in keys_of}
            return med, sum(keys_of.values()) / sum(med.values()), geomean(list(med.values()))

        medians, keys_per_s, op_p50_s = figures("oncpu_s")
        _, raw_keys_per_s, raw_op_p50_s = figures("wall_s")
        e2e = {
            "keys_per_s": keys_per_s,
            "op_p50_s": op_p50_s,
            "setup_s": setup,
            "driver_peak_rss_mb": py_peak + jvm_peak,
        }
        detail["raw_wall"] = {"keys_per_s": raw_keys_per_s, "op_p50_s": raw_op_p50_s,
                              "setup_s": setup_raw}
        detail["named"] = named_metrics(e2e, quality, untraced, keys_of, kind_of)
        detail["ops"] = {name: {"oncpu_s": [c["oncpu_s"] for c in untraced if c["op"] == name],
                                "p50_s": medians[name], "keys": keys_of[name],
                                "kind": kind_of[name]} for name in keys_of}
        detail["cycles"] = cycles
        detail["quality"] = quality
        detail["notes"] = wl.notes
        detail["failures"] = failures
        attempted = len(calls)
        failed = sum(not c["ok"] for c in calls)
        detail["named"]["ops_failed_ratio"] = {"value": failed / attempted, "unit": "ratio"}
        if args.trace:
            metrics = per_layer(tracer, run_dir, args.workload, ops, cycles, replay,
                                scan_walls, prune, wl, quality, detail)
        else:
            metrics = {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in e2e.items()}
        result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
                  "metrics": metrics}
        os.makedirs(WORK, exist_ok=True)
        with open(os.path.join(WORK, f"{stamp}.json"), "w") as fh:
            json.dump({"detail": detail, "result": result}, fh, indent=1, default=str)
        return result, detail
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(run_dir, ignore_errors=True)


def named_metrics(e2e, quality, calls, keys_of, kind_of) -> dict:
    """The per-workload metrics by the names the README uses."""
    out = {"setup_s": (e2e["setup_s"], "s"),
           "driver_peak_rss_mb": (e2e["driver_peak_rss_mb"], "MB"),
           "false_negatives": (quality["false_negatives"], "count")}
    by_kind: dict[str, list] = {}
    for c in calls:
        by_kind.setdefault(kind_of[c["op"]], []).append(c)
    names = {"build": ("build_docs_per_s", "build_s_p50"),
             "remove": ("remove_keys_per_s", None),
             "probe": ("probe_keys_per_s", "probe_s_p50"),
             "agg": ("agg_rows_per_s", "agg_s_p50")}
    for kind, cs in by_kind.items():
        rate, p50 = names[kind]
        out[rate] = (sum(keys_of[c["op"]] for c in cs) / sum(c["oncpu_s"] for c in cs), "keys/s")
        if p50:
            out[p50] = (statistics.median(c["oncpu_s"] for c in cs), "s")
    if "build" in by_kind or "probe" in by_kind:
        out["fp_over_eps"] = (quality["fp_over_eps"], "ratio")
        out["filter_bytes_per_key"] = (quality.get("filter_bytes_per_key", 0.0), "B/key")
    if "agg" in by_kind:
        out["sketch_err_over_bound"] = (quality["sketch_err_over_bound"], "ratio")
    return {k: {"value": v, "unit": u} for k, (v, u) in out.items()}


def per_layer(tracer, run_dir, workload, ops, cycles, replay, scan_walls, prune, wl,
              quality, detail) -> dict:
    """Per-layer metrics of a traced run: operator spans joined with
    the event log, driver replays of functions/core, sources scans."""
    import tracing

    tracer.close()
    jobs, stages = tracing.read_event_log(os.path.join(run_dir, "eventlog"))
    per_call = tracing.attribute(tracer.spans, jobs, stages,
                                 lambda op: f"bench:{workload}:{op}")
    keys_of = {op.name: op.keys for op in ops}
    replay_of = {op.name: op.replay for op in ops}
    per_op = {}
    for name in keys_of:
        rows = [r for r in per_call if r["op"] == name]
        med = {k: statistics.median(r[k] for r in rows) for k in rows[0] if k != "op"}
        model_s = sum(replay[c] for c in replay_of[name]) * keys_of[name] / replay["keys"]
        med["boundary_s"] = med["executor_run_s"] - model_s
        per_op[name] = med
    for name, extra in prune.items():
        per_op[name].update(extra)
    detail["per_op"] = per_op
    detail["spans"] = len(tracer.spans)
    with open(os.path.join(WORK, f"spans-{workload}-seed{detail['seed']}-{detail['scale']}.json"),
              "w") as fh:
        json.dump(tracer.spans, fh, default=str)

    def total(k):
        return sum(v[k] for v in per_op.values())

    wall, run_s = total("wall_s"), total("executor_run_s")
    traced_c = [c["op_wall_s"] for c in cycles if c["traced"]]
    plain_c = [c["op_wall_s"] for c in cycles if not (c["traced"] or c["warmup"])]
    m = {
        "sources.scan_s": sum(scan_walls),
        "sources.rows": sum(wl.inputs.rows.values()),
        "sources.est_bytes": sum(wl.inputs.est_bytes.values()),
        "operators.wall_s": wall,
        "operators.driver_self_s": total("driver_self_s"),
        "operators.job_share": 1.0 - total("driver_self_s") / wall,
        "operators.jobs": total("jobs"),
        "operators.stages": total("stages"),
        "operators.tasks": total("tasks"),
        "operators.python_stages": total("python_stages"),
        "operators.exchanges": total("exchanges"),
        "operators.shuffle_bytes": total("shuffle_bytes"),
        "operators.result_bytes": total("result_bytes"),
        "operators.broadcasts": total("broadcasts"),
        "operators.executor_run_s": run_s,
        "operators.executor_cpu_s": total("executor_cpu_s"),
        "operators.slot_idle_frac": 1.0 - run_s / (wall * CORES),
        "operators.boundary_s": total("boundary_s"),
        "quality.err_over_bound": max(quality["fp_over_eps"], quality["sketch_err_over_bound"]),
        "host.control_start_s": detail["control_start_s"],
        "host.control_end_s": detail["control_end_s"],
        "trace.overhead_ratio": statistics.median(traced_c) / statistics.median(plain_c),
    }
    m.update({k: v for k, v in replay.items() if k != "keys"})
    units = layer_units()
    return {k: {"value": m[k], "unit": units[k]} for k in units}


def layer_units() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)["per_layer"]}


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    try:
        import dablooms_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import dablooms_spark from {ROOT}: {e}", file=sys.stderr)
        return 2
    try:
        result, detail = run(args)
    except Exception:
        traceback.print_exc()
        return 1
    print(json.dumps({"detail": detail}, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
