"""Same-window interleaved A/B across two library trees (measurement
doctrine: the host swings ~3.5x between multi-hour epochs, so only
interleaved ratios are honest — never compare runs from different
windows). Two modes:

    python tools/ab_bench_suite.py <treeA> <treeB> [pairs]

Each pair runs treeA's bench.py then treeB's (ABBA order alternates
per pair to cancel linear drift) as fresh subprocesses with
BENCH_TRIALS from $AB_BENCH_TRIALS (default 2). Reports per-query and
total min per side + min-ratio B/A; appends one JSON line to
BENCH/ab_suite.jsonl.

    python tools/ab_bench_suite.py --perfbench <workload> --ref <git-ref> \
        --pairs N --seed S --out <jsonl> [--trace 0|1] [--set NAME]

Exports <git-ref> into a temporary directory (`git archive`, removed
afterwards) as the parent side; the change side is the tree this tool
lives in. Each pair runs `perfbench/run.py` once per side, in ABBA
order, each run from its own tree, for BENCHMARK.json's `run_seconds`.
Appends one line per run (set, seed, workload, pair, side, first, rc,
elapsed_s, the run's result line, per-op medians, and with --trace 1 the
traced per-op record), then one summary line: per metric both medians,
the parent's IQR, the change/parent ratio of medians and the pairs the
change won, and the failed ops per side.
"""

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_one(tree: str) -> dict:
    env = dict(
        os.environ,
        BENCH_TRIALS=os.environ.get("AB_BENCH_TRIALS", "2"),
        BENCH_EXTRA_BUILD_TRIALS=os.environ.get("AB_BENCH_EXTRA", "0"),
    )
    out = subprocess.run(
        [sys.executable, os.path.join(tree, "bench.py")],
        env=env, capture_output=True, text=True, timeout=900, cwd=tree,
    )
    line = [l for l in out.stdout.strip().splitlines() if l.startswith("{")][-1]
    return json.loads(line)


def run_perfbench(tree: str, workload: str, seed: int, seconds: float, trace: int) -> dict:
    t0 = time.perf_counter()
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        capture_output=True, text=True, timeout=1800, cwd=tree,
    )
    rec = {"rc": out.returncode, "elapsed_s": round(time.perf_counter() - t0, 1)}
    lines = [json.loads(l) for l in out.stdout.splitlines() if l.startswith("{")]
    if out.returncode or len(lines) < 2:
        rec["stderr_tail"] = out.stderr[-2000:]
        return rec
    detail, rec["result"] = lines[-2]["detail"], lines[-1]
    rec["op_p50_s"] = {op: v["p50_s"] for op, v in detail["ops"].items()}
    if trace:
        rec["per_op"] = detail["per_op"]
    return rec


def perfbench_summary(runs: list, higher: dict) -> dict:
    """Per metric the runs printed (end-to-end, or per-layer with
    --trace 1): medians, the parent's IQR, the ratio of medians and the
    pairs the change won."""
    by_pair: dict = {}
    for r in runs:
        by_pair.setdefault(r["pair"], {})[r["side"]] = r["result"]["metrics"]
    pairs = [p for p in by_pair.values() if len(p) == 2]
    out = {}
    for m, up in higher.items():
        if not pairs or any(m not in p[side] for p in pairs for side in p):
            continue
        par = [p["parent"][m]["value"] for p in pairs]
        chg = [p["change"][m]["value"] for p in pairs]
        q = statistics.quantiles(par, n=4) if len(par) > 1 else [par[0], par[0], par[0]]
        out[m] = {
            "parent_median": statistics.median(par),
            "change_median": statistics.median(chg),
            "parent_iqr": q[2] - q[0],
            "ratio": statistics.median(chg) / statistics.median(par) if any(par) else None,
            "change_wins": sum((c > a) if up else (c < a) for a, c in zip(par, chg)),
            "pairs": len(pairs),
        }
    out["failed"] = {side: sum(r["result"]["failed"] for r in runs if r["side"] == side)
                     for side in ("parent", "change")}
    return out


def perfbench_main(argv: list) -> None:
    ap = argparse.ArgumentParser(description="ABBA perfbench pairs against a git ref")
    ap.add_argument("--perfbench", required=True, metavar="WORKLOAD")
    ap.add_argument("--ref", required=True)
    ap.add_argument("--pairs", type=int, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--set", default=None, help="label of the runs (default: the workload)")
    args = ap.parse_args(argv)
    label = args.set or args.perfbench
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    higher = {m["name"]: m["better"] == "higher" for m in bench["end_to_end"] + bench["per_layer"]}
    parent_tree = tempfile.mkdtemp(prefix="ab_ref_")
    try:
        archive = subprocess.run(["git", "archive", args.ref], cwd=ROOT, check=True,
                                 capture_output=True).stdout
        subprocess.run(["tar", "-x", "-C", parent_tree], input=archive, check=True)
        trees = {"parent": parent_tree, "change": ROOT}
        runs = []
        for pair in range(1, args.pairs + 1):
            order = ["parent", "change"] if pair % 2 else ["change", "parent"]
            for side in order:
                rec = {"set": label, "seed": args.seed, "workload": args.perfbench,
                       "pair": pair, "side": side, "first": order[0]}
                rec.update(run_perfbench(trees[side], args.perfbench, args.seed,
                                         bench["run_seconds"], args.trace))
                with open(args.out, "a") as fh:
                    fh.write(json.dumps(rec) + "\n")
                if "result" in rec:
                    runs.append(rec)
                print(f"{label} pair {pair} {side}: rc={rec['rc']} "
                      + json.dumps(rec.get("result", {}).get("metrics", {})), flush=True)
        summary = {"set": label, "seed": args.seed, "workload": args.perfbench,
                   "ref": subprocess.run(["git", "rev-parse", args.ref], cwd=ROOT, check=True,
                                         capture_output=True, text=True).stdout.strip(),
                   "summary": perfbench_summary(runs, higher)}
        with open(args.out, "a") as fh:
            fh.write(json.dumps(summary) + "\n")
        print(json.dumps(summary, indent=1))
    finally:
        shutil.rmtree(parent_tree, ignore_errors=True)


def main() -> None:
    if "--perfbench" in sys.argv:
        perfbench_main(sys.argv[1:])
        return
    tree_a, tree_b = sys.argv[1], sys.argv[2]
    pairs = int(sys.argv[3]) if len(sys.argv) > 3 else 4
    a_runs, b_runs = [], []
    t_start = time.time()
    for i in range(pairs):
        order = [(tree_a, a_runs, "A"), (tree_b, b_runs, "B")]
        if i % 2:
            order.reverse()
        for tree, bucket, tag in order:
            r = run_one(tree)
            bucket.append(r)
            print(
                f"pair {i} {tag}: total={r['value']} "
                + json.dumps(r["queries"]),
                flush=True,
            )
    qnames = list(a_runs[0]["queries"])

    def mins(runs):
        return {q: min(r["queries"][q] for r in runs) for q in qnames}

    a_min, b_min = mins(a_runs), mins(b_runs)
    rec = {
        "job": "bench_suite",
        "tree_a": tree_a,
        "tree_b": tree_b,
        "pairs": pairs,
        "ts": time.time(),
        "a_total_min": min(r["value"] for r in a_runs),
        "b_total_min": min(r["value"] for r in b_runs),
        "a_total_median": statistics.median(r["value"] for r in a_runs),
        "b_total_median": statistics.median(r["value"] for r in b_runs),
        "a_query_min": a_min,
        "b_query_min": b_min,
        "query_min_ratio_b_over_a": {
            q: round(b_min[q] / a_min[q], 3) for q in qnames
        },
        "total_min_ratio_b_over_a": round(
            sum(b_min.values()) / sum(a_min.values()), 4
        ),
        "wall_sec": round(time.time() - t_start, 1),
    }
    os.makedirs(os.path.join(HERE, "..", "BENCH"), exist_ok=True)
    with open(os.path.join(HERE, "..", "BENCH", "ab_suite.jsonl"), "a") as f:
        f.write(json.dumps(rec) + "\n")
    print(json.dumps(rec, indent=2))


if __name__ == "__main__":
    main()
