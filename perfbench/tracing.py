"""Traced-run instruments, all measured from outside the library.

- `Tracer` keeps the workload -> op spans in memory (start, end,
  parent) and counts broadcasts created inside each op.
- `read_event_log` turns Spark's JSON event log into job and stage
  spans and attributes them to op spans by job description and time.
- `replay_layers` times the `functions` and `core` layers on the
  driver over the workload's own keys and values.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import statistics
import time

import numpy as np

from dablooms_spark.core.cms import CountMinSketch
from dablooms_spark.core.codec import delta_decode, delta_encode
from dablooms_spark.core.counting_bloom import CountingBloom
from dablooms_spark.core.geometry import BloomGeometry
from dablooms_spark.core.hll import HyperLogLog
from dablooms_spark.core.kll import KLLSketch
from dablooms_spark.core.scaling_bloom import ScalingBloom
from dablooms_spark.core.tdigest import TDigest
from dablooms_spark.functions.arrow_utils import arrow_byte_view
from dablooms_spark.functions.hashing import km_expand
from dablooms_spark.functions.murmur import dablooms_hash_words_buffer

CORES = 4
# RDD scope names of the operators that cross into Python workers
PYTHON_SCOPES = ("MapInArrow", "ArrowEvalPython", "InPandas", "EvalPython", "PythonUDF")


class Tracer:
    """In-memory spans of one traced run."""

    def __init__(self, sc, workload: str):
        self.sc = sc
        self.spans: list[dict] = [
            {"id": 0, "name": workload, "layer": "workload", "parent": None,
             "start": time.time(), "end": None}
        ]

    def _next_broadcast_id(self) -> int:
        # every broadcast, Python or SQL, draws its id from one counter
        bc = self.sc.broadcast(0)
        bid = int(bc._jbroadcast.id())
        bc.destroy()
        return bid

    def begin(self, op: str) -> dict:
        span = {"id": len(self.spans), "name": op, "layer": "operators", "parent": 0,
                "bc0": self._next_broadcast_id(), "start": time.time()}
        self.spans.append(span)
        return span

    def end(self, span: dict) -> None:
        span["end"] = time.time()
        span["broadcasts"] = self._next_broadcast_id() - span.pop("bc0") - 1

    def close(self) -> None:
        self.spans[0]["end"] = time.time()


def read_event_log(log_dir: str) -> tuple[list[dict], dict[int, dict]]:
    """(jobs, stages) from the single application log in log_dir.
    Only completed stages are kept; skipped ones never ran."""
    (path,) = glob.glob(os.path.join(log_dir, "*"))
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    tasks: dict[int, dict] = {}
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = {
                    "desc": props.get("spark.job.description"),
                    "start": ev["Submission Time"] / 1000.0,
                    "stage_ids": ev["Stage IDs"],
                }
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                t = tasks.setdefault(ev["Stage ID"], {
                    "run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0, "result_bytes": 0,
                    "shuffle_bytes": 0})
                t["run_s"] += m.get("Executor Run Time", 0) / 1000.0
                t["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                t["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                t["result_bytes"] += m.get("Result Size", 0)
                t["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0)
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                scopes = set()
                for rdd in info.get("RDD Info", []):
                    if rdd.get("Scope"):
                        scope = json.loads(rdd["Scope"])
                        scopes.add((scope["id"], scope["name"]))
                stages[info["Stage ID"]] = {
                    "tasks": info["Number of Tasks"],
                    "start": info["Submission Time"] / 1000.0,
                    "end": info["Completion Time"] / 1000.0,
                    "scopes": scopes,
                }
    for sid, st in stages.items():
        st.update(tasks.get(sid, {"run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0,
                                  "result_bytes": 0, "shuffle_bytes": 0}))
    return [dict(j, id=i) for i, j in sorted(jobs.items())], stages


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    return total + (cur_e - cur_s if cur_e is not None else 0.0)


def attribute(spans: list[dict], jobs: list[dict], stages: dict[int, dict],
              description) -> list[dict]:
    """Per op span: jobs/stages under it and the operator metrics.
    Appends job and stage spans (children of the op span) to `spans`."""
    out = []
    for span in [s for s in spans if s["layer"] == "operators"]:
        desc = description(span["name"])
        lo, hi = span["start"] - 0.05, span["end"] + 0.05
        mine = [j for j in jobs if j["desc"] == desc and lo <= j["start"] <= hi]
        sids = sorted({sid for j in mine for sid in j["stage_ids"] if sid in stages})
        st = [stages[s] for s in sids]
        for j in mine:
            jspan = {"id": len(spans), "name": f"job {j['id']}", "layer": "job",
                     "parent": span["id"], "start": j["start"], "end": j.get("end", j["start"])}
            spans.append(jspan)
            for sid in j["stage_ids"]:
                if sid in stages:
                    spans.append({"id": len(spans), "name": f"stage {sid}", "layer": "stage",
                                  "parent": jspan["id"], "start": stages[sid]["start"],
                                  "end": stages[sid]["end"]})
        wall = span["end"] - span["start"]
        covered = _union_s([(max(j["start"], span["start"]), min(j.get("end", hi), span["end"]))
                            for j in mine])
        run_s = sum(s["run_s"] for s in st)
        scope_names = [{n for _, n in s["scopes"]} for s in st]
        out.append({
            "op": span["name"],
            "wall_s": wall,
            "driver_self_s": wall - covered,
            "job_share": covered / wall if wall > 0 else 0.0,
            "jobs": len(mine),
            "stages": len(st),
            "tasks": sum(s["tasks"] for s in st),
            "python_stages": sum(any(p in n for n in names for p in PYTHON_SCOPES)
                                 for names in scope_names),
            # stages that wrote shuffle output: the exchanges that ran
            "exchanges": sum(s["shuffle_bytes"] > 0 for s in st),
            "shuffle_bytes": sum(s["shuffle_bytes"] for s in st),
            "result_bytes": sum(s["result_bytes"] for s in st),
            # each submitted stage broadcasts its task binary; count the rest
            "broadcasts": span["broadcasts"] - len(st),
            "executor_run_s": run_s,
            "executor_cpu_s": sum(s["cpu_s"] for s in st),
            "gc_s": sum(s["gc_s"] for s in st),
            "slot_idle_frac": 1.0 - run_s / (wall * CORES) if wall > 0 else 0.0,
        })
    return out


def _timed(fn, reps: int = 3):
    """(median seconds over reps, last result)."""
    walls, out = [], None
    for _ in range(reps):
        t0 = time.perf_counter()
        out = fn()
        walls.append(time.perf_counter() - t0)
    return statistics.median(walls), out


def replay_layers(keys, values: np.ndarray, capacity: int, eps: float) -> dict:
    """Driver replay of the functions and core layers over one
    workload's keys (an Arrow string array) and numeric values. The
    keys are split into CORES partials, as a stage would split them,
    wherever the layer has a merge."""
    buf, offs, lens = arrow_byte_view(keys)
    n = len(lens)
    parts = np.array_split(np.arange(n), CORES)
    m: dict[str, float] = {"keys": n}

    m["functions.murmur.hash_s"], (h1, h2) = _timed(
        lambda: dablooms_hash_words_buffer(buf, offs, lens))
    m["functions.murmur.mb_per_s"] = float(lens.sum()) / 1e6 / m["functions.murmur.hash_s"]
    g = BloomGeometry(capacity, eps)
    m["functions.hashing.km_expand_s"], idx = _timed(
        lambda: km_expand(h1, h2, g.nfuncs, g.counts_per_func))

    def counting_partials():
        out = []
        for p in parts:
            cb = CountingBloom(capacity, eps)
            cb.add_hashed(h1[p], h2[p])
            out.append(cb)
        return out

    m["core.counting_bloom.add_s"], partials = _timed(counting_partials)
    m["core.counting_bloom.to_bytes_s"], blobs = _timed(lambda: [c.to_bytes() for c in partials])
    m["core.counting_bloom.merge_s"], merged = _timed(lambda: CountingBloom.merge_blobs(blobs))
    blob = merged.to_bytes()
    m["core.counting_bloom.blob_bytes"] = len(blob)
    m["core.counting_bloom.from_bytes_s"], _ = _timed(lambda: CountingBloom.from_bytes(blob))
    m["core.counting_bloom.check_s"], _ = _timed(lambda: merged.check_hashed(h1, h2))
    piece = np.unique(idx[parts[0]])
    m["core.codec.encode_s"], enc = _timed(lambda: delta_encode(piece))
    m["core.codec.decode_s"], dec = _timed(lambda: delta_decode(*enc))
    if not np.array_equal(dec, piece):
        raise AssertionError("delta codec round trip differs")

    ids = np.arange(n, dtype=np.int64)
    sc_cap = max(n // 4, 2)

    def scaling():
        sb = ScalingBloom(sc_cap, eps)
        sb.add_hashed(h1, h2, ids)
        return sb

    m["core.scaling_bloom.add_s"], sb = _timed(scaling)
    m["core.scaling_bloom.layers"] = len(sb.layers)
    m["core.scaling_bloom.check_s"], _ = _timed(lambda: sb.check_hashed(h1, h2))
    halves = [ScalingBloom(sc_cap, eps), ScalingBloom(sc_cap, eps, start_id=n // 2)]
    halves[0].add_hashed(h1[: n // 2], h2[: n // 2], ids[: n // 2])
    halves[1].add_hashed(h1[n // 2:], h2[n // 2:], ids[n // 2:])
    m["core.scaling_bloom.merge_s"], _ = _timed(lambda: halves[0].merge(halves[1]))

    def partial_sketches(make, add):
        out = []
        for p in parts:
            sk = make()
            add(sk, p)
            out.append(sk)
        return out

    def merge_all(sketches):
        return functools.reduce(lambda a, b: a.merge(b), sketches)

    m["core.hll.add_s"], hlls = _timed(lambda: partial_sketches(
        lambda: HyperLogLog(p=14), lambda sk, p: sk.add_buffer(buf, offs[p], lens[p])))
    m["core.hll.merge_s"], _ = _timed(lambda: merge_all(hlls))
    m["core.cms.add_s"], _ = _timed(lambda: partial_sketches(
        lambda: CountMinSketch(eps=1e-4, delta=0.01),
        lambda sk, p: sk.add_buffer(buf, offs[p], lens[p])))
    m["core.tdigest.add_s"], tds = _timed(lambda: partial_sketches(
        lambda: TDigest(200), lambda sk, p: (sk.add(values[p]), sk.quantile([0.5]))))
    m["core.tdigest.merge_s"], _ = _timed(lambda: merge_all(tds))
    m["core.kll.add_s"], klls = _timed(lambda: partial_sketches(
        lambda: KLLSketch(200), lambda sk, p: sk.add(values[p])))
    m["core.kll.merge_s"], _ = _timed(lambda: merge_all(klls))
    return m
