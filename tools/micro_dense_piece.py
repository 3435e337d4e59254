"""Deterministic interleaved micro A/B: sparse vs dense layer pieces.

Reproduces the evidence behind the dense-piece drain encoding of
core/pieces.py (BENCH/BASELINE.md "Dense layer pieces"): one FULL
layer slice at the paired-bench shape — 200k rows x nfuncs indices
into the 81-layer uniform-schedule geometry (capacity 200k, eps 0.01)
— pushed end-to-end through the shipped PieceEncoder and fold, once
per encoding (DENSE_PIECE_FRAC=None forces sparse, 0.0 forces dense):

  sparse: np.unique (whole-space sort) -> gap/exception delta codec ->
          fold via delta_decode + np.add.at scatter
  dense:  per-KM-band bincount (band space is L2-resident) ->
          raw clipped uint8 counters -> fold via vector add

Both paths must produce the identical merged counter array (asserted),
and min(15, sum(min(15, t_i))) == min(15, sum(t_i)) makes the shipped
artifact invariant to the choice. In-process interleaved trials cancel
host-epoch drift (the box swings ~3.5x between epochs, see
BENCH/BASELINE.md); min AND median are reported.

Usage: python tools/micro_dense_piece.py [rows_per_layer] [trials]
Prints one JSON line.
"""

import json
import statistics
import sys
import time

import numpy as np
import pyarrow as pa

sys.path.insert(0, __file__.rsplit("/", 2)[0])

from dablooms_spark.core import pieces  # noqa: E402
from dablooms_spark.core.geometry import BloomGeometry  # noqa: E402
from dablooms_spark.operators.bloom_build import fixed_layer_eps  # noqa: E402


def main() -> None:
    rows = int(sys.argv[1]) if len(sys.argv) > 1 else 200_000
    trials = int(sys.argv[2]) if len(sys.argv) > 2 else 11
    g = BloomGeometry(200_000, fixed_layer_eps(3, 0.01, 81))
    rng = np.random.default_rng(3)

    def route(batch):
        yield (0,), batch.column(0).to_numpy(), batch.column(1).to_numpy(), None

    def stage(frac):
        enc = pieces.PieceEncoder(["layer"], lambda key: g)
        enc.dense_frac = frac  # None: sparse only; 0.0: always dense
        return enc.map_fn(route)

    sparse_stage, dense_stage = stage(None), stage(0.0)

    def run(piece_stage):
        # encode in the map stage, fold as the merge does (pandas group)
        pdf = pa.Table.from_batches(list(piece_stage(iter(batches)))).to_pandas()
        payload = sum(len(v) for c in ("idx", "exc", "vals") for v in pdf[c])
        return pieces.fold(pdf, g.size), payload

    # 8 Arrow-batch-sized chunks of murmur hash words (uniform), as the
    # piece stage receives them
    batches = [
        pa.RecordBatch.from_pydict({
            "h1": rng.integers(0, 2**32, rows // 8, dtype=np.uint32),
            "h2": rng.integers(0, 2**32, rows // 8, dtype=np.uint32),
        })
        for _ in range(8)
    ]
    a, bytes_sparse = run(sparse_stage)
    b, bytes_dense = run(dense_stage)
    assert np.array_equal(a, b), "paths disagree — encoding bug"

    for _ in range(2):  # warm caches/allocator
        run(sparse_stage)
        run(dense_stage)
    ts, td = [], []
    for _ in range(trials):  # interleaved: epoch drift divides out
        t0 = time.perf_counter()
        run(sparse_stage)
        ts.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        run(dense_stage)
        td.append(time.perf_counter() - t0)
    print(json.dumps({
        "rows_per_layer": rows, "layer_size": g.size, "nfuncs": g.nfuncs,
        "trials": trials, "identical": True,
        "payload_bytes": {"sparse": bytes_sparse, "dense": bytes_dense},
        "sparse_ms": {"min": round(min(ts) * 1000, 1),
                      "median": round(statistics.median(ts) * 1000, 1)},
        "dense_ms": {"min": round(min(td) * 1000, 1),
                     "median": round(statistics.median(td) * 1000, 1)},
        "speedup": {
            "min": round(min(ts) / min(td), 2),
            "median": round(
                statistics.median(ts) / statistics.median(td), 2
            ),
        },
    }))


if __name__ == "__main__":
    main()
