"""Counting/scaling bloom core tests — reproduces the semantics of the
reference's test suite (public src/test_dablooms.c, see SURVEY.md §5.1)
on a synthetic word corpus, plus distributed-merge properties the
single-process reference never needed (north_rule).
"""

import random

import numpy as np
import pytest

from dablooms_spark.core import BloomGeometry, CountingBloom, ScalingBloom


def make_words(n: int, seed: int = 42, prefix: str = "w") -> list:
    rng = random.Random(seed)
    # distinct deterministic pseudo-words, lowercase ascii len 3-24
    out = []
    for i in range(n):
        ln = rng.randrange(3, 25)
        out.append(
            (prefix + "".join(chr(rng.randrange(97, 123)) for _ in range(ln)) + str(i)).encode()
        )
    return out


# ---- geometry ----------------------------------------------------------


def test_geometry_formulas():
    g = BloomGeometry(100000, 0.05)
    # nfuncs = ceil(log2(1/0.05)) = ceil(4.3219) = 5
    assert g.nfuncs == 5
    # cpf = ceil(100000 * |ln .05| / (5 * ln^2 2))
    import math

    expect = math.ceil(100000 * abs(math.log(0.05)) / (5 * math.log(2) ** 2))
    assert g.counts_per_func == expect
    assert g.size == 5 * expect
    assert g.num_nibble_bytes == (g.size + 1) // 2


def test_geometry_tightening_schedule():
    g = BloomGeometry(1000, 0.05)
    assert g.tightened(0).error_rate == pytest.approx(0.025)
    assert g.tightened(2).error_rate == pytest.approx(0.05 * 0.125)
    assert g.tightened(0).capacity == 1000  # constant per-layer capacity


# ---- counting bloom ----------------------------------------------------


def test_counting_bloom_no_false_negatives_and_fp_bound():
    cap, eps = 5000, 0.05
    words = make_words(cap)
    absent = make_words(cap, seed=99, prefix="absent")
    cb = CountingBloom(cap, eps)
    cb.add(words)
    assert cb.count == cap
    assert cb.check(words).all(), "false negative — bloom invariant violated"
    fp = cb.check(absent).sum() / len(absent)
    assert fp <= eps * 1.2, f"fp rate {fp} exceeds bound"


def test_counting_bloom_remove_then_negative():
    """Mirror of test_counting_remove_reopen: add all, remove every
    other, removed words report absent (mod FP), kept all present."""
    cap, eps = 4000, 0.05
    words = make_words(cap)
    cb = CountingBloom(cap, eps)
    cb.add(words)
    removed = words[::2]
    kept = words[1::2]
    cb.remove(removed)
    assert cb.check(kept).all()
    fp = cb.check(removed).sum() / len(removed)
    assert fp <= eps * 1.2


def test_counting_bloom_serde_roundtrip():
    cb = CountingBloom(1000, 0.01, first_id=7)
    words = make_words(500)
    cb.add(words)
    blob = cb.to_bytes()
    cb2 = CountingBloom.from_bytes(blob)
    assert np.array_equal(cb.counters, cb2.counters)
    assert cb2.count == 500 and cb2.first_id == 7
    assert cb2.geometry == cb.geometry
    assert cb2.to_bytes() == blob


def test_counting_bloom_saturation():
    cb = CountingBloom(100, 0.05)
    key = [b"same-key"]
    for _ in range(40):
        cb.add(key)
    assert cb.counters.max() == 15  # saturated, not wrapped
    cb2 = CountingBloom(100, 0.05)
    cb2.add(key * 40)  # same adds in one batch
    assert np.array_equal(cb.counters, cb2.counters)
    for _ in range(40):
        cb.remove(key)
    assert cb.counters.min() == 0  # clamped, never negative


def test_counting_merge_exactness_and_invariance():
    """Saturating counter-sum merge == single-node build, bit-identical,
    under any merge order (north_rule merge-order invariance)."""
    cap, eps = 3000, 0.05
    words = make_words(cap)
    single = CountingBloom(cap, eps)
    single.add(words)

    rng = random.Random(1)
    for trial in range(3):
        shuffled = words[:]
        rng.shuffle(shuffled)
        k = rng.choice([3, 5, 8])
        parts = [shuffled[i::k] for i in range(k)]
        shards = []
        for p in parts:
            cb = CountingBloom(cap, eps)
            cb.add(p)
            shards.append(cb)
        rng.shuffle(shards)
        merged = shards[0]
        for s in shards[1:]:
            merged = merged.merge(s)
        assert merged.to_bytes() == single.to_bytes(), f"trial {trial}"


def test_counting_merge_rejects_geometry_mismatch():
    a = CountingBloom(1000, 0.05)
    b = CountingBloom(2000, 0.05)
    with pytest.raises(ValueError):
        a.merge(b)


# ---- scaling bloom -----------------------------------------------------


def test_scaling_layer_growth_and_schedule():
    cap, eps = 1000, 0.05
    n = 3500  # > 3 * capacity → at least 4 layers
    words = make_words(n)
    sb = ScalingBloom(cap, eps)
    sb.add(words, np.arange(n))
    assert len(sb.layers) >= 4
    for i, layer in enumerate(sb.layers):
        assert layer.geometry.error_rate == pytest.approx(eps * 0.5 ** (i + 1))
        assert layer.count <= cap - 1  # grow at count >= capacity-1
    assert sb.count == n
    assert sb.max_id == n - 1


def test_scaling_accuracy():
    """Mirror of test_scaling_accuracy: add every other word with
    increasing id, check all; FP ≤ ε compound across layers, FN = 0."""
    cap, eps = 1000, 0.05
    n = 4000
    words = make_words(n)
    sb = ScalingBloom(cap, eps)
    evens = words[::2]
    sb.add(evens, np.arange(len(evens)))
    assert sb.check(evens).all(), "false negative"
    odds = words[1::2]
    fp = sb.check(odds).sum() / len(odds)
    assert fp <= eps * 1.2, f"compound fp {fp} exceeds bound"


def test_scaling_remove_routed_by_id():
    """Mirror of test_scaling_remove_reopen semantics."""
    cap, eps = 1000, 0.05
    n = 2500
    words = make_words(n)
    ids = np.arange(n)
    sb = ScalingBloom(cap, eps)
    sb.add(words, ids)
    rm_idx = np.arange(0, n, 2)
    sb.remove([words[i] for i in rm_idx], ids[rm_idx])
    kept_idx = np.arange(1, n, 2)
    assert sb.check([words[i] for i in kept_idx]).all()
    fp = sb.check([words[i] for i in rm_idx]).sum() / len(rm_idx)
    assert fp <= eps * 1.2


def test_scaling_serde_roundtrip():
    sb = ScalingBloom(500, 0.05)
    words = make_words(1200)
    sb.add(words, np.arange(1200))
    blob = sb.to_bytes()
    sb2 = ScalingBloom.from_bytes(blob)
    assert sb2.to_bytes() == blob
    assert sb2.count == sb.count and len(sb2.layers) == len(sb.layers)
    assert sb2.check(words[:100]).all()


def test_scaling_distributed_merge_disjoint_ranges():
    """Shards own disjoint id ranges (start_id set per shard); merge is
    layer concatenation, invariant to merge order, zero FN."""
    cap, eps = 500, 0.05
    n = 3000
    words = make_words(n)
    nshards = 4
    bounds = np.linspace(0, n, nshards + 1).astype(int)
    shards = []
    for s in range(nshards):
        lo, hi = bounds[s], bounds[s + 1]
        sb = ScalingBloom(cap, eps / nshards, start_id=lo)
        sb.add(words[lo:hi], np.arange(lo, hi))
        shards.append(sb)

    rng = random.Random(3)
    blobs = set()
    for _ in range(3):
        order = shards[:]
        rng.shuffle(order)
        m = order[0]
        for s in order[1:]:
            m = m.merge(s)
        blobs.add(m.to_bytes())
    assert len(blobs) == 1, "merge order changed the serialized filter"

    merged = ScalingBloom.from_bytes(next(iter(blobs)))
    assert merged.check(words).all(), "false negative after distributed merge"
    absent = make_words(2000, seed=5, prefix="nope")
    fp = merged.check(absent).sum() / len(absent)
    assert fp <= eps * 1.2


def test_scaling_historic_ids_route_to_old_layers():
    cap, eps = 500, 0.05
    words = make_words(1500)
    sb = ScalingBloom(cap, eps)
    sb.add(words, np.arange(1500))
    nlayers = len(sb.layers)
    counts_before = [l.count for l in sb.layers]
    # a late row with an old id must land in the historic layer, no growth
    sb.add([b"late-arrival"], [10])
    assert len(sb.layers) == nlayers
    assert sb.layers[0].count == counts_before[0] + 1
    assert sb.check([b"late-arrival"])[0]


def test_strict_overflow_mode_survives_serde():
    """ADVICE r2: on_overflow='error' must round-trip through
    to_bytes/from_bytes (header flag bit), keeping the reference-parity
    refusal semantics after a checkpoint/restore."""
    import pytest

    from dablooms_spark.core.counting_bloom import CountingBloom

    cb = CountingBloom(100, 0.05, on_overflow="error")
    cb.add([b"k%d" % i for i in range(50)])
    back = CountingBloom.from_bytes(cb.to_bytes())
    assert back.on_overflow == "error"
    assert back.to_bytes() == cb.to_bytes()
    with pytest.raises(OverflowError):
        back.remove([b"not-there"])
    # default mode still round-trips as saturate
    sat = CountingBloom(100, 0.05)
    sat.add([b"x"])
    assert CountingBloom.from_bytes(sat.to_bytes()).on_overflow == "saturate"


def _reference_to_bytes(cb) -> bytes:
    """The serializer spelled out: build all three candidate payloads
    in full — dense nibbles, u32/u64 index + count, gap-coded — and
    keep the smallest (ties to the lower kind, so dense first)."""
    import struct

    from dablooms_spark.core.codec import delta_encode

    g, c = cb.geometry, cb.counters
    nz = np.flatnonzero(c)
    vals = c[nz].tobytes()
    padded = np.concatenate([c, np.zeros(len(c) % 2, np.uint8)])
    cands = [
        (1, ((padded[0::2] << 4) | padded[1::2]).tobytes()),
        (2, struct.pack("<Q", len(nz))
         + nz.astype(np.uint64 if g.size > 0xFFFFFFFF else np.uint32).tobytes()
         + vals),
    ]
    if g.size <= 0xFFFFFFFF:
        gaps, exc = delta_encode(nz.astype(np.int64))
        cands.append(
            (3, struct.pack("<QQQ", len(nz), len(gaps), len(exc)) + gaps + exc + vals)
        )
    kind, payload = min(cands, key=lambda kp: (len(kp[1]), kp[0]))
    header = struct.pack(
        "<4sHBBQdIIQQQ", b"DBSK", 1, kind, int(cb.on_overflow == "error"),
        g.capacity, g.error_rate, g.nfuncs, 0, g.counts_per_func,
        cb.first_id, cb.count,
    )
    return header + payload


def _with_counters(cap, eps, idx, rng, **kw):
    g = BloomGeometry(cap, eps)
    c = np.zeros(g.size, np.uint8)
    c[idx] = rng.integers(1, 16, size=len(idx), dtype=np.uint8)
    return CountingBloom(cap, eps, _counters=c, _count=len(idx), **kw)


def test_to_bytes_matches_three_candidate_reference():
    """to_bytes skips locating and delta-coding the nonzeros whenever
    the dense payload already fits both sparse floors; the blob must
    stay byte-identical to building every candidate and keeping the
    smallest, across fills, ε and capacities, at the empty filter, at
    the dense/gap tie and where each sparse form wins."""
    rng = np.random.default_rng(7)
    kinds = set()

    def check(cb):
        blob = cb.to_bytes()
        assert blob == _reference_to_bytes(cb)
        kinds.add(blob[6])
        return blob[6]

    for cap in (1, 64, 1_000, 50_000, 300_000):
        for eps in (0.5, 0.01, 1e-4):
            size = BloomGeometry(cap, eps).size
            for fill in (0.0, 0.0005, 0.01, 0.08, 0.2, 0.5, 1.0):
                idx = rng.choice(size, size=int(fill * size), replace=False)
                check(_with_counters(cap, eps, idx, rng, first_id=cap))
    # tiny filters at every nonzero count: both sparse floors' ties
    for cap in range(1, 12):
        for eps in (0.5, 0.1, 0.05):
            size = BloomGeometry(cap, eps).size
            for nnz in range(size + 1):
                check(_with_counters(cap, eps, rng.choice(size, nnz, replace=False), rng))
    # empty: the 8-byte u32 index form beats both others
    assert check(CountingBloom(1_000, 0.01, on_overflow="error")) == 2
    # nonzeros >= 255 apart: every gap is an exception, u32 index wins
    g = BloomGeometry(300_000, 0.01)
    assert check(_with_counters(300_000, 0.01, np.arange(0, g.size, 1_000), rng)) == 2
    # the dense / gap tie: 24 + 2·nnz == nibble bytes with no
    # exceptions goes dense; one nonzero fewer and the gap form wins
    for cap in (1_000, 50_000):
        while BloomGeometry(cap, 0.01).num_nibble_bytes % 2:
            cap += 1
        tie = (BloomGeometry(cap, 0.01).num_nibble_bytes - 24) // 2
        assert check(_with_counters(cap, 0.01, np.arange(tie), rng)) == 1
        assert check(_with_counters(cap, 0.01, np.arange(tie - 1), rng)) == 3
        assert check(_with_counters(cap, 0.01, np.arange(tie + 1), rng)) == 1
    assert kinds == {1, 2, 3}


# ---- blob merge: every payload is a counter piece -----------------------


def _mixed_partials(rng, words, capacity, on_overflow):
    """2-6 partial filters whose blobs mix the three payload kinds: a
    few keys in a large capacity (kind 2), a moderate load (kind 3), a
    full load (nibbles); saturate partials also repeat keys past 15."""
    parts, first_ids = [], []
    for _ in range(rng.randrange(2, 7)):
        load = rng.choice([3, capacity // 20, capacity])
        keys = rng.sample(words, load)
        if on_overflow == "saturate" and rng.random() < 0.3:
            keys = keys[:5] * 20
        parts.append(keys)
        first_ids.append(rng.randrange(0, 100))
    return parts, first_ids


@pytest.mark.parametrize("on_overflow", ["saturate", "error"])
def test_merge_blobs_mixed_kinds_equal_chain_and_single_node(on_overflow):
    import functools

    rng = random.Random(7 if on_overflow == "saturate" else 8)
    words = make_words(20_000, seed=5)
    seen_kinds = set()
    for _ in range(12):
        capacity = rng.choice([300, 20_000])
        parts, first_ids = _mixed_partials(rng, words, capacity, on_overflow)
        blobs = []
        for keys, fid in zip(parts, first_ids):
            cb = CountingBloom(capacity, 0.01, first_id=fid, on_overflow=on_overflow)
            cb.add(keys)
            blobs.append(cb.to_bytes())
        seen_kinds.update(b[6] for b in blobs)
        single = CountingBloom(
            capacity, 0.01, first_id=min(first_ids), on_overflow=on_overflow
        )
        try:
            single.add([k for keys in parts for k in keys])
        except OverflowError:
            with pytest.raises(OverflowError):
                CountingBloom.merge_blobs(blobs)
            continue
        merged = CountingBloom.merge_blobs(blobs)
        chain = functools.reduce(
            CountingBloom.merge, [CountingBloom.from_bytes(b) for b in blobs]
        )
        assert merged.to_bytes() == chain.to_bytes() == single.to_bytes()
        assert merged.on_overflow == on_overflow
        assert merged.first_id == min(first_ids)
        assert merged.count == sum(len(k) for k in parts)
    assert seen_kinds == {1, 2, 3}


def test_merge_blobs_refusals_kept():
    hot = [b"hot"] * 10
    a = CountingBloom(1000, 0.01, on_overflow="error")
    a.add(hot)
    b = CountingBloom(1000, 0.01, on_overflow="saturate")
    b.add(hot)
    other = CountingBloom(2000, 0.01)
    with pytest.raises(OverflowError):
        CountingBloom.merge_blobs([a.to_bytes(), a.to_bytes()])
    with pytest.raises(ValueError, match="on_overflow"):
        CountingBloom.merge_blobs([a.to_bytes(), b.to_bytes()])
    with pytest.raises(ValueError, match="geometry"):
        CountingBloom.merge_blobs([b.to_bytes(), other.to_bytes()])
    # a saturate merge clips the same sum instead
    assert CountingBloom.merge_blobs([b.to_bytes()] * 2).counters.max() == 15


@pytest.mark.parametrize("on_overflow", ["saturate", "error"])
def test_fold_reads_blob_rows_as_pieces(on_overflow):
    """A prior layer kept as a blob folds in the same group as counter
    pieces: the sum equals merge_blobs over every part, a blob alone
    rebuilds to its own bytes (nibble odd- and even-sized, sparse), and
    a blob of another geometry or overflow mode is refused."""
    import pandas as pd

    from dablooms_spark.core.codec import delta_encode
    from dablooms_spark.core.pieces import fold

    words = make_words(700, seed=11)
    kinds = set()
    for capacity in (300, 302, 20_000):
        g = BloomGeometry(capacity, 0.01)
        prior, sparse, dense = (
            CountingBloom(capacity, 0.01, first_id=7, on_overflow=on_overflow)
            for _ in range(3)
        )
        for cb, lo, hi in ((prior, 0, 300), (sparse, 300, 350), (dense, 350, 700)):
            cb.add(words[lo:hi])
        blob = prior.to_bytes()
        kinds.add((blob[6], g.size % 2))
        nz = np.flatnonzero(sparse.counters)
        gaps, exc = delta_encode(nz.astype(np.int64))
        pdf = pd.DataFrame({
            "idx": [b"", gaps, b""],
            "exc": [b"", exc, b""],
            "vals": [b"", sparse.counters[nz].tobytes(), dense.counters.tobytes()],
            "blob": [blob, None, None],
        })
        merged = CountingBloom.merge_blobs(
            [blob, sparse.to_bytes(), dense.to_bytes()]
        )
        got = fold(pdf, g.size, on_overflow, geometry=g)
        assert np.array_equal(got, merged.counters)
        alone = CountingBloom(
            capacity, 0.01, first_id=7, _counters=fold(pdf[:1], g.size, on_overflow, geometry=g),
            _count=prior.count, on_overflow=on_overflow,
        )
        assert alone.to_bytes() == blob
        for other in (BloomGeometry(capacity, 0.02), BloomGeometry(capacity + 1, 0.01), None):
            size = g.size if other is None else other.size
            with pytest.raises(ValueError, match="eps-schedule drift"):
                fold(pdf, size, on_overflow, geometry=other)
        flip = "saturate" if on_overflow == "error" else "error"
        with pytest.raises(ValueError, match="on_overflow"):
            fold(pdf, g.size, flip, geometry=g)
    assert kinds == {(1, 1), (1, 0), (3, 0)}


def test_merge_blobs_and_from_bytes_refuse_the_same_payloads():
    """One payload reader: a foreign kind byte or a header whose
    nfuncs/counts_per_func disagree with its capacity and error rate
    is refused by the merge as by from_bytes (a nibble payload, which
    the merge used to read whatever its kind byte said)."""
    from dablooms_spark.core.counting_bloom import _HDR

    cb = CountingBloom(200, 0.01)
    cb.add(make_words(200))
    good = cb.to_bytes()
    assert good[6] == 1
    hdr = list(_HDR.unpack_from(good, 0))
    bad = {"kind": good[:6] + bytes([9]) + good[7:]}
    for field, name in ((6, "nfuncs"), (8, "counts_per_func")):
        h = list(hdr)
        h[field] += 1
        bad[name] = _HDR.pack(*h) + good[_HDR.size:]
    for name, blob in bad.items():
        msg = "not a counting-bloom" if name == "kind" else "does not match"
        with pytest.raises(ValueError, match=msg):
            CountingBloom.from_bytes(blob)
        with pytest.raises(ValueError, match=msg):
            CountingBloom.merge_blobs([good, blob])


def test_scaling_blob_readers_agree():
    """from_bytes, merge_blobs and the layer explode read one layout."""
    from dablooms_spark.core.scaling_bloom import layer_records

    sb = ScalingBloom(50, 0.05, start_id=10)
    words = make_words(180)
    sb.add(words, np.arange(10, 190))
    blob = sb.to_bytes()
    capacity, eps, max_id, records = layer_records(blob)
    records = list(records)
    assert (capacity, eps, max_id) == (50, 0.05, 189)
    assert [(f, e, c) for f, e, c, _ in records] == [
        (l.first_id, l.geometry.error_rate, l.count) for l in sb.layers
    ]
    assert [r for *_, r in records] == [l.to_bytes() for l in sb.layers]
    assert ScalingBloom.merge_blobs([blob]) == blob
    with pytest.raises(ValueError, match="not a scaling-bloom"):
        layer_records(b"DBSK" + blob[4:])


# ---- the one counter kernel ---------------------------------------------


def _random_state(rng, cb, extreme):
    """Counters anywhere in 0..15 (extreme), or mid-range 7..8, where a
    batch of distinct keys stays inside 0..15."""
    lo, hi = (0, 16) if extreme else (7, 9)
    cb.counters = rng.integers(lo, hi, cb.geometry.size).astype(np.uint8)
    cb.count = int(rng.integers(0, 1000))
    return cb


def _hashes(rng, n, pile=True):
    h = rng.integers(0, 2**32, (2, n), dtype=np.uint64).astype(np.uint32)
    if pile:
        h[:, : n // 4] = h[:, :1]  # one key repeated, so counts pile up
    return h[0], h[1]


@pytest.mark.parametrize("on_overflow", ["saturate", "error"])
def test_counter_updates_match_numpy_model(on_overflow):
    """add, remove (both the sparse and the dense branch), merge and
    subtract equal plain numpy arithmetic on the counters — np.add and
    np.clip to 0..15 — and a strict filter raises exactly where that
    arithmetic leaves 0..15."""
    rng = np.random.default_rng(12)
    strict = on_overflow == "error"
    seen = set()
    for trial in range(40):
        extreme = bool(trial % 2)
        cb = _random_state(rng, CountingBloom(3000, 0.01, on_overflow=on_overflow), extreme)
        g = cb.geometry
        n = 40 if trial % 4 < 2 else 3000
        branch = "sparse" if n * g.nfuncs * 8 < g.size else "dense"
        h1, h2 = _hashes(rng, n, pile=extreme)
        hits = np.bincount(cb._indexes_hashed(h1, h2).ravel(), minlength=g.size)
        for op, delta in (("add", 1), ("remove", -1)):
            c = CountingBloom(3000, 0.01, on_overflow=on_overflow,
                              _counters=cb.counters.copy(), _count=cb.count)
            raw = c.counters.astype(np.int64) + delta * hits
            refused = strict and (raw.max() > 15 or raw.min() < 0)
            seen.add((op, branch, refused))
            if refused:
                with pytest.raises(OverflowError):
                    getattr(c, f"{op}_hashed")(h1, h2)
                continue
            getattr(c, f"{op}_hashed")(h1, h2)
            assert np.array_equal(c.counters, np.clip(raw, 0, 15))
            assert c.count == cb.count + delta * n
        other = CountingBloom(3000, 0.01, on_overflow=on_overflow, _count=int(trial))
        other.counters = rng.integers(0, 16 if extreme else 8, g.size).astype(np.uint8)
        raw = cb.counters.astype(np.int64) + other.counters
        seen.add(("merge", "dense", strict and raw.max() > 15))
        if strict and raw.max() > 15:
            with pytest.raises(OverflowError):
                cb.merge(other)
        else:
            m = cb.merge(other)
            assert np.array_equal(m.counters, np.clip(raw, 0, 15))
            assert m.count == cb.count + other.count
        raw = cb.counters.astype(np.int64) - other.counters
        before = cb.count
        seen.add(("subtract", "dense", strict and raw.min() < 0))
        if strict and raw.min() < 0:
            with pytest.raises(OverflowError):
                cb.subtract(other)
        else:
            cb.subtract(other)
            assert np.array_equal(cb.counters, np.clip(raw, 0, 15))
            assert cb.count == max(before - other.count, 0)
    for op, branch in (("add", "sparse"), ("add", "dense"), ("remove", "sparse"),
                       ("remove", "dense"), ("merge", "dense"), ("subtract", "dense")):
        assert (op, branch, False) in seen
        assert (op, branch, True) in seen or not strict


def test_strict_refusals_leave_counters_and_count_untouched():
    """A strict refusal writes nothing, in the dense branch of add and
    of remove, in subtract and in merge (the sparse add is checked by
    test_dablooms_parity.py)."""
    rng = np.random.default_rng(3)

    def frozen(cb):
        return cb.counters.copy(), cb.count

    def unchanged(cb, snap):
        return np.array_equal(cb.counters, snap[0]) and cb.count == snap[1]

    full = CountingBloom(500, 0.01, on_overflow="error")
    full.counters[:] = 15
    full.count = 7
    empty = CountingBloom(500, 0.01, on_overflow="error", _count=7)
    # as many keys as counters: the dense branch (n * nfuncs * 8 >= size)
    h1, h2 = _hashes(rng, full.geometry.size)
    for cb, op in ((full, full.add_hashed), (empty, empty.remove_hashed)):
        snap = frozen(cb)
        with pytest.raises(OverflowError):
            op(h1, h2)
        assert unchanged(cb, snap)

    half = CountingBloom(500, 0.01, on_overflow="error")
    half.counters[::2] = 9
    half.count = 5
    other = CountingBloom(500, 0.01, on_overflow="error", _count=3)
    other.counters[:] = 9
    for fn in (lambda: half.merge(other), lambda: half.subtract(other)):
        snap = frozen(half)
        with pytest.raises(OverflowError):
            fn()
        assert unchanged(half, snap)


def test_cms_add_equals_two_dim_scatter():
    """CMS add is one flat scatter: the table and total equal the 2-D
    per-row scatter it replaced, with and without counts."""
    from dablooms_spark.core.cms import CountMinSketch
    from dablooms_spark.functions.murmur import murmur3_x64_128

    rng = np.random.default_rng(9)
    keys = [f"k{int(i)}".encode() for i in rng.integers(0, 3000, 4000)]
    counts = rng.integers(1, 50, 1000)
    cms = CountMinSketch(eps=1e-3, delta=0.01)
    cms.add(keys)
    cms.add(keys[:1000], counts=counts)
    model = np.zeros((cms.depth, cms.width), dtype=np.int64)
    rows = np.arange(cms.depth)[None, :]
    for ks, c in ((keys, np.ones(len(keys), np.int64)), (keys[:1000], counts)):
        w1, w2 = murmur3_x64_128(ks, cms.seed)
        idx = cms._indexes(w1, w2)
        np.add.at(model, (np.broadcast_to(rows, idx.shape), idx),
                  np.broadcast_to(c[:, None], idx.shape))
    assert cms.table.dtype == np.int64
    assert np.array_equal(cms.table, model)
    assert cms.total == len(keys) + int(counts.sum())
    assert CountMinSketch.from_bytes(cms.to_bytes()).table.tobytes() == model.tobytes()


# ---- the one layer walk --------------------------------------------------


def test_check_layers_is_scaling_check_and_pulls_lazily():
    """check_layers gives ScalingBloom.check_hashed's verdicts (the OR of
    every layer), and on a generator it pulls no layer once every key
    has hit."""
    from dablooms_spark.core.scaling_bloom import check_layers
    from dablooms_spark.functions.murmur import dablooms_hash_words

    sb = ScalingBloom(300, 0.01)
    words = make_words(1100)
    sb.add(words, np.arange(len(words)))
    assert len(sb.layers) == 4
    probe = words + make_words(2000, seed=7, prefix="absent")
    h1, h2 = dablooms_hash_words(np.asarray(probe, dtype=object), sb.seed)
    every = np.zeros(len(probe), dtype=bool)
    for layer in sb.layers:
        every |= layer.check_hashed(h1, h2)
    assert np.array_equal(sb.check_hashed(h1, h2), every)
    assert np.array_equal(check_layers(reversed(sb.layers), h1, h2), every)

    pulled = []

    def newest_first():
        for layer in reversed(sb.layers):
            pulled.append(layer)
            yield layer

    # keys of the second-newest layer all hit there: the two oldest
    # layers are never pulled
    h1, h2 = dablooms_hash_words(np.asarray(words[600:890], dtype=object), sb.seed)
    assert check_layers(newest_first(), h1, h2).all()
    assert pulled == [sb.layers[3], sb.layers[2]]
    pulled.clear()
    assert len(check_layers(newest_first(), h1[:0], h2[:0])) == 0
    assert pulled == []
