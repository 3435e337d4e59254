"""Property-based tests (hypothesis): hash parity on arbitrary bytes,
counter saturation/underflow invariants, merge associativity, serde
round-trips, quantile rank-error bounds."""

import numpy as np
from hypothesis import given, settings, strategies as st

from dablooms_spark.core import CountingBloom, HyperLogLog, KLLSketch
from dablooms_spark.functions.murmur import (
    murmur3_x64_128,
    murmur3_x64_128_scalar,
)

KEYS = st.lists(st.binary(min_size=0, max_size=200), min_size=1, max_size=40)


@settings(max_examples=40, deadline=None)
@given(keys=KEYS, seed=st.integers(min_value=0, max_value=2**32 - 1))
def test_murmur_vectorized_equals_scalar(keys, seed):
    o1, o2 = murmur3_x64_128(keys, seed)
    for i, k in enumerate(keys):
        assert (int(o1[i]), int(o2[i])) == murmur3_x64_128_scalar(k, seed)


@settings(max_examples=25, deadline=None)
@given(
    keys=st.lists(st.binary(min_size=1, max_size=40), min_size=1, max_size=200),
    nparts=st.integers(min_value=1, max_value=5),
)
def test_counting_merge_associative_and_exact(keys, nparts):
    """Any partitioning + any merge order == single build, bit-exact."""
    single = CountingBloom(256, 0.05)
    single.add(keys)
    parts = [keys[i::nparts] for i in range(nparts)]
    shards = []
    for p in parts:
        cb = CountingBloom(256, 0.05)
        cb.add(p)
        shards.append(cb)
    left = shards[0]
    for s in shards[1:]:
        left = left.merge(s)
    assert left.to_bytes() == single.to_bytes()
    assert CountingBloom.merge_blobs([s.to_bytes() for s in shards]).to_bytes() == (
        single.to_bytes()
    )


@settings(max_examples=25, deadline=None)
@given(
    keys=st.lists(st.binary(min_size=1, max_size=30), min_size=1, max_size=100),
    extra_removes=st.integers(min_value=0, max_value=20),
)
def test_counter_never_negative_and_no_fn(keys, extra_removes):
    cb = CountingBloom(128, 0.05)
    cb.add(keys)
    assert cb.check(keys).all()  # no false negatives, ever
    cb.remove(keys[:extra_removes])  # may over-remove keys added once
    cb.remove(keys[:extra_removes])
    assert cb.counters.min() >= 0
    assert cb.counters.max() <= 15


@settings(max_examples=20, deadline=None)
@given(keys=st.lists(st.binary(min_size=1, max_size=50), min_size=1, max_size=300))
def test_serde_roundtrip_bitexact(keys):
    cb = CountingBloom(512, 0.03)
    cb.add(keys)
    assert CountingBloom.from_bytes(cb.to_bytes()).to_bytes() == cb.to_bytes()
    h = HyperLogLog(p=8)
    h.add(keys)
    assert HyperLogLog.from_bytes(h.to_bytes()).to_bytes() == h.to_bytes()


@settings(max_examples=15, deadline=None)
@given(
    data=st.lists(
        st.floats(min_value=-1e6, max_value=1e6, allow_nan=False),
        min_size=50,
        max_size=2000,
    ),
    q=st.floats(min_value=0.05, max_value=0.95),
)
def test_kll_rank_error_bound(data, q):
    sk = KLLSketch(k=200)
    sk.add(np.array(data))
    est = float(sk.quantile(q)[0])
    arr = np.array(data)
    rank = float(np.mean(arr <= est))
    # normalized rank error for k=200 is ~1.3%; allow generous 6% + ties
    assert rank >= q - 0.06 or est <= arr.min()
    assert float(np.mean(arr < est)) <= q + 0.06 or est >= arr.max()


@settings(max_examples=20, deadline=None)
@given(
    keys=st.lists(st.binary(min_size=1, max_size=30), min_size=1, max_size=500),
    split=st.integers(min_value=1, max_value=7),
)
def test_hll_merge_commutes(keys, split):
    parts = [keys[i::split] for i in range(split)]
    hs = []
    for p in parts:
        h = HyperLogLog(p=10)
        h.add(p)
        hs.append(h)
    fwd = hs[0]
    for h in hs[1:]:
        fwd = fwd.merge(h)
    rev = hs[-1]
    for h in reversed(hs[:-1]):
        rev = rev.merge(h)
    assert fwd.to_bytes() == rev.to_bytes()


@settings(max_examples=30, deadline=None)
@given(
    idx=st.lists(
        st.integers(min_value=0, max_value=10_000_000), min_size=0, max_size=500, unique=True
    )
)
def test_delta_codec_roundtrip(idx):
    import numpy as np

    from dablooms_spark.core.codec import delta_decode, delta_encode

    arr = np.sort(np.array(idx, dtype=np.int64))
    gaps, exc = delta_encode(arr)
    out = delta_decode(gaps, exc)
    assert np.array_equal(out, arr)


@given(
    nnz=st.integers(min_value=0, max_value=400),
    cap=st.sampled_from([100, 5_000, 200_000]),
    seed=st.integers(min_value=0, max_value=2**16),
)
@settings(max_examples=40, deadline=None)
def test_blob_serde_roundtrip_any_density(nnz, cap, seed):
    """to_bytes picks dense / sparse-index / sparse-gaps by size;
    whichever layout wins, from_bytes restores identical counters."""
    import numpy as np

    from dablooms_spark.core.counting_bloom import CountingBloom

    rng = np.random.RandomState(seed)
    cb = CountingBloom(cap, 0.01)
    if nnz:
        idx = rng.choice(cb.geometry.size, size=min(nnz, cb.geometry.size), replace=False)
        cb.counters[idx] = rng.randint(1, 16, size=len(idx)).astype(np.uint8)
    restored = CountingBloom.from_bytes(cb.to_bytes())
    assert (restored.counters == cb.counters).all()
    assert restored.geometry == cb.geometry


@given(
    splits=st.lists(
        st.lists(st.binary(min_size=1, max_size=24), min_size=0, max_size=200),
        min_size=2,
        max_size=5,
    )
)
@settings(max_examples=25, deadline=None)
def test_theta_merge_associative_bytes(splits):
    """KMV theta: any merge tree over any partitioning of the keys is
    byte-identical to the single-node build."""
    import functools

    from dablooms_spark.core.theta import ThetaSketch

    parts = []
    for chunk in splits:
        t = ThetaSketch(k=64)
        if chunk:
            t.add(chunk)
        parts.append(t)
    single = ThetaSketch(k=64)
    allkeys = [k for chunk in splits for k in chunk]
    if allkeys:
        single.add(allkeys)
    ltr = functools.reduce(lambda a, b: a.merge(b), parts)
    rtl = functools.reduce(lambda a, b: b.merge(a), reversed(parts))
    assert ltr.to_bytes() == rtl.to_bytes() == single.to_bytes()


def test_fixed_layer_eps_budget_property():
    """Property: for ANY (eps, hint, realized layer count) the summed
    per-layer budgets never exceed eps — including wildly wrong hints
    and deep overflow."""
    from hypothesis import given, settings, strategies as st

    from dablooms_spark.operators.bloom_build import fixed_layer_eps

    @settings(max_examples=200, deadline=None)
    @given(
        eps=st.floats(1e-6, 0.5),
        hint=st.one_of(st.none(), st.integers(1, 500)),
        layers=st.integers(1, 2_000),
    )
    def check(eps, hint, layers):
        total = sum(fixed_layer_eps(k, eps, hint) for k in range(layers))
        assert total <= eps * (1 + 1e-9)
        assert all(fixed_layer_eps(k, eps, hint) > 0 for k in (0, layers - 1))

    check()
