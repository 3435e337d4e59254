"""Training-data pipeline operator tests: dedup (exact, MinHash-LSH,
SimHash), similarity search, text analysis, multimodal plumbing."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from dablooms_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_dedup,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash_dedup,
)
from dablooms_spark.operators.multimodal import (
    decode_media,
    sample_frames,
    with_media_meta,
)
from dablooms_spark.operators.similarity import (
    brute_force_topk,
    embedding_neardup_pairs,
    lsh_topk,
)
from dablooms_spark.operators.textops import (
    with_fingerprint,
    with_lang_id,
    with_quality_score,
    with_token_count,
)
from dablooms_spark.sources import load_table


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents")


@pytest.fixture(scope="module")
def near_dup_docs(spark, docs):
    """documents ∪ near-duplicates of the first 50 (one token changed)
    ∪ exact duplicates of the next 20."""
    base = docs.select("doc_id", "text")
    near = (
        base.filter("doc_id < 50")
        .select(
            (F.col("doc_id") + 100_000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" zzznoise")).alias("text"),
        )
    )
    exact = base.filter("doc_id >= 50 AND doc_id < 70").select(
        (F.col("doc_id") + 200_000).alias("doc_id"), "text"
    )
    return base.union(near).union(exact)


# ---- text analysis ---------------------------------------------------------


def test_token_count_matches_exact(spark, docs):
    got = with_token_count(docs).select("doc_id", "n_tokens").collect()
    texts = {r.doc_id: r.text for r in docs.collect()}
    for r in got:
        assert r.n_tokens == len(texts[r.doc_id].split(" "))


def test_quality_score_range_and_determinism(spark, docs):
    q = with_quality_score(docs).select("doc_id", "quality_score", "stopword_ratio")
    rows = {r.doc_id: r.quality_score for r in q.collect()}
    rows2 = {r.doc_id: r.quality_score for r in q.collect()}
    assert rows == rows2
    assert all(0.0 <= v <= 1.0 for v in rows.values())


def test_lang_id_deterministic_priority(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat sat of the mat and a to"),
            (2, "der hund die katze und das ist"),
            (3, "xyzzy qwerty plugh"),
            (4, "le chat la table et les des"),
        ],
        ["doc_id", "text"],
    )
    got = {r.doc_id: r.lang_pred for r in with_lang_id(df).collect()}
    assert got == {1: "en", 2: "de", 3: "unknown", 4: "fr"}


def test_fingerprint_collides_only_for_identical(spark, near_dup_docs):
    fp = with_fingerprint(near_dup_docs, k=5)
    # exact duplicates share fingerprints
    dupe_fp = fp.filter("doc_id >= 200000").select(
        (F.col("doc_id") - 200_000).alias("doc_id"), F.col("fingerprint").alias("f2")
    )
    orig = fp.filter("doc_id < 100000").select("doc_id", "fingerprint")
    match = orig.join(dupe_fp, "doc_id").filter("fingerprint = f2").count()
    assert match == 20


# ---- dedup -----------------------------------------------------------------


def test_exact_dedup(spark, near_dup_docs):
    out = exact_dedup(near_dup_docs)
    assert out.count() == 550  # 500 originals + 50 near (distinct), 20 exact merged
    assert out.filter("dupes = 2").count() == 20
    # canonical id is the min
    assert out.filter("dupes = 2").filter("doc_id >= 200000").count() == 0


def test_minhash_lsh_finds_near_dups(spark, near_dup_docs):
    pairs = minhash_lsh_dedup(near_dup_docs, threshold=0.5, num_perms=64, bands=16)
    found = {(r.id_a, r.id_b) for r in pairs.collect()}
    expected = {(i, i + 100_000) for i in range(50)} | {
        (i, i + 200_000) for i in range(50, 70)
    }
    missed = expected - found
    # LSH recall at J>=0.9 with 16x4 bands is ~1; allow 2 misses
    assert len(missed) <= 2, f"missed {len(missed)}: {sorted(missed)[:5]}"
    # the planted exact duplicates must verify at exactly J=1.0
    ham = {(r.id_a, r.id_b): r.jaccard for r in pairs.collect()}
    planted_exact = [p for p in expected if p in found and p[1] >= 200_000]
    assert planted_exact and all(ham[p] == 1.0 for p in planted_exact)
    # every reported pair is exact-verified >= threshold (no false
    # positives from LSH banding survive verification); note the corpus
    # itself contains genuine near-dups (e.g. J(0,50)≈0.95), so pairs
    # beyond the planted ones are correct, not spurious
    assert all(j >= 0.5 for j in ham.values())


def test_simhash_finds_near_dups(spark, near_dup_docs):
    pairs = simhash_dedup(near_dup_docs, max_hamming=3)
    found = {(r.id_a, r.id_b) for r in pairs.collect()}
    # exact duplicates have hamming 0 and MUST be found (band pigeonhole)
    for i in range(50, 70):
        assert (i, i + 200_000) in found
    ham = {(r.id_a, r.id_b): r.hamming for r in pairs.collect()}
    assert all(h <= 3 for h in ham.values())


def test_ngram_jaccard_pairs_exact_values(spark, near_dup_docs):
    pairs = spark.createDataFrame(
        [(50, 200_050), (51, 200_051)], ["id_a", "id_b"]
    )
    out = ngram_jaccard_pairs(near_dup_docs, pairs)
    assert all(r.jaccard == 1.0 for r in out.collect())


# ---- similarity ------------------------------------------------------------


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings")


def test_brute_force_topk_exact(spark, emb):
    queries = emb.filter("vec_id < 5")
    got = brute_force_topk(emb, queries, k=10)
    rows = got.collect()
    assert len(rows) == 50
    # numpy oracle
    data = emb.collect()
    ids = np.array([r.vec_id for r in data])
    m = np.array([r.embedding for r in data], dtype=np.float32)
    m = m / np.linalg.norm(m, axis=1, keepdims=True)
    for qid in range(5):
        qv = m[ids == qid][0]
        sims = m @ qv
        order = np.lexsort((ids, -np.round(sims, 6)))
        expect = [int(ids[i]) for i in order[:10]]
        got_ids = [r.neighbor_id for r in sorted(rows, key=lambda r: -r.sim) if r.query_id == qid]
        got_q = sorted([r for r in rows if r.query_id == qid], key=lambda r: (-r.sim, r.neighbor_id))
        assert [g.neighbor_id for g in got_q] == expect, f"query {qid}"
        # self is its own nearest neighbor at sim 1.0
        assert got_q[0].neighbor_id == qid and got_q[0].sim == pytest.approx(1.0)


def test_lsh_topk_recall(spark, emb):
    queries = emb.filter("vec_id < 20")
    exact = brute_force_topk(emb, queries, k=5)
    approx = lsh_topk(emb, queries, k=5, nbits=4)
    e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    a = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall > 0.3, f"LSH recall collapsed: {recall}"
    # every query finds at least itself (same bucket, sim 1.0)
    self_hits = {r.query_id for r in approx.collect() if r.neighbor_id == r.query_id}
    assert len(self_hits) == 20


def test_embedding_neardup_self_consistency(spark, emb):
    # duplicate 10 vectors with new ids: must appear as near-dups at sim>=0.999
    dup = emb.filter("vec_id < 10").select(
        (F.col("vec_id") + 10_000).alias("vec_id"), "embedding", "label"
    )
    pairs = embedding_neardup_pairs(emb.union(dup), min_sim=0.999)
    found = {(r.id_a, r.id_b) for r in pairs.collect()}
    for i in range(10):
        assert (i, i + 10_000) in found


# ---- multimodal ------------------------------------------------------------


def test_media_meta_sniffing(spark):
    df = spark.createDataFrame(
        [
            (1, bytearray(b"\x89PNG\r\n rest")),
            (2, bytearray(b"\xff\xd8\xff\xe0 jpeg")),
            (3, bytearray(b"<html><body>x</body></html>")),
            (4, bytearray(b"random bytes")),
        ],
        "row_id long, html binary",
    )
    got = {r.row_id: (r.media_mime, r.media_bytes) for r in with_media_meta(df).collect()}
    assert got[1][0] == "image/png"
    assert got[2][0] == "image/jpeg"
    assert got[3][0] == "text/html"
    assert got[4][0] == "application/octet-stream"
    assert got[3][1] == 27


def test_decode_media_stub_raises_without_fake(spark):
    df = spark.createDataFrame([(1, bytearray(b"abc"))], "row_id long, html binary")
    import py4j

    with pytest.raises(Exception) as ei:
        decode_media(df, fake=False).collect()
    assert "NotImplementedError" in str(ei.value) or "decoder" in str(ei.value)


def test_decode_media_fake_deterministic(spark):
    df = spark.createDataFrame(
        [(i, bytearray(f"payload-{i}".encode() * 50)) for i in range(20)],
        "row_id long, html binary",
    )
    a = {r.row_id: r.features for r in decode_media(df, fake=True).collect()}
    b = {r.row_id: r.features for r in decode_media(df, fake=True).collect()}
    assert a == b
    assert all(len(v) == 16 for v in a.values())
    assert all(abs(sum(v) - 1.0) < 1e-5 for v in a.values())


def test_sample_frames(spark):
    df = spark.createDataFrame(
        [(1, bytearray(b"x" * 10_000)), (2, bytearray(b"y" * 100))],
        "row_id long, html binary",
    )
    got = sample_frames(df, "html", "row_id", every_n_bytes=4096).collect()
    by_id = {}
    for r in got:
        by_id.setdefault(r.row_id, []).append(r)
    assert len(by_id[1]) == 2  # 10000 // 4096 = 2 frames
    assert len(by_id[2]) == 1  # short blob still yields one frame
    assert by_id[2][0].frame_bytes == 100


def test_ivf_topk_recall(spark, emb):
    from dablooms_spark.operators.similarity import ivf_topk

    queries = emb.filter("vec_id < 20")
    exact = brute_force_topk(emb, queries, k=5)
    approx = ivf_topk(emb, queries, k=5, num_centroids=8, nprobe=3)
    e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    a = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall > 0.3, f"IVF recall collapsed: {recall}"
    # self-hit: each query's own vector shares its cell → sim 1.0 found
    self_hits = {r.query_id for r in approx.collect() if r.neighbor_id == r.query_id}
    assert len(self_hits) == 20
    # multi-assignment (replicas=2) recovers boundary-vector recall
    approx2 = ivf_topk(emb, queries, k=5, num_centroids=8, nprobe=3, replicas=2)
    a2 = {(r.query_id, r.neighbor_id) for r in approx2.collect()}
    recall2 = len(e & a2) / len(e)
    assert recall2 >= recall
    assert recall2 > 0.7, f"replicated IVF recall too low: {recall2}"


def test_bpe_token_count_splits_punct(spark):
    from dablooms_spark.operators.textops import with_bpe_token_count

    df = spark.createDataFrame(
        [(1, "hello, world! it's 42.5 degrees")], ["doc_id", "text"]
    )
    r = with_bpe_token_count(df).first()
    # hello , world ! it ' s 42 . 5 degrees  -> 11 pieces
    assert r.n_bpe_tokens == 11


# ---- round-2 regression tests (ADVICE.md) ----------------------------------


def test_short_doc_shingles_independent_of_batch_neighbors(spark):
    """A doc with fewer than k tokens gets ONE truncated gram computed
    from its own tokens only — identical short docs must produce
    identical shingles/signatures regardless of what follows them in
    the flattened Arrow batch (ADVICE: cross-document contamination)."""
    from dablooms_spark.operators.dedup import minhash_signatures

    docs = spark.createDataFrame(
        [
            (1, "alpha beta"),
            (2, "xx yy zz ww vv uu tt ss rr qq"),
            (3, "alpha beta"),
            (4, "totally different trailing neighbor tokens here now"),
        ],
        ["doc_id", "text"],
    ).coalesce(1)
    rows = {r.doc_id: (list(r.shingles), list(r.sig)) for r in
            minhash_signatures(docs, k=5, num_perms=16).collect()}
    assert rows[1] == rows[3]
    assert len(rows[1][0]) == 1  # exactly one truncated gram
    # and it differs from the long docs' grams
    assert rows[1][0][0] not in set(rows[2][0])


def test_tdigest_nan_values_drop_matching_weights():
    """NaN values must drop their weights too (ADVICE: misaligned
    (value, weight) pairs silently skewed quantiles)."""
    from dablooms_spark.core.tdigest import TDigest

    t = TDigest(delta=100)
    t.add([float("nan"), 100.0], weights=[5.0, 1000.0])
    t.add([1.0], weights=[1.0])
    # pre-fix the NaN's weight (5.0) landed on value 100 -> median ~50;
    # post-fix weight 1000 stays on 100 -> median ~100 (interpolated)
    assert float(t.quantile(0.5)[0]) > 99.0
    import numpy as np
    assert np.allclose(t.weights, [1.0, 1000.0])


def test_mp4_sniff_requires_ftyp_at_offset_4(spark):
    """MP4 is 'ftyp' at byte offset 4, not a NUL-byte prefix (ADVICE:
    over/under-matching magic)."""
    df = spark.createDataFrame(
        [
            (1, bytearray(b"\x00\x00\x00\x18ftypisom rest of box")),
            (2, bytearray(b"\x00\x00\x00 three NULs, not mp4")),
            (3, bytearray(b"RIFF....WAVE")),
        ],
        "row_id long, html binary",
    )
    got = {r.row_id: r.media_mime for r in with_media_meta(df).collect()}
    assert got[1] == "video/mp4"
    assert got[2] == "application/octet-stream"
    assert got[3] == "audio/wav"


def test_brute_force_topk_tie_break_across_partitions(spark):
    """Exact-tie candidates (identical vectors) must keep the LOWEST
    neighbor ids: local pruning uses the same (round(sim,6) desc,
    id asc) ordering as the final rank (ADVICE: tied candidate with a
    lower id could be pruned partition-locally)."""
    vec = [1.0, 0.0, 2.0, 0.5]
    corpus = spark.createDataFrame(
        [(i, vec) for i in range(20)], "vec_id long, embedding array<double>"
    ).repartition(5)
    queries = spark.createDataFrame(
        [(0, vec)], "vec_id long, embedding array<double>"
    )
    got = sorted(r.neighbor_id for r in brute_force_topk(corpus, queries, k=3).collect())
    assert got == [0, 1, 2]


def test_lsh_hot_bucket_star_capping(spark):
    """~5k identical docs land in one LSH bucket per band: the naive
    self-join emits ~12.5M pairs/band; with hot_cap they collapse to
    star pairs vs the min-id representative — O(B) output, every member
    still linked to the same cluster (VERDICT round-1 scale flag)."""
    from dablooms_spark.operators.dedup import minhash_lsh_dedup, simhash_dedup

    n = 5000
    rows = [(i, "the same boilerplate page body repeated verbatim everywhere") for i in range(n)]
    rows += [(n + i, f"unique document number {i} with distinct content tokens {i*7}") for i in range(50)]
    df = spark.createDataFrame(rows, ["doc_id", "text"]).repartition(8)

    got = minhash_lsh_dedup(df, hot_cap=100, num_perms=16, bands=4)
    pairs = got.collect()
    # star shape: exactly n-1 pairs all anchored at doc 0, jaccard 1.0
    assert len(pairs) == n - 1
    assert all(p.id_a == 0 and p.jaccard == 1.0 for p in pairs)
    assert {p.id_b for p in pairs} == set(range(1, n))
    got.unpersist()

    got2 = simhash_dedup(df, hot_cap=100)
    pairs2 = got2.collect()
    # star pairs for the hot group (the filler docs may contribute a
    # few genuine near-dup pairs of their own — bounded, not quadratic)
    star = [p for p in pairs2 if p.id_b < n]
    assert len(star) == n - 1
    assert all(p.id_a == 0 and p.hamming == 0 for p in star)
    assert len(pairs2) < n + 100
    got2.unpersist()


def test_lsh_small_buckets_keep_exact_all_pairs(spark):
    """Below hot_cap the exact all-pairs enumeration is unchanged: a
    4-copy group yields all 6 pairs, not a 3-pair star."""
    from dablooms_spark.operators.dedup import minhash_lsh_dedup

    rows = [(i, "identical tiny group of four docs right here") for i in range(4)]
    rows += [(10 + i, f"filler doc {i} distinct words apple{i} pear{i} plum{i}") for i in range(20)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = minhash_lsh_dedup(df, hot_cap=1000, num_perms=16, bands=4)
    pairs = {(p.id_a, p.id_b) for p in got.collect() if p.id_b < 10}
    assert pairs == {(a, b) for a in range(4) for b in range(4) if a < b}
    got.unpersist()


def test_ivf_kmeans_centroids_improve_recall(spark, emb):
    """Distributed Lloyd training (train_ivf_centroids) must IMPROVE
    recall@5 over the hash-sampled init (VERDICT round-1 item 6).
    Measured on the sf0.001 synthetic embeddings (near-random, so
    nprobe/C coverage bounds absolute recall): C=16/nprobe=4 goes
    0.57 -> 0.66 with 3 Lloyd passes."""
    from dablooms_spark.operators.similarity import ivf_topk

    queries = emb.filter("vec_id < 20")
    exact = brute_force_topk(emb, queries, k=5)
    e = {(r.query_id, r.neighbor_id) for r in exact.collect()}

    def recall(train_iters):
        approx = ivf_topk(
            emb, queries, k=5, num_centroids=16, nprobe=4,
            train_iters=train_iters,
        )
        a = {(r.query_id, r.neighbor_id) for r in approx.collect()}
        return len(e & a) / len(e)

    r0, r3 = recall(0), recall(3)
    assert r3 >= r0 + 0.03, f"training did not improve recall: {r0} -> {r3}"
    assert r3 >= 0.6, f"trained IVF recall@5 too low: {r3}"


def test_embedding_neardup_hot_bucket_capping(spark):
    """2k identical embeddings collapse to star pairs vs the min-id
    representative instead of ~2M bucket pairs (same capping as text
    LSH dedup)."""
    vec = [float(x) for x in range(8)]
    n = 2000
    rows = [(i, vec) for i in range(n)]
    rows += [(10_000 + i, [float(x) + 50.0 * (i + 1) for x in range(8)]) for i in range(10)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>").repartition(8)
    pairs = embedding_neardup_pairs(df, min_sim=0.999, hot_cap=100)
    got = [(r.id_a, r.id_b, r.sim) for r in pairs.collect()]
    star = [p for p in got if p[1] < n]
    assert len(star) == n - 1
    assert all(a == 0 and s == 1.0 for a, _b, s in star)
    assert len(got) < n + 50


def test_extracted_text_byte_identical_per_url(spark):
    """input_hint invariant: the text fed to the hash kernel is
    byte-identical per url — extraction is deterministic Catalyst, and
    on the synthetic corpus (html = <html><body>{text}</body></html>)
    it reproduces the stored text column exactly."""
    from dablooms_spark.operators.textops import with_extracted_text
    from dablooms_spark.sources import synth_webpages

    wp = synth_webpages(spark, n_rows=2000, partitions=8)
    ext = with_extracted_text(wp, "html", "extracted")
    mismatches = ext.filter(
        F.encode("extracted", "utf-8") != F.encode("text", "utf-8")
    ).count()
    assert mismatches == 0
    # deterministic across runs/partitionings
    ext2 = with_extracted_text(
        synth_webpages(spark, n_rows=2000, partitions=3), "html", "extracted"
    )
    a = {r.url: r.extracted for r in ext.collect()}
    b = {r.url: r.extracted for r in ext2.collect()}
    assert a == b


def test_connected_components_chains_and_cliques(spark):
    """Min-label propagation: chains (transitivity over several hops),
    a clique, and an isolated pair all resolve to min-id labels."""
    from dablooms_spark.operators.graph import connected_components, dedup_clusters

    edges = (
        [(i, i + 1) for i in range(0, 6)]        # chain 0..6
        + [(10, 11), (10, 12), (11, 12)]          # clique
        + [(100, 200)]                            # pair
    )
    pairs = spark.createDataFrame(edges, ["id_a", "id_b"]).repartition(4)
    got = {r.node: r.label for r in connected_components(pairs).collect()}
    assert all(got[i] == 0 for i in range(7))
    assert got[10] == got[11] == got[12] == 10
    assert got[100] == got[200] == 100

    keep = {r.node: r.keep for r in dedup_clusters(pairs).collect()}
    assert keep[0] and not any(keep[i] for i in range(1, 7))
    assert keep[10] and keep[100] and not keep[200]


def test_connected_components_from_minhash_pairs(spark, near_dup_docs):
    """End-to-end: LSH pairs -> clusters; each planted duplicate pair
    lands in one cluster with the original as representative."""
    from dablooms_spark.operators.dedup import minhash_lsh_dedup
    from dablooms_spark.operators.graph import connected_components

    pairs = minhash_lsh_dedup(near_dup_docs, threshold=0.9, num_perms=64, bands=16)
    labels = {r.node: r.label for r in connected_components(pairs).collect()}
    for i in range(50, 70):
        dup = i + 200_000
        if dup in labels:  # found by LSH (recall ~1 at J=1)
            assert labels[dup] == labels.get(i, labels[dup])
            assert labels[dup] <= i


def test_resize_media_stub_plumbing(spark):
    from dablooms_spark.operators.multimodal import resize_media

    df = spark.createDataFrame(
        [(i, bytearray(bytes(range(256)) * (i + 1))) for i in range(6)],
        "row_id long, html binary",
    )
    with pytest.raises(Exception) as ei:
        resize_media(df, fake=False).collect()
    assert "NotImplementedError" in str(ei.value) or "decoder" in str(ei.value)

    got = {r.row_id: r for r in resize_media(df, width=4, height=4, fake=True).collect()}
    assert all(len(got[i].resized) == 16 for i in range(6))
    # deterministic
    got2 = {r.row_id: r for r in resize_media(df, width=4, height=4, fake=True).collect()}
    assert all(bytes(got[i].resized) == bytes(got2[i].resized) for i in range(6))


def test_dedup_materialize_false_is_fully_lazy(spark, near_dup_docs):
    """VERDICT r2 item 8: materialize=False must not run ANY Spark job
    until the caller acts (composable pipelines), and must return the
    same pairs as the eager default."""
    from dablooms_spark.operators.dedup import minhash_lsh_dedup, simhash_dedup

    sc = spark.sparkContext
    tracker = sc.statusTracker()

    sc.setJobGroup("lazy-dedup-check", "laziness assertion")
    try:
        lazy_mh = minhash_lsh_dedup(
            near_dup_docs, threshold=0.5, num_perms=16, bands=4, materialize=False
        )
        lazy_sh = simhash_dedup(near_dup_docs, max_hamming=3, materialize=False)
        assert tracker.getJobIdsForGroup("lazy-dedup-check") == [], (
            "materialize=False ran a job before the caller acted"
        )
    finally:
        sc.setJobGroup("lazy-dedup-materialize", "now act")
    eager_mh = minhash_lsh_dedup(
        near_dup_docs, threshold=0.5, num_perms=16, bands=4
    )
    assert {tuple(r) for r in lazy_mh.collect()} == {
        tuple(r) for r in eager_mh.collect()
    }
    eager_sh = simhash_dedup(near_dup_docs, max_hamming=3)
    assert {tuple(r) for r in lazy_sh.collect()} == {
        tuple(r) for r in eager_sh.collect()
    }


def test_frequent_keys_materialize_false_same_answer(spark, sf_dir):
    from dablooms_spark.operators.sketch_agg import frequent_keys

    events = load_table(spark, sf_dir, "events").repartition(8)
    eager = frequent_keys(events, "user_id", min_count=16)
    lazy = frequent_keys(events, "user_id", min_count=16, materialize=False)
    assert lazy.storageLevel.useMemory is False  # not forced
    assert {tuple(r) for r in lazy.collect()} == {tuple(r) for r in eager.collect()}


def test_pii_redaction_patterns(spark):
    from dablooms_spark.operators.textops import with_pii_redacted

    rows = [
        (0, "mail bob.smith+x@sub.example.co.uk now"),
        (1, "server at 192.168.0.1 responded"),
        (2, "call +4915112345678 or 555-123-4567 today"),
        (3, "version 1.2 of 3.4.5 is not an ip, order 12345 unchanged"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r.text_redacted for r in with_pii_redacted(df).collect()}
    assert got[0] == "mail <EMAIL> now"
    assert got[1] == "server at <IP> responded"
    assert got[2] == "call <PHONE> or <PHONE> today"
    # conservative: short dotted versions and plain numbers untouched
    assert got[3] == rows[3][1]


def test_normalized_text(spark):
    from dablooms_spark.operators.textops import with_normalized_text

    rows = [
        (0, "  Hello\t\tWORLD  "),
        (1, "a\x00b\x01c"),          # control chars stripped, no space
        (2, "already clean"),
        (3, "Tabs\tand\nnewlines\r\nfold"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r.text_norm for r in with_normalized_text(df).collect()}
    assert got[0] == "hello world"
    assert got[1] == "abc"
    assert got[2] == "already clean"
    assert got[3] == "tabs and newlines fold"


def test_ivf_centroid_reduce_modes_bit_identical(spark, emb):
    """The executor-side groupBy(cell) fold (default — O(C·d) driver
    traffic instead of O(C·P·d)) must produce BIT-identical centroids
    to the driver fold: both accumulate each cell's partials in
    ascending-shard sequential float64 order. Also pins the plan: the
    fold runs as a pre-collect aggregation Exchange."""
    from dablooms_spark.operators.similarity import train_ivf_centroids

    corpus = emb.repartition(7)  # multiple shards per cell
    a = train_ivf_centroids(corpus, num_centroids=8, iters=3,
                            reduce="executor")
    b = train_ivf_centroids(corpus, num_centroids=8, iters=3,
                            reduce="driver")
    assert a.shape == b.shape
    assert (a == b).all(), "reduce modes diverged bitwise"

    import pytest

    with pytest.raises(ValueError, match="reduce"):
        train_ivf_centroids(corpus, num_centroids=8, reduce="nope")


def test_ivf_fold_plan_has_cell_exchange(spark):
    """The executor-side fold must be a real pre-collect aggregation:
    its plan hash-partitions the partial stats on cell (the Exchange)
    and runs the fold as a grouped-map python stage — driver traffic
    is the folded O(C·d) rows, not O(C·P·d) partials."""
    from dablooms_spark.operators.similarity import _fold_cell_stats

    stats = spark.createDataFrame(
        [(0, 1, [1.0, 2.0], 3), (1, 1, [0.5, 0.5], 2), (0, 2, [1.0, 0.0], 1)],
        "shard long, cell long, s array<double>, cnt long",
    )
    folded = _fold_cell_stats(stats, 2)
    plan = folded._jdf.queryExecution().optimizedPlan().toString()
    physical = folded._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" in plan or "FlatMapGroupsInPandas" in physical
    assert "hashpartitioning(cell" in physical
    got = {r.cell: (list(r.s), r.cnt) for r in folded.collect()}
    assert got == {1: ([1.5, 2.5], 5), 2: ([1.0, 0.0], 1)}
