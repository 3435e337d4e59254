"""Deduplication operators for web-scale corpora.

Four strategies, each with the scaling shape that matters at 10^12
documents:

- exact_dedup: hash-groupBy on a text digest — one shuffle of
  (digest, id) pairs, never of text bytes.
- minhash_lsh_dedup: token-shingle MinHash signatures (numpy over
  Arrow batches), banded LSH bucketing, candidate self-join within
  buckets, exact Jaccard verification JVM-side (array_intersect /
  array_union on shingle sets). Only candidate pairs — a vanishing
  fraction of n² — ever join.
- simhash_dedup: 64-bit SimHash fingerprints (numpy bit-bucketed
  majority), banded 16-bit prefixes for candidates, exact Hamming
  verification via bit_count(f1 ^ f2) in Catalyst.
- ngram_jaccard_dedup: exact Jaccard on shingle sets for candidate
  pairs from any generator (the verification stage alone).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import arrow_udf

from dablooms_spark.operators.textops import shingle_hashes

import pyarrow as pa

_MERSENNE = (1 << 61) - 1


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Canonical row per distinct text: (doc_id = min id, dupes = count).
    Shuffles only (md5, id); text stays put."""
    return (
        df.select(F.md5(F.col(text_col)).alias("__h"), F.col(id_col))
        .groupBy("__h")
        .agg(F.min(id_col).alias(id_col), F.count("*").alias("dupes"))
        .drop("__h")
    )


def _list_offsets(arr) -> tuple[np.ndarray, np.ndarray]:
    """(flat int64 values, int64 offsets) from an Arrow list array —
    zero-copy."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    flat = arr.values.to_numpy(zero_copy_only=False).astype(np.uint64)
    offsets = arr.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
    # a sliced ListArray's offsets are absolute into the parent values
    # buffer — normalize so offsets[0] == 0 and flat covers exactly
    # this batch's rows
    if len(offsets) and offsets[0] != 0:
        flat = flat[offsets[0] : offsets[-1]]
        offsets = offsets - offsets[0]
    elif len(offsets) and offsets[-1] != len(flat):
        flat = flat[: offsets[-1]]
    return flat, offsets


_ROLL_C = np.uint64(0x9E3779B97F4A7C15)  # golden-ratio odd multiplier


def _sig_udf(k: int, num_perms: int, seed: int):
    """One UDF computing k-gram rolling-hash shingles AND MinHash
    signatures from per-token hashes.

    Input: array<long> token hashes (hashed JVM-side — one xxhash64
    per token). The k-gram hash is the polynomial
    Σ_j tok[i+j]·C^j (mod 2^64), built with k global shifted
    multiply-adds over the flattened token buffer — no string slicing
    or concatenation (the naive Catalyst `slice`+`concat_ws` shingle
    expression was ~70% of dedup wall time). Documents shorter than k
    tokens contribute one truncated gram. Output: struct(shingles
    array<long> distinct, sig array<long>).
    """
    rng = np.random.RandomState(seed)
    a = rng.randint(1, _MERSENNE, size=num_perms, dtype=np.int64).astype(np.uint64)
    b = rng.randint(0, _MERSENNE, size=num_perms, dtype=np.int64).astype(np.uint64)

    def kernel(flat: np.ndarray, offsets: np.ndarray):
        """(shingle_values, shingle_offsets, sig_matrix) for one batch
        of token-hash lists — fully vectorized, no per-document loop."""
        n = len(offsets) - 1
        starts, ends = offsets[:-1], offsets[1:]
        lens = ends - starts
        m = len(flat)
        with np.errstate(over="ignore"):
            rolled = np.zeros(m, dtype=np.uint64)
            cj = np.uint64(1)
            for j in range(k):
                if j < m:
                    rolled[: m - j] += flat[j:] * cj
                cj *= _ROLL_C
            # valid gram start positions: i such that i+k <= doc end
            doc_of = np.repeat(np.arange(n), lens)
            pos_in_doc = np.arange(m) - np.repeat(starts, lens)
            valid = pos_in_doc <= (np.repeat(lens, lens) - k)
            # short docs (< k tokens): one truncated gram at start.
            # `rolled` at that position would mix in tokens from the
            # NEXT document in the flat buffer, so recompute the
            # truncated gram from only the doc's own tokens.
            short = lens[doc_of] < k
            if short.any():
                cpow = np.empty(k, dtype=np.uint64)
                cpow[0] = np.uint64(1)
                for j in range(1, k):
                    cpow[j] = cpow[j - 1] * _ROLL_C
                contrib = flat[short] * cpow[pos_in_doc[short]]
                corrected = np.zeros(n, dtype=np.uint64)
                np.add.at(corrected, doc_of[short], contrib)
                short_docs = np.nonzero((lens > 0) & (lens < k))[0]
                rolled[starts[short_docs]] = corrected[short_docs]
            valid |= short & (pos_in_doc == 0)

        vflat = rolled[valid]
        vdoc = doc_of[valid]
        gram_counts = np.bincount(vdoc, minlength=n)
        gstarts = np.zeros(n, dtype=np.int64)
        np.cumsum(gram_counts[:-1], out=gstarts[1:])
        safe_g = np.minimum(gstarts, max(len(vflat) - 1, 0))
        empty = gram_counts == 0
        sigm = np.zeros((n, num_perms), dtype=np.int64)
        with np.errstate(over="ignore"):
            for j in range(num_perms):
                vals = (a[j] * vflat + b[j]) % np.uint64(_MERSENNE)
                if len(vflat):
                    sigm[:, j] = np.minimum.reduceat(vals, safe_g).astype(np.int64)
        sigm[empty] = 0

        # distinct shingles per doc, vectorized: sort by (doc, value),
        # keep firsts where either changes
        signed = vflat.view(np.int64)
        order = np.lexsort((signed, vdoc))
        sd, sv = vdoc[order], signed[order]
        keep = np.ones(len(sv), dtype=bool)
        if len(sv) > 1:
            keep[1:] = (sd[1:] != sd[:-1]) | (sv[1:] != sv[:-1])
        sh_values = sv[keep]
        per_doc = np.bincount(sd[keep], minlength=n)
        sh_offsets = np.zeros(n + 1, dtype=np.int64)
        np.cumsum(per_doc, out=sh_offsets[1:])
        return sh_values, sh_offsets, sigm

    def to_struct(sh_values, sh_offsets, sigm) -> pa.StructArray:
        n = sigm.shape[0]
        shingles = pa.ListArray.from_arrays(
            pa.array(sh_offsets, type=pa.int32()), pa.array(sh_values, type=pa.int64())
        )
        sig_off = (np.arange(n + 1, dtype=np.int64) * num_perms).astype(np.int32)
        sig_arr = pa.ListArray.from_arrays(
            pa.array(sig_off, type=pa.int32()),
            pa.array(sigm.ravel(), type=pa.int64()),
        )
        return pa.StructArray.from_arrays([shingles, sig_arr], ["shingles", "sig"])

    # zero-copy Arrow UDF: ListArray values/offsets read directly
    @arrow_udf("struct<shingles: array<long>, sig: array<long>>")
    def sig(it: Iterator[pa.Array]) -> Iterator[pa.Array]:
        for arr in it:
            flat, offsets = _list_offsets(arr)
            if len(offsets) <= 1:
                yield to_struct(
                    np.empty(0, np.int64),
                    np.zeros(max(len(offsets), 1), np.int64),
                    np.zeros((max(len(offsets) - 1, 0), num_perms), np.int64),
                )
                continue
            yield to_struct(*kernel(flat, offsets))

    return sig


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    num_perms: int = 64,
    seed: int = 42,
) -> DataFrame:
    """(id, shingles array<long>, sig array<long>). Token hashing is
    JVM-side (one xxhash64 per token); shingling and MinHash run in
    one vectorized Arrow UDF (see _sig_udf)."""
    tok_hashes = F.transform(F.split(F.col(text_col), " "), lambda t: F.xxhash64(t))
    sig = _sig_udf(k, num_perms, seed)
    return df.select(
        F.col(id_col), sig(tok_hashes).alias("ss")
    ).select(id_col, F.col("ss.shingles").alias("shingles"), F.col("ss.sig").alias("sig"))


def _banded_candidate_pairs(
    band_rows: DataFrame,
    id_col: str,
    hot_cap: int,
    payload: str | None = None,
) -> DataFrame:
    """Candidate pairs (id_a < id_b) from (id, band_key[, payload])
    rows, with HOT-BUCKET capping: a bucket of B co-hashed docs
    produces B²/2 pairs in a naive self-join — at web scale one
    boilerplate page repeated 5M times is a 10^13-pair bucket. Buckets
    with <= hot_cap members keep the exact all-pairs self-join; larger
    buckets emit STAR pairs against the bucket's min-id representative
    (O(B) pairs), so every hot-bucket member still joins the same
    candidate cluster and the downstream exact verification keeps
    precision 1. Hot-bucket stats attach via a BROADCAST join of the
    filtered aggregate (hot keys are rare by definition), so band rows
    are never re-shuffled to learn their bucket size.
    """
    aggs = [F.count("*").alias("__bsz"), F.min(id_col).alias("__rep")]
    if payload is not None:
        aggs.append(F.min_by(payload, id_col).alias("__rep_payload"))
    # Only HOT keys need stats attached, and hot keys are rare by
    # definition (<= rows/hot_cap of them), so the flagging join is a
    # BROADCAST of the filtered aggregate — band_rows itself is never
    # re-shuffled for it. The groupBy shuffle moves map-side-combined
    # (band_key, stats) uniques, a small fraction of the row volume.
    hot_stats = (
        band_rows.groupBy("band_key").agg(*aggs).filter(F.col("__bsz") > hot_cap)
    )
    br = band_rows.join(F.broadcast(hot_stats), "band_key", "left")

    small = br.filter(F.col("__bsz").isNull())
    out_cols = [
        F.col(f"l.{id_col}").alias("id_a"),
        F.col(f"r.{id_col}").alias("id_b"),
    ]
    if payload is not None:
        out_cols += [
            F.col(f"l.{payload}").alias(f"{payload}_a"),
            F.col(f"r.{payload}").alias(f"{payload}_b"),
        ]
    l = small.select(id_col, "band_key", *([payload] if payload else [])).alias("l")
    r = small.select(id_col, "band_key", *([payload] if payload else [])).alias("r")
    pairs_small = l.join(
        r,
        (F.col("l.band_key") == F.col("r.band_key"))
        & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
    ).select(*out_cols)

    hot = br.filter(F.col("__bsz").isNotNull() & (F.col(id_col) != F.col("__rep")))
    hot_cols = [F.col("__rep").alias("id_a"), F.col(id_col).alias("id_b")]
    if payload is not None:
        hot_cols += [
            F.col("__rep_payload").alias(f"{payload}_a"),
            F.col(payload).alias(f"{payload}_b"),
        ]
    pairs_hot = hot.select(*hot_cols)
    return pairs_small.unionByName(pairs_hot).distinct()


def minhash_lsh_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    num_perms: int = 64,
    bands: int = 16,
    threshold: float = 0.7,
    seed: int = 42,
    hot_cap: int = 1000,
    materialize: bool = True,
) -> DataFrame:
    """Near-duplicate pairs (id_a < id_b, jaccard) with exact-verified
    Jaccard >= threshold. LSH with b bands of r = num_perms/b rows has
    candidate-recall ≈ 1-(1-t^r)^b; 16 bands × 4 rows catches t=0.7
    pairs with p ≈ 0.97+. Buckets larger than hot_cap fall back to
    star pairs vs the min-id representative (see
    _banded_candidate_pairs) — exact pair enumeration within a
    5M-copy boilerplate bucket is quadratic and never what you want.

    materialize=True (default) persists + counts the result so the
    signature cache can be released immediately — right when the pairs
    are consumed more than once. materialize=False returns the fully
    LAZY plan (no job runs until the caller acts) for composed
    pipelines; the signature stage then appears twice in the plan
    (band keys + verification) instead of being cached."""
    assert num_perms % bands == 0
    r = num_perms // bands
    sigs = minhash_signatures(df, text_col, id_col, k, num_perms, seed)
    if materialize:
        sigs = sigs.persist()

    # 8-byte band keys: xxhash64 over (band index, signature slice)
    # keeps the candidate self-join narrow (a string band key is ~60
    # bytes per row-band at 64 perms)
    band_rows = sigs.select(
        F.col(id_col),
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda bi: F.xxhash64(bi, F.slice(F.col("sig"), bi * r + 1, r)),
            )
        ).alias("band_key"),
    )
    candidates = _banded_candidate_pairs(band_rows, id_col, hot_cap)
    sh = sigs.select(F.col(id_col), F.col("shingles"))
    verified = (
        candidates.join(
            sh.select(F.col(id_col).alias("id_a"), F.col("shingles").alias("sh_a")),
            "id_a",
        )
        .join(
            sh.select(F.col(id_col).alias("id_b"), F.col("shingles").alias("sh_b")),
            "id_b",
        )
        .withColumn(
            "jaccard",
            F.round(
                F.size(F.array_intersect("sh_a", "sh_b"))
                / F.size(F.array_union("sh_a", "sh_b")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    if not materialize:
        return verified
    out = verified.persist()
    out.count()
    sigs.unpersist()
    return out


def simhash_fingerprints(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, simhash long): 64-bit SimHash over token xxhash64 values.
    Token hashing stays JVM-side; the bit-majority fold is numpy."""
    tok_hashes = F.transform(
        F.split(F.col(text_col), " "), lambda t: F.xxhash64(t)
    )

    def fold_kernel(flat: np.ndarray, offsets: np.ndarray) -> np.ndarray:
        n = len(offsets) - 1
        starts = offsets[:-1]
        lens = offsets[1:] - starts
        safe_starts = np.minimum(starts, max(len(flat) - 1, 0))
        fp = np.zeros(n, dtype=np.uint64)
        # one segmented popcount-sum per bit position (64 passes),
        # no per-document Python
        for j in range(64):
            bitvals = ((flat >> np.uint64(j)) & np.uint64(1)).astype(np.int64)
            ones = (
                np.add.reduceat(bitvals, safe_starts)
                if len(flat)
                else np.zeros(n, dtype=np.int64)
            )
            maj = (ones * 2 > lens) & (lens > 0)
            fp |= np.where(maj, np.uint64(1) << np.uint64(j), np.uint64(0))
        return fp.view(np.int64)

    @arrow_udf("long")
    def fold(it: Iterator[pa.Array]) -> Iterator[pa.Array]:
        for arr in it:
            if len(arr) == 0:
                yield pa.array([], type=pa.int64())
                continue
            flat, offsets = _list_offsets(arr)
            yield pa.array(fold_kernel(flat, offsets))

    return df.select(F.col(id_col), fold(tok_hashes).alias("simhash"))


def simhash_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    hot_cap: int = 1000,
    materialize: bool = True,
) -> DataFrame:
    """Near-duplicate pairs by SimHash: candidates share one of four
    16-bit bands (any pair within Hamming distance 3 must agree on at
    least one band — pigeonhole), verified exactly with
    bit_count(a ^ b) <= max_hamming in Catalyst. Buckets larger than
    hot_cap use star pairs vs the min-id representative (see
    _banded_candidate_pairs). materialize=False returns the fully lazy
    plan (see minhash_lsh_dedup for the tradeoff)."""
    fps = simhash_fingerprints(df, text_col, id_col)
    if materialize:
        fps = fps.persist()
    bands = fps.select(
        F.col(id_col),
        F.col("simhash"),
        F.explode(
            F.array(
                *[
                    F.concat(
                        F.lit(f"{i}:"),
                        F.shiftrightunsigned("simhash", i * 16)
                        .bitwiseAND(F.lit(0xFFFF))
                        .cast("string"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("band_key"),
    )
    pairs = (
        _banded_candidate_pairs(bands, id_col, hot_cap, payload="simhash")
        .withColumn(
            "hamming",
            F.bit_count(F.col("simhash_a").bitwiseXOR(F.col("simhash_b"))),
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )
    if not materialize:
        return pairs
    out = pairs.persist()
    out.count()
    fps.unpersist()
    return out


def ngram_jaccard_pairs(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
) -> DataFrame:
    """Exact n-gram Jaccard for given (id_a, id_b) pairs — the
    verification stage reusable with any candidate generator."""
    sh = df.select(
        F.col(id_col), shingle_hashes(text_col, k=k).alias("shingles")
    )
    return (
        pairs.join(
            sh.select(F.col(id_col).alias("id_a"), F.col("shingles").alias("sh_a")),
            "id_a",
        )
        .join(
            sh.select(F.col(id_col).alias("id_b"), F.col("shingles").alias("sh_b")),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            F.round(
                F.size(F.array_intersect("sh_a", "sh_b"))
                / F.size(F.array_union("sh_a", "sh_b")),
                6,
            ).alias("jaccard"),
        )
    )
