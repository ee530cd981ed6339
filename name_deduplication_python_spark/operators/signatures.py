"""Signature stage: text -> (MinHash[num_hashes], SimHash64, n_shingles).

Replaces the reference's blocking-key generator + fuzzy scorer features
(_get_blocking_keys_optimized /root/reference/analysis_engine.py:418-428;
_precompute_dataframe :90-106). Where the reference derives FL/soundex/
birthdate keys per record, we derive k-shingle MinHash signatures (LSH
banding turns them into candidate-join keys) and a 64-bit SimHash (the
Hamming-ball verifier replacing the rapidfuzz pairwise loop, SURVEY §2.4).

Pipeline split between engines (the round-2 scaling fix — round 1 spent
the stage's wall clock allocating per-token Python string objects in
pandas ``str.split``):

  * token hashing runs in the JVM inside whole-stage codegen:
    ``transform(split(trim(text), ' '), t -> xxhash64(t))`` — zero Python
    string objects ever exist; Arrow ships ONE contiguous int64 buffer
    per batch (list<int64> column).
  * the numpy kernel (shingle polynomial, MinHash, SimHash) consumes that
    buffer zero-copy via ``mapInArrow`` (values + offsets straight from
    the Arrow ListArray).

Hashing:
  * token hash  = xxhash64(token, seed=42) — Spark native; the pure-python
    XXH64 mirror below is bit-identical (tested) and feeds the oracle path
  * shingle hash = degree-k polynomial over token hashes mod 2^64
  * MinHash_i   = A_i * (shingle >> 32) + B_i mod 2^32 (uint32 multiply-
    shift family) — 32-bit signatures halve kernel bandwidth and Arrow/
    parquet bytes; the collision-probability loss is ~n_shingles/2^32,
    invisible at 128 fns (recall tests unchanged)
  * SimHash bit b = sign of sum over tokens of (2*bit_b(token_hash)-1),
    computed in ONE reduceat pass over the unpacked (n_tokens, 64) bit
    matrix instead of 64 strided passes over the uint64 array
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_POLY_C = np.uint64(1099511628211)  # FNV-ish odd multiplier for shingle combine

# ---- pure-python XXH64 (public algorithm; bit-identical to Spark's
#      F.xxhash64 on strings — verified in tests) ----------------------------

_P1, _P2, _P3, _P4, _P5 = (
    0x9E3779B185EBCA87,
    0xC2B2AE3D27D4EB4F,
    0x165667B19E3779F9,
    0x85EBCA77C2B2AE63,
    0x27D4EB2F165667C5,
)
_M64 = (1 << 64) - 1


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def xxh64(data: bytes, seed: int = 42) -> int:
    """XXH64 (Collet's public spec), unsigned. Spark's xxhash64 uses
    seed 42 over the UTF-8 bytes."""
    n, i = len(data), 0
    if n >= 32:
        v1, v2 = (seed + _P1 + _P2) & _M64, (seed + _P2) & _M64
        v3, v4 = seed & _M64, (seed - _P1) & _M64
        while i + 32 <= n:
            vs = [v1, v2, v3, v4]
            for j in range(4):
                lane = int.from_bytes(data[i + 8 * j : i + 8 * j + 8], "little")
                v = (vs[j] + lane * _P2) & _M64
                vs[j] = (_rotl(v, 31) * _P1) & _M64
            v1, v2, v3, v4 = vs
            i += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _M64
        for v in (v1, v2, v3, v4):
            v = (_rotl((v * _P2) & _M64, 31) * _P1) & _M64
            h = ((h ^ v) * _P1 + _P4) & _M64
    else:
        h = (seed + _P5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        lane = int.from_bytes(data[i : i + 8], "little")
        k = (_rotl((lane * _P2) & _M64, 31) * _P1) & _M64
        h = (_rotl(h ^ k, 27) * _P1 + _P4) & _M64
        i += 8
    if i + 4 <= n:
        lane = int.from_bytes(data[i : i + 4], "little")
        h = (_rotl(h ^ ((lane * _P1) & _M64), 23) * _P2 + _P3) & _M64
        i += 4
    while i < n:
        h = (_rotl(h ^ ((data[i] * _P5) & _M64), 11) * _P1) & _M64
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _M64
    h ^= h >> 29
    h = (h * _P3) & _M64
    h ^= h >> 32
    return h


def token_hash_oracle(token: str) -> int:
    """Unsigned 64-bit token hash == Spark's xxhash64(token) (tests + the
    oracle tokenizer below)."""
    return xxh64(token.encode("utf-8"), 42)


def _hash_params(num_hashes: int, seed: int) -> tuple[np.ndarray, np.ndarray]:
    """uint32 multiply-shift family: A odd, B arbitrary."""
    rng = np.random.default_rng(seed)
    a = (
        rng.integers(1, 2**31, size=num_hashes, dtype=np.uint32) * np.uint32(2)
        + np.uint32(1)
    )
    b = rng.integers(0, 2**32, size=num_hashes, dtype=np.uint64).astype(np.uint32)
    return a, b


def _tokenize_batch(texts: pd.Series) -> tuple[np.ndarray, np.ndarray]:
    """ORACLE tokenizer (tests / pure-python path): split on single spaces
    after trim, hash each token with the python XXH64 mirror. The Spark
    stage computes the identical hashes JVM-side. Empty/null/whitespace-
    only texts get ZERO tokens — the analog of the reference's
    drop-all-null-rows filter (P4, /root/reference/main.py:638)."""
    s = texts.fillna("").str.strip()
    hashes: list[int] = []
    lengths = np.zeros(len(s), dtype=np.int64)
    for i, t in enumerate(s):
        if not t:
            continue
        toks = t.split(" ")
        lengths[i] = len(toks)
        hashes.extend(token_hash_oracle(tok) for tok in toks)
    starts = np.zeros(len(s) + 1, dtype=np.int64)
    np.cumsum(lengths, out=starts[1:])
    return np.array(hashes, dtype=np.uint64), starts


def _rolling_poly(token_hashes: np.ndarray, k: int) -> np.ndarray:
    """acc[t] = degree-k polynomial over token_hashes[t : t+k] (mod 2^64);
    positions within k-1 of the array end mix the zero pad."""
    acc = np.zeros(len(token_hashes), dtype=np.uint64)
    for j in range(k):
        shifted = np.empty_like(acc)
        if j == 0:
            shifted[:] = token_hashes
        else:
            shifted[:-j] = token_hashes[j:]
            shifted[-j:] = 0
        acc = acc * _POLY_C + shifted
    return acc


def _shingle_hashes(
    token_hashes: np.ndarray, starts: np.ndarray, k: int
) -> tuple[np.ndarray, np.ndarray]:
    """Degree-k rolling polynomial over token hashes, not crossing docs.

    Returns (flat shingle-hash array, per-doc shingle start offsets).
    Docs with < k tokens get ONE shingle = polynomial over all their tokens.
    Assembly is a single boolean-mask gather plus scatter for short docs —
    no per-doc loops (profile showed the old repeat/arange mask + per-doc
    copy loop costing ~40% of the kernel).
    """
    n_docs = len(starts) - 1
    lengths = np.diff(starts)
    n_sh = np.maximum(lengths - (k - 1), 1)
    n_sh[lengths == 0] = 0
    sh_starts = np.zeros(n_docs + 1, dtype=np.int64)
    np.cumsum(n_sh, out=sh_starts[1:])
    total = int(sh_starts[-1])
    out = np.zeros(total, dtype=np.uint64)
    if total == 0:
        return out, sh_starts

    acc = _rolling_poly(token_hashes, k)

    # valid-window mask without repeat/arange: every position is valid
    # except the trailing min(k-1, len) positions of each doc
    valid = np.ones(len(token_hashes), dtype=bool)
    ends = starts[1:]
    for j in range(1, k):
        pos = ends - j
        sel = pos >= starts[:-1]
        valid[pos[sel]] = False

    is_long = lengths >= k
    short = (lengths > 0) & ~is_long

    # destination mask: which output slots belong to long-doc windows
    if short.any():
        # long-doc windows map 1:1 onto output positions except the single
        # slots reserved for short docs
        dest_short = sh_starts[:-1][short]
        long_mask = np.ones(total, dtype=bool)
        long_mask[dest_short] = False
        out[long_mask] = acc[valid]
        # short docs: polynomial over all tokens = acc at doc start,
        # degree len-1 < k — matches a zero-padded fold of their tokens
        # only when the doc is the array tail; compute exactly instead:
        short_idx = np.flatnonzero(short)
        short_vals = np.zeros(len(short_idx), dtype=np.uint64)
        with np.errstate(over="ignore"):  # intended mod-2^64 wraparound
            for r, d in enumerate(short_idx):  # rare path (docs < k tokens)
                v = np.uint64(0)
                for t in token_hashes[starts[d] : starts[d + 1]]:
                    v = v * _POLY_C + t
                short_vals[r] = v
        out[dest_short] = short_vals
    else:
        out[:] = acc[valid]
    return out, sh_starts


def signatures_from_token_hashes(
    th: np.ndarray,
    starts: np.ndarray,
    num_hashes: int = 128,
    shingle_k: int = 5,
    seed: int = 42,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Numpy core: uint64 token hashes + doc offsets ->
    (minhash[n_docs, num_hashes] int32, simhash[n_docs] int64,
    n_shingles[n_docs] int32)."""
    n_docs = len(starts) - 1
    sh, sh_starts = _shingle_hashes(th, starts, shingle_k)
    n_sh = np.diff(sh_starts).astype(np.int32)

    a, b = _hash_params(num_hashes, seed)
    minhash = np.full((n_docs, num_hashes), np.iinfo(np.uint32).max, dtype=np.uint32)
    nonempty = n_sh > 0
    if sh.size:
        # cache-blocked: chunk doc groups so a chunk's shingles stay L2-
        # resident across all num_hashes passes — the naive loop streams
        # the full array 128x from DRAM and saturates memory bandwidth.
        # uint32 signatures halve the per-pass write traffic.
        ne_idx = np.flatnonzero(nonempty)
        ne_starts = sh_starts[:-1][nonempty]
        ne_ends = sh_starts[1:][nonempty]
        CHUNK = 1 << 16  # shingles per block
        d0 = 0
        while d0 < len(ne_idx):
            d1 = d0 + 1
            while d1 < len(ne_idx) and ne_ends[d1 - 1] - ne_starts[d0] < CHUNK:
                d1 += 1
            s0, s1 = int(ne_starts[d0]), int(ne_ends[d1 - 1])
            # high 32 bits of the shingle hash (best-mixed by the poly)
            shc = (sh[s0:s1] >> np.uint64(32)).astype(np.uint32)
            local_starts = ne_starts[d0:d1] - s0
            rows = ne_idx[d0:d1]
            for i in range(num_hashes):  # all hash fns over the hot chunk
                hv = a[i] * shc + b[i]  # uint32 wraparound mod 2^32
                minhash[rows, i] = np.minimum.reduceat(hv, local_starts)
            d0 = d1
    minhash = minhash.view(np.int32)

    simhash = np.zeros(n_docs, dtype=np.uint64)
    if th.size:
        tok_lens = np.diff(starts)
        tok_nonempty = tok_lens > 0
        tne_idx = np.flatnonzero(tok_nonempty)
        tne_starts = starts[:-1][tok_nonempty]
        tne_ends = starts[1:][tok_nonempty]
        acc_bits = np.zeros(len(tne_idx), dtype=np.uint64)
        CHUNK = 1 << 16
        d0 = 0
        while d0 < len(tne_idx):
            d1 = d0 + 1
            while d1 < len(tne_idx) and tne_ends[d1 - 1] - tne_starts[d0] < CHUNK:
                d1 += 1
            t0, t1 = int(tne_starts[d0]), int(tne_ends[d1 - 1])
            thc = th[t0:t1]
            local_starts = tne_starts[d0:d1] - t0
            # 64 strided passes over the L2-resident chunk. An unpackbits
            # (n_tokens, 64) one-pass variant was tried and REVERTED: the
            # int32 bit matrix + 2D reduceat ran 6x slower (measured) —
            # 32x the memory traffic of the packed passes.
            acc = np.zeros(d1 - d0, dtype=np.uint64)
            for bit in range(64):  # all bits over the hot chunk
                pm = (((thc >> np.uint64(bit)) & np.uint64(1)).astype(np.int32) * 2) - 1
                sums = np.add.reduceat(pm, local_starts)
                acc |= (sums > 0).astype(np.uint64) << np.uint64(bit)
            acc_bits[d0:d1] = acc
            d0 = d1
        simhash[tok_nonempty] = acc_bits

    return minhash, simhash.view(np.int64), n_sh


def compute_signatures_np(
    texts: pd.Series,
    num_hashes: int = 128,
    shingle_k: int = 5,
    seed: int = 42,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Oracle path (tests): pure-python tokenize+hash, then the same numpy
    core the Spark stage runs — output is bit-identical to signature_stage."""
    th, starts = _tokenize_batch(texts)
    return signatures_from_token_hashes(
        th, starts, num_hashes=num_hashes, shingle_k=shingle_k, seed=seed
    )


def collapse_hash_exprs(id_col: str = "url") -> dict:
    """The signature-content hash column signature_collapse groups on,
    exposed so the SIGNATURE stage can compute it in its own map pass
    (round 7): the collapse stage then scans one 8-byte column instead
    of re-reading and re-hashing the 512 B minhash arrays (~90% of the
    exact_map stage's input bytes at the bench corpus)."""
    empty = F.col("n_shingles") <= 0
    return {
        "sig_h": F.when(
            ~empty, F.xxhash64("minhash", "simhash", "n_shingles")
        ).otherwise(F.xxhash64(F.lit("empty:"), id_col))
    }


def signature_collapse(sigs: DataFrame, id_col: str = "url") -> DataFrame:
    """Exact-duplicate collapse AFTER the (map-only) signature pass:
    docs with identical signature content (minhash + simhash +
    n_shingles — byte-identical texts by construction, or J~1 texts whose
    128 minhashes all agree, which the Exact tier would merge anyway)
    map to one representative = the group's MIN id. ``sigs`` carries
    the content hash ``sig_h`` (collapse_hash_exprs, computed in the
    signature pass), so the collapse scans that narrow column alone.

    Returns exact_map(url, rep). Downstream LSH runs on reps only, so

      * an m-copy boilerplate family contributes ONE member per band
        bucket instead of m — the hot-bucket pathology for exact dups
        is structurally gone (near-dup hot buckets remain
        bucket_cap's job), and the band shuffle shrinks by the corpus
        dup rate (~30-50% on real web crawls);
      * cluster labels are preserved: rep = min(url) per group, so the
        component minimum over reps IS the component minimum over urls.

    Zero-shingle (empty-text) docs are NOT collapsed (each maps to
    itself): the engine treats empty docs as singletons, never as
    duplicates of each other, matching the band_keys n_shingles>0 filter.

    Cost: one narrow shuffle of (sig_hash, url) — no text, no minhash
    payload. The content hash is one xxhash64: collision risk ~n^2/2^65,
    ~5e-8 at 10^6 docs but ~3% per corpus at 10^12 — a 10^12-doc
    deployment groups on md5(payload) split into two longs instead (same
    grouping plan, a second key column).
    A giant identical family makes its sig_h a skewed join key on the
    map-back join; the groupBy side is map-side combined and AQE skew
    join (on in session.py) splits the residual.
    """
    from pyspark.sql import Window

    # window-min instead of groupBy+self-join (round 7): the join form
    # shuffled the (sig_h, url) map TWICE (once into the aggregate, once
    # into the join probe); one window over sig_h establishes the
    # partitioning once and reads the group min in place — same rows,
    # same rep labels (measured: the exact_map stage halved on the 340k-
    # page bench corpus). AQE skew handling does not apply to windows,
    # but the key is a 64-bit content hash: a skewed sig_h IS a giant
    # identical-duplicate family, whose rows are exactly what this
    # operator exists to collapse — the window state per key is one min.
    m = sigs.select(F.col(id_col).alias("url"), "sig_h")
    w = Window.partitionBy("sig_h")
    return m.select("url", F.min("url").over(w).alias("rep"))


def signature_stage(
    extracted: DataFrame,
    id_col: str = "url",
    text_col: str = "text",
    num_hashes: int = 128,
    shingle_k: int = 5,
    seed: int = 42,
) -> DataFrame:
    """extracted(id, text, ...) -> (id, minhash array<int>, simhash long,
    n_shingles int).

    Token hashing happens JVM-side (split + xxhash64 inside codegen); the
    numpy kernel reads the Arrow list<int64> buffer zero-copy via
    mapInArrow. No Python string object is ever created.
    """
    out_schema = (
        f"{id_col} string, minhash array<int>, simhash bigint, n_shingles int"
    )
    trimmed = F.trim(F.col(text_col))
    th_col = F.when(
        F.coalesce(F.length(trimmed), F.lit(0)) == 0,
        F.expr("array()").cast("array<bigint>"),
    ).otherwise(F.transform(F.split(trimmed, " "), lambda t: F.xxhash64(t)))
    prepared = extracted.select(
        F.col(id_col).cast("string").alias(id_col), th_col.alias("th")
    )

    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            n = rb.num_rows
            if n == 0:
                continue
            ids = rb.column(0)
            la = rb.column(1)
            if isinstance(la, pa.ChunkedArray):  # pragma: no cover
                la = la.combine_chunks()
            counts = la.value_lengths().fill_null(0).to_numpy().astype(np.int64)
            flat = la.flatten()
            th = flat.to_numpy(zero_copy_only=False).view(np.uint64)
            starts = np.zeros(n + 1, dtype=np.int64)
            np.cumsum(counts, out=starts[1:])
            mh, sh, ns = signatures_from_token_hashes(
                th, starts, num_hashes=num_hashes, shingle_k=shingle_k, seed=seed
            )
            mh_list = pa.ListArray.from_arrays(
                pa.array(np.arange(n + 1, dtype=np.int32) * num_hashes),
                pa.array(mh.ravel(), type=pa.int32()),
            )
            yield pa.RecordBatch.from_arrays(
                [
                    ids,
                    mh_list,
                    pa.array(sh, type=pa.int64()),
                    pa.array(ns, type=pa.int32()),
                ],
                names=[id_col, "minhash", "simhash", "n_shingles"],
            )

    return prepared.mapInArrow(gen, schema=out_schema)
