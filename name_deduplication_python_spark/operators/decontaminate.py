"""Eval-set decontamination: flag training documents that share any
token n-gram with a held-out evaluation set.

Beyond-reference LLM-pipeline operator (the reference engine has no
analog; its nearest shape is the P5 already-matched anti-join,
/root/reference/analysis_engine.py:545). The algorithm is the published
GPT-3 / PaLM decontamination recipe: Brown et al. 2020 (NeurIPS),
Appendix C — mark a training document "dirty" when any of its 13-token
n-grams also occurs in an evaluation benchmark.

Scale shape (the 100 TB plan):
  - The EVAL side is a benchmark suite — thousands of documents, at
    most a few million distinct n-grams. It is tokenized, hashed to
    8-byte xxhash64 keys, deduplicated, and BROADCAST.
  - The TRAINING side streams map-only: tokenize -> per-doc distinct
    n-gram hashes -> explode -> broadcast hash-join against the eval
    set -> per-doc overlap count. The only wide exchange is the final
    per-doc count aggregation, which combines map-side (partial
    counts); the 100 TB text itself never shuffles on a gram key.
  - Gram hashing keeps the broadcast table and the exploded stream at
    8 bytes/gram instead of ~80-byte strings; an xxhash64 collision
    only ever inflates an overlap count (never misses one), with
    probability ~ |eval grams| / 2^64 per training gram.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _mix64(h: "np.ndarray") -> "np.ndarray":
    """Murmur3 fmix64 finalizer (public domain avalanche) over a uint64
    array — spreads the rolling-polynomial gram key over all 64 bits so
    the downstream equi-join key is uniformly distributed."""
    h = h ^ (h >> np.uint64(33))
    h = h * np.uint64(0xFF51AFD7ED558CCD)
    h = h ^ (h >> np.uint64(33))
    h = h * np.uint64(0xC4CEB9FE1A85EC53)
    return h ^ (h >> np.uint64(33))


def doc_ngram_hashes(
    docs: DataFrame,
    n: int = 13,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, gram_hashes array<bigint>) — DISTINCT 64-bit hashes of all
    n-token grams per document. Documents with fewer than n tokens have
    no n-gram and contribute an empty array (they cannot be
    contaminated at width n — the Brown et al. convention).

    Round-7 shape (guide §4.2): token hashing runs JVM-side inside
    codegen (``transform(split(trim(text), ' '), t -> xxhash64(t))`` —
    the signature stage's proven prep), and the gram key is a degree-n
    rolling polynomial over those token hashes + an fmix64 avalanche,
    computed zero-copy over the Arrow list buffer in one mapInArrow
    kernel. The round-6 form built every gram as a ~100-char
    ``concat_ws`` STRING and xxhash64-ed it — O(n) char copying per
    token position dominated both decontamination queries. The hash
    VALUE changes (it never escapes the operator: both sides of the
    gram join use this function, and only counts are emitted); equal
    grams still collide never-miss, and spurious 64-bit collisions keep
    the same ~|eval grams|/2^64 odds — token sequences map to gram keys
    injectively modulo that bound, exactly as before."""
    from .signatures import _rolling_poly

    id_type = docs.schema[id_col].dataType.simpleString()
    out_schema = f"id {id_type}, gram_hashes array<bigint>"
    trimmed = F.trim(F.col(text_col))
    th_col = F.when(
        F.coalesce(F.length(trimmed), F.lit(0)) == 0,
        F.expr("array()").cast("array<bigint>"),
    ).otherwise(F.transform(F.split(trimmed, " "), lambda t: F.xxhash64(t)))
    prepared = docs.select(F.col(id_col).alias("id"), th_col.alias("th"))

    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            nd = rb.num_rows
            if nd == 0:
                continue
            ids = rb.column(0)
            la = rb.column(1)
            if isinstance(la, pa.ChunkedArray):  # pragma: no cover
                la = la.combine_chunks()
            counts = la.value_lengths().fill_null(0).to_numpy().astype(np.int64)
            th = la.flatten().to_numpy(zero_copy_only=False).view(np.uint64)
            starts = np.zeros(nd + 1, dtype=np.int64)
            np.cumsum(counts, out=starts[1:])
            total = int(starts[-1])
            n_grams = np.maximum(counts - (n - 1), 0)
            if total == 0 or int(n_grams.sum()) == 0:
                offs = np.zeros(nd + 1, dtype=np.int32)
                empty = pa.ListArray.from_arrays(
                    pa.array(offs), pa.array([], type=pa.int64())
                )
                yield pa.RecordBatch.from_arrays(
                    [ids, empty], names=["id", "gram_hashes"]
                )
                continue
            with np.errstate(over="ignore"):
                acc = _rolling_poly(th, n)
                # valid gram positions: inside-doc windows of n tokens
                valid = np.ones(total, dtype=bool)
                ends = starts[1:]
                for j in range(1, n):
                    pos = ends - j
                    sel = pos >= starts[:-1]
                    valid[pos[sel]] = False
                g = _mix64(acc[valid])
            d = np.repeat(np.arange(nd, dtype=np.int64), n_grams)
            order = np.lexsort((g, d))
            gs, ds = g[order], d[order]
            keep = np.ones(len(gs), dtype=bool)
            keep[1:] = (gs[1:] != gs[:-1]) | (ds[1:] != ds[:-1])
            per_doc = np.bincount(ds[keep], minlength=nd)
            offs = np.zeros(nd + 1, dtype=np.int64)
            np.cumsum(per_doc, out=offs[1:])
            lst = pa.ListArray.from_arrays(
                pa.array(offs, type=pa.int32()),
                pa.array(gs[keep].view(np.int64), type=pa.int64()),
            )
            yield pa.RecordBatch.from_arrays(
                [ids, lst], names=["id", "gram_hashes"]
            )

    return prepared.mapInArrow(gen, schema=out_schema)


def eval_ngram_set(
    eval_docs: DataFrame,
    n: int = 13,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Distinct (gram_hash) over the evaluation set — the small,
    broadcastable side."""
    g = doc_ngram_hashes(eval_docs, n=n, id_col=id_col, text_col=text_col)
    return g.select(F.explode("gram_hashes").alias("gram_hash")).distinct()


def flag_contaminated(
    train_docs: DataFrame,
    eval_docs: DataFrame,
    n: int = 13,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per training document: total distinct n-grams, how many also
    occur in the eval set, and the dirty flag (any overlap).

    Returns (id_col, n_grams, n_overlap, is_contaminated) covering
    EVERY training document (zero-overlap docs included) — the caller
    filters `is_contaminated = 0` to take the clean corpus.

    Single pass, no cache: gram counts and overlap hits ride ONE
    explode -> broadcast-left-join -> groupBy(id) aggregate
    (explode_outer keeps zero-gram docs; unmatched grams sum to null ->
    0). An earlier shape persisted the gram frame to feed two separate
    branches and never unpersisted it — corpus-sized state pinned in
    executor storage for the session lifetime."""
    g = doc_ngram_hashes(train_docs, n=n, id_col=id_col, text_col=text_col)
    exploded = g.select(
        "id",
        F.size("gram_hashes").alias("n_grams"),
        F.explode_outer("gram_hashes").alias("gram_hash"),
    )
    ev = eval_ngram_set(
        eval_docs, n=n, text_col=text_col, id_col=id_col
    ).withColumn("_hit", F.lit(1))
    return (
        exploded.join(F.broadcast(ev), "gram_hash", "left")
        .groupBy("id", "n_grams")
        .agg(F.sum("_hit").alias("_n_overlap"))
        .select(
            F.col("id").alias(id_col),
            "n_grams",
            F.coalesce("_n_overlap", F.lit(0)).cast("int").alias("n_overlap"),
            (F.coalesce("_n_overlap", F.lit(0)) > 0).cast("int").alias(
                "is_contaminated"
            ),
        )
    )


def eval_leak_report(
    train_docs: DataFrame,
    eval_docs: DataFrame,
    n: int = 13,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per EVAL document: how much of it leaks into the training corpus
    — the benchmark-owner's view (flag_contaminated is the
    corpus-owner's view of the same overlap).

    Returns (id_col, n_grams, n_leaking_docs, n_gram_hits) covering
    EVERY eval document, both counts bigint:

      n_grams         distinct n-token grams in the eval doc
      n_leaking_docs  training documents sharing >= 1 of those grams
      n_gram_hits     (training doc, shared distinct gram) pairs — the
                      overlap mass, bounded by n_leaking_docs * n_grams

    Scale shape: the EVAL side is the small one — its (eval_id, gram)
    pairs broadcast; the training side is one map-only explode into the
    broadcast join, then ONE aggregate keyed by eval_id (map-side
    combined; the distinct-train count is exact because the hit stream
    for one eval id is tiny). The training corpus never shuffles."""
    ev = doc_ngram_hashes(eval_docs, n=n, id_col=id_col, text_col=text_col)
    ev_pairs = ev.select(
        F.col("id").alias("_eval_id"), F.explode("gram_hashes").alias("gram_hash")
    )
    tr_pairs = doc_ngram_hashes(
        train_docs, n=n, id_col=id_col, text_col=text_col
    ).select(F.col("id").alias("_train_id"), F.explode("gram_hashes").alias("gram_hash"))
    hits = (
        tr_pairs.join(F.broadcast(ev_pairs), "gram_hash")
        .groupBy("_eval_id")
        .agg(
            F.countDistinct("_train_id").alias("n_leaking_docs"),
            F.count("*").alias("n_gram_hits"),
        )
    )
    return (
        ev.select(F.col("id").alias("_eval_id"), F.size("gram_hashes").alias("n_grams"))
        .join(hits, "_eval_id", "left")
        .select(
            F.col("_eval_id").alias(id_col),
            "n_grams",
            F.coalesce("n_leaking_docs", F.lit(0)).alias("n_leaking_docs"),
            F.coalesce("n_gram_hits", F.lit(0)).alias("n_gram_hits"),
        )
    )


def flag_contaminated_fuzzy(
    train_docs: DataFrame,
    eval_docs: DataFrame,
    theta: float = 0.8,
    hamming_radius: int | None = 3,
    num_hashes: int = 128,
    shingle_k: int = 5,
    bands: int = 25,
    rows_per_band: int = 5,
    seed: int = 42,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """NEAR-duplicate decontamination: flag training documents whose
    k-shingle similarity to ANY eval document reaches theta — the fuzzy
    complement of `flag_contaminated`'s exact 13-gram rule (Lee et al.
    2022 §5 runs exactly this NearDup pass between train and validation
    splits; verbatim-overlap rules miss paraphrased/partially-edited
    benchmark leakage).

    Returns (id_col, n_eval_matches, max_est_jaccard, is_contaminated)
    covering EVERY training document (zero-match docs included, max 0.0).

    Composition — the engine's own dedup spine pointed across two
    corpora, nothing bespoke: signature_stage (JVM token hashing ->
    zero-copy Arrow MinHash+SimHash kernel) on each side, band_keys,
    the J3 two-table band join (eval side broadcast-hinted: a benchmark
    suite's band keys are ~25 rows/doc over thousands of docs), then the
    512 B estimator verify from operators/verify.py. A candidate is a
    hit when est_jaccard >= theta OR SimHash hamming <= hamming_radius
    (the pipeline's Fuzzy-tier semantics; pass hamming_radius=None for
    estimator-only, the strict-precision analog). The 100 TB training
    text is touched map-only + one band-key broadcast join + one per-doc
    aggregate — same scale shape as flag_contaminated.

    Ids are internally prefixed ("t:"/"e:") so overlapping train/eval id
    spaces cannot self-join; the prefix never escapes the operator.

    The driver query `fuzzy_decontaminated_docs` (plans/queries.py) runs
    the same banding with EXACT shingle-Jaccard verification instead,
    which a DuckDB brute-force oracle replays end-to-end.
    """
    from .lsh import band_keys, candidate_pairs_two_table
    from .signatures import signature_stage
    from .verify import score_pairs

    def _side(docs: DataFrame, tag: str) -> DataFrame:
        return docs.select(
            F.concat(F.lit(tag), F.col(id_col).cast("string")).alias("_fid"),
            F.col(text_col).alias("text"),
        )

    tr, ev = _side(train_docs, "t:"), _side(eval_docs, "e:")
    kw = dict(num_hashes=num_hashes, shingle_k=shingle_k, seed=seed)
    st = signature_stage(tr, id_col="_fid", **kw)
    se = signature_stage(ev, id_col="_fid", **kw)
    bkw = dict(id_col="_fid", bands=bands, rows_per_band=rows_per_band)
    cands = candidate_pairs_two_table(
        band_keys(st, **bkw), band_keys(se, **bkw).hint("broadcast"),
        id_col="_fid",
    )
    scored = score_pairs(
        cands, st.unionByName(se), id_col="_fid", num_hashes=num_hashes
    )
    hit = F.col("est_jaccard") >= F.lit(theta)
    if hamming_radius is not None:
        hit = hit | (F.col("hamming") <= F.lit(hamming_radius))
    agg = (
        scored.where(hit)
        .groupBy("src")
        .agg(
            F.count("*").alias("_n"),
            F.max("est_jaccard").alias("_maxj"),
        )
    )
    base = train_docs.select(
        F.col(id_col),
        F.concat(F.lit("t:"), F.col(id_col).cast("string")).alias("src"),
    )
    return base.join(agg, "src", "left").select(
        id_col,
        F.coalesce("_n", F.lit(0)).cast("int").alias("n_eval_matches"),
        F.round(F.coalesce("_maxj", F.lit(0.0)), 4).alias("max_est_jaccard"),
        (F.coalesce("_n", F.lit(0)) > 0).cast("int").alias("is_contaminated"),
    )
