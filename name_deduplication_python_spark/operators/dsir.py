"""DSIR data selection: hashed-n-gram importance resampling.

Beyond-reference LLM-pipeline operator (the reference engine has no
analog; its nearest shape is the F1 confidence scorer ranking pairs,
/root/reference/analysis_engine.py:300 — here the "score" ranks whole
documents against a target distribution). The algorithm is Xie et al.
2023 (NeurIPS), "Data Selection for Language Models via Importance
Resampling" (arXiv:2302.03169): featurize text as a bag of hashed
unigrams + bigrams over B buckets, fit two Laplace-smoothed categorical
distributions — p_target on a small high-quality corpus, p_raw on the
big raw corpus — score every raw document with

    log w(x) = sum_over_grams (log p_target(bucket) - log p_raw(bucket))

and resample with Gumbel-top-k (adding Gumbel noise to log-weights and
taking the k largest draws a weighted sample without replacement).

Scale shape (the 100 TB plan):
  - Bucketing defaults to an md5-prefix hash (first 48 bits -> %
    buckets): md5 is available bit-identically in every SQL engine, so
    the DuckDB oracle replays the bucketing exactly. It costs ~2x
    xxhash64; `hash_fn="xxh64"` is the scale setting when auditability
    of the bucketing itself isn't required (the statistics are
    hash-agnostic — fit and score must just agree on the hash).
  - FITTING is two map-combined count aggregations whose outputs are
    <= B rows each (B ~ 10^4) regardless of corpus size; the log-ratio
    table over the full bucket spine is exactly B rows and BROADCAST.
  - SCORING is map-only featurization plus one per-doc sum whose
    map-side combine collapses each document's exploded grams before
    the exchange — the corpus text never shuffles on a gram key (same
    shape as decontaminate.flag_contaminated).
  - SAMPLING is a deterministic Gumbel key (md5-derived uniform, no
    RNG state) + a distributed top-k — no global sort materializes.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

TWO_POW_48 = float(1 << 48)


def _bucket_expr(
    gram: Column, buckets: int, hash_fn: str = "md5", cast_to: str = "int"
) -> Column:
    """Hash a gram string to [0, buckets), cast to ``cast_to``.

    Shared by DSIR/LM-quality featurization (int buckets) and the Bloom
    filter's bit positions (operators/bloom.py, bigint — n_bits exceeds
    int32 at 10^12-key sizing). Keep ALL hash-to-range logic here: the
    md5-prefix path's bit-exact agreement with the DuckDB oracles is
    load-bearing, and this expression shape is the one proven safe
    against the Spark 4.1.2 md5-over-parquet corruption pitfalls
    documented in hashed_gram_buckets.

    hash_fn="md5" (default): int(md5(gram)[:12 hex], 16) % buckets —
    replayable bit-identically in any engine with md5 (the 48-bit prefix
    is non-negative, so plain % is already a floor mod). This is the
    AUDITABLE setting the driver oracle runs.

    hash_fn="xxh64": pmod(xxhash64(gram), buckets) — the SCALE setting:
    measured ~15% off the whole fit+score pass at sf0.1/local[32]
    (the hash is ~2x faster but featurization isn't hash-dominated);
    the DSIR statistics are hash-agnostic (any uniform bucketing gives
    the same distributional estimates up to collision noise). Fit and
    scoring
    MUST use the same hash_fn; the two settings produce different (both
    valid) bucketings, so never mix them across a fit/score pair.
    """
    if hash_fn == "xxh64":
        return F.pmod(F.xxhash64(gram), F.lit(buckets)).cast(cast_to)
    if hash_fn != "md5":
        raise ValueError(f"hash_fn must be 'md5' or 'xxh64', got {hash_fn!r}")
    return (
        F.conv(F.substring(F.md5(gram), 1, 12), 16, 10).cast("bigint")
        % F.lit(buckets)
    ).cast(cast_to)


def hashed_gram_buckets(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ns: tuple[int, ...] = (1, 2),
    buckets: int = 10_000,
    hash_fn: str = "md5",
) -> DataFrame:
    """(id, buckets array<int>) — the hashed bag of n-grams per document,
    REPEATS KEPT (DSIR features are counts, unlike decontamination's
    distinct-gram sets). Documents shorter than n tokens contribute no
    n-gram at that width.

    The md5 path runs as a mapInPandas kernel (round 7): CPython's
    hashlib md5 is a C implementation measured ~100x the throughput of
    the JVM's INTERPRETED md5-conv-substring chain inside a
    higher-order-function lambda (HOFs never enter whole-stage codegen,
    so every gram paid interpreted expression dispatch — the sf1.0
    featurize dropped ~13 s -> <1 s, and the JVM JIT's 20 s cold-start
    on that interpreted path disappears with it). The bucket value is
    bit-identical: int(md5(gram_utf8)[:12 hex], 16) % buckets, the same
    gram strings (trim-space tokenize, space-joined n-grams), nulls
    stay null — the DuckDB oracles replay it unchanged. The xxh64
    scale path keeps the native JVM expression (xxhash64 is codegen-
    cheap; no python round-trip needed)."""
    if hash_fn == "md5":
        return _hashed_gram_buckets_kernel(
            docs, id_col=id_col, text_col=text_col, ns=ns, buckets=buckets
        )
    # Gram assembly deliberately avoids three shapes that corrupt
    # md5 inputs on parquet-backed arrays (observed on Spark 4.1.2
    # local mode, bit-verified against hashlib + DuckDB):
    #   (a) a bucket transform nested OVER an array built by an inner
    #       gram transform — PySpark names every unary lambda variable
    #       "x" and some inner references bind to the outer variable;
    #   (b) `when(size<n, []).otherwise(transform(...))` wrapping the
    #       HOF — the guard must condition the transform's INPUT (an
    #       empty index array), never the transform expression;
    #   (c) md5(concat_ws(" ", slice(toks, i, n))) inside the lambda —
    #       over the vectorized parquet reader's buffers this hashed
    #       truncated/stale bytes for most positions (element_at-built
    #       grams hash correctly; xxhash64 over the same concat_ws+
    #       slice shape is fine — see decontaminate.py — the defect is
    #       specific to md5's string path).
    # Hence: flat lambdas, conditional index arrays, and grams built by
    # concatenating element_at lookups.
    toks = F.split(F.trim(F.col(text_col)), " ")
    parts = []
    for n in ns:
        if n == 1:
            parts.append(
                F.transform(toks, lambda t: _bucket_expr(t, buckets, hash_fn))
            )
        else:
            idx = F.when(
                F.size(toks) < n, F.array().cast("array<int>")
            ).otherwise(F.sequence(F.lit(1), F.size(toks) - n + 1))

            def _make_bucket_fn(_n):
                def _fn(i):
                    pieces = []
                    for j in range(_n):
                        if j:
                            pieces.append(F.lit(" "))
                        pieces.append(F.element_at(toks, i + j))
                    return _bucket_expr(F.concat(*pieces), buckets, hash_fn)

                return _fn

            parts.append(F.transform(idx, _make_bucket_fn(n)))
    grams = parts[0] if len(parts) == 1 else F.concat(*parts)
    return docs.select(F.col(id_col).alias("id"), grams.alias("buckets"))


def _hashed_gram_buckets_kernel(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ns: tuple[int, ...] = (1, 2),
    buckets: int = 10_000,
) -> DataFrame:
    """The md5 featurize kernel behind hashed_gram_buckets — see its
    docstring for the equivalence contract."""
    import hashlib
    from collections.abc import Iterator

    import pandas as pd

    id_type = docs.schema[id_col].dataType.simpleString()
    out_schema = f"id {id_type}, buckets array<int>"
    ns = tuple(ns)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        md5 = hashlib.md5
        fb = int.from_bytes

        def h(s: str) -> int:
            return fb(md5(s.encode()).digest()[:6], "big") % buckets

        for pdf in batches:
            out: list[list[int] | None] = []
            for t in pdf[text_col]:
                if t is None:
                    out.append(None)
                    continue
                # engine tokenization: split(trim(text), ' ') — trim is
                # space-only; empty text yields the single empty token,
                # exactly like the SQL twin
                toks = t.strip(" ").split(" ")
                arr: list[int] = []
                for n in ns:
                    if n == 1:
                        arr.extend(h(x) for x in toks)
                    elif len(toks) >= n:
                        arr.extend(
                            h(" ".join(toks[i : i + n]))
                            for i in range(len(toks) - n + 1)
                        )
                out.append(arr)
            yield pd.DataFrame({"id": pdf[id_col], "buckets": out})

    return docs.select(id_col, text_col).mapInPandas(gen, schema=out_schema)


def fit_logratio_values_flagged(
    bucket_frame: DataFrame,
    is_target: Column,
    buckets: int = 10_000,
) -> list[float]:
    """fit_logratio_values over ONE featurized frame carrying both
    corpora, split by the ``is_target`` predicate — both count vectors
    come back from one _flagged_count_vectors job."""
    import math

    ct, cr = _flagged_count_vectors(
        bucket_frame.select(is_target.alias("_t"), "buckets"), buckets
    )
    tt, tr = float(ct.sum() + buckets), float(cr.sum() + buckets)
    return [
        math.log((c + 1) / tt) - math.log((r + 1) / tr)
        for c, r in zip(ct.tolist(), cr.tolist())
    ]


def _flagged_count_vectors(flagged: DataFrame, buckets: int):
    """(target_counts, raw_counts) int64 vectors from a (_t bool,
    buckets array<int>) frame in ONE job: each task bincounts its
    partition locally into two <= buckets-long vectors (map-only — no
    corpus-sized explode + (flag, bucket) shuffle, which cost ~2.5 s of
    pure small-task scheduling per fit at local[32]), and the per-task
    vectors are summed inside Spark on one reducer keyed by the flag, so
    the driver receives exactly 2 x buckets values, never
    O(tasks x buckets)."""
    import numpy as np

    def gen(batches):
        import pandas as pd

        acc = {True: np.zeros(buckets, dtype=np.int64),
               False: np.zeros(buckets, dtype=np.int64)}
        seen = False
        for pdf in batches:
            for flag in (True, False):
                arrs = [
                    a for a, t in zip(pdf["buckets"], pdf["_t"])
                    if bool(t) == flag and a is not None and len(a)
                ]
                if arrs:
                    seen = True
                    acc[flag] += np.bincount(
                        np.concatenate(arrs).astype(np.int64),
                        minlength=buckets,
                    )
        if seen:
            yield pd.DataFrame(
                {"t": [True, False], "c": [acc[True], acc[False]]}
            )

    sums = dict(
        flagged.mapInPandas(gen, schema="t boolean, c array<long>")
        .rdd.map(lambda r: (r["t"], np.asarray(r["c"], dtype=np.int64)))
        .reduceByKey(np.add, numPartitions=1)
        .collect()
    )
    zero = np.zeros(buckets, dtype=np.int64)
    return sums.get(True, zero), sums.get(False, zero)


def fit_logratio_values(
    target_buckets: DataFrame,
    raw_buckets: DataFrame,
    buckets: int = 10_000,
) -> list[float]:
    """The DSIR log-ratio PARAMETER VECTOR over the full bucket spine:
    logratio[b] = ln((ct+1)/(tt+B)) - ln((cr+1)/(tr+B)). Both count
    vectors come from one flagged pass over the two frames
    (fit_logratio_values_flagged), the Laplace arithmetic in plain
    driver python — the round-6 DataFrame spine (two joins, a totals
    aggregate and a crossJoin over <= B rows) re-ran both corpus count
    passes per consumer and scheduled five extra jobs for what is B
    divisions. (libm vs JVM ln differ at most in the last ulp —
    orders of magnitude inside every caller's 4-decimal rounding, and
    the DuckDB oracle's ln is a third implementation already.)"""
    flagged = target_buckets.select(F.lit(True).alias("_t"), "buckets").unionByName(
        raw_buckets.select(F.lit(False).alias("_t"), "buckets")
    )
    return fit_logratio_values_flagged(flagged, F.col("_t"), buckets)


def fit_dsir_logratio_buckets(
    target_buckets: DataFrame,
    raw_buckets: DataFrame,
    buckets: int = 10_000,
) -> DataFrame:
    """fit_dsir_logratio over PRE-FEATURIZED (id, buckets) frames —
    the shape a pipeline should use: featurize each corpus once
    (hashed_gram_buckets, ideally materialized/checkpointed) and feed
    both the fit and the scoring pass from that frame, instead of
    paying the md5 featurization twice on the 100 TB side. The spine
    itself is computed by ``fit_logratio_values`` (each corpus side
    counted exactly once) and returned as a B-row local frame."""
    spark = target_buckets.sparkSession
    vals = fit_logratio_values(target_buckets, raw_buckets, buckets)
    return spark.createDataFrame(
        [(b, v) for b, v in enumerate(vals)], "bucket int, logratio double"
    )


def fit_dsir_logratio(
    target_docs: DataFrame,
    raw_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ns: tuple[int, ...] = (1, 2),
    buckets: int = 10_000,
    hash_fn: str = "md5",
) -> DataFrame:
    """(bucket, logratio) over the FULL bucket spine [0, buckets):
    logratio(b) = ln p_target(b) - ln p_raw(b) with Laplace smoothing
    p(b) = (count_b + 1) / (total + buckets), so never-seen buckets get
    a finite (and informative) ratio. Exactly `buckets` rows — tiny and
    broadcastable at any corpus size; only count aggregates cross the
    cluster to build it. Doc-level convenience wrapper; a pipeline that
    also scores the raw corpus should featurize once and use the
    `_buckets` variants."""
    kw = dict(
        id_col=id_col, text_col=text_col, ns=ns, buckets=buckets, hash_fn=hash_fn
    )
    return fit_dsir_logratio_buckets(
        hashed_gram_buckets(target_docs, **kw),
        hashed_gram_buckets(raw_docs, **kw),
        buckets=buckets,
    )


def lookup_sum_expr(
    arr_col: str, values: list[float], zero: float = 0.0
) -> Column:
    """sum over an int-bucket ARRAY column of values[bucket] — the
    map-only scoring shape shared by DSIR and the LM scorer: the fitted
    per-bucket table is a PARAMETER vector (<= B doubles), so it rides
    into the plan as ONE array literal and each document folds its own
    bucket array with element_at + aggregate inside codegen. The
    round-6 shape exploded every (doc, gram) row through a broadcast
    join and re-aggregated per doc — a corpus-sized row stream and a
    per-doc shuffle for what is arithmetic on data already grouped by
    doc. Summation is in-document gram order (the exploded form summed
    in arbitrary partition order; both land well inside the 4-decimal
    rounding every caller applies — DuckDB's own sum order is a third
    ordering and has always matched)."""
    import numpy as np

    # ndarray literal -> ONE ArrayType Literal node; a python list would
    # build a B-child CreateArray (measured 2x slower through the fold)
    lut = F.lit(np.asarray(values, dtype=np.float64))
    return F.aggregate(
        F.transform(F.col(arr_col), lambda b: F.element_at(lut, b + 1)),
        F.lit(zero),
        lambda acc, x: acc + x,
    )


# literal-lookup ceiling: beyond this many buckets fall back to the
# broadcast-join scoring shape (a multi-MB plan literal stops paying)
_LOOKUP_MAX_BUCKETS = 65536


def dsir_weights_buckets(
    bucket_frame: DataFrame,
    logratio: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """dsir_weights over a PRE-FEATURIZED (id, buckets) frame — pair
    with fit_dsir_logratio_buckets to featurize the raw corpus once.

    The fitted logratio spine is collected once (<= buckets parameter
    rows — the IVF-centroid precedent, never data rows) and applied
    map-only via ``lookup_sum_expr``; corpora fitted with an unusually
    wide bucket space keep the broadcast-join path."""
    rows = logratio.collect()
    if len(rows) <= _LOOKUP_MAX_BUCKETS:
        vals = [0.0] * (max((r["bucket"] for r in rows), default=-1) + 1)
        for r in rows:
            vals[r["bucket"]] = r["logratio"]
        return bucket_frame.select(
            F.col("id").alias(id_col),
            F.size("buckets").alias("n_grams"),
            lookup_sum_expr("buckets", vals).alias("dsir_logweight"),
        )
    exploded = bucket_frame.select(
        "id",
        F.size("buckets").alias("n_grams"),
        F.explode_outer("buckets").alias("bucket"),
    )
    return (
        exploded.join(F.broadcast(logratio), "bucket", "left")
        .groupBy("id", "n_grams")
        .agg(F.sum("logratio").alias("_w"))
        .select(
            F.col("id").alias(id_col),
            "n_grams",
            F.coalesce("_w", F.lit(0.0)).alias("dsir_logweight"),
        )
    )


def dsir_weights(
    docs: DataFrame,
    logratio: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ns: tuple[int, ...] = (1, 2),
    buckets: int = 10_000,
    hash_fn: str = "md5",
) -> DataFrame:
    """(id_col, n_grams, dsir_logweight) for EVERY input document —
    log importance weight = sum of the bucket log-ratios of the doc's
    grams (repeats counted). Zero-gram docs score 0.0. One explode ->
    broadcast-join -> map-combined per-doc sum; the logratio side must
    be the fit's <= buckets-row frame."""
    g = hashed_gram_buckets(
        docs, id_col=id_col, text_col=text_col, ns=ns, buckets=buckets,
        hash_fn=hash_fn,
    )
    return dsir_weights_buckets(g, logratio, id_col=id_col)


def dsir_sample(
    weighted: DataFrame,
    k: int,
    seed: int = 42,
    id_col: str = "doc_id",
    weight_col: str = "dsir_logweight",
) -> DataFrame:
    """Gumbel-top-k resampling (weighted WITHOUT replacement, the DSIR
    paper's sampler): key = logweight + Gumbel(0,1), keep the k largest
    keys. The Gumbel draw is derandomized — u = (md5_48(id:seed)+0.5) /
    2^48 in (0,1), g = -ln(-ln(u)) — so the sample is a pure function of
    (ids, weights, seed): reproducible across runs, partitionings, and
    engines. Returns the selected rows plus their `gumbel_key`; the
    top-k runs as a distributed TakeOrdered, no global sort."""
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat_ws(":", F.col(id_col).cast("string"),
                                  F.lit(str(seed)))),
                1, 12,
            ),
            16, 10,
        ).cast("double")
        + F.lit(0.5)
    ) / F.lit(TWO_POW_48)
    key = F.col(weight_col) - F.log(-F.log(u))
    return (
        weighted.withColumn("gumbel_key", key)
        .orderBy(F.col("gumbel_key").desc())
        .limit(k)
    )
