"""CCNet-style LM-perplexity quality scoring and tiering.

Beyond-reference LLM-pipeline operator (the reference engine's nearest
shape is the F3 threshold classifier tiering pair scores into
sure/fuzzy/review bands, /root/reference/config.py:108-124 — here the
same tiering discipline ranks whole documents by language-model fit).
The algorithm is the quality stage of CCNet (Wenzek et al. 2020,
arXiv:1911.00359): score every document with a language model trained
on a trusted corpus (CCNet uses a Wikipedia KenLM; perplexity low =
clean prose), then split the corpus into HEAD / MIDDLE / TAIL tiers at
the 1/3 and 2/3 perplexity percentiles — head feeds training, tail is
dropped or down-weighted.

KenLM is a native 5-gram package that is not in this container (and a
per-row KenLM call would be the per-row-Python anti-pattern anyway), so
the LM here is a hashed-unigram categorical model with Laplace
smoothing — the same auditable md5-prefix bucketing as DSIR
(operators/dsir.py), which the DuckDB oracle replays bit-identically.
The *shape* is what matters at scale, and it is LM-agnostic: a
different scorer only changes the broadcast (bucket, logp) table.

Scale shape (the 100 TB plan):
  - FIT is one map-combined count aggregation over the trusted slice
    whose output is <= B rows (B ~ 10^3..10^5) regardless of corpus
    size; the smoothed log-prob table over the full bucket spine is
    exactly B rows and BROADCAST.
  - SCORING is map-only featurization plus one per-(doc, bucket) count
    aggregation whose map-side combine collapses each document's
    repeated tokens before the exchange; the document text never
    shuffles on a token key.
  - TIERING never sorts globally: two percentile cutoffs come from
    percentile_approx (a tree-aggregated sketch, two scalars to the
    driver), and tier assignment is a map-only comparison. CCNet's
    head/middle/tail is a rank split; at 10^12 docs an exact ntile is
    a single-partition sort, so the approx-cutoff split is the scale
    semantics (the sketch error only moves documents within epsilon of
    a cutoff between adjacent tiers).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dsir import hashed_gram_buckets


def fit_lm_values(ref_buckets: DataFrame, buckets: int = 4096) -> list[float]:
    """The Laplace-smoothed LM as a PARAMETER VECTOR over [0, buckets):
    logp[b] = ln((c_b + 1) / (total + B)) from one count aggregate +
    one <= B-row collect over a PRE-FEATURIZED (id, buckets) frame —
    the arithmetic is B divisions, done in driver python (libm vs JVM
    ln differ at most in the last ulp, far inside every caller's
    4-decimal rounding; the round-6 DataFrame spine scheduled four
    extra jobs and re-ran the reference count per consumer)."""
    import math

    from pyspark.sql import functions as _F

    from .dsir import _flagged_count_vectors

    cnts, _ = _flagged_count_vectors(
        ref_buckets.select(_F.lit(True).alias("_t"), "buckets"), buckets
    )
    t = float(cnts.sum() + buckets)
    return [math.log((c + 1) / t) for c in cnts.tolist()]


def fit_bucket_lm(
    ref_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    buckets: int = 4096,
    hash_fn: str = "md5",
) -> DataFrame:
    """Laplace-smoothed hashed-unigram LM fit on a trusted corpus.

    Returns the FULL bucket spine — exactly ``buckets`` rows
    (bucket int, logp double) with logp = ln((c + 1) / (total + B)) —
    so scoring needs no unseen-bucket fallback; computed by
    ``fit_lm_values`` (one count pass) and returned as a B-row local
    frame."""
    feats = hashed_gram_buckets(
        ref_docs,
        id_col=id_col,
        text_col=text_col,
        ns=(1,),
        buckets=buckets,
        hash_fn=hash_fn,
    )
    vals = fit_lm_values(feats, buckets)
    return ref_docs.sparkSession.createDataFrame(
        [(b, v) for b, v in enumerate(vals)], "bucket int, logp double"
    )


def lm_log_ppl(
    docs: DataFrame,
    lm: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    buckets: int = 4096,
    hash_fn: str = "md5",
) -> DataFrame:
    """(id_col, n_tokens, log_ppl) for every document with non-null text
    (a NULL text has no tokens to score and yields no output row —
    callers wanting those docs back outer-join on id_col).

    log_ppl = -(1/n) * sum_i ln p(token_i) — the natural-log perplexity
    exponent (ppl = e^log_ppl); LOW is clean prose. ``buckets`` and
    ``hash_fn`` must match the ``fit_bucket_lm`` call that produced
    ``lm``. Plan (round 7): the fitted LM is collected ONCE (exactly B
    parameter rows) and applied map-only via dsir.lookup_sum_expr — no
    per-token explode, no shuffle; the round-6 form exploded every
    token through a broadcast join and re-aggregated per (doc, bucket).
    Null-text docs still yield no row (n_tokens = 0 filter)."""
    from .dsir import _LOOKUP_MAX_BUCKETS, lookup_sum_expr

    feats = hashed_gram_buckets(
        docs,
        id_col=id_col,
        text_col=text_col,
        ns=(1,),
        buckets=buckets,
        hash_fn=hash_fn,
    ).select("id", F.size("buckets").alias("n_tokens"), "buckets")
    rows = lm.collect()
    if len(rows) <= _LOOKUP_MAX_BUCKETS:
        vals = [0.0] * (max((r["bucket"] for r in rows), default=-1) + 1)
        for r in rows:
            vals[r["bucket"]] = r["logp"]
        return feats.where(F.col("n_tokens") > 0).select(
            F.col("id").alias(id_col),
            "n_tokens",
            (-lookup_sum_expr("buckets", vals) / F.col("n_tokens")).alias(
                "log_ppl"
            ),
        )
    per_bucket = (
        feats.select("id", "n_tokens", F.explode("buckets").alias("bucket"))
        .groupBy("id", "n_tokens", "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return (
        per_bucket.join(F.broadcast(lm), "bucket")
        .groupBy("id", "n_tokens")
        .agg((-F.sum(F.col("c") * F.col("logp")) / F.col("n_tokens")).alias("log_ppl"))
        .select(
            F.col("id").alias(id_col),
            "n_tokens",
            "log_ppl",
        )
    )


def ppl_tiers(
    scored: DataFrame,
    ppl_col: str = "log_ppl",
    head_frac: float = 1.0 / 3.0,
    tail_frac: float = 1.0 / 3.0,
    accuracy: int = 10_000,
) -> DataFrame:
    """Append CCNet's ``tier`` column: 'head' (lowest-perplexity
    head_frac of documents), 'tail' (highest tail_frac), 'middle'
    (the rest).

    Cutoffs come from percentile_approx — a tree-aggregated sketch, so
    no global sort and only two scalars reach the driver; documents
    within the sketch's epsilon of a cutoff may land in the adjacent
    tier (the CCNet split is a corpus partition, not a per-doc
    invariant, so that slack is semantically free)."""
    if not 0 < head_frac < 1 or not 0 < tail_frac < 1:
        raise ValueError("head_frac/tail_frac must be in (0, 1)")
    if head_frac + tail_frac >= 1:
        raise ValueError("head_frac + tail_frac must leave room for middle")
    row = scored.agg(
        F.percentile_approx(
            ppl_col, [head_frac, 1.0 - tail_frac], accuracy
        ).alias("q")
    ).head()
    if row is None or row["q"] is None:
        # empty input (e.g. an upstream filter dropped everything): no
        # cutoffs exist; keep the schema contract with a null tier
        return scored.withColumn("tier", F.lit(None).cast("string"))
    head_cut, tail_cut = float(row["q"][0]), float(row["q"][1])
    return scored.withColumn(
        "tier",
        F.when(F.col(ppl_col) <= head_cut, F.lit("head"))
        .when(F.col(ppl_col) > tail_cut, F.lit("tail"))
        .otherwise(F.lit("middle")),
    )
