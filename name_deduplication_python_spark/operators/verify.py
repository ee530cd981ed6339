"""Pair verification: MinHash-Jaccard estimate + SimHash Hamming ball.

Replaces the reference's pairwise confidence scorer + threshold
classifiers (F1-F4, /root/reference/analysis_engine.py:108-135, 312-416,
514-552). The reference runs strict/standard/lenient passes that all
share one scorer, so we collapse them into a single scored pass with
per-class thresholds (SURVEY §4.1 "pass short-circuit" note):

  score columns:  est_jaccard = |sig_a == sig_b| / num_hashes   (native)
                  hamming     = bit_count(simhash_a XOR simhash_b)
  classify:       Exact Match  if est_jaccard == 1.0 AND hamming == 0
                  Fuzzy Match  if est_jaccard >= threshold
                               OR hamming <= radius
                  (else the candidate edge is dropped)
  tier column:    via = 'both' | 'estimator' | 'hamming' — which
                  criterion admitted the edge (Exact Match edges are
                  'both' by construction). Downstream consumers filter
                  or stratify on it: hamming-only edges are the channel
                  through which token-cosine-similar but low-shingle-J
                  pairs (near-J~0.5) enter, per the north star's
                  independent Hamming-ball criterion.
  precision knob: hamming_est_floor (None = off, reference semantics) —
                  when set, a hamming-only edge additionally requires
                  est_jaccard >= floor. theta - 2*z*sigma (~0.635 at the
                  default config) keeps J>=theta recall intact
                  (P(est < floor | J=theta) ~ 1e-5) while rejecting
                  J~0.5 pairs at ~1e-3 (their est concentrates at 0.5,
                  sigma ~ 0.044).

Entirely native expressions — zip_with/aggregate/bit_count run inside
whole-stage codegen; no Python in this stage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def score_pairs(
    pairs: DataFrame,
    sigs: DataFrame,
    id_col: str = "url",
    num_hashes: int = 128,
    label_col: str | None = None,
) -> DataFrame:
    """pairs(src,dst) x sigs(id,minhash,simhash) -> scored pairs.

    The signature side carries the 512 B minhash payload — a sort-merge
    join would sort that payload on both sides for nothing (equi-join,
    no downstream order). The shuffle-hash hint keeps it a hash join
    (measured: 11.6 s -> 9.3 s at local[8] on 1.36M docs); per-partition
    hash tables stay bounded via shuffle partition count.

    label_col: when the pairs are keyed by a COMPACT surrogate id (e.g.
    xxhash64(url) — 8-byte join/shuffle keys instead of full url strings),
    the output src/dst are relabeled to this signature column, so the
    surrogate never escapes the stage.
    """
    sigs = sigs.hint("shuffle_hash")
    lbl = [F.col(label_col).alias("src_lbl")] if label_col else []
    a = sigs.select(
        F.col(id_col).alias("src"),
        *lbl,
        F.col("minhash").alias("mh_a"),
        F.col("simhash").alias("sh_a"),
    )
    lbl = [F.col(label_col).alias("dst_lbl")] if label_col else []
    b = sigs.select(
        F.col(id_col).alias("dst"),
        *lbl,
        F.col("minhash").alias("mh_b"),
        F.col("simhash").alias("sh_b"),
    )
    out_src = F.col("src_lbl").alias("src") if label_col else F.col("src")
    out_dst = F.col("dst_lbl").alias("dst") if label_col else F.col("dst")
    scored = (
        pairs.join(a, "src")
        .join(b, "dst")
        .select(
            out_src,
            out_dst,
            (
                F.aggregate(
                    F.zip_with("mh_a", "mh_b", lambda x, y: (x == y).cast("int")),
                    F.lit(0),
                    lambda acc, x: acc + x,
                ).cast("double")
                / F.lit(float(num_hashes))
            ).alias("est_jaccard"),
            F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).alias("hamming"),
        )
    )
    return scored


# one-sided z of the fuzzy tier's lower confidence bound (classify_pairs)
ESTIMATOR_Z = 2.33


def hamming_floor(jaccard_threshold: float = 0.80, num_hashes: int = 128) -> float:
    """The recommended strict-mode hamming_est_floor: theta - 2*z*sigma —
    the same symmetric-tail bound the estimator-band PRECISION gate uses
    (tests/test_recall.py::test_precision_of_widened_estimator_band).
    ~0.635 at the default config."""
    sigma = (jaccard_threshold * (1 - jaccard_threshold) / num_hashes) ** 0.5
    return jaccard_threshold - 2 * ESTIMATOR_Z * sigma


def classify_pairs(
    scored: DataFrame,
    jaccard_threshold: float = 0.80,
    simhash_radius: int = 3,
    num_hashes: int = 128,
    hamming_est_floor: float | None = None,
) -> DataFrame:
    """Threshold classification (F3 analog): keep verified edges only.

    The MinHash estimate of a true-J pair is Binomial(num_hashes, J)/n —
    std ~= sqrt(theta(1-theta)/n) ~= 0.035 at theta=0.8, n=128. Cutting at
    the raw threshold rejects HALF of the pairs sitting exactly at theta
    (observed: true-J=0.818 pairs estimated 0.742 — a 2.2-sigma draw —
    breaking the 0.99 recall gate). The fuzzy tier therefore accepts at a
    one-sided lower confidence bound:

        est >= theta - z * sqrt(theta*(1-theta)/num_hashes)

    z = ESTIMATOR_Z = 2.33 caps the miss rate at ~1% for pairs AT the
    threshold (better above it), which is what the recall>=0.99 gate
    needs by construction.
    The symmetric cost — sub-threshold pairs admitted with the same tail
    probability — is bounded the same way and is what the audit stage's
    exact-Jaccard recompute exists to measure.

    hamming_est_floor (precision tier, VERDICT r4 #1): the Hamming tier is
    an INDEPENDENT criterion — it admits token-frequency-similar docs whose
    shingle-J sits near 0.5 (measured false-merge rate 0.11-0.22 on planted
    near-J~0.5 families). When set, hamming-only admission additionally
    requires est_jaccard >= floor (see ``hamming_floor`` for the
    recommended value); None preserves the reference/north-star OR
    semantics unchanged. Every emitted edge carries ``via`` in
    {'both','estimator','hamming'} so audit/reporting can stratify on the
    admission channel either way.
    """
    slack = ESTIMATOR_Z * (jaccard_threshold * (1 - jaccard_threshold) / num_hashes) ** 0.5
    est_ok = F.col("est_jaccard") >= jaccard_threshold - slack
    ham_ok = F.col("hamming") <= simhash_radius
    if hamming_est_floor is not None:
        ham_ok = ham_ok & (F.col("est_jaccard") >= hamming_est_floor)
    status = (
        F.when(
            (F.col("est_jaccard") >= 1.0) & (F.col("hamming") == 0), F.lit("Exact Match")
        )
        .when(est_ok | ham_ok, F.lit("Fuzzy Match"))
        .otherwise(F.lit(None))
    )
    via = (
        F.when(est_ok & ham_ok, F.lit("both"))
        .when(est_ok, F.lit("estimator"))
        .otherwise(F.lit("hamming"))
    )
    return (
        scored.withColumn("status", status)
        .where(F.col("status").isNotNull())
        .withColumn("via", via)
        .select("src", "dst", "est_jaccard", "hamming", "status", "via")
    )


def verify_stage(
    pairs: DataFrame,
    sigs: DataFrame,
    id_col: str = "url",
    num_hashes: int = 128,
    jaccard_threshold: float = 0.80,
    simhash_radius: int = 3,
    label_col: str | None = None,
    hamming_est_floor: float | None = None,
) -> DataFrame:
    return classify_pairs(
        score_pairs(
            pairs, sigs, id_col=id_col, num_hashes=num_hashes, label_col=label_col
        ),
        jaccard_threshold=jaccard_threshold,
        simhash_radius=simhash_radius,
        num_hashes=num_hashes,
        hamming_est_floor=hamming_est_floor,
    )
