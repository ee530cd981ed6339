"""Post-hoc audit: adversarial re-verification of emitted match edges.

Reference analog: the auditor tool re-checks every reported pair with
independent similarity floors and consistency rules (R1-R5,
/root/reference/auditor.py:229-277). New-engine analog per SURVEY §2.9
R4: recompute EXACT shingle-Jaccard on a sample of verified edges and
flag estimate/exact divergences (LSH/MinHash false positives) and
"Exact Match" edges whose texts differ.

The exact-Jaccard recompute is a grouped Arrow-batch kernel over sampled
pairs only — audit is off the hot path by design (the reference's auditor
is likewise a separate post-run tool).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _exact_jaccard_batch(
    src_texts: pd.Series, dst_texts: pd.Series, k: int
) -> pd.Series:
    def shingles(t: str) -> frozenset:
        toks = (t or "").split(" ")
        if len(toks) < k:
            return frozenset([tuple(toks)]) if t else frozenset()
        return frozenset(tuple(toks[i : i + k]) for i in range(len(toks) - k + 1))

    out = []
    for a, b in zip(src_texts, dst_texts):
        sa, sb = shingles(a), shingles(b)
        u = len(sa | sb)
        out.append(len(sa & sb) / u if u else 0.0)
    return pd.Series(out)


def audit_edges(
    edges: DataFrame,
    extracted: DataFrame,
    id_col: str = "url",
    text_col: str = "text",
    shingle_k: int = 5,
    sample_fraction: float = 1.0,
    est_tolerance: float = 0.15,
    jaccard_threshold: float = 0.80,
    seed: int = 42,
    hamming_oversample: float = 10.0,
) -> DataFrame:
    """Returns flagged rows: (src, dst, status, est_jaccard, exact_jaccard,
    via, issue). Empty result = audit clean.

    Tier-stratified sampling (VERDICT r4 #8): edges admitted ONLY by the
    SimHash Hamming ball (via='hamming') are the channel through which
    low-shingle-J pairs enter (the measured near-J~0.5 false-merge path),
    so uniform sampling under-audits exactly the risky stratum. When the
    edge table carries the verify stage's ``via`` tier column, hamming-only
    edges are sampled at min(1, sample_fraction * hamming_oversample) while
    the other tiers keep sample_fraction; flagged rows carry ``via`` so
    drift concentration per admission channel is directly readable."""
    has_via = "via" in edges.columns
    if not has_via:
        edges = edges.withColumn("via", F.lit(None).cast("string"))
    if sample_fraction >= 1.0:
        sampled = edges
    elif has_via:
        ham_frac = min(1.0, sample_fraction * hamming_oversample)
        # per-stratum Bernoulli sampling without a sampleBy key scan:
        # rand() compared against a via-conditional fraction
        sampled = edges.where(
            F.rand(seed)
            < F.when(F.col("via") == "hamming", F.lit(ham_frac)).otherwise(
                F.lit(sample_fraction)
            )
        )
    else:
        sampled = edges.sample(fraction=sample_fraction, seed=seed)
    texts = extracted.select(F.col(id_col), F.col(text_col))
    joined = (
        sampled.join(
            texts.select(
                F.col(id_col).alias("src"), F.col(text_col).alias("text_a")
            ),
            "src",
        )
        .join(
            texts.select(
                F.col(id_col).alias("dst"), F.col(text_col).alias("text_b")
            ),
            "dst",
        )
    )

    out_schema = (
        "src string, dst string, status string, est_jaccard double, "
        "exact_jaccard double, via string"
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ex = _exact_jaccard_batch(pdf["text_a"], pdf["text_b"], shingle_k)
            yield pd.DataFrame(
                {
                    "src": pdf["src"].astype(str),
                    "dst": pdf["dst"].astype(str),
                    "status": pdf["status"],
                    "est_jaccard": pdf["est_jaccard"],
                    "exact_jaccard": ex,
                    "via": pdf["via"],
                }
            )

    scored = joined.select(
        "src", "dst", "status", "est_jaccard", "via", "text_a", "text_b"
    ).mapInPandas(gen, schema=out_schema)

    # R4-style rules: estimate drift, exact-status inconsistency, and
    # pairs kept only by SimHash whose true Jaccard is far below threshold.
    # NOTE "Exact Match" is the signature-resolution tier (all 128
    # minhashes agree — which a true-J=0.99 pair passes with p=0.28), the
    # analog of the reference's score>198 tier, NOT byte equality; the
    # audit flags it only when the true Jaccard shows a real false
    # positive (< 0.95).
    issue = (
        F.when(
            (F.col("status") == "Exact Match") & (F.col("exact_jaccard") < 0.95),
            F.lit("exact-status-but-texts-differ"),
        )
        .when(
            F.abs(F.col("est_jaccard") - F.col("exact_jaccard")) > est_tolerance,
            F.lit("estimate-drift"),
        )
        .when(
            (F.col("status") == "Fuzzy Match")
            & (F.col("exact_jaccard") < jaccard_threshold * 0.5),
            F.lit("low-true-similarity"),
        )
        .otherwise(F.lit(None))
    )
    return (
        scored.withColumn("issue", issue)
        .where(F.col("issue").isNotNull())
        .select(
            "src", "dst", "status", "est_jaccard", "exact_jaccard", "via", "issue"
        )
    )


# ---- R1/R3: names-domain pair audit ----------------------------------------

# independent similarity floors (/root/reference/auditor.py:109-112)
AUDIT_FIRST_MIN = 60
AUDIT_LAST_MIN = 85
AUDIT_FULL_MIN = 75   # name-only safety gate
AUDIT_WRATIO_LOW = 90  # fuzzy remark floor
AUDIT_WRATIO_EXACT = 98


def audit_name_pairs(
    edges: DataFrame, feats: DataFrame, id_col: str = "rid"
) -> DataFrame:
    """Adversarial re-verification of emitted name-match edges with
    INDEPENDENT rules (no score reuse), mirroring the reference auditor's
    _flag_pair (/root/reference/auditor.py:229-277):

      R1 field incompatibilities: birthdate / sex / suffix mismatch
      R1 similarity floors: first<60 (non-equal), last<85 (non-equal),
         middle-initial mismatch
      R3 name-only heightened guard (no birthdate AND no sex on the pair):
         city conflict, full-name ratio < 75
      R4 remark consistency: 'Exact Match' with wratio < 98;
         'Fuzzy Match' with wratio < 90

    Input: edges(src, dst, status[, score]) + the normalized feature table
    (normalize_records output). Output: one row per (pair, issue); empty
    result = audit clean.
    """
    from .names import _full_name, _ratio, _wratio

    f = feats.select(
        F.col(id_col), "_fn", "_mn", "_ln", "_sfx", "_bd", "_sex", "_city"
    )
    a = f.select(
        F.col(id_col).alias("src"),
        *[F.col(c).alias(c + "_a") for c in f.columns if c != id_col],
    )
    b = f.select(
        F.col(id_col).alias("dst"),
        *[F.col(c).alias(c + "_b") for c in f.columns if c != id_col],
    )
    j = edges.select("src", "dst", "status").join(a, "src").join(b, "dst")

    both = lambda c: (F.col(c + "_a") != "") & (F.col(c + "_b") != "")  # noqa: E731
    differ = lambda c: F.col(c + "_a") != F.col(c + "_b")  # noqa: E731
    fn_r = _ratio(F.col("_fn_a"), F.col("_fn_b"))
    ln_r = _ratio(F.col("_ln_a"), F.col("_ln_b"))
    full_a = _full_name(F.col("_fn_a"), F.col("_mn_a"), F.col("_ln_a"))
    full_b = _full_name(F.col("_fn_b"), F.col("_mn_b"), F.col("_ln_b"))
    full_r = _ratio(full_a, full_b)
    wr = _wratio(full_a, full_b)
    name_only = ~(both("_bd")) & ~(both("_sex"))

    issues = F.array(
        F.when(both("_bd") & differ("_bd"), F.lit("birthdate-mismatch")),
        F.when(both("_sex") & differ("_sex"), F.lit("sex-mismatch")),
        F.when(both("_sfx") & differ("_sfx"), F.lit("suffix-mismatch")),
        F.when(
            (fn_r < AUDIT_FIRST_MIN) & differ("_fn"), F.lit("first-name-low-sim")
        ),
        F.when(
            (ln_r < AUDIT_LAST_MIN) & differ("_ln"), F.lit("last-name-low-sim")
        ),
        F.when(
            both("_mn")
            & (F.substring("_mn_a", 1, 1) != F.substring("_mn_b", 1, 1)),
            F.lit("middle-initial-mismatch"),
        ),
        F.when(
            name_only & both("_city") & differ("_city"),
            F.lit("city-differs-name-only"),
        ),
        F.when(
            name_only & (full_r < AUDIT_FULL_MIN),
            F.lit("full-name-low-sim-name-only"),
        ),
        F.when(
            F.col("status").contains("Exact") & (wr < AUDIT_WRATIO_EXACT),
            F.lit("exact-remark-low-wratio"),
        ),
        F.when(
            F.col("status").contains("Fuzzy") & (wr < AUDIT_WRATIO_LOW),
            F.lit("fuzzy-remark-low-wratio"),
        ),
    )
    return (
        j.select(
            "src",
            "dst",
            "status",
            F.explode(F.filter(issues, lambda x: x.isNotNull())).alias("issue"),
        )
    )


def expand_group_pairs(
    clusters: DataFrame,
    id_col: str = "rid",
    cluster_col: str = "cluster_id",
    member_cap: int | None = 256,
) -> DataFrame:
    """R5: unordered member pairs within each final report group
    (reference re-expands every user x reference pair inside each group,
    /root/reference/auditor.py:306-347) — including transitively-merged
    pairs that no scorer ever saw, which are exactly the pairs most worth
    auditing.

    Groups are typically entity families (small), but CC transitively
    chains capped LSH buckets into arbitrarily large components — that is
    its job — so the LSH bucket_cap does NOT bound component size. Groups
    above ``member_cap`` members therefore get CHUNKED expansion: this is
    lsh.candidate_pairs' salted pairing with the group as the bucket —
    each chunk pairs fully (~cap²/2 pairs) plus one head-chain edge to
    the next chunk, so total pairs are O(n·cap) instead of C(n,2). Every
    member appears in >= min(cap, chunk size) - 1 audited pairs (the last
    partial chunk pairs within itself), which is the audit's sampling
    guarantee (audit is a sampling stage by nature — ``audit_edges``
    likewise takes sample_fraction). member_cap=None requests FULL R5
    expansion (every C(n,2) pair, the reference auditor's contract) —
    quadratic in the largest group, the caller's explicit choice; the
    pair kernel streams it in bounded batches. Coverage dropped by
    chunking is quantified by ``expansion_coverage``. A group's members
    are a sorted run inside one kernel task (O(n) memory per group, no
    single row holds them)."""
    from .lsh import candidate_pairs

    keys = clusters.select(id_col, F.col(cluster_col).alias("bh"))
    pairs, _ = candidate_pairs(
        keys,
        id_col=id_col,
        # one chunk per group at any array length: full C(n,2)
        bucket_cap=2**31 - 1 if member_cap is None else member_cap,
        hot_strategy="salted",
    )
    return pairs


def expansion_coverage(
    clusters: DataFrame,
    id_col: str = "rid",
    cluster_col: str = "cluster_id",
    member_cap: int | None = 256,
) -> DataFrame:
    """Audit-coverage accounting for ``expand_group_pairs`` (ADVICE r4):
    per multi-member group, how many of its C(n,2) pairs the chunked
    expansion audits vs drops — closed-form from group sizes alone (no
    pair materialization). Columns: (cluster_id, n_members, n_pairs_full,
    n_pairs_audited, n_pairs_dropped). Sum n_pairs_dropped for the
    corpus-level number; member_cap=None always yields zero dropped."""
    sizes = (
        clusters.groupBy(cluster_col)
        .agg(F.count(id_col).alias("n_members"))
        .where(F.col("n_members") > 1)
    )
    n = F.col("n_members").cast("long")
    full = (n * (n - 1) / 2).cast("long")
    if member_cap is None:
        audited = full
    else:
        cap = F.lit(member_cap).cast("long")
        n_chunks = F.ceil(n / cap).cast("long")
        last = n - (n_chunks - 1) * cap  # last (possibly partial) chunk
        audited = F.when(n <= cap, full).otherwise(
            # full chunks pair within themselves + the partial last chunk
            # + one head-chain edge per chunk boundary
            (n_chunks - 1) * (cap * (cap - 1) / 2).cast("long")
            + (last * (last - 1) / 2).cast("long")
            + (n_chunks - 1)
        )
    return sizes.select(
        cluster_col,
        "n_members",
        full.alias("n_pairs_full"),
        audited.alias("n_pairs_audited"),
        (full - audited).alias("n_pairs_dropped"),
    )


def audit_report_groups(
    clusters: DataFrame,
    feats: DataFrame,
    edges: DataFrame | None = None,
    id_col: str = "rid",
    cluster_col: str = "cluster_id",
    member_cap: int | None = 256,
) -> DataFrame:
    """R5 group-expansion audit: run audit_name_pairs over EVERY pair
    inside each final group, not just emitted edges. Pairs with no scored
    edge carry status 'Transitive (unscored)' — the R4 remark-consistency
    rules don't apply to them (no remark exists), but every R1/R2/R3
    field/floor rule does. edges: the scored edge set (src, dst, status);
    None audits all pairs as unscored. member_cap bounds per-group
    expansion (see expand_group_pairs); pass None for the reference
    auditor's FULL R5 contract; ``expansion_coverage`` quantifies what a
    finite cap drops."""
    pairs = expand_group_pairs(
        clusters, id_col=id_col, cluster_col=cluster_col, member_cap=member_cap
    )
    if edges is not None:
        # expansion pairs are canonical by ID-value order (sorted member
        # arrays), but scored edges may be canonicalized by a DIFFERENT
        # order — the pipeline orients pairs by xxhash64(url) surrogate
        # before relabeling to urls (verify.py label_col), so ~half of
        # scored edges would miss a plain (src,dst) join and be mislabeled
        # 'Transitive (unscored)'. Re-canonicalize the edge side by the
        # same value order the expansion uses.
        e = edges.select(
            F.least("src", "dst").alias("src"),
            F.greatest("src", "dst").alias("dst"),
            "status",
        )
        pairs = pairs.join(e, ["src", "dst"], "left")
    else:
        pairs = pairs.withColumn("status", F.lit(None).cast("string"))
    pairs = pairs.withColumn(
        "status", F.coalesce("status", F.lit("Transitive (unscored)"))
    )
    return audit_name_pairs(pairs, feats, id_col=id_col)
