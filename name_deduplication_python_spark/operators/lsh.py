"""LSH banding + candidate-pair generation (the blocked self-join).

Reference semantics: J1 blocking-key generator + J2 inverted-index
self-join (/root/reference/analysis_engine.py:418-437) — every record
emits blocking keys, all C(n,2) pairs within a bucket become candidates.
Here the keys are MinHash band hashes, with explicit skew handling (the
reference is single-process and has no skew story, SURVEY §4.2):

  * singleton buckets (the web-scale majority) are dropped right after
    the aggregation, before any pair is generated;
  * buckets <= bucket_cap get full C(n,2) pairing (exact, quadratic);
  * hot buckets (> cap, boilerplate pages) get linear star+chain pairing
    (or chunked "salted" pairing): connectivity within the bucket is
    preserved, so downstream connected components see the same clusters;
    recall impact is gate-tested (tests/test_recall.py).

Plan shape (round-2 rewrite): ONE hash-aggregate shuffle —
``groupBy(band, bh).agg(sort_array(collect_list(id)))`` — then the pair
list is a NATIVE conditional array expression over the sorted member
array (nested transform/slice), exploded. The round-1 form (window count
+ localCheckpoint + equi-self-join) sorted 25x|docs| rows and spilled
them to local disk per run: measured 38 s at local[8] on 1.36M pages,
scaling at 0.33 efficiency (I/O-bound). The aggregate form does no sort,
no checkpoint, and no join, and bucket statistics ride along as an
``Observation`` (computed inside the SAME action, zero extra jobs).

The only structural risk of collect_list is a mega-bucket's member array
living in one row (~8 MB per 10^6 ids); bucket pathology beyond that is
exactly what the banding hash makes astronomically unlikely for
non-duplicate content, and duplicate families that large should be
handled by the exact-dup pass first.

Everything is native DataFrame ops — band hashes via xxhash64 over
signature slices, no UDFs at all in this stage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


def band_keys(
    sigs: DataFrame,
    id_col: str = "url",
    bands: int = 25,
    rows_per_band: int = 5,
) -> DataFrame:
    """sigs(id, minhash) -> (id, bh) — one row per (doc, band).

    Band hash = xxhash64(band, sig[band*r : (band+1)*r]) computed natively;
    the band index is INSIDE the hash (a seed), so no separate band column
    ships through the big shuffle (round-2: 4 bytes/row off the hottest
    exchange and a single-long group key for the hash aggregate).
    Default 25 bands x 5 rows: P(candidate | J=0.8) = 1-(1-0.8^5)^25 =
    0.99995 >= the 0.99 recall gate (16x8 would give only 0.947).
    """
    cols = [
        F.xxhash64(
            F.lit(b), F.slice("minhash", b * rows_per_band + 1, rows_per_band)
        )
        for b in range(bands)
    ]
    return (
        sigs.where(F.col("n_shingles") > 0)
        .select(id_col, F.explode(F.array(*cols)).alias("bh"))
    )


def _pairs_of(arr, struct_names=("src", "dst")):
    """All C(n,2) ordered pairs of a SORTED array as a native expression:
    flatten(transform(arr, (x,i) -> transform(suffix after x, y ->
    struct(x,y)))). Sorted input makes src < dst by construction."""
    sz = F.size(arr)
    s, d = struct_names
    return F.flatten(
        F.transform(
            arr,
            lambda x, i: F.transform(
                F.slice(arr, i + 2, F.greatest(sz - i - 1, F.lit(0))),
                lambda y: F.struct(x.alias(s), y.alias(d)),
            ),
        )
    )


def bucket_stats_job(keys: DataFrame, bucket_cap: int = 64) -> dict:
    """Explicit bucket-stats aggregate (same five fields the Observation
    carries). Fallback for the zero-pair case, where AQE's empty-relation
    propagation prunes the plan before CollectMetrics executes and the
    Observation never populates (observed on Spark 4.1) — in exactly that
    case this recompute is near-free (tiny input)."""
    g = keys.groupBy("bh").agg(F.count("*").alias("n"))
    row = g.agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.count(F.when(F.col("n") == 1, 1)).alias("n_singleton"),
        F.count(F.when(F.col("n") > bucket_cap, 1)).alias("n_hot"),
        F.coalesce(F.max("n"), F.lit(0)).alias("max_bucket"),
        F.coalesce(
            F.round(F.sum(F.col("n").cast("double") * (F.col("n") - 1) / 2.0), 1),
            F.lit(0.0),
        ).alias("full_pairing_cost"),
    ).collect()[0]
    return row.asDict()


def candidate_pairs(
    keys: DataFrame,
    id_col: str = "url",
    bucket_cap: int = 64,
    hot_strategy: str = "star_chain",
    with_stats: bool = True,
) -> tuple[DataFrame, Observation | None]:
    """(id, bh) -> canonical candidate pair DataFrame (src < dst),
    distinct across bands.

    Returns (pairs, observation). The observation carries bucket stats
    (n_buckets, n_singleton, n_hot, max_bucket, full_pairing_cost) and is
    populated by the FIRST action on `pairs` — read ``observation.get``
    after materializing; no extra job runs. None when with_stats=False.

    hot_strategy — how buckets ABOVE bucket_cap pair up (both preserve
    within-bucket connectivity, so downstream CC sees the same clusters;
    recall under forced hot buckets is gate-tested for both):
      * "star_chain" (default): every member pairs with the bucket
        minimum AND its successor in sorted order — 2n rows, the cheapest
        connectivity-preserving form.
      * "salted": DESIGN §Skew item 4 — the sorted member array splits
        into ceil(n/cap) chunks; each chunk pairs fully (~cap^2/2 rows)
        plus a chain across chunk heads reconnects the bucket. Denser
        in-family verification at the same per-row bound.
    """
    grouped = keys.groupBy("bh").agg(
        F.sort_array(F.collect_list(id_col)).alias("m")
    )
    n = F.size("m")
    obs = None
    if with_stats:
        obs = Observation("bucket_stats")
        grouped = grouped.observe(
            obs,
            F.count(F.lit(1)).alias("n_buckets"),
            F.sum((n == 1).cast("long")).alias("n_singleton"),
            F.sum((n > bucket_cap).cast("long")).alias("n_hot"),
            F.coalesce(F.max(n), F.lit(0)).alias("max_bucket"),
            F.coalesce(
                F.round(F.sum(n.cast("double") * (n - 1) / 2.0), 1), F.lit(0.0)
            ).alias("full_pairing_cost"),
        )
    multi = grouped.where(n > 1)

    m = F.col("m")
    full_expr = _pairs_of(m)
    if hot_strategy == "salted":
        n_chunks = F.ceil(n / F.lit(bucket_cap)).cast("int")
        chunk_pairs = F.flatten(
            F.transform(
                F.sequence(F.lit(0), n_chunks - 1),
                lambda c: _pairs_of(F.slice(m, c * bucket_cap + 1, bucket_cap)),
            )
        )
        heads = F.transform(
            F.sequence(F.lit(0), n_chunks - 2),
            lambda c: F.struct(
                F.get(m, c * bucket_cap).alias("src"),
                F.get(m, (c + 1) * bucket_cap).alias("dst"),
            ),
        )
        hot_expr = F.concat(chunk_pairs, heads)
    else:
        star = F.transform(
            F.slice(m, 2, n - 1),
            lambda y: F.struct(F.get(m, 0).alias("src"), y.alias("dst")),
        )
        # chain over sorted successors, skipping the min (covered by star);
        # empty-typed fallback via a zero-length slice of star (id-type
        # agnostic). F.get is 0-based and takes column indices.
        chain = F.when(
            n >= 3,
            F.transform(
                F.sequence(F.lit(1), n - 2),
                lambda i: F.struct(
                    F.get(m, i).alias("src"), F.get(m, i + 1).alias("dst")
                ),
            ),
        ).otherwise(F.slice(star, 1, 0))
        hot_expr = F.concat(star, chain)

    pair_arr = F.when(n <= bucket_cap, full_expr).otherwise(hot_expr)
    pairs = (
        multi.select(F.explode(pair_arr).alias("p"))
        .select(F.col("p.src").alias("src"), F.col("p.dst").alias("dst"))
        .distinct()
    )
    return pairs, obs


def candidate_pairs_two_table(
    keys_a: DataFrame,
    keys_b: DataFrame,
    id_col: str = "url",
) -> DataFrame:
    """Two-relation linkage analog of J3
    (/root/reference/analysis_engine.py:439-449): candidates across two
    corpora sharing a band bucket. No i<j constraint — sides are meant to
    be distinct; the src != dst guard makes a caller error (the same id on
    both sides) degrade to duplicate pairs instead of self-edges."""
    a = keys_a.select("bh", F.col(id_col).alias("src"))
    b = keys_b.select("bh", F.col(id_col).alias("dst"))
    return (
        a.join(b, "bh")
        .where(F.col("src") != F.col("dst"))
        .select("src", "dst")
        .distinct()
    )
