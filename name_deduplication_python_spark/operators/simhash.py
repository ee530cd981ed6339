"""SimHash Hamming-ball pair generation via pigeonhole block banding.

Reference analog: the pairwise fuzzy-ratio loop
(/root/reference/analysis_engine.py:108-135) re-imagined as SimHash
Hamming-distance matching (north_star). The naive form is an all-pairs
compare — O(n^2), a scale-killer. The standard pigeonhole trick makes it
an equi-join: split the b-bit signature into (radius+1) blocks; any two
signatures within Hamming distance ``radius`` must agree exactly on at
least one block (at most ``radius`` blocks can contain a differing bit).
Equi-join on (block_idx, block_value) then verify with the exact
``bit_count(xor)`` — provably lossless, all native expressions.

Block-join fan-out is governed by block width: radius 3 over 64 bits
gives 4 x 16-bit blocks, so random collisions within a block are ~2^-16
per band — near-duplicate corpora cluster, everything else stays in
singleton buckets that the count prefilter drops before the join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def simhash_block_keys(
    sigs: DataFrame,
    id_col: str = "doc_id",
    sim_col: str = "simhash",
    radius: int = 3,
    sig_bits: int = 64,
) -> DataFrame:
    """(id, simhash) -> (id, simhash, blk, bv): one row per block.

    radius+1 blocks; the final block absorbs the remainder bits when
    sig_bits isn't divisible. shiftrightunsigned keeps negative (two's-
    complement) simhashes correct.
    """
    n_blocks = radius + 1
    width = sig_bits // n_blocks
    cols = []
    for i in range(n_blocks):
        lo = i * width
        w = sig_bits - lo if i == n_blocks - 1 else width
        mask = (1 << w) - 1
        cols.append(
            F.struct(
                F.lit(i).alias("blk"),
                F.shiftrightunsigned(F.col(sim_col), lo)
                .bitwiseAND(F.lit(mask))
                .alias("bv"),
            )
        )
    return sigs.select(
        F.col(id_col), F.col(sim_col), F.explode(F.array(*cols)).alias("b")
    ).select(id_col, sim_col, F.col("b.blk").alias("blk"), F.col("b.bv").alias("bv"))


def simhash_hamming_pairs(
    sigs: DataFrame,
    id_col: str = "doc_id",
    sim_col: str = "simhash",
    radius: int = 3,
    sig_bits: int = 64,
    bucket_cap: int = 256,
) -> DataFrame:
    """All pairs within Hamming ``radius``: (src, dst, hamming), src < dst.

    Routes the (blk, bv) blocks through the SAME skew machinery as the
    MinHash LSH join (operators.lsh.candidate_pairs): singleton buckets
    emit no pair, buckets <= bucket_cap pair fully
    (lossless — the pigeonhole guarantee holds verbatim), and buckets
    ABOVE the cap use the "salted" chunked pairing. Random block-value
    collisions at ~2^-16 never fill a bucket, but a DUPLICATE FAMILY
    (boilerplate: thousands of identical simhashes) is not random — the
    round-2 uncapped self-join went m^2 on exactly that input. Above the
    cap the emitted pair set is a connected, exactly-verified subset
    (~cap*n/2 pairs): every emitted pair's hamming is exact, and the family
    stays one component for CC-style consumers; only the full quadratic
    pair listing inside a single hot family is intentionally bounded.

    The exact hamming verify joins the (id, simhash) payload back by id —
    an 8-byte-key hash join, same shape as the MinHash verify stage.
    """
    from .lsh import candidate_pairs

    # one 64-bit key per (blk, bv): a long groups cheaper than a struct;
    # xxhash64 collisions across blocks only ADD candidates (the exact
    # hamming verify below filters them) and are ~2^-64 per bucket pair
    keys = simhash_block_keys(sigs, id_col, sim_col, radius, sig_bits).select(
        id_col, F.xxhash64("blk", "bv").alias("bh")
    )
    pairs, _ = candidate_pairs(
        keys,
        id_col=id_col,
        bucket_cap=bucket_cap,
        hot_strategy="salted",
    )
    s = sigs.select(id_col, sim_col)
    a = s.select(F.col(id_col).alias("src"), F.col(sim_col).alias("sim_a"))
    b = s.select(F.col(id_col).alias("dst"), F.col(sim_col).alias("sim_b"))
    return (
        pairs.join(a, "src")
        .join(b, "dst")
        .select(
            "src",
            "dst",
            F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b"))).alias("hamming"),
        )
        .where(F.col("hamming") <= radius)
    )
