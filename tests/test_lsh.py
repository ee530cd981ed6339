"""LSH banding + candidate-join tests (J1/J2 analogs,
/root/reference/analysis_engine.py:418-437)."""

from __future__ import annotations

import pandas as pd
import pytest

from name_deduplication_python_spark.operators.lsh import (
    band_keys,
    bucket_pair_blocks,
    candidate_pairs,
    candidate_pairs_two_table,
)
from name_deduplication_python_spark.operators.signatures import signature_stage


def _sigs(spark, texts: dict[str, str]):
    pdf = pd.DataFrame({"url": list(texts), "text": list(texts.values())})
    return signature_stage(spark.createDataFrame(pdf))


def test_exact_dups_share_all_bands(spark):
    t = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 5
    sigs = _sigs(spark, {"a": t, "b": t, "c": "completely different words in this one here now ok yes"})
    keys = band_keys(sigs)
    pairs, _ = candidate_pairs(keys)
    got = {(r["src"], r["dst"]) for r in pairs.collect()}
    assert ("a", "b") in got
    assert ("a", "c") not in got and ("b", "c") not in got


def test_band_count(spark):
    sigs = _sigs(spark, {"a": "one two three four five six seven"})
    assert band_keys(sigs, bands=16, rows_per_band=8).count() == 16


def test_hot_bucket_capped_but_connected(spark):
    # 100 identical docs -> every band bucket has 100 members (hot);
    # pairing must be linear yet keep the bucket connected.
    t = "same words everywhere " * 20
    texts = {f"d{i:03d}": t for i in range(100)}
    sigs = _sigs(spark, texts)
    keys = band_keys(sigs)
    pairs, obs = candidate_pairs(keys, bucket_cap=16)
    n = pairs.count()
    # linear, not quadratic: full pairing would be 4950 pairs
    assert n < 400, n
    st = obs.get  # populated by the count action above
    assert st["n_hot"] > 0 and st["max_bucket"] == 100
    # connectivity: union-find over emitted pairs links all 100 docs
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for r in pairs.collect():
        parent[max(find(r["src"]), find(r["dst"]))] = min(find(r["src"]), find(r["dst"]))
    roots = {find(u) for u in texts}
    assert len(roots) == 1


def test_hot_bucket_salted_strategy(spark):
    """DESIGN §Skew item 4: the salted hot-bucket path must (a) bound the
    per-sub-bucket pairing, (b) keep the bucket connected, and (c) emit a
    superset of pairs dense enough to verify inside duplicate families."""
    t = "same words everywhere " * 20
    texts = {f"d{i:03d}": t for i in range(100)}
    sigs = _sigs(spark, texts)
    keys = band_keys(sigs)
    pairs, _ = candidate_pairs(keys, bucket_cap=16, hot_strategy="salted")
    n = pairs.count()
    # ~n*cap/2 within sub-buckets + chains: far below full pairing (4950),
    # above the 2n star+chain floor
    assert 100 < n < 2000, n
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for r in pairs.collect():
        parent[max(find(r["src"]), find(r["dst"]))] = min(find(r["src"]), find(r["dst"]))
    assert len({find(u) for u in texts}) == 1, "salted bucket must stay connected"


@pytest.mark.parametrize("hot_strategy", ["star_chain", "salted"])
def test_pair_blocks_match_candidate_pairs(spark, hot_strategy):
    """bucket_pair_blocks (the index form ann.semantic_dedup pairs by) and
    candidate_pairs' SQL form emit the same pair set on buckets at and
    around the cap: below, at, one over, whole chunks, a partial chunk."""
    cap = 4
    sizes = [2, cap, cap + 1, 2 * cap, 3 * cap + 5]
    # disjoint, sorted id ranges per bucket: member index i <-> id base+i
    rows = [(b * 1000 + i, b) for b, n in enumerate(sizes) for i in range(n)]
    keys = spark.createDataFrame(rows, "uid bigint, bh bigint")
    pairs, _ = candidate_pairs(
        keys, id_col="uid", bucket_cap=cap, hot_strategy=hot_strategy,
        with_stats=False,
    )
    got = {(r.src, r.dst) for r in pairs.collect()}
    want = set()
    for b, n in enumerate(sizes):
        blocks, singles = bucket_pair_blocks(n, cap, hot_strategy)
        for ilo, ihi, jlo, jhi in blocks:
            want |= {
                (b * 1000 + i, b * 1000 + j)
                for i in range(ilo, ihi)
                for j in range(jlo, jhi)
                if i < j
            }
        want |= {(b * 1000 + i, b * 1000 + j) for i, j in singles}
    assert got == want


def test_singleton_buckets_dropped(spark):
    texts = {f"u{i}": f"totally unique document number {i} with words w{i}a w{i}b w{i}c w{i}d w{i}e w{i}f" for i in range(20)}
    sigs = _sigs(spark, texts)
    keys = band_keys(sigs)
    from name_deduplication_python_spark.operators.lsh import bucket_stats_job

    total = keys.count()
    pairs, obs = candidate_pairs(keys)
    assert pairs.count() == 0  # all buckets singleton -> no pairs at all
    # zero-pair plans are AQE-pruned before CollectMetrics (the pipeline
    # falls back the same way) -> use the explicit stats job
    st = bucket_stats_job(keys)
    assert st["n_singleton"] > 0
    assert st["n_buckets"] <= total


def test_two_table_linkage(spark):
    t = "shared document text appears in both tables " * 4
    a = _sigs(spark, {"left1": t, "left2": "unrelated text one two three four five six"})
    b = _sigs(spark, {"right1": t, "right2": "different other content seven eight nine ten eleven"})
    pairs = candidate_pairs_two_table(band_keys(a), band_keys(b))
    got = {(r["src"], r["dst"]) for r in pairs.collect()}
    assert ("left1", "right1") in got
    assert ("left2", "right2") not in got
