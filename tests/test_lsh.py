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


# ids whose UTF-8 byte order (Spark's string order, and Python's code
# point order) differs from UTF-16 order: U+1D538 sorts after U+FF41
_STR_IDS = ["Z", "a", "z", "\u00e9", "\uff41", "\U0001d538", "\u00e9a", "a\u0301"]


def _bucket_rows(kind, sizes):
    """(id, bh, side) rows: ids shuffled within each bucket, sides
    alternating by row."""
    import random

    rng = random.Random(5)
    rows = []
    for b, n in enumerate(sizes):
        if kind == "bigint":
            ids = [b * 1000 + i for i in range(n)]
        else:
            ids = [f"{_STR_IDS[i % 8]}{i // 8}.{b}" for i in range(n)]
        rng.shuffle(ids)
        rows += [(x, b, i % 2) for i, x in enumerate(ids)]
    return rows


def _policy_pairs(rows, cap, hot_strategy, sided):
    """Brute force from bucket_pair_blocks: each bucket ordered by
    (side, id) when sided, else by id; pairs kept when one member is
    side 0 (the first member, in that order)."""
    by_bucket: dict = {}
    for r in rows:
        by_bucket.setdefault(r[1], []).append(r)
    want = set()
    for members in by_bucket.values():
        m = sorted(members, key=lambda r: (r[2] if sided else 0, r[0]))
        blocks, singles = bucket_pair_blocks(len(m), cap, hot_strategy)
        idx = {
            (i, j)
            for ilo, ihi, jlo, jhi in blocks
            for i in range(ilo, ihi)
            for j in range(jlo, jhi)
            if i < j
        } | {(int(i), int(j)) for i, j in singles}
        want |= {(m[i][0], m[j][0]) for i, j in idx if not sided or m[i][2] == 0}
    return want


@pytest.mark.parametrize("hot_strategy", ["star_chain", "salted"])
def test_pair_blocks_match_candidate_pairs(spark, hot_strategy):
    """bucket_pair_blocks (the policy the kernel emits and
    ann.semantic_dedup pairs by) and candidate_pairs emit the same pair
    set on buckets at and around the cap: below, at, one over, whole
    chunks, a partial chunk; for bigint and string ids, with and without
    a side column. String ids canonicalize in UTF-8 byte order. With a
    side column only pairs holding a side-0 member come out and a mixed
    pair has its side-0 id on src."""
    cap = 4
    for kind in ("bigint", "string"):
        rows = _bucket_rows(kind, [2, cap, cap + 1, 2 * cap, 3 * cap + 5])
        keys = spark.createDataFrame(
            rows, f"uid {kind}, bh bigint, side int"
        )
        side = {r[0]: r[2] for r in rows}
        # salted chunks past the side-0 rows would reach no side-0 member
        for sided in (False, True) if hot_strategy == "star_chain" else (False,):
            case = f"kind={kind} sided={sided}"
            pairs, _ = candidate_pairs(
                keys,
                id_col="uid",
                bucket_cap=cap,
                hot_strategy=hot_strategy,
                side_col="side" if sided else None,
            )
            got = {(r.src, r.dst) for r in pairs.collect()}
            assert got == _policy_pairs(rows, cap, hot_strategy, sided), case
            for s, d in got:
                if sided and side[s] != side[d]:
                    assert side[s] == 0, case
                else:
                    assert s < d, case
    if hot_strategy == "salted":
        with pytest.raises(ValueError):
            candidate_pairs(keys, id_col="uid", hot_strategy="salted", side_col="side")


@pytest.mark.parametrize("sided", [False, True])
def test_pair_kernel_same_pairs_under_any_split(sided, monkeypatch):
    """Retry safety without Spark: the module-level kernel fed the same
    rows, sorted as candidate_pairs sorts each partition and split into
    batches of 1, 7 and 512 rows, emits the same pair set (and the same
    stats) whatever it holds between flushes: a task Spark re-runs emits
    the same pairs. Output batches never exceed the pair limit."""
    import random

    import pyarrow as pa

    from name_deduplication_python_spark.operators import lsh

    rows = _bucket_rows("string", [1, 2, 3, 5, 9, 17, 40, 1, 6]) + _bucket_rows(
        "string", [4, 70]
    )
    rows = [(x, bh % 7, side) for x, bh, side in rows]
    rng = random.Random(11)
    seen = []
    for size, limit, hold in ((1, 5, 1), (7, 1 << 20, 20), (512, 64, 1 << 16)):
        rng.shuffle(rows)
        rows.sort(key=lambda r: (r[1], r[2] if sided else 0, r[0]))
        monkeypatch.setattr(lsh, "_BATCH_PAIRS", limit)
        monkeypatch.setattr(lsh, "_HOLD_ROWS", hold)
        table = pa.table(
            {k: [r[i] for r in rows] for i, k in enumerate(("uid", "bh", "side"))}
        )
        out = lsh.pair_kernel(
            iter(table.select(["bh", "uid", "side"]).to_batches(max_chunksize=size)),
            id_col="uid",
            bucket_cap=8,
            side_col="side" if sided else None,
        )
        pairs, stats = set(), []
        for batch in out:
            assert batch.num_rows <= limit
            d = batch.to_pydict()
            for s, t, st in zip(d["src"], d["dst"], d["_stats"]):
                if st is None:
                    pairs.add((s, t))
                else:
                    stats.append(st)
        assert len(stats) == 1
        seen.append((pairs, stats))
    assert seen[0] == seen[1] == seen[2]
    assert seen[0][0] == _policy_pairs(rows, 8, "star_chain", sided)


def test_singleton_buckets_dropped(spark):
    texts = {f"u{i}": f"totally unique document number {i} with words w{i}a w{i}b w{i}c w{i}d w{i}e w{i}f" for i in range(20)}
    sigs = _sigs(spark, texts)
    keys = band_keys(sigs)
    total = keys.count()
    pairs, obs = candidate_pairs(keys)
    assert pairs.count() == 0  # all buckets singleton -> no pairs at all
    # the kernel's stats rows reach the Observation even with zero pairs
    st = obs.get
    assert st["n_singleton"] == st["n_buckets"] == total
    assert st["max_bucket"] == 1 and st["full_pairing_cost"] == 0.0


def test_two_table_linkage(spark):
    t = "shared document text appears in both tables " * 4
    a = _sigs(spark, {"left1": t, "left2": "unrelated text one two three four five six"})
    b = _sigs(spark, {"right1": t, "right2": "different other content seven eight nine ten eleven"})
    pairs = candidate_pairs_two_table(band_keys(a), band_keys(b))
    got = {(r["src"], r["dst"]) for r in pairs.collect()}
    assert ("left1", "right1") in got
    assert ("left2", "right2") not in got
