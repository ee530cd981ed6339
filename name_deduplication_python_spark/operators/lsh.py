"""LSH banding + candidate-pair generation (the blocked self-join).

Reference semantics: J1 blocking-key generator + J2 inverted-index
self-join (/root/reference/analysis_engine.py:418-437) — every record
emits blocking keys, all C(n,2) pairs within a bucket become candidates.
Here the keys are MinHash band hashes, with explicit skew handling (the
reference is single-process and has no skew story, SURVEY §4.2):

  * singleton buckets (the web-scale majority) emit no pair;
  * buckets <= bucket_cap get full C(n,2) pairing (exact, quadratic);
  * hot buckets (> cap, boilerplate pages) get linear star+chain pairing
    (or chunked "salted" pairing): connectivity within the bucket is
    preserved, so downstream connected components see the same clusters;
    recall impact is gate-tested (tests/test_recall.py).

Plan shape: ONE exchange, ``repartition(bh)``, then Spark's spilling
sort within each partition on (bh[, side], id) feeds ``pair_kernel``
(mapInArrow). The kernel streams the sorted rows and expands each
bucket's pairs from ``bucket_pair_blocks`` — the one statement of the
policy — in RecordBatches of at most 2^20 pairs, so a Python worker
holds _HOLD_ROWS rows plus its largest bucket, never its whole
partition. It counts the bucket stats into an ``Observation`` in the
same action.
"""

from __future__ import annotations

import functools

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark import TaskContext
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T

# most pairs in one emitted RecordBatch
_BATCH_PAIRS = 1 << 20
# input rows pair_kernel holds before it pairs the buckets they complete
_HOLD_ROWS = 1 << 16
_STATS_T = pa.list_(pa.int64())


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
    exchange and a single-long group key).
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


def bucket_pair_blocks(n: int, bucket_cap: int, hot_strategy: str):
    """The pairing policy for one bucket of n sorted members: member-index
    (i_lo, i_hi, j_lo, j_hi) blocks (every i < j inside) plus an (m, 2)
    array of single (i, j) pairs. Full C(n,2) at n <= cap. Above it,
    "star_chain" pairs every member with the minimum and with its sorted
    successor (2n pairs, the cheapest connectivity-preserving form), and
    "salted" (DESIGN §Skew item 4) pairs ceil(n/cap) chunks fully plus a
    chain across the chunk heads. pair_kernel emits these pairs;
    ann.semantic_dedup's kernel scores them without building rows."""
    if n <= bucket_cap:
        return [(0, n, 0, n)], np.empty((0, 2), dtype=np.int64)
    if hot_strategy == "salted":
        heads = np.arange(0, n, bucket_cap)
        ends = np.minimum(heads + bucket_cap, n).tolist()
        blocks = [(a, b, a, b) for a, b in zip(heads.tolist(), ends)]
        return blocks, np.column_stack([heads[:-1], heads[1:]])
    chain = np.arange(1, n - 1)
    return [(0, 1, 1, n)], np.column_stack([chain, chain + 1])


def _block_pairs(ilo: int, ihi: int, jlo: int, jhi: int, limit: int):
    """Every (i, j) with i < j in [ilo, ihi) x [jlo, jhi), as index
    arrays of at most ``limit`` pairs each."""
    for j0 in range(jlo, jhi, limit):
        j1 = min(j0 + limit, jhi)
        rows = np.arange(ilo, min(ihi, j1 - 1))
        start = np.maximum(rows + 1, j0)
        cnt = j1 - start  # 1..limit per row
        cum = np.cumsum(cnt)
        a = 0
        while a < len(rows):
            b = int(np.searchsorted(cum, (cum[a - 1] if a else 0) + limit, "right"))
            c = cnt[a:b]
            # pair p of row r is (r, start[r] + p - first[r])
            first = np.cumsum(c) - c
            j = np.arange(int(c.sum())) - np.repeat(first - start[a:b], c)
            yield np.repeat(rows[a:b], c), j
            a = b


def _bucket_pieces(starts, sizes, k, bucket_cap, hot_strategy, limit):
    """Row-index (i, j) pieces of <= limit pairs for every bucket: the
    policy's pairs whose first member is among the bucket's first k rows.
    Buckets of one shape (n, k) share one set of member-index pairs,
    broadcast over their starts unless it alone exceeds the limit."""
    multi = (sizes > 1) & (k > 0)
    for n, kk in np.unique(np.column_stack([sizes[multi], k[multi]]), axis=0).tolist():
        s = starts[multi & (sizes == n) & (k == kk)]
        blocks, singles = bucket_pair_blocks(n, bucket_cap, hot_strategy)
        blocks = [(a, min(b, kk), c, d) for a, b, c, d in blocks]
        singles = singles[singles[:, 0] < kk]
        count = len(singles) + sum(
            int(np.maximum(d - np.maximum(np.arange(a, b) + 1, c), 0).sum())
            for a, b, c, d in blocks
        )

        def shape():
            for blk in blocks:
                yield from _block_pairs(*blk, limit)
            for c in range(0, len(singles), limit):
                yield singles[c : c + limit, 0], singles[c : c + limit, 1]

        if count > limit:
            for b in s.tolist():
                for i, j in shape():
                    yield b + i, b + j
            continue
        i, j = (np.concatenate(x) for x in zip(*shape()))
        step = limit // count
        for c in range(0, len(s), step):
            yield (s[c : c + step, None] + i).ravel(), (s[c : c + step, None] + j).ravel()


def _run_pairs(table, stats, schema, bucket_cap, hot_strategy, side_col):
    """Pair batches for the whole buckets in ``table`` (sorted rows of
    (bh, id[, side])); adds their bucket stats to ``stats``."""
    ends = pc.run_end_encode(table["bh"].combine_chunks()).run_ends.to_numpy()
    starts = np.concatenate([[0], ends[:-1]]).astype(np.int64)
    sizes = ends - starts
    k = sizes
    if side_col:
        k = np.add.reduceat((table[side_col].to_numpy() == 0).astype(np.int64), starts)
    stats[:] = [stats[0] + len(sizes), stats[1] + int((sizes == 1).sum()),
                stats[2] + int((sizes > bucket_cap).sum()), max(stats[3], int(sizes.max())),
                stats[4] + int((sizes * (sizes - 1) // 2).sum())]
    ids = table.column(1).combine_chunks()
    # one batch per bucket shape (or per limit-sized piece of a big one)
    for i, j in _bucket_pieces(starts, sizes, k, bucket_cap, hot_strategy, _BATCH_PAIRS):
        cols = [ids.take(i), ids.take(j), pa.nulls(len(i), _STATS_T)]
        yield pa.RecordBatch.from_arrays(cols, schema=schema)


def pair_kernel(
    batches,
    id_col: str,
    bucket_cap: int,
    hot_strategy: str = "star_chain",
    side_col: str | None = None,
):
    """mapInArrow body of candidate_pairs: batches of (bh, id[, side]),
    sorted on all of them, no null id -> batches of (src, dst, _stats).
    Past _HOLD_ROWS rows it pairs every bucket but the last one held,
    which may run on into the next batch. Each row out but the last is a
    pair, src before dst in sort order; the last carries the partition's
    bucket stats. With a side column only pairs with a side-0 member
    (side 0 sorts first) are enumerated. A pure function of the sorted
    rows: a task Spark re-runs emits the same pairs, wherever its batch
    boundaries fall."""
    stats, held, n_held, hold = [0] * 5, [], 0, _HOLD_ROWS
    cols = ["bh", id_col, *([side_col] if side_col else [])]
    for batch in batches:
        held.append(batch.select(cols))
        n_held += batch.num_rows
        t = batch.schema.field(id_col).type
        schema = pa.schema([("src", t), ("dst", t), ("_stats", _STATS_T)])
        args = (stats, schema, bucket_cap, hot_strategy, side_col)
        if n_held < hold:
            continue
        table = pa.Table.from_batches(held)
        cut = pc.index(table["bh"], table["bh"][-1]).as_py()  # the last bucket's start
        if cut:
            yield from _run_pairs(table.slice(0, cut), *args)
        held, n_held = table.slice(cut).to_batches(), table.num_rows - cut
        hold = max(_HOLD_ROWS, 2 * n_held)  # a bucket above the hold doubles it
    if not n_held:
        return
    yield from _run_pairs(pa.Table.from_batches(held), *args)
    task = TaskContext.get()  # its partition id keeps equal stats rows apart in the distinct
    stats.append(task.partitionId() if task else 0)
    yield pa.RecordBatch.from_pylist([{"_stats": stats}], schema=schema)


def candidate_pairs(
    keys: DataFrame,
    id_col: str = "url",
    bucket_cap: int = 64,
    hot_strategy: str = "star_chain",
    side_col: str | None = None,
) -> tuple[DataFrame, Observation]:
    """(id, bh) -> candidate pairs (src, dst), canonical src < dst and
    distinct across bands; id and bh may be bigint or string.

    Returns (pairs, observation). The observation carries bucket stats
    (n_buckets, n_singleton, n_hot, max_bucket, full_pairing_cost) and is
    populated by the FIRST action on `pairs` — read ``observation.get``
    after materializing; no extra job runs. hot_strategy picks how
    buckets above bucket_cap pair (bucket_pair_blocks).

    side_col (0 or 1 per row) pairs two relations in one capped pass:
    side-1 rows never pair with each other, and a mixed pair has its
    side-0 id on src. The cap applies to the combined bucket, side 0
    first, and needs star_chain: salted chunks past the side-0 rows
    would pair with no side-0 member, so they would be cut off from the
    batch."""
    if side_col and hot_strategy != "star_chain":
        raise ValueError("a side column pairs with hot_strategy='star_chain' only")
    side = [side_col] if side_col else []
    out_schema = T.StructType(
        [T.StructField(c, keys.schema[id_col].dataType) for c in ("src", "dst")]
        + [T.StructField("_stats", T.ArrayType(T.LongType()))]
    )
    kernel = functools.partial(pair_kernel, id_col=id_col, bucket_cap=bucket_cap,
                               hot_strategy=hot_strategy, side_col=side_col)
    st = F.col("_stats")
    total = [F.coalesce(F.sum(st[i]), F.lit(0)) for i in range(5)]
    obs = Observation()
    # the stats rows pass the distinct and are counted after it, so a
    # zero-pair result still feeds the observing stage and AQE cannot
    # prune it as empty before it reports
    pairs = (
        keys.select("bh", id_col, *side)
        .where(F.col(id_col).isNotNull())
        .repartition("bh")
        # a spilling sort: the kernel then streams its partition
        .sortWithinPartitions("bh", *side, id_col)
        .mapInArrow(kernel, out_schema)
        .distinct()
        .observe(
            obs,
            total[0].alias("n_buckets"),
            total[1].alias("n_singleton"),
            total[2].alias("n_hot"),
            F.coalesce(F.max(st[3]), F.lit(0)).alias("max_bucket"),
            F.round(total[4].cast("double"), 1).alias("full_pairing_cost"),
        )
        .where(st.isNull())
        .drop("_stats")
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
