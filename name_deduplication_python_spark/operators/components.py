"""Distributed connected components: alternating large-star / small-star.

Replaces the reference's driver-side union-find over a parent dict
(/root/reference/analysis_engine.py:555-580) — fine at 10^5 nodes,
impossible at 10^12 (SURVEY §4.3). This is the alternating algorithm of
Kiveris et al., "Connected Components in MapReduce and Beyond" (SOCC'14,
public): O(log^2 n) rounds of two DataFrame aggregations, each a single
shuffle on node id. Labels are component minima, so the result is
deterministic under any partitioning (SURVEY §7.5 determinism
requirement). Lineage is cut with localCheckpoint every iteration.

large-star: for each node u (edges taken bidirectionally), let
  m = min({u} ∪ N(u)); emit (v, m) for every neighbor v > u.
small-star: orient edges large->small; for each u let m = min(N(u));
  emit (v, m) for v in N(u)\\{m} plus (u, m).

Convergence: the edge multiset stops changing (checked via count +
xxhash64 checksum — two scalars per iteration, no collect of edges).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _large_star(edges: DataFrame) -> DataFrame:
    # window-min instead of groupBy+self-join: one shuffle on src, no join.
    bi = edges.select("src", "dst").union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    w = Window.partitionBy("src")
    return (
        bi.withColumn("mn", F.least(F.col("src"), F.min("dst").over(w)))
        .where(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("mn").alias("dst"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    oriented = edges.select(
        F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
    ).where(F.col("src") != F.col("dst"))
    w = Window.partitionBy("src")
    withmin = oriented.withColumn("mn", F.min("dst").over(w))
    part1 = withmin.where(F.col("dst") != F.col("mn")).select(
        F.col("dst").alias("src"), F.col("mn").alias("dst")
    )
    part2 = withmin.select("src", F.col("mn").alias("dst"))
    # single distinct per iteration (dedups both stars' output at once)
    return part1.union(part2).distinct()


def _checksum(edges: DataFrame) -> tuple[int, int]:
    row = edges.agg(
        F.count("*").alias("n"),
        F.coalesce(
            F.sum(F.xxhash64("src", "dst").cast("decimal(38,0)")), F.lit(0)
        ).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"])


def _cc_single_task(edges: DataFrame) -> DataFrame:
    """Small-graph fast path: one grouped-map task labels the whole
    (small) edge set. Exactly the same min-label semantics as the
    iterative path; used only below ``small_graph_threshold`` edges, where
    iteration scheduling latency would dominate (each large/small-star
    round is ~3 tiny jobs — pure overhead on a graph that fits in one
    task). At 10^12-doc scale the iterative path runs.

    The kernel is VECTORIZED min-label propagation over factorized int
    ids: label[x] <- min over neighbors until fixpoint, a numpy
    minimum.at sweep per round, O(E) each, rounds ~ component diameter
    (dedup families are stars/cliques: 2-4 rounds). The round-2 rewrite
    replaces a per-edge python union-find loop that serialized ~5 s on
    700k string edges — the Amdahl tail of the whole pipeline at 4N.
    Pointer-jumping (label <- label[label]) keeps rounds logarithmic on
    pathological chains.

    LARGE string-id graphs take the hashed route (_cc_single_task_hashed,
    dispatched by connected_components): round-4 profiling showed the
    single task spending ~4.3 s factorizing 2M url strings plus ~4 s
    shipping ~80 MB of strings through Arrow — a serial tail at every
    parallelism level. Hashing ids to int64 first cuts the single task to
    the int kernel (~16 MB transfer, ~0.3 s factorize); min-ORIGINAL-id
    labels are restored by a small distributed relabel join, so the label
    contract is unchanged. Small graphs keep the direct route (the relabel
    joins would cost more than the string factorize they avoid)."""
    import numpy as np
    import pandas as pd

    schema = edges.select(
        F.col("src").alias("url"), F.col("src").alias("cluster_id")
    ).schema

    def cc(pdf: "pd.DataFrame") -> "pd.DataFrame":
        if len(pdf) == 0:
            return pd.DataFrame({"url": [], "cluster_id": []})
        # factorize(sort=True): sorted uniques make label index order ==
        # lexicographic order, so uniques[label] IS the min id — measured
        # fastest of the label-restore variants (hash factorize +
        # groupby-min costs 11-12 s on 800k string ids vs 2.8 s here;
        # byte-wise argsort remap ties at ~3.1 s with more code)
        codes, uniques = pd.factorize(
            pd.concat([pdf["src"], pdf["dst"]], ignore_index=True), sort=True
        )
        n = len(uniques)
        e = len(pdf)
        s, d = codes[:e].astype(np.int64), codes[e:].astype(np.int64)
        label = np.arange(n, dtype=np.int64)
        while True:
            prev = label.copy()
            # pull the smaller label across each edge, both directions
            ls, ld = label[s], label[d]
            m = np.minimum(ls, ld)
            np.minimum.at(label, s, m)
            np.minimum.at(label, d, m)
            # pointer jumping: labels are node indices, so chase them
            label = np.minimum(label, label[label])
            if np.array_equal(label, prev):
                break
        # converge labels fully (label of the label)
        while True:
            nxt = label[label]
            if np.array_equal(nxt, label):
                break
            label = nxt
        return pd.DataFrame({"url": uniques, "cluster_id": uniques[label]})

    return (
        edges.select("src", "dst")
        .coalesce(1)
        .groupBy(F.lit(1).alias("_g"))
        .applyInPandas(lambda pdf: cc(pdf), schema=schema)
    )


def _cc_single_task_hashed(edges: DataFrame) -> DataFrame:
    """Small-graph CC for NON-integral (string) ids: the single-task int
    kernel runs over uid = xxhash64(id) (8-byte rows through Arrow instead
    of url strings), then min-ORIGINAL-id labels are restored outside the
    task with two narrow distributed shuffles:

      comp_u(uid, cluster_uid)          <- int kernel (component identity)
      m = ids x comp_u                  <- per-node (id, cluster_uid)
      labels = min(id) per cluster_uid  <- the label contract
      result = m x labels               <- (url, cluster_id)

    Everything outside the kernel is O(|nodes|) narrow rows, fully
    parallel — the serial tail is just the int kernel. uid collisions
    (n^2/2^65 — ~1e-7 at the 2M-edge threshold) could merge two distinct
    ids; the same documented odds as the pipeline's surrogate keys."""
    uid_edges = edges.select(
        F.xxhash64("src").alias("src"), F.xxhash64("dst").alias("dst")
    )
    comp_u = _cc_single_task(uid_edges).select(
        F.col("url").alias("uid"), F.col("cluster_id").alias("cluster_uid")
    )
    ids = (
        edges.select(F.col("src").alias("id"))
        .union(edges.select(F.col("dst").alias("id")))
        .distinct()
    )
    m = ids.select("id", F.xxhash64("id").alias("uid")).join(comp_u, "uid")
    labels = m.groupBy("cluster_uid").agg(F.min("id").alias("cluster_id"))
    return m.join(labels, "cluster_uid").select(
        F.col("id").alias("url"), "cluster_id"
    )


DEFAULT_SMALL_GRAPH_THRESHOLD = 10_000_000
DEFAULT_STRING_HASH_THRESHOLD = 200_000
# explicit-broadcast bound for the CC member map (2x|edges| rows of two
# ids each) in components_with_exact_map / components_with_singletons:
# keep well under the driver/executor broadcast budget — ~100 MB here.
# Retune with executor memory on a real cluster.
DEFAULT_BROADCAST_EDGE_THRESHOLD = 1_500_000


def connected_components(
    edges: DataFrame,
    max_iterations: int = 50,
    checkpoint_every: int = 1,
    # crossover raised 2M -> 10M in round 4: the hashed int kernel labels
    # a 10M-edge graph in a few seconds (~160 MB through the single task),
    # while the iterative path's per-round scheduling cost ~12 s extra at
    # 2M edges (measured on the 5.44M-page protocol corpus). At 10^12-doc
    # scale the raw edge set still far exceeds this and runs iteratively.
    # On a real cluster retune DOWN to whatever edge count one executor
    # labels faster than the iterative path's ~2 scheduling rounds — the
    # kernel is ~16 B/edge through a single task, so memory bounds it at
    # roughly executor_mem / 32 B (pandas copies) edges.
    small_graph_threshold: int = DEFAULT_SMALL_GRAPH_THRESHOLD,
    # string ids above this edge count take the hashed-kernel + distributed
    # relabel route (the serial string factorize/Arrow tail dominates above
    # it; below it the two relabel joins dominate — measured crossover
    # ~200k on local[8]).
    string_hash_threshold: int = DEFAULT_STRING_HASH_THRESHOLD,
    edge_count_hint: int | None = None,
    edges_distinct: bool = False,
) -> DataFrame:
    """edges(src, dst) -> (url, cluster_id): every node that appears in an
    edge, labeled with the minimum node id of its component.

    edge_count_hint: an upper bound on |edges| known by the caller (e.g.
    parquet footer row count) — skips the count-probe job when it already
    decides the fast path.
    edges_distinct: caller guarantees canonical src<dst distinct edges
    (true for verify-stage output — candidate_pairs dedups) — skips a
    full-edge-set shuffle; the kernels are duplicate-safe either way, the
    distinct only bounds the iterative path's per-round row count."""
    cur = edges.select("src", "dst").where(F.col("src") != F.col("dst"))
    if not edges_distinct:
        cur = cur.distinct()
    if small_graph_threshold:
        # count-only probe decides the path; the fast path then consumes
        # the distinct edges directly (no checkpoint materialization)
        n = (
            edge_count_hint
            if edge_count_hint is not None
            else cur.count()
        )
        if n <= small_graph_threshold:
            from pyspark.sql import types as T

            integral = isinstance(
                cur.schema["src"].dataType,
                (T.LongType, T.IntegerType, T.ShortType, T.ByteType),
            )
            # string ids above the crossover: the hashed kernel + relabel
            # beats the serial string factorize/Arrow cost (measured
            # crossover; below it the extra joins dominate)
            if not integral and n > string_hash_threshold:
                return _cc_single_task_hashed(cur)
            return _cc_single_task(cur)
    cur = cur.localCheckpoint()
    prev_sum = _checksum(cur)
    converged = False
    for it in range(max_iterations):
        cur = _small_star(_large_star(cur))
        if checkpoint_every and (it % checkpoint_every == 0):
            cur = cur.localCheckpoint()
        cur_sum = _checksum(cur)
        if cur_sum == prev_sum:
            converged = True
            break
        prev_sum = cur_sum
    if not converged:
        # O(log^2 n) convergence means 50 rounds covers any realistic graph;
        # exiting without a fixed point would let one node carry two labels
        # and downstream joins would duplicate rows — fail loudly instead.
        import warnings

        warnings.warn(
            f"connected_components did not converge in {max_iterations} "
            "iterations; labels deduped via min-aggregation but the edge "
            "multiset was still changing",
            RuntimeWarning,
            stacklevel=2,
        )

    # converged star graph: src -> component min (dst); roots map to self.
    # groupBy-min (not distinct) so a non-converged multi-label node still
    # yields exactly one row per url.
    members = cur.select(F.col("src").alias("url"), F.col("dst").alias("cluster_id"))
    roots = cur.select(F.col("dst").alias("url"), F.col("dst").alias("cluster_id"))
    return (
        members.union(roots)
        .groupBy("url")
        .agg(F.min("cluster_id").alias("cluster_id"))
    )


def components_with_exact_map(
    edges: DataFrame,
    exact_map: DataFrame,
    edge_count_hint: int | None = None,
    edges_distinct: bool = False,
) -> DataFrame:
    """Cluster expansion through an exact-duplicate map (signature_collapse
    output): CC runs over REPRESENTATIVE edges only; every url then joins
    its rep's cluster. rep is its group's min url, so component minima
    over reps are component minima over urls — labels identical to the
    uncollapsed pipeline (parity-tested). Reps without edges label
    themselves via the left-join coalesce (singleton semantics)."""
    comp = connected_components(
        edges, edge_count_hint=edge_count_hint, edges_distinct=edges_distinct
    )
    comp = comp.select(F.col("url").alias("rep"), "cluster_id").where(
        F.col("rep") != F.col("cluster_id")
    )
    if (
        edge_count_hint is not None
        and edge_count_hint <= DEFAULT_BROADCAST_EDGE_THRESHOLD
    ):
        comp = F.broadcast(comp)
    return exact_map.join(comp, "rep", "left").select(
        "url", F.coalesce("cluster_id", "rep").alias("cluster_id")
    )


def components_with_singletons(
    edges: DataFrame,
    all_ids: DataFrame,
    id_col: str = "url",
    edge_count_hint: int | None = None,
    ids_unique: bool = False,
    edges_distinct: bool = False,
) -> DataFrame:
    """Assign every id a cluster: edge components get min-id labels,
    untouched ids are their own singleton cluster (reference analog: rows
    never matched stay unique, /root/reference/analysis_engine.py:649-663).

    ids_unique: the caller guarantees all_ids carries one row per id
    (true for pipeline stage outputs keyed by url) — skips the distinct's
    full-table shuffle."""
    comp = connected_components(
        edges, edge_count_hint=edge_count_hint, edges_distinct=edges_distinct
    )
    # roots label themselves — the left-join coalesce reconstructs them, so
    # only MEMBER rows (url != cluster_id) need to flow into the join
    # (~40% fewer rows out of the CC stage)
    comp = comp.where(F.col("url") != F.col("cluster_id"))
    if (
        edge_count_hint is not None
        and edge_count_hint <= DEFAULT_BROADCAST_EDGE_THRESHOLD
    ):
        # small-graph regime: the member map is bounded by 2x|edges| rows —
        # broadcast it so the big ids side never shuffles (the CC output is
        # a single partition; a shuffle join would serialize on its one
        # upstream task AND exchange every id)
        comp = F.broadcast(comp)
    ids = all_ids.select(F.col(id_col).alias("url"))
    if not ids_unique:
        ids = ids.distinct()
    return ids.join(comp, "url", "left").select(
        "url", F.coalesce("cluster_id", "url").alias("cluster_id")
    )
