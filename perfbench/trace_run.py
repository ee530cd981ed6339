"""Traced run: per-layer numbers, timed from outside each layer.

Every workload's traced run measures every layer, on that workload's
inputs (its corpus feeds the pipeline layers; both workloads ingest the
seeded epochs and run the curation queries):

  1. session start, and the signature kernel alone on a fixed batch;
  2. the workload's warm-up, then one DedupPipeline run (job group
     ``pipeline``) for the program's own stage_seconds and the e2e time
     the tracing overhead is stated against;
  3. each layer's public function in pipeline order, materialized to the
     run's trace dir:
       extract_stage -> signature_stage -> signature_collapse -> band_keys
       -> candidate_pairs -> verify_stage -> components_with_exact_map
  4. IncrementalDedup.process_batch per epoch against a fresh store;
  5. the curation queries, each checked against its DuckDB oracle, then
     timed once with the noop sink.

Each call sits inside a span and a Spark job group of the same name.
Spark's event log (uncompressed, non-rolling) is on; after the session
stops, its task counters are grouped per job group (eventlog.py).
"""

from __future__ import annotations

import json
import os
import re
import statistics
import time
from concurrent.futures import ThreadPoolExecutor

import eventlog
import inputs
import workloads as W
from spec import PER_LAYER

CHAIN = ("extract", "signatures", "exact_map", "lsh", "verify", "components")
ENGINE_COUNTERS = ("gc_s", "spill_bytes", "task_skew")
CODEGEN_FAILURE = re.compile(r"Failed to compile the generated Java code")
EXCHANGE = re.compile(r"\b(?:Shuffle|Broadcast)?Exchange\b")


class Spans:
    """In-memory spans (name, parent, start, end), one Spark job group
    each; written to ``perfbench/.work/logs`` when the run ends."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.items: list[dict] = []

    def run(self, name: str, fn, parent: str = "trace"):
        self.sc.setJobGroup(name, f"perfbench {name}")
        t = time.perf_counter()
        try:
            return fn()
        finally:
            self.items.append(
                {"name": name, "parent": parent, "start": t, "end": time.perf_counter()}
            )
            self.sc.setJobGroup("-", "")

    def wall(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.items if s["name"] == name)

    def dump(self, path: str) -> None:
        t0 = min((s["start"] for s in self.items), default=0.0)
        rows = [dict(s, start=s["start"] - t0, end=s["end"] - t0) for s in self.items]
        with open(path, "w") as f:
            json.dump(rows, f, indent=1)


def parquet_rows(path: str) -> int:
    import pyarrow.parquet as pq

    return sum(
        pq.read_metadata(os.path.join(path, n)).num_rows
        for n in os.listdir(path)
        if n.endswith(".parquet")
    )


def kernel_rows_per_s() -> float:
    """signatures_from_token_hashes on a fixed seeded batch, in-process,
    one thread, no Spark: median of five timed calls."""
    import numpy as np

    from name_deduplication_python_spark.operators.signatures import (
        signatures_from_token_hashes,
    )

    rng = np.random.default_rng(20_261_017)
    lens = rng.integers(80, 400, size=1024)
    starts = np.zeros(len(lens) + 1, dtype=np.int64)
    np.cumsum(lens, out=starts[1:])
    th = rng.integers(0, 2**63, size=int(starts[-1]), dtype=np.uint64)
    signatures_from_token_hashes(th, starts)  # first call pays numpy set-up
    runs = []
    for _ in range(5):
        t = time.perf_counter()
        signatures_from_token_hashes(th, starts)
        runs.append(time.perf_counter() - t)
    return len(lens) / statistics.median(runs)


def layer_chain(spark, spans: Spans, pages_path: str, out: str) -> dict:
    """The pipeline's layers one by one, each materialized; returns counts
    and the cluster labels."""
    from pyspark.sql import functions as F

    from name_deduplication_python_spark import DEFAULT_CONFIG as C
    from name_deduplication_python_spark.operators.components import (
        components_with_exact_map,
    )
    from name_deduplication_python_spark.operators.extract import extract_stage
    from name_deduplication_python_spark.operators.lsh import band_keys, candidate_pairs
    from name_deduplication_python_spark.operators.signatures import (
        collapse_hash_exprs,
        signature_collapse,
        signature_stage,
    )
    from name_deduplication_python_spark.operators.verify import verify_stage

    def write(df, name):
        path = os.path.join(out, name)
        df.write.mode("overwrite").parquet(path)
        return spark.read.parquet(path), path

    pages = spark.read.parquet(pages_path)
    extracted, p_ext = spans.run(
        "extract", lambda: write(extract_stage(pages), "extracted"), "chain"
    )

    def sign():
        sigs = signature_stage(
            extracted, num_hashes=C["num_hashes"], shingle_k=C["shingle_k"], seed=C["seed"]
        )
        for name, expr in collapse_hash_exprs(id_col="url").items():
            sigs = sigs.withColumn(name, expr)
        return write(sigs, "signatures")

    sigs, p_sig = spans.run("signatures", sign, "chain")
    exact_map, p_map = spans.run(
        "exact_map", lambda: write(signature_collapse(sigs), "exact_map"), "chain"
    )

    # LSH keys on the 8-byte uid of exact-group representatives only
    sigs_u = sigs.withColumn("uid", F.xxhash64("url"))
    rep_uids = exact_map.where(F.col("url") == F.col("rep")).select(
        F.xxhash64("rep").alias("uid")
    )
    stats = {}

    def lsh():
        keys, p_keys = write(
            band_keys(
                sigs_u.join(F.broadcast(rep_uids), "uid", "left_semi"),
                id_col="uid", bands=C["bands"], rows_per_band=C["rows_per_band"],
            ),
            "band_keys",
        )
        pairs_df, obs = candidate_pairs(keys, id_col="uid", bucket_cap=C["bucket_cap"])
        pairs, p_pairs = write(pairs_df, "pairs")
        if parquet_rows(p_pairs):  # empty output skips the Observation
            stats.update(obs.get)
        return pairs, p_keys, p_pairs

    pairs, p_keys, p_pairs = spans.run("lsh", lsh, "chain")
    edges, p_edges = spans.run(
        "verify",
        lambda: write(
            verify_stage(
                pairs, sigs_u, id_col="uid", label_col="url",
                num_hashes=C["num_hashes"], jaccard_threshold=C["jaccard_threshold"],
                simhash_radius=C["simhash_radius"],
            ),
            "edges",
        ),
        "chain",
    )
    n_edges = parquet_rows(p_edges)
    _, p_cl = spans.run(
        "components",
        lambda: write(
            components_with_exact_map(
                edges.select("src", "dst"), exact_map,
                edge_count_hint=n_edges, edges_distinct=True,
            ),
            "clusters",
        ),
        "chain",
    )
    cl = W.read_table(p_cl, ["url", "cluster_id"])
    sizes = cl["cluster_id"].value_counts()
    emap = W.read_table(p_map, ["url", "rep"])
    n_pairs = parquet_rows(p_pairs)
    return {
        "extract.rows": parquet_rows(p_ext),
        "signatures.rows": parquet_rows(p_sig),
        "exact_map.rep_ratio": (emap["url"] == emap["rep"]).sum() / max(len(emap), 1),
        "lsh.band_rows": parquet_rows(p_keys),
        "lsh.candidate_pairs": n_pairs,
        "lsh.max_bucket": stats.get("max_bucket", 0),
        "lsh.hot_buckets": stats.get("n_hot", 0),
        "lsh.full_pairing_cost": stats.get("full_pairing_cost", 0),
        "verify.edges": n_edges,
        "verify.yield": n_edges / max(n_pairs, 1),
        "components.edges_in": n_edges,
        "components.clusters": len(sizes),
        "components.max_cluster": int(sizes.max()) if len(sizes) else 0,
        "labels": dict(zip(cl["url"], cl["cluster_id"])),
    }


def slope(ys: list[float]) -> float:
    """Least-squares slope of ys against their index."""
    n = len(ys)
    if n < 2:
        return 0.0
    xbar, ybar = (n - 1) / 2, statistics.fmean(ys)
    num = sum((i - xbar) * (y - ybar) for i, y in enumerate(ys))
    return num / sum((i - xbar) ** 2 for i in range(n))


def dir_stats(path: str) -> tuple[int, int]:
    files = size = 0
    for d, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(d, n))
    return files, size


def trace_inputs(job: dict) -> dict:
    """The workload's pages for the pipeline layers (for
    ``incremental_ingest``: its corpus before the epoch split), plus the
    ingest epochs and the query tables."""
    data = {"epochs": W.ingest_inputs(job), "sf": W.query_inputs(job)}
    if job["workload"] == "crawl_mixed":
        data["pages"], _, data["truth"], data["texts"] = W.crawl_inputs(job)
    else:
        pages, data["truth"], data["texts"] = inputs.crawl_corpus(job["seed"], W.INGEST_BASE)
        data["pages"] = os.path.join(job["work"], "input", "corpus")
        inputs.write_pages(pages, data["pages"])
    return data


def run(job: dict, rec: W.Record) -> None:
    work = job["work"]
    events = os.path.join(work, "events")
    m: dict[str, float] = {}
    with ThreadPoolExecutor(1) as pool:
        pending = pool.submit(trace_inputs, job)
        t = time.perf_counter()
        spark = W.start_session(work, event_log_dir=events)
        m["session.start_s"] = time.perf_counter() - t
        data = pending.result()
    rec.phase("session_and_inputs")
    try:
        spans = Spans(spark)
        m["signatures.kernel_rows_per_s"] = kernel_rows_per_s()
        if job["workload"] == "crawl_mixed":
            W.run_pipeline(spark, data["pages"], os.path.join(work, "warm"))
            n_epochs = 2  # cold: the store-less and the two-table path
        else:
            W.ingest(spark, os.path.join(work, "warm_store"), data["epochs"][0][:2])
            n_epochs = W.INGEST_EPOCHS
        rec.phase("warm_up")
        _pipeline(spark, spans, data["pages"], work, m)
        chain = spans.run(
            "chain", lambda: layer_chain(spark, spans, data["pages"], os.path.join(work, "trace"))
        )
        labels = chain.pop("labels")
        m.update(chain)
        m["quality.recall"], m["quality.false_merge_rate"] = W.quality_checks(
            rec, labels, data["truth"], data["texts"]
        )
        rec.phase("pipeline_and_chain")
        _ingest(spark, spans, work, data["epochs"], n_epochs, rec, m)
        rec.phase("ingest")
        _queries(spark, spans, data["sf"], rec, m)
        rec.phase("queries")
    finally:
        W.stop_session(spark)
        rec.phase("stop")

    logs = os.path.join(os.path.dirname(work), "logs")
    os.makedirs(logs, exist_ok=True)
    spans.dump(os.path.join(logs, f"{job['workload']}-seed{job['seed']}-spans.json"))
    groups = eventlog.by_job_group(eventlog.log_file(events))
    _layer_counters(groups, spans, m)
    missing = [name for name, _ in PER_LAYER if name not in m]
    rec.check("per_layer_complete", not missing, str(missing))
    for name, _ in PER_LAYER:
        if name in m:
            rec.metric(name, m[name])


def _pipeline(spark, spans: Spans, pages_path: str, work: str, m: dict) -> None:
    secs, pipe = spans.run(
        "pipeline", lambda: W.run_pipeline(spark, pages_path, os.path.join(work, "pipe"))
    )
    m["pipeline.e2e_s"] = secs
    for stage, s in pipe.stage_seconds.items():
        m[f"pipeline.stage_s.{stage}"] = s
    m["pipeline.overhead_s"] = secs - sum(pipe.stage_seconds.values())


def _ingest(spark, spans, work, epochs, n_epochs, rec, m) -> None:
    paths, batches, truth, texts, recrawled = epochs
    store = os.path.join(work, "store")
    times, inc = W.ingest(spark, store, paths[:n_epochs], run_op=spans.run)
    n = len(times)
    rec.ops(n)
    rec.op_times = times
    m["incremental.latency_slope_s_per_epoch"] = slope(times)
    m["incremental.store_files"], m["incremental.store_bytes"] = dir_stats(store)
    cross = 0
    for e in range(1, n):
        ed = W.epoch_edges(store, e)
        fresh = set(batches[e]["url"])
        cross += int((~(ed["src"].isin(fresh) & ed["dst"].isin(fresh))).sum())
    m["incremental.cross_pairs"] = cross
    W.ingest_quality(rec, inc, batches[:n], truth, texts, recrawled)


def _queries(spark, spans, sf: str, rec, m) -> None:
    from name_deduplication_python_spark.plans.queries import ORACLES, QUERIES

    log = os.environ["PERFBENCH_LOG"]
    log_start = os.path.getsize(log)
    con = W.duckdb_views(sf)
    for name in W.QUERY_SET:  # cold pass, collected and checked
        W.oracle_check(rec, name, QUERIES[name](spark, sf).toPandas(), con, ORACLES[name])
    con.close()
    n_exchanges = 0
    for name in W.QUERY_SET:
        plan = QUERIES[name](spark, sf)._jdf.queryExecution().executedPlan().toString()
        n_exchanges += len(EXCHANGE.findall(plan))

        def noop():
            QUERIES[name](spark, sf).write.format("noop").mode("overwrite").save()

        t = time.perf_counter()
        spans.run(f"query.{name}", noop)
        m[f"query.{name}_s"] = time.perf_counter() - t
    rec.ops(len(W.QUERY_SET))
    m["queries.exchanges"] = n_exchanges
    # driver log lines written while the queries were planned and run
    with open(log, "rb") as f:
        f.seek(log_start)
        text = f.read().decode(errors="replace")
    m["queries.codegen_fallbacks"] = len(CODEGEN_FAILURE.findall(text))


def _sum_groups(groups: dict, prefix: str) -> dict:
    gs = [g for name, g in groups.items() if name.startswith(prefix)]
    out = {c: sum(g.get(c, 0.0) for g in gs) for c in ("gc_s", "spill_bytes", "jobs", "input_bytes")}
    out["task_skew"] = max((g.get("task_skew", 1.0) for g in gs), default=1.0)
    out["n"] = len(gs)
    return out


def _layer_counters(groups: dict, spans: Spans, m: dict) -> None:
    for layer in CHAIN:
        g = groups.get(layer, {})
        m[f"{layer}.wall_s"] = spans.wall(layer)
        for c in ENGINE_COUNTERS:
            m[f"{layer}.{c}"] = g.get(c, 0.0)
    for layer in ("extract", "signatures"):
        m[f"{layer}.python_worker_s"] = groups.get(layer, {}).get("python_worker_s", 0.0)
    sig = groups.get("signatures", {})
    # rows per task-second inside Spark vs the bare kernel's rows/s
    spark_rate = m["signatures.rows"] / sig["task_s"] if sig.get("task_s") else 0.0
    m["signatures.arrow_gap"] = m["signatures.kernel_rows_per_s"] / spark_rate if spark_rate else 0.0
    m["lsh.shuffle_write_bytes"] = groups.get("lsh", {}).get("shuffle_write_bytes", 0)
    m["verify.shuffle_read_bytes"] = groups.get("verify", {}).get("shuffle_read_bytes", 0)
    p = groups.get("pipeline", {})
    m["pipeline.jobs"] = p.get("jobs", 0)
    m["pipeline.tasks"] = p.get("tasks", 0)
    m["pipeline.bytes_written"] = p.get("output_bytes", 0)
    m["trace.overhead_ratio"] = sum(spans.wall(layer) for layer in CHAIN) / m["pipeline.e2e_s"]
    for layer, prefix in (("incremental", "ingest.epoch="), ("queries", "query.")):
        s = _sum_groups(groups, prefix)
        for c in ENGINE_COUNTERS:
            m[f"{layer}.{c}"] = s[c]
        if layer == "incremental":
            m["incremental.jobs_per_batch"] = s["jobs"] / max(s["n"], 1)
            m["incremental.input_bytes_per_batch"] = s["input_bytes"] / max(s["n"], 1)
