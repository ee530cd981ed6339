"""Workload drivers: set-up, warm-up, the timed loop, and the checks.

Each driver fills a ``Record``: end-to-end metrics (untraced run) and one
check per correctness gate. ``setup_s`` runs from the worker's first line
to the end of the warm-up, so it covers imports, the gateway JVM launch,
session start, input generation and warm-up.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import statistics
import time
import traceback

import inputs
from spec import UNITS

CORES = 4
JACCARD_THETA = 0.80  # DEFAULT_CONFIG["jaccard_threshold"]
RECALL_GATE = 0.99
FALSE_MERGE_GATE = 0.5  # sanity bound; the default OR-tier merges ~0.1-0.2

CRAWL_BASE = 20000  # ~34k pages, the sf0.1-shaped corpus
CRAWL_MIN_OPS = 3
INGEST_BASE = 2000  # ~3.4k pages over INGEST_EPOCHS batches
INGEST_EPOCHS = 3  # epoch 0 untimed, epochs 1-2 timed
INGEST_RECRAWL = 0.03
INGEST_MIN_OPS = 1

# headline curation queries (bench.HEADLINE_QUERIES) whose oracles are
# plain SQL over the tables, one per plan family: hash groupBy, window
# ranking, ANN top-k, scan aggregate, star-schema join, event windows,
# map-only quality filter, broadcast decontamination, URL/PSL codegen
QUERY_SET = (
    "exact_dedup",
    "rank_in_lang",
    "ann_topk",
    "revenue_by_flag",
    "top_customers",
    "events_windowed",
    "gopher_quality_flags",
    "decontaminated_docs",
    "url_filtered_docs",
)


class Record:
    """Counts every operation and check attempted; collects metrics."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.metrics: dict[str, dict] = {}
        self.notes: list[str] = []
        self.op_times: list[float] = []
        self.phases: dict[str, float] = {}
        self._mark = time.perf_counter()

    def phase(self, name: str) -> None:
        """Close the current phase (wall time since the previous mark)."""
        now = time.perf_counter()
        self.phases[name] = round(now - self._mark, 3)
        self._mark = now

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.notes.append(f"check failed: {name} {detail}".strip())

    def ops(self, n: int) -> None:
        self.attempted += n

    def metric(self, name: str, value: float) -> None:
        self.metrics[name] = {"value": float(value), "unit": UNITS[name]}

    def as_dict(self) -> dict:
        return {
            "correct": self.failed == 0,
            "attempted": max(1, self.attempted),
            "failed": self.failed,
            "metrics": self.metrics,
            "notes": self.notes,
            "op_times": [round(t, 3) for t in self.op_times],
            "phases": self.phases,
        }


# ---- session ---------------------------------------------------------------


def start_session(work: str, event_log_dir: str | None = None):
    """local[4] session with every scratch path inside ``work`` and the
    console progress bar off (its \\r lines swallow printed output)."""
    from name_deduplication_python_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return get_spark(app_name="perfbench", cores=CORES, extra_conf=conf)


def session_and_inputs(job: dict, make_inputs, event_log_dir: str | None = None):
    """Generate inputs on a thread while the gateway JVM starts (the
    launch mostly waits on the child JVM, so the two overlap)."""
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(1) as pool:
        data = pool.submit(make_inputs, job)
        spark = start_session(job["work"], event_log_dir)
        return spark, data.result()


def stop_session(spark) -> None:
    """Stop Spark, then the gateway JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=20)
        except Exception:
            proc.kill()
            proc.wait()


# ---- shared helpers ----------------------------------------------------------


def timed_loop(seconds: float, op, min_ops: int) -> list[float]:
    """Call ``op(i)`` (which returns its own timed seconds) until the wall
    window closes, at least ``min_ops`` times."""
    times: list[float] = []
    end = time.perf_counter() + seconds
    while len(times) < min_ops or time.perf_counter() < end:
        times.append(op(len(times)))
    return times


def read_table(path: str, columns: list[str]):
    import pyarrow.parquet as pq

    return pq.read_table(path, columns=columns).to_pandas()


def pairs_checksum(a, b) -> str:
    """Order-independent digest of (a, b) string pairs."""
    rows = sorted(f"{x}\t{y}" for x, y in zip(a, b))
    return hashlib.sha256("\n".join(rows).encode()).hexdigest()[:16]


def _shingles(text: str, k: int = 5) -> frozenset:
    toks = text.split(" ")
    if len(toks) < k:
        return frozenset([tuple(toks)])
    return frozenset(tuple(toks[i : i + k]) for i in range(len(toks) - k + 1))


def planted_quality(label: dict, truth, texts: dict) -> tuple[float, float, int, int]:
    """(recall, false_merge_rate, n_dup, n_far) over planted pairs, judged
    by exact 5-shingle Jaccard of the true texts: a planted pair with
    J >= theta must share a cluster; a planted near50 pair with J < theta
    should not."""
    hit = dup = merged = far = 0
    cache: dict[str, frozenset] = {}

    def sh(u: str) -> frozenset:
        if u not in cache:
            cache[u] = _shingles(texts[u])
        return cache[u]

    for a, b, kind in zip(truth["src"], truth["dst"], truth["kind"]):
        if a not in label or b not in label:
            continue
        sa, sb = sh(a), sh(b)
        inter = len(sa & sb)
        j = inter / (len(sa) + len(sb) - inter)
        same = label[a] == label[b]
        if j >= JACCARD_THETA:
            dup += 1
            hit += same
        elif kind == "near50":
            far += 1
            merged += same
    return hit / max(dup, 1), merged / max(far, 1), dup, far


def union_find_labels(nodes, src, dst) -> dict:
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in zip(src, dst):
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def quality_checks(rec: Record, label: dict, truth, texts: dict) -> tuple[float, float]:
    recall, fmr, n_dup, n_far = planted_quality(label, truth, texts)
    rec.check("recall", recall >= RECALL_GATE and n_dup > 0,
              f"{recall:.4f} over {n_dup} planted pairs")
    rec.check("false_merge_rate", fmr <= FALSE_MERGE_GATE,
              f"{fmr:.4f} over {n_far} near50 pairs")
    return recall, fmr


# ---- crawl_mixed ---------------------------------------------------------------


def crawl_inputs(job: dict):
    pages, truth, texts = inputs.crawl_corpus(job["seed"], CRAWL_BASE)
    corpus = os.path.join(job["work"], "input", "corpus")
    inputs.write_pages(pages, corpus)
    return corpus, len(pages), truth, texts


def run_pipeline(spark, corpus: str, workdir: str):
    """One default-config DedupPipeline run; returns (seconds, pipeline)."""
    from name_deduplication_python_spark.pipeline import DedupConfig, DedupPipeline

    pages = spark.read.parquet(corpus)
    t = time.perf_counter()
    pipe = DedupPipeline(spark, workdir, DedupConfig())
    pipe.run(pages)
    return time.perf_counter() - t, pipe


def clusters_checksum(workdir: str):
    cl = read_table(os.path.join(workdir, "clusters"), ["url", "cluster_id"])
    return cl, pairs_checksum(cl["url"], cl["cluster_id"])


def crawl_mixed(spark, job: dict, data, rec: Record, t0: float) -> list[float]:
    work = job["work"]
    corpus, n_pages, truth, texts = data
    # warm-up: one untimed run on the corpus itself (the first run in a JVM
    # pays class loading, codegen, Python worker start and JIT)
    run_pipeline(spark, corpus, os.path.join(work, "warm"))
    cl, ref = clusters_checksum(os.path.join(work, "warm"))
    rec.phase("warm_up")
    rec.metric("setup_s", time.perf_counter() - t0)

    def op(i: int) -> float:
        wd = os.path.join(work, f"run{i}")
        secs, _ = run_pipeline(spark, corpus, wd)
        _, digest = clusters_checksum(wd)
        rec.check(f"run{i}_clusters_checksum", digest == ref, f"{digest} vs {ref}")
        shutil.rmtree(wd, ignore_errors=True)
        return secs

    times = timed_loop(job["seconds"], op, min_ops=CRAWL_MIN_OPS)
    rec.phase("measure")
    rec.ops(len(times))
    rec.metric("throughput_per_s", statistics.median(n_pages / t for t in times))
    # every timed run gave the warm-up's clusters; judge those
    quality_checks(rec, dict(zip(cl["url"], cl["cluster_id"])), truth, texts)
    rec.check("cluster_rows", len(cl) == n_pages, f"{len(cl)} != {n_pages}")
    rec.phase("checks")
    return times


# ---- incremental_ingest ----------------------------------------------------------


def ingest_inputs(job: dict):
    batches, truth, texts, recrawled = inputs.ingest_epochs(
        job["seed"], INGEST_BASE, INGEST_EPOCHS, INGEST_RECRAWL
    )
    paths = [os.path.join(job["work"], "input", f"epoch{e:02d}") for e in range(len(batches))]
    for b, p in zip(batches, paths):
        inputs.write_pages(b, p, files=2)
    return paths, batches, truth, texts, recrawled


def ingest(spark, store: str, paths: list[str], run_op=None):
    """Ingest the epochs in order into a fresh ``store``; returns (batch
    seconds, the IncrementalDedup). ``run_op(label, fn)`` wraps each batch
    (the traced run's spans)."""
    from name_deduplication_python_spark.streaming.incremental import IncrementalDedup

    inc = IncrementalDedup(spark, store)
    times = []
    for e, path in enumerate(paths):
        pages = spark.read.parquet(path)
        t = time.perf_counter()
        if run_op is None:
            inc.process_batch(pages, e)
        else:
            run_op(f"ingest.epoch={e}", lambda: inc.process_batch(pages, e))
        times.append(time.perf_counter() - t)
    return times, inc


def epoch_edges(store: str, e: int):
    return read_table(os.path.join(store, "edges", f"epoch={e}"), ["src", "dst"])


def edges_checksums(store: str, n_epochs: int) -> list[str]:
    out = []
    for e in range(n_epochs):
        ed = epoch_edges(store, e)
        out.append(pairs_checksum(ed["src"], ed["dst"]))
    return out


def incremental_ingest(spark, job: dict, data, rec: Record, t0: float) -> list[float]:
    """One operation ingests every epoch into a fresh store; epoch 0 takes
    the store-less path and is not timed, epochs 1.. are, so every
    operation does the same work through the two-table path. Each store's
    per-epoch edges must match the previous store's (the warm-up store's
    first two epochs for the first operation)."""
    work = job["work"]
    paths, batches, truth, texts, recrawled = data
    # warm-up: the first two epochs, through the store-less and the
    # two-table path, into a scratch store
    warm = os.path.join(work, "warm_store")
    ingest(spark, warm, paths[:2])
    sums = [edges_checksums(warm, 2)]
    shutil.rmtree(warm, ignore_errors=True)
    rec.phase("warm_up")
    rec.metric("setup_s", time.perf_counter() - t0)

    n_timed = sum(len(b) for b in batches[1:])
    rates: list[float] = []

    def op(i: int) -> float:
        store = os.path.join(work, f"store{i}")
        times, inc = ingest(spark, store, paths)
        digests = edges_checksums(store, len(paths))
        prev = sums[-1]
        rec.check(f"store{i}_edges_checksums", digests[: len(prev)] == prev,
                  f"{digests} vs {prev}")
        if i == 0:
            ingest_quality(rec, inc, batches, truth, texts, recrawled)
            rec.check("edges_nonempty", len(epoch_edges(store, 0)) > 0)
        sums.append(digests)
        shutil.rmtree(store, ignore_errors=True)
        rates.append(n_timed / sum(times[1:]))
        return sum(times[1:])

    times = timed_loop(job["seconds"], op, min_ops=INGEST_MIN_OPS)
    rec.phase("measure")
    rec.ops(len(times) * len(paths))
    rec.metric("throughput_per_s", statistics.median(rates))
    return times


def ingest_quality(rec, inc, batches, truth, texts, recrawled):
    """Planted pairs (neither side re-crawled) must be connected by the
    current edge set."""
    cur = inc.edges().select("src", "dst").toPandas()
    urls = {u for bt in batches for u in bt["url"]}
    label = union_find_labels(urls, cur["src"], cur["dst"])
    keep = ~(truth["src"].isin(recrawled) | truth["dst"].isin(recrawled))
    return quality_checks(rec, label, truth[keep], texts)


# ---- curation queries (traced run) -----------------------------------------------


def _canon(df):
    """Column-sorted, rounded, row-sorted frame (the oracle-parity rule)."""
    import pandas as pd

    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif str(df[c].dtype).startswith("float"):
            df[c] = df[c].round(4)
        else:
            try:
                df[c] = pd.to_numeric(df[c])
            except (ValueError, TypeError):
                df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def oracle_check(rec: Record, name: str, got, con, sql: str) -> None:
    import pandas as pd

    try:
        want = _canon(con.execute(sql).df())
        got = _canon(got)
        assert list(got.columns) == list(want.columns), "columns differ"
        assert len(got) == len(want), f"rows {len(got)} vs {len(want)}"
        pd.testing.assert_frame_equal(got, want, check_dtype=False, atol=1e-4)
        rec.check(f"oracle:{name}", True)
    except Exception as e:  # any mismatch is one failed check
        rec.check(f"oracle:{name}", False, str(e).splitlines()[0][:200])


def query_inputs(job: dict) -> str:
    sf = os.path.join(job["work"], "input", "sfbench")
    inputs.curation_tables(job["seed"], sf)
    return sf


def duckdb_views(sf: str):
    import duckdb

    con = duckdb.connect()
    for f in sorted(os.listdir(sf)):
        con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{os.path.join(sf, f)}'")
    return con


# workload -> (input generator, driver)
WORKLOADS = {
    "crawl_mixed": (crawl_inputs, crawl_mixed),
    "incremental_ingest": (ingest_inputs, incremental_ingest),
}


def run(job: dict, t0: float) -> dict:
    rec = Record()
    rec.phases["imports"] = round(time.perf_counter() - t0, 3)
    spark = None
    try:
        if job["trace"]:
            import trace_run

            trace_run.run(job, rec)
        else:
            make_inputs, drive = WORKLOADS[job["workload"]]
            spark, data = session_and_inputs(job, make_inputs)
            rec.phase("session_and_inputs")
            rec.op_times = drive(spark, job, data, rec, t0)
    except Exception:
        rec.check("workload_completed", False, traceback.format_exc()[-1500:])
    finally:
        if spark is not None:
            try:
                stop_session(spark)
                rec.phase("stop")
            except Exception:
                rec.check("session_stopped", False, traceback.format_exc()[-500:])
    return rec.as_dict()
