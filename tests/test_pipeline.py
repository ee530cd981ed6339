"""Pipeline checkpoint/resume/idempotency tests (SURVEY §5 item 6,
north_rule 'resumable from checkpoint with per-partition lineage')."""

from __future__ import annotations

import os
import shutil

import pytest

from name_deduplication_python_spark.pipeline import DedupConfig, DedupPipeline
from name_deduplication_python_spark.sources.corpus import (
    corpus_to_spark,
    generate_corpus,
)


@pytest.fixture()
def workdir(tmp_path):
    return str(tmp_path / "dedup_run")


def _run(spark, workdir):
    pages, _ = generate_corpus(n_base=60, seed=11)
    df = corpus_to_spark(spark, pages)
    pipe = DedupPipeline(spark, workdir, DedupConfig())
    clusters = pipe.run(df)
    return pipe, clusters.toPandas().sort_values("url").reset_index(drop=True)


def test_pipeline_end_to_end(spark, workdir):
    pipe, cl = _run(spark, workdir)
    assert len(cl) > 0
    assert set(cl.columns) == {"url", "cluster_id"}
    # every stage materialized with a _SUCCESS marker
    for stage in DedupPipeline.STAGES:
        assert os.path.exists(os.path.join(workdir, stage, "_SUCCESS")), stage
    # lineage rows present for every stage
    lineage = spark.read.parquet(os.path.join(workdir, "metrics_lineage"))
    stages = {r["stage"] for r in lineage.select("stage").distinct().collect()}
    assert stages == set(DedupPipeline.STAGES)
    assert lineage.where("n_rows < 0").count() == 0
    # summary arithmetic consistent
    s = pipe.summary()
    assert s["total"] == len(cl)
    assert s["in_dup_clusters"] + s["unique"] == s["total"]


@pytest.mark.parametrize("fuse_stages", [False, True], ids=["staged", "fused"])
def test_pipeline_optional_stages(spark, tmp_path, fuse_stages):
    """The optional stages run in both layouts; the fused one feeds them
    the lazy extract, as `extracted` is not persisted there."""
    pages, _ = generate_corpus(n_base=40, seed=12)
    df = corpus_to_spark(spark, pages)
    cfg = DedupConfig(
        fuse_stages=fuse_stages,
        extra={"substring_pass": True, "audit": True, "audit_fraction": 1.0},
    )
    workdir = str(tmp_path / "opt_run")
    pipe = DedupPipeline(spark, workdir, cfg)
    pipe.run(df)
    import os as _os

    assert _os.path.exists(_os.path.join(workdir, "substring_pairs", "_SUCCESS"))
    assert _os.path.exists(_os.path.join(workdir, "audit", "_SUCCESS"))
    # boilerplate family (every 11th base doc) shares >95-char runs
    subs = spark.read.parquet(_os.path.join(workdir, "substring_pairs"))
    assert subs.count() > 0
    # honest edges -> audit is clean (exact dups + tight near-dups)
    audit = spark.read.parquet(_os.path.join(workdir, "audit"))
    bad = audit.where("issue = 'exact-status-but-texts-differ'").count()
    assert bad == 0


def test_pipeline_rerun_is_idempotent(spark, workdir):
    _, cl1 = _run(spark, workdir)
    _, cl2 = _run(spark, workdir)  # all stages skipped, read from checkpoint
    assert cl1.equals(cl2)


def test_pipeline_resume_from_partial(spark, workdir):
    _, cl1 = _run(spark, workdir)
    # simulate a crash after stage 2: drop downstream outputs, resume
    for stage in ("pairs", "edges", "clusters"):
        shutil.rmtree(os.path.join(workdir, stage))
    _, cl2 = _run(spark, workdir)
    assert cl1.equals(cl2)


def test_pipeline_interrupted_stage_is_recomputed(spark, workdir):
    _, cl1 = _run(spark, workdir)
    # a stage dir without _SUCCESS (mid-write crash) must be recomputed
    marker = os.path.join(workdir, "edges", "_SUCCESS")
    os.remove(marker)
    shutil.rmtree(os.path.join(workdir, "clusters"))
    _, cl2 = _run(spark, workdir)
    assert os.path.exists(marker)
    assert cl1.equals(cl2)


def test_exact_collapse_clusters_identical(spark, tmp_path):
    """exact_collapse=True must produce byte-identical clusters: identical
    -signature docs were all Exact-tier edges before, and rep = group min
    url keeps every component's min-url label. Fixture adds a 30-copy
    identical family (the collect_list pathology ADVICE r2 flagged) on
    top of the standard corpus."""
    import pandas as pd

    from name_deduplication_python_spark.sources.corpus import (
        corpus_to_spark,
        generate_corpus,
    )

    pages, _ = generate_corpus(n_base=120, seed=51)
    fam = pages.iloc[:1].copy()
    clones = pd.concat([fam] * 30, ignore_index=True)
    clones["url"] = [f"https://example.org/clone/{i:04d}" for i in range(30)]
    pages = pd.concat([pages, clones], ignore_index=True)
    df = corpus_to_spark(spark, pages).cache()

    on = DedupPipeline(
        spark, str(tmp_path / "on"), DedupConfig(exact_collapse=True)
    ).run(df)
    off = DedupPipeline(
        spark, str(tmp_path / "off"), DedupConfig(exact_collapse=False)
    ).run(df)
    a = {r.url: r.cluster_id for r in on.collect()}
    b = {r.url: r.cluster_id for r in off.collect()}
    assert a == b
    # the clone family is one cluster labeled by its min url
    fam_urls = [f"https://example.org/clone/{i:04d}" for i in range(30)]
    labels = {a[u] for u in fam_urls}
    assert len(labels) == 1
    # collapse actually shrank the candidate side: pairs hold rep uids only
    import pyarrow.parquet as pq
    import glob, os

    n_pairs_on = sum(
        pq.read_metadata(p).num_rows
        for p in glob.glob(os.path.join(str(tmp_path / "on"), "pairs", "*.parquet"))
    )
    n_pairs_off = sum(
        pq.read_metadata(p).num_rows
        for p in glob.glob(os.path.join(str(tmp_path / "off"), "pairs", "*.parquet"))
    )
    assert n_pairs_on < n_pairs_off


def test_exact_collapse_empty_docs_stay_singletons(spark, tmp_path):
    """Zero-shingle (empty-text) docs must NOT collapse into one group."""
    import datetime as dt

    import pandas as pd

    rows = [
        {"url": f"u{i}", "warc_ts": dt.datetime(2024, 1, 1), "html": None,
         "text": "", "lang": "en"}
        for i in range(5)
    ]
    from name_deduplication_python_spark.schemas import WEB_PAGES

    df = spark.createDataFrame(pd.DataFrame(rows), WEB_PAGES)
    clusters = DedupPipeline(
        spark, str(tmp_path / "w"), DedupConfig(exact_collapse=True)
    ).run(df)
    labs = {r.url: r.cluster_id for r in clusters.collect()}
    assert len(set(labs.values())) == 5  # each its own singleton


def test_allocate_run_dir_scheme(spark, tmp_path):
    """S10: same config resumes the same dir; changed config gets a
    sibling; tampered dirs fall through to a numbered sibling."""
    from name_deduplication_python_spark.pipeline import allocate_run_dir

    base = str(tmp_path / "runs")
    c1 = DedupConfig()
    p1 = allocate_run_dir(base, c1)
    # pipeline writes its fingerprint; a second allocation resumes it
    DedupPipeline(spark, p1, c1)
    assert allocate_run_dir(base, c1) == p1
    # different config -> different dir, same base
    c2 = DedupConfig(bands=20, rows_per_band=6)
    p2 = allocate_run_dir(base, c2)
    assert p2 != p1 and os.path.dirname(p2) == base
    DedupPipeline(spark, p2, c2)
    # tamper: overwrite p1's fingerprint -> next alloc claims a sibling
    import json as _json

    with open(os.path.join(p1, "config.json"), "w") as f:
        _json.dump({"bogus": 1}, f)
    p3 = allocate_run_dir(base, c1)
    assert p3 not in (p1, p2) and p3.startswith(p1)


def test_fused_pipeline_resumes_from_signatures(spark, tmp_path):
    """fuse_stages resume granularity: a run with signatures done but
    edges missing must reuse the signature checkpoint (byte-stable files)
    and complete from there."""
    import shutil

    pages, _ = generate_corpus(n_base=50, seed=61)
    df = corpus_to_spark(spark, pages).cache()
    wd = str(tmp_path / "fused")
    cfg = DedupConfig(fuse_stages=True)
    first = DedupPipeline(spark, wd, cfg).run(df).toPandas()
    sig_dir = os.path.join(wd, "signatures")
    mtimes = {f: os.path.getmtime(os.path.join(sig_dir, f)) for f in os.listdir(sig_dir)}
    # simulate a crash after signatures: edges + clusters lost
    shutil.rmtree(os.path.join(wd, "edges"))
    shutil.rmtree(os.path.join(wd, "clusters"))
    second = DedupPipeline(spark, wd, cfg).run(df).toPandas()
    assert mtimes == {
        f: os.path.getmtime(os.path.join(sig_dir, f)) for f in os.listdir(sig_dir)
    }, "signature checkpoint must not be recomputed"
    a = first.sort_values("url").reset_index(drop=True)
    b = second.sort_values("url").reset_index(drop=True)
    assert a.equals(b)


def test_zero_pair_bucket_stats_both_layouts(spark, tmp_path):
    """A corpus with no shared bucket still gets its bucket stats: the
    staged pairs write populates the Observation through the kernel's
    stats rows, and the fused zero-edge write, whose observing stage AQE
    prunes, re-runs the pair-free pairing for them."""
    import json

    from name_deduplication_python_spark.schemas import WEB_PAGES

    rows = [
        (f"u{i}", None, None, f"unique page {i} words w{i}a w{i}b w{i}c w{i}d w{i}e", "en")
        for i in range(12)
    ]
    df = spark.createDataFrame(rows, WEB_PAGES)
    stats = []
    for fused in (False, True):
        wd = str(tmp_path / str(fused))
        DedupPipeline(spark, wd, DedupConfig(fuse_stages=fused)).run(df)
        with open(os.path.join(wd, "bucket_stats.json")) as f:
            stats.append(json.load(f))
    assert stats[0] == stats[1]
    assert stats[0]["n_buckets"] == stats[0]["n_singleton"] == 12 * 25
    assert stats[0]["max_bucket"] == 1.0 and stats[0]["full_pairing_cost"] == 0.0


def test_fused_and_staged_clusters_identical(spark, tmp_path):
    """fuse_stages only selects which stages persist, so the two layouts
    must give the same clusters, the same edges table and the same
    bucket_stats.json (read after the pairs write when staged, after the
    edges write when fused); the fused layout persists exactly
    signatures, exact_map, edges and clusters."""
    import json

    pages, _ = generate_corpus(n_base=100, seed=71)
    df = corpus_to_spark(spark, pages).cache()
    out = {}
    for name, fused in (("f", True), ("s", False)):
        wd = str(tmp_path / name)
        DedupPipeline(spark, wd, DedupConfig(fuse_stages=fused)).run(df)
        with open(os.path.join(wd, "bucket_stats.json")) as f:
            stats = json.load(f)
        clusters = spark.read.parquet(os.path.join(wd, "clusters")).collect()
        edges = spark.read.parquet(os.path.join(wd, "edges")).collect()
        out[name] = (
            {r.url: r.cluster_id for r in clusters},
            {tuple(r) for r in edges},
            stats,
        )
    clusters, edges, stats = out["f"]
    assert clusters == out["s"][0]
    assert edges and edges == out["s"][1]
    assert stats["n_buckets"] > 0 and stats == out["s"][2]

    fused_stages = {"signatures", "exact_map", "edges", "clusters"}
    wd = str(tmp_path / "f")
    assert {
        n for n in DedupPipeline.STAGES if os.path.exists(os.path.join(wd, n))
    } == fused_stages
    lineage = spark.read.parquet(os.path.join(wd, "metrics_lineage"))
    got = {r.stage for r in lineage.select("stage").distinct().collect()}
    assert got == fused_stages


def test_table_format_dispatch(spark, tmp_path):
    """table_format is the Iceberg swap point: 'parquet' (default) resumes
    exactly as before; 'iceberg' without the runtime jars fails with a
    clear actionable error at the first stage write, and is part of the
    config fingerprint."""
    import pytest as _pytest

    pages, _ = generate_corpus(n_base=30, seed=91)
    df = corpus_to_spark(spark, pages).cache()
    wd = str(tmp_path / "ice")
    with _pytest.raises(RuntimeError, match="iceberg-spark-runtime"):
        DedupPipeline(
            spark, wd, DedupConfig(table_format="iceberg")
        ).run(df)
    # same workdir, parquet config: fingerprint mismatch refuses
    with _pytest.raises(ValueError, match="different DedupConfig"):
        DedupPipeline(spark, wd, DedupConfig())


def _iceberg_jar_present(spark) -> bool:
    try:
        spark.sparkContext._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Exception:
        return False


def test_iceberg_e2e_resume_conditional(spark, tmp_path):
    """VERDICT r4 #7: full pipeline + resume on table_format='iceberg',
    gated on the runtime jar. In a jar-less environment (this sandbox)
    the test SKIPS — green either way. To run it for real, start the
    session with the matching runtime pin, e.g.

        spark.jars.packages=org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:1.10.0

    (artifact naming: iceberg-spark-runtime-<sparkMajor.minor>_<scala>;
    pick the line matching your Spark — 4.1.x sessions need the first
    Iceberg release that ships a -4.1 runtime). The pipeline writes
    through a per-workdir hadoop catalog (warehouse=workdir), V2 writer
    createOrReplace, so first-write table creation works path-free."""
    if not _iceberg_jar_present(spark):
        pytest.skip("iceberg-spark-runtime jar not on the session classpath")
    pages, _ = generate_corpus(n_base=40, seed=17)
    df = corpus_to_spark(spark, pages).cache()
    wd = str(tmp_path / "ice_e2e")
    pipe = DedupPipeline(spark, wd, DedupConfig(table_format="iceberg"))
    cl1 = pipe.run(df).toPandas().sort_values("url").reset_index(drop=True)
    assert len(cl1) > 0
    # snapshot commit marker present for every stage table
    for stage in ("signatures", "edges", "clusters"):
        assert os.path.exists(
            os.path.join(wd, "stages", stage, "metadata", "version-hint.text")
        ), stage
    # resume: second run must reuse committed snapshots (no stage re-write)
    pipe2 = DedupPipeline(spark, wd, DedupConfig(table_format="iceberg"))
    cl2 = pipe2.run(df).toPandas().sort_values("url").reset_index(drop=True)
    assert pipe2.stage_seconds == {}  # nothing recomputed
    assert cl1.equals(cl2)


def test_corpus_truth_pairs_matches_full_generation():
    """The bench recall metrics rely on corpus_truth_pairs regenerating a
    build_corpus_parquet corpus' planted pairs WITHOUT materializing
    html/pages — all rng draws deciding pair structure happen before the
    html pass, so the pair sets must be identical (including across the
    chunk seed/offset scheme)."""
    import pandas as pd

    from name_deduplication_python_spark.sources.corpus import (
        corpus_truth_pairs,
        generate_corpus,
    )

    n_base, chunk = 900, 400  # 3 chunks, last partial
    want = []
    for i in range(3):
        nb = min(chunk, n_base - i * chunk)
        _, t = generate_corpus(
            n_base=nb, seed=42 + i, url_offset=i * chunk * 2,
            min_tokens=80, max_tokens=200,
        )
        want.append(t)
    want = pd.concat(want, ignore_index=True)
    got = corpus_truth_pairs(
        n_base, seed=42, chunk_base=chunk, min_tokens=80, max_tokens=200,
        processes=2,
    )
    assert got.equals(want)


def test_round5_knobs_are_fingerprinted(spark, tmp_path):
    """The precision-tier floor and the optional stages' ``extra``
    settings are part of the config fingerprint — a retune can never
    silently reuse checkpoints computed under the old values."""
    import pytest as _pytest

    pages, _ = generate_corpus(n_base=20, seed=5)
    df = corpus_to_spark(spark, pages)
    wd = str(tmp_path / "fp")
    DedupPipeline(spark, wd, DedupConfig()).run(df)
    for cfg in (
        DedupConfig(hamming_est_floor=0.635),
        DedupConfig(extra={"substring_gram": 32}),
    ):
        with _pytest.raises(ValueError, match="different DedupConfig"):
            DedupPipeline(spark, wd, cfg)


def test_workdir_without_stage_schema_version_is_refused(tmp_path):
    """A run dir whose config.json predates the stage-schema version
    (same DedupConfig, no version key) holds stage tables of an older
    layout — e.g. signatures without the collapse hash — and must be
    refused, not resumed."""
    import json
    from dataclasses import asdict

    wd = tmp_path / "old"
    wd.mkdir()
    (wd / "config.json").write_text(json.dumps(asdict(DedupConfig())))
    with pytest.raises(ValueError, match="different DedupConfig"):
        DedupPipeline(None, str(wd), DedupConfig())


def test_stage_read_back_starts_no_job(spark, tmp_path):
    """Each materialized stage is read back with the schema it was written
    with: no parquet schema-inference job, and the same schema inference
    would give."""
    import uuid

    pages, _ = generate_corpus(n_base=20, seed=5)
    wd = str(tmp_path / "rb")
    pipe = DedupPipeline(spark, wd, DedupConfig())
    sc = spark.sparkContext
    group = f"read-back-{uuid.uuid4().hex}"
    read, back = pipe._read_stage, {}

    def counted_read(stage, *args):
        sc.setJobGroup(group, "stage read-back")
        try:
            back[stage] = read(stage, *args)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return back[stage]

    pipe._read_stage = counted_read
    pipe.run(corpus_to_spark(spark, pages))
    assert sorted(back) == sorted(DedupPipeline.STAGES)
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    for stage, df in back.items():
        assert df.schema == spark.read.parquet(os.path.join(wd, stage)).schema, stage
