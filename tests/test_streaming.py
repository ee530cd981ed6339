"""Structured-streaming incremental dedup tests."""

from __future__ import annotations

import os

import pytest

from name_deduplication_python_spark.sources.corpus import (
    corpus_to_spark,
    generate_corpus,
)
from name_deduplication_python_spark.streaming.incremental import (
    IncrementalDedup,
    windowed_event_counts,
)


def test_incremental_batches_find_cross_batch_dups(spark, tmp_path):
    pages, truth = generate_corpus(n_base=80, seed=21)
    df = corpus_to_spark(spark, pages).cache()
    # even/odd split: planted pairs have consecutive ids, so every exact
    # pair lands across the two batches
    urls_sorted = sorted(pages["url"])
    evens = set(urls_sorted[::2])
    first = df.where(df.url.isin(list(evens)))
    second = df.where(~df.url.isin(list(evens)))

    inc = IncrementalDedup(spark, str(tmp_path / "store"))
    inc.process_batch(first, 0)
    inc.process_batch(second, 1)

    got = {(r["src"], r["dst"]) for r in inc.edges().select("src", "dst").collect()}
    got |= {(b, a) for a, b in got}
    exact = truth[truth.kind == "exact"]
    cross = [
        (a, b) for a, b in zip(exact.src, exact.dst) if (a in evens) != (b in evens)
    ]
    assert cross, "fixture must split at least one exact pair across batches"
    for a, b in cross:
        assert (a, b) in got, f"cross-batch exact dup {a},{b} missed"


def test_band_key_store_is_append_only(spark, tmp_path):
    """Per-epoch work must not grow with history: band keys are persisted
    per epoch and PRIOR epochs are never recomputed or rewritten (round-1
    re-keyed the entire signature store every micro-batch). Evidence:
    each epoch dir holds exactly that batch's keys, and epoch-0 files are
    byte-stable (same mtimes) after two more epochs."""
    from name_deduplication_python_spark import DEFAULT_CONFIG

    pages, _ = generate_corpus(n_base=60, seed=31)
    df = corpus_to_spark(spark, pages).cache()
    urls = sorted(pages["url"])
    thirds = [set(urls[i::3]) for i in range(3)]
    store = str(tmp_path / "store")
    inc = IncrementalDedup(spark, store)

    inc.process_batch(df.where(df.url.isin(list(thirds[0]))), 0)
    bk0 = os.path.join(store, "band_keys", "epoch=0")
    mtimes0 = {f: os.path.getmtime(os.path.join(bk0, f)) for f in os.listdir(bk0)}

    inc.process_batch(df.where(df.url.isin(list(thirds[1]))), 1)
    inc.process_batch(df.where(df.url.isin(list(thirds[2]))), 2)

    # epoch-0 key files untouched by later epochs
    assert mtimes0 == {
        f: os.path.getmtime(os.path.join(bk0, f)) for f in os.listdir(bk0)
    }
    # each epoch dir holds exactly its batch's keys: nonempty docs x bands
    for e in range(3):
        keys = spark.read.parquet(os.path.join(store, "band_keys", f"epoch={e}"))
        sigs = spark.read.parquet(os.path.join(store, "signatures", f"epoch={e}"))
        n_nonempty = sigs.where("n_shingles > 0").count()
        assert keys.count() == n_nonempty * DEFAULT_CONFIG["bands"], e


def test_incremental_equals_full_batch_edges(spark, tmp_path):
    """Union of per-epoch edge sets == the single-batch pipeline's edges
    on the same corpus (incremental correctness, order-insensitive)."""
    from name_deduplication_python_spark import DEFAULT_CONFIG as C
    from name_deduplication_python_spark.operators.extract import extract_stage
    from name_deduplication_python_spark.operators.lsh import band_keys, candidate_pairs
    from name_deduplication_python_spark.operators.signatures import signature_stage
    from name_deduplication_python_spark.operators.verify import verify_stage

    pages, _ = generate_corpus(n_base=50, seed=33)
    df = corpus_to_spark(spark, pages).cache()
    urls = sorted(pages["url"])
    half = set(urls[: len(urls) // 2])
    inc = IncrementalDedup(spark, str(tmp_path / "store"))
    inc.process_batch(df.where(df.url.isin(list(half))), 0)
    inc.process_batch(df.where(~df.url.isin(list(half))), 1)
    got = {
        tuple(sorted((r.src, r.dst)))
        for r in inc.edges().select("src", "dst").collect()
    }

    sigs = signature_stage(
        extract_stage(df), num_hashes=C["num_hashes"], shingle_k=C["shingle_k"],
        seed=C["seed"],
    )
    keys = band_keys(sigs, bands=C["bands"], rows_per_band=C["rows_per_band"])
    pairs, _ = candidate_pairs(keys, bucket_cap=C["bucket_cap"])
    edges = verify_stage(
        pairs, sigs, num_hashes=C["num_hashes"],
        jaccard_threshold=C["jaccard_threshold"],
        simhash_radius=C["simhash_radius"],
    )
    want = {
        tuple(sorted((r.src, r.dst)))
        for r in edges.select("src", "dst").collect()
    }
    assert got == want


def test_epoch_replay_is_idempotent(spark, tmp_path):
    pages, _ = generate_corpus(n_base=30, seed=22)
    df = corpus_to_spark(spark, pages)
    inc = IncrementalDedup(spark, str(tmp_path / "store"))
    inc.process_batch(df, 0)
    n1 = inc.edges().count()
    inc.process_batch(df, 0)  # replay same epoch (restart semantics)
    assert inc.edges().count() == n1


def test_crash_replay_after_partial_epoch_write_is_exact(spark, tmp_path):
    """Crash window: band_keys/epoch=N written, signatures/epoch=N not
    (the idempotence marker). The replay must read ONLY epoch < N store
    state — an unfiltered read would cross-join the batch against its own
    keys, emitting self-edges (src==dst) and duplicate intra-batch pairs."""
    import shutil

    pages, _ = generate_corpus(n_base=40, seed=27)
    df = corpus_to_spark(spark, pages).cache()
    urls = sorted(pages["url"])
    half = set(urls[: len(urls) // 2])
    store = str(tmp_path / "store")
    inc = IncrementalDedup(spark, store)
    inc.process_batch(df.where(df.url.isin(list(half))), 0)
    inc.process_batch(df.where(~df.url.isin(list(half))), 1)
    clean = {
        (r.src, r.dst, r.status)
        for r in inc.edges().select("src", "dst", "status").collect()
    }
    assert all(s != d for s, d, _ in clean)

    # simulate the crash: epoch-1 signatures (marker) gone, band keys left
    shutil.rmtree(os.path.join(store, "signatures", "epoch=1"))
    inc.process_batch(df.where(~df.url.isin(list(half))), 1)  # replay
    replayed = {
        (r.src, r.dst, r.status)
        for r in inc.edges().select("src", "dst", "status").collect()
    }
    assert replayed == clean  # no self-edges, no duplicates, same edges


def test_store_verify_join_is_pruned_to_touched_docs(spark, tmp_path):
    """Per-epoch verify cost must be O(batch + touched docs), not
    O(corpus): the signature store feeds the verify join only for the
    (url, epoch) versions that this epoch's pruned store keys carry,
    with their full payloads."""
    pages, _ = generate_corpus(n_base=60, seed=29)
    df = corpus_to_spark(spark, pages).cache()
    urls = sorted(pages["url"])
    half = set(urls[: len(urls) // 2])
    store = str(tmp_path / "store")
    inc = IncrementalDedup(spark, store)
    inc.process_batch(df.where(df.url.isin(list(half))), 0)

    old_sigs = inc._read_store("signatures")
    n_store = old_sigs.count()
    # synthetic pruned store keys touching exactly 2 store docs at their
    # stored epoch, plus a store url at an epoch it was never written in
    touched = urls[0], urls[2]
    keys = spark.createDataFrame(
        [(touched[0], 7, 0), (touched[0], 9, 0), (touched[1], 7, 0), (urls[4], 7, 1)],
        "url string, bh bigint, epoch int",
    )
    pruned = IncrementalDedup._store_sigs_for(old_sigs, keys)
    assert pruned.count() == 2 < n_store
    got = {r.url for r in pruned.select("url").collect()}
    assert got == set(touched)
    # and the pruned frame carries full signature payloads
    assert {"url", "minhash", "simhash"} <= set(pruned.columns)
    # no pruned keys -> zero store rows shuffle
    empty = spark.createDataFrame([], "url string, bh bigint, epoch int")
    assert IncrementalDedup._store_sigs_for(old_sigs, empty).count() == 0


def test_streaming_end_to_end_available_now(spark, tmp_path):
    pages, _ = generate_corpus(n_base=40, seed=23)
    src = str(tmp_path / "src")
    corpus_to_spark(spark, pages).repartition(4).write.parquet(src)
    inc = IncrementalDedup(spark, str(tmp_path / "store"))
    q = inc.start(src, str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    assert inc.edges().count() > 0
    sigs = spark.read.parquet(os.path.join(str(tmp_path / "store"), "signatures"))
    assert sigs.count() == len(pages) - spark.read.parquet(src).where(
        "text is null and html is null"
    ).count()


def test_windowed_event_counts_streaming_plan(spark, tmp_path):
    # batch parity: streaming plan over the same data yields the batch agg
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    batch = windowed_event_counts(ev).toPandas()
    assert (batch["n_events"] > 0).all()

    src = str(tmp_path / "ev")
    ev.write.parquet(src)
    stream = spark.readStream.schema(ev.schema).parquet(src)
    out = windowed_event_counts(stream, watermark="10 minutes")
    assert out.isStreaming
    q = (
        out.writeStream.format("memory")
        .queryName("wincounts")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("select * from wincounts").toPandas()
    # append mode emits only watermark-closed windows; all must match batch
    merged = got.merge(
        batch, on=["window_start", "event_type"], suffixes=("_s", "_b")
    )
    assert len(merged) == len(got)
    assert (merged["n_events_s"] == merged["n_events_b"]).all()


def test_store_key_join_is_pruned_to_touched_buckets(spark, tmp_path):
    """Key-side O(touched) contract (the round-3 gap: the verify PAYLOAD
    join was pruned but the KEY join still shuffled the entire store per
    epoch): the store read must semi-join-filter rows inside the scan via
    a broadcast of the batch's bh set — never shuffling the store."""
    from pyspark.sql import functions as F

    pages, _ = generate_corpus(n_base=60, seed=37)
    df = corpus_to_spark(spark, pages).cache()
    store = str(tmp_path / "store")
    inc = IncrementalDedup(spark, store)
    inc.process_batch(df, 0)

    old_keys = inc._read_store("band_keys")
    n_store = old_keys.count()
    # a synthetic batch whose keys hit exactly 3 store buckets
    some_bh = [r.bh for r in old_keys.select("bh").distinct().limit(3).collect()]
    new_keys = spark.createDataFrame(
        [(f"new-{i}", bh) for i, bh in enumerate(some_bh)], ["url", "bh"]
    )
    pruned = IncrementalDedup._pruned_store_keys(
        old_keys, inc._read_store("signatures"), new_keys, new_keys.select("url")
    )
    got = pruned.collect()
    assert {r.bh for r in got} == set(some_bh)
    want = old_keys.where(F.col("bh").isin(some_bh)).count()
    assert len(got) == want < n_store
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    # the store side is filtered in-scan via a broadcast semi join — every
    # hash exchange sits under a BroadcastExchange (O(batch) or
    # O(touched)); the store subtree must reach the join shuffle-free
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    bx = plan.index("BroadcastExchange")
    assert all(
        i > bx
        for i in range(len(plan))
        if plan.startswith("Exchange hashpartitioning", i)
    ), plan


def test_bp_partitioned_band_key_store_is_refused(spark, tmp_path):
    """A store whose band-key epochs were written hive-partitioned by
    bp = pmod(bh, 64) (the older layout) is refused at open with a clear
    re-ingest error: next to plain epochs it breaks Spark's partition
    discovery, and there is no dual-layout reader."""
    import shutil

    from pyspark.sql import functions as F

    pages, _ = generate_corpus(n_base=20, seed=21)
    store = str(tmp_path / "store")
    IncrementalDedup(spark, store).process_batch(corpus_to_spark(spark, pages), 0)
    # a plain store reopens fine
    IncrementalDedup(spark, store)
    # rewrite epoch 0 into the bp-partitioned layout
    bk0 = os.path.join(store, "band_keys", "epoch=0")
    pdf = spark.read.parquet(bk0).toPandas()
    shutil.rmtree(bk0)
    spark.createDataFrame(pdf).withColumn("bp", F.pmod("bh", F.lit(64))).write.partitionBy(
        "bp"
    ).parquet(bk0)
    with pytest.raises(ValueError, match="bp= partitioned layout.*re-ingest"):
        IncrementalDedup(spark, store)


def test_band_key_epochs_are_plain_and_batch_jobs_bounded(spark, tmp_path):
    """Each band-key epoch is plain parquet (no bp= partition dirs: a
    hash-bucket partition of the key store prunes nothing for a batch of
    ~10+ docs), and one two-table batch stays within its measured Spark
    job budget (the bp layout, its bp collect and a second latest-version
    map took 37-38 jobs per batch)."""
    import uuid

    pages, _ = generate_corpus(n_base=60, seed=31)
    df = corpus_to_spark(spark, pages).cache()
    urls = sorted(pages["url"])
    store = str(tmp_path / "store")
    inc = IncrementalDedup(spark, store)
    sc = spark.sparkContext
    group = f"two-table-{uuid.uuid4().hex}"
    for e in range(3):
        batch = df.where(df.url.isin(urls[e::3]))
        if e == 2:
            sc.setJobGroup(group, "one two-table batch")
        try:
            inc.process_batch(batch, e)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
    for e in range(3):
        d = os.path.join(store, "band_keys", f"epoch={e}")
        names = os.listdir(d)
        assert any(n.endswith(".parquet") for n in names), names
        assert not any(os.path.isdir(os.path.join(d, n)) for n in names), names
    # 20 jobs measured on this corpus (local[8], AQE on)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert 0 < len(jobs) <= 20, len(jobs)


def test_store_reads_start_no_job(spark, tmp_path):
    """The signature and edge stores are read with the schemas they are
    written with: no parquet schema-inference job (one per read
    before), and the same schemas inference would give."""
    import uuid

    pages, _ = generate_corpus(n_base=20, seed=33)
    df = corpus_to_spark(spark, pages).cache()
    urls = sorted(pages["url"])
    store = str(tmp_path / "store")
    inc = IncrementalDedup(spark, store)
    for e in range(2):
        inc.process_batch(df.where(df.url.isin(urls[e::2])), e)
    sc = spark.sparkContext
    reads = {}
    for sub, read in (
        ("signatures", lambda: inc._read_store("signatures")),
        ("edges", inc.edges),
    ):
        group = f"store-read-{uuid.uuid4().hex}"
        sc.setJobGroup(group, f"{sub} store read")
        try:
            reads[sub] = read()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        assert sc.statusTracker().getJobIdsForGroup(group) == [], sub
    for sub in ("signatures", "edges"):
        inferred = spark.read.parquet(os.path.join(store, sub)).schema
        assert inc._read_store(sub).schema == inferred, sub
    assert reads["edges"].count() > 0


def _pages(spark, rows):
    """rows: [(url, text)] -> web_pages DataFrame (pre-extracted text)."""
    from name_deduplication_python_spark.schemas import WEB_PAGES

    return spark.createDataFrame(
        [(u, None, None, t, "en") for u, t in rows], schema=WEB_PAGES
    )


def test_recrawl_latest_epoch_wins(spark, tmp_path):
    """VERDICT r4 #4 (re-crawl semantics): the same url crawled in two
    epochs with CHANGED text must behave as ONE document at its latest
    version — stale-version signatures/band-keys never pair, current-only
    edge reads drop edges that scored superseded text, and epoch replay
    stays exact."""
    import numpy as np

    rng = np.random.default_rng(7)
    vocab = [f"w{i}" for i in range(500)]

    def doc(seed_off, mutate=0):
        r = np.random.default_rng(100 + seed_off)
        toks = list(r.choice(vocab, size=220))
        for i in range(mutate):
            toks[7 * i] = f"m{seed_off}_{i}"
        return " ".join(toks)

    X, Xp = doc(1), doc(1, mutate=2)   # near-identical pair
    Y, Yp = doc(2), doc(2, mutate=2)   # unrelated to X, near-identical pair
    store = str(tmp_path / "store")
    inc = IncrementalDedup(spark, store)

    # epoch 0: u1=X pairs with u2=X'
    inc.process_batch(_pages(spark, [("u1", X), ("u2", Xp)]), 0)
    e0 = {(r.src, r.dst) for r in inc.edges(current_only=False).collect()}
    assert {tuple(sorted(p)) for p in e0} == {("u1", "u2")}

    # epoch 1: u1 RE-CRAWLED with text Y; u3=Y' arrives -> (u1,u3) pairs
    inc.process_batch(_pages(spark, [("u1", Y), ("u3", Yp)]), 1)

    raw = {tuple(sorted((r.src, r.dst))) for r in inc.edges(current_only=False).collect()}
    assert ("u1", "u2") in raw and ("u1", "u3") in raw  # append-only log keeps both
    cur = {tuple(sorted((r.src, r.dst))) for r in inc.edges().collect()}
    assert ("u1", "u3") in cur
    assert ("u1", "u2") not in cur, "stale edge (u1 was re-crawled) must drop"

    # epoch 2: u4 ~ X must pair with u2 (current) but NOT with u1, whose
    # X-era band keys are stale (current u1 text is Y)
    inc.process_batch(_pages(spark, [("u4", doc(1, mutate=3))]), 2)
    cur2 = {tuple(sorted((r.src, r.dst))) for r in inc.edges().collect()}
    assert ("u2", "u4") in cur2
    assert ("u1", "u4") not in cur2, "stale-version band keys paired a re-crawled url"

    # replay: re-running a committed epoch is a no-op (idempotence marker)
    before = sorted(
        {(r.src, r.dst, r.epoch) for r in inc.edges(current_only=False).collect()}
    )
    inc.process_batch(_pages(spark, [("u4", doc(1, mutate=3))]), 2)
    after = sorted(
        {(r.src, r.dst, r.epoch) for r in inc.edges(current_only=False).collect()}
    )
    assert before == after


def test_compact_store_drops_stale_versions_preserving_semantics(spark, tmp_path):
    """compact_store physically drops superseded version rows (re-crawled
    urls' older epochs) while preserving every read/replay contract:
    current-only edges identical before/after, committed-epoch markers
    survive (replay stays a no-op), and a subsequent epoch on the
    compacted store produces exactly the edges an uncompacted control
    store produces."""
    import numpy as np

    vocab = [f"w{i}" for i in range(500)]

    def doc(seed_off, mutate=0):
        r = np.random.default_rng(100 + seed_off)
        toks = list(r.choice(vocab, size=220))
        for i in range(mutate):
            toks[7 * i] = f"m{seed_off}_{i}"
        return " ".join(toks)

    batches = [
        (0, [("u1", doc(1)), ("u2", doc(1, mutate=2))]),     # u1 ~ u2
        (1, [("u1", doc(2)), ("u3", doc(2, mutate=2))]),     # u1 RE-CRAWLED -> ~ u3
    ]
    stores = {}
    for name in ("a", "b"):
        inc = IncrementalDedup(spark, str(tmp_path / name))
        for epoch, rows in batches:
            inc.process_batch(_pages(spark, rows), epoch)
        stores[name] = inc
    inc, control = stores["a"], stores["b"]

    before_edges = {
        tuple(sorted((r.src, r.dst))) for r in inc.edges().collect()
    }
    stats = inc.compact_store()
    # u1's epoch-0 version rows are gone: 4 sig rows -> 3
    assert stats["signatures_rows_before"] == 4
    assert stats["signatures_rows_after"] == 3
    assert stats["band_keys_rows_after"] < stats["band_keys_rows_before"]
    # markers intact for every committed epoch
    for e in (0, 1):
        assert os.path.exists(
            os.path.join(inc.store, "signatures", f"epoch={e}", "_SUCCESS")
        )
    # read contracts unchanged
    after_edges = {
        tuple(sorted((r.src, r.dst))) for r in inc.edges().collect()
    }
    assert after_edges == before_edges
    # replay of a committed epoch is still a no-op
    raw_before = sorted(
        (r.src, r.dst, r.epoch) for r in inc.edges(current_only=False).collect()
    )
    inc.process_batch(_pages(spark, batches[1][1]), 1)
    raw_after = sorted(
        (r.src, r.dst, r.epoch) for r in inc.edges(current_only=False).collect()
    )
    assert raw_before == raw_after
    # a new epoch behaves identically on compacted vs uncompacted stores
    new_batch = [("u4", doc(2, mutate=3))]  # ~ current u1 text and u3
    inc.process_batch(_pages(spark, new_batch), 2)
    control.process_batch(_pages(spark, new_batch), 2)
    got = {tuple(sorted((r.src, r.dst))) for r in inc.edges().collect()}
    want = {tuple(sorted((r.src, r.dst))) for r in control.edges().collect()}
    assert got == want
    assert ("u1", "u4") in got and ("u3", "u4") in got


def test_compact_store_crash_mid_swap_recovers_not_cold(spark, tmp_path):
    """A crash between compact_store's two renames must NOT read as a cold
    store on restart (the round-4 verdict failure mode: __init__ recreated
    an empty store dir, the store read as cold, and every later epoch
    silently skipped all cross pairs). Recovery must roll the completed
    rewrite forward and preserve edge semantics; a stray __compact with no
    swap in flight is discarded."""
    import shutil

    import numpy as np

    vocab = [f"w{i}" for i in range(500)]

    def doc(seed_off, mutate=0):
        r = np.random.default_rng(300 + seed_off)
        toks = list(r.choice(vocab, size=220))
        for i in range(mutate):
            toks[7 * i] = f"m{seed_off}_{i}"
        return " ".join(toks)

    store = str(tmp_path / "s")
    inc = IncrementalDedup(spark, store)
    inc.process_batch(_pages(spark, [("u1", doc(1)), ("u2", doc(1, mutate=2))]), 0)

    # Simulate each crash state by re-creating it from a healthy store.
    # State A: crashed between rename(root -> __old) and rename(__compact
    # -> root): root missing, original parked at __old, complete rewrite
    # at __compact (per protocol the markers are inside tmp pre-swap).
    for sub in ("signatures", "band_keys"):
        root = os.path.join(store, sub)
        shutil.copytree(root, root + "__compact")
        os.rename(root, root + "__old")

    inc2 = IncrementalDedup(spark, store)  # restart triggers recovery
    for sub in ("signatures", "band_keys"):
        root = os.path.join(store, sub)
        assert os.path.isdir(root)
        assert not os.path.isdir(root + "__old")
        assert not os.path.isdir(root + "__compact")
    assert inc2._committed_epochs() == [0]  # NOT cold
    # cross-epoch pairing against the recovered store still works
    inc2.process_batch(_pages(spark, [("u3", doc(1, mutate=3))]), 1)
    edges = {tuple(sorted((r.src, r.dst))) for r in inc2.edges().collect()}
    assert ("u1", "u3") in edges and ("u2", "u3") in edges

    # State B: crashed after the rewrite but before any rename: root
    # intact, stray __compact only -> discarded, store untouched.
    sig_root = os.path.join(store, "signatures")
    shutil.copytree(sig_root, sig_root + "__compact")
    inc3 = IncrementalDedup(spark, store)
    assert not os.path.isdir(sig_root + "__compact")
    assert inc3._committed_epochs() == [0, 1]

    # State C: crashed during rmtree(__old): live root is the rewrite,
    # part-deleted __old is garbage -> dropped.
    os.makedirs(os.path.join(sig_root + "__old", "epoch=0"))
    inc4 = IncrementalDedup(spark, store)
    assert not os.path.isdir(sig_root + "__old")
    assert inc4._committed_epochs() == [0, 1]


def _even_odd_batches(spark):
    """The 80-page seed-21 corpus split into url-sorted even/odd batches
    (planted pairs have consecutive ids, so exact pairs cross batches)."""
    pages, _ = generate_corpus(n_base=80, seed=21)
    df = corpus_to_spark(spark, pages).cache()
    evens = sorted(pages["url"])[::2]
    return df.where(df.url.isin(evens)), df.where(~df.url.isin(evens))


def test_corrupt_store_raises_instead_of_reading_cold(spark, tmp_path):
    """A committed store that fails to read must raise: treating it as
    cold would commit the epoch with every cross-epoch pair missing."""
    first, second = _even_odd_batches(spark)
    store = str(tmp_path / "store")
    inc = IncrementalDedup(spark, store)
    inc.process_batch(first, 0)
    bk0 = os.path.join(store, "band_keys", "epoch=0")
    n_files = 0
    for root, _, files in os.walk(bk0):
        for f in files:
            if f.endswith(".parquet"):
                with open(os.path.join(root, f), "wb") as fh:
                    fh.write(b"not a parquet file" * 8)
                n_files += 1
    assert n_files
    with pytest.raises(Exception, match="FAILED_READ_FILE"):
        inc.process_batch(second, 1)
    assert not os.path.exists(
        os.path.join(store, "signatures", "epoch=1", "_SUCCESS")
    )


def test_first_epoch_replay_after_crash_before_marker(spark, tmp_path):
    """A crash in the first epoch after its band-key write but before the
    signature marker leaves no committed epoch: the replay is a cold
    batch and must reproduce the first attempt's edges."""
    import shutil

    first, _ = _even_odd_batches(spark)
    store = str(tmp_path / "store")
    inc = IncrementalDedup(spark, store)
    inc.process_batch(first, 0)
    want = {(r.src, r.dst) for r in inc.edges(current_only=False).collect()}
    assert want
    shutil.rmtree(os.path.join(store, "signatures", "epoch=0"))
    inc = IncrementalDedup(spark, store)
    inc.process_batch(first, 0)
    got = {(r.src, r.dst) for r in inc.edges(current_only=False).collect()}
    assert got == want


def test_epoch_without_band_keys_then_normal_epoch(spark, tmp_path):
    """An epoch whose docs are all empty commits without a single band
    key. The next epoch reads that store, which must read as empty rather
    than fail."""
    text = " ".join(f"w{i}" for i in range(40))
    inc = IncrementalDedup(spark, str(tmp_path / "store"))
    inc.process_batch(_pages(spark, [("e1", ""), ("e2", "   ")]), 0)
    assert inc._committed_epochs() == [0]
    inc.process_batch(_pages(spark, [("u1", text), ("u2", text)]), 1)
    got = {tuple(sorted((r.src, r.dst))) for r in inc.edges().collect()}
    assert got == {("u1", "u2")}


def test_hot_store_bucket_is_capped(spark, tmp_path):
    """A batch landing in a hot store bucket pairs under the same cap as
    any other bucket: 5 more copies of a page already stored 200 times
    emit O(n) cross pairs, not 5 x 200 = 1,000, and still join the
    store's cluster through edges()."""
    from name_deduplication_python_spark.schemas import WEB_PAGES

    text = " ".join(f"boilerplate token{i} repeated on every page" for i in range(12))

    def pages(lo, hi):
        rows = [(f"http://hot.example/{i:03d}", None, None, text, "en") for i in range(lo, hi)]
        return spark.createDataFrame(rows, WEB_PAGES)

    inc = IncrementalDedup(spark, str(tmp_path / "store"))
    inc.process_batch(pages(0, 200), 0)
    inc.process_batch(pages(200, 205), 1)
    edges = inc.edges().select("src", "dst", "epoch").collect()
    batch = {f"http://hot.example/{i:03d}" for i in range(200, 205)}
    cross = [r for r in edges if r.epoch == 1 and (r.src in batch) != (r.dst in batch)]
    # star_chain over the 205-member bucket: the star plus the chain
    assert 0 < len(cross) <= 2 * 205, len(cross)
    assert all(r.src in batch for r in cross)
    parent: dict = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for r in edges:
        parent[find(r.src)] = find(r.dst)
    assert len({find(f"http://hot.example/{i:03d}") for i in range(205)}) == 1


def test_hot_near_duplicate_bucket_keeps_clusters(spark, tmp_path):
    """A hot combined bucket of near-duplicates (one token changed per
    page, not identical pages) pairs under the cap as star and chain
    edges, each verified on its own Jaccard score; the clusters must
    equal full pairing's (a cap no bucket reaches). 12 stored pages and
    a batch of 4 put 16 members in most buckets, over the cap of 4."""
    import numpy as np

    vocab = [f"w{i}" for i in range(500)]
    base = list(np.random.default_rng(3).choice(vocab, size=240))

    def doc(i):
        toks = list(base)
        toks[15 * i + 5] = f"m{i}"
        return " ".join(toks)

    unrelated = " ".join(np.random.default_rng(4).choice(vocab, size=240))
    store_rows = [(f"u{i:02d}", doc(i)) for i in range(12)] + [("x0", unrelated)]
    batch_rows = [(f"u{i:02d}", doc(i)) for i in range(12, 16)]
    comps, n_edges = {}, {}
    for cap in (4, 10_000):
        inc = IncrementalDedup(spark, str(tmp_path / f"cap{cap}"), {"bucket_cap": cap})
        inc.process_batch(_pages(spark, store_rows), 0)
        inc.process_batch(_pages(spark, batch_rows), 1)
        edges = inc.edges().select("src", "dst").collect()
        parent: dict = {}

        def find(x):
            while parent.setdefault(x, x) != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for r in edges:
            parent[find(r.src)] = find(r.dst)
        groups: dict = {}
        for u, _ in store_rows + batch_rows:
            groups.setdefault(find(u), set()).add(u)
        comps[cap] = sorted(sorted(g) for g in groups.values())
        n_edges[cap] = len(edges)
    assert comps[4] == comps[10_000]
    assert comps[4] == [[f"u{i:02d}" for i in range(16)], ["x0"]]
    # the cap did bite: star and chain, not the full 120 pairs
    assert n_edges[4] < n_edges[10_000] == 120
