"""Round-5b LLM-pipeline operators: eval-set decontamination, PII
redaction, token-budget sampling — semantics plus plan-shape checks."""

from __future__ import annotations

import hashlib

import pandas as pd
import pytest
from pyspark.sql import functions as F

from name_deduplication_python_spark.functions.pii import (
    redact_documents,
    redact_pii,
)
from name_deduplication_python_spark.operators.decontaminate import (
    flag_contaminated,
)
from name_deduplication_python_spark.operators.sampler import (
    token_budget_sample,
)

_PY_MARKERS = ("BatchEvalPython", "ArrowEvalPython", "PythonUDF")


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


# ----------------------------------------------------------------- decontam


@pytest.fixture(scope="module")
def decon_frames(spark):
    ev = spark.createDataFrame(
        [(100, "a b c d e f g h i j k l m n o p q r s t")],
        ["doc_id", "text"],
    )
    train = spark.createDataFrame(
        [
            # shares the 13-gram "a b c ... m" with the eval doc
            (1, "x1 x2 a b c d e f g h i j k l m y1 y2"),
            # disjoint vocabulary -> clean
            (2, " ".join(f"z{i}" for i in range(20))),
            # under 13 tokens -> no gram, cannot be contaminated
            (3, "short doc only five tokens"),
        ],
        ["doc_id", "text"],
    )
    return train, ev


def test_flag_contaminated_planted(spark, decon_frames):
    train, ev = decon_frames
    rows = {r.doc_id: r for r in flag_contaminated(train, ev, n=13).collect()}
    assert set(rows) == {1, 2, 3}
    assert rows[1].is_contaminated == 1 and rows[1].n_overlap == 1
    assert rows[2].is_contaminated == 0 and rows[2].n_overlap == 0
    assert rows[3].is_contaminated == 0 and rows[3].n_grams == 0


def test_flag_contaminated_overlap_counts_distinct_grams(spark):
    # train doc containing TWO distinct eval 13-grams counts 2
    ev = spark.createDataFrame(
        [(0, " ".join(f"a{i}" for i in range(13))),
         (1, " ".join(f"b{i}" for i in range(13)))],
        ["doc_id", "text"],
    )
    tr = spark.createDataFrame(
        [(7, " ".join(f"a{i}" for i in range(13))
          + " GAP " + " ".join(f"b{i}" for i in range(13)))],
        ["doc_id", "text"],
    )
    row = flag_contaminated(tr, ev, n=13).collect()[0]
    assert row.n_overlap == 2 and row.is_contaminated == 1


def test_flag_contaminated_plan_broadcasts_eval_side(spark, decon_frames):
    train, ev = decon_frames
    plan = _plan(flag_contaminated(train, ev, n=13))
    assert "BroadcastHashJoin" in plan
    for m in _PY_MARKERS:
        assert m not in plan


# ---------------------------------------------------------------------- pii


def test_redact_pii_exact(spark):
    df = spark.createDataFrame(
        [(1, "mail a.b@x.io or 123-456-7890 from 192.168.0.1 end")],
        ["doc_id", "text"],
    )
    out = redact_documents(df).collect()[0]
    assert out.text == "mail [EMAIL] or [PHONE] from [IP] end"
    assert (out.n_emails, out.n_phones, out.n_ipv4s) == (1, 1, 1)


def test_redact_pii_idempotent(spark):
    df = spark.createDataFrame(
        [(1, "x user@site.org y 555-010-0042 z 10.0.0.1")], ["doc_id", "text"]
    )
    once = df.select(redact_pii(F.col("text")).alias("t"))
    twice = once.select(redact_pii(F.col("t")).alias("t"))
    assert once.collect()[0].t == twice.collect()[0].t


def test_redact_pii_leaves_clean_text_alone(spark):
    s = "version 1.2 shipped on 2024-01-02 at 5pm no pii here"
    df = spark.createDataFrame([(1, s)], ["doc_id", "text"])
    out = redact_documents(df).collect()[0]
    assert out.text == s
    assert (out.n_emails, out.n_phones, out.n_ipv4s) == (0, 0, 0)


def test_redact_pii_plan_is_python_free(spark):
    df = spark.createDataFrame([(1, "a@b.co")], ["doc_id", "text"])
    plan = _plan(redact_documents(df))
    for m in _PY_MARKERS:
        assert m not in plan


# ------------------------------------------------------------------ sampler


def _naive_sample(pdf: pd.DataFrame, budget: int) -> set[int]:
    pdf = pdf.copy()
    pdf["k"] = pdf.doc_id.map(lambda i: hashlib.md5(str(i).encode()).hexdigest())
    keep: set[int] = set()
    for _, grp in pdf.groupby("lang"):
        grp = grp.sort_values(["k", "doc_id"])
        cum = grp.n_tokens.cumsum()
        keep |= set(grp.doc_id[cum <= budget])
    return keep


@pytest.fixture(scope="module")
def sample_docs(spark):
    import random

    rng = random.Random(42)
    rows = [
        (i, "en de fr".split()[i % 3], "tok " * rng.randint(5, 60))
        for i in range(240)
    ]
    pdf = pd.DataFrame(rows, columns=["doc_id", "lang", "text"])
    pdf["n_tokens"] = pdf.text.str.strip().str.split(" ").map(len)
    return spark.createDataFrame(pdf[["doc_id", "lang", "text"]]), pdf


def test_token_budget_matches_naive_window(spark, sample_docs):
    df, pdf = sample_docs
    budget = 1500
    got = token_budget_sample(df, budget)
    rows = got.collect()
    assert {r.doc_id for r in rows} == _naive_sample(pdf, budget)
    # cum_tokens is the true global running sum, not a per-bucket one
    by_id = {int(r.doc_id): r for r in rows}
    for lang in ("en", "de", "fr"):
        sel = sorted(
            (r for r in rows if r.lang == lang), key=lambda r: r.cum_tokens
        )
        running = 0
        for r in sel:
            running += r.n_tokens
            assert r.cum_tokens == running <= budget


def test_token_budget_hard_cap_excludes_crossing_doc(spark):
    # one stratum, known order: budget lands mid-document -> that doc is out
    df = spark.createDataFrame(
        [(i, "en", "t " * 10) for i in range(20)], ["doc_id", "lang", "text"]
    )
    out = token_budget_sample(df, 35).collect()
    assert len(out) == 3  # 3 docs x 10 tokens = 30 <= 35 < 40
    assert max(r.cum_tokens for r in out) == 30


def test_token_budget_plan_partitions_by_bucket(spark, sample_docs):
    df, _ = sample_docs
    plan = _plan(token_budget_sample(df, 1000))
    # the big window must partition by (stratum, bucket) — never a
    # whole-stratum (or global) sort
    assert "bucket" in plan
    for m in _PY_MARKERS:
        assert m not in plan


# ------------------------------------------------------- representative


def test_best_member_per_cluster_argmax_and_tiebreak(spark):
    from name_deduplication_python_spark.operators.report import (
        best_member_per_cluster,
    )

    df = spark.createDataFrame(
        [
            (1, 10, 0.5),
            (2, 10, 0.9),   # winner of cluster 10
            (3, 20, 0.7),
            (4, 20, 0.7),   # tie -> min doc_id (3) wins
            (9, 30, 0.1),   # singleton
        ],
        ["doc_id", "cluster_id", "alpha_ratio"],
    )
    rows = {
        r.cluster_id: r
        for r in best_member_per_cluster(df, "alpha_ratio").collect()
    }
    assert rows[10].rep_doc_id == 2 and rows[10].n_members == 2
    assert rows[20].rep_doc_id == 3 and rows[20].rep_alpha_ratio == 0.7
    assert rows[30].rep_doc_id == 9 and rows[30].n_members == 1


def test_best_member_per_cluster_string_ids(spark):
    # The pipeline's canonical ids are urls (strings): the argmax must
    # not negate the id column (ANSI would raise CAST_INVALID_INPUT).
    from name_deduplication_python_spark.operators.report import (
        best_member_per_cluster,
    )

    df = spark.createDataFrame(
        [
            ("u-b", "c1", 0.5),
            ("u-a", "c1", 0.9),   # winner on score
            ("u-d", "c2", 0.7),
            ("u-c", "c2", 0.7),   # tie -> lexicographically smallest url
        ],
        ["doc_id", "cluster_id", "alpha_ratio"],
    )
    rows = {
        r.cluster_id: r
        for r in best_member_per_cluster(df, "alpha_ratio").collect()
    }
    assert rows["c1"].rep_doc_id == "u-a"
    assert rows["c2"].rep_doc_id == "u-c" and rows["c2"].rep_alpha_ratio == 0.7


def test_best_member_per_cluster_plan_is_single_aggregate(spark):
    from name_deduplication_python_spark.operators.report import (
        best_member_per_cluster,
    )

    df = spark.createDataFrame([(1, 10, 0.5)], ["doc_id", "cluster_id", "alpha_ratio"])
    plan = _plan(best_member_per_cluster(df, "alpha_ratio"))
    assert "Window" not in plan  # argmax via struct-max agg, no per-cluster sort
    for m in _PY_MARKERS:
        assert m not in plan


# ------------------------------------------------------------------- shards


def test_assign_shards_matches_naive_packing(spark, sample_docs):
    from name_deduplication_python_spark.operators.sampler import assign_shards

    df, pdf = sample_docs
    size = 400
    got = {r.doc_id: r.shard_id for r in assign_shards(df, size).collect()}
    # naive: per lang, md5 order, doc starts in shard floor(prev_cum/size)
    pdf = pdf.copy()
    pdf["k"] = pdf.doc_id.map(lambda i: hashlib.md5(str(i).encode()).hexdigest())
    want = {}
    for _, grp in pdf.groupby("lang"):
        grp = grp.sort_values(["k", "doc_id"])
        cum = 0
        for _, row in grp.iterrows():
            want[row.doc_id] = cum // size
            cum += row.n_tokens
    assert got == want
    # every doc is assigned, shard ids dense from 0 per stratum
    assert set(got) == set(pdf.doc_id)


def test_assign_shards_overflow_bounded_by_one_doc(spark):
    from name_deduplication_python_spark.operators.sampler import assign_shards

    # 7-token docs into 10-token shards: each shard holds the doc that
    # starts in it; shard token totals never exceed size + max_doc - 1
    df = spark.createDataFrame(
        [(i, "en", "t " * 7) for i in range(10)], ["doc_id", "lang", "text"]
    )
    rows = assign_shards(df, 10).collect()
    totals = {}
    for r in rows:
        totals[r.shard_id] = totals.get(r.shard_id, 0) + r.n_tokens
    assert all(t <= 10 + 7 - 1 for t in totals.values())
    assert min(r.shard_id for r in rows) == 0


# ------------------------------------------------------------------- dsir


def _py_bucket(gram: str, buckets: int) -> int:
    return int(hashlib.md5(gram.encode()).hexdigest()[:12], 16) % buckets


def _py_grams(text: str) -> list:
    toks = text.strip().split(" ")
    bi = [" ".join(toks[i : i + 2]) for i in range(len(toks) - 1)]
    return toks + bi


@pytest.fixture(scope="module")
def dsir_corpus(spark, tmp_path_factory):
    """Parquet-backed on purpose: the md5-bucket corruption this
    operator works around (dsir.py docstring) only manifests over the
    vectorized parquet reader's buffers, never over createDataFrame."""
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox sleeps under the old tree"),
        (2, "stock market indices fell sharply on tuesday morning"),
        (3, "the lazy dog jumps over the quick brown fox"),
        (4, "quarterly earnings reports moved the stock market today"),
        (5, "fox"),
    ]
    path = str(tmp_path_factory.mktemp("dsir") / "docs.parquet")
    spark.createDataFrame(rows, ["doc_id", "text"]).write.parquet(path)
    return spark.read.parquet(path), {i: t for i, t in rows}


def test_dsir_weights_match_python_oracle(spark, dsir_corpus):
    """End-to-end fit + score equals a pure-python reimplementation,
    bucket-exact (guards the parquet md5 workaround) and float-exact to
    1e-9 (same smoothing arithmetic)."""
    import math

    from name_deduplication_python_spark.operators.dsir import (
        dsir_weights,
        fit_dsir_logratio,
    )

    docs, texts = dsir_corpus
    B = 256
    target_ids = {0, 3}
    target = docs.where(F.col("doc_id").isin(*target_ids))
    raw = docs.where(~F.col("doc_id").isin(*target_ids))

    ct, cr = {}, {}
    for did, text in texts.items():
        side = ct if did in target_ids else cr
        for g in _py_grams(text):
            b = _py_bucket(g, B)
            side[b] = side.get(b, 0) + 1
    tt, tr = sum(ct.values()), sum(cr.values())

    def logratio(b):
        return math.log((ct.get(b, 0) + 1) / (tt + B)) - math.log(
            (cr.get(b, 0) + 1) / (tr + B)
        )

    want = {}
    for did, text in texts.items():
        if did in target_ids:
            continue
        want[did] = sum(logratio(_py_bucket(g, B)) for g in _py_grams(text))

    lr = fit_dsir_logratio(target, raw, buckets=B)
    got = {
        r.doc_id: r.dsir_logweight
        for r in dsir_weights(raw, lr, buckets=B).collect()
    }
    assert set(got) == set(want)
    for did in want:
        assert abs(got[did] - want[did]) < 1e-9, did


def test_dsir_target_like_docs_score_higher(spark, dsir_corpus):
    """A raw doc sharing the target's vocabulary (doc 1, fox/quick/
    brown) must outscore the off-distribution finance docs (2, 4)."""
    from name_deduplication_python_spark.operators.dsir import (
        dsir_weights,
        fit_dsir_logratio,
    )

    docs, _ = dsir_corpus
    target = docs.where(F.col("doc_id").isin(0, 3))
    raw = docs.where(~F.col("doc_id").isin(0, 3))
    lr = fit_dsir_logratio(target, raw, buckets=256)
    w = {
        r.doc_id: r.dsir_logweight / max(r.n_grams, 1)
        for r in dsir_weights(raw, lr, buckets=256).collect()
    }
    assert w[1] > w[2] and w[1] > w[4]


def test_dsir_sample_deterministic_gumbel_topk(spark):
    from name_deduplication_python_spark.operators.dsir import dsir_sample

    rows = [(i, float(-i)) for i in range(40)]
    df = spark.createDataFrame(rows, ["doc_id", "dsir_logweight"])
    a = sorted(r.doc_id for r in dsir_sample(df, 10, seed=7).collect())
    b = sorted(r.doc_id for r in dsir_sample(df, 10, seed=7).collect())
    c = sorted(r.doc_id for r in dsir_sample(df, 10, seed=8).collect())
    assert a == b and len(a) == 10          # pure function of (ids, seed)
    assert a != c                           # seed actually matters
    # weights dominate noise when gaps are huge: top-k by weight wins
    big = spark.createDataFrame(
        [(i, float(-1000 * i)) for i in range(20)],
        ["doc_id", "dsir_logweight"],
    )
    sel = sorted(r.doc_id for r in dsir_sample(big, 5, seed=3).collect())
    assert sel == [0, 1, 2, 3, 4]


def test_dsir_scoring_plan_is_python_free_and_broadcasts(spark, dsir_corpus):
    from name_deduplication_python_spark.operators.dsir import (
        dsir_weights,
        fit_dsir_logratio,
    )

    docs, _ = dsir_corpus
    target = docs.where(F.col("doc_id").isin(0, 3))
    raw = docs.where(~F.col("doc_id").isin(0, 3))
    lr = fit_dsir_logratio(target, raw, buckets=64)
    plan = _plan(dsir_weights(raw, lr, buckets=64))
    assert not any(m in plan for m in _PY_MARKERS)
    # round 7: the B-row ratio table is a collected parameter literal —
    # scoring is map-only (no join, no gram explode, no shuffle at all)
    assert "Join" not in plan and "Exchange" not in plan
    assert "aggregate(transform(" in plan   # the literal-lookup fold


def test_dsir_count_vectors_reduced_in_spark_at_64_partitions(spark):
    """The fit's two count vectors are summed inside Spark (the driver
    receives 2 x B values, not one pair per task): at 64 input partitions
    they equal a numpy bincount, and the two-frame fit equals the flagged
    fit on the same rows."""
    import numpy as np
    from pyspark.sql import functions as F

    from name_deduplication_python_spark.operators.dsir import (
        _flagged_count_vectors,
        fit_logratio_values,
        fit_logratio_values_flagged,
    )

    B = 97
    rng = np.random.default_rng(5)
    rows = []
    for i in range(400):
        n = int(rng.integers(0, 12))
        arr = None if i % 37 == 0 else rng.integers(0, B, size=n).tolist()
        rows.append((i, i % 3 == 0, arr))
    df = spark.createDataFrame(
        rows, "id long, is_t boolean, buckets array<int>"
    ).repartition(64)
    assert df.rdd.getNumPartitions() == 64

    def ref(flag):
        arrs = [np.asarray(a, dtype=np.int64) for _, t, a in rows if t == flag and a]
        return np.bincount(np.concatenate(arrs), minlength=B)

    ct, cr = _flagged_count_vectors(
        df.select(F.col("is_t").alias("_t"), "buckets"), B
    )
    assert ct.tolist() == ref(True).tolist()
    assert cr.tolist() == ref(False).tolist()

    target = df.where("is_t").select("id", "buckets")
    raw = df.where("not is_t").select("id", "buckets")
    assert fit_logratio_values(target, raw, B) == fit_logratio_values_flagged(
        df, F.col("is_t"), B
    )


# --------------------------------------------------------------------------
# flag_contaminated_fuzzy — NearDup train/eval decontamination
# --------------------------------------------------------------------------


def _words(seed: int, n: int) -> str:
    import random

    rng = random.Random(seed)
    return " ".join(f"w{rng.randrange(5000)}" for _ in range(n))


def test_fuzzy_decon_flags_near_and_exact_copies(spark):
    from name_deduplication_python_spark.operators.decontaminate import (
        flag_contaminated_fuzzy,
    )

    bench = _words(1, 300)
    near = bench + " " + _words(2, 5)  # ~0.98 shingle jaccard
    ev = spark.createDataFrame(
        [(100, bench), (101, _words(3, 300))], "doc_id long, text string"
    )
    tr = spark.createDataFrame(
        [(1, bench), (2, near), (3, _words(4, 300)), (4, _words(5, 300))],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: (r["n_eval_matches"], r["max_est_jaccard"], r["is_contaminated"])
        for r in flag_contaminated_fuzzy(tr, ev).collect()
    }
    assert set(out) == {1, 2, 3, 4}          # EVERY train doc covered
    assert out[1][2] == 1 and out[1][1] == 1.0   # exact copy
    assert out[2][2] == 1 and out[2][1] >= 0.9   # near copy
    assert out[3] == (0, 0.0, 0) and out[4] == (0, 0.0, 0)


def test_fuzzy_decon_overlapping_id_spaces_do_not_self_join(spark):
    """Train doc_id 7 and eval doc_id 7 are DIFFERENT documents — the
    internal t:/e: prefix must keep them apart (no self-edge suppression
    eating a real contamination, no spurious flag from the id collision)."""
    from name_deduplication_python_spark.operators.decontaminate import (
        flag_contaminated_fuzzy,
    )

    bench = _words(11, 200)
    ev = spark.createDataFrame([(7, bench)], "doc_id long, text string")
    tr = spark.createDataFrame(
        [(7, _words(12, 200)), (8, bench)], "doc_id long, text string"
    )
    out = {
        r["doc_id"]: r["is_contaminated"]
        for r in flag_contaminated_fuzzy(tr, ev).collect()
    }
    assert out == {7: 0, 8: 1}


def test_fuzzy_decon_estimator_only_mode(spark):
    """hamming_radius=None restricts hits to the estimator tier (the
    strict-precision analog of DedupConfig.hamming_est_floor)."""
    from name_deduplication_python_spark.operators.decontaminate import (
        flag_contaminated_fuzzy,
    )

    bench = _words(21, 300)
    ev = spark.createDataFrame([(0, bench)], "doc_id long, text string")
    tr = spark.createDataFrame([(1, bench)], "doc_id long, text string")
    out = flag_contaminated_fuzzy(tr, ev, hamming_radius=None).collect()
    assert out[0]["is_contaminated"] == 1


def test_dsir_xxh64_scale_hash_agrees_on_semantics(spark, dsir_corpus):
    """hash_fn='xxh64' (scale path) must produce the same gram TOPOLOGY
    (n_grams per doc) and the same target-affinity ordering as the
    auditable md5 default — only the bucket assignment differs."""
    from name_deduplication_python_spark.operators.dsir import (
        dsir_weights,
        fit_dsir_logratio,
    )

    docs, _ = dsir_corpus
    target_like_id = 1  # the fox/dog-vocabulary raw doc
    target = docs.where(F.col("doc_id").isin(0, 3))
    raw = docs.where(~F.col("doc_id").isin(0, 3))
    out = {}
    for hf in ("md5", "xxh64"):
        lr = fit_dsir_logratio(target, raw, buckets=512, hash_fn=hf)
        w = dsir_weights(raw, lr, buckets=512, hash_fn=hf)
        rows = {r["doc_id"]: r for r in w.collect()}
        out[hf] = rows
    assert {k: v["n_grams"] for k, v in out["md5"].items()} == {
        k: v["n_grams"] for k, v in out["xxh64"].items()
    }
    for rows in out.values():  # target-like beats the off-target docs of
        w = {k: v["dsir_logweight"] for k, v in rows.items()}
        assert w[target_like_id] > w[2] and w[target_like_id] > w[4]
    import pytest as _pytest

    with _pytest.raises(ValueError, match="hash_fn"):
        fit_dsir_logratio(target, raw, buckets=64, hash_fn="sha1")


def test_fuzzy_decon_band_join_broadcasts_eval_side(spark):
    """The eval corpus is benchmark-sized: its band keys must reach the
    candidate join through a BroadcastExchange (the training side's band
    keys never shuffle on bh)."""
    from name_deduplication_python_spark.operators.decontaminate import (
        flag_contaminated_fuzzy,
    )

    tr = spark.createDataFrame([(1, _words(31, 60))], "doc_id long, text string")
    ev = spark.createDataFrame([(2, _words(32, 60))], "doc_id long, text string")
    plan = _plan(flag_contaminated_fuzzy(tr, ev))
    assert "BroadcastHashJoin" in plan


# --------------------------------------------------------------------------
# lm_quality — CCNet-style LM perplexity scoring + head/middle/tail tiers
# --------------------------------------------------------------------------


@pytest.fixture(scope="module")
def lmq_corpus(spark):
    # trusted-looking prose (repeating a small clean vocabulary) vs
    # junk docs drawn from a huge vocabulary the LM never saw
    clean_vocab = ["the", "cat", "sat", "on", "a", "mat", "and", "dog"]
    rows = []
    for i in range(60):
        rows.append((i, " ".join(clean_vocab[(i + j) % 8] for j in range(30))))
    for i in range(60, 80):
        rows.append((i, " ".join(f"zq{i}_{j}" for j in range(30))))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_lm_ppl_junk_scores_higher_than_clean(spark, lmq_corpus):
    from name_deduplication_python_spark.operators.lm_quality import (
        fit_bucket_lm,
        lm_log_ppl,
    )

    ref = lmq_corpus.where(F.col("doc_id") < 30)
    lm = fit_bucket_lm(ref, buckets=256)
    scored = lm_log_ppl(lmq_corpus, lm, buckets=256).toPandas()
    clean = scored[scored.doc_id < 60].log_ppl
    junk = scored[scored.doc_id >= 60].log_ppl
    assert clean.max() < junk.min()
    # every document scored, token counts carried through
    assert len(scored) == 80
    assert (scored.n_tokens == 30).all()


def test_lm_ppl_matches_python_oracle(spark, lmq_corpus):
    import math

    from name_deduplication_python_spark.operators.lm_quality import (
        fit_bucket_lm,
        lm_log_ppl,
    )

    B = 128
    ref = lmq_corpus.where(F.col("doc_id") < 30)
    lm = fit_bucket_lm(ref, buckets=B)
    got = (
        lm_log_ppl(lmq_corpus, lm, buckets=B)
        .toPandas()
        .set_index("doc_id")
        .log_ppl.to_dict()
    )

    def bucket(tok: str) -> int:
        return int(hashlib.md5(tok.encode()).hexdigest()[:12], 16) % B

    texts = dict(lmq_corpus.collect())
    counts: dict[int, int] = {}
    for i, t in texts.items():
        if i < 30:
            for tok in t.strip().split(" "):
                b = bucket(tok)
                counts[b] = counts.get(b, 0) + 1
    total = sum(counts.values())
    for i, t in texts.items():
        toks = t.strip().split(" ")
        want = -sum(
            math.log((counts.get(bucket(tok), 0) + 1) / (total + B))
            for tok in toks
        ) / len(toks)
        assert abs(got[i] - want) < 1e-9, i


def test_ppl_tiers_split_and_order(spark, lmq_corpus):
    from name_deduplication_python_spark.operators.lm_quality import (
        fit_bucket_lm,
        lm_log_ppl,
        ppl_tiers,
    )

    ref = lmq_corpus.where(F.col("doc_id") < 30)
    lm = fit_bucket_lm(ref, buckets=256)
    scored = lm_log_ppl(lmq_corpus, lm, buckets=256)
    tiers = ppl_tiers(scored).toPandas()
    assert set(tiers.tier) == {"head", "middle", "tail"}
    # tier boundaries respect the score order: max(head) <= min(middle)
    # <= ... (strict on this corpus where scores are distinct per group)
    assert (
        tiers[tiers.tier == "head"].log_ppl.max()
        <= tiers[tiers.tier == "middle"].log_ppl.min()
    )
    assert (
        tiers[tiers.tier == "middle"].log_ppl.max()
        <= tiers[tiers.tier == "tail"].log_ppl.min()
    )
    # all junk docs land in the tail on this planted corpus
    assert (tiers[tiers.doc_id >= 60].tier == "tail").all()


def test_lm_scoring_plan_is_python_free_and_broadcasts(spark, lmq_corpus):
    from name_deduplication_python_spark.operators.lm_quality import (
        fit_bucket_lm,
        lm_log_ppl,
    )

    ref = lmq_corpus.where(F.col("doc_id") < 30)
    lm = fit_bucket_lm(ref, buckets=256)
    plan = _plan(lm_log_ppl(lmq_corpus, lm, buckets=256))
    assert not any(m in plan for m in _PY_MARKERS)
    # round 7: the B-row LM is a collected parameter literal — scoring
    # is map-only (no join, no per-token explode, no shuffle at all)
    assert "Join" not in plan and "Exchange" not in plan
    assert "aggregate(transform(" in plan  # the literal-lookup fold


def test_ppl_tiers_rejects_bad_fractions(spark, lmq_corpus):
    from name_deduplication_python_spark.operators.lm_quality import ppl_tiers

    scored = lmq_corpus.select("doc_id", F.lit(1.0).alias("log_ppl"))
    with pytest.raises(ValueError):
        ppl_tiers(scored, head_frac=0.6, tail_frac=0.5)
    with pytest.raises(ValueError):
        ppl_tiers(scored, head_frac=0.0)


# --------------------------------------------------------------------------
# bloom — distributed Bloom filter membership prefilter
# --------------------------------------------------------------------------


@pytest.fixture(scope="module")
def bloom_frames(spark):
    from name_deduplication_python_spark.operators.bloom import bloom_build

    hist = spark.createDataFrame(
        [(f"http://seen.example/{i}",) for i in range(200)], "key string"
    )
    bloom = bloom_build(hist, "key", n_bits=8192, k=5)
    return hist, bloom


def test_bloom_no_false_negatives(spark, bloom_frames):
    from name_deduplication_python_spark.operators.bloom import (
        bloom_maybe_contains,
    )

    hist, bloom = bloom_frames
    probed = bloom_maybe_contains(hist, "key", bloom, n_bits=8192, k=5)
    assert probed.where(~F.col("maybe_seen")).count() == 0


def test_bloom_fresh_keys_mostly_new_and_fpr_bounded(spark, bloom_frames):
    from name_deduplication_python_spark.operators.bloom import (
        bloom_maybe_contains,
        bloom_params,
    )

    _, bloom = bloom_frames
    fresh = spark.createDataFrame(
        [(f"http://new.example/{i}",) for i in range(500)], "key string"
    )
    probed = bloom_maybe_contains(fresh, "key", bloom, n_bits=8192, k=5)
    fp = probed.where(F.col("maybe_seen")).count()
    # n=200, m=8192, k=5 -> theoretical fpr ~2e-4; allow generous slack
    assert fp <= 5
    n_bits, k = bloom_params(1000, fpr=0.01)
    assert n_bits % 64 == 0 and n_bits >= 9000 and 5 <= k <= 10


def test_bloom_word_packing_matches_hashlib(spark):
    from name_deduplication_python_spark.operators.bloom import bloom_build

    keys = [f"k{i}" for i in range(50)]
    df = spark.createDataFrame([(k,) for k in keys], "key string")
    got = {
        r.word_idx: r.bits for r in bloom_build(df, "key", 1024, 3).collect()
    }
    want: dict[int, int] = {}
    for key in keys:
        for i in range(3):
            pos = (
                int(hashlib.md5(f"{key}#b{i}".encode()).hexdigest()[:12], 16)
                % 1024
            )
            w, b = pos >> 6, pos & 63
            want[w] = want.get(w, 0) | (1 << b)
    # python ints are unsigned; Spark words are int64 two's complement
    want = {w: v - (1 << 64) if v >= (1 << 63) else v for w, v in want.items()}
    assert got == want


def test_bloom_union_equals_joint_build(spark):
    from name_deduplication_python_spark.operators.bloom import (
        bloom_build,
        bloom_union,
    )

    a = spark.createDataFrame([(f"a{i}",) for i in range(40)], "key string")
    b = spark.createDataFrame([(f"b{i}",) for i in range(40)], "key string")
    joint = bloom_build(a.unionByName(b), "key", 2048, 4)
    merged = bloom_union(
        bloom_build(a, "key", 2048, 4), bloom_build(b, "key", 2048, 4)
    )
    got = {r.word_idx: r.bits for r in merged.collect()}
    want = {r.word_idx: r.bits for r in joint.collect()}
    assert got == want


def test_bloom_probe_plan_python_free_and_shuffle_mode(spark, bloom_frames):
    from name_deduplication_python_spark.operators.bloom import (
        bloom_maybe_contains,
    )

    hist, bloom = bloom_frames
    bcast = bloom_maybe_contains(hist, "key", bloom, n_bits=8192, k=5)
    plan = _plan(bcast)
    assert not any(m in plan for m in _PY_MARKERS)
    assert "BroadcastHashJoin" in plan
    # at-scale mode: the word table shuffle-joins instead of broadcasting,
    # verdicts identical
    shuf = bloom_maybe_contains(
        hist, "key", bloom, n_bits=8192, k=5, broadcast_filter=False
    )
    assert shuf.where(~F.col("maybe_seen")).count() == 0


def test_bloom_rejects_bad_params(spark, bloom_frames):
    from name_deduplication_python_spark.operators.bloom import (
        bloom_build,
        bloom_params,
    )

    hist, _ = bloom_frames
    with pytest.raises(ValueError):
        bloom_build(hist, "key", n_bits=100, k=3)  # not a multiple of 64
    with pytest.raises(ValueError):
        bloom_build(hist, "key", n_bits=1024, k=0)
    with pytest.raises(ValueError):
        bloom_params(0)
    with pytest.raises(ValueError):
        bloom_params(10, fpr=1.5)


# ------------------------------------------------------- mixture_weights ----


def _mix_docs(spark):
    # source 'big' has 4x the tokens of 'small'
    rows = [("big", 400), ("big", 400), ("small", 100), ("small", 100)]
    return spark.createDataFrame(rows, "source string, n_tokens int")


def test_mixture_weights_alpha_1_is_natural_proportions(spark):
    from name_deduplication_python_spark.operators.sampler import (
        mixture_weights,
    )

    got = {
        r["source"]: r
        for r in mixture_weights(_mix_docs(spark), alpha=1.0).collect()
    }
    assert got["big"]["group_tokens"] == 800
    assert got["big"]["weight"] == pytest.approx(0.8, abs=1e-6)
    assert got["small"]["weight"] == pytest.approx(0.2, abs=1e-6)


def test_mixture_weights_alpha_half_flattens_toward_small(spark):
    from name_deduplication_python_spark.operators.sampler import (
        mixture_weights,
    )

    got = {
        r["source"]: r
        for r in mixture_weights(
            _mix_docs(spark), alpha=0.5, budget_tokens=1_000_000
        ).collect()
    }
    # sqrt(800):sqrt(200) = 2:1 -> small's share rises 0.2 -> 1/3
    assert got["big"]["weight"] == pytest.approx(2 / 3, abs=1e-5)
    assert got["small"]["weight"] == pytest.approx(1 / 3, abs=1e-5)
    assert got["big"]["expected_tokens"] + got["small"]["expected_tokens"] == pytest.approx(
        1_000_000, abs=1
    )


def test_mixture_weights_sum_to_one(spark):
    from name_deduplication_python_spark.operators.sampler import (
        mixture_weights,
    )

    rows = [(f"s{i % 7}", 50 + i) for i in range(200)]
    df = spark.createDataFrame(rows, "source string, n_tokens int")
    weights = [
        r["weight"] for r in mixture_weights(df, alpha=0.5).collect()
    ]
    assert len(weights) == 7
    assert sum(weights) == pytest.approx(1.0, abs=1e-4)


def test_eval_leak_report_counts(spark):
    """Benchmark-owner decon view: per eval doc, leaking-train-doc and
    gram-hit counts; zero-overlap and too-short eval docs covered."""
    from name_deduplication_python_spark.operators.decontaminate import (
        eval_leak_report,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    ev = spark.createDataFrame(
        [
            (100, base + " lambda mu"),        # leaked into docs 1 and 2
            (101, "unrelated words only here no overlap at all present"),
            (102, "too short"),                # < n tokens -> 0 grams
        ],
        ["doc_id", "text"],
    )
    tr = spark.createDataFrame(
        [
            (1, "prefix " + base + " suffix one"),
            (2, base + " lambda tail"),
            (3, "totally different training text with nothing shared"),
        ],
        ["doc_id", "text"],
    )
    report = eval_leak_report(tr, ev, n=10)
    # bigint: an int32 count overflows (and under ANSI fails the job)
    # past 2^31-1 hits
    dtypes = dict(report.dtypes)
    assert dtypes["n_leaking_docs"] == dtypes["n_gram_hits"] == "bigint"
    got = {r["doc_id"]: r.asDict() for r in report.collect()}
    assert set(got) == {100, 101, 102}
    assert got[100]["n_leaking_docs"] == 2
    assert got[100]["n_gram_hits"] >= 2
    assert got[101]["n_leaking_docs"] == 0 and got[101]["n_gram_hits"] == 0
    assert got[102]["n_grams"] == 0 and got[102]["n_leaking_docs"] == 0
    # gram accounting: eval doc 100 has 12 tokens -> 3 distinct 10-grams
    assert got[100]["n_grams"] == 3


def test_source_token_kl_orders_drift(spark):
    """KL drift: a source distributionally identical to the corpus bulk
    scores near 0; a disjoint-vocabulary source scores far higher; KL is
    never negative (within float noise of the smoothed estimator)."""
    from name_deduplication_python_spark.operators.drift import (
        source_token_kl,
    )

    common = "the quick brown fox jumps over the lazy dog " * 20
    rows = [(f"d{i}", "bulk", common) for i in range(8)]
    rows += [("same", "mirror", common)]
    rows += [("odd", "alien", "zxq wvu tsr qpo nml kji hgf edc " * 20)]
    docs = spark.createDataFrame(rows, ["doc_id", "source", "text"])
    got = {
        r["source"]: r.asDict()
        for r in source_token_kl(docs, group_col="source", buckets=512).collect()
    }
    assert set(got) == {"bulk", "mirror", "alien"}
    assert got["alien"]["kl_vs_corpus"] > got["mirror"]["kl_vs_corpus"]
    assert got["alien"]["kl_vs_corpus"] > 0.5
    for s in got.values():
        assert s["kl_vs_corpus"] >= -1e-4
        assert s["n_tokens"] > 0
