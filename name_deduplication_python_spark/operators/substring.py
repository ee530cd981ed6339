"""Exact long-repeat (substring) pass via rolling-hash winnowing.

North-star stage "suffix-array substring pass for exact long repeats":
the goal is detecting pairs of pages sharing an exact character run of
length >= L (boilerplate, licensing blocks, mirrored articles). A global
suffix array is hostile to distribution (shard-local arrays + boundary
stitching, SURVEY §7.5); the equivalent pair-detection semantics are
obtained with the public winnowing scheme (Schleimer, Wilkerson, Aiken,
"Winnowing: Local Algorithms for Document Fingerprinting", SIGMOD'03),
also used for web-scale dedup in "Deduplicating Training Data Makes
Language Models Better" (Lee et al., 2022, substring dedup):

  1. Rabin-Karp rolling hash of every g-char gram (numpy, batched —
     reuses the polynomial kernel shape of the MinHash stage);
  2. winnowing: keep the minimum hash in every window of w consecutive
     gram hashes -> any shared substring of length >= g + w - 1 chars is
     GUARANTEED to share at least one selected fingerprint (64-bit hash
     collisions aside);
  3. fingerprints become join keys: groupBy fingerprint, pair members
     (same skew-guarded bucket machinery as the LSH band join).

Default g=64, w=32 -> detects shared runs >= 95 chars.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .lsh import candidate_pairs

_B = np.uint64(1099511628211)


def winnow_fingerprints_np(
    text: str, gram_chars: int = 64, window: int = 32
) -> np.ndarray:
    """Distinct winnowed fingerprints (uint64) of one text.

    Thin wrapper over winnow_anchors_np — ONE winnowing kernel (the
    code-point domain) serves both the pair detector and the span
    remover, so they can never disagree on which documents share a run
    (an earlier utf-8-byte twin kernel hashed different g-gram windows
    for non-ASCII text)."""
    return np.unique(winnow_anchors_np(text, gram_chars, window)[0])


def _batch_winnow_anchors(
    texts, gram_chars: int = 64, window: int = 32
) -> list[tuple[np.ndarray, np.ndarray]]:
    """winnow_anchors_np over a whole Arrow batch of texts at once —
    bit-identical selection, one rolling-hash pass (round 7).

    The per-doc kernel pays gram_chars (=64) numpy dispatches per
    DOCUMENT for the Rabin-Karp accumulate; at 500-2000-char web pages
    that dispatch overhead dominated the whole anchor stage. Here all
    long-enough docs concatenate into ONE flat code-point array, the
    64-step accumulate runs once over it, and each doc then slices its
    own valid window range (positions whose g-gram would cross a doc
    boundary are simply never selected — the slice stops at
    n_d - g + 1, so the polynomial values in range are exactly the
    per-doc ones). Docs shorter than gram_chars keep the per-doc path
    (their g adapts to the doc length; they are cheap by definition)."""
    res: list[tuple[np.ndarray, np.ndarray] | None] = [None] * len(texts)
    longs: list[int] = []
    codes_list: list[np.ndarray] = []
    empty = (np.array([], dtype=np.uint64), np.array([], dtype=np.int64))
    for i, t in enumerate(texts):
        if not t:
            res[i] = empty
            continue
        c = np.frombuffer(t.encode("utf-32-le"), dtype=np.uint32)
        if len(c) <= gram_chars:
            res[i] = winnow_anchors_np(t, gram_chars, window)
        else:
            longs.append(i)
            codes_list.append(c.astype(np.uint64))
    if longs:
        g = gram_chars
        lens = np.fromiter((len(c) for c in codes_list), dtype=np.int64)
        starts = np.zeros(len(longs) + 1, dtype=np.int64)
        np.cumsum(lens, out=starts[1:])
        flat = np.concatenate(codes_list)
        with np.errstate(over="ignore"):
            acc = np.zeros(len(flat), dtype=np.uint64)
            for j in range(g):
                shifted = np.empty_like(flat)
                if j == 0:
                    shifted[:] = flat
                else:
                    shifted[:-j] = flat[j:]
                    shifted[-j:] = 0
                acc = acc * _B + shifted
        for d, i in enumerate(longs):
            m = int(lens[d]) - g + 1
            a = acc[starts[d] : starts[d] + m]
            if m <= window:
                p = int(a.argmin())
                res[i] = (a[p : p + 1], np.array([p], dtype=np.int64))
            else:
                sw = np.lib.stride_tricks.sliding_window_view(a, window)
                sel = np.unique(
                    sw.argmin(axis=1) + np.arange(len(sw), dtype=np.int64)
                )
                res[i] = (a[sel], sel)
    return res  # type: ignore[return-value]


def _winnow_stage(extracted, id_col, text_col, gram_chars, window, with_pos):
    """mapInPandas over Arrow batches: (id, fp[, pos]) rows of each
    text's winnowed fingerprints (distinct per doc without positions);
    numpy inner kernels per doc (docs are short relative to batches;
    the per-doc loop is slice arithmetic)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            anchors = _batch_winnow_anchors(list(pdf[text_col]), gram_chars, window)
            if not with_pos:
                anchors = [(np.unique(f), None) for f, _ in anchors]
            counts = [len(f) for f, _ in anchors]
            if not sum(counts):
                continue
            out = {
                id_col: np.repeat(pdf[id_col].astype(str).to_numpy(), counts),
                "fp": np.concatenate([f for f, _ in anchors]).view(np.int64),
            }
            if with_pos:
                out["pos"] = np.concatenate([p for _, p in anchors]).astype(np.int32)
            yield pd.DataFrame(out)

    schema = f"{id_col} string, fp bigint" + (", pos int" if with_pos else "")
    return extracted.select(id_col, text_col).mapInPandas(gen, schema=schema)


def fingerprint_stage(
    extracted: DataFrame,
    id_col: str = "url",
    text_col: str = "text",
    gram_chars: int = 64,
    window: int = 32,
) -> DataFrame:
    """(id, text) -> (id, fp) — one row per distinct winnowed fingerprint."""
    return _winnow_stage(extracted, id_col, text_col, gram_chars, window, False)


def substring_pairs(
    extracted: DataFrame,
    id_col: str = "url",
    text_col: str = "text",
    gram_chars: int = 64,
    window: int = 32,
    bucket_cap: int = 64,
    min_shared_fps: int = 1,
) -> DataFrame:
    """Pairs of docs sharing an exact run >= gram_chars + window - 1 chars.

    Returns (src, dst, n_shared_fps). Reuses the skew-guarded bucket
    pairing from the LSH stage by treating (fp) as the band key.
    """
    # the fingerprint table feeds THREE consumers (bucket keys + both
    # sides of the shared-count join) — materialize the kernel output
    # once instead of re-winnowing the corpus per branch
    fps = fingerprint_stage(
        extracted, id_col, text_col, gram_chars, window
    ).localCheckpoint()
    keys = fps.select(id_col, F.col("fp").alias("bh"))
    pairs, _ = candidate_pairs(keys, id_col=id_col, bucket_cap=bucket_cap)
    # count shared fingerprints per pair for ranking/auditing
    a = fps.select(F.col(id_col).alias("src"), "fp")
    b = fps.select(F.col(id_col).alias("dst"), "fp")
    shared = (
        pairs.join(a, "src").join(b, ["dst", "fp"])
        .groupBy("src", "dst")
        .agg(F.count("*").alias("n_shared_fps"))
        .where(F.col("n_shared_fps") >= min_shared_fps)
    )
    return shared


# --------------------------------------------------------------------------
# Span REMOVAL (VERDICT r4 #3): consume the winnowing matches to locate and
# cut the shared run itself — the Lee et al. 2022 substring-dedup action
# (their suffix-array pipeline removes one occurrence of every duplicated
# span >= 50 tokens; keep-ONE policy). Distributed shape:
#   anchors   (doc, fp, pos): winnowed fingerprints WITH positions — the
#             winnowing guarantee says two docs sharing a run of
#             >= gram + window - 1 chars share at least one selected
#             fingerprint, i.e. a common anchor INSIDE the run;
#   pairs     capped fingerprint-bucket join (same machinery as above),
#             canonical src < dst — the MIN id is the keeper (keep-first);
#   extend    per (pair, anchor): longest common extension around the
#             anchor by direct char comparison of both texts (also the
#             hash-collision guard: a colliding gram extends to < gram
#             chars and is dropped) -> spans to cut from dst;
#   cut       per doc: merge overlapping spans, rebuild the text.
# Positions are CHARACTER offsets (the anchor kernel hashes code points
# via utf-32, not utf-8 bytes) so cuts can never split a multi-byte char.
# --------------------------------------------------------------------------


def winnow_anchors_np(
    text: str, gram_chars: int = 64, window: int = 32
) -> tuple[np.ndarray, np.ndarray]:
    """(fingerprints, char positions) of the winnow-selected grams of one
    text. Selection = first-minimum per window (deterministic and
    self-synchronizing: identical windows of gram hashes select the same
    relative position, which is what the shared-anchor guarantee needs)."""
    codes = np.frombuffer(text.encode("utf-32-le"), dtype=np.uint32).astype(
        np.uint64
    )
    n = len(codes)
    if n == 0:
        return np.array([], dtype=np.uint64), np.array([], dtype=np.int64)
    g = min(gram_chars, n)
    acc = np.zeros(n - g + 1, dtype=np.uint64)
    for j in range(g):
        acc = acc * _B + codes[j : j + n - g + 1]
    if len(acc) <= window:
        p = int(acc.argmin())
        return acc[p : p + 1], np.array([p], dtype=np.int64)
    sw = np.lib.stride_tricks.sliding_window_view(acc, window)
    sel = np.unique(sw.argmin(axis=1) + np.arange(len(sw), dtype=np.int64))
    return acc[sel], sel


def anchor_stage(
    extracted: DataFrame,
    id_col: str = "url",
    text_col: str = "text",
    gram_chars: int = 64,
    window: int = 32,
) -> DataFrame:
    """(id, text) -> (id, fp, pos): winnowed fingerprints with positions."""
    return _winnow_stage(extracted, id_col, text_col, gram_chars, window, True)


def shared_spans(
    extracted: DataFrame,
    id_col: str = "url",
    text_col: str = "text",
    gram_chars: int = 64,
    window: int = 32,
    min_run: int | None = None,
    bucket_cap: int = 64,
) -> DataFrame:
    """(dst, start, end) char spans to CUT: for every candidate pair the
    maximal shared run around each common anchor, attributed to the
    GREATER id (src < dst canonical order; the min id keeps its copy).
    Runs shorter than min_run (default gram_chars + window - 1, the
    winnowing detection guarantee) are never cut. Spans from different
    pairs/anchors may overlap — the cut stage merges them."""
    min_run = min_run if min_run is not None else gram_chars + window - 1
    # three consumers (bucket keys + both anchor-join sides): winnow once
    anchors = anchor_stage(
        extracted, id_col, text_col, gram_chars, window
    ).localCheckpoint()
    keys = anchors.select(id_col, F.col("fp").alias("bh")).distinct()
    pairs, _ = candidate_pairs(keys, id_col=id_col, bucket_cap=bucket_cap)
    a = anchors.select(F.col(id_col).alias("src"), "fp", F.col("pos").alias("pos_a"))
    b = anchors.select(F.col(id_col).alias("dst"), "fp", F.col("pos").alias("pos_b"))
    anch = (
        pairs.join(a, "src")
        .join(b, ["dst", "fp"])
        .groupBy("src", "dst")
        .agg(
            F.sort_array(
                F.collect_list(F.struct(F.col("pos_b"), F.col("pos_a")))
            ).alias("anchors")
        )
    )
    texts = extracted.select(id_col, text_col)
    withtexts = anch.join(
        texts.select(F.col(id_col).alias("src"), F.col(text_col).alias("text_a")),
        "src",
    ).join(
        texts.select(F.col(id_col).alias("dst"), F.col(text_col).alias("text_b")),
        "dst",
    )

    g = gram_chars

    def extend(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            docs: list[str] = []
            starts: list[int] = []
            ends: list[int] = []
            for dst, anchor_list, ta, tb in zip(
                pdf["dst"], pdf["anchors"], pdf["text_a"], pdf["text_b"]
            ):
                done_to = -1  # end of the last span found in tb (sorted by pos_b)
                for row in anchor_list:
                    pb, pa = int(row["pos_b"]), int(row["pos_a"])
                    if pb < done_to:  # anchor inside an already-cut span
                        continue
                    ge = min(g, len(ta) - pa, len(tb) - pb)
                    if ta[pa : pa + ge] != tb[pb : pb + ge]:
                        continue  # 64-bit gram-hash collision: not a run
                    i = 0
                    while pa - 1 - i >= 0 and pb - 1 - i >= 0 and ta[pa - 1 - i] == tb[pb - 1 - i]:
                        i += 1
                    j = ge
                    while pa + j < len(ta) and pb + j < len(tb) and ta[pa + j] == tb[pb + j]:
                        j += 1
                    start, end = pb - i, pb + j
                    if end - start >= min_run:
                        docs.append(dst)
                        starts.append(start)
                        ends.append(end)
                        done_to = end
            if not docs:
                continue
            yield pd.DataFrame(
                {
                    "dst": docs,
                    "start": np.array(starts, dtype=np.int32),
                    "end": np.array(ends, dtype=np.int32),
                }
            )

    return (
        withtexts.mapInPandas(extend, schema="dst string, start int, end int")
        .distinct()
    )


def cut_spans(
    pages: DataFrame,
    spans: DataFrame,
    id_col: str = "url",
    text_col: str = "text",
    out_col: str | None = None,
) -> DataFrame:
    """The cut/rebuild half of span dedup, factored out so a caller can
    interpose on the span set (the driver query materializes spans to a
    parquet view its DuckDB oracle independently merges + cuts in SQL).
    spans: (dst, start, end) char spans to remove; overlapping spans per
    doc are merged before cutting. Docs with no spans pass through
    byte-identical via the left-join coalesce."""
    out_col = out_col or text_col
    per_doc = spans.groupBy(F.col("dst").alias(id_col)).agg(
        F.sort_array(F.collect_list(F.struct("start", "end"))).alias("spans")
    )
    docs = pages.select(id_col, text_col).join(per_doc, id_col)

    def cut(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids: list[str] = []
            outs: list[str] = []
            for i, t, sp in zip(pdf[id_col], pdf[text_col], pdf["spans"]):
                merged: list[list[int]] = []
                for row in sp:  # sorted by start
                    s, e = int(row["start"]), int(row["end"])
                    if merged and s <= merged[-1][1]:
                        merged[-1][1] = max(merged[-1][1], e)
                    else:
                        merged.append([s, e])
                parts = []
                prev = 0
                for s, e in merged:
                    parts.append(t[prev:s])
                    prev = e
                parts.append(t[prev:])
                ids.append(i)
                outs.append("".join(parts))
            if not ids:
                continue
            yield pd.DataFrame({id_col: ids, "_cut": outs})

    rebuilt = docs.mapInPandas(cut, schema=f"{id_col} string, _cut string")
    others = [c for c in pages.columns if c != out_col]
    return pages.join(rebuilt, id_col, "left").select(
        *others,
        F.coalesce("_cut", F.col(text_col)).alias(out_col),
    )


def dedup_spans(
    pages: DataFrame,
    id_col: str = "url",
    text_col: str = "text",
    gram_chars: int = 64,
    window: int = 32,
    min_run: int | None = None,
    bucket_cap: int = 64,
    out_col: str | None = None,
) -> DataFrame:
    """Substring (span-level) dedup: cut every cross-document shared run of
    >= min_run chars (default gram_chars + window - 1) from all but the
    first (minimum-id) document carrying it — keep-first, the Lee et al.
    2022 policy. Untouched documents pass through byte-identical; touched
    documents keep everything outside the cut spans in original order.

    Guarantee (tested): a run of length >= gram + window - 1 shared by two
    docs survives in exactly ONE of them; shorter shared runs are never
    touched. Caveat at corpus scale: hot-fingerprint bucket capping
    (bucket_cap, same skew guard as the LSH join) can leave a run in more
    than one KEEPER when the pair linking two non-minimum carriers was
    capped away — the same residual-duplicate tradeoff as capped LSH."""
    spans = shared_spans(
        pages, id_col, text_col, gram_chars, window, min_run, bucket_cap
    )
    return cut_spans(pages, spans, id_col, text_col, out_col)
