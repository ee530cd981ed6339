"""Seeded workload inputs, written as parquet with pyarrow (no Spark job).

Every generator is a pure function of its seed: the same seed gives
byte-identical rows. The program under test only ever sees the parquet
files; the planted truth stays on the benchmark side for the checks.
"""

from __future__ import annotations

import datetime as dt
import os
import zlib

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

WEB_PAGES_ARROW = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)


def write_pages(pages: pd.DataFrame, path: str, files: int = 8) -> None:
    """Write web_pages rows as ``files`` row-contiguous parquet parts."""
    os.makedirs(path, exist_ok=True)
    tbl = pa.Table.from_pandas(
        pages[WEB_PAGES_ARROW.names], schema=WEB_PAGES_ARROW, preserve_index=False
    )
    n = tbl.num_rows
    for i in range(files):
        lo, hi = i * n // files, (i + 1) * n // files
        pq.write_table(
            tbl.slice(lo, hi - lo),
            os.path.join(path, f"part-{i:03d}.parquet"),
            coerce_timestamps="us",
        )


# ---- crawl corpus ---------------------------------------------------------


def crawl_corpus(seed: int, n_base: int, url_offset: int = 0):
    """Common-Crawl-shaped pages from ``sources.corpus.generate_corpus``
    (half the rows carry html only, 80-400 tokens, planted exact/near
    families). Returns (pages, truth, full_texts)."""
    from name_deduplication_python_spark.sources.corpus import generate_corpus

    pages, truth = generate_corpus(n_base=n_base, seed=seed, url_offset=url_offset)
    # the same draws without the html pass keep every text (the generator
    # nulls text on half the rows only after wrapping html)
    plain, _ = generate_corpus(
        n_base=n_base, seed=seed, url_offset=url_offset, with_html=False
    )
    return pages, truth, dict(zip(plain["url"], plain["text"]))


# ---- incremental epochs ---------------------------------------------------


def ingest_epochs(seed: int, n_base: int, n_epochs: int, recrawl_frac: float):
    """Split a crawl corpus into ``n_epochs`` ordered batches by url hash.
    Epoch e >= 1 also re-crawls ``recrawl_frac`` of the urls seen in
    earlier epochs, with ~2% of their tokens substituted and a later
    timestamp. Returns (batches, truth, texts, recrawled_urls); ``texts``
    holds the latest text per url."""
    from name_deduplication_python_spark.functions.text_extract import wrap_html

    pages, truth, texts = crawl_corpus(seed, n_base)
    rng = np.random.default_rng(seed + 7_919)
    epoch = np.array([zlib.crc32(u.encode()) % n_epochs for u in pages["url"]])
    vocab = np.array(sorted({w for t in list(texts.values())[:200] for w in t.split(" ")}))
    lang_of = dict(zip(pages["url"], pages["lang"]))
    batches: list[pd.DataFrame] = []
    seen: list[str] = []
    recrawled: set[str] = set()
    for e in range(n_epochs):
        fresh = pages[epoch == e]
        rows = [fresh]
        if e and seen:
            k = max(1, int(len(seen) * recrawl_frac))
            picks = sorted(set(rng.choice(len(seen), size=k, replace=False).tolist()))
            mutated = []
            for i in picks:
                url = seen[i]
                toks = texts[url].split(" ")
                idx = rng.choice(len(toks), size=max(1, len(toks) // 50), replace=False)
                for j in idx:
                    toks[j] = str(rng.choice(vocab))
                text = " ".join(toks)
                texts[url] = text
                recrawled.add(url)
                mutated.append(
                    {
                        "url": url,
                        "warc_ts": dt.datetime(2025, 1, 1, tzinfo=dt.timezone.utc)
                        + dt.timedelta(days=e),
                        "html": wrap_html(text, title="recrawl", lang=lang_of[url]),
                        "text": text,
                        "lang": lang_of[url],
                    }
                )
            rows.append(pd.DataFrame(mutated))
        batches.append(pd.concat(rows, ignore_index=True))
        seen.extend(fresh["url"].tolist())
    return batches, truth, texts, recrawled


# ---- curation tables ------------------------------------------------------

_DOC_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_LANGS = np.array(["en", "en", "en", "zh", "es", "de", "fr"])


# rows per table: the sf0.01 testdata counts for the star schema and
# events, the sf0.1 counts for documents and embeddings
CURATION_ROWS = {
    "documents": 5_000,
    "embeddings": 2_000,
    "customer": 1_500,
    "orders": 15_000,
    "lineitem": 60_000,
    "events": 10_000,
}


def curation_tables(seed: int, path: str) -> None:
    """The star-schema + documents tables the curation queries read, in the
    layout of the engine's testdata (``<path>/<table>.parquet``)."""
    rng = np.random.default_rng(seed)
    n_docs = CURATION_ROWS["documents"]
    os.makedirs(path, exist_ok=True)

    def put(name: str, cols: dict) -> None:
        pq.write_table(
            pa.table(cols), os.path.join(path, f"{name}.parquet"), coerce_timestamps="us"
        )

    lens = rng.integers(10, 101, size=n_docs)
    texts = [" ".join(rng.choice(_DOC_VOCAB, size=int(n))) for n in lens]
    # ~2% exact re-posts and ~2% one-token edits give the dedup queries work
    for i in rng.choice(n_docs, size=n_docs // 50, replace=False):
        texts[i] = texts[int(rng.integers(0, n_docs))]
    for i in rng.choice(n_docs, size=n_docs // 50, replace=False):
        toks = texts[int(rng.integers(0, n_docs))].split(" ")
        toks[int(rng.integers(0, len(toks)))] = "dup"
        texts[i] = " ".join(toks)
    ids = np.arange(n_docs, dtype=np.int64)
    put(
        "documents",
        {
            "doc_id": ids,
            "text": texts,
            "lang": rng.choice(_LANGS, size=n_docs),
            "source": [f"src{i % 20}" for i in ids],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        },
    )

    n_emb = CURATION_ROWS["embeddings"]
    emb = rng.normal(0, 0.15, size=(n_emb, 64)).astype(np.float32)
    put(
        "embeddings",
        {
            "vec_id": np.arange(n_emb, dtype=np.int64),
            "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
            "label": rng.integers(0, 10, size=n_emb).astype(np.int32),
        },
    )

    day0 = np.datetime64("1995-01-01")
    n_cust, n_orders, n_items = (CURATION_ROWS[t] for t in ("customer", "orders", "lineitem"))
    put(
        "customer",
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, size=n_cust).astype(np.int32),
            "c_acctbal": np.round(rng.uniform(-999, 9999, size=n_cust), 2),
            "c_mktsegment": rng.choice(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
                size=n_cust,
            ),
        },
    )
    put(
        "orders",
        {
            "o_orderkey": np.arange(n_orders, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, size=n_orders).astype(np.int64),
            "o_orderstatus": rng.choice(["F", "O", "P"], size=n_orders),
            "o_totalprice": np.round(rng.uniform(1000, 400000, size=n_orders), 2),
            "o_orderdate": (day0 + rng.integers(0, 2500, size=n_orders).astype("timedelta64[D]")).astype("datetime64[us]"),
            "o_orderpriority": rng.choice(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
                size=n_orders,
            ),
        },
    )
    put(
        "lineitem",
        {
            "l_orderkey": rng.integers(0, n_orders, size=n_items).astype(np.int64),
            "l_partkey": rng.integers(0, 2000, size=n_items).astype(np.int64),
            "l_suppkey": rng.integers(0, 100, size=n_items).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, size=n_items).astype(np.int32),
            "l_quantity": rng.integers(1, 51, size=n_items).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900, 100000, size=n_items), 2),
            "l_discount": np.round(rng.integers(0, 11, size=n_items) / 100, 2),
            "l_tax": np.round(rng.integers(0, 9, size=n_items) / 100, 2),
            "l_returnflag": rng.choice(["A", "N", "R"], size=n_items),
            "l_linestatus": rng.choice(["F", "O"], size=n_items),
            "l_shipdate": (day0 + rng.integers(0, 2600, size=n_items).astype("timedelta64[D]")).astype("datetime64[us]"),
        },
    )
    n_ev = CURATION_ROWS["events"]
    ts0 = np.datetime64("2024-01-01T00:00:00", "us")
    put(
        "events",
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": ts0 + np.sort(rng.integers(0, 30 * 86400 * 10**6, size=n_ev)).astype("timedelta64[us]"),
            "user_id": rng.integers(0, 1000, size=n_ev).astype(np.int64),
            "event_type": rng.choice(["view", "click", "purchase", "signup", "error"], size=n_ev),
            "value": np.round(rng.exponential(50, size=n_ev) + 0.01, 2),
            "props": [f'{{"k": {int(k)}}}' for k in rng.integers(0, 100, size=n_ev)],
        },
    )
