"""Re-crawl revisit analysis: how much did a url's text change between
consecutive crawls?

Common-Crawl-style corpora carry many snapshots of the same url
(input_hint: (url, warc_ts, html, text, lang)); a training-data pipeline
wants to know, per url, whether a revisit is a trivial re-serve (keep one
version) or a real content update (both versions are distinct training
signal). The batch streaming store answers "which version is latest"
(streaming/incremental.py _pruned_store_keys); this operator answers "how
different were the versions" — the revisit analog of the reference's
already-matched drift check (/root/reference/auditor.py remark
consistency, R4), re-expressed over crawl time instead of report runs.

Spark-first shape — no UDF, ONE keyed exchange:
  1. tokens = array_distinct(split(text))       (map-side)
  2. window lag over (partition by url, order by version) pairs each
     crawl with its predecessor — the ONLY shuffle, keyed on url;
     versions-per-url is bounded in real crawls (dozens), so partitions
     stay balanced without salting. A pathological url with millions of
     snapshots would show up in the partition histogram first; cap it
     upstream with the same bucket-cap machinery as the LSH path.
  3. jaccard = |tokens ∩ prev_tokens| / |tokens ∪ prev_tokens|
     via array_intersect/array_union — JVM-side, whole-stage codegen.

At 10^12 docs this plan is a single hash exchange on url plus a
per-partition sort — the same cost class as the pipeline's dedup window
passes; nothing is collected and no state is driver-side.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def revisit_diffs(
    pages: DataFrame,
    url_col: str = "url",
    version_col: str = "warc_ts",
    text_col: str = "text",
    changed_below: float = 0.9,
) -> DataFrame:
    """Per consecutive (prev, curr) crawl pair of each url: the token-set
    Jaccard between the two versions and a changed flag.

    Returns (url, prev_version, version, jaccard, is_changed) — one row
    per revisit (urls crawled once contribute nothing). jaccard is
    round(·, 6) for cross-engine comparability; is_changed = 1 when the
    overlap falls below ``changed_below`` (a trivial re-serve scores
    jaccard 1.0).
    """
    toks = F.array_distinct(F.split(F.trim(F.col(text_col)), " "))
    w = Window.partitionBy("url").orderBy("version")
    paired = pages.select(
        F.col(url_col).alias("url"),
        F.col(version_col).alias("version"),
        toks.alias("_toks"),
    ).select(
        "url",
        F.lag("version").over(w).alias("prev_version"),
        "version",
        F.lag("_toks").over(w).alias("_prev_toks"),
        "_toks",
    )
    jac: Column = F.round(
        F.size(F.array_intersect("_toks", "_prev_toks"))
        / F.size(F.array_union("_toks", "_prev_toks")),
        6,
    )
    return (
        paired.where(F.col("prev_version").isNotNull())
        .select(
            "url",
            "prev_version",
            "version",
            jac.alias("jaccard"),
            (jac < F.lit(changed_below)).cast("int").alias("is_changed"),
        )
    )
