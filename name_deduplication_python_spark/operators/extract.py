"""Extraction stage: web_pages -> extracted (url, warc_ts, text, lang).

Analog of the reference's one-time per-row normalization pass
(_precompute_dataframe, /root/reference/analysis_engine.py:90-106):
derive the canonical text ONCE before any pairwise work. The spec runs as
native Catalyst expressions (functions.text_extract.extract_text_expr):
whole-stage codegen, no Python worker and no Arrow hand-off.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text_extract import extract_text_expr


def extract_stage(pages: DataFrame) -> DataFrame:
    """Fill missing ``text`` from ``html`` (byte-deterministic spec).

    Split on ``text.isNull()`` and extract ONLY on the null side, then
    union: the populated side is a plain projection whose scan prunes the
    html column entirely (ReadSchema excludes it), and the extracting
    side's scan pushes ``isnull(text)`` down to parquet. A single
    ``when(isnotnull(text), text).otherwise(...)`` projection would read
    html for every row.
    """
    have_text = pages.where(F.col("text").isNotNull()).select(
        "url", "warc_ts", "text", "lang"
    )
    need_text = pages.where(F.col("text").isNull()).select(
        "url",
        "warc_ts",
        extract_text_expr(F.col("html")).alias("text"),
        "lang",
    )
    return have_text.unionByName(need_text)
