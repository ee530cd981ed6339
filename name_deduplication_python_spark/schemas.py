"""Fixed input schema for the engine (SURVEY.md §1.5, BASELINE.json input_hint).

The reference projects every input onto a fixed all-string schema
(/root/reference/data_utils.py:289-314); our analog is the fixed
Common-Crawl-style web_pages schema below. Stage tables are read back
with the schema they were written with (DedupPipeline._materialize,
IncrementalDedup's store schemas).
"""

from __future__ import annotations

from pyspark.sql import types as T

# Primary input table per BASELINE.json input_hint.
WEB_PAGES = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ]
)
