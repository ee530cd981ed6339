"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)  — flagship near-dup clustering over sf0.001 documents.
queries()     — operator inventory per SURVEY.md §2 (see
                name_deduplication_python_spark/plans/queries.py; each
                query documents its reference-operator analog).
oracle_sql()  — DuckDB-runnable ANSI SQL for every query: 52/52 carry an
                oracle. simhash_near_pairs / span_removed_docs /
                semantic_dedup_docs (kernel halves not SQL-reproducible)
                materialize their kernel tables to atomically-swapped
                parquet views the oracle reads via read_parquet, so the
                lossy banding/verify/prune logic is driver-checked; the
                kernels stay bit-identity-gated in pytest
                (tests/test_signatures.py etc.).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: near-duplicate clusters over sf0.001 documents at
    the fixed engine config (shingle k=5, 128 MinHash, 25x5 banding,
    SimHash radius 3) — extract -> sign -> LSH join -> verify -> CC."""
    from pyspark.sql import functions as F

    from name_deduplication_python_spark import DEFAULT_CONFIG
    from name_deduplication_python_spark.trainset import near_dup_clusters

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        F.col("doc_id").cast("string").alias("url"), "text"
    )
    return near_dup_clusters(docs, DEFAULT_CONFIG)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from name_deduplication_python_spark.plans.queries import QUERIES

    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    from name_deduplication_python_spark.plans.queries import ORACLES

    return dict(ORACLES)
