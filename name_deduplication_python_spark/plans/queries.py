"""Driver-contract queries: each implemented operator from SURVEY.md §2
as a (spark, sf_dir) -> DataFrame callable, with a matching ANSI-SQL
oracle string where the semantics are SQL-expressible (DuckDB runs the
oracle on the same parquet views; the driver compares row-count + schema
+ order-insensitive value-hash).

Spark implementation and oracle SQL live side by side per query so the
column-name/alias contract is auditable line by line. All Spark hot
paths are native expressions; UDF-based queries (MinHash/SimHash/CC at
engine config) are rows-only checks per the driver contract.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import DEFAULT_CONFIG
from ..operators.components import connected_components
from ..operators.lsh import band_keys, candidate_pairs, candidate_pairs_two_table
from ..operators.signatures import signature_stage
from ..operators.setsim import set_similarity_join
from ..operators.simhash import simhash_hamming_pairs
from ..functions.pii import PII_PATTERNS as _PII_PATTERNS_REF

# Spark tokenization: split on single spaces after trim (testdata texts are
# single-spaced); the oracle uses the same contract.
_TOK = "split(trim(text), ' ')"

_STOPWORDS = ["the", "a", "of", "and", "in", "to", "is"]
_STOP_SQL = "('" + "','".join(_STOPWORDS) + "')"


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


# --------------------------------------------------------------------------
# 1. exact_dedup — hash-groupBy exact duplicate detection (O4 / A1 trivial
#    case; dedup tier headline op). Representative = min doc_id per text
#    hash, group size, total chars.
# --------------------------------------------------------------------------

def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _docs(spark, sf_dir)
        .groupBy(F.md5(F.col("text")).alias("text_hash"))
        .agg(
            F.min("doc_id").alias("rep_doc_id"),
            F.count("*").alias("group_size"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


SQL_EXACT_DEDUP = """
SELECT md5(text) AS text_hash,
       min(doc_id) AS rep_doc_id,
       count(*) AS group_size,
       sum(n_chars)::BIGINT AS total_chars
FROM documents
GROUP BY md5(text)
"""

# --------------------------------------------------------------------------
# 2. token_jaccard_pairs — n-gram (token-set) Jaccard near-dup self-join:
#    the SQL-expressible analog of the J1/J2 blocked self-join
#    (/root/reference/analysis_engine.py:418-437). Exact set semantics so
#    DuckDB can verify it.
# --------------------------------------------------------------------------

_JACCARD_THETA = 0.5


def _token_sets(docs: DataFrame) -> DataFrame:
    return docs.select(
        "doc_id", F.explode(F.array_distinct(F.expr(_TOK))).alias("tok")
    )


def q_token_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # prefix-filtered exact join (lossless at theta; round-1's full
    # inverted-index join was quadratic in hot-token bucket size)
    docs = _docs(spark, sf_dir).select(
        "doc_id", F.array_distinct(F.expr(_TOK)).alias("toks")
    )
    return set_similarity_join(docs, theta=_JACCARD_THETA, id_col="doc_id")


SQL_TOKEN_JACCARD_PAIRS = f"""
WITH toks AS (
  SELECT doc_id, unnest(list_distinct(string_split(trim(text), ' '))) AS tok
  FROM documents
), sizes AS (
  SELECT doc_id, count(*) AS sz FROM toks GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS src, b.doc_id AS dst, count(*) AS inter
  FROM toks a JOIN toks b ON a.tok = b.tok AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT src, dst,
       round(inter / (sa.sz + sb.sz - inter), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = src
JOIN sizes sb ON sb.doc_id = dst
WHERE round(inter / (sa.sz + sb.sz - inter), 6) >= {_JACCARD_THETA}
"""

# --------------------------------------------------------------------------
# 3. cc_clusters — connected components over the token-Jaccard edge set:
#    distributed large-star/small-star vs DuckDB recursive-CTE transitive
#    closure (A1 analog, /root/reference/analysis_engine.py:555-580).
# --------------------------------------------------------------------------

def q_cc_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    # CC runs directly on numeric ids (least/greatest/min are type-generic);
    # stringified ids would order "10" < "9" and break min-label parity.
    edges = q_token_jaccard_pairs(spark, sf_dir).select("src", "dst")
    comp = connected_components(edges)
    return comp.select(
        F.col("url").alias("doc_id"), F.col("cluster_id").alias("cluster_id")
    )


# NOTE on the oracle: numeric min-label closure via recursive CTE. UNION
# dedups rows so the iteration terminates.
SQL_CC_CLUSTERS = f"""
WITH RECURSIVE edges AS (
  {SQL_TOKEN_JACCARD_PAIRS}
), bi AS (
  SELECT src AS u, dst AS v FROM edges
  UNION
  SELECT dst AS u, src AS v FROM edges
), reach(u, v) AS (
  SELECT u, v FROM bi
  UNION
  SELECT r.u, b.v FROM reach r JOIN bi b ON r.v = b.u
)
SELECT u AS doc_id, least(u, min(v)) AS cluster_id
FROM reach
GROUP BY u
"""

# --------------------------------------------------------------------------
# 4. token_stats — per-language corpus stats (C-ops + A5/A6 analogs).
# --------------------------------------------------------------------------

def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _docs(spark, sf_dir)
        .select(
            "lang",
            "n_chars",
            F.size(F.expr(_TOK)).alias("n_tokens"),
        )
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.round(F.avg("n_tokens"), 4).alias("avg_tokens"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


SQL_TOKEN_STATS = """
SELECT lang,
       count(*) AS n_docs,
       sum(len(string_split(trim(text), ' ')))::BIGINT AS total_tokens,
       round(avg(len(string_split(trim(text), ' '))), 4) AS avg_tokens,
       sum(n_chars)::BIGINT AS total_chars
FROM documents
GROUP BY lang
"""

# --------------------------------------------------------------------------
# 5. quality_scores — text-quality heuristics (training-data pipeline op):
#    token count, mean token length, stopword ratio, alpha ratio.
# --------------------------------------------------------------------------

def q_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    toks = F.expr(_TOK)
    stop_arr = F.array(*[F.lit(s) for s in _STOPWORDS])
    n_tok = F.size(toks)
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t)))
    return docs.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        F.round(F.col("n_chars") / n_tok, 4).alias("mean_token_len"),
        F.round(n_stop / n_tok, 4).alias("stopword_ratio"),
        F.round(
            F.length(F.regexp_replace("text", "[^a-z]", "")) / F.col("n_chars"), 4
        ).alias("alpha_ratio"),
    )


SQL_QUALITY_SCORES = f"""
SELECT doc_id,
       len(string_split(trim(text), ' ')) AS n_tokens,
       round(n_chars / len(string_split(trim(text), ' ')), 4) AS mean_token_len,
       round(len(list_filter(string_split(trim(text), ' '),
                             t -> t IN {_STOP_SQL}))
             / len(string_split(trim(text), ' ')), 4) AS stopword_ratio,
       round(length(regexp_replace(text, '[^a-z]', '', 'g')) / n_chars, 4)
         AS alpha_ratio
FROM documents
"""

# --------------------------------------------------------------------------
# 5b. bpe_token_stats — subword-ish token counting (task-brief training-
#     pipeline op: "whitespace + a BPE-ish regex"). The BPE-ish tokenizer
#     is a closed ASCII regex (letter runs | digit runs | single
#     non-alnum) so Java regex and DuckDB RE2 agree exactly.
# --------------------------------------------------------------------------

_BPE_RE = "[a-z]+|[0-9]+|[^a-z0-9 ]"


def q_bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    n_bpe = F.size(F.expr(f"regexp_extract_all(text, '{_BPE_RE}', 0)"))
    n_ws = F.size(F.expr(_TOK))
    return _docs(spark, sf_dir).select(
        "doc_id",
        n_ws.alias("n_ws_tokens"),
        n_bpe.alias("n_bpe_tokens"),
        F.round(F.col("n_chars") / n_bpe, 4).alias("chars_per_bpe_token"),
    )


SQL_BPE_TOKEN_STATS = f"""
SELECT doc_id,
       len(string_split(trim(text), ' ')) AS n_ws_tokens,
       len(regexp_extract_all(text, '{_BPE_RE}')) AS n_bpe_tokens,
       round(n_chars / len(regexp_extract_all(text, '{_BPE_RE}')), 4)
         AS chars_per_bpe_token
FROM documents
"""

# --------------------------------------------------------------------------
# 6. lang_topk — top-5 languages by doc count (A7 top-5-cities analog,
#    /root/reference/analysis_engine.py:759-766). Deterministic tiebreak.
# --------------------------------------------------------------------------

def q_lang_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _docs(spark, sf_dir)
        .groupBy("lang")
        .agg(F.count("*").alias("n_docs"))
        .orderBy(F.desc("n_docs"), F.asc("lang"))
        .limit(5)
    )


SQL_LANG_TOPK = """
SELECT lang, count(*) AS n_docs
FROM documents
GROUP BY lang
ORDER BY n_docs DESC, lang ASC
LIMIT 5
"""

# --------------------------------------------------------------------------
# 7. doc_fingerprints — per-doc deterministic fingerprint (C13/C14 lineage
#    analog): md5 + first/last token projection.
# --------------------------------------------------------------------------

def q_doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = F.expr(_TOK)
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.md5("text").alias("fingerprint"),
        F.element_at(toks, 1).alias("first_token"),
        F.element_at(toks, -1).alias("last_token"),
        F.length("text").alias("text_len"),
    )


SQL_DOC_FINGERPRINTS = """
SELECT doc_id,
       md5(text) AS fingerprint,
       string_split(trim(text), ' ')[1] AS first_token,
       string_split(trim(text), ' ')[-1] AS last_token,
       length(text) AS text_len
FROM documents
"""

# --------------------------------------------------------------------------
# 8. rank_in_lang — window dense_rank (A9 group-renumbering analog,
#    /root/reference/analysis_engine.py:635).
# --------------------------------------------------------------------------

def q_rank_in_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("lang").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    return (
        _docs(spark, sf_dir)
        .select("doc_id", "lang", "n_chars", F.dense_rank().over(w).alias("rnk"))
        .where(F.col("rnk") <= 10)
    )


SQL_RANK_IN_LANG = """
SELECT doc_id, lang, n_chars, rnk FROM (
  SELECT doc_id, lang, n_chars,
         dense_rank() OVER (PARTITION BY lang ORDER BY n_chars DESC, doc_id ASC)
           AS rnk
  FROM documents
) WHERE rnk <= 10
"""

# --------------------------------------------------------------------------
# 9. dedup_survivors — anti-join of docs against exact-dup non-representatives
#    (P5 already-matched filter analog, /root/reference/analysis_engine.py:545).
# --------------------------------------------------------------------------

def q_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    reps = docs.groupBy(F.md5("text").alias("h")).agg(
        F.min("doc_id").alias("rep_doc_id")
    )
    return (
        docs.withColumn("h", F.md5("text"))
        .join(reps, "h")
        .where(F.col("doc_id") == F.col("rep_doc_id"))
        .select("doc_id", "lang", "n_chars")
    )


SQL_DEDUP_SURVIVORS = """
SELECT doc_id, lang, n_chars
FROM documents d
WHERE doc_id = (
  SELECT min(doc_id) FROM documents d2 WHERE md5(d2.text) = md5(d.text)
)
"""

# --------------------------------------------------------------------------
# 10. ann_topk — brute-force cosine top-k similarity search over embeddings
#     (training-pipeline op; array<float> column). Native zip_with dot
#     product; query set = vec_id < 10. Round for float stability.
# --------------------------------------------------------------------------

_ANN_K = 5


def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir).select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    norm = emb.select(
        "vec_id",
        "v",
        F.sqrt(
            F.aggregate(
                F.transform("v", lambda x: x * x), F.lit(0.0), lambda a, x: a + x
            )
        ).alias("nrm"),
    )
    q = norm.select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv"), F.col("nrm").alias("qn")
    ).where(F.col("query_id") < 10)
    c = norm.select(
        F.col("vec_id").alias("cand_id"), F.col("v").alias("cv"), F.col("nrm").alias("cn")
    )
    dot = F.aggregate(
        F.zip_with("qv", "cv", lambda a, b: a * b), F.lit(0.0), lambda a, x: a + x
    )
    scored = (
        q.crossJoin(c)
        .where(F.col("query_id") != F.col("cand_id"))
        .select(
            "query_id",
            "cand_id",
            (dot / (F.col("qn") * F.col("cn"))).alias("cos_raw"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_raw"), F.asc("cand_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= _ANN_K)
        .select(
            "query_id", "cand_id", F.round("cos_raw", 4).alias("cosine"), "rnk"
        )
    )


SQL_ANN_TOPK = f"""
WITH v AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x))) AS nrm
  FROM embeddings
), scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
         list_dot_product(q.v, c.v) / (q.nrm * c.nrm) AS cos_raw
  FROM v q, v c
  WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id
)
SELECT query_id, cand_id, round(cos_raw, 4) AS cosine, rnk FROM (
  SELECT query_id, cand_id, cos_raw,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos_raw DESC, cand_id ASC) AS rnk
  FROM scored
) WHERE rnk <= {_ANN_K}
"""

# --------------------------------------------------------------------------
# 11. revenue_by_flag — TPC-H Q1-shaped aggregation over lineitem (partial
#     agg / shuffle coverage; A5 numeric-agg analog).
# --------------------------------------------------------------------------

def q_revenue_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count("*").alias("n_rows"),
        )
    )


SQL_REVENUE_BY_FLAG = """
SELECT l_returnflag, l_linestatus,
       sum(l_quantity) AS sum_qty,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       count(*) AS n_rows
FROM lineitem
GROUP BY l_returnflag, l_linestatus
"""

# --------------------------------------------------------------------------
# 12. top_customers — broadcast-dim join + top-k (J3 two-table linkage +
#     O3 analog): orders joined to customer, top 20 by total spend.
# --------------------------------------------------------------------------

def q_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    return (
        orders.groupBy("o_custkey")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("total_spend"),
             F.count("*").alias("n_orders"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .select("c_custkey", "c_name", "total_spend", "n_orders")
        .orderBy(F.desc("total_spend"), F.asc("c_custkey"))
        .limit(20)
    )


SQL_TOP_CUSTOMERS = """
SELECT c_custkey, c_name,
       round(sum(o_totalprice), 2) AS total_spend,
       count(*) AS n_orders
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_custkey, c_name
ORDER BY total_spend DESC, c_custkey ASC
LIMIT 20
"""

# --------------------------------------------------------------------------
# 13. events_windowed — tumbling-window event aggregation (streaming-shaped
#     batch analog; the same plan is used by the structured-streaming
#     module with a watermark).
# --------------------------------------------------------------------------

def q_events_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return (
        ev.groupBy(
            F.date_trunc("hour", F.col("ts")).cast("string").alias("hour"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


SQL_EVENTS_WINDOWED = """
SELECT date_trunc('hour', ts)::VARCHAR AS hour, event_type,
       count(*) AS n_events,
       round(sum(value), 4) AS total_value,
       count(DISTINCT user_id) AS n_users
FROM events
GROUP BY date_trunc('hour', ts), event_type
"""

# --------------------------------------------------------------------------
# 14. embedding_similar_pairs — brute-force cosine pair join over the
#     embeddings table (exact semantics -> DuckDB oracle; the approximate
#     hyperplane-LSH variant is the rows-only ann_lsh_topk below).
#     Threshold 0.35 chosen to be non-trivial on the gaussian testdata
#     (max pairwise cosine there is ~0.51).
# --------------------------------------------------------------------------

_SIM_THETA = 0.35


def q_embedding_similar_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir).select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    norm = emb.select(
        "vec_id",
        "v",
        F.sqrt(
            F.aggregate(
                F.transform("v", lambda x: x * x), F.lit(0.0), lambda a, x: a + x
            )
        ).alias("nrm"),
    )
    a = norm.select(F.col("vec_id").alias("src"), F.col("v").alias("va"), F.col("nrm").alias("na"))
    b = norm.select(F.col("vec_id").alias("dst"), F.col("v").alias("vb"), F.col("nrm").alias("nb"))
    dot = F.aggregate(
        F.zip_with("va", "vb", lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    return (
        a.crossJoin(b)
        .where(F.col("src") < F.col("dst"))
        .select("src", "dst", (dot / (F.col("na") * F.col("nb"))).alias("cos_raw"))
        .where(F.col("cos_raw") >= _SIM_THETA)
        .select("src", "dst", F.round("cos_raw", 4).alias("cosine"))
    )


SQL_EMBEDDING_SIMILAR_PAIRS = f"""
WITH v AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x))) AS nrm
  FROM embeddings
)
SELECT a.vec_id AS src, b.vec_id AS dst,
       round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 4) AS cosine
FROM v a JOIN v b ON a.vec_id < b.vec_id
WHERE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= {_SIM_THETA}
"""

# --------------------------------------------------------------------------
# 15. linkage_pairs — two-corpus record linkage (J3 analog,
#     /root/reference/analysis_engine.py:439-449): documents split by
#     source into "new" (src0-src9) vs "archive" (src1x) corpora, linked
#     on token-set Jaccard >= 0.5 across corpora only.
# --------------------------------------------------------------------------

def q_linkage_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir).select(
        "doc_id",
        F.array_distinct(F.expr(_TOK)).alias("toks"),
        (F.length("source") <= 4).alias("is_new"),
    )
    return set_similarity_join(
        docs.where(F.col("is_new")),
        theta=0.5,
        docs_b=docs.where(~F.col("is_new")),
        id_col="doc_id",
    )


SQL_LINKAGE_PAIRS = """
WITH toks AS (
  SELECT doc_id, length(source) <= 4 AS is_new,
         unnest(list_distinct(string_split(trim(text), ' '))) AS tok
  FROM documents
), sizes AS (
  SELECT doc_id, count(*) AS sz FROM toks GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS src, b.doc_id AS dst, count(*) AS inter
  FROM toks a JOIN toks b ON a.tok = b.tok AND a.is_new AND NOT b.is_new
  GROUP BY a.doc_id, b.doc_id
)
SELECT src, dst,
       round(inter / (sa.sz + sb.sz - inter), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = src
JOIN sizes sb ON sb.doc_id = dst
WHERE round(inter / (sa.sz + sb.sz - inter), 6) >= 0.5
"""

# --------------------------------------------------------------------------
# 16. orders_by_region — multi-way join chain customer->nation->region with
#     aggregation (join-reordering / broadcast coverage).
# --------------------------------------------------------------------------

def q_orders_by_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    region = spark.read.parquet(f"{sf_dir}/region.parquet")
    return (
        orders.join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
    )


SQL_ORDERS_BY_REGION = """
SELECT r_name,
       count(*) AS n_orders,
       round(sum(o_totalprice), 2) AS total_price
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
"""

# --------------------------------------------------------------------------
# 16b. lang_source_rollup — ROLLUP aggregation over documents (grouping
#      sets; beyond the reference's flat groupBys, free in both engines).
# --------------------------------------------------------------------------

def q_lang_source_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _docs(spark, sf_dir)
        .rollup("lang", "source")
        .agg(F.count("*").alias("n_docs"), F.sum("n_chars").alias("total_chars"))
        .select(
            F.coalesce("lang", F.lit("ALL")).alias("lang"),
            F.coalesce("source", F.lit("ALL")).alias("source"),
            "n_docs",
            "total_chars",
        )
    )


SQL_LANG_SOURCE_ROLLUP = """
SELECT coalesce(lang, 'ALL') AS lang,
       coalesce(source, 'ALL') AS source,
       count(*) AS n_docs,
       sum(n_chars)::BIGINT AS total_chars
FROM documents
GROUP BY ROLLUP (lang, source)
"""

# --------------------------------------------------------------------------
# 17a. customers_no_orders — anti join (P5 already-matched-filter shape,
#      /root/reference/analysis_engine.py:545) and
# 17b. parts_multi_supplier — semi join + having.
# --------------------------------------------------------------------------

def q_customers_no_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    return (
        cust.join(orders, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name", "c_nationkey")
    )


SQL_CUSTOMERS_NO_ORDERS = """
SELECT c_custkey, c_name, c_nationkey
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
"""


def q_parts_multi_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    supp = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    multi = (
        li.groupBy("l_partkey")
        .agg(F.countDistinct("l_suppkey").alias("n_suppliers"))
        .where(F.col("n_suppliers") >= 2)
    )
    return (
        part.join(multi, F.col("p_partkey") == F.col("l_partkey"), "left_semi")
        .join(
            li.select("l_partkey", "l_suppkey").distinct(),
            F.col("p_partkey") == F.col("l_partkey"),
        )
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"), "left_semi")
        .groupBy("p_partkey", "p_name")
        .agg(F.count("*").alias("n_supplier_links"))
    )


SQL_PARTS_MULTI_SUPPLIER = """
WITH multi AS (
  SELECT l_partkey FROM lineitem
  GROUP BY l_partkey HAVING count(DISTINCT l_suppkey) >= 2
), links AS (
  SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
)
SELECT p_partkey, p_name, count(*) AS n_supplier_links
FROM part
JOIN links ON p_partkey = l_partkey
WHERE p_partkey IN (SELECT l_partkey FROM multi)
  AND EXISTS (SELECT 1 FROM supplier WHERE s_suppkey = l_suppkey)
GROUP BY p_partkey, p_name
"""

# --------------------------------------------------------------------------
# 17. user_sessions — gap-based sessionization over events (lag window +
#     running sum; the streaming-shaped stateful op in batch form).
#     Session breaks after a 30-minute silence per user.
# --------------------------------------------------------------------------

def q_user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    marked = ev.select(
        "user_id",
        "ts",
        "event_id",
        "value",
        F.when(gap.isNull() | (gap > 1800), 1).otherwise(0).alias("is_new"),
    )
    sess = marked.withColumn(
        "session_seq",
        F.sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        sess.groupBy("user_id", "session_seq")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("session_value"),
            (
                F.unix_timestamp(F.max("ts")) - F.unix_timestamp(F.min("ts"))
            ).alias("duration_sec"),
        )
        .where(F.col("n_events") >= 2)
    )


SQL_USER_SESSIONS = """
WITH marked AS (
  SELECT user_id, ts, event_id, value,
         CASE WHEN lag(ts) OVER w IS NULL
                OR floor(epoch(ts)) - floor(epoch(lag(ts) OVER w)) > 1800
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sess AS (
  SELECT user_id, ts, value,
         (sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING))::BIGINT AS session_seq
  FROM marked
)
SELECT user_id, session_seq,
       count(*) AS n_events,
       round(sum(value), 4) AS session_value,
       floor(epoch(max(ts)))::BIGINT - floor(epoch(min(ts)))::BIGINT AS duration_sec
FROM sess
GROUP BY user_id, session_seq
HAVING count(*) >= 2
"""

# --------------------------------------------------------------------------
# Engine-config queries (not SQL-expressible -> rows-only driver check):
# MinHash-LSH candidates, SimHash pairs, substring fingerprints, ANN-LSH.
# --------------------------------------------------------------------------

def _doc_sigs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("url"), "text"
    )
    c = DEFAULT_CONFIG
    return signature_stage(
        docs, num_hashes=c["num_hashes"], shingle_k=c["shingle_k"], seed=c["seed"]
    )


# exact k-shingle Jaccard config for the driver-checked LSH query: at
# J=0.8 with 25 bands x 5 rows, P(pair escapes banding) = (1-0.8^5)^25
# ~= 5e-5 per pair — the DuckDB brute-force oracle therefore matches the
# banded+exact-verified output (a miss would be a sub-1e-3 tail event on
# this corpus, and the banding parameters exist to make it so).
_SHINGLE_K = 5
_SHINGLE_THETA = 0.8
_SHINGLE_SEP = "\x01"


def _shingle_sets(docs: DataFrame, k: int = _SHINGLE_K) -> DataFrame:
    """(doc_id, shingles array<string>): distinct k-token shingles joined
    by a separator; docs with < k tokens contribute ONE whole-doc shingle
    (mirrored exactly by the SQL oracle)."""
    t = F.expr(_TOK)
    sh = F.when(
        F.size(t) < k, F.array(F.concat_ws(_SHINGLE_SEP, t))
    ).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.size(t) - k + 1),
            lambda i: F.concat_ws(_SHINGLE_SEP, F.slice(t, i, k)),
        )
    )
    return docs.select("doc_id", F.array_distinct(sh).alias("sh"))


def _shingle_hash_sets(docs: DataFrame, k: int = _SHINGLE_K) -> DataFrame:
    """_shingle_sets with every shingle mapped to its xxhash64 (round 7):
    the exact-verify joins only ever take SIZES and INTERSECTION COUNTS
    of these sets, which are hash-invariant (separator-joined shingles
    map to token sequences injectively, so equal-hash <=> equal-shingle
    up to the engine-wide 64-bit collision budget) — but the arrays
    shuffle as 8 B longs instead of ~35 B strings and array_intersect
    compares longs, not strings. The SQL oracles keep brute-forcing the
    STRING shingles; the jaccard arithmetic on (|A|, |B|, |A∩B|) is
    unchanged."""
    t = F.expr(_TOK)
    sh = F.when(
        F.size(t) < k, F.array(F.concat_ws(_SHINGLE_SEP, t))
    ).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.size(t) - k + 1),
            lambda i: F.concat_ws(_SHINGLE_SEP, F.slice(t, i, k)),
        )
    )
    return docs.select(
        "doc_id",
        F.array_distinct(
            F.transform(sh, lambda s: F.xxhash64(s))
        ).alias("sh"),
    )


def q_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidate pairs, EXACT-verified at k-shingle Jaccard >=
    theta: banding (the engine's real signature kernel + band hashing)
    proposes, the exact shingle-set Jaccard — SQL-expressible — disposes.
    Output (src, dst, jaccard) equals the brute-force shingle-Jaccard join
    whenever banding recall is 1.0, which 25x5 banding guarantees to
    ~5e-5/pair at theta=0.8 — so the driver gets a full value-hash check
    of the LSH spine (round-2 this was rows-only).

    Scale note: the exact-verify join ships each candidate's distinct
    shingle-string array (~10-20 KB/doc) — fine for a correctness query
    over candidate pairs (O(dup rate x n)); the ENGINE path verifies with
    the 512 B minhash estimate instead (operators/verify.py) and audits
    exact Jaccard on a sample (operators/audit.py)."""
    c = DEFAULT_CONFIG
    sigs = _doc_sigs(spark, sf_dir)
    keys = band_keys(sigs, bands=c["bands"], rows_per_band=c["rows_per_band"])
    # the DuckDB oracle brute-forces ALL >=theta pairs, so this correctness
    # query must stay LOSSLESS: the engine bucket_cap's star_chain pairing
    # drops intra-bucket pairs above the cap (an identical-family > cap
    # docs would then emit fewer pairs than the oracle). Cap high enough
    # that no sf0.01 bucket can reach it — matching the lossless setting
    # q_simhash_hamming_pairs_sql already uses; the engine default remains
    # the scale setting.
    pairs, _ = candidate_pairs(keys, bucket_cap=1_000_000)
    # candidate_pairs canonicalized by STRING url order ("245" < "8");
    # re-canonicalize numerically to match the oracle's a.doc_id < b.doc_id
    s, d = F.col("src").cast("bigint"), F.col("dst").cast("bigint")
    # candidate pairs are O(dup-rate x n) — materialize them once (they
    # feed the member prune AND the verify join; unmaterialized, the
    # sigs -> band -> bucket pipeline re-ran per consumer)
    pairs = pairs.select(
        F.least(s, d).alias("src"), F.greatest(s, d).alias("dst")
    ).localCheckpoint()
    # build shingle sets ONLY for docs that appear in a candidate pair
    # (round 7): the join planner broadcasts the tiny pair side, so both
    # join branches previously STREAMED a full-corpus shingle build —
    # 2x ~1000 interpreted concat+hash per document for a pair set
    # touching a few percent of docs (measured 17 s of the query's 19 s
    # at sf1.0). One semi-join prune + one checkpointed build replaces
    # both; the pair set and the verify arithmetic are unchanged.
    members = (
        pairs.select(F.col("src").alias("doc_id"))
        .union(pairs.select(F.col("dst").alias("doc_id")))
        .distinct()
    )
    sh = _shingle_hash_sets(
        _docs(spark, sf_dir).join(F.broadcast(members), "doc_id", "semi")
    ).localCheckpoint()
    a = sh.select(F.col("doc_id").alias("src"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("dst"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    jac = F.round(
        inter.cast("double")
        / (F.size("sh_a") + F.size("sh_b") - inter).cast("double"),
        6,
    )
    return (
        pairs.join(a, "src")
        .join(b, "dst")
        .select("src", "dst", jac.alias("jaccard"))
        .where(F.col("jaccard") >= _SHINGLE_THETA)
    )


SQL_MINHASH_LSH_PAIRS = f"""
WITH t AS (
  SELECT doc_id, string_split(trim(text), ' ') AS toks FROM documents
), sh AS (
  SELECT doc_id, unnest(list_distinct(
    CASE WHEN len(toks) < {_SHINGLE_K}
         THEN [array_to_string(toks, chr(1))]
         ELSE [array_to_string(toks[i:i+{_SHINGLE_K - 1}], chr(1))
               FOR i IN range(1, len(toks) - {_SHINGLE_K} + 2)]
    END)) AS s
  FROM t
), sizes AS (
  SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS src, b.doc_id AS dst, count(*) AS inter
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT src, dst,
       round(inter / (sa.sz + sb.sz - inter), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = src
JOIN sizes sb ON sb.doc_id = dst
WHERE round(inter / (sa.sz + sb.sz - inter), 6) >= {_SHINGLE_THETA}
"""


# The kernel 64-bit simhash is not SQL-reproducible, but the part of the
# query that can silently LOSE pairs — banding + verify — is: the query
# materializes its signature table to parquet and the DuckDB oracle
# brute-forces bit_count(xor) <= radius over the SAME signatures (DuckDB
# reads the files directly via read_parquet). The kernel itself stays
# bit-identity-gated in pytest (tests/test_signatures.py). The oracle SQL
# string is static, so it names the driver's correctness scale (sf0.01)
# explicitly; the Spark side writes one view per sf so bench runs at
# other scales never clobber the driver's view.
#
# View-dir hygiene (ADVICE r4): the root is PER-USER (uid suffix; env
# SPARK_GRAFT_VIEW_DIR overrides) so a world-shared /tmp path can't be
# pre-created/squatted by another account, and each refresh lands in a
# fresh v_<rand> subdir with an ATOMIC `current` symlink swap — a
# concurrent run's oracle read sees either the old snapshot or the new
# one, never a mid-overwrite mix of part files.
_SIMHASH_VIEW_ROOT = os.environ.get(
    "SPARK_GRAFT_VIEW_DIR",
    os.path.join("/tmp", f"ndps_driver_views_u{os.getuid()}", "simhash_sigs"),
)
_SIMHASH_ORACLE_SF = "sf0.01"


def _refresh_view(df, base: str) -> str:
    """Write df under base/v_<rand> and atomically point base/current at
    it; prune superseded versions best-effort (keep the newest two so an
    in-flight reader of the previous snapshot never loses its files).
    Returns the stable read path (the symlink)."""
    import shutil
    import uuid

    os.makedirs(base, exist_ok=True)
    vdir = os.path.join(base, f"v_{uuid.uuid4().hex[:12]}")
    df.write.mode("overwrite").parquet(vdir)
    tmp_link = os.path.join(base, f".lnk_{uuid.uuid4().hex[:8]}")
    os.symlink(vdir, tmp_link)
    current = os.path.join(base, "current")
    os.replace(tmp_link, current)
    try:
        versions = sorted(
            (n for n in os.listdir(base) if n.startswith("v_")),
            key=lambda n: os.path.getmtime(os.path.join(base, n)),
        )
        for stale in versions[:-2]:
            shutil.rmtree(os.path.join(base, stale), ignore_errors=True)
    except OSError:
        pass
    return current


def q_simhash_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash Hamming pairs at the ENGINE radius (3) over the engine's
    64-bit signature, via pigeonhole block banding (4 x 16-bit blocks +
    exact bit_count verify) — no cartesian product at any scale. The
    round-1 version crossJoined all documents at radius 16; radius 16
    banding needs 17 near-empty blocks (quadratic again), so the query now
    matches the engine config it feeds.

    Driver-checkable since round 4: the kernel signatures are written to
    a parquet view (see _SIMHASH_VIEW_DIR) and the pairs are computed FROM
    that view, so the DuckDB brute-force oracle reads byte-identical
    signatures. Lossless bucket_cap for the same reason as
    q_minhash_lsh_pairs: the oracle enumerates ALL within-radius pairs.

    Contract limits (accepted): the oracle SQL is a static string pinned
    to the driver's correctness scale (basename 'sf0.01'); running the
    ORACLE against another sf dir is meaningless (the Spark side writes a
    per-sf view, so nothing is clobbered — the oracle would just read the
    sf0.01 view). And unlike the other (side-effect-free) query builders,
    invoking this callable runs the signature job eagerly to refresh the
    view — required so the oracle can never see stale signatures. The
    refresh is concurrency-safe: per-user root + fresh version subdir +
    atomic `current` symlink swap (see _refresh_view)."""
    sigs = _doc_sigs(spark, sf_dir).select(
        F.col("url").cast("bigint").alias("doc_id"), "simhash"
    )
    base = os.path.join(
        _SIMHASH_VIEW_ROOT, os.path.basename(os.path.normpath(sf_dir))
    )
    view = _refresh_view(sigs, base)
    sigs = spark.read.parquet(view)
    out = simhash_hamming_pairs(
        sigs,
        radius=DEFAULT_CONFIG["simhash_radius"],
        sig_bits=64,
        bucket_cap=1_000_000,
    )
    return out.select(
        "src", "dst", F.col("hamming").cast("int").alias("hamming")
    )


SQL_SIMHASH_NEAR_PAIRS = f"""
SELECT a.doc_id AS src, b.doc_id AS dst,
       bit_count(xor(a.simhash, b.simhash))::INT AS hamming
FROM read_parquet('{_SIMHASH_VIEW_ROOT}/{_SIMHASH_ORACLE_SF}/current/*.parquet') a
JOIN read_parquet('{_SIMHASH_VIEW_ROOT}/{_SIMHASH_ORACLE_SF}/current/*.parquet') b
  ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {DEFAULT_CONFIG["simhash_radius"]}
"""


# span REMOVAL (operators.substring.dedup_spans — Lee et al. 2022
# keep-first substring dedup) as a driver-oracled query, same materialized-
# view pattern as simhash_near_pairs: the winnowing/extension half (not
# SQL-expressible) writes its (dst, start, end) span set to a per-sf
# parquet view; the CUT half — interval merge + order-preserving rebuild —
# is then verified hash-exact against an INDEPENDENT DuckDB implementation
# (window-function interval merge + string_agg of the kept segments).
_SPANS_VIEW_ROOT = os.environ.get(
    "SPARK_GRAFT_SPANS_VIEW_DIR",
    os.path.join("/tmp", f"ndps_driver_views_u{os.getuid()}", "shared_spans"),
)
_SPANS_ORACLE_SF = "sf0.01"


def q_span_removed_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring span-removal over the documents table: every cross-doc
    shared run >= gram + window - 1 chars is cut from all but one carrier
    (keep-first); untouched docs pass through byte-identical. Like
    q_simhash_near_pairs this builder eagerly refreshes the span view
    (atomic versioned symlink swap) so the oracle can never read stale
    spans."""
    from ..operators.substring import cut_spans, shared_spans

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).select(
        F.col("doc_id").cast("string").alias("doc_id"), "text"
    )
    spans = shared_spans(docs, id_col="doc_id")
    base = os.path.join(
        _SPANS_VIEW_ROOT, os.path.basename(os.path.normpath(sf_dir))
    )
    view = _refresh_view(spans, base)
    spans_v = spark.read.parquet(view)
    out = cut_spans(docs, spans_v, id_col="doc_id")
    return out.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.col("text").alias("text_dedup"),
    )


SQL_SPAN_REMOVED_DOCS = f"""
WITH spans AS (
  SELECT CAST(dst AS BIGINT) AS doc_id, start, "end"
  FROM read_parquet('{_SPANS_VIEW_ROOT}/{_SPANS_ORACLE_SF}/current/*.parquet')
),
flagged AS (
  SELECT doc_id, start, "end",
         max("end") OVER (PARTITION BY doc_id ORDER BY start, "end"
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS prev_max
  FROM spans
),
grp AS (
  SELECT doc_id, start, "end",
         sum(CASE WHEN prev_max IS NULL OR start > prev_max THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY start, "end") AS g
  FROM flagged
),
merged AS (
  SELECT doc_id, g, min(start) AS s, max("end") AS e
  FROM grp GROUP BY doc_id, g
),
pieces AS (
  SELECT doc_id, lag(e, 1, 0) OVER (PARTITION BY doc_id ORDER BY s) AS ps,
         s AS pe
  FROM merged
  UNION ALL
  SELECT doc_id, max(e) AS ps, 2147483647 AS pe FROM merged GROUP BY doc_id
),
rebuilt AS (
  SELECT p.doc_id,
         string_agg(substring(d.text, p.ps + 1, p.pe - p.ps), ''
                    ORDER BY p.ps) AS text_dedup
  FROM pieces p JOIN documents d USING (doc_id)
  GROUP BY p.doc_id
)
SELECT d.doc_id AS doc_id, coalesce(r.text_dedup, d.text) AS text_dedup
FROM documents d LEFT JOIN rebuilt r USING (doc_id)
"""


# --------------------------------------------------------------------------
# 18b. simhash_hamming_pairs_sql — fully SQL-expressible simhash near-dup:
#      a 60-bit simhash over md5 token hashes (both engines share the exact
#      hash: conv(substr(md5,1,15)) == ('0x'||substr(md5,1,15))::BIGINT),
#      banded in Spark (pigeonhole, no cartesian), brute-forced in DuckDB
#      (oracle clarity over speed). Promotes the SimHash family from
#      rows-only to full value-hash coverage.
# --------------------------------------------------------------------------

_SIMHASH_SQL_BITS = 60
_SIMHASH_SQL_RADIUS = 3


def q_simhash_hamming_pairs_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = _token_sets(_docs(spark, sf_dir))
    h = F.conv(F.substring(F.md5("tok"), 1, 15), 16, 10).cast("bigint")
    th = toks.select("doc_id", h.alias("h"))
    # one groupBy with 60 partial-agg sums (map-side combine, single
    # shuffle) instead of exploding 60x rows per token
    bit_sums = [
        F.sum(
            (
                F.shiftrightunsigned(F.col("h"), i).bitwiseAND(F.lit(1)) * 2 - 1
            )
        ).alias(f"s{i}")
        for i in range(_SIMHASH_SQL_BITS)
    ]
    per_doc = th.groupBy("doc_id").agg(*bit_sums)
    sim = None
    for i in range(_SIMHASH_SQL_BITS):
        term = F.when(F.col(f"s{i}") > 0, F.lit(1 << i)).otherwise(F.lit(0))
        sim = term if sim is None else sim + term
    sigs = per_doc.select("doc_id", sim.cast("bigint").alias("simhash"))
    # the DuckDB oracle brute-forces ALL pairs within radius, so this
    # correctness query must stay lossless: cap high enough that no sf0.01
    # bucket can reach it (the engine default 256 is the scale setting)
    out = simhash_hamming_pairs(
        sigs,
        radius=_SIMHASH_SQL_RADIUS,
        sig_bits=_SIMHASH_SQL_BITS,
        bucket_cap=1_000_000,
    )
    return out.select("src", "dst", F.col("hamming").cast("int").alias("hamming"))


def _simhash_sql_oracle() -> str:
    bits = _SIMHASH_SQL_BITS
    sums = ",\n         ".join(
        f"sum(((h >> {i}) & 1) * 2 - 1) AS s{i}" for i in range(bits)
    )
    combine = " + ".join(
        f"(CASE WHEN s{i} > 0 THEN {1 << i} ELSE 0 END)" for i in range(bits)
    )
    return f"""
WITH toks AS (
  SELECT DISTINCT doc_id, unnest(list_distinct(string_split(trim(text), ' '))) AS tok
  FROM documents
), th AS (
  SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM toks
), bitsums AS (
  SELECT doc_id,
         {sums}
  FROM th GROUP BY doc_id
), sigs AS (
  SELECT doc_id, ({combine})::BIGINT AS simhash FROM bitsums
)
SELECT a.doc_id AS src, b.doc_id AS dst,
       bit_count(xor(a.simhash, b.simhash))::INT AS hamming
FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {_SIMHASH_SQL_RADIUS}
"""


SQL_SIMHASH_HAMMING_PAIRS = _simhash_sql_oracle()


# md5-based winnowing config for the driver-checked substring query: both
# engines share the gram hash exactly (Spark conv(substr(md5,1,15),16,10)
# == DuckDB ('0x'||substr(md5,1,15))::BIGINT — the simhash_sql trick), so
# the whole winnowing selection (min hash per sliding window, SIGMOD'03)
# is SQL-expressible and the driver gets a full value-hash check. The
# engine's xxhash winnowing operator (operators/substring.py) keeps its
# pytest guarantee tests; this query exercises the identical algorithm.
_WIN_G = 32   # gram chars
_WIN_W = 16   # window (grams)
_WIN_MIN_SHARED = 2


def q_substring_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing long-repeat pairs over documents: every window of
    _WIN_W consecutive _WIN_G-char gram hashes contributes its minimum as
    a fingerprint (guarantee: any shared substring of length >=
    G + W - 1 = 47 chars shares a fingerprint); pairs sharing >=
    _WIN_MIN_SHARED distinct fingerprints are reported."""
    docs = _docs(spark, sf_dir).select("doc_id", "text").where(
        F.length("text") >= _WIN_G + _WIN_W - 1
    )
    grams = docs.select(
        "doc_id",
        (F.length("text") - _WIN_G + 1).alias("ng"),
        F.explode(
            F.sequence(F.lit(1), F.length("text") - _WIN_G + 1)
        ).alias("pos"),
        "text",
    ).select(
        "doc_id",
        "ng",
        "pos",
        F.conv(
            F.substring(F.md5(F.expr(f"substring(text, pos, {_WIN_G})")), 1, 15),
            16,
            10,
        ).cast("bigint").alias("h"),
    )
    wspec = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, _WIN_W - 1)
    fps = (
        grams.withColumn("fp", F.min("h").over(wspec))
        .where(F.col("pos") <= F.col("ng") - _WIN_W + 1)
        .select("doc_id", "fp")
        .distinct()
    )
    a = fps.select(F.col("doc_id").cast("bigint").alias("src"), "fp")
    b = fps.select(F.col("doc_id").cast("bigint").alias("dst"), "fp")
    return (
        a.join(b, "fp")
        .where(F.col("src") < F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.count("*").alias("n_shared_fps"))
        .where(F.col("n_shared_fps") >= _WIN_MIN_SHARED)
    )


SQL_SUBSTRING_PAIRS = f"""
WITH d AS (
  SELECT doc_id, text, length(text) - {_WIN_G} + 1 AS ng FROM documents
  WHERE length(text) >= {_WIN_G + _WIN_W - 1}
), pos AS (
  SELECT doc_id, ng, text, unnest(range(1, ng + 1)) AS pos FROM d
), grams AS (
  SELECT doc_id, ng, pos,
         ('0x' || substr(md5(substr(text, pos, {_WIN_G})), 1, 15))::BIGINT AS h
  FROM pos
), wins AS (
  SELECT doc_id, ng, pos,
         min(h) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN CURRENT ROW AND {_WIN_W - 1} FOLLOWING) AS fp
  FROM grams
), fps AS (
  SELECT DISTINCT doc_id, fp FROM wins WHERE pos <= ng - {_WIN_W} + 1
)
SELECT a.doc_id AS src, b.doc_id AS dst, count(*) AS n_shared_fps
FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY 1, 2
HAVING count(*) >= {_WIN_MIN_SHARED}
"""


def _lsh_sat_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH candidate pairs at the SATURATING driver-check
    config: 1 bit x 32 tables. A pair escapes every table only by lying on
    opposite sides of all 32 hyperplanes — P = (theta/pi)^32, < 1e-11 for
    any pair similar enough to appear in a top-k or near-dup result. The
    candidate set therefore provably covers the exact answer and the
    DuckDB brute-force oracle applies VERBATIM (equality required, not
    probabilistic). Selectivity at scale configs (auto log2(n) bits,
    bucket caps) is pytest-gated with planted corpora instead
    (tests/test_ann.py)."""
    from ..operators.ann import hyperplane_signatures

    emb = _emb(spark, sf_dir)
    sigs = hyperplane_signatures(
        emb, dim=64, n_tables=32, bits_per_table=1, seed=DEFAULT_CONFIG["seed"]
    )
    return (
        sigs.select(F.col("vec_id").alias("src"), "table", "bucket")
        .join(
            sigs.select(F.col("vec_id").alias("dst"), "table", "bucket"),
            ["table", "bucket"],
        )
        .where(F.col("src") < F.col("dst"))
        .select("src", "dst")
        .distinct()
    )


def _norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir).select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    return emb.select(
        "vec_id",
        "v",
        F.sqrt(
            F.aggregate(
                F.transform("v", lambda x: x * x), F.lit(0.0), lambda a, x: a + x
            )
        ).alias("nrm"),
    )


def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH top-k (scale path of ann_topk): bucket join ->
    exact cosine re-rank within candidates. Driver config saturates the
    buckets (see _lsh_sat_candidates) so the result EQUALS brute-force
    top-k and SQL_ANN_TOPK is its exact oracle; the re-rank expressions
    mirror q_ann_topk for bit-identical doubles."""
    cand = _lsh_sat_candidates(spark, sf_dir)
    # candidates are canonical src<dst; expand to both query directions
    cand = cand.select(
        F.col("src").alias("query_id"), F.col("dst").alias("cand_id")
    ).unionAll(
        cand.select(F.col("dst").alias("query_id"), F.col("src").alias("cand_id"))
    ).where(F.col("query_id") < 10)
    norm = _norms(spark, sf_dir)
    q = norm.select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv"), F.col("nrm").alias("qn")
    )
    c = norm.select(
        F.col("vec_id").alias("cand_id"), F.col("v").alias("cv"), F.col("nrm").alias("cn")
    )
    dot = F.aggregate(
        F.zip_with("qv", "cv", lambda a, b: a * b), F.lit(0.0), lambda a, x: a + x
    )
    scored = (
        cand.join(q, "query_id")
        .join(c, "cand_id")
        .select(
            "query_id",
            "cand_id",
            (dot / (F.col("qn") * F.col("cn"))).alias("cos_raw"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_raw"), F.asc("cand_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= _ANN_K)
        .select(
            "query_id", "cand_id", F.round("cos_raw", 4).alias("cosine"), "rnk"
        )
    )


def q_embedding_near_dup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH embedding near-dup pairs (scale path of
    embedding_similar_pairs): bucket-join candidates, exact cosine verify.
    Driver config saturates the buckets (see _lsh_sat_candidates) so the
    output EQUALS the brute-force pair set and
    SQL_EMBEDDING_SIMILAR_PAIRS is its exact oracle."""
    cand = _lsh_sat_candidates(spark, sf_dir)
    norm = _norms(spark, sf_dir)
    a = norm.select(F.col("vec_id").alias("src"), F.col("v").alias("va"), F.col("nrm").alias("na"))
    b = norm.select(F.col("vec_id").alias("dst"), F.col("v").alias("vb"), F.col("nrm").alias("nb"))
    dot = F.aggregate(
        F.zip_with("va", "vb", lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    return (
        cand.join(a, "src")
        .join(b, "dst")
        .select("src", "dst", (dot / (F.col("na") * F.col("nb"))).alias("cos_raw"))
        .where(F.col("cos_raw") >= _SIM_THETA)
        .select("src", "dst", F.round("cos_raw", 4).alias("cosine"))
    )


def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-Flat top-k (the data-aware ANN scale path; operators/ann.py
    ann_ivf_topk): spherical-k-means inverted lists, probe + exact
    re-rank. Driver config SATURATES the index (nprobe == n_lists): every
    list is probed, so the candidate set covers all vectors and the
    result EQUALS brute-force top-k — SQL_ANN_TOPK is its exact oracle
    (and centroid float nondeterminism cannot affect the output). Probe
    selectivity at nprobe < n_lists is pytest-gated instead
    (tests/test_ann.py)."""
    from ..operators.ann import ann_ivf_topk

    return ann_ivf_topk(
        _emb(spark, sf_dir),
        k=_ANN_K,
        n_lists=8,
        nprobe=8,
        query_filter=F.col("vec_id") < 10,
        seed=DEFAULT_CONFIG["seed"],
    )


# --------------------------------------------------------------------------
# 28/29. Repetition & boilerplate mining (training-data quality ops, round
#        4): per-document n-gram repetition score — the Gopher-style
#        "fraction of duplicated n-grams" quality signal (Rae et al. 2021,
#        public) — and corpus-level repeated-n-gram mining (boilerplate
#        detection: the n-grams that recur verbatim across/within docs are
#        navigation chrome / footer candidates for span removal).
# --------------------------------------------------------------------------

_REP_N = 8          # token n-gram width
_NG_MIN_COUNT = 2   # corpus miner: keep n-grams seen at least this often


def _doc_ngrams(docs: DataFrame, n: int = _REP_N):
    """(doc_id, grams array<string>) — ALL (non-distinct) n-token grams;
    docs under n tokens contribute ONE whole-doc gram (ratio 0 by
    construction, mirroring the shingle convention)."""
    t = F.expr(_TOK)
    g = F.when(F.size(t) < n, F.array(F.concat_ws(" ", t))).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.size(t) - n + 1),
            lambda i: F.concat_ws(" ", F.slice(t, i, n)),
        )
    )
    return docs.select("doc_id", g.alias("grams"))


def q_repetition_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc duplicated-n-gram fraction: 1 - distinct/total. All native
    array expressions — no explode, no shuffle (map-only over the scan)."""
    g = _doc_ngrams(_docs(spark, sf_dir))
    total = F.size("grams")
    dist = F.size(F.array_distinct("grams"))
    return g.select(
        "doc_id",
        total.alias("n_grams"),
        dist.alias("n_distinct"),
        F.round(
            F.lit(1.0) - dist.cast("double") / total.cast("double"), 6
        ).alias("dup_ratio"),
    )


SQL_REPETITION_SCORES = f"""
WITH t AS (
  SELECT doc_id, string_split(trim(text), ' ') AS toks FROM documents
), g AS (
  SELECT doc_id,
         CASE WHEN len(toks) < {_REP_N}
              THEN [array_to_string(toks, ' ')]
              ELSE [array_to_string(toks[i:i+{_REP_N - 1}], ' ')
                    FOR i IN range(1, len(toks) - {_REP_N} + 2)]
         END AS grams
  FROM t
)
SELECT doc_id,
       len(grams)::INT AS n_grams,
       len(list_distinct(grams))::INT AS n_distinct,
       round(1.0 - len(list_distinct(grams)) / len(grams), 6) AS dup_ratio
FROM g
"""


def q_top_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level repeated-n-gram miner: every n-gram occurring >=
    _NG_MIN_COUNT times, with occurrence count, distinct-doc count, and
    first (min) doc — a count>=threshold set rather than a LIMIT top-k so
    the result is deterministic under ties. One shuffle (the groupBy);
    partial counts combine map-side."""
    g = _doc_ngrams(_docs(spark, sf_dir)).select(
        "doc_id", F.explode("grams").alias("ngram")
    )
    return (
        g.groupBy("ngram")
        .agg(
            F.count("*").alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.min("doc_id").alias("first_doc"),
        )
        .where(F.col("n_occurrences") >= _NG_MIN_COUNT)
    )


SQL_TOP_NGRAMS = f"""
WITH t AS (
  SELECT doc_id, string_split(trim(text), ' ') AS toks FROM documents
), g AS (
  SELECT doc_id,
         unnest(CASE WHEN len(toks) < {_REP_N}
              THEN [array_to_string(toks, ' ')]
              ELSE [array_to_string(toks[i:i+{_REP_N - 1}], ' ')
                    FOR i IN range(1, len(toks) - {_REP_N} + 2)]
         END) AS ngram
  FROM t
)
SELECT ngram,
       count(*) AS n_occurrences,
       count(DISTINCT doc_id) AS n_docs,
       min(doc_id) AS first_doc
FROM g
GROUP BY ngram
HAVING count(*) >= {_NG_MIN_COUNT}
"""


# --------------------------------------------------------------------------
# Gopher-style composite quality filter (Rae et al. 2021 Appendix A,
# closed SQL-mirrorable subset) — the flags + pass/fail conjunction per
# document; functions.text_stats.gopher_flags holds the single rule
# definition, functions.text_stats.filter_documents is the pipeline form.
# --------------------------------------------------------------------------


def q_gopher_quality_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text_stats import gopher_flags

    cols = gopher_flags(F.col("text"))
    return _docs(spark, sf_dir).select(
        "doc_id", *[c.alias(name) for name, c in cols.items()]
    )


_STOP_LIST_SQL = "['" + "','".join(_STOPWORDS) + "']"

SQL_GOPHER_QUALITY_FLAGS = f"""
WITH t AS (
  SELECT doc_id,
         string_split(trim(text), ' ') AS toks,
         string_split(text, chr(10)) AS lines
  FROM documents
), s AS (
  SELECT doc_id,
         len(toks) AS n_words,
         round(list_aggregate(list_transform(toks, x -> length(x)), 'avg'), 4)
           AS mean_word_len,
         round(len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]')))
               / len(toks), 4) AS frac_alpha_words,
         round(len(list_filter(lines, l -> regexp_matches(l, '^ *[-*]')))
               / len(lines), 4) AS frac_bullet_lines,
         round(len(list_filter(lines, l -> regexp_matches(l, '\\.\\.\\.$')))
               / len(lines), 4) AS frac_ellipsis_lines,
         len(list_intersect(list_distinct(toks), {_STOP_LIST_SQL}))
           AS n_stop_distinct
  FROM t
)
SELECT doc_id, n_words, mean_word_len, frac_alpha_words, frac_bullet_lines,
       frac_ellipsis_lines, n_stop_distinct,
       (n_words BETWEEN 50 AND 100000
        AND mean_word_len BETWEEN 3 AND 10
        AND frac_alpha_words >= 0.8
        AND frac_bullet_lines <= 0.9
        AND frac_ellipsis_lines <= 0.3
        AND n_stop_distinct >= 2)::INT AS passes_gopher
FROM s
"""


# --------------------------------------------------------------------------
# C4-style cleaning (Raffel et al. 2020 §2.2, closed SQL-mirrorable
# subset) — line filtering REWRITES the text, page rules flag it;
# functions.text_stats.c4_clean_cols holds the single rule definition,
# c4_clean_documents is the pipeline form. (The paper's three-sentence-
# span dedup is operators/substring.dedup_spans — see span_removed_docs.)
# --------------------------------------------------------------------------


def q_c4_clean_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sf corpus is a single-line punctuation-free word stream, so
    the query first derives a deterministic line-structured page per doc
    (sentence breaks regexp-inserted at ' the '/' a ' boundaries; lorem/
    brace+javascript/badword markers planted by doc_id residue) — the
    identical derivation runs in the oracle, and every C4 rule fires on
    real variety instead of degenerating to 500 empty rewrites."""
    from ..functions.text_stats import c4_clean_cols

    d = F.col("doc_id")
    page = F.concat(
        F.regexp_replace(F.col("text"), " (the|a) ", ".\n"),
        F.when(d % 17 == 0, F.lit("\nlorem ipsum dolor sit amet here today."))
        .otherwise(F.lit("")),
        F.when(d % 13 == 0, F.lit("\nvar x = { javascript object };"))
        .otherwise(F.lit("")),
        F.when(d % 19 == 0, F.lit("\nwatch free xxx content now here."))
        .otherwise(F.lit("")),
    )
    cols = c4_clean_cols(page)
    return _docs(spark, sf_dir).select(
        "doc_id", *[c.alias(name) for name, c in cols.items()]
    )


# badword alternation mirrored verbatim from text_stats.C4_BADWORDS;
# coalesce('') because DuckDB's array_to_string of an empty list is NULL
# while Spark's array_join is ''
SQL_C4_CLEAN_DOCS = r"""
WITH p AS (
  SELECT doc_id,
         regexp_replace(text, ' (the|a) ', '.' || chr(10), 'g')
         || CASE WHEN doc_id % 17 = 0
                 THEN chr(10) || 'lorem ipsum dolor sit amet here today.'
                 ELSE '' END
         || CASE WHEN doc_id % 13 = 0
                 THEN chr(10) || 'var x = { javascript object };'
                 ELSE '' END
         || CASE WHEN doc_id % 19 = 0
                 THEN chr(10) || 'watch free xxx content now here.'
                 ELSE '' END AS text
  FROM documents
), t AS (
  SELECT doc_id, text, regexp_split_to_array(text, '\r?\n') AS lines
  FROM p
), k AS (
  SELECT doc_id, text, len(lines) AS n_lines,
         list_filter(lines, l ->
             regexp_matches(l, '[.!?]["'']? *$')
             AND len(regexp_split_to_array(trim(l), '\s+')) >= 5
             AND NOT contains(lower(l), 'javascript')) AS kept
  FROM t
), s AS (
  SELECT doc_id, text, n_lines, kept,
         coalesce(array_to_string(kept, chr(10)), '') AS clean_text
  FROM k
)
SELECT doc_id,
       clean_text,
       len(kept) AS n_lines_kept,
       n_lines - len(kept) AS n_lines_dropped,
       len(regexp_split_to_array(clean_text, '[.!?]')) - 1 AS n_sentences,
       contains(lower(text), 'lorem ipsum')::INT AS has_lorem_ipsum,
       contains(text, '{')::INT AS has_brace,
       regexp_matches(lower(text), '\b(porn|xxx|viagra|casino\ bonus)\b')::INT
         AS has_badword,
       (len(regexp_split_to_array(clean_text, '[.!?]')) - 1 >= 3
        AND NOT contains(lower(text), 'lorem ipsum')
        AND NOT contains(text, '{')
        AND NOT regexp_matches(lower(text), '\b(porn|xxx|viagra|casino\ bonus)\b')
       )::INT AS passes_c4
FROM s
"""


# --------------------------------------------------------------------------
# CCNet-style line-level boilerplate dedup (operators/linededup) as a
# driver query — exact mode (line strings as keys) so the whole rewrite
# is SQL. Pages derive multi-line structure from the single-line corpus
# (same regexp derivation as c4_clean_docs) plus planted footer lines
# repeated across documents; pages on doc_id%5 break lines with CRLF,
# which both engines split like LF (\r?\n). The oracle replays split ->
# repeated-line table (distinct-doc count >= 2, blanks never
# boilerplate) -> ordered rebuild, empty-string for fully-boilerplate
# docs.
# --------------------------------------------------------------------------


def q_line_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.linededup import dedup_lines

    d = F.col("doc_id")
    nl = F.when(d % 5 == 0, F.lit("\r\n")).otherwise(F.lit("\n"))
    page = F.concat(
        F.regexp_replace(F.col("text"), " (the|a) ", nl),
        nl,
        F.lit("shared footer boilerplate appears on every page"),
        F.when(d % 2 == 0, F.concat(nl, F.lit("even page promo banner text")))
        .otherwise(F.lit("")),
    )
    pages = _docs(spark, sf_dir).select("doc_id", page.alias("text"))
    out = dedup_lines(
        pages, id_col="doc_id", text_col="text", exact=True, out_col="text_dedup"
    )
    return out.select("doc_id", "text_dedup")


SQL_LINE_DEDUP_DOCS = r"""
WITH p AS (
  SELECT doc_id,
         regexp_replace(text, ' (the|a) ', nl, 'g')
         || nl || 'shared footer boilerplate appears on every page'
         || CASE WHEN doc_id % 2 = 0
                 THEN nl || 'even page promo banner text'
                 ELSE '' END AS text
  FROM (SELECT doc_id, text,
               CASE WHEN doc_id % 5 = 0 THEN chr(13) || chr(10)
                    ELSE chr(10) END AS nl
        FROM documents)
), t AS (
  SELECT doc_id, string_split_regex(text, '\r?\n') AS lines FROM p
), x AS (
  SELECT doc_id,
         unnest([{'pos': i, 'line': lines[i]}
                 FOR i IN range(1, len(lines) + 1)], recursive := true)
  FROM t
), rep AS (
  SELECT line FROM x WHERE trim(line) <> ''
  GROUP BY line HAVING count(DISTINCT doc_id) >= 2
), kept AS (
  SELECT doc_id, pos, line FROM x
  WHERE line NOT IN (SELECT line FROM rep)
), o AS (
  SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text_dedup
  FROM kept GROUP BY doc_id
)
SELECT p.doc_id AS doc_id, coalesce(o.text_dedup, '') AS text_dedup
FROM p LEFT JOIN o ON p.doc_id = o.doc_id
"""


# --------------------------------------------------------------------------
# Eval-set decontamination (Brown et al. 2020 Appendix C, 13-gram rule)
# over a deterministic in-table eval split (doc_id % 23 == 0) — see
# operators/decontaminate.py for the broadcast scale shape.
# --------------------------------------------------------------------------

_DECON_N = 13
_DECON_EVAL_MOD = 23


def q_decontaminated_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.decontaminate import flag_contaminated

    docs = _docs(spark, sf_dir)
    ev = docs.where(F.col("doc_id") % _DECON_EVAL_MOD == 0)
    tr = docs.where(F.col("doc_id") % _DECON_EVAL_MOD != 0)
    return flag_contaminated(tr, ev, n=_DECON_N)


SQL_DECONTAMINATED_DOCS = f"""
WITH tok AS (
  SELECT doc_id, string_split(trim(text), ' ') AS toks FROM documents
), g AS (
  SELECT doc_id,
         CASE WHEN len(toks) < {_DECON_N} THEN []::VARCHAR[]
              ELSE list_distinct([array_to_string(toks[i:i+{_DECON_N - 1}], ' ')
                                  FOR i IN range(1, len(toks) - {_DECON_N} + 2)])
         END AS grams
  FROM tok
), ev AS (
  SELECT DISTINCT unnest(grams) AS gram FROM g
  WHERE doc_id % {_DECON_EVAL_MOD} = 0
), tr AS (
  SELECT doc_id, grams FROM g WHERE doc_id % {_DECON_EVAL_MOD} <> 0
), ov AS (
  SELECT trg.doc_id, count(*) AS n_overlap
  FROM (SELECT doc_id, unnest(grams) AS gram FROM tr) trg
  JOIN ev USING (gram)
  GROUP BY trg.doc_id
)
SELECT t.doc_id,
       len(t.grams)::INT AS n_grams,
       coalesce(ov.n_overlap, 0)::INT AS n_overlap,
       (coalesce(ov.n_overlap, 0) > 0)::INT AS is_contaminated
FROM tr t LEFT JOIN ov ON t.doc_id = ov.doc_id
"""


# --------------------------------------------------------------------------
# PII redaction (C4/RefinedWeb-style regex scrub; functions/pii.py).
# The synthetic corpus contains no organic PII, so the query PLANTS a
# deterministic email + phone + IPv4 per doc from doc_id before
# redacting — the oracle performs the identical plant + RE2 scrub, so
# the hash compare verifies actual replacements, not a no-op.
# --------------------------------------------------------------------------

_PII_EMAIL_RE, _PII_PHONE_RE, _PII_IP_RE = (p[1] for p in _PII_PATTERNS_REF)


def q_pii_redacted_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.pii import redact_documents

    planted = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat_ws(
            "",
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com via 10."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".0.1 tel 555-010-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        ).alias("text"),
    )
    return redact_documents(planted).select(
        "doc_id",
        F.col("text").alias("redacted"),
        "n_emails",
        "n_phones",
        "n_ipv4s",
    )


SQL_PII_REDACTED_DOCS = f"""
WITH planted AS (
  SELECT doc_id,
         text || ' contact user' || doc_id::VARCHAR || '@example.com via 10.'
              || (doc_id % 256)::VARCHAR || '.0.1 tel 555-010-'
              || lpad((doc_id % 10000)::VARCHAR, 4, '0') AS text
  FROM documents
)
SELECT doc_id,
       regexp_replace(regexp_replace(regexp_replace(text,
         '{_PII_EMAIL_RE}', '[EMAIL]', 'g'),
         '{_PII_PHONE_RE}', '[PHONE]', 'g'),
         '{_PII_IP_RE}', '[IP]', 'g') AS redacted,
       len(regexp_extract_all(text, '{_PII_EMAIL_RE}'))::INT AS n_emails,
       len(regexp_extract_all(text, '{_PII_PHONE_RE}'))::INT AS n_phones,
       len(regexp_extract_all(text, '{_PII_IP_RE}'))::INT AS n_ipv4s
FROM planted
"""


# --------------------------------------------------------------------------
# Deterministic token-budget corpus sampler (data-mixture construction;
# operators/sampler.py holds the two-pass bucketed cumulative sum that
# avoids one-reducer-per-stratum sorts at 100 TB). The oracle states the
# semantics as the naive per-stratum window — the two-pass result is
# exactly equal.
# --------------------------------------------------------------------------

_SAMPLE_BUDGET = 10_000


def q_token_budget_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampler import token_budget_sample

    return token_budget_sample(_docs(spark, sf_dir), _SAMPLE_BUDGET)


SQL_TOKEN_BUDGET_SAMPLE = f"""
WITH t AS (
  SELECT doc_id, lang,
         len(string_split(trim(text), ' '))::INT AS n_tokens,
         md5(doc_id::VARCHAR) AS k
  FROM documents
), c AS (
  SELECT doc_id, lang, n_tokens,
         (sum(n_tokens) OVER (
            PARTITION BY lang ORDER BY k, doc_id))::BIGINT AS cum_tokens
  FROM t
)
SELECT doc_id, lang, n_tokens, cum_tokens FROM c
WHERE cum_tokens <= {_SAMPLE_BUDGET}
"""


# --------------------------------------------------------------------------
# Quality-aware cluster representatives — keep the best-scoring member
# of each near-dup cluster (argmax alpha_ratio, min doc_id tiebreak):
# the "keep the best copy" survivor policy. Composes cc_clusters with
# quality_scores; operators/report.py:best_member_per_cluster holds the
# single-aggregate (no window) scale shape.
# --------------------------------------------------------------------------


def q_cluster_best_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.report import best_member_per_cluster

    comp = q_cc_clusters(spark, sf_dir)
    q = q_quality_scores(spark, sf_dir).select("doc_id", "alpha_ratio")
    return best_member_per_cluster(comp.join(q, "doc_id"), "alpha_ratio")


SQL_CLUSTER_BEST_DOCS = f"""
WITH j AS (
  SELECT comp.cluster_id, comp.doc_id, q.alpha_ratio
  FROM ({SQL_CC_CLUSTERS}) comp JOIN ({SQL_QUALITY_SCORES}) q
    USING (doc_id)
), r AS (
  SELECT cluster_id, doc_id, alpha_ratio,
         row_number() OVER (PARTITION BY cluster_id
                            ORDER BY alpha_ratio DESC, doc_id ASC) AS rn,
         count(*) OVER (PARTITION BY cluster_id) AS n_members
  FROM j
)
SELECT cluster_id, doc_id AS rep_doc_id, alpha_ratio AS rep_alpha_ratio,
       n_members
FROM r WHERE rn = 1
"""


# --------------------------------------------------------------------------
# Greedy shard packing (training-loader layout): per-stratum shards of
# ~_SHARD_TOKENS tokens in the same md5 priority order as the sampler; a
# doc lives in the shard where it starts. Shares the sampler's two-pass
# cumulative-sum kernel.
# --------------------------------------------------------------------------

_SHARD_TOKENS = 5_000


def q_shard_assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampler import assign_shards

    return assign_shards(_docs(spark, sf_dir), _SHARD_TOKENS)


SQL_SHARD_ASSIGNMENTS = f"""
WITH t AS (
  SELECT doc_id, lang,
         len(string_split(trim(text), ' '))::INT AS n_tokens,
         md5(doc_id::VARCHAR) AS k
  FROM documents
), c AS (
  SELECT doc_id, lang, n_tokens,
         (sum(n_tokens) OVER (
            PARTITION BY lang ORDER BY k, doc_id))::BIGINT AS cum_tokens
  FROM t
)
SELECT doc_id, lang, n_tokens,
       ((cum_tokens - n_tokens) // {_SHARD_TOKENS})::BIGINT AS shard_id
FROM c
"""


# --------------------------------------------------------------------------
# 38. semantic_dedup_docs — SemDeDup-style semantic prune (Abbas et al.
#     2023) over the embeddings table: spherical-k-means lists (the IVF
#     quantizer), then within each list drop every doc with a smaller-id
#     neighbor at cosine >= theta. Same materialized-view pattern as
#     simhash_near_pairs: the k-means assignment (float-accumulation-
#     order dependent at the margins, not SQL-expressible) is snapshotted
#     to a parquet view; the engine's prune AND the DuckDB oracle both
#     read that snapshot, so the oracle checks the prune rule exactly.
# --------------------------------------------------------------------------

_SEMDEDUP_VIEW_ROOT = os.environ.get(
    "SPARK_GRAFT_SEMDEDUP_VIEW_DIR",
    os.path.join("/tmp", f"ndps_driver_views_u{os.getuid()}", "semdedup_assign"),
)
_SEMDEDUP_ORACLE_SF = "sf0.01"
_SEMDEDUP_THETA = 0.40   # sf0.01 max pair cosine is 0.513; 59 pairs >= 0.40
_SEMDEDUP_LISTS = 8


def q_semantic_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-embedding (vec_id, list_id, is_kept) under the SemDeDup
    closed-form keep rule (operators/ann.py:semantic_dedup — docstring
    there states the rule and its relation to the paper's greedy sweep).
    Runs lossless (bucket_cap covers any list) at driver scale; the
    production default caps hot lists through the shared skew machinery.
    Like q_simhash_near_pairs, invoking this builder eagerly refreshes
    the assignment view so the oracle can never read a stale snapshot."""
    return _semantic_dedup_view(spark, sf_dir, "prune")


def _semantic_dedup_view(spark: SparkSession, sf_dir: str, mode: str) -> DataFrame:
    from ..operators.ann import semantic_assign, semantic_dedup

    assigned = semantic_assign(
        _emb(spark, sf_dir), n_lists=_SEMDEDUP_LISTS, seed=DEFAULT_CONFIG["seed"]
    )
    base = os.path.join(_SEMDEDUP_VIEW_ROOT, os.path.basename(os.path.normpath(sf_dir)))
    assigned = spark.read.parquet(_refresh_view(assigned, base))
    return semantic_dedup(
        assigned, cos_threshold=_SEMDEDUP_THETA, bucket_cap=1_000_000, mode=mode
    )


SQL_SEMANTIC_DEDUP_DOCS = f"""
WITH n AS (
  SELECT vec_id, list_id, v,
         sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
  FROM read_parquet('{_SEMDEDUP_VIEW_ROOT}/{_SEMDEDUP_ORACLE_SF}/current/*.parquet')
), dup AS (
  SELECT DISTINCT a.vec_id AS vec_id
  FROM n a JOIN n b ON a.list_id = b.list_id AND b.vec_id < a.vec_id
  WHERE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= {_SEMDEDUP_THETA}
)
SELECT n.vec_id, n.list_id, (dup.vec_id IS NULL)::INT AS is_kept
FROM n LEFT JOIN dup ON n.vec_id = dup.vec_id
"""


# --------------------------------------------------------------------------
# 38b. semantic_dedup_chain_docs — the round-6 mode='chain' keep rule
#     over the same materialized assignment view: connected components
#     over the thresholded within-list similarity edges, keep exactly
#     each component's min id (one survivor per TRANSITIVE semantic
#     group; the prune rule can keep both ends of an A~B~C chain when
#     the middle doc has the largest id). Oracle = the cc_clusters
#     recursive min-label closure applied to the cosine edge set.
# --------------------------------------------------------------------------


def q_semantic_dedup_chain_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _semantic_dedup_view(spark, sf_dir, "chain")


SQL_SEMANTIC_DEDUP_CHAIN_DOCS = f"""
WITH RECURSIVE n AS (
  SELECT vec_id, list_id, v,
         sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
  FROM read_parquet('{_SEMDEDUP_VIEW_ROOT}/{_SEMDEDUP_ORACLE_SF}/current/*.parquet')
), e AS (
  SELECT a.vec_id AS src, b.vec_id AS dst
  FROM n a JOIN n b ON a.list_id = b.list_id AND a.vec_id < b.vec_id
  WHERE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= {_SEMDEDUP_THETA}
), bi AS (
  SELECT src AS u, dst AS v FROM e
  UNION
  SELECT dst AS u, src AS v FROM e
), reach(u, v) AS (
  SELECT u, v FROM bi
  UNION
  SELECT r.u, b.v FROM reach r JOIN bi b ON r.v = b.u
), comp AS (
  SELECT u AS vec_id, least(u, min(v)) AS cluster_id
  FROM reach GROUP BY u
)
SELECT n.vec_id, n.list_id,
       (comp.cluster_id IS NULL OR comp.cluster_id = n.vec_id)::INT AS is_kept
FROM n LEFT JOIN comp ON n.vec_id = comp.vec_id
"""


# --------------------------------------------------------------------------
# 39. dsir_scores — DSIR importance weights (Xie et al. 2023,
#     arXiv:2302.03169) over the documents table: hashed unigram+bigram
#     buckets, target = every 17th doc (a stand-in for the user's
#     high-quality corpus), raw = the rest; each raw doc scores
#     sum(ln p_target(bucket) - ln p_raw(bucket)) over its grams.
#     Fully end-to-end oracle-able — bucketing is an md5-prefix hash
#     (int(md5[:12],16) % B) that DuckDB computes bit-identically, so
#     unlike simhash/semdedup no materialized view is needed.
# --------------------------------------------------------------------------

_DSIR_BUCKETS = 4096
_DSIR_TARGET_MOD = 17


def q_dsir_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dsir import (
        fit_logratio_values_flagged,
        hashed_gram_buckets,
        lookup_sum_expr,
    )

    # null-text docs excluded on both sides (same contract as ccnet_lm_ppl:
    # the Spark explode drops them; the oracle would emit them with NULLs)
    docs = _docs(spark, sf_dir).where(F.col("text").isNotNull())
    # featurize the WHOLE corpus exactly once (round 7; both the fit
    # counts and the scoring pass read this checkpoint — md5
    # featurization dominates this query's cost). The testdata parquet
    # is a single small file -> few scan partitions, so spread the
    # compute before hashing (at production scale the input arrives in
    # thousands of splits and this repartition is a no-op to remove).
    par = spark.sparkContext.defaultParallelism
    all_b = hashed_gram_buckets(
        docs.repartition(par), buckets=_DSIR_BUCKETS
    ).localCheckpoint()
    raw_b = all_b.where(F.col("id") % _DSIR_TARGET_MOD != 0)
    # fit = ONE flagged count job + one <= 2B-row parameter collect off
    # the checkpoint; scoring = one map-only literal-lookup fold — no
    # gram explode, no broadcast join, no per-doc shuffle
    vals = fit_logratio_values_flagged(
        all_b, F.col("id") % _DSIR_TARGET_MOD == 0, buckets=_DSIR_BUCKETS
    )
    return raw_b.select(
        F.col("id").alias("doc_id"),
        F.size("buckets").alias("n_grams"),
        F.round(lookup_sum_expr("buckets", vals), 4).alias("dsir_logweight"),
    )


SQL_DSIR_SCORES = f"""
WITH tok AS (
  SELECT doc_id, string_split(trim(text), ' ') AS toks FROM documents
  WHERE text IS NOT NULL
), g AS (
  SELECT doc_id,
         list_concat(
           toks,
           CASE WHEN len(toks) < 2 THEN []::VARCHAR[]
                ELSE [array_to_string(toks[i:i+1], ' ')
                      FOR i IN range(1, len(toks))] END
         ) AS grams
  FROM tok
), b AS (
  SELECT doc_id,
         [(cast(('0x' || substr(md5(x), 1, 12)) AS BIGINT)
           % {_DSIR_BUCKETS})::INT FOR x IN grams] AS bkts
  FROM g
), e AS (
  SELECT doc_id, unnest(bkts) AS bucket FROM b
), ct AS (
  SELECT bucket, count(*) AS c FROM e
  WHERE doc_id % {_DSIR_TARGET_MOD} = 0 GROUP BY bucket
), cr AS (
  SELECT bucket, count(*) AS c FROM e
  WHERE doc_id % {_DSIR_TARGET_MOD} <> 0 GROUP BY bucket
), tot AS (
  SELECT (SELECT coalesce(sum(c), 0) FROM ct) AS tt,
         (SELECT coalesce(sum(c), 0) FROM cr) AS tr
), lr AS (
  SELECT sp.bucket,
         ln((coalesce(ct.c, 0) + 1) / (tot.tt + {_DSIR_BUCKETS}.0))
           - ln((coalesce(cr.c, 0) + 1) / (tot.tr + {_DSIR_BUCKETS}.0))
           AS logratio
  FROM range({_DSIR_BUCKETS}) sp(bucket)
  LEFT JOIN ct ON sp.bucket = ct.bucket
  LEFT JOIN cr ON sp.bucket = cr.bucket
  CROSS JOIN tot
)
SELECT b.doc_id,
       len(b.bkts)::INT AS n_grams,
       round(coalesce(sum(lr.logratio), 0), 4) AS dsir_logweight
FROM b
LEFT JOIN e ON b.doc_id = e.doc_id
LEFT JOIN lr ON e.bucket = lr.bucket
WHERE b.doc_id % {_DSIR_TARGET_MOD} <> 0
GROUP BY b.doc_id, len(b.bkts)
"""


# --------------------------------------------------------------------------
# 40. dsir_sample_docs — the DSIR Gumbel-top-k sampler end-to-end: the
#     derandomized Gumbel key (md5-derived uniform) is engine-portable
#     arithmetic, so DuckDB replays scoring AND selection bit-exactly.
# --------------------------------------------------------------------------

_DSIR_SAMPLE_K = 100


def q_dsir_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dsir import dsir_sample

    w = q_dsir_scores(spark, sf_dir)
    sel = dsir_sample(w, _DSIR_SAMPLE_K, seed=DEFAULT_CONFIG["seed"])
    return sel.select(
        "doc_id",
        "dsir_logweight",
        F.round("gumbel_key", 4).alias("gumbel_key"),
    )


SQL_DSIR_SAMPLE_DOCS = f"""
WITH w AS ({SQL_DSIR_SCORES}),
keyed AS (
  SELECT doc_id, dsir_logweight,
         dsir_logweight
           - ln(-ln((('0x' || substr(md5(doc_id::VARCHAR || ':{DEFAULT_CONFIG["seed"]}'),
                                     1, 12))::BIGINT + 0.5) / {float(1 << 48)}))
           AS gk
  FROM w
)
SELECT doc_id, dsir_logweight, round(gk, 4) AS gumbel_key
FROM keyed
ORDER BY gk DESC
LIMIT {_DSIR_SAMPLE_K}
"""


# --------------------------------------------------------------------------
# 41. fuzzy_decontaminated_docs — NearDup train/eval decontamination
#     (Lee et al. 2022 §5): the engine's LSH banding proposes cross-split
#     candidates, EXACT shingle Jaccard — SQL-expressible — disposes, so
#     the DuckDB brute-force train x eval join is a full-value oracle
#     (same lossless-banding argument as minhash_lsh_pairs: 25x5 misses
#     a theta-pair w.p. ~5e-5). The ENGINE operator
#     (decontaminate.flag_contaminated_fuzzy) verifies with the 512 B
#     minhash estimate instead — this query pins the candidate spine and
#     the aggregation semantics.
# --------------------------------------------------------------------------


def q_fuzzy_decontaminated_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = DEFAULT_CONFIG
    sigs = _doc_sigs(spark, sf_dir)
    keys = band_keys(sigs, bands=c["bands"], rows_per_band=c["rows_per_band"])
    ev_pred = F.col("url").cast("bigint") % _DECON_EVAL_MOD == 0
    cands = candidate_pairs_two_table(
        keys.where(~ev_pred), keys.where(ev_pred).hint("broadcast"),
        id_col="url",
    ).localCheckpoint()
    # same member-prune as q_minhash_lsh_pairs: shingle sets built once,
    # only for docs appearing in a train/eval candidate (the broadcast
    # pair side otherwise streams two full-corpus shingle builds)
    members = (
        cands.select(F.col("src").alias("url"))
        .union(cands.select(F.col("dst").alias("url")))
        .distinct()
        .select(F.col("url").cast("bigint").alias("doc_id"))
    )
    sh = _shingle_hash_sets(
        _docs(spark, sf_dir).join(F.broadcast(members), "doc_id", "semi")
    ).localCheckpoint()
    a = sh.select(
        F.col("doc_id").cast("string").alias("src"), F.col("sh").alias("sh_a")
    )
    b = sh.select(
        F.col("doc_id").cast("string").alias("dst"), F.col("sh").alias("sh_b")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    jac = F.round(
        inter.cast("double")
        / (F.size("sh_a") + F.size("sh_b") - inter).cast("double"),
        6,
    )
    hits = (
        cands.join(a, "src")
        .join(b, "dst")
        .select(F.col("src").cast("bigint").alias("doc_id"), jac.alias("j"))
        .where(F.col("j") >= _SHINGLE_THETA)
    )
    agg = hits.groupBy("doc_id").agg(
        F.count("*").alias("_n"), F.max("j").alias("_maxj")
    )
    base = (
        _docs(spark, sf_dir)
        .where(F.col("doc_id") % _DECON_EVAL_MOD != 0)
        .select("doc_id")
    )
    return base.join(agg, "doc_id", "left").select(
        "doc_id",
        F.coalesce("_n", F.lit(0)).cast("int").alias("n_eval_matches"),
        F.round(F.coalesce("_maxj", F.lit(0.0)), 6).alias("max_jaccard"),
        (F.coalesce("_n", F.lit(0)) > 0).cast("int").alias("is_contaminated"),
    )


SQL_FUZZY_DECONTAMINATED_DOCS = f"""
WITH t AS (
  SELECT doc_id, string_split(trim(text), ' ') AS toks FROM documents
), sh AS (
  SELECT doc_id, unnest(list_distinct(
    CASE WHEN len(toks) < {_SHINGLE_K}
         THEN [array_to_string(toks, chr(1))]
         ELSE [array_to_string(toks[i:i+{_SHINGLE_K - 1}], chr(1))
               FOR i IN range(1, len(toks) - {_SHINGLE_K} + 2)]
    END)) AS s
  FROM t
), sizes AS (
  SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS src, count(*) AS inter, sa.sz AS sza, sb.sz AS szb
  FROM sh a
  JOIN sh b ON a.s = b.s
  JOIN sizes sa ON sa.doc_id = a.doc_id
  JOIN sizes sb ON sb.doc_id = b.doc_id
  WHERE a.doc_id % {_DECON_EVAL_MOD} <> 0 AND b.doc_id % {_DECON_EVAL_MOD} = 0
  GROUP BY a.doc_id, b.doc_id, sa.sz, sb.sz
), hits AS (
  SELECT src, round(inter / (sza + szb - inter), 6) AS j FROM inter
), agg AS (
  SELECT src, count(*) AS n, max(j) AS maxj
  FROM hits WHERE j >= {_SHINGLE_THETA} GROUP BY src
)
SELECT d.doc_id,
       coalesce(n, 0)::INT AS n_eval_matches,
       round(coalesce(maxj, 0.0), 6) AS max_jaccard,
       (coalesce(n, 0) > 0)::INT AS is_contaminated
FROM (SELECT doc_id FROM documents WHERE doc_id % {_DECON_EVAL_MOD} <> 0) d
LEFT JOIN agg ON agg.src = d.doc_id
"""


# --------------------------------------------------------------------------
# 42. url_filtered_docs — RefinedWeb-style URL filtering (functions/
#     urlfilter.py). documents carries no real URLs, so both engines
#     synthesize the same deterministic URL per doc (digit-farm hosts,
#     co.uk + com.sg registry suffixes, blogspot private-section hosts,
#     a planted casino path, blocklisted domains) and the
#     survivors-with-scores table is value-compared — host parsing,
#     FULL Public-Suffix-List registrable domains (functions/psl.py,
#     round 6: the same shipped rule snapshot rendered as a DuckDB
#     CASE), keyword and digit scoring, and the blocklist all replayed
#     in DuckDB. src10.com.sg is the PSL-distinguishing blocklist entry
#     (doc_id%5==0 forces source = src{0,5,10,15}, so src10 DOES land on
#     the com.sg branch): under the old public-suffix-lite rules its
#     domain collapsed to 'com.sg' and the blocklist could never match.
# --------------------------------------------------------------------------

_URLF_BLOCKLIST = ("src3.com", "src5.co.uk", "src10.com.sg")


def _synth_url() -> "F.Column":
    did = F.col("doc_id")
    host = (
        F.when(did % 13 == 0, F.concat((did * 101).cast("string"), F.lit("0000.net")))
        .when(did % 7 == 0, F.concat(F.col("source"), F.lit(".co.uk")))
        .when(did % 5 == 0, F.concat(F.col("source"), F.lit(".com.sg")))
        .when(did % 3 == 0, F.concat(F.col("source"), F.lit(".blogspot.com")))
        .otherwise(F.concat(F.col("source"), F.lit(".com")))
    )
    path = F.when(did % 11 == 0, F.lit("/casino-bonus")).otherwise(
        F.concat(F.lit("/p/"), did.cast("string"))
    )
    return F.concat(F.lit("https://"), host, path)


def q_url_filtered_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.psl import load_psl
    from ..functions.urlfilter import filter_urls

    docs = _docs(spark, sf_dir).select("doc_id", "source", _synth_url().alias("url"))
    kept = filter_urls(
        docs, blocklist=list(_URLF_BLOCKLIST), keep_flags=True, psl=load_psl()
    )
    return kept.select("doc_id", "host", "domain", "kw_hits", "digit_ratio", "url_len")


from ..functions.psl import load_psl as _urlf_load_psl  # noqa: E402
from ..functions.psl import registered_domain_sql as _urlf_rd_sql  # noqa: E402
from ..functions.urlfilter import BLOCK_KEYWORDS as _URLF_KWS  # noqa: E402

_URLF_KW_SQL = " + ".join(
    f"(CASE WHEN lower(url) LIKE '%{k}%' THEN 1 ELSE 0 END)" for k in _URLF_KWS
)
_URLF_BL_SQL = ", ".join(f"'{d}'" for d in _URLF_BLOCKLIST)

SQL_URL_FILTERED_DOCS = f"""
WITH u AS (
  SELECT doc_id,
         'https://'
         || CASE WHEN doc_id % 13 = 0 THEN (doc_id * 101)::VARCHAR || '0000.net'
                 WHEN doc_id % 7 = 0 THEN source || '.co.uk'
                 WHEN doc_id % 5 = 0 THEN source || '.com.sg'
                 WHEN doc_id % 3 = 0 THEN source || '.blogspot.com'
                 ELSE source || '.com' END
         || CASE WHEN doc_id % 11 = 0 THEN '/casino-bonus'
                 ELSE '/p/' || doc_id::VARCHAR END AS url
  FROM documents
), f AS (
  SELECT doc_id, url,
         lower(regexp_extract(url,
           '^(?:[a-zA-Z][a-zA-Z0-9+.-]*://)?(?:[^/?#@]*@)?([^/?#:]+)', 1)) AS host
  FROM u
), d AS (
  SELECT doc_id, url, host,
         {_urlf_rd_sql("host", _urlf_load_psl())} AS domain
  FROM f
), s AS (
  SELECT doc_id, host, domain,
         ({_URLF_KW_SQL})::INT AS kw_hits,
         round(len(regexp_replace(host, '[^0-9]', '', 'g'))
               / greatest(len(host), 1), 4) AS digit_ratio,
         len(url)::INT AS url_len
  FROM d
)
SELECT doc_id, host, domain, kw_hits, digit_ratio, url_len
FROM s
WHERE kw_hits <= 0 AND digit_ratio <= 0.5 AND url_len <= 2048
  AND domain NOT IN ({_URLF_BL_SQL})
"""


# --------------------------------------------------------------------------
# 45. ccnet_lm_ppl — CCNet-style LM-perplexity quality scores (Wenzek
#     et al. 2020, arXiv:1911.00359) over the documents table: fit a
#     Laplace-smoothed hashed-unigram LM on a trusted slice (every 17th
#     doc — the same stand-in the DSIR query uses for its target
#     corpus), then score EVERY document with the natural-log
#     perplexity exponent  log_ppl = -(1/n) sum ln p(token).
#     Fully end-to-end oracle-able: the bucketing is the DSIR
#     md5-prefix hash DuckDB replays bit-identically, and the smoothed
#     LM is a closed-form count table. Tier assignment (head/middle/
#     tail percentile split) is percentile-sketch-based and therefore
#     pytest-proven, not oracled — see operators/lm_quality.ppl_tiers.
# --------------------------------------------------------------------------

_LMQ_BUCKETS = 4096
_LMQ_REF_MOD = 17


def q_ccnet_lm_ppl(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dsir import hashed_gram_buckets, lookup_sum_expr
    from ..operators.lm_quality import fit_lm_values

    # null-text docs are unscoreable and excluded on BOTH sides
    docs = _docs(spark, sf_dir).where(F.col("text").isNotNull())
    # round 7: featurize the WHOLE corpus exactly once (checkpoint feeds
    # both the reference count and the scoring pass — the round-6 shape
    # md5-featurized the reference slice a second time on the scan's few
    # file splits); spread the single small testdata split first (a
    # no-op to remove at production scale where input arrives pre-split)
    par = spark.sparkContext.defaultParallelism
    all_b = hashed_gram_buckets(
        docs.repartition(par), ns=(1,), buckets=_LMQ_BUCKETS
    ).localCheckpoint()
    vals = fit_lm_values(
        all_b.where(F.col("id") % _LMQ_REF_MOD == 0), _LMQ_BUCKETS
    )
    # scoring: one map-only literal-lookup fold, no explode, no join
    n_tok = F.size("buckets")
    return all_b.where(n_tok > 0).select(
        F.col("id").alias("doc_id"),
        n_tok.alias("n_tokens"),
        F.round(-lookup_sum_expr("buckets", vals) / n_tok, 4).alias("log_ppl"),
    )


SQL_CCNET_LM_PPL = f"""
WITH tok AS (
  SELECT doc_id, string_split(trim(text), ' ') AS toks FROM documents
  WHERE text IS NOT NULL
), b AS (
  SELECT doc_id,
         [(cast(('0x' || substr(md5(x), 1, 12)) AS BIGINT)
           % {_LMQ_BUCKETS})::INT FOR x IN toks] AS bkts
  FROM tok
), e AS (
  SELECT doc_id, unnest(bkts) AS bucket FROM b
), ct AS (
  SELECT bucket, count(*) AS c FROM e
  WHERE doc_id % {_LMQ_REF_MOD} = 0 GROUP BY bucket
), tot AS (
  SELECT coalesce(sum(c), 0) AS t FROM ct
), lm AS (
  SELECT sp.bucket,
         ln((coalesce(ct.c, 0) + 1) / (tot.t + {_LMQ_BUCKETS}.0)) AS logp
  FROM range({_LMQ_BUCKETS}) sp(bucket)
  LEFT JOIN ct ON sp.bucket = ct.bucket
  CROSS JOIN tot
)
SELECT b.doc_id,
       len(b.bkts)::INT AS n_tokens,
       round(-sum(lm.logp) / len(b.bkts), 4) AS log_ppl
FROM b
LEFT JOIN e ON b.doc_id = e.doc_id
LEFT JOIN lm ON e.bucket = lm.bucket
GROUP BY b.doc_id, len(b.bkts)
"""


# --------------------------------------------------------------------------
# 46. bloom_new_docs — distributed Bloom-filter membership prefilter
#     (operators/bloom.py): build the filter over a "seen" history
#     slice (doc_id % 3 != 0) and probe EVERY document; maybe_seen=0
#     is exact (definitely new — the crawl-frontier / incremental-dedup
#     fast path skips the store join), maybe_seen=1 is probabilistic at
#     the configured fpr. Bucketing is the md5-prefix hash, so DuckDB
#     replays every bit position exactly; the oracle models the filter
#     as the set of set positions (bit-for-bit the same semantics —
#     DuckDB raises on the 1<<63 word packing, which the hashlib pytest
#     covers instead).
# --------------------------------------------------------------------------

_BLOOM_BITS = 65536
_BLOOM_K = 7
_BLOOM_HIST_MOD = 3


def q_bloom_new_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.bloom import bloom_build, bloom_maybe_contains

    docs = _docs(spark, sf_dir)
    hist = docs.where(F.col("doc_id") % _BLOOM_HIST_MOD != 0).select("text")
    bloom = bloom_build(hist, "text", n_bits=_BLOOM_BITS, k=_BLOOM_K)
    probed = bloom_maybe_contains(
        docs.select("doc_id", "text"), "text", bloom,
        n_bits=_BLOOM_BITS, k=_BLOOM_K,
    )
    return probed.select(
        "doc_id", F.col("maybe_seen").cast("int").alias("maybe_seen")
    )


SQL_BLOOM_NEW_DOCS = f"""
WITH hp AS (
  SELECT DISTINCT
         (cast(('0x' || substr(md5(text || '#b' || i::VARCHAR), 1, 12))
          AS BIGINT) % {_BLOOM_BITS}) AS pos
  FROM documents, range({_BLOOM_K}) r(i)
  WHERE doc_id % {_BLOOM_HIST_MOD} <> 0
), bp AS (
  SELECT doc_id,
         (cast(('0x' || substr(md5(text || '#b' || i::VARCHAR), 1, 12))
          AS BIGINT) % {_BLOOM_BITS}) AS pos
  FROM documents, range({_BLOOM_K}) r(i)
)
SELECT bp.doc_id,
       bool_and(hp.pos IS NOT NULL)::INT AS maybe_seen
FROM bp LEFT JOIN hp ON bp.pos = hp.pos
GROUP BY bp.doc_id
"""

# --------------------------------------------------------------------------
# 47. url_revisit_diffs — re-crawl revisit analysis (operators/revisit.py):
#     consecutive-version token-set Jaccard per url. The driver corpus is
#     one-row-per-doc, so revisit structure is DERIVED deterministically
#     (url = source '/p' doc_id%11, version order = doc_id — the same
#     derive-then-mirror trick as c4_clean_docs' line splitting); the
#     production call sites pass the input_hint's (url, warc_ts) directly.
#     Oracle = the identical window-lag + list-intersection in DuckDB.
# --------------------------------------------------------------------------

_REVISIT_MOD = 11
_REVISIT_CHANGED_BELOW = 0.9


def q_url_revisit_diffs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.revisit import revisit_diffs

    pages = _docs(spark, sf_dir).select(
        F.concat(
            F.col("source"),
            F.lit("/p"),
            (F.col("doc_id") % _REVISIT_MOD).cast("string"),
        ).alias("url"),
        F.col("doc_id").alias("version"),
        "text",
    )
    return revisit_diffs(
        pages,
        url_col="url",
        version_col="version",
        text_col="text",
        changed_below=_REVISIT_CHANGED_BELOW,
    ).select(
        "url",
        F.col("prev_version").cast("bigint").alias("prev_version"),
        F.col("version").cast("bigint").alias("version"),
        "jaccard",
        "is_changed",
    )


SQL_URL_REVISIT_DIFFS = f"""
WITH d AS (
  SELECT source || '/p' || CAST(doc_id % {_REVISIT_MOD} AS VARCHAR) AS url,
         doc_id AS version,
         list_distinct(string_split(trim(text), ' ')) AS toks
  FROM documents
), v AS (
  SELECT url, version,
         lag(version) OVER (PARTITION BY url ORDER BY version)
           AS prev_version,
         toks,
         lag(toks) OVER (PARTITION BY url ORDER BY version) AS prev_toks
  FROM d
)
SELECT url, prev_version, version,
       round(len(list_intersect(toks, prev_toks)) * 1.0
             / len(list_distinct(toks || prev_toks)), 6) AS jaccard,
       (round(len(list_intersect(toks, prev_toks)) * 1.0
              / len(list_distinct(toks || prev_toks)), 6)
        < {_REVISIT_CHANGED_BELOW})::INT AS is_changed
FROM v
WHERE prev_version IS NOT NULL
"""

# --------------------------------------------------------------------------
# 48. source_overlap_matrix — exact pairwise distinct-token Jaccard
#     between sources (operators/kmv.py group_overlap_exact): the audit
#     twin of the KMV sketch path below, same query pair discipline as
#     ann_topk (brute oracle) vs ann_lsh/ivf_topk (scale paths).
# 49. source_overlap_kmv — the SAME matrix from bottom-k (KMV) sketches
#     (Beyer et al. SIGMOD'07): one corpus pass builds k=128 sketches,
#     pairwise estimates touch only S sketch rows. md5-hex hash order
#     replays bit-identically in DuckDB, so the ESTIMATE itself (not
#     just the exact answer) is oracle-verified.
# --------------------------------------------------------------------------

_KMV_K = 128


def q_source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.kmv import group_overlap_exact

    toks = _docs(spark, sf_dir).select(
        "source", F.explode(F.array_distinct(F.expr(_TOK))).alias("tok")
    )
    return group_overlap_exact(toks, "source", "tok").select(
        F.col("src_group").alias("src_source"),
        F.col("dst_group").alias("dst_source"),
        "n_src",
        "n_dst",
        "n_inter",
        "jaccard",
    )


SQL_SOURCE_OVERLAP_MATRIX = """
WITH toks AS (
  SELECT DISTINCT source, tok FROM (
    SELECT source,
           unnest(list_distinct(string_split(trim(text), ' '))) AS tok
    FROM documents
  )
), sizes AS (
  SELECT source, count(*) AS sz FROM toks GROUP BY source
), inter AS (
  SELECT a.source AS src_source, b.source AS dst_source,
         count(*) AS n_inter
  FROM toks a JOIN toks b ON a.tok = b.tok AND a.source < b.source
  GROUP BY 1, 2
)
SELECT src_source, dst_source,
       sa.sz AS n_src, sb.sz AS n_dst, n_inter,
       round(n_inter * 1.0 / (sa.sz + sb.sz - n_inter), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.source = src_source
JOIN sizes sb ON sb.source = dst_source
"""


def q_source_overlap_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.kmv import group_overlap_kmv

    toks = _docs(spark, sf_dir).select(
        "source", F.explode(F.array_distinct(F.expr(_TOK))).alias("tok")
    )
    return group_overlap_kmv(toks, "source", "tok", k=_KMV_K).select(
        F.col("src_group").alias("src_source"),
        F.col("dst_group").alias("dst_source"),
        "jaccard_est",
    )


SQL_SOURCE_OVERLAP_KMV = f"""
WITH toks AS (
  SELECT DISTINCT source, md5(tok) AS h FROM (
    SELECT source,
           unnest(list_distinct(string_split(trim(text), ' '))) AS tok
    FROM documents
  )
), rk AS (
  SELECT source, h,
         row_number() OVER (PARTITION BY source ORDER BY h) AS rn
  FROM toks
), sk AS (
  SELECT source, list_sort(list(h)) AS sketch
  FROM rk WHERE rn <= {_KMV_K} GROUP BY source
), p AS (
  SELECT a.source AS src_source, b.source AS dst_source,
         a.sketch AS ska, b.sketch AS skb,
         (list_sort(list_distinct(a.sketch || b.sketch)))[1:{_KMV_K}] AS L
  FROM sk a JOIN sk b ON a.source < b.source
)
SELECT src_source, dst_source,
       round(len(list_filter(L, x -> list_contains(ska, x)
                                 AND list_contains(skb, x))) * 1.0
             / len(L), 6) AS jaccard_est
FROM p
"""

# --------------------------------------------------------------------------
# 50. host_pagerank — link-graph quality weighting (operators/linkgraph.py):
#     fixed-iteration PageRank over a host->host edge set, the second
#     iterative operator after CC. The driver corpus has no hrefs, so the
#     edge set is DERIVED deterministically (source -> 'src'((id²+3)%20),
#     self-loops dropped); production call sites build it from
#     extract_outlinks(html) -> host_graph. The oracle UNROLLS the same
#     iterations as chained CTEs — every arithmetic literal is written
#     identically ((1-0.85)/n, not 0.15/n: 1-0.85 and the literal 0.15
#     are DIFFERENT doubles) so the two engines replay the same IEEE ops;
#     summation-order drift lives ~1e-17, far below the round(,6).
# --------------------------------------------------------------------------

_PR_ITERS = 5
_PR_MOD = 20
_PR_OFF = 3
# dst uses doc_id^2: quadratic residues mod 20 hit only 6 of the 20
# hosts, so the derived graph has genuine hub structure (6 high-indegree
# hubs, 14 teleport-only sources) instead of the near-complete graph a
# linear formula produces (uniform ranks — correct but structureless)


def _pr_edges(docs: DataFrame) -> DataFrame:
    """The deterministic derived host edge set (shared by host_pagerank
    and source_quality_report)."""
    return (
        docs.select(
            F.col("source").alias("src"),
            F.concat(
                F.lit("src"),
                (
                    (F.col("doc_id") * F.col("doc_id") + _PR_OFF) % _PR_MOD
                ).cast("string"),
            ).alias("dst"),
        )
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )


def q_host_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.linkgraph import pagerank

    return pagerank(
        _pr_edges(_docs(spark, sf_dir)), iterations=_PR_ITERS
    ).select(F.col("node").alias("host"), "pagerank")


def _pagerank_sql(iters: int) -> str:
    head = f"""
WITH edges AS (
  SELECT DISTINCT source AS src,
         'src' || CAST((doc_id * doc_id + {_PR_OFF}) % {_PR_MOD}
                       AS VARCHAR) AS dst
  FROM documents
  WHERE source <> 'src' || CAST((doc_id * doc_id + {_PR_OFF})
                                % {_PR_MOD} AS VARCHAR)
), nodes AS (
  SELECT src AS node FROM edges UNION SELECT dst FROM edges
), nn AS (SELECT count(*) AS n FROM nodes),
outdeg AS (SELECT src, count(*) AS out FROM edges GROUP BY src),
r0 AS (SELECT node, 1.0 / (SELECT n FROM nn) AS r FROM nodes)"""
    steps = []
    for i in range(1, iters + 1):
        steps.append(f""",
r{i} AS (
  SELECT n.node,
         (1 - 0.85) / (SELECT n FROM nn)
           + 0.85 * coalesce(s.c, 0) AS r
  FROM nodes n LEFT JOIN (
    SELECT e.dst AS node, sum(p.r / o.out) AS c
    FROM r{i - 1} p
    JOIN edges e ON e.src = p.node
    JOIN outdeg o ON o.src = p.node
    GROUP BY e.dst
  ) s USING (node)
)""")
    return (
        head
        + "".join(steps)
        + f"\nSELECT node AS host, round(r, 6) AS pagerank FROM r{iters}"
    )


SQL_HOST_PAGERANK = _pagerank_sql(_PR_ITERS)


# --------------------------------------------------------------------------
# 50b. host_pagerank_dangling — the round-6 redistribute_dangling=True
#     variant over the SAME derived edge set: each iteration spreads the
#     rank mass sitting on out-degree-0 nodes uniformly, so ranks sum to
#     exactly 1 (cross-graph-comparable, the curation-consumer
#     calibration). The oracle unrolls the same iterations with a
#     per-iteration dangling-mass scalar subquery — the Spark side keeps
#     the mass distributed (1-row aggregate + broadcast crossJoin), the
#     SQL states it as the scalar it is; literals written identically.
# --------------------------------------------------------------------------


def _pr_edges_dangling(docs: DataFrame) -> DataFrame:
    """Derived edge set WITH genuine sinks: targets are 'snk<residue>'
    nodes that never appear as sources (the _pr_edges graph has none —
    every quadratic-residue hub is also a source — so on it the two
    PageRank variants coincide and the dangling oracle would prove
    nothing)."""
    return (
        docs.select(
            F.col("source").alias("src"),
            F.concat(
                F.lit("snk"),
                (
                    (F.col("doc_id") * F.col("doc_id") + _PR_OFF) % _PR_MOD
                ).cast("string"),
            ).alias("dst"),
        )
        .distinct()
    )


def q_host_pagerank_dangling(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.linkgraph import pagerank

    return pagerank(
        _pr_edges_dangling(_docs(spark, sf_dir)),
        iterations=_PR_ITERS,
        redistribute_dangling=True,
    ).select(F.col("node").alias("host"), "pagerank")


def _pagerank_dangling_sql(iters: int) -> str:
    head = f"""
WITH edges AS (
  SELECT DISTINCT source AS src,
         'snk' || CAST((doc_id * doc_id + {_PR_OFF}) % {_PR_MOD}
                       AS VARCHAR) AS dst
  FROM documents
), nodes AS (
  SELECT src AS node FROM edges UNION SELECT dst FROM edges
), nn AS (SELECT count(*) AS n FROM nodes),
outdeg AS (SELECT src, count(*) AS out FROM edges GROUP BY src),
r0 AS (SELECT node, 1.0 / (SELECT n FROM nn) AS r FROM nodes)"""
    steps = []
    for i in range(1, iters + 1):
        steps.append(f""",
dm{i - 1} AS (
  SELECT coalesce(sum(p.r), 0) AS dm
  FROM r{i - 1} p LEFT JOIN outdeg o ON o.src = p.node
  WHERE o.src IS NULL
),
r{i} AS (
  SELECT n.node,
         (1 - 0.85) / (SELECT n FROM nn)
           + 0.85 * (coalesce(s.c, 0)
                     + (SELECT dm FROM dm{i - 1})
                       / (SELECT n FROM nn)) AS r
  FROM nodes n LEFT JOIN (
    SELECT e.dst AS node, sum(p.r / o.out) AS c
    FROM r{i - 1} p
    JOIN edges e ON e.src = p.node
    JOIN outdeg o ON o.src = p.node
    GROUP BY e.dst
  ) s USING (node)
)""")
    return (
        head
        + "".join(steps)
        + f"\nSELECT node AS host, round(r, 6) AS pagerank FROM r{iters}"
    )


SQL_HOST_PAGERANK_DANGLING = _pagerank_dangling_sql(_PR_ITERS)


# --------------------------------------------------------------------------
# 50c. psl_domains — registrable-domain composition under the FULL
#     Public Suffix List algorithm (functions/psl.py): per-domain doc
#     and host counts over synthesized URLs that exercise every rule
#     kind — a wildcard registry (*.ck), a wildcard+exception family
#     (city.kawasaki.jp), plain 2-level registry rules (co.nz, com.sg
#     behind extra subdomain labels), a private-section rule
#     (blogspot.com), and the default '*' rule. The oracle renders the
#     SAME shipped rule snapshot as a DuckDB CASE (psl.
#     registered_domain_sql) — rule-for-rule value parity, aggregated.
# --------------------------------------------------------------------------


def _psl_synth_host() -> "F.Column":
    did = F.col("doc_id")
    src = F.col("source")
    return (
        F.when(did % 17 == 0, F.concat(F.lit("x."), src, F.lit(".ck")))
        .when(did % 13 == 0, F.concat(src, F.lit(".city.kawasaki.jp")))
        .when(did % 7 == 0, F.concat(src, F.lit(".co.nz")))
        .when(did % 5 == 0, F.concat(F.lit("a.b."), src, F.lit(".com.sg")))
        .when(did % 3 == 0, F.concat(src, F.lit(".blogspot.com")))
        .otherwise(F.concat(F.lit("www."), src, F.lit(".com")))
    )


_PSL_SYNTH_HOST_SQL = """
CASE WHEN doc_id % 17 = 0 THEN 'x.' || source || '.ck'
     WHEN doc_id % 13 = 0 THEN source || '.city.kawasaki.jp'
     WHEN doc_id % 7 = 0 THEN source || '.co.nz'
     WHEN doc_id % 5 = 0 THEN 'a.b.' || source || '.com.sg'
     WHEN doc_id % 3 = 0 THEN source || '.blogspot.com'
     ELSE 'www.' || source || '.com' END
"""


def q_psl_domains(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.psl import load_psl, registered_domain_expr

    rules = load_psl()
    hosts = _docs(spark, sf_dir).select(
        "doc_id", _psl_synth_host().alias("host")
    )
    return (
        hosts.withColumn(
            "domain", registered_domain_expr(F.col("host"), rules)
        )
        .groupBy("domain")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("host").alias("n_hosts"),
        )
    )


def _psl_domains_sql() -> str:
    from ..functions.psl import load_psl, registered_domain_sql

    return f"""
WITH h AS (
  SELECT doc_id, ({_PSL_SYNTH_HOST_SQL}) AS host FROM documents
), d AS (
  SELECT doc_id, host,
         {registered_domain_sql("host", load_psl())} AS domain
  FROM h
)
SELECT domain, count(*) AS n_docs, count(DISTINCT host) AS n_hosts
FROM d GROUP BY domain
"""


SQL_PSL_DOMAINS = _psl_domains_sql()


# --------------------------------------------------------------------------
# 50d. gopher_repetition_flags — the repetition half of the Gopher rules
#     (operators/repetition.py; Rae et al. 2021 Appendix A), round 6.
#     Multi-line pages are derived from the single-line corpus with the
#     established regexp_replace trick plus two planted failure modes
#     (a duplicated promo line on doc_id%6, a repeated 5-gram block on
#     doc_id%4); pages on doc_id%5 break lines with CRLF, which both
#     engines split like LF (\r?\n). The driver query runs the {2-gram
#     top, 5-gram dup} subset so the oracle stays two unnests; the full
#     2..10 table is reference-parity-tested in tests/test_repetition.py.
#     Every fraction and the gate conjunction replay in DuckDB (grams via
#     list comprehension + unnest, top gram via lexicographic list max
#     — the same (count, length) ordering Spark's struct max uses).
# --------------------------------------------------------------------------

_REP_PROMO = "promo line"
_REP_BLOCK = "alpha beta gamma delta epsilon "


def _rep_page() -> "F.Column":
    d = F.col("doc_id")
    nl = F.when(d % 5 == 0, F.lit("\r\n")).otherwise(F.lit("\n"))
    return F.concat(
        F.regexp_replace(F.col("text"), " (the|a) ", nl),
        F.when(
            d % 6 == 0, F.concat(nl, F.lit(_REP_PROMO), nl, F.lit(_REP_PROMO))
        ).otherwise(F.lit("")),
        F.when(
            d % 4 == 0, F.lit(" " + _REP_BLOCK * 2 + "zz")
        ).otherwise(F.lit("")),
    )


def q_gopher_repetition_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.repetition import repetition_flags

    pages = (
        _docs(spark, sf_dir)
        .where(F.col("text").isNotNull())
        .select("doc_id", _rep_page().alias("text"))
    )
    return repetition_flags(pages, top_ns=(2,), dup_ns=(5,))


SQL_GOPHER_REPETITION_FLAGS = """
WITH p AS (
  SELECT doc_id,
         regexp_replace(text, ' (the|a) ', nl, 'g')
         || CASE WHEN doc_id % 6 = 0
                 THEN nl || 'promo line' || nl || 'promo line'
                 ELSE '' END
         || CASE WHEN doc_id % 4 = 0
                 THEN ' ' || repeat('alpha beta gamma delta epsilon ', 2) || 'zz'
                 ELSE '' END AS text
  FROM (SELECT doc_id, text,
               CASE WHEN doc_id % 5 = 0 THEN chr(13) || chr(10)
                    ELSE chr(10) END AS nl
        FROM documents WHERE text IS NOT NULL)
), lr AS (
  SELECT doc_id,
         round(coalesce(sum(cnt) FILTER (cnt > 1), 0)
               / sum(cnt), 4) AS dup_line_frac,
         round(coalesce(sum(len(line) * cnt) FILTER (cnt > 1), 0)
               / greatest(sum(len(line) * cnt), 1), 4) AS dup_line_char_frac
  FROM (
    SELECT doc_id, line, count(*) AS cnt
    FROM (SELECT doc_id, unnest(string_split_regex(text, '\\r?\\n')) AS line
          FROM p)
    WHERE trim(line) <> '' GROUP BY doc_id, line
  ) GROUP BY doc_id
), t2 AS (
  SELECT doc_id, max([cnt, len(g)]) AS m
  FROM (
    SELECT doc_id, g, count(*) AS cnt FROM (
      SELECT doc_id,
             unnest([array_to_string(toks[i:i+1], ' ')
                     FOR i IN range(1, len(toks))]) AS g
      FROM (SELECT doc_id, string_split(trim(text), ' ') AS toks FROM p)
    ) GROUP BY doc_id, g
  ) GROUP BY doc_id
), d5 AS (
  SELECT doc_id, sum(cnt * len(g)) AS dup_mass
  FROM (
    SELECT doc_id, g, count(*) AS cnt FROM (
      SELECT doc_id,
             unnest([array_to_string(toks[i:i+4], ' ')
                     FOR i IN range(1, len(toks) - 3)]) AS g
      FROM (SELECT doc_id, string_split(trim(text), ' ') AS toks FROM p)
    ) GROUP BY doc_id, g
  ) WHERE cnt > 1 GROUP BY doc_id
), f AS (
  SELECT p.doc_id,
         coalesce(lr.dup_line_frac, 0.0) AS dup_line_frac,
         coalesce(lr.dup_line_char_frac, 0.0) AS dup_line_char_frac,
         round(least(coalesce(t2.m[1] * t2.m[2], 0)
                     / greatest(len(p.text), 1), 1.0), 4)
           AS top_2gram_char_frac,
         round(least(coalesce(d5.dup_mass, 0)
                     / greatest(len(p.text), 1), 1.0), 4)
           AS dup_5gram_char_frac
  FROM p
  LEFT JOIN lr USING (doc_id)
  LEFT JOIN t2 USING (doc_id)
  LEFT JOIN d5 USING (doc_id)
)
SELECT doc_id, dup_line_frac, dup_line_char_frac, top_2gram_char_frac,
       dup_5gram_char_frac,
       (dup_line_frac <= 0.30 AND dup_line_char_frac <= 0.20
        AND top_2gram_char_frac <= 0.20
        AND dup_5gram_char_frac <= 0.15)::INT AS passes_gopher_repetition
FROM f
"""


# --------------------------------------------------------------------------
# 50e. eval_leak_report — the benchmark-owner's view of contamination
#     (round 6): per EVAL document, how many training docs share a
#     13-gram with it and the total overlap mass. Same split and gram
#     width as decontaminated_docs (eval = doc_id % 23); the eval
#     (id, gram) pairs broadcast, the training side never shuffles.
# --------------------------------------------------------------------------


def q_eval_leak_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.decontaminate import eval_leak_report

    docs = _docs(spark, sf_dir).where(F.col("text").isNotNull())
    ev = docs.where(F.col("doc_id") % _DECON_EVAL_MOD == 0)
    tr = docs.where(F.col("doc_id") % _DECON_EVAL_MOD != 0)
    return eval_leak_report(tr, ev, n=_DECON_N)


SQL_EVAL_LEAK_REPORT = f"""
WITH tok AS (
  SELECT doc_id, string_split(trim(text), ' ') AS toks FROM documents
  WHERE text IS NOT NULL
), g AS (
  SELECT doc_id,
         CASE WHEN len(toks) < {_DECON_N} THEN []::VARCHAR[]
              ELSE list_distinct([array_to_string(toks[i:i+{_DECON_N - 1}], ' ')
                                  FOR i IN range(1, len(toks) - {_DECON_N} + 2)])
         END AS grams
  FROM tok
), ev AS (
  SELECT doc_id, grams FROM g WHERE doc_id % {_DECON_EVAL_MOD} = 0
), trp AS (
  SELECT doc_id AS train_id, unnest(grams) AS gram FROM g
  WHERE doc_id % {_DECON_EVAL_MOD} <> 0
), evp AS (
  SELECT doc_id AS eval_id, unnest(grams) AS gram FROM ev
), h AS (
  SELECT eval_id,
         count(DISTINCT train_id) AS n_leaking_docs,
         count(*) AS n_gram_hits
  FROM trp JOIN evp USING (gram)
  GROUP BY eval_id
)
SELECT e.doc_id,
       len(e.grams)::INT AS n_grams,
       coalesce(h.n_leaking_docs, 0)::BIGINT AS n_leaking_docs,
       coalesce(h.n_gram_hits, 0)::BIGINT AS n_gram_hits
FROM ev e LEFT JOIN h ON e.doc_id = h.eval_id
"""


# --------------------------------------------------------------------------
# 50f. source_token_kl — per-source distribution drift vs the corpus
#     (operators/drift.py, round 6): KL of the Laplace-smoothed hashed-
#     unigram distribution against the whole corpus', summed over the
#     FULL bucket range. The md5 bucketization is the DSIR one DuckDB
#     replays bit-identically; the dense grid is range(B) cross the
#     source totals. Complements source_mixture_weights: mass says how
#     MUCH a source has, KL says how DIFFERENT it is.
# --------------------------------------------------------------------------

_KL_BUCKETS = 4096


def q_source_token_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.drift import source_token_kl

    return source_token_kl(
        _docs(spark, sf_dir), group_col="source", buckets=_KL_BUCKETS
    )


SQL_SOURCE_TOKEN_KL = f"""
WITH tok AS (
  SELECT source AS grp, unnest(string_split(trim(text), ' ')) AS t
  FROM documents WHERE text IS NOT NULL
), b AS (
  SELECT grp,
         (cast(('0x' || substr(md5(t), 1, 12)) AS BIGINT)
          % {_KL_BUCKETS})::INT AS b
  FROM tok
), cnt AS (
  SELECT grp, b, count(*) AS c FROM b GROUP BY grp, b
), gt AS (
  SELECT grp, sum(c) AS n_s FROM cnt GROUP BY grp
), gl AS (
  SELECT b, sum(c) AS cb FROM cnt GROUP BY b
), nn AS (
  SELECT sum(c) AS n FROM cnt
), grid AS (
  SELECT gt.grp, gt.n_s, r.range::INT AS b
  FROM gt CROSS JOIN range({_KL_BUCKETS}) r
), j AS (
  SELECT grid.grp, grid.n_s,
         (coalesce(cnt.c, 0) + 1) / (grid.n_s + {_KL_BUCKETS}) AS p,
         (coalesce(gl.cb, 0) + 1) / ((SELECT n FROM nn) + {_KL_BUCKETS}) AS q
  FROM grid
  LEFT JOIN cnt ON grid.grp = cnt.grp AND grid.b = cnt.b
  LEFT JOIN gl ON grid.b = gl.b
)
SELECT grp AS source, n_s::BIGINT AS n_tokens,
       round(sum(p * ln(p / q)), 4) AS kl_vs_corpus
FROM j GROUP BY grp, n_s
"""


# --------------------------------------------------------------------------
# 51. source_quality_report — the reference is at heart a REPORT generator
#     (A5/A6 summary stats, /root/reference/analysis_engine.py); this is
#     the web-domain composition report: per source, volume, exact-dup
#     involvement, mean quality signals, and the source's link-graph
#     rank — four operator families joined in one answer. Dup involvement
#     counts by 8-byte xxhash64(text) keys (the engine-wide shuffle
#     discipline — a window PARTITION BY text would shuffle full page
#     text as the key; the oracle's window over text is count-identical
#     absent a 64-bit collision, the documented corpus budget). Averages
#     are over unrounded per-doc doubles (drift ~1e-16, rounded at 4).
# --------------------------------------------------------------------------


def q_source_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.linkgraph import pagerank

    docs = _docs(spark, sf_dir)
    toks = F.expr(_TOK)
    stop_arr = F.array(*[F.lit(s) for s in _STOPWORDS])
    n_tok = F.size(toks)
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t)))
    scored = docs.select(
        "source",
        F.xxhash64("text").alias("_h"),
        n_tok.alias("_nt"),
        (n_stop / n_tok).alias("_sr"),
    )
    counts = scored.groupBy("_h").agg(F.count("*").alias("_n"))
    per_doc = scored.join(counts, "_h").select(
        "source",
        "_nt",
        "_sr",
        (F.col("_n") > 1).cast("int").alias("_dup"),
    )
    report = per_doc.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("_dup").alias("n_dup_docs"),
        F.round(F.sum("_dup") / F.count("*"), 4).alias("dup_rate"),
        F.round(F.avg("_nt"), 4).alias("mean_tokens"),
        F.round(F.avg("_sr"), 4).alias("mean_stopword_ratio"),
    )
    ranks = pagerank(_pr_edges(docs), iterations=_PR_ITERS).select(
        F.col("node").alias("source"), F.col("pagerank").alias("host_rank")
    )
    return report.join(F.broadcast(ranks), "source", "left").select(
        "source",
        "n_docs",
        "n_dup_docs",
        "dup_rate",
        "mean_tokens",
        "mean_stopword_ratio",
        F.coalesce("host_rank", F.lit(0.0)).alias("host_rank"),
    )


SQL_SOURCE_QUALITY_REPORT = f"""
WITH pr AS ({SQL_HOST_PAGERANK}
), per_doc AS (
  SELECT source,
         len(string_split(trim(text), ' ')) AS nt,
         len(list_filter(string_split(trim(text), ' '),
                         t -> t IN {_STOP_SQL}))
           * 1.0 / len(string_split(trim(text), ' ')) AS sr,
         (count(*) OVER (PARTITION BY text) > 1)::INT AS dup
  FROM documents
), rep AS (
  SELECT source,
         count(*) AS n_docs,
         sum(dup)::BIGINT AS n_dup_docs,
         round(sum(dup) * 1.0 / count(*), 4) AS dup_rate,
         round(avg(nt), 4) AS mean_tokens,
         round(avg(sr), 4) AS mean_stopword_ratio
  FROM per_doc GROUP BY source
)
SELECT rep.source, n_docs, n_dup_docs, dup_rate, mean_tokens,
       mean_stopword_ratio,
       coalesce(pr.pagerank, 0.0) AS host_rank
FROM rep LEFT JOIN pr ON pr.host = rep.source
"""

# --------------------------------------------------------------------------
# 52. source_mixture_weights — temperature-based data-mixing weights
#     (operators/sampler.py mixture_weights; Pile/ROOTS recipe): per-
#     source token mass ^ alpha, normalized; alpha=0.5 ("temperature 2")
#     flattens toward low-resource sources. sqrt is correctly rounded
#     per IEEE 754, so the oracle replays the exponent bit-identically
#     (pow() would be libm-dependent — see the operator docstring).
# --------------------------------------------------------------------------

_MIX_BUDGET = 1_000_000


def q_source_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampler import mixture_weights

    per_doc = _docs(spark, sf_dir).select(
        "source", F.size(F.expr(_TOK)).alias("n_tokens")
    )
    return mixture_weights(
        per_doc, "source", "n_tokens", alpha=0.5, budget_tokens=_MIX_BUDGET
    )


SQL_SOURCE_MIXTURE_WEIGHTS = f"""
WITH m AS (
  SELECT source,
         sum(len(string_split(trim(text), ' ')))::BIGINT AS group_tokens
  FROM documents GROUP BY source
), r AS (
  SELECT source, group_tokens, sqrt(group_tokens) AS raw FROM m
)
SELECT source, group_tokens,
       round(raw / (SELECT sum(raw) FROM r), 6) AS weight,
       CAST(round({_MIX_BUDGET} * (raw / (SELECT sum(raw) FROM r)), 0)
            AS BIGINT) AS expected_tokens
FROM r
"""


QUERIES = {
    "exact_dedup": q_exact_dedup,
    "token_jaccard_pairs": q_token_jaccard_pairs,
    "cc_clusters": q_cc_clusters,
    "token_stats": q_token_stats,
    "bpe_token_stats": q_bpe_token_stats,
    "quality_scores": q_quality_scores,
    "lang_topk": q_lang_topk,
    "doc_fingerprints": q_doc_fingerprints,
    "rank_in_lang": q_rank_in_lang,
    "dedup_survivors": q_dedup_survivors,
    "ann_topk": q_ann_topk,
    "revenue_by_flag": q_revenue_by_flag,
    "top_customers": q_top_customers,
    "events_windowed": q_events_windowed,
    "minhash_lsh_pairs": q_minhash_lsh_pairs,
    "simhash_near_pairs": q_simhash_near_pairs,
    "simhash_hamming_pairs_sql": q_simhash_hamming_pairs_sql,
    "embedding_similar_pairs": q_embedding_similar_pairs,
    "linkage_pairs": q_linkage_pairs,
    "orders_by_region": q_orders_by_region,
    "user_sessions": q_user_sessions,
    "lang_source_rollup": q_lang_source_rollup,
    "customers_no_orders": q_customers_no_orders,
    "parts_multi_supplier": q_parts_multi_supplier,
    "substring_pairs": q_substring_pairs,
    "ann_lsh_topk": q_ann_lsh_topk,
    "embedding_near_dup_lsh": q_embedding_near_dup_lsh,
    "ann_ivf_topk": q_ann_ivf_topk,
    "repetition_scores": q_repetition_scores,
    "top_ngrams": q_top_ngrams,
    "span_removed_docs": q_span_removed_docs,
    "gopher_quality_flags": q_gopher_quality_flags,
    "c4_clean_docs": q_c4_clean_docs,
    "line_dedup_docs": q_line_dedup_docs,
    "decontaminated_docs": q_decontaminated_docs,
    "pii_redacted_docs": q_pii_redacted_docs,
    "token_budget_sample": q_token_budget_sample,
    "cluster_best_docs": q_cluster_best_docs,
    "shard_assignments": q_shard_assignments,
    "semantic_dedup_docs": q_semantic_dedup_docs,
    "dsir_scores": q_dsir_scores,
    "dsir_sample_docs": q_dsir_sample_docs,
    "fuzzy_decontaminated_docs": q_fuzzy_decontaminated_docs,
    "url_filtered_docs": q_url_filtered_docs,
    "ccnet_lm_ppl": q_ccnet_lm_ppl,
    "bloom_new_docs": q_bloom_new_docs,
    "url_revisit_diffs": q_url_revisit_diffs,
    "source_overlap_matrix": q_source_overlap_matrix,
    "source_overlap_kmv": q_source_overlap_kmv,
    "host_pagerank": q_host_pagerank,
    "host_pagerank_dangling": q_host_pagerank_dangling,
    "semantic_dedup_chain_docs": q_semantic_dedup_chain_docs,
    "gopher_repetition_flags": q_gopher_repetition_flags,
    "eval_leak_report": q_eval_leak_report,
    "source_token_kl": q_source_token_kl,
    "psl_domains": q_psl_domains,
    "source_quality_report": q_source_quality_report,
    "source_mixture_weights": q_source_mixture_weights,
}

ORACLES = {
    "exact_dedup": SQL_EXACT_DEDUP,
    "token_jaccard_pairs": SQL_TOKEN_JACCARD_PAIRS,
    "cc_clusters": SQL_CC_CLUSTERS,
    "token_stats": SQL_TOKEN_STATS,
    "bpe_token_stats": SQL_BPE_TOKEN_STATS,
    "quality_scores": SQL_QUALITY_SCORES,
    "lang_topk": SQL_LANG_TOPK,
    "doc_fingerprints": SQL_DOC_FINGERPRINTS,
    "rank_in_lang": SQL_RANK_IN_LANG,
    "dedup_survivors": SQL_DEDUP_SURVIVORS,
    "ann_topk": SQL_ANN_TOPK,
    "revenue_by_flag": SQL_REVENUE_BY_FLAG,
    "top_customers": SQL_TOP_CUSTOMERS,
    "events_windowed": SQL_EVENTS_WINDOWED,
    "simhash_hamming_pairs_sql": SQL_SIMHASH_HAMMING_PAIRS,
    "embedding_similar_pairs": SQL_EMBEDDING_SIMILAR_PAIRS,
    "linkage_pairs": SQL_LINKAGE_PAIRS,
    "orders_by_region": SQL_ORDERS_BY_REGION,
    "user_sessions": SQL_USER_SESSIONS,
    "lang_source_rollup": SQL_LANG_SOURCE_ROLLUP,
    "customers_no_orders": SQL_CUSTOMERS_NO_ORDERS,
    "parts_multi_supplier": SQL_PARTS_MULTI_SUPPLIER,
    # round-3: the former rows-only queries now carry real oracles —
    # minhash_lsh_pairs exact-verifies LSH candidates at shingle-Jaccard
    # (banding recall makes brute-force equality required); substring_pairs
    # is md5-winnowing (shared gram hash, fully SQL); the two LSH embedding
    # queries run at a bucket-saturating driver config so their brute-force
    # twins are exact oracles. Round-4: simhash_near_pairs materializes its
    # kernel signature table to a parquet view the oracle brute-forces via
    # read_parquet — 27/27 queries now carry an oracle.
    "simhash_near_pairs": SQL_SIMHASH_NEAR_PAIRS,
    "minhash_lsh_pairs": SQL_MINHASH_LSH_PAIRS,
    "substring_pairs": SQL_SUBSTRING_PAIRS,
    "ann_lsh_topk": SQL_ANN_TOPK,
    "embedding_near_dup_lsh": SQL_EMBEDDING_SIMILAR_PAIRS,
    "ann_ivf_topk": SQL_ANN_TOPK,
    "repetition_scores": SQL_REPETITION_SCORES,
    "top_ngrams": SQL_TOP_NGRAMS,
    # round-5: span removal splits at the same view boundary as
    # simhash_near_pairs — the non-SQL winnowing half materializes its
    # span set; the cut/rebuild half is hash-verified against an
    # independent DuckDB interval-merge + string_agg implementation
    "span_removed_docs": SQL_SPAN_REMOVED_DOCS,
    "gopher_quality_flags": SQL_GOPHER_QUALITY_FLAGS,
    "c4_clean_docs": SQL_C4_CLEAN_DOCS,
    "line_dedup_docs": SQL_LINE_DEDUP_DOCS,
    # round-5b: decontamination counts distinct xxhash64 gram hashes on
    # the Spark side vs distinct gram strings in the oracle — equal
    # unless a 64-bit collision lands inside one document's gram set
    # (~n_grams^2/2^65 per doc; zero at any test scale).
    "decontaminated_docs": SQL_DECONTAMINATED_DOCS,
    "pii_redacted_docs": SQL_PII_REDACTED_DOCS,
    "token_budget_sample": SQL_TOKEN_BUDGET_SAMPLE,
    "cluster_best_docs": SQL_CLUSTER_BEST_DOCS,
    "shard_assignments": SQL_SHARD_ASSIGNMENTS,
    "semantic_dedup_docs": SQL_SEMANTIC_DEDUP_DOCS,
    "dsir_scores": SQL_DSIR_SCORES,
    "dsir_sample_docs": SQL_DSIR_SAMPLE_DOCS,
    "fuzzy_decontaminated_docs": SQL_FUZZY_DECONTAMINATED_DOCS,
    "url_filtered_docs": SQL_URL_FILTERED_DOCS,
    "ccnet_lm_ppl": SQL_CCNET_LM_PPL,
    "bloom_new_docs": SQL_BLOOM_NEW_DOCS,
    "url_revisit_diffs": SQL_URL_REVISIT_DIFFS,
    "source_overlap_matrix": SQL_SOURCE_OVERLAP_MATRIX,
    # the KMV oracle verifies the sketch ESTIMATE bit-for-bit (md5-hex
    # order is engine-independent), not merely the exact answer
    "source_overlap_kmv": SQL_SOURCE_OVERLAP_KMV,
    "host_pagerank": SQL_HOST_PAGERANK,
    "host_pagerank_dangling": SQL_HOST_PAGERANK_DANGLING,
    "semantic_dedup_chain_docs": SQL_SEMANTIC_DEDUP_CHAIN_DOCS,
    "gopher_repetition_flags": SQL_GOPHER_REPETITION_FLAGS,
    "eval_leak_report": SQL_EVAL_LEAK_REPORT,
    "source_token_kl": SQL_SOURCE_TOKEN_KL,
    "psl_domains": SQL_PSL_DOMAINS,
    "source_quality_report": SQL_SOURCE_QUALITY_REPORT,
    "source_mixture_weights": SQL_SOURCE_MIXTURE_WEIGHTS,
}
