#!/usr/bin/env python
"""One-off edges-stage sub-step profiler (round-4: the edges stage scales
at 0.65-0.73 from local[2] to local[8] while signatures reaches 0.91-0.95
— find which sub-step eats the scaling). Reads the materialized
signatures/exact_map of an existing bench run dir, so only the edges
stage is exercised.

Usage: python scripts/profile_edges.py <cores> <run_dir> <substep>
  substep: keys | pairs | verify | edges
    keys   = scan + rep-filter + 25x band explode (no shuffle)
    pairs  = keys + bh exchange + pair kernel (mapInArrow) + distinct
    verify = verify join only (pairs read from parquet, written once)
    edges  = the real fused shape (pairs piped into verify)
Prints one JSON line with wall seconds.
"""
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

cores = int(sys.argv[1])
run_dir = sys.argv[2]
substep = sys.argv[3]

from pyspark.sql import functions as F

from name_deduplication_python_spark import DEFAULT_CONFIG as C
from name_deduplication_python_spark.operators.lsh import band_keys, candidate_pairs
from name_deduplication_python_spark.operators.verify import verify_stage
from name_deduplication_python_spark.pipeline import DedupPipeline
from name_deduplication_python_spark.session import get_spark

spark = get_spark(
    app_name=f"profile_edges_{substep}_c{cores}",
    cores=cores,
    shuffle_partitions=max(4 * cores, 16),
)

sigs_u = spark.read.parquet(os.path.join(run_dir, "signatures")).withColumn(
    "uid", F.xxhash64("url")
)
exact_map = spark.read.parquet(os.path.join(run_dir, "exact_map"))
rep_sigs = DedupPipeline._rep_sigs(sigs_u, exact_map)


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


keys = band_keys(rep_sigs, id_col="uid", bands=C["bands"], rows_per_band=C["rows_per_band"])

pairs_pq = os.path.join(run_dir, "profile_pairs")
if substep == "verify" and not os.path.exists(os.path.join(pairs_pq, "_SUCCESS")):
    p, _ = candidate_pairs(keys, id_col="uid", bucket_cap=C["bucket_cap"])
    p.write.mode("overwrite").parquet(pairs_pq)

t0 = time.time()
if substep == "keys":
    _noop(keys)
elif substep == "pairs":
    p, _ = candidate_pairs(keys, id_col="uid", bucket_cap=C["bucket_cap"])
    _noop(p)
elif substep == "verify":
    p = spark.read.parquet(pairs_pq)
    _noop(
        verify_stage(
            p, sigs_u, id_col="uid", label_col="url",
            num_hashes=C["num_hashes"],
            jaccard_threshold=C["jaccard_threshold"],
            simhash_radius=C["simhash_radius"],
        )
    )
elif substep == "edges":
    p, _ = candidate_pairs(keys, id_col="uid", bucket_cap=C["bucket_cap"])
    _noop(
        verify_stage(
            p, sigs_u, id_col="uid", label_col="url",
            num_hashes=C["num_hashes"],
            jaccard_threshold=C["jaccard_threshold"],
            simhash_radius=C["simhash_radius"],
        )
    )
else:
    raise SystemExit(f"unknown substep {substep}")
print(json.dumps({"substep": substep, "cores": cores, "sec": round(time.time() - t0, 2)}))
spark.stop()
