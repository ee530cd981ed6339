"""PySpark-native web-scale near-duplicate detection & clustering engine.

A from-scratch re-imagining of the entity-resolution pipeline in
calguard/Name-Deduplication-Python (see /root/repo/SURVEY.md) as a
Common-Crawl-style text-dedup engine:

    extract (html -> text, byte-deterministic)
      -> k-shingle MinHash signatures (Arrow-batched numpy)
      -> LSH band hashing + salted/capped band-bucket candidate join
      -> SimHash Hamming-ball + MinHash-Jaccard verification
      -> iterative large-star/small-star connected components
      -> checkpointed, lineage-tracked cluster outputs.

Reference semantics mapping is documented per-module via SURVEY.md §2
operator ids (J1/J2, F1-F4, A1, ...). No code is copied from the
reference; all hot paths are native DataFrame ops or pandas/Arrow UDFs.
"""

__version__ = "0.1.0"

DEFAULT_CONFIG = {
    # Fixed dedup config (BASELINE.md bench protocol): record next to every number.
    # Every key is read by the engine; a value no caller tunes is a
    # constant where it is used (e.g. operators.verify.ESTIMATOR_Z).
    "shingle_k": 5,          # words per shingle
    "num_hashes": 128,       # MinHash functions
    # banding: P(candidate | J) = 1 - (1 - J^r)^b. At theta=0.8 the gate
    # needs P >= 0.99: 16x8 gives 0.947 (FAILS), 25x5 gives 0.99995.
    # S-curve midpoint (1/b)^(1/r) = 0.525 — moderate-similarity false
    # candidates are filtered by the native verifier.
    "bands": 25,             # LSH bands (uses minhash[0:125] of 128)
    "rows_per_band": 5,
    "simhash_radius": 3,     # Hamming-ball verify radius
    "jaccard_threshold": 0.80,
    "bucket_cap": 64,        # full pairing below, capped pairing above (skew guard)
    "seed": 42,
    # precision tier (None = reference OR-semantics): when set, an edge
    # admitted ONLY by the SimHash Hamming ball additionally needs
    # est_jaccard >= this floor (operators.verify.hamming_floor() gives
    # the recommended strict value, ~0.635 at this config).
    #
    # DEFAULT DECISION (round 6, explicit): stays None. The north-star
    # mandate is "SimHash Hamming-ball matching for near-dup scoring" as
    # an independent admission tier, and the driver oracle + recall gates
    # are pinned to that OR-semantics; flipping the floor on by default
    # would silently change every oracle-verified edge set. Training-data
    # users SHOULD opt in via strict_config(): measured on planted
    # near-J~0.5 families (BENCH_r05.json), the strict tier cuts the
    # false-merge rate 0.112 -> 0.0075 while recall stays 0.9999 at both
    # settings. trainset.build_training_set / tiers.tiered_dedup honor
    # the knob (round-6 fix) — pass strict_config() as their config.
    "hamming_est_floor": None,
}


def strict_config(**overrides) -> dict:
    """DEFAULT_CONFIG with the precision tier ON: hamming-only edges must
    also clear ``operators.verify.hamming_floor()`` (theta - 2*z*sigma of
    the MinHash estimator with z = ESTIMATOR_Z, ~0.635 at the default
    128-hash/theta=0.8 config — recomputed here from the actual config,
    so overriding num_hashes/jaccard_threshold keeps the floor
    consistent).

    Measured (BENCH_r05.json, planted families at the default config):
    near-J~0.5 false-merge rate 0.112 (default OR-semantics) -> 0.0075
    (strict), recall 0.9999 at BOTH settings. This is the recommended
    setting for training-data curation; the plain DEFAULT_CONFIG keeps
    the reference's OR-semantics (see the comment on hamming_est_floor).

    Any kwarg overrides the returned dict AFTER the floor is derived
    from the (possibly overridden) threshold config, so
    ``strict_config(num_hashes=256)`` floors at the 256-hash sigma.
    """
    from .operators.verify import hamming_floor

    cfg = dict(DEFAULT_CONFIG)
    cfg.update(overrides)
    if "hamming_est_floor" not in overrides:
        cfg["hamming_est_floor"] = hamming_floor(
            jaccard_threshold=cfg["jaccard_threshold"],
            num_hashes=cfg["num_hashes"],
        )
    return cfg
