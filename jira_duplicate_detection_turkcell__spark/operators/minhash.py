"""MinHash permutations + LSH band bucketing — the C1 dedup path.

Replaces the reference's bi-encoder + per-platform FAISS top-k retrieval
(src/embedding_pipeline.py:110-140, hybrid_search.py:357-419) with a
deterministic, join-expressible scheme:

    shingle hashes → k-perm MinHash signature → b bands × r rows, band hash
    (all in the numpy signing kernel, operators/signatures.py)
    →  bucket self-join (here)  →  pairs

Scale posture (SURVEY.md §4): hot buckets (boilerplate — many pages sharing
a band) are salted into bounded cells by the shared generator
(operators/buckets.py) — full recall, spread work; AQE skew join splitting
is the backstop. Signature math is numpy uint64 (wrapping by construction)
— never SQL arithmetic, which runs under ANSI mode.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame


def _permutations(num_perm: int, seed: int) -> tuple[np.ndarray, np.ndarray]:
    """Fixed affine permutation params (a odd, b) — deterministic per seed.

    Each (a·x + b) mod 2⁶⁴ with odd ``a`` is a BIJECTION on uint64 (odd a is
    invertible mod 2⁶⁴), so per-permutation minima form a valid MinHash
    family with no explicit modulus. The earlier Mersenne-prime reduction
    was measured at 83% of the whole permutation loop (`np.mod` on uint64
    has no vectorized integer-division path) for no recall benefit — the
    recall pytest gates (≥0.99 vs brute force) pin the family's quality.
    """
    rng = np.random.Generator(np.random.PCG64(seed))
    a = rng.integers(1, 1 << 61, size=num_perm, dtype=np.uint64) | np.uint64(1)
    b = rng.integers(0, 1 << 61, size=num_perm, dtype=np.uint64)
    return a, b


def candidate_pairs(
    bands_df: DataFrame,
    key_col: str = "url",
    max_bucket_size: int = 200,
) -> tuple[DataFrame, DataFrame]:
    """LSH bucket self-join → distinct candidate pairs (key_l < key_r).

    Returns ``(pairs, hot_buckets)``. Buckets larger than
    ``max_bucket_size`` are *salted* (operators/buckets.py): members split
    into ceil(m/cap) hash groups and paired cell-by-cell, so a boilerplate
    mega-bucket's O(m²) pair work spreads over many bounded shuffle cells
    instead of one task — full recall, no drops. ``hot_buckets`` is the
    lineage table of buckets that ran salted.
    """
    from .buckets import salted_bucket_pairs

    pairs, hot = salted_bucket_pairs(
        bands_df, ["band_id", "band_hash"], key_col, max_bucket_size
    )
    return pairs.distinct(), hot
