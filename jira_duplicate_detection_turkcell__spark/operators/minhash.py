"""MinHash permutation parameters — the C1 dedup path's hash family.

Replaces the reference's bi-encoder + per-platform FAISS top-k retrieval
(src/embedding_pipeline.py:110-140, hybrid_search.py:357-419) with a
deterministic, join-expressible scheme:

    shingle hashes → k-perm MinHash signature → b bands × r rows, band hash
    (all in the numpy signing kernel, operators/signatures.py, which draws
    its permutations from ``_permutations`` here)
    →  band rows of the fused bucket table → salted self-join → pairs
    (plans/pipeline.fused_bucket_table, operators/buckets.py)

Signature math is numpy uint64 (wrapping by construction) — never SQL
arithmetic, which runs under ANSI mode.
"""

from __future__ import annotations

import numpy as np


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
