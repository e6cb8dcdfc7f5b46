"""Pair-verification pieces of the fused edge plan — the C5 stage (replaces
the cross-encoder re-rank, hybrid_search.py:424-455).

``attach_pair_columns`` joins per-doc columns onto a candidate pair list;
``screen_agreement`` is the low-bit MinHash screen and ``SCREEN_MARGIN`` its
margin. The plan that uses them (inline Hamming, screen, exact Jaccard on
the attached shingle sets) is plans/pipeline.verify_fused_pairs and
exact_fused_edges. Everything is JVM-side and touches only candidate pairs —
never O(n²).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Margin for the compact low-bit screen (screen_agreement): its estimator
# 2·obs − 1 has twice the binomial std (≤ 0.063 at k=128, J=0.7), so the
# wider margin keeps per-pair miss probability ≈ 4e-5 (≈ 4σ) while random
# pairs (J ≈ 0 ⇒ E[obs] = 0.5) still fail the cut astronomically hard.
SCREEN_MARGIN = 0.25


def attach_pair_columns(
    pairs: DataFrame,
    docs: DataFrame,
    cols: list[str],
    key_col: str = "url",
) -> DataFrame:
    """pairs(key_l, key_r) ⋈ docs → pairs + <col>_l / <col>_r columns.

    Two hash equi-joins on the doc key; the docs side is pre-projected to the
    needed columns so the shuffle carries no dead weight.
    """
    slim = docs.select(F.col(key_col), *[F.col(c) for c in cols])
    left = slim.select(
        F.col(key_col).alias("key_l"), *[F.col(c).alias(f"{c}_l") for c in cols]
    )
    right = slim.select(
        F.col(key_col).alias("key_r"), *[F.col(c).alias(f"{c}_r") for c in cols]
    )
    return pairs.join(left, "key_l").join(right, "key_r")


def screen_agreement(
    screens_l: list[F.Column], screens_r: list[F.Column], num_perm: int
) -> F.Column:
    """Jaccard estimate from packed low-bit screen sketches (paired scalar
    long columns, one per 64 signature slots).

    obs = fraction of matching low bits; E[obs] = (1 + J)/2 (a signature
    slot agrees w.p. J; a disagreeing slot's low bits collide w.p. 1/2), so
    the unbiased estimate is 2·obs − 1. 16 bytes per doc at k=128 — cheap
    enough to ride every bucket row as a carry column, which is what lets
    the fused pipeline screen candidates INLINE on the self-join output
    instead of through a blocking attach join (plans/pipeline.fused_edges).
    The sketch rides as PLAIN LONG columns and the estimate is a sum of
    primitive bit_count(xor) terms — whole-stage codegen, zero per-row
    allocation (an array carry + interpreted zip_with/aggregate here made
    the edge phase anti-scale: 50 s at 2 cores, 56 s at 8, measured
    n=200k).
    """
    xor_bits = None
    for a, b in zip(screens_l, screens_r):
        term = F.bit_count(a.bitwiseXOR(b))
        xor_bits = term if xor_bits is None else xor_bits + term
    obs = (F.lit(num_perm) - xor_bits).cast("double") / F.lit(float(num_perm))
    return F.lit(2.0) * obs - F.lit(1.0)
