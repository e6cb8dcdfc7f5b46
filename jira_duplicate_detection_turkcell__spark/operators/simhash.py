"""64-bit SimHash + Hamming-ball bucketing — the C2 dedup path.

Second retrieval path (the reference's analog is its second,
platform-partitioned FAISS index, hybrid_search.py:150-156). The 64-bit
values come from the numpy signing kernel (operators/signatures.py, or
``add_simhash_kernel`` for a bare text table); bucketing uses the
pigeonhole principle over **chunk pairs**: the 64 bits are split into 5
chunks (13+13+13+13+12 bits); d ≤ 3 bit errors can touch at most 3 chunks,
leaving ≥ 2 chunks clean, so every pair at Hamming distance ≤ 3 shares at
least one of the C(5,2) = 10 *chunk-pair* keys — an equi-join on
(pair_id, concat of the two chunk values) has perfect recall for d ≤ 3.
This module holds the keys (``chunk_pair_keys``) and a standalone kernel
(``add_simhash_kernel``); the keys become the bkind 1 rows of the fused
bucket table (plans/pipeline.fused_bucket_table), whose salted self-join
pairs them and verifies exact ``bit_count(l XOR r)`` inline on the
carried simhashes.

Why pairs, not single chunks: round 1 used 4 single 16-bit chunks, whose
2^16 key space saturates — at ≥10^7 docs *every* bucket exceeds any cap
(silent recall collapse under capping; mega-buckets under salting). A
chunk-pair key carries 25-26 bits ⇒ 2^25+ distinct values per pair_id, so
expected bucket size stays O(N/2^25) and only true near-duplicate masses
form hot buckets (which the salted join then spreads). Cost: 10 bucket rows
per doc instead of 4.
"""

from __future__ import annotations

from itertools import combinations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .signatures import _simhash_from_flat, _token_hashes

# 5 chunks ⇒ any d≤3 pair has ≥2 clean chunks ⇒ shares a chunk-pair key
_CHUNK_BITS = (13, 13, 13, 13, 12)
_CHUNK_OFFSETS = tuple(sum(_CHUNK_BITS[:i]) for i in range(len(_CHUNK_BITS)))
CHUNK_PAIRS = tuple(combinations(range(len(_CHUNK_BITS)), 2))
N_CHUNKS = len(_CHUNK_BITS)


def add_simhash_kernel(
    df: DataFrame, text_col: str = "text", key_col: str = "url", out_col: str = "simhash"
) -> DataFrame:
    """text → 64-bit simhash in ONE numpy mapInPandas pass.

    The same tokenizer, token hashes and bit votes as the signing kernel
    (operators/signatures.py), so a doc's simhash here equals its
    ``simhash`` column there. Keeps every input row; it does not drop
    empty texts the way the signing kernel does.
    """
    bit_idx = np.arange(64, dtype=np.uint64)
    key_t = df.schema[key_col].dataType.simpleString()

    def compute(batch_iter):
        for pdf in batch_iter:
            if len(pdf) == 0:
                continue
            _, lengths, th = _token_hashes(pdf[text_col].astype(object).fillna(""))
            sim = _simhash_from_flat(th, lengths, bit_idx)
            yield pd.DataFrame({key_col: pdf[key_col].to_numpy(), out_col: sim})

    return df.select(key_col, text_col).mapInPandas(
        compute, f"{key_col} {key_t}, {out_col} long"
    )


def _chunk_expr(simhash_col: str, j: int) -> Column:
    return F.shiftrightunsigned(F.col(simhash_col), _CHUNK_OFFSETS[j]).bitwiseAND(
        F.lit((1 << _CHUNK_BITS[j]) - 1)
    )


def chunk_pair_keys(simhash_col: str = "simhash") -> Column:
    """array<long> of the 10 chunk-pair keys (chunk_i ≪ bits_j | chunk_j)."""
    return F.array(
        *[
            F.shiftleft(_chunk_expr(simhash_col, i), _CHUNK_BITS[j]).bitwiseOR(
                _chunk_expr(simhash_col, j)
            )
            for i, j in CHUNK_PAIRS
        ]
    )
