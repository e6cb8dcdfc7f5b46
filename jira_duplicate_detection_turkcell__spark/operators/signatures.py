"""Fused signature computation: tokenize + shingle + MinHash + SimHash + LSH
band hashes in ONE Python round-trip.

Profiling on the 40k-page corpus showed the naive plan (two chained
ArrowEvalPython nodes, each with its own JVM tokenization pass) spent more
time shipping batches through two Python hops and re-splitting text than on
the actual signature math. A second round of profiling at 32 cores showed the
JVM half of the "fused" plan — interpreted higher-order expressions
(``transform``/``sequence``/``get``/``array_distinct``) building token and
gram hashes — allocating so heavily that GC made the stage *slower* at 4×
the cores. ``text_sign_compute`` therefore moves the whole chain into numpy:

    text → whitespace tokens → token hashes (``pd.util.hash_array``, C-speed,
    fixed key) → w-gram hashes (vectorized 64-bit mix over the flat unit
    vector, row boundaries masked) → per-row distinct via lexsort →
    k-perm MinHash (``np.minimum.reduceat``) → SimHash bit votes →
    per-band hashes from signature slices

The gram units are the token hashes for ``shingle_kind="word"`` and the
text's code points for ``"char"``; both kinds run the same mix, MinHash,
band and screen code, and SimHash always votes over token hashes. This is
the only code that computes signature values.

One mapInPandas, one Arrow crossing of the text column, zero JVM array
expressions, zero per-row Python in the hot loop. Gram *identity* (the
token tuple, or the ``w``-code-point substring) is unchanged from
functions/shingle.py, so shingle-set Jaccard — what verification and the
brute-force oracle measure — is preserved under any 64-bit hash choice,
modulo collisions.
"""

from __future__ import annotations

from itertools import chain
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from .minhash import _permutations

# xxhash64/murmur-style avalanche constants for the vectorized gram mixer
_PRIME_1 = np.uint64(0x9E3779B185EBCA87)
_PRIME_2 = np.uint64(0xC2B2AE3D27D4EB4F)
_PRIME_3 = np.uint64(0x165667B19E3779F9)


def _fmix64(h: np.ndarray) -> np.ndarray:
    h = h ^ (h >> np.uint64(33))
    h = h * _PRIME_2
    h = h ^ (h >> np.uint64(29))
    h = h * _PRIME_3
    return h ^ (h >> np.uint64(32))


# grams per MinHash cache block: 32k grams = 256 KB of keys + 256 KB of
# scratch — resident in L2 across all num_perm passes. The unblocked loop
# streamed the full gram vector from DRAM once per permutation (~24 B/gram
# × 128 perms = ~3 KB of memory traffic per gram); at 8 concurrent workers
# that saturated host memory bandwidth and inflated per-task time 1.6×
# (scripts/kernel_scaling_probe.py). Blocking cuts DRAM traffic ~num_perm×
# and is what lets the signature stage scale with cores.
_MINHASH_BLOCK = 32768

# tokens per SimHash vote step: the (chunk x 64) int32 vote expansion is the
# kernel's fattest transient; 8k tokens -> 2 MB, L2-resident at 8 concurrent
# workers (the old 65536 -> 16 MB spilled to DRAM and contended across workers)
_SIMHASH_CHUNK = 8192


def _minhash_blocked(
    g: np.ndarray,
    offsets: np.ndarray,
    a_params: np.ndarray,
    b_params: np.ndarray,
    num_perm: int,
    hv_buf: np.ndarray,
) -> np.ndarray:
    """(flat uint64 grams, per-row start offsets) → (n_rows, num_perm) uint64
    MinHash matrix, computed block-of-rows at a time so each gram block is
    read from DRAM once, not num_perm times."""
    n_rows = offsets.size
    out = np.empty((n_rows, num_perm), dtype=np.uint64)
    r0 = 0
    while r0 < n_rows:
        r1 = int(np.searchsorted(offsets, offsets[r0] + _MINHASH_BLOCK, side="right"))
        r1 = max(r1, r0 + 1)
        s = offsets[r0]
        e = offsets[r1] if r1 < n_rows else g.size
        g_blk = g[s:e]
        off_blk = offsets[r0:r1] - s
        hv = hv_buf[: g_blk.size]
        for k in range(num_perm):
            # affine bijection mod 2^64 (odd a) — see minhash._permutations
            np.multiply(a_params[k], g_blk, out=hv)
            np.add(hv, b_params[k], out=hv)
            out[r0:r1, k] = np.minimum.reduceat(hv, off_blk)
        r0 = r1
    return out


# --------------------------------------------------------------------------
# All-Python signature path: text → shingles + minhash + simhash + band hashes
# --------------------------------------------------------------------------

def _simhash_from_flat(tflat, tlengths, bit_idx):
    """64-bit SimHash per row from a flat tf-preserving token-hash vector."""
    sim = np.zeros(len(tlengths), dtype=np.int64)
    tnonempty = tlengths > 0
    n_rows = int(tnonempty.sum())
    if not tflat.size:
        return sim
    toffsets = np.zeros(n_rows, dtype=np.int64)
    np.cumsum(tlengths[tnonempty][:-1], out=toffsets[1:])
    sums = np.zeros((n_rows, 64), dtype=np.int32)
    chunk = _SIMHASH_CHUNK
    for s in range(0, tflat.size, chunk):
        e = min(s + chunk, tflat.size)
        votes = ((tflat[s:e, None] >> bit_idx) & np.uint64(1)).astype(np.int32) * 2 - 1
        first = int(np.searchsorted(toffsets, s, side="right")) - 1
        local = toffsets[(toffsets > s) & (toffsets < e)]
        bounds = np.concatenate(([s], local)).astype(np.int64) - s
        seg = np.add.reduceat(votes, bounds, axis=0)
        sums[first : first + len(bounds)] += seg
    bits = (sums > 0).astype(np.uint64)
    packed = (bits << bit_idx).sum(axis=1, dtype=np.uint64)
    sim[tnonempty] = packed.view(np.int64)
    return sim


def _token_hashes(texts: pd.Series):
    r"""texts → (token lists, per-row token counts, flat uint64 token hashes).

    Replicates the JVM tokenizer (functions/shingle.tokens =
    F.split(F.trim(text), r"\s+")) EXACTLY: trim strips ASCII spaces only,
    Java \s is the ASCII class [ \t\n\x0B\f\r] (NOT Unicode whitespace),
    and split(limit=-1) keeps empty edge tokens. Python str.split() splits on
    Unicode whitespace (U+2028, NEL, …) and drops empties — on crawl text
    with exotic whitespace that forks the gram sets from the JVM/ngram/oracle
    paths. Every signing path tokenizes here.
    """
    tok_lists = texts.str.strip(" ").str.split(r"[ \t\n\x0b\x0c\r]+", regex=True)
    lengths = np.fromiter((len(t) for t in tok_lists), dtype=np.int64, count=len(texts))
    flat_tokens = np.array(list(chain.from_iterable(tok_lists)), dtype=object)
    th = (
        pd.util.hash_array(flat_tokens, categorize=True).astype(np.uint64, copy=False)
        if flat_tokens.size
        else np.empty(0, dtype=np.uint64)
    )
    return tok_lists, lengths, th


def _row_grams(units: np.ndarray, lengths: np.ndarray, w: int):
    """w-gram hashes along a flat uint64 unit vector with per-row
    ``lengths``; grams that would cross a row boundary are masked out.
    → (gram hashes, row index per gram)."""
    row_id = np.repeat(np.arange(lengths.size, dtype=np.int64), lengths)
    if units.size < w:
        return np.empty(0, dtype=np.uint64), np.empty(0, dtype=np.int64)
    L = units.size - w + 1
    g = np.zeros(L, dtype=np.uint64)
    for j in range(w):
        g = _fmix64((g * _PRIME_1) ^ units[j : j + L])
    valid = row_id[:L] == row_id[w - 1 :]
    return g[valid], row_id[:L][valid]


def check_sign_params(num_perm: int, bands: int, rows: int, shingle_kind: str) -> None:
    """Raise ValueError for a signing config the kernel cannot run."""
    if bands * rows != num_perm:
        raise ValueError(f"bands*rows must equal num_perm: {bands}*{rows} != {num_perm}")
    if shingle_kind not in ("word", "char"):
        raise ValueError(f"shingle_kind must be 'word' or 'char', not {shingle_kind!r}")


def text_sign_compute(
    shingle_w: int = 3,
    num_perm: int = 128,
    seed: int = 7,
    with_simhash: bool = True,
    bands: int = 32,
    rows: int = 4,
    shingle_kind: str = "word",
):
    """mapInPandas kernel: (url, text, …) batches → (url, shingles,
    simhash, band_hashes, screen). Pure numpy/pandas — unit-testable
    without a JVM. Rows whose text is empty are dropped (mirrors the
    ``length(text) > 0`` filter of the extract stage).

    The ``num_perm``-long MinHash signature is computed per batch but not
    emitted: the band hashes and the screen sketch are derived from it
    here, and no plan reads it after signing, so it never crosses the
    Arrow boundary or lands in a committed stage. It is the MinHash of the
    row's ``shingles`` under ``minhash._permutations(num_perm, seed)``.

    ``shingle_kind="word"`` grams are ``shingle_w`` consecutive tokens;
    ``"char"`` grams are ``shingle_w`` consecutive code points. A row with
    fewer than ``shingle_w`` units has one gram, the hash of its whole text
    (functions/shingle.word_shingles / char_shingles follow the same rule).
    """
    check_sign_params(num_perm, bands, rows, shingle_kind)
    a_params, b_params = _permutations(num_perm, seed)
    empty_sig = np.full(num_perm, np.iinfo(np.int64).max, dtype=np.int64)
    bit_idx = np.arange(64, dtype=np.uint64)

    def compute(batch_iter: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batch_iter:
            texts = pdf["text"].astype(object).fillna("")
            keep = texts.str.len() > 0
            pdf = pdf[keep]
            texts = texts[keep]
            n = len(pdf)
            if n == 0:
                continue
            tok_lists, lengths, th = _token_hashes(texts)
            if shingle_kind == "word":
                g, g_row = _row_grams(th, lengths, shingle_w)
                short_idx = np.flatnonzero(lengths < shingle_w)
                whole = [" ".join(tok_lists.iat[i]) for i in short_idx]
            else:
                cps = np.frombuffer("".join(texts).encode("utf-32-le"), np.uint32)
                n_cps = texts.str.len().to_numpy(dtype=np.int64)
                g, g_row = _row_grams(cps.astype(np.uint64), n_cps, shingle_w)
                short_idx = np.flatnonzero(n_cps < shingle_w)
                whole = [texts.iat[i] for i in short_idx]

            # ---- short rows (< w units): one gram = hash of the whole row
            # (" ".join(tokens) for words, the text itself for chars)
            if short_idx.size:
                sh = pd.util.hash_array(
                    np.array(whole, dtype=object), categorize=False
                ).astype(np.uint64, copy=False)
                g = np.concatenate([g, sh])
                g_row = np.concatenate([g_row, short_idx.astype(np.int64)])

            # ---- per-row distinct (sorted) grams via one lexsort
            order = np.lexsort((g, g_row))
            g = g[order]
            g_row = g_row[order]
            if g.size:
                first = np.ones(g.size, dtype=bool)
                first[1:] = (g_row[1:] != g_row[:-1]) | (g[1:] != g[:-1])
                g = g[first]
                g_row = g_row[first]
            d_lengths = np.bincount(g_row, minlength=n)
            nonempty = d_lengths > 0
            offsets = np.zeros(int(nonempty.sum()), dtype=np.int64)
            np.cumsum(d_lengths[nonempty][:-1], out=offsets[1:])

            # ---- MinHash over the distinct flat gram vector
            sigs = np.empty((n, num_perm), dtype=np.int64)
            sigs[~nonempty] = empty_sig
            if g.size:
                hv = np.empty(g.size, dtype=np.uint64)
                sigs[nonempty] = _minhash_blocked(
                    g, offsets, a_params, b_params, num_perm, hv
                ).view(np.int64)

            # ---- SimHash over tf-preserving token hashes
            if with_simhash:
                sim = _simhash_from_flat(th, lengths, bit_idx)
            else:
                sim = np.zeros(n, dtype=np.int64)

            # ---- LSH band hashes from signature slices
            u = sigs.view(np.uint64).reshape(n, bands, rows)
            bh = np.zeros((n, bands), dtype=np.uint64)
            for j in range(rows):
                bh = _fmix64((bh * _PRIME_1) ^ u[:, :, j])
            bh = bh.view(np.int64)

            # ---- compact screen sketch: low bit of each signature slot,
            # packed ceil(num_perm/64) longs per row (chunk c bit j =
            # sig[c*64+j] & 1). Rides the fused bucket rows so the MinHash
            # agreement screen runs INLINE on the pair join output — no
            # blocking broadcast attach join (see plans/pipeline.fused_edges
            # and operators/verify.screen_agreement for the estimator math).
            scr = _screen_from_sigs(sigs, num_perm)

            # split points per row for the flat distinct gram vector
            starts = np.zeros(n, dtype=np.int64)
            starts[nonempty] = offsets
            ends = starts + d_lengths
            gi = g.view(np.int64)
            yield pd.DataFrame(
                {
                    "url": pdf["url"].to_numpy(),
                    "shingles": [gi[s:e] for s, e in zip(starts, ends)],
                    "simhash": sim,
                    "band_hashes": list(bh),
                    "screen": list(scr),
                }
            )

    return compute


def _screen_from_sigs(sigs: np.ndarray, num_perm: int) -> np.ndarray:
    """(n, num_perm) int64 signatures → (n, ceil(num_perm/64)) packed low bits."""
    n = sigs.shape[0]
    n_chunks = (num_perm + 63) // 64
    low = (sigs.view(np.uint64) & np.uint64(1)).astype(np.uint64)
    scr = np.zeros((n, n_chunks), dtype=np.uint64)
    for c in range(n_chunks):
        width = min(64, num_perm - c * 64)
        w = np.uint64(1) << np.arange(width, dtype=np.uint64)
        scr[:, c] = (low[:, c * 64 : c * 64 + width] * w).sum(axis=1, dtype=np.uint64)
    return scr.view(np.int64)


SIGN_SCHEMA = (
    "url string, shingles array<long>, simhash long, "
    "band_hashes array<long>, screen array<long>"
)


def sign_docs(
    docs: DataFrame,
    shingle_w: int = 3,
    num_perm: int = 128,
    seed: int = 7,
    with_simhash: bool = True,
    bands: int = 32,
    rows: int = 4,
    shingle_kind: str = "word",
) -> DataFrame:
    """docs(url, text) → (url, shingles, simhash, band_hashes, screen) in
    a single mapInPandas pass (no JVM array expressions, one Arrow hop)."""
    kernel = text_sign_compute(
        shingle_w, num_perm, seed, with_simhash, bands, rows, shingle_kind
    )
    return docs.select("url", "text").mapInPandas(kernel, SIGN_SCHEMA)
