"""No-JVM unit tests for the numpy signature kernel internals.

Pins the cache-blocked MinHash loop (`_minhash_blocked`) to the naive
one-permutation-at-a-time computation it replaced: blocking changes memory
access order only, never a single output bit. Exercises row-length shapes
that straddle block boundaries, including a single row larger than the
whole block.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from jira_duplicate_detection_turkcell__spark.operators import signatures as S
from jira_duplicate_detection_turkcell__spark.operators.minhash import _permutations


def _naive_minhash(g, offsets, a, b, num_perm):
    out = np.empty((offsets.size, num_perm), dtype=np.uint64)
    for k in range(num_perm):
        hv = a[k] * g + b[k]
        out[:, k] = np.minimum.reduceat(hv, offsets)
    return out


def _random_case(rng, n_rows, max_len):
    lengths = rng.integers(1, max_len, size=n_rows)
    g = rng.integers(0, 2**63, size=int(lengths.sum()), dtype=np.uint64)
    offsets = np.zeros(n_rows, dtype=np.int64)
    np.cumsum(lengths[:-1], out=offsets[1:])
    return g, offsets


def _signatures_of_shingles(shingles, num_perm=128, seed=7):
    """(n, num_perm) int64 MinHash of each row's distinct gram hashes — the
    signature the kernel derives its band hashes and screen from and does
    not emit — via the kernel's own ``_minhash_blocked``."""
    lengths = np.array([len(s) for s in shingles], dtype=np.int64)
    g = np.concatenate(list(shingles)).view(np.uint64)
    offsets = np.zeros(lengths.size, dtype=np.int64)
    np.cumsum(lengths[:-1], out=offsets[1:])
    a, b = _permutations(num_perm, seed)
    hv_buf = np.empty(g.size, dtype=np.uint64)
    return S._minhash_blocked(g, offsets, a, b, num_perm, hv_buf).view(np.int64)


def test_blocked_minhash_equals_naive():
    rng = np.random.default_rng(11)
    a, b = _permutations(128, 7)
    for n_rows, max_len in [(1, 5), (7, 40), (300, 700), (50, 3)]:
        g, offsets = _random_case(rng, n_rows, max_len)
        hv_buf = np.empty(g.size, dtype=np.uint64)
        got = S._minhash_blocked(g, offsets, a, b, 128, hv_buf)
        want = _naive_minhash(g, offsets, a, b, 128)
        assert np.array_equal(got, want), (n_rows, max_len)


def test_blocked_minhash_row_larger_than_block():
    """One row with more grams than _MINHASH_BLOCK must still be exact."""
    rng = np.random.default_rng(12)
    big = S._MINHASH_BLOCK + 1234
    lengths = np.array([3, big, 17], dtype=np.int64)
    g = rng.integers(0, 2**63, size=int(lengths.sum()), dtype=np.uint64)
    offsets = np.zeros(3, dtype=np.int64)
    np.cumsum(lengths[:-1], out=offsets[1:])
    a, b = _permutations(16, 7)
    hv_buf = np.empty(g.size, dtype=np.uint64)
    got = S._minhash_blocked(g, offsets, a, b, 16, hv_buf)
    want = _naive_minhash(g, offsets, a, b, 16)
    assert np.array_equal(got, want)


def test_simhash_chunk_size_invariance():
    """SimHash output must not depend on the vote-chunk size."""
    rng = np.random.default_rng(13)
    lengths = np.array([0, 5, 2 * S._SIMHASH_CHUNK + 77, 1, 1000], dtype=np.int64)
    tflat = rng.integers(0, 2**63, size=int(lengths.sum()), dtype=np.uint64)
    bit_idx = np.arange(64, dtype=np.uint64)
    base = S._simhash_from_flat(tflat, lengths, bit_idx)
    old_chunk = S._SIMHASH_CHUNK
    try:
        S._SIMHASH_CHUNK = 999  # awkward non-power-of-two chunking
        alt = S._simhash_from_flat(tflat, lengths, bit_idx)
    finally:
        S._SIMHASH_CHUNK = old_chunk
    assert np.array_equal(base, alt)


def test_text_sign_kernel_end_to_end_stability():
    """Full text kernel: batch-size invariance (blocking must not leak
    across batch boundaries) and deterministic output."""
    texts = [
        "alpha beta gamma delta epsilon zeta " * 30,
        "one two three",
        "",
        "solo",
        "alpha beta gamma delta epsilon zeta " * 30,  # dup of row 0
    ] * 8
    pdf = pd.DataFrame({"url": [f"u{i}" for i in range(len(texts))], "text": texts})
    kernel = S.text_sign_compute()

    def run(batch_size):
        outs = list(
            kernel(iter(pdf.iloc[i : i + batch_size] for i in range(0, len(pdf), batch_size)))
        )
        out = pd.concat(outs, ignore_index=True)
        return out.sort_values("url").reset_index(drop=True)

    a = run(3)
    b = run(40)
    assert list(a["url"]) == list(b["url"])
    sig_a = _signatures_of_shingles(a["shingles"])
    sig_b = _signatures_of_shingles(b["shingles"])
    assert np.array_equal(sig_a, sig_b)
    # the kernel's screen is the packed low bits of that same signature
    assert np.array_equal(np.stack(a["screen"]), S._screen_from_sigs(sig_a, 128))
    for i in range(len(a)):
        assert a["simhash"][i] == b["simhash"][i]
        assert np.array_equal(a["band_hashes"][i], b["band_hashes"][i])
        assert np.array_equal(a["screen"][i], b["screen"][i])
    # byte-identical texts → identical signatures
    u0, u4 = (int(np.flatnonzero(a["url"] == u)[0]) for u in ("u0", "u4"))
    assert np.array_equal(sig_a[u0], sig_a[u4])
    assert np.array_equal(a["band_hashes"][u0], a["band_hashes"][u4])


def test_char_kernel_grams_equal_python_substring_sets():
    """shingle_kind="char": the kernel's per-doc distinct gram counts and
    every pairwise Jaccard equal those of Python ``{t[i:i+w]}`` substring
    sets (oracle_bruteforce.char_grams) — on synth page texts plus a
    non-ASCII text, a non-BMP text (code points, not UTF-16 units) and a
    text shorter than ``w`` (one whole-text gram)."""
    from itertools import combinations

    from jira_duplicate_detection_turkcell__spark import extract, synth

    from tests.oracle_bruteforce import char_grams

    w = 5
    pages = synth.generate_pages_pdf(57, seed=42)
    texts = [extract.extract_text(h) for h in pages["html"]] + [
        "café naïve résumé déjà vu — ünïcödé",
        "emoji \U0001F600\U0001F600 grin \U0001F600 and 𝔘𝔫𝔦𝔠𝔬𝔡𝔢 text",
        "abc",
    ]
    urls = [f"u{i:03d}" for i in range(len(texts))]
    kernel = S.text_sign_compute(
        shingle_w=w, num_perm=16, bands=4, rows=4, shingle_kind="char"
    )
    out = pd.concat(
        list(kernel(iter([pd.DataFrame({"url": urls, "text": texts})]))),
        ignore_index=True,
    )
    assert list(out["url"]) == urls
    got = {u: set(sh.tolist()) for u, sh in zip(out["url"], out["shingles"])}
    want = {u: char_grams(t, w) for u, t in zip(urls, texts)}
    for u in urls:
        assert len(got[u]) == len(want[u]), u
    for a, b in combinations(urls, 2):
        assert len(got[a] & got[b]) == len(want[a] & want[b]), (a, b)


def test_zipimport_invalidate_stat_guard(tmp_path):
    """warm_daemon's stat guard: unchanged archives skip the directory
    re-read; a touched archive still invalidates."""
    import os
    import zipfile
    import zipimport

    from jira_duplicate_detection_turkcell__spark import warm_daemon

    # importing must NOT patch; only explicit activation (the daemon's
    # __main__ path) does
    warm_daemon.patch_zipimport_invalidate()
    assert getattr(zipimport.zipimporter.invalidate_caches, "_jdt_patch", False)
    zp = tmp_path / "m.zip"
    with zipfile.ZipFile(zp, "w") as z:
        z.writestr("modx.py", "x = 1\n")
    zi = zipimport.zipimporter(str(zp))
    calls = {"n": 0}
    orig = zipimport._read_directory

    def counting(path):
        calls["n"] += 1
        return orig(path)

    zipimport._read_directory = counting
    try:
        zi.invalidate_caches()
        zi.invalidate_caches()
        zi.invalidate_caches()
        assert calls["n"] == 1  # first call reads, guard absorbs the rest
        os.utime(zp, ns=(12345, 67890))
        zi.invalidate_caches()
        assert calls["n"] == 2  # mtime moved -> genuine re-read
    finally:
        zipimport._read_directory = orig


def test_kernel_tokenizer_matches_jvm_on_exotic_whitespace(spark):
    """The numpy kernel's tokenizer must equal the JVM tokenizer
    (functions/shingle.tokens = split(trim(text), '\\s+')) on Unicode
    whitespace Java's ASCII \\s does NOT split on (U+2028 LS, U+0085 NEL,
    U+00A0 NBSP) and on edge whitespace where Java split keeps empty
    tokens. Python str.split() used to split on all of these and drop
    empties, silently forking gram sets between the minhash path and the
    JVM/ngram/oracle paths on real crawl text."""
    import re

    from pyspark.sql import functions as F

    from jira_duplicate_detection_turkcell__spark.functions.shingle import (
        tokens,
        word_shingles,
    )
    from jira_duplicate_detection_turkcell__spark.operators import signatures

    texts = [
        "alpha\u2028beta gamma delta epsilon",  # LS inside a "token"
        "one\u0085two three four five",         # NEL
        "nb\u00a0sp joined tokens here now",    # NBSP
        "\tleading tab token stream here",      # Java split: empty lead tok
        "plain ascii words only here now",      # control
        "a b",                                  # short row fallback
    ]
    docs = spark.createDataFrame(
        [(f"d{i}", t) for i, t in enumerate(texts)], "url string, text string"
    )
    jvm = {
        r["url"]: (list(r["toks"]), r["n_grams"])
        for r in docs.select(
            "url",
            tokens(F.col("text")).alias("toks"),
            F.size(word_shingles(F.col("text"), 3)).alias("n_grams"),
        ).collect()
    }
    kernel = {
        r["url"]: len(r["shingles"])
        for r in signatures.sign_docs(
            docs, shingle_w=3, num_perm=16, seed=7, bands=4, rows=4
        ).collect()
    }
    ws = re.compile(r"[ \t\n\x0b\x0c\r]+")
    for i, t in enumerate(texts):
        url = f"d{i}"
        # token-stream parity with the real JVM output
        assert ws.split(t.strip(" ")) == jvm[url][0], url
        # gram-set SIZE parity kernel vs JVM (hash domains differ by design;
        # the gram identity -- the token tuple -- must not)
        assert kernel[url] == jvm[url][1], url
