"""JVM-side shingling expressions (Spark SQL, zero Python).

The reference embeds whole texts with a sentence-transformer
(src/embedding_pipeline.py:96-108); the new engine's retrieval unit is the
shingle (SURVEY.md §2.11 C1). The signatures the pipeline ships come from
the numpy kernel (operators/signatures.text_sign_compute), not from here.
This module keeps the SQL-expressible definitions that other code needs:
``char_shingles`` for the suffix path's fingerprints (operators/suffix.py),
``word_gram_strings`` for exact n-gram Jaccard (operators/jaccard.py), and
``tokens``/``word_shingles`` as the JVM reference the kernel's tokenizer and
gram sets are tested against (tests/test_sign_kernel.py).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

XXHASH_SEED = 42  # fixed engine-wide; signatures must be reproducible


def tokens(text: Column) -> Column:
    """Whitespace tokens of already-cleaned (lowercased) text."""
    return F.split(F.trim(text), r"\s+")


def token_hashes(text: Column) -> Column:
    """Non-distinct xxhash64 per token (tf preserved) — the shared input for
    both shingling (tuple-hash grams) and SimHash (bit votes)."""
    return F.transform(tokens(text), lambda t: F.xxhash64(t, F.lit(XXHASH_SEED)))


def word_shingles_from_hashes(th: Column, toks: Column, w: int = 3) -> Column:
    """Distinct gram hashes from a precomputed token-hash array (see
    `word_shingles` for gram-identity semantics)."""
    n = F.size(th)
    grams = F.when(
        n >= w,
        F.transform(
            F.sequence(F.lit(0), n - w),
            lambda i: F.xxhash64(*[F.get(th, i + j) for j in range(w)]),
        ),
    ).otherwise(F.array(F.xxhash64(F.array_join(toks, " "), F.lit(XXHASH_SEED))))
    return F.array_distinct(grams)


def word_shingles(text: Column, w: int = 3) -> Column:
    """Distinct 64-bit hashes of all ``w``-word shingles (array<long>).

    Gram identity is the *token-hash tuple*: each token is xxhash64'd once,
    then each gram is a fixed-arity xxhash64 over its ``w`` token hashes —
    no per-gram string slicing/joining, which profiling showed dominated the
    whole signature stage (string `slice`+`array_join` per gram allocates
    O(tokens × w) and was ~20× the cost of the MinHash UDF itself). The
    hashed-tuple set induces exactly the same Jaccard as the string-gram set
    (tokens contain no whitespace, so tuple ↔ joined-string is a bijection,
    modulo 64-bit collisions).

    Documents shorter than ``w`` tokens contribute their whole token string
    as one shingle, so short docs still participate in dedup instead of
    vanishing; short-doc grams only ever equal other short-doc grams, exactly
    as with string grams.
    """
    toks = tokens(text)
    # one body, two entry points: the gram construction lives only in
    # word_shingles_from_hashes so the semantics cannot silently diverge
    return word_shingles_from_hashes(token_hashes(text), toks, w)


def word_gram_strings(text: Column, w: int = 3) -> Column:
    """Distinct ``w``-word shingles as strings (array<string>).

    Same gram semantics as `word_shingles` but unhashed — used where the
    shingle itself must be join-key-visible (exact n-gram Jaccard with a
    SQL-expressible oracle)."""
    toks = tokens(text)
    n = F.size(toks)
    grams = F.when(
        n >= w,
        F.transform(
            F.sequence(F.lit(0), n - w),
            lambda i: F.array_join(F.slice(toks, i + 1, w), " "),
        ),
    ).otherwise(F.array(F.array_join(toks, " ")))
    return F.array_distinct(grams)


def char_shingles(text: Column, c: int = 9) -> Column:
    """Distinct xxhash64 hashes of all ``c``-char shingles (array<long>)."""
    n = F.length(text)
    grams = F.when(
        n >= c,
        F.transform(
            F.sequence(F.lit(1), n - c + 1),
            lambda i: F.substring(text, i, c),
        ),
    ).otherwise(F.array(text))
    return F.array_distinct(F.transform(grams, lambda g: F.xxhash64(g, F.lit(XXHASH_SEED))))
