"""Brute-force O(n²) oracles for dedup correctness (SURVEY.md §5).

Truth for recall is defined here, independent of the engine: exact set
Jaccard over shingle strings, exact Hamming over simhash values, exact
common-substring scan, and union-find clustering over truth pairs.
"""

from __future__ import annotations

import re
from itertools import combinations


def word_grams(text: str, w: int) -> frozenset[str]:
    """Distinct w-word shingles; mirrors functions/shingle.word_shingles
    semantics (short docs → single whole-text gram)."""
    toks = re.split(r"\s+", text.strip()) if text.strip() else [""]
    if len(toks) < w:
        return frozenset([" ".join(toks)])
    return frozenset(" ".join(toks[i : i + w]) for i in range(len(toks) - w + 1))


def char_grams(text: str, c: int) -> frozenset[str]:
    if len(text) < c:
        return frozenset([text])
    return frozenset(text[i : i + c] for i in range(len(text) - c + 1))


def jaccard(a: frozenset, b: frozenset) -> float:
    if not a and not b:
        return 0.0
    inter = len(a & b)
    return inter / (len(a) + len(b) - inter)


def bruteforce_jaccard_pairs(
    texts: dict[str, str], w: int, threshold: float
) -> set[tuple[str, str]]:
    grams = {k: word_grams(t, w) for k, t in texts.items()}
    out = set()
    for k1, k2 in combinations(sorted(texts), 2):
        if jaccard(grams[k1], grams[k2]) >= threshold:
            out.add((k1, k2))
    return out


def bruteforce_hamming_pairs(
    sims: dict[str, int], max_d: int
) -> set[tuple[str, str]]:
    out = set()
    for k1, k2 in combinations(sorted(sims), 2):
        if bin((sims[k1] ^ sims[k2]) & ((1 << 64) - 1)).count("1") <= max_d:
            out.add((k1, k2))
    return out


def bruteforce_substring_pairs(
    texts: dict[str, str], min_len: int
) -> set[tuple[str, str]]:
    """Pairs sharing any exact common substring of length ≥ min_len."""
    grams = {k: char_grams(t, min_len) for k, t in texts.items()}
    out = set()
    for k1, k2 in combinations(sorted(texts), 2):
        if grams[k1] & grams[k2]:
            out.add((k1, k2))
    return out


def clusters_from_pairs(keys: list[str], pairs: set[tuple[str, str]]) -> dict[str, str]:
    """Union-find → {key: min-member-of-component} (matches engine labels)."""
    parent = {k: k for k in keys}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {k: find(k) for k in keys}


def cluster_pairs(assign: dict[str, str]) -> set[tuple[str, str]]:
    """All same-cluster pairs implied by an assignment."""
    groups: dict[str, list[str]] = {}
    for k, c in assign.items():
        groups.setdefault(c, []).append(k)
    out = set()
    for members in groups.values():
        for a, b in combinations(sorted(members), 2):
            out.add((a, b))
    return out


def pair_recall(found: set[tuple[str, str]], truth: set[tuple[str, str]]) -> float:
    return 1.0 if not truth else len(found & truth) / len(truth)


def rescan_per_file_rows(spark, dirs: list[str]) -> tuple[dict[str, int], str]:
    """Rows per written parquet file, by reading the data back and grouping
    on ``input_file_name()`` — the rescan a stage manifest's lineage must
    agree with. Zero-row files never appear. Also returns the schema as
    read back."""
    from pathlib import Path

    from pyspark.sql import functions as F

    df = spark.read.parquet(*dirs)
    per_file = df.groupBy(F.input_file_name().alias("file")).count().collect()
    return {Path(r["file"]).name: r["count"] for r in per_file}, df.schema.simpleString()


def assert_manifest_matches_rescan(spark, store, stage: str) -> None:
    """A committed manifest's lineage equals the rescan oracle: totals over
    every segment, per-file rows for the newest segment's first
    ``file_cap`` files by name, and the read-back schema."""
    m = store.manifest(stage)
    dirs = [str(store._segment_dir(stage, s)) for s in m.segments]
    every, schema = rescan_per_file_rows(spark, dirs)
    newest = rescan_per_file_rows(spark, dirs[-1:])[0] if len(dirs) > 1 else every
    head = dict(sorted(newest.items())[: store.file_cap])
    assert m.row_count == sum(every.values()), stage
    assert m.file_count == len(every), stage
    assert m.partition_rows == head, stage
    assert m.partition_rows_truncated == (len(every) > len(head)), stage
    assert m.schema_ddl == schema, stage
