"""Exact n-gram Jaccard pair join — the guaranteed-recall dedup baseline.

Inverted-index formulation: explode distinct n-grams, self-equi-join on the
gram, count intersections per pair, recover set sizes, filter on an
*integer-rational* threshold (``den·inter ≥ num·(|A|+|B|−inter)``) so the
result is bit-exact across engines (no float compares) and SQL-expressible
for the DuckDB oracle. Any pair with Jaccard > 0 shares ≥ 1 gram, so recall
is exactly 1 — this is the truth-producing path the probabilistic MinHash
path is measured against.

At scale the gram join inherits the same skew reality as LSH buckets
(stop-gram mega-postings). ``max_posting_size`` routes the postings through
the shared salting generator (operators/buckets.py): a posting list of m
docs is split into ceil(m/cap) hash groups whose triangular grid of cells
each land in their own shuffle partition — per-task work bounded by ~cap²
at any skew, and the per-pair intersection count is EXACT (every unordered
pair still co-occurs exactly once per shared gram, just in a salted cell).
Round 3 capped-and-dropped hot postings here — the one surviving instance
of the drop pattern the engine banned everywhere else; salting keeps the
operator exact at every setting. The guard is the DEFAULT
(``max_posting_size=64``, the production posture — salting changes the
physical plan only, never the output, so nothing is lost by defaulting
on); pass ``None`` to explicitly opt out and run the plain self-join,
which is correct but Ω(Σp²) on stop-gram mega-postings at crawl scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.shingle import word_gram_strings
from .buckets import salted_bucket_pairs


def ngram_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold_num: int = 1,
    threshold_den: int = 2,
    max_posting_size: int | None = 64,
) -> DataFrame:
    """(id_l, id_r, n_common, sz_l, sz_r) for pairs with
    Jaccard ≥ threshold_num/threshold_den (exact, integer arithmetic).

    ``max_posting_size`` bounds per-task join work by salting hot gram
    postings (exact at every value — see module docstring). The guard
    defaults ON; ``None`` is the explicit opt-out that runs the plain
    unsalted inverted-index self-join (scale-unsafe on skewed postings).
    """
    grams = docs.select(
        F.col(id_col).alias("gid"),
        F.explode(word_gram_strings(F.col(text_col), n)).alias("g"),
    )
    # the gram table feeds FOUR consumers (hot-bucket sizing, both salted
    # join sides, the set-size aggregate — three in the unsalted plan);
    # materialize the string-gram explode once instead of re-running it per
    # consumer (measured at sf0.1: min-of-3 7.6 → 5.2 s salted).
    # localCheckpoint, not persist: the blocks stay out of the session's
    # cache registry and are freed once the returned plan is unreachable,
    # so a bare call pins nothing for the session's lifetime (the explode
    # runs eagerly, as one job inside this call)
    grams = grams.localCheckpoint()
    set_sizes = grams.groupBy("gid").agg(F.count(F.lit(1)).alias("sz"))

    if max_posting_size is not None:
        pairs, _hot = salted_bucket_pairs(grams, ["g"], "gid", max_posting_size)
        inter = (
            pairs.withColumnsRenamed({"key_l": "id_l", "key_r": "id_r"})
            .groupBy("id_l", "id_r")
            .agg(F.count(F.lit(1)).alias("n_common"))
        )
    else:
        inter = (
            grams.alias("a")
            .join(grams.alias("b"), ["g"])
            .where(F.col("a.gid") < F.col("b.gid"))
            .groupBy(F.col("a.gid").alias("id_l"), F.col("b.gid").alias("id_r"))
            .agg(F.count(F.lit(1)).alias("n_common"))
        )
    sl = set_sizes.select(F.col("gid").alias("id_l"), F.col("sz").alias("sz_l"))
    sr = set_sizes.select(F.col("gid").alias("id_r"), F.col("sz").alias("sz_r"))
    return (
        inter.join(sl, "id_l")
        .join(sr, "id_r")
        .where(
            F.lit(threshold_den) * F.col("n_common")
            >= F.lit(threshold_num) * (F.col("sz_l") + F.col("sz_r") - F.col("n_common"))
        )
        .select("id_l", "id_r", "n_common", "sz_l", "sz_r")
    )
