"""Incremental append dedup — the batch-incremental analog of the reference's
append-one-row + index-update path (api_server.py:139-228, and its
"full re-embed on create" consistency model at :848-877, which rewrites
everything on every write — append ≡ rebuild is the reference's own
consistency contract, and this module keeps it while touching only the new
rows).

The new engine's consistency model is incremental by construction: signatures
are a pure function of each document alone, so an appended batch only needs

  1. signature computation for the NEW docs (never recompute the corpus),
  2. candidate pairs where at least one side is new — the new docs' bucket
     rows (LSH bands AND SimHash chunk-pair keys, the same fused table the
     batch path builds) joined against the bucket rows of (existing ∪ new),
  3. exact verification of those pairs (inline Hamming for simhash rows,
     inline screen + exact shingle Jaccard for minhash rows — identical to
     plans/pipeline.verify_fused_pairs, which it calls),
  4. cluster repair: connected components re-run only over the union of the
     previously-verified edge list and the new edges (edge lists are tiny
     relative to the corpus — they are the only state that must be kept).

Every edge kind the batch pipeline has enabled is maintained here, so
append == full-rerun holds with simhash on (round 2 only maintained the
MinHash kind, silently diverging once simhash edges existed) AND with the
substring kind on (round 3 rejected it at the API boundary): the substring
path's state is the winnowed fingerprint postings table — committed as the
``substr_postings`` stage by checkpointed runs — and an append winnows only
the new docs, semi-joins the state on the new fingerprint values, and
verifies each group exactly as the batch path does
(operators/suffix.incremental_substring_edges).

Hot buckets on this path are SALTED via the bipartite generator
(operators/buckets.salted_bipartite_pairs): both sides split into hash
groups, cells over the full rectangle — bounded per-task work, zero recall
loss (round 2 anti-joined hot buckets away here).

This mirrors Iceberg incremental-append processing: on a real deployment
stage 1 reads only the files of the new snapshot.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators import suffix
from ..operators.buckets import salted_bipartite_pairs
from ..operators.components import connected_components
from ..plans.pipeline import (
    DedupConfig,
    extract_stage,
    fused_bucket_table,
    signature_stage,
    verify_fused_pairs,
)


def new_all_candidate_pairs(
    buckets_new: DataFrame,
    buckets_all: DataFrame,
    bucket_cols: list[str],
    key_col: str,
    cap: int,
    carry_cols: list[str] | tuple = (),
    out_bucket_cols: list[str] | tuple = (),
) -> DataFrame:
    """THE candidate-generation step of an append: new-side bucket rows ×
    (existing ∪ new) bucket rows, both sides salted, exactly-once pairs.

    One named function shared by the shipping path (``apply_append``,
    below) and the driver's oracle-gated ``incremental_clusters`` query
    (``__spark_entry__.py``) — the oracle there proves append ≡ rebuild for
    *this construction*, so routing both callers through it keeps the
    proven construction and the production code path from drifting apart.
    """
    pairs, _hot = salted_bipartite_pairs(
        buckets_new,
        buckets_all,
        bucket_cols,
        key_col,
        cap,
        carry_cols=carry_cols,
        out_bucket_cols=out_bucket_cols,
    )
    return pairs


def apply_append(
    existing_signed: DataFrame,
    existing_edges: DataFrame,
    new_pages: DataFrame,
    cfg: DedupConfig,
    existing_docs: DataFrame | None = None,
    existing_postings: DataFrame | None = None,
) -> dict[str, DataFrame]:
    """One append step → updated {'signatures', 'edges', 'clusters'}
    (+ 'docs' whenever ``existing_docs`` is given, + 'postings' under the
    substring kind — thread them into the next append). Alongside each
    updated table the NEW-batch delta is returned under ``new_docs`` /
    ``new_signatures`` / ``new_edges`` / ``new_postings`` — a
    segment-append checkpoint commits only those (O(new batch) I/O; the
    committed segments union back to the full state).

    With ``enable_substring``, ``existing_docs`` (url, text — the prior
    run's docs stage) is required; ``existing_postings`` is the committed
    ``substr_postings`` stage (recomputed from ``existing_docs`` when
    absent, e.g. a prior in-memory run that didn't keep it).

    The batch must be KEY-DISJOINT from the existing corpus AND internally
    key-unique: appending a url that already exists — or a batch carrying
    the same url twice (a crawl re-fetch landing in one batch) — would
    silently duplicate its rows across every state table (double postings,
    duplicate signatures, inflated counts), so both are checked up front —
    one bounded job each, failing loudly like the CLI's other append
    guards.
    """
    new_docs = extract_stage(new_pages).localCheckpoint()
    new_signed = signature_stage(new_docs, cfg).localCheckpoint()
    intra_dups = (
        new_signed.groupBy("url")
        .agg(F.count(F.lit(1)).alias("_n"))
        .where(F.col("_n") > 1)
        .limit(3)
        .collect()
    )
    if intra_dups:
        raise ValueError(
            "append batch contains duplicate urls within itself — e.g. "
            f"{[r['url'] for r in intra_dups]}; each duplicate would commit "
            "its state rows twice (double postings, duplicate signatures) "
            "and the copies would mask each other's near-dup edges"
        )
    dup_urls = (
        new_signed.select("url")
        .join(existing_signed.select("url"), "url", "left_semi")
        .limit(3)
        .collect()
    )
    if dup_urls:
        raise ValueError(
            "append batch is not key-disjoint from the existing corpus — "
            f"urls already present include {[r['url'] for r in dup_urls]}; "
            "re-appending a url would duplicate its state rows (an update/"
            "upsert is a rebuild, not an append)"
        )
    # signature-kind edges touching at least one new doc: the new side's
    # bucket rows (bands + simhash chunk-pair keys) joined against the
    # bucket rows of (existing ∪ new); the existing×existing quadrant is
    # never recomputed, and hot buckets are salted, never dropped
    signed = existing_signed.select(*new_signed.columns).unionByName(new_signed)
    buckets_all, carry = fused_bucket_table(signed, cfg)
    buckets_new, _ = fused_bucket_table(new_signed, cfg)
    pairs = new_all_candidate_pairs(
        buckets_new,
        buckets_all,
        ["bkind", "bid", "bkey"],
        "nid",
        cfg.minhash_bucket_cap,
        carry_cols=carry,
        out_bucket_cols=["bkind"],
    )
    new_edges = verify_fused_pairs(pairs, signed, cfg)

    all_docs = postings = new_postings = None
    if existing_docs is not None:
        # NOT persisted: caching the full corpus text does not scale (at
        # 100 TB it cannot fit the storage tier) and chained appends would
        # accumulate one copy per step — the union is a cheap view over the
        # committed docs stage + the checkpointed new batch, and the two
        # scans inside the substring verify re-read parquet instead
        all_docs = existing_docs.select("url", "text").unionByName(
            new_docs.select("url", "text")
        )
    if cfg.enable_substring:
        if all_docs is None:
            raise ValueError(
                "incremental append with enable_substring needs "
                "existing_docs (url, text) — the docs stage of the prior "
                "run — and ideally existing_postings (the committed "
                "substr_postings stage)"
            )
        if existing_postings is None:
            existing_postings = suffix.substring_postings(
                existing_docs, "text", "url", cfg.substr_min_len, cfg.substr_sample
            )
        sub_edges, postings, new_postings = suffix.incremental_substring_edges(
            all_docs,
            new_docs,
            existing_postings,
            "text",
            "url",
            cfg.substr_min_len,
            cfg.substr_sample,
            cfg.substr_bucket_cap,
            cfg.substr_max_group_docs,
        )
        # a pair can be witnessed by BOTH a signature kind and the substring
        # kind; the union must be distinct'd or the duplicate row is
        # committed permanently into the edges segment (the signature kinds
        # alone are already distinct — verify_fused_pairs ends in distinct)
        new_edges = new_edges.unionByName(sub_edges).distinct()

    new_edges = new_edges.localCheckpoint()
    edges = existing_edges.select("key_l", "key_r").unionByName(new_edges).distinct()
    clusters = connected_components(edges, signed.select("url"), "url")
    out = {
        "signatures": signed,
        "edges": edges,
        "clusters": clusters,
        "new_docs": new_docs,
        "new_signatures": new_signed,
        "new_edges": new_edges,
    }
    if all_docs is not None:
        out["docs"] = all_docs
    if postings is not None:
        out["postings"] = postings
        out["new_postings"] = new_postings
    return out
