"""End-to-end dedup pipeline: pages → extract → sign → pair → verify → cluster.

The batch re-expression of the reference's whole serving stack (SURVEY.md §3):
its upload/index build (api_server.py:943-1218) is stages 0-1, its 3-stage
hybrid search (hybrid_search.py:291-519) is stages 2-3 turned into a global
self-"join" instead of one query at a time, and its implicit duplicate groups
become explicit connected components.

Every stage optionally commits through ``StageStore`` (resume = skip committed
stages with a matching config fingerprint). The edge-list interface between
candidate paths and clustering is uniform: (key_l, key_r) with key_l < key_r.
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import asdict, dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..extract import extract_docs
from ..operators import signatures, simhash, suffix, verify
from ..operators.buckets import salted_bucket_pairs
from ..operators.components import connected_components
from ..sources.checkpoint import StageStore


@dataclass
class DedupConfig:
    # shingling
    shingle_kind: str = "word"  # "word" | "char"
    shingle_size: int = 3
    # minhash / LSH
    num_perm: int = 128
    bands: int = 32
    rows: int = 4  # bands*rows must equal num_perm
    jaccard_threshold: float = 0.7
    minhash_bucket_cap: int = 200
    # simhash
    enable_simhash: bool = True
    hamming_max: int = 3
    # substring (fingerprint grouping + exact L-window classes)
    enable_substring: bool = False
    substr_min_len: int = 48
    substr_sample: int = 1
    substr_bucket_cap: int = 200
    # components larger than this degrade to spanning-certificate star
    # edges instead of their O(n²) verified pairs (operators/suffix.py
    # oversized branch)
    substr_max_group_docs: int = 256
    # seeds
    minhash_seed: int = 7

    def __post_init__(self) -> None:
        signatures.check_sign_params(
            self.num_perm, self.bands, self.rows, self.shingle_kind
        )

    def fingerprint(self) -> str:
        """Config fields plus the signing kernel's output schema: a store
        committed under another schema (or config) fails ``is_committed``,
        so ``dedup`` rebuilds it and ``append`` refuses it."""
        key = {**asdict(self), "sign_schema": signatures.SIGN_SCHEMA}
        return hashlib.sha256(json.dumps(key, sort_keys=True).encode()).hexdigest()[:16]


def extract_stage(pages: DataFrame) -> DataFrame:
    """pages(url, warc_ts, html, …) → docs(url, text), empty docs dropped.

    One mapInPandas pass (extract.extract_docs) — the earlier pandas-UDF +
    JVM filter formulation re-evaluated the extractor once per UDF use site
    (2× the priciest kernel; see extract_docs docstring).
    """
    return extract_docs(pages)


def signature_stage(docs: DataFrame, cfg: DedupConfig) -> DataFrame:
    """docs(url, text) → (url, shingles, simhash, band_hashes, screen) in
    one mapInPandas pass (operators/signatures.py) for either shingle kind:
    tokenize/shingle/hash/sign/band entirely in numpy — no interpreted JVM
    array expressions (profiled GC storm at high core counts). The MinHash
    signature itself stays inside the kernel. ``simhash`` is all zeros
    when the kind is disabled."""
    return signatures.sign_docs(
        docs,
        shingle_w=cfg.shingle_size,
        num_perm=cfg.num_perm,
        seed=cfg.minhash_seed,
        with_simhash=cfg.enable_simhash,
        bands=cfg.bands,
        rows=cfg.rows,
        shingle_kind=cfg.shingle_kind,
    )


def minhash_edges(
    signed: DataFrame,
    cfg: DedupConfig,
    temps: list[DataFrame] | None = None,
) -> tuple[DataFrame, DataFrame]:
    """MinHash-band edges: the fused plan restricted to bkind 0 rows.
    ``temps`` is unused (nothing is pinned); it stays for callers that
    pass it."""
    return _bucket_edges(signed, cfg, kind=0)


def simhash_edges(signed: DataFrame, cfg: DedupConfig) -> tuple[DataFrame, DataFrame]:
    """SimHash chunk-pair edges: the fused plan restricted to bkind 1 rows."""
    return _bucket_edges(signed, cfg, kind=1)


def fused_edges(signed: DataFrame, cfg: DedupConfig) -> DataFrame:
    """MinHash-band AND SimHash-chunk edges from ONE bucketed self-join.

    Round-1 profiling showed the two candidate paths as independent plan
    subtrees cost ~10 serially-scheduled shuffle stages (the edge phase
    scaled only 2.2× at 4× cores — per-stage scheduling latency does not
    parallelize). Fused plan: one bucket table
    ``(bkind, bid, bkey, url)`` unions the 32 LSH band hashes (bkind 0)
    and the 10 SimHash chunk-pair keys (bkind 1); ONE salted self-join
    (operators/buckets.py) yields both candidate kinds.

    BOTH screens run INLINE on the join output via per-kind carry columns:
    each doc's 64-bit simhash rides its chunk rows (Hamming verification is
    exact — those rows need no further checks), and a 16-byte low-bit
    screen sketch of the MinHash signature (operators/signatures.
    _screen_from_sigs) rides its band rows, so the MinHash agreement screen
    (verify.screen_agreement) filters candidates before any join against
    the signature table. Round 2 attached the full 1 KB signature through a
    blocking broadcast attach join for that screen — a measured piece of
    the serial floor that capped 2→8-core scaling at 0.754. Only screen
    survivors pay the single remaining attach join (the fat shingle sets)
    for exact Jaccard. Output is the distinct verified edge list
    (key_l, key_r).
    """
    return _bucket_edges(signed, cfg, kind=None)[0]


def _bucket_edges(
    signed: DataFrame, cfg: DedupConfig, kind: int | None
) -> tuple[DataFrame, DataFrame]:
    """(verified edges, hot buckets) of the fused plan, over the bucket rows
    of one ``kind`` (None = both). The per-kind builders are restrictions
    of the same plan, so their union is ``fused_edges`` edge for edge."""
    buckets, carry = fused_bucket_table(signed, cfg)
    if kind is not None:
        buckets = buckets.where(F.col("bkind") == kind)
    # one spreading granularity for both kinds — the cap no longer affects
    # recall (salting, not dropping), only per-cell work. Pairing runs in
    # nid space (see fused_bucket_table) — 8-byte keys through the fattest
    # shuffle instead of URL strings.
    pairs, hot = salted_bucket_pairs(
        buckets,
        ["bkind", "bid", "bkey"],
        "nid",
        cfg.minhash_bucket_cap,
        carry_cols=carry,
        out_bucket_cols=["bkind"],
    )
    return verify_fused_pairs(pairs, signed, cfg), hot


def fused_bucket_table(signed: DataFrame, cfg: DedupConfig) -> tuple[DataFrame, list[str]]:
    """signed → (bucket table (bkind, bid, bkey, nid, carries…), carry cols).

    bkind 0 rows are the LSH band hashes, bkind 1 rows the SimHash
    chunk-pair keys. Per-kind carries are nulled where unused (NULLs ship
    ~free through the shuffle): the simhash matters only on chunk rows, the
    screen sketch only on band rows.

    The doc key rides as ``nid = xxhash64(url)`` — an 8-byte long instead
    of the URL string, which otherwise ships ~2×(bands+chunk_pairs) copies
    per doc through the edge phase's dominant shuffle and pays string
    hash/compare in the pair join and survivor distinct (a measured ~2×
    CPU inflation of the whole phase at n=200k). True URLs are recovered
    for free on the shingle attach join (verify_fused_pairs), so a 64-bit
    collision can never mislabel or falsify an edge — verification runs on
    the attached true (url, shingles) rows; the only effect is that the
    colliding pair itself is dropped as a self-row (P = 2⁻⁶⁴ per pair,
    orders of magnitude below MinHash-LSH's own miss rate).
    """
    n_scr = (cfg.num_perm + 63) // 64

    structs = F.transform(
        F.col("band_hashes"),
        lambda h, i: F.struct(
            F.lit(0).alias("bkind"), i.alias("bid"), h.alias("bkey")
        ),
    )
    if cfg.enable_simhash:
        structs = F.concat(
            structs,
            F.transform(
                simhash.chunk_pair_keys("simhash"),
                lambda h, i: F.struct(
                    F.lit(1).alias("bkind"), i.alias("bid"), h.alias("bkey")
                ),
            ),
        )
    # the screen rides as SCALAR long columns (screen0..screen{k-1}), not an
    # array: scalar carries shuffle as primitive fields and the agreement
    # screen stays in whole-stage codegen (an array carry forced interpreted
    # zip_with/aggregate per pair row, which anti-scaled — see
    # verify.screen_agreement)
    buckets = signed.select(
        F.xxhash64("url").alias("nid"),
        F.explode(structs).alias("b"),
        F.col("screen").alias("_scr"),
        *(["simhash"] if cfg.enable_simhash else []),
    ).select(
        "b.bkind",
        "b.bid",
        "b.bkey",
        "nid",
        *[
            F.when(F.col("b.bkind") == 0, F.col("_scr")[c]).alias(f"screen{c}")
            for c in range(n_scr)
        ],
        *(
            [F.when(F.col("b.bkind") == 1, F.col("simhash")).alias("simhash")]
            if cfg.enable_simhash
            else []
        ),
    )
    carry = [f"screen{c}" for c in range(n_scr)]
    return buckets, carry + (["simhash"] if cfg.enable_simhash else [])


def verify_fused_pairs(
    pairs: DataFrame, signed: DataFrame, cfg: DedupConfig
) -> DataFrame:
    """Carry-bearing candidate pairs (nid space) → distinct verified edges
    (key_l, key_r) in URL space.

    Inline verification/screening on the pair rows themselves — NULL
    carries on the other kind make each predicate vacuously true there
    (true OR null = true). SimHash rows are verified EXACTLY inline
    (64-bit Hamming on the carried signatures); MinHash rows pass the
    low-bit screen inline, and only survivors pay the single attach join
    (the fat shingle sets, against ``signed``) for exact Jaccard. That
    attach join also recovers the true URL per side, so the nid encoding
    never reaches the returned edge list.
    """
    if cfg.enable_simhash:
        pairs = pairs.where(
            (F.col("bkind") == 0)
            | (
                F.bit_count(F.col("simhash_l").bitwiseXOR(F.col("simhash_r")))
                <= cfg.hamming_max
            )
        )
    n_scr = (cfg.num_perm + 63) // 64
    est = verify.screen_agreement(
        [F.col(f"screen{c}_l") for c in range(n_scr)],
        [F.col(f"screen{c}_r") for c in range(n_scr)],
        cfg.num_perm,
    )
    pairs = pairs.where(
        (F.col("bkind") == 1)
        | (est >= cfg.jaccard_threshold - verify.SCREEN_MARGIN)
    )
    return exact_fused_edges(pairs, signed, cfg.jaccard_threshold)


def exact_fused_edges(
    pairs: DataFrame, signed: DataFrame, threshold: float
) -> DataFrame:
    """Candidate pairs (bkind, key_l, key_r in nid space) → distinct edges
    (key_l, key_r) in URL space, with exact Jaccard ≥ ``threshold`` on the
    bkind 0 rows; bkind 1 rows pass (they are verified inline upstream).

    The single attach join carries the fat shingle sets and recovers the
    true URL per side, so the nid encoding never reaches the edge list.
    Shingle arrays are produced distinct, so |∩| / (|A| + |B| − |∩|) is
    exact set Jaccard, in whole-stage codegen. Called with no screen in
    front, this is the exact-verification plan the driver's oracle
    queries check.

    One aggregate makes the pairs distinct before the attach: a pair found
    by both kinds keeps bkind 1 (it passes either way), and distinct nid
    pairs map to distinct URL pairs, so no second distinct is needed.
    """
    survivors = pairs.groupBy("key_l", "key_r").agg(F.max("bkind").alias("bkind"))
    nid_docs = signed.select(
        F.xxhash64("url").alias("nid"), "url", "shingles"
    )
    fat = verify.attach_pair_columns(survivors, nid_docs, ["url", "shingles"], "nid")
    inter = F.size(F.array_intersect(F.col("shingles_l"), F.col("shingles_r")))
    union = F.size("shingles_l") + F.size("shingles_r") - inter
    jac = F.when(
        union > 0, inter.cast("double") / union.cast("double")
    ).otherwise(F.lit(0.0))
    return (
        fat.where((F.col("bkind") == 1) | (jac >= threshold))
        # back to URL keys; nid order ≠ url order, so re-normalize the pair
        .select(
            F.least("url_l", "url_r").alias("key_l"),
            F.greatest("url_l", "url_r").alias("key_r"),
        )
    )


def substring_edges(
    docs: DataFrame,
    cfg: DedupConfig,
    postings: DataFrame | None = None,
    temps: list[DataFrame] | None = None,
) -> DataFrame:
    return suffix.substring_edges(
        docs,
        "text",
        "url",
        cfg.substr_min_len,
        cfg.substr_sample,
        cfg.substr_bucket_cap,
        cfg.substr_max_group_docs,
        postings=postings,
        temps=temps,
    )


def run_dedup(
    spark: SparkSession,
    pages: DataFrame,
    cfg: DedupConfig | None = None,
    store: StageStore | None = None,
) -> dict[str, DataFrame]:
    """Full pipeline. Returns {'docs', 'edges', 'clusters'} DataFrames.

    With a ``store``, each stage is committed and a resumed run reuses every
    stage whose manifest matches the current config fingerprint.
    """
    cfg = cfg or DedupConfig()
    if store is not None:
        store.config_fingerprint = cfg.fingerprint()

    stage_counts: dict[str, int] = {}

    def stage(name: str, build, metrics: dict | None = None) -> DataFrame:
        if store is None:
            # materialize each stage boundary so downstream consumers (several
            # per stage, plus the CC rounds) don't re-execute the
            # expensive extraction/signature UDFs once per action. persist()
            # keeps the columnar cache format — profiling showed localCheckpoint
            # row-serialization dominated the whole pipeline on wide stages.
            df = build().persist()
            stage_counts[name] = df.count()
            return df
        if store.is_committed(name):
            return store.load(spark, name)
        df = build()
        store.commit(name, df, metrics)
        return store.load(spark, name)

    # internal persists (substring grouping graphs) pinned by the substring
    # edge builder — released once the consuming stage is materialized
    # so repeated run_dedup calls in one session don't accumulate dead
    # cached blocks that evict useful cache
    temps: list[DataFrame] = []

    def release_temps() -> None:
        while temps:
            temps.pop().unpersist()

    if store is not None:
        # checkpointed mode: every stage is a durable commit (resumable)
        docs = stage("docs", lambda: extract_stage(pages))
        signed = stage("signatures", lambda: signature_stage(docs, cfg))

        edge_parts: list[DataFrame] = [
            stage("edges_minhash", lambda: minhash_edges(signed, cfg)[0])
        ]
        if cfg.enable_simhash:
            edge_parts.append(
                stage("edges_simhash", lambda: simhash_edges(signed, cfg)[0])
            )
        if cfg.enable_substring:
            # the postings table is the substring path's incremental-append
            # state (streaming/incremental.apply_append) — commit it as its
            # own stage so an append run loads it instead of re-winnowing
            # the corpus
            postings = stage(
                "substr_postings",
                lambda: suffix.substring_postings(
                    docs, "text", "url", cfg.substr_min_len, cfg.substr_sample
                ),
            )
            edge_parts.append(
                stage(
                    "edges_substring",
                    lambda: substring_edges(
                        docs, cfg, postings=postings, temps=temps
                    ),
                )
            )
            release_temps()  # stage committed → grouping-graph pins are dead
        edges = edge_parts[0]
        for e in edge_parts[1:]:
            edges = edges.union(e)
        edges = edges.distinct()
        clusters = stage(
            "clusters",
            lambda: connected_components(edges, docs, "url", edges_unique=True),
        )
        return {"docs": docs, "signatures": signed, "edges": edges, "clusters": clusters}

    # in-memory mode: minimize materialization barriers — each Spark action
    # carries fixed scheduler/AQE latency, and at 10^5-10^6 docs the job count,
    # not compute, set the wall-clock floor (measured: 120 jobs ≈ 2 min serial
    # floor). Only two wide tables are pinned: signatures and the edge list.
    # Candidate generation + verification run as ONE fused plan (fused_edges)
    # instead of two independent per-path subtrees; the returned edge list is
    # distinct in both modes (same edge-table semantics as checkpointed mode).
    docs = extract_stage(pages)
    if cfg.enable_substring:
        docs = docs.persist()  # substring path re-reads text
    signed = stage("signatures", lambda: signature_stage(docs, cfg))

    edges_plan = fused_edges(signed, cfg)
    if cfg.enable_substring:
        edges_plan = edges_plan.union(
            substring_edges(docs, cfg, temps=temps)
        ).distinct()
    edges = stage("edges", lambda: edges_plan)
    release_temps()  # edge stage persisted+counted → grouping pins are dead

    clusters = connected_components(
        edges,
        signed.select("url"),
        "url",
        nodes_unique=True,
        # the edge stage above persisted + counted the distinct l<r list —
        # hand the count over so the hybrid gate runs zero extra jobs
        edges_unique=True,
        edge_count=stage_counts["edges"],
    )
    return {"docs": docs, "signatures": signed, "edges": edges, "clusters": clusters}
