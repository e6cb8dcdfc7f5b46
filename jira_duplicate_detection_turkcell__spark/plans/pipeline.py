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
from dataclasses import asdict, dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..extract import extract_docs
from ..functions.shingle import char_shingles, word_shingles
from ..operators import exact, minhash, signatures, simhash, suffix, verify
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
    simhash_bucket_cap: int = 500
    # substring / suffix-array
    enable_substring: bool = False
    # exact-dup collapse before near-dup (sign/pair representatives only;
    # members rejoin as star edges). A pure optimization with identical
    # clusters — worth it when the corpus has a substantial byte-identical
    # fraction (real crawls: 30%+). The synthetic bench corpus is ~4%
    # exact-dup, where the extra text materialization costs more than the
    # signature/pair work it saves, so the default is off.
    exact_collapse: bool = False
    substr_min_len: int = 48
    substr_sample: int = 1
    substr_bucket_cap: int = 200
    # components larger than this degrade to spanning-certificate star
    # edges instead of O(n²) SA pairs (operators/suffix.py oversized branch)
    substr_max_group_docs: int = 256
    # seeds
    minhash_seed: int = 7

    def fingerprint(self) -> str:
        return hashlib.sha256(json.dumps(asdict(self), sort_keys=True).encode()).hexdigest()[:16]


def shingle_expr(cfg: DedupConfig, text_col: str = "text"):
    if cfg.shingle_kind == "char":
        return char_shingles(F.col(text_col), cfg.shingle_size)
    return word_shingles(F.col(text_col), cfg.shingle_size)


def extract_stage(pages: DataFrame) -> DataFrame:
    """pages(url, warc_ts, html, …) → docs(url, text), empty docs dropped.

    One mapInPandas pass (extract.extract_docs) — the earlier pandas-UDF +
    JVM filter formulation re-evaluated the extractor once per UDF use site
    (2× the priciest kernel; see extract_docs docstring).
    """
    return extract_docs(pages)


def exact_collapse(docs: DataFrame) -> DataFrame:
    """docs(url, text) → membership(url, _rep, text): one representative
    (min url) per byte-identical text.

    Exact dedup BEFORE near-dup is the standard web-pipeline prefix and a
    pure optimization here: byte-identical texts have identical shingle
    sets, signatures and bucket keys, so the near-dup stage recomputed the
    same signature per copy and every exact group of size g exploded into
    C(g,2) identical candidate pairs in ~42 buckets each. Collapsing to
    representatives removes that quadratic blowup; the g−1 ``rep→member``
    star edges added back before clustering give exactly the clusters the
    full graph would (copies share every neighbor of their representative).
    md5 (128-bit) keys keep collision probability negligible at 10^12 docs
    where a 64-bit hash would collide — the same scheme as the standalone
    exact-dedup operator (operators/exact.py), whose hash + min-key
    aggregation this reuses so the two can't diverge.
    """
    keyed = docs.withColumn("_rep_h", exact.content_hash("text"))
    reps = exact.exact_dup_groups(docs, "text", "url").select(
        F.col("text_hash").alias("_rep_h"), F.col("keep_id").alias("_rep")
    )
    return keyed.join(reps, "_rep_h").select("url", "_rep", "text")


def rep_docs(membership: DataFrame) -> DataFrame:
    return membership.where(F.col("url") == F.col("_rep")).select("url", "text")


def exact_star_edges(membership: DataFrame) -> DataFrame:
    """(key_l=rep, key_r=member) for every non-representative member —
    distinct with key_l < key_r by construction (rep is the group min)."""
    return membership.where(F.col("url") != F.col("_rep")).select(
        F.col("_rep").alias("key_l"), F.col("url").alias("key_r")
    )


def signature_stage(docs: DataFrame, cfg: DedupConfig) -> DataFrame:
    """docs(url, text) → + shingles, minhash_sig, simhash.

    Word shingling uses the fused one-pass path (operators/signatures.py):
    one tokenization, one Python round-trip for both signature kinds. Char
    shingling falls back to the per-operator composition.
    """
    if cfg.shingle_kind == "word":
        # single mapInPandas: tokenize/shingle/hash/sign/band entirely in
        # numpy — no interpreted JVM array expressions (profiled GC storm at
        # high core counts), and band hashes come out precomputed
        return signatures.sign_docs(
            docs,
            shingle_w=cfg.shingle_size,
            num_perm=cfg.num_perm,
            seed=cfg.minhash_seed,
            with_simhash=cfg.enable_simhash,
            bands=cfg.bands,
            rows=cfg.rows,
        )
    out = docs.withColumn("shingles", shingle_expr(cfg))
    out = minhash.add_signature(
        out, "shingles", "minhash_sig", cfg.num_perm, cfg.minhash_seed
    )
    if cfg.enable_simhash:
        out = simhash.add_simhash(out, "text", "simhash")
    # the signature table is the widest thing the pipeline materializes;
    # dropping text (available from the docs stage) halves its on-wire size
    return out.drop("text")


def minhash_edges(
    signed: DataFrame,
    cfg: DedupConfig,
    temps: list[DataFrame] | None = None,
) -> tuple[DataFrame, DataFrame]:
    # the band table feeds three consumers inside candidate_pairs (bucket
    # sizing, both join sides) — materialize it once instead of re-exploding.
    # ``temps`` collects the pin so callers that materialize the edges (a
    # stage commit) can release it instead of leaking it for the session.
    if "band_hashes" in signed.columns:
        # band hashes were precomputed inside the signature kernel
        bands_df = signed.select(
            "url", F.posexplode("band_hashes").alias("band_id", "band_hash")
        ).persist()
    else:
        bands_df = minhash.explode_bands(
            signed, "minhash_sig", "url", cfg.bands, cfg.rows
        ).persist()
    if temps is not None:
        temps.append(bands_df)
    pairs, hot = minhash.candidate_pairs(bands_df, "url", cfg.minhash_bucket_cap)
    edges = verify.jaccard_edges(
        pairs,
        signed,
        cfg.jaccard_threshold,
        "url",
        "shingles",
        sig_col="minhash_sig",
    )
    return edges, hot


def simhash_edges(signed: DataFrame, cfg: DedupConfig) -> tuple[DataFrame, DataFrame]:
    chunks = simhash.explode_chunks(signed, "simhash", "url")
    pairs, hot = simhash.simhash_candidate_pairs(chunks, "url", cfg.simhash_bucket_cap)
    edges = verify.hamming_edges(pairs, signed, cfg.hamming_max, "url", "simhash")
    return edges, hot


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
    from ..operators.buckets import salted_bucket_pairs

    buckets, carry = fused_bucket_table(signed, cfg)
    # one spreading granularity for both kinds — the cap no longer affects
    # recall (salting, not dropping), only per-cell work. Pairing runs in
    # nid space (see fused_bucket_table) — 8-byte keys through the fattest
    # shuffle instead of URL strings.
    pairs, _hot = salted_bucket_pairs(
        buckets,
        ["bkind", "bid", "bkey"],
        "nid",
        cfg.minhash_bucket_cap,
        carry_cols=carry,
        out_bucket_cols=["bkind"],
    )
    return verify_fused_pairs(pairs, signed, cfg)


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
    with_sim = cfg.enable_simhash and "simhash" in signed.columns
    n_scr = (cfg.num_perm + 63) // 64

    if "band_hashes" in signed.columns:
        band_arr = F.col("band_hashes")
    else:
        band_arr = minhash.band_hash_expr(F.col("minhash_sig"), cfg.bands, cfg.rows)
    if "screen" in signed.columns:
        screen_arr = F.col("screen")
    else:
        screen_arr = minhash.screen_sketch_expr(F.col("minhash_sig"), cfg.num_perm)
    structs = F.transform(
        band_arr,
        lambda h, i: F.struct(
            F.lit(0).alias("bkind"), i.alias("bid"), h.alias("bkey")
        ),
    )
    if with_sim:
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
        screen_arr.alias("_scr"),
        *(["simhash"] if with_sim else []),
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
            if with_sim
            else []
        ),
    )
    carry = [f"screen{c}" for c in range(n_scr)]
    return buckets, carry + (["simhash"] if with_sim else [])


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
    with_sim = cfg.enable_simhash and "simhash_l" in pairs.columns
    if with_sim:
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
    survivors = pairs.select("bkind", "key_l", "key_r").distinct()

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
        fat.where((F.col("bkind") == 1) | (jac >= cfg.jaccard_threshold))
        # back to URL keys; nid order ≠ url order, so re-normalize the pair
        .select(
            F.least("url_l", "url_r").alias("key_l"),
            F.greatest("url_l", "url_r").alias("key_r"),
        )
        .distinct()
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
    assert cfg.bands * cfg.rows == cfg.num_perm, "bands*rows must equal num_perm"
    if store is not None:
        store.config_fingerprint = cfg.fingerprint()

    stage_counts: dict[str, int] = {}

    def stage(name: str, build, metrics: dict | None = None) -> DataFrame:
        if store is None:
            # materialize each stage boundary so downstream consumers (several
            # per stage, plus the CC iteration loop) don't re-execute the
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

    # internal persists (band tables, substring grouping graphs) pinned by
    # the edge builders — released once the consuming stage is materialized
    # so repeated run_dedup calls in one session don't accumulate dead
    # cached blocks that evict useful cache
    temps: list[DataFrame] = []

    def release_temps() -> None:
        while temps:
            temps.pop().unpersist()

    if store is not None:
        # checkpointed mode: every stage is a durable commit (resumable).
        # The exact-collapse membership is DERIVED (deterministic from the
        # committed docs stage, cheap to recompute) rather than committed,
        # so the stage layout is unchanged from the resume contract.
        docs = stage("docs", lambda: extract_stage(pages))
        if cfg.exact_collapse:
            membership = exact_collapse(docs)
            sign_input = rep_docs(membership)
        else:
            membership = None
            sign_input = docs
        signed = stage("signatures", lambda: signature_stage(sign_input, cfg))

        edge_parts: list[DataFrame] = [
            stage(
                "edges_minhash",
                lambda: minhash_edges(signed, cfg, temps=temps)[0].select(
                    "key_l", "key_r"
                ),
            )
        ]
        release_temps()  # stage committed → the band-table pin is dead
        if cfg.enable_simhash:
            edge_parts.append(
                stage(
                    "edges_simhash",
                    lambda: simhash_edges(signed, cfg)[0].select("key_l", "key_r"),
                )
            )
        if cfg.enable_substring:
            # the postings table is the substring path's incremental-append
            # state (streaming/incremental.apply_append) — commit it as its
            # own stage so an append run loads it instead of re-winnowing
            # the corpus
            postings = stage(
                "substr_postings",
                lambda: suffix.substring_postings(
                    sign_input, "text", "url", cfg.substr_min_len, cfg.substr_sample
                ),
            )
            edge_parts.append(
                stage(
                    "edges_substring",
                    lambda: substring_edges(
                        sign_input, cfg, postings=postings, temps=temps
                    ).select("key_l", "key_r"),
                )
            )
            release_temps()  # stage committed → grouping-graph pins are dead
        edges = edge_parts[0]
        for e in edge_parts[1:]:
            edges = edges.union(e)
        edges = edges.distinct()
        if membership is not None:
            edges = edges.union(exact_star_edges(membership))
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
    if cfg.exact_collapse:
        # exact-dup collapse: sign/pair/verify representatives only; members
        # rejoin as star edges before clustering (see exact_collapse)
        membership = stage(
            "exact_collapse", lambda: exact_collapse(docs).select("url", "_rep", "text")
        )
        sign_input = rep_docs(membership)
        nodes = membership.select("url")
    else:
        membership = None
        sign_input = docs
        if cfg.enable_substring:
            docs = sign_input = docs.persist()  # substring path re-reads text
    signed = stage("signatures", lambda: signature_stage(sign_input, cfg))
    if membership is None:
        nodes = signed.select("url")

    edges_plan = fused_edges(signed, cfg)
    if cfg.enable_substring:
        edges_plan = edges_plan.union(
            substring_edges(sign_input, cfg, temps=temps).select("key_l", "key_r")
        ).distinct()
    if membership is not None:
        # rep→member star edges are disjoint from rep↔rep near-dup edges, so
        # the union stays distinct with key_l < key_r
        edges_plan = edges_plan.union(exact_star_edges(membership))
    edges = stage("edges", lambda: edges_plan)
    release_temps()  # edge stage persisted+counted → grouping pins are dead

    clusters = connected_components(
        edges,
        nodes,
        "url",
        nodes_unique=True,
        # the edge stage above persisted + counted the distinct l<r list —
        # hand the count over so the hybrid gate runs zero extra jobs
        edges_unique=True,
        edge_count=stage_counts["edges"],
    )
    return {"docs": docs, "signatures": signed, "edges": edges, "clusters": clusters}
