"""Tests for ANN search, text stats, exact dedup, n-gram Jaccard, multimodal
plumbing — cross-checked against in-Python oracles on sf0.001 test data."""

from __future__ import annotations

import hashlib
import math
import re
from itertools import combinations

import numpy as np
import pytest
from pyspark.sql import functions as F

from jira_duplicate_detection_turkcell__spark.functions import multimodal, textstats as ts
from jira_duplicate_detection_turkcell__spark.operators import annsearch, exact, jaccard

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    df = spark.read.parquet(f"{SF_DIR}/documents.parquet").cache()
    df.count()
    return df


@pytest.fixture(scope="module")
def emb(spark):
    df = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").cache()
    df.count()
    return df


def test_exact_dedup_groups(docs):
    got = exact.exact_dup_groups(docs, "text", "doc_id").collect()
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    by_hash = {}
    for i, t in texts.items():
        by_hash.setdefault(hashlib.md5(t.encode()).hexdigest(), []).append(i)
    assert {r["text_hash"]: (r["keep_id"], r["n_docs"]) for r in got} == {
        h: (min(ids), len(ids)) for h, ids in by_hash.items()
    }
    survivors = exact.drop_exact_dups(docs, "text", "doc_id")
    assert survivors.count() == len(by_hash)


def test_ngram_jaccard_pairs_vs_python(docs):
    from tests.oracle_bruteforce import bruteforce_jaccard_pairs

    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    truth = bruteforce_jaccard_pairs(texts, 3, 0.5)
    got = {
        (r["id_l"], r["id_r"])
        for r in jaccard.ngram_jaccard_pairs(docs, "doc_id", "text", 3, 1, 2).collect()
    }
    assert got == truth


def test_ngram_jaccard_salted_posting_identical_to_uncapped(spark):
    """Planted stop-gram mega-posting: every doc shares one 3-gram run, so
    its posting (40 docs) trips cap=4 and the whole intersection count runs
    through salted triangular cells (≤ ~cap² pair rows per task) — the full
    (pair, n_common, sizes) output must equal the uncapped join's. cap=4 <
    64 disables hot-detection sampling, so salting engages deterministically.
    """
    rows = [
        (i, f"the common gram here plus unique{i} words w{i} x{i} y{i} z{i}")
        for i in range(30)
    ]
    rows += [(i, "the common gram here alpha beta gamma delta") for i in range(30, 40)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    def run(cap):
        return {
            (r["id_l"], r["id_r"]): (r["n_common"], r["sz_l"], r["sz_r"])
            for r in jaccard.ngram_jaccard_pairs(
                docs, "doc_id", "text", 3, 1, 100, max_posting_size=cap
            ).collect()
        }

    uncapped = run(None)
    assert len(uncapped) == 40 * 39 // 2  # every pair shares the stop-gram
    assert run(4) == uncapped


def test_ngram_jaccard_pairs_leaves_no_cache_entry(spark):
    """A bare call materializes its gram table without registering a cache
    entry, so nothing stays pinned for the session's lifetime."""
    docs = spark.createDataFrame(
        [(i, f"shared words here and doc {i % 3} tail") for i in range(12)],
        "doc_id long, text string",
    )
    spark.catalog.clearCache()
    assert jaccard.ngram_jaccard_pairs(docs, "doc_id", "text", 3, 1, 2).collect()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_knn_topk_vs_numpy(emb):
    rows = emb.collect()
    vecs = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64) for r in rows}
    queries = {i: vecs[i] for i in vecs if i < 5}
    truth = {}
    for qid, qv in queries.items():
        scored = sorted(
            (
                (-float(qv @ v / (np.linalg.norm(qv) * np.linalg.norm(v))), vid)
                for vid, v in vecs.items()
                if vid != qid
            )
        )[:3]
        truth[qid] = {vid for _, vid in scored}
    got = annsearch.knn_topk(emb, emb.filter(F.col("vec_id") < 5), 3).collect()
    got_sets: dict[int, set] = {}
    for r in got:
        got_sets.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    assert got_sets == truth


def test_cosine_pairs_vs_numpy(emb):
    rows = emb.collect()
    vecs = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64) for r in rows}
    truth = set()
    for a, b in combinations(sorted(vecs), 2):
        c = float(vecs[a] @ vecs[b] / (np.linalg.norm(vecs[a]) * np.linalg.norm(vecs[b])))
        if c >= 0.45:
            truth.add((a, b))
    got = {(r["id_l"], r["id_r"]) for r in annsearch.cosine_pairs(emb, 0.45).collect()}
    assert got == truth


def test_simhash_kernel_pairs_exact_vs_bruteforce(spark, docs):
    # the driver's simhash_hamming_pairs query (numpy text→simhash kernel +
    # chunk-pair bucketing through the salted self-join) must be EXACT for
    # Hamming ≤ 3 (pigeonhole over C(5,2) chunk-pair keys)
    from __spark_entry__ import queries
    from jira_duplicate_detection_turkcell__spark.operators import simhash as sh

    signed = sh.add_simhash_kernel(docs, "text", "doc_id", "simhash")
    sims = {r["doc_id"]: r["simhash"] & ((1 << 64) - 1) for r in signed.collect()}
    truth = {
        (a, b)
        for a, b in combinations(sorted(sims), 2)
        if bin(sims[a] ^ sims[b]).count("1") <= 3
    }
    edges = queries()["simhash_hamming_pairs"](spark, SF_DIR)
    got = {(r["key_l"], r["key_r"]) for r in edges.collect()}
    assert got == truth


def test_driver_minhash_queries_match_duckdb_oracle(spark):
    """The driver's MinHash queries (pair list, clusters, and the
    incremental construction) run the fused bucket table, the salted
    self-join and the exact step; each must equal its DuckDB oracle."""
    import duckdb

    from __spark_entry__ import oracle_sql, queries
    from scripts.selfcheck import compare

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF_DIR}/documents.parquet'"
    )
    qs, oracles = queries(), oracle_sql()
    problems = {}
    for name in ["minhash_lsh_pairs", "dedup_clusters", "incremental_clusters"]:
        got = qs[name](spark, SF_DIR).toPandas()
        want = con.sql(oracles[name]).df()
        assert len(want) > 0, name
        if diff := compare(name, got, want):
            problems[name] = diff
    assert problems == {}


def test_cosine_pairs_empty_and_guarded(emb, spark):
    empty = emb.filter("vec_id < 0")
    out = annsearch.cosine_pairs(empty, 0.45)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["id_l", "id_r"]
    import pytest as _pytest

    # ValueError, not assert: the scale guards must survive python -O
    with _pytest.raises(ValueError, match="ground-truth"):
        annsearch.cosine_pairs(emb, 0.45, max_rows=1)


def test_knn_topk_query_side_guarded(emb):
    import pytest as _pytest

    with _pytest.raises(ValueError, match="ivf_topk"):
        annsearch.knn_topk(emb, emb, 5, "vec_id", "embedding", max_query_rows=1)


def test_knn_topk_assume_small_skips_guard_same_answer(emb):
    """assume_small=True removes the guard's count job (r4 nit); the result
    must be identical to the guarded path on the same inputs."""
    qs = emb.filter("vec_id < 5")
    guarded = {
        (r["query_id"], r["neighbor_id"], r["rn"])
        for r in annsearch.knn_topk(emb, qs, 3, "vec_id", "embedding").collect()
    }
    unguarded = {
        (r["query_id"], r["neighbor_id"], r["rn"])
        for r in annsearch.knn_topk(
            emb, qs, 3, "vec_id", "embedding", max_query_rows=1, assume_small=True
        ).collect()
    }
    assert unguarded == guarded  # cap ignored when assumed small


def _plan_of(df) -> str:
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_session_plans_shuffled_hash_join_not_smj(spark):
    """Plan-shape regression gate for the round-4 perf config (VERDICT r4
    #6): under the packaged session config a non-broadcastable equi-join
    must plan as ShuffledHashJoin, not SortMergeJoin — a Spark upgrade or
    config drift (spark.sql.join.preferSortMergeJoin) would silently
    revert the measured −12-20% edge-phase win.

    Canary shape: range() sides have exact planner stats, sized so the
    build side exceeds the broadcast threshold (no BHJ) but fits the
    local-hash-map bound (threshold × shuffle partitions) — precisely the
    regime the fused pair join's bucket self-join runs in at bench scale.
    The canary's sensitivity is itself verified by flipping
    preferSortMergeJoin back on and demanding SMJ."""
    assert spark.conf.get("spark.sql.join.preferSortMergeJoin") == "false"
    assert spark.conf.get("spark.memory.offHeap.enabled") == "true"

    big = spark.range(200_000)  # ~1.6 MB planner stats (8 B/row)
    small = spark.range(20_000).selectExpr("id", "id AS v")  # ~0.3 MB
    prev_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024))
        plan = _plan_of(big.join(small, "id"))
        assert "ShuffledHashJoin" in plan, plan
        assert "SortMergeJoin" not in plan
        # sensitivity: the same join under the default preference must SMJ,
        # proving this canary actually exercises the SHJ-vs-SMJ choice
        spark.conf.set("spark.sql.join.preferSortMergeJoin", "true")
        assert "SortMergeJoin" in _plan_of(big.join(small, "id"))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_thresh)
        spark.conf.set("spark.sql.join.preferSortMergeJoin", "false")


@pytest.mark.parametrize("builder", ["fused_edges", "minhash_edges", "simhash_edges"])
def test_fused_pair_join_plan_no_sort_and_broadcast_attach(spark, builder):
    """The fused pair join's own plan, in-memory (``fused_edges``) and as
    the per-kind restrictions checkpointed runs commit: no SortMergeJoin
    anywhere (at test scale its joins are BHJ or SHJ; Sort nodes feeding a
    join would mark an SMJ regression), the hot-bucket salt attach stays an
    explicit BroadcastHashJoin, and no interpreted ``zip_with`` screen."""
    from jira_duplicate_detection_turkcell__spark import synth
    from jira_duplicate_detection_turkcell__spark.plans import pipeline as P

    pages = spark.createDataFrame(synth.generate_pages_pdf(32, seed=42))
    signed = P.signature_stage(P.extract_stage(pages), P.DedupConfig())
    edges = getattr(P, builder)(signed, P.DedupConfig())
    plan = _plan_of(edges if builder == "fused_edges" else edges[0])
    assert "SortMergeJoin" not in plan, "SMJ regression — check session config"
    assert "BroadcastHashJoin" in plan, "salt attach must broadcast"
    assert "zip_with" not in plan


def test_hyperplane_lsh_subset_of_bruteforce(emb):
    brute = {(r["id_l"], r["id_r"]) for r in annsearch.cosine_pairs(emb, 0.45).collect()}
    got = {
        (r["id_l"], r["id_r"])
        for r in annsearch.hyperplane_lsh_pairs(
            emb, 0.45, n_tables=32, bits=4, dim=64
        ).collect()
    }
    assert got <= brute  # verification is exact → no false positives
    if brute:
        assert len(got) / len(brute) >= 0.9  # recall at tuned config


def test_hyperplane_lsh_dense_mass_salted_not_dropped(spark):
    # a dense embedding mass (near-identical spam pages) lands in ONE bucket
    # per table; with cap ≪ N every bucket runs salted — and every true pair
    # must still come out (round 2 anti-joined hot buckets away, losing all
    # of them)
    rng = np.random.default_rng(3)
    base = rng.standard_normal(64)
    base /= np.linalg.norm(base)
    n = 60
    rows = [
        (i, (base + 0.01 * rng.standard_normal(64)).astype(float).tolist())
        for i in range(n)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        (r["id_l"], r["id_r"])
        for r in annsearch.hyperplane_lsh_pairs(
            emb, 0.99, n_tables=8, bits=16, dim=64, max_bucket_size=10
        ).collect()
    }
    brute = {(r["id_l"], r["id_r"]) for r in annsearch.cosine_pairs(emb, 0.99).collect()}
    assert len(brute) >= n * (n - 1) // 4  # the mass really is dense
    assert got == brute  # salting loses nothing; verification is exact


def test_token_stats_vs_python(docs):
    got = {r["doc_id"]: r for r in docs.select("doc_id", *ts.quality_columns(F.col("text"))).collect()}
    for r in docs.collect():
        t = r["text"]
        toks = re.split(r"\s+", t.strip()) if t.strip() else []
        g = got[r["doc_id"]]
        assert g["n_chars"] == len(t)
        assert g["n_tokens"] == len(toks)
        assert g["n_uniq_tokens"] == len(set(toks))
        assert g["n_token_chars"] == len(re.sub(r"\s+", "", t))
        assert g["n_punct"] == sum(ch in ".,;:!?" for ch in t)
        assert g["n_digits"] == sum(ch.isdigit() and ch.isascii() for ch in t)


def test_langid_deterministic_and_valid(docs):
    got = docs.select("doc_id", ts.langid_heuristic(F.col("text")).alias("p")).collect()
    allowed = set(ts.LANG_MARKERS) | {"unknown"}
    assert all(r["p"] in allowed for r in got)
    again = docs.select("doc_id", ts.langid_heuristic(F.col("text")).alias("p")).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, again))


def test_fingerprint_matches_python(docs):
    got = {r["doc_id"]: r["fp"] for r in docs.select("doc_id", ts.fingerprint_md5(F.col("text")).alias("fp")).collect()}
    for r in docs.collect():
        norm = re.sub(r"\s+", " ", r["text"].lower()).strip()
        assert got[r["doc_id"]] == hashlib.md5(norm.encode()).hexdigest()


def test_multimodal_metadata_and_fake_decode(spark):
    payloads = [(1, b"hello world"), (2, b""), (3, bytes(range(256)))]
    df = spark.createDataFrame(payloads, "doc_id long, payload binary")
    meta = {r["doc_id"]: r for r in multimodal.binary_metadata(df, "payload").collect()}
    for i, p in payloads:
        assert meta[i]["n_bytes"] == len(p)
        assert meta[i]["content_sha256"] == hashlib.sha256(p).hexdigest()

    feats = {r["doc_id"]: r for r in multimodal.extract_features(df, "payload", fake=True).collect()}
    assert len(feats[3]["feature"]) == multimodal.FEATURE_DIM
    assert all(math.isfinite(x) for x in feats[3]["feature"])
    assert list(feats[2]["feature"]) == [0.0] * multimodal.FEATURE_DIM


def test_multimodal_null_payload_yields_null_row(spark):
    # NULL binary payloads (nullable column) must propagate as NULL outputs
    # like the JVM-side binary_metadata, not kill the Python worker
    df = spark.createDataFrame(
        [(1, b"hello"), (2, None)], "doc_id long, payload binary"
    )
    feats = {
        r["doc_id"]: r
        for r in multimodal.extract_features(df, "payload", fake=True).collect()
    }
    assert feats[1]["n_bytes"] == 5
    assert feats[2]["n_bytes"] is None
    assert feats[2]["content_sha256"] is None
    assert feats[2]["feature"] is None
    meta = {r["doc_id"]: r for r in multimodal.binary_metadata(df, "payload").collect()}
    assert meta[2]["n_bytes"] is None and meta[2]["content_sha256"] is None


def test_multimodal_real_decode_raises(spark):
    df = spark.createDataFrame([(1, b"x")], "doc_id long, payload binary")
    with pytest.raises(Exception) as exc_info:
        multimodal.extract_features(df, "payload", fake=False).collect()
    assert "NotImplementedError" in str(exc_info.value) or "codec" in str(exc_info.value)


def test_no_slow_udfs_in_package():
    """Grep gate (SURVEY.md §7.6): no row-at-a-time udf / RDD usage."""
    from pathlib import Path

    pkg = Path(__file__).resolve().parent.parent / "jira_duplicate_detection_turkcell__spark"
    offenders = []
    for py in pkg.rglob("*.py"):
        src = py.read_text()
        if re.search(r"\bF\.udf\(|\budf\(lambda|\.rdd\b|\brdd\.map\b", src):
            offenders.append(str(py))
    assert not offenders, offenders
