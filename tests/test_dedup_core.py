"""Core dedup correctness vs brute-force oracles on the synthetic corpus."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from jira_duplicate_detection_turkcell__spark import synth
from jira_duplicate_detection_turkcell__spark.plans import pipeline as P
from jira_duplicate_detection_turkcell__spark.operators import components
from tests import oracle_bruteforce as bf

N_DOCS = 240
CFG = P.DedupConfig(
    shingle_size=3,
    num_perm=128,
    bands=32,
    rows=4,
    jaccard_threshold=0.7,
    enable_simhash=True,
    hamming_max=3,
    # caps high enough that the 240-doc corpus never trips them; the skew
    # test below exercises the capped path explicitly
    minhash_bucket_cap=10_000,
)


@pytest.fixture(scope="module")
def pages(spark):
    pdf = synth.generate_pages_pdf(N_DOCS, seed=42)
    return spark.createDataFrame(pdf)


@pytest.fixture(scope="module")
def docs(spark, pages):
    df = P.extract_stage(pages).cache()
    df.count()
    return df


@pytest.fixture(scope="module")
def texts(docs) -> dict[str, str]:
    return {r["url"]: r["text"] for r in docs.collect()}


@pytest.fixture(scope="module")
def signed(docs):
    df = P.signature_stage(docs, CFG).cache()
    df.count()
    return df


def test_corpus_has_interesting_structure(texts):
    truth = bf.bruteforce_jaccard_pairs(texts, CFG.shingle_size, CFG.jaccard_threshold)
    assert len(truth) >= 20, f"corpus too easy: only {len(truth)} true dup pairs"


def test_minhash_edges_match_bruteforce(signed, texts):
    edges, hot = P.minhash_edges(signed, CFG)
    found = {(r["key_l"], r["key_r"]) for r in edges.collect()}
    truth = bf.bruteforce_jaccard_pairs(texts, CFG.shingle_size, CFG.jaccard_threshold)
    # precision is exact by construction (pairs are verified with exact
    # Jaccard); hash collisions are the only possible false positives
    assert found <= truth
    assert bf.pair_recall(found, truth) >= 0.99
    assert hot.count() == 0


def test_signature_determinism_across_partitioning(spark, docs):
    a = P.signature_stage(docs.repartition(2), CFG)
    b = P.signature_stage(docs.repartition(16), CFG)

    def rows(df):
        return {
            r["url"]: (list(r["band_hashes"]), list(r["screen"]), r["simhash"])
            for r in df.collect()
        }

    assert rows(a) == rows(b)


def test_simhash_pairs_exact_for_small_hamming(signed):
    sims = {r["url"]: r["simhash"] for r in signed.select("url", "simhash").collect()}
    truth = bf.bruteforce_hamming_pairs(sims, CFG.hamming_max)
    edges, _hot = P.simhash_edges(signed, CFG)
    found = {(r["key_l"], r["key_r"]) for r in edges.collect()}
    # pigeonhole bucketing is exhaustive for d<=3 over the C(5,2)=10
    # chunk-pair keys (≤3 dirty chunks ⇒ ≥2 clean ⇒ ≥1 clean pair) → equality
    assert found == truth


def test_substring_edges_match_bruteforce(spark, docs, texts):
    cfg = P.DedupConfig(enable_substring=True, substr_min_len=48)
    edges = P.substring_edges(docs, cfg)
    found = {(r["key_l"], r["key_r"]) for r in edges.collect()}
    truth = bf.bruteforce_substring_pairs(texts, cfg.substr_min_len)
    assert found == truth


def test_substring_group_verification_emits_transitive_pairs(spark):
    # three docs share one 48+ char run → one candidate component; the
    # group verifier must emit ALL THREE pairs from the one L-window class
    # the run's windows fall in, not only pairs of neighbouring owners
    from jira_duplicate_detection_turkcell__spark.operators import suffix

    shared = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        ("a", f"alpha prefix {shared} alpha suffix"),
        ("b", f"beta prelude {shared} beta coda"),
        ("c", f"gamma start {shared} gamma end"),
        ("d", "unrelated content with no long runs shared with anyone else here"),
    ]
    docs = spark.createDataFrame(rows, "url string, text string")
    edges = suffix.substring_edges(docs, "text", "url", min_len=48)
    got = {(r["key_l"], r["key_r"]) for r in edges.collect()}
    assert got == {("a", "b"), ("a", "c"), ("b", "c")}


def test_substring_oversized_component_certificate(spark):
    # force the 3-doc shared-run component over max_group_docs: the
    # oversized branch emits a spanning CERTIFICATE — every emitted edge is
    # a TRUE substring pair, and its connected components equal the full
    # pair graph's, at O(n) edges.
    # (A boilerplate near-clique's true pair set is Ω(n²); the certificate
    # is the scalable contract — full pairs stay for small components.)
    from jira_duplicate_detection_turkcell__spark.operators import suffix

    shared = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        ("a", f"alpha prefix {shared} alpha suffix"),
        ("b", f"beta prelude {shared} beta coda"),
        ("c", f"gamma start {shared} gamma end"),
        ("d", "unrelated content with no long runs shared with anyone else here"),
    ]
    truth = {("a", "b"), ("a", "c"), ("b", "c")}
    docs = spark.createDataFrame(rows, "url string, text string")
    edges = suffix.substring_edges(docs, "text", "url", min_len=48, max_group_docs=2)
    got = {(r["key_l"], r["key_r"]) for r in edges.collect()}
    assert got <= truth  # certificate edges are true pairs only
    # spanning: the certificate connects exactly the true component {a,b,c}
    parent = {k: k for k in "abcd"}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for l, r in got:
        parent[find(l)] = find(r)
    assert len({find(k) for k in "abc"}) == 1  # a,b,c connected
    assert find("d") not in {find(k) for k in "abc"}  # d stays apart


def test_substring_certificate_on_planted_clique(spark):
    # 40-doc boilerplate clique (true pair set = C(40,2) = 780) with
    # max_group_docs=8: the certificate must keep the component intact
    # with FAR fewer edges than the quadratic pair set
    from jira_duplicate_detection_turkcell__spark.operators import suffix

    shared = "every page of this site embeds this exact boilerplate paragraph verbatim"
    rows = [(f"u{i:02d}", f"doc {i} header {shared} doc {i} footer") for i in range(40)]
    rows.append(("zzz", "a lonely document sharing no long run with any other"))
    docs = spark.createDataFrame(rows, "url string, text string")
    edges = suffix.substring_edges(docs, "text", "url", min_len=48, max_group_docs=8)
    got = [(r["key_l"], r["key_r"]) for r in edges.collect()]
    assert len(got) < 780  # certificate, not the clique
    parent = {u: u for u, _ in rows}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for l, r in got:
        assert l != "zzz" and r != "zzz"
        parent[find(l)] = find(r)
    assert len({find(f"u{i:02d}") for i in range(40)}) == 1  # one component


def test_fused_edges_equal_union_of_per_path_edges(signed):
    fused = P.fused_edges(signed, CFG)
    got = {(r["key_l"], r["key_r"]) for r in fused.collect()}
    mh = {(r["key_l"], r["key_r"]) for r in P.minhash_edges(signed, CFG)[0].collect()}
    sh = {(r["key_l"], r["key_r"]) for r in P.simhash_edges(signed, CFG)[0].collect()}
    assert got == (mh | sh)


@pytest.mark.parametrize("small_gate", [5_000_000, 0])
def test_connected_components_hand_graphs(spark, small_gate):
    # small_gate=5M → single-task union-find path; 0 → distributed
    # large-star/small-star
    nodes = spark.createDataFrame([(k,) for k in "abcdefg"], "url string")
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("e", "f")], "key_l string, key_r string"
    )
    got = {
        r["url"]: r["cluster_id"]
        for r in components.connected_components(
            edges, nodes, small_graph_edges=small_gate
        ).collect()
    }
    assert got == {
        "a": "a", "b": "a", "c": "a", "d": "d", "e": "e", "f": "e", "g": "g",
    }


@pytest.mark.parametrize("small_gate", [5_000_000, 0])
def test_connected_components_chain(spark, small_gate):
    # a chain stresses the round count: 12 nodes in one line
    keys = [f"n{i:02d}" for i in range(12)]
    nodes = spark.createDataFrame([(k,) for k in keys], "url string")
    edges = spark.createDataFrame(
        list(zip(keys, keys[1:])), "key_l string, key_r string"
    )
    got = components.connected_components(
        edges, nodes, small_graph_edges=small_gate
    ).collect()
    assert {r["cluster_id"] for r in got} == {"n00"}


def test_connected_components_long_chain_distributed(spark):
    # a 100-hop chain on the distributed path: an unconverged star edge set
    # would split the component into several clusters, and hitting the
    # round cap raises — the result must be the single component
    keys = [f"n{i:03d}" for i in range(101)]
    nodes = spark.createDataFrame([(k,) for k in keys], "url string")
    edges = spark.createDataFrame(
        list(zip(keys, keys[1:])), "key_l string, key_r string"
    )
    got = components.connected_components(edges, nodes, small_graph_edges=0).collect()
    assert {r["cluster_id"] for r in got} == {"n000"}


def test_star_components_matches_union_find_on_random_graphs(spark):
    # the star variant must agree with the single-task union-find on
    # arbitrary graphs (random + planted shapes), node for node
    import random

    rng = random.Random(11)
    keys = [f"k{i:03d}" for i in range(80)]
    pairs = set()
    while len(pairs) < 70:
        a, b = rng.sample(keys, 2)
        pairs.add((min(a, b), max(a, b)))
    edges = spark.createDataFrame(sorted(pairs), "key_l string, key_r string")
    nodes = spark.createDataFrame([(k,) for k in keys], "url string")

    want = {
        r["url"]: r["cluster_id"]
        for r in components.connected_components(edges, nodes).collect()
    }
    star = components._star_components(edges)
    got = {r["node"]: r["cluster_id"] for r in star.collect()}
    # star assigns only edge-touching nodes; singletons come from the caller
    for k, cid in got.items():
        assert want[k] == cid
    assert set(got) == {k for k in keys if any(k in p for p in pairs)}
    assert len(want) > len(got)  # the graph has singletons

    # the public distributed path, singletons included: once on a raw list
    # holding reversed and duplicate pairs (normalized + distinct inside),
    # once on the distinct key_l < key_r list with edges_unique=True (the
    # opening normalize + distinct skipped)
    ordered = sorted(pairs)
    raw = ordered + [(b, a) for a, b in ordered[::3]] + ordered[::5]
    for edge_rows, unique in ((raw, False), (ordered, True)):
        dist = components.connected_components(
            spark.createDataFrame(edge_rows, "key_l string, key_r string"),
            nodes,
            small_graph_edges=0,
            edges_unique=unique,
        )
        assert {r["url"]: r["cluster_id"] for r in dist.collect()} == want


def test_pipeline_end_to_end_recall(spark, pages, texts):
    result = P.run_dedup(spark, pages, CFG)
    assign = {r["url"]: r["cluster_id"] for r in result["clusters"].collect()}
    assert set(assign) == set(texts)

    truth_pairs = bf.bruteforce_jaccard_pairs(
        texts, CFG.shingle_size, CFG.jaccard_threshold
    )
    truth_assign = bf.clusters_from_pairs(sorted(texts), truth_pairs)
    found_cluster_pairs = bf.cluster_pairs(assign)
    truth_cluster_pairs = bf.cluster_pairs(truth_assign)
    assert bf.pair_recall(found_cluster_pairs, truth_cluster_pairs) >= 0.99

    # exact-copy blocks (kind 0) must always co-cluster
    pdf = synth.generate_pages_pdf(N_DOCS, seed=42)
    for gid, grp in pdf[pdf.group_id >= 0].groupby("group_id"):
        if grp.kind.iloc[0] == 0:
            cids = {assign[u] for u in grp.url}
            assert len(cids) == 1, f"exact group {gid} split: {cids}"


def test_hot_buckets_are_salted_not_dropped(spark, signed, texts):
    # with a tiny cap many buckets run salted — results must be IDENTICAL to
    # the uncapped run (salting redistributes work, never drops pairs)
    from jira_duplicate_detection_turkcell__spark.operators.buckets import (
        salted_bucket_pairs,
    )

    buckets, _carry = P.fused_bucket_table(signed, CFG)
    cols = ["bkind", "bid", "bkey"]
    pairs_salted, hot = salted_bucket_pairs(buckets, cols, "nid", cap=2)
    pairs_plain, hot0 = salted_bucket_pairs(buckets, cols, "nid", cap=10_000)
    assert hot.count() > 0 and hot0.count() == 0
    got_salted = {(r["key_l"], r["key_r"]) for r in pairs_salted.collect()}
    got_plain = {(r["key_l"], r["key_r"]) for r in pairs_plain.collect()}
    assert got_salted == got_plain


def test_mega_bucket_true_pairs_recovered_with_bounded_tasks(spark):
    # plant a mega-bucket: 2000 docs all sharing one band value; with cap 100
    # the bucket salts into 20 groups, and every true pair must come out
    from jira_duplicate_detection_turkcell__spark.operators.buckets import (
        salted_bucket_pairs,
    )

    n = 2000
    rows = [(0, 777, f"doc{i:05d}") for i in range(n)]
    bands = spark.createDataFrame(rows, "band_id int, band_hash long, url string")
    pairs, hot = salted_bucket_pairs(
        bands, ["band_id", "band_hash"], "url", cap=100
    )
    # hot-bucket size is a sampled estimate (work-spreading only, see
    # operators/buckets.py) — it must still flag the planted mega-bucket
    est = hot.collect()[0]["est_size"]
    assert 0.5 * n <= est <= 1.5 * n
    assert pairs.count() == n * (n - 1) // 2  # every unordered pair, exactly once
    probe = pairs.filter(
        (F.col("key_l") == "doc00000") & (F.col("key_r") == "doc01999")
    )
    assert probe.count() == 1


def test_generation_invariant_to_partitioning(spark):
    a = synth.generate_pages_df(spark, 64, seed=42, partitions=2).orderBy("url").collect()
    b = synth.generate_pages_df(spark, 64, seed=42, partitions=13).orderBy("url").collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]


def test_substring_sampled_mode_subset_and_long_run_recall(spark):
    # sample>1 under-nominates by design (documented contract); verify the
    # sampled path end-to-end: output pairs are a subset of truth, pairs
    # sharing a VERY long run (>> min_len + sample*E[gap]) are still found,
    # and the oversized branch's certificate uses the sampled fingerprints
    from jira_duplicate_detection_turkcell__spark.operators import suffix

    shared = ("shared boilerplate sentence that is repeated verbatim across "
              "documents and is far longer than the minimum run length " * 3)
    rows = [
        ("a", f"alpha {shared} tail-a"),
        ("b", f"bravo {shared} tail-b"),
        ("c", "completely unrelated text with no long shared run at all here"),
    ]
    docs = spark.createDataFrame(rows, "url string, text string")
    for mgd in (256, 1):  # small-group verify path AND oversized certificate path
        edges = suffix.substring_edges(
            docs, "text", "url", min_len=48, sample=4, max_group_docs=mgd
        )
        got = {(r["key_l"], r["key_r"]) for r in edges.collect()}
        assert got == {("a", "b")}, (mgd, got)


def test_substring_short_docs_emit_no_edges(spark):
    """Docs shorter than min_len cannot share a ≥ min_len-char run, so
    identical short docs (spam/boilerplate stubs) must emit ZERO substring
    edges in EVERY mode — small-group verify, forced certificate branch, and
    sampled nomination. (char_shingles' whole-text fallback used to hand
    short docs a fake min_len-gram fingerprint; a big-enough group of
    identical stubs then hit the certificate branch, which emitted edges
    for runs that cannot exist.)"""
    from jira_duplicate_detection_turkcell__spark.operators import suffix

    stub = "tiny boilerplate stub page"  # 26 chars < min_len=48
    rows = [(f"s{i:03d}", stub) for i in range(12)]
    shared = ("a genuinely long shared paragraph exceeding the minimum span "
              "length requirement comfortably " * 3)
    rows += [("la", f"left {shared} one"), ("lb", f"right {shared} two")]
    docs = spark.createDataFrame(rows, "url string, text string")
    for kwargs in (
        {},                             # default winnowed nomination, group verify
        {"max_group_docs": 2},          # forces the certificate branch
        {"sample": 4},                  # mod-sampled nomination
        {"sample": 4, "max_group_docs": 2},
    ):
        edges = suffix.substring_edges(docs, "text", "url", min_len=48, **kwargs)
        assert edges.columns == ["key_l", "key_r"], kwargs
        got = {(r["key_l"], r["key_r"]) for r in edges.collect()}
        assert got == {("la", "lb")}, (kwargs, got)


def test_substring_postings_exclude_short_docs(spark):
    # the postings STATE (incremental-append nomination table) must not
    # carry short docs either — both the winnowed and sampled builders
    from jira_duplicate_detection_turkcell__spark.operators import suffix

    long_text = ("varied content long enough to produce many distinct "
                 "forty-eight character grams for sampling purposes " * 3)
    docs = spark.createDataFrame(
        [("short", "well under the minimum"), ("long", long_text)],
        "url string, text string",
    )
    for sample in (1, 4):
        keys = {
            r["url"]
            for r in suffix.substring_postings(docs, min_len=48, sample=sample)
            .select("url")
            .distinct()
            .collect()
        }
        assert keys == {"long"}, sample


def test_substring_edges_temps_contract(spark):
    """substring_edges(temps=...) hands back every DataFrame it pinned so a
    materializing caller (stage commit, bench) can release them — pins left
    behind otherwise survive for the whole session and evict useful cache."""
    from jira_duplicate_detection_turkcell__spark.operators import suffix

    shared = ("shared paragraph comfortably exceeding the minimum span "
              "length for substring detection " * 2)
    docs = spark.createDataFrame(
        [("a", f"one {shared} x"), ("b", f"two {shared} y")],
        "url string, text string",
    )
    for sample in (1, 4):
        temps: list = []
        edges = suffix.substring_edges(
            docs, "text", "url", min_len=48, sample=sample, temps=temps
        )
        assert edges.count() == 1
        assert temps and all(t.storageLevel.useMemory for t in temps)
        for t in temps:
            t.unpersist()
        assert all(not t.storageLevel.useMemory for t in temps)
