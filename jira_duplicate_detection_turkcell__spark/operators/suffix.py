"""Exact substring dedup — the C4 path (fingerprint grouping + exact
per-group L-window classes).

Capability replaced: the reference's substring-semantics duplicate deletion
(`str.contains(old_summary)`, api_server.py:800-813) and boilerplate
detection. Two cooperating mechanisms:

1. **Fingerprint postings (nomination).** By default (``sample <= 1``)
   each doc's postings are winnowed rolling-hash fingerprints
   (operators/winnow.py): any two docs sharing a run of ≥ L chars share a
   posting value, so recall is exact. Docs are grouped by the connected
   components of per-fingerprint star edges, JVM-side end to end. The
   opt-in sampled mode (``sample > 1``) instead keeps the L-char shingle
   hashes with ``hash % sample == 0`` — any shared substring of length
   ≥ L + sample·E[gap] shares one w.h.p. — and restricts the output to
   the pairs its salted fingerprint join nominates.

2. **Per-group L-window classes (the exact verifier).** Inside
   ``applyInPandas``, each group's texts get one exact dense id per
   L-length window by numpy prefix doubling (``_group_pairs``); every pair
   of docs owning a window of one class becomes a verified (key_l, key_r)
   edge. Exactness is scoped to within a group — the fingerprint grouping
   is what brings substring-sharing docs into the same group across
   partitions (SURVEY.md §7.5 boundary contract).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.shingle import char_shingles


def fingerprints(text, length: int = 32, sample: int = 1):
    """array<long> of mod-sampled L-char shingle hashes (JVM-side).

    Texts shorter than ``length`` yield an EMPTY array, not the
    ``char_shingles`` whole-text fallback: a fingerprint here certifies a
    shared run of ≥ ``length`` chars (the certificate branch of
    ``_grouped_verify`` emits an edge from each shared fingerprint), and a
    doc shorter than ``length`` cannot contain one — the fallback hash
    would let two identical short docs assert an edge with no such run."""
    sh = F.when(
        F.length(text) >= length, char_shingles(text, length)
    ).otherwise(F.array().cast("array<long>"))
    if sample <= 1:
        return sh
    return F.filter(sh, lambda h: F.pmod(h, F.lit(sample)) == 0)


def substring_postings(
    docs: DataFrame,
    text_col: str = "text",
    key_col: str = "url",
    min_len: int = 32,
    sample: int = 1,
) -> DataFrame:
    """(key, fp) distinct fingerprint postings — the substring path's
    nomination table and its ONLY incremental state (committed as the
    ``substr_postings`` stage by checkpointed runs; ``apply_append`` joins
    an appended batch's postings against it instead of re-winnowing the
    corpus).

    ``sample <= 1`` → winnowed rolling-hash fingerprints with the exact
    recall guarantee (k = min_len − w + 1, window w: any shared run of
    ≥ min_len chars shares a posting VALUE — see the winnowing note in
    ``substring_edges``). ``sample > 1`` → mod-sampled min_len-gram hashes
    (the documented sampled-recall contract in the module docstring).
    Postings are a pure per-doc function, so an append never changes the
    existing rows — state maintenance is a blind union.
    """
    # docs shorter than min_len chars cannot contain a ≥ min_len-char run,
    # so they emit NO postings: nothing true is lost (one-sided recall
    # contract), nomination never groups them, and the state table stays
    # free of whole-text fallback hashes that would otherwise pair
    # identical short docs (spam/boilerplate stubs) into useless groups
    slim = docs.select(F.col(key_col), F.col(text_col)).where(
        F.length(F.col(text_col)) >= min_len
    )
    # (key, fp) is globally unique by construction: each doc contributes ONE
    # array row, so duplicates can only come from repeats WITHIN a doc —
    # array_distinct removes them in-row, replacing what used to be a full
    # shuffle-distinct of the exploded postings with zero exchanges
    if sample <= 1:
        from .winnow import winnow_fingerprints

        w = max(2, min(16, min_len // 3))
        fpdf = winnow_fingerprints(
            slim, text_col, key_col, k=min_len - w + 1, window=w
        )
        return fpdf.select(
            F.col(key_col),
            F.explode(F.array_distinct("fingerprints")).alias("fp"),
        )
    return slim.select(
        F.col(key_col),
        F.explode(
            F.array_distinct(fingerprints(F.col(text_col), min_len, sample))
        ).alias("fp"),
    )


def fingerprint_candidate_pairs(
    docs: DataFrame,
    text_col: str = "text",
    key_col: str = "url",
    length: int = 32,
    sample: int = 1,
    max_bucket_size: int = 200,
    fps: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Docs sharing ≥1 fingerprint → candidate pairs + salted-fp lineage.

    Hot fingerprints (boilerplate shared by >cap docs) are salted, not
    dropped (operators/buckets.py) — full recall, bounded per-task work.
    Pass ``fps`` (a ``substring_postings`` table) to reuse precomputed
    postings instead of re-fingerprinting ``docs``.
    """
    from .buckets import salted_bucket_pairs

    if fps is None:
        fps = docs.select(
            F.col(key_col),
            F.explode(fingerprints(F.col(text_col), length, sample)).alias("fp"),
        ).distinct()
    pairs, hot = salted_bucket_pairs(fps, ["fp"], key_col, max_bucket_size)
    return pairs.distinct(), hot


# --------------------------------------------------------------------------
# exact L-window classes (numpy prefix doubling)
# --------------------------------------------------------------------------

def _group_pairs(pdf: pd.DataFrame, min_len: int) -> pd.DataFrame:
    """Exact shared-substring pairs within one group of docs: every pair of
    distinct urls whose texts share a run of ≥ ``min_len`` chars, i.e. share
    an L-window (L = ``min_len``).

    Prefix doubling over the concatenated code points gives every position
    a dense, exact id for its L-window: the ids at width w and the id of
    the window ``step ≤ w`` positions later identify the window of width
    w + step, via one ``np.unique`` over the pair (⌈log₂ L⌉ rounds, no
    hashing). Only windows that lie inside one text are kept, so the
    concatenation needs no separators. Each class with ≥ 2 owners emits
    all its owner pairs. Owners are url ids, so duplicate url rows share
    one owner and emit no self-edge.
    """
    # object dtype for the key columns: the group key type follows the
    # caller's key column (string urls, long doc_ids, …) — Arrow casts the
    # python values (or the empty column) to the declared schema either way
    empty = pd.DataFrame(
        {
            "key_l": pd.Series(dtype=object),
            "key_r": pd.Series(dtype=object),
        }
    )
    texts = pdf["text"].tolist()
    lengths = np.fromiter(map(len, texts), dtype=np.int64, count=len(texts))
    if not (lengths >= min_len).any():  # no window fits (or no text at all)
        return empty
    # url ids in key order, so owner a < owner b ⇔ key_a < key_b
    owner_of_doc, urls = pd.factorize(pdf["url"], sort=True)
    rank = np.frombuffer(
        "".join(texts).encode("utf-32-le"), dtype=np.uint32
    ).astype(np.int64)
    n = rank.size

    width = 1
    while width < min_len:
        step = min(width, min_len - width)
        nxt = np.zeros(n, dtype=np.int64)  # 0: the window runs off the end
        nxt[: n - step] = rank[step:] + 1
        key = rank * (int(rank.max()) + 2) + nxt
        ids, rank = np.unique(key, return_inverse=True)
        width += step
        if ids.size == n:  # no window of this width repeats
            return empty

    # keep the windows that end inside their own text
    doc_of_pos = np.repeat(np.arange(lengths.size), lengths)
    inside = np.arange(n) + min_len <= np.cumsum(lengths)[doc_of_pos]
    n_own = urls.size
    owner = owner_of_doc.astype(np.int64)[doc_of_pos[inside]]
    # classes renumbered by first occurrence, so the windows along one
    # shared run become consecutive classes with equal owner lists
    _, first, cls = np.unique(rank[inside], return_index=True, return_inverse=True)
    by_first = np.empty(first.size, dtype=np.int64)
    by_first[np.argsort(first)] = np.arange(first.size)
    rows = np.unique(by_first[cls] * n_own + owner)  # distinct (class, owner)
    cls, owner = rows // n_own, rows % n_own
    sizes = np.diff(np.flatnonzero(np.diff(cls, prepend=-1)), append=rows.size)
    shared = np.repeat(sizes >= 2, sizes)
    owner, sizes = owner[shared], sizes[sizes >= 2]
    if sizes.size == 0:
        return empty

    # drop a class whose owner list equals the previous class's: it would
    # only emit the same pairs again
    cls = np.repeat(np.arange(sizes.size), sizes)
    idx = np.arange(owner.size)
    same_size = np.concatenate(([False], sizes[1:] == sizes[:-1]))
    prev = np.where(same_size[cls], idx - sizes[cls], idx)
    differs = np.bincount(cls, weights=owner != owner[prev], minlength=sizes.size)
    repeat = same_size & (differs == 0)
    owner, sizes = owner[~repeat[cls]], sizes[~repeat]

    # every owner pairs with the owners after it in its class
    offset = np.arange(owner.size) - np.repeat(np.cumsum(sizes) - sizes, sizes)
    later = np.repeat(sizes, sizes) - 1 - offset
    left = np.repeat(np.arange(owner.size), later)
    right = left + 1 + np.arange(left.size) - np.repeat(np.cumsum(later) - later, later)
    pairs = np.unique(owner[left] * n_own + owner[right])
    keys = np.asarray(urls, dtype=object)
    return pd.DataFrame(
        {"key_l": keys[pairs // n_own], "key_r": keys[pairs % n_own]}
    )


def _star_edges(fps: "DataFrame", key_col: str) -> "DataFrame":
    """(key, fp) postings → distinct per-fingerprint star edges (key_l,
    key_r) with key_l = the fingerprint group's min key (so key_l < key_r
    by construction). Connected components of the star graph equal those
    of the full share-a-fingerprint pair graph at O(postings) rows.

    One window over fp (min key per fingerprint partition, unbounded
    frame — spill-aware for boilerplate mega-postings) instead of the
    former groupBy-reps + re-join: the postings shuffle once and need no
    persist for double consumption. Singleton fingerprints emit nothing
    (their only member IS the min).
    """
    from pyspark.sql.window import Window

    rep = F.min(key_col).over(Window.partitionBy("fp"))
    return (
        fps.withColumn("_rep", rep)
        .where(F.col(key_col) != F.col("_rep"))
        .select(F.col("_rep").alias("key_l"), F.col(key_col).alias("key_r"))
        .distinct()
    )


def substring_edges(
    docs: DataFrame,
    text_col: str = "text",
    key_col: str = "url",
    min_len: int = 32,
    sample: int = 1,
    max_bucket_size: int = 200,
    max_group_docs: int = 256,
    postings: DataFrame | None = None,
    temps: list[DataFrame] | None = None,
) -> DataFrame:
    """Verified exact-shared-substring edges (key_l, key_r) — the same
    schema as every other edge kind.
    Pass ``postings`` (a committed ``substring_postings`` stage) to skip
    re-fingerprinting ``docs``. ``temps`` collects every DataFrame this call persists —
    callers that materialize the result (a stage commit, a bench count)
    should unpersist them afterwards or the pins outlive their use for the
    session's lifetime.

    Plan: the fingerprint table nominates candidate GROUPS (connected
    components of the share-a-fingerprint relation), each doc's text is
    shipped ONCE into its group, and the group's L-window classes verify
    every pair in it (`_group_pairs` — exact for the whole group).
    Components larger than ``max_group_docs`` (boilerplate near-cliques,
    whose true pair set is Ω(n²) by construction) emit a spanning
    CERTIFICATE of true edges instead — per-fingerprint star edges, O(n)
    rows with identical connected components — see the inline comment at
    the oversized branch.

    Grouping is built from linear STAR EDGES, not pairwise co-occurrence:
    every fingerprint contributes (min member → member) edges, whose
    connected components are identical to the candidate pair graph's (two
    docs sharing a fingerprint are both adjacent to that fingerprint's
    representative) at O(Σ postings) rows instead of O(Σ postings²). With
    ``sample == 1`` (default) the group verifier's output IS the exact
    docs-sharing-an-L-gram relation — any two docs sharing an L-char run
    share that L-gram's fingerprint and land in one group — so no
    candidate-pair restriction is needed. With ``sample > 1`` fingerprints
    under-nominate by design (recall contract in the module docstring) and
    the output is restricted to nominated pairs, preserving round-2
    semantics.

    Note the grouping component labels must NEVER seed a downstream
    clustering as pre-merged labels: with winnowed nomination (k =
    min_len − w + 1 < min_len) a group can contain docs sharing only a
    k-byte run — docs the verifier then correctly REJECTS as pairs — so the
    grouping partition is strictly coarser than the verified-edge
    components. Only the returned verified edges carry clustering
    semantics. (The round-3 latency here was instead removed structurally:
    per-doc array_distinct postings — no global distinct shuffle — and
    window-min star edges — one shuffle, no reps join, no postings
    persist.)
    """
    slim = docs.select(F.col(key_col), F.col(text_col))

    if postings is None:
        # Exact-recall nomination (sample <= 1) via WINNOWED fingerprints,
        # not one fingerprint per character position. The classic winnowing
        # guarantee (operators/winnow.py module docstring): with k-byte
        # grams and window-w minima, any shared run of ≥ k + w − 1 bytes
        # shares a selected fingerprint VALUE — so k = min_len − w + 1
        # catches every shared substring of length ≥ min_len chars (a char
        # is ≥ 1 UTF-8 byte) while emitting ~2/(w+1) fingerprints per
        # character instead of 1. The previous per-position nomination
        # exploded a boilerplate-heavy 20k-page corpus into ~19M posting
        # rows and a 395 s edge phase; winnowing cuts posting volume ~8×
        # with zero recall change (grouping may only get COARSER — docs
        # sharing a ≥k-byte-but-<min_len run can land in one group — and
        # the per-group verifier rejects exactly those, so the output
        # pair set is unchanged; pinned by the brute-force equality tests).
        postings = substring_postings(slim, text_col, key_col, min_len, sample)

    if sample <= 1:
        # postings flow straight into the star-edge window (single
        # consumer — no persist); the star edges feed CC + node derivation
        pairs = None  # groups are exact; no per-pair nomination needed
        grouping_edges = _star_edges(postings, key_col).persist()
    else:
        pairs, _hot = fingerprint_candidate_pairs(
            docs, text_col, key_col, min_len, sample, max_bucket_size,
            fps=postings,
        )
        pairs = pairs.persist()
        grouping_edges = pairs
    if temps is not None:
        temps.append(grouping_edges)

    return _grouped_verify(
        grouping_edges, slim, key_col, text_col, min_len, sample,
        max_group_docs, pairs, temps=temps,
    )


def _grouped_verify(
    grouping_edges: DataFrame,
    slim: DataFrame,
    key_col: str,
    text_col: str,
    min_len: int,
    sample: int,
    max_group_docs: int,
    pairs: DataFrame | None,
    temps: list[DataFrame] | None = None,
) -> DataFrame:
    """Nomination graph → verified substring edges (key_l, key_r).

    Shared tail of the batch (`substring_edges`) and incremental
    (`incremental_substring_edges`) paths: connected-components-group the
    nomination edges, verify each small group by its exact L-window
    classes (``_group_pairs``; each member's text shipped once), and emit
    spanning-certificate star edges for
    oversized near-clique components. ``pairs`` (sampled mode only)
    restricts small-group output to nominated pairs. ``temps`` collects the persists this function pins, for callers that
    materialize the result internally and can release them.
    """
    from .components import connected_components

    nodes = (
        grouping_edges.select(F.col("key_l").alias(key_col))
        .union(grouping_edges.select(F.col("key_r").alias(key_col)))
        .distinct()
    )
    comp = connected_components(
        grouping_edges, nodes, key_col, nodes_unique=True, edges_unique=True
    )
    gsizes = comp.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("_gsz"))
    comp = comp.join(gsizes, "cluster_id").persist()
    if temps is not None:
        # callers that materialize internally (incremental append) release
        # this persist once their result is checkpointed
        temps.append(comp)

    # ---- small components: L-window classes per group, each text shipped once
    small = (
        comp.filter(F.col("_gsz") <= max_group_docs)
        .join(slim, key_col)
        .select(F.col("cluster_id"), F.col(key_col).alias("url"), F.col(text_col).alias("text"))
    )

    def verify_group(pdf: pd.DataFrame) -> pd.DataFrame:
        return _group_pairs(pdf, min_len)

    # schema follows the caller's key type (string urls, long doc_ids, …) —
    # a hard-coded string schema crashed long-keyed callers at Arrow time
    key_dt = dict(slim.dtypes)[key_col]
    small_edges = small.groupBy("cluster_id").applyInPandas(
        verify_group, f"key_l {key_dt}, key_r {key_dt}"
    )
    if pairs is not None:
        # sampled fingerprints: the group verifier emits every pair sharing an
        # L-gram, including pairs the sampled join never nominated — keep
        # the candidate-pair contract by restricting to nominated pairs
        small_edges = small_edges.join(pairs, ["key_l", "key_r"], "left_semi")

    # ---- oversized components: spanning CERTIFICATE edges, not O(n²) pairs.
    #
    # Web-scale boilerplate creates near-clique components (a site paragraph
    # ≥ min_len shared by every page of a site chains thousands of docs);
    # the true pair set of such a component is Ω(n²) BY CONSTRUCTION, so
    # any per-pair enumeration — however bounded per task — is quadratic
    # work and quadratic output (measured: one 6,397-doc component drove a
    # 20k-page edge phase to ~400 s). What downstream clustering needs is
    # the component, not the clique: emit per-fingerprint STAR edges
    # (fp-rep → member) over the oversized members' min_len-gram
    # fingerprints. Sharing a min_len-gram hash IS the certificate of a
    # shared min_len-char substring (modulo 64-bit collision — the same
    # trust already placed in every hashed-shingle comparison here), so
    # every emitted edge is a true substring edge, and every true pair shares ≥ 1 such fingerprint, making the star
    # graph's connected components EQUAL to the true pair graph's. O(n)
    # edges, O(postings) work. Small components keep full exactly verified
    # pair output; only oversized ones degrade to the certificate, which
    # is the only scalable contract for them.
    big_keys = comp.filter(F.col("_gsz") > max_group_docs).select(
        F.col(key_col).alias("_bigk")
    )
    big_docs = slim.join(
        F.broadcast(big_keys.withColumnRenamed("_bigk", key_col)),
        key_col,
        "left_semi",
    )
    cert_fps = big_docs.select(
        F.col(key_col),
        F.explode(
            F.array_distinct(fingerprints(F.col(text_col), min_len, sample))
        ).alias("fp"),
    )
    return small_edges.unionByName(_star_edges(cert_fps, key_col))


def incremental_substring_edges(
    docs: DataFrame,
    new_docs: DataFrame,
    existing_postings: DataFrame,
    text_col: str = "text",
    key_col: str = "url",
    min_len: int = 32,
    sample: int = 1,
    max_bucket_size: int = 200,
    max_group_docs: int = 256,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(edges, updated postings state, NEW-batch postings delta).

    The third element is the postings of the appended batch alone — the
    increment a segment-append checkpoint commits (O(new batch) I/O; the
    union of committed segments reconstructs the full state), while the
    second is the in-memory view existing ∪ new for chaining appends.

    The incremental-append analog of ``substring_edges`` (the reference's
    append path rebuilds everything, api_server.py:848-877 — append ≡
    rebuild is its consistency contract; this keeps the contract while
    fingerprinting only the appended batch). ``docs`` carries (key, text)
    for existing ∪ new (texts are shipped only for touched groups),
    ``new_docs`` the appended batch, ``existing_postings`` the persisted
    ``substring_postings`` state of the existing corpus.

    Why this is exact: "share a run of ≥ min_len chars" is a PAIRWISE
    property certified by a shared fingerprint VALUE (winnowing guarantee
    at sample<=1; sampled contract otherwise), so (a) old×old edges are
    untouched by an append — the existing edge state already covers them —
    and (b) every edge touching a new doc is witnessed by a fingerprint
    value present in the NEW batch's postings. Restricting the nomination
    graph to postings whose fp appears in the new batch (one semi-join)
    therefore loses nothing; the per-group L-window classes then verify
    exactly as in batch. Grouping uses the same O(postings) star-edge
    construction as the batch path rather than a pairwise new×all bucket
    join — pairwise nomination on a boilerplate fingerprint shared by the
    batch AND 10⁵ corpus docs is the Ω(n·m) blowup the batch path already
    removed; the star/CC/verify route caps it at O(touched postings). In
    sampled mode (no grouping-exactness guarantee) nomination IS pairwise
    by contract, and runs through ``salted_bipartite_pairs`` — both sides
    salted, bounded cells, zero drops.

    Oversized touched components emit the same spanning-certificate star
    edges as batch (true edges). All exact-
    mode output is then restricted to new-touching pairs: old×old rows —
    group re-derivations or certificate edges alike — are true pairs, hence
    already connected in the existing edge state (every certificate edge
    joins two docs sharing a min_len-gram, a pair the PRIOR run's output
    connects by its own CC-equivalence contract), so dropping them changes
    neither the edge-union semantics nor the clusters.
    """
    from .buckets import salted_bipartite_pairs

    slim = docs.select(F.col(key_col), F.col(text_col))
    new_slim = new_docs.select(F.col(key_col), F.col(text_col))
    # localCheckpoint, not persist: materialized batch-sized state that
    # survives as the lineage root of the returned postings without
    # accumulating storage-tier entries across chained appends
    new_post = substring_postings(
        new_slim, text_col, key_col, min_len, sample
    ).localCheckpoint()
    all_post = existing_postings.select(key_col, "fp").unionByName(new_post)
    # only fingerprint VALUES present in the new batch can witness an edge
    # touching a new doc
    touched = all_post.join(new_post.select("fp").distinct(), "fp", "left_semi")

    temps: list[DataFrame] = []
    if sample <= 1:
        grouping_edges = _star_edges(touched, key_col).persist()
        pairs = None
    else:
        # the bipartite generator scans its all-side twice (hot-bucket
        # sizing + salt tagging) — materialize the semi-joined state once
        touched = touched.persist()
        temps.append(touched)
        pairs, _hot = salted_bipartite_pairs(
            new_post, touched, ["fp"], key_col, max_bucket_size
        )
        pairs = pairs.distinct().persist()
        grouping_edges = pairs
    temps.append(grouping_edges)

    edges = _grouped_verify(
        grouping_edges, slim, key_col, text_col, min_len, sample,
        max_group_docs, pairs, temps=temps,
    )
    # drop old×old rows (exact-mode group re-derivations and certificate star
    # edges in either mode) — complete/connected in the existing state per
    # the docstring argument. One linear plan (two left joins + flag
    # filter), NOT two semi-join branches: a branched plan re-executes the
    # per-group verification once per branch.
    nk = new_slim.select(F.col(key_col))
    flag_l = nk.select(F.col(key_col).alias("key_l"), F.lit(True).alias("_nl"))
    flag_r = nk.select(F.col(key_col).alias("key_r"), F.lit(True).alias("_nr"))
    edges = (
        edges.join(F.broadcast(flag_l), "key_l", "left")
        .join(F.broadcast(flag_r), "key_r", "left")
        .where(F.col("_nl") | F.col("_nr"))
        .select("key_l", "key_r")
    )
    # materialize the (small) edge delta, then release every intermediate
    # this call pinned — chained appends must not accumulate cached state
    edges = edges.localCheckpoint()
    for df in temps:
        df.unpersist()
    return edges, all_post, new_post
