"""Distributed connected components — the C3 clustering stage.

The reference's notion of a duplicate group is implicit (top-k search results,
"replace duplicate" row deletion — api_server.py:785-813); the new engine
makes it explicit: verified pairs are edges, clusters are connected
components, every url gets a cluster id.

Two execution paths, chosen by edge count (``connected_components``): a
single-task union-find when the edge list fits one task, and above that
alternating large-star/small-star (Kiveris et al., "Connected Components in
MapReduce and Beyond", ``_star_components``) — hash joins and aggregations
only, no RDDs, with a per-round ``localCheckpoint`` so the plan doesn't grow
(SURVEY.md §4). Star halves component diameter per round (O(log² n) rounds
at ANY diameter), so near-dup chains 20+ hops long and adversarial
million-hop chains take far fewer rounds than hops. Min-label propagation, which
needs one round per unit of diameter, took about twice as long as star on
the n=800k bench edge list, so it is not kept as a second distributed path.

Labels are the node keys themselves (min url = canonical representative), so
the result is deterministic under any partitioning and collision-free at any
scale — a 64-bit hash label would start colliding near 10^9-10^10 clusters.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# star rounds before _star_components raises rather than return unconverged
# stars (which would split components)
_STAR_MAX_ROUNDS = 40


def _single_task_components(edges: DataFrame) -> DataFrame:
    """(node, cluster_id) for every node with an edge — one union-find task.

    The whole edge list is coalesced into one partition and resolved with
    path-halving union-find inside a single mapInPandas task. cluster_id is
    the lexicographic-min member (identical to the star path).
    """
    from typing import Iterator

    import pandas as pd

    key_type = edges.schema["key_l"].dataType.simpleString()

    def resolve(batch_iter: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # keys are interned to dense ints up front: the union-find state is
        # then two flat int lists instead of a dict keyed by (url) strings —
        # ~10× less Python object overhead per node, which is what bounds
        # this single task's memory at the small_graph_edges gate
        idx: dict = {}
        keys: list = []
        parent: list[int] = []

        def intern(k) -> int:
            i = idx.get(k)
            if i is None:
                i = len(keys)
                idx[k] = i
                keys.append(k)
                parent.append(i)
            return i

        def find(x: int) -> int:
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:  # path compression
                parent[x], x = root, parent[x]
            return root

        for pdf in batch_iter:
            for a, b in zip(pdf["key_l"], pdf["key_r"]):
                ra, rb = find(intern(a)), find(intern(b))
                if ra != rb:
                    # union by min KEY keeps the canonical (min) key at the root
                    if keys[rb] < keys[ra]:
                        ra, rb = rb, ra
                    parent[rb] = ra
        if keys:
            yield pd.DataFrame(
                {"node": keys, "cluster_id": [keys[find(i)] for i in range(len(keys))]}
            )

    return (
        edges.select("key_l", "key_r")
        .coalesce(1)
        .mapInPandas(resolve, f"node {key_type}, cluster_id {key_type}")
    )


def _star_components(edges: DataFrame, edges_unique: bool = False) -> DataFrame:
    """(node, cluster_id) for every node with an edge — alternating
    large-star/small-star (Kiveris et al., "Connected Components in
    MapReduce and Beyond"), which HALVES component diameter per round:
    O(log² n) rounds for any graph, including adversarial million-hop
    chains where plain min-label propagation needs diameter rounds.

    One round:
      large-star — per node u, attach every strictly-larger neighbor to
        m(u) = min(Γ(u) ∪ {u});
      small-star — per node u over edges grouped by their LARGER endpoint,
        attach u and its (all smaller) neighbors to m(u).
    The edge set converges to per-component stars (root = min member);
    convergence is detected by an order-independent count + hash checksum
    (64-bit xxhash sum — collision odds negligible), each round is a
    constant number of hash joins/aggregations, and each intermediate edge
    set is localCheckpoint'ed so plans stay flat. ``edges_unique=True``
    (distinct, key_l < key_r) skips the opening normalize + distinct.
    """
    if edges_unique:
        e = edges.select(F.col("key_l").alias("s"), F.col("key_r").alias("b"))
    else:
        e = (
            edges.where(F.col("key_l") != F.col("key_r"))
            .select(
                F.least("key_l", "key_r").alias("s"),
                F.greatest("key_l", "key_r").alias("b"),
            )
            .distinct()
        )
    e = e.localCheckpoint()

    def checksum(df: DataFrame) -> tuple:
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            # decimal(38,0) accumulator: a long sum of 64-bit hashes overflows
            # (ANSI mode raises); decimal is exact to 10^38
            F.sum(F.xxhash64("s", "b").cast("decimal(38,0)")).alias("h"),
        ).collect()[0]
        return row["n"], row["h"]

    prev = checksum(e)
    for _ in range(_STAR_MAX_ROUNDS):
        # ---- large-star: symmetric adjacency, min over (neighbors ∪ self)
        sym = e.select(F.col("s").alias("u"), F.col("b").alias("v")).union(
            e.select(F.col("b").alias("u"), F.col("s").alias("v"))
        )
        mins = (
            sym.groupBy("u")
            .agg(F.min("v").alias("_mv"))
            .select("u", F.least("_mv", F.col("u")).alias("m"))
        )
        e = (
            sym.join(mins, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.least("v", "m").alias("s"), F.greatest("v", "m").alias("b"))
            .where(F.col("s") != F.col("b"))
            .distinct()
            .localCheckpoint()
        )
        # ---- small-star: group by the larger endpoint b (all neighbors ≤ b);
        # attach b and every neighbor to the min neighbor
        mins2 = e.groupBy("b").agg(F.min("s").alias("m"))
        with_min = e.join(mins2, "b")
        e = (
            with_min.select(F.col("m").alias("s"), F.col("b").alias("b2"))
            .union(
                with_min.where(F.col("s") != F.col("m")).select(
                    F.col("m").alias("s"), F.col("s").alias("b2")
                )
            )
            .select("s", F.col("b2").alias("b"))
            .where(F.col("s") != F.col("b"))
            .distinct()
            .localCheckpoint()
        )
        cur = checksum(e)
        if cur == prev:
            break
        prev = cur
    else:
        # never silent: un-converged stars are not per-component, so the
        # extraction below would split components
        raise RuntimeError(
            f"star connected-components did not converge in {_STAR_MAX_ROUNDS} rounds"
        )
    # converged stars: every edge is (root=s, member=b); roots label themselves
    members = e.select(F.col("b").alias("node"), F.col("s").alias("cluster_id"))
    roots = e.select(F.col("s").alias("node"), F.col("s").alias("cluster_id")).distinct()
    return members.union(roots).distinct()


def connected_components(
    edges: DataFrame,
    nodes: DataFrame,
    key_col: str = "url",
    nodes_unique: bool = False,
    edges_unique: bool = False,
    small_graph_edges: int = 2_000_000,
    edge_count: int | None = None,
) -> DataFrame:
    """edges(key_l, key_r) + nodes(key) → (key, cluster_id) for every node.

    ``cluster_id`` is the lexicographic-min member key of the component;
    singletons get their own key. Pass ``nodes_unique=True`` when the caller
    guarantees one row per key (e.g. the signature table) to skip a
    defensive distinct shuffle. Pass ``edges_unique=True`` when the edge
    list is distinct with key_l < key_r — then the star path's opening
    normalize + distinct (a full shuffle) is skipped. Pass ``edge_count``
    when the caller already materialized + counted the edge list (the
    pipeline's edge stage does) to skip the gate's extra count job — a lazy
    edge plan would otherwise execute its whole subtree twice.

    Hybrid execution: the verified-duplicate edge list is orders of
    magnitude smaller than the corpus (only near-duplicate pairs survive
    verification). When it fits ONE task (≤ ``small_graph_edges``), it is
    resolved by a single-task union-find over a ``coalesce(1)`` +
    ``mapInPandas`` — an executor-side Spark task, not a driver loop —
    because at that size the round-based path is mostly orchestration
    latency (measured on the n=800k bench edge list, 296,646 edges, 4 cores:
    star ≈ 20 s, union-find ≈ 3.5 s, same clusters). The default gate is
    sized for the task's PYTHON footprint, not the raw edge bytes: with
    interned keys the union-find state is two int lists plus one Python
    string per distinct node (~100-150 B each incl. the intern dict), so 2M
    edges ≈ a few hundred MB worst-case in one worker — comfortable under
    the executor memory here, conservative on a real cluster. Larger edge
    lists take the distributed large-star/small-star path
    (``_star_components``), which raises rather than return an unconverged
    result. Set ``small_graph_edges=0`` to force the distributed path.
    """
    if edge_count is None and small_graph_edges:
        edge_count = edges.count()
    if small_graph_edges and edge_count <= small_graph_edges:
        assigned = _single_task_components(edges)
    else:
        assigned = _star_components(edges, edges_unique=edges_unique)
    # nodes with no edges keep themselves as cluster_id
    base = nodes.select(key_col)
    if not nodes_unique:
        base = base.distinct()
    assigned = assigned.withColumnRenamed("node", key_col)
    return base.join(assigned, key_col, "left").select(
        key_col,
        F.coalesce(F.col("cluster_id"), F.col(key_col)).alias("cluster_id"),
    )
