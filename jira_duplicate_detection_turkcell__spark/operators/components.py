"""Distributed connected components — the C3 clustering stage.

The reference's notion of a duplicate group is implicit (top-k search results,
"replace duplicate" row deletion — api_server.py:785-813); the new engine
makes it explicit: verified pairs are edges, clusters are connected
components, every url gets a cluster id.

Algorithm: iterative min-label propagation (hash joins only, no RDDs):
each node's label becomes the min of its own and all neighbors' labels;
iterate to fixpoint. Per-iteration `localCheckpoint` truncates lineage so the
plan doesn't grow exponentially (SURVEY.md §4). Near-duplicate components are
small and shallow (diameter ≤ a handful), so the fixpoint is reached in a few
iterations; if a pathological graph survives the iteration cap, the
alternating large-star/small-star variant (Kiveris et al., "CC in MapReduce
and Beyond", ``_star_components``) takes over by default — it halves
component diameter per round (O(log² n) rounds at ANY diameter), so even
adversarial million-hop chains resolve correctly.

Labels are the node keys themselves (min url = canonical representative), so
the result is deterministic under any partitioning and collision-free at any
scale — a 64-bit hash label would start colliding near 10^9-10^10 clusters.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _single_task_components(edges: DataFrame) -> DataFrame:
    """(node, cluster_id) for every node with an edge — one union-find task.

    The whole edge list is coalesced into one partition and resolved with
    path-halving union-find inside a single mapInPandas task. cluster_id is
    the lexicographic-min member (identical to the iterative path).
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


def _star_components(edges: DataFrame, max_iter: int = 40) -> DataFrame:
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
    set is localCheckpoint'ed so plans stay flat.
    """
    e = (
        edges.where(F.col("key_l") != F.col("key_r"))
        .select(
            F.least("key_l", "key_r").alias("s"), F.greatest("key_l", "key_r").alias("b")
        )
        .distinct()
        .localCheckpoint()
    )

    def checksum(df: DataFrame) -> tuple:
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            # decimal(38,0) accumulator: a long sum of 64-bit hashes overflows
            # (ANSI mode raises); decimal is exact to 10^38
            F.sum(F.xxhash64("s", "b").cast("decimal(38,0)")).alias("h"),
        ).collect()[0]
        return row["n"], row["h"]

    prev = checksum(e)
    for _ in range(max_iter):
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
        # extraction below would split components — the exact failure this
        # fallback exists to prevent
        raise RuntimeError(
            f"star connected-components did not converge in {max_iter} rounds"
        )
    # converged stars: every edge is (root=s, member=b); roots label themselves
    members = e.select(F.col("b").alias("node"), F.col("s").alias("cluster_id"))
    roots = e.select(F.col("s").alias("node"), F.col("s").alias("cluster_id")).distinct()
    return members.union(roots).distinct()


def connected_components(
    edges: DataFrame,
    nodes: DataFrame,
    key_col: str = "url",
    max_iter: int = 25,
    nodes_unique: bool = False,
    edges_unique: bool = False,
    hops_per_round: int = 2,
    small_graph_edges: int = 2_000_000,
    edge_count: int | None = None,
) -> DataFrame:
    """edges(key_l, key_r) + nodes(key) → (key, cluster_id) for every node.

    ``cluster_id`` is the lexicographic-min member key of the component;
    singletons get their own key. Pass ``nodes_unique=True`` when the caller
    guarantees one row per key (e.g. the signature table) to skip a
    defensive distinct shuffle. Pass ``edges_unique=True`` when the edge
    list is distinct with key_l < key_r — then the two-direction union is
    duplicate-free by construction and the symmetrize distinct (a full
    shuffle) is skipped. Pass ``edge_count`` when the caller already
    materialized + counted the edge list (the pipeline's edge stage does)
    to skip the gate's extra count job — a lazy edge plan would otherwise
    execute its whole subtree twice.

    Hybrid execution: the verified-duplicate edge list is orders of
    magnitude smaller than the corpus (only near-duplicate pairs survive
    verification). When it fits ONE task (≤ ``small_graph_edges``), the
    fixpoint loop is replaced by a single-task union-find over a
    ``coalesce(1)`` + ``mapInPandas`` — an executor-side Spark task, not a
    driver loop — because at that size the iterative path is pure
    orchestration latency (measured: 10 label-propagation rounds ≈ 8-10 s
    for a 22k-edge graph whose union-find takes milliseconds). The default
    gate is sized for the task's PYTHON footprint, not the raw edge bytes:
    with interned keys the union-find state is two int lists plus one
    Python string per distinct node (~100-150 B each incl. the intern
    dict), so 2M edges ≈ a few hundred MB worst-case in one worker —
    comfortable under the executor memory here, conservative on a real
    cluster. Larger edge lists take the distributed label-propagation path
    unchanged. Set ``small_graph_edges=0`` to force the iterative path.

    A distributed fixpoint that has not converged within ``max_iter``
    rounds is NEVER returned — an unconverged label table would emit one
    component as several clusters. The graph is re-resolved instead with
    alternating large-star/small-star (``_star_components``) — O(log² n)
    rounds at any diameter, so even adversarial million-hop chains finish
    correct. Realistic near-dup graphs converge in a handful of propagation
    rounds and never reach this.
    """
    def attach_singletons(assigned):
        # one shared epilogue for every exit path: nodes with no edges keep
        # themselves as cluster_id (three diverging copies of this block is
        # how an output-changing tweak could silently apply to only one
        # execution path)
        base = nodes.select(key_col)
        if not nodes_unique:
            base = base.distinct()
        return base.join(assigned, key_col, "left").select(
            key_col,
            F.coalesce(F.col("cluster_id"), F.col(key_col)).alias("cluster_id"),
        )

    if edge_count is None and small_graph_edges:
        edge_count = edges.count()
    if small_graph_edges and edge_count <= small_graph_edges:
        return attach_singletons(
            _single_task_components(edges).withColumnRenamed("node", key_col)
        )

    sym = edges.select(F.col("key_l").alias("src"), F.col("key_r").alias("dst")).union(
        edges.select(F.col("key_r").alias("src"), F.col("key_l").alias("dst"))
    )
    if not edges_unique:
        sym = sym.distinct()
    # Materialize once, PRE-PARTITIONED on the join key: localCheckpoint
    # truncates upstream lineage (the edge list would otherwise be recomputed
    # every round) and preserves outputPartitioning, so no per-round join
    # ever exchanges the edge table again — only the (small) label table
    # moves each hop. (Measured: a lazy sym over a cached parent re-shuffles
    # every hop and runs ~2× slower.)
    sym = sym.repartition(F.col("dst")).localCheckpoint()
    # Only nodes with at least one edge participate in propagation; the
    # (overwhelming at web scale) singleton majority bypasses the loop and is
    # attached at the end with coalesce.
    # initial labels stay LAZY: they derive from the already-checkpointed
    # edge list, so round 1's materializing action computes them in-plan —
    # one fewer blocking driver job than eagerly checkpointing them here
    labels = (
        sym.select(F.col("src").alias("node")).distinct().withColumn("label", F.col("node"))
    )

    def hop(lbls):
        # neighbor-min in message form — 2 exchanges (labels→dst,
        # min-combine→node) instead of join+groupBy+join-back's 3. The self
        # message carries the old label in a side column so "did anything
        # change this round" falls out of the aggregate — no old⋈new join.
        msgs = sym.join(lbls, sym.dst == lbls.node).select(
            F.col("src").alias("node"),
            F.col("label"),
            F.lit(None).cast(lbls.schema["label"].dataType).alias("old"),
        )
        self_msgs = lbls.select("node", "label", F.col("label").alias("old"))
        return (
            msgs.union(self_msgs)
            .groupBy("node")
            .agg(F.min("label").alias("label"), F.max("old").alias("old"))
        )

    # Round = ``hops_per_round`` chained neighbor hops, one materializing
    # action (the changed count of the LAST hop; if the last hop changed
    # nothing, earlier hops converged too). Near-dup chains (incremental
    # mutation runs in a crawl) give the candidate graph diameters of 20+,
    # so label information must travel many edges; chaining hops inside one
    # job trades a little per-job plan size for proportionally fewer driver
    # round-trips. (Pointer-jumping variants were measured SLOWER here: the
    # jump self-join re-executes the evolving subtree per jump, and with
    # graph diameter ≪ 100 the round count saved does not pay for it.
    # Adversarial million-hop chains would want large-star/small-star.)
    for _ in range(max_iter):
        stepped = hop(labels)
        for _extra in range(hops_per_round - 1):
            stepped = hop(stepped.select("node", "label"))
        new_labels = stepped.withColumn(
            "changed", F.col("label") < F.col("old")
        ).drop("old").localCheckpoint(eager=False)
        n_changed = new_labels.filter(F.col("changed")).count()
        labels = new_labels.drop("changed")
        if n_changed == 0:
            break
    else:
        # no convergence in max_iter rounds: re-resolve with large/small-star
        return attach_singletons(
            _star_components(edges).withColumnRenamed("node", key_col)
        )

    return attach_singletons(
        labels.select(F.col("node").alias(key_col), F.col("label").alias("cluster_id"))
    )
