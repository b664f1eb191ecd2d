"""Graph operators on plain node/edge DataFrames (SURVEY.md §2.6).

The reference builds an igraph object (network_generator.R:143-148) and
calls degree/components/diameter/transitivity/ego on it. Here the graph
IS the pair of DataFrames — every operator is a join/aggregation plan,
so it distributes, and Catalyst sees through it.

Undirected convention: edges are stored canonicalized
``src <= dst`` (``canonicalize_edges``); neighbor expansion symmetrizes
on the fly. Self-loops are removed and parallel edges collapsed by
``simplify`` with an explicit deterministic "first" (the reference
relies on R row order — network_generator.R:148; Spark has no implicit
order, so the caller supplies tie-break columns).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from ..session import local_frame


def canonicalize_edges(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Undirected canonical form: (least, greatest) endpoint order
    (SURVEY G1)."""
    lo, hi = F.least(F.col(src), F.col(dst)), F.greatest(F.col(src), F.col(dst))
    return edges.withColumns({src: lo, dst: hi})


def simplify(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    order_by: list[str] | None = None,
) -> DataFrame:
    """Drop self-loops; collapse parallel (undirected) edges keeping the
    first row per canonical pair (igraph ``simplify``; reference
    network_generator.R:146-148). "First" is pinned by ``order_by``
    (deterministic); with no ``order_by``, rows are collapsed by
    ``dropDuplicates`` over ALL columns (safe only when parallel edges
    carry identical attributes).
    """
    e = canonicalize_edges(edges, src, dst).filter(F.col(src) != F.col(dst))
    if order_by:
        # "first by order_by" as a min(struct(order_by…, attrs…))
        # aggregation — map-side combinable (one partial-agg shuffle of
        # the keys), unlike a row_number window which must co-locate and
        # sort every parallel edge. Ties on order_by break by the
        # remaining attribute values: a deterministic refinement of the
        # window form (which left order ties arbitrary).
        attrs = [c for c in e.columns if c not in (src, dst)]
        ordered = order_by + [c for c in attrs if c not in order_by]
        picked = e.groupBy(src, dst).agg(
            F.min(F.struct(*[F.col(c) for c in ordered])).alias("_first")
        )
        return picked.select(
            src, dst, *[F.col(f"_first.{c}").alias(c) for c in attrs]
        )
    return e.dropDuplicates([src, dst])


def symmetrize(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Both directions of every undirected edge (for neighbor scans)."""
    return edges.select(src, dst).union(
        edges.select(F.col(dst).alias(src), F.col(src).alias(dst))
    )


def degrees(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Per-node degree from simplified undirected edges → (node, degree)
    (SURVEY A3/G8; reference degree(net), network_generator.R:151).
    One union + one agg; partial (map-side) aggregation applies."""
    return (
        edges.select(F.col(src).alias("node"))
        .union(edges.select(F.col(dst).alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("degree"))
    )


def neighbors(edges: DataFrame, seeds: DataFrame, node_col: str = "node") -> DataFrame:
    """Distinct neighbors of the seed set (SURVEY G9)."""
    sym = symmetrize(edges)
    return (
        sym.join(F.broadcast(seeds.select(F.col(node_col).alias("src"))), "src", "left_semi")
        .select(F.col("dst").alias(node_col))
        .distinct()
    )


def ego_nodes(edges: DataFrame, seeds: DataFrame, node_col: str = "node") -> DataFrame:
    """Seed set ∪ 1-hop neighbors (SURVEY G3: make_ego_graph node set;
    reference network_generator_lib.R:86,122). Multi-seed union is
    inherent — the DataFrame form needs no per-seed graphs + merge
    (reference merge_networks, network_generator_lib.R:586-630)."""
    return (
        seeds.select(node_col)
        .union(neighbors(edges, seeds, node_col))
        .distinct()
    )


def induced_subgraph(
    edges: DataFrame, nodeset: DataFrame, node_col: str = "node",
    src: str = "src", dst: str = "dst",
) -> DataFrame:
    """Edges with BOTH endpoints in the node set (SURVEY G4; reference
    induced_subgraph, network_generator_lib.R:195). Two semi-joins —
    broadcast when the node set is small (ego queries), shuffle
    otherwise."""
    ns_src = nodeset.select(F.col(node_col).alias(src))
    ns_dst = nodeset.select(F.col(node_col).alias(dst))
    return edges.join(ns_src, src, "left_semi").join(ns_dst, dst, "left_semi")


def ego_graph(
    edges: DataFrame, seeds: DataFrame, node_col: str = "node"
) -> tuple[DataFrame, DataFrame]:
    """(nodes, edges) of the 1-hop ego graph around the seed set."""
    ns = ego_nodes(edges, seeds, node_col)
    return ns, induced_subgraph(edges, ns, node_col)


def _forest_contract(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """One contraction pass: per-partition union-find emitting a
    spanning forest (≤ distinct-nodes-per-partition edges, connectivity
    preserved exactly). ``mapInPandas`` hands the generator every Arrow
    batch of a partition in sequence, so ONE union-find covers the
    whole partition regardless of batch splits."""
    schema = edges.select(src, dst).schema

    def gen(batches):
        import pandas as pd

        parent: dict = {}

        def find(x):
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:  # path compression
                parent[x], x = r, parent[x]
            return r

        forest_s, forest_d = [], []
        for pdf in batches:
            for a, b in zip(pdf[src].values, pdf[dst].values):
                a, b = a.item() if hasattr(a, "item") else a, b.item() if hasattr(b, "item") else b
                if a not in parent:
                    parent[a] = a
                if b not in parent:
                    parent[b] = b
                ra, rb = find(a), find(b)
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
                    forest_s.append(a)
                    forest_d.append(b)
        yield pd.DataFrame({src: forest_s, dst: forest_d})

    return edges.select(src, dst).mapInPandas(gen, schema=schema)


def limit_probe(df: DataFrame, collect_threshold: int):
    """At most ``collect_threshold + 1`` rows of ``df`` as a pandas
    frame, in one fully-parallel job: more than ``collect_threshold``
    rows means "too big to solve on the driver", and otherwise the
    probe already holds all of ``df``.

    CollectLimit default-scans partitions in incremental waves (1, 4,
    16, …) — on an expensive emitter that SERIALIZES the final stage
    (measured: q29's 10× big corpus 70.5s → 92.2s).
    initialNumPartitions = defaultParallelism makes the probe one
    fully-parallel job; per-partition LocalLimit still caps the driver
    pull at nparts·(threshold+1) rows worst-case. The conf is
    session-global while the probe runs (see
    :func:`connected_components`)."""
    spark = df.sparkSession
    key = "spark.sql.limit.initialNumPartitions"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, str(spark.sparkContext.defaultParallelism))
    try:
        return df.limit(collect_threshold + 1).toPandas()
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    node_col: str = "node",
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 50,
    collect_threshold: int = 2_000_000,
) -> DataFrame:
    """Connected components → (node, component), component = min node
    id in the component (SURVEY G5; reference components(net),
    network_generator_lib.R:415-417).

    Two-level scheme (the MapReduce-CC contraction idea — Kiveris et
    al., "Connected Components in MapReduce and Beyond"):

    1. **Contraction passes**: each pass runs a per-partition
       union-find (``_forest_contract``) and keeps only spanning-forest
       edges — output ≤ Σ per-partition distinct nodes, so a dense
       graph collapses ~|E|→~|V| in one pass, and repartitioning to
       fewer partitions makes successive passes shrink the frontier
       geometrically. Forest edges depend on partition layout;
       the components they encode do not.
    2. **Bounded final solve**: once the contracted forest is under
       ``collect_threshold`` rows it is solved with a driver-side
       union-find (like MLlib collecting k centroids: O(|V|) driver
       memory AFTER geometric reduction, never O(|E|)) and broadcast
       back. If ``max_iter`` contraction passes never get there
       (pathological), fall back to distributed min-label propagation
       with pointer jumping (``_cc_pointer_jumping``).

    First touch is a LIMIT-PROBE (round 9): pull at most
    ``collect_threshold + 1`` edge rows — one consumption of the
    (possibly expensive) upstream chain both decides the path and, in
    the common small-graph case (near-dup pair graphs, bench
    networks), already holds the entire edge list for the bounded
    solve. The round-8 shape persisted the chain and counted it before
    collecting: on an already-checkpointed input (q23's bench graph)
    the cache write was pure overhead (+1.2s quiet), and on an
    expensive emitter (q29's pair join) the probe is strictly cheaper
    too — one compute + Arrow transfer vs compute + cache write +
    cache read. When the probe OVERFLOWS (>threshold rows — the rare
    big-graph path), the emitter chain is checkpointed before the
    contraction loop: the probe's LocalLimit cannot short-circuit
    upstream shuffle stages, so without the checkpoint the first
    ``_forest_contract`` would re-run the whole emitter from scratch
    (advisor r9) — one cache write here buys every contraction pass.

    NOTE (single-writer assumption): the limit-probe temporarily sets
    the session-global ``spark.sql.limit.initialNumPartitions`` and
    restores it in ``finally``. There is no per-query scope for this
    conf, so a CONCURRENT query in the same session could observe the
    override during the probe window. The override is benign for
    correctness (it only changes CollectLimit's wave schedule), so the
    worst case is a concurrent ``.limit()`` scheduling all partitions
    at once; serving deployments that care should run graph builds on
    a dedicated session (``spark.newSession()`` gives a private conf).
    """
    e = edges.select(src, dst).filter(F.col(src) != F.col(dst))
    probe = limit_probe(e, collect_threshold)
    if len(probe) <= collect_threshold:
        return _cc_solve_bounded(probe, nodes, node_col, src, dst)
    del probe
    # Probe overflowed: every contraction pass below re-reads e, and
    # LocalLimit did not short-circuit the emitter's shuffle stages —
    # checkpoint once so the (possibly expensive) emitter chain is
    # never recomputed (advisor r9; the small-graph fast path above
    # stays cache-free).
    e = e.localCheckpoint(eager=True)
    # Big graph: geometric contraction. Post-contraction frames are
    # eager localCheckpoints, so loop counts are cheap aggregates over
    # materialized blocks. nparts seeds the repartition schedule,
    # resolved from defaultParallelism, never ``e.rdd`` (under AQE,
    # ``e.rdd.getNumPartitions()`` finalizes the adaptive plan by
    # EXECUTING every shuffle stage of the edge emitter — profiled at
    # +2.5s on the q29 pair join just to read a partition count).
    nparts = None
    prev = None
    for _ in range(max_iter):
        e = _forest_contract(e, src, dst).localCheckpoint(eager=True)
        if nparts is None:
            nparts = max(1, edges.sparkSession.sparkContext.defaultParallelism)
        nparts = max(1, nparts // 8)
        e = e.repartition(nparts)
        n = e.count()
        if n <= collect_threshold:
            return _cc_solve_bounded(e.toPandas(), nodes, node_col, src, dst)
        if prev is not None and n >= prev * 0.9:
            # forest has plateaued at ~|V| > threshold — contraction
            # can't shrink further; finish distributed
            break
        prev = n
    return _cc_pointer_jumping(nodes, e, node_col, src, dst, max_iter)


def min_roots(edges) -> dict:
    """Driver-side union-find over an iterable of ``(a, b)`` edges →
    ``{node: min node of its component}`` for every node on an edge."""
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:
            parent[x], x = r, parent[x]
        return r

    for a, b in edges:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {k: find(k) for k in parent}


def _cc_solve_bounded(
    pdf, nodes: DataFrame, node_col: str, src: str, dst: str
) -> DataFrame:
    """Driver-side union-find over a ≤collect_threshold edge list →
    (node, component) joined back over the full node set (nodes absent
    from every edge keep themselves as component)."""
    mapping = list(min_roots(
        zip(pdf[src].values.tolist(), pdf[dst].values.tolist())
    ).items())
    spark = nodes.sparkSession
    node_type = nodes.schema[node_col].dataType
    from pyspark.sql.types import StructField, StructType

    mdf = local_frame(
        spark,
        mapping,
        StructType(
            [
                StructField("node", node_type),
                StructField("_comp", node_type),
            ]
        ),
    )
    return (
        nodes.select(F.col(node_col).alias("node"))
        .join(F.broadcast(mdf), "node", "left")
        .select(
            "node",
            F.coalesce(F.col("_comp"), F.col("node")).alias("component"),
        )
    )


def _cc_pointer_jumping(
    nodes: DataFrame,
    edges: DataFrame,
    node_col: str = "node",
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 50,
) -> DataFrame:
    """Connected components by min-label propagation WITH pointer
    jumping → (node, component), component = min node id in the
    component (SURVEY G5; reference components(net),
    network_generator_lib.R:415-417).

    Each round: (1) every node takes the min label over itself and its
    neighbors (one join+agg); (2) pointer jump — every node replaces
    its label by its label's label (one self-join). Propagation alone
    converges in O(diameter) rounds — a 10k-fragment chromatin chain
    would need 10k shuffles; jumping compresses label chains
    geometrically, giving O(log n) rounds (the union-find path-halving
    idea, same effect as GraphFrames' large-star/small-star).
    ``localCheckpoint`` truncates lineage per round.
    """
    sym = symmetrize(edges, src, dst).localCheckpoint(eager=True)
    labels = nodes.select(
        F.col(node_col).alias("node"), F.col(node_col).alias("component")
    ).localCheckpoint(eager=True)
    # bind before the loop: max_iter <= 0 skips it entirely, and the
    # non-convergence raise below must stay a RuntimeError, not a
    # NameError on an unbound `changed` (advisor r9)
    changed = None
    for _ in range(max_iter):
        neighbor_min = (
            sym.join(labels, sym[dst] == labels["node"])
            .select(sym[src].alias("node"), F.col("component"))
            .groupBy("node")
            .agg(F.min("component").alias("_nmin"))
        )
        propagated = labels.join(neighbor_min, "node", "left").select(
            "node",
            F.least(
                F.col("component"), F.coalesce(F.col("_nmin"), F.col("component"))
            ).alias("component"),
        )
        # pointer jump: component ← component's component (labels are
        # node ids, so the parent lookup is a self-join)
        parents = propagated.select(
            F.col("node").alias("_pnode"), F.col("component").alias("_pcomp")
        )
        new_labels = (
            propagated.join(
                parents, propagated["component"] == parents["_pnode"], "left"
            )
            .select(
                "node",
                F.least(
                    F.col("component"),
                    F.coalesce(F.col("_pcomp"), F.col("component")),
                ).alias("component"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.join(labels.withColumnRenamed("component", "_old"), "node")
            .filter(F.col("component") != F.col("_old"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            return labels
    # exhausting the rounds mid-propagation would hand back labels that
    # LOOK like components but straddle real ones — silently wrong
    # dedup/metric results downstream. Jumping converges in O(log n)
    # rounds, so hitting this means max_iter was set far too low for
    # the graph; fail loudly instead (round-9 find: a 12-round cap
    # returned a two-label component under one partition layout).
    raise RuntimeError(
        f"connected_components: min-label propagation still changing "
        f"after {max_iter} pointer-jumping rounds ("
        + (
            f"{changed} labels moved last round"
            if changed is not None
            else "no rounds ran — max_iter <= 0"
        )
        + ") — raise max_iter (rounds needed grow ~log n)"
    )


def component_sizes(components: DataFrame) -> DataFrame:
    return components.groupBy("component").agg(F.count("*").alias("size"))


def bfs_distances(
    edges: DataFrame, sources: DataFrame, node_col: str = "node", max_depth: int = 10_000
) -> DataFrame:
    """Unweighted BFS distances from a (small) source set → (node, dist).
    Frontier-expansion joins; each round one shuffle."""
    sym = symmetrize(edges).localCheckpoint(eager=True)
    visited = sources.select(F.col(node_col).alias("node"), F.lit(0).alias("dist"))
    visited = visited.localCheckpoint(eager=True)
    frontier = visited
    for depth in range(1, max_depth + 1):
        nxt = (
            sym.join(frontier, sym["src"] == frontier["node"])
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(visited, "node", "left_anti")
            .withColumn("dist", F.lit(depth))
        )
        nxt = nxt.localCheckpoint(eager=True)
        if nxt.isEmpty():
            break
        # visited = union of per-round checkpointed frontiers: lineage
        # stays O(rounds) shallow without re-materializing the whole
        # visited set every round (one job saved per round)
        visited = visited.union(nxt)
        frontier = nxt
    return visited


def diameter(
    nodes: DataFrame, edges: DataFrame, node_col: str = "node", exact_limit: int = 2000
) -> int:
    """Graph diameter — longest shortest path over the whole graph
    (igraph semantics: max over components; reference diameter(net),
    network_generator_lib.R:418; SURVEY G6).

    ≤ ``exact_limit`` nodes → exact (BFS from every node, batched as a
    multi-source product — fine for interactive subnetworks). Larger →
    double-sweep BFS lower bound per component (exact on trees, tight
    in practice; documented approximation — exact all-pairs at 100 TB
    is infeasible).
    """
    n = nodes.count()
    if n == 0:
        return 0
    if n <= exact_limit:
        # exact: APSP by joining BFS layers from all sources at once
        sym = symmetrize(edges).localCheckpoint(eager=True)
        dist = nodes.select(
            F.col(node_col).alias("s"), F.col(node_col).alias("node"), F.lit(0).alias("dist")
        ).localCheckpoint(eager=True)
        frontier = dist
        best = 0
        for depth in range(1, n):
            nxt = (
                sym.join(frontier, sym["src"] == frontier["node"])
                .select("s", F.col("dst").alias("node"))
                .distinct()
                .join(dist, ["s", "node"], "left_anti")
                .withColumn("dist", F.lit(depth))
                .localCheckpoint(eager=True)
            )
            if nxt.isEmpty():
                break
            dist = dist.union(nxt).localCheckpoint(eager=True)
            frontier = nxt
            best = depth
        return best
    # double sweep from the max-degree node of each component
    comps = connected_components(nodes, edges, node_col)
    degs = degrees(edges)
    start = (
        comps.join(degs, "node", "left")
        .fillna(0, subset=["degree"])
        .withColumn(
            "_rn",
            F.row_number().over(
                W.partitionBy("component").orderBy(F.desc("degree"), F.asc("node"))
            ),
        )
        .filter(F.col("_rn") == 1)
        .select("node")
    )
    d1 = bfs_distances(edges, start, "node")
    far = d1.orderBy(F.desc("dist"), F.asc("node")).limit(1).select("node")
    d2 = bfs_distances(edges, far, "node")
    row = d2.agg(F.max("dist").alias("m")).collect()[0]
    return int(row["m"] or 0)


def triangle_count(edges: DataFrame, src: str = "src", dst: str = "dst") -> int:
    """Global triangle count via 3-way self-join of canonical (a<b)
    edges (SURVEY G7). Each triangle a<b<c matches exactly once."""
    e = (
        canonicalize_edges(edges.select(src, dst), src, dst)
        .filter(F.col(src) != F.col(dst))
        .dropDuplicates([src, dst])
    )
    e1 = e.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    e2 = e.select(F.col(src).alias("b"), F.col(dst).alias("c"))
    e3 = e.select(F.col(src).alias("a"), F.col(dst).alias("c"))
    return e1.join(e2, "b").join(e3, ["a", "c"], "left_semi").count()


def transitivity(edges: DataFrame, src: str = "src", dst: str = "dst") -> float:
    """Global clustering coefficient = 3·triangles / #connected-triples
    (igraph ``transitivity(type="global")``; reference
    network_generator_lib.R:436). Triples from degrees: Σ d(d−1)/2."""
    tri = triangle_count(edges, src, dst)
    e = (
        canonicalize_edges(edges.select(src, dst), src, dst)
        .filter(F.col(src) != F.col(dst))
        .dropDuplicates([src, dst])
    )
    row = (
        degrees(e, src, dst)
        .agg(F.sum(F.col("degree") * (F.col("degree") - 1) / 2).alias("triples"))
        .collect()[0]
    )
    triples = float(row["triples"] or 0.0)
    return float("nan") if triples == 0 else 3.0 * tri / triples


def interchromosomal_count(
    edges: DataFrame, src: str = "src", dst: str = "dst", sep: str = "_"
) -> int:
    """Edges whose endpoint fragment ids live on different chromosomes
    (fragment id = ``{chr}_{start}_{end}``; reference
    network_generator_lib.R:426-435; SURVEY G10)."""
    return edges.filter(
        F.split(F.col(src), sep).getItem(0) != F.split(F.col(dst), sep).getItem(0)
    ).count()


def subset_edges_by_nodesets(
    edges: DataFrame,
    nodes1: DataFrame,
    nodes2: DataFrame | None = None,
    node_col: str = "node",
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """chaser ``subset_chromnet`` (SURVEY G13; reference
    network_generator.R:258-265): with only ``nodes1`` → induced
    subgraph on nodes1 (PP net); with both → edges with one endpoint in
    each set (PO net)."""
    if nodes2 is None:
        return induced_subgraph(edges, nodes1, node_col, src, dst)
    n1 = nodes1.select(F.col(node_col).alias("_n1"))
    n2 = nodes2.select(F.col(node_col).alias("_n2"))
    e = edges
    fwd = (
        e.join(n1, e[src] == n1["_n1"], "left_semi")
        .join(n2, e[dst] == n2["_n2"], "left_semi")
    )
    bwd = (
        e.join(n2, e[src] == n2["_n2"], "left_semi")
        .join(n1, e[dst] == n1["_n1"], "left_semi")
    )
    return fwd.union(bwd).dropDuplicates([src, dst])


def graph_metadata(
    nodes: DataFrame,
    edges: DataFrame,
    node_col: str = "fragment",
    type_col: str = "type",
    edge_type_col: str = "type",
) -> dict:
    """The reference's per-network metadata bundle (SURVEY G14; reference
    generate_metadata, network_generator_lib.R:411-459): counts, degree
    average, component stats, diameter, clustering coefficient.

    Returns a plain dict (this is a small driver-side artifact — the
    inputs are aggregated, never collected row-wise).
    """
    e = edges.select(F.col("src"), F.col("dst"), F.col(edge_type_col).alias("etype"))
    node_stats = nodes.agg(
        F.count("*").alias("nodes"),
        F.sum(F.when(F.col(type_col) == "P", 1).otherwise(0)).alias("promoters"),
        F.sum(F.when(F.col(type_col) == "O", 1).otherwise(0)).alias("other_ends"),
    ).collect()[0]
    edge_stats = e.agg(
        F.count("*").alias("edges"),
        F.sum(F.when(F.col("etype") == "P-P", 1).otherwise(0)).alias("pp_edges"),
        F.sum(F.when(F.col("etype") == "P-O", 1).otherwise(0)).alias("po_edges"),
    ).collect()[0]
    deg_avg = (
        degrees(e).agg(F.round(F.avg("degree"), 2).alias("d")).collect()[0]["d"]
    )
    comps = connected_components(
        nodes.select(F.col(node_col).alias("node")), e
    )
    sizes = component_sizes(comps)
    comp_row = sizes.agg(
        F.count("*").alias("n_components"), F.max("size").alias("largest")
    ).collect()[0]
    n_nodes = node_stats["nodes"]
    pct_largest = (
        round(100.0 * comp_row["largest"] / n_nodes, 2) if n_nodes else 0.0
    )
    import math

    trans = transitivity(e)
    return {
        "nodes": n_nodes,
        "promoters": node_stats["promoters"],
        "other_ends": node_stats["other_ends"],
        "edges": edge_stats["edges"],
        "pp_edges": edge_stats["pp_edges"],
        "po_edges": edge_stats["po_edges"],
        "degree_avg": float(deg_avg) if deg_avg is not None else 0.0,
        "connected_components": comp_row["n_components"],
        "pct_nodes_in_largest_component": f"{pct_largest}%",
        "interchromosomal_edges": interchromosomal_count(e),
        "diameter": diameter(nodes.select(F.col(node_col).alias("node")), e),
        # NaN (no connected triples) → None: valid JSON null, unlike the
        # reference's rjson NaN emission (a wart not copied)
        "clustering_coefficient": None if math.isnan(trans) else trans,
    }
