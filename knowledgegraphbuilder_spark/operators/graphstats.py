"""Graph statistics: bipartite co-occurrence projection + triangle counting.

Beyond reference parity (the reference delegates all graph analytics to
Neo4j — back/kgg/io/graph.py stores the graph, runs no metrics): these are
the standard KG-quality signals a construction pipeline reports — how dense
is the neighborhood of each node, does the graph have community structure
(clustering coefficient), which entities co-occur.

Scale design:
- Co-occurrence projection is the classic bipartite -> unimodal projection
  (orders x parts -> part co-purchase). Hot groups are quadratic in the
  self-join, so group size is capped (``max_group_size``) BEFORE the join —
  the cap is the standard web-scale guard (a basket with 10^5 items emits
  10^10 pairs; dropping it is a documented, deterministic policy, not a
  sampling heuristic). The pair count is map-side combinable.
- Triangle counting uses the node-iterator formulation over the canonical
  ``a < b`` edge direction (Suri & Vassilvitskii, "Counting Triangles and the
  Curse of the Last Reducer", WWW'11): every triangle a<b<c is found exactly
  once as wedge (a->b, a->c) closed by edge (b, c). Both joins are equi-joins
  on a node key — no broadcast of the full edge set, no squaring. The wedge
  count per node is bounded by the same degree cap that bounds the
  projection.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from knowledgegraphbuilder_spark.functions.fixpoint import bfs_levels, fixpoint
from knowledgegraphbuilder_spark.functions.rank import global_rank


def _undirected(edges: DataFrame, src_col: str, dst_col: str, *carry: Column) -> DataFrame:
    """Both orientations of every edge as string ``(u, v)`` pairs plus the
    ``carry`` columns, distinct. Self-loops stay (once); callers that must
    not see them filter ``u != v``."""
    u, v = F.col(src_col).cast("string"), F.col(dst_col).cast("string")
    return (
        edges.select(u.alias("u"), v.alias("v"), *carry)
        .unionAll(edges.select(v.alias("u"), u.alias("v"), *carry))
        .distinct()
    )


def _canonical_pairs(edges: DataFrame, src_col: str, dst_col: str) -> DataFrame:
    """Each undirected edge once as string ``(a, b)`` with ``a < b``:
    orientation, duplicates and self-loops dropped."""
    u, v = F.col(src_col).cast("string"), F.col(dst_col).cast("string")
    return (
        edges.select(F.least(u, v).alias("a"), F.greatest(u, v).alias("b"))
        .filter(F.col("a") < F.col("b"))
        .distinct()
    )


def _union(parts: list[DataFrame]) -> DataFrame:
    return reduce(DataFrame.unionByName, parts)


def _endpoints(e: DataFrame, a: str = "a", b: str = "b") -> DataFrame:
    """The distinct nodes an edge list touches, as ``node``."""
    return e.select(F.col(a).alias("node")).unionAll(e.select(F.col(b).alias("node"))).distinct()


def cooccurrence_edges(
    df: DataFrame,
    group_col: str,
    item_col: str,
    max_group_size: int = 50,
    min_weight: int = 1,
) -> DataFrame:
    """Project a bipartite (group, item) relation onto an undirected weighted
    item-item co-occurrence graph.

    Output: (src, dst, weight) with ``src < dst`` (string order), weight =
    number of distinct groups containing both. Groups with more than
    ``max_group_size`` distinct items are dropped entirely (quadratic-blowup
    guard; deterministic)."""
    gi = df.select(
        F.col(group_col).cast("string").alias("g"),
        F.col(item_col).cast("string").alias("item"),
    ).distinct()
    sized = gi.withColumn("sz", F.count("*").over(Window.partitionBy("g")))
    kept = sized.filter(F.col("sz") <= max_group_size).select("g", "item")
    pairs = (
        kept.alias("x")
        .join(kept.alias("y"), "g")
        .filter(F.col("x.item") < F.col("y.item"))
        .select(F.col("x.item").alias("src"), F.col("y.item").alias("dst"))
    )
    return (
        pairs.groupBy("src", "dst")
        .agg(F.count("*").cast("long").alias("weight"))
        .filter(F.col("weight") >= min_weight)
    )


def triangle_clustering(edges: DataFrame, src_col: str = "src", dst_col: str = "dst",
                        assume_canonical: bool = False) -> DataFrame:
    """Per-node triangle count and local clustering coefficient.

    Input: undirected edges (any orientation, duplicates and self-loops
    tolerated — canonicalized internally). Output: (node, degree, triangles,
    clustering) where clustering = 2*T / (deg*(deg-1)) rounded 4dp (0.0 when
    deg < 2).

    ``assume_canonical=True`` skips the least/greatest + distinct pass — one
    full shuffle of the edge list, which at 10^9+ edges is a real stage —
    for inputs already in canonical form (src < dst, no duplicates), e.g.
    the cooccurrence_edges projection. Results are identical either way.

    Each triangle is emitted exactly once: edges are oriented from the
    lower-(degree, id) endpoint to the higher (the degree-ordering trick of
    the same WWW'11 paper — "the curse of the last reducer" IS the hub node,
    and orienting by degree moves every wedge enumeration to the LOW-degree
    corner, bounding per-node wedge count by O(sqrt(m)) out-degrees instead
    of hub-degree-squared); a wedge (v->b, v->c) with ord(b) < ord(c) closes
    iff the oriented edge b->c exists. Per-node credit then goes to all
    three corners via an explode — equi-joins on node keys throughout,
    never an all-pairs product."""
    if assume_canonical:
        e = edges.select(
            F.col(src_col).cast("string").alias("a"),
            F.col(dst_col).cast("string").alias("b"),
        )
    else:
        e = _canonical_pairs(edges, src_col, dst_col)
    deg = (
        e.select(F.col("a").alias("node")).unionAll(e.select(F.col("b").alias("node")))
        .groupBy("node").agg(F.count("*").cast("long").alias("degree"))
    )
    # orient: u -> v with (deg(u), u) < (deg(v), v); carry v's rank for the
    # wedge ordering below
    ed = (
        e.join(deg.select(F.col("node").alias("a"), F.col("degree").alias("da")), "a")
        .join(deg.select(F.col("node").alias("b"), F.col("degree").alias("db")), "b")
        .select(
            F.when(
                F.struct("da", "a") < F.struct("db", "b"), F.col("a")
            ).otherwise(F.col("b")).alias("u"),
            F.when(
                F.struct("da", "a") < F.struct("db", "b"),
                F.struct(F.col("db").alias("d"), F.col("b").alias("n")),
            ).otherwise(
                F.struct(F.col("da").alias("d"), F.col("a").alias("n"))
            ).alias("vr"),
        )
        .select("u", F.col("vr.n").alias("v"), F.col("vr").alias("vrank"))
    )
    wedges = (
        ed.alias("x")
        .join(ed.alias("y"), F.col("x.u") == F.col("y.u"))
        .filter(F.col("x.vrank") < F.col("y.vrank"))
        .select(F.col("x.u").alias("a"), F.col("x.v").alias("b"), F.col("y.v").alias("c"))
    )
    tris = wedges.join(
        ed.select(F.col("u").alias("b"), F.col("v").alias("c")), ["b", "c"]
    )
    per_node = (
        tris.select(F.explode(F.array("a", "b", "c")).alias("node"))
        .groupBy("node").agg(F.count("*").cast("long").alias("triangles"))
    )
    return (
        deg.join(per_node, "node", "left")
        .select(
            "node",
            "degree",
            F.coalesce("triangles", F.lit(0)).cast("long").alias("triangles"),
            F.when(
                F.col("degree") >= 2,
                F.round(
                    2.0 * F.coalesce("triangles", F.lit(0))
                    / (F.col("degree") * (F.col("degree") - 1)),
                    4,
                ),
            ).otherwise(F.lit(0.0)).alias("clustering"),
        )
    )


def _degrees(e: DataFrame) -> DataFrame:
    """(node, deg) over canonical pairs (a, b)."""
    return (
        e.select(F.col("a").alias("node"))
        .unionAll(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("long").alias("deg"))
    )


def _peel(k: int):
    """One k-core peel round over canonical pairs (a, b): drop every edge
    with an endpoint of degree < k."""

    def step(e: DataFrame) -> DataFrame:
        keep = _degrees(e).filter(F.col("deg") >= k).select("node")
        return (
            e.join(keep.withColumnRenamed("node", "a"), "a", "left_semi")
            .join(keep.withColumnRenamed("node", "b"), "b", "left_semi")
            .select("a", "b")
        )

    return step


def k_core(
    edges: DataFrame,
    k: int,
    src_col: str = "src",
    dst_col: str = "dst",
    max_rounds: int = 20,
) -> DataFrame:
    """k-core decomposition by iterative peeling: repeatedly drop nodes of
    degree < k (and their edges) until the subgraph is stable. The surviving
    subgraph is the k-core — the standard "dense backbone" signal for KG
    quality triage (a node outside the 2-core hangs off the graph by a
    thread; a high-k core is a well-evidenced cluster).

    Each round is one map-side-combinable degree count plus two semi-joins
    on node keys — never a cross product; the edge set only shrinks.
    Peeling converges in at most graph-diameter-ish rounds in practice
    (each round removes every currently-underweight node at once). The
    loop is :func:`~knowledgegraphbuilder_spark.functions.fixpoint.fixpoint`:
    it raises RuntimeError if round ``max_rounds`` still peeled an edge,
    so the result is always the converged core.

    Output: (node, core_degree) for k-core members — core_degree is the
    degree WITHIN the core subgraph (>= k by construction)."""
    core = fixpoint(_peel(k), _canonical_pairs(edges, src_col, dst_col),
                    max_rounds, f"k_core(k={k})")
    return _degrees(core).withColumnRenamed("deg", "core_degree")


def bfs_hops(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int = 3,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Multi-source BFS: minimum hop distance from any seed node, out to
    ``max_hops``. Input edges are undirected (symmetrized internally);
    ``seeds`` is a one-column DataFrame of node ids.

    Each round is frontier ⋈ adjacency (equi-join on the node key) followed
    by an anti-join against the settled set — never a cross product, and the
    frontier only touches hop-h nodes, so per-round cost is proportional to
    the frontier's edge boundary (the textbook Pregel/BSP BFS shape; on a
    real cluster each round is one shuffle on the node key). The loop is
    :func:`~knowledgegraphbuilder_spark.functions.fixpoint.bfs_levels`.

    Output: (node, hop) — hop is the EXACT shortest distance for every node
    within ``max_hops`` of a seed (frontier-at-round-h nodes are found at
    their true minimum round, so the cap truncates coverage, not values).
    """
    sym = _undirected(edges, src_col, dst_col).localCheckpoint(eager=True)
    start = seeds.select(
        F.col(seeds.columns[0]).cast("string").alias("node"), F.lit(0).alias("hop")
    ).distinct()

    def advance(level: DataFrame, h: int) -> DataFrame:
        return (
            sym.join(level.select(F.col("node").alias("u")), "u")
            .select(F.col("v").alias("node"))
            .distinct()
            .withColumn("hop", F.lit(h))
        )

    dist = _union(bfs_levels(start, advance, ["node"], max_hops))
    return dist.select("node", F.col("hop").cast("int").alias("hop"))


def label_propagation(
    edges: DataFrame,
    rounds: int = 3,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Synchronous label-propagation community detection (Raghavan et al.,
    2007), made fully deterministic: every node starts with its own id as
    label; each round every node adopts the most frequent label among its
    neighbors, ties broken by the LEXICOGRAPHICALLY LARGEST label; all
    updates apply simultaneously. A FIXED number of rounds (no convergence
    test) keeps the operator exactly replayable by an unrolled SQL oracle.

    Each round is one groupBy((node, label)) count + one per-node
    max(struct(cnt, lbl)) aggregate — both map-side combinable and both
    shuffling on the node key only (the largest-label tie-break exists
    precisely so the top-1 is an aggregate, not a sorted window); the
    hot-node cost is the node's degree, never degree². Output:
    (node, community).
    """
    sym = _undirected(edges, src_col, dst_col).localCheckpoint(eager=True)
    labels = sym.select(F.col("u").alias("node")).distinct().withColumn(
        "lbl", F.col("node")
    ).localCheckpoint(eager=True)
    for _ in range(rounds):
        votes = (
            sym.join(labels.withColumnRenamed("node", "v"), "v")
            .groupBy(F.col("u").alias("node"), "lbl")
            .agg(F.count("*").alias("cnt"))
        )
        labels = (
            votes.groupBy("node")
            .agg(F.max(F.struct("cnt", "lbl")).alias("top"))
            .select("node", F.col("top.lbl").alias("lbl"))
            .localCheckpoint(eager=True)
        )
    return labels.select("node", F.col("lbl").alias("community"))


def sssp_hops(
    edges: DataFrame,
    seeds: DataFrame,
    rounds: int = 4,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str = "weight",
) -> DataFrame:
    """Multi-source weighted shortest paths, Bellman-Ford style: after
    ``rounds`` relaxations every node holds the exact minimum total weight
    over paths of at most ``rounds`` edges from any seed (integer weights ->
    exact arithmetic; a FIXED round count keeps the operator replayable by
    an unrolled SQL oracle, the same contract as label_propagation). Edges
    are undirected.

    Each round is one equi-join of the current distance table with the
    adjacency on the node key plus a map-side-combinable min — the classic
    Pregel relaxation as DataFrame ops; no cross products, per-round cost
    proportional to the relaxed frontier's edge boundary.

    Output: (node, dist) for every node reachable within ``rounds`` edges.
    """
    sym = (
        _undirected(edges, src_col, dst_col, F.col(weight_col).cast("long").alias("w"))
        .groupBy("u", "v")
        .agg(F.min("w").alias("w"))
        .localCheckpoint(eager=True)
    )
    dist = seeds.select(
        F.col(seeds.columns[0]).cast("string").alias("node"),
        F.lit(0).cast("long").alias("dist"),
    ).distinct().localCheckpoint(eager=True)
    for _ in range(rounds):
        relaxed = (
            sym.join(dist.withColumnRenamed("node", "u"), "u")
            .select(F.col("v").alias("node"), (F.col("dist") + F.col("w")).alias("dist"))
        )
        dist = (
            dist.unionAll(relaxed)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
            .localCheckpoint(eager=True)
        )
    return dist


def hits_scores(
    edges: DataFrame,
    rounds: int = 2,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """HITS hubs & authorities (Kleinberg 1999) over a DIRECTED edge list,
    in EXACT INTEGER arithmetic: h_0 = 1 for every node, then per round
    a_r(v) = sum of h_{r-1} over in-neighbors, h_r(u) = sum of a_r over
    out-neighbors. The per-round L2 normalization of the textbook algorithm
    is a positive scalar — it never changes the RANKING, so dropping it
    keeps the scores integer, partition-order-invariant, and exactly
    replayable by an unrolled SQL oracle (the same fixed-round contract as
    label_propagation). Magnitudes grow by at most (max_deg * n) per round;
    with the default 2 rounds and bigint scores that bounds graphs well past
    1e6 edges — callers at larger scale shift to float and accept
    rank-stable-but-unreplayable sums.

    Each round is two equi-joins on a node key plus map-side-combinable
    sums — no cross products, hub-node cost linear in degree. Output:
    (node, hub, auth) for every node incident to an edge; a node with no
    out-edges has hub 0, no in-edges auth 0.
    """
    e = (
        edges.select(
            F.col(src_col).cast("string").alias("u"),
            F.col(dst_col).cast("string").alias("v"),
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    nodes = (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .distinct()
    )
    hub = nodes.withColumn("h", F.lit(1).cast("long"))
    auth = None
    for _ in range(rounds):
        auth = (
            e.join(hub.withColumnRenamed("node", "u"), "u")
            .groupBy(F.col("v").alias("node"))
            .agg(F.sum("h").alias("a"))
        )
        hub = (
            e.join(auth.withColumnRenamed("node", "v"), "v")
            .groupBy(F.col("u").alias("node"))
            .agg(F.sum("a").alias("h"))
            .localCheckpoint(eager=True)
        )
    return (
        nodes.join(hub, "node", "left")
        .join(auth, "node", "left")
        .select(
            "node",
            F.coalesce("h", F.lit(0)).cast("long").alias("hub"),
            F.coalesce("a", F.lit(0)).cast("long").alias("auth"),
        )
    )


def deterministic_walks(
    edges: DataFrame,
    seeds: DataFrame,
    length: int = 4,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Walk-corpus generation (the input of DeepWalk/node2vec-style graph
    embedding training), DERANDOMIZED: from every seed node, a walk of
    ``length`` steps where step t moves from node c to the neighbor v
    minimizing sha256(seed|t|c|v) — a hash-derived choice that is uniform
    in distribution over neighbors, differs per (seed, step), and is exactly
    replayable by an unrolled SQL oracle (the same sha256-derived-randomness
    contract as the LSH hyperplanes in ann.py).

    Scale shape: the frontier holds ONE row per active walk, so each step is
    one equi-join of the frontier with the adjacency on the current-node key
    plus a per-walk min(struct(hash, neighbor)) aggregate — map-side
    combinable, hub cost linear in degree, millions of walks advance in the
    same join. Walks at a dead-end node simply stop (no step-t row). Output:
    (seed, step, node) — step 0 is the seed itself.
    """
    sym = _undirected(edges, src_col, dst_col).localCheckpoint(eager=True)
    cur = seeds.select(
        F.col(seeds.columns[0]).cast("string").alias("seed")
    ).distinct().withColumn("node", F.col("seed")).withColumn("step", F.lit(0))
    out = cur
    for t in range(1, length + 1):
        cur = (
            sym.join(cur.select("seed", F.col("node").alias("u")), "u")
            .withColumn(
                "hkey",
                F.sha2(F.concat_ws("|", "seed", F.lit(str(t)), "u", "v"), 256),
            )
            .groupBy("seed")
            .agg(F.min(F.struct("hkey", "v")).alias("m"))
            .select("seed", F.col("m.v").alias("node"), F.lit(t).alias("step"))
            .localCheckpoint(eager=True)
        )
        out = out.unionAll(cur)
    return out.select("seed", F.col("step").cast("int").alias("step"), "node")


def link_prediction(
    edges: DataFrame,
    max_hub_degree: int = 10_000,
    top_n: int = 100,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Neighborhood link prediction over an undirected graph (edges with
    ``src < dst``): for every NON-adjacent pair sharing >= 1 common
    neighbor, score the missing edge by

    - ``cn``        — common-neighbor count,
    - ``ra_units``  — Resource Allocation index (Zhou et al. 2009,
      sum_z 1/deg(z)) in exact integer micro-units:
      ``sum(10^12 div deg(z))`` as BIGINT. Integer instead of float on
      purpose: a float sum over shuffled wedge rows is partition-order
      dependent in its low bits, while the integer sum is exact and
      order-independent — the same trick as the HLL/CMS register sums in
      ``sketches.py`` — and positive-integer ``div`` truncates==floors
      identically in Spark and DuckDB. (Adamic-Adar replaces 1/deg with
      1/ln(deg); RA keeps the same ranking family with no transcendental,
      so the oracle replays it bit-exactly.)
    - ``jaccard``   — cn / (deg(u) + deg(v) - cn), one IEEE division then
      round(6), deterministic on both engines.

    Scale shape: wedge enumeration is a self-join of the adjacency list on
    the center node — one shuffle on z, output sum_z deg(z)^2 / 2 rows.
    Hubs dominate that quadratic: ``max_hub_degree`` drops wedge CENTERS
    above the cap (deterministic, the standard production guard — a
    10^6-degree hub contributes 10^12 wedges but ~0 RA mass since each is
    worth 1/10^6). The candidate set then anti-joins the existing edges and
    keeps the global ``top_n`` by (ra_units desc, src, dst) — a
    TakeOrderedAndProject, no full sort.
    """
    e = edges.select(
        F.col(src_col).cast("string").alias("s"),
        F.col(dst_col).cast("string").alias("d"),
    )
    adj = e.unionAll(e.select(F.col("d").alias("s"), F.col("s").alias("d"))) \
        .select(F.col("s").alias("z"), F.col("d").alias("n"))
    deg = adj.groupBy("z").agg(F.count("*").cast("long").alias("deg"))
    center = (
        adj.join(deg, "z")
        .filter(F.col("deg") <= F.lit(int(max_hub_degree)))
        .withColumn("ra1", F.expr("CAST(1000000000000 AS BIGINT) div deg"))
        .select("z", "n", "ra1")
    )
    wedges = (
        center.alias("x")
        .join(center.alias("y"), "z")
        .filter(F.col("x.n") < F.col("y.n"))
        .select(
            F.col("x.n").alias("src"), F.col("y.n").alias("dst"),
            F.col("x.ra1").alias("ra1"),
        )
    )
    cand = (
        wedges.groupBy("src", "dst")
        .agg(
            F.count("*").cast("long").alias("cn"),
            F.sum("ra1").cast("long").alias("ra_units"),
        )
        .join(e, (F.col("src") == F.col("s")) & (F.col("dst") == F.col("d")),
              "left_anti")
    )
    du = deg.select(F.col("z").alias("src"), F.col("deg").alias("deg_src"))
    dv = deg.select(F.col("z").alias("dst"), F.col("deg").alias("deg_dst"))
    return (
        cand.join(du, "src").join(dv, "dst")
        .select(
            "src", "dst", "cn", "ra_units",
            F.round(
                F.col("cn")
                / (F.col("deg_src") + F.col("deg_dst") - F.col("cn")),
                6,
            ).alias("jaccard"),
        )
        .orderBy(F.desc("ra_units"), "src", "dst")
        .limit(int(top_n))
    )


def skipgram_pairs(
    walks: DataFrame,
    window: int = 2,
    walk_col: str = "seed",
    step_col: str = "step",
    node_col: str = "node",
) -> DataFrame:
    """Skip-gram training pairs from a walk corpus (the DeepWalk/node2vec ->
    word2vec data step): for every walk position, emit (center, context) for
    each context within ``window`` steps, aggregated to
    (center, context, cnt) — the compact form a 100 TB embedding-training
    pipeline feeds to its trainer (raw pair streams re-expand trivially).

    Shape: ONE self-equi-join on the walk id with a banded step predicate —
    each walk row meets only its own walk's rows, so output is
    |walks| * 2*window rows, linear in corpus size; the groupBy is
    map-side-combinable on (center, context). No window functions, no
    per-walk collect."""
    w = walks.select(
        F.col(walk_col).alias("wid"),
        F.col(step_col).cast("int").alias("i"),
        F.col(node_col).alias("n"),
    )
    pairs = (
        w.alias("c")
        .join(w.alias("x"), "wid")
        .filter(
            (F.col("x.i") != F.col("c.i"))
            & (F.abs(F.col("x.i") - F.col("c.i")) <= F.lit(int(window)))
        )
        .select(F.col("c.n").alias("center"), F.col("x.n").alias("context"))
    )
    return pairs.groupBy("center", "context").agg(
        F.count("*").cast("long").alias("cnt")
    )


def negative_sample_edges(
    edges: DataFrame,
    k: int = 2,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Deterministic filtered negative sampling for embedding training
    (TransE-style tail corruption): for every edge (src, dst) and sample
    index i in 0..k-1, replace dst with the vocabulary entry at rank
    sha256(src|dst|i) % |V|, then anti-join the real edge set (the
    "filtered" setting — a corrupted pair that happens to be a true edge is
    dropped, not relabeled). Output: (src, dst_neg, sample_idx).

    The node dictionary is each node's rank in the sorted distinct-node
    table (``functions/rank.py:global_rank``); the vocab count rides along
    as a column, so no driver-side collect gates the plan. The hash pick
    makes the sample reproducible run-to-run AND replayable in the SQL
    oracle, unlike rand()-based sampling."""
    e = edges.select(
        F.col(src_col).cast("string").alias("src"),
        F.col(dst_col).cast("string").alias("dst"),
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionAll(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    vocab = global_rank(nodes, "node")
    h = ("cast(conv(substring(sha2(concat(src, '|', dst, '|', "
         "cast(i as string)), 256), 1, 15), 16, 10) as bigint)")
    cand = (
        e.select(
            "src", "dst",
            F.explode(F.expr(f"sequence(0, {int(k) - 1})")).alias("i"),
        )
        .crossJoin(F.broadcast(vocab.select(F.max("n").alias("n"))))
        .withColumn("rank", F.expr(f"{h} % n"))
        .join(F.broadcast(vocab.select("rank", F.col("node").alias("dst_neg"))),
              "rank")
    )
    true_pairs = (
        e.select("src", F.col("dst").alias("dst_neg"))
        .unionAll(e.select(F.col("dst").alias("src"),
                           F.col("src").alias("dst_neg")))
        .distinct()
    )
    return (
        cand.filter(F.col("dst_neg") != F.col("src"))
        .join(true_pairs, ["src", "dst_neg"], "left_anti")
        .select("src", "dst_neg", F.col("i").cast("int").alias("sample_idx"))
    )


def harmonic_centrality(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int = 3,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Bounded harmonic centrality (Boldi & Vigna 2014, truncated): for each
    seed, sum 1/dist(seed, v) over every v within ``max_hops`` — reported in
    exact integer micro-units ``sum(10^6 div hop)`` (the same
    order-independent-integer-sum contract as link_prediction's RA score),
    plus the raided node count. The hop cap is the standard web-scale
    truncation: exact closeness needs full-graph BFS per node; the R-hop
    ball is what production centrality jobs actually compute.

    Shape: SEED-KEYED BFS — one (seed, node) frontier advances all seeds'
    searches in the same per-round equi-join + anti-join (Pregel/BSP shape,
    per-round cost = the frontiers' edge boundary), run by
    :func:`~knowledgegraphbuilder_spark.functions.fixpoint.bfs_levels` with
    keys (seed, node). Output: (seed, n_reached, harmonic_units).
    """
    sym = _undirected(edges, src_col, dst_col).localCheckpoint(eager=True)
    start = (
        seeds.select(F.col(seeds.columns[0]).cast("string").alias("seed"))
        .distinct()
        .select("seed", F.col("seed").alias("node"), F.lit(0).alias("hop"))
    )

    def advance(level: DataFrame, h: int) -> DataFrame:
        return (
            sym.join(level.select("seed", F.col("node").alias("u")), "u")
            .select("seed", F.col("v").alias("node"))
            .distinct()
            .withColumn("hop", F.lit(h))
        )

    dist = _union(bfs_levels(start, advance, ["seed", "node"], max_hops))
    return (
        dist.filter(F.col("hop") > 0)
        .groupBy("seed")
        .agg(
            F.count("*").cast("long").alias("n_reached"),
            F.sum(F.expr("CAST(1000000 AS BIGINT) div hop"))
            .cast("long").alias("harmonic_units"),
        )
    )


def modularity(
    edges: DataFrame,
    communities: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    node_col: str = "node",
    comm_col: str = "community",
) -> DataFrame:
    """Newman modularity per community over the UNWEIGHTED undirected graph
    (the same view label_propagation votes on): for community c,
    q_c = in_c/m - (deg_c/(2m))^2 with in_c = #edges inside c, deg_c = sum
    of member degrees, m = #undirected edges; global Q = sum(q_c). The
    quality gauge for any partition (LPA, CC, dedup clusters) — "did the
    rounds produce structure or noise" becomes a measured number.

    Determinism at scale: every aggregate (m, in_c, deg_c, node counts) is
    an INTEGER sum — no float folds over shuffled rows — and q_c is one
    scalar double expression over those integers, so the result is
    partition- and order-invariant. Cost: edge normalization + two
    label joins shuffling on node/community keys, all map-side combinable;
    output is #communities rows.

    Output: (community, n_nodes, in_edges, deg_sum, q) with q rounded 6dp.
    """
    e = _canonical_pairs(edges, src_col, dst_col)
    lab = communities.select(
        F.col(node_col).cast("string").alias("node"),
        F.col(comm_col).cast("string").alias("community"),
    )
    # greatest(m, 1): an empty edge list yields in_c = deg_c = 0 for every
    # community, so q_c = 0/1 - 0 = 0.0 instead of an ANSI DIVIDE_BY_ZERO
    m = e.agg(F.greatest(F.count("*"), F.lit(1)).alias("m"))
    deg = (
        e.select(F.col("a").alias("node"))
        .unionAll(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
    base = (
        lab.join(deg, "node", "left")
        .groupBy("community")
        .agg(
            F.count("*").alias("n_nodes"),
            F.sum(F.coalesce("deg", F.lit(0))).alias("deg_sum"),
        )
    )
    la = lab.select(F.col("node").alias("a"), F.col("community").alias("ca"))
    lb = lab.select(F.col("node").alias("b"), F.col("community").alias("cb"))
    inside = (
        e.join(la, "a").join(lb, "b")
        .filter(F.col("ca") == F.col("cb"))
        .groupBy(F.col("ca").alias("community"))
        .agg(F.count("*").alias("in_edges"))
    )
    return (
        base.join(inside, "community", "left")
        .crossJoin(F.broadcast(m))
        .select(
            "community",
            "n_nodes",
            F.coalesce("in_edges", F.lit(0).cast("long")).alias("in_edges"),
            "deg_sum",
            (
                F.round(
                    F.coalesce("in_edges", F.lit(0).cast("long")) / F.col("m").cast("double")
                    - (F.col("deg_sum") / (F.lit(2.0) * F.col("m")))
                    * (F.col("deg_sum") / (F.lit(2.0) * F.col("m"))),
                    6,
                )
                + F.lit(0.0)  # +0.0 canonicalizes IEEE negative zero
            ).alias("q"),
        )
    )


def biased_walks(
    edges: DataFrame,
    seeds: DataFrame,
    length: int = 4,
    ret_w: int = 1,
    bfs_w: int = 4,
    dfs_w: int = 2,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """node2vec-style SECOND-ORDER biased walks (Grover & Leskovec 2016),
    derandomized. At step t the walk sits at ``cur`` having come from
    ``prev``; each neighbor v of cur is weighted by its node2vec class —
    ``ret_w`` if v == prev (the 1/p return weight), ``bfs_w`` if v is also a
    neighbor of prev (distance-1, the BFS weight), ``dfs_w`` otherwise
    (distance-2, the 1/q weight). Weights are INTEGER ticket counts: a
    candidate with weight w gets tickets 1..w, each hashed with
    sha256(seed|t|cur|v|i), and the walk moves to the candidate owning the
    globally smallest ticket — exact weighted sampling in distribution
    (every ticket is equally likely to be the minimum), yet deterministic
    and exactly replayable by an unrolled SQL oracle. Step 1 has no prev and
    falls back to the uniform first-order choice (one ticket per neighbor,
    same contract as deterministic_walks).

    Scale shape: per step, one equi-join of the frontier on the current
    node, one LEFT join against the adjacency on (prev, v) for the
    distance-1 flag, a ticket explode bounded by max(ret_w, bfs_w, dfs_w),
    and a per-walk min(struct) aggregate — map-side combinable, hub cost
    linear in degree x max-weight, no window function. Dead-end walks stop.
    Output: (seed, step, node) — step 0 is the seed itself.
    """
    if min(ret_w, bfs_w, dfs_w) < 1:
        # sequence(1, 0) DESCENDS under ANSI mode, so a 0-weight class would
        # silently emit phantom tickets; excluding a class needs a filter,
        # not a zero weight
        raise ValueError("ticket weights must be integers >= 1")
    sym = _undirected(edges, src_col, dst_col).localCheckpoint(eager=True)
    out = seeds.select(
        F.col(seeds.columns[0]).cast("string").alias("seed")
    ).distinct().withColumn("node", F.col("seed")).withColumn("step", F.lit(0))
    # step 1: uniform first-order choice (single ticket per neighbor)
    cur = (
        sym.join(out.select("seed", F.col("node").alias("u")), "u")
        .withColumn(
            "hkey", F.sha2(F.concat_ws("|", "seed", F.lit("1"), "u", "v", F.lit("1")), 256)
        )
        .groupBy("seed")
        .agg(F.min(F.struct("hkey", "v")).alias("m"), F.first("u").alias("prev"))
        .select("seed", "prev", F.col("m.v").alias("node"))
        .localCheckpoint(eager=True)
    )
    out = out.unionAll(cur.select("seed", "node", F.lit(1).alias("step")))
    pe = sym.select(
        F.col("u").alias("pprev"), F.col("v").alias("pcand"), F.lit(1).alias("d1")
    )
    for t in range(2, length + 1):
        cands = (
            sym.join(cur.select("seed", "prev", F.col("node").alias("u")), "u")
            .join(
                pe,
                (F.col("prev") == F.col("pprev")) & (F.col("v") == F.col("pcand")),
                "left",
            )
            .select(
                "seed", F.col("u").alias("cur"), "v",
                F.when(F.col("v") == F.col("prev"), F.lit(ret_w))
                .when(F.col("d1").isNotNull(), F.lit(bfs_w))
                .otherwise(F.lit(dfs_w))
                .alias("w"),
            )
        )
        cur = (
            cands.select(
                "seed", "cur", "v",
                F.explode(F.expr("sequence(1, w)")).alias("i"),
            )
            .withColumn(
                "hkey",
                F.sha2(
                    F.concat_ws(
                        "|", "seed", F.lit(str(t)), "cur", "v",
                        F.col("i").cast("string"),
                    ),
                    256,
                ),
            )
            .groupBy("seed")
            .agg(F.min(F.struct("hkey", "v")).alias("m"), F.first("cur").alias("prev"))
            .select("seed", "prev", F.col("m.v").alias("node"))
            .localCheckpoint(eager=True)
        )
        out = out.unionAll(cur.select("seed", "node", F.lit(t).alias("step")))
    return out.select("seed", F.col("step").cast("int").alias("step"), "node")


def anf_hyperball(
    edges: DataFrame,
    max_hops: int = 3,
    p: int = 4,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Approximate Neighborhood Function via per-node HyperLogLog balls
    (ANF, Palmer/Gibbons/Faloutsos KDD'02; register-max formulation of
    HyperBall, Boldi & Vigna). Every node keeps an m=2^p-register HLL of
    its h-hop ball; hop h folds each node's registers with its neighbors'
    by ELEMENTWISE MAX — the same mergeable-register trick as sk_hll, so a
    hop is one equi-join + a map-side-combinable (node, idx) max groupBy,
    never a per-node set union. ANF(h) = sum over nodes of the estimated
    ball size — the hop-plot / effective-diameter curve for a graph too
    large to BFS from every node.

    Determinism contract (the sk_hll discipline, taken further): registers
    are sha256-derived; per-node estimates are computed in INTEGER
    micro-units — the raw branch is one BIGINT division
    (C_micro div s_int, both engines truncate identically on positives) and
    the linear-counting branch is a CASE over m-1 PYTHON-precomputed
    integer literals (no runtime ln(), so no cross-engine ULP risk at all);
    the per-hop total is a BIGINT sum, order- and partition-invariant.

    Output: (hop, n_nodes, anf_micro, anf) — anf = anf_micro/1e6 rounded
    4dp; hop 0 is the singleton-ball baseline (~n_nodes).
    """
    import math

    m = 1 << p
    w_bits = 28                      # rank window; s_int <= m * 2^29
    rho_max = w_bits + 1
    alpha = {16: 0.673, 32: 0.697, 64: 0.709}.get(m, 0.7213 / (1.0 + 1.079 / m))
    c_micro = round(alpha * m * m * (1 << rho_max) * 1e6)
    lc_micro = {v: round(m * math.log(m / v) * 1e6) for v in range(1, m)}
    sym = _undirected(edges, src_col, dst_col).localCheckpoint(eager=True)
    h60 = "cast(conv(substring(sha2(node, 256), 1, 15), 16, 10) as bigint)"
    wmask = (1 << w_bits) - 1
    regs = (
        sym.select(F.col("u").alias("node")).distinct()
        .withColumn("hv", F.expr(h60))
        .select(
            "node",
            F.expr(f"hv & {m - 1}").alias("idx"),
            F.expr(
                f"case when ((hv >> {p}) & {wmask}) = 0 then {rho_max} "
                f"else {rho_max} - length(bin((hv >> {p}) & {wmask})) end"
            ).alias("maxr"),
        )
        .localCheckpoint(eager=True)
    )
    lc_case = "case " + " ".join(
        f"when v_empty = {v} then {lc_micro[v]}L" for v in range(1, m)
    ) + " end"

    def estimate(r: DataFrame, hop: int) -> DataFrame:
        per_node = r.groupBy("node").agg(
            F.expr(f"sum(shiftleft(cast(1 as bigint), {rho_max} - maxr))").alias("s_present"),
            F.count("*").alias("n_present"),
        ).select(
            (F.col("s_present")
             + (F.lit(m) - F.col("n_present")) * F.lit(1 << rho_max)).alias("s_int"),
            (F.lit(m) - F.col("n_present")).alias("v_empty"),
        ).select(
            F.expr(
                # small-range branch iff e_raw <= 2.5m, i.e.
                # C_micro <= 2.5*m*1e6 * s_int — all-integer comparison
                f"case when {c_micro}L <= {int(2.5 * m * 1e6)}L * s_int "
                f"and v_empty > 0 then {lc_case} "
                f"else {c_micro}L div s_int end"
            ).alias("est_micro")
        )
        return per_node.agg(
            F.lit(hop).cast("int").alias("hop"),
            F.count("*").cast("long").alias("n_nodes"),
            # coalesce: sum over an empty graph is null, not 0
            F.coalesce(F.sum("est_micro"), F.lit(0)).cast("long").alias("anf_micro"),
        ).select(
            "hop", "n_nodes", "anf_micro",
            F.round(F.col("anf_micro") / F.lit(1_000_000.0), 4).alias("anf"),
        )

    out = estimate(regs, 0)
    for h in range(1, max_hops + 1):
        nbr = (
            sym.join(regs.withColumnRenamed("node", "v"), "v")
            .select(F.col("u").alias("node"), "idx", "maxr")
        )
        regs = (
            nbr.unionAll(regs)
            .groupBy("node", "idx")
            .agg(F.max("maxr").alias("maxr"))
            .localCheckpoint(eager=True)
        )
        out = out.unionAll(estimate(regs, h))
    return out


def adamic_adar(
    edges: DataFrame,
    max_hub_degree: int = 10_000,
    top_n: int = 100,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Adamic-Adar link prediction (Adamic & Adar 2003): score a missing
    edge (u, v) by sum_z 1/ln(deg(z)) over common neighbors z — the
    classic refinement of common-neighbor counting that down-weights
    promiscuous hubs logarithmically instead of linearly (Resource
    Allocation, link_prediction above, is the 1/deg variant).

    Determinism across engines: a float sum of 1/ln(deg) over shuffled
    wedge rows is partition-order dependent in its low bits, and
    floor(1e12/ln(deg)) directly is ULP-fragile (the quotient is ~1e12, so
    one libm ulp in ln flips the floor with probability ~1e-3 per distinct
    degree). Instead ln(deg) itself is quantized FIRST —
    lnq = round(ln(deg) * 1e6), where a 1-ulp libm difference flips the
    round only within ~2e-9 of a half-integer — and the per-wedge unit is
    the exact integer 1e12 div lnq. The BIGINT sum is then
    order-independent and the DuckDB replay bit-exact. deg=1 centers
    cannot form a wedge; the CASE guard only keeps the expression total.

    Same scale shape as link_prediction: wedge enumeration self-joins the
    adjacency on the center, hubs above ``max_hub_degree`` are dropped as
    centers (they contribute ~0 AA mass anyway), candidates anti-join the
    existing edges, and the global top_n is a TakeOrderedAndProject.
    Output: (src, dst, cn, aa_units) with aa_units = sum(1e12 div lnq).
    """
    e = edges.select(
        F.col(src_col).cast("string").alias("s"),
        F.col(dst_col).cast("string").alias("d"),
    )
    adj = e.unionAll(e.select(F.col("d").alias("s"), F.col("s").alias("d"))) \
        .select(F.col("s").alias("z"), F.col("d").alias("n"))
    deg = adj.groupBy("z").agg(F.count("*").cast("long").alias("deg"))
    center = (
        adj.join(deg, "z")
        .filter(F.col("deg") <= F.lit(int(max_hub_degree)))
        .withColumn(
            "aa1",
            F.expr(
                "CASE WHEN deg >= 2 THEN CAST(1000000000000 AS BIGINT) div "
                "cast(round(ln(deg) * 1000000) as bigint) ELSE CAST(0 AS BIGINT) END"
            ),
        )
        .select("z", "n", "aa1")
    )
    wedges = (
        center.alias("x")
        .join(center.alias("y"), "z")
        .filter(F.col("x.n") < F.col("y.n"))
        .select(
            F.col("x.n").alias("src"), F.col("y.n").alias("dst"),
            F.col("x.aa1").alias("aa1"),
        )
    )
    return (
        wedges.groupBy("src", "dst")
        .agg(
            F.count("*").cast("long").alias("cn"),
            F.sum("aa1").cast("long").alias("aa_units"),
        )
        .join(e, (F.col("src") == F.col("s")) & (F.col("dst") == F.col("d")),
              "left_anti")
        .orderBy(F.desc("aa_units"), "src", "dst")
        .limit(int(top_n))
    )


def edge_support(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Per-edge triangle support — |common neighbors of the endpoints| —
    the quantity k-truss decomposition peels on (an edge is in the k-truss
    iff support >= k-2 after iterated deletion; one peel round is a filter
    over this output followed by a recompute).

    Plan: a triangle is an edge (a,b) plus a wedge a-z-b; enumerating
    wedges from the adjacency self-join on the center z and equi-joining
    the (a,b) closure edge keeps everything an equi-join — no pairwise
    neighbor-set intersection, no array comparisons. Support counts then
    aggregate per closing edge. Edges with no triangle get support 0 via
    the left join back onto the edge list. Hub cost is wedge cost — at
    100 TB apply the same degree-ordering/cap discipline as
    triangle_counts before this (the input here is the already-capped
    co-purchase projection).

    Output: (src, dst, support) for every input edge, src < dst.
    """
    e = edges.select(
        F.col(src_col).cast("string").alias("a"),
        F.col(dst_col).cast("string").alias("b"),
    ).filter(F.col("a") < F.col("b")).distinct()
    adj = e.unionAll(e.select(F.col("b").alias("a"), F.col("a").alias("b"))) \
        .select(F.col("a").alias("z"), F.col("b").alias("n"))
    wedges = (
        adj.alias("x")
        .join(adj.alias("y"), "z")
        .filter(F.col("x.n") < F.col("y.n"))
        .select(F.col("x.n").alias("a"), F.col("y.n").alias("b"))
    )
    sup = (
        wedges.join(e, ["a", "b"])
        .groupBy("a", "b")
        .agg(F.count("*").cast("long").alias("s"))
    )
    return (
        e.join(sup, ["a", "b"], "left")
        .select(
            F.col("a").alias("src"), F.col("b").alias("dst"),
            F.coalesce(F.col("s"), F.lit(0)).cast("long").alias("support"),
        )
    )


def assortativity(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Degree assortativity coefficient (Newman 2002): the Pearson
    correlation of the degrees at the two ends of every edge, computed
    over BOTH orientations of each undirected edge (the standard
    symmetric formulation, so Sx == Sy and Sxx == Syy by construction).

    The sufficient statistics are EXACT decimal integers, the mlstats.py
    discipline: degrees are BIGINT, the one aggregate carries n, S, Sxx,
    Sxy in decimal(38)-safe precisions, and the only float is the final
    divide — both engines divide identical integers, so the oracle replay
    is deterministic. Constant-degree graphs have zero variance; the
    nullif denominator yields NULL on Spark exactly where DuckDB's
    divide-by-zero does.

    Plan: canonicalize (one shuffle), degree aggregate (one shuffle),
    two equi-joins of the edge list onto the (node, degree) table —
    at 10^9+ edges the degree table is the small side and broadcasts —
    then ONE map-side-combinable aggregate to a single row. No windows,
    no self-joins.

    Output: a single row (n_ends, assortativity)."""
    e = _canonical_pairs(edges, src_col, dst_col)
    deg = (
        e.select(F.col("a").alias("node"))
        .unionAll(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("long").alias("degree"))
    )
    ends = (
        e.join(deg.select(F.col("node").alias("a"),
                          F.col("degree").alias("da")), "a")
        .join(deg.select(F.col("node").alias("b"),
                         F.col("degree").alias("db")), "b")
    )
    # both orientations: (da, db) and (db, da)
    pairs = ends.select(
        F.col("da").alias("x"), F.col("db").alias("y")
    ).unionAll(ends.select(F.col("db").alias("x"), F.col("da").alias("y")))
    # decimal-domain sums (mlstats._d18 discipline): sum(x * x) over BIGINT
    # degrees multiplies AND accumulates in LONG — with hub degrees ~1e6 and
    # 1e9+ edge-ends the quadratic sum passes 2^63 and ANSI mode throws.
    # decimal(18)*decimal(18) -> decimal(38,0) exact; decimal sums never
    # overflow below 1e38.
    _dx = "cast(x as decimal(18,0))"
    _dy = "cast(y as decimal(18,0))"
    s = pairs.agg(
        F.expr("cast(count(*) as decimal(12,0))").alias("n"),
        F.expr(f"cast(sum({_dx}) as decimal(20,0))").alias("sx"),
        F.expr(f"cast(sum({_dx} * {_dx}) as decimal(26,0))").alias("sxx"),
        F.expr(f"cast(sum({_dx} * {_dy}) as decimal(26,0))").alias("sxy"),
    )
    # symmetric pairs: Sy == Sx, Syy == Sxx, so r reduces to
    # (n*Sxy - Sx^2) / (n*Sxx - Sx^2)
    return s.select(
        F.col("n").cast("long").alias("n_ends"),
        F.round(
            F.expr(
                "cast(n * sxy - sx * sx as double)"
                " / nullif(cast(n * sxx - sx * sx as double), 0.0d)"
            ),
            6,
        ).alias("assortativity"),
    )


def edge_jaccard(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Per-edge Jaccard similarity of the endpoints' neighborhoods
    (endpoints themselves excluded): |N(a) ∩ N(b)| / |N(a) ∪ N(b) − {a,b}|
    — the classic tie-strength / local-bridge signal (a low-Jaccard edge
    is a bridge between communities).

    Intersection = the edge's triangle support (edge_support — wedge +
    closure equi-joins, no neighbor-array intersections); union =
    (deg(a)−1) + (deg(b)−1) − support, pure integer arithmetic off the
    degree table. Isolated edges (both endpoints degree 1) have an empty
    union; nullif keeps them NULL on both engines.

    Output: (src, dst, support, union_size, jaccard) with src < dst;
    support and union_size are exact BIGINTs so the oracle replays the
    identical integers and the only float is the final rounded divide."""
    sup = edge_support(edges, src_col=src_col, dst_col=dst_col)
    deg = (
        sup.select(F.col("src").alias("node"))
        .unionAll(sup.select(F.col("dst").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("long").alias("degree"))
    )
    return (
        sup.join(deg.select(F.col("node").alias("src"),
                            F.col("degree").alias("d_src")), "src")
        .join(deg.select(F.col("node").alias("dst"),
                         F.col("degree").alias("d_dst")), "dst")
        .select(
            "src", "dst", "support",
            (F.col("d_src") + F.col("d_dst") - F.lit(2) - F.col("support"))
            .cast("long").alias("union_size"),
            F.round(
                F.col("support").cast("double")
                / F.expr("nullif(cast(d_src + d_dst - 2 - support as double),"
                         " 0.0d)"),
                6,
            ).alias("jaccard"),
        )
    )


def k_truss(
    edges: DataFrame,
    k: int,
    src_col: str = "src",
    dst_col: str = "dst",
    max_rounds: int = 20,
) -> DataFrame:
    """k-truss decomposition by iterative peeling: repeatedly drop edges
    whose triangle support is below k-2 until the edge set is stable. The
    k-truss is the edge-analog of the k-core and a strictly stronger
    cohesion signal (every edge in a k-truss sits in >= k-2 triangles of
    the truss itself) — the standard community-backbone extractor.

    Each round is one edge_support pass (wedge + closure equi-joins — see
    edge_support for why this never intersects neighbor arrays) plus an
    edge filter; the edge set only shrinks. The loop is
    :func:`~knowledgegraphbuilder_spark.functions.fixpoint.fixpoint`: it
    raises RuntimeError if round ``max_rounds`` still dropped an edge.

    Output: (src, dst, support) for surviving edges with their support
    WITHIN the truss (>= k-2 by construction), src < dst."""

    def peel(e: DataFrame) -> DataFrame:
        return (
            edge_support(e, src_col="a", dst_col="b")
            .filter(F.col("support") >= k - 2)
            .select(F.col("src").alias("a"), F.col("dst").alias("b"))
        )

    truss = fixpoint(peel, _canonical_pairs(edges, src_col, dst_col),
                     max_rounds, f"k_truss(k={k})")
    # final support is recomputed WITHIN the converged truss
    return edge_support(truss, src_col="a", dst_col="b")


def katz_centrality(
    edges: DataFrame,
    hops: int = 3,
    inv_alpha: int = 8,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Truncated Katz centrality: c(v) = sum_{k=1..hops} alpha^k * walks_k(v),
    walks_k(v) = number of directed length-k walks ending at v, with
    alpha = 1/inv_alpha. Reported in exact integer units

        katz_units(v) = sum_k walks_k(v) * inv_alpha^(hops - k)

    i.e. c(v) * inv_alpha^hops — walk counts are integers and the scaling
    is a power of the integer inv_alpha, so the whole statistic stays in
    the exact decimal domain and the oracle replays it bit-for-bit (no
    float damping drift). The truncation at ``hops`` is the documented
    contract (full Katz is the fixed point; bounded-hop is what a bounded
    driver loop + unrolled SQL oracle can both express EXACTLY — the
    harmonic_centrality discipline).

    Each hop is one equi-join of the walk-count vector with the edge list
    plus a map-side-combinable sum — the standard distributed
    sparse-matrix-vector product. walks_k grows like deg^k; sums are
    decimal(38,0) (exact to 1e38, ~deg 1e12 at 3 hops) and the output cast
    to BIGINT is checked by ANSI, not wrapped.

    Output: (node, katz_units) for every node incident to an edge.
    """
    e = edges.select(
        F.col(src_col).cast("string").alias("s"),
        F.col(dst_col).cast("string").alias("d"),
    )
    nodes = (
        e.select(F.col("s").alias("node"))
        .unionAll(e.select(F.col("d").alias("node")))
        .distinct()
    )
    w = nodes.select("node", F.expr("cast(1 as decimal(38,0))").alias("cnt"))
    contribs = []
    for k in range(1, hops + 1):
        w = (
            e.join(w.withColumnRenamed("node", "s"), "s")
            .groupBy(F.col("d").alias("node"))
            .agg(F.expr("cast(sum(cnt) as decimal(38,0))").alias("cnt"))
        )
        scale = inv_alpha ** (hops - k)
        contribs.append(
            w.select(
                "node",
                F.expr(f"cast(cnt * {scale} as decimal(38,0))").alias("u"),
            )
        )
    allc = contribs[0]
    for c in contribs[1:]:
        allc = allc.unionAll(c)
    return (
        nodes.join(
            allc.groupBy("node").agg(
                F.expr("cast(sum(u) as decimal(38,0))").alias("units")
            ),
            "node",
            "left",
        )
        .select(
            "node",
            F.expr("cast(coalesce(units, 0) as bigint)").alias("katz_units"),
        )
    )


def strongly_connected_components(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    max_rounds: int = 40,
) -> DataFrame:
    """Strongly connected components of a directed graph: TRIM +
    forward-backward coloring (the Slota/Rajamanickam/Madduri 2014 /
    Orzan 2004 distributed SCC shape; GraphX's SCC is the same recipe).

    1. TRIM: nodes with live in-degree 0 or out-degree 0 are singleton
       SCCs by definition — peel them iteratively (the k_core discipline:
       each round is two semi-joins of the edge list against its own
       head and tail sets, the edge set only shrinks; the live nodes are
       the endpoints of the trimmed edges). On web-shaped graphs trimming
       removes the giant acyclic fringe before any propagation runs.
    2. COLOR (forward): propagate min node id along edges to the fixed
       point — F(v) = min id that reaches v. The SCC containing a color's
       root r (F(r) = r) is wholly inside color r (any label reaching a
       member reaches r too), so:
    3. MARK (backward): from each root, walk REVERSE edges restricted to
       same-color endpoints; every path from an SCC(r) member back to r
       stays inside SCC(r), hence inside the color, so the restriction is
       exact (proof sketch: w on a v->r path with v in SCC(r) has r ->* w
       and w ->* r, so w in SCC(r)). Marked nodes of color r ARE SCC(r):
       assign scc_id = r, remove, re-trim, repeat — each outer round
       peels one DAG layer of SCCs per color.

    Every step is an equi-join / aggregate on node keys (no closure
    materialization — mutual-reachability pairs are quadratic in component
    size and exist only in the ORACLE, which replays a recursive-CTE
    closure at test scale). Trim, color and mark each run as a
    :func:`~knowledgegraphbuilder_spark.functions.fixpoint.fixpoint`.
    Trimming always settles within (live nodes + 1) rounds; color, mark
    and the outer loop raise RuntimeError past ``max_rounds`` rounds — an
    honest failure beats a silently partial decomposition.

    Output: (node, scc_id) for every node incident to an edge, scc_id =
    min member id.
    """
    e = (
        edges.select(
            F.col(src_col).cast("string").alias("s"),
            F.col(dst_col).cast("string").alias("d"),
        )
        .filter(F.col("s") != F.col("d"))
        .distinct()
        .localCheckpoint(eager=True)
    )

    def trim(e: DataFrame) -> DataFrame:
        # an edge survives iff its tail has an in-edge and its head an out-edge
        return (
            e.join(e.select(F.col("d").alias("s")).distinct(), "s", "left_semi")
            .join(e.select(F.col("s").alias("d")).distinct(), "d", "left_semi")
            .select("s", "d")
        )

    assigned = []
    live = _endpoints(e, "s", "d").localCheckpoint(eager=True)
    for _outer in range(max_rounds):
        # a changing trim round strips every edge of some live node, so the
        # trim settles within |live| + 1 rounds: this cap is never hit
        e = fixpoint(trim, e, live.count() + 1, "SCC trim")
        kept = _endpoints(e, "s", "d").localCheckpoint(eager=True)
        assigned.append(
            live.join(kept, "node", "left_anti").select("node", F.col("node").alias("scc_id"))
        )
        if kept.isEmpty():
            return _union(assigned)

        def forward(lab: DataFrame) -> DataFrame:
            nxt = (
                e.join(lab.select(F.col("node").alias("s"), "f"), "s")
                .groupBy(F.col("d").alias("node"))
                .agg(F.min("f").alias("nf"))
            )
            return lab.join(nxt, "node", "left").select(
                "node", F.least("f", F.coalesce("nf", "f")).alias("f")
            )

        lab = fixpoint(forward, kept.select("node", F.col("node").alias("f")),
                       max_rounds, "SCC forward pass")
        # backward mark within color, seeded at the color roots
        ce = (
            e.join(lab.select(F.col("node").alias("s"), F.col("f").alias("fs")), "s")
            .join(lab.select(F.col("node").alias("d"), F.col("f").alias("fd")), "d")
            .filter(F.col("fs") == F.col("fd"))
            .select("s", "d")
            .localCheckpoint(eager=True)
        )

        def backward(marked: DataFrame) -> DataFrame:
            return marked.unionAll(
                ce.join(marked.withColumnRenamed("node", "d"), "d", "left_semi")
                .select(F.col("s").alias("node"))
            ).distinct()

        marked = fixpoint(backward, lab.filter(F.col("node") == F.col("f")).select("node"),
                          max_rounds, "SCC backward pass")
        assigned.append(
            lab.join(marked, "node", "left_semi").select("node", F.col("f").alias("scc_id"))
        )
        live = kept.join(marked, "node", "left_anti").localCheckpoint(eager=True)
        if live.isEmpty():
            return _union(assigned)
        e = (
            e.join(marked.select(F.col("node").alias("s")), "s", "left_anti")
            .join(marked.select(F.col("node").alias("d")), "d", "left_anti")
            .select("s", "d")
            .localCheckpoint(eager=True)
        )
    raise RuntimeError(f"SCC outer loop did not converge within max_rounds={max_rounds}")


def global_clustering(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    assume_canonical: bool = False,
) -> DataFrame:
    """Global (transitivity) clustering coefficient: 3 * triangles /
    wedges — the one-number density-of-closure summary that complements
    the per-node local coefficients (triangle_clustering). Reuses the
    degree-ordered wedge enumeration, so the corpus-sized cost is the
    SAME plan as the per-node query; this is a one-row rollup on top.

    Exactness: sum(per-node triangles) counts each triangle exactly 3
    times and wedges = sum(d * (d - 1) / 2) is exact integer arithmetic
    (d * (d-1) is always even), so gcc = tri3 / wedges is one
    exact-integer ratio in double, 6 dp, null when the graph has no
    wedge.

    Output: one row (n_nodes, n_edges, n_triangles, n_wedges, gcc).
    """
    tc = triangle_clustering(
        edges, src_col=src_col, dst_col=dst_col,
        assume_canonical=assume_canonical,
    )
    return global_clustering_from_tc(tc)


def global_clustering_from_tc(tc: DataFrame) -> DataFrame:
    """The transitivity rollup on top of an ALREADY-COMPUTED per-node
    triangle table (triangle_clustering output) — callers that need both
    the per-node view and the global summary pay the wedge enumeration
    once and roll this up from the materialized result."""
    s = tc.agg(
        F.count("*").cast("long").alias("n_nodes"),
        F.sum("degree").cast("long").alias("deg2"),
        F.sum(F.coalesce("triangles", F.lit(0))).cast("long").alias("tri3"),
        F.sum(F.expr("degree * (degree - 1) div 2")).cast("long")
        .alias("n_wedges"),
    )
    return s.selectExpr(
        "n_nodes",
        "deg2 div 2 as n_edges",
        "tri3 div 3 as n_triangles",
        "n_wedges",
        "case when n_wedges > 0 then"
        " round(cast(tri3 as double) / n_wedges, 6) end as gcc",
    )


def coreness(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    max_k: int = 32,
    max_rounds: int = 30,
) -> DataFrame:
    """Full coreness (shell index) decomposition: every node's maximum k
    such that it survives the k-core peel — the standard graph-triage
    scalar (k_core answers "who is in the dense backbone at level k";
    coreness answers "how deep does EACH node sit"). Degeneracy ordering,
    densest-subgraph approximation, and influence ranking all read this
    number.

    Algorithm: the textbook distributed peel by increasing k — at each k,
    peel to the k-core with k_core's round (one map-side-combinable degree
    count + two semi-joins); nodes dropped while peeling at level k have
    coreness k-1. Each level starts from the previous level's surviving
    subgraph, so total work is bounded by (degeneracy x peel rounds)
    shrinking passes. At 100 TB the known optimization is bin-batched
    peeling (process all k in a degree bin per sweep, ParlayLib/Galois
    style) — same dataflow, fewer passes; documented, not needed at gate
    scale where degeneracy is single-digit.

    Each level's peel is a
    :func:`~knowledgegraphbuilder_spark.functions.fixpoint.fixpoint` that
    raises RuntimeError if round ``max_rounds`` still peeled an edge.
    ``max_k`` bounds the levels for the oracle's fixed unroll: a graph
    whose degeneracy reaches ``max_k`` raises RuntimeError.

    Output: (node, coreness) for every node with at least one edge.
    """
    e = _canonical_pairs(edges, src_col, dst_col).localCheckpoint(eager=True)

    shells = []
    prev_nodes = _endpoints(e).localCheckpoint(eager=True)
    k = 1
    while not e.isEmpty():
        if k > max_k:
            raise RuntimeError(
                f"coreness: graph degeneracy exceeds max_k={max_k}; raise the "
                f"bound (and the oracle unroll) together"
            )
        e = fixpoint(_peel(k), e, max_rounds, f"coreness peel at k={k}")
        cur_nodes = _endpoints(e).localCheckpoint(eager=True)
        dropped = prev_nodes.join(cur_nodes, "node", "left_anti")
        shells.append(dropped.select(
            "node", F.lit(k - 1).cast("long").alias("coreness")
        ))
        prev_nodes = cur_nodes
        k += 1
    # every node leaves once the edge set empties, so every node is in
    # exactly one shell
    if not shells:
        # empty graph: no node ever peels — empty result, same schema
        return edges.sparkSession.createDataFrame(
            [], "node string, coreness long"
        )
    return _union(shells)


def two_hop_reach(
    edges: DataFrame,
    src_col: str = "head_node_id",
    dst_col: str = "tail_node_id",
) -> DataFrame:
    """Exact directed <=2-hop reachability count per node: how many
    DISTINCT nodes each node reaches in one or two hops (self excluded) —
    the neighborhood-size profile behind fan-out planning for multi-hop
    KG retrieval (a node whose 2-hop ball is the whole graph makes PPR
    truncation pointless).

    Scale shape: one distinct edge projection feeds both sides of ONE
    self-equi-join on the middle node; union 1-hop and 2-hop ends,
    distinct, count per source — cost tracks the 2-path count (capped by
    the same degree logic the wedge queries use), never nodes^2.
    """
    e = (
        edges.select(
            F.col(src_col).cast("string").alias("s"),
            F.col(dst_col).cast("string").alias("d"),
        )
        .filter(F.col("s") != F.col("d"))
        .distinct()
    )
    one = e
    two = (
        e.alias("a")
        .join(e.alias("b"), F.col("a.d") == F.col("b.s"))
        .select(F.col("a.s").alias("s"), F.col("b.d").alias("d"))
        .filter(F.col("s") != F.col("d"))
    )
    return (
        one.unionByName(two)
        .distinct()
        .groupBy(F.col("s").alias("node_id"))
        .agg(F.count("*").cast("long").alias("n_reach_2hop"))
    )


def shortest_paths(
    edges: DataFrame,
    seed: str,
    max_hops: int = 3,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Single-source BFS with PATH RECONSTRUCTION: for every node within
    ``max_hops`` of ``seed`` (undirected, symmetrized like bfs_hops), the
    exact hop distance plus one canonical witness path rendered
    ``a>b>c`` — the "HOW is this entity connected" answer that a
    distance-only BFS (bfs_hops) can't give, and the explanation surface
    a KG retrieval UI shows next to a multi-hop hit.

    Canonical path contract (shared verbatim with the SQL oracle): the
    round-h path of node v is ``min over frontier parents u of
    (path(u) || '>' || v)`` where path(u) is the stored round-(h-1)
    minimum — i.e. the per-round lexicographic-min RECURRENCE, applied to
    the '>'-joined rendering. (With variable-width node ids the recurrence
    min can differ from the global min over all shortest-path strings —
    prefix-vs-'>' ordering — so the recurrence itself is the contract;
    it is deterministic, both sides replay it exactly, and hop is always
    the true BFS distance.)

    Scale shape: identical to bfs_hops — each round is frontier ⋈
    adjacency (equi-join on the node key) + a groupBy(node).min(path)
    (map-side combinable) + an anti-join against the settled set; the
    only growth vs distance-BFS is the O(hop) path string carried per
    frontier row, bounded by max_hops. The loop is
    :func:`~knowledgegraphbuilder_spark.functions.fixpoint.bfs_levels`.

    Output: (node, hop, path) for every node within max_hops (seed
    included at hop 0).
    """
    spark = edges.sparkSession
    sym = (
        _undirected(edges, src_col, dst_col)
        .filter(F.col("u") != F.col("v"))
        .localCheckpoint(eager=True)
    )
    seed = str(seed)
    start = spark.createDataFrame([(seed, 0, seed)], "node string, hop int, path string")

    def advance(level: DataFrame, h: int) -> DataFrame:
        return (
            sym.join(level.select(F.col("node").alias("u"), "path"), "u")
            .select(
                F.col("v").alias("node"),
                F.concat_ws(">", F.col("path"), F.col("v")).alias("path"),
            )
            .groupBy("node")
            .agg(F.min("path").alias("path"))
            .select("node", F.lit(h).alias("hop"), "path")
        )

    dist = _union(bfs_levels(start, advance, ["node"], max_hops))
    return dist.select("node", F.col("hop").cast("int").alias("hop"), "path")


def betweenness_contrib(
    edges: DataFrame,
    seed: str,
    max_hops: int = 3,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Single-source betweenness dependency accumulation (Brandes 2001),
    truncated at ``max_hops`` — the per-node share of shortest paths from
    ``seed`` passing through each node, the building block hub/broker
    detection samples over a seed set at scale (exact all-pairs
    betweenness is O(V*E); production systems run Brandes from a sampled
    seed set, which is exactly this operator keyed by seed).

    Forward sweep: BFS levels with path COUNTS — sigma(v) = sum of
    sigma(u) over level-(r-1) parents, exact integer arithmetic (sigma
    <= max_degree^max_hops, far under 2^63 at any real degree cap).
    Backward sweep: delta(u) = sum over level-(r+1) successors v of
    (sigma(u)/sigma(v)) * (1 + delta(v)). The float sum is made
    ORDER-STABLE by folding terms sorted by successor id —
    aggregate(array_sort(collect_list(struct(v, term)))) — so the
    result is bitwise-reproducible across partitionings and replayable
    by the SQL oracle's list(term ORDER BY v) fold (the same
    order-stable-fold discipline the CCNet perplexity op uses).

    Scale shape: per level one equi-join + one map-side-combinable
    integer sum (forward), one equi-join + one sorted-list fold
    (backward, list bounded by degree); settled-set anti-joins as in
    bfs_hops, the forward levels run by
    :func:`~knowledgegraphbuilder_spark.functions.fixpoint.bfs_levels`.

    Output: (node, lvl, sigma, delta) for every node within max_hops;
    delta rounded 6dp, 0.0 for deepest-level nodes.
    """
    spark = edges.sparkSession
    sym = (
        _undirected(edges, src_col, dst_col)
        .filter(F.col("u") != F.col("v"))
        .localCheckpoint(eager=True)
    )
    start = spark.createDataFrame([(str(seed), 1)], "node string, sigma long")

    def advance(level: DataFrame, h: int) -> DataFrame:
        return (
            sym.join(level.selectExpr("node as u", "sigma"), "u")
            .groupBy(F.col("v").alias("node"))
            .agg(F.sum("sigma").cast("long").alias("sigma"))
        )

    levels = bfs_levels(start, advance, ["node"], max_hops)
    last = len(levels) - 1
    # backward: deepest level carries delta 0
    out = levels[last].select(
        "node", F.lit(last).alias("lvl"), "sigma", F.lit(0.0).alias("delta")
    )
    deeper = out
    for r in range(last - 1, -1, -1):
        succ = deeper.selectExpr(
            "node as v", "sigma as sig_v", "delta as del_v"
        )
        terms = (
            sym.join(levels[r].selectExpr("node as u", "sigma as sig_u"), "u")
            .join(succ, "v")
            .select(
                "u",
                F.struct(
                    F.col("v").alias("s"),
                    (
                        F.col("sig_u").cast("double")
                        / F.col("sig_v").cast("double")
                        * (F.lit(1.0) + F.col("del_v"))
                    ).alias("term"),
                ).alias("t"),
            )
            .groupBy("u")
            .agg(
                F.expr(
                    "aggregate(array_sort(collect_list(t)), cast(0.0 as double),"
                    " (a, x) -> a + x.term)"
                ).alias("delta")
            )
        )
        cur = (
            levels[r]
            .join(terms.withColumnRenamed("u", "node"), "node", "left")
            .select(
                "node",
                F.lit(r).alias("lvl"),
                "sigma",
                F.coalesce("delta", F.lit(0.0)).alias("delta"),
            )
            .localCheckpoint(eager=True)
        )
        out = out.unionByName(cur)
        deeper = cur
    return out.select(
        "node",
        F.col("lvl").cast("int").alias("lvl"),
        "sigma",
        F.round("delta", 6).alias("delta"),
    )


def greedy_matching(
    edges: DataFrame,
    rounds: int = 3,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Distributed handshake matching (the deterministic core of Luby-style
    greedy maximal matching): per round, every live node proposes to its
    MINIMUM live neighbor (string order); an edge is matched exactly when
    the proposals shake hands (u proposes v AND v proposes u); matched
    endpoints leave the graph and the next round repeats on the residual.
    This is the standard coarsening primitive — multilevel partitioners and
    graph contractions at 10^12-edge scale pair-collapse via exactly this
    loop, because each round is pure equi-joins + a map-side-combinable
    min aggregate (no global sequential dependency like the textbook
    greedy-by-sorted-weight scan).

    Fixed-``rounds`` contract (like label_propagation/sssp_hops): the
    output is the union of the per-round handshakes, NOT a certified
    maximal matching — each round matches a constant expected fraction of
    live edges, so a handful of rounds is the production setting and the
    cap bounds cost deterministically. Per-round cost: one min-agg over
    live edges + one self-join of the proposal table on the handshake
    + two anti-joins to drop matched endpoints; lineage truncated with
    eager localCheckpoint.

    Output: (u, v, round) with u < v, one row per matched pair.
    """
    spark = edges.sparkSession
    live = (
        _undirected(edges, src_col, dst_col)
        .filter(F.col("u") != F.col("v"))
        .localCheckpoint(eager=True)
    )
    out = spark.createDataFrame([], "u string, v string, round int")
    for r in range(1, rounds + 1):
        prop = live.groupBy("u").agg(F.min("v").alias("p"))
        m = (
            prop.alias("a")
            .join(
                prop.alias("b"),
                (F.col("a.p") == F.col("b.u")) & (F.col("b.p") == F.col("a.u")),
            )
            .filter(F.col("a.u") < F.col("a.p"))
            .select(
                F.col("a.u").alias("u"),
                F.col("a.p").alias("v"),
                F.lit(r).alias("round"),
            )
            .localCheckpoint(eager=True)
        )
        if m.isEmpty():
            break
        out = out.unionByName(m)
        mn = m.select(F.col("u").alias("n")).unionAll(
            m.select(F.col("v").alias("n"))
        )
        live = (
            live.join(mn.withColumnRenamed("n", "u"), "u", "left_anti")
            .join(mn.withColumnRenamed("n", "v"), "v", "left_anti")
            .select("u", "v")
            .localCheckpoint(eager=True)
        )
        if live.isEmpty():
            break
    return out.select("u", "v", F.col("round").cast("int").alias("round"))


def contract_graph(
    edges: DataFrame,
    matching: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """One multilevel-coarsening contraction: collapse every matched pair
    from ``matching`` (u, v rows, as produced by greedy_matching) into a
    supernode named by the pair's MIN endpoint, re-key the original edge
    list through that representative map, drop intra-supernode self-loops,
    and sum parallel edges into an integer weight. Iterating
    greedy_matching + contract_graph halves the graph per level — the
    standard multilevel pipeline (partitioners, coarse-to-fine layouts,
    hierarchical community detection) that makes 10^12-edge algorithms
    tractable by running the expensive step on a shrunken graph.

    Scale shape: the representative map is at most node-sized (2 rows per
    matched pair) — orders of magnitude under the edge list, so the two
    re-key joins broadcast here (hinted); when a matching ever outgrows
    the broadcast threshold the same plan degrades gracefully to a
    shuffle-hash join on the node key. Then one groupBy on the re-keyed
    endpoint pair with a map-side-combinable count. No all-pairs
    anything; cost is one pass over the edges.

    Output: (u, v, weight) with u < v, weight = number of parallel
    original (symmetrized, deduped) edges collapsed into the coarse edge.
    """
    sym = _canonical_pairs(edges, src_col, dst_col)
    rep = matching.select(
        F.least("u", "v").alias("r"), F.col("u").alias("n")
    ).unionByName(
        matching.select(F.least("u", "v").alias("r"), F.col("v").alias("n"))
    ).distinct()
    keyed = (
        sym.join(
            F.broadcast(rep).withColumnRenamed("n", "a").withColumnRenamed("r", "ra"),
            "a",
            "left",
        )
        .join(
            F.broadcast(rep).withColumnRenamed("n", "b").withColumnRenamed("r", "rb"),
            "b",
            "left",
        )
        .selectExpr(
            "coalesce(ra, a) as ca",
            "coalesce(rb, b) as cb",
        )
        .filter(F.col("ca") != F.col("cb"))
    )
    return (
        keyed.selectExpr("least(ca, cb) as u", "greatest(ca, cb) as v")
        .groupBy("u", "v")
        .agg(F.count("*").cast("long").alias("weight"))
    )

def maximal_independent_set(
    edges: DataFrame,
    rounds: int = 4,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Deterministic Luby-style maximal independent set: per round, every
    live node that is a LOCAL MINIMUM among its live neighbors (string
    order) — or has no live neighbor left at all — joins the set; joined
    nodes AND their neighbors leave the graph; repeat on the residual.
    This is Luby's algorithm with the random priorities replaced by the
    node id — fully deterministic and oracle-replayable, at the cost of
    Luby's O(log n) expected round bound (adversarial orderings can need
    more rounds; ``rounds`` caps cost, the fixed-rounds contract of
    label_propagation/greedy_matching — run to the cap, the output is an
    independent set; at fixpoint it is maximal).

    MIS is THE distributed symmetry-breaking primitive — conflict-free
    update scheduling, coloring frontiers, landmark selection — and this
    shape (per round: one grouped min over live edges + a null-or-less
    filter + anti-joins) is exactly how it runs at 10^12 edges: no
    sequential scan, cost per round proportional to the live edge count.

    Output: (node, round) — the round each node joined the MIS. Nodes
    isolated in the ORIGINAL edge list never appear (there are no edge
    rows to carry them); callers union them in from a node table.
    """
    spark = edges.sparkSession
    live_e = (
        _undirected(edges, src_col, dst_col)
        .filter(F.col("u") != F.col("v"))
        .localCheckpoint(eager=True)
    )
    live_n = live_e.select(F.col("u").alias("node")).distinct().localCheckpoint(eager=True)
    out = spark.createDataFrame([], "node string, round int")
    for r in range(1, rounds + 1):
        if live_n.isEmpty():
            break
        mins = live_e.groupBy(F.col("u").alias("node")).agg(
            F.min("v").alias("mn")
        )
        picked = (
            live_n.join(mins, "node", "left")
            .filter(F.col("mn").isNull() | (F.col("node") < F.col("mn")))
            .select("node", F.lit(r).alias("round"))
            .localCheckpoint(eager=True)
        )
        if picked.isEmpty():
            break
        out = out.unionByName(picked)
        gone = (
            picked.select(F.col("node").alias("n"))
            .unionAll(
                live_e.join(
                    picked.withColumnRenamed("node", "u").select("u"), "u"
                ).select(F.col("v").alias("n"))
            )
            .distinct()
        )
        live_n = live_n.join(
            gone.withColumnRenamed("n", "node"), "node", "left_anti"
        ).localCheckpoint(eager=True)
        live_e = (
            live_e.join(gone.withColumnRenamed("n", "u"), "u", "left_anti")
            .join(gone.withColumnRenamed("n", "v"), "v", "left_anti")
            .select("u", "v")
            .localCheckpoint(eager=True)
        )
    return out.select("node", F.col("round").cast("int").alias("round"))


def lp_rank_eval(
    edges: DataFrame,
    holdout_mod: int = 5,
    max_hub_degree: int = 10_000,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Link-prediction EVALUATION harness: hold out a deterministic slice
    of the edges, score every candidate pair by Resource Allocation on
    the remaining training graph, and report ranking metrics (MRR,
    Hits@1/3/10) of the held-out true edges among all scored candidates
    that share their source — the standard filtered-ranking protocol of
    the KG-embedding literature (Bordes et al. 2013), here applied to
    the neighborhood scorer so the whole eval replays exactly in SQL.

    Split: an edge (s, d) with ``('top-60-bits of sha256(s|d)) %
    holdout_mod == 0`` goes to TEST (content hash — reproducible on any
    engine, uncorrelated with degree); everything else is TRAIN.

    Ranking: candidates are the RA-scored non-TRAIN pairs from the
    training-graph wedge enumeration (same machinery and hub cap as
    :func:`link_prediction`); each candidate's rank is its row_number
    within its source's candidate list ordered by (ra_units DESC, dst) —
    a deterministic total order. A test edge whose endpoints share no
    training neighbor never appears as a candidate: it contributes 0 to
    MRR and Hits (counted in n_test, not n_ranked) — the honest
    convention, since the model genuinely cannot rank it.

    Exactness: reciprocal ranks are summed as integer micro-units
    (``10^12 div rank``) so the fold is order-independent; the single
    final division is the only float op. Output: ONE row
    ``(n_test, n_ranked, mrr, hits1, hits3, hits10)``.

    Scale shape: split + wedge join + per-source window + one global
    aggregate. The window partitions by source node (bounded by the hub
    cap), never globally; nothing collects.
    """
    e = edges.select(
        F.col(src_col).cast("string").alias("s"),
        F.col(dst_col).cast("string").alias("d"),
    ).distinct()
    hv = (
        "pmod(cast(conv(substring(sha2(concat(s, '|', d), 256), 1, 15), "
        f"16, 10) as bigint), {int(holdout_mod)})"
    )
    tagged = e.withColumn("is_test", F.expr(hv) == 0)
    train = tagged.filter(~F.col("is_test")).select("s", "d")
    test = tagged.filter(F.col("is_test")).select(
        F.col("s").alias("src"), F.col("d").alias("dst")
    )
    adj = train.unionAll(
        train.select(F.col("d").alias("s"), F.col("s").alias("d"))
    ).select(F.col("s").alias("z"), F.col("d").alias("n"))
    deg = adj.groupBy("z").agg(F.count("*").cast("long").alias("deg"))
    center = (
        adj.join(deg, "z")
        .filter(F.col("deg") <= F.lit(int(max_hub_degree)))
        .withColumn("ra1", F.expr("CAST(1000000000000 AS BIGINT) div deg"))
        .select("z", "n", "ra1")
    )
    cand = (
        center.alias("x")
        .join(center.alias("y"), "z")
        .filter(F.col("x.n") < F.col("y.n"))
        .select(
            F.col("x.n").alias("src"), F.col("y.n").alias("dst"),
            F.col("x.ra1").alias("ra1"),
        )
        .groupBy("src", "dst")
        .agg(F.sum("ra1").cast("long").alias("ra_units"))
        .join(
            train,
            (F.col("src") == F.col("s")) & (F.col("dst") == F.col("d")),
            "left_anti",
        )
    )
    from pyspark.sql import Window

    ranked = cand.withColumn(
        "rnk",
        F.row_number().over(
            Window.partitionBy("src").orderBy(F.desc("ra_units"), "dst")
        ).cast("long"),
    )
    hit = test.join(ranked.select("src", "dst", "rnk"), ["src", "dst"], "left")
    return hit.agg(
        F.count("*").cast("long").alias("n_test"),
        F.count("rnk").cast("long").alias("n_ranked"),
        F.round(
            F.sum(
                F.when(
                    F.col("rnk").isNotNull(),
                    F.expr("CAST(1000000000000 AS BIGINT) div rnk"),
                ).otherwise(F.lit(0).cast("long"))
            )
            / F.lit(1.0e12)
            / F.count("*"),
            6,
        ).alias("mrr"),
        F.sum(F.when(F.col("rnk") <= 1, 1).otherwise(0)).cast("long").alias("hits1"),
        F.sum(F.when(F.col("rnk") <= 3, 1).otherwise(0)).cast("long").alias("hits3"),
        F.sum(F.when(F.col("rnk") <= 10, 1).otherwise(0)).cast("long").alias("hits10"),
    )


def percolation_sweep(
    edges: DataFrame,
    thresholds: list[int],
    weight_col: str = "weight",
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Bond-percolation profile of a weighted graph: connected-component
    structure at several minimum edge weights —

    ``(threshold, n_nodes, n_edges, n_components, largest)``

    This is the multi-resolution view of similarity clustering: in a
    dedup or entity-resolution graph, sweeping the evidence threshold
    shows where the giant component dissolves into clean clusters — the
    quantity that picks the production threshold (choose the knee,
    avoid percolation-regime merges that fuse everything into one
    blob). One row per threshold.

    Scale shape: each threshold is a pure filter over the SAME edge
    list feeding the shared large-star/small-star CC operator
    (canonicalize.py — per-round cost |E|, logarithmic rounds), then a
    two-level aggregate (component sizes -> profile). Thresholds run
    sequentially but each reuses the filtered scan; nothing collects
    but the per-threshold 1-row profiles.
    """
    from knowledgegraphbuilder_spark.operators.canonicalize import (
        connected_components,
    )

    e = edges.select(
        F.col(src_col).cast("string").alias("src"),
        F.col(dst_col).cast("string").alias("dst"),
        F.col(weight_col).cast("long").alias("w"),
    )
    out = None
    for t in thresholds:
        et = e.filter(F.col("w") >= int(t)).select("src", "dst")
        cc = connected_components(et)
        sizes = cc.groupBy("component").agg(
            F.count("*").cast("long").alias("sz")
        )
        prof = sizes.agg(
            F.lit(int(t)).cast("long").alias("threshold"),
            F.sum("sz").cast("long").alias("n_nodes"),
            F.count("*").cast("long").alias("n_components"),
            F.coalesce(F.max("sz"), F.lit(0)).cast("long").alias("largest"),
        ).join(
            et.distinct().agg(F.count("*").cast("long").alias("n_edges")),
            how="cross",
        ).select("threshold", "n_nodes", "n_edges", "n_components", "largest")
        out = prof if out is None else out.unionByName(prof)
    return out


def wl_refine(
    triples: DataFrame,
    rounds: int = 2,
    src_col: str = "subj",
    pred_col: str = "pred",
    dst_col: str = "obj",
) -> DataFrame:
    """Edge-labeled Weisfeiler-Lehman color refinement over the KG —
    the canonical structural fingerprint (Shervashidze et al., JMLR
    2011) used to dedup near-isomorphic subgraphs and to bucket
    entities by neighborhood shape before any pairwise comparison.

    Round 0 colors every node identically; each round rehashes a node's
    color together with the lexicographically sorted multiset of its
    (direction, predicate, neighbor color) signatures, so after R
    rounds two nodes share a color iff their R-hop typed neighborhoods
    are WL-indistinguishable. Directions are tagged (``>`` outgoing,
    ``<`` incoming) — the KG is directed.

    Scale shape: per round, ONE groupBy over the message table
    (edges × 2 directions) building the sorted signature list with
    ``array_sort(collect_list(...))`` — per-node cost is degree·log
    (local sort of the node's own messages, never a global sort), then
    a sha256 rehash in whole-stage codegen. Isolated-node safety: the
    recolor LEFT-joins the previous color table, so colorless rounds
    can't drop nodes. No windows, no driver collect; lineage is
    truncated per round with localCheckpoint (the CC-loop discipline).

    Returns (node, color) after ``rounds`` refinements; hash colors are
    hex strings replayable in DuckDB (same sha256 byte stream).
    """
    t = (
        triples.select(
            F.col(src_col).cast("string").alias("src"),
            F.col(pred_col).cast("string").alias("pred"),
            F.col(dst_col).cast("string").alias("dst"),
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    nodes = (
        t.select(F.col("src").alias("node"))
        .unionAll(t.select(F.col("dst").alias("node")))
        .distinct()
    )
    colors = nodes.withColumn("color", F.lit("wl0"))
    for _ in range(rounds):
        # messages: each edge tells both endpoints (direction, pred, color)
        out_msg = (
            t.join(colors.withColumnRenamed("node", "dst"), "dst")
            .select(
                F.col("src").alias("node"),
                F.concat_ws("|", F.lit(">"), "pred", "color").alias("sig"),
            )
        )
        in_msg = (
            t.join(colors.withColumnRenamed("node", "src"), "src")
            .select(
                F.col("dst").alias("node"),
                F.concat_ws("|", F.lit("<"), "pred", "color").alias("sig"),
            )
        )
        sigs = (
            out_msg.unionAll(in_msg)
            .groupBy("node")
            .agg(F.array_sort(F.collect_list("sig")).alias("sigl"))
        )
        colors = (
            colors.join(sigs, "node", "left")
            .select(
                "node",
                F.sha2(
                    F.concat_ws(
                        "#",
                        F.col("color"),
                        F.array_join(
                            F.coalesce(F.col("sigl"), F.array()), ","
                        ),
                    ),
                    256,
                ).alias("color"),
            )
            .localCheckpoint(eager=True)
        )
    return colors


def bipartite_check(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    max_iter: int = 20,
) -> DataFrame:
    """Per-component bipartiteness audit: 2-color every component by BFS
    parity from its canonical (min-id) seed, then count the edges whose
    endpoints share a parity — a graph is bipartite iff no BFS level
    closes an edge within itself (odd cycle). The production use is
    conflict/constraint graphs: a non-2-colorable component is exactly
    where a proposed two-way partition (train/eval, A/B, shard pair)
    cannot be consistent, and ``n_odd_edges`` localizes how far from
    bipartite each component is.

    Plan: one CC run (large/small-star, shared operator) provides both
    the component key and the seed; ONE multi-source BFS colors every
    component simultaneously (frontier = all seeds at parity 0 — rounds
    scale with graph diameter, not component count; every node at level h
    has parity h mod 2); the audit is a single self-equi-join of the
    colored edge list. The coloring is
    :func:`~knowledgegraphbuilder_spark.functions.fixpoint.bfs_levels`
    with ``max_iter`` hops; if that leaves a node uncolored (a component
    deeper than ``max_iter``) this raises RuntimeError instead of
    auditing a partial coloring.

    Returns (component, n_nodes, n_edges, n_odd_edges, is_bipartite).
    """
    from knowledgegraphbuilder_spark.operators.canonicalize import (
        connected_components,
    )

    e = _canonical_pairs(edges, src_col, dst_col).select(
        F.col("a").alias("src"), F.col("b").alias("dst")
    )
    und = _undirected(e, "src", "dst").localCheckpoint(eager=True)
    comp = connected_components(e).localCheckpoint(eager=True)  # (vertex, component)
    # seeds: the component id IS its min vertex in this CC implementation
    start = comp.select(
        F.col("component").alias("node"), F.col("component")
    ).distinct().withColumn("parity", F.lit(0).cast("long"))

    def advance(level: DataFrame, h: int) -> DataFrame:
        return (
            level.join(und.withColumnRenamed("u", "node"), "node")
            .select(F.col("v").alias("node"), "component",
                    F.lit(h % 2).cast("long").alias("parity"))
            .distinct()
        )

    visited = _union(bfs_levels(start, advance, ["node"], max_iter))
    if not comp.join(visited.withColumnRenamed("node", "vertex"), "vertex", "left_anti").isEmpty():
        raise RuntimeError(f"bipartite_check: BFS left nodes uncolored at max_iter={max_iter}")
    colored = e.join(
        visited.select(F.col("node").alias("src"),
                       F.col("parity").alias("p_src"), "component"), "src"
    ).join(
        visited.select(F.col("node").alias("dst"),
                       F.col("parity").alias("p_dst")), "dst"
    )
    per_edge = colored.groupBy("component").agg(
        F.count(F.lit(1)).cast("long").alias("n_edges"),
        F.sum(
            F.when(F.col("p_src") == F.col("p_dst"), 1).otherwise(0)
        ).cast("long").alias("n_odd_edges"),
    )
    sizes = comp.groupBy("component").agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes")
    )
    return sizes.join(per_edge, "component", "left").select(
        "component",
        "n_nodes",
        F.coalesce("n_edges", F.lit(0)).cast("long").alias("n_edges"),
        F.coalesce("n_odd_edges", F.lit(0)).cast("long").alias("n_odd_edges"),
        (F.coalesce("n_odd_edges", F.lit(0)) == 0).alias("is_bipartite"),
    )


def butterfly_count(
    df: DataFrame,
    group_col: str,
    item_col: str,
    max_group_size: int = 50,
) -> DataFrame:
    """Per-item butterfly count over a bipartite graph (Wang et al.,
    VLDB 2019): a butterfly is a 2x2 biclique (two items sharing two
    groups) — THE bipartite analogue of the triangle, and the cohesion
    signal that predicts which co-occurrence edges survive projection
    thresholds. Counting butterflies directly on the bipartite form is
    how one avoids materializing the dense projection at all at
    100 TB.

    Identity used: the co-occurrence weight w(a,b) = |groups shared by
    a,b| gives butterflies(a,b) = C(w,2), so the per-item count is
    SUM over its co-occurrence pairs of C(w,2) — computed from the
    capped pair table of :func:`cooccurrence_edges` (same group-size
    cap, same quadratic-bounded projection) with ONE integer aggregate
    on top; no new pairwise work beyond what the projection already
    bounded.

    Returns (item, n_pairs, n_butterflies) for every item with at
    least one co-occurrence pair, exact BIGINTs.
    """
    e = cooccurrence_edges(df, group_col, item_col,
                           max_group_size=max_group_size)
    bf = e.withColumn(
        # integer C(w,2): stay in BIGINT, no float round-trip
        "b", F.expr("weight * (weight - 1) DIV 2").cast("long")
    )
    both = bf.select(F.col("src").alias("item"), "b").unionAll(
        bf.select(F.col("dst").alias("item"), "b")
    )
    return both.groupBy("item").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum("b").cast("long").alias("n_butterflies"),
    )


def eigenvector_centrality(
    edges: DataFrame,
    iters: int = 3,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Eigenvector centrality by ``iters`` rounds of the power method
    over the symmetrized graph, held entirely in exact integers: start
    at v0 = 10**6 per node, each round is v' = A v (one equi-join + one
    map-side-combinable decimal sum) followed by infinity-norm
    fixed-point normalization

        v = (v_raw * 10**6) div max(v_raw)

    — integer floor-division by the round's maximum, so the scale stays
    pinned at [0, 10**6] and NOTHING in the fold is a float: the oracle
    unrolls the same rounds and matches bit-for-bit (the katz_centrality
    discipline; full eigenvector is the fixed point, bounded rounds are
    the exactly-replayable contract). On BIPARTITE graphs the undamped
    power method oscillates with period 2 (the -lambda eigenvalue is
    equally extreme), so bounded-round output there reflects the round
    parity, not a limit — the classic caveat; add damping/self-loops
    upstream if a bipartite substrate needs a fixed point.

    The per-round max is a 1-row broadcast (crossJoin of an aggregate
    scalar — never a driver collect in the loop body), so the plan stays
    fully distributed; per-round cost is the sparse mat-vec equi-join,
    shuffle = |E| on the join key. Degree growth is absorbed by the
    normalization, so decimal(38,0) never overflows (v <= 10**6,
    sum over deg <= 10**6 * deg_max).

    Output: (node, eig_micro) for every node incident to an edge.
    """
    e = edges.select(
        F.col(src_col).cast("string").alias("s"),
        F.col(dst_col).cast("string").alias("d"),
    )
    sym = e.unionAll(e.select(F.col("d").alias("s"), F.col("s").alias("d")))
    nodes = sym.select(F.col("s").alias("node")).distinct()
    v = nodes.select("node", F.expr("cast(1000000 as decimal(38,0))").alias("v"))
    for _ in range(iters):
        raw = (
            sym.join(v.withColumnRenamed("node", "s"), "s")
            .groupBy(F.col("d").alias("node"))
            .agg(F.expr("cast(sum(v) as decimal(38,0))").alias("raw"))
        )
        mx = raw.agg(F.expr("cast(max(raw) as decimal(38,0))").alias("mx"))
        v = raw.crossJoin(F.broadcast(mx)).select(
            "node",
            F.expr("cast((raw * 1000000) div mx as decimal(38,0))").alias("v"),
        )
    return nodes.join(v, "node", "left").select(
        "node", F.expr("cast(coalesce(v, 0) as bigint)").alias("eig_micro")
    )


def temporal_motifs(
    events: DataFrame,
    window_us: int = 3_600_000_000,
    type_col: str = "event_type",
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Time-respecting contact and 2-path motif counting over an event
    stream (the delta-windowed temporal-motif family of Paranjape,
    Benson & Leskovec, WSDM 2017): within each event type, event a
    CONTACTS event b when 0 < t_b - t_a <= window, users differ; a
    time-respecting 2-path is contact (a -> b) chained with contact
    (b -> c) THROUGH THE SAME MIDDLE EVENT, end users distinct — the
    influence-propagation motif (A acts, B follows within the window,
    C follows B).

    Timestamps are exact integer MICROSECONDS (unix_micros — no float
    epochs, no timezone arithmetic; the session is pinned UTC), so every
    window test and count replays exactly.

    Scale shape: candidate pairs come from an equi-join on (type, time
    bucket) with each event probing its own and the NEXT window-sized
    bucket — 0 < dt <= window implies the partner is in one of those
    two, so the banding is lossless (the intervals.py discipline) and
    cost tracks events-per-window density, never |events|^2. The 2-path
    chain is an equi-join on the shared middle event id.

    Output per type: (event_type, n_events, n_contacts, n_2paths,
    n_influence_pairs = distinct ordered (first_user, last_user) over
    2-paths). Exact BIGINTs.
    """
    W = int(window_us)
    ev = events.selectExpr(
        f"{type_col} AS et",
        f"cast({user_col} as string) AS u",
        # TIMESTAMP_NTZ -> TIMESTAMP under the pinned-UTC session: the
        # naive wall time IS the UTC instant, matching epoch_us
        f"unix_micros(cast({ts_col} as timestamp)) AS t",
        "event_id AS eid",
    ).withColumn("bkt", F.expr(f"t div {W}"))
    probes = ev.selectExpr(
        "et", "u", "t", "eid",
        "explode(array(bkt, bkt + 1)) AS pb",
    )
    contacts = (
        probes.alias("a")
        .join(
            ev.selectExpr("et", "u AS u2", "t AS t2", "eid AS eid2",
                          "bkt AS pb").alias("b"),
            ["et", "pb"],
        )
        .filter(F.expr(f"t2 - t > 0 AND t2 - t <= {W} AND u2 <> u"))
        # no distinct: 0 < dt <= W pins the partner to exactly ONE of the
        # two probed buckets, so the band join cannot duplicate a pair —
        # a distinct here would re-shuffle the full contact table for
        # nothing (2.8M rows at sf0.1)
        .select("et", "u", "t", "eid", "u2", "t2", "eid2")
    )
    paths = (
        contacts.alias("c1")
        .join(
            contacts.selectExpr("et", "eid AS eid2", "u2 AS u3",
                                "eid2 AS eid3").alias("c2"),
            ["et", "eid2"],
        )
        .filter(F.col("u3") != F.col("u"))
    )
    nev = ev.groupBy("et").agg(F.count("*").cast("long").alias("n_events"))
    nc = contacts.groupBy("et").agg(
        F.count("*").cast("long").alias("n_contacts")
    )
    np_ = paths.groupBy("et").agg(
        F.count("*").cast("long").alias("n_2paths"),
        F.countDistinct("u", "u3").cast("long").alias("n_influence_pairs"),
    )
    return (
        nev.join(nc, "et", "left").join(np_, "et", "left")
        .selectExpr(
            "et AS event_type", "n_events",
            "coalesce(n_contacts, 0) AS n_contacts",
            "coalesce(n_2paths, 0) AS n_2paths",
            "coalesce(n_influence_pairs, 0) AS n_influence_pairs",
        )
    )


def wl_quotient(
    triples: DataFrame,
    rounds: int = 2,
    src_col: str = "subj",
    pred_col: str = "pred",
    dst_col: str = "obj",
) -> DataFrame:
    """SNAP-style graph summarization (Tian et al., SIGMOD 2008) by
    structural equivalence: quotient the KG over its WL colors
    (wl_refine, ``rounds`` refinements) — one summary node per color,
    one summary edge per (src color, predicate, dst color) with the
    statement count it aggregates, plus the member counts of both
    endpoint groups and a deterministic exemplar (min node) per side.

    This is the schema-shaped view a 10^9-statement graph is explored
    through: |colors| is bounded by structural diversity, not |V|, and
    the whole summary is two broadcast-sized joins (color assignment
    is node-keyed) plus one grouped count over the statement table.

    Output: (src_color, pred, dst_color, n_statements, n_src_nodes,
    n_dst_nodes, src_exemplar, dst_exemplar).
    """
    colors = wl_refine(triples, rounds=rounds, src_col=src_col,
                       pred_col=pred_col, dst_col=dst_col)
    groups = colors.groupBy("color").agg(
        F.count("*").cast("long").alias("n_nodes"),
        F.min("node").alias("exemplar"),
    )
    t = triples.select(
        F.col(src_col).cast("string").alias("src"),
        F.col(pred_col).cast("string").alias("pred"),
        F.col(dst_col).cast("string").alias("dst"),
    ).distinct()
    q = (
        t.join(colors.selectExpr("node AS src", "color AS src_color"), "src")
        .join(colors.selectExpr("node AS dst", "color AS dst_color"), "dst")
        .groupBy("src_color", "pred", "dst_color")
        .agg(F.count("*").cast("long").alias("n_statements"))
    )
    return (
        q.join(
            F.broadcast(groups.selectExpr(
                "color AS src_color", "n_nodes AS n_src_nodes",
                "exemplar AS src_exemplar")),
            "src_color",
        )
        .join(
            F.broadcast(groups.selectExpr(
                "color AS dst_color", "n_nodes AS n_dst_nodes",
                "exemplar AS dst_exemplar")),
            "dst_color",
        )
        .select("src_color", "pred", "dst_color", "n_statements",
                "n_src_nodes", "n_dst_nodes", "src_exemplar", "dst_exemplar")
    )


def triad_census(
    edges: DataFrame,
    src_col: str = "s",
    dst_col: str = "d",
) -> DataFrame:
    """Closed directed triad census: count feed-forward loops (a->b,
    b->c, a->c) and 3-cycles (a->b, b->c, c->a) — the two closed triad
    classes whose ratio is the classic network-motif signal (Milo et
    al., Science 2002: FFLs are overrepresented in hierarchies, cycles
    in feedback systems).

    Exactness/dedup: FFLs are counted at their unique wedge (each FFL
    has exactly one (a, b, c) with both a->b->c and the a->c chord, so
    the wedge join + chord semi-check counts each once); cycles are
    counted once by anchoring at the lexicographically smallest node.
    Self-loops and parallel edges are removed up front.

    Plan: one wedge equi-join (b matches) + one edge-existence join —
    the degree-bounded triangle pattern, never nodes^3; both counts are
    map-side-combinable sums off the same wedge table.

    Output: one row (n_edges, n_wedges, n_ffl, n_cycle).
    """
    e = (
        edges.select(
            F.col(src_col).cast("string").alias("s"),
            F.col(dst_col).cast("string").alias("d"),
        )
        .filter(F.col("s") != F.col("d"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    wedges = (
        e.selectExpr("s AS a", "d AS b")
        .join(e.selectExpr("s AS b", "d AS c"), "b")
        .filter(F.col("a") != F.col("c"))
    )
    chords = e.selectExpr("s AS a", "d AS c", "true AS has_ac")
    back = e.selectExpr("s AS c", "d AS a", "true AS has_ca")
    closed = (
        wedges.join(chords, ["a", "c"], "left")
        .join(back, ["a", "c"], "left")
    )
    stats = closed.agg(
        F.count("*").cast("long").alias("n_wedges"),
        F.sum(F.expr("CASE WHEN has_ac THEN 1 ELSE 0 END"))
        .cast("long").alias("n_ffl"),
        F.sum(F.expr(
            "CASE WHEN has_ca AND a < b AND a < c THEN 1 ELSE 0 END"
        )).cast("long").alias("n_cycle"),
    )
    return (
        e.agg(F.count("*").cast("long").alias("n_edges"))
        .crossJoin(stats)
        .selectExpr("n_edges", "coalesce(n_wedges, 0) AS n_wedges",
                    "coalesce(n_ffl, 0) AS n_ffl",
                    "coalesce(n_cycle, 0) AS n_cycle")
    )
