"""s7: entity canonicalization.

Reference semantics (A1): group ALL mentions by exact surface text — one
canonical node per distinct text, across documents
(back/kgg/generator.py:260-276: ``text2entities[entity.text].append(...)``).

Scale design:
- Head surface forms are massively skewed at 10^12 docs (a handful of strings
  own a large share of all mentions). All aggregates here are either
  map-side-combinable (count/min — partial aggregation defuses skew) or
  two-phase salted (the membership-list variant groups by (text, salt) first,
  then flattens per text), per the north rule.
- The scalable node representation is NOT an array of mention ids but a
  normalized ``membership(node_id, mention_id)`` table — a pure projection,
  no agg at all. The array variant exists for small-scale parity with the
  reference's ``Node.entities`` list.
- Generalized canonicalization (ours; beyond reference parity) clusters
  *similar* — not just identical — surface forms: similarity edges from
  MinHash-LSH blocking (operators/link.py) are resolved into clusters with
  iterative large-star / small-star connected components (Kiveris et al.,
  "Connected Components in MapReduce and Beyond", SoCC'14), which converges in
  O(log n) rounds of self-joins — the only CC formulation that scales to a
  trillion-edge similarity graph.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from knowledgegraphbuilder_spark.config import KGConfig
from knowledgegraphbuilder_spark.functions import ids
from knowledgegraphbuilder_spark.functions.fixpoint import fixpoint


def cluster_mentions_exact(
    mentions: DataFrame, config: KGConfig, with_member_arrays: bool = True
) -> DataFrame:
    """A1: nodes = groupBy(exact text). Salted two-phase aggregation.

    Output: node_id, text, n_mentions[, mention_ids sorted array].
    """
    salt = F.pmod(F.xxhash64("mention_id"), F.lit(config.salt_buckets)).alias("salt")
    partial = mentions.groupBy("text", salt).agg(
        F.count("*").alias("cnt"),
        *( [F.sort_array(F.collect_list("mention_id")).alias("ids_part")]
           if with_member_arrays else [] ),
    )
    aggs = [F.sum("cnt").cast("long").alias("n_mentions")]
    if with_member_arrays:
        aggs.append(F.array_sort(F.flatten(F.collect_list("ids_part"))).alias("mention_ids"))
    nodes = partial.groupBy("text").agg(*aggs)
    cols = ["node_id", "text", "n_mentions"] + (["mention_ids"] if with_member_arrays else [])
    return nodes.withColumn("node_id", ids.node_id()).select(*cols)


def node_membership(mentions: DataFrame) -> DataFrame:
    """Normalized (node_id, mention_id, doc_id) membership — the 10^12-scale
    representation of ``Node.entities`` (no aggregation, pure projection)."""
    return mentions.select(
        ids.node_id().alias("node_id"), "mention_id", "doc_id", "text"
    )


# ---------------------------------------------------------------------------
# G4: large-star / small-star connected components
# ---------------------------------------------------------------------------

def _canon_edges(e: DataFrame) -> DataFrame:
    return (
        e.select(F.col("src").cast("string").alias("src"), F.col("dst").cast("string").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .select(F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst"))
        .distinct()
    )


def _large_star(e: DataFrame) -> DataFrame:
    """For each u: m = min(N(u) + {u}); emit (v, m) for v in N(u), v > u."""
    sym = e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    mins = sym.groupBy("src").agg(F.least(F.first("src"), F.min("dst")).alias("m"))
    return (
        sym.join(mins, "src")
        .filter(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Orient (u > v); for each u: m = min(N(u)); emit (v, m) and (u, m)."""
    oriented = _canon_edges(e)
    mins = oriented.groupBy("src").agg(F.min("dst").alias("m"))
    nbr = oriented.join(mins, "src")
    out = nbr.select(F.col("dst").alias("src"), F.col("m").alias("dst")).union(
        mins.select(F.col("src"), F.col("m").alias("dst"))
    )
    return out.filter(F.col("src") != F.col("dst")).distinct()


def connected_components(edges: DataFrame, max_iter: int = 25) -> DataFrame:
    """(src, dst) undirected edge list -> (vertex, component) assignment where
    ``component`` is the minimum vertex id of the component (deterministic).

    Alternates large-star / small-star until the edge set reaches its
    fixpoint (O(log n) rounds); each round's groupBy-min is map-side
    combinable, so skewed hub vertices reduce to one row per partition
    before the shuffle. The loop is
    :func:`~knowledgegraphbuilder_spark.functions.fixpoint.fixpoint`: it
    raises RuntimeError if round ``max_iter`` still changed the edge set,
    so a returned assignment is always the converged one.
    """
    vertices = (
        edges.select(F.col("src").cast("string").alias("v"))
        .union(edges.select(F.col("dst").cast("string").alias("v")))
        .distinct()
    )
    e = fixpoint(lambda e: _small_star(_large_star(e)), _canon_edges(edges),
                 max_iter, "connected_components")
    # at fixpoint every edge is (v, root); vertices absent from e are their own root
    assign = e.select(F.col("src").alias("v"), F.col("dst").alias("component"))
    roots = vertices.join(assign, "v", "left_anti").select(
        "v", F.col("v").alias("component")
    )
    return assign.union(roots).withColumnRenamed("v", "vertex")


def cluster_mentions_cc(
    mentions: DataFrame,
    similarity_edges: DataFrame,
    config: KGConfig,
) -> DataFrame:
    """Generalized canonicalization: cluster distinct surface forms connected
    by similarity edges (src/dst = surface text) via connected components,
    then assign every mention to its cluster's canonical node.

    Output matches ``cluster_mentions_exact`` plus ``canonical_text``
    (the lexicographically-smallest member text — deterministic).
    """
    comps = connected_components(similarity_edges)
    texts = mentions.select("text").distinct()
    assigned = texts.join(
        comps.withColumnRenamed("vertex", "text"), "text", "left"
    ).select(
        "text", F.coalesce("component", F.col("text")).alias("canonical_text")
    )
    m = mentions.join(assigned, "text")
    salt = F.pmod(F.xxhash64("mention_id"), F.lit(config.salt_buckets)).alias("salt")
    partial = m.groupBy("canonical_text", salt).agg(
        F.count("*").alias("cnt"),
        F.sort_array(F.collect_list("mention_id")).alias("ids_part"),
    )
    nodes = partial.groupBy("canonical_text").agg(
        F.sum("cnt").cast("long").alias("n_mentions"),
        F.array_sort(F.flatten(F.collect_list("ids_part"))).alias("mention_ids"),
    )
    return nodes.select(
        ids.node_id("canonical_text").alias("node_id"),
        F.col("canonical_text").alias("text"),
        "n_mentions",
        "mention_ids",
    )
