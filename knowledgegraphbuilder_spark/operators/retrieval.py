"""Query-side retrieval: U5 embeddings, T2 vector top-k, J3 edge fan-out,
G2 weight update, G3 PPR, J4/A5 doc weighting, T3 final ranking.

Reference flow (back/kgg/retriever.py:62-94 + io/graph.py:115-168):
1. embed query, FAISS inner-product top-5 over edge-description embeddings;
2. endpoint node ids of those edges;
3. personalized PageRank from those nodes with retrieved scores as edge
   weights (others default 0.2);
4. sum node scores into per-document weights via node membership;
5. docs sorted desc, top-5.

The deterministic embedding backend is a seeded character-trigram feature
hash -> L2-normalized DIM-float vector (pandas_udf, Arrow-batched — plays
BGE-M3's role, back/kgg/retriever.py:20-33, batch_size=100 becomes the Arrow
batch).

Serving: a QA service asks many questions of one pinned graph. For a graph
under ``_PPR_SMALL_GRAPH_THRESHOLD`` edges, the first question builds a
per-graph driver handle (``_ServingGraph``), collected through Arrow: edge
id -> row position, head/tail vertex indices over the sorted vertex ids, base
weights, and membership as (vertex index, doc index) rows. Every later
question runs the vector top-k as its one Spark job and steps 2-5 on those
arrays, and returns the top-k as a local relation. The handle is keyed on
the edges DataFrame object, so it assumes that object is stable (pinned):
a DataFrame whose rows change under the same object serves stale answers.
Larger graphs keep steps 2-5 as DataFrame ops (``retrieve_documents_batch``
always does).
"""

from __future__ import annotations

import dataclasses
import functools
import hashlib
import math
import weakref

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, FloatType
from pyspark.sql.window import Window

from knowledgegraphbuilder_spark.config import KGConfig
from knowledgegraphbuilder_spark.operators.ann import topk_bruteforce
from knowledgegraphbuilder_spark.operators.pagerank import personalized_pagerank, ppr_arrays


_PPR_SMALL_GRAPH_THRESHOLD = 500_000


@dataclasses.dataclass
class _ServingGraph:
    """A question's view of one pinned graph. Under the threshold it holds
    the topology as driver-side numpy arrays; at or over it, only the capped
    edge count (``edge_pos`` is None) and questions take the distributed
    path. It never references the edges DataFrame it is keyed on."""

    n_edges: int  # edges.limit(threshold).count()
    threshold: int  # the _PPR_SMALL_GRAPH_THRESHOLD it was probed under
    membership: weakref.ref  # the membership DataFrame the arrays came from
    edge_pos: pd.Index | None = None  # edge id -> row position
    head: np.ndarray | None = None  # per edge: index into the sorted vertex ids
    tail: np.ndarray | None = None
    weight: np.ndarray | None = None  # base edge weights
    n_vertices: int = 0
    m_vertex: np.ndarray | None = None  # per membership row on an edge: vertex
    m_doc: np.ndarray | None = None  # ... and its doc index (docs sorted by id)
    doc_ids: list | None = None
    doc_type: str = "string"


# one handle per (stable, pinned) edges DataFrame object: a QA service answers
# many questions against one graph, so the count probe and the topology
# collect are paid once per graph, not once per question
_SERVING: "weakref.WeakKeyDictionary[DataFrame, _ServingGraph]" = (
    weakref.WeakKeyDictionary()
)


def _serving_graph(edges: DataFrame, membership: DataFrame) -> _ServingGraph:
    threshold = _PPR_SMALL_GRAPH_THRESHOLD
    g = _SERVING.get(edges)
    if g is not None and g.threshold == threshold and g.membership() is membership:
        return g
    n = edges.limit(threshold).count()
    g = _ServingGraph(n, threshold, weakref.ref(membership))
    if n < threshold:
        e = edges.select(
            F.col("edge_id").cast("string"), "head_node_id", "tail_node_id",
            F.col("weight").cast("double"),
        ).toPandas()
        m = membership.select("node_id", "doc_id").toPandas()
        ends, verts = pd.factorize(
            pd.concat([e["head_node_id"], e["tail_node_id"]]), sort=True)
        m_vertex = verts.get_indexer(m["node_id"])
        on_edge = m_vertex >= 0  # the membership join drops the other rows
        m_doc, doc_ids = pd.factorize(m["doc_id"][on_edge], sort=True)
        # a duplicate edge id has no single row position, a null id no
        # index: such graphs keep the distributed path
        if e["edge_id"].is_unique and (ends >= 0).all() and (m_doc >= 0).all():
            g.edge_pos = pd.Index(e["edge_id"])
            g.head, g.tail = ends[: len(e)], ends[len(e):]
            g.weight = e["weight"].to_numpy(np.float64)
            g.n_vertices = len(verts)
            g.m_vertex, g.m_doc = m_vertex[on_edge], m_doc
            g.doc_ids = doc_ids.tolist()
            g.doc_type = membership.schema["doc_id"].dataType.simpleString()
    _SERVING[edges] = g
    return g


def _retrieve_on_driver(g: _ServingGraph, spark, top_rows, cfg: KGConfig,
                        k: int) -> DataFrame:
    """G2 -> T3 on the handle's arrays for the retrieved (edge_id, score)
    rows: the distributed path's weight update, sources, PPR, membership sum
    and (-weight, doc_id) order."""
    hit = g.edge_pos.get_indexer([r[0] for r in top_rows])
    pos = hit[hit >= 0]  # the edges join drops ids not in the graph
    scored = [(p, r[1]) for p, r in zip(hit, top_rows) if p >= 0 and r[1] is not None]
    w = g.weight.copy()
    if scored:
        at, score = zip(*scored)
        w[list(at)] = np.maximum(np.array(score, dtype=np.float64), 1.0e-6)
    sources = np.unique(np.concatenate([g.head[pos], g.tail[pos]]))
    if not len(sources):
        raise ValueError("personalized pagerank needs at least one source node")
    r = ppr_arrays(g.head, g.tail, w, g.n_vertices, sources, float(cfg.pagerank_damping),
                   cfg.pagerank_max_iter, cfg.pagerank_tol)
    doc_w = np.bincount(g.m_doc, weights=r[g.m_vertex], minlength=len(g.doc_ids))
    top = np.lexsort((np.arange(len(doc_w)), -doc_w))[:k]
    return _local_relation(spark, g.doc_type, [(g.doc_ids[i], float(doc_w[i])) for i in top])


def _local_relation(spark, doc_type: str, ranked: list) -> DataFrame:
    """(doc_id, weight) rows as a parameterized VALUES, which plans as a
    LocalTableScan: collecting it, or joining it as answer_question does,
    runs no Spark job (a createDataFrame(list) is RDD-backed and runs one
    per action)."""
    rows = ", ".join(f"(:d{i}, :w{i})" for i in range(len(ranked))) or "(NULL, 0.0D)"
    args = {}
    for i, (d, w) in enumerate(ranked):
        args[f"d{i}"], args[f"w{i}"] = d, w
    return spark.sql(
        f"SELECT CAST(doc_id AS {doc_type}) AS doc_id, round(weight, 6) AS weight "
        f"FROM VALUES {rows} AS t(doc_id, weight)" + ("" if ranked else " LIMIT 0"),
        args=args,
    )


@functools.lru_cache(maxsize=1 << 16)
def _trigram_hash(tri: str) -> int:
    # the sha256 is nearly all of an embedding's cost, and texts share
    # most of their trigrams
    return int.from_bytes(hashlib.sha256(tri.encode()).digest()[:8], "big")


def hash_embed_text(text: str, dim: int = 64) -> list[float]:
    """Deterministic trigram feature-hash embedding, unit norm."""
    v = np.zeros(dim, dtype=np.float64)
    t = f"^{text}$"
    for i in range(len(t) - 2):
        h = _trigram_hash(t[i : i + 3])
        v[h % dim] += 1.0 if (h >> 8) % 2 == 0 else -1.0
    n = math.sqrt(float((v * v).sum()))
    if n > 0:
        v /= n
    return [float(x) for x in v]


def embed_column(df: DataFrame, text_col: str, out_col: str = "embedding",
                 dim: int = 64, dtype=None) -> DataFrame:
    """U5: batched Arrow-native embedding of a text column.

    ``dtype`` defaults to float32 (the stored-index convention); query-side
    embeddings pass DoubleType so the batch path carries the same float64
    query vector the single-query path injects as literals — LSH bucket
    signs then replay bit-exactly in the SQL oracle."""
    from pyspark.sql.types import DoubleType  # noqa: F401 (callers import via here)

    @F.pandas_udf(ArrayType(dtype or FloatType()))
    def emb(texts: pd.Series) -> pd.Series:
        return texts.map(lambda t: hash_embed_text(t or "", dim))

    return df.withColumn(out_col, emb(F.col(text_col)))


def index_edges(edges: DataFrame, dim: int = 64, config: KGConfig | None = None) -> DataFrame:
    """S10 analog: materialized (edge_id, description, embedding, lsh) table.

    ``lsh`` holds one LSH bucket id per table under ``config``'s
    ``ann_bits``/``ann_tables`` — the index the reference builds once
    (back/kgg/retriever.py:62-68). The codes are computed in the Arrow pass
    that embeds the description (ann.lsh_code_matrix, bit-identical to
    ann.lsh_bucket_expr on the stored float32 components) and tagged with
    their parameters, so ann_lsh probes them with int compares and
    re-derives them for a query under other parameters."""
    from knowledgegraphbuilder_spark.operators.ann import lsh_code_matrix, lsh_params

    cfg = config or KGConfig()
    n_bits, n_tables = cfg.ann_bits, cfg.ann_tables
    seed = 42  # the hyperplane seed retrieve_documents probes with (ann_lsh's default)

    @F.pandas_udf("embedding array<float>, lsh array<int>")
    def emb(texts: pd.Series) -> pd.DataFrame:
        vecs = np.array([hash_embed_text(t or "", dim) for t in texts],
                        dtype=np.float32).reshape(len(texts), dim)
        codes = lsh_code_matrix(vecs, n_bits, n_tables, seed)
        return pd.DataFrame({"embedding": list(vecs), "lsh": list(codes)})

    meta = lsh_params(dim, n_bits, n_tables, seed, "embedding")
    return (
        edges.select("edge_id", "description")
        .withColumn("e", emb(F.col("description")))
        .select("edge_id", "description", "e.embedding",
                F.col("e.lsh").alias("lsh", metadata=meta))
    )


def retrieve_documents(
    edges: DataFrame,
    membership: DataFrame,
    edge_index: DataFrame,
    query: str,
    config: KGConfig | None = None,
    k: int | None = None,
    use_lsh: bool = True,
) -> DataFrame:
    """Full QA retrieval: (doc_id, weight) top-k, reproducing retriever.py:62-94.

    The vector top-k probes the LSH buckets of the query (union over
    ``cfg.ann_tables`` tables) against the codes index_edges stored at index
    time: ``ann_tables`` int compares per indexed edge and a cosine only per
    candidate (an index without codes for ``cfg`` gets them derived in-plan,
    a projection of every edge per question). ``use_lsh=False`` keeps the
    exact scan as the small-scale test oracle.

    Under ``_PPR_SMALL_GRAPH_THRESHOLD`` edges the rest runs on the driver,
    from the handle built on the first question over this ``edges`` object:
    ``edges`` (edge_id, endpoints, weight) and ``membership`` (node_id,
    doc_id) are collected once via Arrow, and rebuilt only for another
    ``membership`` object or threshold. A question then costs one Spark job,
    the vector top-k ``collect()``; the weight update, PPR, membership sum
    and ranking are numpy, and the result is a parameterized VALUES (a
    LocalTableScan). ``edges`` must be pinned: the handle, like the edge
    count it replaces, never notices new rows under the same object.
    Otherwise every step stays a distributed DataFrame op."""
    from knowledgegraphbuilder_spark.operators.ann import ann_lsh

    cfg = config or KGConfig()
    k = k or cfg.retrieval_k
    qv = hash_embed_text(query, cfg.embedding_dim)

    # T2: vector top-k over edge descriptions (inner product == cosine, both
    # normalized). LSH probe + exact rescore by default; full scan as oracle.
    if use_lsh:
        top_edges = ann_lsh(
            edge_index, qv, k, dim=cfg.embedding_dim,
            n_bits=cfg.ann_bits, n_tables=cfg.ann_tables,
            id_col="edge_id", vec_col="embedding",
        )
    else:
        top_edges = topk_bruteforce(edge_index, qv, k, id_col="edge_id", vec_col="embedding")
    top_edges = top_edges.select(F.col("id").alias("edge_id"), F.col("score"))
    g = _serving_graph(edges, membership)
    if g.edge_pos is not None:
        return _retrieve_on_driver(g, edges.sparkSession, top_edges.collect(), cfg, k)
    # k rows, consumed twice (weight update + source extraction): pin it so
    # the LSH probe/scan doesn't run once per consumer
    top_edges = top_edges.localCheckpoint()

    # G2: join-update edge weights (reference does one UPDATE per edge,
    # io/graph.py:88-95 — ours is one bulk join). Retrieved cosine scores can
    # be <= 0; PPR divides by summed out-weight, so clamp to a positive floor
    # instead of silently producing negative transition probabilities.
    # NOTE: not coalesce(greatest(score, floor), default) — greatest SKIPS
    # nulls (Spark and DuckDB alike), which would silently floor every
    # non-retrieved edge to 1e-6 instead of keeping its 0.2 default
    weighted = edges.join(top_edges, "edge_id", "left").withColumn(
        "weight",
        F.when(F.col("score").isNotNull(), F.greatest(F.col("score"), F.lit(1.0e-6)))
        .otherwise(F.col("weight").cast("double")),
    ).select("edge_id", "head_node_id", "tail_node_id", "weight")

    # J3: endpoint nodes of retrieved edges
    sources = (
        edges.join(top_edges, "edge_id")
        .select(F.explode(F.array("head_node_id", "tail_node_id")).alias("node_id"))
        .distinct()
    )

    # G3: personalized PageRank (damping 0.85, <=100 iters, weighted,
    # undirected). `weighted` has exactly one row per edge, so the handle's
    # capped count stands in for the PPR scale probe.
    ranks = personalized_pagerank(
        weighted, sources, cfg.pagerank_damping, cfg.pagerank_max_iter,
        cfg.pagerank_tol, n_edges=g.n_edges,
    )

    # J4 + A5: sum node scores into document weights through membership
    # (batched variant: retrieve_documents_batch below)
    doc_w = (
        membership.join(ranks, "node_id")
        .groupBy("doc_id")
        .agg(F.sum("score").alias("weight"))
    )
    # T3: top-k docs, deterministic tie-break; weight rounded for portable
    # value comparison (ordering is on the unrounded sum)
    return (
        doc_w.orderBy(F.desc("weight"), F.col("doc_id")).limit(k)
        .select("doc_id", F.round("weight", 6).alias("weight"))
    )


def retrieve_documents_batch(
    edges: DataFrame,
    membership: DataFrame,
    edge_index: DataFrame,
    queries: DataFrame,
    config: KGConfig | None = None,
    k: int | None = None,
    use_lsh: bool = True,
) -> DataFrame:
    """Batched QA retrieval: ``queries(query_id, query_text)`` ->
    ``(query_id, doc_id, weight)`` top-k per query — semantically one
    :func:`retrieve_documents` per row, executed as ONE plan.

    Scale shape: all query texts embed in one Arrow pass; the vector top-k
    probes each query's LSH buckets via one int (table, bucket) equi-join
    against the edge index's stored codes, posexploded — the FAISS-probe
    analog (back/kgg/retriever.py:62-68); cosine runs only on the matched
    candidates (``use_lsh=False`` keeps the exact batch scan as the
    small-scale oracle). Per-query weighted graph views are an explicit
    (query_id, edge) expansion — per-query edge weights are what G2 *means*,
    so the q-fold state is inherent, but the iteration count stays max_iter
    Spark jobs TOTAL via the query-keyed batched PPR instead of q
    independent loops.
    Tests pin batch == per-query singles."""
    from knowledgegraphbuilder_spark.operators.ann import (
        ann_lsh_batch,
        topk_bruteforce_batch,
    )
    from knowledgegraphbuilder_spark.operators.pagerank import (
        personalized_pagerank_batch,
    )
    from pyspark.sql.types import DoubleType

    cfg = config or KGConfig()
    k = k or cfg.retrieval_k
    q_emb = embed_column(
        queries.select(F.col("query_id").cast("string").alias("query_id"),
                       F.col("query_text")),
        "query_text", "embedding", cfg.embedding_dim, dtype=DoubleType(),
    )
    if use_lsh:
        top = ann_lsh_batch(
            edge_index, q_emb, k, dim=cfg.embedding_dim,
            n_bits=cfg.ann_bits, n_tables=cfg.ann_tables,
            id_col="edge_id", vec_col="embedding",
            qid_col="query_id", qvec_col="embedding",
        )
    else:
        top = topk_bruteforce_batch(
            edge_index, q_emb, k,
            id_col="edge_id", vec_col="embedding",
            qid_col="query_id", qvec_col="embedding",
        )
    top = top.select("query_id", F.col("id").alias("edge_id"), "score")
    top = top.localCheckpoint()  # k x q rows, consumed three times

    qids = top.select("query_id").distinct()
    weighted = (
        edges.select("edge_id", "head_node_id", "tail_node_id", "weight")
        .crossJoin(F.broadcast(qids))
        .join(top, ["query_id", "edge_id"], "left")
        .withColumn(
            "weight",
            F.when(F.col("score").isNotNull(),
                   F.greatest(F.col("score"), F.lit(1.0e-6)))
            .otherwise(F.col("weight").cast("double")),
        )
        .select("query_id", "head_node_id", "tail_node_id", "weight")
    )
    sources = (
        edges.join(top, "edge_id")
        .select("query_id",
                F.explode(F.array("head_node_id", "tail_node_id")).alias("node_id"))
        .distinct()
    )
    ranks = personalized_pagerank_batch(
        weighted, sources, cfg.pagerank_damping, cfg.pagerank_max_iter,
        cfg.pagerank_tol,
    )
    doc_w = (
        membership.join(ranks, "node_id")
        .groupBy("query_id", "doc_id")
        .agg(F.sum("score").alias("weight"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("weight"), F.col("doc_id"))
    return (
        doc_w.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "doc_id", F.round("weight", 6).alias("weight"))
    )
