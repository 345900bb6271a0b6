"""Batched multi-query retrieval == per-query singles.

The batched path exists so q concurrent queries cost max_iter Spark jobs
total instead of q x max_iter; semantics must be exactly one
retrieve_documents per query (same embeddings, same top-edges, same per-query
weighted PPR, same doc ranking).
"""

import pytest

from knowledgegraphbuilder_spark.config import KGConfig
from knowledgegraphbuilder_spark.operators.pagerank import (
    personalized_pagerank,
    personalized_pagerank_batch,
)
from knowledgegraphbuilder_spark.operators.retrieval import (
    index_edges,
    retrieve_documents,
    retrieve_documents_batch,
)
from knowledgegraphbuilder_spark.plans.pipeline import run_pipeline

QUERIES = [
    ("q0", "which customer stream uses spark"),
    ("q1", "vector table technology"),
    ("q2", "stream system customer"),
]


@pytest.fixture(scope="module")
def kg(corpus_df):
    return run_pipeline(corpus_df, KGConfig(), materialize="ckpt")


@pytest.mark.parametrize("use_lsh", [False, True])
def test_batch_retrieval_equals_singles(spark, kg, use_lsh):
    cfg = KGConfig()
    idx = index_edges(kg.edges, cfg.embedding_dim).localCheckpoint()
    queries = spark.createDataFrame(QUERIES, "query_id string, query_text string")
    batch = {
        (r["query_id"], r["doc_id"]): r["weight"]
        for r in retrieve_documents_batch(
            kg.edges, kg.membership, idx, queries, cfg, use_lsh=use_lsh
        ).collect()
    }
    singles = {}
    for qid, text in QUERIES:
        for r in retrieve_documents(
            kg.edges, kg.membership, idx, text, cfg, use_lsh=use_lsh
        ).collect():
            singles[(qid, r["doc_id"])] = r["weight"]
    assert set(batch) == set(singles)
    for key in batch:
        assert batch[key] == pytest.approx(singles[key], abs=1e-6)


def test_batch_lsh_probe_no_corpus_crossjoin(spark, kg):
    """The batched T2 must never expand corpus x queries: the LSH batch path
    joins bucketed vectors to broadcast query buckets on (table, bucket), so
    the only nested-loop join allowed in the plan is broadcast-sized."""
    cfg = KGConfig()
    idx = index_edges(kg.edges, cfg.embedding_dim)
    from knowledgegraphbuilder_spark.operators.ann import ann_lsh_batch
    from knowledgegraphbuilder_spark.operators.retrieval import embed_column
    from pyspark.sql.types import DoubleType

    queries = spark.createDataFrame(QUERIES, "query_id string, query_text string")
    q_emb = embed_column(queries, "query_text", "embedding",
                         cfg.embedding_dim, dtype=DoubleType())
    plan = ann_lsh_batch(
        idx, q_emb, 5, dim=cfg.embedding_dim,
        n_bits=cfg.ann_bits, n_tables=cfg.ann_tables,
        id_col="edge_id", vec_col="embedding",
    )._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ann_lsh_batch_equals_per_query_lsh(spark, sf_dir):
    """ann_lsh_batch(queries) == one ann_lsh per query vector."""
    from knowledgegraphbuilder_spark.operators import ann as ann_ops
    from pyspark.sql import functions as F

    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = embs.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    batch = {
        (r["query_id"], r["id"]): (r["score"], r["rank"])
        for r in ann_ops.ann_lsh_batch(
            embs, queries, k=5, n_bits=4, n_tables=8
        ).collect()
    }
    singles = {}
    for qrow in queries.collect():
        for r in ann_ops.ann_lsh(
            embs, list(qrow["embedding"]), k=5, n_bits=4, n_tables=8
        ).collect():
            singles[(str(qrow["query_id"]), r["id"])] = r["score"]
    assert set(batch) == set(singles)
    for key, (score, _rank) in batch.items():
        assert score == pytest.approx(singles[key], abs=1e-9)


def test_batch_ppr_matches_single_distributed(spark):
    """Queries do not leak into each other: two queries run together in the
    query-keyed distributed loop score each query exactly as that query run
    alone (personalized_pagerank, one query), on a shared graph with
    per-query weight views."""
    edges = []
    for i in range(12):
        edges.append((f"n{i}", f"n{(i * 3 + 1) % 12}", 0.2 + 0.05 * (i % 4)))
    rows = []
    for qid, boost in (("a", 2.0), ("b", 5.0)):
        for s, d, w in edges:
            rows.append((qid, s, d, w * (boost if s == "n0" else 1.0)))
    e_batch = spark.createDataFrame(
        rows, "query_id string, head_node_id string, tail_node_id string, weight double"
    )
    src = spark.createDataFrame(
        [("a", "n0"), ("a", "n5"), ("b", "n2")], "query_id string, node_id string"
    )
    got = {
        (r["query_id"], r["node_id"]): r["score"]
        for r in personalized_pagerank_batch(
            e_batch, src, 0.85, 20, 1e-300, small_graph_threshold=0
        ).collect()
    }
    for qid in ("a", "b"):
        e_single = e_batch.filter(f"query_id = '{qid}'").drop("query_id")
        s_single = src.filter(f"query_id = '{qid}'").drop("query_id")
        want = {
            r["node_id"]: r["score"]
            for r in personalized_pagerank(
                e_single, s_single, 0.85, 20, 1e-300, small_graph_threshold=0
            ).collect()
        }
        got_q = {n: s for (q, n), s in got.items() if q == qid}
        assert set(got_q) == set(want)
        for n in want:
            assert got_q[n] == pytest.approx(want[n], abs=1e-9)


def test_batch_ppr_driver_equals_distributed(spark):
    """Driver-path numpy sweep == distributed query-keyed loop."""
    rows = [("a", "x", "y", 1.0), ("a", "y", "z", 2.0), ("b", "x", "y", 3.0)]
    e = spark.createDataFrame(
        rows, "query_id string, head_node_id string, tail_node_id string, weight double"
    )
    src = spark.createDataFrame([("a", "x"), ("b", "z")],
                                "query_id string, node_id string")
    drv = {
        (r["query_id"], r["node_id"]): r["score"]
        for r in personalized_pagerank_batch(e, src, 0.85, 25, 1e-300).collect()
    }
    dist = {
        (r["query_id"], r["node_id"]): r["score"]
        for r in personalized_pagerank_batch(
            e, src, 0.85, 25, 1e-300, small_graph_threshold=0
        ).collect()
    }
    assert set(drv) == set(dist)
    for key in drv:
        assert drv[key] == pytest.approx(dist[key], abs=1e-9)


def test_stored_codes_rank_like_derived_codes(spark, kg):
    """Retrieval over an index that stores its LSH codes == over the same
    index with the codes dropped (derived in-plan) — single and batch."""
    cfg = KGConfig()
    idx = index_edges(kg.edges, cfg.embedding_dim, cfg).localCheckpoint()
    bare = idx.drop("lsh")
    queries = spark.createDataFrame(QUERIES[:2], "query_id string, query_text string")
    for text in (QUERIES[0][1], QUERIES[1][1]):
        got = retrieve_documents(kg.edges, kg.membership, idx, text, cfg).collect()
        want = retrieve_documents(kg.edges, kg.membership, bare, text, cfg).collect()
        assert [tuple(r) for r in got] == [tuple(r) for r in want] and got
    got = retrieve_documents_batch(kg.edges, kg.membership, idx, queries, cfg)
    want = retrieve_documents_batch(kg.edges, kg.membership, bare, queries, cfg)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_stale_codes_are_rederived(spark, kg):
    """An index built under ann_bits=4 and queried with ann_bits=3 must not
    probe its stored 4-bit codes: the ranking equals a freshly indexed
    3-bit run."""
    from knowledgegraphbuilder_spark.operators.ann import ann_lsh, lsh_codes
    from knowledgegraphbuilder_spark.operators.retrieval import hash_embed_text

    cfg4, cfg3 = KGConfig(ann_bits=4), KGConfig(ann_bits=3)
    stale = index_edges(kg.edges, cfg4.embedding_dim, cfg4).localCheckpoint()
    fresh = index_edges(kg.edges, cfg3.embedding_dim, cfg3).localCheckpoint()
    text = QUERIES[0][1]
    got = retrieve_documents(kg.edges, kg.membership, stale, text, cfg3).collect()
    want = retrieve_documents(kg.edges, kg.membership, fresh, text, cfg3).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want] and got
    # the probe itself: stale codes are re-derived, fresh ones are read
    qv = hash_embed_text(text, cfg3.embedding_dim)
    args = dict(dim=cfg3.embedding_dim, n_bits=3, n_tables=cfg3.ann_tables,
                id_col="edge_id", vec_col="embedding")
    assert (sorted(map(tuple, ann_lsh(stale, qv, 10, **args).collect()))
            == sorted(map(tuple, ann_lsh(fresh, qv, 10, **args).collect())))
    codes3 = lsh_codes(stale, cfg3.embedding_dim, 3, cfg3.ann_tables, id_col="edge_id")
    assert max(b for r in codes3.select("lsh").collect() for b in r[0]) < 8


def test_stored_code_probe_has_no_projection(spark, kg):
    """The per-question probe over index_edges output filters on the stored
    int codes: no aggregate/zip_with hyperplane term in its Filter."""
    from knowledgegraphbuilder_spark.operators.ann import ann_lsh
    from knowledgegraphbuilder_spark.operators.retrieval import hash_embed_text

    cfg = KGConfig()
    idx = index_edges(kg.edges, cfg.embedding_dim, cfg)
    top = ann_lsh(idx, hash_embed_text(QUERIES[0][1], cfg.embedding_dim), 5,
                  dim=cfg.embedding_dim, n_bits=cfg.ann_bits, n_tables=cfg.ann_tables,
                  id_col="edge_id", vec_col="embedding")
    plan = top._jdf.queryExecution().executedPlan().toString()
    filters = [ln for ln in plan.splitlines() if "Filter" in ln]
    assert [ln for ln in filters if "lsh[7] = " in ln], plan
    assert not any("aggregate(" in ln or "zip_with(" in ln for ln in filters), plan
