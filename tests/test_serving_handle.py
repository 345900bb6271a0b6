"""The per-graph serving handle: small-graph retrieve_documents answers from
driver-side arrays collected once per pinned edges DataFrame, and must rank
exactly as the distributed path does."""

import gc
import hashlib
import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from knowledgegraphbuilder_spark.config import KGConfig
from knowledgegraphbuilder_spark.operators import retrieval
from knowledgegraphbuilder_spark.operators.retrieval import (
    hash_embed_text,
    index_edges,
    retrieve_documents,
)
from knowledgegraphbuilder_spark.plans.pipeline import run_pipeline

QUERIES = [
    "which customer stream uses spark",
    "vector table technology",
    "stream system customer",
]


@pytest.fixture(scope="module")
def kg(corpus_df):
    return run_pipeline(corpus_df, KGConfig(), materialize="ckpt")


@pytest.fixture(scope="module")
def idx(kg):
    return index_edges(kg.edges, KGConfig().embedding_dim).localCheckpoint()


def _ranked(df):
    return [(r["doc_id"], r["weight"]) for r in df.collect()]


def _assert_same(got, want):
    assert [d for d, _ in got] == [d for d, _ in want]
    for (_, a), (_, b) in zip(got, want):
        assert a == pytest.approx(b, abs=1e-6)


@pytest.mark.parametrize("use_lsh", [True, False])
def test_handle_equals_distributed_path(kg, idx, monkeypatch, use_lsh):
    cfg = KGConfig()
    got = [_ranked(retrieve_documents(kg.edges, kg.membership, idx, q, cfg, use_lsh=use_lsh))
           for q in QUERIES]
    monkeypatch.setattr(retrieval, "_PPR_SMALL_GRAPH_THRESHOLD", 0)
    for q, ranked in zip(QUERIES, got):
        assert len(ranked) == cfg.retrieval_k
        _assert_same(ranked, _ranked(
            retrieve_documents(kg.edges, kg.membership, idx, q, cfg, use_lsh=use_lsh)))


def test_warm_handle_answers_in_one_job(spark, kg, idx):
    cfg = KGConfig()
    retrieve_documents(kg.edges, kg.membership, idx, QUERIES[0], cfg).collect()  # warm
    sc = spark.sparkContext
    sc.setJobGroup("serving-handle-one-job", "warm handle question")
    try:
        top = retrieve_documents(kg.edges, kg.membership, idx, QUERIES[1], cfg)
        assert len(top.collect()) == cfg.retrieval_k
        assert len(sc.statusTracker().getJobIdsForGroup("serving-handle-one-job")) == 1
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert top._jdf.queryExecution().executedPlan().nodeName() == "LocalTableScan"


def test_handle_follows_membership_and_edges_lifetime(kg, idx, monkeypatch):
    cfg = KGConfig()
    edges = kg.edges.select("*")  # an edges object only this test holds
    first = _ranked(retrieve_documents(edges, kg.membership, idx, QUERIES[0], cfg))
    assert edges in retrieval._SERVING

    other = kg.membership.filter(F.col("doc_id") != first[0][0])
    got = _ranked(retrieve_documents(edges, other, idx, QUERIES[0], cfg))
    assert first[0][0] not in [d for d, _ in got]
    with monkeypatch.context() as m:
        m.setattr(retrieval, "_PPR_SMALL_GRAPH_THRESHOLD", 0)
        _assert_same(got, _ranked(retrieve_documents(edges, other, idx, QUERIES[0], cfg)))

    n = len(retrieval._SERVING)
    del edges
    gc.collect()
    assert len(retrieval._SERVING) == n - 1


def _embed_unmemoized(text, dim):
    v = np.zeros(dim, dtype=np.float64)
    t = f"^{text}$"
    for i in range(len(t) - 2):
        h = int.from_bytes(hashlib.sha256(t[i : i + 3].encode()).digest()[:8], "big")
        v[h % dim] += 1.0 if (h >> 8) % 2 == 0 else -1.0
    n = math.sqrt(float((v * v).sum()))
    if n > 0:
        v /= n
    return [float(x) for x in v]


@pytest.mark.parametrize("dim", [16, 64])
def test_memoized_trigram_hash_is_bit_identical(dim):
    texts = ["", "a", "über straße — 数据流 ☃", "aaaaaaaaaaaa", "stream stream stream",
             "which customer stream uses spark"]
    for _ in range(2):  # the second pass reads every trigram from the cache
        for t in texts:
            assert hash_embed_text(t, dim) == _embed_unmemoized(t, dim)
    assert retrieval._trigram_hash.cache_info().hits > 0
