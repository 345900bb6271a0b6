"""Unit tests for the tranche-49 operators: Good-Turing coverage and the
duplicate-cluster histogram (the Gini coefficient moved to
``test_global_rank.py``)."""

from knowledgegraphbuilder_spark.operators.dedup import dup_cluster_histogram
from knowledgegraphbuilder_spark.operators.textstats import (
    good_turing_coverage,
)


class TestGoodTuring:
    def test_hand_computed_counts(self, spark):
        # tokens: a a a b b c d -> N=7, V=4, n1=2 (c,d), n2=1 (b)
        rows = [(0, "a a a b"), (1, "b c d")]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        r = good_turing_coverage(df).collect()[0]
        assert r["n_tokens"] == 7
        assert r["vocab"] == 4
        assert r["n_hapax"] == 2
        assert r["n_dis"] == 1
        assert r["p_unseen"] == round(2 / 7, 6)
        assert r["coverage"] == round(5 / 7, 6)

    def test_saturated_corpus_has_full_coverage(self, spark):
        rows = [(i, "x y x y") for i in range(3)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        r = good_turing_coverage(df).collect()[0]
        assert r["n_hapax"] == 0
        assert r["coverage"] == 1.0


class TestDupClusterHist:
    def test_histogram_and_savings(self, spark):
        rows = (
            [(i, "dup text!") for i in range(3)]       # one cluster of 3
            + [(10, "pair"), (11, "pair")]             # one cluster of 2
            + [(20, "solo a"), (21, "solo bb")]        # two singletons
        )
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = {r["cluster_size"]: r for r in dup_cluster_histogram(df).collect()}
        assert out[3]["n_clusters"] == 1
        assert out[3]["n_docs"] == 3
        assert out[3]["saved_bytes"] == 2 * len("dup text!")
        assert out[2]["saved_bytes"] == len("pair")
        assert out[1]["n_clusters"] == 2
        assert out[1]["saved_bytes"] == 0
