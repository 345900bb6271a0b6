"""``functions/rank.py``: ``global_rank`` against the global-sort window,
``ntile`` against window ntile, the operators that rank through them, and
a plan check that no single-partition exchange moves row-level data."""

import json

import pytest
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from knowledgegraphbuilder_spark.functions.rank import global_rank, ntile
from knowledgegraphbuilder_spark.operators.graphstats import (
    negative_sample_edges,
)
from knowledgegraphbuilder_spark.operators.mlstats import (
    gini_coefficient,
    lorenz_deciles,
)
from knowledgegraphbuilder_spark.operators.textstats import ccnet_buckets
from knowledgegraphbuilder_spark.sources.interleaved import (
    read_jsonl_documents,
)


def single_partition_rows(df):
    """Run ``df`` and return the ``shuffleRecordsWritten`` of every
    SinglePartition shuffle exchange in its executed (adaptive) plan."""
    df.collect()
    out = []

    def walk(node):
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            return walk(node.executedPlan())
        if name.endswith("QueryStageExec"):
            return walk(node.plan())
        if name == "ReusedExchangeExec":
            return walk(node.child())
        if (name == "ShuffleExchangeExec"
                and node.outputPartitioning().toString() == "SinglePartition"):
            out.append(node.metrics().apply("shuffleRecordsWritten").value())
        kids = node.children()
        for i in range(kids.size()):
            walk(kids.apply(i))

    walk(df._jdf.queryExecution().executedPlan())
    return out


def _ref_rank(df, *order):
    return {
        r[0]: r[1]
        for r in df.select(
            df.columns[0], (F.row_number().over(W.orderBy(*order)) - 1)
        ).collect()
    }


def _names(spark, n, diverse):
    name = (F.substring(F.sha2(F.col("id").cast("string"), 256), 1, 12)
            if diverse else F.format_string("N%010d", "id"))
    return spark.range(n).select(name.alias("node"))


@pytest.mark.parametrize("diverse", [True, False], ids=["diverse", "shared"])
def test_rank_equals_global_sort(spark, diverse):
    df = _names(spark, 3000, diverse)
    got = {r.node: (r.rank, r.n) for r in global_rank(df, "node").collect()}
    assert got == {k: (v, 3000) for k, v in _ref_rank(df, "node").items()}


def test_rank_desc_key(spark):
    df = spark.range(500).select(
        F.format_string("d%d", "id").alias("doc_id"),
        (F.col("id") % 17).alias("s"),
    )
    got = {r.doc_id: r.rank
           for r in global_rank(df, F.desc("s"), "doc_id").collect()}
    assert got == _ref_rank(df, F.desc("s"), "doc_id")


def test_rank_empty_and_one_row(spark):
    empty = spark.createDataFrame([], "node string")
    assert global_rank(empty, "node").collect() == []
    one = global_rank(spark.createDataFrame([("a",)], "node string"), "node")
    assert [tuple(r) for r in one.collect()] == [("a", 0, 1)]


def test_shared_prefix_names_split_across_partitions(spark):
    n = 20_000
    nparts = spark.sparkContext.defaultParallelism
    sizes = [
        r["count"]
        for r in global_rank(_names(spark, n, diverse=False), "node")
        .groupBy(F.spark_partition_id()).count().collect()
    ]
    assert len(sizes) == nparts
    assert max(sizes) <= 2 * n / nparts


@pytest.mark.parametrize("tiles", [1, 3, 5, 10])
def test_ntile_equals_window_ntile(spark, tiles):
    sizes = [0, 1, 3, 9, 10, 47]
    df = spark.createDataFrame(
        [(n, i) for n in sizes for i in range(n)], "n long, i long"
    )
    got = df.select(
        "n", "i",
        ntile("i", "n", tiles).alias("got"),
        F.ntile(tiles).over(W.partitionBy("n").orderBy("i")).alias("ref"),
    ).collect()
    assert len(got) == sum(sizes)
    assert all(r.got == r.ref for r in got), [r for r in got if r.got != r.ref]


def _jsonl(spark, tmp_path):
    path = tmp_path / "docs.jsonl"
    path.write_text("".join(
        json.dumps({"text": f"doc {i} w{i % 13} w{i % 7}"}) + "\n"
        for i in range(5000)
    ))
    return read_jsonl_documents(spark, str(path))


_RANKED = {
    "global_rank": lambda spark, tmp: global_rank(
        _names(spark, 5000, diverse=False), "node"),
    "lorenz_deciles": lambda spark, tmp: lorenz_deciles(
        spark.range(5000).select((F.col("id") % 97).alias("v"), "id"),
        "v", "id"),
    "gini_coefficient": lambda spark, tmp: gini_coefficient(
        spark.range(5000).select((F.col("id") % 97).alias("v"), "id"),
        "v", "id"),
    "ccnet_buckets": lambda spark, tmp: ccnet_buckets(
        spark.range(5000).select(
            F.col("id").alias("doc_id"),
            F.format_string("w%d w%d the w%d", F.col("id") % 13,
                            F.col("id") % 7, F.col("id") % 5).alias("text"),
        )),
    "negative_sample_edges": lambda spark, tmp: negative_sample_edges(
        spark.range(5000).select(
            F.format_string("N%010d", "id").alias("src"),
            F.format_string("N%010d", (F.col("id") * 7 + 1) % 5000)
            .alias("dst"),
        ), k=2),
    "read_jsonl_documents": _jsonl,
}


@pytest.mark.parametrize("op", sorted(_RANKED))
def test_no_single_partition_exchange_moves_rows(spark, tmp_path, op):
    moved = single_partition_rows(_RANKED[op](spark, tmp_path))
    assert all(m <= 64 for m in moved), moved


class TestLorenz:
    def test_uniform_values_linear_curve(self, spark):
        df = spark.createDataFrame(
            [(i, 10) for i in range(10)], "doc_id long, n_chars long"
        )
        out = sorted(lorenz_deciles(df).collect(), key=lambda r: r["decile"])
        assert len(out) == 10
        for i, r in enumerate(out, 1):
            assert r["n_docs"] == 1 and r["sum_x"] == 10
            assert abs(r["cum_share"] - round(i / 10, 6)) < 1e-9

    def test_concentrated_mass(self, spark):
        # 9 docs of 0 chars + 1 doc of 100: bottom 9 deciles share 0
        df = spark.createDataFrame(
            [(i, 0) for i in range(9)] + [(9, 100)],
            "doc_id long, n_chars long",
        )
        out = sorted(lorenz_deciles(df).collect(), key=lambda r: r["decile"])
        assert all(r["cum_share"] == 0.0 for r in out[:9])
        assert abs(out[9]["cum_share"] - 1.0) < 1e-9


class TestGini:
    def test_uniform_distribution_is_zero(self, spark):
        rows = [(i, 5) for i in range(10)]
        df = spark.createDataFrame(rows, "id long, x long")
        assert gini_coefficient(df, "x", "id").collect()[0]["gini"] == 0.0

    def test_hand_computed(self, spark):
        # values 1, 2, 3, 4 ascending: G = 2*(1+4+9+16)/(4*10) - 5/4 = 0.25
        rows = [(i, i + 1) for i in range(4)]
        df = spark.createDataFrame(rows, "id long, x long")
        r = gini_coefficient(df, "x", "id").collect()[0]
        assert r["n"] == 4
        assert r["total"] == 10
        assert r["gini"] == 0.25

    def test_extreme_concentration(self, spark):
        # one key carries everything: G = (n-1)/n
        rows = [(i, 0) for i in range(9)] + [(9, 100)]
        df = spark.createDataFrame(rows, "id long, x long")
        assert gini_coefficient(df, "x", "id").collect()[0]["gini"] == 0.9


class TestCcnetBuckets:
    def test_tiers_partition_and_order(self, spark):
        # 6 docs: two are repetitive gibberish, four read alike -> the
        # alike docs land in the head tiers, gibberish in the tail
        rows = [
            (0, "the cat sat on the mat"),
            (1, "the cat sat on the mat"),
            (2, "the dog sat on the mat"),
            (3, "the cat lay on the mat"),
            (4, "zz qq vv kk jj ww"),
            (5, "qq zz ww vv kk jj"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = {r["tier"]: r for r in ccnet_buckets(df, n_tiers=3).collect()}
        assert set(out) == {1, 2, 3}
        assert sum(r["n_docs"] for r in out.values()) == 6
        # tiers are perplexity-ordered: head max <= middle min, etc.
        assert out[1]["max_ppl"] <= out[2]["min_ppl"]
        assert out[2]["max_ppl"] <= out[3]["min_ppl"]
        # gibberish docs (4, 5) have the highest perplexity -> tail tier
        assert out[3]["n_docs"] == 2
        assert out[3]["total_tokens"] == 12

    def test_mean_is_decimal_exact(self, spark):
        rows = [(i, "a b c") for i in range(3)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = ccnet_buckets(df, n_tiers=1).collect()
        assert len(out) == 1
        r = out[0]
        # identical docs -> mean == min == max
        assert r["mean_ppl"] == round(r["min_ppl"], 6) == round(r["max_ppl"], 6)
