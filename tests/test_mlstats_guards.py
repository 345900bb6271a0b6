"""Loud-degradation guards for the cumulative-window-over-histogram
operators (r4 verdict watch item): a high-cardinality continuous feature
must raise with a clear message, not silently single-task-sort the corpus."""

import pytest
from pyspark.sql import functions as F

from knowledgegraphbuilder_spark.operators.mlstats import (
    decision_stump,
    mann_whitney,
    roc_auc,
    spearman,
)


def _million(spark):
    # 10^6 distinct feature values
    return spark.range(1_000_000).select(
        F.col("id").alias("v"), (F.col("id") % 2).cast("int").alias("y")
    )


def test_decision_stump_guard_raises_on_high_cardinality(spark):
    df = _million(spark)
    with pytest.raises(Exception, match="decision_stump.*bin/bucket"):
        decision_stump(df, "v", "y", max_distinct=500_000).collect()


def test_roc_auc_guard_raises_on_high_cardinality(spark):
    df = _million(spark)
    with pytest.raises(Exception, match="roc_auc.*bin/bucket"):
        roc_auc(df, "v", "y", max_distinct=500_000).collect()


def test_mann_whitney_guard_raises_on_high_cardinality(spark):
    df = _million(spark)
    with pytest.raises(Exception, match="mann_whitney.*bin/bucket"):
        mann_whitney(df, "v", "y", max_distinct=500_000).collect()


def test_spearman_guard_raises_on_high_cardinality(spark):
    df = _million(spark)
    with pytest.raises(Exception, match="spearman.*bin/bucket"):
        spearman(df, "v", "v + 1", max_distinct=500_000).collect()


def test_guard_passes_below_bound_and_survives_optimizer(spark):
    # the filter must keep Catalyst from pruning the check away, and a
    # histogram inside the bound must produce unchanged results
    df = spark.range(1000).select(
        (F.col("id") % 10).alias("v"),
        (F.col("id") % 2).cast("int").alias("y"),
    )
    r = roc_auc(df, "v", "y").collect()[0]
    assert r.n_pos == 500 and r.n_neg == 500
    plan = roc_auc(df, "v", "y")._jdf.queryExecution().executedPlan().toString()
    assert "raise_error" in plan or "raiseerror" in plan.lower()


def test_lorenz_two_phase_rank_replays_ntile_exactly(spark):
    # n = 47 exercises the uneven ntile allocation (7 tiles of 5, 3 of 4);
    # the distributed two-phase rank must match window-ntile bit-for-bit
    from pyspark.sql import Window as W

    from knowledgegraphbuilder_spark.operators.mlstats import lorenz_deciles

    df = spark.range(47).select(
        (F.col("id") * 7 % 23).alias("v"), F.col("id").alias("i")
    )
    got = {r.decile: (r.n_docs, r.sum_x)
           for r in lorenz_deciles(df, "v", "i").collect()}
    ref_t = df.select("v", F.ntile(10).over(W.orderBy("v", "i")).alias("d"))
    ref = {r.d: (r.n, r.s)
           for r in ref_t.groupBy("d")
           .agg(F.count("*").alias("n"), F.sum("v").alias("s")).collect()}
    assert got == ref and len(got) == 10

