"""Invariant tests for the TPC-H sweep completion (q2/q9/q11/q12/q16/q20/q21,
adapted to the partsupp-less star schema — each docstring in
``__spark_entry__.py`` states the adaptation). Value-exactness vs DuckDB is
pinned by ``tools/check_contract.py``; these tests pin the structural
invariants that survive any scale factor."""

import pyspark.sql.functions as F
import pytest

import __spark_entry__ as entry


@pytest.fixture(scope="module")
def q(spark, sf_dir):
    reg = entry.queries()

    def run(name):
        return reg[name](spark, sf_dir)

    return run


def test_q2_min_is_achieved_and_unique_per_part(q):
    rows = q("sql_tpch_q2").collect()
    assert rows, "q2 empty at this sf"
    # one row per part, supplier deterministic (min over argmin set)
    parts = [r["p_partkey"] for r in rows]
    assert len(parts) == len(set(parts))
    assert all(r["min_unit_c"] >= 0 and r["s_suppkey"] >= 0 for r in rows)


def test_q9_partition_of_gear_revenue(q, spark, sf_dir):
    df = q("sql_tpch_q9")
    total = df.agg(F.sum("profit_cents")).collect()[0][0]
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    p = spark.read.parquet(f"{sf_dir}/part.parquet").filter(
        F.col("p_name").like("%gear%"))
    expect = (
        li.join(p, li.l_partkey == p.p_partkey)
        .agg(F.sum(F.expr(
            "cast(floor(l_extendedprice * (1 - l_discount) * 100) as bigint)"
        )))
        .collect()[0][0]
    )
    # (nation, year) cells partition the filtered fact rows exactly
    assert total == expect


def test_q11_threshold_and_total(q, spark, sf_dir):
    rows = q("sql_tpch_q11").collect()
    assert rows
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    s = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    n = spark.read.parquet(f"{sf_dir}/nation.parquet").filter(
        F.col("n_name") == "NATION_3")
    total = (
        li.join(s, li.l_suppkey == s.s_suppkey)
        .join(n, s.s_nationkey == n.n_nationkey)
        .agg(F.sum(F.expr("cast(floor(l_extendedprice * 100) as bigint)")))
        .collect()[0][0]
    )
    # every kept part clears the EXACT integer threshold vs the nation total
    assert all(r["value_cents"] * 1000 > total for r in rows)
    # ordering contract: value desc, partkey asc tiebreak
    vals = [(-(r["value_cents"]), r["partkey"]) for r in rows]
    assert vals == sorted(vals)


def test_q12_counts_partition_late_rows(q, spark, sf_dir):
    rows = q("sql_tpch_q12").collect()
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").filter(
        F.year("l_shipdate") == 1997)
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    late = li.join(o, li.l_orderkey == o.o_orderkey).filter(
        F.expr("datediff(cast(l_shipdate as date),"
               " cast(o_orderdate as date)) >= 60")).count()
    assert sum(r["high_line_count"] + r["low_line_count"] for r in rows) == late


def test_q16_excludes_negative_balance_suppliers(q, spark, sf_dir):
    df = q("sql_tpch_q16")
    n_supp = spark.read.parquet(f"{sf_dir}/supplier.parquet").filter(
        F.col("s_acctbal") >= 0).count()
    mx = df.agg(F.max("supplier_cnt")).collect()[0][0]
    assert mx is not None and mx <= n_supp


def test_q20_dominance_majority_is_exclusive(q, spark, sf_dir):
    # >50% dominance: at most one supplier can dominate a part, so the
    # distinct supplier list is bounded by the dominated-part count
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    p = spark.read.parquet(f"{sf_dir}/part.parquet").filter(
        F.col("p_name").like("%bolt%"))
    n_parts = (
        li.join(p, li.l_partkey == p.p_partkey)
        .filter(F.year("l_shipdate") == 1998)
        .select("l_partkey").distinct().count()
    )
    got = q("sql_tpch_q20").count()
    assert got <= n_parts


def test_q21_unique_late_supplier_semantics(q, spark, sf_dir):
    df = q("sql_tpch_q21")
    rows = df.collect()
    assert rows
    # numwait sums to the number of qualifying (order, supplier) pairs,
    # and nl=1 means each qualifying order contributes exactly once
    total = sum(r["numwait"] for r in rows)
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
        F.col("o_orderstatus") == "F")
    j = li.join(o, li.l_orderkey == o.o_orderkey).select(
        "l_orderkey", "l_suppkey",
        F.expr("datediff(cast(l_shipdate as date),"
               " cast(o_orderdate as date)) > 90").alias("late"))
    per = j.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("ns"),
        F.countDistinct(F.when(F.col("late"), F.col("l_suppkey"))).alias("nl"))
    n_orders = per.filter((F.col("ns") > 1) & (F.col("nl") == 1)).count()
    assert total == n_orders


def test_oracle_keys_cover_new_queries():
    oracles = entry.oracle_sql()
    for k in ("sql_tpch_q2", "sql_tpch_q9", "sql_tpch_q11", "sql_tpch_q12",
              "sql_tpch_q16", "sql_tpch_q20", "sql_tpch_q21"):
        assert k in oracles and "SELECT" in oracles[k].upper()


@pytest.mark.parametrize("window", [
    entry._R5_WINDOW[:-1] + ["no_such_query"],
    entry._R5_WINDOW[:-1],
    entry._R5_WINDOW[:-1] + entry._R5_WINDOW[:1],
])
def test_malformed_driver_window_raises(monkeypatch, window):
    """queries() refuses a driver window that is not 50 distinct registered
    names with an explicit error (an assert would vanish under python -O)."""
    monkeypatch.setattr(entry, "_R5_WINDOW", window)
    with pytest.raises(ValueError, match="_R5_WINDOW"):
        entry.queries()
