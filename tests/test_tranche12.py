"""Unit + invariant tests for the tranche-12 operators: weekly churn
flows, closed-form 2-feature PCA, and the streamed resample fold
(Lorenz deciles moved to ``test_global_rank.py``). DuckDB value-exactness is pinned by
``tools/check_contract.py``; these pin hand-checkable algebra,
degenerate inputs, and the stream == batch equality."""

import datetime
import math

import pyspark.sql.functions as F

from knowledgegraphbuilder_spark.operators.mlstats import pca2
from knowledgegraphbuilder_spark.operators.timeseries import (
    resample_events,
    weekly_churn,
)


class TestChurn:
    def _ev(self, spark, rows):
        # rows: (user, day-offset from Monday 2024-01-01)
        return spark.createDataFrame(
            [(u, datetime.datetime(2024, 1, 1)
              + datetime.timedelta(days=d)) for (u, d) in rows],
            "user_id long, ts timestamp",
        )

    def test_new_retained_churned(self, spark):
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        # u1 active weeks 0,1 (retained); u2 active week 0 only (churns);
        # u3 appears in week 1 (new there)
        ev = self._ev(spark, [(1, 0), (1, 7), (2, 2), (3, 8)])
        out = {r["week"]: r for r in weekly_churn(ev).collect()}
        w0, w1 = out["2024-01-01"], out["2024-01-08"]
        assert (w0["n_active"], w0["n_new"]) == (2, 2)
        assert (w0["n_retained_next"], w0["n_churned_next"]) == (1, 1)
        assert (w1["n_active"], w1["n_new"]) == (2, 1)
        # last week of data: everyone counts as churned (boundary)
        assert w1["n_churned_next"] == 2

    def test_gap_week_is_churn_not_retention(self, spark):
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        # active week 0 and week 2 (skips week 1): week 0 reports churn
        ev = self._ev(spark, [(1, 0), (1, 14)])
        out = {r["week"]: r for r in weekly_churn(ev).collect()}
        assert out["2024-01-01"]["n_churned_next"] == 1
        assert out["2024-01-01"]["n_retained_next"] == 0
        # the return in week 2 is NOT new (row_number > 1)
        assert out["2024-01-15"]["n_new"] == 0


class TestPCA2:
    def test_axis_aligned(self, spark):
        # y constant: principal axis is x, theta = 0, explained = 1
        df = spark.createDataFrame(
            [("g", 1, 5), ("g", 2, 5), ("g", 3, 5)], "grp string, x long, y long"
        )
        r = pca2(df, "x", "y", "grp").collect()[0]
        assert r["var_y"] == 0.0 and r["cov_xy"] == 0.0
        assert abs(r["theta"]) < 1e-9
        assert abs(r["explained"] - 1.0) < 1e-9
        # population variance of {1,2,3} is 2/3
        assert abs(r["var_x"] - round(2 / 3, 6)) < 1e-9

    def test_diagonal_line_is_45_degrees(self, spark):
        df = spark.createDataFrame(
            [("g", i, i) for i in range(1, 6)], "grp string, x long, y long"
        )
        r = pca2(df, "x", "y", "grp").collect()[0]
        assert abs(r["theta"] - round(math.pi / 4, 6)) < 1e-9
        assert abs(r["explained"] - 1.0) < 1e-9

    def test_constant_features_trace_zero(self, spark):
        df = spark.createDataFrame(
            [("g", 2, 3)] * 4, "grp string, x long, y long"
        )
        r = pca2(df, "x", "y", "grp").collect()[0]
        assert r["var_x"] == 0.0 and r["var_y"] == 0.0
        assert r["explained"] == 1.0


class TestStreamResample:
    def test_stream_equals_batch_any_split(self, spark, tmp_path):
        from knowledgegraphbuilder_spark.streaming.ingest import (
            read_resampled,
            run_resample_available_now,
        )

        spark.conf.set("spark.sql.session.timeZone", "UTC")
        rows = [
            (i, datetime.datetime(2024, 1, 1)
             + datetime.timedelta(minutes=3 * i),
             7, "click" if i % 2 else "view", float(i) + 0.25, "{}")
            for i in range(40)
        ]
        ev = spark.createDataFrame(
            rows,
            "event_id long, ts timestamp, user_id long, event_type string,"
            " value double, props string",
        )
        base = str(tmp_path / "sr")
        # MISALIGNED split (buckets straddle batches) — the fold must not care
        for i, (lo, hi) in enumerate([(0, 7), (7, 29), (29, 40)]):
            (ev.filter((F.col("event_id") >= lo) & (F.col("event_id") < hi))
             .coalesce(1).write.parquet(f"{base}/in/b{i}"))
        run_resample_available_now(
            spark, f"{base}/in/*", f"{base}/st", f"{base}/ck")
        # replay against a fresh checkpoint: state must be idempotent
        run_resample_available_now(
            spark, f"{base}/in/*", f"{base}/st", f"{base}/ck2")
        got = sorted(
            read_resampled(spark, f"{base}/st").collect(),
            key=lambda r: (r["key"], r["bkt"]),
        )
        want = sorted(
            resample_events(ev).collect(),
            key=lambda r: (r["key"], r["bkt"]),
        )
        assert [tuple(r) for r in got] == [tuple(r) for r in want]
