"""Unit tests for the tranche-46 operators: the doc-length survival curve
(CCNet quality tiers moved to ``test_global_rank.py``)."""

from knowledgegraphbuilder_spark.operators.textstats import length_survival


class TestLengthSurvival:
    def test_hand_computed_curve(self, spark):
        # lengths 1, 2, 5, 16
        rows = [(0, 1), (1, 2), (2, 5), (3, 16)]
        df = spark.createDataFrame(rows, "doc_id long, n_chars long")
        out = {r["log2_threshold"]: r for r in
               length_survival(df, max_pow=5).collect()}
        assert len(out) == 6
        assert out[0]["n_surviving"] == 4      # >= 1
        assert out[1]["n_surviving"] == 3      # >= 2
        assert out[2]["n_surviving"] == 2      # >= 4
        assert out[3]["n_surviving"] == 1      # >= 8
        assert out[4]["n_surviving"] == 1      # >= 16
        assert out[5]["n_surviving"] == 0      # >= 32
        assert out[2]["threshold"] == 4
        assert out[2]["survival"] == 0.5

    def test_monotone_nonincreasing(self, spark):
        rows = [(i, (i * 37) % 1000 + 1) for i in range(50)]
        df = spark.createDataFrame(rows, "doc_id long, n_chars long")
        curve = sorted(
            (r["log2_threshold"], r["n_surviving"])
            for r in length_survival(df).collect()
        )
        vals = [v for _, v in curve]
        assert vals == sorted(vals, reverse=True)
        assert vals[0] == 50
