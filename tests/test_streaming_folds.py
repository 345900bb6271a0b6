"""The shared fold kernel: sinks.merge for every combine value, and the
batch keys of the additive streaming folds."""

import datetime

import pytest

from knowledgegraphbuilder_spark.sources.sinks import merge

FIRST = [("a", 1), ("b", 5), ("c", 3)]
SECOND = [("b", 2), ("c", 7), ("d", 4)]  # overlaps FIRST on b and c
FOLDED = {
    "replace": [("a", 1), ("b", 2), ("c", 7), ("d", 4)],
    "keep": [("a", 1), ("b", 5), ("c", 3), ("d", 4)],
    "max": [("a", 1), ("b", 5), ("c", 7), ("d", 4)],
    "min": [("a", 1), ("b", 2), ("c", 3), ("d", 4)],
    "bit_or": [("a", 1), ("b", 7), ("c", 7), ("d", 4)],
}


@pytest.mark.parametrize("combine", FOLDED)
def test_merge_folds_and_replay_is_a_noop(spark, tmp_path, combine):
    table = str(tmp_path / "t")

    def fold(rows):
        merge(spark, table, spark.createDataFrame(rows, "k string, v long"),
              "k", combine)
        return sorted(map(tuple, spark.read.parquet(table).collect()))

    fold(FIRST)
    assert fold(SECOND) == FOLDED[combine]
    assert fold(SECOND) == FOLDED[combine]  # replay of the second batch


def test_merge_refuses_a_non_idempotent_combine(spark, tmp_path):
    with pytest.raises(ValueError, match="sum"):
        merge(spark, str(tmp_path / "t"),
              spark.createDataFrame(FIRST, "k string, v long"), "k", "sum")


def test_stream_kmv_keeps_batches_with_equal_ids_apart(spark, tmp_path):
    """Two files with the same event ids 1-3 but different users: each is
    its own batch key, so the second batch's k-min set does not replace
    the first's and the estimate counts all six users."""
    from knowledgegraphbuilder_spark.streaming.ingest import (
        read_kmv, run_kmv_available_now,
    )

    schema = ("event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    ts = datetime.datetime(2024, 1, 1)
    base = str(tmp_path / "kmv")
    frames = [
        spark.createDataFrame(
            [(i, ts, user0 + i - 1, "view", 1.0, "{}") for i in (1, 2, 3)],
            schema,
        )
        for user0 in (100, 200)
    ]
    for b, df in enumerate(frames):
        df.coalesce(1).write.parquet(f"{base}/in/b{b}")
    run_kmv_available_now(spark, f"{base}/in/*", f"{base}/st", f"{base}/ck")

    state = spark.read.parquet(f"{base}/st")
    assert state.select("bkey").distinct().count() == 2
    row = read_kmv(spark, f"{base}/st", frames[0].unionByName(frames[1])).first()
    assert row["n_exact"] == 6
    assert row["n_est"] == row["n_exact"]
