"""Custom stateful streaming operator: session-gap sessionization via
``applyInPandasWithState``.

The batch engine sessionizes with a lag-window (``q_sql_sessionize``); on an
unbounded stream the same semantics need per-key state that survives
micro-batches. This operator keeps one open session per user in the state
store and EMITS a session row the moment a gap > ``gap_seconds`` closes it —
state is O(active users), output is append-only, and the logic runs in
Arrow-batched pandas (one state lookup per user per micro-batch, never
per-row Python against the JVM).

Ordering contract: events must arrive per-key in non-decreasing event-time
order across micro-batches (true for time-ordered file drops and for any
source partitioned by key). For out-of-order sources, put a watermark +
event-time timeout in front; that variant trades latency for reordering
tolerance and is deliberately not the default here.

The trailing (still-open) session per user stays in state forever under
``NoTimeout`` — exactly like a real 24/7 session pipeline, where "the last
session" is always provisional. Tests account for it explicitly.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame

SESSION_SCHEMA = (
    "user_id long, session_start long, session_end long, "
    "n_events long, total_value double"
)
STATE_SCHEMA = "start long, last long, n long, v double"


def sessionize_stream(events: DataFrame, gap_seconds: int = 1800) -> DataFrame:
    """events(user_id, ts timestamp, value double, ...) stream ->
    closed-session stream (epoch-second bounds, event count, value sum)."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        user_id = int(key[0])
        batch = pd.concat(list(pdfs))
        batch = batch.sort_values("ts")  # in-batch reorder is fine
        if state.exists:
            start, last, n, v = state.get
        else:
            start = last = None
            n, v = 0, 0.0
        closed: list[tuple[Any, ...]] = []
        for ts, val in zip(batch["ts"], batch["value"]):
            t = int(ts.timestamp())
            if last is None:
                start, last, n, v = t, t, 1, float(val)
            elif t - last > gap_seconds:
                closed.append((user_id, start, last, n, round(v, 4)))
                start, last, n, v = t, t, 1, float(val)
            else:
                last = t
                n += 1
                v += float(val)
        state.update((start, last, n, v))
        if closed:
            yield pd.DataFrame(
                closed,
                columns=["user_id", "session_start", "session_end",
                         "n_events", "total_value"],
            )

    return events.groupBy("user_id").applyInPandasWithState(
        fn, SESSION_SCHEMA, STATE_SCHEMA, "append", GroupStateTimeout.NoTimeout
    )


def run_sessionize_available_now(
    spark, input_dir: str, output_dir: str, checkpoint_dir: str,
    gap_seconds: int = 1800, max_files_per_trigger: int | None = None,
) -> None:
    from knowledgegraphbuilder_spark.streaming.ingest import drain, file_stream
    from knowledgegraphbuilder_spark.streaming.windowed import EVENT_SCHEMA

    events = file_stream(spark, input_dir, EVENT_SCHEMA, max_files_per_trigger)
    sessions = sessionize_stream(events, gap_seconds)
    drain(sessions.writeStream.format("parquet").option("path", output_dir)
          .outputMode("append"), checkpoint_dir)
