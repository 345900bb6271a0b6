"""Corpus-wide row numbering without a single-partition window.

``row_number().over(Window.orderBy(...))`` sorts the whole input in one
task. ``global_rank`` gives the same numbers from a range-partitioned
sort: range bounds sampled from the key split the rows into ordered
partitions (shared prefixes and skewed keys included), each partition is
numbered on its own, and the per-partition counts (one row per
partition) become base offsets broadcast back. ``ntile`` then replays
window ``ntile`` from the global rank, so tiers need no window either.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def global_rank(df: DataFrame, *order: Column | str) -> DataFrame:
    """``df`` plus ``rank`` (0-based bigint, equal to
    ``row_number() OVER (ORDER BY *order) - 1``) and ``n`` (total rows,
    bigint). ``order`` may hold ``desc()`` columns.

    Contract: the order must be total, or tied rows must be
    interchangeable — ties may come out in any order, as with the window.

    Each range partition is sorted and numbered in place by
    ``monotonically_increasing_id`` (partition index in the upper 31 bits,
    row position in the lower 33), so the numbering needs no second
    shuffle and the output keeps the range partitioning. That frame is
    pinned with an eager localCheckpoint so the numbering and the count
    pass see one partitioning; calling this runs the range-bound sampling
    and that job. ``df`` must not already carry ``rank`` or ``n``.
    """
    nparts = max(df.sparkSession.sparkContext.defaultParallelism, 2)
    part = (
        df.repartitionByRange(nparts, *order)
        .sortWithinPartitions(*order)
        .withColumn("_id", F.monotonically_increasing_id())
        .localCheckpoint(eager=True)
        .withColumn("_pid", F.shiftright("_id", 33))
    )
    counts = part.groupBy("_pid").agg(F.count("*").alias("_pn"))
    before = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        "_pid",
        F.coalesce(F.sum("_pn").over(before), F.lit(0)).cast("long").alias("_off"),
        F.sum("_pn").over(Window.partitionBy()).cast("long").alias("_n"),
    )
    return (
        part.join(F.broadcast(offsets), "_pid")
        .withColumn("rank", F.expr("_off + _id - shiftleft(_pid, 33)"))
        .withColumn("n", F.col("_n"))
        .drop("_pid", "_id", "_off", "_n")
    )


def ntile(rank: str, n: str, tiles: int) -> Column:
    """Window ``ntile(tiles)`` (1-based int) replayed from the 0-based
    ``rank`` column and the ``n`` total column: q = n div tiles and
    r = n % tiles; tiles 1..r hold q + 1 rows, tiles r+1..tiles hold q.
    When n < tiles, q is 0 and every row takes the first branch."""
    q, r = f"({n} div {tiles})", f"({n} % {tiles})"
    return F.expr(
        f"CASE WHEN {rank} < {r} * ({q} + 1) THEN {rank} div ({q} + 1) + 1"
        f" ELSE {r} + ({rank} - {r} * ({q} + 1)) div greatest({q}, 1) + 1 END"
    ).cast("int")
