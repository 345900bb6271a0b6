"""Graph table sinks (S3-S10): bulk materialization + idempotent upsert.

The reference writes the graph through one Neo4j bolt round-trip per node and
per edge (back/kgg/io/graph.py:58-95 — the anti-pattern SURVEY.md §4.1 bans)
and caches the whole graph as one JSON file (generator.py:76-96). Here every
graph table is a partitioned parquet dataset (Iceberg createOrReplace
semantics in the sandbox) written in bulk, and the MERGE-style upsert
(S8, nodes/neo4j_loader.py:34-51) becomes one keyed rewrite,
``merge(spark, table_dir, updates, keys, combine)``, whose ``combine``
names the Iceberg ``MERGE INTO t USING s ON <keys>`` it stands for:

- ``"replace"``: ``WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN
  INSERT *`` (anti-join + union);
- ``"keep"``: ``WHEN NOT MATCHED THEN INSERT *`` only, first wins
  (anti-join the updates + union);
- ``"max"`` / ``"min"`` / ``"bit_or"``: ``WHEN MATCHED THEN UPDATE SET
  v = max(t.v, s.v)`` (resp. min, ``t.v | s.v``) ``WHEN NOT MATCHED THEN
  INSERT *`` (union + re-aggregate per key) — the sketch-register folds.

Local filesystem only: ``write_graph``, ``read_graph``, ``_commit_table``
and ``merge`` probe with ``os.path`` and commit with
``os.rename``, so every ``base_dir``/``table_dir`` must be a local (or
locally mounted) path, not an hdfs:// or s3a:// URI. The rename swap is
crash-safe only where ``os.rename`` of a directory is atomic. The checkpoint
runner (plans/checkpoint.py) probes through the Hadoop FS API instead.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

GRAPH_TABLES = ("nodes", "edges", "provenance", "documents", "membership")


def write_graph(base_dir: str, *, nodes: DataFrame, edges: DataFrame,
                provenance: DataFrame, documents: DataFrame | None = None,
                membership: DataFrame | None = None) -> None:
    """S3/S6/S7: bulk createOrReplace of the graph tables, each committed via
    the crash-safe rename swap (_commit_table) so a failed rewrite never
    loses the previous version of a table. Edges partition by rel_type
    (low-cardinality, supports partition pruning on typed traversals)."""
    _commit_table(nodes, f"{base_dir}/nodes")
    _commit_table(edges, f"{base_dir}/edges", partition_by="rel_type")
    _commit_table(provenance, f"{base_dir}/provenance")
    if documents is not None:
        _commit_table(documents.drop("spans"), f"{base_dir}/documents")
    if membership is not None:
        _commit_table(membership, f"{base_dir}/membership")


def read_graph(spark: SparkSession, base_dir: str) -> dict[str, DataFrame]:
    """S4/S5: read back whichever graph tables exist (None-if-absent probe,
    like the reference's cache miss, generator.py:98-122)."""
    out = {}
    for t in GRAPH_TABLES:
        p = f"{base_dir}/{t}"
        if os.path.exists(os.path.join(p, "_SUCCESS")) or any(
            f.endswith(".parquet") for f in (os.listdir(p) if os.path.isdir(p) else [])
        ):
            out[t] = spark.read.parquet(p)
    return out


def _recover_table(table_dir: str) -> None:
    """Bring a table directory back to a committed state after a crash at
    any point inside _commit_table. Invariant: at every instant either the
    live dir or __old holds a complete previous version, or __tmp holds a
    complete new version — so recovery never loses the table."""
    import shutil

    table_dir = table_dir.rstrip("/")
    tmp, old = table_dir + "__tmp", table_dir + "__old"
    if os.path.exists(table_dir):
        # live dir authoritative: a leftover __old means the commit
        # finished (crash before cleanup); a leftover __tmp means the
        # commit never started swapping — the merge will be redone
        shutil.rmtree(old, ignore_errors=True)
        shutil.rmtree(tmp, ignore_errors=True)
        return
    if os.path.exists(os.path.join(tmp, "_SUCCESS")):
        # crash between the two renames: the new version is complete
        os.rename(tmp, table_dir)
        shutil.rmtree(old, ignore_errors=True)
        return
    shutil.rmtree(tmp, ignore_errors=True)
    if os.path.exists(old):
        # incomplete new version discarded; previous version restored
        os.rename(old, table_dir)


def _commit_table(merged: DataFrame, table_dir: str,
                  partition_by: str | None = None) -> None:
    """Crash-safe table rewrite via atomic directory renames (round-3
    ADVICE: the old write-tmp-then-overwrite-live left a window where a
    crash lost the table entirely). Sequence — each rename atomic on POSIX:
    (1) write new version to <dir>__tmp; (2) rename live -> <dir>__old;
    (3) rename __tmp -> live; (4) drop __old. A crash anywhere is repaired
    by _recover_table. Single data write (the old path wrote twice). On a
    real lake this whole function is one Iceberg snapshot commit."""
    import shutil

    table_dir = table_dir.rstrip("/")
    tmp, old = table_dir + "__tmp", table_dir + "__old"
    # normalize any prior crash state first: a stale __old left by a crash
    # between rename(tmp->live) and rmtree(old) would otherwise make the
    # rename(live->old) below fail with ENOTEMPTY forever after
    _recover_table(table_dir)
    w = merged.write.mode("overwrite")
    if partition_by is not None:
        w = w.partitionBy(partition_by)
    w.parquet(tmp)
    if os.path.exists(table_dir):
        os.rename(table_dir, old)
    os.rename(tmp, table_dir)
    shutil.rmtree(old, ignore_errors=True)


def merge(spark: SparkSession, table_dir: str, updates: DataFrame,
          keys: str | list[str], combine: str) -> None:
    """S8: idempotent keyed MERGE of ``updates`` into the parquet table at
    ``table_dir`` (created from ``updates`` when absent), committed through
    the crash-safe rename swap after recovering any earlier crash.

    ``combine`` decides what a key present on both sides keeps:
    ``"replace"`` the update rows (anti-join the table on the update keys,
    union the updates), ``"keep"`` the table rows (insert only missing
    keys, first wins), or ``"max"`` / ``"min"`` / ``"bit_or"`` the SQL
    aggregate of every non-key column over the union of both sides. All
    five are idempotent, so replaying a batch leaves the table
    byte-identical; a non-idempotent aggregate such as ``sum`` would
    double-count replays and is refused. The aggregates re-group the union
    instead of joining with greatest()/least(), which skip NULLs."""
    if combine not in ("replace", "keep", "max", "min", "bit_or"):
        raise ValueError(f"unknown merge combine {combine!r}")
    keys = [keys] if isinstance(keys, str) else list(keys)
    _recover_table(table_dir)
    if not os.path.exists(os.path.join(table_dir, "_SUCCESS")):
        merged = updates
    elif combine == "replace":
        current = spark.read.parquet(table_dir)
        kept = current.join(updates.select(*keys).distinct(), keys, "left_anti")
        merged = kept.unionByName(updates)
    elif combine == "keep":
        current = spark.read.parquet(table_dir)
        fresh = updates.join(current.select(*keys).distinct(), keys, "left_anti")
        merged = current.unionByName(fresh)
    else:
        merged = (
            spark.read.parquet(table_dir).unionByName(updates)
            .groupBy(*keys)
            .agg(*[F.expr(f"{combine}(`{c}`)").alias(c)
                   for c in updates.columns if c not in keys])
        )
    _commit_table(merged, table_dir)


def write_graph_snapshot(base_dir: str, tables: dict[str, DataFrame]) -> int:
    """Iceberg-style snapshot write: each call materializes the given tables
    under an immutable ``<table>/v=<n>/`` directory and appends one entry to
    the ``_snapshots.jsonl`` log (snapshot id, tables, row counts, timestamp).
    Readers resolve a snapshot id -> paths, so concurrent readers never see a
    half-written table and any prior snapshot remains readable (time travel /
    rollback = read an older id). This is the sandbox stand-in for Iceberg's
    snapshot commit; on a real lake the same call maps to a single
    ``writeTo(...).createOrReplace()`` transaction per table."""
    import json
    import time as _time

    log = os.path.join(base_dir, "_snapshots.jsonl")
    os.makedirs(base_dir, exist_ok=True)
    prev = read_snapshot_log(base_dir)
    snap_id = (prev[-1]["snapshot_id"] + 1) if prev else 1
    entry: dict = {"snapshot_id": snap_id, "ts": _time.time(), "tables": {}}
    for name, df in tables.items():
        path = f"{base_dir}/{name}/v={snap_id}"
        df.write.mode("overwrite").parquet(path)
        n = df.sparkSession.read.parquet(path).count()
        entry["tables"][name] = {"path": path, "n_rows": n}
    with open(log, "a") as f:
        f.write(json.dumps(entry) + "\n")
    return snap_id


def read_snapshot_log(base_dir: str) -> list[dict]:
    import json

    log = os.path.join(base_dir, "_snapshots.jsonl")
    if not os.path.exists(log):
        return []
    return [json.loads(ln) for ln in open(log) if ln.strip()]


def read_graph_snapshot(
    spark: SparkSession, base_dir: str, snapshot_id: int | None = None
) -> dict[str, DataFrame]:
    """Read the tables of one snapshot (default: latest). Time travel = pass
    an older id; tables absent from that snapshot fall back to their newest
    version at or before it (Iceberg's per-table current-snapshot rule)."""
    log = read_snapshot_log(base_dir)
    if not log:
        return {}
    if snapshot_id is None:
        snapshot_id = log[-1]["snapshot_id"]
    latest: dict[str, str] = {}
    for entry in log:
        if entry["snapshot_id"] > snapshot_id:
            break
        for name, meta in entry["tables"].items():
            latest[name] = meta["path"]
    return {name: spark.read.parquet(path) for name, path in latest.items()}


def clear_graph(base_dir: str) -> None:
    """S9: DETACH DELETE analog."""
    import shutil

    for t in GRAPH_TABLES:
        for suffix in ("", "__tmp", "__old"):
            shutil.rmtree(f"{base_dir}/{t}{suffix}", ignore_errors=True)


def sanitize_rel_type(col: str = "rel_type") -> F.Column:
    """F8 (nodes/neo4j_loader.py:42-43): ' '/'-' -> '_', uppercase."""
    return F.upper(F.translate(F.col(col), " -", "__"))


def snapshot_diff(old: DataFrame, new: DataFrame) -> DataFrame:
    """Change-data capture between two table versions: one row per
    difference, tagged ``op`` = 'added' (in new, not old) or 'removed'
    (in old, not new) — multiset semantics via exceptAll, so duplicate-row
    count changes surface too. The Iceberg/Delta ``table_changes`` shape,
    computed from any two snapshot reads (pairs with
    write_graph_snapshot/read_graph_snapshot). Two anti-set differences,
    each one shuffle on the full row; no keys required."""
    from pyspark.sql import functions as F

    return (
        new.exceptAll(old).select(F.lit("added").alias("op"), "*")
        .unionByName(
            old.exceptAll(new).select(F.lit("removed").alias("op"), "*")
        )
    )


def snapshot_growth(spark: SparkSession, base_dir: str,
                    table: str) -> DataFrame:
    """Per-version growth report over the snapshot log — the table a KG
    operations dashboard plots after every incremental run: for each
    committed version of ``table``, the row count plus the MULTISET rows
    added and removed vs the previous version (exceptAll both ways, so a
    duplicated row counts as many times as it appears — the same
    semantics as ``snapshot_diff``).

    Scale shape: consecutive snapshots diff pairwise (each diff is one
    hash-aggregate exceptAll over the two versions); the report is
    version-count-sized. With Iceberg this reads the manifest-level
    added/deleted counts instead of diffing data — the parquet sink pays
    one scan per version pair.
    """
    log = read_snapshot_log(base_dir)
    versions = [e["snapshot_id"] for e in log]
    rows = []
    prev = None
    for v in versions:
        cur = read_graph_snapshot(spark, base_dir, snapshot_id=v)[table]
        n = cur.count()
        if prev is None:
            added, removed = n, 0
        else:
            added = cur.exceptAll(prev).count()
            removed = prev.exceptAll(cur).count()
        rows.append((int(v), int(n), int(added), int(removed)))
        prev = cur
    return spark.createDataFrame(
        rows, "version long, n_rows long, n_added long, n_removed long"
    )


def vacuum_snapshots(base_dir: str, keep_last: int = 2) -> dict:
    """Snapshot retention (Iceberg ``expireSnapshots`` analog): expire
    every snapshot older than the newest ``keep_last``, delete the data
    files ONLY they reference, and rewrite the log atomically.

    Correctness constraint honored: a table version directory
    ``<table>/v=<n>`` is deleted only when NO retained snapshot resolves
    to it — retained snapshots fall back to the newest version at or
    before their id (read_graph_snapshot's per-table rule), so a version
    written long ago can still be live for every retained snapshot and
    must survive. Time travel to an expired id afterwards raises on the
    reader side (the log no longer lists it), exactly Iceberg's
    contract; replays of the vacuum are no-ops.

    Returns {"expired": [...ids], "deleted_paths": [...], "kept": n}.
    """
    import json
    import shutil

    log = read_snapshot_log(base_dir)
    if len(log) <= keep_last:
        return {"expired": [], "deleted_paths": [], "kept": len(log)}
    retained = log[-keep_last:]
    expired = log[:-keep_last]
    # every path a retained snapshot can resolve (incl. fallback to
    # older versions for tables absent from newer snapshots)
    live: set[str] = set()
    for snap in retained:
        sid = snap["snapshot_id"]
        latest: dict[str, str] = {}
        for entry in log:
            if entry["snapshot_id"] > sid:
                break
            for name, meta in entry["tables"].items():
                latest[name] = meta["path"]
        live.update(latest.values())
    deleted = []
    for entry in expired:
        for meta in entry["tables"].values():
            if meta["path"] not in live and os.path.exists(meta["path"]):
                shutil.rmtree(meta["path"], ignore_errors=True)
                deleted.append(meta["path"])
    # the OLDEST retained entry absorbs its full resolved table map (the
    # Iceberg-manifest rule): dropping expired entries must not break
    # fallback resolution for retained snapshots, so versions they still
    # reach through older snapshots are re-listed on the retention floor
    floor = dict(retained[0])
    floor_sid = floor["snapshot_id"]
    resolved: dict[str, dict] = {}
    for entry in log:
        if entry["snapshot_id"] > floor_sid:
            break
        for name, meta in entry["tables"].items():
            resolved[name] = meta
    floor["tables"] = resolved
    rewritten = [floor] + [dict(e) for e in retained[1:]]
    tmp = os.path.join(base_dir, "_snapshots.jsonl__tmp")
    with open(tmp, "w") as f:
        for entry in rewritten:
            f.write(json.dumps(entry) + "\n")
    os.replace(tmp, os.path.join(base_dir, "_snapshots.jsonl"))
    return {
        "expired": [e["snapshot_id"] for e in expired],
        "deleted_paths": sorted(deleted),
        "kept": len(retained),
    }


def compact_batched_state(
    spark: SparkSession, table_dir: str, key_cols: list[str],
    sum_cols: list[str], bkey_col: str = "bkey",
) -> None:
    """Compaction for batch-keyed additive streaming state (the
    stream_cms / stream_fuse discipline): fold every per-batch partial
    row into ONE row per logical key under the reserved batch key
    'compacted', via exact integer sums — run once replay of the folded
    batches is no longer possible (their checkpoint is retired), this
    bounds state size by |logical keys| instead of |batches x keys|.

    The read-side fold (sum over all rows per logical key) is invariant
    under compaction — sums are associative — so readers need no
    change; a replayed batch arriving AFTER compaction would insert its
    batch key afresh and double-count, which is exactly why the
    precondition is 'replay impossible' (same contract as Iceberg
    compaction vs time travel). Idempotent: compacting a compacted
    table is a no-op rewrite of the same rows.
    """
    if not os.path.exists(os.path.join(table_dir, "_SUCCESS")):
        return
    cur = spark.read.parquet(table_dir)
    folded = cur.groupBy(*key_cols).agg(
        *[F.sum(c).cast("long").alias(c) for c in sum_cols]
    ).select(F.lit("compacted").alias(bkey_col), *key_cols, *sum_cols)
    _commit_table(folded, table_dir)
