"""Vocabulary-scale stress for negative_sample_edges under two node-name
regimes.

The node dictionary is ``functions/rank.py:global_rank`` over the distinct
nodes. A rank keyed on a name prefix collapses to one task when names share
that prefix, so the tool measures both regimes:

- ``diverse``: names start with 8 hex chars of sha256(id) (256 distinct
  2-char prefixes);
- ``shared``: ``N%010d`` names (one 2-char prefix, "N0").

For each regime and each of two vocabulary sizes it reports the wall time
of the sample (min and median over the reps, every rep kept), the max and
mean rows per rank partition of the node dictionary, and the filtered-
sample invariants (no self-pairs, no true edges). The dictionary's ranks
are checked against ``row_number() OVER (ORDER BY node) - 1`` at both
sizes of both regimes.

Usage: ``python tools/stress_negsample.py`` (3 reps at 100k and 1M nodes).
Prints ONE JSON line; committed as STRESS_NEGSAMPLE_r6.json.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark
from pyspark.sql import Window
from pyspark.sql import functions as F

from knowledgegraphbuilder_spark.functions.rank import global_rank
from knowledgegraphbuilder_spark.operators.graphstats import (
    negative_sample_edges,
)
from knowledgegraphbuilder_spark.session import build_session

REPS = 3
SIZES = (100_000, 1_000_000)


def node_name(col, regime: str):
    if regime == "shared":
        return F.format_string("N%010d", col)
    return F.concat(
        F.substring(F.sha2(col.cast("string"), 256), 1, 8),
        F.format_string("%010d", col),
    )


def star_edges(spark, n_nodes: int, regime: str):
    """A sparse graph over n_nodes distinct string nodes (each node i
    links to 3 deterministic pseudo-random partners) — vocabulary-
    dominated, the regime where the dictionary build is the cost."""
    base = spark.range(n_nodes)
    out = None
    for salt in (7, 13, 29):
        e = base.select(
            node_name(F.col("id"), regime).alias("src"),
            node_name((F.col("id") * salt + salt) % n_nodes, regime)
            .alias("dst"),
        ).filter("src <> dst")
        out = e if out is None else out.unionAll(e)
    return out


def dictionary_check(edges) -> dict:
    """Rows per rank partition of the node dictionary, and whether its
    ranks equal the global-sort row_number."""
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionAll(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    vocab = global_rank(nodes, "node")
    sizes = [r["count"] for r in vocab.groupBy(F.spark_partition_id()).count().collect()]
    ref = nodes.select(
        "node", (F.row_number().over(Window.orderBy("node")) - 1).alias("ref")
    )
    mismatched = vocab.join(ref, "node").filter("rank <> ref").count()
    return {
        "rank_partitions": len(sizes),
        "rows_per_partition_max": max(sizes),
        "rows_per_partition_mean": round(statistics.mean(sizes), 1),
        "ranks_equal_global_sort": mismatched == 0 and sum(sizes) == vocab.count(),
    }


def run(spark, n_nodes: int, regime: str, reps: int) -> dict:
    edges = star_edges(spark, n_nodes, regime).localCheckpoint(eager=True)
    walls = []
    for _ in range(reps):
        t0 = time.time()  # the call runs the dictionary's rank job
        df = negative_sample_edges(edges, k=2)
        n_out = df.count()
        walls.append(round(time.time() - t0, 2))
    violations = (
        df.filter(F.col("dst_neg") == F.col("src")).count()
        + df.join(
            edges.selectExpr("src", "dst AS dst_neg"), ["src", "dst_neg"]
        ).count()
    )
    return {
        "regime": regime,
        "n_nodes": n_nodes,
        "n_edges": edges.count(),
        "n_samples": n_out,
        "wall_s": walls,
        "wall_s_min": min(walls),
        "wall_s_median": statistics.median(walls),
        "violations": violations,
        **dictionary_check(edges),
    }


def main() -> None:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count()))
    spark = build_session("stress-negsample", parallelism=cpus)
    # warm-up (codegen JIT) at a small size
    run(spark, 10_000, "shared", 1)
    results = [run(spark, n, regime, REPS)
               for regime in ("diverse", "shared") for n in SIZES]

    def git(*cmd):
        return subprocess.run(
            ["git", *cmd], capture_output=True, text=True,
            cwd=os.path.dirname(os.path.abspath(__file__)),
        ).stdout.strip()

    sha = git("rev-parse", "HEAD") + ("+dirty" if git("status", "--porcelain") else "")
    print(json.dumps({
        "stress": "negsample_name_regimes",
        "nproc": os.cpu_count(),
        "parallelism": cpus,
        "git_sha": sha,
        "spark": pyspark.__version__,
        "runs": results,
        "ok": all(r["violations"] == 0 and r["ranks_equal_global_sort"]
                  for r in results),
    }))
    spark.stop()


if __name__ == "__main__":
    main()
