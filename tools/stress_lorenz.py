"""Corpus-scale stress for lorenz_deciles (round-5 change).

The defect class being guarded against: the decile rank used to be an
unpartitioned ntile window — the whole corpus sorted in ONE task. The
round-5 rewrite ranks per range-partition with broadcast offsets and
replays ntile's allocation closed-form. The claim under test: 10x the
rows cost ~10x wall (distributed sort), the executed plan contains no
SinglePartition exchange over row-level data, and the decile masses are
exact at both scales (sum of per-decile counts == n, deciles exhaustive).

Prints ONE JSON line; committed as STRESS_LORENZ_r5.json.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from knowledgegraphbuilder_spark.operators.mlstats import lorenz_deciles
from knowledgegraphbuilder_spark.session import build_session


def synth(spark, n_rows: int):
    # skewed non-negative values (id^2 mod M) — a Lorenz-relevant shape
    return spark.range(n_rows).select(
        ((F.col("id") * F.col("id")) % 99991).alias("v"),
        F.col("id").alias("i"),
    )


def plan_is_clean(df) -> bool:
    plan = df._jdf.queryExecution().executedPlan().toString()
    lines = plan.splitlines()
    for i, line in enumerate(lines):
        if "Exchange SinglePartition" not in line:
            continue
        child = lines[i + 1] if i + 1 < len(lines) else ""
        if "HashAggregate" not in child and "SortAggregate" not in child:
            return False
    return True


def run_once(spark, n_rows: int) -> dict:
    df = synth(spark, n_rows).localCheckpoint(eager=True)
    t0 = time.time()  # the call runs the rank's range-partition job
    out = lorenz_deciles(df, "v", "i")
    rows = out.collect()
    wall = time.time() - t0
    n_total = sum(r.n_docs for r in rows)
    return {
        "n_rows": n_rows,
        "wall_s": round(wall, 2),
        "n_deciles": len(rows),
        "mass_exact": n_total == n_rows,
        "cum_share_final": float(max(r.cum_share for r in rows)),
        "plan_clean": plan_is_clean(out),
    }


def main() -> None:
    spark = build_session(
        "stress-lorenz",
        parallelism=int(os.environ.get("SPARK_GRAFT_CPUS", "32")),
        shuffle_partitions=64,
    )
    run_once(spark, 50_000)  # codegen warm-up
    r1 = run_once(spark, 1_000_000)
    r10 = run_once(spark, 10_000_000)
    out = {
        "stress": "lorenz_rows_10x",
        "at_1x": r1,
        "at_10x": r10,
        "wall_ratio": round(r10["wall_s"] / max(r1["wall_s"], 1e-9), 2),
        "ok": (
            r1["plan_clean"] and r10["plan_clean"]
            and r1["mass_exact"] and r10["mass_exact"]
            and r1["n_deciles"] == r10["n_deciles"] == 10
            and abs(r1["cum_share_final"] - 1.0) < 1e-9
            and abs(r10["cum_share_final"] - 1.0) < 1e-9
        ),
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
