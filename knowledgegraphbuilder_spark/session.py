"""SparkSession factory tuned for this engine.

Local-mode parallelism is a stand-in for executor count (the sandbox has no
real cluster); the same settings scale to a 1000-executor cluster because all
sizing is expressed relative to ``spark.sql.shuffle.partitions`` and AQE is
left on to coalesce/re-plan at runtime.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_memory() -> str:
    """Half of this machine's physical RAM in whole GiB, at least 1g and at
    most 32g: in local mode the driver heap is the executor heap, and a
    heap larger than RAM gets the JVM killed instead of spilling."""
    ram = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    return f"{min(max(ram // 2 // 2**30, 1), 32)}g"


def build_session(
    app_name: str = "kg-spark",
    parallelism: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    if parallelism is None:
        parallelism = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        # one shuffle partition per core at sandbox scale; on a real cluster
        # this is cores * executors (AQE coalesces small partitions anyway)
        shuffle_partitions = max(parallelism, 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{parallelism}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(parallelism))
        # pin the session timezone: stateful streaming converts the tz-naive
        # pandas timestamps Arrow hands over with .timestamp() (which assumes
        # UTC) — on a non-UTC box the epochs would silently shift otherwise
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Arrow batch ~ model batch (reference embeds with batch_size=100,
        # back/kgg/retriever.py:22; 10k amortizes UDF overhead for the
        # deterministic backends)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.python.worker.reuse", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory",
                os.environ.get("KG_SPARK_DRIVER_MEM") or _default_driver_memory())
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    # single-JVM local mode: driver == executor, so GC tuning goes through
    # driver options (picked up at gateway launch). Default caps the G1
    # worker pools — on a saturated local[N] box the JVM defaults
    # (~0.7*ncpus parallel + 1/4 of that concurrent threads) compete with N
    # task threads + N python workers for the same cores, which measured as
    # a roaming 1.3-2x wall/CPU inflation on the fully-subscribed scaling
    # leg. On a real cluster executors get dedicated cores and this knob is
    # the standard executor extraJavaOptions instead.
    java_opts = os.environ.get(
        "KG_SPARK_JAVA_OPTS",
        "-XX:ParallelGCThreads=4 -XX:ConcGCThreads=2",
    )
    if java_opts:
        builder = builder.config("spark.driver.extraJavaOptions", java_opts)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
