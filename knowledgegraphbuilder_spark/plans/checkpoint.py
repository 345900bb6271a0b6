"""Checkpointed, resumable pipeline runner with per-partition lineage.

The Spark-native generalization of the reference's whole-graph JSON cache
(back/kgg/generator.py:42-53,76-122): instead of one opaque cache file, every
stage writes a parquet checkpoint table (stands in for an Iceberg table in
the sandbox — same createOrReplace semantics, minus snapshot isolation) plus
per-partition lineage rows. The stage graph itself is declared once in
plans/pipeline.py (``build_graph``); this runner is its durable policy.

A stage whose checkpoint exists is skipped on resume. Checkpoints live at
``{work_dir}/{stage}/{fingerprint}`` (``stage_fingerprint``), so a resume
under a different config or backend recomputes instead of reusing stale
mentions or relations. Because every id is content-hashed
(functions/ids.py), a resumed run produces byte-identical triples — uuid4
(reference) could not.

Lineage rows: (run_id, stage, partition_id, n_rows, wall_s, ts) — wall_s is
stage wall clock (per-partition timing would need accumulators; row counts
are per physical partition).
"""

from __future__ import annotations

import dataclasses
import hashlib
import json
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from knowledgegraphbuilder_spark.config import KGConfig
from knowledgegraphbuilder_spark.operators.ner import GazetteerExtractor
from knowledgegraphbuilder_spark.operators.relations import TemplateRelationBackend
from knowledgegraphbuilder_spark.plans.pipeline import KGResult, build_graph


def stage_fingerprint(
    cfg: KGConfig, ner_backend: object | None, re_backend: object | None
) -> str:
    """First 16 hex chars of a sha256 over what a stage's output depends on
    besides its input spans: the whole config (sorted JSON) and the NER/RE
    backend classes (``None`` stands for the default backend). Only the class
    identifies a backend; a backend whose output depends on its own
    constructor arguments must be given a fresh ``work_dir`` per setting."""

    def cls(backend: object | None, default: type) -> str:
        t = default if backend is None else type(backend)
        return f"{t.__module__}.{t.__qualname__}"

    blob = json.dumps(
        {
            "config": dataclasses.asdict(cfg),
            "ner": cls(ner_backend, GazetteerExtractor),
            "re": cls(re_backend, TemplateRelationBackend),
        },
        sort_keys=True,
    )
    return hashlib.sha256(blob.encode()).hexdigest()[:16]


class CheckpointedPipeline:
    def __init__(
        self,
        spark: SparkSession,
        work_dir: str,
        config: KGConfig | None = None,
        ner_backend: object | None = None,
        re_backend: object | None = None,
    ):
        self.spark = spark
        self.work_dir = work_dir.rstrip("/")
        self.cfg = config or KGConfig()
        self.ner_backend = ner_backend
        self.re_backend = re_backend
        self.fingerprint = stage_fingerprint(self.cfg, ner_backend, re_backend)
        self.run_id = uuid.uuid4().hex[:12]
        self.stage_log: list[dict] = []

    def _path(self, stage: str) -> str:
        """A checkpoint built under another config or backend lives under
        another fingerprint, so ``_done`` never finds it."""
        return f"{self.work_dir}/{stage}/{self.fingerprint}"

    def _hadoop_path(self, path: str):
        """Resolve through the Hadoop FileSystem API so checkpoint probing and
        invalidation work on any scheme the cluster writes to (file://, hdfs://,
        s3a://) — a local os.path probe would silently re-run every stage when
        work_dir is an object store."""
        jpath = self.spark._jvm.org.apache.hadoop.fs.Path(path)
        fs = jpath.getFileSystem(self.spark._jsc.hadoopConfiguration())
        return fs, jpath

    def _done(self, stage: str) -> bool:
        fs, jpath = self._hadoop_path(self._path(stage) + "/_SUCCESS")
        return fs.exists(jpath)

    def _stage(self, name: str, make, force: bool = False) -> DataFrame:
        t0 = time.time()
        path = self._path(name)
        resumed = self._done(name) and not force
        if not resumed:
            make().write.mode("overwrite").parquet(path)
        df = self.spark.read.parquet(path)
        wall = time.time() - t0
        lineage = (
            df.groupBy(F.spark_partition_id().alias("partition_id"))
            .agg(F.count("*").alias("n_rows"))
            .select(
                F.lit(self.run_id).alias("run_id"),
                F.lit(name).alias("stage"),
                "partition_id",
                "n_rows",
                F.lit(round(wall, 3)).alias("wall_s"),
                F.lit(resumed).alias("resumed"),
                F.current_timestamp().alias("ts"),
            )
        )
        lineage.write.mode("append").parquet(f"{self.work_dir}/_lineage")
        self.stage_log.append(
            {"stage": name, "resumed": resumed, "wall_s": round(wall, 3)}
        )
        return df

    def invalidate(self, *stages: str) -> None:
        for s in stages:
            fs, jpath = self._hadoop_path(self._path(s))
            if fs.exists(jpath):
                fs.delete(jpath, True)

    def lineage(self) -> DataFrame:
        return self.spark.read.parquet(f"{self.work_dir}/_lineage")

    def run(self, spans_df: DataFrame, force: bool = False) -> KGResult:
        res = build_graph(
            spans_df, self.cfg, self.ner_backend, self.re_backend,
            lambda name, make, pin: self._stage(name, make, force),
        )
        # through the Hadoop FS API, like the stages: a URI work_dir has no
        # local path for open()
        fs, jpath = self._hadoop_path(f"{self.work_dir}/_run_{self.run_id}.json")
        out = fs.create(jpath, True)
        try:
            out.write(json.dumps(self.stage_log).encode())
        finally:
            out.close()
        return res
