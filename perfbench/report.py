"""Metric definitions: names, units and how each is computed from a run.
``BENCHMARK.json`` declares the same names and units (a test keeps them
equal).

End-to-end metrics are computed from untraced measurements; per-layer
metrics from one traced tour folded with the Spark event log
(``eventlog.fold``). Both functions are pure, so the metric names can be
tested without Spark.
"""

from __future__ import annotations

import statistics
from dataclasses import dataclass, field

from eventlog import GroupTotals, uncovered_ms

E2E_UNITS = {
    "setup_s": "s",
    "op_ms_p50": "ms",
    "cpu_s_op": "s",
    "peak_rss_mb": "MB",
}

STAGE_LAYERS = ("flatten", "chunk", "ner", "relations", "canonicalize", "graph_build")
STAGE_METRICS = {
    "wall_ms": "ms", "rows_out": "count", "task_cpu_ms": "ms", "python_ms": "ms",
    "arrow_mb": "MB", "shuffle_mb": "MB", "spill_mb": "MB",
}
# CheckpointedPipeline stage names, in run order
CHECKPOINT_STAGES = (
    "s1_documents", "s2_ner_chunks", "s4_mentions", "s2_re_chunks", "s5_relations",
    "s7_nodes", "s7_membership", "s8_edges", "s9_triples", "s9_provenance",
)


def layer_units() -> dict[str, str]:
    units = {f"{layer}.{m}": u for layer in STAGE_LAYERS for m, u in STAGE_METRICS.items()}
    units.update({
        "ner.keep_ratio": "ratio",
        "relations.gate_ratio": "ratio",
        "relations.keep_ratio": "ratio",
        "build.gc_ms": "ms",
        "retrieval.wall_ms": "ms",
        "retrieval.jobs": "count",
        "retrieval.task_cpu_ms": "ms",
        "retrieval.driver_ms": "ms",
        "ann.wall_ms": "ms",
        "pagerank.wall_ms": "ms",
        "answer.wall_ms": "ms",
        "retrieval.index_ms": "ms",
        "session.start_ms": "ms",
    })
    units.update({f"checkpoint.{s}.wall_ms": "ms" for s in CHECKPOINT_STAGES})
    units.update({
        "checkpoint.write_mb": "MB",
        "checkpoint.lineage_rows": "count",
        "sinks.wall_ms": "ms",
        "sinks.write_mb": "MB",
        "ingest.write_amp": "ratio",
        "ingest.fresh_ms": "ms",
        "ingest.resume_ms": "ms",
        "ingest.docs_per_s": "1/s",
        "trace.op_ms_p50": "ms",
        "trace.cpu_s_op": "s",
    })
    return units


@dataclass
class Window:
    """The timed ops of one run: wall seconds, process-tree CPU seconds and
    host CPU steal % per op (steal is recorded, so a contended run shows in
    the record, but it does not change what is reported)."""
    wall_s: list[float] = field(default_factory=list)
    cpu_s: list[float] = field(default_factory=list)
    steal_pct: list[float] = field(default_factory=list)

    def done(self, seconds: float) -> bool:
        return sum(self.wall_s) >= seconds

    def op_ms_p50(self) -> float:
        return 1000.0 * statistics.median(self.wall_s)

    def cpu_s_op(self) -> float:
        return statistics.median(self.cpu_s)


def e2e_metrics(setup_s: list[float], window: Window, peak_rss_mb: float) -> dict[str, float]:
    return {
        "setup_s": statistics.median(setup_s),
        "op_ms_p50": window.op_ms_p50(),
        "cpu_s_op": window.cpu_s_op(),
        "peak_rss_mb": peak_rss_mb,
    }


@dataclass
class Tour:
    """Raw measurements of the traced tour (see workloads.trace_tour).

    Wall times are seconds; ``query_spans`` are (start, end) epoch seconds of
    each traced ``retrieve_documents`` call, matched against job intervals."""
    stage_wall_s: dict[str, float] = field(default_factory=dict)
    stage_rows: dict[str, int] = field(default_factory=dict)
    raw_hits: int = 0
    mentions: int = 0
    re_chunks: int = 0
    gated_chunks: int = 0
    parsed_relations: int = 0
    relations: int = 0
    gc_ms: float = 0.0
    session_start_s: float = 0.0
    index_s: float = 0.0
    retrieval_s: list[float] = field(default_factory=list)
    query_spans: list[tuple[float, float]] = field(default_factory=list)
    ann_s: list[float] = field(default_factory=list)
    pagerank_s: list[float] = field(default_factory=list)
    answer_s: list[float] = field(default_factory=list)
    checkpoint_wall_s: dict[str, float] = field(default_factory=dict)
    checkpoint_bytes: int = 0
    lineage_rows: int = 0
    sinks_s: float = 0.0
    sinks_bytes: int = 0
    input_bytes: int = 1
    ingest_fresh_s: float = 0.0
    ingest_resume_s: float = 0.0
    docs: int = 0


def layer_metrics(tour: Tour, groups: dict[str, GroupTotals], window: Window) -> dict[str, float]:
    out: dict[str, float] = {}
    for layer in STAGE_LAYERS:
        g = groups.get(layer, GroupTotals())
        out[f"{layer}.wall_ms"] = 1000.0 * tour.stage_wall_s[layer]
        out[f"{layer}.rows_out"] = tour.stage_rows[layer]
        out[f"{layer}.task_cpu_ms"] = g.task_cpu_ms
        out[f"{layer}.python_ms"] = g.python_ms
        out[f"{layer}.arrow_mb"] = g.arrow_bytes / 1e6
        out[f"{layer}.shuffle_mb"] = g.shuffle_write_bytes / 1e6
        out[f"{layer}.spill_mb"] = g.spill_bytes / 1e6
    out["ner.keep_ratio"] = tour.mentions / max(tour.raw_hits, 1)
    out["relations.gate_ratio"] = tour.gated_chunks / max(tour.re_chunks, 1)
    out["relations.keep_ratio"] = tour.relations / max(tour.parsed_relations, 1)
    out["build.gc_ms"] = tour.gc_ms

    n_q = len(tour.retrieval_s)
    retrieval = groups.get("retrieval", GroupTotals())
    out["retrieval.wall_ms"] = 1000.0 * statistics.median(tour.retrieval_s)
    out["retrieval.jobs"] = retrieval.jobs / n_q
    out["retrieval.task_cpu_ms"] = retrieval.task_cpu_ms / n_q
    out["retrieval.driver_ms"] = statistics.median(
        uncovered_ms(1000.0 * a, 1000.0 * b, retrieval.job_intervals) for a, b in tour.query_spans
    )
    out["ann.wall_ms"] = 1000.0 * statistics.median(tour.ann_s)
    out["pagerank.wall_ms"] = 1000.0 * statistics.median(tour.pagerank_s)
    out["answer.wall_ms"] = 1000.0 * statistics.median(tour.answer_s)
    out["retrieval.index_ms"] = 1000.0 * tour.index_s
    out["session.start_ms"] = 1000.0 * tour.session_start_s

    for stage in CHECKPOINT_STAGES:
        out[f"checkpoint.{stage}.wall_ms"] = 1000.0 * tour.checkpoint_wall_s[stage]
    out["checkpoint.write_mb"] = tour.checkpoint_bytes / 1e6
    out["checkpoint.lineage_rows"] = tour.lineage_rows
    out["sinks.wall_ms"] = 1000.0 * tour.sinks_s
    out["sinks.write_mb"] = tour.sinks_bytes / 1e6
    out["ingest.write_amp"] = (tour.checkpoint_bytes + tour.sinks_bytes) / tour.input_bytes
    out["ingest.fresh_ms"] = 1000.0 * tour.ingest_fresh_s
    out["ingest.resume_ms"] = 1000.0 * tour.ingest_resume_s
    out["ingest.docs_per_s"] = tour.docs / (tour.ingest_fresh_s + tour.sinks_s)
    out["trace.op_ms_p50"] = window.op_ms_p50()
    out["trace.cpu_s_op"] = window.cpu_s_op()
    return out


def with_units(values: dict[str, float], units: dict[str, str]) -> dict[str, dict]:
    if set(values) != set(units):
        raise ValueError(f"metric set mismatch: {sorted(set(values) ^ set(units))}")
    return {k: {"value": float(values[k]), "unit": units[k]} for k in units}
