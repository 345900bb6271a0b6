"""End-to-end KG-construction pipeline: the Spark-native analog of
``KnowledgeGraphGenerator.generate`` (back/kgg/generator.py:30-74).

Stage graph (SURVEY.md §7.2): spans -> flatten -> chunk -> mentions ->
relations -> nodes/membership -> edges -> triples/provenance. Every stage is
a pure DataFrame -> DataFrame function; ``build_graph`` declares the graph
once, and a materialization policy decides what each stage boundary costs:
``run_pipeline`` (lazy, or eager ``localCheckpoint`` of the fan-out points)
and plans/checkpoint.py's ``CheckpointedPipeline`` (durable parquet per
stage, resumable, with lineage rows).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame

from knowledgegraphbuilder_spark.config import KGConfig
from knowledgegraphbuilder_spark.operators.canonicalize import (
    cluster_mentions_exact,
    node_membership,
)
from knowledgegraphbuilder_spark.operators.chunk import chunk_documents
from knowledgegraphbuilder_spark.operators.flatten import flatten_documents
from knowledgegraphbuilder_spark.operators.graph_build import (
    build_edges,
    build_provenance,
    build_triples,
)
from knowledgegraphbuilder_spark.operators.ner import extract_mentions
from knowledgegraphbuilder_spark.operators.relations import extract_relations


@dataclass
class KGResult:
    documents: DataFrame  # flattened (doc_id, text, media_refs, spans)
    mentions: DataFrame
    relations: DataFrame
    nodes: DataFrame
    membership: DataFrame
    edges: DataFrame
    triples: DataFrame
    provenance: DataFrame


# stage(name, make, pin) -> DataFrame: ``make()`` builds the stage lazily
# from its already-staged inputs; ``pin`` marks a fan-out point
Stage = Callable[[str, Callable[[], DataFrame], bool], DataFrame]


def build_graph(
    spans_df: DataFrame,
    cfg: KGConfig,
    ner_backend: object | None,
    re_backend: object | None,
    stage: Stage,
) -> KGResult:
    """The one declaration of the KG stage graph, in run order. ``stage`` is
    the only policy hook: it decides whether a stage stays lazy, is pinned,
    or is written durably. The pinned fan-out points are mentions (feeds the
    relation join, the resolution dictionary, clustering and membership),
    relations (edges and provenance) and nodes (edges and triples)."""
    docs = stage("s1_documents", lambda: flatten_documents(spans_df), False)
    ner_chunks = stage(
        "s2_ner_chunks",
        lambda: chunk_documents(docs, cfg.ner_chunk_size, cfg.ner_chunk_overlap),
        False,
    )
    mentions = stage(
        "s4_mentions", lambda: extract_mentions(ner_chunks, cfg, backend=ner_backend), True
    )
    re_chunks = stage(
        "s2_re_chunks",
        lambda: chunk_documents(docs, cfg.re_chunk_size, cfg.re_chunk_overlap),
        False,
    )
    relations = stage(
        "s5_relations",
        lambda: extract_relations(re_chunks, mentions, cfg, backend=re_backend),
        True,
    )
    # normalized membership is the at-scale node representation; the
    # member-ID arrays (reference ``Node.entities`` parity shape) would put
    # every mention id of a head surface form into ONE row — multi-GB at
    # 10^12 mentions — so the pipeline never materializes them (parity tests
    # opt in explicitly via with_member_arrays=True)
    nodes = stage(
        "s7_nodes",
        lambda: cluster_mentions_exact(mentions, cfg, with_member_arrays=False),
        True,
    )
    membership = stage("s7_membership", lambda: node_membership(mentions), False)
    edges = stage(
        "s8_edges", lambda: build_edges(relations, nodes, cfg.default_edge_weight), False
    )
    triples = stage("s9_triples", lambda: build_triples(edges, nodes), False)
    provenance = stage("s9_provenance", lambda: build_provenance(relations), False)
    return KGResult(
        documents=docs,
        mentions=mentions,
        relations=relations,
        nodes=nodes,
        membership=membership,
        edges=edges,
        triples=triples,
        provenance=provenance,
    )


def run_pipeline(
    spans_df: DataFrame,
    config: KGConfig | None = None,
    ner_backend: object | None = None,
    re_backend: object | None = None,
    materialize: str = "none",
) -> KGResult:
    """In-memory run of the stage graph. ``materialize``:

    - ``"none"`` (default): fully lazy — right for one-shot small queries.
    - ``"ckpt"``: EAGER ``localCheckpoint`` of each pinned fan-out point —
      computes every inference UDF stage exactly once and truncates lineage;
      the choice for bulk runs. Eagerness matters: with lazy checkpoints, one
      action over the whole graph can schedule the fan-out consumers as
      CONCURRENT stages, each recomputing the full pre-checkpoint inference
      lineage before the checkpoint materializes — measured 1.8-2.3x total
      CPU, nondeterministic (it needs spare task slots, so it inflated only
      the wide scaling leg).

    For a durable, resumable run use plans/checkpoint.py."""
    if materialize not in ("none", "ckpt"):
        raise ValueError(f"materialize must be 'none' or 'ckpt', got {materialize!r}")
    eager = materialize == "ckpt"

    def stage(name: str, make: Callable[[], DataFrame], pin: bool) -> DataFrame:
        df = make()
        return df.localCheckpoint(eager=True) if eager and pin else df

    return build_graph(spans_df, config or KGConfig(), ner_backend, re_backend, stage)
