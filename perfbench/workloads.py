"""The benchmark's workloads, driven through the package's public API.

``build``  batch KG construction in memory: ``run_pipeline(...,
           materialize="ckpt")`` over the spans table, then a noop write of
           the triples. One op is one full build.
``serve``  closed loop, one client: a QA user who waits for each answer. One
           op is ``retrieve_documents`` + ``answer_question`` for one query,
           exactly as ``run_pipeline.py --query`` does it, over a graph
           built once from the corpus and pinned and indexed during set-up.

Both share the run skeleton in ``run_workload``: start the Spark session,
set up ``SETUP_REPS`` times (``build``: load the corpus into a pinned spans
table; ``serve``: pin the graph tables and materialize ``index_edges``), warm
up, time ops until they add up to the requested seconds (``report.Window``
decides when a window is done), then check the outputs outside the timed
window. The first
set-up rep also pays the session start (JVM launch) and the cold first jobs;
the median rep is the steady set-up cost. A traced run adds ``trace_tour``,
which measures every layer from the outside.
"""

from __future__ import annotations

import gc
import os
import shutil
import time
from dataclasses import dataclass

import procstat
from checks import ServeReference, check_graph, check_ranked, run_oracle
from corpus import CorpusSpec, Inputs
from report import CHECKPOINT_STAGES, Tour, Window

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

PARALLELISM = 2
SETUP_REPS = 3
SPECS = {"build": CorpusSpec(n_docs=600), "serve": CorpusSpec(n_docs=200)}
WARMUP_OPS = {"build": 2, "serve": 2}
TOUR_QUERIES = 2


@dataclass
class Graph:
    """A built and pinned graph, ready to serve queries."""
    edges: object
    membership: object
    documents: object
    index: object
    n_edges: int


@dataclass
class RunResult:
    setup_s: list[float]
    session_start_s: float
    window: Window
    attempted: int
    failures: list[str]
    info: dict
    tour: Tour | None = None


def start_session(work: str, trace: bool):
    from knowledgegraphbuilder_spark.session import build_session

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"), exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
        })
    t = time.perf_counter()
    spark = build_session("perfbench", parallelism=PARALLELISM, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t


def kg_config(inputs: Inputs):
    from knowledgegraphbuilder_spark.config import KGConfig

    return KGConfig(gazetteer=inputs.gazetteer)


def load_spans(spark, inputs: Inputs):
    """Corpus -> pinned interleaved spans table, split like
    ``read_documents_parquet`` splits a single-file input."""
    from knowledgegraphbuilder_spark.sources.interleaved import synthesize_spans

    flat = spark.createDataFrame(list(inputs.docs), "doc_id long, text string")
    flat = flat.repartition(spark.sparkContext.defaultParallelism)
    return synthesize_spans(flat).localCheckpoint(eager=True)


def build_op(spans, cfg):
    from knowledgegraphbuilder_spark.plans.pipeline import run_pipeline

    res = run_pipeline(spans, cfg, materialize="ckpt")
    res.triples.write.format("noop").mode("overwrite").save()
    return res


def pin_graph(res) -> tuple[Graph, float]:
    """Pin the graph tables a QA service holds and index the edges; returns
    the graph and the indexing seconds."""
    from knowledgegraphbuilder_spark.operators.retrieval import index_edges

    edges = res.edges.localCheckpoint(eager=True)
    membership = res.membership.localCheckpoint(eager=True)
    documents = res.documents.select("doc_id", "text").localCheckpoint(eager=True)
    t = time.perf_counter()
    index = index_edges(edges).localCheckpoint(eager=True)
    index_s = time.perf_counter() - t
    return Graph(edges, membership, documents, index, edges.count()), index_s


def query_op(graph: Graph, query: str, cfg):
    from knowledgegraphbuilder_spark.operators.answer import answer_question
    from knowledgegraphbuilder_spark.operators.retrieval import retrieve_documents

    top = retrieve_documents(graph.edges, graph.membership, graph.index, query, cfg)
    answer = answer_question(top, graph.documents, query)
    ranked = [(r["doc_id"], r["weight"]) for r in top.collect()]
    return ranked, answer


def settle() -> None:
    """Between ops, outside the timed region: collect the previous op's
    DataFrames on the Python side, which releases their JVM objects, so the
    JVM's own GC lets Spark's ContextCleaner free their checkpoint blocks.
    No JVM GC is forced here: a forced full GC shrinks the heap, and the next
    op then pays for regrowing it (measured: +25% wall, +60% CPU per query)."""
    gc.collect()


def timed(op, window: Window | None = None):
    """Run ``op``; returns (result, wall s). With ``window``, also records
    the op's wall time, process-tree CPU and host steal in it."""
    st0, cpu0, t0 = procstat.cpu_times(), procstat.tree_cpu_s(), time.perf_counter()
    out = op()
    wall = time.perf_counter() - t0
    if window is not None:
        window.wall_s.append(wall)
        window.cpu_s.append(procstat.tree_cpu_s() - cpu0)
        window.steal_pct.append(procstat.steal_pct(st0, procstat.cpu_times()))
    return out, wall


def run_workload(name: str, inputs: Inputs, seconds: float, work: str,
                 trace: bool) -> RunResult:
    cfg = kg_config(inputs)
    expected = run_oracle(REPO_ROOT, inputs)
    setup_s = []
    info: dict = {}
    t0 = t_run = time.perf_counter()
    spark, start_s = start_session(work, trace)
    built = None
    for rep in range(SETUP_REPS):
        if rep:
            graph = None
            settle()
            t0 = time.perf_counter()
        if name == "build":
            spans = load_spans(spark, inputs)
        else:
            if built is None:
                # the graph the service answers from is an input, built once
                # (the build workload measures building it)
                prep = time.perf_counter()
                spans = load_spans(spark, inputs)
                built = build_op(spans, cfg)
                info["graph_build_s"] = time.perf_counter() - prep
                t0 += info["graph_build_s"]
            graph, index_s = pin_graph(built)
            info.setdefault("index_s", []).append(index_s)
        setup_s.append(time.perf_counter() - t0)

    failures: list[str] = []
    window = Window()
    attempted = 0
    if trace:
        spark.sparkContext.setJobGroup("op", "timed ops")
    if name == "build":
        for _ in range(WARMUP_OPS[name]):
            info.setdefault("warmup_s", []).append(timed(lambda: build_op(spans, cfg))[1])
            settle()
        while not window.done(seconds):
            res = None
            settle()
            res, _ = timed(lambda: build_op(spans, cfg), window)
            attempted += 1
            n_m, n_r = res.mentions.count(), res.relations.count()
            if (n_m, n_r) != (len(expected["mentions"]), len(expected["relations"])):
                failures.append(f"build op {attempted}: mentions/relations {n_m}/{n_r}")
        triples = {tuple(r) for r in res.triples.select("subj", "pred", "obj").collect()}
        failures += check_graph(expected, triples, res.mentions.count(),
                                res.relations.count(), res.nodes.count(), "build")
        info["docs_per_s"] = len(inputs.docs) / (window.op_ms_p50() / 1000.0)
    else:
        answers: dict[str, tuple] = {}
        k = cfg.retrieval_k

        def ask(i: int, into: Window | None = None) -> float:
            q = inputs.queries[i % len(inputs.queries)]
            settle()
            out, wall = timed(lambda: query_op(graph, q, cfg), into)
            prev = answers.setdefault(q, out)
            if len(out[0]) != k:
                failures.append(f"serve: {q!r} returned {len(out[0])} docs, expected {k}")
            elif out != prev:
                failures.append(f"serve: {q!r} answered differently on a repeat")
            return wall

        for i in range(WARMUP_OPS[name]):
            info.setdefault("warmup_s", []).append(ask(i))
            attempted += 1
        i = 0
        while not window.done(seconds):
            ask(i, window)
            attempted += 1
            i += 1
        failures += check_serve(graph, cfg, inputs.queries[:2], answers)
        info["edges"] = graph.n_edges
        info["repeated_asks"] = WARMUP_OPS[name] + i - len(answers)

    info["window_s"] = sum(window.wall_s)
    info["run_to_checks_s"] = time.perf_counter() - t_run
    result = RunResult(setup_s, start_s, window, attempted, failures, info)
    if trace:
        result.tour, tour_failures, tour_ops = trace_tour(spark, spans, inputs, cfg, expected, work)
        result.tour.session_start_s = start_s
        result.failures += tour_failures
        result.attempted += tour_ops
    return result


def check_serve(graph: Graph, cfg, queries, answers) -> list[str]:
    ref = ServeReference(
        graph.index.select("edge_id", "embedding").collect(),
        graph.edges.select("edge_id", "head_node_id", "tail_node_id", "weight").collect(),
        graph.membership.select("node_id", "doc_id").collect(),
        cfg,
    )
    fails = []
    for q in queries:
        fails += check_ranked(answers[q][0], ref.ranked_docs(q), cfg.retrieval_k, q)
    return fails


# -- the traced tour ------------------------------------------------------------

def _du(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def _gc_ms(spark) -> float:
    mx = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return float(sum(b.getCollectionTime() for b in mx.getGarbageCollectorMXBeans()))


def trace_tour(spark, spans, inputs: Inputs, cfg, expected, work: str):
    """Call each layer's public function under its own job group and time it
    from outside. Returns (Tour, failures, ops attempted)."""
    tour = Tour(docs=len(inputs.docs))
    graph = _trace_stages(spark, spans, inputs, cfg, tour)
    fails = _trace_ingest(spark, inputs, cfg, expected, work, tour)
    fails += _trace_serve(spark, graph, inputs, cfg, tour)
    # ops: the stage pass, the fresh ingest, the resume, each question
    return tour, fails, 3 + TOUR_QUERIES


def _trace_stages(spark, spans, inputs, cfg, tour: Tour) -> Graph:
    from pyspark.sql import functions as F

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
    from knowledgegraphbuilder_spark.operators.relations import (
        chunk_mention_join,
        extract_relations,
    )
    sc = spark.sparkContext
    pin = lambda df: df.localCheckpoint(eager=True)  # noqa: E731

    def layer(name: str, make):
        sc.setJobGroup(name, name)
        t = time.perf_counter()
        out = make()
        tour.stage_wall_s[name] = time.perf_counter() - t
        sc.setJobGroup("probe", "row counts")
        first = out[0] if isinstance(out, tuple) else out
        tour.stage_rows[name] = first.count()
        return out

    gc0 = _gc_ms(spark)
    docs = layer("flatten", lambda: pin(flatten_documents(spans)))
    ner_chunks, re_chunks = layer("chunk", lambda: (
        pin(chunk_documents(docs, cfg.ner_chunk_size, cfg.ner_chunk_overlap)),
        pin(chunk_documents(docs, cfg.re_chunk_size, cfg.re_chunk_overlap)),
    ))
    mentions = layer("ner", lambda: pin(extract_mentions(ner_chunks, cfg)))
    relations = layer("relations", lambda: pin(extract_relations(re_chunks, mentions, cfg)))
    nodes, membership = layer("canonicalize", lambda: (
        pin(cluster_mentions_exact(mentions, cfg, with_member_arrays=False)),
        pin(node_membership(mentions)),
    ))

    def graph_build():
        edges = pin(build_edges(relations, nodes, cfg.default_edge_weight))
        return edges, pin(build_triples(edges, nodes)), pin(build_provenance(relations))

    edges, _, _ = layer("graph_build", graph_build)
    tour.gc_ms = _gc_ms(spark) - gc0

    # useful-vs-attempted counts, from the layers' own intermediate tables
    sc.setJobGroup("probe", "ratios")
    gaz = spark.createDataFrame(list(inputs.gazetteer), "word string, label string")
    tour.raw_hits = (
        ner_chunks.select(F.explode(F.split("chunk_text", " ")).alias("word"))
        .join(F.broadcast(gaz), "word").count()
    )
    tour.mentions = tour.stage_rows["ner"]
    per_chunk = (
        chunk_mention_join(re_chunks, mentions)
        .groupBy(F.col("c.doc_id"), F.col("c.chunk_idx")).count()
        .filter(F.col("count") >= 2)
        .agg(F.count("*"), F.sum(F.col("count") - 1))
        .collect()[0]
    )
    tour.re_chunks = re_chunks.count()
    tour.gated_chunks = int(per_chunk[0])
    # the template backend emits one relation per consecutive mention pair
    tour.parsed_relations = int(per_chunk[1] or 0)
    tour.relations = tour.stage_rows["relations"]
    return Graph(edges, membership, docs.select("doc_id", "text"), None, edges.count())


def _trace_ingest(spark, inputs, cfg, expected, work, tour: Tour) -> list[str]:
    from knowledgegraphbuilder_spark.plans.checkpoint import CheckpointedPipeline
    from knowledgegraphbuilder_spark.sources.interleaved import read_documents_parquet
    from knowledgegraphbuilder_spark.sources.sinks import read_graph, write_graph

    sc = spark.sparkContext
    base = os.path.join(work, "ingest")
    shutil.rmtree(base, ignore_errors=True)
    src, ckpt, out = (os.path.join(base, d) for d in ("input", "ckpt", "graph"))
    sc.setJobGroup("probe", "ingest input")
    (spark.createDataFrame(list(inputs.docs), "doc_id long, text string")
     .coalesce(1).write.parquet(os.path.join(src, "documents.parquet")))
    tour.input_bytes = _du(src)

    sc.setJobGroup("checkpoint", "fresh run")
    t = time.perf_counter()
    pipe = CheckpointedPipeline(spark, ckpt, cfg)
    res = pipe.run(read_documents_parquet(spark, src))
    tour.ingest_fresh_s = time.perf_counter() - t
    tour.checkpoint_wall_s = {s["stage"]: s["wall_s"] for s in pipe.stage_log}
    tour.checkpoint_bytes = _du(ckpt)

    sc.setJobGroup("sinks", "write_graph")
    t = time.perf_counter()
    tables = dict(nodes=res.nodes, edges=res.edges, provenance=res.provenance,
                  documents=res.documents, membership=res.membership)
    write_graph(out, **tables)
    tour.sinks_s = time.perf_counter() - t
    tour.sinks_bytes = _du(out)

    sc.setJobGroup("resume", "resume over complete checkpoints")
    t = time.perf_counter()
    resume = CheckpointedPipeline(spark, ckpt, cfg)
    res2 = resume.run(read_documents_parquet(spark, src))
    tour.ingest_resume_s = time.perf_counter() - t

    sc.setJobGroup("probe", "ingest checks")
    fails = []
    tour.lineage_rows = pipe.lineage().count()
    cols = ("subj", "pred", "obj", "doc_id", "edge_id", "relation_id")
    fresh = sorted(tuple(r) for r in res.triples.select(*cols).collect())
    triples = {t[:3] for t in fresh}
    fails += check_graph(expected, triples, res.mentions.count(), res.relations.count(),
                         res.nodes.count(), "ingest")
    if not all(s["resumed"] for s in resume.stage_log):
        fails.append("ingest: resume recomputed a stage over complete checkpoints")
    if sorted(tuple(r) for r in res2.triples.select(*cols).collect()) != fresh:
        fails.append("ingest: resumed triples differ from the fresh run's")
    back = read_graph(spark, out)
    for name, df in tables.items():
        if name not in back or back[name].count() != df.count():
            fails.append(f"ingest: graph table {name} did not round-trip")
    missing = set(CHECKPOINT_STAGES) - set(tour.checkpoint_wall_s)
    if missing:
        fails.append(f"ingest: stages missing from stage_log: {sorted(missing)}")
    return fails


def _trace_serve(spark, graph: Graph, inputs, cfg, tour: Tour) -> list[str]:
    from pyspark.sql import functions as F

    from knowledgegraphbuilder_spark.operators.ann import ann_lsh
    from knowledgegraphbuilder_spark.operators.answer import answer_question
    from knowledgegraphbuilder_spark.operators.pagerank import personalized_pagerank
    from knowledgegraphbuilder_spark.operators.retrieval import (
        hash_embed_text,
        index_edges,
        retrieve_documents,
    )

    sc = spark.sparkContext
    sc.setJobGroup("index", "index_edges")
    t = time.perf_counter()
    index = index_edges(graph.edges).localCheckpoint(eager=True)
    tour.index_s = time.perf_counter() - t
    graph = Graph(graph.edges, graph.membership, graph.documents, index, graph.n_edges)

    sc.setJobGroup("warmup", "serve warm-up")
    query_op(graph, inputs.queries[-1], cfg)
    fails = []
    for q in inputs.queries[:TOUR_QUERIES]:
        sc.setJobGroup("retrieval", "retrieve_documents")
        a, t = time.time(), time.perf_counter()
        top = retrieve_documents(graph.edges, graph.membership, graph.index, q, cfg)
        ranked = top.collect()
        tour.retrieval_s.append(time.perf_counter() - t)
        tour.query_spans.append((a, time.time()))
        if len(ranked) != cfg.retrieval_k:
            fails.append(f"serve tour: {q!r} returned {len(ranked)} docs")

        sc.setJobGroup("answer", "answer_question")
        t = time.perf_counter()
        answer_question(top, graph.documents, q)
        tour.answer_s.append(time.perf_counter() - t)

        sc.setJobGroup("ann", "ann_lsh")
        t = time.perf_counter()
        hits = ann_lsh(graph.index, hash_embed_text(q, cfg.embedding_dim), cfg.retrieval_k,
                       dim=cfg.embedding_dim, n_bits=cfg.ann_bits, n_tables=cfg.ann_tables,
                       id_col="edge_id", vec_col="embedding")
        hits = hits.select(F.col("id").alias("edge_id"), "score").localCheckpoint(eager=True)
        tour.ann_s.append(time.perf_counter() - t)

        # the query's weighted graph, as retrieve_documents derives it
        weighted = graph.edges.join(hits, "edge_id", "left").withColumn(
            "weight",
            F.when(F.col("score").isNotNull(), F.greatest(F.col("score"), F.lit(1.0e-6)))
            .otherwise(F.col("weight").cast("double")),
        ).select("edge_id", "head_node_id", "tail_node_id", "weight")
        sources = (graph.edges.join(hits, "edge_id")
                   .select(F.explode(F.array("head_node_id", "tail_node_id")).alias("node_id"))
                   .distinct())
        sc.setJobGroup("pagerank", "personalized_pagerank")
        t = time.perf_counter()
        personalized_pagerank(weighted, sources, cfg.pagerank_damping, cfg.pagerank_max_iter,
                              cfg.pagerank_tol, n_edges=graph.n_edges).collect()
        tour.pagerank_s.append(time.perf_counter() - t)
    return fails
