"""spark-submit entry point.

    spark-submit --py-files kgspark.zip run_pipeline.py \
        --input /path/to/documents_parquet_or_sfdir \
        --output /path/to/graph_tables \
        --work-dir /path/to/checkpoints [--resume] [--query "..."]

Builds (or resumes) the KG over the interleaved spans table, materializes the
graph tables, and optionally answers a retrieval query. In the sandbox,
--input may be a testdata sf dir (documents.parquet inside).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from knowledgegraphbuilder_spark.config import KGConfig
from knowledgegraphbuilder_spark.plans.checkpoint import CheckpointedPipeline
from knowledgegraphbuilder_spark.session import build_session
from knowledgegraphbuilder_spark.sources.interleaved import (
    read_documents_parquet,
    synthesize_spans,
)
from knowledgegraphbuilder_spark.sources.sinks import write_graph


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--work-dir", required=True)
    ap.add_argument(
        "--resume", action=argparse.BooleanOptionalAction, default=True,
        help="reuse existing stage checkpoints (--no-resume recomputes all)",
    )
    ap.add_argument("--query")
    ap.add_argument("--parallelism", type=int, default=None)
    args = ap.parse_args()

    spark = build_session("kg-pipeline", parallelism=args.parallelism)
    if os.path.isdir(args.input) and os.path.exists(f"{args.input}/documents.parquet"):
        spans = read_documents_parquet(spark, args.input)
    else:
        spans = synthesize_spans(spark.read.parquet(args.input))

    t0 = time.time()
    pipe = CheckpointedPipeline(spark, args.work_dir, KGConfig())
    res = pipe.run(spans, force=not args.resume)
    write_graph(
        args.output,
        nodes=res.nodes, edges=res.edges, provenance=res.provenance,
        documents=res.documents, membership=res.membership,
    )
    n_docs = res.documents.count()
    n_triples = res.triples.count()
    summary = {
        "docs": n_docs,
        "triples": n_triples,
        "wall_s": round(time.time() - t0, 2),
        "docs_per_sec": round(n_docs / max(time.time() - t0, 1e-9), 2),
        "stages": pipe.stage_log,
    }
    print(json.dumps(summary))

    if args.query:
        from knowledgegraphbuilder_spark.operators.answer import answer_question
        from knowledgegraphbuilder_spark.operators.retrieval import (
            index_edges,
            retrieve_documents,
        )

        idx = index_edges(res.edges)
        top = retrieve_documents(res.edges, res.membership, idx, args.query)
        answer = answer_question(top, res.documents, args.query)
        print(json.dumps({
            "query": args.query,
            "top_docs": [r.asDict() for r in top.collect()],
            "answer": answer,
        }))
    spark.stop()


if __name__ == "__main__":
    main()
