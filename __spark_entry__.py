"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship KG-construction pipeline at sf0.001.
``queries()`` exposes one entry per implemented operator family from
SURVEY.md §2 (names carry the operator ids); ``oracle_sql()`` gives the
DuckDB-equivalent SQL for every SQL-expressible one. Ids/hashes are sha256
(portable across Spark and DuckDB); floats are rounded before comparison;
every computed column is aliased identically on both sides.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from knowledgegraphbuilder_spark.config import KGConfig
from knowledgegraphbuilder_spark.operators import ann as ann_ops
from knowledgegraphbuilder_spark.operators import dedup as dd
from knowledgegraphbuilder_spark.operators import textstats as ts
from knowledgegraphbuilder_spark.operators.canonicalize import connected_components
from knowledgegraphbuilder_spark.operators.clustering import kmeans_oracle_sql as _kmeans_oracle_sql
from knowledgegraphbuilder_spark.operators.clustering import silhouette_oracle_sql as _silhouette_oracle_sql
from knowledgegraphbuilder_spark.functions.hashing import duckdb_word_shingles
from knowledgegraphbuilder_spark.operators.sketches import _bloom_positions
from knowledgegraphbuilder_spark.operators import sketches as _sketches
from knowledgegraphbuilder_spark.operators.sketches import cms_oracle_sql as _cms_oracle_sql
from knowledgegraphbuilder_spark.operators.sketches import hll_oracle_sql as _hll_oracle_sql
from knowledgegraphbuilder_spark.operators.chunk import chunk_documents
from knowledgegraphbuilder_spark.operators.flatten import flatten_documents
from knowledgegraphbuilder_spark.operators.labels import deterministic_sample, generate_labels
from knowledgegraphbuilder_spark.operators.multimodal import extract_features, fetch_media, media_refs
from knowledgegraphbuilder_spark.operators.pagerank import personalized_pagerank
from knowledgegraphbuilder_spark.operators.relations import chunk_mention_join
from knowledgegraphbuilder_spark.operators.retrieval import index_edges, retrieve_documents
from knowledgegraphbuilder_spark.plans.pipeline import run_pipeline
from knowledgegraphbuilder_spark.sources.interleaved import read_documents_parquet

CFG = KGConfig()


# ---------------------------------------------------------------------------
# shared loaders
# ---------------------------------------------------------------------------

def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    # sandbox fixtures are single-split files; spread small dimension-free
    # tables so per-partition operators parallelize (no-op at lake scale)
    if name in ("documents", "embeddings", "events"):
        df = df.repartition(spark.sparkContext.defaultParallelism)
    return df


_PIPE_CACHE: dict[str, object] = {}


_SPANS_CACHE: dict[str, object] = {}


def _spans_cached(spark: SparkSession, sf_dir: str):
    """The synthesized interleaved spans table feeds 17 queries (the mm_*
    family, the streaming fixtures, the KG pipeline); the boundary-slice
    synthesis expressions cost ~9 s at sf0.1, so one eager localCheckpoint
    per (session, sf_dir) pays it once — the _copurchase_edges
    discipline. Values identical either way."""
    key = f"{id(spark)}|{sf_dir}"
    if key not in _SPANS_CACHE:
        _SPANS_CACHE[key] = read_documents_parquet(
            spark, sf_dir
        ).localCheckpoint(eager=True)
    return _SPANS_CACHE[key]


def _kg(spark: SparkSession, sf_dir: str):
    """Pipeline results for sf_dir (cached per dir within a process).

    materialize="ckpt" pins the expensive fan-out points (inference UDF
    outputs) with localCheckpoint, so the many contract queries that consume
    mentions/relations/edges hit the materialized tables instead of replaying
    the whole inference chain per action."""
    key = sf_dir
    if key not in _PIPE_CACHE:
        spans = _spans_cached(spark, sf_dir)
        _PIPE_CACHE[key] = run_pipeline(spans, CFG, materialize="ckpt")
    return _PIPE_CACHE[key]


# ---------------------------------------------------------------------------
# Spark-side queries
# ---------------------------------------------------------------------------

def q_kg_s1_flatten(spark, sf_dir):
    docs = _kg(spark, sf_dir).documents
    return docs.select("doc_id", "text", F.size("media_refs").alias("n_media"))


def q_kg_u2_mentions(spark, sf_dir):
    m = _kg(spark, sf_dir).mentions
    return m.select("mention_id", "doc_id", "start", "end", "label", "text", "word_idx")


def q_kg_u3_labels(spark, sf_dir):
    return generate_labels(_kg(spark, sf_dir).documents, CFG)


def q_kg_u4_relations(spark, sf_dir):
    r = _kg(spark, sf_dir).relations
    return r.select("relation_id", "doc_id", "head_mention_id", "tail_mention_id",
                    "rel_type", "description")


def q_kg_a1_nodes(spark, sf_dir):
    """A1 contract: node rows + member-id CSV. The pipeline only materializes
    the normalized membership table (the 10^12-scale representation); the
    per-node id list is aggregated here, in the small-sf contract query."""
    kg = _kg(spark, sf_dir)
    csv = kg.membership.groupBy("node_id").agg(
        F.concat_ws(",", F.array_sort(F.collect_list("mention_id"))).alias("mention_ids_csv")
    )
    return kg.nodes.select("node_id", "text", "n_mentions").join(csv, "node_id")


def q_kg_j2_edges(spark, sf_dir):
    e = _kg(spark, sf_dir).edges
    return e.select("edge_id", "head_node_id", "tail_node_id", "rel_type", "doc_id")


def q_kg_triples(spark, sf_dir):
    t = _kg(spark, sf_dir).triples
    return t.select("subj", "pred", "obj", "doc_id")


def q_kg_sink_roundtrip(spark, sf_dir):
    """Bulk graph sink + re-read under the value-exact gate (S3/S4/S6/S7):
    the pipeline's tables write through sinks.write_graph (edges partitioned
    by rel_type — hive pruning on typed traversals), read back with
    read_graph, and the triples re-derive FROM THE SINKED TABLES (edges
    joined to re-linked nodes, J5) — so schema drift, partition mangling, or
    FK breakage in the sink layer breaks the hash against the same oracle
    that checks the in-memory triples."""
    import hashlib
    import shutil

    from knowledgegraphbuilder_spark.sources.sinks import (
        read_graph, write_graph,
    )

    kg = _kg(spark, sf_dir)
    tag = hashlib.sha256(sf_dir.encode()).hexdigest()[:10]
    base = f"/tmp/kg_sink_rt_{tag}"
    shutil.rmtree(base, ignore_errors=True)
    write_graph(base, nodes=kg.nodes, edges=kg.edges,
                provenance=kg.provenance)
    g = read_graph(spark, base)
    e, n = g["edges"], g["nodes"]
    hn = n.select(F.col("node_id").alias("head_node_id"),
                  F.col("text").alias("subj"))
    tn = n.select(F.col("node_id").alias("tail_node_id"),
                  F.col("text").alias("obj"))
    return (
        e.join(F.broadcast(hn), "head_node_id")
        .join(F.broadcast(tn), "tail_node_id")
        .select("subj", F.col("rel_type").alias("pred"), "obj", "doc_id")
    )


def q_kg_snapshot_timetravel(spark, sf_dir):
    """Snapshot-commit sink (S3+): v1 = the full triple table, v2 = a
    corrupting overwrite (half the rows) — then TIME TRAVEL back to v1 must
    re-derive the full table value-exactly. Pins the immutable-version
    property (a reader of snapshot 1 is unaffected by later commits), not
    just write-then-read."""
    import hashlib
    import shutil

    from knowledgegraphbuilder_spark.sources.sinks import (
        read_graph_snapshot, write_graph_snapshot,
    )

    kg = _kg(spark, sf_dir)
    t = kg.triples.select("subj", "pred", "obj", "doc_id")
    tag = hashlib.sha256(sf_dir.encode()).hexdigest()[:10]
    base = f"/tmp/kg_snap_tt_{tag}"
    shutil.rmtree(base, ignore_errors=True)
    v1 = write_graph_snapshot(base, {"triples": t})
    write_graph_snapshot(
        base, {"triples": t.filter(F.crc32(F.col("subj")) % 2 == 0)}
    )
    return read_graph_snapshot(spark, base, snapshot_id=v1)["triples"]


def q_kg_answer(spark, sf_dir):
    """U6 answer generation under the value-exact gate: full QA chain
    (retrieval -> context format -> deterministic template backend ->
    <think> strip) for the standard question; the oracle derives the same
    string from the retrieval_topk oracle's row count, so retrieval drift or
    a broken strip/template breaks the hash."""
    import dataclasses

    from knowledgegraphbuilder_spark.operators.answer import answer_question

    kg = _kg(spark, sf_dir)
    cfg = dataclasses.replace(CFG, pagerank_max_iter=300, pagerank_tol=1.0e-12)
    idx = index_edges(kg.edges, CFG.embedding_dim)
    q = "which customer stream uses spark"
    ranked = retrieve_documents(kg.edges, kg.membership, idx, q, cfg)
    docs = _spans_cached(spark, sf_dir)
    from knowledgegraphbuilder_spark.operators.flatten import flatten_documents

    ans = answer_question(ranked, flatten_documents(docs), q)
    return spark.createDataFrame([(q, ans)], "question string, answer string")


def q_kg_snapshot_diff(spark, sf_dir):
    """CDC between graph snapshots (sinks.py:snapshot_diff): v1 = full
    triples, v2 = the sha-even subset, committed as two snapshot versions
    and diffed after read-back — exactly the 'removed' rows (sha-odd)
    survive, which the oracle computes directly."""
    import hashlib
    import shutil

    from knowledgegraphbuilder_spark.sources.sinks import (
        read_graph_snapshot, snapshot_diff, write_graph_snapshot,
    )

    kg = _kg(spark, sf_dir)
    t = kg.triples.select("subj", "pred", "obj", "doc_id")
    keep = F.expr(
        "cast(conv(substring(sha2(subj, 256), 1, 15), 16, 10) as bigint) % 2"
    ) == 0
    tag = hashlib.sha256(sf_dir.encode()).hexdigest()[:10]
    base = f"/tmp/kg_snap_diff_{tag}"
    shutil.rmtree(base, ignore_errors=True)
    v1 = write_graph_snapshot(base, {"triples": t})
    v2 = write_graph_snapshot(base, {"triples": t.filter(keep)})
    old = read_graph_snapshot(spark, base, snapshot_id=v1)["triples"]
    new = read_graph_snapshot(spark, base, snapshot_id=v2)["triples"]
    return snapshot_diff(old, new)


def q_src_jsonl(spark, sf_dir):
    """S1 JSONL scan under the value-exact gate: documents written as three
    id-less JSONL files, re-read through read_jsonl_documents — ids must be
    the contiguous deterministic numbering (global rank over (file,
    sha256(text))), which the oracle recomputes from the same rule."""
    import hashlib
    import shutil

    from knowledgegraphbuilder_spark.sources.interleaved import (
        read_jsonl_documents,
    )

    d = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("orig_id"), "text"
    )
    n = d.agg(F.max("orig_id")).first()[0]
    bounds = [0, n // 3, 2 * n // 3, n + 1]
    tag = hashlib.sha256(sf_dir.encode()).hexdigest()[:10]
    base = f"/tmp/kg_src_jsonl_{tag}"
    shutil.rmtree(base, ignore_errors=True)
    for i in range(3):
        (d.filter((F.col("orig_id") >= bounds[i])
                  & (F.col("orig_id") < bounds[i + 1]))
         .select(F.to_json(F.struct("text")).alias("value"))
         .coalesce(1).write.mode("overwrite").text(f"{base}/b{i}"))
    out = read_jsonl_documents(spark, f"{base}/b*/part-*")
    return out.select("doc_id", "text")


def q_src_txt(spark, sf_dir):
    """S2 TXT scan under the value-exact gate: ten documents written as
    whole-text files (one doc per file, reference front/app.py:105-113
    shape), re-read through read_txt_documents — filename-derived ids and
    verbatim text replayed from the documents table."""
    import hashlib
    import os
    import shutil

    from knowledgegraphbuilder_spark.sources.interleaved import (
        read_txt_documents,
    )

    d = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("orig_id"), "text"
    ).filter(F.col("orig_id") < 10)
    tag = hashlib.sha256(sf_dir.encode()).hexdigest()[:10]
    base = f"/tmp/kg_src_txt_{tag}"
    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(base)
    for r in d.collect():
        with open(f"{base}/t{r['orig_id']}", "w") as f:
            f.write(r["text"])
    return read_txt_documents(spark, f"{base}/t*").select("doc_id", "text")


def q_kg_provenance(spark, sf_dir):
    """Per-triple provenance rows (north-rule lineage surface; the physical
    partition_id column is execution-dependent and excluded from the value
    contract — row counts/ids/stage are checked exactly)."""
    p = _kg(spark, sf_dir).provenance
    return p.select("triple_id", "subj", "pred", "obj", "doc_id",
                    "head_mention_id", "tail_mention_id", "stage")


def q_kg_p1_chunk_entities(spark, sf_dir):
    kg = _kg(spark, sf_dir)
    re_chunks = chunk_documents(kg.documents, CFG.re_chunk_size, CFG.re_chunk_overlap)
    joined = chunk_mention_join(re_chunks, kg.mentions)
    return (
        joined.groupBy(F.col("c.doc_id").alias("doc_id"), F.col("c.chunk_idx").alias("chunk_idx"))
        .agg(F.count("*").cast("long").alias("n_entities"))
        .filter(F.col("n_entities") >= 2)
    )


def q_kg_a5_docweight(spark, sf_dir):
    kg = _kg(spark, sf_dir)
    return (
        kg.membership.join(kg.nodes.select("node_id", "n_mentions"), "node_id")
        .groupBy("doc_id")
        .agg(F.sum("n_mentions").cast("long").alias("weight"))
    )


def q_kg_t3_topdocs(spark, sf_dir):
    return q_kg_a5_docweight(spark, sf_dir).orderBy(F.desc("weight"), F.col("doc_id")).limit(5)


def q_kg_t1_sample(spark, sf_dir):
    docs = _kg(spark, sf_dir).documents
    return deterministic_sample(docs, CFG.sample_size_ner_labels).select("doc_id")


def q_kg_f8_sanitize(spark, sf_dir):
    r = _kg(spark, sf_dir).relations
    return (
        r.select("rel_type").distinct()
        .select("rel_type", F.upper(F.translate("rel_type", " -", "__")).alias("rel_type_neo4j"))
    )


def q_kg_f9_strip_think(spark, sf_dir):
    """F9 (graph_answering.py:55-66): strip <think> blocks from model answers
    — exercised on synthetic answers built from the documents table."""
    from knowledgegraphbuilder_spark.operators.answer import strip_think_col

    d = _t(spark, sf_dir, "documents")
    answers = d.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.concat(
            F.lit("<think>reasoning about "), F.col("text"), F.lit("\nmore</think>"),
            F.lit("Answer: "), F.col("lang"),
        ).alias("raw"),
    )
    return answers.select("doc_id", strip_think_col(F.col("raw")).alias("answer"))


def q_dd_exact(spark, sf_dir):
    """Exact dedup over the corpus + deterministically planted duplicates
    (every 50th doc re-inserted under a shifted id) — the fixture corpus has
    no exact dups of its own, and a 0-row result proves nothing."""
    d = _t(spark, sf_dir, "documents")
    planted = (
        d.filter(F.col("doc_id") % 50 == 0)
        .select((F.col("doc_id") + 10_000_000).alias("doc_id"), "text")
    )
    return dd.exact_duplicates(d.select("doc_id", "text").unionByName(planted))


def q_ann_batch(spark, sf_dir):
    """T2 batch shape, exact baseline: top-k for a table of query vectors
    (crossJoin-broadcast + per-query window top-k). The scale path is
    ann_lsh_batch below — this stays as the labeled verification baseline."""
    embs = _t(spark, sf_dir, "embeddings")
    queries = embs.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ann_ops.topk_bruteforce_batch(embs, queries, k=5)


def q_ann_lsh_batch(spark, sf_dir):
    """Batched LSH probe (the 100 TB batch-search path): per-query bucket
    equi-join candidates + exact rescore, never a per-query corpus scan."""
    embs = _t(spark, sf_dir, "embeddings")
    queries = embs.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ann_ops.ann_lsh_batch(embs, queries, k=5, n_bits=4, n_tables=8)


def q_ann_sq8(spark, sf_dir):
    """Int8 scalar quantization of the embedding corpus (ann.py:
    scalar_quantize, the FAISS SQ8 storage trick): per-dim corpus min/max
    define 0..255 codes; per-vector reconstruction MSE rides along. One
    map-side stats aggregate broadcast back onto pure array expressions."""
    return ann_ops.scalar_quantize(_t(spark, sf_dir, "embeddings"))


def q_ann_recall(spark, sf_dir):
    """ANN calibration (ann.py:recall_at_k): per-query recall@k + MRR of the
    batched-LSH ranker against the exact brute-force ranking — the measured
    quality side of the recall/latency trade-off (same params as ann_batch /
    ann_lsh_batch so the oracle composes from those two texts verbatim)."""
    embs = _t(spark, sf_dir, "embeddings")
    queries = embs.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = ann_ops.topk_bruteforce_batch(embs, queries, k=5)
    approx = ann_ops.ann_lsh_batch(embs, queries, k=5, n_bits=4, n_tables=8)
    return ann_ops.recall_at_k(exact, approx)


def q_dd_ngram_jaccard(spark, sf_dir):
    return dd.ngram_jaccard_pairs(_t(spark, sf_dir, "documents"), threshold=0.9, k=3)


def q_dd_contain(spark, sf_dir):
    """Asymmetric set-containment dedup (dedup.py:ngram_containment_pairs):
    documents + planted 25-token snippets (every 40th doc, id+20M) — the
    quoted-inside case Jaccard misses (J ~ 0.25, C = 1.0). Probe-side
    prefix filter; exact ratio verified on full shingle sets."""
    d = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    )
    planted = d.filter(F.col("doc_id") % 40 == 0).select(
        (F.col("doc_id") + 20_000_000).alias("doc_id"),
        F.concat_ws(" ", F.slice(F.split("text", " "), 1, 25)).alias("text"),
    )
    return dd.ngram_containment_pairs(
        d.unionByName(planted), threshold=0.9, k=3
    )


def q_dd_minhash_lsh(spark, sf_dir):
    # bands=16/rows=2: P(miss at J=0.9) = (1 - 0.9^2)^16 ~ 3e-12, and the
    # 2-row band key keeps bucket sizes (and the candidate self-join) small —
    # single-minhash bands collapse into huge buckets on repetitive corpora
    return dd.minhash_lsh_pairs(
        _t(spark, sf_dir, "documents"), threshold=0.9, n_perm=32, bands=16, k=3
    )


def q_ts_profile(spark, sf_dir):
    """Table profiling (profile.py:profile_table): per-column null/distinct
    counts, binary min/max, avg stringified length, modal value — one corpus
    scan via a stack unpivot, output stays #columns rows at any scale."""
    from knowledgegraphbuilder_spark.operators.profile import profile_table

    return profile_table(
        _t(spark, sf_dir, "documents"),
        ["doc_id", "text", "lang", "source", "n_chars"],
    )


def q_dd_cdc(spark, sf_dir):
    """Content-defined-chunking dedup (dedup.py:cdc_pairs, the rsync/LBFS
    family): documents + planted SINGLE-TOKEN-INSERTION copies (every 40th
    doc, one token spliced in at position 10, id+30M) — the edit class that
    shifts every fixed k-token window downstream of the edit but moves only
    the CDC boundaries around it. Pairs = docs sharing >= 2 piece hashes."""
    d = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    )
    planted = d.filter(F.col("doc_id") % 40 == 0).select(
        (F.col("doc_id") + 30_000_000).alias("doc_id"),
        F.concat_ws(
            " ",
            F.concat_ws(" ", F.slice(F.split("text", " "), 1, 10)),
            F.lit("INSERTED"),
            F.concat_ws(
                " ",
                F.expr("slice(split(text, ' '), 11, greatest(size(split(text, ' ')) - 10, 1))"),
            ),
        ).alias("text"),
    )
    # min_shared=3 / max_piece_df=20: the synthetic corpus is templated, so
    # looser settings drown the planted edits in boilerplate-piece pairs
    # (2 -> 12k pairs); these keep 12/13 planted pairs in a 38-pair result
    return dd.cdc_pairs(d.unionByName(planted), min_shared=3, max_piece_df=20)


def q_dd_calibration(spark, sf_dir):
    """Dedup-candidate calibration (dedup.py:pair_metrics): precision /
    recall / F1 of the Hamming<=3 SimHash pair set against the exact
    Jaccard>=0.9 gold — the two similarity notions genuinely disagree on
    this corpus (22/25 overlap), so the metrics are non-trivial. Oracle
    composes the dd_simhash and dd_ngram_jaccard oracle texts verbatim."""
    docs = _t(spark, sf_dir, "documents")
    gold = dd.ngram_jaccard_pairs(docs, threshold=0.9, k=3)
    cand = dd.simhash_pairs(docs, max_hamming=3, n_blocks=4)
    return dd.pair_metrics(gold, cand)


def q_dd_simhash(spark, sf_dir):
    # max_hamming=3 < n_blocks=4: pigeonhole-complete, so the banded LSH
    # output is EXACTLY the all-pairs Hamming join the DuckDB oracle runs
    return dd.simhash_pairs(_t(spark, sf_dir, "documents"), max_hamming=3, n_blocks=4)


def q_dd_embed_cosine(spark, sf_dir):
    return dd.embedding_cosine_pairs(_t(spark, sf_dir, "embeddings"), threshold=0.45)


def q_dd_embed_cosine_lsh(spark, sf_dir):
    return dd.embedding_cosine_pairs_lsh(_t(spark, sf_dir, "embeddings"), threshold=0.45)


def q_dd_semdedup(spark, sf_dir):
    """SemDeDup: sha256-stride centroids -> broadcast-argmin clustering ->
    first-wins intra-cluster cosine pruning (dedup.py:semantic_dedup)."""
    return dd.semantic_dedup(
        _t(spark, sf_dir, "embeddings"), threshold=0.3, centroid_stride=50
    )


_TRI_CACHE: dict[str, object] = {}


def _triangle_table(spark, sf_dir):
    """Per-node triangle/clustering table over the co-purchase projection —
    the wedge enumeration feeds both g5_triangles (per-node view) and
    g26_gcc (transitivity rollup); one eager localCheckpoint per
    (session, sf_dir). The cached projection is canonical (src < dst,
    distinct) by construction, so the re-canonicalization shuffle is
    skipped (assume_canonical)."""
    from knowledgegraphbuilder_spark.operators.graphstats import triangle_clustering

    key = f"{id(spark)}|{sf_dir}"
    if key not in _TRI_CACHE:
        _TRI_CACHE[key] = triangle_clustering(
            _copurchase_edges(spark, sf_dir), assume_canonical=True
        ).localCheckpoint(eager=True)
    return _TRI_CACHE[key]


def q_g5_triangles(spark, sf_dir):
    """Co-purchase graph (orders x parts bipartite projection, group-size
    capped) -> per-node triangle counts + local clustering coefficient
    (graphstats.py:cooccurrence_edges / triangle_clustering)."""
    return _triangle_table(spark, sf_dir)


def q_g14_harmonic(spark, sf_dir):
    """Bounded harmonic centrality of the 3 sha256-smallest nodes
    (graphstats.py:harmonic_centrality, 3-hop ball, integer micro-unit
    1/dist sums); oracle = seed-keyed 3-round BFS unroll."""
    from knowledgegraphbuilder_spark.operators.graphstats import (
        harmonic_centrality,
    )

    edges = _copurchase_edges(spark, sf_dir)
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionAll(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    seeds = nodes.orderBy(F.sha2(F.col("node"), 256)).limit(3)
    return harmonic_centrality(edges, seeds, max_hops=3)


def q_g12_linkpred(spark, sf_dir):
    """Link prediction on the weight>=2 co-purchase graph: top-100 missing
    edges by exact-integer Resource Allocation (graphstats.link_prediction);
    the max_hub_degree=10 wedge-center cap is contract-exercised (graph max
    degree is 13 at sf0.01, so the cap actually prunes)."""
    from knowledgegraphbuilder_spark.operators.graphstats import link_prediction

    # min_weight=2 is a pure filter over the shared cached projection
    edges = _copurchase_edges(spark, sf_dir).filter(F.col("weight") >= 2)
    return link_prediction(edges, max_hub_degree=10, top_n=100)


def q_ts_adaptive_filter(spark, sf_dir):
    """Per-language adaptive quantile thresholding
    (curation.py:per_group_quantile_filter): keep each lang's docs at or
    above that lang's HDR-estimated median n_chars — per-stratum cutoffs a
    single global threshold gets wrong; sketch per group, thresholds
    broadcast onto a pure filter."""
    from knowledgegraphbuilder_spark.operators.curation import (
        per_group_quantile_filter,
    )

    return per_group_quantile_filter(
        _t(spark, sf_dir, "documents"), group_col="lang",
        value_expr="n_chars", q=0.5,
    )


def q_dd_rewrite(spark, sf_dir):
    """Exact-substring dedup REWRITE (curation.py:substring_dedup_rewrite,
    the removal step of Lee et al. 2022): same planted-partial-copy corpus
    as dd_substring; every duplicated 8-token window keeps only its global
    first occurrence and later occurrences' tokens are cut, so the planted
    docs lose their copied prefixes to the originals."""
    from knowledgegraphbuilder_spark.operators.curation import substring_dedup_rewrite

    d = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    )
    planted = d.filter(F.col("doc_id") % 40 == 0).select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"),
        F.concat(
            F.concat_ws(" ", F.slice(F.split("text", " "), 1, 20)),
            F.lit(" planted tail "),
            F.col("doc_id").cast("string"),
        ).alias("text"),
    )
    return substring_dedup_rewrite(d.unionByName(planted), k=8)


def q_dd_substring(spark, sf_dir):
    """Exact-substring duplication stats (windowed Lee-et-al-2022 dedup):
    documents + planted partial copies (every 40th doc's first 20 tokens under
    a shifted id with a distinct tail) -> per-doc dup-window fraction. The
    planted docs guarantee overlap without making any doc a full duplicate."""
    from knowledgegraphbuilder_spark.operators.curation import substring_dup_stats

    d = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    )
    planted = d.filter(F.col("doc_id") % 40 == 0).select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"),
        F.concat(
            F.concat_ws(" ", F.slice(F.split("text", " "), 1, 20)),
            F.lit(" planted tail "),
            F.col("doc_id").cast("string"),
        ).alias("text"),
    )
    return substring_dup_stats(d.unionByName(planted), k=8)


def q_dd_contamination(spark, sf_dir):
    """Benchmark decontamination (13-gram-style n-gram overlap, k=8): the
    eval set is a 30-token slice of every 100th document — training docs
    containing that slice (the doc itself, plus any accidental repeats) are
    flagged via a broadcast join on window hashes; one scan of the corpus."""
    from knowledgegraphbuilder_spark.operators.curation import decontaminate

    d = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    )
    ev = d.filter(F.col("doc_id") % 100 == 0).select(
        "doc_id",
        F.concat_ws(" ", F.slice(F.split("text", " "), 5, 30)).alias("text"),
    )
    return decontaminate(d, ev, k=8)


def q_ts_pii(spark, sf_dir):
    """PII detect + redact over documents with deterministically planted PII
    (every 10th doc gets an email, an IPv4, and a 16-digit card number)."""
    from knowledgegraphbuilder_spark.operators.curation import pii_stats

    d = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 10 == 0,
                F.concat(
                    F.lit(" contact user"),
                    F.col("doc_id").cast("string"),
                    F.lit("@example.com from 10.1.2.3 card 1234567890123456"),
                ),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    return pii_stats(d)


def q_ts_repetition(spark, sf_dir):
    """Gopher-style repetition quality signals (dup-word fraction, top-2gram
    char coverage) over the raw documents table — the synthetic small-vocab
    text is naturally repetitive, so the signals are exercised end-to-end
    without planted fixtures."""
    from knowledgegraphbuilder_spark.operators.curation import repetition_stats

    return repetition_stats(_t(spark, sf_dir, "documents"), n=2)


def q_ts_qualityfilter(spark, sf_dir):
    """C4/Gopher composite quality gate: keep/drop + per-doc reject reasons
    (too_short / dup_words / top_ngram / low_alpha) at thresholds that split
    the synthetic corpus."""
    from knowledgegraphbuilder_spark.operators.curation import quality_filter

    return quality_filter(
        _t(spark, sf_dir, "documents"),
        min_tokens=20,
        max_dup_word_frac=0.6,
        max_top_ngram_frac=0.1,
        min_alpha_frac=0.5,
    )


def q_dd_mixture(spark, sf_dir):
    """Deterministic weighted mixture sampling: src0-4 kept at 100%,
    src5-9 at 50%, src10-19 at 10%, decided by a salted sha256 of doc_id
    (stable under repartitioning, unlike df.sample)."""
    from knowledgegraphbuilder_spark.operators.curation import mixture_sample

    rates = {f"src{i}": (1.0 if i < 5 else 0.5 if i < 10 else 0.1) for i in range(20)}
    return mixture_sample(_t(spark, sf_dir, "documents"), rates)


def q_ts_packing(spark, sf_dir):
    """Sequence packing: per-shard (sha256(doc_id) % 8) concat-then-chunk
    token-stream packing at seq_len=256 — each doc's stream offset and the
    training-sequence id holding its first token."""
    from knowledgegraphbuilder_spark.operators.curation import pack_sequences

    return pack_sequences(_t(spark, sf_dir, "documents"), seq_len=256, n_shards=8)


def q_ann_topk(spark, sf_dir):
    embs = _t(spark, sf_dir, "embeddings")
    q = embs.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    return ann_ops.topk_bruteforce(embs, list(q), k=10)


def q_ann_lsh(spark, sf_dir):
    embs = _t(spark, sf_dir, "embeddings")
    q = embs.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    return ann_ops.ann_lsh(embs, list(q), k=10, n_bits=4, n_tables=8)


def q_ann_ivf(spark, sf_dir):
    embs = _t(spark, sf_dir, "embeddings")
    q = embs.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    return ann_ops.ann_ivf(embs, list(q), k=10, centroid_stride=50, nprobe=4)


def q_ann_pq(spark, sf_dir):
    """Product-quantization ANN (ann.py:ann_pq): 8 subspaces, sha256-stride
    codebooks, ADC shortlist of 50 via fixed-order pivot sums, exact cosine
    rescore — the whole pruning path replays value-exactly in SQL."""
    embs = _t(spark, sf_dir, "embeddings")
    q = embs.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    return ann_ops.ann_pq(embs, list(q), k=10, m=8, centroid_stride=50,
                          shortlist=50)


def q_ann_ivf_batch(spark, sf_dir):
    """Batched IVF probe: one corpus coarse-quantization serves every query;
    per-query nprobe cells rescored exactly (see ann.py:ann_ivf_batch)."""
    embs = _t(spark, sf_dir, "embeddings")
    queries = embs.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ann_ops.ann_ivf_batch(embs, queries, k=5, centroid_stride=50, nprobe=4)


def q_bm25(spark, sf_dir):
    """BM25 keyword search over documents (the lexical baseline next to the
    dense ANN paths; k1=1.2, b=0.75, whitespace terms)."""
    from knowledgegraphbuilder_spark.operators.textsearch import bm25_topk

    return bm25_topk(
        _t(spark, sf_dir, "documents"),
        ["customer", "stream", "spark"], k=10,
    )


def q_stream_dedup(spark, sf_dir):
    """STREAMING exact dedup under the value-exact gate: documents (+ planted
    duplicates of every 50th doc under shifted ids, like dd_exact) land as
    three doc_id-ascending files, drain one file per micro-batch through a
    first-wins MERGE keyed by sha256(text) — then the whole input REPLAYS
    against a fresh checkpoint, proving the merge is a no-op on seen keys.
    The table must equal batch dedup: min doc_id per distinct content."""
    import hashlib
    import shutil

    d = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    )
    planted = d.filter(F.col("doc_id") % 50 == 0).select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"), "text"
    )
    full = d.unionByName(planted)
    tag = hashlib.sha256(sf_dir.encode()).hexdigest()[:10]
    base = f"/tmp/kg_stream_dedup_{tag}"
    shutil.rmtree(base, ignore_errors=True)
    n = full.agg(F.max("doc_id")).first()[0]
    bounds = [0, 200, 400, n + 1]
    for i in range(3):
        (full.filter((F.col("doc_id") >= bounds[i]) & (F.col("doc_id") < bounds[i + 1]))
         .coalesce(1).write.mode("overwrite").parquet(f"{base}/in/b{i}"))
    from knowledgegraphbuilder_spark.streaming.ingest import run_dedup_available_now

    run_dedup_available_now(spark, f"{base}/in/*", f"{base}/out", f"{base}/ck")
    # full replay, fresh checkpoint: first-wins MERGE must leave the table
    # byte-identical
    run_dedup_available_now(spark, f"{base}/in/*", f"{base}/out", f"{base}/ck2")
    return spark.read.parquet(f"{base}/out").select("content_hash", "doc_id")


def q_ts_langid(spark, sf_dir):
    return ts.language_id(_t(spark, sf_dir, "documents"))


def q_ts_quality(spark, sf_dir):
    return ts.quality_score(_t(spark, sf_dir, "documents"))


def q_ts_tokens(spark, sf_dir):
    return ts.token_counts(_t(spark, sf_dir, "documents"))


def q_ts_fingerprint(spark, sf_dir):
    return ts.fingerprint(_t(spark, sf_dir, "documents"))


def q_ts_perplexity(spark, sf_dir):
    """CCNet-style quality scoring: per-doc perplexity under a self-trained
    add-0.5-smoothed bigram LM (textstats.py:bigram_perplexity)."""
    return ts.bigram_perplexity(_t(spark, sf_dir, "documents"))


_NEARDUP_CC_CACHE: dict[str, object] = {}


def q_g4_cc(spark, sf_dir):
    """Near-dup CC assignment (cached per session/sf: g32_ccsizes rolls
    the same assignment up into a size histogram)."""
    key = f"{id(spark)}|{sf_dir}"
    if key not in _NEARDUP_CC_CACHE:
        pairs = dd.ngram_jaccard_pairs(
            _t(spark, sf_dir, "documents"), threshold=0.9, k=3)
        edges = pairs.select(F.col("id_a").alias("src"),
                             F.col("id_b").alias("dst"))
        _NEARDUP_CC_CACHE[key] = connected_components(edges).localCheckpoint(
            eager=True)
    return _NEARDUP_CC_CACHE[key]


def q_g6_kcore(spark, sf_dir):
    """k-core backbone of the co-purchase graph (k=80): iterative peeling,
    one degree agg + two semi-joins per round (graphstats.py:k_core). The
    oracle replays a fixed 8-round unroll — peeling converges in 6 rounds on
    this input and the converged state is a fixed point, so extra rounds are
    no-ops."""
    from knowledgegraphbuilder_spark.operators.graphstats import k_core

    return k_core(_copurchase_edges(spark, sf_dir), k=80)


def q_g3_pagerank(spark, sf_dir):
    kg = _kg(spark, sf_dir)
    sources = kg.nodes.orderBy(F.desc("n_mentions"), "text").limit(3).select("node_id")
    ranks = personalized_pagerank(kg.edges, sources, CFG.pagerank_damping, 30, 1e-9)
    return (
        ranks.join(kg.nodes.select("node_id", "text"), "node_id")
        .select("text", F.round("score", 4).alias("score"))
    )


def q_retrieval_topk(spark, sf_dir):
    """Full QA retrieval (LSH probe -> rescore -> PPR -> doc weights). The
    contract pins the PPR *fixed point*: tol 1e-12 / 300 iters on both sides
    puts Spark's early-exit and the oracle's fixed iteration count within
    1e-11 of each other — far inside the 6dp rounding. (Pipeline defaults
    stay at the reference's 100/1e-6.)"""
    import dataclasses

    kg = _kg(spark, sf_dir)
    cfg = dataclasses.replace(CFG, pagerank_max_iter=300, pagerank_tol=1.0e-12)
    idx = index_edges(kg.edges, CFG.embedding_dim)
    return retrieve_documents(kg.edges, kg.membership, idx, "which customer stream uses spark", cfg)


def q_retrieval_batch(spark, sf_dir):
    """Batched multi-query retrieval (one plan, query-keyed batched PPR);
    same fixed-point pinning as retrieval_topk."""
    import dataclasses

    from knowledgegraphbuilder_spark.operators.retrieval import (
        retrieve_documents_batch,
    )

    kg = _kg(spark, sf_dir)
    cfg = dataclasses.replace(CFG, pagerank_max_iter=300, pagerank_tol=1.0e-12)
    idx = index_edges(kg.edges, CFG.embedding_dim)
    queries = spark.createDataFrame(
        [("q0", "which customer stream uses spark"),
         ("q1", "vector table technology")],
        "query_id string, query_text string",
    )
    return retrieve_documents_batch(kg.edges, kg.membership, idx, queries, cfg)


def q_mm_features(spark, sf_dir):
    spans = _spans_cached(spark, sf_dir)
    feats = extract_features(fetch_media(media_refs(spans)))
    return feats.select("media_ref", "media_type", "n_bytes", "byte_mean", "byte_entropy")


def q_mm_align(spark, sf_dir):
    """Media->caption alignment over the interleaved spans table
    (multimodal.py:align_media_to_text): every image/audio span paired with
    its nearest preceding text span (else nearest following). The oracle
    reconstructs the deterministic span synthesis
    (sources/interleaved.py:synthesize_spans) in SQL and replays the same
    running-window pairing."""
    from knowledgegraphbuilder_spark.operators.multimodal import align_media_to_text

    spans = _spans_cached(spark, sf_dir)
    return align_media_to_text(spans)


def q_mm_transitions(spark, sf_dir):
    """Modality transition matrix over the interleaved spans table
    (multimodal.py:modality_transitions): consecutive span-kind bigram
    counts; oracle replays the span synthesis + the same lag pairing."""
    from knowledgegraphbuilder_spark.operators.multimodal import (
        modality_transitions,
    )

    spans = _spans_cached(spark, sf_dir)
    return modality_transitions(spans)


def q_mm_pack(spark, sf_dir):
    """Interleaved-aware sequence packing: per-doc cost = text tokens +
    256 patches per image span + 750 frames per audio span, computed FROM
    the spans themselves (curation.py:pack_sequences with cost_expr); the
    oracle recomputes the same cost from the flat documents table via the
    synthesis invariants (word-boundary spans partition the text; image on
    doc%5, audio on doc%10) — a mismatch in span synthesis would break the
    hash."""
    from knowledgegraphbuilder_spark.operators.curation import pack_sequences

    spans = _spans_cached(spark, sf_dir).select(
        F.substring("doc_id", 5, 18).cast("long").alias("doc_id"), "spans"
    )
    # non-final text spans end in the boundary space -> drop empty tokens
    cost = ("aggregate(spans, cast(0 as bigint), (acc, s) -> acc + "
            "case s.kind when 'text' then "
            "size(filter(split(s.text, ' '), x -> x <> '')) "
            "when 'image' then 256 else 750 end)")
    return pack_sequences(spans, seq_len=2048, n_shards=8, cost_expr=cost)


def q_stream_join(spark, sf_dir):
    """STREAM-STREAM inner join under the value-exact gate: views and
    purchases arrive as separate 3-file streams, joined with event-time
    bounds + watermarks (ingest.py:run_stream_join_available_now), MERGEd by
    deterministic pair id, then the whole input REPLAYS against a fresh
    checkpoint (no-op). With no state eviction before matches arrive, the
    streamed result equals the batch time-bounded join the oracle runs."""
    import hashlib
    import shutil

    from knowledgegraphbuilder_spark.streaming.ingest import (
        run_stream_join_available_now,
    )

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = _t(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type"
    )
    tag = hashlib.sha256(sf_dir.encode()).hexdigest()[:10]
    base = f"/tmp/kg_stream_join_{tag}"
    shutil.rmtree(base, ignore_errors=True)
    n = ev.agg(F.max("event_id")).first()[0]
    bounds = [0, n // 3, 2 * n // 3, n + 1]
    for kind, types in (("views", "view"), ("purchases", "purchase")):
        side = ev.filter(F.col("event_type") == types).drop("event_type")
        for i in range(3):
            (side.filter((F.col("event_id") >= bounds[i])
                         & (F.col("event_id") < bounds[i + 1]))
             .coalesce(1).write.mode("overwrite")
             .parquet(f"{base}/{kind}/b{i}"))
    args = (f"{base}/views/*", f"{base}/purchases/*", f"{base}/out")
    run_stream_join_available_now(spark, *args, f"{base}/ck")
    run_stream_join_available_now(spark, *args, f"{base}/ck2")
    return spark.read.parquet(f"{base}/out").select(
        "purchase_id", "view_id", "user_id", "gap_s"
    )


def q_stream_sessions(spark, sf_dir):
    """Stateful STREAMING sessionization under the value-exact gate: the
    events table is replayed as three time-ordered micro-batches through
    ``applyInPandasWithState`` (state crosses batch boundaries), and the
    closed-session output must equal batch sessionization minus each user's
    trailing (still-open) session — which the DuckDB oracle computes."""
    import hashlib
    import shutil

    from knowledgegraphbuilder_spark.streaming.stateful import (
        run_sessionize_available_now,
    )

    # the stateful sessionizer converts Arrow's tz-naive timestamps with
    # .timestamp() (assumes UTC); pin the session tz so the epochs are
    # environment-independent even under a caller-owned SparkSession
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    e = _t(spark, sf_dir, "events")
    tag = hashlib.sha256(sf_dir.encode()).hexdigest()[:10]
    base = f"/tmp/kg_stream_sessions_{tag}"
    shutil.rmtree(base, ignore_errors=True)
    # three time-range files -> three in-order micro-batches
    lo, hi = e.agg(F.min(F.unix_timestamp("ts")), F.max(F.unix_timestamp("ts"))).first()
    span = max(int(hi) - int(lo), 1)
    batched = e.withColumn(
        "bucket",
        F.least(((F.unix_timestamp("ts") - F.lit(int(lo))) * 3 / span).cast("int"), F.lit(2)),
    )
    for b in range(3):
        (batched.filter(F.col("bucket") == b).drop("bucket")
         .coalesce(1).write.mode("overwrite").parquet(f"{base}/in/b{b}"))
    run_sessionize_available_now(
        spark, f"{base}/in/*", f"{base}/out", f"{base}/ck",
        gap_seconds=1800, max_files_per_trigger=1,
    )
    return spark.read.parquet(f"{base}/out").select(
        "user_id", "session_start", "session_end", "n_events",
        F.round("total_value", 4).alias("total_value"),
    )


def q_kg_incremental(spark, sf_dir):
    """Batch-incremental KG maintenance under the value-exact gate: the
    corpus splits into two doc-ranged increments; each runs the batch RE
    chain and MERGEs into the relation table by deterministic relation_id
    (S8) — then increment 1 REPLAYS (idempotency). The final table must
    equal the full-corpus batch extraction: incremental == batch, with no
    streaming machinery involved."""
    import hashlib
    import shutil

    from knowledgegraphbuilder_spark.operators.chunk import chunk_documents
    from knowledgegraphbuilder_spark.operators.flatten import flatten_documents
    from knowledgegraphbuilder_spark.operators.ner import extract_mentions
    from knowledgegraphbuilder_spark.operators.relations import extract_relations
    from knowledgegraphbuilder_spark.sources.sinks import merge

    spans = _spans_cached(spark, sf_dir)
    tag = hashlib.sha256(sf_dir.encode()).hexdigest()[:10]
    base = f"/tmp/kg_incr_{tag}"
    shutil.rmtree(base, ignore_errors=True)
    n = spans.agg(
        F.max(F.expr("cast(substring(doc_id, 5, 10) as int)"))
    ).first()[0]

    def fold(part):
        docs = flatten_documents(part)
        mentions = extract_mentions(
            chunk_documents(docs, CFG.ner_chunk_size, CFG.ner_chunk_overlap),
            CFG,
        )
        rels = extract_relations(
            chunk_documents(docs, CFG.re_chunk_size, CFG.re_chunk_overlap),
            mentions, CFG,
        )
        merge(spark, f"{base}/out", rels, "relation_id", "replace")

    half = (n + 1) // 2
    lo = spans.filter(
        F.expr(f"cast(substring(doc_id, 5, 10) as int) < {half}"))
    hi = spans.filter(
        F.expr(f"cast(substring(doc_id, 5, 10) as int) >= {half}"))
    fold(lo)
    fold(hi)
    fold(lo)  # replay: MERGE by relation_id must be a no-op
    return spark.read.parquet(f"{base}/out").select(
        "relation_id", "doc_id", "head_mention_id", "tail_mention_id",
        "rel_type", "description",
    )


def q_stream_relations(spark, sf_dir):
    """STREAMING relation extraction under the value-exact gate: the corpus
    lands as three doc_id-ranged files, drains through the full RE chain
    (flatten -> chunk -> NER -> containment join -> RE) one file per
    micro-batch, MERGEs each batch into the relation table by deterministic
    relation_id — then the whole input is REPLAYED against a fresh streaming
    checkpoint into the same table, proving MERGE idempotency. The final
    table must equal the batch relation table (same oracle as
    kg_u4_relations)."""
    import hashlib
    import shutil

    from knowledgegraphbuilder_spark.streaming.ingest import (
        run_relations_available_now,
    )

    spans = _spans_cached(spark, sf_dir)
    tag = hashlib.sha256(sf_dir.encode()).hexdigest()[:10]
    base = f"/tmp/kg_stream_relations_{tag}"
    shutil.rmtree(base, ignore_errors=True)
    n = spans.agg(F.max(F.expr("cast(substring(doc_id, 5, 10) as int)"))).first()[0]
    for b in range(3):
        lo, hi = b * (n + 1) // 3, (b + 1) * (n + 1) // 3
        (spans.filter(F.expr(
            f"cast(substring(doc_id, 5, 10) as int) >= {lo} and "
            f"cast(substring(doc_id, 5, 10) as int) < {hi}"))
         .coalesce(1).write.mode("overwrite").parquet(f"{base}/in/b{b}"))
    run_relations_available_now(
        spark, f"{base}/in/*", f"{base}/out", f"{base}/ck", CFG,
    )
    # replay everything with a fresh checkpoint: MERGE by relation_id must
    # leave the table byte-identical
    run_relations_available_now(
        spark, f"{base}/in/*", f"{base}/out", f"{base}/ck2", CFG,
    )
    return spark.read.parquet(f"{base}/out").select(
        "relation_id", "doc_id", "head_mention_id", "tail_mention_id",
        "rel_type", "description",
    )


def q_asof_join(spark, sf_dir):
    """AS-OF join: every purchase event matched to the user's most recent
    view event at or before it (DuckDB's native ASOF JOIN is the oracle)."""
    from knowledgegraphbuilder_spark.operators.asof import asof_join

    # ts_epoch must be tz-independent: unix_timestamp reads naive timestamps
    # in the session tz, DuckDB's epoch() reads them as UTC
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    e = _t(spark, sf_dir, "events")
    out = asof_join(
        e.filter(F.col("event_type") == "purchase"),
        e.filter(F.col("event_type") == "view"),
    )
    return out.select(
        "event_id", "user_id",
        F.floor(F.unix_timestamp("ts")).cast("long").alias("ts_epoch"),
        "matched_event_id",
        F.round("matched_value", 4).alias("matched_value"),
    )


def q_interval_overlap(spark, sf_dir):
    """Interval-overlap join, binned equi-join path (no range cross-join):
    per-user error intervals x purchase intervals, each interval
    [epoch(ts), epoch(ts) + floor(value*120)]. The oracle replays the exact
    overlap predicate with a plain range join (fine at oracle scale)."""
    from knowledgegraphbuilder_spark.operators.intervals import (
        interval_overlap_join,
    )

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    e = _t(spark, sf_dir, "events").select(
        "user_id", "event_type",
        F.col("event_id").cast("long").alias("interval_id"),
        F.floor(F.unix_timestamp("ts")).cast("long").alias("start"),
        (F.floor(F.unix_timestamp("ts"))
         + F.floor(F.col("value") * 120)).cast("long").alias("end"),
    )
    return interval_overlap_join(
        e.filter(F.col("event_type") == "error"),
        e.filter(F.col("event_type") == "purchase"),
        bin_width=3600,
    )


def q_mm_frames(spark, sf_dir):
    """Frame sampling (1 media row -> N frame rows, the video UDTF shape):
    byte-exact frame payload replay via the deterministic fake fetch."""
    from knowledgegraphbuilder_spark.operators.multimodal import frame_sample

    spans = _spans_cached(spark, sf_dir)
    frames = frame_sample(fetch_media(media_refs(spans)), n_frames=4)
    # hex-encode the BINARY payload: the gate's canonicalizer sorts column
    # values, and DuckDB returns BINARY as unhashable bytearray
    return frames.select(
        "media_ref", "frame_idx", F.hex("frame").alias("frame_hex")
    )


def q_link_edges(spark, sf_dir):
    """Entity-linking similarity edges: MinHash-LSH blocking over char-3
    shingles of normalized surface forms + exact Jaccard verification at the
    reference synonym threshold 0.8 (back/kgg/config.py:17). The distinct
    mention texts are augmented with deterministic planted variants
    (uppercase, leading underscore, plural) so normalization-equal (J=1.0)
    and near-threshold pairs both exist; sha256-derived signatures mean the
    oracle replays the exact banding, so even deterministic LSH misses at
    the threshold boundary stay value-exact."""
    from knowledgegraphbuilder_spark.operators.link import lsh_similarity_edges

    kg = _kg(spark, sf_dir)
    t = kg.mentions.select("text").distinct()
    planted = (
        t.select(F.upper("text").alias("text"))
        .union(t.select(F.concat(F.lit("_"), F.col("text")).alias("text")))
        .union(t.select(F.concat(F.col("text"), F.lit("s")).alias("text")))
    )
    return lsh_similarity_edges(t.union(planted).distinct(), CFG)


def q_sql_agg_pushdown(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("count_order"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
        )
    )


def q_sql_join_agg(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
    )


def q_sql_topk_count(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(F.count("*").cast("long").alias("n_orders"))
        .orderBy(F.desc("n_orders"), F.col("o_custkey"))
        .limit(10)
    )


def q_sql_tpch_q1(spark, sf_dir):
    """TPC-H Q1 (pricing summary): the canonical scan-heavy grouped
    aggregate — one wide scan, map-side partial aggregation into 4 groups,
    every measure a combinable sum/count (rounded like sql_tpch_q6 so the
    ULP noise of shuffled double sums cannot reach the compared digits)."""
    li = _t(spark, sf_dir, "lineitem")
    disc = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc), 2).alias("sum_disc_price"),
            F.round(F.sum(disc * (F.lit(1.0) + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


def q_sql_tpch_q6(spark, sf_dir):
    """TPC-H Q6 (forecast revenue change): tight scan-with-pushdown shape —
    three range predicates reach the parquet scan, one global sum."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01"))
            & (F.col("l_shipdate") < F.lit("1998-01-01"))
            & (F.col("l_discount") >= 0.05) & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")),
                     2).alias("revenue"))
    )


def q_sql_tpch_q3(spark, sf_dir):
    """TPC-H Q3 (shipping priority, adapted to the driver schema — no
    o_shippriority column): segment-filtered customers x unshipped orders x
    late lineitems, top-10 revenue — selective-dimension join + grouped agg
    + TakeOrderedAndProject."""
    c = _t(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1999-01-01")
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1999-01-01")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(F.round(F.sum(F.col("l_extendedprice")
                           * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .select(
            "l_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "revenue",
        )
        .orderBy(F.desc("revenue"), F.col("l_orderkey"))
        .limit(10)
    )


def q_sql_anti_join(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey")


def q_sql_window_cum(spark, sf_dir):
    from pyspark.sql.window import Window

    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("event_id")
    return (
        e.withColumn("rn", F.row_number().over(w))
        .withColumn("cum_value", F.round(F.sum("value").over(w), 4))
        .filter(F.col("rn") <= 5)
        .select("user_id", "event_id", "rn", "cum_value")
    )


def q_sql_rollup(spark, sf_dir):
    """Multi-granularity rollup (day x event_type -> day -> grand total) —
    the hypertable-rollup pattern as one GROUPING SETS aggregate."""
    e = _t(spark, sf_dir, "events")
    return (
        e.withColumn("day", F.to_date("ts"))
        .rollup("day", "event_type")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .select(
            F.col("day").cast("string").alias("day"),
            "event_type", "n_events", "total_value",
        )
    )


def q_sql_quantiles(spark, sf_dir):
    """Exact interpolated percentiles per event type (the distributed sort-
    based exact path; percentile_approx is the sketch variant for 100 TB)."""
    e = _t(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(value, 0.95)"), 4).alias("p95"),
        F.count_distinct("user_id").cast("long").alias("n_users"),
    )


def q_sql_sessionize(spark, sf_dir):
    from pyspark.sql.window import Window

    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        e.withColumn("delta", F.unix_timestamp("ts") - F.lag(F.unix_timestamp("ts")).over(w))
        .groupBy("user_id")
        .agg(
            (1 + F.sum(F.when(F.col("delta") > 1800, 1).otherwise(0))).cast("long").alias("n_sessions")
        )
    )


def q_sk_hll(spark, sf_dir):
    """Deterministic HyperLogLog distinct-orderkey estimate per returnflag
    (sketches.py:hll_distinct — sha256 registers, exact-integer
    accumulation), alongside the exact distinct count the sketch replaces at
    scale. The oracle replays the sketch register-for-register in SQL."""
    from knowledgegraphbuilder_spark.operators.sketches import hll_distinct

    li = _t(spark, sf_dir, "lineitem")
    est = hll_distinct(li, "l_returnflag", "cast(l_orderkey as string)")
    exact = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_orderkey").cast("long").alias("exact_distinct")
    )
    return est.join(exact, "l_returnflag")


def q_sk_bloom(spark, sf_dir):
    """Bloom-filter membership probe (sketches.py:bloom_build/bloom_probe):
    the filter is built over the texts of every 50th doc (the eval set),
    broadcast, and probed by the whole corpus — the fixed-size form of the
    semi-join/contamination primitive (dd_contamination broadcasts exact
    hashes; at larger eval sets the Bloom form is what still broadcasts).
    Output: the flagged docs (all probe bits set) with exact membership for
    calibration — Bloom's one-sided guarantee means every true member is
    flagged; flagged non-members are the (visible, replayed) FP rate."""
    from knowledgegraphbuilder_spark.operators.sketches import BLOOM_K, bloom_build, bloom_probe

    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("doc_id"), "text"
    )
    eval_set = docs.filter(F.col("doc_id").cast("long") % 50 == 0)
    bloom = bloom_build(eval_set, "text")
    hits = bloom_probe(docs, bloom, "text", id_col="doc_id")
    member = eval_set.select("text").distinct().withColumn("m", F.lit(True))
    return (
        hits.filter(F.col("hits") == BLOOM_K)
        .join(docs.withColumnRenamed("doc_id", "id"), "id")
        .join(member, "text", "left")
        .select(
            F.col("id").alias("doc_id"),
            F.col("hits"),
            F.coalesce("m", F.lit(False)).alias("exact_member"),
        )
    )


def q_stream_edges(spark, sf_dir):
    """STREAMING incremental KG edge maintenance under the value-exact gate:
    lineitem arrives as three ORDER-ALIGNED files (split on l_orderkey, so
    no basket straddles a batch), each micro-batch's co-occurrence pair
    counts land under a content-derived batch key via replace-MERGE
    (streaming/ingest.py:run_edge_weights_available_now — the stream_cms
    discipline for an additive fold), the whole input REPLAYS against a
    fresh checkpoint (byte-identical state), and the summed live weights
    (read_edge_weights) equal the batch co-purchase projection exactly."""
    import hashlib
    import shutil

    from knowledgegraphbuilder_spark.streaming.ingest import (
        read_edge_weights, run_edge_weights_available_now,
    )

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    tag = hashlib.sha256(sf_dir.encode()).hexdigest()[:10]
    base = f"/tmp/kg_stream_edges_{tag}"
    shutil.rmtree(base, ignore_errors=True)
    n = li.agg(F.max("l_orderkey")).first()[0]
    bounds = [0, n // 3, 2 * n // 3, n + 1]
    for i in range(3):
        (li.filter((F.col("l_orderkey") >= bounds[i]) & (F.col("l_orderkey") < bounds[i + 1]))
         .coalesce(1).write.mode("overwrite").parquet(f"{base}/in/b{i}"))
    run_edge_weights_available_now(spark, f"{base}/in/*", f"{base}/edges", f"{base}/ck")
    run_edge_weights_available_now(spark, f"{base}/in/*", f"{base}/edges", f"{base}/ck2")
    return read_edge_weights(spark, f"{base}/edges")


def q_stream_ann(spark, sf_dir):
    """STREAMING ANN-index maintenance under the value-exact gate: the
    embedding corpus arrives as three vec_id-range files, each micro-batch
    replace-MERGEs its vectors' deterministic LSH codes into the persistent
    index (streaming/ingest.py:run_lsh_index_available_now), the whole input
    then REPLAYS against a fresh checkpoint (bucket assignment is a pure
    per-row function, so the MERGE is idempotent and the index is
    byte-identical) — and a probe over the streamed index
    (probe_lsh_index) must equal batch ann_lsh over the full corpus, which
    is exactly what the existing ann_lsh SQL oracle computes."""
    import hashlib
    import shutil

    from knowledgegraphbuilder_spark.streaming.ingest import (
        probe_lsh_index, run_lsh_index_available_now,
    )

    embs = _t(spark, sf_dir, "embeddings")
    tag = hashlib.sha256(sf_dir.encode()).hexdigest()[:10]
    base = f"/tmp/kg_stream_ann_{tag}"
    shutil.rmtree(base, ignore_errors=True)
    n = embs.agg(F.max("vec_id")).first()[0]
    bounds = [0, n // 3, 2 * n // 3, n + 1]
    for i in range(3):
        (embs.filter((F.col("vec_id") >= bounds[i]) & (F.col("vec_id") < bounds[i + 1]))
         .coalesce(1).write.mode("overwrite").parquet(f"{base}/in/b{i}"))
    run_lsh_index_available_now(spark, f"{base}/in/*", f"{base}/idx", f"{base}/ck")
    run_lsh_index_available_now(spark, f"{base}/in/*", f"{base}/idx", f"{base}/ck2")
    q = embs.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    return probe_lsh_index(spark, f"{base}/idx", list(q), k=10, n_bits=4, n_tables=8)


def q_stream_hll(spark, sf_dir):
    """STREAMING distinct-count sketch under the value-exact gate: events
    land as three event_id-ascending files, each micro-batch folds into its
    HLL register table and max-MERGEs into persistent state
    (streaming/ingest.py:run_hll_available_now) — then the whole input
    REPLAYS against a fresh checkpoint (register max is idempotent, so the
    state is byte-identical). Because register max is associative and
    commutative, the streamed sketch EQUALS the batch sketch of the full
    input, which is what the oracle computes; exact distincts ride along for
    calibration."""
    import hashlib
    import shutil

    from knowledgegraphbuilder_spark.operators.sketches import hll_estimate
    from knowledgegraphbuilder_spark.streaming.ingest import run_hll_available_now

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "event_type")
    tag = hashlib.sha256(sf_dir.encode()).hexdigest()[:10]
    base = f"/tmp/kg_stream_hll_{tag}"
    shutil.rmtree(base, ignore_errors=True)
    n = ev.agg(F.max("event_id")).first()[0]
    bounds = [0, n // 3, 2 * n // 3, n + 1]
    for i in range(3):
        (ev.filter((F.col("event_id") >= bounds[i]) & (F.col("event_id") < bounds[i + 1]))
         .coalesce(1).write.mode("overwrite").parquet(f"{base}/in/b{i}"))
    run_hll_available_now(spark, f"{base}/in/*", f"{base}/regs", f"{base}/ck")
    run_hll_available_now(spark, f"{base}/in/*", f"{base}/regs", f"{base}/ck2")
    est = hll_estimate(
        spark.read.parquet(f"{base}/regs"), "event_type"
    )
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("long").alias("exact_distinct")
    )
    return est.join(exact, "event_type")


def q_layout_zorder(spark, sf_dir):
    """Z-order layout evidence (layout.py:zorder_bucket_stats): Morton-key
    bucket stats over events (user_id x price-cents) — per-bucket min/max of
    BOTH dimensions stay tight, which is the file-skipping property an
    OPTIMIZE ZORDER write buys; bit interleave is exact BIGINT, replayed as
    a list_sum of disjoint bit contributions."""
    from knowledgegraphbuilder_spark.operators.layout import (
        zorder_bucket_stats,
    )

    ev = _t(spark, sf_dir, "events").select(
        F.col("user_id").cast("long").alias("user_id"),
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
    )
    return zorder_bucket_stats(ev, "user_id", "cents", bits=16, prefix_bits=8)


def q_bpe_merges(spark, sf_dir):
    """Distributed BPE vocabulary induction (bpe.py:bpe_merges, 4 rounds):
    weighted pair counts on the vocabulary-scaled word-frequency table,
    driver argmax per round (1 row), greedy run-parity merges. The oracle
    unrolls all 4 rounds."""
    from knowledgegraphbuilder_spark.operators.bpe import bpe_merges

    return bpe_merges(spark, _t(spark, sf_dir, "documents"), rounds=4)


def q_sk_quantile(spark, sf_dir):
    """HDR-histogram quantile sketch over lineitem prices in integer cents
    (sketches.py:hdr_quantiles): bit_length/shift bucketing keeps every
    boundary integer-exact cross-engine (a DDSketch ln() boundary can flip
    by one ulp between libms), relative error <= 2^-4. The oracle replays
    the sketch, the cumulative walk, and the rank pick; quantile literals
    are forced to DOUBLE on both sides so ceil(q*n) rounds identically."""
    from knowledgegraphbuilder_spark.operators.sketches import hdr_quantiles

    li = _t(spark, sf_dir, "lineitem")
    return hdr_quantiles(li, "cast(floor(l_extendedprice * 100) as bigint)")


def q_stream_cms(spark, sf_dir):
    """STREAMING heavy hitters under the value-exact gate: the events stream
    folds per micro-batch into per-batch Count-Min sketches keyed by batch
    content (ingest.py:run_cms_available_now), then the whole input REPLAYS
    against a fresh checkpoint — replace-by-batch-key MERGE makes the
    non-idempotent CMS addition idempotent, so state is byte-identical.
    Summing the per-batch sketches equals the batch sketch of the full
    input (CMS add is associative/commutative), which is exactly what the
    oracle computes."""
    import hashlib
    import shutil

    from knowledgegraphbuilder_spark.operators.sketches import cms_probe_topk
    from knowledgegraphbuilder_spark.streaming.ingest import run_cms_available_now

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "event_type")
    tag = hashlib.sha256(sf_dir.encode()).hexdigest()[:10]
    base = f"/tmp/kg_stream_cms_{tag}"
    shutil.rmtree(base, ignore_errors=True)
    n = ev.agg(F.max("event_id")).first()[0]
    bounds = [0, n // 3, 2 * n // 3, n + 1]
    for i in range(3):
        (ev.filter((F.col("event_id") >= bounds[i]) & (F.col("event_id") < bounds[i + 1]))
         .coalesce(1).write.mode("overwrite").parquet(f"{base}/in/b{i}"))
    run_cms_available_now(spark, f"{base}/in/*", f"{base}/sk", f"{base}/ck")
    run_cms_available_now(spark, f"{base}/in/*", f"{base}/sk", f"{base}/ck2")
    total = (
        spark.read.parquet(f"{base}/sk")
        .groupBy("row", "col").agg(F.sum("cnt").cast("long").alias("cnt"))
    )
    keys = ev.groupBy(
        F.col("user_id").cast("string").alias("key")
    ).agg(F.count("*").cast("long").alias("exact_cnt"))
    return cms_probe_topk(total, keys, k=20, out_key="user_key")


def q_ml_kmeans(spark, sf_dir):
    """Fixed-point Lloyd k-means over the embedding corpus
    (clustering.py:kmeans_quantized, k=8, 2 update rounds): entirely integer
    arithmetic, so the assignment — including both centroid updates — is
    partition-order-invariant and the oracle replays every round exactly."""
    from knowledgegraphbuilder_spark.operators.clustering import kmeans_quantized

    return kmeans_quantized(_t(spark, sf_dir, "embeddings"), k=8, iters=2)


def q_dd_resolve(spark, sf_dir):
    """Dedup RESOLUTION — the step that turns near-dup PAIRS into a cleaned
    corpus: MinHash-LSH pairs (J>=0.9) -> large/small-star connected
    components -> canonical id = component min (deterministic); every doc
    maps to its cluster representative (itself when unique). This closes the
    loop the pair queries leave open: a 100 TB dedup job keeps exactly the
    rows where is_dup = false."""
    docs = _t(spark, sf_dir, "documents")
    pairs = dd.minhash_lsh_pairs(docs, threshold=0.9, n_perm=32, bands=16, k=3)
    comp = connected_components(
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    )
    return (
        docs.select(F.col("doc_id").cast("string").alias("doc_id"))
        .join(comp.withColumnRenamed("vertex", "doc_id"), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("component", "doc_id").alias("canonical_id"),
            (F.coalesce("component", "doc_id") != F.col("doc_id")).alias("is_dup"),
        )
    )


def q_ts_split(spark, sf_dir):
    """Content-addressed stratified train/val/test split
    (curation.py:stratified_split): per-(lang, split) doc counts — the gate
    checks every doc's assignment via the aggregate."""
    from knowledgegraphbuilder_spark.operators.curation import stratified_split

    s = stratified_split(_t(spark, sf_dir, "documents"))
    return s.groupBy("lang", "split").agg(F.count("*").cast("long").alias("n_docs"))


def q_retrieval_hybrid(spark, sf_dir):
    """Hybrid search: BM25 lexical leg + exact-cosine dense leg (vec_id-0
    query vector; embeddings row i is doc i's), fused by reciprocal-rank
    fusion (textsearch.py:rrf_fuse, c=60). The reference serves retrieval
    from a single FAISS index (back/kgg/retriever.py:62-68); a production
    engine runs both legs and fuses — the standard upgrade path."""
    from knowledgegraphbuilder_spark.operators.textsearch import bm25_topk, rrf_fuse

    lex = bm25_topk(_t(spark, sf_dir, "documents"), ["customer", "stream", "spark"], k=50)
    embs = _t(spark, sf_dir, "embeddings")
    qv = embs.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    dense = ann_ops.topk_bruteforce(embs, list(qv), k=50).withColumnRenamed("id", "doc_id")
    return rrf_fuse([lex, dense], k=10, c=60.0, id_col="doc_id")


def q_sk_cms(spark, sf_dir):
    """Count-Min heavy hitters over lineitem part keys (sketches.py:cms_topk
    — sha256 cells, fixed 4x1024 sketch, min-probe). 2,000 distinct keys
    over 1,024 counters per row forces real collisions, so the one-sided
    overestimate (est_cnt >= exact_cnt) is visible in the output; the
    oracle replays the sketch cell-for-cell."""
    from knowledgegraphbuilder_spark.operators.sketches import cms_topk

    li = _t(spark, sf_dir, "lineitem")
    return cms_topk(li, "cast(l_partkey as string)", k=20, out_key="partkey")


_EDGE_CACHE: dict[str, object] = {}


def _copurchase_edges(spark, sf_dir):
    """The co-purchase projection feeds 8 graph queries, and several use it
    more than once per plan (seed pick + algorithm + symmetrize). One eager
    localCheckpoint per (session, sf_dir) computes the ~|baskets| x k^2
    self-join once; every consumer joins the materialized edge list. The
    values are identical either way — this is purely plan reuse."""
    from knowledgegraphbuilder_spark.operators.graphstats import cooccurrence_edges

    key = f"{id(spark)}|{sf_dir}"
    if key not in _EDGE_CACHE:
        li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
        _EDGE_CACHE[key] = cooccurrence_edges(
            li, "l_orderkey", "l_partkey", max_group_size=50
        ).localCheckpoint(eager=True)
    return _EDGE_CACHE[key]


def q_g7_bfs(spark, sf_dir):
    """Multi-source BFS over the co-purchase graph: exact min-hop distance
    (<= 3) from the 3 sha256-smallest nodes (graphstats.py:bfs_hops). The
    oracle replays a fixed 3-round frontier unroll."""
    from knowledgegraphbuilder_spark.operators.graphstats import bfs_hops

    edges = _copurchase_edges(spark, sf_dir)
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionAll(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    seeds = nodes.orderBy(F.sha2(F.col("node"), 256)).limit(3)
    return bfs_hops(edges, seeds, max_hops=3)


_LPA_CACHE: dict[str, object] = {}


def _lpa_labels(spark, sf_dir):
    """3-round LPA community labels over the co-purchase graph — feeds
    g8_labelprop (the partition itself) and g15_modularity (its quality
    score); one eager localCheckpoint per (session, sf_dir)."""
    from knowledgegraphbuilder_spark.operators.graphstats import label_propagation

    key = f"{id(spark)}|{sf_dir}"
    if key not in _LPA_CACHE:
        _LPA_CACHE[key] = label_propagation(
            _copurchase_edges(spark, sf_dir), rounds=3
        ).localCheckpoint(eager=True)
    return _LPA_CACHE[key]


def q_g8_labelprop(spark, sf_dir):
    """Deterministic synchronous label propagation (3 rounds, min-label
    tie-break) over the co-purchase graph (graphstats.py:label_propagation);
    oracle = 3-round unrolled SQL replay."""
    return _lpa_labels(spark, sf_dir)


def q_g15_modularity(spark, sf_dir):
    """Newman modularity of the 3-round LPA partition over the co-purchase
    graph (graphstats.py:modularity): per-community q_c from INTEGER edge /
    degree sums (no float folds over shuffled rows), global Q = sum(q_c) —
    the measured did-LPA-find-structure gauge. Oracle composes the LPA
    replay with integer modularity aggregates over the same edge CTEs."""
    from knowledgegraphbuilder_spark.operators.graphstats import modularity

    return modularity(_copurchase_edges(spark, sf_dir),
                      _lpa_labels(spark, sf_dir))


def q_g9_sssp(spark, sf_dir):
    """Multi-source weighted shortest paths over the co-purchase graph
    (graphstats.py:sssp_hops, 4 Bellman-Ford rounds, integer weights =
    co-occurrence counts): exact min cost over paths of <= 4 edges from the
    3 sha256-smallest nodes; oracle = 4-round unrolled relaxation."""
    from knowledgegraphbuilder_spark.operators.graphstats import sssp_hops

    edges = _copurchase_edges(spark, sf_dir)
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionAll(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    seeds = nodes.orderBy(F.sha2(F.col("node"), 256)).limit(3)
    return sssp_hops(edges, seeds, rounds=4)


def q_g11_walks(spark, sf_dir):
    """Derandomized walk corpus over the co-purchase graph
    (graphstats.py:deterministic_walks): 4-step walks from the 5
    sha256-smallest nodes, step choice = argmin sha256(seed|t|cur|nbr);
    oracle = 4-round unrolled argmin replay."""
    from knowledgegraphbuilder_spark.operators.graphstats import deterministic_walks

    edges = _copurchase_edges(spark, sf_dir)
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionAll(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    seeds = nodes.orderBy(F.sha2(F.col("node"), 256)).limit(5)
    return deterministic_walks(edges, seeds, length=4)


def q_g10_hits(spark, sf_dir):
    """HITS hubs/authorities over the DIRECTED customer->supplier purchase
    graph (graphstats.py:hits_scores, 2 rounds, exact integer scores —
    unnormalized sums rank identically to the L2-normalized textbook
    algorithm and stay SQL-replayable). Customers score as hubs, suppliers
    as authorities."""
    from knowledgegraphbuilder_spark.operators.graphstats import hits_scores

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    e = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .select(
            F.concat(F.lit("c:"), F.col("o_custkey").cast("string")).alias("src"),
            F.concat(F.lit("s:"), F.col("l_suppkey").cast("string")).alias("dst"),
        )
    )
    return hits_scores(e, rounds=2)


def q_ts_tfidf(spark, sf_dir):
    """Top-3 characteristic terms per doc by smooth TF-IDF
    (textstats.py:tfidf_topk), deterministic (score desc, term asc)."""
    return ts.tfidf_topk(_t(spark, sf_dir, "documents"), k=3)


def q_ts_pmi(spark, sf_dir):
    """Top-20 bigram collocations by PMI with a min-count guard
    (textstats.py:pmi_collocations)."""
    return ts.pmi_collocations(_t(spark, sf_dir, "documents"), min_count=10, k=20)


def q_ts_dsir(spark, sf_dir):
    """DSIR data selection (Xie et al. 2023; curation.py:dsir_weights):
    hashed uni+bigram bucket LMs (target = lang 'en' slice vs raw = whole
    corpus), per-doc importance log-weights, Gumbel top-50 resampling —
    buckets, weights, and the sampled set all replay value-exactly in SQL."""
    from knowledgegraphbuilder_spark.operators.curation import dsir_weights

    return dsir_weights(
        _t(spark, sf_dir, "documents"),
        target_lang="en", n_buckets=64, alpha=0.5, sample_k=50,
    )


def q_ts_temperature(spark, sf_dir):
    """Temperature-based mixture rebalancing over the (non-uniform) lang
    strata, XLM-R alpha=0.3 (curation.py:temperature_sample): rare langs get
    upweighted keep-rates, one stratum-count agg + a pure salted-hash
    filter."""
    from knowledgegraphbuilder_spark.operators.curation import temperature_sample

    return temperature_sample(
        _t(spark, sf_dir, "documents"), alpha=0.3, target_frac=0.5,
    )


_KNN_CACHE: dict[str, object] = {}


def _knn_edges(spark, sf_dir):
    """The 5-NN embedding graph feeds four queries (ann_knn, ann_knn_cc,
    g27_coreness, ml_knnclass). One eager localCheckpoint per (session,
    sf_dir) materializes the LSH-bucketed build once; every consumer
    reads the pinned edge list. Values identical either way — plan
    reuse, same discipline as _copurchase_edges."""
    key = f"{id(spark)}|{sf_dir}"
    if key not in _KNN_CACHE:
        _KNN_CACHE[key] = ann_ops.knn_graph(
            _t(spark, sf_dir, "embeddings"), k=5, n_bits=4, n_tables=8,
        ).localCheckpoint(eager=True)
    return _KNN_CACHE[key]


def q_ann_knn(spark, sf_dir):
    """Approximate kNN GRAPH over the whole embedding corpus
    (ann.py:knn_graph): LSH-bucketed candidate self-join (never corpus^2),
    exact cosine rescore, per-src top-5 — the kNN-graph substrate for
    graph-based dedup clustering and semantic label propagation."""
    return _knn_edges(spark, sf_dir)


def q_ann_knn_cc(spark, sf_dir):
    """kNN-graph near-dup clustering: the knn_graph edges above thresholded
    at cosine >= 0.4, resolved to components by the SAME large/small-star CC
    the entity canonicalizer uses (canonicalize.py:connected_components) —
    the graph-based SemDeDup variant (cluster by semantic neighborhood, not
    by centroid cell), end-to-end declarative."""
    g = _knn_edges(spark, sf_dir)
    edges = g.filter(F.col("score") >= 0.4).select("src", "dst")
    return connected_components(edges)


def q_dd_normalize(spark, sf_dir):
    """C4/RefinedWeb-style normalized exact dedup (lowercase, strip
    non-alnum, collapse whitespace, sha256 groupBy) over the corpus plus
    deterministically planted REFORMATTED duplicates — every 40th doc
    re-inserted uppercased with injected punctuation, which byte-exact
    dd_exact provably misses — so the catch-what-exact-misses claim is
    exercised, not vacuous (dedup.py:normalized_exact_duplicates)."""
    d = _t(spark, sf_dir, "documents")
    planted = d.filter(F.col("doc_id") % 40 == 0).select(
        (F.col("doc_id") + 20_000_000).alias("doc_id"),
        F.concat(F.upper(F.col("text")), F.lit(" !!")).alias("text"),
    )
    return dd.normalized_exact_duplicates(
        d.select("doc_id", "text").unionByName(planted)
    )


def q_sk_heavy(spark, sf_dir):
    """EXACT heavy hitters over the corpus token stream: capacity-k
    Misra-Gries candidate summaries per partition (one Arrow-batched
    mapInPandas, no shuffle) + broadcast-semi-join exact recount — every
    token with frequency > n/(k+1), exact count, partitioning-independent
    (sketches.py:misra_gries_heavy_hitters). The long tail never leaves the
    scan stage; contrast cms_topk, which keeps the whole vocabulary."""
    from knowledgegraphbuilder_spark.operators.sketches import (
        misra_gries_heavy_hitters,
    )

    toks = _t(spark, sf_dir, "documents").select(
        F.explode(F.split(F.col("text"), " ")).alias("tok")
    )
    return misra_gries_heavy_hitters(toks, "tok", k=30)


def q_ts_reservoir(spark, sf_dir):
    """Weighted reservoir sample, 5 docs per language, weight =
    capped floor(n_chars/100): integer ticket-replication A-ES (min of w
    sha256 ticket hashes as the sort key — float-free, so the DuckDB replay
    is bit-exact), skew-safe two-phase per-group top-k
    (curation.py:weighted_reservoir_sample)."""
    from knowledgegraphbuilder_spark.operators.curation import (
        weighted_reservoir_sample,
    )

    return weighted_reservoir_sample(_t(spark, sf_dir, "documents"), k=5)


def q_stream_heavy(spark, sf_dir):
    """STREAMING exact heavy hitters: the documents stream folds per
    micro-batch into per-partition Misra-Gries candidate summaries + the
    batch token count, content-keyed and replace-MERGEd
    (streaming/ingest.py:run_mg_available_now); the whole input then
    REPLAYS against a fresh checkpoint to exercise idempotency. The union
    of stored candidates is a superset of the true heavy hitters for ANY
    batching (per-batch MG error <= n_b/(k+1) sums to n/(k+1)), so the
    exact recount resolves to the SAME rows as the batch sk_heavy operator
    — the oracle is the sk_heavy oracle verbatim."""
    import hashlib
    import shutil

    from knowledgegraphbuilder_spark.streaming.ingest import (
        heavy_hitters_from_mg_state,
        run_mg_available_now,
    )

    d = _t(spark, sf_dir, "documents")
    tag = hashlib.sha256(sf_dir.encode()).hexdigest()[:10]
    base = f"/tmp/kg_stream_mg_{tag}"
    shutil.rmtree(base, ignore_errors=True)
    n = d.agg(F.max("doc_id")).first()[0]
    bounds = [0, n // 3, 2 * n // 3, n + 1]
    for i in range(3):
        (d.filter((F.col("doc_id") >= bounds[i]) & (F.col("doc_id") < bounds[i + 1]))
         .coalesce(1).write.mode("overwrite").parquet(f"{base}/in/b{i}"))
    run_mg_available_now(spark, f"{base}/in/*", f"{base}/st", f"{base}/ck", k=30)
    run_mg_available_now(spark, f"{base}/in/*", f"{base}/st", f"{base}/ck2", k=30)
    toks = d.select(F.explode(F.split("text", " ")).alias("key")).filter(
        F.col("key") != ""
    )
    return heavy_hitters_from_mg_state(spark, f"{base}/st", toks, k=30)


def q_sql_tpch_q5(spark, sf_dir):
    """TPC-H Q5 (local-supplier volume): the canonical multi-way star join —
    two big fact-side tables (lineitem x orders x customer) against a
    broadcast dimension chain (region -> nation -> supplier), with the
    same-nation customer/supplier correlation folded into the broadcast join
    condition. Dims broadcast explicitly; only the fact joins shuffle."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01"))
        & (F.col("o_orderdate") < F.lit("1998-01-01"))
    )
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    nr = (
        _t(spark, sf_dir, "nation")
        .join(
            F.broadcast(
                _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
            ),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("n_nationkey", "n_name")
    )
    sn = s.join(
        F.broadcast(nr), F.col("s_nationkey") == F.col("n_nationkey")
    ).select("s_suppkey", "s_nationkey", "n_name")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(
            F.broadcast(sn),
            (li.l_suppkey == sn.s_suppkey)
            & (c.c_nationkey == sn.s_nationkey),
        )
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.col("n_name"))
    )


def q_sql_tpch_q14(spark, sf_dir):
    """TPC-H Q14 (promotion effect): date-pruned lineitem x part with a
    conditional aggregate ratio. The part side is column-pruned to
    (p_partkey, is_promo) BEFORE the join — part scales with SF, so the
    join strategy is left to AQE (broadcast at test scale, shuffle join at
    100 TB) rather than pinned; the month filter reaches the lineitem scan
    as a PushedFilter."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-09-01"))
        & (F.col("l_shipdate") < F.lit("1997-10-01"))
    )
    p = _t(spark, sf_dir, "part").select(
        "p_partkey", F.col("p_type").startswith("PROMO").alias("is_promo")
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .agg(
            F.round(
                100.0
                * F.sum(F.when(F.col("is_promo"), rev).otherwise(F.lit(0.0)))
                / F.sum(rev),
                4,
            ).alias("promo_revenue")
        )
    )


def q_dd_winnow(spark, sf_dir):
    """Winnowing fingerprint dedup (Schleimer/Wilkerson/Aiken, SIGMOD'03 —
    the MOSS algorithm) over the corpus plus planted LONG-SHARED-PASSAGE
    pairs: every 50th doc re-inserted with a rewritten preamble — globally
    different documents sharing one long passage, the case set-resemblance
    MinHash under-weights but winnowing's positional guarantee (any shared
    run of >= k+w-1 tokens yields a shared fingerprint) always catches
    (dedup.py:winnow_pairs)."""
    d = _t(spark, sf_dir, "documents")
    planted = d.filter(F.col("doc_id") % 50 == 0).select(
        (F.col("doc_id") + 30_000_000).alias("doc_id"),
        F.concat(
            F.lit("completely different preamble text here . "), F.col("text")
        ).alias("text"),
    )
    return dd.winnow_pairs(d.select("doc_id", "text").unionByName(planted))


def q_ts_mad(spark, sf_dir):
    """Per-source robust length-outlier flags via median/MAD (Hampel
    identifier) — exact interpolated percentiles on integer inputs, so the
    DuckDB quantile_cont replay is bit-exact (textstats.py:mad_outliers).
    The grouped-HDR ts_adaptive_filter is the 100 TB path; this is its
    exact small-sample calibrator."""
    return ts.mad_outliers(_t(spark, sf_dir, "documents"))


def q_stream_quantile(spark, sf_dir):
    """STREAMING quantile sketch: lineitem (keyed id = l_orderkey * 10 +
    l_linenumber, value = floor(l_extendedprice * 100)) split into 3 files,
    folded per micro-batch into content-keyed HDR histogram rows
    (streaming/ingest.py:run_hdr_available_now), then REPLAYED against a
    fresh checkpoint to exercise idempotency. HDR counts are additive, so
    the resolved quantiles are byte-equal to the batch sk_quantile answer —
    the oracle is the sk_quantile oracle verbatim."""
    import hashlib
    import shutil

    from knowledgegraphbuilder_spark.streaming.ingest import (
        quantiles_from_hdr_state,
        run_hdr_available_now,
    )

    li = _t(spark, sf_dir, "lineitem").select(
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).cast("long").alias("id"),
        F.expr("cast(floor(l_extendedprice * 100) as bigint)").alias("v"),
    )
    tag = hashlib.sha256(sf_dir.encode()).hexdigest()[:10]
    base = f"/tmp/kg_stream_hdr_{tag}"
    shutil.rmtree(base, ignore_errors=True)
    n = li.agg(F.max("id")).first()[0]
    bounds = [0, n // 3, 2 * n // 3, n + 1]
    for i in range(3):
        (li.filter((F.col("id") >= bounds[i]) & (F.col("id") < bounds[i + 1]))
         .coalesce(1).write.mode("overwrite").parquet(f"{base}/in/b{i}"))
    run_hdr_available_now(spark, f"{base}/in/*", f"{base}/st", f"{base}/ck")
    run_hdr_available_now(spark, f"{base}/in/*", f"{base}/st", f"{base}/ck2")
    return quantiles_from_hdr_state(spark, f"{base}/st")


def q_sql_tpch_q4(spark, sf_dir):
    """TPC-H Q4 (order-priority checking), adapted to the synthetic schema
    (no l_commitdate/l_receiptdate — the EXISTS predicate becomes
    l_returnflag = 'R'). The plan shape is the point: a quarter-filtered
    orders scan LEFT SEMI joined against the filtered lineitem — the semi
    join never widens orders, dedups matches before the aggregate, and at
    100 TB shuffles only (orderkey) pairs on the probe side."""
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-07-01"))
        & (F.col("o_orderdate") < F.lit("1997-10-01"))
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    ).select("l_orderkey")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").cast("long").alias("order_count"))
        .orderBy("o_orderpriority")
    )


def q_sql_tpch_q19(spark, sf_dir):
    """TPC-H Q19 (discounted revenue), adapted (no p_container/l_shipmode —
    brand/size/quantity carry the disjunction). The point is the OR-of-ANDs
    predicate mixing both join sides: Catalyst factors the part-only and
    lineitem-only disjuncts out of the join condition so each scan is
    pre-filtered (PushedFilters on both sides) and only then evaluates the
    residual mixed predicate on join output."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    cond = (
        ((p.p_brand == "Brand#11") & p.p_size.between(1, 15)
         & li.l_quantity.between(1, 11))
        | ((p.p_brand == "Brand#22") & p.p_size.between(10, 25)
           & li.l_quantity.between(10, 20))
        | ((p.p_brand == "Brand#16") & p.p_size.between(20, 40)
           & li.l_quantity.between(20, 30))
    )
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .filter(cond)
        .agg(
            F.round(
                F.sum(li.l_extendedprice * (1 - li.l_discount)), 2
            ).alias("revenue")
        )
    )


def q_sql_cube(spark, sf_dir):
    """CUBE over events on (event_type, month): all four grouping sets in
    one pass — Spark expands the cube BEFORE the shuffle (Expand + one
    map-side-combinable hash aggregate, not four scans). Money sums in
    integer cents (floor(value*100)) so the replay is exact integer
    arithmetic, never a float-association race; NULL super-aggregate
    markers must match DuckDB's GROUP BY CUBE row-for-row."""
    e = _t(spark, sf_dir, "events").select(
        "event_type",
        F.month("ts").cast("int").alias("m"),
        F.expr("cast(floor(value * 100) as bigint)").alias("c"),
    )
    return e.cube("event_type", "m").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("c").cast("long").alias("cents"),
    )


def q_sql_tpch_q13(spark, sf_dir):
    """TPC-H Q13 (customer order-count distribution), adapted (the comment
    NOT-LIKE becomes o_orderpriority <> '1-URGENT'): LEFT OUTER join so
    zero-order customers keep their c_count = 0 bucket, then a second
    aggregate over the first — the double-aggregate histogram plan. The
    orders filter applies BEFORE the join (pushed into the scan), never a
    post-join WHERE that would silently turn the outer join inner."""
    c = _t(spark, sf_dir, "customer").select("c_custkey")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    ).select("o_orderkey", "o_custkey")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").cast("long").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count("*").cast("long").alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


def q_sql_tpch_q17(spark, sf_dir):
    """TPC-H Q17 (small-quantity-order revenue), adapted to Brand#11 and an
    EXACT integer predicate: l_quantity < 0.2 * avg(part) is rewritten
    5 * qty * n_part < sum_qty_part (quantities are integral here), so the
    correlated-average semi-filter never compares a float average. The
    per-part aggregate joins back to the part's lineitems — at 100 TB both
    sides shuffle on l_partkey once; the brand filter prunes part first."""
    p = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_brand") == "Brand#11")
        .select("p_partkey")
    )
    li = _t(spark, sf_dir, "lineitem").join(
        F.broadcast(p), F.col("l_partkey") == F.col("p_partkey")
    ).select(
        "l_partkey",
        F.col("l_quantity").cast("long").alias("qty"),
        F.expr("cast(floor(l_extendedprice * 100) as bigint)").alias("price_c"),
    )
    stats = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.count("*").cast("long").alias("n"),
        F.sum("qty").alias("sum_qty"),
    )
    return (
        li.join(stats, li.l_partkey == stats.pk)
        .filter(F.lit(5) * F.col("qty") * F.col("n") < F.col("sum_qty"))
        .agg(
            F.count("*").cast("long").alias("n_small"),
            F.coalesce(F.sum("price_c"), F.lit(0)).cast("long")
            .alias("revenue_cents"),
        )
    )


def q_sql_tpch_q22(spark, sf_dir):
    """TPC-H Q22 (global sales opportunity), adapted: customers whose
    account balance exceeds the positive-balance average (EXACT integer
    predicate: bal_c * n > sum_c in cents — no float average) and who have
    placed no order since 2001-01-01 (left anti join), grouped by
    nationkey. The average is a single-row broadcast; the anti join
    shuffles only (custkey) pairs."""
    c = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey",
        F.expr("cast(floor(c_acctbal * 100) as bigint)").alias("bal_c"),
    )
    pos = c.filter(F.col("bal_c") > 0).agg(
        F.count("*").cast("long").alias("n"),
        F.sum("bal_c").cast("long").alias("sum_c"),
    )
    recent = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2001-01-01")
    ).select("o_custkey")
    return (
        c.crossJoin(F.broadcast(pos))
        .filter(F.col("bal_c") * F.col("n") > F.col("sum_c"))
        .join(recent, c.c_custkey == recent.o_custkey, "left_anti")
        .groupBy(F.col("c_nationkey").cast("int").alias("nationkey"))
        .agg(
            F.count("*").cast("long").alias("numcust"),
            F.sum("bal_c").cast("long").alias("totacctbal_cents"),
        )
        .orderBy("nationkey")
    )


def q_sql_tpch_q2(spark, sf_dir):
    """TPC-H Q2 (minimum-cost supplier), adapted to the star schema at hand:
    no partsupp table, so the part-supplier cost relation is observed unit
    price in lineitem — unit_c = floor(l_extendedprice * 100 / l_quantity),
    the same IEEE double expression floored on both engines. For each
    LARGE part sized 10-14 supplied from EUROPE, pick the minimum unit
    price and the lowest-keyed supplier achieving it (deterministic
    argmin). The correlated-min subquery becomes a groupBy on partkey
    joined back — one shuffle on l_partkey; part and the supplier→nation→
    region dim chain are broadcast."""
    p = (
        _t(spark, sf_dir, "part")
        .filter((F.col("p_type") == "LARGE") & F.col("p_size").between(10, 14))
        .select("p_partkey", "p_name")
    )
    eu_supp = (
        _t(spark, sf_dir, "supplier")
        .join(
            F.broadcast(_t(spark, sf_dir, "nation")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(
                _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
            ),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("s_suppkey", "s_name")
    )
    li = (
        _t(spark, sf_dir, "lineitem")
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(eu_supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            "p_partkey", "p_name", "s_suppkey", "s_name",
            F.expr(
                "cast(floor(l_extendedprice * 100 / l_quantity) as bigint)"
            ).alias("unit_c"),
        )
    )
    best = li.groupBy(F.col("p_partkey").alias("pk")).agg(
        F.min("unit_c").alias("min_unit_c")
    )
    return (
        li.join(
            best,
            (li.p_partkey == best.pk) & (li.unit_c == best.min_unit_c),
        )
        .groupBy("p_partkey", "p_name", "min_unit_c")
        .agg(F.min("s_suppkey").alias("s_suppkey"))
        .orderBy("min_unit_c", "p_partkey")
    )


def q_sql_tpch_q9(spark, sf_dir):
    """TPC-H Q9 (product-type profit by nation and year), adapted: no
    partsupp supply cost, so profit = revenue on '%gear%' parts, grouped
    by the SUPPLIER's nation and order year. The classic 5-way join:
    lineitem shuffles once on l_orderkey (orders side); part and the
    supplier→nation chain broadcast; amount is exact integer cents
    (floor(extendedprice * (1-discount) * 100), identical IEEE product
    on both engines)."""
    p = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%gear%"))
        .select("p_partkey")
    )
    sn = (
        _t(spark, sf_dir, "supplier")
        .join(
            F.broadcast(_t(spark, sf_dir, "nation")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "n_name")
    )
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", F.year("o_orderdate").cast("int").alias("o_year")
    )
    return (
        _t(spark, sf_dir, "lineitem")
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(sn), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(F.col("n_name").alias("nation"), "o_year")
        .agg(
            F.sum(
                F.expr(
                    "cast(floor(l_extendedprice * (1 - l_discount) * 100)"
                    " as bigint)"
                )
            ).cast("long").alias("profit_cents")
        )
        .orderBy("nation", F.col("o_year").desc())
    )


def q_sql_tpch_q11(spark, sf_dir):
    """TPC-H Q11 (important stock), adapted: part 'value' held by NATION_3's
    suppliers = summed lineitem cents, keep parts whose value exceeds
    1/1000 of the nation total (EXACT integer predicate val * 1000 >
    total — no float fraction). The total is a single-row broadcast
    cross join, exactly the Q22 average pattern; the per-part aggregate
    is one shuffle on l_partkey."""
    supp = (
        _t(spark, sf_dir, "supplier")
        .join(
            F.broadcast(
                _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey")
    )
    v = (
        _t(spark, sf_dir, "lineitem")
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy(F.col("l_partkey").alias("partkey"))
        .agg(
            F.sum(F.expr("cast(floor(l_extendedprice * 100) as bigint)"))
            .cast("long").alias("value_cents")
        )
    )
    # global total accumulates in decimal, not LONG: sum(cents) over the
    # whole table is ~1e7 x rowcount and passes 2^63 near 1e12 rows (the
    # per-key sums above are key-bounded and stay in long territory)
    total = v.agg(
        F.sum(F.col("value_cents").cast("decimal(28,0)"))
        .cast("decimal(28,0)").alias("total_c")
    )
    return (
        v.crossJoin(F.broadcast(total))
        .filter(F.col("value_cents") * F.lit(1000) > F.col("total_c"))
        .select("partkey", "value_cents")
        .orderBy(F.col("value_cents").desc(), "partkey")
    )


def q_sql_tpch_q12(spark, sf_dir):
    """TPC-H Q12 (shipping-mode priority pivot), adapted: no l_shipmode /
    commit / receipt dates, so the pivot key is l_linestatus and 'late'
    means shipped >= 60 days after the order date, restricted to 1997
    shipments. The CASE-sum pivot is a map-side-combinable aggregate; the
    lineitem⋈orders join shuffles on the order key once."""
    li = _t(spark, sf_dir, "lineitem").filter(
        F.year("l_shipdate") == 1997
    ).select("l_orderkey", "l_linestatus", "l_shipdate")
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    hi = "o_orderpriority IN ('1-URGENT', '2-HIGH')"
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(F.expr("datediff(cast(l_shipdate as date),"
                       " cast(o_orderdate as date)) >= 60"))
        .groupBy(F.col("l_linestatus").alias("linestatus"))
        .agg(
            F.sum(F.expr(f"CASE WHEN {hi} THEN 1 ELSE 0 END"))
            .cast("long").alias("high_line_count"),
            F.sum(F.expr(f"CASE WHEN {hi} THEN 0 ELSE 1 END"))
            .cast("long").alias("low_line_count"),
        )
        .orderBy("linestatus")
    )


def q_sql_tpch_q16(spark, sf_dir):
    """TPC-H Q16 (part/supplier relationship counts), adapted: the
    part-supplier relation comes from DISTINCT lineitem (partkey, suppkey)
    pairs (no partsupp), 'customer complaints' becomes s_acctbal < 0
    (excluded via broadcast anti join). count(DISTINCT suppkey) per
    (brand, type, size) — the distinct pre-aggregation dedups pairs
    map-side before the final count shuffle."""
    bad = (
        _t(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    p = (
        _t(spark, sf_dir, "part")
        .filter(
            (F.col("p_brand") != "Brand#1")
            & F.col("p_size").isin(1, 5, 15, 25, 35, 45)
        )
        .select("p_partkey", "p_brand", "p_type", "p_size")
    )
    pairs = (
        _t(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .distinct()
        .join(F.broadcast(bad), F.col("l_suppkey") == F.col("s_suppkey"),
              "left_anti")
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
    )
    return (
        pairs.groupBy(
            F.col("p_brand").alias("brand"),
            F.col("p_type").alias("type"),
            F.col("p_size").cast("int").alias("size"),
        )
        .agg(F.countDistinct("l_suppkey").cast("long").alias("supplier_cnt"))
        .orderBy(F.col("supplier_cnt").desc(), "brand", "type", "size")
    )


def q_sql_tpch_q20(spark, sf_dir):
    """TPC-H Q20 (part promotion candidates), adapted: no ps_availqty, so
    'excess stock' becomes shipping dominance — suppliers who shipped MORE
    THAN HALF of a '%bolt%' part's total 1998 volume (EXACT integer
    predicate 2 * qty_sp > qty_p on BIGINT quantities). Two aggregates
    over the same filtered scan share the l_partkey shuffle; the dominant
    (supplier, part) pairs reduce to DISTINCT suppliers joined back to
    the broadcast supplier dim."""
    li = (
        _t(spark, sf_dir, "lineitem")
        .join(
            F.broadcast(
                _t(spark, sf_dir, "part")
                .filter(F.col("p_name").like("%bolt%"))
                .select("p_partkey")
            ),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .filter(F.year("l_shipdate") == 1998)
        .select(
            "l_suppkey", "l_partkey",
            F.col("l_quantity").cast("long").alias("qty"),
        )
    )
    sp = li.groupBy("l_suppkey", "l_partkey").agg(
        F.sum("qty").cast("long").alias("qty_sp")
    )
    pt = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.sum("qty").cast("long").alias("qty_p")
    )
    dominant = (
        sp.join(pt, sp.l_partkey == pt.pk)
        .filter(F.lit(2) * F.col("qty_sp") > F.col("qty_p"))
        .select("l_suppkey")
        .distinct()
    )
    return (
        dominant.join(
            F.broadcast(_t(spark, sf_dir, "supplier")),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .select(
            F.col("s_suppkey").cast("long").alias("suppkey"),
            F.col("s_name").alias("name"),
        )
        .orderBy("suppkey")
    )


def q_sql_tpch_q21(spark, sf_dir):
    """TPC-H Q21 (suppliers who kept orders waiting), adapted: 'late' =
    shipped > 90 days after the order date on finished ('F') orders; the
    EXISTS(other supplier) / NOT EXISTS(other late supplier) pair is
    re-expressed as per-order distinct counts — ns > 1 AND exactly ONE
    distinct late supplier — computed in a single groupBy on the order
    key and joined back, replacing the reference pattern's two extra
    self-joins of the fact table with one aggregate (same result,
    provably: the sole late supplier of a multi-supplier order is
    exactly the row Q21's l1 keeps). numwait counts per supplier."""
    li = (
        _t(spark, sf_dir, "lineitem")
        .join(
            _t(spark, sf_dir, "orders")
            .filter(F.col("o_orderstatus") == "F")
            .select("o_orderkey", "o_orderdate"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select(
            "l_orderkey", "l_suppkey",
            F.expr("datediff(cast(l_shipdate as date),"
                   " cast(o_orderdate as date)) > 90").alias("late"),
        )
    )
    per_order = li.groupBy(F.col("l_orderkey").alias("ok")).agg(
        F.countDistinct("l_suppkey").alias("ns"),
        F.countDistinct(F.when(F.col("late"), F.col("l_suppkey"))).alias("nl"),
    )
    return (
        li.filter(F.col("late"))
        .join(per_order, F.col("l_orderkey") == F.col("ok"))
        .filter((F.col("ns") > 1) & (F.col("nl") == 1))
        .groupBy(F.col("l_suppkey").alias("suppkey"))
        .agg(F.countDistinct("l_orderkey").cast("long").alias("numwait"))
        .orderBy(F.col("numwait").desc(), "suppkey")
    )


def q_g22_ktruss(spark, sf_dir):
    """3-truss of the weight>=2 co-purchase graph
    (graphstats.py:k_truss): iterative support peel to the fixed point,
    surviving edges with their within-truss support. The oracle unrolls 3
    peel rounds (converges in 1 on sf0.01, fixed-point margin the k-core
    way)."""
    from knowledgegraphbuilder_spark.operators.graphstats import k_truss

    edges = _copurchase_edges(spark, sf_dir).filter(F.col("weight") >= 2)
    return k_truss(edges, k=3).orderBy("src", "dst")


def q_g20_assortativity(spark, sf_dir):
    """Degree assortativity of the co-purchase graph
    (graphstats.py:assortativity): Pearson r of the degrees at each edge's
    two ends over both orientations, from EXACT decimal integer sufficient
    statistics — the mlstats discipline applied to graph structure. One
    degree aggregate, two equi-joins, one single-row aggregate."""
    from knowledgegraphbuilder_spark.operators.graphstats import assortativity

    return assortativity(_copurchase_edges(spark, sf_dir))


def q_g21_edgejaccard(spark, sf_dir):
    """Per-edge neighborhood Jaccard (graphstats.py:edge_jaccard) on the
    weight>=2 co-purchase graph: support from the g19 wedge+closure
    equi-joins, union size from pure integer degree arithmetic; low-Jaccard
    edges are the local bridges. Exact BIGINT numerator/denominator, one
    rounded divide."""
    from knowledgegraphbuilder_spark.operators.graphstats import edge_jaccard

    edges = _copurchase_edges(spark, sf_dir).filter(F.col("weight") >= 2)
    return edge_jaccard(edges).orderBy("src", "dst")


def q_ml_histogram(spark, sf_dir):
    """Per-returnflag equi-width histogram of l_extendedprice
    (mlstats.py:equi_width_histogram): data-driven group bounds from one
    min/max aggregate, bucket index from the shared IEEE floor expression,
    empty buckets emitted via a bins-sized sequence explode (never
    data-sized). 12 buckets x 3 groups, always exactly 36 rows."""
    from knowledgegraphbuilder_spark.operators.mlstats import (
        equi_width_histogram,
    )

    return equi_width_histogram(
        _t(spark, sf_dir, "lineitem"),
        value_expr="l_extendedprice",
        bins=12,
        group_col="l_returnflag",
    )


def q_ts_infer_batches(spark, sf_dir):
    """Length-bucketed inference batch assembly over documents
    (curation.py:inference_batches): 16-token buckets, 512-token next-fit
    batches, per-batch padding-waste accounting — the batching stage in
    front of every Arrow-batched model UDF in the KG pipeline. One window
    shuffle keyed by bucket, one map-side rollup."""
    from knowledgegraphbuilder_spark.operators.curation import (
        inference_batches,
    )

    return inference_batches(
        _t(spark, sf_dir, "documents"), max_tokens=512, bucket_width=16
    )


def q_g19_trusssupport(spark, sf_dir):
    """Per-edge triangle support (the k-truss building block: an edge's
    support = |common neighbors of its endpoints|) over the weight>=2
    co-purchase graph (graphstats.py:edge_support). Wedge enumeration uses
    the same adjacency self-join discipline as g5/g12; support rides each
    edge, so a truss peel is a filter + recompute loop on this operator."""
    from knowledgegraphbuilder_spark.operators.graphstats import edge_support

    edges = _copurchase_edges(spark, sf_dir).filter(F.col("weight") >= 2)
    return edge_support(edges)


def q_stream_bloom(spark, sf_dir):
    """STREAMING Bloom-filter maintenance: documents split into 3 files,
    each micro-batch's text-key bloom words bit_or-MERGEd into state
    (streaming/ingest.py:run_bloom_available_now), then REPLAYED against a
    fresh checkpoint. bit_or is idempotent/commutative/associative — the
    same replay algebra as the HLL max-fold and minhash min-fold — so the
    state equals the batch filter of the full corpus, which the oracle
    rebuilds from scratch in DuckDB."""
    import hashlib
    import shutil

    from knowledgegraphbuilder_spark.streaming.ingest import (
        run_bloom_available_now,
    )

    docs = _t(spark, sf_dir, "documents")
    tag = hashlib.sha256(sf_dir.encode()).hexdigest()[:10]
    base = f"/tmp/kg_stream_bloom_{tag}"
    shutil.rmtree(base, ignore_errors=True)
    n = docs.agg(F.max("doc_id")).first()[0]
    bounds = [0, n // 3, 2 * n // 3, n + 1]
    for i in range(3):
        (docs.filter((F.col("doc_id") >= bounds[i])
                     & (F.col("doc_id") < bounds[i + 1]))
         .coalesce(1).write.mode("overwrite").parquet(f"{base}/in/b{i}"))
    run_bloom_available_now(spark, f"{base}/in/*", f"{base}/st", f"{base}/ck")
    run_bloom_available_now(spark, f"{base}/in/*", f"{base}/st", f"{base}/ck2")
    return spark.read.parquet(f"{base}/st").select("word", "bits")


def q_g18_adamicadar(spark, sf_dir):
    """Adamic-Adar link prediction on the weight>=2 co-purchase graph
    (graphstats.py:adamic_adar): top-100 missing edges by the 1/ln(deg)
    common-neighbor score, in quantized-ln integer units so the BIGINT sum
    replays bit-exactly (the float-sum and raw-floor ULP traps are
    documented at the operator). Same max_hub_degree=10 wedge-center cap
    as g12_linkpred, so the two rankings are directly comparable."""
    from knowledgegraphbuilder_spark.operators.graphstats import adamic_adar

    edges = _copurchase_edges(spark, sf_dir).filter(F.col("weight") >= 2)
    return adamic_adar(edges, max_hub_degree=10, top_n=100)


def q_dd_bloomjoin(spark, sf_dir):
    """Bloom-prefiltered EXACT incremental dedup (dedup.py:bloom_anti_join):
    new docs vs the every-7th-doc 'seen' set, routed 'bloom' (definitely
    new, map-side) or 'verify' (cleared by the exact anti-join). The
    filter, the routing and the membership all replay in DuckDB."""
    docs = _t(spark, sf_dir, "documents")
    seen = docs.filter(F.col("doc_id") % 7 == 0)
    return dd.bloom_anti_join(docs, seen)


def q_stream_minhash(spark, sf_dir):
    """STREAMING per-source MinHash signature maintenance: documents split
    into 3 files, folded per micro-batch by elementwise-min MERGE
    (streaming/ingest.py:run_minhash_available_now), then REPLAYED against
    a fresh checkpoint for idempotency. min is associative/commutative/
    idempotent, so the state equals the batch signature of the full corpus
    and the oracle replays it from scratch in DuckDB."""
    import hashlib
    import shutil

    from knowledgegraphbuilder_spark.streaming.ingest import (
        run_minhash_available_now,
    )

    docs = _t(spark, sf_dir, "documents")
    tag = hashlib.sha256(sf_dir.encode()).hexdigest()[:10]
    base = f"/tmp/kg_stream_minhash_{tag}"
    shutil.rmtree(base, ignore_errors=True)
    n = docs.agg(F.max("doc_id")).first()[0]
    bounds = [0, n // 3, 2 * n // 3, n + 1]
    for i in range(3):
        (docs.filter((F.col("doc_id") >= bounds[i])
                     & (F.col("doc_id") < bounds[i + 1]))
         .coalesce(1).write.mode("overwrite").parquet(f"{base}/in/b{i}"))
    run_minhash_available_now(spark, f"{base}/in/*", f"{base}/st", f"{base}/ck")
    # replay against a fresh checkpoint with a DIFFERENT trigger shape
    # (one batch instead of three): same final state — the min-fold is
    # batching-invariant AND replay-idempotent, and the single-batch leg
    # skips two micro-batch spin-ups
    run_minhash_available_now(spark, f"{base}/in/*", f"{base}/st",
                              f"{base}/ck2", max_files_per_trigger=None)
    return spark.read.parquet(f"{base}/st").select(
        "g", F.col("perm").cast("int").alias("perm"), "minv"
    )


def q_ts_entropy(spark, sf_dir):
    """Per-source Shannon entropy of the language distribution — the
    corpus-diversity diagnostic behind temperature rebalancing
    (textstats.py:shannon_entropy). Two map-side-combinable grouped
    counts; the only floats are final ln/divide over exact integers."""
    return ts.shannon_entropy(_t(spark, sf_dir, "documents"))


def q_ts_winsorize(spark, sf_dir):
    """Per-source winsorization of document length at exact interpolated
    [p05, p95] percentiles (textstats.py:winsorize) — the clamping
    complement of ts_mad's flagging, same bit-exact percentile contract."""
    return ts.winsorize(_t(spark, sf_dir, "documents"))


def q_ml_ols(spark, sf_dir):
    """Grouped simple OLS (extendedprice-cents on quantity per returnflag)
    from INTEGER sufficient statistics carried in decimal(38) — both
    engines divide identical exact integers, so the slope/intercept/r2
    replay is deterministic, never a float-association race
    (mlstats.py:grouped_ols). One map-side-combinable aggregate pass."""
    from knowledgegraphbuilder_spark.operators.mlstats import grouped_ols

    return grouped_ols(
        _t(spark, sf_dir, "lineitem"),
        x_expr="cast(l_quantity as bigint)",
        y_expr="cast(floor(l_extendedprice * 100) as bigint)",
        group_col="l_returnflag",
    ).orderBy("grp")


def q_ml_corr(spark, sf_dir):
    """Pairwise Pearson correlation matrix of four lineitem measures in one
    aggregate pass (mlstats.py:corr_matrix): integer-scaled inputs, exact
    decimal sufficient statistics, every pair projected from the single
    stats row — one fact-table scan for the whole matrix."""
    from knowledgegraphbuilder_spark.operators.mlstats import corr_matrix

    return corr_matrix(
        _t(spark, sf_dir, "lineitem"),
        {
            "qty": "cast(l_quantity as bigint)",
            "price_c": "cast(floor(l_extendedprice * 100) as bigint)",
            "disc_bp": "cast(floor(l_discount * 10000) as bigint)",
            "tax_bp": "cast(floor(l_tax * 10000) as bigint)",
        },
    ).orderBy("col_a", "col_b")


def q_sql_tpch_q7(spark, sf_dir):
    """TPC-H Q7 (volume shipping): lineitem x orders x customer fact chain
    against TWO roles of the broadcast nation dim (supplier nation,
    customer nation) with the symmetric nation-pair predicate folded into
    the broadcast join output — the classic role-playing-dimension plan.
    Only the fact-side joins shuffle; the date filter reaches the lineitem
    scan pushed down."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1998-01-01"))
    )
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    sn = (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    cn = c.join(
        F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey")
    ).select("c_custkey", F.col("n_name").alias("cust_nation"))
    pair = (
        ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
        | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(cn, o.o_custkey == cn.c_custkey)
        .join(F.broadcast(sn), li.l_suppkey == sn.s_suppkey)
        .filter(pair)
        .groupBy(
            "supp_nation", "cust_nation",
            F.year("l_shipdate").cast("int").alias("l_year"),
        )
        .agg(
            F.sum(
                F.expr("cast(floor(l_extendedprice * (1 - l_discount) * 100)"
                       " as bigint)")
            ).alias("revenue_cents")
        )
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


def q_sql_tpch_q8(spark, sf_dir):
    """TPC-H Q8 (national market share): conditional-share aggregate over a
    five-way join — promo-part lineitems sold to EUROPE-region customers,
    share of the orders supplied from NATION_3, per order year. Part is
    pre-filtered and column-pruned to its key before the join (semi-join
    shape); both nation roles and region ride broadcast. Revenue in
    integer cents so the share ratio is a ratio of exact integers."""
    p = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_type") == "PROMO")
        .select("p_partkey")
    )
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey",
        F.expr("cast(floor(l_extendedprice * (1 - l_discount) * 100) as bigint)"
               ).alias("volume_cents"),
    )
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1998-01-01"))
    ).select("o_orderkey", "o_custkey", F.year("o_orderdate").cast("int").alias("o_year"))
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    eur_nations = n.join(
        F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey")
    ).select(F.col("n_nationkey").alias("eur_nationkey"))
    c = _t(spark, sf_dir, "customer").join(
        F.broadcast(eur_nations), F.col("c_nationkey") == F.col("eur_nationkey")
    ).select("c_custkey")
    sn = (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(n.select("n_nationkey", "n_name")),
              F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(sn), li.l_suppkey == sn.s_suppkey)
        .groupBy("o_year")
        .agg(
            F.round(
                F.sum(F.when(F.col("supp_nation") == "NATION_3",
                             F.col("volume_cents")).otherwise(F.lit(0)))
                / F.sum("volume_cents"),
                6,
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


def q_sql_tpch_q10(spark, sf_dir):
    """TPC-H Q10 (returned-item reporting): top-20 customers by lost
    revenue from returned lineitems in one quarter. The aggregate runs on
    (custkey) BEFORE the customer attributes join — the wide customer row
    never rides the big shuffle — and the top-20 is a TakeOrderedAndProject
    with a deterministic (revenue desc, custkey) tie-break, never a global
    sort."""
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01"))
        & (F.col("o_orderdate") < F.lit("1997-04-01"))
    ).select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    rev = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_custkey")
        .agg(
            F.sum(F.expr("cast(floor(l_extendedprice * (1 - l_discount) * 100)"
                         " as bigint)")).alias("revenue_cents")
        )
    )
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        rev.join(c, rev.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == F.col("n_nationkey"))
        .select(
            "c_custkey", "c_name", "revenue_cents",
            F.round("c_acctbal", 2).alias("acctbal"), "n_name",
        )
        .orderBy(F.desc("revenue_cents"), F.col("c_custkey"))
        .limit(20)
    )


def q_sql_tpch_q15(spark, sf_dir):
    """TPC-H Q15 (top supplier): quarterly revenue per supplier, then the
    argmax suppliers — the max is computed once on the aggregate (a
    broadcast single-row join), revenue kept in exact integer cents so the
    max-equality never compares re-associated doubles."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-04-01"))
    )
    rev = li.groupBy("l_suppkey").agg(
        F.sum(F.expr("cast(floor(l_extendedprice * (1 - l_discount) * 100)"
                     " as bigint)")).alias("total_cents")
    )
    mx = rev.agg(F.max("total_cents").alias("mx"))
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        rev.join(F.broadcast(mx), F.col("total_cents") == F.col("mx"))
        .join(s, rev.l_suppkey == s.s_suppkey)
        .select("s_suppkey", "s_name", "total_cents")
        .orderBy("s_suppkey")
    )


def q_sql_tpch_q18(spark, sf_dir):
    """TPC-H Q18 (large-volume customer): orders whose total quantity
    exceeds 300 — a HAVING on the fact aggregate, joined back to orders and
    customer only for the qualifying keys (the aggregate acts as its own
    semi-join filter; at 100 TB the attribute joins see only the few
    qualifying orders). Quantities are integral in this corpus, summed as
    exact longs."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", F.col("l_quantity").cast("long").alias("q")
    )
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("q").alias("total_qty"))
        .filter(F.col("total_qty") > 300)
    )
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            "c_name", "c_custkey", "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            F.round("o_totalprice", 2).alias("o_totalprice"),
            "total_qty",
        )
    )


def q_sql_funnel(spark, sf_dir):
    """Ordered conversion funnel (view -> click -> purchase) over the event
    stream: the classic product-analytics query. Each stage is one
    filtered min-aggregate keyed by user plus one equi-join back on
    user_id — stage N's table only shrinks, so at 100 TB the funnel is
    three ever-smaller shuffles on the same key (AQE can keep the later
    joins broadcast), never a self-cross of the event log. Strictly
    increasing timestamps between stages (microsecond precision)."""
    e = _t(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    s1 = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id").agg(F.min("ts").alias("t1"))
    )
    s2 = (
        e.filter(F.col("event_type") == "click")
        .join(s1, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id").agg(F.min("ts").alias("t2"))
    )
    s3 = (
        e.filter(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id").agg(F.min("ts").alias("t3"))
    )
    one = lambda df, n, s: df.agg(  # noqa: E731
        F.lit(s).alias("stage"), F.count("*").cast("long").alias("users")
    ).select(F.lit(n).alias("step"), "stage", "users")
    return (
        one(s1, 1, "view")
        .unionByName(one(s2, 2, "view>click"))
        .unionByName(one(s3, 3, "view>click>purchase"))
    )


def q_sql_retention(spark, sf_dir):
    """Weekly cohort retention matrix: cohort = ISO week of a user's first
    event, cell (cohort, k) = distinct users from that cohort active k
    weeks later. Two aggregates over one scan (first-event week per user,
    distinct activity weeks per user) joined on user_id; the matrix is
    cohort-count x week-count sized, so the only data-scale shuffle is the
    per-user aggregate — map-side combinable."""
    e = _t(spark, sf_dir, "events").select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("wk")
    )
    first = e.groupBy("user_id").agg(F.min("wk").alias("cw"))
    act = e.distinct()
    return (
        act.join(first, "user_id")
        .select(
            "user_id",
            F.date_format("cw", "yyyy-MM-dd").alias("cohort"),
            (F.datediff(F.col("wk"), F.col("cw")) / 7).cast("int").alias("woffset"),
        )
        .groupBy("cohort", "woffset")
        .agg(F.countDistinct("user_id").cast("long").alias("users"))
    )


def q_ts_moving(spark, sf_dir):
    """Trailing 1-hour moving aggregate per user over the event stream — a
    RANGE window frame on integer microseconds (unix_micros), so the frame
    boundary is exact integer arithmetic on both engines, never a float
    epoch. Partitioned by user_id: the window sort is per-user, the hot
    path is one shuffle on the partition key, and no global sort exists
    anywhere in the plan."""
    from pyspark.sql import Window as W

    # unix_micros needs TIMESTAMP (not NTZ); pin the session tz so the
    # NTZ->LTZ cast is the identity DuckDB's epoch_us applies
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    e = _t(spark, sf_dir, "events").select(
        "event_id", "user_id",
        F.expr("unix_micros(cast(ts as timestamp))").alias("us"), "value",
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("us")
        .rangeBetween(-3_600_000_000, 0)
    )
    return e.select(
        "event_id",
        "user_id",
        F.count("*").over(w).cast("long").alias("n_1h"),
        F.round(F.avg("value").over(w), 6).alias("avg_1h"),
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full KG construction on sf0.001 -> (subj, pred, obj, doc_id)."""
    return q_kg_triples(spark, "/root/testdata/sf0.001")


# ROUND-5 DRIVER WINDOW: the driver oracle-checks the FIRST 50 entries of
# queries(). The union of green driver rows across r1-r4 covers exactly the
# 100 originally-registered queries; this window is the next 50 highest-
# leverage never-driver-checked entries, ordered per VERDICT r4 "Next round"
# item 1: streaming-maintenance folds (the resume/idempotency story), the
# round-4 dedup/curation additions, the ann_knn family, the full
# SPARQL/SHACL/RDFS surface, knowledge fusion / truth discovery, temporal
# as-of, and conformal intervals. Every operator touched by a round-4 ADVICE
# fix (fusion noisy-OR widening, grid-DBSCAN negative-cell guard,
# path-quantified existence mode, conformal NULL-qhat, MinHash 61-bit
# universe) is IN this window so the fixes land driver-verified.
_R5_WINDOW = [
    "stream_cc", "stream_edges", "stream_fuse", "stream_ann",
    "stream_minhash", "stream_bloom",
    "dd_rewrite", "dd_cdc", "dd_crossdedup", "dd_editdist", "dd_lines",
    "ts_dsir", "ts_temperature",
    "ann_knn", "ann_knn_cc", "ann_recall",
    "kg_bgp", "kg_bgp_optional", "kg_bgp_union", "kg_bgp_filter",
    "kg_bgp_minus", "kg_bgp_agg", "kg_ask", "kg_describe", "kg_shacl",
    "kg_rdfs_types", "kg_construct", "kg_infer", "kg_pathplus",
    "kg_path_alt", "kg_path_quant", "kg_npath",
    "kg_fuse", "kg_truth", "kg_pra", "kg_sameas", "kg_disjoint",
    "kg_asof", "ml_conformal", "kg_metapaths", "kg_degprofile",
    "kg_import_nt", "kg_export_nt",
    "mm_dedup", "ml_dbscan",
    "sk_kmv", "stream_kmv", "sk_heavy", "stream_heavy", "stream_quantile",
]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    base = _registry()
    if len(_R5_WINDOW) != 50 or len(base.keys() & set(_R5_WINDOW)) != 50:
        raise ValueError(f"_R5_WINDOW must name 50 distinct registered queries: {_R5_WINDOW}")
    head = {k: base[k] for k in _R5_WINDOW}
    return {**head, **{k: v for k, v in base.items() if k not in head}}


def _registry() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Full registry in historical (tranche) order; queries() reorders so the
    # _R5_WINDOW sits first for the driver gate.
    return {
    # ORDER MATTERS: the driver's correctness gate checks the FIRST 50
    # entries. Round-4 rotation puts the 35 queries never driver-checked in
    # rounds 1-3 first, then the two ever-red rows (dd_substring oracle
    # typing fixed this round; mm_frames hex fix landed r3), then 13
    # r2-green-but-not-rechecked queries. With rounds 1-3 green rows, this
    # makes the union of driver-checked queries cover the full registry.
        "g5_triangles": q_g5_triangles,
        "g12_linkpred": q_g12_linkpred,
        "g14_harmonic": q_g14_harmonic,
        "g6_kcore": q_g6_kcore,
        "g7_bfs": q_g7_bfs,
        "g8_labelprop": q_g8_labelprop,
        "g9_sssp": q_g9_sssp,
        "g10_hits": q_g10_hits,
        "g11_walks": q_g11_walks,
        "g13_walkpairs": q_g13_walkpairs,
        "kg_negsample": q_kg_negsample,
        "sk_hll": q_sk_hll,
        "sk_cms": q_sk_cms,
        "retrieval_hybrid": q_retrieval_hybrid,
        "ts_split": q_ts_split,
        "dd_resolve": q_dd_resolve,
        "ml_kmeans": q_ml_kmeans,
        "stream_hll": q_stream_hll,
        "stream_cms": q_stream_cms,
        "sk_quantile": q_sk_quantile,
        "bpe_merges": q_bpe_merges,
        "layout_zorder": q_layout_zorder,
        "sk_bloom": q_sk_bloom,
        "ts_tfidf": q_ts_tfidf,
        "ts_pmi": q_ts_pmi,
        "mm_align": q_mm_align,
        "mm_transitions": q_mm_transitions,
        "mm_pack": q_mm_pack,
        "interval_overlap": q_interval_overlap,
        "stream_join": q_stream_join,
        "stream_relations": q_stream_relations,
        "kg_incremental": q_kg_incremental,
        "stream_dedup": q_stream_dedup,
        "sql_tpch_q6": q_sql_tpch_q6,
        "sql_tpch_q3": q_sql_tpch_q3,
        "dd_substring": q_dd_substring,
        "mm_frames": q_mm_frames,
        "asof_join": q_asof_join,
        "g3_pagerank": q_g3_pagerank,
        "mm_features": q_mm_features,
        "retrieval_batch": q_retrieval_batch,
        "retrieval_topk": q_retrieval_topk,
        "stream_sessions": q_stream_sessions,
        "sql_agg_pushdown": q_sql_agg_pushdown,
        "sql_anti_join": q_sql_anti_join,
        "sql_join_agg": q_sql_join_agg,
        "sql_quantiles": q_sql_quantiles,
        "sql_rollup": q_sql_rollup,
        "sql_sessionize": q_sql_sessionize,
        "sql_window_cum": q_sql_window_cum,
        # ---- end of round-4 driver window (first 50) ----
        "kg_s1_flatten": q_kg_s1_flatten,
        "kg_u2_mentions": q_kg_u2_mentions,
        "kg_u3_labels": q_kg_u3_labels,
        "kg_u4_relations": q_kg_u4_relations,
        "kg_a1_nodes": q_kg_a1_nodes,
        "kg_j2_edges": q_kg_j2_edges,
        "kg_triples": q_kg_triples,
        "kg_sink_roundtrip": q_kg_sink_roundtrip,
        "kg_snapshot_timetravel": q_kg_snapshot_timetravel,
        "src_jsonl": q_src_jsonl,
        "kg_answer": q_kg_answer,
        "src_txt": q_src_txt,
        "kg_snapshot_diff": q_kg_snapshot_diff,
        "kg_provenance": q_kg_provenance,
        "kg_p1_chunk_entities": q_kg_p1_chunk_entities,
        "kg_a5_docweight": q_kg_a5_docweight,
        "kg_t3_topdocs": q_kg_t3_topdocs,
        "kg_t1_sample": q_kg_t1_sample,
        "kg_f8_sanitize": q_kg_f8_sanitize,
        "kg_f9_strip_think": q_kg_f9_strip_think,
        "dd_exact": q_dd_exact,
        "dd_ngram_jaccard": q_dd_ngram_jaccard,
        "dd_contain": q_dd_contain,
        "dd_minhash_lsh": q_dd_minhash_lsh,
        "dd_simhash": q_dd_simhash,
        "dd_embed_cosine": q_dd_embed_cosine,
        "dd_embed_cosine_lsh": q_dd_embed_cosine_lsh,
        "dd_semdedup": q_dd_semdedup,
        "dd_contamination": q_dd_contamination,
        "ts_pii": q_ts_pii,
        "ts_repetition": q_ts_repetition,
        "ts_qualityfilter": q_ts_qualityfilter,
        "dd_mixture": q_dd_mixture,
        "ts_packing": q_ts_packing,
        "ann_topk": q_ann_topk,
        "ann_lsh": q_ann_lsh,
        "ann_ivf": q_ann_ivf,
        "ann_pq": q_ann_pq,
        "ann_batch": q_ann_batch,
        "ann_lsh_batch": q_ann_lsh_batch,
        "ann_ivf_batch": q_ann_ivf_batch,
        "bm25": q_bm25,
        "link_edges": q_link_edges,
        "ts_langid": q_ts_langid,
        "ts_quality": q_ts_quality,
        "ts_tokens": q_ts_tokens,
        "ts_fingerprint": q_ts_fingerprint,
        "ts_perplexity": q_ts_perplexity,
        "g4_cc": q_g4_cc,
        "sql_topk_count": q_sql_topk_count,
        # ---- round-4 additions (past the gate window; round-5 rotation
        # material, strict-gate verified locally) ----
        "ts_dsir": q_ts_dsir,
        "ann_knn": q_ann_knn,
        "ann_knn_cc": q_ann_knn_cc,
        "ts_temperature": q_ts_temperature,
        "ann_recall": q_ann_recall,
        "dd_calibration": q_dd_calibration,
        "ts_profile": q_ts_profile,
        "g15_modularity": q_g15_modularity,
        "dd_rewrite": q_dd_rewrite,
        "g16_node2vec": q_g16_node2vec,
        "stream_ann": q_stream_ann,
        "sql_tpch_q1": q_sql_tpch_q1,
        "g17_anf": q_g17_anf,
        "ts_adaptive_filter": q_ts_adaptive_filter,
        "ann_sq8": q_ann_sq8,
        "g17_effdiam": q_g17_effdiam,
        "stream_edges": q_stream_edges,
        "dd_cdc": q_dd_cdc,
        "dd_normalize": q_dd_normalize,
        "sk_heavy": q_sk_heavy,
        "ts_reservoir": q_ts_reservoir,
        "sql_tpch_q5": q_sql_tpch_q5,
        "stream_heavy": q_stream_heavy,
        "sql_tpch_q14": q_sql_tpch_q14,
        "dd_winnow": q_dd_winnow,
        "ts_mad": q_ts_mad,
        "stream_quantile": q_stream_quantile,
        "sql_tpch_q4": q_sql_tpch_q4,
        "sql_tpch_q19": q_sql_tpch_q19,
        "sql_cube": q_sql_cube,
        "sql_funnel": q_sql_funnel,
        "sql_retention": q_sql_retention,
        "ts_moving": q_ts_moving,
        "sql_tpch_q7": q_sql_tpch_q7,
        "sql_tpch_q8": q_sql_tpch_q8,
        "sql_tpch_q10": q_sql_tpch_q10,
        "sql_tpch_q15": q_sql_tpch_q15,
        "sql_tpch_q18": q_sql_tpch_q18,
        "ts_entropy": q_ts_entropy,
        "ts_winsorize": q_ts_winsorize,
        "ml_ols": q_ml_ols,
        "ml_corr": q_ml_corr,
        "g18_adamicadar": q_g18_adamicadar,
        "dd_bloomjoin": q_dd_bloomjoin,
        "stream_minhash": q_stream_minhash,
        "sql_tpch_q13": q_sql_tpch_q13,
        "sql_tpch_q17": q_sql_tpch_q17,
        "sql_tpch_q22": q_sql_tpch_q22,
        "g19_trusssupport": q_g19_trusssupport,
        "stream_bloom": q_stream_bloom,
        # full TPC-H sweep completion (adapted to the partsupp-less star
        # schema — see each docstring); appended PAST the gate window,
        # round-5 rotation candidates
        "sql_tpch_q2": q_sql_tpch_q2,
        "sql_tpch_q9": q_sql_tpch_q9,
        "sql_tpch_q11": q_sql_tpch_q11,
        "sql_tpch_q12": q_sql_tpch_q12,
        "sql_tpch_q16": q_sql_tpch_q16,
        "sql_tpch_q20": q_sql_tpch_q20,
        "sql_tpch_q21": q_sql_tpch_q21,
        "g20_assortativity": q_g20_assortativity,
        "g21_edgejaccard": q_g21_edgejaccard,
        "ml_histogram": q_ml_histogram,
        "ts_infer_batches": q_ts_infer_batches,
        "g22_ktruss": q_g22_ktruss,
        # tranche 9 (defs at end of file): supervised text models +
        # directed-graph analytics + grouping-sets lattice slice
        "ml_naivebayes": q_ml_naivebayes,
        "ml_chi2": q_ml_chi2,
        "g23_scc": q_g23_scc,
        "g24_katz": q_g24_katz,
        "sql_groupingsets": q_sql_groupingsets,
        # tranche 10 (defs at end of file): line-level dedup, corpus
        # frequency-profile + diversity diagnostics, time-series
        # resampling, depth-1 CART, pivot matrix
        "dd_lines": q_dd_lines,
        "ts_zipf": q_ts_zipf,
        "ts_gini": q_ts_gini,
        "ts_resample": q_ts_resample,
        "ml_stump": q_ml_stump,
        "sql_pivot": q_sql_pivot,
        # tranche 11 (defs at end of file): exact AUC, association rules,
        # KL drift, burst detection, unpivot
        "ml_auc": q_ml_auc,
        "ml_assoc": q_ml_assoc,
        "ts_kl": q_ts_kl,
        "ts_burst": q_ts_burst,
        "sql_unpivot": q_sql_unpivot,
        # tranche 12 (defs at end of file): churn flows, Lorenz curve,
        # closed-form PCA, streamed resample fold
        "ts_churn": q_ts_churn,
        "ts_lorenz": q_ts_lorenz,
        "ml_pca": q_ml_pca,
        "stream_resample": q_stream_resample,
        # tranche 13 (defs at end of file): classifier metrics, lag-1
        # autocorrelation, last-touch attribution, time-to-convert
        "ml_f1": q_ml_f1,
        "ts_autocorr": q_ts_autocorr,
        "sql_attribution": q_sql_attribution,
        "sql_ttc": q_sql_ttc,
        # tranche 14 (defs at end of file): rolling distinct actives,
        # gaps-and-islands streaks, PSI drift, global transitivity
        "sql_dau_wau": q_sql_dau_wau,
        "sql_streaks": q_sql_streaks,
        "ml_psi": q_ml_psi,
        "g26_gcc": q_g26_gcc,
        # tranche 15 (defs at end of file): RFM census, shingle novelty,
        # hour-of-day seasonality
        "sql_rfm": q_sql_rfm,
        "ts_novelty": q_ts_novelty,
        "sql_seasonality": q_sql_seasonality,
        # tranche 16 (defs at end of file): full coreness decomposition
        "g27_coreness": q_g27_coreness,
        # tranche 17 (defs at end of file): kNN classifier, rank windows
        "ml_knnclass": q_ml_knnclass,
        "sql_percentrank": q_sql_percentrank,
        # tranche 18 (defs at end of file): streamed line dedup, 2-feature
        # closed-form regression
        "stream_lines": q_stream_lines,
        "ml_mlr": q_ml_mlr,
        # tranche 19 (defs at end of file): SoftDeDup weights, rich club,
        # 2-D histogram
        "dd_soft": q_dd_soft,
        "g29_richclub": q_g29_richclub,
        "ml_histogram2d": q_ml_histogram2d,
        # tranche 20 (defs at end of file): ROC curve points, log-binned
        # degree distribution
        "ml_roc": q_ml_roc,
        "g30_degdist": q_g30_degdist,
        # tranche 21 (defs at end of file): Heaps' law, exact KS drift
        "ts_heaps": q_ts_heaps,
        "ml_ks": q_ml_ks,
        # tranche 22 (defs at end of file): source-vocab similarity,
        # KG typed-degree profile
        "ts_srcsim": q_ts_srcsim,
        "kg_degprofile": q_kg_degprofile,
        # tranche 23 (defs at end of file): burstiness index, effect
        # size, directed reciprocity
        "ts_burstiness": q_ts_burstiness,
        "ml_effect": q_ml_effect,
        "g31_reciprocity": q_g31_reciprocity,
        # tranche 24 (defs at end of file): Pareto concentration,
        # KG relation-type co-occurrence
        "sql_pareto": q_sql_pareto,
        "kg_reltype_cooccur": q_kg_reltype_cooccur,
        # tranche 25 (defs at end of file): Welch t, two-proportion A/B z
        "ml_welch": q_ml_welch,
        "ml_ab": q_ml_ab,
        # tranche 26 (defs at end of file): bigram conditional entropy,
        # component-size distribution
        "ts_bigram_entropy": q_ts_bigram_entropy,
        "g32_ccsizes": q_g32_ccsizes,
        # tranche 27 (defs at end of file): week-over-week growth
        "sql_wow": q_sql_wow,
        # tranche 28 (defs at end of file): Mann-Whitney U, Spearman rho
        "ml_mannwhitney": q_ml_mannwhitney,
        "ml_spearman": q_ml_spearman,
        # tranche 29 (defs at end of file): edit-distance-1 dedup,
        # KG 2-hop metapath census
        "dd_editdist": q_dd_editdist,
        "kg_metapaths": q_kg_metapaths,
        # tranche 30 (defs at end of file): CUSUM changepoint,
        # event-type Markov transitions
        "ts_cusum": q_ts_cusum,
        "sql_transitions": q_sql_transitions,
        # tranche 31 (defs at end of file): exact binary-decay EWMA,
        # SCD Type-2 history
        "ts_ewma": q_ts_ewma,
        "sql_scd2": q_sql_scd2,
        # tranche 32 (defs at end of file): Jensen-Shannon drift,
        # categorical mutual information
        "ml_jsd": q_ml_jsd,
        "ml_mi": q_ml_mi,
        # tranche 33 (defs at end of file): Kendall tau-b,
        # Poisson-bootstrap CI
        "ml_kendall": q_ml_kendall,
        "ml_bootstrap": q_ml_bootstrap,
        # tranche 34 (defs at end of file): typed KG triangle motifs,
        # gains/lift chart
        "kg_typed_triangles": q_kg_typed_triangles,
        "ml_lift": q_ml_lift,
        # tranche 35 (defs at end of file): Wald-Wolfowitz runs test,
        # 3-step path mining
        "ts_runs": q_ts_runs,
        "sql_pathfunnel": q_sql_pathfunnel,
        # tranche 36 (defs at end of file): Cramer's V, streaming CUSUM
        "ml_cramersv": q_ml_cramersv,
        "stream_cusum": q_stream_cusum,
        # tranche 37 (defs at end of file): cross-corpus dedup, KMV sketch
        "dd_crossdedup": q_dd_crossdedup,
        "sk_kmv": q_sk_kmv,
        # tranche 38 (defs at end of file): streaming KMV fold
        "stream_kmv": q_stream_kmv,
        # tranche 39 (defs at end of file): OOV rate, KG entity PMI
        "ts_oov": q_ts_oov,
        "kg_entity_pmi": q_kg_entity_pmi,
        # tranche 40 (defs at end of file): span-sequence audit, KG WCC
        "mm_audit": q_mm_audit,
        "kg_wcc": q_kg_wcc,
        # tranche 41 (defs at end of file): langid confusion matrix,
        # randomization test
        "ts_langconfusion": q_ts_langconfusion,
        "ml_permtest": q_ml_permtest,
        # tranche 42 (defs at end of file): SRM guard, modality mix
        "ml_srm": q_ml_srm,
        "mm_modality_mix": q_mm_modality_mix,
        # tranche 43: retrieval-eval NDCG, calibration bins, taxonomy
        "ml_ndcg": q_ml_ndcg,
        "ml_calibration": q_ml_calibration,
        "ts_taxonomy": q_ts_taxonomy,
        # tranche 44: interleaved-corpus media accounting
        "mm_caption_stats": q_mm_caption_stats,
        "mm_media_budget": q_mm_media_budget,
        "mm_phash_buckets": q_mm_phash_buckets,
        # tranche 45: streaming x interleaved — incremental alignment
        "stream_align": q_stream_align,
        "stream_transitions": q_stream_transitions,
        # tranche 46: CCNet tiers, KG reltype entropy, length survival
        "ts_ccnet_buckets": q_ts_ccnet_buckets,
        "kg_reltype_entropy": q_kg_reltype_entropy,
        "ts_length_survival": q_ts_length_survival,
        # tranche 47: agreement + paired-test eval stats, per-source dup
        "ml_kappa": q_ml_kappa,
        "ml_mcnemar": q_ml_mcnemar,
        "dd_dup_by_source": q_dd_dup_by_source,
        # tranche 48: interleave granularity, packing waste, power law
        "mm_context_profile": q_mm_context_profile,
        "ts_pack_efficiency": q_ts_pack_efficiency,
        "ml_powerlaw": q_ml_powerlaw,
        # tranche 49: degree Gini, Good-Turing coverage, dup savings
        "kg_degree_gini": q_kg_degree_gini,
        "ts_goodturing": q_ts_goodturing,
        "dd_cluster_hist": q_dd_cluster_hist,
        # tranche 50: KG integrity gate + 2-hop reachability
        "kg_integrity_audit": q_kg_integrity_audit,
        "kg_two_hop": q_kg_two_hop,
        # tranche 51: snapshot growth CDC + streaming media budget
        "kg_snapshot_growth": q_kg_snapshot_growth,
        "mm_stream_budget": q_mm_stream_budget,
        # tranche 52: MIPS top-k + radius search
        "ann_mips": q_ann_mips,
        "ann_range": q_ann_range,
        "g33_pathrecon": q_g33_pathrecon,
        "ann_filtered": q_ann_filtered,
        "g34_betweenness": q_g34_betweenness,
        "g35_matching": q_g35_matching,
        "g36_contract": q_g36_contract,
        "kg_schema": q_kg_schema,
        "ml_woe_iv": q_ml_woe_iv,
        "g37_mis": q_g37_mis,
        "kg_funcviol": q_kg_funcviol,
        "ml_target_enc": q_ml_target_enc,
        "ts_keyness": q_ts_keyness,
        "ts_bigram_next": q_ts_bigram_next,
        "kg_growth": q_kg_growth,
        "link_cosine": q_link_cosine,
        "kg_query_2hop": q_kg_query_2hop,
        # tranche 62 (defs at end of file): RDF interchange export
        "kg_export_nt": q_kg_export_nt,
        "kg_export_nq": q_kg_export_nq,
        # tranche 63 (defs at end of file): SPARQL-style BGP matching,
        # property-path closure, rule inference
        "kg_bgp": q_kg_bgp,
        "kg_pathplus": q_kg_pathplus,
        "kg_infer": q_kg_infer,
        "kg_import_nt": q_kg_import_nt,
        "kg_bgp_optional": q_kg_bgp_optional,
        "layout_edgecut": q_layout_edgecut,
        "g38_lp_eval": q_g38_lp_eval,
        "kg_entity_profile": q_kg_entity_profile,
        "stream_nt": q_stream_nt,
        "kg_bgp_union": q_kg_bgp_union,
        "g39_percolation": q_g39_percolation,
        "ml_silhouette": q_ml_silhouette,
        # tranche 64 (defs at end of file): SPARQL surface completion
        # (FILTER / MINUS / GROUP BY aggregates / ASK / DESCRIBE),
        # SHACL-style shape validation, WL color refinement
        "kg_bgp_filter": q_kg_bgp_filter,
        "kg_bgp_minus": q_kg_bgp_minus,
        "kg_bgp_agg": q_kg_bgp_agg,
        "kg_ask": q_kg_ask,
        "kg_describe": q_kg_describe,
        "kg_shacl": q_kg_shacl,
        "g40_wl": q_g40_wl,
        "kg_rdfs_types": q_kg_rdfs_types,
        "kg_path_alt": q_kg_path_alt,
        "ts_textrank": q_ts_textrank,
        "ml_bcubed": q_ml_bcubed,
        "g42_bipartite": q_g42_bipartite,
        "layout_conductance": q_layout_conductance,
        "ml_kanonymity": q_ml_kanonymity,
        "g45_butterfly": q_g45_butterfly,
        "kg_cardinality": q_kg_cardinality,
        "kg_inverse_detect": q_kg_inverse_detect,
        "kg_rule_mine": q_kg_rule_mine,
        # tranche 70 (defs at end of file): knowledge fusion & completion
        # (noisy-OR extractor fusion, truth discovery, SPARQL CONSTRUCT,
        # PRA features, owl:sameAs CC rewrite, eigenvector centrality,
        # owl:disjointWith audit)
        "kg_fuse": q_kg_fuse,
        "kg_truth": q_kg_truth,
        "kg_construct": q_kg_construct,
        "kg_pra": q_kg_pra,
        "kg_sameas": q_kg_sameas,
        "g41_eigen": q_g41_eigen,
        "kg_disjoint": q_kg_disjoint,
        # tranche 71 (defs at end of file): KG-completion eval, RDF-star
        # fused export, media near-dup resolution
        "kg_embed_rank": q_kg_embed_rank,
        "kg_export_rdfstar": q_kg_export_rdfstar,
        "mm_dedup": q_mm_dedup,
        # tranche 72 (defs at end of file): quantified/negated property
        # paths, density clustering
        "kg_path_quant": q_kg_path_quant,
        "kg_npath": q_kg_npath,
        "ml_dbscan": q_ml_dbscan,
        "stream_fuse": q_stream_fuse,
        "g46_temporal": q_g46_temporal,
        "kg_summary": q_kg_summary,
        "kg_explain": q_kg_explain,
        "kg_vacuum": q_kg_vacuum,
        "stream_cc": q_stream_cc,
        "sk_srcsim": q_sk_srcsim,
        "g47_triads": q_g47_triads,
        "kg_cardest": q_kg_cardest,
        "kg_asof": q_kg_asof,
        "ml_conformal": q_ml_conformal,
        "kg_completeness": q_kg_completeness,
    }


# ---------------------------------------------------------------------------
# DuckDB oracles
# ---------------------------------------------------------------------------

_GAZ_VALUES = ("('spark','technology'),('vector','technology'),"
               "('customer','organization'),('stream','system'),('table','resource')")


def _ktruss_oracle(k: int, rounds: int) -> str:
    """Unrolled k-truss peel (the _kcore_oracle discipline): each round
    recomputes per-edge triangle support via the wedge + closure-edge
    equi-join CTEs and keeps support >= k-2. Valid for the same fixed-point
    reason as k-core — any unroll >= the convergence round count (1 on
    sf0.01 at k=3, checked; 3 rounds of margin here) replays the iterative
    operator exactly. Final projection recomputes support WITHIN the
    converged truss."""
    ctes = ["""e0 AS MATERIALIZED (
              SELECT a, b FROM (
                SELECT x.item AS a, y.item AS b, count(*) AS w
                FROM kept x JOIN kept y ON x.g = y.g AND x.item < y.item
                GROUP BY 1, 2
              ) WHERE w >= 2
            )"""]
    for r in range(1, rounds + 1):
        p = r - 1
        ctes.append(f"""adj{r} AS MATERIALIZED (
              SELECT a AS z, b AS n FROM e{p}
              UNION ALL SELECT b, a FROM e{p}
            )""")
        ctes.append(f"""sup{r} AS MATERIALIZED (
              SELECT w.a, w.b, count(*) AS s FROM (
                SELECT x.n AS a, y.n AS b
                FROM adj{r} x JOIN adj{r} y ON x.z = y.z AND x.n < y.n
              ) w JOIN e{p} e ON w.a = e.a AND w.b = e.b
              GROUP BY 1, 2
            )""")
        ctes.append(f"""e{r} AS MATERIALIZED (
              SELECT a, b FROM sup{r} WHERE s >= {k - 2}
            )""")
    rr = rounds + 1
    ctes.append(f"""adj{rr} AS MATERIALIZED (
              SELECT a AS z, b AS n FROM e{rounds}
              UNION ALL SELECT b, a FROM e{rounds}
            )""")
    ctes.append(f"""sup{rr} AS MATERIALIZED (
              SELECT w.a, w.b, CAST(count(*) AS BIGINT) AS s FROM (
                SELECT x.n AS a, y.n AS b
                FROM adj{rr} x JOIN adj{rr} y ON x.z = y.z AND x.n < y.n
              ) w JOIN e{rounds} e ON w.a = e.a AND w.b = e.b
              GROUP BY 1, 2
            )""")
    return f"""
            WITH gi AS (
              SELECT DISTINCT CAST(l_orderkey AS VARCHAR) AS g,
                              CAST(l_partkey AS VARCHAR) AS item
              FROM lineitem
            ),
            kept AS (
              SELECT g, item FROM (
                SELECT g, item, count(*) OVER (PARTITION BY g) AS sz FROM gi
              ) WHERE sz <= 50
            ),
            {', '.join(ctes)}
            SELECT e.a AS src, e.b AS dst,
                   CAST(coalesce(s, 0) AS BIGINT) AS support
            FROM e{rounds} e LEFT JOIN sup{rr} su
              ON e.a = su.a AND e.b = su.b
        """


def _kcore_oracle(k: int, rounds: int) -> str:
    """Unrolled k-core peel: DuckDB forbids aggregates in a recursive CTE
    term, so the oracle chains ``rounds`` explicit peel rounds. Valid because
    the converged subgraph is a fixed point — any unroll >= the convergence
    round count (6 on sf0.01 at k=80, checked) replays the iterative
    operator exactly."""
    # every CTE is MATERIALIZED: each round references the previous one
    # three times, and DuckDB re-evaluates plain CTEs per reference — an
    # unmaterialized unroll is 3^rounds re-scans of the parquet input
    ctes = ["""e0 AS MATERIALIZED (
              SELECT DISTINCT x.item AS a, y.item AS b
              FROM kept x JOIN kept y ON x.g = y.g AND x.item < y.item
            )"""]
    for r in range(1, rounds + 1):
        p = r - 1
        ctes.append(f"""n{r} AS MATERIALIZED (
              SELECT node FROM (
                SELECT a AS node FROM e{p} UNION ALL SELECT b FROM e{p}
              ) GROUP BY node HAVING count(*) >= {k}
            )""")
        ctes.append(f"""e{r} AS MATERIALIZED (
              SELECT a, b FROM e{p}
              WHERE a IN (SELECT node FROM n{r}) AND b IN (SELECT node FROM n{r})
            )""")
    return f"""
            WITH gi AS (
              SELECT DISTINCT CAST(l_orderkey AS VARCHAR) AS g,
                              CAST(l_partkey AS VARCHAR) AS item
              FROM lineitem
            ),
            kept AS (
              SELECT g, item FROM (
                SELECT g, item, count(*) OVER (PARTITION BY g) AS sz FROM gi
              ) WHERE sz <= 50
            ),
            {', '.join(ctes)}
            SELECT node, CAST(count(*) AS BIGINT) AS core_degree FROM (
              SELECT a AS node FROM e{rounds} UNION ALL SELECT b FROM e{rounds}
            ) GROUP BY node
        """

# shared co-purchase projection prefix (same as the kcore oracle body):
# bipartite (order, part) -> canonical a<b item edges, groups capped at 50
_COPURCHASE_CTES = """gi AS (
              SELECT DISTINCT CAST(l_orderkey AS VARCHAR) AS g,
                              CAST(l_partkey AS VARCHAR) AS item
              FROM lineitem
            ),
            kept AS (
              SELECT g, item FROM (
                SELECT g, item, count(*) OVER (PARTITION BY g) AS sz FROM gi
              ) WHERE sz <= 50
            ),
            e0 AS MATERIALIZED (
              SELECT DISTINCT x.item AS a, y.item AS b
              FROM kept x JOIN kept y ON x.g = y.g AND x.item < y.item
            ),
            sym AS MATERIALIZED (
              SELECT a AS u, b AS v FROM e0 UNION SELECT b, a FROM e0
            )"""


def _bfs_oracle(hops: int) -> str:
    """Unrolled multi-source BFS: frontier_r = (neighbors of d_{r-1}) minus
    settled; exact min-hop because round r reaches exactly the distance-r
    shell. MATERIALIZED for the same re-evaluation reason as _kcore_oracle."""
    ctes = ["""seeds AS MATERIALIZED (
              SELECT node FROM (
                SELECT DISTINCT u AS node FROM sym
              ) ORDER BY sha256(node) LIMIT 3
            )""",
            "d0 AS MATERIALIZED (SELECT node, 0 AS hop FROM seeds)"]
    for r in range(1, hops + 1):
        p = r - 1
        ctes.append(f"""f{r} AS MATERIALIZED (
              SELECT DISTINCT s.v AS node FROM sym s
              JOIN d{p} ON s.u = d{p}.node
              WHERE s.v NOT IN (SELECT node FROM d{p})
            )""")
        ctes.append(f"""d{r} AS MATERIALIZED (
              SELECT node, hop FROM d{p}
              UNION ALL SELECT node, {r} FROM f{r}
            )""")
    return f"""
            WITH {_COPURCHASE_CTES},
            {', '.join(ctes)}
            SELECT node, CAST(hop AS INTEGER) AS hop FROM d{hops}
        """


def _sssp_oracle(rounds: int) -> str:
    """Unrolled Bellman-Ford: round r holds the exact min path cost over
    <= r edges — same fixed-round contract as the Spark operator."""
    ctes = ["""e0w AS MATERIALIZED (
              SELECT x.item AS a, y.item AS b, CAST(count(*) AS BIGINT) AS w
              FROM kept x JOIN kept y ON x.g = y.g AND x.item < y.item
              GROUP BY x.item, y.item
            )""",
            """wsym AS MATERIALIZED (
              SELECT u, v, min(w) AS w FROM (
                SELECT a AS u, b AS v, w FROM e0w
                UNION ALL SELECT b, a, w FROM e0w
              ) GROUP BY u, v
            )""",
            """s0 AS MATERIALIZED (
              SELECT node FROM (SELECT DISTINCT u AS node FROM wsym)
              ORDER BY sha256(node) LIMIT 3
            )""",
            "d0 AS MATERIALIZED (SELECT node, CAST(0 AS BIGINT) AS dist FROM s0)"]
    for r in range(1, rounds + 1):
        p = r - 1
        ctes.append(f"""d{r} AS MATERIALIZED (
              SELECT node, min(dist) AS dist FROM (
                SELECT node, dist FROM d{p}
                UNION ALL
                SELECT s.v AS node, d.dist + s.w AS dist
                FROM wsym s JOIN d{p} d ON s.u = d.node
              ) GROUP BY node
            )""")
    return f"""
            WITH gi AS (
              SELECT DISTINCT CAST(l_orderkey AS VARCHAR) AS g,
                              CAST(l_partkey AS VARCHAR) AS item
              FROM lineitem
            ),
            kept AS (
              SELECT g, item FROM (
                SELECT g, item, count(*) OVER (PARTITION BY g) AS sz FROM gi
              ) WHERE sz <= 50
            ),
            {', '.join(ctes)}
            SELECT node, CAST(dist AS BIGINT) AS dist FROM d{rounds}
        """


def _lpa_oracle(rounds: int) -> str:
    """Unrolled synchronous label propagation: round r recomputes every
    node's label from round r-1's labels (most frequent neighbor label, ties
    to the largest label — the tie-break that makes the per-node top-1 a
    map-side-combinable aggregate on the Spark side) — the fixed round count
    matches the operator exactly, so no fixed-point argument is needed."""
    ctes = ["""l0 AS MATERIALIZED (
              SELECT DISTINCT u AS node, u AS lbl FROM sym
            )"""]
    for r in range(1, rounds + 1):
        p = r - 1
        ctes.append(f"""l{r} AS MATERIALIZED (
              SELECT node, lbl FROM (
                SELECT s.u AS node, l.lbl, count(*) AS cnt,
                       row_number() OVER (
                         PARTITION BY s.u ORDER BY count(*) DESC, l.lbl DESC
                       ) AS rn
                FROM sym s JOIN l{p} l ON s.v = l.node
                GROUP BY s.u, l.lbl
              ) WHERE rn = 1
            )""")
    return f"""
            WITH {_COPURCHASE_CTES},
            {', '.join(ctes)}
            SELECT node, lbl AS community FROM l{rounds}
        """


_ANF_CACHE: dict[str, object] = {}


def _anf_hopplot(spark, sf_dir):
    """The 3-hop ANF hop plot feeds g17_anf and g17_effdiam; one eager
    localCheckpoint per (session, sf_dir) runs the HyperBall rounds once
    (the _copurchase_edges discipline)."""
    from knowledgegraphbuilder_spark.operators.graphstats import anf_hyperball

    key = f"{id(spark)}|{sf_dir}"
    if key not in _ANF_CACHE:
        _ANF_CACHE[key] = anf_hyperball(
            _copurchase_edges(spark, sf_dir), max_hops=3, p=4
        ).localCheckpoint(eager=True)
    return _ANF_CACHE[key]


def q_g17_anf(spark, sf_dir):
    """Approximate neighborhood function / hop plot over the co-purchase
    graph (graphstats.py:anf_hyperball, ANF KDD'02 / HyperBall): per-node
    16-register HLL balls folded by register max per hop; estimates in
    integer micro-units (no float folds, no runtime ln). Oracle = unrolled
    register replay."""
    return _anf_hopplot(spark, sf_dir)


def q_g17_effdiam(spark, sf_dir):
    """Effective diameter from the ANF hop plot (the classic ANF use): the
    smallest hop whose neighborhood mass reaches 90% of the deepest hop's —
    compared in INTEGers (10*anf_micro >= 9*amax), no float thresholds.
    Oracle composes the g17_anf oracle text verbatim."""
    anf = _anf_hopplot(spark, sf_dir)
    mx = anf.filter(F.col("hop") == 3).select(F.col("anf_micro").alias("amax"))
    return (
        anf.crossJoin(F.broadcast(mx))
        .filter(F.lit(10) * F.col("anf_micro") >= F.lit(9) * F.col("amax"))
        .agg(
            F.min("hop").cast("int").alias("eff_diameter"),
            F.first("amax").alias("amax"),
        )
    )


def q_g16_node2vec(spark, sf_dir):
    """node2vec second-order biased walks (graphstats.py:biased_walks,
    Grover & Leskovec 2016), derandomized via integer ticket replication:
    return/BFS/DFS weights (1, 4, 2); oracle = unrolled ticket replay."""
    from knowledgegraphbuilder_spark.operators.graphstats import biased_walks

    edges = _copurchase_edges(spark, sf_dir)
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionAll(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    seeds = nodes.orderBy(F.sha2(F.col("node"), 256)).limit(5)
    return biased_walks(edges, seeds, length=4, ret_w=1, bfs_w=4, dfs_w=2)


def q_g13_walkpairs(spark, sf_dir):
    """Skip-gram (center, context, cnt) pairs from the derandomized walk
    corpus (graphstats.py:skipgram_pairs, window=2) — the DeepWalk ->
    word2vec training-data step; oracle = unrolled walk replay + banded
    step self-join."""
    from knowledgegraphbuilder_spark.operators.graphstats import (
        deterministic_walks, skipgram_pairs,
    )

    edges = _copurchase_edges(spark, sf_dir)
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionAll(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    seeds = nodes.orderBy(F.sha2(F.col("node"), 256)).limit(5)
    walks = deterministic_walks(edges, seeds, length=4)
    return skipgram_pairs(walks, window=2)


def q_kg_negsample(spark, sf_dir):
    """Deterministic filtered negative sampling over the weight>=2
    co-purchase graph (graphstats.py:negative_sample_edges, k=2 tail
    corruptions per edge): sha256-ranked vocabulary pick, true edges (both
    orientations) and self-corruptions dropped."""
    from knowledgegraphbuilder_spark.operators.graphstats import negative_sample_edges

    # min_weight=2 is a pure filter over the shared cached projection
    edges = _copurchase_edges(spark, sf_dir).filter(F.col("weight") >= 2)
    return negative_sample_edges(edges, k=2)


_SPANS_SQL = """d AS (
              SELECT doc_id AS raw_id, 'doc_' || CAST(doc_id AS VARCHAR) AS doc_id,
                     text, string_split(text, ' ') AS ws
              FROM documents
            ),
            kk AS (
              SELECT *, len(ws) AS n, least(1 + raw_id % 3, len(ws)) AS k FROM d
            ),
            b AS (
              SELECT *,
                     [CASE WHEN j = 0 THEN 0
                           WHEN j = k THEN length(text)
                           ELSE length(array_to_string(ws[1:CAST((j * n) // k AS INT)], ' ')) + 1
                      END FOR j IN generate_series(0, k)] AS bl
              FROM kk
            ),
            tsp AS (
              SELECT *,
                     [struct_pack(kind := 'text',
                                  txt := substring(text, bl[j] + 1, bl[j + 1] - bl[j]),
                                  ref := CAST(NULL AS VARCHAR),
                                  off := bl[j])
                      FOR j IN generate_series(1, k)] AS tspans
              FROM b
            ),
            sp AS (
              SELECT doc_id,
                     CASE WHEN raw_id % 10 = 0 THEN
                            tspans[1:1]
                            || [struct_pack(kind := 'image', txt := CAST(NULL AS VARCHAR),
                                            ref := 'media://img/' || doc_id || '/0',
                                            off := bl[2])]
                            || tspans[2:k]
                            || [struct_pack(kind := 'audio', txt := CAST(NULL AS VARCHAR),
                                            ref := 'media://aud/' || doc_id || '/0',
                                            off := length(text))]
                          WHEN raw_id % 5 = 0 THEN
                            tspans[1:1]
                            || [struct_pack(kind := 'image', txt := CAST(NULL AS VARCHAR),
                                            ref := 'media://img/' || doc_id || '/0',
                                            off := bl[2])]
                            || tspans[2:k]
                          ELSE tspans END AS spans
              FROM tsp
            ),
            ex AS (
              SELECT doc_id, unnest(spans) AS s,
                     unnest(generate_series(1, len(spans))) AS p
              FROM sp
            )"""


def _bpe_oracle(rounds: int) -> str:
    """Unrolled BPE replay: per round, the weighted pair count + the
    (cnt desc, a, b) argmax + the greedy run-parity merge — 1-based DuckDB
    lists mirror the 0-based Spark arrays (identical parity arithmetic;
    DuckDB list indexing is NULL-safe out of range, matching Spark's
    get())."""
    ctes = ["""w0 AS MATERIALIZED (
          SELECT word, CAST(count(*) AS BIGINT) AS freq,
                 [substring(word, i, 1)
                  FOR i IN generate_series(1, length(word))] AS s
          FROM (SELECT unnest(string_split(text, ' ')) AS word
                FROM documents)
          WHERE word <> '' GROUP BY word
        )"""]
    for t in range(1, rounds + 1):
        p = t - 1
        ctes.append(f"""p{t} AS (
          SELECT u.a, u.b, CAST(sum(freq) AS BIGINT) AS cnt FROM (
            SELECT freq,
                   unnest([{{'a': s[i], 'b': s[i + 1]}}
                           FOR i IN generate_series(1, len(s) - 1)]) AS u
            FROM w{p}) GROUP BY 1, 2
        )""")
        ctes.append(f"""b{t} AS MATERIALIZED (
          SELECT a, b, cnt FROM p{t} ORDER BY cnt DESC, a, b LIMIT 1
        )""")
        ctes.append(f"""w{t} AS MATERIALIZED (
          SELECT word, freq, list_filter([
              CASE WHEN coalesce(kept[i], false) THEN s[i] || s[i + 1]
                   WHEN coalesce(kept[i - 1], false) THEN NULL
                   ELSE s[i] END
              FOR i IN generate_series(1, len(s))],
            x -> x IS NOT NULL) AS s
          FROM (
            SELECT word, freq, s,
                   [m[i] AND ((i - (coalesce(list_max(
                        [j FOR j IN generate_series(1, i - 1)
                         IF NOT m[j]]), 0) + 1)) % 2 = 0)
                    FOR i IN generate_series(1, len(m))] AS kept
            FROM (
              SELECT word, freq, s,
                     [s[i] = b{t}.a AND s[i + 1] = b{t}.b
                      FOR i IN generate_series(1, len(s) - 1)] AS m
              FROM w{p}, b{t}))
        )""")
    selects = " UNION ALL ".join(
        f"SELECT {t} AS rank, a AS left_sym, b AS right_sym, cnt FROM b{t}"
        for t in range(1, rounds + 1)
    )
    return f"""
            WITH {', '.join(ctes)}
            SELECT CAST(rank AS INTEGER) AS rank, left_sym, right_sym, cnt
            FROM ({selects})
        """


def _skipgram_oracle(length: int, window: int, n_seeds: int = 5) -> str:
    """Skip-gram pair replay: the _walks_oracle unrolled walk corpus, then
    the banded |step-step| <= window self-join and the (center, context)
    count aggregate."""
    walks = _walks_oracle(length, n_seeds)
    return f"""
            WITH walks AS MATERIALIZED ({walks})
            SELECT c.node AS center, x.node AS context,
                   CAST(count(*) AS BIGINT) AS cnt
            FROM walks c JOIN walks x
              ON c.seed = x.seed AND x.step <> c.step
             AND abs(x.step - c.step) <= {int(window)}
            GROUP BY 1, 2
        """


def _negsample_oracle(k: int) -> str:
    """Filtered tail-corruption replay: sha256-ranked vocabulary pick over
    the weight>=2 co-purchase graph, self/true-pair (both orientations)
    candidates dropped — byte-for-byte the negative_sample_edges plan."""
    return f"""
            WITH {_COPURCHASE_CTES},
            e2 AS (
              SELECT a, b FROM (
                SELECT x.item AS a, y.item AS b, count(*) AS w
                FROM kept x JOIN kept y ON x.g = y.g AND x.item < y.item
                GROUP BY 1, 2
              ) WHERE w >= 2
            ),
            nodes AS (
              SELECT DISTINCT node FROM (
                SELECT a AS node FROM e2 UNION ALL SELECT b FROM e2)
            ),
            vocab AS (
              SELECT node, row_number() OVER (ORDER BY node) - 1 AS rank
              FROM nodes
            ),
            cand AS (
              SELECT e2.a AS src, e2.b AS dst, t.i,
                     ('0x' || substr(sha256(e2.a || '|' || e2.b || '|'
                       || CAST(t.i AS VARCHAR)), 1, 15))::BIGINT
                       % (SELECT count(*) FROM nodes) AS rank
              FROM e2 CROSS JOIN generate_series(0, {int(k) - 1}) t(i)
            ),
            picked AS (
              SELECT c.src, v.node AS dst_neg, c.i
              FROM cand c JOIN vocab v USING (rank)
              WHERE v.node <> c.src
            ),
            true_pairs AS (
              SELECT a AS src, b AS dst_neg FROM e2
              UNION SELECT b, a FROM e2
            )
            SELECT p.src, p.dst_neg, CAST(p.i AS INTEGER) AS sample_idx
            FROM picked p
            LEFT JOIN true_pairs tp
              ON p.src = tp.src AND p.dst_neg = tp.dst_neg
            WHERE tp.src IS NULL
        """


def _harmonic_oracle(hops: int, n_seeds: int = 3) -> str:
    """Seed-keyed BFS unroll (the _bfs_oracle shape with a seed column) +
    the integer harmonic sum: 10^6 // hop floors identically to Spark's
    div on positive ints."""
    ctes = [f"""s0 AS MATERIALIZED (
              SELECT node FROM (SELECT DISTINCT u AS node FROM sym)
              ORDER BY sha256(node) LIMIT {n_seeds}
            )""",
            "d0 AS MATERIALIZED (SELECT node AS seed, node, 0 AS hop FROM s0)"]
    for r in range(1, hops + 1):
        p = r - 1
        ctes.append(f"""f{r} AS MATERIALIZED (
              SELECT DISTINCT d.seed, s.v AS node
              FROM sym s JOIN d{p} d ON s.u = d.node
              WHERE NOT EXISTS (SELECT 1 FROM d{p} x
                                WHERE x.seed = d.seed AND x.node = s.v)
            )""")
        ctes.append(f"""d{r} AS MATERIALIZED (
              SELECT seed, node, hop FROM d{p}
              UNION ALL SELECT seed, node, {r} FROM f{r}
            )""")
    return f"""
            WITH {_COPURCHASE_CTES},
            {', '.join(ctes)}
            SELECT seed, CAST(count(*) AS BIGINT) AS n_reached,
                   CAST(sum(1000000 // hop) AS BIGINT) AS harmonic_units
            FROM d{hops} WHERE hop > 0 GROUP BY seed
        """


def _walks_oracle(length: int, n_seeds: int = 5) -> str:
    """Unrolled derandomized walks: step t picks the neighbor minimizing
    sha256(seed|t|cur|nbr) — row_number over (hash, nbr) replays Spark's
    min(struct(hash, nbr)) exactly."""
    ctes = [f"""s0 AS MATERIALIZED (
              SELECT node FROM (SELECT DISTINCT u AS node FROM sym)
              ORDER BY sha256(node) LIMIT {n_seeds}
            )""",
            "w0 AS MATERIALIZED (SELECT node AS seed, node FROM s0)"]
    for t in range(1, length + 1):
        p = t - 1
        ctes.append(f"""w{t} AS MATERIALIZED (
              SELECT seed, node FROM (
                SELECT c.seed, s.v AS node,
                       row_number() OVER (
                         PARTITION BY c.seed
                         ORDER BY sha256(c.seed || '|{t}|' || s.u || '|' || s.v), s.v
                       ) AS rn
                FROM sym s JOIN w{p} c ON s.u = c.node
              ) WHERE rn = 1
            )""")
    selects = " UNION ALL ".join(
        f"SELECT seed, {t} AS step, node FROM w{t}" for t in range(0, length + 1)
    )
    return f"""
            WITH {_COPURCHASE_CTES},
            {', '.join(ctes)}
            SELECT seed, CAST(step AS INTEGER) AS step, node FROM ({selects})
        """


def _anf_oracle(max_hops: int = 3, p: int = 4) -> str:
    """Unrolled ANF/HyperBall replay: sha256 per-node registers, hop h =
    (node, idx) register max over neighbors ∪ self, per-node estimates in
    INTEGER micro-units (one BIGINT floor-division for the raw branch —
    DuckDB // floors, Spark div truncates, identical on positives — and
    Python-precomputed literals for the linear-counting branch, so no
    runtime ln() on either engine), per-hop BIGINT sums."""
    import math

    m = 1 << p
    w_bits = 28
    rho_max = w_bits + 1
    wmask = (1 << w_bits) - 1
    alpha = {16: 0.673, 32: 0.697, 64: 0.709}.get(m, 0.7213 / (1.0 + 1.079 / m))
    c_micro = round(alpha * m * m * (1 << rho_max) * 1e6)
    lc_case = "CASE " + " ".join(
        f"WHEN v_empty = {v} THEN {round(m * math.log(m / v) * 1e6)}"
        for v in range(1, m)
    ) + " END"
    ctes = [f"""r0 AS MATERIALIZED (
              SELECT node, hv & {m - 1} AS idx,
                     CASE WHEN ((hv >> {p}) & {wmask}) = 0 THEN {rho_max}
                          ELSE {rho_max} - length(bin((hv >> {p}) & {wmask}))
                     END AS maxr
              FROM (SELECT node,
                           ('0x' || substr(sha256(node), 1, 15))::BIGINT AS hv
                    FROM (SELECT DISTINCT u AS node FROM sym))
            )"""]
    for h in range(1, max_hops + 1):
        ctes.append(f"""r{h} AS MATERIALIZED (
              SELECT node, idx, max(maxr) AS maxr FROM (
                SELECT s.u AS node, r.idx, r.maxr
                FROM sym s JOIN r{h - 1} r ON r.node = s.v
                UNION ALL SELECT node, idx, maxr FROM r{h - 1}
              ) GROUP BY node, idx
            )""")
    for h in range(0, max_hops + 1):
        ctes.append(f"""est{h} AS (
              SELECT {h} AS hop, CAST(count(*) AS BIGINT) AS n_nodes,
                     CAST(sum(est_micro) AS BIGINT) AS anf_micro
              FROM (
                SELECT CASE WHEN {c_micro} <= {int(2.5 * m * 1e6)} * s_int
                                 AND v_empty > 0
                            THEN {lc_case}
                            ELSE {c_micro} // s_int END AS est_micro
                FROM (
                  SELECT CAST(sum(1::BIGINT << ({rho_max} - maxr)) AS BIGINT)
                         + ({m} - count(*)) * {1 << rho_max} AS s_int,
                         {m} - count(*) AS v_empty
                  FROM r{h} GROUP BY node
                )
              )
            )""")
    selects = " UNION ALL ".join(
        f"SELECT * FROM est{h}" for h in range(0, max_hops + 1)
    )
    return f"""
            WITH {_COPURCHASE_CTES},
            {', '.join(ctes)}
            SELECT CAST(hop AS INTEGER) AS hop, n_nodes, anf_micro,
                   round(anf_micro / 1000000.0, 4) AS anf
            FROM ({selects})
        """


def _node2vec_oracle(
    length: int, ret_w: int = 1, bfs_w: int = 4, dfs_w: int = 2, n_seeds: int = 5
) -> str:
    """Unrolled biased (node2vec) walks: step 1 is the uniform first-order
    choice; step t>=2 weights each neighbor by its node2vec class (return /
    distance-1 / distance-2) as INTEGER ticket counts, and row_number over
    (sha256(seed|t|cur|v|i), v) across all tickets replays Spark's
    min(struct) exactly. The correlated ticket fan-out uses the
    list-comprehension + UNNEST-in-SELECT pattern (correlated
    generate_series in FROM is unsupported)."""
    ctes = [f"""s0 AS MATERIALIZED (
              SELECT node FROM (SELECT DISTINCT u AS node FROM sym)
              ORDER BY sha256(node) LIMIT {n_seeds}
            )""",
            """v1 AS MATERIALIZED (
              SELECT seed, prev, node FROM (
                SELECT c.node AS seed, s.u AS prev, s.v AS node,
                       row_number() OVER (
                         PARTITION BY c.node
                         ORDER BY sha256(c.node || '|1|' || s.u || '|' || s.v || '|1'), s.v
                       ) AS rn
                FROM sym s JOIN s0 c ON s.u = c.node
              ) WHERE rn = 1
            )"""]
    for t in range(2, length + 1):
        p = t - 1
        ctes.append(f"""c{t} AS (
              SELECT s.seed, s.node AS cur, sym.v,
                     CASE WHEN sym.v = s.prev THEN {ret_w}
                          WHEN pe.v IS NOT NULL THEN {bfs_w}
                          ELSE {dfs_w} END AS w
              FROM v{p} s
              JOIN sym ON sym.u = s.node
              LEFT JOIN sym pe ON pe.u = s.prev AND pe.v = sym.v
            )""")
        ctes.append(f"""k{t} AS (
              SELECT seed, cur, v,
                     UNNEST([i FOR i IN generate_series(1, w)]) AS i
              FROM c{t}
            )""")
        ctes.append(f"""v{t} AS MATERIALIZED (
              SELECT seed, prev, node FROM (
                SELECT seed, cur AS prev, v AS node,
                       row_number() OVER (
                         PARTITION BY seed
                         ORDER BY sha256(seed || '|{t}|' || cur || '|' || v
                                         || '|' || CAST(i AS VARCHAR)), v
                       ) AS rn
                FROM k{t}
              ) WHERE rn = 1
            )""")
    selects = " UNION ALL ".join(
        [f"SELECT node AS seed, 0 AS step, node FROM s0"]
        + [f"SELECT seed, {t} AS step, node FROM v{t}" for t in range(1, length + 1)]
    )
    return f"""
            WITH {_COPURCHASE_CTES},
            {', '.join(ctes)}
            SELECT seed, CAST(step AS INTEGER) AS step, node FROM ({selects})
        """


# words of every doc with char offsets + gazetteer mentions, as a reusable CTE
_KG_CTE = f"""
base AS (
  SELECT 'doc_' || CAST(doc_id AS VARCHAR) AS doc_id, text, string_split(text, ' ') AS ws
  FROM documents
),
words AS (
  SELECT doc_id,
         CAST(u.i AS INTEGER) AS word_idx,
         u.w AS word,
         CAST(u.o AS INTEGER) AS start
  FROM (
    SELECT doc_id,
           UNNEST([{{'i': i - 1, 'w': ws[i],
                    'o': CASE WHEN i = 1 THEN 0
                         ELSE length(array_to_string(ws[1:i-1], ' ')) + 1 END}}
                   FOR i IN generate_series(1, len(ws))]) AS u
    FROM base)
),
gaz(word, label) AS (VALUES {_GAZ_VALUES}),
mentions AS (
  SELECT w.doc_id, w.start,
         CAST(w.start + length(w.word) AS INTEGER) AS "end",
         g.label, w.word AS text, w.word_idx
  FROM words w JOIN gaz g ON w.word = g.word
),
mentions_id AS (
  SELECT sha256(concat_ws(chr(31), 'mention', doc_id, CAST(start AS VARCHAR),
                          CAST("end" AS VARCHAR), label)) AS mention_id,
         m.*
  FROM mentions m
)
"""

# adjacent mention pairs co-contained in an RE chunk (300 words / stride 270,
# strict last-word exclusion), resolved to representative mentions
_REL_CTE = _KG_CTE + """
, doc_n AS (SELECT doc_id, len(ws) AS n FROM base),
ment_ord AS (
  SELECT m.*, row_number() OVER (PARTITION BY doc_id ORDER BY start) AS rn
  FROM mentions_id m
),
adj AS (
  SELECT a.doc_id, a.word_idx AS wa, b.word_idx AS wb,
         a.label AS la, a.text AS ta, b.label AS lb, b.text AS tb
  FROM ment_ord a
  JOIN ment_ord b ON a.doc_id = b.doc_id AND b.rn = a.rn + 1
),
chunked AS (
  SELECT adj.*, n,
    LEAST(270 * CAST(floor(wa / 270.0) AS BIGINT),
          CASE WHEN n <= 300 THEN 0
               ELSE 270 * CAST(ceil((n - 300) / 270.0) AS BIGINT) END) AS s
  FROM adj JOIN doc_n USING (doc_id)
),
valid AS (
  SELECT * FROM chunked
  WHERE wa >= s AND wa < s + LEAST(300, n - s) - 1 AND wb < s + LEAST(300, n - s) - 1
),
rep AS (
  SELECT doc_id, label, text, min(start) AS rstart,
         min(start) + length(text) AS rend
  FROM mentions GROUP BY doc_id, label, text
),
repid AS (
  SELECT doc_id, label, text,
         sha256(concat_ws(chr(31), 'mention', doc_id, CAST(rstart AS VARCHAR),
                          CAST(rend AS VARCHAR), label)) AS mid
  FROM rep
),
rels AS (
  SELECT DISTINCT v.doc_id,
         h.mid AS head_mention_id, t.mid AS tail_mention_id,
         v.la || '_near_' || v.lb AS rel_type,
         v.ta || ' (' || v.la || ') co-occurs with ' || v.tb || ' (' || v.lb || ')' AS description,
         v.ta AS head_text, v.tb AS tail_text
  FROM valid v
  JOIN repid h ON h.doc_id = v.doc_id AND h.label = v.la AND h.text = v.ta
  JOIN repid t ON t.doc_id = v.doc_id AND t.label = v.lb AND t.text = v.tb
),
rels_id AS (
  SELECT sha256(concat_ws(chr(31), 'relation', doc_id, head_mention_id, rel_type,
                          tail_mention_id)) AS relation_id, r.*
  FROM rels r
)
"""

_NODES_CTE = _KG_CTE + """
, nodes AS (
  SELECT text, CAST(count(*) AS BIGINT) AS n_mentions,
         array_to_string(list_sort(list(mention_id)), ',') AS mention_ids_csv
  FROM mentions_id GROUP BY text
),
nodes_id AS (
  SELECT sha256(concat_ws(chr(31), 'node', text)) AS node_id, n.* FROM nodes n
)
"""

_SHINGLE_CTE = """
sh AS (
  SELECT CAST(doc_id AS VARCHAR) AS id,
         list_distinct([array_to_string(ws[i+1:i+3], ' ')
                        FOR i IN range(0, greatest(len(ws) - 3, 0) + 1)]) AS s
  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
  WHERE len(ws) > 0
),
inv AS (SELECT id, UNNEST(s) AS g FROM sh),
sz AS (SELECT id, len(s) AS n FROM sh),
jpairs AS (
  SELECT a.id AS id_a, b.id AS id_b, count(*) AS i
  FROM inv a JOIN inv b ON a.g = b.g AND a.id < b.id
  GROUP BY a.id, b.id
),
jacc AS (
  SELECT id_a, id_b, round(i * 1.0 / (x.n + y.n - i), 6) AS jaccard
  FROM jpairs JOIN sz x ON x.id = id_a JOIN sz y ON y.id = id_b
)
"""

_JACCARD_09 = f"WITH {_SHINGLE_CTE} SELECT id_a, id_b, jaccard FROM jacc WHERE jaccard >= 0.9"


def _ppr_recursive(n_iter: int, damping: float = 0.85) -> str:
    """Recursive-CTE weighted personalized PageRank — the exact update rule of
    operators/pagerank.py (symmetrized edges, out-weight-normalized
    transitions, dangling mass redistributed via the personalization vector),
    validated against the numpy reference to 1e-16. Expects CTEs
    ``raw(s, t2, w)`` (directed weighted edges) and ``srcs(v)`` (source
    vertices); produces ``ranks(v, score)`` after ``n_iter`` iterations."""
    return f"""
sym AS (SELECT s, t2, w FROM raw UNION ALL SELECT t2, s, w FROM raw),
-- MATERIALIZED: every CTE referenced from the recursive term is otherwise
-- re-inlined (and its whole upstream chain re-evaluated) once PER ITERATION
e AS MATERIALIZED (SELECT s AS src, t2 AS dst, sum(w) AS w FROM sym GROUP BY s, t2),
ow AS (SELECT src, sum(w) AS tot FROM e GROUP BY src),
et AS MATERIALIZED (SELECT e.src, e.dst, e.w / ow.tot AS tw FROM e JOIN ow USING (src)),
pverts AS (SELECT DISTINCT v FROM
           (SELECT src AS v FROM e UNION SELECT dst FROM e UNION SELECT v FROM srcs)),
ns AS (SELECT count(*) AS n FROM srcs),
pers AS MATERIALIZED (
  SELECT pverts.v, CASE WHEN srcs.v IS NOT NULL THEN 1.0 / ns.n ELSE 0.0 END AS p
  FROM pverts LEFT JOIN srcs ON srcs.v = pverts.v CROSS JOIN ns
),
r(i, v, score) AS (
  SELECT 0, v, p FROM pers
  UNION ALL
  SELECT cur.i + 1, pers.v,
         (1.0 - {damping}) * pers.p + {damping} * (coalesce(infl.x, 0.0) + dang.m * pers.p)
  FROM pers
  CROSS JOIN (SELECT max(i) AS i FROM r) cur
  LEFT JOIN (SELECT et.dst AS v, sum(r.score * et.tw) AS x
             FROM r JOIN et ON et.src = r.v GROUP BY et.dst) infl ON infl.v = pers.v
  CROSS JOIN (SELECT coalesce(sum(score), 0.0) AS m FROM r
              WHERE v NOT IN (SELECT src FROM e)) dang
  WHERE cur.i < {n_iter}
),
ranks AS (SELECT v, score FROM r WHERE i = {n_iter})
"""


# trigram feature-hash embedding (retrieval.py:hash_embed_text) in SQL:
# bucket = h % 64 and sign = (h >> 8) % 2 need only the last hex chars of the
# first 8 sha256 bytes — chars 15-16 (low byte) and 13-14 (next byte up)
_EMBED_FEAT_CTE = """
tri AS (
  SELECT txt, is_q,
         UNNEST([substr('^' || txt || '$', i, 3)
                 FOR i IN generate_series(1, length(txt))]) AS tri
  FROM alltxt
),
feat AS (
  SELECT txt, is_q,
         ('0x' || substr(sha256(tri), 15, 2))::INT % 64 AS bucket,
         CASE WHEN ('0x' || substr(sha256(tri), 13, 2))::INT % 2 = 0
              THEN 1.0 ELSE -1.0 END AS sgn
  FROM tri
),
vec0 AS (
  SELECT txt, is_q, bucket, CAST(sum(sgn) AS DOUBLE) AS val
  FROM feat GROUP BY txt, is_q, bucket
),
nrm0 AS (SELECT txt, is_q, sqrt(sum(val * val)) AS n FROM vec0 GROUP BY txt, is_q),
-- document vectors are stored float32 (ArrayType(FloatType)); the query
-- vector stays float64 (literal doubles in the Spark plan) — replicate both
vec AS (
  SELECT v.txt, v.is_q, v.bucket,
         CASE WHEN v.is_q = 1 THEN v.val / nrm0.n
              ELSE CAST(CAST(v.val / nrm0.n AS REAL) AS DOUBLE) END AS val
  FROM vec0 v JOIN nrm0 USING (txt, is_q)
)
"""

_PLANES_CTE = """
planes AS (
  SELECT t, b, d,
         ('0x' || substr(sha256('42,' || t || ',' || b || ',' || d), 1, 8))::BIGINT
           / 4294967296.0 - 0.5 AS w
  FROM generate_series(0, 7) ts(t),
       generate_series(0, 3) bs(b),
       generate_series(0, 63) ds(d)
)
"""

_LANG_CASES = {
    "de": ("der", "die", "das", "und", "ist"),
    "en": ("the", "a", "of", "and", "is"),
    "es": ("el", "la", "de", "y", "es"),
    "fr": ("le", "la", "de", "et", "est"),
}


def _hits(lang: str) -> str:
    lst = ", ".join(f"'{w}'" for w in _LANG_CASES[lang])
    return f"len(list_filter(ws, w -> list_contains([{lst}], w)))"


def _corr_oracle_sql(cols: dict[str, str], table: str) -> str:
    """DuckDB replay of mlstats.corr_matrix: the same sorted-name pair
    loop over the same HUGEINT sufficient statistics, one stats row, six
    projected correlations (pair order restored by the gate's sort)."""
    names = sorted(cols)
    sel = ", ".join(f"{cols[c]} AS {c}" for c in names)
    aggs = ["CAST(count(*) AS HUGEINT) AS n"]
    for i, a in enumerate(names):
        aggs.append(f"sum({a}) AS s_{a}")
        for b in names[i:]:
            aggs.append(f"sum({a} * {b}) AS s_{a}_{b}")
    outs = []
    for i, a in enumerate(names):
        for b in names[i + 1:]:
            num = f"CAST(n * s_{a}_{b} - s_{a} * s_{b} AS DOUBLE)"
            va = f"CAST(n * s_{a}_{a} - s_{a} * s_{a} AS DOUBLE)"
            vb = f"CAST(n * s_{b}_{b} - s_{b} * s_{b} AS DOUBLE)"
            outs.append(
                f"SELECT '{a}' AS col_a, '{b}' AS col_b, "
                f"round(CASE WHEN {va} > 0 AND {vb} > 0 THEN "
                f"{num} / (sqrt({va}) * sqrt({vb})) ELSE 0.0 END, 6) "
                f"AS corr FROM s"
            )
    return (
        f"WITH d AS (SELECT {sel} FROM {table}), "
        f"s AS (SELECT {', '.join(aggs)} FROM d) "
        + " UNION ALL ".join(outs)
    )


def oracle_sql() -> dict[str, str]:
    qstop = ", ".join(f"'{w}'" for w in ts.QUALITY_STOPWORDS)
    o = {
        "kg_s1_flatten": """
            SELECT 'doc_' || CAST(doc_id AS VARCHAR) AS doc_id, text,
                   CASE WHEN doc_id % 10 = 0 THEN 2
                        WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END AS n_media
            FROM documents
        """,
        "kg_u2_mentions": f"""
            WITH {_KG_CTE}
            SELECT mention_id, doc_id, start, "end", label, text, word_idx
            FROM mentions_id
        """,
        "kg_u3_labels": f"""
            WITH sampled AS (
              SELECT 'doc_' || CAST(doc_id AS VARCHAR) AS doc_id, text
              FROM documents
              ORDER BY sha256('doc_' || CAST(doc_id AS VARCHAR)) LIMIT 15
            ),
            w AS (SELECT UNNEST(string_split(text, ' ')) AS word FROM sampled),
            gaz(word, label) AS (VALUES {_GAZ_VALUES})
            SELECT DISTINCT g.label FROM w JOIN gaz g ON w.word = g.word ORDER BY label
        """,
        "kg_u4_relations": f"""
            WITH {_REL_CTE}
            SELECT relation_id, doc_id, head_mention_id, tail_mention_id, rel_type, description
            FROM rels_id
        """,
        "kg_a1_nodes": f"""
            WITH {_NODES_CTE}
            SELECT node_id, text, n_mentions, mention_ids_csv FROM nodes_id
        """,
        "kg_j2_edges": f"""
            WITH {_REL_CTE},
            nodes AS (SELECT DISTINCT text FROM mentions),
            nid AS (SELECT text, sha256(concat_ws(chr(31), 'node', text)) AS node_id FROM nodes)
            SELECT r.relation_id AS edge_id, h.node_id AS head_node_id,
                   t.node_id AS tail_node_id, r.rel_type, r.doc_id
            FROM rels_id r
            JOIN nid h ON h.text = r.head_text
            JOIN nid t ON t.text = r.tail_text
        """,
        "kg_triples": f"""
            WITH {_REL_CTE}
            SELECT head_text AS subj, rel_type AS pred, tail_text AS obj, doc_id
            FROM rels_id
        """,
        # the sinked-and-re-read graph must re-derive the same triples
        "kg_sink_roundtrip": f"""
            WITH {_REL_CTE}
            SELECT head_text AS subj, rel_type AS pred, tail_text AS obj, doc_id
            FROM rels_id
        """,
        # the diff of (full, sha-even subset) is exactly the sha-odd rows
        "kg_snapshot_diff": f"""
            WITH {_REL_CTE}
            SELECT 'removed' AS op, head_text AS subj, rel_type AS pred,
                   tail_text AS obj, doc_id
            FROM rels_id
            WHERE ('0x' || substr(sha256(head_text), 1, 15))::BIGINT % 2 = 1
        """,
        # one doc per file named t<doc_id>; id = 'doc_' + filename
        "src_txt": """
            SELECT 'doc_t' || CAST(doc_id AS VARCHAR) AS doc_id, text
            FROM documents WHERE doc_id < 10
        """,
        # replay the deterministic numbering: files are doc_id thirds (file
        # order b0 < b1 < b2), within-file rank by sha256(text); JSON
        # round-trip escapes are invisible because text comes back verbatim
        "src_jsonl": """
            WITH d AS (
              SELECT CAST(doc_id AS BIGINT) AS orig_id, text,
                     (SELECT max(CAST(doc_id AS BIGINT)) FROM documents) AS n
              FROM documents
            ),
            f AS (
              SELECT text,
                     CASE WHEN orig_id < n // 3 THEN 0
                          WHEN orig_id < (2 * n) // 3 THEN 1
                          ELSE 2 END AS file
              FROM d
            ),
            ranked AS (
              SELECT text, file,
                     row_number() OVER (PARTITION BY file
                                        ORDER BY sha256(text)) - 1 AS rn
              FROM f
            ),
            offs AS (
              SELECT file, count(*) AS cnt FROM ranked GROUP BY file
            ),
            cum AS (
              SELECT file,
                     coalesce(sum(cnt) OVER (ORDER BY file
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                       0) AS off
              FROM offs
            )
            SELECT 'doc_' || CAST(r.rn + c.off AS VARCHAR) AS doc_id, r.text
            FROM ranked r JOIN cum c USING (file)
        """,
        # time travel to snapshot 1 is immune to the later corrupting commit
        "kg_snapshot_timetravel": f"""
            WITH {_REL_CTE}
            SELECT head_text AS subj, rel_type AS pred, tail_text AS obj, doc_id
            FROM rels_id
        """,
        "kg_provenance": f"""
            WITH {_REL_CTE}
            SELECT relation_id AS triple_id, head_text AS subj, rel_type AS pred,
                   tail_text AS obj, doc_id, head_mention_id, tail_mention_id,
                   's5_relations' AS stage
            FROM rels_id
        """,
        "kg_p1_chunk_entities": f"""
            WITH {_KG_CTE},
            doc_n AS (SELECT doc_id, len(ws) AS n FROM base),
            chunks AS (
              SELECT doc_id, n,
                     UNNEST([270 * j FOR j IN generate_series(0,
                        CASE WHEN n <= 300 THEN 0
                             ELSE CAST(ceil((n - 300) / 270.0) AS BIGINT) END)]) AS s
              FROM doc_n
            )
            SELECT c.doc_id, CAST(c.s / 270 AS INTEGER) AS chunk_idx,
                   CAST(count(*) AS BIGINT) AS n_entities
            FROM chunks c
            JOIN mentions m ON m.doc_id = c.doc_id
                 AND m.word_idx >= c.s
                 AND m.word_idx < c.s + LEAST(300, c.n - c.s) - 1
            GROUP BY c.doc_id, c.s
            HAVING count(*) >= 2
        """,
        "kg_a5_docweight": f"""
            WITH {_KG_CTE},
            cnt AS (SELECT text, CAST(count(*) AS BIGINT) AS n_mentions FROM mentions GROUP BY text)
            SELECT m.doc_id, CAST(SUM(c.n_mentions) AS BIGINT) AS weight
            FROM mentions m JOIN cnt c ON c.text = m.text
            GROUP BY m.doc_id
        """,
        "kg_t3_topdocs": f"""
            WITH {_KG_CTE},
            cnt AS (SELECT text, CAST(count(*) AS BIGINT) AS n_mentions FROM mentions GROUP BY text),
            w AS (
              SELECT m.doc_id, CAST(SUM(c.n_mentions) AS BIGINT) AS weight
              FROM mentions m JOIN cnt c ON c.text = m.text GROUP BY m.doc_id
            )
            SELECT doc_id, weight FROM w ORDER BY weight DESC, doc_id LIMIT 5
        """,
        "kg_t1_sample": """
            SELECT 'doc_' || CAST(doc_id AS VARCHAR) AS doc_id
            FROM documents
            ORDER BY sha256('doc_' || CAST(doc_id AS VARCHAR)) LIMIT 15
        """,
        "kg_f8_sanitize": f"""
            WITH {_REL_CTE}
            SELECT DISTINCT rel_type,
                   upper(replace(replace(rel_type, ' ', '_'), '-', '_')) AS rel_type_neo4j
            FROM rels_id
        """,
        "kg_f9_strip_think": """
            SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                   trim(regexp_replace('<think>reasoning about ' || text || chr(10) ||
                        'more</think>' || 'Answer: ' || lang,
                        '<think>.*?</think>', '', 's')) AS answer
            FROM documents
        """,
        "dd_exact": """
            WITH aug AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 10000000, text FROM documents WHERE doc_id % 50 = 0
            )
            SELECT sha256(text) AS text_hash, CAST(count(*) AS BIGINT) AS n_docs,
                   array_to_string(list_sort(list(CAST(doc_id AS VARCHAR))), ',') AS doc_ids_csv
            FROM aug GROUP BY sha256(text) HAVING count(*) > 1
        """,
        "dd_ngram_jaccard": _JACCARD_09,
        # directed containment over docs + planted snippets: i / |A|
        "dd_contain": """
            WITH docs2 AS (
              SELECT CAST(doc_id AS BIGINT) AS doc_id, text FROM documents
              UNION ALL
              SELECT CAST(doc_id AS BIGINT) + 20000000,
                     array_to_string(string_split(text, ' ')[1:25], ' ')
              FROM documents WHERE doc_id % 40 = 0
            ),
            sh AS (
              SELECT CAST(doc_id AS VARCHAR) AS id,
                     list_distinct([array_to_string(ws[i+1:i+3], ' ')
                        FOR i IN range(0, greatest(len(ws) - 3, 0) + 1)]) AS s
              FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM docs2)
              WHERE len(ws) > 0
            ),
            inv AS (SELECT id, UNNEST(s) AS g FROM sh),
            sz AS (SELECT id, len(s) AS n FROM sh),
            cpairs AS (
              SELECT a.id AS id_a, b.id AS id_b, count(*) AS i
              FROM inv a JOIN inv b ON a.g = b.g AND a.id <> b.id
              GROUP BY 1, 2
            )
            SELECT id_a, id_b, round(i * 1.0 / x.n, 6) AS containment
            FROM cpairs JOIN sz x ON x.id = id_a
            WHERE round(i * 1.0 / x.n, 6) >= 0.9
        """,
        "dd_minhash_lsh": _JACCARD_09,
        # exact all-pairs Hamming join over the same 60-bit sha256-based
        # simhash; the Spark side's pigeonhole banding (n_blocks > max_hamming)
        # is complete, so the two sets are equal, not just approximately so
        "dd_simhash": """
            WITH t AS (
              SELECT CAST(doc_id AS VARCHAR) AS id,
                     [('0x' || substr(sha256(w), 1, 15))::BIGINT
                      FOR w IN string_split(text, ' ')] AS hs
              FROM documents
            ),
            sh AS (
              SELECT id,
                     list_sum([CASE WHEN list_sum([CASE WHEN (h >> b) & 1 = 1
                                                   THEN 1 ELSE -1 END FOR h IN hs]) > 0
                               THEN (1::BIGINT << b) ELSE 0::BIGINT END
                               FOR b IN generate_series(0, 59)]) AS sim
              FROM t
            )
            SELECT a.id AS id_a, b.id AS id_b,
                   CAST(bit_count(xor(a.sim, b.sim)) AS INT) AS hamming
            FROM sh a JOIN sh b ON a.id < b.id
            WHERE bit_count(xor(a.sim, b.sim)) <= 3
        """,
        # byte-level stats of the deterministic sha256-seeded fake payloads:
        # payload(ref) = sha256(ref) digest repeated, truncated to
        # 256 + digest[0] bytes (operators/multimodal.py:_fake_payload) — so
        # counts = full_copies * digest_counts + prefix_counts, all in SQL
        "mm_features": """
            WITH refs AS (
              SELECT 'media://img/doc_' || CAST(doc_id AS VARCHAR) || '/0' AS media_ref,
                     'image' AS media_type
              FROM documents WHERE doc_id % 5 = 0
              UNION ALL
              SELECT 'media://aud/doc_' || CAST(doc_id AS VARCHAR) || '/0', 'audio'
              FROM documents WHERE doc_id % 10 = 0
            ),
            b AS (
              SELECT media_ref, media_type,
                     [('0x' || substr(sha256(media_ref), 2 * i + 1, 2))::INT
                      FOR i IN generate_series(0, 31)] AS bytes
              FROM refs
            ),
            s AS (
              SELECT media_ref, media_type, bytes,
                     256 + bytes[1] AS size,
                     8 + bytes[1] // 32 AS copies,
                     bytes[1] % 32 AS rem
              FROM b
            ),
            u AS (
              SELECT media_ref, media_type, size, copies, rem,
                     UNNEST([{'v': bytes[i], 'i': i}
                             FOR i IN generate_series(1, 32)]) AS e
              FROM s
            ),
            cnt AS (
              SELECT media_ref, media_type, size,
                     any_value(copies) * count(*)
                       + count(*) FILTER (WHERE e.i <= rem) AS c,
                     e.v AS v
              FROM u GROUP BY media_ref, media_type, size, e.v
            ),
            stat AS (
              SELECT media_ref, media_type, size,
                     sum(v * c) AS bsum,
                     -sum((CAST(c AS DOUBLE) / size) * log2(CAST(c AS DOUBLE) / size)) AS ent
              FROM cnt GROUP BY media_ref, media_type, size
            )
            SELECT media_ref, media_type, CAST(size AS BIGINT) AS n_bytes,
                   round(CAST(bsum AS DOUBLE) / size, 6) AS byte_mean,
                   round(ent, 6) AS byte_entropy
            FROM stat
        """,
        "dd_embed_cosine": """
            WITH v AS (
              SELECT CAST(vec_id AS VARCHAR) AS id,
                     list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
              FROM embeddings
            )
            SELECT a.id AS id_a, b.id AS id_b,
                   round(list_dot_product(a.e, b.e)
                         / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))),
                         4) AS cosine
            FROM v a JOIN v b ON a.id < b.id
            WHERE round(list_dot_product(a.e, b.e)
                        / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))),
                        4) >= 0.45
        """,
        # windowed exact-substring dedup: distinct 8-token window hashes per
        # doc (60-bit sha256 prefixes, same arithmetic as the Spark side),
        # window -> distinct-doc counts, dup fraction per doc
        "dd_substring": """
            WITH base AS (
              SELECT CAST(doc_id AS BIGINT) AS doc_id, text FROM documents
            ),
            planted AS (
              SELECT doc_id + 10000000 AS doc_id,
                     array_to_string((string_split(text, ' '))[1:20], ' ')
                       || ' planted tail ' || CAST(doc_id AS VARCHAR) AS text
              FROM base WHERE doc_id % 40 = 0
            ),
            allc AS (
              SELECT * FROM base UNION ALL SELECT * FROM planted
            ),
            wh AS (
              SELECT DISTINCT doc_id,
                     ('0x' || substr(sha256(w), 1, 15))::BIGINT AS whash
              FROM (
                SELECT doc_id,
                       UNNEST([array_to_string(toks[i : i + 7], ' ')
                               FOR i IN generate_series(1, len(toks) - 7)]) AS w
                FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM allc)
              )
            ),
            cnt AS (SELECT whash, count(*) AS n_docs FROM wh GROUP BY whash),
            pd AS (
              SELECT doc_id, count(*) AS n_windows,
                     -- CAST: DuckDB sum(INTEGER) is HUGEINT -> pandas float64,
                     -- which hash-mismatches Spark's int64 despite equal values
                     CAST(sum(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_dup_windows
              FROM wh JOIN cnt USING (whash) GROUP BY doc_id
            )
            SELECT a.doc_id,
                   CAST(coalesce(n_windows, 0) AS BIGINT) AS n_windows,
                   CAST(coalesce(n_dup_windows, 0) AS BIGINT) AS n_dup_windows,
                   round(coalesce(n_dup_windows * 1.0 / n_windows, 0.0), 4) AS dup_frac
            FROM allc a LEFT JOIN pd ON a.doc_id = pd.doc_id
        """,
        # SQ8 replay: per-dim min/max lists (ordered by dim), same
        # floor(x + 0.5) rounding, squared error as explicit multiplication
        # (no pow()), list folds in index order on both sides
        "ann_sq8": """
            WITH v AS (
              SELECT CAST(vec_id AS VARCHAR) AS id,
                     list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
              FROM embeddings
            ),
            ex AS (
              SELECT UNNEST([{'i': i, 'x': e[i]}
                             FOR i IN generate_series(1, 64)]) AS u
              FROM v
            ),
            dims AS (
              SELECT u.i AS d, min(u.x) AS mn,
                     greatest((max(u.x) - min(u.x)) / 255.0::DOUBLE,
                              1e-100) AS sc
              FROM ex GROUP BY u.i
            ),
            lists AS (
              SELECT list(mn ORDER BY d) AS mins,
                     list(sc ORDER BY d) AS scales
              FROM dims
            ),
            coded AS (
              SELECT id, e, mins, scales,
                     [CAST(least(greatest(
                        floor((e[i] - mins[i]) / scales[i] + 0.5::DOUBLE),
                        0.0::DOUBLE), 255.0::DOUBLE) AS INT)
                      FOR i IN generate_series(1, 64)] AS cds
              FROM v, lists
            )
            SELECT id, array_to_string(cds, ',') AS codes,
                   round(list_sum(
                     [(e[i] - (mins[i] + CAST(cds[i] AS DOUBLE) * scales[i]))
                      * (e[i] - (mins[i] + CAST(cds[i] AS DOUBLE) * scales[i]))
                      FOR i IN generate_series(1, 64)]) / 64.0::DOUBLE,
                     10) AS mse
            FROM coded
        """,
        # per-group HDR-quantile threshold replay: same integer bit_length
        # buckets, per-group cumulative walk over sketch rows, first bucket
        # reaching ceil(q*n) (q cast DOUBLE — DECIMAL ceil rounds
        # differently), lower bound broadcast back as the filter
        "ts_adaptive_filter": """
            WITH src AS (
              SELECT CAST(doc_id AS BIGINT) AS doc_id, lang AS g,
                     CAST(n_chars AS BIGINT) AS v
              FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0
            ),
            sk AS (
              SELECT g, length(bin(v)) AS b,
                     v >> greatest(length(bin(v)) - 5, 0) AS hi,
                     CAST(count(*) AS BIGINT) AS cnt
              FROM src GROUP BY 1, 2, 3
            ),
            cum AS (
              SELECT g, b, hi, cnt,
                     sum(cnt) OVER (PARTITION BY g ORDER BY b, hi
                                    ROWS UNBOUNDED PRECEDING) AS cum
              FROM sk
            ),
            n AS (SELECT g, CAST(sum(cnt) AS BIGINT) AS n FROM sk GROUP BY g),
            thr AS (
              SELECT g, CAST(lo AS BIGINT) AS threshold FROM (
                SELECT c.g, c.hi << greatest(c.b - 5, 0) AS lo,
                       row_number() OVER (PARTITION BY c.g
                                          ORDER BY c.b, c.hi) AS rn
                FROM cum c JOIN n ON c.g = n.g
                WHERE c.cum >= ceil(0.5::DOUBLE * n.n)
              ) WHERE rn = 1
            )
            SELECT s.doc_id, s.g AS lang, s.v, t.threshold
            FROM src s JOIN thr t ON s.g = t.g
            WHERE s.v >= t.threshold
        """,
        # CDC dedup replay: lag-based 2-gram boundary flags, per-doc window
        # cumsum piece index, piece hash of the position-ordered string_agg,
        # hot-piece df guard, pair equi-join on the piece hash
        "dd_cdc": """
            WITH base AS (
              SELECT CAST(doc_id AS BIGINT) AS doc_id, text FROM documents
            ),
            planted AS (
              SELECT doc_id + 30000000 AS doc_id,
                     array_to_string((string_split(text, ' '))[1:10], ' ')
                       || ' INSERTED ' ||
                     array_to_string(
                       (string_split(text, ' '))[11:
                         10 + greatest(len(string_split(text, ' ')) - 10, 1)],
                       ' ') AS text
              FROM base WHERE doc_id % 40 = 0
            ),
            allc AS (SELECT * FROM base UNION ALL SELECT * FROM planted),
            tok AS (
              SELECT doc_id, u.p AS pos, u.t AS tok FROM (
                SELECT doc_id,
                       UNNEST([{'p': i, 't': ws[i]}
                               FOR i IN generate_series(1, len(ws))]) AS u
                FROM (SELECT doc_id,
                             string_split(coalesce(text, ''), ' ') AS ws
                      FROM allc))
            ),
            flagged AS (
              SELECT doc_id, pos, tok,
                     lag(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
              FROM tok
            ),
            pieced AS (
              SELECT doc_id, pos, tok,
                     sum(CASE WHEN prev IS NOT NULL
                              AND ('0x' || substr(sha256(prev || chr(31) || tok),
                                                  1, 15))::BIGINT % 4 = 0
                         THEN 1 ELSE 0 END)
                       OVER (PARTITION BY doc_id ORDER BY pos
                             ROWS UNBOUNDED PRECEDING) AS piece
              FROM flagged
            ),
            ph AS (
              SELECT DISTINCT doc_id,
                     ('0x' || substr(sha256(
                        string_agg(tok, ' ' ORDER BY pos)), 1, 15))::BIGINT
                       AS phash
              FROM pieced GROUP BY doc_id, piece
            ),
            rare AS (
              SELECT phash FROM ph GROUP BY phash HAVING count(*) <= 20
            ),
            sig AS (SELECT ph.doc_id, ph.phash FROM ph JOIN rare USING (phash))
            SELECT x.doc_id AS id_a, y.doc_id AS id_b,
                   CAST(count(*) AS BIGINT) AS n_shared
            FROM sig x JOIN sig y
              ON x.phash = y.phash AND x.doc_id < y.doc_id
            GROUP BY 1, 2 HAVING count(*) >= 3
        """,
        # exact-substring REWRITE replay: positional (not distinct) window
        # occurrences, canonical = min(doc_id*1e6 + pos) (same ordering as
        # Spark's min(struct(doc_id, pos)) since pos < 1e6), covered
        # positions unioned, surviving tokens re-joined in position order
        "dd_rewrite": """
            WITH base AS (
              SELECT CAST(doc_id AS BIGINT) AS doc_id, text FROM documents
            ),
            planted AS (
              SELECT doc_id + 10000000 AS doc_id,
                     array_to_string((string_split(text, ' '))[1:20], ' ')
                       || ' planted tail ' || CAST(doc_id AS VARCHAR) AS text
              FROM base WHERE doc_id % 40 = 0
            ),
            allc AS (SELECT * FROM base UNION ALL SELECT * FROM planted),
            tk AS (
              SELECT doc_id, string_split(coalesce(text, ''), ' ') AS toks
              FROM allc
            ),
            occ AS (
              SELECT doc_id, u.pos AS pos,
                     ('0x' || substr(sha256(u.w), 1, 15))::BIGINT AS whash
              FROM (
                SELECT doc_id,
                       UNNEST([{'pos': i,
                                'w': array_to_string(toks[i : i + 7], ' ')}
                               FOR i IN generate_series(1, len(toks) - 7)]) AS u
                FROM tk)
            ),
            canon AS (
              SELECT whash, CAST(count(*) AS BIGINT) AS n_occ,
                     min(doc_id * 1000000 + pos) AS ck
              FROM occ GROUP BY whash
            ),
            rem AS (
              SELECT o.doc_id, o.pos FROM occ o JOIN canon c USING (whash)
              WHERE c.n_occ >= 2 AND o.doc_id * 1000000 + o.pos <> c.ck
            ),
            cov AS (
              SELECT DISTINCT doc_id, p FROM (
                SELECT doc_id,
                       UNNEST([pos + d FOR d IN generate_series(0, 7)]) AS p
                FROM rem)
            ),
            tok AS (
              SELECT doc_id, u.p AS p, u.tok AS tok FROM (
                SELECT doc_id,
                       UNNEST([{'p': i, 'tok': toks[i]}
                               FOR i IN generate_series(1, len(toks))]) AS u
                FROM tk)
            ),
            kept AS (
              SELECT t.doc_id, t.p, t.tok
              FROM tok t LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.p = c.p
              WHERE c.p IS NULL
            ),
            cl AS (
              SELECT doc_id, string_agg(tok, ' ' ORDER BY p) AS clean_text,
                     CAST(count(*) AS BIGINT) AS n_kept
              FROM kept GROUP BY doc_id
            )
            SELECT k.doc_id,
                   coalesce(cl.clean_text, '') AS clean_text,
                   CAST(len(k.toks) AS BIGINT) AS n_tokens,
                   CAST(len(k.toks) - coalesce(cl.n_kept, 0) AS BIGINT) AS n_removed
            FROM tk k LEFT JOIN cl ON k.doc_id = cl.doc_id
        """,
        # n-gram-overlap decontamination: eval windows (30-token slice of
        # every 100th doc) hashed and joined against training windows
        "dd_contamination": """
            WITH train AS (
              SELECT CAST(doc_id AS BIGINT) AS doc_id, text FROM documents
            ),
            ev AS (
              SELECT doc_id,
                     array_to_string((string_split(text, ' '))[5:34], ' ') AS text
              FROM train WHERE doc_id % 100 = 0
            ),
            evw AS (
              SELECT DISTINCT ('0x' || substr(sha256(w), 1, 15))::BIGINT AS whash
              FROM (
                SELECT UNNEST([array_to_string(toks[i : i + 7], ' ')
                               FOR i IN generate_series(1, len(toks) - 7)]) AS w
                FROM (SELECT string_split(text, ' ') AS toks FROM ev)
              )
            ),
            tw AS (
              SELECT DISTINCT doc_id,
                     ('0x' || substr(sha256(w), 1, 15))::BIGINT AS whash
              FROM (
                SELECT doc_id,
                       UNNEST([array_to_string(toks[i : i + 7], ' ')
                               FOR i IN generate_series(1, len(toks) - 7)]) AS w
                FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM train)
              )
            ),
            sh AS (
              SELECT doc_id, count(*) AS n_shared
              FROM tw JOIN evw USING (whash) GROUP BY doc_id
            )
            SELECT t.doc_id,
                   coalesce(n_shared, 0) AS n_shared,
                   coalesce(n_shared, 0) > 0 AS contaminated
            FROM train t LEFT JOIN sh ON t.doc_id = sh.doc_id
        """,
        # PII detect + redact; same RE2/Java-portable patterns, email first
        "ts_pii": """
            WITH d AS (
              SELECT CAST(doc_id AS BIGINT) AS doc_id,
                     text || CASE WHEN doc_id % 10 = 0 THEN
                       ' contact user' || CAST(doc_id AS VARCHAR)
                       || '@example.com from 10.1.2.3 card 1234567890123456'
                     ELSE '' END AS t
              FROM documents
            )
            SELECT doc_id,
                   CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS INTEGER) AS n_emails,
                   CAST(len(regexp_extract_all(t, '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b')) AS INTEGER) AS n_ipv4,
                   CAST(len(regexp_extract_all(t, '\\b\\d{16}\\b')) AS INTEGER) AS n_cards,
                   regexp_replace(
                     regexp_replace(
                       regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                       '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '<IP>', 'g'),
                     '\\b\\d{16}\\b', '<CARD>', 'g') AS redacted
            FROM d
        """,
        # Gopher repetition signals: word 2-gram counts per doc, argmax with
        # (cnt DESC, gram DESC) tie-break replayed via row_number
        "ts_repetition": """
            WITH d AS (
              SELECT CAST(doc_id AS BIGINT) AS doc_id, text,
                     string_split(text, ' ') AS toks
              FROM documents
            ),
            base AS (
              SELECT doc_id, len(toks) AS n_tokens,
                     len(list_distinct(toks)) AS n_distinct,
                     length(text) AS n_chars, toks
              FROM d
            ),
            g AS (
              SELECT doc_id,
                     UNNEST([array_to_string(toks[i : i + 1], ' ')
                             FOR i IN generate_series(1, len(toks) - 1)]) AS gram
              FROM base
            ),
            gc AS (SELECT doc_id, gram, count(*) AS cnt FROM g GROUP BY 1, 2),
            top AS (
              SELECT doc_id, gram AS top_ngram, cnt
              FROM (SELECT *, row_number() OVER (
                      PARTITION BY doc_id ORDER BY cnt DESC, gram DESC) AS rn
                    FROM gc)
              WHERE rn = 1
            )
            SELECT b.doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
                   round(1.0 - n_distinct * 1.0 / n_tokens, 4) AS dup_word_frac,
                   coalesce(top_ngram, '') AS top_ngram,
                   round(coalesce(cnt * length(top_ngram) * 1.0 / n_chars, 0.0), 4)
                     AS top_ngram_frac
            FROM base b LEFT JOIN top USING (doc_id)
        """,
        # composite quality gate on top of the repetition CTE; reasons are
        # the fixed-order comma-joined failed rules, '' when kept
        "ts_qualityfilter": """
            WITH d AS (
              SELECT CAST(doc_id AS BIGINT) AS doc_id, text,
                     string_split(text, ' ') AS toks,
                     length(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 1.0
                       / greatest(length(text), 1) AS alpha_frac
              FROM documents
            ),
            base AS (
              SELECT doc_id, len(toks) AS n_tokens,
                     len(list_distinct(toks)) AS n_distinct,
                     length(text) AS n_chars, toks, alpha_frac
              FROM d
            ),
            g AS (
              SELECT doc_id,
                     UNNEST([array_to_string(toks[i : i + 1], ' ')
                             FOR i IN generate_series(1, len(toks) - 1)]) AS gram
              FROM base
            ),
            gc AS (SELECT doc_id, gram, count(*) AS cnt FROM g GROUP BY 1, 2),
            top AS (
              SELECT doc_id, gram AS top_ngram, cnt
              FROM (SELECT *, row_number() OVER (
                      PARTITION BY doc_id ORDER BY cnt DESC, gram DESC) AS rn
                    FROM gc)
              WHERE rn = 1
            ),
            sig AS (
              SELECT b.doc_id, n_tokens,
                     round(1.0 - n_distinct * 1.0 / n_tokens, 4) AS dup_word_frac,
                     round(coalesce(cnt * length(top_ngram) * 1.0 / n_chars, 0.0), 4)
                       AS top_ngram_frac,
                     alpha_frac
              FROM base b LEFT JOIN top USING (doc_id)
            ),
            r AS (
              SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
                     coalesce(array_to_string(list_filter([
                       CASE WHEN n_tokens < 20 THEN 'too_short' END,
                       CASE WHEN n_tokens > 100000 THEN 'too_long' END,
                       CASE WHEN dup_word_frac > 0.6 THEN 'dup_words' END,
                       CASE WHEN top_ngram_frac > 0.1 THEN 'top_ngram' END,
                       CASE WHEN alpha_frac < 0.5 THEN 'low_alpha' END
                     ], x -> x IS NOT NULL), ','), '') AS reasons
              FROM sig
            )
            SELECT doc_id, n_tokens, length(reasons) = 0 AS kept, reasons FROM r
        """,
        # salted-hash mixture sampling; rate tiers replayed numerically
        # (sources are exactly src0..src19 in the fixture tables)
        "dd_mixture": """
            WITH d AS (
              SELECT CAST(doc_id AS BIGINT) AS doc_id, source,
                     round((('0x' || substr(sha256('mix1' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                            % 1000000) / 1000000.0, 6) AS mix_u,
                     CASE WHEN CAST(substr(source, 4) AS INT) < 5 THEN 1.0
                          WHEN CAST(substr(source, 4) AS INT) < 10 THEN 0.5
                          ELSE 0.1 END AS rate
              FROM documents
            )
            SELECT doc_id, source, mix_u FROM d WHERE mix_u < rate
        """,
        # concat-then-chunk packing: running token offset per sha-shard
        "ts_packing": """
            WITH b AS (
              SELECT CAST(('0x' || substr(sha256(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 8
                          AS INTEGER) AS shard,
                     CAST(doc_id AS BIGINT) AS doc_id,
                     CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
              FROM documents
            )
            SELECT shard, doc_id, n_tokens,
                   CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                                            ROWS UNBOUNDED PRECEDING) - n_tokens
                        AS BIGINT) AS start_off,
                   CAST(floor((sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                                                   ROWS UNBOUNDED PRECEDING) - n_tokens)
                              / 256.0) AS BIGINT) AS seq_id
            FROM b
        """,
        "ann_topk": """
            WITH q AS (
              SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
              FROM embeddings WHERE vec_id = 0
            ),
            v AS (
              SELECT CAST(vec_id AS VARCHAR) AS id,
                     list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
              FROM embeddings
            )
            SELECT id, round(list_dot_product(e, qv)
                             / (sqrt(list_dot_product(e, e)) * sqrt(list_dot_product(qv, qv))),
                             4) AS score
            FROM v, q ORDER BY score DESC, id LIMIT 10
        """,
        # LSH-bucketed cosine dedup, fully replayed: same planes, same bucket
        # assignment, same candidate rule (share a bucket in any table)
        "dd_embed_cosine_lsh": """
            WITH planes AS (
              SELECT t, b, d,
                     ('0x' || substr(sha256('42,' || t || ',' || b || ',' || d), 1, 8))::BIGINT
                       / 4294967296.0 - 0.5 AS w
              FROM generate_series(0, 7) ts(t),
                   generate_series(0, 3) bs(b),
                   generate_series(0, 63) ds(d)
            ),
            v AS (
              SELECT CAST(vec_id AS VARCHAR) AS id,
                     list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
              FROM embeddings
            ),
            dots AS (
              SELECT v.id, p.t, p.b, sum(v.e[p.d + 1] * p.w) AS dot
              FROM v, planes p GROUP BY v.id, p.t, p.b
            ),
            buckets AS (
              SELECT id, t, sum(CASE WHEN dot >= 0 THEN 1 << b ELSE 0 END) AS bucket
              FROM dots GROUP BY id, t
            ),
            cand AS (
              SELECT DISTINCT x.id AS id_a, y.id AS id_b
              FROM buckets x JOIN buckets y
                ON x.t = y.t AND x.bucket = y.bucket AND x.id < y.id
            )
            SELECT * FROM (
              SELECT c.id_a, c.id_b,
                     round(list_dot_product(a.e, b.e)
                           / (sqrt(list_dot_product(a.e, a.e))
                              * sqrt(list_dot_product(b.e, b.e))), 4) AS cosine
              FROM cand c JOIN v a ON a.id = c.id_a JOIN v b ON b.id = c.id_b
            ) WHERE cosine >= 0.45
        """,
        # full replay of the LSH algorithm: the sha256-derived hyperplanes
        # (operators/ann.py:hyperplane) are recomputed in SQL, every vector's
        # bucket per table is rebuilt, candidates = union of the query's
        # buckets, then exact cosine rescoring — value-exact vs the Spark path
        "ann_lsh": """
            WITH planes AS (
              SELECT t, b, d,
                     ('0x' || substr(sha256('42,' || t || ',' || b || ',' || d), 1, 8))::BIGINT
                       / 4294967296.0 - 0.5 AS w
              FROM generate_series(0, 7) ts(t),
                   generate_series(0, 3) bs(b),
                   generate_series(0, 63) ds(d)
            ),
            v AS (
              SELECT CAST(vec_id AS VARCHAR) AS id,
                     list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
              FROM embeddings
            ),
            dots AS (
              SELECT v.id, p.t, p.b, sum(v.e[p.d + 1] * p.w) AS dot
              FROM v, planes p GROUP BY v.id, p.t, p.b
            ),
            buckets AS (
              SELECT id, t, sum(CASE WHEN dot >= 0 THEN 1 << b ELSE 0 END) AS bucket
              FROM dots GROUP BY id, t
            ),
            qb AS (SELECT t, bucket FROM buckets WHERE id = '0'),
            cand AS (
              SELECT DISTINCT b.id FROM buckets b
              JOIN qb ON b.t = qb.t AND b.bucket = qb.bucket
            ),
            q AS (SELECT e AS qv FROM v WHERE id = '0')
            SELECT v.id,
                   round(list_dot_product(v.e, q.qv)
                         / (sqrt(list_dot_product(v.e, v.e))
                            * sqrt(list_dot_product(q.qv, q.qv))), 4) AS score
            FROM v JOIN cand USING (id), q
            ORDER BY score DESC, id LIMIT 10
        """,
        "ann_batch": """
            WITH v AS (
              SELECT CAST(vec_id AS VARCHAR) AS id,
                     list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
              FROM embeddings
            ),
            q AS (
              SELECT CAST(vec_id AS VARCHAR) AS query_id,
                     list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
              FROM embeddings WHERE vec_id < 3
            ),
            scored AS (
              SELECT q.query_id, v.id,
                     round(list_dot_product(v.e, q.qv)
                           / (sqrt(list_dot_product(v.e, v.e))
                              * sqrt(list_dot_product(q.qv, q.qv))), 4) AS score
              FROM v, q
            )
            SELECT query_id, id, score, CAST(rank AS INT) AS rank FROM (
              SELECT *, row_number() OVER (PARTITION BY query_id
                                           ORDER BY score DESC, id) AS rank
              FROM scored
            ) WHERE rank <= 5
        """,
        # entity-linking replay: the sha256-derived minhash signatures, band
        # keys (bands=8/rows=4 from threshold 0.8), candidate self-join, and
        # exact Jaccard verification are all recomputed in SQL — the
        # approximate candidate set matches exactly, including any
        # deterministic LSH miss at the threshold boundary
        "link_edges": f"""
            WITH {_KG_CTE},
            t0 AS (SELECT DISTINCT text FROM mentions),
            baset AS (
              SELECT DISTINCT text FROM (
                SELECT text FROM t0
                UNION ALL SELECT upper(text) FROM t0
                UNION ALL SELECT '_' || text FROM t0
                UNION ALL SELECT text || 's' FROM t0
              )
            ),
            nrm AS (
              SELECT text,
                     lower(trim(regexp_replace(text, '[\\s_\\-]+', ' ', 'g'))) AS norm
              FROM baset
            ),
            shn AS (
              SELECT text,
                     list_distinct([substr(norm, i, 3)
                                    FOR i IN generate_series(1, greatest(length(norm) - 2, 1))]) AS shingles
              FROM nrm
            ),
            hsh AS (
              SELECT text, shingles,
                     [('0x' || substr(sha256(s), 1, 15))::BIGINT FOR s IN shingles] AS hh
              FROM shn
            ),
            sig AS (
              SELECT text, shingles,
                     [list_min([('0x' || substr(sha256(CAST(h AS VARCHAR) || ',' || CAST(i AS VARCHAR)), 1, 15))::BIGINT
                                FOR h IN hh])
                      FOR i IN generate_series(0, 31)] AS sg
              FROM hsh
            ),
            bkt AS (
              SELECT text, shingles, g.b AS band,
                     ('0x' || substr(sha256(array_to_string(
                        list_transform(sg[g.b * 4 + 1 : g.b * 4 + 4],
                                       x -> CAST(x AS VARCHAR)), ',')), 1, 15))::BIGINT AS key
              FROM sig, generate_series(0, 7) g(b)
            ),
            cand AS (
              SELECT DISTINCT x.text AS src, y.text AS dst,
                     x.shingles AS sa, y.shingles AS sb
              FROM bkt x JOIN bkt y
                ON x.band = y.band AND x.key = y.key AND x.text < y.text
            )
            SELECT src, dst, jaccard FROM (
              SELECT src, dst,
                     round(len(list_intersect(sa, sb)) * 1.0
                           / len(list_distinct(list_concat(sa, sb))), 6) AS jaccard
              FROM cand
            ) WHERE jaccard >= 0.8
        """,
        # batched-LSH replay: buckets for every vector per table (queries are
        # themselves corpus vectors here), per-query candidates = bucket
        # equi-join, exact cosine rescore, per-query top-5
        "ann_lsh_batch": """
            WITH planes AS (
              SELECT t, b, d,
                     ('0x' || substr(sha256('42,' || t || ',' || b || ',' || d), 1, 8))::BIGINT
                       / 4294967296.0 - 0.5 AS w
              FROM generate_series(0, 7) ts(t),
                   generate_series(0, 3) bs(b),
                   generate_series(0, 63) ds(d)
            ),
            v AS (
              SELECT CAST(vec_id AS VARCHAR) AS id,
                     list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
              FROM embeddings
            ),
            dots AS (
              SELECT v.id, p.t, p.b, sum(v.e[p.d + 1] * p.w) AS dot
              FROM v, planes p GROUP BY v.id, p.t, p.b
            ),
            buckets AS (
              SELECT id, t, sum(CASE WHEN dot >= 0 THEN 1 << b ELSE 0 END) AS bucket
              FROM dots GROUP BY id, t
            ),
            qb AS (SELECT id AS query_id, t, bucket FROM buckets
                   WHERE id IN ('0', '1', '2')),
            cand AS (
              SELECT DISTINCT qb.query_id, b.id FROM buckets b
              JOIN qb ON b.t = qb.t AND b.bucket = qb.bucket
            ),
            q AS (SELECT id AS query_id, e AS qv FROM v WHERE id IN ('0', '1', '2')),
            scored AS (
              SELECT c.query_id, c.id,
                     round(list_dot_product(v.e, q.qv)
                           / (sqrt(list_dot_product(v.e, v.e))
                              * sqrt(list_dot_product(q.qv, q.qv))), 4) AS score
              FROM cand c JOIN v ON v.id = c.id JOIN q ON q.query_id = c.query_id
            )
            SELECT query_id, id, score, CAST(rank AS INT) AS rank FROM (
              SELECT *, row_number() OVER (PARTITION BY query_id
                                           ORDER BY score DESC, id) AS rank
              FROM scored
            ) WHERE rank <= 5
        """,
        # IVF replay: same sha256-picked centroids, same argmin assignment
        # (ties on (d2, cid)), same nprobe cells, exact rescoring
        "ann_ivf": """
            WITH v AS (
              SELECT CAST(vec_id AS VARCHAR) AS id,
                     list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
              FROM embeddings
            ),
            cents AS (
              SELECT id AS cid, e AS ce FROM v
              WHERE ('0x' || substr(sha256(id), 1, 8))::BIGINT % 50 = 0
            ),
            d AS (
              SELECT v.id, c.cid,
                     list_sum([(v.e[i] - c.ce[i]) * (v.e[i] - c.ce[i])
                               FOR i IN generate_series(1, 64)]) AS d2
              FROM v, cents c
            ),
            assigned AS (
              SELECT id, cid FROM (
                SELECT id, cid,
                       row_number() OVER (PARTITION BY id ORDER BY d2, cid) AS rn
                FROM d) WHERE rn = 1
            ),
            q AS (SELECT e AS qv FROM v WHERE id = '0'),
            probe AS (
              SELECT c.cid FROM cents c, q
              ORDER BY list_sum([(c.ce[i] - q.qv[i]) * (c.ce[i] - q.qv[i])
                                 FOR i IN generate_series(1, 64)]), c.cid
              LIMIT 4
            ),
            cand AS (SELECT a.id FROM assigned a JOIN probe USING (cid))
            SELECT v.id,
                   round(list_dot_product(v.e, q.qv)
                         / (sqrt(list_dot_product(v.e, v.e))
                            * sqrt(list_dot_product(q.qv, q.qv))), 4) AS score
            FROM v JOIN cand USING (id), q
            ORDER BY score DESC, id LIMIT 10
        """,
        # PQ replay: sha256-stride codebooks, per-subspace argmin codes,
        # ADC = pd0..pd7 added in index order (matches the Spark pivot —
        # never a float SUM over shuffled rows), exact cosine rescore
        "ann_pq": """
            WITH v AS (
              SELECT CAST(vec_id AS VARCHAR) AS id,
                     list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
              FROM embeddings
            ),
            cents AS (
              SELECT id AS cid, e AS ce FROM v
              WHERE ('0x' || substr(sha256(id), 1, 8))::BIGINT % 50 = 0
            ),
            cb AS (
              SELECT j, cid,
                     [ce[j * 8 + i] FOR i IN generate_series(1, 8)] AS cw
              FROM cents CROSS JOIN generate_series(0, 7) t(j)
            ),
            vm AS (
              SELECT id, j,
                     [e[j * 8 + i] FOR i IN generate_series(1, 8)] AS vs
              FROM v CROSS JOIN generate_series(0, 7) t(j)
            ),
            d AS (
              SELECT vm.id, vm.j, cb.cid,
                     list_sum([(vm.vs[i] - cb.cw[i]) * (vm.vs[i] - cb.cw[i])
                               FOR i IN generate_series(1, 8)]) AS d2
              FROM vm JOIN cb USING (j)
            ),
            codes AS (
              SELECT id, j, cid FROM (
                SELECT id, j, cid,
                       row_number() OVER (PARTITION BY id, j
                                          ORDER BY d2, cid) AS rn
                FROM d) WHERE rn = 1
            ),
            q AS (SELECT e AS qv FROM v WHERE id = '0'),
            qpd AS (
              SELECT j, cid,
                     list_sum([cw[i] * qv[j * 8 + i]
                               FOR i IN generate_series(1, 8)]) AS pd
              FROM cb, q
            ),
            adc AS (
              SELECT id,
                     max(CASE WHEN j = 0 THEN pd END) AS pd0,
                     max(CASE WHEN j = 1 THEN pd END) AS pd1,
                     max(CASE WHEN j = 2 THEN pd END) AS pd2,
                     max(CASE WHEN j = 3 THEN pd END) AS pd3,
                     max(CASE WHEN j = 4 THEN pd END) AS pd4,
                     max(CASE WHEN j = 5 THEN pd END) AS pd5,
                     max(CASE WHEN j = 6 THEN pd END) AS pd6,
                     max(CASE WHEN j = 7 THEN pd END) AS pd7
              FROM codes JOIN qpd USING (j, cid) GROUP BY id
            ),
            cand AS (
              SELECT id FROM adc
              ORDER BY pd0 + pd1 + pd2 + pd3 + pd4 + pd5 + pd6 + pd7 DESC, id
              LIMIT 50
            )
            SELECT v.id,
                   round(list_dot_product(v.e, q.qv)
                         / (sqrt(list_dot_product(v.e, v.e))
                            * sqrt(list_dot_product(q.qv, q.qv))), 4) AS score
            FROM v JOIN cand USING (id), q
            ORDER BY score DESC, id LIMIT 10
        """,
        # SemDeDup replay: same sha256-stride centroids + argmin assignment
        # as ann_ivf, then first-wins cosine pruning within each cluster
        "dd_semdedup": """
            WITH v AS (
              SELECT CAST(vec_id AS VARCHAR) AS id,
                     list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
              FROM embeddings
            ),
            cents AS (
              SELECT id AS cid, e AS ce FROM v
              WHERE ('0x' || substr(sha256(id), 1, 8))::BIGINT % 50 = 0
            ),
            d AS (
              SELECT v.id, c.cid,
                     list_sum([(v.e[i] - c.ce[i]) * (v.e[i] - c.ce[i])
                               FOR i IN generate_series(1, 64)]) AS d2
              FROM v, cents c
            ),
            assigned AS (
              SELECT id, cid FROM (
                SELECT id, cid,
                       row_number() OVER (PARTITION BY id ORDER BY d2, cid) AS rn
                FROM d) WHERE rn = 1
            ),
            pairs AS (
              SELECT a.cid, a.id AS id_a, b.id AS id_b,
                     round(list_dot_product(va.e, vb.e)
                           / (sqrt(list_dot_product(va.e, va.e))
                              * sqrt(list_dot_product(vb.e, vb.e))), 4) AS cosine
              FROM assigned a
              JOIN assigned b ON a.cid = b.cid AND a.id < b.id
              JOIN v va ON va.id = a.id
              JOIN v vb ON vb.id = b.id
            )
            SELECT id_b AS id, cid, id_a AS dup_of, cosine FROM (
              SELECT *, row_number() OVER (PARTITION BY id_b ORDER BY id_a) AS rn
              FROM pairs WHERE cosine >= 0.3
            ) WHERE rn = 1
        """,
        # batched-IVF replay: shared assignment, per-query nprobe cells
        "ann_ivf_batch": """
            WITH v AS (
              SELECT CAST(vec_id AS VARCHAR) AS id,
                     list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
              FROM embeddings
            ),
            cents AS (
              SELECT id AS cid, e AS ce FROM v
              WHERE ('0x' || substr(sha256(id), 1, 8))::BIGINT % 50 = 0
            ),
            d AS (
              SELECT v.id, c.cid,
                     list_sum([(v.e[i] - c.ce[i]) * (v.e[i] - c.ce[i])
                               FOR i IN generate_series(1, 64)]) AS d2
              FROM v, cents c
            ),
            assigned AS (
              SELECT id, cid FROM (
                SELECT id, cid,
                       row_number() OVER (PARTITION BY id ORDER BY d2, cid) AS rn
                FROM d) WHERE rn = 1
            ),
            q AS (SELECT id AS query_id, e AS qv FROM v WHERE id IN ('0', '1', '2')),
            probe AS (
              SELECT query_id, cid FROM (
                SELECT q.query_id, c.cid,
                       row_number() OVER (
                         PARTITION BY q.query_id
                         ORDER BY list_sum([(c.ce[i] - q.qv[i]) * (c.ce[i] - q.qv[i])
                                            FOR i IN generate_series(1, 64)]), c.cid) AS rn
                FROM cents c, q) WHERE rn <= 4
            ),
            cand AS (
              SELECT DISTINCT p.query_id, a.id
              FROM assigned a JOIN probe p USING (cid)
            ),
            scored AS (
              SELECT c.query_id, c.id,
                     round(list_dot_product(v.e, q.qv)
                           / (sqrt(list_dot_product(v.e, v.e))
                              * sqrt(list_dot_product(q.qv, q.qv))), 4) AS score
              FROM cand c JOIN v ON v.id = c.id JOIN q ON q.query_id = c.query_id
            )
            SELECT query_id, id, score, CAST(rank AS INT) AS rank FROM (
              SELECT *, row_number() OVER (PARTITION BY query_id
                                           ORDER BY score DESC, id) AS rank
              FROM scored
            ) WHERE rank <= 5
        """,
        # BM25 with the same operator-application order as the Spark exprs
        # (k1=1.2 -> tf*(k1+1)=tf*2.2, 1-b=0.25; ln = natural log)
        "bm25": """
            WITH d AS (
              SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                     string_split(text, ' ') AS ws
              FROM documents
            ),
            dl AS (SELECT doc_id, len(ws) AS dl FROM d),
            stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
            hits AS (SELECT doc_id, UNNEST(ws) AS term FROM d),
            tf AS (
              SELECT doc_id, term, count(*) AS tf FROM hits
              WHERE term IN ('customer', 'spark', 'stream')
              GROUP BY doc_id, term
            ),
            dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
            s AS (
              SELECT tf.doc_id,
                     ln(1.0 + (stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
                       * (tf.tf * 2.2)
                       / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl)) AS s
              FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id), stats
            )
            SELECT doc_id, round(sum(s), 4) AS score
            FROM s GROUP BY doc_id
            ORDER BY score DESC, doc_id LIMIT 10
        """,
        # streamed first-wins dedup == batch exact dedup: min doc_id per
        # distinct content (batches are doc_id-ascending, so the global min
        # IS the first-seen row)
        "stream_dedup": """
            WITH full0 AS (
              SELECT CAST(doc_id AS BIGINT) AS doc_id, text FROM documents
              UNION ALL
              SELECT CAST(doc_id + 10000000 AS BIGINT), text
              FROM documents WHERE doc_id % 50 = 0
            )
            SELECT sha256(text) AS content_hash, min(doc_id) AS doc_id
            FROM full0 GROUP BY content_hash
        """,
        "ts_langid": f"""
            WITH b AS (SELECT CAST(doc_id AS VARCHAR) AS doc_id, string_split(text, ' ') AS ws FROM documents),
            h AS (SELECT doc_id, {_hits('de')} AS h_de, {_hits('en')} AS h_en,
                         {_hits('es')} AS h_es, {_hits('fr')} AS h_fr FROM b)
            SELECT doc_id,
                   CASE WHEN greatest(h_de, h_en, h_es, h_fr) = 0 THEN 'und'
                        WHEN h_fr = greatest(h_de, h_en, h_es, h_fr) THEN 'fr'
                        WHEN h_es = greatest(h_de, h_en, h_es, h_fr) THEN 'es'
                        WHEN h_en = greatest(h_de, h_en, h_es, h_fr) THEN 'en'
                        ELSE 'de' END AS pred_lang,
                   CAST(greatest(h_de, h_en, h_es, h_fr) AS INTEGER) AS best_hits
            FROM h
        """,
        "ts_quality": f"""
            WITH b AS (
              SELECT CAST(doc_id AS VARCHAR) AS doc_id, text, string_split(text, ' ') AS ws
              FROM documents
            ),
            f AS (
              SELECT doc_id,
                     CAST(len(ws) AS INTEGER) AS n_words,
                     CAST(length(text) AS INTEGER) AS n_chars,
                     len(list_filter(ws, w -> list_contains([{qstop}], w))) AS n_stop,
                     len(list_distinct(ws)) AS n_distinct
              FROM b
            )
            SELECT doc_id, n_words, n_chars,
                   round((n_chars - (n_words - 1)) * 1.0 / n_words, 4) AS avg_word_len,
                   round(n_stop * 1.0 / n_words, 4) AS stopword_ratio,
                   round(n_distinct * 1.0 / n_words, 4) AS distinct_ratio,
                   round(least(n_words / 100.0, 1.0) * 0.4
                         + round(n_distinct * 1.0 / n_words, 4) * 0.4
                         + least(round(n_stop * 1.0 / n_words, 4) * 5.0, 1.0) * 0.2, 4) AS score
            FROM f
        """,
        "ts_tokens": """
            SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                   CAST(len(string_split(text, ' ')) AS INTEGER) AS n_ws_tokens,
                   CAST(list_sum([CAST(ceil(length(w) / 4.0) AS BIGINT)
                                  FOR w IN string_split(text, ' ')]) AS INTEGER) AS n_bpe_tokens
            FROM documents
        """,
        "ts_fingerprint": """
            WITH b AS (SELECT CAST(doc_id AS VARCHAR) AS doc_id, string_split(text, ' ') AS ws FROM documents)
            SELECT doc_id,
                   CAST(list_sum([(CAST(ascii(ws[i]) AS BIGINT) * 31 + length(ws[i])) * i
                                  FOR i IN generate_series(1, len(ws))]) % 2147483647 AS BIGINT) AS fp
            FROM b
        """,
        # self-trained smoothed bigram LM replay; the per-doc fold runs over
        # a pos-ordered list with an explicit sequential reduce so the
        # floating-point sum order matches Spark's aggregate() exactly
        "ts_perplexity": """
            WITH d AS (
              SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                     string_split(lower(text), ' ') AS ws
              FROM documents
              WHERE len(string_split(lower(text), ' ')) > 0
            ),
            pairs0 AS (
              SELECT doc_id, len(ws) AS n,
                     UNNEST([{'pos': i - 1,
                              'w1': CASE WHEN i = 1 THEN '<s>' ELSE ws[i - 1] END,
                              'w2': ws[i]}
                             FOR i IN generate_series(1, len(ws))]) AS p
              FROM d
            ),
            pairs AS (
              SELECT doc_id, n, p.pos AS pos, p.w1 AS w1, p.w2 AS w2 FROM pairs0
            ),
            vocab AS (SELECT CAST(count(DISTINCT w2) AS DOUBLE) AS v FROM pairs),
            c12 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
                    FROM pairs GROUP BY w1, w2),
            c1 AS (SELECT w1, CAST(count(*) AS BIGINT) AS c1 FROM pairs GROUP BY w1),
            j AS (
              SELECT p.doc_id, p.n, p.pos, c12.c12, c1.c1
              FROM pairs p JOIN c12 USING (w1, w2) JOIN c1 USING (w1)
            ),
            agg AS (
              SELECT doc_id, n,
                     list({'pos': pos, 'c12': c12, 'c1': c1} ORDER BY pos) AS terms
              FROM j GROUP BY doc_id, n
            )
            SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
                   round(exp(-(list_reduce(
                       list_prepend(0.0, list_transform(
                           terms, t -> ln((t.c12 + 0.5) / (t.c1 + 0.5 * v)))),
                       (a, x) -> a + x)) / n), 4) AS ppl
            FROM agg, vocab
        """,
        "g4_cc": f"""
            WITH RECURSIVE {_SHINGLE_CTE},
            p AS (SELECT id_a, id_b FROM jacc WHERE jaccard >= 0.9),
            edges AS (SELECT id_a AS s, id_b AS d FROM p UNION SELECT id_b, id_a FROM p),
            verts AS (SELECT DISTINCT s AS v FROM edges),
            reach AS (
              SELECT v, v AS r FROM verts
              UNION
              SELECT e.d AS v, reach.r FROM reach JOIN edges e ON e.s = reach.v
            )
            SELECT v AS vertex, min(r) AS component FROM reach GROUP BY v
        """,
        # co-purchase projection (group-size capped) + node-iterator triangles
        "g5_triangles": """
            WITH gi AS (
              SELECT DISTINCT CAST(l_orderkey AS VARCHAR) AS g,
                              CAST(l_partkey AS VARCHAR) AS item
              FROM lineitem
            ),
            kept AS (
              SELECT g, item FROM (
                SELECT g, item, count(*) OVER (PARTITION BY g) AS sz FROM gi
              ) WHERE sz <= 50
            ),
            e AS (
              SELECT DISTINCT x.item AS a, y.item AS b
              FROM kept x JOIN kept y ON x.g = y.g AND x.item < y.item
            ),
            deg AS (
              SELECT node, CAST(count(*) AS BIGINT) AS degree FROM (
                SELECT a AS node FROM e UNION ALL SELECT b FROM e
              ) GROUP BY node
            ),
            tris AS (
              SELECT x.a AS a, x.b AS b, y.b AS c
              FROM e x JOIN e y ON x.a = y.a AND x.b < y.b
              JOIN e z ON z.a = x.b AND z.b = y.b
            ),
            per_node AS (
              SELECT node, CAST(count(*) AS BIGINT) AS triangles FROM (
                SELECT a AS node FROM tris
                UNION ALL SELECT b FROM tris
                UNION ALL SELECT c FROM tris
              ) GROUP BY node
            )
            SELECT deg.node, deg.degree,
                   CAST(coalesce(per_node.triangles, 0) AS BIGINT) AS triangles,
                   CASE WHEN deg.degree >= 2 THEN
                     round(2.0 * coalesce(per_node.triangles, 0)
                           / (deg.degree * (deg.degree - 1)), 4)
                   ELSE 0.0 END AS clustering
            FROM deg LEFT JOIN per_node USING (node)
        """,
        "g6_kcore": _kcore_oracle(k=80, rounds=8),
        "g7_bfs": _bfs_oracle(hops=3),
        "g8_labelprop": _lpa_oracle(rounds=3),
        "g9_sssp": _sssp_oracle(rounds=4),
        "g11_walks": _walks_oracle(length=4),
        "g16_node2vec": _node2vec_oracle(length=4, ret_w=1, bfs_w=4, dfs_w=2),
        "g17_anf": _anf_oracle(max_hops=3, p=4),
        "g14_harmonic": _harmonic_oracle(hops=3),
        "g13_walkpairs": _skipgram_oracle(length=4, window=2),
        "kg_negsample": _negsample_oracle(k=2),
        # integer-exact Resource Allocation: 10^12 // deg sums are
        # order-independent BIGINTs, so the replay is bit-exact; // floors
        # in DuckDB == div truncation in Spark on positive ints
        "g12_linkpred": """
            WITH gi AS (
              SELECT DISTINCT CAST(l_orderkey AS VARCHAR) AS g,
                              CAST(l_partkey AS VARCHAR) AS item
              FROM lineitem
            ),
            kept AS (
              SELECT g, item FROM (
                SELECT g, item, count(*) OVER (PARTITION BY g) AS sz FROM gi
              ) WHERE sz <= 50
            ),
            e AS (
              SELECT a, b FROM (
                SELECT x.item AS a, y.item AS b, count(*) AS w
                FROM kept x JOIN kept y ON x.g = y.g AND x.item < y.item
                GROUP BY 1, 2
              ) WHERE w >= 2
            ),
            adj AS (SELECT a AS z, b AS n FROM e
                    UNION ALL SELECT b, a FROM e),
            deg AS (SELECT z, CAST(count(*) AS BIGINT) AS deg
                    FROM adj GROUP BY z),
            center AS (
              SELECT adj.z, adj.n, 1000000000000 // deg AS ra1
              FROM adj JOIN deg USING (z) WHERE deg <= 10
            ),
            w AS (
              SELECT x.n AS src, y.n AS dst, x.ra1
              FROM center x JOIN center y ON x.z = y.z AND x.n < y.n
            ),
            cand AS (
              SELECT src, dst, CAST(count(*) AS BIGINT) AS cn,
                     CAST(sum(ra1) AS BIGINT) AS ra_units
              FROM w GROUP BY 1, 2
            ),
            nc AS (
              SELECT cand.* FROM cand
              LEFT JOIN e ON cand.src = e.a AND cand.dst = e.b
              WHERE e.a IS NULL
            )
            SELECT src, dst, cn, ra_units,
                   round(cn / (du.deg + dv.deg - cn), 6) AS jaccard
            FROM nc JOIN deg du ON nc.src = du.z
                    JOIN deg dv ON nc.dst = dv.z
            ORDER BY ra_units DESC, src, dst LIMIT 100
        """,
        # unrolled 2-round integer HITS: a_r = sum_in(h_{r-1}), h_r = sum_out(a_r)
        "g10_hits": """
            WITH e AS MATERIALIZED (
              SELECT DISTINCT 'c:' || CAST(o_custkey AS VARCHAR) AS u,
                              's:' || CAST(l_suppkey AS VARCHAR) AS v
              FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            ),
            nodes AS (
              SELECT DISTINCT node FROM (SELECT u AS node FROM e UNION ALL SELECT v FROM e)
            ),
            h0 AS (SELECT node, CAST(1 AS BIGINT) AS h FROM nodes),
            a1 AS (SELECT v AS node, CAST(sum(h) AS BIGINT) AS a
                   FROM e JOIN h0 ON h0.node = e.u GROUP BY v),
            h1 AS (SELECT u AS node, CAST(sum(a) AS BIGINT) AS h
                   FROM e JOIN a1 ON a1.node = e.v GROUP BY u),
            a2 AS (SELECT v AS node, CAST(sum(h) AS BIGINT) AS a
                   FROM e JOIN h1 ON h1.node = e.u GROUP BY v),
            h2 AS (SELECT u AS node, CAST(sum(a) AS BIGINT) AS h
                   FROM e JOIN a2 ON a2.node = e.v GROUP BY u)
            SELECT n.node, coalesce(h2.h, 0) AS hub, coalesce(a2.a, 0) AS auth
            FROM nodes n LEFT JOIN h2 ON h2.node = n.node
                         LEFT JOIN a2 ON a2.node = n.node
        """,
        "sk_hll": f"""
            WITH hll AS (
              {_hll_oracle_sql(
                  "SELECT l_returnflag, l_orderkey FROM lineitem",
                  "l_returnflag",
                  "CAST(l_orderkey AS VARCHAR)",
              )}
            ),
            ex AS (
              SELECT l_returnflag,
                     CAST(count(DISTINCT l_orderkey) AS BIGINT) AS exact_distinct
              FROM lineitem GROUP BY 1
            )
            SELECT hll.l_returnflag, est_distinct, exact_distinct
            FROM hll JOIN ex USING (l_returnflag)
        """,
        "ml_kmeans": _kmeans_oracle_sql(k=8, iters=2, dim=64),
        "ml_silhouette": _silhouette_oracle_sql(k=8, iters=2, dim=64),
        # same sha256-derived bit positions, same 63-bit words, same bit_or
        # fold and all-bits-set probe — the filter itself is replayed
        "sk_bloom": f"""
            WITH docs AS (
              SELECT CAST(doc_id AS VARCHAR) AS doc_id, text FROM documents
            ),
            ev AS (SELECT doc_id, text FROM docs WHERE CAST(doc_id AS BIGINT) % 50 = 0),
            bpos AS (
              SELECT UNNEST([{', '.join(_bloom_positions('text', 'duck'))}]) AS pos
              FROM ev
            ),
            bloom AS (
              SELECT pos // 63 AS word,
                     bit_or(1::BIGINT << CAST(pos % 63 AS INTEGER)) AS bits
              FROM bpos GROUP BY 1
            ),
            probes AS (
              SELECT doc_id, text,
                     UNNEST([{', '.join(_bloom_positions('text', 'duck'))}]) AS pos
              FROM docs
            ),
            hits AS (
              SELECT doc_id, text,
                     CAST(sum(CASE WHEN b.bits IS NOT NULL
                                    AND (b.bits & (1::BIGINT << CAST(p.pos % 63 AS INTEGER)))
                                        = (1::BIGINT << CAST(p.pos % 63 AS INTEGER))
                                   THEN 1 ELSE 0 END) AS INTEGER) AS hits
              FROM probes p LEFT JOIN bloom b ON b.word = p.pos // 63
              GROUP BY doc_id, text
            )
            SELECT h.doc_id, h.hits,
                   (h.text IN (SELECT text FROM ev)) AS exact_member
            FROM hits h WHERE h.hits = {4}
        """,
        # batch HLL over the full events table == the streamed register-merge
        # (mergeability is the theorem under test)
        # Morton interleave replay: disjoint bit positions, so OR == sum and
        # list_sum replays Spark's aggregate fold exactly
        "layout_zorder": """
            WITH v AS (
              SELECT CAST(user_id AS BIGINT) AS x,
                     CAST(floor(value * 100) AS BIGINT) AS y
              FROM events
            ),
            z AS (
              SELECT x, y,
                     CAST(list_sum([
                       (((x >> i) & 1) << (2 * i))
                       + (((y >> i) & 1) << (2 * i + 1))
                       FOR i IN generate_series(0, 15)
                     ]) AS BIGINT) AS zkey
              FROM v
            )
            SELECT zkey >> 24 AS bucket, CAST(count(*) AS BIGINT) AS cnt,
                   min(x) AS x_min, max(x) AS x_max,
                   min(y) AS y_min, max(y) AS y_max
            FROM z GROUP BY 1
        """,
        "bpe_merges": _bpe_oracle(rounds=4),
        # HDR sketch replay: identical integer buckets, cumulative walk and
        # rank pick; q literals cast to DOUBLE so ceil(q*n) matches Spark
        "sk_quantile": """
            WITH v AS (
              SELECT CAST(floor(l_extendedprice * 100) AS BIGINT) AS x
              FROM lineitem
            ),
            sk AS (
              SELECT CAST(length(bin(x)) AS INTEGER) AS b,
                     x >> CAST(greatest(length(bin(x)) - 5, 0) AS INTEGER)
                       AS hi,
                     CAST(count(*) AS BIGINT) AS cnt
              FROM v GROUP BY 1, 2
            ),
            cum AS (
              SELECT b, hi, cnt,
                     sum(cnt) OVER (ORDER BY b, hi
                                    ROWS UNBOUNDED PRECEDING) AS cum
              FROM sk
            ),
            tot AS (SELECT sum(cnt) AS n FROM sk),
            qs AS (SELECT unnest([0.25, 0.5, 0.75, 0.9, 0.99]) AS q0),
            pick AS (
              SELECT CAST(q0 AS DOUBLE) AS q, b, hi,
                     row_number() OVER (PARTITION BY q0 ORDER BY b, hi) AS rn
              FROM qs, cum, tot
              WHERE cum >= ceil(CAST(q0 AS DOUBLE) * n)
            )
            SELECT q,
                   CAST(hi << CAST(greatest(b - 5, 0) AS INTEGER) AS BIGINT)
                     AS est
            FROM pick WHERE rn = 1
        """,
        # streamed per-batch CMS sketches sum to the batch sketch of the
        # full input, so the batch oracle replays the streamed answer
        # streamed inner join == batch time-bounded join (watermark never
        # evicts state before its matches under a drained availableNow run)
        "sql_tpch_q6": """
            SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
            FROM lineitem
            WHERE l_shipdate >= '1997-01-01' AND l_shipdate < '1998-01-01'
              AND l_discount >= 0.05 AND l_discount <= 0.07
              AND l_quantity < 24
        """,
        "sql_tpch_q1": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_base_price,
                   round(sum(l_extendedprice * (1.0 - l_discount)), 2)
                     AS sum_disc_price,
                   round(sum(l_extendedprice * (1.0 - l_discount)
                             * (1.0 + l_tax)), 2) AS sum_charge,
                   round(avg(l_quantity), 4) AS avg_qty,
                   round(avg(l_extendedprice), 4) AS avg_price,
                   round(avg(l_discount), 4) AS avg_disc,
                   CAST(count(*) AS BIGINT) AS count_order
            FROM lineitem
            WHERE l_shipdate <= '1998-09-02'
            GROUP BY l_returnflag, l_linestatus
        """,
        "sql_tpch_q3": """
            SELECT l_orderkey,
                   strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
                   round(sum(l_extendedprice * (1 - l_discount)), 2)
                     AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            WHERE c_mktsegment = 'BUILDING'
              AND o_orderdate < '1999-01-01'
              AND l_shipdate > '1999-01-01'
            GROUP BY l_orderkey, o_orderdate
            ORDER BY revenue DESC, l_orderkey LIMIT 10
        """,
        "stream_join": """
            SELECT p.event_id AS purchase_id, v.event_id AS view_id,
                   p.user_id,
                   CAST(floor(epoch(p.ts)) - floor(epoch(v.ts)) AS BIGINT)
                     AS gap_s
            FROM events p JOIN events v
              ON p.user_id = v.user_id
             AND p.event_type = 'purchase' AND v.event_type = 'view'
             AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 7200 SECOND
        """,
        "stream_cms": _cms_oracle_sql(
            "SELECT CAST(user_id AS VARCHAR) AS v FROM events",
            "v", k=20, out_key="user_key",
        ),
        "stream_hll": f"""
            WITH hll AS (
              {_hll_oracle_sql(
                  "SELECT event_type, user_id FROM events",
                  "event_type",
                  "CAST(user_id AS VARCHAR)",
              )}
            ),
            ex AS (
              SELECT event_type,
                     CAST(count(DISTINCT user_id) AS BIGINT) AS exact_distinct
              FROM events GROUP BY 1
            )
            SELECT hll.event_type, est_distinct, exact_distinct
            FROM hll JOIN ex USING (event_type)
        """,
        "dd_resolve": f"""
            WITH RECURSIVE {_SHINGLE_CTE},
            p AS (SELECT id_a, id_b FROM jacc WHERE jaccard >= 0.9),
            edges AS (SELECT id_a AS s, id_b AS d FROM p UNION SELECT id_b, id_a FROM p),
            verts AS (SELECT DISTINCT s AS v FROM edges),
            reach AS (
              SELECT v, v AS r FROM verts
              UNION
              SELECT e.d AS v, reach.r FROM reach JOIN edges e ON e.s = reach.v
            ),
            comp AS (SELECT v, min(r) AS component FROM reach GROUP BY v)
            SELECT CAST(d.doc_id AS VARCHAR) AS doc_id,
                   coalesce(c.component, CAST(d.doc_id AS VARCHAR)) AS canonical_id,
                   coalesce(c.component, CAST(d.doc_id AS VARCHAR))
                     <> CAST(d.doc_id AS VARCHAR) AS is_dup
            FROM documents d
            LEFT JOIN comp c ON c.v = CAST(d.doc_id AS VARCHAR)
        """,
        "ts_split": """
            WITH b AS (
              SELECT lang,
                     ('0x' || substr(sha256('split-v1' || ',' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                       % 100 AS bucket
              FROM documents
            )
            SELECT lang,
                   CASE WHEN bucket < 80 THEN 'train'
                        WHEN bucket < 90 THEN 'val'
                        ELSE 'test' END AS split,
                   CAST(count(*) AS BIGINT) AS n_docs
            FROM b GROUP BY 1, 2
        """,
        "retrieval_hybrid": """
            WITH d AS (
              SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                     string_split(text, ' ') AS ws
              FROM documents
            ),
            dl AS (SELECT doc_id, len(ws) AS dl FROM d),
            stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
            hits AS (SELECT doc_id, UNNEST(ws) AS term FROM d),
            tf AS (
              SELECT doc_id, term, count(*) AS tf FROM hits
              WHERE term IN ('customer', 'spark', 'stream')
              GROUP BY doc_id, term
            ),
            dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
            s AS (
              SELECT tf.doc_id,
                     ln(1.0 + (stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
                       * (tf.tf * 2.2)
                       / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl)) AS s
              FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id), stats
            ),
            lex AS (
              SELECT doc_id, round(sum(s), 4) AS score
              FROM s GROUP BY doc_id
              ORDER BY score DESC, doc_id LIMIT 50
            ),
            q AS (
              SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
              FROM embeddings WHERE vec_id = 0
            ),
            v AS (
              SELECT CAST(vec_id AS VARCHAR) AS doc_id,
                     list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
              FROM embeddings
            ),
            dense AS (
              SELECT doc_id, round(list_dot_product(e, qv)
                     / (sqrt(list_dot_product(e, e)) * sqrt(list_dot_product(qv, qv))),
                     4) AS score
              FROM v, q ORDER BY score DESC, doc_id LIMIT 50
            ),
            lr AS (
              SELECT doc_id,
                     row_number() OVER (ORDER BY score DESC, doc_id ASC) AS r
              FROM lex
            ),
            dr AS (
              SELECT doc_id,
                     row_number() OVER (ORDER BY score DESC, doc_id ASC) AS r
              FROM dense
            )
            SELECT doc_id,
                   round(coalesce(1.0 / (60.0 + lr.r), 0.0)
                         + coalesce(1.0 / (60.0 + dr.r), 0.0), 6) AS rrf
            FROM lr FULL OUTER JOIN dr USING (doc_id)
            ORDER BY rrf DESC, doc_id ASC LIMIT 10
        """,
        "sk_cms": _cms_oracle_sql(
            "SELECT CAST(l_partkey AS VARCHAR) AS v FROM lineitem",
            "v", k=20, out_key="partkey",
        ),
        "ts_tfidf": """
            WITH words AS (
              SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                     UNNEST(string_split(text, ' ')) AS term
              FROM documents
            ),
            w2 AS (SELECT doc_id, term FROM words WHERE term <> ''),
            tf AS (SELECT doc_id, term, count(*) AS tf FROM w2 GROUP BY 1, 2),
            dft AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
            nd AS (SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n FROM documents),
            scored AS (
              SELECT tf.doc_id, tf.term,
                     round(tf.tf * (ln((1.0 + nd.n) / (1.0 + dft.df)) + 1.0), 4) AS score
              FROM tf JOIN dft USING (term) CROSS JOIN nd
            )
            SELECT doc_id, term, score FROM (
              SELECT doc_id, term, score,
                     row_number() OVER (
                       PARTITION BY doc_id ORDER BY score DESC, term ASC
                     ) AS rn
              FROM scored
            ) WHERE rn <= 3
        """,
        "ts_pmi": """
            WITH ws AS (SELECT string_split(text, ' ') AS ws FROM documents),
            big AS (
              SELECT b.w1 AS w1, b.w2 AS w2 FROM (
                SELECT UNNEST([{'w1': ws[i], 'w2': ws[i + 1]}
                               FOR i IN generate_series(1, len(ws) - 1)]) AS b
                FROM ws
              ) WHERE b.w1 <> '' AND b.w2 <> ''
            ),
            cxy AS (SELECT w1, w2, count(*) AS n FROM big GROUP BY 1, 2),
            cx AS (SELECT w1, count(*) AS cx FROM big GROUP BY 1),
            cy AS (SELECT w2, count(*) AS cy FROM big GROUP BY 1),
            t AS (SELECT CAST(count(*) AS DOUBLE) AS total FROM big)
            SELECT w1, w2, CAST(n AS BIGINT) AS n,
                   round(ln(CAST(n AS DOUBLE) * t.total / (cx.cx * cy.cy)), 4) AS pmi
            FROM cxy JOIN cx USING (w1) JOIN cy USING (w2) CROSS JOIN t
            WHERE n >= 10
            ORDER BY pmi DESC, w1 ASC, w2 ASC
            LIMIT 20
        """,
        # batched retrieval replay: embeddings of every description + BOTH
        # query texts, per-query LSH bucket probe (same sha256 planes as
        # ann_lsh; float64 query vectors match the Spark batch path exactly),
        # exact rescoring of candidates, per-query top-5, per-query weighted
        # graphs, ONE query-keyed recursive-CTE PPR, and per-query doc
        # ranking — value-exact vs retrieve_documents_batch
        "retrieval_batch": f"""
            WITH RECURSIVE {_REL_CTE},
            descs AS (SELECT DISTINCT description AS txt FROM rels_id),
            alltxt AS (
              SELECT txt, '' AS qid FROM descs
              UNION ALL SELECT 'which customer stream uses spark', 'q0'
              UNION ALL SELECT 'vector table technology', 'q1'
            ),
            tri AS (
              SELECT txt, qid,
                     UNNEST([substr('^' || txt || '$', i, 3)
                             FOR i IN generate_series(1, length(txt))]) AS tri
              FROM alltxt
            ),
            feat AS (
              SELECT txt, qid,
                     ('0x' || substr(sha256(tri), 15, 2))::INT % 64 AS bucket,
                     CASE WHEN ('0x' || substr(sha256(tri), 13, 2))::INT % 2 = 0
                          THEN 1.0 ELSE -1.0 END AS sgn
              FROM tri
            ),
            vec0 AS (
              SELECT txt, qid, bucket, CAST(sum(sgn) AS DOUBLE) AS val
              FROM feat GROUP BY txt, qid, bucket
            ),
            nrm0 AS (SELECT txt, qid, sqrt(sum(val * val)) AS n
                     FROM vec0 GROUP BY txt, qid),
            vec AS (
              SELECT v.txt, v.qid, v.bucket,
                     CASE WHEN v.qid = ''
                          THEN CAST(CAST(v.val / nrm0.n AS REAL) AS DOUBLE)
                          ELSE v.val / nrm0.n END AS val
              FROM vec0 v JOIN nrm0 USING (txt, qid)
            ),
            dn AS (SELECT txt, sqrt(sum(val * val)) AS n
                   FROM vec WHERE qid = '' GROUP BY txt),
            qn AS (SELECT qid, sqrt(sum(val * val)) AS n
                   FROM vec WHERE qid <> '' GROUP BY qid),
            dotq AS (
              SELECT d.txt, q.qid, sum(d.val * q.val) AS dp
              FROM (SELECT * FROM vec WHERE qid = '') d
              JOIN (SELECT * FROM vec WHERE qid <> '') q ON q.bucket = d.bucket
              GROUP BY d.txt, q.qid
            ),
            {_PLANES_CTE.strip().rstrip()},
            dotsb AS (
              SELECT v.txt, v.qid, p.t, p.b, sum(v.val * p.w) AS dot
              FROM vec v JOIN planes p ON p.d = v.bucket
              GROUP BY v.txt, v.qid, p.t, p.b
            ),
            gridb AS (
              SELECT a.txt, a.qid, ts.t, bs.b
              FROM (SELECT DISTINCT txt, qid FROM alltxt) a,
                   generate_series(0, 7) ts(t), generate_series(0, 3) bs(b)
            ),
            bktb AS (
              SELECT g.txt, g.qid, g.t,
                     sum(CASE WHEN coalesce(d.dot, 0.0) >= 0
                              THEN 1 << g.b ELSE 0 END) AS bucket
              FROM gridb g LEFT JOIN dotsb d
                ON d.txt = g.txt AND d.qid = g.qid AND d.t = g.t AND d.b = g.b
              GROUP BY g.txt, g.qid, g.t
            ),
            qbktb AS (SELECT qid, t, bucket FROM bktb WHERE qid <> ''),
            candb AS (
              SELECT DISTINCT q.qid, b.txt
              FROM bktb b JOIN qbktb q
                ON b.qid = '' AND b.t = q.t AND b.bucket = q.bucket
            ),
            score_desc AS (
              SELECT c.qid, c.txt,
                     round(coalesce(dotq.dp, 0.0) / (dn.n * qn.n), 4) AS score
              FROM candb c
              LEFT JOIN dotq ON dotq.txt = c.txt AND dotq.qid = c.qid
              JOIN dn ON dn.txt = c.txt
              JOIN qn ON qn.qid = c.qid
            ),
            tope AS (
              SELECT qid, edge_id, score FROM (
                SELECT s.qid, r2.relation_id AS edge_id, s.score,
                       row_number() OVER (PARTITION BY s.qid
                                          ORDER BY s.score DESC, r2.relation_id) AS rn
                FROM rels_id r2 JOIN score_desc s ON s.txt = r2.description
              ) WHERE rn <= 5
            ),
            rawq AS (
              SELECT q.qid, r3.head_text AS s, r3.tail_text AS t2,
                     CASE WHEN tope.score IS NOT NULL
                          THEN greatest(tope.score, 1e-6) ELSE 0.2 END AS w
              FROM rels_id r3
              CROSS JOIN (SELECT DISTINCT qid FROM tope) q
              LEFT JOIN tope ON tope.qid = q.qid AND tope.edge_id = r3.relation_id
            ),
            srcsq AS (
              SELECT DISTINCT qid, v FROM (
                SELECT tope.qid, r4.head_text AS v
                FROM rels_id r4 JOIN tope ON tope.edge_id = r4.relation_id
                UNION
                SELECT tope.qid, r5.tail_text
                FROM rels_id r5 JOIN tope ON tope.edge_id = r5.relation_id)
            ),
            symq AS (SELECT qid, s, t2, w FROM rawq
                     UNION ALL SELECT qid, t2, s, w FROM rawq),
            eq AS MATERIALIZED (
              SELECT qid, s AS src, t2 AS dst, sum(w) AS w
              FROM symq GROUP BY qid, s, t2
            ),
            owq AS (SELECT qid, src, sum(w) AS tot FROM eq GROUP BY qid, src),
            etq AS MATERIALIZED (
              SELECT eq.qid, eq.src, eq.dst, eq.w / owq.tot AS tw
              FROM eq JOIN owq ON owq.qid = eq.qid AND owq.src = eq.src
            ),
            pvq AS (SELECT DISTINCT qid, v FROM
                    (SELECT qid, src AS v FROM eq
                     UNION SELECT qid, dst FROM eq
                     UNION SELECT qid, v FROM srcsq)),
            nsq AS (SELECT qid, count(*) AS n FROM srcsq GROUP BY qid),
            persq AS MATERIALIZED (
              SELECT pvq.qid, pvq.v,
                     CASE WHEN srcsq.v IS NOT NULL THEN 1.0 / nsq.n ELSE 0.0 END AS p
              FROM pvq
              LEFT JOIN srcsq ON srcsq.qid = pvq.qid AND srcsq.v = pvq.v
              JOIN nsq ON nsq.qid = pvq.qid
            ),
            rq(i, qid, v, score) AS (
              SELECT 0, qid, v, p FROM persq
              UNION ALL
              SELECT cur.i + 1, persq.qid, persq.v,
                     (1.0 - 0.85) * persq.p
                     + 0.85 * (coalesce(infl.x, 0.0) + coalesce(dang.m, 0.0) * persq.p)
              FROM persq
              CROSS JOIN (SELECT max(i) AS i FROM rq) cur
              LEFT JOIN (SELECT etq.qid, etq.dst AS v, sum(rq.score * etq.tw) AS x
                         FROM rq JOIN etq ON etq.qid = rq.qid AND etq.src = rq.v
                         GROUP BY etq.qid, etq.dst) infl
                ON infl.qid = persq.qid AND infl.v = persq.v
              LEFT JOIN (SELECT rq.qid, coalesce(sum(rq.score), 0.0) AS m FROM rq
                         WHERE NOT EXISTS (SELECT 1 FROM eq
                                           WHERE eq.qid = rq.qid AND eq.src = rq.v)
                         GROUP BY rq.qid) dang
                ON dang.qid = persq.qid
              WHERE cur.i < 300
            ),
            ranksq AS (SELECT qid, v, score FROM rq WHERE i = 300),
            docwq AS (
              SELECT ranksq.qid, m.doc_id, sum(ranksq.score) AS weight
              FROM mentions m JOIN ranksq ON ranksq.v = m.text
              GROUP BY ranksq.qid, m.doc_id
            )
            SELECT qid AS query_id, doc_id, round(weight, 6) AS weight FROM (
              SELECT *, row_number() OVER (PARTITION BY qid
                                           ORDER BY weight DESC, doc_id) AS rn
              FROM docwq
            ) WHERE rn <= 5
        """,
        # exact replay of the driver/distributed PPR loop in a recursive CTE:
        # same symmetrization, same transition normalization, same dangling
        # handling; Spark runs the full 30 iterations here (no early exit at
        # tol 1e-9), so both sides compute the identical iterate
        "g3_pagerank": f"""
            WITH RECURSIVE {_REL_CTE},
            cnt AS (SELECT text, count(*) AS n FROM mentions GROUP BY text),
            srcs AS (SELECT text AS v FROM cnt ORDER BY n DESC, text LIMIT 3),
            raw AS (SELECT head_text AS s, tail_text AS t2, 0.2::DOUBLE AS w FROM rels_id),
            {_ppr_recursive(30)}
            SELECT v AS text, round(score, 4) AS score FROM ranks
        """,
        # end-to-end retrieval replay: trigram-hash embeddings of every edge
        # description and the query, LSH bucket probe (same sha256 planes as
        # ann_lsh), exact rescoring, top-5 edges, weighted PPR from their
        # endpoints to the fixed point, membership-summed doc weights
        "retrieval_topk": f"""
            WITH RECURSIVE {_REL_CTE},
            descs AS (SELECT DISTINCT description AS txt FROM rels_id),
            alltxt AS (
              SELECT 'which customer stream uses spark' AS txt, 1 AS is_q
              UNION ALL SELECT txt, 0 FROM descs
            ),
            {_EMBED_FEAT_CTE},
            {_PLANES_CTE},
            dots AS (
              SELECT v.txt, v.is_q, p.t, p.b, sum(v.val * p.w) AS dot
              FROM vec v JOIN planes p ON p.d = v.bucket
              GROUP BY v.txt, v.is_q, p.t, p.b
            ),
            grid AS (
              SELECT a.txt, a.is_q, ts.t, bs.b
              FROM (SELECT DISTINCT txt, is_q FROM alltxt) a,
                   generate_series(0, 7) ts(t), generate_series(0, 3) bs(b)
            ),
            bkt AS (
              SELECT g.txt, g.is_q, g.t,
                     sum(CASE WHEN coalesce(d.dot, 0.0) >= 0 THEN 1 << g.b ELSE 0 END) AS bucket
              FROM grid g LEFT JOIN dots d
                ON d.txt = g.txt AND d.is_q = g.is_q AND d.t = g.t AND d.b = g.b
              GROUP BY g.txt, g.is_q, g.t
            ),
            qbkt AS (SELECT t, bucket FROM bkt WHERE is_q = 1),
            cand AS (
              SELECT DISTINCT b.txt FROM bkt b
              JOIN qbkt ON b.is_q = 0 AND b.t = qbkt.t AND b.bucket = qbkt.bucket
            ),
            qv AS (SELECT bucket, val FROM vec WHERE is_q = 1),
            qn AS (SELECT sqrt(sum(val * val)) AS n FROM qv),
            dn AS (SELECT txt, sqrt(sum(val * val)) AS n FROM vec WHERE is_q = 0 GROUP BY txt),
            dotq AS (
              SELECT v.txt, sum(v.val * qv.val) AS dp
              FROM vec v JOIN qv ON qv.bucket = v.bucket WHERE v.is_q = 0 GROUP BY v.txt
            ),
            score_desc AS (
              SELECT cand.txt, round(coalesce(dotq.dp, 0.0) / (dn.n * qn.n), 4) AS score
              FROM cand LEFT JOIN dotq USING (txt) JOIN dn USING (txt) CROSS JOIN qn
            ),
            tope AS (
              SELECT r2.relation_id AS edge_id, s.score
              FROM rels_id r2 JOIN score_desc s ON s.txt = r2.description
              ORDER BY s.score DESC, edge_id LIMIT 5
            ),
            raw AS (
              SELECT r3.head_text AS s, r3.tail_text AS t2,
                     CASE WHEN tope.score IS NOT NULL
                          THEN greatest(tope.score, 1e-6) ELSE 0.2 END AS w
              FROM rels_id r3 LEFT JOIN tope ON tope.edge_id = r3.relation_id
            ),
            srcs AS (
              SELECT DISTINCT v FROM (
                SELECT r4.head_text AS v FROM rels_id r4 JOIN tope ON tope.edge_id = r4.relation_id
                UNION
                SELECT r5.tail_text FROM rels_id r5 JOIN tope ON tope.edge_id = r5.relation_id)
            ),
            {_ppr_recursive(300)},
            docw AS (
              SELECT m.doc_id, sum(ranks.score) AS weight
              FROM mentions m JOIN ranks ON ranks.v = m.text
              GROUP BY m.doc_id
            )
            SELECT doc_id, round(weight, 6) AS weight
            FROM docw ORDER BY weight DESC, doc_id LIMIT 5
        """,
        # byte-exact frame replay: payload(ref) = sha256 digest repeated to
        # 256 + digest[0] bytes; frame i = payload[i*step:(i+1)*step],
        # step = size//4 — all reconstructable from the hex digest in SQL
        "mm_frames": """
            WITH refs AS (
              SELECT 'media://img/doc_' || CAST(doc_id AS VARCHAR) || '/0' AS media_ref
              FROM documents WHERE doc_id % 5 = 0
              UNION ALL
              SELECT 'media://aud/doc_' || CAST(doc_id AS VARCHAR) || '/0'
              FROM documents WHERE doc_id % 10 = 0
            ),
            s AS (
              SELECT media_ref, sha256(media_ref) AS hx,
                     256 + ('0x' || substr(sha256(media_ref), 1, 2))::INT AS size
              FROM refs
            ),
            p AS (
              SELECT media_ref, substr(repeat(hx, 16), 1, 2 * size) AS ph,
                     size // 4 AS step
              FROM s
            )
            SELECT media_ref, CAST(i AS INT) AS frame_idx,
                   upper(substr(ph, 2 * i * step + 1, 2 * step)) AS frame_hex
            FROM p, generate_series(0, 3) g(i)
        """,
        # full SQL replay of synthesize_spans (sources/interleaved.py): k
        # word-boundary text spans + image after span 1 (doc_id%5) + trailing
        # audio (doc_id%10), then the same preceding-else-following
        # running-window caption pairing as align_media_to_text
        # cost from the documents table via the synthesis invariants: span
        # word counts sum to the doc's word count; media spans by doc_id mod
        "mm_pack": """
            WITH b AS (
              SELECT CAST(('0x' || substr(sha256(CAST(doc_id AS VARCHAR)),
                           1, 15))::BIGINT % 8 AS INTEGER) AS shard,
                     CAST(doc_id AS BIGINT) AS doc_id,
                     CAST(len(string_split(text, ' '))
                          + CASE WHEN doc_id % 5 = 0 THEN 256 ELSE 0 END
                          + CASE WHEN doc_id % 10 = 0 THEN 750 ELSE 0 END
                          AS BIGINT) AS n_tokens
              FROM documents
            )
            SELECT shard, doc_id, n_tokens,
                   CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                                            ROWS UNBOUNDED PRECEDING)
                        - n_tokens AS BIGINT) AS start_off,
                   CAST(floor((sum(n_tokens) OVER (PARTITION BY shard
                                                   ORDER BY doc_id
                                                   ROWS UNBOUNDED PRECEDING)
                               - n_tokens) / 2048.0) AS BIGINT) AS seq_id
            FROM b
        """,
        # span synthesis replay + lag bigram over positions
        "mm_transitions": f"""
            WITH {_SPANS_SQL},
            t AS (
              SELECT doc_id, p, s.kind,
                     lag(s.kind) OVER (PARTITION BY doc_id ORDER BY p)
                       AS prev
              FROM ex
            )
            SELECT prev AS from_kind, kind AS to_kind,
                   CAST(count(*) AS BIGINT) AS cnt
            FROM t WHERE prev IS NOT NULL GROUP BY 1, 2
        """,
        "mm_align": f"""
            WITH {_SPANS_SQL},
            cap AS (
              SELECT doc_id, p, s,
                     last_value(CASE WHEN s.kind = 'text'
                                     THEN struct_pack(o := s.off, t := s.txt) END
                                IGNORE NULLS)
                       OVER (PARTITION BY doc_id ORDER BY p
                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev,
                     first_value(CASE WHEN s.kind = 'text'
                                      THEN struct_pack(o := s.off, t := s.txt) END
                                 IGNORE NULLS)
                       OVER (PARTITION BY doc_id ORDER BY p
                             ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nxt
              FROM ex
            )
            SELECT doc_id, CAST(p - 1 AS INT) AS pos, s.ref AS media_ref,
                   s.kind AS media_type, coalesce(prev.t, nxt.t) AS caption,
                   CAST(coalesce(prev.o, nxt.o) AS INT) AS caption_offset
            FROM cap WHERE s.kind <> 'text'
        """,
        # DuckDB's native ASOF JOIN replays the operator; the right side is
        # deduped per (user, ts) on both sides so tie winners are pinned
        # plain range join replays the binned equi-join exactly (binning
        # only prunes candidates; the overlap predicate is identical)
        "interval_overlap": """
            WITH iv AS (
              SELECT user_id, event_type, CAST(event_id AS BIGINT) AS iid,
                     CAST(floor(epoch(ts)) AS BIGINT) AS s,
                     CAST(floor(epoch(ts)) AS BIGINT)
                       + CAST(floor(value * 120) AS BIGINT) AS e
              FROM events
            )
            SELECT l.user_id, l.iid AS l_id, r.iid AS r_id,
                   greatest(l.s, r.s) AS overlap_start,
                   least(l.e, r.e) AS overlap_end
            FROM iv l JOIN iv r
              ON l.user_id = r.user_id AND l.s <= r.e AND r.s <= l.e
            WHERE l.event_type = 'error' AND r.event_type = 'purchase'
        """,
        "asof_join": """
            WITH r AS (
              SELECT user_id, ts, max(event_id) AS r_event_id,
                     max_by(value, event_id) AS r_value
              FROM events WHERE event_type = 'view' GROUP BY user_id, ts
            ),
            l AS (SELECT event_id, user_id, ts FROM events
                  WHERE event_type = 'purchase')
            SELECT l.event_id, l.user_id,
                   CAST(floor(epoch(l.ts)) AS BIGINT) AS ts_epoch,
                   r.r_event_id AS matched_event_id,
                   round(r.r_value, 4) AS matched_value
            FROM l ASOF LEFT JOIN r
              ON l.user_id = r.user_id AND l.ts >= r.ts
        """,
        # closed sessions from the STREAMING stateful operator == batch
        # sessionization minus each user's trailing (still-open) session
        # the streamed-and-replayed relation table must equal the batch one
        # incremental MERGE folds must reconstruct the batch relation table
        "kg_incremental": f"""
            WITH {_REL_CTE}
            SELECT relation_id, doc_id, head_mention_id, tail_mention_id, rel_type, description
            FROM rels_id
        """,
        "stream_relations": f"""
            WITH {_REL_CTE}
            SELECT relation_id, doc_id, head_mention_id, tail_mention_id, rel_type, description
            FROM rels_id
        """,
        "stream_sessions": """
            WITH ordered AS (
              SELECT user_id, value, CAST(floor(epoch(ts)) AS BIGINT) AS t, event_id,
                     lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER
                       (PARTITION BY user_id ORDER BY ts, event_id) AS prev
              FROM events
            ),
            marked AS (
              SELECT *, CASE WHEN prev IS NULL OR t - prev > 1800
                             THEN 1 ELSE 0 END AS new_s
              FROM ordered
            ),
            sess AS (
              SELECT *, sum(new_s) OVER (PARTITION BY user_id
                                         ORDER BY t, event_id
                                         ROWS UNBOUNDED PRECEDING) AS sid
              FROM marked
            ),
            agg AS (
              SELECT user_id, sid, min(t) AS session_start, max(t) AS session_end,
                     CAST(count(*) AS BIGINT) AS n_events,
                     round(sum(value), 4) AS total_value
              FROM sess GROUP BY user_id, sid
            ),
            last AS (SELECT user_id, max(sid) AS last_sid FROM agg GROUP BY user_id)
            SELECT a.user_id, a.session_start, a.session_end, a.n_events, a.total_value
            FROM agg a JOIN last l ON l.user_id = a.user_id AND a.sid < l.last_sid
        """,
        "sql_agg_pushdown": """
            SELECT l_returnflag, l_linestatus,
                   CAST(count(*) AS BIGINT) AS count_order,
                   round(SUM(l_quantity), 2) AS sum_qty,
                   round(SUM(l_extendedprice), 2) AS sum_base_price,
                   round(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price
            FROM lineitem WHERE l_shipdate <= '1998-09-02'
            GROUP BY l_returnflag, l_linestatus
        """,
        "sql_join_agg": """
            SELECT n_name, round(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            GROUP BY n_name
        """,
        "sql_topk_count": """
            SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders
            FROM orders GROUP BY o_custkey
            ORDER BY n_orders DESC, o_custkey LIMIT 10
        """,
        "sql_anti_join": """
            SELECT c_custkey FROM customer
            WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        """,
        "sql_window_cum": """
            SELECT user_id, event_id, rn, cum_value FROM (
              SELECT user_id, event_id,
                     row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn,
                     round(SUM(value) OVER (PARTITION BY user_id ORDER BY event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS cum_value
              FROM events)
            WHERE rn <= 5
        """,
        "sql_rollup": """
            SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day, event_type,
                   CAST(count(*) AS BIGINT) AS n_events,
                   round(SUM(value), 4) AS total_value
            FROM events
            GROUP BY ROLLUP (CAST(ts AS DATE), event_type)
        """,
        "sql_quantiles": """
            SELECT event_type,
                   round(quantile_cont(value, 0.5), 4) AS p50,
                   round(quantile_cont(value, 0.95), 4) AS p95,
                   CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
            FROM events GROUP BY event_type
        """,
        "sql_sessionize": """
            SELECT user_id, CAST(1 + SUM(CASE WHEN delta > 1800 THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions
            FROM (
              SELECT user_id,
                     epoch(ts) - lag(epoch(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS delta
              FROM events)
            GROUP BY user_id
        """,
        # temperature rebalancing replay: per-lang counts, alpha=0.3 rates
        # rounded 6dp on BOTH sides of the keep comparison (pow ULP-safe)
        "ts_temperature": """
            WITH c AS (
              SELECT lang, CAST(count(*) AS BIGINT) AS n_s
              FROM documents GROUP BY lang
            ),
            t AS (
              SELECT CAST(sum(n_s) AS DOUBLE) AS n_total,
                     sum(pow(CAST(n_s AS DOUBLE), 0.3)) AS sum_w
              FROM c
            ),
            r AS (
              SELECT lang,
                     round(least(1.0,
                       0.5 * n_total * pow(CAST(n_s AS DOUBLE), 0.3)
                       / (sum_w * n_s)), 6) AS rate
              FROM c, t
            ),
            d AS (
              SELECT CAST(doc_id AS BIGINT) AS doc_id, lang,
                     round((('0x' || substr(sha256('temp1' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                            % 1000000) / 1000000.0, 6) AS mix_u
              FROM documents
            )
            SELECT d.doc_id, d.lang, d.mix_u, r.rate
            FROM d JOIN r USING (lang) WHERE d.mix_u < r.rate
        """,
        # DSIR replay: hashed uni+bigram buckets, add-0.5-smoothed bucket LMs
        # (target = lang 'en', raw = all), bucket-sorted ln fold, Gumbel keys
        # from the salted sha256 draw; sampled = Gumbel top-50 (rank over the
        # SAME rounded keys the Spark side ranks, ties on doc_id)
        "ts_dsir": """
            WITH d AS (
              SELECT CAST(doc_id AS BIGINT) AS doc_id, lang = 'en' AS is_t,
                     string_split(lower(text), ' ') AS ws
              FROM documents WHERE text IS NOT NULL
            ),
            f AS (
              SELECT doc_id, is_t,
                     UNNEST(list_concat(ws,
                       CASE WHEN len(ws) < 2 THEN []
                            ELSE [ws[i] || ' ' || ws[i + 1]
                                  FOR i IN generate_series(1, len(ws) - 1)]
                       END)) AS feat
              FROM d
            ),
            b AS (
              SELECT doc_id, is_t,
                     CAST(('0x' || substr(sha256(feat), 1, 15))::BIGINT % 64
                          AS INTEGER) AS bucket
              FROM f
            ),
            ct AS (SELECT bucket, CAST(count(*) AS BIGINT) AS ctc
                   FROM b WHERE is_t GROUP BY bucket),
            cr AS (SELECT bucket, CAST(count(*) AS BIGINT) AS crc
                   FROM b GROUP BY bucket),
            probs AS (
              SELECT cr.bucket, coalesce(ct.ctc, 0) AS ctc, cr.crc AS crc
              FROM cr LEFT JOIN ct USING (bucket)
            ),
            tot AS (
              SELECT CAST(sum(ctc) AS DOUBLE) AS t_tot,
                     CAST(sum(crc) AS DOUBLE) AS r_tot
              FROM probs
            ),
            pd AS (SELECT doc_id, bucket, CAST(count(*) AS BIGINT) AS n_occ
                   FROM b GROUP BY doc_id, bucket),
            terms AS (
              SELECT doc_id, CAST(sum(n_occ) AS BIGINT) AS n_feats,
                     list({'bucket': bucket, 'n_occ': n_occ,
                           'ctc': ctc, 'crc': crc} ORDER BY bucket) AS ts
              FROM pd JOIN probs USING (bucket) GROUP BY doc_id
            ),
            scored AS (
              SELECT doc_id, n_feats,
                     list_reduce(list_prepend(0.0, list_transform(ts,
                       t -> t.n_occ * (ln((t.ctc + 0.5) / (t_tot + 0.5 * 64))
                                       - ln((t.crc + 0.5) / (r_tot + 0.5 * 64))))),
                       (a, x) -> a + x) AS lw
              FROM terms, tot
            ),
            keyed AS (
              SELECT doc_id, n_feats, round(lw, 4) AS log_weight,
                     round(lw - ln(-ln(
                       (('0x' || substr(sha256('dsir' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                        % 1000000 + 0.5) / 1000000.0)), 4) AS gumbel_key
              FROM scored
            )
            SELECT doc_id, n_feats, log_weight, gumbel_key,
                   row_number() OVER (ORDER BY gumbel_key DESC, doc_id) <= 50 AS sampled
            FROM keyed
        """,
        # kNN graph replay: same sha256 hyperplanes as ann.py:hyperplane
        # (seed 42, 8 tables x 4 bits, dim 64), self-equi-join on
        # (table, bucket), exact cosine on the deduped ordered pairs,
        # row_number over the SAME rounded scores
        "ann_knn": """
            WITH planes AS (
              SELECT t, b, d,
                     ('0x' || substr(sha256('42,' || t || ',' || b || ',' || d), 1, 8))::BIGINT
                       / 4294967296.0 - 0.5 AS w
              FROM generate_series(0, 7) ts(t),
                   generate_series(0, 3) bs(b),
                   generate_series(0, 63) ds(d)
            ),
            v AS (
              SELECT CAST(vec_id AS VARCHAR) AS id,
                     list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
              FROM embeddings
            ),
            dots AS (
              SELECT v.id, p.t, p.b, sum(v.e[p.d + 1] * p.w) AS dot
              FROM v, planes p GROUP BY v.id, p.t, p.b
            ),
            buckets AS (
              SELECT id, t, sum(CASE WHEN dot >= 0 THEN 1 << b ELSE 0 END) AS bucket
              FROM dots GROUP BY id, t
            ),
            cand AS (
              SELECT DISTINCT x.id AS src, y.id AS dst
              FROM buckets x JOIN buckets y
                ON x.t = y.t AND x.bucket = y.bucket AND x.id <> y.id
            ),
            scored AS (
              SELECT c.src, c.dst,
                     round(list_dot_product(a.e, b.e)
                           / (greatest(sqrt(list_dot_product(a.e, a.e)), 1e-100)
                              * greatest(sqrt(list_dot_product(b.e, b.e)), 1e-100)),
                           4) AS score
              FROM cand c JOIN v a ON a.id = c.src JOIN v b ON b.id = c.dst
            )
            SELECT src, dst, score, CAST(rank AS INTEGER) AS rank FROM (
              SELECT src, dst, score,
                     row_number() OVER (PARTITION BY src
                                        ORDER BY score DESC, dst) AS rank
              FROM scored
            ) WHERE rank <= 5
        """,
    }
    # kNN clustering = CC over the thresholded knn oracle: derive from the
    # ann_knn oracle so the two can never drift apart (same trick as
    # kg_answer below); symmetrize + min-reachable recursive CTE (g4_cc
    # pattern)
    o["ann_knn_cc"] = (
        "WITH RECURSIVE knn AS (" + o["ann_knn"] + "), "
        + """
            p AS (SELECT src, dst FROM knn WHERE score >= 0.4),
            edges AS (SELECT src AS s, dst AS d FROM p UNION SELECT dst, src FROM p),
            verts AS (SELECT DISTINCT s AS v FROM edges),
            reach AS (
              SELECT v, v AS r FROM verts
              UNION
              SELECT e.d AS v, reach.r FROM reach JOIN edges e ON e.s = reach.v
            )
            SELECT v AS vertex, min(r) AS component FROM reach GROUP BY v
        """
    )
    # modularity replay: LPA oracle nested as the partition, then integer
    # edge/degree sums over the same co-purchase CTEs; q is one scalar
    # double expression over integers (identical operation order both sides)
    _lpa3 = _lpa_oracle(3)
    o["g15_modularity"] = (
        # splice onto the LPA oracle's WITH chain (everything before its
        # final SELECT), reusing its gi/kept/e0/sym CTEs instead of nesting
        # a duplicate declaration (DuckDB rejects shadowed CTE names)
        _lpa3[: _lpa3.rindex("SELECT")]
        + ", lpa AS MATERIALIZED (SELECT node, lbl AS community FROM l3), "
        + """
            m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM e0),
            deg AS (
              SELECT u AS node, CAST(count(*) AS BIGINT) AS deg
              FROM sym GROUP BY u
            ),
            base AS (
              SELECT l.community,
                     CAST(count(*) AS BIGINT) AS n_nodes,
                     CAST(sum(coalesce(d.deg, 0)) AS BIGINT) AS deg_sum
              FROM lpa l LEFT JOIN deg d ON l.node = d.node
              GROUP BY l.community
            ),
            inside AS (
              SELECT la.community, CAST(count(*) AS BIGINT) AS in_edges
              FROM e0
              JOIN lpa la ON e0.a = la.node
              JOIN lpa lb ON e0.b = lb.node
              WHERE la.community = lb.community
              GROUP BY la.community
            )
            SELECT b.community, b.n_nodes,
                   CAST(coalesce(i.in_edges, 0) AS BIGINT) AS in_edges,
                   b.deg_sum,
                   round(coalesce(i.in_edges, 0) / CAST(m.m AS DOUBLE)
                         - (b.deg_sum / (2.0::DOUBLE * m.m))
                           * (b.deg_sum / (2.0::DOUBLE * m.m)), 6)
                   + 0.0::DOUBLE AS q
            FROM base b LEFT JOIN inside i ON b.community = i.community, m
        """
    )
    # table-profile replay: same unpivot -> per-column aggs; modal value
    # breaks count ties toward the LARGER string, matching max(struct)
    o["ts_profile"] = """
        WITH kv AS (
          SELECT 'doc_id' AS col, CAST(doc_id AS VARCHAR) AS val FROM documents
          UNION ALL SELECT 'text', text FROM documents
          UNION ALL SELECT 'lang', lang FROM documents
          UNION ALL SELECT 'source', source FROM documents
          UNION ALL SELECT 'n_chars', CAST(n_chars AS VARCHAR) FROM documents
        ),
        base AS (
          SELECT col,
                 CAST(count(*) AS BIGINT) AS n_rows,
                 CAST(count(*) FILTER (WHERE val IS NULL) AS BIGINT) AS n_null,
                 CAST(count(DISTINCT val) AS BIGINT) AS n_distinct,
                 min(val) AS min_value,
                 max(val) AS max_value,
                 round(avg(CAST(length(val) AS DOUBLE)), 4) AS avg_len
          FROM kv GROUP BY col
        ),
        cnts AS (
          SELECT col, val, CAST(count(*) AS BIGINT) AS cnt
          FROM kv WHERE val IS NOT NULL GROUP BY col, val
        ),
        mode AS (
          SELECT col, val AS top_value, cnt AS top_count FROM (
            SELECT col, val, cnt,
                   row_number() OVER (PARTITION BY col
                                      ORDER BY cnt DESC, val DESC) AS rn
            FROM cnts) WHERE rn = 1
        )
        SELECT b.col AS "column", b.n_rows, b.n_null, b.n_distinct,
               b.min_value, b.max_value, b.avg_len,
               m.top_value, CAST(coalesce(m.top_count, 0) AS BIGINT) AS top_count
        FROM base b LEFT JOIN mode m ON b.col = m.col
    """
    # streamed edge weights under order-aligned batches == the batch
    # weighted co-purchase projection; reuse the shared gi/kept CTEs
    o["stream_edges"] = f"""
            WITH {_COPURCHASE_CTES}
            SELECT x.item AS src, y.item AS dst,
                   CAST(count(*) AS BIGINT) AS weight
            FROM kept x JOIN kept y ON x.g = y.g AND x.item < y.item
            GROUP BY 1, 2
        """
    # effective diameter = integer threshold over the composed ANF oracle
    o["g17_effdiam"] = (
        "WITH anf AS (SELECT * FROM (" + o["g17_anf"] + ")), "
        + "mx AS (SELECT anf_micro AS amax FROM anf WHERE hop = 3) "
        + """
            SELECT CAST(min(hop) AS INTEGER) AS eff_diameter,
                   CAST(min(amax) AS BIGINT) AS amax
            FROM anf, mx WHERE 10 * anf_micro >= 9 * amax
        """
    )
    # streamed LSH index + probe must equal batch ann_lsh exactly (pure
    # per-row bucket function + idempotent replace-MERGE), so the oracle is
    # the ann_lsh replay verbatim — reuse, like dd_minhash_lsh/_JACCARD_09
    o["stream_ann"] = o["ann_lsh"]
    # dedup calibration = P/R/F1 over the two pair-set oracles, composed
    # verbatim (dd_simhash candidates vs exact-Jaccard gold); pair keys are
    # normalized with least/greatest exactly as pair_metrics does
    o["dd_calibration"] = (
        "WITH gold0 AS (SELECT * FROM (" + o["dd_ngram_jaccard"] + ")), "
        + "cand0 AS (SELECT * FROM (" + o["dd_simhash"] + ")), "
        + """
            gold AS (SELECT DISTINCT least(id_a, id_b) AS a,
                            greatest(id_a, id_b) AS b FROM gold0),
            cand AS (SELECT DISTINCT least(id_a, id_b) AS a,
                            greatest(id_a, id_b) AS b FROM cand0),
            ng AS (SELECT CAST(count(*) AS BIGINT) AS n_gold FROM gold),
            nc AS (SELECT CAST(count(*) AS BIGINT) AS n_cand FROM cand),
            nh AS (SELECT CAST(count(*) AS BIGINT) AS n_hit
                   FROM gold JOIN cand USING (a, b)),
            m AS (
              SELECT n_gold, n_cand, n_hit,
                     CASE WHEN n_cand > 0
                          THEN n_hit / CAST(n_cand AS DOUBLE) ELSE 0.0::DOUBLE
                     END AS p_raw,
                     CASE WHEN n_gold > 0
                          THEN n_hit / CAST(n_gold AS DOUBLE) ELSE 0.0::DOUBLE
                     END AS r_raw
              FROM ng, nh, nc
            )
            SELECT n_gold, n_cand, n_hit,
                   round(p_raw, 6) AS precision,
                   round(r_raw, 6) AS recall,
                   round(CASE WHEN p_raw + r_raw > 0
                              THEN 2.0::DOUBLE * p_raw * r_raw / (p_raw + r_raw)
                              ELSE 0.0::DOUBLE END, 6) AS f1
            FROM m
        """
    )
    # ANN calibration = metrics over the two ranker oracles, composed from
    # the ann_batch (exact) and ann_lsh_batch (approx) oracle texts verbatim
    # so the three entries can never drift apart; nested WITH-in-subquery is
    # DuckDB-supported
    o["ann_recall"] = (
        "WITH exact AS (SELECT * FROM (" + o["ann_batch"] + ")), "
        + "approx AS (SELECT * FROM (" + o["ann_lsh_batch"] + ")), "
        + """
            base AS (
              SELECT query_id, CAST(count(*) AS BIGINT) AS n_exact
              FROM exact GROUP BY query_id
            ),
            hits AS (
              SELECT a.query_id,
                     CAST(count(*) AS BIGINT) AS n_hit_raw,
                     min(a.rank) AS first_rank
              FROM approx a JOIN exact e USING (query_id, id)
              GROUP BY a.query_id
            )
            SELECT b.query_id, b.n_exact,
                   CAST(coalesce(h.n_hit_raw, 0) AS BIGINT) AS n_hit,
                   round(CAST(coalesce(h.n_hit_raw, 0) AS DOUBLE)
                         / b.n_exact, 6) AS recall,
                   coalesce(round(1.0::DOUBLE / h.first_rank, 6),
                            0.0::DOUBLE) AS mrr
            FROM base b LEFT JOIN hits h ON b.query_id = h.query_id
        """
    )
    # U6 answer = deterministic template over the retrieval result: derive
    # from the retrieval_topk oracle so the two can never drift apart
    q = "which customer stream uses spark"
    o["kg_answer"] = (
        "WITH base AS (" + o["retrieval_topk"] + ") "
        + f"SELECT '{q}' AS question, "
        + "'Based on ' || CAST(n AS VARCHAR) || "
        + f"' retrieved passages, the answer to ''{q}'' is grounded in "
        + "the top-ranked document.' AS answer "
        + "FROM (SELECT count(*) AS n FROM base)"
    )
    # normalized exact dedup: replay the normalization chain (lower ->
    # strip non-[a-z0-9 ] -> collapse spaces -> trim -> sha256) on the same
    # planted-reformat augmentation
    o["dd_normalize"] = """
        WITH aug AS (
          SELECT doc_id, text FROM documents
          UNION ALL
          SELECT doc_id + 20000000, upper(text) || ' !!'
          FROM documents WHERE doc_id % 40 = 0
        ),
        n AS (
          SELECT doc_id,
                 sha256(trim(regexp_replace(regexp_replace(lower(text),
                        '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS norm_hash
          FROM aug
        )
        SELECT norm_hash, CAST(count(*) AS BIGINT) AS n_docs,
               array_to_string(list_sort(list(CAST(doc_id AS VARCHAR))), ',')
                 AS doc_ids_csv
        FROM n GROUP BY norm_hash HAVING count(*) > 1
    """
    # Misra-Gries heavy hitters are EXACT by construction (candidate
    # superset + exact recount), so the oracle is the brute-force exact
    # count with the same integer threshold — any partitioning dependence
    # in the candidate pass would surface here as a missing/extra row
    o["sk_heavy"] = """
        WITH tok AS (
          SELECT unnest(string_split(text, ' ')) AS key FROM documents
        ),
        tk AS (SELECT key FROM tok WHERE key IS NOT NULL AND key <> ''),
        n AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM tk)
        SELECT key, CAST(count(*) AS BIGINT) AS cnt, n_total
        FROM tk, n GROUP BY key, n_total HAVING count(*) * 31 > n_total
    """
    # weighted reservoir: the ticket-replication key is pure integer/sha256
    # arithmetic, so DuckDB replays it bit-exactly (no pow/log ULP risk)
    o["ts_reservoir"] = """
        WITH base AS (
          SELECT lang, CAST(doc_id AS BIGINT) AS doc_id,
                 CAST(greatest(1, least(32, floor(n_chars / 100)))
                      AS BIGINT) AS w
          FROM documents
        ),
        keyed AS (
          SELECT lang, doc_id, w,
                 list_min(list_transform(generate_series(1, CAST(w AS INT)),
                          t -> sha256(CAST(doc_id AS VARCHAR) || ':' ||
                                      CAST(t AS VARCHAR)))) AS tkey
          FROM base
        ),
        r AS (
          SELECT *, row_number() OVER (PARTITION BY lang
                                       ORDER BY tkey, doc_id) AS rk
          FROM keyed
        )
        SELECT lang, doc_id, w, tkey, CAST(rk AS BIGINT) AS rk
        FROM r WHERE rk <= 5
    """
    # streamed MG candidates + exact recount must equal the batch heavy
    # hitters exactly (candidate-superset + same integer threshold), so the
    # oracle is the sk_heavy replay verbatim — the streamed-equals-batch
    # contract stream_ann/dd_minhash_lsh also use
    o["stream_heavy"] = o["sk_heavy"]
    o["sql_tpch_q5"] = """
        SELECT n_name,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM customer
        JOIN orders ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey
                     AND c_nationkey = s_nationkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
          AND o_orderdate >= '1997-01-01' AND o_orderdate < '1998-01-01'
        GROUP BY n_name ORDER BY revenue DESC, n_name
    """
    o["sql_tpch_q14"] = """
        SELECT round(100.0 * sum(CASE WHEN p_type LIKE 'PROMO%'
                                      THEN l_extendedprice * (1 - l_discount)
                                      ELSE 0.0 END)
               / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_revenue
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE l_shipdate >= '1997-09-01' AND l_shipdate < '1997-10-01'
    """
    # winnowing: the gram-hash -> window-min -> fingerprint chain is pure
    # sha256 + integer arithmetic, replayed verbatim (k=4 grams, w=5
    # windows, pos packed into the low 20 bits for the leftmost tie-break,
    # hot-fingerprint cap 200)
    o["dd_winnow"] = """
        WITH aug AS (
          SELECT doc_id, text FROM documents
          UNION ALL
          SELECT doc_id + 30000000,
                 'completely different preamble text here . ' || text
          FROM documents WHERE doc_id % 50 = 0
        ),
        t AS (
          SELECT CAST(doc_id AS VARCHAR) AS id,
                 string_split(text, ' ') AS ws
          FROM aug
        ),
        g AS (
          SELECT id,
                 [('0x' || substr(sha256(array_to_string(ws[i : i + 3], ' ')),
                                  1, 10))::BIGINT * 1048576
                    + CAST(i - 1 AS BIGINT)
                  FOR i IN generate_series(1, greatest(len(ws) - 3, 0))]
                   AS keys
          FROM t
        ),
        m AS (
          SELECT id,
                 CASE WHEN len(keys) = 0 THEN []::BIGINT[] ELSE
                   [list_min(keys[j : j + 4])
                    FOR j IN generate_series(1, greatest(len(keys) - 4, 1))]
                 END AS mins
          FROM g
        ),
        f0 AS (
          SELECT id, UNNEST(list_distinct([x // 1048576 FOR x IN mins])) AS fp
          FROM m
        ),
        f AS (SELECT DISTINCT id, fp FROM f0),
        rare AS (SELECT fp FROM f GROUP BY fp HAVING count(*) <= 200),
        ff AS (SELECT f.id, f.fp FROM f JOIN rare USING (fp))
        SELECT a.id AS id_a, b.id AS id_b,
               CAST(count(*) AS BIGINT) AS n_shared
        FROM ff a JOIN ff b ON a.fp = b.fp AND a.id < b.id
        GROUP BY 1, 2
    """
    # exact interpolated percentiles: Spark percentile() and DuckDB
    # quantile_cont() share the (n-1)*p linear-interpolation definition;
    # integer inputs make every midpoint an exact binary fraction
    o["ts_mad"] = """
        WITH d AS (
          SELECT CAST(doc_id AS VARCHAR) AS doc_id, source AS grp,
                 CAST(n_chars AS DOUBLE) AS x
          FROM documents
        ),
        med AS (SELECT grp, quantile_cont(x, 0.5) AS med FROM d GROUP BY grp),
        dm AS (SELECT d.doc_id, d.grp, d.x, med.med
               FROM d JOIN med USING (grp)),
        mad AS (SELECT grp, quantile_cont(abs(x - med), 0.5) AS mad
                FROM dm GROUP BY grp)
        SELECT dm.doc_id, dm.grp, dm.x AS x, dm.med, mad.mad,
               CAST(abs(dm.x - dm.med) > 3.0 * mad.mad AS INT) AS is_outlier
        FROM dm JOIN mad ON dm.grp = mad.grp
    """
    # streamed per-batch HDR histograms sum to the batch sketch of the full
    # input (additive counts), so the batch oracle replays the streamed
    # answer verbatim — the same streamed-equals-batch contract as
    # stream_heavy/stream_hll/stream_cms
    o["stream_quantile"] = o["sk_quantile"]
    o["sql_tpch_q4"] = """
        SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
        FROM orders
        WHERE o_orderdate >= '1997-07-01' AND o_orderdate < '1997-10-01'
          AND EXISTS (SELECT 1 FROM lineitem
                      WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
        GROUP BY o_orderpriority ORDER BY o_orderpriority
    """
    o["sql_tpch_q19"] = """
        SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE (p_brand = 'Brand#11' AND p_size BETWEEN 1 AND 15
               AND l_quantity BETWEEN 1 AND 11)
           OR (p_brand = 'Brand#22' AND p_size BETWEEN 10 AND 25
               AND l_quantity BETWEEN 10 AND 20)
           OR (p_brand = 'Brand#16' AND p_size BETWEEN 20 AND 40
               AND l_quantity BETWEEN 20 AND 30)
    """
    o["sql_cube"] = """
        WITH e AS (
          SELECT event_type, CAST(month(ts) AS INT) AS m,
                 CAST(floor(value * 100) AS BIGINT) AS c
          FROM events
        )
        SELECT event_type, m, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(c) AS BIGINT) AS cents
        FROM e GROUP BY CUBE (event_type, m)
    """
    # funnel stages replay as chained min-aggregates; strict > between
    # stages on microsecond timestamps matches Spark exactly
    o["sql_funnel"] = """
        WITH s1 AS (
          SELECT user_id, min(ts) AS t1 FROM events
          WHERE event_type = 'view' GROUP BY user_id
        ),
        s2 AS (
          SELECT e.user_id, min(e.ts) AS t2
          FROM events e JOIN s1 ON e.user_id = s1.user_id
          WHERE e.event_type = 'click' AND e.ts > s1.t1
          GROUP BY e.user_id
        ),
        s3 AS (
          SELECT e.user_id, min(e.ts) AS t3
          FROM events e JOIN s2 ON e.user_id = s2.user_id
          WHERE e.event_type = 'purchase' AND e.ts > s2.t2
          GROUP BY e.user_id
        )
        SELECT 1 AS step, 'view' AS stage,
               CAST(count(*) AS BIGINT) AS users FROM s1
        UNION ALL
        SELECT 2, 'view>click', CAST(count(*) AS BIGINT) FROM s2
        UNION ALL
        SELECT 3, 'view>click>purchase', CAST(count(*) AS BIGINT) FROM s3
    """
    # date_trunc('week', ts) is Monday-based in both engines; the week
    # offset is exact integer day arithmetic
    o["sql_retention"] = """
        WITH e AS (
          SELECT user_id, date_trunc('week', ts) AS wk FROM events
        ),
        first AS (SELECT user_id, min(wk) AS cw FROM e GROUP BY user_id),
        act AS (SELECT DISTINCT user_id, wk FROM e)
        SELECT strftime(cw, '%Y-%m-%d') AS cohort,
               CAST(date_diff('day', cw, wk) / 7 AS INT) AS woffset,
               CAST(count(DISTINCT act.user_id) AS BIGINT) AS users
        FROM act JOIN first ON act.user_id = first.user_id
        GROUP BY 1, 2
    """
    # RANGE frame over integer epoch-microseconds: identical peer/frame
    # semantics in both engines, no float epoch anywhere
    o["ts_moving"] = """
        SELECT event_id, user_id,
               CAST(count(*) OVER w AS BIGINT) AS n_1h,
               round(avg(value) OVER w, 6) AS avg_1h
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                     RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
    """
    o["sql_tpch_q13"] = """
        WITH o AS (
          SELECT o_orderkey, o_custkey FROM orders
          WHERE o_orderpriority <> '1-URGENT'
        ),
        pc AS (
          SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
          FROM customer LEFT JOIN o ON c_custkey = o_custkey
          GROUP BY c_custkey
        )
        SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
        FROM pc GROUP BY c_count ORDER BY custdist DESC, c_count DESC
    """
    # 5*qty*n < sum_qty is the integer-exact rewrite of qty < 0.2*avg
    o["sql_tpch_q17"] = """
        WITH li AS (
          SELECT l_partkey, CAST(l_quantity AS BIGINT) AS qty,
                 CAST(floor(l_extendedprice * 100) AS BIGINT) AS price_c
          FROM lineitem JOIN part ON l_partkey = p_partkey
          WHERE p_brand = 'Brand#11'
        ),
        st AS (
          SELECT l_partkey AS pk, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(qty) AS BIGINT) AS sum_qty
          FROM li GROUP BY 1
        )
        SELECT CAST(count(*) AS BIGINT) AS n_small,
               CAST(coalesce(sum(price_c), 0) AS BIGINT) AS revenue_cents
        FROM li JOIN st ON li.l_partkey = st.pk
        WHERE 5 * qty * n < sum_qty
    """
    # bal_c*n > sum_c is the integer-exact rewrite of bal > avg(bal)
    o["sql_tpch_q22"] = """
        WITH c AS (
          SELECT c_custkey, c_nationkey,
                 CAST(floor(c_acctbal * 100) AS BIGINT) AS bal_c
          FROM customer
        ),
        pos AS (
          SELECT CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(bal_c) AS BIGINT) AS sum_c
          FROM c WHERE bal_c > 0
        )
        SELECT CAST(c_nationkey AS INT) AS nationkey,
               CAST(count(*) AS BIGINT) AS numcust,
               CAST(sum(bal_c) AS BIGINT) AS totacctbal_cents
        FROM c, pos
        WHERE bal_c * n > sum_c
          AND c_custkey NOT IN (
            SELECT o_custkey FROM orders WHERE o_orderdate >= '2001-01-01')
        GROUP BY 1 ORDER BY 1
    """
    # adapted Q2: unit_c replays the identical IEEE double expression
    o["sql_tpch_q2"] = """
        WITH li AS (
          SELECT p_partkey, p_name, s_suppkey,
                 CAST(floor(l_extendedprice * 100 / l_quantity) AS BIGINT)
                   AS unit_c
          FROM lineitem
          JOIN part ON l_partkey = p_partkey
          JOIN supplier ON l_suppkey = s_suppkey
          JOIN nation ON s_nationkey = n_nationkey
          JOIN region ON n_regionkey = r_regionkey
          WHERE p_type = 'LARGE' AND p_size BETWEEN 10 AND 14
            AND r_name = 'EUROPE'
        ),
        best AS (
          SELECT p_partkey AS pk, min(unit_c) AS min_unit_c
          FROM li GROUP BY 1
        )
        SELECT p_partkey, p_name, min_unit_c,
               CAST(min(s_suppkey) AS BIGINT) AS s_suppkey
        FROM li JOIN best ON p_partkey = pk AND unit_c = min_unit_c
        GROUP BY 1, 2, 3
        ORDER BY min_unit_c, p_partkey
    """
    o["sql_tpch_q9"] = """
        SELECT n_name AS nation,
               CAST(year(o_orderdate) AS INT) AS o_year,
               CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100)
                             AS BIGINT)) AS BIGINT) AS profit_cents
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN orders ON l_orderkey = o_orderkey
        WHERE p_name LIKE '%gear%'
        GROUP BY 1, 2 ORDER BY 1, 2 DESC
    """
    o["sql_tpch_q11"] = """
        WITH v AS (
          SELECT l_partkey AS partkey,
                 CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT))
                      AS BIGINT) AS value_cents
          FROM lineitem
          JOIN supplier ON l_suppkey = s_suppkey
          JOIN nation ON s_nationkey = n_nationkey
          WHERE n_name = 'NATION_3'
          GROUP BY 1
        ),
        t AS (SELECT CAST(sum(value_cents) AS BIGINT) AS total_c FROM v)
        SELECT partkey, value_cents
        FROM v, t
        WHERE value_cents * 1000 > total_c
        ORDER BY value_cents DESC, partkey
    """
    o["sql_tpch_q12"] = """
        SELECT l_linestatus AS linestatus,
               CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                             THEN 1 ELSE 0 END) AS BIGINT)
                 AS high_line_count,
               CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                             THEN 0 ELSE 1 END) AS BIGINT)
                 AS low_line_count
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE year(l_shipdate) = 1997
          AND datediff('day', CAST(o_orderdate AS DATE),
                       CAST(l_shipdate AS DATE)) >= 60
        GROUP BY 1 ORDER BY 1
    """
    o["sql_tpch_q16"] = """
        WITH pairs AS (
          SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
        )
        SELECT p_brand AS brand, p_type AS type,
               CAST(p_size AS INT) AS size,
               CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
        FROM pairs
        JOIN part ON l_partkey = p_partkey
        WHERE p_brand <> 'Brand#1' AND p_size IN (1, 5, 15, 25, 35, 45)
          AND l_suppkey NOT IN (
            SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        GROUP BY 1, 2, 3
        ORDER BY supplier_cnt DESC, 1, 2, 3
    """
    o["sql_tpch_q20"] = """
        WITH li AS (
          SELECT l_suppkey, l_partkey, CAST(l_quantity AS BIGINT) AS qty
          FROM lineitem
          JOIN part ON l_partkey = p_partkey
          WHERE p_name LIKE '%bolt%' AND year(l_shipdate) = 1998
        ),
        sp AS (
          SELECT l_suppkey, l_partkey, CAST(sum(qty) AS BIGINT) AS qty_sp
          FROM li GROUP BY 1, 2
        ),
        pt AS (
          SELECT l_partkey AS pk, CAST(sum(qty) AS BIGINT) AS qty_p
          FROM li GROUP BY 1
        )
        SELECT DISTINCT CAST(s_suppkey AS BIGINT) AS suppkey,
               s_name AS name
        FROM sp JOIN pt ON l_partkey = pk
        JOIN supplier ON l_suppkey = s_suppkey
        WHERE 2 * qty_sp > qty_p
        ORDER BY suppkey
    """
    o["sql_tpch_q21"] = """
        WITH li AS (
          SELECT l_orderkey, l_suppkey,
                 datediff('day', CAST(o_orderdate AS DATE),
                          CAST(l_shipdate AS DATE)) > 90 AS late
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          WHERE o_orderstatus = 'F'
        ),
        per_order AS (
          SELECT l_orderkey AS ok, count(DISTINCT l_suppkey) AS ns,
                 count(DISTINCT CASE WHEN late THEN l_suppkey END) AS nl
          FROM li GROUP BY 1
        )
        SELECT l_suppkey AS suppkey,
               CAST(count(DISTINCT l_orderkey) AS BIGINT) AS numwait
        FROM li JOIN per_order ON l_orderkey = ok
        WHERE late AND ns > 1 AND nl = 1
        GROUP BY 1 ORDER BY numwait DESC, suppkey
    """
    # unrolled truss peel — fixed-point margin, the _kcore_oracle way
    o["g22_ktruss"] = _ktruss_oracle(k=3, rounds=3)
    # assortativity: exact HUGEINT sufficient stats over both edge ends
    o["g20_assortativity"] = """
        WITH gi AS (
          SELECT DISTINCT CAST(l_orderkey AS VARCHAR) AS g,
                          CAST(l_partkey AS VARCHAR) AS item
          FROM lineitem
        ),
        kept AS (
          SELECT g, item FROM (
            SELECT g, item, count(*) OVER (PARTITION BY g) AS sz FROM gi
          ) WHERE sz <= 50
        ),
        e AS (
          SELECT x.item AS a, y.item AS b
          FROM kept x JOIN kept y ON x.g = y.g AND x.item < y.item
          GROUP BY 1, 2
        ),
        deg AS (
          SELECT node, CAST(count(*) AS HUGEINT) AS d FROM (
            SELECT a AS node FROM e UNION ALL SELECT b FROM e
          ) GROUP BY 1
        ),
        ends AS (
          SELECT da.d AS x, db.d AS y
          FROM e JOIN deg da ON e.a = da.node JOIN deg db ON e.b = db.node
        ),
        pairs AS (
          SELECT x, y FROM ends UNION ALL SELECT y, x FROM ends
        ),
        s AS (
          SELECT CAST(count(*) AS HUGEINT) AS n, sum(x) AS sx,
                 sum(x * x) AS sxx, sum(x * y) AS sxy
          FROM pairs
        )
        SELECT CAST(n AS BIGINT) AS n_ends,
               round(CAST(n * sxy - sx * sx AS DOUBLE)
                     / nullif(CAST(n * sxx - sx * sx AS DOUBLE), 0),
                     6) AS assortativity
        FROM s
    """
    # edge Jaccard: g19's support CTEs + integer degree arithmetic
    o["g21_edgejaccard"] = """
        WITH gi AS (
          SELECT DISTINCT CAST(l_orderkey AS VARCHAR) AS g,
                          CAST(l_partkey AS VARCHAR) AS item
          FROM lineitem
        ),
        kept AS (
          SELECT g, item FROM (
            SELECT g, item, count(*) OVER (PARTITION BY g) AS sz FROM gi
          ) WHERE sz <= 50
        ),
        e AS (
          SELECT a, b FROM (
            SELECT x.item AS a, y.item AS b, count(*) AS w
            FROM kept x JOIN kept y ON x.g = y.g AND x.item < y.item
            GROUP BY 1, 2
          ) WHERE w >= 2
        ),
        adj AS (SELECT a AS z, b AS n FROM e
                UNION ALL SELECT b, a FROM e),
        w AS (
          SELECT x.n AS a, y.n AS b
          FROM adj x JOIN adj y ON x.z = y.z AND x.n < y.n
        ),
        sup AS (
          SELECT w.a, w.b, CAST(count(*) AS BIGINT) AS s
          FROM w JOIN e ON w.a = e.a AND w.b = e.b GROUP BY 1, 2
        ),
        se AS (
          SELECT e.a, e.b, CAST(coalesce(sup.s, 0) AS BIGINT) AS support
          FROM e LEFT JOIN sup ON e.a = sup.a AND e.b = sup.b
        ),
        deg AS (
          SELECT node, CAST(count(*) AS BIGINT) AS d FROM (
            SELECT a AS node FROM se UNION ALL SELECT b FROM se
          ) GROUP BY 1
        )
        SELECT se.a AS src, se.b AS dst, support,
               CAST(da.d + db.d - 2 - support AS BIGINT) AS union_size,
               round(CAST(support AS DOUBLE)
                     / nullif(CAST(da.d + db.d - 2 - support AS DOUBLE), 0),
                     6) AS jaccard
        FROM se JOIN deg da ON se.a = da.node JOIN deg db ON se.b = db.node
        ORDER BY 1, 2
    """
    # histogram: the bucket index is the SAME IEEE floor expression
    o["ml_histogram"] = """
        WITH v AS (
          SELECT l_returnflag AS grp, CAST(l_extendedprice AS DOUBLE) AS v
          FROM lineitem WHERE l_extendedprice IS NOT NULL
        ),
        b AS (SELECT grp, min(v) AS lo, max(v) AS hi FROM v GROUP BY 1),
        c AS (
          SELECT v.grp,
                 CASE WHEN hi = lo THEN 0
                      ELSE least(11, CAST(floor((v - lo) * 12 / (hi - lo))
                                          AS INT)) END AS bucket,
                 count(*) AS cnt
          FROM v JOIN b ON v.grp = b.grp GROUP BY 1, 2
        ),
        shell AS (
          SELECT grp, lo, hi, CAST(UNNEST(range(12)) AS INT) AS bucket
          FROM b
        )
        SELECT shell.grp AS l_returnflag, shell.bucket,
               round(lo + shell.bucket * (hi - lo) / 12, 6) AS bucket_lo,
               CAST(coalesce(cnt, 0) AS BIGINT) AS n
        FROM shell LEFT JOIN c ON shell.grp = c.grp
                               AND shell.bucket = c.bucket
        ORDER BY 1, 2
    """
    # next-fit by running token sum, replayed with a window cumsum
    o["ts_infer_batches"] = """
        WITH base AS (
          SELECT CAST(doc_id AS BIGINT) AS doc_id,
                 CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                 CAST(floor(CAST(len(string_split(text, ' ')) AS BIGINT)
                            / 16) AS INT) AS bucket
          FROM documents
        ),
        assigned AS (
          SELECT bucket, n_tokens,
                 CAST(floor((sum(n_tokens) OVER (
                        PARTITION BY bucket ORDER BY n_tokens, doc_id
                        ROWS UNBOUNDED PRECEDING) - n_tokens) / 512.0)
                      AS BIGINT) AS batch
          FROM base
        )
        SELECT bucket, batch, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_tokens) AS BIGINT) AS tokens,
               CAST(count(*) * max(n_tokens) AS BIGINT) AS padded_tokens,
               round((count(*) * max(n_tokens) - sum(n_tokens))
                     * 10000.0
                     / nullif(CAST(count(*) * max(n_tokens) AS DOUBLE), 0)
                     / 100.0, 4) AS waste_pct
        FROM assigned GROUP BY 1, 2 ORDER BY 1, 2
    """
    # wedge + closure-edge equi-join, support 0 kept via the left join
    o["g19_trusssupport"] = """
        WITH gi AS (
          SELECT DISTINCT CAST(l_orderkey AS VARCHAR) AS g,
                          CAST(l_partkey AS VARCHAR) AS item
          FROM lineitem
        ),
        kept AS (
          SELECT g, item FROM (
            SELECT g, item, count(*) OVER (PARTITION BY g) AS sz FROM gi
          ) WHERE sz <= 50
        ),
        e AS (
          SELECT a, b FROM (
            SELECT x.item AS a, y.item AS b, count(*) AS w
            FROM kept x JOIN kept y ON x.g = y.g AND x.item < y.item
            GROUP BY 1, 2
          ) WHERE w >= 2
        ),
        adj AS (SELECT a AS z, b AS n FROM e
                UNION ALL SELECT b, a FROM e),
        w AS (
          SELECT x.n AS a, y.n AS b
          FROM adj x JOIN adj y ON x.z = y.z AND x.n < y.n
        ),
        sup AS (
          SELECT w.a, w.b, CAST(count(*) AS BIGINT) AS s
          FROM w JOIN e ON w.a = e.a AND w.b = e.b GROUP BY 1, 2
        )
        SELECT e.a AS src, e.b AS dst,
               CAST(coalesce(sup.s, 0) AS BIGINT) AS support
        FROM e LEFT JOIN sup ON e.a = sup.a AND e.b = sup.b
    """
    # streamed bit_or fold == batch bloom of the full corpus
    o["stream_bloom"] = f"""
        WITH bpos AS (
          SELECT UNNEST([{', '.join(_bloom_positions('text', 'duck'))}]) AS pos
          FROM documents
        )
        SELECT pos // 63 AS word,
               bit_or(1::BIGINT << CAST(pos % 63 AS INTEGER)) AS bits
        FROM bpos GROUP BY 1
    """
    # Adamic-Adar: same CTE chain as g12_linkpred, with the per-center unit
    # 1e12 // round(ln(deg)*1e6) — ln quantized BEFORE the division so the
    # integer replay is bit-exact (rationale at graphstats.adamic_adar)
    o["g18_adamicadar"] = """
        WITH gi AS (
          SELECT DISTINCT CAST(l_orderkey AS VARCHAR) AS g,
                          CAST(l_partkey AS VARCHAR) AS item
          FROM lineitem
        ),
        kept AS (
          SELECT g, item FROM (
            SELECT g, item, count(*) OVER (PARTITION BY g) AS sz FROM gi
          ) WHERE sz <= 50
        ),
        e AS (
          SELECT a, b FROM (
            SELECT x.item AS a, y.item AS b, count(*) AS w
            FROM kept x JOIN kept y ON x.g = y.g AND x.item < y.item
            GROUP BY 1, 2
          ) WHERE w >= 2
        ),
        adj AS (SELECT a AS z, b AS n FROM e
                UNION ALL SELECT b, a FROM e),
        deg AS (SELECT z, CAST(count(*) AS BIGINT) AS deg
                FROM adj GROUP BY z),
        center AS (
          SELECT adj.z, adj.n,
                 CASE WHEN deg >= 2 THEN
                   1000000000000 // CAST(round(ln(deg) * 1000000) AS BIGINT)
                 ELSE 0 END AS aa1
          FROM adj JOIN deg USING (z) WHERE deg <= 10
        ),
        w AS (
          SELECT x.n AS src, y.n AS dst, x.aa1
          FROM center x JOIN center y ON x.z = y.z AND x.n < y.n
        ),
        cand AS (
          SELECT src, dst, CAST(count(*) AS BIGINT) AS cn,
                 CAST(sum(aa1) AS BIGINT) AS aa_units
          FROM w GROUP BY 1, 2
        )
        SELECT cand.* FROM cand
        LEFT JOIN e ON cand.src = e.a AND cand.dst = e.b
        WHERE e.a IS NULL
        ORDER BY aa_units DESC, src, dst LIMIT 100
    """
    # same bloom replay as sk_bloom (positions, words, hit counts), plus
    # the exact anti-join and the bloom/verify routing CASE
    o["dd_bloomjoin"] = f"""
        WITH docs AS (
          SELECT CAST(doc_id AS VARCHAR) AS id, text AS t FROM documents
        ),
        sn AS (
          SELECT DISTINCT text AS t FROM documents
          WHERE CAST(doc_id AS BIGINT) % 7 = 0
        ),
        bpos AS (
          SELECT UNNEST([{', '.join(_bloom_positions('t', 'duck'))}]) AS pos
          FROM sn
        ),
        bloom AS (
          SELECT pos // 63 AS word,
                 bit_or(1::BIGINT << CAST(pos % 63 AS INTEGER)) AS bits
          FROM bpos GROUP BY 1
        ),
        probes AS (
          SELECT id, t,
                 UNNEST([{', '.join(_bloom_positions('t', 'duck'))}]) AS pos
          FROM docs
        ),
        hits AS (
          SELECT id, t,
                 CAST(sum(CASE WHEN b.bits IS NOT NULL
                                AND (b.bits & (1::BIGINT << CAST(p.pos % 63 AS INTEGER)))
                                    = (1::BIGINT << CAST(p.pos % 63 AS INTEGER))
                               THEN 1 ELSE 0 END) AS INTEGER) AS hits
          FROM probes p LEFT JOIN bloom b ON b.word = p.pos // 63
          GROUP BY id, t
        )
        SELECT h.id AS doc_id,
               CASE WHEN h.hits < 4 THEN 'bloom' ELSE 'verify' END AS path
        FROM hits h
        WHERE h.t NOT IN (SELECT t FROM sn)
    """
    # streamed elementwise-min fold == batch signature of the full corpus
    # (min is idempotent/commutative/associative); hashes are the portable
    # sha256-prefix bigints, shingles the shared k=3 word shingles
    # Carter-Wegman family replay: one sha256 per shingle reduced mod the
    # Mersenne prime, then (a_i*x + b_i) mod p per permutation with the
    # same sha256-derived constants (sketches.minhash_ab)
    _mh_p = _sketches.MINHASH_GROUP_PRIME
    _mh_ab_values = ", ".join(
        f"({i}, {a}, {b})" for i, (a, b) in enumerate(_sketches.minhash_ab())
    )
    o["stream_minhash"] = f"""
        WITH t AS (
          SELECT source AS g, {duckdb_word_shingles('text', 3)} AS sh
          FROM documents
        ),
        e AS (SELECT g, UNNEST(sh) AS s FROM t WHERE len(sh) > 0),
        xs AS (
          SELECT g, ('0x' || substr(sha256(s), 1, 15))::BIGINT % {_mh_p} AS x
          FROM e
        ),
        ab(perm, a, b) AS (VALUES {_mh_ab_values})
        SELECT g, CAST(ab.perm AS INT) AS perm,
               CAST(min((CAST(ab.a AS HUGEINT) * xs.x + ab.b) % {_mh_p})
                    AS BIGINT) AS minv
        FROM xs CROSS JOIN ab GROUP BY 1, 2
    """
    # exact integer class counts; the only floats are final ln/divide,
    # identical double ops on identical integers (round 6 absorbs the
    # cross-engine sum-order difference in sum(c*ln(c)))
    o["ts_entropy"] = """
        WITH cc AS (
          SELECT source, lang, count(*) AS c FROM documents GROUP BY 1, 2
        ),
        g AS (
          SELECT source AS grp, CAST(sum(c) AS BIGINT) AS n,
                 CAST(count(*) AS BIGINT) AS n_classes,
                 sum(c * ln(c)) AS clogc
          FROM cc GROUP BY 1
        )
        SELECT grp, n, n_classes,
               round(ln(n) - clogc / n, 6) AS entropy,
               round(CASE WHEN n_classes > 1
                          THEN (ln(n) - clogc / n) / ln(n_classes)
                          ELSE 0.0 END, 6) AS norm_entropy
        FROM g
    """
    # same exact-interpolated-percentile contract as ts_mad
    o["ts_winsorize"] = """
        WITH d AS (
          SELECT CAST(doc_id AS VARCHAR) AS doc_id, source AS grp,
                 CAST(n_chars AS DOUBLE) AS x
          FROM documents
        ),
        b AS (
          SELECT grp, quantile_cont(x, 0.05) AS lo,
                 quantile_cont(x, 0.95) AS hi
          FROM d GROUP BY grp
        )
        SELECT d.doc_id, d.grp, d.x, b.lo, b.hi,
               least(greatest(d.x, b.lo), b.hi) AS x_wins,
               CAST(d.x < b.lo OR d.x > b.hi AS INT) AS clipped
        FROM d JOIN b USING (grp)
    """
    # Spark decimal(38) == DuckDB HUGEINT: both sides carry the integer
    # sufficient statistics exactly; the divides see identical integers
    o["ml_ols"] = """
        WITH d AS (
          SELECT l_returnflag AS grp, CAST(l_quantity AS HUGEINT) AS x,
                 CAST(floor(l_extendedprice * 100) AS HUGEINT) AS y
          FROM lineitem
        ),
        s AS (
          SELECT grp, CAST(count(*) AS HUGEINT) AS n, sum(x) AS sx,
                 sum(y) AS sy, sum(x * x) AS sxx, sum(y * y) AS syy,
                 sum(x * y) AS sxy
          FROM d GROUP BY grp
        )
        SELECT grp, CAST(n AS BIGINT) AS n,
               round(CAST(n * sxy - sx * sy AS DOUBLE)
                     / CAST(n * sxx - sx * sx AS DOUBLE), 6) AS slope,
               round((CAST(sy AS DOUBLE)
                      - (CAST(n * sxy - sx * sy AS DOUBLE)
                         / CAST(n * sxx - sx * sx AS DOUBLE))
                        * CAST(sx AS DOUBLE))
                     / CAST(n AS DOUBLE), 6) AS intercept,
               round(CASE WHEN CAST(n * sxx - sx * sx AS DOUBLE) > 0
                           AND CAST(n * syy - sy * sy AS DOUBLE) > 0
                          THEN CAST(n * sxy - sx * sy AS DOUBLE)
                               * CAST(n * sxy - sx * sy AS DOUBLE)
                               / (CAST(n * sxx - sx * sx AS DOUBLE)
                                  * CAST(n * syy - sy * sy AS DOUBLE))
                          ELSE 0.0 END, 6) AS r2
        FROM s ORDER BY grp
    """
    o["ml_corr"] = _corr_oracle_sql(
        {
            "qty": "CAST(l_quantity AS HUGEINT)",
            "price_c": "CAST(floor(l_extendedprice * 100) AS HUGEINT)",
            "disc_bp": "CAST(floor(l_discount * 10000) AS HUGEINT)",
            "tax_bp": "CAST(floor(l_tax * 10000) AS HUGEINT)",
        },
        "lineitem",
    )
    # all TPC-H revenue sums below are exact integer cents:
    # floor(extendedprice * (1 - discount) * 100) is the same IEEE double
    # product floored on both engines, then summed as BIGINT
    o["sql_tpch_q7"] = """
        SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
               CAST(year(l_shipdate) AS INT) AS l_year,
               CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100)
                             AS BIGINT)) AS BIGINT) AS revenue_cents
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
        WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
            OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
          AND l_shipdate >= '1996-01-01' AND l_shipdate < '1998-01-01'
        GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
    """
    o["sql_tpch_q8"] = """
        WITH vol AS (
          SELECT CAST(year(o_orderdate) AS INT) AS o_year,
                 CAST(floor(l_extendedprice * (1 - l_discount) * 100)
                      AS BIGINT) AS volume_cents,
                 n2.n_name AS supp_nation
          FROM lineitem
          JOIN part ON l_partkey = p_partkey
          JOIN orders ON l_orderkey = o_orderkey
          JOIN customer ON o_custkey = c_custkey
          JOIN nation n1 ON c_nationkey = n1.n_nationkey
          JOIN region ON n1.n_regionkey = r_regionkey
          JOIN supplier ON l_suppkey = s_suppkey
          JOIN nation n2 ON s_nationkey = n2.n_nationkey
          WHERE r_name = 'EUROPE' AND p_type = 'PROMO'
            AND o_orderdate >= '1996-01-01' AND o_orderdate < '1998-01-01'
        )
        SELECT o_year,
               round(sum(CASE WHEN supp_nation = 'NATION_3'
                              THEN volume_cents ELSE 0 END)
                     / sum(volume_cents), 6) AS mkt_share
        FROM vol GROUP BY o_year ORDER BY o_year
    """
    o["sql_tpch_q10"] = """
        SELECT c_custkey, c_name,
               CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100)
                             AS BIGINT)) AS BIGINT) AS revenue_cents,
               round(any_value(c_acctbal), 2) AS acctbal,
               any_value(n_name) AS n_name
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        WHERE l_returnflag = 'R'
          AND o_orderdate >= '1997-01-01' AND o_orderdate < '1997-04-01'
        GROUP BY c_custkey, c_name
        ORDER BY revenue_cents DESC, c_custkey LIMIT 20
    """
    o["sql_tpch_q15"] = """
        WITH rev AS (
          SELECT l_suppkey,
                 CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100)
                               AS BIGINT)) AS BIGINT) AS total_cents
          FROM lineitem
          WHERE l_shipdate >= '1997-01-01' AND l_shipdate < '1997-04-01'
          GROUP BY l_suppkey
        )
        SELECT s_suppkey, s_name, total_cents
        FROM rev JOIN supplier ON l_suppkey = s_suppkey
        WHERE total_cents = (SELECT max(total_cents) FROM rev)
        ORDER BY s_suppkey
    """
    o["sql_tpch_q18"] = """
        WITH big AS (
          SELECT l_orderkey, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT)
                   AS total_qty
          FROM lineitem GROUP BY l_orderkey
          HAVING sum(CAST(l_quantity AS BIGINT)) > 300
        )
        SELECT c_name, c_custkey, o_orderkey,
               strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
               round(o_totalprice, 2) AS o_totalprice, total_qty
        FROM big
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
    """
    # --- tranche 9 oracles ---
    # directed co-purchase graph: w>=2 one way (low->high), w>=3 both ways
    _DIRECTED_CTES = """gi AS (
          SELECT DISTINCT CAST(l_orderkey AS VARCHAR) AS g,
                          CAST(l_partkey AS VARCHAR) AS item
          FROM lineitem
        ),
        kept AS (
          SELECT g, item FROM (
            SELECT g, item, count(*) OVER (PARTITION BY g) AS sz FROM gi
          ) WHERE sz <= 50
        ),
        eu AS MATERIALIZED (
          SELECT a, b, w FROM (
            SELECT x.item AS a, y.item AS b, count(*) AS w
            FROM kept x JOIN kept y ON x.g = y.g AND x.item < y.item
            GROUP BY 1, 2
          ) WHERE w >= 2
        )"""
    o["g24_katz"] = f"""
        WITH {_DIRECTED_CTES},
        de AS MATERIALIZED (
          SELECT a AS s, b AS d FROM eu
          UNION ALL SELECT b, a FROM eu WHERE w >= 3
        ),
        nodes AS (SELECT s AS n FROM de UNION SELECT d FROM de),
        w1 AS MATERIALIZED (
          SELECT d AS node, CAST(count(*) AS HUGEINT) AS cnt FROM de GROUP BY d
        ),
        w2 AS MATERIALIZED (
          SELECT de.d AS node, CAST(sum(w1.cnt) AS HUGEINT) AS cnt
          FROM de JOIN w1 ON de.s = w1.node GROUP BY de.d
        ),
        w3 AS MATERIALIZED (
          SELECT de.d AS node, CAST(sum(w2.cnt) AS HUGEINT) AS cnt
          FROM de JOIN w2 ON de.s = w2.node GROUP BY de.d
        ),
        u AS (
          SELECT node, cnt * 64 AS u FROM w1
          UNION ALL SELECT node, cnt * 8 FROM w2
          UNION ALL SELECT node, cnt FROM w3
        )
        SELECT n.n AS node,
               CAST(coalesce(sum(u.u), 0) AS BIGINT) AS katz_units
        FROM nodes n LEFT JOIN u ON u.node = n.n GROUP BY n.n
    """
    # mutual reachability over the recursive closure of the cycle-bearing
    # core — exact, quadratic in component size, test-scale-only (the
    # operator never materializes a closure)
    o["g23_scc"] = f"""
        WITH RECURSIVE {_DIRECTED_CTES},
        core AS (
          SELECT a AS n FROM eu WHERE w >= 3
          UNION SELECT b FROM eu WHERE w >= 3
        ),
        ec AS MATERIALIZED (
          SELECT a, b, w FROM eu
          WHERE a IN (SELECT n FROM core) AND b IN (SELECT n FROM core)
        ),
        de AS MATERIALIZED (
          SELECT a AS s, b AS d FROM ec
          UNION ALL SELECT b, a FROM ec WHERE w >= 3
        ),
        reach AS (
          SELECT s, d FROM de
          UNION SELECT r.s, de.d FROM reach r JOIN de ON r.d = de.s
        ),
        nodes AS (SELECT s AS n FROM de UNION SELECT d FROM de)
        SELECT n.n AS node,
               least(
                 n.n,
                 coalesce(
                   min(r1.d) FILTER (WHERE r2.s IS NOT NULL), n.n
                 )
               ) AS scc_id
        FROM nodes n
        LEFT JOIN reach r1 ON r1.s = n.n
        LEFT JOIN reach r2 ON r2.s = r1.d AND r2.d = n.n
        GROUP BY n.n
    """
    # quantized-ln Naive Bayes replay: same split hash, same add-one
    # smoothing, same integer micro-unit log-probs, ties to the larger
    # label (row_number ORDER BY score DESC, l DESC = Spark max(struct))
    o["ml_naivebayes"] = """
        WITH base AS (
          SELECT CAST(doc_id AS VARCHAR) AS id, lang AS label,
                 string_split(text, ' ') AS toks,
                 (('0x' || substr(sha256('nb-v1' || ',' ||
                     CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100) < 80
                   AS is_train
          FROM documents
        ),
        tr AS (SELECT label, UNNEST(toks) AS tok FROM base WHERE is_train),
        model AS MATERIALIZED (
          SELECT label, tok, CAST(count(*) AS BIGINT) AS cnt
          FROM tr GROUP BY 1, 2
        ),
        voc AS (SELECT CAST(count(DISTINCT tok) AS BIGINT) AS v FROM tr),
        lst AS (
          SELECT label,
                 CAST(round(ln(sum(cnt) + (SELECT v FROM voc)) * 1000000)
                      AS BIGINT) AS lnq_denom
          FROM model GROUP BY label
        ),
        dp AS (SELECT label, count(*) AS d_l FROM base WHERE is_train
               GROUP BY label),
        dt AS (SELECT count(*) AS d FROM base WHERE is_train),
        pri AS (
          SELECT label,
                 CAST(round(ln(d_l) * 1000000) AS BIGINT)
                 - CAST(round(ln((SELECT d FROM dt)) * 1000000) AS BIGINT)
                   AS prior_units
          FROM dp
        ),
        tt AS (
          SELECT id, label, tok, CAST(count(*) AS BIGINT) AS k
          FROM (SELECT id, label, UNNEST(toks) AS tok
                FROM base WHERE NOT is_train)
          GROUP BY 1, 2, 3
        ),
        sc AS (
          SELECT tt.id, tt.label, l.label AS l,
                 p.prior_units
                 + sum(tt.k * (CAST(round(ln(coalesce(m.cnt, 0) + 1)
                                          * 1000000) AS BIGINT)
                               - l.lnq_denom)) AS score_units
          FROM tt
          CROSS JOIN lst l
          LEFT JOIN model m ON m.label = l.label AND m.tok = tt.tok
          JOIN pri p ON p.label = l.label
          GROUP BY tt.id, tt.label, l.label, l.lnq_denom, p.prior_units
        )
        SELECT id AS doc_id, label, l AS pred,
               CAST(score_units AS BIGINT) AS score_units,
               (l = label) AS correct
        FROM (
          SELECT *, row_number() OVER (
            PARTITION BY id ORDER BY score_units DESC, l DESC
          ) AS rn
          FROM sc
        ) WHERE rn = 1
    """
    # exact-integer contingency cells, final divide in double (the
    # grouped_ols / ml_ols parity discipline)
    o["ml_chi2"] = """
        WITH pres AS MATERIALIZED (
          SELECT DISTINCT CAST(doc_id AS VARCHAR) AS id, lang AS label,
                 UNNEST(string_split(text, ' ')) AS tok
          FROM documents
        ),
        nt AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
        tl AS (SELECT tok, label, CAST(count(*) AS BIGINT) AS a
               FROM pres GROUP BY 1, 2),
        tm AS (SELECT tok, CAST(count(*) AS BIGINT) AS df_t
               FROM pres GROUP BY tok HAVING count(*) >= 5),
        lm AS (SELECT lang AS label, CAST(count(*) AS BIGINT) AS n_l
               FROM documents GROUP BY 1),
        cells AS (
          SELECT tl.tok, tl.label, a, df_t, n_l, (SELECT n FROM nt) AS n
          FROM tl JOIN tm USING (tok) JOIN lm USING (label)
        )
        SELECT tok, label, a,
               CASE WHEN df_t > 0 AND (n - df_t) > 0
                     AND n_l > 0 AND (n - n_l) > 0 THEN
                 round(
                   CAST(CAST(n AS HUGEINT)
                        * CAST(a*(n - df_t - (n_l - a))
                               - (df_t - a)*(n_l - a) AS HUGEINT)
                        * CAST(a*(n - df_t - (n_l - a))
                               - (df_t - a)*(n_l - a) AS HUGEINT) AS DOUBLE)
                 / CAST(CAST(df_t AS HUGEINT) * CAST(n - df_t AS HUGEINT)
                        * CAST(n_l AS HUGEINT) * CAST(n - n_l AS HUGEINT)
                     AS DOUBLE), 6)
               ELSE 0.0 END AS chi2
        FROM cells
        ORDER BY chi2 DESC, tok, label LIMIT 50
    """
    o["sql_groupingsets"] = """
        SELECT o_orderstatus AS status, l_returnflag AS flag,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY GROUPING SETS ((o_orderstatus, l_returnflag),
                                (o_orderstatus), (l_returnflag))
    """
    # same 8-word slice arithmetic as line_dedup_stats; winner = first
    # (doc_id, line_no) occurrence of each distinct line
    o["dd_lines"] = """
        WITH ws AS (
          SELECT doc_id, string_split(text, ' ') AS w FROM documents
        ),
        lines AS (
          SELECT doc_id, CAST(i AS INT) AS line_no,
                 array_to_string(list_slice(w, i*8+1, i*8+8), ' ') AS line
          FROM ws, UNNEST(range(CAST(ceil(len(w)/8.0) AS BIGINT))) AS t(i)
        ),
        rn AS (
          SELECT doc_id,
                 row_number() OVER (PARTITION BY line
                                    ORDER BY doc_id, line_no) AS rn
          FROM lines
        )
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines,
               CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_kept,
               CAST(count(*) - sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_removed
        FROM rn GROUP BY doc_id
    """
    # exact integer counts; deterministic (c DESC, w) rank; identical
    # ln/divide formula both engines, 6-dp round (the ts_entropy contract)
    o["ts_zipf"] = """
        WITH wc AS (
          SELECT w, CAST(count(*) AS BIGINT) AS c FROM (
            SELECT UNNEST(string_split(text, ' ')) AS w FROM documents
          ) WHERE w <> '' GROUP BY w
          ORDER BY c DESC, w LIMIT 100
        ),
        r AS (
          SELECT ln(row_number() OVER (ORDER BY c DESC, w)) AS x,
                 ln(c) AS y
          FROM wc
        ),
        s AS (
          SELECT CAST(count(*) AS BIGINT) AS n, sum(x) AS sx, sum(y) AS sy,
                 sum(x*x) AS sxx, sum(x*y) AS sxy, sum(y*y) AS syy
          FROM r
        )
        SELECT n AS n_points,
               round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
               round((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx)
                     / n, 6) AS intercept,
               round(pow(n * sxy - sx * sy, 2)
                     / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
        FROM s
    """
    # exact integer squares in HUGEINT (the decimal-widening discipline),
    # one final double divide
    o["ts_gini"] = """
        WITH cc AS (
          SELECT source, lang, CAST(count(*) AS BIGINT) AS c
          FROM documents GROUP BY 1, 2
        )
        SELECT source AS grp, CAST(sum(c) AS BIGINT) AS n,
               CAST(count(*) AS BIGINT) AS n_classes,
               round(1.0 - CAST(sum(CAST(c AS HUGEINT) * c) AS DOUBLE)
                     / (CAST(sum(c) AS DOUBLE) * sum(c)), 6) AS simpson,
               round(CAST(sum(c) AS DOUBLE) * sum(c)
                     / CAST(sum(CAST(c AS HUGEINT) * c) AS DOUBLE), 6)
                 AS inv_simpson
        FROM cc GROUP BY source
    """
    # integer-microsecond buckets (epoch_us // width == unix_micros div),
    # exact-cents sums, IGNORE NULLS forward fill — prototype-verified
    o["ts_resample"] = """
        WITH e AS (
          SELECT event_type AS key,
                 epoch_us(CAST(ts AS TIMESTAMP)) // 900000000 AS bkt,
                 CAST(floor(value * 100) AS BIGINT) AS cents
          FROM events
        ),
        agg AS (
          SELECT key, bkt, CAST(count(*) AS BIGINT) AS n_events,
                 CAST(sum(cents) AS BIGINT) AS sum_cents
          FROM e GROUP BY 1, 2
        ),
        b AS (SELECT key, min(bkt) AS lo, max(bkt) AS hi FROM agg GROUP BY 1),
        grid AS (SELECT key, UNNEST(generate_series(lo, hi)) AS bkt FROM b),
        dense AS (
          SELECT g.key, g.bkt,
                 COALESCE(a.n_events, 0) AS n_events,
                 COALESCE(a.sum_cents, 0) AS sum_cents,
                 CASE WHEN a.n_events IS NOT NULL
                      THEN round(a.sum_cents / (a.n_events * 100.0), 6)
                 END AS avg_obs,
                 CAST(a.n_events IS NULL AS INT) AS filled
          FROM grid g LEFT JOIN agg a USING (key, bkt)
        )
        SELECT key, bkt, n_events, sum_cents,
               last_value(avg_obs IGNORE NULLS)
                 OVER (PARTITION BY key ORDER BY bkt) AS avg_value,
               filled
        FROM dense
    """
    # cumulative window over the DISTINCT-value histogram; identical
    # left-to-right double formula both engines, 6-dp round
    o["ml_stump"] = """
        WITH hist AS (
          SELECT x, CAST(count(*) AS BIGINT) AS c, CAST(sum(y) AS BIGINT) AS p
          FROM (
            SELECT CAST(n_chars AS BIGINT) AS x,
                   CAST(lang = 'en' AS INT) AS y
            FROM documents
          ) GROUP BY x
        ),
        cum AS (
          SELECT x AS threshold,
                 CAST(sum(c) OVER (ORDER BY x) AS BIGINT) AS n_left,
                 CAST(sum(p) OVER (ORDER BY x) AS BIGINT) AS pos_left,
                 CAST(sum(c) OVER () AS BIGINT) AS n_tot,
                 CAST(sum(p) OVER () AS BIGINT) AS pos_tot
          FROM hist
        )
        SELECT threshold, n_left, pos_left,
               n_tot - n_left AS n_right,
               pos_tot - pos_left AS pos_right,
               round(
                 (2.0 * pos_tot / n_tot * (1.0 - CAST(pos_tot AS DOUBLE) / n_tot))
                 - (CAST(n_left AS DOUBLE) / n_tot)
                   * (2.0 * pos_left / n_left
                      * (1.0 - CAST(pos_left AS DOUBLE) / n_left))
                 - (CAST(n_tot - n_left AS DOUBLE) / n_tot)
                   * (2.0 * (pos_tot - pos_left) / (n_tot - n_left)
                      * (1.0 - CAST(pos_tot - pos_left AS DOUBLE)
                         / (n_tot - n_left)))
               , 6) AS gini_gain
        FROM cum WHERE n_left < n_tot
        ORDER BY gini_gain DESC, threshold LIMIT 1
    """
    o["sql_pivot"] = """
        SELECT CAST(user_id % 10 AS BIGINT) AS bucket,
               CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_click,
               CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_error,
               CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_purchase,
               CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_signup,
               CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_view
        FROM events GROUP BY 1
    """
    # doubled midranks keep the Mann-Whitney statistic integer until the
    # one final divide (the decision_stump histogram-window discipline)
    o["ml_auc"] = """
        WITH hist AS (
          SELECT s, CAST(count(*) AS BIGINT) AS c, CAST(sum(y) AS BIGINT) AS p
          FROM (
            SELECT CAST(n_chars AS BIGINT) AS s,
                   CAST(lang = 'en' AS INT) AS y
            FROM documents
          ) GROUP BY s
        ),
        r AS (
          SELECT c, p,
                 CAST(COALESCE(sum(c) OVER (ORDER BY s
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS cb
          FROM hist
        )
        SELECT CAST(sum(p) AS BIGINT) AS n_pos,
               CAST(sum(c) - sum(p) AS BIGINT) AS n_neg,
               round(CAST(sum(p * (2 * cb + c + 1))
                          - sum(p) * (sum(p) + 1) AS DOUBLE)
                     / (2.0 * sum(p) * (sum(c) - sum(p))), 6) AS auc
        FROM r
    """
    # same capped-basket projection as the graph oracles; integer
    # supports, rounded rule metrics, total (lift DESC, a, b) order
    o["ml_assoc"] = """
        WITH bset AS (
          SELECT DISTINCT CAST(l_orderkey AS VARCHAR) AS g,
                          CAST(l_partkey AS VARCHAR) AS item
          FROM lineitem
        ),
        kept AS (
          SELECT g, item FROM (
            SELECT g, item, count(*) OVER (PARTITION BY g) AS sz FROM bset
          ) WHERE sz <= 50
        ),
        nb AS (SELECT CAST(count(DISTINCT g) AS BIGINT) AS n FROM kept),
        supp AS (SELECT item, CAST(count(*) AS BIGINT) AS s
                 FROM kept GROUP BY 1),
        pairs AS (
          SELECT x.item AS a, y.item AS b, CAST(count(*) AS BIGINT) AS s_ab
          FROM kept x JOIN kept y ON x.g = y.g AND x.item <> y.item
          GROUP BY 1, 2 HAVING count(*) >= 3
        )
        SELECT a, b, s_ab, sa.s AS s_a, sb.s AS s_b,
               round(CAST(s_ab AS DOUBLE) / sa.s, 6) AS confidence,
               round(CAST((SELECT n FROM nb) AS DOUBLE) * s_ab
                     / (CAST(sa.s AS DOUBLE) * sb.s), 6) AS lift
        FROM pairs JOIN supp sa ON pairs.a = sa.item
                   JOIN supp sb ON pairs.b = sb.item
        ORDER BY lift DESC, a, b LIMIT 50
    """
    # vocabulary-sized float sum over exact integer counts (ts_entropy
    # contract); every group word is corpus-supported, no smoothing
    o["ts_kl"] = """
        WITH toks AS (
          SELECT grp, w FROM (
            SELECT source AS grp, UNNEST(string_split(text, ' ')) AS w
            FROM documents
          ) WHERE w <> ''
        ),
        gw AS (SELECT grp, w, CAST(count(*) AS BIGINT) AS cgw
               FROM toks GROUP BY 1, 2),
        cw AS (SELECT w, CAST(count(*) AS BIGINT) AS cw
               FROM toks GROUP BY 1),
        ng AS (SELECT grp, CAST(sum(cgw) AS BIGINT) AS ng
               FROM gw GROUP BY 1),
        nt AS (SELECT CAST(count(*) AS BIGINT) AS n FROM toks)
        SELECT grp, CAST(max(ng) AS BIGINT) AS n_tokens,
               CAST(count(*) AS BIGINT) AS n_words,
               round(sum((CAST(cgw AS DOUBLE) / ng)
                     * ln(CAST(cgw AS DOUBLE) * (SELECT n FROM nt)
                          / (CAST(ng AS DOUBLE) * cw))), 6) AS kl
        FROM gw JOIN cw USING (w) JOIN ng USING (grp)
        GROUP BY grp
    """
    # resample grid (prototype-verified) + trailing integer sum/sumsq
    # window excluding the current row; identical double z formula
    o["ts_burst"] = """
        WITH e AS (
          SELECT event_type AS key,
                 epoch_us(CAST(ts AS TIMESTAMP)) // 900000000 AS bkt
          FROM events
        ),
        agg AS (
          SELECT key, bkt, CAST(count(*) AS BIGINT) AS n_events
          FROM e GROUP BY 1, 2
        ),
        b AS (SELECT key, min(bkt) AS lo, max(bkt) AS hi FROM agg GROUP BY 1),
        grid AS (SELECT key, UNNEST(generate_series(lo, hi)) AS bkt FROM b),
        dense AS (
          SELECT g.key, g.bkt, COALESCE(a.n_events, 0) AS n_events
          FROM grid g LEFT JOIN agg a USING (key, bkt)
        ),
        stats AS (
          SELECT key, bkt, n_events,
                 CAST(count(*) OVER wt AS BIGINT) AS trail_n,
                 CAST(COALESCE(sum(n_events) OVER wt, 0) AS BIGINT)
                   AS trail_sum,
                 CAST(COALESCE(sum(n_events * n_events) OVER wt, 0)
                   AS BIGINT) AS trail_sumsq
          FROM dense
          WINDOW wt AS (PARTITION BY key ORDER BY bkt
                        ROWS BETWEEN 8 PRECEDING AND 1 PRECEDING)
        ),
        withz AS (
          SELECT key, bkt, n_events, trail_n, trail_sum,
                 CASE WHEN trail_n >= 8 THEN
                   CASE WHEN
                     (CAST(trail_sumsq AS DOUBLE) / trail_n
                      - (CAST(trail_sum AS DOUBLE) / trail_n)
                        * (CAST(trail_sum AS DOUBLE) / trail_n)) > 0.0
                   THEN round(
                     (n_events - CAST(trail_sum AS DOUBLE) / trail_n)
                     / sqrt(CAST(trail_sumsq AS DOUBLE) / trail_n
                        - (CAST(trail_sum AS DOUBLE) / trail_n)
                          * (CAST(trail_sum AS DOUBLE) / trail_n)), 6)
                   END
                 END AS z
          FROM stats
        )
        SELECT *, COALESCE(CAST(z > 3.0 AS INT), 0) AS is_burst FROM withz
    """
    # melt of the pivot matrix, zero cells preserved (bucket x type grid)
    o["sql_unpivot"] = """
        WITH b AS (
          SELECT DISTINCT CAST(user_id % 10 AS BIGINT) AS bucket FROM events
        ),
        t AS (
          SELECT UNNEST(['click', 'error', 'purchase', 'signup', 'view'])
            AS event_type
        ),
        c AS (
          SELECT CAST(user_id % 10 AS BIGINT) AS bucket, event_type,
                 CAST(count(*) AS BIGINT) AS n
          FROM events GROUP BY 1, 2
        )
        SELECT b.bucket, t.event_type, COALESCE(c.n, 0) AS n
        FROM b CROSS JOIN t
        LEFT JOIN c ON c.bucket = b.bucket AND c.event_type = t.event_type
    """
    # ISO-Monday weeks on both engines; lead(wk) = wk + 7 days in date
    # arithmetic; null lead (last active week) counts as churned
    o["ts_churn"] = """
        WITH uw AS (
          SELECT DISTINCT user_id AS u,
                 CAST(date_trunc('week', ts) AS DATE) AS wk
          FROM events
        ),
        flags AS (
          SELECT wk,
                 CAST(row_number() OVER (PARTITION BY u ORDER BY wk) = 1
                   AS INT) AS is_new,
                 CAST(lead(wk) OVER (PARTITION BY u ORDER BY wk)
                   = wk + INTERVAL 7 DAY AS INT) AS is_retained_next
          FROM uw
        )
        SELECT strftime(wk, '%Y-%m-%d') AS week,
               CAST(count(*) AS BIGINT) AS n_active,
               CAST(sum(is_new) AS BIGINT) AS n_new,
               CAST(sum(COALESCE(is_retained_next, 0)) AS BIGINT)
                 AS n_retained_next,
               CAST(count(*) - sum(COALESCE(is_retained_next, 0)) AS BIGINT)
                 AS n_churned_next
        FROM flags GROUP BY 1
    """
    # deterministic (value, id) ntile; exact BIGINT decile masses; one
    # final double divide per row
    o["ts_lorenz"] = """
        WITH d AS (
          SELECT CAST(n_chars AS BIGINT) AS x, CAST(doc_id AS BIGINT) AS id
          FROM documents
        ),
        t AS (SELECT x, ntile(10) OVER (ORDER BY x, id) AS decile FROM d),
        per AS (
          SELECT decile, CAST(count(*) AS BIGINT) AS n_docs,
                 CAST(sum(x) AS BIGINT) AS sum_x
          FROM t GROUP BY 1
        )
        SELECT decile, n_docs, sum_x,
               CAST(sum(sum_x) OVER wcum AS BIGINT) AS cum_x,
               round(CAST(sum(sum_x) OVER wcum AS DOUBLE)
                     / CAST(sum(sum_x) OVER () AS DOUBLE), 6) AS cum_share
        FROM per
        WINDOW wcum AS (ORDER BY decile
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """
    # grouped exact HUGEINT sufficient stats (the ml_ols discipline) ->
    # population covariance entries -> closed-form 2x2 eigenstructure
    o["ml_pca"] = """
        WITH d AS (
          SELECT l_returnflag AS grp, CAST(l_quantity AS HUGEINT) AS x,
                 CAST(floor(l_extendedprice * 100) AS HUGEINT) AS y
          FROM lineitem
        ),
        s AS (
          SELECT grp, CAST(count(*) AS HUGEINT) AS n, sum(x) AS sx,
                 sum(y) AS sy, sum(x * x) AS sxx, sum(y * y) AS syy,
                 sum(x * y) AS sxy
          FROM d GROUP BY grp
        ),
        cov AS (
          SELECT grp, CAST(n AS BIGINT) AS n,
                 (CAST(n * sxx - sx * sx AS DOUBLE) / CAST(n AS DOUBLE)
                  / CAST(n AS DOUBLE)) AS a,
                 (CAST(n * syy - sy * sy AS DOUBLE) / CAST(n AS DOUBLE)
                  / CAST(n AS DOUBLE)) AS c,
                 (CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n AS DOUBLE)
                  / CAST(n AS DOUBLE)) AS b
          FROM s
        )
        SELECT grp, n, round(a, 6) AS var_x, round(c, 6) AS var_y,
               round(b, 6) AS cov_xy,
               round(atan2(2.0 * b, a - c) / 2.0, 6) AS theta,
               CASE WHEN (a + c) > 0.0 THEN
                 round(((a + c) + sqrt((a - c) * (a - c) + 4.0 * b * b))
                       / (2.0 * (a + c)), 6)
               ELSE 1.0 END AS explained
        FROM cov
    """
    # the streamed fold densifies through the SAME plan as batch
    # resample_events, so the batch oracle checks it directly
    o["stream_resample"] = o["ts_resample"]
    # confusion cells over the NB oracle's holdout predictions (wrapped
    # as a subquery so the split/model/argmax replay stays single-source)
    o["ml_f1"] = f"""
        WITH nb AS ({o["ml_naivebayes"]}),
        cells AS (
          SELECT label, pred AS p, CAST(count(*) AS BIGINT) AS n
          FROM nb GROUP BY 1, 2
        ),
        by_true AS (
          SELECT label AS cls, CAST(sum(n) AS BIGINT) AS n_true,
                 CAST(sum(CASE WHEN p = label THEN n ELSE 0 END) AS BIGINT)
                   AS tp
          FROM cells GROUP BY 1
        ),
        by_pred AS (
          SELECT p AS cls, CAST(sum(n) AS BIGINT) AS n_pred
          FROM cells GROUP BY 1
        ),
        j AS (
          SELECT COALESCE(t.cls, q.cls) AS cls,
                 COALESCE(tp, 0) AS tp,
                 COALESCE(n_true, 0) AS n_true,
                 COALESCE(n_pred, 0) AS n_pred
          FROM by_true t FULL OUTER JOIN by_pred q ON t.cls = q.cls
        )
        SELECT cls, tp, n_true, n_pred,
               CASE WHEN n_pred > 0
                    THEN round(CAST(tp AS DOUBLE) / n_pred, 6)
                    ELSE 0.0 END AS precision,
               CASE WHEN n_true > 0
                    THEN round(CAST(tp AS DOUBLE) / n_true, 6)
                    ELSE 0.0 END AS recall,
               CASE WHEN (n_pred + n_true) > 0
                    THEN round(2.0 * tp / (n_pred + n_true), 6)
                    ELSE 0.0 END AS f1
        FROM j
    """
    # dense grid (ts_resample CTEs) -> per-key lag pairs -> exact BIGINT
    # Pearson sums, one fixed double formula
    o["ts_autocorr"] = """
        WITH e AS (
          SELECT event_type AS key,
                 epoch_us(CAST(ts AS TIMESTAMP)) // 900000000 AS bkt
          FROM events
        ),
        agg AS (
          SELECT key, bkt, CAST(count(*) AS BIGINT) AS n_events
          FROM e GROUP BY 1, 2
        ),
        b AS (SELECT key, min(bkt) AS lo, max(bkt) AS hi FROM agg GROUP BY 1),
        grid AS (SELECT key, UNNEST(generate_series(lo, hi)) AS bkt FROM b),
        dense AS (
          SELECT g.key, g.bkt, COALESCE(a.n_events, 0) AS x
          FROM grid g LEFT JOIN agg a USING (key, bkt)
        ),
        pairs AS (
          SELECT key, x,
                 lag(x) OVER (PARTITION BY key ORDER BY bkt) AS y
          FROM dense
        ),
        s AS (
          SELECT key, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
                 CAST(sum(x * y) AS BIGINT) AS sxy,
                 CAST(sum(x * x) AS BIGINT) AS sxx,
                 CAST(sum(y * y) AS BIGINT) AS syy
          FROM pairs WHERE y IS NOT NULL GROUP BY key
        )
        SELECT key, n,
               CASE WHEN (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0
               THEN round(CAST(n * sxy - sx * sy AS DOUBLE)
                    / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                           * CAST(n * syy - sy * sy AS DOUBLE)), 6)
               END AS r1
        FROM s
    """
    # IGNORE NULLS last() over (user, time) excluding the current row —
    # the one-window shape; revenue in exact integer cents
    o["sql_attribution"] = """
        WITH e AS (
          SELECT user_id, ts, event_id, event_type,
                 CAST(floor(value * 100) AS BIGINT) AS cents,
                 regexp_extract(props, '"k":\\s*(\\d+)', 1) AS kstr
          FROM events
        ),
        att AS (
          SELECT event_type, cents,
                 last_value(CASE WHEN event_type = 'click' THEN kstr END
                            IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS campaign
          FROM e
        )
        SELECT COALESCE(campaign, 'none') AS campaign,
               CAST(count(*) AS BIGINT) AS n_purchases,
               CAST(sum(cents) AS BIGINT) AS revenue_cents
        FROM att WHERE event_type = 'purchase'
        GROUP BY 1
    """
    # exact interpolated percentiles over integer microsecond latencies
    # (quantile_cont == Spark percentile, the ts_mad contract)
    o["sql_ttc"] = """
        WITH e AS (
          SELECT user_id, event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS us
          FROM events
        ),
        v AS (SELECT user_id, min(us) AS t1 FROM e
              WHERE event_type = 'view' GROUP BY 1),
        p AS (
          SELECT e.user_id, min(us) AS t3
          FROM e JOIN v ON e.user_id = v.user_id
          WHERE event_type = 'purchase' AND us > t1
          GROUP BY 1
        ),
        d AS (SELECT t3 - t1 AS d FROM p JOIN v ON p.user_id = v.user_id)
        SELECT CAST(count(*) AS BIGINT) AS n_users,
               quantile_cont(d, 0.5) AS p50_us,
               quantile_cont(d, 0.9) AS p90_us,
               quantile_cont(d, 0.99) AS p99_us
        FROM d
    """
    # exact rolling distinct via explode-to-target-days; reported only
    # for observed days (the dau join)
    o["sql_dau_wau"] = """
        WITH uw AS (
          SELECT DISTINCT user_id AS u, CAST(ts AS DATE) AS d FROM events
        ),
        dau AS (SELECT d, CAST(count(*) AS BIGINT) AS dau
                FROM uw GROUP BY d),
        tgt AS (
          SELECT DISTINCT u, d + off * INTERVAL 1 DAY AS td
          FROM uw, UNNEST(generate_series(0, 6)) AS t(off)
        ),
        wau AS (SELECT CAST(td AS DATE) AS d, CAST(count(*) AS BIGINT) AS wau
                FROM tgt GROUP BY 1)
        SELECT strftime(d, '%Y-%m-%d') AS day, dau, wau
        FROM dau JOIN wau USING (d)
    """
    # island key = epoch-day minus per-user row_number: pure integer
    o["sql_streaks"] = """
        WITH uw AS (
          SELECT DISTINCT user_id AS u,
                 date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS ed
          FROM events
        ),
        isl AS (
          SELECT u, ed - row_number() OVER (PARTITION BY u ORDER BY ed)
                 AS grp
          FROM uw
        ),
        per AS (SELECT u, grp, count(*) AS len FROM isl GROUP BY 1, 2),
        best AS (SELECT u, CAST(max(len) AS BIGINT) AS streak_len
                 FROM per GROUP BY u)
        SELECT streak_len, CAST(count(*) AS BIGINT) AS n_users
        FROM best GROUP BY 1
    """
    # shared global equi-width bins (the ml_histogram floor discipline),
    # content-addressed halves (the ts_split sha256 replay)
    o["ml_psi"] = """
        WITH d AS (
          SELECT CAST(CAST(n_chars AS BIGINT) AS DOUBLE) AS v,
                 CASE WHEN ('0x' || substr(sha256('psi-v1' || ','
                        || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                        % 100 < 50
                      THEN 'a' ELSE 'b' END AS side
          FROM documents
        ),
        mm AS (SELECT min(v) AS lo, max(v) AS hi FROM d),
        binned AS (
          SELECT side,
                 CASE WHEN hi > lo
                      THEN least(CAST(floor((v - lo) * 10 / (hi - lo))
                                 AS INT), 9)
                      ELSE 0 END AS bin
          FROM d CROSS JOIN mm
        ),
        cells AS (
          SELECT bin,
                 CAST(sum(CASE WHEN side = 'a' THEN 1 ELSE 0 END)
                   AS BIGINT) AS ca,
                 CAST(sum(CASE WHEN side = 'b' THEN 1 ELSE 0 END)
                   AS BIGINT) AS cb
          FROM binned GROUP BY bin
        ),
        tot AS (SELECT CAST(sum(ca) AS BIGINT) AS n_a,
                       CAST(sum(cb) AS BIGINT) AS n_b FROM cells)
        SELECT n_a, n_b,
               CAST(sum(CASE WHEN ca > 0 AND cb > 0 THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_bins_both,
               CAST(sum(CASE WHEN ca > 0 AND cb = 0 THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_bins_a_only,
               CAST(sum(CASE WHEN ca = 0 AND cb > 0 THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_bins_b_only,
               round(sum(CASE WHEN ca > 0 AND cb > 0 THEN
                 (CAST(ca AS DOUBLE) / n_a - CAST(cb AS DOUBLE) / n_b)
                 * ln((CAST(ca AS DOUBLE) / n_a)
                      / (CAST(cb AS DOUBLE) / n_b))
                 ELSE 0.0 END), 6) AS psi
        FROM cells CROSS JOIN tot
        GROUP BY n_a, n_b
    """
    # one-row rollup over the SAME wedge enumeration as g5's oracle
    o["g26_gcc"] = """
        WITH gi AS (
          SELECT DISTINCT CAST(l_orderkey AS VARCHAR) AS g,
                          CAST(l_partkey AS VARCHAR) AS item
          FROM lineitem
        ),
        kept AS (
          SELECT g, item FROM (
            SELECT g, item, count(*) OVER (PARTITION BY g) AS sz FROM gi
          ) WHERE sz <= 50
        ),
        e AS MATERIALIZED (
          SELECT DISTINCT x.item AS a, y.item AS b
          FROM kept x JOIN kept y ON x.g = y.g AND x.item < y.item
        ),
        deg AS (
          SELECT node, CAST(count(*) AS BIGINT) AS degree FROM (
            SELECT a AS node FROM e UNION ALL SELECT b FROM e
          ) GROUP BY node
        ),
        tris AS (
          SELECT CAST(count(*) AS BIGINT) AS n_triangles FROM (
            SELECT 1 FROM e x JOIN e y ON x.a = y.a AND x.b < y.b
            JOIN e z ON z.a = x.b AND z.b = y.b
          )
        ),
        wed AS (
          SELECT CAST(count(*) AS BIGINT) AS n_nodes,
                 CAST(sum(degree) AS BIGINT) AS deg2,
                 CAST(sum(degree * (degree - 1) // 2) AS BIGINT) AS n_wedges
          FROM deg
        )
        SELECT n_nodes, deg2 // 2 AS n_edges, n_triangles, n_wedges,
               CASE WHEN n_wedges > 0 THEN
                 round(3.0 * n_triangles / n_wedges, 6)
               END AS gcc
        FROM wed CROSS JOIN tris
    """
    # deterministic quintiles: every ntile ordered by (metric, user)
    o["sql_rfm"] = """
        WITH e AS (
          SELECT user_id AS u, CAST(ts AS DATE) AS d,
                 CAST(floor(value * 100) AS BIGINT) AS cents
          FROM events
        ),
        per AS (
          SELECT u, max(d) AS last_d, CAST(count(*) AS BIGINT) AS freq,
                 CAST(sum(cents) AS BIGINT) AS mon
          FROM e GROUP BY u
        ),
        mx AS (SELECT max(last_d) AS mx FROM per),
        rfm AS (
          SELECT u, freq, mon,
                 CAST(date_diff('day', last_d, mx) AS BIGINT) AS rec
          FROM per CROSS JOIN mx
        ),
        scored AS (
          SELECT ntile(5) OVER (ORDER BY rec DESC, u) AS r,
                 ntile(5) OVER (ORDER BY freq ASC, u) AS f,
                 ntile(5) OVER (ORDER BY mon ASC, u) AS m
          FROM rfm
        )
        SELECT r, f, m, CAST(count(*) AS BIGINT) AS n_users
        FROM scored GROUP BY 1, 2, 3
    """
    # same shingle expression family as the dedup oracles; first
    # occurrence = lexicographic min of (source | zero-padded doc_id)
    o["ts_novelty"] = f"""
        WITH sh AS (
          SELECT source,
                 source || '|' || lpad(CAST(doc_id AS VARCHAR), 10, '0')
                   AS ord,
                 UNNEST({duckdb_word_shingles("text", 3)}) AS sg
          FROM documents
        ),
        shf AS (SELECT * FROM sh WHERE sg <> ''),
        firsts AS (
          SELECT sg, min(ord) AS first_ord FROM shf GROUP BY sg
        ),
        novel AS (
          SELECT split_part(first_ord, '|', 1) AS source,
                 CAST(count(*) AS BIGINT) AS n_novel
          FROM firsts GROUP BY 1
        ),
        per_src AS (
          SELECT source, CAST(count(*) AS BIGINT) AS n_occurrences,
                 CAST(count(DISTINCT sg) AS BIGINT) AS n_distinct
          FROM shf GROUP BY source
        )
        SELECT p.source, n_occurrences, n_distinct,
               COALESCE(n_novel, 0) AS n_novel
        FROM per_src p LEFT JOIN novel USING (source)
    """
    o["sql_seasonality"] = """
        WITH prof AS (
          SELECT event_type, CAST(hour(ts) AS INT) AS hour,
                 CAST(count(*) AS BIGINT) AS n
          FROM events GROUP BY 1, 2
        )
        SELECT event_type, hour, n,
               CAST(n = max(n) OVER (PARTITION BY event_type) AS INT)
                 AS is_peak
        FROM prof
    """
    # coreness = ann_knn replay as the edge substrate (the ann_knn_cc
    # composition trick) + the fixed-point peel unroll; kmax/rounds are
    # asserted against the operator's observed degeneracy/convergence
    o["g27_coreness"] = (
        "WITH knn AS (" + o["ann_knn"] + """),
        e0 AS MATERIALIZED (
          SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
          FROM knn
        ), """
        + _coreness_unroll(kmax=16, rounds=12)
    )
    # majority vote as arg-max over (count, -label) — the NB argmax trick;
    # composes the ann_knn replay so the substrates can't drift
    o["ml_knnclass"] = (
        "WITH knn AS (" + o["ann_knn"] + """),
        lab AS (
          SELECT CAST(vec_id AS VARCHAR) AS dst, label AS nlabel
          FROM embeddings
        ),
        votes AS (
          SELECT knn.src AS id, nlabel, CAST(count(*) AS BIGINT) AS c
          FROM knn JOIN lab USING (dst) GROUP BY 1, 2
        ),
        pred AS (
          SELECT id, CAST(nlabel AS INT) AS pred FROM (
            SELECT id, nlabel,
                   row_number() OVER (PARTITION BY id
                                      ORDER BY c DESC, nlabel ASC) AS rn
            FROM votes
          ) WHERE rn = 1
        )
        SELECT id, CAST(label AS INT) AS label, pred,
               CAST(pred = label AS INT) AS correct
        FROM pred JOIN (
          SELECT CAST(vec_id AS VARCHAR) AS id, label FROM embeddings
        ) t USING (id)
    """
    )
    # total (n_chars, doc_id) order -> tie-free, identical rank semantics
    o["sql_percentrank"] = """
        SELECT CAST(doc_id AS BIGINT) AS doc_id, source,
               CAST(n_chars AS BIGINT) AS n_chars,
               round(percent_rank() OVER w, 6) AS pr,
               round(cume_dist() OVER w, 6) AS cd
        FROM documents
        WINDOW w AS (PARTITION BY source ORDER BY n_chars, doc_id)
    """
    # the streamed winner fold resolves through the SAME per-doc stats as
    # batch line dedup, so the batch oracle checks it directly
    o["stream_lines"] = o["dd_lines"]
    # exact HUGEINT sufficient stats; centered 2x2 Cramer solve with each
    # factor cast to double separately (the corr_matrix split discipline)
    o["ml_mlr"] = """
        WITH d AS (
          SELECT l_returnflag AS grp,
                 CAST(l_quantity AS HUGEINT) AS x1,
                 CAST(floor(l_discount * 100) AS HUGEINT) AS x2,
                 CAST(floor(l_extendedprice * 100) AS HUGEINT) AS y
          FROM lineitem
        ),
        s AS (
          SELECT grp, CAST(count(*) AS HUGEINT) AS n,
                 sum(x1) AS s1, sum(x2) AS s2, sum(y) AS sy,
                 sum(x1 * x1) AS s11, sum(x2 * x2) AS s22,
                 sum(x1 * x2) AS s12, sum(x1 * y) AS s1y,
                 sum(x2 * y) AS s2y
          FROM d GROUP BY grp
        ),
        c AS (
          SELECT grp, CAST(n AS BIGINT) AS n,
                 CAST(n * s11 - s1 * s1 AS DOUBLE) AS a11,
                 CAST(n * s22 - s2 * s2 AS DOUBLE) AS a22,
                 CAST(n * s12 - s1 * s2 AS DOUBLE) AS a12,
                 CAST(n * s1y - s1 * sy AS DOUBLE) AS b1v,
                 CAST(n * s2y - s2 * sy AS DOUBLE) AS b2v,
                 CAST(sy AS DOUBLE) AS syd, CAST(s1 AS DOUBLE) AS s1d,
                 CAST(s2 AS DOUBLE) AS s2d, CAST(n AS DOUBLE) AS nd
          FROM s
        )
        SELECT grp, n,
               round((b1v * a22 - b2v * a12)
                     / nullif(a11 * a22 - a12 * a12, 0.0), 6) AS b1,
               round((b2v * a11 - b1v * a12)
                     / nullif(a11 * a22 - a12 * a12, 0.0), 6) AS b2,
               round((syd
                      - ((b1v * a22 - b2v * a12)
                         / nullif(a11 * a22 - a12 * a12, 0.0)) * s1d
                      - ((b2v * a11 - b1v * a12)
                         / nullif(a11 * a22 - a12 * a12, 0.0)) * s2d)
                     / nd, 6) AS intercept
        FROM c
    """
    o["dd_soft"] = """
        WITH d AS (
          SELECT CAST(doc_id AS BIGINT) AS doc_id, sha256(text) AS h
          FROM documents
        ),
        g AS (SELECT h, CAST(count(*) AS BIGINT) AS n_copies
              FROM d GROUP BY h)
        SELECT doc_id, n_copies, round(1.0 / n_copies, 6) AS weight
        FROM d JOIN g USING (h)
    """
    # same co-purchase projection; per-cutoff semi-filtered edge count
    o["g29_richclub"] = """
        WITH gi AS (
          SELECT DISTINCT CAST(l_orderkey AS VARCHAR) AS g,
                          CAST(l_partkey AS VARCHAR) AS item
          FROM lineitem
        ),
        kept AS (
          SELECT g, item FROM (
            SELECT g, item, count(*) OVER (PARTITION BY g) AS sz FROM gi
          ) WHERE sz <= 50
        ),
        e AS MATERIALIZED (
          SELECT DISTINCT x.item AS a, y.item AS b
          FROM kept x JOIN kept y ON x.g = y.g AND x.item < y.item
        ),
        deg AS (
          SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
            SELECT a AS node FROM e UNION ALL SELECT b FROM e
          ) GROUP BY node
        ),
        ks AS (SELECT UNNEST([4, 8, 16, 32]) AS k),
        stats AS (
          SELECT k,
                 (SELECT CAST(count(*) AS BIGINT) FROM deg
                  WHERE deg > k) AS n_nodes,
                 (SELECT CAST(count(*) AS BIGINT) FROM e
                  WHERE a IN (SELECT node FROM deg WHERE deg > k)
                    AND b IN (SELECT node FROM deg WHERE deg > k))
                   AS n_edges
          FROM ks
        )
        SELECT CAST(k AS INT) AS k, n_nodes, n_edges,
               CASE WHEN n_nodes > 1 THEN
                 round(2.0 * n_edges / (CAST(n_nodes AS DOUBLE)
                       * (n_nodes - 1)), 6)
               END AS phi
        FROM stats
    """
    # joint equi-width binning, dense 8x8 shell (the ml_histogram
    # floor-expression discipline applied per axis)
    o["ml_histogram2d"] = """
        WITH d AS (
          SELECT CAST(l_quantity AS DOUBLE) AS x,
                 CAST(floor(l_discount * 100) AS DOUBLE) AS y
          FROM lineitem
        ),
        mm AS (SELECT min(x) AS xlo, max(x) AS xhi,
                      min(y) AS ylo, max(y) AS yhi FROM d),
        cells AS (
          SELECT CASE WHEN xhi > xlo
                      THEN least(CAST(floor((x - xlo) * 8 / (xhi - xlo))
                                 AS INT), 7) ELSE 0 END AS bx,
                 CASE WHEN yhi > ylo
                      THEN least(CAST(floor((y - ylo) * 8 / (yhi - ylo))
                                 AS INT), 7) ELSE 0 END AS by,
                 CAST(count(*) AS BIGINT) AS n
          FROM d CROSS JOIN mm GROUP BY 1, 2
        ),
        shell AS (
          SELECT CAST(bx AS INT) AS bx, CAST(by AS INT) AS by
          FROM UNNEST(generate_series(0, 7)) tx(bx),
               UNNEST(generate_series(0, 7)) ty(by)
        )
        SELECT s.bx, s.by, COALESCE(c.n, 0) AS n
        FROM shell s LEFT JOIN cells c USING (bx, by)
    """
    # cumulative TP/FP over the distinct-score histogram (the ml_auc
    # window), sampled at the lowest threshold of each score decile
    o["ml_roc"] = """
        WITH hist AS (
          SELECT s, CAST(count(*) AS BIGINT) AS c, CAST(sum(y) AS BIGINT) AS p
          FROM (
            SELECT CAST(n_chars AS BIGINT) AS s,
                   CAST(lang = 'en' AS INT) AS y
            FROM documents
          ) GROUP BY s
        ),
        cum AS (
          SELECT s AS threshold,
                 CAST(sum(p) OVER wc AS BIGINT) AS tp,
                 CAST(sum(c) OVER wc - sum(p) OVER wc AS BIGINT) AS fp,
                 CAST(sum(p) OVER () AS BIGINT) AS n_pos,
                 CAST(sum(c) OVER () - sum(p) OVER () AS BIGINT) AS n_neg,
                 ntile(10) OVER (ORDER BY s DESC) AS dec
          FROM hist
          WINDOW wc AS (ORDER BY s DESC
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        )
        SELECT dec, threshold, tp, fp,
               round(CAST(tp AS DOUBLE) / n_pos, 6) AS tpr,
               round(CAST(fp AS DOUBLE) / n_neg, 6) AS fpr
        FROM (
          SELECT *, row_number() OVER (PARTITION BY dec
                                       ORDER BY threshold ASC) AS rn
          FROM cum
        ) WHERE rn = 1
    """
    # exact integer log2 bin: floor(log2(d)) = len(bin(d)) - 1 (float
    # log misbins at exact powers of two)
    o["g30_degdist"] = """
        WITH gi AS (
          SELECT DISTINCT CAST(l_orderkey AS VARCHAR) AS g,
                          CAST(l_partkey AS VARCHAR) AS item
          FROM lineitem
        ),
        kept AS (
          SELECT g, item FROM (
            SELECT g, item, count(*) OVER (PARTITION BY g) AS sz FROM gi
          ) WHERE sz <= 50
        ),
        e AS (
          SELECT DISTINCT x.item AS a, y.item AS b
          FROM kept x JOIN kept y ON x.g = y.g AND x.item < y.item
        ),
        deg AS (
          SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
            SELECT a AS node FROM e UNION ALL SELECT b FROM e
          ) GROUP BY node
        )
        SELECT CAST(length(bin(deg)) - 1 AS INT) AS log2_bin,
               CAST(count(*) AS BIGINT) AS n_nodes
        FROM deg GROUP BY 1
    """
    # cumulative distinct via first-source argmin — no prefix rescans
    o["ts_heaps"] = """
        WITH toks AS (
          SELECT source, w FROM (
            SELECT source, UNNEST(string_split(text, ' ')) AS w
            FROM documents
          ) WHERE w <> ''
        ),
        per_src AS (
          SELECT source, CAST(count(*) AS BIGINT) AS n_tokens
          FROM toks GROUP BY source
        ),
        firsts AS (
          SELECT source, CAST(count(*) AS BIGINT) AS n_first FROM (
            SELECT w, min(source) AS source FROM toks GROUP BY w
          ) GROUP BY source
        )
        SELECT source,
               CAST(sum(n_tokens) OVER wc AS BIGINT) AS tokens_cum,
               CAST(sum(COALESCE(n_first, 0)) OVER wc AS BIGINT)
                 AS vocab_cum
        FROM per_src LEFT JOIN firsts USING (source)
        WINDOW wc AS (ORDER BY source
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """
    # same content-addressed halves as ml_psi; D = max |CDF gap| over
    # the distinct-value histogram, (gap DESC, v ASC) tie-break
    o["ml_ks"] = """
        WITH d AS (
          SELECT CAST(n_chars AS BIGINT) AS v,
                 CASE WHEN ('0x' || substr(sha256('psi-v1' || ','
                        || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                        % 100 < 50
                      THEN 1 ELSE 0 END AS a
          FROM documents
        ),
        hist AS (
          SELECT v, CAST(sum(a) AS BIGINT) AS ca,
                 CAST(sum(1 - a) AS BIGINT) AS cb
          FROM d GROUP BY v
        ),
        cum AS (
          SELECT v,
                 CAST(sum(ca) OVER wc AS BIGINT) AS cum_a,
                 CAST(sum(cb) OVER wc AS BIGINT) AS cum_b,
                 CAST(sum(ca) OVER () AS BIGINT) AS n_a,
                 CAST(sum(cb) OVER () AS BIGINT) AS n_b
          FROM hist
          WINDOW wc AS (ORDER BY v
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        ),
        gaps AS (
          SELECT v, n_a, n_b,
                 round(abs(CAST(cum_a AS DOUBLE) / n_a
                       - CAST(cum_b AS DOUBLE) / n_b), 6) AS gap
          FROM cum
        )
        SELECT n_a, n_b, gap AS d_stat, v AS at_value
        FROM gaps ORDER BY gap DESC, v LIMIT 1
    """
    # vocab-sized equi-join + inclusion-exclusion union sizes
    o["ts_srcsim"] = """
        WITH sv AS (
          SELECT DISTINCT source, w FROM (
            SELECT source, UNNEST(string_split(text, ' ')) AS w
            FROM documents
          ) WHERE w <> ''
        ),
        sizes AS (SELECT source, CAST(count(*) AS BIGINT) AS n
                  FROM sv GROUP BY source),
        inter AS (
          SELECT a.source AS src_a, b.source AS src_b,
                 CAST(count(*) AS BIGINT) AS n_inter
          FROM sv a JOIN sv b ON a.w = b.w AND a.source < b.source
          GROUP BY 1, 2
        )
        SELECT src_a, src_b, n_inter, sa.n AS n_a, sb.n AS n_b,
               round(CAST(n_inter AS DOUBLE)
                     / (sa.n + sb.n - n_inter), 6) AS jaccard
        FROM inter
        JOIN sizes sa ON sa.source = inter.src_a
        JOIN sizes sb ON sb.source = inter.src_b
    """
    # composes the kg edge replay (the ml_f1 single-source discipline)
    o["kg_degprofile"] = f"""
        WITH kge AS ({o["kg_j2_edges"]}),
        outd AS (
          SELECT head_node_id AS node_id, rel_type,
                 CAST(count(*) AS BIGINT) AS out_deg
          FROM kge GROUP BY 1, 2
        ),
        ind AS (
          SELECT tail_node_id AS node_id, rel_type,
                 CAST(count(*) AS BIGINT) AS in_deg
          FROM kge GROUP BY 1, 2
        )
        SELECT COALESCE(o.node_id, i.node_id) AS node_id,
               COALESCE(o.rel_type, i.rel_type) AS rel_type,
               COALESCE(out_deg, 0) AS out_deg,
               COALESCE(in_deg, 0) AS in_deg
        FROM outd o FULL OUTER JOIN ind i
          ON o.node_id = i.node_id AND o.rel_type = i.rel_type
    """
    # dense-grid counts (the ts_resample CTEs) -> exact sum/sumsq ->
    # one fixed double B formula
    o["ts_burstiness"] = """
        WITH e AS (
          SELECT event_type AS key,
                 epoch_us(CAST(ts AS TIMESTAMP)) // 900000000 AS bkt
          FROM events
        ),
        agg AS (
          SELECT key, bkt, CAST(count(*) AS BIGINT) AS x
          FROM e GROUP BY 1, 2
        ),
        b AS (SELECT key, min(bkt) AS lo, max(bkt) AS hi FROM agg GROUP BY 1),
        grid AS (SELECT key, UNNEST(generate_series(lo, hi)) AS bkt FROM b),
        dense AS (
          SELECT g.key, COALESCE(a.x, 0) AS x
          FROM grid g LEFT JOIN agg a USING (key, bkt)
        ),
        s AS (
          SELECT key, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(x) AS BIGINT) AS sx,
                 CAST(sum(x * x) AS BIGINT) AS sxx
          FROM dense GROUP BY key
        )
        SELECT key, n,
               CASE WHEN sx > 0 THEN
                 round((sqrt(CAST(n AS DOUBLE) * sxx
                             - CAST(sx AS DOUBLE) * sx) / n
                        - CAST(sx AS DOUBLE) / n)
                   / (sqrt(CAST(n AS DOUBLE) * sxx
                           - CAST(sx AS DOUBLE) * sx) / n
                        + CAST(sx AS DOUBLE) / n), 6)
               END AS burstiness
        FROM s
    """
    # same content-addressed halves as ml_psi/ml_ks; pooled-variance
    # Cohen's d in one fixed double formula over exact integer moments
    o["ml_effect"] = """
        WITH d AS (
          SELECT CAST(n_chars AS BIGINT) AS v,
                 CASE WHEN ('0x' || substr(sha256('psi-v1' || ','
                        || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                        % 100 < 50
                      THEN 'a' ELSE 'b' END AS side
          FROM documents
        ),
        s AS (
          SELECT
            CAST(sum(CASE WHEN side = 'a' THEN 1 ELSE 0 END) AS BIGINT)
              AS a_n,
            CAST(sum(CASE WHEN side = 'a' THEN v ELSE 0 END) AS BIGINT)
              AS a_sv,
            CAST(sum(CASE WHEN side = 'a' THEN v * v ELSE 0 END) AS BIGINT)
              AS a_svv,
            CAST(sum(CASE WHEN side = 'b' THEN 1 ELSE 0 END) AS BIGINT)
              AS b_n,
            CAST(sum(CASE WHEN side = 'b' THEN v ELSE 0 END) AS BIGINT)
              AS b_sv,
            CAST(sum(CASE WHEN side = 'b' THEN v * v ELSE 0 END) AS BIGINT)
              AS b_svv
          FROM d
        )
        SELECT a_n AS n_a, b_n AS n_b,
               round((CAST(a_sv AS DOUBLE) / a_n
                      - CAST(b_sv AS DOUBLE) / b_n)
                 / sqrt(((CAST(a_svv AS DOUBLE)
                          - CAST(a_sv AS DOUBLE) * a_sv / a_n)
                   + (CAST(b_svv AS DOUBLE)
                          - CAST(b_sv AS DOUBLE) * b_sv / b_n))
                 / (a_n + b_n - 2)), 6) AS cohens_d
        FROM s
    """
    # same directed projection as g23/g24 (shared CTEs — cannot drift)
    o["g31_reciprocity"] = f"""
        WITH {_DIRECTED_CTES},
        de AS MATERIALIZED (
          SELECT DISTINCT s, d FROM (
            SELECT a AS s, b AS d FROM eu
            UNION ALL SELECT b, a FROM eu WHERE w >= 3
          )
        ),
        rec AS (
          SELECT CAST(count(*) AS BIGINT) AS n_reciprocal
          FROM de x
          WHERE EXISTS (SELECT 1 FROM de y
                        WHERE y.s = x.d AND y.d = x.s)
        )
        SELECT (SELECT CAST(count(*) AS BIGINT) FROM de) AS n_edges,
               n_reciprocal,
               round(CAST(n_reciprocal AS DOUBLE)
                     / (SELECT count(*) FROM de), 6) AS reciprocity
        FROM rec
    """
    o["sql_pareto"] = """
        WITH per AS (
          SELECT user_id,
                 CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
                   AS rev
          FROM events GROUP BY user_id
        ),
        ranked AS (
          SELECT row_number() OVER (ORDER BY rev DESC, user_id) AS rk,
                 CAST(sum(rev) OVER (ORDER BY rev DESC, user_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS cum,
                 CAST(sum(rev) OVER () AS BIGINT) AS tot,
                 CAST(count(*) OVER () AS BIGINT) AS n_users
          FROM per
        )
        SELECT n_users, tot AS total_cents,
               CAST(min(rk) AS BIGINT) AS users_for_80pct,
               round(CAST(min(rk) AS DOUBLE) / n_users, 6) AS frac_users
        FROM ranked
        WHERE CAST(cum AS DOUBLE) / tot >= 0.8
        GROUP BY n_users, tot
    """
    # composes the kg edge replay (the kg_degprofile discipline)
    o["kg_reltype_cooccur"] = f"""
        WITH kge AS ({o["kg_j2_edges"]}),
        dt AS (SELECT DISTINCT doc_id, rel_type FROM kge)
        SELECT a.rel_type AS rt_a, b.rel_type AS rt_b,
               CAST(count(*) AS BIGINT) AS n_docs
        FROM dt a JOIN dt b
          ON a.doc_id = b.doc_id AND a.rel_type < b.rel_type
        GROUP BY 1, 2
    """
    # identical fixed double formula over exact integer moments
    o["ml_welch"] = """
        WITH d AS (
          SELECT CAST(n_chars AS BIGINT) AS v,
                 CASE WHEN ('0x' || substr(sha256('psi-v1' || ','
                        || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                        % 100 < 50
                      THEN 'a' ELSE 'b' END AS side
          FROM documents
        ),
        s AS (
          SELECT
            CAST(sum(CASE WHEN side = 'a' THEN 1 ELSE 0 END) AS BIGINT)
              AS a_n,
            CAST(sum(CASE WHEN side = 'a' THEN v ELSE 0 END) AS BIGINT)
              AS a_sv,
            CAST(sum(CASE WHEN side = 'a' THEN v * v ELSE 0 END) AS BIGINT)
              AS a_svv,
            CAST(sum(CASE WHEN side = 'b' THEN 1 ELSE 0 END) AS BIGINT)
              AS b_n,
            CAST(sum(CASE WHEN side = 'b' THEN v ELSE 0 END) AS BIGINT)
              AS b_sv,
            CAST(sum(CASE WHEN side = 'b' THEN v * v ELSE 0 END) AS BIGINT)
              AS b_svv
          FROM d
        )
        SELECT a_n AS n_a, b_n AS n_b,
               round((CAST(a_sv AS DOUBLE) / a_n
                      - CAST(b_sv AS DOUBLE) / b_n)
                 / sqrt(((CAST(a_svv AS DOUBLE)
                          - CAST(a_sv AS DOUBLE) * a_sv / a_n)
                         / (a_n - 1) / a_n)
                      + ((CAST(b_svv AS DOUBLE)
                          - CAST(b_sv AS DOUBLE) * b_sv / b_n)
                         / (b_n - 1) / b_n)), 6) AS t_stat,
               round((((CAST(a_svv AS DOUBLE)
                        - CAST(a_sv AS DOUBLE) * a_sv / a_n)
                       / (a_n - 1) / a_n)
                    + ((CAST(b_svv AS DOUBLE)
                        - CAST(b_sv AS DOUBLE) * b_sv / b_n)
                       / (b_n - 1) / b_n))
                 * (((CAST(a_svv AS DOUBLE)
                        - CAST(a_sv AS DOUBLE) * a_sv / a_n)
                       / (a_n - 1) / a_n)
                    + ((CAST(b_svv AS DOUBLE)
                        - CAST(b_sv AS DOUBLE) * b_sv / b_n)
                       / (b_n - 1) / b_n))
                 / (((CAST(a_svv AS DOUBLE)
                        - CAST(a_sv AS DOUBLE) * a_sv / a_n)
                       / (a_n - 1) / a_n)
                    * ((CAST(a_svv AS DOUBLE)
                        - CAST(a_sv AS DOUBLE) * a_sv / a_n)
                       / (a_n - 1) / a_n) / (a_n - 1)
                    + ((CAST(b_svv AS DOUBLE)
                        - CAST(b_sv AS DOUBLE) * b_sv / b_n)
                       / (b_n - 1) / b_n)
                    * ((CAST(b_svv AS DOUBLE)
                        - CAST(b_sv AS DOUBLE) * b_sv / b_n)
                       / (b_n - 1) / b_n) / (b_n - 1)), 6) AS df
        FROM s
    """
    o["ml_ab"] = """
        WITH per AS (
          SELECT user_id,
                 CAST(max(CASE WHEN event_type = 'purchase'
                               THEN 1 ELSE 0 END) AS BIGINT) AS converted
          FROM events GROUP BY user_id
        ),
        s AS (
          SELECT
            CAST(sum(CASE WHEN arm = 'a' THEN 1 ELSE 0 END) AS BIGINT)
              AS a_n,
            CAST(sum(CASE WHEN arm = 'a' THEN converted ELSE 0 END)
              AS BIGINT) AS a_c,
            CAST(sum(CASE WHEN arm = 'b' THEN 1 ELSE 0 END) AS BIGINT)
              AS b_n,
            CAST(sum(CASE WHEN arm = 'b' THEN converted ELSE 0 END)
              AS BIGINT) AS b_c
          FROM (
            SELECT converted,
                   CASE WHEN ('0x' || substr(sha256('ab-v1' || ','
                          || CAST(user_id AS VARCHAR)), 1, 15))::BIGINT
                          % 100 < 50
                        THEN 'a' ELSE 'b' END AS arm
            FROM per
          )
        )
        SELECT a_n AS n_a, a_c AS conv_a, b_n AS n_b, b_c AS conv_b,
               round(CAST(a_c AS DOUBLE) / a_n, 6) AS rate_a,
               round(CAST(b_c AS DOUBLE) / b_n, 6) AS rate_b,
               round((CAST(a_c AS DOUBLE) / a_n - CAST(b_c AS DOUBLE) / b_n)
                 / nullif(sqrt((CAST(a_c + b_c AS DOUBLE) / (a_n + b_n))
                   * (1.0 - (CAST(a_c + b_c AS DOUBLE) / (a_n + b_n)))
                   * (1.0 / a_n + 1.0 / b_n)), 0.0), 6) AS z
        FROM s
    """
    # pmi-guarded bigram explode; exact counts, vocab-sized float sum
    o["ts_bigram_entropy"] = """
        WITH ws AS (
          SELECT string_split(text, ' ') AS w FROM documents
          WHERE text IS NOT NULL
        ),
        bg AS (
          SELECT w[i] AS w1, w[i + 1] AS w2
          FROM ws, UNNEST(range(1, greatest(len(w), 1))) AS t(i)
          WHERE len(w) >= 2
        ),
        bgf AS (SELECT * FROM bg WHERE w1 <> '' AND w2 <> ''),
        cbg AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c
                FROM bgf GROUP BY 1, 2),
        cw1 AS (SELECT w1, CAST(sum(c) AS BIGINT) AS cw
                FROM cbg GROUP BY w1)
        SELECT CAST(sum(c) AS BIGINT) AS n_bigrams,
               CAST(count(*) AS BIGINT) AS n_distinct_bigrams,
               round(-sum(c * ln(CAST(c AS DOUBLE) / cw)) / sum(c), 6)
                 AS h_cond
        FROM cbg JOIN cw1 USING (w1)
    """
    # composes the recursive-CTE CC replay (single-source discipline)
    o["g32_ccsizes"] = f"""
        WITH RECURSIVE cc AS ({o["g4_cc"]}),
        sizes AS (
          SELECT component, CAST(count(*) AS BIGINT) AS size
          FROM cc GROUP BY component
        )
        SELECT size, CAST(count(*) AS BIGINT) AS n_components
        FROM sizes GROUP BY size
    """
    o["sql_wow"] = """
        WITH wk AS (
          SELECT event_type, CAST(date_trunc('week', ts) AS DATE) AS wk,
                 CAST(count(*) AS BIGINT) AS n
          FROM events GROUP BY 1, 2
        ),
        lagged AS (
          SELECT event_type, wk, n,
                 CAST(lag(n) OVER (PARTITION BY event_type ORDER BY wk)
                   AS BIGINT) AS prev_n
          FROM wk
        )
        SELECT event_type, strftime(wk, '%Y-%m-%d') AS week, n, prev_n,
               CASE WHEN prev_n > 0 THEN
                 round(CAST(n AS DOUBLE) / prev_n - 1.0, 6)
               END AS wow_growth
        FROM lagged
    """
    # roc_auc discipline: doubled midranks over the distinct-score
    # histogram keep 2*R_a / 2*U_a / the tie term exact integers
    o["ml_mannwhitney"] = """
        WITH d AS (
          SELECT CAST(n_chars AS BIGINT) AS s,
                 CASE WHEN ('0x' || substr(sha256('mwu-v1' || ','
                        || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                        % 100 < 50
                      THEN 1 ELSE 0 END AS y
          FROM documents
        ),
        hist AS (
          SELECT s, CAST(count(*) AS BIGINT) AS c,
                 CAST(sum(y) AS BIGINT) AS a
          FROM d GROUP BY s
        ),
        ranked AS (
          SELECT c, a,
                 CAST(coalesce(sum(c) OVER (ORDER BY s
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS cb
          FROM hist
        ),
        st AS (
          SELECT CAST(sum(a) AS BIGINT) AS n_a,
                 CAST(sum(c) - sum(a) AS BIGINT) AS n_b,
                 CAST(sum(a * (2 * cb + c + 1)) AS HUGEINT) AS r1x2,
                 CAST(sum(c * c * c - c) AS HUGEINT) AS ties
          FROM ranked
        )
        SELECT n_a, n_b,
               CAST(r1x2 - n_a * (n_a + 1) AS BIGINT) AS u_x2,
               round((0.5 * CAST(r1x2 - n_a * (n_a + 1) AS DOUBLE)
                      - 0.5 * CAST(n_a AS DOUBLE) * n_b)
                 / nullif(sqrt(CAST(n_a AS DOUBLE) * n_b / 12.0
                     * ((CAST(n_a + n_b AS DOUBLE) + 1.0)
                        - CAST(ties AS DOUBLE)
                          / (CAST(n_a + n_b AS DOUBLE)
                             * (CAST(n_a + n_b AS DOUBLE) - 1.0)))),
                   0.0), 6) AS z
        FROM st
    """
    # midranks joined back to rows, Pearson over the doubled midranks
    o["ml_spearman"] = """
        WITH r AS (
          SELECT CAST(n_chars AS BIGINT) AS x,
                 CAST(len(list_filter(string_split(text, ' '),
                   t -> t <> '')) AS BIGINT) AS y
          FROM documents WHERE text IS NOT NULL
        ),
        hx AS (SELECT x, CAST(count(*) AS BIGINT) AS c FROM r GROUP BY x),
        mxt AS (
          SELECT x, CAST(2 * coalesce(sum(c) OVER (ORDER BY x
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              + c + 1 AS BIGINT) AS mx
          FROM hx
        ),
        hy AS (SELECT y, CAST(count(*) AS BIGINT) AS c FROM r GROUP BY y),
        myt AS (
          SELECT y, CAST(2 * coalesce(sum(c) OVER (ORDER BY y
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              + c + 1 AS BIGINT) AS my
          FROM hy
        ),
        j AS (
          SELECT mx, my FROM r JOIN mxt USING (x) JOIN myt USING (y)
        ),
        st AS (
          SELECT CAST(count(*) AS HUGEINT) AS n,
                 CAST(sum(mx) AS HUGEINT) AS sx,
                 CAST(sum(my) AS HUGEINT) AS sy,
                 CAST(sum(mx * mx) AS HUGEINT) AS sxx,
                 CAST(sum(my * my) AS HUGEINT) AS syy,
                 CAST(sum(mx * my) AS HUGEINT) AS sxy
          FROM j
        )
        SELECT CAST(n AS BIGINT) AS n,
               round(CASE WHEN CAST(n * sxx - sx * sx AS DOUBLE) > 0
                           AND CAST(n * syy - sy * sy AS DOUBLE) > 0
                     THEN CAST(n * sxy - sx * sy AS DOUBLE)
                          / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                             * sqrt(CAST(n * syy - sy * sy AS DOUBLE)))
                     END, 6) AS rho
        FROM st
    """
    # SymSpell delete-1 neighborhood replay: the key itself + every
    # delete-one variant, equi-join, exact levenshtein verify
    o["dd_editdist"] = """
        WITH base AS (
          SELECT CAST(doc_id AS VARCHAR) AS id,
                 substr(text, 1, 48) AS key
          FROM documents
          WHERE text IS NOT NULL
            AND length(substr(text, 1, 48)) >= 8
            AND regexp_matches(substr(text, 1, 48), '^[ -~]+$')
        ),
        hashed AS (
          SELECT id, key,
                 ('0x' || substr(sha256('ed1-v1' || ',' || id), 1, 15))
                   ::BIGINT AS h
          FROM base
        ),
        planted AS (
          SELECT 'typo-' || id AS id,
                 substr(key, 1, pos - 1)
                 || CASE WHEN substr(key, pos, 1) = 'q'
                         THEN 'z' ELSE 'q' END
                 || substr(key, pos + 1) AS key
          FROM (
            SELECT id, key,
                   CAST(h % length(key) + 1 AS INT) AS pos
            FROM hashed WHERE h % 100 < 8
          )
        ),
        corpus AS (
          SELECT id, key FROM base
          UNION ALL SELECT id, key FROM planted
        ),
        vars AS (
          SELECT id, key,
                 substr(key, 1, CAST(i AS INT) - 1)
                 || substr(key, CAST(i AS INT) + 1) AS v
          FROM corpus, UNNEST(range(1, length(key) + 1)) AS t(i)
          UNION
          SELECT id, key, key AS v FROM corpus
        ),
        cand AS (
          SELECT DISTINCT a.id AS id_a, a.key AS key_a,
                          b.id AS id_b, b.key AS key_b
          FROM vars a JOIN vars b ON a.v = b.v AND a.id < b.id
        )
        SELECT id_a, id_b,
               CAST(levenshtein(key_a, key_b) AS INT) AS dist
        FROM cand WHERE levenshtein(key_a, key_b) <= 1
    """
    # composes the kg edge replay; distinct typed edges BEFORE the
    # mid-node join so instance multiplicity never inflates path counts
    o["kg_metapaths"] = f"""
        WITH kge AS ({o["kg_j2_edges"]}),
        et AS (
          SELECT DISTINCT head_node_id AS h, tail_node_id AS t, rel_type
          FROM kge
        ),
        paths AS (
          SELECT DISTINCT e1.h AS a, e1.t AS b, e2.t AS c,
                          e1.rel_type AS rt1, e2.rel_type AS rt2
          FROM et e1 JOIN et e2 ON e1.t = e2.h
          WHERE e1.h <> e2.t
        )
        SELECT rt1, rt2, CAST(count(*) AS BIGINT) AS n_paths
        FROM paths GROUP BY 1, 2
    """
    # scaled-integer CUSUM: s_i = n_i*D - T keeps the cumulative sum
    # exact; peak ties break to the earliest day
    o["ts_cusum"] = """
        WITH e AS (
          SELECT event_type AS key,
                 CAST(epoch_us(CAST(ts AS TIMESTAMP))
                      // 86400000000 AS BIGINT) AS bkt
          FROM events
        ),
        agg AS (
          SELECT key, bkt, CAST(count(*) AS BIGINT) AS n
          FROM e GROUP BY 1, 2
        ),
        bounds AS (
          SELECT key, min(bkt) AS lo, max(bkt) AS hi FROM agg GROUP BY key
        ),
        grid AS (
          SELECT key, CAST(i AS BIGINT) AS bkt
          FROM bounds, UNNEST(range(lo, hi + 1)) AS t(i)
        ),
        dense AS (
          SELECT g.key, g.bkt, CAST(coalesce(a.n, 0) AS BIGINT) AS n
          FROM grid g LEFT JOIN agg a ON a.key = g.key AND a.bkt = g.bkt
        ),
        sized AS (
          SELECT key, bkt, n,
                 CAST(count(*) OVER (PARTITION BY key) AS BIGINT) AS d,
                 CAST(sum(n) OVER (PARTITION BY key) AS BIGINT) AS t
          FROM dense
        ),
        scored AS (
          SELECT key, bkt, d, t,
                 CAST(sum(n * d - t) OVER (PARTITION BY key ORDER BY bkt
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS c
          FROM sized
        ),
        top AS (
          SELECT *, row_number() OVER (PARTITION BY key
                   ORDER BY abs(c) DESC, bkt ASC) AS rn
          FROM scored
        )
        SELECT key AS event_type,
               strftime(make_timestamp(bkt * 86400000000), '%Y-%m-%d')
                 AS peak_day,
               d AS n_days, t AS total,
               CAST(abs(c) AS BIGINT) AS cusum_abs_max,
               round(abs(c) / (CAST(d AS DOUBLE) * t), 6) AS score
        FROM top WHERE rn = 1
    """
    # LEAD over each user's (ts, event_id)-ordered stream
    o["sql_transitions"] = """
        WITH tr AS (
          SELECT event_type AS from_type,
                 lead(event_type) OVER (PARTITION BY user_id
                   ORDER BY ts, event_id) AS to_type
          FROM events
        ),
        cnt AS (
          SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
          FROM tr WHERE to_type IS NOT NULL GROUP BY 1, 2
        )
        SELECT from_type, to_type, n,
               round(CAST(n AS DOUBLE)
                 / sum(n) OVER (PARTITION BY from_type), 6) AS p
        FROM cnt
    """
    # scatter replay: each dense day contributes to the next 32 buckets
    # with exact power-of-two weights
    o["ts_ewma"] = """
        WITH e AS (
          SELECT event_type AS key,
                 CAST(epoch_us(CAST(ts AS TIMESTAMP))
                      // 86400000000 AS BIGINT) AS bkt
          FROM events
        ),
        agg AS (
          SELECT key, bkt, CAST(count(*) AS BIGINT) AS n
          FROM e GROUP BY 1, 2
        ),
        bounds AS (
          SELECT key, min(bkt) AS lo, max(bkt) AS hi FROM agg GROUP BY key
        ),
        grid AS (
          SELECT b.key, b.hi, CAST(i AS BIGINT) AS bkt
          FROM bounds b, UNNEST(range(b.lo, b.hi + 1)) AS t(i)
        ),
        dense AS (
          SELECT g.key, g.hi, g.bkt,
                 CAST(coalesce(a.n, 0) AS BIGINT) AS n
          FROM grid g
          LEFT JOIN agg a ON a.key = g.key AND a.bkt = g.bkt
        ),
        scattered AS (
          SELECT key, bkt + CAST(lag AS BIGINT) AS t_bkt,
                 (CAST(1 AS BIGINT) << (31 - CAST(lag AS INT))) AS w,
                 n, hi, bkt AS src_bkt
          FROM dense, UNNEST(range(0, 32)) AS l(lag)
          WHERE bkt + CAST(lag AS BIGINT) <= hi
        )
        SELECT key AS event_type,
               strftime(make_timestamp(t_bkt * 86400000000), '%Y-%m-%d')
                 AS day,
               CAST(max(CASE WHEN src_bkt = t_bkt THEN n END) AS BIGINT)
                 AS n,
               round(CAST(sum(n * w) AS DOUBLE) / sum(w), 6) AS ewma
        FROM scattered GROUP BY key, t_bkt
    """
    # change points via LAG, validity intervals via LEAD — zero self-joins
    o["sql_scd2"] = """
        WITH marked AS (
          SELECT user_id, ts, event_id, event_type,
                 lag(event_type) OVER (PARTITION BY user_id
                   ORDER BY ts, event_id) AS prev_type
          FROM events
        ),
        changes AS (
          SELECT user_id, ts, event_id, event_type
          FROM marked
          WHERE prev_type IS NULL OR event_type <> prev_type
        )
        SELECT user_id, event_type AS segment,
               strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS valid_from,
               strftime(lead(ts) OVER (PARTITION BY user_id
                 ORDER BY ts, event_id), '%Y-%m-%d %H:%M:%S.%f')
                 AS valid_to,
               CAST(row_number() OVER (PARTITION BY user_id
                 ORDER BY ts, event_id) AS BIGINT) AS version,
               CAST(CASE WHEN lead(ts) OVER (PARTITION BY user_id
                 ORDER BY ts, event_id) IS NULL THEN 1 ELSE 0 END AS INT)
                 AS is_current
        FROM changes
    """
    # one conditional-sum groupBy(word); zero-count terms excluded by
    # CASE so both engines sum the same term set
    o["ml_jsd"] = """
        WITH toks AS (
          SELECT CASE WHEN ('0x' || substr(sha256('jsd-v1' || ','
                   || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                   % 100 < 50
                 THEN 'a' ELSE 'b' END AS side,
                 unnest(string_split(text, ' ')) AS w
          FROM documents WHERE text IS NOT NULL
        ),
        wc AS (
          SELECT w,
                 CAST(sum(CASE WHEN side = 'a' THEN 1 ELSE 0 END)
                   AS BIGINT) AS ca,
                 CAST(sum(CASE WHEN side = 'b' THEN 1 ELSE 0 END)
                   AS BIGINT) AS cb
          FROM toks WHERE w <> '' GROUP BY w
        ),
        tot AS (
          SELECT CAST(sum(ca) AS BIGINT) AS na,
                 CAST(sum(cb) AS BIGINT) AS nb,
                 CAST(count(*) AS BIGINT) AS n_words
          FROM wc
        )
        SELECT na AS n_a, nb AS n_b, n_words,
               round(sum(
                 0.5 * (CASE WHEN ca > 0 THEN (CAST(ca AS DOUBLE) / na)
                   * ln((CAST(ca AS DOUBLE) / na)
                     / (0.5 * (CAST(ca AS DOUBLE) / na
                        + CAST(cb AS DOUBLE) / nb))) ELSE 0.0 END
                 + CASE WHEN cb > 0 THEN (CAST(cb AS DOUBLE) / nb)
                   * ln((CAST(cb AS DOUBLE) / nb)
                     / (0.5 * (CAST(ca AS DOUBLE) / na
                        + CAST(cb AS DOUBLE) / nb))) ELSE 0.0 END)
               ), 6) AS jsd
        FROM wc, tot
        GROUP BY na, nb, n_words
    """
    # contingency + window marginals over the cell-cardinality table
    o["ml_mi"] = """
        WITH ct AS (
          SELECT source, lang, CAST(count(*) AS BIGINT) AS c
          FROM documents GROUP BY 1, 2
        ),
        cells AS (
          SELECT c,
                 CAST(sum(c) OVER (PARTITION BY source) AS BIGINT) AS cx,
                 CAST(sum(c) OVER (PARTITION BY lang) AS BIGINT) AS cy,
                 CAST(sum(c) OVER () AS BIGINT) AS n
          FROM ct
        )
        SELECT CAST(max(n) AS BIGINT) AS n,
               CAST(count(*) AS BIGINT) AS n_cells,
               round(sum((CAST(c AS DOUBLE) / n)
                 * ln(CAST(c AS DOUBLE) * n
                      / (CAST(cx AS DOUBLE) * cy))), 6) AS mi
        FROM cells
    """
    # sample-sized pair join; tie pairs from linear value histograms
    o["ml_kendall"] = """
        WITH s AS (
          SELECT CAST(doc_id AS VARCHAR) AS id,
                 CAST(n_chars AS BIGINT) AS x,
                 CAST(len(list_filter(string_split(text, ' '),
                   t -> t <> '')) AS BIGINT) AS y
          FROM documents
          WHERE text IS NOT NULL
            AND ('0x' || substr(sha256('kt-v1' || ','
                  || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                % 100 < 20
        ),
        cd AS (
          SELECT
            CAST(sum(CASE WHEN (a.x - b.x) * (a.y - b.y) > 0
                     THEN 1 ELSE 0 END) AS BIGINT) AS c,
            CAST(sum(CASE WHEN (a.x - b.x) * (a.y - b.y) < 0
                     THEN 1 ELSE 0 END) AS BIGINT) AS d
          FROM s a JOIN s b ON a.id < b.id
        ),
        tx AS (
          SELECT CAST(sum(t * (t - 1)) AS BIGINT) AS n1x2
          FROM (SELECT count(*) AS t FROM s GROUP BY x)
        ),
        ty AS (
          SELECT CAST(sum(t * (t - 1)) AS BIGINT) AS n2x2
          FROM (SELECT count(*) AS t FROM s GROUP BY y)
        ),
        nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM s)
        SELECT n,
               CAST(n * (n - 1) / 2 AS BIGINT) AS n_pairs,
               c AS concordant, d AS discordant,
               round(CAST(c - d AS DOUBLE)
                 / nullif(sqrt((CAST(n AS DOUBLE) * (n - 1) - n1x2)
                     / 2.0)
                   * sqrt((CAST(n AS DOUBLE) * (n - 1) - n2x2) / 2.0),
                   0.0), 6) AS tau
        FROM cd, tx, ty, nn
    """
    # Poisson(1) inverse-CDF CASE ladder over floor(cdf * 2^60) integer
    # literals — identical comparisons on both engines
    o["ml_bootstrap"] = """
        WITH rows_ AS (
          SELECT CAST(doc_id AS VARCHAR) AS id,
                 CAST(n_chars AS BIGINT) AS v
          FROM documents
        ),
        reps AS (
          SELECT id, v, CAST(r AS BIGINT) AS r
          FROM rows_, UNNEST(range(0, 32)) AS t(r)
        ),
        weighted AS (
          SELECT r, v,
                 CAST(CASE
                   WHEN h < 424136118829305344 THEN 0
                   WHEN h < 848272237658610688 THEN 1
                   WHEN h < 1060340297073263360 THEN 2
                   WHEN h < 1131029650211480960 THEN 3
                   WHEN h < 1148701988496035328 THEN 4
                   WHEN h < 1152236456152946176 THEN 5
                   WHEN h < 1152825534095764608 THEN 6
                   ELSE 7 END AS BIGINT) AS w
          FROM (
            SELECT r, v,
                   ('0x' || substr(sha256('boot-v1' || ','
                     || CAST(r AS VARCHAR) || ',' || id), 1, 15))
                     ::BIGINT AS h
            FROM reps
          )
        ),
        means AS (
          SELECT r,
                 CAST(sum(v * w) AS DOUBLE) / nullif(sum(w), 0) AS m
          FROM weighted GROUP BY r
        ),
        ranked AS (
          SELECT m, row_number() OVER (ORDER BY m ASC) AS rk FROM means
        ),
        st AS (
          SELECT CAST(count(*) AS BIGINT) AS bn,
                 max(CASE WHEN rk = 2 THEN m END) AS lo,
                 max(CASE WHEN rk = 31 THEN m END) AS hi,
                 sum(m) AS sm, sum(m * m) AS smm
          FROM ranked
        ),
        full_ AS (
          SELECT CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(v) AS BIGINT) AS sv
          FROM rows_
        )
        SELECT n, bn AS b,
               round(CAST(sv AS DOUBLE) / n, 6) AS mean_full,
               round(lo, 6) AS boot_lo,
               round(hi, 6) AS boot_hi,
               round(sqrt((smm - sm * sm / bn) / (bn - 1)), 6) AS boot_se
        FROM st, full_
    """
    # rotation anchored at the smallest node id so each 3-cycle counts
    # once; composes the kg edge replay
    o["kg_typed_triangles"] = f"""
        WITH kge AS ({o["kg_j2_edges"]}),
        et AS (
          SELECT DISTINCT head_node_id AS h, tail_node_id AS t, rel_type
          FROM kge
        ),
        tris AS (
          SELECT DISTINCT e1.h AS a, e1.t AS b, e2.t AS c,
                 e1.rel_type AS rt1, e2.rel_type AS rt2,
                 e3.rel_type AS rt3
          FROM et e1
          JOIN et e2 ON e2.h = e1.t
          JOIN et e3 ON e3.h = e2.t AND e3.t = e1.h
          WHERE e1.h < e1.t AND e1.h < e2.t
        )
        SELECT rt1, rt2, rt3, CAST(count(*) AS BIGINT) AS n_triangles
        FROM tris GROUP BY 1, 2, 3
    """
    # ntile over the (score desc, doc_id) total order; exact-int ratios
    o["ml_lift"] = """
        WITH d AS (
          SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                 CAST(n_chars AS BIGINT) AS s,
                 CAST(CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS BIGINT)
                   AS y
          FROM documents
        ),
        deciled AS (
          SELECT s, y,
                 CAST(ntile(10) OVER (ORDER BY s DESC, doc_id ASC)
                   AS BIGINT) AS decile
          FROM d
        ),
        per AS (
          SELECT decile, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(y) AS BIGINT) AS pos
          FROM deciled GROUP BY decile
        )
        SELECT decile, n, pos,
               CAST(sum(pos) OVER (ORDER BY decile
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS BIGINT) AS cum_pos,
               round(sum(pos) OVER (ORDER BY decile
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 / CAST(sum(pos) OVER () AS DOUBLE), 6) AS gain,
               round((pos / CAST(n AS DOUBLE))
                 / (sum(pos) OVER () / CAST(sum(n) OVER () AS DOUBLE)),
                 6) AS lift
        FROM per
    """
    # runs counted as LAG sign changes + 1 over the dense grid; exact
    # (n_plus, n_minus, runs) integers into one fixed double formula
    o["ts_runs"] = """
        WITH e AS (
          SELECT event_type AS key,
                 CAST(epoch_us(CAST(ts AS TIMESTAMP))
                      // 86400000000 AS BIGINT) AS bkt
          FROM events
        ),
        agg AS (
          SELECT key, bkt, CAST(count(*) AS BIGINT) AS n
          FROM e GROUP BY 1, 2
        ),
        bounds AS (
          SELECT key, min(bkt) AS lo, max(bkt) AS hi FROM agg GROUP BY key
        ),
        grid AS (
          SELECT key, CAST(i AS BIGINT) AS bkt
          FROM bounds, UNNEST(range(lo, hi + 1)) AS t(i)
        ),
        dense AS (
          SELECT g.key, g.bkt, CAST(coalesce(a.n, 0) AS BIGINT) AS n
          FROM grid g LEFT JOIN agg a ON a.key = g.key AND a.bkt = g.bkt
        ),
        signed AS (
          SELECT key, bkt,
                 CAST(n * count(*) OVER (PARTITION BY key)
                      > sum(n) OVER (PARTITION BY key) AS INT) AS s
          FROM dense
        ),
        runs_ AS (
          SELECT key, s,
                 CASE WHEN lag(s) OVER (PARTITION BY key ORDER BY bkt)
                        IS NULL
                      OR lag(s) OVER (PARTITION BY key ORDER BY bkt)
                        <> s
                      THEN 1 ELSE 0 END AS newrun
          FROM signed
        ),
        st AS (
          SELECT key,
                 CAST(sum(s) AS BIGINT) AS n_plus,
                 CAST(count(*) - sum(s) AS BIGINT) AS n_minus,
                 CAST(sum(newrun) AS BIGINT) AS runs
          FROM runs_ GROUP BY key
        )
        SELECT key AS event_type, n_plus, n_minus, runs,
               round((runs - (2.0 * n_plus * n_minus
                       / (n_plus + n_minus) + 1.0))
                 / nullif(sqrt((2.0 * n_plus * n_minus
                     * (2.0 * n_plus * n_minus - n_plus - n_minus)
                     / (CAST(n_plus + n_minus AS DOUBLE)
                        * (n_plus + n_minus)
                        * (n_plus + n_minus - 1.0)))), 0.0), 6) AS z
        FROM st
    """
    # two LEADs over the (ts, event_id) order; top 20 by (count, path)
    o["sql_pathfunnel"] = """
        WITH tri AS (
          SELECT event_type AS e1,
                 lead(event_type, 1) OVER (PARTITION BY user_id
                   ORDER BY ts, event_id) AS e2,
                 lead(event_type, 2) OVER (PARTITION BY user_id
                   ORDER BY ts, event_id) AS e3
          FROM events
        ),
        cnt AS (
          SELECT e1, e2, e3, CAST(count(*) AS BIGINT) AS n
          FROM tri WHERE e3 IS NOT NULL GROUP BY 1, 2, 3
        ),
        ranked AS (
          SELECT e1, e2, e3, n,
                 round(CAST(n AS DOUBLE) / sum(n) OVER (), 6) AS share,
                 row_number() OVER (ORDER BY n DESC, e1, e2, e3) AS rk
          FROM cnt
        )
        SELECT CAST(rk AS BIGINT) AS rk, e1, e2, e3, n, share
        FROM ranked WHERE rk <= 20
    """
    # zero cells folded in analytically: chi2 = n + sum_obs(...)
    o["ml_cramersv"] = """
        WITH ct AS (
          SELECT source, lang, CAST(count(*) AS BIGINT) AS c
          FROM documents GROUP BY 1, 2
        ),
        cells AS (
          SELECT c,
                 CAST(sum(c) OVER (PARTITION BY source) AS BIGINT) AS cx,
                 CAST(sum(c) OVER (PARTITION BY lang) AS BIGINT) AS cy,
                 CAST(sum(c) OVER () AS BIGINT) AS n,
                 source, lang
          FROM ct
        ),
        st AS (
          SELECT CAST(max(n) AS BIGINT) AS n,
                 CAST(count(DISTINCT source) AS BIGINT) AS r,
                 CAST(count(DISTINCT lang) AS BIGINT) AS cc,
                 sum((CAST(c AS DOUBLE) * n - CAST(cx AS DOUBLE) * cy)
                     * (CAST(c AS DOUBLE) * n - CAST(cx AS DOUBLE) * cy)
                     / (CAST(n AS DOUBLE) * cx * cy)
                     - CAST(cx AS DOUBLE) * cy / n) AS adj
          FROM cells
        )
        SELECT n, r, cc AS c,
               round(n + adj, 6) AS chi2,
               round(sqrt((n + adj) / (CAST(n AS DOUBLE)
                 * (least(r, cc) - 1))), 6) AS cramers_v
        FROM st
    """
    # streamed daily fold + shared CUSUM plan == the batch statistic
    o["stream_cusum"] = o["ts_cusum"]
    # cross-side pairs from the exact-jaccard replay (the dd_minhash_lsh
    # equivalence: LSH at b=16/r=2 provably recovers J>=0.9) + sha match
    o["dd_crossdedup"] = f"""
        WITH {_SHINGLE_CTE},
        sides AS (
          SELECT CAST(doc_id AS VARCHAR) AS id, text,
                 CASE WHEN ('0x' || substr(sha256('xd-v1' || ','
                        || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                        % 100 < 70
                      THEN 'base' ELSE 'in' END AS side
          FROM documents
        ),
        basesha AS (
          SELECT DISTINCT sha256(text) AS h FROM sides
          WHERE side = 'base'
        ),
        exact_drop AS (
          SELECT DISTINCT s.id FROM sides s
          JOIN basesha b ON sha256(s.text) = b.h
          WHERE s.side = 'in'
        ),
        near_drop AS (
          SELECT DISTINCT CASE WHEN sa.side = 'in' THEN j.id_a
                               ELSE j.id_b END AS id
          FROM jacc j
          JOIN sides sa ON sa.id = j.id_a
          JOIN sides sb ON sb.id = j.id_b
          WHERE j.jaccard >= 0.9 AND sa.side <> sb.side
        )
        SELECT s.id AS doc_id,
               CAST(CASE WHEN e.id IS NOT NULL OR n.id IS NOT NULL
                    THEN 0 ELSE 1 END AS INT) AS kept,
               CASE WHEN e.id IS NOT NULL THEN 'exact'
                    WHEN n.id IS NOT NULL THEN 'near' END AS reason
        FROM sides s
        LEFT JOIN exact_drop e ON e.id = s.id
        LEFT JOIN near_drop n ON n.id = s.id
        WHERE s.side = 'in'
    """
    # k-th order statistic of the distinct 60-bit hashes
    o["sk_kmv"] = """
        WITH vals AS (SELECT DISTINCT user_id AS v FROM events),
        hs AS (
          SELECT DISTINCT ('0x' || substr(sha256('kmv-v1' || ','
                   || CAST(v AS VARCHAR)), 1, 15))::BIGINT AS h
          FROM vals
        ),
        topk AS (SELECT h FROM hs ORDER BY h LIMIT 256),
        st AS (
          SELECT CAST(count(*) AS BIGINT) AS m,
                 CAST(max(h) AS BIGINT) AS kth
          FROM topk
        ),
        ne AS (SELECT CAST(count(*) AS BIGINT) AS n_exact FROM hs)
        SELECT m AS k_used, kth AS kth_hash,
               round(CASE WHEN m < 256 THEN CAST(m AS DOUBLE)
                 ELSE (256 - 1.0) * 1152921504606846976 / kth END, 6)
                 AS n_est,
               n_exact,
               round(abs(CASE WHEN m < 256 THEN CAST(m AS DOUBLE)
                 ELSE (256 - 1.0) * 1152921504606846976 / kth END
                 - n_exact) / n_exact, 6) AS rel_err
        FROM st, ne
    """
    # streamed k-min fold == the batch sketch (superset-of-top-k proof)
    o["stream_kmv"] = o["sk_kmv"]
    # in-half words left-joined against the base DISTINCT vocab
    o["ts_oov"] = """
        WITH toks AS (
          SELECT CASE WHEN ('0x' || substr(sha256('oov-v1' || ','
                   || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                   % 100 < 50
                 THEN 'base' ELSE 'in' END AS side,
                 unnest(string_split(text, ' ')) AS w
          FROM documents WHERE text IS NOT NULL
        ),
        tf AS (SELECT side, w FROM toks WHERE w <> ''),
        vocab AS (
          SELECT DISTINCT w, 1 AS known FROM tf WHERE side = 'base'
        ),
        inw AS (
          SELECT w, CAST(count(*) AS BIGINT) AS c
          FROM tf WHERE side = 'in' GROUP BY w
        ),
        j AS (
          SELECT inw.c, vocab.known
          FROM inw LEFT JOIN vocab ON vocab.w = inw.w
        ),
        st AS (
          SELECT CAST(sum(c) AS BIGINT) AS n_tokens,
                 CAST(sum(CASE WHEN known IS NULL THEN c ELSE 0 END)
                   AS BIGINT) AS n_oov,
                 CAST(count(*) AS BIGINT) AS n_types,
                 CAST(sum(CASE WHEN known IS NULL THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_oov_types
          FROM j
        )
        SELECT n_tokens, n_oov,
               round(CAST(n_oov AS DOUBLE) / n_tokens, 6) AS oov_rate,
               n_types, n_oov_types,
               round(CAST(n_oov_types AS DOUBLE) / n_types, 6)
                 AS type_oov_rate
        FROM st
    """
    # distinct (doc, node) membership from the kg edge endpoints
    o["kg_entity_pmi"] = f"""
        WITH kge AS ({o["kg_j2_edges"]}),
        mem AS (
          SELECT DISTINCT doc_id, node FROM (
            SELECT doc_id, head_node_id AS node FROM kge
            UNION ALL SELECT doc_id, tail_node_id FROM kge
          )
        ),
        nd AS (
          SELECT node, CAST(count(*) AS BIGINT) AS ndc
          FROM mem GROUP BY node
        ),
        ndocs AS (
          SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n FROM mem
        ),
        pairs AS (
          SELECT a.node AS e1, b.node AS e2,
                 CAST(count(*) AS BIGINT) AS n12
          FROM mem a JOIN mem b
            ON a.doc_id = b.doc_id AND a.node < b.node
          GROUP BY 1, 2
          HAVING count(*) >= 3
        ),
        scored AS (
          SELECT e1, e2, n12, x.ndc AS n1, y.ndc AS n2,
                 round(ln(CAST(n12 AS DOUBLE) * ndocs.n
                   / (CAST(x.ndc AS DOUBLE) * y.ndc)), 6) AS pmi
          FROM pairs
          JOIN nd x ON x.node = e1
          JOIN nd y ON y.node = e2
          CROSS JOIN ndocs
        ),
        ranked AS (
          SELECT *, CAST(row_number() OVER (ORDER BY pmi DESC, e1, e2)
                   AS BIGINT) AS rk
          FROM scored
        )
        SELECT rk, e1, e2, n12, n1, n2, pmi
        FROM ranked WHERE rk <= 50
    """
    # replay the span synthesis, then the SAME two integrity checks
    o["mm_audit"] = f"""
        WITH {_SPANS_SQL},
        flat AS (
          SELECT doc_id, p, s.kind AS kind, s.txt AS txt, s.off AS off
          FROM ex
        ),
        flags AS (
          SELECT doc_id, kind,
                 CASE WHEN lag(off) OVER (PARTITION BY doc_id ORDER BY p)
                        IS NOT NULL
                      AND off < lag(off) OVER (PARTITION BY doc_id
                        ORDER BY p)
                      THEN 1 ELSE 0 END AS viol
          FROM flat
        ),
        rebuilt AS (
          SELECT doc_id, string_agg(txt, '' ORDER BY p) AS rebuilt
          FROM flat WHERE kind = 'text' GROUP BY doc_id
        ),
        orig AS (
          SELECT 'doc_' || CAST(doc_id AS VARCHAR) AS doc_id,
                 text AS orig
          FROM documents
        ),
        mism AS (
          SELECT CASE WHEN r.rebuilt <> o2.orig THEN 1 ELSE 0 END AS mm
          FROM rebuilt r JOIN orig o2 USING (doc_id)
        ),
        aud_a AS (
          SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
                 CAST(count(*) AS BIGINT) AS n_spans,
                 CAST(sum(CASE WHEN kind <> 'text' THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_media_spans,
                 CAST(sum(viol) AS BIGINT) AS n_offset_violations
          FROM flags
        ),
        aud_b AS (
          SELECT CAST(sum(mm) AS BIGINT) AS n_reassembly_mismatches
          FROM mism
        )
        SELECT * FROM aud_a, aud_b
    """
    # recursive min-label reach over the kg edge replay, then sizes
    o["kg_wcc"] = f"""
        WITH RECURSIVE kge AS ({o["kg_j2_edges"]}),
        p AS (SELECT DISTINCT head_node_id AS s, tail_node_id AS d
              FROM kge),
        edges AS (SELECT s, d FROM p UNION SELECT d, s FROM p),
        verts AS (SELECT DISTINCT s AS v FROM edges),
        reach AS (
          SELECT v, v AS r FROM verts
          UNION
          SELECT e.d AS v, reach.r FROM reach JOIN edges e
            ON e.s = reach.v
        ),
        cc AS (SELECT v, min(r) AS component FROM reach GROUP BY v),
        sizes AS (
          SELECT component, CAST(count(*) AS BIGINT) AS size
          FROM cc GROUP BY component
        )
        SELECT size, CAST(count(*) AS BIGINT) AS n_components
        FROM sizes GROUP BY size
    """
    # composes the ts_langid stopword-vote replay
    o["ts_langconfusion"] = f"""
        WITH pred AS ({o["ts_langid"]}),
        truth AS (
          SELECT CAST(doc_id AS VARCHAR) AS doc_id, lang AS true_lang
          FROM documents
        ),
        ct AS (
          SELECT true_lang, pred_lang, CAST(count(*) AS BIGINT) AS n
          FROM pred JOIN truth USING (doc_id)
          GROUP BY 1, 2
        )
        SELECT true_lang, pred_lang, n,
               round(CAST(n AS DOUBLE)
                 / sum(n) OVER (PARTITION BY true_lang), 6)
                 AS recall_share
        FROM ct
    """
    # 64 deterministic relabelings via integer modulo (no float
    # threshold); null diffs (degenerate one-sided draws) count as 0
    o["ml_permtest"] = """
        WITH d AS (
          SELECT CAST(doc_id AS VARCHAR) AS id,
                 CAST(n_chars AS BIGINT) AS v,
                 CAST(CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS BIGINT)
                   AS y
          FROM documents
        ),
        tot AS (
          SELECT CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(y) AS BIGINT) AS n1,
                 CAST(sum(v) AS BIGINT) AS sv,
                 CAST(sum(v * y) AS BIGINT) AS sv1
          FROM d
        ),
        obs AS (
          SELECT n, n1,
                 CAST(sv1 AS DOUBLE) / n1
                 - CAST(sv - sv1 AS DOUBLE) / (n - n1) AS obs_diff
          FROM tot
        ),
        reps AS (
          SELECT id, v, CAST(r AS BIGINT) AS r
          FROM d, UNNEST(range(0, 64)) AS t(r)
        ),
        sided AS (
          SELECT r, v,
                 CAST(CASE WHEN (('0x' || substr(sha256('perm-v1' || ','
                        || CAST(r AS VARCHAR) || ',' || id), 1, 15))
                        ::BIGINT % obs.n) < obs.n1
                      THEN 1 ELSE 0 END AS BIGINT) AS s
          FROM reps, obs
        ),
        per AS (
          SELECT r,
                 CASE WHEN sum(s) > 0 AND sum(s) < count(*) THEN
                   CAST(sum(v * s) AS DOUBLE) / sum(s)
                   - CAST(sum(v) - sum(v * s) AS DOUBLE)
                     / (count(*) - sum(s))
                 END AS diff
          FROM sided GROUP BY r
        )
        SELECT obs.n, obs.n1, round(obs.obs_diff, 6) AS obs_diff,
               CAST(count(*) AS BIGINT) AS b,
               CAST(sum(CASE WHEN abs(diff) >= abs(obs.obs_diff)
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_ge,
               round((1.0 + sum(CASE WHEN abs(diff) >= abs(obs.obs_diff)
                    THEN 1 ELSE 0 END)) / 65.0, 6) AS p_value
        FROM per, obs
        GROUP BY obs.n, obs.n1, obs.obs_diff
    """
    # binomial z on the hash-arm sizes (the ml_ab split's health check)
    o["ml_srm"] = """
        WITH per AS (
          SELECT CASE WHEN ('0x' || substr(sha256('ab-v1' || ','
                   || CAST(user_id AS VARCHAR)), 1, 15))::BIGINT
                   % 100 < 50
                 THEN 1 ELSE 0 END AS a
          FROM (SELECT DISTINCT user_id FROM events)
        )
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(a) AS BIGINT) AS n_a,
               CAST(count(*) - sum(a) AS BIGINT) AS n_b,
               round((CAST(sum(a) AS DOUBLE)
                   - CAST(count(*) AS DOUBLE) / 2.0)
                 / nullif(sqrt(CAST(count(*) AS DOUBLE) / 4.0), 0.0), 6)
                 AS srm_z
        FROM per
    """
    # span-synthesis replay joined back to doc sources
    o["mm_modality_mix"] = f"""
        WITH {_SPANS_SQL},
        per_doc AS (
          SELECT doc_id,
                 CAST(sum(CASE WHEN s.kind = 'image' THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_img,
                 CAST(sum(CASE WHEN s.kind = 'audio' THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_aud
          FROM ex GROUP BY doc_id
        ),
        src AS (
          SELECT 'doc_' || CAST(doc_id AS VARCHAR) AS doc_id, source
          FROM documents
        )
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(CASE WHEN n_img > 0 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_with_image,
               CAST(sum(CASE WHEN n_aud > 0 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_with_audio,
               CAST(sum(n_img) AS BIGINT) AS n_image_spans,
               CAST(sum(n_aud) AS BIGINT) AS n_audio_spans,
               round(CAST(sum(CASE WHEN n_img > 0 THEN 1 ELSE 0 END)
                   AS DOUBLE) / count(*), 6) AS image_doc_share,
               round(CAST(sum(CASE WHEN n_aud > 0 THEN 1 ELSE 0 END)
                   AS DOUBLE) / count(*), 6) AS audio_doc_share
        FROM per_doc JOIN src USING (doc_id)
        GROUP BY source
    """
    # NDCG@10: gain 2^g - 1, 1/log2(pos+1) discount, ideal by grade
    o["ml_ndcg"] = """
        WITH base AS (
          SELECT source, doc_id, n_chars AS s, doc_id % 4 AS g
          FROM documents
        ),
        r AS (
          SELECT source,
                 (CAST(1 AS BIGINT) << g) - 1 AS gain,
                 row_number() OVER (PARTITION BY source
                   ORDER BY s DESC, doc_id ASC) AS pos,
                 row_number() OVER (PARTITION BY source
                   ORDER BY g DESC, doc_id ASC) AS ipos
          FROM base
        )
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_docs,
               round(sum(CASE WHEN pos <= 10
                 THEN gain / log2(CAST(pos + 1 AS DOUBLE))
                 ELSE 0.0 END), 6) AS dcg,
               round(sum(CASE WHEN ipos <= 10
                 THEN gain / log2(CAST(ipos + 1 AS DOUBLE))
                 ELSE 0.0 END), 6) AS idcg,
               round(sum(CASE WHEN pos <= 10
                   THEN gain / log2(CAST(pos + 1 AS DOUBLE))
                   ELSE 0.0 END)
                 / nullif(sum(CASE WHEN ipos <= 10
                   THEN gain / log2(CAST(ipos + 1 AS DOUBLE))
                   ELSE 0.0 END), 0.0), 6) AS ndcg
        FROM r GROUP BY source
    """
    # integer-sufficient-statistic Brier/reliability bins
    o["ml_calibration"] = """
        WITH per AS (
          SELECT n_chars % 1000 AS pi,
                 CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
          FROM documents
        )
        SELECT CAST(pi // 100 AS BIGINT) AS bin,
               CAST(count(*) AS BIGINT) AS n,
               round(CAST(sum(pi) AS DOUBLE) / (999.0 * count(*)), 6)
                 AS mean_p,
               round(CAST(sum(y) AS DOUBLE) / count(*), 6) AS frac_pos,
               round((CAST(sum(pi * pi) AS DOUBLE)
                   - 2.0 * 999 * sum(pi * y) + 999.0 * 999 * sum(y))
                 / (999.0 * 999 * count(*)), 6) AS brier
        FROM per GROUP BY 1
    """
    # corpus-derived keyword dict -> salted-hash topics -> doc coverage
    o["ts_taxonomy"] = """
        WITH tok AS (
          SELECT DISTINCT CAST(doc_id AS VARCHAR) AS doc_id, w
          FROM (SELECT doc_id,
                       unnest(string_split(lower(text), ' ')) AS w
                FROM documents)
          WHERE regexp_full_match(w, '[a-z]{4,}')
        ),
        top AS (
          SELECT w, CAST(count(*) AS BIGINT) AS df
          FROM tok GROUP BY w
          ORDER BY df DESC, w ASC LIMIT 40
        ),
        dict AS (
          SELECT w,
                 ('0x' || substr(sha256('tax-v1' || w), 1, 15))::BIGINT
                   % 6 AS topic
          FROM top
        ),
        tagged AS (
          SELECT DISTINCT doc_id, topic FROM tok JOIN dict USING (w)
        ),
        cnt AS (
          SELECT topic, CAST(count(*) AS BIGINT) AS n_docs
          FROM tagged GROUP BY topic
        ),
        kw AS (
          SELECT topic, CAST(count(*) AS BIGINT) AS n_keywords
          FROM dict GROUP BY topic
        )
        SELECT topic, n_keywords,
               CAST(coalesce(n_docs, 0) AS BIGINT) AS n_docs,
               round(CAST(coalesce(n_docs, 0) AS DOUBLE)
                 / (SELECT count(DISTINCT doc_id) FROM documents), 6)
                 AS doc_share
        FROM kw LEFT JOIN cnt USING (topic)
    """
    # span synthesis replay + the align windows, aggregated per media kind
    o["mm_caption_stats"] = f"""
        WITH {_SPANS_SQL},
        cap AS (
          SELECT doc_id, s.kind AS kind,
                 last_value(CASE WHEN s.kind = 'text' THEN s.txt END
                            IGNORE NULLS)
                   OVER (PARTITION BY doc_id ORDER BY p
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS prev_t,
                 first_value(CASE WHEN s.kind = 'text' THEN s.txt END
                             IGNORE NULLS)
                   OVER (PARTITION BY doc_id ORDER BY p
                         ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
                   AS next_t
          FROM ex
        )
        SELECT kind AS media_type,
               CAST(count(*) AS BIGINT) AS n_media,
               CAST(sum(CASE WHEN prev_t IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_prev_caption,
               CAST(sum(CASE WHEN prev_t IS NULL AND next_t IS NOT NULL
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_next_only,
               CAST(sum(CASE WHEN prev_t IS NULL AND next_t IS NULL
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_uncaptioned,
               round(avg(length(coalesce(prev_t, next_t))), 6)
                 AS mean_caption_len
        FROM cap WHERE kind <> 'text' GROUP BY 1
    """
    # fetched size is deterministic: 256 + first byte of sha256(ref);
    # corpus text chars = sum(length(text)) because the text spans
    # PARTITION each document's text exactly (synthesis invariant)
    o["mm_media_budget"] = """
        WITH refs AS (
          SELECT 'media://img/doc_' || CAST(doc_id AS VARCHAR) || '/0'
                   AS ref, 'image' AS mt
          FROM documents WHERE doc_id % 5 = 0
          UNION ALL
          SELECT 'media://aud/doc_' || CAST(doc_id AS VARCHAR) || '/0',
                 'audio'
          FROM documents WHERE doc_id % 10 = 0
        ),
        sz AS (
          SELECT mt, 256 + ('0x' || substr(sha256(ref), 1, 2))::INT
                   AS n_bytes
          FROM refs
        )
        SELECT mt AS media_type,
               CAST(count(*) AS BIGINT) AS n_refs,
               CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
               round(avg(n_bytes), 6) AS mean_bytes,
               round(sum(n_bytes) * 1000.0
                 / (SELECT sum(length(text)) FROM documents), 6)
                 AS bytes_per_kilochar
        FROM sz GROUP BY 1
    """
    # bucket histogram of the 8-bit content-hash prefix over distinct refs
    o["mm_phash_buckets"] = """
        WITH refs AS (
          SELECT 'media://img/doc_' || CAST(doc_id AS VARCHAR) || '/0'
                   AS ref
          FROM documents WHERE doc_id % 5 = 0
          UNION ALL
          SELECT 'media://aud/doc_' || CAST(doc_id AS VARCHAR) || '/0'
          FROM documents WHERE doc_id % 10 = 0
        ),
        per AS (
          SELECT ('0x' || substr(sha256(ref), 1, 2))::INT % 256 AS bucket,
                 count(*) AS sz
          FROM refs GROUP BY 1
        )
        SELECT CAST(sz AS BIGINT) AS bucket_size,
               CAST(count(*) AS BIGINT) AS n_buckets,
               CAST(count(*) * (sz * (sz - 1) // 2) AS BIGINT)
                 AS n_candidate_pairs
        FROM per GROUP BY sz
    """
    # streaming folds must reconstruct the batch alignment / transition
    # tables exactly — same oracles as their batch twins
    o["stream_align"] = o["mm_align"]
    o["stream_transitions"] = o["mm_transitions"]
    # nested full ts_perplexity replay -> same (ppl, id) ntile cut;
    # mean over DECIMAL(18,4) perplexities is exact in both engines
    o["ts_ccnet_buckets"] = f"""
        WITH pp AS ({o["ts_perplexity"]}),
        t AS (
          SELECT n_tokens, ppl,
                 ntile(3) OVER (ORDER BY ppl, CAST(doc_id AS BIGINT))
                   AS tier
          FROM pp
        )
        SELECT CAST(tier AS INT) AS tier,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
               min(ppl) AS min_ppl,
               max(ppl) AS max_ppl,
               round(CAST(sum(CAST(ppl AS DECIMAL(18,4))) AS DOUBLE)
                 / count(*), 6) AS mean_ppl
        FROM t GROUP BY tier
    """
    # kg_j2_edges replay -> the ts_entropy formula per head node
    o["kg_reltype_entropy"] = f"""
        WITH kge AS ({o["kg_j2_edges"]}),
        cc AS (
          SELECT head_node_id, rel_type, count(*) AS c
          FROM kge GROUP BY 1, 2
        ),
        g AS (
          SELECT head_node_id AS grp, CAST(sum(c) AS BIGINT) AS n,
                 CAST(count(*) AS BIGINT) AS n_classes,
                 sum(c * ln(c)) AS clogc
          FROM cc GROUP BY 1
        )
        SELECT grp, n, n_classes,
               round(ln(n) - clogc / n, 6) AS entropy,
               round(CASE WHEN n_classes > 1
                          THEN (ln(n) - clogc / n) / ln(n_classes)
                          ELSE 0.0 END, 6) AS norm_entropy
        FROM g
    """
    o["ts_length_survival"] = """
        WITH d AS (SELECT CAST(n_chars AS BIGINT) AS x FROM documents),
        e AS (
          SELECT k, CASE WHEN x >= power(2, k) THEN 1 ELSE 0 END AS hit
          FROM d, generate_series(0, 14) g(k)
        )
        SELECT CAST(k AS INT) AS log2_threshold,
               CAST(power(2, k) AS BIGINT) AS threshold,
               CAST(sum(hit) AS BIGINT) AS n_surviving,
               round(CAST(sum(hit) AS DOUBLE)
                 / (SELECT count(*) FROM documents), 6) AS survival
        FROM e GROUP BY k
    """
    # langid replay joined to gold labels -> exact-integer kappa
    o["ml_kappa"] = f"""
        WITH pred AS ({o["ts_langid"]}),
        j AS (
          SELECT d.lang AS t, pred.pred_lang AS p
          FROM pred JOIN documents d
            ON CAST(d.doc_id AS VARCHAR) = pred.doc_id
        ),
        ct AS (SELECT t, p, CAST(count(*) AS BIGINT) AS c
               FROM j GROUP BY 1, 2),
        rl AS (SELECT t, sum(c) AS rl FROM ct GROUP BY t),
        cl AS (SELECT p, sum(c) AS cl FROM ct GROUP BY p),
        s AS (SELECT sum(CAST(rl AS HUGEINT) * cl) AS s
              FROM rl JOIN cl ON rl.t = cl.p),
        base AS (
          SELECT CAST(sum(c) AS BIGINT) AS n,
                 CAST(sum(CASE WHEN t = p THEN c ELSE 0 END) AS BIGINT)
                   AS n_agree
          FROM ct
        )
        SELECT n, n_agree,
               round(CAST(n_agree AS DOUBLE) / n, 6) AS accuracy,
               round(CAST(CAST(n AS HUGEINT) * n_agree - s AS DOUBLE)
                 / CAST(CAST(n AS HUGEINT) * n - s AS DOUBLE), 6) AS kappa
        FROM base, s
    """
    o["ml_mcnemar"] = """
        WITH m AS (
          SELECT (event_type = 'purchase') AS y,
                 (value > 0.5) AS a, (value > 0.7) AS b
          FROM events
        ),
        agg AS (
          SELECT CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(CASE WHEN a = y AND b <> y THEN 1 ELSE 0 END)
                      AS BIGINT) AS b_only_a,
                 CAST(sum(CASE WHEN a <> y AND b = y THEN 1 ELSE 0 END)
                      AS BIGINT) AS c_only_b
          FROM m
        )
        SELECT n, b_only_a, c_only_b,
               CASE WHEN b_only_a + c_only_b = 0 THEN 0.0
                    ELSE round(CAST((b_only_a - c_only_b)
                               * (b_only_a - c_only_b) AS DOUBLE)
                           / (b_only_a + c_only_b), 6) END AS mcnemar_chi2
        FROM agg
    """
    o["dd_dup_by_source"] = """
        WITH d AS (
          SELECT CAST(doc_id AS VARCHAR) AS doc_id, source AS grp,
                 sha256(coalesce(text, '')) AS h
          FROM documents
        ),
        freq AS (SELECT h, CAST(count(*) AS BIGINT) AS n_h
                 FROM d GROUP BY h)
        SELECT grp,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(CASE WHEN n_h > 1 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_dup_docs,
               round(CAST(sum(CASE WHEN n_h > 1 THEN 1 ELSE 0 END)
                     AS DOUBLE) / count(*), 6) AS dup_share
        FROM d JOIN freq USING (h)
        GROUP BY grp
    """
    # span synthesis replay + the same running-sum / lag windows
    o["mm_context_profile"] = f"""
        WITH {_SPANS_SQL},
        cum AS (
          SELECT doc_id, p, s.kind AS kind,
                 coalesce(sum(CASE WHEN s.kind = 'text'
                                   THEN length(s.txt) ELSE 0 END)
                   OVER (PARTITION BY doc_id ORDER BY p
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND 1 PRECEDING), 0) AS chars_before
          FROM ex
        ),
        m AS (
          SELECT kind,
                 chars_before
                 - coalesce(lag(chars_before)
                     OVER (PARTITION BY doc_id ORDER BY p), 0)
                   AS context_chars
          FROM cum WHERE kind <> 'text'
        )
        SELECT kind AS media_type,
               CAST(count(*) AS BIGINT) AS n_media,
               CAST(min(context_chars) AS BIGINT) AS min_context,
               CAST(max(context_chars) AS BIGINT) AS max_context,
               round(CAST(sum(context_chars) AS DOUBLE) / count(*), 6)
                 AS mean_context
        FROM m GROUP BY 1
    """
    # ts_packing replay -> per-shard ceil-divide fill accounting
    o["ts_pack_efficiency"] = f"""
        WITH packed AS ({o["ts_packing"]}),
        agg AS (
          SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
                 CAST(sum(n_tokens) AS BIGINT) AS total_tokens
          FROM packed GROUP BY shard
        )
        SELECT shard, n_docs, total_tokens,
               CAST((total_tokens + 255) // 256 AS BIGINT) AS n_seqs,
               CAST((total_tokens + 255) // 256 * 256 - total_tokens
                    AS BIGINT) AS pad_tokens,
               round(CAST(total_tokens AS DOUBLE)
                 / ((total_tokens + 255) // 256 * 256), 6) AS fill_ratio
        FROM agg
    """
    # per-user counts -> (value, multiplicity) -> sorted log fold
    o["ml_powerlaw"] = """
        WITH cnts AS (
          SELECT user_id, CAST(count(*) AS BIGINT) AS x
          FROM events GROUP BY user_id
        ),
        per AS (
          SELECT x, CAST(count(*) AS BIGINT) AS m
          FROM cnts WHERE x >= 1 GROUP BY x
        ),
        folded AS (
          SELECT CAST(sum(m) AS BIGINT) AS n,
                 list({'x': x, 'm': m} ORDER BY x, m) AS arr
          FROM per
        )
        SELECT n, CAST(1 AS BIGINT) AS x_min,
               round(1.0 + n / list_reduce(
                   list_prepend(0.0, list_transform(
                       arr, t -> t.m * ln(t.x / 0.5))),
                   (a, v) -> a + v), 6) AS alpha
        FROM folded
    """
    # kg_j2_edges replay -> head out-degrees -> (value, id)-ranked Gini
    o["kg_degree_gini"] = f"""
        WITH kge AS ({o["kg_j2_edges"]}),
        deg AS (
          SELECT head_node_id AS id, CAST(count(*) AS BIGINT) AS x
          FROM kge GROUP BY 1
        ),
        r AS (
          SELECT x, row_number() OVER (ORDER BY x, id) AS i FROM deg
        )
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS total,
               round(2.0 * sum(CAST(i AS HUGEINT) * x)
                       / (count(*) * CAST(sum(x) AS DOUBLE))
                     - (count(*) + 1.0) / count(*), 6) AS gini
        FROM r
    """
    o["ts_goodturing"] = """
        WITH w AS (
          SELECT unnest(string_split(lower(text), ' ')) AS w
          FROM documents
        ),
        per AS (
          SELECT w, CAST(count(*) AS BIGINT) AS c
          FROM w WHERE w <> '' GROUP BY w
        ),
        agg AS (
          SELECT CAST(sum(c) AS BIGINT) AS n_tokens,
                 CAST(count(*) AS BIGINT) AS vocab,
                 CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_hapax,
                 CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_dis
          FROM per
        )
        SELECT n_tokens, vocab, n_hapax, n_dis,
               round(CAST(n_hapax AS DOUBLE) / n_tokens, 6) AS p_unseen,
               round(1.0 - CAST(n_hapax AS DOUBLE) / n_tokens, 6)
                 AS coverage
        FROM agg
    """
    o["dd_cluster_hist"] = """
        WITH per AS (
          SELECT sha256(coalesce(text, '')) AS h,
                 CAST(count(*) AS BIGINT) AS sz,
                 CAST(min(length(coalesce(text, ''))) AS BIGINT) AS len
          FROM documents GROUP BY h
        )
        SELECT CAST(sz AS BIGINT) AS cluster_size,
               CAST(count(*) AS BIGINT) AS n_clusters,
               CAST(sz * count(*) AS BIGINT) AS n_docs,
               CAST(sum((sz - 1) * len) AS BIGINT) AS saved_bytes
        FROM per GROUP BY sz
    """
    # every FK check recomputed over the replayed mention/relation/edge
    # CTEs; membership node ids use the same sha derivation as kg_j2_edges
    o["kg_integrity_audit"] = f"""
        WITH {_REL_CTE},
        kge AS (
          SELECT r.relation_id,
                 sha256(concat_ws(chr(31), 'node', r.head_text))
                   AS head_node_id,
                 sha256(concat_ws(chr(31), 'node', r.tail_text))
                   AS tail_node_id
          FROM rels_id r
        ),
        memb AS (
          SELECT sha256(concat_ws(chr(31), 'node', text)) AS node_id,
                 mention_id
          FROM mentions_id
        ),
        mkeys AS (SELECT DISTINCT mention_id AS k FROM mentions_id),
        rkeys AS (SELECT DISTINCT relation_id AS k FROM rels_id),
        nkeys AS (SELECT DISTINCT node_id AS k FROM memb)
        SELECT 'rel_head_mention' AS "check",
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(CASE WHEN k IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_orphans
        FROM rels_id LEFT JOIN mkeys ON head_mention_id = k
        UNION ALL
        SELECT 'rel_tail_mention', CAST(count(*) AS BIGINT),
               CAST(sum(CASE WHEN k IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        FROM rels_id LEFT JOIN mkeys ON tail_mention_id = k
        UNION ALL
        SELECT 'edge_relation', CAST(count(*) AS BIGINT),
               CAST(sum(CASE WHEN k IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        FROM kge LEFT JOIN rkeys ON relation_id = k
        UNION ALL
        SELECT 'edge_head_node', CAST(count(*) AS BIGINT),
               CAST(sum(CASE WHEN k IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        FROM kge LEFT JOIN nkeys ON head_node_id = k
        UNION ALL
        SELECT 'edge_tail_node', CAST(count(*) AS BIGINT),
               CAST(sum(CASE WHEN k IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        FROM kge LEFT JOIN nkeys ON tail_node_id = k
        UNION ALL
        SELECT 'prov_relation', CAST(count(*) AS BIGINT),
               CAST(sum(CASE WHEN k IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        FROM rels_id LEFT JOIN rkeys ON relation_id = k
        UNION ALL
        SELECT 'membership_mention', CAST(count(*) AS BIGINT),
               CAST(sum(CASE WHEN k IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        FROM memb LEFT JOIN mkeys ON mention_id = k
    """
    # kg_j2_edges replay -> distinct digraph -> union of 1- and 2-paths
    o["kg_two_hop"] = f"""
        WITH kge AS ({o["kg_j2_edges"]}),
        e AS (
          SELECT DISTINCT head_node_id AS s, tail_node_id AS d
          FROM kge WHERE head_node_id <> tail_node_id
        ),
        reach AS (
          SELECT s, d FROM e
          UNION
          SELECT a.s, b.d FROM e a JOIN e b ON a.d = b.s
          WHERE a.s <> b.d
        )
        SELECT s AS node_id, CAST(count(*) AS BIGINT) AS n_reach_2hop
        FROM reach GROUP BY s
    """
    # v1 = sha-even multiset, v2 = full: added_2 = n_full - n_even exactly
    o["kg_snapshot_growth"] = f"""
        WITH {_REL_CTE},
        t AS (
          SELECT head_text AS subj,
                 CASE WHEN ('0x' || substr(sha256(head_text), 1, 15))
                      ::BIGINT % 2 = 0 THEN 1 ELSE 0 END AS even
          FROM rels_id
        ),
        c AS (
          SELECT CAST(count(*) AS BIGINT) AS nf,
                 CAST(sum(even) AS BIGINT) AS ne
          FROM t
        )
        SELECT CAST(1 AS BIGINT) AS version, ne AS n_rows, ne AS n_added,
               CAST(0 AS BIGINT) AS n_removed FROM c
        UNION ALL
        SELECT CAST(2 AS BIGINT), nf, nf - ne, CAST(0 AS BIGINT) FROM c
    """
    # streaming fold must equal the batch byte accounting (sums only)
    o["mm_stream_budget"] = """
        WITH refs AS (
          SELECT 'media://img/doc_' || CAST(doc_id AS VARCHAR) || '/0'
                   AS ref, 'image' AS mt
          FROM documents WHERE doc_id % 5 = 0
          UNION ALL
          SELECT 'media://aud/doc_' || CAST(doc_id AS VARCHAR) || '/0',
                 'audio'
          FROM documents WHERE doc_id % 10 = 0
        )
        SELECT mt AS media_type,
               CAST(count(*) AS BIGINT) AS n_refs,
               CAST(sum(256 + ('0x' || substr(sha256(ref), 1, 2))::INT)
                    AS BIGINT) AS total_bytes
        FROM refs GROUP BY 1
    """
    o["ann_mips"] = """
        WITH q AS (
          SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
          FROM embeddings WHERE vec_id = 0
        ),
        v AS (
          SELECT CAST(vec_id AS VARCHAR) AS id,
                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
          FROM embeddings
        )
        SELECT id, round(list_dot_product(e, qv), 4) AS dot
        FROM v, q ORDER BY dot DESC, id LIMIT 10
    """
    o["ann_range"] = """
        WITH q AS (
          SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
          FROM embeddings WHERE vec_id = 0
        ),
        v AS (
          SELECT CAST(vec_id AS VARCHAR) AS id,
                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
          FROM embeddings
        ),
        s AS (
          SELECT id,
                 round(list_dot_product(e, qv)
                   / (greatest(sqrt(list_dot_product(e, e)), 1e-100)
                      * sqrt(list_dot_product(qv, qv))), 4) AS score
          FROM v, q
        )
        SELECT id, score FROM s WHERE score >= 0.2
    """
    # BFS path reconstruction: unrolled per-round min-path recurrence —
    # f_r(v) = min over round-(r-1) frontier parents u of (path(u)||'>'||v)
    # — the exact contract shortest_paths() documents (recurrence min, not
    # global min over all path strings). MATERIALIZED like _bfs_oracle.
    o["g33_pathrecon"] = f"""
        WITH {_COPURCHASE_CTES},
        seed AS MATERIALIZED (
          SELECT node FROM (SELECT DISTINCT u AS node FROM sym)
          ORDER BY sha256(node) LIMIT 1
        ),
        d0 AS MATERIALIZED (SELECT node, 0 AS hop, node AS path FROM seed),
        f1 AS MATERIALIZED (
          SELECT s.v AS node, min(d.path || '>' || s.v) AS path
          FROM sym s JOIN d0 d ON s.u = d.node
          WHERE s.v NOT IN (SELECT node FROM d0) GROUP BY s.v
        ),
        d1 AS MATERIALIZED (
          SELECT node, hop, path FROM d0
          UNION ALL SELECT node, 1, path FROM f1
        ),
        f2 AS MATERIALIZED (
          SELECT s.v AS node, min(d.path || '>' || s.v) AS path
          FROM sym s JOIN f1 d ON s.u = d.node
          WHERE s.v NOT IN (SELECT node FROM d1) GROUP BY s.v
        ),
        d2 AS MATERIALIZED (
          SELECT node, hop, path FROM d1
          UNION ALL SELECT node, 2, path FROM f2
        ),
        f3 AS MATERIALIZED (
          SELECT s.v AS node, min(d.path || '>' || s.v) AS path
          FROM sym s JOIN f2 d ON s.u = d.node
          WHERE s.v NOT IN (SELECT node FROM d2) GROUP BY s.v
        ),
        d3 AS MATERIALIZED (
          SELECT node, hop, path FROM d2
          UNION ALL SELECT node, 3, path FROM f3
        )
        SELECT node, CAST(hop AS INTEGER) AS hop, path FROM d3
    """
    # filtered vector search: same scoring as ann_topk, predicate applied
    # before scoring (the pre-filter contract topk_filtered documents)
    o["ann_filtered"] = """
        WITH q AS (
          SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
          FROM embeddings WHERE vec_id = 0
        ),
        v AS (
          SELECT CAST(vec_id AS VARCHAR) AS id,
                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
          FROM embeddings WHERE label IN (2, 5, 7)
        )
        SELECT id, round(list_dot_product(e, qv)
                         / (sqrt(list_dot_product(e, e))
                            * sqrt(list_dot_product(qv, qv))), 4) AS score
        FROM v, q ORDER BY score DESC, id LIMIT 10
    """
    # Brandes 3-hop: forward = unrolled integer path counts; backward =
    # unrolled dependency accumulation with the SAME order-stable left
    # fold (0.0-seeded, terms ordered by successor id) the Spark operator
    # uses, so the doubles match bitwise before the 6dp display round.
    o["g34_betweenness"] = f"""
        WITH {_COPURCHASE_CTES},
        seed AS MATERIALIZED (
          SELECT node FROM (SELECT DISTINCT u AS node FROM sym)
          ORDER BY sha256(node) LIMIT 1
        ),
        l0 AS MATERIALIZED (SELECT node, CAST(1 AS BIGINT) AS sigma FROM seed),
        l1 AS MATERIALIZED (
          SELECT s.v AS node, CAST(sum(d.sigma) AS BIGINT) AS sigma
          FROM sym s JOIN l0 d ON s.u = d.node
          WHERE s.v NOT IN (SELECT node FROM l0) GROUP BY s.v
        ),
        l2 AS MATERIALIZED (
          SELECT s.v AS node, CAST(sum(d.sigma) AS BIGINT) AS sigma
          FROM sym s JOIN l1 d ON s.u = d.node
          WHERE s.v NOT IN (SELECT node FROM l0)
            AND s.v NOT IN (SELECT node FROM l1)
          GROUP BY s.v
        ),
        l3 AS MATERIALIZED (
          SELECT s.v AS node, CAST(sum(d.sigma) AS BIGINT) AS sigma
          FROM sym s JOIN l2 d ON s.u = d.node
          WHERE s.v NOT IN (SELECT node FROM l0)
            AND s.v NOT IN (SELECT node FROM l1)
            AND s.v NOT IN (SELECT node FROM l2)
          GROUP BY s.v
        ),
        d3 AS MATERIALIZED (
          SELECT node, sigma, CAST(0.0 AS DOUBLE) AS delta FROM l3
        ),
        d2 AS MATERIALIZED (
          SELECT l.node, l.sigma, coalesce(t.delta, 0.0) AS delta
          FROM l2 l LEFT JOIN (
            SELECT s.u AS node,
                   list_reduce(
                     list_prepend(CAST(0.0 AS DOUBLE),
                       list(CAST(lu.sigma AS DOUBLE) / CAST(dv.sigma AS DOUBLE)
                            * (1.0 + dv.delta) ORDER BY s.v)),
                     (a, b) -> a + b) AS delta
            FROM sym s JOIN l2 lu ON s.u = lu.node JOIN d3 dv ON s.v = dv.node
            GROUP BY s.u
          ) t ON t.node = l.node
        ),
        d1 AS MATERIALIZED (
          SELECT l.node, l.sigma, coalesce(t.delta, 0.0) AS delta
          FROM l1 l LEFT JOIN (
            SELECT s.u AS node,
                   list_reduce(
                     list_prepend(CAST(0.0 AS DOUBLE),
                       list(CAST(lu.sigma AS DOUBLE) / CAST(dv.sigma AS DOUBLE)
                            * (1.0 + dv.delta) ORDER BY s.v)),
                     (a, b) -> a + b) AS delta
            FROM sym s JOIN l1 lu ON s.u = lu.node JOIN d2 dv ON s.v = dv.node
            GROUP BY s.u
          ) t ON t.node = l.node
        ),
        d0 AS MATERIALIZED (
          SELECT l.node, l.sigma, coalesce(t.delta, 0.0) AS delta
          FROM l0 l LEFT JOIN (
            SELECT s.u AS node,
                   list_reduce(
                     list_prepend(CAST(0.0 AS DOUBLE),
                       list(CAST(lu.sigma AS DOUBLE) / CAST(dv.sigma AS DOUBLE)
                            * (1.0 + dv.delta) ORDER BY s.v)),
                     (a, b) -> a + b) AS delta
            FROM sym s JOIN l0 lu ON s.u = lu.node JOIN d1 dv ON s.v = dv.node
            GROUP BY s.u
          ) t ON t.node = l.node
        )
        SELECT node, CAST(lvl AS INTEGER) AS lvl, sigma,
               round(delta, 6) AS delta
        FROM (
          SELECT node, 0 AS lvl, sigma, delta FROM d0
          UNION ALL SELECT node, 1, sigma, delta FROM d1
          UNION ALL SELECT node, 2, sigma, delta FROM d2
          UNION ALL SELECT node, 3, sigma, delta FROM d3
        )
    """
    # handshake matching: unrolled propose -> mutual-proposal join ->
    # residual anti-filter, identical recurrence to greedy_matching()
    o["g35_matching"] = f"""
        WITH {_COPURCHASE_CTES},
        p1 AS MATERIALIZED (SELECT u, min(v) AS p FROM sym GROUP BY u),
        m1 AS MATERIALIZED (
          SELECT a.u AS u, a.p AS v FROM p1 a JOIN p1 b
            ON a.p = b.u AND b.p = a.u
          WHERE a.u < a.p
        ),
        mn1 AS MATERIALIZED (SELECT u AS n FROM m1 UNION SELECT v FROM m1),
        live1 AS MATERIALIZED (
          SELECT u, v FROM sym
          WHERE u NOT IN (SELECT n FROM mn1) AND v NOT IN (SELECT n FROM mn1)
        ),
        p2 AS MATERIALIZED (SELECT u, min(v) AS p FROM live1 GROUP BY u),
        m2 AS MATERIALIZED (
          SELECT a.u AS u, a.p AS v FROM p2 a JOIN p2 b
            ON a.p = b.u AND b.p = a.u
          WHERE a.u < a.p
        ),
        mn2 AS MATERIALIZED (SELECT u AS n FROM m2 UNION SELECT v FROM m2),
        live2 AS MATERIALIZED (
          SELECT u, v FROM live1
          WHERE u NOT IN (SELECT n FROM mn2) AND v NOT IN (SELECT n FROM mn2)
        ),
        p3 AS MATERIALIZED (SELECT u, min(v) AS p FROM live2 GROUP BY u),
        m3 AS MATERIALIZED (
          SELECT a.u AS u, a.p AS v FROM p3 a JOIN p3 b
            ON a.p = b.u AND b.p = a.u
          WHERE a.u < a.p
        )
        SELECT u, v, CAST(r AS INTEGER) AS round FROM (
          SELECT u, v, 1 AS r FROM m1
          UNION ALL SELECT u, v, 2 FROM m2
          UNION ALL SELECT u, v, 3 FROM m3
        )
    """
    # contraction: matching replay -> representative map -> re-key the
    # canonical (a<b, distinct) edge list, drop self-loops, sum weights
    _MATCH_CTES = o["g35_matching"].split("SELECT u, v, CAST(r AS INTEGER)")[0]
    o["g36_contract"] = f"""{_MATCH_CTES}
        , mall AS MATERIALIZED (
          SELECT u, v FROM m1
          UNION ALL SELECT u, v FROM m2
          UNION ALL SELECT u, v FROM m3
        ),
        rep AS MATERIALIZED (
          SELECT least(u, v) AS r, u AS n FROM mall
          UNION SELECT least(u, v), v FROM mall
        ),
        keyed AS (
          SELECT coalesce(ra.r, e.a) AS ca, coalesce(rb.r, e.b) AS cb
          FROM e0 e
          LEFT JOIN rep ra ON ra.n = e.a
          LEFT JOIN rep rb ON rb.n = e.b
        )
        SELECT least(ca, cb) AS u, greatest(ca, cb) AS v,
               CAST(count(*) AS BIGINT) AS weight
        FROM keyed WHERE ca <> cb GROUP BY 1, 2
    """
    # schema induction: relation replay joined to mention labels twice,
    # integer signature counts, one window-ratio division at the end
    o["kg_schema"] = f"""
        WITH {_REL_CTE},
        lab AS (SELECT mid, label FROM repid),
        sig AS (
          SELECT h.label AS head_label, r.rel_type, t.label AS tail_label,
                 CAST(count(*) AS BIGINT) AS n_rels,
                 CAST(count(DISTINCT r.doc_id) AS BIGINT) AS n_docs
          FROM rels_id r
          JOIN lab h ON r.head_mention_id = h.mid
          JOIN lab t ON r.tail_mention_id = t.mid
          GROUP BY 1, 2, 3
        )
        SELECT head_label, rel_type, tail_label, n_rels, n_docs,
               round(CAST(n_rels AS DOUBLE)
                     / CAST(sum(n_rels) OVER (PARTITION BY head_label)
                            AS DOUBLE), 6) AS share_head
        FROM sig
    """
    # WOE/IV: exact min/max bin edges, integer cells, Laplace +0.5,
    # order-stable IV fold (list ... ORDER BY bin, 0.0-seeded left fold)
    o["ml_woe_iv"] = """
        WITH d AS (
          SELECT CAST(value AS DOUBLE) AS x,
                 CAST(event_type = 'purchase' AS INT) AS y
          FROM events
        ),
        mm AS (SELECT min(x) AS lo, max(x) AS hi FROM d),
        binned AS (
          SELECT CASE WHEN mm.hi > mm.lo THEN least(9,
                   CAST(floor(10 * (d.x - mm.lo) / (mm.hi - mm.lo)) AS INT))
                 ELSE 0 END AS bin,
                 CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(y) AS BIGINT) AS n_pos,
                 CAST(count(*) - sum(y) AS BIGINT) AS n_neg
          FROM d, mm GROUP BY 1
        ),
        tot AS (
          SELECT CAST(sum(n_pos) AS BIGINT) AS g,
                 CAST(sum(n_neg) AS BIGINT) AS b,
                 CAST(count(*) AS BIGINT) AS k
          FROM binned
        ),
        scored AS (
          SELECT bin, n, n_pos, n_neg,
                 ln(((n_pos + 0.5) / (g + 0.5 * k))
                    / ((n_neg + 0.5) / (b + 0.5 * k))) AS woe_raw,
                 ((n_pos + 0.5) / (g + 0.5 * k)
                  - (n_neg + 0.5) / (b + 0.5 * k))
                 * ln(((n_pos + 0.5) / (g + 0.5 * k))
                      / ((n_neg + 0.5) / (b + 0.5 * k))) AS iv_raw
          FROM binned, tot
        ),
        iv AS (
          SELECT list_reduce(
                   list_prepend(CAST(0.0 AS DOUBLE),
                                list(iv_raw ORDER BY bin)),
                   (a, b) -> a + b) AS iv_total_raw
          FROM scored
        )
        SELECT CAST(bin AS INTEGER) AS bin, n, n_pos, n_neg,
               round(woe_raw, 6) AS woe,
               round(iv_raw, 6) AS iv_term,
               round(iv_total_raw, 6) AS iv_total
        FROM scored, iv
    """
    # Luby-by-min-id MIS: unrolled pick (local min or isolated-in-residual)
    # -> remove picked + neighborhoods -> residual, 4 rounds
    _mis = ["n0 AS MATERIALIZED (SELECT DISTINCT u AS node FROM sym)",
            "e0m AS MATERIALIZED (SELECT u, v FROM sym)"]
    for _r in range(1, 5):
        _p = _r - 1
        _mis.append(
            f"mins{_r} AS MATERIALIZED (SELECT u AS node, min(v) AS mn"
            f" FROM e{_p}m GROUP BY u)")
        _mis.append(
            f"p{_r} AS MATERIALIZED (SELECT n.node FROM n{_p} n"
            f" LEFT JOIN mins{_r} m USING (node)"
            f" WHERE m.mn IS NULL OR n.node < m.mn)")
        _mis.append(
            f"gone{_r} AS MATERIALIZED (SELECT node AS n FROM p{_r}"
            f" UNION SELECT s.v FROM e{_p}m s JOIN p{_r} ON s.u = p{_r}.node)")
        _mis.append(
            f"n{_r} AS MATERIALIZED (SELECT node FROM n{_p}"
            f" WHERE node NOT IN (SELECT n FROM gone{_r}))")
        _mis.append(
            f"e{_r}m AS MATERIALIZED (SELECT u, v FROM e{_p}m"
            f" WHERE u NOT IN (SELECT n FROM gone{_r})"
            f" AND v NOT IN (SELECT n FROM gone{_r}))")
    o["g37_mis"] = f"""
        WITH {_COPURCHASE_CTES},
        {', '.join(_mis)}
        SELECT node, CAST(r AS INTEGER) AS round FROM (
          SELECT node, 1 AS r FROM p1
          UNION ALL SELECT node, 2 FROM p2
          UNION ALL SELECT node, 3 FROM p3
          UNION ALL SELECT node, 4 FROM p4
        )
    """
    # functional-violation audit over the triple replay: sorted bounded
    # example list, same groupBy discipline as the Spark operator
    o["kg_funcviol"] = f"""
        WITH {_REL_CTE},
        t AS (
          SELECT rel_type AS pred, head_text AS subj, tail_text AS obj
          FROM rels_id
        ),
        g AS (
          SELECT pred, subj,
                 CAST(count(DISTINCT obj) AS BIGINT) AS n_objs,
                 CAST(count(*) AS BIGINT) AS n_rows,
                 array_to_string(list_sort(list(DISTINCT obj))[1:5], ',')
                   AS example_objs
          FROM t GROUP BY pred, subj
        )
        SELECT * FROM g WHERE n_objs > 1
    """
    # smoothed target encoding: integer cells, one prior, one shrink
    o["ml_target_enc"] = """
        WITH per AS (
          SELECT CAST(source AS VARCHAR) AS category,
                 CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(CAST(lang = 'en' AS INT)) AS BIGINT) AS n_pos
          FROM documents GROUP BY 1
        ),
        tot AS (
          SELECT CAST(sum(n) AS BIGINT) AS nt,
                 CAST(sum(n_pos) AS BIGINT) AS gt
          FROM per
        )
        SELECT category, n, n_pos,
               round(CAST(gt AS DOUBLE) / CAST(nt AS DOUBLE), 6) AS prior,
               round((CAST(n_pos AS DOUBLE)
                      + 10.0 * (CAST(gt AS DOUBLE) / CAST(nt AS DOUBLE)))
                     / (CAST(n AS DOUBLE) + 10.0), 6) AS enc
        FROM per, tot
    """
    # Dunning G2 keyness: integer 2x2 cells, ln once per output row,
    # decimal-widened cross-multiply, top-20 by RAW g2 before rounding
    o["ts_keyness"] = """
        WITH toks AS (
          SELECT w AS token,
                 CAST(sum(CASE WHEN focus THEN 1 ELSE 0 END) AS BIGINT) AS a,
                 CAST(sum(CASE WHEN focus THEN 0 ELSE 1 END) AS BIGINT) AS b
          FROM (
            SELECT source = 'src0' AS focus,
                   UNNEST(string_split(text, ' ')) AS w
            FROM documents
          ) WHERE w <> '' GROUP BY w
        ),
        marg AS (
          SELECT CAST(sum(a) AS BIGINT) AS c, CAST(sum(b) AS BIGINT) AS d
          FROM toks
        ),
        scored AS (
          SELECT token, a, b,
                 CASE WHEN CAST(a AS DECIMAL(38, 0)) * d
                           >= CAST(b AS DECIMAL(38, 0)) * c
                      THEN 1 ELSE -1 END AS direction,
                 2.0 * (CASE WHEN a > 0 THEN
                          a * ln(a / (CAST(c AS DOUBLE) * (a + b) / (c + d)))
                        ELSE 0.0 END
                      + CASE WHEN b > 0 THEN
                          b * ln(b / (CAST(d AS DOUBLE) * (a + b) / (c + d)))
                        ELSE 0.0 END) AS g2_raw
          FROM toks, marg
        )
        SELECT token, a AS n_focus, b AS n_rest,
               CAST(direction AS INTEGER) AS direction,
               round(g2_raw, 6) AS g2
        FROM scored ORDER BY g2_raw DESC, token LIMIT 20
    """
    # bigram argmax: counts -> per-head max cnt -> min next on ties
    o["ts_bigram_next"] = """
        WITH ws AS (
          SELECT list_filter(string_split(text, ' '), x -> x <> '') AS ws
          FROM documents
        ),
        ws2 AS (SELECT ws FROM ws WHERE len(ws) >= 2),
        bi AS (
          SELECT UNNEST([struct_pack(w1 := ws[i], w2 := ws[i + 1])
                         FOR i IN range(1, len(ws))]) AS p
          FROM ws2
        ),
        bic AS (
          SELECT p.w1 AS w1, p.w2 AS w2, CAST(count(*) AS BIGINT) AS cnt
          FROM bi GROUP BY 1, 2
        ),
        heads AS (
          SELECT w1, CAST(sum(cnt) AS BIGINT) AS total
          FROM bic GROUP BY 1 ORDER BY total DESC, w1 LIMIT 20
        ),
        mx AS (SELECT w1, max(cnt) AS cnt FROM bic GROUP BY 1),
        best AS (
          SELECT b.w1, b.cnt, min(b.w2) AS next_tok
          FROM bic b JOIN mx USING (w1, cnt) GROUP BY b.w1, b.cnt
        )
        SELECT h.w1 AS head, best.next_tok, best.cnt, h.total,
               round(CAST(best.cnt AS DOUBLE) / h.total, 6) AS prob
        FROM heads h JOIN best ON best.w1 = h.w1
    """
    # KG saturation: first-appearance decile histograms + integer cumsums
    o["kg_growth"] = f"""
        WITH {_REL_CTE},
        nd AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
        t AS (
          SELECT head_text AS subj, rel_type AS pred, tail_text AS obj,
                 least(9, CAST(floor(10 * CAST(regexp_extract(r.doc_id,
                        '([0-9]+)', 1) AS BIGINT) / nd.n) AS INT)) AS bucket
          FROM rels_id r, nd
        ),
        nodes AS (
          SELECT bucket, CAST(count(*) AS BIGINT) AS n_new_nodes FROM (
            SELECT node, min(bucket) AS bucket FROM (
              SELECT subj AS node, bucket FROM t
              UNION ALL SELECT obj, bucket FROM t
            ) GROUP BY node
          ) GROUP BY bucket
        ),
        trip AS (
          SELECT bucket, CAST(count(*) AS BIGINT) AS n_new_triples FROM (
            SELECT subj, pred, obj, min(bucket) AS bucket
            FROM t GROUP BY subj, pred, obj
          ) GROUP BY bucket
        ),
        shell AS (SELECT UNNEST(range(10)) AS bucket),
        j AS (
          SELECT shell.bucket AS bucket,
                 CAST(coalesce(n_new_nodes, 0) AS BIGINT) AS n_new_nodes,
                 CAST(coalesce(n_new_triples, 0) AS BIGINT) AS n_new_triples
          FROM shell
          LEFT JOIN nodes ON nodes.bucket = shell.bucket
          LEFT JOIN trip ON trip.bucket = shell.bucket
        )
        SELECT CAST(bucket AS INTEGER) AS bucket, n_new_nodes,
               CAST(sum(n_new_nodes) OVER (ORDER BY bucket
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_nodes,
               n_new_triples,
               CAST(sum(n_new_triples) OVER (ORDER BY bucket
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_triples
        FROM j
    """
    # north-star linker: LSH banding replay (raw surfaces, no Jaccard
    # filter) + trigram-hash embedding replay + cosine at 0.5
    o["link_cosine"] = f"""
        WITH {_KG_CTE},
        t00 AS (SELECT DISTINCT text FROM mentions),
        t0 AS (
          SELECT DISTINCT text FROM (
            SELECT text FROM t00
            UNION ALL SELECT upper(text) FROM t00
            UNION ALL SELECT '_' || text FROM t00
            UNION ALL SELECT text || 's' FROM t00
          )
        ),
        nrmx AS (
          SELECT text,
                 lower(trim(regexp_replace(text, '[\\s_\\-]+', ' ', 'g'))) AS norm
          FROM t0
        ),
        shn AS (
          SELECT text,
                 list_distinct([substr(norm, i, 3)
                                FOR i IN generate_series(1, greatest(length(norm) - 2, 1))]) AS shingles
          FROM nrmx
        ),
        hsh AS (
          SELECT text,
                 [('0x' || substr(sha256(s), 1, 15))::BIGINT FOR s IN shingles] AS hh
          FROM shn
        ),
        sig AS (
          SELECT text,
                 [list_min([('0x' || substr(sha256(CAST(h AS VARCHAR) || ',' || CAST(i AS VARCHAR)), 1, 15))::BIGINT
                            FOR h IN hh])
                  FOR i IN generate_series(0, 31)] AS sg
          FROM hsh
        ),
        bkt AS (
          SELECT text, g.b AS band,
                 ('0x' || substr(sha256(array_to_string(
                    list_transform(sg[g.b * 4 + 1 : g.b * 4 + 4],
                                   x -> CAST(x AS VARCHAR)), ',')), 1, 15))::BIGINT AS key
          FROM sig, generate_series(0, 7) g(b)
        ),
        cand AS (
          SELECT DISTINCT x.text AS src, y.text AS dst
          FROM bkt x JOIN bkt y
            ON x.band = y.band AND x.key = y.key AND x.text < y.text
        ),
        alltxt AS (SELECT text AS txt, 0 AS is_q FROM t0),
        {_EMBED_FEAT_CTE},
        vn AS (SELECT txt, sqrt(sum(val * val)) AS n FROM vec GROUP BY txt),
        dotp AS (
          SELECT c.src, c.dst, sum(a.val * b.val) AS dp
          FROM cand c
          JOIN vec a ON a.txt = c.src
          JOIN vec b ON b.txt = c.dst AND b.bucket = a.bucket
          GROUP BY c.src, c.dst
        )
        SELECT src, dst, cosine FROM (
          SELECT c.src, c.dst,
                 round(coalesce(d.dp, 0.0) / (na.n * nb.n), 4) AS cosine
          FROM cand c
          LEFT JOIN dotp d ON d.src = c.src AND d.dst = c.dst
          JOIN vn na ON na.txt = c.src
          JOIN vn nb ON nb.txt = c.dst
        ) WHERE cosine >= 0.3
    """
    # typed 2-hop instance query: distinct doc-supported edges, one
    # middle-node join, preds = top-2 by (count desc, name)
    o["kg_query_2hop"] = f"""
        WITH {_REL_CTE},
        t AS (
          SELECT head_text AS subj, rel_type AS pred, tail_text AS obj,
                 doc_id
          FROM rels_id
        ),
        e AS (
          SELECT subj, pred, obj,
                 CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
          FROM t GROUP BY 1, 2, 3
        ),
        ed AS (SELECT DISTINCT subj, pred, obj FROM t),
        census AS (
          SELECT x.pred AS p1, y.pred AS p2,
                 row_number() OVER (ORDER BY count(*) DESC,
                                    x.pred, y.pred) AS rn
          FROM ed x JOIN ed y ON x.obj = y.subj
          WHERE x.subj <> y.obj
          GROUP BY x.pred, y.pred
        )
        SELECT x.subj AS a, x.obj AS b, y.obj AS c,
               x.n_docs AS docs_ab, y.n_docs AS docs_bc
        FROM e x JOIN e y ON x.obj = y.subj
        WHERE x.pred = (SELECT p1 FROM census WHERE rn = 1)
          AND y.pred = (SELECT p2 FROM census WHERE rn = 1)
          AND x.subj <> y.obj
    """
    # RDF interchange export: replay IRI assembly (content-hash node ids,
    # [^A-Za-z0-9_]->_ predicate sanitize) and the 5 N-Triples ECHAR
    # escapes in spec order (backslash first).
    o["kg_export_nt"] = f"""
        WITH {_REL_CTE},
        tri AS (
          SELECT DISTINCT head_text AS subj, rel_type AS pred,
                 tail_text AS obj
          FROM rels_id
        ),
        txt AS (SELECT subj AS text FROM tri UNION SELECT obj FROM tri)
        SELECT 'rel' AS kind,
               '<urn:kg:node:' || sha256(concat_ws(chr(31), 'node', subj))
               || '> <urn:kg:rel:'
               || regexp_replace(pred, '[^A-Za-z0-9_]', '_', 'g')
               || '> <urn:kg:node:' || sha256(concat_ws(chr(31), 'node', obj))
               || '> .' AS nt
        FROM tri
        UNION ALL
        SELECT 'label' AS kind,
               '<urn:kg:node:' || sha256(concat_ws(chr(31), 'node', text))
               || '> <http://www.w3.org/2000/01/rdf-schema#label> "'
               || replace(replace(replace(replace(replace(text,
                    chr(92), chr(92) || chr(92)),
                    '"', chr(92) || '"'),
                    chr(10), chr(92) || 'n'),
                    chr(13), chr(92) || 'r'),
                    chr(9), chr(92) || 't')
               || '" .' AS nt
        FROM txt
    """
    o["kg_export_nq"] = f"""
        WITH {_REL_CTE},
        t AS (
          SELECT DISTINCT head_text AS subj, rel_type AS pred,
                 tail_text AS obj, doc_id
          FROM rels_id
        )
        SELECT '<urn:kg:node:' || sha256(concat_ws(chr(31), 'node', subj))
               || '> <urn:kg:rel:'
               || regexp_replace(pred, '[^A-Za-z0-9_]', '_', 'g')
               || '> <urn:kg:node:' || sha256(concat_ws(chr(31), 'node', obj))
               || '> <urn:kg:doc:' || sha256(concat_ws(chr(31), 'doc', doc_id))
               || '> .' AS nq
        FROM t
    """
    # BGP set semantics: distinct bindings over the distinct (s,p,o) view
    o["kg_bgp"] = f"""
        WITH {_REL_CTE},
        ed AS (
          SELECT DISTINCT head_text AS s, rel_type AS p, tail_text AS o
          FROM rels_id
        )
        SELECT DISTINCT x.s AS a, x.o AS b, y.o AS c
        FROM ed x JOIN ed y ON x.o = y.s
        WHERE x.p = 'technology_near_organization'
          AND y.p = 'organization_near_technology'
          AND x.s <> y.o
    """
    # bounded recursive closure: min over all walk lengths <= cap equals
    # the BFS-minimal distance under the same cap
    o["kg_pathplus"] = f"""
        WITH RECURSIVE {_REL_CTE},
        ed AS (
          SELECT DISTINCT head_text AS src, tail_text AS dst
          FROM rels_id
          WHERE rel_type = 'technology_near_technology'
        ),
        r AS (
          SELECT src, dst, 1 AS hops FROM ed
          UNION ALL
          SELECT r.src, e.dst, r.hops + 1
          FROM r JOIN ed e ON r.dst = e.src
          WHERE r.hops < 3
        )
        SELECT src, dst, CAST(min(hops) AS BIGINT) AS hops
        FROM r GROUP BY src, dst
    """
    o["kg_infer"] = f"""
        WITH {_REL_CTE},
        ed AS (
          SELECT DISTINCT head_text AS s, rel_type AS p, tail_text AS o
          FROM rels_id
        ),
        b AS (
          SELECT DISTINCT x.s AS a, y.o AS c
          FROM ed x JOIN ed y ON x.o = y.s
          WHERE x.p = 'technology_near_organization'
            AND y.p = 'organization_near_technology'
        )
        SELECT a AS subj, 'inferred_tech_link' AS pred, c AS obj
        FROM b
        WHERE NOT EXISTS (
          SELECT 1 FROM ed
          WHERE ed.s = b.a AND ed.p = 'inferred_tech_link'
            AND ed.o = b.c
        )
    """
    # N-Triples round-trip: parse(serialize(triples)) must be the identity
    # on the distinct triple set, so the oracle IS the distinct original —
    # any parser/escaper defect shows as a diff against ground truth.
    o["kg_import_nt"] = f"""
        WITH {_REL_CTE}
        SELECT DISTINCT head_text AS subj, rel_type AS pred,
               tail_text AS obj
        FROM rels_id
    """
    # streamed parse . serialize is the same identity as the batch parse
    o["stream_nt"] = o["kg_import_nt"]
    # SPARQL UNION: set union of the two distinct binding selects, NULL
    # padding for variables a branch doesn't bind
    o["kg_bgp_union"] = f"""
        WITH {_REL_CTE},
        ed AS (
          SELECT DISTINCT head_text AS s, rel_type AS p, tail_text AS o
          FROM rels_id
        )
        SELECT DISTINCT a, b, x FROM (
          SELECT s AS a, o AS b, CAST(NULL AS VARCHAR) AS x FROM ed
          WHERE p = 'technology_near_organization'
          UNION
          SELECT o AS a, CAST(NULL AS VARCHAR) AS b, s AS x FROM ed
          WHERE p = 'organization_near_technology'
        )
    """
    # bond percolation: one recursive min-reach CC closure per threshold
    # over the weighted co-purchase projection, folded to a 1-row profile
    _perc_blocks = []
    for _t_ in (3, 4, 5):
        _perc_blocks.append(f"""
        e{_t_} AS (SELECT a, b FROM ew WHERE w >= {_t_}),
        ed{_t_} AS (SELECT a AS s, b AS d FROM e{_t_}
                    UNION SELECT b, a FROM e{_t_}),
        v{_t_} AS (SELECT DISTINCT s AS v FROM ed{_t_}),
        r{_t_} AS (
          SELECT v, v AS r FROM v{_t_}
          UNION
          SELECT e.d AS v, r{_t_}.r FROM r{_t_} JOIN ed{_t_} e
            ON e.s = r{_t_}.v
        ),
        c{_t_} AS (SELECT v, min(r) AS comp FROM r{_t_} GROUP BY v),
        s{_t_} AS (SELECT comp, CAST(count(*) AS BIGINT) AS sz
                   FROM c{_t_} GROUP BY comp),
        p{_t_} AS (
          SELECT CAST({_t_} AS BIGINT) AS threshold,
                 CAST(sum(sz) AS BIGINT) AS n_nodes,
                 (SELECT CAST(count(*) AS BIGINT) FROM e{_t_}) AS n_edges,
                 CAST(count(*) AS BIGINT) AS n_components,
                 CAST(coalesce(max(sz), 0) AS BIGINT) AS largest
          FROM s{_t_}
        )""")
    o["g39_percolation"] = (
        """
        WITH RECURSIVE gi AS (
          SELECT DISTINCT CAST(l_orderkey AS VARCHAR) AS g,
                          CAST(l_partkey AS VARCHAR) AS item
          FROM lineitem
        ),
        kept AS (
          SELECT g, item FROM (
            SELECT g, item, count(*) OVER (PARTITION BY g) AS sz FROM gi
          ) WHERE sz <= 50
        ),
        ew AS (
          SELECT x.item AS a, y.item AS b, CAST(count(*) AS BIGINT) AS w
          FROM kept x JOIN kept y ON x.g = y.g AND x.item < y.item
          GROUP BY 1, 2
        ),"""
        + ",".join(_perc_blocks)
        + """
        SELECT * FROM p3
        UNION ALL SELECT * FROM p4
        UNION ALL SELECT * FROM p5
    """
    )
    # SPARQL OPTIONAL = left join of the two distinct binding sets
    o["kg_bgp_optional"] = f"""
        WITH {_REL_CTE},
        ed AS (
          SELECT DISTINCT head_text AS s, rel_type AS p, tail_text AS o
          FROM rels_id
        ),
        req AS (
          SELECT DISTINCT s AS a, o AS b FROM ed
          WHERE p = 'technology_near_organization'
        ),
        opt AS (
          SELECT DISTINCT s AS b, o AS sys FROM ed
          WHERE p = 'organization_near_system'
        )
        SELECT req.a, req.b, opt.sys
        FROM req LEFT JOIN opt ON req.b = opt.b
    """
    # hash-placement audit over the co-purchase projection: same sha-bucket
    # as the Spark side (top 60 bits of sha256 mod k)
    o["layout_edgecut"] = """
        WITH gi AS (
          SELECT DISTINCT CAST(l_orderkey AS VARCHAR) AS g,
                          CAST(l_partkey AS VARCHAR) AS item
          FROM lineitem
        ),
        kept AS (
          SELECT g, item FROM (
            SELECT g, item, count(*) OVER (PARTITION BY g) AS sz FROM gi
          ) WHERE sz <= 50
        ),
        e AS (
          SELECT x.item AS a, y.item AS b
          FROM kept x JOIN kept y ON x.g = y.g AND x.item < y.item
          GROUP BY 1, 2
        ),
        h AS (
          SELECT a, b,
                 ('0x' || substr(sha256(a), 1, 15))::BIGINT % 32 AS part,
                 ('0x' || substr(sha256(b), 1, 15))::BIGINT % 32 AS dpart
          FROM e
        )
        SELECT part,
               CAST(count(DISTINCT a) AS BIGINT) AS n_nodes,
               CAST(count(*) AS BIGINT) AS n_edges,
               CAST(sum(CASE WHEN part <> dpart THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_cut,
               round(CAST(sum(CASE WHEN part <> dpart THEN 1 ELSE 0 END)
                          AS BIGINT) / count(*), 6) AS cut_frac
        FROM h GROUP BY part
    """
    # filtered-ranking link-prediction eval: sha-holdout split, RA scores
    # on the training graph (g12's wedge CTEs), per-source row_number
    # rank, integer-micro-unit reciprocal ranks
    o["g38_lp_eval"] = """
        WITH gi AS (
          SELECT DISTINCT CAST(l_orderkey AS VARCHAR) AS g,
                          CAST(l_partkey AS VARCHAR) AS item
          FROM lineitem
        ),
        kept AS (
          SELECT g, item FROM (
            SELECT g, item, count(*) OVER (PARTITION BY g) AS sz FROM gi
          ) WHERE sz <= 50
        ),
        e AS (
          SELECT a, b FROM (
            SELECT x.item AS a, y.item AS b, count(*) AS w
            FROM kept x JOIN kept y ON x.g = y.g AND x.item < y.item
            GROUP BY 1, 2
          ) WHERE w >= 2
        ),
        tagged AS (
          SELECT a AS s, b AS d,
                 (('0x' || substr(sha256(a || '|' || b), 1, 15))::BIGINT
                  % 5 = 0) AS is_test
          FROM e
        ),
        train AS (SELECT s, d FROM tagged WHERE NOT is_test),
        test AS (SELECT s AS src, d AS dst FROM tagged WHERE is_test),
        adj AS (SELECT s AS z, d AS n FROM train
                UNION ALL SELECT d, s FROM train),
        deg AS (SELECT z, CAST(count(*) AS BIGINT) AS deg
                FROM adj GROUP BY z),
        center AS (
          SELECT adj.z, adj.n, 1000000000000 // deg AS ra1
          FROM adj JOIN deg USING (z) WHERE deg <= 10
        ),
        w AS (
          SELECT x.n AS src, y.n AS dst, x.ra1
          FROM center x JOIN center y ON x.z = y.z AND x.n < y.n
        ),
        cand0 AS (
          SELECT src, dst, CAST(sum(ra1) AS BIGINT) AS ra_units
          FROM w GROUP BY 1, 2
        ),
        cand AS (
          SELECT cand0.* FROM cand0
          LEFT JOIN train ON cand0.src = train.s AND cand0.dst = train.d
          WHERE train.s IS NULL
        ),
        ranked AS (
          SELECT src, dst,
                 CAST(row_number() OVER (PARTITION BY src
                      ORDER BY ra_units DESC, dst) AS BIGINT) AS rnk
          FROM cand
        ),
        hit AS (
          SELECT t.src, t.dst, r.rnk
          FROM test t LEFT JOIN ranked r
            ON t.src = r.src AND t.dst = r.dst
        )
        SELECT CAST(count(*) AS BIGINT) AS n_test,
               CAST(count(rnk) AS BIGINT) AS n_ranked,
               round(CAST(sum(CASE WHEN rnk IS NOT NULL
                                   THEN 1000000000000 // rnk
                                   ELSE 0 END) AS BIGINT)
                     / 1e12 / count(*), 6) AS mrr,
               CAST(sum(CASE WHEN rnk <= 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS hits1,
               CAST(sum(CASE WHEN rnk <= 3 THEN 1 ELSE 0 END)
                    AS BIGINT) AS hits3,
               CAST(sum(CASE WHEN rnk <= 10 THEN 1 ELSE 0 END)
                    AS BIGINT) AS hits10
        FROM hit
    """
    # per-entity star row: node-keyed aggs + row_number()=1 top type
    o["kg_entity_profile"] = f"""
        WITH {_REL_CTE},
        t AS (
          SELECT head_text AS subj, rel_type AS pred, tail_text AS obj,
                 doc_id
          FROM rels_id
        ),
        bt AS (
          SELECT subj AS node, pred, CAST(count(*) AS BIGINT) AS cnt
          FROM t GROUP BY 1, 2
        ),
        outs AS (
          SELECT node, CAST(sum(cnt) AS BIGINT) AS out_deg,
                 CAST(count(*) AS BIGINT) AS n_rel_types_out
          FROM bt GROUP BY node
        ),
        top AS (
          SELECT node, pred AS top_out_rel FROM (
            SELECT node, pred,
                   row_number() OVER (PARTITION BY node
                        ORDER BY cnt DESC, pred) AS rn
            FROM bt
          ) WHERE rn = 1
        ),
        ins AS (
          SELECT obj AS node, CAST(count(*) AS BIGINT) AS in_deg
          FROM t GROUP BY 1
        ),
        d AS (
          SELECT subj AS node, doc_id FROM t
          UNION ALL SELECT obj, doc_id FROM t
        ),
        docs AS (
          SELECT node, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
          FROM d GROUP BY node
        )
        SELECT docs.node,
               CAST(COALESCE(outs.out_deg, 0) AS BIGINT) AS out_deg,
               CAST(COALESCE(ins.in_deg, 0) AS BIGINT) AS in_deg,
               CAST(COALESCE(outs.n_rel_types_out, 0) AS BIGINT)
                 AS n_rel_types_out,
               docs.n_docs,
               top.top_out_rel
        FROM docs
        LEFT JOIN outs ON docs.node = outs.node
        LEFT JOIN ins ON docs.node = ins.node
        LEFT JOIN top ON docs.node = top.node
    """
    # SPARQL FILTER: the same WHERE over the distinct binding set
    o["kg_bgp_filter"] = f"""
        WITH {_REL_CTE},
        ed AS (
          SELECT DISTINCT head_text AS s, rel_type AS p, tail_text AS o
          FROM rels_id
        )
        SELECT DISTINCT s AS a, o AS b FROM ed
        WHERE p = 'technology_near_organization'
          AND length(s) > 5 AND s <> o
    """
    # SPARQL MINUS: NOT EXISTS on the shared variables (a, b)
    o["kg_bgp_minus"] = f"""
        WITH {_REL_CTE},
        ed AS (
          SELECT DISTINCT head_text AS s, rel_type AS p, tail_text AS o
          FROM rels_id
        )
        SELECT DISTINCT e1.s AS a, e1.p AS p, e1.o AS b
        FROM ed e1
        WHERE NOT EXISTS (
          SELECT 1 FROM ed e2
          WHERE e2.p = 'technology_near_technology'
            AND e2.s = e1.s AND e2.o = e1.o
        )
    """
    # SPARQL GROUP BY aggregates over the distinct binding table
    o["kg_bgp_agg"] = f"""
        WITH {_REL_CTE},
        ed AS (
          SELECT DISTINCT head_text AS s, rel_type AS p, tail_text AS o
          FROM rels_id
        ),
        b AS (
          SELECT DISTINCT s AS t, o FROM ed
          WHERE p = 'technology_near_organization'
        )
        SELECT o, CAST(count(*) AS BIGINT) AS n_bindings,
               min(t) AS first_tech
        FROM b GROUP BY o
    """
    # SPARQL ASK: existence of any solution, one boolean row
    o["kg_ask"] = f"""
        WITH {_REL_CTE},
        ed AS (
          SELECT DISTINCT head_text AS s, rel_type AS p, tail_text AS o
          FROM rels_id
        )
        SELECT EXISTS(
          SELECT 1 FROM ed WHERE p = 'technology_near_resource'
        ) AS matched
    """
    # SPARQL DESCRIBE: one-hop star of the entity, role-tagged; an
    # s = o = entity statement appears once per role in both engines
    o["kg_describe"] = f"""
        WITH {_REL_CTE},
        ed AS (
          SELECT DISTINCT head_text AS s, rel_type AS p, tail_text AS o
          FROM rels_id
        )
        SELECT 'subject' AS role, s AS subj, p AS pred, o AS obj
        FROM ed WHERE s = 'customer'
        UNION ALL
        SELECT 'object' AS role, s AS subj, p AS pred, o AS obj
        FROM ed WHERE o = 'customer'
    """
    # SHACL cardinality shapes: same distinct-statement counts, same
    # broadcast shape table, same NULL-bound conformance logic
    o["kg_shacl"] = f"""
        WITH {_REL_CTE},
        ed AS (
          SELECT DISTINCT head_text AS s, rel_type AS p, tail_text AS o
          FROM rels_id
        ),
        ty AS (SELECT DISTINCT text AS entity, label FROM mentions),
        sh(focus_label, path, direction, min_count, max_count) AS (VALUES
          ('technology', 'technology_near_organization', 'out',
           CAST(1 AS BIGINT), CAST(NULL AS BIGINT)),
          ('organization', 'organization_near_technology', 'out',
           CAST(NULL AS BIGINT), CAST(1 AS BIGINT)),
          ('system', 'technology_near_system', 'in',
           CAST(2 AS BIGINT), CAST(NULL AS BIGINT)),
          ('resource', 'resource_near_resource', 'out',
           CAST(NULL AS BIGINT), CAST(0 AS BIGINT))),
        oc AS (
          SELECT s AS entity, p AS path, 'out' AS direction,
                 CAST(count(*) AS BIGINT) AS observed
          FROM ed GROUP BY 1, 2
        ),
        ic AS (
          SELECT o AS entity, p AS path, 'in' AS direction,
                 CAST(count(*) AS BIGINT) AS observed
          FROM ed GROUP BY 1, 2
        ),
        cnts AS (SELECT * FROM oc UNION ALL SELECT * FROM ic),
        focus AS (
          SELECT ty.entity, sh.focus_label, sh.path, sh.direction,
                 sh.min_count, sh.max_count
          FROM ty JOIN sh ON ty.label = sh.focus_label
        )
        SELECT f.entity, f.focus_label, f.path, f.direction,
               CAST(COALESCE(c.observed, 0) AS BIGINT) AS observed,
               concat_ws(',',
                 CASE WHEN f.min_count IS NOT NULL
                      THEN 'min=' || CAST(f.min_count AS VARCHAR) END,
                 CASE WHEN f.max_count IS NOT NULL
                      THEN 'max=' || CAST(f.max_count AS VARCHAR) END
               ) AS bound,
               ((f.min_count IS NULL
                 OR COALESCE(c.observed, 0) >= f.min_count)
                AND (f.max_count IS NULL
                 OR COALESCE(c.observed, 0) <= f.max_count)) AS conforms
        FROM focus f
        LEFT JOIN cnts c ON c.entity = f.entity AND c.path = f.path
                         AND c.direction = f.direction
    """
    # WL refinement: both rounds unrolled, identical sha256 byte stream
    # (color '#' comma-joined sorted (dir|pred|color) multiset)
    o["g40_wl"] = f"""
        WITH {_REL_CTE},
        ed AS (
          SELECT DISTINCT head_text AS s, rel_type AS p, tail_text AS o
          FROM rels_id
        ),
        nodes AS (SELECT s AS node FROM ed UNION SELECT o FROM ed),
        c0 AS (SELECT node, 'wl0' AS color FROM nodes),
        m1 AS (
          SELECT e.s AS node, '>' || '|' || e.p || '|' || c.color AS sig
          FROM ed e JOIN c0 c ON c.node = e.o
          UNION ALL
          SELECT e.o AS node, '<' || '|' || e.p || '|' || c.color AS sig
          FROM ed e JOIN c0 c ON c.node = e.s
        ),
        s1 AS (
          SELECT node, list_sort(list(sig)) AS sigl FROM m1 GROUP BY node
        ),
        c1 AS (
          SELECT c0.node,
                 sha256(c0.color || '#' ||
                        coalesce(array_to_string(s1.sigl, ','), '')) AS color
          FROM c0 LEFT JOIN s1 USING (node)
        ),
        m2 AS (
          SELECT e.s AS node, '>' || '|' || e.p || '|' || c.color AS sig
          FROM ed e JOIN c1 c ON c.node = e.o
          UNION ALL
          SELECT e.o AS node, '<' || '|' || e.p || '|' || c.color AS sig
          FROM ed e JOIN c1 c ON c.node = e.s
        ),
        s2 AS (
          SELECT node, list_sort(list(sig)) AS sigl FROM m2 GROUP BY node
        )
        SELECT c1.node,
               sha256(c1.color || '#' ||
                      coalesce(array_to_string(s2.sigl, ','), '')) AS color
        FROM c1 LEFT JOIN s2 USING (node)
    """
    # rdfs9 entailment: recursive reflexive-transitive subclass closure
    # over the VALUES hierarchy, joined to the mention-label typing
    o["kg_rdfs_types"] = f"""
        WITH RECURSIVE {_KG_CTE},
        ty AS (SELECT DISTINCT text AS entity, label FROM mentions),
        sub(child, parent) AS (VALUES
          ('technology', 'artifact'), ('system', 'artifact'),
          ('resource', 'artifact'), ('organization', 'agent'),
          ('artifact', 'thing'), ('agent', 'thing')),
        cls AS (SELECT child AS c FROM sub UNION SELECT parent FROM sub),
        closure AS (
          SELECT c AS child, c AS ancestor FROM cls
          UNION
          SELECT closure.child, sub.parent
          FROM closure JOIN sub ON closure.ancestor = sub.child
        )
        SELECT DISTINCT entity, type FROM (
          SELECT entity, label AS type FROM ty
          UNION ALL
          SELECT ty.entity, closure.ancestor AS type
          FROM ty JOIN closure ON ty.label = closure.child
        )
    """
    # alternation | inverse: three pruned selects under one DISTINCT
    o["kg_path_alt"] = f"""
        WITH {_REL_CTE},
        ed AS (
          SELECT DISTINCT head_text AS s, rel_type AS p, tail_text AS o
          FROM rels_id
        )
        SELECT DISTINCT src, dst FROM (
          SELECT s AS src, o AS dst FROM ed
          WHERE p IN ('technology_near_organization',
                      'technology_near_system')
          UNION ALL
          SELECT o AS src, s AS dst FROM ed
          WHERE p = 'organization_near_technology'
        )
    """
    # TextRank: the ts_pmi bigram stream as a weighted word graph, every
    # word a teleport source (uniform teleport == classic PageRank), the
    # exact 30-iteration recursive PPR of g3_pagerank
    o["ts_textrank"] = f"""
        WITH RECURSIVE ws AS (
          SELECT string_split(text, ' ') AS ws FROM documents
        ),
        big AS (
          SELECT b.w1 AS w1, b.w2 AS w2 FROM (
            SELECT UNNEST([{{'w1': ws[i], 'w2': ws[i + 1]}}
                           FOR i IN generate_series(1, len(ws) - 1)]) AS b
            FROM ws
          ) WHERE b.w1 <> '' AND b.w2 <> ''
        ),
        raw AS (
          SELECT w1 AS s, w2 AS t2, CAST(count(*) AS DOUBLE) AS w
          FROM big GROUP BY 1, 2
        ),
        srcs AS (
          SELECT DISTINCT v FROM (
            SELECT s AS v FROM raw UNION SELECT t2 FROM raw
          )
        ),
        {_ppr_recursive(30)}
        SELECT v AS word, round(score, 4) AS score FROM ranks
        ORDER BY round(score, 4) DESC, v LIMIT 20
    """
    # B-cubed over the dd_resolve clustering vs exact-content gold:
    # floor-scaled integer micro-unit ratios, order-independent sums
    o["ml_bcubed"] = f"""
        WITH RECURSIVE {_SHINGLE_CTE},
        p AS (SELECT id_a, id_b FROM jacc WHERE jaccard >= 0.9),
        edges AS (SELECT id_a AS s, id_b AS d FROM p
                  UNION SELECT id_b, id_a FROM p),
        verts AS (SELECT DISTINCT s AS v FROM edges),
        reach AS (
          SELECT v, v AS r FROM verts
          UNION
          SELECT e.d AS v, reach.r FROM reach JOIN edges e ON e.s = reach.v
        ),
        comp AS (SELECT v, min(r) AS component FROM reach GROUP BY v),
        asg AS (
          SELECT CAST(d.doc_id AS VARCHAR) AS item,
                 coalesce(c.component, CAST(d.doc_id AS VARCHAR)) AS pred,
                 sha256(d.text) AS gold
          FROM documents d
          LEFT JOIN comp c ON c.v = CAST(d.doc_id AS VARCHAR)
        ),
        inter AS (SELECT pred, gold, CAST(count(*) AS BIGINT) AS o
                  FROM asg GROUP BY 1, 2),
        cp AS (SELECT pred, CAST(count(*) AS BIGINT) AS cp
               FROM asg GROUP BY 1),
        cg AS (SELECT gold, CAST(count(*) AS BIGINT) AS cg
               FROM asg GROUP BY 1),
        per AS (
          SELECT (i.o * 1000000) // cp.cp AS p_u,
                 (i.o * 1000000) // cg.cg AS r_u
          FROM asg a
          JOIN inter i ON i.pred = a.pred AND i.gold = a.gold
          JOIN cp ON cp.pred = a.pred
          JOIN cg ON cg.gold = a.gold
        ),
        agg AS (
          SELECT CAST(count(*) AS BIGINT) AS n_items,
                 CAST(sum(p_u) AS BIGINT) AS p_micro_sum,
                 CAST(sum(r_u) AS BIGINT) AS r_micro_sum
          FROM per
        )
        SELECT n_items, p_micro_sum, r_micro_sum,
               round(p_micro_sum / (n_items * 1000000.0), 6)
                 AS precision_b3,
               round(r_micro_sum / (n_items * 1000000.0), 6) AS recall_b3,
               round(2 * (p_micro_sum / (n_items * 1000000.0))
                       * (r_micro_sum / (n_items * 1000000.0))
                     / ((p_micro_sum / (n_items * 1000000.0))
                        + (r_micro_sum / (n_items * 1000000.0))), 6)
                 AS f1_b3
        FROM agg
    """
    # bipartiteness audit of the weight>=3 co-purchase graph: recursive
    # min-reach CC, recursive min-dist parity walk from each component's
    # canonical (min-id) seed, edge parity self-join
    o["g42_bipartite"] = """
        WITH RECURSIVE gi AS (
          SELECT DISTINCT CAST(l_orderkey AS VARCHAR) AS g,
                          CAST(l_partkey AS VARCHAR) AS item
          FROM lineitem
        ),
        kept AS (
          SELECT g, item FROM (
            SELECT g, item, count(*) OVER (PARTITION BY g) AS sz FROM gi
          ) WHERE sz <= 50
        ),
        ew AS (
          SELECT x.item AS a, y.item AS b, CAST(count(*) AS BIGINT) AS w
          FROM kept x JOIN kept y ON x.g = y.g AND x.item < y.item
          GROUP BY 1, 2
        ),
        e0 AS MATERIALIZED (SELECT a, b FROM ew WHERE w >= 2),
        sym AS MATERIALIZED (
          SELECT a AS u, b AS v FROM e0 UNION SELECT b, a FROM e0
        ),
        verts AS (SELECT DISTINCT u AS vx FROM sym),
        reach AS (
          SELECT vx, vx AS r FROM verts
          UNION
          SELECT s.v AS vx, reach.r FROM reach JOIN sym s ON s.u = reach.vx
        ),
        comp AS (SELECT vx, min(r) AS component FROM reach GROUP BY vx),
        walk(node, component, d) AS (
          SELECT component, component, 0
          FROM (SELECT DISTINCT component FROM comp)
          UNION
          SELECT s.v, walk.component, walk.d + 1
          FROM walk JOIN sym s ON s.u = walk.node
          WHERE walk.d < 30
        ),
        par AS (
          SELECT node, component, CAST(min(d) % 2 AS BIGINT) AS parity
          FROM walk GROUP BY 1, 2
        ),
        odd AS (
          SELECT pa.component, CAST(count(*) AS BIGINT) AS n_edges,
                 CAST(sum(CASE WHEN pa.parity = pb.parity
                               THEN 1 ELSE 0 END) AS BIGINT) AS n_odd
          FROM e0
          JOIN par pa ON pa.node = e0.a
          JOIN par pb ON pb.node = e0.b
          GROUP BY 1
        ),
        sizes AS (
          SELECT component, CAST(count(*) AS BIGINT) AS n_nodes
          FROM comp GROUP BY 1
        )
        SELECT s.component, s.n_nodes,
               CAST(coalesce(o.n_edges, 0) AS BIGINT) AS n_edges,
               CAST(coalesce(o.n_odd, 0) AS BIGINT) AS n_odd_edges,
               coalesce(o.n_odd, 0) = 0 AS is_bipartite
        FROM sizes s LEFT JOIN odd o USING (component)
    """
    # conductance of the sha-mod-32 placement: integer degree volumes,
    # cut edges charged to both endpoint partitions, one final divide
    o["layout_conductance"] = """
        WITH gi AS (
          SELECT DISTINCT CAST(l_orderkey AS VARCHAR) AS g,
                          CAST(l_partkey AS VARCHAR) AS item
          FROM lineitem
        ),
        kept AS (
          SELECT g, item FROM (
            SELECT g, item, count(*) OVER (PARTITION BY g) AS sz FROM gi
          ) WHERE sz <= 50
        ),
        e0 AS (
          SELECT DISTINCT x.item AS a, y.item AS b
          FROM kept x JOIN kept y ON x.g = y.g AND x.item < y.item
        ),
        deg AS (
          SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
            SELECT a AS node FROM e0 UNION ALL SELECT b FROM e0
          ) GROUP BY 1
        ),
        degp AS (
          SELECT node, deg,
                 ('0x' || substr(sha256(node), 1, 15))::BIGINT % 32 AS part
          FROM deg
        ),
        vol AS (
          SELECT part, CAST(count(*) AS BIGINT) AS n_nodes,
                 CAST(sum(deg) AS BIGINT) AS vol
          FROM degp GROUP BY 1
        ),
        tv AS (SELECT CAST(sum(vol) AS BIGINT) AS tvol FROM vol),
        cuts AS (
          SELECT ('0x' || substr(sha256(a), 1, 15))::BIGINT % 32 AS ps,
                 ('0x' || substr(sha256(b), 1, 15))::BIGINT % 32 AS pd
          FROM e0
        ),
        chg AS (
          SELECT part, CAST(count(*) AS BIGINT) AS n_cut FROM (
            SELECT ps AS part FROM cuts WHERE ps <> pd
            UNION ALL SELECT pd FROM cuts WHERE ps <> pd
          ) GROUP BY 1
        )
        SELECT v.part, v.n_nodes, v.vol,
               CAST(coalesce(c.n_cut, 0) AS BIGINT) AS n_cut,
               CASE WHEN least(v.vol, tv.tvol - v.vol) = 0 THEN 0.0
                    ELSE round(coalesce(c.n_cut, 0)
                               / least(v.vol, tv.tvol - v.vol), 6)
               END AS conductance
        FROM vol v LEFT JOIN chg c USING (part) CROSS JOIN tv
    """
    # k-anonymity histogram over the behavioral quasi-identifier
    o["ml_kanonymity"] = """
        WITH sig AS (
          SELECT user_id,
                 CAST(count(*) AS BIGINT) AS n_events,
                 CAST(count(DISTINCT event_type) AS BIGINT) AS n_types,
                 CAST(count(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_days
          FROM events GROUP BY 1
        ),
        cls AS (
          SELECT n_events, n_types, n_days,
                 CAST(count(*) AS BIGINT) AS class_size
          FROM sig GROUP BY 1, 2, 3
        )
        SELECT class_size,
               CAST(count(*) AS BIGINT) AS n_classes,
               CAST(sum(class_size) AS BIGINT) AS n_rows,
               class_size < 5 AS at_risk
        FROM cls GROUP BY class_size
    """
    # butterflies: C(weight,2) over the capped co-occurrence pair table,
    # credited to both endpoints — pure integer arithmetic
    o["g45_butterfly"] = """
        WITH gi AS (
          SELECT DISTINCT CAST(l_orderkey AS VARCHAR) AS g,
                          CAST(l_partkey AS VARCHAR) AS item
          FROM lineitem
        ),
        kept AS (
          SELECT g, item FROM (
            SELECT g, item, count(*) OVER (PARTITION BY g) AS sz FROM gi
          ) WHERE sz <= 50
        ),
        ew AS (
          SELECT x.item AS a, y.item AS b, CAST(count(*) AS BIGINT) AS w
          FROM kept x JOIN kept y ON x.g = y.g AND x.item < y.item
          GROUP BY 1, 2
        ),
        bf AS (SELECT a, b, (w * (w - 1)) // 2 AS bb FROM ew),
        sides AS (
          SELECT a AS item, bb FROM bf
          UNION ALL SELECT b, bb FROM bf
        )
        SELECT item, CAST(count(*) AS BIGINT) AS n_pairs,
               CAST(sum(bb) AS BIGINT) AS n_butterflies
        FROM sides GROUP BY item
    """
    # cardinality typing: per-endpoint fan maxima over distinct statements
    o["kg_cardinality"] = f"""
        WITH {_REL_CTE},
        ed AS (
          SELECT DISTINCT head_text AS s, rel_type AS p, tail_text AS o
          FROM rels_id
        ),
        outf AS (
          SELECT p, CAST(max(f) AS BIGINT) AS max_out_fan FROM (
            SELECT p, s, count(*) AS f FROM ed GROUP BY 1, 2
          ) GROUP BY p
        ),
        inf AS (
          SELECT p, CAST(max(f) AS BIGINT) AS max_in_fan FROM (
            SELECT p, o, count(*) AS f FROM ed GROUP BY 1, 2
          ) GROUP BY p
        ),
        n AS (SELECT p, CAST(count(*) AS BIGINT) AS n_stmts
              FROM ed GROUP BY 1)
        SELECT n.p AS pred, n.n_stmts, outf.max_out_fan, inf.max_in_fan,
               (CASE WHEN inf.max_in_fan > 1 THEN 'N' ELSE '1' END)
               || ':' ||
               (CASE WHEN outf.max_out_fan > 1 THEN 'N' ELSE '1' END)
                 AS cardinality
        FROM n JOIN outf ON outf.p = n.p JOIN inf ON inf.p = n.p
    """
    # inverse/symmetric axiom induction: reversed-vs-forward Jaccard per
    # predicate pair via one (subj, obj) equi-join
    o["kg_inverse_detect"] = f"""
        WITH {_REL_CTE},
        ed AS (
          SELECT DISTINCT head_text AS s, rel_type AS p, tail_text AS o
          FROM rels_id
        ),
        inter AS (
          SELECT r.p AS pred_a, f.p AS pred_b,
                 CAST(count(*) AS BIGINT) AS n_overlap
          FROM (SELECT o AS s, p, s AS o FROM ed) r
          JOIN ed f ON f.s = r.s AND f.o = r.o
          GROUP BY 1, 2
        ),
        sizes AS (SELECT p, CAST(count(*) AS BIGINT) AS n
                  FROM ed GROUP BY 1)
        SELECT i.pred_a, i.pred_b, sa.n AS n_a, sb.n AS n_b, i.n_overlap,
               round(i.n_overlap * 1.0
                     / (sa.n + sb.n - i.n_overlap), 6) AS jaccard,
               CASE WHEN i.pred_a = i.pred_b THEN 'symmetric'
                    ELSE 'inverse_of' END AS axiom
        FROM inter i
        JOIN sizes sa ON sa.p = i.pred_a
        JOIN sizes sb ON sb.p = i.pred_b
        WHERE round(i.n_overlap * 1.0 / (sa.n + sb.n - i.n_overlap), 6)
                >= 0.5
          AND i.pred_a <= i.pred_b
    """
    # AMIE chain rules: distinct body pairs via the mid-entity join, CWA
    # support via the (x,z) head join, integer-ratio confidence
    o["kg_rule_mine"] = f"""
        WITH {_REL_CTE},
        ed AS (
          SELECT DISTINCT head_text AS s, rel_type AS p, tail_text AS o
          FROM rels_id
        ),
        fan AS (
          SELECT mid FROM (
            SELECT mid, count(*) AS f FROM (
              SELECT o AS mid FROM ed UNION ALL SELECT s FROM ed
            ) GROUP BY mid
          ) WHERE f <= 1000
        ),
        body AS (
          SELECT DISTINCT l.p AS body_p, r.p AS body_q,
                 l.s AS x, r.o AS z
          FROM ed l
          JOIN fan ON fan.mid = l.o
          JOIN ed r ON r.s = l.o
        ),
        scored AS (
          SELECT b.body_p, b.body_q, h.p AS head_r,
                 CAST(count(*) AS BIGINT) AS support
          FROM body b JOIN ed h ON h.s = b.x AND h.o = b.z
          GROUP BY 1, 2, 3
        ),
        nb AS (
          SELECT body_p, body_q, CAST(count(*) AS BIGINT) AS n_body
          FROM body GROUP BY 1, 2
        )
        SELECT s.body_p, s.body_q, s.head_r, nb.n_body, s.support,
               round(s.support * 1.0 / nb.n_body, 6) AS confidence
        FROM scored s JOIN nb USING (body_p, body_q)
        WHERE s.support >= 2
          AND round(s.support * 1.0 / nb.n_body, 6) >= 0.5
    """

    # ------------------------------------------------------------------
    # tranche 70: knowledge fusion & completion
    # ------------------------------------------------------------------
    # noisy-OR fusion in EXACT integer micro-units: the same generated
    # ceil-division formula (HUGEINT here, DECIMAL(38,0) on the Spark
    # side) the operator uses — shared via fusion.noisy_or_micro_sql so
    # a formula change cannot drift between engine and oracle
    from knowledgegraphbuilder_spark.operators.fusion import noisy_or_micro_sql

    _fuse_p_micro = noisy_or_micro_sql({"a": 3, "b": 1}, dialect="duckdb")
    o["kg_fuse"] = f"""
        WITH {_REL_CTE},
        ev AS (
          SELECT DISTINCT head_text AS subj, rel_type AS pred,
                 tail_text AS obj, doc_id,
                 CASE WHEN CAST(regexp_extract(doc_id, '([0-9]+)$', 1) AS BIGINT) % 2 = 0 THEN 'a' ELSE 'b' END AS c
          FROM rels_id
        ),
        g AS (
          SELECT subj, pred, obj,
                 CAST(sum(CASE WHEN c = 'a' THEN 1 ELSE 0 END) AS BIGINT) AS k_a,
                 CAST(sum(CASE WHEN c = 'b' THEN 1 ELSE 0 END) AS BIGINT) AS k_b
          FROM ev GROUP BY 1, 2, 3
        )
        SELECT subj, pred, obj, k_a, k_b,
               CAST(k_a + k_b AS BIGINT) AS n_events,
               {_fuse_p_micro} AS p_fused_micro
        FROM g
    """
    # majority-vote truth discovery: row_number replay of the
    # min(struct(-votes, obj)) aggregate argmax
    o["kg_truth"] = f"""
        WITH {_REL_CTE},
        v AS (
          SELECT head_text AS subj, rel_type AS pred, tail_text AS obj,
                 CAST(count(DISTINCT doc_id) AS BIGINT) AS n_votes
          FROM rels_id
          WHERE rel_type IN ('technology_near_technology',
                             'system_near_technology',
                             'technology_near_organization')
          GROUP BY 1, 2, 3
        )
        SELECT subj, pred, obj AS obj_resolved, n_votes,
               n_candidates, n_total_votes
        FROM (
          SELECT subj, pred, obj, n_votes,
                 row_number() OVER (PARTITION BY subj, pred
                                    ORDER BY n_votes DESC, obj ASC) AS rn,
                 CAST(count(*) OVER (PARTITION BY subj, pred) AS BIGINT)
                   AS n_candidates,
                 CAST(sum(n_votes) OVER (PARTITION BY subj, pred) AS BIGINT)
                   AS n_total_votes
          FROM v
        ) WHERE rn = 1
    """
    # CONSTRUCT: one distinct binding set, three template projections;
    # blank node = 'b:' || sha256 over (name, bindings in first-appearance
    # order a, b, c)
    o["kg_construct"] = f"""
        WITH {_REL_CTE},
        ed AS (
          SELECT DISTINCT head_text AS s, rel_type AS p, tail_text AS o
          FROM rels_id
        ),
        bind AS (
          SELECT DISTINCT l.s AS a, l.o AS b, r.o AS c
          FROM ed l JOIN ed r ON r.s = l.o
          WHERE l.p = 'technology_near_organization'
            AND r.p = 'organization_near_technology'
        ),
        ev AS (
          SELECT 'b:' || sha256(concat_ws(chr(31), 'ev', a, b, c)) AS evid,
                 a, b, c
          FROM bind
        )
        SELECT DISTINCT subj, pred, obj FROM (
          SELECT evid AS subj, 'rdf_type' AS pred, 'TechLinkEvent' AS obj
          FROM ev
          UNION ALL SELECT evid, 'ev_subject', a FROM ev
          UNION ALL SELECT evid, 'ev_object', c FROM ev
        )
    """
    # PRA features: fan-capped mid join (kg_rule_mine's cap), head-pair
    # restriction, multiset path counts
    o["kg_pra"] = f"""
        WITH {_REL_CTE},
        ed AS (
          SELECT DISTINCT head_text AS s, rel_type AS p, tail_text AS o
          FROM rels_id
        ),
        fan AS (
          SELECT mid FROM (
            SELECT mid, count(*) AS f FROM (
              SELECT o AS mid FROM ed UNION ALL SELECT s FROM ed
            ) GROUP BY mid
          ) WHERE f <= 1000
        ),
        pos AS (
          SELECT DISTINCT s AS x, o AS z FROM ed
          WHERE p = 'technology_near_technology'
        ),
        paths AS (
          SELECT l.s AS x, l.p AS body_p, r.p AS body_q, r.o AS z
          FROM ed l
          JOIN fan ON fan.mid = l.o
          JOIN ed r ON r.s = l.o
          WHERE l.s <> r.o
        )
        SELECT p.x, p.z, p.body_p, p.body_q,
               CAST(count(*) AS BIGINT) AS n_paths
        FROM paths p JOIN pos USING (x, z)
        GROUP BY 1, 2, 3, 4
    """
    # sameAs closure replayed algebraically: full-strip star edges make
    # every variant chain a single component whose min vertex is the
    # most-underscored surface of the base — repeat('_', max und) || base
    o["kg_sameas"] = f"""
        WITH {_REL_CTE},
        tr AS (
          SELECT head_text AS subj, rel_type AS pred, tail_text AS obj,
                 doc_id
          FROM rels_id
        ),
        noisy AS (
          SELECT subj, pred, obj FROM tr
          UNION ALL SELECT '_' || subj, pred, obj FROM tr WHERE CAST(regexp_extract(doc_id, '([0-9]+)$', 1) AS BIGINT) % 3 = 0
          UNION ALL SELECT '__' || subj, pred, obj FROM tr WHERE CAST(regexp_extract(doc_id, '([0-9]+)$', 1) AS BIGINT) % 9 = 0
          UNION ALL SELECT subj, pred, '_' || obj FROM tr WHERE CAST(regexp_extract(doc_id, '([0-9]+)$', 1) AS BIGINT) % 5 = 0
        ),
        surf AS (SELECT subj AS t FROM noisy UNION SELECT obj FROM noisy),
        keyed AS (
          SELECT t, regexp_replace(t, '^_+', '') AS base,
                 length(t) - length(regexp_replace(t, '^_+', '')) AS und
          FROM surf
        ),
        grp AS (SELECT base, max(und) AS j FROM keyed GROUP BY base),
        canon AS (
          SELECT k.t, repeat('_', CAST(g.j AS INTEGER)) || k.base AS c
          FROM keyed k JOIN grp g ON g.base = k.base WHERE g.j > 0
        )
        SELECT DISTINCT coalesce(cs.c, n.subj) AS subj, n.pred,
                        coalesce(co.c, n.obj) AS obj
        FROM noisy n
        LEFT JOIN canon cs ON cs.t = n.subj
        LEFT JOIN canon co ON co.t = n.obj
    """
    # eigenvector: 3 unrolled integer power-method rounds, infinity-norm
    # fixed-point normalization by the round max (floor division)
    o["g41_eigen"] = f"""
        WITH {_DIRECTED_CTES},
        de AS MATERIALIZED (
          SELECT a AS s, b AS d FROM eu UNION ALL SELECT b, a FROM eu
        ),
        nodes AS (SELECT DISTINCT s AS node FROM de),
        v0 AS (SELECT node, CAST(1000000 AS HUGEINT) AS v FROM nodes),
        r1 AS MATERIALIZED (
          SELECT de.d AS node, CAST(sum(v0.v) AS HUGEINT) AS raw
          FROM de JOIN v0 ON v0.node = de.s GROUP BY de.d
        ),
        v1 AS MATERIALIZED (
          SELECT node, (raw * 1000000) // (SELECT max(raw) FROM r1) AS v
          FROM r1
        ),
        r2 AS MATERIALIZED (
          SELECT de.d AS node, CAST(sum(v1.v) AS HUGEINT) AS raw
          FROM de JOIN v1 ON v1.node = de.s GROUP BY de.d
        ),
        v2 AS MATERIALIZED (
          SELECT node, (raw * 1000000) // (SELECT max(raw) FROM r2) AS v
          FROM r2
        ),
        r3 AS MATERIALIZED (
          SELECT de.d AS node, CAST(sum(v2.v) AS HUGEINT) AS raw
          FROM de JOIN v2 ON v2.node = de.s GROUP BY de.d
        ),
        v3 AS MATERIALIZED (
          SELECT node, (raw * 1000000) // (SELECT max(raw) FROM r3) AS v
          FROM r3
        )
        SELECT n.node, CAST(coalesce(v3.v, 0) AS BIGINT) AS eig_micro
        FROM nodes n LEFT JOIN v3 ON v3.node = n.node
    """
    # disjointness audit: rdfs closure (recursive) + planted cross-typing
    # + broadcast pair probe, pair normalized (least, greatest)
    o["kg_disjoint"] = f"""
        WITH RECURSIVE {_KG_CTE},
        ty0 AS (SELECT DISTINCT text AS entity, label FROM mentions),
        ty AS (
          SELECT entity, label FROM ty0
          UNION
          SELECT entity, 'organization' FROM ty0
          WHERE label = 'technology' AND length(entity) % 2 = 1
        ),
        sub(child, parent) AS (VALUES
          ('technology', 'artifact'), ('system', 'artifact'),
          ('resource', 'artifact'), ('organization', 'agent'),
          ('artifact', 'thing'), ('agent', 'thing')),
        cls AS (SELECT child AS c FROM sub UNION SELECT parent FROM sub),
        closure AS (
          SELECT c AS child, c AS ancestor FROM cls
          UNION
          SELECT closure.child, sub.parent
          FROM closure JOIN sub ON closure.ancestor = sub.child
        ),
        ent AS (
          SELECT DISTINCT entity, type FROM (
            SELECT entity, label AS type FROM ty
            UNION ALL
            SELECT ty.entity, closure.ancestor AS type
            FROM ty JOIN closure ON ty.label = closure.child
          )
        )
        SELECT DISTINCT a.entity, 'agent' AS class_a, 'artifact' AS class_b
        FROM ent a JOIN ent b ON a.entity = b.entity
        WHERE a.type = 'agent' AND b.type = 'artifact'
    """


    # ------------------------------------------------------------------
    # tranche 71: KG-completion eval, RDF-star fused export, media dedup
    # ------------------------------------------------------------------
    # TransE replay: sha256-derived integer embeddings, exact L1 scores,
    # strict-inferiority ranks over type-constrained candidates
    o["kg_embed_rank"] = f"""
        WITH {_DIRECTED_CTES},
        core AS (
          SELECT a AS n FROM eu WHERE w >= 3
          UNION SELECT b FROM eu WHERE w >= 3
        ),
        ec AS MATERIALIZED (
          SELECT a, b, w FROM eu
          WHERE a IN (SELECT n FROM core) AND b IN (SELECT n FROM core)
        ),
        tri AS MATERIALIZED (
          SELECT a AS subj, 'tie' AS pred, b AS obj FROM ec
          UNION ALL
          SELECT b, 'strong_tie', a FROM ec WHERE w >= 3
        ),
        ents AS (SELECT DISTINCT e FROM (
          SELECT subj AS e FROM tri UNION ALL SELECT obj FROM tri)),
        ev AS MATERIALIZED (
          SELECT e, list_transform(range(4), d ->
            ('0x' || substr(sha256('ent' || chr(31) || e || chr(31)
                                   || CAST(d AS VARCHAR)), 1, 15))::BIGINT
            % 1000) AS v
          FROM ents
        ),
        rv AS (
          SELECT pred, list_transform(range(4), d ->
            ('0x' || substr(sha256('rel' || chr(31) || pred || chr(31)
                                   || CAST(d AS VARCHAR)), 1, 15))::BIGINT
            % 1000) AS v
          FROM (SELECT DISTINCT pred FROM tri)
        ),
        cand AS MATERIALIZED (
          SELECT t.pred, t.obj AS cand, e.v AS cv
          FROM (SELECT DISTINCT pred, obj FROM tri) t
          JOIN ev e ON e.e = t.obj
        ),
        csize AS (
          SELECT pred, CAST(count(*) AS BIGINT) AS n_candidates
          FROM cand GROUP BY pred
        ),
        pos AS MATERIALIZED (
          SELECT t.subj, t.pred, t.obj, sv.v AS sv, rv.v AS rv,
                 list_sum(list_transform(range(4), d ->
                   abs(sv.v[d + 1] + rv.v[d + 1] - xv.v[d + 1])))
                   AS true_score
          FROM (SELECT DISTINCT subj, pred, obj FROM tri) t
          JOIN ev sv ON sv.e = t.subj
          JOIN rv ON rv.pred = t.pred
          JOIN ev xv ON xv.e = t.obj
        ),
        ranks AS (
          SELECT p.subj, p.pred, p.obj,
                 1 + sum(CASE WHEN list_sum(list_transform(range(4), d ->
                   abs(p.sv[d + 1] + p.rv[d + 1] - c.cv[d + 1])))
                   < p.true_score THEN 1 ELSE 0 END) AS rnk
          FROM pos p JOIN cand c ON c.pred = p.pred
          GROUP BY 1, 2, 3
        )
        SELECT r.pred,
               CAST(count(*) AS BIGINT) AS n_triples,
               cs.n_candidates,
               CAST(sum(rnk) AS BIGINT) AS sum_rank,
               CAST(sum(CASE WHEN rnk <= 1 THEN 1 ELSE 0 END) AS BIGINT)
                 AS hits_at1,
               CAST(sum(CASE WHEN rnk <= 3 THEN 1 ELSE 0 END) AS BIGINT)
                 AS hits_at3,
               CAST(sum(1000000 // rnk) AS BIGINT) AS mrr_micro_floor
        FROM ranks r JOIN csize cs ON cs.pred = r.pred
        GROUP BY r.pred, cs.n_candidates
    """
    # RDF-star: the kg_fuse replay wrapped in quoted-triple lines with the
    # kg_export_nt IRI algebra
    o["kg_export_rdfstar"] = f"""
        WITH {_REL_CTE},
        ev AS (
          SELECT DISTINCT head_text AS subj, rel_type AS pred,
                 tail_text AS obj, doc_id,
                 CASE WHEN CAST(regexp_extract(doc_id, '([0-9]+)$', 1)
                            AS BIGINT) % 2 = 0 THEN 'a' ELSE 'b' END AS c
          FROM rels_id
        ),
        g AS (
          SELECT subj, pred, obj,
                 CAST(sum(CASE WHEN c = 'a' THEN 1 ELSE 0 END) AS BIGINT) AS k_a,
                 CAST(sum(CASE WHEN c = 'b' THEN 1 ELSE 0 END) AS BIGINT) AS k_b
          FROM ev GROUP BY 1, 2, 3
        ),
        fused AS (
          SELECT subj, pred, obj,
                 {_fuse_p_micro} AS p_micro
          FROM g
        )
        SELECT DISTINCT 'conf' AS kind,
               '<< <urn:kg:node:' || sha256(concat_ws(chr(31), 'node', subj))
               || '> <urn:kg:rel:'
               || regexp_replace(pred, '[^A-Za-z0-9_]', '_', 'g')
               || '> <urn:kg:node:' || sha256(concat_ws(chr(31), 'node', obj))
               || '> >> <urn:kg:meta:confidence_micro> "'
               || CAST(p_micro AS VARCHAR)
               || '"^^<http://www.w3.org/2001/XMLSchema#integer> .' AS nt
        FROM fused
    """
    # media dedup: 16-bit codes, quadratic Hamming<=1 verify (the banding
    # join is a lossless pigeonhole, so the pair sets are identical),
    # recursive min-reach closure, full assignment
    o["mm_dedup"] = """
        WITH RECURSIVE refs AS (
          SELECT 'media://img/doc_' || CAST(doc_id AS VARCHAR) || '/0'
                   AS media_ref
          FROM documents WHERE doc_id % 5 = 0
          UNION ALL
          SELECT 'media://aud/doc_' || CAST(doc_id AS VARCHAR) || '/0'
          FROM documents WHERE doc_id % 10 = 0
        ),
        coded AS (
          SELECT media_ref,
                 ('0x' || substr(sha256(media_ref), 1, 4))::BIGINT % 65536
                   AS code
          FROM refs
        ),
        pr AS (
          SELECT a.media_ref AS s, b.media_ref AS d
          FROM coded a JOIN coded b ON a.media_ref < b.media_ref
          WHERE bit_count(xor(a.code, b.code)) <= 1
        ),
        edges AS (SELECT s, d FROM pr UNION SELECT d, s FROM pr),
        verts AS (SELECT DISTINCT s AS v FROM edges),
        reach AS (
          SELECT v, v AS r FROM verts
          UNION
          SELECT e.d AS v, reach.r FROM reach JOIN edges e ON e.s = reach.v
        ),
        assign AS (SELECT v, min(r) AS canon FROM reach GROUP BY v)
        SELECT c.media_ref,
               coalesce(a.canon, c.media_ref) AS canon_ref,
               CAST(c.code AS BIGINT) AS code
        FROM coded c LEFT JOIN assign a ON a.v = c.media_ref
    """


    # ------------------------------------------------------------------
    # tranche 72: quantified/negated property paths, density clustering
    # ------------------------------------------------------------------
    # BFS-minimal quantified path: per-level frontier minus everything
    # already reached (the path_closure semantics, hops 2..3 kept)
    o["kg_path_quant"] = f"""
        WITH {_REL_CTE},
        e AS (
          SELECT DISTINCT head_text AS src, tail_text AS dst
          FROM rels_id WHERE rel_type = 'technology_near_technology'
        ),
        l2 AS (
          SELECT DISTINCT a.src, b.dst FROM e a JOIN e b ON a.dst = b.src
        ),
        l3 AS (
          SELECT DISTINCT l2.src, e.dst FROM l2 JOIN e ON e.src = l2.dst
        )
        SELECT src, dst, CAST(min(hops) AS BIGINT) AS hops FROM (
          SELECT src, dst, 2 AS hops FROM l2
          UNION ALL
          SELECT src, dst, 3 AS hops FROM l3
        ) GROUP BY src, dst
    """
    o["kg_npath"] = f"""
        WITH {_REL_CTE}
        SELECT DISTINCT head_text AS src, tail_text AS dst
        FROM rels_id
        WHERE rel_type NOT IN ('technology_near_organization',
                               'organization_near_technology')
    """
    # DBSCAN replay over the operator's unshifted milli-unit coordinates:
    # quadratic eps-ball (oracle-side only; the operator is grid-bucketed),
    # recursive min-reach closure over core edges, min-cluster border pin
    o["ml_dbscan"] = """
        WITH RECURSIVE p AS (
          SELECT CAST(vec_id AS VARCHAR) AS id,
                 CAST(floor(CAST(embedding[1] AS DOUBLE) * 1000) AS BIGINT) AS x,
                 CAST(floor(CAST(embedding[2] AS DOUBLE) * 1000) AS BIGINT) AS y
          FROM embeddings
        ),
        nbrs AS MATERIALIZED (
          SELECT a.id, b.id AS nid
          FROM p a JOIN p b
            ON (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) <= 625
        ),
        cores AS MATERIALIZED (
          SELECT id FROM nbrs GROUP BY id HAVING count(*) >= 4
        ),
        ce AS MATERIALIZED (
          SELECT n.id AS s, n.nid AS d FROM nbrs n
          JOIN cores ca ON ca.id = n.id
          JOIN cores cb ON cb.id = n.nid
          WHERE n.id <> n.nid
        ),
        verts AS (SELECT DISTINCT s AS v FROM ce),
        reach AS (
          SELECT v, v AS r FROM verts
          UNION
          SELECT ce.d AS v, reach.r FROM reach JOIN ce ON ce.s = reach.v
        ),
        cc AS (SELECT v AS id, min(r) AS component FROM reach GROUP BY v),
        core_assign AS (
          SELECT cores.id, coalesce(cc.component, cores.id) AS cluster
          FROM cores LEFT JOIN cc ON cc.id = cores.id
        ),
        border AS (
          SELECT n.id, min(ca.cluster) AS bcluster
          FROM nbrs n
          JOIN core_assign ca ON ca.id = n.nid
          WHERE n.id <> n.nid
            AND n.id NOT IN (SELECT id FROM cores)
          GROUP BY n.id
        )
        SELECT p.id AS vec_id,
               CASE WHEN ca.id IS NOT NULL THEN 'core'
                    WHEN b.bcluster IS NOT NULL THEN 'border'
                    ELSE 'noise' END AS role,
               coalesce(ca.cluster, b.bcluster) AS cluster
        FROM p
        LEFT JOIN core_assign ca ON ca.id = p.id
        LEFT JOIN border b ON b.id = p.id
    """

    # streamed fusion state must equal the batch fold exactly
    o["stream_fuse"] = o["kg_fuse"]

    # temporal motifs: exact integer-microsecond window tests, quadratic
    # within-type replay (the operator itself is bucket-banded)
    o["g46_temporal"] = """
        WITH ev AS (
          SELECT event_type AS et, CAST(user_id AS VARCHAR) AS u,
                 epoch_us(ts) AS t, event_id AS eid
          FROM events
        ),
        contacts AS MATERIALIZED (
          SELECT a.et, a.u, a.eid, b.u AS u2, b.eid AS eid2
          FROM ev a JOIN ev b
            ON a.et = b.et AND b.t - a.t > 0
           AND b.t - a.t <= 3600000000 AND b.u <> a.u
        ),
        paths AS (
          SELECT c1.et, c1.u, c2.u2 AS u3
          FROM contacts c1 JOIN contacts c2
            ON c1.et = c2.et AND c1.eid2 = c2.eid
          WHERE c2.u2 <> c1.u
        ),
        nev AS (SELECT et, CAST(count(*) AS BIGINT) AS n_events
                FROM ev GROUP BY et),
        nc AS (SELECT et, CAST(count(*) AS BIGINT) AS n_contacts
               FROM contacts GROUP BY et),
        np AS (
          SELECT et, CAST(count(*) AS BIGINT) AS n_2paths,
                 CAST(count(DISTINCT (u, u3)) AS BIGINT)
                   AS n_influence_pairs
          FROM paths GROUP BY et
        )
        SELECT nev.et AS event_type, nev.n_events,
               coalesce(nc.n_contacts, 0) AS n_contacts,
               coalesce(np.n_2paths, 0) AS n_2paths,
               coalesce(np.n_influence_pairs, 0) AS n_influence_pairs
        FROM nev LEFT JOIN nc ON nc.et = nev.et
        LEFT JOIN np ON np.et = nev.et
    """


    # WL quotient: the g40_wl color replay embedded as a CTE (inner WITH
    # shadows the outer), two assignment joins, one grouped count
    o["kg_summary"] = f"""
        WITH {_REL_CTE},
        colors AS ({o["g40_wl"]}),
        t AS (
          SELECT DISTINCT head_text AS s, rel_type AS p, tail_text AS o
          FROM rels_id
        ),
        groups AS (
          SELECT color, CAST(count(*) AS BIGINT) AS n_nodes,
                 min(node) AS exemplar
          FROM colors GROUP BY color
        ),
        q AS (
          SELECT cs.color AS sc, t.p, co.color AS dc,
                 CAST(count(*) AS BIGINT) AS n
          FROM t
          JOIN colors cs ON cs.node = t.s
          JOIN colors co ON co.node = t.o
          GROUP BY 1, 2, 3
        )
        SELECT q.sc AS src_color, q.p AS pred, q.dc AS dst_color,
               q.n AS n_statements, gs.n_nodes AS n_src_nodes,
               gd.n_nodes AS n_dst_nodes, gs.exemplar AS src_exemplar,
               gd.exemplar AS dst_exemplar
        FROM q
        JOIN groups gs ON gs.color = q.sc
        JOIN groups gd ON gd.color = q.dc
    """
    # rule explanation: witness aggregate over the body binding set +
    # per-atom doc-support probes
    o["kg_explain"] = f"""
        WITH {_REL_CTE},
        ed AS (
          SELECT DISTINCT head_text AS s, rel_type AS p, tail_text AS o
          FROM rels_id
        ),
        bind AS (
          SELECT DISTINCT l.s AS a, l.o AS b, r.o AS c
          FROM ed l JOIN ed r ON r.s = l.o
          WHERE l.p = 'technology_near_organization'
            AND r.p = 'organization_near_technology'
        ),
        wit AS (
          SELECT a, c, CAST(count(DISTINCT b) AS BIGINT) AS n_witnesses,
                 min(b) AS example_witness
          FROM bind GROUP BY 1, 2
        ),
        trd AS (
          SELECT DISTINCT head_text AS s, rel_type AS p, tail_text AS o,
                 doc_id
          FROM rels_id
        ),
        sup AS (
          SELECT bind.a, bind.c, t.doc_id
          FROM bind JOIN trd t
            ON t.s = bind.a AND t.o = bind.b
           AND t.p = 'technology_near_organization'
          UNION ALL
          SELECT bind.a, bind.c, t.doc_id
          FROM bind JOIN trd t
            ON t.s = bind.b AND t.o = bind.c
           AND t.p = 'organization_near_technology'
        ),
        docs AS (
          SELECT a, c, CAST(count(DISTINCT doc_id) AS BIGINT)
                   AS n_support_docs
          FROM sup GROUP BY 1, 2
        )
        SELECT w.a, w.c, w.n_witnesses, w.example_witness,
               d.n_support_docs
        FROM wit w JOIN docs d ON d.a = w.a AND d.c = w.c
    """


    # vacuum: the retained (snapshot, table, rows) matrix — snapshot 2
    # resolves triples via FALLBACK to the v1 the vacuum must not delete
    o["kg_vacuum"] = f"""
        WITH {_REL_CTE},
        tr_n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM rels_id),
        nd_n AS (
          SELECT CAST(count(DISTINCT text) AS BIGINT) AS n FROM mentions_id
        )
        SELECT 2 AS snapshot_id, 'nodes' AS table_name, nd_n.n AS n_rows
        FROM nd_n
        UNION ALL
        SELECT 2, 'triples', tr_n.n FROM tr_n
        UNION ALL
        SELECT 3, 'nodes', nd_n.n FROM nd_n
        UNION ALL
        SELECT 3, 'triples', tr_n.n FROM tr_n
    """

    # incrementally maintained CC must equal batch CC exactly
    o["stream_cc"] = o["g4_cc"]

    # signature agreement over the Carter-Wegman replay (the
    # stream_minhash signature oracle reshaped into pairwise counts)
    o["sk_srcsim"] = f"""
        WITH t AS (
          SELECT source AS g, {duckdb_word_shingles('text', 3)} AS sh
          FROM documents
        ),
        e AS (SELECT g, UNNEST(sh) AS s FROM t WHERE len(sh) > 0),
        xs AS (
          SELECT g, ('0x' || substr(sha256(s), 1, 15))::BIGINT
                    % {_sketches.MINHASH_GROUP_PRIME} AS x
          FROM e
        ),
        ab(perm, a, b) AS (VALUES {", ".join(
            f"({i}, {a}, {b})"
            for i, (a, b) in enumerate(_sketches.minhash_ab()))}),
        sig AS (
          SELECT g, ab.perm AS perm,
                 min((CAST(ab.a AS HUGEINT) * xs.x + ab.b)
                     % {_sketches.MINHASH_GROUP_PRIME}) AS minv
          FROM xs CROSS JOIN ab GROUP BY 1, 2
        )
        SELECT a.g AS src_a, b.g AS src_b,
               CAST(sum(CASE WHEN a.minv = b.minv THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_agree,
               CAST(count(*) AS BIGINT) AS n_perm,
               CAST(sum(CASE WHEN a.minv = b.minv THEN 1 ELSE 0 END)
                    * 1000000 // count(*) AS BIGINT) AS jaccard_micro
        FROM sig a JOIN sig b ON a.perm = b.perm AND a.g < b.g
        GROUP BY 1, 2
    """


    # closed triad census over the directed core: FFLs at their unique
    # wedge, cycles anchored at the min node
    o["g47_triads"] = f"""
        WITH {_DIRECTED_CTES},
        core AS (
          SELECT a AS n FROM eu WHERE w >= 3
          UNION SELECT b FROM eu WHERE w >= 3
        ),
        ec AS MATERIALIZED (
          SELECT a, b, w FROM eu
          WHERE a IN (SELECT n FROM core) AND b IN (SELECT n FROM core)
        ),
        de AS MATERIALIZED (
          SELECT DISTINCT s, d FROM (
            SELECT a AS s, b AS d FROM ec
            UNION ALL SELECT b, a FROM ec WHERE w >= 3
          ) WHERE s <> d
        ),
        wedges AS MATERIALIZED (
          SELECT x.s AS a, x.d AS b, y.d AS c
          FROM de x JOIN de y ON y.s = x.d
          WHERE x.s <> y.d
        )
        SELECT (SELECT CAST(count(*) AS BIGINT) FROM de) AS n_edges,
               CAST(count(*) AS BIGINT) AS n_wedges,
               CAST(coalesce(sum(CASE WHEN EXISTS (
                 SELECT 1 FROM de WHERE de.s = w.a AND de.d = w.c)
                 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_ffl,
               CAST(coalesce(sum(CASE WHEN w.a < w.b AND w.a < w.c
                 AND EXISTS (SELECT 1 FROM de
                             WHERE de.s = w.c AND de.d = w.a)
                 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_cycle
        FROM wedges w
    """
    # System-R containment estimate vs true composition cardinality
    o["kg_cardest"] = f"""
        WITH {_REL_CTE},
        ed AS (
          SELECT DISTINCT head_text AS subj, rel_type AS pred,
                 tail_text AS obj
          FROM rels_id
        ),
        oc AS (
          SELECT pred AS p, obj AS mid, CAST(count(*) AS BIGINT) AS c_out
          FROM ed GROUP BY 1, 2
        ),
        sc AS (
          SELECT pred AS q, subj AS mid, CAST(count(*) AS BIGINT) AS c_in
          FROM ed GROUP BY 1, 2
        ),
        act AS (
          SELECT oc.p, sc.q,
                 CAST(sum(oc.c_out * sc.c_in) AS BIGINT) AS actual_rows
          FROM oc JOIN sc ON sc.mid = oc.mid GROUP BY 1, 2
        ),
        ps AS (
          SELECT pred AS p, CAST(count(*) AS BIGINT) AS n_p,
                 CAST(count(DISTINCT obj) AS BIGINT) AS ndv_p_obj
          FROM ed GROUP BY 1
        ),
        qs AS (
          SELECT pred AS q, CAST(count(*) AS BIGINT) AS n_q,
                 CAST(count(DISTINCT subj) AS BIGINT) AS ndv_q_subj
          FROM ed GROUP BY 1
        )
        SELECT act.p, act.q, ps.n_p, qs.n_q, ps.ndv_p_obj, qs.ndv_q_subj,
               CAST(ps.n_p * qs.n_q
                    // greatest(ps.ndv_p_obj, qs.ndv_q_subj) AS BIGINT)
                 AS est_rows,
               act.actual_rows,
               CAST(abs(ps.n_p * qs.n_q
                        // greatest(ps.ndv_p_obj, qs.ndv_q_subj)
                        - act.actual_rows) * 1000000
                    // act.actual_rows AS BIGINT) AS rel_err_micro
        FROM act JOIN ps ON ps.p = act.p JOIN qs ON qs.q = act.q
    """


    # as-of temporal query: validity windows over assertion times, the
    # midpoint filter replayed
    o["kg_asof"] = f"""
        WITH {_REL_CTE},
        ev AS (
          SELECT head_text AS subj, rel_type AS pred, tail_text AS obj,
                 CAST(regexp_extract(doc_id, '([0-9]+)$', 1) AS BIGINT)
                   AS t
          FROM rels_id
        ),
        v AS (
          SELECT subj, pred, obj,
                 CAST(min(t) AS BIGINT) AS t_from,
                 CAST(max(t) AS BIGINT) AS t_to,
                 CAST(count(DISTINCT t) AS BIGINT) AS n_assertions
          FROM ev GROUP BY 1, 2, 3
        ),
        mid AS (SELECT max(t) // 2 AS m FROM ev)
        SELECT v.* FROM v, mid WHERE v.t_from <= mid.m AND mid.m <= v.t_to
    """


    # split-conformal replay: HUGEINT scaled residuals, k-th order
    # statistic via row_number, integer coverage
    o["ml_conformal"] = """
        WITH base AS (
          SELECT l_returnflag AS grp,
                 CAST(l_quantity AS HUGEINT) AS x,
                 CAST(CAST(floor(l_extendedprice * 100) AS BIGINT)
                      AS HUGEINT) AS y,
                 ('0x' || substr(sha256(CAST(l_orderkey AS VARCHAR) || '-'
                                 || CAST(l_linenumber AS VARCHAR)), 1, 15)
                 )::BIGINT % 3 AS fold
          FROM lineitem
        ),
        stats AS (
          SELECT grp, CAST(count(*) AS HUGEINT) AS n_tr,
                 CAST(sum(x) AS HUGEINT) AS sx,
                 CAST(sum(y) AS HUGEINT) AS sy,
                 CAST(sum(x * x) AS HUGEINT) AS sxx,
                 CAST(sum(x * y) AS HUGEINT) AS sxy
          FROM base WHERE fold = 0 GROUP BY grp
        ),
        fit AS (
          SELECT grp, n_tr, sx, sy,
                 n_tr * sxy - sx * sy AS nn,
                 n_tr * sxx - sx * sx AS dd
          FROM stats WHERE n_tr * sxx - sx * sx <> 0
        ),
        cal AS (
          SELECT b.grp,
                 abs(f.n_tr * f.dd * b.y - f.sy * f.dd + f.nn * f.sx
                     - f.n_tr * f.nn * b.x) AS ar
          FROM base b JOIN fit f ON f.grp = b.grp WHERE b.fold = 1
        ),
        nc AS (
          SELECT f.grp, CAST(coalesce(cnt.n_cal, 0) AS BIGINT) AS n_cal,
                 CAST((9 * (coalesce(cnt.n_cal, 0) + 1) + 9) // 10
                      AS BIGINT) AS k
          FROM fit f LEFT JOIN (
            SELECT grp, count(*) AS n_cal FROM cal GROUP BY grp
          ) cnt ON cnt.grp = f.grp
        ),
        qh AS (
          SELECT nc.grp, nc.n_cal, nc.k, c.ar AS q_scaled
          FROM nc LEFT JOIN (
            SELECT grp, ar,
                   row_number() OVER (PARTITION BY grp ORDER BY ar) AS rn
            FROM cal
          ) c ON nc.grp = c.grp AND c.rn = nc.k
        ),
        tst AS (
          SELECT b.grp, CAST(count(*) AS BIGINT) AS n_test,
                 CAST(sum(CASE WHEN q.q_scaled IS NULL THEN 1 WHEN
                   abs(f.n_tr * f.dd * b.y - f.sy * f.dd + f.nn * f.sx
                       - f.n_tr * f.nn * b.x) <= q.q_scaled
                   THEN 1 ELSE 0 END) AS BIGINT) AS n_cov
          FROM base b
          JOIN fit f ON f.grp = b.grp
          JOIN qh q ON q.grp = b.grp
          WHERE b.fold = 2 GROUP BY b.grp
        )
        SELECT f.grp, CAST(f.n_tr AS BIGINT) AS n_train, q.n_cal,
               CAST(coalesce(t.n_test, 0) AS BIGINT) AS n_test, q.k,
               CAST(q.q_scaled * 1000000 // (f.n_tr * f.dd) AS BIGINT)
                 AS qhat_micro,
               CAST(900000 AS BIGINT) AS target_micro,
               CAST(t.n_cov * 1000000 // t.n_test AS BIGINT)
                 AS coverage_micro
        FROM fit f JOIN qh q ON q.grp = f.grp
        LEFT JOIN tst t ON t.grp = f.grp
    """


    # completeness: typed coverage counts, observed pairs only
    o["kg_completeness"] = f"""
        WITH {_REL_CTE},
        ty AS (SELECT DISTINCT text AS subj, label FROM mentions),
        cs AS (
          SELECT label, CAST(count(DISTINCT subj) AS BIGINT) AS n_entities
          FROM ty GROUP BY label
        ),
        sp AS (
          SELECT DISTINCT head_text AS subj, rel_type AS pred FROM rels_id
        ),
        wp AS (
          SELECT ty.label, sp.pred,
                 CAST(count(DISTINCT sp.subj) AS BIGINT) AS n_with_pred
          FROM sp JOIN ty ON ty.subj = sp.subj
          GROUP BY 1, 2
        )
        SELECT wp.label, wp.pred, cs.n_entities, wp.n_with_pred,
               CAST(wp.n_with_pred * 1000000 // cs.n_entities AS BIGINT)
                 AS coverage_micro
        FROM wp JOIN cs ON cs.label = wp.label
    """

    return o



# ---------------------------------------------------------------------------
# Tranche 9: supervised text-model ops + directed-graph analytics
# ---------------------------------------------------------------------------


def _directed_copurchase(spark, sf_dir, core_only: bool = False):
    """Directed view of the co-purchase projection: every weight>=2 edge
    points low->high id; weight>=3 edges (strong ties) additionally point
    back, so cycles exist exactly where the tie is strong. With
    ``core_only`` the graph is restricted to nodes incident to a
    weight>=3 edge plus the induced weight>=2 edges among them — the
    cycle-bearing core (119 nodes / 148 directed edges at sf0.01), which
    is where SCC structure lives; the acyclic fringe is singleton SCCs by
    construction and exercising the operator on it only burns trim
    rounds."""
    eu = _copurchase_edges(spark, sf_dir).filter(F.col("weight") >= 2)
    if core_only:
        core = (
            eu.filter(F.col("weight") >= 3)
            .select(F.col("src").alias("node"))
            .unionAll(
                eu.filter(F.col("weight") >= 3).select(F.col("dst").alias("node"))
            )
            .distinct()
        )
        eu = (
            eu.join(core.select(F.col("node").alias("src")), "src", "left_semi")
            .join(core.select(F.col("node").alias("dst")), "dst", "left_semi")
        )
    fwd = eu.select(F.col("src").alias("s"), F.col("dst").alias("d"))
    back = eu.filter(F.col("weight") >= 3).select(
        F.col("dst").alias("s"), F.col("src").alias("d")
    )
    return fwd.unionAll(back)


def q_g24_katz(spark, sf_dir):
    """Truncated Katz centrality (3 hops, alpha = 1/8) of the directed
    co-purchase graph (graphstats.py:katz_centrality): exact integer
    walk counts scaled by integer powers of inv_alpha, so katz_units is a
    BIGINT the oracle's 3 unrolled sparse-matvec joins replay exactly."""
    from knowledgegraphbuilder_spark.operators.graphstats import katz_centrality

    return katz_centrality(
        _directed_copurchase(spark, sf_dir), hops=3, inv_alpha=8,
        src_col="s", dst_col="d",
    )


def q_g23_scc(spark, sf_dir):
    """Strongly connected components of the cycle-bearing co-purchase core
    (graphstats.py:strongly_connected_components — TRIM + forward-backward
    coloring, the distributed SCC recipe). The oracle computes mutual
    reachability from a recursive-CTE closure — quadratic in component
    size and therefore test-scale-only; the operator itself never
    materializes a closure."""
    from knowledgegraphbuilder_spark.operators.graphstats import (
        strongly_connected_components,
    )

    return strongly_connected_components(
        _directed_copurchase(spark, sf_dir, core_only=True),
        src_col="s", dst_col="d",
    )


def q_ml_naivebayes(spark, sf_dir):
    """Multinomial Naive Bayes language classifier trained on the
    content-addressed 80% split and scored on the 20% holdout
    (mlstats.py:naive_bayes_classify) — the fastText-style linear
    quality/language classifier of LLM data pipelines, with every ln
    quantized to integer micro-units so the per-doc argmax is exact."""
    from knowledgegraphbuilder_spark.operators.mlstats import naive_bayes_classify

    return naive_bayes_classify(_t(spark, sf_dir, "documents"))


def q_ml_chi2(spark, sf_dir):
    """Top-50 (token, lang) chi-squared associations over doc-level
    presence (mlstats.py:chi2_features): supervised feature selection from
    three count aggregates, exact-integer contingency cells, final divide
    in double (the grouped_ols discipline)."""
    from knowledgegraphbuilder_spark.operators.mlstats import chi2_features

    return chi2_features(_t(spark, sf_dir, "documents"), min_df=5, top_n=50)


def q_sql_groupingsets(spark, sf_dir):
    """Custom GROUPING SETS aggregate ((status, flag), (status), (flag)) —
    the non-hierarchical multi-granularity shape ROLLUP/CUBE can't express
    (rollup = prefixes, cube = powerset; this is a hand-picked lattice
    slice). One shuffle, expanded map-side like rollup/cube."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_quantity"
    )
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    j = li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.col("o_orderstatus").alias("status"),
        F.col("l_returnflag").alias("flag"),
        F.col("l_quantity").cast("long").alias("qty"),
    )
    return (
        j.groupingSets(
            [["status", "flag"], ["status"], ["flag"]],
            "status", "flag",
        )
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.sum("qty").cast("long").alias("total_qty"),
        )
    )


def q_dd_lines(spark, sf_dir):
    """C4/RefinedWeb-style line-level dedup over the delimiter-reformatted
    corpus (dedup.py:line_dedup_stats): each distinct 8-word pseudo-line
    survives only at its first (doc_id, line_no) occurrence; per-doc kept/
    removed stats. One posexplode + one hash-keyed window + one map-side
    rollup — linear in total lines, sorts only inside duplicate groups."""
    from knowledgegraphbuilder_spark.operators.dedup import line_dedup_stats

    return line_dedup_stats(_t(spark, sf_dir, "documents"))


def q_ts_zipf(spark, sf_dir):
    """Zipf's-law OLS fit (ln freq on ln rank, top-100 words) over the
    corpus unigram distribution (textstats.py:zipf_fit) — the natural-text
    frequency-profile diagnostic; exact integer counts, deterministic
    (count DESC, word) rank, 6-dp outputs."""
    from knowledgegraphbuilder_spark.operators.textstats import zipf_fit

    return zipf_fit(_t(spark, sf_dir, "documents"))


def q_ts_gini(spark, sf_dir):
    """Per-source Simpson diversity + inverse-Simpson effective class
    count of the language mix (textstats.py:simpson_diversity) — the
    companion diagnostic to ts_entropy; exact integer squares widened to
    decimal before summation, one final double divide."""
    from knowledgegraphbuilder_spark.operators.textstats import simpson_diversity

    return simpson_diversity(_t(spark, sf_dir, "documents"))


def q_ts_resample(spark, sf_dir):
    """15-minute resample of the event stream per event_type with a dense
    executor-generated grid, zero-filled counts, exact-cents sums and
    forward-filled average (timeseries.py:resample_events). Buckets are
    integer microsecond arithmetic (never float epochs); the grid comes
    from explode(sequence(lo, hi)) on per-key bounds, no driver loop."""
    from knowledgegraphbuilder_spark.operators.timeseries import resample_events

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return resample_events(_t(spark, sf_dir, "events"))


def q_ml_stump(spark, sf_dir):
    """Best depth-1 CART split of doc length against lang='en' by exact
    Gini gain (mlstats.py:decision_stump): per-value histogram aggregate,
    cumulative window over the DISTINCT-value histogram (never the
    corpus), argmax with a (gain DESC, threshold) tie-break."""
    from knowledgegraphbuilder_spark.operators.mlstats import decision_stump

    return decision_stump(_t(spark, sf_dir, "documents"))


def q_sql_pivot(spark, sf_dir):
    """PIVOT: per user-decile event-type count matrix — Spark's
    groupBy().pivot() with an EXPLICIT value list (so the schema is static
    and no extra distinct-scan job runs; at 100 TB an implicit pivot
    first scans the corpus just to learn the columns). Map-side
    combinable: pivot compiles to conditional counts in one aggregate."""
    types = ["click", "error", "purchase", "signup", "view"]
    e = _t(spark, sf_dir, "events").select(
        (F.col("user_id") % 10).cast("long").alias("bucket"), "event_type"
    )
    p = e.groupBy("bucket").pivot("event_type", types).agg(F.count(F.lit(1)))
    return p.select(
        "bucket",
        *[
            F.coalesce(F.col(t), F.lit(0)).cast("long").alias(f"n_{t}")
            for t in types
        ],
    )


def q_ml_auc(spark, sf_dir):
    """Exact ROC AUC of doc length as a lang='en' classifier score via
    the midrank Mann-Whitney statistic (mlstats.py:roc_auc): the whole
    statistic stays integer (doubled midranks over the distinct-score
    histogram) until one final divide, so both engines produce the
    identical 6-dp value with zero float accumulation."""
    from knowledgegraphbuilder_spark.operators.mlstats import roc_auc

    return roc_auc(_t(spark, sf_dir, "documents"))


def q_ml_assoc(spark, sf_dir):
    """Top-50 market-basket association rules (confidence + lift) over
    order->part baskets (mlstats.py:association_rules) — basket-size cap
    BEFORE the quadratic pair expansion, integer supports, broadcast
    support re-join, total (lift DESC, a, b) order."""
    from knowledgegraphbuilder_spark.operators.mlstats import association_rules

    b = _t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").cast("string").alias("g"),
        F.col("l_partkey").cast("string").alias("item"),
    )
    return association_rules(b)


def q_ts_kl(spark, sf_dir):
    """Per-source KL divergence from the corpus unigram distribution
    (textstats.py:kl_by_group) — the drift/contamination diagnostic;
    exact integer counts, vocabulary-sized float sum, 6-dp round (the
    ts_entropy contract)."""
    from knowledgegraphbuilder_spark.operators.textstats import kl_by_group

    return kl_by_group(_t(spark, sf_dir, "documents"))


def q_ts_burst(spark, sf_dir):
    """Rate-burst detection on the dense 15-min resampled event grid
    (timeseries.py:burst_detect): trailing-8-bucket integer sum/sumsq
    window (excluding the current row), z-score in one fixed double
    formula, warmup rows unflagged. Needs resample_events' zero-filled
    gaps to make the trailing statistics honest."""
    from knowledgegraphbuilder_spark.operators.timeseries import burst_detect

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return burst_detect(_t(spark, sf_dir, "events"))


def q_sql_unpivot(spark, sf_dir):
    """UNPIVOT (melt) of the per-decile event-type count matrix back to
    long form via stack() — the inverse of sql_pivot, preserving explicit
    zero cells (a bare groupBy would silently drop empty combinations)."""
    p = q_sql_pivot(spark, sf_dir)
    return p.selectExpr(
        "bucket",
        "stack(5, 'click', n_click, 'error', n_error, 'purchase', "
        "n_purchase, 'signup', n_signup, 'view', n_view) as (event_type, n)",
    )


def q_ts_churn(spark, sf_dir):
    """Weekly active/new/retained/churned user flows
    (timeseries.py:weekly_churn): one (user, week) distinct, one per-user
    lead window, one weekly rollup — the lag/lead complement to the
    cohort matrix, never a self-join of activity against next week."""
    from knowledgegraphbuilder_spark.operators.timeseries import weekly_churn

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return weekly_churn(_t(spark, sf_dir, "events"))


def q_ts_lorenz(spark, sf_dir):
    """Decile Lorenz curve of document length (mlstats.py:lorenz_deciles):
    deterministic (value, id) ntile rank — the one intrinsic global sort,
    done by Spark's range-partitioned exchange — then exact BIGINT decile
    masses and a 6-dp cumulative share."""
    from knowledgegraphbuilder_spark.operators.mlstats import lorenz_deciles

    return lorenz_deciles(_t(spark, sf_dir, "documents"))


def q_ml_pca(spark, sf_dir):
    """Closed-form 2-feature PCA per returnflag group over (quantity,
    price-cents) (mlstats.py:pca2): grouped exact decimal sufficient
    statistics -> 2x2 covariance -> eigenstructure in closed form; no
    iteration, no driver-side linear algebra, identical double formula
    on both engines."""
    from knowledgegraphbuilder_spark.operators.mlstats import pca2

    li = _t(spark, sf_dir, "lineitem")
    return pca2(
        li,
        x_expr="cast(l_quantity as bigint)",
        y_expr="cast(floor(l_extendedprice * 100) as bigint)",
        group_col="l_returnflag",
    )


def q_stream_resample(spark, sf_dir):
    """STREAMING resample-state maintenance under the value-exact gate:
    events arrive as three event_id-range files, each micro-batch's
    per-(key, bucket) exact partials land under a content-derived batch
    key via replace-MERGE (streaming/ingest.py:run_resample_available_now
    — additive fold, NO alignment requirement since (count, cents-sum)
    is a commutative monoid per bucket), the whole input REPLAYS against
    a fresh checkpoint, and the folded grid (read_resampled) runs the
    identical densify + ffill plan as batch resample_events — so the
    ts_resample SQL oracle checks it directly."""
    import hashlib
    import shutil

    from knowledgegraphbuilder_spark.streaming.ingest import (
        read_resampled, run_resample_available_now,
    )

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = _t(spark, sf_dir, "events")
    tag = hashlib.sha256(sf_dir.encode()).hexdigest()[:10]
    base = f"/tmp/kg_stream_resample_{tag}"
    shutil.rmtree(base, ignore_errors=True)
    n = ev.agg(F.max("event_id")).first()[0]
    bounds = [0, n // 3, 2 * n // 3, n + 1]
    for i in range(3):
        (ev.filter((F.col("event_id") >= bounds[i])
                   & (F.col("event_id") < bounds[i + 1]))
         .coalesce(1).write.mode("overwrite").parquet(f"{base}/in/b{i}"))
    run_resample_available_now(spark, f"{base}/in/*", f"{base}/st", f"{base}/ck")
    run_resample_available_now(spark, f"{base}/in/*", f"{base}/st", f"{base}/ck2")
    return read_resampled(spark, f"{base}/st")


def q_ml_f1(spark, sf_dir):
    """Per-class precision/recall/F1 of the Naive Bayes holdout
    predictions (mlstats.py:classifier_metrics over naive_bayes_classify):
    exact integer confusion cells from one groupBy, class-sized rollups,
    zero-denominator-guarded 6-dp ratios — the evaluation half of the
    classifier loop."""
    from knowledgegraphbuilder_spark.operators.mlstats import (
        classifier_metrics, naive_bayes_classify,
    )

    return classifier_metrics(
        naive_bayes_classify(_t(spark, sf_dir, "documents"))
    )


def q_ts_autocorr(spark, sf_dir):
    """Lag-1 autocorrelation of the per-type bucket-count series over the
    DENSE 15-min grid (timeseries.py:lag1_autocorr) — computed on the
    zero-filled grid because skipping empty buckets deletes every zero
    from the series and biases the estimate; exact BIGINT pair sums,
    Pearson r in one fixed double formula."""
    from knowledgegraphbuilder_spark.operators.timeseries import lag1_autocorr

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return lag1_autocorr(_t(spark, sf_dir, "events"))


def q_sql_attribution(spark, sf_dir):
    """Last-touch marketing attribution: each purchase credits the user's
    most recent PRECEDING click's campaign (props k, regexp-extracted so
    neither engine needs a JSON reader) via an IGNORE NULLS last() over
    (user, time) — one window, no self-join of purchases against the
    click history; revenue in exact integer cents."""
    from pyspark.sql import Window as W

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    e = _t(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type",
        F.expr("cast(floor(value * 100) as bigint)").alias("cents"),
        F.regexp_extract("props", '"k":\\s*(\\d+)', 1).alias("kstr"),
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    attributed = e.select(
        "event_type", "cents",
        F.last(
            F.expr("case when event_type = 'click' then kstr end"),
            ignorenulls=True,
        ).over(w).alias("campaign"),
    )
    return (
        attributed.filter(F.col("event_type") == "purchase")
        .groupBy(F.coalesce("campaign", F.lit("none")).alias("campaign"))
        .agg(
            F.count("*").cast("long").alias("n_purchases"),
            F.sum("cents").cast("long").alias("revenue_cents"),
        )
    )


def q_sql_ttc(spark, sf_dir):
    """Time-to-convert distribution: per user, first view -> first
    subsequent purchase latency in exact integer microseconds, then the
    exact interpolated p50/p90/p99 (the ts_mad/winsorize percentile
    contract) — the funnel's latency companion."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    e = _t(spark, sf_dir, "events").select(
        "user_id", "event_type",
        F.expr("unix_micros(cast(ts as timestamp))").alias("us"),
    )
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id").agg(F.min("us").alias("t1"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(v, "user_id")
        .filter(F.col("us") > F.col("t1"))
        .groupBy("user_id").agg(F.min("us").alias("t3"))
        .join(v, "user_id")
        .select((F.col("t3") - F.col("t1")).alias("d"))
    )
    return p.agg(
        F.count("*").cast("long").alias("n_users"),
        F.expr("percentile(d, 0.5)").alias("p50_us"),
        F.expr("percentile(d, 0.9)").alias("p90_us"),
        F.expr("percentile(d, 0.99)").alias("p99_us"),
    )


def q_sql_dau_wau(spark, sf_dir):
    """DAU + trailing-7-day WAU per observed day: exact rolling DISTINCT
    via the explode-to-target-days trick — each (user, day) activity row
    projects onto the 7 window-ending days it supports, then one distinct
    + count per day. Linear x7, never a per-day rescan of history, and no
    approximate sketch needed."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    uw = (
        _t(spark, sf_dir, "events")
        .select(F.col("user_id").alias("u"), F.to_date("ts").alias("d"))
        .distinct()
    )
    dau = uw.groupBy("d").agg(F.count("*").cast("long").alias("dau"))
    tgt = (
        uw.select("u", F.explode(F.expr("sequence(0, 6)")).alias("off"), "d")
        .select("u", F.expr("date_add(d, off)").alias("td"))
        .distinct()
    )
    wau = tgt.groupBy(F.col("td").alias("d")).agg(
        F.count("*").cast("long").alias("wau")
    )
    return (
        dau.join(wau, "d")
        .select(
            F.date_format("d", "yyyy-MM-dd").alias("day"), "dau", "wau"
        )
    )


def q_sql_streaks(spark, sf_dir):
    """Gaps-and-islands: longest consecutive-day activity streak per user,
    reported as a distribution (streak_len -> n_users). The island key is
    pure integer arithmetic (epoch-day minus per-user row_number), so
    both engines group identically; one window + two rollups."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    from pyspark.sql import Window as W

    uw = (
        _t(spark, sf_dir, "events")
        .select(
            F.col("user_id").alias("u"),
            F.expr("datediff(to_date(ts), date'1970-01-01')").alias("ed"),
        )
        .distinct()
    )
    w = W.partitionBy("u").orderBy("ed")
    isl = uw.select(
        "u", (F.col("ed") - F.row_number().over(w)).alias("grp")
    )
    per = isl.groupBy("u", "grp").agg(F.count("*").alias("len"))
    best = per.groupBy("u").agg(F.max("len").cast("long").alias("streak_len"))
    return best.groupBy("streak_len").agg(
        F.count("*").cast("long").alias("n_users")
    )


def q_ml_psi(spark, sf_dir):
    """Population Stability Index of doc length between two
    content-addressed halves (mlstats.py:psi_drift): shared global
    equi-width bins, exact integer cell counts, one-sided bins counted
    out rather than epsilon-fudged — the feature-drift monitor."""
    from knowledgegraphbuilder_spark.operators.mlstats import psi_drift

    return psi_drift(_t(spark, sf_dir, "documents"))


def q_g26_gcc(spark, sf_dir):
    """Global clustering coefficient (transitivity) of the co-purchase
    graph (graphstats.py:global_clustering): one-row rollup over the same
    degree-ordered wedge plan as g5 — 3T/W as an exact-integer ratio."""
    from knowledgegraphbuilder_spark.operators.graphstats import (
        global_clustering_from_tc,
    )

    return global_clustering_from_tc(_triangle_table(spark, sf_dir))


def q_sql_rfm(spark, sf_dir):
    """RFM segmentation: per-user recency (days since last event, vs the
    corpus max day), frequency (events), monetary (exact cents), each
    ntile(5)-scored over a TOTAL (metric, user) order so the quintiles
    are deterministic; output is the 125-cell segment census. One scan,
    one per-user aggregate, three ``functions/rank.py:global_rank`` passes
    over the user table, one rollup."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    from knowledgegraphbuilder_spark.functions.rank import global_rank, ntile

    e = _t(spark, sf_dir, "events").select(
        F.col("user_id").alias("u"),
        F.to_date("ts").alias("d"),
        F.expr("cast(floor(value * 100) as bigint)").alias("cents"),
    )
    per = e.groupBy("u").agg(
        F.max("d").alias("last_d"),
        F.count("*").cast("long").alias("freq"),
        F.sum("cents").cast("long").alias("mon"),
    )
    mx = per.agg(F.max("last_d").alias("mx"))
    per = per.crossJoin(F.broadcast(mx)).select(
        "u", "freq", "mon",
        F.expr("datediff(mx, last_d)").cast("long").alias("rec"),
    )
    scored = per
    for name, key in (("r", F.desc("rec")), ("f", "freq"), ("m", "mon")):
        g = global_rank(scored, key, "u")
        scored = g.withColumn(name, ntile("rank", "n", 5)).drop("rank", "n")
    return scored.groupBy("r", "f", "m").agg(
        F.count("*").cast("long").alias("n_users")
    )


def q_ts_novelty(spark, sf_dir):
    """Per-source shingle novelty: how many of a source's distinct 3-word
    shingles occur FIRST (lexicographic (source, zero-padded doc_id)
    order) in that source — the dedup-ROI / crawl-freshness curve. One
    shingle explode (linear), one argmin-by-string groupBy (map-side
    combinable min), one source-sized rollup; no self-join of sources
    against each other."""
    from knowledgegraphbuilder_spark.functions.hashing import (
        spark_word_shingles,
    )

    sh = _t(spark, sf_dir, "documents").select(
        "source",
        F.expr(
            "concat(source, '|', lpad(cast(doc_id as string), 10, '0'))"
        ).alias("ord"),
        F.explode(F.expr(spark_word_shingles("text", 3))).alias("sg"),
    ).filter(F.col("sg") != "")
    firsts = sh.groupBy("sg").agg(F.min("ord").alias("first_ord"))
    novel = (
        firsts.select(
            F.expr("substring_index(first_ord, '|', 1)").alias("source")
        )
        .groupBy("source")
        .agg(F.count("*").cast("long").alias("n_novel"))
    )
    per_src = sh.groupBy("source").agg(
        F.count("*").cast("long").alias("n_occurrences"),
        F.countDistinct("sg").cast("long").alias("n_distinct"),
    )
    return per_src.join(novel, "source", "left").select(
        "source", "n_occurrences", "n_distinct",
        F.coalesce("n_novel", F.lit(0)).cast("long").alias("n_novel"),
    )


def q_sql_seasonality(spark, sf_dir):
    """Hour-of-day activity profile per event type with a deterministic
    peak flag (n == per-type max; ties all flagged) — one grouped count
    plus a type-partitioned max window over the 24-row-per-type profile,
    never over the event log."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    from pyspark.sql import Window as W

    prof = (
        _t(spark, sf_dir, "events")
        .select("event_type", F.hour("ts").alias("hour"))
        .groupBy("event_type", "hour")
        .agg(F.count("*").cast("long").alias("n"))
    )
    w = W.partitionBy("event_type")
    return prof.select(
        "event_type", "hour", "n",
        (F.col("n") == F.max("n").over(w)).cast("int").alias("is_peak"),
    )


def _coreness_unroll(kmax: int, rounds: int) -> str:
    """Unrolled full-coreness peel over an ``e0(a, b)`` CTE (canonical
    undirected edges): chain kmax levels of the _kcore_oracle peel, each
    level starting from the previous level's surviving subgraph; a node's
    coreness is the max level whose survivor set still contains it.
    Valid for the same fixed-point reason as _kcore_oracle — any unroll
    >= the observed per-level convergence rounds replays the iterative
    operator exactly (the operator asserts degeneracy < kmax)."""
    ctes = []
    prev = "e0"
    survivors = []
    for k in range(1, kmax + 1):
        for r in range(1, rounds + 1):
            n, e = f"n_{k}_{r}", f"e_{k}_{r}"
            ctes.append(f"""{n} AS MATERIALIZED (
              SELECT node FROM (
                SELECT a AS node FROM {prev} UNION ALL SELECT b FROM {prev}
              ) GROUP BY node HAVING count(*) >= {k}
            )""")
            ctes.append(f"""{e} AS MATERIALIZED (
              SELECT a, b FROM {prev}
              WHERE a IN (SELECT node FROM {n})
                AND b IN (SELECT node FROM {n})
            )""")
            prev = e
        survivors.append((k, prev))
    parts = ["SELECT a AS node, 0 AS k FROM e0"
             " UNION ALL SELECT b, 0 FROM e0"]
    for k, cte in survivors:
        parts.append(
            f"SELECT a AS node, {k} AS k FROM {cte}"
            f" UNION ALL SELECT b, {k} FROM {cte}"
        )
    union = " UNION ALL ".join(parts)
    return (
        ", ".join(ctes)
        + f""" SELECT node, CAST(max(k) AS BIGINT) AS coreness
               FROM ({union}) GROUP BY node"""
    )


def q_g27_coreness(spark, sf_dir):
    """Full coreness (shell index) decomposition of the symmetrized 5-NN
    embedding graph (graphstats.py:coreness): the textbook peel by
    increasing k, each level one degree count + two semi-joins per round
    over an only-shrinking edge set; the kNN substrate keeps the
    degeneracy single-digit so the oracle's fixed-point unroll stays
    bounded. Oracle = the ann_knn replay + _coreness_unroll."""
    from knowledgegraphbuilder_spark.operators.graphstats import coreness

    return coreness(_knn_edges(spark, sf_dir), src_col="src", dst_col="dst",
                    max_k=16)


def q_ml_knnclass(spark, sf_dir):
    """kNN majority-vote label classification over the 5-NN embedding
    graph: each vector takes the modal label of its neighbors
    (deterministic (count DESC, label ASC) tie-break as a max(struct)
    aggregate — never a sorted window over the corpus), scored against
    the true label. The kNN substrate is the same LSH-bucketed
    knn_graph as ann_knn, so the oracle composes its replay."""
    emb = _t(spark, sf_dir, "embeddings")
    knn = _knn_edges(spark, sf_dir)
    lab = emb.select(
        F.col("vec_id").cast("string").alias("dst"),
        F.col("label").alias("nlabel"),
    )
    votes = (
        knn.join(F.broadcast(lab), "dst")
        .groupBy(F.col("src").alias("id"), "nlabel")
        .agg(F.count("*").cast("long").alias("c"))
    )
    pred = votes.groupBy("id").agg(
        F.max(F.struct(F.col("c"), (-F.col("nlabel")).alias("nl"))).alias("b")
    ).select("id", (-F.col("b.nl")).cast("int").alias("pred"))
    truth = emb.select(
        F.col("vec_id").cast("string").alias("id"),
        F.col("label").cast("int").alias("label"),
    )
    return pred.join(truth, "id").select(
        "id", "label", "pred",
        (F.col("pred") == F.col("label")).cast("int").alias("correct"),
    )


def q_sql_percentrank(spark, sf_dir):
    """percent_rank + cume_dist of document length within each source
    over a TOTAL (n_chars, doc_id) order — tie-free by construction, so
    both engines' rank semantics coincide exactly; 6-dp doubles."""
    from pyspark.sql import Window as W

    d = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "source",
        F.col("n_chars").cast("long").alias("n_chars"),
    )
    w = W.partitionBy("source").orderBy("n_chars", "doc_id")
    return d.select(
        "doc_id", "source", "n_chars",
        F.round(F.percent_rank().over(w), 6).alias("pr"),
        F.round(F.cume_dist().over(w), 6).alias("cd"),
    )


def q_stream_lines(spark, sf_dir):
    """STREAMING line-level first-wins dedup under the value-exact gate:
    documents arrive as three doc_id-range files (time-ordered ingestion
    — the documented alignment requirement), each micro-batch explodes
    through the SAME dedup.line_explode expression as batch and
    first-wins-MERGEs its per-line winner into the keyed state table
    (streaming/ingest.py:run_line_dedup_available_now); the whole input
    REPLAYS against a fresh checkpoint (no-op), and the resolved per-doc
    stats (line_dedup_stats_from_state) equal batch dd_lines — so the
    dd_lines SQL oracle checks it directly."""
    import hashlib
    import shutil

    from knowledgegraphbuilder_spark.streaming.ingest import (
        line_dedup_stats_from_state, run_line_dedup_available_now,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    tag = hashlib.sha256(sf_dir.encode()).hexdigest()[:10]
    base = f"/tmp/kg_stream_lines_{tag}"
    shutil.rmtree(base, ignore_errors=True)
    n = docs.agg(F.max("doc_id")).first()[0]
    bounds = [0, n // 3, 2 * n // 3, n + 1]
    for i in range(3):
        (docs.filter((F.col("doc_id") >= bounds[i])
                     & (F.col("doc_id") < bounds[i + 1]))
         .coalesce(1).write.mode("overwrite").parquet(f"{base}/in/b{i}"))
    run_line_dedup_available_now(spark, f"{base}/in/*", f"{base}/st",
                                 f"{base}/ck")
    run_line_dedup_available_now(spark, f"{base}/in/*", f"{base}/st",
                                 f"{base}/ck2")
    return line_dedup_stats_from_state(
        spark, f"{base}/st", _t(spark, sf_dir, "documents")
    )


def q_ml_mlr(spark, sf_dir):
    """Two-feature closed-form regression per returnflag — price-cents on
    (quantity, discount-points) by Cramer normal equations
    (mlstats.py:grouped_ols2): one aggregate of exact decimal sufficient
    statistics, centered 2x2 solve in identical double formulas, no
    iteration."""
    from knowledgegraphbuilder_spark.operators.mlstats import grouped_ols2

    return grouped_ols2(
        _t(spark, sf_dir, "lineitem"),
        x1_expr="cast(l_quantity as bigint)",
        x2_expr="cast(floor(l_discount * 100) as bigint)",
        y_expr="cast(floor(l_extendedprice * 100) as bigint)",
        group_col="l_returnflag",
    )


def q_dd_soft(spark, sf_dir):
    """SoftDeDup-style duplication weights (the reweight-don't-remove
    alternative, DataComp-LM style): every doc gets weight 1/n_copies of
    its exact content group — repeated content contributes one unit of
    total mass instead of being dropped. One sha256 groupBy (map-side
    combinable count) broadcast-joined back; zero information loss."""
    d = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.sha2("text", 256).alias("h"),
    )
    grp = d.groupBy("h").agg(F.count("*").cast("long").alias("n_copies"))
    return d.join(grp, "h").select(
        "doc_id", "n_copies",
        F.round(F.lit(1.0) / F.col("n_copies"), 6).alias("weight"),
    )


def q_g29_richclub(spark, sf_dir):
    """Rich-club coefficient of the co-purchase graph at degree cutoffs
    k in {4, 8, 16, 32}: the density among nodes of degree > k —
    phi(k) = 2*E_k / (N_k * (N_k - 1)) — the do-the-hubs-club-together
    diagnostic. One degree count, then per-cutoff two semi-joins + a
    count; every quantity an exact integer until the final divide."""
    e = _copurchase_edges(spark, sf_dir).select(
        F.col("src").alias("a"), F.col("dst").alias("b")
    )
    deg = (
        e.select(F.col("a").alias("node"))
        .unionAll(e.select(F.col("b").alias("node")))
        .groupBy("node").agg(F.count("*").cast("long").alias("deg"))
    )
    out = None
    for k in (4, 8, 16, 32):
        rich = deg.filter(F.col("deg") > k).select("node")
        nk = rich.count()
        ek = (
            e.join(rich.withColumnRenamed("node", "a"), "a", "left_semi")
            .join(rich.withColumnRenamed("node", "b"), "b", "left_semi")
            .count()
        )
        row = spark.createDataFrame(
            [(k, nk, ek)], "k int, n_nodes long, n_edges long"
        ).selectExpr(
            "k", "n_nodes", "n_edges",
            "case when n_nodes > 1 then"
            " round(2.0d * n_edges / (cast(n_nodes as double)"
            " * (n_nodes - 1)), 6) end as phi",
        )
        out = row if out is None else out.unionByName(row)
    return out


def q_ml_histogram2d(spark, sf_dir):
    """2-D equi-width histogram over (quantity, discount-points) with
    data-driven bounds and a dense bins x bins shell (empty cells kept,
    the ml_histogram discipline applied jointly): one min/max broadcast
    row, one map-side-combinable cell count, one executor-side
    sequence() x sequence() shell explode."""
    b = 8
    d = _t(spark, sf_dir, "lineitem").selectExpr(
        "cast(l_quantity as double) as x",
        "cast(floor(l_discount * 100) as double) as y",
    )
    mm = d.agg(
        F.min("x").alias("xlo"), F.max("x").alias("xhi"),
        F.min("y").alias("ylo"), F.max("y").alias("yhi"),
    )
    cells = (
        d.crossJoin(F.broadcast(mm))
        .selectExpr(
            f"case when xhi > xlo then least(cast(floor((x - xlo) * {b}"
            f" / (xhi - xlo)) as int), {b - 1}) else 0 end as bx",
            f"case when yhi > ylo then least(cast(floor((y - ylo) * {b}"
            f" / (yhi - ylo)) as int), {b - 1}) else 0 end as by",
        )
        .groupBy("bx", "by")
        .agg(F.count("*").cast("long").alias("n"))
    )
    shell = spark.range(1).select(
        F.explode(F.expr(f"sequence(0, {b - 1})")).alias("bx")
    ).select(
        "bx", F.explode(F.expr(f"sequence(0, {b - 1})")).alias("by")
    )
    return shell.join(cells, ["bx", "by"], "left").select(
        "bx", "by", F.coalesce("n", F.lit(0)).cast("long").alias("n")
    )


def q_ml_roc(spark, sf_dir):
    """ROC curve points at decile thresholds of the score distribution —
    the curve behind ml_auc's scalar: cumulative TP/FP from the SAME
    distinct-score histogram window, sampled at ntile(10) boundaries so
    the output is 10 exact (threshold, tpr, fpr) rows regardless of
    corpus size. Integer counts until the final two divides."""
    from pyspark.sql import Window as W

    hist = (
        _t(spark, sf_dir, "documents")
        .selectExpr("cast(n_chars as bigint) as s",
                    "cast(lang = 'en' as int) as y")
        .groupBy("s")
        .agg(F.count("*").cast("long").alias("c"),
             F.sum("y").cast("long").alias("p"))
    )
    wc = W.orderBy(F.desc("s")).rowsBetween(W.unboundedPreceding, W.currentRow)
    tot = W.orderBy(F.lit(1)).rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing
    )
    cum = hist.select(
        F.col("s").alias("threshold"),
        F.sum("p").over(wc).cast("long").alias("tp"),
        (F.sum("c").over(wc) - F.sum("p").over(wc)).cast("long").alias("fp"),
        F.sum("p").over(tot).cast("long").alias("n_pos"),
        (F.sum("c").over(tot) - F.sum("p").over(tot)).cast("long")
        .alias("n_neg"),
        F.ntile(10).over(W.orderBy(F.desc("s"))).alias("dec"),
    )
    # last row of each decile = the decile's threshold point
    wd = W.partitionBy("dec").orderBy(F.asc("threshold"))
    return (
        cum.withColumn("rn", F.row_number().over(wd))
        .filter(F.col("rn") == 1)
        .selectExpr(
            "dec", "threshold", "tp", "fp",
            "round(cast(tp as double) / n_pos, 6) as tpr",
            "round(cast(fp as double) / n_neg, 6) as fpr",
        )
    )


def q_g30_degdist(spark, sf_dir):
    """Log2-binned degree distribution of the co-purchase graph — the
    heavy-tail diagnostic (is this graph scale-free enough to need skew
    handling?): one degree count, one integer log2 bucket (floor of the
    bit length), one map-side rollup."""
    e = _copurchase_edges(spark, sf_dir).select(
        F.col("src").alias("a"), F.col("dst").alias("b")
    )
    deg = (
        e.select(F.col("a").alias("node"))
        .unionAll(e.select(F.col("b").alias("node")))
        .groupBy("node").agg(F.count("*").cast("long").alias("deg"))
    )
    # log2 bin via EXACT integer arithmetic: floor(log2(d)) = len(bin(d))-1
    # (floor(ln(d)/ln(2)) misbins at exact powers of two — ln(8)/ln(2)
    # evaluates to 2.999... in IEEE double)
    binned = deg.selectExpr(
        "cast(length(bin(deg)) - 1 as int) as log2_bin"
    )
    return binned.groupBy("log2_bin").agg(
        F.count("*").cast("long").alias("n_nodes")
    )


def q_ts_heaps(spark, sf_dir):
    """Heaps'-law vocabulary growth curve at source granularity: sources
    in lexicographic order, cumulative token count vs cumulative distinct
    vocabulary — the companion corpus law to ts_zipf (sublinear vocab
    growth is what natural text does; linear growth flags id-spam).
    Cumulative distinct WITHOUT re-scanning prefixes: each word counts
    once at its FIRST source (argmin groupBy), then one window cumsum
    over the source-sized table."""
    from pyspark.sql import Window as W

    toks = (
        _t(spark, sf_dir, "documents")
        .select("source", F.explode(F.split("text", " ")).alias("w"))
        .filter(F.col("w") != "")
    )
    per_src = toks.groupBy("source").agg(
        F.count("*").cast("long").alias("n_tokens")
    )
    firsts = (
        toks.groupBy("w").agg(F.min("source").alias("source"))
        .groupBy("source").agg(F.count("*").cast("long").alias("n_first"))
    )
    w = W.orderBy("source").rowsBetween(W.unboundedPreceding, W.currentRow)
    return (
        per_src.join(firsts, "source", "left")
        .select("source", "n_tokens",
                F.coalesce("n_first", F.lit(0)).alias("n_first"))
        .select(
            "source",
            F.sum("n_tokens").over(w).cast("long").alias("tokens_cum"),
            F.sum("n_first").over(w).cast("long").alias("vocab_cum"),
        )
    )


def q_ml_ks(spark, sf_dir):
    """Exact two-sample Kolmogorov-Smirnov statistic between the same
    content-addressed halves as ml_psi: D = max |CDF_a - CDF_b| over the
    distinct-value histogram — integer cumulative counts, one |p - q|
    double per distinct value, argmax with a (D DESC, value ASC)
    tie-break. The binless companion to PSI."""
    from pyspark.sql import Window as W
    from knowledgegraphbuilder_spark.operators.curation import _H60

    side = (
        F.expr(_H60.format(
            s="concat('psi-v1', ',', cast(doc_id as string))"
        )) % 100 < 50
    )
    d = _t(spark, sf_dir, "documents").select(
        F.col("n_chars").cast("long").alias("v"),
        F.when(side, 1).otherwise(0).alias("a"),
    )
    hist = d.groupBy("v").agg(
        F.sum("a").cast("long").alias("ca"),
        F.sum(F.expr("1 - a")).cast("long").alias("cb"),
    )
    wc = W.orderBy("v").rowsBetween(W.unboundedPreceding, W.currentRow)
    tot = W.orderBy(F.lit(1)).rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing
    )
    cum = hist.select(
        "v",
        F.sum("ca").over(wc).cast("long").alias("cum_a"),
        F.sum("cb").over(wc).cast("long").alias("cum_b"),
        F.sum("ca").over(tot).cast("long").alias("n_a"),
        F.sum("cb").over(tot).cast("long").alias("n_b"),
    ).selectExpr(
        "v", "n_a", "n_b",
        "round(abs(cast(cum_a as double) / n_a"
        " - cast(cum_b as double) / n_b), 6) as gap",
    )
    return (
        cum.orderBy(F.desc("gap"), "v").limit(1)
        .selectExpr("n_a", "n_b", "gap as d_stat", "v as at_value")
    )


def q_ts_srcsim(spark, sf_dir):
    """Source-pair vocabulary Jaccard matrix — which shards speak the
    same language/domain (mixture design reads this): |A∩B| from one
    equi-join of the per-source DISTINCT word sets on word, |A∪B| by
    inclusion-exclusion from the per-source vocab sizes. Work is
    vocab-sized, output is source-pair-sized; exact integers until the
    final divide."""
    sv = (
        _t(spark, sf_dir, "documents")
        .select("source", F.explode(F.split("text", " ")).alias("w"))
        .filter(F.col("w") != "")
        .distinct()
    )
    sizes = sv.groupBy("source").agg(F.count("*").cast("long").alias("n"))
    a = sv.select(F.col("source").alias("src_a"), "w")
    b = sv.select(F.col("source").alias("src_b"), "w")
    inter = (
        a.join(b, "w")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count("*").cast("long").alias("n_inter"))
    )
    sa = sizes.select(F.col("source").alias("src_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col("source").alias("src_b"), F.col("n").alias("n_b"))
    return (
        inter.join(F.broadcast(sa), "src_a")
        .join(F.broadcast(sb), "src_b")
        .selectExpr(
            "src_a", "src_b", "n_inter", "n_a", "n_b",
            "round(cast(n_inter as double)"
            " / (n_a + n_b - n_inter), 6) as jaccard",
        )
    )


def q_kg_degprofile(spark, sf_dir):
    """Per-(node, rel_type) in/out degree profile of the knowledge graph
    — the KG-side analytics view (which entities hub which relation
    types). Two map-side combinable counts over the edge table,
    full-outer joined so pure sources/sinks both surface; oracle
    composes the kg_j2_edges replay."""
    e = _kg(spark, sf_dir).edges
    outd = e.groupBy(
        F.col("head_node_id").alias("node_id"), "rel_type"
    ).agg(F.count("*").cast("long").alias("out_deg"))
    ind = e.groupBy(
        F.col("tail_node_id").alias("node_id"), "rel_type"
    ).agg(F.count("*").cast("long").alias("in_deg"))
    return (
        outd.join(ind, ["node_id", "rel_type"], "full_outer")
        .selectExpr(
            "node_id", "rel_type",
            "coalesce(out_deg, 0L) as out_deg",
            "coalesce(in_deg, 0L) as in_deg",
        )
    )


def q_ts_burstiness(spark, sf_dir):
    """Goh-Barabasi burstiness index B = (sigma - mu) / (sigma + mu) of
    the per-type bucket-count series over the DENSE grid — the scalar
    companion to ts_autocorr (-1 regular, 0 Poisson, ->1 bursty).
    Exact integer sum/sumsq over the grid, population sigma in one fixed
    double formula, 6 dp."""
    from knowledgegraphbuilder_spark.operators.timeseries import (
        resample_events,
    )

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    grid = resample_events(_t(spark, sf_dir, "events")).select(
        "key", F.col("n_events").alias("x")
    )
    s = grid.groupBy("key").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum(F.expr("x * x")).cast("long").alias("sxx"),
    )
    return s.selectExpr(
        "key", "n",
        "case when sx > 0 then"
        " round((sqrt(cast(n as double) * sxx - cast(sx as double) * sx) / n"
        "        - cast(sx as double) / n)"
        "   / (sqrt(cast(n as double) * sxx - cast(sx as double) * sx) / n"
        "        + cast(sx as double) / n), 6)"
        " end as burstiness",
    )


def q_ml_effect(spark, sf_dir):
    """Cohen's d effect size of doc length between the same
    content-addressed halves as ml_psi/ml_ks: (mean_a - mean_b) /
    pooled_std, every moment from exact integer sums, one fixed double
    formula — the magnitude companion to the KS location test."""
    from knowledgegraphbuilder_spark.operators.curation import _H60

    side = (
        F.expr(_H60.format(
            s="concat('psi-v1', ',', cast(doc_id as string))"
        )) % 100 < 50
    )
    d = _t(spark, sf_dir, "documents").select(
        F.col("n_chars").cast("long").alias("v"),
        F.when(side, "a").otherwise("b").alias("side"),
    )
    s = d.groupBy("side").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("v").cast("long").alias("sv"),
        F.sum(F.expr("v * v")).cast("long").alias("svv"),
    )
    wide = s.groupBy().pivot("side", ["a", "b"]).agg(
        F.first("n").alias("n"), F.first("sv").alias("sv"),
        F.first("svv").alias("svv"),
    )
    # pooled variance from exact integers: ssq_x = svv - sv^2/n (per side)
    return wide.selectExpr(
        "a_n as n_a", "b_n as n_b",
        "round((cast(a_sv as double) / a_n - cast(b_sv as double) / b_n)"
        " / sqrt(((cast(a_svv as double) - cast(a_sv as double) * a_sv / a_n)"
        "  + (cast(b_svv as double) - cast(b_sv as double) * b_sv / b_n))"
        " / (a_n + b_n - 2)), 6) as cohens_d",
    )


def q_g31_reciprocity(spark, sf_dir):
    """Reciprocity of the directed co-purchase graph (the g23/g24
    substrate): fraction of directed edges whose reverse also exists —
    one self-equi-join on the flipped key, exact integer counts, one
    divide. The do-relations-flow-both-ways diagnostic for any directed
    KG export."""
    e = _directed_copurchase(spark, sf_dir).select("s", "d").distinct()
    rev = e.select(F.col("d").alias("s"), F.col("s").alias("d"))
    n_total = e.count()
    n_recip = e.join(rev, ["s", "d"], "left_semi").count()
    return spark.createDataFrame(
        [(n_total, n_recip)], "n_edges long, n_reciprocal long"
    ).selectExpr(
        "n_edges", "n_reciprocal",
        "round(cast(n_reciprocal as double) / n_edges, 6) as reciprocity",
    )


def q_sql_pareto(spark, sf_dir):
    """Pareto concentration: how few users produce 80% of revenue — per-
    user exact cents, (revenue DESC, user) total-order rank, running
    share, then the first rank crossing 0.8 (min-over-qualifying as an
    aggregate). The user-sized sort is one range exchange; everything
    else is scalar."""
    from pyspark.sql import Window as W

    per = (
        _t(spark, sf_dir, "events")
        .select("user_id",
                F.expr("cast(floor(value * 100) as bigint)").alias("cents"))
        .groupBy("user_id")
        .agg(F.sum("cents").cast("long").alias("rev"))
    )
    wc = W.orderBy(F.desc("rev"), "user_id").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    tot = W.orderBy(F.lit(1)).rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing
    )
    ranked = per.select(
        F.row_number().over(W.orderBy(F.desc("rev"), "user_id")).alias("rk"),
        F.sum("rev").over(wc).cast("long").alias("cum"),
        F.sum("rev").over(tot).cast("long").alias("tot"),
        F.count("*").over(tot).cast("long").alias("n_users"),
    )
    return ranked.filter(
        F.expr("cast(cum as double) / tot >= 0.8d")
    ).groupBy("n_users", "tot").agg(
        F.min("rk").cast("long").alias("users_for_80pct")
    ).selectExpr(
        "n_users", "tot as total_cents", "users_for_80pct",
        "round(cast(users_for_80pct as double) / n_users, 6)"
        " as frac_users",
    )


def q_kg_reltype_cooccur(spark, sf_dir):
    """Relation-type co-occurrence within documents: which relation types
    appear together in the same doc (schema-design/extraction-drift
    diagnostic). One distinct on (doc, rel_type), one a<b self-join on
    doc, one count — doc-type-sized work; oracle composes the kg edge
    replay."""
    dt = _kg(spark, sf_dir).edges.select("doc_id", "rel_type").distinct()
    a = dt.select("doc_id", F.col("rel_type").alias("rt_a"))
    b = dt.select("doc_id", F.col("rel_type").alias("rt_b"))
    return (
        a.join(b, "doc_id")
        .filter(F.col("rt_a") < F.col("rt_b"))
        .groupBy("rt_a", "rt_b")
        .agg(F.count("*").cast("long").alias("n_docs"))
    )


def q_ml_welch(spark, sf_dir):
    """Welch's t statistic (+ Welch-Satterthwaite df) for doc length
    between the content-addressed halves — the unequal-variance
    significance companion to ml_effect's magnitude. Exact integer
    moments, one fixed double formula, 6 dp."""
    from knowledgegraphbuilder_spark.operators.curation import _H60

    side = (
        F.expr(_H60.format(
            s="concat('psi-v1', ',', cast(doc_id as string))"
        )) % 100 < 50
    )
    d = _t(spark, sf_dir, "documents").select(
        F.col("n_chars").cast("long").alias("v"),
        F.when(side, "a").otherwise("b").alias("side"),
    )
    s = d.groupBy("side").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("v").cast("long").alias("sv"),
        F.sum(F.expr("v * v")).cast("long").alias("svv"),
    )
    wide = s.groupBy().pivot("side", ["a", "b"]).agg(
        F.first("n").alias("n"), F.first("sv").alias("sv"),
        F.first("svv").alias("svv"),
    )
    # sample variance s^2 = (svv - sv^2/n) / (n-1); se_i = s_i^2 / n_i
    sea = ("((cast(a_svv as double) - cast(a_sv as double) * a_sv / a_n)"
           " / (a_n - 1) / a_n)")
    seb = ("((cast(b_svv as double) - cast(b_sv as double) * b_sv / b_n)"
           " / (b_n - 1) / b_n)")
    return wide.selectExpr(
        "a_n as n_a", "b_n as n_b",
        f"round((cast(a_sv as double) / a_n - cast(b_sv as double) / b_n)"
        f" / sqrt({sea} + {seb}), 6) as t_stat",
        f"round(({sea} + {seb}) * ({sea} + {seb})"
        f" / ({sea} * {sea} / (a_n - 1) + {seb} * {seb} / (b_n - 1)), 6)"
        f" as df",
    )


def q_ml_ab(spark, sf_dir):
    """Two-proportion A/B test on purchase conversion between
    hash-assigned user halves: exact integer (users, converters) per
    arm, pooled-variance z statistic in one fixed double formula — the
    experiment-analysis primitive."""
    from knowledgegraphbuilder_spark.operators.curation import _H60

    e = _t(spark, sf_dir, "events").select(
        "user_id", (F.col("event_type") == "purchase").cast("int").alias("p")
    )
    per = e.groupBy("user_id").agg(
        F.max("p").cast("long").alias("converted")
    )
    arm = (
        F.expr(_H60.format(
            s="concat('ab-v1', ',', cast(user_id as string))"
        )) % 100 < 50
    )
    s = per.select(
        F.when(arm, "a").otherwise("b").alias("arm"), "converted"
    ).groupBy("arm").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("converted").cast("long").alias("c"),
    )
    wide = s.groupBy().pivot("arm", ["a", "b"]).agg(
        F.first("n").alias("n"), F.first("c").alias("c")
    )
    pool = "(cast(a_c + b_c as double) / (a_n + b_n))"
    return wide.selectExpr(
        "a_n as n_a", "a_c as conv_a", "b_n as n_b", "b_c as conv_b",
        "round(cast(a_c as double) / a_n, 6) as rate_a",
        "round(cast(b_c as double) / b_n, 6) as rate_b",
        # pool = 0 or 1 (nobody / everybody converts) zeroes the variance:
        # nullif -> null z on both engines instead of ANSI divide-by-zero
        f"round((cast(a_c as double) / a_n - cast(b_c as double) / b_n)"
        f" / nullif(sqrt({pool} * (1.0d - {pool})"
        f" * (1.0d / a_n + 1.0d / b_n)), 0.0d), 6) as z",
    )


def q_ts_bigram_entropy(spark, sf_dir):
    """Corpus bigram conditional entropy H(w2|w1)
    (textstats.py:bigram_cond_entropy) — predictability diagnostic;
    exact integer bigram/prefix counts, vocab-sized float sum."""
    from knowledgegraphbuilder_spark.operators.textstats import (
        bigram_cond_entropy,
    )

    return bigram_cond_entropy(_t(spark, sf_dir, "documents"))


def q_g32_ccsizes(spark, sf_dir):
    """Connected-component size distribution of the near-dup graph (the
    g4_cc substrate): component sizes then a size histogram — the
    dedup-cluster shape diagnostic (one giant component means the
    threshold is too loose). Two tiny rollups on top of CC; oracle
    composes the recursive-CTE g4_cc replay."""
    cc = q_g4_cc(spark, sf_dir)
    sizes = cc.groupBy("component").agg(
        F.count("*").cast("long").alias("size")
    )
    return sizes.groupBy("size").agg(
        F.count("*").cast("long").alias("n_components")
    )


def q_sql_wow(spark, sf_dir):
    """Week-over-week growth per event type: weekly counts, lag window,
    exact-int ratio minus 1 (6 dp; first week null) — the canonical
    trend query, one grouped count + one tiny per-type window."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    from pyspark.sql import Window as W

    wk = (
        _t(spark, sf_dir, "events")
        .select("event_type",
                F.date_trunc("week", F.col("ts")).cast("date").alias("wk"))
        .groupBy("event_type", "wk")
        .agg(F.count("*").cast("long").alias("n"))
    )
    w = W.partitionBy("event_type").orderBy("wk")
    return wk.select(
        "event_type",
        F.date_format("wk", "yyyy-MM-dd").alias("week"),
        "n",
        F.lag("n").over(w).alias("prev_n"),
    ).selectExpr(
        "event_type", "week", "n",
        "cast(prev_n as bigint) as prev_n",
        "case when prev_n > 0 then"
        " round(cast(n as double) / prev_n - 1.0d, 6) end as wow_growth",
    )


def q_ml_mannwhitney(spark, sf_dir):
    """Tie-corrected Mann-Whitney U (mlstats.py:mann_whitney) on doc
    length between the content-addressed halves — the nonparametric
    location test beside ml_welch's t; doubled-midrank integers end to
    end, one fixed double z formula."""
    from knowledgegraphbuilder_spark.operators.curation import _H60
    from knowledgegraphbuilder_spark.operators.mlstats import mann_whitney

    d = _t(spark, sf_dir, "documents").select(
        F.col("n_chars").cast("long").alias("v"),
        (
            F.expr(_H60.format(
                s="concat('mwu-v1', ',', cast(doc_id as string))"
            )) % 100 < 50
        ).cast("int").alias("y"),
    )
    return mann_whitney(d, score_expr="v", side_expr="y")


def q_ml_spearman(spark, sf_dir):
    """Spearman rank correlation (mlstats.py:spearman) between doc
    char length and whitespace token count — the outlier-robust
    association check; midranks via histogram windows (never a
    corpus-sized rank), exact decimal sufficient stats."""
    from knowledgegraphbuilder_spark.operators.mlstats import spearman

    d = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    return spearman(
        d,
        x_expr="cast(n_chars as bigint)",
        y_expr="cast(size(filter(split(text, ' '), t -> t != '')) as bigint)",
    )


def q_dd_editdist(spark, sf_dir):
    """Edit-distance-1 near-dup recovery (dedup.py:editdist1_pairs —
    SymSpell delete-1 blocking + exact levenshtein verify): plants
    one-char-substitution typo copies of a content-addressed ~8% doc
    sample (the dd_rewrite planting discipline), then the operator must
    recover exactly the planted pairs plus any organic distance<=1 key
    collisions. ASCII keys, length >= 8 (both are the operator's
    documented contract)."""
    from knowledgegraphbuilder_spark.operators.curation import _H60
    from knowledgegraphbuilder_spark.operators.dedup import editdist1_pairs

    base = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select(
            F.col("doc_id").cast("string").alias("doc_id"),
            F.expr("substring(text, 1, 48)").alias("key"),
        )
        .filter(F.expr("length(key) >= 8 and key rlike '^[ -~]+$'"))
    )
    h = F.expr(_H60.format(s="concat('ed1-v1', ',', doc_id)"))
    # pos derives from the SAME hash the sample draw used
    planted = (
        base.filter(h % 100 < 8)
        .withColumn("pos", (h % F.expr("length(key)") + 1).cast("int"))
        .select(
            F.concat(F.lit("typo-"), F.col("doc_id")).alias("doc_id"),
            F.expr(
                "concat(substring(key, 1, pos - 1), "
                "case when substring(key, pos, 1) = 'q' then 'z' "
                "else 'q' end, substring(key, pos + 1))"
            ).alias("key"),
        )
    )
    corpus = base.unionAll(planted)
    return editdist1_pairs(corpus, key_col="key", id_col="doc_id")


def q_kg_metapaths(spark, sf_dir):
    """2-hop metapath census over the KG: distinct node paths
    a -[rt1]-> b -[rt2]-> c with a != c, counted by (rt1, rt2) — the
    schema-navigation profile that tells a query planner which typed
    joins are worth indexing. Pre-distincts typed edges before the
    mid-node equi-join (instance multiplicity must not inflate path
    counts); mid-node skew is the documented hazard at scale (salt or
    cap hub nodes — the canonicalize.py discipline)."""
    e = (
        _kg(spark, sf_dir).edges
        .select("head_node_id", "tail_node_id", "rel_type")
        .distinct()
    )
    e1 = e.select(
        F.col("head_node_id").alias("a"),
        F.col("tail_node_id").alias("b"),
        F.col("rel_type").alias("rt1"),
    )
    e2 = e.select(
        F.col("head_node_id").alias("b"),
        F.col("tail_node_id").alias("c"),
        F.col("rel_type").alias("rt2"),
    )
    return (
        e1.join(e2, "b")
        .filter(F.col("a") != F.col("c"))
        .select("a", "b", "c", "rt1", "rt2")
        .distinct()
        .groupBy("rt1", "rt2")
        .agg(F.count("*").cast("long").alias("n_paths"))
    )


def q_ts_cusum(spark, sf_dir):
    """CUSUM changepoint per event type
    (timeseries.py:cusum_changepoint): zero-filled daily grid,
    scaled-integer cumulative deviation (n_i*D - T stays BIGINT), peak
    day + normalized displacement score."""
    from knowledgegraphbuilder_spark.operators.timeseries import (
        cusum_changepoint,
    )

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return cusum_changepoint(_t(spark, sf_dir, "events"))


def q_sql_transitions(spark, sf_dir):
    """Per-user event-type Markov transition matrix: LEAD over each
    user's (ts, event_id)-ordered stream, exact transition counts, and
    the row-normalized probability as one exact-int ratio (6 dp) — the
    behavioral-model substrate (mm_transitions' cross-doc cousin)."""
    from pyspark.sql import Window as W

    e = _t(spark, sf_dir, "events").select("user_id", "ts", "event_id",
                                           "event_type")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    tr = e.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).filter(F.col("to_type").isNotNull())
    cnt = tr.groupBy("from_type", "to_type").agg(
        F.count("*").cast("long").alias("n")
    )
    wrow = W.partitionBy("from_type")
    return cnt.select(
        "from_type",
        "to_type",
        "n",
        F.round(
            F.col("n") / F.sum("n").over(wrow).cast("double"), 6
        ).alias("p"),
    )


def q_ts_ewma(spark, sf_dir):
    """Exact binary-decay EWMA of daily event counts per type
    (timeseries.py:ewma_daily): power-of-two weights keep S and W exact
    BIGINTs; the scatter formulation replaces a banded self-join with a
    constant 32x map-side fan-out + one groupBy."""
    from knowledgegraphbuilder_spark.operators.timeseries import ewma_daily

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return ewma_daily(_t(spark, sf_dir, "events"))


def q_sql_scd2(spark, sf_dir):
    """SCD Type-2 history build: each user's event-type regime as
    versioned validity intervals — keep change points (event_type !=
    LAG), then valid_to = LEAD(valid_from) with the open current row
    null; version = change index. The warehouse dimension-history
    pattern, built from two per-user windows and zero self-joins."""
    from pyspark.sql import Window as W

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    e = _t(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    marked = e.select(
        "user_id", "ts", "event_id", "event_type",
        F.lag("event_type").over(w).alias("prev_type"),
    ).filter(
        F.col("prev_type").isNull()
        | (F.col("event_type") != F.col("prev_type"))
    )
    w2 = W.partitionBy("user_id").orderBy("ts", "event_id")
    return marked.select(
        "user_id",
        F.col("event_type").alias("segment"),
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS")
        .alias("valid_from"),
        F.date_format(
            F.lead("ts").over(w2), "yyyy-MM-dd HH:mm:ss.SSSSSS"
        ).alias("valid_to"),
        F.row_number().over(w2).cast("long").alias("version"),
        (F.lead("ts").over(w2).isNull()).cast("int").alias("is_current"),
    )


def q_ml_jsd(spark, sf_dir):
    """Jensen-Shannon divergence between the content-addressed halves'
    unigram distributions (textstats.py:jsd_split) — the symmetric
    bounded drift measure beside ts_kl; one conditional-sum groupBy,
    no join."""
    from knowledgegraphbuilder_spark.operators.curation import _H60
    from knowledgegraphbuilder_spark.operators.textstats import jsd_split

    d = _t(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    ).select(
        "text",
        F.when(
            F.expr(_H60.format(
                s="concat('jsd-v1', ',', cast(doc_id as string))"
            )) % 100 < 50,
            "a",
        ).otherwise("b").alias("side"),
    )
    return jsd_split(d)


def q_ml_mi(spark, sf_dir):
    """Mutual information (nats) between doc source and language: exact
    integer contingency + marginals via window sums over the
    cell-cardinality table, one fixed double summand, 6 dp — the
    categorical-dependence measure behind feature selection (ml_chi2's
    information-theoretic sibling)."""
    from pyspark.sql import Window as W

    ct = (
        _t(spark, sf_dir, "documents")
        .groupBy("source", "lang")
        .agg(F.count("*").cast("long").alias("c"))
    )
    wx = W.partitionBy("source")
    wy = W.partitionBy("lang")
    wall = W.partitionBy()
    cells = ct.select(
        "source", "lang", "c",
        F.sum("c").over(wx).cast("long").alias("cx"),
        F.sum("c").over(wy).cast("long").alias("cy"),
        F.sum("c").over(wall).cast("long").alias("n"),
    )
    return (
        cells.groupBy()
        .agg(
            F.max("n").cast("long").alias("n"),
            F.count("*").cast("long").alias("n_cells"),
            F.sum(
                F.expr(
                    "(cast(c as double) / n)"
                    " * ln(cast(c as double) * n"
                    "      / (cast(cx as double) * cy))"
                )
            ).alias("s"),
        )
        .selectExpr("n", "n_cells", "round(s, 6) as mi")
    )


def q_ml_kendall(spark, sf_dir):
    """Kendall tau-b (mlstats.py:kendall_tau) between doc char length
    and token count over a content-addressed ~20% sample — pair
    concordance is O(s^2) by nature, so the quadratic work is
    sample-sized and opt-in (the ml_knnclass discipline); tie pairs
    from linear histograms."""
    from knowledgegraphbuilder_spark.operators.curation import _H60
    from knowledgegraphbuilder_spark.operators.mlstats import kendall_tau

    d = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .filter(
            F.expr(_H60.format(
                s="concat('kt-v1', ',', cast(doc_id as string))"
            )) % 100 < 20
        )
    )
    return kendall_tau(
        d,
        x_expr="cast(n_chars as bigint)",
        y_expr="cast(size(filter(split(text, ' '), t -> t != ''))"
               " as bigint)",
        id_expr="cast(doc_id as string)",
    )


def q_ml_bootstrap(spark, sf_dir):
    """Poisson-bootstrap CI of mean doc length
    (mlstats.py:poisson_bootstrap_mean): per-row Poisson(1) replicate
    weights from a content hash via an integer-threshold CASE ladder —
    the coordination-free distributed bootstrap; B=32 replicate means,
    2nd-smallest/2nd-largest interval."""
    from knowledgegraphbuilder_spark.operators.mlstats import (
        poisson_bootstrap_mean,
    )

    return poisson_bootstrap_mean(
        _t(spark, sf_dir, "documents"),
        value_expr="cast(n_chars as bigint)",
        id_expr="cast(doc_id as string)",
    )


def q_kg_typed_triangles(spark, sf_dir):
    """Directed typed-triangle motif census over the KG: 3-cycles
    a -[rt1]-> b -[rt2]-> c -[rt3]-> a counted once per node triple by
    anchoring the rotation at the smallest node id (a < b, a < c), then
    grouped by the anchored relation-type triple — the semantic-motif
    profile (e.g. works_at -> located_in -> employs loops flag schema
    redundancy). Distinct typed edges first (kg_metapaths discipline);
    wedge join + closing-edge equi-join, never a 3-way cross."""
    e = (
        _kg(spark, sf_dir).edges
        .select("head_node_id", "tail_node_id", "rel_type")
        .distinct()
    )
    e1 = e.select(F.col("head_node_id").alias("a"),
                  F.col("tail_node_id").alias("b"),
                  F.col("rel_type").alias("rt1"))
    e2 = e.select(F.col("head_node_id").alias("b"),
                  F.col("tail_node_id").alias("c"),
                  F.col("rel_type").alias("rt2"))
    e3 = e.select(F.col("head_node_id").alias("c"),
                  F.col("tail_node_id").alias("a"),
                  F.col("rel_type").alias("rt3"))
    wedges = e1.join(e2, "b").filter(
        (F.col("a") < F.col("b")) & (F.col("a") < F.col("c"))
    )
    tris = wedges.join(e3, ["c", "a"]).select(
        "a", "b", "c", "rt1", "rt2", "rt3"
    ).distinct()
    return tris.groupBy("rt1", "rt2", "rt3").agg(
        F.count("*").cast("long").alias("n_triangles")
    )


def q_ml_lift(spark, sf_dir):
    """Gains/lift chart of doc length as a predictor of lang = 'en':
    population deciles by (score desc, doc_id) total order, exact
    integer positives per decile, cumulative gain and per-decile lift
    as exact-int ratios (6 dp) — the campaign-targeting view of the
    same ranking ml_auc scores by threshold.

    The decile is ``functions/rank.py:global_rank`` over (score desc,
    doc_id) and its ``ntile(10)`` replay."""
    from pyspark.sql import Window as W

    from knowledgegraphbuilder_spark.functions.rank import global_rank, ntile

    d = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.col("n_chars").cast("long").alias("s"),
        F.expr("cast(lang = 'en' as int)").cast("long").alias("y"),
    )
    deciled = global_rank(d, F.desc("s"), "doc_id").select(
        "y", ntile("rank", "n", 10).cast("long").alias("decile")
    )
    per = deciled.groupBy("decile").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("y").cast("long").alias("pos"),
    )
    wc = W.orderBy("decile").rowsBetween(W.unboundedPreceding, 0)
    wall = W.partitionBy()
    return per.select(
        "decile",
        "n",
        "pos",
        F.sum("pos").over(wc).cast("long").alias("cum_pos"),
        F.round(
            F.sum("pos").over(wc)
            / F.sum("pos").over(wall).cast("double"), 6
        ).alias("gain"),
        F.round(
            (F.col("pos") / F.col("n").cast("double"))
            / (F.sum("pos").over(wall)
               / F.sum("n").over(wall).cast("double")), 6
        ).alias("lift"),
    )


def q_ts_runs(spark, sf_dir):
    """Wald-Wolfowitz runs test for randomness of each event type's
    daily rate: sign = daily count above/below the type's median-free
    pivot (the mean, kept exact as n_i*D vs T), runs counted as sign
    changes + 1 via LAG over the dense grid, z from the exact (n_plus,
    n_minus, runs) integers in one fixed double formula — the
    trend/oscillation diagnostic beside ts_burstiness (which only sees
    inter-event gaps)."""
    from pyspark.sql import Window as W

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    e = _t(spark, sf_dir, "events").select(
        F.col("event_type").alias("key"),
        F.expr("unix_micros(cast(ts as timestamp)) div 86400000000")
        .alias("bkt"),
    )
    agg = e.groupBy("key", "bkt").agg(
        F.count("*").cast("long").alias("n")
    )
    bounds = agg.groupBy("key").agg(
        F.min("bkt").alias("lo"), F.max("bkt").alias("hi")
    )
    grid = bounds.select(
        "key", F.explode(F.expr("sequence(lo, hi)")).alias("bkt")
    )
    dense = grid.join(agg, ["key", "bkt"], "left").select(
        "key", "bkt", F.coalesce("n", F.lit(0)).cast("long").alias("n")
    )
    wk = W.partitionBy("key")
    # sign of n_i*D - T (exact integers; zero counts as below)
    signed = dense.select(
        "key", "bkt",
        (
            (F.col("n") * F.count("*").over(wk))
            > F.sum("n").over(wk)
        ).cast("int").alias("s"),
    )
    wo = W.partitionBy("key").orderBy("bkt")
    runs = signed.select(
        "key", "s",
        F.when(
            F.lag("s").over(wo).isNull()
            | (F.lag("s").over(wo) != F.col("s")),
            1,
        ).otherwise(0).alias("newrun"),
    )
    st = runs.groupBy("key").agg(
        F.sum("s").cast("long").alias("n_plus"),
        (F.count("*") - F.sum("s")).cast("long").alias("n_minus"),
        F.sum("newrun").cast("long").alias("runs"),
    )
    # E[R] = 2ab/(a+b) + 1; Var = 2ab(2ab-a-b) / ((a+b)^2 (a+b-1))
    mu = "(2.0d * n_plus * n_minus / (n_plus + n_minus) + 1.0d)"
    var = ("(2.0d * n_plus * n_minus"
           " * (2.0d * n_plus * n_minus - n_plus - n_minus)"
           " / (cast(n_plus + n_minus as double)"
           "    * (n_plus + n_minus)"
           "    * (n_plus + n_minus - 1.0d)))")
    return st.selectExpr(
        "key as event_type", "n_plus", "n_minus", "runs",
        f"round((runs - {mu}) / nullif(sqrt({var}), 0.0d), 6) as z",
    )


def q_sql_pathfunnel(spark, sf_dir):
    """Top 3-step event paths: consecutive (e1 -> e2 -> e3) triples per
    user via two LEADs over the (ts, event_id) order, exact path counts,
    share of all triples (6 dp), top 20 by (count desc, path) — the
    sequential-pattern census behind funnel design (sql_funnel checks a
    FIXED path; this discovers which paths exist)."""
    from pyspark.sql import Window as W

    e = _t(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    tri = e.select(
        F.col("event_type").alias("e1"),
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    ).filter(F.col("e3").isNotNull())
    cnt = tri.groupBy("e1", "e2", "e3").agg(
        F.count("*").cast("long").alias("n")
    )
    wall = W.partitionBy()
    ranked = cnt.select(
        "e1", "e2", "e3", "n",
        F.round(F.col("n") / F.sum("n").over(wall).cast("double"), 6)
        .alias("share"),
        F.row_number().over(
            W.orderBy(F.col("n").desc(), "e1", "e2", "e3")
        ).cast("long").alias("rk"),
    )
    return ranked.filter(F.col("rk") <= 20).select(
        "rk", "e1", "e2", "e3", "n", "share"
    )


def q_ml_cramersv(spark, sf_dir):
    """Cramer's V association between doc source and language: chi2
    over the full contingency INCLUDING zero cells via the closed form
    chi2 = n + sum_observed((o*n - cx*cy)^2 / (n*cx*cy) - cx*cy/n) —
    the unobserved cells' contribution is their expected mass, folded
    in analytically instead of generating r*c zero rows. Exact integer
    (o, cx, cy, n); one fixed double formula, 6 dp."""
    from pyspark.sql import Window as W

    ct = (
        _t(spark, sf_dir, "documents")
        .groupBy("source", "lang")
        .agg(F.count("*").cast("long").alias("c"))
    )
    cells = ct.select(
        "source", "lang", "c",
        F.sum("c").over(W.partitionBy("source")).cast("long").alias("cx"),
        F.sum("c").over(W.partitionBy("lang")).cast("long").alias("cy"),
        F.sum("c").over(W.partitionBy()).cast("long").alias("n"),
    )
    st = cells.groupBy().agg(
        F.max("n").cast("long").alias("n"),
        F.countDistinct("source").cast("long").alias("r"),
        F.countDistinct("lang").cast("long").alias("cc"),
        F.sum(
            F.expr(
                "(cast(c as double) * n - cast(cx as double) * cy)"
                " * (cast(c as double) * n - cast(cx as double) * cy)"
                " / (cast(n as double) * cx * cy)"
                " - cast(cx as double) * cy / n"
            )
        ).alias("adj"),
    )
    return st.selectExpr(
        "n", "r", "cc as c",
        "round(n + adj, 6) as chi2",
        "round(sqrt((n + adj) / (cast(n as double)"
        " * (least(r, cc) - 1))), 6) as cramers_v",
    )


def q_stream_cusum(spark, sf_dir):
    """STREAMING changepoint-state maintenance: the daily-bucket
    resample fold (streaming/ingest.py:run_resample_available_now at
    bucket_us=1 day — per-bucket counts are a commutative monoid, so no
    batch-alignment requirement), replayed against a fresh checkpoint
    to prove MERGE idempotency, then read_cusum runs the identical
    densify + scaled-integer CUSUM plan as batch ts_cusum — which is
    why the ts_cusum SQL oracle checks it directly."""
    import hashlib
    import shutil

    from knowledgegraphbuilder_spark.streaming.ingest import (
        read_cusum, run_resample_available_now,
    )

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = _t(spark, sf_dir, "events")
    tag = hashlib.sha256(sf_dir.encode()).hexdigest()[:10]
    base = f"/tmp/kg_stream_cusum_{tag}"
    shutil.rmtree(base, ignore_errors=True)
    n = ev.agg(F.max("event_id")).first()[0]
    bounds = [0, n // 3, 2 * n // 3, n + 1]
    for i in range(3):
        (ev.filter((F.col("event_id") >= bounds[i])
                   & (F.col("event_id") < bounds[i + 1]))
         .coalesce(1).write.mode("overwrite").parquet(f"{base}/in/b{i}"))
    run_resample_available_now(
        spark, f"{base}/in/*", f"{base}/st", f"{base}/ck",
        bucket_us=86_400_000_000,
    )
    run_resample_available_now(
        spark, f"{base}/in/*", f"{base}/st", f"{base}/ck2",
        bucket_us=86_400_000_000,
    )
    return read_cusum(spark, f"{base}/st")


def q_dd_crossdedup(spark, sf_dir):
    """Cross-corpus incremental dedup (dedup.py:cross_dedup): a
    content-addressed ~30% incoming shard deduplicated AGAINST the
    ~70% base corpus — exact sha semi-join + cross-side-only verified
    MinHash-LSH near-dups; intra-shard dups are kept by policy. The
    production arrival-shard shape stream_dedup approximates one doc
    at a time."""
    from knowledgegraphbuilder_spark.operators.curation import _H60
    from knowledgegraphbuilder_spark.operators.dedup import cross_dedup

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", "text",
        F.when(
            F.expr(_H60.format(
                s="concat('xd-v1', ',', cast(doc_id as string))"
            )) % 100 < 70,
            "base",
        ).otherwise("in").alias("side"),
    )
    return cross_dedup(d)


def q_sk_kmv(spark, sf_dir):
    """KMV distinct-user sketch (sketches.py:kmv_estimate): k smallest
    60-bit hashes, (k-1)*2^60/h_k estimator, exact below k — the
    order-statistics cousin of sk_hll; top-k plans as
    TakeOrderedAndProject, never a full sort."""
    from knowledgegraphbuilder_spark.operators.sketches import kmv_estimate

    return kmv_estimate(_t(spark, sf_dir, "events"), "user_id", k=256)


def q_stream_kmv(spark, sf_dir):
    """STREAMING KMV fold under the value-exact gate: per-micro-batch
    k-min hash sets land via content-keyed replace-MERGE
    (streaming/ingest.py:run_kmv_available_now), the input replays
    against a fresh checkpoint, and read_kmv's distinct + re-top-k
    equals the batch sketch (union of per-batch k-min sets is a
    superset of the global k-min set) — so the sk_kmv SQL oracle
    checks it directly."""
    import hashlib
    import shutil

    from knowledgegraphbuilder_spark.streaming.ingest import (
        read_kmv, run_kmv_available_now,
    )

    ev = _t(spark, sf_dir, "events")
    tag = hashlib.sha256(sf_dir.encode()).hexdigest()[:10]
    base = f"/tmp/kg_stream_kmv_{tag}"
    shutil.rmtree(base, ignore_errors=True)
    n = ev.agg(F.max("event_id")).first()[0]
    bounds = [0, n // 3, 2 * n // 3, n + 1]
    for i in range(3):
        (ev.filter((F.col("event_id") >= bounds[i])
                   & (F.col("event_id") < bounds[i + 1]))
         .coalesce(1).write.mode("overwrite").parquet(f"{base}/in/b{i}"))
    run_kmv_available_now(spark, f"{base}/in/*", f"{base}/st", f"{base}/ck")
    run_kmv_available_now(spark, f"{base}/in/*", f"{base}/st", f"{base}/ck2")
    return read_kmv(spark, f"{base}/st", ev)


def q_ts_oov(spark, sf_dir):
    """Out-of-vocabulary rate of the incoming half against the base
    half's vocabulary — the tokenizer/domain-shift diagnostic (JSD says
    'the mix moved'; OOV says 'these are words the base never saw').
    Token AND type rates; the vocab membership is one left-anti-style
    join of in-half words against the base DISTINCT vocab
    (vocab-sized, broadcast-able), exact integer counts, 6 dp."""
    from knowledgegraphbuilder_spark.operators.curation import _H60

    toks = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select(
            F.when(
                F.expr(_H60.format(
                    s="concat('oov-v1', ',', cast(doc_id as string))"
                )) % 100 < 50,
                "base",
            ).otherwise("in").alias("side"),
            F.explode(F.split("text", " ")).alias("w"),
        )
        .filter(F.col("w") != "")
    )
    vocab = (
        toks.filter(F.col("side") == "base").select("w").distinct()
        .withColumn("known", F.lit(1))
    )
    inw = toks.filter(F.col("side") == "in").groupBy("w").agg(
        F.count("*").cast("long").alias("c")
    )
    j = inw.join(vocab, "w", "left")
    return j.groupBy().agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.sum(F.when(F.col("known").isNull(), F.col("c")).otherwise(0))
        .cast("long").alias("n_oov"),
        F.count("*").cast("long").alias("n_types"),
        F.sum(F.when(F.col("known").isNull(), 1).otherwise(0))
        .cast("long").alias("n_oov_types"),
    ).selectExpr(
        "n_tokens", "n_oov",
        "round(cast(n_oov as double) / n_tokens, 6) as oov_rate",
        "n_types", "n_oov_types",
        "round(cast(n_oov_types as double) / n_types, 6) as type_oov_rate",
    )


def q_kg_entity_pmi(spark, sf_dir):
    """Top entity-pair PMI over document co-occurrence: distinct
    (doc, node) membership from the KG edge endpoints, a < b pair join
    on doc (doc-entity-set-sized, the kg_reltype_cooccur shape), exact
    integer (n12, n1, n2, N), PMI = ln(n12*N/(n1*n2)) as one fixed
    double formula; pairs with n12 >= 3, top 50 by (pmi desc, pair) —
    the KG's answer to ts_pmi's token collocations."""
    from pyspark.sql import Window as W

    e = _kg(spark, sf_dir).edges
    mem = (
        e.selectExpr("doc_id", "head_node_id as node")
        .unionAll(e.selectExpr("doc_id", "tail_node_id as node"))
        .distinct()
    )
    nd = mem.groupBy("node").agg(F.count("*").cast("long").alias("nd"))
    ndocs = mem.select("doc_id").distinct().count()
    a = mem.selectExpr("doc_id", "node as e1")
    b = mem.selectExpr("doc_id", "node as e2")
    pairs = (
        a.join(b, "doc_id")
        .filter(F.col("e1") < F.col("e2"))
        .groupBy("e1", "e2")
        .agg(F.count("*").cast("long").alias("n12"))
        .filter(F.col("n12") >= 3)
    )
    scored = (
        pairs.join(nd.selectExpr("node as e1", "nd as n1"), "e1")
        .join(nd.selectExpr("node as e2", "nd as n2"), "e2")
        .selectExpr(
            "e1", "e2", "n12", "n1", "n2",
            f"round(ln(cast(n12 as double) * {int(ndocs)}"
            f" / (cast(n1 as double) * n2)), 6) as pmi",
        )
    )
    ranked = scored.withColumn(
        "rk",
        F.row_number().over(
            W.orderBy(F.col("pmi").desc(), "e1", "e2")
        ).cast("long"),
    )
    return ranked.filter(F.col("rk") <= 50).select(
        "rk", "e1", "e2", "n12", "n1", "n2", "pmi"
    )


def q_mm_audit(spark, sf_dir):
    """Span-sequence integrity audit — the north-rule invariant (kind,
    text, media_ref, order) as a QUERY: per doc, span offsets must be
    non-decreasing in span order and the ordered concatenation of text
    spans must reassemble the original document byte-identically.
    Output is one row of violation counts (all zero on a healthy
    table); ordered reassembly uses sort_array(collect_list(struct(p,
    text))) so the concat order is deterministic, never
    collect-order-dependent."""
    spans = _spans_cached(spark, sf_dir)
    ex = spans.select(
        "doc_id", F.posexplode("spans").alias("p", "s")
    ).select(
        "doc_id", "p", F.col("s.kind").alias("kind"),
        F.col("s.text").alias("txt"), F.col("s.offset").alias("off"),
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("doc_id").orderBy("p")
    flags = ex.select(
        "doc_id", "kind",
        F.when(
            F.lag("off").over(w).isNotNull()
            & (F.col("off") < F.lag("off").over(w)),
            1,
        ).otherwise(0).alias("viol"),
    )
    rebuilt = (
        ex.filter(F.col("kind") == "text")
        .groupBy("doc_id")
        .agg(
            F.expr(
                "concat_ws('', transform(sort_array(collect_list("
                "struct(p, txt))), x -> x.txt))"
            ).alias("rebuilt")
        )
    )
    orig = _t(spark, sf_dir, "documents").select(
        F.concat(F.lit("doc_"), F.col("doc_id").cast("string"))
        .alias("doc_id"),
        F.col("text").alias("orig"),
    )
    mism = rebuilt.join(orig, "doc_id").select(
        F.when(F.col("rebuilt") != F.col("orig"), 1).otherwise(0)
        .alias("mm")
    )
    a = flags.agg(
        F.countDistinct("doc_id").cast("long").alias("n_docs"),
        F.count("*").cast("long").alias("n_spans"),
        F.sum(F.expr("cast(kind != 'text' as int)")).cast("long")
        .alias("n_media_spans"),
        F.sum("viol").cast("long").alias("n_offset_violations"),
    )
    b = mism.agg(
        F.sum("mm").cast("long").alias("n_reassembly_mismatches")
    )
    return a.crossJoin(F.broadcast(b))


def q_kg_wcc(spark, sf_dir):
    """Weakly-connected-component size distribution of the knowledge
    graph (large/small-star CC over the undirected edge view) — the
    KG fragmentation diagnostic (one giant component = healthy linking;
    many shards = entity resolution failed). Oracle replays the
    recursive min-label reach over the kg edge replay."""
    e = _kg(spark, sf_dir).edges.select(
        F.col("head_node_id").alias("src"),
        F.col("tail_node_id").alias("dst"),
    )
    cc = connected_components(e)
    sizes = cc.groupBy("component").agg(
        F.count("*").cast("long").alias("size")
    )
    return sizes.groupBy("size").agg(
        F.count("*").cast("long").alias("n_components")
    )


def q_ts_langconfusion(spark, sf_dir):
    """Confusion matrix of the stopword-vote language heuristic
    (textstats.py:language_id) against the documents table's true lang
    labels, with per-true-class recall share — the honest quality
    report for the langid operator itself (ml_f1 evaluates Naive
    Bayes; this evaluates ts_langid). Exact integer cells, one window
    per true class."""
    from pyspark.sql import Window as W

    from knowledgegraphbuilder_spark.operators.textstats import language_id

    docs = _t(spark, sf_dir, "documents")
    pred = language_id(docs)
    truth = docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.col("lang").alias("true_lang"),
    )
    ct = (
        pred.join(truth, "doc_id")
        .groupBy("true_lang", "pred_lang")
        .agg(F.count("*").cast("long").alias("n"))
    )
    w = W.partitionBy("true_lang")
    return ct.select(
        "true_lang", "pred_lang", "n",
        F.round(F.col("n") / F.sum("n").over(w).cast("double"), 6)
        .alias("recall_share"),
    )


def q_ml_permtest(spark, sf_dir):
    """Randomization test for the en-vs-rest doc-length difference: 64
    deterministic relabelings (side_r = hash(salt, r, id) % n < n1 —
    modulo arithmetic, no float threshold, no overflow), each
    replicate's mean difference from exact conditional integer sums;
    p = (1 + #{|diff_r| >= |obs|}) / (B + 1). The ml_bootstrap
    discipline applied to significance: a constant 64x scatter + one
    groupBy(replicate), coordination-free and replayable."""
    from knowledgegraphbuilder_spark.operators.curation import _H60

    b = 64
    d = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("id"),
        F.col("n_chars").cast("long").alias("v"),
        F.expr("cast(lang = 'en' as int)").cast("long").alias("y"),
    )
    tot = d.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("y").cast("long").alias("n1"),
        F.sum("v").cast("long").alias("sv"),
        F.sum(F.expr("v * y")).cast("long").alias("sv1"),
    )
    obs = tot.selectExpr(
        "n", "n1", "sv", "sv1",
        "cast(sv1 as double) / n1"
        " - cast(sv - sv1 as double) / (n - n1) as obs_diff",
    )
    reps = d.select(
        "id", "v",
        F.explode(F.expr(f"sequence(0, {b - 1})")).alias("r"),
    )
    h = _H60.format(
        s="concat('perm-v1', ',', cast(r as string), ',', id)"
    )
    sided = reps.crossJoin(F.broadcast(obs.select("n", "n1"))).select(
        "r", "v",
        F.expr(f"cast(({h} % n) < n1 as int)").cast("long").alias("s"),
    )
    per = sided.groupBy("r").agg(
        F.sum(F.expr("v * s")).cast("long").alias("sva"),
        F.sum("s").cast("long").alias("na"),
        F.sum("v").cast("long").alias("svt"),
        F.count("*").cast("long").alias("nt"),
    ).selectExpr(
        "r",
        "case when na > 0 and na < nt then"
        " cast(sva as double) / na"
        " - cast(svt - sva as double) / (nt - na) end as diff",
    )
    return (
        per.crossJoin(F.broadcast(obs))
        .groupBy("n", "n1")
        .agg(
            F.round(F.max("obs_diff"), 6).alias("obs_diff"),
            F.count("*").cast("long").alias("b"),
            F.sum(
                F.expr("cast(abs(diff) >= abs(obs_diff) as int)")
            ).cast("long").alias("n_ge"),
        )
        .selectExpr(
            "n", "n1", "obs_diff", "b", "n_ge",
            f"round((1.0d + n_ge) / ({b} + 1.0d), 6) as p_value",
        )
    )


def q_ml_srm(spark, sf_dir):
    """Sample-ratio-mismatch guard for the ml_ab experiment split: the
    hash assignment TARGETS 50/50, so the arm sizes are a binomial draw
    whose z = (n_a - n/2) / sqrt(n/4) must sit in normal range — a
    large |z| means the bucketing hash is biased or the logging drops
    one arm (the first thing to check before reading any A/B result).
    Exact integer counts, one fixed double formula."""
    from knowledgegraphbuilder_spark.operators.curation import _H60

    per = (
        _t(spark, sf_dir, "events")
        .select("user_id").distinct()
        .select(
            (
                F.expr(_H60.format(
                    s="concat('ab-v1', ',', cast(user_id as string))"
                )) % 100 < 50
            ).cast("long").alias("a")
        )
    )
    return per.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("a").cast("long").alias("n_a"),
    ).selectExpr(
        "n", "n_a", "n - n_a as n_b",
        "round((cast(n_a as double) - cast(n as double) / 2.0d)"
        " / nullif(sqrt(cast(n as double) / 4.0d), 0.0d), 6) as srm_z",
    )


def q_mm_modality_mix(spark, sf_dir):
    """Per-source modality composition of the interleaved corpus: share
    of docs containing image/audio spans and the media-per-doc rate —
    the shard-balance view a multimodal mixture sampler needs (text-only
    sources starve the vision tower). One explode + two grouped counts;
    oracle replays the span synthesis joined back to doc sources."""
    spans = _spans_cached(spark, sf_dir)
    ex = spans.select(
        "doc_id", F.explode("spans").alias("s")
    ).select("doc_id", F.col("s.kind").alias("kind"))
    per_doc = ex.groupBy("doc_id").agg(
        F.sum(F.expr("cast(kind = 'image' as int)")).cast("long")
        .alias("n_img"),
        F.sum(F.expr("cast(kind = 'audio' as int)")).cast("long")
        .alias("n_aud"),
    )
    src = _t(spark, sf_dir, "documents").select(
        F.concat(F.lit("doc_"), F.col("doc_id").cast("string"))
        .alias("doc_id"),
        "source",
    )
    return (
        per_doc.join(src, "doc_id")
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum(F.expr("cast(n_img > 0 as int)")).cast("long")
            .alias("n_with_image"),
            F.sum(F.expr("cast(n_aud > 0 as int)")).cast("long")
            .alias("n_with_audio"),
            F.sum("n_img").cast("long").alias("n_image_spans"),
            F.sum("n_aud").cast("long").alias("n_audio_spans"),
        )
        .selectExpr(
            "source", "n_docs", "n_with_image", "n_with_audio",
            "n_image_spans", "n_audio_spans",
            "round(cast(n_with_image as double) / n_docs, 6)"
            " as image_doc_share",
            "round(cast(n_with_audio as double) / n_docs, 6)"
            " as audio_doc_share",
        )
    )


def q_ml_ndcg(spark, sf_dir):
    """Per-source NDCG@10 (mlstats.py:ndcg_at_k) of the doc-length
    ranking against graded relevance doc_id % 4 — the offline retrieval
    quality metric (gain 2^g - 1, 1/log2 discount, ideal ranking by
    grade). Grouped windows only (never a global sort); k-term float
    sums under the 6-dp contract."""
    from knowledgegraphbuilder_spark.operators.mlstats import ndcg_at_k

    d = _t(spark, sf_dir, "documents").select(
        F.col("source"),
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("n_chars").cast("long").alias("score"),
        F.pmod(F.col("doc_id").cast("long"), F.lit(4)).alias("grade"),
    )
    return ndcg_at_k(d, k=10, group_col="source")


def q_ml_calibration(spark, sf_dir):
    """Reliability-diagram bins + per-bin Brier score
    (mlstats.py:calibration_bins) for the integer pseudo-probability
    n_chars % 1000 against lang='en' — every statistic an exact integer
    sum until one final divide, so both engines divide identical
    integers (the ml_auc midrank contract applied to calibration)."""
    from knowledgegraphbuilder_spark.operators.mlstats import (
        calibration_bins,
    )

    return calibration_bins(
        _t(spark, sf_dir, "documents"),
        p_int_expr="n_chars % 1000",
        y_expr="cast(lang = 'en' as int)",
    )


def q_ts_taxonomy(spark, sf_dir):
    """Broadcast-dictionary topic tagging (textstats.py:taxonomy_tags):
    corpus-derived top-40 keyword dict hashed into 6 topics, per-topic
    doc coverage — the domain-labeling stage of a training-data mixture
    pipeline; the tag join broadcasts the dict, never shuffles the
    corpus."""
    from knowledgegraphbuilder_spark.operators.textstats import (
        taxonomy_tags,
    )

    return taxonomy_tags(_t(spark, sf_dir, "documents"))


def q_mm_caption_stats(spark, sf_dir):
    """Caption-coverage profile of the interleaved spans table
    (multimodal.py:caption_stats): per media kind, how many media spans
    have a preceding text caption vs only a following one vs none, plus
    mean caption length. Same two running windows as mm_align; the oracle
    replays the span synthesis and the windows in SQL."""
    from knowledgegraphbuilder_spark.operators.multimodal import caption_stats

    return caption_stats(_spans_cached(spark, sf_dir))


def q_mm_media_budget(spark, sf_dir):
    """Media byte budget through the real fetch path
    (multimodal.py:media_budget): distinct refs -> fetch_media
    (mapInPandas, Arrow binary batches) -> per-kind size aggregates +
    bytes-per-kilochar storage ratio. The oracle recomputes the
    deterministic fetch size (256 + first sha256 byte) per ref in SQL."""
    from knowledgegraphbuilder_spark.operators.multimodal import media_budget

    return media_budget(_spans_cached(spark, sf_dir))


def q_mm_phash_buckets(spark, sf_dir):
    """LSH-candidate accounting for media near-dup
    (multimodal.py:phash_buckets): 8-bit content-hash buckets over
    distinct media refs, reported as a bucket-size histogram with the
    candidate-pair count each size class implies — the pre-flight cost
    estimate of a pHash dedup verify join."""
    from knowledgegraphbuilder_spark.operators.multimodal import phash_buckets

    return phash_buckets(_spans_cached(spark, sf_dir))


def _stream_span_files(spark, sf_dir, tag_prefix):
    """Write the interleaved spans corpus as three doc_id-ranged parquet
    files under a content-tagged /tmp dir (the stream input fixture shared
    by the stream_* queries)."""
    import hashlib
    import shutil

    spans = _spans_cached(spark, sf_dir)
    tag = hashlib.sha256(sf_dir.encode()).hexdigest()[:10]
    base = f"/tmp/{tag_prefix}_{tag}"
    shutil.rmtree(base, ignore_errors=True)
    # empty corpus -> three empty batch files (the fold must flow zeros)
    n = spans.agg(
        F.max(F.expr("cast(substring(doc_id, 5, 10) as int)"))
    ).first()[0] or 0
    for b in range(3):
        lo, hi = b * (n + 1) // 3, (b + 1) * (n + 1) // 3
        (spans.filter(F.expr(
            f"cast(substring(doc_id, 5, 10) as int) >= {lo} and "
            f"cast(substring(doc_id, 5, 10) as int) < {hi}"))
         .coalesce(1).write.mode("overwrite").parquet(f"{base}/in/b{b}"))
    return base


def q_stream_align(spark, sf_dir):
    """STREAMING caption alignment under the value-exact gate: the
    interleaved corpus drains as three files, each micro-batch aligns its
    complete documents (streaming/ingest.py:run_align_available_now) and
    MERGEs by the deterministic span key sha256(doc_id:pos) — then the
    whole input REPLAYS against a fresh checkpoint, proving MERGE
    idempotency. The final table must equal the batch mm_align output
    (same span-synthesis oracle)."""
    from knowledgegraphbuilder_spark.streaming.ingest import (
        run_align_available_now,
    )

    base = _stream_span_files(spark, sf_dir, "kg_stream_align")
    run_align_available_now(spark, f"{base}/in/*", f"{base}/out", f"{base}/ck")
    run_align_available_now(
        spark, f"{base}/in/*", f"{base}/out", f"{base}/ck2"
    )
    return spark.read.parquet(f"{base}/out").select(
        "doc_id", "pos", "media_ref", "media_type", "caption",
        "caption_offset",
    )


def q_stream_transitions(spark, sf_dir):
    """STREAMING modality-transition fold: per-batch partial bigram counts
    MERGEd by a content-derived batch key (replays overwrite, never
    double-count — streaming/ingest.py:run_transitions_available_now),
    then folded to corpus totals. Input replays end-to-end; the total must
    equal the batch mm_transitions result."""
    from knowledgegraphbuilder_spark.streaming.ingest import (
        read_transitions,
        run_transitions_available_now,
    )

    base = _stream_span_files(spark, sf_dir, "kg_stream_transitions")
    run_transitions_available_now(
        spark, f"{base}/in/*", f"{base}/out", f"{base}/ck"
    )
    run_transitions_available_now(
        spark, f"{base}/in/*", f"{base}/out", f"{base}/ck2"
    )
    return read_transitions(spark, f"{base}/out")


def q_ts_ccnet_buckets(spark, sf_dir):
    """CCNet head/middle/tail quality tiers (textstats.py:ccnet_buckets):
    the corpus ranked by self-trained bigram perplexity and cut into 3
    ntile tiers over the total order (ppl, doc_id); per tier doc count,
    token mass, perplexity range and DECIMAL-exact mean. The oracle nests
    the full ts_perplexity replay and applies the same ntile."""
    from knowledgegraphbuilder_spark.operators.textstats import ccnet_buckets

    return ccnet_buckets(_t(spark, sf_dir, "documents"))


def q_kg_reltype_entropy(spark, sf_dir):
    """Per-head-node Shannon entropy of the outgoing relation-type
    distribution (textstats.py:shannon_entropy applied to the KG edge
    table) — which canonical entities fan out across many relation types
    vs hub a single one. Oracle composes the kg_j2_edges replay with the
    same exact-integer entropy formula."""
    from knowledgegraphbuilder_spark.operators.textstats import (
        shannon_entropy,
    )

    return shannon_entropy(
        _kg(spark, sf_dir).edges, group_col="head_node_id",
        class_col="rel_type",
    )


def q_ts_length_survival(spark, sf_dir):
    """Doc-length survival curve at power-of-two thresholds
    (textstats.py:length_survival): n and share of docs with n_chars >=
    2^k — the curve a seq_len/packing decision reads. Integer counts,
    one divide."""
    from knowledgegraphbuilder_spark.operators.textstats import (
        length_survival,
    )

    return length_survival(_t(spark, sf_dir, "documents"))


def q_ml_kappa(spark, sf_dir):
    """Cohen's kappa of the stopword-vote langid against the gold lang
    label (mlstats.py:cohens_kappa over textstats.py:language_id) — the
    chance-corrected companion to ts_langconfusion's raw matrix. Every
    term exact-integer until one final divide."""
    from knowledgegraphbuilder_spark.operators.mlstats import cohens_kappa
    from knowledgegraphbuilder_spark.operators.textstats import language_id

    docs = _t(spark, sf_dir, "documents")
    joined = language_id(docs).join(
        docs.select(
            F.col("doc_id").cast("string").alias("doc_id"),
            F.col("lang").alias("true_lang"),
        ),
        "doc_id",
    )
    return cohens_kappa(joined, "true_lang", "pred_lang")


def q_ml_mcnemar(spark, sf_dir):
    """McNemar's paired test comparing two purchase-detector cutoffs
    (value > 0.5 vs value > 0.7) against event_type = 'purchase' on the
    same events (mlstats.py:mcnemar): discordant counts are exact
    integers, the chi-square statistic is one divide."""
    from knowledgegraphbuilder_spark.operators.mlstats import mcnemar

    return mcnemar(
        _t(spark, sf_dir, "events"),
        "event_type = 'purchase'",
        "value > 0.5",
        "value > 0.7",
    )


def q_dd_dup_by_source(spark, sf_dir):
    """Per-source exact-duplicate exposure (dedup.py:dup_rate_by_group):
    share of each source's docs whose sha256(text) repeats corpus-wide —
    the which-source-needs-dedup dashboard."""
    from knowledgegraphbuilder_spark.operators.dedup import dup_rate_by_group

    return dup_rate_by_group(_t(spark, sf_dir, "documents"))


def q_mm_context_profile(spark, sf_dir):
    """Interleaving-granularity profile of the spans table
    (multimodal.py:context_profile): per media kind, the distribution of
    text chars accumulated since the previous media span (or doc start)
    — exact integer context sizes from one running window + one lag.
    Oracle replays the span synthesis and both windows."""
    from knowledgegraphbuilder_spark.operators.multimodal import (
        context_profile,
    )

    return context_profile(_spans_cached(spark, sf_dir))


def q_ts_pack_efficiency(spark, sf_dir):
    """Packing-efficiency report (curation.py:pack_efficiency) over the
    ts_packing stream (seq_len=256, 8 shards): per shard the sequence
    count, pad-token waste and fill ratio — exact integers + one
    divide."""
    from knowledgegraphbuilder_spark.operators.curation import (
        pack_efficiency,
        pack_sequences,
    )

    packed = pack_sequences(
        _t(spark, sf_dir, "documents"), seq_len=256, n_shards=8
    )
    return pack_efficiency(packed, seq_len=256)


def q_ml_powerlaw(spark, sf_dir):
    """Discrete power-law MLE exponent (mlstats.py:powerlaw_alpha,
    Clauset-Shalizi-Newman) of the per-user event-count distribution —
    the heavy-tail summary behind skew planning. Sorted-array log fold
    pins the float association order in both engines."""
    from knowledgegraphbuilder_spark.operators.mlstats import powerlaw_alpha

    per_user = (
        _t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("cnt"))
    )
    return powerlaw_alpha(per_user, "cnt", x_min=1)


def q_kg_degree_gini(spark, sf_dir):
    """Gini coefficient of the KG out-degree distribution
    (mlstats.py:gini_coefficient over the kg_j2_edges head counts) —
    the skew scalar behind the salting decision in canonicalization.
    Ranked by (degree, node) total order; exact decimal sums."""
    from knowledgegraphbuilder_spark.operators.mlstats import (
        gini_coefficient,
    )

    deg = (
        _kg(spark, sf_dir).edges
        .groupBy("head_node_id")
        .agg(F.count("*").alias("deg"))
    )
    return gini_coefficient(deg, "deg", "head_node_id")


def q_ts_goodturing(spark, sf_dir):
    """Good-Turing vocabulary coverage (textstats.py:good_turing_coverage):
    hapax share estimates the unseen-word mass — the saturation check
    behind 'do we need more data or more epochs'. Exact integer counts,
    two final divides."""
    from knowledgegraphbuilder_spark.operators.textstats import (
        good_turing_coverage,
    )

    return good_turing_coverage(_t(spark, sf_dir, "documents"))


def q_dd_cluster_hist(spark, sf_dir):
    """Exact-dup cluster-size histogram + realized byte savings
    (dedup.py:dup_cluster_histogram): the before/after storage summary of
    an exact dedup pass, all integers."""
    from knowledgegraphbuilder_spark.operators.dedup import (
        dup_cluster_histogram,
    )

    return dup_cluster_histogram(_t(spark, sf_dir, "documents"))


def q_kg_integrity_audit(spark, sf_dir):
    """Referential-integrity audit of the materialized graph tables
    (graph_build.py:integrity_audit): 7 FK checks (relation->mention,
    edge->relation/node, provenance->relation, membership->mention), one
    (check, n_rows, n_orphans) row each — the post-MERGE data-quality
    gate. Oracle recomputes every check over the replayed CTEs."""
    from knowledgegraphbuilder_spark.operators.graph_build import (
        integrity_audit,
    )

    kg = _kg(spark, sf_dir)
    return integrity_audit(
        kg.mentions, kg.relations, kg.edges, kg.membership, kg.provenance
    )


def q_kg_two_hop(spark, sf_dir):
    """Exact directed <=2-hop reachability count per KG node
    (graphstats.py:two_hop_reach) — the neighborhood-size profile behind
    multi-hop retrieval fan-out planning. One self-join on the middle
    node; oracle replays with the same union-distinct."""
    from knowledgegraphbuilder_spark.operators.graphstats import (
        two_hop_reach,
    )

    return two_hop_reach(_kg(spark, sf_dir).edges)


def q_kg_snapshot_growth(spark, sf_dir):
    """Per-version growth report over the snapshot log
    (sinks.py:snapshot_growth): v1 = the sha-even triple subset, v2 = the
    full table; each version reports its row count and the MULTISET rows
    added/removed vs the previous version. The oracle computes both
    versions' multiset cardinalities directly from the relation replay."""
    import hashlib
    import shutil

    from knowledgegraphbuilder_spark.sources.sinks import (
        snapshot_growth, write_graph_snapshot,
    )

    kg = _kg(spark, sf_dir)
    t = kg.triples.select("subj", "pred", "obj", "doc_id")
    keep = F.expr(
        "cast(conv(substring(sha2(subj, 256), 1, 15), 16, 10) as bigint) % 2"
    ) == 0
    tag = hashlib.sha256(sf_dir.encode()).hexdigest()[:10]
    base = f"/tmp/kg_snap_growth_{tag}"
    shutil.rmtree(base, ignore_errors=True)
    write_graph_snapshot(base, {"triples": t.filter(keep)})
    write_graph_snapshot(base, {"triples": t})
    return snapshot_growth(spark, base, "triples")


def q_mm_stream_budget(spark, sf_dir):
    """STREAMING media-byte accounting
    (streaming/ingest.py:run_media_budget_available_now): per-batch
    fetch-path partials MERGEd by content-derived batch key, replayed
    end-to-end against a fresh checkpoint (no double count), folded to
    per-kind totals — must equal the batch mm_media_budget sums."""
    from knowledgegraphbuilder_spark.streaming.ingest import (
        read_media_budget,
        run_media_budget_available_now,
    )

    base = _stream_span_files(spark, sf_dir, "kg_stream_budget")
    run_media_budget_available_now(
        spark, f"{base}/in/*", f"{base}/out", f"{base}/ck"
    )
    run_media_budget_available_now(
        spark, f"{base}/in/*", f"{base}/out", f"{base}/ck2"
    )
    return read_media_budget(spark, f"{base}/out")


def q_ann_mips(spark, sf_dir):
    """Exact max-inner-product top-10 (ann.py:topk_mips) for the vec_id=0
    probe — the two-tower recommendation scoring variant where magnitude
    is signal and cosine returns the wrong items. One corpus scan,
    map-side dot products."""
    from knowledgegraphbuilder_spark.operators import ann as ann_ops

    embs = _t(spark, sf_dir, "embeddings")
    q = embs.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    return ann_ops.topk_mips(embs, list(q), k=10)


def q_ann_range(spark, sf_dir):
    """Radius search (ann.py:range_search): every vector with cosine >=
    0.2 to the vec_id=0 probe — the full similarity ball a near-dup audit
    needs where top-k truncates. Map-side scores, filter before any
    shuffle."""
    from knowledgegraphbuilder_spark.operators import ann as ann_ops

    embs = _t(spark, sf_dir, "embeddings")
    q = embs.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    return ann_ops.range_search(embs, list(q), threshold=0.2)


def q_g33_pathrecon(spark, sf_dir):
    """BFS with path reconstruction (graphstats.py:shortest_paths): hop
    distance <= 3 from the sha256-smallest co-purchase node PLUS a
    canonical '>'-joined witness path per node — the how-is-it-connected
    explanation surface a distance-only BFS (g7_bfs) can't answer. The
    oracle replays the identical per-round min-path recurrence unrolled."""
    from knowledgegraphbuilder_spark.operators.graphstats import shortest_paths

    edges = _copurchase_edges(spark, sf_dir)
    seed = (
        edges.select(F.col("src").alias("node"))
        .unionAll(edges.select(F.col("dst").alias("node")))
        .distinct()
        .orderBy(F.sha2(F.col("node"), 256))
        .limit(1)
        .collect()[0][0]
    )
    return shortest_paths(edges, seed, max_hops=3)


def q_ann_filtered(spark, sf_dir):
    """Metadata-filtered vector search (ann.py:topk_filtered): exact
    cosine top-10 for the vec_id=0 probe restricted to label IN (2,5,7)
    — the pre-filter plan (predicate pushed into the parquet scan before
    any scoring) that post-filtering a top-k can't replicate without
    losing hits."""
    from knowledgegraphbuilder_spark.operators import ann as ann_ops

    embs = _t(spark, sf_dir, "embeddings")
    q = embs.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    return ann_ops.topk_filtered(
        embs, list(q), F.col("label").isin(2, 5, 7), k=10
    )


def q_g34_betweenness(spark, sf_dir):
    """Brandes single-source betweenness contributions, 3-hop truncated
    (graphstats.py:betweenness_contrib), from the sha256-smallest
    co-purchase node: forward BFS path counts (exact integers) + backward
    dependency accumulation with an ORDER-STABLE sorted float fold, so
    the doubles are bitwise-replayable by the oracle's
    list(term ORDER BY v) fold."""
    from knowledgegraphbuilder_spark.operators.graphstats import (
        betweenness_contrib,
    )

    edges = _copurchase_edges(spark, sf_dir)
    seed = (
        edges.select(F.col("src").alias("node"))
        .unionAll(edges.select(F.col("dst").alias("node")))
        .distinct()
        .orderBy(F.sha2(F.col("node"), 256))
        .limit(1)
        .collect()[0][0]
    )
    return betweenness_contrib(edges, seed, max_hops=3)


def q_g35_matching(spark, sf_dir):
    """3-round handshake greedy matching over the co-purchase graph
    (graphstats.py:greedy_matching) — the pair-collapse primitive behind
    multilevel graph coarsening; oracle = unrolled propose/handshake/
    residual replay."""
    from knowledgegraphbuilder_spark.operators.graphstats import (
        greedy_matching,
    )

    return greedy_matching(_copurchase_edges(spark, sf_dir), rounds=3)


def q_g36_contract(spark, sf_dir):
    """One coarsening level over the co-purchase graph: contract the
    3-round handshake matching into supernodes and re-aggregate edges
    (graphstats.py:contract_graph) — the multilevel halving step; oracle
    composes the matching replay with the same representative-map rewrite."""
    from knowledgegraphbuilder_spark.operators.graphstats import (
        contract_graph, greedy_matching,
    )

    edges = _copurchase_edges(spark, sf_dir)
    return contract_graph(edges, greedy_matching(edges, rounds=3))


def q_kg_schema(spark, sf_dir):
    """Bottom-up schema induction over the extracted KG
    (graph_build.py:schema_induction): typed relation signatures
    (head_label, rel_type, tail_label) with support counts and the
    conditional share per head label — the which-predicates-connect-
    which-types ontology surface; oracle joins the relation replay to the
    mention-label replay and repeats the integer-ratio share."""
    kg = _kg(spark, sf_dir)
    from knowledgegraphbuilder_spark.operators.graph_build import (
        schema_induction,
    )

    return schema_induction(kg.relations, kg.mentions)


def q_ml_woe_iv(spark, sf_dir):
    """Weight-of-Evidence / Information Value screening of event value
    against the purchase target (mlstats.py:woe_iv): equal-width bins
    from the exact global min/max, Laplace-smoothed integer cell counts,
    order-stable IV fold — the does-this-feature-separate gauge run
    before any model training."""
    from knowledgegraphbuilder_spark.operators.mlstats import woe_iv

    ev = _t(spark, sf_dir, "events")
    return woe_iv(ev, "value", "event_type = 'purchase'", n_bins=10)


def q_g37_mis(spark, sf_dir):
    """Deterministic Luby-style maximal independent set over the
    co-purchase graph (graphstats.py:maximal_independent_set, 4 local-min
    rounds) — the distributed symmetry-breaking primitive; oracle =
    unrolled pick/remove-neighborhood replay."""
    from knowledgegraphbuilder_spark.operators.graphstats import (
        maximal_independent_set,
    )

    return maximal_independent_set(_copurchase_edges(spark, sf_dir), rounds=4)


def q_kg_funcviol(spark, sf_dir):
    """Functional-predicate violation audit over the KG triples
    (graph_build.py:functional_violations): every (pred, subj) with more
    than one distinct object, with bounded sorted example objects — the
    curation-queue quality gate; oracle groups the triple replay the
    same way."""
    from knowledgegraphbuilder_spark.operators.graph_build import (
        functional_violations,
    )

    return functional_violations(_kg(spark, sf_dir).triples)


def q_ml_target_enc(spark, sf_dir):
    """Smoothed target encoding of document source against the
    is-English target (mlstats.py:target_encoding, alpha=10): exact
    integer cells shrunk toward the global prior — the
    high-cardinality-categorical transform; oracle repeats the integer
    arithmetic."""
    from knowledgegraphbuilder_spark.operators.mlstats import target_encoding

    docs = _t(spark, sf_dir, "documents")
    return target_encoding(docs, "source", "lang = 'en'", alpha=10.0)


def q_ts_keyness(spark, sf_dir):
    """Dunning log-likelihood keyness of src0 vs the rest of the corpus
    (textstats.py:keyness_llr, top-20 by raw G2): exact integer 2x2
    cells, ln once per output row, decimal-widened cross-multiply for the
    direction flag — the what-characterizes-this-source keyword report."""
    from knowledgegraphbuilder_spark.operators.textstats import keyness_llr

    return keyness_llr(_t(spark, sf_dir, "documents"), "source = 'src0'")


def q_ts_bigram_next(spark, sf_dir):
    """Bigram-LM argmax table (textstats.py:bigram_next): for the 20 most
    frequent head tokens, the most likely next token with its conditional
    probability — two-phase max-then-min-tie-break aggregates, never a
    sorted window over the corpus."""
    from knowledgegraphbuilder_spark.operators.textstats import bigram_next

    return bigram_next(_t(spark, sf_dir, "documents"))


def q_kg_growth(spark, sf_dir):
    """KG saturation curve (graph_build.py:growth_curve): new canonical
    nodes / new distinct triples per doc-id decile with running
    cumulative totals — the Heaps-for-graphs diagnostic; oracle repeats
    the bucketed first-appearance histogram over the relation replay."""
    from knowledgegraphbuilder_spark.operators.graph_build import growth_curve

    n_docs = _t(spark, sf_dir, "documents").count()
    return growth_curve(_kg(spark, sf_dir).triples, n_docs)


def q_link_cosine(spark, sf_dir):
    """North-star entity-linking chain (link.py:cosine_link_edges):
    MinHash-LSH blocked candidates over the mention surfaces (augmented
    with the same deterministic planted variants link_edges uses, so
    blocking collisions exist at this sf), rescored by cosine over the
    trigram feature-hash embedding column (float32 stored convention),
    kept at cosine >= 0.3. Oracle replays the banding, the embedding
    (sparse bucket replay, same float32 cast), and the cosine verbatim."""
    from knowledgegraphbuilder_spark.operators.link import cosine_link_edges

    t = _kg(spark, sf_dir).mentions.select("text").distinct()
    planted = (
        t.select(F.upper("text").alias("text"))
        .unionAll(t.select(F.concat(F.lit("_"), F.col("text")).alias("text")))
        .unionAll(t.select(F.concat(F.col("text"), F.lit("s")).alias("text")))
    )
    return cosine_link_edges(t.unionAll(planted).distinct(), CFG,
                             cos_threshold=0.3)


def q_kg_query_2hop(spark, sf_dir):
    """Typed 2-hop instance query (graph_build.py:query_2hop) over the
    most frequent COMPOSABLE metapath (the top (pred1, pred2) by path
    count, tie-broken by name — derived identically by the oracle): the
    find-every-(a,b,c) multi-hop query a KG user runs after the
    kg_metapaths census says which pattern is worth asking for, with
    per-hop doc support."""
    from knowledgegraphbuilder_spark.operators.graph_build import query_2hop

    t = _kg(spark, sf_dir).triples
    e = t.select("subj", "pred", "obj").distinct()
    census = (
        e.alias("x")
        .join(e.alias("y"), F.col("x.obj") == F.col("y.subj"))
        .filter(F.col("x.subj") != F.col("y.obj"))
        .groupBy(
            F.col("x.pred").alias("p1"), F.col("y.pred").alias("p2")
        )
        .count()
        .orderBy(F.desc("count"), F.col("p1"), F.col("p2"))
        .limit(1)
        .collect()
    )
    if not census:
        return query_2hop(t, "__none__", "__none__")
    return query_2hop(t, census[0]["p1"], census[0]["p2"])


def q_kg_export_nt(spark, sf_dir):
    """RDF N-Triples export of the KG (export.py:to_ntriples): one
    <s> <p> <o> . line per distinct edge plus one rdfs:label literal per
    node — the interchange surface the reference's Neo4j-only sink lacks.
    Node IRIs embed the deterministic content ids (functions/ids.py), so
    no join is needed; the only shuffle is the line distinct. Oracle
    replays the IRI assembly and the 5 ECHAR literal escapes verbatim."""
    from knowledgegraphbuilder_spark.operators.export import to_ntriples

    return to_ntriples(_kg(spark, sf_dir).triples)


def q_kg_export_nq(spark, sf_dir):
    """RDF N-Quads export (export.py:to_nquads): the same statements with
    the source document as the named graph — per-statement provenance as
    a first-class RDF citizen instead of a side table."""
    from knowledgegraphbuilder_spark.operators.export import to_nquads

    return to_nquads(_kg(spark, sf_dir).triples)


def q_kg_bgp(spark, sf_dir):
    """SPARQL-style BGP query (bgp.py:bgp_match): the 2-hop pattern
    { ?a technology_near_organization ?b .
      ?b organization_near_technology ?c . } with a != c — the
    declarative ask-the-graph surface the reference lacks. The compiler
    orders patterns most-literal-first and joins on shared variables;
    oracle replays the same two equi-joins under set semantics."""
    from knowledgegraphbuilder_spark.operators.bgp import bgp_match

    t = _kg(spark, sf_dir).triples
    pats = [
        ("?a", "technology_near_organization", "?b"),
        ("?b", "organization_near_technology", "?c"),
    ]
    return bgp_match(t, pats).filter(F.col("a") != F.col("c"))


def q_kg_pathplus(spark, sf_dir):
    """SPARQL property path pred+ (bgp.py:path_closure): every node pair
    reachable through 1..3 technology_near_technology edges with the
    BFS-minimal hop count — semi-naive frontier extension, per-round cost
    tracks the frontier, never the accumulated closure. Oracle: bounded
    recursive CTE + min(hops) group-by (walk-length min == BFS distance
    under the same cap)."""
    from knowledgegraphbuilder_spark.operators.bgp import path_closure

    return path_closure(
        _kg(spark, sf_dir).triples, "technology_near_technology", max_hops=3
    )


def q_kg_infer(spark, sf_dir):
    """Datalog-style forward inference (bgp.py:apply_rule): body
    { ?a technology_near_organization ?b . ?b organization_near_technology
    ?c . } => head (?a, inferred_tech_link, ?c), anti-joined against
    statements the graph already holds — the CONSTRUCT / materialized-
    inference step; oracle replays the joins + NOT EXISTS. The head uses
    a fresh predicate because the 5-term gazetteer saturates every
    existing tech-tech pair at this sf (a same-pred head derives 0 new
    rows — the anti-join's set semantics are pinned by
    tests/test_bgp.py:test_apply_rule_only_new instead)."""
    from knowledgegraphbuilder_spark.operators.bgp import apply_rule

    body = [
        ("?a", "technology_near_organization", "?b"),
        ("?b", "organization_near_technology", "?c"),
    ]
    head = ("?a", "inferred_tech_link", "?c")
    return apply_rule(_kg(spark, sf_dir).triples, body, head)


def q_kg_import_nt(spark, sf_dir):
    """RDF N-Triples IMPORT (rdfio.py:from_ntriples): serialize the KG
    with export.py:to_ntriples, then parse the lines back — statement
    lines destructured by regexp_extract, rdfs:label lines ECHAR-
    unescaped (backslash-sentinel order), node texts recovered by
    joining the content-hash IRIs. parse . serialize == identity on the
    distinct triple set, so the oracle is simply the distinct original
    triples — the strongest round-trip contract available."""
    from knowledgegraphbuilder_spark.operators.export import to_ntriples
    from knowledgegraphbuilder_spark.operators.rdfio import from_ntriples

    return from_ntriples(to_ntriples(_kg(spark, sf_dir).triples))


def q_kg_bgp_optional(spark, sf_dir):
    """SPARQL OPTIONAL (bgp.py:optional_match): mandatory
    { ?a technology_near_organization ?b } with OPTIONAL
    { ?b organization_near_system ?sys } — W3C left-join semantics, so
    every mandatory binding survives, with NULL ?sys where the org has
    no system edge. Oracle: LEFT JOIN of the two distinct binding sets
    on the shared variable."""
    from knowledgegraphbuilder_spark.operators.bgp import optional_match

    return optional_match(
        _kg(spark, sf_dir).triples,
        [("?a", "technology_near_organization", "?b")],
        [("?b", "organization_near_system", "?sys")],
    )


def q_layout_edgecut(spark, sf_dir):
    """Hash-placement audit of the co-purchase graph
    (layout.py:edge_cut_stats): home each edge on its source's sha-mod-32
    partition and report per-partition internal-vs-cut edge counts — the
    per-superstep network volume of every BSP algorithm in this repo
    (PageRank/BFS/LPA), and the number a 1000-executor placement is
    judged by. Engine-portable content hash, one groupBy, no joins."""
    from knowledgegraphbuilder_spark.operators.layout import edge_cut_stats

    return edge_cut_stats(_copurchase_edges(spark, sf_dir), k=32,
                          src_col="src", dst_col="dst")


def q_g38_lp_eval(spark, sf_dir):
    """Link-prediction ranking EVAL (graphstats.py:lp_rank_eval):
    sha-holdout 1/5 of the weight>=2 co-purchase edges, score candidates
    by Resource Allocation on the training remainder (same wedge
    machinery + hub cap 10 as g12_linkpred), rank each held-out edge in
    its source's candidate list, report (n_test, n_ranked, MRR,
    Hits@1/3/10) — the filtered-ranking protocol of the KG-embedding
    literature with integer-micro-unit reciprocal ranks so the fold is
    order-exact."""
    from knowledgegraphbuilder_spark.operators.graphstats import lp_rank_eval

    edges = _copurchase_edges(spark, sf_dir).filter(F.col("weight") >= 2)
    return lp_rank_eval(edges, holdout_mod=5, max_hub_degree=10)


def q_kg_entity_profile(spark, sf_dir):
    """Denormalized per-entity feature table
    (graph_build.py:entity_profile): out/in degree, outgoing rel-type
    diversity, dominant outgoing type (top-1 as a min(struct) aggregate,
    ties lexicographic), distinct provenance docs — the entity-side
    feature row a downstream ML join consumes. Oracle replays the three
    node-keyed aggregations and the row_number()=1 top-type pick."""
    from knowledgegraphbuilder_spark.operators.graph_build import entity_profile

    return entity_profile(_kg(spark, sf_dir).triples)


def q_stream_nt(spark, sf_dir):
    """STREAMING N-Triples ingest under the value-exact gate: the KG is
    exported to N-Triples, the lines are split into 3 text files by a
    content hash (statements and labels land in DIFFERENT files — the
    out-of-order shard interleave of a real RDF dump), each micro-batch
    parks parsed statements/labels into keyed first-wins state tables
    (streaming/ingest.py:run_nt_ingest_available_now), the whole feed
    REPLAYS against a fresh checkpoint (no-op), and the read-time join
    (read_nt_triples) resolves hashes to surface triples — equal to the
    batch parser and to the original distinct triple set, so the
    kg_import_nt identity oracle checks it directly."""
    import hashlib
    import shutil

    from knowledgegraphbuilder_spark.operators.export import to_ntriples
    from knowledgegraphbuilder_spark.streaming.ingest import (
        read_nt_triples, run_nt_ingest_available_now,
    )

    nt = to_ntriples(_kg(spark, sf_dir).triples).select("nt")
    tag = hashlib.sha256(sf_dir.encode()).hexdigest()[:10]
    base = f"/tmp/kg_stream_nt_{tag}"
    shutil.rmtree(base, ignore_errors=True)
    bucket = F.expr(
        "pmod(cast(conv(substring(sha2(nt, 256), 1, 15), 16, 10) as bigint), 3)"
    )
    for i in range(3):
        (nt.filter(bucket == i).coalesce(1)
         .write.mode("overwrite").text(f"{base}/in/b{i}"))
    run_nt_ingest_available_now(spark, f"{base}/in/*", f"{base}/st",
                                f"{base}/ck")
    run_nt_ingest_available_now(spark, f"{base}/in/*", f"{base}/st",
                                f"{base}/ck2")
    return read_nt_triples(spark, f"{base}/st")


def q_kg_bgp_union(spark, sf_dir):
    """SPARQL UNION (bgp.py:union_match): branch 1 binds (?a, ?b) via
    technology_near_organization, branch 2 binds (?x, ?a) via
    organization_near_technology — the output carries the union of the
    variable sets with NULL where a branch doesn't bind (W3C union +
    DISTINCT under set semantics). Oracle: UNION of the two distinct
    binding selects with explicit NULL padding."""
    from knowledgegraphbuilder_spark.operators.bgp import union_match

    return union_match(
        _kg(spark, sf_dir).triples,
        [
            [("?a", "technology_near_organization", "?b")],
            [("?x", "organization_near_technology", "?a")],
        ],
    )


def q_g39_percolation(spark, sf_dir):
    """Bond-percolation profile (graphstats.py:percolation_sweep): CC
    structure of the co-purchase graph at min-weight thresholds 3/4/5 —
    the multi-resolution clustering view that picks a production dedup/
    ER threshold (watch the giant component dissolve). Each threshold is
    a pure filter into the shared large-star/small-star CC; the oracle
    replays three recursive min-reach closures."""
    from knowledgegraphbuilder_spark.operators.graphstats import (
        percolation_sweep,
    )

    return percolation_sweep(_copurchase_edges(spark, sf_dir), [3, 4, 5])


def q_ml_silhouette(spark, sf_dir):
    """Clustering-quality eval (clustering.py:silhouette_profile): per-
    cluster simplified (centroid, squared-distance) silhouette of the
    ml_kmeans fit — integer micro-unit ratios so the per-cluster fold is
    an exact BIGINT sum; the oracle replays the full Lloyd fit plus the
    same fold (clustering.py:silhouette_oracle_sql). The number that
    says whether k was right BEFORE a 100 TB re-cluster."""
    from knowledgegraphbuilder_spark.operators.clustering import silhouette_profile

    return silhouette_profile(_t(spark, sf_dir, "embeddings"), k=8, iters=2)


def q_kg_bgp_filter(spark, sf_dir):
    """SPARQL FILTER (bgp.py:filter_match): the tech->org pattern
    restricted by a boolean expression over the bound variables
    (length(a) > 5 AND a <> b) — the expression lands inside the
    compiled join plan where Catalyst pushes sargable conjuncts to the
    pattern scans. Oracle: same WHERE over the distinct binding set."""
    from knowledgegraphbuilder_spark.operators.bgp import filter_match

    return filter_match(
        _kg(spark, sf_dir).triples,
        [("?a", "technology_near_organization", "?b")],
        "length(a) > 5 AND a <> b",
    )


def q_kg_bgp_minus(spark, sf_dir):
    """SPARQL MINUS (bgp.py:minus_match): all (a, p, b) statements minus
    bindings compatible with { ?a technology_near_technology ?b } on the
    shared variables (a, b) — W3C set-difference semantics as one
    left_anti equi-join. Oracle: NOT EXISTS on the shared variables."""
    from knowledgegraphbuilder_spark.operators.bgp import minus_match

    return minus_match(
        _kg(spark, sf_dir).triples,
        [("?a", "?p", "?b")],
        [("?a", "technology_near_technology", "?b")],
    )


def q_kg_bgp_agg(spark, sf_dir):
    """SPARQL GROUP BY + aggregates (bgp.py:agg_match): per organization,
    how many distinct tech->org bindings land on it and the
    lexicographically first such technology — one map-side-combinable
    hash aggregate over the distinct binding table. Oracle: the same
    GROUP BY over the distinct binding select."""
    from knowledgegraphbuilder_spark.operators.bgp import agg_match

    return agg_match(
        _kg(spark, sf_dir).triples,
        [("?t", "technology_near_organization", "?o")],
        ["o"],
        [("count", "*", "n_bindings"), ("min", "t", "first_tech")],
    )


def q_kg_ask(spark, sf_dir):
    """SPARQL ASK (bgp.py:ask_match): does any technology sit adjacent
    to a resource? Single boolean row; the compiled plan short-circuits
    under LIMIT 1. Completes the four W3C query forms together with
    SELECT (kg_bgp), CONSTRUCT (kg_infer) and DESCRIBE (kg_describe).
    Oracle: SELECT EXISTS over the same pattern."""
    from knowledgegraphbuilder_spark.operators.bgp import ask_match

    return ask_match(
        _kg(spark, sf_dir).triples,
        [("?a", "technology_near_resource", "?b")],
    )


def q_kg_describe(spark, sf_dir):
    """SPARQL DESCRIBE (bgp.py:describe_entity): the one-hop star of
    'customer' — every distinct statement holding it as subject or
    object, tagged with the role. Two predicate-pushed scans + a narrow
    union. Oracle: the same two selects unioned."""
    from knowledgegraphbuilder_spark.operators.bgp import describe_entity

    return describe_entity(_kg(spark, sf_dir).triples, "customer")


_SHACL_SHAPES = [
    # every technology must touch at least one organization
    ("technology", "technology_near_organization", "out", 1, None),
    # an organization fanning to more than one technology is suspect
    ("organization", "organization_near_technology", "out", None, 1),
    # a system should be reached by at least two technologies
    ("system", "technology_near_system", "in", 2, None),
    # resources should not chain to each other
    ("resource", "resource_near_resource", "out", None, 0),
]


def q_kg_shacl(spark, sf_dir):
    """SHACL-style shape validation (shapes.py:shacl_validate): four
    cardinality shapes (min/max count on a predicate path, out/in)
    targeted by NER label, evaluated set-wise over the distinct
    statement view — the extraction-QA layer an open-extraction KG
    lacks. Output is the full per-(entity, shape) report with observed
    counts and conformance. Oracle replays the same counts + broadcast
    shape table as SQL."""
    from knowledgegraphbuilder_spark.operators.shapes import shacl_validate

    kg = _kg(spark, sf_dir)
    types = kg.mentions.select(
        F.col("text").alias("entity"), "label"
    ).distinct()
    return shacl_validate(kg.triples, types, _SHACL_SHAPES)


def q_g40_wl(spark, sf_dir):
    """Edge-labeled Weisfeiler-Lehman refinement over the KG
    (graphstats.py:wl_refine, 2 rounds): nodes share a color iff their
    2-hop typed neighborhoods are WL-indistinguishable — the structural
    fingerprint that buckets entities before any pairwise subgraph
    comparison. Oracle unrolls both rounds with list_sort(list(...))
    and the identical sha256 byte stream."""
    from knowledgegraphbuilder_spark.operators.graphstats import wl_refine

    return wl_refine(_kg(spark, sf_dir).triples, rounds=2)


_ONTOLOGY = [
    ("technology", "artifact"),
    ("system", "artifact"),
    ("resource", "artifact"),
    ("organization", "agent"),
    ("artifact", "thing"),
    ("agent", "thing"),
]


def q_kg_rdfs_types(spark, sf_dir):
    """RDFS rdfs9 entailment (ontology.py:rdfs_types): entity typing
    under the closed subclass hierarchy technology/system/resource ⊑
    artifact ⊑ thing, organization ⊑ agent ⊑ thing — the closure is
    computed driver-side (ontologies are dim-sized by construction)
    and entailed over the typing table with ONE broadcast equi-join.
    Oracle: recursive closure over the VALUES hierarchy joined to the
    mention-label replay."""
    from knowledgegraphbuilder_spark.operators.ontology import rdfs_types

    kg = _kg(spark, sf_dir)
    types = kg.mentions.select(
        F.col("text").alias("entity"), "label"
    ).distinct()
    return rdfs_types(types, _ONTOLOGY)


def q_kg_path_alt(spark, sf_dir):
    """SPARQL property-path alternation + inverse (bgp.py:path_alt):
    pairs connected forward by technology_near_organization |
    technology_near_system, or by the INVERSE of
    organization_near_technology — i.e. everything a technology points
    at plus everything that points back at it, as one pruned-scan
    union. Oracle: the same three selects unioned under DISTINCT."""
    from knowledgegraphbuilder_spark.operators.bgp import path_alt

    return path_alt(
        _kg(spark, sf_dir).triples,
        preds=["technology_near_organization", "technology_near_system"],
        inverse_preds=["organization_near_technology"],
    )


def q_ts_textrank(spark, sf_dir):
    """TextRank keyword extraction (textstats.py:textrank_keywords):
    PageRank over the corpus word co-occurrence graph — bigram counts as
    edge weights, every word a teleport source (uniform teleport ==
    classic PageRank), top-20 by 4dp-rounded salience. Composition of
    the ts_pmi bigram machinery with the g3 PPR operator; oracle =
    bigram CTE + the same 30-iteration recursive-CTE PageRank."""
    from knowledgegraphbuilder_spark.operators.textstats import (
        textrank_keywords,
    )

    return textrank_keywords(_t(spark, sf_dir, "documents"), top_k=20)


def q_ml_bcubed(spark, sf_dir):
    """B-cubed clustering evaluation (mlstats.py:bcubed_eval) of the
    MinHash-LSH dedup resolution against exact-content gold clusters:
    predicted cluster = dd_resolve's CC canonical, gold = sha256(text).
    Per-item ratios are floor-scaled to integer micro-units so the
    corpus fold is order-independent and exact (lp_rank_eval
    discipline). The ER-quality number a production dedup pipeline
    tracks release-over-release."""
    from knowledgegraphbuilder_spark.operators.mlstats import bcubed_eval

    docs = _t(spark, sf_dir, "documents")
    pairs = dd.minhash_lsh_pairs(docs, threshold=0.9, n_perm=32, bands=16, k=3)
    comp = connected_components(
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    )
    assign = (
        docs.select(F.col("doc_id").cast("string").alias("doc_id"), "text")
        .join(comp.withColumnRenamed("vertex", "doc_id"), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("component", "doc_id").alias("pred"),
            F.sha2(F.col("text"), 256).alias("gold"),
        )
    )
    return bcubed_eval(assign, "doc_id", "pred", "gold")


def q_g42_bipartite(spark, sf_dir):
    """Per-component bipartiteness audit
    (graphstats.py:bipartite_check) of the weight>=2
    co-purchase graph: CC + ONE multi-source parity BFS + a single
    colored-edge self-join — is_bipartite iff no BFS level closes an
    edge on itself (odd cycle). The 2-colorability check behind any
    two-way partition of a conflict graph. Oracle: recursive min-reach
    CC + recursive min-dist parity walk + the same edge parity audit."""
    from knowledgegraphbuilder_spark.operators.graphstats import (
        bipartite_check, cooccurrence_edges,
    )

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    edges = cooccurrence_edges(li, "l_orderkey", "l_partkey",
                               max_group_size=50)
    return bipartite_check(edges.filter(F.col("weight") >= 2))


def q_layout_conductance(spark, sf_dir):
    """Conductance of the sha-mod-32 hash placement per partition
    (layout.py:partition_conductance): cut volume over min(vol, rest) —
    the load-balance-aware separation quality behind edge_cut_stats'
    raw traffic counts; uniform hash should sit near (k-1)/k of the
    normalized volume, and any partition materially below is
    exploitable locality. Exact integer volumes/cuts, one divide at the
    end; oracle replays the engine-portable sha bucket + the same
    aggregates."""
    from knowledgegraphbuilder_spark.operators.layout import (
        partition_conductance,
    )

    return partition_conductance(_copurchase_edges(spark, sf_dir), k=32,
                                 src_col="src", dst_col="dst")


def q_ml_kanonymity(spark, sf_dir):
    """k-anonymity audit (curation.py:k_anonymity_audit) of the
    behavioral quasi-identifier (n_events, n_types, n_days) per user in
    the events table — the re-identification-risk histogram a release
    pipeline checks after pii_redact removes direct identifiers.
    Classes below k=5 are at risk. Two shrinking-key aggregates, exact
    integers; oracle is the same double groupBy."""
    from knowledgegraphbuilder_spark.operators.curation import (
        k_anonymity_audit,
    )

    ev = _t(spark, sf_dir, "events")
    sig = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.countDistinct("event_type").cast("long").alias("n_types"),
        F.countDistinct(F.to_date("ts")).cast("long").alias("n_days"),
    )
    return k_anonymity_audit(sig, ["n_events", "n_types", "n_days"], k=5)


def q_g45_butterfly(spark, sf_dir):
    """Per-item butterfly count (graphstats.py:butterfly_count) over
    the orders x parts bipartite graph — the 2x2-biclique cohesion
    metric (VLDB'19) computed from the capped co-occurrence pair table
    with one integer aggregate: butterflies(a,b) = C(weight, 2).
    Oracle replays the pair weights and the same integer formula."""
    from knowledgegraphbuilder_spark.operators.graphstats import (
        butterfly_count,
    )

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    return butterfly_count(li, "l_orderkey", "l_partkey", max_group_size=50)


def q_kg_cardinality(spark, sf_dir):
    """Predicate cardinality typing (graph_build.py:
    predicate_cardinality): 1:1 / 1:N / N:1 / N:M classification from
    per-subject and per-object fan maxima over the distinct statement
    view — the schema profile that picks join strategies (functional
    predicates broadcast; N:M shuffles). Oracle: the same two fan
    aggregates and CASE classification."""
    from knowledgegraphbuilder_spark.operators.graph_build import (
        predicate_cardinality,
    )

    return predicate_cardinality(_kg(spark, sf_dir).triples)


def q_kg_inverse_detect(spark, sf_dir):
    """owl:inverseOf / symmetry induction (graph_build.py:
    inverse_predicate_detect): Jaccard of each predicate's reversed
    statement set against every forward set via ONE (subj, obj)
    equi-join — mirrored-extraction discovery (the gazetteer KG's
    X_near_Y / Y_near_X pairs are exact inverses, so the operator must
    find them at jaccard 1.0). Oracle replays the reversed join and
    thresholding."""
    from knowledgegraphbuilder_spark.operators.graph_build import (
        inverse_predicate_detect,
    )

    return inverse_predicate_detect(_kg(spark, sf_dir).triples,
                                    min_jaccard=0.5)


def q_kg_rule_mine(spark, sf_dir):
    """AMIE-style chain-rule mining (graph_build.py:
    mine_composition_rules): score every p(x,y) ∧ q(y,z) → r(x,z) by
    CWA support and confidence over the distinct statement view — the
    miner feeding kg_infer's forward chaining; one mid-entity self-join
    (fan-capped) + one (x,z) head join. Oracle replays both joins and
    the integer ratio."""
    from knowledgegraphbuilder_spark.operators.graph_build import (
        mine_composition_rules,
    )

    return mine_composition_rules(_kg(spark, sf_dir).triples,
                                  min_support=2, min_confidence=0.5)


# ---------------------------------------------------------------------------
# Tranche 70: knowledge fusion & completion (the Knowledge Vault line —
# Dong et al. KDD 2014) + eigenvector centrality + owl:disjointWith audit
# ---------------------------------------------------------------------------

_FUNCTIONAL_PREDS = [
    "technology_near_technology",
    "system_near_technology",
    "technology_near_organization",
]


def q_kg_fuse(spark, sf_dir):
    """Noisy-OR extractor fusion (fusion.py:fuse_extractions, Knowledge
    Vault §3.1): every distinct (statement, doc) extraction event is
    assigned one of two extractor classes by doc parity (residual miss
    rates 0.3 / 0.1) and folded into a per-statement posterior in exact
    saturating micro-units — the confidence column the reference's graph
    never has (back/kgg/nodes/relation_extraction.py keeps presence
    only). Oracle replays the integer arithmetic row-for-row."""
    from knowledgegraphbuilder_spark.operators.fusion import fuse_extractions

    return fuse_extractions(
        _kg(spark, sf_dir).triples,
        "CASE WHEN cast(regexp_extract(doc_id, '([0-9]+)$', 1) as bigint) % 2 = 0 THEN 'a' ELSE 'b' END",
        {"a": 3, "b": 1},
    )


def q_kg_truth(spark, sf_dir):
    """Truth discovery for functional predicates (fusion.py:
    resolve_functional): deterministic majority vote per (subj, pred)
    over distinct supporting docs, tie-broken by smallest object — the
    resolution step that consumes kg_funcviol's audit queue. Argmax is
    min(struct(-votes, obj)) — an aggregate, never a corpus window."""
    from knowledgegraphbuilder_spark.operators.fusion import resolve_functional

    return resolve_functional(_kg(spark, sf_dir).triples, _FUNCTIONAL_PREDS)


def q_kg_construct(spark, sf_dir):
    """SPARQL CONSTRUCT with blank-node skolemization (fusion.py:
    construct_graph, W3C SPARQL 1.1 §16.2): the tech->org->tech pattern
    reified into an event node per binding ('b:' + sha256 of the full
    binding) carrying rdf_type / ev_subject / ev_object triples — the
    n-ary reification surface N-Triples export needs. One planned BGP
    join, three projections of the same binding set."""
    from knowledgegraphbuilder_spark.operators.fusion import construct_graph

    body = [
        ("?a", "technology_near_organization", "?b"),
        ("?b", "organization_near_technology", "?c"),
    ]
    heads = [
        ("_:ev", "rdf_type", "TechLinkEvent"),
        ("_:ev", "ev_subject", "?a"),
        ("_:ev", "ev_object", "?c"),
    ]
    return construct_graph(_kg(spark, sf_dir).triples, body, heads)


def q_kg_pra(spark, sf_dir):
    """Path Ranking Algorithm features (fusion.py:pra_path_features, Lao
    & Cohen ECML 2010): per-(x, z) counts of 2-hop typed paths for every
    pair the graph asserts technology_near_technology about — the
    KG-completion feature table. Fan-capped mid join (same bound as
    kg_rule_mine; STRESS_WL_RULES_r4.json is the blowup artifact)."""
    from knowledgegraphbuilder_spark.operators.fusion import pra_path_features

    return pra_path_features(
        _kg(spark, sf_dir).triples, "technology_near_technology", max_fan=1000
    )


def q_kg_sameas(spark, sf_dir):
    """owl:sameAs fusion (fusion.py:sameas_rewrite): the triple store is
    polluted with deterministic underscore-variant surface forms ('_x',
    '__x' on doc_id % 3 / % 9 subjects, '_x' on % 5 objects), sameAs
    evidence is mined as full-strip normalization edges, closed with the
    REAL large/small-star CC (transitive merges across variants that
    never co-occur), and the graph is rewritten onto component
    representatives. Oracle replays the closure algebraically: the
    component min is always the most-underscored surface of each base."""
    from knowledgegraphbuilder_spark.operators.fusion import sameas_rewrite

    t = _kg(spark, sf_dir).triples.select("subj", "pred", "obj", "doc_id")
    noisy = (
        t.select("subj", "pred", "obj")
        .unionAll(
            t.filter("cast(regexp_extract(doc_id, '([0-9]+)$', 1) as bigint) % 3 = 0").select(
                F.concat(F.lit("_"), F.col("subj")).alias("subj"), "pred", "obj"
            )
        )
        .unionAll(
            t.filter("cast(regexp_extract(doc_id, '([0-9]+)$', 1) as bigint) % 9 = 0").select(
                F.concat(F.lit("__"), F.col("subj")).alias("subj"), "pred", "obj"
            )
        )
        .unionAll(
            t.filter("cast(regexp_extract(doc_id, '([0-9]+)$', 1) as bigint) % 5 = 0").select(
                "subj", "pred", F.concat(F.lit("_"), F.col("obj")).alias("obj")
            )
        )
    )
    surface = (
        noisy.select(F.col("subj").alias("t"))
        .union(noisy.select(F.col("obj").alias("t")))
        .distinct()
    )
    sameas = surface.filter(F.col("t").startswith("_")).select(
        F.col("t").alias("src"),
        F.regexp_replace(F.col("t"), "^_+", "").alias("dst"),
    )
    return sameas_rewrite(noisy, sameas)


def q_g41_eigen(spark, sf_dir):
    """Eigenvector centrality by 3 exact-integer power-method rounds over
    the symmetrized co-purchase graph (graphstats.py:
    eigenvector_centrality): per-round infinity-norm fixed-point
    normalization via integer floor-division by the round max (a 1-row
    broadcast, not a collect), so the oracle unrolls the identical
    rounds bit-for-bit — the katz_units discipline applied to the power
    method."""
    from knowledgegraphbuilder_spark.operators.graphstats import (
        eigenvector_centrality,
    )

    return eigenvector_centrality(
        _copurchase_edges(spark, sf_dir).filter(F.col("weight") >= 2), iters=3
    )


def q_kg_disjoint(spark, sf_dir):
    """owl:disjointWith consistency audit (ontology.py:
    disjointness_violations): entities typed with both classes of the
    declared-disjoint (artifact, agent) pair AFTER rdfs9 entailment —
    disjointness inherited through the closed hierarchy. Typing noise is
    planted deterministically (odd-length technology surfaces also typed
    organization) so the audit has real rows; both probe joins are
    broadcast-dim."""
    from knowledgegraphbuilder_spark.operators.ontology import (
        disjointness_violations,
    )

    kg = _kg(spark, sf_dir)
    types = kg.mentions.select(
        F.col("text").alias("entity"), "label"
    ).distinct()
    planted = types.filter(
        (F.col("label") == "technology") & (F.length("entity") % 2 == 1)
    ).select("entity", F.lit("organization").alias("label"))
    return disjointness_violations(
        types.unionAll(planted).distinct(), _ONTOLOGY, [("artifact", "agent")]
    )


def q_kg_embed_rank(spark, sf_dir):
    """KG-completion ranking evaluation (fusion.py:transe_rank_eval,
    TransE scoring, Bordes et al. 2013) over the cycle-bearing
    co-purchase core rendered as a 2-relation KG — 'tie' for every
    weight>=2 core edge, 'strong_tie' for the weight>=3 reverse edges
    (the _directed_copurchase construction) — so candidate sets are
    ~100 entities and ranks genuinely spread. Deterministic sha256
    integer embeddings, exact-integer L1 ranking, filtered-candidate
    protocol; the oracle replays the whole evaluation."""
    from knowledgegraphbuilder_spark.operators.fusion import transe_rank_eval

    eu = _copurchase_edges(spark, sf_dir).filter(F.col("weight") >= 2)
    core = (
        eu.filter(F.col("weight") >= 3)
        .select(F.col("src").alias("node"))
        .unionAll(eu.filter(F.col("weight") >= 3).select(F.col("dst").alias("node")))
        .distinct()
    )
    ec = (
        eu.join(core.select(F.col("node").alias("src")), "src", "left_semi")
        .join(core.select(F.col("node").alias("dst")), "dst", "left_semi")
    )
    triples = (
        ec.select(F.col("src").alias("subj"), F.lit("tie").alias("pred"),
                  F.col("dst").alias("obj"))
        .unionAll(
            ec.filter(F.col("weight") >= 3).select(
                F.col("dst").alias("subj"),
                F.lit("strong_tie").alias("pred"),
                F.col("src").alias("obj"),
            )
        )
    )
    return transe_rank_eval(triples)


def q_kg_export_rdfstar(spark, sf_dir):
    """RDF-star export of the FUSED graph (export.py:to_rdfstar): each
    statement serialized as a quoted triple annotated with its noisy-OR
    posterior in integer micro-units — the statement-level-metadata
    surface plain N-Triples reification needs 4 lines for; composes
    kg_fuse's fusion with kg_export_nt's IRI algebra, and the oracle
    composes both replays."""
    from knowledgegraphbuilder_spark.operators.export import to_rdfstar
    from knowledgegraphbuilder_spark.operators.fusion import fuse_extractions

    fused = fuse_extractions(
        _kg(spark, sf_dir).triples,
        "CASE WHEN cast(regexp_extract(doc_id, '([0-9]+)$', 1) as bigint)"
        " % 2 = 0 THEN 'a' ELSE 'b' END",
        {"a": 3, "b": 1},
    )
    return to_rdfstar(fused)


def q_mm_dedup(spark, sf_dir):
    """Media near-dup resolution (multimodal.py:phash_dedup_resolve):
    16-bit perceptual-hash codes over every distinct media ref,
    Hamming<=1 candidate pairs via the simhash banding pigeonhole (an
    equi-join on (band, value) — never refs^2), exact popcount verify,
    large/small-star CC closure, full (media_ref, canon_ref, code)
    assignment — the join table that makes a 100 TB pipeline fetch and
    decode each near-duplicate image once. Oracle replays codes, the
    Hamming-verified pair set, and a recursive min-reach closure."""
    from knowledgegraphbuilder_spark.operators.multimodal import (
        phash_dedup_resolve,
    )

    return phash_dedup_resolve(_spans_cached(spark, sf_dir))


def q_kg_path_quant(spark, sf_dir):
    """SPARQL quantified property path technology_near_technology{2,3}
    (bgp.py:path_quantified, W3C EXISTENCE semantics — the r4-advice
    fix): pairs with SOME typed path of length 2 or 3, hops = the
    smallest matching length, even when a 1-hop edge also connects the
    pair. Per-hop-length reachability (exact-length composition, no
    minimality anti-join). Oracle = length-2 and length-3 composition
    CTEs + min-length group."""
    from knowledgegraphbuilder_spark.operators.bgp import path_quantified

    return path_quantified(
        _kg(spark, sf_dir).triples, "technology_near_technology", 2, 3,
        semantics="exists",
    )


def q_kg_npath(spark, sf_dir):
    """SPARQL negated property set !(technology_near_organization |
    organization_near_technology) (bgp.py:negated_property_set):
    distinct pairs connected by any OTHER predicate — one NOT-IN filter
    Catalyst pushes into the statement scan (prunes rel_type partitions
    on the sinked edge table) + distinct."""
    from knowledgegraphbuilder_spark.operators.bgp import negated_property_set

    return negated_property_set(
        _kg(spark, sf_dir).triples,
        ["technology_near_organization", "organization_near_technology"],
    )


def q_ml_dbscan(spark, sf_dir):
    """Grid-accelerated DBSCAN over the first two embedding dims
    (clustering.py:grid_dbscan, Ester et al. KDD'96): integer milli-unit
    coordinates, eps-cell equi-join (3x3 probe — cost tracks density,
    never corpus^2), exact d^2 <= eps^2 verify, core/border/noise roles
    with CC-closed clusters and the deterministic min-cluster border
    pin. The density-based complement of ml_kmeans; oracle replays the
    quadratic neighborhood + recursive closure."""
    from knowledgegraphbuilder_spark.operators.clustering import grid_dbscan

    return grid_dbscan(_t(spark, sf_dir, "embeddings"), eps_milli=25,
                       min_pts=4)


def q_stream_fuse(spark, sf_dir):
    """STREAMING noisy-OR fusion maintenance under the value-exact gate
    (streaming/ingest.py:run_fusion_available_now): the spans corpus
    arrives as three doc-ranged files, each micro-batch runs the
    batch RE chain and replace-MERGEs its per-statement extractor-class
    EVENT COUNTS under a content-derived batch key (the stream_cms
    discipline — counts add, so idempotency comes from batch keying,
    not the fold), the whole input REPLAYS against a fresh checkpoint,
    and read_fused folds the partials into the saturating posterior —
    which must equal batch kg_fuse exactly (same oracle)."""
    from knowledgegraphbuilder_spark.streaming.ingest import (
        read_fused, run_fusion_available_now,
    )

    base = _stream_span_files(spark, sf_dir, "kg_stream_fuse")
    run_fusion_available_now(spark, f"{base}/in/*", f"{base}/st",
                             f"{base}/ck")
    run_fusion_available_now(spark, f"{base}/in/*", f"{base}/st",
                             f"{base}/ck2")
    return read_fused(spark, f"{base}/st")


def q_g46_temporal(spark, sf_dir):
    """Time-respecting temporal motifs over the event stream
    (graphstats.py:temporal_motifs, Paranjape et al. WSDM 2017): per
    event type, windowed contacts (0 < dt <= 1h, users distinct) and
    2-path influence motifs chained through the shared middle event —
    candidates from a lossless (type, time-bucket) equi-join probing
    self + next bucket, exact integer microsecond arithmetic. Oracle
    replays quadratically within type (test-scale only; the operator
    never goes quadratic)."""
    from knowledgegraphbuilder_spark.operators.graphstats import temporal_motifs

    return temporal_motifs(_t(spark, sf_dir, "events"))


def q_kg_summary(spark, sf_dir):
    """SNAP-style KG summarization by structural equivalence
    (graphstats.py:wl_quotient, Tian et al. SIGMOD 2008): quotient the
    graph over 2-round WL colors — one summary node per color, one
    summary edge per (src color, pred, dst color) with statement and
    member counts plus deterministic exemplars. The schema-shaped view
    a billion-statement graph is explored through; |summary| is bounded
    by structural diversity, not |V|. Oracle composes the g40_wl color
    replay with two joins and a grouped count."""
    from knowledgegraphbuilder_spark.operators.graphstats import wl_quotient

    return wl_quotient(_kg(spark, sf_dir).triples, rounds=2)


def q_kg_explain(spark, sf_dir):
    """Why-provenance for rule derivations (bgp.py:explain_rule, the
    count+exemplar restriction of Green et al. PODS 2007 lineage): for
    every (a, c) the kg_infer rule derives, the number of distinct
    intermediate witnesses, a deterministic example, and the distinct
    source documents asserting any participating body atom — the
    curation-UI explanation surface. One planned BGP join + one
    aggregate + one narrow probe join per body atom."""
    from knowledgegraphbuilder_spark.operators.bgp import explain_rule

    body = [
        ("?a", "technology_near_organization", "?b"),
        ("?b", "organization_near_technology", "?c"),
    ]
    return explain_rule(_kg(spark, sf_dir).triples, body,
                        ("?a", "inferred_tech_link", "?c"))


def q_kg_vacuum(spark, sf_dir):
    """Snapshot retention under the value-exact gate
    (sinks.py:vacuum_snapshots, the expireSnapshots analog): three
    snapshots land (triples / nodes-only / triples again), the oldest
    is expired with keep_last=2, and the result re-reads EVERY retained
    snapshot through read_graph_snapshot — so the invariant that a
    fallback-live table version (nodes v2, triples v1) survives the
    vacuum is exercised against the real filesystem: a wrongly deleted
    version would change the counts or fail the read. Oracle replays
    the retained (snapshot, table, n_rows) matrix from the statement
    CTEs."""
    import hashlib
    import shutil

    from knowledgegraphbuilder_spark.sources.sinks import (
        read_graph_snapshot, read_snapshot_log, vacuum_snapshots,
        write_graph_snapshot,
    )

    kg = _kg(spark, sf_dir)
    tag = hashlib.sha256(sf_dir.encode()).hexdigest()[:10]
    base = f"/tmp/kg_vacuum_{tag}"
    shutil.rmtree(base, ignore_errors=True)
    write_graph_snapshot(base, {"triples": kg.triples})
    write_graph_snapshot(base, {"nodes": kg.nodes})
    write_graph_snapshot(base, {"triples": kg.triples})
    vacuum_snapshots(base, keep_last=2)
    rows = []
    for entry in read_snapshot_log(base):
        sid = entry["snapshot_id"]
        for name, df in sorted(read_graph_snapshot(spark, base, sid).items()):
            rows.append((sid, name, df.count()))
    return spark.createDataFrame(
        rows, "snapshot_id long, table_name string, n_rows long"
    )


def q_stream_cc(spark, sf_dir):
    """STREAMING incremental connected components under the value-exact
    gate (streaming/ingest.py:run_cc_available_now): the near-dup pair
    edges (the g4_cc substrate) arrive as three hash-split files; each
    micro-batch recomputes ONLY the components its new edges touch
    (affected-component recompute — per-batch cost tracks the touched
    neighborhood, never the accumulated graph), the whole input REPLAYS
    against a fresh checkpoint (confluent: ids are component-min, so
    the fold is monotone and replays rewrite identical rows), and the
    final assignment must equal batch CC — the g4_cc oracle verbatim."""
    import hashlib
    import shutil

    from knowledgegraphbuilder_spark.streaming.ingest import (
        read_cc_assign, run_cc_available_now,
    )

    pairs = dd.ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents"), threshold=0.9, k=3
    )
    edges = pairs.select(F.col("id_a").alias("src"),
                         F.col("id_b").alias("dst"))
    tag = hashlib.sha256(sf_dir.encode()).hexdigest()[:10]
    base = f"/tmp/kg_stream_cc_{tag}"
    shutil.rmtree(base, ignore_errors=True)
    for b in range(3):
        (edges.filter(F.expr(f"pmod(xxhash64(src, dst), 3) = {b}")
                      ).coalesce(1)
         .write.mode("overwrite").parquet(f"{base}/in/b{b}"))
    run_cc_available_now(spark, f"{base}/in/*", f"{base}/st", f"{base}/ck")
    # single-batch replay against a fresh checkpoint: a DIFFERENT trigger
    # shape must converge to the same assignment (the fold is confluent)
    run_cc_available_now(spark, f"{base}/in/*", f"{base}/st", f"{base}/ck2",
                         max_files_per_trigger=None)
    return read_cc_assign(spark, f"{base}/st")


def q_sk_srcsim(spark, sf_dir):
    """Source-vs-source resemblance from the MinHash group signatures
    (sketches.py:minhash_source_resemblance, Broder 1997 collision
    estimator): est. Jaccard per source pair as exact integers
    (n_agree / n_perm, micro-unit ratio) — the cross-corpus-overlap
    question the stream_minhash state exists to answer, from 2*n_perm
    longs per pair. Oracle replays the Carter-Wegman signatures and the
    agreement count."""
    from knowledgegraphbuilder_spark.operators.sketches import (
        minhash_source_resemblance,
    )

    return minhash_source_resemblance(_t(spark, sf_dir, "documents"))


def q_g47_triads(spark, sf_dir):
    """Closed directed triad census over the cycle-bearing co-purchase
    core (graphstats.py:triad_census, Milo et al. Science 2002):
    feed-forward loops counted at their unique wedge, 3-cycles anchored
    at the smallest node — the motif signature separating hierarchy from
    feedback. One wedge equi-join + chord/back existence joins; oracle
    replays both counts."""
    from knowledgegraphbuilder_spark.operators.graphstats import triad_census

    return triad_census(_directed_copurchase(spark, sf_dir, core_only=True))


def q_kg_cardest(spark, sf_dir):
    """Join-cardinality statistics for BGP planning
    (graph_build.py:join_cardinality_stats, Selinger et al. SIGMOD'79):
    the System-R containment estimate vs the TRUE composition-join
    cardinality per ordered predicate pair, relative error in integer
    micro-units — where the independence assumption breaks on this KG.
    Oracle replays counts, estimate, and error exactly."""
    from knowledgegraphbuilder_spark.operators.graph_build import (
        join_cardinality_stats,
    )

    return join_cardinality_stats(_kg(spark, sf_dir).triples)


def q_kg_asof(spark, sf_dir):
    """Temporal as-of KG query (graph_build.py:asof_statements): each
    statement carries a [first, last] assertion-time window over its
    supporting documents (statement_validity — the Wikidata-qualifier
    degradation that document provenance supports), and the query
    returns the graph as it stood at the corpus midpoint T —
    statement-granularity time travel complementing
    kg_snapshot_timetravel's snapshot granularity. One grouped
    min/max/count + a window filter; oracle replays both."""
    from knowledgegraphbuilder_spark.operators.graph_build import (
        asof_statements,
    )

    t = _kg(spark, sf_dir).triples
    mx = t.selectExpr(
        "max(cast(regexp_extract(doc_id, '([0-9]+)$', 1) as bigint)) AS m"
    ).first()["m"]
    return asof_statements(t, int(mx) // 2)


def q_ml_conformal(spark, sf_dir):
    """Split-conformal prediction intervals around the grouped OLS fit
    (mlstats.py:conformal_intervals, Lei et al. JASA 2018): sha-derived
    3-way split, the fit carried as exact integer sufficient statistics,
    residuals as exact scaled integers in decimal(38) == HUGEINT, the
    conformal quantile as a k-th order statistic, coverage as integer
    compares — the distribution-free uncertainty wrapper every
    production regression ships with, value-exact end to end."""
    from knowledgegraphbuilder_spark.operators.mlstats import (
        conformal_intervals,
    )

    return conformal_intervals(
        _t(spark, sf_dir, "lineitem"),
        x_expr="cast(l_quantity as bigint)",
        y_expr="cast(floor(l_extendedprice * 100) as bigint)",
        key_expr="concat(cast(l_orderkey as string), '-', "
                 "cast(l_linenumber as string))",
        group_col="l_returnflag",
    )


def q_kg_completeness(spark, sf_dir):
    """Class-level completeness audit (graph_build.py:
    completeness_profile, the Galarraga WSDM'17 question): per (entity
    class, predicate), the fraction of the class's entities asserting
    the predicate at least once, exact integer micro-units — the
    acquisition-planning table. Two grouped distinct counts over a
    broadcast typing join; oracle replays both."""
    from knowledgegraphbuilder_spark.operators.graph_build import (
        completeness_profile,
    )

    kg = _kg(spark, sf_dir)
    types = kg.mentions.select(
        F.col("text").alias("entity"), "label"
    ).distinct()
    return completeness_profile(kg.triples, types)
