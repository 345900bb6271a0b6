"""Dump explain('formatted') for the engine's key plans into PLANS.md with
commentary — the evidence that filters push down, small dims broadcast, and
no row-at-a-time Python exists anywhere in the hot path.

Usage: python tools/explain_plans.py [--sf /root/testdata/sf0.01]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    import argparse

    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--out", default="PLANS.md")
    args = ap.parse_args()

    from pyspark.sql import functions as F

    import __spark_entry__ as entry
    from knowledgegraphbuilder_spark.session import build_session

    spark = build_session("plans", parallelism=8, shuffle_partitions=8)

    def plan(df) -> str:
        return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")

    sections = []

    def add(title: str, commentary: str, df) -> None:
        p = plan(df)
        sections.append(f"## {title}\n\n{commentary}\n\n```\n{p.strip()}\n```\n")

    docs = spark.read.parquet(f"{args.sf}/documents.parquet")
    add(
        "Parquet scan: predicate pushdown + column pruning",
        "The filter reaches the scan (`PushedFilters`) and only the projected "
        "columns are read (`ReadSchema`) — free via Catalyst, kept honest by "
        "`tests/test_scale_properties.py`.",
        docs.filter(F.col("lang") == "en").select("doc_id", "n_chars"),
    )
    add(
        "Star join: broadcast of small dimensions",
        "nation (25 rows) broadcasts; AQE plans the big fact joins. No "
        "hand-scheduling — the plan follows from declaring the join.",
        entry.q_sql_join_agg(spark, args.sf),
    )
    # fresh, fully-lazy pipeline for the KG plan dumps: the contract path
    # localCheckpoints fan-out points, which would hide everything upstream
    # behind `Scan ExistingRDD` and gut the evidence
    from knowledgegraphbuilder_spark.operators.canonicalize import cluster_mentions_exact
    from knowledgegraphbuilder_spark.plans.pipeline import run_pipeline
    from knowledgegraphbuilder_spark.sources.interleaved import read_documents_parquet

    kg = run_pipeline(read_documents_parquet(spark, args.sf), entry.CFG)
    add(
        "KG mention extraction (chunker UDF -> NER UDF -> dedup window)",
        "Exactly two `MapInPandas` operators (the chunker UDTF and the "
        "Arrow-batched NER backend) and zero `BatchEvalPython` (row-at-a-time "
        "Python) anywhere. The only shuffle is the first-seen dedup window, "
        "keyed by doc_id (uniform).",
        kg.mentions,
    )
    add(
        "KG triples end-to-end",
        "Full pipeline: interval join runs on a slim (doc_id, chunk_idx, "
        "offset, len) projection — chunk text is re-attached 1:1 only for "
        "gated chunks (carrying it through the mention join would multiply "
        "shuffle volume by mention count); fence parse + from_json are native "
        "expressions inside whole-stage codegen; node-key joins broadcast.",
        kg.triples,
    )
    add(
        "MinHash-LSH near-dup pairs",
        "Signatures are higher-order native expressions (xxhash64 per "
        "permutation, JVM-side); the only joins are the banded bucket "
        "self-join (shuffle volume = docs x bands) and the candidate "
        "verification — never all-pairs.",
        entry.q_dd_minhash_lsh(spark, args.sf),
    )
    add(
        "Exact n-gram Jaccard with PPJoin prefix filter",
        "Candidate generation joins only each doc's df-ordered PREFIX "
        "shingles with a size-compatibility residual — hot stop-shingles "
        "sort last and never become join keys, so no key can explode "
        "quadratically while the result stays exactly the all-pairs answer; "
        "verification joins full shingle arrays for candidates only.",
        entry.q_dd_ngram_jaccard(spark, args.sf),
    )
    add(
        "Salted canonicalization groupBy",
        "Two aggregation phases: partial by (text, salt) then final by text — "
        "head surface forms (skew) are split across `salt_buckets` reducers "
        "before the final merge.",
        cluster_mentions_exact(kg.mentions, entry.CFG),
    )
    from knowledgegraphbuilder_spark.operators.ann import ann_lsh
    from knowledgegraphbuilder_spark.operators.retrieval import hash_embed_text, index_edges

    qv = hash_embed_text("which customer stream uses spark", entry.CFG.embedding_dim)
    add(
        "ANN-LSH probe (the retrieval hot path)",
        "The edge codes (`lsh`, one bucket id per table) are computed once, "
        "at index time, in the same ArrowEvalPython pass that embeds the "
        "descriptions. The probe is ONE scan of the index with an "
        "OR-of-int-equalities Filter on those stored codes (`lsh[t] = qb_t`, "
        "no hyperplane projection) ahead of any scoring: only vectors landing "
        "in the query's bucket in some table are cosine-rescored, then "
        "TakeOrderedAndProject (brute force remains only the test oracle).",
        ann_lsh(index_edges(kg.edges, entry.CFG.embedding_dim, entry.CFG), qv, 5,
                n_bits=entry.CFG.ann_bits, n_tables=entry.CFG.ann_tables,
                id_col="edge_id", vec_col="embedding"),
    )
    from knowledgegraphbuilder_spark.operators.ann import ann_lsh_batch
    from knowledgegraphbuilder_spark.operators.retrieval import embed_column
    from pyspark.sql.types import DoubleType

    queries_df = spark.createDataFrame(
        [("q0", "which customer stream uses spark"), ("q1", "vector table technology")],
        "query_id string, query_text string",
    )
    q_emb = embed_column(queries_df, "query_text", "embedding",
                         entry.CFG.embedding_dim, dtype=DoubleType())
    add(
        "Batched ANN-LSH probe (multi-query retrieval hot path)",
        "The corpus is scanned ONCE, posexploding each edge's stored codes "
        "(computed at index time in the embedding Arrow pass) into int "
        "(table, bucket) rows; only the tiny query table is bucketed in-plan. "
        "It broadcasts and candidates come from a BroadcastHashJoin on "
        "(table, bucket) — no CartesianProduct or BroadcastNestedLoopJoin of "
        "corpus x queries anywhere in the plan (pinned by "
        "tests/test_batch_retrieval.py). Exact cosine rescoring touches only "
        "the bucket-matched candidates.",
        ann_lsh_batch(index_edges(kg.edges, entry.CFG.embedding_dim, entry.CFG), q_emb, 5,
                      dim=entry.CFG.embedding_dim, n_bits=entry.CFG.ann_bits,
                      n_tables=entry.CFG.ann_tables,
                      id_col="edge_id", vec_col="embedding"),
    )
    from knowledgegraphbuilder_spark.operators.textsearch import bm25_topk

    add(
        "BM25 keyword top-k",
        "The term filter lands BEFORE the explode's shuffle (a query touches "
        "a tiny fraction of the token stream), both aggregations are "
        "map-side combinable, corpus stats broadcast as one row, and the "
        "final top-k is TakeOrderedAndProject — no full sort, no Python.",
        bm25_topk(docs, ["customer", "stream", "spark"], k=10),
    )
    from knowledgegraphbuilder_spark.operators.curation import (
        decontaminate,
        pii_stats,
        substring_dup_stats,
    )

    add(
        "Exact-substring dup stats (windowed Lee-et-al dedup)",
        "Both shuffles move (bigint, bigint) rows only — the k-token window "
        "strings are hashed to 60-bit sha256 prefixes before the explode "
        "leaves the scan stage, and the per-window doc count is a map-side "
        "combinable partial aggregate. No strings, no Python past the scan.",
        substring_dup_stats(docs, k=8),
    )
    add(
        "Benchmark decontamination (n-gram overlap vs eval set)",
        "The eval-set window hashes broadcast (BroadcastHashJoin, pinned by "
        "tests/test_curation.py) so the training corpus is scanned exactly "
        "once with NO shuffle of training data; the per-doc aggregate rides "
        "the scan partitioning via partial aggregation.",
        decontaminate(docs, docs.limit(5), k=8),
    )
    add(
        "PII detect + redact",
        "Pure JVM regexp expressions inside one WholeStageCodegen span — "
        "zero shuffle, zero Python, scales as a map-only pass.",
        pii_stats(docs),
    )
    from knowledgegraphbuilder_spark.operators.curation import (
        mixture_sample,
        pack_sequences,
        repetition_stats,
    )

    add(
        "Gopher repetition signals (dup-word / top-n-gram fracs)",
        "The n-gram explode collapses in a partial HashAggregate before its "
        "shuffle (keyed by doc_id + gram); the per-doc argmax applies "
        "WindowGroupLimit BEFORE the doc_id exchange, so only each "
        "partition's local top-1 candidates shuffle — never the full gram "
        "counts; the one-row-per-doc result then joins back (broadcast here; "
        "AQE picks SMJ once it outgrows the threshold). No Python anywhere.",
        repetition_stats(docs, n=2),
    )
    add(
        "Weighted mixture sampling (salted hash draw)",
        "A pure map-only Filter over the scan — zero shuffle, zero Python, "
        "and the draw (sha256 of doc_id) is independent of partition layout, "
        "unlike df.sample whose output changes with repartitioning.",
        mixture_sample(docs, {f"src{i}": 0.5 for i in range(20)}),
    )
    from knowledgegraphbuilder_spark.operators.curation import quality_filter

    add(
        "Composite quality gate (C4/Gopher reject rules + reasons)",
        "Rides the repetition-stats aggregate (WindowGroupLimit-pruned "
        "argmax); the five threshold rules and the reasons array are pure "
        "codegen expressions layered on top — adding a rule costs zero extra "
        "shuffles.",
        quality_filter(docs),
    )
    add(
        "Sequence packing (per-shard running token offset)",
        "Exactly one Exchange (hash by shard) feeding a running-sum Window — "
        "shards pack independently, so a 100 TB corpus packs with "
        "shard-count-wide parallelism instead of one global ordering.",
        pack_sequences(docs, seq_len=256, n_shards=8),
    )

    from knowledgegraphbuilder_spark.operators.dedup import semantic_dedup
    from knowledgegraphbuilder_spark.operators.graphstats import (
        cooccurrence_edges,
        triangle_clustering,
    )
    from knowledgegraphbuilder_spark.operators.textstats import bigram_perplexity

    embs = spark.read.parquet(os.path.join(args.sf, "embeddings.parquet"))
    add(
        "SemDeDup semantic dedup (cluster, then prune within clusters)",
        "The centroid table rides a BroadcastExchange into the assignment "
        "argmin (one corpus scan); the pairwise cosine join is an equi-join "
        "on the cluster id — per-cluster quadratic, never corpus-quadratic. "
        "All vector math is native higher-order functions inside codegen.",
        semantic_dedup(embs, threshold=0.3),
    )
    li = spark.read.parquet(os.path.join(args.sf, "lineitem.parquet")).select(
        "l_orderkey", "l_partkey"
    )
    add(
        "Co-occurrence projection + degree-ordered triangle counting",
        "The group-size cap (window count) runs BEFORE the pair self-join, "
        "so a hot basket never squares; edges then orient from the "
        "lower-(degree,id) endpoint, putting every wedge enumeration at the "
        "low-degree corner — the hub of a skewed graph never enumerates "
        "degree^2 wedges. Equi-joins (shuffle or broadcast per AQE) "
        "throughout; no cartesian product anywhere. k_core (same module) "
        "peels with one degree aggregate + two semi-joins per round, each "
        "round truncated by an eager localCheckpoint.",
        triangle_clustering(cooccurrence_edges(li, "l_orderkey", "l_partkey")),
    )
    add(
        "Bigram-LM perplexity (CCNet-style quality scoring)",
        "Two map-side-combinable integer count aggregates (bigram, context) "
        "re-join the exploded pairs on the bigram key; the per-doc score "
        "folds a position-sorted array, so the float sum order is fixed by "
        "data, not by shuffle arrival — repartition-stable output.",
        bigram_perplexity(docs),
    )

    from knowledgegraphbuilder_spark.operators.sketches import cms_topk, hll_distinct

    add(
        "HyperLogLog distinct sketch (register-exact)",
        "One explode-free projection computes (register, rho) per row, then "
        "two map-side-combinable HashAggregates — (group, register) max and "
        "the per-group integer sum. State per group is 4096 registers "
        "regardless of input size; all arithmetic until the final 1-row-per-"
        "group estimate is exact BIGINT, so the plan is repartition-stable. "
        "No Python, no window, no join.",
        hll_distinct(li, "l_orderkey", "cast(l_partkey as string)"),
    )
    add(
        "Count-Min heavy hitters",
        "The sketch build is one explode (4 cells/row) + a partial-aggregated "
        "groupBy capped at 4x1024 cells; the probe side joins DISTINCT keys "
        "against the sketch via BroadcastHashJoin (the sketch is fixed-size "
        "by construction) and the top-k is TakeOrderedAndProject.",
        cms_topk(li, "cast(l_partkey as string)", k=20),
    )
    from knowledgegraphbuilder_spark.operators.textstats import (
        pmi_collocations,
        tfidf_topk,
    )

    add(
        "TF-IDF top terms per doc",
        "tf and df are both map-side-combinable counts off one explode; the "
        "vocab-sized df table broadcasts into the scoring join; the per-doc "
        "top-k window applies WindowGroupLimit before the doc_id exchange.",
        tfidf_topk(docs, k=3),
    )
    add(
        "PMI collocations",
        "Bigram stream exploded once; pair counts and both positional "
        "marginals are partial-aggregated; marginals broadcast; final top-k "
        "is TakeOrderedAndProject over the min-count-filtered pair table — "
        "never a sort of the full vocab^2.",
        pmi_collocations(docs, min_count=10, k=20),
    )
    from knowledgegraphbuilder_spark.operators.textsearch import rrf_fuse
    from knowledgegraphbuilder_spark.operators.ann import topk_bruteforce

    qv2 = [float(x) for x in embs.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]]
    add(
        "Hybrid retrieval: BM25 + dense legs fused by RRF",
        "Both legs end in TakeOrderedAndProject (50-row candidate lists) "
        "BEFORE the rank windows, so the single-task rank sort touches 50 "
        "rows per leg, not the corpus; the fusion is a full-outer join of "
        "two 50-row sides. BFS / label propagation (graphstats.py) are "
        "excluded here because they materialize per round (eager "
        "localCheckpoint) — their per-round plans are the degree-aggregate + "
        "semi-join shapes shown for k_core above.",
        rrf_fuse(
            [
                bm25_topk(docs, ["customer", "stream", "spark"], k=50),
                topk_bruteforce(embs, qv2, k=50).withColumnRenamed("id", "doc_id"),
            ],
            k=10,
        ),
    )

    from knowledgegraphbuilder_spark.operators.clustering import (
        _assign,
        _quantize,
    )
    from knowledgegraphbuilder_spark.operators.sketches import bloom_build, bloom_probe

    vq = _quantize(embs, "vec_id", "embedding")
    cents0 = (
        vq.orderBy(F.sha2(F.col("id"), 256)).limit(8)
        .select(F.col("id").alias("cid"), F.col("v").alias("cv"))
    )
    add(
        "k-means Lloyd iteration (quantized): assignment argmin",
        "The k-centroid table rides a BroadcastExchange into the per-vector "
        "distance argmin (min_by aggregate, not a sorted window); distances "
        "are exact BIGINT sums inside codegen. The update step (not shown — "
        "each iteration materializes via eager localCheckpoint) is a "
        "posexplode + map-side-combinable (cluster, dim) sum: k*dim rows of "
        "state, never a collect of members.",
        _assign(vq, cents0),
    )
    add(
        "Bloom filter: build + broadcast probe",
        "The filter build folds sha256 positions into at most m/63 words via "
        "a partial-aggregated bit_or; the probe joins the corpus to the "
        "broadcast word table and counts set bits per doc — the corpus never "
        "shuffles (the semi-join-pushdown primitive at fixed memory).",
        bloom_probe(docs.select(F.col("doc_id").cast("string").alias("doc_id"), "text"),
                    bloom_build(docs.limit(50), "text"), "text"),
    )

    from knowledgegraphbuilder_spark.operators.ann import ann_pq
    from knowledgegraphbuilder_spark.operators.graphstats import (
        link_prediction,
        negative_sample_edges,
    )
    from knowledgegraphbuilder_spark.operators.intervals import (
        interval_overlap_join,
    )

    ev = spark.read.parquet(os.path.join(args.sf, "events.parquet"))
    iv = ev.select(
        "user_id", "event_type",
        F.col("event_id").cast("long").alias("interval_id"),
        F.floor(F.unix_timestamp("ts")).cast("long").alias("start"),
        (F.floor(F.unix_timestamp("ts"))
         + F.floor(F.col("value") * 120)).cast("long").alias("end"),
    )
    add(
        "Binned interval-overlap join",
        "The range predicate never reaches the join: both sides explode to "
        "fixed-width bins and meet in a plain (key, bin) SortMergeJoin/"
        "ShuffledHashJoin that AQE can skew-split — no CartesianProduct or "
        "BroadcastNestedLoopJoin anywhere (pinned by tests/"
        "test_intervals.py). The overlap test re-applies exactly on "
        "candidates and each pair is emitted once by bin arithmetic, not by "
        "a distinct() shuffle.",
        interval_overlap_join(
            iv.filter(F.col("event_type") == "error"),
            iv.filter(F.col("event_type") == "purchase"),
            bin_width=3600,
        ),
    )
    lp_edges = cooccurrence_edges(li, "l_orderkey", "l_partkey",
                                  max_group_size=50, min_weight=2)
    add(
        "Link prediction (wedge join, integer-exact Resource Allocation)",
        "Wedge enumeration is one equi-self-join of the adjacency list on "
        "the center node, with the max_hub_degree filter applied BEFORE the "
        "join so no hub squares; RA mass is an exact BIGINT sum "
        "(repartition-stable — float sums over shuffled wedges are not); "
        "the candidate anti-join and the global top-k "
        "(TakeOrderedAndProject) close the plan.",
        link_prediction(lp_edges, max_hub_degree=10, top_n=100),
    )
    add(
        "Deterministic filtered negative sampling",
        "The vocabulary (distinct nodes + rank) broadcasts twice — once for "
        "|V| and once for the rank->node pick — so the edge stream is "
        "scanned once, exploded k-fold, hash-ranked, and anti-joined against "
        "true pairs; the only wide exchange is the anti-join on (src, "
        "dst_neg). The dictionary rank is PREFIX-BUCKETED (window "
        "partitioned by the node's 2-char prefix + broadcast bucket "
        "offsets, provably equal to the global row_number) — the r4 "
        "verdict's one single-task-window site, now parallel; the only "
        "SinglePartition exchanges left sit above bucket-count/1-row "
        "aggregates (pinned by test_graph_algos).",
        negative_sample_edges(lp_edges, k=2),
    )
    add(
        "Product-quantization ANN (ADC shortlist + exact rescore)",
        "Codebooks and the query's partial-dot (ADC) table both ride "
        "BroadcastExchanges; the corpus is scanned once, exploded to m "
        "subvector rows, argmin-coded (min_by aggregate), and scored by m "
        "broadcast lookups summed in fixed column order — never a float SUM "
        "over shuffled rows. The shortlist is TakeOrderedAndProject; only "
        "shortlist rows are cosine-rescored.",
        ann_pq(embs, qv2, k=10, m=8, centroid_stride=50, shortlist=50),
    )

    from knowledgegraphbuilder_spark.operators.bpe import bpe_merges

    add(
        "BPE merge round: weighted pair count over the vocab table",
        "The corpus is touched once (word-frequency groupBy with partial "
        "aggregation); every merge round's pair count runs on the "
        "vocabulary-scaled table — explode to adjacent pairs, map-side-"
        "combinable weighted sum. The per-round argmax is a 1-row "
        "TakeOrderedAndProject collect (the merge rule IS the trained "
        "model); the merge rewrite is a pure codegen array expression "
        "(greedy run-parity arithmetic, no sequential fold, no Python).",
        bpe_merges(spark, docs, rounds=1),
    )

    from knowledgegraphbuilder_spark.operators.dedup import (
        ngram_containment_pairs,
    )
    from knowledgegraphbuilder_spark.operators.graphstats import (
        harmonic_centrality,
    )

    add(
        "Asymmetric set-containment dedup (probe-side prefix filter)",
        "Only the probe side is prefix-pruned (containment bounds how many "
        "of A's shingles can miss B, so A's df-ordered prefix must hit B; "
        "B's postings cannot be shortened) — candidates come from an "
        "equi-join on 8-byte shingle hashes with the n_b >= t*n_a size "
        "residual, and the exact ratio is verified on full shingle arrays "
        "for candidates only. Same hot-shingle immunity as the Jaccard "
        "PPJoin: stop-shingles sort last and stay out of probe prefixes.",
        ngram_containment_pairs(docs, threshold=0.9),
    )
    seeds3 = (
        lp_edges.select(F.col("src").alias("node"))
        .unionAll(lp_edges.select(F.col("dst").alias("node")))
        .distinct().orderBy(F.sha2(F.col("node"), 256)).limit(3)
    )
    add(
        "Bounded harmonic centrality (seed-keyed BFS ball)",
        "All seeds' searches advance in ONE per-round frontier join + "
        "anti-join on the node key (Pregel/BSP shape; per-round cost is the "
        "frontiers' edge boundary, rounds truncated by eager "
        "localCheckpoints, visible as Scan ExistingRDD); the harmonic sum "
        "is an exact BIGINT aggregate — repartition-stable.",
        harmonic_centrality(lp_edges, seeds3, max_hops=2),
    )

    from knowledgegraphbuilder_spark.operators.curation import (
        substring_dedup_rewrite, temperature_sample,
    )
    from knowledgegraphbuilder_spark.operators.graphstats import (
        biased_walks, label_propagation, modularity,
    )
    from knowledgegraphbuilder_spark.operators.profile import profile_table

    add(
        "Exact-substring dedup rewrite (Lee et al. 2022 removal step)",
        "Canonical occurrence = min(struct(doc_id, pos)) as a partial "
        "aggregate on the 60-bit window hash — no window function, so the "
        "hot-window cost is map-side combined; covered positions union via "
        "explode+distinct on the doc key, and reassembly is one per-doc "
        "aggregate whose memory is bounded by single-document length.",
        substring_dedup_rewrite(docs, k=8),
    )
    add(
        "Table profile: stack unpivot, one scan for all columns",
        "stack() is a codegen projection (no shuffle, no per-column scan); "
        "base stats partial-aggregate on the column key and the modal value "
        "is a count groupBy + max(struct) — the only value-keyed exchange.",
        profile_table(docs, ["doc_id", "lang", "n_chars"]),
    )
    add(
        "Temperature mixture rebalancing: broadcast rates, zero corpus shuffle",
        "Stratum counts are a KB-sized aggregate; rates broadcast back onto "
        "a pure salted-hash filter — the corpus is scanned once and never "
        "shuffled, so the plan survives any corpus scale.",
        temperature_sample(docs, alpha=0.3, target_frac=0.5),
    )
    add(
        "node2vec biased walk step: ticket explode + min(struct) aggregate",
        "Per step: frontier equi-join on the current node, LEFT adjacency "
        "join for the distance-1 class, ticket explode bounded by "
        "max(ret_w, bfs_w, dfs_w), and the weighted choice is a map-side "
        "min(struct(hash, candidate)) — no window function, hub cost linear "
        "in degree x max weight. Earlier steps hide behind Scan ExistingRDD "
        "(eager localCheckpoint lineage truncation).",
        biased_walks(lp_edges, seeds3, length=2, ret_w=1, bfs_w=4, dfs_w=2),
    )
    add(
        "Modularity: integer sums + broadcast scalar m",
        "in_c/deg_c/m are integer aggregates (order-invariant under any "
        "shuffle); the single-row m cross-joins via BroadcastExchange; q_c "
        "is one scalar double expression over the integers.",
        modularity(lp_edges, label_propagation(lp_edges, rounds=2)),
    )

    from knowledgegraphbuilder_spark.operators.ann import scalar_quantize
    from knowledgegraphbuilder_spark.operators.curation import (
        per_group_quantile_filter,
    )
    from knowledgegraphbuilder_spark.operators.dedup import cdc_pairs
    from knowledgegraphbuilder_spark.operators.graphstats import anf_hyperball

    add(
        "Content-defined-chunking dedup: boundary flags + piece-hash equi-join",
        "Boundary decisions are per-row (lag over the doc-keyed window); the "
        "piece index is one per-doc cumsum; candidates come from an "
        "equi-join on the 60-bit piece hash AFTER the hot-piece df guard — "
        "a viral boilerplate piece never reaches the self-join.",
        cdc_pairs(docs, min_shared=3, max_piece_df=20),
    )
    add(
        "ANF/HyperBall hop fold: register max as a map-side aggregate",
        "One hop = adjacency equi-join + (node, idx) max groupBy (partial "
        "aggregation before the exchange); per-node estimates are BIGINT "
        "micro-unit expressions — no float fold, no runtime ln(). Earlier "
        "hops hide behind Scan ExistingRDD (eager localCheckpoint).",
        anf_hyperball(lp_edges, max_hops=1),
    )
    add(
        "SQ8 scalar quantization: broadcast stats, pure array expressions",
        "Per-dim min/max reduce to ONE 2x64-scalar aggregate row that "
        "broadcasts; coding and the reconstruction MSE are codegen array "
        "expressions over it — the corpus is scanned once, never shuffled.",
        scalar_quantize(spark.read.parquet(f"{args.sf}/embeddings.parquet")),
    )
    add(
        "Per-group HDR quantile threshold: sketch groupBy + broadcast filter",
        "The corpus contributes one map-side-combinable (group, bucket) "
        "count; the cumulative walk windows over sketch rows only; the "
        "KB-sized threshold table broadcasts back onto a pure filter.",
        per_group_quantile_filter(docs),
    )

    from knowledgegraphbuilder_spark.operators.curation import (
        weighted_reservoir_sample,
    )
    from knowledgegraphbuilder_spark.operators.dedup import (
        normalized_exact_duplicates,
    )
    from knowledgegraphbuilder_spark.operators.sketches import (
        misra_gries_heavy_hitters,
    )

    add(
        "Normalized exact dedup: codegen normalization chain, one shuffle",
        "lower/regexp-strip/collapse/trim/sha256 all fuse into the scan's "
        "WholeStageCodegen projection; the ONLY exchange is the hash "
        "groupBy with partial_count before it — identical shape to byte-"
        "exact dedup, so the reformatted-duplicate catch is free.",
        normalized_exact_duplicates(docs),
    )
    add(
        "Misra-Gries heavy hitters: MapInPandas candidates + semi-join recount",
        "Pass A is one MapInPandas with NO exchange below it (per-partition "
        "summaries, <= k+1 rows each); the recount is a BroadcastHashJoin "
        "LeftSemi against the candidate set followed by a partial-agg "
        "count — the vocabulary-sized groupBy a naive top-k would shuffle "
        "never appears in the plan.",
        misra_gries_heavy_hitters(
            docs.selectExpr("explode(split(text, ' ')) AS tok"), "tok", k=30
        ),
    )
    add(
        "Weighted reservoir sample: array-expression ticket key, two-phase top-k",
        "min-over-tickets is a codegen transform/array_min projection (no "
        "explode — per-row O(w) work); the per-group top-k runs as a window "
        "over (group, id-derived bucket) first, so the global window sorts "
        "only the <= n_buckets*k local survivors per group, never the whole "
        "group on one reducer.",
        weighted_reservoir_sample(docs, k=5),
    )
    add(
        "TPC-H Q5: broadcast dimension chain, facts shuffle once each",
        "region->nation->supplier collapse into BroadcastExchanges (the "
        "same-nation customer/supplier correlation rides the broadcast "
        "join's condition); only lineitem x orders x customer use shuffle "
        "joins; the date filter is a PushedFilter on the orders scan.",
        entry.q_sql_tpch_q5(spark, args.sf),
    )

    from knowledgegraphbuilder_spark.operators.dedup import winnow_pairs
    from knowledgegraphbuilder_spark.operators.textstats import mad_outliers

    add(
        "Winnowing fingerprints: codegen gram/window chain + capped fp join",
        "The entire SIGMOD'03 select chain (k-gram sha256, window min, "
        "position unpack) is ONE WholeStageCodegen projection per doc — no "
        "explode until the final (doc, fp) rows; the self-join is an "
        "equi-join on fingerprint AFTER the hot-fingerprint semi-join "
        "guard, so boilerplate never fans out quadratically.",
        winnow_pairs(docs),
    )
    add(
        "MAD outliers: two exact grouped percentiles + broadcast stats",
        "Exact order statistics genuinely need the group on one reducer — "
        "the plan shows exactly two ObjectHashAggregate exchanges keyed by "
        "group and two BroadcastHashJoins gluing the KB-sized stats back; "
        "at 100 TB the grouped-HDR per_group_quantile_filter replaces the "
        "exact percentile, with this as its calibrator.",
        mad_outliers(docs),
    )
    add(
        "TPC-H Q4 adaptation: semi join, no fan-out",
        "The EXISTS becomes a BroadcastHashJoin LeftSemi (shuffle-free at "
        "this scale; a shuffled LeftSemi at 100 TB) — orders rows are "
        "tested, never multiplied, and the priority aggregate sees each "
        "order once; the quarter filter is a PushedFilter on the orders "
        "scan.",
        entry.q_sql_tpch_q4(spark, args.sf),
    )
    add(
        "TPC-H Q19 adaptation: disjunction factored to both scans",
        "Catalyst distributes the OR-of-ANDs: the brand/size disjunction "
        "lands in the part scan's PushedFilters, the quantity disjunction "
        "in the lineitem scan's, and only the residual mixed predicate "
        "rides the join — both scans shrink before any shuffle.",
        entry.q_sql_tpch_q19(spark, args.sf),
    )
    add(
        "CUBE: Expand before ONE map-side-combinable aggregate",
        "All four grouping sets run in one pass — Expand multiplies rows "
        "4x map-side, then a single partial_count/partial_sum hash "
        "aggregate combines before the only exchange; integer-cents sums "
        "keep the replay exact.",
        entry.q_sql_cube(spark, args.sf),
    )

    from knowledgegraphbuilder_spark.operators.dedup import bloom_anti_join
    from knowledgegraphbuilder_spark.operators.graphstats import (
        adamic_adar,
        edge_support,
    )
    from knowledgegraphbuilder_spark.operators.mlstats import corr_matrix

    add(
        "Conversion funnel: ever-shrinking per-stage aggregates",
        "Each stage is one filtered min-aggregate plus one equi-join on "
        "user_id against the PREVIOUS stage's (strictly smaller) user set "
        "— three shuffles on the same key over shrinking data, never a "
        "self-join of the event log; AQE broadcasts the later stages once "
        "they fit.",
        entry.q_sql_funnel(spark, args.sf),
    )
    add(
        "Trailing 1h RANGE window: one shuffle on the partition key",
        "The window sort is per-user (Exchange hashpartitioning(user_id) + "
        "per-partition Sort) — no global sort anywhere; the frame bound is "
        "integer microseconds, evaluated inside the Window operator in one "
        "pass.",
        entry.q_ts_moving(spark, args.sf),
    )
    add(
        "TPC-H Q7 adaptation: role-playing broadcast dimension",
        "nation joins twice under two roles (supp_nation / cust_nation) — "
        "both rides are BroadcastHashJoins; the symmetric nation-pair "
        "disjunction filters after the broadcasts, and only the "
        "lineitem x orders x customer fact chain shuffles.",
        entry.q_sql_tpch_q7(spark, args.sf),
    )
    add(
        "TPC-H Q10 adaptation: aggregate BEFORE the attribute join",
        "Revenue aggregates on bare custkeys first; the wide customer row "
        "and the nation name join onto the aggregate's output (25x fewer "
        "rows than lineitem), and the top-20 is TakeOrderedAndProject — "
        "no global sort of customers.",
        entry.q_sql_tpch_q10(spark, args.sf),
    )
    add(
        "TPC-H Q13 adaptation: outer join survives the pushed filter",
        "The priority filter applies inside the orders scan "
        "(PushedFilters), NOT as a post-join predicate — so the LEFT OUTER "
        "join still emits zero-order customers and the double aggregate "
        "(per-customer count, then histogram) is two map-side-combinable "
        "exchanges.",
        entry.q_sql_tpch_q13(spark, args.sf),
    )
    add(
        "TPC-H Q2 adaptation: correlated-min as groupBy + join-back",
        "The part filter and the supplier->nation->region chain are "
        "BroadcastHashJoins into one lineitem scan; the per-part min is a "
        "map-side-combinable aggregate whose (tiny) output AQE broadcasts "
        "back onto the same scan's rows — the argmin never sorts or "
        "windows the fact table.",
        entry.q_sql_tpch_q2(spark, args.sf),
    )
    add(
        "TPC-H Q9 adaptation: 5-way join, one fact shuffle",
        "part and supplier+nation ride as broadcasts; the only exchange "
        "on fact data is lineitem x orders on the order key, and the "
        "nation x year profit aggregate partial-aggregates before it.",
        entry.q_sql_tpch_q9(spark, args.sf),
    )
    add(
        "TPC-H Q11 adaptation: broadcast scalar threshold",
        "Per-part value aggregates once on l_partkey; the nation total is "
        "a single-row BroadcastNestedLoopJoin (the Q22 average pattern) "
        "and the keep-predicate is exact BIGINT — no float fraction, no "
        "second scan of the per-part aggregate.",
        entry.q_sql_tpch_q11(spark, args.sf),
    )
    add(
        "TPC-H Q12 adaptation: CASE-sum pivot, single join",
        "Both priority counts come from one CASE-sum HashAggregate over "
        "the lineitem x orders join — never two filtered passes; the "
        "1997 filter pushes into the lineitem scan.",
        entry.q_sql_tpch_q12(spark, args.sf),
    )
    add(
        "TPC-H Q16 adaptation: distinct pre-agg before count-distinct",
        "The (partkey, suppkey) relation dedups map-side BEFORE the "
        "count(DISTINCT) shuffle; the negative-balance exclusion is a "
        "broadcast LeftAnti and the part attribute filter a broadcast "
        "hash join — the fact table shuffles exactly once, already "
        "deduplicated.",
        entry.q_sql_tpch_q16(spark, args.sf),
    )
    add(
        "TPC-H Q20 adaptation: two aggregates share one filtered scan",
        "Supplier-part and part totals both reduce the SAME "
        "brand-filtered, year-filtered lineitem leg (shuffle keyed by "
        "l_partkey); dominance is an exact 2*qty_sp > qty_p BIGINT "
        "filter and the supplier dim joins broadcast onto the distinct "
        "winner keys.",
        entry.q_sql_tpch_q20(spark, args.sf),
    )
    add(
        "TPC-H Q21 adaptation: EXISTS pair folded into ONE aggregate",
        "The reference pattern's two extra self-joins of the fact table "
        "(EXISTS / NOT EXISTS) are one per-order countDistinct aggregate "
        "joined back — late rows qualify via ns>1 AND nl==1, so the fact "
        "table is scanned once and shuffled twice (order key, then "
        "supplier), never four times.",
        entry.q_sql_tpch_q21(spark, args.sf),
    )
    add(
        "Degree assortativity: graph scalar from exact integer stats",
        "Degrees broadcast back onto the edge list (two "
        "BroadcastHashJoins at this scale, SMJ on node keys beyond), "
        "then ONE map-side-combinable decimal aggregate to a single row "
        "— no windows, no collect, the only float is the final divide.",
        entry.q_g20_assortativity(spark, args.sf),
    )
    add(
        "Per-edge Jaccard: support equi-joins + integer degree math",
        "Reuses the g19 wedge+closure equi-join chain for the "
        "intersection; the union size is arithmetic on the broadcast "
        "degree table — no neighbor-array intersections anywhere.",
        entry.q_g21_edgejaccard(spark, args.sf),
    )
    add(
        "Equi-width histogram: bounds broadcast, bins-sized explode",
        "Per-group min/max is one aggregate whose tiny output joins "
        "back; counts partial-aggregate per bucket; the empty-bucket "
        "shell explodes sequence(0,bins-1) — O(groups*bins) rows, never "
        "data-sized.",
        entry.q_ml_histogram(spark, args.sf),
    )
    add(
        "Inference batching: one window shuffle keyed by length bucket",
        "Bucket assignment is a pure projection; the next-fit running "
        "sum is a per-bucket window (Exchange on bucket + per-partition "
        "Sort, no global sort) and the per-batch rollup "
        "partial-aggregates. Thousands of buckets = the parallelism "
        "unit at corpus scale.",
        entry.q_ts_infer_batches(spark, args.sf),
    )
    add(
        "k-truss peel: bounded fixed-point loop of support equi-joins",
        "Each round is the g19 wedge+closure support pass plus an edge "
        "filter, lineage truncated by an eager localCheckpoint per round "
        "(the shown plan is the final within-truss support pass over the "
        "converged, checkpointed edge set — upstream rounds are already "
        "materialized).",
        entry.q_g22_ktruss(spark, args.sf),
    )
    add(
        "Pearson matrix: whole matrix from ONE aggregate pass",
        "All 4 sums, 4 squares and 6 cross-products are partial-aggregated "
        "in a single HashAggregate over one lineitem scan; the 6 "
        "correlations explode from the ONE stats row — no per-pair rescans, "
        "no joins.",
        corr_matrix(
            spark.read.parquet(f"{args.sf}/lineitem.parquet"),
            {"qty": "cast(l_quantity as bigint)",
             "price_c": "cast(floor(l_extendedprice * 100) as bigint)"},
        ),
    )
    add(
        "Adamic-Adar: capped wedge self-join + anti join + TakeOrdered",
        "Same discipline as link_prediction: the adjacency self-joins on "
        "the center AFTER the hub cap drops high-degree centers, existing "
        "edges anti-join out, and the top-100 is TakeOrderedAndProject. "
        "The AA unit is an exact BIGINT (quantized-ln), so the aggregate "
        "is a plain partial_sum.",
        adamic_adar(
            spark.read.parquet(f"{args.sf}/lineitem.parquet")
            .selectExpr("cast(l_orderkey as string) as src",
                        "cast(l_partkey as string) as dst").limit(2000),
            max_hub_degree=10,
        ),
    )
    add(
        "Bloom anti-join dedup: broadcast filter, shuffle sized by dup rate",
        "The seen-set bloom words (<= m/63 rows) broadcast; every probe is "
        "map-side. Only hits==K rows reach the exact LeftAnti join — the "
        "corpus-sized leg never shuffles on text, and the definitely-new "
        "majority short-circuits through the hits<K branch.",
        bloom_anti_join(docs, docs.filter(F.col("doc_id") % 7 == 0)),
    )
    add(
        "Edge triangle support: wedge + closure equi-join, no set ops",
        "A triangle is wedge(a-z-b) JOIN edge(a,b) — everything is an "
        "equi-join (SortMergeJoin at scale), no neighbor-array "
        "intersections; support-0 edges survive via the left join back "
        "onto the edge list.",
        edge_support(
            spark.read.parquet(f"{args.sf}/lineitem.parquet")
            .selectExpr("cast(l_orderkey as string) as src",
                        "cast(l_partkey as string) as dst").limit(2000)),
    )

    add(
        "Naive Bayes: broadcast model, one corpus explode, exact argmax",
        "The (label x token) count model and the per-label stats broadcast "
        "(BroadcastHashJoin); the test corpus explodes once, every "
        "per-(doc,label) score is a partial-aggregated BIGINT sum of "
        "quantized-ln units, and the argmax is a max(struct) aggregate — "
        "no window sort, no per-label rescans, no Python.",
        entry.q_ml_naivebayes(spark, args.sf),
    )
    add(
        "Chi-squared features: three count aggregates + broadcast marginals",
        "Doc-level presence is ONE distinct over the exploded corpus; the "
        "token and label marginals join back (label marginal broadcast, "
        "min_df prunes the hapax tail before the join) and the statistic "
        "is a ratio of exact decimal integers — the top-50 is "
        "TakeOrderedAndProject.",
        entry.q_ml_chi2(spark, args.sf),
    )
    add(
        "Katz centrality: hops-many sparse matvec equi-joins, decimal-exact",
        "Each hop is edges JOIN walk-vector + partial-aggregated decimal "
        "sum (the distributed SpMV); contributions union and aggregate "
        "once. Walk counts never leave the exact decimal domain, so the "
        "output BIGINT is replayable.",
        entry.q_g24_katz(spark, args.sf),
    )
    add(
        "GROUPING SETS: hand-picked lattice slice, one Expand + aggregate",
        "The three granularities expand map-side (Expand) into ONE "
        "shuffle/aggregate — the rollup/cube machinery applied to a "
        "non-hierarchical set selection.",
        entry.q_sql_groupingsets(spark, args.sf),
    )
    add(
        "Line-level dedup: one explode, sorts only inside duplicate groups",
        "The pseudo-line explode is linear in total lines; the "
        "first-occurrence window partitions by sha256(line) — a 64-hex "
        "shuffle key regardless of line width — so the row_number sort is "
        "per-duplicate-group, never global; the rollup is a partial-"
        "aggregated groupBy(doc_id). No Python anywhere.",
        entry.q_dd_lines(spark, args.sf),
    )
    add(
        "Resample + ffill: executor-generated grid, one shuffle on the key",
        "The dense grid comes from explode(sequence(lo, hi)) over per-key "
        "bounds — generated ON EXECUTORS, proportional to the grid, no "
        "driver loop. The left join back to the bucket aggregate and the "
        "IGNORE NULLS last() window share the (key) partitioning; buckets "
        "are integer microsecond arithmetic end to end.",
        entry.q_ts_resample(spark, args.sf),
    )
    add(
        "Exact AUC: histogram window, corpus never sorted",
        "The corpus-sized work is ONE partial-aggregated groupBy(score); "
        "the midrank cumulative window runs over the distinct-score "
        "histogram, and the Mann-Whitney statistic stays BIGINT until a "
        "single final divide (decision_stump shares this exact shape).",
        entry.q_ml_auc(spark, args.sf),
    )
    add(
        "Association rules: capped baskets, broadcast supports",
        "The basket-size cap applies BEFORE the per-basket quadratic pair "
        "self-join (the graphstats projection discipline); pair counting "
        "partial-aggregates map-side and the item supports re-join as "
        "BroadcastHashJoins; top-50 is TakeOrderedAndProject, never a "
        "global sort.",
        entry.q_ml_assoc(spark, args.sf),
    )
    add(
        "Burst detection: dense grid + per-key ROWS window, exact integers",
        "Inherits the resample grid; the trailing sum/sumsq window is "
        "ROWS-framed O(1)-state per key, excludes the current row, and "
        "feeds one fixed double z formula — no self-join of the grid "
        "against its own history.",
        entry.q_ts_burst(spark, args.sf),
    )
    add(
        "Weekly churn: one distinct + per-user lead window, no self-join",
        "Activity dedups to (user, week) once; new/retained flags come "
        "from row_number and lead over the per-user week sequence — the "
        "naive formulation (activity LEFT JOIN activity ON user AND "
        "wk+7) would shuffle the table twice for the same answer.",
        entry.q_ts_churn(spark, args.sf),
    )
    add(
        "Lorenz deciles: distributed rank, then decile-sized",
        "The (value, id) rank is a range-partitioned exchange + "
        "per-partition row_number + broadcast offsets (never an "
        "unpartitioned ntile window, which would move the corpus to one "
        "task); the ntile(10) allocation is a closed-form expression over "
        "the exact global rank. Everything after runs over 10 rows.",
        entry.q_ts_lorenz(spark, args.sf),
    )
    add(
        "Closed-form PCA: one aggregate, no iteration",
        "The 2x2 covariance comes from one map-side-combinable pass of "
        "exact decimal sufficient statistics (grouped_ols discipline); "
        "the eigenstructure is a closed-form projection of the stats "
        "row. At dimension d this stays one aggregate of d^2 sums.",
        entry.q_ml_pca(spark, args.sf),
    )
    add(
        "Last-touch attribution: one IGNORE NULLS window, no self-join",
        "Each purchase reads the most recent preceding click from a "
        "last() IGNORE NULLS window over (user, time) excluding the "
        "current row — the standard formulation as a purchases-to-"
        "click-history range join would shuffle the event log twice.",
        entry.q_sql_attribution(spark, args.sf),
    )
    add(
        "Two-feature regression: one aggregate, Cramer in the projection",
        "All nine sufficient statistics partial-aggregate in one map-side "
        "combinable pass (exact decimals); the 2x2 normal-equation solve "
        "is pure projection arithmetic on the group-sized stats table — "
        "no iteration, no second scan.",
        entry.q_ml_mlr(spark, args.sf),
    )
    add(
        "kNN classifier: broadcast labels, argmax as an aggregate",
        "Neighbor labels broadcast onto the kNN edge table "
        "(BroadcastHashJoin); the majority vote is max(struct(count, "
        "-label)) — an aggregate, never a per-node sorted window.",
        entry.q_ml_knnclass(spark, args.sf),
    )
    add(
        "Source similarity: vocab-sized join, inclusion-exclusion union",
        "The word equi-join runs on per-source DISTINCT vocab (vocab-"
        "sized, not corpus-sized); union sizes come from broadcast "
        "per-source counts — no corpus self-join anywhere.",
        entry.q_ts_srcsim(spark, args.sf),
    )
    add(
        "Mann-Whitney U: histogram window, never a corpus rank",
        "The cumulative window runs over the DISTINCT-score histogram "
        "(the roc_auc discipline); the corpus-sized work is one "
        "map-side combinable groupBy(score). Every statistic is an "
        "exact integer until the final z projection.",
        entry.q_ml_mannwhitney(spark, args.sf),
    )
    add(
        "Edit-distance-1 dedup: variant equi-join, no cartesian",
        "Delete-1 variants explode map-side (n*(L+1) rows, linear); "
        "candidates come from a hash equi-join on the variant key — "
        "the plan has SortMergeJoin/ShuffledHashJoin on `v`, no "
        "CartesianProduct or BroadcastNestedLoopJoin anywhere; "
        "levenshtein verifies only pairs that share a variant.",
        entry.q_dd_editdist(spark, args.sf),
    )
    add(
        "Exact EWMA: scatter fan-out + one groupBy, no range join",
        "Each dense day row scatters to its next 32 buckets (a constant "
        "map-side explode), then ONE hash aggregate on (key, bucket) — "
        "no banded range self-join, no window over an unbounded frame.",
        entry.q_ts_ewma(spark, args.sf),
    )
    add(
        "KMV sketch: TakeOrderedAndProject, never a full sort",
        "The global k-min is planned as TakeOrderedAndProject "
        "(per-partition heaps + a k-row driver merge) over the "
        "distinct-hash aggregate — the full-sort shuffle a naive "
        "ORDER BY would pay never appears.",
        entry.q_sk_kmv(spark, args.sf),
    )
    add(
        "Poisson bootstrap: 32x scatter, one aggregate per replicate",
        "Replicate weights are a CASE ladder over integer thresholds "
        "inside whole-stage codegen; the plan is explode + one hash "
        "aggregate on the replicate id — no per-replicate job, no "
        "driver-side resampling.",
        entry.q_ml_bootstrap(spark, args.sf),
    )

    add(
        "Filtered vector search: predicate reaches the scan before scoring",
        "topk_filtered applies the metadata predicate BEFORE the cosine "
        "fold, so the label filter shows up as PushedFilters on the "
        "embeddings scan and only the surviving fraction pays the "
        "dot product — post-filtering a top-k would scan everything and "
        "could return fewer than k hits.",
        entry.q_ann_filtered(spark, args.sf),
    )
    add(
        "Brandes betweenness: integer path counts + sorted-fold backward sweep",
        "Forward levels are equi-join + map-side-combinable BIGINT sums "
        "(exact sigma); the backward dependency sum is an "
        "aggregate(array_sort(collect_list(...))) fold, so the only "
        "floats are summed in a deterministic order — no shuffled float "
        "fold anywhere in the plan.",
        entry.q_g34_betweenness(spark, args.sf),
    )
    add(
        "Handshake matching: proposal agg + mutual-min self-join per round",
        "Each round is one groupBy(u).min(v) over live edges, one "
        "self-equi-join of the proposal table on the handshake "
        "condition, and two left-anti joins to drop matched endpoints — "
        "cost tracks the live edge count, and localCheckpoint truncates "
        "lineage so round N's plan never replays rounds 1..N-1.",
        entry.q_g35_matching(spark, args.sf),
    )
    add(
        "KG schema induction: two dim joins + one signature aggregate",
        "The relation table joins the (mention_id, label) projection "
        "twice — broadcastable dims — then a single hash aggregate on "
        "the typed signature; the conditional share is one window sum "
        "over the signature-sized result, never over the fact table.",
        entry.q_kg_schema(spark, args.sf),
    )

    add(
        "Edge-cut placement audit: two codegen hash columns + one aggregate",
        "Both partition assignments are pure sha-expression columns inside "
        "whole-stage codegen; the only shuffle is the k-group hash "
        "aggregate (map-side combinable). No joins — the audit costs one "
        "pass over the edge list regardless of graph size.",
        entry.q_layout_edgecut(spark, args.sf),
    )
    add(
        "LP ranking eval: training-wedge join + per-source bounded window",
        "The sha-holdout split is a codegen filter; candidate scoring is "
        "the same hub-capped wedge self-join as g12_linkpred; the "
        "row_number window partitions by source node (bounded by the hub "
        "cap), never globally; the metrics collapse in one final "
        "aggregate with integer-micro-unit reciprocal ranks.",
        entry.q_g38_lp_eval(spark, args.sf),
    )
    add(
        "N-Triples import: regexp destructure + two uniform-key hash joins",
        "Statement and label lines split by one rlike filter and "
        "destructure via regexp_extract — all JVM codegen, zero Python. "
        "Surface texts re-attach through two equi-joins on 64-hex "
        "content-hash keys (uniform, skew-free); AQE broadcasts the "
        "label side when |V| fits.",
        entry.q_kg_import_nt(spark, args.sf),
    )
    add(
        "Entity profile: three node-keyed aggregates, top-1 as aggregate",
        "Dominant outgoing type is min(struct(-cnt, pred)) — an "
        "aggregate, not a sorted window, so hub cost is degree, not "
        "degree*log(degree); in-degree and provenance reach are "
        "independent node-keyed aggs joined at |V| size.",
        entry.q_kg_entity_profile(spark, args.sf),
    )
    add(
        "Noisy-OR fusion: one distinct + one statement-keyed aggregate",
        "The whole Knowledge Vault fold is two map-side-combinable "
        "hash aggregates over the statement key (event distinct, then "
        "class-count sums) with the saturating posterior as a codegen "
        "projection — no join, no window, no floats in the fold.",
        entry.q_kg_fuse(spark, args.sf),
    )
    add(
        "Truth discovery: vote agg + min(struct) argmax, never a window",
        "Both levels are hash aggregates; the winner per (subj, pred) "
        "is min(struct(-votes, obj)) so a hub subject costs its "
        "candidate count, not candidates*log(candidates).",
        entry.q_kg_truth(spark, args.sf),
    )
    add(
        "sameAs rewrite: CC assignment broadcast into two probe joins",
        "The component assignment table is entity-sized (dim vs the "
        "statement table), so both subject and object rewrites are "
        "broadcast hash joins; the only full shuffle is the final "
        "distinct over canonical triples.",
        entry.q_kg_sameas(spark, args.sf),
    )
    add(
        "TransE ranking: broadcast vectors, relation-keyed candidate join",
        "Entity/relation embedding tables are dim-sized broadcasts; the "
        "only pairwise work is the positives-x-candidates equi-join ON "
        "THE RELATION (type-constrained protocol), never |T| x |E|; "
        "ranks and hits@k collapse in two hash aggregates.",
        entry.q_kg_embed_rank(spark, args.sf),
    )
    add(
        "Grid DBSCAN: 3x3 cell equi-join, CC only over core edges",
        "Candidates come from the (cell) hash join after a 9-way probe "
        "explode — per-point work is bounded by its eps-neighborhood "
        "density; the eps verify is an integer codegen filter; the CC "
        "closure runs only on core-core edges.",
        entry.q_ml_dbscan(spark, args.sf),
    )
    add(
        "Temporal motifs: lossless time-bucket band join + mid-event chain",
        "Contact candidates are an equi-join on (type, bucket) with a "
        "2-way bucket probe (0 < dt <= W pins the partner to self/next "
        "bucket — lossless banding); the 2-path chain is an equi-join "
        "on the shared middle event id; all window tests are integer "
        "microsecond codegen filters.",
        entry.q_g46_temporal(spark, args.sf),
    )

    header = (
        "# PLANS — physical-plan evidence\n\n"
        f"Generated by `python tools/explain_plans.py --sf {args.sf}` "
        "(explain('formatted'), Spark "
        f"{spark.version}, AQE on). Regenerate after operator changes.\n\n"
    )
    with open(args.out, "w") as f:
        f.write(header + "\n".join(sections))
    print(f"wrote {args.out} ({len(sections)} plans)")
    spark.stop()


if __name__ == "__main__":
    main()
