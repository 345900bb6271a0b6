"""Structured-Streaming ingest: incremental KG construction.

The reference is batch-only (SURVEY.md §2.10); its ``use_cache`` flow is the
closest analog of incremental processing. Because every stage of this engine
is a pure DataFrame -> DataFrame function, the same stage functions run
unchanged under ``readStream``: new document files landing in a directory are
chunked, NER'd and relation-extracted incrementally, with exactly-once sink
semantics via the streaming checkpoint.

``Trigger.AvailableNow`` drains the backlog and stops — the pattern for
micro-batch backfill; a production deployment would keep the query running
and MERGE each micro-batch into the Iceberg graph tables (mentions/relations
are append-only keyed by deterministic ids, so MERGE is idempotent).

Aggregating stages (canonicalization groupBy) are not streamed — they are
the batch compaction step over the streamed mention/relation tables, exactly
how a lambda-free incremental KG build works at scale.

Every ``run_*_available_now`` runner here (and in stateful.py / windowed.py)
is the same three steps: ``file_stream`` opens the input, a ``foreachBatch``
body folds each micro-batch into keyed state with ``sinks.merge`` (or a
parquet sink appends), and ``drain`` runs the query to the end of the
available input. Additive folds key each batch's partial rows by
``batch_key``, the content digest that makes their replays overwrite
instead of double-count.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter

from knowledgegraphbuilder_spark.config import KGConfig
from knowledgegraphbuilder_spark.operators.chunk import chunk_documents
from knowledgegraphbuilder_spark.operators.flatten import flatten_documents
from knowledgegraphbuilder_spark.operators.ner import extract_mentions_stream
from knowledgegraphbuilder_spark.sources.interleaved import SPAN_SCHEMA
from knowledgegraphbuilder_spark.sources.sinks import merge

SPANS = f"doc_id string, spans {SPAN_SCHEMA}"


def file_stream(spark: SparkSession, input_dir: str, schema: str | None,
                max_files_per_trigger: int | None = None) -> DataFrame:
    """The stream of files landing under ``input_dir``: parquet read with
    ``schema``, or text lines (one ``value`` string per line) when
    ``schema`` is None; at most ``max_files_per_trigger`` new files per
    micro-batch, every available file when None."""
    reader = spark.readStream
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    if schema is None:
        return reader.format("text").load(input_dir)
    return reader.schema(schema).format("parquet").load(input_dir)


def drain(writer: DataStreamWriter, checkpoint_dir: str) -> None:
    """Run ``writer``'s query over everything available now
    (``Trigger.AvailableNow``) and return once it has committed it all.
    The checkpoint makes a rerun resume after the last committed batch;
    a fresh checkpoint replays the whole input."""
    (writer.option("checkpointLocation", checkpoint_dir)
     .trigger(availableNow=True).start().awaitTermination())


def batch_key(batch_df: DataFrame, id_col: str, payload: Column) -> str | None:
    """Content key of a micro-batch for the additive folds, or None for an
    empty batch: sha256 hex of ``n|lo|hi|hsum`` — row count, min and max
    of ``id_col``, and the sum of per-row ``xxhash64(payload)`` residues.

    An additive fold (counts, sketch partials) is not idempotent, so each
    batch's partial rows replace-MERGE under this key: a replay, or a fresh
    checkpoint over the same files in any order, lands identical content on
    the identical key. The key must therefore be a function of the batch's
    row multiset that distinct batches do not share: keying by batch_id or
    min(id) alone overwrites a distinct batch that shares it, and
    ``payload`` must cover the folded values as well as the ids, or two
    batches with the same ids but different values collide."""
    agg = batch_df.agg(
        F.count("*").alias("n"),
        F.min(id_col).alias("lo"),
        F.max(id_col).alias("hi"),
        # bounded residue before the sum: a raw xxhash64 sum overflows
        # long under ANSI; decimal(38,0) over <1e9 residues never does
        F.sum(
            F.pmod(F.xxhash64(payload), F.lit(1_000_000_007))
            .cast("decimal(38,0)")
        ).alias("hsum"),
    ).first()
    if not agg["n"]:
        return None
    key = f"{agg['n']}|{agg['lo']}|{agg['hi']}|{agg['hsum']}"
    return hashlib.sha256(key.encode()).hexdigest()


def _batch_relations(batch_df: DataFrame, cfg: KGConfig,
                     ner_backend: object | None = None,
                     re_backend: object | None = None) -> DataFrame:
    """The batch RE chain over one micro-batch of complete documents."""
    from knowledgegraphbuilder_spark.operators.ner import extract_mentions
    from knowledgegraphbuilder_spark.operators.relations import extract_relations

    docs = flatten_documents(batch_df)
    mentions = extract_mentions(
        chunk_documents(docs, cfg.ner_chunk_size, cfg.ner_chunk_overlap),
        cfg, backend=ner_backend,
    )
    return extract_relations(
        chunk_documents(docs, cfg.re_chunk_size, cfg.re_chunk_overlap),
        mentions, cfg, backend=re_backend,
    )


def streaming_mentions(spans_stream: DataFrame, config: KGConfig | None = None) -> DataFrame:
    """spans stream -> mention stream (flatten + chunk + NER; all narrow,
    no watermark needed — stateless stages)."""
    cfg = config or KGConfig()
    docs = flatten_documents(spans_stream)
    chunks = chunk_documents(docs, cfg.ner_chunk_size, cfg.ner_chunk_overlap)
    return extract_mentions_stream(chunks, cfg)


def run_ingest_available_now(
    spark: SparkSession, input_dir: str, output_dir: str, checkpoint_dir: str,
    config: KGConfig | None = None,
) -> None:
    """Drain the input directory into a mentions parquet table, exactly once."""
    mentions = streaming_mentions(file_stream(spark, input_dir, SPANS), config)
    drain(mentions.writeStream.format("parquet").option("path", output_dir),
          checkpoint_dir)


def run_relations_available_now(
    spark: SparkSession, input_dir: str, output_dir: str, checkpoint_dir: str,
    config: KGConfig | None = None,
    ner_backend: object | None = None, re_backend: object | None = None,
) -> None:
    """Incremental relation extraction: spans stream -> relation table.

    Every micro-batch carries complete documents (one row = one document's
    span array, files are the batch unit), and every downstream stage —
    chunking, NER, the chunk x mention containment join, RE, resolution,
    dedup — is per-document, so the full BATCH chain runs unchanged inside
    ``foreachBatch`` with no cross-batch streaming state. The result MERGEs
    into the relation table keyed by the deterministic content-hashed
    ``relation_id`` (the parquet analog of ``MERGE INTO graph.relations``),
    which makes micro-batch replays after a failure idempotent: reprocessing
    rewrites the same rows. Output is byte-identical to the batch pipeline's
    relation table (pinned by tests/test_streaming.py)."""
    cfg = config or KGConfig()
    spans = file_stream(spark, input_dir, SPANS)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        rels = _batch_relations(batch_df, cfg, ner_backend, re_backend)
        merge(batch_df.sparkSession, output_dir, rels, "relation_id", "replace")

    drain(spans.writeStream.foreachBatch(process), checkpoint_dir)


def run_curation_available_now(
    spark: SparkSession, input_dir: str, output_dir: str, checkpoint_dir: str,
    text_col: str = "text", id_col: str = "doc_id",
) -> None:
    """Streaming corpus curation: each micro-batch of documents goes through
    the C4-style quality gate (operators/curation.quality_filter) and PII
    redaction (pii_stats), and the verdicts MERGE into the curation table
    keyed by doc_id — replaying any batch is a no-op, and the table equals
    the batch operators run over the same corpus (pinned by
    tests/test_streaming.py).

    Both operators are document-local (the quality signals aggregate only
    within a doc's own n-grams), so no cross-batch state exists: the
    streaming form is exactly the batch form per micro-batch, which is what
    makes it safe at any corpus size. Output: (doc_id, kept, reasons,
    n_emails, n_ipv4, n_cards, redacted)."""
    from knowledgegraphbuilder_spark.operators.curation import (
        pii_stats,
        quality_filter,
    )

    stream = file_stream(spark, input_dir, f"{id_col} long, {text_col} string", 1)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        qf = quality_filter(batch_df, text_col=text_col, id_col=id_col).select(
            "doc_id", "kept", "reasons"
        )
        pii = pii_stats(batch_df, text_col=text_col, id_col=id_col)
        merge(batch_df.sparkSession, output_dir, qf.join(pii, "doc_id"),
              "doc_id", "replace")

    drain(stream.writeStream.foreachBatch(process), checkpoint_dir)


def run_dedup_available_now(
    spark: SparkSession, input_dir: str, output_dir: str, checkpoint_dir: str,
    text_col: str = "text", id_col: str = "doc_id",
) -> None:
    """Streaming exact dedup over a document stream: each micro-batch hashes
    content (sha256), keeps the min-id row per hash WITHIN the batch, and
    first-wins-MERGEs into the dedup table keyed by content_hash — an
    arriving duplicate of an already-seen document never replaces the
    original, and replaying any batch (or the whole input) is a no-op.

    At scale this is the incremental form of operators/dedup.py
    exact_duplicates: state lives in the keyed output table (Iceberg
    `MERGE ... WHEN NOT MATCHED INSERT`), not in executor memory — the
    streaming state size is zero, so it survives any corpus size. Output:
    (content_hash, doc_id) — the canonical representative per distinct
    content, deterministic for time-ordered id-ascending batches."""
    stream = file_stream(spark, input_dir, f"{id_col} long, {text_col} string", 1)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        per_batch = (
            batch_df.select(
                F.sha2(F.col(text_col), 256).alias("content_hash"),
                F.col(id_col).cast("long").alias("doc_id"),
            )
            .groupBy("content_hash")
            .agg(F.min("doc_id").alias("doc_id"))
        )
        merge(batch_df.sparkSession, output_dir, per_batch, "content_hash",
              "keep")

    drain(stream.writeStream.foreachBatch(process), checkpoint_dir)


def run_hll_available_now(
    spark: SparkSession, input_dir: str, table_dir: str, checkpoint_dir: str,
    group_col: str = "event_type", value_expr: str = "cast(user_id as string)",
    schema: str = "event_id long, user_id long, event_type string",
) -> None:
    """Streaming distinct-count sketching: each micro-batch reduces to its
    HyperLogLog register table (operators/sketches.py:hll_registers) and
    max-MERGEs into the persistent register state. Because register max is
    idempotent/commutative/associative, the final state is EXACTLY the batch
    sketch of the full input — regardless of batch boundaries, arrival
    order, or replays — so the value-exact gate can hold the streamed
    estimate to the batch oracle.

    At scale this is the streaming cardinality pattern: state is m registers
    per group (a few KB) in a keyed table, not per-value state in executor
    memory; a day of 10^12 events folds into the same 4096 rows per group."""
    from knowledgegraphbuilder_spark.operators.sketches import hll_registers

    stream = file_stream(spark, input_dir, schema, 1)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        regs = hll_registers(batch_df, group_col, value_expr)
        merge(batch_df.sparkSession, table_dir, regs, ["g", "idx"], "max")

    drain(stream.writeStream.foreachBatch(process), checkpoint_dir)


def run_cms_available_now(
    spark: SparkSession, input_dir: str, table_dir: str, checkpoint_dir: str,
    value_expr: str = "cast(user_id as string)",
    schema: str = "event_id long, user_id long, event_type string",
) -> None:
    """Streaming heavy-hitter sketching: each micro-batch reduces to its own
    Count-Min sketch (operators/sketches.py:cms_sketch) and lands in the
    state table under a CONTENT-derived batch key (batch_key over event_id
    and the sketched value), via replace-by-key MERGE (sources/sinks.py:
    merge, ``"replace"``).

    CMS addition is associative/commutative but NOT idempotent — naively
    adding a replayed batch into one global sketch double-counts. Keying the
    state by batch content instead makes the fold idempotent: a replay (or a
    fresh checkpoint over the same files, in any arrival order) overwrites
    each batch's rows with identical values, so the state — and therefore
    the summed total sketch — is byte-identical, and equals the batch
    sketch of the full input. State size: <= CMS_D * CMS_W rows per batch,
    independent of batch row count; a compaction pass may fold closed
    batches into one row-group whenever replay of those batches is no
    longer possible."""
    from knowledgegraphbuilder_spark.operators.sketches import cms_sketch

    stream = file_stream(spark, input_dir, schema, 1)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        bkey = batch_key(batch_df, "event_id", F.concat_ws(
            "|",
            F.col("event_id").cast("string"),
            F.coalesce(F.expr(value_expr).cast("string"), F.lit("")),
        ))
        if bkey is None:
            return
        sk = cms_sketch(batch_df, value_expr).select(
            F.lit(bkey).alias("bkey"), "row", "col", "cnt"
        )
        merge(batch_df.sparkSession, table_dir, sk, "bkey", "replace")

    drain(stream.writeStream.foreachBatch(process), checkpoint_dir)


def run_stream_join_available_now(
    spark: SparkSession, views_dir: str, purchases_dir: str,
    output_dir: str, checkpoint_dir: str,
    max_gap_s: int = 7200, watermark: str = "48 hours",
    schema: str = "event_id long, ts timestamp, user_id long",
) -> None:
    """Stream-stream inner join with event-time bounds: every purchase event
    joined to the same user's view events at most ``max_gap_s`` seconds
    earlier — the attribution join, as two unbounded streams.

    Both sides carry a watermark so Spark can BOUND the join state: a view
    older than (watermark + max_gap_s) can never match a future purchase and
    its state is dropped — without the time-interval condition + watermarks
    the state grows with the stream. Inner-join emission itself does not
    wait for the watermark, so with a watermark generous enough that no
    state is evicted before its matches arrive (true for a drained backlog
    under availableNow), the streamed result EQUALS the batch time-bounded
    join — which is what the oracle computes.

    Output MERGEs per micro-batch keyed by the deterministic pair id, so
    replays (or a second run against a fresh checkpoint) are no-ops — same
    idempotency contract as every streaming sink here."""

    def side(d: str) -> DataFrame:
        return file_stream(spark, d, schema, 1).withWatermark("ts", watermark)

    v = side(views_dir).select(
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("v_ts"),
        F.col("user_id").alias("v_user"),
    )
    p = side(purchases_dir).select(
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("p_ts"),
        "user_id",
    )
    j = p.join(
        v,
        F.expr(
            f"user_id = v_user AND p_ts >= v_ts "
            f"AND p_ts <= v_ts + interval {int(max_gap_s)} seconds"
        ),
    ).select(
        F.concat_ws("|", F.col("purchase_id"), F.col("view_id")).alias("pair_id"),
        "purchase_id", "view_id", "user_id",
        (F.unix_timestamp("p_ts") - F.unix_timestamp("v_ts"))
        .cast("long").alias("gap_s"),
    )

    def process(batch_df: DataFrame, batch_id: int) -> None:
        merge(batch_df.sparkSession, output_dir, batch_df, "pair_id", "replace")

    drain(j.writeStream.foreachBatch(process), checkpoint_dir)


def run_lsh_index_available_now(
    spark: SparkSession, input_dir: str, table_dir: str, checkpoint_dir: str,
    dim: int = 64, n_bits: int = 4, n_tables: int = 8, seed: int = 42,
    schema: str = "vec_id long, embedding array<float>",
) -> None:
    """Streaming ANN-index maintenance: each embedding micro-batch computes
    its deterministic LSH codes (one bucket id per table, same sha256-derived
    hyperplanes as operators/ann.py) and replace-MERGEs them into the
    persistent index keyed by vector id. Bucket assignment is a pure
    per-row function of the vector, so the MERGE is idempotent — replays,
    re-checkpoints, and any batch boundary produce a byte-identical index,
    and the streamed index EQUALS the batch-built index row for row. That is
    the incremental story FAISS-style in-memory indexes lack: new vectors
    flow in continuously, and probes (probe_lsh_index) see them as soon as
    their batch commits.

    State is one (id, v, lsh) row per vector, the ``lsh_codes`` shape
    ann_lsh probes; per batch the work is one projection + a bounded MERGE —
    no cross-batch shuffle."""
    from knowledgegraphbuilder_spark.operators.ann import lsh_codes

    stream = file_stream(spark, input_dir, schema, 1)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        idx = lsh_codes(batch_df, dim, n_bits, n_tables, seed)
        merge(batch_df.sparkSession, table_dir, idx, "id", "replace")

    drain(stream.writeStream.foreachBatch(process), checkpoint_dir)


def probe_lsh_index(
    spark: SparkSession, table_dir: str, query: list, k: int = 10,
    n_bits: int = 4, n_tables: int = 8, seed: int = 42,
) -> "DataFrame":
    """Query the streamed LSH index: the OR-of-bucket-equalities filter of
    operators/ann.py:ann_lsh (``lsh_probe``) over the stored per-vector codes
    (never a re-projection of raw embeddings), exact cosine rescore, top-k.
    Output and values match ann_lsh run over the full batch corpus — pinned
    by the gate against the same SQL oracle."""
    from knowledgegraphbuilder_spark.operators.ann import cosine_scores, lsh_probe

    cond = lsh_probe(query, n_bits, n_tables, seed)
    cands = spark.read.parquet(table_dir).filter(cond).select("id", "v")
    return (
        cosine_scores(cands.withColumnRenamed("v", "embedding"), query, "id", "embedding")
        .orderBy(F.desc("score"), F.col("id"))
        .limit(k)
    )


def run_edge_weights_available_now(
    spark: SparkSession, input_dir: str, table_dir: str, checkpoint_dir: str,
    group_col: str = "l_orderkey", item_col: str = "l_partkey",
    max_group_size: int = 50,
    schema: str = "l_orderkey long, l_partkey long",
) -> None:
    """Streaming INCREMENTAL KG edge maintenance: each micro-batch of
    (group, item) rows projects its own co-occurrence pair counts
    (operators/graphstats.py:cooccurrence_edges) and lands them under a
    CONTENT-derived batch key via replace-MERGE — the stream_cms discipline
    for an ADDITIVE fold (pair counts sum across batches; addition is not
    idempotent, so replays must overwrite, not re-add). read_edge_weights
    sums the batch partials into the live edge weights.

    REQUIREMENT (documented, checked by the gate): groups must not straddle
    micro-batches — pairs are generated within a batch, so a basket split
    across two files would lose its cross-file pairs. Real ingestion
    satisfies this by partitioning the stream on the basket/group key
    (Kafka key = order id); the gate feeds group-aligned files. Under that
    alignment the summed stream state EQUALS the batch projection of the
    full input, for any batch sizes, arrival order, or replays.
    """
    from knowledgegraphbuilder_spark.operators.graphstats import cooccurrence_edges

    stream = file_stream(spark, input_dir, schema, 1)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        bkey = batch_key(batch_df, group_col, F.concat_ws(
            "|", F.col(group_col).cast("string"), F.col(item_col).cast("string")
        ))
        if bkey is None:
            return
        part = cooccurrence_edges(
            batch_df, group_col, item_col, max_group_size=max_group_size
        ).select(F.lit(bkey).alias("bkey"), "src", "dst", "weight")
        merge(batch_df.sparkSession, table_dir, part, "bkey", "replace")

    drain(stream.writeStream.foreachBatch(process), checkpoint_dir)


def read_edge_weights(spark: SparkSession, table_dir: str) -> "DataFrame":
    """Fold the batch-keyed partial pair counts into live edge weights:
    one map-side-combinable sum per (src, dst). Under group-aligned batches
    this equals the batch co-occurrence projection exactly."""
    return (
        spark.read.parquet(table_dir)
        .groupBy("src", "dst")
        .agg(F.sum("weight").cast("long").alias("weight"))
    )


def run_mg_available_now(
    spark: SparkSession, input_dir: str, table_dir: str, checkpoint_dir: str,
    k: int = 30,
    explode_expr: str = "explode(split(text, ' '))",
    schema: str = "doc_id long, text string, lang string, source string, n_chars long",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Streaming EXACT-heavy-hitter state maintenance: each micro-batch
    reduces to its per-partition Misra-Gries candidate summaries
    (operators/sketches.py:mg_partition_summaries — mergeable, Agarwal et
    al. PODS'12) plus the batch's token count, landed under a CONTENT-
    derived batch key via replace-by-key MERGE — the same idempotent fold
    contract as run_cms_available_now (replay or fresh-checkpoint re-run
    over the same files leaves state byte-identical).

    The stored state per batch is <= partitions * (k+1) candidate rows —
    bounded by parallelism * k, INDEPENDENT of batch row count (we keep the
    per-partition summaries un-compressed rather than re-merging to k, which
    keeps the per-batch MG error at n_b/(k+1) with no second compression
    term, so the cross-batch superset guarantee needs no capacity
    inflation): a key missing from every batch's summary has true count
    <= sum_b n_b/(k+1) = n/(k+1), hence the union of stored candidate keys
    is a superset of the true global heavy hitters for ANY batching of the
    corpus. The final answer (see the stream_heavy gate query) recounts
    candidates exactly against the corpus, so it is batching- AND
    partitioning-independent — byte-equal to the batch operator.
    """
    from knowledgegraphbuilder_spark.operators.sketches import (
        mg_partition_summaries,
    )

    stream = file_stream(spark, input_dir, schema, 1)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        bkey = batch_key(batch_df, id_col, F.concat_ws(
            "|",
            F.col(id_col).cast("string"),
            F.coalesce(F.col(text_col), F.lit("")),
        ))
        if bkey is None:
            return
        keys = batch_df.selectExpr(f"{explode_expr} AS key").filter(
            "key IS NOT NULL AND key <> ''"
        )
        n_batch = keys.count()
        summ = mg_partition_summaries(keys, k).groupBy("key").agg(
            F.sum("cnt").cast("long").alias("cnt")
        )
        rows = summ.select(
            F.lit(bkey).alias("bkey"),
            "key",
            "cnt",
            F.lit(n_batch).cast("long").alias("n_batch"),
        )
        merge(batch_df.sparkSession, table_dir, rows, "bkey", "replace")

    drain(stream.writeStream.foreachBatch(process), checkpoint_dir)


def heavy_hitters_from_mg_state(
    spark: SparkSession, table_dir: str, corpus_keys: "DataFrame", k: int = 30
) -> "DataFrame":
    """Resolve the streamed MG state into the EXACT heavy-hitter answer:
    union the stored candidate keys (superset of the true heavy hitters, see
    run_mg_available_now), take n_total = sum of per-batch token counts
    (batches partition the corpus), recount candidates exactly against the
    corpus, threshold with the same integer comparison as the batch
    operator — the result is byte-equal to misra_gries_heavy_hitters on the
    full corpus."""
    state = spark.read.parquet(table_dir)
    n_total = (
        state.select("bkey", "n_batch").distinct()
        .agg(F.sum("n_batch").cast("long").alias("n_total"))
    )
    cand = state.select("key").distinct()
    return (
        corpus_keys.join(F.broadcast(cand), "key", "left_semi")
        .groupBy("key")
        .agg(F.count("*").cast("long").alias("cnt"))
        .crossJoin(F.broadcast(n_total))
        .filter(F.col("cnt") * (k + 1) > F.col("n_total"))
        .select("key", "cnt", "n_total")
    )


def run_hdr_available_now(
    spark: SparkSession, input_dir: str, table_dir: str, checkpoint_dir: str,
    value_expr: str = "v",
    schema: str = "id long, v long",
    id_col: str = "id",
) -> None:
    """Streaming quantile-sketch maintenance: each micro-batch reduces to
    its HDR histogram rows (operators/sketches.py:hdr_histogram — counts
    are ADDITIVE, the same mergeable-summary contract as the CMS/HLL/MG
    folds), landed under a CONTENT-derived batch key via replace-by-key
    MERGE. Replaying the same files (or re-running against a fresh
    checkpoint) lands identical (bkey, b, hi, cnt) rows, so the fold is
    idempotent; summing stored counts by (b, hi) across batches equals the
    batch sketch of the full corpus EXACTLY — so the resolved quantiles
    (quantiles_from_hdr_state) are byte-equal to the batch sk_quantile
    answer for ANY batching of the input.

    State per batch is <= ~64 * 2^HDR_SUB_BITS rows, independent of batch
    size — the fixed-state property that lets this run forever."""
    from knowledgegraphbuilder_spark.operators.sketches import hdr_histogram

    stream = file_stream(spark, input_dir, schema, 1)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        bkey = batch_key(batch_df, id_col, F.concat_ws(
            "|", F.col(id_col).cast("string"), F.expr(value_expr).cast("string")
        ))
        if bkey is None:
            return
        rows = hdr_histogram(batch_df, value_expr).select(
            F.lit(bkey).alias("bkey"), "b", "hi", "cnt"
        )
        merge(batch_df.sparkSession, table_dir, rows, "bkey", "replace")

    drain(stream.writeStream.foreachBatch(process), checkpoint_dir)


def quantiles_from_hdr_state(
    spark: SparkSession, table_dir: str, qs: list[float] | None = None
) -> "DataFrame":
    """Resolve the streamed HDR state into quantile estimates: sum stored
    counts by (b, hi) — additivity makes this the exact batch sketch of the
    union of all batches — then run the same cumulative walk as the batch
    operator (sketches.py:hdr_quantiles_from_sketch). Byte-equal to
    hdr_quantiles on the full corpus for any batching."""
    from knowledgegraphbuilder_spark.operators.sketches import (
        hdr_quantiles_from_sketch,
    )

    sk = (
        spark.read.parquet(table_dir)
        .groupBy("b", "hi")
        .agg(F.sum("cnt").cast("long").alias("cnt"))
    )
    return hdr_quantiles_from_sketch(sk, qs or [0.25, 0.5, 0.75, 0.9, 0.99])


def run_minhash_available_now(
    spark: SparkSession, input_dir: str, table_dir: str, checkpoint_dir: str,
    group_col: str = "source", text_col: str = "text",
    schema: str = "doc_id long, text string, lang string, source string, "
                  "n_chars long",
    max_files_per_trigger: int | None = 1,
) -> None:
    """Streaming per-source MinHash signature maintenance: each micro-batch
    reduces to its (g, perm, minv) group-signature rows
    (operators/sketches.py:minhash_group_signatures) and min-MERGEs into
    the persistent signature state. Elementwise min is idempotent,
    commutative and associative — the same replay algebra as the HLL
    register max-fold — so the final state is EXACTLY the batch signature
    of the full corpus regardless of batch boundaries, arrival order, or
    replays, and the value-exact gate holds the streamed signature to the
    batch oracle.

    At scale: state is n_perm rows per source (a few hundred bytes), never
    per-doc; a day of new documents folds into the same fixed rows, and
    source-vs-source resemblance stays answerable from state alone."""
    from knowledgegraphbuilder_spark.operators.sketches import (
        minhash_group_signatures,
    )

    stream = file_stream(spark, input_dir, schema, max_files_per_trigger)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        sig = minhash_group_signatures(batch_df, group_col, text_col)
        merge(batch_df.sparkSession, table_dir, sig, ["g", "perm"], "min")

    drain(stream.writeStream.foreachBatch(process), checkpoint_dir)


def run_bloom_available_now(
    spark: SparkSession, input_dir: str, table_dir: str, checkpoint_dir: str,
    value_expr: str = "text",
    schema: str = "doc_id long, text string, lang string, source string, "
                  "n_chars long",
) -> None:
    """Streaming Bloom-filter maintenance: each micro-batch reduces to its
    own bloom word table (operators/sketches.py:bloom_build) and
    bit_or-MERGEs into the persistent filter. OR is idempotent/commutative/
    associative, so the state is EXACTLY the batch filter of the full
    input under any batching, ordering, or replay — the third instance of
    the mergeable-fold contract (HLL max, MinHash min, Bloom or).

    At scale this is how a dedup/membership gate stays current against an
    unbounded firehose: the state is m/63 longs TOTAL (not per key), every
    batch's contribution is a map-side aggregate, and the filter is
    broadcastable to any consumer (dedup.bloom_anti_join) at every point
    in time."""
    from knowledgegraphbuilder_spark.operators.sketches import bloom_build

    stream = file_stream(spark, input_dir, schema, 1)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        words = bloom_build(batch_df, value_expr)
        merge(batch_df.sparkSession, table_dir, words, "word", "bit_or")

    drain(stream.writeStream.foreachBatch(process), checkpoint_dir)


def run_resample_available_now(
    spark: SparkSession, input_dir: str, table_dir: str, checkpoint_dir: str,
    key_col: str = "event_type", ts_col: str = "ts",
    value_col: str = "value", id_col: str = "event_id",
    bucket_us: int = 900_000_000,
    schema: str = ("event_id long, ts timestamp, user_id long, "
                   "event_type string, value double, props string"),
) -> None:
    """Streaming resample-state maintenance: each micro-batch reduces to
    its per-(key, bucket) EXACT partial aggregates — integer event count
    and integer cents sum, the same bucket arithmetic as
    operators/timeseries.py:resample_events — and lands them under a
    CONTENT-derived batch key via replace-MERGE (the
    run_edge_weights_available_now additive-fold discipline: partials sum
    across batches, addition is not idempotent, so replays overwrite).

    Unlike the edge fold there is NO batch-alignment requirement: bucket
    partials are additive under ANY split of the event rows across
    micro-batches, arrival order, or replay — (count, sum) is a
    commutative monoid per (key, bucket). read_resampled folds the
    partials and runs the identical densify + forward-fill plan as the
    batch operator, so streamed state == batch output byte-for-byte.
    """
    bus = int(bucket_us)
    stream = file_stream(spark, input_dir, schema, 1)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        bkey = batch_key(batch_df, id_col, F.concat_ws(
            "|", F.col(id_col).cast("string"), F.col(ts_col).cast("string")
        ))
        if bkey is None:
            return
        part = (
            batch_df.select(
                F.col(key_col).alias("key"),
                F.expr(
                    f"unix_micros(cast({ts_col} as timestamp)) div {bus}"
                ).alias("bkt"),
                F.expr(
                    f"cast(floor({value_col} * 100) as bigint)"
                ).alias("cents"),
            )
            .groupBy("key", "bkt")
            .agg(
                F.count("*").cast("long").alias("n_events"),
                F.sum("cents").cast("long").alias("sum_cents"),
            )
            .select(F.lit(bkey).alias("bkey"),
                    "key", "bkt", "n_events", "sum_cents")
        )
        merge(batch_df.sparkSession, table_dir, part, "bkey", "replace")

    drain(stream.writeStream.foreachBatch(process), checkpoint_dir)


def read_resampled(spark: SparkSession, table_dir: str) -> "DataFrame":
    """Fold the batch-keyed bucket partials into live totals (one
    map-side-combinable sum per (key, bucket)) and run the SAME densify +
    forward-fill plan as batch resample_events — the streamed grid equals
    the batch grid for any batching of the input."""
    from knowledgegraphbuilder_spark.operators.timeseries import densify_ffill

    agg = (
        spark.read.parquet(table_dir)
        .groupBy("key", "bkt")
        .agg(
            F.sum("n_events").cast("long").alias("n_events"),
            F.sum("sum_cents").cast("long").alias("sum_cents"),
        )
    )
    return densify_ffill(agg)


def run_line_dedup_available_now(
    spark: SparkSession, input_dir: str, output_dir: str, checkpoint_dir: str,
    text_col: str = "text", id_col: str = "doc_id",
    words_per_line: int = 8,
) -> None:
    """Streaming LINE-level first-wins dedup: each micro-batch reformats
    its docs into pseudo-lines (the SAME dedup.line_explode expression as
    the batch operator), keeps the min (doc_id, line_no) occurrence per
    line hash WITHIN the batch, and first-wins-MERGEs into the winner
    table keyed by the line hash (run_dedup_available_now's first-wins
    ``"keep"`` discipline — an arriving duplicate of an
    already-claimed line never replaces the original winner, and any
    replay is a no-op).

    REQUIREMENT (documented, same as run_edge_weights_available_now):
    batches must arrive doc_id-ascending (time-ordered ingestion) for the
    streamed winner set to equal the batch operator's global
    first-occurrence choice; the gate feeds doc_id-range files. State
    lives entirely in the keyed winner table — zero executor memory.
    """
    from knowledgegraphbuilder_spark.operators.dedup import line_explode

    stream = file_stream(spark, input_dir, f"{id_col} long, {text_col} string", 1)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        lines = line_explode(batch_df, text_col, id_col, words_per_line)
        winners = (
            lines.select(
                F.sha2(F.col("line"), 256).alias("line_hash"),
                F.struct("doc_id", "line_no").alias("occ"),
            )
            .groupBy("line_hash")
            .agg(F.min("occ").alias("occ"))
            .select("line_hash", "occ.doc_id", "occ.line_no")
        )
        merge(batch_df.sparkSession, output_dir, winners, "line_hash", "keep")

    drain(stream.writeStream.foreachBatch(process), checkpoint_dir)


def line_dedup_stats_from_state(
    spark: SparkSession, winners_dir: str, docs: "DataFrame",
    text_col: str = "text", id_col: str = "doc_id",
    words_per_line: int = 8,
) -> "DataFrame":
    """Resolve the streamed winner table into the batch operator's per-doc
    stats: re-explode the corpus through the shared line_explode and mark
    each occurrence kept iff it IS the stored winner — under doc_id-
    ascending batches this equals dedup.line_dedup_stats exactly, which
    is what the dd_lines SQL oracle checks."""
    from knowledgegraphbuilder_spark.operators.dedup import line_explode

    w = spark.read.parquet(winners_dir).select(
        "line_hash",
        F.col("doc_id").alias("w_doc"), F.col("line_no").alias("w_line"),
    )
    lines = line_explode(docs, text_col, id_col, words_per_line).select(
        "doc_id", "line_no", F.sha2(F.col("line"), 256).alias("line_hash")
    )
    flagged = lines.join(w, "line_hash").select(
        "doc_id",
        ((F.col("doc_id") == F.col("w_doc"))
         & (F.col("line_no") == F.col("w_line"))).cast("int").alias("kept"),
    )
    return flagged.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_lines"),
        F.sum("kept").cast("long").alias("n_kept"),
        (F.count("*") - F.sum("kept")).cast("long").alias("n_removed"),
    )


def read_cusum(spark: SparkSession, table_dir: str) -> "DataFrame":
    """Fold the batch-keyed DAILY bucket partials (maintained by
    run_resample_available_now at bucket_us=86_400_000_000) into live
    per-(key, day) counts and run the SAME densify + scaled-integer
    CUSUM plan as the batch operator
    (operators/timeseries.py:cusum_from_bucket_counts) — streamed
    changepoint state equals the batch statistic for any batching,
    arrival order, or replay of the input, because (count) is a
    commutative monoid per bucket and everything after the fold is the
    shared plan."""
    from knowledgegraphbuilder_spark.operators.timeseries import (
        cusum_from_bucket_counts,
    )

    agg = (
        spark.read.parquet(table_dir)
        .groupBy("key", "bkt")
        .agg(F.sum("n_events").cast("long").alias("n"))
    )
    return cusum_from_bucket_counts(agg)


def run_kmv_available_now(
    spark: SparkSession, input_dir: str, table_dir: str, checkpoint_dir: str,
    value_col: str = "user_id", id_col: str = "event_id",
    k: int = 256, salt: str = "kmv-v1",
    schema: str = ("event_id long, ts timestamp, user_id long, "
                   "event_type string, value double, props string"),
) -> None:
    """Streaming KMV-state maintenance: each micro-batch contributes its
    own k smallest distinct 60-bit value hashes under a content-derived
    batch key via replace-MERGE. The union of per-batch k-min sets is a
    SUPERSET of the global k-min set (every hash in the global top-k is
    by definition in its own batch's top-k), so read_kmv's
    distinct + re-top-k over the folded state equals the batch sketch
    for any batching, arrival order, or replay — KMV is a bounded-state
    mergeable sketch, the order-statistics analog of the HLL
    register-max fold."""
    from knowledgegraphbuilder_spark.operators.sketches import _H60

    kk = int(k)
    stream = file_stream(spark, input_dir, schema, 1)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        bkey = batch_key(batch_df, id_col, F.concat_ws(
            "|", F.col(id_col).cast("string"), F.col(value_col).cast("string")
        ))
        if bkey is None:
            return
        part = (
            batch_df.selectExpr(f"{value_col} as v")
            .distinct()
            .select(
                F.expr(_H60.format(
                    x=f"concat('{salt}', ',', cast(v as string))"
                )).alias("h")
            )
            .distinct()
            .orderBy("h")
            .limit(kk)
            .select(F.lit(bkey).alias("bkey"), "h")
        )
        merge(batch_df.sparkSession, table_dir, part, "bkey", "replace")

    drain(stream.writeStream.foreachBatch(process), checkpoint_dir)


def read_kmv(
    spark: SparkSession, table_dir: str, n_exact_df: "DataFrame",
    value_col: str = "user_id", k: int = 256, salt: str = "kmv-v1",
) -> "DataFrame":
    """Fold the per-batch k-min sets (distinct + global re-top-k, the
    same TakeOrderedAndProject plan as the batch sketch) and project the
    identical estimator row as sketches.kmv_estimate — streamed state
    equals the batch sketch. ``n_exact_df`` supplies the exact-count
    column the gate compares (a production caller drops it)."""
    from knowledgegraphbuilder_spark.operators.sketches import _H60

    kk = int(k)
    hashed = spark.read.parquet(table_dir).select("h").distinct()
    topk = hashed.orderBy("h").limit(kk)
    st = topk.agg(
        F.count("*").cast("long").alias("m"),
        F.max("h").cast("long").alias("kth"),
    )
    n_exact = (
        n_exact_df.selectExpr(f"{value_col} as v")
        .distinct()
        .select(
            F.expr(_H60.format(
                x=f"concat('{salt}', ',', cast(v as string))"
            )).alias("h")
        )
        .distinct()
        .count()
    )
    two60 = 1 << 60
    return st.selectExpr(
        "m as k_used",
        "kth as kth_hash",
        f"round(case when m < {kk} then cast(m as double)"
        f" else ({kk} - 1.0d) * {two60}d / kth end, 6) as n_est",
        f"cast({int(n_exact)} as bigint) as n_exact",
        f"round(abs(case when m < {kk} then cast(m as double)"
        f" else ({kk} - 1.0d) * {two60}d / kth end"
        f" - {int(n_exact)}) / {int(n_exact)}, 6) as rel_err",
    )


def run_align_available_now(
    spark: SparkSession, input_dir: str, table_dir: str, checkpoint_dir: str,
) -> None:
    """Incremental caption alignment over an interleaved-document stream:
    drain the spans directory, align each micro-batch's media spans to
    their nearest text span (multimodal.py:align_media_to_text), MERGE
    into the alignment table keyed by the deterministic span identity
    sha256(doc_id:pos).

    Correctness rests on the same invariant as run_relations_available_now:
    a file is the batch unit and one row carries a COMPLETE document's span
    array, so the per-document alignment windows never need cross-batch
    state, and replaying any batch rewrites identical rows (MERGE
    idempotency — the resume story). Output equals the batch alignment
    byte-for-byte (pinned by tests + the stream_align gate entry).
    """
    from knowledgegraphbuilder_spark.operators.multimodal import (
        align_media_to_text,
    )

    spans = file_stream(spark, input_dir, SPANS)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        aligned = align_media_to_text(batch_df).withColumn(
            "align_id",
            F.sha2(F.concat_ws(":", F.col("doc_id"), F.col("pos")), 256),
        )
        merge(batch_df.sparkSession, table_dir, aligned, "align_id", "replace")

    drain(spans.writeStream.foreachBatch(process), checkpoint_dir)


def run_transitions_available_now(
    spark: SparkSession, input_dir: str, table_dir: str, checkpoint_dir: str,
) -> None:
    """Streaming modality-transition fold: per micro-batch, count the
    consecutive span-kind bigrams (multimodal.py:modality_transitions —
    per-document windows, so batch-local counts are exact) and MERGE the
    batch's partial counts keyed by a content-derived batch key — the same
    replace-MERGE idempotency scheme as the sketch folds (run_cms): a
    replayed batch overwrites its own rows instead of double-counting.
    Read the total with read_transitions (sums partials per kind pair).
    """
    from knowledgegraphbuilder_spark.operators.multimodal import (
        modality_transitions,
    )

    spans = file_stream(spark, input_dir, SPANS)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        bkey = batch_key(batch_df, "doc_id", F.col("doc_id"))
        if bkey is None:
            return
        part = modality_transitions(batch_df).select(
            F.lit(bkey).alias("bkey"), "from_kind", "to_kind", "cnt"
        )
        merge(batch_df.sparkSession, table_dir, part, "bkey", "replace")

    drain(spans.writeStream.foreachBatch(process), checkpoint_dir)


def read_transitions(spark: SparkSession, table_dir: str) -> "DataFrame":
    """Fold the per-batch partial transition counts into corpus totals.
    A table dir that was never created (every batch empty) folds to an
    empty result rather than a read error."""
    import os

    if not os.path.exists(table_dir):
        return spark.createDataFrame(
            [], "from_kind string, to_kind string, cnt long"
        )
    return (
        spark.read.parquet(table_dir)
        .groupBy("from_kind", "to_kind")
        .agg(F.sum("cnt").cast("long").alias("cnt"))
    )


def run_media_budget_available_now(
    spark: SparkSession, input_dir: str, table_dir: str, checkpoint_dir: str,
) -> None:
    """Streaming media-byte accounting: per micro-batch, explode the
    batch's spans to distinct media refs, run the real fetch path
    (multimodal.py:fetch_media) and MERGE the batch's per-kind partial
    (n_refs, total_bytes) keyed by a content-derived batch key — the same
    replace-MERGE idempotency scheme as the transition fold. Read totals
    with read_media_budget. Refs are per-document in this corpus, so
    batch partials sum exactly (the batch unit carries whole docs)."""
    from knowledgegraphbuilder_spark.operators.multimodal import (
        fetch_media,
        media_refs,
    )

    spans = file_stream(spark, input_dir, SPANS)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        bkey = batch_key(batch_df, "doc_id", F.col("doc_id"))
        if bkey is None:
            return
        part = (
            fetch_media(media_refs(batch_df))
            .groupBy("media_type")
            .agg(
                F.count("*").cast("long").alias("n_refs"),
                F.sum("n_bytes").cast("long").alias("total_bytes"),
            )
            .select(F.lit(bkey).alias("bkey"), "media_type", "n_refs",
                    "total_bytes")
        )
        merge(batch_df.sparkSession, table_dir, part, "bkey", "replace")

    drain(spans.writeStream.foreachBatch(process), checkpoint_dir)


def read_media_budget(spark: SparkSession, table_dir: str) -> "DataFrame":
    """Fold the per-batch media-budget partials into corpus totals (empty
    fold when no batch ever carried media)."""
    import os

    if not os.path.exists(table_dir):
        return spark.createDataFrame(
            [], "media_type string, n_refs long, total_bytes long"
        )
    return (
        spark.read.parquet(table_dir)
        .groupBy("media_type")
        .agg(
            F.sum("n_refs").cast("long").alias("n_refs"),
            F.sum("total_bytes").cast("long").alias("total_bytes"),
        )
    )


def run_nt_ingest_available_now(
    spark: SparkSession, input_dir: str, output_dir: str, checkpoint_dir: str,
) -> None:
    """Streaming RDF N-Triples ingest: consume a feed of N-Triples text
    files (the ``operators/export.py`` dialect) and fold it into two
    keyed state tables —

    - ``labels``: content-hash IRI -> unescaped surface text, and
    - ``rels``:   (s_hash, pred, o_hash) statements keyed by a statement
      content hash,

    both via first-wins MERGE (``merge(..., "keep")``), so replaying
    any slice of the feed is a no-op and arrival ORDER DOES NOT MATTER:
    a statement whose subject/object label lands in a later file (or
    never in the same micro-batch) parks as hashes and resolves when
    :func:`read_nt_triples` joins the two tables at read time. That
    read-time resolution is the honest design for RDF feeds, where
    statements and labels are routinely interleaved across dump shards —
    a per-batch join would silently drop cross-batch statements.

    Scale shape: each micro-batch is one regexp destructure pass (pure
    JVM, same expressions as rdfio.from_ntriples) + two keyed MERGEs on
    uniform 64-hex keys; state is entirely on disk, zero executor
    memory, and the streaming result equals the batch parser on the
    same lines (pinned by tests + the shared driver oracle).
    """
    from knowledgegraphbuilder_spark.operators.rdfio import (
        _LABEL_RE, _REL_RE, unescape_literal,
    )

    stream = file_stream(spark, input_dir, None, 1)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        nt = F.col("value")
        ss = batch_df.sparkSession
        rels = (
            batch_df.filter(nt.rlike(_REL_RE))
            .select(
                F.regexp_extract(nt, _REL_RE, 1).alias("s_hash"),
                F.regexp_extract(nt, _REL_RE, 2).alias("pred"),
                F.regexp_extract(nt, _REL_RE, 3).alias("o_hash"),
            )
            .withColumn(
                "stmt_hash",
                F.sha2(F.concat_ws("\x1f", "s_hash", "pred", "o_hash"), 256),
            )
            .dropDuplicates(["stmt_hash"])
        )
        labels = (
            batch_df.filter(nt.rlike(_LABEL_RE))
            .select(
                F.regexp_extract(nt, _LABEL_RE, 1).alias("n_hash"),
                unescape_literal(
                    F.regexp_extract(nt, _LABEL_RE, 2)
                ).alias("text"),
            )
            .dropDuplicates(["n_hash"])
        )
        merge(ss, f"{output_dir}/rels", rels, "stmt_hash", "keep")
        merge(ss, f"{output_dir}/labels", labels, "n_hash", "keep")

    drain(stream.writeStream.foreachBatch(process), checkpoint_dir)


def read_nt_triples(spark: SparkSession, output_dir: str) -> "DataFrame":
    """Resolve the streamed N-Triples state into distinct surface-text
    ``(subj, pred, obj)`` triples: join parked statements to the label
    table on both content-hash endpoints. Statements whose labels never
    arrived stay unresolved (inner join) — they become visible the
    moment the missing label file lands and the reader re-runs."""
    rels = spark.read.parquet(f"{output_dir}/rels")
    labels = spark.read.parquet(f"{output_dir}/labels")
    return (
        rels.join(
            labels.select(F.col("n_hash").alias("s_hash"),
                          F.col("text").alias("subj")), "s_hash")
        .join(
            labels.select(F.col("n_hash").alias("o_hash"),
                          F.col("text").alias("obj")), "o_hash")
        .select("subj", "pred", "obj")
        .distinct()
    )


def run_fusion_available_now(
    spark: SparkSession, input_dir: str, table_dir: str, checkpoint_dir: str,
    config: KGConfig | None = None,
    class_expr: str = "CASE WHEN cast(regexp_extract(doc_id, '([0-9]+)$', 1)"
                      " as bigint) % 2 = 0 THEN 'a' ELSE 'b' END",
    residual_tenths: dict[str, int] | None = None,
) -> None:
    """Streaming noisy-OR fusion maintenance (the Knowledge Vault fold,
    operators/fusion.py): each micro-batch of complete documents runs
    the batch RE chain (run_relations_available_now's per-document
    argument), reduces its relations to per-statement per-extractor-class
    EVENT COUNTS, and lands them under a content-derived batch key via
    replace-MERGE — the stream_cms discipline, because counts are
    additive (associative/commutative) but not idempotent, and batch
    keying makes replay rewrite identical rows instead of
    double-counting.

    Documents partition across batches (files are the batch unit), so a
    (statement, doc) event lands in exactly one batch and the keyed
    partial counts SUM to the full-corpus counts under any batching or
    replay; read_fused folds them and applies the exact saturating
    posterior — byte-equal to batch fuse_extractions over the same
    corpus, which is what the gate checks.

    At scale this is how statement confidence stays current against a
    document firehose: state is one small row per (batch, statement),
    compactable once replays are impossible, and the posterior is always
    derivable from state alone — no corpus rescan."""
    cfg = config or KGConfig()
    residuals = residual_tenths or {"a": 3, "b": 1}
    classes = sorted(residuals)
    spans = file_stream(spark, input_dir, SPANS)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        bkey = batch_key(batch_df, "doc_id", F.col("doc_id").cast("string"))
        if bkey is None:
            return
        ev = _batch_relations(batch_df, cfg).selectExpr(
            "head_text AS subj", "rel_type AS pred", "tail_text AS obj",
            "doc_id", f"({class_expr}) AS ex_class",
        ).distinct()
        counts = ev.groupBy("subj", "pred", "obj").agg(
            *[
                F.sum(F.when(F.col("ex_class") == c, F.lit(1))
                      .otherwise(F.lit(0))).cast("long").alias(f"k_{c}")
                for c in classes
            ]
        ).select(F.lit(bkey).alias("bkey"), "*")
        merge(batch_df.sparkSession, table_dir, counts, "bkey", "replace")

    drain(spans.writeStream.foreachBatch(process), checkpoint_dir)


def read_fused(
    spark: SparkSession, table_dir: str,
    residual_tenths: dict[str, int] | None = None,
) -> "DataFrame":
    """Fold the streaming fusion state (per-batch partial counts) into
    the per-statement posterior — operators/fusion.fuse_from_counts over
    the keyed partials; equals batch fuse_extractions exactly."""
    from knowledgegraphbuilder_spark.operators.fusion import fuse_from_counts

    return fuse_from_counts(
        spark.read.parquet(table_dir), residual_tenths or {"a": 3, "b": 1}
    )


def run_cc_available_now(
    spark: SparkSession, input_dir: str, state_dir: str, checkpoint_dir: str,
    schema: str = "src string, dst string",
    max_files_per_trigger: int | None = 1,
) -> None:
    """Incremental connected-components maintenance over an EDGE stream —
    the affected-component recompute pattern: each micro-batch of new
    edges (1) looks up which existing components its endpoints touch,
    (2) pulls ONLY those components' edges from state, (3) re-runs the
    large/small-star CC on that induced subgraph plus the new edges, and
    (4) upserts the resulting assignments — vertices in untouched
    components never move, so per-batch cost tracks the touched
    neighborhood, not the accumulated graph.

    Confluence (why replay/out-of-order is safe): component ids are
    component-min vertex ids, so merging is monotone (ids only ever
    decrease), the edge state is first-wins keyed by the edge itself,
    and replaying a batch whose edges are already in state recomputes an
    already-fixed assignment — both MERGEs rewrite identical rows. The
    final assignment equals batch CC of the full edge multiset under
    ANY batching, ordering, or replay, which is exactly what the oracle
    (batch CC replay) checks.

    State: <state>/edges (first-wins by edge key), <state>/assign
    (vertex -> component, upsert by vertex)."""
    import os

    from knowledgegraphbuilder_spark.operators.canonicalize import (
        connected_components,
    )

    edges_dir, assign_dir = f"{state_dir}/edges", f"{state_dir}/assign"
    stream = file_stream(spark, input_dir, schema, max_files_per_trigger)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        s = batch_df.sparkSession
        new_e = (
            batch_df.selectExpr(
                "least(src, dst) AS src", "greatest(src, dst) AS dst"
            )
            .filter(F.col("src") != F.col("dst"))
            .distinct()
        )
        # condition on the EDGES table: after a crash between the two
        # merges (assign written, edges not), the replay must treat the
        # batch as first-contact — recomputing from new edges alone
        # rewrites the identical assignment rows
        if os.path.exists(os.path.join(edges_dir, "_SUCCESS")):
            assign = s.read.parquet(assign_dir)
            ends = (
                new_e.select(F.col("src").alias("vertex"))
                .unionAll(new_e.select(F.col("dst").alias("vertex")))
                .distinct()
            )
            touched = (
                assign.join(ends, "vertex", "left_semi")
                .select("component").distinct()
            )
            old_edges = (
                s.read.parquet(edges_dir).select("src", "dst")
                .join(
                    assign.withColumnRenamed("vertex", "src")
                    .join(touched, "component", "left_semi")
                    .select("src"),
                    "src", "left_semi",
                )
            )
            sub = old_edges.unionByName(new_e)
        else:
            sub = new_e
        if sub.isEmpty():
            return
        sub_assign = connected_components(sub)
        merge(s, assign_dir, sub_assign, "vertex", "replace")
        key = new_e.select(
            F.concat_ws("\x1f", "src", "dst").alias("ekey"), "src", "dst"
        )
        merge(s, edges_dir, key, "ekey", "keep")

    drain(stream.writeStream.foreachBatch(process), checkpoint_dir)


def read_cc_assign(spark: SparkSession, state_dir: str) -> "DataFrame":
    """The maintained (vertex, component) assignment."""
    return spark.read.parquet(f"{state_dir}/assign").select(
        "vertex", "component"
    )
