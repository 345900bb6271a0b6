"""Structured-Streaming ingest: streamed mentions == batch mentions."""

import os

from knowledgegraphbuilder_spark.config import KGConfig
from knowledgegraphbuilder_spark.plans.pipeline import run_pipeline
from knowledgegraphbuilder_spark.streaming.ingest import (
    run_ingest_available_now,
    run_relations_available_now,
)


def test_streaming_mentions_match_batch(spark, corpus_df, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("stream"))
    in_dir, out_dir, ck_dir = f"{base}/in", f"{base}/out", f"{base}/ck"
    # land the corpus as multiple files (simulates arriving micro-batches)
    corpus_df.repartition(4).write.mode("overwrite").parquet(in_dir)

    run_ingest_available_now(spark, in_dir, out_dir, ck_dir, KGConfig())
    streamed = {
        tuple(r)
        for r in spark.read.parquet(out_dir)
        .select("mention_id", "doc_id", "start", "end", "label", "text")
        .collect()
    }
    batch = {
        tuple(r)
        for r in run_pipeline(corpus_df, KGConfig())
        .mentions.select("mention_id", "doc_id", "start", "end", "label", "text")
        .collect()
    }
    assert streamed == batch

    # re-running with the same checkpoint is a no-op (exactly-once)
    n_before = spark.read.parquet(out_dir).count()
    run_ingest_available_now(spark, in_dir, out_dir, ck_dir, KGConfig())
    assert spark.read.parquet(out_dir).count() == n_before


def test_streaming_relations_match_batch(spark, corpus_df, tmp_path_factory):
    """Full RE chain under availableNow + MERGE == batch relation table,
    byte-identical, and idempotent on replay."""
    base = str(tmp_path_factory.mktemp("stream_re"))
    in_dir, out_dir, ck_dir = f"{base}/in", f"{base}/out", f"{base}/ck"
    corpus_df.repartition(4).write.mode("overwrite").parquet(in_dir)

    cols = ["relation_id", "doc_id", "head_mention_id", "tail_mention_id",
            "rel_type", "description"]
    run_relations_available_now(spark, in_dir, out_dir, ck_dir, KGConfig())
    streamed = {tuple(r) for r in spark.read.parquet(out_dir).select(*cols).collect()}
    batch = {
        tuple(r)
        for r in run_pipeline(corpus_df, KGConfig()).relations.select(*cols).collect()
    }
    assert streamed == batch

    # fresh checkpoint over the same input: MERGE by deterministic id keeps
    # the table identical (idempotent replay)
    run_relations_available_now(spark, in_dir, out_dir, f"{base}/ck2", KGConfig())
    again = {tuple(r) for r in spark.read.parquet(out_dir).select(*cols).collect()}
    assert again == batch


def test_streaming_dedup_first_wins(spark, corpus, tmp_path_factory):
    """Streaming exact dedup: first-wins MERGE across micro-batches equals
    batch dedup (min id per content), and a full replay is a no-op."""
    from pyspark.sql import functions as F

    from knowledgegraphbuilder_spark.streaming.ingest import (
        run_dedup_available_now,
    )

    base = str(tmp_path_factory.mktemp("stream_dd"))
    flat = spark.createDataFrame(
        [(int(d.split("_")[1]), t) for d, t in corpus], "doc_id long, text string"
    )
    dup = flat.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 1000).alias("doc_id"), "text"
    )
    full = flat.unionByName(dup)
    for i, (lo, hi) in enumerate([(0, 15), (15, 40), (40, 99999)]):
        (full.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
         .coalesce(1).write.mode("overwrite").parquet(f"{base}/in/b{i}"))

    run_dedup_available_now(spark, f"{base}/in/*", f"{base}/out", f"{base}/ck")
    got = {
        r["content_hash"]: r["doc_id"]
        for r in spark.read.parquet(f"{base}/out").collect()
    }
    expected = {
        r["content_hash"]: r["doc_id"]
        for r in full.select(F.sha2("text", 256).alias("content_hash"), "doc_id")
        .groupBy("content_hash").agg(F.min("doc_id").alias("doc_id")).collect()
    }
    assert got == expected

    # replay everything with a fresh checkpoint: no row changes
    run_dedup_available_now(spark, f"{base}/in/*", f"{base}/out", f"{base}/ck2")
    again = {
        r["content_hash"]: r["doc_id"]
        for r in spark.read.parquet(f"{base}/out").collect()
    }
    assert again == expected


def test_streaming_curation_matches_batch(spark, corpus, tmp_path_factory):
    """Streaming quality-gate + PII redaction across micro-batches equals the
    batch operators over the same corpus, and a full replay is a no-op (the
    ops are doc-local, so the streaming form is exactly the batch form)."""
    from pyspark.sql import functions as F

    from knowledgegraphbuilder_spark.operators.curation import (
        pii_stats,
        quality_filter,
    )
    from knowledgegraphbuilder_spark.streaming.ingest import (
        run_curation_available_now,
    )

    base = str(tmp_path_factory.mktemp("stream_cur"))
    flat = spark.createDataFrame(
        [(int(d.split("_")[1]), t) for d, t in corpus], "doc_id long, text string"
    ).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(F.col("text"), F.lit(" ping admin@ex.io at 10.0.0.9")),
        ).otherwise(F.col("text")),
    )
    for i, (lo, hi) in enumerate([(0, 12), (12, 30), (30, 99999)]):
        (flat.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
         .coalesce(1).write.mode("overwrite").parquet(f"{base}/in/b{i}"))

    run_curation_available_now(spark, f"{base}/in/*", f"{base}/out", f"{base}/ck")
    cols = ["doc_id", "kept", "reasons", "n_emails", "n_ipv4", "n_cards", "redacted"]
    got = {tuple(r) for r in spark.read.parquet(f"{base}/out").select(*cols).collect()}
    expected = {
        tuple(r)
        for r in quality_filter(flat).select("doc_id", "kept", "reasons")
        .join(pii_stats(flat), "doc_id").select(*cols).collect()
    }
    assert got == expected
    # rows with planted PII actually got flagged + redacted
    assert any(r[3] == 1 and "<EMAIL>" in r[6] for r in got)

    run_curation_available_now(spark, f"{base}/in/*", f"{base}/out", f"{base}/ck2")
    again = {tuple(r) for r in spark.read.parquet(f"{base}/out").select(*cols).collect()}
    assert again == expected


def test_stream_stream_join_equals_batch_and_replay_noop(spark, tmp_path):
    from pyspark.sql import functions as F

    from knowledgegraphbuilder_spark.streaming.ingest import (
        run_stream_join_available_now,
    )

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = spark.range(600).select(
        F.col("id").alias("event_id"),
        F.expr("timestamp'2024-01-01 00:00:00' + make_interval(0,0,0,0,0,0, id * 300)").alias("ts"),
        # blocks of 3 consecutive events share a user, so each block's
        # view (id = 3k) matches its two purchases within the gap
        ((F.col("id") / 3).cast("long") % 5).alias("user_id"),
        F.when(F.col("id") % 3 == 0, "view").otherwise("purchase").alias("event_type"),
    )
    base = str(tmp_path)
    for kind, t in (("views", "view"), ("purchases", "purchase")):
        side = ev.filter(F.col("event_type") == t).drop("event_type")
        for i in range(3):
            (side.filter(F.col("event_id") % 3 == i)
             .coalesce(1).write.mode("overwrite").parquet(f"{base}/{kind}/b{i}"))
    args = (f"{base}/views/*", f"{base}/purchases/*", f"{base}/out")
    run_stream_join_available_now(spark, *args, f"{base}/ck", max_gap_s=1200)
    got = sorted(map(tuple, spark.read.parquet(f"{base}/out")
                 .select("purchase_id", "view_id", "user_id", "gap_s").collect()))
    batch = sorted(map(tuple, (
        ev.filter(F.col("event_type") == "purchase").alias("p")
        .join(ev.filter(F.col("event_type") == "view").alias("v"),
              F.expr("p.user_id = v.user_id AND p.ts >= v.ts "
                     "AND p.ts <= v.ts + interval 1200 seconds"))
        .select(F.col("p.event_id").alias("purchase_id"),
                F.col("v.event_id").alias("view_id"),
                F.col("p.user_id").alias("user_id"),
                (F.unix_timestamp("p.ts") - F.unix_timestamp("v.ts"))
                .cast("long").alias("gap_s"))
        .collect()
    )))
    assert got and got == batch  # streamed == batch time-bounded join
    # replay against a fresh checkpoint: MERGE by pair id is a no-op
    run_stream_join_available_now(spark, *args, f"{base}/ck2", max_gap_s=1200)
    again = sorted(map(tuple, spark.read.parquet(f"{base}/out")
                   .select("purchase_id", "view_id", "user_id", "gap_s").collect()))
    assert again == got


def test_stream_lsh_index_equals_batch_and_is_replay_idempotent(spark, tmp_path):
    from pyspark.sql import functions as F

    from knowledgegraphbuilder_spark.operators import ann as ann_ops
    from knowledgegraphbuilder_spark.streaming.ingest import (
        probe_lsh_index, run_lsh_index_available_now,
    )

    rng = [((i * 2654435761) % 97) / 97.0 for i in range(64 * 30)]
    rows = [(i, [float(rng[i * 64 + d] - 0.5) for d in range(64)]) for i in range(30)]
    embs = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    base = str(tmp_path / "sann")
    for i in range(3):
        (embs.filter((F.col("vec_id") % 3) == i)
         .coalesce(1).write.mode("overwrite").parquet(f"{base}/in/b{i}"))
    run_lsh_index_available_now(spark, f"{base}/in/*", f"{base}/idx", f"{base}/ck")
    idx1 = sorted(map(tuple, spark.read.parquet(f"{base}/idx")
                      .select("id", "lsh").collect()))
    # full replay against a fresh checkpoint: byte-identical index
    run_lsh_index_available_now(spark, f"{base}/in/*", f"{base}/idx", f"{base}/ck2")
    idx2 = sorted(map(tuple, spark.read.parquet(f"{base}/idx")
                      .select("id", "lsh").collect()))
    assert idx1 == idx2 and len(idx1) == 30 and len({i for i, _ in idx1}) == 30
    # probe over the streamed index == batch ann_lsh over the full corpus
    q = rows[0][1]
    got = sorted(map(tuple, probe_lsh_index(spark, f"{base}/idx", q, k=5).collect()))
    want = sorted(map(tuple, ann_ops.ann_lsh(embs, q, k=5, n_bits=4, n_tables=8).collect()))
    assert got == want and len(want) > 0


def test_stream_edge_weights_equal_batch_projection(spark, tmp_path):
    from pyspark.sql import functions as F

    from knowledgegraphbuilder_spark.operators.graphstats import cooccurrence_edges
    from knowledgegraphbuilder_spark.streaming.ingest import (
        read_edge_weights, run_edge_weights_available_now,
    )

    rows = [(g, (g * 7 + i) % 25) for g in range(30) for i in range(1 + g % 4)]
    li = spark.createDataFrame(rows, "l_orderkey long, l_partkey long")
    base = str(tmp_path / "sedges")
    # group-aligned split: every basket's rows share l_orderkey
    for i, (lo, hi) in enumerate([(0, 10), (10, 20), (20, 31)]):
        (li.filter((F.col("l_orderkey") >= lo) & (F.col("l_orderkey") < hi))
         .coalesce(1).write.mode("overwrite").parquet(f"{base}/in/b{i}"))
    run_edge_weights_available_now(spark, f"{base}/in/*", f"{base}/edges", f"{base}/ck")
    got1 = sorted(map(tuple, read_edge_weights(spark, f"{base}/edges").collect()))
    # full replay against a fresh checkpoint: byte-identical fold
    run_edge_weights_available_now(spark, f"{base}/in/*", f"{base}/edges", f"{base}/ck2")
    got2 = sorted(map(tuple, read_edge_weights(spark, f"{base}/edges").collect()))
    want = sorted(map(tuple, cooccurrence_edges(li, "l_orderkey", "l_partkey").collect()))
    assert got1 == got2 == want and len(want) > 0


def test_stream_mg_heavy_hitters_equals_batch_any_batching(spark, tmp_path):
    """Streamed MG candidate state resolves to EXACTLY the batch heavy
    hitters for two different batchings of the same corpus, and a full
    replay over a fresh checkpoint leaves the state byte-identical
    (content-keyed replace-MERGE idempotency)."""
    from pyspark.sql import functions as F

    from knowledgegraphbuilder_spark.operators.sketches import (
        misra_gries_heavy_hitters,
    )
    from knowledgegraphbuilder_spark.streaming.ingest import (
        heavy_hitters_from_mg_state,
        run_mg_available_now,
    )

    rows = [
        (i, ("hot " * 20 + f"cold{i} mid " + ("mid " if i % 2 else "")).strip(),
         "en", "s", 1)
        for i in range(60)
    ]
    schema = "doc_id long, text string, lang string, source string, n_chars long"
    docs = spark.createDataFrame(rows, schema)
    toks = docs.select(F.explode(F.split("text", " ")).alias("key")).filter(
        F.col("key") != ""
    )
    k = 4
    expected = {
        (r["key"], r["cnt"], r["n_total"])
        for r in misra_gries_heavy_hitters(
            docs.select(F.explode(F.split("text", " ")).alias("tok")), "tok", k=k
        ).collect()
    }
    assert expected, "fixture must produce at least one heavy hitter"

    for name, cuts in (("even", [0, 20, 40, 60]), ("skewed", [0, 5, 50, 60])):
        base = str(tmp_path / name)
        for i in range(3):
            (docs.filter((F.col("doc_id") >= cuts[i]) & (F.col("doc_id") < cuts[i + 1]))
             .coalesce(1).write.parquet(f"{base}/in/b{i}"))
        run_mg_available_now(spark, f"{base}/in/*", f"{base}/st", f"{base}/ck", k=k)
        state1 = sorted(
            tuple(r) for r in spark.read.parquet(f"{base}/st").collect()
        )
        # replay: fresh checkpoint, same files -> byte-identical state
        run_mg_available_now(spark, f"{base}/in/*", f"{base}/st", f"{base}/ck2", k=k)
        state2 = sorted(
            tuple(r) for r in spark.read.parquet(f"{base}/st").collect()
        )
        assert state1 == state2, f"replay changed state under {name} batching"
        got = {
            (r["key"], r["cnt"], r["n_total"])
            for r in heavy_hitters_from_mg_state(
                spark, f"{base}/st", toks, k=k
            ).collect()
        }
        assert got == expected, f"stream != batch under {name} batching"


def test_streaming_fusion_equals_batch_and_replay_idempotent(
    spark, corpus_df, tmp_path_factory
):
    """run_fusion_available_now partial counts, folded by read_fused,
    equal batch fuse_extractions over the pipeline triples — under
    multi-file batching AND after a fresh-checkpoint replay."""
    from knowledgegraphbuilder_spark.operators.fusion import fuse_extractions
    from knowledgegraphbuilder_spark.streaming.ingest import (
        read_fused, run_fusion_available_now,
    )

    base = str(tmp_path_factory.mktemp("stream_fuse"))
    in_dir, st_dir = f"{base}/in", f"{base}/st"
    corpus_df.repartition(4).write.mode("overwrite").parquet(in_dir)

    run_fusion_available_now(spark, in_dir, st_dir, f"{base}/ck")
    run_fusion_available_now(spark, in_dir, st_dir, f"{base}/ck2")  # replay
    streamed = {tuple(r) for r in read_fused(spark, st_dir).collect()}

    kg = run_pipeline(corpus_df, KGConfig())
    batch = {
        tuple(r)
        for r in fuse_extractions(
            kg.triples,
            "CASE WHEN cast(regexp_extract(doc_id, '([0-9]+)$', 1) as bigint)"
            " % 2 = 0 THEN 'a' ELSE 'b' END",
            {"a": 3, "b": 1},
        ).collect()
    }
    assert streamed == batch


def test_streaming_cc_affected_recompute_equals_batch(spark, tmp_path):
    """Incremental CC (affected-component recompute) equals batch CC
    after multi-batch arrival, cross-batch merges, and a fresh-checkpoint
    replay with a DIFFERENT trigger shape (confluence)."""
    from knowledgegraphbuilder_spark.operators.canonicalize import (
        connected_components,
    )
    from knowledgegraphbuilder_spark.streaming.ingest import (
        read_cc_assign, run_cc_available_now,
    )

    # chain a-b-c-d built ACROSS batches (b-c arrives last and merges
    # two existing components), plus an isolated pair
    batches = [
        [("a", "b"), ("x", "y")],
        [("c", "d")],
        [("b", "c")],
    ]
    base = str(tmp_path / "cc")
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, "src string, dst string").coalesce(
            1).write.mode("overwrite").parquet(f"{base}/in/b{i}")
    run_cc_available_now(spark, f"{base}/in/*", f"{base}/st", f"{base}/ck")
    run_cc_available_now(spark, f"{base}/in/*", f"{base}/st", f"{base}/ck2",
                         max_files_per_trigger=None)
    streamed = {(r.vertex, r.component)
                for r in read_cc_assign(spark, f"{base}/st").collect()}
    all_edges = spark.createDataFrame(
        [e for b in batches for e in b], "src string, dst string")
    batch = {(r.vertex, r.component)
             for r in connected_components(all_edges).collect()}
    assert streamed == batch
    assert ("d", "a") in streamed  # the cross-batch merge happened
