"""Resume-idempotency: checkpointed stages skip recompute; invalidating a
mid-pipeline stage recomputes downstream to byte-identical triples
(BASELINE.json north rule)."""

import pytest

from knowledgegraphbuilder_spark.config import KGConfig
from knowledgegraphbuilder_spark.plans.checkpoint import CheckpointedPipeline
from knowledgegraphbuilder_spark.plans.pipeline import run_pipeline

from tests import oracle_serial as oracle


def _triples(res):
    return sorted(
        (r["subj"], r["pred"], r["obj"], r["doc_id"], r["edge_id"])
        for r in res.triples.collect()
    )


def test_checkpoint_resume_idempotent(spark, corpus_df, tmp_path_factory):
    wd = str(tmp_path_factory.mktemp("ckpt"))
    p1 = CheckpointedPipeline(spark, wd, KGConfig())
    r1 = p1.run(corpus_df)
    t1 = _triples(r1)
    assert all(not s["resumed"] for s in p1.stage_log)

    # full resume: every stage skipped, identical output
    p2 = CheckpointedPipeline(spark, wd, KGConfig())
    r2 = p2.run(corpus_df)
    assert all(s["resumed"] for s in p2.stage_log)
    assert _triples(r2) == t1

    # invalidate a mid-pipeline stage: recompute downstream, same bytes
    p3 = CheckpointedPipeline(spark, wd, KGConfig())
    p3.invalidate("s5_relations", "s8_edges", "s9_triples", "s9_provenance")
    r3 = p3.run(corpus_df)
    flags = {s["stage"]: s["resumed"] for s in p3.stage_log}
    assert flags["s4_mentions"] and not flags["s5_relations"] and not flags["s9_triples"]
    assert _triples(r3) == t1


def test_resume_under_changed_config_recomputes(spark, corpus_df, tmp_path):
    """A checkpoint built under one config is never reused under another."""
    wd = str(tmp_path / "ckpt")
    CheckpointedPipeline(spark, wd, KGConfig()).run(corpus_df)

    cfg = KGConfig(ner_chunk_size=50, ner_chunk_overlap=10)
    p2 = CheckpointedPipeline(spark, wd, cfg)
    r2 = p2.run(corpus_df)
    assert len(p2.stage_log) == 10
    assert not any(s["resumed"] for s in p2.stage_log)
    assert _triples(r2) == _triples(run_pipeline(corpus_df, cfg))

    p3 = CheckpointedPipeline(spark, wd, cfg)
    r3 = p3.run(corpus_df)
    assert all(s["resumed"] for s in p3.stage_log)
    assert _triples(r3) == _triples(r2)


@pytest.mark.parametrize("policy", ["none", "ckpt", "durable"])
def test_every_policy_builds_the_same_graph(spark, corpus, corpus_df, tmp_path, policy):
    """Lazy, eagerly pinned and durable runs of the one stage graph all
    produce the serial oracle's graph: same triple rows, same table sizes."""
    if policy == "durable":
        res = CheckpointedPipeline(spark, str(tmp_path / "ckpt"), KGConfig()).run(corpus_df)
    else:
        res = run_pipeline(corpus_df, KGConfig(), materialize=policy)
    golden = oracle.run_oracle(corpus)
    n_mentions, n_relations = len(golden["mentions"]), len(golden["relations"])
    counts = {name: getattr(res, name).count() for name in (
        "mentions", "relations", "nodes", "membership", "edges", "provenance")}
    assert counts == {
        "mentions": n_mentions, "relations": n_relations,
        "nodes": len(golden["nodes"]), "membership": n_mentions,
        "edges": n_relations, "provenance": n_relations,
    }
    assert _triples(res) == sorted(
        (r["head_text"], r["rel_type"], r["tail_text"], r["doc_id"], r["relation_id"])
        for r in golden["relations"]
    )


def test_lineage_rows(spark, corpus_df, tmp_path_factory):
    wd = str(tmp_path_factory.mktemp("ckpt2"))
    p = CheckpointedPipeline(spark, wd, KGConfig())
    res = p.run(corpus_df)
    lin = p.lineage().collect()
    stages = {r["stage"] for r in lin}
    assert {"s1_documents", "s4_mentions", "s5_relations", "s9_triples"} <= stages
    by_stage = {}
    for r in lin:
        by_stage[r["stage"]] = by_stage.get(r["stage"], 0) + r["n_rows"]
    assert by_stage["s9_triples"] == res.triples.count()
    assert all(r["wall_s"] >= 0 for r in lin)


def test_vacuum_snapshots_keeps_fallback_versions(spark, tmp_path):
    """A table version only written in an OLD snapshot survives vacuum
    when a retained snapshot still resolves to it via fallback."""
    from knowledgegraphbuilder_spark.sources.sinks import (
        read_graph_snapshot, read_snapshot_log, vacuum_snapshots,
        write_graph_snapshot,
    )

    base = str(tmp_path / "snaps")
    a1 = spark.createDataFrame([(1, "x")], "id long, v string")
    b1 = spark.createDataFrame([(10, "m")], "id long, v string")
    write_graph_snapshot(base, {"a": a1, "b": b1})      # snap 1
    a2 = spark.createDataFrame([(2, "y")], "id long, v string")
    write_graph_snapshot(base, {"a": a2})               # snap 2: b absent
    a3 = spark.createDataFrame([(3, "z")], "id long, v string")
    write_graph_snapshot(base, {"a": a3})               # snap 3

    out = vacuum_snapshots(base, keep_last=2)
    assert out["expired"] == [1] and out["kept"] == 2
    # b/v=1 is still live via fallback for snapshots 2 and 3
    assert not any("b/v=1" in p for p in out["deleted_paths"])
    assert any("a/v=1" in p for p in out["deleted_paths"])
    tabs = read_graph_snapshot(spark, base)
    assert {r.id for r in tabs["b"].collect()} == {10}
    assert {r.id for r in tabs["a"].collect()} == {3}
    # log rewritten; vacuum again is a no-op
    assert [e["snapshot_id"] for e in read_snapshot_log(base)] == [2, 3]
    assert vacuum_snapshots(base, keep_last=2)["expired"] == []


def test_compact_batched_state_preserves_fused_read(spark, tmp_path):
    """Compacting the stream_fuse state to one row per statement leaves
    read_fused byte-identical, and compaction is idempotent."""
    from knowledgegraphbuilder_spark.sources.sinks import (
        compact_batched_state, merge,
    )
    from knowledgegraphbuilder_spark.streaming.ingest import read_fused

    st = str(tmp_path / "st")
    rows1 = [("b1", "s", "p", "o", 1, 0), ("b1", "s2", "p", "o", 0, 1)]
    rows2 = [("b2", "s", "p", "o", 2, 1)]
    schema = ("bkey string, subj string, pred string, obj string, "
              "k_a long, k_b long")
    merge(spark, st, spark.createDataFrame(rows1, schema), "bkey", "replace")
    merge(spark, st, spark.createDataFrame(rows2, schema), "bkey", "replace")
    before = {tuple(r) for r in read_fused(spark, st).collect()}

    compact_batched_state(spark, st, ["subj", "pred", "obj"],
                          ["k_a", "k_b"])
    rows = spark.read.parquet(st).collect()
    assert len(rows) == 2 and all(r.bkey == "compacted" for r in rows)
    assert {tuple(r) for r in read_fused(spark, st).collect()} == before

    compact_batched_state(spark, st, ["subj", "pred", "obj"],
                          ["k_a", "k_b"])
    assert {tuple(r) for r in read_fused(spark, st).collect()} == before


def test_file_uri_work_dir_runs_and_resumes(spark, corpus_df, tmp_path):
    """A work_dir given as a URI: the run record goes through the same
    filesystem as the stages, and a second run resumes every stage."""
    import json

    wd = (tmp_path / "ckpt").as_uri()
    p1 = CheckpointedPipeline(spark, wd, KGConfig())
    t1 = _triples(p1.run(corpus_df))
    assert len(p1.stage_log) == 10
    with open(tmp_path / "ckpt" / f"_run_{p1.run_id}.json") as f:
        assert json.load(f) == p1.stage_log

    p2 = CheckpointedPipeline(spark, wd, KGConfig())
    t2 = _triples(p2.run(corpus_df))
    assert len(p2.stage_log) == 10
    assert all(s["resumed"] for s in p2.stage_log)
    assert t2 == t1
