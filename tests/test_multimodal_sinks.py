"""Multimodal plumbing + graph sinks + retrieval determinism."""

import pytest
from pyspark.sql import functions as F

from knowledgegraphbuilder_spark.config import KGConfig
from knowledgegraphbuilder_spark.operators.multimodal import (
    extract_features,
    fetch_media,
    frame_sample,
    media_refs,
    real_decode_stub,
)
from knowledgegraphbuilder_spark.operators.retrieval import (
    hash_embed_text,
    index_edges,
    retrieve_documents,
)
from knowledgegraphbuilder_spark.plans.pipeline import run_pipeline
from knowledgegraphbuilder_spark.sources.interleaved import read_documents_parquet
from knowledgegraphbuilder_spark.sources.sinks import (
    clear_graph,
    merge,
    read_graph,
    write_graph,
)


def test_media_pipeline(spark, sf_dir):
    spans = read_documents_parquet(spark, sf_dir)
    refs = media_refs(spans)
    media = fetch_media(refs)
    feats = extract_features(media)
    rows = feats.collect()
    assert len(rows) == refs.count() > 0
    assert all(r["n_bytes"] > 0 and 0 <= r["byte_entropy"] <= 8 for r in rows)
    assert all(len(r["feature"]) == 8 for r in rows)
    # deterministic across runs
    assert sorted(map(tuple, rows)) == sorted(map(tuple, extract_features(media).collect()))
    frames = frame_sample(media, n_frames=4)
    counts = frames.groupBy("media_ref").count().collect()
    assert all(c["count"] == 4 for c in counts)


def test_real_decode_is_stubbed():
    with pytest.raises(NotImplementedError):
        real_decode_stub(b"x", "image")


def test_hash_embedding_unit_norm():
    import math

    v = hash_embed_text("customer stream spark", 64)
    assert len(v) == 64
    assert abs(math.sqrt(sum(x * x for x in v)) - 1.0) < 1e-5
    assert v == hash_embed_text("customer stream spark", 64)


def test_retrieval_deterministic(spark, corpus_df):
    kg = run_pipeline(corpus_df, KGConfig())
    idx = index_edges(kg.edges)
    top1 = retrieve_documents(kg.edges, kg.membership, idx, "spark customer", KGConfig()).collect()
    top2 = retrieve_documents(kg.edges, kg.membership, idx, "spark customer", KGConfig()).collect()
    assert top1 == top2
    assert len(top1) == 5
    assert top1[0]["weight"] >= top1[-1]["weight"]


def test_graph_sinks_roundtrip(spark, corpus_df, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("graph"))
    kg = run_pipeline(corpus_df, KGConfig())
    write_graph(base, nodes=kg.nodes, edges=kg.edges, provenance=kg.provenance,
                documents=kg.documents, membership=kg.membership)
    back = read_graph(spark, base)
    assert set(back) == {"nodes", "edges", "provenance", "documents", "membership"}
    assert back["edges"].count() == kg.edges.count()
    # partition pruning by rel_type: reading one rel_type touches one partition dir
    one = back["edges"].filter(F.col("rel_type") == "technology_near_technology")
    assert "PartitionFilters: [isnotnull(rel_type" in one._sc._jvm.PythonSQLUtils.explainString(
        one._jdf.queryExecution(), "formatted"
    )

    # MERGE upsert: replace one edge's weight, keep the rest
    upd = back["edges"].limit(1).withColumn("weight", F.lit(9.9).cast("double"))
    eid = upd.collect()[0]["edge_id"]
    merge(spark, f"{base}/edges_flat", back["edges"], "edge_id", "replace")  # seed
    merge(spark, f"{base}/edges_flat", upd, "edge_id", "replace")
    merged = spark.read.parquet(f"{base}/edges_flat")
    assert merged.count() == kg.edges.count()
    assert merged.filter(F.col("edge_id") == eid).collect()[0]["weight"] == pytest.approx(9.9)
    clear_graph(base)
    assert read_graph(spark, base) == {}


def test_snapshot_sink_time_travel(spark, tmp_path_factory):
    """Snapshot writes are immutable and older snapshots stay readable
    (rollback); per-table fallback follows the newest version <= snapshot."""
    from knowledgegraphbuilder_spark.sources.sinks import (
        read_graph_snapshot,
        read_snapshot_log,
        write_graph_snapshot,
    )

    base = str(tmp_path_factory.mktemp("snap"))
    df1 = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    df2 = spark.createDataFrame([(3, "c")], "id long, v string")
    side = spark.createDataFrame([(9, "z")], "id long, v string")

    s1 = write_graph_snapshot(base, {"nodes": df1, "aux": side})
    s2 = write_graph_snapshot(base, {"nodes": df2})  # aux not rewritten
    assert (s1, s2) == (1, 2)
    assert [e["snapshot_id"] for e in read_snapshot_log(base)] == [1, 2]

    latest = read_graph_snapshot(spark, base)
    assert {r["id"] for r in latest["nodes"].collect()} == {3}
    # aux falls back to its v=1 version inside snapshot 2
    assert {r["id"] for r in latest["aux"].collect()} == {9}
    # time travel: snapshot 1 still shows the old nodes
    old = read_graph_snapshot(spark, base, snapshot_id=1)
    assert {r["id"] for r in old["nodes"].collect()} == {1, 2}


def test_align_media_to_text(spark, sf_dir):
    from knowledgegraphbuilder_spark.operators.multimodal import align_media_to_text

    spans = read_documents_parquet(spark, sf_dir)
    out = align_media_to_text(spans)
    rows = {(r["doc_id"], r["media_type"]): r for r in out.collect()}
    raw = {
        r["doc_id"]: r["spans"]
        for r in spans.collect()
    }
    assert rows  # sf has media docs
    for (doc_id, mt), r in rows.items():
        sp = raw[doc_id]
        # pairing invariant: caption == the text span nearest before pos
        # (there is always one: media never leads a doc in the synthesis)
        prev_texts = [s for s in sp[: r["pos"]] if s["kind"] == "text"]
        assert prev_texts, (doc_id, mt)
        assert r["caption"] == prev_texts[-1]["text"]
        assert r["caption_offset"] == prev_texts[-1]["offset"]
    # image captions are span 1's text; audio captions are the LAST text span
    for (doc_id, mt), r in rows.items():
        sp = raw[doc_id]
        texts = [s for s in sp if s["kind"] == "text"]
        if mt == "image":
            assert r["caption"] == texts[0]["text"]
        else:
            assert r["caption"] == texts[-1]["text"]


def test_align_media_leading_media_falls_forward(spark):
    """A doc whose FIRST span is media (no preceding text) aligns to the
    nearest FOLLOWING text span."""
    from knowledgegraphbuilder_spark.operators.multimodal import align_media_to_text
    from knowledgegraphbuilder_spark.sources.interleaved import SPAN_SCHEMA

    df = spark.createDataFrame(
        [("d0", [
            {"kind": "image", "text": None, "media_ref": "media://img/d0/0", "offset": 0},
            {"kind": "text", "text": "hello world", "media_ref": None, "offset": 0},
        ])],
        f"doc_id string, spans {SPAN_SCHEMA}",
    )
    r = align_media_to_text(df).collect()[0]
    assert (r["caption"], r["caption_offset"], r["pos"]) == ("hello world", 0, 0)


def test_modality_transitions_counts(spark):
    from knowledgegraphbuilder_spark.operators.multimodal import (
        modality_transitions,
    )

    spans = spark.createDataFrame(
        [
            ("d1", [("text", "a", None, 0), ("image", None, "m1", 1),
                    ("text", "b", None, 1), ("audio", None, "m2", 2)]),
            ("d2", [("text", "c", None, 0), ("text", "d", None, 2)]),
            ("d3", [("image", None, "m3", 0)]),  # single span: no transition
        ],
        "doc_id string, spans array<struct<kind string, text string, "
        "media_ref string, offset int>>",
    )
    got = {(r.from_kind, r.to_kind): r.cnt
           for r in modality_transitions(spans).collect()}
    assert got == {
        ("text", "image"): 1, ("image", "text"): 1,
        ("text", "audio"): 1, ("text", "text"): 1,
    }


def test_snapshot_diff_multiset_semantics(spark):
    from knowledgegraphbuilder_spark.sources.sinks import snapshot_diff

    old = spark.createDataFrame(
        [("a", 1), ("b", 2), ("b", 2), ("c", 3)], "k string, v int"
    )
    new = spark.createDataFrame(
        [("a", 1), ("b", 2), ("d", 4)], "k string, v int"
    )
    got = sorted(map(tuple, snapshot_diff(old, new).collect()))
    # one of the duplicate (b,2) rows was removed; (c,3) removed; (d,4) added
    assert got == [("added", "d", 4), ("removed", "b", 2), ("removed", "c", 3)]


class TestCrashSafeCommit:
    """Round-3 ADVICE: the merge sinks must never lose the table — a crash
    at ANY point inside the rewrite leaves a state _recover_table repairs
    to either the previous or the new committed version."""

    def _seed(self, spark, d):
        t = spark.createDataFrame([("a", 1), ("b", 2)], "k string, v int")
        merge(spark, d, t, "k", "replace")
        return d

    def test_leftover_tmp_next_to_live_is_discarded(self, spark, tmp_path):
        from knowledgegraphbuilder_spark.sources.sinks import _recover_table

        d = self._seed(spark, str(tmp_path / "t"))
        # crash after writing __tmp, before any rename: live dir untouched
        spark.createDataFrame([("x", 9)], "k string, v int") \
            .write.mode("overwrite").parquet(d + "__tmp")
        _recover_table(d)
        import os
        assert not os.path.exists(d + "__tmp")
        assert sorted(map(tuple, spark.read.parquet(d).collect())) == [("a", 1), ("b", 2)]

    def test_crash_between_renames_promotes_complete_tmp(self, spark, tmp_path):
        import os

        from knowledgegraphbuilder_spark.sources.sinks import _recover_table

        d = self._seed(spark, str(tmp_path / "t"))
        # crash between rename(live->__old) and rename(__tmp->live)
        spark.createDataFrame([("n", 7)], "k string, v int") \
            .write.mode("overwrite").parquet(d + "__tmp")
        os.rename(d, d + "__old")
        _recover_table(d)
        assert sorted(map(tuple, spark.read.parquet(d).collect())) == [("n", 7)]
        assert not os.path.exists(d + "__old") and not os.path.exists(d + "__tmp")

    def test_incomplete_tmp_restores_previous_version(self, spark, tmp_path):
        import os

        from knowledgegraphbuilder_spark.sources.sinks import _recover_table

        d = self._seed(spark, str(tmp_path / "t"))
        # crash mid-write of __tmp (no _SUCCESS) after live was moved aside
        os.makedirs(d + "__tmp")
        open(d + "__tmp/part-0.parquet", "w").write("garbage")
        os.rename(d, d + "__old")
        _recover_table(d)
        assert sorted(map(tuple, spark.read.parquet(d).collect())) == [("a", 1), ("b", 2)]
        assert not os.path.exists(d + "__old") and not os.path.exists(d + "__tmp")

    def test_stale_old_next_to_live_does_not_wedge_the_next_commit(self, spark, tmp_path):
        # crash between rename(tmp->live) and rmtree(old): live is the new
        # version, __old the previous one. The NEXT commit (write_graph path
        # calls _commit_table directly, without a prior merge-recovery) must
        # not fail renaming live onto the non-empty leftover __old.
        import os

        from knowledgegraphbuilder_spark.sources.sinks import _commit_table

        d = self._seed(spark, str(tmp_path / "t"))
        spark.createDataFrame([("old", 0)], "k string, v int") \
            .write.mode("overwrite").parquet(d + "__old")
        _commit_table(spark.createDataFrame([("n", 7)], "k string, v int"), d)
        assert sorted(map(tuple, spark.read.parquet(d).collect())) == [("n", 7)]
        assert not os.path.exists(d + "__old") and not os.path.exists(d + "__tmp")

    def test_merge_runs_recovery_first(self, spark, tmp_path):
        import os

        d = self._seed(spark, str(tmp_path / "t"))
        os.rename(d, d + "__old")  # worst case: only __old survives
        upd = spark.createDataFrame([("b", 20)], "k string, v int")
        merge(spark, d, upd, "k", "replace")
        assert sorted(map(tuple, spark.read.parquet(d).collect())) == [
            ("a", 1), ("b", 20)]


def _have_pil() -> bool:
    try:
        import PIL.Image  # noqa: F401
        return True
    except ImportError:
        return False


@pytest.mark.skipif(not _have_pil(), reason="PIL not installed in this sandbox")
def test_real_decoder_seam_with_pil(spark):
    """Pins the decoder= contract of extract_features wherever PIL exists
    (skipped in this container): a real image decoder plugged into the seam
    must see the binary content + media_type, return a dim-length feature,
    and flow through the Arrow-batched plumbing with the production schema."""
    import io

    from PIL import Image

    buf = io.BytesIO()
    Image.new("RGB", (2, 2), color=(10, 20, 30)).save(buf, format="PNG")
    png = buf.getvalue()

    media = spark.createDataFrame(
        [("img://t/1", "image", png, len(png))],
        "media_ref string, media_type string, content binary, n_bytes long",
    )

    def pil_decoder(content: bytes, media_type: str) -> list[float]:
        img = Image.open(io.BytesIO(content))
        px = list(img.getdata())
        mean = [sum(c[i] for c in px) / len(px) for i in range(3)]
        return [m / 255.0 for m in mean] + [float(img.width), float(img.height),
                                            0.0, 0.0, 0.0]

    rows = extract_features(media, decoder=pil_decoder).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["media_type"] == "image" and r["n_bytes"] == len(png)
    assert len(r["feature"]) == 8
    assert abs(r["feature"][0] - 10 / 255) < 1e-9
    assert r["feature"][3] == 2.0 and r["feature"][4] == 2.0


def test_real_decode_stub_raises_with_guidance():
    with pytest.raises(NotImplementedError, match="decoder"):
        real_decode_stub(b"x", "image")
