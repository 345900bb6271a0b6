"""Span synthesis + flatten: the span-sequence invariant and byte-exact
round-trip (BASELINE.json input_hint)."""

from pyspark.sql import functions as F

from knowledgegraphbuilder_spark.operators.flatten import flatten_documents, span_signature
from knowledgegraphbuilder_spark.sources.interleaved import synthesize_spans


def test_spans_roundtrip_exact(spark, sf_dir):
    raw = spark.read.parquet(f"{sf_dir}/documents.parquet")
    spans = synthesize_spans(raw)
    flat = flatten_documents(spans)
    joined = raw.select(
        F.concat(F.lit("doc_"), F.col("doc_id").cast("string")).alias("doc_id"),
        F.col("text").alias("orig"),
    ).join(flat, "doc_id")
    assert joined.count() == raw.count()
    mismatches = joined.filter(F.col("orig") != F.col("text")).count()
    assert mismatches == 0


def test_media_spans_interleaved(spark, sf_dir):
    raw = spark.read.parquet(f"{sf_dir}/documents.parquet")
    spans = synthesize_spans(raw)
    kinds = (
        spans.select(F.explode("spans").alias("s"))
        .groupBy(F.col("s.kind").alias("kind"))
        .count()
        .collect()
    )
    by_kind = {r["kind"]: r["count"] for r in kinds}
    assert by_kind.get("image", 0) > 0
    assert by_kind.get("audio", 0) > 0
    assert by_kind.get("text", 0) > 0
    # media spans carry refs, text spans carry text
    bad = spans.select(F.explode("spans").alias("s")).filter(
        ((F.col("s.kind") == "text") & F.col("s.text").isNull())
        | ((F.col("s.kind") != "text") & F.col("s.media_ref").isNull())
    )
    assert bad.count() == 0


def test_span_signature_stable(spark, sf_dir):
    raw = spark.read.parquet(f"{sf_dir}/documents.parquet")
    a = span_signature(synthesize_spans(raw)).orderBy("doc_id").collect()
    b = span_signature(synthesize_spans(raw)).orderBy("doc_id").collect()
    assert a == b


def test_jsonl_multifile_ids_deterministic(spark, tmp_path_factory):
    """JSONL ingest: ids are contiguous and deterministic across a multi-file
    read, and the numbering plan contains NO single-partition exchange over
    the data (global_rank: range-partitioned numbering + tiny offset
    broadcast; ``test_global_rank.py`` measures the exchanges' row counts)."""
    import json

    from knowledgegraphbuilder_spark.sources.interleaved import read_jsonl_documents

    base = tmp_path_factory.mktemp("jsonl")
    docs = [{"text": f"text number {i} with words"} for i in range(60)]
    for f in range(3):
        with open(base / f"part{f}.jsonl", "w") as fh:
            for d in docs[f * 20 : (f + 1) * 20]:
                fh.write(json.dumps(d) + "\n")

    df = read_jsonl_documents(spark, str(base))
    rows = {(r["doc_id"], r["text"]) for r in df.collect()}
    assert len(rows) == 60
    ids = sorted(int(r[0].removeprefix("doc_")) for r in rows)
    assert ids == list(range(60))  # contiguous global numbering
    # deterministic across re-reads
    again = {(r["doc_id"], r["text"]) for r in read_jsonl_documents(spark, str(base)).collect()}
    assert rows == again

    # no global single-partition row_number window over the data; the only
    # SinglePartition exchange allowed is the one over the per-partition
    # COUNT aggregate
    plan = df._jdf.queryExecution().executedPlan().toString()
    # AQE prints the final plan plus the initial plan; scope to the final one
    plan = plan.split("== Initial Plan ==")[0]
    import re as _re

    row_window_lines = [
        ln for ln in plan.splitlines()
        if "Window" in ln and "row_number" in ln and "_file" not in ln
    ]
    assert not row_window_lines, row_window_lines
    assert len(_re.findall(r"SinglePartition", plan)) <= 1


def test_jsonl_explicit_ids_passthrough(spark, tmp_path_factory):
    import json

    from knowledgegraphbuilder_spark.sources.interleaved import read_jsonl_documents

    base = tmp_path_factory.mktemp("jsonl2")
    with open(base / "a.jsonl", "w") as fh:
        fh.write(json.dumps({"id": "my_doc", "text": "alpha"}) + "\n")
        fh.write(json.dumps({"text": "beta"}) + "\n")
    rows = {(r["doc_id"], r["text"])
            for r in read_jsonl_documents(spark, str(base)).collect()}
    assert ("my_doc", "alpha") in rows
    assert ("doc_0", "beta") in rows or ("doc_1", "beta") in rows
