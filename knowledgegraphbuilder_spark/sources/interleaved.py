"""Interleaved text+media document source (the engine's input model).

Authoritative input shape (BASELINE.json ``input_hint``)::

    doc_id: string
    spans:  array<struct<kind:string, text:string, media_ref:string, offset:int32>>

The reference pipeline consumes plain ``Document.text`` (back/kgg/models.py:24-30);
concatenating ``spans[kind='text'].text`` in array order reproduces it exactly
(precedent: MuSiQue paragraph concatenation, back/kgg/test/convert.py:76-99).
Media spans (image/audio/...) are carried through untouched as provenance.

``synthesize_spans`` derives a deterministic spans table from the driver's flat
``documents`` parquet (doc_id BIGINT, text STRING, ...): each document's text is
split at word boundaries into 1-3 text spans whose concatenation is exactly the
original text (separator spaces live at the tail of the preceding span), and
every 5th document gets interleaved media spans. Pure native Spark expressions:
no UDF, no shuffle — a narrow map that scales linearly with input splits.

Per-row invariant at every downstream stage: span-sequence equality
(kind, text, media_ref, order).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from knowledgegraphbuilder_spark.functions.rank import global_rank

SPAN_SCHEMA = (
    "array<struct<kind:string,text:string,media_ref:string,offset:int>>"
)

DOC_SCHEMA = "doc_id string, text string, metadata map<string,string>"


def synthesize_spans(docs: DataFrame, n_span_mod: int = 3, media_mod: int = 5) -> DataFrame:
    """Flat (doc_id, text) -> interleaved spans table. Deterministic.

    ``k = 1 + (doc_id % n_span_mod)`` text spans split at word boundaries
    ``floor(j*n/k)``; boundary char offsets computed with native slice/concat
    expressions so concatenation round-trips byte-identically.
    """
    d = docs.select(
        F.col("doc_id").cast("long").alias("raw_id"),
        F.concat(F.lit("doc_"), F.col("doc_id").cast("string")).alias("doc_id"),
        F.col("text"),
    )
    d = d.withColumn("ws", F.split("text", " "))
    d = d.withColumn("n", F.size("ws"))
    d = d.withColumn("k", F.least(F.lit(1) + F.pmod("raw_id", F.lit(n_span_mod)), F.col("n")))
    # bnd[j] = char offset of span j's first character, j in 0..k (bnd[k]=len)
    d = d.withColumn(
        "bnd",
        F.expr(
            """
            transform(sequence(0, k), j ->
              case
                when j = 0 then 0
                when j = k then length(text)
                else length(concat_ws(' ', slice(ws, 1, cast(j * n div k as int)))) + 1
              end)
            """
        ),
    )
    d = d.withColumn(
        "text_spans",
        F.expr(
            """
            transform(sequence(0, k - 1), j ->
              named_struct(
                'kind', 'text',
                'text', substring(text, bnd[j] + 1, bnd[j + 1] - bnd[j]),
                'media_ref', cast(null as string),
                'offset', cast(bnd[j] as int)))
            """
        ),
    )
    # every media_mod-th doc: an image span interleaved after the first text
    # span (offset = where it sits in the concatenated text); every
    # 2*media_mod-th doc additionally a trailing audio span.
    d = d.withColumn(
        "spans",
        F.expr(
            f"""
            case
              when raw_id % {2 * media_mod} = 0 then
                concat(
                  slice(text_spans, 1, 1),
                  array(named_struct('kind', 'image',
                                     'text', cast(null as string),
                                     'media_ref', concat('media://img/', doc_id, '/0'),
                                     'offset', cast(bnd[1] as int))),
                  slice(text_spans, 2, k - 1),
                  array(named_struct('kind', 'audio',
                                     'text', cast(null as string),
                                     'media_ref', concat('media://aud/', doc_id, '/0'),
                                     'offset', cast(length(text) as int))))
              when raw_id % {media_mod} = 0 then
                concat(
                  slice(text_spans, 1, 1),
                  array(named_struct('kind', 'image',
                                     'text', cast(null as string),
                                     'media_ref', concat('media://img/', doc_id, '/0'),
                                     'offset', cast(bnd[1] as int))),
                  slice(text_spans, 2, k - 1))
              else text_spans
            end
            """
        ),
    )
    return d.select("doc_id", "spans")


def read_documents_parquet(spark: SparkSession, sf_dir: str,
                           repartition: bool = True) -> DataFrame:
    """Driver star-schema documents parquet -> interleaved spans table.

    The sandbox fixtures are single parquet files (one input split), which
    would serialize every downstream mapInPandas stage onto one task; a
    round-robin repartition to the session default parallelism restores the
    multi-split layout a real lake has. At 100 TB the input already has
    thousands of splits and this is a no-op choice (pass False)."""
    df = spark.read.parquet(f"{sf_dir}/documents.parquet")
    if repartition:
        df = df.repartition(spark.sparkContext.defaultParallelism)
    return synthesize_spans(df)


def read_jsonl_documents(spark: SparkSession, path: str) -> DataFrame:
    """JSONL doc scan (reference front/app.py:82-93): lines of
    ``{id?, text, metadata?}``; missing id -> ``doc_{n}`` with contiguous,
    deterministic global numbering.

    The numbering is ``functions/rank.py:global_rank`` over (input file,
    sha256(text), to_json(metadata)) rather than physical line order —
    stable across partitionings and re-reads; fully identical rows are
    interchangeable, so the assignment is deterministic as a table. This
    deliberately diverges from the reference's line-order numbering (file
    line numbers are not recoverable from a parallel JSON scan); callers who
    need line ids should write them into the ``id`` field. Calling the
    reader now runs Spark work beyond schema inference: the rank samples
    its range bounds and pins the range-partitioned scan in one job."""
    raw = spark.read.json(path)
    cols = raw.columns
    idc = F.col("id").cast("string") if "id" in cols else F.lit(None).cast("string")
    meta = F.col("metadata") if "metadata" in cols else F.lit(None)
    df = raw.select(
        idc.alias("explicit_id"),
        F.col("text").cast("string").alias("text"),
        meta.cast("map<string,string>").alias("metadata"),
        F.input_file_name().alias("_file"),
    )
    df = global_rank(df, "_file", F.sha2("text", 256), F.to_json("metadata"))
    return df.select(
        F.coalesce(
            "explicit_id", F.concat(F.lit("doc_"), F.col("rank").cast("string"))
        ).alias("doc_id"),
        "text",
        "metadata",
    )


def read_txt_documents(spark: SparkSession, path: str) -> DataFrame:
    """Whole-file text scan (reference front/app.py:105-113): one doc per file."""
    df = spark.read.text(path, wholetext=True)
    return df.select(
        F.concat(F.lit("doc_"), F.regexp_extract(F.input_file_name(), r"([^/]+)$", 1)).alias("doc_id"),
        F.col("value").alias("text"),
        F.lit(None).cast("map<string,string>").alias("metadata"),
    )


def flat_to_spans(flat_docs: DataFrame) -> DataFrame:
    """(doc_id, text[, metadata]) -> single-text-span interleaved shape, for
    arbitrary ingested corpora (no synthetic splitting)."""
    return flat_docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.expr(
            """
            array(named_struct('kind', 'text', 'text', text,
                               'media_ref', cast(null as string),
                               'offset', 0))
            """
        ).cast(SPAN_SCHEMA).alias("spans"),
    )
