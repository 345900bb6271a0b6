"""s5: relation extraction.

Reference flow (back/kgg/nodes/relation_extraction.py):
- chunk doc at 300/30 (:22-23)                                        [U1]
- keep entities fully inside the chunk:
  ``e.start_idx >= off and e.end_idx < off + len(chunk)`` (:49-52)    [P1/J6]
- skip chunks with < 2 entities (:53-54)                              [P2]
- format entity block "- text (label)" (:108-114)                     [A8]
- one LLM call per chunk (:56-59)                                     [U4]
- parse ```json fenced array (:75-82)                                 [F3,F5]
- resolve head/tail via (label, text) -> Entity dict (:71,86-89)      [J1,P4]
- first-seen dedup on (head.id, relation, tail.id) (:138-144)         [A3]

Spark design notes (scale-first):
- P1 is an interval join expressed as an equi join on ``doc_id`` with a range
  residual — a plain shuffled hash join; both sides partition uniformly by
  doc_id, so no skew at 10^12 docs.
- The "LLM" is a batched Arrow UDF over whole chunks (one call per Arrow
  batch, never per row) — the deterministic template backend stands in for
  Ollama; parsing of its output is 100% native Spark (regexp_extract +
  from_json) inside whole-stage codegen.
- J1 dedups mentions to one deterministic representative per
  (doc_id, label, text) first (min start — the reference's dict build iterates
  a *set*, i.e. nondeterministic last-writer: relation_extraction.py:71; we
  pin the winner for reproducibility).
"""

from __future__ import annotations

from collections.abc import Iterator
import json

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from knowledgegraphbuilder_spark.config import KGConfig
from knowledgegraphbuilder_spark.functions import ids

REL_JSON_SCHEMA = (
    "array<struct<head:struct<text:string,label:string>,"
    "tail:struct<text:string,label:string>,"
    "relation:string,description:string>>"
)

RELATION_COLS = [
    "relation_id", "doc_id", "head_mention_id", "tail_mention_id",
    "rel_type", "description", "head_text", "head_label", "tail_text", "tail_label",
]


def co_occurrence_response(ents: list[dict]) -> str:
    """Deterministic template backend: the 'LLM response' for one chunk.

    Emits one relation per consecutive entity pair (entities sorted by start),
    with rel_type derived from the labels and a templated description —
    wrapped in the same ```json fence shape the reference parser expects
    (back/kgg/nodes/relation_extraction.py:75-82)."""
    rels = []
    for a, b in zip(ents, ents[1:]):
        rels.append(
            {
                "head": {"text": a["text"], "label": a["label"]},
                "tail": {"text": b["text"], "label": b["label"]},
                "relation": f"{a['label']}_near_{b['label']}",
                "description": (
                    f"{a['text']} ({a['label']}) co-occurs with {b['text']} ({b['label']})"
                ),
            }
        )
    return "Here are the extracted relations:\n```json\n" + json.dumps(rels) + "\n```"


class TemplateRelationBackend:
    """Deterministic stand-in for the Ollama LLM (utils.py:4-11). Batched:
    one call per Arrow batch of chunks."""

    def generate_batch(self, chunk_texts: pd.Series, entity_blocks: pd.Series,
                       ents: pd.Series) -> list[str]:
        return [co_occurrence_response(list(e)) for e in ents]


def chunk_mention_join(chunks: DataFrame, mentions: DataFrame) -> DataFrame:
    """P1/J6: chunks x mentions containment join (equi on doc_id + range
    residual, reproducing the reference's strict ``end < off + len`` — the
    chunk's final character is exclusive).

    The chunk side is projected to (doc_id, chunk_idx, offset, len) BEFORE the
    join: carrying chunk_text through would duplicate the full text onto every
    contained mention row — a ~#mentions x chunk-size shuffle blow-up (5 GB at
    400k sandbox docs, fatal at 10^12). Re-attach text post-aggregation via a
    1:1 join on (doc_id, chunk_idx)."""
    c = chunks.select(
        "doc_id", "chunk_idx", "chunk_offset",
        F.length("chunk_text").alias("chunk_len"),
    ).alias("c")
    m = mentions.alias("m")
    return c.join(
        m,
        (F.col("c.doc_id") == F.col("m.doc_id"))
        & (F.col("m.start") >= F.col("c.chunk_offset"))
        & (F.col("m.end") < F.col("c.chunk_offset") + F.col("c.chunk_len")),
        "inner",
    )


def extract_relations(
    chunks: DataFrame,
    mentions: DataFrame,
    config: KGConfig,
    backend: object | None = None,
) -> DataFrame:
    """RE-chunk table + mention table -> deduplicated relation table."""
    joined = chunk_mention_join(chunks, mentions)

    # A8: per-chunk sorted entity list + prompt block
    grouped = joined.groupBy(
        F.col("c.doc_id").alias("doc_id"),
        F.col("c.chunk_idx").alias("chunk_idx"),
    ).agg(
        F.sort_array(
            F.collect_list(F.struct(F.col("m.start").alias("start"),
                                    F.col("m.text").alias("text"),
                                    F.col("m.label").alias("label")))
        ).alias("ents")
    )
    gated = grouped.filter(F.size("ents") >= 2)  # P2
    # chunk_text re-attached 1:1 only for gated chunks (LLM backends need it)
    gated = gated.join(
        chunks.select("doc_id", "chunk_idx", "chunk_text"), ["doc_id", "chunk_idx"]
    )
    gated = gated.withColumn(
        "entity_block",
        F.concat(
            F.lit("\n"),
            F.concat_ws(
                "\n",
                F.expr("transform(ents, e -> concat('- ', e.text, ' (', e.label, ')'))"),
            ),
        ),
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        be = backend if backend is not None else TemplateRelationBackend()
        for pdf in batches:
            pdf = pdf.copy()
            pdf["response"] = be.generate_batch(
                pdf["chunk_text"], pdf["entity_block"], pdf["ents"]
            )
            yield pdf[["doc_id", "chunk_idx", "response"]]

    responses = gated.mapInPandas(run, "doc_id string, chunk_idx int, response string")

    # F3 + P3 + F5: fence extract, guard, JSON parse, ordered explode.
    # The reference uses re.search(r'```json\s*(.*?)\s*```', DOTALL)
    # (relation_extraction.py:75-80); the equivalent lazy-quantifier regex in
    # Spark costs ~4ms/row (Java regex backtracking on multi-KB strings) and
    # dominated the whole pipeline, so the same first-fence-trimmed semantics
    # are expressed with locate/substring/btrim — ~25x faster, codegen-friendly.
    fence_inner = (
        "substring(substring(response, locate('```json', response) + 7), 1, "
        "locate('```', substring(response, locate('```json', response) + 7)) - 1)"
    )
    parsed = (
        responses.withColumn(
            "json_str",
            F.expr(
                f"case when locate('```json', response) > 0 "
                f"and locate('```', substring(response, locate('```json', response) + 7)) > 0 "
                f"then btrim({fence_inner}, ' \n\t\r') else null end"
            ),
        )
        .filter(F.col("json_str").isNotNull() & (F.length("json_str") > 0))
        .withColumn("rels", F.from_json("json_str", REL_JSON_SCHEMA))
        .filter(F.col("rels").isNotNull())
        .select("doc_id", "chunk_idx", F.posexplode("rels").alias("pos", "rel"))
    )

    # J1: deterministic representative mention per (doc_id, label, text)
    wrep = Window.partitionBy("doc_id", "label", "text").orderBy("start")
    reps = (
        mentions.withColumn("rn", F.row_number().over(wrep))
        .filter(F.col("rn") == 1)
        .select("doc_id", "label", "text", "mention_id")
    )
    heads = reps.select(
        F.col("doc_id").alias("h_doc"), F.col("label").alias("h_label"),
        F.col("text").alias("h_text"), F.col("mention_id").alias("head_mention_id"),
    )
    tails = reps.select(
        F.col("doc_id").alias("t_doc"), F.col("label").alias("t_label"),
        F.col("text").alias("t_text"), F.col("mention_id").alias("tail_mention_id"),
    )
    resolved = (
        parsed.join(  # inner join = P4 guard (unresolvable head/tail drops)
            heads,
            (F.col("doc_id") == F.col("h_doc"))
            & (F.col("rel.head.label") == F.col("h_label"))
            & (F.col("rel.head.text") == F.col("h_text")),
        )
        .join(
            tails,
            (F.col("doc_id") == F.col("t_doc"))
            & (F.col("rel.tail.label") == F.col("t_label"))
            & (F.col("rel.tail.text") == F.col("t_text")),
        )
        .select(
            "doc_id", "chunk_idx", "pos",
            "head_mention_id", "tail_mention_id",
            F.col("rel.relation").alias("rel_type"),
            F.col("rel.description").alias("description"),
            F.col("rel.head.text").alias("head_text"),
            F.col("rel.head.label").alias("head_label"),
            F.col("rel.tail.text").alias("tail_text"),
            F.col("rel.tail.label").alias("tail_label"),
        )
    )

    # A3: first-seen dedup on (head.id, relation, tail.id) per doc
    wdup = Window.partitionBy(
        "doc_id", "head_mention_id", "rel_type", "tail_mention_id"
    ).orderBy("chunk_idx", "pos")
    deduped = (
        resolved.withColumn("rn", F.row_number().over(wdup))
        .filter(F.col("rn") == 1)
        .drop("rn", "chunk_idx", "pos")
    )
    return deduped.withColumn("relation_id", ids.relation_id()).select(*RELATION_COLS)
