"""s8/s9: graph materialization — edges, triples, provenance.

Reference (back/kgg/generator.py:278-286): each relation becomes one Edge
whose endpoints resolve through the ``text -> Node`` dict (J2); Edge.id is the
relation id (:281). Neo4j property shapes (back/kgg/io/graph.py:68-86):
``(:Node {id, text})-[:Edge {id, relation_id, rel_type, description,
weight=0.2}]->(:Node)`` — the default edge weight 0.2 is io/graph.py:77.

Spark design: J2 is two equi joins on surface text. The node-key projection
is always broadcast, which suits the sandbox/bench scale where it is tiny; at
10^12 scale it would not fit, and ROADMAP O5 will let measured sizes pick the
join strategy instead of this fixed hint.
Per-row Neo4j round-trips (S6/S7 anti-pattern) become bulk table writes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def build_edges(
    relations: DataFrame, nodes: DataFrame, default_weight: float = 0.2
) -> DataFrame:
    keys = F.broadcast(nodes.select("node_id", "text"))
    heads = keys.select(F.col("text").alias("head_text"), F.col("node_id").alias("head_node_id"))
    tails = keys.select(F.col("text").alias("tail_text"), F.col("node_id").alias("tail_node_id"))
    return (
        relations.join(heads, "head_text")
        .join(tails, "tail_text")
        .select(
            F.col("relation_id").alias("edge_id"),  # generator.py:281
            "head_node_id",
            "tail_node_id",
            "rel_type",
            "description",
            "relation_id",
            "doc_id",
            # double, not float: the weight feeds PPR transition ratios, and a
            # float32 0.2 (0.20000000298...) would silently diverge from every
            # SQL oracle's exact 0.2 in the 8th decimal
            F.lit(default_weight).cast("double").alias("weight"),
        )
    )


def build_triples(edges: DataFrame, nodes: DataFrame) -> DataFrame:
    """(subj, pred, obj) = (head node text, rel_type, tail node text) — the
    parity surface checked against the reference at P/R >= 0.95."""
    keys = F.broadcast(nodes.select("node_id", "text"))
    return (
        edges.join(keys.select(F.col("node_id").alias("head_node_id"),
                               F.col("text").alias("subj")), "head_node_id")
        .join(keys.select(F.col("node_id").alias("tail_node_id"),
                          F.col("text").alias("obj")), "tail_node_id")
        .select("subj", F.col("rel_type").alias("pred"), "obj", "doc_id",
                "edge_id", "relation_id")
    )


def build_provenance(relations: DataFrame, stage: str = "s5_relations") -> DataFrame:
    """Per-triple provenance with the physical partition that produced it
    (per-partition lineage requirement of the north rule)."""
    return relations.select(
        F.col("relation_id").alias("triple_id"),
        F.col("head_text").alias("subj"),
        F.col("rel_type").alias("pred"),
        F.col("tail_text").alias("obj"),
        "doc_id",
        "head_mention_id",
        "tail_mention_id",
        F.lit(stage).alias("stage"),
        F.spark_partition_id().alias("partition_id"),
    )


def integrity_audit(
    mentions: DataFrame,
    relations: DataFrame,
    edges: DataFrame,
    membership: DataFrame,
    provenance: DataFrame,
) -> DataFrame:
    """Referential-integrity audit across the materialized graph tables —
    the data-quality gate a KG sink runs after every incremental MERGE:
    every relation's mention FKs resolve, every edge's relation and node
    FKs resolve, every provenance row points at a live relation, every
    membership row at a live mention. One row per check:
    (check, n_rows, n_orphans) — a non-zero orphan count means a partial
    write or a resolution regression escaped the pipeline.

    Scale shape: each check is one equi-join of the child FK column
    against the parent's DISTINCT key projection (broadcastable — key
    sets are node/mention-sized, far below the fact tables) + a
    map-side-combinable count; checks are independent and union lazily
    into one plan.
    """
    checks = [
        ("rel_head_mention", relations, "head_mention_id",
         mentions, "mention_id"),
        ("rel_tail_mention", relations, "tail_mention_id",
         mentions, "mention_id"),
        ("edge_relation", edges, "relation_id", relations, "relation_id"),
        ("edge_head_node", edges, "head_node_id", membership, "node_id"),
        ("edge_tail_node", edges, "tail_node_id", membership, "node_id"),
        ("prov_relation", provenance, "triple_id",
         relations, "relation_id"),
        ("membership_mention", membership, "mention_id",
         mentions, "mention_id"),
    ]
    parts = []
    for name, child, fk, parent, pk in checks:
        keys = (
            parent.select(F.col(pk).alias("k"))
            .distinct()
            .withColumn("hit", F.lit(1))
        )
        parts.append(
            child.select(F.col(fk).alias("k"))
            .join(F.broadcast(keys), "k", "left")
            .agg(
                F.count("*").cast("long").alias("n_rows"),
                F.sum(F.when(F.col("hit").isNull(), 1).otherwise(0))
                .cast("long").alias("n_orphans"),
            )
            .select(F.lit(name).alias("check"), "n_rows", "n_orphans")
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def schema_induction(
    relations: DataFrame,
    mentions: DataFrame,
) -> DataFrame:
    """Ontology/schema discovery over the extracted KG: the typed relation
    signatures (head NER label, rel_type, tail NER label) with support
    counts and the conditional share P(signature | head label) — the
    bottom-up schema a KG built from open extraction needs before anyone
    can write a typed query against it (which predicates connect which
    entity types, and how dominantly).

    Plan: two equi-joins of the relation table against the mention table's
    (mention_id, label) projection — node-keyed, broadcastable when the
    mention projection is dim-sized, shuffle-hash otherwise — then ONE
    groupBy over the signature with integer counts; the share is a single
    window-sum division per signature row (integer/integer, one rounding
    at the end), so no order-dependent float folds anywhere.

    Output: (head_label, rel_type, tail_label, n_rels, n_docs,
    share_head) — share_head = n_rels / total rels with that head label,
    rounded 6dp.
    """
    lab = mentions.select("mention_id", "label")
    sig = (
        relations.select("doc_id", "head_mention_id", "tail_mention_id", "rel_type")
        .join(
            lab.withColumnRenamed("mention_id", "head_mention_id")
            .withColumnRenamed("label", "head_label"),
            "head_mention_id",
        )
        .join(
            lab.withColumnRenamed("mention_id", "tail_mention_id")
            .withColumnRenamed("label", "tail_label"),
            "tail_mention_id",
        )
        .groupBy("head_label", "rel_type", "tail_label")
        .agg(
            F.count("*").cast("long").alias("n_rels"),
            F.countDistinct("doc_id").cast("long").alias("n_docs"),
        )
    )
    w = Window.partitionBy("head_label")
    return sig.select(
        "head_label",
        "rel_type",
        "tail_label",
        "n_rels",
        "n_docs",
        F.round(
            F.col("n_rels").cast("double") / F.sum("n_rels").over(w).cast("double"),
            6,
        ).alias("share_head"),
    )


def functional_violations(
    triples: DataFrame,
    max_examples: int = 5,
) -> DataFrame:
    """Functional-predicate violation audit: for every (pred, subj) pair
    with MORE than one distinct object, the violation row a KG curation
    queue reviews — predicates that are functional in the domain
    (born_in, headquartered_in, capital_of) must map each subject to one
    object, and multi-object subjects are either extraction errors or
    entity-resolution misses, so this audit is the standard post-build
    quality gate alongside the referential-integrity audit.

    One groupBy(pred, subj) with a distinct-count — map-side combinable,
    output violation-sized. The example objects are the SORTED first
    ``max_examples`` distinct objects (deterministic CSV, bounded per
    row so a pathological subject can't blow up the report).

    Output: (pred, subj, n_objs, n_rows, example_objs).
    """
    return (
        triples.groupBy("pred", "subj")
        .agg(
            F.countDistinct("obj").cast("long").alias("n_objs"),
            F.count("*").cast("long").alias("n_rows"),
            F.concat_ws(
                ",",
                F.slice(F.array_sort(F.collect_set("obj")), 1, max_examples),
            ).alias("example_objs"),
        )
        .filter(F.col("n_objs") > 1)
    )


def growth_curve(
    triples: DataFrame,
    n_docs: int,
    n_buckets: int = 10,
) -> DataFrame:
    """KG saturation curve: split the corpus into ``n_buckets`` equal
    doc-id deciles and report, per decile, how many NEW canonical nodes
    and NEW distinct triples first appear there, with running cumulative
    totals — the Heaps-law-for-graphs diagnostic that answers "is the KG
    still growing linearly with corpus size, or saturating?" (drives
    how much more crawl a 10^12-doc build actually needs).

    Determinism: bucket = floor(n_buckets * doc_int / n_docs) over exact
    integers; first-appearance = min(bucket) per entity/triple; the
    cumulative is an integer window sum over the bucket total order.

    Scale shape: one pass to bucket, two grouped min/count aggregates
    (map-side combinable), and a window over the n_buckets-row result —
    never over the fact table.

    Output: (bucket, n_new_nodes, cum_nodes, n_new_triples, cum_triples).
    """
    b = triples.selectExpr(
        "subj", "pred", "obj",
        f"least({n_buckets} - 1, cast(floor({n_buckets} *"
        f" cast(regexp_extract(doc_id, '([0-9]+)', 1) as bigint)"
        f" / {n_docs}) as int)) as bucket",
    )
    nodes = (
        b.selectExpr("subj as node", "bucket")
        .unionAll(b.selectExpr("obj as node", "bucket"))
        .groupBy("node")
        .agg(F.min("bucket").alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").cast("long").alias("n_new_nodes"))
    )
    trip = (
        b.groupBy("subj", "pred", "obj")
        .agg(F.min("bucket").alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").cast("long").alias("n_new_triples"))
    )
    w = (
        Window.orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # full bucket shell: a saturating KG's flat tail (zero new per decile)
    # must be VISIBLE in the curve, not absent from it
    shell = triples.sparkSession.range(n_buckets).select(
        F.col("id").cast("int").alias("bucket")
    )
    return (
        shell.join(nodes, "bucket", "left")
        .join(trip, "bucket", "left")
        .select(
            F.col("bucket").cast("int").alias("bucket"),
            F.coalesce("n_new_nodes", F.lit(0)).cast("long").alias("n_new_nodes"),
            F.coalesce("n_new_triples", F.lit(0)).cast("long").alias("n_new_triples"),
        )
        .withColumn("cum_nodes", F.sum("n_new_nodes").over(w).cast("long"))
        .withColumn("cum_triples", F.sum("n_new_triples").over(w).cast("long"))
        .select("bucket", "n_new_nodes", "cum_nodes",
                "n_new_triples", "cum_triples")
    )


def query_2hop(
    triples: DataFrame,
    pred1: str,
    pred2: str,
) -> DataFrame:
    """Instance-level typed 2-hop path query — "find every (a, b, c) with
    a -pred1-> b -pred2-> c" — the workhorse multi-hop KG query a user
    runs after schema induction tells them which predicates exist (the
    census ops kg_metapaths/kg_two_hop count these paths; this operator
    RETURNS them, with per-hop document support for ranking/provenance).

    Plan: distinct typed edges with doc-support counts first (the
    kg_metapaths discipline — instance multiplicity never multiplies
    through the join), then ONE equi-join on the middle node with both
    predicate filters pushed to the scan; a != c drops trivial
    round-trips. Cost tracks the result size, never nodes^2.

    Output: (a, b, c, docs_ab, docs_bc).
    """
    e = triples.groupBy("subj", "pred", "obj").agg(
        F.countDistinct("doc_id").cast("long").alias("n_docs")
    )
    h1 = e.filter(F.col("pred") == pred1).select(
        F.col("subj").alias("a"), F.col("obj").alias("b"),
        F.col("n_docs").alias("docs_ab"),
    )
    h2 = e.filter(F.col("pred") == pred2).select(
        F.col("subj").alias("b"), F.col("obj").alias("c"),
        F.col("n_docs").alias("docs_bc"),
    )
    return (
        h1.join(h2, "b")
        .filter(F.col("a") != F.col("c"))
        .select("a", "b", "c", "docs_ab", "docs_bc")
    )


def entity_profile(triples: DataFrame) -> DataFrame:
    """Denormalized per-entity feature row — the star-schema "entity
    table" a downstream ML pipeline joins features from, computed in two
    map-side-combinable aggregations instead of N per-feature scans:

    ``(node, out_deg, in_deg, n_rel_types_out, n_docs, top_out_rel)``

    - out/in degree: statement counts with the node as subject/object;
    - n_rel_types_out / top_out_rel: relation-type diversity and the
      dominant outgoing type (max count, ties broken lexicographically
      smallest — a deterministic ``max_by`` via max(struct));
    - n_docs: distinct source documents touching the node in either
      role (provenance reach).

    Scale shape: one groupBy over (node, rel_type) for the outgoing
    side folded to per-node with a max(struct) aggregate (top-1 as an
    aggregate, not a sorted window — hub cost is degree, not
    degree*log), one groupBy for the incoming side, one distinct-doc
    union agg; three shuffles on the node key, no windows, no joins
    bigger than |V|.
    """
    t = triples.select("subj", "pred", "obj", "doc_id")
    by_type = t.groupBy(F.col("subj").alias("node"), F.col("pred")).agg(
        F.count("*").cast("long").alias("cnt")
    )
    # max(struct(cnt, neg-lexicographic tiebreak)) -> top-1 as aggregate.
    # String order can't be negated directly, so rank types by cnt DESC
    # then pred ASC via min(struct(-cnt, pred)).
    out_side = by_type.groupBy("node").agg(
        F.sum("cnt").cast("long").alias("out_deg"),
        F.count("*").cast("long").alias("n_rel_types_out"),
        F.min(F.struct((-F.col("cnt")).alias("nc"), F.col("pred"))).alias("m"),
    ).select(
        "node", "out_deg", "n_rel_types_out", F.col("m.pred").alias("top_out_rel")
    )
    in_side = t.groupBy(F.col("obj").alias("node")).agg(
        F.count("*").cast("long").alias("in_deg")
    )
    docs = (
        t.select(F.col("subj").alias("node"), "doc_id")
        .unionAll(t.select(F.col("obj").alias("node"), "doc_id"))
        .groupBy("node")
        .agg(F.countDistinct("doc_id").cast("long").alias("n_docs"))
    )
    return (
        docs.join(out_side, "node", "left")
        .join(in_side, "node", "left")
        .select(
            "node",
            F.coalesce("out_deg", F.lit(0)).cast("long").alias("out_deg"),
            F.coalesce("in_deg", F.lit(0)).cast("long").alias("in_deg"),
            F.coalesce("n_rel_types_out", F.lit(0)).cast("long").alias(
                "n_rel_types_out"
            ),
            "n_docs",
            "top_out_rel",
        )
    )


def predicate_cardinality(triples: DataFrame) -> DataFrame:
    """Cardinality typing of every predicate — the 1:1 / 1:N / N:1 /
    N:M classification a KG schema layer derives before choosing
    storage layout and join strategy (a functional predicate joins as
    a dim lookup; an N:M one shuffles). Computed over the distinct
    statement view: max out-fan per subject and max in-fan per object,
    classified by whether either exceeds 1.

    Scale shape: two map-side-combinable fan aggregates keyed by
    (pred, endpoint) folded to per-predicate maxima — cost is one pass
    over the statement table, no joins, no windows.

    Returns (pred, n_stmts, max_out_fan, max_in_fan, cardinality).
    """
    t = triples.select("subj", "pred", "obj").distinct()
    outf = t.groupBy("pred", "subj").agg(
        F.count(F.lit(1)).cast("long").alias("f")
    ).groupBy("pred").agg(F.max("f").cast("long").alias("max_out_fan"))
    inf = t.groupBy("pred", "obj").agg(
        F.count(F.lit(1)).cast("long").alias("f")
    ).groupBy("pred").agg(F.max("f").cast("long").alias("max_in_fan"))
    n = t.groupBy("pred").agg(F.count(F.lit(1)).cast("long").alias("n_stmts"))
    return (
        n.join(outf, "pred").join(inf, "pred")
        .select(
            "pred", "n_stmts", "max_out_fan", "max_in_fan",
            F.concat(
                F.when(F.col("max_in_fan") > 1, F.lit("N")).otherwise(F.lit("1")),
                F.lit(":"),
                F.when(F.col("max_out_fan") > 1, F.lit("N")).otherwise(F.lit("1")),
            ).alias("cardinality"),
        )
    )


def inverse_predicate_detect(
    triples: DataFrame, min_jaccard: float = 0.5
) -> DataFrame:
    """owl:inverseOf / symmetry discovery: for every predicate pair
    (p, q), the Jaccard overlap between p's REVERSED statement set and
    q's statement set — high overlap with q != p induces an inverse
    axiom, with q == p a symmetric one. The schema-induction step that
    lets a KG deduplicate mirrored extractions (X acquired_by Y vs
    Y acquired X) instead of storing both directions forever.

    Plan: ONE equi-join of the reversed distinct statements against
    the forward ones on (subj, obj) produces all intersection cells
    grouped by (p, q); predicate sizes are a dim-sized aggregate
    joined back twice (broadcast). Cost tracks statements sharing an
    entity pair — never |preds|² x statements.

    Returns (pred_a, pred_b, n_a, n_b, n_overlap, jaccard, axiom)
    for pairs with jaccard >= min_jaccard, axiom in
    ('symmetric', 'inverse_of'), pred_a <= pred_b canonical order.
    """
    t = triples.select("subj", "pred", "obj").distinct()
    rev = t.select(
        F.col("obj").alias("subj"), F.col("pred").alias("p_rev"),
        F.col("subj").alias("obj"),
    )
    inter = (
        rev.join(t, ["subj", "obj"])
        .groupBy(F.col("p_rev").alias("pred_a"), F.col("pred").alias("pred_b"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_overlap"))
    )
    sizes = t.groupBy("pred").agg(F.count(F.lit(1)).cast("long").alias("n"))
    scored = (
        inter.join(
            F.broadcast(sizes.select(F.col("pred").alias("pred_a"),
                                     F.col("n").alias("n_a"))), "pred_a")
        .join(
            F.broadcast(sizes.select(F.col("pred").alias("pred_b"),
                                     F.col("n").alias("n_b"))), "pred_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_overlap")
                / (F.col("n_a") + F.col("n_b") - F.col("n_overlap")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= F.lit(float(min_jaccard)))
        # canonical unordered pair: keep pred_a <= pred_b once
        .filter(F.col("pred_a") <= F.col("pred_b"))
    )
    return scored.select(
        "pred_a", "pred_b", "n_a", "n_b", "n_overlap", "jaccard",
        F.when(F.col("pred_a") == F.col("pred_b"), F.lit("symmetric"))
        .otherwise(F.lit("inverse_of")).alias("axiom"),
    )


def mine_composition_rules(
    triples: DataFrame,
    min_support: int = 2,
    min_confidence: float = 0.5,
    max_mid_fan: int = 1000,
) -> DataFrame:
    """AMIE-style composition-rule mining (Galárraga et al., WWW 2013,
    restricted to the chain shape): for every ordered predicate triple
    (p, q, r), the rule  p(x,y) ∧ q(y,z) → r(x,z)  scored by
    support = |body pairs also asserted under r| and
    confidence = support / |body pairs| (AMIE's standard confidence
    under CWA). The miner that FEEDS :func:`bgp.apply_rule` /
    forward inference — inverse_predicate_detect finds the length-1
    axioms, this finds the length-2 ones.

    Scale shape: the body is ONE self-equi-join of the distinct
    statement table on the shared entity, grouped to distinct
    (p, q, x, z) pairs — cost tracks join-node fan, which
    ``max_mid_fan`` caps (the cooccurrence_edges discipline: a hub
    entity with a million statements would otherwise emit fan² body
    pairs; capped entities are skipped, documented, and counted by the
    caller via the cap parameter, keeping worst-case work bounded and
    deterministic). Support attaches with one LEFT join against r's
    statements; predicate-level aggregates are dim-sized.

    Returns (body_p, body_q, head_r, n_body, support, confidence),
    confidence rounded 6dp, filtered to support >= min_support AND
    confidence >= min_confidence.
    """
    t = triples.select("subj", "pred", "obj").distinct()
    mid_fan = (
        t.select(F.col("obj").alias("mid")).unionAll(
            t.select(F.col("subj").alias("mid"))
        )
        .groupBy("mid")
        .agg(F.count(F.lit(1)).cast("long").alias("fan"))
        .filter(F.col("fan") <= int(max_mid_fan))
        .select("mid")
    )
    left = t.select(
        F.col("subj").alias("x"), F.col("pred").alias("body_p"),
        F.col("obj").alias("mid"),
    ).join(mid_fan, "mid")
    right = t.select(
        F.col("subj").alias("mid"), F.col("pred").alias("body_q"),
        F.col("obj").alias("z"),
    )
    body = (
        left.join(right, "mid")
        .select("body_p", "body_q", "x", "z")
        .distinct()
    )
    head = t.select(
        F.col("pred").alias("head_r"), F.col("subj").alias("x"),
        F.col("obj").alias("z"),
    )
    scored = (
        body.join(head, ["x", "z"])
        .groupBy("body_p", "body_q", "head_r")
        .agg(F.count(F.lit(1)).cast("long").alias("support"))
    )
    n_body = body.groupBy("body_p", "body_q").agg(
        F.count(F.lit(1)).cast("long").alias("n_body")
    )
    return (
        scored.join(n_body, ["body_p", "body_q"])
        .withColumn(
            "confidence", F.round(F.col("support") / F.col("n_body"), 6)
        )
        .filter(
            (F.col("support") >= int(min_support))
            & (F.col("confidence") >= float(min_confidence))
        )
        .select("body_p", "body_q", "head_r", "n_body", "support",
                "confidence")
    )


def join_cardinality_stats(triples: DataFrame) -> DataFrame:
    """Optimizer-statistics audit for BGP planning: for every ordered
    predicate pair (p, q) whose composition join p.obj = q.subj is
    non-empty, compare the textbook System-R containment estimate

        est = n_p * n_q div max(ndv_obj(p), ndv_subj(q))

    (Selinger et al., SIGMOD 1979) against the TRUE join cardinality
    sum_mid cnt_p(mid) * cnt_q(mid), with the relative error in integer
    micro-units — the statistics table that tells bgp.plan_order's
    selectivity heuristic where the independence assumption breaks
    (skewed mid entities make the estimate collapse).

    Plan: one per-(pred, mid) count table scanned twice (obj side, subj
    side), one equi-join on mid for the exact count, dim-sized per-pred
    aggregates broadcast for the estimate — nothing beyond the real
    join's own cost. Exact BIGINT throughout.

    Output: (p, q, n_p, n_q, ndv_p_obj, ndv_q_subj, est_rows,
    actual_rows, rel_err_micro).
    """
    ed = triples.select("subj", "pred", "obj").distinct()
    obj_cnt = ed.groupBy(F.col("pred").alias("p"),
                         F.col("obj").alias("mid")).agg(
        F.count("*").cast("long").alias("c_out"))
    subj_cnt = ed.groupBy(F.col("pred").alias("q"),
                          F.col("subj").alias("mid")).agg(
        F.count("*").cast("long").alias("c_in"))
    actual = (
        obj_cnt.join(subj_cnt, "mid")
        .groupBy("p", "q")
        .agg(F.sum(F.expr("c_out * c_in")).cast("long").alias("actual_rows"))
    )
    pstats = ed.groupBy(F.col("pred").alias("p")).agg(
        F.count("*").cast("long").alias("n_p"),
        F.countDistinct("obj").cast("long").alias("ndv_p_obj"),
    )
    qstats = ed.groupBy(F.col("pred").alias("q")).agg(
        F.count("*").cast("long").alias("n_q"),
        F.countDistinct("subj").cast("long").alias("ndv_q_subj"),
    )
    return (
        actual.join(F.broadcast(pstats), "p")
        .join(F.broadcast(qstats), "q")
        .selectExpr(
            "p", "q", "n_p", "n_q", "ndv_p_obj", "ndv_q_subj",
            "CAST(n_p * n_q div greatest(ndv_p_obj, ndv_q_subj) AS BIGINT)"
            " AS est_rows",
            "actual_rows",
            "CAST(abs(n_p * n_q div greatest(ndv_p_obj, ndv_q_subj)"
            " - actual_rows) * 1000000 div actual_rows AS BIGINT)"
            " AS rel_err_micro",
        )
    )


def statement_validity(
    triples: DataFrame,
    time_expr: str = "cast(regexp_extract(doc_id, '([0-9]+)$', 1) as bigint)",
) -> DataFrame:
    """Valid-time windows for KG statements (the temporal-KG minimum):
    each distinct (subj, pred, obj) carries [t_from, t_to] — the first
    and last assertion times over its supporting documents (``time_expr``
    maps a doc to its integer ingestion time) — plus the assertion
    count. One map-side-combinable grouped min/max/count; exact BIGINTs.

    This is the validity model Wikidata-style temporal qualifiers
    degrade to when all you have is document provenance: good enough
    for as-of queries and change audits, upgradeable in place when real
    qualifier dates exist (swap time_expr).
    """
    ev = triples.selectExpr(
        "subj", "pred", "obj", f"({time_expr}) AS t"
    )
    return ev.groupBy("subj", "pred", "obj").agg(
        F.min("t").cast("long").alias("t_from"),
        F.max("t").cast("long").alias("t_to"),
        F.countDistinct("t").cast("long").alias("n_assertions"),
    )


def asof_statements(
    triples: DataFrame,
    t: int,
    time_expr: str = "cast(regexp_extract(doc_id, '([0-9]+)$', 1) as bigint)",
) -> DataFrame:
    """AS-OF temporal KG query: the statements valid at time ``t`` under
    statement_validity's windows (t_from <= t <= t_to) — 'the graph as
    it stood at T', the query sinks.read_graph_snapshot answers at
    snapshot granularity and this answers at statement granularity.
    The filter sits on top of one aggregate; with the validity table
    materialized and partitioned by a time bucket, partition pruning
    makes T-queries touch only overlapping buckets.
    """
    v = statement_validity(triples, time_expr=time_expr)
    return v.filter((F.col("t_from") <= F.lit(t)) & (F.lit(t) <= F.col("t_to")))


def completeness_profile(
    triples: DataFrame, types: DataFrame
) -> DataFrame:
    """Class-level KG completeness audit (the question behind Galarraga
    et al., WSDM 2017 'Predicting completeness in knowledge bases'):
    for every (entity class, predicate) pair, what fraction of the
    class's entities assert the predicate at least once — the
    coverage table that says 'only 40% of organizations have any
    outgoing org->tech statement', i.e. where acquisition should focus.

    ``types`` is the (entity, label) typing table. Plan: distinct
    (subject, predicate) joined to the broadcast typing (entity-keyed,
    dim vs statements), two grouped counts, micro-unit ratio — exact
    integers end to end. Pairs are emitted ONLY for (class, predicate)
    combinations observed at least once (the dense class x predicate
    shell would claim knowledge about never-seen combinations).

    Output: (label, pred, n_entities, n_with_pred, coverage_micro).
    """
    ty = types.select(
        F.col("entity").alias("subj"), "label"
    ).distinct()
    class_sizes = ty.groupBy("label").agg(
        F.countDistinct("subj").cast("long").alias("n_entities")
    )
    sp = triples.select("subj", "pred").distinct()
    with_pred = (
        sp.join(F.broadcast(ty), "subj")
        .groupBy("label", "pred")
        .agg(F.countDistinct("subj").cast("long").alias("n_with_pred"))
    )
    return (
        with_pred.join(F.broadcast(class_sizes), "label")
        .selectExpr(
            "label", "pred", "n_entities", "n_with_pred",
            "CAST(n_with_pred * 1000000 div n_entities AS BIGINT)"
            " AS coverage_micro",
        )
    )
