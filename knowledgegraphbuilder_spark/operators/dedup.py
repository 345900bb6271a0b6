"""Deduplication suite for large-scale training-data pipelines.

Five strategies over the ``documents`` table, all DataFrame-native:

- exact:        sha256(text) groupBy — the baseline; map-side combinable.
- ngram-jaccard: exact k-word-shingle Jaccard with PPJoin-style prefix
                filtering — candidates only need to share a shingle from the
                df-ordered PREFIX of each doc, so hot stop-shingles never
                become join keys and the join stays near-linear while the
                result remains exactly the all-pairs answer.
- MinHash+LSH:  shingle -> 32-perm MinHash signature (all inside native
                higher-order expressions, JVM-side) -> banding -> bucket
                self-join -> exact-Jaccard verification of candidates. The
                scale path: shuffle volume is #docs x #bands rows, never
                all-pairs.
- SimHash:      64-bit SimHash over word hashes; near-dup = Hamming distance
                <= k via banded equality (pigeonhole: d bands, pairs agreeing
                on >= 1 band, verified with popcount).
- embedding cosine: near-dup = cosine >= t over an embedding column; exact
                blocked self-join at sandbox scale, LSH-bucketed variant in
                operators/ann.py for the scale path.

Shingle expressions are generated SQL strings shared (shape-wise) with the
DuckDB oracles in __spark_entry__.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from knowledgegraphbuilder_spark.functions.hashing import spark_word_shingles


def exact_duplicates(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Duplicate groups by exact text: (text_hash, n_docs, doc_ids_csv), n>1."""
    return (
        docs.select(F.sha2(F.col(text_col), 256).alias("text_hash"), F.col(id_col).cast("string").alias("id"))
        .groupBy("text_hash")
        .agg(
            F.count("*").alias("n_docs"),
            F.concat_ws(",", F.array_sort(F.collect_list("id"))).alias("doc_ids_csv"),
        )
        .filter(F.col("n_docs") > 1)
    )


def _with_shingles(docs: DataFrame, k: int, text_col: str, id_col: str) -> DataFrame:
    return docs.select(
        F.col(id_col).cast("string").alias("id"),
        F.expr(spark_word_shingles(text_col, k)).alias("shingles"),
    ).filter(F.size("shingles") > 0)


def ngram_jaccard_pairs(
    docs: DataFrame, threshold: float = 0.5, k: int = 3,
    text_col: str = "text", id_col: str = "doc_id",
    prefix_filter: bool = True,
) -> DataFrame:
    """EXACT Jaccard >= threshold pairs, scale-safe via PPJoin-style prefix
    filtering (Xiao et al., "Efficient Similarity Joins for Near Duplicate
    Detection", WWW'08).

    Candidate generation indexes only each document's PREFIX — its first
    ``n - ceil(t*n) + 1`` shingles under the global (document-frequency,
    shingle) order. Any pair with J >= t provably shares a prefix shingle, so
    no pair is lost (unlike a frequent-shingle cutoff), and hot stop-shingles
    (high df) sort LAST in the order, so they almost never enter a prefix —
    the one join key that would emit 10^12 candidate pairs at 10^12 docs
    simply stops being an index key. A size filter (t*na <= nb <= na/t,
    necessary for J >= t) prunes the candidate join further. Verification
    computes exact Jaccard over the FULL shingle sets for candidates only.

    ``prefix_filter=False`` keeps the naive full inverted-index join — the
    small-scale test oracle for the filter itself.

    Output: (id_a, id_b, jaccard) with id_a < id_b, jaccard rounded to 6dp
    (portable float compare with the DuckDB oracle)."""
    sh = _with_shingles(docs, k, text_col, id_col)
    sizes = sh.select("id", F.size("shingles").alias("n"))
    inv = sh.select("id", F.explode("shingles").alias("shingle"))
    if prefix_filter:
        from pyspark.sql.window import Window

        t = float(threshold)
        # candidate generation runs entirely on 8-byte shingle HASHES, not the
        # ~40-byte shingle strings: the df aggregation has ~|corpus| distinct
        # keys, and hashing first cuts its allocation several-fold (measured
        # multi-second GC-pause outliers on long-lived JVMs with the string
        # version). A hash collision can only merge two shingles for candidate
        # purposes — extra candidates, never lost ones (if two docs share a
        # prefix shingle they share its hash) — and verification below
        # computes exact Jaccard over the full string arrays anyway.
        invh = inv.select("id", F.xxhash64("shingle").alias("h"))
        dfreq = invh.groupBy("h").agg(F.count("*").alias("df"))
        ranked = (
            invh.join(dfreq, "h")
            .join(sizes, "id")
            .withColumn(
                "rn",
                F.row_number().over(Window.partitionBy("id").orderBy("df", "h")),
            )
            # Jaccard prefix length: n - ceil(t*n) + 1
            .filter(F.col("rn") <= F.col("n") - F.ceil(F.lit(t) * F.col("n")) + 1)
            .select("id", "h", "n")
        )
        a = ranked.alias("a")
        b = ranked.alias("b")
        cand = (
            a.join(
                b,
                (F.col("a.h") == F.col("b.h"))
                & (F.col("a.id") < F.col("b.id"))
                # size filter: J >= t forces t*na <= nb <= na/t
                & (F.col("b.n") * F.lit(t) <= F.col("a.n"))
                & (F.col("a.n") * F.lit(t) <= F.col("b.n")),
            )
            .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
            .distinct()
        )
        av = sh.select(F.col("id").alias("id_a"), F.col("shingles").alias("sa"))
        bv = sh.select(F.col("id").alias("id_b"), F.col("shingles").alias("sb"))
        return (
            cand.join(av, "id_a")
            .join(bv, "id_b")
            .withColumn(
                "jaccard",
                F.round(
                    F.size(F.array_intersect("sa", "sb"))
                    / F.size(F.array_union("sa", "sb")),
                    6,
                ),
            )
            .filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "jaccard")
        )
    a = inv.alias("a")
    b = inv.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count("*").alias("i"))
    )
    return (
        inter.join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("n", "na"), "id_a")
        .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("n", "nb"), "id_b")
        .withColumn("jaccard", F.round(F.col("i") / (F.col("na") + F.col("nb") - F.col("i")), 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_signatures(
    docs: DataFrame, n_perm: int = 32, k: int = 3,
    text_col: str = "text", id_col: str = "doc_id",
) -> DataFrame:
    """(id, shingles, sig: array<bigint>) — MinHash over word shingles,
    entirely in native higher-order expressions (no Python).

    Each shingle STRING is hashed exactly once (``hs``); the per-permutation
    hashes then rehash the resulting bigint. Writing it as 32 independent
    ``array_min(transform(shingles, ...))`` passes would both re-hash the
    ~40-byte strings 32x and re-inline the shingle expression per permutation
    (the same projection-collapse trap as simhash) — one outer aggregate with
    a 32-slot running-minimum accumulator keeps it a single pass."""
    sh = _with_shingles(docs, k, text_col, id_col)
    long_max = (1 << 63) - 1
    return sh.withColumn(
        "hs", F.expr("transform(shingles, s -> xxhash64(s))")
    ).withColumn(
        "sig",
        F.expr(
            f"""
            aggregate(
              hs,
              array_repeat(cast({long_max} as bigint), {n_perm}),
              (acc, h) -> zip_with(acc, sequence(0, {n_perm - 1}),
                                   (m, i) -> least(m, xxhash64(h, i))))
            """
        ),
    ).drop("hs")


def minhash_lsh_pairs(
    docs: DataFrame, threshold: float = 0.5, n_perm: int = 32, bands: int = 16,
    k: int = 3, text_col: str = "text", id_col: str = "doc_id",
) -> DataFrame:
    """MinHash-LSH candidates verified with exact Jaccard.

    bands=16 / rows=2 gives ~50% candidate probability at J=0.3 and >97% at
    J=0.5 per band set — recall at threshold 0.5 is effectively 1 on small
    corpora; raise bands for higher recall at scale. Output matches
    ngram_jaccard_pairs (id_a, id_b, jaccard)."""
    rows = n_perm // bands
    # persist: signatures feed the bucket self-join twice (x/y aliases) and
    # the verification join twice more — without this the 32-perm minhash
    # expression is recomputed up to 4x
    sigs = minhash_signatures(docs, n_perm, k, text_col, id_col).persist()
    buckets = sigs.select(
        "id",
        F.explode(
            F.expr(
                f"transform(sequence(0, {bands - 1}), "
                f"b -> named_struct('band', b, 'key', "
                f"xxhash64(concat_ws(',', transform(slice(sig, b * {rows} + 1, {rows}), x -> cast(x as string))))))"
            )
        ).alias("bk"),
    ).select("id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    cand = (
        buckets.alias("x")
        .join(
            buckets.alias("y"),
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.key") == F.col("y.key"))
            & (F.col("x.id") < F.col("y.id")),
        )
        .select(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"))
        .distinct()
    )
    av = sigs.select(F.col("id").alias("id_a"), F.col("shingles").alias("sa"))
    bv = sigs.select(F.col("id").alias("id_b"), F.col("shingles").alias("sb"))
    return (
        cand.join(av, "id_a")
        .join(bv, "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.size(F.array_intersect("sa", "sb"))
                / F.size(F.array_union("sa", "sb")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


SIMHASH_BITS = 60


def simhash(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """60-bit SimHash over word token hashes (native bit arithmetic).

    The word hash is the top 60 bits of sha256 (15 hex chars) rather than
    xxhash64: sha256 is bit-identical across Spark and DuckDB, which makes the
    whole operator oracle-checkable, and 60 bits keeps the value inside a
    signed BIGINT on both engines ('0x...'::BIGINT caps at 63 bits)."""
    toks = docs.select(
        F.col(id_col).cast("string").alias("id"),
        F.expr(
            f"transform(split({text_col}, ' '), "
            f"w -> cast(conv(substring(sha2(w, 256), 1, 15), 16, 10) as bigint))"
        ).alias("hs"),
    )
    # bit b of simhash = majority of bit b over token hashes. ONE outer
    # aggregate over hs with a 60-counter array accumulator: if hs instead
    # appeared inside a per-bit lambda, Catalyst's projection collapse would
    # inline the whole sha256 word-hash transform into every one of the 60
    # bit iterations (measured 10x slower on the full operator at sf0.1)
    return toks.withColumn(
        "simhash",
        F.expr(
            f"""
            aggregate(
              hs,
              array_repeat(0, {SIMHASH_BITS}),
              (acc, h) -> zip_with(acc, sequence(0, {SIMHASH_BITS - 1}),
                (c, b) -> c + case when (h >> b) & 1 = 1 then 1 else -1 end),
              acc -> aggregate(sequence(0, {SIMHASH_BITS - 1}), cast(0 as bigint),
                (s, b) -> s | case when acc[b] > 0
                               then shiftleft(cast(1 as bigint), b)
                               else cast(0 as bigint) end))
            """
        ),
    ).select("id", "simhash")


def simhash_pairs(
    docs: DataFrame, max_hamming: int = 3, n_blocks: int = 4,
    text_col: str = "text", id_col: str = "doc_id",
) -> DataFrame:
    """Near-dup pairs with Hamming(simhash) <= max_hamming via the pigeonhole
    banding trick: split the 60 bits into n_blocks equal blocks; any pair
    within distance max_hamming < n_blocks agrees on >= 1 block -> candidate;
    verify with popcount. ``n_blocks > max_hamming`` is REQUIRED for
    completeness (pigeonhole) and enforced here — with it, the banded output
    equals the exact all-pairs Hamming join, which is what the DuckDB oracle
    computes. Output: (id_a, id_b, hamming)."""
    if n_blocks <= max_hamming:
        raise ValueError(
            f"pigeonhole completeness needs n_blocks > max_hamming "
            f"(got {n_blocks} <= {max_hamming})"
        )
    if SIMHASH_BITS % n_blocks != 0:
        raise ValueError(f"n_blocks must divide {SIMHASH_BITS}")
    blk_bits = SIMHASH_BITS // n_blocks
    sh = simhash(docs, text_col, id_col)
    blocks = sh.select(
        "id", "simhash",
        F.explode(
            F.expr(
                f"transform(sequence(0, {n_blocks - 1}), "
                f"b -> named_struct('blk', b, 'key', (simhash >> (b * {blk_bits})) "
                f"& {(1 << blk_bits) - 1}))"
            )
        ).alias("bk"),
    ).select("id", "simhash", F.col("bk.blk").alias("blk"), F.col("bk.key").alias("key"))
    cand = (
        blocks.alias("x")
        .join(
            blocks.alias("y"),
            (F.col("x.blk") == F.col("y.blk"))
            & (F.col("x.key") == F.col("y.key"))
            & (F.col("x.id") < F.col("y.id")),
        )
        .select(
            F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"),
            F.col("x.simhash").alias("ha"), F.col("y.simhash").alias("hb"),
        )
        .distinct()
    )
    return (
        cand.withColumn("hamming", F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def embedding_cosine_pairs_lsh(
    embs: DataFrame, threshold: float = 0.9,
    n_bits: int = 4, n_tables: int = 8, seed: int = 42, dim: int = 64,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Near-dup pairs by cosine >= threshold, LSH-bucketed — the 100 TB path
    for ``embedding_cosine_pairs``: candidates are pairs sharing a
    random-hyperplane bucket in ANY of ``n_tables`` tables (shuffle volume =
    #vectors x #tables rows, never all-pairs), then exact cosine rescoring.
    Same sha256-derived hyperplanes as operators/ann.py, so the full
    algorithm (bucketing included) replays value-exactly in the SQL oracle.
    Output: (id_a, id_b, cosine rounded 4dp) — equals the exact operator
    restricted to bucket-sharing pairs."""
    from knowledgegraphbuilder_spark.operators.ann import lsh_codes

    v = lsh_codes(embs, dim, n_bits, n_tables, seed, id_col, vec_col)
    bk = v.select("id", F.posexplode("lsh").alias("t", "bucket"))
    cand = (
        bk.alias("x")
        .join(bk.alias("y"),
              (F.col("x.t") == F.col("y.t"))
              & (F.col("x.bucket") == F.col("y.bucket"))
              & (F.col("x.id") < F.col("y.id")))
        .select(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"))
        .distinct()
    )
    av = v.select(F.col("id").alias("id_a"), F.col("v").alias("va")).withColumn(
        "na", F.expr("greatest(sqrt(aggregate(va, 0.0d, (a, x) -> a + x * x)), 1e-100d)"))
    bv = v.select(F.col("id").alias("id_b"), F.col("v").alias("vb")).withColumn(
        "nb", F.expr("greatest(sqrt(aggregate(vb, 0.0d, (a, x) -> a + x * x)), 1e-100d)"))
    return (
        cand.join(av, "id_a").join(bv, "id_b")
        .withColumn(
            "cosine",
            F.round(
                F.expr("aggregate(zip_with(va, vb, (x, y) -> x * y), 0.0d, (a, x) -> a + x)")
                / (F.col("na") * F.col("nb")),
                4,
            ),
        )
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def embedding_cosine_pairs(
    embs: DataFrame, threshold: float = 0.9,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Near-dup pairs by cosine >= threshold (embeddings need not be
    normalized). Exact self-join — the verification baseline; use
    operators/ann.py's LSH buckets to generate candidates at scale.
    Output: (id_a, id_b, cosine rounded 4dp)."""
    v = embs.select(
        F.col(id_col).cast("string").alias("id"),
        F.expr(f"transform({vec_col}, x -> cast(x as double))").alias("v"),
    ).withColumn("norm", F.expr("greatest(sqrt(aggregate(v, 0.0d, (a, x) -> a + x * x)), 1e-100d)"))
    a = v.select(F.col("id").alias("id_a"), F.col("v").alias("va"), F.col("norm").alias("na"))
    b = v.select(F.col("id").alias("id_b"), F.col("v").alias("vb"), F.col("norm").alias("nb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn(
            "cosine",
            F.round(
                F.expr("aggregate(zip_with(va, vb, (x, y) -> x * y), 0.0d, (a, x) -> a + x)")
                / (F.col("na") * F.col("nb")),
                4,
            ),
        )
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def semantic_dedup(
    embs: DataFrame, threshold: float = 0.9,
    centroid_stride: int = 50,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al., "SemDeDup: Data-
    efficient learning at web-scale through semantic deduplication",
    arXiv:2303.09540): coarse-cluster the embedding space, then prune
    near-duplicates only WITHIN clusters — pairwise work is (cluster size)^2
    per cluster instead of (corpus)^2, which is what makes embedding dedup
    feasible at web scale.

    Clustering reuses the deterministic sha256-stride centroid pick +
    broadcast-argmin assignment of operators/ann.py:ann_ivf (at 10^12 scale
    the k-means training pass is what you skip first; sampled centroids are
    the standard warm start) — so the whole operator, bucketing included,
    replays value-exactly in the SQL oracle. Falls back to a single cluster
    (exact all-pairs) when the stride pick selects no centroids.

    Drop policy (deterministic first-wins): a doc is dropped iff some
    SMALLER-id member of its cluster has cosine >= threshold with it.
    Output: dropped docs only — (id, cid, dup_of, cosine) where dup_of is the
    smallest such neighbor and cosine its rounded-4dp similarity."""
    v = embs.select(
        F.col(id_col).cast("string").alias("id"),
        F.expr(f"transform({vec_col}, x -> cast(x as double))").alias("v"),
    )
    pick = (
        f"cast(conv(substring(sha2(id, 256), 1, 8), 16, 10) as bigint) "
        f"% {centroid_stride} = 0"
    )
    cents = v.filter(F.expr(pick)).select(F.col("id").alias("cid"), F.col("v").alias("cv"))
    if not cents.take(1):
        assigned = v.withColumn("cid", F.lit("__all__"))
    else:
        dist = "aggregate(zip_with(v, cv, (x, y) -> (x - y) * (x - y)), 0.0d, (a, x) -> a + x)"
        assigned = (
            v.crossJoin(F.broadcast(cents))
            .withColumn("d2", F.expr(dist))
            .groupBy("id")
            .agg(F.min_by(F.struct("cid", "v"), F.struct("d2", "cid")).alias("best"))
            .select("id", F.col("best.cid").alias("cid"), F.col("best.v").alias("v"))
        )
    m = assigned.withColumn("norm", F.expr("greatest(sqrt(aggregate(v, 0.0d, (a, x) -> a + x * x)), 1e-100d)"))
    a = m.select("cid", F.col("id").alias("id_a"), F.col("v").alias("va"), F.col("norm").alias("na"))
    b = m.select("cid", F.col("id").alias("id_b"), F.col("v").alias("vb"), F.col("norm").alias("nb"))
    pairs = (
        a.join(b, "cid")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "cosine",
            F.round(
                F.expr("aggregate(zip_with(va, vb, (x, y) -> x * y), 0.0d, (a, x) -> a + x)")
                / (F.col("na") * F.col("nb")),
                4,
            ),
        )
        .filter(F.col("cosine") >= threshold)
    )
    return (
        pairs.groupBy("id_b", "cid")
        .agg(F.min_by(F.struct("id_a", "cosine"), "id_a").alias("best"))
        .select(
            F.col("id_b").alias("id"),
            "cid",
            F.col("best.id_a").alias("dup_of"),
            F.col("best.cosine").alias("cosine"),
        )
    )


def ngram_containment_pairs(
    docs: DataFrame, threshold: float = 0.9, k: int = 3,
    text_col: str = "text", id_col: str = "doc_id",
    prefix_filter: bool = True,
) -> DataFrame:
    """EXACT set-containment pairs: C(A -> B) = |A intersect B| / |A| >=
    threshold over k-token shingle sets — the asymmetric near-dup case
    Jaccard misses (a short document quoted inside a long one scores
    J ~= |A|/|B| ~= 0 but C = 1). Directed output: (id_a, id_b,
    containment) with id_a the CONTAINED side, id_a != id_b.

    Scale shape mirrors ngram_jaccard_pairs' PPJoin filter, adapted to the
    asymmetric predicate: only the PROBE side (A) is prefix-pruned — if
    C >= t, at most n_a - ceil(t*n_a) of A's shingles miss B, so A's first
    n_a - ceil(t*n_a) + 1 shingles under the global (df, hash) order must
    hit B — while the indexed side keeps its full posting list (containment
    puts no upper bound on |B|, so B cannot be prefix-shortened). Hot
    stop-shingles still sort last and rarely enter a probe prefix, which
    keeps every join key's candidate fan-out bounded; the only size filter
    is n_b >= t * n_a (B must be able to hold t*n_a of A's shingles).
    Verification computes the exact ratio on full shingle arrays.

    ``prefix_filter=False`` keeps the naive full inverted-index join as the
    small-scale oracle for the filter."""
    sh = _with_shingles(docs, k, text_col, id_col)
    sizes = sh.select("id", F.size("shingles").alias("n"))
    inv = sh.select("id", F.explode("shingles").alias("shingle"))
    t = float(threshold)
    if prefix_filter:
        from pyspark.sql.window import Window

        invh = inv.select("id", F.xxhash64("shingle").alias("h"))
        dfreq = invh.groupBy("h").agg(F.count("*").alias("df"))
        ranked = (
            invh.join(dfreq, "h")
            .join(sizes, "id")
            .withColumn(
                "rn",
                F.row_number().over(
                    Window.partitionBy("id").orderBy("df", "h")
                ),
            )
        )
        probe = ranked.filter(
            F.col("rn") <= F.col("n") - F.ceil(F.lit(t) * F.col("n")) + 1
        ).select("id", "h", "n")
        index = ranked.select("id", "h", "n")
        cand = (
            probe.alias("a")
            .join(
                index.alias("b"),
                (F.col("a.h") == F.col("b.h"))
                & (F.col("a.id") != F.col("b.id"))
                & (F.col("b.n") >= F.col("a.n") * F.lit(t)),
            )
            .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
            .distinct()
        )
    else:
        cand = (
            inv.alias("a")
            .join(
                inv.alias("b"),
                (F.col("a.shingle") == F.col("b.shingle"))
                & (F.col("a.id") != F.col("b.id")),
            )
            .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
            .distinct()
        )
    av = sh.select(F.col("id").alias("id_a"), F.col("shingles").alias("sa"))
    bv = sh.select(F.col("id").alias("id_b"), F.col("shingles").alias("sb"))
    return (
        cand.join(av, "id_a")
        .join(bv, "id_b")
        .withColumn(
            "containment",
            F.round(
                F.size(F.array_intersect("sa", "sb")) / F.size("sa"), 6
            ),
        )
        .filter(F.col("containment") >= t)
        .select("id_a", "id_b", "containment")
    )


def pair_metrics(
    gold: DataFrame, cand: DataFrame,
    id_a: str = "id_a", id_b: str = "id_b",
) -> DataFrame:
    """Dedup-candidate calibration: precision / recall / F1 of a candidate
    pair set against a gold pair set (e.g. MinHash-LSH candidates vs the
    exact PPJoin Jaccard join at the same threshold). Turns LSH parameter
    choices (bands, rows, n_perm) into measured numbers — the collision-
    probability algebra in minhash_lsh_pairs' docstring predicts recall;
    this operator verifies it on the actual corpus.

    Scale shape: pair sets are output-sized (candidates, not corpus^2 —
    both producers are bucketed/prefix-filtered); the metric is one
    equi-join on the normalized (a, b) key + three 1-row counts cross-joined
    (broadcast, constant-size). Pairs are order-normalized with
    least/greatest and deduped, so either orientation convention composes.
    Output: one row (n_gold, n_cand, n_hit, precision, recall, f1), ratios
    rounded 6dp — f1 is computed from the UNROUNDED ratios then rounded, so
    the oracle replays it exactly with the same scalar arithmetic.
    """
    def norm(df: DataFrame) -> DataFrame:
        return df.select(
            F.least(F.col(id_a), F.col(id_b)).alias("a"),
            F.greatest(F.col(id_a), F.col(id_b)).alias("b"),
        ).distinct()

    g = norm(gold)
    c = norm(cand)
    ng = g.agg(F.count("*").alias("n_gold"))
    nc = c.agg(F.count("*").alias("n_cand"))
    nh = g.join(c, ["a", "b"]).agg(F.count("*").alias("n_hit"))
    p_raw = F.when(F.col("n_cand") > 0, F.col("n_hit") / F.col("n_cand").cast("double")).otherwise(F.lit(0.0))
    r_raw = F.when(F.col("n_gold") > 0, F.col("n_hit") / F.col("n_gold").cast("double")).otherwise(F.lit(0.0))
    return (
        ng.crossJoin(nh).crossJoin(nc)
        .select(
            "n_gold", "n_cand", "n_hit",
            F.round(p_raw, 6).alias("precision"),
            F.round(r_raw, 6).alias("recall"),
            F.round(
                F.when(
                    p_raw + r_raw > 0, 2.0 * p_raw * r_raw / (p_raw + r_raw)
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("f1"),
        )
    )


def cdc_pairs(
    docs: DataFrame,
    boundary_mod: int = 4,
    min_shared: int = 2,
    max_piece_df: int = 100,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Content-defined-chunking dedup (the rsync/LBFS/ssdeep family): split
    each document into variable-length pieces at CONTENT-derived boundaries
    — after token j whenever sha256(tok[j-1] | tok[j]) % boundary_mod == 0 —
    hash each piece, and pair documents sharing >= min_shared piece hashes.
    Because boundaries depend only on local content, an insertion moves only
    the boundaries around it: the other pieces (and their hashes) survive,
    which is what fixed k-token windows lose when everything downstream of
    an edit shifts by one. The complement to shingle Jaccard / MinHash in
    the dedup family.

    Scale shape: the boundary flag is a per-row expression; the piece index
    is one per-doc window cumsum (keyed by doc_id — uniform); pieces
    re-assemble with a per-(doc, piece) aggregate bounded by piece length;
    candidate pairs come from an equi-join on the 60-bit piece hash. Pieces
    appearing in more than ``max_piece_df`` docs are dropped before the
    self-join (the hot-key guard of every similarity path here: viral
    boilerplate pieces are not dedup evidence, and one such key would emit
    df^2 pairs) — a deterministic, documented policy the oracle replays.

    Output: (id_a, id_b, n_shared) with id_a < id_b.
    """
    from pyspark.sql import Window

    h2 = ("cast(conv(substring(sha2(concat(prev, chr(31), tok), 256), 1, 15), "
          "16, 10) as bigint)")
    toks = (
        docs.select(
            F.col(id_col).cast("long").alias("doc_id"),
            F.posexplode(F.split(F.coalesce(F.col(text_col), F.lit("")), " ")).alias("p0", "tok"),
        )
        .select("doc_id", (F.col("p0") + 1).alias("pos"), "tok")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    flagged = toks.withColumn("prev", F.lag("tok").over(w)).withColumn(
        "boundary",
        F.when(
            F.col("prev").isNotNull() & (F.expr(h2) % boundary_mod == 0), 1
        ).otherwise(0),
    )
    pieced = flagged.withColumn(
        "piece",
        F.sum("boundary").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    phashes = (
        pieced.groupBy("doc_id", "piece")
        .agg(
            F.expr(
                "cast(conv(substring(sha2(concat_ws(' ', "
                "transform(array_sort(collect_list(struct(pos, tok))), x -> x.tok)"
                "), 256), 1, 15), 16, 10) as bigint)"
            ).alias("phash")
        )
        .select("doc_id", "phash")
        .distinct()
    )
    rare = phashes.groupBy("phash").agg(F.count("*").alias("df")).filter(
        F.col("df") <= max_piece_df
    )
    sig = phashes.join(rare.select("phash"), "phash")
    pairs = (
        sig.alias("x")
        .join(sig.alias("y"), "phash")
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .groupBy(
            F.col("x.doc_id").alias("id_a"), F.col("y.doc_id").alias("id_b")
        )
        .agg(F.count("*").cast("long").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )
    return pairs


def normalized_exact_duplicates(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """C4-style normalized exact dedup (Raffel et al. 2020 use per-span
    normalization before exact match; Penedo et al. 2023 / RefinedWeb do the
    same at document level): lowercase, strip every non-[a-z0-9 space]
    character, collapse whitespace runs, trim — then group by the sha256 of
    the normalized form. Catches the trivially-reformatted duplicates
    ("Hello, World!" vs "hello world") that byte-exact dedup misses and that
    MinHash would spend banded shuffles on.

    Reference analog: none (the reference dedups nothing; its loaders at
    back/kgg/loaders.py re-ingest blindly) — this is a training-data-curation
    surface. Scale shape: identical to exact_duplicates — the normalization
    is a pure codegen expression chain on the scan, so the only shuffle is
    the map-side-combinable hash groupBy; no candidate generation, no
    self-join.

    Output: (norm_hash, n_docs, doc_ids_csv) for groups with n_docs > 1.
    """
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(
                F.lower(F.coalesce(F.col(text_col), F.lit(""))),
                "[^a-z0-9 ]", ""),
            " +", " "),
    )
    return (
        docs.select(
            F.sha2(norm, 256).alias("norm_hash"),
            F.col(id_col).cast("string").alias("id"),
        )
        .groupBy("norm_hash")
        .agg(
            F.count("*").alias("n_docs"),
            F.concat_ws(",", F.array_sort(F.collect_list("id"))).alias("doc_ids_csv"),
        )
        .filter(F.col("n_docs") > 1)
    )


def winnow_pairs(
    docs: DataFrame,
    k: int = 4,
    window: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_docs_per_fp: int = 200,
) -> DataFrame:
    """Winnowing fingerprint dedup (Schleimer, Wilkerson & Aiken, SIGMOD'03
    "Winnowing: Local Algorithms for Document Fingerprinting" — the MOSS
    algorithm): hash every k-token gram, slide a window of ``window``
    consecutive gram hashes over the document, and select each window's
    minimum hash as a fingerprint. The guarantee (their Theorem: density
    2/(w+1)) is POSITIONAL: any shared substring of at least k + window - 1
    tokens is caught by at least one shared fingerprint, while storing only
    ~2/(w+1) of the gram hashes — unlike MinHash, which sketches global
    set-resemblance and can miss a single long shared passage between
    otherwise-different documents (that gap is why dd_substring exists; this
    is the sub-linear-state sibling of that exact pass).

    Determinism/portability: the gram hash is the top 10 hex chars of sha256
    (40 bits — bit-identical in DuckDB, same convention as simhash); ties
    inside a window break by LEFTMOST position, made total by packing the
    position into the minimized key (key = hash * 2^20 + pos, positions
    capped at 2^20 docs-tokens — beyond-1M-token docs would need a wider
    pack). The selected fingerprint drops the position again so matching is
    by CONTENT.

    Scale shape: fingerprinting is a pure per-doc codegen expression chain
    (no shuffle); pair generation is an equi-join on fingerprint with a
    hot-fingerprint cap (fingerprints shared by > max_docs_per_fp docs are
    boilerplate — headers/licenses — and are dropped DETERMINISTICALLY
    before the self-join, the same escape hatch as the other dd_* candidate
    generators), so cost tracks candidate volume, never corpus².

    Output: (id_a, id_b, n_shared) — one row per candidate pair with the
    number of shared selected fingerprints.
    """
    ws = f"split({text_col}, ' ')"
    ng = f"(size({ws}) - {k} + 1)"
    # sequence(1, n) DESCENDS when n < 1 (the pmi_collocations trap) — the
    # short-doc case must be an explicit empty array
    keys = (
        f"CASE WHEN size({ws}) < {k} THEN array() ELSE "
        f"transform(sequence(1, {ng}), i -> "
        f"cast(conv(substring(sha2(concat_ws(' ', slice({ws}, i, {k})), 256), 1, 10), 16, 10) as bigint) "
        f"* 1048576 + cast(i - 1 as bigint)) END"
    )
    # n_windows = max(n_grams - window + 1, 1) when any gram exists: a doc
    # shorter than one full window still emits its global minimum (the
    # SIGMOD'03 boundary convention for short documents)
    mins = (
        f"CASE WHEN size(keys) = 0 THEN array() ELSE "
        f"transform(sequence(1, greatest(size(keys) - {window} + 1, 1)), "
        f"j -> array_min(slice(keys, j, {window}))) END"
    )
    fps = (
        docs.select(
            F.col(id_col).cast("string").alias("id"),
            F.expr(keys).alias("keys"),
        )
        .select("id", F.expr(mins).alias("mins"))
        .select(
            "id",
            F.explode(
                F.expr("array_distinct(transform(mins, x -> x div 1048576))")
            ).alias("fp"),
        )
        .distinct()
    )
    rare = (
        fps.groupBy("fp")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") <= max_docs_per_fp)
        .select("fp")
    )
    ff = fps.join(rare, "fp", "left_semi")
    a = ff.alias("a")
    b = ff.select(F.col("id").alias("id_b"), "fp").alias("b")
    return (
        a.join(b, (F.col("a.fp") == F.col("b.fp")) & (F.col("a.id") < F.col("id_b")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("id_b"))
        .agg(F.count("*").cast("long").alias("n_shared"))
    )


def bloom_anti_join(
    incoming: DataFrame,
    seen: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Incremental corpus dedup against an already-ingested 'seen' set,
    Bloom-prefiltered but EXACT: the output is precisely the incoming docs
    whose text is not in the seen set — Bloom false positives cost a
    verification join probe, never a wrong answer.

    The scale argument is the point of the operator: at 100 TB the seen-key
    set is too big to broadcast raw, but its Bloom filter (m/63 longs,
    sketches.py:bloom_build) always broadcasts. Bloom's one-sided guarantee
    (no false negatives) means any doc missing a probe bit is DEFINITELY
    new and skips the join entirely; only the 'maybe-seen' minority — true
    dups plus the ~(1-e^-kn/m)^k false-positive sliver — reaches the exact
    anti-join, so the shuffle is sized by the dup rate, not the corpus.

    Output: (doc_id, path) for every new doc, path = 'bloom' (cleared by a
    missing bit, map-side only) | 'verify' (cleared by the exact
    anti-join). Both the filter and the routing are sha256 arithmetic the
    DuckDB oracle replays bit-for-bit.
    """
    from knowledgegraphbuilder_spark.operators.sketches import (
        BLOOM_K,
        bloom_build,
        bloom_probe,
    )

    inc = incoming.select(
        F.col(id_col).cast("string").alias("id"), F.col(text_col).alias("t")
    )
    sn = seen.select(F.col(text_col).alias("t")).distinct()
    bloom = bloom_build(sn, "t")
    hits = bloom_probe(inc, bloom, "t", id_col="id")
    fast_new = hits.filter(F.col("hits") < BLOOM_K).select(
        "id", F.lit("bloom").alias("path")
    )
    verified_new = (
        hits.filter(F.col("hits") == BLOOM_K)
        .join(inc, "id")
        .join(sn, "t", "left_anti")
        .select("id", F.lit("verify").alias("path"))
    )
    return fast_new.unionByName(verified_new).select(
        F.col("id").alias("doc_id"), "path"
    )


def line_explode(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    words_per_line: int = 8,
) -> DataFrame:
    """Shared pseudo-line reformatter: (doc_id, line_no, line) rows of
    fixed-width ``words_per_line`` whitespace tokens — used by both the
    batch line dedup and the streaming first-wins fold so the two can
    never disagree on line boundaries."""
    wpl = int(words_per_line)
    return docs.select(
        F.col(id_col).cast("long").alias("doc_id"),
        # sequence(0, n-1) DESCENDS when n < 1 (null text under ANSI), the
        # same trap pmi_collocations guards — gate on size >= 1 explicitly
        F.posexplode(
            F.expr(
                f"case when {text_col} is null "
                f"  or size(split({text_col}, ' ')) < 1 then array() else "
                f"transform(sequence(0, cast(ceil(size(split({text_col}, ' ')) "
                f"/ {wpl}.0) as int) - 1), "
                f"i -> array_join(slice(split({text_col}, ' '), "
                f"i * {wpl} + 1, {wpl}), ' ')) end"
            )
        ).alias("line_no", "line"),
    )


def line_dedup_stats(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    words_per_line: int = 8,
) -> DataFrame:
    """C4-style LINE-level dedup (Raffel et al. 2020 §2.2 drop repeated
    three-sentence spans; Penedo et al. 2023 RefinedWeb dedups exact
    lines): across the whole corpus each distinct line survives only at
    its FIRST occurrence — ordered by (doc_id, line_no) — and every later
    copy is removed. The corpus has no newlines, so the canonical
    reformatted view is fixed-width pseudo-lines of ``words_per_line``
    whitespace tokens, which the DuckDB oracle re-derives with the same
    slice arithmetic (boilerplate headers/footers in web text become
    exactly these repeated lines).

    Plan shape: split + one posexplode (rows = total lines, linear in
    corpus), then first-occurrence selection as a window keyed by
    sha256(line) — equality on the hash is equality on the line, and the
    64-hex key bounds shuffle width no matter how long lines get. The
    per-line winner needs a total order, so it is row_number over
    (doc_id, line_no) INSIDE each hash partition — sort cost is per
    duplicate-group, never global. Final per-doc rollup is a map-side
    combinable groupBy on doc_id.

    Output: (doc_id, n_lines, n_kept, n_removed) — all exact BIGINTs.
    """
    from pyspark.sql import Window as W

    lines = line_explode(docs, text_col, id_col, words_per_line)
    w = W.partitionBy(F.sha2(F.col("line"), 256)).orderBy("doc_id", "line_no")
    flagged = lines.select(
        "doc_id",
        (F.row_number().over(w) == 1).cast("int").alias("kept"),
    )
    return flagged.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_lines"),
        F.sum("kept").cast("long").alias("n_kept"),
        (F.count("*") - F.sum("kept")).cast("long").alias("n_removed"),
    )


def editdist1_pairs(
    df: DataFrame,
    key_col: str = "key",
    id_col: str = "doc_id",
    max_bucket: int | None = None,
) -> DataFrame:
    """Typo-level near-dup pairs at edit distance <= 1 via the SymSpell /
    FastSS delete-1 neighborhood: every key emits itself plus each
    delete-one-char variant; two keys at Levenshtein distance <= 1 MUST
    share a variant (equal keys share the key; a substitution at i shares
    the delete-i variant; an insert/delete shares the shorter key
    itself), so a pure equi-join on variant is a provably lossless
    candidate generator. Candidates are verified with the exact
    levenshtein() built-in — the neighborhood over-generates (e.g. 'ab'
    vs 'ba' share variants 'a' and 'b' but are distance 2), which is why
    filter-then-verify is not optional.

    Scale shape: n*(L+1) variant rows for key length L (linear, not
    quadratic), one equi-join on variant, verification only on pairs
    that share a variant. Hot variants (shared boilerplate prefixes)
    can fan out; ``max_bucket`` drops variants whose bucket exceeds the
    cap — lossy and OFF by default, the documented-cap discipline of the
    jaccard/containment paths. ASCII keys only is the caller's contract:
    Spark's levenshtein counts characters while some engines count
    bytes, so non-ASCII keys are where engines diverge.

    Output: (id_a, id_b, dist) with id_a < id_b, dist <= 1, exact.
    """
    kv = df.select(F.col(id_col).alias("id"), F.col(key_col).alias("key"))
    # the key itself + delete-1 variants, deduped per key; sequence()
    # DESCENDS for empty keys under ANSI, so callers enforce length >= 1
    variants = kv.select(
        "id",
        "key",
        F.explode(
            F.expr(
                "array_distinct(concat(array(key), "
                "transform(sequence(1, length(key)), "
                "i -> concat(substring(key, 1, i - 1), "
                "substring(key, i + 1)))))"
            )
        ).alias("v"),
    )
    if max_bucket is not None:
        heavy = (
            variants.groupBy("v")
            .agg(F.count("*").alias("bn"))
            .filter(F.col("bn") > max_bucket)
            .select("v")
        )
        variants = variants.join(F.broadcast(heavy), "v", "left_anti")
    a = variants.select(
        F.col("id").alias("id_a"), F.col("key").alias("key_a"), "v"
    )
    b = variants.select(
        F.col("id").alias("id_b"), F.col("key").alias("key_b"), "v"
    )
    cand = (
        a.join(b, "v")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "key_a", "id_b", "key_b")
        .distinct()
    )
    return cand.filter(
        F.levenshtein("key_a", "key_b") <= 1
    ).select(
        "id_a",
        "id_b",
        F.levenshtein("key_a", "key_b").cast("int").alias("dist"),
    )


def cross_dedup(
    docs: DataFrame,
    side_col: str = "side",
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.9,
    n_perm: int = 32,
    bands: int = 16,
    k: int = 3,
) -> DataFrame:
    """Cross-corpus incremental dedup — the production shape: an
    INCOMING shard (side 'in') is deduplicated AGAINST an existing base
    corpus (side 'base'), never against itself (intra-shard near-dups
    are a separate policy decision and are kept here). An incoming doc
    drops if (a) its sha256(text) already exists in the base — the
    exact path, one broadcast-able distinct-hash semi-join — or (b) it
    is a verified MinHash-LSH near-dup (exact Jaccard >= threshold) of
    any base doc; 'exact' wins the reason tie.

    Scale shape: the exact path is a distinct-hash anti/semi join (the
    dd_exact discipline); the near path reuses minhash_lsh_pairs'
    bucket join — shuffle stays docs x bands — and only CROSS-side
    pairs gate the drop. Output: one row per incoming doc
    (doc_id, kept, reason).
    """
    base_sha = (
        docs.filter(F.col(side_col) == "base")
        .select(F.sha2(F.col(text_col), 256).alias("h"))
        .distinct()
    )
    incoming = docs.filter(F.col(side_col) == "in").select(
        F.col(id_col).cast("string").alias("doc_id"),
        F.sha2(F.col(text_col), 256).alias("h"),
    )
    exact = incoming.join(base_sha, "h", "left_semi").select("doc_id")
    pairs = minhash_lsh_pairs(
        docs, threshold=threshold, n_perm=n_perm, bands=bands, k=k,
        text_col=text_col, id_col=id_col,
    )
    sides = docs.select(
        F.col(id_col).cast("string").alias("id"),
        F.col(side_col).alias("side"),
    )
    tagged = (
        pairs.join(sides.selectExpr("id as id_a", "side as side_a"), "id_a")
        .join(sides.selectExpr("id as id_b", "side as side_b"), "id_b")
        .filter(F.col("side_a") != F.col("side_b"))
    )
    near = (
        tagged.selectExpr(
            "case when side_a = 'in' then id_a else id_b end as doc_id"
        ).distinct()
    )
    return (
        incoming.select("doc_id")
        .join(exact.withColumn("is_exact", F.lit(1)), "doc_id", "left")
        .join(near.withColumn("is_near", F.lit(1)), "doc_id", "left")
        .selectExpr(
            "doc_id",
            "cast(case when is_exact is not null or is_near is not null"
            " then 0 else 1 end as int) as kept",
            "case when is_exact is not null then 'exact'"
            " when is_near is not null then 'near' end as reason",
        )
    )


def dup_rate_by_group(
    docs: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-group exact-duplicate exposure: for each group (source, crawl,
    domain...), how many of its documents have a text whose sha256 appears
    MORE THAN ONCE corpus-wide — the per-source contamination dashboard a
    curation run reads to decide which sources need aggressive dedup
    (a source can be 2% of the corpus and 80% of the duplicates).

    Scale shape: one groupBy(content hash) count (map-side combinable) is
    the corpus-wide dup table; docs re-join it ON THE HASH (equi-join,
    dup-table side is distinct-hash-sized) and one grouped count per
    source follows. Exact integers + one divide.
    """
    d = docs.select(
        F.col(id_col).cast("string").alias("doc_id"),
        F.col(group_col).alias("grp"),
        F.sha2(F.coalesce(F.col(text_col), F.lit("")), 256).alias("h"),
    )
    freq = d.groupBy("h").agg(F.count("*").cast("long").alias("n_h"))
    return (
        d.join(freq, "h")
        .groupBy("grp")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum(F.when(F.col("n_h") > 1, 1).otherwise(0))
            .cast("long").alias("n_dup_docs"),
        )
        .selectExpr(
            "grp", "n_docs", "n_dup_docs",
            "round(cast(n_dup_docs as double) / n_docs, 6) as dup_share",
        )
    )


def dup_cluster_histogram(
    docs: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """Exact-duplicate cluster-size histogram with the byte savings a
    dedup pass would realize: group docs by sha256(text), then group the
    clusters by size — (cluster_size, n_clusters, n_docs, saved_bytes)
    where saved_bytes keeps ONE copy per cluster. The before/after
    storage story a curation report leads with, and the shape check that
    catches a pathological mega-cluster before resolution runs.

    Exactness: all integers (identical texts share one length) + zero
    divides. Scale shape: two map-side-combinable grouped counts; the
    histogram is O(distinct cluster sizes).
    """
    per = (
        docs.select(
            F.sha2(F.coalesce(F.col(text_col), F.lit("")), 256).alias("h"),
            F.length(F.coalesce(F.col(text_col), F.lit("")))
            .cast("long").alias("len"),
        )
        .groupBy("h")
        .agg(
            F.count("*").cast("long").alias("sz"),
            F.first("len").alias("len"),
        )
    )
    return (
        per.groupBy("sz")
        .agg(
            F.count("*").cast("long").alias("n_clusters"),
            F.sum(F.expr("(sz - 1) * len")).cast("long")
            .alias("saved_bytes"),
        )
        .selectExpr(
            "cast(sz as bigint) as cluster_size",
            "n_clusters",
            "cast(sz * n_clusters as bigint) as n_docs",
            "saved_bytes",
        )
    )
