"""Similarity search over an embedding column (array<float>).

- ``topk_bruteforce``: exact cosine top-k for one query vector — dot product
  via native zip_with/aggregate (JVM, codegen), global top-k is Spark's
  TakeOrderedAndProject (no full sort). The correctness baseline.
- ``topk_bruteforce_batch``: exact top-k for a table of query vectors via a
  crossJoin + per-query window top-k (bench/oracle path; at scale use LSH).
- ``ann_lsh``: random-hyperplane (signed) LSH bucketing — each vector lands
  in ``n_tables`` buckets; a query probes its buckets only, cutting the
  candidate set by ~bucket-count x. Hyperplanes are deterministic
  (seeded hash of (table, bit, dim)), so results are reproducible across runs
  and cluster sizes. A probe compares stored per-table codes (``lsh_codes``).
"""

from __future__ import annotations

import functools
import math
import operator

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def _norm_expr(col: str) -> str:
    # floored at a tiny positive: an all-zero vector has dot 0 with any
    # query, so flooring its norm yields cosine 0.0 instead of an ANSI
    # DIVIDE_BY_ZERO crash (degenerate-input suite, round 4)
    return f"greatest(sqrt(aggregate({col}, 0.0d, (a, x) -> a + x * x)), 1e-100d)"


def _as_double(df: DataFrame, vec_col: str, id_col: str, *keep: str) -> DataFrame:
    return df.select(
        F.col(id_col).cast("string").alias("id"),
        F.expr(f"transform({vec_col}, x -> cast(x as double))").alias("v"),
        *keep,
    )


def _dot(a: str, b: str) -> str:
    """Dot product folded left to right in index order (replayable exactly)."""
    return f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0.0d, (a, x) -> a + x)"


def _cosine(a: str, b: str) -> F.Column:
    """Cosine of two double-array columns, rounded 4dp."""
    return F.round(F.expr(_dot(a, b)) / (F.expr(_norm_expr(a)) * F.expr(_norm_expr(b))), 4)


def _topk_per_query(scored: DataFrame, k: int) -> DataFrame:
    """(query_id, id, score, rank): each query's k best, ties broken on id."""
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.col("id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "id", "score", "rank")
    )


def cosine_scores(embs: DataFrame, query: list[float],
                  id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """(id, score): cosine similarity of every vector to the literal query."""
    q = [float(x) for x in query]
    qn = math.sqrt(sum(x * x for x in q)) or 1.0
    qlit = "array(" + ", ".join(f"{x!r}d" for x in q) + ")"
    v = _as_double(embs, vec_col, id_col)
    return v.select(
        "id",
        F.round(F.expr(_dot("v", qlit)) / (F.expr(_norm_expr("v")) * F.lit(qn)), 4).alias("score"),
    )


def topk_bruteforce(embs: DataFrame, query: list[float], k: int = 10,
                    id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Exact top-k by cosine; deterministic tie-break on id."""
    return (
        cosine_scores(embs, query, id_col, vec_col)
        .orderBy(F.desc("score"), F.col("id"))
        .limit(k)
    )


def topk_bruteforce_batch(embs: DataFrame, queries: DataFrame, k: int = 10,
                          id_col: str = "vec_id", vec_col: str = "embedding",
                          qid_col: str = "query_id", qvec_col: str = "embedding") -> DataFrame:
    """Exact per-query top-k: (query_id, id, score, rank)."""
    v = _as_double(embs, vec_col, id_col).withColumn("nv", F.expr(_norm_expr("v")))
    q = queries.select(
        F.col(qid_col).cast("string").alias("query_id"),
        F.expr(f"transform({qvec_col}, x -> cast(x as double))").alias("qv"),
    ).withColumn("nq", F.expr(_norm_expr("qv")))
    scored = v.crossJoin(F.broadcast(q)).select(
        "query_id", "id",
        F.round(F.expr(_dot("v", "qv")) / (F.col("nv") * F.col("nq")), 4).alias("score"),
    )
    return _topk_per_query(scored, k)


def ann_lsh_batch(
    embs: DataFrame, queries: DataFrame, k: int = 10,
    dim: int | None = None, n_bits: int = 8, n_tables: int = 4, seed: int = 42,
    id_col: str = "vec_id", vec_col: str = "embedding",
    qid_col: str = "query_id", qvec_col: str = "embedding",
) -> DataFrame:
    """Batched LSH probe: per-query approximate top-k without ever scoring
    the full corpus per query. Output schema == topk_bruteforce_batch
    (query_id, id, score, rank).

    Scale shape (the FAISS-index-probe analog, back/kgg/retriever.py:62-68 —
    every query hits the index, not the corpus): ONE scan of the corpus
    posexplodes each vector's codes (``lsh_codes``: stored at index time,
    else derived in-plan) into (table, bucket) int rows; the tiny query
    table gets the same treatment and is broadcast, so candidates come from
    an equi-join on (table, bucket) — the corpus-sized crossJoin of
    topk_bruteforce_batch never happens. A vector matching a query in
    several tables is deduped by the (query_id, id) aggregate, which also
    carries the two vectors to the exact cosine rescore (the candidate set
    is bucket-sized; re-joining the full corpus for vectors would shuffle
    far more). Buckets are the same sha256-derived hyperplanes as ann_lsh,
    so the whole approximate result replays in the SQL oracle."""
    if dim is None:
        dim = len(queries.select(qvec_col).first()[0])
    bucketed = lsh_codes(embs, dim, n_bits, n_tables, seed, id_col, vec_col).select(
        "id", "v", F.posexplode("lsh").alias("t", "bucket")
    )
    q_bucketed = lsh_codes(queries, dim, n_bits, n_tables, seed, qid_col, qvec_col).select(
        F.col("id").alias("query_id"), F.col("v").alias("qv"),
        F.posexplode("lsh").alias("t", "bucket"),
    )
    cands = (
        bucketed.join(F.broadcast(q_bucketed), ["t", "bucket"])
        .groupBy("query_id", "id")
        .agg(F.first("v").alias("v"), F.first("qv").alias("qv"))
    )
    return _topk_per_query(cands.select("query_id", "id", _cosine("v", "qv").alias("score")), k)


def hyperplane(seed: int, table: int, bit: int, dim: int) -> list[float]:
    """Deterministic pseudo-random hyperplane, sha256-derived.

    Component (seed, table, bit, d) = uniform(-0.5, 0.5) from the top 32 bits
    of sha256 of the coordinate key. Sign-LSH only needs a symmetric component
    distribution, and sha256 is bit-identical in DuckDB — so the exact bucket
    assignment (and therefore the full approximate result) is replayable in
    the SQL oracle, not just bounded by a recall proxy. Not normalized: scale
    does not change the sign of a dot product."""
    import hashlib

    return [
        int.from_bytes(
            hashlib.sha256(f"{seed},{table},{bit},{d}".encode()).digest()[:4], "big"
        ) / 2.0**32 - 0.5
        for d in range(dim)
    ]


def lsh_bucket_expr(vec_col: str, dim: int, n_bits: int, table: int, seed: int = 42) -> F.Column:
    """Signed-random-projection bucket id for one LSH table (native exprs)."""
    bits = []
    for b in range(n_bits):
        h = hyperplane(seed, table, b, dim)
        hl = "array(" + ", ".join(f"{x!r}d" for x in h) + ")"
        bits.append(
            f"(case when aggregate(zip_with({vec_col}, {hl}, (x, y) -> cast(x as double) * y), "
            f"0.0d, (a, x) -> a + x) >= 0 then {1 << b} else 0 end)"
        )
    return F.expr(" + ".join(bits)).cast("int")


@functools.lru_cache(maxsize=8)
def _planes(dim: int, n_bits: int, n_tables: int, seed: int) -> np.ndarray:
    """All hyperplanes as a (n_tables * n_bits, dim) matrix; row t * n_bits + b."""
    return np.array([hyperplane(seed, t, b, dim)
                     for t in range(n_tables) for b in range(n_bits)])


def lsh_code_matrix(vecs, n_bits: int, n_tables: int, seed: int = 42) -> np.ndarray:
    """(n, n_tables) int32 bucket ids of n vectors — bit-identical to
    ``lsh_bucket_expr`` on the same (double) components. Each projection is
    summed left to right over the dimensions, 0.0 + x0*h0 + x1*h1 + ..., the
    order Spark's ``aggregate(zip_with(...))`` folds in; ``np.dot`` would sum
    pairwise/SIMD and could flip a sign near 0. One vectorized step per
    dimension, so an Arrow batch of vectors costs a few numpy ops."""
    vecs = np.asarray(vecs, dtype=np.float64)
    n, dim = vecs.shape
    planes = _planes(dim, n_bits, n_tables, seed)
    acc = np.zeros((n, len(planes)))
    for d in range(dim):
        acc += vecs[:, d:d + 1] * planes[:, d]
    bits = (acc >= 0).reshape(n, n_tables, n_bits)
    return (bits << np.arange(n_bits)).sum(axis=2).astype(np.int32)


def lsh_params(dim: int, n_bits: int, n_tables: int, seed: int, vec_col: str) -> dict:
    """Column metadata that marks stored codes with what they were built
    under; ``lsh_codes`` reads stored codes only when this matches."""
    return {"lsh": {"vec_col": vec_col, "dim": dim, "n_bits": n_bits,
                    "n_tables": n_tables, "seed": seed}}


def lsh_codes(
    embs: DataFrame, dim: int, n_bits: int, n_tables: int, seed: int = 42,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """(id, v, lsh): string ids, double vectors and ``lsh`` array<int>, one
    bucket id per table — the one bucketing step every LSH operator shares.

    An index that stores its codes (``lsh`` tagged by ``lsh_params`` with the
    same vector column, dim, bits, tables and seed, as index_edges writes)
    is read as is. Anything else (ad-hoc tables, raw embeddings, streamed
    batches, or an index built under other parameters) gets its codes
    derived in-plan from ``lsh_bucket_expr`` — never stale codes. A caller
    that replaces the vector column of a coded table must drop ``lsh``."""
    if "lsh" in embs.columns and (
        embs.schema["lsh"].metadata == lsh_params(dim, n_bits, n_tables, seed, vec_col)
    ):
        return _as_double(embs, vec_col, id_col, "lsh")
    return _as_double(embs, vec_col, id_col).withColumn("lsh", F.array(*[
        lsh_bucket_expr("v", dim, n_bits, t, seed) for t in range(n_tables)
    ]))


def lsh_probe(query: list[float], n_bits: int, n_tables: int, seed: int = 42) -> F.Column:
    """Candidate predicate for one query vector over the ``lsh`` array<int>
    column (one code per table, as ``lsh_codes`` emits): a row matches iff
    its code equals the query's in ANY table — int compares only."""
    qb = lsh_code_matrix([[float(x) for x in query]], n_bits, n_tables, seed)[0]
    return functools.reduce(
        operator.or_, (F.col("lsh")[t] == int(b) for t, b in enumerate(qb))
    )


def ann_lsh(
    embs: DataFrame, query: list[float], k: int = 10,
    dim: int | None = None, n_bits: int = 8, n_tables: int = 4, seed: int = 42,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: probe only the query's LSH buckets (union over
    tables), exact-rescore the candidates. Output schema == topk_bruteforce.

    The probe is ONE scan with a single OR-of-int-equalities Filter
    (``lsh_probe``) over the codes: index_edges stores them (computed at
    index time, in the Arrow pass that embeds the text), so a question costs
    n_tables int compares per indexed row and a cosine per candidate; other
    inputs derive them in-plan (``lsh_codes``), projecting every vector per
    probe. A per-table scan-and-union would recompute the (possibly
    expensive, e.g. embedding-UDF-backed) input once per table and need a
    dedup shuffle."""
    dim = dim or len(query)
    cands = lsh_codes(embs, dim, n_bits, n_tables, seed, id_col, vec_col).filter(
        lsh_probe(query, n_bits, n_tables, seed)
    )
    return (
        cosine_scores(cands.withColumnRenamed("v", "embedding"), query, "id", "embedding")
        .orderBy(F.desc("score"), F.col("id"))
        .limit(k)
    )


def ann_ivf(
    embs: DataFrame, query: list[float], k: int = 10,
    centroid_stride: int = 50, nprobe: int = 4,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """IVF (inverted-file) ANN: coarse-quantize every vector to its nearest
    centroid, probe only the ``nprobe`` centroid cells nearest to the query,
    exact-rescore the cell members. Output schema == topk_bruteforce.

    The centroid set is a deterministic hash subsample (~1/``centroid_stride``
    of ids, picked by a sha256 condition — a narrow filter, NO global window
    or sort) rather than k-means: at 10^12 scale the training pass is what
    you skip first, sampled centroids are the standard warm-start, and the
    sha256 pick makes the whole operator value-replayable in the SQL oracle.
    Assignment is a broadcast argmin (centroid table is tiny); the probe
    prunes the scan to ~nprobe/n_cells of the corpus. Distance ties break on
    centroid id (deterministic).
    """
    v = _as_double(embs, vec_col, id_col)
    pick = (
        f"cast(conv(substring(sha2(id, 256), 1, 8), 16, 10) as bigint) "
        f"% {centroid_stride} = 0"
    )
    cents = v.filter(F.expr(pick)).select(F.col("id").alias("cid"), F.col("v").alias("cv"))
    # nearest centroid per vector: broadcast-join + min_by on L2 distance
    dist = "aggregate(zip_with(v, cv, (x, y) -> (x - y) * (x - y)), 0.0d, (a, x) -> a + x)"
    assigned = (
        v.crossJoin(F.broadcast(cents))
        .withColumn("d2", F.expr(dist))
        .groupBy("id")
        .agg(
            F.min_by(F.struct("cid", "v"), F.struct("d2", "cid")).alias("best")
        )
        .select("id", F.col("best.cid").alias("cid"), F.col("best.v").alias("v"))
    )
    # the query's nprobe nearest centroid cells (tiny table -> driver)
    qlit = "array(" + ", ".join(f"{float(x)!r}d" for x in query) + ")"
    qd = f"aggregate(zip_with(cv, {qlit}, (x, y) -> (x - y) * (x - y)), 0.0d, (a, x) -> a + x)"
    probe = [
        r["cid"]
        for r in cents.withColumn("qd2", F.expr(qd))
        .orderBy("qd2", "cid").limit(nprobe).collect()
    ]
    if not probe:
        # corpus smaller than ~centroid_stride -> the stride pick can select
        # zero centroids; answer exactly instead of returning nothing
        return topk_bruteforce(embs, query, k=k, id_col=id_col, vec_col=vec_col)
    cands = assigned.filter(F.col("cid").isin(probe)).select("id", "v")
    return (
        cosine_scores(cands.withColumnRenamed("v", "embedding"), query, "id", "embedding")
        .orderBy(F.desc("score"), F.col("id"))
        .limit(k)
    )


def ann_ivf_batch(
    embs: DataFrame, queries: DataFrame, k: int = 10,
    centroid_stride: int = 50, nprobe: int = 4,
    id_col: str = "vec_id", vec_col: str = "embedding",
    qid_col: str = "query_id", qvec_col: str = "embedding",
) -> DataFrame:
    """Batched IVF probe: one coarse quantization of the corpus serves every
    query; each query exact-rescores only its ``nprobe`` nearest centroid
    cells. Output schema == topk_bruteforce_batch (query_id, id, score, rank).

    Scale shape: the assignment pass (broadcast argmin over the sampled
    centroid table) is query-independent — amortized across the whole batch;
    the per-query work is a tiny queries x centroids broadcast product plus
    an equi-join on cell id, never a corpus x queries expansion. Same
    sha256-sampled centroids as ann_ivf, so the batch result replays in the
    SQL oracle. Falls back to the exact batch scan when the stride pick
    selects no centroids (corpus smaller than ~centroid_stride)."""
    v = _as_double(embs, vec_col, id_col)
    pick = (
        f"cast(conv(substring(sha2(id, 256), 1, 8), 16, 10) as bigint) "
        f"% {centroid_stride} = 0"
    )
    cents = v.filter(F.expr(pick)).select(F.col("id").alias("cid"), F.col("v").alias("cv"))
    if not cents.limit(1).count():
        return topk_bruteforce_batch(
            embs, queries, k, id_col=id_col, vec_col=vec_col,
            qid_col=qid_col, qvec_col=qvec_col,
        )
    dist = "aggregate(zip_with(v, cv, (x, y) -> (x - y) * (x - y)), 0.0d, (a, x) -> a + x)"
    assigned = (
        v.crossJoin(F.broadcast(cents))
        .withColumn("d2", F.expr(dist))
        .groupBy("id")
        .agg(F.min_by(F.struct("cid", "v"), F.struct("d2", "cid")).alias("best"))
        .select("id", F.col("best.cid").alias("cid"), F.col("best.v").alias("v"))
    )
    q = queries.select(
        F.col(qid_col).cast("string").alias("query_id"),
        F.expr(f"transform({qvec_col}, x -> cast(x as double))").alias("qv"),
    )
    qdist = "aggregate(zip_with(qv, cv, (x, y) -> (x - y) * (x - y)), 0.0d, (a, x) -> a + x)"
    w_probe = Window.partitionBy("query_id").orderBy("d2", "cid")
    probe = (
        q.crossJoin(F.broadcast(cents))
        .withColumn("d2", F.expr(qdist))
        .withColumn("rn", F.row_number().over(w_probe))
        .filter(F.col("rn") <= nprobe)
        .select("query_id", "cid", "qv")
    )
    cands = assigned.join(F.broadcast(probe), "cid").select("query_id", "id", "v", "qv")
    return _topk_per_query(cands.select("query_id", "id", _cosine("v", "qv").alias("score")), k)


def ann_pq(
    embs: DataFrame, query: list[float], k: int = 10,
    m: int = 8, centroid_stride: int = 50, shortlist: int = 50,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Product-quantization ANN (Jegou et al. 2011): split each vector into
    ``m`` subvectors, quantize every subvector to a per-subspace codebook,
    rank by the ADC (asymmetric-distance) score — the sum over subspaces of
    dot(query_subvector, chosen codeword) — then exact-rescore the top
    ``shortlist`` candidates. Output schema == topk_bruteforce.

    Why this is the 100 TB memory path: the scan that ranks 10^12 vectors
    touches m 1-byte codes per vector instead of 64 floats (32x smaller),
    and the score is m lookups into a broadcast (m x |codebook|) table of
    precomputed query partial dots — no float vector ever shuffles.

    Oracle-replayability, same recipe as ann_ivf: codebooks are the
    sha256-stride-picked vectors' own subvectors (deterministic, no trained
    k-means), assignment argmin ties break on codeword id, and the ADC sum
    is pivoted to fixed columns pd0..pd{m-1} added in index order — never a
    float SUM over shuffled rows, whose low bits would depend on partition
    order. Falls back to exact brute force when the stride picks no
    codewords (corpus < ~centroid_stride)."""
    v = _as_double(embs, vec_col, id_col)
    pick = (
        f"cast(conv(substring(sha2(id, 256), 1, 8), 16, 10) as bigint) "
        f"% {centroid_stride} = 0"
    )
    cents = v.filter(F.expr(pick)).select(
        F.col("id").alias("cid"), F.col("v").alias("ce")
    )
    if not cents.take(1):
        return topk_bruteforce(embs, query, k=k, id_col=id_col, vec_col=vec_col)
    dims = len(query)
    if dims % m:
        raise ValueError(f"query dim {dims} not divisible by m={m}")
    ds = dims // m

    # codebook: (j, cid, cw) — subspace j's codewords
    cb = cents.select(
        "cid",
        F.explode(F.expr(
            f"transform(sequence(0, {m - 1}), j -> named_struct("
            f"'j', j, 'cw', slice(ce, j * {ds} + 1, {ds})))"
        )).alias("s"),
    ).select(F.col("s.j").alias("j"), "cid", F.col("s.cw").alias("cw"))

    # encode: per (id, j) argmin L2 over the subspace's codewords
    vm = v.select(
        "id",
        F.explode(F.expr(
            f"transform(sequence(0, {m - 1}), j -> named_struct("
            f"'j', j, 'vs', slice(v, j * {ds} + 1, {ds})))"
        )).alias("s"),
    ).select("id", F.col("s.j").alias("j"), F.col("s.vs").alias("vs"))
    d2 = ("aggregate(zip_with(vs, cw, (x, y) -> (x - y) * (x - y)), "
          "0.0d, (a, x) -> a + x)")
    codes = (
        vm.join(F.broadcast(cb), "j")
        .withColumn("d2", F.expr(d2))
        .groupBy("id", "j")
        .agg(F.min_by("cid", F.struct("d2", "cid")).alias("cid"))
    )

    # ADC table: query partial dot per (j, codeword) — |cb| rows, broadcast
    qlit = "array(" + ", ".join(f"{float(x)!r}d" for x in query) + ")"
    qpd = cb.select(
        "j", "cid",
        F.expr(
            f"aggregate(zip_with(cw, slice({qlit}, j * {ds} + 1, {ds}), "
            f"(x, y) -> x * y), 0.0d, (a, x) -> a + x)"
        ).alias("pd"),
    )
    pivots = [
        F.max(F.when(F.col("j") == i, F.col("pd"))).alias(f"pd{i}")
        for i in range(m)
    ]
    adc_sum = F.col("pd0")
    for i in range(1, m):
        adc_sum = adc_sum + F.col(f"pd{i}")
    cand = (
        codes.join(F.broadcast(qpd), ["j", "cid"])
        .groupBy("id")
        .agg(*pivots)
        .withColumn("adc", adc_sum)
        .orderBy(F.desc("adc"), F.col("id"))
        .limit(int(shortlist))
        .select("id")
    )
    return (
        cosine_scores(
            v.join(cand, "id").withColumnRenamed("v", "embedding"),
            query, "id", "embedding",
        )
        .orderBy(F.desc("score"), F.col("id"))
        .limit(k)
    )


def knn_graph(
    embs: DataFrame, k: int = 5,
    dim: int | None = None, n_bits: int = 4, n_tables: int = 8, seed: int = 42,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Approximate k-nearest-neighbor GRAPH over the whole embedding corpus:
    every vector gets (up to) its k nearest bucket-mates by cosine — the
    substrate for kNN-graph dedup clustering, label propagation over
    semantic neighborhoods, and graph-based retrieval (NN-Descent's target
    structure, built here in one declarative pass instead of iterative
    refinement).

    Scale shape: NEVER corpus x corpus. One scan emits each vector's
    (table, bucket) signature rows (corpus x n_tables); candidates are a
    self-equi-join on (table, bucket) — cost tracks bucket occupancy, the
    same shape as dedup.embedding_cosine_pairs_lsh. The exact cosine is
    computed MAP-SIDE inside the join projection and the vectors are
    dropped before any shuffle: a pair seen in several tables recomputes
    the (cheap, deterministic) score per sighting, and the dedup is a
    distinct over slim (src, dst, score) rows — ~24 bytes — instead of a
    groupBy dragging two dim-sized double arrays per candidate through the
    exchange (measured 2 GB or GC collapse at bench scale, vs KBs slim).
    Then a per-src row_number window keeps k; it partitions by src
    (corpus-wide key, parallel), not a global sort. Recall is the LSH
    union-over-tables guarantee; misses are vectors sharing no bucket in
    any table (tunable via n_bits/n_tables, same knobs as ann_lsh).

    Output: (src, dst, score, rank) — directed; src/dst are id strings,
    score is cosine rounded 4dp, rank 1..k per src (desc score, asc dst).
    Replayable value-exactly in SQL: buckets come from the sha256-derived
    hyperplanes (``hyperplane``), so the oracle rebuilds the same graph.
    """
    if dim is None:
        first = embs.select(vec_col).first()
        if first is None:
            # empty corpus: the kNN graph is empty, with the same schema —
            # empty partitions/filter results must flow through at scale
            return embs.sparkSession.createDataFrame(
                [], "src string, dst string, score double, rank int"
            )
        dim = len(first[0])
    bucketed = lsh_codes(embs, dim, n_bits, n_tables, seed, id_col, vec_col).select(
        "id", "v", F.posexplode("lsh").alias("t", "bucket")
    )
    rhs = bucketed.select(
        F.col("id").alias("dst"), F.col("v").alias("dv"), "t", "bucket"
    )
    scored = (
        bucketed.join(rhs, ["t", "bucket"])
        .filter(F.col("id") != F.col("dst"))
        .select(
            F.col("id").alias("src"),
            "dst",
            _cosine("v", "dv").alias("score"),
        )
        .distinct()
    )
    w = Window.partitionBy("src").orderBy(F.desc("score"), F.col("dst"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("src", "dst", "score", "rank")
    )


def recall_at_k(exact: DataFrame, approx: DataFrame) -> DataFrame:
    """Per-query ANN quality metrics: recall@k and MRR of an approximate
    ranking against the exact brute-force ranking. Both inputs use the
    batch-ANN contract (query_id, id, score, rank) — any pair of rankers
    with that shape composes (LSH vs exact, IVF vs exact, PQ vs exact), so
    index-parameter sweeps (n_bits, n_tables, nprobe) become measured
    recall/latency trade-offs instead of folklore. The calibration loop the
    reference's fixed FAISS index never exposes (back/kgg/retriever.py).

    Scale shape: both inputs are queries x k rows — tiny however big the
    corpus; the expensive part is producing them (the rankers' job). The
    metric itself is two equi-joins on (query_id, id) + per-query count/min
    aggs, all map-side combinable. recall = |approx ∩ exact| / |exact|;
    mrr = 1 / min(approx rank that hits the exact set), 0.0 when the
    approximate ranker misses entirely (both rounded 6dp for oracle replay).
    """
    e = exact.select("query_id", "id")
    a = approx.select("query_id", "id", "rank")
    base = e.groupBy("query_id").agg(F.count("*").alias("n_exact"))
    joined = a.join(e, ["query_id", "id"])
    hits = joined.groupBy("query_id").agg(
        F.count("*").alias("n_hit_raw"), F.min("rank").alias("first_rank")
    )
    return (
        base.join(hits, "query_id", "left")
        .select(
            "query_id",
            "n_exact",
            F.coalesce("n_hit_raw", F.lit(0).cast("long")).alias("n_hit"),
            F.round(
                F.coalesce("n_hit_raw", F.lit(0).cast("long"))
                / F.col("n_exact").cast("double"),
                6,
            ).alias("recall"),
            F.coalesce(
                F.round(F.lit(1.0) / F.col("first_rank").cast("double"), 6),
                F.lit(0.0),
            ).alias("mrr"),
        )
    )


def scalar_quantize(
    embs: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Int8 scalar quantization (the FAISS SQ8 storage trick): per-DIMENSION
    corpus min/max define a linear 0..255 code for every coordinate — 4x
    smaller vectors (and 8x vs double) with bounded reconstruction error,
    which is how a 100 TB float corpus becomes a 25 TB index. Emits the
    per-vector code string plus the exact reconstruction MSE, so the
    compression-vs-error trade-off is a measured column, not a hope.

    Scale shape: the per-dim stats are ONE map-side-combinable aggregate
    (2*dim scalars however big the corpus), broadcast back as literal
    arrays; coding and the MSE are pure per-row array expressions (codegen,
    no shuffle, no UDF). Determinism: floor(x + 0.5) rounding (identical in
    both engines — no banker's-rounding ambiguity), constant-dimension
    degenerate case codes to 0 via the 1e-100 scale floor, MSE folds the
    array in INDEX order (not shuffle order) and is rounded 10dp.

    Output: (id, codes: '12,0,...,255', mse).
    """
    if dim is None:
        dim = len(embs.select(vec_col).first()[0])
    v = _as_double(embs, vec_col, id_col)
    stats = v.agg(
        F.array(*[F.min(F.expr(f"v[{d}]")) for d in range(dim)]).alias("mins"),
        F.array(*[
            F.expr(
                f"greatest((max(v[{d}]) - min(v[{d}])) / 255.0d, 1e-100d)"
            )
            for d in range(dim)
        ]).alias("scales"),
    )
    code = (
        "transform(sequence(0, {n}), i -> cast(least(greatest("
        "floor((v[i] - mins[i]) / scales[i] + 0.5d), 0.0d), 255.0d) as int))"
    ).format(n=dim - 1)
    recon_err = (
        "aggregate(transform(sequence(0, {n}), i -> "
        "(v[i] - (mins[i] + cast(codes[i] as double) * scales[i])) "
        "* (v[i] - (mins[i] + cast(codes[i] as double) * scales[i]))), "
        "0.0d, (a, x) -> a + x) / {dim}.0d"
    ).format(n=dim - 1, dim=dim)
    return (
        v.crossJoin(F.broadcast(stats))
        .withColumn("codes", F.expr(code))
        .select(
            "id",
            F.expr("array_join(codes, ',')").alias("codes"),
            F.round(F.expr(recon_err), 10).alias("mse"),
        )
    )


def topk_mips(embs: DataFrame, query: list[float], k: int = 10,
              id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Exact top-k by MAX INNER PRODUCT (no normalization) — the
    recommendation-scoring variant of topk_bruteforce: a two-tower
    retrieval model ranks by raw dot product, where a vector's magnitude
    IS part of the signal, so cosine top-k returns the wrong items. Same
    one-scan shape as the cosine path (the query broadcasts as a literal
    array; every score is a map-side fold); at scale this is the exact
    rescorer behind a norm-augmented LSH probe (the
    [x, sqrt(M^2-|x|^2)] reduction of MIPS to cosine keeps the plan of
    ann_lsh unchanged). Deterministic tie-break on id.

    Output: (id, dot) with the dot product rounded 4dp.
    """
    qlit = "array(" + ", ".join(f"{float(x)!r}d" for x in query) + ")"
    v = _as_double(embs, vec_col, id_col)
    return (
        v.select(
            "id",
            F.round(F.expr(_dot("v", qlit)), 4).alias("dot"),
        )
        .orderBy(F.desc("dot"), F.col("id"))
        .limit(k)
    )


def range_search(embs: DataFrame, query: list[float], threshold: float,
                 id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Radius (range) search: ALL vectors whose cosine to the query is >=
    ``threshold`` — the dedup/recall-sweep companion to top-k (a top-k
    cannot answer "everything at least this similar", and a
    near-duplicate audit needs the full ball, not the k best). One corpus
    scan, map-side scores, the filter prunes before any shuffle; output
    is result-sized, ordered nowhere (a ball has no rank).

    Output: (id, score) for every hit.
    """
    return cosine_scores(embs, query, id_col, vec_col).filter(
        F.col("score") >= threshold
    )


def topk_filtered(embs: DataFrame, query: list[float], predicate,
                  k: int = 10, id_col: str = "vec_id",
                  vec_col: str = "embedding") -> DataFrame:
    """Predicate-FILTERED exact top-k by cosine — the metadata-filtered
    vector search every production vector store exposes ("top-k most
    similar docs WHERE lang = 'en' AND source = 'web'"): ``predicate``
    is any Column/SQL-string filter over the embedding table's metadata
    columns.

    Plan contract (pre-filter, not post-filter): the predicate is applied
    BEFORE scoring, so Catalyst pushes it into the parquet scan
    (PushedFilters) and only the surviving fraction pays the
    dot-product fold — at 100 TB a 1% selective filter makes this 100x
    cheaper than top-k-then-filter, and unlike post-filtering it can
    never return fewer than k hits when k matches exist. Same one-scan
    map-side shape as topk_bruteforce; deterministic tie-break on id.

    Output: (id, score), score rounded 4dp.
    """
    flt = embs.filter(predicate)
    return topk_bruteforce(flt, query, k=k, id_col=id_col, vec_col=vec_col)
