"""Stored LSH codes (index-time, numpy, in the embedding Arrow pass) are
bit-identical to the in-plan Spark bucketing ``lsh_bucket_expr`` — including
the all-zero vector and projections within 1e-12 of 0, where a summation
order other than Spark's left-to-right fold could flip a sign."""

import math

import numpy as np

from knowledgegraphbuilder_spark.config import KGConfig
from knowledgegraphbuilder_spark.operators.ann import (
    _planes,
    lsh_bucket_expr,
    lsh_code_matrix,
)
from knowledgegraphbuilder_spark.operators.retrieval import index_edges

DIM, BITS, TABLES = 64, 4, 8


def _spark_codes(spark, vecs: np.ndarray) -> list[list[int]]:
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, "i int, embedding array<float>")
    cols = [lsh_bucket_expr("embedding", DIM, BITS, t).alias(f"b{t}") for t in range(TABLES)]
    return [list(r[1:]) for r in sorted(df.select("i", *cols).collect())]


def _near_zero_vectors(n: int) -> np.ndarray:
    """float32 vectors whose projection on one hyperplane cancels to
    rounding level, scaled by 2^-20 (exact) so it lies within 1e-12 of 0."""
    rng = np.random.default_rng(7)
    planes = _planes(DIM, BITS, TABLES, 42)
    out = []
    for i in range(n):
        h = planes[i % len(planes)]
        v = rng.uniform(-1, 1, DIM).astype(np.float32)
        partial = 0.0
        for d in range(DIM - 1):
            partial += float(v[d]) * h[d]
        v[-1] = np.float32(-partial / h[-1])
        out.append(v * np.float32(2.0 ** -20))
    return np.array(out, dtype=np.float32)


# (plane row, v[0], v[63]): float32 pairs whose products on that hyperplane
# cancel to within one double ulp — found by scanning every float32 v[0] in
# [1, 2) against the float32 v[63] nearest to cancellation
_CANCELLING = [(5, 1.1426860094070435, 1.5913702249526978),
               (19, 1.675180196762085, -1.2996841669082642),
               (14, 1.1483572721481323, 5.676695823669434)]


def _order_sensitive_vectors() -> np.ndarray:
    """Vectors whose projection's sign depends on the summation order:
    v[0]*h[0] and v[63]*h[63] cancel to a residual of an ulp or two, and
    the dims between add terms below half an ulp of the first, which a
    left-to-right fold absorbs one by one but any grouping that sums them
    first (np.dot's pairwise/SIMD blocks, an exact sum) does not — their
    total outweighs the residual with the opposite sign."""
    planes = _planes(DIM, BITS, TABLES, 42)
    out = []
    for row, a, z in _CANCELLING:
        h = planes[row]
        t0 = float(np.float32(a)) * h[0]
        resid = t0 + float(np.float32(z)) * h[-1]
        step = -np.sign(resid) * 0.4 * np.spacing(abs(t0)) / 2
        v = np.zeros(DIM, dtype=np.float32)
        v[0], v[-1] = a, z
        n_mid = int(np.ceil(2 * abs(resid) / abs(step))) + 1
        for d in range(1, 1 + n_mid):
            v[d] = np.float32(step / h[d])
        out.append(v * np.float32(2.0 ** -20))
    return np.array(out, dtype=np.float32)


def test_order_sensitive_vectors_flip_under_exact_sum():
    planes = _planes(DIM, BITS, TABLES, 42)
    for (row, _, _), v in zip(_CANCELLING, _order_sensitive_vectors()):
        terms = [float(x) * h for x, h in zip(v, planes[row])]
        seq = 0.0
        for t in terms:
            seq += t
        assert abs(seq) < 1e-12 and (seq >= 0) != (math.fsum(terms) >= 0)


def test_code_matrix_matches_spark_bucketing(spark):
    near = _near_zero_vectors(64)
    planes = _planes(DIM, BITS, TABLES, 42)
    proj = [abs(sum(float(x) * h for x, h in zip(v, planes[i % len(planes)])))
            for i, v in enumerate(near)]
    assert max(proj) < 1e-12
    rng = np.random.default_rng(3)
    vecs = np.vstack([
        np.zeros((1, DIM), dtype=np.float32),
        near,
        _order_sensitive_vectors(),
        rng.standard_normal((64, DIM)).astype(np.float32),
    ])
    got = lsh_code_matrix(vecs.astype(np.float64), BITS, TABLES).tolist()
    assert got == _spark_codes(spark, vecs)
    assert got[0] == [(1 << BITS) - 1] * TABLES  # 0 >= 0 sets every bit


def test_index_edges_stores_spark_identical_codes(spark):
    cfg = KGConfig()
    descs = ["", "customer stream spark", "vector table", "a", "spark spark spark"]
    edges = spark.createDataFrame(
        [(f"e{i}", d) for i, d in enumerate(descs)] + [("enull", None)],
        "edge_id string, description string",
    )
    idx = index_edges(edges, DIM, cfg)
    cols = [lsh_bucket_expr("embedding", DIM, BITS, t) for t in range(TABLES)]
    rows = idx.select("edge_id", "lsh", *cols).collect()
    assert len(rows) == len(descs) + 1
    for r in rows:
        assert list(r["lsh"]) == list(r[2:]), r["edge_id"]
