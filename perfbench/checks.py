"""Output checks, run outside the timed window.

- Build and ingest: the triple set must equal the serial oracle's
  (``tests/oracle_serial.run_oracle``) exactly, on the same docs and
  gazetteer, and the mention, relation and node counts must match.
- Serve: a query's ranked documents are recomputed on the driver from the
  collected graph tables (edge index, edges, membership) by an independent
  re-implementation of the retrieval semantics: hash embedding, sign-LSH
  candidate probe, cosine rescoring, weighted personalized PageRank and
  membership-weighted document scores.

Every check returns a list of failure messages; an empty list is a pass.
"""

from __future__ import annotations

import hashlib
import importlib.util
import math
import os
import sys
from decimal import ROUND_HALF_UP, Decimal

import numpy as np

WEIGHT_TOL = 1e-5


def load_oracle(repo_root: str):
    path = os.path.join(repo_root, "tests", "oracle_serial.py")
    spec = importlib.util.spec_from_file_location("oracle_serial", path)
    mod = importlib.util.module_from_spec(spec)
    sys.modules[spec.name] = mod  # dataclasses resolve their module by name
    spec.loader.exec_module(mod)
    return mod


def run_oracle(repo_root: str, inputs) -> dict:
    oracle = load_oracle(repo_root)
    cfg = oracle.OracleConfig(gazetteer=dict(inputs.gazetteer))
    return oracle.run_oracle(inputs.oracle_docs(), cfg)


def check_graph(expected: dict, triples: set, n_mentions: int, n_relations: int,
                n_nodes: int, what: str) -> list[str]:
    fails = []
    if triples != expected["triples"]:
        fails.append(
            f"{what}: triple set differs from the oracle "
            f"(+{len(triples - expected['triples'])} / -{len(expected['triples'] - triples)})"
        )
    for name, got, want in (
        ("mentions", n_mentions, len(expected["mentions"])),
        ("relations", n_relations, len(expected["relations"])),
        ("nodes", n_nodes, len(expected["nodes"])),
    ):
        if got != want:
            fails.append(f"{what}: {name} count {got} != oracle {want}")
    return fails


# -- serve reference ---------------------------------------------------------

def _embed(text: str, dim: int) -> list[float]:
    v = [0.0] * dim
    t = f"^{text}$"
    for i in range(len(t) - 2):
        h = int.from_bytes(hashlib.sha256(t[i : i + 3].encode()).digest()[:8], "big")
        v[h % dim] += 1.0 if (h >> 8) % 2 == 0 else -1.0
    n = math.sqrt(sum(x * x for x in v))
    return [x / n for x in v] if n > 0 else v


def _plane(seed: int, table: int, bit: int, dim: int) -> np.ndarray:
    return np.array([
        int.from_bytes(hashlib.sha256(f"{seed},{table},{bit},{d}".encode()).digest()[:4], "big")
        / 2.0**32 - 0.5
        for d in range(dim)
    ])


def _seq_dot(mat: np.ndarray, vec) -> np.ndarray:
    """Row-wise dot product accumulated left to right, the order Spark's
    ``aggregate(zip_with(...))`` uses, so bucket signs replay exactly."""
    acc = np.zeros(mat.shape[0])
    for d in range(mat.shape[1]):
        acc = acc + mat[:, d] * vec[d]
    return acc


def _round(x: float, places: int) -> float:
    return float(Decimal(repr(x)).quantize(Decimal(1).scaleb(-places), ROUND_HALF_UP))


class ServeReference:
    """Driver-side retrieval over collected tables."""

    def __init__(self, index_rows, edge_rows, membership_rows, cfg, seed: int = 42):
        self.cfg = cfg
        self.ids = [r[0] for r in index_rows]
        self.vecs = np.array([r[1] for r in index_rows], dtype=np.float32).astype(np.float64)
        dim = cfg.embedding_dim
        self.buckets = []
        for t in range(cfg.ann_tables):
            b = np.zeros(len(self.ids), dtype=np.int64)
            for bit in range(cfg.ann_bits):
                b += np.where(_seq_dot(self.vecs, _plane(seed, t, bit, dim)) >= 0, 1 << bit, 0)
            self.buckets.append(b)
        self.planes = [[_plane(seed, t, bit, dim) for bit in range(cfg.ann_bits)]
                       for t in range(cfg.ann_tables)]
        self.norms = np.maximum(np.sqrt(_seq_dot(self.vecs * self.vecs, np.ones(dim))), 1e-100)
        self.edges = {r[0]: (r[1], r[2], float(r[3])) for r in edge_rows}
        self.membership = [(r[0], r[1]) for r in membership_rows]

    def top_edges(self, qv: list[float]) -> list[tuple[str, float]]:
        mask = np.zeros(len(self.ids), dtype=bool)
        for t in range(self.cfg.ann_tables):
            qb = 0
            for bit, plane in enumerate(self.planes[t]):
                if sum(x * float(y) for x, y in zip(qv, plane)) >= 0:
                    qb |= 1 << bit
            mask |= self.buckets[t] == qb
        qn = math.sqrt(sum(x * x for x in qv)) or 1.0
        idx = np.nonzero(mask)[0]
        dots = _seq_dot(self.vecs[idx], qv)
        scored = [(self.ids[i], _round(float(d / (self.norms[i] * qn)), 4))
                  for i, d in zip(idx, dots)]
        scored.sort(key=lambda s: (-s[1], s[0]))
        return scored[: self.cfg.retrieval_k]

    def ppr(self, weights: dict[str, float], sources: set[str]) -> dict[str, float]:
        cfg = self.cfg
        verts = sorted({v for h, t, _ in self.edges.values() for v in (h, t)} | sources)
        pos = {v: i for i, v in enumerate(verts)}
        src, dst, w = [], [], []
        for eid, (h, t, w0) in self.edges.items():
            src.append(pos[h])
            dst.append(pos[t])
            w.append(weights.get(eid, w0))
        src, dst = np.array(src + dst), np.array(dst + src)
        w = np.array(w + w)
        out_w = np.bincount(src, weights=w, minlength=len(verts))
        tw = w / out_w[src]
        p = np.zeros(len(verts))
        for s in sources:
            p[pos[s]] = 1.0 / len(sources)
        r = p.copy()
        for _ in range(cfg.pagerank_max_iter):
            contrib = np.bincount(dst, weights=r[src] * tw, minlength=len(verts))
            r_new = (1 - cfg.pagerank_damping) * p + cfg.pagerank_damping * (
                contrib + r[out_w == 0].sum() * p
            )
            delta = np.abs(r_new - r).sum()
            r = r_new
            if delta < cfg.pagerank_tol:
                break
        return {v: float(r[i]) for i, v in enumerate(verts)}

    def ranked_docs(self, query: str) -> list[tuple[str, float]]:
        top = self.top_edges(_embed(query, self.cfg.embedding_dim))
        weights = {eid: max(score, 1e-6) for eid, score in top}
        sources = {v for eid, _ in top for v in self.edges[eid][:2]}
        ranks = self.ppr(weights, sources)
        doc_w: dict[str, float] = {}
        for node, doc in self.membership:
            if node in ranks:
                doc_w[doc] = doc_w.get(doc, 0.0) + ranks[node]
        return sorted(doc_w.items(), key=lambda d: (-d[1], d[0]))


def check_ranked(got: list[tuple[str, float]], ref: list[tuple[str, float]], k: int,
                 query: str) -> list[str]:
    """The engine's top-k must carry the reference weights, in
    non-increasing order, and no left-out document may beat its last one."""
    fails = []
    if len(got) != k:
        return [f"serve: {query!r} returned {len(got)} docs, expected {k}"]
    ref_w = dict(ref)
    for doc, w in got:
        if doc not in ref_w or abs(ref_w[doc] - w) > WEIGHT_TOL:
            fails.append(f"serve: {query!r} doc {doc} weight {w} != reference {ref_w.get(doc)}")
    if any(a[1] < b[1] for a, b in zip(got, got[1:])):
        fails.append(f"serve: {query!r} ranking is not in descending weight order")
    picked = {d for d, _ in got}
    best_left = next((w for d, w in ref if d not in picked), None)
    if best_left is not None and best_left > got[-1][1] + WEIGHT_TOL:
        fails.append(f"serve: {query!r} left out a document of weight {best_left}")
    return fails
