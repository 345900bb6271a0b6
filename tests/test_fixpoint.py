"""Cap-hit behaviour of the graph operators' loops, one case per loop family.

Every convergence loop runs on ``functions.fixpoint.fixpoint`` and every
frontier loop on ``bfs_levels``. A round cap below what the input needs
must raise RuntimeError or still return the true answer — never the state
the last allowed round left.
"""

import pytest

from knowledgegraphbuilder_spark.operators.canonicalize import connected_components
from knowledgegraphbuilder_spark.operators.graphstats import (
    bipartite_check,
    coreness,
    k_core,
    k_truss,
    strongly_connected_components,
)


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src string, dst string")


def _path(n):
    return [(f"v{i:02d}", f"v{i + 1:02d}") for i in range(n - 1)]


def _raises_or_returns(call, want):
    try:
        got = call()
    except RuntimeError:
        return
    assert got == want


def test_kcore_cap_hit(spark):
    # peeling a 12-node path to its (empty) 2-core takes 6 rounds
    e = _edges(spark, _path(12))
    _raises_or_returns(lambda: k_core(e, k=2, max_rounds=2).collect(), [])


def test_coreness_cap_hit(spark):
    # every node of a path has coreness 1; the k=2 peel takes 5 rounds
    e = _edges(spark, _path(10))
    want = {f"v{i:02d}": 1 for i in range(10)}
    _raises_or_returns(
        lambda: {r["node"]: r["coreness"] for r in coreness(e, max_rounds=2).collect()},
        want,
    )


def test_coreness_raises_past_max_k(spark):
    # K5 has degeneracy 4: its levels run past max_k=2
    nodes = "abcde"
    e = _edges(spark, [(x, y) for x in nodes for y in nodes if x < y])
    with pytest.raises(RuntimeError, match="max_k=2"):
        coreness(e, max_k=2).collect()


def test_ktruss_cap_hit(spark):
    # the 4-truss (support >= 2) of this graph is the K4 on v2..v5; peeling
    # reaches it in 3 changing rounds
    e = _edges(spark, [
        ("v0", "v1"), ("v0", "v2"), ("v0", "v4"), ("v0", "v6"), ("v1", "v3"),
        ("v1", "v6"), ("v2", "v3"), ("v2", "v4"), ("v2", "v5"), ("v3", "v4"),
        ("v3", "v5"), ("v3", "v6"), ("v4", "v5"), ("v4", "v6"),
    ])
    k4 = [("v2", "v3"), ("v2", "v4"), ("v2", "v5"), ("v3", "v4"), ("v3", "v5"), ("v4", "v5")]
    _raises_or_returns(
        lambda: sorted(tuple(r) for r in k_truss(e, k=4, max_rounds=2).collect()),
        [(a, b, 2) for a, b in k4],
    )


def test_cc_cap_hit(spark):
    # a path with shuffled labels needs more than 2 star rounds
    order = [(i * 37) % 64 for i in range(64)]
    e = _edges(spark, [(f"n{order[i]:02d}", f"n{order[i + 1]:02d}") for i in range(63)])
    want = {f"n{i:02d}": "n00" for i in range(64)}
    _raises_or_returns(
        lambda: {r["vertex"]: r["component"]
                 for r in connected_components(e, max_iter=2).collect()},
        want,
    )


def test_bipartite_cap_hit(spark):
    # a 9-cycle is odd: one component, 9 edges, one same-parity edge; two
    # BFS hops from the seed color only 5 of its nodes
    e = _edges(spark, [(f"c{i}", f"c{(i + 1) % 9}") for i in range(9)])
    _raises_or_returns(
        lambda: [tuple(r) for r in bipartite_check(e, max_iter=2).collect()],
        [("c0", 9, 9, 1, False)],
    )


def test_scc_cap_hit(spark):
    # the forward min-label pass around a 4-cycle needs 3 rounds to settle
    e = _edges(spark, [("a", "b"), ("b", "c"), ("c", "d"), ("d", "a")])
    with pytest.raises(RuntimeError, match="SCC forward pass"):
        strongly_connected_components(e, max_rounds=1).collect()
