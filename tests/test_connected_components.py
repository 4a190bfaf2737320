"""`connected_components` (min-label propagation, rounds = diameter)
against a union-find ground truth: the (id, comp) labeling must match
on a long chain (the label-propagation worst case), on random graphs
with self-loops and duplicate edges, and with isolated nodes.
"""

from __future__ import annotations

import random

from psx_data_pipeline_spark.operators.dedup import connected_components


def _labels(df):
    return {(r.id, r.comp) for r in df.collect()}


def _lp(spark, edge_list, n_nodes, max_iter=60):
    edges = spark.createDataFrame(edge_list, "id_a long, id_b long")
    nodes = spark.range(n_nodes).withColumnRenamed("id", "id")
    return _labels(connected_components(edges, nodes, max_iter=max_iter))


def _brute(edge_list, n_nodes):
    parent = list(range(n_nodes))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edge_list:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # fully compress, then label by component min
    roots = {}
    for i in range(n_nodes):
        r = find(i)
        roots.setdefault(r, min(r, i))
    return {(i, min(j for j in range(n_nodes) if find(j) == find(i)))
            for i in range(n_nodes)}


def test_chain_graph_matches(spark):
    """A 40-node chain: diameter 39 — the label-propagation worst
    case; it must still match the union-find ground truth."""
    edge_list = [(i, i + 1) for i in range(39)]
    assert _lp(spark, edge_list, 40) == _brute(edge_list, 40)


def test_random_graphs_match(spark):
    rng = random.Random(7)
    for trial in range(3):
        n = 60
        m = rng.randrange(20, 80)
        edge_list = [
            (rng.randrange(n), rng.randrange(n)) for _ in range(m)
        ]
        # adversarial extras: self-loops and duplicates
        edge_list += [(5, 5), (0, 1), (0, 1)]
        want = _brute(edge_list, n)
        assert _lp(spark, edge_list, n) == want, (
            f"trial {trial}: label propagation wrong"
        )


def test_isolated_nodes(spark):
    lp = _lp(spark, [(1, 2)], 5)
    assert lp == {(0, 0), (1, 1), (2, 1), (3, 3), (4, 4)}
    assert lp == _brute([(1, 2)], 5)
