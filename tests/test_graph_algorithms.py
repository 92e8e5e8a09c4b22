"""CC / LPA / triangle-count exact-match tests vs pure-Python oracles
(SURVEY.md §5.2 item 5). [north_rule operators — no reference code]"""

import numpy as np
import pytest

from dxa_pagerank_spark.datagen import (
    FIXTURE_GRAPHS,
    edges_to_spark,
    fast_synthetic_edges,
    hub_graph,
    parse_in_edge_list,
)
from dxa_pagerank_spark.operators.components import connected_components
from dxa_pagerank_spark.operators.labelprop import label_propagation
from dxa_pagerank_spark.operators.triangles import triangle_count
from dxa_pagerank_spark.oracle import (
    connected_components_oracle,
    label_propagation_oracle,
    triangle_count_oracle,
)


def _collect_map(df, key, val, n):
    got = {r[key]: r[val] for r in df.collect()}
    assert len(got) == n
    return np.array([got[i] for i in range(n)], dtype=np.int64)


@pytest.mark.parametrize("method", ["two_phase"])
def test_components_fixture(spark, method):
    n, src, dst = parse_in_edge_list(FIXTURE_GRAPHS["g_components"])
    expected = connected_components_oracle(n, src, dst)
    got = connected_components(
        spark, edges_to_spark(spark, src, dst), num_vertices=n
    )
    np.testing.assert_array_equal(
        _collect_map(got, "id", "component", n), expected
    )
    # 3 components of sizes 6/4/2 per FIXTURES.md F3
    assert len(set(expected.tolist())) == 3


@pytest.mark.parametrize("method", ["two_phase"])
def test_components_random_graphs(spark, method):
    for seed in (1, 5):
        n = 300
        src, dst = fast_synthetic_edges(n, 2, seed)
        # thin the graph so multiple components exist
        keep = (src + dst) % 3 != 0
        src, dst = src[keep], dst[keep]
        expected = connected_components_oracle(n, src, dst)
        got = connected_components(
            spark, edges_to_spark(spark, src, dst), num_vertices=n
        )
        np.testing.assert_array_equal(
            _collect_map(got, "id", "component", n), expected
        )


def test_components_isolated_vertices(spark):
    src = np.array([0, 1], dtype=np.int64)
    dst = np.array([1, 2], dtype=np.int64)
    got = connected_components(
        spark, edges_to_spark(spark, src, dst), num_vertices=6
    )
    m = _collect_map(got, "id", "component", 6)
    np.testing.assert_array_equal(m, [0, 0, 0, 3, 4, 5])


def test_components_long_chain_two_phase(spark):
    """Path graph stresses the O(log n) round bound of large/small-star."""
    n = 64
    src = np.arange(n - 1, dtype=np.int64)
    dst = src + 1
    got = connected_components(
        spark, edges_to_spark(spark, src, dst), num_vertices=n
    )
    np.testing.assert_array_equal(
        _collect_map(got, "id", "component", n), np.zeros(n, dtype=np.int64)
    )


def test_label_propagation_fixture(spark):
    n, src, dst = parse_in_edge_list(FIXTURE_GRAPHS["g_components"])
    expected = label_propagation_oracle(n, src, dst, max_rounds=20)
    got = label_propagation(
        spark, edges_to_spark(spark, src, dst), num_vertices=n, max_rounds=20
    )
    np.testing.assert_array_equal(_collect_map(got, "id", "label", n), expected)


def test_label_propagation_random(spark):
    n = 200
    src, dst = fast_synthetic_edges(n, 3, seed=9)
    expected = label_propagation_oracle(n, src, dst, max_rounds=10)
    got = label_propagation(
        spark, edges_to_spark(spark, src, dst), num_vertices=n, max_rounds=10
    )
    np.testing.assert_array_equal(_collect_map(got, "id", "label", n), expected)


def test_triangles_fixture(spark):
    n, src, dst = parse_in_edge_list(FIXTURE_GRAPHS["g_triangles"])
    expected = triangle_count_oracle(n, src, dst)
    assert expected == 5  # K4 (4) + one extra triangle (FIXTURES.md F3)
    assert triangle_count(spark, edges_to_spark(spark, src, dst)) == expected


def test_triangles_random(spark):
    n = 150
    src, dst = fast_synthetic_edges(n, 5, seed=3)
    expected = triangle_count_oracle(n, src, dst)
    assert expected > 0
    assert triangle_count(spark, edges_to_spark(spark, src, dst)) == expected


def test_triangles_hub_no_blowup(spark):
    """Star graph: orientation must keep the hub's out-degree tiny."""
    n, src, dst = hub_graph(501)
    expected = triangle_count_oracle(n, src, dst)
    assert triangle_count(spark, edges_to_spark(spark, src, dst)) == expected


def _clustering_oracle(n, src, dst):
    """Brute-force local clustering coefficient over the undirected
    simple graph."""
    nbrs = [set() for _ in range(n)]
    for s, d in zip(src, dst):
        if s != d:
            nbrs[s].add(d)
            nbrs[d].add(s)
    out = {}
    for v in range(n):
        d = len(nbrs[v])
        if d < 2:
            out[v] = 0.0
            continue
        t = 0
        for a in nbrs[v]:
            for b in nbrs[v]:
                if a < b and b in nbrs[a]:
                    t += 1
        out[v] = 2.0 * t / (d * (d - 1))
    return out


def test_clustering_coefficients(spark):
    from dxa_pagerank_spark.operators.triangles import clustering_coefficients

    n = 120
    src, dst = fast_synthetic_edges(n, 5, seed=13)
    oracle = _clustering_oracle(n, src, dst)
    got = {
        r["id"]: r["clustering"]
        for r in clustering_coefficients(
            spark, edges_to_spark(spark, src, dst)
        ).collect()
    }
    assert set(got) == {v for v in range(n) if v in set(src) | set(dst)}
    for v, c in got.items():
        assert abs(c - oracle[v]) < 1e-12, (v, c, oracle[v])


def _doulion_oracle(src, dst, p_inv, seed):
    """Pure-Python replay of triangle_count_sampled: the identical
    Lehmer-style edge hash, then brute-force counting on the sample."""
    MOD, A, G = 2147483647, 1000003, 16807
    und = {(min(s, d), max(s, d)) for s, d in zip(src, dst) if s != d}
    samp = [
        (a, b)
        for a, b in und
        if (((a % MOD) * A + (b % MOD) + seed) % MOD * G) % MOD % p_inv == 0
    ]
    nbrs = {}
    for a, b in samp:
        nbrs.setdefault(a, set()).add(b)
        nbrs.setdefault(b, set()).add(a)
    n_tri = (
        sum(
            len(nbrs[a] & nbrs[b])
            for a, b in samp
        )
        // 3
    )
    return len(samp), n_tri, n_tri * p_inv**3


def test_triangles_doulion_deterministic(spark):
    """Sampled count replays exactly (hash-deterministic, no RNG) and
    the estimator lands near the exact count on a triangle-rich graph."""
    from dxa_pagerank_spark.operators.triangles import triangle_count_sampled

    n = 300
    src, dst = fast_synthetic_edges(n, 8, seed=11)
    n_samp, n_tri, est = _doulion_oracle(src, dst, p_inv=2, seed=7)
    assert n_tri > 0  # sample must retain triangles or the test is vacuous
    row = triangle_count_sampled(
        spark, edges_to_spark(spark, src, dst), p_inv=2, seed=7
    ).collect()[0]
    assert (row["n_tri_sampled"], row["n_triangles_est"]) == (n_tri, est)
    exact = triangle_count_oracle(n, src, dst)
    # unbiased estimator, dense graph: generous 2x band, deterministic
    assert 0.5 * exact <= est <= 2.0 * exact


def test_triangles_doulion_p1_is_exact(spark):
    """p_inv=1 keeps every edge: the estimate IS the exact count."""
    from dxa_pagerank_spark.operators.triangles import triangle_count_sampled

    n, src, dst = parse_in_edge_list(FIXTURE_GRAPHS["g_triangles"])
    row = triangle_count_sampled(
        spark, edges_to_spark(spark, src, dst), p_inv=1, seed=0
    ).collect()[0]
    assert row["n_tri_sampled"] == row["n_triangles_est"] == 5
