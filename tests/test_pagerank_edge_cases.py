"""Degenerate-input PageRank cases (found via surface probing)."""

import numpy as np
import pytest

from dxa_pagerank_spark.operators.pagerank import pagerank
from dxa_pagerank_spark.oracle import pagerank_oracle


def test_all_dangling_graph(spark):
    """No edges at all: every vertex dangling; reference semantics give
    immediate convergence (PRerr=0) and restore leaves everyone at 1/N."""
    edges = spark.createDataFrame([], "src long, dst long")
    res = pagerank(spark, edges, num_vertices=3, threshold=1e-10, max_rounds=5)
    oracle = pagerank_oracle(
        3, np.array([], dtype=np.int64), np.array([], dtype=np.int64), 0.85, 1e-10, 5
    )
    got = {r["id"]: r["rank"] for r in res.ranks.collect()}
    assert res.rounds == oracle.rounds == 1
    assert res.converged and oracle.converged
    np.testing.assert_allclose(
        [got[i] for i in range(3)], oracle.ranks, atol=1e-12
    )


def test_self_loop(spark):
    edges = spark.createDataFrame([(0, 0), (0, 1), (1, 0)], "src long, dst long")
    res = pagerank(spark, edges, num_vertices=2, threshold=1e-12, max_rounds=100)
    oracle = pagerank_oracle(
        2, np.array([0, 0, 1]), np.array([0, 1, 0]), 0.85, 1e-12, 100
    )
    got = {r["id"]: r["rank"] for r in res.ranks.collect()}
    np.testing.assert_allclose([got[0], got[1]], oracle.ranks, atol=1e-9)


def test_zero_max_rounds_restore_only(spark):
    """max_rounds=0 goes straight to the dangling-restore pass."""
    edges = spark.createDataFrame([(0, 1), (1, 0), (0, 2)], "src long, dst long")
    res = pagerank(spark, edges, num_vertices=3, threshold=1e-10, max_rounds=0)
    oracle = pagerank_oracle(
        3, np.array([0, 1, 0]), np.array([1, 0, 2]), 0.85, 1e-10, 0
    )
    got = {r["id"]: r["rank"] for r in res.ranks.collect()}
    assert not res.converged
    np.testing.assert_allclose(
        [got[i] for i in range(3)], oracle.ranks, atol=1e-12
    )


def test_adjacency_mode_takes_n_from_num_vertices(spark):
    """num_vertices wins over a vertices frame in both input modes, so
    one graph gets one 1/N and one set of ranks either way."""
    edges = spark.createDataFrame([(0, 1), (0, 2), (1, 2)], "src long, dst long")
    adj = spark.createDataFrame(
        [(0, 1, 0.5), (0, 2, 0.5), (1, 2, 1.0)], "src long, dst long, w double"
    )
    verts = spark.createDataFrame([(0,), (1,), (2,)], "id long")
    kw = dict(num_vertices=5, vertices=verts, threshold=1e-12, max_rounds=2)
    by_edges = pagerank(spark, edges, **kw)
    by_adj = pagerank(spark, None, adjacency=adj, **kw)
    assert by_edges.num_vertices == by_adj.num_vertices == 5
    a = {r["id"]: r["rank"] for r in by_edges.ranks.collect()}
    b = {r["id"]: r["rank"] for r in by_adj.ranks.collect()}
    assert set(a) == set(b) == {0, 1, 2}
    np.testing.assert_allclose(
        [b[i] for i in range(3)], [a[i] for i in range(3)], atol=1e-12
    )


def test_adjacency_rejects_mismatched_id_types(spark):
    """A bigint dst under an int src would be narrowed in the loop; it
    is refused up front instead of overflowing (or wrapping) in a job."""
    adj = spark.createDataFrame(
        [(0, 2**32 + 1, 1.0)], "src int, dst bigint, w double"
    )
    with pytest.raises(ValueError, match="dst type bigint differs from src type int"):
        pagerank(spark, None, num_vertices=2, adjacency=adj)


def test_adjacency_refuses_vertex_ids_wider_than_int(spark):
    """An int adjacency with explicit bigint vertices: an id outside
    int32 is refused before any round, never cast onto another vertex;
    in-range ids run, sized by the same aggregate."""
    adj = spark.createDataFrame(
        [(0, 1, 1.0), (1, 0, 1.0)], "src int, dst int, w double"
    )
    for far in (2**31, -(2**31) - 1):
        verts = spark.createDataFrame([(0,), (1,), (far,)], "id bigint")
        with pytest.raises(ValueError, match="outside int32"):
            pagerank(spark, None, vertices=verts, adjacency=adj, max_rounds=1)
    verts = spark.createDataFrame([(0,), (1,), (2**31 - 1,)], "id bigint")
    res = pagerank(spark, None, vertices=verts, adjacency=adj, max_rounds=1)
    assert res.num_vertices == 3
    assert {r["id"] for r in res.ranks.collect()} == {0, 1, 2**31 - 1}
