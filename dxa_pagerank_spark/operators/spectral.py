"""Spectral bisection: the Fiedler vector of the graph Laplacian by
shifted, deflated power iteration (Fiedler 1973; the spectral-
partitioning recipe of Pothen, Simon & Liou 1990).

For the symmetrized simple graph with Laplacian L = D - A, the
eigenvector of the second-smallest L eigenvalue (the Fiedler vector)
gives the classic minimal-ish balanced cut: split vertices by sign.
Power iteration runs on the shifted operator M = sigma*I - L with
sigma = max_degree + 1 (so M is PSD and L's smallest eigenvalues
become M's largest); the trivial constant eigenvector is deflated by
re-centering to mean 0 every round, and the vector is L2-renormalized
so trajectories are scale-free:

    y(v) = (sigma - deg(v)) * x(v) + sum over neighbors u of x(u)
    y   -= mean(y);   x = y / ||y||_2

Deterministic start: x0(v) = Knuth-hash(id) mapped into [-0.5, 0.5)
— integer arithmetic both engines replay exactly. Fixed-round
trajectory; per-round float sums use the engines' native aggregation
order, so outputs are compared at 6 decimals like every other
iterative float query (pagerank/hits/salsa oracles' convention).

The reference has no spectral machinery (spec extension, SURVEY
§2.2); this is the global counterpart of the PPR sweep's LOCAL
cut (operators/localcluster.py).

Physical plan per round: one rank-table shuffle (gather over the
both-orientations persisted symmetric edge table, map-side partial
agg), two 1-row scalar actions (mean, norm) as the BSP barrier,
localCheckpoint lineage truncation — the audited pagerank loop shape.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from .superstep import release

_KNUTH = 2654435761
_M32 = 4294967296


def fiedler_vector(
    spark: SparkSession,
    edges: DataFrame,
    rounds: int = 12,
    num_partitions: int | None = None,
) -> DataFrame:
    """-> (id, fiedler) after `rounds` deflated power iterations over
    the symmetrized simple graph. Sign(fiedler) is the bisection;
    magnitude orders vertices for sweep cuts. Isolated vertices (no
    edges) are absent — they belong to neither side."""
    if rounds < 1:
        raise ValueError("rounds must be >= 1")
    P = num_partitions or spark.sparkContext.defaultParallelism
    und = (
        edges.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .distinct()
    )
    sym = (
        und.select("a", "b")
        .unionAll(und.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .repartition(P, "b")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    deg = (
        sym.groupBy(F.col("a").alias("id"))
        .agg(F.count(F.lit(1)).alias("d"))
        .repartition(P, "id")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    stats = deg.agg(
        F.max("d").alias("max_d"), F.count(F.lit(1)).alias("n")
    ).collect()[0]
    if stats["max_d"] is None:
        raise ValueError("graph has no non-loop edges")
    sigma = float(stats["max_d"] + 1)
    n = int(stats["n"])
    state = deg.select(
        "id",
        "d",
        (
            ((F.lit(_KNUTH) * F.col("id")) % F.lit(_M32)).cast("double")
            / F.lit(float(_M32))
            - F.lit(0.5)
        ).alias("x"),
    ).localCheckpoint(eager=True)
    try:
        for _ in range(rounds):
            nb = (
                sym.join(
                    state.select(F.col("id").alias("b"), F.col("x")), "b"
                )
                .groupBy(F.col("a").alias("id"))
                .agg(F.sum("x").alias("nbr"))
            )
            y = state.join(nb, "id", "left").select(
                "id",
                "d",
                (
                    (F.lit(sigma) - F.col("d")) * F.col("x")
                    + F.coalesce("nbr", F.lit(0.0))
                ).alias("y"),
            )
            mean = y.agg(F.sum("y")).collect()[0][0] / n
            c = y.select("id", "d", (F.col("y") - F.lit(mean)).alias("c"))
            norm_sq = c.agg(F.sum(F.col("c") * F.col("c"))).collect()[0][0]
            # math.sqrt is correctly-rounded IEEE sqrt — the same
            # primitive DuckDB's sqrt() uses, so the oracle divides by
            # the identical double (x**0.5 would route through pow)
            norm = math.sqrt(norm_sq) or 1.0
            old = state
            state = c.select(
                "id", "d", (F.col("c") / F.lit(norm)).alias("x")
            ).localCheckpoint(eager=True)
            release(old)
        return state.select("id", F.col("x").alias("fiedler"))
    finally:
        sym.unpersist()
        deg.unpersist()
