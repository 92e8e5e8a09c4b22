"""Eigenvector centrality over the directed edge table (Bonacich
1972): the L1-normalized power iteration

    x_i(v) = sum over in-edges (u,v) of x_{i-1}(u),  then x_i /= ||x_i||_1

— the principal eigenvector of A^T, i.e. PageRank's recursion without
damping or dangling redistribution, and the auth half-step of HITS
without the hub coupling. Completes the engine's named-centrality set
(PageRank / HITS / SALSA / Katz / harmonic / betweenness). Fixed-round
trajectory, so the unrolled SQL oracle replays it exactly. Edge
multiplicity counts (file-ingest semantics,
ReadLumpInEdgeListTask.java:69-71, as in operators/hits.py).

Physical plan per round: ONE rank-table shuffle (gather by dst)
against the src-partitioned persisted edge table; map-side partial agg
shrinks the product to ~|V| rows. The state holds the UNnormalized
gather; its sum is the round's one action on the shared superstep loop
(operators/superstep.py, which also truncates lineage), and the next
round divides by it as a literal — so each gather runs once — the
audited operators/pagerank.py loop shape minus the dangling machinery.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from .superstep import supersteps


def eigenvector_centrality(
    spark: SparkSession,
    edges: DataFrame,
    rounds: int = 10,
    num_partitions: int | None = None,
) -> DataFrame:
    """-> (id, centrality) after `rounds` normalized iterations.
    Vertices unreached by any in-path hold 0; if a round's gather sums
    to 0 everywhere (edgeless input) ranks collapse to 0 and stay
    there rather than dividing by zero."""
    if rounds < 0:
        raise ValueError("rounds must be >= 0")
    P = num_partitions or spark.sparkContext.defaultParallelism
    e = (
        edges.select("src", "dst")
        .repartition(P, "src")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    verts = (
        e.select(F.col("src").alias("id"))
        .union(e.select(F.col("dst").alias("id")))
        .distinct()
        .repartition(P, "id")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    n = verts.count()

    def step(state):
        g = (
            e.join(
                state.select(
                    F.col("id").alias("src"),
                    (F.col("raw") / tot).alias("centrality"),
                ),
                "src",
            )
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum("centrality").alias("raw"))
        )
        return verts.join(g, "id", "left").select(
            "id", F.coalesce("raw", F.lit(0.0)).alias("raw")
        )

    # round 0 holds 1/n itself, so its "total" is 1.0 (x / 1.0 == x)
    tot = 1.0
    state = verts.select("id", F.lit(1.0 / n).alias("raw")).localCheckpoint(
        eager=True
    )
    try:
        for _, state, row, _ in supersteps(state, step, [F.sum("raw")], rounds):
            tot = row[0] or 1.0
        return state.select("id", (F.col("raw") / tot).alias("centrality"))
    finally:
        e.unpersist()
        verts.unpersist()
