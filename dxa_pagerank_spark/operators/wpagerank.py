"""Weighted PageRank over an edge table with per-edge weights.

Beyond the reference's uniform 1/out_deg split (PageRankTask.java divides
rank equally among out-edges): real link graphs rolled up to host/site
level carry edge MULTIPLICITY as weight, and anchor-quality pipelines
carry scores. A source's rank is distributed proportional to edge
weight:

    contrib(v)   = sum over in-edges (u,v,w) of  r(u) * w / W(u)
    r'(v)        = (1-d)/N + d * (contrib(v) + D/N)

where W(u) = total out-weight of u and D = sum of r(u) over vertices
with W(u) = 0 (dangling — their mass is redistributed uniformly each
round, the standard closed form; this operator is NOT bound to the
reference's round-1 1/N quirk, which is a file-format artifact of
MainPR.java, not part of weighted semantics).

Physical plan (same shape as operators/pagerank.py, the audited 100-TB
loop): normalized adjacency (src, dst, w_norm) is hash-partitioned by
src ONCE and persisted — the big side never moves again; each round
shuffles only the ~16 B/vertex rank table into the gather join, partial
aggregation runs map-side, and the next round's dangling scalar is the
round's one aggregate (the BSP barrier) on the shared superstep loop
(operators/superstep.py), which truncates lineage per round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from .superstep import supersteps


def weighted_pagerank(
    spark: SparkSession,
    edges: DataFrame,
    num_vertices: int | None = None,
    vertices: DataFrame | None = None,
    damping: float = 0.85,
    rounds: int = 10,
    num_partitions: int | None = None,
) -> DataFrame:
    """edges(src, dst, weight) -> (id, rank) after `rounds` iterations.

    Weights must be non-negative; zero-total-weight sources count as
    dangling. Vertex universe: explicit `vertices` df > contiguous
    range(num_vertices) > edge endpoints (same rule as
    operators.pagerank.vertex_universe).
    """
    from .pagerank import vertex_universe

    P = num_partitions or spark.sparkContext.defaultParallelism
    pos = edges.groupBy(F.col("src").alias("t_src")).agg(
        F.sum("weight").alias("w_tot")
    ).filter(F.col("w_tot") > 0)
    # dangling = universe minus positive-out-weight sources
    verts = (
        vertex_universe(spark, edges, num_vertices, vertices)
        .join(
            pos.select(F.col("t_src").alias("id"), F.lit(False).alias("d")),
            "id",
            "left",
        )
        .select("id", F.coalesce("d", F.lit(True)).alias("dangling"))
        .repartition(P, "id")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    n = verts.count()

    adj = (
        edges.join(pos, edges.src == F.col("t_src"))
        .select("src", "dst", (F.col("weight") / F.col("w_tot")).alias("w_norm"))
        .repartition(P, "src")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    adj.count()  # materialize the partitioned cache before the loop

    def step(ranks):
        contrib = (
            adj.join(ranks.select(F.col("id").alias("src"), "rank"), "src")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum(F.col("rank") * F.col("w_norm")).alias("c"))
        )
        base = (1.0 - damping) / n + damping * d_mass / n
        return verts.join(contrib, "id", "left").select(
            "id",
            "dangling",
            (F.lit(base) + F.lit(damping) * F.coalesce("c", F.lit(0.0))).alias(
                "rank"
            ),
        )

    mass = F.sum(F.when(F.col("dangling"), F.col("rank")))
    ranks = verts.select(
        "id", "dangling", F.lit(1.0 / n).alias("rank")
    ).localCheckpoint(eager=False)
    try:
        d_mass = ranks.agg(mass).collect()[0][0] or 0.0
        for _, ranks, row, _ in supersteps(ranks, step, [mass], rounds):
            d_mass = row[0] or 0.0
        return ranks.select("id", "rank")
    finally:
        adj.unpersist()
        verts.unpersist()
