"""Personalized PageRank (teleport to a seed set).

north_rule scope extension (no reference code): power iteration where
both the teleport term and the dangling mass return to the SEED set
instead of the uniform vector:

    p_i(v) = (1-d)*s(v) + d*(gather_i(v) + m_{i-1}*s(v))

with s = 1/|S| on the seeds, 0 elsewhere, and m = sum of p over
dangling vertices (out_deg 0). Fixed-round trajectory (deterministic,
SQL-checkable); duplicate edges count.

Physical plan mirrors operators.pagerank: adjacency weighted 1/out_deg
partitioned+persisted once, per-round shuffle is the |V|-row rank
table, the dangling mass is a driver-literal folded into the
projection; the shared superstep loop (operators/superstep.py)
truncates lineage and reduces the next round's dangling mass in the job
that materialises the round.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from .superstep import supersteps


def personalized_pagerank(
    spark: SparkSession,
    edges: DataFrame,
    seeds: Sequence[int] | None,
    damping: float = 0.85,
    rounds: int = 5,
    num_partitions: int | None = None,
) -> DataFrame:
    """-> (id, rank) after `rounds` seeded power iterations.

    ``seeds=None`` means the uniform teleport vector s = 1/|V| on every
    vertex — standard PageRank under the SAME iteration law, so a
    seeded and a uniform run are directly comparable (what TrustRank's
    spam-mass estimate needs, operators/trustrank.py)."""
    if seeds is not None and not seeds:
        raise ValueError("personalized_pagerank needs a non-empty seed set")
    P = num_partitions or spark.sparkContext.defaultParallelism
    d = damping

    deg = edges.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).alias("out_deg")
    )
    adj = (
        edges.join(deg.withColumnRenamed("id", "src"), "src")
        .select("src", "dst", (F.lit(1.0) / F.col("out_deg")).alias("w"))
        .repartition(P, "src")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    vert_ids = (
        edges.select(F.col("src").alias("id"))
        .union(edges.select(F.col("dst").alias("id")))
        .distinct()
    )
    if seeds is None:
        n = vert_ids.count()
        with_s = vert_ids.withColumn("s", F.lit(1.0 / n))
    else:
        s_val = 1.0 / len(seeds)
        seeds_df = spark.createDataFrame(
            [(int(x),) for x in seeds], "id long"
        ).withColumn("s", F.lit(s_val))
        with_s = vert_ids.join(seeds_df, "id", "left").select(
            "id", F.coalesce("s", F.lit(0.0)).alias("s")
        )
    verts = (
        with_s.join(deg, "id", "left")
        .select(
            "id",
            "s",
            F.col("out_deg").isNull().alias("dangling"),
        )
        .repartition(P, "id")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )

    def step(ranks):
        contrib = (
            adj.join(ranks.select(F.col("id").alias("src"), "rank"), "src")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum(F.col("rank") * F.col("w")).alias("contrib"))
        )
        return verts.join(contrib, "id", "left").select(
            "id",
            "dangling",
            (
                F.lit(1.0 - d) * F.col("s")
                + F.lit(d)
                * (F.coalesce("contrib", F.lit(0.0)) + F.lit(m) * F.col("s"))
            ).alias("rank"),
        )

    mass = F.sum(F.when(F.col("dangling"), F.col("rank")))
    ranks = verts.select(
        "id", "dangling", F.col("s").alias("rank")
    ).localCheckpoint(eager=False)
    try:
        m = ranks.agg(mass).collect()[0][0] or 0.0
        for _, ranks, row, _ in supersteps(ranks, step, [mass], rounds):
            m = row[0] or 0.0
        return ranks.select("id", "rank")
    finally:
        adj.unpersist()
        verts.unpersist()
