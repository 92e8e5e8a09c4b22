"""Katz centrality (attenuated path counting).

north_rule scope extension (no reference code): the classic
link-analysis centrality that PageRank generalises —

    x_{t+1}(v) = beta + alpha * sum_{(u,v) in E} x_t(u),   x_0 = beta

i.e. x(v) converges to beta * sum_k alpha^k (#paths of length k ending
at v).  Fixed-round trajectory (deterministic, SQL-checkable by
unrolling); duplicate edges count, matching the multiset edge
semantics of operators/pagerank.py.

Physical plan mirrors the audited PageRank df loop
(operators/pagerank.py:147-284, PLANS.md §1): the adjacency is
hash-partitioned by src once and persisted, the per-round shuffle is
only the |V|-row score table, no per-vertex normalisation joins
(Katz needs no out-degree weighting at all, so the loop is one join +
one partial/final hash aggregate per round), and the shared superstep
loop (operators/superstep.py) truncates lineage so round t's plan does
not embed rounds 1..t-1.
alpha must be < 1/lambda_max for the infinite sum to converge; the
fixed-round form is well-defined for any alpha.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from .superstep import supersteps


def katz_centrality(
    spark: SparkSession,
    edges: DataFrame,
    alpha: float = 0.1,
    beta: float = 1.0,
    rounds: int = 5,
    num_partitions: int | None = None,
    normalize: bool = False,
) -> DataFrame:
    """-> (id, score) after ``rounds`` Katz iterations.

    ``normalize=True`` L2-normalises the final vector (the textbook
    presentation); the default keeps raw attenuated path counts so the
    trajectory is exactly SQL-replayable without a sqrt aggregate.
    """
    P = num_partitions or spark.sparkContext.defaultParallelism

    adj = (
        edges.select("src", "dst")
        .repartition(P, "src")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    verts = (
        edges.select(F.col("src").alias("id"))
        .union(edges.select(F.col("dst").alias("id")))
        .distinct()
        .repartition(P, "id")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )

    def step(scores):
        gathered = (
            adj.join(scores.withColumnRenamed("id", "src"), "src")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum("score").alias("gathered"))
        )
        return verts.join(gathered, "id", "left").select(
            "id",
            (
                F.lit(float(beta))
                + F.lit(float(alpha)) * F.coalesce("gathered", F.lit(0.0))
            ).alias("score"),
        )

    scores = verts.select("id", F.lit(float(beta)).alias("score")).localCheckpoint(
        eager=True
    )
    try:
        for _, scores, _, _ in supersteps(
            scores, step, [F.count(F.lit(1))], rounds
        ):
            pass
        if normalize:
            norm = scores.agg(
                F.sqrt(F.sum(F.col("score") * F.col("score")))
            ).collect()[0][0]
            scores = scores.select(
                "id", (F.col("score") / F.lit(float(norm))).alias("score")
            )
        return scores
    finally:
        adj.unpersist()
        verts.unpersist()
