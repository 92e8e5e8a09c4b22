"""Truncated mean hitting time of the uniform random surfer to a
target set (first-passage analysis; Norris, "Markov Chains", ch. 1 —
the h = 1 + P h system solved by value iteration).

    h(v) = 0                       v in targets
    h_{i+1}(v) = 1 + mean over out-links (v,u) of h_i(u)
    h_{i+1}(v) = 1 + h_i(v)        v dangling (walk never returns)

Starting from h_0 = 0, round i holds EXACTLY E[min(T, i)] — the
i-step-truncated expected hitting time — monotonically approaching
E[T] (vertices that cannot reach the target set climb linearly toward
the truncation bound, which is the honest answer: their true hitting
time is infinite). Fixed-round trajectory -> unrolled SQL oracle.

The crawl reading: with targets = the trusted seed set, h(v) is the
"surf distance" from v back to trust — the first-passage counterpart
of TrustRank's mass (operators/trustrank.py); pages a random surfer
rarely reaches from anywhere trusted rank as spam-farm suspects.

Physical plan per round: ONE rank-table shuffle (gather of h over the
src-partitioned persisted weighted adjacency, map-side partial agg) —
the operators/pagerank.py loop shape; per-edge weights 1/out_deg are
folded at setup; localCheckpoint truncates lineage; duplicate edges
count (file-ingest semantics).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from .superstep import release


def hitting_times(
    spark: SparkSession,
    edges: DataFrame,
    targets: Sequence[int],
    rounds: int = 12,
    num_partitions: int | None = None,
) -> DataFrame:
    """-> (id, hit_time): E[min(T_targets, rounds)] per vertex under
    the uniform out-link walk; targets hold 0."""
    if not targets:
        raise ValueError("hitting_times needs a non-empty target set")
    if rounds < 0:
        raise ValueError("rounds must be >= 0")
    P = num_partitions or spark.sparkContext.defaultParallelism
    deg = edges.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).alias("out_deg")
    )
    adj = (
        edges.join(deg.withColumnRenamed("id", "src"), "src")
        .select(
            "src", "dst", (F.lit(1.0) / F.col("out_deg")).alias("w")
        )
        .repartition(P, "src")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    tgt = spark.createDataFrame(
        [(int(t),) for t in targets], "id long"
    ).withColumn("is_t", F.lit(True))
    verts = (
        edges.select(F.col("src").alias("id"))
        .union(edges.select(F.col("dst").alias("id")))
        .distinct()
        .join(tgt, "id", "left")
        .join(deg, "id", "left")
        .select(
            "id",
            F.coalesce("is_t", F.lit(False)).alias("is_t"),
            F.col("out_deg").isNull().alias("dangling"),
        )
        .repartition(P, "id")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    state = verts.select("id", F.lit(0.0).alias("h")).localCheckpoint(
        eager=True
    )
    try:
        for _ in range(rounds):
            g = (
                adj.join(
                    state.select(F.col("id").alias("dst"), "h"), "dst"
                )
                .groupBy(F.col("src").alias("id"))
                .agg(F.sum(F.col("h") * F.col("w")).alias("gh"))
            )
            old = state
            state = (
                verts.join(state, "id")
                .join(g, "id", "left")
                .select(
                    "id",
                    F.when(F.col("is_t"), F.lit(0.0))
                    .when(F.col("dangling"), F.lit(1.0) + F.col("h"))
                    .otherwise(
                        F.lit(1.0) + F.coalesce("gh", F.lit(0.0))
                    )
                    .alias("h"),
                )
                .localCheckpoint(eager=True)
            )
            release(old)
        return state.select("id", F.col("h").alias("hit_time"))
    finally:
        adj.unpersist()
        verts.unpersist()
