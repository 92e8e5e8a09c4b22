"""Topic-sensitive PageRank: MANY personalized teleport vectors in ONE
power-iteration loop. [north_rule extension — no reference code]

Haveliwala 2002: precompute one PageRank vector per topic (teleport to
that topic's seed pages); query-time topical ranking blends them.
Running T separate PPR loops scans the edge table T times per round —
this operator batches all topics into (topic, id)-keyed state so every
round is ONE adjacency join shared by all topics:

    p_t,i(v) = (1-d) * s_t(v) + d * (gather_t,i(v) + m_t,i-1 * s_t(v))

with s_t = 1/|S_t| on topic t's seeds and m_t = topic t's dangling
mass. Same iteration law as operators/ppr.py (a single-topic run of
this operator equals personalized_pagerank exactly).

Physical shape per round: adjacency (weighted 1/out_deg, partitioned by
src, persisted ONCE) joins the (topic, id) rank table — the shuffle is
T×V rank rows, not T edge scans; dangling masses are one tiny
(T-row) aggregate broadcast back; the update is a pure projection.
Lineage truncated per round by the shared superstep loop
(operators/superstep.py). T is bounded (topic taxonomies are tens
to hundreds), so T×V state scales linearly — at 1e12 vertices run
topic blocks of whatever T fits executor memory.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from .superstep import supersteps


def topic_sensitive_pagerank(
    spark: SparkSession,
    edges: DataFrame,
    topics: Mapping[str, Sequence[int]],
    damping: float = 0.85,
    rounds: int = 5,
    num_partitions: int | None = None,
) -> DataFrame:
    """-> (topic, id, rank) after ``rounds`` seeded power iterations
    for every topic at once. Every topic needs a non-empty seed set."""
    if not topics:
        raise ValueError("topic_sensitive_pagerank needs at least one topic")
    for t, s in topics.items():
        if not s:
            raise ValueError(f"topic {t!r} has an empty seed set")
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
    seed_rows = [
        (t, int(v), 1.0 / len(s))
        for t, s in sorted(topics.items())
        for v in s
    ]
    seeds_df = spark.createDataFrame(
        seed_rows, "topic string, id long, s double"
    )
    topics_df = spark.createDataFrame(
        [(t,) for t in sorted(topics)], "topic string"
    )
    verts = (
        topics_df.crossJoin(vert_ids)
        .join(seeds_df, ["topic", "id"], "left")
        .join(deg, "id", "left")
        .select(
            "topic",
            "id",
            F.coalesce("s", F.lit(0.0)).alias("s"),
            F.col("out_deg").isNull().alias("dangling"),
        )
        .repartition(P, "id")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )

    def step(ranks):
        m_df = (
            ranks.join(
                verts.filter("dangling").select("topic", "id"),
                ["topic", "id"],
                "left_semi",
            )
            .groupBy("topic")
            .agg(F.sum("rank").alias("m"))
        )
        contrib = (
            adj.join(ranks.withColumnRenamed("id", "src"), "src")
            .groupBy("topic", F.col("dst").alias("id"))
            .agg(F.sum(F.col("rank") * F.col("w")).alias("contrib"))
        )
        return (
            verts.join(contrib, ["topic", "id"], "left")
            .join(F.broadcast(m_df), "topic", "left")
            .select(
                "topic",
                "id",
                (
                    F.lit(1.0 - d) * F.col("s")
                    + F.lit(d)
                    * (
                        F.coalesce("contrib", F.lit(0.0))
                        + F.coalesce("m", F.lit(0.0)) * F.col("s")
                    )
                ).alias("rank"),
            )
        )

    ranks = verts.select("topic", "id", F.col("s").alias("rank")).localCheckpoint(
        eager=True
    )
    try:
        for _, ranks, _, _ in supersteps(
            ranks, step, [F.count(F.lit(1))], rounds
        ):
            pass
        return ranks
    finally:
        adj.unpersist()
        verts.unpersist()
