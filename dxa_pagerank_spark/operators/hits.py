"""HITS (hubs & authorities) over the directed edge table.

Beyond the reference's single PageRank analytic (north_rule scope is
"link-graph analytics engine"): the classic Kleinberg mutual-
reinforcement iteration, L1-normalized each half-step so trajectories
are scale-free and SQL-checkable:

    auth_i(v) = sum over in-edges (u,v) of hub_{i-1}(u), then /= sum
    hub_i(u)  = sum over out-edges (u,v) of auth_i(v), then /= sum

Edge multiplicity counts (consistent with the engine's file-ingest
semantics, ReadLumpInEdgeListTask.java:69-71).

Physical plan, per round: TWO rank-table shuffles (auth gather by dst,
hub gather by src) against the edge table persisted in BOTH join
orientations (src-partitioned for the auth gather, dst-partitioned for
the hub gather) — the 100-TB side never moves in either half-step;
map-side partial aggregation keeps each exchange at ~|V| rows. Each
half-step is one round of the shared superstep loop
(operators/superstep.py): its UNnormalized gather product is the
checkpointed state, its L1 total the round's one action, and the
normalizing division folds into the next half-step as a literal (the
dangling-lump trick, pagerank.py) — so each gather executes exactly
once and a round costs two jobs. salsa.py runs the same loop with
degree-weighted gathers.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from .superstep import supersteps


def hits(
    spark: SparkSession,
    edges: DataFrame,
    rounds: int = 5,
    num_partitions: int | None = None,
) -> DataFrame:
    """-> (id, auth, hub) after `rounds` L1-normalized iterations."""
    P = num_partitions or spark.sparkContext.defaultParallelism
    # the edge table is persisted in BOTH join orientations (hash-
    # partitioned by src for the auth gather, by dst for the hub
    # gather) so neither half-step re-exchanges the 100-TB side; each
    # gather's map-side partial agg shrinks its product to ~|V| rows
    # before the one rank-table exchange per half-step
    e = (
        edges.select("src", "dst")
        .repartition(P, "src")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    e_bwd = e.repartition(P, "dst").persist(StorageLevel.MEMORY_AND_DISK)
    verts = (
        e.select(F.col("src").alias("id"))
        .union(e.select(F.col("dst").alias("id")))
        .distinct()
        .repartition(P, "id")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    return _reinforce(verts, e, e_bwd, rounds, F.sum("hub"), F.sum("auth"))


def _reinforce(
    verts: DataFrame,
    e_fwd: DataFrame,
    e_bwd: DataFrame,
    rounds: int,
    auth_mass: Column,
    hub_mass: Column,
) -> DataFrame:
    """The L1-normalized mutual-reinforcement loop shared with salsa.py:
    ``auth_mass`` aggregates an in-edge's ``hub`` (plus e_fwd's
    columns) per dst, ``hub_mass`` an out-edge's ``auth`` (plus e_bwd's
    columns) per src. Releases the three persisted inputs."""

    def half_step(state):
        if "auth" in state.columns:
            # auth step: pull hub mass along in-edges
            return (
                e_fwd.join(
                    state.select(
                        F.col("id").alias("src"), (F.col("raw") / tot).alias("hub")
                    ),
                    "src",
                )
                .groupBy(F.col("dst").alias("id"))
                .agg(auth_mass.alias("raw"))
            )
        # hub step: pull auth mass along out-edges
        st = verts.join(state, "id", "left").select(
            "id", (F.coalesce("raw", F.lit(0.0)) / tot).alias("auth")
        )
        h = (
            e_bwd.join(st.select(F.col("id").alias("dst"), "auth"), "dst")
            .groupBy(F.col("src").alias("id"))
            .agg(hub_mass.alias("h_raw"))
        )
        return (
            verts.join(h, "id", "left")
            .join(st, "id")
            .select("id", "auth", F.coalesce("h_raw", F.lit(0.0)).alias("raw"))
        )

    # state: (id, auth, raw hub) after a hub step, (id, raw auth) after
    # an auth step; round 0 holds the hub 1/n itself, so its total is 1.0
    tot = 1.0
    try:
        n = verts.count()
        state = verts.select(
            "id", F.lit(1.0 / n).alias("auth"), F.lit(1.0 / n).alias("raw")
        ).localCheckpoint(eager=True)
        for _, state, row, _ in supersteps(
            state, half_step, [F.sum("raw")], 2 * rounds
        ):
            tot = row[0] or 1.0
        return state.select("id", "auth", (F.col("raw") / tot).alias("hub"))
    finally:
        e_fwd.unpersist()
        e_bwd.unpersist()
        verts.unpersist()
