"""SALSA — Stochastic Approach for Link-Structure Analysis.
[north_rule extension — no reference counterpart; extends the link-
analysis family (pagerank.py, hits.py) per SURVEY.md §2.2]

Lempel & Moran 2000 (public literature, PAPERS.md): HITS's mutual
reinforcement with the adjacency replaced by the *stochastic* bipartite
walk — each endpoint's contribution is split by its degree, so a
mega-hub no longer dominates by raw degree (the "TKC effect"). The
iteration, L1-normalized each half-step so trajectories are scale-free
and SQL-checkable (same convention as hits.py):

    auth_i(v) = sum over in-edges  (u,v) of hub_{i-1}(u) / outdeg(u),
                then /= sum
    hub_i(u)  = sum over out-edges (u,v) of auth_i(v) / indeg(v),
                then /= sum

Edge multiplicity counts, in both the gather and the degrees
(consistent with the engine's file-ingest semantics,
ReadLumpInEdgeListTask.java:69-71) — a doubled edge carries double
weight AND doubles the divisor, exactly the multigraph random walk.

Physical plan, per round: TWO rank-table shuffles, zero edge-table
shuffles — the degree divisions are folded into per-edge weights at
setup (one groupBy per side) and the weighted edges are persisted in
BOTH join orientations (hash-partitioned by src for the auth gather,
by dst for the hub gather), so neither half-step re-exchanges the
100-TB side; map-side partial aggregation shrinks each gather product
to ~|V| rows before its exchange. The loop is hits.py's ``_reinforce``
with degree-weighted gathers: each half-step is one round of the
shared superstep loop (operators/superstep.py), its UNnormalized
gather product the checkpointed state, its L1 total the round's one
action, and the normalizing division folded into the next half-step's
expression as a literal (the dangling-lump trick, pagerank.py) — so
each gather executes exactly ONCE, two jobs per round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from .hits import _reinforce


def salsa(
    spark: SparkSession,
    edges: DataFrame,
    rounds: int = 5,
    num_partitions: int | None = None,
) -> DataFrame:
    """-> (id, auth, hub) after `rounds` L1-normalized SALSA rounds."""
    P = num_partitions or spark.sparkContext.defaultParallelism
    raw = edges.select("src", "dst")
    out_deg = raw.groupBy("src").agg(F.count(F.lit(1)).alias("od"))
    in_deg = raw.groupBy("dst").agg(F.count(F.lit(1)).alias("idg"))
    # fold both degree divisions into per-edge weights once, up front —
    # the loop then never touches the degree tables again. TWO persisted
    # orientations, one hash-partitioned per join side, so neither
    # half-step ever re-exchanges the edge table: the auth gather joins
    # e_fwd on src in place, the hub gather joins e_bwd on dst in place,
    # and each groupBy's map-side partial agg shrinks the product to
    # ~|V| rows before its exchange.
    weighted = raw.join(out_deg, "src").join(in_deg, "dst")
    e_fwd = (
        weighted.select(
            "src", "dst", (F.lit(1.0) / F.col("od")).alias("w_fwd")
        )
        .repartition(P, "src")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    e_bwd = (
        weighted.select(
            "src", "dst", (F.lit(1.0) / F.col("idg")).alias("w_bwd")
        )
        .repartition(P, "dst")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    verts = (
        raw.select(F.col("src").alias("id"))
        .union(raw.select(F.col("dst").alias("id")))
        .distinct()
        .repartition(P, "id")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    return _reinforce(
        verts,
        e_fwd,
        e_bwd,
        rounds,
        F.sum(F.col("hub") * F.col("w_fwd")),
        F.sum(F.col("auth") * F.col("w_bwd")),
    )
