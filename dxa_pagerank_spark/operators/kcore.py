"""k-core decomposition (peeling) over the undirected simple graph.

north_rule scope extension (no reference code): repeatedly delete
vertices whose degree in the surviving induced subgraph is < k until a
fixpoint; the survivors are the k-core. Directions and duplicate edges
are ignored (same symmetrize+distinct view as connected components).

Physical plan: the symmetrized edge table is built once; each peel
round is one semi-join of edges against the surviving vertex set (hash
join, survivor side shrinks monotonically — broadcastable as soon as it
fits) + one degree aggregation. One count() action per round is the
convergence test and BSP barrier; lineage truncated per round.
Rounds are O(peeling depth), which is tiny on web-ish graphs (the
degeneracy ordering removes whole shells per round, not single
vertices).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from .superstep import release


def k_core(
    spark: SparkSession,
    edges: DataFrame,
    k: int,
    max_rounds: int = 100,
    num_partitions: int | None = None,
) -> DataFrame:
    """-> (id, degree) of the k-core's vertices (degree within the
    core). Empty result when no k-core exists."""
    P = num_partitions or spark.sparkContext.defaultParallelism
    sym = (
        edges.select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .union(
            edges.select(F.col("dst").alias("u"), F.col("src").alias("v"))
            .filter(F.col("u") != F.col("v"))
        )
        .distinct()
        .repartition(P, "u")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    deg = sym.groupBy(F.col("u").alias("id")).agg(F.count(F.lit(1)).alias("degree"))
    alive = deg.filter(F.col("degree") >= k).select("id").localCheckpoint(eager=True)
    n_alive = alive.count()

    try:
        for _ in range(max_rounds):
            if n_alive == 0:
                break
            e2 = (
                sym.join(alive.withColumnRenamed("id", "u"), "u", "left_semi")
                .join(alive.withColumnRenamed("id", "v"), "v", "left_semi")
            )
            deg2 = e2.groupBy(F.col("u").alias("id")).agg(
                F.count(F.lit(1)).alias("degree")
            )
            nxt = deg2.filter(F.col("degree") >= k).select("id").localCheckpoint(
                eager=True
            )
            n_next = nxt.count()
            release(alive)
            alive = nxt
            if n_next == n_alive:
                n_alive = n_next
                break
            n_alive = n_next
        # final degrees within the core
        e2 = (
            sym.join(alive.withColumnRenamed("id", "u"), "u", "left_semi")
            .join(alive.withColumnRenamed("id", "v"), "v", "left_semi")
        )
        return e2.groupBy(F.col("u").alias("id")).agg(
            F.count(F.lit(1)).alias("degree")
        )
    finally:
        sym.unpersist()


def core_numbers(
    spark: SparkSession,
    edges: DataFrame,
    max_k: int = 64,
    max_rounds_per_k: int = 100,
    num_partitions: int | None = None,
) -> DataFrame:
    """Full k-shell decomposition -> (id, coreness) for every vertex of
    the edge set (isolated-after-dedup vertices get coreness 0).

    coreness(v) = the largest k such that v survives in the k-core.
    Computed by ascending-k peeling: the (k+1)-core is peeled FROM the
    k-core's survivors (the alive set shrinks monotonically across the
    whole decomposition — no restart per k). Outer iterations =
    degeneracy of the graph (small on web-ish graphs: the densest
    subgraph bounds it), inner peel rounds as in ``k_core``.

    Raises if ``max_k`` is exhausted while vertices survive — partial
    corenesses are never returned silently.
    """
    P = num_partitions or spark.sparkContext.defaultParallelism
    sym = (
        edges.select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .union(
            edges.select(F.col("dst").alias("u"), F.col("src").alias("v"))
            .filter(F.col("u") != F.col("v"))
        )
        .distinct()
        .repartition(P, "u")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    from .pagerank import vertex_universe

    verts = vertex_universe(spark, edges).localCheckpoint(eager=True)
    alive = (
        sym.select(F.col("u").alias("id")).distinct().localCheckpoint(eager=True)
    )
    shells: DataFrame | None = None
    try:
        for k in range(1, max_k + 1):
            if alive.limit(1).count() == 0:
                break
            # peel the k-core out of the current survivors
            core = alive
            for _ in range(max_rounds_per_k):
                e2 = sym.join(
                    core.withColumnRenamed("id", "u"), "u", "left_semi"
                ).join(core.withColumnRenamed("id", "v"), "v", "left_semi")
                nxt = (
                    e2.groupBy(F.col("u").alias("id"))
                    .agg(F.count(F.lit(1)).alias("degree"))
                    .filter(F.col("degree") >= k)
                    .select("id")
                    .localCheckpoint(eager=True)
                )
                fixed = nxt.count() == core.count()
                if core is not alive:  # shells read alive, not inner rounds
                    release(core)
                core = nxt
                if fixed:
                    break
            # survivors of the (k-1)-core that did not make the k-core
            # have coreness k-1
            dropped = alive.join(core, "id", "left_anti").select(
                "id", F.lit(k - 1).alias("coreness")
            )
            shells = dropped if shells is None else shells.union(dropped)
            alive = core
        if alive.limit(1).count() > 0:
            raise RuntimeError(
                f"core_numbers: vertices above the max_k={max_k} cap"
            )
        out = verts.join(shells, "id", "left") if shells is not None else (
            verts.withColumn("coreness", F.lit(None).cast("long"))
        )
        return out.select(
            "id", F.coalesce("coreness", F.lit(0)).alias("coreness")
        )
    finally:
        sym.unpersist()
