"""Neighborhood function & harmonic centrality (HyperBall design).

north_rule scope extension (no reference code).  Web-graph structural
metrics from Boldi/Vigna's HyperBall (public literature, PAPERS.md):
iterate the ball recurrence

    B_0(v)     = {v}
    B_{t+1}(v) = B_t(v)  UNION  union over (v,w) in E of B_t(w)

so |B_t(v)| counts vertices within distance t FROM v along out-edges
(run it over reversed edges for classic in-distance centralities).
From the per-round sizes:

    #at distance exactly t from/to v  =  |B_t(v)| - |B_{t-1}(v)|
    harmonic centrality  H(v)         =  sum_t (|B_t|-|B_{t-1}|)/t
    neighborhood function N(t)        =  sum_v |B_t(v)|
                                      =  #pairs (u,w) with d(u,w) <= t

Two modes sharing one loop:

* ``mode='exact'`` — balls are distinct-id arrays
  (flatten + array_distinct per round).  Exact, SQL-checkable, but the
  state is O(sum of ball sizes) = O(N^2) worst case: the correctness
  form, for tests/oracles and small graphs.
* ``mode='hll'`` — balls are Apache DataSketches HLL sketches via the
  built-in ``hll_sketch_agg`` / ``hll_union_agg`` /
  ``hll_sketch_estimate`` (JVM-side, no Python).  State is a fixed
  2^lgK-register sketch per vertex regardless of ball size — this IS
  HyperBall, and the 100-TB path: per round one |V|-row shuffle of
  constant-width sketches, exactly the PageRank loop's shape.

Both modes: edges deduplicated up front (reachability semantics),
adjacency partitioned+persisted once, per-round shuffle is the ball
table only, localCheckpoint truncates lineage each round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from pyspark.storagelevel import StorageLevel

from .superstep import release


def neighborhood_profile(
    spark: SparkSession,
    edges: DataFrame,
    rounds: int = 6,
    mode: str = "exact",
    direction: str = "out",
    lg_k: int = 12,
    num_partitions: int | None = None,
) -> DataFrame:
    """-> (id, t, ball_size) for t in 0..rounds.

    ``direction='out'``: ball_size counts vertices reachable FROM id
    within t hops.  ``direction='in'``: vertices that REACH id (the
    orientation classic closeness/harmonic centrality wants).
    ``mode='hll'`` returns DataSketches estimates (ball_size double).
    """
    if mode not in ("exact", "hll"):
        raise ValueError(f"unknown mode {mode!r}")
    if direction not in ("out", "in"):
        raise ValueError(f"unknown direction {direction!r}")
    P = num_partitions or spark.sparkContext.defaultParallelism

    e = edges.select("src", "dst")
    if direction == "in":
        e = e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    adj = (
        e.distinct().repartition(P, "dst").persist(StorageLevel.MEMORY_AND_DISK)
    )
    verts = (
        e.select(F.col("src").alias("id"))
        .union(e.select(F.col("dst").alias("id")))
        .distinct()
        .repartition(P, "id")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )

    if mode == "exact":
        balls = verts.select("id", F.array(F.col("id")).alias("ball"))
        size_col = F.size("ball").cast("long").alias("ball_size")
    else:
        # one-row group per vertex -> initial sketch of {id}
        balls = verts.groupBy("id").agg(
            F.hll_sketch_agg(F.col("id"), F.lit(lg_k)).alias("ball")
        )
        size_col = F.hll_sketch_estimate("ball").cast("double").alias(
            "ball_size"
        )

    balls = balls.localCheckpoint(eager=True)
    held = [balls]
    profiles = [balls.select("id", F.lit(0).alias("t"), size_col)]
    try:
        for t in range(1, rounds + 1):
            nb = adj.join(balls.withColumnRenamed("id", "dst"), "dst").select(
                F.col("src").alias("id"), "ball"
            )
            merged = balls.unionByName(nb)
            if mode == "exact":
                nxt = merged.groupBy("id").agg(
                    F.array_distinct(
                        F.flatten(F.collect_list("ball"))
                    ).alias("ball")
                )
            else:
                nxt = merged.groupBy("id").agg(
                    F.hll_union_agg("ball").alias("ball")
                )
            balls = nxt.localCheckpoint(eager=True)
            held.append(balls)
            profiles.append(balls.select("id", F.lit(t).alias("t"), size_col))
        out = profiles[0]
        for p in profiles[1:]:
            out = out.unionByName(p)
        # materialize before releasing the inputs the lineage still holds
        # (every round's balls: each profile reads its own round's)
        out = out.localCheckpoint(eager=True)
        for b in held:
            release(b)
        return out
    finally:
        adj.unpersist()
        verts.unpersist()


def harmonic_centrality(
    spark: SparkSession,
    edges: DataFrame,
    rounds: int = 6,
    mode: str = "exact",
    num_partitions: int | None = None,
) -> DataFrame:
    """-> (id, harmonic) — sum of 1/d(u, id) over u reaching id within
    ``rounds`` hops (truncated harmonic centrality; in-distance, the
    standard web-centrality orientation).  Derived from the in-ball
    profile: #at distance exactly t = |B_t| - |B_{t-1}|."""
    prof = neighborhood_profile(
        spark,
        edges,
        rounds=rounds,
        mode=mode,
        direction="in",
        num_partitions=num_partitions,
    )
    w = F.col("ball_size") - F.lag("ball_size").over(
        Window.partitionBy("id").orderBy("t")
    )
    delta = prof.select("id", "t", w.alias("at_t")).filter(F.col("t") > 0)
    return delta.groupBy("id").agg(
        F.sum(F.col("at_t") / F.col("t")).alias("harmonic")
    )


def neighborhood_function(
    spark: SparkSession,
    edges: DataFrame,
    rounds: int = 6,
    mode: str = "exact",
    num_partitions: int | None = None,
) -> DataFrame:
    """-> (t, n_pairs) — N(t) = #ordered pairs (u,w) with d(u,w) <= t
    (self-pairs included at t=0).  The curve behind average-distance
    and effective-diameter estimates."""
    prof = neighborhood_profile(
        spark, edges, rounds=rounds, mode=mode, num_partitions=num_partitions
    )
    agg = F.sum("ball_size")
    if mode == "exact":
        agg = agg.cast("long")
    return prof.groupBy("t").agg(agg.alias("n_pairs"))


def effective_diameter(
    spark: SparkSession,
    edges: DataFrame,
    rounds: int = 6,
    fraction: float = 0.9,
    mode: str = "exact",
    num_partitions: int | None = None,
) -> DataFrame:
    """-> one row (eff_diameter, t_ceil, target_pairs, max_pairs).

    The standard interpolated effective diameter (Palmer/Faloutsos
    ANF; Boldi/Vigna HyperBall — public literature): the smallest t
    where N(t) >= fraction * N(rounds), linearly interpolated between
    the two bracketing rounds:

        d_eff = (t-1) + (target - N(t-1)) / (N(t) - N(t-1))

    (0.0 when N(0) already meets the target). Derived entirely from
    the (rounds+1)-row neighborhood-function curve, so the 100-TB cost
    is the curve itself (``mode='hll'`` for the sketch path); the
    interpolation below is a constant-size window computation.
    """
    nf = neighborhood_function(
        spark, edges, rounds=rounds, mode=mode, num_partitions=num_partitions
    )
    w_all = Window.partitionBy()
    w_t = Window.partitionBy().orderBy("t")
    target = F.lit(float(fraction)) * F.max("n_pairs").over(w_all)
    curve = nf.select(
        "t",
        F.col("n_pairs").cast("double").alias("n"),
        F.lag(F.col("n_pairs").cast("double")).over(w_t).alias("prev"),
        target.cast("double").alias("target"),
        F.max(F.col("n_pairs").cast("double")).over(w_all).alias("max_n"),
    )
    hit = curve.filter(F.col("n") >= F.col("target"))
    first = hit.groupBy().agg(F.min("t").alias("t_ceil"))
    return (
        hit.join(first, hit["t"] == first["t_ceil"])
        .select(
            F.when(F.col("t") == 0, F.lit(0.0))
            .otherwise(
                F.col("t")
                - 1
                + (F.col("target") - F.col("prev"))
                / (F.col("n") - F.col("prev"))
            )
            .alias("eff_diameter"),
            F.col("t_ceil").cast("int").alias("t_ceil"),
            F.col("target").alias("target_pairs"),
            F.col("max_n").cast("long").alias("max_pairs"),
        )
    )
