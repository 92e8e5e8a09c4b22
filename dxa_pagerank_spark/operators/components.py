"""Connected components. [north_rule — no reference code]

Alternating large-star / small-star min-label edge rewriting (Kiveris
et al., "Connected Components in MapReduce and Beyond"), a pure
DataFrame program: O(log^2 n) rounds even on pathological chains; the
scale path named by BASELINE.json north_star.

Component id = the minimum vertex id in the component (exact-match
tested against a union-find oracle).

Scale notes: every round is (groupBy min) + (join on the grouping key)
— partial-aggregated map-side; the working edge set shrinks toward one
star edge per vertex and is re-materialized per round by the shared
superstep loop (operators/superstep.py), whose one aggregate per round
is the edge-set signature the fixpoint test compares. Self-loops/
duplicates are dropped up front — they cannot change connectivity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .superstep import supersteps


def _symmetrize(pairs: DataFrame) -> DataFrame:
    """(u,v) pair set -> both directions, no self-loops, distinct."""
    rev = pairs.select(F.col("v").alias("u"), F.col("u").alias("v"))
    return pairs.union(rev).filter(F.col("u") != F.col("v")).distinct()


def _large_star(pairs: DataFrame) -> DataFrame:
    """large-star(E): over the symmetrized neighborhoods, for each node u
    let m = min(N(u) ∪ {u}); emit (v, m) for every neighbor v > u."""
    sym = _symmetrize(pairs)
    mins = (
        sym.groupBy("u")
        .agg(F.min("v").alias("mn"))
        .select("u", F.least(F.col("mn"), F.col("u")).alias("m"))
    )
    return (
        sym.filter(F.col("v") > F.col("u"))
        .join(mins, "u")
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(pairs: DataFrame) -> DataFrame:
    """small-star(E): for each node u over S = {v in N(u) : v < u},
    m = min(S ∪ {u}) = min(S); emit (x, m) for x in (S \\ {m}) ∪ {u}."""
    sym = _symmetrize(pairs)
    small = sym.filter(F.col("v") < F.col("u"))
    mins = small.groupBy("u").agg(F.min("v").alias("m"))
    from_nbrs = (
        small.join(mins, "u")
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )
    from_self = mins.select("u", F.col("m").alias("v"))
    return (
        from_nbrs.union(from_self)
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def connected_components(
    spark: SparkSession,
    edges: DataFrame,
    num_vertices: int | None = None,
    vertices: DataFrame | None = None,
    max_rounds: int = 50,
    stats: dict | None = None,
) -> DataFrame:
    """-> components(id, component) over the full vertex universe;
    isolated vertices are their own component. If `stats` is a dict,
    "rounds" is written into it (loop-length observability for the
    warm-start path below)."""
    from .pagerank import vertex_universe

    verts = vertex_universe(spark, edges, num_vertices, vertices)
    pairs = (
        edges.select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    return _attach(verts, _two_phase(pairs, max_rounds, stats=stats))


def incremental_components(
    spark: SparkSession,
    edges: DataFrame,
    prior_labels: DataFrame,
    num_vertices: int | None = None,
    vertices: DataFrame | None = None,
    max_rounds: int = 50,
    stats: dict | None = None,
) -> DataFrame:
    """Warm-start connected components for append-only graphs (the
    incremental-crawl counterpart of pagerank's initial_ranks):
    yesterday's (id, component) labels are injected as extra pair
    edges, so every previously-discovered component enters the loop as
    a ready-made star and the two-phase rewriting only has to stitch
    the newly-added edges — a handful of rounds over a near-fixpoint
    edge set instead of the cold O(log^2 n) schedule.

    CORRECTNESS REQUIRES append-only growth: every prior label must
    assert connectivity that still exists in `edges` (true when edges
    only accumulate, as with streaming/ingest.py drains). With edge
    deletions, recompute cold. Under that precondition the output is
    IDENTICAL to connected_components(edges) — extra intra-component
    edges never change the partition, and the min-id component naming
    is unaffected — which is exactly what the driver oracle pins.

    Prior-label ids absent from today's edges (isolated carry-overs)
    stay in the output universe with their self-label."""
    from .pagerank import vertex_universe

    verts = (
        vertex_universe(spark, edges, num_vertices, vertices)
        .union(prior_labels.select(F.col("id")))
        .distinct()
    )
    label_pairs = prior_labels.filter(
        F.col("id") != F.col("component")
    ).select(F.col("id").alias("u"), F.col("component").alias("v"))
    pairs = (
        edges.select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .union(label_pairs)
        .distinct()
        .localCheckpoint(eager=False)
    )
    return _attach(verts, _two_phase(pairs, max_rounds, stats=stats))


def _attach(verts: DataFrame, parents: DataFrame) -> DataFrame:
    """parents (u, root) for every non-isolated, non-root vertex ->
    full (id, component) table over the vertex universe."""
    return (
        verts.alias("vv")
        .join(parents.alias("p"), F.col("vv.id") == F.col("p.u"), "left")
        .select(
            F.col("vv.id").alias("id"),
            F.coalesce(F.col("p.v"), F.col("vv.id")).alias("component"),
        )
    )


def _edge_signature():
    """One map-side-combinable aggregate summarizing the edge SET:
    (count, sum of xxhash64(u,v), sum of seeded xxhash64). Both phases
    emit distinct pairs, so set equality reduces to signature equality
    up to a 2^-128 dual-hash collision — folded into the job that
    materialises the round, replacing the two full-edge-set exceptAll
    shuffles per round the r03 audit flagged (each was a shuffle of
    BOTH generations purely to detect convergence)."""
    # decimal(38,0) sums: a long-typed sum of 64-bit hashes overflows
    # under ANSI mode; decimal is exact to 10^38 (~10^19 edges here).
    return [
        F.count(F.lit(1)),
        F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")),
        F.sum(F.xxhash64(F.lit(0x9E3779B9), "u", "v").cast("decimal(38,0)")),
    ]


def _two_phase(
    pairs: DataFrame, max_rounds: int, stats: dict | None = None
) -> DataFrame:
    # also materialises the (lazily checkpointed) input pairs
    sig = pairs.agg(*_edge_signature()).collect()[0]
    edges, rounds = pairs, 0
    for rounds, edges, row, _ in supersteps(
        pairs, lambda e: _small_star(_large_star(e)), _edge_signature(), max_rounds
    ):
        # fixpoint: the star edge set is invariant under both phases
        if row == sig:
            break
        sig = row
    if stats is not None:
        stats["rounds"] = rounds
    # at fixpoint every edge points leaf -> component-min root
    return edges.groupBy("u").agg(F.min("v").alias("v"))
