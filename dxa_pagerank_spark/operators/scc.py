"""Strongly connected components + web bowtie decomposition.
[north_rule extension — no reference code; dxa-pageRank treats the graph
as a directed edge set but never computes SCCs]

SCC is THE structural decomposition of a web link graph (Broder et al.,
"Graph structure in the Web", WWW 2000: the bowtie). Algorithm here is
the distributed trim+coloring scheme (Orzan 2004; Slota/Rajamanickam/
Madduri 2014 "BFS and Coloring-based Parallel Algorithms for Strongly
Connected Components"), which is join/aggregate-shaped and therefore a
pure DataFrame program — no Tarjan-style sequential stack:

  repeat until no vertices remain:
    1. TRIM: iteratively peel vertices with in-degree 0 or out-degree 0
       in the remaining induced subgraph — each is a singleton SCC.
       (On web graphs this alone removes most vertices.)
    2. COLOR: forward min-label propagation to fixpoint:
       color(v) = min id u such that u reaches v (in the subgraph).
       Every SCC lies entirely inside one color class, and each class
       root r (color(r) == r) is the minimum id of its SCC.
    3. COLLECT: backward propagation from each root restricted to its
       color class marks exactly SCC(r) (a u->r path from a same-color
       vertex cannot leave the class — any vertex on it both reaches r
       and is reached by r's color root). Assign scc = color, remove.

Every inner step is (groupBy min/max) + (join on the grouping key) —
map-side partial aggregation, the same per-round plan shape as the
connected-components and PageRank loops. Working sets shrink every
outer round and are re-materialized with localCheckpoint to truncate
lineage. Outer rounds are O(few) on web-like graphs (one giant SCC +
trim-able periphery); worst case O(#SCCs) on a path of cycles, bounded
by max_outer.

The SCC label is the minimum vertex id in the component (exact, so the
DuckDB mutual-reachability closure oracle can check it value-for-value).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .pagerank import vertex_universe
from .superstep import release


def _ckpt(df: DataFrame) -> DataFrame:
    return df.localCheckpoint(eager=True)


def _induced(edges: DataFrame, verts: DataFrame) -> DataFrame:
    """Edges with both endpoints in verts(id) — two semi-joins."""
    return edges.join(
        verts.select(F.col("id").alias("src")), "src", "left_semi"
    ).join(verts.select(F.col("id").alias("dst")), "dst", "left_semi")


def _min_label_fixpoint(
    edges: DataFrame, labels: DataFrame, max_rounds: int
) -> DataFrame:
    """Propagate min label along edge direction (src -> dst) to
    fixpoint. labels: (id, lab) seeded with lab = id. Returns its last
    checkpoint (id, lab, changed); the earlier rounds' are released.

    Raises if max_rounds is exhausted before the fixpoint: a partial
    propagation would silently split one true SCC into several wrong
    labels downstream (COLLECT would mark only part of the class)."""
    n_changed = 0
    held = None  # this loop's last checkpoint; the seed labels are the caller's
    for _ in range(max_rounds):
        pushed = (
            edges.join(labels, edges.src == labels.id)
            .groupBy("dst")
            .agg(F.min("lab").alias("in_lab"))
        )
        new = _ckpt(
            labels.alias("l")
            .join(pushed.alias("p"), F.col("l.id") == F.col("p.dst"), "left")
            .select(
                F.col("l.id").alias("id"),
                F.least(
                    F.col("l.lab"),
                    F.coalesce(F.col("p.in_lab"), F.col("l.lab")),
                ).alias("lab"),
                (
                    F.col("l.lab")
                    > F.coalesce(F.col("p.in_lab"), F.col("l.lab"))
                ).cast("long").alias("changed"),
            )
        )
        n_changed = new.agg(F.sum("changed")).collect()[0][0] or 0
        if held is not None:
            release(held)
        held = new
        labels = new.select("id", "lab")
        if n_changed == 0:
            break
    if n_changed != 0:
        raise RuntimeError(
            f"min-label propagation did not converge in {max_rounds} "
            "rounds (graph diameter exceeds max_inner); raise max_inner "
            "— continuing would emit incorrect SCC labels"
        )
    return labels if held is None else held


def _reach_fixpoint(
    edges: DataFrame,
    seeds: DataFrame,
    direction: str,
    max_rounds: int,
) -> DataFrame:
    """Set of vertex ids reachable from seeds(id) along ('fwd') or
    against ('bwd') edge direction, seeds included. Returns a checkpoint
    of its own; every other checkpoint of the closure is released."""
    a, b = ("src", "dst") if direction == "fwd" else ("dst", "src")
    reached = _ckpt(seeds.select("id").distinct())
    frontier = reached
    converged = False
    for _ in range(max_rounds):
        step = (
            edges.join(
                frontier.select(F.col("id").alias(a)), a, "left_semi"
            )
            .select(F.col(b).alias("id"))
            .distinct()
        )
        new = _ckpt(step.join(reached, "id", "left_anti"))
        if frontier is not reached:
            release(frontier)
        if new.limit(1).count() == 0:
            release(new)
            converged = True
            break
        grown = _ckpt(reached.union(new))
        release(reached)
        reached, frontier = grown, new
    if not converged:
        raise RuntimeError(
            f"reachability closure did not converge in {max_rounds} "
            "rounds (graph diameter exceeds max_inner); raise max_inner "
            "— a partial closure would emit incorrect components"
        )
    return reached


def strongly_connected_components(
    spark: SparkSession,
    edges: DataFrame,
    num_vertices: int | None = None,
    vertices: DataFrame | None = None,
    max_outer: int = 50,
    max_inner: int = 200,
) -> DataFrame:
    """-> (id, scc) over the vertex universe; scc = min id in the
    strongly connected component (isolated/trivial vertices are their
    own singleton SCC)."""
    cuts: list[DataFrame] = []  # this call's checkpoints not yet released

    def ckpt(df: DataFrame) -> DataFrame:
        cuts.append(_ckpt(df))
        return cuts[-1]

    def keep_only(*kept: DataFrame | None) -> None:
        """Release every checkpoint of the call except ``kept``."""
        for cut in cuts:
            if all(cut is not k for k in kept):
                release(cut)
        cuts[:] = [c for c in cuts if any(c is k for k in kept)]

    verts = ckpt(vertex_universe(spark, edges, num_vertices, vertices))
    live_edges = ckpt(
        edges.select("src", "dst")
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    done: DataFrame | None = None

    def emit(assign: DataFrame) -> None:
        nonlocal done
        done = ckpt(assign if done is None else done.union(assign))

    live = verts
    for _ in range(max_outer):
        # --- TRIM: peel no-in / no-out vertices (singleton SCCs).
        # One conditional aggregate per layer: a vertex survives iff it
        # has BOTH an out-edge and an in-edge in the induced subgraph
        # (union + groupBy-max flags, map-side combinable — replaces the
        # old intersect + two limit(1).count() round-trips; peeled
        # layers are batch-emitted once after the loop).
        trimmed: list[DataFrame] = []
        while True:
            e = _induced(live_edges, live)
            both = (
                e.select(
                    F.col("src").alias("id"),
                    F.lit(1).alias("ho"),
                    F.lit(0).alias("hi"),
                )
                .unionAll(
                    e.select(
                        F.col("dst").alias("id"),
                        F.lit(0).alias("ho"),
                        F.lit(1).alias("hi"),
                    )
                )
                .groupBy("id")
                .agg(F.max("ho").alias("ho"), F.max("hi").alias("hi"))
                .filter((F.col("ho") == 1) & (F.col("hi") == 1))
                .select("id", F.lit(1).alias("keep"))
            )
            mark = ckpt(live.join(both, "id", "left"))
            if mark.filter(F.col("keep").isNull()).limit(1).count() == 0:
                break
            trimmed.append(mark.filter(F.col("keep").isNull()).select("id"))
            live = mark.filter(F.col("keep") == 1).select("id")
        if trimmed:
            peeled = trimmed[0]
            for t in trimmed[1:]:
                peeled = peeled.union(t)
            emit(peeled.select("id", F.col("id").alias("scc")))
        if live.limit(1).count() == 0:
            break
        live_edges = ckpt(_induced(live_edges, live))

        # --- COLOR: color(v) = min id reaching v in the subgraph.
        labels = _min_label_fixpoint(
            live_edges,
            live.select("id", F.col("id").alias("lab")),
            max_inner,
        )
        cuts.append(labels)
        colors = labels.withColumnRenamed("lab", "color")

        # --- COLLECT: backward-mark SCC(root) inside each color class.
        ce = ckpt(
            live_edges.alias("e")
            .join(
                colors.alias("cs"),
                F.col("e.src") == F.col("cs.id"),
            )
            .join(
                colors.alias("cd"),
                F.col("e.dst") == F.col("cd.id"),
            )
            .filter(F.col("cs.color") == F.col("cd.color"))
            .select("e.src", "e.dst")
        )
        marked = _reach_fixpoint(
            ce,
            colors.filter(F.col("id") == F.col("color")).select("id"),
            "bwd",
            max_inner,
        )
        cuts.append(marked)
        assigned = colors.join(marked, "id", "left_semi")
        emit(assigned.select("id", F.col("color").alias("scc")))
        live = ckpt(live.join(marked, "id", "left_anti"))
        if live.limit(1).count() == 0:
            break
        live_edges = ckpt(_induced(live_edges, live))
        # the round's state is in these three: free its trims, colors, marks
        keep_only(done, live, live_edges)

    unfinished = live.limit(1).count() > 0
    keep_only(done)
    if unfinished:
        # vertices left after max_outer were never decomposed; labeling
        # them singletons would be silently wrong — fail loudly instead
        raise RuntimeError(
            f"SCC decomposition did not finish in max_outer={max_outer} "
            "rounds (pathological SCC-chain structure); raise max_outer"
        )
    assert done is not None
    return done.select("id", "scc")


def bowtie_classes(
    spark: SparkSession,
    edges: DataFrame,
    num_vertices: int | None = None,
    vertices: DataFrame | None = None,
    max_inner: int = 200,
) -> DataFrame:
    """Broder bowtie decomposition -> (id, cls) with cls in
    ('core', 'in', 'out', 'other').

    core  = the largest SCC (ties broken by smallest scc id);
    in    = reaches the core but is not in it;
    out   = reachable from the core but not in it;
    other = everything else (tendrils, tubes, disconnected — merged:
            separating them needs only two more reach passes but the
            4-way split is the load-bearing corpus statistic).
    """
    sccs = strongly_connected_components(
        spark, edges, num_vertices, vertices, max_inner=max_inner
    )
    core_id = (
        sccs.groupBy("scc")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("scc"))
        .limit(1)
        .collect()[0]["scc"]
    )
    e = _ckpt(
        edges.select("src", "dst")
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    core = _ckpt(sccs.filter(F.col("scc") == core_id).select("id"))
    fwd = _reach_fixpoint(e, core, "fwd", max_inner)
    bwd = _reach_fixpoint(e, core, "bwd", max_inner)
    release(e)
    release(core)
    return (
        sccs.alias("s")
        .join(
            fwd.select(F.col("id"), F.lit(1).alias("f")).alias("fw"),
            "id",
            "left",
        )
        .join(
            bwd.select(F.col("id"), F.lit(1).alias("b")).alias("bw"),
            "id",
            "left",
        )
        .select(
            "id",
            F.when(F.col("s.scc") == F.lit(core_id), "core")
            .when(F.col("b").isNotNull(), "in")
            .when(F.col("f").isNotNull(), "out")
            .otherwise("other")
            .alias("cls"),
        )
    )
