"""Deterministic distributed Louvain community detection.
[north_rule family — no reference code; the reference implements only
PageRank (RunLumpPrRoundTask.java), Louvain is the community-structure
counterpart every link-graph stack ships next to LPA.]

Blondel et al. 2008 ("Fast unfolding of communities in large
networks") adapted to a synchronous, deterministic, shuffle-shaped
form (cf. Ghosh et al. 2018 distributed Louvain):

  * level = (move rounds until quiescent) -> contract communities ->
    recurse on the coarse graph; final labels composed back to level-0
    vertex ids.
  * move round r: every vertex v with pmod(id, 2) == r % 2 evaluates
    the modularity gain of joining each neighboring community and
    moves only on a STRICT improvement over staying (ties stay), with
    the distributed-Louvain singleton-swap guard (two singleton
    communities may only merge toward the smaller label — prevents
    symmetric pair oscillation under synchronous updates; Ghosh et
    al.). Alternating the parity class breaks longer two-coloring
    cycles. Classic Louvain is visit-order-dependent; BASELINE.json's
    "label assignments match exactly" rule forces this fixed,
    replayable schedule instead.
  * the gain comparison is carried out in EXACT 64-bit integer
    arithmetic: argmax_c of the standard gain
        k_{v,c} - deg(v) * tot(c \\ v) / (2m)
    is equivalent to argmax of
        score(v,c) = 2m * k_{v,c} - deg(v) * (tot(c) - [c = c_v] deg(v))
    with ties broken toward the smaller community label. No floats
    anywhere, so the SQL oracle and the pure-Python replica match
    bit-for-bit. Envelope: |score| <= 2m * deg_max < 2^63 holds to
    ~10^9 edges with 10^9-degree hubs; coarse levels only shrink.

Physical shape per move round: adjacency join labels (shuffle the
16-byte label table), groupBy (vertex, community) partial-agg, one
broadcastable community-totals table (|communities| rows, shrinks
every level), argmax via max(struct(...)) — no window sort. The
adjacency table is lineage-cut once per level; per-round state is
labels only, exactly the PageRank loop's rank-table discipline
(operators/pagerank.py). Checkpoints go through plans/lineage.py
cut_lineage, NOT bare localCheckpoint: the move round joins several
labels-derived tables, so inherited size estimates would be cubed
every round and the BigInteger stats math comes to dominate planning
(see lineage.py for the measurement).

Adjacency normal form used throughout: (u, v, w) with BOTH directions
present for u != v and a SINGLE row for u == v whose weight counts
twice in the degree (standard self-loop convention, so 2m == sum of
all degrees). Level 0 is the simple undirected graph: w = 1, no
self-loops.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dxa_pagerank_spark.plans.lineage import cut_lineage

from .superstep import release


def _adjacency(edges: DataFrame) -> DataFrame:
    """Directed (src,dst) -> level-0 normal form (u, v, w=1)."""
    pairs = edges.select(
        F.col("src").cast("long").alias("u"),
        F.col("dst").cast("long").alias("v"),
    )
    rev = pairs.select(F.col("v").alias("u"), F.col("u").alias("v"))
    return (
        pairs.union(rev)
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .withColumn("w", F.lit(1).cast("long"))
    )


def _degrees(adj: DataFrame) -> DataFrame:
    """(id, deg) — self-loop weight counts twice."""
    return adj.groupBy(F.col("u").alias("id")).agg(
        F.sum(
            F.when(F.col("u") == F.col("v"), 2 * F.col("w")).otherwise(
                F.col("w")
            )
        ).alias("deg")
    )


def louvain_move_round(
    adj: DataFrame,
    labels: DataFrame,
    deg: DataFrame,
    m2: int,
    parity: int,
) -> DataFrame:
    """One synchronous gain-argmax move round over the parity class.

    labels: (id, c); deg: (id, deg); m2 = 2m (sum of degrees).
    Returns new (id, c). Pure column algebra — callers own persistence.
    """
    lab = labels.alias("lab")
    # k_{v,c}: weight from v into each neighboring community
    # (self-loops excluded — they move with v and cancel in the gain).
    kin = (
        adj.filter(F.col("u") != F.col("v"))
        .join(lab, F.col("v") == F.col("lab.id"))
        .groupBy(F.col("u").alias("vid"), F.col("lab.c").alias("cand"))
        .agg(F.sum("w").alias("kin"))
    )
    # staying is always a candidate: a zero-kin own row per vertex.
    # May duplicate a real own-community kin row — harmless, the stay
    # aggregate below takes the max and the real row dominates.
    own_zero = labels.select(
        F.col("id").alias("vid"),
        F.col("c").alias("cand"),
        F.lit(0).cast("long").alias("kin"),
    )
    # community degree totals + sizes — |communities| rows, broadcast
    tot = (
        labels.join(deg, "id")
        .groupBy("c")
        .agg(F.sum("deg").alias("tot"), F.count(F.lit(1)).alias("csize"))
        .withColumnRenamed("c", "cand")
    )
    vstate = labels.select(
        F.col("id").alias("vid"), F.col("c").alias("c_cur")
    ).join(deg.withColumnRenamed("id", "vid"), "vid")
    scored = (
        kin.unionByName(own_zero)
        .join(F.broadcast(tot), "cand")
        .join(vstate, "vid")
        .select(
            "vid",
            "cand",
            "c_cur",
            "csize",
            (
                F.lit(int(m2)) * F.col("kin")
                - F.col("deg")
                * (
                    F.col("tot")
                    - F.when(
                        F.col("cand") == F.col("c_cur"), F.col("deg")
                    ).otherwise(F.lit(0).cast("long"))
                )
            ).alias("score"),
        )
    )
    is_own = F.col("cand") == F.col("c_cur")
    agg = scored.groupBy("vid", "c_cur").agg(
        F.max(F.when(is_own, F.col("score"))).alias("stay_score"),
        F.max(F.when(is_own, F.col("csize"))).alias("own_size"),
        F.max(
            F.when(
                ~is_own,
                F.struct(
                    F.col("score"),
                    (-F.col("cand")).alias("neg"),
                    F.col("csize").alias("cand_size"),
                ),
            )
        ).alias("top"),
    )
    move = (
        (F.pmod(F.col("vid"), F.lit(2)) == parity)
        & F.col("top").isNotNull()
        & (F.col("top.score") > F.col("stay_score"))
        & ~(
            (F.col("own_size") == 1)
            & (F.col("top.cand_size") == 1)
            & (-F.col("top.neg") > F.col("c_cur"))
        )
    )
    return agg.select(
        F.col("vid").alias("id"),
        F.when(move, -F.col("top.neg")).otherwise(F.col("c_cur")).alias("c"),
        (
            F.when(move, -F.col("top.neg")).otherwise(F.col("c_cur"))
            != F.col("c_cur")
        ).cast("long").alias("changed"),
    )


def _contract(adj: DataFrame, labels: DataFrame) -> DataFrame:
    """Coarsen: communities become vertices, weights aggregate; intra-
    community weight folds into one self-loop per community (both
    directions of each internal pair sum to an even total, halved)."""
    lu = labels.select(F.col("id").alias("u"), F.col("c").alias("cu"))
    lv = labels.select(F.col("id").alias("v"), F.col("c").alias("cv"))
    mapped = adj.join(lu, "u").join(lv, "v")
    inter = (
        mapped.filter(F.col("cu") != F.col("cv"))
        .groupBy(F.col("cu").alias("u"), F.col("cv").alias("v"))
        .agg(F.sum("w").alias("w"))
    )
    intra_pairs = (
        mapped.filter((F.col("cu") == F.col("cv")) & (F.col("u") != F.col("v")))
        .groupBy(F.col("cu").alias("cid"))
        .agg((F.sum("w") / 2).cast("long").alias("w_pairs"))
    )
    old_loops = (
        mapped.filter(F.col("u") == F.col("v"))
        .groupBy(F.col("cu").alias("cid"))
        .agg(F.sum("w").alias("w_self"))
    )
    loops = (
        intra_pairs.join(old_loops, "cid", "full")
        .select(
            F.col("cid").alias("u"),
            F.col("cid").alias("v"),
            (
                F.coalesce(F.col("w_pairs"), F.lit(0))
                + F.coalesce(F.col("w_self"), F.lit(0))
            ).cast("long").alias("w"),
        )
        .filter(F.col("w") > 0)
    )
    return inter.unionByName(loops)


@dataclass
class LouvainResult:
    labels: DataFrame  # (id, community) at level 0
    levels: int
    move_rounds: int


def louvain(
    spark: SparkSession,
    edges: DataFrame,
    max_move_rounds: int = 16,
    max_levels: int = 10,
) -> LouvainResult:
    """Full multilevel Louvain -> (id, community); community labels are
    level-0 vertex ids (each community is named after one member)."""
    adj = cut_lineage(_adjacency(edges))
    global_labels = None  # (id, community) over level-0 ids
    total_rounds = 0
    levels = 0

    for _level in range(max_levels):
        deg = cut_lineage(_degrees(adj))
        m2 = deg.agg(F.sum("deg")).collect()[0][0] or 0
        if m2 == 0:
            break
        labels = cut_lineage(deg.select("id", F.col("id").alias("c")))
        held = labels  # the cut frame behind labels
        level_moved = 0
        idle = 0  # consecutive zero-move rounds; 2 = full parity cycle
        for r in range(max_move_rounds):
            stepped = cut_lineage(
                louvain_move_round(adj, labels, deg, m2, parity=r % 2)
            )
            moved = stepped.agg(F.sum("changed")).collect()[0][0] or 0
            release(held)
            held = stepped
            labels = stepped.select("id", "c")
            total_rounds += 1
            level_moved += moved
            idle = idle + 1 if moved == 0 else 0
            if idle >= 2:
                break
        levels += 1
        if level_moved == 0:
            if global_labels is None:
                global_labels = labels
            break
        # compose: level-k labels relabel the communities of the
        # accumulated level-0 mapping
        if global_labels is None:
            global_labels = labels
        else:
            step = labels.select(
                F.col("id").alias("community"), F.col("c").alias("c_new")
            )
            global_labels = (
                global_labels.withColumnRenamed("c", "community")
                .join(step, "community")
                .select("id", F.col("c_new").alias("c"))
            )
        global_labels = cut_lineage(global_labels)
        new_adj = cut_lineage(_contract(adj, labels))
        release(adj)
        release(deg)
        adj = new_adj

    if global_labels is None:  # empty graph
        global_labels = spark.createDataFrame([], "id long, c long")
    return LouvainResult(
        labels=global_labels.select("id", F.col("c").alias("community")),
        levels=levels,
        move_rounds=total_rounds,
    )


def louvain_bounded(
    spark: SparkSession, edges: DataFrame, rounds: int = 2
) -> DataFrame:
    """SQL-expressible bounded form: `rounds` synchronous move rounds
    at level 0 (parity 0, 1, ...), no contraction. Driver-contract
    counterpart of the full fixpoint (like cc_one_round / lpa_one_round
    for their loops)."""
    adj = cut_lineage(_adjacency(edges))
    deg = cut_lineage(_degrees(adj))
    m2 = deg.agg(F.sum("deg")).collect()[0][0] or 0
    labels = deg.select("id", F.col("id").alias("c"))
    for r in range(rounds):
        # value-neutral per-round cut: the move round references the
        # label table four times, so an uncheckpointed plan re-evaluates
        # the whole previous round 4x (16x after two rounds)
        labels = cut_lineage(
            louvain_move_round(adj, labels, deg, m2, parity=r % 2)
        ).select("id", "c")
    return labels.select("id", F.col("c").alias("community"))
