"""Synchronous label propagation (LPA). [north_rule — no reference code]

Community detection over the undirected simple graph. The classic
algorithm is order-dependent; per BASELINE.json ("label assignments
match exactly") we fix a deterministic synchronous variant, shared with
the oracle (oracle.label_propagation_oracle):

  * labels init to the vertex id;
  * each round every vertex with >= 1 neighbor adopts the most frequent
    label among its neighbors (own label NOT counted); tie-break:
    smallest label;
  * stop at fixpoint or max_rounds.

Physical shape per round: edges ⋈ labels (shuffle the small label
table) -> groupBy (dst, label) count (map-side partial agg) -> per-dst
argmax via a single max(struct(cnt, -label)) aggregate — no window
function, so no extra sort; two shuffles total, both keyed by vertex.
Rounds run on the shared superstep loop (operators/superstep.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .superstep import supersteps


def label_propagation(
    spark: SparkSession,
    edges: DataFrame,
    num_vertices: int | None = None,
    vertices: DataFrame | None = None,
    max_rounds: int = 20,
) -> DataFrame:
    """-> labels(id, label); isolated vertices keep their own id."""
    from .components import _symmetrize
    from .pagerank import vertex_universe

    verts = vertex_universe(spark, edges, num_vertices, vertices)
    sym = (
        _symmetrize(
            edges.select(F.col("src").alias("u"), F.col("dst").alias("v"))
        )
        .localCheckpoint(eager=True)
    )

    labels = verts.select("id", F.col("id").alias("label")).localCheckpoint(
        eager=True
    )

    def step(labels):
        counts = (
            sym.join(labels, sym.u == labels.id)
            .groupBy(F.col("v").alias("vid"), "label")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        # argmax by (cnt desc, label asc): max(struct(cnt, -label)).
        best = counts.groupBy("vid").agg(
            F.max(F.struct(F.col("cnt"), (-F.col("label")).alias("neg")))
            .alias("top")
        ).select("vid", (-F.col("top.neg")).alias("new_label"))

        return (
            labels.alias("l")
            .join(best.alias("b"), F.col("l.id") == F.col("b.vid"), "left")
            .select(
                F.col("l.id").alias("id"),
                F.coalesce(F.col("b.new_label"), F.col("l.label")).alias("label"),
                (
                    F.coalesce(F.col("b.new_label"), F.col("l.label"))
                    != F.col("l.label")
                ).cast("long").alias("changed"),
            )
        )

    for _, labels, row, _ in supersteps(
        labels, step, [F.sum("changed")], max_rounds
    ):
        if not row[0]:
            break
    return labels.select("id", "label")


def seeded_label_propagation(
    spark: SparkSession,
    edges: DataFrame,
    seeds: DataFrame,
    rounds: int = 8,
    num_vertices: int | None = None,
    vertices: DataFrame | None = None,
) -> DataFrame:
    """Semi-supervised label spreading with hard-clamped seeds (the
    majority-vote hard variant of Zhu & Ghahramani, "Learning from
    labeled and unlabeled data with label propagation", CMU-CALD-02):
    seeds(id, label) keep their label every round; every other vertex
    synchronously adopts the most frequent label among its CURRENTLY
    labeled neighbors (ties to the smallest label), keeping its
    previous label when no neighbor is labeled this round; vertices
    never reached by any label stay NULL. Deterministic fixed-round
    trajectory — the topic/spam-class spreading counterpart of the
    unsupervised LPA above, replayable round-for-round in SQL.

    Physical shape per round: identical to label_propagation (two
    vertex-keyed shuffles: edges x labels, then the per-vertex
    max-struct argmax — no window), plus one seed-table left join
    (seed table is dimension-sized)."""
    from .components import _symmetrize
    from .pagerank import vertex_universe

    if rounds < 0:
        raise ValueError("rounds must be >= 0")
    verts = vertex_universe(spark, edges, num_vertices, vertices)
    sym = _symmetrize(
        edges.select(F.col("src").alias("u"), F.col("dst").alias("v"))
    ).localCheckpoint(eager=True)
    sd = seeds.select(
        F.col("id"), F.col("label").alias("seed_label")
    )
    base = verts.join(sd, "id", "left").localCheckpoint(eager=True)
    labels = base.select(
        "id", F.col("seed_label").alias("label")
    ).localCheckpoint(eager=True)

    def step(labels):
        counts = (
            sym.join(
                labels.filter(F.col("label").isNotNull()),
                sym.u == F.col("id"),
            )
            .groupBy(F.col("v").alias("vid"), "label")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        best = (
            counts.groupBy("vid")
            .agg(
                F.max(
                    F.struct(F.col("cnt"), (-F.col("label")).alias("neg"))
                ).alias("top")
            )
            .select("vid", (-F.col("top.neg")).alias("new_label"))
        )
        return (
            base.join(labels.select(F.col("id"), "label"), "id")
            .join(best, base["id"] == best["vid"], "left")
            .select(
                base["id"],
                F.coalesce(
                    "seed_label", "new_label", "label"
                ).alias("label"),
            )
        )

    for _, labels, _, _ in supersteps(labels, step, [F.count(F.lit(1))], rounds):
        pass
    return labels
