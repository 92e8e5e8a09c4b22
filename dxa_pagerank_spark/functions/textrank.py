"""TextRank keyword extraction. [north_rule extension — no reference
code; TextRank (Mihalcea & Tarau, EMNLP 2004) is the canonical
graph-based keyword extractor: build a word co-occurrence graph over
the corpus and rank vertices with a weighted PageRank — it reuses this
engine's two halves (text windowing + link analysis) in one operator.]

Graph: an undirected edge between two distinct tokens whenever they
occur within `window` positions of each other in a document; weight =
corpus-wide co-occurrence count. Scores iterate the weighted TextRank
law from S=1:

    S(u) = (1 - d) + d * sum_{v in N(u)} (w_uv / sumw_v) * S(v)

(the paper's form — no dangling mass, no 1/N normalization; isolated
tokens never enter the graph). Keywords = global top_k by score with
deterministic term tie-breaks.

100-TB shape: token positions explode once; the co-occurrence pair
join is an equi-join on the doc id with a
window-bounded position filter — per-doc fan-out is len * window, and
the pair aggregation is map-side combinable into a vocab^2-bounded
(in practice Zipf-sparse) edge table. The iteration then runs on the
EDGE/VOCAB tables only (corpus-independent size): each round is one
broadcastable 3-way equi-join + groupBy sum, lineage-truncated. The
final top_k is a sort-limit (TakeOrderedAndProject).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.superstep import release


def cooccurrence_edges(
    documents: DataFrame,
    window: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """-> (u, v, w): undirected (canonical u < v) token co-occurrence
    counts within `window` positions inside each document."""
    w = int(window)
    toks = documents.select(
        F.col(id_col).alias("id"),
        F.posexplode(
            F.filter(F.split(F.col(text_col), " "), lambda t: t != "")
        ).alias("pos", "term"),
    )
    a = toks.select("id", F.col("pos").alias("i"), F.col("term").alias("ta"))
    b = toks.select("id", F.col("pos").alias("j"), F.col("term").alias("tb"))
    pairs = (
        a.join(b, "id")
        .where(
            (F.col("j") > F.col("i"))
            & (F.col("j") - F.col("i") <= w)
            & (F.col("ta") != F.col("tb"))
        )
        .select(
            F.least("ta", "tb").alias("u"),
            F.greatest("ta", "tb").alias("v"),
        )
    )
    return pairs.groupBy("u", "v").agg(F.count(F.lit(1)).alias("w"))


def textrank_keywords(
    documents: DataFrame,
    window: int = 2,
    damping: float = 0.85,
    rounds: int = 10,
    top_k: int = 30,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """-> (term, score): the corpus's top_k TextRank keywords."""
    und = cooccurrence_edges(documents, window, id_col, text_col)
    # both directions: gather at u from neighbor v
    ed = und.union(
        und.select(F.col("v").alias("u"), F.col("u").alias("v"), "w")
    ).localCheckpoint(eager=True)
    verts = ed.select(F.col("u").alias("term")).distinct()
    sumw = ed.groupBy(F.col("v").alias("term")).agg(
        F.sum("w").alias("sumw")
    )
    scores = verts.select(
        "term", F.lit(1.0).alias("score")
    ).localCheckpoint(eager=True)
    base = F.lit(1.0 - damping)
    for _ in range(rounds):
        gathered = (
            ed.join(
                sumw.withColumnRenamed("term", "v_t"),
                ed.v == F.col("v_t"),
            )
            .join(
                scores.withColumnRenamed("term", "v_s"),
                ed.v == F.col("v_s"),
            )
            .select(
                "u",
                (
                    (F.col("w") / F.col("sumw")) * F.col("score")
                ).alias("contrib"),
            )
            .groupBy("u")
            .agg(F.sum("contrib").alias("acc"))
        )
        new_scores = (
            verts.join(gathered, verts.term == gathered.u, "left")
            .select(
                "term",
                (
                    base + F.lit(damping) * F.coalesce("acc", F.lit(0.0))
                ).alias("score"),
            )
            .localCheckpoint(eager=True)
        )
        release(scores)
        scores = new_scores
    return (
        scores.select("term", F.round("score", 6).alias("score"))
        .orderBy(F.desc("score"), F.asc("term"))
        .limit(top_k)
    )


def pmi_neighbors(
    documents: DataFrame,
    window: int = 2,
    top_k: int = 5,
    min_count: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """-> (term, neighbor, w, pmi, nbr_rank): each term's top_k
    co-occurrence neighbors by PMI — the distributional-thesaurus view
    (Church & Hanks 1990) over the same co-occurrence graph TextRank
    iterates on. min_count drops hapax pairs (classic PMI noise
    guard). PMI = ln(w * T / (sumw_u * sumw_v)) over the symmetrized
    weights, exact integers until the ln; ranks use the 6-dp value
    with (neighbor) tie-break, so the top_k cut is deterministic and
    the rank filter plans as WindowGroupLimit."""
    from pyspark.sql import Window

    und = cooccurrence_edges(documents, window, id_col, text_col).filter(
        F.col("w") >= min_count
    )
    ed = und.union(
        und.select(F.col("v").alias("u"), F.col("u").alias("v"), "w")
    )
    sumw = ed.groupBy("u").agg(F.sum("w").alias("sumw"))
    tot = ed.agg(F.sum("w").alias("t"))
    scored = (
        ed.join(sumw.withColumnRenamed("u", "u_t"), ed.u == F.col("u_t"))
        .join(
            sumw.withColumnRenamed("u", "v_t").withColumnRenamed(
                "sumw", "sumw_v"
            ),
            ed.v == F.col("v_t"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("u").alias("term"),
            F.col("v").alias("neighbor"),
            "w",
            F.round(
                F.log(
                    F.col("w")
                    * F.col("t")
                    / (F.col("sumw") * F.col("sumw_v"))
                ),
                6,
            ).alias("pmi"),
        )
    )
    rk = Window.partitionBy("term").orderBy(
        F.desc("pmi"), F.asc("neighbor")
    )
    return (
        scored.withColumn("nbr_rank", F.row_number().over(rk))
        .filter(F.col("nbr_rank") <= top_k)
    )
