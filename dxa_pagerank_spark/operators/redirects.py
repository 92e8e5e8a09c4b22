"""Redirect-chain resolution by pointer doubling. [north_rule
extension — no reference code; resolving HTTP redirect chains to their
canonical terminal URL is a standard crawl post-processing step
(3xx chains are collapsed before link-graph construction so PageRank
mass lands on the canonical page).]

Input is a functional graph redirects(src, dst) — each src redirects
to exactly one dst (duplicate srcs are collapsed to min(dst) for
determinism, loudly documented rather than silently arbitrary). The
resolver returns, for every src, the terminal of its chain (a node
that is not itself a redirect source), the exact hop count, and an
is_cycle flag for chains that never terminate (redirect loops).

Algorithm: pointer doubling over the pointer map itself — each round
self-joins the map on ptr.cur = ptr'.src, composing jumps (2^r hops
after r rounds) and summing exact hop distances. log2(longest chain)
rounds, each one equi-join + lineage cut on |srcs| rows (never
|chains| * length). Early exit is SOUND: in round r the doubling
resolves every pending node at chain-distance (2^(r-1), 2^r] — a
nonempty set whenever any non-cycle node is pending — so a round with
zero newly-resolved rows proves all remaining pending rows are cycle
members/feeders, and the loop stops and flags them. max_rounds is a
backstop (chains longer than 2^max_rounds would be misflagged; the
default 30 covers 1e9-hop chains).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dxa_pagerank_spark.plans.lineage import cut_lineage

from .superstep import release


def resolve_redirects(
    spark: SparkSession,
    redirects: DataFrame,
    max_rounds: int = 30,
) -> DataFrame:
    """redirects(src, dst) -> (src, final, hops, is_cycle); for cycle
    rows final = -1 and hops = 0 (sentinels, is_cycle is the truth)."""
    rd = (
        redirects.filter(F.col("src") != F.col("dst"))
        .groupBy("src")
        .agg(F.min("dst").alias("cur"))
    )
    rd = cut_lineage(rd)
    srcs = cut_lineage(rd.select("src"))
    # resolved(x) <=> cur is not itself a redirect source
    ptr = (
        rd.alias("p")
        .join(srcs.alias("s"), F.col("p.cur") == F.col("s.src"), "left")
        .select(
            F.col("p.src").alias("src"),
            F.col("p.cur").alias("cur"),
            F.lit(1).cast("long").alias("hops"),
            F.col("s.src").isNull().alias("done"),
        )
    )
    # pointer doubling self-joins ptr with ptr: a plain localCheckpoint
    # would SQUARE the inherited size estimate every round (exponential
    # BigInteger digit growth in Catalyst's stats math — see
    # plans/lineage.py), so every per-round checkpoint is a cut_lineage
    ptr = cut_lineage(ptr)
    release(rd)
    release(srcs)
    for _ in range(max_rounds):
        n_pending = ptr.filter(~F.col("done")).count()
        if n_pending == 0:
            break
        nxt = (
            ptr.alias("a")
            .join(
                ptr.alias("b"),
                (~F.col("a.done"))
                & (F.col("a.cur") == F.col("b.src")),
                "left",
            )
            .select(
                F.col("a.src").alias("src"),
                F.coalesce(F.col("b.cur"), F.col("a.cur")).alias("cur"),
                (
                    F.col("a.hops")
                    + F.coalesce(F.col("b.hops"), F.lit(0))
                ).alias("hops"),
                F.coalesce(F.col("b.done"), F.col("a.done")).alias("done"),
            )
        )
        nxt = cut_lineage(nxt)
        newly = nxt.filter(F.col("done")).count() - ptr.filter(
            F.col("done")
        ).count()
        release(ptr)
        ptr = nxt
        if newly == 0:
            # sound cycle proof (see module docstring): nothing left
            # but redirect loops
            break
    return ptr.select(
        "src",
        F.when(F.col("done"), F.col("cur")).otherwise(F.lit(-1)).alias(
            "final"
        ),
        F.when(F.col("done"), F.col("hops")).otherwise(F.lit(0)).alias(
            "hops"
        ),
        (~F.col("done")).alias("is_cycle"),
    )
