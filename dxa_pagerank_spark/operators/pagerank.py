"""Power-iteration PageRank with dangling-node "lumping".

Spark-first re-expression of the reference's BSP loop
(/root/reference MainPR.java:137-197, RunLumpPrRoundTask.java:49-116,
Vertex.java:65-67). Semantics are trajectory-exact (SURVEY.md §2.3):

  * per-vertex formula  PR'(v) = (1-d)/N + d*gather(v) + d*danglingPR/N
  * only non-dangling (out_deg != 0) vertices update each round; dangling
    vertices are frozen at 1/N until one final restore pass
  * round 1 uses danglingPR = 1/N (reference ingest quirk,
    MetaChunk.java:20); afterwards danglingPR = 1 - sum(updated ranks)
  * stop when the L1 delta over non-dangling vertices <= threshold
  * duplicate edges count (file-ingest multiplicity)

Physical design (SURVEY.md §4.3) — what each superstep costs at scale:

  * The caller's edge frame is cut to a lineage-free leaf once per
    call (a lazy localCheckpoint of the cast ``(src, dst)`` columns,
    materialised by the first build job, released at the end). Every
    frame below plans over that leaf, so a round's plan never carries
    the caller's plan, however large (a 10^5-row ``LocalRelation`` from
    ``createDataFrame`` made planning most of a round).
  * ``adj(src, dst, w=1/out_deg)`` is built once, hash-partitioned by
    ``src`` and persisted. It stays put only because each round plans
    over leaves: the cached adj keeps its partitioning, and a
    ``shuffle_hash`` hint on the rank side pins the gather to a
    shuffled hash join with no Exchange on the adj side.
  * Each round moves only the rank table (16 bytes/vertex): a
    checkpoint reports no partitioning, so the previous round's state
    is re-shuffled to the adj partitioning for the gather, then a
    partial/final hash agg by ``dst`` (map-side combine keeps that
    exchange at ~|V|, not |E|).
  * The dangling scalar is a driver literal folded into the projection
    (Catalyst constant-folds (1-d)/N and d*dangling/N) — the whole
    point of lumping: no per-vertex dangling join, ever.
  * One action per round (the sum/L1 aggregate) doubles as the BSP
    barrier, exactly like the reference master's poll loop
    (MainPR.java:148-161).
  * The round loop is operators/superstep.py: lineage is truncated
    every round by a lazy localCheckpoint that the stats aggregate
    materialises (else the logical plan grows O(rounds) and Catalyst
    analysis dominates); a durable CheckpointManager
    (plans/checkpoint.py) adds resume.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from .superstep import release, supersteps


@dataclass
class PageRankResult:
    # (id, rank) over the full vertex universe; pagerank() returns it
    # cached, and its unpersist() frees every block the call left
    ranks: DataFrame
    rounds: int
    converged: bool
    errors: list[float] = field(default_factory=list)
    dangling_mass: list[float] = field(default_factory=list)
    round_ms: list[int] = field(default_factory=list)
    num_vertices: int = 0
    num_edges: int = 0


def out_degrees(edges: DataFrame) -> DataFrame:
    """(src, dst)* -> (id, out_deg) for vertices with out_deg >= 1.
    Counts multiplicity (ReadLumpInEdgeListTask.java:69-71)."""
    return edges.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).alias("out_deg")
    )


def in_degrees(edges: DataFrame) -> DataFrame:
    return edges.groupBy(F.col("dst").alias("id")).agg(
        F.count(F.lit(1)).alias("in_deg")
    )


def vertex_universe(
    spark: SparkSession,
    edges: DataFrame,
    num_vertices: int | None = None,
    vertices: DataFrame | None = None,
) -> DataFrame:
    """The vertex id set: explicit df > contiguous range > edge endpoints.
    The reference always knows N up front (MainPR.java:45); an edge table
    alone cannot see fully isolated vertices, so callers with isolated
    vertices must pass one of the first two."""
    if vertices is not None:
        return vertices.select("id")
    if num_vertices is not None:
        return spark.range(num_vertices).select(F.col("id"))
    return (
        edges.select(F.col("src").alias("id"))
        .union(edges.select(F.col("dst").alias("id")))
        .distinct()
    )


def pagerank(
    spark: SparkSession,
    edges: DataFrame | None,
    num_vertices: int | None = None,
    vertices: DataFrame | None = None,
    damping: float = 0.85,
    threshold: float = 1e-3,
    max_rounds: int = 50,
    num_partitions: int | None = None,
    checkpoint_manager=None,
    checkpoint_interval: int = 5,
    resume: bool = False,
    hub_salt: int = 0,
    hub_threshold: int = 100_000,
    initial_ranks: DataFrame | None = None,
    adjacency: DataFrame | None = None,
) -> PageRankResult:
    """Run reference-semantics PageRank over an edge DataFrame.

    adjacency: optional prebuilt, already-partitioned (src, dst, w)
    table — the bucketed-storage fast path (plans/bucketing.py). When
    given, the per-run adjacency build (out-degree join + repartition
    shuffle of the |E|-row side) is SKIPPED: the frame is persisted
    and used as-is, trusting its storage partitioning (write it
    hash-bucketed by ``src``, w = 1/out_deg counting multiplicity, so
    the gather join starts from co-located buckets — zero Exchange on
    the 100-TB side across every run that reads it). ``edges`` may be
    None; incompatible with hub_salt (salt the stored table instead).

    initial_ranks: optional (id, rank) warm start — the incremental-
    crawl path: feed yesterday's converged ranks, iterate on today's
    edge table, converge in a fraction of the rounds. Non-dangling
    vertices missing from it start at 1/N; the round-1 dangling mass is
    the ACTUAL conservation residual 1 - sum(injected ranks), not the
    reference's cold-start 1/N quirk (same convention as a checkpoint
    resume). Ignored when a checkpoint resume restores state.

    checkpoint_manager: optional plans.checkpoint.CheckpointManager; when
    given, every ``checkpoint_interval`` rounds the rank table + a metrics
    row are written durably; with resume=True the loop continues from the
    latest persisted iteration (FIXTURES.md F6 contract).

    hub_salt: when > 1, explicit skew handling for super-node sources
    (out_deg >= hub_threshold): their adjacency rows get a salt column
    (pmod(xxhash64(dst), hub_salt)) so the gather join spreads a hub's
    edges over hub_salt reducers; the (tiny) rank rows of hubs are
    replicated per salt. AQE skew-join remains on as the backstop —
    salting is for clusters/configs where AQE is unavailable or the
    skew exceeds what post-hoc splitting handles. Results are identical
    with or without (tested).
    """
    num_partitions = num_partitions or spark.sparkContext.defaultParallelism

    if adjacency is not None and hub_salt > 1:
        raise ValueError(
            "pagerank: adjacency= is incompatible with hub_salt — salt "
            "the stored adjacency table instead"
        )
    if edges is None and adjacency is None:
        raise ValueError("pagerank: need edges or adjacency")
    hubs = None
    deg = None
    leaf = None
    if adjacency is not None:
        # The loop's id width must MATCH the stored table's: a
        # narrowing cast on the stored side is a non-alias projection,
        # which discards the bucketed scan's outputPartitioning and
        # would re-Exchange the |E|-row side in every gather — the
        # exact shuffle this mode exists to remove. The (tiny) rank
        # table carries the stored width instead.
        types = dict(adjacency.dtypes)
        idx_t = types.get("src", "long")
        if idx_t not in ("int", "bigint", "long"):
            raise ValueError(
                f"pagerank: adjacency src must be int or bigint, got {idx_t}"
            )
        # a wider dst would be narrowed to the src width below: it
        # overflows in an executor under ANSI mode, or silently wraps
        # ids onto the wrong vertices without it
        if types.get("dst") != idx_t:
            raise ValueError(
                f"pagerank: adjacency dst type {types.get('dst')} differs "
                f"from src type {idx_t} — store both at one width"
            )
        idx_t = "int" if idx_t == "int" else "long"
        # Prebuilt (bucketed) adjacency: trust its storage partitioning
        # — no out-degree join, no repartition shuffle of the |E| side.
        # The casts below are identities by construction (idx_t taken
        # from the table), so the alias chain and partitioning survive.
        # Persisted FIRST so any universe derivation below reads the
        # cache, not storage — one scan of the 100-TB side, not three.
        adj = adjacency.select(
            F.col("src").cast(idx_t).alias("src"),
            F.col("dst").cast(idx_t).alias("dst"),
            F.col("w").cast("double").alias("w"),
        ).persist(StorageLevel.MEMORY_AND_DISK)
        num_edges = adj.count()
        verts = vertex_universe(
            spark, adj.select("src", "dst"), num_vertices, vertices
        )
        # only the size is needed — the id width is already fixed by the
        # stored table, so no max/min aggregate. num_vertices wins over
        # the universe's row count, as in the edge-frame branch.
        n = num_vertices if num_vertices is not None else int(verts.count())
        if idx_t == "int" and n > 2**31:
            raise ValueError(
                f"pagerank: adjacency stores int ids but the universe "
                f"has {n:,} vertices (> 2^31) — rewrite the table with "
                "bigint ids"
            )
        verts = verts.select(F.col("id").cast(idx_t).alias("id"))
        nd_ids = (
            adj.select(F.col("src").alias("id"))
            .distinct()
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
    else:
        verts = vertex_universe(spark, edges, num_vertices, vertices)
        # Size the universe AND pick the id width: when every id fits
        # int32 (web graphs up to 2^31 vertices) the whole loop runs on
        # 4-byte keys — narrower shuffle rows and join keys each
        # superstep. Output ids are cast back to long for API
        # stability. With num_vertices given (and no explicit vertex
        # df) the universe is the contiguous range [0, N) by contract
        # (the reference always knows N up front, MainPR.java:45), so
        # both answers are closed-form — no job runs.
        if num_vertices is not None and vertices is None:
            n = num_vertices
            use_int = num_vertices <= 2**31
        else:
            vrow = verts.agg(
                F.count(F.lit(1)).alias("c"),
                F.max("id").alias("mx"),
                F.min("id").alias("mn"),
            ).collect()[0]
            n = num_vertices if num_vertices is not None else int(vrow["c"])
            use_int = (
                vrow["mx"] is not None
                and int(vrow["mx"]) < 2**31
                and int(vrow["mn"]) >= -(2**31)
            )
        idx_t = "int" if use_int else "long"
        # Cut the caller's lineage once, before anything derives from
        # it: the first build job materialises this leaf, and every
        # frame below (and so every round's plan) sits on it instead of
        # on whatever plan the caller's frame carries, which Catalyst
        # would otherwise re-analyse and cache-match each round.
        edges = leaf = edges.select(
            F.col("src").cast(idx_t).alias("src"),
            F.col("dst").cast(idx_t).alias("dst"),
        ).localCheckpoint(eager=False)
        verts = vertex_universe(spark, edges, num_vertices, vertices).select(
            F.col("id").cast(idx_t).alias("id")
        )
        # deg feeds three independent materializations (adjacency
        # weights, the initial rank table, the dangling complement) —
        # cache the |V|-row table once instead of re-running the
        # |E|-row groupBy.
        deg = out_degrees(edges).persist(StorageLevel.MEMORY_AND_DISK)

        # adj: the big, immutable side — partitioned once by the join key.
        # The leaf reports no size, so unhinted this plans a sort-merge
        # of the |E|-row side; hash the |V|-row degrees instead.
        adj = edges.join(deg.hint("shuffle_hash"), edges.src == deg.id).select(
            "src", "dst", (F.lit(1.0) / F.col("out_deg")).alias("w")
        )
        if hub_salt > 1:
            hubs = (
                deg.filter(F.col("out_deg") >= hub_threshold)
                .select("id")
                .persist(StorageLevel.MEMORY_AND_DISK)
            )
            adj = adj.join(
                hubs.select(F.col("id").alias("_hub")),
                adj.src == F.col("_hub"),
                "left",
            ).select(
                "src",
                "dst",
                "w",
                F.when(
                    F.col("_hub").isNotNull(),
                    F.pmod(F.xxhash64("dst"), F.lit(hub_salt)),
                )
                .otherwise(F.lit(0))
                .cast("int")
                .alias("salt"),
            )
        adj = adj.repartition(num_partitions, "src").persist(
            StorageLevel.MEMORY_AND_DISK
        )
        num_edges = adj.count()  # materialize the partitioned adjacency
        nd_ids = deg.select("id")  # non-dangling vertex ids (out_deg >= 1)

    def gather(adj_df, ranks_df):
        """contribs(dst, contrib) = Σ rank(src)/out_deg(src), optionally
        salt-spread for hub sources."""
        if hub_salt > 1 and "salt" in adj_df.columns:
            hub_ranks = (
                ranks_df.join(hubs, "id", "left_semi")
                .select(
                    "id",
                    "rank",
                    F.explode(
                        F.sequence(
                            F.lit(0).cast("int"), F.lit(hub_salt - 1).cast("int")
                        )
                    ).alias("salt"),
                )
            )
            nonhub_ranks = ranks_df.join(hubs, "id", "left_anti").select(
                "id", "rank", F.lit(0).cast("int").alias("salt")
            )
            ranks_s = hub_ranks.unionByName(nonhub_ranks)
            joined = adj_df.join(
                ranks_s,
                (adj_df.src == ranks_s.id) & (adj_df.salt == ranks_s.salt),
            )
        else:
            # Hash map on the rank side, whatever the statistics say:
            # without the hint a cached bucketed scan (which drops its
            # storage SORT metadata) plans sort-merge and re-sorts the
            # |E|-row side EVERY round (measured 8.0-12.5 s/round vs
            # 5.4-7.2 at N=1e7), and small inputs broadcast instead.
            r = ranks_df.hint("shuffle_hash")
            joined = adj_df.join(r, adj_df.src == r.id)
        return joined.groupBy("dst").agg(
            F.sum(F.col("rank") * F.col("w")).alias("contrib")
        )

    # Dangling vertices and the slice of adj feeding them (restore pass).
    dang = verts.join(nd_ids, "id", "left_anti").persist(StorageLevel.MEMORY_AND_DISK)
    # adj_to_dang is consumed exactly once (the restore-pass gather, one
    # job) — persisting it would only add a write pass.
    adj_to_dang = adj.join(dang, adj.dst == dang.id, "left_semi")

    if n == 0:
        raise ValueError("pagerank: edge frame has no vertices")
    inv_n = 1.0 / n
    result = PageRankResult(
        ranks=None, rounds=0, converged=False, num_vertices=n, num_edges=num_edges
    )

    start_round = 0
    dangling = inv_n  # round-1 quirk (MetaChunk.java:20)
    ranks = None
    if resume and checkpoint_manager is not None:
        restored = checkpoint_manager.latest(spark)
        if restored is not None:
            ranks, meta = restored
            ranks = ranks.select(
                F.col("id").cast(idx_t).alias("id"), "rank"
            ).localCheckpoint(eager=True)
            start_round = meta["iteration"]
            dangling = meta["dangling_mass"]
            result.errors = meta.get("errors", [])
            result.dangling_mass = meta.get("dangling_masses", [])
            result.rounds = start_round
            result.converged = bool(
                result.errors and result.errors[-1] <= threshold
            )
    if ranks is None and initial_ranks is not None:
        ranks = (
            nd_ids.join(
                initial_ranks.select(
                    F.col("id").cast(idx_t).alias("id"),
                    F.col("rank").cast("double").alias("rank"),
                ),
                "id",
                "left",
            )
            .select("id", F.coalesce("rank", F.lit(inv_n)).alias("rank"))
            .localCheckpoint(eager=True)
        )
        injected = ranks.agg(F.sum("rank")).collect()[0][0]
        dangling = 1.0 - (float(injected) if injected is not None else 0.0)
    if ranks is None:
        ranks = nd_ids.withColumn("rank", F.lit(inv_n)).localCheckpoint(eager=True)

    def step(state):
        ranks = state.select("id", "rank")
        # pinned hash join: by statistics alone the planner picks
        # sort-merge for two |V|-row sides and re-sorts both each round
        contribs = gather(adj, ranks).hint("shuffle_hash")
        return ranks.alias("r").join(
            contribs.alias("c"), F.col("r.id") == F.col("c.dst"), "left"
        ).select(
            F.col("r.id").alias("id"),
            F.col("r.rank").alias("old_rank"),
            (
                F.lit((1.0 - damping) * inv_n)
                + F.lit(damping) * F.coalesce(F.col("c.contrib"), F.lit(0.0))
                + F.lit(damping * dangling * inv_n)
            ).alias("rank"),
        )

    stats = [
        F.sum("rank").alias("pr_sum"),
        F.sum(F.abs(F.col("rank") - F.col("old_rank"))).alias("err"),
    ]
    state = ranks
    if not result.converged:
        for rnd, state, row, ms in supersteps(
            ranks, step, stats, max_rounds, start_round
        ):
            # empty non-dangling set -> NULL sums; reference semantics:
            # no updates, PRerr=0, PRsum=0 (empty DoubleAdder) -> converge.
            err = float(row["err"]) if row["err"] is not None else 0.0
            pr_sum = float(row["pr_sum"]) if row["pr_sum"] is not None else 0.0
            dangling = 1.0 - pr_sum  # mass by conservation (MainPR.java:156-161)

            result.rounds = rnd
            result.errors.append(err)
            result.dangling_mass.append(dangling)
            result.round_ms.append(ms)

            if checkpoint_manager is not None and (
                rnd % checkpoint_interval == 0 or err <= threshold
            ):
                checkpoint_manager.save(
                    state.select("id", "rank"),
                    iteration=rnd,
                    l1_err=err,
                    pr_sum=pr_sum,
                    dangling_mass=dangling,
                    wall_ms=ms,
                    n_partitions=num_partitions,
                    errors=result.errors,
                    dangling_masses=result.dangling_mass,
                )

            if err <= threshold:
                result.converged = True
                break
    final = state.select("id", "rank")

    # Final restore pass (MainPR.java:185-197): dangling vertices computed
    # once from converged neighbor ranks + the last dangling mass.
    d_contribs = gather(adj_to_dang, final)
    dang_ranks = (
        dang.alias("v")
        .join(d_contribs.alias("c"), F.col("v.id") == F.col("c.dst"), "left")
        .select(
            F.col("v.id").alias("id"),
            (
                F.lit((1.0 - damping) * inv_n)
                + F.lit(damping) * F.coalesce(F.col("c.contrib"), F.lit(0.0))
                + F.lit(damping * dangling * inv_n)
            ).alias("rank"),
        )
    )
    # One cached table, materialized here: every checkpoint and cache of
    # this call can then be released, and the caller's
    # result.ranks.unpersist() frees the rest (it cannot free a
    # checkpoint, which the result would otherwise read).
    result.ranks = (
        final.unionByName(dang_ranks)
        .select(F.col("id").cast("long").alias("id"), "rank")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    result.ranks.count()
    release(state)
    if state is not ranks:
        release(ranks)  # the initial state: supersteps leaves it to us
    # cache hygiene: release everything persisted inside this call so
    # repeated pagerank() calls in one session don't accumulate storage
    # (VERDICT r01 #4).
    caches = [adj, dang, deg, hubs]
    if adjacency is not None:
        caches.append(nd_ids)
    for cached in caches:
        if cached is not None:
            cached.unpersist()
    if leaf is not None:
        release(leaf)
    return result


def convergence_certificate(
    spark: SparkSession, result: PageRankResult, damping: float = 0.85
) -> DataFrame:
    """-> (round, l1_delta, mass_residual, geo_bound): the per-round
    convergence certificate of a finished pagerank() run.

    l1_delta is the reference's PRerr (L1 over non-dangling updates,
    MetaChunk.java:13) and mass_residual its conservation-inferred
    dangling mass; geo_bound = damping/(1-damping) * l1_delta is the
    standard contraction certificate: the power iteration is a
    damping-Lipschitz map in L1, so the distance to the fixpoint after
    round t is at most d/(1-d) times the last step — the number a user
    reads to decide "converged enough" without knowing the true ranks.

    Driver-side build from the MetaChunk-sized per-round scalar lists
    (the reference's own master-side pattern) — rounds x 3 doubles, no
    cluster work."""
    factor = damping / (1.0 - damping)
    rows = [
        (i + 1, float(e), float(m), float(e) * factor)
        for i, (e, m) in enumerate(
            zip(result.errors, result.dangling_mass)
        )
    ]
    return spark.createDataFrame(
        rows, "round long, l1_delta double, mass_residual double,"
        " geo_bound double"
    )
