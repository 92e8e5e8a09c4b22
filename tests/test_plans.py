"""Physical-plan assertions (SURVEY.md §5.2.8): the hot paths must stay
JVM-side (no row-at-a-time Python), keep Arrow only where intended,
prune columns at the scan, and broadcast small dimensions."""

import numpy as np
from pyspark.sql import functions as F

from dxa_pagerank_spark.datagen import edges_to_spark, fast_synthetic_edges


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted"
    )


def _children(node):
    kids = node.children()
    return [kids.apply(i) for i in range(kids.size())]


def _subtree(node):
    yield node
    for kid in _children(node):
        yield from _subtree(kid)


def _branch(node):
    """``node`` and what lies below it down to, not into, the next join."""
    yield node
    if "Join" not in node.nodeName():
        for kid in _children(node):
            yield from _branch(kid)


def _physical(df):
    """The physical plan Spark starts ``df`` with (AQE's current plan,
    exchanges included)."""
    root = df._jdf.queryExecution().executedPlan()
    return root.executedPlan() if root.nodeName() == "AdaptiveSparkPlan" else root


def test_pagerank_round_has_no_python(spark, monkeypatch):
    """The superstep pagerank actually runs, captured from its loop on a
    createDataFrame input: pure JVM (joins + hash aggregate), planned
    over leaves, and the cached adjacency never moves."""
    import dxa_pagerank_spark.operators.pagerank as pr

    rounds = []
    loop = pr.supersteps

    def spy(state, step, *args):
        def traced(st):
            out = step(st)
            rounds.append((_plan(out), _physical(out), out))
            return out

        return loop(state, traced, *args)

    monkeypatch.setattr(pr, "supersteps", spy)
    src, dst = fast_synthetic_edges(2000, 4, seed=2)
    edges = edges_to_spark(spark, src, dst)  # createDataFrame: a LocalRelation
    res = pr.pagerank(spark, edges, num_vertices=2000, threshold=0.0, max_rounds=2)
    assert res.rounds == 2 and len(rounds) == 2
    plan, physical, out = rounds[-1]
    assert "BatchEvalPython" not in plan  # no per-row Python, ever
    assert "ArrowEvalPython" not in plan  # hot loop is fully JVM
    # partial+final agg: two HashAggregate nodes around the exchange
    assert plan.count("HashAggregate") >= 2
    # the per-round gather must NOT re-sort the cached adjacency: no
    # sort-merge join in the superstep (hash-based joins only)
    assert "SortMergeJoin" not in plan
    # the caller's plan is cut away: nothing of the createDataFrame
    # input is left to re-analyse, neither logically nor physically
    assert "LocalTableScan" not in plan
    assert "LocalRelation" not in out._jdf.queryExecution().analyzed().toString()
    # the gather: a shuffled hash join whose adjacency side is the
    # cached scan itself, with no Exchange on it — only ranks move
    gathers = [
        (node, kid)
        for node in _subtree(physical)
        if "Join" in node.nodeName()
        for kid in _children(node)
        if any(n.nodeName() == "InMemoryTableScan" for n in _branch(kid))
    ]
    assert len(gathers) == 1
    join, adj_side = gathers[0]
    assert join.nodeName() == "ShuffledHashJoin"
    assert not any("Exchange" in n.nodeName() for n in _branch(adj_side))


def test_text_extraction_is_arrow_not_row_python(spark):
    from dxa_pagerank_spark.datagen import make_pages, pages_to_spark
    from dxa_pagerank_spark.sources.pages import enrich_pages

    rows, _, _ = make_pages(5)
    out = enrich_pages(pages_to_spark(spark, rows))
    plan = _plan(out)
    assert "ArrowEvalPython" in plan  # vectorized pandas UDF
    assert "BatchEvalPython" not in plan  # not row-at-a-time


def test_parquet_scan_prunes_columns(spark):
    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    q = li.select("l_orderkey", "l_suppkey").filter(F.col("l_orderkey") > 100)
    plan = _plan(q)
    # ReadSchema must contain only the two projected columns
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "l_orderkey" in read_schema and "l_suppkey" in read_schema
    assert "l_extendedprice" not in read_schema
    assert "PushedFilters: [IsNotNull(l_orderkey), GreaterThan(l_orderkey,100)]" in plan


def test_supplier_join_is_broadcast(spark):
    import __spark_entry__ as entrymod

    q = entrymod.q_supplier_revenue(spark, "/root/testdata/sf0.001")
    plan = _plan(q)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_minhash_signatures_jvm_side(spark):
    import pandas as pd

    from dxa_pagerank_spark.functions.dedup import minhash_signatures, shingles

    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [0, 1], "text": ["a b c d e", "b c d e f"]})
    )
    sigs = minhash_signatures(shingles(docs), num_hashes=8)
    plan = _plan(sigs)
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan  # xxhash64 min-aggs are JVM-side


def test_edgelist_source_is_jvm_only(spark, tmp_path):
    """The line-number recovery must not round-trip rows through Python
    (VERDICT r01 #1): no BatchEvalPython / ArrowEvalPython in the scan."""
    from dxa_pagerank_spark.sources.edgelist import read_in_edge_list

    path = tmp_path / "g.txt"
    path.write_text("2 3\n1\n0\n1 2\n")
    edges, n = read_in_edge_list(spark, str(path))
    assert n == 4
    plan = _plan(edges)
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_results_invariant_across_partitioning(spark):
    """SURVEY §5.2.4: same scores within 1e-9 across partition counts."""
    from dxa_pagerank_spark.operators.pagerank import pagerank

    src, dst = fast_synthetic_edges(1000, 5, seed=4)
    edges = edges_to_spark(spark, src, dst)
    r1 = pagerank(spark, edges, num_vertices=1000, threshold=1e-9,
                  max_rounds=60, num_partitions=2)
    r2 = pagerank(spark, edges, num_vertices=1000, threshold=1e-9,
                  max_rounds=60, num_partitions=16)
    a = {r["id"]: r["rank"] for r in r1.ranks.collect()}
    b = {r["id"]: r["rank"] for r in r2.ranks.collect()}
    assert r1.rounds == r2.rounds
    diffs = np.array([abs(a[i] - b[i]) for i in a])
    assert diffs.max() < 1e-9


def test_site_rollup_and_weighted_gather_jvm_only(spark):
    """Host-graph rollup (one shuffle, partial+final counts) and the
    weighted-PageRank gather stay JVM-side (operators/sitegraph.py,
    operators/wpagerank.py)."""
    from dxa_pagerank_spark.operators.sitegraph import site_rollup

    src, dst = fast_synthetic_edges(2000, 4, seed=3)
    edges = edges_to_spark(spark, src, dst)
    sites = site_rollup(edges, block_size=25)
    plan = _plan(sites)
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert plan.count("HashAggregate") >= 2  # map-side partial counts

    tot = sites.groupBy(F.col("src").alias("t_src")).agg(
        F.sum("weight").alias("w_tot")
    )
    adj = sites.join(tot, sites.src == F.col("t_src")).select(
        "src", "dst", (F.col("weight") / F.col("w_tot")).alias("w_norm")
    )
    ranks = (
        sites.select(F.col("src").alias("id")).distinct()
        .select("id", F.lit(1e-3).alias("rank"))
    )
    contribs = (
        adj.join(ranks.select(F.col("id").alias("src"), "rank"), "src")
        .groupBy("dst")
        .agg(F.sum(F.col("rank") * F.col("w_norm")).alias("c"))
    )
    plan = _plan(contribs)
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert plan.count("HashAggregate") >= 2


def test_term_topk_plans(spark):
    """Corpus top-k = TakeOrdered (per-partition heaps, no global
    sort); per-doc top-k gets the rank cut pushed below the window
    sort (WindowGroupLimit); both stay JVM-only."""
    from dxa_pagerank_spark.functions.terms import term_topk, tfidf_topk

    docs = spark.createDataFrame(
        [(0, "a b c"), (1, "b c d")], "doc_id long, text string"
    )
    corpus = _plan(term_topk(docs, k=5))
    assert "TakeOrdered" in corpus
    assert "BatchEvalPython" not in corpus
    perdoc = _plan(tfidf_topk(docs, k=2))
    assert "WindowGroupLimit" in perdoc
    assert "BatchEvalPython" not in perdoc
    assert "BroadcastHashJoin" in perdoc  # df table joins broadcast


def test_ktruss_closing_join_is_equi_join(spark):
    """VERDICT r02 #1: the triangle-closing join in the k-truss peel
    must plan as a hash/sort-merge equi-join on (y, z) — never a
    CartesianProduct or BroadcastNestedLoopJoin (an OR-of-conjunctions
    condition has no extractable equi-keys and goes cartesian)."""
    from dxa_pagerank_spark.operators.ktruss import _triangles

    src, dst = fast_synthetic_edges(2000, 4, seed=5)
    edges = edges_to_spark(spark, src, dst)
    tri = _triangles(edges)
    plan = _plan(tri)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_triad_census_plan_equi_joins_only(spark):
    """Triad census must stay all-equi-join (wedge closure + pair-state
    attach): no cartesian anything, no Python in the plan."""
    from dxa_pagerank_spark.operators.motifs import triad_census

    src, dst = fast_synthetic_edges(2000, 4, seed=5)
    edges = edges_to_spark(spark, src, dst)
    plan = _plan(triad_census(spark, edges))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_walks_and_bfs_jvm_only(spark):
    from dxa_pagerank_spark.operators.bfs import bfs_levels
    from dxa_pagerank_spark.operators.walks import random_walks

    e = spark.createDataFrame([(0, 1), (1, 2), (2, 0)], "src long, dst long")
    s = spark.createDataFrame([(0,)], "id long")
    for df in (random_walks(e, s, length=2), bfs_levels(e, s, max_depth=2)):
        plan = _plan(df)
        assert "BatchEvalPython" not in plan
        assert "ArrowEvalPython" not in plan


def test_skipgram_plan_shape(spark):
    """Skip-gram extraction: the pair self-join is an equi-join on
    walk_id (never a cartesian), the co-occurrence count partial-aggs
    map-side, the 1-row total re-enters via broadcast, and the whole
    path is JVM-only."""
    from dxa_pagerank_spark.operators.walks import (
        random_walks,
        skipgram_cooccurrence,
    )

    e = spark.createDataFrame([(0, 1), (1, 2), (2, 0)], "src long, dst long")
    s = spark.createDataFrame([(0,)], "id long")
    df = skipgram_cooccurrence(random_walks(e, s, length=2), window=2)
    plan = _plan(df)
    # the only nested-loop join allowed is the broadcast 1-row total
    # attach (the global-scalar idiom); a non-broadcast cartesian would
    # mean the pair self-join lost its walk_id equi-key. formatted
    # explain names each node twice (tree line + detail header).
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 2
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "BroadcastExchange" in plan
    assert "partial_count" in plan or "HashAggregate" in plan


def test_webtext_filters_plans(spark):
    """r03 webtext additions stay JVM-only with the intended shapes:
    line-dedup broadcasts the boilerplate table into the anti-join and
    partial-aggregates the line counts; repetition stats build n-grams
    as array expressions (no Python) with one map-side-combined
    explode shuffle; PII masking and weighted sampling are pure column
    programs — no exchange at all."""
    from dxa_pagerank_spark.functions.boilerplate import remove_boilerplate
    from dxa_pagerank_spark.functions.pii import mask_pii
    from dxa_pagerank_spark.functions.repetition import repetition_stats
    from dxa_pagerank_spark.functions.sampling import weighted_sample

    docs = spark.createDataFrame(
        [(0, "a\nb", 0.5), (1, "a\nc", 0.9)],
        "doc_id long, text string, w double",
    )

    cleaned = _plan(remove_boilerplate(docs, id_col="doc_id"))
    assert "BatchEvalPython" not in cleaned
    assert "ArrowEvalPython" not in cleaned
    assert "BroadcastHashJoin" in cleaned  # boiler set broadcast, anti
    assert "CartesianProduct" not in cleaned

    rep = _plan(repetition_stats(docs))
    assert "BatchEvalPython" not in rep
    assert "ArrowEvalPython" not in rep
    assert rep.count("HashAggregate") >= 2  # map-side partial combine

    masked = _plan(mask_pii(docs))
    assert "Exchange" not in masked  # pure column transform
    assert "BatchEvalPython" not in masked

    sampled = _plan(weighted_sample(docs, "doc_id", "w", power=2))
    assert "Exchange" not in sampled  # pure filter, zero shuffles
    assert "BatchEvalPython" not in sampled


def test_lmscore_plans(spark):
    """LM scoring keeps the terms.py envelope (one explode shuffle,
    map-side combine, vocabulary broadcast back); decontamination
    probes a broadcast benchmark n-gram set with a semi-join — no
    corpus shuffle before the verdict aggregate, no Python anywhere."""
    from dxa_pagerank_spark.functions.lmscore import (
        contaminated_ids,
        unigram_logprob,
    )

    docs = spark.createDataFrame(
        [(0, "a b c d"), (1, "b c d e")], "doc_id long, text string"
    )
    bench = spark.createDataFrame([(9, "a b c")], "doc_id long, text string")

    lm = _plan(unigram_logprob(docs))
    assert "BatchEvalPython" not in lm
    assert "ArrowEvalPython" not in lm
    assert lm.count("HashAggregate") >= 2  # map-side partial combine
    assert "BroadcastHashJoin" in lm  # vocab joins back broadcast

    dc = _plan(contaminated_ids(docs, bench, n=3))
    assert "BatchEvalPython" not in dc
    assert "BroadcastHashJoin" in dc  # benchmark set broadcast semi-join
    assert "CartesianProduct" not in dc


def test_katz_round_jvm_only(spark):
    """One Katz gather+apply round (operators/katz.py shape): pure JVM
    joins + partial/final hash aggregate, no re-sort of the cached
    adjacency (hash joins only)."""
    src, dst = fast_synthetic_edges(2000, 4, seed=6)
    edges = edges_to_spark(spark, src, dst)
    adj = edges.select("src", "dst").repartition(8, "src")
    verts = (
        edges.select(F.col("src").alias("id"))
        .union(edges.select(F.col("dst").alias("id")))
        .distinct()
    )
    scores = verts.select("id", F.lit(1.0).alias("score"))
    nxt = (
        adj.join(scores.withColumnRenamed("id", "src"), "src")
        .groupBy(F.col("dst").alias("id"))
        .agg(F.sum("score").alias("g"))
    )
    plan = _plan(nxt)
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert plan.count("HashAggregate") >= 2


def test_neighborhood_hll_round_jvm_only(spark):
    """The HyperBall sketch round (operators/neighborhood.py mode=hll):
    DataSketches union aggregate is a JVM typed aggregate — no Python
    anywhere, sketches shuffled as fixed-width binary."""
    e = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 0)], "src long, dst long"
    )
    balls = e.select(F.col("src").alias("id")).distinct().groupBy("id").agg(
        F.hll_sketch_agg(F.col("id"), F.lit(12)).alias("ball")
    )
    nb = e.join(balls.withColumnRenamed("id", "dst"), "dst").select(
        F.col("src").alias("id"), "ball"
    )
    nxt = balls.unionByName(nb).groupBy("id").agg(
        F.hll_union_agg("ball").alias("ball")
    )
    plan = _plan(nxt.select("id", F.hll_sketch_estimate("ball")))
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_dsir_plans(spark):
    """DSIR scoring (functions/dsir.py): feature hashing is JVM
    higher-order functions (no Python), the B-row ratio table joins
    back as a BroadcastHashJoin, and selection is a top-k
    TakeOrdered, never a global sort."""
    from dxa_pagerank_spark.functions.dsir import dsir_log_weights, dsir_sample

    docs = spark.createDataFrame(
        [(0, "a b c"), (1, "c d e"), (2, "a a b")],
        "doc_id long, text string",
    )
    lw = _plan(dsir_log_weights(docs, F.col("doc_id") < 2, n_buckets=16))
    assert "BatchEvalPython" not in lw
    assert "ArrowEvalPython" not in lw
    assert "BroadcastHashJoin" in lw  # ratio table broadcast

    topk = _plan(dsir_sample(docs, F.col("doc_id") < 2, k=2, n_buckets=16))
    assert "TakeOrdered" in topk
    assert "BatchEvalPython" not in topk


def test_salsa_betweenness_kmeans_bpe_plans(spark):
    """r03 third-batch operators: equi-joins only (no Cartesian/BNLJ),
    JVM-only data path for the column programs."""
    from dxa_pagerank_spark.functions.bpe import apply_bpe
    from dxa_pagerank_spark.functions.clustering import kmeans_assign
    from dxa_pagerank_spark.operators.betweenness import betweenness
    from dxa_pagerank_spark.operators.salsa import salsa

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (1, 3)], "src long, dst long"
    )
    for df in (
        salsa(spark, edges, rounds=1),
        betweenness(spark, edges, [1]),
    ):
        p = _plan(df)
        assert "CartesianProduct" not in p
        assert "BroadcastNestedLoopJoin" not in p
        assert "BatchEvalPython" not in p

    emb = spark.createDataFrame(
        [(i, [float(i), float(i % 3)]) for i in range(12)],
        "vec_id long, embedding array<double>",
    )
    assigned, _ = kmeans_assign(emb, k=2, iters=1)
    pa = _plan(assigned)
    # assignment is a pure projection against literal centroids:
    # no join, no exchange, no Python
    assert "Join" not in pa and "Exchange" not in pa
    assert "BatchEvalPython" not in pa

    docs = spark.createDataFrame([(0, "ab ab")], "doc_id long, text string")
    pb = _plan(apply_bpe(docs, [("a", "b")]))
    assert "Join" not in pb and "Exchange" not in pb
    assert "BatchEvalPython" not in pb


def test_r03_late_additions_plans(spark):
    """TextRank, CDC, containment, diversity stay JVM-only with no
    cartesian joins; the only nested-loop join anywhere is a broadcast
    1-row scalar attach (none of these four use one)."""
    from dxa_pagerank_spark.functions.cdc import cdc_dedup_stats
    from dxa_pagerank_spark.functions.dedup import containment_pairs
    from dxa_pagerank_spark.functions.terms import diversity_report
    from dxa_pagerank_spark.functions.textrank import textrank_keywords

    docs = spark.createDataFrame(
        [(0, "en", "a b c d e a b"), (1, "en", "a b c x y")],
        "doc_id long, lang string, text string",
    )
    for df in (
        textrank_keywords(docs, window=2, rounds=2, top_k=5),
        cdc_dedup_stats(docs, width=2, divisor=4),
        containment_pairs(docs, n=2, min_common=1, max_gram_df=10),
        diversity_report(docs, n=2),
    ):
        p = _plan(df)
        assert "CartesianProduct" not in p
        assert "BroadcastNestedLoopJoin" not in p
        assert "BatchEvalPython" not in p
        assert "ArrowEvalPython" not in p


def test_sketch_family_plans(spark):
    """CM sketch, Bloom gate, JL projection: JVM-only, no cartesian;
    JL must be a pure column program (no join, no exchange)."""
    from dxa_pagerank_spark.functions.bloom import bloom_build, bloom_probe
    from dxa_pagerank_spark.functions.cmsketch import cm_estimate, cm_sketch
    from dxa_pagerank_spark.functions.projection import jl_project

    docs = spark.createDataFrame(
        [(0, "a b c"), (1, "b d")], "doc_id long, text string"
    )
    terms = spark.createDataFrame([("a",), ("z",)], "term string")
    keys = spark.createDataFrame([("a",), ("b",)], "key string")
    emb = spark.createDataFrame(
        [(0, [1.0, 2.0, 3.0, 4.0])], "vec_id long, embedding array<double>"
    )
    for df in (
        cm_sketch(docs, width=16, depth=2),
        cm_estimate(docs, terms, width=16, depth=2),
        bloom_probe(keys, bloom_build(keys, m=64, k=2), m=64, k=2),
    ):
        p = _plan(df)
        assert "CartesianProduct" not in p
        assert "BroadcastNestedLoopJoin" not in p
        assert "BatchEvalPython" not in p
        assert "ArrowEvalPython" not in p
    pj = _plan(jl_project(emb, out_dim=2, seed=1))
    assert "Join" not in pj and "Exchange" not in pj
    assert "BatchEvalPython" not in pj and "ArrowEvalPython" not in pj


def test_simrank_and_warc_plans(spark):
    """SimRank rounds are equi-joins on the pair table with the
    in-structure broadcast (never cartesian, never Python); the WARC
    reader's only Python is the single Arrow-batched record walk."""
    from dxa_pagerank_spark.operators.simrank import simrank

    edges = spark.createDataFrame(
        [(0, 1), (0, 2), (1, 2), (2, 1)], "src long, dst long"
    )
    p = _plan(simrank(edges, rounds=2, c=0.8))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "BatchEvalPython" not in p
    assert "ArrowEvalPython" not in p
    assert "BroadcastHashJoin" in p  # in-structure stays broadcast


def test_louvain_move_round_plan(spark):
    """One Louvain move round (operators/louvain.py): equi-joins +
    hash aggregates only, community-totals table joined broadcast,
    no Python anywhere in the plan."""
    from dxa_pagerank_spark.operators.louvain import (
        _adjacency,
        _degrees,
        louvain_move_round,
    )

    src, dst = fast_synthetic_edges(2000, 4, seed=9)
    adj = _adjacency(edges_to_spark(spark, src, dst))
    deg = _degrees(adj)
    labels = deg.select("id", F.col("id").alias("c"))
    p = _plan(louvain_move_round(adj, labels, deg, m2=16000, parity=0))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "BatchEvalPython" not in p
    assert "ArrowEvalPython" not in p
    assert "BroadcastHashJoin" in p  # the |communities|-row totals join


def test_final_batch_plans(spark):
    """Landmark bound estimation, mirror candidates, one Boruvka round,
    and the DOULION sample filter: equi-joins + hash aggregates only,
    site-size tables broadcast, no Python, no cartesian anywhere."""
    from dxa_pagerank_spark.functions.mirrors import mirror_candidates
    from dxa_pagerank_spark.operators.landmarks import estimate_distances
    from dxa_pagerank_spark.operators.mst import _canonical
    from dxa_pagerank_spark.operators.triangles import (
        _edge_hash_col,
        _oriented,
    )

    src, dst = fast_synthetic_edges(500, 4, seed=13)
    edges = edges_to_spark(spark, src, dst)

    # landmark triangle-inequality bounds: two vertex-keyed equi-joins
    dists = spark.createDataFrame(
        [(0, 1, 1), (0, 2, 2), (5, 1, 3), (5, 2, 1)],
        "landmark long, id long, dist long",
    )
    pairs = spark.createDataFrame([(1, 2)], "u long, v long")
    est_plan = _plan(estimate_distances(dists, pairs))

    # mirror candidates: capped fingerprint self-join + broadcast sizes
    docs = spark.createDataFrame(
        [(i, f"tok{i % 3} a b c d e f g h", "en") for i in range(40)],
        "doc_id long, text string, lang string",
    )
    mirror_plan = _plan(
        mirror_candidates(docs, block_size=5, prefix_tokens=4, max_fp_sites=8)
    )

    # one Boruvka live-edge round: two component-label equi-joins
    w = edges.select("src", "dst", (F.col("src") % 7 + 1).cast("double").alias("weight"))
    can = _canonical(w)
    comp = (
        can.select(F.col("a").alias("id"))
        .union(can.select(F.col("b").alias("id")))
        .distinct()
        .select("id", F.col("id").alias("c"))
    )
    live = (
        can.join(comp.select(F.col("id").alias("a"), F.col("c").alias("cu")), "a")
        .join(comp.select(F.col("id").alias("b"), F.col("c").alias("cv")), "b")
        .filter(F.col("cu") != F.col("cv"))
    )
    mst_plan = _plan(live)

    # DOULION: hash sampling is a pure column filter feeding the same
    # oriented-wedge machinery triangle_count uses
    und = edges.filter(F.col("src") != F.col("dst")).select(
        F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
    ).distinct()
    samp = und.filter(_edge_hash_col(F.col("a"), F.col("b"), 7) % 2 == 0)
    doulion_plan = _plan(
        _oriented(samp.select(F.col("a").alias("src"), F.col("b").alias("dst")))
    )

    for p in (est_plan, mirror_plan, mst_plan, doulion_plan):
        assert "CartesianProduct" not in p
        assert "BroadcastNestedLoopJoin" not in p
        assert "BatchEvalPython" not in p
        assert "ArrowEvalPython" not in p
    assert "BroadcastHashJoin" in mirror_plan  # the site-size attach


def test_session_new_graph_ops_plans(spark):
    """rich_club / ppr_sweep / wl_refinement / eigenvector_centrality
    (this session's additions) stay JVM-only equi-join shapes: no
    cartesian or nested-loop joins except ppr_sweep's 1-row
    vol_total scalar attach, and no Python eval anywhere."""
    from dxa_pagerank_spark.operators.eigencentrality import (
        eigenvector_centrality,
    )
    from dxa_pagerank_spark.operators.graphstats import rich_club
    from dxa_pagerank_spark.operators.localcluster import ppr_sweep
    from dxa_pagerank_spark.operators.wlrefine import wl_refinement

    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4)],
        "src long, dst long",
    )
    for df, nlj_budget in (
        (rich_club(edges), 0),
        (wl_refinement(edges, rounds=1), 0),
        (eigenvector_centrality(spark, edges, rounds=1), 0),
        # the crossJoin(total) 1-row scalar attach is the one allowed
        # BroadcastNestedLoopJoin node (the formatted plan names each
        # node twice: tree + detail section)
        (ppr_sweep(spark, edges, [0], rounds=1, top_m=4), 1),
    ):
        p = _plan(df)
        assert "CartesianProduct" not in p
        assert p.count("BroadcastNestedLoopJoin") <= 2 * nlj_budget
        assert "BatchEvalPython" not in p
        assert "ArrowEvalPython" not in p


def test_session_new_pipeline_ops_plans(spark):
    """attribution / reservoir / hitting / mixing / HRW / KN-LM /
    readability / z-order stay JVM-only with no cartesian joins; 1-row
    scalar attaches are the only nested-loop nodes (each counted
    twice by the formatted plan)."""
    from pyspark.sql import functions as F

    from dxa_pagerank_spark.functions.lmscore import kneser_ney_logprob
    from dxa_pagerank_spark.functions.sampling import weighted_reservoir
    from dxa_pagerank_spark.functions.textstats import readability
    from dxa_pagerank_spark.operators.graphstats import (
        attribute_assortativity,
        attribute_mixing_matrix,
    )
    from dxa_pagerank_spark.operators.hitting import hitting_times
    from dxa_pagerank_spark.operators.partitioning import (
        rendezvous_assign,
    )
    from dxa_pagerank_spark.plans.zorder import z_value
    from dxa_pagerank_spark.streaming.attribution import (
        attributed_clicks,
    )

    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 0), (2, 3)], "src long, dst long"
    )
    labels = spark.createDataFrame(
        [(0, "a"), (1, "a"), (2, "b"), (3, "b")], "id long, label string"
    )
    docs = spark.createDataFrame(
        [(0, "en", "a b. c d a b"), (1, "de", "x y? z")],
        "doc_id long, lang string, text string",
    )
    events = spark.createDataFrame(
        [(0, "2024-01-01 00:00:00", 1, "view"),
         (1, "2024-01-01 00:01:00", 1, "click")],
        "event_id long, ts string, user_id long, event_type string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))

    for df, nlj_nodes in (
        (attributed_clicks(events), 0),
        (
            weighted_reservoir(
                docs, "lang", F.col("doc_id"), F.lit(2.0), 1
            ),
            0,
        ),
        (hitting_times(spark, edges, [0], rounds=1), 0),
        (attribute_mixing_matrix(edges, labels), 1),  # 1-row total
        (attribute_assortativity(edges, labels), 3),  # 3 scalars
        (
            docs.select(rendezvous_assign(F.col("doc_id"), 4)),
            0,
        ),
        (kneser_ney_logprob(docs), 1),  # 1-row type-total attach
        (readability(docs), 0),
        (docs.select(z_value(F.col("doc_id"), F.col("doc_id"), 4)), 0),
    ):
        p = _plan(df)
        assert "CartesianProduct" not in p
        assert p.count("BroadcastNestedLoopJoin") <= 2 * nlj_nodes
        assert "BatchEvalPython" not in p
        assert "ArrowEvalPython" not in p


def test_blockrank_phase_plans(spark):
    """BlockRank's local round and init product stay equi-join shaped
    (host- or vertex-keyed), no cartesian, no Python."""
    from dxa_pagerank_spark.operators.blockrank import (
        blockrank_init,
        local_block_pagerank,
    )

    edges = spark.createDataFrame(
        [(0, 1), (1, 0), (2, 3), (3, 2), (1, 2)], "src long, dst long"
    )
    for df in (
        local_block_pagerank(spark, edges, block_size=2, rounds=1),
        blockrank_init(
            spark, edges, block_size=2, local_rounds=1, host_rounds=1
        ),
    ):
        p = _plan(df)
        assert "CartesianProduct" not in p
        assert "BroadcastNestedLoopJoin" not in p
        assert "BatchEvalPython" not in p
        assert "ArrowEvalPython" not in p


def test_session_final_batch_plans(spark):
    """JSD, change-rate, NB language ID: combine-heavy aggregates and
    broadcast model joins only — no cartesian beyond the documented
    labels-crossJoin (labels-sized broadcast), no Python."""
    from pyspark.sql import functions as F

    from dxa_pagerank_spark.functions.langnb import nb_classify, nb_train
    from dxa_pagerank_spark.functions.snapshots import change_rate
    from dxa_pagerank_spark.functions.terms import corpus_divergence

    docs = spark.createDataFrame(
        [(0, "en", "aaa bbb ccc"), (1, "de", "xxx yyy zzz")],
        "doc_id long, lang string, text string",
    )
    jsd = corpus_divergence(docs, "lang", "en", "de")
    p = _plan(jsd)
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p

    obs = spark.createDataFrame(
        [("u", True), ("u", False)], "url string, changed boolean"
    )
    p = _plan(change_rate(obs))
    assert "Exchange" in p  # exactly the one groupBy
    assert "BatchEvalPython" not in p
    assert "CartesianProduct" not in p

    model, stats = nb_train(docs)
    p = _plan(nb_classify(docs, model, stats))
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p
    assert "ArrowEvalPython" not in p
    # the model join is a broadcast (vocabulary-domain table)
    assert "BroadcastHashJoin" in p


def test_hyperball_gather_jvm_partial_agg(spark):
    """One HyperBall round: pure JVM, and the 16 elementwise-MAX
    aggregates partial-combine BEFORE the exchange (the register
    product must shrink to ~|V| rows map-side)."""
    from dxa_pagerank_spark.operators.anf import _initial_registers

    src, dst = fast_synthetic_edges(2000, 4, seed=3)
    edges = edges_to_spark(spark, src, dst)
    verts = (
        edges.select(F.col("src").alias("id"))
        .union(edges.select(F.col("dst").alias("id")))
        .distinct()
    )
    r = _initial_registers(verts, 4)
    nbr = (
        edges.join(r.select(F.col("id").alias("dst"), "regs"), "dst")
        .groupBy(F.col("src").alias("id"))
        .agg(
            F.array(*[F.max(F.col("regs")[i]) for i in range(16)]).alias(
                "nbr_regs"
            )
        )
    )
    plan = _plan(nbr)
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert plan.count("HashAggregate") >= 2  # partial + final


def test_encoding_quality_is_pure_projection(spark):
    """encoding_quality must compile to a single JVM projection —
    no exchange, no Python."""
    from dxa_pagerank_spark.functions.encoding import encoding_quality

    docs = spark.createDataFrame(
        [(1, "plain"), (2, "donâ€™t")], "doc_id long, text string"
    )
    plan = _plan(encoding_quality(docs))
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "Exchange" not in plan
