"""The shared superstep loop (operators/superstep.py): one Spark action
per round, no storage growth with the round count, and a readable state
after an early break."""

import uuid

from pyspark.sql import functions as F

from dxa_pagerank_spark.operators.superstep import supersteps


def _state(spark):
    return spark.range(64).select("id", F.lit(1.0).alias("x")).localCheckpoint(
        eager=True
    )


def _step(state):
    return state.select("id", (F.col("x") + 1.0).alias("x"))


def _run(state, rounds):
    for _ in supersteps(state, _step, [F.sum("x")], rounds):
        pass


def _jobs(spark, fn):
    """Number of Spark jobs `fn` starts."""
    sc = spark.sparkContext
    group = f"superstep-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_one_action_per_round(spark):
    state = _state(spark)
    agg_jobs = _jobs(spark, lambda: state.agg(F.sum("x")).collect())
    two = _jobs(spark, lambda: _run(state, 2))
    three = _jobs(spark, lambda: _run(state, 3))
    assert agg_jobs >= 1
    assert three - two == agg_jobs


def test_storage_does_not_grow_with_rounds(spark):
    sc = spark.sparkContext
    state = _state(spark)

    def new_persistent(rounds):
        before = set(sc._jsc.getPersistentRDDs().keys())
        for _, last, _, _ in supersteps(state, _step, [F.sum("x")], rounds):
            pass
        held = set(sc._jsc.getPersistentRDDs().keys()) - before
        assert last.count() == 64
        return len(held)

    # only the state yielded last is still held, however many rounds ran
    assert new_persistent(2) == new_persistent(6) == 1


def test_state_at_break_is_readable(spark):
    for rnd, state, row, _ in supersteps(_state(spark), _step, [F.sum("x")], 10):
        if rnd == 3:
            break
    assert rnd == 3 and row[0] == 64 * 4.0
    assert state.agg(F.sum("x")).collect()[0][0] == 64 * 4.0


def _persistent(sc):
    return set(sc._jsc.getPersistentRDDs().keys())


def test_release_frees_checkpoints_and_cut_frames(spark):
    """``release`` drops the blocks of a checkpoint, also behind a
    cut_lineage frame, whose plan scans a projection of its checkpoint."""
    from dxa_pagerank_spark.operators.superstep import release
    from dxa_pagerank_spark.plans.lineage import cut_lineage

    sc = spark.sparkContext
    for make in (lambda df: df.localCheckpoint(eager=True), cut_lineage):
        before = _persistent(sc)
        frame = make(spark.range(32).select("id", (F.col("id") * 2).alias("x")))
        assert len(_persistent(sc) - before) == 1
        release(frame)
        assert not _persistent(sc) - before


def test_kcore_storage_does_not_grow_with_rounds(spark):
    """k_core peels a 20-vertex path two vertices per round: each round
    checkpoints the survivors and must free the round before."""
    from dxa_pagerank_spark.operators.kcore import k_core

    sc = spark.sparkContext
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(19)], "src long, dst long"
    )

    def held_after(rounds):
        before = _persistent(sc)
        core = k_core(spark, edges, k=2, max_rounds=rounds)
        held = _persistent(sc) - before
        assert core.count() == 18 - 2 * rounds  # still readable
        return len(held)

    assert held_after(1) == held_after(5) == 1


def test_scc_storage_does_not_grow_with_rounds(spark):
    """A directed cycle with a three-vertex tail: coloring and the
    backward closure take one round per cycle vertex, trimming one per
    tail vertex. After the call only the result's checkpoint is held,
    whatever the cycle's length."""
    from dxa_pagerank_spark.operators.scc import strongly_connected_components

    sc = spark.sparkContext

    def held_after(cycle):
        ring = [(i, (i + 1) % cycle) for i in range(cycle)]
        tail = [(cycle - 1, cycle), (cycle, cycle + 1), (cycle + 1, cycle + 2)]
        edges = spark.createDataFrame(ring + tail, "src long, dst long")
        before = _persistent(sc)
        sccs = strongly_connected_components(spark, edges)
        held = _persistent(sc) - before
        got = {r["id"]: r["scc"] for r in sccs.collect()}  # still readable
        assert got == {**{i: 0 for i in range(cycle)},
                       **{v: v for v in range(cycle, cycle + 3)}}
        return len(held)

    assert held_after(3) == held_after(6) == 1


def test_core_numbers_storage_does_not_grow_with_rounds(spark):
    """Peeling a path's 2-core takes one round per two vertices; only
    the per-level cores the result still reads stay held."""
    from dxa_pagerank_spark.operators.kcore import core_numbers

    sc = spark.sparkContext

    def held_after(length):
        edges = spark.createDataFrame(
            [(i, i + 1) for i in range(length - 1)], "src long, dst long"
        )
        before = _persistent(sc)
        cores = core_numbers(spark, edges)
        held = _persistent(sc) - before
        assert {r["coreness"] for r in cores.collect()} == {1}
        return len(held)

    assert held_after(6) == held_after(16)


def test_pagerank_frees_everything_with_its_result(spark):
    """After a pagerank call and an unpersist of its result, storage is
    back to what it was before the call: the cut of the caller's edges,
    every round's checkpoint and every cache of the call are gone."""
    from dxa_pagerank_spark.datagen import edges_to_spark, fast_synthetic_edges
    from dxa_pagerank_spark.operators.pagerank import pagerank

    sc = spark.sparkContext
    src, dst = fast_synthetic_edges(300, 4, seed=7)
    edges = edges_to_spark(spark, src, dst)
    before = _persistent(sc)
    res = pagerank(spark, edges, num_vertices=300, threshold=0.0, max_rounds=4)
    assert res.rounds == 4 and res.ranks.count() == 300
    res.ranks.unpersist(blocking=True)
    assert not _persistent(sc) - before
