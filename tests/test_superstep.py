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
