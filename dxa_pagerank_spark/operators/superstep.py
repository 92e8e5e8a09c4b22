"""The one BSP superstep loop shared by the iterative operators.

The reference drives PageRank from a master loop: start a round, wait
for every worker, read the round's scalars, decide whether to go on
(MainPR.java:148-161). ``supersteps`` is that loop over DataFrames.
Each round it

  * builds ``step(state)`` (lazy — no job yet);
  * cuts lineage with ``localCheckpoint(eager=False)``, so round t's
    plan never embeds rounds 1..t-1 and Catalyst analysis stays O(1);
  * runs ``agg(*aggs).collect()`` as the round's ONE action: the job
    that reduces the round's scalars also materialises the checkpoint
    (an eager checkpoint plus a separate aggregate would be two);
  * releases the state it produced the round before.

What stays in the caller's loop body is what differs per operator: the
convergence test and ``break``, durable checkpoint saves, stats. A
scalar the next round needs (a dangling mass, a normaliser, a
changed-count) belongs in ``aggs``; ``step`` is called lazily, after
the caller's body for the previous round has run, so it can read the
value the body stored from ``row``.
"""

from __future__ import annotations

import time
from collections.abc import Callable, Iterator, Sequence

from pyspark.sql import Column, DataFrame, Row
from pyspark.storagelevel import StorageLevel

# The per-round snapshot is a sequential write the OS absorbs; keeping
# it OFF the JVM heap measurably tames the GC churn that per-round
# heap-resident snapshots cause under many task threads (BENCH.md df
# matrix: medians improved at both 8 and 32 cores, 32-core floor
# 9.3 s -> 5.7 s). Results are identical at any storage level.
STATE_STORAGE = StorageLevel.DISK_ONLY


def _release(df: DataFrame) -> None:
    """Drop the blocks behind a localCheckpoint-ed frame.

    ``DataFrame.unpersist`` only clears the SQL cache manager, which
    never holds a checkpoint: the blocks belong to the RDD inside the
    frame's ``LogicalRDD`` plan and would otherwise stay registered
    until a JVM garbage collection lets the context cleaner find them.
    (``SparkContext.unpersistRDD``, not ``RDD.unpersist``: the latter
    logs a lineage warning per call, i.e. per round.) Falls back to
    ``unpersist`` for frames without that plan (or without the JVM
    private surface, e.g. Spark Connect)."""
    try:
        rdd = df._jdf.queryExecution().analyzed().rdd()
        rdd.context().unpersistRDD(rdd.id(), False)
    except Exception:
        df.unpersist()


def supersteps(
    state: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    aggs: Sequence[Column],
    max_rounds: int,
    start: int = 0,
) -> Iterator[tuple[int, DataFrame, Row, int]]:
    """Yield ``(round, state, row, ms)`` for rounds start+1..max_rounds.

    ``round`` counts from 1 (``start`` rounds already done, e.g. after
    a resume); ``row`` is the round's ``agg(*aggs)`` result; ``ms`` the
    round's wall time. The input ``state`` stays the caller's; every
    state the loop produced is released once the next one is
    materialised, so the state yielded last — also at an early
    ``break`` — stays readable."""
    for rnd in range(start + 1, max_rounds + 1):
        t0 = time.monotonic()
        nxt = step(state).localCheckpoint(eager=False, storageLevel=STATE_STORAGE)
        row = nxt.agg(*aggs).collect()[0]
        if rnd > start + 1:
            _release(state)
        state = nxt
        yield rnd, state, row, int((time.monotonic() - t0) * 1000)
