"""Spans around the benchmark's calls into the library, plus the Spark
counters each call caused.

A span records name, layer, start, end, parent and run id. Spans stay in
memory and are written once, when the run ends. Spark counters are
attributed without polling the status store during the run: at every
span boundary the tracer reads the DAG scheduler's next stage and job
ids (two cheap py4j calls), so the stages created between two boundaries
belong to the innermost span that was open. The stage records are read
once at the end from ``statusStore().stageList(...)``, after the
listener bus has drained. ``spark.ui.retainedStages``/``retainedJobs``
must be raised (``harness.spark_conf`` does) or old stages are evicted.

A disabled tracer records nothing and makes no py4j call.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# per-call Spark counters, in the order they are reported
SPARK_COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "failed_tasks",
    "executor_run_s",
    "executor_cpu_s",
    "gc_s",
    "shuffle_write_mb",
    "shuffle_read_mb",
    "spill_mb",
    "wait_s",
)

_MB = 1024.0 * 1024.0


@dataclass
class Span:
    sid: int
    name: str
    layer: str
    parent: int | None
    start: float
    end: float = 0.0
    # [first, last) stage-id ranges created while this span was innermost
    stage_ranges: list = field(default_factory=list)
    jobs: int = 0
    child_s: float = 0.0

    @property
    def dur(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.dur - self.child_s


class Tracer:
    def __init__(self, run_id: str, enabled: bool) -> None:
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._spark = None
        self._stage_mark = 0
        self._job_mark = 0
        # time spent inside the tracer's own probes (its direct overhead)
        self.probe_s = 0.0
        self.probes = 0

    def attach(self, spark) -> None:
        """Start attributing Spark work; call once the session is up."""
        self._spark = spark
        if self.enabled:
            self._mark()

    def _mark(self) -> None:
        if self._spark is None:
            return
        t = time.monotonic()
        dag = self._spark.sparkContext._jsc.sc().dagScheduler()  # noqa: SLF001
        nxt_stage, nxt_job = int(dag.nextStageId()), int(dag.nextJobId())
        if self._stack:
            top = self._stack[-1]
            if nxt_stage > self._stage_mark:
                top.stage_ranges.append((self._stage_mark, nxt_stage))
            top.jobs += nxt_job - self._job_mark
        self._stage_mark, self._job_mark = nxt_stage, nxt_job
        self.probes += 1
        self.probe_s += time.monotonic() - t

    @contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield
            return
        self._mark()
        parent = self._stack[-1].sid if self._stack else None
        sp = Span(
            sid=len(self.spans),
            name=name,
            layer=layer,
            parent=parent,
            start=time.monotonic(),
        )
        self.spans.append(sp)
        self._stack.append(sp)
        try:
            yield
        finally:
            sp.end = time.monotonic()
            self._mark()
            self._stack.pop()
            if self._stack:
                self._stack[-1].child_s += sp.dur

    # -- end of run ----------------------------------------------------

    def stage_table(self) -> dict[int, dict]:
        """stageId -> summed counters over its attempts (SKIPPED stages
        are dropped: they ran no task)."""
        if not self.spans or self._spark is None:
            return {}
        sc = self._spark.sparkContext
        jsc = sc._jsc.sc()  # noqa: SLF001
        jsc.listenerBus().waitUntilEmpty()
        lst = jsc.statusStore().stageList(
            None, False, False, sc._gateway.new_array(sc._jvm.double, 0), None
        )
        table: dict[int, dict] = {}
        for i in range(lst.size()):
            s = lst.apply(i)
            if s.status().toString() == "SKIPPED":
                continue
            row = table.setdefault(
                int(s.stageId()),
                {
                    "stages": 0,
                    "tasks": 0,
                    "failed_tasks": 0,
                    "executor_run_s": 0.0,
                    "executor_cpu_s": 0.0,
                    "gc_s": 0.0,
                    "shuffle_write_mb": 0.0,
                    "shuffle_read_mb": 0.0,
                    "spill_mb": 0.0,
                },
            )
            row["stages"] = 1
            row["tasks"] += int(s.numTasks())
            row["failed_tasks"] += int(s.numFailedTasks())
            row["executor_run_s"] += s.executorRunTime() / 1e3
            row["executor_cpu_s"] += s.executorCpuTime() / 1e9
            row["gc_s"] += s.jvmGcTime() / 1e3
            row["shuffle_write_mb"] += s.shuffleWriteBytes() / _MB
            row["shuffle_read_mb"] += s.shuffleReadBytes() / _MB
            row["spill_mb"] += s.diskBytesSpilled() / _MB
        return table

    def layer_counters(self, cores: int) -> dict[str, dict]:
        """layer -> Spark counters summed over the SELF part of its spans
        (work of nested spans is counted in their own layer).
        wait_s = self time - executor_run_s / cores."""
        stages = self.stage_table()
        out: dict[str, dict] = {}
        for sp in self.spans:
            acc = out.setdefault(
                sp.layer, {k: 0.0 for k in SPARK_COUNTERS} | {"self_s": 0.0}
            )
            acc["jobs"] += sp.jobs
            acc["self_s"] += sp.self_s
            for lo, hi in sp.stage_ranges:
                for sid in range(lo, hi):
                    row = stages.get(sid)
                    if row is None:
                        continue
                    for k, v in row.items():
                        acc[k] += v
        for acc in out.values():
            acc["wait_s"] = acc["self_s"] - acc["executor_run_s"] / cores
        return out

    def dump(self, path: str, extra: dict) -> None:
        """Write every span (and the run's extra records) as one JSON file."""
        spans = [
            {
                "run_id": self.run_id,
                "id": sp.sid,
                "name": sp.name,
                "layer": sp.layer,
                "parent": sp.parent,
                "start": sp.start,
                "end": sp.end,
                "self_s": sp.self_s,
                "jobs": sp.jobs,
                "stage_ranges": sp.stage_ranges,
            }
            for sp in self.spans
        ]
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": spans, **extra}, f, indent=1)
