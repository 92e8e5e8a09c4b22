"""Per-layer metrics of a traced run.

Times and counts are per timed pass (the mean over the traced passes).
Spark counters come from the tracer: each layer gets the stages, jobs and
task metrics of the calls into it, minus what its nested calls caused.
Every workload reports every metric; a layer the workload never calls
reads 0.

Which end-to-end metric each layer metric should move:

  session.start_s, datagen.gen_s             setup_s, all workloads
  operators.pagerank.*                       superstep_edges_per_s, job_s
                                             (uniform; salted on rmat-skew;
                                             hashed ids on crawl-ingest)
  plans.checkpoint.*                         job_s, pagerank-uniform
  operators.pagerank_csr.*                   job_s, pagerank-uniform
  operators.components/labelprop/triangles   job_s, rmat-skew
  sources.pages.*                            pages_per_s, job_s, crawl-ingest
  plans.tableio.*                            job_s, crawl-ingest
  <layer>.spark.*                            job_s of the workload calling it;
                                             gc_s also peak_rss_mb
"""

from __future__ import annotations

import statistics

from tracing import SPARK_COUNTERS

SPARK_LAYERS = (
    "operators.pagerank",
    "plans.checkpoint",
    "operators.pagerank_csr",
    "operators.components",
    "operators.labelprop",
    "operators.triangles",
    "sources.pages",
    "plans.tableio",
)

_COUNTER_UNITS = {
    "jobs": "count",
    "stages": "count",
    "tasks": "count",
    "failed_tasks": "count",
    "executor_run_s": "s",
    "executor_cpu_s": "s",
    "gc_s": "s",
    "shuffle_write_mb": "MB",
    "shuffle_read_mb": "MB",
    "spill_mb": "MB",
    "wait_s": "s",
}


def _per_pass(recs, key) -> float:
    """Mean over passes of the per-pass sum of rec[key]."""
    return sum(sum(r.get(key, [])) for r in recs) / len(recs)


def _rounds_ms(results) -> list[int]:
    return [ms for res in results for ms in res.round_ms]


def per_layer(run, out: dict, traced: list, plain: list) -> dict:
    k = len(traced)
    m: dict[str, tuple[float, str]] = {}

    def put(name, value, unit):
        m[name] = (float(value), unit)

    put("session.start_s", out["session_start_s"], "s")
    put("datagen.gen_s", out["gen_s"], "s")
    put("bench.warmup_s", out["warmup_s"], "s")
    job_t = statistics.median(r["wall"] for r in traced)
    job_u = statistics.median(r["wall"] for r in plain)
    put("bench.job_s", job_t, "s")
    put("bench.job_s_untraced", job_u, "s")
    put("bench.trace_overhead_s", job_t - job_u, "s")
    put("bench.trace_self_s", run.tracer.probe_s / k, "s")

    pr = [res for r in traced for res in r.get("pr", [])]
    pr_ms = _rounds_ms(pr)
    ckpt_s = _per_pass(traced, "plans.checkpoint.save") + _per_pass(traced, "plans.checkpoint.latest")
    pr_call = _per_pass(traced, "operators.pagerank")
    put("operators.pagerank.call_s", pr_call, "s")
    # call minus rounds minus the checkpoint calls nested in it
    put("operators.pagerank.build_s", pr_call - sum(pr_ms) / 1e3 / k - ckpt_s if pr else 0, "s")
    put("operators.pagerank.round_ms_p50", statistics.median(pr_ms) if pr_ms else 0, "ms")
    put("operators.pagerank.round_ms_max", max(pr_ms) if pr_ms else 0, "ms")
    put("operators.pagerank.rounds", len(pr_ms) / k, "count")

    put("plans.checkpoint.save_s", _per_pass(traced, "plans.checkpoint.save"), "s")
    put("plans.checkpoint.saves", sum(len(r.get("plans.checkpoint.save", [])) for r in traced) / k, "count")
    put("plans.checkpoint.latest_s", _per_pass(traced, "plans.checkpoint.latest"), "s")

    csr = [res for r in traced for res in r.get("csr", [])]
    csr_ms = _rounds_ms(csr)
    csr_call = _per_pass(traced, "operators.pagerank_csr")
    put("operators.pagerank_csr.call_s", csr_call, "s")
    put("operators.pagerank_csr.build_s", csr_call - sum(csr_ms) / 1e3 / k if csr else 0, "s")
    put("operators.pagerank_csr.round_ms_p50", statistics.median(csr_ms) if csr_ms else 0, "ms")

    put("operators.components.call_s", _per_pass(traced, "operators.components"), "s")
    put("operators.components.rounds", _per_pass(traced, "components_rounds"), "count")
    put("operators.labelprop.call_s", _per_pass(traced, "operators.labelprop"), "s")
    put("operators.triangles.call_s", _per_pass(traced, "operators.triangles"), "s")
    put("operators.triangles.count", _per_pass(traced, "triangles"), "count")

    put("sources.pages.enrich_pages_s", _per_pass(traced, "sources.pages.enrich_pages"), "s")
    put("sources.pages.pages_to_edges_s", _per_pass(traced, "sources.pages.pages_to_edges"), "s")
    put("sources.pages.edges_out", _per_pass(traced, "edges_out"), "count")

    put("plans.tableio.write_s", _per_pass(traced, "plans.tableio.write"), "s")
    put("plans.tableio.read_s", _per_pass(traced, "plans.tableio.read"), "s")
    put("plans.tableio.bytes_written", _per_pass(traced, "bytes_written"), "bytes")

    counters = run.tracer.layer_counters(run.cores)
    zero = dict.fromkeys(SPARK_COUNTERS, 0.0)
    for layer in SPARK_LAYERS:
        c = counters.get(layer, zero)
        for name in SPARK_COUNTERS:
            put(f"{layer}.spark.{name}", c[name] / k, _COUNTER_UNITS[name])

    return {name: {"value": v, "unit": u} for name, (v, u) in m.items()}

