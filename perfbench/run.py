"""Link-graph benchmark: one workload, one seed, one fresh process.

    python3 perfbench/run.py --workload pagerank-uniform --seed 1 --seconds 12 --trace 0

Run it from the root of a checkout. The process starts its own Spark
session on ``local[nproc]`` with ``nproc`` shuffle partitions, builds the
workload's input from the seed, warms up on a small replica of that input
(checked exactly against the oracles), then repeats the workload's timed
pass while another pass still fits in ``--seconds`` (at least one pass),
checks the full-size outputs and prints, as its last stdout line::

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` alternates
untraced and traced passes and reports the per-layer metrics, writing
every span to ``.bench_traces/<workload>-s<seed>.json``.
"""

import time

T0 = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from collections import defaultdict  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)
WORKLOAD_NAMES = ("pagerank-uniform", "rmat-skew", "crawl-ingest")
DEADLINE_S = 170  # the run must end within 180 s
LAYER_ROOTS = ("operators", "plans", "sources")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


class Abort(Exception):
    """The deadline passed or the run was terminated: clean up and exit."""


def _abort(signum, frame):
    raise Abort(f"signal {signum} (deadline {DEADLINE_S} s)")


class Run:
    """State of one benchmark run: counters, the session, the tracer."""

    def __init__(self, args, age0: float) -> None:
        import harness
        from tracing import Tracer

        self.args = args
        self.seed = args.seed
        self.cores = harness.cpu_count()
        self.ws = harness.Workspace(CHECKOUT, f"{args.workload}-s{args.seed}")
        self.tracer = Tracer(f"{args.workload}-s{args.seed}-{os.getpid()}", enabled=False)
        self.age0 = age0
        self.spark = None
        self.attempted = 0
        self.failed = 0

    def call(self, rec, name: str, fn, layer: str | None = None):
        """One library call: counted, timed into rec[name], traced as a
        span of ``layer`` (default: the call's name)."""
        self.attempted += 1
        t = time.monotonic()
        try:
            with self.tracer.span(name, layer or name):
                out = fn()
        except Exception:
            self.failed += 1
            raise
        rec[name].append(time.monotonic() - t)
        return out

    def check(self, what: str, ok: bool, detail=None) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"CHECK FAILED: {what} ({detail})", file=sys.stderr, flush=True)

    # -----------------------------------------------------------------

    def execute(self, out: dict) -> None:
        import harness
        import inputs
        from workloads import WORKLOADS

        wl = WORKLOADS[self.args.workload]
        self.ws.export_env()
        t = time.monotonic()
        self.spark = harness.start_session(self.ws, f"perfbench-{wl.name}")
        out["session_start_s"] = time.monotonic() - t
        self.tracer.attach(self.spark)

        t = time.monotonic()
        try:
            inp = wl.make_input(self, full=True)
        except inputs.InputCheckError as e:
            self.check("full-size input sanity", False, e)
            raise
        self.check("full-size input sanity", True)
        out["gen_s"] = time.monotonic() - t
        out["inputs"] = inp["stats"]
        print(json.dumps({"input": inp["stats"]}), flush=True)

        # warm-up: the same pass on a small replica, checked exactly
        t = time.monotonic()
        rep = wl.make_input(self, full=False)
        self.check("replica input sanity", True)
        rec = defaultdict(list)
        wl.run_pass(self, rep, rec)
        wl.check(self, rep, rec, full=False)
        wl.release(rec)
        for df in ("edges", "pages"):
            if df in rep:
                rep[df].unpersist()
        out["warmup_s"] = time.monotonic() - t
        out["setup_s"] = self.age0 + (time.monotonic() - T0)

        # timed phase: passes while another one fits in --seconds of
        # timed work; each pass is checked (untimed) before the next.
        # Traced runs alternate untraced and traced passes, at least
        # U,T,U, so the overhead compares two passes after the first.
        recs, repeats = [], set()
        while True:
            traced = bool(self.args.trace) and len(recs) % 2 == 1
            rec = defaultdict(list)
            self.tracer.enabled = traced
            t = time.monotonic()
            with self.tracer.span("bench.pass", "bench"):
                wl.run_pass(self, inp, rec)
            rec["wall"] = time.monotonic() - t
            rec["traced"] = traced
            self.tracer.enabled = False
            recs.append(rec)
            if len(recs) == 1:
                out["rss_mb"] = harness.peak_rss_mb(self.spark)
                out["peak_rss_mb"] = sum(out["rss_mb"].values())
            repeats.add(wl.check(self, inp, rec, full=True))
            wl.release(rec)
            if self.args.trace and len(recs) < 3:
                continue
            walls = [r["wall"] for r in recs]
            if sum(walls) + statistics.median(walls) > self.args.seconds:
                break
        self.check("full: outputs repeat across passes", len(repeats) == 1, len(repeats))
        out["passes"] = [round(r["wall"], 4) for r in recs]

        plain = [r for r in recs if not r["traced"]]
        out["job_s"] = statistics.median(r["wall"] for r in plain)
        out["calls_s"] = [
            {k: round(sum(v), 3) for k, v in r.items() if k.split(".")[0] in LAYER_ROOTS}
            for r in recs
        ]
        out |= wl.throughput(inp, plain)
        if self.args.trace:
            import layers

            traced_recs = [r for r in recs if r["traced"]]
            out["layers"] = layers.per_layer(self, out, traced_recs, plain[1:])

    def write_trace(self, out: dict) -> str:
        """Spans plus the run's records (host state included), written once."""
        d = os.path.join(CHECKOUT, ".bench_traces")
        os.makedirs(d, exist_ok=True)
        path = os.path.join(d, f"{self.args.workload}-s{self.seed}.json")
        self.tracer.dump(path, out)
        return os.path.relpath(path, CHECKOUT)

    def stop(self) -> None:
        import harness

        try:
            if self.spark is not None:
                harness.stop_session(self.spark)
        finally:
            self.ws.close()


def end_to_end(out: dict) -> dict:
    return {
        "setup_s": {"value": out["setup_s"], "unit": "s"},
        "job_s": {"value": out["job_s"], "unit": "s"},
        "peak_rss_mb": {"value": out["peak_rss_mb"], "unit": "MB"},
        "superstep_edges_per_s": {"value": out["superstep_edges_per_s"], "unit": "1/s"},
        "pages_per_s": {"value": out["pages_per_s"], "unit": "1/s"},
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(CHECKOUT, "dxa_pagerank_spark", "__init__.py")):
        print(
            f"perfbench: no dxa_pagerank_spark package under {CHECKOUT}; "
            "run from the root of a full checkout",
            file=sys.stderr,
        )
        return 2
    sys.path.insert(0, CHECKOUT)
    import harness

    signal.signal(signal.SIGALRM, _abort)
    signal.signal(signal.SIGTERM, _abort)
    signal.alarm(DEADLINE_S)
    age0 = harness.process_age_s() - (time.monotonic() - T0)
    host0 = harness.host_state()
    run = Run(args, age0)
    out: dict = {}
    ok = True
    try:
        run.execute(out)
    except Exception:  # noqa: BLE001 - report any failure as a failed run
        traceback.print_exc()
        ok = False
    finally:
        try:
            run.stop()
        finally:
            signal.alarm(0)
    out["host"] = harness.host_delta(host0, harness.host_state())
    if ok and args.trace:
        out["trace_file"] = run.write_trace(out)
    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "host": out["host"], "passes": out.get("passes"), "trace_file": out.get("trace_file"),
        **{k: out.get(k) for k in ("session_start_s", "gen_s", "warmup_s", "rss_mb", "calls_s")},
    }), flush=True)
    if not ok:
        print(json.dumps({"correct": False, "attempted": max(run.attempted, 1),
                          "failed": max(run.failed, 1), "metrics": {}}), flush=True)
        return 1
    metrics = out["layers"] if args.trace else end_to_end(out)
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
