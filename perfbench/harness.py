"""Run isolation for one benchmark run: private directories, the Spark
session, process-tree memory, host state and teardown.

Everything a run writes lives under ``<checkout>/.bench_work/<run>/``
(Spark local dirs, JVM and Python temp files, checkpoint and table
roots) and is deleted when the run ends; traces go to
``<checkout>/.bench_traces/``.
"""

from __future__ import annotations

import os
import shutil
import signal
import tempfile
import time

# JVM heap for the driver (local mode: the executors share it). Fixed and
# touched when the JVM starts, so neither heap growth nor first-touch page
# faults land in a timed pass, and RSS does not follow GC timing.
DRIVER_MEMORY = "1536m"


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


class Workspace:
    """Private per-run directories; ``close()`` removes them."""

    def __init__(self, checkout: str, run_name: str) -> None:
        self.checkout = checkout
        self.root = os.path.join(checkout, ".bench_work", f"{run_name}-{os.getpid()}")
        self.local = os.path.join(self.root, "local")
        self.tmp = os.path.join(self.root, "tmp")
        self.ckpt = os.path.join(self.root, "ckpt")
        self.tables = os.path.join(self.root, "tables")
        self.warehouse = os.path.join(self.root, "warehouse")
        for d in (self.local, self.tmp, self.ckpt, self.tables, self.warehouse):
            os.makedirs(d, exist_ok=True)

    def export_env(self) -> None:
        """Environment the driver JVM and its Python workers inherit: the
        checkout on PYTHONPATH (workers import the UDFs' module from it),
        private local and temp dirs, and no inherited master override."""
        pp = os.environ.get("PYTHONPATH", "")
        os.environ["PYTHONPATH"] = self.checkout + (os.pathsep + pp if pp else "")
        os.environ["SPARK_LOCAL_DIRS"] = self.local
        os.environ["TMPDIR"] = self.tmp
        # the spark-submit launcher JVM: no hsperfdata file outside the checkout
        os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
        tempfile.tempdir = self.tmp
        for var in ("SPARK_GRAFT_MASTER", "PYSPARK_GATEWAY_PORT", "PYSPARK_GATEWAY_SECRET"):
            os.environ.pop(var, None)

    def close(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)
        parent = os.path.dirname(self.root)
        try:
            os.rmdir(parent)  # only when no other run is using it
        except OSError:
            pass


def spark_conf(ws: Workspace) -> dict[str, str]:
    return {
        "spark.local.dir": ws.local,
        "spark.sql.warehouse.dir": ws.warehouse,
        # no hsperfdata files outside the checkout; JVM temp files inside
        "spark.driver.extraJavaOptions": (
            f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch -XX:-UsePerfData -Djava.io.tmpdir={ws.tmp}"
        ),
        # keep every stage of the run for the tracer's end-of-run read
        "spark.ui.retainedStages": "100000",
        "spark.ui.retainedJobs": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
    }


def start_session(ws: Workspace, app_name: str):
    from dxa_pagerank_spark.session import get_spark

    n = cpu_count()
    return get_spark(
        app_name=app_name,
        cores=n,
        shuffle_partitions=n,
        driver_memory=DRIVER_MEMORY,
        extra_conf=spark_conf(ws),
    )


# -- process tree ------------------------------------------------------

def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces: fields start after the last ')'
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def vm_hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def peak_rss_mb(spark) -> dict[str, float]:
    """VmHWM of this Python driver, the driver JVM and every process
    under the JVM (the Python worker daemon and its workers)."""
    jvm = spark.sparkContext._gateway.proc.pid  # noqa: SLF001
    return {
        "driver": vm_hwm_mb(os.getpid()),
        "jvm": vm_hwm_mb(jvm),
        "workers": sum(vm_hwm_mb(p) for p in descendants(jvm)),
    }


def stop_session(spark, timeout: float = 60.0) -> None:
    """Stop Spark, end the driver JVM and wait until it and every process
    it started have exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway  # noqa: SLF001
    proc = getattr(gw, "proc", None)
    tree = descendants(proc.pid) if proc is not None else []
    try:
        spark.stop()
    finally:
        if proc is not None:
            try:
                gw.shutdown()
            except Exception:  # noqa: BLE001 - the JVM may already be gone
                pass
            if proc.stdin is not None:
                proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=timeout)
            except Exception:  # noqa: BLE001 - TimeoutExpired
                proc.kill()
                proc.wait()
        SparkContext._gateway = None  # noqa: SLF001
        SparkContext._jvm = None  # noqa: SLF001
        deadline = time.monotonic() + timeout
        alive = [p for p in tree if os.path.exists(f"/proc/{p}")]
        while alive and time.monotonic() < deadline:
            time.sleep(0.05)
            alive = [p for p in alive if os.path.exists(f"/proc/{p}")]
        for p in alive:
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass
        while alive and time.monotonic() < deadline + 10:
            time.sleep(0.05)
            alive = [p for p in alive if os.path.exists(f"/proc/{p}")]


# -- host state --------------------------------------------------------

def host_state() -> dict:
    """Load average and cumulative CPU ticks (steal among them)."""
    with open("/proc/loadavg") as f:
        la = f.read().split()
    with open("/proc/stat") as f:
        cpu = [int(x) for x in f.readline().split()[1:]]
    return {
        "load1": float(la[0]),
        "load5": float(la[1]),
        "load15": float(la[2]),
        "steal_ticks": cpu[7] if len(cpu) > 7 else 0,
        "total_ticks": sum(cpu),
    }


def host_delta(before: dict, after: dict) -> dict:
    total = after["total_ticks"] - before["total_ticks"]
    steal = after["steal_ticks"] - before["steal_ticks"]
    return {
        "before": before,
        "after": after,
        "steal_share": steal / total if total > 0 else 0.0,
    }


def process_age_s() -> float:
    """Seconds since this process started (kernel start time)."""
    with open("/proc/self/stat") as f:
        stat = f.read()
    start_ticks = int(stat[stat.rindex(")") + 2 :].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")
