#!/usr/bin/env python3
"""Benchmark entry point: one workload, one fresh Spark driver, one closed-loop
client.

    python3 perfbench/run.py --workload {ivm_ingest,batch_queries} \
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout. The last line of standard output is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics``. With
``--trace 0`` the metrics are the end-to-end set (``END_TO_END``); with
``--trace 1`` every call into an engine layer runs inside a span and a Spark
job group, and the metrics are the per-layer set (``PER_LAYER``).

Everything the run writes goes under ``.perfbench/`` in the checkout: the
generated dataset (``data/``, built on first use and kept) and a per-run
directory (``run-<pid>/``: Spark local dirs, warehouse, temp files, IVM
state) that is removed at exit.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from batch_queries import HEADLINE  # noqa: E402
from measure import (  # noqa: E402
    Tracer,
    proc_peak_rss_mb,
    python_peak_rss_mb,
    spark_stage_counter,
)

ENGINE = "kafka_streams_and_ktable_example_spark"
WORKLOADS = ("ivm_ingest", "batch_queries")
END_TO_END = {
    "setup_s": "s",
    "latency_p50_s": "s",
    "throughput_per_s": "1/s",
    "retained_mb": "MB",
}
#: Every per-layer metric; a layer a workload does not touch reports 0.
PER_LAYER = {
    "session.start_s": "s",
    "sources.changelog_build_s": "s",
    "sources.stage_s": "s",
    "operators.view_build_s": "s",
    "operators.view_rows": "count",
    "ktable.lookup_plan_s": "s",
    "ktable.lookup_exec_s": "s",
    "ktable.scan_exec_s": "s",
    "ktable.jobs_per_read": "count",
    "ktable.tasks_per_read": "count",
    "ktable.lookup_p50_s": "s",
    "ktable.scan_p50_s": "s",
    "plans.construct_s": "s",
    "plans.plan_s": "s",
    "plans.execute_s": "s",
    **{f"plans.execute_s.{q}": "s" for q in HEADLINE},
    "plans.jobs": "count",
    "plans.stages": "count",
    "plans.tasks": "count",
    "plans.shuffle_write_mb": "MB",
    "plans.spill_mb": "MB",
    "plans.executor_cpu_s": "s",
    "plans.gc_s": "s",
    "streaming.jobs_per_batch": "count",
    "streaming.stages_per_batch": "count",
    "streaming.shuffle_write_mb_per_batch": "MB",
    "streaming.executor_cpu_s_per_batch": "s",
    "streaming.written_mb_per_batch": "MB",
    "streaming.write_amp": "ratio",
    "streaming.state_mb": "MB",
    "memory.peak_rss_mb": "MB",
    "traced.setup_s": "s",
    "traced.latency_p50_s": "s",
}


class Run:
    """What a workload needs: the session, its directories and seed, the
    tracer, and the correctness tally."""

    def __init__(self, args, root, spark, data_dir, run_dir, tracer, build_s):
        self.root = root
        self.spark = spark
        self.seed = args.seed
        self.seconds = args.seconds
        self.data_dir = data_dir
        self.run_dir = run_dir
        self.tracer = tracer
        self.build_s = build_s
        self.attempted = 0
        self.failed = 0
        self.setup_s = None

    def check(self, what: str, ok: bool) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.log(f"wrong result: {what}")

    def log(self, msg: str) -> None:
        print(f"perfbench: {msg}", file=sys.stderr, flush=True)

    def setup_done(self) -> None:
        """Mark the end of set-up; the dataset build is not set-up."""
        self.setup_s = time.perf_counter() - T_START - self.build_s
        self.log(f"set-up done after {self.setup_s:.1f} s")


def memory_mb(sc) -> tuple[float, float]:
    """``(peak, retained)`` memory, MB.

    Peak is the driver JVM's ``VmHWM`` plus this Python process's
    ``ru_maxrss``; it includes garbage the JVM had not yet collected, so it
    moves with GC timing. Retained is the engine's alone: what the JVM
    holds after a full collection, its live heap and non-heap (code cache,
    metaspace). Python's memory is left out of it, as it also holds the
    benchmark's own checking state.
    """
    jvm = sc._jvm
    peak = proc_peak_rss_mb(jvm.java.lang.ProcessHandle.current().pid())
    mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    # the first collection frees what Spark's ContextCleaner then releases
    # (broadcasts, shuffle files) on its own thread; the second one, after
    # the cleaner has run, leaves only what the engine still holds
    jvm.java.lang.System.gc()
    time.sleep(1)
    jvm.java.lang.System.gc()
    live = mx.getHeapMemoryUsage().getUsed() + mx.getNonHeapMemoryUsage().getUsed()
    return peak + python_peak_rss_mb(), live / 2**20


def pin_environment(run_dir: str, data_dir: str) -> None:
    """Fix the engine's knobs for this run before the JVM starts."""
    cpus = len(os.sched_getaffinity(0))
    phys_gib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    heap_gib = max(1, min(3, int(phys_gib // 4)))
    tmp = os.path.join(run_dir, "tmp")
    for d in ("local", "warehouse", "tmp"):
        os.makedirs(os.path.join(run_dir, d))
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(cpus),
            "SPARK_GRAFT_DRIVER_MEM": f"{heap_gib}g",
            "SPARK_GRAFT_SF_DIR": data_dir,
            "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
            "SPARK_GRAFT_WAREHOUSE": os.path.join(run_dir, "warehouse"),
            "TMPDIR": tmp,
            "PYSPARK_SUBMIT_ARGS": (
                "--conf spark.ui.showConsoleProgress=false"
                f" --driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData'"
                " pyspark-shell"
            ),
        }
    )
    os.environ.pop("SPARK_GRAFT_INITIAL_PARTS", None)


def descendants(pid: int) -> list[int]:
    """Pids of every live descendant of ``pid``, read from /proc."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def wait_gone(pids, timeout: float) -> None:
    """Wait for ``pids`` to exit; kill what is left after ``timeout``."""
    deadline = time.monotonic() + timeout
    for pid in pids:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
    for pid in pids:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def stop_spark(spark) -> None:
    """Stop the session and its JVM and wait until every process the JVM
    started (Python workers) has ended."""
    sc = spark.sparkContext
    gateway = sc._gateway
    proc = getattr(gateway, "proc", None)
    jvm_tree = [proc.pid] + descendants(proc.pid) if proc is not None else []
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway server exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    wait_gone(jvm_tree, timeout=30)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, ENGINE)):
        print(f"perfbench: no {ENGINE}/ in {root}; run from a checkout root",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)

    import datagen

    state = os.path.join(root, ".perfbench")
    data_dir, build_s = datagen.ensure_dataset(os.path.join(state, "data"))
    run_dir = os.path.join(state, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    pin_environment(run_dir, data_dir)

    spark = None
    try:
        from kafka_streams_and_ktable_example_spark.session import get_spark

        t0 = time.perf_counter()
        spark = get_spark(f"perfbench-{args.workload}")
        session_start_s = time.perf_counter() - t0
        sc = spark.sparkContext
        tracer = Tracer(sc, spark_stage_counter(sc)) if args.trace else Tracer()
        ctx = Run(args, root, spark, data_dir, run_dir, tracer, build_s)
        if args.workload == "ivm_ingest":
            import ivm_ingest as workload
        else:
            import batch_queries as workload
        out = workload.run(ctx)
        peak_rss_mb, retained_mb = memory_mb(sc)
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    e2e = dict(out["metrics"])
    e2e["setup_s"] = (ctx.setup_s, "s")
    e2e["retained_mb"] = (retained_mb, "MB")
    if args.trace:
        layers = {name: (0, unit) for name, unit in PER_LAYER.items()}
        layers.update(out["layers"])
        layers["session.start_s"] = (session_start_s, "s")
        layers["memory.peak_rss_mb"] = (peak_rss_mb, "MB")
        for name in ("setup_s", "latency_p50_s"):
            layers[f"traced.{name}"] = e2e[name]
        chosen = {k: layers[k] for k in PER_LAYER}
        trace_dir = os.path.join(state, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        trace_file = f"{args.workload}-seed{args.seed}-{os.getpid()}.json"
        with open(os.path.join(trace_dir, trace_file), "w") as f:
            json.dump({"t_start": T_START, "spans": tracer.spans}, f)
    else:
        chosen = {k: e2e[k] for k in END_TO_END}
    result = {
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in chosen.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
