"""Measurement helpers: percentiles, Spark status-store deltas, spans, RSS.

Nothing here imports pyspark: the Spark handles are passed in, so the
helpers can be tested with stand-ins.
"""

from __future__ import annotations

import math
import os
import resource
import time
from contextlib import contextmanager


class TooFewSamples(ValueError):
    """A percentile was asked of a sample too small to support it."""


def percentile(values, q: float, min_beyond: int = 10) -> tuple[float, int]:
    """Return ``(value, n)``: the ``q``-th percentile (0 < q < 100) of
    ``values`` by linear interpolation, and the sample count.

    Refuses (``TooFewSamples``) unless at least ``min_beyond`` samples lie
    beyond the percentile, so a tail figure is never read off a handful of
    points: p50 needs 20 samples, p90 needs 100.
    """
    xs = sorted(values)
    n = len(xs)
    if not 0 < q < 100:
        raise ValueError(f"percentile must be in (0, 100), got {q}")
    beyond = math.floor(n * (100 - q) / 100)
    if beyond < min_beyond:
        raise TooFewSamples(
            f"p{q:g} of {n} samples has {beyond} beyond it; needs {min_beyond}"
        )
    pos = (n - 1) * q / 100
    lo = math.floor(pos)
    hi = min(lo + 1, n - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo), n


def median(values) -> float:
    """Median of a non-empty sample with no sample-count floor; for figures
    that are themselves aggregates (one pass, one batch), not tails."""
    xs = sorted(values)
    if not xs:
        raise ValueError("median of an empty sample")
    mid = len(xs) // 2
    return xs[mid] if len(xs) % 2 else (xs[mid - 1] + xs[mid]) / 2


#: Stage fields summed by :class:`StageCounter`, as named on Spark's
#: ``v1.StageData`` (CPU time in ns, GC time in ms, as Spark reports them).
STAGE_FIELDS = (
    "numTasks",
    "shuffleWriteBytes",
    "memoryBytesSpilled",
    "diskBytesSpilled",
    "executorCpuTime",
    "jvmGcTime",
)


class StageCounter:
    """Counts the Spark work one job group did.

    ``jobs_fn(group)`` returns the group's job ids, ``job_stages_fn(job)``
    the stage ids of a job, and ``stage_fn(stage)`` a list of attempt records
    ``{"status": str, field: number, ...}``. A stage shared by several jobs
    counts once. ``SKIPPED`` stages reuse shuffle output computed earlier
    and run no task, so only executed attempts are counted and summed.
    """

    def __init__(self, jobs_fn, job_stages_fn, stage_fn):
        self._jobs = jobs_fn
        self._job_stages = job_stages_fn
        self._stage = stage_fn

    def delta(self, group: str) -> dict:
        jobs = list(self._jobs(group))
        stage_ids = sorted({s for j in jobs for s in self._job_stages(j)})
        ran = [
            a for s in stage_ids for a in self._stage(s) if a["status"] != "SKIPPED"
        ]
        out = {"jobs": len(jobs), "stages": len(ran)}
        for f in STAGE_FIELDS:
            out[f] = sum(a[f] for a in ran)
        return out


def spark_stage_counter(sc) -> StageCounter:
    """A :class:`StageCounter` over a live SparkContext's status tracker and
    status store; both work with ``spark.ui.enabled=false``."""
    jvm = sc._jvm
    jsc = sc._jsc.sc()
    store = jsc.statusStore()
    tracker = sc.statusTracker()
    no_quantiles = sc._gateway.new_array(jvm.double, 0)

    def jobs(group):
        # job and stage completions reach the store through the listener
        # bus asynchronously; drain it so the last stage is counted
        jsc.listenerBus().waitUntilEmpty()
        return tracker.getJobIdsForGroup(group)

    def job_stages(job):
        info = tracker.getJobInfo(job)
        return list(info.stageIds) if info is not None else []

    def stage(sid):
        it = store.stageData(
            sid, False, jvm.java.util.ArrayList(), False, no_quantiles
        ).iterator()
        out = []
        while it.hasNext():
            s = it.next()
            rec = {"status": str(s.status())}
            for f in STAGE_FIELDS:
                rec[f] = getattr(s, f)()
            out.append(rec)
        return out

    return StageCounter(jobs, job_stages, stage)


class Tracer:
    """In-memory spans around the benchmark's calls into the engine.

    Disabled, :meth:`span` only yields. Enabled, it runs the body under a
    Spark job group of its own and records the span's name, request id,
    start and end, plus the work ``counter`` attributes to that group. A body
    whose jobs run under another group (a streaming query's micro-batches
    run under the query's run id) lists it in ``rec["extra_groups"]``.
    Spans do not nest: each wraps one call into one layer.
    """

    def __init__(self, sc=None, counter: StageCounter | None = None):
        self.enabled = counter is not None
        self._sc = sc
        self._counter = counter
        self.spans: list[dict] = []

    @contextmanager
    def span(self, name: str, request: str = ""):
        if not self.enabled:
            yield None
            return
        group = f"{name}#{len(self.spans)}"
        rec = {"name": name, "request": request}
        self.spans.append(rec)
        self._sc.setJobGroup(group, name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            for g in [group] + rec.pop("extra_groups", []):
                for k, v in self._counter.delta(g).items():
                    rec[k] = rec.get(k, 0) + v

    def total(self, name: str) -> float:
        """Summed duration of the spans called ``name``."""
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)


def python_peak_rss_mb() -> float:
    """Peak resident set of this Python process (Linux reports KiB)."""
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


def proc_peak_rss_mb(pid: int) -> float:
    """Peak resident set (``VmHWM``) of another process, from /proc."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def dir_files(path: str) -> dict:
    """``{(inode, mtime_ns): size}`` of every regular file under ``path``.
    A file written after an earlier call shows up as a new key; a file
    only renamed (a directory swapped into place) keeps its key."""
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                st = os.stat(os.path.join(root, f))
            except FileNotFoundError:
                continue
            out[(st.st_ino, st.st_mtime_ns)] = st.st_size
    return out


def written_bytes(before: dict, after: dict) -> int:
    """Bytes of the files in ``after`` (a :func:`dir_files` result) that
    ``before`` did not hold."""
    return sum(size for key, size in after.items() if key not in before)
