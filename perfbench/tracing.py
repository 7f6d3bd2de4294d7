"""Tracing for the benchmark's per-layer run.

Everything here wraps calls into ``andl_spark`` from the outside; the
program itself is not changed. Three sources feed the per-layer
numbers:

* spans: (name, start, end, parent, op id) around each call the
  benchmark makes into a layer, kept in memory and written as JSON
  lines when the run ends;
* Spark job groups: each query phase or served request runs under its
  own group, and the jobs, stages, tasks and executor counters of a
  group are read back from the driver's status store (this works with
  ``spark.ui.enabled=false``);
* counting wrappers: py4j round trips, the REST server's lock, the
  Andl parser and interpreter, and catalog writes.
"""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time

#: Counters read from the status store for one job group.
EXEC_KEYS = ("jobs", "stages", "tasks", "run_ms", "cpu_ms", "gc_ms",
             "input_bytes", "shuffle_read_bytes", "shuffle_write_bytes")

#: Every per-layer metric with its unit.
PER_LAYER = {
    "plan.build_ms": "ms",
    "plan.py4j_calls": "count",
    "driver.eager_jobs": "count",
    "driver.eager_ms": "ms",
    **{f"exec.{k}": "ms" if k.endswith("_ms") else
       "bytes" if k.endswith("_bytes") else "count" for k in EXEC_KEYS},
    "exec.action_ms": "ms",
    "exec.result_rows": "count",
    "session.load_tables_ms": "ms",
    "session.footer_jobs": "count",
    "lang.parse_ms": "ms",
    "lang.run_ms": "ms",
    "server.lock_wait_ms": "ms",
    "server.lock_hold_ms": "ms",
    "catalog.put_ms": "ms",
    "catalog.bytes_written": "bytes",
    "catalog.versions": "count",
    "trace.overhead_pct": "%",
}


#: Counters two traced runs with one seed must repeat exactly.
EXACT = ("plan.py4j_calls", "driver.eager_jobs", "exec.jobs", "exec.stages",
         "exec.tasks", "exec.input_bytes", "exec.shuffle_read_bytes",
         "exec.shuffle_write_bytes", "exec.result_rows", "session.footer_jobs",
         "catalog.bytes_written", "catalog.versions")

#: Exact counters that do not repeat on a workload. On serve the two
#: clients interleave differently from run to run, and a read that
#: lands after a write takes the re-registered relvar's shorter path,
#: with fewer py4j calls. On fixpoint, q_sudoku's adaptive plans launch
#: 121 to 124 jobs for one seed, and shuffle bytes vary with them. On
#: curation, q_dedup_spans' shuffle bytes vary by about 1 KB.
NOT_EXACT = {
    "serve": ("plan.py4j_calls",),
    "curation": ("exec.shuffle_read_bytes", "exec.shuffle_write_bytes"),
    "fixpoint": ("driver.eager_jobs", "exec.jobs", "exec.stages", "exec.tasks",
                 "exec.shuffle_read_bytes", "exec.shuffle_write_bytes"),
}


def per_layer(values: dict) -> dict:
    """Every per-layer metric; a layer the workload does not reach reads 0."""
    unknown = set(values) - set(PER_LAYER)
    if unknown:
        raise KeyError(f"not per-layer metrics: {sorted(unknown)}")
    return {k: {"value": values.get(k, 0), "unit": u} for k, u in PER_LAYER.items()}


def interval_union_ms(intervals: list[tuple[int, int]]) -> float:
    """Milliseconds covered by the union of [start, end] intervals."""
    total, end = 0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return float(total)


def overhead_pct(traced: float, before: float, after: float) -> float:
    """Traced time against the mean of the untraced runs on either side
    of it, so steady warm-up over the three does not read as overhead."""
    base = (before + after) / 2
    return (traced - base) / base * 100


def _epoch_ms(opt) -> int | None:
    """A Scala ``Option[java.util.Date]`` as epoch milliseconds."""
    return opt.get().getTime() if opt.isDefined() else None


class JobCounters:
    """Reads a job group's counters from ``SparkContext.statusStore``."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so
        the status store holds the jobs that have just ended."""
        self._jsc.listenerBus().waitUntilEmpty()

    def read(self, group: str) -> dict:
        store = self._jsc.statusStore()
        out = dict.fromkeys(EXEC_KEYS, 0)
        out["intervals"] = []
        for job_id in sorted(self.sc.statusTracker().getJobIdsForGroup(group)):
            job = store.job(job_id)
            start, end = _epoch_ms(job.submissionTime()), _epoch_ms(job.completionTime())
            if start is not None and end is not None:
                out["intervals"].append((start, end))
            out["jobs"] += 1
            stage_ids = job.stageIds()
            for k in range(stage_ids.size()):
                stage = store.lastStageAttempt(stage_ids.apply(k))
                if str(stage.status()) == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += stage.numCompleteTasks()
                out["run_ms"] += stage.executorRunTime()
                out["cpu_ms"] += stage.executorCpuTime() / 1e6
                out["gc_ms"] += stage.jvmGcTime()
                out["input_bytes"] += stage.inputBytes()
                out["shuffle_read_bytes"] += stage.shuffleReadBytes()
                out["shuffle_write_bytes"] += stage.shuffleWriteBytes()
        return out


class Py4jCounter:
    """Counts py4j round trips made by threads inside ``scope()``.

    The gateway client is shared by every JavaObject, so one
    instance-level wrapper on ``send_command`` sees every call."""

    def __init__(self, spark):
        self._client = spark.sparkContext._gateway._gateway_client
        self._local = threading.local()
        self._lock = threading.Lock()
        self.calls = 0

    def install(self) -> None:
        inner = type(self._client).send_command.__get__(self._client)

        def send_command(*args, **kwargs):
            if getattr(self._local, "active", False):
                with self._lock:
                    self.calls += 1
            return inner(*args, **kwargs)

        self._client.send_command = send_command

    def uninstall(self) -> None:
        self._client.__dict__.pop("send_command", None)

    @contextlib.contextmanager
    def scope(self, active: bool = True):
        """Count (or, with ``active=False``, stop counting) this
        thread's calls inside the block."""
        was = getattr(self._local, "active", False)
        self._local.active = active
        try:
            yield
        finally:
            self._local.active = was


class TimedLock:
    """Stand-in for the server's re-entrant lock that adds up how long
    threads waited for it and how long they held it (outermost
    acquire to matching release)."""

    def __init__(self, inner):
        self.inner = inner
        self._local = threading.local()
        self._sum_lock = threading.Lock()
        self.wait_s = 0.0
        self.hold_s = 0.0

    def acquire(self, blocking=True, timeout=-1):
        depth = getattr(self._local, "depth", 0)
        t0 = time.perf_counter()
        ok = self.inner.acquire(blocking, timeout)
        if ok:
            if depth == 0:
                now = time.perf_counter()
                self._local.held_since = now
                with self._sum_lock:
                    self.wait_s += now - t0
            self._local.depth = depth + 1
        return ok

    def release(self):
        self._local.depth -= 1
        if self._local.depth == 0:
            held = time.perf_counter() - self._local.held_since
            with self._sum_lock:
                self.hold_s += held
        self.inner.release()

    def __enter__(self):
        return self.acquire()

    def __exit__(self, *exc):
        self.release()


class Spans:
    """In-memory span log: (name, start, end, parent, op id)."""

    def __init__(self):
        self._lock = threading.Lock()
        self._t0 = time.perf_counter()
        self.items: list[dict] = []

    def add(self, name: str, start: float, end: float, op: str,
            parent: str | None = None, **attrs) -> None:
        rec = {"name": name, "start_ms": round((start - self._t0) * 1e3, 3),
               "end_ms": round((end - self._t0) * 1e3, 3), "parent": parent,
               "op": op}
        rec.update(attrs)
        with self._lock:
            self.items.append(rec)

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for rec in self.items:
                f.write(json.dumps(rec) + "\n")


class CatalogPuts:
    """Times every ``Catalog.put`` inside the block and counts the
    versions and bytes it writes. The method is replaced on the class,
    so every catalog the program opens is seen."""

    def __init__(self):
        self._lock = threading.Lock()
        self.put_s = 0.0
        self.bytes = 0
        self.versions = 0

    def __enter__(self):
        from andl_spark.sources.catalog import Catalog

        orig, counter = Catalog.put, self

        def put(catalog, name, *a, **k):
            t0 = time.perf_counter()
            orig(catalog, name, *a, **k)
            t1 = time.perf_counter()
            version = catalog.current_version(name)
            written = dir_bytes(os.path.join(catalog.path, name, f"v{version}"))
            with counter._lock:
                counter.put_s += t1 - t0
                counter.bytes += written
                counter.versions += 1

        self._patch = patched(Catalog, "put", put)
        self._patch.__enter__()
        return self

    def __exit__(self, *exc):
        self._patch.__exit__(None, None, None)

    def layer(self) -> dict:
        return {"catalog.put_ms": self.put_s * 1e3, "catalog.bytes_written": self.bytes,
                "catalog.versions": self.versions}


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for name in files:
            total += os.path.getsize(os.path.join(dirpath, name))
    return total


@contextlib.contextmanager
def patched(obj, attr: str, value):
    """Temporarily replace ``obj.attr``; the original comes back on exit."""
    had = attr in vars(obj)
    old = vars(obj).get(attr)
    setattr(obj, attr, value)
    try:
        yield
    finally:
        if had:
            setattr(obj, attr, old)
        else:
            delattr(obj, attr)
