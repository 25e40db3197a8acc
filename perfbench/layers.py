"""Layer probes: everything the benchmark reads about one run besides
its own wall clock.

- ``StagingCounter`` wraps the three staging entry points of
  ``operators.scale``. Every caller imports them inside the calling
  function, so replacing the module attributes sees every call.
- ``SparkProbe`` reads Spark's in-process status store (it is kept up
  to date with ``spark.ui.enabled=false``). Jobs and stages are
  assigned to an operation by their id range around the call, because
  schema-inference jobs carry no call site.
- ``frame_layers`` reads the Catalyst phase timings of the frames the
  benchmark built (a registry query's result) and forced itself, and
  the Python worker SQL metrics of the forced one. Frames a pipeline
  builds and runs internally are out of reach: for those only the
  stage-level numbers exist.
- ``tree_cpu_s`` / ``vm_hwm_mb`` / ``host_steal_s`` read ``/proc``.
"""

from __future__ import annotations

import inspect
import os
import time
from collections import defaultdict

_CLK_TCK = os.sysconf("SC_CLK_TCK")
_PY_METRICS = {
    "pythonTotalTime": "python.total_s",
    "pythonBootTime": "python.boot_s",
    "pythonInitTime": "python.init_s",
    "pythonDataSent": "python.sent_mb",
}
#: SQLMetric type -> divisor to seconds or MB
_SCALE = {"nsTiming": 1e9, "timing": 1e3, "size": 1e6}
_PHASES = {
    "analysis": "catalyst.analysis_s",
    "optimization": "catalyst.optimization_s",
    "planning": "catalyst.planning_s",
}


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


# --------------------------------------------------------------- /proc


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            s = fh.read()
    except OSError:
        return None
    return s[s.rfind(")") + 2:].split()


def _descendants(root: int) -> list[int]:
    children = defaultdict(list)
    for name in os.listdir("/proc"):
        if name.isdigit():
            f = _stat_fields(int(name))
            if f:
                children[int(f[1])].append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """user+sys seconds of ``root`` and every live descendant, plus the
    children each has already reaped (the JVM's Python workers)."""
    ticks = 0
    for pid in _descendants(root):
        f = _stat_fields(pid)
        if f:
            ticks += sum(int(x) for x in f[11:15])
    return ticks / _CLK_TCK


def host_steal_s() -> float:
    """Seconds the hypervisor ran something else while this host's
    CPUs wanted to run, summed over CPUs (``steal`` in ``/proc/stat``)."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / _CLK_TCK if len(fields) > 8 else 0.0


def vm_hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


# ------------------------------------------------------------ staging


class StagingCounter:
    """Counts calls into ``stage_once`` / ``shared_stage`` /
    ``stage_bucketed_tables``. A call that finds its stage already
    committed is a hit; any other call writes, and its wall time and
    the bytes it left on disk are added to ``write_s`` / ``write_bytes``."""

    NAMES = ("stage_once", "shared_stage", "stage_bucketed_tables")

    def __init__(self) -> None:
        self._orig: dict = {}
        self.reset()

    def reset(self) -> None:
        self.calls = 0
        self.hits = 0
        self.write_s = 0.0
        self.write_bytes = 0

    def install(self) -> None:
        from firstamerican_etl_spark.operators import scale

        self._orig = {n: getattr(scale, n) for n in self.NAMES}
        for n in self.NAMES:
            setattr(scale, n, getattr(self, f"_{n}"))

    def uninstall(self) -> None:
        from firstamerican_etl_spark.operators import scale

        for n, fn in self._orig.items():
            setattr(scale, n, fn)

    def _record(self, wrote: bool, t0: float, path: str | None) -> None:
        self.calls += 1
        if wrote:
            self.write_s += time.perf_counter() - t0
            if path:
                self.write_bytes += dir_bytes(path)
        else:
            self.hits += 1

    def _stage_once(self, *args, **kwargs):
        from firstamerican_etl_spark.operators.scale import process_stage_dir

        orig = self._orig["stage_once"]
        a = inspect.signature(orig).bind(*args, **kwargs)
        a.apply_defaults()
        key = a.arguments["reuse_key"]
        path = os.path.join(process_stage_dir(a.arguments["prefix"]), key or "data")
        hit = bool(key) and os.path.exists(os.path.join(path, "_SUCCESS"))
        t0 = time.perf_counter()
        out = orig(*args, **kwargs)
        self._record(not hit, t0, path)
        return out

    def _shared_stage(self, prefix, key, write_fn, *args, **kwargs):
        wrote = []

        def write(tmp):
            wrote.append(tmp)
            return write_fn(tmp)

        t0 = time.perf_counter()
        final = self._orig["shared_stage"](prefix, key, write, *args, **kwargs)
        self._record(bool(wrote), t0, final)
        return final

    def _stage_bucketed_tables(self, spark, prefix, reuse_key, tables, *args, **kwargs):
        from firstamerican_etl_spark.operators.scale import process_stage_dir

        wrote = []

        def wrap(write):
            def inner(path):
                wrote.append(path)
                return write(path)
            return inner

        t0 = time.perf_counter()
        meta = self._orig["stage_bucketed_tables"](
            spark, prefix, reuse_key, [(t, wrap(w)) for t, w in tables], *args, **kwargs
        )
        self._record(bool(wrote), t0, process_stage_dir(prefix))
        return meta


# -------------------------------------------------------- status store


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


class SparkProbe:
    """Id watermarks taken around each operation, and the per-layer
    totals read back for an id range once the run is over."""

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext._jsc.sc()
        self.cores = spark.sparkContext.defaultParallelism

    def marks(self) -> tuple[int, int]:
        dag = self._sc.dagScheduler()
        return dag.nextJobId(), dag.nextStageId()

    def flush(self) -> None:
        self._sc.listenerBus().waitUntilEmpty(60_000)

    def job_intervals(self, lo: int, hi: int) -> list[tuple[float, float]]:
        store = self._sc.statusStore()
        out = []
        for jid in range(lo, hi):
            j = store.job(jid)
            start, end = _opt_ms(j.submissionTime()), _opt_ms(j.completionTime())
            if start is not None and end is not None:
                out.append((start, end))
        return out

    def stage_totals(self, lo: int, hi: int) -> dict[str, float]:
        store = self._sc.statusStore()
        t = defaultdict(float)
        for sid in range(lo, hi):
            s = store.lastStageAttempt(sid)
            if s.status().toString() != "COMPLETE":
                continue  # skipped: its output was reused, nothing ran
            n = s.numTasks()
            t["spark.stages"] += 1
            t["spark.tasks"] += n
            t["spark.single_task_stages"] += n == 1
            t["executor.run_s"] += s.executorRunTime() / 1e3
            t["executor.cpu_s"] += s.executorCpuTime() / 1e9
            t["executor.gc_s"] += s.jvmGcTime() / 1e3
            t["shuffle.write_mb"] += s.shuffleWriteBytes() / 1e6
            t["shuffle.read_mb"] += s.shuffleReadBytes() / 1e6
            t["spill.disk_mb"] += s.diskBytesSpilled() / 1e6
            t["scan.input_mb"] += s.inputBytes() / 1e6
            t["sink.output_mb"] += s.outputBytes() / 1e6
        return dict(t)


def union_s(intervals: list[tuple[float, float]]) -> float:
    """Seconds covered by the union of ``intervals``."""
    total, cur = 0.0, float("-inf")
    for a, b in sorted(intervals):
        a = max(a, cur)
        if b > a:
            total += b - a
            cur = b
    return total


def covered_s(intervals: list[tuple[float, float]], start: float, end: float) -> float:
    """Seconds of [start, end] covered by the union of ``intervals``."""
    return union_s([(max(a, start), min(b, end)) for a, b in intervals])


def frame_layers(frames: dict) -> tuple[dict[str, float], list[dict]]:
    """Catalyst phase seconds (with their spans) and Python worker
    metrics of DataFrames the benchmark built or forced itself.
    ``frames`` maps the span a frame belongs to (``construct`` or
    ``execute``) to the frame. The constructed frame was analysed
    eagerly while it was built; the forced one was analysed, optimised,
    planned and run. Frames built and dropped inside a query's
    construction are out of reach."""
    layers: dict[str, float] = defaultdict(float)
    spans = []
    for parent, df in frames.items():
        qe = df._jdf.queryExecution()
        it = qe.tracker().phases().iterator()
        while it.hasNext():
            kv = it.next()
            name, ph = kv._1(), kv._2()
            if name in _PHASES:
                layers[_PHASES[name]] += ph.durationMs() / 1e3
                spans.append({"name": f"catalyst.{name}", "parent": parent,
                              "start": ph.startTimeMs() / 1e3, "end": ph.endTimeMs() / 1e3})
        if parent == "execute":
            _python_metrics(qe.executedPlan(), layers)
    return dict(layers), spans


def _python_metrics(plan, layers: dict[str, float]) -> None:
    stack = [plan]
    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        name = node.nodeName()
        if "Python" in name or "Pandas" in name or "Arrow" in name:
            metrics = node.metrics()
            for key, out in _PY_METRICS.items():
                m = metrics.get(key)
                if m.isDefined():
                    metric = m.get()
                    layers[out] += metric.value() / _SCALE[metric.metricType()]
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.size()))
