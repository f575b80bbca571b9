"""Per-op timing and tracing, measured from outside the package.

Every timed operation runs inside :meth:`Recorder.op`. Untraced, an
op records its wall time, its named spans (``build``, ``exec`` ...)
and the CPU time of the driver's process tree (the driver, its JVM
and the Python workers, read from ``/proc`` outside the wall). Traced,
it also records, after the op returns and outside its wall:

- the Spark jobs and stages it started, read from Spark's own status
  store (``statusStore().jobsList`` / the explicit 5-argument
  ``stageList``, which works with the UI disabled);
- Python-worker time and bytes of its SQL executions, read from the
  SQL status store's node metrics ("time to run Python workers",
  "data sent to Python workers", ...);
- the calls it made into the package's ``fs`` helpers, counted by
  wrappers that :func:`install_fs_counters` puts on the ``fs`` module
  before any ``plans`` module imports them.

``spark.job_wall_s`` is the union of the op's job intervals clipped
to the op; ``driver.self_s`` is the rest of the op wall, so the two
always sum to the op wall.
"""

from __future__ import annotations

import contextlib
import os
import re
import threading
import time

# fs helpers that create or replace a file
_FS_WRITES = {"write_text", "write_text_atomic", "create_exclusive"}
_FS_FUNCS = ("path_exists", "delete_path", "list_dir", "mkdirs",
             "write_text", "read_text", "read_json_doc",
             "write_text_atomic", "create_exclusive", "dir_bytes",
             "file_mtime_ms", "touch_mtime")

_PY_METRICS = {
    "time to run Python workers": "udf.python_run_s",
    "time to start Python workers": "udf.python_start_s",
    "time to initialize Python workers": "udf.python_init_s",
    "data sent to Python workers": "udf.bytes_to_python",
    "data returned from Python workers": "udf.bytes_from_python",
}
_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0,
          "B": 1.0, "KiB": 2.0 ** 10, "MiB": 2.0 ** 20, "GiB": 2.0 ** 30,
          "TiB": 2.0 ** 40}
_VALUE = re.compile(r"(-?[\d.]+)\s*(ms|min|s|m|h|B|KiB|MiB|GiB|TiB)\b")


_TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root_pid: int) -> float:
    """CPU seconds (user + system) used so far by ``root_pid`` and every
    live process below it (the JVM and its Python workers), plus what
    their reaped children used."""
    cpu, kids = {}, {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # fields after "(comm)": state ppid ... utime stime cutime cstime
        rest = stat[stat.rindex(")") + 2:].split()
        pid = int(name)
        kids.setdefault(int(rest[1]), []).append(pid)
        cpu[pid] = sum(int(x) for x in rest[11:15])
    total, stack = 0, [root_pid]
    while stack:
        pid = stack.pop()
        total += cpu.get(pid, 0)
        stack.extend(kids.get(pid, ()))
    return total * _TICK_S


class FsCounters:
    """Counts of calls into the ``fs`` helpers (outermost calls only:
    ``read_json_doc`` calling ``read_text`` is one call, and a cache
    miss)."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._local = threading.local()
        self.calls = self.lists = self.writes = 0
        self.seconds = 0.0
        self.json_docs = self.json_misses = 0

    def snapshot(self) -> tuple:
        with self._lock:
            return (self.calls, self.seconds, self.lists, self.writes,
                    self.json_docs, self.json_misses)

    def wrap(self, name: str, fn):
        def counted(*args, **kwargs):
            local = self._local
            depth = getattr(local, "depth", 0)
            if depth:
                if name == "read_text" and getattr(local, "in_json", False):
                    local.json_miss = True
                return fn(*args, **kwargs)
            local.depth, local.in_json, local.json_miss = \
                1, name == "read_json_doc", False
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                dt = time.perf_counter() - t0
                local.depth = 0
                with self._lock:
                    self.calls += 1
                    self.seconds += dt
                    self.lists += name == "list_dir"
                    self.writes += name in _FS_WRITES
                    if name == "read_json_doc":
                        self.json_docs += 1
                        self.json_misses += local.json_miss

        counted.__wrapped__ = fn
        return counted


def install_fs_counters(fs_module, counters: FsCounters) -> None:
    """Replace ``fs_module``'s helpers by counting wrappers. Must run
    before the ``plans`` modules import names from it."""
    for name in _FS_FUNCS:
        setattr(fs_module, name, counters.wrap(name, getattr(fs_module, name)))


class SpanTimer:
    """Wall time spent inside wrapped callables (e.g. an operator's
    plan builder), summed until read."""

    def __init__(self) -> None:
        self.seconds = 0.0

    def wrap(self, fn):
        def timed(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                self.seconds += time.perf_counter() - t0

        timed.__wrapped__ = fn
        return timed


def _scala_seq(seq) -> list:
    return [seq.apply(i) for i in range(seq.size())]


def _opt_ms(opt) -> "float | None":
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def _metric_value(text: "str | None") -> float:
    """Value of a formatted SQL metric ("12 ms", "1.5 KiB", or the
    "total (min, med, max ...)\\n3.1 s (...)" form): the total."""
    if not text:
        return 0.0
    line = text.split("\n", 1)[-1]
    m = _VALUE.search(line)
    return float(m.group(1)) * _UNITS[m.group(2)] if m else 0.0


class StatusStore:
    """Reads what Spark's status stores learned since the last read."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._store = sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._bus = sc._jsc.sc().listenerBus()
        self._no_quantiles = sc._gateway.new_array(sc._gateway.jvm.double, 0)
        self.mark()

    def mark(self) -> None:
        """Forget everything that ran so far: later reads return only
        what runs after this call."""
        self.drain()
        self._last_job = self._newest_id(self._store.jobsList(None), "jobId")
        self._last_stage = self._newest_id(self._stage_list(), "stageId")
        self._n_exec = int(self._sql.executionsCount())

    def drain(self) -> None:
        """Wait until the listener bus has applied every posted event."""
        self._bus.waitUntilEmpty()

    def _stage_list(self):
        return self._store.stageList(None, False, False,
                                     self._no_quantiles, None)

    @staticmethod
    def _newest_id(seq, attr: str) -> int:
        return getattr(seq.apply(0), attr)() if seq.size() else -1

    @staticmethod
    def _since(seq, attr: str, last: int) -> list:
        # the store lists newest first
        out = []
        for i in range(seq.size()):
            item = seq.apply(i)
            if getattr(item, attr)() <= last:
                break
            out.append(item)
        return out

    def jobs(self) -> list[tuple[float, float]]:
        """(submitted, completed) epoch seconds of each new job."""
        jobs = self._since(self._store.jobsList(None), "jobId",
                           self._last_job)
        if jobs:
            self._last_job = jobs[0].jobId()
        out = []
        for j in jobs:
            t0, t1 = _opt_ms(j.submissionTime()), _opt_ms(j.completionTime())
            if t0 is not None:
                out.append((t0, t1 if t1 is not None else t0))
        return out

    def stages(self) -> dict[str, float]:
        """Summed task metrics of the new stages that ran."""
        stages = self._since(self._stage_list(), "stageId", self._last_stage)
        if stages:
            self._last_stage = stages[0].stageId()
        out = dict.fromkeys(("spark.stages", "spark.tasks",
                             "spark.executor_run_s", "spark.executor_cpu_s",
                             "spark.shuffle_write_bytes", "spark.input_bytes",
                             "spark.output_bytes"), 0.0)
        for s in stages:
            if s.status().toString() == "SKIPPED":
                continue
            out["spark.stages"] += 1
            out["spark.tasks"] += s.numCompleteTasks()
            out["spark.executor_run_s"] += s.executorRunTime() / 1e3
            out["spark.executor_cpu_s"] += s.executorCpuTime() / 1e9
            out["spark.shuffle_write_bytes"] += s.shuffleWriteBytes()
            out["spark.input_bytes"] += s.inputBytes()
            out["spark.output_bytes"] += s.outputBytes()
        return out

    def python_workers(self) -> dict[str, float]:
        """Python-worker node metrics of the new SQL executions."""
        out = dict.fromkeys(_PY_METRICS.values(), 0.0)
        n = int(self._sql.executionsCount())
        if n > self._n_exec:
            for e in _scala_seq(self._sql.executionsList(self._n_exec,
                                                          n - self._n_exec)):
                # a plan node's metrics can be listed more than once
                wanted = {m.accumulatorId(): _PY_METRICS[m.name()]
                          for m in _scala_seq(e.metrics())
                          if m.name() in _PY_METRICS}
                if not wanted:
                    continue
                values = self._sql.executionMetrics(e.executionId())
                for acc, key in wanted.items():
                    v = values.get(acc)
                    out[key] += _metric_value(v.get() if v.isDefined()
                                              else None)
        self._n_exec = n
        return out


def union_seconds(intervals: list[tuple[float, float]], lo: float,
                  hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


class Op:
    def __init__(self, kind: str) -> None:
        self.kind = kind
        self.wall = 0.0
        self.cpu = 0.0
        self.spans: dict[str, tuple[float, float]] = {}
        self.layers: dict[str, float] = {}
        self.ok = True
        self.items = 0

    @contextlib.contextmanager
    def span(self, name: str):
        t0 = time.time()
        try:
            yield
        finally:
            self.spans[name] = (t0, time.time())

    def span_s(self, name: str) -> float:
        a, b = self.spans.get(name, (0.0, 0.0))
        return b - a


class Recorder:
    """Runs timed ops and keeps their records in memory."""

    def __init__(self, spark, fs_counters: "FsCounters | None",
                 timers: "dict[str, SpanTimer] | None" = None) -> None:
        self.traced = fs_counters is not None
        self.fs = fs_counters
        self.timers = timers or {}
        self.store = StatusStore(spark) if self.traced else None
        self.pid = os.getpid()
        self.ops: list[Op] = []

    @contextlib.contextmanager
    def op(self, kind: str, keep: bool = True):
        """Time one op; ``keep=False`` drops its record (end-of-run
        checks)."""
        op = Op(kind)
        if self.traced:
            self.store.mark()
            fs0 = self.fs.snapshot()
            timers0 = {k: t.seconds for k, t in self.timers.items()}
        cpu0 = tree_cpu_s(self.pid)
        t0 = time.time()
        p0 = time.perf_counter()
        try:
            yield op
        finally:
            op.wall = time.perf_counter() - p0
            op.cpu = tree_cpu_s(self.pid) - cpu0
            t1 = t0 + op.wall
            if self.traced:
                self._attach_trace(op, t0, t1, fs0, timers0)
            if keep:
                self.ops.append(op)

    def _attach_trace(self, op: Op, t0: float, t1: float, fs0: tuple,
                      timers0: dict) -> None:
        st = self.store
        st.drain()
        jobs = st.jobs()
        L = op.layers
        L["op.wall_s"] = op.wall
        L["op.cpu_s"] = op.cpu
        L["spark.jobs"] = float(len(jobs))
        L["spark.job_wall_s"] = union_seconds(jobs, t0, t1)
        L["driver.self_s"] = op.wall - L["spark.job_wall_s"]
        L.update(st.stages())
        L.update(st.python_workers())
        fs1 = self.fs.snapshot()
        d = [b - a for a, b in zip(fs0, fs1)]
        L["fs.calls"], L["fs.s"], L["fs.list_calls"], L["fs.writes"] = d[:4]
        L["fs.json_docs"], L["fs.json_misses"] = d[4], d[5]
        for name, timer in self.timers.items():
            L[name] = timer.seconds - timers0[name]
        for name, (a, b) in op.spans.items():
            L[f"span.{name}.jobs"] = float(sum(1 for s, _ in jobs
                                               if a <= s <= b))
