"""Tracing for the benchmark's traced runs (`--trace 1`).

Spans are taken in the benchmark's own code, around calls into the
program's modules: `Tracer.wrap` replaces a module or class attribute by
a wrapper that records a span for each call, and `Tracer.unwrap_all`
restores the originals. Spans live in memory (name, start, end, parent
span, operation id) and are written out once, when the run ends.

Spark-side numbers come from Spark's own bookkeeping, read here over
py4j: stage totals from the core status store, query-planning phases
from `QueryExecution.tracker()`, and jobs per job group from the
status tracker.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

# physical operators that run Python workers
PYTHON_NODES = ("ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                "MapInArrow", "PythonMapInArrow", "FlatMapGroupsInPandas",
                "FlatMapCoGroupsInPandas", "FlatMapGroupsInArrow",
                "FlatMapCoGroupsInArrow", "AggregateInPandas",
                "WindowInPandas", "ArrowWindowPython", "ArrowAggregatePython",
                "FlatMapGroupsInPandasWithState")


class Tracer:
    def __init__(self) -> None:
        self.spans: list[tuple] = []
        self.counters: dict[str, float] = defaultdict(float)
        self._tls = threading.local()
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._patches: list[tuple] = []

    # ------------------------------------------------------------- spans
    def _stack(self) -> list[int]:
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    def set_op(self, op: str | None) -> None:
        """Operation id recorded on the spans this thread opens."""
        self._tls.op = op

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        parent = stack[-1] if stack else None
        sid = next(self._ids)
        stack.append(sid)
        t0 = time.perf_counter()
        try:
            yield sid
        finally:
            t1 = time.perf_counter()
            stack.pop()
            self.spans.append((sid, name, t0, t1, parent,
                               getattr(self._tls, "op", None)))

    def add(self, counter: str, value: float) -> None:
        with self._lock:
            self.counters[counter] += value

    # ---------------------------------------------------------- wrapping
    def patch(self, owner, attr: str, replacement) -> None:
        """Replace `owner.attr` until `unwrap_all`."""
        orig = owner.__dict__[attr] if isinstance(owner, type) \
            else getattr(owner, attr)
        setattr(owner, attr, replacement)
        self._patches.append((owner, attr, orig))

    def wrap(self, owner, attr: str, name: str) -> None:
        """Record a span named `name` around every call of `owner.attr`."""
        orig = owner.__dict__[attr] if isinstance(owner, type) \
            else getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with tracer.span(name):
                return orig(*args, **kwargs)

        self.patch(owner, attr, traced)

    def wrap_module_functions(self, module, prefix: str) -> None:
        """Wrap every public function defined in `module`."""
        for attr, fn in list(vars(module).items()):
            if (not attr.startswith("_") and callable(fn)
                    and getattr(fn, "__module__", None) == module.__name__
                    and not isinstance(fn, type)):
                self.wrap(module, attr, f"{prefix}.{attr}")

    def unwrap_all(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    # ---------------------------------------------------------- reading
    def since(self, t0: float) -> list[tuple]:
        return [s for s in self.spans if s[2] >= t0]

    def write(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            for sid, name, t0, t1, parent, op in self.spans:
                fh.write(json.dumps({"id": sid, "name": name, "start": t0,
                                     "end": t1, "parent": parent,
                                     "op": op}) + "\n")


def total(spans: list[tuple], prefix: str) -> float:
    """Summed duration of the outermost spans whose name starts with
    `prefix` (a span nested in another span of the same prefix is not
    counted twice)."""
    names = {s[0]: s[1] for s in spans}
    out = 0.0
    for sid, name, t0, t1, parent, _ in spans:
        if name.startswith(prefix) and not (
                parent in names and names[parent].startswith(prefix)):
            out += t1 - t0
    return out


def self_time(spans: list[tuple], prefix: str) -> float:
    """Summed duration of spans named `prefix`* minus the time of their
    direct children (the layer's own time)."""
    child = defaultdict(float)
    for sid, name, t0, t1, parent, _ in spans:
        if parent is not None:
            child[parent] += t1 - t0
    return sum(t1 - t0 - child[sid] for sid, name, t0, t1, _, _ in spans
               if name.startswith(prefix))


# ------------------------------------------------------------ Spark side

def stage_snapshot(spark) -> dict[tuple[int, int], dict[str, float]]:
    """Totals of every stage attempt the status store holds."""
    sc = spark.sparkContext
    gw = sc._gateway
    seq = sc._jsc.sc().statusStore().stageList(
        gw.jvm.java.util.ArrayList(), False, False,
        gw.new_array(gw.jvm.double, 0), gw.jvm.java.util.ArrayList())
    out = {}
    for i in range(seq.size()):
        sd = seq.apply(i)
        out[(int(sd.stageId()), int(sd.attemptId()))] = {
            "run_s": sd.executorRunTime() / 1e3,
            "cpu_s": sd.executorCpuTime() / 1e9,
            "gc_s": sd.jvmGcTime() / 1e3,
            "input_rows": float(sd.inputRecords()),
            "shuffle_write_bytes": float(sd.shuffleWriteBytes()),
            "tasks": float(sd.numTasks()),
        }
    return out


STAGE_KEYS = ("run_s", "cpu_s", "gc_s", "input_rows", "shuffle_write_bytes",
              "tasks")


def stage_delta(after: dict, before: dict) -> dict[str, float]:
    """Totals over the stage attempts that are new or grew since
    `before`, plus their number as `stages`."""
    tot = dict.fromkeys(STAGE_KEYS, 0.0)
    tot["stages"] = 0.0
    for key, m in after.items():
        base = before.get(key)
        if base is not None and all(m[k] == base[k] for k in STAGE_KEYS):
            continue
        tot["stages"] += 1
        for k in STAGE_KEYS:
            tot[k] += m[k] - (base[k] if base else 0.0)
    return tot


def planning_phases(df) -> dict[str, float]:
    """Seconds spent in analysis, optimization and planning for `df`'s
    query execution (phases not yet run read as 0)."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        o = phases.get(name)
        out[name] = o.get().durationMs() / 1e3 if o.isDefined() else 0.0
    return out


def executed_plan(df) -> str:
    """The physical plan of `df` (plans it if it was not yet planned)."""
    return df._jdf.queryExecution().executedPlan().toString()


def has_python(plan: str) -> bool:
    return any(n in plan for n in PYTHON_NODES)


def jobs_in_group(spark, group: str) -> int:
    return len(spark.sparkContext.statusTracker().getJobIdsForGroup(group))
