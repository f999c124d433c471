"""Per-layer trace for the benchmark, taken from outside the engine.

Two sources:

* Spans at the layer boundaries. The engine's public functions that are
  reached through a module attribute (``hive_spark.dml.*``,
  ``hqlscript.run_script`` / ``rewrite_statement``, ``txn.write_lock``,
  ``snapshots.write_version``) are replaced by timing wrappers; the
  benchmark itself opens the ``op``, ``operators.build``,
  ``catalyst.plan``, ``exec.run`` and ``star.build`` spans. Spans stay in
  memory and are written once, when the run ends.
* Spark's own accounting, read by job id after each operation: jobs,
  stages, tasks and task metrics from the status store, the Catalyst
  phase times of the final DataFrame, and block-manager memory.
"""

from __future__ import annotations

import contextlib
import importlib
import inspect
import threading
import time
from collections import defaultdict

# module -> public functions to wrap (None: every public function the
# module defines itself)
WRAPPED = {
    "hive_spark.dml": None,
    "hive_spark.hqlscript": ("run_script", "rewrite_statement"),
    "hive_spark.txn": ("write_lock",),
    "hive_spark.snapshots": ("write_version",),
}
# a span's layer is its name up to the first dot ("dml.merge_into" -> dml)
LAYERS = ("op", "operators", "catalyst", "exec", "star", "dml", "txn", "snapshots", "hqlscript")


def layer_of(name: str) -> str:
    return name.split(".", 1)[0]


class Tracer:
    """Nested spans on the main thread; disabled spans cost one branch."""

    def __init__(self) -> None:
        self.enabled = False
        self.op_id = -1
        self.spans: list[dict] = []
        self.lock_wait_s = 0.0
        self._stack: list[int] = []
        self._main = threading.get_ident()

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled or threading.get_ident() != self._main:
            yield
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "op": self.op_id,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def install(self) -> None:
        """Wrap the engine's layer entry points (module attributes)."""
        for modname, names in WRAPPED.items():
            mod = importlib.import_module(modname)
            if names is None:
                names = tuple(
                    n
                    for n, f in vars(mod).items()
                    if inspect.isfunction(f)
                    and not n.startswith("_")
                    and f.__module__ == modname
                )
            short = modname.rsplit(".", 1)[1]
            for n in names:
                fn = getattr(mod, n)
                wrap = self._wrap_cm if n == "write_lock" else self._wrap
                setattr(mod, n, wrap(f"{short}.{n}", fn))

    def _wrap(self, name: str, fn):
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        traced.__wrapped__ = fn
        return traced

    def _wrap_cm(self, name: str, fn):
        """A context-manager factory: the span covers the whole hold, and
        the time to acquire is summed separately as lock wait."""
        tracer = self

        @contextlib.contextmanager
        def traced(*args, **kwargs):
            with tracer.span(name):
                t0 = time.perf_counter()
                with fn(*args, **kwargs):
                    if tracer.enabled:
                        tracer.lock_wait_s += time.perf_counter() - t0
                    yield

        traced.__wrapped__ = fn
        return traced

    def pass_metrics(self, first_span: int) -> dict[str, float]:
        """Span-derived metrics over spans[first_span:] (one pass).

        Self time is a span's duration minus its children's; a total
        counts only the outermost span of its layer or name, since nested
        calls (dml.update_where -> dml.overwrite_table) already sit inside
        the outer one's duration."""
        spans = {s["id"]: s for s in self.spans[first_span:]}
        dur = {i: s["end"] - s["start"] for i, s in spans.items()}
        child = defaultdict(float)
        for i, s in spans.items():
            if s["parent"] in spans:
                child[s["parent"]] += dur[i]
        self_s = dict.fromkeys(LAYERS, 0.0)
        outer = defaultdict(float)
        calls = defaultdict(int)
        for i, s in spans.items():
            above: set[str] = set()
            p = spans.get(s["parent"])
            while p is not None:
                above.update((p["name"], layer_of(p["name"])))
                p = spans.get(p["parent"])
            lay = layer_of(s["name"])
            self_s[lay] += dur[i] - child[i]
            for key in {lay, s["name"]} - above:
                outer[key] += dur[i]
            calls[s["name"]] += 1
        out = {f"self.{lay}_s": v for lay, v in self_s.items()}
        out.update(
            {
                "operators.build_s": outer["operators"],
                "catalyst.plan_s": outer["catalyst"],
                "exec.run_s": outer["exec"],
                "star.build_s": outer["star"],
                "dml.op_s": outer["dml"],
                "hqlscript.run_s": outer["hqlscript.run_script"],
                "hqlscript.rewrite_s": outer["hqlscript.rewrite_statement"],
                "hqlscript.statements": float(calls["hqlscript.rewrite_statement"]),
                "trace.spans": float(len(spans)),
            }
        )
        return out


class SparkStats:
    """Reads Spark's scheduler accounting for a range of job ids."""

    _MB = 1e6

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext._jsc.sc()
        self._store = self._sc.statusStore()
        self._dag = self._sc.dagScheduler()

    def next_job_id(self) -> int:
        return int(self._dag.nextJobId())

    def jobs(self, first: int, end: int) -> dict[str, float]:
        """Counters of the jobs with ids in [first, end)."""
        self._sc.listenerBus().waitUntilEmpty(30_000)
        out = dict.fromkeys(
            ("jobs", "stages", "tasks", "input_mb", "shuffle_read_mb",
             "shuffle_write_mb", "spill_mb", "output_mb", "task_run_s",
             "task_cpu_s", "gc_s"),
            0.0,
        )
        out["jobs"] = float(end - first)
        seen: set[int] = set()
        for jid in range(first, end):
            ids = str(self._store.job(jid).stageIds().mkString(","))
            for sid in (int(x) for x in ids.split(",") if x):
                if sid in seen:
                    continue
                seen.add(sid)
                sd = self._store.lastStageAttempt(sid)
                if sd.status().toString() != "COMPLETE":
                    continue
                out["stages"] += 1
                out["tasks"] += sd.numCompleteTasks()
                out["input_mb"] += sd.inputBytes() / self._MB
                out["shuffle_read_mb"] += sd.shuffleReadBytes() / self._MB
                out["shuffle_write_mb"] += sd.shuffleWriteBytes() / self._MB
                out["spill_mb"] += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / self._MB
                out["output_mb"] += sd.outputBytes() / self._MB
                out["task_run_s"] += sd.executorRunTime() / 1e3
                out["task_cpu_s"] += sd.executorCpuTime() / 1e9
                out["gc_s"] += sd.jvmGcTime() / 1e3
        return out

    def storage_mb(self) -> float:
        """Block-manager memory in use (spools, cached relations)."""
        used = 0
        it = self._sc.getExecutorMemoryStatus().iterator()
        while it.hasNext():
            mem = it.next()._2()
            used += mem._1() - mem._2()
        return used / self._MB


def catalyst_phases(df) -> dict[str, float]:
    """Catalyst phase seconds recorded on the DataFrame's own query
    execution (forced by the caller before the action)."""
    phases = df._jdf.queryExecution().tracker().phases()
    return {
        k: (phases.apply(k).durationMs() / 1e3 if phases.contains(k) else 0.0)
        for k in ("analysis", "optimization", "planning")
    }
