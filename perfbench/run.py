"""Warehouse benchmark: runs one named workload of the engine and prints
its end-to-end metrics, or with ``--trace 1`` its per-layer split.

    python3 perfbench/run.py --workload interactive_sf0.01 --seed 1 --seconds 10 --trace 0

Inputs are the engine's reference testdata at sf 0.01
(``$HIVE_SPARK_TEST_SF``, default ``/root/testdata/sf0.01``, read only),
the directory the test suite and its DuckDB oracle gate use. Its parquet
stores TIMESTAMP(NANOS), so every query on ``orders``, ``lineitem`` or
``events`` carries the engine's nanos-as-long read and conversion.

Workloads. Figures are from probes on a 4-core host with warm passes.

* ``interactive_sf0.01``: eight of the bench suite's queries
  (``bench.HEADLINE`` + ``bench.TPCDS_EXTRA``) on the 60,000 lineitem rows
  of sf 0.01. Each query pays fixed costs: Python plan building inside
  ``QuerySpec.fn``, Catalyst, and about 40 ms of scheduling per Spark job
  (tpch_q6 runs 2 jobs in 0.13 s, tpch_q5 9 jobs in 0.36-0.5 s). Data
  volume hardly matters at this size: the 27-query suite took 11.7-12.4 s
  per pass at sf 0.01 and 19-21 s at sf 0.1, ten times the rows for 1.7
  times the time. So this workload isolates the per-query layers
  (``operators``, ``catalyst``, job count): a change to plan building or
  to the number of jobs moves it, an execution-only change should leave
  it nearly flat. The eight queries keep one of each shape the suite has:
  scan-aggregate (q1), multi-join (q5), a 2-job filter (q6),
  sessionization window, text with Python in ``fn`` (tfidf), the
  rows-only sketch (dedup_minhash_lsh, no oracle), write-then-read
  (training_data_pipeline) and the TPC-DS star (q3).
* ``etl_sf0.01``: the write path. A pass runs the registry writes
  ``dml_update``, ``dml_merge``, ``dml_dynamic_partition_overwrite``
  (copy-on-write rewrites under ``txn.write_lock``),
  ``hql_etl_multi_insert`` and ``hql_acid_dml`` (``hqlscript.run_script``,
  ``snapshots.write_version``). It puts writes beside the reads above, so
  a read-side gain paid for at write time (a layout change, say) shows
  here. Traced runs also force the cold star build
  (``tpcds.measure_cold_star_build``, 92 Spark jobs through an 8-thread
  pool); it took 5.5-7.8 s per build, too unsteady for an end-to-end
  figure, so it is measured per layer (``star.*``) after the timed
  passes.

Not included: the bench suite at sf 1 (``olap_sf1``). A warm pass of its
27 queries takes 37-40 s and the first one 101 s, while a run here must
fit, set-up and warm-up included, in about 70 s (3420 s for 48 runs); and
sf 0.1 is too small to be execution-bound on 4 cores (see above). The
write operations ``dml_delete`` and ``dml_multi_insert`` and the other 19
suite queries were left out for the same budget.

Metrics. End-to-end, with tracing off:

* ``setup_s``: CPU seconds of one cold set-up: JVM launch and session
  start, view registration and the warm-up passes.
* ``pass_cpu_s``: CPU seconds one pass costs (median timed pass).
* ``pass_s``: wall seconds of a pass less the share of the host's CPU
  time the hypervisor stole during it (median timed pass).

CPU seconds count this process, the Spark JVM without its JIT compiler
threads, and the JVM's Python workers. On the 4-core host the hypervisor
took 1-15 % of the CPU (steal) and moved raw wall-clock passes by up to
35 % between runs of the same code; CPU time does not grow with steal,
and ``pass_s`` takes the stolen share out of wall time, so that waiting
(lost parallelism, lock waits, per-job scheduling latency) still has a
bounded figure. The median operation latency, the JVM's peak RSS, the
star build time and the bytes written did not repeat within a tenth and
are per-layer metrics. A p90 needs at least 100 samples; a run has 15-32,
so there is none. Failures (exceptions or oracle mismatches) are the
result's ``failed`` count over ``attempted``.

Protocol. One process, one Spark session on ``local[CPUS]`` with
``CPUS`` shuffle partitions and a 2 GiB driver heap, one client in a
closed loop: an operation starts only when the previous one has
finished. An operation is the registry's ``QuerySpec.fn`` (which builds
the DataFrame and runs any eager jobs) plus a final action that runs the
whole plan and drops the rows (a ``noop`` write, as ``bench.py`` does).

1. Untimed, on the first run in a checkout only: a separate process
   builds the on-disk star cache (``.perfbench/engine``), so set-up
   costs the same in the first run and in later ones.
2. Set-up, timed: ``get_session``, ``operators.views``, then the
   warm-up passes: a first pass that collects every operation's rows
   and ``WARM_PASSES`` more (class loading, JIT, Python workers).
   ``--seed`` fixes the order of the operations in every pass.
3. The collected rows are compared with the DuckDB oracle (``check.py``),
   untimed.
4. Timed passes for ``--seconds`` seconds (whole passes, at least one).

With ``--trace 1`` timed passes alternate traced and untraced. Traced
passes record spans at the layer boundaries and Spark's counters per
operation (``layers.py``); each per-layer metric is summed over a pass
and the median traced pass is reported, with ``trace.overhead_s`` =
traced minus untraced wall-clock pass. ``exec.counts_stable`` is 1 when
every operation ran the same number of jobs and stages in every traced
pass, ``exec.counts_match_first_run`` the share of operations whose
counts equal those of the first traced run of the workload in this
checkout. Spans are written to ``.perfbench/traces``.

Isolation: the run works in ``.perfbench/run-<pid>`` of the checkout
(cwd, so the derby metastore and ``spark-warehouse`` land there;
``TMPDIR``, ``SPARK_LOCAL_DIRS``, lock database, qtest scratch, DML
scratch) and deletes it at the end, with the ``pipeline_<pid>`` and
``stream_<pid>`` leftovers in the engine scratch. The engine scratch
itself (``.perfbench/engine``, the star cache) is kept between runs.
Host state (CPU steal and busy share over the run, load average, nproc,
versions, seed) is printed before the result.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import random
import shutil
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass

import layers

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
DATA = os.environ.get("HIVE_SPARK_TEST_SF", "/root/testdata/sf0.01")
PREPARED = os.path.join(WORK, "engine", "prepared")
CPUS = min(4, len(os.sched_getaffinity(0)))
# warm-up passes after the collecting one: JIT compilation keeps
# shortening passes for about two passes after the first one
WARM_PASSES = 1
STAR = "star_build"

# the bench.py suite (bench.HEADLINE + bench.TPCDS_EXTRA) trimmed to fit a
# run's time budget; every shape the suite exercises is kept once
QUERIES = (
    "tpch_q1",
    "tpch_q5",
    "tpch_q6",
    "events_session",
    "text_tfidf_topk",
    "dedup_minhash_lsh",
    "training_data_pipeline",
    "tpcds_q3",
)
WRITES = (
    "dml_update",
    "dml_merge",
    "dml_dynamic_partition_overwrite",
    "hql_etl_multi_insert",
    "hql_acid_dml",
)
# read after the star build: its oracle verifies the star tables the
# build wrote
STAR_CHECK = "tpcds_q3"


@dataclass(frozen=True)
class Workload:
    ops: tuple[str, ...]
    star: bool = False  # traced runs also time the cold star build


WORKLOADS = {
    "interactive_sf0.01": Workload(QUERIES),
    "etl_sf0.01": Workload(WRITES, star=True),
}

E2E_UNITS = {"setup_s": "s", "pass_cpu_s": "s", "pass_s": "s"}
LAYER_UNITS = {
    "session.start_s": "s",
    "session.register_s": "s",
    "session.warmup_s": "s",
    "session.peak_rss_mb": "MB",
    "op.p50_s": "s",
    "op.cpu_p50_s": "s",
    "operators.build_s": "s",
    "operators.build_jobs": "count",
    "catalyst.analysis_s": "s",
    "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s",
    "exec.run_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.input_mb": "MB",
    "exec.shuffle_read_mb": "MB",
    "exec.shuffle_write_mb": "MB",
    "exec.spill_mb": "MB",
    "exec.task_run_s": "s",
    "exec.task_cpu_s": "s",
    "exec.gc_s": "s",
    "exec.storage_mb": "MB",
    "exec.counts_stable": "bool",
    "exec.counts_match_first_run": "share",
    "star.build_s": "s",
    "star.jobs": "count",
    "star.write_mb": "MB",
    "dml.op_s": "s",
    "dml.write_mb": "MB",
    "dml.files": "count",
    "txn.lock_s": "s",
    "hqlscript.run_s": "s",
    "hqlscript.rewrite_s": "s",
    "hqlscript.statements": "count",
    "self.op_s": "s",
    "self.operators_s": "s",
    "self.catalyst_s": "s",
    "self.exec_s": "s",
    "self.star_s": "s",
    "self.dml_s": "s",
    "self.txn_s": "s",
    "self.snapshots_s": "s",
    "self.hqlscript_s": "s",
    "trace.overhead_s": "s",
    "trace.spans": "count",
}


def isolate(run_dir: str) -> None:
    """Point every scratch location of the engine and of Spark into the
    checkout, before hive_spark is imported (it reads some at import)."""
    env = {
        "HIVE_SPARK_SCRATCH": os.path.join(WORK, "engine"),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "SPARK_GRAFT_LOCAL_DIR": os.path.join(run_dir, "local"),
        "TMPDIR": os.path.join(run_dir, "tmp"),
        "HIVE_SPARK_LOCKDB": os.path.join(run_dir, "locks.sqlite"),
        "HIVE_SPARK_QTEST_TMP": os.path.join(run_dir, "qtest"),
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        "SPARK_GRAFT_CPUS": str(CPUS),
        "SPARK_GRAFT_SHUFFLE": str(CPUS),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        # no /tmp/hsperfdata_<user> file from the launcher and driver JVMs
        "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData",
    }
    os.environ.update(env)
    for d in ("local", "tmp", "qtest"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    os.chdir(run_dir)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def cleanup(run_dir: str) -> None:
    """Delete the run directory and the per-process engine scratch."""
    engine = os.environ["HIVE_SPARK_SCRATCH"]
    for d in (run_dir, *(os.path.join(engine, f"{k}_{os.getpid()}") for k in ("pipeline", "stream"))):
        shutil.rmtree(d, ignore_errors=True)


def cpu_jiffies() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(j0: list[int], j1: list[int]) -> float:
    """Share of the host's CPU time the hypervisor gave to other guests."""
    d = [b - a for a, b in zip(j0, j1)]
    return d[7] / max(sum(d[:8]), 1)  # user nice system idle iowait irq softirq steal


def host_state(j0: list[int], j1: list[int]) -> dict:
    """CPU shares of the whole host over the run: steal and busy (any
    process, this run included), plus load average and versions."""
    import pyspark

    d = [b - a for a, b in zip(j0, j1)]
    total = max(sum(d[:8]), 1)
    return {
        "steal_pct": 100.0 * steal_share(j0, j1),
        "busy_pct": 100.0 * (d[0] + d[1] + d[2] + d[5] + d[6]) / total,
        "loadavg": os.getloadavg(),
        "nproc": os.cpu_count(),
        "cpus_used": CPUS,
        "spark": pyspark.__version__,
        "python": platform.python_version(),
    }


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) * 1024 / 1e6
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _stat_ticks(path: str) -> tuple[str, int, int]:
    """(command name, own user+system ticks, reaped children's ticks)."""
    with open(path) as f:
        raw = f.read()
    name, rest = raw[raw.index("(") + 1 : raw.rindex(")")], raw[raw.rindex(")") + 2 :].split()
    return name, int(rest[11]) + int(rest[12]), int(rest[13]) + int(rest[14])


class CpuMeter:
    """CPU seconds (user + system) of this process, of the Spark JVM and
    of the JVM's Python workers (reaped ones through their parent).

    The JVM's JIT compiler threads are left out: how much compiling lands
    in a run varies from run to run. Compiler threads come and go, so
    each one's last reading is kept after it exits. Unlike wall time, CPU
    time does not grow when the hypervisor gives the cores to other
    guests."""

    def __init__(self, jvm: int) -> None:
        self.jvm = jvm
        self._hz = os.sysconf("SC_CLK_TCK")
        self._jit: dict[str, int] = {}  # compiler thread id -> ticks

    def seconds(self) -> float:
        parent: dict[int, int] = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                try:
                    with open(f"/proc/{d}/stat") as f:
                        parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
                except OSError:
                    pass
        tree, frontier = {self.jvm}, [self.jvm]
        while frontier:
            frontier = [p for p, pp in parent.items() if pp in frontier and p not in tree]
            tree.update(frontier)
        ticks = 0
        for pid in tree:
            try:
                _name, own, reaped = _stat_ticks(f"/proc/{pid}/stat")
            except OSError:
                continue
            ticks += own + reaped
        for tid in os.listdir(f"/proc/{self.jvm}/task"):
            try:
                name, own, _ = _stat_ticks(f"/proc/{self.jvm}/task/{tid}/stat")
            except OSError:
                continue
            if name.startswith(("C1 CompilerThre", "C2 CompilerThre")):
                self._jit[tid] = own
        return time.process_time() + (ticks - sum(self._jit.values())) / self._hz


def count_files_since(roots: list[str], since: float) -> int:
    n = 0
    for root in roots:
        for dirpath, _dirs, files in os.walk(root):
            for f in files:
                if f.startswith((".", "_")):
                    continue
                try:
                    if os.stat(os.path.join(dirpath, f)).st_mtime >= since:
                        n += 1
                except FileNotFoundError:
                    pass
    return n


def start_session():
    from hive_spark.session import get_session

    return get_session(app_name="perfbench", master=f"local[{CPUS}]", shuffle_partitions=CPUS)


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM (which owns the Python workers)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


class Runner:
    """One workload in one Spark session."""

    def __init__(self, run_dir: str, trace: bool):
        from hive_spark.operators import dml_demo, full_registry

        # the DML demos write under a literal /tmp path; keep them in the run dir
        dml_demo._SCRATCH = os.path.join(run_dir, "dml")
        self.write_roots = [os.path.join(run_dir, "dml"), os.path.join(run_dir, "tmp")]
        self.registry = full_registry()
        self.tracer = layers.Tracer()
        if trace:
            self.tracer.install()
        self.attempted = 0
        self.errors: list[str] = []
        self.spark = None

    def start(self) -> dict[str, float]:
        """Session start and view registration; wall seconds of each."""
        from hive_spark.operators import views

        t0 = time.perf_counter()
        self.spark = start_session()
        t1 = time.perf_counter()
        self.jvm_pid = int(self.spark._jvm.ProcessHandle.current().pid())
        self.cpu = CpuMeter(self.jvm_pid)
        views(self.spark, DATA)
        t2 = time.perf_counter()
        self.stats = layers.SparkStats(self.spark)
        return {"start": t1 - t0, "register": t2 - t1}

    def run_op(self, name: str, traced: bool, collect: bool = False) -> dict | None:
        """Run one operation; None when it raised."""
        from hive_spark.operators import tpcds

        tr, st = self.tracer, self.stats
        tr.op_id += 1
        self.attempted += 1
        out: dict = {}
        since = time.time()
        j0 = st.next_job_id() if traced else 0
        cpu0 = self.cpu.seconds()
        t0 = time.perf_counter()
        try:
            with tr.span(f"op.{name}"):
                df = None
                if name == STAR:
                    with tr.span("star.build"):
                        tpcds.measure_cold_star_build(self.spark, DATA)
                else:
                    with tr.span("operators.build"):
                        df = self.registry[name].fn(self.spark, DATA)
                j1 = st.next_job_id() if traced else 0
                if df is not None:
                    if traced:
                        # the noop write plans a fresh copy of the query, so
                        # the phases are taken from the DataFrame's own plan
                        with tr.span("catalyst.plan"):
                            df._jdf.queryExecution().executedPlan()
                    with tr.span("exec.run"):
                        if collect:
                            out["rows"] = (df.columns, [tuple(r) for r in df.collect()])
                        else:
                            df.write.format("noop").mode("overwrite").save()
        except Exception as e:  # counted in the result's failed
            self.errors.append(f"{name}: {type(e).__name__}: {str(e).splitlines()[0][:200]}")
            return None
        out["latency"] = time.perf_counter() - t0
        out["cpu"] = self.cpu.seconds() - cpu0
        if traced:
            c: dict[str, float] = {}
            build, run = st.jobs(j0, j1), st.jobs(j1, st.next_job_id())
            if name == STAR:
                c["star.jobs"], c["star.write_mb"] = build["jobs"], build["output_mb"]
            else:
                c["operators.build_jobs"] = build["jobs"]
            if name in WRITES:
                c["dml.write_mb"] = build["output_mb"] + run["output_mb"]
                c["dml.files"] = float(count_files_since(self.write_roots, since))
            for k, v in run.items():
                if k != "output_mb":
                    c[f"exec.{k}"] = v
            if df is not None:
                for k, v in layers.catalyst_phases(df).items():
                    c[f"catalyst.{k}_s"] = v
            c["exec.storage_mb"] = st.storage_mb()
            out["counters"] = c
            out["counts"] = (build["jobs"], run["jobs"], run["stages"])
        return out

    def run_pass(self, order: list[str], traced: bool, collect: bool = False) -> dict:
        tr = self.tracer
        tr.enabled = traced
        first_span, lock0 = len(tr.spans), tr.lock_wait_s
        ops: dict[str, dict] = {}
        j0 = cpu_jiffies()
        t0 = time.perf_counter()
        for name in order:
            r = self.run_op(name, traced, collect)
            if r is not None:
                ops[name] = r
        wall = time.perf_counter() - t0
        steal = steal_share(j0, cpu_jiffies())
        tr.enabled = False
        p = {
            "traced": traced,
            "wall": wall,
            "run": wall * (1.0 - steal),
            "cpu": sum(r["cpu"] for r in ops.values()),
            "ops": ops,
        }
        if traced:
            m: dict[str, float] = tr.pass_metrics(first_span)
            m["txn.lock_s"] = tr.lock_wait_s - lock0
            for r in ops.values():
                for k, v in r["counters"].items():
                    m[k] = max(m.get(k, 0.0), v) if k == "exec.storage_mb" else m.get(k, 0.0) + v
            p["layers"] = m
        return p

    def check(self, results: dict[str, dict]) -> None:
        """Compare collected rows with the DuckDB oracle. A ``STAR``
        result is checked by reading the star back through ``STAR_CHECK``."""
        from check import Oracle

        oracle = Oracle(DATA, CPUS)
        for name, r in results.items():
            if name == STAR:
                r = self.run_op(STAR_CHECK, traced=False, collect=True)
                if r is None:
                    continue
                name = f"{STAR} (read back by {STAR_CHECK})"
                spec = self.registry[STAR_CHECK]
            else:
                spec = self.registry[name]
            try:
                why = oracle.mismatch(spec, *r["rows"])
            except Exception as e:  # an oracle that cannot run checks nothing
                why = f"{type(e).__name__}: {str(e).splitlines()[0][:200]}"
            if why is not None:
                self.errors.append(f"{name}: oracle mismatch: {why}")

    def close(self) -> None:
        if self.spark is not None:
            stop_session(self.spark)


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def exactness(name: str, passes: list[dict]) -> dict[str, float]:
    """Are per-operation (build jobs, jobs, stages) identical across the
    traced passes of this run, and equal to the first traced run's?"""
    per_op: dict[str, set] = {}
    for p in passes:
        for op, r in p["ops"].items():
            per_op.setdefault(op, set()).add(r["counts"])
    now = {op: sorted(c)[0] for op, c in per_op.items()}
    path = os.path.join(WORK, "counters", f"{name}.json")
    if os.path.exists(path):
        with open(path) as f:
            first = {op: tuple(c) for op, c in json.load(f).items()}
    else:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(now, f, indent=1, sort_keys=True)
        first = now
    same = sum(1 for op, c in now.items() if first.get(op) == c)
    return {
        "exec.counts_stable": float(all(len(c) == 1 for c in per_op.values())),
        "exec.counts_match_first_run": same / max(len(now), 1),
    }


def prepare() -> int:
    """Build the on-disk star cache for DATA (run in its own process, so
    the timed set-up still starts a cold JVM)."""
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    isolate(run_dir)
    from hive_spark.operators import tpcds

    spark = start_session()
    try:
        tpcds.measure_cold_star_build(spark, DATA)
    finally:
        stop_session(spark)
        cleanup(run_dir)
    open(PREPARED, "w").close()
    return 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "hive_spark", "__init__.py")):
        print(f"perfbench: no engine sources under {ROOT}", file=sys.stderr)
        return 2
    if not os.path.isfile(os.path.join(DATA, "lineitem.parquet")):
        print(f"perfbench: no testdata under {DATA}", file=sys.stderr)
        return 2
    if not os.path.exists(PREPARED):
        if subprocess.run([sys.executable, os.path.abspath(__file__), "--prepare"]).returncode:
            print("perfbench: building the star cache failed", file=sys.stderr)
            return 2

    wl = WORKLOADS[args.workload]
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    isolate(run_dir)
    rng = random.Random(args.seed)
    order = lambda: rng.sample(wl.ops, len(wl.ops))  # noqa: E731

    j0 = cpu_jiffies()
    stamps = [time.perf_counter()]
    cpu0 = time.process_time()  # no JVM yet: the meter counts it from launch
    runner = Runner(run_dir, bool(args.trace))
    try:
        setup = runner.start()
        t_warm = time.perf_counter()
        warm = runner.run_pass(order(), traced=False, collect=True)
        for _ in range(WARM_PASSES):
            runner.run_pass(order(), traced=False)
        setup_cpu = runner.cpu.seconds() - cpu0
        stamps.append(time.perf_counter())
        runner.check(warm["ops"])
        stamps.append(time.perf_counter())
        passes: list[dict] = []
        t_end = time.perf_counter() + args.seconds
        while not passes or time.perf_counter() < t_end or (
            args.trace and len(passes) < 2
        ):
            passes.append(runner.run_pass(order(), traced=bool(args.trace) and len(passes) % 2 == 0))
        star = None
        if wl.star and args.trace:
            star = runner.run_pass([STAR], traced=True, collect=True)
            runner.check(star["ops"])
        rss = vm_hwm_mb(runner.jvm_pid)
        stamps.append(time.perf_counter())
    finally:
        runner.close()
        cleanup(run_dir)
    stamps.append(time.perf_counter())
    host = host_state(j0, cpu_jiffies())

    plain = [p for p in passes if not p["traced"]]
    traced = [p for p in passes if p["traced"]]
    failed = len(runner.errors)
    attempted = runner.attempted
    if args.trace:
        metrics = {k: median([p["layers"].get(k, 0.0) for p in traced]) for k in LAYER_UNITS}
        metrics.update(exactness(args.workload, traced))
        if star is not None:
            metrics.update({k: v for k, v in star["layers"].items() if k.startswith(("star.", "self.star"))})
        metrics["session.start_s"] = setup["start"]
        metrics["session.register_s"] = setup["register"]
        metrics["session.warmup_s"] = stamps[1] - t_warm
        metrics["session.peak_rss_mb"] = rss
        metrics["op.p50_s"] = median([r["latency"] for p in plain for r in p["ops"].values()])
        metrics["op.cpu_p50_s"] = median([r["cpu"] for p in plain for r in p["ops"].values()])
        metrics["trace.overhead_s"] = median([p["wall"] for p in traced]) - median(
            [p["wall"] for p in plain]
        )
        units = LAYER_UNITS
        spans_path = os.path.join(WORK, "traces", f"{args.workload}-seed{args.seed}.json")
        os.makedirs(os.path.dirname(spans_path), exist_ok=True)
        with open(spans_path, "w") as f:
            json.dump(runner.tracer.spans, f)
    else:
        metrics = {
            "setup_s": setup_cpu,
            "pass_cpu_s": median([p["cpu"] for p in plain]),
            "pass_s": median([p["run"] for p in plain]),
        }
        units = E2E_UNITS

    info = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "data": DATA,
        "ops": len(wl.ops),
        "timed_passes": len(passes),
        "op_samples": sum(len(p["ops"]) for p in passes),
        # wall seconds of set-up, oracle check, timed passes, shutdown
        "phase_s": [round(b - a, 2) for a, b in zip(stamps, stamps[1:])],
        "pass_wall_s": [round(p["wall"], 3) for p in passes],
        "pass_run_s": [round(p["run"], 3) for p in passes],
        "pass_cpu_s": [round(p["cpu"], 3) for p in passes],
        "op_median_s": {
            op: round(median([p["ops"][op]["latency"] for p in plain if op in p["ops"]]), 3)
            for op in wl.ops
        },
        "errors": runner.errors,
        "host": host,
    }
    print("perfbench " + json.dumps(info))
    for k, v in metrics.items():
        print(f"  {k:32s} {v:12.4f} {units[k]}")
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(prepare() if sys.argv[1:] == ["--prepare"] else main())
