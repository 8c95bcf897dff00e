"""Closed-loop benchmark of the engine, one workload per run.

    python3 perfbench/run.py --workload iterative --seed 1 --seconds 12 --trace 0

Run from the repository root. One client runs the workload's operations
one after another; each operation is timed from outside the engine as
the call (including any eager jobs) plus a ``noop`` write of every
output column. Spark runs as ``local[N]`` with N = the CPUs this process
may use. A run:

1. sets up the engine (``setup_s``): process start until the session is
   up, the registry is imported and the small-scale warm-up is done;
2. runs one cold pass;
3. repeats passes for ``--seconds``, at least four, and reports their
   median.

Every output of every pass is checked, outside the timed region. The
input tables under ``perfbench/data`` are byte copies of the engine's
seed-42 fixture tables (``TESTDATA.md``): sf0.01 for the timed passes,
sf0.001 for the warm-up and the self-test.

A pass is measured two ways: wall time, the sum of its operations'
latencies, and CPU seconds, what the driver process, the JVM and its
Python workers used during those operations. On a shared host the wall
time of whole runs moves with other tenants' load (a quarter to a third,
quartile distance over median, across ten runs) while the CPU seconds
move far less, so the bounded end-to-end metrics are the CPU ones and
the wall times are reported in the traced ledger (``wall.pass_s``,
``wall.first_pass_s``). The cold pass counts all its CPU
(``first_pass_cpu_s``). In the steady passes the JVM is still compiling
(its JIT compilers' time falls by about a third per pass and is half of
a pass's CPU by the fourth), and how fast it falls differs from run to
run; ``pass_work_cpu_s`` therefore leaves out the time the JIT compilers
report (``CompilationMXBean``), which the ledger keeps as ``jvm.jit_s``
next to the full figure, ``cpu.pass_s``.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` — the end-to-end metrics with ``--trace 0``,
the per-layer ledger (``ledger.py``) with ``--trace 1``. A traced run
alternates traced and untraced steady passes and reports the difference
as ``trace.overhead_s``. The full per-operation record goes to
``perfbench/work/runs/``.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
DATA_ROOT = os.path.join(HERE, "data")
SF = 0.01
WARM_SF = 0.001
#: Steady passes a run makes at least, however short ``--seconds`` is.
MIN_PASSES = 4
WORKLOADS = ("iterative", "curation")
CPU_REF_ROWS = 2_000_000_000


def configure_env() -> None:
    """Everything Spark, Python workers and the JVM write stays inside
    ``perfbench/work``; must run before the JVM starts."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = os.environ
    env["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    env["SPARK_DRIVER_MEM"] = "2g"
    env["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    env["TMPDIR"] = tmp
    env["BCS_ANN_INDEX_DIR"] = tmp
    env["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    env["PYSPARK_SUBMIT_ARGS"] = "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def table_dir(sf: float) -> str:
    return os.path.join(DATA_ROOT, f"sf{sf:g}")


def setup(workload: str):
    """Session up, registry imported, small-scale warm-up done."""
    from boltzmannclean_spark.plans.registry import all_queries
    from boltzmannclean_spark.session import get_spark
    from boltzmannclean_spark.sources.catalog import load_table

    from workloads import workloads

    registry = all_queries()
    t = time.perf_counter()
    spark = get_spark(f"perfbench-{workload}")
    session_s = time.perf_counter() - t
    warm = load_table(spark, table_dir(WARM_SF), workloads()[workload].warm_table)
    warm.write.format("noop").mode("overwrite").save()
    return spark, registry, session_s


def shutdown(spark) -> dict:
    """Stop the session and the JVM and wait for it; returns the JVM's
    peak RSS and the peak of its old generation (the data that outlived
    young collections), read just before."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = gateway.proc
    mem = {"jvm_kb": _peak_rss_kb(proc.pid), "old_gen_peak_bytes": 0}
    for pool in gateway.jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans():
        if pool.getName().endswith("Old Gen"):
            mem["old_gen_peak_bytes"] = pool.getPeakUsage().getUsed()
    spark.stop()
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    proc.stdin.close()
    proc.wait(timeout=60)
    return mem


def _peak_rss_kb(pid) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


_TICK = os.sysconf("SC_CLK_TCK")


def cpu_s(jvm_pid: int) -> float:
    """CPU seconds used so far by this process, the JVM and the JVM's
    live descendants (the Python workers), including the children they
    have reaped."""
    parent, used = {}, {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:  # the process ended while we looked
            continue
        parent[int(entry)] = int(fields[1])
        used[int(entry)] = sum(int(x) for x in fields[11:15]) / _TICK
    me = os.times()
    total = me.user + me.system
    frontier = [jvm_pid]
    while frontier:
        pid = frontier.pop()
        total += used.get(pid, 0.0)
        frontier.extend(c for c, p in parent.items() if p == pid)
    return total


def cpu_ref(spark) -> float:
    """The host-speed sentinel of ``bench.py``: one fixed CPU-bound JVM
    job. Diagnostic only."""
    t = time.perf_counter()
    spark.range(CPU_REF_ROWS).selectExpr("sum(id % 7919)").collect()
    return time.perf_counter() - t


def wrap_catalog(spans: list) -> None:
    """Traced runs time every ``load_table`` call, including those made
    inside registry builders, by rebinding the name in the engine modules
    that imported it. The wrapper only adds a timer."""
    from boltzmannclean_spark.sources import catalog

    orig = catalog.load_table

    def load_table(*args, **kwargs):
        t = time.perf_counter()
        try:
            return orig(*args, **kwargs)
        finally:
            spans.append(time.perf_counter() - t)

    for mod in list(sys.modules.values()):
        if (getattr(mod, "__name__", "").startswith("boltzmannclean_spark")
                and getattr(mod, "load_table", None) is orig):
            mod.load_table = load_table
    catalog.load_table = load_table


def run_op(ctx, workload: str, op, pass_no: int, ledger, catalog_spans: list) -> dict:
    from ledger import Span, analysis_ms

    spark = ctx.spark
    spark.catalog.clearCache()
    gc.collect()
    group = f"{workload}:{op.name}:{pass_no}"
    spark.sparkContext.setJobGroup(group, op.name)
    if ledger is not None:
        ledger.skip()
    rec = {"op": op.name, "pass": pass_no, "traced": ledger is not None}
    catalog_spans.clear()
    host0, jit0 = cpu_s(ctx.jvm_pid), ctx.jit.getTotalCompilationTime()
    wall0, cpu0 = time.time(), time.process_time()
    t0 = time.perf_counter()
    df = None
    try:
        df = op.call(ctx)
        t1 = time.perf_counter()
        wall1, cpu1 = time.time(), time.process_time()
        phases = ({"catalyst.analysis_ms": analysis_ms(df)}
                  if ledger is not None and df is not None else {})
        if df is not None:
            df.write.format("noop").mode("overwrite").save()
        t2, wall2 = time.perf_counter(), time.time()
        rec.update({"latency_s": t2 - t0, "build.s": t1 - t0, "exec.s": t2 - t1,
                    "build.py_cpu_s": cpu1 - cpu0, "cpu_s": cpu_s(ctx.jvm_pid) - host0,
                    "jvm.jit_s": (ctx.jit.getTotalCompilationTime() - jit0) / 1000.0,
                    "error": None})
    except Exception as exc:  # an operation failure costs the op, not the run
        rec.update(latency_s=time.perf_counter() - t0, error=f"{type(exc).__name__}: {exc}"[:500])
        print(f"# {group} FAILED {rec['error']}", file=sys.stderr)
    if ledger is not None and rec["error"] is None:
        span = Span(group, wall0, wall1, wall2, phases)
        rec.update(ledger.take(span))
        rec["catalog.load_s"] = sum(catalog_spans)
        if "ann_dir" in ctx.state and op.name == "ann_build_index":
            rec["ann.index_bytes"] = _dir_bytes(ctx.state["ann_dir"])
    spark.sparkContext.setJobGroup("perfbench:check", "output check")
    if rec["error"] is None:
        t = time.perf_counter()
        try:
            rec["check"] = op.check(ctx, df)
        except Exception as exc:
            rec["check"] = f"check raised {type(exc).__name__}: {exc}"[:500]
        rec["check_s"] = time.perf_counter() - t
        if rec["check"]:
            print(f"# {group} CHECK FAILED {rec['check']}", file=sys.stderr)
    return rec


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


def run_pass(ctx, wl, pass_no: int, ledger, catalog_spans: list) -> list[dict]:
    """One pass over the workload's units. The cold pass keeps the listed
    order: it forms the JIT's profiles, and a seed-dependent first
    operation moved whole runs by a quarter. Later passes take the
    seed's order."""
    from workloads import drop_ann_index

    order = ctx.rng.permutation(len(wl.units)) if pass_no else range(len(wl.units))
    recs = []
    for u in order:
        for op in wl.units[u]:
            recs.append(run_op(ctx, wl.name, op, pass_no, ledger, catalog_spans))
        drop_ann_index(ctx)
    return recs


def family_metrics(rec: dict, expected: dict) -> dict:
    """Per-family ledger names (knn, ann, rbm) for the run record,
    derived from the generic per-operation fields."""
    op, out = rec["op"], {}
    if "build.jobs" not in rec:
        return out
    if op == "impute_knn_embedding":
        out["knn.pair_rows_per_result"] = rec["python.rows_out"] / expected[op]["rows"]
    elif op == "ann_build_index":
        out["ann.build_jobs"] = rec["build.jobs"]
        out["ann.jobs_untagged"] = rec["jobs.untagged"]
    elif op == "ann_search":
        out["ann.search_build_s"] = rec["build.s"]
        out["ann.search_exec_s"] = rec["exec.s"]
        out["ann.jobs_untagged"] = rec["jobs.untagged"]
    elif op.startswith("impute_rbm"):
        out["rbm.fit_s"] = rec["build.s"]
        out["rbm.fit_jobs"] = rec["build.jobs"]
        out["rbm.transform_s"] = rec["exec.s"]
    return out


#: Per-layer metrics of the result line: one traced pass summed over its
#: operations. Everything else the ledger records (exec.gc_s,
#: python.eval_s, per-family fields) stays in the run record, because on
#: some workloads it is zero on every run.
LAYER_SUMS = {
    "catalog.load_s": "s", "catalog.files_read_bytes": "bytes",
    "build.s": "s", "build.jobs": "count", "build.py_cpu_s": "s",
    "catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms", "plan.nodes": "count",
    "exec.s": "s", "exec.jobs": "count", "exec.stages": "count",
    "exec.tasks": "count", "shuffle.read_bytes": "bytes",
    "shuffle.write_bytes": "bytes", "spill.bytes": "bytes",
    "python.rows_out": "count", "python.in_bytes": "bytes",
    "python.out_bytes": "bytes", "jobs.untagged": "count", "jvm.jit_s": "s",
}
LAYER_RUN = {"exec.task_busy_frac": "ratio", "session.start_s": "s",
             "wall.pass_s": "s", "wall.first_pass_s": "s", "cpu.pass_s": "s",
             "jvm.old_gen_peak_bytes": "bytes",
             "trace.pass_s": "s", "trace.overhead_s": "s", "host.cpu_ref_s": "s"}
END_TO_END = {"setup_s": "s", "pass_work_cpu_s": "s", "first_pass_cpu_s": "s",
              "peak_rss_mb": "MB", "ops_ok_frac": "ratio"}


def layer_totals(recs: list[dict]) -> dict:
    """One traced pass summed over its operations."""
    out = dict.fromkeys(LAYER_SUMS, 0.0)
    task_s = wall = 0.0
    for r in recs:
        if r["error"] is not None:
            continue
        for key in LAYER_SUMS:
            out[key] += r.get(key, 0)
        task_s += r["exec.task_s"]
        wall += r["latency_s"]
    out["exec.task_busy_frac"] = task_s / (wall * len(os.sched_getaffinity(0)))
    return out


def is_traced(trace: int, n: int) -> bool:
    """Steady passes of a traced run go untraced, traced, traced,
    untraced, ...: pairs in ABBA order, so the JIT warm-up that still
    speeds up later passes cancels out of ``trace.overhead_s``."""
    return bool(trace) and n % 4 in (2, 3)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=SF, choices=(SF, WARM_SF),
                    help="table scale; the self-test uses the small one")
    ap.add_argument("--inject-failure", action="store_true",
                    help="self-test: add an operation that always fails")
    args = ap.parse_args(argv)
    configure_env()
    sys.path.insert(0, HERE)

    spark, registry, session_s = setup(args.workload)
    setup_s = time.perf_counter() - T_PROCESS

    import numpy as np

    from ledger import Ledger
    from workloads import Ctx, Op, load_expected, workloads

    wl = workloads()[args.workload]
    if args.inject_failure:
        wl.units.append([Op("injected_failure", _fail, lambda ctx, df: None)])
    scratch = os.path.join(WORK, f"scratch-{os.getpid()}")
    os.makedirs(scratch, exist_ok=True)
    expected = load_expected()[f"{args.sf:g}"]
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    ctx = Ctx(spark, registry, table_dir(args.sf), scratch,
              np.random.default_rng(args.seed), expected, gateway.proc.pid,
              gateway.jvm.java.lang.management.ManagementFactory.getCompilationMXBean())
    ledger = Ledger(spark) if args.trace else None
    catalog_spans: list = []
    if args.trace:
        wrap_catalog(catalog_spans)

    host = {"cpu_ref_start_s": cpu_ref(spark), "load1_start": os.getloadavg()[0]}
    passes = [run_pass(ctx, wl, 0, ledger, catalog_spans)]
    t_steady = time.perf_counter()
    while len(passes) <= MIN_PASSES or time.perf_counter() - t_steady < args.seconds:
        n = len(passes)
        passes.append(run_pass(ctx, wl, n, ledger if is_traced(args.trace, n) else None,
                               catalog_spans))
    host.update(cpu_ref_end_s=cpu_ref(spark), load1_end=os.getloadavg()[0])
    rss = shutdown(spark)
    shutil.rmtree(scratch, ignore_errors=True)
    rss["python_kb"] = _peak_rss_kb("self")

    recs = [r for p in passes for r in p]
    attempted = len(recs)
    failed = sum(1 for r in recs if r["error"] is not None or r.get("check"))
    pass_times = [sum(r["latency_s"] for r in p) for p in passes]
    pass_cpu = [sum(r.get("cpu_s", 0.0) for r in p) for p in passes]
    pass_work = [sum(r.get("cpu_s", 0.0) - r.get("jvm.jit_s", 0.0) for r in p) for p in passes]
    traced_n = [n for n in range(1, len(passes)) if is_traced(args.trace, n)]
    untraced_n = [n for n in range(1, len(passes)) if n not in traced_n]
    e2e = {
        "setup_s": setup_s,
        "pass_work_cpu_s": statistics.median(pass_work[n] for n in untraced_n),
        "first_pass_cpu_s": pass_cpu[0],
        "peak_rss_mb": (rss["jvm_kb"] + rss["python_kb"]) / 1024.0,
        "ops_ok_frac": 1.0 - failed / attempted,
    }
    wall = {"wall.pass_s": statistics.median(pass_times[n] for n in untraced_n),
            "wall.first_pass_s": pass_times[0],
            "cpu.pass_s": statistics.median(pass_cpu[n] for n in untraced_n)}
    for r in recs:
        r.update(family_metrics(r, expected))
    if args.trace:
        totals = [layer_totals(passes[n]) for n in traced_n]
        metrics = {k: statistics.median(t[k] for t in totals) for k in totals[0]}
        traced_s = statistics.median(pass_times[n] for n in traced_n)
        metrics.update(wall)
        metrics.update({
            "session.start_s": session_s,
            "jvm.old_gen_peak_bytes": rss["old_gen_peak_bytes"],
            "trace.pass_s": traced_s,
            "trace.overhead_s": traced_s - wall["wall.pass_s"],
            "host.cpu_ref_s": (host["cpu_ref_start_s"] + host["cpu_ref_end_s"]) / 2,
        })
        units = {**LAYER_SUMS, **LAYER_RUN}
    else:
        metrics, units = e2e, END_TO_END
    record = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "sf": args.sf, "seconds": args.seconds, "pass_times_s": pass_times,
              "host": host, "rss_kb": rss, "end_to_end": e2e, "wall": wall, "ops": recs}
    runs = os.path.join(WORK, "runs")
    os.makedirs(runs, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(runs, name), "w") as fh:
        json.dump(record, fh, indent=1)
    print(f"# {args.workload}: setup {setup_s:.3f} s, passes "
          f"{[round(t, 3) for t in pass_times]}, host {host}", file=sys.stderr)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


def _fail(ctx):
    raise RuntimeError("injected failure")


if __name__ == "__main__":
    sys.exit(main())
