"""Measure the fixed worker-side cost of one Python task.

Runs N identity ``mapInArrow`` tasks (one 1,000-row partition each) on
the engine's own session (``session.get_spark``) after a warm-up job
that starts the Python daemon, and prints one JSON line:

  worker_cpu_s           CPU the Python worker processes used for the
                         N tasks (utime + stime, children included, of
                         every descendant of the JVM, from /proc)
  worker_cpu_per_task_s  the same divided by N
  worker_pyspark_file    ``pyspark.__file__`` as a worker sees it
  worker_zip_importers   the ``sys.path_importer_cache`` keys a worker
                         holds as ``zipimporter`` objects

Every task pays ``importlib.invalidate_caches()`` before its first row,
and each cached zip importer makes that call re-read its archive's
directory, so the per-task figure tracks the last two fields.

Usage: python tools/python_task_floor.py [--tasks N]   (default 16)
Honours ``SPARK_GRAFT_CPUS`` like every other entry point; Linux only.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

_TICK = os.sysconf("SC_CLK_TCK")


def _proc_stat(pid: int) -> tuple[int, int] | None:
    """(parent pid, utime + stime + cutime + cstime in ticks) of ``pid``."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return None
    return int(fields[1]), sum(int(f) for f in fields[11:15])


def descendants_cpu_s(root: int) -> float:
    """CPU seconds of every live descendant of ``root``, reaped children
    included (a worker that exits is folded into its parent's cutime)."""
    stats = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            st = _proc_stat(int(entry))
            if st is not None:
                stats[int(entry)] = st
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    total, stack = 0, list(children.get(root, []))
    while stack:
        pid = stack.pop()
        total += stats[pid][1]
        stack.extend(children.get(pid, []))
    return total / _TICK


def _identity(batches):
    yield from batches


def _report(batches):
    import sys
    import zipimport

    import pyarrow as pa
    import pyspark

    for _ in batches:
        pass
    zips = sorted(k for k, v in sys.path_importer_cache.items()
                  if isinstance(v, zipimport.zipimporter))
    yield pa.RecordBatch.from_pydict(
        {"pyspark_file": [pyspark.__file__], "zip_importers": [json.dumps(zips)]})


def worker_report(spark) -> dict:
    """What a Python worker of ``spark`` imports PySpark from, and which
    zip importers it has cached, read from inside one task."""
    row = (spark.range(1, numPartitions=1)
           .mapInArrow(_report, "pyspark_file string, zip_importers string")
           .collect()[0])
    return {"pyspark_file": row["pyspark_file"],
            "zip_importers": json.loads(row["zip_importers"])}


def measure(spark, tasks: int) -> dict:
    from pyspark import SparkContext

    jvm_pid = SparkContext._gateway.proc.pid
    df = spark.range(tasks * 1000, numPartitions=tasks).mapInArrow(_identity, "id long")
    df.write.format("noop").mode("overwrite").save()  # starts the daemon
    before = descendants_cpu_s(jvm_pid)
    df.write.format("noop").mode("overwrite").save()
    cpu = descendants_cpu_s(jvm_pid) - before
    info = worker_report(spark)
    return {
        "tasks": tasks,
        "worker_cpu_s": round(cpu, 3),
        "worker_cpu_per_task_s": round(cpu / tasks, 4),
        "worker_pyspark_file": info["pyspark_file"],
        "worker_zip_importers": info["zip_importers"],
    }


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--tasks", type=int, default=16)
    args = ap.parse_args()

    from boltzmannclean_spark.session import get_spark

    spark = get_spark("python-task-floor")
    try:
        print(json.dumps(measure(spark, args.tasks)))
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
