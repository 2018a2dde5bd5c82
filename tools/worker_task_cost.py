"""Python worker CPU per Spark task, read from /proc.

Runs an empty 16-partition ``mapInPandas`` twice through the engine's
session (``get_spark``) and prints the CPU time (user + system) the
Python workers spent per task in each pass. The first pass includes
starting the worker daemon and forking the workers; the second pass
runs on the reused workers, so it is the fixed cost every task of a
request pays. Workers start from the engine daemon
(``georasters_spark.worker_daemon``) when the package is loaded from a
directory, so this shows whether they still re-read the pyspark
archive on each task: that costs ~0.2-0.3 s a task, the engine daemon
a few ms.

Usage: python tools/worker_task_cost.py [cores]   # one JSON line
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

PARTITIONS = 16
TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int):
    """(ppid, comm, cpu seconds) of one process, or None once it is gone."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    comm = raw[raw.index("(") + 1:raw.rindex(")")]
    fields = raw[raw.rindex(")") + 2:].split()
    return int(fields[1]), comm, (int(fields[11]) + int(fields[12])) / TICK


def python_worker_cpu(root: int) -> dict[int, float]:
    """CPU seconds of every live Python process below `root` (the JVM):
    the worker daemon and the workers it forked."""
    procs = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                procs[int(name)] = st
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = {}, list(children.get(root, []))
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, []))
        if procs[pid][1].startswith("python"):
            out[pid] = procs[pid][2]
    return out


def _empty(batches):
    for b in batches:
        yield b.iloc[:0]


def main() -> None:
    from pyspark import SparkContext

    from georasters_spark.session import get_spark

    cores = int(sys.argv[1]) if len(sys.argv) > 1 else min(4, len(os.sched_getaffinity(0)))
    spark = get_spark(app_name="worker_task_cost", cores=cores, shuffle_partitions=cores,
                      extra_conf={"spark.driver.memory": "1g",
                                  "spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    jvm = SparkContext._gateway.proc.pid
    df = spark.range(0, PARTITIONS, numPartitions=PARTITIONS).mapInPandas(_empty, "id long")
    result = {"cores": cores, "tasks_per_pass": PARTITIONS,
              "daemon_module": spark.conf.get("spark.python.daemon.module", "pyspark.daemon")}
    before = python_worker_cpu(jvm)
    for label in ("first_pass", "second_pass"):
        df.count()
        after = python_worker_cpu(jvm)
        cpu = sum(t - before.get(pid, 0.0) for pid, t in after.items())
        result[f"{label}_ms_per_task"] = round(1000 * cpu / PARTITIONS, 1)
        result[f"{label}_workers"] = len(after)
        before = after
    spark.stop()
    print(json.dumps(result))


if __name__ == "__main__":
    main()
