"""One Spark driver process of a benchmark run.

Started by ``run.py`` with the environment it needs (``PYTHONPATH`` holding
the checkout root, local scratch directories inside the checkout) and the
oracle's expected output in a file. It sets up the workload, prints
``READY <json>``, then measures for its time budget and prints
``RESULT <json>``.

``--mode measure`` is a closed loop (one client: each run starts after the
previous one has finished and been checked) alternating full and half
parallelism. ``--mode trace`` runs the traced full runs, the layer
prefixes and the direct kernel calls that give the per-layer numbers.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback

T0 = time.perf_counter()


def emit(tag: str, payload: dict) -> None:
    sys.stdout.write("%s %s\n" % (tag, json.dumps(payload)))
    sys.stdout.flush()


def start_spark(cores: int, work: str, ui: bool):
    from pure_python_geospatial_export_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        master="local[%d]" % cores,
        shuffle_partitions=cores,
        extra_conf={
            "spark.ui.enabled": str(ui).lower(),
            "spark.ui.port": "0",
            "spark.local.dir": work + "/spark-local",
            "spark.driver.extraJavaOptions":
                "-Djava.io.tmpdir=%s/tmp -XX:-UsePerfData" % work,
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def timed_run(wl, tree):
    """One closed-loop run: (wall seconds, CPU seconds, ok). The CPU time
    is that of every process of this driver (JVM task, compiler and GC
    threads, Python workers, the driver itself): unlike executor run time,
    which is wall-clock per task, it does not stretch when the host steals
    CPU from this machine."""
    from proctree import cpu_s

    cpu0 = cpu_s(tree.refresh())
    t = time.perf_counter()
    digest = wl.run()
    wall = time.perf_counter() - t
    cpu = cpu_s(tree.refresh()) - cpu0
    return wall, cpu, wl.check(digest)


class Levels:
    """Switch the warm JVM between full parallelism (every CPU of this
    process) and half parallelism: every thread of the driver, the JVM and
    the Python workers pinned to half the CPUs, and the pages generator
    and shuffles given half the partitions."""

    def __init__(self, spark, cpus):
        from proctree import ProcessTree

        self.spark = spark
        self.tree = ProcessTree(os.getpid())
        self.cpus = {"main": cpus, "half": cpus[:max(1, len(cpus) // 2)]}

    def set(self, level: str) -> None:
        from proctree import pin

        cpus = self.cpus[level]
        pin(self.tree, cpus)
        self.spark.conf.set("spark.sql.leafNodeDefaultParallelism",
                            len(cpus))
        self.spark.conf.set("spark.sql.shuffle.partitions", len(cpus))


def measure(wl, budget: float, levels: Levels) -> dict:
    """Closed loop of full/half parallelism pairs (full first, so drift in
    the machine's load hits both levels alike): one pair per 3 s of
    ``budget``, at least two. The count is fixed rather than read off the
    clock because runs are still getting faster as the JIT warms up: on a
    fast host a time-limited loop fits in one more run, and the median
    would then sit further down that curve than on a slow one."""
    res = {n: {"run_s": [], "cpu_s": [], "attempted": 0, "failed": 0}
           for n in ("main", "half")}
    for i in range(2 * max(2, round(budget / 3))):
        name = ("main", "half")[i % 2]
        r = res[name]
        levels.set(name)
        r["attempted"] += 1
        try:
            wall, cpu, ok = timed_run(wl, levels.tree)
        except Exception:  # a run that raises counts as failed
            traceback.print_exc()
            r["failed"] += 1
            continue
        r["run_s"].append(wall)
        r["cpu_s"].append(cpu)
        r["failed"] += not ok
    return res


def trace(wl, spark, budget: float) -> dict:
    """Per-layer numbers: an untraced and a traced full run (stage
    metrics + SQL node metrics), prefix sweeps into the noop sink, direct
    kernel calls."""
    from pure_python_geospatial_export_spark.session import (
        ui_stage_snapshot,
    )
    from sparkstats import SqlReader, new_stages, stage_totals, task_skew

    sql_reader = SqlReader(spark)
    end = time.perf_counter() + budget
    res = {"run_s": [], "traced_s": [], "attempted": 2, "failed": 0}
    t = time.perf_counter()
    out = wl.run()
    res["run_s"].append(time.perf_counter() - t)
    res["failed"] += not wl.check(out)
    sql_reader.read()
    before = ui_stage_snapshot(spark) or {}
    t = time.perf_counter()
    out = wl.run()
    stages = new_stages(spark, before)
    sql = sql_reader.read()
    skew = task_skew(spark, stages)
    res["traced_s"].append(time.perf_counter() - t)
    res["failed"] += not wl.check(out)

    prefixes = wl.prefixes()
    times = {name: [] for name, _ in prefixes}
    for _name, action in prefixes:  # untimed: compiles each prefix plan
        action()
    while min(map(len, times.values())) < 2 or time.perf_counter() < end:
        for name, action in prefixes:
            t = time.perf_counter()
            action()
            times[name].append(time.perf_counter() - t)
    med = {name: statistics.median(v) for name, v in times.items()}
    self_s, prev = {}, 0.0
    for name, _ in prefixes:
        self_s[name] = med[name] - prev
        prev = med[name]

    eng = stage_totals(stages)
    layers = {
        "trace.overhead_frac": res["traced_s"][0] / res["run_s"][0] - 1.0,
        "spark.shuffle_write_mb": eng["shuffle_write_mb"],
        "spark.spill_mb": eng["spill_mb"],
        "spark.gc_s": eng["gc_s"],
        "spark.stages": eng["stages"],
        "spark.tasks": eng["tasks"],
        "spark.task_skew": skew,
    }
    layers.update(wl.layer_metrics(self_s, sql, out))
    layers.update(wl.kernel_metrics())
    res.update(layers=layers, prefix_s=times)
    return res


def warm_up(wl, levels) -> list:
    """Untimed runs before the first timed one, each checked against the
    oracle: one at full and one at half parallelism (or two at full when
    tracing). The first run of a fresh JVM pays for codegen and the
    Python worker pool and takes 2-5x a timed run; the second takes the
    steepest part of the JIT's curve out of the timed runs."""
    out = []
    for name in ("main", "half"):
        if levels:
            levels.set(name)
        t = time.perf_counter()
        if not wl.check(wl.run()):
            raise RuntimeError("warm-up output does not match the oracle")
        out.append(time.perf_counter() - t)
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--cores", type=int, required=True)
    ap.add_argument("--budget", type=float, required=True)
    ap.add_argument("--mode", choices=("measure", "trace"), required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--expected", required=True)
    args = ap.parse_args()

    from workloads import WORKLOADS

    with open(args.expected) as f:
        expected = json.load(f)
    t = time.perf_counter()
    spark = start_spark(args.cores, args.work, ui=args.mode == "trace")
    start_s = time.perf_counter() - t
    try:
        wl = WORKLOADS[args.workload](spark, args.seed, args.work, expected)
        detail = wl.prepare()
        levels = None
        if args.mode == "measure":
            levels = Levels(spark, sorted(os.sched_getaffinity(0)))
            detail["cpus"] = {k: len(v) for k, v in levels.cpus.items()}
        warm_s = warm_up(wl, levels)
        setup_s = time.perf_counter() - T0
        emit("READY", dict(detail, setup_s=setup_s, start_s=start_s,
                           warm_s=warm_s, input_rows=wl.input_rows))
        if args.mode == "measure":
            emit("RESULT", measure(wl, args.budget, levels))
        else:
            res = trace(wl, spark, args.budget)
            res["layers"].update({
                "session.start_s": start_s,
                "session.warmup_s": warm_s[0] - res["run_s"][0],
            })
            if "cover_s" in detail:
                res["layers"]["sources.polygons.cover_s"] = detail["cover_s"]
            emit("RESULT", {"main": res})
    finally:
        stop_spark(spark)
    return 0


if __name__ == "__main__":
    sys.exit(main())
