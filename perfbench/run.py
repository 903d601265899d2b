"""Benchmark entry point.

    python3 perfbench/run.py --workload pages_join --seed 1 --seconds 6 \
        --trace 0

Runs one workload as a closed loop of batch jobs (one client: a run starts
only after the previous one has finished) at ``local[nproc]`` and prints
every metric with its unit; the last line of stdout is the result JSON
(``correct``, ``attempted``, ``failed``, ``metrics``). ``--trace 0``
reports the end-to-end metrics, ``--trace 1`` the per-layer ones.

The oracle (``oracles.py``) runs first, in a process of its own. The Spark
driver then runs in a child process (``child.py``) with a fresh JVM; this
process starts it, samples the memory of everything it starts, and stops
all of it before exiting. Exits 1 without a result when the run
cannot complete (for example when the package is not importable).
"""

from __future__ import annotations

import argparse
import json
import os
import queue
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DEADLINE_S = 170.0

sys.path.insert(0, HERE)
from proctree import ProcessTree, rss_mb  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


class Child:
    """The driver process, reporting ``READY`` and ``RESULT`` lines."""

    def __init__(self, cores, args, work, env, expected):
        self.log_path = os.path.join(work, "child.log")
        self.log = open(self.log_path, "w")
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "child.py"),
             "--workload", args.workload, "--seed", str(args.seed),
             "--cores", str(cores), "--budget", str(args.seconds),
             "--mode", "trace" if args.trace else "measure",
             "--work", work, "--expected", expected],
            stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
            stderr=self.log, env=env, cwd=ROOT, text=True,
            start_new_session=True,
        )
        self.tree = ProcessTree(self.proc.pid)
        self.lines = queue.Queue()
        threading.Thread(target=self._pump, daemon=True).start()

    def _pump(self):
        for line in self.proc.stdout:
            self.lines.put(line)
        self.lines.put(None)

    def expect(self, tag: str, deadline: float) -> dict:
        while True:
            try:
                line = self.lines.get(timeout=max(0.1, deadline
                                                  - time.monotonic()))
            except queue.Empty:
                raise RuntimeError("timed out waiting for %s" % tag)
            if line is None:
                raise RuntimeError("child exited before %s\n%s"
                                   % (tag, self.tail()))
            if line.startswith(tag + " "):
                return json.loads(line[len(tag) + 1:])

    def tail(self) -> str:
        self.log.flush()
        with open(self.log_path) as f:
            return "".join(f.readlines()[-15:])

    def stop(self) -> None:
        """Terminate everything the child started (its JVM, and the Python
        worker daemon, which runs in a process group of its own) and wait
        until it is gone."""
        self.tree.refresh()
        for sig in (signal.SIGTERM, signal.SIGKILL):
            alive = self.tree.alive()
            for pid in alive:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            end = time.monotonic() + 10.0
            while alive and time.monotonic() < end:
                try:
                    self.proc.wait(timeout=0.1)
                except subprocess.TimeoutExpired:
                    pass
                alive = self.tree.alive()
            if not alive:
                break
        self.proc.wait()
        self.log.close()


class RssSampler(threading.Thread):
    """Peak summed RSS of the child's process tree (driver, JVM, Python
    workers), sampled every 0.2 s."""

    def __init__(self, tree: ProcessTree):
        super().__init__(daemon=True)
        self.tree = tree
        self.peak = 0.0
        self.done = threading.Event()

    def run(self):
        while not self.done.wait(0.2):
            self.peak = max(self.peak, rss_mb(self.tree))


def host_cpu_ticks() -> list:
    """The aggregate ``cpu`` line of /proc/stat (user, nice, system, idle,
    iowait, irq, softirq, steal, ...)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def run_oracle(args, cores, work, env, deadline) -> str:
    """Compute the workload's expected output; returns the file holding
    it."""
    out = os.path.join(work, "expected.json")
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "oracles.py"),
         "--workload", args.workload, "--seed", str(args.seed),
         "--cores", str(cores), "--work", work, "--out", out],
        stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, env=env, cwd=ROOT, text=True,
        timeout=max(1.0, deadline - time.monotonic()))
    if proc.returncode != 0:
        raise RuntimeError("oracle failed\n%s" % proc.stdout[-2000:])
    return out


def metric(value, unit):
    return {"value": value, "unit": unit}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    deadline = time.monotonic() + DEADLINE_S
    # a SIGTERM from whoever runs the benchmark still stops the children
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    cpus = sorted(os.sched_getaffinity(0))
    cores = len(cpus)
    work = os.path.join(HERE, ".work", "run-%d" % os.getpid())
    for sub in ("tmp", "spark-local", "duck", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    env = dict(os.environ)
    env.update({
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_WAREHOUSE": os.path.join(work, "warehouse"),
        "TMPDIR": os.path.join(work, "tmp"),
        # the package's own knob for the JVM heap ceiling (its default
        # grows with the thread count); the heap is neither pinned nor
        # touched up front, so its growth up to the ceiling shows in
        # peak_rss_mb, and pressure beyond it shows as GC time
        "SPARK_DRIVER_MEMORY": "1g",
    })

    child = sampler = None
    try:
        t0 = time.monotonic()
        expected = run_oracle(args, cores, work, env, deadline)
        phases = {"oracle_s": time.monotonic() - t0}
        child = Child(cores, args, work, env, expected)
        sampler = RssSampler(child.tree)
        sampler.start()
        ready = child.expect("READY", deadline)
        phases["ready_s"] = time.monotonic() - t0
        cpu0 = host_cpu_ticks()
        results = child.expect("RESULT", deadline)
        cpu1 = host_cpu_ticks()
        phases["result_s"] = time.monotonic() - t0
        child.proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        phases["exit_s"] = time.monotonic() - t0
        if child.proc.returncode != 0:
            raise RuntimeError("child exited with %d\n%s"
                               % (child.proc.returncode, child.tail()))
    except Exception:
        sys.stderr.write("benchmark failed:\n%s" % traceback.format_exc())
        return 1
    finally:
        if sampler is not None:
            sampler.done.set()
            sampler.join()
        if child is not None:
            child.stop()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run is using it
            pass

    main_r = results["main"]
    attempted = sum(r["attempted"] for r in results.values())
    failed = sum(r["failed"] for r in results.values())
    med = statistics.median(main_r["run_s"])
    if args.trace:
        # a layer the workload does not run reports 0
        layers = main_r["layers"]
        metrics = {m["name"]: metric(layers.get(m["name"], 0.0), m["unit"])
                   for m in spec["per_layer"]}
    else:
        ratio = ready["cpus"]["main"] / ready["cpus"]["half"]
        values = {
            "rows_per_s": ready["input_rows"] / med,
            "task_s": statistics.median(main_r["cpu_s"]),
            "setup_s": ready["setup_s"],
            "peak_rss_mb": sampler.peak,
            "ok_frac": (attempted - failed) / attempted,
            "scaling_eff":
                statistics.median(results["half"]["run_s"]) / med / ratio,
        }
        metrics = {m["name"]: metric(values[m["name"]], m["unit"])
                   for m in spec["end_to_end"]}
    details = {
        "workload": args.workload, "seed": args.seed, "cores": cores,
        "loop": "closed, 1 client", "input_rows": ready["input_rows"],
        "failed_frac": failed / attempted, "setup": ready,
        "phases": phases,
        # share of the host's CPU time stolen by the hypervisor while
        # measuring: the main source of wall-time noise on shared hosts
        "steal_frac": (cpu1[7] - cpu0[7]) / max(1, sum(cpu1) - sum(cpu0)),
        "runs": {role: dict({k: r[k] for k in ("run_s", "cpu_s",
                                               "traced_s", "prefix_s")
                             if k in r}, samples=len(r["run_s"]))
                 for role, r in results.items()},
    }
    print("details " + json.dumps(details))
    for name, m in metrics.items():
        print("%-44s %14.6g %s" % (name, m["value"], m["unit"]))
    print("%-44s %14.6g %s" % ("failed_frac", failed / attempted, "1"))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
