"""Benchmark of the validation engine: one workload per invocation.

    python3 perfbench/run.py --workload incremental_quarantine --seed 1 \\
        --seconds 8 --trace 0

Runs from the root of a checkout of the repository. It builds missing
seeded inputs (cached under ``.perfbench/``, each part in a child
process), starts Spark at ``local[nproc]``, sets up (SparkSession, input
load, one warm-up unit) and then runs the workload as a closed loop (one
client; each unit is issued after the previous one returns) for
``--seconds``, checking every output. The last line of standard output
is one JSON object: ``{"correct", "attempted", "failed", "metrics"}``.
``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs the loop
again in a traced SparkSession and reports the per-layer metrics instead
(see README.md). ``--workload all`` runs every workload in this one
process and prints one such line per workload, then a combined one.

Exit codes: 0 when every output was correct, 1 when one was wrong, 2 when
the checkout does not hold the engine.
"""

from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402

import data  # noqa: E402
import env  # noqa: E402
import workloads  # noqa: E402
from workloads import no_span  # noqa: E402


#: warm-up units in set-up: the first unit of a fresh JVM compiles the
#: generated code and starts the Python workers (3-4x a warm unit). The
#: second unit is still ~10 % slower than later ones, but a second
#: warm-up unit would make every run ~15 % longer.
WARMUP_UNITS = 1


class MemorySampler(threading.Thread):
    """Peak resident memory of this process and all its descendants (the
    JVM and Spark's Python workers), sampled from /proc. Pages a forked
    worker shares with its parent count in both (proportional set sizes
    would count them once, but reading them stalls the JVM)."""

    def __init__(self, interval: float = 0.5):
        super().__init__(daemon=True)
        self.interval = interval
        self.peak_kb = 0
        self._done = threading.Event()

    @staticmethod
    def _tree_kb(root: int) -> int:
        parent: dict[int, int] = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                try:
                    with open(f"/proc/{d}/stat") as f:
                        parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
                except (OSError, IndexError, ValueError):
                    pass  # the process ended while we looked
        tree, frontier = {root}, [root]
        while frontier:
            p = frontier.pop()
            kids = [c for c, pp in parent.items() if pp == p and c not in tree]
            tree.update(kids)
            frontier.extend(kids)
        total = 0
        for pid in tree:
            try:
                with open(f"/proc/{pid}/status") as f:
                    total += next((int(line.split()[1]) for line in f
                                   if line.startswith("VmRSS:")), 0)
            except OSError:
                pass
        return total

    def run(self) -> None:
        me = os.getpid()
        while not self._done.is_set():
            self.peak_kb = max(self.peak_kb, self._tree_kb(me))
            self._done.wait(self.interval)

    def stop(self) -> float:
        """Stop sampling; peak in MB."""
        self._done.set()
        self.join()
        return self.peak_kb / 1024.0


class Tally:
    """Outputs checked so far, over warm-up and measured units alike."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0

    def add(self, unit) -> None:
        self.attempted += unit.attempted
        self.failed += unit.failed
        for e in unit.errors:
            print(f"perfbench: wrong output: {e}", file=sys.stderr)


def closed_loop(wl, spark, seconds: float, tally: Tally, span=no_span,
                root_span=no_span) -> list:
    """Units for ``seconds``: at least one, each issued after the previous
    one returned. ``root_span`` wraps each unit's timed section; in a
    traced run that span is recorded on the unit as ``unit.span``."""
    units = []
    deadline = time.time() + seconds
    while True:
        u = wl.unit(spark, span, root_span)
        tally.add(u)
        units.append(u)
        print(f"perfbench: {wl.name} unit {len(units)}: {u.latency:.3f} s", file=sys.stderr)
        if time.time() >= deadline:
            return units


def end_to_end(units, setup_s: float) -> dict:
    return {
        "latency_s": {"value": statistics.median(u.latency for u in units), "unit": "s"},
        "setup_s": {"value": setup_s, "unit": "s"},
    }


def build_inputs(cache: data.DataCache, parts) -> None:
    """Build missing cached parts, each in a child process waited for."""
    for part in parts:
        if not cache.has(part):
            subprocess.run([sys.executable, os.path.join(env.HERE, "data.py"),
                            "--seed", str(cache.seed), "--part", part],
                           check=True, stdout=sys.stderr)


def run_workload(name: str, seed: int, seconds: float, trace: bool, run_dir: str,
                 started: float | None = None) -> dict:
    """One workload; ``started`` is when this process started, for the
    first workload it runs (whose set-up includes the JVM launch)."""
    wl = workloads.WORKLOADS[name]()
    cache = data.DataCache(env.ROOT, os.path.join(env.STATE, "cache"), seed)
    t_build = time.time()
    build_inputs(cache, wl.parts)
    build_s = time.time() - t_build
    work = os.path.join(run_dir, name)
    os.makedirs(work, exist_ok=True)
    tally = Tally()
    mem = MemorySampler() if trace else None
    if mem:
        mem.start()

    # set-up: process start with the JVM launch (or, after the first
    # workload of `--workload all`, a fresh SparkSession), input load and
    # the warm-up units; building a missing cached input is not set-up
    t0 = time.time() if started is None else started + build_s
    spark = env.session(run_dir)
    try:
        wl.prepare(cache)
        wl.load(spark, work)
        for i in range(WARMUP_UNITS):
            u = wl.unit(spark, no_span)
            tally.add(u)
            print(f"perfbench: {wl.name} warm-up unit {i + 1}: {u.latency:.3f} s",
                  file=sys.stderr)
        setup_s = time.time() - t0
        units = closed_loop(wl, spark, seconds, tally)
    finally:
        spark.stop()
    if not trace:
        metrics = end_to_end(units, setup_s)
    else:
        import layers

        peak_rss_mb = mem.stop()
        log_dir = os.path.join(run_dir, "eventlog", name)
        metrics = layers.traced(wl, env.session(run_dir, event_log=log_dir), seconds,
                                tally, units, closed_loop, work, log_dir)
        metrics["process.peak_rss_mb"] = {"value": peak_rss_mb, "unit": "MB"}
    return {"correct": tally.failed == 0, "attempted": tally.attempted,
            "failed": tally.failed, "metrics": metrics}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[*workloads.WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not env.engine_present():
        print(f"perfbench: no engine ({env.PKG}/, __spark_entry__.py) under {env.ROOT}",
              file=sys.stderr)
        return 2
    run_dir = os.path.join(env.STATE, "run", str(os.getpid()))
    env.prepare_process(run_dir)
    names = list(workloads.WORKLOADS) if args.workload == "all" else [args.workload]
    results = {}
    try:
        for name in names:
            results[name] = run_workload(name, args.seed, args.seconds, bool(args.trace),
                                         run_dir, None if results else T_START)
            if len(names) > 1:
                print(json.dumps({"workload": name, **results[name]}), flush=True)
    finally:
        env.stop_jvm()
        shutil.rmtree(run_dir, ignore_errors=True)
    if len(names) == 1:
        out = results[names[0]]
    else:
        out = {"correct": all(r["correct"] for r in results.values()),
               "attempted": sum(r["attempted"] for r in results.values()),
               "failed": sum(r["failed"] for r in results.values()),
               "metrics": {f"{n}.{k}": v for n, r in results.items()
                           for k, v in r["metrics"].items()}}
    print(json.dumps(out), flush=True)
    return 0 if out["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
