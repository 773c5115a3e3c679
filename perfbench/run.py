#!/usr/bin/env python3
"""Benchmark of the engine's two user-facing flows.

    python3 perfbench/run.py --workload coloc|loop --seed N --seconds S --trace 0|1

Run from the repository root. Inputs are generated from the seed into a
scratch directory under ``.perfbench_work/`` (removed on exit), then one
Spark session runs a first pass and warm passes until S seconds of warm
passes have been measured. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; ``--trace 0`` gives the
end-to-end metrics, ``--trace 1`` the per-layer ones. See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from probe import PeakMemory, SparkCounters, tree_cpu_s  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

MASTER = "local[4]"
SHUFFLE_PARTITIONS = 4
DRIVER_MEMORY = "1g"

# The metric names and units are the ones BENCHMARK.json declares.
with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)


def start_session(work: str):
    """Package import plus get_session: what setup_s measures."""
    for d in ("local", "tmp", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    sys.path.insert(0, ROOT)
    t = time.perf_counter()
    import genetics_spark_coloc_spark.pipelines  # noqa: F401
    import genetics_spark_coloc_spark.steps  # noqa: F401
    from genetics_spark_coloc_spark.session import get_session

    spark = get_session(
        app_name="perfbench",
        master=MASTER,
        shuffle_partitions=SHUFFLE_PARTITIONS,
        extra_conf={
            "spark.local.dir": os.path.join(work, "local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    return spark, time.perf_counter() - t


def stop_session(spark) -> None:
    """Stop Spark and wait until the JVM it launched has exited."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


class Tally:
    """Operations attempted and failed over the run's whole passes."""

    def __init__(self, ops):
        self.ops, self.attempted, self.failed, self.correct = ops, 0, 0, True

    def add(self, failures: dict, problems: dict) -> None:
        for op in self.ops:
            self.attempted += 1
            if op in failures:
                self.failed += 1
                print(f"[perfbench] {op} failed: {failures[op][:300]}", file=sys.stderr)
            elif problems.get(op):
                self.failed += 1
                self.correct = False
                print(f"[perfbench] {op} wrong output: {problems[op][:5]}", file=sys.stderr)


def run(args) -> dict:
    wl = WORKLOADS[args.workload]()
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    cwd = os.getcwd()
    spark = None
    try:
        os.chdir(work)
        wl.prepare(args.seed, work)
        try:
            spark, setup_s = start_session(work)
        except ImportError as e:
            print(f"perfbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
            sys.exit(2)
        spark.sparkContext.setLogLevel("ERROR")
        counters = SparkCounters(spark)
        tally = Tally(wl.ops)
        me = os.getpid()

        def checked(i):
            try:
                return wl.check_pass(i)
            except Exception as e:  # a check that cannot read the output fails every op
                return {op: [f"check raised {type(e).__name__}: {e}"] for op in wl.ops}

        def untraced(i):
            rec = {}
            with counters.span(rec):
                t = time.perf_counter()
                failures = wl.run_pass(spark, i)
                rec["wall"] = time.perf_counter() - t
            tally.add(failures, checked(i))
            return rec

        with PeakMemory(me) as memory:
            first = untraced(0)
            warm, i, start = [], 1, time.perf_counter()
            while not warm or time.perf_counter() - start < args.seconds:
                if args.trace:
                    cpu = tree_cpu_s(me)
                    layers, failures = wl.trace_pass(spark, i, counters)
                    layers["cpu_s"] = tree_cpu_s(me) - cpu
                    tally.add(failures, checked(i))
                    warm.append(layers)
                else:
                    warm.append(untraced(i))
                i += 1

        if args.trace:
            # A layer the workload never calls reads 0.
            values = {
                m["name"]: statistics.median(w.get(m["name"], 0.0) for w in warm) for m in SPEC["per_layer"]
            }
            values["session.start_s"] = setup_s
        else:
            values = {
                "setup_s": setup_s,
                "first_pass_s": first["wall"],
                "pass_s": statistics.median(w["wall"] for w in warm),
                "peak_rss_mb": memory.peak_mb,
                "spark_jobs": statistics.median(w["jobs"] for w in warm),
                "shuffle_mb": statistics.median(w["shuffle_mb"] for w in warm),
            }
        declared = SPEC["per_layer" if args.trace else "end_to_end"]
        return {
            "correct": tally.correct,
            "attempted": tally.attempted,
            "failed": tally.failed,
            "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in declared},
        }
    finally:
        if spark is not None:
            stop_session(spark)
        os.chdir(cwd)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only when no other run uses it
        except OSError:
            pass


def main(argv=None) -> None:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    result = run(ap.parse_args(argv))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
