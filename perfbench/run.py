#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics as one JSON line.

Usage (from the repository root)::

    python3 perfbench/run.py --workload serve_reports --seed 1 --seconds 10 --trace 0

``--trace 0`` prints the end-to-end metrics of ``BENCHMARK.json``;
``--trace 1`` runs the same workload with spans recorded around calls into
the program and prints the per-layer metrics instead (layers a workload
does not call read 0). Spans are written to
``perfbench/out/trace-<workload>-<seed>.json``. Every scratch file lives
under ``perfbench/out`` and is removed at the end. See
``perfbench/README.md`` for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
from dataclasses import dataclass, field

from procstat import Mark, peak_rss_mb

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("serve_reports", "etl_load")
#: set-ups per run (one before the workload, the rest after it);
#: ``setup_s`` is their median
SETUP_REPEATS = 3


@dataclass
class Context:
    """What a workload's ``run`` receives."""

    seed: int
    seconds: float
    work: str
    tracer: object
    ledger: object
    spark: object = None
    prepared: object = None
    jvm_pid: int | None = None
    #: the benchmark process and, once launched, the driver JVM
    pids: list[int] = field(default_factory=lambda: [os.getpid()])

    def note(self, line: str) -> None:
        print(f"perfbench: {line}", file=sys.stderr, flush=True)


def _contain(work: str) -> None:
    """Keep Spark, the JVM and Python temp files inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:TieredStopAtLevel=1"
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.chdir(work)


def _jvm_process():
    from pyspark import SparkContext

    return getattr(SparkContext._gateway, "proc", None)


def set_up(prepare, master: str, pids: list[int], spark=None):
    """Build the session and the program's serving state. The first call
    launches the JVM; later calls stop the given SparkContext and build a
    new one in the same JVM. Returns (spark, prepared, set-up interval,
    get_spark interval)."""
    from flu_data_pipeline_spark.session import get_spark

    if spark is not None:
        spark.stop()
    mark = Mark.now(pids)
    spark = get_spark(master=master)
    got = mark.since(pids)
    prepared = prepare(spark)
    return spark, prepared, mark.since(pids), got


def tear_down(spark, proc) -> None:
    """Stop Spark and wait for the driver JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    parser.add_argument("--workload", required=True, choices=WORKLOADS)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    sys.path.insert(0, ROOT)
    try:
        importlib.import_module("flu_data_pipeline_spark.session")
    except ImportError as e:
        print(f"perfbench: the program is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2

    from gates import Ledger
    from spans import NullTracer, Tracer

    workload = importlib.import_module(args.workload)
    out_dir = os.path.join(HERE, "out")
    work = os.path.join(out_dir, f"{args.workload}-{args.seed}-{os.getpid()}")
    cwd = os.getcwd()
    _contain(work)
    ctx = Context(args.seed, args.seconds, work, Tracer() if args.trace else NullTracer(), Ledger())
    master = f"local[{len(os.sched_getaffinity(0))}]"
    spark = proc = None
    try:
        spark, ctx.prepared, total, got = set_up(workload.prepare, master, ctx.pids)
        setups = [(total, got)]
        proc = _jvm_process()
        ctx.spark = spark
        if proc is not None:
            ctx.jvm_pid = proc.pid
            ctx.pids.append(proc.pid)
        values = workload.run(ctx)
        for _ in range(SETUP_REPEATS - 1):
            spark, _, total, got = set_up(workload.prepare, master, ctx.pids, spark)
            setups.append((total, got))
        ctx.note("set-ups: " + ", ".join(f"{t.wall:.2f}s ({t.stolen:.0%} stolen)" for t, _ in setups))
        values["setup_s"] = statistics.median(t.unstolen_wall for t, _ in setups)
        values["run.peak_rss_mb"] = sum(peak_rss_mb(p) for p in ctx.pids)
        values["run.wall_setup_s"] = statistics.median(t.wall for t, _ in setups)
        if args.trace:
            values["session.get_spark_s"] = statistics.median(g.unstolen_wall for _, g in setups)
            values["session.jvm_launch_s"] = setups[0][1].unstolen_wall
            if args.workload == "serve_reports":
                values["api.create_app_s"] = statistics.median(
                    t.unstolen_wall - g.unstolen_wall for t, g in setups
                )
            ctx.tracer.dump(os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.json"))
    finally:
        if spark is not None:
            tear_down(spark, proc)
        os.chdir(cwd)
        shutil.rmtree(work, ignore_errors=True)

    print("perfbench: values " + json.dumps(values, sort_keys=True), file=sys.stderr)
    kind = "per_layer" if args.trace else "end_to_end"
    unknown = sorted(set(values) - {m["name"] for m in spec["per_layer"] + spec["end_to_end"]})
    if unknown:
        raise KeyError(f"metrics missing from BENCHMARK.json: {unknown}")
    metrics = {}
    for m in spec[kind]:
        if kind == "end_to_end" and m["name"] not in values:
            raise KeyError(f"end-to-end metric not measured: {m['name']}")
        metrics[m["name"]] = {"value": values.get(m["name"], 0.0), "unit": m["unit"]}
    ledger = ctx.ledger
    print(json.dumps({
        "correct": ledger.failed == 0,
        "attempted": ledger.attempted,
        "failed": ledger.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
