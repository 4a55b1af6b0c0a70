#!/usr/bin/env python3
"""Transcript-ER benchmark: one workload per run, on a pinned local Spark.

    python3 perfbench/run.py --workload small_batches --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. It generates the workload's inputs from
--seed, sets up, runs timed operations for --seconds, checks every output,
prints each metric on its own line (name, value, unit, sample count) and,
as the last line of stdout, one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics; --trace 1 reports the per-layer
metrics of perfbench/layers.json and writes the run's spans to
.perfbench-work/spans/. The exit code is 0 only when every check passed.
See perfbench/README.md for the workloads, metrics and pinned settings.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PACKAGE = "tabiya_livelihoods_classifier_spark"
# scratch root (spill, checkpoints, state, sinks, spans) inside the checkout
WORK_DIR = ".perfbench-work"

END_TO_END = ("setup_s", "job_cpu_s.p50", "turns_per_cpu_s", "pairwise_f1")


class Bench:
    """What a workload needs (session, seed, run length, scratch dir,
    probes) and what it reports (operation counts, metrics)."""

    def __init__(self, spark, args, work: Path) -> None:
        from spans import SparkCounter, Tracer

        self.spark = spark
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.work = work
        self.counter = SparkCounter(spark)
        self.tracer = Tracer(f"{args.workload}-{args.seed}-{os.getpid()}")
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.metrics: dict[str, tuple[float, str, int]] = {}
        # wall-clock figures, printed beside the end-to-end metrics but not
        # bounded (README: "Run cost and noise")
        self.wall: dict[str, tuple[float, str, int]] = {}
        self.layer: dict[str, float] = {}
        self.setup_extra_s = 0.0
        self.trace_overhead_s = 0.0

    def fail(self, message: str) -> None:
        self.errors.append(message)
        print(f"check failed: {message}", file=sys.stderr)

    def e2e(self, name: str, value: float, unit: str, n: int) -> None:
        self.metrics[name] = (value, unit, n)

    def record_ops(self, ops: list[dict]) -> None:
        """CPU cost of the timed operations (end to end), and their wall
        time with the host steal it follows (per layer)."""
        n, turns = len(ops), sum(o["turns"] for o in ops)
        cpus = [o["cpu"] for o in ops]
        walls = [o["wall"] for o in ops]
        self.e2e("job_cpu_s.p50", statistics.median(cpus), "s", n)
        self.e2e("turns_per_cpu_s", turns / sum(cpus), "turns/cpu_s", n)
        self.wall = {
            "job_s.p50": (statistics.median(walls), "s", n),
            "turns_per_s": (turns / sum(walls), "turns/s", n),
            "host.steal_pct": (statistics.median(o["steal"] for o in ops), "%", n),
        }
        self.layer.update({k: v for k, (v, _, _) in self.wall.items()})

    def record_layer_medians(self, ops: list[dict]) -> None:
        """Per-operation layer counters of the untraced operations."""
        for key in ops[0]:
            if key.startswith(("spark.", "storage.", "incremental.")):
                self.layer[key] = statistics.median(o[key] for o in ops)

    def layer_metrics(self, names: dict) -> dict[str, float]:
        """Every per-layer metric; a layer the workload never reached
        reads 0."""
        t, c = self.tracer, self.tracer.counts
        out = dict.fromkeys(names, 0.0)
        out.update({
            "pipeline.records_s": t.layer_seconds("pipeline.records"),
            "pipeline.records_rows": c["pipeline.records_rows"],
            "pipeline.signatures_s": t.layer_seconds("pipeline.signatures"),
            "pipeline.records_per_signature": (
                c["pipeline.records_rows"] / c["pipeline.signature_rows"]
                if c["pipeline.signature_rows"] else 0.0),
            "blocking.s": t.layer_seconds("blocking"),
            "blocking.memberships": c["blocking.memberships"],
            "blocking.pairs": c["blocking.pairs"],
            "scoring.s": t.layer_seconds("scoring"),
            "scoring.edges": c["scoring.edges"],
            "scoring.edge_yield": (
                c["scoring.edges"] / c["blocking.pairs"]
                if c["blocking.pairs"] else 0.0),
            "clustering.s": t.layer_seconds("clustering"),
            "clustering.components": c["clustering.components"],
            "linking.s": t.layer_seconds("linking"),
            "linking.links": c["linking.links"],
            "linking.rollup_s": t.layer_seconds("linking.rollup"),
            "linking.rollup_rows": c["linking.rollup_rows"],
            "trace.overhead_s": self.trace_overhead_s,
        })
        out.update(self.layer)
        unknown = set(out) - set(names)
        if unknown:
            raise KeyError(f"metrics missing from layers.json: {sorted(unknown)}")
        return out


def _stop(spark) -> None:
    """Stop Spark and wait for the driver JVM (and with it the Python
    workers it forked) to exit."""
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()  # the gateway JVM exits on EOF on its stdin
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def _pin_environment(args, work: Path) -> None:
    """Settings the numbers depend on, set before the JVM starts."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["SPARK_DRIVER_MEM"] = args.driver_memory
    # pandas-UDF workers are forked by the JVM and import the package from
    # the checkout, not from this interpreter's sys.path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spill")
    os.environ["SPARK_GRAFT_CHECKPOINT_DIR"] = str(work / "checkpoint")
    os.environ["TMPDIR"] = str(tmp)
    import tempfile

    tempfile.tempdir = None


def _parse(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=("small_batches", "incremental_fold"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--cores", default="nproc",
                   help="local[N] task threads; 'nproc' = CPUs this process may use")
    p.add_argument("--shuffle-partitions", type=int, default=4)
    p.add_argument("--driver-memory", default="4g")
    return p.parse_args(argv)


def main(argv: list[str]) -> int:
    args = _parse(argv)
    if not (ROOT / PACKAGE / "__init__.py").is_file():
        print(f"{PACKAGE} not found under {ROOT}: run from a full checkout",
              file=sys.stderr)
        return 2
    sys.path[:0] = [str(ROOT), str(HERE)]
    cores = len(os.sched_getaffinity(0)) if args.cores == "nproc" else int(args.cores)
    work_root = ROOT / WORK_DIR
    work = work_root / f"run-{os.getpid()}"
    _pin_environment(args, work)

    from spans import jvm_peak_rss_mb, log
    from workloads import WORKLOADS

    from tabiya_livelihoods_classifier_spark.session import get_spark

    layer_names = json.loads((HERE / "layers.json").read_text())
    t0 = time.perf_counter()
    spark = get_spark(
        app_name=f"perfbench-{args.workload}",
        master=f"local[{cores}]",
        shuffle_partitions=args.shuffle_partitions,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": str(work / "spill"),
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            # keep the JVM's scratch files inside the checkout
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
            # the status tracker must still hold an operation's jobs and
            # stages when they are counted
            "spark.ui.retainedJobs": "5000",
            "spark.ui.retainedStages": "20000",
        },
    )
    start_s = time.perf_counter() - t0
    log(f"session started in {start_s:.1f}s")
    b = Bench(spark, args, work)
    try:
        try:
            WORKLOADS[args.workload](b)
        except Exception:  # a broken run still reports, as failed
            traceback.print_exc()
            b.attempted = max(b.attempted, 1)
            b.failed += 1
            b.fail("workload raised")
        b.e2e("setup_s", start_s + b.setup_extra_s, "s", 1)
        if b.trace:
            b.layer["session.start_s"] = start_s
            b.layer["session.jvm_peak_rss_mb"] = jvm_peak_rss_mb(spark)
            report = b.layer_metrics(layer_names)
            b.tracer.write(work_root / "spans" / f"{b.tracer.run_id}.json")
    finally:
        log("stopping Spark")
        _stop(spark)
        shutil.rmtree(work, ignore_errors=True)
        log("stopped")

    if b.trace:
        metrics = {k: {"value": v, "unit": layer_names[k]["unit"]}
                   for k, v in report.items()}
        for k, v in report.items():
            print(f"{k:42s} {v:14.6g} {layer_names[k]['unit']}")
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u, _) in b.metrics.items()}
        for k, (v, u, n) in b.metrics.items():
            print(f"{k:16s} {v:14.6g} {u:12s} n={n}")
        for k, (v, u, n) in b.wall.items():
            print(f"{k:16s} {v:14.6g} {u:12s} n={n}  (wall clock, not bounded)")
        missing = set(END_TO_END) - set(metrics)
        if missing:
            b.failed = max(b.failed, 1)
            b.fail(f"metrics not measured: {sorted(missing)}")
    correct = b.failed == 0 and not b.errors
    print(json.dumps({"correct": correct, "attempted": b.attempted,
                      "failed": b.failed, "metrics": metrics}), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
