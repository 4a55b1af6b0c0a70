"""Span recorder and per-layer probes for the transcript-ER benchmark.

Everything here wraps the engine's public functions from outside; nothing in
the package is edited. A traced operation swaps each layer function in the
module namespace that calls it (``er_pipeline`` looks its stages up as
globals of ``plans.pipeline``, the incremental fold as globals of
``streaming.incremental_er``, ``er_enrich`` as globals of ``plans.linking``)
for a wrapper that persists and counts the layer's output inside a span, so
each layer is forced in pipeline order and later layers reuse its result.
Spans stay in memory and are written once, at the end of the run.
"""

from __future__ import annotations

import json
import os
import sys
import time
from collections import defaultdict
from contextlib import contextmanager
from pathlib import Path

from tabiya_livelihoods_classifier_spark.plans import linking, pipeline
from tabiya_livelihoods_classifier_spark.streaming import incremental_er

_T0 = time.perf_counter()


def log(message: str) -> None:
    """Progress on stderr, in seconds since the benchmark's modules loaded."""
    print(f"[perfbench +{time.perf_counter() - _T0:6.1f}s] {message}",
          file=sys.stderr, flush=True)


# (module, function) -> (span name, row counter fed by the forced output)
_PROBES = {
    (pipeline, "conversation_records"): ("pipeline.records", "pipeline.records_rows"),
    (pipeline, "signature_records"): ("pipeline.signatures", "pipeline.signature_rows"),
    (pipeline, "signature_block_membership"): ("blocking", "blocking.memberships"),
    (pipeline, "candidate_pairs"): ("blocking", "blocking.pairs"),
    (pipeline, "score_pairs"): ("scoring", None),
    (pipeline, "match_edges"): ("scoring", "scoring.edges"),
    (pipeline, "connected_components"): ("clustering", "clustering.components"),
    (incremental_er, "conversation_records"): ("pipeline.records", "pipeline.records_rows"),
    (incremental_er, "signature_records"): ("pipeline.signatures", "pipeline.signature_rows"),
    (incremental_er, "signature_block_membership_raw"): ("blocking", "blocking.memberships"),
    (incremental_er, "candidate_pairs"): ("blocking", "blocking.pairs"),
    (incremental_er, "score_pairs"): ("scoring", None),
    (incremental_er, "match_edges"): ("scoring", "scoring.edges"),
    (incremental_er, "connected_components"): ("clustering", "clustering.components"),
    (linking, "link_entities"): ("linking", "linking.links"),
    (linking, "kernel_rollup"): ("linking.rollup", "linking.rollup_rows"),
}


class Tracer:
    """In-memory spans (name, start, end, parent, run id) plus counters
    recorded at the same layer boundaries."""

    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.spans: list[dict] = []
        self.counts: dict[str, float] = defaultdict(float)
        self._stack: list[int] = []
        self._persisted: list = []

    @contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        self.spans.append({
            "id": sid, "name": name, "run_id": self.run_id,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(), "end": None,
        })
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[sid]["end"] = time.perf_counter()

    def layer_seconds(self, name: str) -> float:
        """Wall time inside spans called `name`, not counting a span nested
        in another span of the same name (blocking calls blocking)."""
        total = 0.0
        for s in self.spans:
            if s["name"] != name or s["end"] is None:
                continue
            p = s["parent"]
            while p is not None and self.spans[p]["name"] != name:
                p = self.spans[p]["parent"]
            if p is None:
                total += s["end"] - s["start"]
        return total

    def _probe(self, fn, name: str, counter: str | None):
        def traced(*args, **kwargs):
            with self.span(name):
                out = fn(*args, **kwargs).persist()
                self._persisted.append(out)
                if name == "clustering":
                    n = out.select("component").distinct().count()
                else:
                    n = out.count()
            if counter:
                self.counts[counter] += n
            return out

        return traced

    @contextmanager
    def probes(self):
        """Force and time every layer while the block runs; restore the
        engine's own functions and drop the persisted outputs after."""
        saved = {}
        for (mod, fn_name), (name, counter) in _PROBES.items():
            saved[mod, fn_name] = getattr(mod, fn_name)
            setattr(mod, fn_name, self._probe(saved[mod, fn_name], name, counter))
        try:
            yield
        finally:
            for (mod, fn_name), fn in saved.items():
                setattr(mod, fn_name, fn)
            for df in self._persisted:
                df.unpersist()
            self._persisted.clear()

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps(self.spans, indent=0))


class SparkCounter:
    """Spark jobs, stages and tasks of one operation, read from the status
    tracker through a job group named after the operation."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()

    @contextmanager
    def group(self, name: str):
        self.sc.setJobGroup(name, name)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)

    def counts(self, name: str) -> dict[str, int]:
        jobs = self.tracker.getJobIdsForGroup(name)
        stages = tasks = 0
        for j in jobs:
            info = self.tracker.getJobInfo(j)
            for s in info.stageIds if info else ():
                st = self.tracker.getStageInfo(s)
                # a skipped stage (shuffle output reused) runs no task
                if st and st.numCompletedTasks:
                    stages += 1
                    tasks += st.numCompletedTasks
        return {"spark.jobs": len(jobs), "spark.stages": stages, "spark.tasks": tasks}


def dir_usage(root: Path) -> tuple[int, int]:
    """(bytes, files) under root."""
    n_bytes = n_files = 0
    for dirpath, _, files in os.walk(root):
        for f in files:
            n_bytes += os.path.getsize(os.path.join(dirpath, f))
            n_files += 1
    return n_bytes, n_files


class HostSteal:
    """Share of this machine's CPU time that its hypervisor gave to other
    guests since the last reading (the `steal` column of /proc/stat). It
    is logged beside each operation: on a shared VM it is the main reason
    the same operation's wall time moves from run to run."""

    def __init__(self) -> None:
        self._last = self._read()

    @staticmethod
    def _read() -> tuple[int, int]:
        with open("/proc/stat") as f:
            ticks = [int(x) for x in f.readline().split()[1:]]
        return sum(ticks), ticks[7]

    def since_last(self) -> float:
        total, steal = self._read()
        d_total, d_steal = total - self._last[0], steal - self._last[1]
        self._last = (total, steal)
        return 100 * d_steal / d_total if d_total else 0.0


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process, its live
    descendants (the Spark JVM, the pyspark daemon and its workers) and the
    children they have reaped. Time the hypervisor gave to other guests is
    not in it."""
    children: dict[int, list[int]] = defaultdict(list)
    ticks: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # the process ended while we listed /proc
            continue
        pid = int(entry)
        children[int(fields[1])].append(pid)
        # utime, stime, cutime, cstime
        ticks[pid] = sum(int(x) for x in fields[11:15])
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo.extend(children[pid])
    return total / os.sysconf("SC_CLK_TCK")


def jvm_peak_rss_mb(spark) -> float:
    """Peak resident set of the driver JVM (VmHWM), in MiB."""
    pid = spark.sparkContext._gateway.proc.pid
    for line in Path(f"/proc/{pid}/status").read_text().splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for JVM pid {pid}")
