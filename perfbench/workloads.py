"""The benchmark's workloads. Each one sets up, runs timed operations in a
closed loop (one client, the next operation after the previous one ends)
for the run's duration, checks every output, and records its metrics on the
shared `Bench` object (defined in run.py)."""

from __future__ import annotations

import shutil
import statistics
from time import perf_counter

import pandas as pd

from tabiya_livelihoods_classifier_spark.data.taxonomy import generate_taxonomy
from tabiya_livelihoods_classifier_spark.data.transcripts import (
    TRANSCRIPT_SCHEMA,
    generate_transcript_shard,
    generate_transcripts,
)
from tabiya_livelihoods_classifier_spark.plans.evaluate import (
    labeled_pairs_sampled,
    pairwise_f1,
)
from tabiya_livelihoods_classifier_spark.plans.linking import er_enrich
from tabiya_livelihoods_classifier_spark.plans.oracle import oracle_pipeline
from tabiya_livelihoods_classifier_spark.plans.pipeline import er_pipeline
from tabiya_livelihoods_classifier_spark.streaming.incremental_er import (
    ERStateStore,
    StopSetDriftError,
    commit_er_state,
    incremental_er_update,
)

from spans import HostSteal, dir_usage, log, tree_cpu_s

TAXONOMY_ENTITIES = 1700
MIN_F1 = 0.99
# a read takes well under a second; a traced run reports the median of this
# many (state_read_s), an untimed run reads once for its checks
READS = 5
# incremental_fold corpus: one tenth of the `bench` corpus (5000
# conversations over 1700 entities). Entities with id % DELTA_STRIDE < 8
# are held out and arrive as 8 entity-sliced deltas of ~250 conversations;
# the other ~3000 conversations are the committed base.
FOLD_SHARDS = 10
DELTA_STRIDE = 20
N_DELTAS = 8


def _median(rows: list[dict], key: str) -> float:
    return statistics.median(r[key] for r in rows)


def _timed_reads(b, read) -> tuple[list, float]:
    """Rows of the last read, and the median read time (READS reads in a
    traced run, one otherwise)."""
    times = []
    for _ in range(READS if b.trace else 1):
        t = perf_counter()
        rows = [tuple(r) for r in read().collect()]
        times.append(perf_counter() - t)
    return rows, statistics.median(times)


def _check_clusters(b, name: str, clusters: list, gold: pd.DataFrame) -> dict:
    """One cluster row per conversation and pairwise F1 >= MIN_F1 against
    sampled gold pairs; a failed check fails the operation."""
    mapping = dict(clusters)
    one_per_conv = len(clusters) == len(mapping) and set(mapping) == set(gold.conv_id)
    f1 = pairwise_f1(mapping, labeled_pairs_sampled(gold, seed=b.seed)).f1
    if not one_per_conv:
        b.fail(f"{name}: {len(clusters)} cluster rows for {gold.conv_id.nunique()} conversations")
    if f1 < MIN_F1:
        b.fail(f"{name}: pairwise F1 {f1:.5f} < {MIN_F1}")
    return {"pairwise_f1": f1, "ok": one_per_conv and f1 >= MIN_F1}


# -- small_batches -----------------------------------------------------------

def _er_job(spark, turns: pd.DataFrame, taxo: dict, out) -> None:
    """One client job: ER + enrich over its turns, three sinks on the lazy
    outputs (each sink plans its own tail, as a user's writes would)."""
    stages = er_pipeline(spark, spark.createDataFrame(turns, schema=TRANSCRIPT_SCHEMA))
    enriched = er_enrich(stages, taxo)
    stages["clusters"].write.parquet(str(out / "clusters"))
    enriched["links"].write.parquet(str(out / "links"))
    enriched["rollup"].write.parquet(str(out / "rollup"))


def small_batches(b) -> None:
    spark = b.spark
    taxo_pd = generate_taxonomy(TAXONOMY_ENTITIES, b.seed)
    t0 = perf_counter()
    taxo = {k: spark.createDataFrame(v) for k, v in taxo_pd.items()}
    b.setup_extra_s = perf_counter() - t0

    jobs: list[dict] = []
    steal = HostSteal()

    def run_job(i: int) -> dict:
        turns, gold = generate_transcripts("s", b.seed * 1000 + i)
        out = b.work / f"job-{i}"
        name = f"job-{i}"
        b.attempted += 1
        steal.since_last()
        cpu = tree_cpu_s()
        with b.counter.group(name):
            t = perf_counter()
            _er_job(spark, turns, taxo, out)
            wall = perf_counter() - t
        cpu = tree_cpu_s() - cpu
        row = {"wall": wall, "cpu": cpu, "steal": steal.since_last(),
               "turns": len(turns), **b.counter.counts(name)}
        log(f"{name}: {wall:.2f}s, {cpu:.1f} CPU s, host steal {row['steal']:.1f}%")
        row["storage.bytes_written"], row["storage.files_written"] = dir_usage(out)
        clusters, row["read"] = _timed_reads(b, lambda: spark.read.parquet(str(out / "clusters")))
        row.update(_check_clusters(b, name, clusters, gold))
        if not row["ok"]:
            b.failed += 1
        shutil.rmtree(out)
        return row

    start = perf_counter()
    while not jobs or perf_counter() - start < b.seconds:
        jobs.append(run_job(len(jobs)))

    b.record_ops(jobs)
    b.layer["state_read_s"] = _median(jobs, "read")
    b.e2e("pairwise_f1", min(j["pairwise_f1"] for j in jobs), "ratio", len(jobs))
    if b.trace:
        # the first job is cold: the reference is one more untraced job
        reference = run_job(len(jobs))
        with b.tracer.span("job"), b.tracer.probes():
            traced = run_job(len(jobs) + 1)
        b.trace_overhead_s = traced["wall"] - reference["wall"]
        b.record_layer_medians(jobs)


# -- incremental_fold ----------------------------------------------------------

def incremental_fold(b) -> None:
    spark = b.spark
    turns, gold = generate_transcript_shard("bench", 0, FOLD_SHARDS, b.seed)
    slice_of = gold.set_index("conv_id").entity_id % DELTA_STRIDE
    conv_slice = turns.conv_id.map(slice_of)
    base = turns[conv_slice >= N_DELTAS]
    deltas = [turns[conv_slice == k] for k in range(N_DELTAS)]

    def to_df(pdf: pd.DataFrame):
        return spark.createDataFrame(pdf, schema=TRANSCRIPT_SCHEMA)

    state_dir = b.work / "state"
    store = ERStateStore(spark, state_dir)
    t0 = perf_counter()
    commit_er_state(spark, store, to_df(base))
    b.setup_extra_s = perf_counter() - t0
    log("base state committed")

    folds: list[dict] = []
    folded = [base]
    steal = HostSteal()

    def run_fold(k: int) -> dict | None:
        name = f"fold-{k}"
        b.attempted += 1
        timings: dict = {}
        before = dir_usage(state_dir)
        steal.since_last()
        cpu = tree_cpu_s()
        try:
            with b.counter.group(name):
                t = perf_counter()
                report = incremental_er_update(spark, store, to_df(deltas[k]), timings=timings)
                wall = perf_counter() - t
            cpu = tree_cpu_s() - cpu
        except StopSetDriftError as exc:
            b.failed += 1
            b.fail(f"{name}: {exc}")
            return None
        stolen = steal.since_last()
        log(f"{name}: {wall:.2f}s, {cpu:.1f} CPU s, host steal {stolen:.1f}%")
        folded.append(deltas[k])
        after = dir_usage(state_dir)
        return {
            "wall": wall, "cpu": cpu, "steal": stolen, "turns": len(deltas[k]), **b.counter.counts(name),
            "storage.bytes_written": after[0] - before[0],
            "storage.files_written": after[1] - before[1],
            "incremental.rescore_sigs": report["n_rescore_sigs"],
            "incremental.affected_components": report["n_affected_components"],
            **{f"incremental.{phase}_s": s for phase, s in timings.items()},
        }

    # one delta stays back for the traced fold
    start = perf_counter()
    k = 0
    while k < N_DELTAS - 1 and (k == 0 or perf_counter() - start < b.seconds):
        row = run_fold(k)
        if row:
            folds.append(row)
        k += 1
    if b.trace:
        with b.tracer.span("fold"), b.tracer.probes():
            traced = run_fold(k)
        if traced and folds:
            b.trace_overhead_s = traced["wall"] - folds[-1]["wall"]
            b.record_layer_medians(folds)
        b.layer["storage.generations"] = store.generation()

    # the folded state through the overlay chain
    b.attempted += 1
    state, read_s = _timed_reads(b, store.clusters)

    # untimed batch recompute over base + every folded delta, which the
    # fold must equal row for row. The reference is oracle_pipeline, the
    # single-process twin that the test suite holds bit-identical to
    # er_pipeline: an er_pipeline recompute would add ~16 s to every run.
    all_turns = pd.concat(folded)
    all_gold = gold[gold.conv_id.isin(set(all_turns.conv_id))]
    recompute = oracle_pipeline(all_turns)["clusters"]
    check = _check_clusters(b, "state", state, all_gold)
    identical = dict(state) == recompute
    if not identical:
        b.fail("state: folded clusters differ from the batch recompute")
    if not (check["ok"] and identical):
        b.failed += 1

    if folds:
        b.record_ops(folds)
    b.layer["state_read_s"] = read_s
    b.e2e("pairwise_f1", check["pairwise_f1"], "ratio", 1)


WORKLOADS = {
    "small_batches": small_batches,
    "incremental_fold": incremental_fold,
}
