"""The benchmark's workloads and metrics: one definition that run.py reports,
compare.py judges, and BENCHMARK.json mirrors (python3 perfbench/metrics.py
prints the BENCHMARK.json this file implies).

Each per-layer metric names the end-to-end metric and workloads it should
move; a change that claims a gain on one layer cites these.
"""
import json
import sys

# The workloads BENCHMARK.json lists. Each is launch-bound: a fresh JVM
# costs ~3 s to set up and a cold op 25-30 s before the first warm op, so a
# run costs ~50-60 s and the comparison budget (4 + 22 runs per workload)
# fits two workloads with one warm op each; see README.md for the costs.
WORKLOADS = [
    ("medallion_full",
     "the paper's nightly load: CSV ingest, SCD2 dims and the calendar star "
     "join; ~57 Spark jobs an op at ~0.1 CPU use, so job and planning cuts show"),
    ("toolkit_curation",
     "the LLM-data toolkit with no warehouse code: MinHash near-dup removal, "
     "then IVF-PQ and mutual-kNN graph builds and a beam walk at 1 and 2 hops"),
]

# Runnable with run.py and compare.py, but not listed in BENCHMARK.json:
#  - scd2_daily fails its output check on the op that commits a commit-log
#    checkpoint version (TxLog.snapshot applies that version's delta on top
#    of the checkpoint that already holds it, so an unpartitioned read sees
#    the appended rows twice); it can join BENCHMARK.json once that is fixed.
#  - neardup_curation and ann_recall are the two halves of toolkit_curation,
#    for runs that isolate one of them.
EXTRA_WORKLOADS = ["scd2_daily", "neardup_curation", "ann_recall"]

# name, unit, better, bound (share of the parent median it may worsen by)
END_TO_END = [
    ("setup_s", "s", "lower", 0.25),
    ("cold_op_s", "s", "lower", 0.25),
    ("op_s.p50", "s", "lower", 0.25),
    ("op_s.tail", "s", "lower", 0.25),
    ("rows_per_s", "1/s", "higher", 0.25),
    ("task_cpu_s", "s", "lower", 0.25),
    ("spark_jobs", "count", "lower", 0.05),
    ("write_amp", "ratio", "lower", 0.15),
    ("storage_mb", "MB", "lower", 0.15),
    ("quality", "ratio", "higher", 0.02),
    ("ok_ratio", "ratio", "higher", 0.01),
]

ALL = [w for w, _ in WORKLOADS] + EXTRA_WORKLOADS
WARE = ["medallion_full", "scd2_daily"]
NEARDUP = ["toolkit_curation", "neardup_curation"]
ANN = ["toolkit_curation", "ann_recall"]
BENCH = {w for w, _ in WORKLOADS}

# name, unit, better, end-to-end metrics it should move, workloads
PER_LAYER = [
    ("spark.plan_s", "s", "lower", "op_s.p50 cold_op_s", ALL),
    ("spark.sched_wait_s", "s", "lower", "op_s.p50 cold_op_s", ALL),
    ("spark.jobs", "count", "lower", "spark_jobs op_s.p50", ALL),
    ("spark.stages", "count", "lower", "spark_jobs op_s.p50", ALL),
    ("spark.cpu_util", "ratio", "higher", "op_s.p50", ALL),
    ("spark.task_cpu_s", "s", "lower", "task_cpu_s op_s.p50",
     ["medallion_full"] + NEARDUP),
    ("spark.gc_s", "s", "lower", "task_cpu_s op_s.p50", ["medallion_full"] + NEARDUP),
    ("spark.shuffle_write_mb", "MB", "lower", "task_cpu_s op_s.p50",
     ["medallion_full"] + NEARDUP),
    ("spark.fetch_wait_s", "s", "lower", "op_s.p50", ["medallion_full"] + NEARDUP),
    ("spark.spill_mb", "MB", "lower", "op_s.p50", ["medallion_full"] + NEARDUP),
    ("spark.storage_mb", "MB", "lower", "storage_mb", ALL),
    ("spark.failed_tasks", "count", "lower", "ok_ratio", ALL),
    ("spark.stage_retries", "count", "lower", "ok_ratio", ALL),
    ("spark.jobs_attributed_ratio", "ratio", "higher", "(trace coverage)", ALL),
    ("cleaning.ingest_s", "s", "lower", "rows_per_s op_s.p50", ["medallion_full"]),
    ("cleaning.task_cpu_s", "s", "lower", "rows_per_s task_cpu_s", ["medallion_full"]),
    ("cleaning.input_mb", "MB", "lower", "rows_per_s", ["medallion_full"]),
    ("cleaning.kept_ratio", "ratio", "higher", "quality", ["medallion_full"]),
    ("keys.call_s", "s", "lower", "op_s.p50 spark_jobs", WARE),
    ("keys.jobs", "count", "lower", "spark_jobs", WARE),
    ("scd2.merge_s", "s", "lower", "op_s.p50 spark_jobs", WARE),
    ("scd2.jobs", "count", "lower", "spark_jobs", WARE),
    ("scd2.changed_ratio", "ratio", "lower", "write_amp", WARE),
    ("datedim.s", "s", "lower", "op_s.p50", ["medallion_full"]),
    ("starjoin.fact_s", "s", "lower", "op_s.p50", ["medallion_full"]),
    ("starjoin.task_cpu_s", "s", "lower", "task_cpu_s", ["medallion_full"]),
    ("starjoin.shuffle_mb", "MB", "lower", "task_cpu_s op_s.p50", ["medallion_full"]),
    ("starjoin.broadcast_join_ratio", "ratio", "higher", "op_s.p50 task_cpu_s", ["medallion_full"]),
    ("starjoin.fact_input_mb", "MB", "lower", "rows_per_s task_cpu_s", ["medallion_full"]),
    ("sinks.write_mb", "MB", "lower", "write_amp", ALL),
    ("sinks.files", "count", "lower", "write_amp op_s.p50", ALL),
    ("txlog.apply_s", "s", "lower", "op_s.p50 op_s.tail", ["scd2_daily"]),
    ("txlog.append_s", "s", "lower", "op_s.p50 op_s.tail", ["scd2_daily"]),
    ("txlog.snapshot_s", "s", "lower", "op_s.p50", ["scd2_daily"]),
    ("txlog.jobs", "count", "lower", "spark_jobs", ["scd2_daily"]),
    ("txlog.staged_mb", "MB", "lower", "write_amp", ["scd2_daily"]),
    ("txlog.rewrite_amp", "ratio", "lower", "write_amp op_s.p50", ["scd2_daily"]),
    ("txlog.log_files", "count", "lower", "op_s.tail", ["scd2_daily"]),
    ("txlog.retries", "count", "lower", "ok_ratio op_s.tail", ["scd2_daily"]),
    ("txlog.checkpoint_op_s", "s", "lower", "op_s.tail", ["scd2_daily"]),
    ("neardup.s", "s", "lower", "op_s.p50", NEARDUP),
    ("neardup.jobs", "count", "lower", "spark_jobs", NEARDUP),
    ("neardup.shuffle_mb", "MB", "lower", "task_cpu_s op_s.p50", NEARDUP),
    ("neardup.candidate_pairs", "count", "lower", "task_cpu_s", NEARDUP),
    ("neardup.pair_yield", "ratio", "higher", "task_cpu_s quality", NEARDUP),
    ("ivfpq.build_s", "s", "lower", "op_s.p50", ANN),
    ("ivfpq.search_s", "s", "lower", "op_s.p50", ANN),
    ("ivfpq.shortlist_per_query", "count", "lower", "op_s.p50 quality", ANN),
    ("ivfpq.recall_at_shortlist", "ratio", "higher", "quality", ANN),
    ("similarity.graph_s", "s", "lower", "op_s.p50", ANN),
    ("similarity.walk_s", "s", "lower", "op_s.p50", ANN),
    ("similarity.walk_jobs", "count", "lower", "spark_jobs op_s.p50", ANN),
    ("similarity.recall_at_hop", "ratio", "higher", "quality", ANN),
    ("similarity.recall_at_hop1", "ratio", "higher", "quality", ANN),
    ("similarity.recall_at_hop2", "ratio", "higher", "quality", ANN),
    ("trace.overhead", "ratio", "lower", "(traced / untraced op_s.p50)", ALL),
    ("trace.self_time_ratio", "ratio", "higher", "(span self times / op wall)", ALL),
    ("trace.root_self_ratio", "ratio", "lower", "(op wall outside module spans)", ALL),
    ("trace.spans", "count", "lower", "(spans per op)", ALL),
]

# Per-layer metrics of layers only the extra workloads reach.
EXTRA_LAYER = [m for m in PER_LAYER if not BENCH.intersection(m[4])]
PER_LAYER = [m for m in PER_LAYER if BENCH.intersection(m[4])]

E2E_UNITS = {n: u for n, u, _, _ in END_TO_END}
LAYER_UNITS = {n: u for n, u, _, _, _ in PER_LAYER}
EXTRA_LAYER_UNITS = {n: u for n, u, _, _, _ in EXTRA_LAYER}


def benchmark_json():
    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": RUN_SECONDS,
        "workloads": [{"name": n, "why": w} for n, w in WORKLOADS],
        "end_to_end": [{"name": n, "unit": u, "better": b, "bound": x}
                       for n, u, b, x in END_TO_END],
        "per_layer": [{"name": n, "unit": u, "better": b} for n, u, b, _, _ in PER_LAYER],
    }


RUN_SECONDS = 5

if __name__ == "__main__":
    json.dump(benchmark_json(), sys.stdout, indent=2)
    sys.stdout.write("\n")
