"""Metric names, units and directions, shared by every workload.

Every workload reports every end-to-end metric; what a generic name means
on each workload is in README.md. Per-layer metrics of a layer that a
workload does not exercise read 0. BENCHMARK.json is generated from these
tables (``python3 perfbench/metrics.py``) and a unit test keeps them equal.
"""

from __future__ import annotations

import json
import os

RUN_SECONDS = 10

WORKLOADS = {
    "tweet_ingest": "open-loop live tweet feed through the streaming aggregate pipeline "
                    "into the store: source, state store, stage 2 and store writes",
    "neardup_ingest": "closed-loop drain of document shards through streaming near-dup "
                      "dedup: operators.dedup and the versioned band index, no tweet layer",
}

# name: (unit, better, bound). Every bound is the largest allowed: on a
# shared 4-core host, run-to-run figures moved by 10-30% as the host's
# speed drifted.
END_TO_END = {
    "setup_s": ("s", "lower", 0.25),
    "latency_p50_ms": ("ms", "lower", 0.25),
    "latency_p90_ms": ("ms", "lower", 0.25),
    "throughput_per_s": ("1/s", "higher", 0.25),
    "cpu_s_per_1k_ops": ("s", "lower", 0.25),
}

# name: (unit, better)
PER_LAYER = {
    "source.latest_offset_ms_p50": ("ms", "lower"),
    "source.backlog_files_max": ("count", "lower"),
    "source.rows_per_trigger_p50": ("count", "higher"),
    "pipeline.trigger_ms_p50": ("ms", "lower"),
    "pipeline.trigger_ms_p90": ("ms", "lower"),
    "pipeline.add_batch_ms_p50": ("ms", "lower"),
    "pipeline.planning_ms_p50": ("ms", "lower"),
    "pipeline.wal_commit_ms_p50": ("ms", "lower"),
    "pipeline.commit_offsets_ms_p50": ("ms", "lower"),
    "pipeline.triggers": ("count", "higher"),
    "pipeline.jobs_per_trigger": ("count", "lower"),
    "pipeline.stages_per_trigger": ("count", "lower"),
    "pipeline.body_self_ms_p50": ("ms", "lower"),
    "state.rows_total_max": ("count", "lower"),
    "state.rows_updated_per_trigger_p50": ("count", "lower"),
    "state.memory_bytes_max": ("bytes", "lower"),
    "state.commit_ms_p50": ("ms", "lower"),
    "state.rows_dropped_late": ("count", "lower"),
    "store.write_batch_ms_p50": ("ms", "lower"),
    "store.write_batch_ms_max": ("ms", "lower"),
    "store.files_written_per_trigger": ("count", "lower"),
    "store.bytes_written_per_tweet": ("bytes", "lower"),
    "store.read_ms_p50.summary": ("ms", "lower"),
    "store.read_ms_p50.counts": ("ms", "lower"),
    "store.read_ms_p50.top": ("ms", "lower"),
    "store.read_ms_p50.top_entity": ("ms", "lower"),
    "store.read_ms_p50.recent": ("ms", "lower"),
    "store.jobs_per_query": ("count", "lower"),
    "store.tasks_per_query": ("count", "lower"),
    "store.files_read_per_query": ("count", "lower"),
    "store.rows_per_query": ("count", "higher"),
    "dedup.read_index_s_p50": ("s", "lower"),
    "dedup.batch_dedup_s_p50": ("s", "lower"),
    "dedup.jobs_per_trigger": ("count", "lower"),
    "dedup.stages_per_trigger": ("count", "lower"),
    "dedup.shuffle_bytes_per_doc": ("bytes", "lower"),
    "dedup.planted_recall": ("ratio", "higher"),
    "vstore.append_s_p50": ("s", "lower"),
    "vstore.compact_s": ("s", "lower"),
    "vstore.fold_depth_max": ("count", "lower"),
    "vstore.bytes_written_per_doc": ("bytes", "lower"),
    "spark.executor_run_s": ("s", "lower"),
    "spark.utilization": ("ratio", "higher"),
    "spark.shuffle_write_bytes": ("bytes", "lower"),
    "spark.spill_bytes": ("bytes", "lower"),
    "gen.late_ms_p50": ("ms", "lower"),
    "gen.late_ms_max": ("ms", "lower"),
}
# traced minus untraced, per end-to-end metric measured in the run
PER_LAYER.update({f"trace.overhead.{k}": (u, b) for k, (u, b, _) in END_TO_END.items()
                  if k != "setup_s"})


def benchmark_json() -> dict:
    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": RUN_SECONDS,
        "workloads": [{"name": n, "why": w} for n, w in WORKLOADS.items()],
        "end_to_end": [{"name": n, "unit": u, "better": b, "bound": x}
                       for n, (u, b, x) in END_TO_END.items()],
        "per_layer": [{"name": n, "unit": u, "better": b} for n, (u, b) in PER_LAYER.items()],
    }


if __name__ == "__main__":
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                        "BENCHMARK.json")
    with open(path, "w") as f:
        json.dump(benchmark_json(), f, indent=2)
        f.write("\n")
