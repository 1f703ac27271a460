"""The per-layer metrics: the list every traced run prints, and the
end-to-end metric each should move.

A traced run of one workload measures the layers that workload calls;
the other workload's layers read 0 (no calls). Names are
``<layer>.<function>.<field>``; the fields are defined in ``spans.py``
and README.md.
"""
from __future__ import annotations

from index_serving import MAINTENANCE_LAYERS

_CALL = ("construct_s", "eager_jobs", "action_s", "jobs", "stages", "tasks")

# (name, what it should move); the first word of the second item names
# the workload.
PER_LAYER = (
    [(f"plans.execute.{f}", "semantic_batch/op2_p50_s")
     for f in _CALL + ("shuffle_write_bytes", "executor_run_s", "executor_cpu_s",
                       "gc_s")]
    + [("plans.optimize_s", "semantic_batch/op_p50_s")]
    + [(f"operators.{op}.{f}", "semantic_batch/op_p50_s")
       for op in ("sem_filter", "sem_map", "sem_extract")
       for f in ("construct_s", "eager_jobs")]
    + [(f"operators.sem_agg.{f}", "semantic_batch/op_p50_s")
       for f in ("construct_s", "eager_jobs", "action_s", "jobs", "tasks")]
    + [(f"operators.sem_topk.{f}", "semantic_batch/op_p50_s")
       for f in ("construct_s", "eager_jobs", "action_s", "jobs")]
    + [(f"cascades.sem_filter_cascade.{f}", "semantic_batch/op_p50_s")
       for f in ("construct_s", "eager_jobs", "tasks")]
    + [("cascades.helper_resolved_ratio", "semantic_batch/work_per_op")]
    + [(f"models.{m}.{f}", "semantic_batch/wall_s")
       for m in ("oracle", "helper")
       for f in ("prompts", "calls", "prompts_per_call", "wait_s")]
    + [("partitioning.lm_stage_tasks", "semantic_batch/wall_s")]
    + [(f"serving.hybrid_search_index.{f}", "index_serving/op_p50_s") for f in _CALL]
    + [(f"serving.hybrid_search_index_batch.{f}", "index_serving/op2_p50_s")
       for f in _CALL]
    + [(f"bm25_store.bm25_search_index.{f}", "index_serving/op_p50_s")
       for f in ("construct_s", "eager_jobs", "action_s", "jobs")]
    + [(f"ann.knn_topk_ivfpq.{f}", "index_serving/op_p50_s")
       for f in ("construct_s", "eager_jobs", "action_s", "jobs")]
    + [(f"bm25.rrf_fuse.{f}", "index_serving/op_p50_s")
       for f in ("construct_s", "action_s", "jobs")]
    + [("ann.ivf_index.construct_s", "index_serving/setup_s"),
       ("ann.pq_index.construct_s", "index_serving/setup_s")]
    + [(f"{w}.{f}", "index_serving/setup_s")
       for w in ("ann.write_ivfpq_index", "bm25_store.write_bm25_index")
       for f in ("construct_s", "jobs", "bytes_written", "files_written")]
    + [(f"bm25_store.term_cache_warm.{f}", "index_serving/setup_s")
       for f in ("construct_s", "eager_jobs")]
    + [(f"{name}.{f}", "the traced increment: write cost, read-after-write")
       for name, fields in MAINTENANCE_LAYERS for f in fields]
    + [("ann.ivfpq_files_per_cell.appended", "index_serving/op_p50_s"),
       ("ann.ivfpq_files_per_cell.compacted", "index_serving/op_p50_s")]
    + [("session.get_spark_s", "setup_s"),
       ("trace.wall_s", "tracing overhead"),
       ("trace.untraced_wall_s", "tracing overhead"),
       ("trace.overhead_s", "tracing overhead")]
)


def unit(name: str) -> str:
    last = name.rsplit(".", 1)[-1]
    if last.endswith("_s"):
        return "s"
    if last.endswith("bytes") or last == "bytes_written":
        return "bytes"
    if last.endswith("ratio"):
        return "ratio"
    return "count"


def complete(found: dict) -> dict:
    """Every per-layer metric, 0 for those this workload never called."""
    unknown = set(found) - {n for n, _ in PER_LAYER}
    if unknown:
        raise KeyError(f"per-layer metrics missing from PER_LAYER: {sorted(unknown)}")
    return {n: (float(found.get(n, 0.0)), unit(n)) for n, _ in PER_LAYER}
