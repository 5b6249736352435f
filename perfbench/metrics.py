"""Metric names, units and their reduction from a run.

``END_TO_END`` are what a user of the engine sees; every workload reports
all of them from an untraced loop. ``PER_LAYER`` come from the traced run
and are reported on every workload too: a layer a workload never calls
reads 0, which is the "should not move" half of each prediction.
BENCHMARK.json lists the same names (tests/test_perfbench.py checks).
"""

from __future__ import annotations

import statistics

END_TO_END = {
    "setup_s": "s",
    "ops_per_s": "1/s",
    "op_ms_p50": "ms",
}

#: per-op-kind latency metrics named by the workloads' op kinds; printed
#: with sample counts in the detail line, where a workload issues the op
OP_METRICS = {
    "snapshot_load": "snapshot_load_ms",
    "read_metadata": "read_metadata_ms",
    "pruned_plan": "pruned_plan_ms",
    "refresh": "refresh_ms",
    "read": "read_ms",
    "cdf_read": "cdf_read_ms",
    "commit": "commit_ms",
    "dml": "dml_ms",
    "checkpoint": "checkpoint_ms",
}

#: name -> unit; per_layer() below says how each is reduced
PER_LAYER = {
    "storage.list_calls": "count",
    "storage.read_calls": "count",
    "storage.bytes_read": "bytes",
    "storage.put_calls": "count",
    "log_segment.build_ms": "ms",
    "log_segment.commit_files": "count",
    "log_segment.checkpoint_parts": "count",
    "snapshot.pm_ms": "ms",
    "snapshot.crc_hit_ratio": "ratio",
    "snapshot.commits_read": "count",
    "scan.replay_ms": "ms",
    "scan.files_ms": "ms",
    "scan.live_files": "count",
    "scan.to_df_ms": "ms",
    "scan.execute_ms": "ms",
    "pyreplay.tail_ms": "ms",
    "pyreplay.live_files_ms": "ms",
    "skipping.files_total": "count",
    "skipping.files_kept": "count",
    "skipping.kept_ratio": "ratio",
    "py_skipping.eval_ms": "ms",
    "dv.decode_ms": "ms",
    "dv.rows_deleted": "count",
    "cdf.plan_ms": "ms",
    "cdf.execute_ms": "ms",
    "cdf.rows": "count",
    "cdf.jobs": "count",
    "facade.plan_ms": "ms",
    "facade.read_ms": "ms",
    "facade.tasks": "count",
    "transaction.write_data_ms": "ms",
    "transaction.commit_ms": "ms",
    "transaction.actions": "count",
    "transaction.commit_bytes": "bytes",
    "dml.delete_dv_ms": "ms",
    "dml.update_ms": "ms",
    "dml.merge_ms": "ms",
    "dml.files_added": "count",
    "dml.files_removed": "count",
    "dml.dv_files": "count",
    "checkpoint.write_ms": "ms",
    "checkpoint.bytes": "bytes",
    "checkpoint.actions": "count",
    "operators.dedup.exact_ms": "ms",
    "operators.dedup.minhash_pairs_ms": "ms",
    "operators.dedup.jaccard_ms": "ms",
    "operators.dedup.simhash_ms": "ms",
    "operators.similarity.ivf_topk_ms": "ms",
    "operators.similarity.ivf_topk_int8_ms": "ms",
    "operators.similarity.semantic_dedup_ms": "ms",
    "operators.text.tfidf_ms": "ms",
    "operators.cluster.components_ms": "ms",
    "operators.dedup.pairs_verified_ratio": "ratio",
    "spark.jobs_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.jvm_peak_rss_mb": "MB",
    "trace.ops_per_s": "1/s",
    "trace.bookkeeping_ms_per_op": "ms",
}

#: per-layer "<x>_ms" metrics read as the median duration of one span name
_MEDIAN_SPANS = {
    "log_segment.build_ms": "log_segment.build",
    "snapshot.pm_ms": "snapshot.init",
    "scan.replay_ms": "scan.replay",
    "scan.files_ms": "scan.files",
    "scan.to_df_ms": "scan.to_df",
    "scan.execute_ms": "scan.execute",
    "pyreplay.tail_ms": "pyreplay.tail",
    "pyreplay.live_files_ms": "pyreplay.live_files",
    "py_skipping.eval_ms": "py_skipping.eval",
    "dv.decode_ms": "dv.decode",
    "cdf.plan_ms": "cdf.plan",
    "cdf.execute_ms": "cdf.execute",
    "facade.plan_ms": "facade.plan",
    "facade.read_ms": "facade.read",
    "transaction.write_data_ms": "transaction.write_data",
    "transaction.commit_ms": "transaction.commit",
    "dml.delete_dv_ms": "dml.delete_dv",
    "dml.update_ms": "dml.update",
    "dml.merge_ms": "dml.merge",
    "checkpoint.write_ms": "checkpoint.write",
    "operators.dedup.exact_ms": "op.operators.dedup.exact",
    "operators.dedup.minhash_pairs_ms": "op.operators.dedup.minhash_pairs",
    "operators.dedup.jaccard_ms": "op.operators.dedup.jaccard",
    "operators.dedup.simhash_ms": "op.operators.dedup.simhash",
    "operators.similarity.ivf_topk_ms": "op.operators.similarity.ivf_topk",
    "operators.similarity.ivf_topk_int8_ms": "op.operators.similarity.ivf_topk_int8",
    "operators.similarity.semantic_dedup_ms": "op.operators.similarity.semantic_dedup",
    "operators.text.tfidf_ms": "op.operators.text.tfidf",
    "operators.cluster.components_ms": "op.operators.cluster.components",
}

#: per-layer counts read as a counter divided by how often a span ran
#: (or, for ops the benchmark marks itself, by another counter)
_PER_SPAN_COUNTERS = {
    "log_segment.commit_files": ("log_segment.commit_files", "log_segment.build"),
    "log_segment.checkpoint_parts": ("log_segment.checkpoint_parts", "log_segment.build"),
    "snapshot.crc_hit_ratio": ("crc.hits", "crc.read"),
    "scan.live_files": ("scan.live_files", "scan.files"),
    "skipping.files_total": ("skipping.files_total", "skipping.plans"),
    "skipping.files_kept": ("skipping.files_kept", "skipping.plans"),
    "dv.rows_deleted": ("dv.rows_deleted", "dv.decode"),
    "cdf.rows": ("cdf.rows", "cdf.execute"),
    "transaction.actions": ("transaction.actions", "transaction.commit"),
    "transaction.commit_bytes": ("transaction.commit_bytes", "transaction.commit"),
    "dml.files_added": ("dml.files_added", "dml.ops"),
    "dml.files_removed": ("dml.files_removed", "dml.ops"),
    "dml.dv_files": ("dml.dv_files", "dml.ops"),
    "checkpoint.bytes": ("checkpoint.bytes", "checkpoint.write"),
    "checkpoint.actions": ("checkpoint.actions", "checkpoint.write"),
}

#: per-layer counts read per measured op
_PER_OP_SPANS = {
    "storage.list_calls": "storage.list",
    "storage.read_calls": "storage.read",
    "storage.put_calls": "storage.put",
}


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


def per_layer(tracer, ops: int, traced_ops_per_s: float, jvm_peak_rss_mb: float) -> dict:
    """Reduce a traced loop to every ``PER_LAYER`` metric."""
    durations = tracer.durations_ms()
    calls = {name: len(d) for name, d in durations.items()}
    counters = tracer.counters
    out: dict[str, float] = {}
    for metric, span in _MEDIAN_SPANS.items():
        d = durations.get(span)
        out[metric] = statistics.median(d) if d else 0.0
    for metric, (counter, per) in _PER_SPAN_COUNTERS.items():
        out[metric] = _ratio(counters.get(counter, 0.0), calls.get(per) or counters.get(per, 0))
    for metric, span in _PER_OP_SPANS.items():
        out[metric] = _ratio(calls.get(span, 0), ops)
    out["storage.bytes_read"] = _ratio(counters.get("storage.bytes_read", 0.0), ops)
    out["snapshot.commits_read"] = _ratio(calls.get("snapshot.pm_commit", 0), calls.get("snapshot.init", 0))
    out["skipping.kept_ratio"] = _ratio(
        counters.get("skipping.files_kept", 0.0), counters.get("skipping.files_total", 0.0)
    )
    out["cdf.jobs"] = _ratio(tracer.spark_by_kind.get("cdf_read", [0, 0])[0], calls.get("cdf.execute", 0))
    facade = tracer.spark_by_kind.get("read.facade", [0, 0])
    out["facade.tasks"] = _ratio(facade[1], calls.get("facade.read", 0))
    out["operators.dedup.pairs_verified_ratio"] = _ratio(
        counters.get("minhash.pairs", 0.0), counters.get("minhash.candidates", 0.0)
    )
    jobs = sum(v[0] for v in tracer.spark_by_kind.values())
    tasks = sum(v[1] for v in tracer.spark_by_kind.values())
    out["spark.jobs_per_op"] = _ratio(jobs, ops)
    out["spark.tasks_per_op"] = _ratio(tasks, ops)
    out["trace.ops_per_s"] = traced_ops_per_s
    out["trace.bookkeeping_ms_per_op"] = _ratio(tracer.bookkeeping_s * 1000.0, ops)
    out["spark.jvm_peak_rss_mb"] = jvm_peak_rss_mb
    missing = set(PER_LAYER) - set(out)
    if missing:
        raise AssertionError(f"per-layer metrics without a reduction: {sorted(missing)}")
    return out
