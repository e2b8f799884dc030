"""Per-layer metrics of a traced run, named after the package's modules.

Each entry names the end-to-end metric it should move and on which
workload. A layer a workload does not exercise reports 0 (no calls, no
work): that is the "no change" prediction for it.
"""

from __future__ import annotations

from statistics import fmean
from typing import Dict, List

from tracing import Tracer

KV_READ = "get_*, range_scan_*, index_scan_*, read_ops_per_s on kv_mix"
COMMIT = "commit_*, write_rows_per_s on kv_mix; no change to its reads"
CURATION = "curation_docs_per_s on corpus_curation; no change on the kv workloads"

#: name -> (unit, end-to-end metric and workload it should move)
LAYER_METRICS: Dict[str, tuple] = {
    "parse_filter.parse_ms": ("ms", "index_scan_p50_ms, filter_scan_p50_ms on kv_mix"),
    "table.scan.plan_ms": ("ms", KV_READ),
    "table.action_ms": ("ms", KV_READ),
    "index.planner.index_used_ratio": ("ratio", "index_scan_*, stored_index_scan_* on kv_mix"),
    "index.rows_examined_per_row": ("ratio", "index_scan_* on kv_mix (cached table)"),
    "index.stored_rows_examined_per_row": ("ratio", "stored_index_scan_* on kv_mix"),
    "filters.rows_examined_per_row": ("ratio", "filter_scan_p50_ms on kv_mix"),
    "aggregations.call_ms": ("ms", "range_agg_p50_ms on kv_mix"),
    "spark.jobs_per_op": ("count", "all kv p50s and read_ops_per_s"),
    "spark.stages_per_op": ("count", "all kv p50s and read_ops_per_s"),
    "spark.tasks_per_op": ("count", "all kv p50s and read_ops_per_s"),
    "spark.executor_run_ms_per_op": ("ms", "all kv p50s and read_ops_per_s"),
    "spark.gc_ms_per_op": ("ms", "the kv p90s"),
    "spark.driver_overhead_ms": ("ms", "all kv p50s and read_ops_per_s"),
    "table.mutate.plan_ms": ("ms", "commit_p50_ms on kv_mix"),
    "index.build.rows_rewritten_per_commit": ("count", "commit_*, write_rows_per_s on kv_mix"),
    "catalog.save_ms": ("ms", COMMIT),
    "catalog.load_ms": ("ms", COMMIT),
    "catalog.bytes_written_per_user_byte": ("ratio", COMMIT),
    "catalog.files_written_per_commit": ("count", COMMIT),
    "catalog.bytes_stored_per_user_byte": ("ratio", COMMIT),
    "operators.text.analyze_ms": ("ms", CURATION),
    "operators.dedup.clean_corpus_ms": ("ms", CURATION),
    "operators.dedup.remove_duplicate_spans_ms": ("ms", CURATION),
    "operators.importance.dsir_select_ms": ("ms", CURATION),
    "operators.dedup.minhash_dedup_pairs_ms": ("ms", CURATION),
    "spark.shuffle_bytes_per_doc": ("B/doc", CURATION),
    "operators.dedup.verified_per_candidate": ("ratio", CURATION),
    "client.self_ms_per_op": ("ms", "every latency: time in the client outside any layer call"),
    "trace.overhead_ms_per_op": ("ms", "none: traced minus untraced mean request latency"),
}


def _mean(xs: List[float]) -> float:
    return fmean(xs) if xs else 0.0


def _ratio(num: float, den: float) -> float:
    return num / den if den else 0.0


def layer_metrics(tracer: Tracer, outcome) -> Dict[str, float]:
    ops = tracer.ops
    per_op = {c: _mean([r.counters[c] for r in ops])
              for c in ("jobs", "stages", "tasks", "executor_run_ms", "gc_ms")}

    def by_kind(kind: str):
        return [r for r in ops if r.kind == kind]

    # index-eligible ops: the index_scans on the cached table and the
    # read-your-writes index_scan from storage after every commit
    idx_ops = by_kind("index_scan")
    stored_idx_ops = by_kind("stored_index_scan")
    flt_ops = by_kind("filter_scan")
    commits = by_kind("commit")
    passes = by_kind("curation_pass")
    traced = [s.ms for s in outcome.samples if s.traced]
    plain = [s.ms for s in outcome.samples if not s.traced]
    self_ms = tracer.self_ms()
    m = {
        "parse_filter.parse_ms": _mean(tracer.durations_ms("parse_filter.parse")),
        "table.scan.plan_ms": _mean(tracer.durations_ms("table.scan.plan")),
        "table.action_ms": _mean(tracer.durations_ms("table.action")),
        "index.planner.index_used_ratio": _ratio(
            sum(r.notes.get("index_used", 0.0) for r in idx_ops + stored_idx_ops),
            len(idx_ops + stored_idx_ops)),
        "index.rows_examined_per_row": _ratio(
            sum(r.counters["input_records"] for r in idx_ops),
            sum(r.notes.get("rows", 0.0) for r in idx_ops)),
        "index.stored_rows_examined_per_row": _ratio(
            sum(r.counters["input_records"] for r in stored_idx_ops),
            sum(r.notes.get("rows", 0.0) for r in stored_idx_ops)),
        "filters.rows_examined_per_row": _ratio(
            sum(r.counters["input_records"] for r in flt_ops),
            sum(r.notes.get("rows", 0.0) for r in flt_ops)),
        "aggregations.call_ms": _mean(tracer.durations_ms("aggregations.call")),
        "spark.jobs_per_op": per_op["jobs"],
        "spark.stages_per_op": per_op["stages"],
        "spark.tasks_per_op": per_op["tasks"],
        "spark.executor_run_ms_per_op": per_op["executor_run_ms"],
        "spark.gc_ms_per_op": per_op["gc_ms"],
        "spark.driver_overhead_ms": _mean(tracer.driver_overhead_ms()),
        "table.mutate.plan_ms": _mean(tracer.durations_ms("table.mutate.plan")),
        "index.build.rows_rewritten_per_commit": _mean(
            [r.notes["index_rows_written"] for r in commits]),
        "catalog.save_ms": _mean(tracer.durations_ms("catalog.save")),
        "catalog.load_ms": _mean(tracer.durations_ms("catalog.load")),
        "catalog.bytes_written_per_user_byte": _ratio(
            sum(r.notes["bytes_written"] for r in commits),
            sum(r.notes["user_bytes"] for r in commits)),
        "catalog.files_written_per_commit": _mean([r.notes["files_written"] for r in commits]),
        "catalog.bytes_stored_per_user_byte": outcome.extra.get("bytes_stored_per_user_byte", 0.0),
        "spark.shuffle_bytes_per_doc": _ratio(
            sum(r.counters["shuffle_write_bytes"] for r in passes),
            outcome.done("work", True) if passes else 0.0),
        "operators.dedup.verified_per_candidate": _ratio(
            _mean([r.notes.get("verified_pairs", 0.0) for r in passes]),
            outcome.extra.get("lsh_candidate_pairs", 0.0)),
        "client.self_ms_per_op": _ratio(self_ms.get("client.op", 0.0), len(ops)),
        "trace.overhead_ms_per_op": (_mean(traced) - _mean(plain)) if traced and plain else 0.0,
    }
    for name in LAYER_METRICS:
        if name.startswith("operators.") and name.endswith("_ms"):
            m[name] = _mean(tracer.durations_ms(name[: -len("_ms")]))
    return {k: m[k] for k in LAYER_METRICS}
