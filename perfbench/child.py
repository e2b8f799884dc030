"""Runs one workload in this process and writes its result as JSON.

``run.py`` starts this with the environment pinned (cores, driver heap,
temp and Spark local dirs, time zone) and ``hindex_spark`` on the path.
"""

from __future__ import annotations

import argparse
import json
import sys
from statistics import median
from typing import Dict, List

import numpy as np

import gen
import layers
from workloads import WORKLOADS, Outcome, log


def p90(xs: List[float]) -> float:
    return float(np.percentile(xs, 90))


def line(name: str, value: float, unit: str, n: int, note: str = "") -> dict:
    return {"name": name, "value": value, "unit": unit, "n": n, "note": note}


def timing_lines(kind: str, xs: List[float], with_p90: bool) -> List[dict]:
    out = [line(f"{kind}_p50_ms", median(xs), "ms", len(xs))]
    if with_p90:
        note = "" if len(xs) >= 100 else "fewer than 100 samples: p90 not steady"
        out.append(line(f"{kind}_p90_ms", p90(xs), "ms", len(xs), note))
    return out


def report(workload: str, o: Outcome) -> List[dict]:
    """Every end-to-end metric the workload supports, by name, with its
    unit and sample count (untraced phase only)."""
    rows = [line("setup_s", median(o.setup_s), "s", len(o.setup_s))]
    rows.append(line("failed_op_ratio", o.failed / max(o.attempted, 1), "failed/attempted", o.attempted))
    by_kind = plain_by_kind(o.samples + o.sub_samples)
    n_mix = sum(len(xs) for xs in plain_by_kind(o.samples, True).values())
    rows.append(line("mix_p50_ms", mix_p50(o), "ms", n_mix))
    rows.append(line("work_per_s", o.rate("work"), "1/s", int(o.done("work"))))
    if workload == "kv_mix":
        rows.append(line("read_ops_per_s", o.rate("reads"), "ops/s", int(o.done("reads"))))
        for kind in ("get", "range_scan", "index_scan"):
            rows += timing_lines(kind, by_kind[kind], True)
        for kind in ("filter_scan", "range_agg"):
            rows += timing_lines(kind, by_kind[kind], False)
        verbs = gen.WRITE_MIX
        rows += timing_lines("commit", [ms for v in verbs for ms in by_kind[v]], True)
        for verb in verbs:
            rows += timing_lines(f"{verb}_commit", by_kind[verb], False)
        rows += timing_lines("stored_index_scan", by_kind["stored_index_scan"], True)
        rows.append(line("write_rows_per_s", o.rate("rows"), "rows/s", int(o.done("rows"))))
    else:
        rows.append(line("curation_docs_per_s", o.rate("work"), "docs/s", int(o.done("work"))))
        for kind, xs in by_kind.items():
            rows += timing_lines(kind, xs, False)
    return rows


def plain_by_kind(samples, mix: bool = False) -> Dict[str, List[float]]:
    """Untraced latencies by op class, or by mix class."""
    by_kind: Dict[str, List[float]] = {}
    for s in samples:
        if not s.traced:
            by_kind.setdefault(mix and s.mix_class or s.kind, []).append(s.ms)
    return by_kind


def mix_p50(o: Outcome) -> float:
    """The median latency of each request class, weighted by its share of
    the designed mix: a change to any one class moves it by its share."""
    by_class = plain_by_kind(o.samples, True)
    return sum(w * median(by_class[k]) for k, w in o.mix.items())


def end_to_end(o: Outcome) -> Dict[str, float]:
    """The metrics the benchmark gates on, each defined for every workload:
    the median set-up, the mix-weighted median request latency and the
    work rate."""
    return {
        "setup_s": median(o.setup_s),
        "mix_p50_ms": mix_p50(o),
        "work_per_s": o.rate("work"),
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--tmp", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--trace-out", required=True)
    a = ap.parse_args()

    import pyspark

    from hindex_spark import get_spark

    spark = get_spark("perfbench")
    try:
        o = WORKLOADS[a.workload](spark, a.seed, a.seconds, bool(a.trace), a.tmp)
        result = {
            "attempted": o.attempted,
            "failed": o.failed,
            "end_to_end": end_to_end(o),
            "report": report(a.workload, o),
            "versions": {"python": sys.version.split()[0], "pyspark": pyspark.__version__},
        }
        if a.trace:
            result["layers"] = layers.layer_metrics(o.tracer, o)
            with open(a.trace_out, "w") as fh:
                json.dump({
                    "workload": a.workload,
                    "seed": a.seed,
                    "layers": {
                        k: {"value": v, "unit": layers.LAYER_METRICS[k][0],
                            "moves": layers.LAYER_METRICS[k][1]}
                        for k, v in result["layers"].items()
                    },
                    "self_ms_total": o.tracer.self_ms(),
                    "ops": [{"op_id": r.op_id, "kind": r.kind, **r.counters, **r.notes}
                            for r in o.tracer.ops],
                    "spans": o.tracer.dump(),
                }, fh, indent=1)
    finally:
        spark.stop()  # the launcher kills whatever is left of the JVM
        log("spark stopped")
    with open(a.out, "w") as fh:
        json.dump(result, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main())
