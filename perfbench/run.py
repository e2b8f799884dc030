"""Benchmark launcher.

    python3 perfbench/run.py --workload kv_mix --seed 1 --seconds 15 --trace 0

``--workload all`` runs the two workloads one after another. Run from the
root of a checkout. Pins the environment (Spark on all
cores, a driver heap sized to the machine, UTC), gives the run a fresh
scratch directory under ``.perfbench/tmp`` for the catalog, Spark's local
dirs, temp files and the working directory, starts ``child.py`` in its own
session, and removes the scratch directory when the child is gone. Prints
a report of every metric with its unit and sample count, then one JSON
line: ``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 1``
the metrics are the per-layer ones and the full trace (spans, per-op Spark
counters, layer self times) is written to ``.perfbench/traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

from layers import LAYER_METRICS

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOADS = ("kv_mix", "corpus_curation")
END_TO_END_UNITS = {"setup_s": "s", "mix_p50_ms": "ms", "work_per_s": "1/s"}
#: a child may run this long beyond ``--seconds``: JVM start, set-up,
#: warm-up, checks and shutdown
CHILD_ALLOWANCE_S = 150


def driver_mem() -> str:
    """A fifth of physical memory, between 1 and 4 GiB: the machine is
    shared, and the workloads fit in far less than the 48g default."""
    with open("/proc/meminfo") as fh:
        kib = int(next(ln for ln in fh if ln.startswith("MemTotal")).split()[1])
    return f"{max(1, min(4, kib // (5 * 1024 * 1024)))}g"


def pinned_env(run_dir: Path) -> dict:
    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": driver_mem(),
        "SPARK_LOCAL_DIRS": str(run_dir / "local"),
        "TMPDIR": str(run_dir / "tmp"),
        "TZ": "UTC",
        "PYTHONHASHSEED": "0",
        "PYTHONPATH": os.pathsep.join(filter(None, [str(ROOT), env.get("PYTHONPATH")])),
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={run_dir / 'tmp'} -XX:-UsePerfData -Duser.timezone=UTC",
        "PYSPARK_SUBMIT_ARGS": "--conf spark.ui.showConsoleProgress=false pyspark-shell",
    })
    return env


def kill_group(child: subprocess.Popen, timeout: float = 20.0) -> None:
    """Kills the child and every process left in its process group (the
    JVM that PySpark started stays in it) and waits until the group is
    gone."""
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        try:
            os.killpg(child.pid, signal.SIGKILL)
        except ProcessLookupError:
            return
        child.poll()  # reaps the child, which stays in the group until then
        time.sleep(0.1)


def print_report(args, result: dict, load_before, load_after) -> None:
    print(f"perfbench workload={args.workload} seed={args.seed} "
          f"seconds={args.seconds} trace={args.trace}")
    for r in result["report"]:
        note = f"  [{r['note']}]" if r["note"] else ""
        print(f"  {r['name']:<28} {r['value']:>14.4f} {r['unit']:<16} n={r['n']}{note}")
    verdict = "PASS" if result["failed"] == 0 else "FAIL"
    print(f"  oracle: {verdict} ({result['failed']} of {result['attempted']} checked ops failed)")
    if args.trace:
        for name, value in result["layers"].items():
            unit, moves = LAYER_METRICS[name]
            print(f"  {name:<44} {value:>14.4f} {unit:<6} -> {moves}")
    v = result["versions"]
    print(f"  python {v['python']}  pyspark {v['pyspark']}  "
          f"loadavg before {load_before[0]:.2f} after {load_after[0]:.2f}")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (ROOT / "hindex_spark" / "__init__.py").is_file():
        print(f"perfbench: no hindex_spark package under {ROOT}", file=sys.stderr)
        return 2
    names = WORKLOADS if args.workload == "all" else (args.workload,)
    return max(run_one(argparse.Namespace(**{**vars(args), "workload": w})) for w in names)


def run_one(args) -> int:
    """Runs one workload in a child process and prints its report and
    result line; returns the exit code."""
    run_dir = ROOT / ".perfbench" / "tmp" / f"{args.workload}-{args.seed}-{os.getpid()}"
    trace_out = ROOT / ".perfbench" / "traces" / f"{args.workload}-seed{args.seed}.json"
    for d in ("work", "local", "tmp", "data"):
        (run_dir / d).mkdir(parents=True, exist_ok=True)
    if args.trace:
        trace_out.parent.mkdir(parents=True, exist_ok=True)
    out = run_dir / "result.json"

    load_before = os.getloadavg()
    child = subprocess.Popen(
        [sys.executable, str(HERE / "child.py"),
         "--workload", args.workload, "--seed", str(args.seed),
         "--seconds", str(args.seconds), "--trace", str(args.trace),
         "--tmp", str(run_dir / "data"), "--out", str(out), "--trace-out", str(trace_out)],
        cwd=run_dir / "work", env=pinned_env(run_dir), stdout=sys.stderr,
        start_new_session=True,
    )
    result = None
    timeout = CHILD_ALLOWANCE_S + args.seconds
    try:
        rc = child.wait(timeout=timeout)
        if rc == 0 and out.is_file():
            result = json.loads(out.read_text())
    except subprocess.TimeoutExpired:
        print(f"perfbench: child exceeded {timeout:.0f}s", file=sys.stderr)
    finally:
        kill_group(child)
        child.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
    load_after = os.getloadavg()
    if result is None:
        print(f"perfbench: {args.workload} failed (exit {child.returncode})", file=sys.stderr)
        return 1

    print_report(args, result, load_before, load_after)
    if args.trace:
        metrics = {k: {"value": v, "unit": LAYER_METRICS[k][0]} for k, v in result["layers"].items()}
    else:
        metrics = {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in result["end_to_end"].items()}
    print(json.dumps({
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
