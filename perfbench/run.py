"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Inputs are generated from ``--seed``
before any timing starts; the program under test (``history_collector_spark``)
receives only the generated files. Everything the run writes goes under
``.perfbench/`` in the checkout; the per-run work directory is removed at
exit, trace files are kept in ``.perfbench/traces/``.

Every metric is printed with its unit, one per line, and the last line of
standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
``--trace 0`` reports the end-to-end metrics; ``--trace 1`` reports the
per-layer metrics: its timed window alternates untraced and traced passes
(or rounds), and the tracing overhead is the difference of the two. The
exit code is 1
when an output check failed or an operation raised.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import tempfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench import workloads  # noqa: E402
from perfbench.program import Program  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402

WARM_SETUPS = 3

# Metric names and units; moves.json maps each layer metric to the
# end-to-end metric and workload it should move (see README.md).
with open(ROOT / "BENCHMARK.json") as _f:
    _METRICS = json.load(_f)
END_TO_END = {m["name"]: m["unit"] for m in _METRICS["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in _METRICS["per_layer"]}


def tail(samples: list[float]) -> tuple[float, float]:
    """The highest percentile with at least ten samples above it, and its
    value; with fewer than 21 samples that is below the median, so the
    maximum (percentile 100) is reported instead."""
    xs = sorted(samples)
    if len(xs) < 21:
        return 100.0, xs[-1]
    k = len(xs) - 11
    return 100.0 * (k + 1) / len(xs), xs[k]


def typical(window, traced: bool = False) -> float:
    """The median latency of each kind of operation, geometric mean over
    the kinds, over the untraced (or the traced) operations. A mix's
    queries differ in cost by up to 20x, so the median of all samples
    pooled jumps between neighbouring queries from run to run; this does
    not."""
    by_kind: dict[str, list[float]] = {}
    for kind, s, t in zip(window.op_kind, window.op_s, window.traced):
        if t == traced:
            by_kind.setdefault(kind, []).append(s)
    logs = [math.log(statistics.median(v)) for v in by_kind.values()]
    return math.exp(sum(logs) / len(logs)) if logs else 0.0


def peak_rss_mb(pids) -> float:
    """Sum of VmHWM (peak resident set) over ``pids``, in MB."""
    total_kb = 0
    for pid in pids:
        if pid is None:
            continue
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "history_collector_spark" / "__init__.py").is_file() or not (
        ROOT / "tests" / "oracle_compare.py"
    ).is_file():
        print(f"perfbench: no history_collector_spark package under {ROOT}", file=sys.stderr)
        return 2

    # Inputs, temp dirs, Spark scratch and any stray warehouse/derby files
    # stay inside the checkout. The repo root goes on PYTHONPATH before the
    # JVM starts, so Spark's Python workers import the package whatever
    # the working directory is.
    work = ROOT / ".perfbench" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    (work / "local").mkdir()
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    tempfile.tempdir = None
    os.chdir(work)

    wl = workloads.make(args.workload)
    tracer = Tracer() if args.trace else None
    prog = Program(len(os.sched_getaffinity(0)), str(work), tracer)
    phases = {}
    clock = time.perf_counter()

    def phase(name):
        nonlocal clock
        now = time.perf_counter()
        phases[name] = now - clock
        clock = now

    try:
        wl.prepare(str(work), args.seed)
        phase("inputs")
        if tracer:
            tracer.enable()
        cold = prog.start()
        warm = [prog.restart() for _ in range(WARM_SETUPS)]
        phase("setup")
        if tracer:
            tracer.disable()
        attempted, errors = wl.warmup(prog)
        phase("warmup")
        window = wl.window(prog, args.seconds, args.seed, tracer)
        phase("window")
        if tracer:
            tracer.disable()
        n, check_errors = wl.check(prog)
        phase("check")
        peak = peak_rss_mb([os.getpid(), prog.java_pid()])
    finally:
        prog.shutdown()
        phase("shutdown")
        if tracer:
            out = ROOT / ".perfbench" / "traces"
            out.mkdir(parents=True, exist_ok=True)
            tracer.dump(str(out / f"{args.workload}-seed{args.seed}.json"))
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)

    attempted += n + window.attempted
    errors += check_errors + window.errors
    failed = len(errors)
    for e in errors:
        print(f"perfbench: {e}", file=sys.stderr)

    median = statistics.median
    if tracer:
        values = {k: 0.0 for k in PER_LAYER}
        values.update(window.layer)
        values["session.get_spark_s"] = median(s["get_spark_s"] for s in warm)
        values["registry.load_all_s"] = median(s["load_all_s"] for s in warm)
        values["session.cold_start_s"] = cold["setup_s"]
        values["session.peak_rss_mb"] = peak
        traced, untraced = typical(window, traced=True), typical(window, traced=False)
        values["trace.op_p50_s"] = traced
        values["trace.overhead_frac"] = traced / untraced - 1 if untraced else 0.0
        units = PER_LAYER
        print(f"# {args.workload}: op_p50_s {untraced:.4g} s untraced, {traced:.4g} s traced")
    else:
        pct, tail_s = tail(window.op_s) if window.op_s else (0.0, 0.0)
        values = {
            "setup_s": median(s["setup_s"] for s in warm),
            "op_p50_s": typical(window),
            "op_tail_s": tail_s,
            "ops_per_s": window.done / window.wall_s if window.wall_s else 0.0,
            "ok_frac": 1.0 - failed / attempted,
        }
        units = END_TO_END
        print(f"# {args.workload}: {len(window.op_s)} operations ({window.done} done) in {window.wall_s:.2f} s timed; "
              f"op_tail_s is p{pct:.0f}; cold start {cold['setup_s']:.2f} s; peak RSS {peak:.0f} MB")
    print("# phases: " + ", ".join(f"{k} {v:.1f} s" for k, v in phases.items()))
    for k, unit in units.items():
        print(f"{k} {values[k]:.6g} {unit}")
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }
    print(json.dumps(result), flush=True)
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
