"""Benchmark of the quality-filter engine: one seeded workload per run.

    python3 perfbench/run.py --workload mixed --seed 1 --seconds 10 --trace 0

Runs from the root of a source checkout. The run generates (or reuses)
its seeded input table under `.bench_build/perfbench/`, starts one Spark
driver at local[nproc] with a heap sized to the machine, sets the
session up, then runs the workload closed-loop (one job at a time) for
`--seconds`, checks the outputs, and prints a human-readable report
followed by ONE JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--trace 0` reports the end-to-end metrics (rows_per_s, setup_s,
peak_rss_mb); `--trace 1` reports the per-layer metrics of one traced
pass plus the tracing overhead (see trace.py). `--smoke` shrinks every
workload to a few dozen rows and also regenerates the input twice to
check that the seed fixes the table bytes.

The process exits non-zero without printing a result when the program
cannot be imported or any step raises.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import sys
import threading
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".bench_build" / "perfbench"

# a run must end well inside the 180 s a caller allows it
DEADLINE_S = 170


def machine() -> dict:
    """nproc, and a driver heap of a quarter of RAM (1-24 GiB): the
    session default of 24g does not fit smaller hosts."""
    nproc = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        total_kb = int(next(line for line in f if line.startswith("MemTotal:")).split()[1])
    heap_gb = max(1, min(24, total_kb // (4 * 1024 * 1024)))
    return {"nproc": nproc, "heap": f"{heap_gb}g", "mem_total_gb": round(total_kb / 2**20, 1)}


def configure_env(mach: dict) -> None:
    """Environment read by the program and by the Python workers the JVM
    spawns; must be set before the JVM starts."""
    for d in ("tmp", "local"):
        (WORK / d).mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_DRIVER_MEMORY"] = mach["heap"]
    os.environ["SPARK_GRAFT_CPUS"] = str(mach["nproc"])
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "local")
    os.environ["TMPDIR"] = str(WORK / "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )


# --- codegen fallbacks from the JVM log ------------------------------------

CODEGEN_MARKERS = ("grows beyond 64 KB", "Whole-stage codegen disabled", "failed to compile")


def codegen_fallbacks(log_path: Path) -> int:
    """JVM log lines reporting a generated-code compile failure or a
    whole-stage codegen fallback."""
    if not log_path.exists():
        return 0
    n = 0
    with open(log_path, errors="replace") as f:
        for line in f:
            if any(m in line for m in CODEGEN_MARKERS):
                n += 1
    return n


# --- entry -----------------------------------------------------------------


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true")
    return p.parse_args(argv)


def report_line(name: str, value, unit: str) -> str:
    return f"{name:<34} {value!s:>16} {unit}"


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, str(ROOT))
    import workloads  # noqa: E402 — the benchmark's own module next to this file
    from proc import kill_tree

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    WORK.mkdir(parents=True, exist_ok=True)
    mach = machine()
    configure_env(mach)

    # the JVM inherits fd 2: send it (and Python's stderr) to a per-run
    # log that is scanned for codegen fallbacks; keep the terminal's fd
    log_path = WORK / "logs" / f"{args.workload}-trace{args.trace}.log"
    log_path.parent.mkdir(parents=True, exist_ok=True)
    real_err = os.dup(2)
    log_fd = os.open(log_path, os.O_WRONLY | os.O_CREAT | os.O_TRUNC, 0o644)
    os.dup2(log_fd, 2)
    os.close(log_fd)

    def _expire():
        os.write(real_err, f"perfbench: run exceeded {DEADLINE_S}s, aborting\n".encode())
        kill_tree()
        os._exit(3)

    watchdog = threading.Timer(DEADLINE_S, _expire)
    watchdog.daemon = True
    watchdog.start()
    try:
        result = workloads.run(args, mach, WORK)
    except BaseException:  # report, clean up and exit non-zero; re-raise interrupts
        tb = traceback.format_exc()
        kill_tree()
        os.write(real_err, tb.encode())
        os.write(real_err, f"perfbench: failed; JVM log at {log_path}\n".encode())
        if not isinstance(sys.exc_info()[1], Exception):
            raise
        return 1
    finally:
        watchdog.cancel()
    result["info"]["codegen_fallbacks"] = codegen_fallbacks(log_path)
    if args.trace:
        result["metrics"]["pipeline.codegen_fallbacks"] = (result["info"]["codegen_fallbacks"], "count")

    info = result["info"]
    import numpy
    import pyarrow
    import pyspark

    print(
        f"perfbench workload={args.workload} seed={args.seed} trace={args.trace} "
        f"nproc={mach['nproc']} heap={mach['heap']} mem={mach['mem_total_gb']}GiB "
        f"spark={pyspark.__version__} python={platform.python_version()} "
        f"pyarrow={pyarrow.__version__} numpy={numpy.__version__}"
    )
    print(f"why: {workloads.WORKLOADS[args.workload].why}")
    for k in sorted(info):
        print(f"  {k}: {json.dumps(info[k], sort_keys=True)}")
    for name, (value, unit) in result["report"].items():
        print(report_line(name, value, unit))
    for name, (value, unit) in sorted(result["metrics"].items()):
        print(report_line(name, value, unit))
    print(
        json.dumps(
            {
                "correct": result["correct"],
                "attempted": result["attempted"],
                "failed": result["failed"],
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in result["metrics"].items()},
            }
        )
    )
    sys.stdout.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main())
