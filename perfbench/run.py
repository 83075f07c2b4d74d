"""Benchmark runner: one workload per invocation.

    python3 perfbench/run.py --workload backfill_wide --seed 1 --seconds 20 --trace 0

Run from the repository root.  The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
A human-readable summary goes to stderr.  Exit codes: 0 ok, 1 an output
check failed (the JSON line still prints), 2 the program under test is
not importable from the working directory (nothing prints).

See ``perfbench/README.md`` for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
if HERE not in sys.path:
    sys.path.insert(0, HERE)

#: driver heap: well below the host's RAM (the package default is 24g)
DRIVER_MEM = "4g"
SCRATCH = ".perfbench_tmp"


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _program_present(root: str) -> bool:
    return os.path.isfile(os.path.join(root, "evmtrace_etl_spark", "session.py"))


def _isolate(root: str) -> str:
    """Per-run scratch inside the checkout; every temp path the session,
    its JVM and its Python workers use points into it."""
    scratch = os.path.join(root, SCRATCH, f"run-{os.getpid()}")
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "spark-local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(scratch, "warehouse")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    # Python workers import the package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    tempfile.tempdir = tmp
    return scratch


def main(argv=None) -> int:
    args = _parse(argv)
    root = os.getcwd()
    if not _program_present(root):
        print(
            "perfbench: evmtrace_etl_spark not found in the working directory; "
            "run from the repository root",
            file=sys.stderr,
        )
        return 2
    if root not in sys.path:
        sys.path.insert(0, root)

    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    scratch = _isolate(root)
    bench = workloads.Bench(
        scratch=scratch, seed=args.seed, seconds=args.seconds, trace=bool(args.trace)
    )
    try:
        result = workloads.WORKLOADS[args.workload](bench)
    finally:
        bench.close()
        shutil.rmtree(scratch, ignore_errors=True)
        try:
            os.rmdir(os.path.join(root, SCRATCH))
        except OSError:
            pass
    for line in bench.notes:
        print(line, file=sys.stderr)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    t0 = time.time()
    code = main()
    print(f"perfbench: exit {code} after {time.time() - t0:.1f} s", file=sys.stderr)
    sys.exit(code)
