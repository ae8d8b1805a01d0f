#!/usr/bin/env python3
"""Benchmark entry point. Run from the root of a checkout:

    python3 perfbench/run.py --workload olap_mix --seed 1 --seconds 10 --trace 0

Prints one ``name value unit`` line per metric on stderr and, as the
last line of stdout, one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``,
per-layer metrics with ``--trace 1``). Everything the run writes goes
to ``.bench_work/`` under the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def driver_memory() -> str:
    """A quarter of MemTotal, whole GiB, at least 1g: the session's
    16g default would not fit a small machine without swap."""
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                kib = int(line.split()[1])
                return f"{max(1, kib // (4 * 1024 * 1024))}g"
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def setup_env(work: str) -> None:
    """Must run before pyspark or vnavc_spark is imported: the session
    module reads SPARK_GRAFT_DRIVER_MEM at import, and the JVM and its
    Python workers inherit the rest."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = driver_memory()
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p)
    os.environ.pop("SPARK_MASTER", None)
    sys.path[:0] = [ROOT, HERE]


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=("olap_mix", "dedup_er", "corpus_ingest"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "vnavc_spark")):
        sys.exit(f"no vnavc_spark package in {ROOT}: run from the root of a checkout")

    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    setup_env(work)
    import harness

    cfg = harness.Config(
        workload=args.workload, seed=args.seed, seconds=args.seconds,
        trace=bool(args.trace), work=work,
        cpus=len(os.sched_getaffinity(0)))
    try:
        result = harness.run(cfg)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run's work dir is still there
            pass
    print(emit(result), flush=True)
    return 0


def emit(result: dict) -> str:
    """List every metric by name with its unit (and the error rate) on
    stderr; return the one-line JSON result. ``allow_nan=False`` makes
    a NaN fail here, loudly, instead of producing unparseable JSON."""
    line = json.dumps(result, allow_nan=False)
    for name, m in result["metrics"].items():
        print(f"{name} {m['value']:.6g} {m['unit']}", file=sys.stderr)
    print(f"error_rate {result['failed'] / result['attempted']:.6g} ratio "
          f"({result['failed']} of {result['attempted']} ops)", file=sys.stderr)
    return line


if __name__ == "__main__":
    sys.exit(main())
