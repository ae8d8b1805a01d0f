#!/usr/bin/env python3
"""Pin the expected result fingerprints of the query workloads.

Generates the registry tables at each query workload's scale, runs
every query of ``olap_mix`` and ``dedup_er`` on Spark and its DuckDB
oracle, and writes
``expected.json`` only if every pair of fingerprints agrees. Rerun
after changing the data generator or the query lists:

    python3 perfbench/pin_expected.py
"""

from __future__ import annotations

import json
import os
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def pin(work: str) -> tuple[dict, list[str]]:
    import datagen
    import workloads as W
    from fingerprint import duckdb_fingerprint, spark_fingerprint
    from harness import Config, start_session
    from vnavc_spark.oracle import duckdb_connect
    from vnavc_spark.queries import all_oracles, all_queries

    cfg = Config(workload="pin", seed=0, seconds=0, trace=False, work=work,
                 cpus=len(os.sched_getaffinity(0)))
    spark = start_session(cfg, None)
    queries, oracles = all_queries(), all_oracles()
    pinned, bad = {}, []
    try:
        for name in ("olap_mix", "dedup_er"):
            wl = W.make(name)
            data = datagen.write_tables(os.path.join(work, name), wl.sf)
            con = duckdb_connect(data)
            for q in wl.queries:
                want = duckdb_fingerprint(con, oracles[q])
                got = spark_fingerprint(queries[q](spark, data))
                print(f"{q} at sf{wl.sf}: {got['rows']} rows, "
                      f"{'ok' if got == want else 'MISMATCH'}", file=sys.stderr)
                if got == want:
                    pinned[q] = got
                else:
                    bad.append(q)
    finally:
        spark.stop()
    return pinned, bad


def main() -> int:
    import run

    with tempfile.TemporaryDirectory(dir=ROOT, prefix=".bench_work-pin-") as work:
        run.setup_env(work)
        pinned, bad = pin(work)
    if bad:
        print(f"not pinned, Spark and DuckDB disagree on: {bad}", file=sys.stderr)
        return 1
    import datagen
    import workloads as W
    from fingerprint import EXPECTED_PATH

    with open(EXPECTED_PATH, "w", encoding="utf-8") as fh:
        json.dump({"data_seed": datagen.DATA_SEED, "queries": pinned}, fh,
                  indent=1, sort_keys=True)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.path[:0] = [ROOT, HERE]
    sys.exit(main())
