"""Order-independent result fingerprints, shared by the benchmark's
sinks and by the DuckDB pinning tool, so both sides hash alike."""

from __future__ import annotations

import json
import os

from vnavc_spark.oracle import value_hash

EXPECTED_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected.json")


def spark_fingerprint(df) -> dict:
    """Collect ``df`` (the op's sink) and hash every column of every
    row, ignoring row and column order."""
    cols = [c.lower() for c in df.columns]
    rows = [tuple(r) for r in df.collect()]
    return {"rows": len(rows), "sha256": value_hash(rows, cols)}


def duckdb_fingerprint(con, sql: str) -> dict:
    res = con.execute(sql)
    cols = [d[0].lower() for d in res.description]
    rows = res.fetchall()
    return {"rows": len(rows), "sha256": value_hash(rows, cols)}


def load_expected(path: str = EXPECTED_PATH) -> dict:
    with open(path, encoding="utf-8") as fh:
        return json.load(fh)
