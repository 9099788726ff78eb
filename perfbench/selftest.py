"""Self-checks of the benchmark's own machinery (not of the engine).

    python3 perfbench/selftest.py

1. Determinism: the same seed gives byte-identical input files; another
   seed gives the same schemas and row counts with different content.
2. Failure accounting: a query checked against a corrupted expected hash
   is counted as failed.

Prints one JSON line and exits non-zero if a check does not hold.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import sys
from collections import defaultdict

import pyarrow.parquet as pq

from run import OUT_DIR, Bench, _shutdown, start_session  # sets up the import paths

import gen
from check import oracle_expectations

from wikipediaetl_spark.catalog import all_queries


def _digests(d: str) -> dict[str, str]:
    return {
        f: hashlib.sha256(open(os.path.join(d, f), "rb").read()).hexdigest()
        for f in sorted(os.listdir(d))
        if f.endswith(".parquet")
    }


def determinism(root: str) -> dict:
    a1, _ = gen.generate(os.path.join(root, "a"), 7, 0.01, 500)
    a2, _ = gen.generate(os.path.join(root, "b"), 7, 0.01, 500)
    b, _ = gen.generate(os.path.join(root, "c"), 8, 0.01, 500)
    da, db = _digests(a1), _digests(b)
    same_shape = all(
        pq.read_schema(os.path.join(a1, f)) == pq.read_schema(os.path.join(b, f))
        and pq.read_metadata(os.path.join(a1, f)).num_rows == pq.read_metadata(os.path.join(b, f)).num_rows
        for f in da
    )
    varying = [f for f in da if da[f] != db[f]]
    return {
        "same_seed_identical": da == _digests(a2),
        "other_seed_same_schema_and_rows": same_shape,
        # region and nation are fixed tables; every other table must change
        "other_seed_differs": sorted(varying) == sorted(set(da) - {"region.parquet", "nation.parquet"}),
    }


def failure_accounting(root: str) -> dict:
    data, info = gen.generate(os.path.join(root, "a"), 7, 0.01, 500)
    qs = all_queries()
    name = "q01_pricing_summary"
    info["oracle"] = oracle_expectations(data, qs, [name])
    info["oracle"][name]["hash"] = "0" * 64
    spark = start_session(os.path.join(root, "spark"), "perfbench-selftest")
    try:
        bench = Bench(spark, "interactive_queries", data, info, os.path.join(root, "etl"))
        bench.query_op("corrupt-hash", name, defaultdict(float))
    finally:
        _shutdown(spark)
    return {
        "corrupted_hash_counted": bench.attempted == 1 and len(bench.failures) == 1,
        "failures": bench.failures,
    }


def main() -> int:
    root = os.path.join(OUT_DIR, f"selftest-{os.getpid()}")
    try:
        res = {**determinism(root), **failure_accounting(root)}
    finally:
        shutil.rmtree(root, ignore_errors=True)
    ok = all(v for k, v in res.items() if k != "failures")
    print(json.dumps({"ok": ok, **res}))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
