"""Output checks: order-insensitive result hashes and the DuckDB oracle.

A result hashes as the SHA-256 of its canonical row multiset, built with the
same canonicalization the repository's differential check uses
(``tools/check_oracle.py``: columns in name order, exact float repr, rows
sorted), plus its column names. The expected hash of a catalog query is its
DuckDB oracle's, computed once per input set and cached next to the inputs;
a query without an oracle is held to the hash of its first run.
"""

from __future__ import annotations

import hashlib
import json
import os

import check_oracle
from check_oracle import _arrow_type_family, _spark_type_family, canon_rows

ORACLE_FILE = "_oracle.json"


def _code_digest() -> bytes:
    """Digest of the hashing code (this file and ``check_oracle.py``): a
    cached oracle entry computed by other code is stale."""
    h = hashlib.sha256()
    for path in (__file__, check_oracle.__file__):
        with open(path, "rb") as f:
            h.update(f.read())
    return h.digest()


def _oracle_key(code: bytes, sql: str) -> str:
    return hashlib.sha256(code + sql.encode()).hexdigest()


def rows_hash(cols: list[str], rows: list[tuple]) -> tuple[str, int]:
    """(hex digest, canonical bytes hashed) of a result."""
    h = hashlib.sha256(",".join(sorted(cols)).encode())
    n = 0
    for line in canon_rows(cols, rows):
        b = line.encode()
        n += len(b) + 1
        h.update(b"\n")
        h.update(b)
    return h.hexdigest(), n


def spark_families(df) -> dict[str, str]:
    return {f.name: _spark_type_family(f.dataType) for f in df.schema.fields}


def oracle_expectations(data_dir: str, queries: dict, names: list[str]) -> dict[str, dict]:
    """{query: {"hash", "rows", "families"}} for every name with an oracle,
    from the cache file in ``data_dir`` or computed with DuckDB. A cached
    entry is reused only while its oracle SQL and the hashing code are the
    ones it was computed with."""
    path = os.path.join(data_dir, ORACLE_FILE)
    cached: dict[str, dict] = {}
    if os.path.exists(path):
        with open(path) as f:
            cached = json.load(f)
    code = _code_digest()
    keys = {n: _oracle_key(code, queries[n].oracle) for n in names if queries[n].oracle}
    todo = [n for n in keys if cached.get(n, {}).get("key") != keys[n]]
    if todo:
        import duckdb

        from wikipediaetl_spark.sources import TABLE_NAMES

        con = duckdb.connect()
        try:
            for t in TABLE_NAMES:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
                )
            for n in todo:
                tbl = con.execute(queries[n].oracle).fetch_arrow_table()
                rows = [tuple(c[i].as_py() for c in tbl.columns) for i in range(tbl.num_rows)]
                cached[n] = {
                    "key": keys[n],
                    "hash": rows_hash(tbl.column_names, rows)[0],
                    "rows": tbl.num_rows,
                    "families": {f.name: _arrow_type_family(f.type) for f in tbl.schema},
                }
        finally:
            con.close()
        tmp = f"{path}.tmp{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(cached, f, sort_keys=True)
        os.replace(tmp, path)
    return {n: cached[n] for n in keys}


def table_digests(spark, paths: dict[str, str]) -> dict[str, str]:
    """Order-insensitive digest of each written parquet table, all in one
    Spark job: row count and the exact DECIMAL sum of every row's xxhash64."""
    from functools import reduce

    from pyspark.sql import functions as F

    parts = []
    for name, path in paths.items():
        df = spark.read.parquet(path)
        parts.append(
            df.select(
                F.lit(name).alias("t"),
                F.count(F.lit(1)).alias("n"),
                F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)")).alias("h"),
            )
        )
    return {r["t"]: f"{r['n']}:{r['h']}" for r in reduce(lambda a, b: a.unionAll(b), parts).collect()}
