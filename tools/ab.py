"""Within-session A/B harness: time two or more arms of the same catalog
queries in one Spark session and assert that their results are identical.

    python tools/ab.py SF_DIR Q[,Q...] --arm NAME:conf=val[,conf=val] --arm ...
        [--pairs N] [--sink noop|collect] [--out F.json]

An arm is a dict of runtime SQL conf overrides (``NAME:`` alone keeps the
session's confs) or, from Python, a callable ``(spark, sf_dir) ->
DataFrame`` that stands in for the one query being compared. The rules:

- A conf arm's overrides are set before its DataFrame is built and
  restored after the action and the checksum (``session.scoped_confs``:
  a key the session had unset is unset again). A static or unknown conf
  raises ValueError before anything runs: it cannot differ between arms of
  one session.
- One untimed round first runs every arm in order, so that JVM warm-up
  on a cold session lands on no arm's timings; then each arm is warmed up
  once, and ``pairs`` rounds run the arms in alternating order (AB, BA,
  ...), all inside one session.
- Every rep rebuilds its DataFrame. Re-running one DataFrame reuses its
  shuffle files and times a different plan (OPTIMIZATION_r12.md). A rep's
  time covers the build (which may run jobs of its own) and the action.
- After each arm's first timed rep, outside the timed region, the result
  is checksummed: ``count(*)`` and ``sum(CAST(xxhash64(cols) AS
  DECIMAL(38,0)))``, each column cast to string with nulls made explicit
  so that the hash sees null positions and map columns. The sum is
  decimal because a LONG sum of 64-bit hashes raises ARITHMETIC_OVERFLOW
  under the ANSI mode ``catalog._PINNED_CONFS`` pins. Row order is not
  compared. Differing checksums raise ``ValuesDiverged``.
- That rep runs under its own job group. The arm reports its jobs, stages,
  tasks, shuffle-write and spill bytes (``SparkCounters.group_counts``)
  and the final adaptive plan's operator times and top three operators
  (``SparkCounters.plan_metrics``), both from perfbench/spans.py.
- A q01 canary over the sibling ``sf0.001`` directory (``SF_DIR`` itself
  when there is none) is timed at the start and at the end; the CLI also
  records ``bench._first_touch_probe_sec()`` before it starts the session.
  Together they tell machine-epoch drift apart from arm effects.

Sinks: ``noop`` executes the plan and drops the rows on the executors
(``queryExecution().toRdd().count()``, so the executed plan's metrics stay
readable); ``collect`` fetches the rows to the driver.

The result is one JSON object; the CLI prints it as one line and, with
``--out``, also writes it to a file.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from pyspark.sql import functions as F  # noqa: E402

from perfbench.spans import SparkCounters  # noqa: E402
from wikipediaetl_spark.catalog import all_queries  # noqa: E402
from wikipediaetl_spark.session import scoped_confs  # noqa: E402

CANARY = "q01_pricing_summary"
CANARY_SF = "sf0.001"
COUNT_KEYS = ("jobs", "stages", "tasks", "shuffle_write_bytes", "spill_bytes")
SINKS = {
    "noop": lambda df: df._jdf.queryExecution().toRdd().count(),
    "collect": lambda df: df.collect(),
}


class ValuesDiverged(AssertionError):
    """Two arms of one query returned different results."""


def checksum(df) -> dict:
    """Order-insensitive identity of a result: row count and the exact
    DECIMAL(38,0) sum of each row's xxhash64."""
    pos = df.toDF(*(f"c{i}" for i in range(len(df.columns))))  # duplicate/dotted names
    cols = [F.coalesce(F.col(c).cast("string"), F.lit("\0null")) for c in pos.columns]
    row = pos.agg(
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("hash_sum"),
    ).first()
    return {"rows": row["rows"], "hash_sum": str(row["hash_sum"])}


def _check_confs(spark, confs: dict) -> None:
    for k in confs:
        if not spark.conf.isModifiable(k):
            raise ValueError(
                f"{k} is not a runtime SQL conf: it cannot differ between arms of one session"
            )


def _canary(spark, catalog: dict, sf_dir: str) -> float:
    d = os.path.join(os.path.dirname(os.path.normpath(sf_dir)), CANARY_SF)
    t0 = time.perf_counter()
    catalog[CANARY].fn(spark, d if os.path.isdir(d) else sf_dir).collect()
    return time.perf_counter() - t0


def ab(spark, sf_dir: str, queries: list[str], arms: dict, pairs: int = 5, sink: str = "noop") -> dict:
    """Run every query under every arm, alternating, in ``spark``'s session;
    raise ``ValuesDiverged`` if the arms' results differ."""
    if len(arms) < 2 or pairs < 1:
        raise ValueError("an A/B needs at least two arms and one pair")
    if sink not in SINKS:
        raise ValueError(f"sink must be one of {sorted(SINKS)}, not {sink!r}")
    if any(callable(a) for a in arms.values()) and len(queries) != 1:
        raise ValueError("a callable arm stands in for one query: pass exactly one")
    for a in arms.values():
        if not callable(a):
            _check_confs(spark, a)
    catalog = all_queries()
    counters = SparkCounters(spark)
    names = list(arms)
    out = {"sf_dir": sf_dir, "pairs": pairs, "sink": sink, "canary_q01_sec": {}, "queries": {}}
    out["canary_q01_sec"]["start"] = _canary(spark, catalog, sf_dir)

    for q in queries:
        res = {
            n: {"callable": getattr(a, "__name__", repr(a))} if callable(a) else {"conf": dict(a)}
            for n, a in arms.items()
        }
        order: list[str] = []

        def rep(n: str, group: str, evidence: bool = False) -> float:
            arm = arms[n]
            build = arm if callable(arm) else catalog[q].fn
            with scoped_confs(spark, {} if callable(arm) else arm):
                counters.job_group(group)
                try:
                    t0 = time.perf_counter()
                    df = build(spark, sf_dir)
                    SINKS[sink](df)
                    dt = time.perf_counter() - t0
                finally:
                    counters.clear_job_group()
                if evidence:  # untimed
                    r = res[n]
                    r["checksum"] = checksum(df)
                    counts = counters.group_counts(group)
                    r.update({k: counts[k] for k in COUNT_KEYS})
                    pm = counters.plan_metrics(df)
                    r["top_ops"], r["op_time_s"] = pm["top_ops"], pm["op_time_s"]
            return dt

        for n in names:
            rep(n, f"ab/{q}/{n}/settle")
        for n in names:
            res[n]["warmup_s"] = rep(n, f"ab/{q}/{n}/warmup")
            res[n]["times_s"] = []
        for i in range(pairs):
            for n in names if i % 2 == 0 else names[::-1]:
                res[n]["times_s"].append(rep(n, f"ab/{q}/{n}/{i}", evidence=i == 0))
                order.append(n)
            if i == 0:
                sums = {n: res[n]["checksum"] for n in names}
                if any(s != sums[names[0]] for s in sums.values()):
                    raise ValuesDiverged(f"{q}: arms returned different results: {sums}")
        for n in names:
            res[n]["median_s"] = statistics.median(res[n]["times_s"])
        out["queries"][q] = {"order": order, "arms": res}

    out["canary_q01_sec"]["end"] = _canary(spark, catalog, sf_dir)
    return out


def parse_arm(spec: str) -> tuple[str, dict]:
    """``NAME:conf=val[,conf=val]`` -> (NAME, {conf: val})."""
    name, sep, body = spec.partition(":")
    if not name or not sep:
        raise argparse.ArgumentTypeError(f"arm {spec!r} is not NAME:conf=val[,conf=val]")
    confs = {}
    for kv in filter(None, body.split(",")):
        k, eq, v = kv.partition("=")
        if not eq:
            raise argparse.ArgumentTypeError(f"arm {spec!r}: {kv!r} is not conf=val")
        confs[k.strip()] = v.strip()
    return name, confs


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("sf_dir")
    ap.add_argument("queries", help="comma-separated catalog names")
    ap.add_argument("--arm", action="append", type=parse_arm, required=True)
    ap.add_argument("--pairs", type=int, default=5)
    ap.add_argument("--sink", choices=sorted(SINKS), default="noop")
    ap.add_argument("--out")
    a = ap.parse_args(argv)
    arms = dict(a.arm)
    if len(arms) != len(a.arm):
        ap.error("arm names must be distinct")

    from bench import _first_touch_probe_sec
    from wikipediaetl_spark.session import get_spark

    probe_s = _first_touch_probe_sec()
    spark = get_spark("ab", extra_conf={"spark.ui.showConsoleProgress": "false"})
    try:
        res = ab(spark, a.sf_dir, a.queries.split(","), arms, a.pairs, a.sink)
    finally:
        spark.stop()
    line = json.dumps({"first_touch_probe_sec": probe_s, **res}, default=str)
    print(line)
    if a.out:
        with open(a.out, "w") as f:
            f.write(line + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
