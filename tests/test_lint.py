"""Plan-linter behavior: flags the anti-patterns, stays quiet on good plans."""

from __future__ import annotations

import ast
import re
from pathlib import Path

from pyspark.sql import functions as F
from pyspark.sql import types as T

from wikipediaetl_spark.operators.relational import q11_star_join
from wikipediaetl_spark.plans import lint_plan
from wikipediaetl_spark.session import scoped_confs
from wikipediaetl_spark.sources import load_table

REPO_ROOT = Path(__file__).resolve().parents[1]


def test_lint_flags_row_udf(spark, sf_dir):
    @F.udf(T.IntegerType())
    def slow_len(s):
        return len(s) if s else 0

    d = load_table(spark, sf_dir, "documents").select(slow_len("text").alias("n"))
    findings = lint_plan(d)
    assert any("PYTHON_ROW_UDF" in f for f in findings)


def test_lint_flags_cartesian(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    with scoped_confs(spark, {"spark.sql.autoBroadcastJoinThreshold": "-1"}):
        cross = o.crossJoin(o.select(F.col("o_orderkey").alias("k2")))
        findings = lint_plan(cross)
        assert any("CARTESIAN" in f for f in findings)


def test_lint_quiet_on_good_plan(spark, sf_dir):
    findings = lint_plan(q11_star_join(spark, sf_dir))
    assert not any("CARTESIAN" in f or "PYTHON_ROW_UDF" in f for f in findings)


def test_readme_headline_numbers_match_bench_full_artifact():
    """VERDICT r7 #7 (r6 #7 second offense): the README's full-sweep numbers
    must be the committed BENCH_FULL.md totals — one source of truth.
    Regenerating BENCH_FULL.md without updating README turns this red."""
    import re

    with open(REPO_ROOT / "BENCH_FULL.md") as f:
        m = re.search(
            r"\| \*\*total\*\* \| \*\*([\d.]+)\*\* \| \*\*([\d.]+)\*\* \|", f.read()
        )
    assert m, "BENCH_FULL.md has no total row"
    spark_s, duck_s = m.group(1), m.group(2)
    with open(REPO_ROOT / "README.md") as f:
        readme = f.read()
    want = f"{spark_s} s Spark vs {duck_s} s\nDuckDB"
    flat = readme.replace("\n", " ")
    assert f"{spark_s} s Spark vs {duck_s} s DuckDB" in flat, (
        f"README full-sweep numbers drifted from BENCH_FULL.md total "
        f"({spark_s}/{duck_s})"
    )
    # and no OTHER 'X s Spark vs Y s DuckDB' claim hides a stale number
    claims = re.findall(r"([\d.]+) s Spark vs ([\d.]+) s DuckDB", flat)
    assert claims == [(spark_s, duck_s)], claims


def test_readme_idle_headline_matches_bench_idle_artifact():
    """VERDICT r8 #2 (third sighting of the drift class): the README's idle
    20-query headline seconds must be BENCH_IDLE.json's value and the q01
    canary must be the artifact's q01 — regenerating the artifact without
    updating the README paragraph turns this red."""
    import json
    import re

    with open(REPO_ROOT / "BENCH_IDLE.json") as f:
        idle = json.load(f)
    want = f"{idle['value']:.2f}"
    canary = idle["queries"]["q01_pricing_summary"]
    with open(REPO_ROOT / "README.md") as f:
        flat = f.read().replace("\n", " ")
    m = re.search(r"\*\*([\d.]+) s\*\* for the 20-query sf0.1 headline", flat)
    assert m, "README lost the idle-headline sentence"
    assert m.group(1) == want, f"README idle headline {m.group(1)} != artifact {want}"
    m = re.search(r"q01 canary ([\d.]+) s", flat)
    assert m and float(m.group(1)) == canary, "README q01 canary drifted"


def test_readme_under_comparator_count_matches_400x_artifact():
    """VERDICT r8 #2: the README's 'N queries run UNDER the comparator'
    claim and median must be recomputable from BENCH_SCALE_400x.json."""
    import json
    import re
    import statistics

    with open(REPO_ROOT / "BENCH_SCALE_400x.json") as f:
        qs = json.load(f)["queries"]
    ratios = [v["ratio"] for v in qs.values() if isinstance(v, dict) and "ratio" in v]
    under = sum(1 for r in ratios if r < 1.0)
    median = statistics.median(ratios)
    words = (
        "ZERO ONE TWO THREE FOUR FIVE SIX SEVEN EIGHT NINE TEN ELEVEN TWELVE "
        "THIRTEEN FOURTEEN FIFTEEN SIXTEEN SEVENTEEN EIGHTEEN NINETEEN TWENTY "
        "TWENTY-ONE TWENTY-TWO TWENTY-THREE TWENTY-FOUR TWENTY-FIVE TWENTY-SIX "
        "TWENTY-SEVEN TWENTY-EIGHT TWENTY-NINE THIRTY THIRTY-ONE THIRTY-TWO "
        "THIRTY-THREE THIRTY-FOUR THIRTY-FIVE THIRTY-SIX THIRTY-SEVEN "
        "THIRTY-EIGHT THIRTY-NINE FORTY"
    ).split()
    with open(REPO_ROOT / "README.md") as f:
        flat = f.read().replace("\n", " ")
    m = re.search(r"([\w-]+) queries run UNDER the single-node DuckDB comparator", flat)
    assert m, "README lost the under-comparator sentence"
    assert m.group(1) == words[under], (
        f"README says {m.group(1)}, artifact has {under} ratios < 1.0"
    )
    m = re.search(r"median of ([\d.]+)× across the (\d+) measured entries", flat)
    assert m, "README lost the median sentence"
    # exact-half medians (e.g. 2.845) round differently across tools;
    # accept either side of the half-ulp, reject real drift
    assert abs(float(m.group(1)) - median) < 0.006 and int(m.group(2)) == len(ratios), (
        f"README median/count {m.groups()} != artifact ({median}, {len(ratios)})"
    )


def _is_half(node: ast.expr) -> bool:
    """``0.5`` or ``F.lit(0.5)``."""
    if isinstance(node, ast.Call) and len(node.args) == 1:
        node = node.args[0]
    return isinstance(node, ast.Constant) and node.value == 0.5


def _sources(owner: Path, *dirs: str):
    """Every ``.py`` file under the repo-root ``dirs`` but ``owner``."""
    for d in dirs:
        for path in sorted((REPO_ROOT / d).rglob("*.py")):
            if path != owner:
                yield path


def test_half_up_quantizers_live_only_in_fixedpoint():
    """``F.floor(x + 0.5)`` / ``np.floor(x + 0.5)`` is the fixed-point
    rounding contract; every caller, engine or tool, goes through
    functions/fixedpoint.py so the contract has one owner. Docstrings and
    oracle SQL are not calls."""
    owner = REPO_ROOT / "wikipediaetl_spark" / "functions" / "fixedpoint.py"
    hits = []
    for path in _sources(owner, "wikipediaetl_spark", "tools"):
        for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "floor"
                and isinstance(node.func.value, ast.Name)
                and node.func.value.id in ("F", "np")
                and node.args
                and isinstance(node.args[0], ast.BinOp)
                and isinstance(node.args[0].op, ast.Add)
                and _is_half(node.args[0].right)
            ):
                hits.append(f"{path.relative_to(REPO_ROOT)}:{node.lineno}")
    assert hits == [], hits


def test_temporary_conf_overrides_go_through_scoped_confs():
    """A ``spark.conf.set``/``unset`` inside a ``finally:`` is a hand-written
    save/set/restore block. ``session.scoped_confs`` owns that pattern: it
    sets inside its ``try`` and unsets keys that were unset on entry. Tests
    are walked too: a hard-coded "restore" value leaks into later tests."""
    owner = REPO_ROOT / "wikipediaetl_spark" / "session.py"
    hits = []
    for path in _sources(owner, "wikipediaetl_spark", "tools", "tests"):
        for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
            if not isinstance(node, ast.Try):
                continue
            for stmt in node.finalbody:
                for call in ast.walk(stmt):
                    if (
                        isinstance(call, ast.Call)
                        and isinstance(call.func, ast.Attribute)
                        and call.func.attr in ("set", "unset")
                        and isinstance(call.func.value, ast.Attribute)
                        and call.func.value.attr == "conf"
                    ):
                        hits.append(f"{path.relative_to(REPO_ROOT)}:{call.lineno}")
    assert hits == [], hits


def _is_table_drop(call: ast.Call) -> bool:
    """A ``_drop_table(...)`` call, or a call passed ``DROP TABLE`` SQL."""
    f = call.func
    if (isinstance(f, ast.Name) and f.id == "_drop_table") or (
        isinstance(f, ast.Attribute) and f.attr == "_drop_table"
    ):
        return True
    return any(
        isinstance(n, ast.Constant)
        and isinstance(n.value, str)
        and re.search(r"\bDROP\s+TABLE\b", n.value, re.I)
        for arg in call.args
        for n in ast.walk(arg)
    )


def _is_query_decorator(dec: ast.expr) -> bool:
    f = dec.func if isinstance(dec, ast.Call) else dec
    return (isinstance(f, ast.Name) and f.id == "query") or (
        isinstance(f, ast.Attribute) and f.attr == "query"
    )


def hand_written_table_drops(pkg: Path) -> list[str]:
    """``module:function`` of every table drop under ``pkg`` outside
    operators/layout.py, or inside a ``@query`` builder anywhere."""
    owner = pkg / "operators" / "layout.py"
    hits = set()

    def visit(node: ast.AST, rel: str, fn: str | None, in_query: bool) -> None:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            fn = node.name
            in_query = in_query or any(map(_is_query_decorator, node.decorator_list))
        if isinstance(node, ast.Call) and _is_table_drop(node):
            if in_query or rel != owner.relative_to(pkg).as_posix():
                hits.add(f"{rel}:{fn}")
        for child in ast.iter_child_nodes(node):
            visit(child, rel, fn, in_query)

    for path in sorted(pkg.rglob("*.py")):
        rel = path.relative_to(pkg).as_posix()
        visit(ast.parse(path.read_text(), filename=str(path)), rel, None, False)
    return sorted(hits)


def test_scratch_tables_go_through_scoped_tables():
    """Dropping a table by hand before and after a build leaks it when the
    build raises. ``layout.scoped_tables`` owns the scratch-table lifecycle:
    it drops each table and its ``_staging`` sibling on entry and again on
    exit, even on an exception. Only the commit protocol in
    operators/layout.py drops tables itself, and never in a ``@query``."""
    assert hand_written_table_drops(REPO_ROOT / "wikipediaetl_spark") == []


# (module under wikipediaetl_spark/, innermost enclosing function or None
# for the whole module) -> why a schema-inferring parquet read belongs there
INFERRED_PARQUET_READS_ALLOWED = {
    ("sources/tables.py", "_inferred_schema_json"): "the schema memo's own inference on a miss",
    ("sources/tables.py", "parquet_schema"): "a path os.stat cannot fingerprint (remote URI) is inferred per call",
    ("sources/maintenance.py", None): "compaction and incremental ingest rewrite or grow the tables they read",
    ("sources/formats.py", "archive_processed"): "one read per archive run of a landing table the caller rewrites",
    ("operators/layout.py", "_materialize_merged"): "read-back of a staging directory written just before",
    ("operators/layout.py", "_read_layout"): "read-back of a partitioned layout; its empty-table fallback relies on the inferring read failing",
}


def inferred_parquet_reads(pkg: Path) -> list[str]:
    """``path:line`` of every ``spark.read....parquet(...)`` call under
    ``pkg`` with no ``.schema(...)`` in the chain, minus the allowlist."""
    hits = []

    def visit(node: ast.AST, rel: str, fn: str | None) -> None:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            fn = node.name
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "parquet"
        ):
            chain, cur = [], node.func.value
            while isinstance(cur, (ast.Call, ast.Attribute)):
                if isinstance(cur, ast.Call):
                    cur = cur.func
                else:
                    chain.append(cur.attr)
                    cur = cur.value
            allowed = {(rel, fn), (rel, None)} & INFERRED_PARQUET_READS_ALLOWED.keys()
            if "read" in chain and "schema" not in chain and not allowed:
                hits.append(f"{rel}:{node.lineno}")
        for child in ast.iter_child_nodes(node):
            visit(child, rel, fn)

    for path in sorted(pkg.rglob("*.py")):
        rel = path.relative_to(pkg).as_posix()
        visit(ast.parse(path.read_text(), filename=str(path)), rel, None)
    return hits


def test_parquet_reads_pass_a_schema():
    """Plain ``spark.read.parquet`` runs a footer-reading inference job on
    every call. Engine reads of fixture tables take their schema from
    ``sources.parquet_schema`` (memoized per file version) instead."""
    assert inferred_parquet_reads(REPO_ROOT / "wikipediaetl_spark") == []


def _wraps_inheritable(node: ast.expr) -> bool:
    """``inheritable_thread_target(fn)`` or ``inheritable_thread_target(spark)(fn)``."""
    while isinstance(node, ast.Call):
        f = node.func
        if (isinstance(f, ast.Name) and f.id == "inheritable_thread_target") or (
            isinstance(f, ast.Attribute) and f.attr == "inheritable_thread_target"
        ):
            return True
        node = f
    return False


def unwrapped_threads(pkg: Path) -> list[str]:
    """``path:line`` of every ``Thread(...)`` whose ``target`` and every
    ``.submit(fn, ...)`` whose ``fn`` is not wrapped in
    ``inheritable_thread_target`` under ``pkg``."""
    hits = []
    for path in sorted(pkg.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
            if not isinstance(node, ast.Call):
                continue
            f = node.func
            name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
            if name == "Thread":
                target = next((k.value for k in node.keywords if k.arg == "target"), None)
            elif name == "submit":
                target = node.args[0] if node.args else None
            else:
                continue
            if target is None or not _wraps_inheritable(target):
                hits.append(f"{path.relative_to(pkg).as_posix()}:{node.lineno}")
    return sorted(hits)


def test_engine_threads_inherit_the_callers_local_properties():
    """A driver thread Spark does not know about runs its jobs outside the
    caller's job group, description and local properties, so job counters
    keyed on the group (perfbench, ``tools/ab.py``, the ``jobs_of``
    fixture) miss them. Engine threads start only through
    ``inheritable_thread_target`` or ``InheritableThread``."""
    assert unwrapped_threads(REPO_ROOT / "wikipediaetl_spark") == []


def test_thread_lint_flags_bare_threads_and_unwrapped_submits(tmp_path):
    (tmp_path / "m.py").write_text(
        "import threading\n"
        "from pyspark import inheritable_thread_target\n"
        "threading.Thread(target=f).start()\n"
        "pool.submit(f, 1)\n"
        "pool.submit(inheritable_thread_target(f), 1)\n"
        "pool.submit(inheritable_thread_target(spark)(f), 1)\n"
        "threading.Thread(target=inheritable_thread_target(spark)(f)).start()\n"
        "InheritableThread(target=f).start()\n"
    )
    assert unwrapped_threads(tmp_path) == ["m.py:3", "m.py:4"]


def isempty_probes(pkg: Path) -> list[str]:
    """``path:line`` of every ``.isEmpty()`` call under ``pkg``."""
    hits = []
    for path in _sources(None, pkg):
        for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "isEmpty"
            ):
                hits.append(f"{path.relative_to(pkg).as_posix()}:{node.lineno}")
    return sorted(hits)


def test_fixpoint_loops_count_inside_their_checkpoints():
    """``df.isEmpty()`` is a job of its own. A loop that checks a frame it
    has just checkpointed gets the row count from that checkpoint's job
    instead, through ``session.counted_checkpoint``."""
    assert isempty_probes(REPO_ROOT / "wikipediaetl_spark") == []


def test_isempty_lint_flags_probes(tmp_path):
    (tmp_path / "m.py").write_text(
        "df = df.localCheckpoint(eager=True)\n"
        "if df.isEmpty():\n"
        "    pass\n"
        "df, n = counted_checkpoint(df)\n"
        "done = not frontier.isEmpty()\n"
    )
    assert isempty_probes(tmp_path) == ["m.py:2", "m.py:5"]


def commit_sql_sites(pkg: Path) -> dict[str, dict[str, list[str]]]:
    """``{kind: {function: [path:line, ...]}}`` of every ``.sql(...)`` call
    under ``pkg`` whose SQL text renames a table (kind ``rename``) or sets
    table properties in a function that names ``_COMMIT_PROP`` (kind
    ``commit``). The function is the innermost enclosing one."""
    sites: dict[str, dict[str, list[str]]] = {"rename": {}, "commit": {}}

    def visit(node: ast.AST, rel: str, fn: str | None, names_commit: bool) -> None:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            fn = node.name
            names_commit = any(
                isinstance(n, ast.Name) and n.id == "_COMMIT_PROP" for n in ast.walk(node)
            )
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "sql"
            and node.args
        ):
            text = "".join(
                n.value
                for n in ast.walk(node.args[0])
                if isinstance(n, ast.Constant) and isinstance(n.value, str)
            )
            kinds = []
            if re.search(r"\bRENAME\s+TO\b", text, re.I):
                kinds.append("rename")
            if names_commit and re.search(r"\bSET\s+TBLPROPERTIES\b", text, re.I):
                kinds.append("commit")
            for kind in kinds:
                sites[kind].setdefault(fn, []).append(f"{rel}:{node.lineno}")
        for child in ast.iter_child_nodes(node):
            visit(child, rel, fn, names_commit)

    for path in _sources(None, pkg):
        rel = path.relative_to(pkg).as_posix()
        visit(ast.parse(path.read_text(), filename=str(path)), rel, None, False)
    return sites


def test_staged_swap_commits_in_one_place():
    """A maintained table is renamed into place and marked committed by one
    helper each: ``_rename_into_place`` (shared by the swap and its crash
    recovery) and ``staged_swap_write``. A second hand-written copy of the
    protocol is how the watermark and the column types drifted before."""
    sites = commit_sql_sites(REPO_ROOT / "wikipediaetl_spark")
    assert {kind: sorted(by_fn) for kind, by_fn in sites.items()} == {
        "rename": ["_rename_into_place"],
        "commit": ["staged_swap_write"],
    }, sites


def test_commit_sql_lint_flags_copies(tmp_path):
    (tmp_path / "m.py").write_text(
        "def a(spark):\n"
        "    spark.sql(f'ALTER TABLE {s} RENAME TO {t}')\n"
        "def b(spark):\n"
        "    props = f\"'{_COMMIT_PROP}'='true'\"\n"
        "    spark.sql(f'ALTER TABLE {s} SET TBLPROPERTIES ({props})')\n"
        "    spark.sql(f'ALTER TABLE {s} RENAME TO {t}')\n"
        "def c(spark):\n"
        "    spark.sql(f\"ALTER TABLE {t} SET TBLPROPERTIES ('{_PENDING_PROP}'='1')\")\n"
    )
    assert commit_sql_sites(tmp_path) == {
        "rename": {"a": ["m.py:2"], "b": ["m.py:6"]},
        "commit": {"b": ["m.py:5"]},
    }
