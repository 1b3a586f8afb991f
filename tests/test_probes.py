"""Suite wrappers for the r11 auditable probe tools: exact-boundary
time semantics and zero-row robustness are permanent invariants, not
one-round evidence — a regression in either must turn the suite red."""

from __future__ import annotations

import ast
import glob
import importlib
import os
import subprocess
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_time_boundaries_agree_with_oracles(spark):
    # in-process: the tool getOrCreate()s (and never stops) the shared
    # session, and none of its target queries use the xcheck channel, so
    # import-time oracle paths don't matter
    from tools.probe_time_boundaries import main

    assert main() == 0


def test_all_gated_queries_run_on_empty_tables():
    # SUBPROCESS on purpose: the tool must set SCORE_SPARK_ORACLE_SF_DIR
    # BEFORE __spark_entry__ imports (xcheck oracle strings embed their
    # channel path at import time) — inside a shared pytest interpreter
    # the entry module may already be cached with the default path
    r = subprocess.run(
        [sys.executable, os.path.join(_REPO, "tools", "probe_degenerate_inputs.py")],
        capture_output=True, text=True, cwd=_REPO, timeout=540,
    )
    tail = (r.stdout + r.stderr)[-2000:]
    assert r.returncode == 0, tail


def test_profile_query_small_input(spark, sf_dir):
    """tools/profile_query.py in-process at sf0.001 with one rep, on a
    memoized query and on a _NO_MEMO one whose build runs jobs (h01
    persists and writes its xcheck file). It uses the suite's session and
    leaves it running."""
    from tools.profile_query import main

    report = main(["q01_pricing_summary", "h01_time_rollup", "--sf", sf_dir, "--reps", "1"])
    assert set(report) == {"sf_dir", "reps", "conf", "cpus", "load1_start", "queries"}
    assert list(report["queries"]) == ["q01_pricing_summary", "h01_time_rollup"]
    for name, q in report["queries"].items():
        assert set(q) == {
            "walls", "best", "median", "construct_jobs", "summary", "gap_accounting", "stages"
        }, name
        assert len(q["walls"]) == 1 and q["best"] == q["median"] == q["walls"][0]
        assert {"jobs", "stages", "tasks", "exchanges", "pyudf_nodes", "driver_gap_s"} <= set(q["summary"])
        assert q["summary"]["stages"] == len(q["stages"]) > 0, name
        assert q["gap_accounting"]["covered_sec"] <= q["gap_accounting"]["span_sec"], name
    assert report["queries"]["h01_time_rollup"]["construct_jobs"] >= 1
    assert not spark.sparkContext._jsc.sc().isStopped()


def test_plan_corpus_small_subset(spark, sf_dir):
    """tools/plan_corpus.py in-process at sf0.001 on a few suite queries and
    family instances (every format, a subquery, a set operation, the
    3-source join): --check-json finds the exporter's plan JSON equal to
    toJSON() with no fallback, and --digest gives one SHA-256 per plan."""
    from tools.plan_corpus import main

    match = r"^suite/q0[1-4]|^(join/v1/parquet|subquery/v0/json|setop/v2/avro)/d3/c4$"
    checked = main(["--check-json", "--sf", sf_dir, "--match", match])
    assert checked["plans"] == 6 and checked["failed"] == {} and checked["fallbacks"] == 0, checked
    digests = main(["--digest", "--sf", sf_dir, "--match", match])["digests"]
    assert len(digests) == 6 and all(len(sha) == 64 for sha in digests.values())
    assert not spark.sparkContext._jsc.sc().isStopped()


def _top_level_names(path: str) -> set[str]:
    """Names a module binds at top level (defs, classes, assignments,
    imports), including inside top-level if/try/with blocks."""
    names: set[str] = set()

    def visit(body):
        for node in body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                names.add(node.name)
                continue
            if isinstance(node, (ast.Assign, ast.AnnAssign, ast.AugAssign)):
                targets = node.targets if isinstance(node, ast.Assign) else [node.target]
                for t in targets:
                    names.update(n.id for n in ast.walk(t) if isinstance(n, ast.Name))
            elif isinstance(node, (ast.Import, ast.ImportFrom)):
                names.update((a.asname or a.name).split(".")[0] for a in node.names)
            for field in ("body", "orelse", "finalbody", "handlers"):
                visit(getattr(node, field, []))

    with open(path) as f:
        visit(ast.parse(f.read(), path).body)
    return names


def _repo_file(module: str) -> str | None:
    """The in-repo source file of a non-library module the tools import:
    tools.X / tests.X / a root module (bench, __spark_entry__) / a bare
    sibling tool (the tools put their own directory on sys.path)."""
    rel = module.replace(".", os.sep) + ".py"
    for cand in (rel, os.path.join("tools", rel)):
        if os.path.isfile(os.path.join(_REPO, cand)):
            return os.path.join(_REPO, cand)
    return None


def _tool_trees():
    for path in sorted(glob.glob(os.path.join(_REPO, "tools", "*.py"))):
        with open(path) as f:
            yield os.path.basename(path), ast.parse(f.read(), path)


def test_tool_imports_resolve():
    """Every in-repo name a tool imports must still exist. The tools are
    parsed, never executed, so a tool still importing a helper the package
    has since removed fails here instead of at its next hand run."""
    broken = []
    for tool, tree in _tool_trees():
        for node in ast.walk(tree):
            if isinstance(node, ast.Import):
                imports = [(a.name, None) for a in node.names]
            elif isinstance(node, ast.ImportFrom) and node.module and not node.level:
                imports = [(node.module, a.name) for a in node.names]
            else:
                continue
            for module, name in imports:
                top = module.split(".")[0]
                if top == "score_spark":
                    try:
                        mod = importlib.import_module(module)
                    except ImportError as e:
                        broken.append(f"{tool}:{node.lineno} {module}: {e}")
                        continue
                    if name is not None and not hasattr(mod, name):
                        try:
                            importlib.import_module(f"{module}.{name}")
                        except ImportError:
                            broken.append(f"{tool}:{node.lineno} {module} has no {name}")
                elif top in ("tools", "tests") or _repo_file(top) is not None:
                    if module in ("tools", "tests"):  # from tools import X
                        if _repo_file(f"{module}.{name}") is None:
                            broken.append(f"{tool}:{node.lineno} no module {module}.{name}")
                        continue
                    src = _repo_file(module)
                    if src is None:
                        broken.append(f"{tool}:{node.lineno} no module {module}")
                    elif name is not None and name not in _top_level_names(src):
                        broken.append(f"{tool}:{node.lineno} {module} has no {name}")
    assert not broken, "\n".join(broken)


def _is_main_guard(node) -> bool:
    return (
        isinstance(node, ast.If)
        and isinstance(node.test, ast.Compare)
        and isinstance(node.test.left, ast.Name)
        and node.test.left.id == "__name__"
    )


def test_no_tool_starts_spark_at_import():
    """A tool builds its session inside a function or under its __main__
    guard, so importing it (tests, sibling tools) never starts a JVM."""
    found = []
    for tool, tree in _tool_trees():
        for stmt in tree.body:
            if _is_main_guard(stmt) or isinstance(
                stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ):
                continue
            for node in ast.walk(stmt):
                if isinstance(node, ast.Call) and "get_session" in (
                    getattr(node.func, "id", None), getattr(node.func, "attr", None)
                ):
                    found.append(f"{tool}:{node.lineno}")
    assert not found, found


def test_no_tool_reads_the_spark_ui():
    """Stage metrics come from score_spark.profile (the in-process status
    store), so no tool turns the UI on or fetches its REST API."""
    banned = ("/api/v1", "uiWebUrl", "spark.ui.enabled")
    found = []
    for tool, tree in _tool_trees():
        for node in ast.walk(tree):
            text = (
                node.value if isinstance(node, ast.Constant) and isinstance(node.value, str)
                else getattr(node, "attr", None) or getattr(node, "id", None)
            )
            if isinstance(text, str) and any(b in text for b in banned):
                found.append(f"{tool}:{node.lineno}: {text[:60]!r}")
    assert not found, found
