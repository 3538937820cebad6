"""Reachability guard: every public top-level function and class of the
package is used by the engine itself, by a benchmark workload, by
``bench.py`` or by the query entry points in ``__spark_entry__.py`` —
not only by its own tests.

A definition counts as reached when one of those files names it (as a
bare name, an attribute, or an imported name) outside the definition's
own body. The allowlist names the few definitions kept deliberately
without such a caller, each with its reason; an entry that no longer
exists, or that has gained a caller, fails the guard so the list stays
exact.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = "ksql_query_tutorial_spark"

# module path relative to the package (a whole module ends in ".py"),
# or "module:name" for one definition -> why it stays without a caller
ALLOWED = {
    "plans/checks.py": "the physical-plan assertion library the tests use",
    "ksql/engine.py:print_topic": "the console-consumer sink layout (S7)",
    "sources/jdbc.py:IncrementingIngest": "the incrementing JDBC ingest (S1)",
    "streaming/windows.py:interval_join": "the windowed stream-stream join (J3)",
    "streaming/replay.py:replay": "the streaming test harness",
    "operators/analytics.py:generalization_ladder":
        "the reference the one-pass form is tested against",
    "streaming/observe.py:with_ingest_metrics":
        "ingest telemetry, kept for the per-trigger telemetry on ROADMAP.md",
    "streaming/sinks.py:idempotent_foreach_batch":
        "exactly-once sink, kept for running KSQL queries as streams (ROADMAP.md)",
    "streaming/sinks.py:write_batch_parquet":
        "exactly-once sink, kept for running KSQL queries as streams (ROADMAP.md)",
}


def _corpus() -> list[Path]:
    return sorted(
        [*(ROOT / PACKAGE).rglob("*.py"), *(ROOT / "perfbench").glob("*.py"),
         ROOT / "bench.py", ROOT / "__spark_entry__.py"]
    )


def _is_module(dotted: str) -> bool:
    base = ROOT.joinpath(*dotted.split("."))
    return base.with_suffix(".py").exists() or (base / "__init__.py").exists()


def _uses(tree: ast.AST) -> list[tuple[str, int]]:
    """(name, line) for every name, attribute and imported definition."""
    out = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            out.append((node.id, node.lineno))
        elif isinstance(node, ast.Attribute):
            out.append((node.attr, node.lineno))
        elif isinstance(node, ast.ImportFrom) and node.module:
            # `from pkg.streaming import replay` imports a module, not
            # the function of the same name inside it
            out += [(a.name, node.lineno) for a in node.names
                    if not _is_module(f"{node.module}.{a.name}")]
    return out


def _scan() -> tuple[dict[str, tuple[Path, int, int]], set[str]]:
    """Public top-level definitions ("module:name" -> (file, first line,
    last line)) and the ones named outside their own bodies."""
    defs: dict[str, tuple[Path, int, int]] = {}
    uses: dict[str, list[tuple[Path, int]]] = {}
    for path in _corpus():
        tree = ast.parse(path.read_text(), str(path))
        for name, line in _uses(tree):
            uses.setdefault(name, []).append((path, line))
        if PACKAGE not in path.parts:
            continue
        rel = path.relative_to(ROOT / PACKAGE).as_posix()
        for node in tree.body:
            if (isinstance(node, (ast.FunctionDef, ast.ClassDef))
                    and not node.name.startswith("_")):
                defs[f"{rel}:{node.name}"] = (path, node.lineno, node.end_lineno)
    reached = {
        key for key, (path, first, last) in defs.items()
        if any(not (p == path and first <= line <= last)
               for p, line in uses.get(key.split(":")[1], ()))
    }
    return defs, reached


def test_every_public_definition_is_reached():
    defs, reached = _scan()
    unreached = sorted(
        key for key in defs.keys() - reached
        if key not in ALLOWED and key.split(":")[0] not in ALLOWED
    )
    assert not unreached, (
        "only tests reach these definitions; delete them or give them a "
        f"caller: {unreached}")


def test_allowlist_is_exact():
    defs, reached = _scan()
    modules = {key.split(":")[0] for key in defs}
    missing = [e for e in ALLOWED if e not in defs and e not in modules]
    assert not missing, f"allowlist entries that no longer exist: {missing}"
    stale = sorted(e for e in ALLOWED if e in reached)
    assert not stale, f"allowlist entries that now have a caller: {stale}"
