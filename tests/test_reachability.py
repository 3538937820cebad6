"""Reachability guard: every public top-level function and class of the
package is used by the engine itself, by a benchmark workload, by
``bench.py`` or by the query entry points in ``__spark_entry__.py`` —
not only by its own tests.

A definition counts as reached when one of those files names it (as a
bare name, an attribute, or an imported name) outside the definition's
own body, or when it is declared an extension query with the
``_registry.query`` decorator (``__spark_entry__.queries()`` serves
every such query). The allowlist names the few definitions kept deliberately
without such a caller, each with its reason; an entry that no longer
exists, or that has gained a caller, fails the guard so the list stays
exact.

Flag guard, over the same files: every parameter of a public top-level
package function that defaults to ``True``, ``False`` or ``None`` is
passed another value by some call outside the function's own body, and
is left at its default by at least one such call. A flag (or a
``None``-defaulted option) that only tests set keeps a second code path
that no query, statement or workload runs; so does a default that every
caller overrides with a literal (or a module-level name bound to one).
Allowlisted definitions are exempt; ``TEST_SEAMS`` names the few
parameters kept deliberately as test seams, each with its reason, and
must stay exact.
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
    "streaming/replay.py:replay": "the streaming test harness",
    "streaming/sinks.py:idempotent_foreach_batch":
        "exactly-once sink, kept for running KSQL queries as streams (ROADMAP.md)",
    "streaming/sinks.py:write_batch_parquet":
        "exactly-once sink, kept for running KSQL queries as streams (ROADMAP.md)",
}

# "module:function.param" -> why only tests set it
TEST_SEAMS = {
    "ksql/cli.py:main.argv":
        "argparse's convention: None reads sys.argv, tests pass a list",
    "operators/dedup.py:embedding_cosine_pairs.n_blocks":
        "reaches the multi-block matmul path at fixture size",
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


def _query_decorators(tree: ast.Module) -> set[str]:
    """The names under which a module imports the extension registry's
    ``query`` decorator."""
    return {a.asname or a.name for n in tree.body
            if isinstance(n, ast.ImportFrom)
            and (n.module or "").split(".")[-1] == "_registry"
            for a in n.names if a.name == "query"}


def _scan() -> tuple[dict[str, tuple[Path, int, int]], set[str]]:
    """Public top-level definitions ("module:name" -> (file, first line,
    last line)) and the ones reached: named outside their own bodies or
    declared as extension queries."""
    defs: dict[str, tuple[Path, int, int]] = {}
    uses: dict[str, list[tuple[Path, int]]] = {}
    declared: set[str] = set()
    for path in _corpus():
        tree = ast.parse(path.read_text(), str(path))
        for name, line in _uses(tree):
            uses.setdefault(name, []).append((path, line))
        if PACKAGE not in path.parts:
            continue
        rel = path.relative_to(ROOT / PACKAGE).as_posix()
        query = _query_decorators(tree)
        for node in tree.body:
            if (isinstance(node, (ast.FunctionDef, ast.ClassDef))
                    and not node.name.startswith("_")):
                defs[f"{rel}:{node.name}"] = (path, node.lineno, node.end_lineno)
                if any(isinstance(d, ast.Call) and isinstance(d.func, ast.Name)
                       and d.func.id in query for d in node.decorator_list):
                    declared.add(f"{rel}:{node.name}")
    reached = declared | {
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


def _flag_params(fn: ast.FunctionDef) -> dict[str, tuple[int | None, bool | None]]:
    """name -> (positional index, or None if keyword-only; default) for
    every parameter whose default is a ``True``/``False``/``None``
    literal."""
    a = fn.args
    pos = [*a.posonlyargs, *a.args]
    first = len(pos) - len(a.defaults)
    pairs = [(p, first + i, d) for i, (p, d) in enumerate(zip(pos[first:], a.defaults))]
    pairs += [(p, None, d) for p, d in zip(a.kwonlyargs, a.kw_defaults)]
    return {p.arg: (i, d.value) for p, i, d in pairs
            if isinstance(d, ast.Constant)
            and (d.value is None or isinstance(d.value, bool))}


_UNKNOWN = object()  # an argument that is no literal
_LEFT = object()  # no argument: the default applies


def _literal(arg: ast.expr, consts: dict[str, object]) -> object:
    """The value of a literal argument, or of a module-level name bound
    to a literal; ``_UNKNOWN`` for anything else."""
    if isinstance(arg, ast.Constant):
        return arg.value
    if isinstance(arg, ast.Name):
        return consts.get(arg.id, _UNKNOWN)
    return _UNKNOWN


def _module_consts(tree: ast.Module) -> dict[str, object]:
    return {t.id: n.value.value for n in tree.body
            if isinstance(n, ast.Assign) and isinstance(n.value, ast.Constant)
            for t in n.targets if isinstance(t, ast.Name)}


def _unset_flags() -> list[str]:
    """"module:function.param" for every flag of a public top-level
    package function that no call outside its own body sets to anything
    but its default (a non-literal argument counts as setting it), or
    that every such call sets to a literal other than its default."""
    flags: dict[str, tuple[Path, int, int, dict]] = {}
    calls: dict[str, list[tuple[Path, ast.Call]]] = {}
    consts: dict[Path, dict[str, object]] = {}
    for path in _corpus():
        tree = ast.parse(path.read_text(), str(path))
        consts[path] = _module_consts(tree)
        for node in ast.walk(tree):
            if isinstance(node, ast.Call):
                f = node.func
                name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
                calls.setdefault(name, []).append((path, node))
        if PACKAGE not in path.parts:
            continue
        rel = path.relative_to(ROOT / PACKAGE).as_posix()
        for node in tree.body:
            if isinstance(node, ast.FunctionDef) and not node.name.startswith("_"):
                params = _flag_params(node)
                if params:
                    flags[f"{rel}:{node.name}"] = (
                        path, node.lineno, node.end_lineno, params)
    unset = []
    for key, (path, first, last, params) in flags.items():
        if key in ALLOWED or key.split(":")[0] in ALLOWED:
            continue
        outside = [(p, c) for p, c in calls.get(key.split(":")[1], ())
                   if not (p == path and first <= c.lineno <= last)]
        for param, (idx, default) in params.items():
            passed = []
            for p, c in outside:
                arg = next((kw.value for kw in c.keywords if kw.arg == param), None)
                if (arg is None and idx is not None and idx < len(c.args)
                        and not any(isinstance(a, ast.Starred)
                                    for a in c.args[:idx + 1])):
                    arg = c.args[idx]
                passed.append(_LEFT if arg is None else _literal(arg, consts[p]))
            never_set = all(v is _LEFT or v is default for v in passed)
            always_set = bool(passed) and all(
                v is not _LEFT and v is not _UNKNOWN and v is not default
                for v in passed)
            if never_set or always_set:
                unset.append(f"{key}.{param}")
    return sorted(unset)


def test_every_flag_is_set_by_a_caller():
    unset = _unset_flags()
    flagged = [u for u in unset if u not in TEST_SEAMS]
    assert not flagged, (
        "only tests set these flags away from their defaults; delete the "
        f"flag and the path it selects, or give it a caller: {flagged}")
    stale = sorted(TEST_SEAMS.keys() - set(unset))
    assert not stale, f"test seams that are gone or now have a caller: {stale}"
