"""Every top-level function or class in the package has a caller, and every
option of a public top-level function is set by some call.

Callers are some module of the package, the tests, kgbench, the scripts, the
tools, `__spark_entry__.py` or `bench.py`. Parses with `ast`; no Spark
session."""

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = ROOT / "llm_review_aggregation_spark"
CHECKED = [PKG / "functions", PKG / "operators", PKG / "plans", PKG / "streaming",
           *sorted(PKG.glob("*.py"))]
SOURCES = [PKG, ROOT / "tests", ROOT / "kgbench", ROOT / "scripts", ROOT / "tools",
           ROOT / "__spark_entry__.py", ROOT / "bench.py"]
_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _py_files(path: Path):
    return [path] if path.is_file() else sorted(path.rglob("*.py"))


def _name(node: ast.AST) -> str | None:
    if isinstance(node, ast.Name):
        return node.id
    if isinstance(node, ast.Attribute):
        return node.attr
    return None


def _referenced(node: ast.AST) -> set[str]:
    return {_name(n) for n in ast.walk(node) if isinstance(n, (ast.Name, ast.Attribute))}


def test_every_function_and_operator_def_has_a_reference():
    defs = {
        (path, node.name)
        for root in CHECKED
        for path in _py_files(root)
        for node in ast.parse(path.read_text()).body
        if isinstance(node, _DEFS)
    }
    assert defs
    # names used in each file, with each top-level definition's own body
    # kept apart so that a function calling itself does not keep it alive
    used: set[tuple[Path | None, str]] = set()
    for path in {p for src in SOURCES for p in _py_files(src)}:
        for node in ast.parse(path.read_text()).body:
            own = getattr(node, "name", None) if isinstance(node, _DEFS) else None
            for name in _referenced(node):
                used.add((path if name == own else None, name))
    dead = sorted(
        f"{path.relative_to(ROOT)}:{name}" for path, name in defs if (None, name) not in used
    )
    assert not dead, f"definitions nobody references: {dead}"


def _options(fn: ast.FunctionDef) -> list[tuple[int | None, str]]:
    """(position or None for keyword-only, name) of each parameter with a
    default."""
    a = fn.args
    pos = a.posonlyargs + a.args
    first = len(pos) - len(a.defaults)
    return [(i, p.arg) for i, p in enumerate(pos) if i >= first] + [
        (None, p.arg) for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None
    ]


def test_every_option_is_set_by_a_call():
    """An optional parameter that no call passes is a constant in disguise.
    Calls match by the callee's bare or attribute name. A call with a `*`
    or `**` argument passes every option; a function referenced without
    being called (a registry entry, a monkeypatch target) keeps them all."""
    passed: dict[str, set] = {}
    uncalled: set[str] = set()
    for path in {p for src in SOURCES for p in _py_files(src)}:
        tree = ast.parse(path.read_text())
        callees = set()
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call):
                continue
            callees.add(id(node.func))
            got = passed.setdefault(_name(node.func), set())
            if any(isinstance(x, ast.Starred) for x in node.args) or any(
                k.arg is None for k in node.keywords
            ):
                got.add("*")
            got.update(range(len(node.args)))
            got.update(k.arg for k in node.keywords)
        uncalled.update(
            _name(n)
            for n in ast.walk(tree)
            if isinstance(n, (ast.Name, ast.Attribute)) and id(n) not in callees
        )
    unset = sorted(
        f"{path.relative_to(ROOT)}:{node.name}({name})"
        for path in _py_files(PKG)
        for node in ast.parse(path.read_text()).body
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
        and not node.name.startswith("_")
        and node.name not in uncalled
        and "*" not in passed.get(node.name, ())
        for pos, name in _options(node)
        if pos not in passed.get(node.name, ()) and name not in passed.get(node.name, ())
    )
    assert not unset, f"{len(unset)} options no call sets: {unset}"
