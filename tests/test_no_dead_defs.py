"""Every top-level function or class in `functions/`, `operators/` and
`plans/` has a caller: some module of the package, the tests, kgbench, the scripts, the
tools, `__spark_entry__.py` or `bench.py` names it, as a bare name or as an
attribute. A definition's own body does not count. Parses with `ast`; no
Spark session."""

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = ROOT / "llm_review_aggregation_spark"
CHECKED = [PKG / "functions", PKG / "operators", PKG / "plans"]
SOURCES = [PKG, ROOT / "tests", ROOT / "kgbench", ROOT / "scripts", ROOT / "tools",
           ROOT / "__spark_entry__.py", ROOT / "bench.py"]


def _py_files(path: Path):
    return [path] if path.is_file() else sorted(path.rglob("*.py"))


def _referenced(node: ast.AST) -> set[str]:
    return {
        n.id if isinstance(n, ast.Name) else n.attr
        for n in ast.walk(node)
        if isinstance(n, (ast.Name, ast.Attribute))
    }


def test_every_function_and_operator_def_has_a_reference():
    defs = {
        (path, node.name)
        for root in CHECKED
        for path in _py_files(root)
        for node in ast.parse(path.read_text()).body
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
    }
    assert defs
    # names used in each file, with each top-level definition's own body
    # kept apart so that a function calling itself does not keep it alive
    used: set[tuple[Path | None, str]] = set()
    for path in {p for src in SOURCES for p in _py_files(src)}:
        for node in ast.parse(path.read_text()).body:
            own = getattr(node, "name", None) if isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)) else None
            for name in _referenced(node):
                used.add((path if name == own else None, name))
    dead = sorted(
        f"{path.relative_to(ROOT)}:{name}" for path, name in defs if (None, name) not in used
    )
    assert not dead, f"definitions nobody references: {dead}"
