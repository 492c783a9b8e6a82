"""Spark-free check that the operator modules hold no code nothing runs: an
``ast`` name closure from the entry module (``__spark_entry__.py``, whose
``queries()`` registers every query), the jobs and the benchmark must reach
every top-level function of every module under ``xcube_stac_spark/operators``."""

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parents[1]


def _names(node: ast.AST) -> set[str]:
    """Every bare name and attribute name referenced under ``node``."""
    return {
        n.id if isinstance(n, ast.Name) else n.attr
        for n in ast.walk(node)
        if isinstance(n, (ast.Name, ast.Attribute))
    }


def test_every_operator_function_is_reached():
    defs: dict[str, list[ast.AST]] = {}
    for path in (ROOT / "xcube_stac_spark").rglob("*.py"):
        for node in ast.parse(path.read_text()).body:
            if isinstance(node, (ast.FunctionDef, ast.ClassDef)):
                defs.setdefault(node.name, []).append(node)
            elif isinstance(node, ast.Assign):
                for name in _names(ast.Module(node.targets, [])):
                    defs.setdefault(name, []).append(node.value)
    roots = [ROOT / "__spark_entry__.py", *(ROOT / "jobs").rglob("*.py"),
             *(ROOT / "perfbench").rglob("*.py")]
    todo = set().union(*(_names(ast.parse(p.read_text())) for p in roots))
    reached: set[str] = set()
    while todo:
        name = todo.pop()
        reached.add(name)
        for node in defs.get(name, ()):
            todo |= _names(node) - reached
    unreached = [
        f"{path.name}:{n.name}"
        for path in sorted((ROOT / "xcube_stac_spark/operators").glob("*.py"))
        for n in ast.parse(path.read_text()).body
        if isinstance(n, ast.FunctionDef) and n.name not in reached
    ]
    assert unreached == []
