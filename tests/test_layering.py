"""Module layering: the library never imports the query catalog.

``dasladen_spark.plans`` registers ~270 queries and their oracle SQL;
importing any one plan module loads them all. Tasks, operators, sinks,
sources, streaming and the runner must not depend on it — the plans
import the library, never the other way round."""

import ast
import pathlib

import dasladen_spark

PKG = pathlib.Path(dasladen_spark.__file__).parent


def _plan_imports(path: pathlib.Path) -> list[str]:
    found = []
    for node in ast.walk(ast.parse(path.read_text(encoding="utf-8"))):
        if isinstance(node, ast.Import):
            names = [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom) and node.level == 0:
            names = [node.module or ""]
            names += [f"{node.module}.{a.name}" for a in node.names]
        else:
            continue
        found += [
            f"{path.relative_to(PKG.parent)}:{node.lineno} {n}"
            for n in names
            if n == "dasladen_spark.plans"
            or n.startswith("dasladen_spark.plans.")
        ]
    return found


def test_library_modules_do_not_import_plans():
    modules = [
        p for p in PKG.rglob("*.py") if PKG / "plans" not in p.parents
    ]
    assert len(modules) > 50
    offenders = [hit for p in sorted(modules) for hit in _plan_imports(p)]
    assert offenders == []
