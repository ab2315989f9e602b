"""Module layering: the library never imports the query catalog.

``dasladen_spark.plans`` registers ~270 queries and their oracle SQL;
importing any one plan module loads them all. Tasks, operators, sinks,
sources, streaming and the runner must not depend on it — the plans
import the library, never the other way round."""

import ast
import pathlib
import re

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


#: the plan modules every plan module may import: the registry and the
#: Spark/DuckDB spellings more than one domain shares
PLAN_COMMONS = ("dasladen_spark.plans.registry", "dasladen_spark.plans.shared")


def _imported_plan_modules(path: pathlib.Path) -> list[str]:
    """One entry per import statement in ``path`` that names a plan
    module: ``file:line module``."""
    found = []
    for node in ast.walk(ast.parse(path.read_text(encoding="utf-8"))):
        if isinstance(node, ast.Import):
            targets = [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom) and node.level == 0:
            base = node.module or ""
            targets = (
                [f"{base}.{a.name}" for a in node.names]
                if base == "dasladen_spark.plans"
                else [base]
            )
        else:
            continue
        plan = [t for t in targets if t.startswith("dasladen_spark.plans.")]
        found += [f"{path.name}:{node.lineno} {t}" for t in plan]
    return found


def test_plan_modules_are_domains_importing_only_the_commons():
    """The query catalog is one module per domain: no module is named
    for the round that added it, and no domain imports another — a
    helper two domains need lives in ``plans/shared``."""
    plans = PKG / "plans"
    rounds = sorted(
        p.stem for p in plans.glob("*.py")
        if re.fullmatch(r"(relational|llm)\d*", p.stem)
    )
    # llm4 only keeps the benchmark's import path for run_corpus_pipeline
    assert rounds == ["llm4"]
    body = ast.parse((plans / "llm4.py").read_text(encoding="utf-8")).body
    assert [type(n).__name__ for n in body] == ["Expr", "ImportFrom"]
    assert [a.name for a in body[1].names] == ["run_corpus_pipeline"]

    offenders = [
        hit
        for p in sorted(plans.glob("*.py"))
        if p.stem not in ("__init__", "llm4")
        for hit in _imported_plan_modules(p)
        if hit.split()[-1] not in PLAN_COMMONS
    ]
    assert offenders == []
