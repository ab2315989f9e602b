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


#: the build-once lifecycle's steps, spelled only in operators/snapshot
LIFECYCLE_CALLS = ("snapshot_name", "publish_pointer")


def test_build_once_lifecycle_lives_in_snapshot():
    """Every index and model family is named, published and cleaned
    through ``operators/snapshot.ensure``: no other library or plan
    module names a snapshot, publishes a pointer or imports the
    orphan-location helper."""
    offenders = []
    for p in sorted(PKG.rglob("*.py")):
        if p == PKG / "operators" / "snapshot.py":
            continue
        for node in ast.walk(ast.parse(p.read_text(encoding="utf-8"))):
            if isinstance(node, ast.Call):
                f = node.func
                name = f.id if isinstance(f, ast.Name) else getattr(
                    f, "attr", None
                )
                if name in LIFECYCLE_CALLS:
                    offenders.append(f"{p.name}:{node.lineno} {name}(")
            elif isinstance(node, (ast.Import, ast.ImportFrom)):
                offenders += [
                    f"{p.name}:{node.lineno} import {a.name}"
                    for a in node.names
                    if a.name.split(".")[-1] == "_drop_orphan_location"
                ]
    assert offenders == []


#: the driver-side query derivations of the ANN searchers
QUERY_PROBES = ("hyperplane_probes_driver", "probe_cells_driver", "query_lut")


def test_query_probes_live_in_one_place():
    """Every LSH / IVF / PQ search, query-time or indexed, runs
    ``operators/similarity.probe_topk``: no other function in the
    library or the plans hashes query probes, picks probe cells or
    builds a PQ lookup table."""
    calls = []
    for p in sorted(PKG.rglob("*.py")):
        tree = ast.parse(p.read_text(encoding="utf-8"))
        for fn in ast.walk(tree):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            for node in ast.walk(fn):
                if isinstance(node, ast.Call):
                    f = node.func
                    name = f.id if isinstance(f, ast.Name) else getattr(
                        f, "attr", None
                    )
                    if name in QUERY_PROBES:
                        calls.append((p.name, fn.name, name))
    offenders = [c for c in calls if c[:2] != ("similarity.py", "probe_topk")]
    assert offenders == []
    assert sorted(c[2] for c in calls) == sorted(QUERY_PROBES)
