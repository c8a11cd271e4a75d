"""The scripts beside the package (``bench.py``, ``tools/*.py``, ``dedupbench/``)
reach into ``cqaduplicatefind_spark`` by name, and dedupbench's traced run
wraps the functions listed in ``TracedPipeline.TARGETS`` with
``getattr``/``setattr``. A refactor that drops one of those names breaks the
script only when it runs (``--trace 1`` crashes on a missing
``plans.pipeline.accept_edges``). The same holds for a ``DedupConfig`` field
a script passes by keyword. These tests resolve every such reference from
source with ``ast``: no Spark, and no script is imported."""

from __future__ import annotations

import ast
from functools import cache
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parents[1]
PKG = "cqaduplicatefind_spark"
SCRIPTS = sorted(
    str(p.relative_to(REPO))
    for p in [REPO / "bench.py", *(REPO / "tools").glob("*.py"),
              *(REPO / "dedupbench").glob("*.py")]
)
# every caller that builds a DedupConfig outside the package's library code
CONFIG_CALLERS = sorted([*SCRIPTS, "__spark_entry__.py", f"{PKG}/run.py"])


def _module_file(dotted: str) -> Path | None:
    path = REPO.joinpath(*dotted.split("."))
    for f in (path.with_suffix(".py"), path / "__init__.py"):
        if f.is_file():
            return f
    return None


def _bound_names(body: list[ast.stmt]) -> set[str]:
    """Names a module binds at top level, also inside if/try/with blocks."""
    names: set[str] = set()
    for node in body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            names.add(node.name)
            continue
        if isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            names |= {n.id for t in targets for n in ast.walk(t)
                      if isinstance(n, ast.Name)}
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            names |= {(a.asname or a.name).split(".")[0] for a in node.names}
        for block in ("body", "orelse", "finalbody"):
            names |= _bound_names(getattr(node, block, []))
        for handler in getattr(node, "handlers", []):
            names |= _bound_names(handler.body)
    return names


@cache
def _module_names(dotted: str) -> frozenset[str]:
    return frozenset(_bound_names(ast.parse(_module_file(dotted).read_text()).body))


def _resolves(module: str, attr: str | None = None) -> bool:
    if _module_file(module) is None:
        return False
    return (attr is None or attr in _module_names(module)
            or _module_file(f"{module}.{attr}") is not None)


def _references(source: str) -> list[tuple[str, str | None]]:
    """(module, attribute) pairs a script imports from the package; attribute
    None for a bare module import. A string constant that parses as Python
    and names the package (a child-process script) counts as part of the
    script. The names the traced run reads with ``getattr`` come from
    ``_traced_targets``."""
    refs: list[tuple[str, str | None]] = []
    for node in ast.walk(ast.parse(source)):
        if isinstance(node, ast.Import):
            refs += [(a.name, None) for a in node.names
                     if a.name.split(".")[0] == PKG]
        elif (isinstance(node, ast.ImportFrom) and node.level == 0
              and node.module.split(".")[0] == PKG):
            refs += [(node.module, a.name) for a in node.names]
        elif (isinstance(node, ast.Constant) and isinstance(node.value, str)
              and PKG in node.value):
            try:
                refs += _references(node.value)
            except SyntaxError:
                pass
    return refs


def _traced_targets() -> list[tuple[str, str]]:
    """The ``(module, attribute)`` keys of ``TracedPipeline.TARGETS``."""
    tree = ast.parse((REPO / "dedupbench" / "run.py").read_text())
    for cls in ast.walk(tree):
        if isinstance(cls, ast.ClassDef) and cls.name == "TracedPipeline":
            for node in cls.body:
                if (isinstance(node, ast.Assign)
                        and [getattr(t, "id", None) for t in node.targets] == ["TARGETS"]):
                    return [(f"{PKG}.{mod}", attr)
                            for mod, attr in ast.literal_eval(node.value)]
    raise AssertionError("dedupbench/run.py: no TracedPipeline.TARGETS literal")


def test_resolver_rejects_missing_names():
    assert _resolves(f"{PKG}.plans.pipeline", "run_pipeline")
    assert _resolves(f"{PKG}.plans", "pipeline")
    assert not _resolves(f"{PKG}.plans.pipeline", "no_such_name")
    assert not _resolves(f"{PKG}.no_such_module")


@pytest.mark.parametrize("script", SCRIPTS)
def test_script_package_references_resolve(script):
    missing = [r for r in _references((REPO / script).read_text())
               if not _resolves(*r)]
    assert not missing, missing


def test_traced_pipeline_targets_resolve():
    targets = _traced_targets()
    assert (f"{PKG}.plans.pipeline", "accept_edges") in targets
    missing = [t for t in targets if not _resolves(*t)]
    assert not missing, missing


@cache
def _config_fields() -> frozenset[str]:
    """The annotated fields of ``config.DedupConfig``."""
    tree = ast.parse((REPO / PKG / "config.py").read_text())
    cls = next(n for n in tree.body
               if isinstance(n, ast.ClassDef) and n.name == "DedupConfig")
    return frozenset(n.target.id for n in cls.body if isinstance(n, ast.AnnAssign))


def _config_keywords(source: str) -> list[str]:
    """Keywords passed to ``DedupConfig(...)`` calls, including those in a
    string constant that parses as Python (a child-process script)."""
    kws: list[str] = []
    for node in ast.walk(ast.parse(source)):
        if isinstance(node, ast.Call) and "DedupConfig" in (
            getattr(node.func, "id", None), getattr(node.func, "attr", None)
        ):
            kws += [k.arg for k in node.keywords if k.arg is not None]
        elif (isinstance(node, ast.Constant) and isinstance(node.value, str)
              and "DedupConfig(" in node.value):
            try:
                kws += _config_keywords(node.value)
            except SyntaxError:
                pass
    return kws


def test_config_keyword_check_rejects_unknown_fields():
    assert {"shingle_k", "shuffle_partitions"} <= _config_fields()
    assert "_EXECUTION_KNOBS" not in _config_fields()
    src = "cfg = config.DedupConfig(shingle_k=3, no_such_field=1, **kw)"
    assert _config_keywords(src) == ["shingle_k", "no_such_field"]
    assert _config_keywords(repr(src)) == ["shingle_k", "no_such_field"]


@pytest.mark.parametrize("script", CONFIG_CALLERS)
def test_script_config_keywords_are_fields(script):
    unknown = [k for k in _config_keywords((REPO / script).read_text())
               if k not in _config_fields()]
    assert not unknown, unknown
