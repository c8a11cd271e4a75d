"""The scripts beside the package (``bench.py``, ``tools/*.py``, ``dedupbench/``)
reach into ``cqaduplicatefind_spark`` by name, and dedupbench's traced run
wraps the functions listed in ``TracedPipeline.TARGETS`` with
``getattr``/``setattr``. A refactor that drops one of those names breaks the
script only when it runs (``--trace 1`` crashes on a missing
``plans.pipeline.accept_edges``). The same holds for a ``DedupConfig`` field
a script passes by keyword. These tests resolve every such reference from
source with ``ast``: no Spark, and no script is imported.

The other direction is checked too: every public top-level def in the
package must be reachable from a non-test entry, or be a listed reference
capability. Code that only tests call is surface nobody ships. The same
holds for a setting: a defaulted engine parameter that every non-test call
site leaves at one value must be a constant, or a listed exception."""

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
# the non-test entries: the registry, the spark-submit runner and the scripts;
# every caller that builds a DedupConfig outside the package's library code
ENTRIES = sorted([*SCRIPTS, "__spark_entry__.py", f"{PKG}/run.py"])


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


@pytest.mark.parametrize("script", ENTRIES)
def test_script_config_keywords_are_fields(script):
    unknown = [k for k in _config_keywords((REPO / script).read_text())
               if k not in _config_fields()]
    assert not unknown, unknown


# ---------------------------------------------------------------- reachability

# Public package defs that no non-test entry calls, kept on purpose: each one
# is the engine's form of a reference-repo operation (SURVEY.md anchor), and
# tests pin it. Every other public def must be reachable from ``ENTRIES``.
REFERENCE_CAPABILITIES = {
    "operators.ann.cosine_topk": "§3.3 / §7.4 ANN top-k, brute force "
                                 "(also the oracle of the IVF and RP tests)",
    "operators.ann.rp_lsh_topk": "§3.3 / §7.4 ANN top-k, random-projection LSH",
    "operators.candidates.all_pairs": "§7.4 all-pairs semantics (J1)",
    "operators.metrics.pair_recall": "§1.4 dup-pair recall over canonical pairs",
    "operators.pairs.labeled_pairs": "§7.4 labeled-pair generation (R3)",
    "operators.pairs.train_test_split": "§2.8 train/test split (R1)",
    "operators.topk.retrieve_duplicates": "§7.5 re-rankable retrieval answer",
    "operators.topk.topk_per_query": "§7.4 top-k per query (J3/T2)",
    "plans.pipeline.retrieval_scored_pairs": "§3.2 retrieval + re-rank entry",
    "sources.qa_dumps.read_pairs_csv": "§7.4 pair CSV scan (S3)",
    "sources.qa_dumps.write_pairs_csv": "§7.4 pair CSV sink (S4)",
    "streaming.incremental.run_incremental_dedup": "§2.10 / §7.5 streaming "
                                                   "incremental index",
}

_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
Node = tuple[str, "str | None"]  # (module, top-level name); None: the module body


def _code_tree(source: str) -> ast.Module:
    """``source`` parsed with every docstring dropped: a name mentioned in
    prose is not a use."""
    tree = ast.parse(source)
    for node in ast.walk(tree):
        if isinstance(node, (ast.Module, *_DEFS)) and ast.get_docstring(node) is not None:
            node.body[0] = ast.Pass()
    return tree


@cache
def _package() -> dict[str, ast.Module]:
    mods = {}
    for path in sorted((REPO / PKG).rglob("*.py")):
        parts = path.relative_to(REPO).with_suffix("").parts
        mods[".".join(parts[:-1] if parts[-1] == "__init__" else parts)] = (
            _code_tree(path.read_text()))
    return mods


@cache
def _top_defs(module: str) -> dict[str, ast.stmt]:
    return {n.name: n for n in _package()[module].body if isinstance(n, _DEFS)}


def _target(module: str, attr: str | None) -> Node:
    if attr is not None and f"{module}.{attr}" in _package():
        return (f"{module}.{attr}", None)
    return (module, attr)


def _aliases(tree: ast.AST) -> dict[str, set[Node]]:
    """Local name -> what it names in the package, from every import in the
    tree (function-local imports included)."""
    names: dict[str, set[Node]] = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                if a.name.split(".")[0] == PKG:
                    names.setdefault(a.asname or PKG, set()).add(
                        (a.name if a.asname else PKG, None))
        elif (isinstance(node, ast.ImportFrom) and node.level == 0
              and node.module.split(".")[0] == PKG):
            for a in node.names:
                names.setdefault(a.asname or a.name, set()).add(
                    _target(node.module, a.name))
    return names


def _uses(roots: list[ast.AST], module: str | None,
          names: dict[str, set[Node]]) -> set[Node]:
    """Package nodes the code under ``roots`` refers to: a bare name of the
    module's own defs or of an import, an attribute chain off an imported
    module, and a string constant that parses as Python naming the package
    (a child-process script)."""
    local = _top_defs(module) if module else {}
    out: set[Node] = set()
    for root in roots:
        for node in ast.walk(root):
            if isinstance(node, ast.Name):
                if node.id in local:
                    out.add((module, node.id))
                out |= names.get(node.id, set())
            elif isinstance(node, ast.Attribute):
                chain = []
                while isinstance(node, ast.Attribute):
                    chain.insert(0, node.attr)
                    node = node.value
                for hit in names.get(getattr(node, "id", None), ()):
                    for attr in chain:
                        if hit[1] is not None:
                            break
                        hit = _target(hit[0], attr)
                        out.add(hit)
            elif (isinstance(node, ast.Constant) and isinstance(node.value, str)
                  and PKG in node.value):
                try:
                    script = _code_tree(node.value)
                except SyntaxError:
                    continue
                out |= _uses([script], None, _aliases(script))
    return out


def _edges(node: Node) -> set[Node]:
    """A def reaches its module body (importing it runs that) and what its
    own code names; a module body reaches its parent package."""
    module, name = node
    if module not in _package():
        return set()
    tree = _package()[module]
    if name is None:
        body = [s for s in tree.body if not isinstance(s, _DEFS)]
        parent = {(module.rsplit(".", 1)[0], None)} if "." in module else set()
        return _uses(body, module, _aliases(tree)) | parent
    d = _top_defs(module).get(name)
    return {(module, None)} | (_uses([d], module, _aliases(tree)) if d else set())


@cache
def _reachable() -> frozenset[Node]:
    todo: list[Node] = [_target(m, a) for m, a in _traced_targets()]
    for entry in ENTRIES:
        tree = _code_tree((REPO / entry).read_text())
        todo += _uses([tree], None, _aliases(tree))
        if entry.startswith(f"{PKG}/"):  # an entry inside the package
            module = entry[:-3].replace("/", ".")
            todo += [(module, None), *((module, n) for n in _top_defs(module))]
    seen: set[Node] = set()
    while todo:
        node = todo.pop()
        if node not in seen:
            seen.add(node)
            todo += _edges(node) - seen
    return frozenset(seen)


def _unreachable_public_defs() -> set[str]:
    return {f"{m[len(PKG) + 1:]}.{n}" for m in _package() for n in _top_defs(m)
            if not n.startswith("_") and (m, n) not in _reachable()}


def test_reachability_scan_reads_code_not_docstrings():
    src = ('"""uses ``cqaduplicatefind_spark.plans.pipeline.run_pipeline``"""\n'
           "from cqaduplicatefind_spark.plans import pipeline\n"
           "def f():\n"
           '    """calls pipeline.cluster_summary"""\n'
           "    return pipeline.accept_edges\n")
    tree = _code_tree(src)
    assert _uses([tree], None, _aliases(tree)) == {
        (f"{PKG}.plans.pipeline", None), (f"{PKG}.plans.pipeline", "accept_edges"),
    }


def test_every_public_def_is_reachable_or_a_listed_capability():
    """A public def nothing outside ``tests/`` reaches is dead surface: delete
    it, move it into ``tests/`` if it is a fixture, or list it above with the
    SURVEY.md section it implements. A listed name must still exist and still
    be unreachable, so the list stays exact."""
    assert _unreachable_public_defs() == set(REFERENCE_CAPABILITIES)


# ------------------------------------------------------------ parameter census

# The engine modules whose settings the census covers: every public def's and
# public class ``__init__``'s defaulted parameters.
ENGINE_MODULES = ("operators.candidates", "operators.verify",
                  "operators.connected_components", "operators.overlap",
                  "plans", "streaming", "session")

# Defaulted engine parameters that no non-test caller varies, kept on purpose.
PARAMETER_EXCEPTIONS = {
    "operators.verify.score_pairs(extra_scorers)": "§7.5 per-pair scorer seam",
    "plans.delta.seed_index(batch_id)": "the write's identity; seeds take "
                                        "negative ids, which it checks",
    "streaming.incremental.run_incremental_dedup(checkpoint_dir)":
        "a path: a deployment setting",
}

_ANY = object()  # a non-literal argument: whatever its caller passes


def _literal(node: ast.expr) -> object:
    try:
        return repr(ast.literal_eval(node))
    except ValueError:
        return _ANY


def _engine_signatures() -> dict[str, tuple[str, list[str], dict[str, object]]]:
    """def name -> (qualified name, positional parameter names, defaulted
    parameter -> default); a class's entry is its ``__init__`` less
    ``self``."""
    sigs = {}
    for module, tree in _package().items():
        short = module[len(PKG) + 1:]
        if not any(short == m or short.startswith(f"{m}.") for m in ENGINE_MODULES):
            continue
        for node in tree.body:
            if not isinstance(node, _DEFS) or node.name.startswith("_"):
                continue
            fn, skip = node, 0
            if isinstance(node, ast.ClassDef):
                fn = next((f for f in node.body if isinstance(f, ast.FunctionDef)
                           and f.name == "__init__"), None)
                skip = 1
            if fn is None:
                continue
            a = fn.args
            pos = [p.arg for p in a.posonlyargs + a.args]
            defaults = dict(zip(pos[len(pos) - len(a.defaults):], a.defaults))
            defaults |= {p.arg: d for p, d in zip(a.kwonlyargs, a.kw_defaults)
                         if d is not None}
            assert node.name not in sigs, f"two engine defs named {node.name}"
            sigs[node.name] = (f"{short}.{node.name}", pos[skip:],
                               {p: _literal(d) for p, d in defaults.items()})
    return sigs


def _calls(tree: ast.AST):
    """Every call in ``tree``, and in each string constant that parses as
    Python and names the package (a child-process script)."""
    for node in ast.walk(tree):
        if isinstance(node, ast.Call):
            yield node
        elif (isinstance(node, ast.Constant) and isinstance(node.value, str)
              and PKG in node.value):
            try:
                yield from _calls(ast.parse(node.value))
            except SyntaxError:
                pass


def _parameter_values(trees) -> dict[str, set]:
    """``"<def>(<param>)"`` -> the values its call sites in ``trees`` give it,
    a call matched to an engine def by name. An omitted argument is the
    default; a literal is its value; a non-literal (a name, attribute or
    call) is ``_ANY``, and so is every parameter a ``*args``/``**kwargs``
    could fill."""
    sigs = _engine_signatures()
    values = {f"{q}({p})": set() for q, _, d in sigs.values() for p in d}
    for tree in trees:
        for call in _calls(tree):
            name = getattr(call.func, "id", None) or getattr(call.func, "attr", None)
            if name not in sigs:
                continue
            qual, pos, defaults = sigs[name]
            given, starred = {}, False
            for i, arg in enumerate(call.args):
                if isinstance(arg, ast.Starred):
                    starred = True
                    break
                if i < len(pos):
                    given[pos[i]] = _literal(arg)
            for kw in call.keywords:
                if kw.arg is None:
                    starred = True
                else:
                    given[kw.arg] = _literal(kw.value)
            for param, default in defaults.items():
                value = given.get(param, _ANY if starred else default)
                values[f"{qual}({param})"].add(value)
    return values


def _single_valued(values: dict[str, set]) -> set[str]:
    return {p for p, vs in values.items() if len(vs) < 2 and _ANY not in vs}


@cache
def _census() -> dict[str, set]:
    trees = [_code_tree((REPO / e).read_text()) for e in ENTRIES]
    return _parameter_values([*trees, *_package().values()])


def test_parameter_census_reads_call_sites():
    src = ("from cqaduplicatefind_spark.operators import verify\n"
           "verify.score_pairs(p, s, cfg, None, ('is_star',))\n"
           "verify.score_pairs(p, s, cfg)\n"
           "verify.score_pairs(p, s, cfg, **kw)\n"
           "overlap_spans(p, d, text_col='norm_text')\n"
           "run('''from cqaduplicatefind_spark import session\n"
           "session.build_session(master=m)''')\n")
    values = _parameter_values([ast.parse(src)])
    assert values["operators.verify.score_pairs(keep_cols)"] == {"()", "('is_star',)", _ANY}
    assert values["operators.verify.score_pairs(extra_scorers)"] == {"None", _ANY}
    # a literal equal to the default is the default
    assert values["operators.overlap.overlap_spans(text_col)"] == {"'norm_text'"}
    assert values["session.build_session(master)"] == {_ANY}
    assert _single_valued(values) >= {"operators.overlap.overlap_spans(text_col)",
                                      "session.build_session(app_name)"}


def test_every_engine_parameter_takes_two_values():
    """A defaulted engine parameter that every non-test call site leaves at
    one value is a constant, not a setting: inline it, or list it above with
    the reason it stays. A listed name must still exist and still be
    single-valued, so the list stays exact."""
    census = _census()
    assert len(census) <= 60
    assert _single_valued(census) == set(PARAMETER_EXCEPTIONS)
