"""Spark-free guard for the scripts around the engine: every name that
bench.py, bench_extra.py, tools/, scripts/ and perfbench/ take from
``codebased_spark`` — ``from codebased_spark... import name`` at any
depth, and ``alias.attr`` on an imported engine module — must still
resolve, so renaming or deleting an engine helper cannot silently break
a script that only runs by hand."""

import ast
import importlib
import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent
SCRIPTS = sorted(
    [ROOT / "bench.py", ROOT / "bench_extra.py"]
    + [p for d in ("tools", "scripts", "perfbench")
       for p in (ROOT / d).glob("*.py")]
)
_SCOPES = (ast.Module, ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _module(name):
    try:
        return importlib.import_module(name)
    except ImportError:
        return None


def _is_engine(module):
    return module == "codebased_spark" or module.startswith("codebased_spark.")


def _resolves(module, name):
    mod = _module(module)
    if mod is None:
        return False
    return hasattr(mod, name) or _module(f"{module}.{name}") is not None


def _own_nodes(scope):
    """Nodes of ``scope`` outside its nested functions and classes."""
    todo = list(ast.iter_child_nodes(scope))
    while todo:
        node = todo.pop()
        yield node
        if not isinstance(node, _SCOPES):
            todo.extend(ast.iter_child_nodes(node))


def _engine_refs(scope, aliases=None):
    """(module, name, lineno) for every engine import and every
    attribute read or written on an alias bound to an engine module —
    aliases are visible in the scope that imports them and below."""
    aliases = dict(aliases or {})
    nodes = list(_own_nodes(scope))
    refs = []
    for node in nodes:
        if isinstance(node, ast.ImportFrom) and node.level == 0 \
                and node.module and _is_engine(node.module):
            for a in node.names:
                refs.append((node.module, a.name, node.lineno))
                if _module(f"{node.module}.{a.name}") is not None:
                    aliases[a.asname or a.name] = f"{node.module}.{a.name}"
        elif isinstance(node, ast.Import):
            for a in node.names:
                if _is_engine(a.name):
                    refs.append((a.name, None, node.lineno))
                    if a.asname:
                        aliases[a.asname] = a.name
    for node in nodes:
        if isinstance(node, ast.Attribute) and isinstance(node.value, ast.Name) \
                and node.value.id in aliases:
            refs.append((aliases[node.value.id], node.attr, node.lineno))
        elif isinstance(node, _SCOPES):
            refs.extend(_engine_refs(node, aliases))
    return refs


def test_script_engine_imports_resolve():
    assert len(SCRIPTS) > 10
    checked = 0
    missing = []
    for path in SCRIPTS:
        tree = ast.parse(path.read_text(), filename=str(path))
        for module, name, lineno in _engine_refs(tree):
            checked += 1
            ok = _module(module) is not None if name is None \
                else _resolves(module, name)
            if not ok:
                missing.append(f"{path.relative_to(ROOT)}:{lineno} "
                               f"{module}{'' if name is None else '.' + name}")
    assert not missing, "unresolved engine names:\n" + "\n".join(missing)
    assert checked > 50  # the walk really saw the scripts' engine use


def test_guard_catches_a_missing_name():
    """The walk sees imports inside functions and attributes on module
    aliases (the two shapes a helper rename breaks)."""
    tree = ast.parse(
        "def main():\n"
        "    import codebased_spark.operators.query as q\n"
        "    from codebased_spark.operators.query import _no_such_helper\n"
        "    q._no_such_attr()\n"
    )
    refs = _engine_refs(tree)
    bad = [(m, n) for m, n, _ in refs if n and not _resolves(m, n)]
    assert bad == [("codebased_spark.operators.query", "_no_such_helper"),
                   ("codebased_spark.operators.query", "_no_such_attr")]


def _calls(path, func):
    """String literals passed as the first argument to ``func(...)``."""
    tree = ast.parse(path.read_text(), filename=str(path))
    return [node.args[0].value for node in ast.walk(tree)
            if isinstance(node, ast.Call) and isinstance(node.func, ast.Name)
            and node.func.id == func and node.args
            and isinstance(node.args[0], ast.Constant)]


def test_engine_names_the_benchmark_reads():
    """perfbench attributes per-layer metrics by engine names: commit
    stages by ``incremental_update``'s stage_timings keys (every other
    key lands in incremental.other_s) and the build's docs stage by the
    function ``get_block_rows`` in plans/engine.py. A rename there
    silently zeroes those metrics."""
    from perfbench.layers import INCR_STAGES

    marks = _calls(ROOT / "codebased_spark" / "streaming" / "incremental.py", "_mark")
    assert len(marks) >= 10
    assert sorted(set(marks) - set(INCR_STAGES)) == []
    engine = ast.parse((ROOT / "codebased_spark" / "plans" / "engine.py").read_text())
    assert "get_block_rows" in {n.name for n in ast.walk(engine)
                                if isinstance(n, ast.FunctionDef)}
