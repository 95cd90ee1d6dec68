"""Spark-free guard for the scripts around the engine: every name that
bench.py, tools/, scripts/ and perfbench/ take from ``codebased_spark``
— ``from codebased_spark... import name`` at any depth, and
``alias.attr`` on an imported engine module — must still resolve, so
renaming or deleting an engine helper cannot silently break a script
that only runs by hand. tools/ and scripts/ take no underscore-prefixed
engine name at all: they read what the engine reports (such as
``FtsIndex.last_trace``) instead of re-deriving it from private
helpers."""

import ast
import importlib
import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent
SCRIPTS = sorted(
    [ROOT / "bench.py"]
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


def _private_refs(tree):
    """(lineno, dotted name) of every underscore-prefixed engine name
    the tree imports, reads or assigns (module-level dunders such as
    ``__version__`` are public)."""
    return [(ln, f"{m}.{n}") for m, n, ln in _engine_refs(tree)
            if any(part.startswith("_") and not part.startswith("__")
                   for part in (f"{m}.{n}" if n else m).split("."))]


def _index_private_members():
    """Underscore-prefixed methods and ``self._x`` attributes of
    ``plans.engine.FtsIndex``, read from its source."""
    tree = ast.parse((ROOT / "codebased_spark/plans/engine.py").read_text())
    cls = next(n for n in tree.body
               if isinstance(n, ast.ClassDef) and n.name == "FtsIndex")
    names = {n.name for n in cls.body if isinstance(n, ast.FunctionDef)}
    names |= {n.attr for n in ast.walk(cls) if isinstance(n, ast.Attribute)
              and isinstance(n.value, ast.Name) and n.value.id == "self"}
    return {n for n in names if n.startswith("_") and not n.startswith("__")}


def _private_index_attrs(tree, private=None):
    """(lineno, name) of every attribute access, on any object, to a
    private ``FtsIndex`` member (an index handle is not an engine module
    alias, so ``_private_refs`` cannot see it)."""
    private = _index_private_members() if private is None else private
    return [(n.lineno, n.attr) for n in ast.walk(tree)
            if isinstance(n, ast.Attribute) and n.attr in private]


def test_tools_take_no_private_engine_names():
    """tools/ and scripts/ read the engine's records, never its private
    helpers or an index handle's private members (bench.py is frozen
    and perfbench/ is the benchmark; both are exempt)."""
    paths = [p for d in ("tools", "scripts") for p in (ROOT / d).glob("*.py")]
    assert len(paths) > 5
    private = _index_private_members()
    assert "_search_cache" in private
    bad = []
    for p in paths:
        tree = ast.parse(p.read_text())
        bad += [f"{p.relative_to(ROOT)}:{ln} {name}"
                for ln, name in _private_refs(tree)
                + _private_index_attrs(tree, private)]
    assert not bad, "private engine names in scripts:\n" + "\n".join(bad)


def test_entry_takes_no_private_engine_names():
    """The driver contract writes its oracle SQL from public engine
    names, and that SQL is byte-identical to what the private names
    produced (sha256 of each affected query's text)."""
    import hashlib

    import __spark_entry__ as entry

    tree = ast.parse((ROOT / "__spark_entry__.py").read_text())
    assert _private_refs(tree) == [] and _private_index_attrs(tree) == []
    sql = entry.oracle_sql()
    assert {name: hashlib.sha256(sql[name].encode()).hexdigest()[:16] for name in (
        "minhash_signatures", "simhash64", "lsh_candidate_pairs", "ann_topk_lsh")} == {
        "minhash_signatures": "86d0e8fadf96fd0a",
        "simhash64": "3a603ce57e7be85b",
        "lsh_candidate_pairs": "ea93fe241d63bebf",
        "ann_topk_lsh": "82fe5a0679b0ba58",
    }


def test_private_guard_catches_a_search_cache_reach_in():
    tree = ast.parse(
        "def main(index):\n"
        "    index._search_cache.clear()\n"
        "    index.clear_search_cache()\n"
        "    return index.last_trace\n"
    )
    assert _private_index_attrs(tree) == [(2, "_search_cache")]


def test_private_guard_catches_a_tail_patch_and_a_helper_import():
    tree = ast.parse(
        "import codebased_spark.operators.query as q\n"
        "from codebased_spark.operators.query import _prune_posting_files\n"
        "from codebased_spark.plans.engine import FtsIndex\n"
        "def main():\n"
        "    q._driver_tail = fd\n"
        "    return q.DRIVER_FINISH_MAX\n"
    )
    assert sorted(_private_refs(tree)) == [
        (2, "codebased_spark.operators.query._prune_posting_files"),
        (5, "codebased_spark.operators.query._driver_tail")]


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
    assert sorted(marks) == sorted([
        "load_index", "sha_gate_probe", "doc_stats_append", "postings_append",
        "deletes_append", "incr_manifest_footer_metrics", "presence_delta",
        "reload_index", "phrase_df_delta"])
    assert sorted(set(marks) - set(INCR_STAGES)) == []
    engine = ast.parse((ROOT / "codebased_spark" / "plans" / "engine.py").read_text())
    assert "get_block_rows" in {n.name for n in ast.walk(engine)
                                if isinstance(n, ast.FunctionDef)}


def _engine_callables(tree):
    """{local name -> engine object} for every engine function or class
    the file imports by name, and {alias -> engine module} for module
    imports, over all of its scopes."""
    names, modules = {}, {}
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.level == 0 \
                and node.module and _is_engine(node.module):
            mod = _module(node.module)
            for a in node.names:
                sub = _module(f"{node.module}.{a.name}")
                if sub is not None:
                    modules[a.asname or a.name] = sub
                elif mod is not None and callable(getattr(mod, a.name, None)):
                    names[a.asname or a.name] = getattr(mod, a.name)
        elif isinstance(node, ast.Import):
            for a in node.names:
                if _is_engine(a.name) and a.asname and _module(a.name):
                    modules[a.asname] = _module(a.name)
    return names, modules


def _call_mismatches(tree):
    """(calls checked, [(lineno, name, error)]) over every call to an
    imported engine callable, listing those whose positional count or
    keyword names do not bind to its signature. Calls spreading
    ``*args`` or ``**kwargs`` are skipped: their shape is not known
    statically."""
    import inspect

    names, modules = _engine_callables(tree)
    checked = 0
    out = []
    for node in ast.walk(tree):
        if not isinstance(node, ast.Call):
            continue
        f = node.func
        if isinstance(f, ast.Name) and f.id in names:
            target, label = names[f.id], f.id
        elif isinstance(f, ast.Attribute) and isinstance(f.value, ast.Name) \
                and f.value.id in modules \
                and callable(getattr(modules[f.value.id], f.attr, None)):
            target = getattr(modules[f.value.id], f.attr)
            label = f"{f.value.id}.{f.attr}"
        else:
            continue
        if any(isinstance(a, ast.Starred) for a in node.args) \
                or any(k.arg is None for k in node.keywords):
            continue
        try:
            sig = inspect.signature(target)
        except (TypeError, ValueError):
            continue
        checked += 1
        try:
            sig.bind(*node.args, **{k.arg: k.value for k in node.keywords})
        except TypeError as e:
            out.append((node.lineno, label, str(e)))
    return checked, out


def test_script_engine_calls_bind():
    """Every call the scripts make to an engine function or class they
    import binds to its current signature: a dropped keyword or a
    changed positional count cannot silently break a script that only
    runs by hand."""
    checked = 0
    bad = []
    for path in SCRIPTS:
        n, mismatches = _call_mismatches(
            ast.parse(path.read_text(), filename=str(path)))
        checked += n
        bad += [f"{path.relative_to(ROOT)}:{ln} {name}: {err}"
                for ln, name, err in mismatches]
    assert not bad, "calls that no longer bind:\n" + "\n".join(bad)
    assert checked > 50  # the walk really saw the scripts' engine calls


def test_call_guard_catches_a_changed_signature():
    tree = ast.parse(
        "from codebased_spark.streaming.incremental import compact_index\n"
        "import codebased_spark.operators.query as q\n"
        "compact_index(spark, d, corpus, rebuild_phrase_df=True)\n"
        "q._batch_candidates_fn(a, b, c, d, e, f, g)\n"
        "compact_index(spark, d, corpus, num_blocks=4)\n"
    )
    checked, bad = _call_mismatches(tree)
    assert checked == 3
    assert [(ln, name) for ln, name, _ in bad] == [
        (3, "compact_index"), (4, "q._batch_candidates_fn")]


def test_trigram_code_defined_once():
    """The trigram packing (c0*2^42 + c1*2^21 + c2) is spelled in one
    engine module and once in the oracle SQL, and no engine window
    reads the case-folded text by position: the n-gram window, the
    trigram code and its hash key live in operators/textops.py."""
    engine = sorted((ROOT / "codebased_spark").rglob("*.py"))
    packers = [p.relative_to(ROOT).as_posix() for p in engine
               if "4398046511104" in p.read_text()]
    assert packers == ["codebased_spark/operators/textops.py"]
    assert (ROOT / "__spark_entry__.py").read_text().count("4398046511104") == 1
    assert [p.name for p in engine if "substring(lc" in p.read_text()] == []
