"""Reachability guard: a call graph over the package's top-level
functions, classes and constants, ``queries/`` included, must reach every
one of them from the code that runs — never from ``tests/`` alone.

- Roots: the module-level statements of every file outside ``tests/`` (the
  package, ``perfbench/``, ``tools/``, ``bench.py``, ``__spark_entry__.py``;
  outside the package a whole file is module level) that define no node,
  every ``@query`` function, and the ``ALLOWED`` entries.
- Nodes: each top-level ``def`` and ``class`` of the package, each name a
  top-level assignment binds, and each name a package ``__init__`` imports
  from a module (a re-export; importing a submodule runs it, so that stays
  a root).
- Edges: the names a node uses — identifiers, attribute names, import
  names and aliases — and an identifier string constant only when the same
  call also takes an imported module: perfbench reaches
  ``partitioning.heavy_hosts`` as ``tracer.wrap(partitioning,
  "heavy_hosts", ...)``, while ``.alias("name")`` names nothing.
  Docstrings and comments name nothing.

A name reaches every node spelled that way. Code that only its own tests
call is deleted with those tests, not kept.

The options rule rides on the same parse: every defaulted parameter of a
top-level package function that is called outside ``tests/`` must be passed
by one of those calls, or it is a constant (``ALLOWED_DEFAULTS`` excepted).
Standard library only.
"""

from __future__ import annotations

import ast
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "pdf_extractor_spark"
OUTSIDE_TESTS = (PACKAGE, "perfbench", "tools", "bench.py", "__spark_entry__.py")
_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)

# Kept although only tests call them. Each must still be named by a file
# under tests/; an entry that is reached anyway, or no longer tested, goes.
ALLOWED = {
    # test oracles: references that a test compares reached code against
    "strip_tags_and_normalize": "block-text reference for the fused HTML assembler",
    "winnow_fingerprints": "column-expression reference for winnow_fingerprints_df",
    "connected_components": "label-propagation reference for connected_components_star",
    "char_trigrams_from_norm": "substring reference for char_trigrams_from_chars",
    # test-input builders that a remaining test uses
    "build_warc": "WARC archives for the warc_rows tests",
    "build_wet": "WET archives for the wet_rows tests",
    "build_wat": "WAT archives for the wat_rows tests",
    "line_segments": "line rows for the line boilerplate and paragraph dedup tests",
    "STATEMENT": "struct type of the validate_statements and normalize_statement test rows",
    # catalog maintenance
    "delete_where": "Iceberg DELETE FROM analog, kept beside compact",
}

# Defaulted parameters that no call outside tests/ passes, kept because a
# test passes them to pin what no production value shows. An entry that a
# caller now passes, or that no test passes any more, goes.
ALLOWED_DEFAULTS = {
    ("main", "argv"): "the job's CLI; tests parse argument sets without a process",
    ("ngram_jaccard_pairs", "shards"): "output does not depend on the shard count",
    ("semdedup", "shards"): "output does not depend on the shard count",
    ("host_cap", "shards"): "output does not depend on the shard count",
    ("connected_components_star", "max_iter"): (
        "a diameter-399 chain converges within 12 star rounds"
    ),
    ("make_pdf", "rotate"): "rotated-page PDFs for the /Rotate tests",
    ("save_curated_corpus", "max_records_per_file"): (
        "the per-file record cap splits a partition into several files"
    ),
}


def _files(root: str, entries) -> dict[str, ast.Module]:
    """relative path -> parsed module, for every .py file under ``entries``."""
    out = {}
    for entry in entries:
        path = os.path.join(root, entry)
        paths = [path] if os.path.isfile(path) else [
            os.path.join(d, n) for d, _, ns in os.walk(path) for n in ns if n.endswith(".py")
        ]
        for full in paths:
            with open(full, encoding="utf-8") as f:
                out[os.path.relpath(full, root)] = ast.parse(f.read())
    return out


def _module_bindings(tree: ast.Module, modules: set[str]) -> set[str]:
    """Names ``tree``'s imports bind to a module: every ``import m [as x]``,
    and each ``from p import m [as x]`` whose ``m`` is a module of ``modules``."""
    out = set()
    for n in ast.walk(tree):
        if isinstance(n, (ast.Import, ast.ImportFrom)):
            for a in n.names:
                if isinstance(n, ast.Import) or a.name in modules:
                    out.add(a.asname or a.name.split(".")[0])
    return out


def _names(node: ast.AST, module_names: set[str] = frozenset()) -> set[str]:
    """Every name ``node`` uses: identifiers, attribute names, import names
    and aliases, and identifier string constants passed to a call that also
    takes a name in ``module_names`` (``getattr(mod, "x")``)."""
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.update(n.name.split("."))
            if n.asname:
                out.add(n.asname)
        elif isinstance(n, ast.Call) and any(
            isinstance(a, ast.Name) and a.id in module_names for a in n.args
        ):
            out.update(
                a.value for a in n.args
                if isinstance(a, ast.Constant) and isinstance(a.value, str)
                and a.value.isidentifier()
            )
    return out


def _is_query(decorator: ast.expr) -> bool:
    fn = decorator.func if isinstance(decorator, ast.Call) else decorator
    return (fn.id if isinstance(fn, ast.Name) else getattr(fn, "attr", None)) == "query"


def _nodes(path: str, stmt: ast.stmt, modules: set[str], bound: set[str]) -> dict[str, set[str]]:
    """The graph nodes a module-level statement of the package defines, with
    their edges: a function or class; each name a constant binds; each name
    an import in a package ``__init__`` re-exports, whose edge is the name it
    imports. A statement with none is a root; so is an ``__init__`` import
    of a submodule, which runs that module."""
    if isinstance(stmt, _DEFS):
        return {stmt.name: _names(stmt, bound)}
    if isinstance(stmt, (ast.Import, ast.ImportFrom)):
        if os.path.basename(path) != "__init__.py":
            return {}
        return {
            a.asname or a.name: {a.name}
            for a in stmt.names if a.name.split(".")[-1] not in modules
        }
    targets = stmt.targets if isinstance(stmt, ast.Assign) else (
        [stmt.target] if isinstance(stmt, ast.AnnAssign) and stmt.value else []
    )
    names = [n.id for t in targets for n in ast.walk(t) if isinstance(n, ast.Name)]
    # ``d[k] = v`` and ``obj.x = v`` change what exists; they bind nothing
    if any(not isinstance(n, (ast.Name, ast.Tuple, ast.List, ast.Store, ast.Starred))
           for t in targets for n in ast.walk(t)) or any(n.startswith("__") for n in names):
        return {}
    return {n: _names(stmt.value, bound) for n in names}


def _unreached(root: str = ROOT, allowed=ALLOWED) -> dict[str, list[tuple[str, int]]]:
    """name -> [(defining file, line count)], for every node of the package
    (top-level definition, constant, ``__init__`` re-export) no root reaches."""
    files = _files(root, OUTSIDE_TESTS)
    modules = {os.path.splitext(os.path.basename(p))[0] for p in files} | {
        part for p in files for part in os.path.dirname(p).split(os.sep)
    }
    defs: dict[str, list[tuple[str, int, set[str]]]] = {}
    roots = set(allowed)
    for path, tree in files.items():
        bound = _module_bindings(tree, modules)
        in_package = path.startswith(PACKAGE + os.sep)
        for stmt in tree.body:
            nodes = _nodes(path, stmt, modules, bound) if in_package else {}
            if not nodes:
                roots |= _names(stmt, bound)
                continue
            decos = getattr(stmt, "decorator_list", [])
            lines = stmt.end_lineno - min([stmt.lineno] + [d.lineno for d in decos]) + 1
            for name, edges in nodes.items():
                defs.setdefault(name, []).append((path, lines, edges))
            # decorators run at import, so they are module level
            for deco in decos:
                roots |= _names(deco, bound)
                if _is_query(deco):
                    roots.add(stmt.name)
    reached, frontier = set(), list(roots)
    while frontier:
        name = frontier.pop()
        if name in reached:
            continue
        reached.add(name)
        for _, _, edges in defs.get(name, ()):
            frontier.extend(edges - reached)
    return {
        name: [(path, lines) for path, lines, _ in sites]
        for name, sites in defs.items()
        if name not in reached
    }


def _stale(root: str = ROOT, allowed=ALLOWED) -> set[str]:
    """``allowed`` entries that are reached without the list, that are
    gone, or that no file under ``tests/`` names any more."""
    unreached = _unreached(root, allowed={})
    tested = set()
    for tree in _files(root, ("tests",)).values():
        tested |= _names(tree)
    return {n for n in allowed if n not in unreached or n not in tested}


def _calls(trees) -> dict[str, list[ast.Call]]:
    """callee name -> its calls, a callee matched by name as in the graph."""
    out: dict[str, list[ast.Call]] = {}
    for tree in trees:
        for n in ast.walk(tree):
            if isinstance(n, ast.Call):
                f = n.func
                name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
                if name:
                    out.setdefault(name, []).append(n)
    return out


def _passed(fn: ast.FunctionDef, calls: list[ast.Call]) -> set[str]:
    """The parameters of ``fn`` that ``calls`` pass by keyword, by position
    or through a ``*``/``**`` splat."""
    positional = [a.arg for a in fn.args.posonlyargs + fn.args.args]
    everything = positional + [a.arg for a in fn.args.kwonlyargs]
    out = set()
    for c in calls:
        if any(isinstance(a, ast.Starred) for a in c.args):
            out.update(positional)
        out.update(positional[: len(c.args)])
        for k in c.keywords:
            out.update(everything if k.arg is None else [k.arg])
    return out


def _unpassed_defaults(root: str = ROOT) -> dict[tuple[str, str], str]:
    """(function, parameter) -> defining file, for each defaulted parameter
    of a top-level package function that is called outside ``tests/`` and
    passed by none of those calls."""
    files = _files(root, OUTSIDE_TESTS)
    calls = _calls(files.values())
    out = {}
    for path, tree in files.items():
        if not path.startswith(PACKAGE + os.sep):
            continue
        for fn in tree.body:
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)) or fn.name not in calls:
                continue  # reachability polices what nothing calls
            a = fn.args
            positional = a.posonlyargs + a.args
            defaulted = positional[len(positional) - len(a.defaults):] + [
                p for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None
            ]
            passed = _passed(fn, calls[fn.name])
            out.update({(fn.name, p.arg): path for p in defaulted if p.arg not in passed})
    return out


def _stale_defaults(root: str = ROOT, allowed=ALLOWED_DEFAULTS) -> set[tuple[str, str]]:
    """``allowed`` entries that a caller outside ``tests/`` passes, that are
    gone, or that no test passes any more."""
    unpassed = _unpassed_defaults(root)
    test_calls = _calls(_files(root, ("tests",)).values())
    defs = {
        fn.name: fn
        for path, tree in _files(root, (PACKAGE,)).items()
        for fn in tree.body if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef))
    }
    return {
        (f, p) for f, p in allowed
        if (f, p) not in unpassed or p not in _passed(defs[f], test_calls.get(f, []))
    }


def test_every_default_is_passed_by_some_caller():
    unpassed = {k: v for k, v in _unpassed_defaults().items() if k not in ALLOWED_DEFAULTS}
    assert not unpassed, (
        "no caller outside tests/ passes these ((function, parameter): file); "
        f"make each its default: {dict(sorted(unpassed.items()))}"
    )
    stale = _stale_defaults()
    assert not stale, f"passed by a caller, gone or untested; drop from ALLOWED_DEFAULTS: {sorted(stale)}"


def test_every_package_definition_is_reached_outside_tests():
    unreached = _unreached()
    assert not unreached, (
        "only tests call these (name: [(file, lines)]); delete them with "
        f"their tests: {dict(sorted(unreached.items()))}"
    )


def test_allowed_entries_are_still_needed():
    # the list only shrinks
    stale = _stale()
    assert not stale, f"reached, deleted or untested; drop from ALLOWED: {sorted(stale)}"


def _tree(tmp_path, files: dict[str, str]) -> str:
    for rel, text in files.items():
        (tmp_path / rel).parent.mkdir(parents=True, exist_ok=True)
        (tmp_path / rel).write_text(text)
    return str(tmp_path)


def test_guard_on_a_small_tree(tmp_path):
    root = _tree(tmp_path, {
        f"{PACKAGE}/__init__.py": (
            f"from {PACKAGE} import mod\n"
            f"from {PACKAGE}.mod import reexported\n"
        ),
        f"{PACKAGE}/mod.py": (
            "def doc_only():\n"
            "    pass\n"
            "\n"
            "def main():\n"
            '    """Calls doc_only? No: a docstring names nothing."""\n'
            "    # nor does a comment: doc_only()\n"
            "    return USED + len('by_alias')\n"
            "\n"
            "def by_string():\n"
            "    pass\n"
            "\n"
            "def by_alias():\n"
            "    pass\n"
            "\n"
            "def reexported():\n"
            "    pass\n"
            "\n"
            "def oracle():\n"
            "    return oracle_helper()\n"
            "\n"
            "def oracle_helper():\n"
            "    pass\n"
            "\n"
            "def untested():\n"
            "    pass\n"
            "\n"
            "USED = 1\n"
            "UNUSED = by_string\n"
            "TABLE = {}\n"
            "TABLE['k'] = 2\n"
        ),
        f"{PACKAGE}/queries/q01.py": (
            "from x import query\n"
            "\n"
            "@query('q_one')\n"
            "def q_one(spark, sf):\n"
            "    return used_helper()\n"
            "\n"
            "def used_helper():\n"
            "    pass\n"
            "\n"
            "def unused_helper():\n"
            "    pass\n"
        ),
        "tools/run.py": (
            f"from {PACKAGE} import mod\n"
            "mod.main()\n"
            "getattr(mod, 'by_string')()\n"
        ),
        "tests/test_mod.py": "from pdf_extractor_spark.mod import oracle\n",
    })
    allowed = {"oracle": "test oracle", "untested": "no test names it"}

    unreached = _unreached(root, allowed)
    assert "doc_only" in unreached  # named only in a docstring and a comment
    assert "by_string" not in unreached  # a string beside a module: getattr(mod, "x")
    assert "by_alias" in unreached  # a string beside no module names nothing
    assert "oracle_helper" not in unreached  # callee of an ALLOWED entry
    assert "used_helper" not in unreached  # callee of a @query function
    assert unreached["unused_helper"] == [(os.path.join(PACKAGE, "queries", "q01.py"), 2)]
    # a re-export is not a use: the definition and the import both stay unreached
    assert sorted(unreached["reexported"]) == [
        (os.path.join(PACKAGE, "__init__.py"), 1), (os.path.join(PACKAGE, "mod.py"), 2)
    ]
    # a constant is a node; a subscript assignment is a root that uses TABLE
    assert "USED" not in unreached and "TABLE" not in unreached
    assert unreached["UNUSED"] == [(os.path.join(PACKAGE, "mod.py"), 1)]
    assert set(unreached) == {"doc_only", "by_alias", "reexported", "UNUSED", "unused_helper"}
    assert _stale(root, allowed) == {"untested"}


def test_defaults_guard_on_a_small_tree(tmp_path):
    root = _tree(tmp_path, {
        f"{PACKAGE}/ops.py": (
            "def f(df, a=1, b=2, c=3, *, d=4, e=5):\n"
            "    pass\n"
            "\n"
            "def g(x, y=1):\n"
            "    pass\n"
            "\n"
            "def h(x, y=1, z=2):\n"
            "    pass\n"
            "\n"
            "def uncalled(x, y=1):\n"
            "    pass\n"
        ),
        "tools/run.py": (
            f"from {PACKAGE} import ops\n"
            "ops.f(0, 9, d=7)\n"  # a by position, d by keyword
            "f(0)\n"
            "ops.g(*args)\n"  # a * splat may fill every positional parameter
            "h(0, **kw)\n"  # a ** splat may fill every parameter
        ),
        "tests/test_ops.py": "from pdf_extractor_spark.ops import f\nf(0, e=1)\n",
    })
    assert _unpassed_defaults(root) == {
        ("f", "b"): os.path.join(PACKAGE, "ops.py"),
        ("f", "c"): os.path.join(PACKAGE, "ops.py"),
        ("f", "e"): os.path.join(PACKAGE, "ops.py"),
    }
    allowed = {("f", "e"): "test-only", ("f", "b"): "no test passes it", ("f", "a"): "passed"}
    assert _stale_defaults(root, allowed) == {("f", "b"), ("f", "a")}
