"""Reachability guard: a call graph over the package's top-level functions
and classes, ``queries/`` included, must reach every one of them from the
code that runs — never from ``tests/`` alone.

- Roots: the module-level statements of every file outside ``tests/`` (the
  package, ``perfbench/``, ``tools/``, ``bench.py``, ``__spark_entry__.py``;
  outside the package a whole file is module level), every ``@query``
  function, and the ``ALLOWED`` entries.
- Edges: the names a definition uses — identifiers, attribute names, import
  names and aliases, and string constants that are identifiers (perfbench
  reaches ``partitioning.heavy_hosts`` only as ``tracer.wrap(partitioning,
  "heavy_hosts", ...)``). Docstrings and comments name nothing.

A name reaches every definition spelled that way. Code that only its own
tests call is deleted with those tests, not kept. Standard library only.
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
    # catalog maintenance
    "delete_where": "Iceberg DELETE FROM analog, kept beside compact",
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


def _names(node: ast.AST) -> set[str]:
    """Every name ``node`` uses: identifiers, attribute names, import names
    and aliases, and string constants that are identifiers."""
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
        elif isinstance(n, ast.Constant) and isinstance(n.value, str) and n.value.isidentifier():
            out.add(n.value)
    return out


def _is_query(decorator: ast.expr) -> bool:
    fn = decorator.func if isinstance(decorator, ast.Call) else decorator
    return (fn.id if isinstance(fn, ast.Name) else getattr(fn, "attr", None)) == "query"


def _unreached(root: str = ROOT, allowed=ALLOWED) -> dict[str, list[tuple[str, int]]]:
    """name -> [(defining file, line count)], for every top-level
    definition of the package that no root reaches."""
    defs: dict[str, list[tuple[str, ast.AST]]] = {}
    roots = set(allowed)
    for path, tree in _files(root, OUTSIDE_TESTS).items():
        in_package = path.startswith(PACKAGE + os.sep)
        for stmt in tree.body:
            if not (in_package and isinstance(stmt, _DEFS)):
                roots |= _names(stmt)
                continue
            defs.setdefault(stmt.name, []).append((path, stmt))
            # decorators run at import, so they are module level
            for deco in stmt.decorator_list:
                roots |= _names(deco)
                if _is_query(deco):
                    roots.add(stmt.name)
    reached, frontier = set(), list(roots)
    while frontier:
        name = frontier.pop()
        if name in reached:
            continue
        reached.add(name)
        for _, node in defs.get(name, ()):
            frontier.extend(_names(node) - reached)
    def lines(node: ast.AST) -> int:
        first = min([node.lineno] + [d.lineno for d in node.decorator_list])
        return node.end_lineno - first + 1

    return {
        name: [(path, lines(node)) for path, node in sites]
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


def test_guard_on_a_small_tree(tmp_path):
    files = {
        f"{PACKAGE}/__init__.py": "",
        f"{PACKAGE}/mod.py": (
            "def doc_only():\n"
            "    pass\n"
            "\n"
            "def main():\n"
            '    """Calls doc_only? No: a docstring names nothing."""\n'
            "    # nor does a comment: doc_only()\n"
            "    return 1\n"
            "\n"
            "def by_string():\n"
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
    }
    for rel, text in files.items():
        (tmp_path / rel).parent.mkdir(parents=True, exist_ok=True)
        (tmp_path / rel).write_text(text)
    allowed = {"oracle": "test oracle", "untested": "no test names it"}

    unreached = _unreached(str(tmp_path), allowed)
    assert "doc_only" in unreached  # named only in a docstring and a comment
    assert "by_string" not in unreached  # passed as a string constant
    assert "oracle_helper" not in unreached  # callee of an ALLOWED entry
    assert "used_helper" not in unreached  # callee of a @query function
    assert unreached["unused_helper"] == [(os.path.join(PACKAGE, "queries", "q01.py"), 2)]
    assert set(unreached) == {"doc_only", "unused_helper"}
    assert _stale(str(tmp_path), allowed) == {"untested"}
