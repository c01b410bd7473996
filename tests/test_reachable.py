"""Reachability guard: every top-level function or class of the package
(outside ``queries/``, whose entries are reached through the registry) must
be named by some file outside ``tests/`` other than its own definition —
the package itself, ``perfbench/``, ``tools/``, ``bench.py`` or
``__spark_entry__.py``. Code that only its own tests call is deleted with
those tests, not kept. Standard library only: ``ast`` finds the
definitions, a word scan of the source finds the names."""

from __future__ import annotations

import ast
import os
import re
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "pdf_extractor_spark"
OUTSIDE_TESTS = (PACKAGE, "perfbench", "tools", "bench.py", "__spark_entry__.py")

# Kept although nothing outside tests/ names them.
ALLOWED = {
    "build_wat": "builds WAT input records for the WARC readers' tests",
    "build_wet": "builds WET input records for the WARC readers' tests",
    "synth_warc_archive": "builds a WARC archive for the WARC readers' tests",
    "read_wet": "WET reader, the plain-text sibling of read_warc",
    "build_cdx_line": "builds CDX index lines for read_cdx's tests",
    "delete_where": "catalog maintenance (Iceberg DELETE FROM analog)",
}

# Reached only from their own tests. Each is to be deleted together with
# the tests named here; listed so that no new unreachable code joins them.
PENDING_DELETION = {
    "last_wins_merge": "tests/test_operators.py",
    "first_seen_dedupe": "tests/test_operators.py",
    "retry_remaining": "tests/test_operators.py",
    "collect_note_refs": "tests/test_operators.py",
    "apply_corrections": "tests/test_entry_contract.py",
    "fuzzy_label_correction_join": "tests/test_parity_ops.py",
    "extract_files_with_bisect": "tests/test_bisect_flatten.py",
    "read_binary_documents": "tests/test_parity_ops.py",
    "infer_value_types": "tests/test_statement_normalize.py",
    "reconstruction_check": "tests/test_validate.py",
    "strip_continuation_marker": "tests/test_parity_ops.py",
    "drop_exact_duplicates": "tests/test_operators.py",
    "parse_robots_txt": "tests/test_operators.py",
    "read_json_with_repair": "tests/test_sinks_multimodal.py",
    "display_table_preview": "tests/test_sinks_multimodal.py",
    "flatten_nested": "tests/test_bisect_flatten.py",
    "unscale_units": "tests/test_normalize.py",
}

_WORD = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")


def _sources() -> dict[str, str]:
    out = {}
    for entry in OUTSIDE_TESTS:
        path = os.path.join(ROOT, entry)
        if os.path.isfile(path):
            out[entry] = open(path, encoding="utf-8").read()
            continue
        for dirpath, _, files in os.walk(path):
            for name in files:
                if name.endswith(".py"):
                    full = os.path.join(dirpath, name)
                    out[os.path.relpath(full, ROOT)] = open(full, encoding="utf-8").read()
    return out


def _unreached() -> dict[str, str]:
    """name -> defining file, for every top-level definition outside
    ``queries/`` that no line outside its own definition names."""
    sources = _sources()
    lines_naming: dict[str, list[tuple[str, int]]] = defaultdict(list)
    for path, text in sources.items():
        for lineno, line in enumerate(text.splitlines(), 1):
            for word in set(_WORD.findall(line)):
                lines_naming[word].append((path, lineno))
    out = {}
    for path, text in sources.items():
        if not path.startswith(PACKAGE + os.sep) or f"{os.sep}queries{os.sep}" in path:
            continue
        for node in ast.parse(text).body:
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                continue
            first = min([node.lineno] + [d.lineno for d in node.decorator_list])
            if not any(
                p != path or not first <= n <= node.end_lineno
                for p, n in lines_naming[node.name]
            ):
                out[node.name] = path
    return out


def test_every_package_definition_is_reached_outside_tests():
    unreached = _unreached()
    unexplained = {
        name: path
        for name, path in unreached.items()
        if name not in ALLOWED and name not in PENDING_DELETION
    }
    assert not unexplained, (
        f"only tests call these; delete them with their tests: {unexplained}"
    )
    # the lists only shrink: an entry that is reached now, or gone, is removed
    stale = (set(ALLOWED) | set(PENDING_DELETION)) - set(unreached)
    assert not stale, f"reached or deleted; drop from the lists: {sorted(stale)}"
