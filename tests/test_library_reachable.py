"""Every top-level library definition has a caller outside the tests.

A function or class defined at the top level of a module under
``doppel_spark/`` must be reached, transitively, from the jobs
(``jobs/``), the entry module (``__spark_entry__.py``), the benchmarks
(``bench.py``, ``perfbench/``) or module-level library code. Code that
only tests call belongs in ``tests/`` or nowhere: a new one fails here
until it gains a caller, or is listed in :data:`ALLOWED` with the reason
it stays.

Reachability is by name, so it over-approximates: a definition counts
as reached when reached code names it as a variable, an attribute, or
an identifier string (``perfbench`` patches modules by attribute name).
An import is not a use, except in a package ``__init__.py``, whose
imports declare the package's public surface.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
LIBRARY = "doppel_spark"
PROGRAMS = ("jobs", "perfbench", "__spark_entry__.py", "bench.py")

#: (file, definition) -> why it stays without a caller outside the tests
ALLOWED: dict[tuple[str, str], str] = {}


def names_used(node: ast.AST) -> set[str]:
    """Variable, attribute and identifier-string names under ``node``."""
    out = set()
    for x in ast.walk(node):
        if isinstance(x, ast.Name):
            out.add(x.id)
        elif isinstance(x, ast.Attribute):
            out.add(x.attr)
        elif (isinstance(x, ast.Constant) and isinstance(x.value, str)
              and x.value.isidentifier()):
            out.add(x.value)
    return out


def unreached(library: dict[str, str], programs: list[str]) -> set:
    """(file, name) of every top-level library definition that no
    program source reaches. ``library`` maps file -> source."""
    defs, seen = {}, set()
    for path, source in library.items():
        for node in ast.parse(source).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                                 ast.ClassDef)):
                defs[(path, node.name)] = node
            elif isinstance(node, (ast.Import, ast.ImportFrom)):
                if path.endswith("/__init__.py"):
                    seen |= {a.asname or a.name for a in node.names}
            else:
                seen |= names_used(node)
    for source in programs:
        seen |= names_used(ast.parse(source))
    reached: set = set()
    grew = True
    while grew:
        grew = False
        for key, node in defs.items():
            if key not in reached and key[1] in seen:
                reached.add(key)
                seen |= names_used(node)
                grew = True
    return set(defs) - reached


def _sources() -> tuple[dict[str, str], list[str]]:
    library = {p.relative_to(REPO).as_posix(): p.read_text()
               for p in sorted((REPO / LIBRARY).rglob("*.py"))}
    programs = []
    for name in PROGRAMS:
        root = REPO / name
        paths = sorted(root.rglob("*.py")) if root.is_dir() else [root]
        programs += [p.read_text() for p in paths]
    return library, programs


def test_every_library_definition_is_reachable():
    assert unreached(*_sources()) == set(ALLOWED)
    assert all(ALLOWED.values())


def test_injected_test_only_function_is_caught():
    library, programs = _sources()
    path = f"{LIBRARY}/operators/lsh.py"
    library[path] += ("\n\ndef only_tests_call_me(df, cfg):\n"
                      "    return band_keys(df, cfg)\n")
    assert unreached(library, programs) == (
        set(ALLOWED) | {(path, "only_tests_call_me")})
    # one program caller is enough
    assert unreached(library, programs + ["only_tests_call_me(df, cfg)"]) \
        == set(ALLOWED)
