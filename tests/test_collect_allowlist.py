"""Every driver action in the library and the jobs has a stated bound.

A call that brings rows to the driver (``collect``, ``toPandas``,
``take``, ``head``, ``first``) under ``doppel_spark/`` or ``jobs/`` must
be listed in :data:`ALLOWED` with the bound on what it returns, and the
number of such calls per function must match. A new unbounded collect
fails here until its bound is stated. Calls on a name bound by an
import (``F.first``, ``np.take``) are module functions, not actions.
Out of scope: the contract queries in ``__spark_entry__.py``.
"""

from __future__ import annotations

import ast
from collections import Counter
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
ROOTS = ("doppel_spark", "jobs")
ACTIONS = {"collect", "toPandas", "take", "head", "first"}

#: (file, enclosing function, method) -> (number of calls, bound)
ALLOWED = {
    ("doppel_spark/checkpoint.py", "CheckpointStore.run", "collect"):
        (1, "one row per partition of the stage"),
    ("doppel_spark/operators/bloom.py", "build_digest_bloom", "collect"):
        (1, "one bits/8-byte bitmap per input partition"),
    ("doppel_spark/operators/budget.py", "token_budget_sample", "collect"):
        (1, "one row per block: `blocks` rows"),
    ("doppel_spark/operators/components.py", "_driver_labels", "collect"):
        (1, "limit(BOUND + 1) edges"),
    ("doppel_spark/operators/components.py", "_spark_labels._fingerprint",
     "collect"):
        (1, "one global aggregate row"),
    ("doppel_spark/operators/similarity.py", "lsh_ann_topk", "collect"):
        (1, "one row per query id"),
    ("doppel_spark/operators/similarity.py", "ivf_centroids", "toPandas"):
        (1, "hash sample of ~1.2 x sample_cap rows"),
    ("doppel_spark/operators/similarity.py", "ivf_centroids", "head"):
        (1, "pandas frame already on the driver; sample_cap rows"),
    ("doppel_spark/operators/similarity.py", "ivf_ann_topk", "toPandas"):
        (1, "one row per query id"),
    ("doppel_spark/report.py", "build_report", "collect"):
        (1, "one metrics row"),
    ("jobs/curate_job.py", "main", "collect"):
        (3, "one row per drop reason or split label"),
    ("jobs/curate_job.py", "main", "first"):
        (1, "one global aggregate row"),
}


def driver_actions(source: str, path: str) -> Counter:
    """(path, enclosing function, method) -> number of action calls."""
    tree = ast.parse(source)
    imported = {(a.asname or a.name).split(".")[0]
                for node in ast.walk(tree)
                if isinstance(node, (ast.Import, ast.ImportFrom))
                for a in node.names}
    found: Counter = Counter()
    scope: list[str] = []

    class Visitor(ast.NodeVisitor):
        def visit_scope(self, node):
            scope.append(node.name)
            self.generic_visit(node)
            scope.pop()

        visit_FunctionDef = visit_AsyncFunctionDef = visit_ClassDef = visit_scope

        def visit_Call(self, node):
            func = node.func
            if (isinstance(func, ast.Attribute) and func.attr in ACTIONS
                    and not (isinstance(func.value, ast.Name)
                             and func.value.id in imported)):
                found[(path, ".".join(scope), func.attr)] += 1
            self.generic_visit(node)

    Visitor().visit(tree)
    return found


def violations(found: Counter) -> dict:
    """Sites whose call count differs from the allow-list."""
    keys = set(found) | set(ALLOWED)
    return {k: (found.get(k, 0), ALLOWED.get(k, (0, None))[0]) for k in keys
            if found.get(k, 0) != ALLOWED.get(k, (0, None))[0]}


def _repo_actions() -> Counter:
    found: Counter = Counter()
    for root in ROOTS:
        for path in sorted((REPO / root).rglob("*.py")):
            rel = path.relative_to(REPO).as_posix()
            found.update(driver_actions(path.read_text(), rel))
    return found


def test_every_driver_action_is_allow_listed():
    bad = violations(_repo_actions())
    assert not bad, f"(found, allowed) per unlisted or changed site: {bad}"
    assert all(bound for _, bound in ALLOWED.values())


def test_injected_unbounded_collect_is_caught():
    found = _repo_actions()
    path = "doppel_spark/operators/components.py"
    source = (REPO / path).read_text()
    base = driver_actions(source, path)
    # a new function with a bare collect
    leak = driver_actions(source + "\n\ndef leak(df):\n    return df.collect()\n",
                          path)
    assert violations(found - base + leak) == {(path, "leak", "collect"): (1, 0)}
    # a second collect inside an allow-listed function
    extra = driver_actions(source.replace(
        "    rows = edges.select(", "    everything = edges.collect()\n"
        "    rows = edges.select(", 1), path)
    assert violations(found - base + extra) == {
        (path, "_driver_labels", "collect"): (2, 1)}
