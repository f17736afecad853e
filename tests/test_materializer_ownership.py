"""The caller owns the materializer: no library operator builds one,
and the caller's ``cleanup()`` frees every cut an operator made.

Under ``doppel_spark/``, a ``StageMaterializer(...)`` or ``.for_input(...)``
call may appear only in ``operators/stage.py`` and in
``near_dup_pipeline``'s default (its ``NearDupResult`` owns and frees
it), and ``atexit`` may appear only in ``operators/stage.py`` (its one
per-session scratch-dir hook). Every other operator that cuts takes the
caller's ``mat``; the caller frees it with ``cleanup()``.
"""

from __future__ import annotations

import ast
import os
from pathlib import Path

import numpy as np
import pytest

from doppel_spark.operators.stage import StageMaterializer

REPO = Path(__file__).resolve().parents[1]
LIBRARY = "doppel_spark"
STAGE = f"{LIBRARY}/operators/stage.py"
#: (file, enclosing function) that may build a materializer
MAY_BUILD = {(STAGE, None), (f"{LIBRARY}/operators/neardup.py",
                            "near_dup_pipeline")}


def violations(path: str, source: str) -> set[tuple[str, str | None, str]]:
    """(path, enclosing top-level function, what) of every materializer
    build or ``atexit`` use in ``source`` outside the allowed places.
    Docstrings and comments are not code, so they never count."""
    found = set()

    def visit(node: ast.AST, func: str | None) -> None:
        for child in ast.iter_child_nodes(node):
            scope = func
            if func is None and isinstance(
                    child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                scope = child.name
            what = None
            if isinstance(child, ast.Call):
                f = child.func
                name = f.id if isinstance(f, ast.Name) else (
                    f.attr if isinstance(f, ast.Attribute) else None)
                if name in ("StageMaterializer", "for_input"):
                    what = name
            elif isinstance(child, (ast.Import, ast.ImportFrom)):
                mods = ([child.module] if isinstance(child, ast.ImportFrom)
                        else [a.name for a in child.names])
                if "atexit" in mods:
                    what = "atexit"
            elif isinstance(child, ast.Name) and child.id == "atexit":
                what = "atexit"
            if what == "atexit" and path != STAGE:
                found.add((path, scope, what))
            elif what and (path, None) not in MAY_BUILD \
                    and (path, scope) not in MAY_BUILD:
                found.add((path, scope, what))
            visit(child, scope)

    visit(ast.parse(source), None)
    return found


def _library() -> dict[str, str]:
    return {p.relative_to(REPO).as_posix(): p.read_text()
            for p in sorted((REPO / LIBRARY).rglob("*.py"))}


def test_no_library_operator_builds_or_registers_a_materializer():
    assert set().union(*(violations(p, s)
                         for p, s in _library().items())) == set()


def test_injected_one_off_materializer_is_caught():
    path = f"{LIBRARY}/operators/lsh.py"
    source = _library()[path] + (
        "\n\ndef one_off(df):\n"
        "    '''atexit.register(StageMaterializer.for_input(df))'''\n"
        "    import atexit\n"
        "    mat = StageMaterializer.for_input(df)\n"
        "    atexit.register(mat.cleanup)\n"
        "    return StageMaterializer(df.sparkSession)\n")
    assert violations(path, source) == {
        (path, "one_off", "atexit"), (path, "one_off", "for_input"),
        (path, "one_off", "StageMaterializer")}
    # the near-dup pipeline's default is the one place outside
    # stage.py that may build one, and stage.py alone may use atexit
    neardup = f"{LIBRARY}/operators/neardup.py"
    assert violations(neardup, _library()[neardup]) == set()
    assert violations(neardup, "def other(df):\n"
                      "    return StageMaterializer.for_input(df)\n") == {
        (neardup, "other", "for_input")}
    assert violations(STAGE, "import atexit\n") == set()


# ------------------------------------------------------ cleanup coverage --

def _pages(spark):
    from doppel_spark.corpus import synth_pages

    return synth_pages(spark, 200).select("url", "text")


def _emb(spark):
    rng = np.random.RandomState(3)
    base = rng.standard_normal((60, 16))
    rows = [(i, base[i].tolist()) for i in range(60)]
    rows += [(100 + i, (base[i] + rng.standard_normal(16) * 0.01).tolist())
             for i in range(20)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _edges(spark):
    return spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y"), ("c", "d")],
        "url_a string, url_b string")


def _run_cc(spark, mat):
    from doppel_spark.operators.components import connected_components

    return connected_components(_edges(spark), mat=mat)


def _run_host_rank(spark, mat):
    from doppel_spark.operators.graph import host_rank

    edges = spark.createDataFrame([(i % 7, (3 * i + 1) % 7) for i in range(40)],
                                  "src long, dst long")
    return host_rank(edges, iterations=3, mat=mat)


def _run_bloom(spark, mat):
    from doppel_spark.operators.bloom import cross_snapshot_new_bloom

    pages = _pages(spark)
    return cross_snapshot_new_bloom(pages, pages.filter("url < 'https://m'"),
                                    mat=mat)


def _run_budget(spark, mat):
    from doppel_spark.functions.text import token_count
    from doppel_spark.operators.budget import token_budget_sample

    return token_budget_sample(_pages(spark), 5000, token_count("text"),
                               id_col="url", mat=mat)


def _run_semantic(spark, mat):
    from doppel_spark.operators.similarity import semantic_dedup

    return semantic_dedup(_emb(spark), threshold=0.95, dim=16, mat=mat)


def _run_emb_pairs(spark, mat):
    from doppel_spark.operators.similarity import embedding_neardup_pairs

    return embedding_neardup_pairs(_emb(spark), threshold=0.95, dim=16,
                                   mat=mat)


def _run_buckets(spark, mat):
    from doppel_spark.operators.lsh import pairs_from_buckets

    df = spark.createDataFrame(
        [(1, "u1"), (1, "u2"), (1, "u3"), (2, "u4"), (2, "u5")],
        "k int, url string")
    return pairs_from_buckets(df, ["k"], bucket_cap=2, mat=mat)


def _run_fp_cands(spark, mat):
    from doppel_spark.operators.suffix import fingerprint_candidates

    return fingerprint_candidates(_pages(spark), mat=mat)


def _run_substring(spark, mat):
    from doppel_spark.operators.suffix import substring_dup_pairs

    return substring_dup_pairs(_pages(spark), min_len=256, mat=mat)


def _run_xsnap(spark, mat):
    from doppel_spark.operators.dedup import cross_snapshot_neardup_pairs

    pages = _pages(spark)
    return cross_snapshot_neardup_pairs(
        pages.filter("url >= 'https://m'"), pages, mat=mat)


def _eval_side(pages):
    return pages.filter("url < 'https://m'").withColumnRenamed("url", "eval_id")


def _run_contam(spark, mat):
    from doppel_spark.operators.contamination import fuzzy_contamination_pairs

    pages = _pages(spark)
    return fuzzy_contamination_pairs(pages, _eval_side(pages), id_col="url",
                                     mat=mat)


def _run_decontam(spark, mat):
    from doppel_spark.operators.contamination import fuzzy_decontaminate

    pages = _pages(spark)
    return fuzzy_decontaminate(pages, _eval_side(pages), id_col="url",
                               mat=mat)


OPERATORS = {
    "connected_components": _run_cc,
    "host_rank": _run_host_rank,
    "cross_snapshot_new_bloom": _run_bloom,
    "token_budget_sample": _run_budget,
    "semantic_dedup": _run_semantic,
    "embedding_neardup_pairs": _run_emb_pairs,
    "pairs_from_buckets": _run_buckets,
    "fingerprint_candidates": _run_fp_cands,
    "substring_dup_pairs": _run_substring,
    "cross_snapshot_neardup_pairs": _run_xsnap,
    "fuzzy_contamination_pairs": _run_contam,
    "fuzzy_decontaminate": _run_decontam,
}
#: cut only through ``cut_iter``, which in persist mode truncates the
#: plan with ``localCheckpoint`` (or, for a small graph, cuts nothing)
ITER_ONLY = {"connected_components", "host_rank"}


@pytest.mark.parametrize("name", sorted(OPERATORS))
@pytest.mark.parametrize("mode", ["persist", "table"])
def test_cleanup_frees_every_cut(spark, mode, name):
    """After the result is consumed, ``mat.cleanup()`` leaves no cached
    frame in the session and no scratch table on disk."""
    spark.catalog.clearCache()
    cache = spark._jsparkSession.sharedState().cacheManager()
    mat = StageMaterializer(spark, mode=mode, prefix="owned")
    OPERATORS[name](spark, mat).collect()
    paths = list(mat.paths)
    # non-vacuous: the operator cut through the caller's materializer
    if mode == "table":
        assert paths and all(os.path.exists(p) for p in paths)
    elif name not in ITER_ONLY:
        assert not cache.isEmpty()
    mat.cleanup()
    assert cache.isEmpty()
    assert not any(os.path.exists(p) for p in paths)
