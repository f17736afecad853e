"""Connected components: the driver execution (small graphs) and the
Spark label propagation give the same rows, partial labels included.

``BOUND`` is monkeypatched to 0 to force the Spark execution; it is a
module constant, not a knob."""

from __future__ import annotations

import random
import warnings

import pytest

from doppel_spark.operators import components
from doppel_spark.operators.components import (
    ComponentsNotConverged,
    connected_components,
)
from doppel_spark.operators.stage import StageMaterializer


def _mat(edges):
    return StageMaterializer.for_input(edges, prefix="cc")


def _rows(edges, **kw):
    """Sorted rows of ``connected_components(edges, **kw)``, cut through
    a materializer freed afterwards."""
    mat = _mat(edges)
    try:
        return sorted(tuple(r) for r in connected_components(
            edges, mat=mat, **kw).collect())
    finally:
        mat.cleanup()


def _both(monkeypatch, edges, **kw):
    """(driver rows, Spark rows) of ``connected_components(edges, **kw)``."""
    driver = _rows(edges, **kw)
    with monkeypatch.context() as m:
        m.setattr(components, "BOUND", 0)
        spark_rows = _rows(edges, **kw)
    return driver, spark_rows


def _random_edges(seed, typ):
    """A seeded random graph with reversed, duplicate and self-loop edges."""
    rnd = random.Random(seed)
    node = ((lambda i: f"https://h{i % 7}.example/p{i:03d}") if typ == "string"
            else (lambda i: (i - 40) * 1_000_003))
    edges = [(node(rnd.randrange(80)), node(rnd.randrange(80)))
             for _ in range(90)]
    edges += [(b, a) for a, b in edges[:10]]        # reversed
    edges += edges[10:20]                            # duplicated
    edges += [(node(i), node(i)) for i in (3, 81)]   # self-loops, one isolated
    rnd.shuffle(edges)
    return edges


@pytest.mark.parametrize("typ", ["string", "long"])
@pytest.mark.parametrize("seed", [1, 2])
def test_driver_and_spark_components_agree(spark, monkeypatch, typ, seed):
    edges = spark.createDataFrame(_random_edges(seed, typ),
                                  f"url_a {typ}, url_b {typ}")
    driver, spark_rows = _both(monkeypatch, edges, max_iter=100)
    assert driver == spark_rows
    assert len(driver) > 40
    # and the frames carry the same schema
    with monkeypatch.context() as m:
        m.setattr(components, "BOUND", 0)
        spark_schema = connected_components(
            edges, max_iter=100, mat=_mat(edges)).schema
    assert connected_components(
        edges, max_iter=100, mat=_mat(edges)).schema == spark_schema


def test_driver_and_spark_partial_labels_agree(spark, monkeypatch):
    """A 13-node chain at max_iter=1: both raise; with strict=False both
    warn and return the same partial labels."""
    chain = [(f"n{i:03d}", f"n{i + 1:03d}") for i in range(12)]
    edges = spark.createDataFrame(chain, "url_a string, url_b string")
    for bound in (components.BOUND, 0):
        with monkeypatch.context() as m:
            m.setattr(components, "BOUND", bound)
            with pytest.raises(ComponentsNotConverged):
                connected_components(edges, max_iter=1, mat=_mat(edges))
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        driver, spark_rows = _both(monkeypatch, edges, max_iter=1, strict=False)
    assert sum(issubclass(w.category, RuntimeWarning)
               and "still changing" in str(w.message) for w in caught) == 2
    assert driver == spark_rows
    # round 1 fused + one more: every label is at most two hops down
    reps = {u: rep for u, rep, _ in driver}
    assert reps["n002"] == "n000" and reps["n004"] == "n002"


def test_graph_over_bound_takes_label_propagation(spark, monkeypatch):
    edges_rows = [("a", "b"), ("b", "c"), ("x", "y"), ("y", "z")]
    edges = spark.createDataFrame(edges_rows, "url_a string, url_b string")
    calls = []
    orig = StageMaterializer.cut_iter

    def spy(self, df, name, eager=True):
        calls.append(name)
        return orig(self, df, name, eager=eager)

    monkeypatch.setattr(StageMaterializer, "cut_iter", spy)
    monkeypatch.setattr(components, "BOUND", len(edges_rows))
    at_bound = _rows(edges)
    assert calls == []
    monkeypatch.setattr(components, "BOUND", len(edges_rows) - 1)
    over = _rows(edges)
    assert "cc_sym" in calls and "cc_labels0" in calls
    assert at_bound == over
    assert {(u, rep) for u, rep, _ in over} == {
        ("a", "a"), ("b", "a"), ("c", "a"), ("x", "x"), ("y", "x"), ("z", "x")}
