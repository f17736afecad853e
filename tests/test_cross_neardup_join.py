"""The cross-table near-dup join against a per-pair spec, and its
join direction.

``cross_snapshot_neardup_pairs`` and ``fuzzy_contamination_pairs`` run
one join: band keys of both sides, an equi-join on ``band_hash``,
semi-join pruning, then signature agreement ≥ threshold − margin. The
spec recomputes it from ``signature_stage`` rows in numpy: every pair
that shares at least one band hash and whose agreement reaches the
bound, with the same ``jaccard_est``. The sides are a seeded
``synth_pages`` slice split in two with overlapping ids (a re-crawl
keeps its url) and the corpus's partial near-duplicates (Jaccard
targets 0.95 … 0.5), so the threshold, the margin and the pruning all
decide pairs here.
"""

from __future__ import annotations

import numpy as np
import pytest

from doppel_spark.config import NearDupConfig
from doppel_spark.corpus import synth_pages
from doppel_spark.operators.contamination import fuzzy_contamination_pairs
from doppel_spark.operators.dedup import cross_snapshot_neardup_pairs
from doppel_spark.operators.lsh import signature_stage
from doppel_spark.plans.inspect import physical_plan

CFG = NearDupConfig()


@pytest.fixture(scope="module")
def sides(spark):
    """(left, right): rows i % 3 != 2 and i % 3 != 1 of 300 seeded
    pages — the i % 3 == 0 third is on both sides under the same url."""
    pdf = synth_pages(spark, 300, seed=7).select("url", "text").toPandas()
    pdf = pdf.sort_values("url").reset_index(drop=True)
    left = pdf[pdf.index % 3 != 2]
    right = pdf[pdf.index % 3 != 1]
    return (spark.createDataFrame(left, "url string, text string"),
            spark.createDataFrame(right, "url string, text string"))


def _signed(df, id_col: str = "url") -> dict:
    return {r[id_col]: (np.frombuffer(r["signature"], "<i4"),
                        set(r["band_hashes"]))
            for r in signature_stage(df, CFG, id_col=id_col).collect()}


@pytest.fixture(scope="module")
def spec(sides):
    """{(left id, right id): jaccard_est} plus the number of band-sharing
    candidates, from the signature rows alone."""
    left, right = (_signed(s) for s in sides)
    bound = CFG.jaccard_threshold - CFG.verify_margin
    pairs, n_cands = {}, 0
    for a, (sig_a, bands_a) in left.items():
        for b, (sig_b, bands_b) in right.items():
            if bands_a & bands_b:
                n_cands += 1
                est = int(np.count_nonzero(sig_a == sig_b)) / CFG.num_perm
                if est >= bound:
                    pairs[(a, b)] = est
    return pairs, n_cands


def test_spec_is_not_trivial(spec):
    pairs, n_cands = spec
    assert n_cands > len(pairs)                       # the bound rejects some
    assert any(a == b for a, b in pairs)              # overlapping ids
    assert any(a != b and est < 1.0 for (a, b), est in pairs.items())
    assert min(pairs.values()) < CFG.jaccard_threshold  # the margin admits


@pytest.mark.parametrize("seen_signed", [False, True])
def test_xsnap_pairs_match_spec(spark, sides, spec, seen_signed, new_mat):
    left, right = sides
    seen = signature_stage(right, CFG) if seen_signed else right
    out = cross_snapshot_neardup_pairs(left, seen, CFG, seen_signed=seen_signed,
                                       mat=new_mat())
    assert out.columns == ["url_new", "url_seen", "jaccard_est"]
    got = {(r[0], r[1]): r[2] for r in out.collect()}
    assert got == spec[0]


def test_contamination_pairs_match_spec(spark, sides, spec, new_mat):
    left, right = sides
    out = fuzzy_contamination_pairs(
        left, right.withColumnRenamed("url", "eval_id"), CFG, id_col="url",
        mat=new_mat())
    assert out.columns == ["url", "eval_id", "jaccard_est"]
    got = {(r[0], r[1]): r[2] for r in out.collect()}
    assert got == spec[0]


@pytest.fixture()
def hints_only(spark):
    """Only broadcast hints can broadcast while this fixture is live."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    prior = spark.conf.get(key)
    spark.conf.set(key, "-1")
    yield
    spark.conf.set(key, prior)


def test_join_direction(spark, sides, hints_only, new_mat):
    """Contamination broadcasts the eval side; xsnap broadcasts nothing
    (the seen side is the accumulated corpus)."""
    left, right = sides
    contam = fuzzy_contamination_pairs(
        left, right.withColumnRenamed("url", "eval_id"), CFG, id_col="url",
        mat=new_mat())
    xsnap = cross_snapshot_neardup_pairs(left, right, CFG, mat=new_mat())
    assert "BroadcastHashJoin" in physical_plan(contam)
    assert "BroadcastHashJoin" not in physical_plan(xsnap)
