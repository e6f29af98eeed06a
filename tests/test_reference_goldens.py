"""Always-running golden twins of tests/test_reference_parity.py.

The parity tests execute the reference implementation, which is not
installed on every host. These twins run the engine on the same
fixtures and compare against pinned outputs in
``tests/reference_goldens.json``: the triangle set, saliency, PSS,
``cf_summary`` and the multiset of counterfactual (alteredAttributes,
droppedValues, copiedValues) — plus, for the metric test, the engine's
counterfactual metric values.

The goldens were captured from the engine version that passed the
executed-reference tests; the file records the commit and the command
that regenerates it (``python tools/gen_reference_goldens.py``).
"""

from __future__ import annotations

import json
import os

import pandas as pd
import pytest

from tests.test_reference_parity import _sources

GOLDEN_PATH = os.path.join(os.path.dirname(__file__), "reference_goldens.json")
COLS = ["id", "name", "desc"]


def _nonmatch_class():
    _, l_rows, r_rows = _sources()
    return l_rows, r_rows


def _match_class():
    l_rows = [(0, "core token set one two", "shared desc words")]
    r_rows = [(0, "core token set one three", "shared desc words")]
    l_rows += [
        (1, "xeno yotta", "zulu one"),
        (2, "xeno yotta quux", "zulu two"),
        (3, "xeno quux", "zulu three"),
    ]
    r_rows += [
        (1, "nadir oblong", "pylon one"),
        (2, "nadir oblong quill", "pylon two"),
        (3, "nadir quill", "pylon three"),
    ]
    for i in range(4, 12):
        l_rows.append((i, "core token set one three", f"shared desc l{i}"))
        r_rows.append((i, "core token set one two", f"shared desc r{i}"))
    return l_rows, r_rows


def _da_fallback():
    desc = "c1 c2 c3 c4 c5 c6 c7 c8 c9 c10"
    l_rows = [(0, "anchor", desc)]
    r_rows = [(0, "anchor", desc)]
    for i in range(1, 11):
        l_rows.append((i, "anchor", f"c1 c2 c3 c4 c5 c6 c7 c8 c9 lfil{i}"))
        r_rows.append((i, "anchor", f"c1 c2 c3 c4 c5 c6 c7 c8 c9 rfil{i}"))
    l_rows.append((11, "zork", "la1 la2 la3 la4 la5 la6 la7 la8 la9 la10"))
    r_rows.append((11, "zork", "ra1 ra2 ra3 ra4 ra5 ra6 ra7 ra8 ra9 ra10"))
    return l_rows, r_rows


def _truncation_branch():
    desc = "c1 c2 c3 c4 c5 c6 c7 c8 c9 c10"
    l_rows = [(0, "anchor", desc)]
    r_rows = [(0, "anchor", desc)]
    for i in range(1, 12):
        l_rows.append((i, f"lw{i}", f"lx{i} ly{i} lz{i}"))
        r_rows.append((i, f"rw{i}", f"rx{i} ry{i} rz{i}"))
    return l_rows, r_rows


# golden key -> fixture, one per executed-reference explain test
EXPLAIN_FIXTURES = {
    "nonmatch_class": _nonmatch_class,
    "match_class": _match_class,
    "da_fallback": _da_fallback,
    "truncation_branch": _truncation_branch,
}


def explain_snapshot(spark, l_rows, r_rows, num_triangles: int = 6) -> dict:
    """The engine's explanation of (l_rows[0], r_rows[0]) in the JSON
    form the goldens store (order-free collections sorted)."""
    from certa_spark.explainer import CertaExplainer
    from certa_spark.matching import NativeCosineMatcher

    ex = CertaExplainer(
        spark,
        spark.createDataFrame(l_rows, COLS),
        spark.createDataFrame(r_rows, COLS),
        data_augmentation="no",
    )
    res = ex.explain(
        dict(zip(COLS, l_rows[0])),
        dict(zip(COLS, r_rows[0])),
        NativeCosineMatcher(),
        num_triangles=num_triangles,
    )
    cfs = res.counterfactuals
    keys = ["alteredAttributes", "droppedValues", "copiedValues"]
    return {
        "triangles": sorted(list(t) for t in res.triangles),
        "saliency": {k: float(v) for k, v in res.saliency_dict.items()},
        "pss": {k: float(v) for k, v in dict(res.pss).items()},
        "cf_summary": {k: float(v) for k, v in dict(res.cf_summary).items()},
        "counterfactuals": sorted(cfs[keys].values.tolist()) if len(cfs) else [],
    }


def metrics_snapshot(spark) -> dict:
    """The engine's counterfactual metrics on the fixture of
    test_cf_metrics_match_reference_formulas."""
    from certa_spark.matching import NativeCosineMatcher
    from certa_spark.metrics import (
        cf_diversity,
        cf_proximity,
        cf_sparsity,
        cf_validity,
    )

    attrs = ["ltable_name", "ltable_desc", "rtable_name", "rtable_desc"]
    extras = {
        "alteredAttributes": "('name',)",
        "copiedValues": "[]",
        "droppedValues": "[]",
        "attr_count": 1,
    }
    rows = [
        {"ltable_name": "alpha beta", "ltable_desc": "gamma",
         "rtable_name": "alpha beta", "rtable_desc": "gamma", **extras},
        {"ltable_name": "omega tau", "ltable_desc": "gamma",
         "rtable_name": "alpha beta", "rtable_desc": "sigma", **extras},
        {"ltable_name": "alpha beta", "ltable_desc": "delta",
         "rtable_name": "kappa mu", "rtable_desc": "gamma", **extras},
    ]
    original = {
        "ltable_name": "alpha beta", "ltable_desc": "gamma",
        "rtable_name": "kappa mu", "rtable_desc": "sigma",
    }
    sdf = spark.createDataFrame(pd.DataFrame(rows))
    proximity = cf_proximity(sdf, original)
    return {
        "validity": cf_validity(sdf, 1, NativeCosineMatcher()),
        "proximity": proximity,
        "diversity": cf_diversity(sdf, attrs),
        "sparsity": cf_sparsity(1.0 - proximity / len(original), len(attrs)),
    }


@pytest.fixture(scope="module")
def goldens():
    with open(GOLDEN_PATH) as f:
        return json.load(f)


@pytest.mark.parametrize("name", sorted(EXPLAIN_FIXTURES))
def test_explain_matches_golden(spark, goldens, name):
    l_rows, r_rows = EXPLAIN_FIXTURES[name]()
    got = explain_snapshot(spark, l_rows, r_rows)
    want = goldens["explain"][name]
    assert got["triangles"] == want["triangles"]
    assert got["saliency"] == want["saliency"]
    assert got["pss"] == want["pss"]
    assert got["cf_summary"] == want["cf_summary"]
    assert got["counterfactuals"] == want["counterfactuals"]


def test_da_fallback_golden_uses_copies(goldens):
    """The DA-fallback golden really exercises the copy scan: 6
    triangles, 4 of them with a generated copy (id >= 12) as free."""
    tris = goldens["explain"]["da_fallback"]["triangles"]
    assert len(tris) == 6
    assert sum(int(t[2].split("@")[1]) >= 12 for t in tris) == 4


def test_cf_metrics_match_golden(spark, goldens):
    got = metrics_snapshot(spark)
    for k, v in goldens["metrics"].items():
        assert got[k] == pytest.approx(v, rel=1e-12, abs=1e-12), k
