"""Open-triangle enumeration, perturbation generation and the
depth-stratified flip analysis — the heart of CERTA
(certa/triangles_method.py).

Only the candidate scan that finds an explanation's support touches
data at scale (operators/support.py). Everything after it works on at
most ``num_triangles``+1 collected support pairs, so this module runs
that part on the driver, over pandas frames:

  * Wedge enumeration (getMixedTriangles, triangles_method.py:25-53):
    two hash merges pos><neg on the shared endpoint. Each triangle
    keeps the support rows it came from, which already carry every
    member's attributes — no lookup against the sources.

  * Perturbation generation (createPerturbationsFromTriangle,
    triangles_method.py:72-121): every (triangle, depth-``a`` attribute
    subset) row, for all depths at once.

  * Scoring (perturb_predict, triangles_method.py:266-334): the one
    step that needs the model. Perturbations go through the matcher's
    own Spark ``predict`` — one scoring path for every matcher — with
    the reference's per-depth monotonicity early exit: a ``cheap``
    matcher scores every depth in one round and the exit is replayed on
    the scores; any other matcher gets one round per depth over the
    instances still undecided.

  * Flip counting, PSS, saliency, cf_summary and counterfactual
    selection (triangles_method.py:224-263,376-396) are pandas folds.

:func:`mixed_triangles` is the Spark form of the wedge join, kept for
relational use (the ``er_wedges`` registry query).
"""

from __future__ import annotations

from itertools import combinations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from certa_spark.matching import Matcher
from certa_spark.schema import LPREFIX, RPREFIX

LIST_COLS = ("alteredAttributes", "droppedValues", "copiedValues")
BOOKKEEPING = (*LIST_COLS, "triangle")


def mixed_triangles(support_pairs: DataFrame) -> DataFrame:
    """J3 — enumerate open triangles (pivot, anchor, free) as a Spark plan.

    Input: support pairs with composite ``id`` ("0@l#1@r") and ``label``
    (1 = predicted match). A triangle <u, v, w> has <u,v> a match and
    <v,w> a non-match (triangles_method.py:26). Returns columns
    ``pivot, anchor, free`` ("src@id" strings) and ``side``
    ('left' when the pivot/free records live in the left source).
    """
    parts = F.split(F.col("id"), "#")
    edges = support_pairs.select(
        parts.getItem(0).alias("lt"),
        parts.getItem(1).alias("rt"),
        F.col("label").cast("int").alias("label"),
    )
    pos = edges.filter(F.col("label") == 1).select("lt", "rt")
    neg = edges.filter(F.col("label") == 0).select(
        F.col("lt").alias("n_lt"), F.col("rt").alias("n_rt")
    )
    # shared right endpoint: (l, r) match + (l', r) non-match -> <l, r, l'>
    left_tri = pos.join(neg, pos.rt == neg.n_rt).select(
        F.col("lt").alias("pivot"),
        F.col("rt").alias("anchor"),
        F.col("n_lt").alias("free"),
        F.lit("left").alias("side"),
    )
    # shared left endpoint: (l, r) match + (l, r') non-match -> <r, l, r'>
    right_tri = pos.join(neg, pos.lt == neg.n_lt).select(
        F.col("rt").alias("pivot"),
        F.col("lt").alias("anchor"),
        F.col("n_rt").alias("free"),
        F.lit("right").alias("side"),
    )
    return left_tri.unionByName(right_tri)


def open_triangles(support: pd.DataFrame) -> pd.DataFrame:
    """Driver-side getMixedTriangles over one instance's support pairs
    (composite ``id`` and ``label`` columns; same semantics as
    :func:`mixed_triangles`). Besides ``pivot, anchor, free, side`` each
    triangle keeps ``pos``/``neg``: the positions in ``support`` of its
    match pair <pivot, anchor> and of its non-match pair."""
    ends = support["id"].str.split("#", expand=True)
    edges = pd.DataFrame(
        {
            "lt": ends[0],
            "rt": ends[1],
            "label": support["label"].astype(int).to_numpy(),
            "row": np.arange(len(support)),
        }
    )
    pos, neg = edges[edges["label"] == 1], edges[edges["label"] == 0]
    left = pos.merge(neg, on="rt", suffixes=("", "_n"))
    right = pos.merge(neg, on="lt", suffixes=("", "_n"))
    return pd.concat(
        [
            pd.DataFrame({"pivot": left["lt"], "anchor": left["rt"],
                          "free": left["lt_n"], "side": "left",
                          "pos": left["row"], "neg": left["row_n"]}),
            pd.DataFrame({"pivot": right["rt"], "anchor": right["lt"],
                          "free": right["rt_n"], "side": "right",
                          "pos": right["row"], "neg": right["row_n"]}),
        ],
        ignore_index=True,
    )


def perturbations(
    support: pd.DataFrame,
    triangles: pd.DataFrame,
    l_attrs: list[str],
    r_attrs: list[str],
    class_to_explain: int,
    attr_length: int,
    lprefix: str = LPREFIX,
    rprefix: str = RPREFIX,
) -> pd.DataFrame:
    """UD5/U3 — every perturbation pair of every triangle at depths
    1..attr_length-1 (the reference's ``range(1, attr_length)``).

    For a left-side triangle the pivot u and free w are left records
    and the anchor v a right record (vice versa for right). For
    class_to_explain==1 the perturbed record starts from u and receives
    the subset's values from w; for class 0 it starts from w and
    receives values from u (triangles_method.py:84-105). Subsets are
    over *prefixed* attribute names (triangles_method.py:211-212).
    Output: prefixed pair attribute columns + alteredAttributes/
    droppedValues/copiedValues tuples + triangle string + depth.
    """
    attr_cols = [lprefix + c for c in l_attrs] + [rprefix + c for c in r_attrs]
    parts = []
    for side, pivot_cols, anchor_cols in (
        ("left", attr_cols[: len(l_attrs)], attr_cols[len(l_attrs):]),
        ("right", attr_cols[len(l_attrs):], attr_cols[: len(l_attrs)]),
    ):
        tri = triangles[triangles["side"] == side]
        if tri.empty:
            continue
        pos, neg = tri["pos"].to_numpy(), tri["neg"].to_numpy()
        pivot_recs = support[pivot_cols].to_numpy(object)
        u, w = pivot_recs[pos], pivot_recs[neg]
        anchor = support[anchor_cols].to_numpy(object)[pos]
        base, donor = (u, w) if class_to_explain == 1 else (w, u)
        names = (tri["pivot"] + " " + tri["anchor"] + " " + tri["free"]).tolist()
        for depth in range(1, attr_length):
            for subset in combinations(range(len(pivot_cols)), depth):
                sub = list(subset)
                vals = base.copy()
                vals[:, sub] = donor[:, sub]
                frame = pd.DataFrame(vals, columns=pivot_cols)
                frame[anchor_cols] = anchor
                frame["alteredAttributes"] = [tuple(pivot_cols[j] for j in sub)] * len(tri)
                frame["droppedValues"] = list(map(tuple, base[:, sub]))
                frame["copiedValues"] = list(map(tuple, donor[:, sub]))
                frame["triangle"] = names
                frame["depth"] = depth
                parts.append(frame)
    cols = [*attr_cols, *BOOKKEEPING, "depth"]
    if not parts:
        return pd.DataFrame(columns=cols)
    return pd.concat(parts, ignore_index=True)[cols]


def flip_condition(scored: pd.DataFrame, class_to_explain: int) -> pd.Series:
    """P9 — prediction flipped away from the original class
    (triangles_method.py:307)."""
    col = "match_score" if class_to_explain == 1 else "nomatch_score"
    return scored[col] < 0.5


def _score(
    spark: SparkSession, matcher: Matcher, frames: list[pd.DataFrame]
) -> list[np.ndarray]:
    """One model round over the perturbation rows of several
    instances: (match_score, nomatch_score) per row, per frame."""
    allp = pd.concat(frames, ignore_index=True)
    cols = [c for c in allp.columns if c != "depth"]
    schema = StructType(
        [StructField("_row", LongType())]
        + [
            StructField(c, ArrayType(StringType()) if c in LIST_COLS else StringType())
            for c in cols
        ]
    )
    rows = allp[cols].assign(
        _row=np.arange(len(allp)),
        **{c: allp[c].map(list) for c in LIST_COLS},
    )[schema.names]
    got = (
        matcher.predict(spark.createDataFrame(rows, schema))
        .select("_row", "match_score", "nomatch_score")
        .toPandas()
        .set_index("_row")
        .reindex(np.arange(len(allp)))
        .to_numpy(float)
    )
    return np.split(got, np.cumsum([len(f) for f in frames])[:-1])


def perturb_predict(
    spark: SparkSession,
    perturbations: list[pd.DataFrame],
    classes_to_explain: list[int],
    matcher: Matcher,
    attr_length: int,
) -> list[tuple[pd.DataFrame, pd.DataFrame, pd.DataFrame]]:
    """Depth-stratified perturb+predict with the monotonicity early
    exit (triangles_method.py:266-334), for several instances at once.

    Once an entire depth of an instance flips, its deeper depths get
    synthesized flipped scores instead of model calls (``all_good``,
    lines 309-327). A ``cheap`` matcher scores every instance and
    every depth in ONE round and the rule is replayed afterwards
    (depths past the first fully-flipped one are re-synthesized and
    left out of the prediction log); any other matcher gets one round
    per depth over the instances still undecided, so the early exit
    saves real inference.

    Returns per instance (flipped, rankings, predictions):
      * flipped — perturbation rows + scores that flipped;
      * rankings — (alteredAttributes, depth, flips) incl. zero-flip
        subsets (getAttributeRanking keeps zeros, line 377);
      * predictions — every *model-predicted* perturbation + scores
        (the S3 prediction log; synthesized depths excluded).
    """
    n = len(perturbations)
    depths = [p["depth"].to_numpy() for p in perturbations]
    scores = [np.full((len(p), 2), np.nan) for p in perturbations]
    first_all_flipped: list[int | None] = [None] * n
    all_depths = list(range(1, attr_length))
    rounds = (
        [all_depths]
        if getattr(matcher, "cheap", False)
        else [[d] for d in all_depths]
    )
    for round_depths in rounds:
        live = [i for i in range(n) if first_all_flipped[i] is None]
        masks = {i: np.isin(depths[i], round_depths) for i in live}
        live = [i for i in live if masks[i].any()]
        if not live:
            continue
        got = _score(spark, matcher, [perturbations[i][masks[i]] for i in live])
        for i, sc in zip(live, got):
            scores[i][masks[i]] = sc
            col = 0 if classes_to_explain[i] == 1 else 1
            flips = scores[i][:, col] < 0.5
            for d in round_depths:
                at = depths[i] == d
                if at.any() and flips[at].all():
                    first_all_flipped[i] = d
                    break

    out = []
    for i, pert in enumerate(perturbations):
        d_star = first_all_flipped[i]
        real = np.ones(len(pert), bool) if d_star is None else depths[i] <= d_star
        match_syn = 1.0 if classes_to_explain[i] == 0 else 0.0
        scores[i][~real] = (match_syn, 1.0 - match_syn)
        scored = pert.drop(columns="depth").assign(
            match_score=scores[i][:, 0],
            nomatch_score=scores[i][:, 1],
            depth=depths[i],
        )
        flip = flip_condition(scored, classes_to_explain[i])
        rankings = (
            scored.assign(flips=flip.astype(int))
            .groupby(["alteredAttributes", "depth"], sort=False)["flips"]
            .sum()
            .reset_index()
        )
        out.append((scored[flip], rankings, scored[real]))
    return out


def aggregate_rankings(
    rankings: pd.DataFrame, n_triangles: int, attr_length: int
) -> pd.DataFrame:
    """A2 — merge per-depth flip counts, normalize by #triangles
    (aggregateRankings, triangles_method.py:387-396).

    Returns (alteredAttributes tuple, attr_set string "a/b", pss).
    """
    kept = rankings[rankings["alteredAttributes"].map(len) <= attr_length]
    out = (
        kept.groupby("alteredAttributes", sort=False)["flips"].sum()
        / float(n_triangles)
    ).rename("pss").reset_index()
    out.insert(1, "attr_set", out["alteredAttributes"].map("/".join))
    return out


def saliency_from_counts(
    counts: dict[str, int],
    attributes: list[str],
    n_triangles: int,
    n_flipped: int,
) -> dict[str, float]:
    """A3 — per-attribute saliency (triangles_method.py:224-233):
    base rate n_triangles/flips plus the attribute's share of flip
    counts, where flips = #flipped predictions + #triangles."""
    flips = n_flipped + n_triangles
    base = n_triangles / flips if flips else 0.0
    return {a: base + counts.get(a, 0) / flips for a in attributes}


def saliency(
    rankings: pd.DataFrame,
    attributes: list[str],
    n_triangles: int,
    n_flipped: int,
) -> dict[str, float]:
    """:func:`saliency_from_counts` over the per-attribute flip counts
    folded from the rankings (integer sums, so exact)."""
    counts: dict[str, int] = {}
    for attrs, nf in zip(rankings["alteredAttributes"], rankings["flips"]):
        for a in attrs:
            counts[a] = counts.get(a, 0) + int(nf)
    return saliency_from_counts(counts, attributes, n_triangles, n_flipped)


def cf_summary(explanation: pd.DataFrame) -> pd.DataFrame:
    """A5+A6 — keep attr-sets at the max PSS, then drop any set that
    strictly contains another surviving set (cf_summary,
    triangles_method.py:254-263).

    The reference's minimality test operates on characters of the
    "a/b"-joined strings (a latent bug); we implement the documented
    intent — attr-*set* containment.
    """
    top = explanation[explanation["pss"] == explanation["pss"].max()]
    sets = [frozenset(a) for a in top["alteredAttributes"]]
    return top[[not any(b < a for b in sets) for a in sets]]


def _join(values: tuple) -> str:
    # array_join semantics: null elements are skipped
    return "/".join(v for v in values if v is not None)


def counterfactuals(flipped: pd.DataFrame, summary: pd.DataFrame) -> pd.DataFrame:
    """P7+P8+T4 — keep flipped rows whose altered set is one of the
    summary's minimal sets, dedup, order simplest-first
    (explain.py:73-77, triangles_method.py:236-239). The three
    bookkeeping tuples come out "/"-joined."""
    keys = set(summary["alteredAttributes"])
    out = flipped[flipped["alteredAttributes"].isin(keys)]
    out = out.drop_duplicates(["copiedValues", "alteredAttributes", "droppedValues"])
    out = out.assign(
        attr_count=out["alteredAttributes"].map(len),
        **{c: out[c].map(_join) for c in LIST_COLS},
    )
    return out.sort_values("attr_count", kind="stable").reset_index(drop=True)
