"""Inputs and output checks for the explain workloads.

The part table has the shape of the TPC-H-style ``part`` table at
sf0.1 (20,000 rows; names of one adjective and one noun from 8 each,
6 types) and is generated from the run's seed, so a run reads nothing
outside its checkout. ``certa_spark.queries._er_sources`` turns it
into the ER cast: the left side keeps the name, the right side drops
the name's last token.
"""

from __future__ import annotations

import math
import re
from dataclasses import dataclass

import numpy as np
import pandas as pd

PART_ROWS = 20_000
ADJECTIVES = ("red", "small", "hot", "cold", "old", "new", "large", "blue")
NOUNS = ("gear", "gizmo", "widget", "ring", "plate", "anvil", "bolt", "rod")
TYPES = ("LARGE", "MEDIUM", "ECONOMY", "PROMO", "SMALL", "STANDARD")
LPREFIX, RPREFIX = "ltable_", "rtable_"


@dataclass(frozen=True)
class Workload:
    name: str
    num_triangles: int
    copies: int          # the sources are this many id-shifted copies
    blackbox: bool       # pandas model behind PandasPredictAdapter
    min_ops: int         # timed explains per run, at least


WORKLOADS = {
    w.name: w
    for w in (
        Workload("explain_single", num_triangles=10, copies=1, blackbox=False,
                 min_ops=3),
        Workload("explain_blackbox", num_triangles=30, copies=2, blackbox=True,
                 min_ops=2),
    )
}


def part_table(seed: int) -> pd.DataFrame:
    rng = np.random.default_rng(seed)
    adj = rng.integers(0, len(ADJECTIVES), PART_ROWS)
    noun = rng.integers(0, len(NOUNS), PART_ROWS)
    typ = rng.integers(0, len(TYPES), PART_ROWS)
    return pd.DataFrame(
        {
            "p_partkey": np.arange(PART_ROWS, dtype="int64"),
            "p_name": [f"{ADJECTIVES[a]} {NOUNS[n]}" for a, n in zip(adj, noun)],
            "p_type": [TYPES[t] for t in typ],
        }
    )


def cast_sides(part: pd.DataFrame, copies: int) -> tuple[pd.DataFrame, pd.DataFrame]:
    """Driver-side twin of the sources the explainer sees: the
    ``_er_sources`` cast, then ``copies`` copies where copy k has ids
    shifted by k * PART_ROWS and a ``c<k>`` token appended to the name
    (only when ``copies > 1``). Indexed by id."""
    left = pd.DataFrame(
        {"id": part.p_partkey, "name": part.p_name, "type": part.p_type}
    )
    right = left.assign(
        name=[re.sub(r"\s+\S+\s*$", "", n) for n in part.p_name]
    )
    if copies > 1:
        left, right = (
            pd.concat(
                side.assign(id=side.id + k * PART_ROWS, name=side.name + f" c{k}")
                for k in range(copies)
            )
            for side in (left, right)
        )
    return left.set_index("id"), right.set_index("id")


def copy_sources(lsource, rsource, copies: int):
    """Spark side of :func:`cast_sides`' copies."""
    from pyspark.sql import functions as F

    def grow(df):
        out = None
        for k in range(copies):
            part = df.select(
                (F.col("id") + k * PART_ROWS).alias("id"),
                F.concat(F.col("name"), F.lit(f" c{k}")).alias("name"),
                F.col("type"),
            )
            out = part if out is None else out.unionByName(part)
        return out

    return grow(lsource), grow(rsource)


def record(side: pd.DataFrame, rid: int) -> dict:
    row = side.loc[rid]
    return {"id": int(rid), "name": row["name"], "type": row["type"]}


def pair_frame(pairs: list[tuple[dict, dict]]) -> pd.DataFrame:
    """Wide pair rows, the input of ``predict_pandas``."""
    return pd.DataFrame(
        [
            {**{LPREFIX + k: v for k, v in l.items()}, **{RPREFIX + k: v for k, v in r.items()}}
            for l, r in pairs
        ]
    )


def instances(seed, left, right, count: int, predict_pandas):
    """``count`` (left record, right record, class) triples cycling
    match, non-match, match: a record with its own right-side variant,
    or a random pair the matcher scores below 0.5."""
    rng = np.random.default_rng([seed, 1])
    ids = left.index.to_numpy()
    out = []
    while len(out) < count:
        if len(out) % 3 == 1:
            lid, rid = rng.choice(ids, 2)
            cls = 0
        else:
            lid = rid = rng.choice(ids)
            cls = 1
        l_rec, r_rec = record(left, lid), record(right, rid)
        score = predict_pandas(pair_frame([(l_rec, r_rec)]))["match_score"][0]
        if (score > 0.5) == bool(cls) and score != 0.5:
            out.append((l_rec, r_rec, cls))
    return out


def _member(m: str) -> tuple[int, int]:
    side, rid = m.split("@")
    return int(side), int(rid)


def _pair(a: str, b: str) -> tuple[int, int]:
    """(left id, right id) of a pair of triangle members."""
    (sa, ia), (sb, ib) = _member(a), _member(b)
    if {sa, sb} != {0, 1}:
        raise ValueError(f"members {a!r}, {b!r} are not one per side")
    return (ia, ib) if sa == 0 else (ib, ia)


def check_explanation(
    expl, l_rec: dict, r_rec: dict, cls: int, num_triangles: int,
    left: pd.DataFrame, right: pd.DataFrame, predict_pandas,
) -> list[str]:
    """Problems found in one explanation; empty when it is correct.

    A triangle <pivot, anchor, free> joins a predicted match
    <pivot, anchor> to a predicted non-match <anchor, free>, and one of
    the two is the explained pair: the match when the explained class
    is 1, the non-match when it is 0. Every pair is predicted again on
    the driver with ``predict_pandas``."""
    problems = []
    tris = expl.triangles
    if not 1 <= len(tris) <= num_triangles:
        problems.append(f"{len(tris)} triangles, want 1..{num_triangles}")
    sal = expl.saliency_dict
    if not sal or not all(
        math.isfinite(float(v)) and 0.0 <= float(v) <= 1.0 for v in sal.values()
    ):
        problems.append(f"saliency outside [0, 1]: {sal}")
    if not tris:
        return problems
    explained = (l_rec["id"], r_rec["id"])
    pairs = []
    for pivot, anchor, free in tris:
        match, nonmatch = _pair(pivot, anchor), _pair(anchor, free)
        if (match if cls == 1 else nonmatch) != explained:
            problems.append(f"triangle {(pivot, anchor, free)} misses {explained}")
        pairs += [match, nonmatch]
    rows = pair_frame([(record(left, lid), record(right, rid)) for lid, rid in pairs])
    scores = predict_pandas(rows)["match_score"].to_numpy()
    # support labels are round(match_score): a match scores >= 0.5
    bad = np.flatnonzero((scores[0::2] < 0.5) | (scores[1::2] >= 0.5))
    for t in bad:
        problems.append(
            f"triangle {tris[t]} scores {scores[2 * t]:.3f}/{scores[2 * t + 1]:.3f}"
        )
    return problems


def same_explanation(a, b) -> list[str]:
    """Problems if two explanations differ in triangles or saliency."""
    problems = []
    if sorted(a.triangles) != sorted(b.triangles):
        problems.append("triangles differ")
    sa, sb = a.saliency_dict, b.saliency_dict
    if sa.keys() != sb.keys() or any(abs(sa[k] - sb[k]) > 1e-9 for k in sa):
        problems.append(f"saliency differs: {sa} vs {sb}")
    return problems
