"""Support-pair search (certa/local_explain.py:17-197).

Given the explained pair (r1, r2), find ``num_triangles`` support pairs
that pair r1 (resp. r2) with records of the *opposite* source and get
the *opposite* model prediction — the raw material for open triangles.

Reference pipeline per side (find_candidates_predict,
local_explain.py:82-137): replicate the probe against every opposite
row (J2), rank by bag-of-words cosine (T1), then scan the ranked list
in batches of ``4*num_candidates`` (max 20), calling the model per
batch and stopping once ``num_candidates`` qualifying rows are found
(T3 early exit).

Spark-first re-expression — ONE distributed pass, exact same stopping
semantics:
  1. probe columns are literals -> no join at all for J2;
  2. ranking cap: only the first ``batch*20`` rows in score order can
     ever be scanned, so a per-side ``row_number`` bound (executed as a
     partial top-k before the shuffle) caps the data;
  3. model scores for the capped set are computed in one pass
     (one ``mapInPandas`` job instead of <=20 driver round-trips);
  4. the capped, scored rows (at most ``batch*20`` per side) are
     collected ONCE; the batched early exit is replayed on the driver
     from per-batch qualifying counts, and balancing, the seeded
     permutation and the head/tail cap run there too, with the same
     md5-derived hash (``functions.hashing.py_hash32``) the Spark
     plans used.

At 100TB the cosine ranking itself is the bottleneck; the scale path is
MinHash-LSH candidate pruning (certa_spark.operators.similarity) feeding
this same scan.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from certa_spark.functions.hashing import hash32, py_hash32
from certa_spark.functions.text import bow_cosine
from certa_spark.matching import Matcher
from certa_spark.schema import LPREFIX, RPREFIX

MAX_BATCHES = 20  # certa/local_explain.py:113


def _text_expr(cols: list[str]) -> F.Column:
    return F.concat_ws(
        " ", *[F.coalesce(F.col(c).cast("string"), F.lit("")) for c in cols]
    )


def _str(v) -> str | None:
    return None if v is None else str(v)


def _probe_text(rec: dict) -> str:
    return " ".join(str(v) for k, v in rec.items() if k not in ("id", "label"))


def candidate_pairs(
    probe: dict,
    source: DataFrame,
    probe_side: str,
    lprefix: str = LPREFIX,
    rprefix: str = RPREFIX,
) -> DataFrame:
    """J2 — pair the probe record with every row of the opposite source.

    The probe enters the plan as literal columns (cheaper than even a
    broadcast nested-loop join). ``probe_side='left'`` pairs the probe
    as ltable_* with each source row as rtable_*.
    """
    if probe_side == "left":
        probe_pfx, src_pfx = lprefix, rprefix
    else:
        probe_pfx, src_pfx = rprefix, lprefix
    out = source.select(
        *[F.col(c).cast("string").alias(src_pfx + c) for c in source.columns]
    )
    for k, v in probe.items():
        out = out.withColumn(probe_pfx + k, F.lit(_str(v)))
    return out


def scan_candidates_dual(
    parts: list[tuple[DataFrame, str, str, int, str]],
    matcher: Matcher,
    find_positives: dict[str, bool],
    num_candidates: int,
    max_predict: int = -1,
    batched: bool = True,
) -> tuple[pd.DataFrame, dict[str, int]]:
    """Every part's T1+T3 scan fused into ONE Spark action.

    ``parts``: (pairs, score_side_prefix, probe_text, seed, side_tag)
    per side; ``find_positives`` the polarity per side tag (instances
    of one batch may explain different classes). The sides are unioned
    under a ``_side_tag`` column so ranking (window per side) and the
    single model round run as one job chain; ordering rides a
    sign-folded score column and the qualifying test is
    tag-conditional. The per-side semantics (batch = 4*num_candidates,
    <=20 batches, stop at num_candidates qualifying,
    local_explain.py:112-128) are replayed on the collected rows.
    Returns (qualifying rows with _side_tag, {side_tag: n_qualifying}).
    """
    fp = find_positives
    batch = num_candidates * 4
    frames = []
    for pairs, pfx, ptext, seed, tag in parts:
        side_cols = [
            c for c in pairs.columns if c.startswith(pfx) and c != pfx + "id"
        ]
        df = pairs
        if max_predict > 0:
            # reference: random subsample before ranking (local_explain.py:103-104)
            df = (
                df.withColumn("_smp", hash32(_text_expr(df.columns), seed))
                .orderBy("_smp")
                .limit(max_predict)
                .drop("_smp")
            )
        frames.append(
            df.withColumn(
                "_score", bow_cosine(F.lit(ptext), _text_expr(side_cols))
            )
            .withColumn("_side_tag", F.lit(tag))
            # ascending sort of the sign-folded score == the per-part
            # direction (desc for find-positives); ties fall to the id
            # tiebreak either way, so ranks match the per-direction sort
            .withColumn(
                "_sord", F.col("_score") * F.lit(-1.0 if fp[tag] else 1.0)
            )
        )
    allc = frames[0]
    for f in frames[1:]:
        allc = allc.unionByName(f)

    pos_tags = [t for t, v in fp.items() if v]
    if len(pos_tags) == len(fp):
        qual = F.col("match_score") > 0.5
    elif not pos_tags:
        qual = F.col("match_score") < 0.5
    else:
        qual = F.when(
            F.col("_side_tag").isin(pos_tags), F.col("match_score") > 0.5
        ).otherwise(F.col("match_score") < 0.5)

    if not batched:
        result = matcher.predict(allc.drop("_score", "_sord")).filter(qual).toPandas()
        counts = result["_side_tag"].value_counts()
        return result, {tag: int(counts.get(tag, 0)) for *_, tag in parts}

    id_cols = [c for c in parts[0][0].columns if c.endswith("_id") or c.endswith("id")]
    # deterministic tiebreak (pandas sort ties are arbitrary; we pin them)
    order = [F.col("_sord").asc()] + [F.col(c).asc() for c in id_cols]
    # rows beyond batch*MAX_BATCHES can never be scanned; row_number<=k
    # over the per-side window is executed as WindowGroupLimit (partial
    # top-k per partition before the shuffle)
    w = Window.partitionBy("_side_tag").orderBy(*order)
    ranked = (
        allc.withColumn("_rn", F.row_number().over(w) - 1)
        .filter(F.col("_rn") < batch * MAX_BATCHES)
        .withColumn("_batch", (F.col("_rn") / F.lit(batch)).cast("int"))
    )
    predicted = (
        matcher.predict(ranked.drop("_score", "_sord"))
        .withColumn("_q", qual.cast("int"))
        .toPandas()
    )
    # replay the per-side stop rule on per-(side, batch) counts
    stats = predicted.groupby(["_side_tag", "_batch"])["_q"].agg(["sum", "size"])
    keep = pd.Series(False, index=predicted.index)
    n_qual: dict[str, int] = {}
    for *_, tag in parts:
        per_batch = stats.loc[tag] if tag in stats.index else stats.iloc[0:0]
        splits = min(MAX_BATCHES, int(per_batch["size"].sum()) // batch)
        stop, cum = -1, 0
        for b, nq in per_batch["sum"].sort_index().items():
            if b >= splits:
                break
            stop = b
            cum += int(nq)
            if cum >= num_candidates:
                break
        n_qual[tag] = cum
        keep |= (predicted["_side_tag"] == tag) & (predicted["_batch"] <= stop)
    result = predicted[keep & (predicted["_q"] == 1)]
    return result.drop(columns=["_q", "_rn", "_batch"]), n_qual


def _scanned_support(
    instances: list[tuple[dict, dict]],
    classes_to_explain: list[int],
    lsource: DataFrame,
    rsource: DataFrame,
    matcher: Matcher,
    num_triangles: int,
    lprefix: str,
    rprefix: str,
    use_w: bool = True,
    use_q: bool = True,
    max_predict: int = -1,
    batched: bool = True,
    seed: int = 42,
) -> list[tuple[pd.DataFrame, int]]:
    """certa/local_explain.py:162-197 for every instance through ONE
    fused scan: gather qualifying candidates on both sides, balance
    them, keep rows past the 0.5 threshold. Returns per instance the
    scored pair rows with composite ``id`` and their count."""
    parts, fp = [], {}
    for i, (r1, r2) in enumerate(instances):
        if use_q:
            c1 = candidate_pairs(r1, rsource, "left", lprefix, rprefix)
            parts.append((c1, rprefix, _probe_text(r1), seed, f"{i}:q"))
            fp[f"{i}:q"] = classes_to_explain[i] == 0
        if use_w:
            c2 = candidate_pairs(r2, lsource, "right", lprefix, rprefix)
            parts.append((c2, lprefix, _probe_text(r2), seed + 1, f"{i}:w"))
            fp[f"{i}:w"] = classes_to_explain[i] == 0
    if not parts:
        raise ValueError("at least one of use_w/use_q must be set")

    scanned, n_qual = scan_candidates_dual(
        parts, matcher, fp, int(num_triangles / 2), max_predict, batched
    )
    scanned = scanned.assign(
        id="0@" + scanned[lprefix + "id"] + "#1@" + scanned[rprefix + "id"]
    )
    out = []
    for i in range(len(instances)):
        tags = [t for t in (f"{i}:q", f"{i}:w") if t in n_qual]
        counts = [n_qual[t] for t in tags]
        rows = scanned[scanned["_side_tag"].isin(tags)]
        n_rows = sum(counts)
        if len(tags) == 2:
            max_len = min(counts) or max(counts)
            n_rows = sum(min(c, max_len) for c in counts)
            if max(counts) > max_len:
                # reference: random sample the larger side down to
                # max_len (local_explain.py:182-185), seeded per pair
                h = rows["id"].map(lambda s: py_hash32(s, seed))
                rows = rows.assign(_h=h).sort_values(
                    ["_h", lprefix + "id", rprefix + "id"], kind="stable"
                )
                rows = rows[
                    rows.groupby("_side_tag").cumcount() < max_len
                ].drop(columns="_h")
        thr = rows["match_score"] >= 0.5
        rows = rows[thr if classes_to_explain[i] == 0 else ~thr]
        out.append((rows.drop(columns="_side_tag"), n_rows))
    return out


def _assemble(
    rows: pd.DataFrame,
    n_support: int,
    r1: dict,
    r2: dict,
    class_to_explain: int,
    num_triangles: int,
    lprefix: str,
    rprefix: str,
    seed: int,
) -> pd.DataFrame:
    """certa/local_explain.py:61-79: seeded permutation (stands in for
    pandas sample(frac=1), line 186), head n/2 + tail n/2 cap (lines
    63-64), predicted-class labels, and the explained pair as row 0."""
    if n_support == 0:
        return rows.iloc[0:0]
    h = rows["id"].map(lambda s: py_hash32(s, seed + 13))
    rows = rows.assign(_h=h).sort_values(["_h", "id"], kind="stable")
    if n_support > num_triangles:
        half = int(num_triangles / 2)
        tail = rows.sort_values(["_h", "id"], ascending=[False, True], kind="stable")
        keep = rows.index[:half].union(tail.index[:half])
        rows = rows[rows.index.isin(keep)]
    rows = rows.assign(
        label=(rows["match_score"] >= 0.5).astype(int)
    ).drop(columns=["_h", "match_score", "nomatch_score"])
    head = {
        **{lprefix + k: _str(v) for k, v in r1.items()},
        **{rprefix + k: _str(v) for k, v in r2.items()},
        "id": f"0@{_str(r1['id'])}#1@{_str(r2['id'])}",
        "label": int(class_to_explain),
    }
    head_row = pd.DataFrame([head]).reindex(columns=rows.columns)
    return pd.concat([head_row, rows], ignore_index=True)


def support_predictions(
    spark: SparkSession,
    r1: dict,
    r2: dict,
    lsource: DataFrame,
    rsource: DataFrame,
    matcher: Matcher,
    class_to_explain: int,
    num_triangles: int = 100,
    lprefix: str = LPREFIX,
    rprefix: str = RPREFIX,
    use_w: bool = True,
    use_q: bool = True,
    max_predict: int = -1,
    use_all: bool = False,
    seed: int = 42,
) -> pd.DataFrame:
    """certa/local_explain.py:17-79 — the full support-set assembly.

    Returns the support pairs as a driver-side frame: prefixed record
    columns of both sides (strings), composite ``id`` and predicted
    ``label``. Row 0 is the explained pair itself with
    ``label = class_to_explain``; empty when no support was found.
    """
    from certa_spark.operators.augment import expand_copies

    def scan(ls, rs, s):
        return _scanned_support(
            [(r1, r2)], [class_to_explain], ls, rs, matcher, num_triangles,
            lprefix, rprefix, use_w, use_q, max_predict, not use_all, s,
        )[0]

    rows, n_support = scan(lsource, rsource, seed)
    if n_support < num_triangles:
        # DA fallback (local_explain.py:51-60): token-drop copies of the
        # probes themselves, paired through the same scan.
        n_l, n_r = lsource.count(), rsource.count()
        copies_left, copies_right = expand_copies(spark, r1, r2, n_l, n_r)
        rows2, n_support2 = scan(copies_right, copies_left, seed + 7)
        rows = pd.concat([rows, rows2], ignore_index=True)
        n_support += n_support2
    return _assemble(
        rows.reset_index(drop=True), n_support, r1, r2, class_to_explain,
        num_triangles, lprefix, rprefix, seed,
    )


def support_predictions_batch(
    instances: list[tuple[dict, dict]],
    lsource: DataFrame,
    rsource: DataFrame,
    matcher: Matcher,
    classes_to_explain: list[int],
    num_triangles: int = 100,
    lprefix: str = LPREFIX,
    rprefix: str = RPREFIX,
    max_predict: int = -1,
    seed: int = 42,
) -> list[pd.DataFrame | None]:
    """Set-oriented support assembly for a BATCH of explained pairs —
    the capability the reference's per-instance loop cannot express:
    ONE corpus scan, ONE TopK window pass, and ONE model round cover
    every instance's candidate search, instead of k sequential scans.

    Each instance contributes its two probe parts tagged
    ``"{i}:q"``/``"{i}:w"`` to a single :func:`scan_candidates_dual`
    call; balancing, the permutation and the head/tail cap then run
    per instance with the seeds the single-instance path uses, so
    ``explain_batch([x]) == explain(x)`` by construction
    (parity-tested). Instances whose support falls short of
    ``num_triangles`` come back as ``None``: they need the DA-fallback
    rescan, which callers run through :func:`support_predictions`.
    """
    scanned = _scanned_support(
        instances, classes_to_explain, lsource, rsource, matcher,
        num_triangles, lprefix, rprefix, max_predict=max_predict, seed=seed,
    )
    return [
        None
        if n < num_triangles
        else _assemble(
            rows.reset_index(drop=True), n, r1, r2, cls, num_triangles,
            lprefix, rprefix, seed,
        )
        for (r1, r2), cls, (rows, n) in zip(instances, classes_to_explain, scanned)
    ]
