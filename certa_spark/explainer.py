"""CertaExplainer — the flagship query facade (certa/explain.py:11-158).

Same contract as the reference: given two records and a matcher,
produce (saliency, probabilities-of-sufficiency, counterfactuals,
triangles). Pandas objects at the API edge for drop-in familiarity.

The candidate scan that finds the support pairs is the one stage that
touches data at scale, and it runs as one fused Spark pass per call
(operators/support.py). Its output — at most ``num_triangles``+1 pairs
per explained instance — is collected once, and the rest (triangles,
perturbations, flip counting, saliency, PSS, counterfactuals) is one
driver-side post-scan over a list of instances
(operators/triangles.py). Only the perturbation scoring goes back to
Spark, through the matcher's own ``predict``.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from certa_spark.matching import Matcher, NativeCosineMatcher
from certa_spark.operators import triangles as T
from certa_spark.operators.augment import generate_modified
from certa_spark.operators.pairs import pair_row
from certa_spark.operators.support import (
    support_predictions,
    support_predictions_batch,
)
from certa_spark.schema import LPREFIX, RPREFIX


@dataclass
class Explanation:
    """Result surface of one explain() call (explain.py:155)."""

    saliency: pd.DataFrame        # 1 row, one col per pair attribute
    pss: pd.Series                # "a/b"-keyed probability of sufficiency
    counterfactuals: pd.DataFrame
    triangles: list[tuple[str, str, str]]
    cf_summary: pd.Series = field(default_factory=pd.Series)
    lattices: list = field(default_factory=list)
    saliency_dict: dict[str, float] = field(default_factory=dict)


class CertaExplainer:
    def __init__(
        self,
        spark: SparkSession,
        lsource: DataFrame,
        rsource: DataFrame,
        data_augmentation: str = "on_demand",
        seed: int = 42,
    ):
        """Mirror of certa/explain.py:13-32: with DA enabled, both
        sources are widened upfront with token-drop copies
        (generate_subsequences); 'always' additionally disables the
        early-exit candidate scan (use_all)."""
        self.spark = spark
        self.seed = seed
        lsource = lsource.select(
            F.col("id").cast("long").alias("id"),
            *[F.col(c).cast("string").alias(c) for c in lsource.columns if c != "id"],
        )
        rsource = rsource.select(
            F.col("id").cast("long").alias("id"),
            *[F.col(c).cast("string").alias(c) for c in rsource.columns if c != "id"],
        )
        if data_augmentation in ("always", "on_demand"):
            n_l, n_r = lsource.count(), rsource.count()
            gen_l = generate_modified(lsource, start_id=n_l)
            gen_r = generate_modified(rsource, start_id=n_r)
            self.lsource = lsource.unionByName(gen_l).cache()
            self.rsource = rsource.unionByName(gen_r).cache()
            self.use_all = data_augmentation == "always"
        else:
            self.lsource = lsource.cache()
            self.rsource = rsource.cache()
            self.use_all = False

    def explain(
        self,
        l_tuple: dict,
        r_tuple: dict,
        matcher: Matcher | None = None,
        left: bool = True,
        right: bool = True,
        attr_length: int = -1,
        num_triangles: int = 100,
        lprefix: str = LPREFIX,
        rprefix: str = RPREFIX,
        max_predict: int = -1,
        debug: bool = False,
    ) -> Explanation:
        if matcher is None:
            matcher = NativeCosineMatcher(lprefix, rprefix)

        # 1. original prediction (explain.py:54-55)
        r1r2 = pair_row(self.spark, l_tuple, r_tuple, lprefix, rprefix)
        scores = matcher.predict(r1r2).select("nomatch_score", "match_score").collect()[0]
        pc = 1 if scores["match_score"] > scores["nomatch_score"] else 0

        # 2. support search (explain.py:56-62), collected
        support = support_predictions(
            self.spark, l_tuple, r_tuple, self.lsource, self.rsource, matcher,
            class_to_explain=pc, num_triangles=num_triangles,
            lprefix=lprefix, rprefix=rprefix, use_w=left, use_q=right,
            max_predict=max_predict, use_all=self.use_all, seed=self.seed,
        )
        if attr_length <= 0:
            attr_length = min(len(l_tuple) - 1, len(r_tuple) - 1)
        return self._post_scan(
            [support], [pc], [float(scores["match_score"])], matcher,
            attr_length, lprefix, rprefix, debug,
        )[0]

    def explain_batch(
        self,
        instances: list[tuple[dict, dict]],
        matcher: Matcher | None = None,
        num_triangles: int = 100,
        attr_length: int = -1,
        lprefix: str = LPREFIX,
        rprefix: str = RPREFIX,
        max_predict: int = -1,
        scan_batch_size: int = 8,
    ) -> list[Explanation]:
        """Set-oriented multi-pair explain — the shape the reference's
        per-instance Python loop cannot express: ONE model round scores
        every instance's original pair, ONE fused corpus scan + model
        round (operators/support.support_predictions_batch) covers
        every instance's candidate search, and ONE post-scan explains
        them all (a single perturbation scoring round for a ``cheap``
        matcher).

        ``explain_batch([x]) == [explain(x)]`` by construction (same
        seeds, same per-tag stop rules) — parity-tested. Instances
        whose support falls short (DA fallback) get their support from
        the single-instance scan.

        ``scan_batch_size`` chunks very large batches: each chunk is
        one fused scan, and two chunks run at a time (one chunk's scan
        overlaps the other's post-scan). Catalyst analysis of the k-way
        union grows superlinearly with k, so the default keeps each
        plan in the regime where the fused scan wins.
        """
        if matcher is None:
            matcher = NativeCosineMatcher(lprefix, rprefix)
        if len(instances) > scan_batch_size:
            from concurrent.futures import ThreadPoolExecutor

            chunks = [
                instances[at : at + scan_batch_size]
                for at in range(0, len(instances), scan_batch_size)
            ]
            with ThreadPoolExecutor(max_workers=2) as cpool:
                parts = list(
                    cpool.map(
                        lambda ch: self.explain_batch(
                            ch, matcher, num_triangles, attr_length,
                            lprefix, rprefix, max_predict, scan_batch_size,
                        ),
                        chunks,
                    )
                )
            return [e for part in parts for e in part]

        # 1. original predictions, one model round for all instances
        heads = None
        for i, (l_t, r_t) in enumerate(instances):
            h = pair_row(self.spark, l_t, r_t, lprefix, rprefix).withColumn(
                "_i", F.lit(i)
            )
            heads = h if heads is None else heads.unionByName(h)
        score_rows = {
            r["_i"]: r
            for r in matcher.predict(heads)
            .select("_i", "nomatch_score", "match_score")
            .collect()
        }
        match_scores = [float(score_rows[i]["match_score"]) for i in range(len(instances))]
        pcs = [
            1 if score_rows[i]["match_score"] > score_rows[i]["nomatch_score"] else 0
            for i in range(len(instances))
        ]

        # 2. fused support scan for all instances
        supports = support_predictions_batch(
            instances, self.lsource, self.rsource, matcher, pcs,
            num_triangles, lprefix, rprefix, max_predict, self.seed,
        )
        for i, support in enumerate(supports):
            if support is None:
                supports[i] = support_predictions(
                    self.spark, *instances[i], self.lsource, self.rsource,
                    matcher, pcs[i], num_triangles, lprefix, rprefix,
                    max_predict=max_predict, use_all=self.use_all, seed=self.seed,
                )

        if attr_length <= 0:
            attr_length = min(
                len(instances[0][0]) - 1, len(instances[0][1]) - 1
            )
        return self._post_scan(
            supports, pcs, match_scores, matcher, attr_length, lprefix,
            rprefix, False,
        )

    def _post_scan(
        self,
        supports: list[pd.DataFrame],
        pcs: list[int],
        match_scores: list[float],
        matcher: Matcher,
        attr_length: int,
        lprefix: str,
        rprefix: str,
        debug: bool,
    ) -> list[Explanation]:
        """Triangles, perturbations, scoring, rankings and summaries for
        every instance's collected support (explain.py:63-158)."""
        l_attrs = [c for c in self.lsource.columns if c != "id"]
        r_attrs = [c for c in self.rsource.columns if c != "id"]
        attributes = [lprefix + c for c in l_attrs] + [rprefix + c for c in r_attrs]

        # 3. triangle enumeration (triangles_method.py:25-53)
        tris = [
            T.open_triangles(s) if len(s) else pd.DataFrame() for s in supports
        ]
        live = [i for i, t in enumerate(tris) if len(t)]
        # 4. perturbations of every depth, scored with the per-depth
        # early exit (triangles_method.py:266-334)
        perts = [
            T.perturbations(
                supports[i], tris[i], l_attrs, r_attrs, pcs[i], attr_length,
                lprefix, rprefix,
            )
            for i in live
        ]
        scored = T.perturb_predict(
            self.spark, perts, [pcs[i] for i in live], matcher, attr_length
        )

        out = [
            Explanation(pd.DataFrame(), pd.Series(dtype=float), pd.DataFrame(), [])
            for _ in supports
        ]
        for i, (flipped, rankings, predicted) in zip(live, scored):
            # 5. rankings, saliency and summaries (explain.py:63-77)
            n_triangles = len(tris[i])
            pss = T.aggregate_rankings(rankings, n_triangles, attr_length)
            sal = T.saliency(rankings, attributes, n_triangles, len(flipped))
            summary = T.cf_summary(pss)
            lattices: list = []
            if debug:
                # debug lattices (explain.py:79-153), regrouped from the
                # prediction log; the reference's CSV round-trip is skipped
                from certa_spark.lattice import lattices_from_predictions

                lattices = lattices_from_predictions(
                    predicted.to_dict("records"), attributes, match_scores[i]
                )
            out[i] = Explanation(
                saliency=pd.DataFrame([sal]),
                pss=pd.Series(pss["pss"].to_numpy(), index=pss["attr_set"].to_numpy()),
                counterfactuals=T.counterfactuals(flipped, summary),
                triangles=list(
                    zip(tris[i]["pivot"], tris[i]["anchor"], tris[i]["free"])
                ),
                cf_summary=pd.Series(
                    summary["pss"].to_numpy(), index=summary["attr_set"].to_numpy()
                ),
                lattices=lattices,
                saliency_dict=sal,
            )
        return out
