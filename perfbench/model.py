"""The benchmark's black-box matcher: a pandas ``predict_fn`` for
``PandasPredictAdapter`` that scores pairs with
``NativeCosineMatcher.predict_pandas``, standing in for a Python model
with the same scores as the native matcher.

It runs inside Spark's Python workers, which import it by name: the
benchmark puts the checkout root on the workers' ``PYTHONPATH``. The
accumulators count the work the workers did; Spark sends their updates
back to the driver when each task ends.
"""

from __future__ import annotations

import time

import pandas as pd

from certa_spark.matching import NativeCosineMatcher


class CosineModel:
    """Callable ``pandas DataFrame -> same frame + score columns``."""

    def __init__(self, sc):
        self.rows = sc.accumulator(0)
        self.calls = sc.accumulator(0)
        self.busy_s = sc.accumulator(0.0)
        self.matcher = NativeCosineMatcher()

    def __call__(self, pdf: pd.DataFrame) -> pd.DataFrame:
        t0 = time.perf_counter()
        out = self.matcher.predict_pandas(pdf)
        self.rows.add(len(pdf))
        self.calls.add(1)
        self.busy_s.add(time.perf_counter() - t0)
        return out

    def counters(self) -> dict[str, float]:
        """Driver-side totals so far."""
        return {
            "rows_scored": self.rows.value,
            "calls": self.calls.value,
            "busy_s": self.busy_s.value,
        }
