"""explain() leaves the session as it found it: no cached frames or
persisted RDDs left behind, and no session configuration changed —
also when batch and per-instance explains run concurrently."""

import threading

from certa_spark.eval import evaluate
from certa_spark.explainer import CertaExplainer
from certa_spark.matching import NativeCosineMatcher
from tests.fixtures import COLS

WATCHED_CONF = ("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")


def _instances(rows_a, rows_b, idx):
    return [(dict(zip(COLS, rows_a[i])), dict(zip(COLS, rows_b[i]))) for i in idx]


def _held(spark) -> tuple[int, int]:
    """(persisted RDDs, CacheManager entries)."""
    jcm = spark._jsparkSession.sharedState().cacheManager()  # noqa: SLF001
    return spark.sparkContext._jsc.getPersistentRDDs().size(), jcm.numCachedEntries()


def test_explain_releases_caches_and_rdds(spark, er_tables):
    rows_a, rows_b, A, B = er_tables
    ex = CertaExplainer(spark, A, B, data_augmentation="no")
    m = NativeCosineMatcher()
    insts = _instances(rows_a, rows_b, range(3))
    # the first explain materializes the explainer's own source caches
    ex.explain(*insts[0], m, num_triangles=10)
    before = _held(spark)
    res = ex.explain(*insts[1], m, num_triangles=10)
    batch = ex.explain_batch(insts, m, num_triangles=10)
    assert len(res.triangles) > 0 and len(batch) == 3
    assert _held(spark) == before


def test_session_conf_unchanged_by_concurrent_batch_and_eval(spark, er_tables):
    """A chunked explain_batch (two chunk threads) racing eval.evaluate
    (two worker threads) must leave the session configuration exactly
    as it was."""
    rows_a, rows_b, A, B = er_tables
    ex = CertaExplainer(spark, A, B, data_augmentation="no")
    m = NativeCosineMatcher()
    before = {k: spark.conf.get(k) for k in WATCHED_CONF}
    out, errors = {}, []

    def run(name, fn):
        try:
            out[name] = fn()
        except Exception as e:  # noqa: BLE001
            errors.append(e)

    threads = [
        threading.Thread(target=run, args=("batch", lambda: ex.explain_batch(
            _instances(rows_a, rows_b, range(3)), m, num_triangles=10,
            scan_batch_size=2,
        ))),
        threading.Thread(target=run, args=("eval", lambda: evaluate(
            spark, ex, _instances(rows_a, rows_b, range(3, 5)), m,
            num_triangles=10, parallelism=2,
        ))),
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors
    assert len(out["batch"]) == 3 and len(out["eval"]) == 2
    assert {k: spark.conf.get(k) for k in WATCHED_CONF} == before
