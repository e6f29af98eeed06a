"""certa-spark benchmark: CERTA explanations timed end to end, with a
separate traced run for per-layer numbers.

    python3 perfbench/run.py --workload explain_single --seed 1 --seconds 10 --trace 0

Each run is one process with one client: it generates its inputs from
``--seed``, starts a Spark session on ``local[nproc]``, builds the
sources and the explainer, explains one warm-up pair, then explains
pairs one after another (a closed loop) until ``--seconds`` of
explain wall time are spent, and at least the workload's ``min_ops``
times. Every explanation is checked (see
``workloads.check_explanation``), and so is the session's configuration
before and after each op. The last line of stdout is the JSON result;
the line before it carries the details.

``--trace 1`` reports per-layer metrics instead. It writes a Spark
event log, explains every pair twice, once with spans recorded around
the layers' entry points (see ``spans.py``) and once without, and
reports the traced ops' layer breakdown and the difference between the
two medians as tracing overhead.
"""

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402
from contextlib import contextmanager  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import spans as S  # noqa: E402
from perfbench import workloads as W  # noqa: E402

# A run needs fewer ops than this: an explain takes seconds.
MAX_OPS = 60
# Session settings a single op must leave as it found them.
WATCHED_CONF = ("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")
SPAN_METRICS = ("support", "triangles.enum", "triangles.perturb_predict", "triangles.rank")


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(W.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def vm_hwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def metric(value, unit):
    return {"value": value, "unit": unit}


class Run:
    def __init__(self, args, work: str):
        self.args = args
        self.wl = W.WORKLOADS[args.workload]
        self.work = work
        self.tracer = S.Tracer()
        self.setup: dict[str, float] = {}
        self.conf_drift = 0
        self.spark = None

    @contextmanager
    def phase(self, name):
        t0 = time.perf_counter()
        with self.tracer.span(name):
            yield
        self.setup[name] = time.perf_counter() - t0

    def start(self):
        from pyspark import SparkContext

        from certa_spark import (
            CertaExplainer, NativeCosineMatcher, PandasPredictAdapter, get_spark,
        )
        from certa_spark.queries import _er_sources
        from perfbench.model import CosineModel

        args, wl = self.args, self.wl
        if args.trace:
            self.tracer.patch()
            self.tracer.enabled = True
        part = W.part_table(args.seed)
        self.left, self.right = W.cast_sides(part, wl.copies)
        data_dir = os.path.join(self.work, "data")
        os.makedirs(data_dir)
        part.to_parquet(os.path.join(data_dir, "part.parquet"))
        self.native = NativeCosineMatcher()
        todo = W.instances(args.seed, self.left, self.right, MAX_OPS + 1, self.native.predict_pandas)
        self.instances, warm = todo[:MAX_OPS], todo[MAX_OPS]

        self.nproc = len(os.sched_getaffinity(0))
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tempfile.gettempdir()} -XX:-UsePerfData",
        }
        if args.trace:
            self.events = os.path.join(self.work, "events")
            os.makedirs(self.events)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.events,
                "spark.eventLog.compress": "false",
            })
        with self.phase("session.start"):
            self.spark = get_spark(
                master=f"local[{self.nproc}]", shuffle_partitions=self.nproc,
                extra_conf=conf,
            )
        self.gateway = SparkContext._gateway
        with self.phase("sources.load"):
            lsrc, rsrc = _er_sources(self.spark, data_dir)
            if wl.copies > 1:
                lsrc, rsrc = W.copy_sources(lsrc, rsrc, wl.copies)
        with self.phase("explainer.init"):
            self.explainer = CertaExplainer(self.spark, lsrc, rsrc, data_augmentation="no")
        self.model = CosineModel(self.spark.sparkContext) if wl.blackbox else None
        self.matcher = PandasPredictAdapter(predict_fn=self.model) if wl.blackbox else self.native
        self.op_id = 0
        with self.phase("warmup"):
            if wl.blackbox:
                # The native explanation of the first pair fills the source
                # caches on the scan path both matchers share, and is the
                # reference the black box must reproduce (see parity()).
                self.warm = self.op(*self.instances[0], matcher=self.native)
                self.start_model()
            else:
                self.warm = self.op(*warm)
        self.setup_s = time.perf_counter() - T_START

    def start_model(self) -> None:
        """Start the Python workers and their model on every core."""
        rows = W.pair_frame([(l, r) for l, r, _ in self.instances])
        pairs = self.spark.createDataFrame(rows).repartition(self.nproc)
        self.matcher.predict(pairs).collect()

    def retained_heap_mb(self) -> float:
        """JVM heap still in use after full collections. Spark's cleaner
        drops the blocks of unreferenced RDDs and broadcasts on its own
        thread after a collection finds them, so collect, wait, and
        take the least of three rounds."""
        jvm = self.spark.sparkContext._jvm
        rt = jvm.java.lang.Runtime.getRuntime()
        used = []
        for _ in range(3):
            gc.collect()  # drops dead DataFrame handles, freeing their JVM objects
            jvm.java.lang.System.gc()
            used.append((rt.totalMemory() - rt.freeMemory()) / 2**20)
            time.sleep(0.5)
        return min(used)

    def conf(self) -> dict:
        return {k: self.spark.conf.get(k) for k in WATCHED_CONF}

    def persisted(self) -> int:
        return self.spark.sparkContext._jsc.getPersistentRDDs().size()

    def op(self, l_rec, r_rec, cls, matcher=None) -> dict:
        """One explain, timed, then checked."""
        matcher = matcher or self.matcher
        before = self.conf()
        rdds = self.persisted() if self.args.trace else 0
        counters = self.model.counters() if self.model else None
        self.tracer.op = self.op_id
        rec = {"op": self.op_id, "traced": self.tracer.enabled, "problems": [], "raised": False}
        self.op_id += 1
        rec["start"] = time.time()
        t0 = time.perf_counter()
        try:
            with self.tracer.span("explain"):
                expl = self.explainer.explain(
                    l_rec, r_rec, matcher, num_triangles=self.wl.num_triangles
                )
        except Exception:
            expl = None
            rec["raised"] = True
            rec["problems"].append(traceback.format_exc(limit=3))
        rec["wall"] = time.perf_counter() - t0
        rec["end"] = rec["start"] + rec["wall"]
        self.tracer.op = None
        after = self.conf()
        rec["drift"] = before != after
        if rec["drift"]:
            # put the session back so that every op starts from the same state
            self.conf_drift += 1
            rec["drift_from"] = (before, after)
            for k, v in before.items():
                self.spark.conf.set(k, v)
        if self.args.trace:
            rec["rdds_delta"] = self.persisted() - rdds
        if expl is not None:
            rec["problems"] += W.check_explanation(
                expl, l_rec, r_rec, cls, self.wl.num_triangles,
                self.left, self.right, self.native.predict_pandas,
            )
            rec["triangles"] = len(expl.triangles)
            rec["expl"] = expl
        if counters is not None:
            now = self.model.counters()
            rec["model"] = {k: now[k] - counters[k] for k in now}
        return rec

    def loop(self, seconds: float) -> list[dict]:
        """Explain until ``seconds`` of explain wall time are spent, and
        at least ``min_ops`` times: an explain takes seconds, and a
        median of few samples follows every hiccup of a shared host."""
        ops, spent = [], 0.0
        while spent < seconds or len(ops) < self.wl.min_ops:
            ops.append(self.op(*self.instances[len(ops) % MAX_OPS]))
            spent += ops[-1]["wall"]
        return ops

    def traced_loop(self, seconds: float) -> list[dict]:
        """Explain each pair twice, untraced then traced for even pairs
        and the other way round for odd ones, so that the earlier, slower
        ops of a process weigh on both sides alike. Runs whole blocks of
        two pairs until each side has spent ``seconds``."""
        ops: list[dict] = []
        k = 0
        while k % 2 or min(
            sum(o["wall"] for o in ops if o["traced"] == side) for side in (False, True)
        ) < seconds:
            for traced in (False, True) if k % 2 == 0 else (True, False):
                self.tracer.enabled = traced
                ops.append(self.op(*self.instances[k % MAX_OPS]))
            k += 1
        return ops

    def parity(self, first: dict) -> None:
        """The black box must explain the first pair exactly as the
        native matcher did in the warm-up (same scores, other path)."""
        if "expl" in first and "expl" in self.warm:
            first["problems"] += W.same_explanation(first["expl"], self.warm["expl"])

    def stop(self) -> None:
        if self.spark is None:
            return
        proc = self.gateway.proc
        self.spark.stop()
        self.gateway.shutdown()
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        self.spark = None


def end_to_end(run: Run, ops: list[dict], driver_rss_mb: float) -> dict:
    done = [o for o in ops if not o["raised"]]
    walls = [o["wall"] for o in done]
    return {
        "setup_s": metric(run.setup_s, "s"),
        "explain_p50_s": metric(statistics.median(walls), "s"),
        "explains_per_min": metric(60.0 * len(done) / sum(walls), "1/min"),
        "driver_peak_rss_mb": metric(driver_rss_mb, "MB"),
    }


def per_layer(run: Run, ops: list[dict], rss: dict, retained_mb: float) -> dict:
    traced = [o for o in ops if o["traced"] and not o["raised"]]
    plain = [o for o in ops if not o["traced"] and not o["raised"]]
    spans = run.tracer.spans
    jobs, stages = S.read_event_log(run.events)
    by_span = S.attribute(spans, jobs, stages)
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s["id"])

    def subtree(sid):
        out, todo = [], [sid]
        while todo:
            cur = todo.pop()
            out.append(cur)
            todo += children.get(cur, [])
        return out

    def dur(s):
        return s["end"] - s["start"]

    def counters(ids):
        tot = {"jobs": 0, "stages": 0, "tasks": 0, "run_s": 0.0, "read_b": 0, "write_b": 0}
        for i in ids:
            for k, v in by_span.get(i, {}).items():
                tot[k] += v
        return tot

    rows = []
    for o in traced:
        root = next(s for s in spans if s["op"] == o["op"] and s["name"] == "explain")
        kids = [spans[i] for i in children.get(root["id"], [])]
        row = {"wall": o["wall"]}
        for name in SPAN_METRICS:
            mine = [k for k in kids if k["name"] == name]
            row[f"{name}_s"] = sum(dur(k) for k in mine)
            row[name] = counters([i for k in mine for i in subtree(k["id"])])
        row["explainer.self_s"] = dur(root) - sum(dur(k) for k in kids)
        row["explainer.self"] = counters([root["id"]])
        row["op"] = counters(subtree(root["id"]))
        busy = [(j["start"], j["end"]) for j in jobs if j["end"] and o["start"] <= j["start"] <= o["end"]]
        row["gap_s"] = o["wall"] - S.busy_union(busy, o["start"], o["end"])
        row["rdds_delta"] = o["rdds_delta"]
        model = o.get("model", {"rows_scored": 0, "calls": 0, "busy_s": 0.0})
        per_tri = model["rows_scored"] / o["triangles"] if o["triangles"] else 0.0
        row["model"] = {**model, "rows_per_triangle": per_tri}
        rows.append(row)

    def med(fn):
        return statistics.median(fn(r) for r in rows)

    m = {f"{name}_s": metric(sec, "s") for name, sec in run.setup.items()}
    m["support.s"] = metric(med(lambda r: r["support_s"]), "s")
    m["support.share"] = metric(med(lambda r: r["support_s"] / r["wall"]), "ratio")
    m["support.share_base_s"] = metric(med(lambda r: r["wall"]), "s")
    for name in SPAN_METRICS[1:]:
        m[f"{name}_s"] = metric(med(lambda r, n=name: r[f"{n}_s"]), "s")
    m["explainer.self_s"] = metric(med(lambda r: r["explainer.self_s"]), "s")
    for k, unit in (("rows_scored", "count"), ("calls", "count"), ("busy_s", "s"), ("rows_per_triangle", "count")):
        m[f"model.{k}"] = metric(med(lambda r, k=k: r["model"][k]), unit)
    for k, name, unit in (
        ("jobs", "jobs", "count"), ("stages", "stages", "count"), ("tasks", "tasks", "count"),
        ("read_b", "shuffle_read_bytes", "bytes"), ("write_b", "shuffle_write_bytes", "bytes"),
        ("run_s", "executor_run_s", "s"),
    ):
        m[f"spark.{name}"] = metric(med(lambda r, k=k: r["op"][k]), unit)
    m["spark.driver_gap_s"] = metric(med(lambda r: r["gap_s"]), "s")
    m["spark.persisted_rdds_delta"] = metric(med(lambda r: r["rdds_delta"]), "count")
    for span in SPAN_METRICS + ("explainer.self",):
        for k, name, unit in (("jobs", "jobs", "count"), ("stages", "stages", "count"),
                              ("tasks", "tasks", "count"), ("run_s", "executor_run_s", "s")):
            m[f"{span}.spark.{name}"] = metric(med(lambda r, s=span, k=k: r[s][k]), unit)
    m["session_conf_drift"] = metric(run.conf_drift, "count")
    m["peak_rss_mb"] = metric(rss["driver"] + rss["jvm"], "MB")
    m["jvm.retained_heap_mb"] = metric(retained_mb, "MB")
    traced_p50 = statistics.median(o["wall"] for o in traced)
    plain_p50 = statistics.median(o["wall"] for o in plain)
    m["trace.explain_p50_s"] = metric(traced_p50, "s")
    m["trace.untraced_explain_p50_s"] = metric(plain_p50, "s")
    m["trace.overhead_s"] = metric(traced_p50 - plain_p50, "s")
    return m


def execute(args, work: str) -> dict:
    run = Run(args, work)
    try:
        run.start()
        ops = run.traced_loop(args.seconds) if args.trace else run.loop(args.seconds)
        if run.wl.blackbox:
            run.parity(ops[0])
        for o in [run.warm] + ops:
            o.pop("expl", None)  # what the session retains, not what the benchmark holds
        rss = {"driver": vm_hwm_mb(os.getpid()), "jvm": vm_hwm_mb(run.gateway.proc.pid)}
        retained = run.retained_heap_mb() if args.trace else None
    finally:
        run.stop()
    if not any(not o["raised"] for o in ops):
        raise RuntimeError("every op raised: " + ops[0]["problems"][0])
    # an op fails if it raises, fails an output check or changes the
    # session's configuration; only the first two make the outputs wrong
    failed = [o for o in ops if o["problems"] or o["drift"]]
    correct = not any(o["problems"] for o in [run.warm] + ops)
    if args.trace:
        os.makedirs(os.path.join(ROOT, ".perfbench_out"), exist_ok=True)
        run.tracer.write(os.path.join(
            ROOT, ".perfbench_out", f"spans-{args.workload}-seed{args.seed}.jsonl"
        ))
        metrics = per_layer(run, ops, rss, retained)
    else:
        metrics = end_to_end(run, ops, rss["driver"])
    detail = {
        "workload": args.workload, "seed": args.seed, "nproc": run.nproc,
        "rows_per_side": len(run.left), "num_triangles": run.wl.num_triangles,
        "setup": {k: round(v, 3) for k, v in run.setup.items()},
        "op_walls_s": [round(o["wall"], 3) for o in ops],
        "failed_op_share": len(failed) / len(ops),
        "session_conf_drift": run.conf_drift,
        "peak_rss_mb": {k: round(v, 1) for k, v in rss.items()},
        "drifts": [o["drift_from"] for o in [run.warm] + ops if o["drift"]][:3],
        "problems": [p for o in [run.warm] + ops for p in o["problems"]][:5],
    }
    print("# detail " + json.dumps(detail))
    return {"correct": correct, "attempted": len(ops), "failed": len(failed), "metrics": metrics}


def main(argv=None) -> int:
    args = parse_args(argv)
    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # Spark, its Python workers and tempfile all write under the checkout;
    # the workers import certa_spark and perfbench from its root.
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    tempfile.tempdir = None
    try:
        result = execute(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
