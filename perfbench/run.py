#!/usr/bin/env python3
"""sketchlib benchmark: one seeded, closed-loop workload on local[4].

    python3 perfbench/run.py --workload text_sketches --seed 1 --seconds 8 --trace 0

Run from the repository root. Prints a human report on stderr and, as
the last line of stdout, one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics of BENCHMARK.json with
``--trace 0``, its per-layer metrics with ``--trace 1``. Exits 1 if any
correctness gate failed. See perfbench/METRICS.md for what each metric
means and which layer should move which end-to-end number.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
RESULTS = os.path.join(HERE, ".results")
# each set-up launches a JVM and its Python workers (~12 s on 4 cores),
# so a run affords two
SETUP_REPS = 2
# Initial driver heap, touched at launch; the maximum stays get_spark's.
# Under the maximum alone, G1's sizing heuristics let the JVM's peak RSS
# range 1.8-3.2 GB from run to run on text_sketches, so peak_rss_mb
# could not see a change; the workloads' heap fits in 3 GB, and growth
# past it still shows.
HEAP_FLOOR = "3g"


def _env(run_dir: str) -> None:
    """Keep every file Spark, the JVM and Python write inside the checkout."""
    for d in ("local", "tmp", "warehouse"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    # Python workers import sketchlib, and unpickle closures that refer
    # to the benchmark's own modules
    paths = [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")


def _submit_args(run_dir: str, event_dir: str | None) -> str:
    """spark-submit arguments for a new JVM; Spark's event log can only
    be switched on here, before the JVM starts."""
    confs = ["spark.ui.showConsoleProgress=false",
             f"spark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}"]
    if event_dir:
        confs += ["spark.eventLog.enabled=true", f"spark.eventLog.dir=file://{event_dir}",
                  "spark.eventLog.compress=false", "spark.eventLog.rolling.enabled=false"]
    java = f"-Xms{HEAP_FLOOR} -XX:+AlwaysPreTouch -Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}"
    return " ".join([f'--driver-java-options "{java}"']
                    + [f"--conf {c}" for c in confs] + ["pyspark-shell"])


class Session:
    """The benchmark's Spark session on local[4], with every setting
    ``get_spark`` gives it, the maximum driver heap included. Each
    ``start`` launches a new JVM."""

    def __init__(self, run_dir: str):
        self.run_dir = run_dir
        self.spark = None

    def start(self, event_dir: str | None = None):
        from sketchlib.spark.session import get_spark

        self.shutdown()
        os.environ["PYSPARK_SUBMIT_ARGS"] = _submit_args(self.run_dir, event_dir)
        self.spark = get_spark(app="perfbench", master="local[4]", shuffle_partitions=4)
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def warm_workers(self) -> None:
        """One task per slot, each importing the sketchlib modules."""
        def touch(batches):
            import sketchlib.spark.shard  # noqa: F401
            import sketchlib.spark.webbuild  # noqa: F401

            yield from batches

        self.spark.range(0, 4, 1, 4).mapInArrow(touch, "id long").collect()

    def jvm_pid(self) -> int:
        from pyspark import SparkContext

        return SparkContext._gateway.proc.pid

    def shutdown(self) -> None:
        """Stop the context, then the JVM, and wait for it to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is not None:
            proc = gw.proc
            gw.shutdown()
            SparkContext._gateway = SparkContext._jvm = None
            proc.stdin.close()
            proc.wait(timeout=60)


def timed_passes(wl, spark, tracer, out, seconds: float, min_passes: int) -> list[dict]:
    """Passes back to back until ``seconds`` have elapsed and at least
    ``min_passes`` have run."""
    per_pass = []
    t_end = time.perf_counter() + seconds
    while len(per_pass) < min_passes or time.perf_counter() < t_end:
        with tracer.span("pass"):
            per_pass.append(wl.run_pass(spark, tracer, out, first=False))
    return per_pass


def setup(sess: Session, wl, reps: int) -> list[float]:
    """JVM launch, session start, Python worker warm-up and input
    footers, ``reps`` times; the last session stays up."""
    samples = []
    for _ in range(reps):
        sess.shutdown()  # the previous set-up's JVM, outside the timing
        t0 = time.perf_counter()
        spark = sess.start()
        sess.warm_workers()
        wl.prepare(spark)
        samples.append(time.perf_counter() - t0)
    return samples


def untraced_run(sess: Session, wl, seconds: float, out, report: dict) -> dict:
    """Set-up SETUP_REPS times, warm up, then the timed passes."""
    import spans

    off = spans.Tracer("untraced", enabled=False)
    t0 = time.perf_counter()
    setup_samples = setup(sess, wl, SETUP_REPS)
    t1 = time.perf_counter()
    wl.warmup(sess.spark, off, out)
    t2 = time.perf_counter()
    per_pass = timed_passes(wl, sess.spark, off, out, seconds, wl.min_passes)
    jvm = sess.jvm_pid()
    python = spans.descendants(jvm)
    report.update({
        "seconds": {"setup": t1 - t0, "warmup": t2 - t1, "passes": time.perf_counter() - t2},
        "peak_rss_mb": {"jvm": spans.vm_hwm_mb([jvm]), "python": spans.vm_hwm_mb(python)},
        "setup_samples": setup_samples,
        "pass_samples": [sum(p.values()) for p in per_pass],
        "per call (median s, items/s, samples)": per_call(wl, per_pass),
    })
    return {
        "setup_s": (statistics.median(setup_samples), "s"),
        "pass_s": (wl.pass_s(per_pass), "s"),
        "peak_rss_mb": (spans.vm_hwm_mb([jvm] + python), "MB"),
    }


def traced_run(sess: Session, wl, seed: int, seconds: float, out, run_dir: str,
               report: dict) -> dict:
    """Half the window untraced, then a new context with the event log on:
    the other half traced, the layer suite, and the kernel pass. The two
    halves give trace.overhead_frac."""
    import layers
    import spans

    off = spans.Tracer("untraced", enabled=False)
    setup(sess, wl, 1)
    wl.warmup(sess.spark, off, out)
    base_s = wl.pass_s(timed_passes(wl, sess.spark, off, out, seconds / 2, 1))

    ev_dir = os.path.join(run_dir, "eventlog")
    os.makedirs(ev_dir)
    tracer = spans.Tracer(f"{wl.name}-s{seed}")
    spark = sess.start(ev_dir)
    sess.warm_workers()
    wl.prepare(spark)
    jvm = sess.jvm_pid()
    tracer.spark_ctx = spark.sparkContext
    tracer.py_cpu = lambda: spans.python_worker_cpu_s(jvm)
    with tracer.span("warmup"):
        wl.warmup(spark, tracer, out)
    traced_s = wl.pass_s(timed_passes(wl, spark, tracer, out, seconds / 2, 1))
    suite_m = layers.suite(spark, tracer, seed, out)
    tracer.spark_ctx = tracer.py_cpu = None
    spark.stop()  # closes the event log
    sess.spark = None
    spans.fold_event_log(ev_dir, tracer)
    kernel_m = layers.kernels(seed, out)
    report["calib_post"] = spans.box_calibration()
    os.makedirs(RESULTS, exist_ok=True)
    tracer.dump(os.path.join(RESULTS, f"spans-{wl.name}-s{seed}.jsonl"))
    return layers.per_layer(tracer, wl, suite_m, kernel_m, base_s, traced_s,
                            [report["calib_pre"], report["calib_post"]])


def per_call(wl, per_pass: list[dict]) -> dict:
    """call -> (median seconds, docs or keys per second, samples)."""
    out = {}
    for c in sorted({c for p in per_pass for c in p}):
        ts = [p[c] for p in per_pass if c in p]
        med = statistics.median(ts)
        out[c] = (round(med, 4), round(wl.items[c] / med) if c in wl.items else None, len(ts))
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path[:0] = [HERE, ROOT]
    import sketchlib  # noqa: F401 -- fails here, before any work, outside a checkout

    import spans
    from workloads import WORKLOADS, Outcome

    run_dir = os.path.join(WORK, f"{args.workload}-s{args.seed}-{os.getpid()}")
    _env(run_dir)
    calib_pre = spans.box_calibration()
    wl = WORKLOADS[args.workload](args.seed)
    out = Outcome()
    sess = Session(run_dir)
    report = {"gen_s": wl.gen_s, "calib_pre": calib_pre}
    try:
        if args.trace:
            metrics = traced_run(sess, wl, args.seed, args.seconds, out, run_dir, report)
        else:
            metrics = untraced_run(sess, wl, args.seconds, out, report)
    finally:
        sess.shutdown()
        shutil.rmtree(run_dir, ignore_errors=True)
    report.setdefault("calib_post", spans.box_calibration())
    report["ops_failed_frac"] = out.failed / max(out.attempted, 1)

    print(f"# {args.workload} seed={args.seed} trace={args.trace} "
          f"attempted={out.attempted} failed={out.failed}", file=sys.stderr)
    for msg in out.messages:
        print(f"! {msg}", file=sys.stderr)
    for k, v in report.items():
        print(f"  {k}: {v}", file=sys.stderr)
    for k, (v, unit) in metrics.items():
        print(f"  {k} = {v:.6g} {unit}", file=sys.stderr)
    correct = out.failed == 0 and out.attempted > 0
    print(json.dumps({
        "correct": correct,
        "attempted": max(out.attempted, 1),
        "failed": out.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
