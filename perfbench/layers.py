"""Per-layer measurements for the traced run.

* ``suite``: the same layer probes on every workload's traced run, on
  the seed's own inputs, each call inside a ``layer.*`` span so the event
  log fold attributes its tasks: scan and transfer floors, the
  materialized build and both merge paths, one ``url_membership`` pass
  (64-shard build, broadcast probe index, cold, warm and absent probes,
  delete), a build at 4 shards (= slots) on the same keys, and one
  round of the headline queries.
* ``kernels``: sketchlib's kernels in this process without Spark, on one
  scan partition's worth of the same inputs, so a kernel change shows
  its self time apart from engine overhead.
* ``per_layer``: folds the spans into the BENCHMARK.json per-layer
  metrics. ``pass.*`` metrics come from the workload's own traced
  passes; the rest from the suite and the kernel pass.
"""

from __future__ import annotations

import os
import statistics
import time

import numpy as np

import gates
import inputs
import spans
import workloads as W

REPS = 3


def _median_dur(tracer, name):
    return statistics.median(s["dur_s"] for s in tracer.named(name))


def _one(tracer, name):
    return tracer.named(name)[-1]


def suite(spark, tracer, seed: int, out) -> dict:
    from pyspark.sql import functions as F

    from sketchlib.spark.merge import state_bytes_hint
    from sketchlib.spark.shard import build_sharded
    from sketchlib.spark.webbuild import build_web_sketches, merge_web_sketches

    docs_dir, _ = inputs.cached("docs", W.DOCS, seed)
    m = {}

    docs_path = os.path.join(docs_dir, "docs.parquet")
    W.split_scan(spark, docs_path)
    docs = spark.read.parquet(docs_path).select("url", "text")
    for _ in range(REPS):
        with tracer.span("layer.scan.floor"):
            docs.write.format("noop").mode("overwrite").save()
        with tracer.span("layer.transfer.floor"):
            docs.mapInArrow(lambda it: it, docs.schema).write.format("noop").mode("overwrite").save()
    fac = W.web_factories()
    with tracer.span("layer.webbuild.fold"):
        blobs = build_web_sketches(docs, fac).localCheckpoint(eager=True)
    m["merge.blob_bytes"] = blobs.select(F.sum(F.length("state"))).first()[0]
    for _ in range(REPS):
        with tracer.span("layer.merge.direct"):
            merge_web_sketches(blobs, state_bytes=state_bytes_hint(*fac.values()))
        with tracer.span("layer.merge.tree"):
            merge_web_sketches(blobs, direct_partitions=0)

    # one url_membership pass and one headline round, their spans named layer.*
    url = W.UrlMembership(seed)
    head = W.HeadlineQueries(seed)
    tracer.prefix = "layer."
    try:
        url.prepare(spark)
        url.run_pass(spark, tracer, out, first=True)
        with tracer.span("shard.build_at_cores"):
            build_sharded(url.frames["present"], "url", W.SLOTS, cfg=W.cuckoo_cfg()).collect()
        head.prepare(spark)
        head.run_pass(spark, tracer, out, first=True)
    finally:
        tracer.prefix = ""
    m["cuckoo.load_factor_max"] = max(float(r.load_factor) for r in url.rows)
    m["cuckoo.insert_failures"] = sum(int(r.fail_count) for r in url.rows)
    m["cuckoo.state_bytes"] = sum(len(r.state) for r in url.rows)
    m["probe.fpr"] = url.absent_hits / W.KEYS
    return m


def _timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def kernels(seed: int, out) -> dict:
    """Median of REPS single-process timings of each public kernel call."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from sketchlib.config import CuckooConfig
    from sketchlib.cuckoo import CuckooFilter
    from sketchlib.hashing import kernels as hk
    from sketchlib.serde import loads

    docs_dir, _ = inputs.cached("docs", W.DOCS, seed)
    keys_dir, _ = inputs.cached("keys", W.KEYS, seed)
    pf = pq.ParquetFile(os.path.join(docs_dir, "docs.parquet"))
    rg_per_part = max(pf.num_row_groups // (2 * W.SLOTS), 1)
    part = pf.read_row_groups(range(rg_per_part)).combine_chunks()
    urls, texts = part.column("url").chunk(0), part.column("text").chunk(0)
    flat = pc.list_flatten(pc.utf8_split_whitespace(texts))
    vc = pc.value_counts(flat.filter(pc.not_equal(flat, "")))
    tok_vals, tok_counts = vc.field("values"), vc.field("counts").to_numpy(zero_copy_only=False)
    sizes = pc.utf8_length(texts).to_numpy(zero_copy_only=False).astype(np.float64)

    t = {k: [] for k in ("hll", "cms", "kll", "merge", "serde", "ins_low", "ins_high",
                         "lookup", "delete", "indices")}
    cfg = CuckooConfig(capacity=1 << 17, bucket_size=gates.BUCKET,
                       fingerprint_bits=gates.FP_BITS, hash_strategy="xx")
    slots = cfg.slot_capacity
    keys = pq.read_table(os.path.join(keys_dir, "present.parquet")).column("url")
    keys = keys.slice(0, int(0.9 * slots)).combine_chunks()
    lo, mid, hi = int(0.5 * slots), int(0.86 * slots), int(0.9 * slots)
    for _ in range(REPS):
        sks = W.web_factories()
        hll, cms, kll = sks["hll"](), sks["cms"](), sks["kll"]()
        t["hll"].append(_timed(lambda: hll.update(urls)))
        t["cms"].append(_timed(lambda: cms.update(tok_vals, weights=tok_counts)))
        t["kll"].append(_timed(lambda: kll.update(sizes)))
        blobs = [sk.to_bytes() for sk in (hll, cms, kll)]
        t["serde"].append(_timed(lambda: [loads(sk.to_bytes()) for sk in (hll, cms, kll)]))
        copies = [loads(b) for b in blobs]
        t["merge"].append(_timed(lambda: [a.merge(b) for a, b in zip((hll, cms, kll), copies)]))

        f = CuckooFilter(cfg)
        t["ins_low"].append(lo / _timed(lambda: f.insert_batch(keys.slice(0, lo))))
        f.insert_batch(keys.slice(lo, mid - lo))
        t["ins_high"].append((hi - mid) / _timed(lambda: f.insert_batch(keys.slice(mid, hi - mid))))
        found = []
        t["lookup"].append(hi / _timed(lambda: found.append(f.lookup_batch(keys))))
        dels = keys.slice(0, hi // 10)
        t["delete"].append(len(dels) / _timed(lambda: f.delete_batch(dels)))
        t["indices"].append(hi / _timed(
            lambda: hk.indices_batch(keys, cfg.num_buckets, "xx", gates.FP_BITS)))
        problems = [] if found[0].all() else ["kernel: cuckoo lookup false negatives"]
        if f.insert_failures:
            problems.append(f"kernel: {f.insert_failures} insert failures at load 0.9")
        out.op(problems)
    med = {k: statistics.median(v) for k, v in t.items()}
    return {
        "sketches.hll_update_s": med["hll"],
        "sketches.cms_update_s": med["cms"],
        "sketches.kll_update_s": med["kll"],
        "sketches.merge_s": med["merge"],
        "sketches.serde_s": med["serde"],
        "cuckoo.insert_keys_per_s_low": med["ins_low"],
        "cuckoo.insert_keys_per_s_high": med["ins_high"],
        "cuckoo.lookup_keys_per_s": med["lookup"],
        "cuckoo.delete_keys_per_s": med["delete"],
        "hashing.indices_keys_per_s": med["indices"],
    }


# metric -> unit, for everything per_layer returns
UNITS = {
    "pass.wall_s": "s", "pass.driver_s": "s", "pass.exec_run_s": "s", "pass.exec_cpu_s": "s",
    "pass.cpu_per_run": "ratio", "pass.gc_s": "s", "pass.scan_s": "s",
    "pass.py_run_s": "s", "pass.py_cpu_s": "s", "pass.pyworker_init_s": "s",
    "pass.bytes_to_python": "bytes", "pass.bytes_from_python": "bytes",
    "pass.bytes_per_item": "bytes", "pass.shuffle_write_bytes": "bytes",
    "pass.spill_bytes": "bytes", "pass.result_bytes": "bytes",
    "pass.tasks": "count", "pass.jobs": "count", "trace.overhead_frac": "ratio",
    "scan.floor_s": "s", "transfer.floor_s": "s", "transfer.bytes_to_python": "bytes",
    "transfer.bytes_per_doc": "bytes", "webbuild.fold_s": "s", "webbuild.py_run_s": "s",
    "webbuild.cpu_per_run": "ratio", "webbuild.py_cpu_s": "s",
    "merge.direct_s": "s", "merge.tree_s": "s", "merge.blob_bytes": "bytes",
    "shard.build_s": "s", "shard.build_at_cores_s": "s", "shard.tasks": "count",
    "pyworker.init_s": "s", "shuffle.write_bytes": "bytes", "shuffle.write_time_s": "s",
    "cuckoo.load_factor_max": "ratio", "cuckoo.insert_failures": "count",
    "cuckoo.state_bytes": "bytes", "probe.fpr": "ratio", "probe.index_s": "s",
    "probe.py_run_s": "s", "probe.bytes_to_python": "bytes", "collect.result_bytes": "bytes",
    "entry.jobs_per_query": "count", "entry.py_init_s": "s",
    "sketches.hll_update_s": "s", "sketches.cms_update_s": "s", "sketches.kll_update_s": "s",
    "sketches.merge_s": "s", "sketches.serde_s": "s",
    "cuckoo.insert_keys_per_s_low": "1/s", "cuckoo.insert_keys_per_s_high": "1/s",
    "cuckoo.lookup_keys_per_s": "1/s", "cuckoo.delete_keys_per_s": "1/s",
    "hashing.indices_keys_per_s": "1/s",
    "box.calib_t1_s": "s", "box.calib_tn_s": "s", "box.contention": "ratio",
    **{f"entry.{q}_s": "s" for q in W.HEADLINE},
}


def per_layer(tracer, wl, suite_m, kernel_m, base_s, traced_s, calib) -> dict:
    total = lambda sp, k: spans.span_total(tracer, sp, k)  # noqa: E731
    passes = tracer.named("pass")

    def per_pass(fn):
        return statistics.mean(fn(p) for p in passes)

    m = {
        "pass.wall_s": traced_s,
        "pass.driver_s": per_pass(lambda p: p["dur_s"] - spans.job_covered_s(tracer, p)),
        "pass.exec_run_s": per_pass(lambda p: total(p, "run_s")),
        "pass.exec_cpu_s": per_pass(lambda p: total(p, "cpu_s")),
        "pass.cpu_per_run": per_pass(lambda p: total(p, "cpu_s") / max(total(p, "run_s"), 1e-9)),
        "pass.gc_s": per_pass(lambda p: total(p, "gc_s")),
        "pass.scan_s": per_pass(lambda p: total(p, "scan_s")),
        "pass.py_run_s": per_pass(lambda p: total(p, "py_run_s")),
        "pass.py_cpu_s": per_pass(lambda p: p["py_cpu_s"]),
        "pass.pyworker_init_s": per_pass(lambda p: total(p, "py_start_s") + total(p, "py_init_s")),
        "pass.bytes_to_python": per_pass(lambda p: total(p, "bytes_to_python")),
        "pass.bytes_from_python": per_pass(lambda p: total(p, "bytes_from_python")),
        "pass.shuffle_write_bytes": per_pass(lambda p: total(p, "shuffle_write_bytes")),
        "pass.spill_bytes": per_pass(lambda p: total(p, "spill_bytes")),
        "pass.result_bytes": per_pass(lambda p: total(p, "result_bytes")),
        "pass.tasks": per_pass(lambda p: total(p, "tasks")),
        "pass.jobs": per_pass(lambda p: total(p, "jobs")),
        "trace.overhead_frac": (traced_s - base_s) / base_s,
    }
    m["pass.bytes_per_item"] = m["pass.bytes_to_python"] / wl.n_items

    tf = tracer.named("layer.transfer.floor")
    fold = _one(tracer, "layer.webbuild.fold")
    build = _one(tracer, "layer.shard.build")
    probes = [s for p in ("cold", "warm", "absent") for s in tracer.named(f"layer.probe.{p}")]
    entries = [s for s in tracer.spans if s["name"].startswith("layer.entry.")]
    m.update({
        "scan.floor_s": _median_dur(tracer, "layer.scan.floor"),
        "transfer.floor_s": _median_dur(tracer, "layer.transfer.floor"),
        "transfer.bytes_to_python": statistics.median(s.get("bytes_to_python", 0) for s in tf),
        "webbuild.fold_s": fold["dur_s"],
        "webbuild.py_run_s": fold.get("py_run_s", 0),
        "webbuild.cpu_per_run": fold.get("cpu_s", 0) / max(fold.get("run_s", 0), 1e-9),
        "webbuild.py_cpu_s": fold["py_cpu_s"],
        "merge.direct_s": _median_dur(tracer, "layer.merge.direct"),
        "merge.tree_s": _median_dur(tracer, "layer.merge.tree"),
        "shard.build_s": build["dur_s"],
        "shard.build_at_cores_s": _one(tracer, "layer.shard.build_at_cores")["dur_s"],
        "shard.tasks": build.get("tasks", 0),
        "pyworker.init_s": build.get("py_start_s", 0) + build.get("py_init_s", 0),
        "shuffle.write_bytes": build.get("shuffle_write_bytes", 0),
        "shuffle.write_time_s": build.get("shuffle_write_s", 0),
        "collect.result_bytes": build.get("result_bytes", 0),
        "probe.index_s": _one(tracer, "layer.probe.index")["dur_s"],
        "probe.py_run_s": sum(s.get("py_run_s", 0) for s in probes),
        "probe.bytes_to_python": sum(s.get("bytes_to_python", 0) for s in probes),
        "entry.jobs_per_query": statistics.mean(s.get("jobs", 0) for s in entries),
        "entry.py_init_s": sum(s.get("py_start_s", 0) + s.get("py_init_s", 0) for s in entries),
        "box.calib_t1_s": max(c["t1_s"] for c in calib),
        "box.calib_tn_s": max(c["tn_s"] for c in calib),
        "box.contention": max(c["contention"] for c in calib),
    })
    m["transfer.bytes_per_doc"] = m["transfer.bytes_to_python"] / W.DOCS
    for s in entries:
        m[s["name"][len("layer."):] + "_s"] = s["dur_s"]
    m.update(suite_m)
    m.update(kernel_m)
    return {k: (float(v), UNITS[k]) for k, v in m.items()}
