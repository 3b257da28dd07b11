"""The three workloads. Each is a closed loop with one driver thread: a
pass is a fixed sequence of calls into sketchlib's public functions, and
each call starts only after the previous one has returned.

A workload object is bound to one seed's inputs. ``prepare`` runs once
per Spark session (part of set-up), ``warmup`` once per session: an
untimed pass that also runs the once-per-run gates. ``run_pass`` runs
once per timed pass. Every call is an attempted operation; it fails if
it raises or if a correctness gate on its output fails.

Each pass's calls are timed one by one, and a run reports the sum of
the calls' median times: measured on a shared 4-vCPU host, that spreads
less from run to run than the median of whole-pass times, because one
slow call does not make its whole pass the median's outlier.
"""

from __future__ import annotations

import os
import statistics
import sys
import time
import traceback

import numpy as np

import gates
import inputs
from bench import HEADLINE

SLOTS = 4
DOCS = 100_000
KEY_SLOTS = 1 << 18  # total cuckoo slots across all shards
KEYS = int(0.9 * KEY_SLOTS)  # ~0.9 load per shard: the kick path runs
SHARDS = 64


class Outcome:
    """Attempted/failed counts and gate messages of one run."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.messages: list[str] = []

    def op(self, problems: list[str]) -> None:
        self.attempted += 1
        if problems:
            self.failed += 1
            self.messages += problems

    def fail(self, what: str, exc: Exception) -> None:
        traceback.print_exception(exc, file=sys.stderr)
        self.attempted += 1
        self.failed += 1
        self.messages.append(f"{what}: {type(exc).__name__}: {str(exc)[:300]}")


def split_scan(spark, path: str, parts: int = 2 * SLOTS) -> None:
    """Size scan splits so ``path`` reads as ``parts`` partitions."""
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(os.path.getsize(path) // parts + 1))


def web_factories():
    from sketchlib.sketches import CountMinSketch, HyperLogLog, KLLSketch

    return {
        "hll": lambda: HyperLogLog(gates.HLL_P),
        "cms": lambda: CountMinSketch(width=gates.CMS_WIDTH, depth=gates.CMS_DEPTH),
        "kll": lambda: KLLSketch(gates.KLL_K),
    }


def cuckoo_cfg():
    from sketchlib.config import CuckooConfig

    return CuckooConfig(capacity=KEY_SLOTS, bucket_size=gates.BUCKET,
                        fingerprint_bits=gates.FP_BITS, hash_strategy="xx")


class Workload:
    """A pass returns {call name: seconds}. ``items`` maps each call to the
    number of docs or keys it handles, for the per-call rates; ``n_items``
    is the docs, keys or queries one pass handles."""

    warm_passes = 1  # untimed passes per session before timing
    min_passes = 2  # timed passes per run, however short --seconds is

    def pass_s(self, per_pass: list[dict]) -> float:
        """Sum over the pass's calls of each call's median time."""
        return sum(statistics.median(p[c] for p in per_pass if c in p)
                   for c in {c for p in per_pass for c in p})

    def warmup(self, spark, tracer, out: Outcome) -> None:
        for i in range(self.warm_passes):
            self.run_pass(spark, tracer, out, first=i == 0)

    def call(self, tracer, out: Outcome, times: dict, name: str, fn, check):
        """Time one call into sketchlib inside its span; gate its output."""
        t0 = time.perf_counter()
        try:
            with tracer.span(name):
                res = fn()
            out.op(check(res))
        except Exception as e:  # noqa: BLE001 -- a failed call is a result
            out.fail(name, e)
            res = None
        times[name] = time.perf_counter() - t0
        return res


class TextSketches(Workload):
    name = "text_sketches"
    # measured: pass times fall ~2.4 -> 2.0 s over a session's first
    # 4-5 passes; at ~2.1 s a pass, 5 of them cost ~11 s
    warm_passes = 2
    min_passes = 5

    def __init__(self, seed: int):
        self.dir, self.gen_s = inputs.cached("docs", DOCS, seed)
        self.path = os.path.join(self.dir, "docs.parquet")
        self.n_items = DOCS
        self.items = {"webbuild.build_merge": DOCS}
        self.ref = gates.docs_reference(self.path, seed, self.dir)

    def prepare(self, spark):
        split_scan(spark, self.path)
        self.docs = spark.read.parquet(self.path).select("url", "text")

    def build_merge(self):
        from sketchlib.spark.merge import state_bytes_hint
        from sketchlib.spark.webbuild import build_web_sketches, merge_web_sketches

        fac = web_factories()
        return merge_web_sketches(build_web_sketches(self.docs, fac),
                                  state_bytes=state_bytes_hint(*fac.values()))

    def check(self, sk) -> list[str]:
        ref = self.ref
        toks = list(ref["token_counts"])
        cms_est = dict(zip(toks, (int(v) for v in sk["cms"].estimate(toks))))
        kll_q = dict(zip(gates.KLL_QS, (float(v) for v in sk["kll"].quantile(list(gates.KLL_QS)))))
        return (gates.check_hll(sk["hll"].estimate(), ref["distinct_urls"])
                + gates.check_cms(cms_est, ref) + gates.check_kll(kll_q, ref["lengths"]))

    def run_pass(self, spark, tracer, out: Outcome, first: bool) -> dict:
        times: dict[str, float] = {}
        self.call(tracer, out, times, "webbuild.build_merge", self.build_merge, self.check)
        return times


class UrlMembership(Workload):
    name = "url_membership"
    # measured: a session's first pass takes ~17 s, later ones ~10 s

    def __init__(self, seed: int):
        self.dir, self.gen_s = inputs.cached("keys", KEYS, seed)
        self.n_deleted = len(range(0, KEYS, 10))
        self.n_items = KEYS
        self.items = {"shard.build": KEYS, "probe.cold": KEYS, "probe.warm": KEYS,
                      "probe.absent": KEYS, "shard.delete": self.n_deleted}

    def _read(self, spark, name):
        return spark.read.parquet(os.path.join(self.dir, f"{name}.parquet")).select("url")

    def prepare(self, spark):
        split_scan(spark, os.path.join(self.dir, "present.parquet"))
        self.frames = {n: self._read(spark, n) for n in ("present", "absent", "deleted", "kept")}

    def _delete(self, spark, rows, dels):
        from sketchlib.spark.shard import SHARD_SCHEMA, delete_sharded

        shard_df = spark.createDataFrame(rows, SHARD_SCHEMA)
        return delete_sharded(shard_df, dels, "url", SHARDS).collect()

    def run_pass(self, spark, tracer, out: Outcome, first: bool) -> dict:
        from sketchlib.spark.shard import ShardedProbeIndex, build_sharded, probe_sharded

        f = self.frames
        times: dict[str, float] = {}

        def members(frame, idx):
            return lambda: probe_sharded(frame, "url", num_shards=SHARDS,
                                         index=idx).where("member").count()

        def index(rows):
            return ShardedProbeIndex(spark, {int(r.shard_id): bytes(r.state) for r in rows})

        # the pass's shard rows and absent-key hits, for the layer suite
        self.rows = rows = self.call(
            tracer, out, times, "shard.build",
            lambda: build_sharded(f["present"], "url", SHARDS, cfg=cuckoo_cfg()).collect(),
            lambda r: gates.check_build(r, KEYS))
        if rows is None:
            return times
        # the index is broadcast lazily: the cold probe pays for shipping it
        idx = self.call(tracer, out, times, "probe.index", lambda: index(rows), lambda i: [])
        self.call(tracer, out, times, "probe.cold", members(f["present"], idx),
                  lambda m: gates.check_present(m, KEYS))
        self.call(tracer, out, times, "probe.warm", members(f["present"], idx),
                  lambda m: gates.check_present(m, KEYS))
        self.absent_hits = self.call(tracer, out, times, "probe.absent", members(f["absent"], idx),
                                     lambda m: gates.check_absent(m, KEYS))
        if idx is not None:
            idx.destroy()
        updated = self.call(tracer, out, times, "shard.delete",
                            lambda: self._delete(spark, rows, f["deleted"]),
                            lambda u: gates.check_delete(rows, u, self.n_deleted))
        if first and updated is not None:
            # untimed: every kept key must still be found after the deletes
            kept_idx = index(updated)
            kept = members(f["kept"], kept_idx)()
            kept_idx.destroy()
            out.op(gates.check_present(kept, KEYS - self.n_deleted, "kept"))
        return times


class HeadlineQueries(Workload):
    name = "headline_queries"

    def __init__(self, seed: int):
        self.dir, self.gen_s = inputs.TABLES, 0.0
        self.n_items = len(HEADLINE)
        self.items = {}
        self.rng = np.random.default_rng(seed)

    def prepare(self, spark):
        import __spark_entry__ as entry

        self.queries = entry.queries()
        spark.conf.set("spark.sql.files.maxPartitionBytes", str(128 << 20))

    def run_pass(self, spark, tracer, out: Outcome, first: bool) -> dict:
        """One round of the 15 queries in a seeded order; pass_s over the
        rounds is then queries_total_s. Outputs are checked against the
        oracles on the first (warm-up) round."""
        oracle = gates.oracle_frames(self.dir, HEADLINE) if first else {}
        times: dict[str, float] = {}
        for q in self.rng.permutation(HEADLINE):
            self.call(tracer, out, times, f"entry.{q}",
                      lambda: self.queries[q](spark, self.dir).toPandas(),
                      lambda got: gates.check_frame(q, got, oracle[q]) if first else [])
        return times


WORKLOADS = {w.name: w for w in (TextSketches, UrlMembership, HeadlineQueries)}
