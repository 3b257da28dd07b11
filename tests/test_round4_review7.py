"""Round-4 seventh-pass regressions (review of __spark_entry__, shard,
streaming incremental/stateful): shard routing, lazy filter
construction, worker-level probe deser cache, lineage-scoped replay
guard, real timeout eviction, required value_col."""

from __future__ import annotations

import json
import weakref

import pandas as pd
import pytest
from pyspark.sql import functions as F


# ------------------------------------------------------- shard routing


class _RunRecorder:
    """Per-shard sketch stand-in whose state records where and in which
    order it was folded: (task partition, fold order in the task, keys)."""

    def __init__(self, seq: int):
        self.seq = seq
        self.keys: list[str] = []

    def update(self, keys):
        self.keys.extend(keys.to_pylist())

    def to_bytes(self) -> bytes:
        from pyspark import TaskContext

        return json.dumps([TaskContext.get().partitionId(), self.seq, self.keys]).encode()


def _one_live_factory():
    """Factory that fails if a sketch it made earlier in the same task
    is still alive (the closure's list is unpickled fresh per task)."""
    made: list = []

    def factory():
        live = [w for w in made if w() is not None]
        if live:
            raise AssertionError(f"{len(live)} earlier shard sketch(es) still alive")
        f = _RunRecorder(len(made))
        made.append(weakref.ref(f))
        return f

    return factory


def test_build_sharded_one_shard_per_task(spark):
    """Shards route by id onto min(num_shards, shuffle partitions) tasks:
    each shard id lands in exactly one partition (id modulo tasks), each
    task sees its shards as sorted runs and folds them one at a time —
    never two live filters in one task. Small Arrow batches make runs
    span batch boundaries."""
    from sketchlib.spark.shard import _shard_col, build_sharded

    keys = spark.range(2000).select(F.concat(F.lit("k"), F.col("id")).alias("key"))
    batch_conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    batch = spark.conf.get(batch_conf)
    spark.conf.set(batch_conf, "37")
    try:
        for n in (3, 16):  # fewer shards than shuffle partitions, and more
            want: dict[int, set] = {}
            for r in keys.select("key", _shard_col("key", n).alias("s")).collect():
                want.setdefault(r.s, set()).add(r.key)
            tasks = min(n, int(spark.conf.get("spark.sql.shuffle.partitions")))
            built = build_sharded(keys, "key", n, factory=_one_live_factory())
            assert built.rdd.getNumPartitions() == tasks
            rows = built.collect()
            assert sorted(r.shard_id for r in rows) == sorted(want)  # one row per shard
            runs: dict[int, list[tuple[int, int]]] = {}
            for r in rows:
                pid, seq, got = json.loads(r.state)
                assert pid == r.shard_id % tasks  # exactly one partition per shard
                assert set(got) == want[r.shard_id] and len(got) == r.n_rows
                runs.setdefault(pid, []).append((seq, r.shard_id))
            assert len(runs) == tasks
            for folded in runs.values():
                # one contiguous run per shard, folded in shard-id order
                folded.sort()
                assert [seq for seq, _ in folded] == list(range(len(folded)))
                assert [sid for _, sid in folded] == sorted(sid for _, sid in folded)
    finally:
        spark.conf.set(batch_conf, batch)


def test_build_sharded_one_job_one_exchange(spark):
    """The build is one shuffle and one fold: no route-key discovery job
    before it, and (AQE off, so the shuffle map stage is not its own job)
    exactly one Spark job with one Exchange for the whole collect."""
    from sketchlib.config import CuckooConfig
    from sketchlib.spark.shard import build_sharded

    cfg = CuckooConfig(capacity=8192, fingerprint_bits=16, hash_strategy="xx")
    keys = spark.range(3000).select(F.concat(F.lit("u"), F.col("id")).alias("key"))
    sc = spark.sparkContext
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        sc.setJobGroup("build_sharded_pin", "build_sharded pin")
        built = build_sharded(keys, "key", 64, cfg=cfg)
        rows = built.collect()
        jobs = sc.statusTracker().getJobIdsForGroup("build_sharded_pin")
    finally:
        sc.setJobGroup(None, None)
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    assert len(rows) == 64 and sum(r.n_rows for r in rows) == 3000
    assert len(jobs) == 1, jobs
    assert len(sc.statusTracker().getJobInfo(jobs[0]).stageIds) == 2
    plan = built._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange ") == 1, plan
    assert "shufflepartitionidpassthrough" in plan


def test_build_sharded_end_to_end_unchanged(spark):
    """Routing is an internal layout change: the shard TABLE (ids,
    counts, membership) must be identical to the hash of the keys."""
    from sketchlib.config import CuckooConfig
    from sketchlib.spark.shard import build_sharded, probe_sharded

    cfg = CuckooConfig(capacity=4096, fingerprint_bits=16, hash_strategy="xx")
    keys = spark.range(1500).select(F.concat(F.lit("u"), F.col("id")).alias("key"))
    shards = build_sharded(keys, "key", 8, cfg=cfg)
    rows = shards.collect()
    assert sum(r.n_rows for r in rows) == 1500
    assert sum(r.fail_count for r in rows) == 0
    probed = probe_sharded(keys, "key", shards.sparkSession.createDataFrame(rows), 8)
    assert probed.where("member").count() == 1500


# ------------------------------------------------- stateful timeout/fold


class _FakeState:
    def __init__(self, stored=None, timed_out=False):
        self._stored = stored
        self.hasTimedOut = timed_out
        self.removed = False
        self.updated = None
        self.timeout_set = None

    @property
    def exists(self):
        return self._stored is not None

    @property
    def get(self):
        return self._stored

    def update(self, v):
        self.updated = v
        self._stored = v

    def remove(self):
        self.removed = True
        self._stored = None

    def setTimeoutDuration(self, ms):
        self.timeout_set = ms


def test_stateful_value_col_required(spark):
    from sketchlib.sketches import HyperLogLog
    from sketchlib.streaming.stateful import hll_distinct_by_key

    df = spark.createDataFrame([("a", "x")], "k string, v string")
    with pytest.raises(ValueError, match="value_col"):
        hll_distinct_by_key(df.groupBy("k"), lambda: HyperLogLog(10))


def test_stateful_timeout_validation(spark):
    from sketchlib.sketches import HyperLogLog
    from sketchlib.streaming.stateful import hll_distinct_by_key

    df = spark.createDataFrame([("a", "x")], "k string, v string")
    g = df.groupBy("k")
    with pytest.raises(ValueError, match="timeout_duration_ms"):
        hll_distinct_by_key(g, lambda: HyperLogLog(10), timeout="ProcessingTimeTimeout", value_col="v")
    with pytest.raises(NotImplementedError, match="EventTimeTimeout"):
        hll_distinct_by_key(g, lambda: HyperLogLog(10), timeout="EventTimeTimeout", value_col="v")
    with pytest.raises(ValueError, match="unknown timeout"):
        hll_distinct_by_key(g, lambda: HyperLogLog(10), timeout="Bogus", value_col="v")


def test_stateful_fold_timed_out_evicts_not_resurrects():
    """A timed-out invocation must emit the final snapshot and REMOVE
    the state — update() would resurrect it and re-emit stale rows on
    every later timeout."""
    from sketchlib.sketches import HyperLogLog
    from sketchlib.streaming.stateful import _make_fold

    sk = HyperLogLog(10)
    sk.update(["a", "b", "c"])
    st = _FakeState(stored=(sk.to_bytes(), 3), timed_out=True)
    fold = _make_fold(lambda: HyperLogLog(10), "v", "ProcessingTimeTimeout", 60_000)
    out = list(fold(("k1",), iter([]), st))
    assert len(out) == 1 and out[0]["n_rows"].iloc[0] == 3
    assert st.removed and st.updated is None
    assert st.timeout_set is None  # no re-arm after eviction


def test_stateful_fold_arms_timeout_every_batch():
    from sketchlib.sketches import HyperLogLog
    from sketchlib.streaming.stateful import _make_fold

    st = _FakeState()
    fold = _make_fold(lambda: HyperLogLog(10), "v", "ProcessingTimeTimeout", 60_000)
    pdf = pd.DataFrame({"k": ["k1"] * 4, "v": ["a", "b", "a", "c"]})
    out = list(fold(("k1",), iter([pdf]), st))
    assert out[0]["n_rows"].iloc[0] == 4
    assert st.timeout_set == 60_000
    assert st.updated is not None


# --------------------------------------------- incremental lineage guard


def test_incremental_new_lineage_does_not_drop_batches(spark, tmp_path):
    """Batch ids restart at 0 under a new streaming checkpoint; the
    replay guard must be scoped to the lineage or the first last+1
    batches of FRESH data are silently discarded."""
    from sketchlib.sketches import HyperLogLog
    from sketchlib.streaming.incremental import IncrementalSketchBuilder

    state = str(tmp_path / "state.bin")
    b1 = IncrementalSketchBuilder(lambda: HyperLogLog(12), "key", state)
    b1._lineage = b1._lineage_hash("/ckpt/A")
    df1 = spark.createDataFrame([(f"a{i}",) for i in range(100)], "key string")
    b1.process_batch(df1, 57)
    assert b1.last_batch_id() == 57

    # same lineage, replayed id -> no-op (the original guarantee)
    before = b1.current().estimate()
    b1.process_batch(df1, 57)
    assert b1.current().estimate() == before

    # NEW lineage restarts numbering at 0: the batch must be FOLDED
    b2 = IncrementalSketchBuilder(lambda: HyperLogLog(12), "key", state)
    b2._lineage = b2._lineage_hash("/ckpt/B")
    df2 = spark.createDataFrame([(f"b{i}",) for i in range(100)], "key string")
    b2.process_batch(df2, 0)
    est = b2.current().estimate()
    assert est > 150  # ~200 distinct: both lineages' data folded
    assert b2.last_batch_id() == 0  # numbering restarted

    # replay of the new lineage's batch 0 is again a no-op
    b2.process_batch(df2, 0)
    assert b2.current().estimate() == est


def test_incremental_legacy_unscoped_behavior(spark, tmp_path):
    """Manual process_batch callers (lineage unknown) keep the original
    unscoped skip semantics."""
    from sketchlib.sketches import HyperLogLog
    from sketchlib.streaming.incremental import IncrementalSketchBuilder

    state = str(tmp_path / "state2.bin")
    b = IncrementalSketchBuilder(lambda: HyperLogLog(12), "key", state)
    df = spark.createDataFrame([(f"x{i}",) for i in range(50)], "key string")
    b.process_batch(df, 3)
    before = b.current().estimate()
    b.process_batch(df, 2)  # stale id, unknown lineage -> skipped
    assert b.current().estimate() == before
