"""Sharded cuckoo filters — the 10^12-key scale path.

A single merged filter needs global geometry in every task (2 bytes ×
total slots), which stops scaling around 10^9 capacity. Sharding keeps
per-task memory constant at any scale:

* build: shard id = ``pmod(xxhash64(key), num_shards)``; rows route by
  shard id (``repartitionById``) onto min(num_shards, shuffle
  partitions) tasks, sorted by shard id, and the library's one build
  fold (``build.build_named``) folds each task's shards one run at a
  time — ONE filter of capacity/num_shards resident per task; the
  result table (shard_id, state, metrics) is the filter.
* probe: zero-shuffle broadcast lookup while total state fits the
  broadcast budget (blobs broadcast once per executor, probes answered
  on their scan partitions); above it, a cogroup on shard_id — probes
  shuffle once (key bytes only), each shard's state moves exactly
  once. State bytes are NEVER attached per probe row (a join would
  shuffle |probes| × |shard state| bytes).

No cross-shard merge exists or is needed — the shard table is the
distributed filter, and per-shard merge (same geometry) still works
for combining incremental builds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..config import CuckooConfig
from ..cuckoo import CuckooFilter
from ..serde import loads
from .build import build_named, sketch_metrics

SHARD_SCHEMA = (
    "shard_id int, n_rows long, item_count long, fail_count long, "
    "load_factor double, state binary"
)
_SHARD_COLS = ["shard_id", "n_rows", "item_count", "fail_count", "load_factor", "state"]


def _shard_col(key_col: str, num_shards: int):
    return F.pmod(F.xxhash64(F.col(key_col)), F.lit(num_shards)).cast("int")


def build_sharded(
    df: DataFrame,
    key_col: str,
    num_shards: int,
    cfg: CuckooConfig | None = None,
    factory=None,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """→ one row per non-empty shard (SHARD_SCHEMA). One shard resident
    per task.

    Rows route by shard id with ``repartitionById`` onto
    ``min(num_shards, spark.sql.shuffle.partitions)`` tasks (shard id
    modulo tasks) and sort by shard id within each task; then the one
    build fold (``build.build_named`` with ``num_shards``) folds each
    shard's run into a fresh sketch, emits it and drops it before the
    next run, so per-task memory is one shard's filter while the task
    count follows cores, not shards.

    ``factory``: optional zero-arg callable building the per-shard
    sketch (any membership sketch with update/contains); default
    builds a CuckooFilter with capacity/num_shards geometry — total
    state across shards stays ~capacity × 2 bytes regardless of shard
    count, the property that makes this the 10^12-key path.

    ``checkpoint_dir``: per-shard resume lineage (north rule), the
    build fold's contract — every finished shard's row is published
    atomically (``shard-{id:06d}.arrow``); a resumed run re-emits
    published shards instead of re-folding them. Valid because the
    shard→rows assignment is the key hash (stable for a given key set
    and num_shards, unlike scan-partition ids)."""
    if factory is None:
        if cfg is None:
            raise ValueError("need cfg or factory")
        shard_cfg = CuckooConfig(
            capacity=max(cfg.capacity // num_shards, 64),
            bucket_size=cfg.bucket_size,
            fingerprint_bits=cfg.fingerprint_bits,
            max_kicks=cfg.max_kicks,
            hash_strategy=cfg.hash_strategy,
            seed=cfg.seed,
        )
        factory = lambda: CuckooFilter(shard_cfg)  # noqa: E731
    spark = df.sparkSession
    tasks = min(num_shards, int(spark.conf.get("spark.sql.shuffle.partitions")))
    # one shuffle: every shard's rows land in one task, as one sorted run
    keyed = (
        df.select(_shard_col(key_col, num_shards).alias("shard_id"), F.col(key_col).alias("key"))
        .repartitionById(tasks, "shard_id")
        .sortWithinPartitions("shard_id")
    )
    # the sketch is named after key_col, so the checkpoint fingerprint
    # pins it (as build_sketches does)
    rows = build_named(
        keyed, {key_col: factory}, {key_col: (1, "values")}, checkpoint_dir, num_shards
    )
    return rows.select(F.col("part_id").alias("shard_id"), *_SHARD_COLS[1:])


def _shard_row(sid: int, n_rows: int, f):
    """One SHARD_SCHEMA row (pandas) for shard ``sid`` holding ``f``."""
    import pandas as pd

    row = (int(sid), int(n_rows), *sketch_metrics(f), f.to_bytes())
    return pd.DataFrame([row], columns=_SHARD_COLS)


# worker-level deserialized-shard cache for the broadcast probe path:
# the docstring promises 'each worker deserializes a shard at most once
# per call', but a per-task dict re-deserializes every shard for every
# input partition (200 probe partitions × 8 shards = 1600 multi-MB
# loads). Keyed by (JVM broadcast id, shard id) — broadcast ids are
# unique per context and never reused, so a destroyed index can't alias
# a later one. Bounded so destroyed indexes can't pin worker memory.
_PROBE_DESER_CACHE: dict[tuple[int, int], object] = {}
_PROBE_DESER_CACHE_MAX = 512


def _shard_from(bid: int, sid: int, blob: bytes) -> object:
    f = _PROBE_DESER_CACHE.get((bid, sid))
    if f is None:
        f = loads(blob)
        while len(_PROBE_DESER_CACHE) >= _PROBE_DESER_CACHE_MAX:
            _PROBE_DESER_CACHE.pop(next(iter(_PROBE_DESER_CACHE)))
        _PROBE_DESER_CACHE[(bid, sid)] = f
    return f


def delete_sharded(
    shard_df: DataFrame, deletes: DataFrame, key_col: str, num_shards: int
) -> DataFrame:
    """Distributed delete against a sharded filter, fully executor-side.

    Deletes route to their shard by the build's hash; a COGROUP on
    shard_id hands each task exactly (that shard's delete keys, that
    shard's single state row) — one co-partitioned shuffle, no driver
    collection of keys OR states, per-task memory = one shard. Untouched
    shards pass through (empty delete group); delete keys routed to a
    shard that never emitted a row (key was never inserted) are dropped —
    there is nothing to delete in a nonexistent shard.

    Matches the reference delete contract (``internal/filter/
    filter.go:116-133``) at any delete-set and filter size.

    Returns the updated shard table (same SHARD_SCHEMA)."""
    import pandas as pd

    keyed = deletes.select(F.col(key_col).alias("key")).withColumn(
        "shard_id", _shard_col("key", num_shards)
    )

    def apply_deletes(dels: pd.DataFrame, state: pd.DataFrame) -> pd.DataFrame:
        if state.empty:
            # deletes hashed to a shard with no row: nothing was ever
            # inserted there, so there is nothing to delete
            return pd.DataFrame({c: [] for c in _SHARD_COLS})
        if len(state) > 1:
            # a well-formed shard table has exactly one row per shard;
            # duplicates (unioned shard tables, a double-emitting build)
            # must fail loudly — applying deletes to only one of the
            # rows would silently drop the others' filter state
            raise ValueError(
                f"shard {int(state['shard_id'].iloc[0])} has {len(state)} state "
                "rows; merge duplicate shard rows (merge_sharded) before delete"
            )
        if dels.empty:
            return state[_SHARD_COLS]  # untouched shard passes through
        f = loads(state["state"].iloc[0])
        f.delete_batch(dels["key"])
        return _shard_row(state["shard_id"].iloc[0], state["n_rows"].iloc[0], f)

    return (
        keyed.groupBy("shard_id")
        .cogroup(shard_df.groupBy("shard_id"))
        .applyInPandas(apply_deletes, SHARD_SCHEMA)
    )


def merge_sharded(shard_df: DataFrame) -> DataFrame:
    """ONE row per shard from a union of same-geometry shard tables
    (incremental builds, streaming micro-batches): per shard_id, the
    duplicate filter states merge associatively and the row counts add.
    One applyInPandas group per shard — per-task memory is the handful
    of duplicate states of a single shard, never the whole table."""
    import pandas as pd

    def merge_group(pdf: pd.DataFrame) -> pd.DataFrame:
        f = loads(pdf["state"].iloc[0])
        for blob in pdf["state"].iloc[1:]:
            f.merge(loads(blob))
        return _shard_row(pdf["shard_id"].iloc[0], pdf["n_rows"].sum(), f)

    return shard_df.groupBy("shard_id").applyInPandas(merge_group, SHARD_SCHEMA)


class ShardedProbeIndex:
    """Reusable broadcast handle for probing in a loop: the shard blobs
    are collected and broadcast ONCE; every ``probe_sharded`` call that
    passes the handle reuses the broadcast — no per-call collect, no
    state-size re-measure aggregation, no leaked broadcasts. Call
    ``destroy()`` when the probing loop is done (after materializing
    the last probe result)."""

    def __init__(self, spark, blobs: dict[int, bytes]):
        self.state_bytes = sum(len(b) for b in blobs.values())
        self.broadcast = spark.sparkContext.broadcast(blobs)

    @classmethod
    def from_shards(cls, shard_df: DataFrame) -> "ShardedProbeIndex":
        rows = shard_df.select("shard_id", "state").collect()
        blobs: dict[int, bytes] = {}
        for r in rows:
            sid = int(r.shard_id)
            if sid in blobs:
                # a well-formed shard table has exactly one row per
                # shard; silently keeping one of the duplicates (a
                # unioned/unmerged table) would probe against partial
                # state — false negatives with no error
                raise ValueError(
                    f"shard {sid} has duplicate state rows; merge duplicate "
                    "shard rows (merge_sharded) before probing"
                )
            blobs[sid] = bytes(r.state)
        return cls(shard_df.sparkSession, blobs)

    def destroy(self) -> None:
        self.broadcast.destroy()


def probe_sharded(
    probes: DataFrame,
    key_col: str,
    shard_df: DataFrame | None = None,
    num_shards: int = 0,
    broadcast_threshold_bytes: int = 64 << 20,
    state_bytes: int | None = None,
    index: ShardedProbeIndex | None = None,
) -> DataFrame:
    """→ probes + boolean ``member`` column.

    Two plans, picked by total filter size (``state_bytes``; measured
    with one tiny aggregation when not supplied — persist the shard
    table, it is the filter):

    * ≤ ``broadcast_threshold_bytes``: ZERO-SHUFFLE — the shard blobs
      broadcast once per executor (each worker deserializes a shard at
      most once per call; the cache is bounded by the broadcast budget),
      probes stay on their scan partitions and each Arrow batch is
      answered in place, vectorized per shard group. Never attaches
      state to probe rows: attaching via join would shuffle
      |probes| × |shard state| bytes — data-scale × state-scale.
      The broadcast lives as long as the returned DataFrame (callers
      probing in a loop should materialize promptly).
    * larger (the 10^12-key regime): COGROUP on shard_id — probes
      shuffle once (key bytes only), each shard's state moves exactly
      once to meet its probe group, per-task memory = one shard.

    Probes hashing to a shard with no state row (nothing was inserted
    there) come back ``member = false`` — never dropped.

    ``index``: a prebuilt ``ShardedProbeIndex`` — ALWAYS takes the
    broadcast path, skipping both the per-call collect+broadcast and
    the state-size measuring aggregation. The recommended handle for
    probe loops (one broadcast for the whole loop, explicitly
    destroyable); without it each call creates a broadcast that lives
    until the returned DataFrame is garbage-collected."""
    import numpy as np
    import pandas as pd

    if index is None and shard_df is None:
        raise ValueError("need shard_df or a prebuilt ShardedProbeIndex")
    if num_shards <= 0:
        raise ValueError("num_shards must match the build's shard count")
    if index is None and state_bytes is None:
        state_bytes = (
            shard_df.select(F.sum(F.length("state")).alias("b")).first().b or 0
        )
    keyed = probes.withColumn("shard_id", _shard_col(key_col, num_shards))
    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in keyed.schema.fields
    ) + ", member boolean"

    if index is not None or state_bytes <= broadcast_threshold_bytes:
        bc = (
            index.broadcast
            if index is not None
            else ShardedProbeIndex.from_shards(shard_df).broadcast
        )
        # driver-side JVM broadcast id: the worker-level deser cache key
        # (unique per context, never reused — the same contract as
        # udfs._DESER_CACHE; id(bc) would alias after GC address reuse)
        bid = bc._jbroadcast.id()

        def probe_batches(batches):
            for pdf in batches:
                member = np.zeros(len(pdf), bool)
                if len(pdf):
                    for sid, idx in pdf.groupby("shard_id").indices.items():
                        blob = bc.value.get(int(sid))
                        if blob is None:
                            continue  # empty shard: member stays False
                        f = _shard_from(bid, int(sid), blob)
                        member[idx] = np.asarray(f.contains(pdf[key_col].iloc[idx]), bool)
                out = pdf.copy()
                out["member"] = member
                yield out

        return keyed.mapInPandas(probe_batches, out_schema)

    def lookup(probe_pdf: pd.DataFrame, state_pdf: pd.DataFrame) -> pd.DataFrame:
        if probe_pdf.empty:
            return pd.DataFrame({c: [] for c in list(probe_pdf.columns) + ["member"]})
        out = probe_pdf.copy()
        if state_pdf.empty:
            out["member"] = False  # empty shard: key was never inserted
            return out
        if len(state_pdf) > 1:
            # mirror delete_sharded's loud guard: probing only the first
            # of several duplicate state rows (unioned/unmerged shard
            # tables) returns silent false negatives
            raise ValueError(
                f"shard {int(state_pdf['shard_id'].iloc[0])} has "
                f"{len(state_pdf)} state rows; merge duplicate shard rows "
                "(merge_sharded) before probing"
            )
        f = loads(state_pdf["state"].iloc[0])
        out["member"] = np.asarray(f.contains(probe_pdf[key_col]), bool)
        return out

    return (
        keyed.groupBy("shard_id")
        .cogroup(shard_df.groupBy("shard_id"))
        .applyInPandas(lookup, out_schema)
    )
