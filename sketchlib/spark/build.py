"""Distributed sketch build: THE fold, one ``mapInArrow`` over runs.

The Spark-first shape (SURVEY.md §3.4): ``df.mapInArrow`` folds each
run of Arrow batches into one sketch PER NAME via the vectorized numpy
kernels, emitting one row per (run, name) — no groupBy, no per-row
Python. A run is a whole input partition (zero shuffle) or, for
sharded builds, one shard id's sorted rows within a partition. Every
build in the library is this fold: ``build_sketches`` is the one-entry
dict, ``webbuild.build_web_sketches``/``build_column_sketches`` only
choose each name's input, ``shard.build_sharded`` routes rows by shard
id and folds shard runs. The merge (sketchlib.spark.merge) then
combines per-partition states by name; shard rows are never merged
across shards.

Scale notes (100 TB / 10^12 docs):
* HLL/CMS/KLL/t-digest/Bloom states are KBs–MBs regardless of input
  size, so per-partition build + tree merge is the whole story.
* A *merged* cuckoo filter must carry global geometry in every
  partition (2 bytes/slot), so the merged strategy is for capacities
  up to ~10^8-10^9; beyond that use ``sharded`` builds
  (sketchlib.spark.shard): route by key-hash, one
  capacity/num_shards filter per shard, probes routed by the same
  hash — no cross-shard merge needed, memory per task one shard.
* Checkpoint/resume is per run (north-rule lineage): each task
  publishes every finished run's row group to ``checkpoint_dir``
  (``part-{pid}`` or ``shard-{id}``); a resumed run re-emits stored
  rows instead of recomputing.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

SKETCH_ROW_SCHEMA = (
    "sketch string, part_id int, n_rows long, item_count long, "
    "fail_count long, load_factor double, state binary"
)

_PA_SCHEMA = pa.schema(
    [
        ("sketch", pa.string()),
        ("part_id", pa.int32()),
        ("n_rows", pa.int64()),
        ("item_count", pa.int64()),
        ("fail_count", pa.int64()),
        ("load_factor", pa.float64()),
        ("state", pa.binary()),
    ]
)


def sketch_metrics(sk) -> tuple[int, int, float]:
    """(item_count, fail_count, load_factor) for any sketch kind."""
    item_count = getattr(sk, "num_items", None)
    if item_count is None:
        item_count = getattr(sk, "n", None)
    if item_count is None:
        item_count = int(getattr(sk, "total", 0) or getattr(sk, "total_weight", 0))
    fail = int(getattr(sk, "insert_failures", 0))
    load = float(sk.load_factor()) if hasattr(sk, "load_factor") else 0.0
    return int(item_count), fail, load


def _emit(pid: int, n_rows: int, sks: dict) -> pa.RecordBatch:
    """One partition's row group: a row per name, in factory order."""
    metrics = [sketch_metrics(sk) for sk in sks.values()]
    return pa.RecordBatch.from_pydict(
        {
            "sketch": list(sks),
            "part_id": [pid] * len(sks),
            "n_rows": [n_rows] * len(sks),
            "item_count": [m[0] for m in metrics],
            "fail_count": [m[1] for m in metrics],
            "load_factor": [m[2] for m in metrics],
            "state": [sk.to_bytes() for sk in sks.values()],
        },
        schema=_PA_SCHEMA,
    )


def _derive(col: pa.Array, how: str):
    """One batch column → a sketch input. ``values``: the column as-is
    (Arrow, hashed by the kernels); ``numeric``: float64 numpy;
    ``size``: utf8 length as float64; ``tokens``: (flat tokens,
    distinct tokens, their counts) — Arrow's C++ whitespace tokenizer
    (same semantics as str.split()), then a batch-local value_counts
    that collapses the Zipf token stream to its (much smaller)
    vocabulary before any hashing: the map-side combine of this
    pipeline, ~50k uniques hashed per partition instead of 250M
    tokens."""
    if how == "numeric":
        return col.to_numpy(zero_copy_only=False).astype(np.float64, copy=False)
    if how == "size":
        return pc.utf8_length(col).to_numpy(zero_copy_only=False).astype(np.float64)
    if how == "tokens":
        flat = pc.list_flatten(pc.utf8_split_whitespace(col))
        flat = flat.filter(pc.not_equal(flat, ""))
        vc = flat.value_counts()
        return flat, vc.field("values"), vc.field("counts").to_numpy(zero_copy_only=False)
    return col


def _update(sks: dict, rb: pa.RecordBatch, inputs: dict) -> None:
    """Fold one batch into every named sketch. Its own function so the
    loop variable dies on return: a finished run's sketch must not stay
    alive in the fold's frame while the next run's factory() runs."""
    derived: dict = {}
    for name, sk in sks.items():
        col, how = inputs[name]
        if (col, how) not in derived:
            derived[col, how] = _derive(rb.column(col), how)
        x = derived[col, how]
        if how == "tokens":
            flat, tok_vals, tok_counts = x
            try:
                sk.update(tok_vals, weights=tok_counts)
            except TypeError:  # sketch without weighted updates
                sk.update(flat)
        else:
            sk.update(x)


def _runs(batches: Iterator[pa.RecordBatch], pid: int, sharded: bool):
    """→ (run id, batch slice | None). Unsharded, the partition is one
    run, opened before its first batch so an empty partition still
    emits. Sharded, column 0 is a shard id sorted within the partition:
    each id is one contiguous run that may span batches."""
    if not sharded:
        yield pid, None
        for rb in batches:
            yield pid, rb
        return
    for rb in batches:
        ids = rb.column(0).to_numpy()
        starts = np.flatnonzero(np.diff(ids, prepend=-1)).tolist()
        for lo, hi in zip(starts, [*starts[1:], len(ids)]):
            yield int(ids[lo]), rb.slice(lo, hi - lo)


def build_named(
    df,
    factories: dict[str, Callable[[], object]],
    inputs: dict[str, tuple[int, str]],
    checkpoint_dir: str | None = None,
    num_shards: int | None = None,
):
    """``df`` → one row per (run, name) (SKETCH_ROW_SCHEMA).

    ``df`` is the projected input; ``inputs[name] = (column index,
    how)`` picks each sketch's input, ``how`` ∈ {values, numeric,
    size, tokens} (see ``_derive``). A derived input is computed once
    per batch however many sketches read it.

    A run is what one set of fresh sketches folds. By default it is the
    whole partition: ``part_id`` is the partition id and an empty
    partition still emits its row group. With ``num_shards``, column 0
    of ``df`` is a shard id sorted within each partition
    (``shard.build_sharded`` routes it so): every run of one id is
    folded, emitted with ``part_id`` = shard id, and dropped before the
    next run's sketches are made — one run's sketches resident per task.

    ``factories`` run once per run on the executor and must be
    picklable zero-arg callables returning a fresh sketch — in
    particular they must NOT close over DataFrames or the SparkSession
    (hoist e.g. ``capacity=df.count()`` into a local first, or the
    closure capture fails with CONTEXT_ONLY_VALID_ON_DRIVER).

    ``checkpoint_dir``: each run's row group is published atomically
    (``part-{pid:05d}.arrow``, or ``shard-{id:06d}.arrow`` sharded);
    a rerun re-emits published runs instead of re-folding them.
    """
    if checkpoint_dir:
        # resume is only valid against the SAME build: name→kind map,
        # input columns and derivations, and the run→rows map. Partition
        # ids are the run key unsharded (a changed maxPartitionBytes
        # remaps rows to ids, silently double-counting/dropping on
        # resume); sharded, the key hash fixes it for a given num_shards.
        # Fingerprint the dir once, loudly reject mismatches.
        from .checkpoint import ensure_checkpoint_meta

        layout = (
            {"num_shards": int(num_shards)}
            if num_shards
            else {"partitions": df.rdd.getNumPartitions()}
        )
        ensure_checkpoint_meta(
            df.sparkSession,
            checkpoint_dir,
            {
                "op": "build",
                "columns": df.columns,
                "sketches": {
                    name: [type(fac()).__name__, *inputs[name]]
                    for name, fac in factories.items()
                },
                **layout,
            },
        )
    run_file = "shard-{:06d}" if num_shards else "part-{:05d}"

    def fold(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        import uuid

        from pyspark import TaskContext

        from . import taskfs

        if checkpoint_dir:
            # executor-side IO goes through pyarrow.fs — tasks have no
            # JVM, and os.path on an hdfs://-s3a:// dir silently writes
            # executor-LOCAL files (resume would never fire). See
            # sketchlib/spark/taskfs.py.
            fs, base = taskfs.task_fs(checkpoint_dir)

        def finish(rid: int, n: int, sks: dict) -> pa.RecordBatch:
            out = _emit(rid, n, sks)
            if checkpoint_dir:
                # attempt-unique tmp + move = atomic publish (lineage
                # record); orphaned tmps of dead attempts are GC'd inside
                name = run_file.format(rid)
                tmp = f".{name}.tmp-{uuid.uuid4().hex[:8]}"
                taskfs.publish_ipc_batch(fs, base, tmp, f"{name}.arrow", _PA_SCHEMA, out)
            return out

        run, sks, n = None, None, 0
        for rid, rb in _runs(batches, TaskContext.get().partitionId(), bool(num_shards)):
            if rid != run:
                if sks is not None:
                    yield finish(run, n, sks)
                sks, run, n = None, rid, 0  # drop the finished run first
                done = checkpoint_dir and f"{base.rstrip('/')}/{run_file.format(rid)}.arrow"
                if done and taskfs.exists(fs, done):
                    # run already published: re-emit it, skip its rows
                    yield from taskfs.read_ipc_table(fs, done).to_batches()
                    if not num_shards:
                        return  # the partition's only run: skip the scan
                else:
                    sks = {name: fac() for name, fac in factories.items()}
            if sks is not None and rb is not None:
                _update(sks, rb, inputs)
                n += rb.num_rows
        if sks is not None:
            yield finish(run, n, sks)

    return df.mapInArrow(fold, SKETCH_ROW_SCHEMA)


def build_sketches(
    df,
    key_col: str,
    factory: Callable[[], object],
    checkpoint_dir: str | None = None,
    numeric: bool = False,
):
    """``df[key_col]`` → one sketch row per partition, named
    ``key_col`` — the one-entry case of ``build_named``. ``numeric``
    converts the key column to float64 (KLL/t-digest inputs). Merge
    with ``merge.tree_merge``."""
    how = "numeric" if numeric else "values"
    return build_named(
        df.select(key_col), {key_col: factory}, {key_col: (0, how)}, checkpoint_dir
    )
