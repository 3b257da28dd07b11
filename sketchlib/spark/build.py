"""Distributed sketch build: THE per-partition fold, zero shuffle.

The Spark-first shape (SURVEY.md §3.4): ``df.mapInArrow`` folds each
input partition's Arrow batches into one sketch PER NAME via the
vectorized numpy kernels, emitting one row per (partition, name) — no
groupBy, no shuffle, no per-row Python. Every build in the library is
this fold: ``build_sketches`` is the one-entry dict,
``webbuild.build_web_sketches``/``build_column_sketches`` only choose
each name's input. The merge (sketchlib.spark.merge) then combines the
per-partition states by name.

Scale notes (100 TB / 10^12 docs):
* HLL/CMS/KLL/t-digest/Bloom states are KBs–MBs regardless of input
  size, so per-partition build + tree merge is the whole story.
* A *merged* cuckoo filter must carry global geometry in every
  partition (2 bytes/slot), so the merged strategy is for capacities
  up to ~10^8-10^9; beyond that use ``sharded`` builds
  (sketchlib.spark.shard): repartition by key-hash, one
  capacity/num_shards filter per shard, probes routed by the same
  partitioner — no cross-shard merge needed, memory per task constant.
* Checkpoint/resume is per-partition (north-rule lineage): each task
  writes its finished row group to ``checkpoint_dir/part-{pid}``;
  a resumed run re-emits stored rows instead of recomputing.
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


def build_named(
    df,
    factories: dict[str, Callable[[], object]],
    inputs: dict[str, tuple[int, str]],
    checkpoint_dir: str | None = None,
):
    """``df`` → one row per (partition, name) (SKETCH_ROW_SCHEMA).

    ``df`` is the projected input; ``inputs[name] = (column index,
    how)`` picks each sketch's input, ``how`` ∈ {values, numeric,
    size, tokens} (see ``_derive``). A derived input is computed once
    per batch however many sketches read it.

    ``factories`` run once per task on the executor and must be
    picklable zero-arg callables returning a fresh sketch — in
    particular they must NOT close over DataFrames or the SparkSession
    (hoist e.g. ``capacity=df.count()`` into a local first, or the
    closure capture fails with CONTEXT_ONLY_VALID_ON_DRIVER).
    """
    if checkpoint_dir:
        # resume is only valid against the SAME build: name→kind map,
        # input columns and derivations AND partition count (partition
        # ids are the lineage key — a changed maxPartitionBytes remaps
        # rows to ids, silently double-counting/dropping on resume).
        # Fingerprint the dir once, loudly reject mismatches.
        from .checkpoint import ensure_checkpoint_meta

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
                "partitions": df.rdd.getNumPartitions(),
            },
        )

    def fold(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from pyspark import TaskContext

        from . import taskfs

        pid = TaskContext.get().partitionId()
        final = f"part-{pid:05d}.arrow"
        if checkpoint_dir:
            # executor-side IO goes through pyarrow.fs — tasks have no
            # JVM, and os.path on an hdfs://-s3a:// dir silently writes
            # executor-LOCAL files (resume would never fire). See
            # sketchlib/spark/taskfs.py.
            fs, base = taskfs.task_fs(checkpoint_dir)
            done = f"{base.rstrip('/')}/{final}"
            if taskfs.exists(fs, done):
                yield from taskfs.read_ipc_table(fs, done).to_batches()
                return
        sks = {name: fac() for name, fac in factories.items()}
        n = 0
        for rb in batches:
            n += rb.num_rows
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
        out = _emit(pid, n, sks)
        if checkpoint_dir:
            import uuid

            # attempt-unique tmp + move = atomic publish (lineage
            # record); orphaned tmps of dead attempts are GC'd inside
            taskfs.publish_ipc_batch(
                fs,
                base,
                f".part-{pid:05d}.tmp-{uuid.uuid4().hex[:8]}",
                final,
                _PA_SCHEMA,
                out,
            )
        yield out

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
