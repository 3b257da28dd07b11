"""THE merge: two-level associative merge of named sketch rows.

The Spark analogue of ``treeAggregate`` (SURVEY.md §3.4 step 5):
``merge_sketches`` folds a SKETCH_ROW_SCHEMA frame (build.py) into
``{name: sketch}``; ``tree_merge`` is its one-entry case. ``gather``
is the one direct-vs-executor gate: a small blob frame is collected and
folded driver-side; past the gate, level 1 routes rows round-robin to
≤fanout groups and STREAMS each group through a running merge
executor-side, and the driver merges the ≤fanout survivors. Merge
order within a group is whatever the shuffle delivers — safe because
every sketch's merge is associative + commutative (property-tested,
north-rule gate).

Level 1 is a deliberate RDD ``mapPartitions`` — one of the rare spots
where the imperative per-partition escape hatch is the *correct* tool:
the rows are KB–MB sketch blobs (never data rows), and an RDD iterator
hands them over ONE AT A TIME, so task memory is exactly
n_names × running_state + one incoming blob no matter how many scan
partitions fed the group. Both dataframe-native shapes materialize
multi-blob batches the UDF can't refuse: ``groupBy().applyInPandas``
builds the whole group as one pandas frame (~P/fanout blobs), and
``mapInArrow`` materializes ``spark.sql.execution.arrow.maxRecordsPerBatch``
rows (default 10k) per input batch — with MB-scale CMS states that is
tens of GB per task at the 100 TB / 128 MB-partition scale this library
targets (and no byte-capped batch conf exists for mapInArrow in
Spark 4.1; ``maxBytesPerBatch`` only applies to transformWithState).

Shuffle volume: fanout × n_names × state_size — KBs–MBs, never
data-scale.
"""

from __future__ import annotations

from ..serde import loads
from .build import SKETCH_ROW_SCHEMA, sketch_metrics

_FOLD_COLS = ("sketch", "part_id", "n_rows", "state")


def _fold_named_rows(rows):
    """Streaming fold of one merge group's (sketch, part_id, n_rows,
    state) rows: one running sketch per name, each incoming blob merged
    then dropped — memory is n_names × state_size + one blob
    regardless of group size. Yields full SKETCH_ROW_SCHEMA rows, so a
    level-1 frame is itself a mergeable sketch frame."""
    sks: dict[str, object] = {}
    n_rows: dict[str, int] = {}
    part_id: dict[str, int] = {}
    for name, pid, count, blob in rows:
        sk = loads(bytes(blob))
        if name in sks:
            sks[name].merge(sk)
            n_rows[name] += int(count)
            part_id[name] = min(part_id[name], int(pid))
        else:
            sks[name] = sk
            n_rows[name] = int(count)
            part_id[name] = int(pid)
    for name, sk in sks.items():
        items, fails, load = sketch_metrics(sk)
        yield (name, part_id[name], n_rows[name], items, fails, load, sk.to_bytes())


def fold_groups_rdd(rdd, k: int, fold):
    """Round-robin routing of an RDD's rows to ``k`` merge groups +
    streaming per-group ``fold`` (shared by every executor-level merge
    — keep the routing in ONE place).

    Keyed by ``(source_partition_index + row_index) % k`` — balanced
    for ANY input, independent of the part_id column's diversity. A
    ``part_id % k`` key (an earlier shape) collapses whenever part_id
    is constant or low-cardinality — e.g. re-merging a frame that
    already went through level 1 (its part_id is each group's minimum:
    ≤k distinct values), or unioned/synthesized rows sharing part_id=0
    — routing everything to a few tasks while the rest idle. The
    grouping itself is arbitrary: every fold is associative +
    commutative, so only balance matters. Keys are 0..k-1 ints and
    ``partitionBy``'s portable_hash is the identity on small
    non-negative ints, so group j lands in partition j — exactly one
    group per task."""

    def route(idx, it):
        for i, row in enumerate(it):
            yield ((idx + i) % k, row)

    return rdd.mapPartitionsWithIndex(route).partitionBy(k).values().mapPartitions(fold)


def _direct_collect(frame):
    """Collect a blob frame for a direct (driver-side) fold, turning a
    ``spark.driver.maxResultSize`` rejection into actionable guidance.

    The direct path gates on PARTITION count — a fine proxy for
    build outputs (a handful of rows per partition) but not for a blob
    table re-read from storage or coalesced after a union, where few
    partitions can hold many MB-scale rows. maxResultSize (default 1g)
    is the loud backstop for that shape; the remedy is the
    executor-level path."""
    try:
        return frame.collect()
    except Exception as e:  # pragma: no cover - env-sized threshold
        if "maxResultSize" in str(e):
            raise RuntimeError(
                "direct merge collect exceeded spark.driver.maxResultSize — "
                "this blob frame packs many rows per partition (re-read or "
                "coalesced blob table?); pass direct_partitions=0 to use the "
                "bounded executor-level merge instead"
            ) from e
        raise


def gather(
    frame,
    fold,
    fanout: int,
    direct_partitions: int = 256,
    state_bytes: int | None = None,
    direct_bytes: int = 256 << 20,
):
    """The direct-vs-executor gate → the rows the driver finishes.

    At ≤ ``direct_partitions`` partitions of ``frame`` the executor
    level is SKIPPED: one ``collect`` of the rows as they are. The
    driver transient is p × state_size (≤ 256 × ~0.5 MB ≈ 128 MB at the
    flagship's CMS geometry), and the build stage keeps its full scan
    parallelism because ``collect`` is a plain job over the existing
    partitions. Measured on the 800k-doc bench corpus (65 blob rows):
    the level-1 RDD route+partitionBy+fold costs 1.1–1.7 s of pure
    task/python-shuffle overhead where the direct collect-fold costs
    0.6 s — two extra stages buy nothing until the blob count is large
    enough that a single driver pull would be GBs.

    Past the threshold (100 TB ⇒ ~10^5-10^6 scan partitions) level 1
    routes rows round-robin to ≤fanout streaming ``fold``s
    executor-side (``fold_groups_rdd``), so the driver never pulls more
    than fanout row groups. ``fold``'s rows must hold the fields the
    caller reads at the same positions as ``frame``'s rows, so the
    caller finishes both shapes the same way.

    ``state_bytes`` makes the gate BYTE-aware: when the caller knows
    one partition's state size (``state_bytes_hint(*factories)`` —
    exact for array-backed sketches, no Spark job), the direct path
    additionally requires p × state_bytes ≤ ``direct_bytes`` (default
    256 MB of driver transient). Without it the gate counts partitions
    only, which a 2 MB-wide CMS at the 256-partition threshold turns
    into a silent ~0.5 GB driver pull — maxResultSize is the loud
    backstop, but the byte cap avoids tripping it at all."""
    p = frame.rdd.getNumPartitions()
    fits_bytes = state_bytes is None or p * state_bytes <= direct_bytes
    if p <= direct_partitions and fits_bytes:
        return _direct_collect(frame)
    return fold_groups_rdd(frame.rdd, min(fanout, max(p, 1)), fold).collect()


def state_bytes_hint(*factories) -> int:
    """Driver-side estimate of ONE partition row group's serialized
    state size: serialize one empty instance of each factory. Costs ~ms
    and no Spark job. Exact for array-backed sketches (CMS, HLL,
    cuckoo, Bloom — their state arrays are config-sized, identical
    empty or full); an UNDER-estimate for growing sketches (KLL,
    t-digest), which are KB-scale where the array-backed ones are the
    MB-scale states the byte gate exists for."""
    return sum(len(fac().to_bytes()) for fac in factories)


def merge_sketches(
    sketch_df,
    fanout: int = 64,
    direct_partitions: int = 256,
    state_bytes: int | None = None,
    direct_bytes: int = 256 << 20,
) -> dict[str, object]:
    """Bounded-memory merge of SKETCH_ROW_SCHEMA rows → {name: merged
    sketch}. The gate and its knobs are ``gather``'s; for a build's
    output pass ``state_bytes=state_bytes_hint(*factories)`` (the summed
    empty-state size of one partition's row group) so wide-state builds
    take the bounded executor fold even at low partition counts.

    For unusually large per-partition states with no hint available
    (an unsharded CuckooFilter sized for 10^8+ keys is ~2 B/key PER
    PARTIAL) pass ``direct_partitions=0``, or better, use
    ``shard.build_sharded`` (the intended giant-membership path: total
    state 2 B/key across ALL shards, nothing merges globally)."""
    rows = gather(
        sketch_df.select(*_FOLD_COLS),
        _fold_named_rows,
        fanout,
        direct_partitions,
        state_bytes,
        direct_bytes,
    )
    out: dict[str, object] = {}
    for r in rows:
        sk = loads(bytes(r[-1]))
        if r[0] in out:
            out[r[0]].merge(sk)
        else:
            out[r[0]] = sk
    return out


def tree_merge(
    sketch_df,
    fanout: int = 16,
    direct_partitions: int = 256,
    state_bytes: int | None = None,
    direct_bytes: int = 256 << 20,
):
    """Full merge of a one-sketch frame (``build.build_sketches``) →
    one sketch object on the driver, or None for an empty frame."""
    merged = merge_sketches(
        sketch_df, fanout, direct_partitions, state_bytes, direct_bytes
    )
    if len(merged) > 1:
        raise ValueError(
            f"tree_merge got sketches {sorted(merged)}; use merge_sketches "
            "for multi-sketch frames"
        )
    return next(iter(merged.values()), None)


def tree_merge_df(sketch_df, fanout: int = 16):
    """Level-1 merge only: p partition rows → ≤fanout rows per name,
    executor-side, as a SKETCH_ROW_SCHEMA frame."""
    return sketch_df.sparkSession.createDataFrame(
        fold_groups_rdd(
            sketch_df.select(*_FOLD_COLS).rdd, fanout, _fold_named_rows
        ),
        SKETCH_ROW_SCHEMA,
    )
