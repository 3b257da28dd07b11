"""Regression tests for the ninth review pass: the blob merge must
stream per-ROW (not per-arrow-batch, not per-group), the KLL parity
coin must stay decorrelated on clamped/saturated data, and
partition_sizes must not ship row payloads just to count them."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

# ------------------------------------------------ streaming blob folds


class _Blob:
    """Blob stand-in whose liveness is observable via weakref (bytes
    itself refuses weak references). The folds only ever call
    ``bytes(blob)``, so ``__bytes__`` is the whole contract."""

    def __init__(self, payload: bytes):
        self.payload = payload

    def __bytes__(self) -> bytes:
        return self.payload


def _liveness_rows(n_rows_total: int, make_blob, alive):
    """Generator that ASSERTS streaming: before handing out blob i+1,
    at most ONE earlier blob may still be referenced (the fold's
    current loop variable). An eager fold that materializes the group
    (e.g. a reverted ``rows = list(rows)``, a pandas frame, or a
    multi-row arrow batch) keeps every wrapper alive and trips the
    assert on the second pull — CPython refcounting frees the dropped
    ones immediately (no cycles), so no gc is needed."""
    import weakref

    for i in range(n_rows_total):
        n_alive = sum(1 for w in alive if w() is not None)
        assert n_alive <= 1, (
            f"{n_alive} prior blobs alive before pull {i} — the fold "
            "materializes its group instead of streaming per-row"
        )
        b = _Blob(make_blob(i))
        alive.append(weakref.ref(b))
        yield ("hll", i, 10, b)


def test_tree_merge_streams_one_blob_at_a_time(spark):
    """Level-1 of tree_merge/tree_merge_df must hand blobs to the fold
    ONE AT A TIME (RDD iterator), never as a materialized multi-blob
    batch: groupBy().applyInPandas builds the whole merge group as one
    pandas frame and mapInArrow materializes 10k-row arrow batches —
    both are tens-of-GB per task at MB-scale CMS states and 100 TB /
    128 MB scan-partition counts. Pinned via weakref liveness: the
    generator refuses to yield blob i+1 while >1 earlier blob is
    still referenced."""
    from sketchlib.sketches import HyperLogLog
    from sketchlib.spark import build_sketches, tree_merge
    from sketchlib.spark.merge import _fold_named_rows

    alive = []

    def make(i):
        sk = HyperLogLog(10)
        sk.update([f"u{i}-{j}" for j in range(10)])
        return sk.to_bytes()

    out = list(_fold_named_rows(_liveness_rows(64, make, alive)))
    assert len(out) == 1
    assert out[0][2] == 640  # n_rows summed
    assert len(alive) == 64  # generator fully consumed

    # end-to-end: the distributed result still matches a driver fold
    urls = spark.createDataFrame(
        [(f"https://e{i}.com",) for i in range(2000)], "key string"
    ).repartition(16)
    # direct_partitions=0 forces the executor level — the streaming
    # property under test lives there (≤ threshold skips it entirely)
    merged = tree_merge(
        build_sketches(urls, "key", lambda: HyperLogLog(12)),
        fanout=4,
        direct_partitions=0,
    )
    assert abs(merged.estimate() - 2000) / 2000 < 0.1


def test_merge_web_sketches_fold_is_per_row(spark, docs_df):
    """merge_web_sketches' level-1 fold streams its row iterator
    per-ROW (weakref liveness pin, same harness as the tree_merge
    test), and the merged bytes still match a driver-side fold for
    order-independent sketches."""
    from sketchlib.serde import loads
    from sketchlib.sketches import HyperLogLog
    from sketchlib.spark.merge import _fold_named_rows
    from sketchlib.spark.webbuild import build_web_sketches, merge_web_sketches

    alive = []

    def make(i):
        sk = HyperLogLog(10)
        sk.update([f"u{i}-{j}" for j in range(5)])
        return sk.to_bytes()

    rows = (
        (name, pid, 5, blob) for name, pid, _ten, blob in _liveness_rows(8, make, alive)
    )
    out = list(_fold_named_rows(rows))
    assert len(out) == 1 and out[0][0] == "hll" and out[0][2] == 40
    assert len(alive) == 8

    partials = build_web_sketches(
        docs_df.repartition(8), {"hll": lambda: HyperLogLog(12)}
    ).persist()
    try:
        merged = merge_web_sketches(partials, fanout=3, direct_partitions=0)
        oracle = None
        for r in partials.collect():
            sk = loads(r.state)
            oracle = sk if oracle is None else oracle.merge(sk)
        assert merged["hll"].to_bytes() == oracle.to_bytes()
    finally:
        partials.unpersist()


# ------------------------------------------------- KLL coin on clamped data


def test_kll_coins_decorrelated_on_clamped_data():
    """Length-capped page sizes with empty pages give every large
    sorted buffer buf[0]=0 and buf[-1]=cap; a boundary-only coin digest
    collapses to one shared parity sequence across uniform-sized
    partitions (the exact ~P coherent-error correlation the data-mixed
    coin exists to break), and an XOR whole-buffer digest cancels the
    duplicate values clamped data is made of. The wrap-around SUM of
    bit patterns is linear in element counts, so partitions with the
    same boundaries but different zero/cap mixes must draw different
    parity sequences."""
    from sketchlib.sketches import KLLSketch

    cap = 100.0
    seqs = []
    for part in range(8):
        # deterministic mix: partition p holds (1000 + 250p) zeros and
        # the rest cap — same n, same boundaries, different interiors
        n_zero = 1000 + 250 * part
        data = np.concatenate([np.zeros(n_zero), np.full(4000 - n_zero, cap)])
        # interleave so every update chunk spans both values (keeps
        # buf[0]=0, buf[-1]=cap in every compaction buffer)
        rng_free_order = np.empty_like(data)
        rng_free_order[0::2] = data[: 2000]
        rng_free_order[1::2] = data[2000:]

        sk = KLLSketch(128)
        seq = []
        orig = sk._coin

        def spy(h, buf, _orig=orig, _seq=seq):
            c = _orig(h, buf)
            _seq.append(c)
            return c

        sk._coin = spy
        for chunk in np.split(rng_free_order, 40):
            sk.update(chunk)
        seqs.append(seq)

    k = min(len(s) for s in seqs)
    assert k > 10  # compactions actually happened
    prefixes = {tuple(s[:k]) for s in seqs}
    assert len(prefixes) >= 6, (
        "clamped-data partitions share parity sequences: boundary-collapse "
        f"regression ({len(prefixes)} distinct of 8)"
    )


# ----------------------------------------------- partition_sizes projection


def test_partition_sizes_does_not_ship_payloads(spark, monkeypatch):
    """partition_sizes must count the narrow `_count_projection` frame
    (constant-only rows), never df.rdd's full pickled payloads. Pinned
    by SPYING on the wiring: a revert to counting df.rdd directly
    never calls _count_projection and fails the spy assert; the spy
    also checks the projected frame really is 1 constant column."""
    import sketchlib.spark.salt as salt

    seen = {}
    orig = salt._count_projection

    def spy(frame):
        out = orig(frame)
        seen["cols"] = out.columns
        return out

    monkeypatch.setattr(salt, "_count_projection", spy)
    df = (
        spark.range(100)
        .withColumn("payload", F.repeat(F.lit("x"), 10_000))
        .repartition(8)
    )
    sizes = salt.partition_sizes(df)
    assert sum(sizes) == 100 and len(sizes) == 8
    assert seen.get("cols") == ["one"], "partition_sizes bypassed _count_projection"


def test_partition_sizes_reports_declared_partitioning_under_aqe(spark):
    """On an AQE-coalescible frame (repartition(col), no explicit
    count) the narrow count projection shrinks shuffle map outputs to
    ~4 B/row, so AQE would coalesce the measurement job's partitions
    far harder than the full-width frame the caller consumes —
    partition_sizes must instead report the DECLARED pre-coalescing
    boundaries (shuffle.partitions buckets, empties included) and
    restore the coalescing conf afterwards."""
    from sketchlib.spark.salt import partition_sizes

    key = "spark.sql.adaptive.coalescePartitions.enabled"
    before = spark.conf.get(key, "true")
    df = (
        spark.range(2000)
        .withColumn("host", (F.col("id") % 3).cast("string"))
        .repartition(F.col("host"))
    )
    sizes = partition_sizes(df)
    assert sum(sizes) == 2000
    # declared partitioning: exactly shuffle.partitions buckets, the
    # ≥1 empty ones (3 distinct hosts) included, no AQE coalescing
    assert len(sizes) == int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert any(s == 0 for s in sizes)
    assert spark.conf.get(key, "true") == before  # conf restored
