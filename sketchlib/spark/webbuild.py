"""One-pass composite sketch build over a web-page table — the flagship.

The north star's workload is "build the whole sketch family over the
corpus": cuckoo + Bloom membership on url, HLL distinct urls, count-min
over tokens, KLL + t-digest over page sizes. Doing each as its own
``build_sketches`` pass would scan the input N times and (if salted)
shuffle it N times. At 100 TB that is the difference between one pass
over the data and six.

``build_web_sketches`` folds ALL sketches in a single ``mapInArrow``
pass over the scan partitions — zero shuffle of input rows, one row per
(partition, sketch) out (KBs), then ``merge_web_sketches`` merges per
sketch name. Both are the library's one build and one merge
(build.build_named, merge.merge_sketches); this module only chooses
each sketch's input: url, text tokens, or page size. Partition sizing is the scan's own
(``spark.sql.files.maxPartitionBytes``), which is the correct knob at
any scale; salting is only needed for *grouped* (per-key) builds, not
global mergeable states (any row→partition assignment yields the same
merged sketch, proven by the merge-associativity tests).

Per-partition work is fully vectorized: one kernel hash pass per keyed
sketch, Arrow's C++ whitespace tokenizer + value_counts for the token
sketches, numpy everywhere else.
"""

from __future__ import annotations

from collections.abc import Callable

from .build import build_named
from .merge import merge_sketches as merge_web_sketches
from .merge import state_bytes_hint


def build_web_sketches(
    docs_df,
    factories: dict[str, Callable[[], object]],
    url_col: str = "url",
    text_col: str = "text",
    token_sketches: tuple[str, ...] = ("cms",),
    size_sketches: tuple[str, ...] = ("kll", "tdigest"),
    checkpoint_dir: str | None = None,
):
    """One pass over (url, text): every factory name updates from its
    input kind — ``size_sketches`` from len(text), ``token_sketches``
    from whitespace tokens of text (weighted by their per-batch
    counts), the rest from the url column.

    Returns SKETCH_ROW_SCHEMA rows (one per partition per sketch);
    ``checkpoint_dir`` makes the build per-partition resumable
    (build.build_named). Merge with ``merge_web_sketches``.
    """
    inputs = {}
    for name in factories:
        if name in size_sketches:
            inputs[name] = (1, "size")
        elif name in token_sketches:
            inputs[name] = (1, "tokens")
        else:
            inputs[name] = (0, "values")
    return build_named(
        docs_df.select(url_col, text_col), factories, inputs, checkpoint_dir
    )


def build_column_sketches(
    df,
    col: str,
    factories: dict[str, Callable[[], object]],
    numeric: bool = False,
):
    """One pass over a single column updating EVERY factory's sketch
    (e.g. KLL + t-digest quantiles of the same column in one scan
    instead of two). Returns SKETCH_ROW_SCHEMA rows; merge with
    merge_web_sketches."""
    how = "numeric" if numeric else "values"
    return build_named(df.select(col), factories, dict.fromkeys(factories, (0, how)))


def build_web_pipeline(
    docs_df,
    n_docs: int,
    num_shards: int = 64,
    cms_width: int = 1 << 14,
    fingerprint_bits: int = 16,
    capacity_slack: float = 1.1,
):
    """The 100 TB-shaped flagship: two jobs, neither shuffles a heavy
    column.

    Job A — fixed-size sketches (HLL distinct urls, CMS token
    frequencies, KLL page sizes; build_web_sketches can add t-digest
    via its size_sketches arg, the pipeline's dict is hll/cms/kll
    only) built on the SCAN partitions
    with zero shuffle; per-partition state is KBs–1 MB independent of
    corpus size, so partition count can track core count freely.

    Job B — membership (cuckoo) built SHARDED: project url only
    (~tens of bytes/row), shuffle by pmod(xxhash64(url), shards), one
    capacity/shards filter per shard. Total filter state is
    capacity × 2 bytes regardless of shard or partition count, and
    probes route by the same hash — no global merge ever materializes.

    The two jobs are independent, so they are submitted CONCURRENTLY
    (two driver threads; Spark's scheduler interleaves their tasks) —
    job B's url shuffle overlaps job A's CPU-bound token hashing.

    Returns (fixed_sketches: dict, shard_rows: list[Row[SHARD_SCHEMA]]).
    """
    from concurrent.futures import ThreadPoolExecutor

    from ..config import CuckooConfig
    from ..sketches import CountMinSketch, HyperLogLog, KLLSketch
    from .shard import build_sharded

    # capacity sizing: per-shard load must stay under the ~0.95 kick
    # limit INCLUDING Poisson variance of the key→shard split. At
    # n/shards ≥ ~10^4 keys/shard the 1.1 default is ample (σ/μ ≤ 1%);
    # small demo builds (10²-10³ keys/shard) should raise
    # capacity_slack to ~1.3-1.5 or lower num_shards.
    cfg = CuckooConfig(
        capacity=max(int(n_docs * capacity_slack), 1024),
        fingerprint_bits=fingerprint_bits,
        hash_strategy="xx",
    )

    def job_a():
        factories = {
            "hll": lambda: HyperLogLog(14),
            "cms": lambda: CountMinSketch(width=cms_width, depth=4),
            "kll": lambda: KLLSketch(200),
        }
        return merge_web_sketches(
            build_web_sketches(docs_df, factories),
            # byte-aware direct gate: one partition's row group is one
            # state per name; wide CMS configs route to the executor
            # fold instead of a multi-GB driver pull
            state_bytes=state_bytes_hint(*factories.values()),
        )

    def job_b():
        return build_sharded(docs_df.select("url"), "url", num_shards, cfg=cfg).collect()

    with ThreadPoolExecutor(max_workers=2) as ex:
        fa, fb = ex.submit(job_a), ex.submit(job_b)
        return fa.result(), fb.result()
