"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry is an implemented operator from SURVEY.md §2 /
the training-data-pipeline set; ``oracle_sql()`` carries the exact
DuckDB-equivalent where the semantics are SQL-expressible (membership
uses the no-false-negative contract: probing the inserted key set must
return every key; deletes likewise). Inherently-approximate outputs are
asserted against their published error bound inside the query and the
boolean verdict is the (exact) compared value.
"""

from __future__ import annotations

from collections.abc import Callable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

SF001 = "/root/testdata/sf0.001"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _sized_cuckoo_cfg(n_keys: int, **kw):
    """Cuckoo geometry sized to the keyset, never a fixed constant.

    The filter's no-false-negative contract only holds below
    saturation (a b=4 filter silently rejects inserts near full —
    reference internal/filter/filter.go:107), so membership/delete
    queries must size capacity from the data: a hard-coded 65536
    passes sf0.01 and silently loses ~55% of lineitem orderkeys at
    sf0.1. ≥15% headroom over the 0.95-load gate covers hash skew
    across shards; the config's own next-pow2 bucket round-up
    (config.py) adds more. Sizing costs one count() on a frame these
    queries materialize anyway."""
    from sketchlib import CuckooConfig

    return CuckooConfig(capacity=max(65536, int(n_keys / 0.85) + 1), **kw)


# ------------------------------------------------------- derived dup corpus
#
# The driver documents table has zero duplicate texts, so dedup queries
# over it would pass vacuously. Every dedup/near-dup query instead runs
# over a DERIVED frame with deterministically injected duplicates —
# exact copies, one-token-appended near-copies, and doubled texts —
# mirrored 1:1 by a SQL CTE so the oracles discriminate.

NEAR_SUFFIX = "zzqneardupzz"  # marker token, absent from the corpus

DERIVED_DOCS_CTE = (
    "WITH derived AS ("
    "SELECT doc_id, text FROM documents "
    "UNION ALL SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 10 = 0 "
    f"UNION ALL SELECT doc_id + 2000000, text || ' {NEAR_SUFFIX}' "
    "FROM documents WHERE doc_id % 7 = 0 "
    "UNION ALL SELECT doc_id + 3000000, text || ' ' || text "
    "FROM documents WHERE doc_id % 9 = 0)"
)


def _docs_with_dups(spark, sf_dir) -> DataFrame:
    """documents ∪ injected duplicates (the Spark mirror of
    DERIVED_DOCS_CTE): exact copies at +1e6, near-copies (one appended
    marker token ⇒ shingle-Jaccard ≥ (W-4)/(W-3) ≈ 0.86+) at +2e6,
    doubled texts (identical token distribution ⇒ SimHash Hamming 0,
    different text) at +3e6."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    ex = d.where(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    near = d.where(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        F.concat("text", F.lit(" " + NEAR_SUFFIX)).alias("text"),
    )
    dbl = d.where(F.col("doc_id") % 9 == 0).select(
        (F.col("doc_id") + 3000000).alias("doc_id"),
        F.concat("text", F.lit(" "), "text").alias("text"),
    )
    return d.unionByName(ex).unionByName(near).unionByName(dbl)


# --------------------------------------------------------------------- entry


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: ONE-PASS composite sketch build over sf0.001 documents
    (cuckoo+Bloom+HLL on text, CMS on tokens, KLL on page sizes; zero
    input shuffle — sketchlib.spark.webbuild), then a broadcast
    membership probe. Returns a one-row summary."""
    from sketchlib import CuckooConfig, CuckooFilter
    from sketchlib.sketches import BloomFilter, CountMinSketch, HyperLogLog, KLLSketch
    from sketchlib.spark import membership_udf
    from sketchlib.spark.webbuild import build_web_sketches, merge_web_sketches

    docs = _t(spark, SF001, "documents")
    n_docs = docs.count()
    cfg = CuckooConfig(capacity=max(n_docs * 2, 1024), fingerprint_bits=16, hash_strategy="xx")
    merged = merge_web_sketches(
        build_web_sketches(
            docs,
            {
                "cuckoo": lambda: CuckooFilter(cfg),
                "bloom": lambda: BloomFilter(capacity=max(n_docs, 64), fp_rate=0.001),
                "hll": lambda: HyperLogLog(precision=14),
                "cms": lambda: CountMinSketch(width=4096, depth=4),
                "kll": lambda: KLLSketch(200),
            },
            url_col="text",  # membership keyed by text (dedup semantics)
        )
    )
    member = membership_udf(spark, merged["cuckoo"])
    hits = (
        docs.select(F.col("text").alias("key"))
        .distinct()
        .withColumn("m", member("key"))
        .agg(F.sum(F.col("m").cast("long")))
        .first()[0]
    )
    distinct_exact = docs.select("text").distinct().count()
    return spark.createDataFrame(
        [
            (
                n_docs,
                distinct_exact,
                float(merged["hll"].estimate()),
                int(hits),
                bool(hits == distinct_exact),
                float(merged["kll"].quantile(0.5)[0]),
            )
        ],
        "n_docs long, distinct_text long, hll_estimate double, members_found long, "
        "no_false_negatives boolean, median_page_size double",
    )


# --------------------------------------------------------------------- sketch queries


def q_web_sketch_family(spark, sf_dir):
    """Flagship one-pass composite build (SURVEY §3.4): cuckoo+Bloom+HLL
    on text, CMS on tokens, KLL on page sizes, zero input shuffle.
    Exact columns (n_docs, distinct estimate check, membership) are
    SQL-verifiable; sketch-bound booleans asserted in-query."""
    from sketchlib import CuckooConfig, CuckooFilter
    from sketchlib.sketches import BloomFilter, CountMinSketch, HyperLogLog, KLLSketch
    from sketchlib.spark import membership_udf
    from sketchlib.spark.merge import state_bytes_hint
    from sketchlib.spark.webbuild import build_web_sketches, merge_web_sketches

    docs = _t(spark, sf_dir, "documents")
    n_docs = docs.count()
    cfg = CuckooConfig(capacity=max(n_docs * 2, 1024), fingerprint_bits=16, hash_strategy="xx")
    factories = {
        "cuckoo": lambda: CuckooFilter(cfg),
        "bloom": lambda: BloomFilter(capacity=max(n_docs, 64), fp_rate=0.001),
        "hll": lambda: HyperLogLog(precision=14),
        "cms": lambda: CountMinSketch(width=1 << 14, depth=4),
        "kll": lambda: KLLSketch(200),
    }
    merged = merge_web_sketches(
        build_web_sketches(docs, factories, url_col="text"),
        # production shape: the byte-aware gate sized from real state
        # widths (at this geometry the direct path still wins — the
        # forced executor-fold branch itself is pinned by the byte-gate
        # unit tests and the local-cluster fold parity test)
        state_bytes=state_bytes_hint(*factories.values()),
    )
    member = membership_udf(spark, merged["cuckoo"])
    texts = docs.select(F.col("text").alias("key")).distinct()
    hits = texts.withColumn("m", member("key")).where("m").count()
    distinct_exact = texts.count()
    hll_ok = abs(merged["hll"].estimate() - distinct_exact) / max(distinct_exact, 1) <= 3 * merged[
        "hll"
    ].std_error()
    kll_n_ok = merged["kll"].n == n_docs
    return spark.createDataFrame(
        [
            (
                n_docs,
                distinct_exact,
                bool(hits == distinct_exact),
                bool(hll_ok),
                bool(kll_n_ok),
            )
        ],
        "n_docs long, distinct_text long, no_false_negatives boolean, "
        "hll_within_bound boolean, kll_saw_all_rows boolean",
    )


def q_cuckoo_membership(spark, sf_dir):
    """Cuckoo insert+lookup (SURVEY §2.1 #2,#4,#11): probe the inserted
    key set — no false negatives ⇒ result = exactly the distinct keys."""
    from sketchlib import CuckooFilter
    from sketchlib.spark import build_sketches, membership_udf, tree_merge

    # distinct() already leaves keys hash-partitioned uniformly — build
    # straight on those partitions, no extra repartition shuffle. The
    # key set is probed again below: materialize it once (it is
    # CARDINALITY scale — bounded by the filter's capacity, never
    # data scale) so the probe job reuses the blocks instead of
    # re-running the orders scan + distinct shuffle. localCheckpoint,
    # not persist: its blocks are released when the frame is
    # garbage-collected, so repeated invocations in one long-lived
    # session don't accumulate cache entries.
    keys = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").cast("string").alias("key")
    ).distinct().localCheckpoint(eager=True)
    # count() reads the checkpointed blocks (no re-scan) and sizes the
    # filter to the keyset — see _sized_cuckoo_cfg for why never fixed
    cfg = _sized_cuckoo_cfg(keys.count(), fingerprint_bits=16, hash_strategy="xx")
    merged = tree_merge(build_sketches(keys, "key", lambda: CuckooFilter(cfg)))
    assert merged.insert_failures == 0  # lineage-total: loud if sizing regresses
    member = membership_udf(spark, merged)
    return keys.withColumn("m", member("key")).where("m").select("key")


# q_cuckoo_delete's driver-collect ceiling: past this many delete keys
# the query refuses instead of pulling the set into driver memory
_DRIVER_DELETE_KEYS_MAX = 5_000_000


def q_cuckoo_delete(spark, sf_dir):
    """Cuckoo delete (SURVEY §2.1 #5,#12): insert distinct orderkeys,
    delete every key having an 'R' lineitem, probe the kept set.

    NOTE: this is the SCALAR Delete API demo (reference
    internal/filter/filter.go Delete) — the delete set is collected to
    the driver by design, because a single merged filter's state lives
    in one place. The collect is capped at ``_DRIVER_DELETE_KEYS_MAX``
    keys: past it the query raises a ValueError naming
    ``shard.delete_sharded`` (the `sharded_delete` query), the
    data-scale path where deletes route executor-side with no driver
    collection."""
    from sketchlib import CuckooFilter
    from sketchlib.spark import build_sketches, membership_udf, tree_merge

    li = _t(spark, sf_dir, "lineitem")
    keys = li.select(F.col("l_orderkey").cast("string").alias("key")).distinct()
    deleted = (
        li.where("l_returnflag = 'R'")
        .select(F.col("l_orderkey").cast("string").alias("key"))
        .distinct()
    )
    keys = keys.localCheckpoint(eager=True)  # count + build + anti-join, one scan
    kept = keys.join(deleted, "key", "left_anti")
    cfg = _sized_cuckoo_cfg(keys.count(), fingerprint_bits=16, hash_strategy="xx")
    merged = tree_merge(
        build_sketches(keys, "key", lambda: CuckooFilter(cfg))
    )
    assert merged.insert_failures == 0  # sized to the keyset: loud if not
    # limit: the guard itself never pulls more than one key past the cap
    dels = deleted.limit(_DRIVER_DELETE_KEYS_MAX + 1).collect()
    if len(dels) > _DRIVER_DELETE_KEYS_MAX:
        raise ValueError(
            f"cuckoo_delete collects its delete keys to the driver; more "
            f"than {_DRIVER_DELETE_KEYS_MAX:,} is past that scale — use "
            "sketchlib.spark.shard.delete_sharded (executor-side deletes "
            "against a sharded filter, no driver collect)"
        )
    merged.delete_batch([r.key for r in dels])
    member = membership_udf(spark, merged)
    return kept.withColumn("m", member("key")).where("m").select("key")


def q_cuckoo_count(spark, sf_dir):
    """Count()/LoadFactor() (SURVEY §2.1 #6,#7): exact stored count."""
    from sketchlib import CuckooFilter
    from sketchlib.spark import build_sketches, tree_merge

    keys = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").cast("string").alias("key")
    ).distinct().localCheckpoint(eager=True)
    cfg = _sized_cuckoo_cfg(keys.count(), fingerprint_bits=16, hash_strategy="xx")
    merged = tree_merge(
        build_sketches(keys, "key", lambda: CuckooFilter(cfg))
    )
    assert merged.insert_failures == 0
    return spark.createDataFrame([(merged.count(),)], "item_count long")


def q_cuckoo_lifecycle(spark, sf_dir):
    """Full API lifecycle (SURVEY §2.1 #1,#6,#7,#8,#9): New→InsertBatch→
    Count/LoadFactor/Capacity→Reset. All metrics exactly SQL-derivable.

    Deliberately FIXED 65536 geometry (unlike the _sized_cuckoo_cfg
    queries): capacity and load_factor are output columns pinned by a
    static oracle, so this is the constant-geometry API demo — scoped
    to keysets under ~55k (o_custkey through sf0.1)."""
    from sketchlib import CuckooConfig, CuckooFilter
    from sketchlib.spark import build_sketches, tree_merge

    keys = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").cast("string").alias("key")
    ).distinct()
    cfg = CuckooConfig(capacity=65536, bucket_size=4, fingerprint_bits=16, hash_strategy="xx")
    merged = tree_merge(build_sketches(keys.repartition(8), "key", lambda: CuckooFilter(cfg)))
    count, load, cap = merged.count(), merged.load_factor(), merged.capacity()
    merged.reset()
    return spark.createDataFrame(
        [(count, float(load), cap, merged.count())],
        "item_count long, load_factor double, capacity long, count_after_reset long",
    )


def q_hash_indices_contract(spark, sf_dir):
    """GetIndices/GetIndicesBatch equivalence (SURVEY §2.1 #14-16): the
    distributed batch kernels must equal the scalar reference for every
    strategy — the reference repo's own batch==scalar gate, run over
    real table keys via the hash_indices debug UDF."""
    import pandas as pd

    from sketchlib.hashing import scalar
    from sketchlib.spark.udfs import hash_indices_udf

    c = _t(spark, sf_dir, "customer").select(F.col("c_name").alias("key"))
    rows_out = []
    for strategy in ("fnv", "crc32c", "xx"):
        udf = hash_indices_udf(num_buckets=4096, strategy=strategy, bits=16)
        got = (
            c.withColumn("idx", udf("key")).select("key", "idx.i1", "idx.i2", "idx.fp")
        ).collect()
        ok = all(
            (r.i1, r.i2, r.fp)
            == scalar.get_indices(r.key.encode(), 4096, strategy, 16)
            for r in got
        )
        rows_out.append((strategy, len(got), bool(ok)))
    return spark.createDataFrame(
        rows_out, "strategy string, n_keys long, batch_eq_scalar boolean"
    )


def q_word_token_count(spark, sf_dir):
    """BPE-ish subword proxy: count of \\w+|[^\\w\\s] matches."""
    from sketchlib.spark.text import word_token_count

    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", word_token_count("text").cast("long").alias("n_word_tokens"))


def q_simhash_near_dups(spark, sf_dir):
    """SimHash near-dup pairs, Hamming ≤ 3, over the derived dup
    corpus. Injected exact copies AND doubled texts (token counts
    scaled 2× ⇒ identical vote signs ⇒ Hamming 0 despite different
    text) must both surface through the Manku multi-block combination
    join (6 blocks, C(6,3)=20 ~32-bit keys — O(n²/2^32)-scale buckets
    instead of the 16-bit pigeonhole's O(n²/2^16)); the exact text
    relation keeps the output SQL-mirrorable."""
    from sketchlib.spark.dedup import simhash_near_dup_pairs

    d = _docs_with_dups(spark, sf_dir)
    pairs = simhash_near_dup_pairs(d, max_hamming=3)
    ta = d.select(F.col("doc_id").alias("id_a"), F.col("text").alias("text_a"))
    tb = d.select(F.col("doc_id").alias("id_b"), F.col("text").alias("text_b"))
    doubled = F.concat("text_a", F.lit(" "), "text_a")
    return (
        pairs.join(ta, "id_a")
        .join(tb, "id_b")
        .where((F.col("text_a") == F.col("text_b")) | (F.col("text_b") == doubled))
        .select("id_a", "id_b")
    )


def _embeddings_with_near_dups(spark, sf_dir) -> DataFrame:
    """embeddings ∪ deterministically perturbed near-duplicate copies
    (vec_id % 5 == 0 → vec_id + 1000000, cosine ≈ 0.993 to the
    original — far above the ~0.45 max natural pair similarity of this
    isotropic corpus). The perturbation is a seeded trig hash of
    (vec_id, dim index): reproducible everywhere, no RNG state."""
    import numpy as np

    @F.pandas_udf("array<double>")
    def perturb(vid: pd.Series, vec: pd.Series) -> pd.Series:
        if len(vec) == 0:
            return pd.Series([], dtype=object)
        mat = np.stack([np.asarray(v, np.float64) for v in vec])
        n, d = mat.shape
        ph = (
            vid.to_numpy(np.float64)[:, None] * 12.9898
            + np.arange(d, dtype=np.float64)[None, :] * 78.233
        )
        u = np.modf(np.sin(ph) * 43758.5453)[0]
        u /= np.linalg.norm(u, axis=1, keepdims=True) + 1e-12
        out = mat + 0.12 * np.linalg.norm(mat, axis=1, keepdims=True) * u
        return pd.Series(list(out))

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    copies = emb.where(F.col("vec_id") % 5 == 0).select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        perturb("vec_id", "embedding").alias("embedding"),
    )
    return emb.unionByName(copies)


def q_embedding_knn(spark, sf_dir):
    """Embedding-cosine near-dup detection via banded hyperplane LSH
    (multi-band union + exact cosine rerank ≥ 0.9) over the derived
    corpus with injected near-duplicates. A designed pair survives all
    12 bands missing w.p. (1-0.955^6)^12 ≈ 4e-8, and no natural pair
    of this corpus reaches cosine 0.9 — so the output is EXACTLY the
    injected pair set, SQL-mirrorable and discriminating (a broken
    LSH returns 0 rows and fails)."""
    from sketchlib.spark.similarity import embedding_near_dup_pairs

    emb = _embeddings_with_near_dups(spark, sf_dir)
    pairs = embedding_near_dup_pairs(emb, sim_threshold=0.9, bands=12, bits_per_band=6)
    return pairs.select("id_a", "id_b")


def q_embedding_knn_recall(spark, sf_dir):
    """Banded-LSH kNN vs brute force: for every injected near-dup
    query point, its exact (brute-force) top-1 neighbor must appear in
    the LSH top-3 — recall@1 ≥ 0.9 asserted in-query (near-dup
    retrieval recall, the metric the LSH is built for; exhaustive kNN
    of isotropic vectors is fundamentally not LSH-prunable and is
    served by cosine_topk_bruteforce/IVF instead)."""
    from pyspark.sql.window import Window

    from sketchlib.spark.similarity import pairwise_cosine_knn

    emb = _embeddings_with_near_dups(spark, sf_dir)
    knn = pairwise_cosine_knn(emb, k=3, bands=12, bits_per_band=6)
    queries_df = emb.where(F.col("vec_id") >= 1000000)
    # brute-force exact top-1 per query point (crossJoin at test scale)
    corpus = emb.select(F.col("vec_id").alias("nb_id"), F.col("embedding").alias("nb_vec"))
    scored = (
        queries_df.crossJoin(corpus)
        .where(F.col("vec_id") != F.col("nb_id"))
        .select(
            "vec_id",
            "nb_id",
            (
                F.aggregate(
                    F.zip_with("embedding", "nb_vec", lambda x, y: x * y),
                    F.lit(0.0),
                    lambda s, v: s + v,
                )
                / (
                    F.sqrt(F.aggregate(F.transform("embedding", lambda x: x * x), F.lit(0.0), lambda s, v: s + v))
                    * F.sqrt(F.aggregate(F.transform("nb_vec", lambda x: x * x), F.lit(0.0), lambda s, v: s + v))
                )
            ).alias("sim"),
        )
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("sim").desc(), F.col("nb_id"))
    bf1 = scored.withColumn("rk", F.row_number().over(w)).where("rk = 1").select(
        F.col("vec_id").alias("id_a"), F.col("nb_id").alias("bf_top1")
    )
    hits = bf1.join(
        knn.select("id_a", F.col("id_b").alias("bf_top1")), ["id_a", "bf_top1"], "left_semi"
    ).count()
    n_q = bf1.count()
    return spark.createDataFrame(
        [(n_q, bool(hits / max(n_q, 1) >= 0.9))],
        "n_queries long, recall_at_1_ge_09 boolean",
    )


def q_per_source_distinct(spark, sf_dir):
    """Per-group (per-source) HLL distinct via the SALTED two-stage
    grouped build (north-rule skew handling): hot groups split into
    salted subgroups, partial sketches merged per group. Estimates
    asserted within 3σ in-query; exact distinct is the SQL oracle."""
    from sketchlib.sketches import HyperLogLog
    from sketchlib.spark.grouped import build_grouped_sketches, grouped_estimates

    d = _t(spark, sf_dir, "documents")
    grouped = build_grouped_sketches(
        d, "source", "text", lambda: HyperLogLog(14), salt_buckets=8
    )
    est = grouped_estimates(grouped)
    exact = d.groupBy(F.col("source").cast("string").alias("group_key")).agg(
        F.countDistinct("text").alias("exact_distinct")
    )
    # 1.04/sqrt(m) is the asymptotic bound; micro-cardinalities use
    # linear counting where one register collision shifts the estimate
    # by ~1 — allow max(3σ·n, 2) absolute error
    bound = 3 * HyperLogLog(14).std_error()
    return (
        est.join(exact, "group_key")
        .select(
            F.col("group_key").alias("source"),
            "exact_distinct",
            (
                F.abs(F.col("estimate") - F.col("exact_distinct"))
                <= F.greatest(F.col("exact_distinct") * F.lit(float(bound)), F.lit(2.0))
            ).alias("within_bound"),
        )
    )


def q_bloom_membership(spark, sf_dir):
    """Bloom filter membership (north-rule sketch): no false negatives."""
    from sketchlib.sketches import BloomFilter
    from sketchlib.spark import build_sketches, membership_udf, tree_merge

    keys = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").cast("string").alias("key")
    ).distinct()
    # fixed Bloom capacity is saturation-SAFE (unlike the cuckoo's
    # _sized_cuckoo_cfg queries): over-capacity only raises FPR, never
    # produces false negatives, so probing the inserted set stays exact
    merged = tree_merge(
        build_sketches(
            keys, "key", lambda: BloomFilter(capacity=200000, fp_rate=0.001)
        )
    )
    member = membership_udf(spark, merged)
    return keys.withColumn("m", member("key")).where("m").select("key")


# one ShardedProbeIndex broadcast per (session, sf_dir), not per call:
# the returned frame is lazy, so the query can't destroy its own index —
# an unbounded per-call broadcast would leak for the session's lifetime
# when a bench loop re-invokes the query (ShardedProbeIndex's own
# hygiene contract). Evicted/old-session entries are destroyed
# best-effort (their context may already be stopped).
# The key is (application, sf_dir) with no data fingerprint: it assumes
# the tables under sf_dir never change within one application. Rewrite
# them in place and the cached filter answers for the old keys — use a
# new sf_dir (or a new session) for new data.
_SHARDED_IDX_CACHE: dict = {}


def q_sharded_membership(spark, sf_dir):
    """Sharded cuckoo (the 10^12-scale path): build per key-hash shard,
    probe routed by the same partitioner."""
    from sketchlib.spark.shard import ShardedProbeIndex, build_sharded, probe_sharded

    keys = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").cast("string").alias("key")
    ).distinct().localCheckpoint(eager=True)
    cache_key = (spark.sparkContext.applicationId, sf_dir)
    idx = _SHARDED_IDX_CACHE.get(cache_key)
    if idx is None:
        cfg = _sized_cuckoo_cfg(keys.count(), fingerprint_bits=16, hash_strategy="xx")
        # at this cardinality the shard table is KB-scale — squarely the
        # broadcast-probe regime — so collect it ONCE: the saturation
        # guard reads the collected rows (no separate agg job) and the
        # probe gets a prebuilt index (no state-size measuring job, no
        # persist). Two jobs total: build, probe. At 10^12-key state
        # sizes keep the shard table distributed instead
        # (probe_sharded's cogroup path).
        rows = build_sharded(keys, "key", num_shards=8, cfg=cfg).collect()
        # loud saturation guard — a filter that dropped inserts answers
        # false for present keys
        assert sum(int(r.fail_count) for r in rows) == 0
        idx = ShardedProbeIndex(spark, {int(r.shard_id): bytes(r.state) for r in rows})
        while len(_SHARDED_IDX_CACHE) >= 4:
            # evict the OLDEST entry: popitem() takes the newest, whose
            # broadcast backs the lazy frame the previous call returned
            old = _SHARDED_IDX_CACHE.pop(next(iter(_SHARDED_IDX_CACHE)))
            try:
                old.destroy()
            except Exception:
                pass  # owning context may already be stopped
        _SHARDED_IDX_CACHE[cache_key] = idx
    return probe_sharded(keys, "key", num_shards=8, index=idx).select("key", "member")


def q_sharded_delete(spark, sf_dir):
    """Distributed delete on the sharded filter (no driver-side key
    collection): kept keys remain exactly the anti-join set."""
    from sketchlib.spark.shard import build_sharded, delete_sharded, probe_sharded

    li = _t(spark, sf_dir, "lineitem")
    keys = li.select(F.col("l_orderkey").cast("string").alias("key")).distinct()
    deleted = (
        li.where("l_returnflag = 'R'")
        .select(F.col("l_orderkey").cast("string").alias("key"))
        .distinct()
    )
    keys = keys.localCheckpoint(eager=True)  # count + build + anti-join, one scan
    kept = keys.join(deleted, "key", "left_anti")
    cfg = _sized_cuckoo_cfg(keys.count(), fingerprint_bits=16, hash_strategy="xx")
    shards = build_sharded(keys, "key", num_shards=8, cfg=cfg)
    updated = delete_sharded(shards, deleted, "key", num_shards=8).persist()
    # fail_count rides the shard rows through delete_sharded (serde keeps
    # the lineage-total counter), so this covers build-time saturation too
    assert (updated.agg(F.sum("fail_count")).first()[0] or 0) == 0
    return probe_sharded(kept, "key", updated, num_shards=8).where("member").select("key")


def q_hll_distinct_check(spark, sf_dir):
    """HLL distinct estimate within 3σ = 3·1.04/√m of exact."""
    from sketchlib.sketches import HyperLogLog
    from sketchlib.spark import build_sketches, tree_merge

    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").cast("string").alias("key")
    )
    # build on the scan partitions directly: HLL is a global mergeable
    # state, so any row->partition assignment gives the same registers
    hll = tree_merge(build_sketches(li, "key", lambda: HyperLogLog(14)))
    exact = li.distinct().count()
    ok = abs(hll.estimate() - exact) / max(exact, 1) <= 3 * hll.std_error()
    return spark.createDataFrame([(exact, bool(ok))], "exact_distinct long, within_bound boolean")


def q_cms_frequency_check(spark, sf_dir):
    """CMS frequencies: one-sided (never undercount) + within e/w·N."""
    from sketchlib.sketches import CountMinSketch
    from sketchlib.spark import build_sketches, cms_estimate_udf, tree_merge

    ev = _t(spark, sf_dir, "events").select(F.col("event_type").alias("key"))
    cms = tree_merge(
        build_sketches(ev, "key", lambda: CountMinSketch(width=4096, depth=5))
    )
    est = cms_estimate_udf(spark, cms)
    exact = ev.groupBy("key").agg(F.count("*").alias("exact_cnt"))
    bound = cms.error_bound()
    return (
        exact.withColumn("est", est("key"))
        .select(
            F.col("key").alias("event_type"),
            "exact_cnt",
            (F.col("est") >= F.col("exact_cnt")).alias("never_under"),
            (F.col("est") - F.col("exact_cnt") <= F.lit(float(bound))).alias("within_bound"),
        )
    )


def q_heavy_hitters(spark, sf_dir):
    """CMS+candidate heavy hitters over document tokens: top-10 keys
    match the exact top-10 (Zipf separation >> CMS error here), with
    one-sided count checks."""
    from sketchlib.spark.text import token_count  # noqa: F401  (module warm)
    from sketchlib.spark.udfs import cms_heavy_hitters

    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("token")
    ).where(F.col("token") != "")
    hh = cms_heavy_hitters(toks, "token", k=10)
    exact = {
        r.token: r.cnt
        for r in toks.groupBy("token")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.col("cnt").desc(), "token")
        .limit(10)
        .collect()
    }
    rows = [
        (tok, int(exact.get(tok, -1)), bool(est >= exact.get(tok, float("inf"))))
        for tok, est in hh
    ]
    return spark.createDataFrame(rows, "token string, exact_cnt long, never_under boolean")


def q_grouped_quantiles(spark, sf_dir):
    """Quantile-by-group: per-returnflag KLL median of extendedprice via
    the salted grouped build; rank-checked in-query (exact groups +
    booleans are the SQL-verifiable surface)."""
    from sketchlib.serde import loads
    from sketchlib.sketches import KLLSketch
    from sketchlib.spark.grouped import build_grouped_sketches

    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("g"), F.col("l_extendedprice").alias("v")
    )

    class _NumKLL(KLLSketch):
        def update(self, values):  # grouped build passes a pandas Series
            import numpy as np

            super().update(np.asarray(values, np.float64))

    grouped = build_grouped_sketches(li, "g", "v", lambda: _NumKLL(200), salt_buckets=4)
    rows = grouped.collect()
    # one aggregation computes each group-median's exact rank
    aggs = [F.count("*").alias("n")]
    medians = {}
    for i, r in enumerate(rows):
        med = float(loads(r.state).quantile(0.5)[0])
        medians[r.group_key] = (i, med)
        aggs.append(
            F.sum(((F.col("g") == r.group_key) & (F.col("v") <= med)).cast("long")).alias(f"le{i}")
        )
        aggs.append(F.sum((F.col("g") == r.group_key).cast("long")).alias(f"n{i}"))
    a = li.agg(*aggs).first()
    out = []
    for gk, (i, med) in sorted(medians.items()):
        rank = a[f"le{i}"] / max(a[f"n{i}"], 1)
        out.append((gk, bool(abs(rank - 0.5) <= 0.02)))
    return spark.createDataFrame(out, "l_returnflag string, median_within_rank_eps boolean")


def q_quantile_sketches_check(spark, sf_dir):
    """KLL + t-digest quantiles of l_extendedprice within rank ε —
    both sketches folded in ONE scan (build_column_sketches), not one
    pass each."""
    from sketchlib.sketches import KLLSketch, TDigest
    from sketchlib.spark.webbuild import build_column_sketches, merge_web_sketches

    li = _t(spark, sf_dir, "lineitem").select(F.col("l_extendedprice").alias("v"))
    merged = merge_web_sketches(
        build_column_sketches(
            li, "v", {"kll": lambda: KLLSketch(k=200), "tdigest": lambda: TDigest(100.0)},
            numeric=True,
        )
    )
    kll, td = merged["kll"], merged["tdigest"]
    qs = [0.1, 0.25, 0.5, 0.75, 0.9]
    kq = kll.quantile(qs)
    tq = td.quantile(qs)
    # one aggregation pass computes every estimate's exact rank
    aggs = [F.count("*").alias("n")]
    for i, (ek, et) in enumerate(zip(kq, tq)):
        aggs.append(F.sum((F.col("v") <= float(ek)).cast("long")).alias(f"rk{i}"))
        aggs.append(F.sum((F.col("v") <= float(et)).cast("long")).alias(f"rt{i}"))
    r = li.agg(*aggs).first()
    rows = [
        (q, bool(abs(r[f"rk{i}"] / r.n - q) <= 0.03), bool(abs(r[f"rt{i}"] / r.n - q) <= 0.03))
        for i, q in enumerate(qs)
    ]
    return spark.createDataFrame(rows, "q double, kll_ok boolean, tdigest_ok boolean")


# --------------------------------------------------------------------- relational / joins


def q_membership_semi_join(spark, sf_dir):
    """Exact membership analogue: customers with ≥1 order (left-semi)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey")


def q_membership_anti_join(spark, sf_dir):
    """Exact non-membership analogue: customers with no orders."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey")


def q_bloom_join_pruning(spark, sf_dir):
    """Sketch-accelerated semi-join: lineitems of high-priority orders,
    pre-filtered by a broadcast Bloom over the (selective) order-key
    set before the exact join. No false negatives ⇒ the result equals
    the plain semi-join exactly — the oracle — while the join shuffle
    carries only Bloom survivors (~selectivity + fp_rate of the probe
    side) instead of every lineitem."""
    from sketchlib.spark.udfs import bloom_semi_join

    li = _t(spark, sf_dir, "lineitem")
    urgent = _t(spark, sf_dir, "orders").where(F.col("o_orderpriority") == "1-URGENT")
    out = bloom_semi_join(li, urgent, "l_orderkey", "o_orderkey", fp_rate=0.001)
    return out.groupBy("l_orderkey").agg(
        F.count("*").alias("n_items"),
        F.round(F.sum("l_extendedprice"), 2).alias("total_price"),
    )


def q_set_ops(spark, sf_dir):
    """Set operations (SURVEY §2.2): customers-with-orders INTERSECT
    high-balance customers; UNION and EXCEPT branches too."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    with_orders = c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey")
    rich = c.where(F.col("c_acctbal") > 5000).select("c_custkey")
    inter = with_orders.intersect(rich).withColumn("op", F.lit("intersect"))
    only_rich = rich.exceptAll(with_orders).distinct().withColumn("op", F.lit("except"))
    return inter.unionByName(only_rich).select("op", "c_custkey")


def q_pricing_summary(spark, sf_dir):
    """TPC-H Q1-style aggregation pipeline (partial-agg shuffle)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "sum_disc_price"
            ),
            F.count("*").alias("count_order"),
        )
    )


def q_top_revenue_orders(spark, sf_dir):
    """Join + agg + deterministic top-k (broadcastable dim side)."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    rev = (
        li.groupBy("l_orderkey")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
    )
    return (
        rev.join(o, rev.l_orderkey == o.o_orderkey)
        .select("l_orderkey", "revenue", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


def q_shipping_priority(spark, sf_dir):
    """TPC-H Q3 shape: 3-way join, filter both sides, agg, top-k."""
    c = _t(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").where(F.col("o_orderdate") < F.lit("1995-03-15"))
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_shipdate") > F.lit("1995-03-15"))
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
        .orderBy(F.col("revenue").desc(), "o_orderdate", "l_orderkey")
        .limit(10)
        .select(
            "l_orderkey",
            "revenue",
            F.col("o_orderdate").cast("string").alias("o_orderdate"),
            "o_orderpriority",
        )
    )


def q_region_nation_rollup(spark, sf_dir):
    """Multi-level aggregation (ROLLUP region, nation) over a 4-table
    broadcastable dim chain."""
    r = _t(spark, sf_dir, "region")
    n = _t(spark, sf_dir, "nation")
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    j = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    return (
        j.rollup("r_name", "n_name")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
        .select(
            F.coalesce("r_name", F.lit("ALL")).alias("region"),
            F.coalesce("n_name", F.lit("ALL")).alias("nation"),
            "n_orders",
            "total_price",
        )
    )


def q_top_customer_per_nation(spark, sf_dir):
    """Window ranking: highest-spend customer per nation (row_number)."""
    from pyspark.sql.window import Window

    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    spend = (
        o.groupBy("o_custkey")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("spend"))
        .join(c, F.col("o_custkey") == c.c_custkey)
    )
    w = Window.partitionBy("c_nationkey").orderBy(
        F.col("spend").desc(), F.col("c_custkey")
    )
    return (
        spend.withColumn("rk", F.row_number().over(w))
        .where("rk = 1")
        .select("c_nationkey", "c_custkey", "spend")
    )


def q_events_window_counts(spark, sf_dir):
    """Tumbling 1-hour event counts (the streaming agg, run batch)."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy(
        F.date_trunc("hour", F.col("ts")).cast("string").alias("hour_start"),
        "event_type",
    ).agg(F.count("*").alias("cnt"))


def q_sessionization(spark, sf_dir):
    """Window functions: 30-min-gap sessionization per user."""
    from pyspark.sql.window import Window

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # ts is TIMESTAMP_NTZ; session tz is pinned UTC so the epoch matches
    # the oracle's epoch(ts)
    epoch = F.col("ts").cast("timestamp").cast("long")
    gap = epoch - F.lag(epoch).over(w)
    marked = ev.withColumn(
        "new_s", F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    )
    return marked.groupBy("user_id").agg(F.sum("new_s").alias("n_sessions"))


def _stage_event_halves(ev, tmp: str) -> str:
    """Stage an events frame as TWO parquet files under ``tmp/in`` so a
    ``maxFilesPerTrigger=1`` file stream replays them as two
    micro-batches (split by event_id parity — deterministic and
    order-free; merge/fold operations under test are commutative, so
    batch order cannot matter). Shared by every streaming oracle —
    ONE place owns the staging contract."""
    import glob
    import os
    import shutil

    os.makedirs(f"{tmp}/in")
    for name, cond in (("a", F.col("event_id") % 2 == 0), ("b", F.col("event_id") % 2 == 1)):
        ev.where(cond).coalesce(1).write.parquet(f"{tmp}/stage-{name}")
        part = glob.glob(f"{tmp}/stage-{name}/part-*.parquet")[0]
        shutil.move(part, f"{tmp}/in/half-{name}.parquet")
    return f"{tmp}/in"


def _await_or_raise(q, what: str, timeout: int = 300) -> None:
    if not q.awaitTermination(timeout):
        q.stop()
        raise RuntimeError(f"{what} streaming replay did not finish within {timeout}s")


def q_streaming_incremental(spark, sf_dir):
    """Streaming surface, oracle-backed (round-1 was pytest-only): the
    events table is replayed through a REAL Structured Streaming query
    (readStream → foreachBatch → availableNow) that incrementally folds
    an HLL over user_id and a CMS over event_type via the per-batch
    build+merge path with atomic on-disk state checkpoints. The final
    states are then gated against exact batch SQL over the same rows —
    HLL within 3σ, CMS never undercounting any event_type."""
    import tempfile

    from sketchlib.sketches import CountMinSketch, HyperLogLog
    from sketchlib.streaming.incremental import IncrementalSketchBuilder

    ev_path = f"{sf_dir}/events.parquet"
    ev = spark.read.parquet(ev_path)
    schema = ev.schema
    tmp = tempfile.mkdtemp(prefix="stream-oracle-")
    in_dir = _stage_event_halves(ev, tmp)
    hll_b = IncrementalSketchBuilder(
        lambda: HyperLogLog(14), "user_key", f"{tmp}/hll.bin"
    )
    cms_b = IncrementalSketchBuilder(
        lambda: CountMinSketch(width=4096, depth=5), "event_type", f"{tmp}/cms.bin"
    )

    def process(batch_df, batch_id):
        keyed = batch_df.withColumn("user_key", F.col("user_id").cast("string"))
        hll_b.process_batch(keyed, batch_id)
        cms_b.process_batch(keyed, batch_id)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)  # one file per micro-batch ⇒ 2 batches
        .parquet(in_dir)
    )
    q = (
        stream.writeStream.outputMode("update")
        .foreachBatch(process)
        .option("checkpointLocation", f"{tmp}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    _await_or_raise(q, "incremental")

    # read back through the builder API: the state file carries a
    # (magic, last-batch-id) replay-protection header ahead of the
    # sketch blob, so a raw loads() of the file bytes would fail
    hll = hll_b.current()
    cms = cms_b.current()
    assert hll_b.last_batch_id() == cms_b.last_batch_id() == 1, (
        "expected exactly 2 micro-batches (ids 0,1) folded into state"
    )
    ev = _t(spark, sf_dir, "events")
    n_events = ev.count()
    exact_users = ev.select(F.col("user_id").cast("string")).distinct().count()
    hll_ok = abs(hll.estimate() - exact_users) / max(exact_users, 1) <= 3 * hll.std_error()
    exact_types = ev.groupBy("event_type").agg(F.count("*").alias("c")).collect()
    est = cms.estimate([r.event_type for r in exact_types])
    never_under = all(int(e) >= r.c for e, r in zip(est, exact_types))
    return spark.createDataFrame(
        [(n_events, exact_users, bool(hll_ok), bool(never_under))],
        "n_events long, exact_distinct_users long, hll_within_bound boolean, "
        "cms_never_under boolean",
    )


def q_streaming_stateful(spark, sf_dir):
    """Stateful streaming, oracle-backed: events replay through
    applyInPandasWithState (per-user HLL over event_type held in the
    engine's state store), memory-sink the per-key running estimates,
    and gate every key against exact batch SQL — per-key distinct
    within max(3σ·n, 2) (linear-counting regime at micro
    cardinalities). Moves the custom-stateful-operator surface from
    pytest-only to the driver's exact-compare gate."""
    import shutil
    import tempfile
    import uuid

    from sketchlib.sketches import HyperLogLog
    from sketchlib.streaming.stateful import hll_distinct_by_key

    ev_path = f"{sf_dir}/events.parquet"
    schema = spark.read.parquet(ev_path).schema
    tmp = tempfile.mkdtemp(prefix="stateful-oracle-")
    import os

    os.makedirs(f"{tmp}/in")
    shutil.copy(ev_path, f"{tmp}/in/events-000.parquet")
    stream = (
        spark.readStream.schema(schema)
        .parquet(f"{tmp}/in")
        .select(F.col("user_id").cast("string").alias("user_key"), "event_type")
    )
    out = hll_distinct_by_key(
        stream.groupBy("user_key"), lambda: HyperLogLog(14), value_col="event_type"
    )
    sink = f"stateful_sink_{uuid.uuid4().hex[:8]}"
    q = (
        out.writeStream.format("memory")
        .queryName(sink)
        .outputMode("update")
        .option("checkpointLocation", f"{tmp}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    _await_or_raise(q, "stateful")
    # availableNow on one file = one micro-batch ⇒ one (final) row per key
    est = spark.table(sink).select(
        F.col("key").alias("user_id"), "estimate"
    )
    exact = _t(spark, sf_dir, "events").groupBy(
        F.col("user_id").cast("string").alias("user_id")
    ).agg(F.countDistinct("event_type").alias("exact_distinct"))
    bound = 3 * HyperLogLog(14).std_error()
    return est.join(exact, "user_id").select(
        "user_id",
        "exact_distinct",
        (
            F.abs(F.col("estimate") - F.col("exact_distinct"))
            <= F.greatest(F.col("exact_distinct") * F.lit(float(bound)), F.lit(2.0))
        ).alias("within_bound"),
    )


def q_streaming_sharded(spark, sf_dir):
    """Streaming ingestion for the 10^12-key SHARDED path (the round-2
    gap: global sketches streamed, but the sharded cuckoo build had no
    incremental ingestion): events replay through Structured Streaming
    in two micro-batches; each batch builds a DELTA shard table
    (hash-sharded, one small filter per shard) that merges per
    shard_id into the running on-disk shard table — state scales like
    the batch path, per-task memory one shard, no driver-held blob.
    The final table must answer EVERY streamed key; the exact
    distinct-key relation is the oracle (no false negatives ⇔ result
    == oracle rows)."""
    import tempfile

    from sketchlib import CuckooConfig
    from sketchlib.spark.shard import probe_sharded
    from sketchlib.streaming.sharded import ShardedStreamBuilder

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    schema = ev.schema
    tmp = tempfile.mkdtemp(prefix="stream-shard-")
    # two staged files + maxFilesPerTrigger=1 ⇒ two micro-batches, so
    # the per-shard delta merge runs across batches, not just once
    in_dir = _stage_event_halves(ev, tmp)
    # fixed geometry is safe here: distinct user_ids are 1.5k at sf0.1
    # (~15k at sf1), far under 65536×0.95 across 8 shards
    cfg = CuckooConfig(capacity=65536, fingerprint_bits=16, hash_strategy="xx")
    builder = ShardedStreamBuilder("key", num_shards=8, state_dir=f"{tmp}/state", cfg=cfg)

    def process(batch_df, batch_id):
        builder.process_batch(
            batch_df.select(F.col("user_id").cast("string").alias("key")).distinct(),
            batch_id,
        )

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    q = (
        stream.writeStream.outputMode("update")
        .foreachBatch(process)
        .option("checkpointLocation", f"{tmp}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    _await_or_raise(q, "sharded")
    shards = builder.current_shards(spark).persist()
    keys = ev.select(F.col("user_id").cast("string").alias("key")).distinct()
    return probe_sharded(keys, "key", shards, num_shards=8).where("member").select("key")


def q_streaming_windowed(spark, sf_dir):
    """Watermarked tumbling-window distinct counts through a REAL
    stream replay (the windowed-aggregation + watermark surface,
    previously pytest-only): events stream in two micro-batches into
    windowed_distinct_stream (1-hour windows, 2-hour watermark,
    approx_count_distinct = Spark's native HLL++), collected via a
    complete-mode memory sink. Every window's estimate is gated
    in-query against the exact per-hour distinct (rsd 0.02 ⇒ gate
    max(6% of exact, 3) — the absolute floor covers HLL++
    quantization at micro-cardinality windows); the exact counts +
    verdicts are the compared columns.

    Complete mode is the BOUNDED-replay oracle harness only: it keeps
    every window in state. An unbounded production stream uses
    append/update mode, where the 2-hour watermark (already set here)
    evicts closed windows — that eviction is the reason the watermark
    exists."""
    import tempfile
    import uuid

    from sketchlib.streaming.incremental import windowed_distinct_stream

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    schema = ev.schema
    tmp = tempfile.mkdtemp(prefix="stream-window-")
    in_dir = _stage_event_halves(ev, tmp)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
        # watermarks require TIMESTAMP (the parquet column is NTZ); the
        # session-tz cast preserves wall-clock, so window starts align
        # with the exact side's NTZ date_trunc strings
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    out = windowed_distinct_stream(
        stream, "ts", "user_id", window="1 hour", watermark="2 hours", rsd=0.02
    )
    sink = f"windowed_sink_{uuid.uuid4().hex[:8]}"
    q = (
        out.writeStream.format("memory")
        .queryName(sink)
        .outputMode("complete")  # bounded replay: emit ALL windows at the end
        .option("checkpointLocation", f"{tmp}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    _await_or_raise(q, "windowed")
    est = spark.table(sink).select(
        F.col("window.start").cast("string").alias("hour_start"), "approx_distinct"
    )
    exact = ev.groupBy(
        F.date_trunc("hour", "ts").cast("string").alias("hour_start")
    ).agg(F.countDistinct("user_id").alias("exact_distinct"))
    return est.join(exact, "hour_start").select(
        "hour_start",
        "exact_distinct",
        (
            F.abs(F.col("approx_distinct") - F.col("exact_distinct"))
            <= F.greatest(F.col("exact_distinct") * F.lit(0.06), F.lit(3.0))
        ).alias("within_bound"),
    )


# --------------------------------------------------------------------- dedup / text


def q_dedup_exact(spark, sf_dir):
    """Exact dedup over the derived dup corpus (550+ rows in, injected
    copies must lose to their originals' min doc_id)."""
    from sketchlib.spark.dedup import dedup_exact

    return dedup_exact(_docs_with_dups(spark, sf_dir)).select("doc_id")


def q_dedup_exact_hash(spark, sf_dir):
    """Hash-shuffle dedup (the 100 TB shape: ONE shuffle of (8-byte
    digest, id) pairs, no text join-back — the physical plan is a
    single Exchange, asserted in tests/test_round3.py) over the
    derived corpus — must agree exactly with the full-text groupBy."""
    from sketchlib.spark.dedup import dedup_exact_hash

    return dedup_exact_hash(_docs_with_dups(spark, sf_dir)).select("doc_id")


def q_minhash_identical(spark, sf_dir):
    """MinHash-LSH candidates at threshold 1.0 over the derived dup
    corpus, then the standard exact verify stage (identical shingle
    sets ≠ identical text — e.g. token reorderings — so production
    near-dup pipelines always re-verify candidates). Result = exactly
    the injected identical-text pairs (non-vacuous: LSH must find
    them)."""
    from sketchlib.spark.dedup import minhash_dedup_pairs

    # localCheckpoint: the derived corpus (parquet scan + union +
    # transforms) feeds the signature pass AND both verify join sides —
    # materialize it once instead of three plan replays. 32-way
    # repartition = one task wave on the bench's 32 slots (64 ran two).
    docs = _docs_with_dups(spark, sf_dir).localCheckpoint(eager=True)
    cand = minhash_dedup_pairs(
        docs, num_perm=128, bands=32, threshold=1.0, repartition=32
    )
    ta = docs.select(F.col("doc_id").alias("id_a"), F.col("text").alias("text_a"))
    tb = docs.select(F.col("doc_id").alias("id_b"), F.col("text").alias("text_b"))
    return (
        cand.join(ta, "id_a")
        .join(tb, "id_b")
        .where(F.col("text_a") == F.col("text_b"))
        .select("id_a", "id_b")
    )


def q_minhash_near_dups(spark, sf_dir):
    """MinHash-LSH at a REAL near-dup threshold (<1.0): the injected
    one-token-appended copies have shingle-Jaccard ≥ (W-4)/(W-3) ≈
    0.86 (min 10-word docs), far above the 0.7 candidate threshold and
    separated from it by ≫5σ of the 128-perm signature estimate. The
    exact verify stage (text_b = text_a + marker) keeps the output
    SQL-mirrorable; LSH must surface every injected pair for the
    oracle to match."""
    from sketchlib.spark.dedup import minhash_dedup_pairs

    # same one-materialization/one-wave shape as q_minhash_identical
    docs = _docs_with_dups(spark, sf_dir).localCheckpoint(eager=True)
    cand = minhash_dedup_pairs(
        docs, num_perm=128, bands=32, threshold=0.7, repartition=32
    )
    ta = docs.select(F.col("doc_id").alias("id_a"), F.col("text").alias("text_a"))
    tb = docs.select(F.col("doc_id").alias("id_b"), F.col("text").alias("text_b"))
    return (
        cand.join(ta, "id_a")
        .join(tb, "id_b")
        .where(F.col("text_b") == F.concat("text_a", F.lit(" " + NEAR_SUFFIX)))
        .select("id_a", "id_b")
    )


def q_repeated_passages(spark, sf_dir):
    """Exact-substring dedup (round 5; Lee et al. ACL'22, bucketed —
    see dedup.repeated_passages): a fixed 25-word passage is appended
    to the even-id half of a fully id-salted corpus (base words are
    unique per doc, so nothing else repeats and no window straddling
    the splice point can match). The operator must recover EXACTLY the
    injected spans — (start, end, windows) = (30, 54, 16) per modified
    doc at window_words=10 — which the oracle states as constants."""
    from sketchlib.spark.dedup import repeated_passages

    d = _t(spark, sf_dir, "documents").where("doc_id % 11 = 0").select("doc_id")
    base = F.concat_ws(
        " ",
        F.transform(
            F.sequence(F.lit(0), F.lit(29)),
            lambda j: F.concat(
                F.lit("w"), F.col("doc_id").cast("string"), F.lit("x"), j.cast("string")
            ),
        ),
    )
    passage = " ".join(f"p{j}" for j in range(25))
    text = F.when(
        F.col("doc_id") % 2 == 0, F.concat(base, F.lit(" " + passage))
    ).otherwise(base)
    docs = d.select("doc_id", text.alias("text"))
    return repeated_passages(docs, window_words=10).select(
        "doc_id", "start_word", "end_word", "n_windows"
    )


def q_ngram_jaccard(spark, sf_dir):
    """Exact word-3-gram Jaccard near-dup pairs over the derived dup
    corpus. Output is integer-valued (intersection + distinct-gram
    counts, jaccard compare done on both sides identically in IEEE
    double) so the DuckDB mirror hashes identically — this upgrades
    the round-1 rows-only check to an exact oracle."""
    from sketchlib.spark.dedup import ngram_jaccard_pairs

    d = _docs_with_dups(spark, sf_dir)
    out = ngram_jaccard_pairs(d, n=3, threshold=0.8, max_gram_df=10_000)
    return out.select("id_a", "id_b", "inter", "na", "nb")


def _derived_dup_pair_edges(spark, sf_dir) -> DataFrame:
    """The designed duplicate relation over the derived corpus as three
    hash equi-joins (identical text / near-suffix / doubled text) —
    the exact edge set the recursive oracle mirrors."""
    d = _docs_with_dups(spark, sf_dir)
    ta = d.select(F.col("doc_id").alias("id_a"), F.col("text").alias("text_a"))
    tb = d.select(F.col("doc_id").alias("id_b"), F.col("text").alias("text_b"))
    same = ta.join(tb, F.col("text_b") == F.col("text_a"))
    near = ta.join(tb, F.col("text_b") == F.concat("text_a", F.lit(" " + NEAR_SUFFIX)))
    dbl = ta.join(tb, F.col("text_b") == F.concat("text_a", F.lit(" "), "text_a"))
    return (
        same.unionByName(near)
        .unionByName(dbl)
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def q_dedup_components(spark, sf_dir):
    """Duplicate-cluster resolution: connected components over the
    designed dup edges via Pregel-style min-label propagation (one
    shuffle per round, lineage truncated per round). Exact oracle: a
    DuckDB recursive CTE computing min-reachable-id per doc."""
    from sketchlib.spark.dedup import connected_components

    d = _docs_with_dups(spark, sf_dir)
    pairs = _derived_dup_pair_edges(spark, sf_dir)
    return connected_components(pairs, d.select("doc_id")).select("doc_id", "component")


def q_dedup_canonical(spark, sf_dir):
    """End product of the near-dup pipeline: keep exactly one doc (the
    min-id representative) per duplicate cluster; singletons survive."""
    from sketchlib.spark.dedup import dedup_canonical

    d = _docs_with_dups(spark, sf_dir)
    pairs = _derived_dup_pair_edges(spark, sf_dir)
    return dedup_canonical(d, pairs).select("doc_id")


def q_sql_interface(spark, sf_dir):
    """Pure SQL surface (spark.sql over temp views): revenue per
    order-priority — proves the engine is also driveable as SQL."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("v_orders")
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("v_lineitem")
    return spark.sql(
        """
        SELECT o_orderpriority,
               COUNT(DISTINCT o_orderkey) AS n_orders,
               ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM v_orders JOIN v_lineitem ON o_orderkey = l_orderkey
        GROUP BY o_orderpriority
        """
    )


def q_token_count(spark, sf_dir):
    from sketchlib.spark.text import token_count

    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", token_count("text").cast("long").alias("n_tokens"))


def q_lang_id(spark, sf_dir):
    from sketchlib.spark.text import lang_id

    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", lang_id("text").alias("lang_pred"))


def q_quality_score(spark, sf_dir):
    from sketchlib.spark.text import quality_score

    d = quality_score(_t(spark, sf_dir, "documents"))
    return d.select(
        "doc_id",
        F.col("n_chars_q").cast("long").alias("n_chars_q"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_punct").cast("long").alias("n_punct"),
        F.col("n_stopwords").cast("long").alias("n_stopwords"),
    )


def q_top_tokens(spark, sf_dir):
    from sketchlib.spark.text import top_k_tokens

    return top_k_tokens(_t(spark, sf_dir, "documents"), k=20)


def q_top_tokens_per_source(spark, sf_dir):
    """Grouped top-k: the 5 most frequent tokens PER source (window
    rank over a two-phase agg) — the per-domain vocabulary profile a
    corpus audit needs. Deterministic tiebreak (count desc, token)."""
    from pyspark.sql.window import Window

    d = _t(spark, sf_dir, "documents")
    counts = (
        d.select(
            F.col("source").cast("string").alias("source"),
            F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("token"),
        )
        .where(F.col("token") != "")
        .groupBy("source", "token")
        .agg(F.count("*").alias("cnt"))
    )
    w = Window.partitionBy("source").orderBy(F.col("cnt").desc(), F.col("token"))
    return (
        counts.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 5)
        .select("source", "token", "cnt", F.col("rk").cast("long").alias("rk"))
    )


def q_doc_split(spark, sf_dir):
    """Deterministic hash-based train/val/test split (md5-keyed, stable
    under repartitioning; identical expression mirrored in DuckDB)."""
    from sketchlib.spark.text import hash_split

    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", hash_split("doc_id").alias("split"))


def q_repetition_ratio(spark, sf_dir):
    """Word-3-gram repetition quality signal: (total, distinct) gram
    counts per doc — exact integers, SQL-mirrorable. The doubled-text
    injected copies are the positive cases (≈2× total, same distinct)."""
    from sketchlib.spark.text import ngram_repetition_cols

    d = _docs_with_dups(spark, sf_dir)
    total, distinct = ngram_repetition_cols()
    return d.select(
        "doc_id", total.alias("total_grams"), distinct.alias("distinct_grams")
    )


def q_pii_scrub(spark, sf_dir):
    """PII detection + redaction over a corpus with deterministically
    injected emails/phones (doc_id%6 / doc_id%13): per-doc counts
    before and after the scrub, all exact integers. Patterns live in
    the Java-regex ∩ RE2 subset so the DuckDB mirror is exact."""
    from sketchlib.spark.text import pii_counts, scrub_pii

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    injected = d.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 6 == 0,
            F.concat("text", F.lit(" reach me at user"), F.col("doc_id").cast("string"),
                     F.lit("@example.com")),
        )
        .when(F.col("doc_id") % 13 == 0, F.concat("text", F.lit(" call 555-123-4567 now")))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    n_email, n_phone = pii_counts()
    scrubbed = injected.select(
        "doc_id",
        n_email.alias("n_emails"),
        n_phone.alias("n_phones"),
        scrub_pii().alias("text"),
    )
    n_email2, n_phone2 = pii_counts()
    return scrubbed.select(
        "doc_id",
        F.col("n_emails").cast("long").alias("n_emails"),
        F.col("n_phones").cast("long").alias("n_phones"),
        (n_email2 + n_phone2).cast("long").alias("n_pii_after_scrub"),
    )


def q_corpus_prepare(spark, sf_dir):
    """End-to-end training-corpus preparation as ONE declarative plan:
    PII scrub → exact-hash dedup (the only shuffle) → quality gate
    (token floor + repetition ceiling) → hash split assignment.
    Catalyst fuses scrub/quality/split into scan-side projections; a
    100 TB run shuffles only 8-byte digests once. Fully SQL-mirrored."""
    from sketchlib.spark.text import hash_split, ngram_repetition_cols, scrub_pii, token_count

    d = _docs_with_dups(spark, sf_dir)
    total, distinct = ngram_repetition_cols()
    # all per-doc metrics computed scan-side over the scrubbed text;
    # the ONLY shuffle carries (digest, doc_id, 3 ints) — never text.
    # min(struct) picks the min-id representative per digest group with
    # its metrics attached, so no join-back is needed (at 100 TB a
    # keep-ids ⋈ corpus join would be a second data-scale shuffle).
    metrics = d.select(
        "doc_id", scrub_pii().alias("text")
    ).select(
        F.xxhash64("text").alias("_th"),
        F.struct(
            F.col("doc_id"),
            token_count("text").alias("n_tok"),
            total.alias("tg"),
            distinct.alias("dg"),
        ).alias("m"),
    )
    quality = (
        metrics.groupBy("_th")
        .agg(F.min("m").alias("m"))
        .select("m.doc_id", "m.n_tok", "m.tg", "m.dg")
        # repetition ceiling at 0.6 drops the doubled-text injected docs
        # (distinct/total ≈ 0.5) while natural docs sit near 1.0
        .where((F.col("n_tok") >= 10) & (F.col("dg") >= F.col("tg") * 0.6))
    )
    return quality.select(
        "doc_id",
        F.col("n_tok").cast("long").alias("n_tokens"),
        hash_split("doc_id").alias("split"),
    )


def q_doc_fingerprint(spark, sf_dir):
    """Winnowing fingerprints, upgraded from rows-only to a property
    oracle: fingerprints are deterministic (recompute ⇒ identical) and
    content-keyed (exact text copies ⇒ equal fingerprint). NOTE:
    distinct texts may legitimately SHARE fingerprints — winnowing
    exists to make documents with shared 64-byte substrings collide
    (this template-heavy synthetic corpus measures ~192 distinct
    fingerprints over 500 docs), so no distinctness claim is made."""
    from sketchlib.spark.text import doc_fingerprint_udf

    d = _docs_with_dups(spark, sf_dir)
    fp = doc_fingerprint_udf()
    fps = d.select("doc_id", "text", fp(F.col("text")).alias("f1"))
    n = fps.count()
    # determinism must be checked across TWO independent plans — two
    # identical UDF calls in one projection are CSE'd into a single
    # evaluation, which would make the check vacuously true
    fps_again = d.select("doc_id", fp(F.col("text")).alias("f1"))
    deterministic = (
        fps.select("doc_id", "f1").exceptAll(fps_again).count() == 0
        and fps_again.exceptAll(fps.select("doc_id", "f1")).count() == 0
    )
    a = fps.select(F.col("text").alias("ta"), F.col("f1").alias("fa"))
    b = fps.select(F.col("text").alias("tb"), F.col("f1").alias("fb"))
    copies_differ = (
        a.join(b, F.col("ta") == F.col("tb")).where(F.col("fa") != F.col("fb")).count()
    )
    return spark.createDataFrame(
        [(n, bool(deterministic), bool(copies_differ == 0))],
        "n_docs long, deterministic boolean, copies_equal boolean",
    )


def q_hash_sample(spark, sf_dir):
    """Deterministic uniform sample: bottom-100 docs by md5(doc_id) —
    reproducible across engines, runs, and partition layouts (unlike
    seeded df.sample), nested in k, and EXACTLY SQL-mirrorable. Plan
    is a TakeOrderedAndProject per-partition heap + tree merge
    (asserted in tests) — one scan, no global sort, at any scale."""
    from sketchlib.spark.sampling import hash_sample

    d = _t(spark, sf_dir, "documents")
    return hash_sample(d, 100).select("doc_id")


def q_stratified_sample(spark, sf_dir):
    """Deterministic k-per-group sample (5 docs per source): window
    rank over md5(doc_id) within each group — one group-keyed shuffle,
    per-group heap, exact SQL mirror via QUALIFY."""
    from sketchlib.spark.sampling import stratified_hash_sample

    d = _t(spark, sf_dir, "documents")
    return stratified_hash_sample(d, 5, "source").select(
        F.col("source").cast("string").alias("source"), "doc_id"
    )


def q_hll_set_ops(spark, sf_dir):
    """Approximate set algebra from MERGEABLE sketches (the property
    that makes HLL distributable): A = customers with an URGENT order,
    B = customers with a HIGH order; union via register-max merge of
    the two distributed-built HLLs, intersection via inclusion-
    exclusion. Gated in-query against exact counts within the
    published bounds (union ≤ 3σ·|A∪B|; intersection ≤
    3σ·(|A|+|B|+|A∪B|), the compounded additive error); the exact
    counts + verdicts are the compared columns."""
    from sketchlib.sketches import HyperLogLog
    from sketchlib.sketches.hll import estimate_set_ops
    from sketchlib.spark import build_sketches, tree_merge

    orders = _t(spark, sf_dir, "orders")
    a = orders.where("o_orderpriority = '1-URGENT'").select(
        F.col("o_custkey").cast("string").alias("key")
    )
    b = orders.where("o_orderpriority = '2-HIGH'").select(
        F.col("o_custkey").cast("string").alias("key")
    )
    ha = tree_merge(build_sketches(a, "key", lambda: HyperLogLog(14)))
    hb = tree_merge(build_sketches(b, "key", lambda: HyperLogLog(14)))
    est_u, est_i = estimate_set_ops(ha, hb)
    ea = a.distinct().count()
    eb = b.distinct().count()
    eu = a.union(b).distinct().count()
    ei = ea + eb - eu
    sig = 3 * HyperLogLog(14).std_error()
    union_ok = abs(est_u - eu) <= sig * eu + 1
    inter_ok = abs(est_i - ei) <= sig * (ea + eb + eu) + 1
    return spark.createDataFrame(
        [(ea, eb, eu, ei, bool(union_ok), bool(inter_ok))],
        "exact_a long, exact_b long, exact_union long, exact_intersection long, "
        "union_within_bound boolean, intersection_within_bound boolean",
    )


def q_kmv_set_ops(spark, sf_dir):
    """KMV (bottom-k) sketch set algebra — the estimator HLL cannot
    provide: intersection/Jaccard with MULTIPLICATIVE O(1/√k) error
    (Beyer et al. SIGMOD'07), vs inclusion-exclusion's additive-in-
    union error. Same A/B key sets as hll_set_ops (URGENT vs HIGH
    order customers), distributed per-partition build + tree merge,
    then |A∪B| / |A∩B| / Jaccard from the two sketches alone, gated
    in-query at 4/√(k−2) against exact SQL. Deterministic hashes ⇒
    exact verdict row."""
    from sketchlib.sketches import KMVSketch
    from sketchlib.sketches.kmv import kmv_set_ops
    from sketchlib.spark import build_sketches, tree_merge

    orders = _t(spark, sf_dir, "orders")
    a = orders.where("o_orderpriority = '1-URGENT'").select(
        F.col("o_custkey").cast("string").alias("key")
    )
    b = orders.where("o_orderpriority = '2-HIGH'").select(
        F.col("o_custkey").cast("string").alias("key")
    )
    ka = tree_merge(build_sketches(a, "key", lambda: KMVSketch(k=1024)))
    kb = tree_merge(build_sketches(b, "key", lambda: KMVSketch(k=1024)))
    union_est, inter_est, j_est = kmv_set_ops(ka, kb)
    ea = a.distinct().count()
    eb = b.distinct().count()
    eu = a.union(b).distinct().count()
    ei = ea + eb - eu
    tol = 4 * ka.std_error()
    union_ok = abs(union_est - eu) <= tol * eu + 1
    inter_ok = abs(inter_est - ei) <= tol * eu + 1
    j_ok = abs(j_est - (ei / max(eu, 1))) <= tol
    return spark.createDataFrame(
        [(ea, eb, eu, ei, bool(union_ok), bool(inter_ok), bool(j_ok))],
        "exact_a long, exact_b long, exact_union long, exact_intersection long, "
        "union_within_bound boolean, intersection_within_bound boolean, "
        "jaccard_within_bound boolean",
    )


def q_source_similarity(spark, sf_dir):
    """Cross-corpus similarity via GROUPED KMV sketches — the 100 TB
    alternative to an exact all-pairs token join: one salted grouped
    build produces a KB-sized bottom-k sketch per source (the shuffle
    carries states, not tokens; KMV absorbs duplicate tokens
    idempotently so no pre-distinct is needed), then every pairwise
    Jaccard comes from sketch pairs alone. Gated per pair at
    4/√(k−2) against the exact token-set Jaccard, which is also the
    SQL oracle (identical \\S+ tokenization both engines). Raises if
    ANY pair drifts out of bound.

    The pairwise loop here is driver-side over ≤20 KB-sized states
    (190 pairs); at many-thousands-of-groups scale, self-join the
    (group, state) table on a blocking key and run kmv_set_ops per
    pair inside a pandas cogroup — the states are the same KBs, only
    the pair enumeration moves executor-side."""
    from sketchlib.serde import loads
    from sketchlib.sketches import KMVSketch
    from sketchlib.sketches.kmv import kmv_set_ops
    from sketchlib.spark.grouped import build_grouped_sketches

    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        F.col("source").cast("string").alias("source"),
        F.explode(
            F.expr("regexp_extract_all(coalesce(text,''), '\\\\S+', 0)")
        ).alias("token"),
    )
    K = 1024  # one knob: sketch size AND the 4/√(K−2) gate below
    grouped = build_grouped_sketches(
        toks, "source", "token", lambda: KMVSketch(k=K)
    )
    sketches = {r.group_key: loads(r.state) for r in grouped.collect()}
    tok = toks.distinct()
    a, b = tok.alias("a"), tok.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.token") == F.col("b.token"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("source_a"), F.col("b.source").alias("source_b")
        )
        .agg(F.count("*").alias("inter"))
    )
    sizes = tok.groupBy("source").agg(F.count("*").alias("n"))
    res = (
        inter.join(
            sizes.select(F.col("source").alias("source_a"), F.col("n").alias("na")),
            "source_a",
        ).join(
            sizes.select(F.col("source").alias("source_b"), F.col("n").alias("nb")),
            "source_b",
        )
    )
    tol = 4 * next(iter(sketches.values())).std_error() if sketches else 0.0
    out = []
    for r in res.collect():
        _, _, j_est = kmv_set_ops(sketches[r.source_a], sketches[r.source_b])
        j_exact = r.inter / (r.na + r.nb - r.inter)
        out.append(
            (
                r.source_a,
                r.source_b,
                r.inter,
                r.na,
                r.nb,
                float(j_exact),
                bool(abs(j_est - j_exact) <= tol),
            )
        )
    bad = [o for o in out if not o[6]]
    if bad:
        raise AssertionError(f"KMV jaccard out of bound for {len(bad)} pairs")
    return spark.createDataFrame(
        out,
        "source_a string, source_b string, inter long, na long, nb long, "
        "jaccard double, kmv_within_bound boolean",
    )


def q_sharded_bloom_membership(spark, sf_dir):
    """The sharded build is sketch-GENERIC (factory protocol): the same
    key-routed build/probe that shards the cuckoo filter shards a
    Bloom filter (both speak update/contains) — pick the per-shard
    sketch by delete/count needs without touching the distribution
    layer. No false negatives ⇔
    result == the distinct-key oracle."""
    from sketchlib.sketches import BloomFilter
    from sketchlib.spark.shard import build_sharded, probe_sharded

    keys = (
        _t(spark, sf_dir, "customer")
        .select(F.col("c_custkey").cast("string").alias("key"))
        .distinct()
    )
    shards = build_sharded(
        keys,
        "key",
        num_shards=8,
        # Bloom saturation only raises FPR (no false negatives) — fixed
        # per-shard capacity cannot lose inserted keys at any sf
        factory=lambda: BloomFilter(capacity=65536, fp_rate=0.001),
    ).persist()
    return probe_sharded(keys, "key", shards, num_shards=8).where("member").select("key")


# --------------------------------------------------------------------- similarity / multimodal


def q_ann_cosine_topk(spark, sf_dir):
    """Exact brute-force cosine top-10 to vec_id 0 (JVM higher-order fns)."""
    from sketchlib.spark.similarity import cosine_topk_bruteforce

    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )
    qv = emb.where("vec_id = 0").select("embedding").first()[0]
    top = cosine_topk_bruteforce(emb, list(qv), k=10)
    return top.select("vec_id", F.round("cosine_sim", 6).alias("cosine_sim"))


def _ann_recall_gate(spark, sf_dir, label, search, emb=None):
    """Shared recall-gate protocol for the approximate-search queries
    (one source of truth for the injected-dup qid scheme, the
    origin-id derivation, the raise-on-miss gate, and the verdict
    schema): for each of 5 perturbed query points (vec_id = 1000000 +
    5i, from _embeddings_with_near_dups), the true top-1 neighbor is
    its injected original (cosine ≈ 0.993, far above the ~0.45
    natural ceiling of this isotropic corpus); ``search(corpus,
    query_vec)`` must surface it in top-10 for EVERY query or the
    query raises. Everything is seeded/deterministic — this cannot
    flake, only genuinely break — so the verdict row is exact and
    oracle-comparable (round-2 review replaced the ungated recall@10
    demos that a broken index would still have 'passed').

    ``emb``: an already-persisted derived frame to reuse (the IVF gate
    trains centroids on it first — without reuse the perturb-UDF union
    would materialize three times)."""
    emb = emb if emb is not None else _embeddings_with_near_dups(spark, sf_dir).persist()
    qids = [1000000 + 5 * i for i in range(5)]
    found = 0
    for qid in qids:
        qv = list(emb.where(F.col("vec_id") == qid).select("embedding").first()[0])
        top = search(emb.where(F.col("vec_id") != qid), qv)
        if (qid - 1000000) in {r.vec_id for r in top.collect()}:
            found += 1
    emb.unpersist()
    if found < len(qids):
        raise AssertionError(f"{label} near-dup recall {found}/{len(qids)} < 1.0")
    return spark.createDataFrame(
        [(len(qids), found, True)],
        "n_queries long, origin_in_top10 long, recall_gate_passed boolean",
    )


def q_ann_lsh_recall(spark, sf_dir):
    """Hyperplane-LSH ANN recall gate (see _ann_recall_gate): the
    Hamming-ball bucketed search must find each injected original."""
    from sketchlib.spark.similarity import cosine_topk_lsh

    return _ann_recall_gate(
        spark,
        sf_dir,
        "LSH",
        lambda corpus, qv: cosine_topk_lsh(corpus, qv, k=10, bits=8, max_hamming=3),
    )


def q_ann_ivf_recall(spark, sf_dir):
    """IVF ANN recall gate (see _ann_recall_gate): the nprobe=4-of-16
    cell search must find each injected original. Centroids are
    trained once on the derived corpus (seeded) and shared across the
    5 probes; the persisted frame is shared with the gate so the
    perturb-UDF union materializes once, not three times."""
    from sketchlib.spark.similarity import cosine_topk_ivf, ivf_train_centroids

    emb = _embeddings_with_near_dups(spark, sf_dir).persist()
    cent = ivf_train_centroids(emb, k=16)
    return _ann_recall_gate(
        spark,
        sf_dir,
        "IVF",
        lambda corpus, qv: cosine_topk_ivf(corpus, qv, k=10, centroids=cent, nprobe=4),
        emb=emb,
    )


def q_ann_index(spark, sf_dir):
    """Materialized IVF ANN index: build a cell-partitioned parquet
    index, probe it reading ONLY the probed partitions (PartitionFilters
    asserted from the plan), and check (a) an exhaustive probe
    (nprobe = n_cells) reproduces brute-force top-k exactly, (b) a
    pruned probe (nprobe=4) still finds the injected near-duplicate's
    true top-1 neighbor."""
    import tempfile

    from sketchlib.spark.similarity import (
        build_ann_index,
        cosine_topk_bruteforce,
        plan_partition_filters,
        probe_ann_index,
    )

    emb = _embeddings_with_near_dups(spark, sf_dir)
    path = tempfile.mkdtemp(prefix="annidx-")
    build_ann_index(emb, path, n_cells=16)
    # query = the injected near-dup of vec 0; its true top-1 is vec 0
    qv = list(emb.where("vec_id = 1000000").select("embedding").first()[0])
    pruned = probe_ann_index(spark, path, qv, k=10, nprobe=4)
    pf = plan_partition_filters(pruned)
    partition_pruned = "cell" in pf and pf != "PartitionFilters: []"
    pruned_ids = [r.vec_id for r in pruned.collect()]
    full = {
        r.vec_id for r in probe_ann_index(spark, path, qv, k=10, nprobe=16).collect()
    }
    exact = {r.vec_id for r in cosine_topk_bruteforce(emb, qv, k=10).collect()}
    bf_top1 = cosine_topk_bruteforce(
        emb.where("vec_id <> 1000000"), qv, k=1
    ).first().vec_id
    return spark.createDataFrame(
        [
            (
                16,
                4,
                bool(partition_pruned),
                bool(full == exact),
                bool(bf_top1 in pruned_ids),
            )
        ],
        "n_cells long, nprobe long, partition_pruned boolean, "
        "full_probe_equals_bruteforce boolean, neardup_top1_found boolean",
    )


def q_lsh_index(spark, sf_dir):
    """Materialized hyperplane-LSH index (sig-partitioned parquet): a
    Hamming-ball probe reads only its partitions (PartitionFilters
    asserted), an exhaustive probe (radius = bits) reproduces brute
    force exactly, and the injected near-duplicate's true top-1 is
    found within radius 2."""
    import tempfile

    from sketchlib.spark.similarity import (
        build_lsh_index,
        cosine_topk_bruteforce,
        plan_partition_filters,
        probe_lsh_index,
    )

    emb = _embeddings_with_near_dups(spark, sf_dir)
    path = tempfile.mkdtemp(prefix="lshidx-")
    build_lsh_index(emb, path, bits=8)
    qv = list(emb.where("vec_id = 1000000").select("embedding").first()[0])
    pruned = probe_lsh_index(spark, path, qv, k=10, max_hamming=2)
    pf = plan_partition_filters(pruned)
    partition_pruned = "sig" in pf and pf != "PartitionFilters: []"
    pruned_ids = [r.vec_id for r in pruned.collect()]
    full = {r.vec_id for r in probe_lsh_index(spark, path, qv, k=10, max_hamming=8).collect()}
    exact = {r.vec_id for r in cosine_topk_bruteforce(emb, qv, k=10).collect()}
    bf_top1 = cosine_topk_bruteforce(emb.where("vec_id <> 1000000"), qv, k=1).first().vec_id
    return spark.createDataFrame(
        [(8, 2, bool(partition_pruned), bool(full == exact), bool(bf_top1 in pruned_ids))],
        "bits long, max_hamming long, partition_pruned boolean, "
        "full_probe_equals_bruteforce boolean, neardup_top1_found boolean",
    )


def q_simhash_buckets(spark, sf_dir):
    """SimHash signature properties, upgraded from rows-only to an
    exact oracle: identical texts hash identically, and doubled texts
    (2× every token count ⇒ identical vote signs) hash identically to
    their originals — Charikar's content-weighting, checked over the
    derived dup corpus."""
    from sketchlib.spark.dedup import simhash_udf

    d = _docs_with_dups(spark, sf_dir)
    sh = d.select("doc_id", "text", simhash_udf()(F.col("text")).alias("sig"))
    n = sh.count()
    a = sh.select(F.col("text").alias("ta"), F.col("sig").alias("sa"))
    b = sh.select(F.col("text").alias("tb"), F.col("sig").alias("sb"))
    same_text_differ = (
        a.join(b, F.col("ta") == F.col("tb")).where(F.col("sa") != F.col("sb")).count()
    )
    dbl_differ = (
        a.join(b, F.col("tb") == F.concat("ta", F.lit(" "), "ta"))
        .where(F.col("sa") != F.col("sb"))
        .count()
    )
    return spark.createDataFrame(
        [(n, bool(same_text_differ == 0), bool(dbl_differ == 0))],
        "n_docs long, identical_text_same_sig boolean, doubled_text_same_sig boolean",
    )


def q_warc_source(spark, sf_dir):
    """WARC (ISO 28500) source round-trip verdict: two deterministic
    synthetic archives (one plain, one whole-file gzip) read through
    binaryFile + the streaming record parser must reproduce every url,
    html byte, extracted text (the per-row invariant), and language tag
    of the generating table."""
    import tempfile

    from sketchlib.datagen import generate_documents, write_warc
    from sketchlib.spark.warc import read_warc

    n = 64
    tmp = tempfile.mkdtemp(prefix="warc-src-")
    write_warc(f"{tmp}/a.warc", n, seed=5)
    write_warc(f"{tmp}/b.warc.gz", n, seed=6, gzip_compress=True)
    got = read_warc(spark, tmp).select("url", "html", "text", "lang")
    ref = generate_documents(n, seed=5).to_pandas()
    ref2 = generate_documents(n, seed=6).to_pandas()
    import pandas as pd

    exp = pd.concat([ref, ref2], ignore_index=True)[["url", "html", "text", "lang"]]
    exp_df = spark.createDataFrame(exp)
    # MULTISET equality (exceptAll both ways), not a url join — the two
    # seeds can legitimately generate colliding urls at the same row
    # index, which a url-keyed join would double-match
    n_pages = got.count()
    roundtrip = (
        got.exceptAll(exp_df).count() == 0 and exp_df.exceptAll(got).count() == 0
    )
    return spark.createDataFrame(
        [(n_pages, bool(n_pages == 2 * n), bool(roundtrip))],
        "n_pages long, all_records_surfaced boolean, bytes_text_lang_roundtrip boolean",
    )


def q_multimodal_decode(spark, sf_dir):
    """Binary media plumbing (decode stub — codec libs absent), upgraded
    from rows-only to a verdict oracle: decode is deterministic
    (re-decode ⇒ identical rows), shapes are valid, features normalized,
    images single-frame."""
    from sketchlib.spark.multimodal import decode_media, synth_media_table

    media = synth_media_table(spark, n=64)
    cols = ["doc_id", "media_type", "width", "height", "n_frames"]
    d1 = decode_media(media).select(*cols)
    d2 = decode_media(media).select(*cols)
    n = d1.count()
    deterministic = d1.exceptAll(d2).count() == 0 and d2.exceptAll(d1).count() == 0
    full = decode_media(media)
    shapes_valid = (
        full.where(
            (F.col("width") < 1) | (F.col("height") < 1) | (F.col("n_frames") < 1)
        ).count()
        == 0
    )
    feat_ok = (
        full.select(
            F.abs(
                F.aggregate("feature", F.lit(0.0), lambda s, v: s + v) - F.lit(1.0)
            ).alias("d")
        )
        .where(F.col("d") > 1e-5)
        .count()
        == 0
    )
    img_single = full.where((F.col("media_type") == "image") & (F.col("n_frames") != 1)).count() == 0
    return spark.createDataFrame(
        [(n, bool(deterministic), bool(shapes_valid), bool(feat_ok), bool(img_single))],
        "n_media long, deterministic boolean, shapes_valid boolean, "
        "features_normalized boolean, images_single_frame boolean",
    )


def q_multimodal_audio_real(spark, sf_dir):
    """REAL-codec round trip (round 4): genuine RIFF/WAVE blobs are
    encoded executor-side from id-derived geometry (stdlib ``wave``),
    then decode_media(codec_mode='real') — no stub anywhere — must
    recover the exact channel count, sample rate and frame count. The
    oracle recomputes the geometry formulas in SQL, so a decoder that
    faked or approximated any field hash-mismatches."""
    from sketchlib.spark.multimodal import decode_media, synth_audio_table

    d = _t(spark, sf_dir, "documents").where("doc_id % 101 = 0")
    media = synth_audio_table(d, id_col="doc_id")
    return decode_media(media, codec_mode="real").select(
        "doc_id",
        F.col("width").cast("long").alias("channels"),
        F.col("height").cast("long").alias("sample_rate"),
        F.col("n_frames").cast("long").alias("n_frames"),
    )


def q_multimodal_image_real(spark, sf_dir):
    """REAL image-codec round trip (round 5): genuine PNG blobs are
    encoded executor-side from id-derived geometry (stdlib zlib+struct
    — png_blob), then decode_media(codec_mode='real') — no stub, no
    PIL required — must recover the exact width/height AND the feature
    histogram (a constant-pixel image one-hots the bucket value >> 5,
    and the normalized count is exactly 1.0 in float). The oracle
    recomputes every formula in SQL, so a decoder that faked geometry,
    mis-unfiltered a scanline, or mis-graylit a pixel hash-mismatches."""
    from sketchlib.spark.multimodal import decode_media, synth_image_table

    d = _t(spark, sf_dir, "documents").where("doc_id % 101 = 0")
    media = synth_image_table(d, id_col="doc_id")
    return decode_media(media, codec_mode="real").select(
        "doc_id",
        F.col("width").cast("long").alias("width"),
        F.col("height").cast("long").alias("height"),
        F.col("n_frames").cast("long").alias("n_frames"),
        (
            F.array_position(F.col("feature"), F.lit(1.0).cast("float")) - 1
        ).cast("long").alias("feature_bucket"),
    )


def q_multimodal_frame_sample(spark, sf_dir):
    """frame_sample over REAL-decoded media (round 4): WAV blobs are
    encoded executor-side, decoded with codec_mode='real', then the
    frame-sampling plan (sequence+explode, pure DataFrame expression)
    emits one row per sampled frame index. The oracle recomputes
    range(0, n_frames, 10) from the id-derived geometry, so both the
    codec's frame count AND the sampling expression are exact-checked."""
    from sketchlib.spark.multimodal import decode_media, frame_sample, synth_audio_table

    d = _t(spark, sf_dir, "documents").where("doc_id % 101 = 0")
    dec = decode_media(synth_audio_table(d, id_col="doc_id"), codec_mode="real")
    return frame_sample(dec, every_n=10).select(
        "doc_id", F.col("frame_idx").cast("long").alias("frame_idx")
    )


# --------------------------------------------------------------------- registry


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # REGISTRY ORDER MATTERS: the external driver's correctness artifact
    # covers the FIRST 50 entries. Round-5 rotation serves two rules:
    #   (a) every code path changed this round keeps >=1 in-window
    #       query: SpaceSaving candidate floor (udfs) -> heavy_hitters;
    #       legacy-lineage fold (incremental) -> streaming_incremental;
    #       fused sig+band UDF + one-persist cap path (dedup) ->
    #       minhash_identical/minhash_near_dups (+ dedup_components,
    #       which consumes the pair edges); collect-once probe index ->
    #       sharded_membership (+ sharded_delete/sharded_bloom_
    #       membership siblings); byte-aware direct-merge gate (merge/
    #       webbuild) -> web_sketch_family passes state_bytes=
    #       state_bytes_hint(...) through merge_web_sketches (gate
    #       arithmetic on the driver path; the forced executor-fold
    #       BRANCH is pinned by the byte-gate unit tests + the
    #       local-cluster fold-parity test, not by a driver query) +
    #       cuckoo_membership/hll_distinct_check/cms_frequency_check
    #       (tree_merge users).
    #   (b) no query goes two full rounds without a driver-green row:
    #       ALL 18 round-4 tail names (last green in CORRECTNESS_r03)
    #       rotate IN; the new tail holds ONLY names green in
    #       CORRECTNESS_r04 whose round-5 deltas are zero (their
    #       modules untouched) or covered by a sibling window query.
    return {
        "web_sketch_family": q_web_sketch_family,
        "cuckoo_membership": q_cuckoo_membership,
        "cuckoo_lifecycle": q_cuckoo_lifecycle,
        "cuckoo_count": q_cuckoo_count,
        "bloom_membership": q_bloom_membership,
        "cms_frequency_check": q_cms_frequency_check,
        "hll_distinct_check": q_hll_distinct_check,
        "stratified_sample": q_stratified_sample,
        "hll_set_ops": q_hll_set_ops,
        "kmv_set_ops": q_kmv_set_ops,
        "source_similarity": q_source_similarity,
        "streaming_windowed": q_streaming_windowed,
        "dedup_exact": q_dedup_exact,
        "dedup_canonical": q_dedup_canonical,
        "quality_score": q_quality_score,
        "top_tokens_per_source": q_top_tokens_per_source,
        "pii_scrub": q_pii_scrub,
        "doc_fingerprint": q_doc_fingerprint,
        "ann_ivf_recall": q_ann_ivf_recall,
        "simhash_buckets": q_simhash_buckets,
        "hash_indices_contract": q_hash_indices_contract,
        "sharded_membership": q_sharded_membership,
        "sharded_delete": q_sharded_delete,
        "sharded_bloom_membership": q_sharded_bloom_membership,
        "heavy_hitters": q_heavy_hitters,
        "streaming_incremental": q_streaming_incremental,
        "minhash_identical": q_minhash_identical,
        "minhash_near_dups": q_minhash_near_dups,
        "dedup_components": q_dedup_components,
        "simhash_near_dups": q_simhash_near_dups,
        "ngram_jaccard": q_ngram_jaccard,
        "dedup_exact_hash": q_dedup_exact_hash,
        "cuckoo_delete": q_cuckoo_delete,
        "quantile_sketches_check": q_quantile_sketches_check,
        "grouped_quantiles": q_grouped_quantiles,
        "per_source_distinct": q_per_source_distinct,
        "top_tokens": q_top_tokens,
        "lang_id": q_lang_id,
        "corpus_prepare": q_corpus_prepare,
        "bloom_join_pruning": q_bloom_join_pruning,
        "membership_semi_join": q_membership_semi_join,
        "repeated_passages": q_repeated_passages,
        "set_ops": q_set_ops,
        "pricing_summary": q_pricing_summary,
        "top_revenue_orders": q_top_revenue_orders,
        "events_window_counts": q_events_window_counts,
        "multimodal_image_real": q_multimodal_image_real,
        # multimodal.py changed in round 5 (PNG real-codec attempt now
        # precedes the stub in decode_media's auto mode), so all three
        # multimodal queries sit in the driver's checked window
        "multimodal_decode": q_multimodal_decode,
        "multimodal_frame_sample": q_multimodal_frame_sample,
        "multimodal_audio_real": q_multimodal_audio_real,
        # ---- tail: driver-green in r4 (CORRECTNESS_r04), modules
        # untouched in round 5 or covered by sibling window queries ----
        "region_nation_rollup": q_region_nation_rollup,
        "top_customer_per_nation": q_top_customer_per_nation,
        "sql_interface": q_sql_interface,
        "ann_cosine_topk": q_ann_cosine_topk,
        "sessionization": q_sessionization,
        "token_count": q_token_count,
        "word_token_count": q_word_token_count,
        "embedding_knn": q_embedding_knn,
        "embedding_knn_recall": q_embedding_knn_recall,
        "hash_sample": q_hash_sample,
        "streaming_stateful": q_streaming_stateful,
        "streaming_sharded": q_streaming_sharded,
        "doc_split": q_doc_split,
        "repetition_ratio": q_repetition_ratio,
        "ann_lsh_recall": q_ann_lsh_recall,
        "ann_index": q_ann_index,
        "lsh_index": q_lsh_index,
        "warc_source": q_warc_source,
        "membership_anti_join": q_membership_anti_join,
        "shipping_priority": q_shipping_priority,
    }


def _lang_votes_sql(lang: str) -> str:
    from sketchlib.spark.text import LANG_MARKERS

    terms = [
        f"(len(string_split(' ' || lower(coalesce(text,'')) || ' ', ' {w} ')) - 1)"
        for w in LANG_MARKERS[lang]
    ]
    return " + ".join(terms)


def oracle_sql() -> dict[str, str]:
    from sketchlib.spark.text import LANG_MARKERS

    votes = {lang: _lang_votes_sql(lang) for lang in LANG_MARKERS}
    best = f"greatest({', '.join(f'({v})' for v in votes.values())})"
    lang_case = (
        "CASE "
        + " ".join(
            f"WHEN ({best}) > 0 AND ({votes[lang]}) = ({best}) THEN '{lang}'"
            for lang in ("en", "de", "fr", "es")
        )
        + " ELSE 'und' END"
    )
    stop_terms = " + ".join(
        f"(len(string_split(' ' || lower(coalesce(text,'')) || ' ', ' {w} ')) - 1)"
        for w in ("the", "and", "of", "to", "in", "a", "is")
    )
    # token = non-whitespace run (\S+), matching sketchlib.spark.text.token_count
    tok = "len(regexp_extract_all(coalesce(text,''), '\\S+'))"
    return {
        "web_sketch_family": (
            "SELECT COUNT(*) AS n_docs, COUNT(DISTINCT text) AS distinct_text, "
            "TRUE AS no_false_negatives, TRUE AS hll_within_bound, "
            "TRUE AS kll_saw_all_rows FROM documents"
        ),
        "cuckoo_membership": "SELECT DISTINCT CAST(o_custkey AS VARCHAR) AS key FROM orders",
        "cuckoo_lifecycle": (
            "SELECT COUNT(DISTINCT o_custkey) AS item_count, "
            "CAST(COUNT(DISTINCT o_custkey) AS DOUBLE) / 65536 AS load_factor, "
            "65536 AS capacity, 0 AS count_after_reset FROM orders"
        ),
        "per_source_distinct": (
            "SELECT CAST(source AS VARCHAR) AS source, "
            "COUNT(DISTINCT text) AS exact_distinct, TRUE AS within_bound "
            "FROM documents GROUP BY source"
        ),
        "hash_indices_contract": (
            "SELECT strategy, (SELECT COUNT(*) FROM customer) AS n_keys, "
            "TRUE AS batch_eq_scalar FROM (VALUES ('fnv'), ('crc32c'), ('xx')) "
            "AS t(strategy)"
        ),
        "word_token_count": (
            "SELECT doc_id, len(regexp_extract_all(coalesce(text,''), "
            "'\\w+|[^\\w\\s]')) AS n_word_tokens FROM documents"
        ),
        "simhash_near_dups": (
            f"{DERIVED_DOCS_CTE} "
            "SELECT a.doc_id AS id_a, b.doc_id AS id_b FROM derived a "
            "JOIN derived b ON a.doc_id < b.doc_id AND "
            "(a.text = b.text OR b.text = a.text || ' ' || a.text)"
        ),
        "cuckoo_delete": (
            "SELECT DISTINCT CAST(l_orderkey AS VARCHAR) AS key FROM lineitem "
            "WHERE l_orderkey NOT IN (SELECT l_orderkey FROM lineitem WHERE l_returnflag = 'R')"
        ),
        "cuckoo_count": "SELECT COUNT(DISTINCT o_custkey) AS item_count FROM orders",
        "bloom_membership": "SELECT DISTINCT CAST(c_custkey AS VARCHAR) AS key FROM customer",
        "sharded_membership": (
            "SELECT DISTINCT CAST(o_custkey AS VARCHAR) AS key, TRUE AS member FROM orders"
        ),
        "sharded_delete": (
            "SELECT DISTINCT CAST(l_orderkey AS VARCHAR) AS key FROM lineitem "
            "WHERE l_orderkey NOT IN (SELECT l_orderkey FROM lineitem WHERE l_returnflag = 'R')"
        ),
        "hll_distinct_check": (
            "SELECT COUNT(DISTINCT l_partkey) AS exact_distinct, TRUE AS within_bound FROM lineitem"
        ),
        "cms_frequency_check": (
            "SELECT event_type, COUNT(*) AS exact_cnt, TRUE AS never_under, TRUE AS within_bound "
            "FROM events GROUP BY event_type"
        ),
        "heavy_hitters": (
            "SELECT token, COUNT(*) AS exact_cnt, TRUE AS never_under FROM ("
            "SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS token FROM documents "
            "WHERE trim(coalesce(text,'')) <> '') WHERE token <> '' "
            "GROUP BY token ORDER BY exact_cnt DESC, token LIMIT 10"
        ),
        "grouped_quantiles": (
            "SELECT CAST(l_returnflag AS VARCHAR) AS l_returnflag, "
            "TRUE AS median_within_rank_eps FROM lineitem GROUP BY l_returnflag"
        ),
        "quantile_sketches_check": (
            "SELECT CAST(q AS DOUBLE) AS q, kll_ok, tdigest_ok FROM (VALUES "
            "(0.1, TRUE, TRUE), (0.25, TRUE, TRUE), (0.5, TRUE, TRUE), "
            "(0.75, TRUE, TRUE), (0.9, TRUE, TRUE)) AS t(q, kll_ok, tdigest_ok)"
        ),
        "membership_semi_join": (
            "SELECT c_custkey FROM customer WHERE c_custkey IN (SELECT o_custkey FROM orders)"
        ),
        "membership_anti_join": (
            "SELECT c_custkey FROM customer WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)"
        ),
        "bloom_join_pruning": (
            "SELECT l_orderkey, COUNT(*) AS n_items, "
            "ROUND(SUM(l_extendedprice), 2) AS total_price FROM lineitem "
            "WHERE l_orderkey IN (SELECT o_orderkey FROM orders "
            "WHERE o_orderpriority = '1-URGENT') GROUP BY l_orderkey"
        ),
        "top_tokens_per_source": (
            "WITH counts AS (SELECT CAST(source AS VARCHAR) AS source, token, "
            "COUNT(*) AS cnt FROM (SELECT source, unnest(regexp_split_to_array("
            "trim(text), '\\s+')) AS token FROM documents "
            "WHERE trim(coalesce(text,'')) <> '') WHERE token <> '' "
            "GROUP BY source, token) "
            "SELECT source, token, cnt, rk FROM ("
            "SELECT source, token, cnt, ROW_NUMBER() OVER ("
            "PARTITION BY source ORDER BY cnt DESC, token) AS rk FROM counts) "
            "WHERE rk <= 5"
        ),
        "set_ops": (
            "WITH wo AS (SELECT c_custkey FROM customer WHERE c_custkey IN "
            "(SELECT o_custkey FROM orders)), rich AS ("
            "SELECT c_custkey FROM customer WHERE c_acctbal > 5000) "
            "SELECT 'intersect' AS op, c_custkey FROM (SELECT * FROM wo INTERSECT SELECT * FROM rich) "
            "UNION ALL "
            "SELECT 'except' AS op, c_custkey FROM (SELECT * FROM rich EXCEPT SELECT * FROM wo)"
        ),
        "pricing_summary": (
            "SELECT l_returnflag, l_linestatus, ROUND(SUM(l_quantity), 2) AS sum_qty, "
            "ROUND(SUM(l_extendedprice), 2) AS sum_base_price, "
            "ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price, "
            "COUNT(*) AS count_order FROM lineitem "
            "WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00' "
            "GROUP BY l_returnflag, l_linestatus"
        ),
        "top_revenue_orders": (
            "SELECT l_orderkey, revenue, o_orderpriority FROM ("
            "SELECT l_orderkey, ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue "
            "FROM lineitem GROUP BY l_orderkey) r JOIN orders ON l_orderkey = o_orderkey "
            "ORDER BY revenue DESC, l_orderkey LIMIT 10"
        ),
        "shipping_priority": (
            "SELECT l_orderkey, ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue, "
            "CAST(o_orderdate AS VARCHAR) AS o_orderdate, o_orderpriority "
            "FROM customer, orders, lineitem "
            "WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey AND l_orderkey = o_orderkey "
            "AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00' AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00' "
            "GROUP BY l_orderkey, o_orderdate, o_orderpriority "
            "ORDER BY revenue DESC, o_orderdate, l_orderkey LIMIT 10"
        ),
        "region_nation_rollup": (
            "SELECT COALESCE(r_name, 'ALL') AS region, COALESCE(n_name, 'ALL') AS nation, "
            "COUNT(*) AS n_orders, ROUND(SUM(o_totalprice), 2) AS total_price "
            "FROM orders JOIN customer ON o_custkey = c_custkey "
            "JOIN nation ON c_nationkey = n_nationkey "
            "JOIN region ON n_regionkey = r_regionkey "
            "GROUP BY ROLLUP (r_name, n_name)"
        ),
        "top_customer_per_nation": (
            "WITH spend AS (SELECT o_custkey, ROUND(SUM(o_totalprice), 2) AS spend "
            "FROM orders GROUP BY o_custkey), ranked AS ("
            "SELECT c_nationkey, c_custkey, spend, ROW_NUMBER() OVER ("
            "PARTITION BY c_nationkey ORDER BY spend DESC, c_custkey) AS rk "
            "FROM spend JOIN customer ON o_custkey = c_custkey) "
            "SELECT c_nationkey, c_custkey, spend FROM ranked WHERE rk = 1"
        ),
        "events_window_counts": (
            "SELECT CAST(date_trunc('hour', ts) AS VARCHAR) AS hour_start, event_type, "
            "COUNT(*) AS cnt FROM events GROUP BY 1, 2"
        ),
        "streaming_stateful": (
            "SELECT CAST(user_id AS VARCHAR) AS user_id, "
            "COUNT(DISTINCT event_type) AS exact_distinct, TRUE AS within_bound "
            "FROM events GROUP BY 1"
        ),
        "streaming_incremental": (
            "SELECT COUNT(*) AS n_events, "
            "COUNT(DISTINCT CAST(user_id AS VARCHAR)) AS exact_distinct_users, "
            "TRUE AS hll_within_bound, TRUE AS cms_never_under FROM events"
        ),
        "streaming_sharded": (
            "SELECT DISTINCT CAST(user_id AS VARCHAR) AS key FROM events"
        ),
        "streaming_windowed": (
            "SELECT CAST(date_trunc('hour', ts) AS VARCHAR) AS hour_start, "
            "COUNT(DISTINCT user_id) AS exact_distinct, TRUE AS within_bound "
            "FROM events GROUP BY 1"
        ),
        "hash_sample": (
            # IS NOT NULL mirrors hash_sample's null-id exclusion
            # (md5(NULL) sorts nulls-first in Spark, nulls-last here —
            # the filter is what keeps both engines exact)
            "SELECT doc_id FROM documents WHERE doc_id IS NOT NULL "
            "ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id LIMIT 100"
        ),
        "stratified_sample": (
            "SELECT CAST(source AS VARCHAR) AS source, doc_id FROM documents "
            "WHERE doc_id IS NOT NULL "
            "QUALIFY row_number() OVER (PARTITION BY source "
            "ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) <= 5"
        ),
        "hll_set_ops": (
            "WITH a AS (SELECT DISTINCT o_custkey FROM orders "
            "WHERE o_orderpriority = '1-URGENT'), "
            "b AS (SELECT DISTINCT o_custkey FROM orders "
            "WHERE o_orderpriority = '2-HIGH') "
            "SELECT (SELECT COUNT(*) FROM a) AS exact_a, "
            "(SELECT COUNT(*) FROM b) AS exact_b, "
            "(SELECT COUNT(*) FROM (SELECT * FROM a UNION SELECT * FROM b)) "
            "AS exact_union, "
            "(SELECT COUNT(*) FROM (SELECT * FROM a INTERSECT SELECT * FROM b)) "
            "AS exact_intersection, "
            "TRUE AS union_within_bound, TRUE AS intersection_within_bound"
        ),
        "sharded_bloom_membership": (
            "SELECT DISTINCT CAST(c_custkey AS VARCHAR) AS key FROM customer"
        ),
        "source_similarity": (
            "WITH raw AS (SELECT CAST(source AS VARCHAR) AS source, "
            "unnest(regexp_extract_all(coalesce(text,''), '\\S+')) AS t "
            "FROM documents), "
            "tok AS (SELECT DISTINCT source, t FROM raw), "
            "sizes AS (SELECT source, COUNT(*) AS n FROM tok GROUP BY source), "
            "i AS (SELECT a.source AS source_a, b.source AS source_b, "
            "COUNT(*) AS inter FROM tok a JOIN tok b "
            "ON a.t = b.t AND a.source < b.source GROUP BY 1, 2) "
            "SELECT i.source_a, i.source_b, i.inter, sa.n AS na, sb.n AS nb, "
            "CAST(i.inter AS DOUBLE) / (sa.n + sb.n - i.inter) AS jaccard, "
            "TRUE AS kmv_within_bound "
            "FROM i JOIN sizes sa ON sa.source = i.source_a "
            "JOIN sizes sb ON sb.source = i.source_b"
        ),
        "kmv_set_ops": (
            "WITH a AS (SELECT DISTINCT o_custkey FROM orders "
            "WHERE o_orderpriority = '1-URGENT'), "
            "b AS (SELECT DISTINCT o_custkey FROM orders "
            "WHERE o_orderpriority = '2-HIGH') "
            "SELECT (SELECT COUNT(*) FROM a) AS exact_a, "
            "(SELECT COUNT(*) FROM b) AS exact_b, "
            "(SELECT COUNT(*) FROM (SELECT * FROM a UNION SELECT * FROM b)) "
            "AS exact_union, "
            "(SELECT COUNT(*) FROM (SELECT * FROM a INTERSECT SELECT * FROM b)) "
            "AS exact_intersection, "
            "TRUE AS union_within_bound, TRUE AS intersection_within_bound, "
            "TRUE AS jaccard_within_bound"
        ),
        "sessionization": (
            "WITH g AS (SELECT user_id, CASE WHEN lag(epoch(ts)) OVER w IS NULL "
            "OR epoch(ts) - lag(epoch(ts)) OVER w > 1800 THEN 1 ELSE 0 END AS new_s "
            "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)) "
            "SELECT user_id, CAST(SUM(new_s) AS BIGINT) AS n_sessions FROM g GROUP BY user_id"
        ),
        "dedup_exact": (
            f"{DERIVED_DOCS_CTE} SELECT MIN(doc_id) AS doc_id FROM derived GROUP BY text"
        ),
        "dedup_exact_hash": (
            f"{DERIVED_DOCS_CTE} SELECT MIN(doc_id) AS doc_id FROM derived GROUP BY text"
        ),
        "minhash_identical": (
            f"{DERIVED_DOCS_CTE} "
            "SELECT a.doc_id AS id_a, b.doc_id AS id_b FROM derived a "
            "JOIN derived b ON a.text = b.text AND a.doc_id < b.doc_id"
        ),
        "minhash_near_dups": (
            f"{DERIVED_DOCS_CTE} "
            "SELECT a.doc_id AS id_a, b.doc_id AS id_b FROM derived a "
            f"JOIN derived b ON a.doc_id < b.doc_id AND b.text = a.text || ' {NEAR_SUFFIX}'"
        ),
        "dedup_components": (
            DERIVED_DOCS_CTE.replace("WITH ", "WITH RECURSIVE ", 1)
            + ", pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b "
            "FROM derived a JOIN derived b ON a.doc_id < b.doc_id AND "
            f"(a.text = b.text OR b.text = a.text || ' {NEAR_SUFFIX}' "
            "OR b.text = a.text || ' ' || a.text)), "
            "edges AS (SELECT id_a AS a, id_b AS b FROM pairs "
            "UNION SELECT id_b, id_a FROM pairs), "
            "reach(id, r) AS (SELECT doc_id, doc_id FROM derived "
            "UNION SELECT e.b, reach.r FROM reach JOIN edges e ON e.a = reach.id) "
            "SELECT id AS doc_id, MIN(r) AS component FROM reach GROUP BY id"
        ),
        "dedup_canonical": (
            DERIVED_DOCS_CTE.replace("WITH ", "WITH RECURSIVE ", 1)
            + ", pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b "
            "FROM derived a JOIN derived b ON a.doc_id < b.doc_id AND "
            f"(a.text = b.text OR b.text = a.text || ' {NEAR_SUFFIX}' "
            "OR b.text = a.text || ' ' || a.text)), "
            "edges AS (SELECT id_a AS a, id_b AS b FROM pairs "
            "UNION SELECT id_b, id_a FROM pairs), "
            "reach(id, r) AS (SELECT doc_id, doc_id FROM derived "
            "UNION SELECT e.b, reach.r FROM reach JOIN edges e ON e.a = reach.id) "
            "SELECT id AS doc_id FROM reach GROUP BY id HAVING MIN(r) = id"
        ),
        "ngram_jaccard": (
            f"{DERIVED_DOCS_CTE}, words AS ("
            "SELECT doc_id, string_split(text, ' ') AS w FROM derived), "
            "grams0 AS (SELECT DISTINCT doc_id, gram FROM ("
            "SELECT doc_id, unnest(list_transform(range(1, greatest(len(w) - 1, 1)), "
            "i -> concat_ws(' ', w[i], w[i+1], w[i+2]))) AS gram FROM words)), "
            # mirror of max_gram_df=10000 in ngram_jaccard_pairs: hot grams
            # leave the gram universe before sizes AND the self-join
            "grams AS (SELECT doc_id, gram FROM grams0 WHERE gram IN ("
            "SELECT gram FROM grams0 GROUP BY gram HAVING COUNT(*) <= 10000)), "
            "sizes AS (SELECT doc_id, COUNT(*) AS n_grams FROM grams GROUP BY doc_id), "
            "inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter "
            "FROM grams a JOIN grams b ON a.gram = b.gram AND a.doc_id < b.doc_id "
            "GROUP BY 1, 2) "
            "SELECT id_a, id_b, inter, sa.n_grams AS na, sb.n_grams AS nb "
            "FROM inter JOIN sizes sa ON id_a = sa.doc_id "
            "JOIN sizes sb ON id_b = sb.doc_id "
            "WHERE inter / (sa.n_grams + sb.n_grams - inter) >= 0.8"
        ),
        "token_count": f"SELECT doc_id, {tok} AS n_tokens FROM documents",
        "sql_interface": (
            "SELECT o_orderpriority, COUNT(DISTINCT o_orderkey) AS n_orders, "
            "ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue "
            "FROM orders JOIN lineitem ON o_orderkey = l_orderkey "
            "GROUP BY o_orderpriority"
        ),
        "lang_id": f"SELECT doc_id, {lang_case} AS lang_pred FROM documents",
        "quality_score": (
            "SELECT doc_id, length(coalesce(text,'')) AS n_chars_q, "
            f"{tok} AS n_tokens, "
            "length(coalesce(text,'')) - length(regexp_replace(coalesce(text,''), "
            "'[^\\w\\s]', '', 'g')) AS n_punct, "
            f"{stop_terms} AS n_stopwords FROM documents"
        ),
        "corpus_prepare": (
            f"{DERIVED_DOCS_CTE}, scrubbed AS (SELECT doc_id, "
            "regexp_replace(regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', "
            "'<EMAIL>', 'g'), '\\d{3}-\\d{3}-\\d{4}', '<PHONE>', 'g') AS text FROM derived), "
            "deduped AS (SELECT MIN(doc_id) AS doc_id, text FROM scrubbed GROUP BY text), "
            "grams AS (SELECT doc_id, len(regexp_extract_all(text, '\\S+')) AS n_tok, "
            "list_transform(range(1, greatest(len(string_split(text, ' ')) - 1, 1)), "
            "i -> concat_ws(' ', string_split(text, ' ')[i], string_split(text, ' ')[i+1], "
            "string_split(text, ' ')[i+2])) AS g FROM deduped) "
            "SELECT doc_id, n_tok AS n_tokens, "
            "CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'cccc' THEN 'train' "
            "WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'e666' THEN 'val' "
            "ELSE 'test' END AS split "
            "FROM grams WHERE n_tok >= 10 AND len(list_distinct(g)) >= len(g) * 0.6"
        ),
        "pii_scrub": (
            "WITH injected AS (SELECT doc_id, CASE "
            "WHEN doc_id % 6 = 0 THEN text || ' reach me at user' || CAST(doc_id AS VARCHAR) || '@example.com' "
            "WHEN doc_id % 13 = 0 THEN text || ' call 555-123-4567 now' "
            "ELSE text END AS text FROM documents), "
            "scrubbed AS (SELECT doc_id, "
            "len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS n_emails, "
            "len(regexp_extract_all(text, '\\d{3}-\\d{3}-\\d{4}')) AS n_phones, "
            "regexp_replace(regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'), "
            "'\\d{3}-\\d{3}-\\d{4}', '<PHONE>', 'g') AS text FROM injected) "
            "SELECT doc_id, n_emails, n_phones, "
            "len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) + "
            "len(regexp_extract_all(text, '\\d{3}-\\d{3}-\\d{4}')) AS n_pii_after_scrub "
            "FROM scrubbed"
        ),
        "doc_split": (
            "SELECT doc_id, CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'cccc' "
            "THEN 'train' WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'e666' "
            "THEN 'val' ELSE 'test' END AS split FROM documents"
        ),
        "repetition_ratio": (
            f"{DERIVED_DOCS_CTE}, words AS ("
            "SELECT doc_id, string_split(text, ' ') AS w FROM derived), "
            # range(1, greatest(len-1, 1)) yields max(len-2, 0) gram
            # starts: EMPTY for <3-word docs (mirrors the Spark-side
            # zero-grams-for-short-text fix; the old floor of 2 forced
            # one bogus short gram)
            "grams AS (SELECT doc_id, list_transform(range(1, greatest(len(w) - 1, 1)), "
            "i -> concat_ws(' ', w[i], w[i+1], w[i+2])) AS g FROM words) "
            "SELECT doc_id, len(g) AS total_grams, "
            "len(list_distinct(g)) AS distinct_grams FROM grams"
        ),
        "top_tokens": (
            "SELECT token, COUNT(*) AS cnt FROM (SELECT unnest(regexp_split_to_array("
            "trim(text), '\\s+')) AS token FROM documents WHERE trim(coalesce(text,'')) <> '') "
            "WHERE token <> '' GROUP BY token ORDER BY cnt DESC, token LIMIT 20"
        ),
        "embedding_knn": (
            "SELECT vec_id AS id_a, vec_id + 1000000 AS id_b "
            "FROM embeddings WHERE vec_id % 5 = 0"
        ),
        "simhash_buckets": (
            f"{DERIVED_DOCS_CTE} SELECT COUNT(*) AS n_docs, "
            "TRUE AS identical_text_same_sig, TRUE AS doubled_text_same_sig FROM derived"
        ),
        "doc_fingerprint": (
            f"{DERIVED_DOCS_CTE} SELECT COUNT(*) AS n_docs, TRUE AS deterministic, "
            "TRUE AS copies_equal FROM derived"
        ),
        "warc_source": (
            "SELECT 128 AS n_pages, TRUE AS all_records_surfaced, "
            "TRUE AS bytes_text_lang_roundtrip"
        ),
        "multimodal_decode": (
            "SELECT 64 AS n_media, TRUE AS deterministic, TRUE AS shapes_valid, "
            "TRUE AS features_normalized, TRUE AS images_single_frame"
        ),
        # real-codec round trip: the oracle recomputes the id-derived WAV
        # geometry that synth_audio_table encoded and the stdlib-wave
        # decoder must have recovered exactly
        "multimodal_audio_real": (
            "SELECT doc_id, CAST(1 + doc_id % 2 AS BIGINT) AS channels, "
            "CAST(8000 + (doc_id % 4) * 2000 AS BIGINT) AS sample_rate, "
            "CAST(200 + doc_id % 50 AS BIGINT) AS n_frames "
            "FROM documents WHERE doc_id % 101 = 0"
        ),
        # exact-substring mirror: the injected construction makes every
        # span a constant (base 30 id-salted words, 25-word shared
        # passage, window 10 -> start 30, end 54, 16 windows) on the
        # even-id half of the %11 selection
        "repeated_passages": (
            "SELECT doc_id, CAST(30 AS BIGINT) AS start_word, "
            "CAST(54 AS BIGINT) AS end_word, CAST(16 AS BIGINT) AS n_windows "
            "FROM documents WHERE doc_id % 11 = 0 AND doc_id % 2 = 0"
        ),
        # real image-codec round trip: the oracle recomputes the
        # id-derived PNG geometry synth_image_table encoded and the
        # stdlib zlib+struct decoder must have recovered exactly; a
        # constant-pixel image one-hots the 8-bucket histogram at
        # pixel >> 5, so the 1.0 position pins the feature path too
        "multimodal_image_real": (
            "SELECT doc_id, CAST(8 + doc_id % 24 AS BIGINT) AS width, "
            "CAST(6 + doc_id % 17 AS BIGINT) AS height, "
            "CAST(1 AS BIGINT) AS n_frames, "
            "CAST(((3 + doc_id * 37) % 256) // 32 AS BIGINT) AS feature_bucket "
            "FROM documents WHERE doc_id % 101 = 0"
        ),
        # frame_sample mirror: Spark emits sequence(0, n_frames-1, 10)
        # (inclusive bound) = DuckDB range(0, n_frames, 10) (exclusive)
        "multimodal_frame_sample": (
            "SELECT doc_id, CAST(unnest(range(0, 200 + doc_id % 50, 10)) AS BIGINT) "
            "AS frame_idx FROM documents WHERE doc_id % 101 = 0"
        ),
        "ann_index": (
            "SELECT 16 AS n_cells, 4 AS nprobe, TRUE AS partition_pruned, "
            "TRUE AS full_probe_equals_bruteforce, TRUE AS neardup_top1_found"
        ),
        "lsh_index": (
            "SELECT 8 AS bits, 2 AS max_hamming, TRUE AS partition_pruned, "
            "TRUE AS full_probe_equals_bruteforce, TRUE AS neardup_top1_found"
        ),
        "embedding_knn_recall": (
            "SELECT COUNT(*) AS n_queries, TRUE AS recall_at_1_ge_09 "
            "FROM embeddings WHERE vec_id % 5 = 0"
        ),
        "ann_lsh_recall": (
            "SELECT 5 AS n_queries, 5 AS origin_in_top10, TRUE AS recall_gate_passed"
        ),
        "ann_ivf_recall": (
            "SELECT 5 AS n_queries, 5 AS origin_in_top10, TRUE AS recall_gate_passed"
        ),
        "ann_cosine_topk": (
            "WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0) "
            "SELECT vec_id, ROUND(list_dot_product(e.embedding::DOUBLE[], q.qv) / "
            "(sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) * "
            "sqrt(list_dot_product(q.qv, q.qv))), 6) AS cosine_sim "
            "FROM embeddings e, q ORDER BY cosine_sim DESC, vec_id LIMIT 10"
        ),
    }
