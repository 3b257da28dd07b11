"""Driver-contract smoke tests for __spark_entry__.py: entry() runs at
sf0.001 with a stable schema; queries()/oracle_sql() keys are
consistent; a fast subset of queries returns rows at sf0.001."""

from __future__ import annotations

import pytest

import __spark_entry__ as entry_mod

SF = "/root/testdata/sf0.001"
SF001 = "/root/testdata/sf0.01"


def test_registry_shape():
    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    assert len(qs) >= 20
    # every oracle key must have a query
    assert set(oracles) <= set(qs)
    # round 3: every registered query is oracle-backed (the two former
    # rows-only recall demos are now gated verdicts with exact oracles)
    assert set(qs) == set(oracles)
    # the driver's correctness artifact covers the FIRST 50 names.
    # Round-5 rotation (see the queries() comment): (a) one-plus
    # in-window query per round-5-changed code path, (b) ALL 18 names
    # whose last driver-green row was round 3 (the round-4 tail) rotate
    # IN so no query goes two full rounds unchecked; the tail holds
    # only CORRECTNESS_r04-green names whose round-5 module deltas are
    # zero or covered by a sibling window query.
    first50 = list(qs)[:50]
    for name in (
        # (a) round-5-changed paths
        "heavy_hitters",              # udfs SpaceSaving candidate floor
        "streaming_incremental",      # legacy-lineage fold
        "minhash_identical", "minhash_near_dups", "dedup_components",
        "sharded_membership",         # collect-once probe index
        "sharded_delete", "sharded_bloom_membership",
        "web_sketch_family",          # byte-aware merge gate (hint threaded)
        "cuckoo_membership", "hll_distinct_check", "cms_frequency_check",
        "multimodal_image_real",      # new: stdlib PNG real-codec path
        "repeated_passages",          # new: exact-substring dedup
        # multimodal.py's decode path changed (PNG attempt before stub)
        "multimodal_decode", "multimodal_frame_sample",
        "multimodal_audio_real",
        # (b) last driver-green in round 3 (the whole round-4 tail)
        "cuckoo_count", "bloom_membership", "stratified_sample",
        "hll_set_ops", "kmv_set_ops", "source_similarity",
        "streaming_windowed", "dedup_exact", "dedup_canonical",
        "quality_score", "top_tokens_per_source", "pii_scrub",
        "doc_fingerprint", "ann_ivf_recall", "simhash_buckets",
        "hash_indices_contract",
    ):
        assert name in first50, name
    # tail names must all have a round-4 driver-green row
    r04_green = {
        "ann_cosine_topk", "sessionization",
        "token_count", "word_token_count", "embedding_knn",
        "embedding_knn_recall", "hash_sample",
        "region_nation_rollup", "top_customer_per_nation",
        "sql_interface", "streaming_stateful", "streaming_sharded",
        "doc_split", "repetition_ratio", "ann_lsh_recall", "ann_index",
        "lsh_index", "warc_source",
        "membership_anti_join", "shipping_priority",
    }
    assert set(list(qs)[50:]) <= r04_green


def test_entry_runs(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.n_docs > 0
    assert r.no_false_negatives
    assert abs(r.hll_estimate - r.distinct_text) / r.distinct_text < 0.1


@pytest.mark.parametrize(
    "name",
    [
        "web_sketch_family",
        "cuckoo_membership",
        "bloom_membership",
        "pricing_summary",
        "dedup_exact",
        "token_count",
        "ann_cosine_topk",
    ],
)
def test_query_returns_rows(spark, name):
    fn = entry_mod.queries()[name]
    assert fn(spark, SF).count() > 0


def test_sharded_index_cache_evicts_oldest(spark, monkeypatch):
    """A full sharded-index cache must evict its OLDEST entry. Evicting
    the newest destroyed the broadcast behind the lazy frame the
    previous call had just returned."""

    class StubIndex:
        destroyed = False

        def destroy(self):
            self.destroyed = True

    stubs = [StubIndex() for _ in range(4)]
    cache = {("older-app", i): s for i, s in enumerate(stubs)}
    monkeypatch.setattr(entry_mod, "_SHARDED_IDX_CACHE", cache)
    out = entry_mod.q_sharded_membership(spark, SF)
    try:
        assert stubs[0].destroyed
        assert not any(s.destroyed for s in stubs[1:])
        assert len(cache) == 4 and ("older-app", 0) not in cache
        assert out.where("member").count() > 0
    finally:
        cache[(spark.sparkContext.applicationId, SF)].destroy()


def test_cuckoo_delete_driver_collect_guard(spark, monkeypatch):
    """cuckoo_delete collects its delete set to the driver: past the cap
    it must refuse loudly and name the executor-side delete_sharded,
    not pull an unbounded key set into driver memory."""
    from pyspark.sql import functions as F

    n = (
        spark.read.parquet(f"{SF}/lineitem.parquet")
        .where("l_returnflag = 'R'")
        .select(F.col("l_orderkey").cast("string"))
        .distinct()
        .count()
    )
    assert n > 1
    monkeypatch.setattr(entry_mod, "_DRIVER_DELETE_KEYS_MAX", n)
    assert entry_mod.q_cuckoo_delete(spark, SF).count() > 0  # at the cap: runs
    monkeypatch.setattr(entry_mod, "_DRIVER_DELETE_KEYS_MAX", n - 1)
    with pytest.raises(ValueError, match="delete_sharded"):
        entry_mod.q_cuckoo_delete(spark, SF)


@pytest.mark.parametrize(
    "name", ["hll_distinct_check", "cms_frequency_check", "quantile_sketches_check"]
)
def test_sketch_check_plan_shape(spark, monkeypatch, name):
    """Each sketch check builds in one scan with no shuffle, and at
    sf0.01 its merge takes gather's direct branch (one collect of the
    build rows, no executor-level fold)."""
    from sketchlib.spark import merge

    built = []
    direct = merge._direct_collect

    def spy(frame):
        built.append(frame._jdf.queryExecution().executedPlan().toString())
        return direct(frame)

    def no_tree(*a, **k):
        raise AssertionError("merge left gather's direct branch")

    monkeypatch.setattr(merge, "_direct_collect", spy)
    monkeypatch.setattr(merge, "fold_groups_rdd", no_tree)
    assert entry_mod.queries()[name](spark, SF001).count() > 0
    assert len(built) == 1, built  # one build frame, merged directly
    plan = built[0]
    assert plan.count("FileScan parquet") == 1, plan
    assert "Exchange" not in plan, plan
    assert plan.count("MapInArrow") == 1, plan
