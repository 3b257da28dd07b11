"""Spark-layer tests: per-partition build + tree merge == single build,
salting, checkpoint/resume lineage, sharded build/probe, broadcast UDFs,
and the end-to-end text invariant through Arrow (FIXTURES.md §4).
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from sketchlib import CuckooConfig, CuckooFilter
from sketchlib.sketches import BloomFilter, CountMinSketch, HyperLogLog, KLLSketch
from sketchlib.spark import (
    build_sketches,
    cms_estimate_udf,
    membership_udf,
    salted_repartition,
    tree_merge,
    tree_merge_df,
)
from sketchlib.spark.salt import partition_sizes, salt_grouped


def _cfg(capacity=8192):
    return CuckooConfig(capacity=capacity, fingerprint_bits=16, hash_strategy="xx")


# --------------------------------------------------- build + merge == single


@pytest.mark.parametrize("n_parts", [1, 2, 8])
def test_partition_build_merge_equals_single(spark, docs_df, n_parts):
    urls = docs_df.select(F.col("url").alias("key")).repartition(n_parts)
    merged = tree_merge(build_sketches(urls, "key", lambda: CuckooFilter(_cfg())))
    local = CuckooFilter(_cfg())
    url_list = [r.key for r in docs_df.select(F.col("url").alias("key")).collect()]
    local.insert_batch(url_list)
    assert merged.count() == local.count() == 1000
    assert merged.lookup_batch(url_list).all()
    assert merged.insert_failures == 0


def test_hll_distributed_equals_local_exact_state(spark, docs_df):
    urls = docs_df.select(F.col("url").alias("key")).repartition(8)
    merged = tree_merge(build_sketches(urls, "key", lambda: HyperLogLog(12)))
    local = HyperLogLog(12)
    local.update([r.url for r in docs_df.select("url").collect()])
    # register-max merge: distributed state is bit-identical to local
    assert merged.to_bytes() == local.to_bytes()
    assert abs(merged.estimate() - 1000) / 1000 <= 3 * merged.std_error()


def test_hll_matches_spark_native_approx(spark, docs_df):
    # cross-check against Spark's own HLL++ (approx_count_distinct)
    urls = docs_df.select(F.col("url").alias("key"))
    merged = tree_merge(build_sketches(urls.repartition(4), "key", lambda: HyperLogLog(14)))
    native = docs_df.agg(F.approx_count_distinct("url", 0.01)).first()[0]
    assert abs(merged.estimate() - native) / native < 0.05


def test_tree_merge_df_fanout(spark, docs_df):
    urls = docs_df.select(F.col("url").alias("key")).repartition(8)
    sketch_df = build_sketches(urls, "key", lambda: HyperLogLog(12))
    level1 = tree_merge_df(sketch_df, fanout=4)
    rows = level1.collect()
    assert 0 < len(rows) <= 4
    assert sum(r.n_rows for r in rows) == 1000


def test_kll_numeric_build(spark, docs_df):
    lens = docs_df.select(F.length("text").cast("double").alias("v"))
    merged = tree_merge(build_sketches(lens.repartition(4), "v", lambda: KLLSketch(200), numeric=True))
    exact = sorted(r.v for r in lens.collect())
    est = float(np.atleast_1d(merged.quantile(0.5))[0])
    rank = np.searchsorted(exact, est, side="right") / len(exact)
    assert abs(rank - 0.5) <= 0.05


# ------------------------------------------------------------ composite build


def test_web_sketch_composite_build(spark, docs_df):
    """One-pass build of the whole sketch family equals per-kind local
    builds (same states where merge is exact)."""
    from sketchlib.sketches import CountMinSketch, HyperLogLog, KLLSketch
    from sketchlib.spark.webbuild import build_web_sketches, merge_web_sketches

    cfg = _cfg(4096)
    merged = merge_web_sketches(
        build_web_sketches(
            docs_df.repartition(4),
            {
                "cuckoo": lambda: CuckooFilter(cfg),
                "hll": lambda: HyperLogLog(12),
                "cms": lambda: CountMinSketch(width=1 << 14, depth=4),
                "kll": lambda: KLLSketch(200),
            },
        )
    )
    rows = docs_df.select("url", "text").collect()
    urls = [r.url for r in rows]
    # cuckoo: every url a member, exact count
    assert merged["cuckoo"].count() == 1000
    assert merged["cuckoo"].lookup_batch(urls).all()
    # hll: exact-state equality with a local build
    local_hll = HyperLogLog(12)
    local_hll.update(urls)
    assert merged["hll"].to_bytes() == local_hll.to_bytes()
    # cms: exact-state equality with a local token build
    local_cms = CountMinSketch(width=1 << 14, depth=4)
    all_tokens = [t for r in rows for t in r.text.split()]
    local_cms.update(all_tokens)
    assert (merged["cms"].counts == local_cms.counts).all()
    assert merged["cms"].total == local_cms.total
    # kll saw every page size
    assert merged["kll"].n == 1000


# --------------------------------------------------------------- broadcast UDFs


def test_membership_udf_no_false_negatives(spark, docs_df):
    urls = docs_df.select(F.col("url").alias("key"))
    merged = tree_merge(build_sketches(urls.repartition(4), "key", lambda: CuckooFilter(_cfg())))
    member = membership_udf(spark, merged)
    hits = urls.withColumn("m", member("key")).where("m").count()
    assert hits == 1000


def test_membership_udf_fpr_on_absent(spark, docs_df):
    urls = docs_df.select(F.col("url").alias("key"))
    merged = tree_merge(build_sketches(urls.repartition(4), "key", lambda: CuckooFilter(_cfg())))
    member = membership_udf(spark, merged)
    absent = spark.range(20000).select(F.concat(F.lit("absent-"), F.col("id")).alias("key"))
    fp = absent.withColumn("m", member("key")).where("m").count()
    # eps = 2*4/2^16 ~ 0.0122%; 20k probes -> expect ~2.4, allow 5x
    assert fp <= 13


def test_bloom_membership_udf(spark, docs_df):
    urls = docs_df.select(F.col("url").alias("key"))
    merged = tree_merge(
        build_sketches(urls.repartition(4), "key", lambda: BloomFilter(5000, 0.01))
    )
    member = membership_udf(spark, merged)
    assert urls.withColumn("m", member("key")).where("m").count() == 1000


def test_cms_estimate_udf_never_under(spark, docs_df):
    langs = docs_df.select(F.col("lang").alias("key"))
    merged = tree_merge(
        build_sketches(langs.repartition(4), "key", lambda: CountMinSketch(width=2048, depth=5))
    )
    est = cms_estimate_udf(spark, merged)
    exact = langs.groupBy("key").agg(F.count("*").alias("c")).withColumn("e", est("key"))
    bad = exact.where(F.col("e") < F.col("c")).count()
    assert bad == 0


# ------------------------------------------------------------------- salting


def test_salted_repartition_uniform(spark, docs_df):
    # Zipf hosts are skewed; salting by url hash must even partitions out
    host = F.regexp_extract("url", r"https://([^/]+)/", 1)
    by_host = docs_df.select(F.col("url"), host.alias("host")).repartition(8, "host")
    sizes_skewed = partition_sizes(by_host)
    salted = salted_repartition(docs_df.select("url"), 8, row_key="url")
    sizes_salted = partition_sizes(salted)
    n = 1000
    assert max(sizes_salted) < n / 8 * 1.5
    assert max(sizes_salted) <= max(sizes_skewed)


def test_salt_grouped_bounds_groups(spark, docs_df):
    host = F.regexp_extract("url", r"https://([^/]+)/", 1)
    d = docs_df.select("url", host.alias("host"))
    top_sz = d.groupBy("host").count().agg(F.max("count")).first()[0]
    salted = salt_grouped(d, "host", salt_buckets=8, row_key="url")
    top_salted = salted.groupBy("host", "_salt").count().agg(F.max("count")).first()[0]
    assert top_salted <= top_sz / 8 * 2.5


# -------------------------------------------------------------- grouped/salted


def test_grouped_salted_equals_unsalted(spark, docs_df):
    """Salted two-stage grouped build == per-group local build (exact
    HLL register states), on the Zipf-skewed host column."""
    from sketchlib.serde import loads
    from sketchlib.sketches import HyperLogLog
    from sketchlib.spark.grouped import build_grouped_sketches

    host = F.regexp_extract("url", r"https://([^/]+)/", 1)
    d = docs_df.select(host.alias("host"), "url")
    rows = build_grouped_sketches(
        d, "host", "url", lambda: HyperLogLog(12), salt_buckets=4
    ).collect()
    got = {r.group_key: loads(r.state).to_bytes() for r in rows}
    # local oracle per host
    local = {}
    for r in d.collect():
        local.setdefault(r.host, []).append(r.url)
    assert set(got) == set(local)
    for h, urls in local.items():
        sk = HyperLogLog(12)
        sk.update(urls)
        assert got[h] == sk.to_bytes(), h


def test_grouped_estimates_within_bound(spark, docs_df):
    from sketchlib.sketches import HyperLogLog
    from sketchlib.spark.grouped import build_grouped_sketches, grouped_estimates

    host = F.regexp_extract("url", r"https://([^/]+)/", 1)
    d = docs_df.select(host.alias("host"), "url")
    est = grouped_estimates(
        build_grouped_sketches(d, "host", "url", lambda: HyperLogLog(14))
    ).collect()
    exact = {
        r.host: r.c
        for r in d.groupBy("host").agg(F.countDistinct("url").alias("c")).collect()
    }
    for r in est:
        assert abs(r.estimate - exact[r.group_key]) / max(exact[r.group_key], 1) <= 0.1


def test_grouped_build_distinct_row_key(spark, docs_df):
    """row_key variant: when key_col values repeat heavily inside a
    group, salting on the value sends every copy of a hot value to one
    salt bucket; a row-unique row_key spreads them. The row_key column
    is projected through for the salt hash only — results must be
    byte-identical to the value-salted build (associative merges) and
    the helper column must not leak into the output schema."""
    from sketchlib.serde import loads
    from sketchlib.sketches import HyperLogLog
    from sketchlib.spark.grouped import build_grouped_sketches

    # lang takes a handful of distinct values per group (maximally
    # repeated key_col); url is row-unique
    d = docs_df.select(
        (F.xxhash64("url") % 2).cast("string").alias("grp"),
        F.col("lang").alias("val"),
        "url",
    )
    by_val = build_grouped_sketches(
        d, "grp", "val", lambda: HyperLogLog(12), salt_buckets=4
    )
    by_url = build_grouped_sketches(
        d, "grp", "val", lambda: HyperLogLog(12), salt_buckets=4, row_key="url"
    )
    got_val = {r.group_key: (r.n_rows, loads(r.state).to_bytes()) for r in by_val.collect()}
    got_url = {r.group_key: (r.n_rows, loads(r.state).to_bytes()) for r in by_url.collect()}
    assert got_val == got_url
    assert set(by_url.columns) == {"group_key", "n_rows", "state"}


# ------------------------------------------------------------ checkpoint/resume


def test_checkpoint_resume(spark, docs_df, tmp_path):
    ckpt = str(tmp_path / "ckpt")
    urls = docs_df.select(F.col("url").alias("key")).repartition(4)
    df1 = build_sketches(urls, "key", lambda: HyperLogLog(12), checkpoint_dir=ckpt)
    merged1 = tree_merge(df1)
    from sketchlib.spark.checkpoint import completed_partitions

    done = completed_partitions(ckpt)
    assert len(done) == 4
    # resume: identical result without recompute (stored rows re-emitted)
    df2 = build_sketches(urls, "key", lambda: HyperLogLog(12), checkpoint_dir=ckpt)
    merged2 = tree_merge(df2)
    assert merged1.to_bytes() == merged2.to_bytes()


def test_web_checkpoint_resume_reemits_published_rows(spark, docs_df, tmp_path):
    """build_web_sketches(checkpoint_dir=...) publishes one row group
    per partition; a rerun re-emits those rows byte-identically without
    folding — proven by resuming over DIFFERENT text (same columns and
    partition count), which a re-fold would turn into different
    states."""
    from sketchlib.spark.checkpoint import completed_partitions
    from sketchlib.spark.webbuild import build_web_sketches

    ckpt = str(tmp_path / "web")
    factories = {
        "hll": lambda: HyperLogLog(12),
        "cms": lambda: CountMinSketch(width=1 << 10, depth=4),
        "kll": lambda: KLLSketch(200),
    }
    docs = docs_df.select("url", "text").repartition(4)
    first = sorted(build_web_sketches(docs, factories, checkpoint_dir=ckpt).collect())
    assert completed_partitions(ckpt) == [0, 1, 2, 3]
    other = docs.withColumn("text", F.lit("zzz")).withColumn("url", F.lit("u"))
    again = sorted(build_web_sketches(other, factories, checkpoint_dir=ckpt).collect())
    assert again == first
    assert {r.sketch for r in first} == set(factories)


def test_checkpoint_dir_of_old_row_layout_rejected(spark, docs_df, tmp_path):
    """A dir published by the earlier unnamed 6-column build_sketches
    must be refused on the driver by its fingerprint — re-emitting its
    files would break inside mapInArrow on the 7-column schema."""
    import json

    ckpt = tmp_path / "old"
    ckpt.mkdir()
    (ckpt / "_meta.json").write_text(
        json.dumps(
            {
                "op": "build_sketches",
                "kind": "HyperLogLog",
                "key_col": "key",
                "numeric": False,
                "partitions": 4,
            }
        )
    )
    urls = docs_df.select(F.col("url").alias("key")).repartition(4)
    with pytest.raises(ValueError, match="different build"):
        build_sketches(urls, "key", lambda: HyperLogLog(12), checkpoint_dir=str(ckpt))


def test_web_build_job_checkpoint_matches_fused(spark, docs_parquet, tmp_path):
    """jobs/web_build_job.py: --checkpoint only makes the fused build
    resumable — fixed sketches are byte-identical with and without it,
    and on the resumed rerun."""
    import argparse
    import importlib.util
    import os

    path = os.path.join(os.path.dirname(__file__), "..", "jobs", "web_build_job.py")
    spec = importlib.util.spec_from_file_location("web_build_job", path)
    job = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(job)

    docs = spark.read.parquet(docs_parquet)
    ckpt = str(tmp_path / "ckpt")
    runs = [
        job._build_fixed(docs, argparse.Namespace(cms_width=4096, checkpoint=c))
        for c in (None, ckpt, ckpt)
    ]
    for name in ("hll", "cms", "kll"):
        assert len({r[name].to_bytes() for r in runs}) == 1, name


def test_lineage_manifest(tmp_path):
    from sketchlib.spark.checkpoint import mark_stage_done, stage_done

    d = str(tmp_path / "lineage")
    assert not stage_done(d, "build")
    mark_stage_done(d, "build", {"rows": 123})
    assert stage_done(d, "build")
    assert not stage_done(d, "merge")


# ------------------------------------------------------------------- sharded


def test_sharded_build_probe(spark, docs_df):
    from sketchlib.spark.shard import build_sharded, probe_sharded

    keys = docs_df.select(F.col("url").alias("key"))
    shards = build_sharded(keys, "key", num_shards=4, cfg=_cfg())
    shard_rows = shards.collect()
    assert {r.shard_id for r in shard_rows} == {0, 1, 2, 3}
    assert sum(r.n_rows for r in shard_rows) == 1000
    assert sum(r.fail_count for r in shard_rows) == 0
    probed = probe_sharded(keys, "key", shards, num_shards=4)
    assert probed.where("member").count() == 1000
    absent = spark.range(5000).select(F.concat(F.lit("no-"), F.col("id")).alias("key"))
    fp = probe_sharded(absent, "key", shards, num_shards=4).where("member").count()
    assert fp <= 10


def test_bloom_semi_join_exact_and_pruning(spark):
    """Result == plain semi-join exactly (no false negatives); the
    Bloom pre-filter genuinely shrinks the join's probe side to
    ~selectivity + fp_rate of the left input."""
    from pyspark.sql import functions as F

    from sketchlib.sketches import BloomFilter
    from sketchlib.spark import build_sketches, membership_udf, tree_merge
    from sketchlib.spark.udfs import bloom_semi_join

    left = spark.range(20000).select(F.concat(F.lit("k"), "id").alias("key"))
    right = spark.range(0, 20000, 40).select(F.concat(F.lit("k"), "id").alias("key"))  # 2.5%
    got = {r.key for r in bloom_semi_join(left, right, "key", fp_rate=0.001).collect()}
    want = {r.key for r in left.join(right, "key", "left_semi").collect()}
    assert got == want and len(got) == 500
    # measure the pruning the operator's plan relies on
    bloom = tree_merge(
        build_sketches(right.select(F.col("key")), "key", lambda: BloomFilter(capacity=1000, fp_rate=0.001))
    )
    survivors = left.where(membership_udf(spark, bloom)("key")).count()
    assert survivors < 20000 * 0.05  # ≥95% of the probe side pruned
    # empty build side: result is the (empty) exact semi-join, not a crash
    none_match = right.where("key = 'nope'")
    assert bloom_semi_join(left, none_match, "key").count() == 0


def test_cms_heavy_hitters_operator(spark):
    from pyspark.sql import functions as F

    from sketchlib.spark.udfs import cms_heavy_hitters

    rows = (
        [("hot",)] * 500
        + [("warm",)] * 200
        + [("mild",)] * 50
        + [(f"cold{i}",) for i in range(100)]
    )
    df = spark.createDataFrame(rows, "key string").repartition(4)
    hh = cms_heavy_hitters(df, "key", k=3)
    assert [t for t, _ in hh] == ["hot", "warm", "mild"]
    est = dict(hh)
    assert est["hot"] >= 500 and est["warm"] >= 200  # CMS one-sided


def test_read_warc_roundtrip(spark, tmp_path):
    """WARC source: synthetic archive (plain + whole-file gzip) reads
    back the exact pages table — urls, timestamps, html bytes, and the
    byte-identical extracted text — through the binaryFile+mapInPandas
    path; warcinfo records are skipped."""
    from sketchlib.datagen import generate_documents, write_warc
    from sketchlib.spark.warc import read_warc

    n = 80
    ref = generate_documents(n, seed=11)
    write_warc(str(tmp_path / "a.warc"), n, seed=11)
    write_warc(str(tmp_path / "b.warc.gz"), n, seed=11, gzip_compress=True)
    for fname in ("a.warc", "b.warc.gz"):
        df = read_warc(spark, str(tmp_path / fname))
        rows = sorted(df.collect(), key=lambda r: r.url)
        exp = sorted(
            zip(
                ref.column("url").to_pylist(),
                ref.column("html").to_pylist(),
                ref.column("text").to_pylist(),
                ref.column("lang").to_pylist(),
            )
        )
        assert len(rows) == n
        for r, (url, html, text, lang) in zip(rows, exp):
            assert r.url == url
            assert bytes(r.html) == html  # exact payload bytes
            assert r.text == text  # extractor invariant holds via WARC
            assert r.lang == lang
        assert all(r.warc_ts is not None for r in rows)


def test_warc_parser_negative_content_length_terminates(spark):
    """A corrupt/malicious negative Content-Length must not move the
    cursor backward (previously an infinite loop re-yielding the same
    record forever inside the executor)."""
    from sketchlib.spark.warc import iter_warc_records

    rec = (
        b"WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: http://x/\r\n"
        b"Content-Length: -120\r\n\r\npayload\r\n\r\n"
    )
    recs = list(iter_warc_records(rec * 3))
    assert len(recs) <= 6  # terminates; bounded yields


def test_warc_parser_resyncs_on_garbage(spark, tmp_path):
    """Garbage between records and a truncated tail must not kill the
    archive — the parser resyncs to the next WARC/ marker."""
    from sketchlib.datagen import warc_bytes
    from sketchlib.spark.warc import iter_warc_records

    blob = warc_bytes(10, seed=3)
    # inject garbage after the first record and truncate the tail
    first_end = blob.find(b"\r\n\r\nWARC/") + 4
    mangled = blob[:first_end] + b"\x00GARBAGE\x00" + blob[first_end:-25]
    recs = list(iter_warc_records(mangled))
    responses = [h for h, _ in recs if h.get("warc-type") == "response"]
    assert 7 <= len(responses) <= 10  # most records survive, none crash


def test_warc_corrupt_length_mid_archive_resyncs(spark):
    """A corrupt oversized Content-Length MID-archive must skip only
    that record: every later valid record is still surfaced (round-2
    review: the old parser returned immediately, silently discarding
    the rest of the archive)."""
    from sketchlib.datagen import warc_bytes
    from sketchlib.spark.warc import iter_warc_records

    blob = warc_bytes(10, seed=7)
    # corrupt the SECOND record's Content-Length to claim more bytes
    # than the archive holds (mid-archive overrun, records follow)
    second = blob.find(b"WARC/", blob.find(b"\r\n\r\nWARC/") + 4)
    third = blob.find(b"WARC/", second + 5)
    head = blob[second:third]
    import re

    bad = re.sub(rb"Content-Length: \d+", b"Content-Length: 999999999", head, count=1)
    mangled = blob[:second] + bad + blob[third:]
    responses = [
        h for h, _ in iter_warc_records(mangled) if h.get("warc-type") == "response"
    ]
    # ≥7 of the 9 undamaged response records survive (resync may eat the
    # record adjacent to the corrupt region, never the archive's tail)
    assert len(responses) >= 7
    # and the LAST record of the archive is among them
    blob_resps = [
        h for h, _ in iter_warc_records(blob) if h.get("warc-type") == "response"
    ]
    assert responses[-1]["warc-target-uri"] == blob_resps[-1]["warc-target-uri"]


def test_warc_stream_bounded_memory_parse(tmp_path):
    """iter_warc_stream over a gzip archive stream with a tiny chunk
    size yields exactly the records of the in-memory parse — the
    bounded-memory path never sees the whole decompressed archive."""
    import gzip as _gzip

    from sketchlib.datagen import warc_bytes
    from sketchlib.spark.warc import iter_warc_records, iter_warc_stream, open_archive_stream

    blob = warc_bytes(25, seed=9)
    p = tmp_path / "s.warc.gz"
    p.write_bytes(_gzip.compress(blob))
    stream = open_archive_stream(str(p))
    got = list(iter_warc_stream(stream, chunk_size=512))  # force many refills
    stream.close()
    exp = list(iter_warc_records(blob))
    assert len(got) == len(exp)
    for (gh, gp), (eh, ep) in zip(got, exp):
        assert gh == eh and gp == ep


def test_warc_overrun_resync_skips_implausible_marker_in_payload():
    """A corrupt overrunning record whose partial payload contains an
    IMPLAUSIBLE 'WARC/' occurrence (html text, no version line /
    terminated header) followed by a real record: resync must jump to
    the verified real record, not the decoy — a bogus header at the
    decoy could swallow the real record behind a fake Content-Length."""
    import io

    from sketchlib.datagen import warc_bytes
    from sketchlib.spark.warc import iter_warc_records, iter_warc_stream

    blob = warc_bytes(4, seed=21)
    second = blob.find(b"WARC/", blob.find(b"\r\n\r\nWARC/") + 4)
    third = blob.find(b"WARC/", second + 5)
    import re

    corrupt = re.sub(
        rb"Content-Length: \d+", b"Content-Length: 999999999", blob[second:third], count=1
    )
    # decoy: marker-looking text with header-ish content, but no
    # version line terminator pattern ("WARC/x.y\r\n") at the marker
    decoy = b"see WARC/ iso spec Content-Length: 600\r\n\r\n padding"
    mangled = blob[:second] + corrupt + decoy + blob[third:]
    got = [
        h for h, _ in iter_warc_stream(io.BytesIO(mangled), chunk_size=128)
        if h.get("warc-type") == "response"
    ]
    exp = [
        h for h, _ in iter_warc_records(blob) if h.get("warc-type") == "response"
    ]
    # the two records after the corrupt one must both survive
    assert [h["warc-target-uri"] for h in got[-2:]] == [
        h["warc-target-uri"] for h in exp[-2:]
    ]


def test_warc_stream_degenerate_inputs():
    """Empty archives, garbage-only blobs, and EOF mid-marker or
    mid-header all terminate cleanly with zero records."""
    import io

    from sketchlib.spark.warc import iter_warc_stream

    for blob in (b"", b"\x00" * 10000, b"WARC", b"WARC/1.0\r\n"):
        assert list(iter_warc_stream(io.BytesIO(blob), chunk_size=64)) == []


def test_warc_max_record_bytes_guard(tmp_path):
    """A Content-Length above max_record_bytes (hostile header) is
    skipped without buffering it; later records still surface."""
    from sketchlib.datagen import warc_bytes
    from sketchlib.spark.warc import iter_warc_records, iter_warc_stream
    import io
    import re

    blob = warc_bytes(6, seed=13)
    second = blob.find(b"WARC/", blob.find(b"\r\n\r\nWARC/") + 4)
    third = blob.find(b"WARC/", second + 5)
    bad = re.sub(
        rb"Content-Length: \d+",
        b"Content-Length: 99999999999999",
        blob[second:third],
        count=1,
    )
    mangled = blob[:second] + bad + blob[third:]
    got = list(iter_warc_stream(io.BytesIO(mangled), chunk_size=256))
    exp = list(iter_warc_records(blob))
    assert len(got) >= len(exp) - 2  # only the corrupt record (±resync) lost
    assert got[-1][0].get("warc-target-uri") == exp[-1][0].get("warc-target-uri")


def test_read_pages_parquet(spark, docs_parquet):
    from sketchlib.spark.sources import read_pages

    df = read_pages(spark, docs_parquet, fmt="parquet")
    assert df.columns == ["url", "warc_ts", "html", "text", "lang"]
    assert df.count() == 1000


def test_bucketed_join_no_exchange(spark, tmp_path):
    """Same-bucketed tables join without any shuffle Exchange — the
    co-located join path big joins need at 100 TB."""
    from pyspark.sql import functions as F

    from sketchlib.spark.bucketing import bucketed_join, plan_has_exchange, write_bucketed

    o = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet").withColumnRenamed(
        "l_orderkey", "o_orderkey"
    )
    write_bucketed(o, "b_orders", "o_orderkey", 8)
    write_bucketed(li, "b_lineitem", "o_orderkey", 8)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ
    try:
        joined = bucketed_join(spark, "b_orders", "b_lineitem", "o_orderkey")
        assert not plan_has_exchange(
            joined.select("o_orderkey", "o_totalprice", "l_quantity")
        )
        # and the same join on raw parquet DOES shuffle (control)
        raw = o.join(li, "o_orderkey").select("o_orderkey", "o_totalprice", "l_quantity")
        assert plan_has_exchange(raw)
        # result parity
        assert joined.count() == o.join(li, "o_orderkey").count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_delete_sharded(spark, docs_df):
    from pyspark.sql import functions as F

    from sketchlib.spark.shard import build_sharded, delete_sharded, probe_sharded

    keys = docs_df.select(F.col("url").alias("key"))
    shards = build_sharded(keys, "key", num_shards=4, cfg=_cfg())
    drop = keys.where(F.pmod(F.xxhash64("key"), F.lit(3)) == 0)
    keep = keys.subtract(drop)
    updated = delete_sharded(shards, drop, "key", num_shards=4)
    # kept keys: still all members (no false negatives)
    kept_hits = probe_sharded(keep, "key", updated, 4).where("member").count()
    assert kept_hits == keep.count()
    # dropped keys: gone (up to fp-rate stragglers)
    drop_hits = probe_sharded(drop, "key", updated, 4).where("member").count()
    assert drop_hits <= max(2, int(drop.count() * 0.01))
    # item accounting
    total = updated.agg(F.sum("item_count")).first()[0]
    assert total == keep.count()


def test_delete_sharded_plan_fully_distributed(spark, docs_df):
    """Scale gate: the delete plan is a co-partitioned cogroup — no
    driver round-trip of shard states, no broadcast of the filter."""
    from sketchlib.spark.shard import build_sharded, delete_sharded

    keys = docs_df.select(F.col("url").alias("key"))
    shards = build_sharded(keys, "key", num_shards=4, cfg=_cfg())
    drop = keys.limit(100)
    updated = delete_sharded(shards, drop, "key", num_shards=4)
    plan = updated._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapCoGroupsInPandas" in plan
    assert "Broadcast" not in plan


def test_probe_sharded_broadcast_and_copartitioned_paths(spark, docs_df):
    """Small shard tables: zero-shuffle broadcast lookup (no Exchange
    at all in the probe plan). Above the threshold: cogroup — probes
    shuffle once, state moves once per shard, and state bytes are
    never attached per probe row. Both paths answer identically."""
    from sketchlib.spark.shard import build_sharded, probe_sharded

    keys = docs_df.select(F.col("url").alias("key"))
    shards = build_sharded(keys, "key", num_shards=4, cfg=_cfg()).persist()
    shards.count()
    small = probe_sharded(keys, "key", shards, 4)
    plan_small = small._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan_small
    probe_side = plan_small.split("MapInPandas")[-1]
    assert "Exchange" not in probe_side  # zero-shuffle probe
    assert small.where("member").count() == 1000
    big = probe_sharded(keys, "key", shards, 4, broadcast_threshold_bytes=0)
    plan_big = big._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapCoGroupsInPandas" in plan_big
    assert "BroadcastHashJoin" not in plan_big
    assert big.where("member").count() == 1000
    shards.unpersist()


def test_sharded_build_checkpoint_resume(spark, docs_df, tmp_path):
    """North-rule lineage on the sharded path: a resumed build re-emits
    the atomically published shard rows byte-identically instead of
    re-folding, and partial checkpoints only skip the finished shards."""
    import os

    from sketchlib.spark.shard import build_sharded

    keys = docs_df.select(F.col("url").alias("key"))
    ck = str(tmp_path / "shard-ck")
    first = build_sharded(keys, "key", num_shards=4, cfg=_cfg(), checkpoint_dir=ck)
    rows1 = {r.shard_id: bytes(r.state) for r in first.collect()}
    # one published row per shard (plus the _meta.json fingerprint)
    assert len([f for f in os.listdir(ck) if f.endswith(".arrow")]) == 4
    resumed = build_sharded(keys, "key", num_shards=4, cfg=_cfg(), checkpoint_dir=ck)
    rows2 = {r.shard_id: bytes(r.state) for r in resumed.collect()}
    assert rows1 == rows2  # byte-identical resume
    # partial lineage: drop one shard's record -> only that shard rebuilds
    victim = sorted(rows1)[0]
    os.remove(os.path.join(ck, f"shard-{victim:06d}.arrow"))
    partial = build_sharded(keys, "key", num_shards=4, cfg=_cfg(), checkpoint_dir=ck)
    rows3 = {r.shard_id: bytes(r.state) for r in partial.collect()}
    assert rows3 == rows1  # deterministic rebuild matches the original
    assert len([f for f in os.listdir(ck) if f.endswith(".arrow")]) == 4  # republished


def test_sharded_build_mixed_resume_in_one_task(spark, docs_df, tmp_path):
    """16 shards on 4 shuffle partitions: each task folds 4 shards. With
    one shard's record deleted, its task re-emits 3 published shards and
    freshly folds the fourth, byte-identically to the first build; only
    the missing file is republished."""
    import os

    from sketchlib.spark.shard import build_sharded

    assert int(spark.conf.get("spark.sql.shuffle.partitions")) == 4
    keys = docs_df.select(F.col("url").alias("key"))
    ck = str(tmp_path / "shard-ck")
    first = build_sharded(keys, "key", num_shards=16, cfg=_cfg(), checkpoint_dir=ck)
    assert first.rdd.getNumPartitions() == 4
    rows1 = {r.shard_id: tuple(r) for r in first.collect()}
    assert sorted(rows1) == list(range(16))

    def files():
        return {f: os.stat(os.path.join(ck, f)).st_ino
                for f in os.listdir(ck) if f.endswith(".arrow")}

    before = files()
    assert len(before) == 16
    victim = 5  # task 5 % 4 = 1 also holds shards 1, 9, 13
    victim_file = f"shard-{victim:06d}.arrow"
    os.remove(os.path.join(ck, victim_file))
    resumed = build_sharded(keys, "key", num_shards=16, cfg=_cfg(), checkpoint_dir=ck)
    rows2 = {r.shard_id: tuple(r) for r in resumed.collect()}
    assert rows2 == rows1  # byte-identical: re-emitted and re-folded alike
    after = files()
    assert victim_file in after  # republished
    del before[victim_file], after[victim_file]
    assert after == before  # published shards re-emitted, not re-folded


@pytest.mark.parametrize("num_shards", [3, 16, 64])
def test_sharded_bloom_states_equal_driver_builds(spark, num_shards):
    """Independent oracle for the sharded fold: a Bloom filter's state
    does not depend on insert order, so every shard's state must be
    byte-identical to a filter built on the driver from exactly the keys
    Spark's own pmod(xxhash64(key), n) assigns to that shard. 37-row
    Arrow batches make shard runs span batch boundaries."""
    import pyarrow as pa

    from sketchlib.spark.shard import build_sharded

    keys = spark.range(3000).select(F.concat(F.lit("url-"), F.col("id")).alias("key"))
    want: dict[int, list[str]] = {}
    for r in keys.selectExpr("key", f"pmod(xxhash64(key), {num_shards}) AS s").collect():
        want.setdefault(r.s, []).append(r.key)
    batch_conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    batch = spark.conf.get(batch_conf)
    spark.conf.set(batch_conf, "37")
    try:
        rows = build_sharded(
            keys, "key", num_shards, factory=lambda: BloomFilter(capacity=512, fp_rate=0.01)
        ).collect()
    finally:
        spark.conf.set(batch_conf, batch)
    assert sorted(r.shard_id for r in rows) == sorted(want)  # one row per non-empty shard
    for r in rows:
        ref = BloomFilter(capacity=512, fp_rate=0.01)
        ref.update(pa.array(want[r.shard_id]))
        assert bytes(r.state) == ref.to_bytes(), f"shard {r.shard_id}"
        assert r.n_rows == r.item_count == len(want[r.shard_id])
        assert r.fail_count == 0


def test_sharded_checkpoint_of_old_layout_rejected(spark, tmp_path):
    """A sharded checkpoint dir in the earlier layout (its own
    ``build_sharded`` fingerprint, 6-column shard files) must be refused
    loudly, not resumed: its files lack the build row's sketch column."""
    import json
    import os

    import pyarrow as pa

    from sketchlib.spark.shard import build_sharded

    ck = tmp_path / "old-shard-ck"
    ck.mkdir()
    old_meta = {"op": "build_sharded", "kind": "CuckooFilter", "key_col": "key",
                "num_shards": 4}
    (ck / "_meta.json").write_text(json.dumps(old_meta, sort_keys=True))
    old_row = pa.table({"shard_id": pa.array([0], pa.int32()), "n_rows": [1],
                        "item_count": [1], "fail_count": [0], "load_factor": [0.0],
                        "state": [b"x"]})
    with pa.OSFile(str(ck / "shard-000000.arrow"), "wb") as sink:
        with pa.ipc.new_file(sink, old_row.schema) as w:
            w.write_table(old_row)
    before = sorted(os.listdir(ck))
    keys = spark.createDataFrame([(f"k{i}",) for i in range(50)], "key string")
    with pytest.raises(ValueError, match="different build"):
        build_sharded(keys, "key", num_shards=4, cfg=_cfg(), checkpoint_dir=str(ck))
    assert sorted(os.listdir(ck)) == before


def test_sharded_empty_shards_probe_and_delete(spark):
    """Probes and deletes that hash to a shard with no state row:
    probes come back member=false (left join, not dropped); deletes are
    no-ops (nothing was inserted there), not a KeyError."""
    from sketchlib.spark.shard import build_sharded, delete_sharded, probe_sharded

    few = spark.createDataFrame([(f"k{i}",) for i in range(5)], "key string")
    shards = build_sharded(few, "key", num_shards=64, cfg=_cfg(capacity=4096)).persist()
    n_shards_built = shards.count()
    assert n_shards_built <= 5  # most of the 64 shards have no row
    probes = spark.createDataFrame([(f"p{i}",) for i in range(100)], "key string")
    probed = probe_sharded(probes, "key", shards, 64)
    assert probed.count() == 100  # every probe answered, none dropped
    assert probed.where("member").count() <= 2  # fp-rate only
    updated = delete_sharded(shards, probes, "key", num_shards=64)
    assert updated.count() == n_shards_built
    assert probe_sharded(few, "key", updated, 64).where("member").count() == 5
    shards.unpersist()


# ------------------------------------------------------- end-to-end invariant


def test_text_invariant_through_arrow(spark, docs_df):
    """The north-rule per-row invariant: text == extract_text(html),
    byte-identical, after a full Spark round trip through Arrow."""
    from sketchlib.textx import extract_text

    def check(batches):
        import pandas as pd

        for pdf in batches:
            ok = [extract_text(h) == t for h, t in zip(pdf["html"], pdf["text"])]
            yield pd.DataFrame({"ok": ok})

    bad = (
        docs_df.select("html", "text")
        .mapInPandas(check, "ok boolean")
        .where(~F.col("ok"))
        .count()
    )
    assert bad == 0


def test_docs_parquet_roundtrip_identical(spark, docs_table, tmp_path):
    # writing + reading through Spark preserves text bytes exactly
    import pyarrow.parquet as pq

    p = str(tmp_path / "d.parquet")
    pq.write_table(docs_table, p)
    df = spark.read.parquet(p)
    got = {r.url: r.text for r in df.select("url", "text").collect()}
    want = {
        u: t
        for u, t in zip(
            docs_table.column("url").to_pylist(), docs_table.column("text").to_pylist()
        )
    }
    assert got == want
