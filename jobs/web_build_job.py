#!/usr/bin/env python
"""Production entry point: distributed web-sketch build via spark-submit.

    zip -r sketchlib.zip sketchlib            # once, repo root
    spark-submit --py-files sketchlib.zip jobs/web_build_job.py \
        --input  /data/webpages_parquet       \
        --output /data/sketch_out             \
        --shards 256                          \
        --checkpoint /data/sketch_ckpt        # optional: resumable

On a cluster, add the usual --master/--num-executors flags; the job
itself is shape-agnostic (the north rule's N vs 4N executors is purely
a submit-time choice). The build is the two-job pipeline of
sketchlib.spark.webbuild: fixed-size sketches fold on scan partitions
(zero shuffle), membership shards build over a url-only shuffle.

Outputs under --output:
  shards/                parquet: the sharded cuckoo filter table
                         (shard_id, n_rows, item_count, fail_count,
                         load_factor, state)
  fixed/<name>.bin       merged HLL / CMS / KLL states
  metrics.json           row counts, load factors, estimates, timings

Resume: with --checkpoint, each scan partition of the fixed-sketch job
publishes its finished partial atomically; a rerun re-emits stored
partials instead of recomputing (per-partition lineage,
sketchlib.spark.checkpoint).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

# spark-submit ships sketchlib via --py-files; a direct `python
# jobs/web_build_job.py` run gets it from the repo root instead
_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)


def _build_fixed(docs, args):
    """The fixed-size sketch half (hll/cms/kll): one fused pass over
    the scan partitions. --checkpoint makes that pass resumable per
    partition; the fold, and so fixed/*.bin, is the same either way."""
    from sketchlib.sketches import CountMinSketch, HyperLogLog, KLLSketch
    from sketchlib.spark.merge import state_bytes_hint
    from sketchlib.spark.webbuild import build_web_sketches, merge_web_sketches

    factories = {
        "hll": lambda: HyperLogLog(14),
        "cms": lambda: CountMinSketch(width=args.cms_width, depth=4),
        "kll": lambda: KLLSketch(200),
    }
    return merge_web_sketches(
        build_web_sketches(docs, factories, checkpoint_dir=args.checkpoint),
        # byte-aware gate: --cms-width defaults to 1<<16 (2 MB
        # state); at the 256-partition threshold the direct pull
        # would be ~1.5 GB — the hint routes wide builds to the
        # bounded executor fold
        state_bytes=state_bytes_hint(*factories.values()),
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="parquet dir of web pages")
    ap.add_argument("--output", required=True)
    ap.add_argument("--shards", type=int, default=64)
    ap.add_argument("--checkpoint", default=None)
    ap.add_argument("--cms-width", type=int, default=1 << 16)
    ap.add_argument("--fingerprint-bits", type=int, default=16)
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("sketchlib-web-build").getOrCreate()

    try:
        _run(spark, args)
    finally:
        # stop the session on BOTH exits: the insert-failure SystemExit
        # below must not leave executors to interpreter teardown (on
        # some deploy modes that delays release and muddles the
        # reported failure with shutdown noise)
        spark.stop()


def _run(spark, args) -> None:
    from sketchlib.config import CuckooConfig
    from sketchlib.spark.shard import build_sharded

    docs = spark.read.parquet(args.input)
    n = docs.count()
    t0 = time.time()

    def fixed_job():
        return _build_fixed(docs, args)

    def shard_job():
        # dedup BEFORE the membership build: a recrawl corpus repeats
        # urls, and >2×bucket_size (8) copies of one url exhaust its
        # two buckets regardless of capacity — unavoidable insert
        # failures that would abort the job below (warc_ingest_job
        # dedups for the same documented reason). Sizing comes from
        # the persisted distinct set, not raw row count.
        from pyspark import StorageLevel

        urls = docs.select("url").distinct().persist(StorageLevel.MEMORY_AND_DISK)
        try:
            n_urls = urls.count()
            cfg = CuckooConfig(
                capacity=max(int(n_urls * 1.1), 1024),
                fingerprint_bits=args.fingerprint_bits,
                hash_strategy="xx",
            )
            shard_df = build_sharded(urls, "url", args.shards, cfg=cfg)
            shard_df.write.mode("overwrite").parquet(
                os.path.join(args.output, "shards")
            )
        finally:
            urls.unpersist()

    # the two jobs are independent — submit them concurrently (driver
    # threads; Spark's scheduler interleaves their tasks), the same
    # shape build_web_pipeline implements: the url shuffle overlaps the
    # CPU-bound token hashing
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as ex:
        f_fixed, f_shard = ex.submit(fixed_job), ex.submit(shard_job)
        fixed = f_fixed.result()
        f_shard.result()
    build_sec = time.time() - t0

    shards = spark.read.parquet(os.path.join(args.output, "shards"))
    agg = shards.groupBy().sum("n_rows", "item_count", "fail_count").first()

    # sidecar artifacts go through the Hadoop FS so hdfs:///s3a://
    # --output URIs work — open()/os.makedirs would silently write a
    # local directory literally named "s3a:" on the driver
    from sketchlib.spark.fsio import write_bytes, write_text

    for name, sk in fixed.items():
        write_bytes(spark, f"{args.output}/fixed/{name}.bin", sk.to_bytes())

    metrics = {
        "rows": n,
        "build_sec": round(build_sec, 2),
        "docs_per_sec": round(n / build_sec) if build_sec else None,
        "shards": args.shards,
        # empty input: the 0-row shards table aggregates to NULLs
        "shard_rows": int(agg["sum(n_rows)"] or 0),
        "cuckoo_items": int(agg["sum(item_count)"] or 0),
        "cuckoo_failures": int(agg["sum(fail_count)"] or 0),
        "hll_distinct_urls": round(fixed["hll"].estimate()) if "hll" in fixed else None,
    }
    write_text(spark, f"{args.output}/metrics.json", json.dumps(metrics, indent=2))
    print(json.dumps(metrics))
    if metrics["cuckoo_failures"]:
        # a filter that dropped inserts answers false for present urls —
        # fail loudly instead of shipping a broken index (same contract
        # as warc_ingest_job)
        raise SystemExit(
            f"cuckoo insert failures: {metrics['cuckoo_failures']}"
            " (resize --shards/capacity)"
        )


if __name__ == "__main__":
    sys.exit(main())
