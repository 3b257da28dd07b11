"""Round-4 eighth-pass regressions (checkpoint/resume path): task-side
IO through pyarrow.fs, checkpoint-dir fingerprinting, URI-aware lineage
manifest, snapshot pin validation, orphan tmp GC."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F


def test_checkpoint_meta_rejects_foreign_build(spark, tmp_path):
    """Resuming a dir written by a different sketch kind must raise —
    file-existence resume would otherwise merge HLL states as CMS."""
    from sketchlib.sketches import CountMinSketch, HyperLogLog
    from sketchlib.spark import build_sketches

    ck = str(tmp_path / "ck")
    df = spark.createDataFrame([(f"u{i}",) for i in range(200)], "key string")
    build_sketches(df, "key", lambda: HyperLogLog(10), checkpoint_dir=ck).collect()
    with pytest.raises(ValueError, match="different"):
        build_sketches(
            df, "key", lambda: CountMinSketch(width=64, depth=2), checkpoint_dir=ck
        ).collect()


def test_checkpoint_meta_rejects_changed_partitioning(spark, tmp_path):
    """Partition ids are the resume key for build_sketches: a changed
    partition count remaps rows to ids, so resume must refuse."""
    from sketchlib.sketches import HyperLogLog
    from sketchlib.spark import build_sketches

    ck = str(tmp_path / "ck2")
    df = spark.createDataFrame([(f"u{i}",) for i in range(200)], "key string")
    build_sketches(
        df.repartition(4), "key", lambda: HyperLogLog(10), checkpoint_dir=ck
    ).collect()
    with pytest.raises(ValueError, match="different"):
        build_sketches(
            df.repartition(8), "key", lambda: HyperLogLog(10), checkpoint_dir=ck
        ).collect()


def test_checkpoint_meta_same_build_resumes(spark, tmp_path):
    from sketchlib.sketches import HyperLogLog
    from sketchlib.spark import build_sketches

    ck = str(tmp_path / "ck3")
    df = spark.createDataFrame([(f"u{i}",) for i in range(200)], "key string").repartition(4)
    a = build_sketches(df, "key", lambda: HyperLogLog(10), checkpoint_dir=ck).collect()
    b = build_sketches(df, "key", lambda: HyperLogLog(10), checkpoint_dir=ck).collect()
    assert sorted(bytes(r.state) for r in a) == sorted(bytes(r.state) for r in b)
    meta = json.loads((tmp_path / "ck3" / "_meta.json").read_text())
    assert meta["sketches"] == {"key": ["HyperLogLog", 0, "values"]}
    assert meta["partitions"] == 4


def test_read_pages_rejects_snapshot_on_parquet(spark, tmp_path):
    """A silently dropped snapshot pin hands resume code an UNPINNED
    read — must raise instead."""
    from sketchlib.spark.sources import read_pages

    p = str(tmp_path / "pages")
    spark.createDataFrame([("u", "t")], "url string, text string").write.parquet(p)
    with pytest.raises(ValueError, match="iceberg"):
        read_pages(spark, p, fmt="parquet", snapshot_id=42)
    assert read_pages(spark, p, fmt="parquet").count() == 1


def test_lineage_manifest_uri_requires_session(tmp_path):
    """os.path on a URI would create a literal local 's3a:' dir and the
    manifest would never reach the store — refuse loudly."""
    from sketchlib.spark.checkpoint import mark_stage_done, stage_done

    with pytest.raises(ValueError, match="SparkSession"):
        mark_stage_done("s3a://bucket/ck", "build")
    with pytest.raises(ValueError, match="SparkSession"):
        stage_done("hdfs://nn/ck", "build")
    # local dirs keep working without a session
    d = str(tmp_path / "lin")
    assert not stage_done(d, "build")
    mark_stage_done(d, "build", {"rows": 7})
    assert stage_done(d, "build")


def test_lineage_manifest_through_hadoop_fs(spark, tmp_path):
    """With a session the manifest goes through the Hadoop FS — the
    path that also works for hdfs:///s3a:// dirs."""
    from sketchlib.spark.checkpoint import (
        completed_partitions,
        mark_stage_done,
        stage_done,
    )

    d = f"file://{tmp_path}/lin2"
    assert not stage_done(d, "build", spark=spark)
    mark_stage_done(d, "build", {"rows": 9}, spark=spark)
    assert stage_done(d, "build", spark=spark)
    assert not stage_done(d, "merge", spark=spark)
    assert completed_partitions(d, spark=spark) == []


def test_taskfs_publish_gcs_orphan_tmps(tmp_path):
    """Dead attempts' tmp files must not accumulate forever in a
    checkpoint dir that lives across reruns."""
    import pyarrow as pa

    from sketchlib.spark import taskfs

    fs, base = taskfs.task_fs(str(tmp_path / "ckpt"))
    fs.create_dir(base, recursive=True)
    # a stray tmp from a "dead attempt"
    with fs.open_output_stream(f"{base}/.part-00001.tmp-deadbeef") as s:
        s.write(b"junk")
    schema = pa.schema([("x", pa.int64())])
    batch = pa.RecordBatch.from_pydict({"x": [1]}, schema=schema)
    taskfs.publish_ipc_batch(fs, base, ".part-00001.tmp-abc123", "part-00001.arrow", schema, batch)
    names = sorted(os.listdir(tmp_path / "ckpt"))
    assert names == ["part-00001.arrow"]
    assert taskfs.read_ipc_table(fs, f"{base}/part-00001.arrow").num_rows == 1


def test_taskfs_uri_roundtrip(tmp_path):
    """file:// URIs resolve through FileSystem.from_uri (the same code
    path s3://-gs://-hdfs:// take) and publish/read round-trip."""
    import pyarrow as pa

    from sketchlib.spark import taskfs

    fs, base = taskfs.task_fs(f"file://{tmp_path}/uri-ck")
    schema = pa.schema([("x", pa.int64())])
    batch = pa.RecordBatch.from_pydict({"x": [7, 8]}, schema=schema)
    taskfs.publish_ipc_batch(fs, base, ".part-00000.tmp-x", "part-00000.arrow", schema, batch)
    assert taskfs.exists(fs, f"{base.rstrip('/')}/part-00000.arrow")
    assert taskfs.read_ipc_table(fs, f"{base.rstrip('/')}/part-00000.arrow").num_rows == 2


def test_build_sketches_checkpoint_on_file_uri(spark, tmp_path):
    """End-to-end: a file:// checkpoint dir (the URI code path) builds,
    publishes one row per partition, and resumes byte-identically."""
    from sketchlib.sketches import HyperLogLog
    from sketchlib.spark import build_sketches

    ck = f"file://{tmp_path}/ck-uri"
    df = spark.createDataFrame([(f"u{i}",) for i in range(300)], "key string").repartition(4)
    a = build_sketches(df, "key", lambda: HyperLogLog(10), checkpoint_dir=ck).collect()
    arrows = [f for f in os.listdir(tmp_path / "ck-uri") if f.endswith(".arrow")]
    assert len(arrows) == 4
    b = build_sketches(df, "key", lambda: HyperLogLog(10), checkpoint_dir=ck).collect()
    assert sorted(bytes(r.state) for r in a) == sorted(bytes(r.state) for r in b)
