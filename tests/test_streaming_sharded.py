"""ShardedStreamBuilder.attach: the state_dir belongs to one streaming
checkpoint. Batch ids restart at 0 under a new checkpoint, so the
sink's replay skip (batch_id <= CURRENT) must never meet another
checkpoint's ids — it would drop their first batches silently."""

from __future__ import annotations

import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from sketchlib import CuckooConfig


def _stage(in_dir, name: str, keys: list[str]) -> None:
    in_dir.mkdir(exist_ok=True)
    pq.write_table(pa.table({"key": keys}), str(in_dir / f"{name}.parquet"))


def _run(spark, builder, in_dir, ckpt) -> None:
    stream = spark.readStream.schema("key string").option("maxFilesPerTrigger", 1)
    q = builder.attach(stream.parquet(str(in_dir)), str(ckpt))
    q.awaitTermination()
    assert q.exception() is None


def _found(spark, builder, keys: list[str]) -> int:
    from sketchlib.spark.shard import probe_sharded

    probes = spark.createDataFrame([(k,) for k in keys], "key string")
    shards = builder.current_shards(spark)
    return probe_sharded(probes, "key", shards, num_shards=2).where("member").count()


def test_sharded_stream_refuses_a_second_checkpoint(spark, tmp_path):
    from sketchlib.streaming.sharded import ShardedStreamBuilder

    cfg = CuckooConfig(capacity=4096, fingerprint_bits=16, hash_strategy="xx")
    b = ShardedStreamBuilder("key", num_shards=2, state_dir=str(tmp_path / "state"), cfg=cfg)
    in_a, ck_a = tmp_path / "in-a", tmp_path / "ck-a"
    for i in range(3):
        _stage(in_a, f"a{i}", [f"a{i}-{j}" for j in range(40)])
    _run(spark, b, in_a, ck_a)
    assert b._pointer(spark) == 2  # three micro-batches: ids 0, 1, 2

    # a new checkpoint numbers its batches from 0 again: refuse it
    in_b = tmp_path / "in-b"
    new_keys = [f"b-{j}" for j in range(50)]
    _stage(in_b, "b0", new_keys)
    with pytest.raises(ValueError, match="fresh state_dir"):
        _run(spark, b, in_b, tmp_path / "ck-b")
    assert b._pointer(spark) == 2

    # the recorded checkpoint itself still resumes: its next id is 3
    _stage(in_a, "a3", new_keys)
    _run(spark, b, in_a, ck_a)
    assert b._pointer(spark) == 3
    assert _found(spark, b, new_keys) == 50

    # the recorded path, deleted and recreated, restarts at 0 as well
    shutil.rmtree(ck_a)
    with pytest.raises(ValueError, match="fresh state_dir"):
        _run(spark, b, in_a, ck_a)

    # a fresh state_dir takes the new checkpoint and finds every key
    fresh = ShardedStreamBuilder(
        "key", num_shards=2, state_dir=str(tmp_path / "state-b"), cfg=cfg
    )
    _run(spark, fresh, in_b, tmp_path / "ck-b")
    assert _found(spark, fresh, new_keys) == 50
