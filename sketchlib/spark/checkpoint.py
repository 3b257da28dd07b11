"""Checkpoint-resumable build lineage (north-rule requirement).

Two mechanisms:
* the build: build.build_named(checkpoint_dir=...) (behind every build —
  build_sketches, build_web_sketches, shard.build_sharded) atomically
  publishes each finished run's row group: ``part-{pid}.arrow`` for a
  partition run, ``shard-{id}.arrow`` for a shard run. A rerun
  re-emits stored rows instead of recomputing (the anti-join on
  completed lineage happens implicitly by file existence); the
  ``_meta.json`` fingerprint (``ensure_checkpoint_meta``) pins what
  makes that sound — the partition count (deterministic parquet splits
  under a fixed maxPartitionBytes keep partition runs stable), or the
  shard count.
* job stages: the ``mark_stage_done`` / ``stage_done`` manifest
  primitives — a resumed job checks ``stage_done`` and short-circuits
  completed stages (see jobs/web_build_job.py for the usage shape).

Paths may be URIs (hdfs://, s3a://): every driver-side helper routes
through the session's Hadoop FileSystem when given a session; the
executor-side run files use pyarrow.fs (taskfs.py) because tasks have
no JVM.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame

from .fsio import _fs_path, read_bytes, write_text


def _delete_fs_path(session, path: str) -> None:
    """Recursively delete ``path`` through the Hadoop FileSystem API
    (hdfs://-capable, exists-guarded no-op)."""
    fs, p = _fs_path(session, path)
    if fs.exists(p):
        fs.delete(p, True)


def ensure_checkpoint_meta(session, checkpoint_dir: str, meta: dict) -> None:
    """Fingerprint a checkpoint dir against the build that writes it.

    Resume-by-file-existence is only sound for the SAME build: a dir
    left by a different sketch kind / key column / partitioning would
    silently re-emit foreign rows (HLL states merged as CMS, or rows
    double-counted under a changed partition map). First use writes
    ``_meta.json``; later uses validate and raise on ANY mismatch —
    pass a fresh dir (or delete the stale one) to rebuild."""
    path = f"{checkpoint_dir.rstrip('/')}/_meta.json"
    fs, p = _fs_path(session, path)
    if fs.exists(p):
        stored = json.loads(read_bytes(session, path).decode())
        if stored != meta:
            raise ValueError(
                f"checkpoint dir {checkpoint_dir} was written by a different "
                f"build: stored {stored}, current {meta}; resume would merge "
                "mismatched states — use a fresh dir or delete the stale one"
            )
        return
    write_text(session, path, json.dumps(meta, sort_keys=True))


def materialize(df: DataFrame, checkpoint_dir: str | None = None) -> DataFrame:
    """Eagerly materialize an intermediate result, truncating lineage.

    ``checkpoint_dir=None`` → ``localCheckpoint(eager=True)``: blocks
    live in executor storage — fast (no FS round-trip), auto-released
    when the frame is garbage-collected, but on a real cluster an
    executor loss AFTER this point is unrecoverable mid-query (the
    truncated lineage cannot recompute lost blocks). Right default for
    single-box runs and short-lived intermediates.

    ``checkpoint_dir=<path>`` → a parquet round-trip into a unique
    ``mat-*`` subdirectory of that (HDFS / object-store) path: survives
    executor loss at the cost of one distributed write + read.
    Deliberately NOT ``df.checkpoint()``: that would require mutating
    the SparkContext-GLOBAL checkpoint directory, so two concurrent
    jobs with different ``checkpoint_dir``s would silently write into
    each other's directory (and clobber any application-configured
    one). The written path is recorded on the returned frame as
    ``_materialize_path``; callers that fully consume the result should
    pass it to ``drop_materialized`` — nothing is auto-deleted, because
    the files ARE the frame's storage.

    Tradeoff vs ``df.checkpoint``: the frame must be parquet-writable —
    no ``NullType`` columns (e.g. a bare ``F.lit(None)``) or
    parquet-illegal column names — and the round-trip reads back with
    all columns nullable. Every frame this library materializes is
    concrete-typed pair/label output, so this never binds internally;
    cast ``lit(None)`` placeholders before passing external frames.
    """
    if checkpoint_dir is None:
        return df.localCheckpoint(eager=True)
    import uuid

    path = f"{checkpoint_dir.rstrip('/')}/mat-{uuid.uuid4().hex}"
    try:
        df.write.mode("error").parquet(path)
    except BaseException:
        # failed/aborted write: remove the partial dir (the caller gets
        # no handle to it through the exception); best-effort — cleanup
        # failure must not mask the original error
        try:
            _delete_fs_path(df.sparkSession, path)
        except Exception:
            pass
        raise
    out = df.sparkSession.read.parquet(path)
    out._materialize_path = path
    return out


def propagate_materialized(src: DataFrame, dst: DataFrame) -> DataFrame:
    """Carry ``_materialize_path`` from a materialized frame onto a
    frame DERIVED from it (select/filter/join wrappers), so the public
    return value of an operator remains drop_materialized-able. The
    derived frame reads the same parquet files — drop only after fully
    consuming it."""
    dst._materialize_path = getattr(src, "_materialize_path", None)
    return dst


def drop_materialized(df: DataFrame) -> None:
    """Delete the parquet files behind a frame returned by
    ``materialize(..., checkpoint_dir=...)`` (no-op for the
    localCheckpoint flavor). Call only when the frame — and everything
    lazily derived from it — is fully consumed."""
    path = getattr(df, "_materialize_path", None)
    if path is None:
        return
    _delete_fs_path(df.sparkSession, path)


def _require_local(checkpoint_dir: str, fn: str) -> None:
    """The os.path fallback only speaks the driver's local disk — a
    URI would silently create a literal local 's3a:'/'hdfs:' directory
    (the exact failure fsio.py documents) and the manifest would never
    reach the real store."""
    if "://" in checkpoint_dir:
        raise ValueError(
            f"{fn} on a URI checkpoint dir needs the SparkSession: pass "
            "spark= so the manifest goes through the Hadoop FileSystem"
        )


def lineage_manifest(checkpoint_dir: str, spark=None) -> dict:
    path = f"{checkpoint_dir.rstrip('/')}/_lineage.json"
    if spark is not None:
        fs, p = _fs_path(spark, path)
        if fs.exists(p):
            return json.loads(read_bytes(spark, path).decode())
        return {"stages": {}}
    _require_local(checkpoint_dir, "lineage_manifest")
    if os.path.exists(path):
        with open(path) as fh:
            return json.load(fh)
    return {"stages": {}}


def mark_stage_done(
    checkpoint_dir: str, stage: str, meta: dict | None = None, spark=None
) -> None:
    m = lineage_manifest(checkpoint_dir, spark=spark)
    m["stages"][stage] = {"done_at": time.time(), **(meta or {})}
    if spark is not None:
        # FileSystem.create is an atomic-enough single-writer replace
        # for a driver-side manifest (one writer: the driver)
        write_text(spark, f"{checkpoint_dir.rstrip('/')}/_lineage.json", json.dumps(m))
        return
    _require_local(checkpoint_dir, "mark_stage_done")
    os.makedirs(checkpoint_dir, exist_ok=True)
    tmp = os.path.join(checkpoint_dir, "_lineage.json.tmp")
    with open(tmp, "w") as fh:
        json.dump(m, fh)
    os.replace(tmp, os.path.join(checkpoint_dir, "_lineage.json"))


def stage_done(checkpoint_dir: str, stage: str, spark=None) -> bool:
    return stage in lineage_manifest(checkpoint_dir, spark=spark)["stages"]


def completed_partitions(checkpoint_dir: str, spark=None) -> list[int]:
    names: list[str]
    if spark is not None:
        fs, p = _fs_path(spark, checkpoint_dir)
        if not fs.exists(p):
            return []
        names = [st.getPath().getName() for st in fs.listStatus(p)]
    else:
        _require_local(checkpoint_dir, "completed_partitions")
        if not os.path.isdir(checkpoint_dir):
            return []
        names = os.listdir(checkpoint_dir)
    return sorted(
        int(f[len("part-") : -len(".arrow")])
        for f in names
        if f.startswith("part-") and f.endswith(".arrow")
    )
