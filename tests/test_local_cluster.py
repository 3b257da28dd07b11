"""Multi-JVM execution evidence (round-5 verdict item #1).

Every other test runs ``local[n]`` — one JVM, one Python-worker pool,
shared lifecycle. The code round 4 added exists for multi-JVM clusters:
``taskfs.py`` task-side pyarrow.fs checkpoint writes, the broadcast
worker probe cache keyed by JVM broadcast id (``shard.py``), and
``fold_groups_rdd`` executor merges. ``local-cluster[2,2,1024]`` runs
REAL separate executor JVMs with no cluster manager — the cheapest
honest test of exactly those paths. These tests run ``tools/lc_job.py``
at local[4] and local-cluster[2,2,1024] and assert:

* order-insensitive sketch states (HLL registers, CMS counters) are
  BYTE-IDENTICAL across masters and across merge strategies (adaptive
  direct vs forced fold_groups_rdd);
* order-sensitive state (KLL compaction, cuckoo kick sequences) agrees
  semantically — same n, rank-valid quantiles, same per-shard
  row/item/failure counts, no-false-negative probes;
* a checkpoint → SIGKILL → resume cycle under local-cluster re-emits
  the pre-kill-published shards byte-identically (the taskfs contract)
  and completes to the same semantic result as a clean single run.
"""

from __future__ import annotations

import glob
import json
import os
import signal
import subprocess
import sys
import time

import numpy as np
import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
LC_JOB = os.path.join(REPO, "tools", "lc_job.py")
LC_MASTER = "local-cluster[2,2,1024]"


def _env() -> dict:
    env = dict(os.environ)
    env["PYTHONPATH"] = REPO + os.pathsep + env.get("PYTHONPATH", "")
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    return env


def _run_job(args: list[str], timeout: int = 600) -> None:
    out = subprocess.run(
        [sys.executable, LC_JOB, *args],
        capture_output=True,
        text=True,
        timeout=timeout,
        env=_env(),
        cwd=REPO,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert "LC_JOB_DONE" in out.stdout


@pytest.fixture(scope="module")
def docs_parquet(tmp_path_factory) -> str:
    from sketchlib.datagen import write_documents_parquet

    path = str(tmp_path_factory.mktemp("lcdata") / "docs.parquet")
    write_documents_parquet(path, 20000, seed=41)
    return path


@pytest.fixture(scope="module")
def flagship(docs_parquet, tmp_path_factory) -> dict:
    """One flagship run per master; shared by the comparison tests."""
    outdir = tmp_path_factory.mktemp("lcflag")
    res = {}
    for tag, master in (("local", "local[4]"), ("cluster", LC_MASTER)):
        out = str(outdir / f"{tag}.json")
        _run_job(
            ["--master", master, "--mode", "flagship", "--docs", docs_parquet,
             "--out", out]
        )
        with open(out) as fh:
            res[tag] = json.load(fh)
    return res


def test_local_cluster_runs_multiple_executor_jvms(flagship):
    """The point of the mode: separate executor JVMs actually ran."""
    assert flagship["cluster"]["executors_plus_driver"] >= 3  # driver + 2
    assert flagship["local"]["executors_plus_driver"] == 1


def test_flagship_order_insensitive_sketches_byte_identical(flagship):
    """HLL (register max) and CMS (counter add) are order-insensitive:
    the merged state must be byte-identical no matter how many JVMs the
    partials were built in, and no matter which merge strategy folded
    them (adaptive direct collect vs forced fold_groups_rdd)."""
    lc, l4 = flagship["cluster"], flagship["local"]
    assert lc["hll_digest"] == l4["hll_digest"]
    assert lc["cms_digest"] == l4["cms_digest"]
    # direct path == executor-fold path, within AND across masters
    assert lc["hll_digest_rdd"] == lc["hll_digest"]
    assert lc["cms_digest_rdd"] == lc["cms_digest"]
    assert l4["hll_digest_rdd"] == l4["hll_digest"]
    assert l4["cms_digest_rdd"] == l4["cms_digest"]


def test_flagship_kll_rank_valid_both_masters(flagship, docs_parquet):
    """KLL compaction is merge-order-sensitive (bytes may differ), so
    the cross-master contract is VALIDITY: same n, and every reported
    quantile's true rank within the k=200 error envelope."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    sizes = np.sort(
        pc.utf8_length(pq.read_table(docs_parquet, columns=["text"]).column("text"))
        .to_numpy(zero_copy_only=False)
        .astype(np.float64)
    )
    n = len(sizes)
    for tag in ("cluster", "local"):
        r = flagship[tag]
        assert r["kll_n"] == n and r["kll_n_rdd"] == n
        for q, v in zip((0.1, 0.5, 0.9), r["kll_quantiles"]):
            rank = np.searchsorted(sizes, v) / n
            assert abs(rank - q) < 0.05, (tag, q, v, rank)


def test_flagship_sharded_counts_and_probes_agree(flagship):
    """Cuckoo kick sequences are insertion-order-sensitive (state bytes
    may differ across shuffles), so the cross-master contract is the
    reference's own semantics: identical shard→count assignment (the
    route hash is data-deterministic), zero failures, every inserted
    url answered present, FPR within the 16-bit bound."""
    lc, l4 = flagship["cluster"], flagship["local"]
    assert lc["shards"] == l4["shards"]
    assert all(v[2] == 0 for v in lc["shards"].values())  # no insert failures
    assert lc["probe_hits"] == lc["n"] == l4["probe_hits"] == l4["n"]
    # 20k absent probes, 16-bit fingerprints, b=4: bound 2*4/2^16 ≈ 1.2e-4
    assert lc["probe_false_pos"] <= 10 and l4["probe_false_pos"] <= 10
    assert lc["hll_estimate"] == flagship["local"]["hll_estimate"]


def test_sharded_64_shards_under_local_cluster(docs_parquet, tmp_path):
    """64 shards on the job's 8 shuffle partitions: each task folds 8
    shards in turn, across executor JVMs. Zero insert failures, every
    inserted url found, and the shard→count map equal to local[4]."""
    res = {}
    for tag, master in (("local", "local[4]"), ("cluster", LC_MASTER)):
        out = str(tmp_path / f"{tag}.json")
        _run_job(
            ["--master", master, "--mode", "sharded", "--docs", docs_parquet,
             "--out", out, "--num-shards", "64"]
        )
        with open(out) as fh:
            res[tag] = json.load(fh)
    lc, l4 = res["cluster"], res["local"]
    assert lc["executors_plus_driver"] >= 3
    assert len(lc["shards"]) == 64
    assert all(v[2] == 0 for v in lc["shards"].values())  # no insert failures
    assert lc["probe_hits"] == lc["n"] == l4["probe_hits"] == l4["n"]
    assert lc["shards"] == l4["shards"]


def test_checkpoint_kill_resume_under_local_cluster(docs_parquet, tmp_path):
    """The taskfs contract, end to end under multi-JVM: executor tasks
    publish per-shard checkpoint files via pyarrow.fs; a SIGKILLed
    build leaves only complete shard files; a resumed run re-emits the
    published shards BYTE-IDENTICALLY and folds only the rest; the
    final result matches a clean run semantically."""
    ckpt = str(tmp_path / "ckpt")
    out_killed = str(tmp_path / "killed.json")
    proc = subprocess.Popen(
        [sys.executable, LC_JOB, "--master", LC_MASTER, "--mode", "sharded",
         "--docs", docs_parquet, "--out", out_killed, "--checkpoint", ckpt,
         "--slow-ms", "900", "--num-shards", "8"],
        env=_env(),
        cwd=REPO,
        stdout=subprocess.DEVNULL,
        stderr=subprocess.DEVNULL,
        start_new_session=True,  # killpg must reach the executor JVMs too
    )
    published = []
    deadline = time.time() + 300
    try:
        while time.time() < deadline:
            published = sorted(glob.glob(os.path.join(ckpt, "shard-*.arrow")))
            if len(published) >= 2 or proc.poll() is not None:
                break
            time.sleep(0.2)
    finally:
        if proc.poll() is None:
            os.killpg(os.getpgid(proc.pid), signal.SIGKILL)
            proc.wait(timeout=60)
    finished = os.path.exists(out_killed)
    published = sorted(glob.glob(os.path.join(ckpt, "shard-*.arrow")))
    assert published, "no shard checkpoint files appeared before the deadline"
    # NOTE: finished=False with all 8 shards published is NOT a failure
    # — publishes arrive in parallel waves, so the kill can land in the
    # window between the last publish and the result-JSON write. The
    # resume half below still verifies the taskfs contract (every
    # published shard re-emitted byte-identically); only the
    # "partial build" flavor of the scenario degrades.

    # snapshot the pre-kill-published shard states
    import pyarrow.ipc as ipc
    import hashlib

    pre = {}
    for p in published:
        with ipc.open_file(p) as rd:
            t = rd.read_all()
        sid = str(t.column("part_id")[0].as_py())
        pre[sid] = hashlib.sha256(t.column("state")[0].as_py()).hexdigest()

    # resume (no slow-down) under local-cluster
    out_resumed = str(tmp_path / "resumed.json")
    _run_job(
        ["--master", LC_MASTER, "--mode", "sharded", "--docs", docs_parquet,
         "--out", out_resumed, "--checkpoint", ckpt, "--num-shards", "8"]
    )
    with open(out_resumed) as fh:
        resumed = json.load(fh)

    # published-before-kill shards re-emitted byte-identically
    for sid, digest in pre.items():
        assert resumed["state_digests"][sid] == digest, f"shard {sid} re-folded"

    # clean single-run reference at local[4], no checkpoint
    out_ref = str(tmp_path / "ref.json")
    _run_job(
        ["--master", "local[4]", "--mode", "sharded", "--docs", docs_parquet,
         "--out", out_ref, "--num-shards", "8"]
    )
    with open(out_ref) as fh:
        ref = json.load(fh)
    assert resumed["shards"] == ref["shards"]
    assert all(v[2] == 0 for v in resumed["shards"].values())
    assert resumed["probe_hits"] == resumed["n"] == ref["probe_hits"]
