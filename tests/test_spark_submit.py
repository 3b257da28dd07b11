"""North-rule packaging check: the library runs via
``spark-submit --py-files sketchlib.zip`` — the exact deployment shape
of a multi-executor cluster (each executor receives the zip; no
repo checkout on the workers)."""

import json
import os
import shutil
import subprocess
import sys
import zipfile

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPARK_SUBMIT = shutil.which("spark-submit") or "/opt/spark/bin/spark-submit"


def _build_zip(tmp_path) -> str:
    """Zip the sketchlib package the way a cluster submit would."""
    zip_path = tmp_path / "sketchlib.zip"
    with zipfile.ZipFile(zip_path, "w", zipfile.ZIP_DEFLATED) as zf:
        pkg = os.path.join(REPO, "sketchlib")
        for root, _dirs, files in os.walk(pkg):
            if "__pycache__" in root:
                continue
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    zf.write(full, os.path.relpath(full, REPO))
    return str(zip_path)


def _submit_env() -> dict:
    env = dict(os.environ)
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    env.pop("PYTHONPATH", None)  # the zip must be the only source
    return env


@pytest.mark.skipif(
    not os.path.exists(SPARK_SUBMIT), reason="spark-submit not installed"
)
def test_spark_submit_py_files_roundtrip(tmp_path):
    """Zip the package, submit the sharded build+probe job from a
    clean cwd (sketchlib import can only resolve from the zip), and
    check the no-false-negative verdict line."""
    job = tmp_path / "job.py"
    shutil.copy(os.path.join(REPO, "tools", "pyfiles_job.py"), job)
    out = subprocess.run(
        [
            SPARK_SUBMIT,
            "--master", "local[4]",
            "--conf", "spark.sql.shuffle.partitions=4",
            "--conf", "spark.ui.enabled=false",
            "--py-files", _build_zip(tmp_path),
            str(job),
        ],
        cwd=tmp_path,  # NOT the repo: proves the zip supplied the library
        env=_submit_env(),
        capture_output=True,
        text=True,
        timeout=420,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    line = next(
        ln for ln in out.stdout.splitlines() if ln.startswith("PYFILES_RESULT ")
    )
    res = json.loads(line.removeprefix("PYFILES_RESULT "))
    assert res["hits"] == 2000  # every inserted key answered: no false negatives
    assert res["false_pos"] <= 5  # 16-bit fingerprint FPR bound at n=2000


@pytest.mark.skipif(
    not os.path.exists(SPARK_SUBMIT), reason="spark-submit not installed"
)
def test_spark_submit_warc_ingest_job(tmp_path):
    """North-star E2E through the production entry point: WARC archives
    (one plain, one gzip, one with an injected exact-duplicate page) →
    streaming parse → scrub/dedup/quality/split corpus + sharded
    membership table, submitted via --py-files from a clean cwd."""
    from sketchlib.datagen import warc_bytes, write_warc

    n = 40
    write_warc(str(tmp_path / "a.warc"), n, seed=31)
    blob = warc_bytes(n, seed=32)
    # duplicate the whole second archive content once: every page of it
    # is an exact text duplicate, so dedup must halve that archive
    import gzip as _gzip

    (tmp_path / "b.warc.gz").write_bytes(_gzip.compress(blob + blob))
    job = tmp_path / "job.py"
    shutil.copy(os.path.join(REPO, "jobs", "warc_ingest_job.py"), job)
    out = subprocess.run(
        [
            SPARK_SUBMIT,
            "--master", "local[4]",
            "--conf", "spark.sql.shuffle.partitions=4",
            "--conf", "spark.ui.enabled=false",
            "--py-files", _build_zip(tmp_path),
            str(job),
            "--input", str(tmp_path),
            "--output", str(tmp_path / "out"),
            "--shards", "4",
            "--min-tokens", "1",
        ],
        cwd=tmp_path,
        env=_submit_env(),
        capture_output=True,
        text=True,
        timeout=420,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    line = next(
        ln for ln in out.stdout.splitlines() if ln.startswith("WARC_INGEST_RESULT ")
    )
    res = json.loads(line.removeprefix("WARC_INGEST_RESULT "))
    assert res["pages_in"] == 3 * n  # a.warc + doubled b archive
    # the doubled archive's second copy must dedup away ENTIRELY
    # (docs_kept ≤ 2n), and most originals survive — a handful may
    # legitimately collapse too (cross-seed template collisions,
    # near-empty texts), so the floor is loose
    assert res["docs_kept"] <= 2 * n
    assert res["docs_kept"] >= int(2 * n * 0.85)
    assert res["dedup_and_quality_drop"] >= n  # ≥ the duplicated copy
    assert os.path.isdir(tmp_path / "out" / "corpus")
    assert os.path.isdir(tmp_path / "out" / "shards")


@pytest.mark.skipif(
    not os.path.exists(SPARK_SUBMIT), reason="spark-submit not installed"
)
def test_spark_submit_web_build_job(tmp_path):
    """web_build_job E2E through spark-submit with --checkpoint: the
    resumable build must honor the full fixed/{hll,cms,kll}.bin
    contract (a prior version silently dropped cms.bin when
    --checkpoint was given), and every sidecar artifact
    must land under --output via the Hadoop FS writer (metrics.json,
    fixed/*.bin), not on the driver's local cwd."""
    import pyarrow.parquet as pq

    from sketchlib.datagen import generate_documents
    from sketchlib.serde import loads

    n = 300
    (tmp_path / "in").mkdir()
    pq.write_table(generate_documents(n, seed=7), tmp_path / "in" / "d.parquet")
    job = tmp_path / "job.py"
    shutil.copy(os.path.join(REPO, "jobs", "web_build_job.py"), job)
    out = subprocess.run(
        [
            SPARK_SUBMIT,
            "--master", "local[4]",
            "--conf", "spark.sql.shuffle.partitions=4",
            "--conf", "spark.ui.enabled=false",
            "--py-files", _build_zip(tmp_path),
            str(job),
            "--input", str(tmp_path / "in"),
            "--output", str(tmp_path / "out"),
            "--shards", "4",
            "--checkpoint", str(tmp_path / "ckpt"),
            "--cms-width", "4096",
        ],
        cwd=tmp_path,
        env=_submit_env(),
        capture_output=True,
        text=True,
        timeout=420,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    res = json.loads(out.stdout.splitlines()[-1])
    assert res["rows"] == n
    assert res["cuckoo_items"] == n  # urls are unique in the fixture
    assert res["cuckoo_failures"] == 0
    # full three-sketch contract with --checkpoint
    for name in ("hll", "cms", "kll"):
        blob = (tmp_path / "out" / "fixed" / f"{name}.bin").read_bytes()
        assert len(blob) > 0
        loads(blob)  # deserializes as a sketch
    assert abs(res["hll_distinct_urls"] - n) / n < 0.1
    assert (tmp_path / "out" / "metrics.json").exists()
    kll = loads((tmp_path / "out" / "fixed" / "kll.bin").read_bytes())
    assert kll.n == n  # one page-size observation per doc


@pytest.mark.skipif(
    not os.path.exists(SPARK_SUBMIT), reason="spark-submit not installed"
)
def test_spark_submit_py_files_two_cluster_sizes(tmp_path):
    """The north rule's literal deployment sentence in one test:
    ``spark-submit --py-files`` on a MULTI-EXECUTOR cluster at TWO
    cluster sizes — N=1 and 4N=4 separate executor JVMs
    (``local-cluster[1,2,1024]`` vs ``local-cluster[4,2,1024]``), the
    library resolving only from the shipped zip on every executor.
    Results must be identical at both sizes (sharding and probing are
    content-hashed, never layout-dependent). Efficiency is NOT gated
    here — a 2000-key job is fixed-cost dominated; the ≥0.8 gate runs
    on the 4M-doc corpus (`bench.py --lc-scaling`, SCALING_r5.json)."""
    import time

    job = tmp_path / "job.py"
    shutil.copy(os.path.join(REPO, "tools", "pyfiles_job.py"), job)
    zip_path = _build_zip(tmp_path)
    results = {}
    for workers in (1, 4):
        t0 = time.perf_counter()
        out = subprocess.run(
            [
                SPARK_SUBMIT,
                "--master", f"local-cluster[{workers},2,1024]",
                "--conf", "spark.sql.shuffle.partitions=4",
                "--conf", "spark.ui.enabled=false",
                "--py-files", zip_path,
                str(job),
            ],
            cwd=tmp_path,  # NOT the repo: the zip is the only source
            env=_submit_env(),
            capture_output=True,
            text=True,
            timeout=420,
        )
        wall = time.perf_counter() - t0
        assert out.returncode == 0, out.stderr[-2000:]
        line = next(
            ln for ln in out.stdout.splitlines()
            if ln.startswith("PYFILES_RESULT ")
        )
        results[workers] = json.loads(line.removeprefix("PYFILES_RESULT "))
        results[workers]["_wall_sec"] = round(wall, 1)
    r1, r4 = results[1], results[4]
    # multi-executor really engaged: driver + N separate executor JVMs
    assert r1["executors_plus_driver"] == 2
    assert r4["executors_plus_driver"] == 5
    assert r1["hits"] == 2000 and r4["hits"] == 2000  # no false negatives
    # content-hashed sharding: the answer is executor-count invariant
    assert r1["false_pos"] == r4["false_pos"]
    assert r1["false_pos"] <= 5
