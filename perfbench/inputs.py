"""Seeded input generation for the benchmark, cached per (kind, size, seed).

Everything here is load generation: it runs before set-up is timed, and
its cost is reported as ``gen_s`` beside ``setup_s``, never inside it.
Same seed and size give byte-identical files.

* ``docs`` -- the ``url`` and ``text`` columns of
  ``sketchlib.datagen.generate_documents(n, seed)``, byte for byte
  (FIXTURES.md section 1: Zipf(1.3) hosts, LogNormal body widths, Zipf(1.1)
  tokens, the four edge-case pages, ~1% exact duplicates). Built here
  with vectorized numpy/pyarrow from the same PCG64 draws, because
  datagen makes pages one at a time (~2.5k docs/s on one core), too slow
  for a fresh corpus per seed within one run's time limit.
  ``selftest.py`` checks the two agree.
* ``keys`` -- unique present url keys, an equally large set of absent
  url keys (a path prefix no present key has), and the present keys
  split into deleted and kept sets; url-only parquet.

The headline queries read ``TABLES``: the repository's sf0.01 test
tables (TESTDATA.md), copied unchanged into the benchmark's directory.
"""

from __future__ import annotations

import glob
import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
CACHE = os.path.join(HERE, ".cache")
TABLES = os.path.join(HERE, "tables")
KEEP_PER_KIND = 12  # older seeds are evicted; ~1.3 GB at most for docs


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.Generator(np.random.PCG64([seed, stream]))


def _zipf_bounded(rng, a: float, n: int, bound: int) -> np.ndarray:
    return (rng.zipf(a, n) - 1) % bound


def _fmt(prefix: str, ids: np.ndarray, width: int) -> pa.Array:
    """prefix + zero-padded ids, as one arrow string array."""
    digits = pc.utf8_lpad(pa.array(ids).cast(pa.string()), width, "0")
    return pc.binary_join_element_wise(prefix, digits, "")


def _urls(rng, n: int, path: str, num_hosts: int = 1000) -> pa.Array:
    hosts = pa.array([f"https://h{h}.example.org/" for h in range(num_hosts)])
    host_col = hosts.take(pa.array(_zipf_bounded(rng, 1.3, n, num_hosts)))
    return pc.binary_join_element_wise(host_col, _fmt(path, np.arange(n), 8), "")


def _join_tokens(vocab: pa.Array, tok_ids: np.ndarray, widths: np.ndarray) -> pa.Array:
    offsets = np.zeros(len(widths) + 1, np.int32)
    np.cumsum(widths, out=offsets[1:])
    lists = pa.ListArray.from_arrays(pa.array(offsets), vocab.take(pa.array(tok_ids)))
    return pc.binary_join(lists, " ")


DOC_ROW_GROUP = 4000  # rows per parquet row group: part of the docs cache key
EDGE_PAGES = 4  # datagen's fixed edge-case pages open every corpus


def make_docs(dirpath: str, n: int, seed: int) -> None:
    """datagen.generate_documents' draws, in its order: hosts, widths,
    each non-edge page's tokens, then duplicate targets and sources."""
    from sketchlib.datagen import generate_documents

    rng = np.random.Generator(np.random.PCG64(seed))
    os.makedirs(dirpath)
    urls = _urls(rng, n, "p/")
    widths = np.clip(rng.lognormal(5.0, 1.0, n), 10, 5000).astype(np.int64)[EDGE_PAGES:]
    vocab = pa.array([f"tok{t:05d}" for t in range(50_000)])
    body = _join_tokens(vocab, _zipf_bounded(rng, 1.1, int(widths.sum()), 50_000), widths)
    # extract_text of a generated page is "T<i>\n" + its body
    titles = _fmt("T", np.arange(EDGE_PAGES, n), 1)
    edge = generate_documents(EDGE_PAGES).column("text").combine_chunks()
    text = pa.concat_arrays([edge, pc.binary_join_element_wise(titles, body, "\n")])
    # ~1% exact duplicates of another page under a distinct url, applied
    # one by one as datagen does, so chains resolve the same way
    idx = np.arange(n)
    if n > 10:
        n_dups = max(int(n * 0.01), 1)
        targets = rng.integers(EDGE_PAGES, n, n_dups)
        for t, s in zip(targets, rng.integers(EDGE_PAGES, n, n_dups)):
            idx[t] = idx[s]
    text = text.take(pa.array(idx))
    pq.write_table(pa.table({"url": urls, "text": text}), os.path.join(dirpath, "docs.parquet"),
                   row_group_size=DOC_ROW_GROUP)


def make_keys(dirpath: str, n: int, seed: int) -> None:
    """present (n keys), absent (n keys), and a split of present into
    deleted (every 10th key) and kept (the rest)."""
    rng = _rng(seed, 2)
    os.makedirs(dirpath)
    present = _urls(rng, n, "k/")
    every10 = pa.array(np.arange(n) % 10 == 0)
    for name, keys in (("present", present), ("absent", _urls(rng, n, "q/")),
                       ("deleted", present.filter(every10)),
                       ("kept", present.filter(pc.invert(every10)))):
        pq.write_table(pa.table({"url": keys}), os.path.join(dirpath, f"{name}.parquet"),
                       row_group_size=max(len(keys) // 8, 1))


_MAKERS = {"docs": make_docs, "keys": make_keys}
_LAYOUT = {"docs": f"-rg{DOC_ROW_GROUP}"}


def cached(kind: str, size: int, seed: int) -> tuple[str, float]:
    """Directory of the (kind, size, seed, layout) input, made on first
    use. Returns (path, seconds spent generating; 0.0 on a cache hit)."""
    path = os.path.join(CACHE, f"{kind}-n{size}{_LAYOUT.get(kind, '')}-s{seed}")
    if os.path.exists(path):
        os.utime(path)
        return path, 0.0
    os.makedirs(CACHE, exist_ok=True)
    for stale in glob.glob(path + ".tmp*"):  # left by an interrupted run
        shutil.rmtree(stale)
    t0 = time.perf_counter()
    tmp = f"{path}.tmp{os.getpid()}"
    _MAKERS[kind](tmp, size, seed)
    os.replace(tmp, path)
    _evict(kind)
    os.sync()  # the new files' write-back must not overlap the timed passes
    return path, time.perf_counter() - t0


def _evict(kind: str) -> None:
    entries = sorted(
        (os.path.getmtime(os.path.join(CACHE, e)), e)
        for e in os.listdir(CACHE)
        if e.startswith(kind + "-") and ".tmp" not in e
    )
    for _, e in entries[:-KEEP_PER_KIND]:
        shutil.rmtree(os.path.join(CACHE, e))
