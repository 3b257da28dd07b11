"""Correctness gates: each compares a program output with a reference
computed independently from the generated inputs (DuckDB or numpy over
the parquet files, never sketchlib). Every checker returns a list of
failure messages; an empty list means the output passed."""

from __future__ import annotations

import json
import math
import os

import numpy as np

HLL_P = 14
CMS_WIDTH, CMS_DEPTH = 1 << 14, 4
KLL_K, KLL_EPS = 200, 0.0165  # published normalized rank error for k=200
KLL_QS = (0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99)
FP_BITS, BUCKET = 16, 4


def docs_reference(docs_path: str, seed: int, cache_dir: str, n_tokens: int = 64) -> dict:
    """Exact distinct urls, total token count, exact counts of a seeded
    sample of tokens and the sorted page lengths, all from DuckDB. Kept
    beside the corpus, like the corpus itself: computing it is load
    generation, not part of a run."""
    cached = os.path.join(cache_dir, f"ref-s{seed}.npz")
    if os.path.exists(cached):
        z = np.load(cached)
        return {**json.loads(str(z["meta"])), "lengths": z["lengths"]}
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute("SET enable_progress_bar = false")
    src = f"read_parquet('{docs_path}')"
    distinct, lengths = con.sql(
        f"SELECT COUNT(DISTINCT url), list(length(text) ORDER BY length(text)) FROM {src}"
    ).fetchone()
    rng = np.random.default_rng(seed)
    sample = sorted({f"tok{int(t) % 50_000:05d}" for t in rng.zipf(1.1, n_tokens)})
    sample_sql = ", ".join(f"'{t}'" for t in sample)
    toks = f"(SELECT unnest(regexp_split_to_array(text, '\\s+')) AS t FROM {src})"
    # one pass: the sampled tokens counted by name, all others under NULL
    groups = con.sql(f"SELECT CASE WHEN t IN ({sample_sql}) THEN t END, COUNT(*) "
                     f"FROM {toks} WHERE t <> '' GROUP BY 1").fetchall()
    con.close()
    total = sum(c for _, c in groups)
    counts = {t: c for t, c in groups if t is not None}
    meta = {
        "distinct_urls": int(distinct),
        "total_tokens": int(total),
        "token_counts": {t: int(counts.get(t, 0)) for t in sample},
    }
    lengths = np.asarray(lengths, np.float64)
    np.savez(cached, meta=json.dumps(meta), lengths=lengths)
    return {**meta, "lengths": lengths}


def check_hll(estimate: float, exact: int) -> list[str]:
    bound = 3 * 1.04 / math.sqrt(1 << HLL_P)
    err = abs(estimate - exact) / max(exact, 1)
    return [] if err <= bound else [f"hll: rel err {err:.4f} > {bound:.4f}"]


def check_cms(estimates: dict, ref: dict) -> list[str]:
    bound = math.e / CMS_WIDTH * ref["total_tokens"]
    bad = []
    for tok, exact in ref["token_counts"].items():
        est = estimates[tok]
        if est < exact:
            bad.append(f"cms: {tok} undercount {est} < {exact}")
        elif est - exact > bound:
            bad.append(f"cms: {tok} over by {est - exact} > e/w*N = {bound:.0f}")
    return bad


def check_kll(quantiles: dict, lengths: np.ndarray) -> list[str]:
    """The estimate's exact rank interval [#<x, #<=x]/n must come within
    eps of q (an interval, because page lengths repeat)."""
    n = len(lengths)
    bad = []
    for q, x in quantiles.items():
        lo = np.searchsorted(lengths, x, "left") / n
        hi = np.searchsorted(lengths, x, "right") / n
        if not lo - KLL_EPS <= q <= hi + KLL_EPS:
            bad.append(f"kll: q={q} estimate {x} has rank [{lo:.4f}, {hi:.4f}]")
    return bad


def fpr_limit(n_absent: int) -> float:
    """Max false-positive hits on n absent keys: the FPR bound 2b/2^f as a
    one-sided binomial limit with a 4-sigma margin."""
    p = 2 * BUCKET / (1 << FP_BITS)
    return n_absent * p + 4 * math.sqrt(n_absent * p * (1 - p))


def check_build(rows, n_keys: int) -> list[str]:
    bad = []
    fails = sum(int(r.fail_count) for r in rows)
    items = sum(int(r.item_count) for r in rows)
    if fails:
        bad.append(f"cuckoo: {fails} insert failures")
    if items != n_keys:
        bad.append(f"cuckoo: {items} items stored for {n_keys} keys")
    return bad


def check_present(members: int, n_present: int, what: str = "present") -> list[str]:
    return [] if members == n_present else [
        f"cuckoo: {n_present - members} false negatives over {what} keys"]


def check_absent(hits: int, n_absent: int) -> list[str]:
    limit = fpr_limit(n_absent)
    return [] if hits <= limit else [f"cuckoo: {hits} false positives > {limit:.1f}"]


def check_delete(rows_before, rows_after, n_deleted: int) -> list[str]:
    before = sum(int(r.item_count) for r in rows_before)
    after = sum(int(r.item_count) for r in rows_after)
    return [] if before - after == n_deleted else [
        f"cuckoo: {before - after} items removed for {n_deleted} deletes"]


# ------------------------------------------------------------ headline


def oracle_frames(tables_dir: str, names) -> dict:
    """Each query's oracle_sql() result, computed by DuckDB over the
    same parquet files the Spark queries read."""
    import duckdb

    import __spark_entry__ as entry

    con = duckdb.connect()
    for f in sorted(os.listdir(tables_dir)):
        con.sql(f"CREATE VIEW {f[:-8]} AS FROM '{os.path.join(tables_dir, f)}'")
    oracles = entry.oracle_sql()
    out = {n: con.sql(oracles[n]).df() for n in names}
    con.close()
    return out


def check_frame(name: str, got, want) -> list[str]:
    """Order-insensitive comparison with tools/verify_oracle.py's
    normalization and value hash."""
    from tools.verify_oracle import normalize, value_hash

    s, o = normalize(got), normalize(want)
    if list(s.columns) != list(o.columns):
        return [f"{name}: columns {list(s.columns)} != {list(o.columns)}"]
    if len(s) != len(o):
        return [f"{name}: {len(s)} rows != {len(o)}"]
    if value_hash(s) != value_hash(o):
        return [f"{name}: values differ from the oracle"]
    return []
