#!/usr/bin/env python3
"""Self-test of the benchmark's correctness gates at tiny input sizes.

    python3 perfbench/selftest.py

The generated corpus must equal ``sketchlib.datagen``'s, and every gate
must accept the program's real output and reject a known-wrong answer:
an HLL estimate off by 10%, a CMS count one too low, a KLL quantile from
the wrong rank, a filter with an insert failure, a shard row dropped
before probing, a lost delete, one headline query row altered. Exits 1
if any gate accepts a wrong answer or rejects a right one.
"""

from __future__ import annotations

import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import pyarrow.parquet as pq  # noqa: E402

import gates  # noqa: E402
import inputs  # noqa: E402
import run  # noqa: E402
import workloads as W  # noqa: E402
from sketchlib.datagen import generate_documents  # noqa: E402

FAILURES: list[str] = []


def expect(what: str, problems: list[str], wrong: bool) -> None:
    if bool(problems) != wrong:
        FAILURES.append(f"{what}: {'accepted a wrong answer' if wrong else problems}")
    print(f"{'ok  ' if bool(problems) == wrong else 'FAIL'} {what}")


def main() -> int:
    work = os.path.join(run.WORK, f"selftest-{os.getpid()}")
    inputs.CACHE = os.path.join(work, "cache")
    run._env(work)
    W.DOCS, W.KEY_SLOTS, W.KEYS, W.SHARDS = 4000, 1 << 12, int(0.8 * (1 << 12)), 4
    sess = run.Session(work)
    try:
        spark = sess.start()
        text = W.TextSketches(1)
        corpus = pq.read_table(text.path)
        want = generate_documents(W.DOCS, 1)
        same = all(corpus.column(c).equals(want.column(c)) for c in ("url", "text"))
        expect("docs: the corpus is datagen's url and text", [] if same else ["differs"], False)
        text.prepare(spark)
        sk = text.build_merge()
        ref = text.ref
        expect("text: real sketches", text.check(sk), False)
        sk["hll"].estimate = lambda: 1.1 * ref["distinct_urls"]
        expect("hll: estimate 10% high", text.check(sk), True)
        tok = next(iter(ref["token_counts"]))
        expect("cms: one count too low",
               gates.check_cms({**ref["token_counts"], tok: ref["token_counts"][tok] - 1}, ref), True)
        expect("cms: over by more than e/w*N",
               gates.check_cms({t: c + ref["total_tokens"] for t, c in ref["token_counts"].items()},
                               ref), True)
        lengths = ref["lengths"]
        expect("kll: median from the 60th percentile",
               gates.check_kll({0.5: lengths[int(0.6 * len(lengths))]}, lengths), True)

        from pyspark.sql import Row

        from sketchlib.spark.shard import ShardedProbeIndex, build_sharded, probe_sharded

        url = W.UrlMembership(1)
        url.prepare(spark)
        present = url.frames["present"]
        rows = build_sharded(present, "url", W.SHARDS, cfg=W.cuckoo_cfg()).collect()
        expect("cuckoo: real build", gates.check_build(rows, W.KEYS), False)
        failed_row = Row(**(rows[0].asDict() | {"fail_count": 1}))
        expect("cuckoo: one insert failure", gates.check_build([failed_row] + rows[1:], W.KEYS), True)

        def members(shard_rows):
            idx = ShardedProbeIndex(spark, {int(r.shard_id): bytes(r.state) for r in shard_rows})
            n = probe_sharded(present, "url", num_shards=W.SHARDS, index=idx).where("member").count()
            idx.destroy()
            return n

        expect("cuckoo: real probe", gates.check_present(members(rows), W.KEYS), False)
        expect("cuckoo: shard row dropped before probing",
               gates.check_present(members(rows[1:]), W.KEYS), True)
        expect("cuckoo: false positives over the FPR limit",
               gates.check_absent(int(gates.fpr_limit(W.KEYS)) + 1, W.KEYS), True)
        updated = url._delete(spark, rows, url.frames["deleted"])
        expect("cuckoo: real delete", gates.check_delete(rows, updated, url.n_deleted), False)
        expect("cuckoo: one delete lost", gates.check_delete(rows, updated, url.n_deleted + 1), True)

        head = W.HeadlineQueries(1)
        head.prepare(spark)
        oracle = gates.oracle_frames(head.dir, ["pricing_summary"])["pricing_summary"]
        got = head.queries["pricing_summary"](spark, head.dir).toPandas()
        expect("headline: real query", gates.check_frame("pricing_summary", got, oracle), False)
        got.loc[0, "count_order"] += 1
        expect("headline: one row altered", gates.check_frame("pricing_summary", got, oracle), True)
    finally:
        sess.shutdown()
        shutil.rmtree(work, ignore_errors=True)
    print(f"{len(FAILURES)} gate(s) misbehaved" if FAILURES else "all gates discriminate")
    return 1 if FAILURES else 0


if __name__ == "__main__":
    sys.exit(main())
