"""Mergeable cuckoo filter on a dense numpy fingerprint matrix.

Semantics follow the reference's scalar production path
(/root/reference/internal/filter/filter.go:51-186 — insert/kick/lookup/
delete state machine, silent capacity exhaustion, count/load-factor/
reset), re-expressed batch-first:

* state is one ``uint16[num_buckets, bucket_size]`` matrix (the
  reference's per-bucket slices, bucket.go:11-16, flattened) kept
  *compact* — non-zero fingerprints first — so "first empty slot" is
  just the per-bucket fill count;
* inserts are whole-Arrow-batch vector ops: hash the batch, rank items
  within their target bucket (sort + cumcount) so duplicate
  fingerprints in one batch land in distinct slots exactly as a
  sequential loop would, scatter, then run the bounded kick loop only
  for the residue — itself vectorized as conflict-free parallel rounds;
* ``merge`` (new capability, not in the reference — SURVEY.md §7 step 3)
  re-homes every (bucket, fingerprint) pair of the other filter, which
  is lossless because an entry's two legal homes are recoverable from
  either index via the self-inverse alternate-index rule;
* the kick RNG is deterministically seeded (config.seed) — intentional
  divergence from the reference's entropy seeding (filter.go:47) so
  distributed builds are reproducible and checkpoint-resumable.

Differences from the reference that are *not* semantic: there is no
mutex (shared-nothing partitions) and no goroutine batch chunking
(Spark task parallelism replaces it) — SURVEY.md §4.1.
"""

from __future__ import annotations

import struct

import numpy as np

from .config import CuckooConfig
from .errors import GeometryMismatchError
from .hashing import kernels

_MAGIC = b"SKCF"
_VERSION = 1
_HEADER = struct.Struct("<4sBB6xQQQQQQB7x")  # magic, ver, strategy, geometry+counters


_STRATEGY_CODE = {"fnv": 0, "crc32c": 1, "xx": 2}
_STRATEGY_NAME = {v: k for k, v in _STRATEGY_CODE.items()}


class CuckooFilter:
    """Batch-first cuckoo filter. Public surface mirrors the reference's
    13-method API (/root/reference/filter.go:9-51) plus ``merge`` and
    ``to_bytes``/``from_bytes`` for Spark shuffle/checkpoint."""

    def __init__(self, config: CuckooConfig):
        self.config = config
        self.table = np.zeros((config.num_buckets, config.bucket_size), np.uint16)
        self.fill = np.zeros(config.num_buckets, np.int32)
        self.num_items = 0
        self.insert_failures = 0
        self._rng = np.random.Generator(np.random.PCG64(config.seed))

    # ------------------------------------------------------------ hashing

    def _indices(self, items) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        i1, i2, fp = kernels.indices_batch(
            items,
            self.config.num_buckets,
            self.config.hash_strategy,
            self.config.fingerprint_bits,
        )
        return i1.astype(np.int64), i2.astype(np.int64), fp

    def _alt(self, index: np.ndarray, fp: np.ndarray) -> np.ndarray:
        return kernels.alt_index_batch(
            index.astype(np.uint64),
            fp,
            self.config.num_buckets,
            self.config.hash_strategy,
            self.config.fingerprint_bits,
        ).astype(np.int64)

    # ------------------------------------------------------------ insert

    def insert(self, item) -> bool:
        return bool(self.insert_batch([item])[0])

    def insert_batch(self, items) -> np.ndarray:
        """Vectorized InsertBatch (filter.go:168-174): per-item success."""
        i1, i2, fp = self._indices(items)
        return self._place(i1, i2, fp)

    def update(self, items) -> None:
        """MergeableSketch-protocol alias so the Spark build layer can
        fold Arrow batches into any sketch kind uniformly."""
        self.insert_batch(items)

    def contains(self, items) -> np.ndarray:
        """Membership-protocol alias (``BloomFilter.contains``): probes
        and UDFs call one name for every membership sketch."""
        return self.lookup_batch(items)

    def _try_bucket(
        self, target: np.ndarray, fp: np.ndarray, todo: np.ndarray
    ) -> np.ndarray:
        """Place todo-subset items into their target buckets where space
        remains, honoring batch order for duplicate targets. Returns the
        boolean placed-mask over ``todo``."""
        b = self.config.bucket_size
        t = target[todo]
        order = np.argsort(t, kind="stable")
        ts = t[order]
        # rank of each item within its bucket group, in batch order
        grp_change = np.nonzero(np.diff(ts))[0] + 1
        grp_start = np.concatenate(([0], grp_change))
        grp_sizes = np.diff(np.concatenate((grp_start, [len(ts)])))
        ranks = np.arange(len(ts)) - np.repeat(grp_start, grp_sizes)
        space = b - self.fill[ts]
        ok_sorted = ranks < space
        rows = ts[ok_sorted]
        cols = self.fill[ts][ok_sorted] + ranks[ok_sorted]
        self.table[rows, cols] = fp[todo][order][ok_sorted]
        np.add.at(self.fill, rows, 1)
        placed = np.zeros(len(t), bool)
        placed[order[ok_sorted]] = True
        return placed

    def _place(self, i1: np.ndarray, i2: np.ndarray, fp: np.ndarray) -> np.ndarray:
        """Core placement: try i1, then i2, then the kick loop —
        the vectorized analogue of Insert (filter.go:51-71)."""
        n = len(fp)
        success = np.zeros(n, bool)
        todo = np.arange(n)

        placed = self._try_bucket(i1, fp, todo)
        success[todo[placed]] = True
        todo = todo[~placed]
        if len(todo):
            placed = self._try_bucket(i2, fp, todo)
            success[todo[placed]] = True
            todo = todo[~placed]
        if len(todo):
            kicked = self._relocate(i1[todo], i2[todo], fp[todo])
            success[todo[kicked]] = True
        self.num_items += int(success.sum())
        self.insert_failures += int(n - success.sum())
        return success

    def _relocate(
        self, i1: np.ndarray, i2: np.ndarray, fp: np.ndarray
    ) -> np.ndarray:
        """Bounded random-kick relocation (filter.go:73-108), run as
        parallel rounds: each round, a conflict-free subset of pending
        chains (no two touching the same bucket) performs one swap+move.
        Bucket ownership per round is resolved with ``np.minimum.at`` so
        the whole loop stays in numpy (no per-item Python)."""
        m = len(fp)
        b = self.config.bucket_size
        success = np.zeros(m, bool)
        # random starting side, like filter.go:75-78
        start_alt = self._rng.integers(0, 2, m).astype(bool)
        cur = np.where(start_alt, i2, i1)
        held = fp.copy()
        kicks = np.full(m, self.config.max_kicks, np.int64)
        active = np.arange(m)
        owner = np.full(self.config.num_buckets, m + 1, np.int64)

        while len(active):
            a = active
            pos = self._rng.integers(0, b, len(a))
            evicted = self.table[cur[a], pos]
            alt = self._alt(cur[a], evicted)
            # claim both footprint buckets; winner = lowest pending index
            rank = np.arange(len(a))
            np.minimum.at(owner, cur[a], rank)
            np.minimum.at(owner, alt, rank)
            sel = (owner[cur[a]] == rank) & (owner[alt] == rank)
            owner[cur[a]] = m + 1
            owner[alt] = m + 1
            if not sel.any():
                # all pending chains collide pairwise this round; fall back
                # to stepping just the first chain to guarantee progress
                sel = np.zeros(len(a), bool)
                sel[0] = True
                first = a[0:1]
                p0, e0 = pos[0:1], evicted[0:1]
                alt0 = alt[0:1]
                self._step_chain(first, cur, held, p0, e0, alt0, success)
            else:
                s = a[sel]
                self._step_chain(s, cur, held, pos[sel], evicted[sel], alt[sel], success)
            kicks[a[sel]] -= 1
            done = success[a] | (kicks[a] <= 0)
            active = a[~done]
        return success

    def _step_chain(self, idx, cur, held, pos, evicted, alt, success) -> None:
        """One kick step for the selected (conflict-free) chains."""
        empty = evicted == 0
        if empty.any():
            e = idx[empty]
            self.table[cur[e], pos[empty]] = held[e]
            np.add.at(self.fill, cur[e], 1)
            success[e] = True
        occ = ~empty
        if occ.any():
            o = idx[occ]
            # swap our fingerprint in, carry the evicted one to its alt home
            self.table[cur[o], pos[occ]] = held[o]
            ev = evicted[occ]
            av = alt[occ]
            has_space = self.fill[av] < self.config.bucket_size
            if has_space.any():
                rows = av[has_space]
                self.table[rows, self.fill[rows]] = ev[has_space]
                np.add.at(self.fill, rows, 1)
                success[o[has_space]] = True
            cont = ~has_space
            held[o[cont]] = ev[cont]
            cur[o[cont]] = av[cont]

    # ------------------------------------------------------------ lookup

    def lookup(self, item) -> bool:
        return bool(self.lookup_batch([item])[0])

    def lookup_batch(self, items) -> np.ndarray:
        """Vectorized LookupBatch (filter_amd64.go:18-34): fp present in
        either candidate bucket. No false negatives for inserted items."""
        i1, i2, fp = self._indices(items)
        return self._contains(i1, i2, fp)

    def _contains(self, i1, i2, fp) -> np.ndarray:
        f = fp[:, None]
        return ((self.table[i1] == f).any(1)) | ((self.table[i2] == f).any(1))

    # ------------------------------------------------------------ delete

    def delete(self, item) -> bool:
        return bool(self.delete_batch([item])[0])

    def delete_batch(self, items) -> np.ndarray:
        """Remove one stored occurrence per item (filter.go:116-133;
        bucket.Remove zeroes the first match only). Deleting items never
        inserted can, as upstream documents, induce false negatives."""
        i1, i2, fp = self._indices(items)
        n = len(fp)
        result = np.zeros(n, bool)

        # fast path: rows edited at most once this batch
        pair_lo = np.minimum(i1, i2)
        pair_hi = np.maximum(i1, i2)
        key = (pair_lo.astype(np.uint64) << np.uint64(32)) | pair_hi.astype(np.uint64)
        _, first_idx, counts = np.unique(key, return_index=True, return_counts=True)
        uniq = np.zeros(n, bool)
        uniq[first_idx[counts == 1]] = True
        # rows touched by two different unique items still conflict
        if uniq.any():
            rows_touched = np.concatenate((i1[uniq], i2[uniq]))
            _, rc = np.unique(rows_touched, return_counts=True)
            if (rc > 1).any():
                bad_rows = np.unique(rows_touched)[rc > 1]
                conflicted = np.isin(i1, bad_rows) | np.isin(i2, bad_rows)
                uniq &= ~conflicted
        if uniq.any():
            result[uniq] = self._delete_unique(i1[uniq], i2[uniq], fp[uniq])
        rest = np.nonzero(~uniq)[0]
        for j in rest:  # slow path: duplicates / shared buckets, rare
            result[j] = self._delete_one(int(i1[j]), int(i2[j]), int(fp[j]))
        self.num_items -= int(result.sum())
        return result

    def _delete_unique(self, i1, i2, fp) -> np.ndarray:
        f = fp[:, None]
        in1 = (self.table[i1] == f).any(1)
        use_row = np.where(in1, i1, i2)
        rows_data = self.table[use_row]
        match = rows_data == f
        hit = match.any(1)
        rows = use_row[hit]
        if len(rows):
            sub = rows_data[hit]
            first = match[hit] & (np.cumsum(match[hit], axis=1) == 1)
            sub[first] = 0
            # re-compact: stable-sort zeros to the back
            order = np.argsort(sub == 0, kind="stable", axis=1)
            self.table[rows] = np.take_along_axis(sub, order, 1)
            np.add.at(self.fill, rows, -1)
        return hit

    def _delete_one(self, i1: int, i2: int, fp: int) -> bool:
        for row in (i1, i2):
            slots = self.table[row]
            pos = np.nonzero(slots == fp)[0]
            if len(pos):
                slots[pos[0]] = 0
                order = np.argsort(slots == 0, kind="stable")
                self.table[row] = slots[order]
                self.fill[row] -= 1
                return True
        return False

    # ------------------------------------------------------------ metrics

    def count(self) -> int:
        """Exact stored-item count (filter.go:135-139)."""
        return self.num_items

    def load_factor(self) -> float:
        """num_items / total slots (filter.go:141-151)."""
        total = self.config.slot_capacity
        return self.num_items / total if total else 0.0

    def capacity(self) -> int:
        return self.config.slot_capacity

    def reset(self) -> None:
        self.table[:] = 0
        self.fill[:] = 0
        self.num_items = 0
        self.insert_failures = 0

    def optimal_batch_size(self) -> int:
        return self.config.batch_size

    # ------------------------------------------------------------ merge

    def merge(self, other: "CuckooFilter") -> "CuckooFilter":
        """Union-in-place of another filter with identical geometry.

        Every stored (bucket, fp) pair of ``other`` is re-placed here;
        the pair's two legal homes are {bucket, alt(bucket, fp)} by the
        self-inverse alternate-index property, so no information about
        original items is needed. Failure accounting is LINEAGE-TOTAL:
        ``other``'s own ``insert_failures`` are absorbed (those items
        are lost forever — a merged filter must not report 0 failures
        while missing keys a part already dropped) and merge-time
        overflow adds on top, so after any merge tree the root's
        ``insert_failures`` equals every item ever offered minus every
        item stored (explicit accounting, SURVEY.md §7; serde
        round-trips the counter, so this holds across tree_merge's
        serialized parts)."""
        if self.config.geometry_key() != other.config.geometry_key():
            raise GeometryMismatchError(
                f"{self.config.geometry_key()} vs {other.config.geometry_key()}"
            )
        self.insert_failures += other.insert_failures
        rows, cols = np.nonzero(other.table)
        if len(rows):
            fps = other.table[rows, cols]
            i1 = rows.astype(np.int64)
            i2 = self._alt(i1, fps)
            self._place(i1, i2, fps)
        return self

    # ------------------------------------------------------------ serde

    def to_bytes(self) -> bytes:
        header = _HEADER.pack(
            _MAGIC,
            _VERSION,
            _STRATEGY_CODE[self.config.hash_strategy],
            self.config.capacity,
            self.config.num_buckets,
            self.config.bucket_size,
            self.num_items,
            self.insert_failures,
            self.config.max_kicks,
            self.config.fingerprint_bits,
        )
        return header + self.table.tobytes()

    @classmethod
    def from_bytes(cls, blob: bytes) -> "CuckooFilter":
        (
            magic,
            version,
            strategy,
            capacity,
            num_buckets,
            bucket_size,
            num_items,
            failures,
            max_kicks,
            fp_bits,
        ) = _HEADER.unpack_from(blob)
        if magic != _MAGIC or version != _VERSION:
            raise ValueError("not a sketchlib cuckoo filter blob")
        cfg = CuckooConfig(
            capacity=capacity,
            bucket_size=bucket_size,
            fingerprint_bits=fp_bits,
            max_kicks=max_kicks,
            hash_strategy=_STRATEGY_NAME[strategy],
        )
        f = cls(cfg)
        table = np.frombuffer(blob, np.uint16, offset=_HEADER.size).reshape(
            num_buckets, bucket_size
        )
        f.table = table.copy()
        f.fill = np.count_nonzero(f.table, axis=1).astype(np.int32)
        f.num_items = num_items
        f.insert_failures = failures
        return f
