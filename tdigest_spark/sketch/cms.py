"""Count-min sketch (Cormode & Muthukrishnan 2005) with a deterministic
heavy-hitters heap. Companion sketch per BASELINE.json north_rule; absent in
the reference. Merge = elementwise matrix add (+ heap union re-estimated).
Spark cross-check oracle: df.stat.countMinSketch / exact GROUP BY counts."""

from __future__ import annotations

import struct

import numpy as np

from .hashing import hash64_with_seed, hash_strings

__all__ = ["CMS"]

# magic, depth, width, total, n_heavy, k_heavy (CMS2 added k_heavy so serde
# round-trips the heavy-hitter config; CMS1 blobs defaulted it to 64)
_HEADER = struct.Struct("<4sII q I i")


class CMS:
    __slots__ = (
        "depth", "width", "table", "total", "heavy", "k_heavy", "_pending"
    )

    def __init__(self, depth: int = 5, width: int = 2048, k_heavy: int = 64):
        self.depth = depth
        self.width = width
        self.table = np.zeros((depth, width), dtype=np.int64)
        self.total = 0
        self.k_heavy = k_heavy
        self.heavy: dict[int, int] = {}  # raw uint64 key -> est count
        # heavy-hitter candidates seen since the last refresh: refreshing
        # per batch would re-estimate the whole candidate set every 64k
        # values (measured 3x the entire update cost); instead candidates
        # accumulate and one deterministic refresh runs on threshold,
        # query, merge, or serialization
        self._pending: list[np.ndarray] = []

    # ------------------------------------------------------------------ build

    def _rows(self, keys: np.ndarray) -> np.ndarray:
        """(depth, n) column indices for uint64 keys."""
        cols = np.empty((self.depth, keys.shape[0]), dtype=np.int64)
        for d in range(self.depth):
            cols[d] = (hash64_with_seed(keys, d * 0x9E37 + 0xABCD) %
                       np.uint64(self.width)).astype(np.int64)
        return cols

    def _update_keys(self, ukeys: np.ndarray, kcounts: np.ndarray) -> "CMS":
        """Shared ingest for unique uint64 keys with counts: table add,
        total, heavy-hitter candidate tracking."""
        cols = self._rows(ukeys)
        for d in range(self.depth):
            np.add.at(self.table[d], cols[d], kcounts)
        self.total += int(kcounts.sum())
        if self.k_heavy > 0:
            self._pending.append(ukeys)
            if sum(p.shape[0] for p in self._pending) > 512 * 1024:
                self._flush_pending()
        return self

    def update_ints(self, values: np.ndarray, counts=None) -> "CMS":
        v = np.asarray(values)
        if v.shape[0] == 0:
            return self
        if counts is not None:
            # caller supplies pre-aggregated counts for unique keys
            keys = v.astype(np.int64)
            kcounts = np.asarray(counts, dtype=np.int64)
        else:
            keys, kcounts = np.unique(v.astype(np.int64), return_counts=True)
        return self._update_keys(keys.astype(np.uint64), kcounts)

    def update_strings(self, values) -> "CMS":
        """Ingest string values: hashed once (hash_strings), then counted
        under the same key-space ``estimate_strings`` probes."""
        v = np.asarray(values, dtype=object)
        if v.shape[0] == 0:
            return self
        keys, kcounts = np.unique(hash_strings(v), return_counts=True)
        return self._update_keys(keys, kcounts)

    def _estimate_keys(self, ukeys: np.ndarray) -> np.ndarray:
        cols = self._rows(ukeys)
        ests = np.empty((self.depth, ukeys.shape[0]), dtype=np.int64)
        for d in range(self.depth):
            ests[d] = self.table[d][cols[d]]
        return ests.min(axis=0)

    def _flush_pending(self) -> None:
        if not self._pending:
            return
        cand = np.unique(np.concatenate(self._pending))
        self._pending = []
        self._refresh_heavy(cand)

    def _refresh_heavy(self, candidate_keys: np.ndarray) -> None:
        """Track top-k keys by estimated count (deterministic tie-break on
        key value)."""
        if self.k_heavy <= 0:
            return
        heavy = np.fromiter(self.heavy, dtype=np.uint64, count=len(self.heavy))
        arr = np.union1d(heavy, candidate_keys.astype(np.uint64, copy=False))
        est = self._estimate_keys(arr)
        order = np.lexsort((arr, -est))[: self.k_heavy]
        self.heavy = {
            int(arr[i]): int(est[i]) for i in order
        }

    # ------------------------------------------------------------------ query

    def estimate_ints(self, values: np.ndarray) -> np.ndarray:
        v = np.asarray(values).astype(np.int64).astype(np.uint64)
        return self._estimate_keys(v)

    def estimate_strings(self, values) -> np.ndarray:
        return self._estimate_keys(hash_strings(values))

    def inner_product(self, other: "CMS") -> int:
        """Join-size estimate |A JOIN B| from the two key sketches alone:
        min over depth rows of sum_j a[d,j]*b[d,j] (Cormode &
        Muthukrishnan's a*b estimator). Guarantees: never under-estimates;
        over-estimates by at most (e/width)*|A|*|B| per row with
        probability >= 1 - (1/e)^depth. This is the optimizer-statistics
        use: join cardinality from O(KB) mergeable state, no scan of
        either table. Exact integer arithmetic (object dtype) — int64
        row-dot products overflow once totals pass ~3e9."""
        if (other.depth, other.width) != (self.depth, self.width):
            raise ValueError("shape mismatch")
        return min(
            int(np.dot(self.table[d].astype(object), other.table[d]))
            for d in range(self.depth)
        )

    def heavy_hitters(self) -> list[tuple[int, int]]:
        """[(raw key, est count)] sorted by count desc, key asc."""
        self._flush_pending()
        return sorted(self.heavy.items(), key=lambda kv: (-kv[1], kv[0]))

    def merge(self, other: "CMS") -> "CMS":
        if (other.depth, other.width) != (self.depth, self.width):
            raise ValueError("shape mismatch")
        self._flush_pending()
        other._flush_pending()
        self.table += other.table
        self.total += other.total
        if other.heavy or self.heavy:
            self._refresh_heavy(
                np.fromiter(other.heavy, dtype=np.uint64, count=len(other.heavy))
            )
        return self

    # ------------------------------------------------------------------ serde

    def to_bytes(self) -> bytes:
        self._flush_pending()
        head = _HEADER.pack(
            b"CMS2", self.depth, self.width, self.total, len(self.heavy),
            self.k_heavy,
        )
        hk = np.fromiter(self.heavy.keys(), dtype="<u8", count=len(self.heavy))
        hv = np.fromiter(self.heavy.values(), dtype="<i8", count=len(self.heavy))
        return (
            head
            + self.table.astype("<i8").tobytes()
            + hk.tobytes()
            + hv.tobytes()
        )

    @classmethod
    def from_bytes(cls, data: bytes) -> "CMS":
        magic, depth, width, total, nh, kh = _HEADER.unpack_from(data, 0)
        if magic != b"CMS2":
            if magic == b"CMS1":
                # durable artifacts (checkpoint batches, streaming state
                # dirs) written before the CMS2 header change: name the
                # cause so operators rebuild state instead of suspecting
                # corruption
                raise ValueError(
                    "stale CMS1 state format (pre-k_heavy header); rebuild "
                    "the sketch/checkpoint with this version"
                )
            raise ValueError("not a CMS blob")
        c = cls(depth=depth, width=width, k_heavy=kh)
        off = _HEADER.size
        c.table = (
            np.frombuffer(data, dtype="<i8", count=depth * width, offset=off)
            .reshape(depth, width)
            .copy()
        )
        off += 8 * depth * width
        hk = np.frombuffer(data, dtype="<u8", count=nh, offset=off)
        off += 8 * nh
        hv = np.frombuffer(data, dtype="<i8", count=nh, offset=off)
        c.total = total
        c.heavy = {int(k): int(v) for k, v in zip(hk, hv)}
        return c
