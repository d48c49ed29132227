"""Count-Min sketch (Cormode & Muthukrishnan 2005) with a bounded
heavy-hitter candidate set.

Follows the same Aggregator contract as the reference's HLL++
(`java/com/google/zetasketch/Aggregator.java:31-106`): vectorized batch
update, associative merge, serializable state. Published bounds (pytest
oracles): a point query overestimates the true count by at most ε·N with
probability ≥ 1−δ, where ε = e/width and δ = e^−depth.

Row hashes are fingerprint2011 (shared kernel); the ``depth`` row hashes
derive by double hashing h_i = h1 + i·h2 (Kirsch–Mitzenmacher), so one hash
pass per batch serves all rows.

The candidate set (capped, Misra-Gries-style pruning) makes distributed
top-k exact-rankable: partials track locally heavy keys, merge unions and
re-prunes, the final top-k ranks candidates by their CM estimates.
"""

from __future__ import annotations

import struct

import numpy as np
import pandas as pd

from zetasketch_spark.hashing import (
    canon_key_series,
    fingerprint_canon_series,
    fingerprint_str_series,
)
from zetasketch_spark.sketches.base import SketchFamily, register_family
from zetasketch_spark.sketches.wire import Reader, pack_header

_MAGIC = b"CMS2"
_ENCODING_VERSION = 1


class CountMinSketch:
    __slots__ = ("width", "depth", "counters", "total", "candidates",
                 "max_candidates", "encoding_version")

    def __init__(self, width: int = 2048, depth: int = 5, max_candidates: int = 512):
        self.width = width
        self.depth = depth
        self.counters = np.zeros((depth, width), dtype=np.int64)
        self.total = 0
        self.candidates: dict[str, int] = {}  # locally-exact candidate counts
        self.max_candidates = max_candidates
        self.encoding_version = _ENCODING_VERSION

    # -- update --------------------------------------------------------------

    def add_series(self, values: pd.Series) -> None:
        values = values.dropna()
        if len(values) == 0:
            return
        # aggregate duplicates within the batch first (value_counts on the
        # RAW dtype — int64 groupby is far cheaper than string groupby)
        self._add_counts(values.value_counts())

    def add_weighted_series(self, keys: pd.Series, weights: pd.Series) -> None:
        """Weighted update: key k contributes weight w instead of 1 —
        the CM guarantees hold verbatim with N = total weight (Cormode &
        Muthukrishnan 2005 treat updates as (key, count) pairs), and the
        Misra-Gries candidate prune stays mergeable for any positive
        integer weights (Agarwal et al., 'Mergeable Summaries', cover
        weighted MG). Rows with null key/weight or weight <= 0 are
        dropped. Keys feed the counters in sorted canonical order
        (groupby); counters, total and candidate content do not depend
        on that order."""
        keys = pd.Series(keys)
        weights = pd.Series(weights)
        mask = keys.notna() & weights.notna() & (weights > 0)
        keys, weights = keys[mask], weights[mask].astype("int64")
        if len(keys) == 0:
            return
        self._add_counts(weights.groupby(keys.to_numpy()).sum())

    def _add_counts(self, vc: pd.Series) -> None:
        """Absorb per-raw-key counts: canonicalize only the UNIQUE keys —
        canon is a pure per-value function, so counter cells, point
        queries and candidate keys share one rendering across batches and
        dtypes (`hashing.fingerprint_canon_series`). An object batch can
        in principle hold values that only collide post-canon (7 vs '7'),
        so re-group if the canonical index is not unique."""
        vc.index = canon_key_series(pd.Series(vc.index.to_numpy())).to_numpy()
        if not vc.index.is_unique:
            vc = vc.groupby(level=0).sum()
        counts = vc.to_numpy(dtype=np.int64)
        self._add_hashed(fingerprint_str_series(vc.index.to_series()), counts)
        self.total += int(counts.sum())
        # fold the WHOLE batch into the candidate summary vectorized (no
        # per-key Python loop), then apply the Misra-Gries decrement prune
        cur = pd.Series(self.candidates, dtype="int64")
        merged = vc.add(cur, fill_value=0).astype("int64") if len(cur) else vc
        self.candidates = {str(k): int(v) for k, v in
                           self._mg_prune_series(merged).items()}

    def _add_hashed(self, hashes: np.ndarray, counts: np.ndarray) -> None:
        h1 = hashes & np.uint64(0xFFFFFFFF)
        h2 = (hashes >> np.uint64(32)) | np.uint64(1)  # odd
        for i in range(self.depth):
            idx = ((h1 + np.uint64(i) * h2) % np.uint64(self.width)).astype(np.int64)
            np.add.at(self.counters[i], idx, counts)

    def _mg_prune_series(self, s: pd.Series) -> pd.Series:
        """Misra-Gries / SpaceSaving prune (Agarwal et al., 'Mergeable
        Summaries'): when over capacity, subtract the (cap+1)-th largest
        count from everything and drop non-positives. Unlike truncation,
        this preserves the mergeable guarantee: any key with global share
        > 1/(max_candidates+1) survives every merge, and each surviving
        count is a lower bound within the decremented mass. The survivors
        are exactly the keys counted above the cut, whatever the order of
        ties at it."""
        if len(s) <= self.max_candidates:
            return s
        s = s.sort_values(ascending=False)
        cut = int(s.iloc[self.max_candidates])
        s = s.iloc[: self.max_candidates] - cut
        return s[s > 0]

    def _prune(self) -> None:
        if len(self.candidates) > self.max_candidates:
            pruned = self._mg_prune_series(pd.Series(self.candidates, dtype="int64"))
            self.candidates = {str(k): int(v) for k, v in pruned.items()}

    # -- query ---------------------------------------------------------------

    def point_query_series(self, keys: pd.Series) -> np.ndarray:
        hashes = fingerprint_canon_series(keys)
        h1 = hashes & np.uint64(0xFFFFFFFF)
        h2 = (hashes >> np.uint64(32)) | np.uint64(1)
        est = np.full(len(keys), np.iinfo(np.int64).max, dtype=np.int64)
        for i in range(self.depth):
            idx = ((h1 + np.uint64(i) * h2) % np.uint64(self.width)).astype(np.int64)
            est = np.minimum(est, self.counters[i][idx])
        return est

    def heavy_hitters(self, k: int) -> list[tuple[str, int]]:
        """Top-k candidates ranked by CM estimate of the *string form* of
        the key (candidates are tracked as strings)."""
        if not self.candidates:
            return []
        keys = pd.Series(list(self.candidates.keys()))
        est = self.point_query_series(keys)
        order = np.argsort(-est, kind="stable")[:k]
        return [(keys.iloc[i], int(est[i])) for i in order]

    # -- merge / serde ---------------------------------------------------------

    def merge(self, other: "CountMinSketch") -> None:
        if (self.width, self.depth) != (other.width, other.depth):
            raise ValueError(
                f"cannot merge CM({self.width}x{self.depth}) with CM({other.width}x{other.depth})")
        self.counters += other.counters
        self.total += other.total
        for k, c in other.candidates.items():
            self.candidates[k] = self.candidates.get(k, 0) + c
        self._prune()

    def serialize(self) -> bytes:
        # candidates as length-prefixed UTF-8 (keys may contain any byte),
        # in key order: the dict's insertion order follows batch history,
        # its content does not (while no prune has run)
        keys = sorted(self.candidates)
        key_blobs = [k.encode("utf-8") for k in keys]
        key_lens = np.array([len(b) for b in key_blobs], dtype=np.int32)
        cand_keys = b"".join(key_blobs)
        cand_counts = np.fromiter((self.candidates[k] for k in keys),
                                  dtype=np.int64, count=len(keys))
        header = pack_header(_MAGIC, _ENCODING_VERSION) + struct.pack(
            "<iiqii", self.width, self.depth,
            self.total, self.max_candidates, len(self.candidates))
        return (header + self.counters.tobytes()
                + cand_counts.tobytes() + key_lens.tobytes()
                + struct.pack("<i", len(cand_keys)) + cand_keys)

    @classmethod
    def deserialize(cls, data: bytes) -> "CountMinSketch":
        """Parse a serialized state; a blob this module could not have
        written (non-positive dimensions, a negative candidate count,
        counters or candidates running past the buffer, key lengths that
        do not sum to the key bytes, truncation anywhere) raises
        ValueError before anything is allocated."""
        r = Reader(data, _MAGIC, "CountMin")
        width, depth, total, maxc, ncand = r.unpack("<iiqii")
        if width <= 0 or depth <= 0:
            raise ValueError(
                f"corrupt CountMin sketch: {depth}x{width} counters")
        counters = r.array(np.int64, width * depth)
        counts = r.array(np.int64, ncand)
        key_lens = r.array(np.int32, ncand)
        (klen,) = r.unpack("<i")
        key_bytes = r.array(np.uint8, klen).tobytes()
        if (key_lens < 0).any() or int(key_lens.sum()) != klen:
            raise ValueError(
                f"corrupt CountMin sketch: candidate key lengths do not "
                f"sum to the {klen} key bytes")
        sk = cls(width=width, depth=depth, max_candidates=maxc)
        sk.counters = counters.reshape(depth, width).copy()
        keys = []
        pos = 0
        for ln in key_lens.tolist():
            keys.append(key_bytes[pos:pos + ln].decode("utf-8"))
            pos += ln
        sk.candidates = dict(zip(keys, counts.tolist()))
        sk.total = total
        sk.encoding_version = r.version  # trailing bytes ignored
        return sk


class CountMinFamily(SketchFamily):
    name = "countmin"
    state_type = CountMinSketch
    result_fields = [("total", "bigint")]

    def __init__(self, width: int = 2048, depth: int = 5, max_candidates: int = 512):
        self.width = width
        self.depth = depth
        self.max_candidates = max_candidates

    def make(self):
        return CountMinSketch(self.width, self.depth, self.max_candidates)

    def update(self, state, values):
        state.add_series(values)
        return state

    def prepare_arrow(self, arr):
        """A struct<key, weight> value slices to ``(keys, weights)``
        pandas pairs for ``add_weighted_series`` (`operators/trending.py`)."""
        import pyarrow as pa

        if pa.types.is_struct(arr.type):
            from zetasketch_spark.sketches.base import (_PairPrepared,
                                                        _SeriesPrepared)

            return _PairPrepared(*(_SeriesPrepared(f.to_pandas())
                                   for f in arr.flatten()))
        return super().prepare_arrow(arr)

    def update_prepared(self, state, prepared_slice):
        if isinstance(prepared_slice, tuple):
            state.add_weighted_series(*prepared_slice)
        else:
            state.add_series(prepared_slice)
        return state

    def result(self, state):
        return (state.total,)


register_family("countmin", CountMinFamily)
