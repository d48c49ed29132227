"""CountSketch / AMS signed-counter sketch (Charikar, Chen,
Farach-Colton, "Finding frequent items in data streams", ICALP 2002;
Alon, Matias, Szegedy, "The space complexity of approximating the
frequency moments", STOC 1996).

The UNBIASED complement to Count-Min: where CM only ever overcounts
(point estimate = min over rows, ``exact <= est <= exact + eps*N``),
CountSketch's signed counters make every per-row estimator unbiased —
``E[s_i(x) * C[i, h_i(x)]] = f_x`` exactly — and the median over
``depth`` rows concentrates it. That buys three queries CM cannot
answer without bias:

* **point frequency**, symmetric error: ``|est - f_x| <= 3*sqrt(F2 /
  width)`` per row with probability >= 2/3 (Chebyshev on the row
  variance ``Var <= F2/width``), amplified exponentially by the median
  over rows — and crucially E[err] = 0, so estimates do not drift up
  under merging the way CM's do;
* **F2 (second frequency moment)** — the AMS estimator: the sum of
  squared counters in one row is an unbiased estimate of
  ``F2 = sum_x f_x^2`` with relative standard error ``<= sqrt(2 /
  width)``; F2 is the self-join size / repetition-concentration
  statistic a planner wants before a many-to-many join;
* **inner product / join size WITH multiplicity**: for two sketches
  built with the SAME (width, depth, seed), the per-row dot product
  ``<C_a[i], C_b[i]>`` is an unbiased estimate of ``sum_x f_x * g_x``
  with ``Var <= 2 * F2(a) * F2(b) / width`` — the unbiased twin of the
  Count-Min inner product in ``operators/joinprofile.py`` (which is
  guaranteed-never-under but biased up).

Execution contract is the shared Aggregator protocol of the reference
(`java/com/google/zetasketch/Aggregator.java:31-106`: create / add /
merge / result / serialize) via ``SketchFamily``, so every fabric
(pandas UDAF, fastscan RDD partials, SQL INIT/MERGE/EXTRACT) picks the
family up unchanged.

Determinism: keys canonicalize and hash through the shared
fingerprint2011 kernel exactly like Count-Min (one rendering per value
regardless of dtype or which batch carried it); row buckets derive by
Kirsch-Mitzenmacher double hashing and row signs from a splitmix64
remix of the same fingerprint, both folded with ``seed``. Counters are
pure addition and the serialized layout is canonical (fixed-shape
array), so a CountSketch built from ANY partitioning / merge order of
the input is BYTE-IDENTICAL to a single-pass build — the same
environment-stability class as DDSketch, stronger than KLL/t-digest.
``seed`` exists so tests (and users needing independent repetitions)
can draw genuinely independent instances; instances only merge /
inner-product with matching (width, depth, seed).
"""

from __future__ import annotations

import struct

import numpy as np
import pandas as pd

from zetasketch_spark.sketches.base import SketchFamily, register_family
from zetasketch_spark.sketches.wire import Reader, pack_header

_MAGIC = b"CSK2"
_ENCODING_VERSION = 1

_GOLDEN = np.uint64(0x9E3779B97F4A7C15)
_MIX1 = np.uint64(0xBF58476D1CE4E5B9)
_MIX2 = np.uint64(0x94D049BB133111EB)
_MAX_DEPTH = 64  # row signs come from the 64 bits of one remix


def _splitmix(x: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer (Steele, Lea, Flood 2014 — public domain),
    vectorized over uint64 with wraparound semantics."""
    x = (x ^ (x >> np.uint64(30))) * _MIX1
    x = (x ^ (x >> np.uint64(27))) * _MIX2
    return x ^ (x >> np.uint64(31))


class CountSketch:
    __slots__ = ("width", "depth", "seed", "counters", "total",
                 "encoding_version", "_seed_fold")

    def __init__(self, width: int = 2048, depth: int = 5, seed: int = 0):
        if width <= 0:
            raise ValueError(f"width must be positive, got {width}")
        if not 1 <= depth <= _MAX_DEPTH:
            raise ValueError(f"depth must be in [1, {_MAX_DEPTH}], got {depth}")
        self.width = int(width)
        self.depth = int(depth)
        self.seed = int(seed) & 0xFFFFFFFFFFFFFFFF
        # seed * golden folded in Python ints (numpy scalar uint64
        # multiply warns on wraparound; the wraparound is intended)
        self._seed_fold = np.uint64(
            (self.seed * 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF)
        self.counters = np.zeros((depth, width), dtype=np.int64)
        self.total = 0
        self.encoding_version = _ENCODING_VERSION

    # -- hashing ---------------------------------------------------------------

    def _derive(self, hashes: np.ndarray):
        """(h1, h2, signbits): double-hash bases for row buckets plus one
        remixed word whose bit i is row i's sign — all folded with the
        seed, so different seeds give (empirically) independent
        instances while seed=0 stays a pure function of the data."""
        base = _splitmix(hashes.astype(np.uint64) ^ self._seed_fold)
        h1 = base & np.uint64(0xFFFFFFFF)
        h2 = (base >> np.uint64(32)) | np.uint64(1)  # odd stride
        signbits = _splitmix(base ^ _GOLDEN)
        return h1, h2, signbits

    def _row_cells(self, hashes: np.ndarray, i: int):
        h1, h2, signbits = self._derive(hashes)
        idx = ((h1 + np.uint64(i) * h2) % np.uint64(self.width)).astype(np.int64)
        sign = 1 - 2 * ((signbits >> np.uint64(i)) & np.uint64(1)).astype(np.int64)
        return idx, sign

    # -- update ----------------------------------------------------------------

    def add_series(self, values: pd.Series) -> None:
        from zetasketch_spark.hashing import (canon_key_series,
                                              fingerprint_str_series)

        values = pd.Series(values).dropna()
        if len(values) == 0:
            return
        # same batching discipline as CountMinSketch.add_series:
        # aggregate duplicates on the RAW dtype first, canonicalize only
        # the unique keys, re-group if canonicalization collided (7 vs '7')
        vc = values.value_counts()
        vc.index = canon_key_series(pd.Series(vc.index.to_numpy())).to_numpy()
        if not vc.index.is_unique:
            vc = vc.groupby(level=0).sum()
        self._add_hashed(fingerprint_str_series(vc.index.to_series()),
                         vc.to_numpy(dtype=np.int64))

    def add_weighted_series(self, keys: pd.Series, weights: pd.Series) -> None:
        """Weighted update: key k contributes weight w instead of 1 — the
        estimators stay unbiased with f_x = the key's total weight (AMS
        treat updates as (key, delta) pairs), and, unlike Count-Min's
        weighted path, the state remains BYTE-identical to adding k
        w times (signed counters, no candidate ordering). Rows with null
        key/weight or weight <= 0 are dropped."""
        from zetasketch_spark.hashing import (canon_key_series,
                                              fingerprint_str_series)

        keys = pd.Series(keys)
        weights = pd.Series(weights)
        mask = keys.notna() & weights.notna() & (weights > 0)
        keys, weights = keys[mask], weights[mask].astype("int64")
        if len(keys) == 0:
            return
        ws = weights.groupby(keys.to_numpy()).sum()
        ws.index = canon_key_series(pd.Series(ws.index.to_numpy())).to_numpy()
        if not ws.index.is_unique:
            ws = ws.groupby(level=0).sum()
        self._add_hashed(fingerprint_str_series(ws.index.to_series()),
                         ws.to_numpy(dtype=np.int64))

    def _add_hashed(self, hashes: np.ndarray, counts: np.ndarray) -> None:
        h1, h2, signbits = self._derive(hashes)
        for i in range(self.depth):
            idx = ((h1 + np.uint64(i) * h2) % np.uint64(self.width)).astype(np.int64)
            sign = 1 - 2 * ((signbits >> np.uint64(i)) & np.uint64(1)).astype(np.int64)
            np.add.at(self.counters[i], idx, sign * counts)
        self.total += int(counts.sum())

    # -- queries ---------------------------------------------------------------

    def point_query_series(self, keys: pd.Series) -> np.ndarray:
        """Median-of-rows unbiased frequency estimates (int64, median of
        an even depth rounds half away from the outer rows toward the
        mean of the two middle estimators)."""
        from zetasketch_spark.hashing import (canon_key_series,
                                              fingerprint_str_series)

        keys = pd.Series(keys)
        hashes = fingerprint_str_series(canon_key_series(keys))
        ests = np.empty((self.depth, len(keys)), dtype=np.int64)
        for i in range(self.depth):
            idx, sign = self._row_cells(hashes, i)
            ests[i] = sign * self.counters[i][idx]
        return np.rint(np.median(ests, axis=0)).astype(np.int64)

    def f2_estimate(self) -> float:
        """AMS second-moment estimate: median over rows of the row's sum
        of squared counters (each row unbiased, RSE <= sqrt(2/width))."""
        sq = (self.counters.astype(np.float64) ** 2).sum(axis=1)
        return float(np.median(sq))

    def inner_product(self, other: "CountSketch") -> float:
        """Unbiased estimate of ``sum_x f_x * g_x`` (join size WITH
        multiplicity when both sides sketch a join key). Requires equal
        (width, depth, seed) — the rows must share hash functions."""
        self._check_compatible(other, "inner_product")
        dots = (self.counters.astype(np.float64)
                * other.counters.astype(np.float64)).sum(axis=1)
        return float(np.median(dots))

    # -- merge / serde -----------------------------------------------------------

    def _check_compatible(self, other: "CountSketch", op: str) -> None:
        if (self.width, self.depth, self.seed) != (
                other.width, other.depth, other.seed):
            raise ValueError(
                f"cannot {op} CountSketch(width={self.width}, depth="
                f"{self.depth}, seed={self.seed}) with CountSketch(width="
                f"{other.width}, depth={other.depth}, seed={other.seed})")

    def merge(self, other: "CountSketch") -> None:
        self._check_compatible(other, "merge")
        self.counters += other.counters
        self.total += other.total

    def serialize(self) -> bytes:
        return (pack_header(_MAGIC, _ENCODING_VERSION)
                + struct.pack("<iiQq", self.width, self.depth,
                              self.seed, self.total)
                + self.counters.tobytes())

    @classmethod
    def deserialize(cls, data: bytes) -> "CountSketch":
        r = Reader(data, _MAGIC, "CountSketch")
        width, depth, seed, total = r.unpack("<iiQq")
        if width <= 0 or not 1 <= depth <= _MAX_DEPTH:
            raise ValueError(f"invalid CountSketch shape {depth}x{width}")
        # the counters must fit the payload BEFORE width*depth sizes an
        # allocation: a lying header from a torn write fails loudly
        counters = r.array(np.int64, width * depth)
        sk = cls(width=width, depth=depth, seed=seed)
        sk.counters = counters.reshape(depth, width).copy()
        sk.total = total
        sk.encoding_version = r.version  # trailing bytes ignored
        return sk


class CountSketchFamily(SketchFamily):
    """Signed-counter frequency/F2 sketch through the shared harness.
    ``result()`` surfaces the group's AMS F2 estimate + exact row count
    — the repetition-concentration statistic of the group's key column."""

    name = "countsketch"
    state_type = CountSketch
    result_fields = [("f2_est", "double"), ("n", "bigint")]

    def __init__(self, width: int = 2048, depth: int = 5, seed: int = 0):
        self.width = width
        self.depth = depth
        self.seed = seed

    def make(self):
        return CountSketch(self.width, self.depth, self.seed)

    def update(self, state, values):
        state.add_series(values)
        return state

    def result(self, state):
        return (state.f2_estimate(), state.total)


register_family("countsketch", CountSketchFamily)
