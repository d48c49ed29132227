"""t-digest (Dunning & Ertl, "Computing Extremely Accurate Quantiles Using
t-Digests"), merging-digest variant with the k1 (arcsine) scale function.

Centroids partition the value axis with sizes bounded by the scale
function, giving relative accuracy that is tightest at the tails —
complementary to KLL's uniform rank error. Compression is fully
vectorized: sort by mean, map cumulative quantiles through
k(q) = δ/(2π)·asin(2q−1), cluster by floor(k), aggregate weighted means
with ``np.add.reduceat``.

Mergeable (concat + recompress) and serializable like every family here.
Pytest oracle (FIXTURES.md F6): |rank(quantile(q)) − q| small, tails tight,
vs exact numpy quantiles on seeded streams.
"""

from __future__ import annotations

import math
import struct

import numpy as np
import pandas as pd

from zetasketch_spark.sketches.base import SketchFamily, register_family

_MAGIC = b"TDG2"
_ENCODING_VERSION = 1


class TDigest:
    __slots__ = ("delta", "means", "weights", "n", "_buffer", "_buffer_limit",
                 "_min", "_max", "encoding_version")

    def __init__(self, delta: float = 200.0):
        self.delta = delta
        self.means = np.empty(0, dtype=np.float64)
        self.weights = np.empty(0, dtype=np.float64)
        self.n = 0
        self._buffer: list[np.ndarray] = []
        self._buffer_limit = int(10 * delta)
        self._min = np.inf
        self._max = -np.inf
        self.encoding_version = _ENCODING_VERSION

    def _k(self, q: np.ndarray) -> np.ndarray:
        return (self.delta / (2 * np.pi)) * np.arcsin(2 * np.clip(q, 0.0, 1.0) - 1)

    def _compress(self) -> None:
        if self._buffer:
            bm = np.concatenate(self._buffer)
            means = np.concatenate([self.means, bm])
            weights = np.concatenate([self.weights, np.ones(len(bm))])
            self._buffer = []
        else:
            means, weights = self.means, self.weights
        if len(means) == 0:
            return
        order = np.argsort(means, kind="stable")
        means = means[order]
        weights = weights[order]
        total = weights.sum()
        # cluster id by floor of the scale function at each centroid's left edge
        qleft = (np.cumsum(weights) - weights) / total
        cluster = np.floor(self._k(qleft)).astype(np.int64)
        # group-aggregate: boundaries where cluster id changes
        boundary = np.empty(len(cluster), dtype=bool)
        boundary[0] = True
        boundary[1:] = cluster[1:] != cluster[:-1]
        starts = np.flatnonzero(boundary)
        w = np.add.reduceat(weights, starts)
        m = np.add.reduceat(weights * means, starts) / w
        self.means = m
        self.weights = w

    # -- contract ----------------------------------------------------------------

    def add_series(self, values) -> None:
        arr = np.asarray(pd.Series(values).dropna(), dtype=np.float64)
        if len(arr) == 0:
            return
        self.n += len(arr)
        self._min = min(self._min, float(arr.min()))
        self._max = max(self._max, float(arr.max()))
        self._buffer.append(arr)
        if sum(len(b) for b in self._buffer) >= self._buffer_limit:
            self._compress()

    def merge(self, other: "TDigest") -> None:
        if self.delta != other.delta:
            raise ValueError(f"cannot merge t-digest(delta={self.delta}) with delta={other.delta}")
        other._compress()
        self.means = np.concatenate([self.means, other.means])
        self.weights = np.concatenate([self.weights, other.weights])
        self.n += other.n
        self._min = min(self._min, other._min)
        self._max = max(self._max, other._max)
        self._compress()

    def quantile(self, q: float) -> float:
        return self.quantiles([q])[0]

    def quantiles(self, qs) -> list[float]:
        self._compress()
        if len(self.means) == 0:
            return [float("nan")] * len(qs)
        w = self.weights
        total = w.sum()
        # centroid midpoints in cumulative-weight space
        cum = np.cumsum(w) - w / 2
        out = []
        for q in qs:
            target = np.clip(q, 0.0, 1.0) * total
            if target <= cum[0]:
                out.append(float(self._min) if np.isfinite(self._min) else float(self.means[0]))
                continue
            if target >= cum[-1]:
                out.append(float(self._max) if np.isfinite(self._max) else float(self.means[-1]))
                continue
            i = int(np.searchsorted(cum, target, side="right"))
            # interpolate between centroid i-1 and i
            t = (target - cum[i - 1]) / (cum[i] - cum[i - 1])
            out.append(float(self.means[i - 1] + t * (self.means[i] - self.means[i - 1])))
        return out

    # -- serde ---------------------------------------------------------------------

    def serialize(self) -> bytes:
        self._compress()
        from zetasketch_spark.sketches.wire import pack_header

        header = pack_header(_MAGIC, _ENCODING_VERSION) + struct.pack(
            "<dqidd", self.delta, self.n, len(self.means), self._min, self._max)
        return header + self.means.tobytes() + self.weights.tobytes()

    @classmethod
    def deserialize(cls, data: bytes) -> "TDigest":
        """Parse a serialized state; a blob this module could not have
        written (δ not finite and positive, a negative count or centroid
        count, centroids running past the buffer, truncation anywhere)
        raises ValueError before anything is allocated — never a bare
        ``struct.error``."""
        from zetasketch_spark.sketches.wire import read_header

        fmt = "<dqidd"
        version, off = read_header(data, _MAGIC, "t-digest")
        try:
            delta, n, ncent, mn, mx = struct.unpack_from(fmt, data, off)
        except struct.error as e:
            raise ValueError(f"truncated t-digest: {e}") from None
        off += struct.calcsize(fmt)
        if not (math.isfinite(delta) and delta > 0) or n < 0 or ncent < 0 \
                or off + 16 * ncent > len(data):
            raise ValueError(
                f"corrupt t-digest: delta={delta}, n={n}, {ncent} centroids "
                f"in a {len(data)}-byte blob")
        td = cls(delta=delta)
        td.encoding_version = version  # trailing bytes ignored (forward compat)
        td.n = n
        td._min, td._max = mn, mx
        td.means = np.frombuffer(data, dtype=np.float64, count=ncent, offset=off).copy()
        off += ncent * 8
        td.weights = np.frombuffer(data, dtype=np.float64, count=ncent, offset=off).copy()
        return td


class TDigestFamily(SketchFamily):
    name = "tdigest"

    def __init__(self, delta: float = 200.0, quantiles: tuple = (0.1, 0.5, 0.9, 0.99)):
        from zetasketch_spark.sketches.base import quantile_result_fields

        self.delta = delta
        self.quantiles = tuple(quantiles)
        self.result_fields = quantile_result_fields(self.quantiles)

    def make(self):
        return TDigest(self.delta)

    def update(self, state, values):
        state.add_series(values)
        return state

    def prepare_arrow(self, arr):
        from zetasketch_spark.sketches.kll import _prepare_float_arrow

        return _prepare_float_arrow(arr)

    def update_prepared(self, state, values):
        arr = np.asarray(values)
        if len(arr) == 0:
            return state
        state.n += len(arr)
        state._min = min(state._min, float(arr.min()))
        state._max = max(state._max, float(arr.max()))
        state._buffer.append(arr)
        if sum(len(b) for b in state._buffer) >= state._buffer_limit:
            state._compress()
        return state

    def merge(self, a, b):
        a.merge(b)
        return a

    def serialize(self, state):
        return state.serialize()

    def deserialize(self, data):
        return TDigest.deserialize(bytes(data))

    def result(self, state):
        return (*state.quantiles(self.quantiles), state.n)


register_family("tdigest", TDigestFamily)
