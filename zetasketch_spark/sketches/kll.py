"""KLL quantile sketch (Karnin, Lang, Liberty — FOCS 2016).

Mergeable rank/quantile sketch over doubles with O((1/ε)·√log(1/δ)) space.
Level h holds items each representing 2^h input items; a level over
capacity is *compacted*: sorted, a random odd/even half promoted to level
h+1. Capacities shrink geometrically (c = 2/3) from the top level down,
with a floor of 2 — the KLL schedule.

Published-bound pytest oracle (FIXTURES.md F6): normalized rank error vs
exact ``numpy.quantile`` within ~1.5/k at k=200 on seeded streams.

Randomness uses a per-instance counter-seeded Generator, so a given update
sequence is deterministic (reproducible tests) while odd/even choices stay
unbiased across compactions.
"""

from __future__ import annotations

import struct

import numpy as np
import pandas as pd

from zetasketch_spark.sketches.base import SketchFamily, register_family
from zetasketch_spark.sketches.wire import Reader, pack_header

_MAGIC = b"KLL2"
_ENCODING_VERSION = 1
_C = 2.0 / 3.0
_MAX_K = 65535  # the published KLL range (Apache DataSketches: 8..65535)
_MAX_LEVELS = 63  # level h weighs 2^h, an int64


class KllSketch:
    __slots__ = ("k", "levels", "n", "_rng_counter", "_min", "_max",
                 "encoding_version")

    def __init__(self, k: int = 200):
        if not 8 <= k <= _MAX_K:
            raise ValueError(f"KLL needs 8 <= k <= {_MAX_K}, got {k}")
        self.k = k
        self.levels: list[np.ndarray] = [np.empty(0, dtype=np.float64)]
        self.n = 0
        self._rng_counter = 0
        self.encoding_version = _ENCODING_VERSION
        self._min = np.inf
        self._max = -np.inf

    # -- internals -------------------------------------------------------------

    def _capacity(self, level: int, num_levels: int) -> int:
        """Capacity of ``level`` given the current height (top level has
        capacity k, lower levels shrink by c per step)."""
        depth = num_levels - 1 - level
        return max(2, int(np.ceil(self.k * (_C ** depth))))

    def _rng(self) -> np.random.Generator:
        self._rng_counter += 1
        return np.random.default_rng(0x5EED ^ (self._rng_counter * 0x9E3779B9) & 0xFFFFFFFF)

    def _compress(self) -> None:
        while True:
            num = len(self.levels)
            total_cap = sum(self._capacity(i, num) for i in range(num))
            if sum(len(l) for l in self.levels) <= total_cap:
                return
            # find lowest level over its capacity
            for h in range(num):
                cap = self._capacity(h, num)
                arr = self.levels[h]
                if len(arr) > cap:
                    arr = np.sort(arr)
                    offset = int(self._rng().integers(2))
                    promoted = arr[offset::2]
                    self.levels[h] = np.empty(0, dtype=np.float64)
                    if h + 1 == num:
                        self.levels.append(promoted.copy())
                    else:
                        self.levels[h + 1] = np.concatenate([self.levels[h + 1], promoted])
                    break
            else:
                return

    # -- contract ----------------------------------------------------------------

    def add_series(self, values) -> None:
        arr = np.asarray(pd.Series(values).dropna(), dtype=np.float64)
        if len(arr) == 0:
            return
        self.n += len(arr)
        self._min = min(self._min, float(arr.min()))
        self._max = max(self._max, float(arr.max()))
        self.levels[0] = np.concatenate([self.levels[0], arr])
        self._compress()

    def merge(self, other: "KllSketch") -> None:
        if self.k != other.k:
            raise ValueError(f"cannot merge KLL(k={self.k}) with KLL(k={other.k})")
        while len(self.levels) < len(other.levels):
            self.levels.append(np.empty(0, dtype=np.float64))
        for h, arr in enumerate(other.levels):
            if len(arr):
                self.levels[h] = np.concatenate([self.levels[h], arr])
        self.n += other.n
        self._min = min(self._min, other._min)
        self._max = max(self._max, other._max)
        self._compress()

    def quantile(self, q: float) -> float:
        qs = self.quantiles([q])
        return qs[0]

    def quantiles(self, qs) -> list[float]:
        if self.n == 0:
            return [float("nan")] * len(qs)
        items = np.concatenate(self.levels)
        weights = np.concatenate(
            [np.full(len(arr), 1 << h, dtype=np.int64) for h, arr in enumerate(self.levels)])
        order = np.argsort(items, kind="stable")
        items = items[order]
        weights = weights[order]
        cum = np.cumsum(weights)
        total = cum[-1]
        out = []
        for q in qs:
            target = q * total
            i = int(np.searchsorted(cum, target, side="left"))
            i = min(i, len(items) - 1)
            out.append(float(items[i]))
        return out

    def rank(self, value: float) -> float:
        """Estimated normalized rank of ``value``."""
        if self.n == 0:
            return float("nan")
        total = 0
        below = 0
        for h, arr in enumerate(self.levels):
            w = 1 << h
            total += w * len(arr)
            below += w * int((arr <= value).sum())
        return below / total

    # -- serde ---------------------------------------------------------------------

    def serialize(self) -> bytes:
        parts = [pack_header(_MAGIC, _ENCODING_VERSION),
                 struct.pack("<iqiqdd", self.k, self.n, len(self.levels),
                             self._rng_counter, self._min, self._max)]
        for arr in self.levels:
            parts.append(struct.pack("<i", len(arr)))
            parts.append(np.ascontiguousarray(arr).tobytes())
        return b"".join(parts)

    @classmethod
    def deserialize(cls, data: bytes) -> "KllSketch":
        """Parse a serialized state; a blob this module could not have
        written (k out of range, n < 0, an impossible level count, a
        level running past the buffer, truncation anywhere) raises
        ValueError, never a silent short parse."""
        r = Reader(data, _MAGIC, "KLL")
        k, n, nlev, ctr, mn, mx = r.unpack("<iqiqdd")
        if n < 0 or not 0 <= nlev <= _MAX_LEVELS:
            raise ValueError(f"corrupt KLL sketch: n={n} with {nlev} levels")
        sk = cls(k=k)
        levels = [r.array(np.float64, r.unpack("<i")[0]).copy()
                  for _ in range(nlev)]
        sk.encoding_version = r.version  # trailing bytes ignored
        sk.n = n
        sk._rng_counter = ctr
        sk._min, sk._max = mn, mx
        sk.levels = levels or [np.empty(0, dtype=np.float64)]
        return sk


class _FloatPrepared:
    __slots__ = ("values", "valid")

    def __init__(self, values, valid):
        self.values = values
        self.valid = valid

    def __getitem__(self, idx):
        v = self.values[idx]
        return v if self.valid is None else v[self.valid[idx]]


def _prepare_float_arrow(arr):
    import pyarrow as pa

    valid = np.asarray(arr.is_valid()) if arr.null_count else None
    a = arr.cast(pa.float64()) if arr.type != pa.float64() else arr
    if a.null_count:
        a = a.fill_null(0.0)
    vals = a.to_numpy(zero_copy_only=False)
    nan = np.isnan(vals)
    if nan.any():
        # the pandas fabric's Series.dropna() drops NaN too — mask it here
        # so states stay byte-equal across fabrics (CLAUDE.md invariant)
        valid = ~nan if valid is None else (valid & ~nan)
        vals = np.where(nan, 0.0, vals)
    return _FloatPrepared(vals, valid)


class KllFamily(SketchFamily):
    name = "kll"
    state_type = KllSketch

    def __init__(self, k: int = 200, quantiles: tuple = (0.1, 0.5, 0.9, 0.99)):
        from zetasketch_spark.sketches.base import quantile_result_fields

        self.k = k
        self.quantiles = tuple(quantiles)
        self.result_fields = quantile_result_fields(self.quantiles)

    def make(self):
        return KllSketch(self.k)

    def update(self, state, values):
        state.add_series(values)
        return state

    def prepare_arrow(self, arr):
        return _prepare_float_arrow(arr)

    def update_prepared(self, state, values):
        arr = np.asarray(values)
        if len(arr) == 0:
            return state
        state.n += len(arr)
        state._min = min(state._min, float(arr.min()))
        state._max = max(state._max, float(arr.max()))
        state.levels[0] = np.concatenate([state.levels[0], arr])
        state._compress()
        return state

    def result(self, state):
        return (*state.quantiles(self.quantiles), state.n)


register_family("kll", KllFamily)
