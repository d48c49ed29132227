"""DDSketch: quantiles with a relative-error guarantee (Masson, Rim, Lee
— "DDSketch: a fast and fully-mergeable quantile sketch with
relative-error guarantees", VLDB 2019).

Where KLL bounds the RANK error of a quantile estimate, DDSketch bounds
the VALUE error: every returned quantile is within ``alpha`` relative
error of the true order statistic — the right contract for latency-style
metrics where p99 = 2.0 s vs 2.2 s matters but rank slop does not.

Design (the paper's log-bucketed store, vectorized):

* gamma = (1 + alpha) / (1 - alpha); a positive value v lands in bucket
  ``i = ceil(log_gamma(v))``, i.e. gamma^(i-1) < v <= gamma^i. The bucket
  midpoint estimate ``2·gamma^i / (gamma + 1)`` is within alpha relative
  error of EVERY value in the bucket — that is the whole guarantee.
* Three stores: negative values (mirrored indexing on |v|), an exact zero
  count, positive values. NaN/null is dropped (SQL aggregate semantics);
  non-finite values raise — there is no bucket for infinity and silently
  clamping would corrupt the estimate.
* Counts are pure addition, so merge is exact: a DDSketch built from any
  partitioning of the input is BYTE-IDENTICAL to one built in a single
  pass (no randomness, no compaction schedule — unlike KLL/t-digest,
  where cross-partition equality is semantic, not byte-level). The
  serialized form sorts bucket indices, making the state canonical.
* ``max_buckets`` bounds memory (the paper's collapsing variant): when a
  store exceeds it, the buckets holding the LOWEST global quantiles fold
  into the boundary bucket (lowest-|v| buckets of the positive store,
  largest-|v| buckets of the mirrored negative store). Low quantiles
  lose the guarantee after collapse; high quantiles — the latency design
  point — keep it, for positive AND negative data. Collapse makes byte-equality across
  partitionings history-dependent, so the default (2048 per store,
  ~9 decades of dynamic range at alpha = 0.01) is sized to never
  trigger on sane metric data; the bound is a memory SAFETY NET for
  adversarial/10^12-row inputs, not a steady-state mechanism.

Reference seam: the reference library is HLL-only; DDSketch implements
the same Aggregator contract (``Aggregator.java:31-106``: create / add /
merge / result / serialize) through ``SketchFamily``, so every execution
fabric (pandas UDAF, Arrow partials, the fastscan RDD path, SQL
INIT/MERGE/EXTRACT) picks it up unchanged.
"""

from __future__ import annotations

import math
import struct

import numpy as np
import pandas as pd

from zetasketch_spark.sketches.base import (
    SketchFamily, quantile_result_fields, register_family)

_MAGIC = b"DDS2"  # trailing digit = layout generation (wire.py convention)
_ENCODING_VERSION = 1


class DDSketch:
    __slots__ = ("alpha", "max_buckets", "gamma", "_inv_log_gamma",
                 "pos", "neg", "zero_count", "n", "_min", "_max",
                 "encoding_version")

    def __init__(self, alpha: float = 0.01, max_buckets: int = 2048):
        if not 0.0 < alpha < 1.0:
            raise ValueError(f"alpha must be in (0, 1), got {alpha}")
        self.alpha = float(alpha)
        self.max_buckets = int(max_buckets)
        self.gamma = (1.0 + alpha) / (1.0 - alpha)
        self._inv_log_gamma = 1.0 / math.log(self.gamma)
        self.pos: dict[int, int] = {}
        self.neg: dict[int, int] = {}
        self.zero_count = 0
        self.n = 0
        self._min = math.inf
        self._max = -math.inf
        self.encoding_version = _ENCODING_VERSION

    # -- internals ---------------------------------------------------------

    def _indices(self, magnitudes: np.ndarray) -> np.ndarray:
        # ceil(log_gamma(v)); ~1 ulp of log() error can shift an exact
        # bucket-boundary value one bucket, which still satisfies the
        # alpha bound (midpoints of adjacent buckets differ by < 2*alpha
        # relative, and boundary values are within alpha of both)
        return np.ceil(np.log(magnitudes) * self._inv_log_gamma).astype(np.int64)

    @staticmethod
    def _add_counts(store: dict[int, int], idx: np.ndarray) -> None:
        u, c = np.unique(idx, return_counts=True)
        for i, k in zip(u.tolist(), c.tolist()):
            store[i] = store.get(i, 0) + k

    def _collapse(self) -> None:
        """Bound each store to ``max_buckets`` by folding the buckets
        holding the LOWEST global quantiles into the boundary bucket —
        the lowest-index (smallest-value) buckets of the positive store,
        but the HIGHEST-index (largest-|v|, i.e. most negative) buckets
        of the mirrored negative store. Folding the same end of both
        stores would silently destroy p90/p99 for negative-valued
        metrics, the exact quantiles the collapse contract promises to
        keep."""
        if self.max_buckets <= 0:
            return
        for store, keep_high in ((self.pos, True), (self.neg, False)):
            if len(store) > self.max_buckets:
                keys = sorted(store, reverse=not keep_high)
                cut = len(keys) - self.max_buckets
                boundary = keys[cut]
                folded = sum(store.pop(k) for k in keys[:cut])
                store[boundary] += folded

    def _midpoint(self, index: int) -> float:
        # log-space via np.exp: a bucket at the edge of the double range
        # must degrade to inf / 0.0 — which quantiles() then clamps to
        # the observed min/max — instead of float.__pow__ raising
        # OverflowError for finite inputs near DBL_MAX
        with np.errstate(over="ignore", under="ignore"):
            return float(np.exp(index * math.log(self.gamma))
                         * (2.0 / (self.gamma + 1.0)))

    # -- contract ----------------------------------------------------------

    def add_array(self, arr: np.ndarray) -> None:
        """Absorb a float64 numpy batch (NaN already dropped upstream)."""
        if len(arr) == 0:
            return
        if not np.isfinite(arr).all():
            raise ValueError(
                "DDSketch cannot bucket non-finite values (log-scale "
                "indexing has no bucket for ±inf)")
        self.n += len(arr)
        # + 0.0 turns -0.0 into 0.0: which zero numpy's min/max returns
        # depends on where it sits in the batch, so batching would show
        self._min = min(self._min, float(arr.min()) + 0.0)
        self._max = max(self._max, float(arr.max()) + 0.0)
        pos = arr[arr > 0.0]
        neg = arr[arr < 0.0]
        self.zero_count += int(len(arr) - len(pos) - len(neg))
        if len(pos):
            self._add_counts(self.pos, self._indices(pos))
        if len(neg):
            self._add_counts(self.neg, self._indices(-neg))
        self._collapse()

    def add_series(self, values) -> None:
        # Series.dropna() drops None AND NaN for both nullable and plain
        # float64 columns (same rule the KLL fabric documents)
        arr = np.asarray(pd.Series(values).dropna(), dtype=np.float64)
        self.add_array(arr)

    def merge(self, other: "DDSketch") -> None:
        if abs(self.alpha - other.alpha) > 1e-12 \
                or self.max_buckets != other.max_buckets:
            raise ValueError(
                f"cannot merge DDSketch(alpha={self.alpha}, "
                f"max_buckets={self.max_buckets}) with DDSketch(alpha="
                f"{other.alpha}, max_buckets={other.max_buckets})")
        for i, k in other.pos.items():
            self.pos[i] = self.pos.get(i, 0) + k
        for i, k in other.neg.items():
            self.neg[i] = self.neg.get(i, 0) + k
        self.zero_count += other.zero_count
        self.n += other.n
        self._min = min(self._min, other._min)
        self._max = max(self._max, other._max)
        self._collapse()

    def quantile(self, q: float) -> float:
        return self.quantiles([q])[0]

    def quantiles(self, qs) -> list[float]:
        """For each q: the midpoint of the bucket holding the order
        statistic at rank floor(q·(n-1)) — within alpha relative error of
        that order statistic (outside any collapsed low-bucket region)."""
        if self.n == 0:
            return [float("nan")] * len(qs)
        # global value order: negatives ascending (neg indices
        # DESCENDING: larger |v| is smaller v), zeros, positives ascending;
        # midpoints are computed for the selected buckets only
        neg = sorted(self.neg.items(), reverse=True)
        buckets = (neg + ([(None, self.zero_count)] if self.zero_count
                          else []) + sorted(self.pos.items()))
        counts = np.cumsum([c for _, c in buckets])
        out = []
        for q in qs:
            target = q * (self.n - 1)
            j = int(np.searchsorted(counts, target, side="right"))
            j = min(j, len(buckets) - 1)
            i = buckets[j][0]
            mid = (0.0 if i is None else -self._midpoint(i) if j < len(neg)
                   else self._midpoint(i))
            # clamp into the OBSERVED value range: only tightens the
            # estimate (every bucket's members lie within [min, max]),
            # and it is what keeps the extremes sane when a bucket
            # midpoint falls outside the double range (inf / 0.0 for
            # values near DBL_MAX / denormals)
            out.append(float(min(max(mid, self._min), self._max)))
        return out

    # -- serde ---------------------------------------------------------------

    def serialize(self) -> bytes:
        from zetasketch_spark.sketches.wire import pack_header

        parts = [pack_header(_MAGIC, _ENCODING_VERSION),
                 struct.pack("<diqqdd", self.alpha, self.max_buckets,
                             self.n, self.zero_count, self._min, self._max)]
        for store in (self.pos, self.neg):
            idx = np.fromiter(sorted(store), dtype=np.int64, count=len(store))
            cnt = np.array([store[i] for i in idx.tolist()], dtype=np.int64)
            parts.append(struct.pack("<i", len(idx)))
            parts.append(idx.tobytes())
            parts.append(cnt.tobytes())
        return b"".join(parts)

    @classmethod
    def deserialize(cls, data: bytes) -> "DDSketch":
        """Parse a serialized state; a blob this module could not have
        written (alpha outside (0, 1), a negative or past-the-buffer
        store length, truncation anywhere) raises ValueError, never a
        bare ``struct.error``."""
        from zetasketch_spark.sketches.wire import read_header

        version, off = read_header(data, _MAGIC, "DDSketch")
        try:
            alpha, mb, n, zc, mn, mx = struct.unpack_from("<diqqdd", data, off)
            off += struct.calcsize("<diqqdd")
            sk = cls(alpha=alpha, max_buckets=mb)
            for store in (sk.pos, sk.neg):
                (ln,) = struct.unpack_from("<i", data, off)
                off += 4
                if ln < 0 or off + 16 * ln > len(data):
                    raise ValueError(
                        f"corrupt DDSketch: a store of {ln} buckets runs "
                        f"past the {len(data)}-byte blob")
                idx = np.frombuffer(data, dtype=np.int64, count=ln, offset=off)
                off += ln * 8
                cnt = np.frombuffer(data, dtype=np.int64, count=ln, offset=off)
                off += ln * 8
                store.update(zip(idx.tolist(), cnt.tolist()))
        except struct.error as e:
            raise ValueError(f"truncated DDSketch: {e}") from None
        sk.encoding_version = version
        sk.n = n
        sk.zero_count = zc
        sk._min, sk._max = mn, mx
        return sk


class DDSketchFamily(SketchFamily):
    """Relative-error quantiles through the shared aggregation harness."""

    name = "ddsketch"

    def __init__(self, alpha: float = 0.01, max_buckets: int = 2048,
                 quantiles: tuple = (0.5, 0.9, 0.99)):
        self.alpha = alpha
        self.max_buckets = max_buckets
        self.quantiles = tuple(quantiles)
        self.result_fields = quantile_result_fields(self.quantiles)

    def make(self):
        return DDSketch(alpha=self.alpha, max_buckets=self.max_buckets)

    def update(self, state, values):
        state.add_series(values)
        return state

    def prepare_arrow(self, arr):
        from zetasketch_spark.sketches.kll import _prepare_float_arrow

        return _prepare_float_arrow(arr)

    def update_prepared(self, state, values):
        state.add_array(np.asarray(values, dtype=np.float64))
        return state

    def merge(self, a, b):
        a.merge(b)
        return a

    def serialize(self, state):
        return state.serialize()

    def deserialize(self, data):
        return DDSketch.deserialize(bytes(data))

    def result(self, state):
        return (*state.quantiles(self.quantiles), state.n)


register_family("ddsketch", DDSketchFamily)
