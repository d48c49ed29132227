"""Temporal theta sketch — distinct counting over SUFFIX TIME WINDOWS
from one mergeable state (a tuple sketch with (first, last)-timestamp
summaries).

The published basis is the Theta Sketch Framework's tuple extension
(Dasgupta, Lang, Rhodes, Thaler: "Data Sketching for Set Operations";
Apache DataSketches "Tuple sketches": each retained hash carries a
user summary combined by a monoid on duplicates/merge). Here the
summary is ``(min, max)(event_time)`` per key; the max side makes
every *suffix* window answerable after the fact:

    distinct keys whose LAST occurrence is >= t
        ≈ |{retained: last_ts >= t}| / theta_frac

This is exactly the sliding-window activity question ("how many users
were active in the last 1/7/30 days?") that otherwise needs one sketch
per day bucket (`operators/retention.py`) or a re-scan per window. The
estimator is the standard theta-framework predicate-filter estimate —
the same binomial-thinning argument as ``ThetaSketch.intersect``
(`sketches/theta.py:132`), so the error story is shared:
``sd ≈ sqrt(j * (1 - theta_frac)) / theta_frac`` where j is the
retained count passing the predicate. Related published design:
"Sliding HyperLogLog" (Chabchoub & Hébrail 2010) keeps timestamped
register maxima for the same query shape; the tuple-theta variant is
chosen because its retained set supports arbitrary predicates and
direct set ops.

Each retained hash carries BOTH the min (first-seen) and max
(last-seen) event time, combined by the (min, max) monoid on
duplicates and merge. Last-seen answers *activity* windows
(``estimate_since``); first-seen answers *acquisition* windows —
``estimate_new_since(t)`` = distinct keys whose FIRST occurrence is
>= t, i.e. new users per trailing window, and ``cohort_counts``
buckets the population by acquisition time — the growth-accounting
twin of retention, from the same single state.

Correctness of the timestamp summaries under distribution: theta only
ever decreases, so a hash below the FINAL theta was below every
earlier theta — every one of its occurrences was absorbed, and its
stored min/max are the exact global first/last times. On merge, a
hash surviving ``min(theta_a, theta_b)`` was retained by both sides
wherever it occurred, so ``(min(first_a, first_b), max(last_a,
last_b))`` is again exact. (Keys seen only on one side survive with
that side's exact pair.)

Time units are CALLER-DEFINED int64 (the sketch never interprets
them): the Spark operator (`operators/window_distinct.py`) feeds
calendrical day numbers (`unix_date(to_date(ts))`) so results are
timezone/DST-immune — the repo-wide rule for wall-clock NTZ data; a
TZ-aware pipeline can feed epoch micros instead.

Semantics are standard; nothing here derives from the reference
(google/zetasketch is HLL-only — this family extends the same
Aggregator contract, `java/com/google/zetasketch/Aggregator.java`).

Wire format: versioned envelope (`sketches/wire.py`), magic ``TTH2``
(generation-2 layout), unknown trailing bytes ignored for forward
compatibility.
"""

from __future__ import annotations

import struct

import numpy as np
import pandas as pd

from zetasketch_spark.hashing import fingerprint_canon_series
from zetasketch_spark.sketches.base import SketchFamily, register_family
from zetasketch_spark.sketches.wire import Reader, pack_header

_MAGIC = b"TTH2"
_ENCODING_VERSION = 1
_FULL = 1 << 64  # theta of an exact-mode sketch (no hash discarded)


class TimeThetaSketch:
    __slots__ = ("k", "theta", "retained", "first_ts", "last_ts",
                 "num_values", "encoding_version")

    def __init__(self, k: int = 4096):
        if k < 16:
            raise ValueError("time-theta sketch needs k >= 16")
        self.k = k
        self.theta = _FULL  # exclusive upper bound on retained hashes
        self.retained = np.empty(0, dtype=np.uint64)  # sorted unique
        self.first_ts = np.empty(0, dtype=np.int64)  # parallel: min ts
        self.last_ts = np.empty(0, dtype=np.int64)  # parallel: max ts
        self.num_values = 0
        self.encoding_version = _ENCODING_VERSION

    # -- updates ---------------------------------------------------------------

    def add_series(self, keys, times) -> None:
        """Absorb a batch of (key, time-unit) pairs; rows where either
        side is null are skipped (a key occurrence without a time cannot
        participate in any window answer)."""
        keys = pd.Series(keys)
        times = pd.Series(times)
        ok = keys.notna().to_numpy() & times.notna().to_numpy()
        if not ok.any():
            return
        keys, times = keys[ok], times[ok]
        self.num_values += int(len(keys))
        # null-free after the mask; integral float64 batches (Arrow's
        # nullable-int promotion) cast back exactly
        self.add_pairs(fingerprint_canon_series(keys),
                       times.to_numpy(dtype=np.int64))

    def add_pairs(self, hashes: np.ndarray, times: np.ndarray) -> None:
        """Vectorized: filter under theta, then a sort-based
        (min, max)-per-unique-hash combine with the current state (the
        batch analog of the tuple sketch's per-row summary combiner)."""
        hashes = np.asarray(hashes, dtype=np.uint64)
        times = np.asarray(times, dtype=np.int64)
        if len(hashes) != len(times):
            raise ValueError("hashes and times must be parallel arrays")
        if self.theta < _FULL:
            keep = hashes < np.uint64(self.theta)
            hashes, times = hashes[keep], times[keep]
        if len(hashes) == 0:
            return
        self._combine(hashes, times, times)
        self._quickselect()

    def _combine(self, hashes: np.ndarray, firsts: np.ndarray,
                 lasts: np.ndarray) -> None:
        """Merge (hash, first, last) rows into the retained arrays under
        the (min, max) monoid per unique hash. O((n+k) log (n+k)) sort,
        all numpy."""
        h = np.concatenate([self.retained, hashes])
        f = np.concatenate([self.first_ts, firsts])
        t = np.concatenate([self.last_ts, lasts])
        order = np.argsort(h, kind="stable")
        h, f, t = h[order], f[order], t[order]
        starts = np.empty(len(h), dtype=bool)
        starts[0] = True
        starts[1:] = h[1:] != h[:-1]
        idx = np.flatnonzero(starts)
        self.retained = h[idx]
        self.first_ts = np.minimum.reduceat(f, idx)
        self.last_ts = np.maximum.reduceat(t, idx)

    def _quickselect(self) -> None:
        """Drop theta to the (k+1)-th smallest retained hash when over
        capacity; exactly k (hash, first_ts, last_ts) rows survive."""
        if len(self.retained) <= self.k:
            return
        self.theta = int(self.retained[self.k])
        self.retained = self.retained[: self.k]
        self.first_ts = self.first_ts[: self.k]
        self.last_ts = self.last_ts[: self.k]

    # -- results ---------------------------------------------------------------

    @property
    def theta_frac(self) -> float:
        return self.theta / float(_FULL)

    def estimate(self) -> int:
        """Total distinct keys (ignoring time) — the plain KMV estimate."""
        return int(round(len(self.retained) / self.theta_frac))

    def rse(self) -> float:
        return 1.0 / np.sqrt(max(self.k - 1, 1))

    def estimate_since(self, t_lo: int) -> int:
        """Distinct keys whose last occurrence is at time >= ``t_lo``
        (suffix window). NOTE: only suffix windows are answerable from a
        last-timestamp summary — a key last seen after an interval's end
        may or may not have occurred inside it."""
        j = int(np.count_nonzero(self.last_ts >= np.int64(t_lo)))
        return int(round(j / self.theta_frac))

    def estimate_sd_since(self, t_lo: int) -> float:
        """sd of ``estimate_since`` from binomial thinning at rate
        theta_frac (same formula as `ThetaSketch.estimate_sd`)."""
        t = self.theta_frac
        j = max(int(np.count_nonzero(self.last_ts >= np.int64(t_lo))), 1)
        return float(np.sqrt(j * (1.0 - t)) / t)

    def recency_counts(self, boundaries) -> list[int]:
        """Distinct-count estimates per last-seen bucket. ``boundaries``
        = ascending bucket starts [b0, b1, ..., bm]; returns m+1 counts:
        [last_ts < b0, b0 <= last_ts < b1, ..., last_ts >= bm]. The
        buckets partition the retained sample, so the estimates sum to
        ``estimate()`` up to rounding."""
        bounds = np.asarray(list(boundaries), dtype=np.int64)
        if len(bounds) == 0:
            return [self.estimate()]
        if np.any(np.diff(bounds) <= 0):
            raise ValueError("boundaries must be strictly ascending")
        idx = np.searchsorted(bounds, self.last_ts, side="right")
        counts = np.bincount(idx, minlength=len(bounds) + 1)
        return [int(round(c / self.theta_frac)) for c in counts]

    def estimate_new_since(self, t_lo: int) -> int:
        """Distinct keys whose FIRST occurrence is at time >= ``t_lo`` —
        new arrivals in the suffix window (growth accounting). Exact by
        the same argument as last-seen: retained hashes carry their true
        global first time."""
        j = int(np.count_nonzero(self.first_ts >= np.int64(t_lo)))
        return int(round(j / self.theta_frac))

    def estimate_sd_new_since(self, t_lo: int) -> float:
        t = self.theta_frac
        j = max(int(np.count_nonzero(self.first_ts >= np.int64(t_lo))), 1)
        return float(np.sqrt(j * (1.0 - t)) / t)

    def cohort_counts(self, boundaries) -> list[int]:
        """Distinct-count estimates per ACQUISITION (first-seen) bucket —
        cohort sizes by signup time, same bucket convention as
        ``recency_counts``; sums to ``estimate()`` up to rounding."""
        bounds = np.asarray(list(boundaries), dtype=np.int64)
        if len(bounds) == 0:
            return [self.estimate()]
        if np.any(np.diff(bounds) <= 0):
            raise ValueError("boundaries must be strictly ascending")
        idx = np.searchsorted(bounds, self.first_ts, side="right")
        counts = np.bincount(idx, minlength=len(bounds) + 1)
        return [int(round(c / self.theta_frac)) for c in counts]

    # -- merge -----------------------------------------------------------------

    def merge(self, other: "TimeThetaSketch" | None) -> None:
        """Union (in place): min theta; (min first_ts, max last_ts) per
        surviving hash. None / empty merges are no-ops (the null-merge
        law every family obeys)."""
        if other is None:
            return
        if self.k != other.k:
            self.k = min(self.k, other.k)
        self.theta = min(self.theta, other.theta)
        h = np.concatenate([self.retained, other.retained])
        f = np.concatenate([self.first_ts, other.first_ts])
        t = np.concatenate([self.last_ts, other.last_ts])
        if self.theta < _FULL:
            keep = h < np.uint64(self.theta)
            h, f, t = h[keep], f[keep], t[keep]
        self.retained = np.empty(0, dtype=np.uint64)
        self.first_ts = np.empty(0, dtype=np.int64)
        self.last_ts = np.empty(0, dtype=np.int64)
        if len(h):
            self._combine(h, f, t)
        self.num_values += other.num_values
        self._quickselect()

    def copy(self) -> "TimeThetaSketch":
        out = TimeThetaSketch(k=self.k)
        out.theta = self.theta
        out.retained = self.retained.copy()
        out.first_ts = self.first_ts.copy()
        out.last_ts = self.last_ts.copy()
        out.num_values = self.num_values
        return out

    # -- serde -----------------------------------------------------------------

    def serialize(self) -> bytes:
        theta_stored = 0 if self.theta == _FULL else self.theta
        return b"".join([
            pack_header(_MAGIC, _ENCODING_VERSION),
            struct.pack("<iqQi", self.k, self.num_values, theta_stored,
                        len(self.retained)),
            np.ascontiguousarray(self.retained).tobytes(),
            np.ascontiguousarray(self.last_ts).tobytes(),
            np.ascontiguousarray(self.first_ts).tobytes(),
        ])

    @classmethod
    def deserialize(cls, data: bytes) -> "TimeThetaSketch":
        r = Reader(data, _MAGIC, "time-theta")
        k, num_values, theta_stored, n_ret = r.unpack("<iqQi")
        if n_ret > k:
            # _quickselect/_combine rely on |retained| <= k; a blob
            # violating it would be accepted silently and inflate
            # estimates until the next update truncated it (ADVICE r5)
            raise ValueError(
                f"corrupt time-theta sketch: {n_ret} retained rows exceed "
                f"k={k}")
        theta = _FULL if theta_stored == 0 else int(theta_stored)
        retained = r.array(np.uint64, n_ret)
        # elementwise uint64 comparison (np.diff would wrap on a
        # decreasing pair and read as positive)
        if n_ret and not (bool(np.all(retained[1:] > retained[:-1]))
                          and int(retained[-1]) < theta):
            # _combine's sorted-merge and the KMV estimator both rely on
            # a strictly-increasing retained array below theta (ADVICE r5)
            raise ValueError(
                "corrupt time-theta sketch: retained hashes must be "
                "strictly increasing and below theta")
        last_ts = r.array(np.int64, n_ret)
        first_ts = r.array(np.int64, n_ret)
        sk = cls(k=k)
        sk.encoding_version = r.version  # trailing bytes ignored
        sk.num_values = num_values
        sk.theta = theta
        sk.retained = retained.copy()
        sk.last_ts = last_ts.copy()
        sk.first_ts = first_ts.copy()
        return sk


class TimeThetaFamily(SketchFamily):
    """Aggregator-contract family over (key, time) pairs: one
    struct<key, time> column on the split kernel
    (`operators/window_distinct.py::timetheta_partial` builds it), or
    ``update_pair`` over two pandas Series (SQL ``tt_init_agg``,
    streaming)."""

    name = "timetheta"
    state_type = TimeThetaSketch
    result_fields = [("estimate", "bigint")]

    def __init__(self, k: int = 4096):
        self.k = k

    def make(self):
        return TimeThetaSketch(self.k)

    def update(self, state, values):
        raise TypeError(
            "TimeThetaFamily needs (key, time) pairs: sketch one "
            "struct<key, time> column (operators.window_distinct."
            "timetheta_partial builds it) or call update_pair(state, "
            "keys, times)")

    def prepare_arrow(self, arr):
        """Keys hash as ``ThetaFamily``'s do, times read as int64; one
        validity mask drops a row whose key or time is null."""
        import pyarrow as pa

        from zetasketch_spark.sketches.base import _HashPrepared, _PairPrepared
        from zetasketch_spark.sketches.theta import arrow_key_hashes

        if not pa.types.is_struct(arr.type):
            return self.update(None, arr)  # raises: a pair is required
        keys, times = arr.flatten()
        hashes, valid = arrow_key_hashes(keys)
        if times.null_count:
            tvalid = np.asarray(times.is_valid())
            valid = tvalid if valid is None else valid & tvalid
            times = times.fill_null(0)
        times = np.asarray(times.to_numpy(zero_copy_only=False),
                           dtype=np.int64)
        return _PairPrepared(_HashPrepared(hashes, valid),
                             _HashPrepared(times, valid))

    def update_prepared(self, state, pair):
        hashes, times = pair
        state.num_values += len(hashes)
        state.add_pairs(hashes, times)
        return state

    def update_pair(self, state, keys, times):
        state.add_series(keys, times)
        return state

    def result(self, state):
        return (state.estimate(),)


register_family("timetheta", TimeThetaFamily)
