"""Theta sketch (KMV / QuickSelect) — distinct counting with DIRECT set
operations.

The published Theta Sketch Framework (Dasgupta, Lang, Rhodes, Thaler:
"Data Sketching for Set Operations", and the Apache DataSketches
QuickSelect sketch) keeps the set of 64-bit hashes below a threshold
``theta``; the retained hashes are a uniform sample of the distinct
values at rate ``theta / 2^64``. Unlike HLL++ (whose intersections need
inclusion-exclusion, `functions/setops.py`), sample intersection gives a
direct estimator for ∩ / ∖ with an error bound from the binomial
sampling argument.

Semantics implemented (all standard, nothing reference-derived — the
reference is HLL-only; this family extends the same Aggregator contract):

* update: hash (fingerprint2011, string-canonical key domain like
  Count-Min/Bloom), keep hashes < theta; when more than ``k`` are
  retained, theta drops to the (k+1)-th smallest hash and exactly ``k``
  survive (QuickSelect step).
* estimate: |retained| / (theta / 2^64). While theta == 2^64 ("exact
  mode") this is the exact distinct count of the hashes. After
  QuickSelect, theta is the (k+1)-th order statistic of n uniform draws,
  and E[k / U_(k+1)] = n — the classic unbiased KMV estimator; relative
  standard error ≈ 1/sqrt(k-1).
* union = merge: theta = min; filter; re-QuickSelect. Associative and
  commutative (state-level property tests).
* intersect / a_not_b: theta = min; set-intersect / set-difference of
  retained hashes under theta. Estimate sd ≈ sqrt(|result| / theta_frac)
  (binomial thinning at rate theta_frac), which the gate query turns
  into a checked bound.

Wire format: the versioned envelope of `sketches/wire.py` (magic THT2,
generation-2 layout, unknown-trailing-bytes forward compat).
"""

from __future__ import annotations

import struct

import numpy as np
import pandas as pd

from zetasketch_spark.hashing import fingerprint_canon_series
from zetasketch_spark.sketches.base import SketchFamily, register_family

_MAGIC = b"THT2"
_ENCODING_VERSION = 1
_FULL = 1 << 64  # theta of an exact-mode sketch (no hash discarded)


def arrow_key_hashes(arr) -> tuple[np.ndarray, np.ndarray | None]:
    """``(hashes, valid)`` of an Arrow key column, once per batch. STRING
    columns (and dictionary-of-string — parquet's default for repetitive
    keys) hash zero-copy off the Arrow buffers: a string is its own
    canonical rendering, so this is byte-equal to the pandas path. Other
    types hash their canonical rendering from one pandas Series;
    ``valid`` masks nulls and, as ``Series.dropna`` does, NaN."""
    import pyarrow as pa

    typ = arr.type
    base_t = typ.value_type if pa.types.is_dictionary(typ) else typ
    if pa.types.is_string(base_t) or pa.types.is_large_string(base_t):
        from zetasketch_spark.hashing import fingerprint_arrow_array

        hashes, valid = fingerprint_arrow_array(arr)
        return np.asarray(hashes), valid
    values = arr.to_pandas()
    valid = values.notna().to_numpy()
    hashes = np.zeros(len(values), dtype=np.uint64)
    if valid.any():
        hashes[valid] = fingerprint_canon_series(values[valid])
    return hashes, None if valid.all() else valid


class ThetaSketch:
    __slots__ = ("k", "theta", "retained", "num_values", "encoding_version")

    def __init__(self, k: int = 4096):
        if k < 16:
            raise ValueError("theta sketch needs k >= 16")
        self.k = k
        self.theta = _FULL  # exclusive upper bound on retained hashes
        self.retained = np.empty(0, dtype=np.uint64)  # sorted unique
        self.num_values = 0
        self.encoding_version = _ENCODING_VERSION

    # -- updates ---------------------------------------------------------------

    def add_series(self, values) -> None:
        values = pd.Series(values).dropna()
        if len(values) == 0:
            return
        self.num_values += len(values)
        self.add_hashes(fingerprint_canon_series(values))

    def add_hashes(self, hashes: np.ndarray) -> None:
        hashes = np.asarray(hashes, dtype=np.uint64)
        if self.theta < _FULL:
            hashes = hashes[hashes < np.uint64(self.theta)]
        if len(hashes) == 0:
            return
        self.retained = np.union1d(self.retained, hashes)
        self._quickselect()

    def _quickselect(self) -> None:
        """Drop theta to the (k+1)-th smallest retained hash when over
        capacity; exactly k hashes survive (retained is already unique
        sorted)."""
        if len(self.retained) <= self.k:
            return
        self.theta = int(self.retained[self.k])
        self.retained = self.retained[: self.k]

    # -- results ---------------------------------------------------------------

    @property
    def theta_frac(self) -> float:
        return self.theta / float(_FULL)

    def estimate(self) -> int:
        return int(round(len(self.retained) / self.theta_frac))

    def rse(self) -> float:
        """Published relative standard error of the KMV estimator."""
        return 1.0 / np.sqrt(max(self.k - 1, 1))

    # -- set operations --------------------------------------------------------

    def merge(self, other: "ThetaSketch" | None) -> None:
        """Union (in place). None / empty merges are no-ops, matching the
        HLL aggregator's null-merge law."""
        if other is None:
            return
        if self.k != other.k:
            # min-k union keeps the estimator valid (coarser sample wins)
            self.k = min(self.k, other.k)
        self.theta = min(self.theta, other.theta)
        merged = np.union1d(self.retained, other.retained)
        if self.theta < _FULL:
            merged = merged[merged < np.uint64(self.theta)]
        self.retained = merged
        self.num_values += other.num_values
        self._quickselect()

    def intersect(self, other: "ThetaSketch") -> "ThetaSketch":
        """Derived set-operation sketches carry num_values = 0: numValues
        means 'values absorbed by THIS sketch's update stream', and no
        stream produced the intersection/difference (union merge, by
        contrast, genuinely absorbs both streams and sums)."""
        out = ThetaSketch(k=min(self.k, other.k))
        out.theta = min(self.theta, other.theta)
        both = np.intersect1d(self.retained, other.retained)
        out.retained = both[both < np.uint64(out.theta)] if out.theta < _FULL else both
        return out

    def a_not_b(self, other: "ThetaSketch") -> "ThetaSketch":
        """See intersect() for the num_values = 0 convention."""
        out = ThetaSketch(k=self.k)
        out.theta = min(self.theta, other.theta)
        only = np.setdiff1d(self.retained, other.retained)
        out.retained = only[only < np.uint64(out.theta)] if out.theta < _FULL else only
        return out

    def copy(self) -> "ThetaSketch":
        out = ThetaSketch(k=self.k)
        out.theta = self.theta
        out.retained = self.retained.copy()
        out.num_values = self.num_values
        return out

    def common_sample(self, other: "ThetaSketch"):
        """Both retained sets filtered under min-theta — the ONE rule every
        common-sample estimator (jaccard, containment) shares, so they
        can never disagree."""
        theta = min(self.theta, other.theta)
        t = np.uint64(theta) if theta < _FULL else None
        a = self.retained if t is None else self.retained[self.retained < t]
        b = other.retained if t is None else other.retained[other.retained < t]
        return a, b

    def jaccard(self, other: "ThetaSketch") -> float:
        """Jaccard similarity of the two key SETS: |A∩B| / |A∪B| estimated
        on the common sample (both ratios under min-theta, so the
        thinning rate cancels). sd ≈ sqrt(J(1-J)/n_union_retained)."""
        a, b = self.common_sample(other)
        n_union = len(np.union1d(a, b))
        if n_union == 0:
            return 0.0
        return len(np.intersect1d(a, b)) / n_union

    def containment(self, other: "ThetaSketch") -> float:
        """|A∩B| / |A| on the common sample (thinning rate cancels):
        1.0 means every key of self exists in other (FK integrity)."""
        a, b = self.common_sample(other)
        if len(a) == 0:
            return 0.0
        return len(np.intersect1d(a, b)) / len(a)

    def estimate_sd(self) -> float:
        """Standard deviation of ``estimate()`` from binomial thinning:
        retained ~ Binomial(true, theta_frac), so
        sd(est) = sqrt(true * (1-θ) / θ) ≈ sqrt(|retained|) / θ. Valid for
        the direct set-op results as well as the plain estimate."""
        t = self.theta_frac
        return float(np.sqrt(max(len(self.retained), 1) * (1.0 - t)) / t)

    # -- serde -----------------------------------------------------------------

    def serialize(self) -> bytes:
        from zetasketch_spark.sketches.wire import pack_header

        theta_stored = 0 if self.theta == _FULL else self.theta
        return b"".join([
            pack_header(_MAGIC, _ENCODING_VERSION),
            struct.pack("<iqQi", self.k, self.num_values, theta_stored,
                        len(self.retained)),
            np.ascontiguousarray(self.retained).tobytes(),
        ])

    @classmethod
    def deserialize(cls, data: bytes) -> "ThetaSketch":
        from zetasketch_spark.sketches.wire import read_header

        version, off = read_header(data, _MAGIC, "theta")
        k, num_values, theta_stored, n_ret = struct.unpack_from("<iqQi", data, off)
        off += struct.calcsize("<iqQi")
        if n_ret < 0 or off + 8 * n_ret > len(data):
            # a lying length must not swallow trailing (forward-compat)
            # bytes into the retained set or read past the buffer
            raise ValueError(
                f"corrupt theta sketch: claims {n_ret} retained hashes "
                f"but {len(data) - off} payload bytes remain")
        sk = cls(k=k)
        sk.encoding_version = version  # trailing bytes ignored (forward compat)
        sk.num_values = num_values
        sk.theta = _FULL if theta_stored == 0 else int(theta_stored)
        sk.retained = np.frombuffer(data, dtype=np.uint64, count=n_ret,
                                    offset=off).copy()
        return sk


class ThetaFamily(SketchFamily):
    name = "theta"
    result_fields = [("estimate", "bigint")]

    def __init__(self, k: int = 4096):
        self.k = k

    def make(self):
        return ThetaSketch(self.k)

    def update(self, state, values):
        state.add_series(values)
        return state

    def prepare_arrow(self, arr):
        from zetasketch_spark.sketches.base import _HashPrepared

        return _HashPrepared(*arrow_key_hashes(arr))

    def update_prepared(self, state, hashes):
        state.num_values += len(hashes)
        state.add_hashes(hashes)
        return state

    def merge(self, a, b):
        a.merge(b)
        return a

    def serialize(self, state):
        return state.serialize()

    def deserialize(self, data):
        return ThetaSketch.deserialize(bytes(data))

    def result(self, state):
        return (state.estimate(),)


register_family("theta", ThetaFamily)
