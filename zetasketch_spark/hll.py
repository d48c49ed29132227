"""HyperLogLog++ core: numpy-vectorized, wire-compatible with the reference.

Re-implements the sketch state machine of google/zetasketch from scratch for
batch (Arrow/pandas) execution:

* dual representation — sparse (sorted encoded ints, delta+varint on the
  wire) and normal (dense ``uint8[2**p]`` registers), with the reference's
  exact upgrade thresholds (`SparseRepresentation.java:49-98,305-327`:
  flush when buffer > 0.25*2**p elements, upgrade when encoded bytes
  >= 0.75*2**p);
* the two sparse value formats of `Encoding.java:110-135`;
* merge with precision downgrade (`NormalRepresentation.java:165-244`,
  `Encoding.java:87-107,331-354`) and the compatibility partial order
  (`Encoding.java:185-199`);
* HLL++ figure-6 estimation with LinearCounting + empirical bias correction
  (`NormalRepresentation.java:118-162`, tables in ``hll_data``);
* byte-exact ``AggregatorStateProto`` serialization
  (`State.java:208-269,329-397`, `proto/aggregator.proto:164-198`,
  `proto/hllplus-unique.proto:36-109`).

Unlike the reference (one value per ``add()`` call), the only update entry
point is ``add_hashes(uint64[:])`` — a whole Arrow batch at a time. Flush
boundaries therefore differ *mid-stream*, but post-``compact()`` states are
byte-identical because sparse dedupe keeps the max per index regardless of
order (the reference's own merge test compares post-compact states,
`HyperLogLogPlusPlusMergeTest.java:58-72`).
"""

from __future__ import annotations

import math

import numpy as np

from . import hll_data
from .hashing import (
    fingerprint_int8_array,
    fingerprint_int16_array,
    fingerprint_int_array,
    fingerprint_long_array,
    fingerprint_str_series,
    fingerprint_uint8_array,
    fingerprint_uint16_array,
)

# --- value types (proto/aggregator.proto:73-139) ---------------------------
VALUE_TYPE_UNKNOWN = 0
VALUE_TYPE_INT8 = 1
VALUE_TYPE_INT16 = 2
VALUE_TYPE_INT32 = 3
VALUE_TYPE_INT64 = 4
VALUE_TYPE_UINT8 = 5
VALUE_TYPE_UINT16 = 6
VALUE_TYPE_UINT32 = 7
VALUE_TYPE_UINT64 = 8
VALUE_TYPE_FLOAT = 9
VALUE_TYPE_DOUBLE = 10
VALUE_TYPE_BYTES_OR_UTF8_STRING = 11

AGGREGATOR_TYPE_HLL = 112  # aggregator.proto:63
ENCODING_VERSION = 2  # HyperLogLogPlusPlus.java:77

DEFAULT_NORMAL_PRECISION = 15
MAXIMUM_SPARSE_PRECISION = 25
MINIMUM_NORMAL_PRECISION = 4
MAXIMUM_NORMAL_PRECISION = 24

_RHOW_BITS = 6
_U1 = np.uint64(1)


class IncompatiblePrecisionError(ValueError):
    """Mirrors `IncompatiblePrecisionException.java:23-29`."""


# ---------------------------------------------------------------------------
# bit kernels
# ---------------------------------------------------------------------------

def _bit_length_u64(x: np.ndarray) -> np.ndarray:
    """Per-element bit length of a uint64 array (0 -> 0): the binary
    exponent ``frexp`` gives each 32-bit half, which float64 holds
    exactly."""
    x = x.astype(np.uint64, copy=False)
    hi = np.frexp((x >> np.uint64(32)).astype(np.float64))[1]
    lo = np.frexp((x & np.uint64(0xFFFFFFFF)).astype(np.float64))[1]
    return np.where(hi > 0, hi + 32, lo).astype(np.uint64)


def rho_w(hashes: np.ndarray, bits: int) -> np.ndarray:
    """Number of leading zeros + 1 in the low ``bits`` of each hash
    (`Encoding.java:467-475`): bits+1 when those bits are all zero."""
    w = hashes.astype(np.uint64) << np.uint64(64 - bits)
    bl = _bit_length_u64(w)
    out = np.where(w == 0, np.uint64(bits + 1), np.uint64(64) - bl + _U1)
    return out.astype(np.int64)


def _clz32_arr(x: np.ndarray) -> np.ndarray:
    """32-bit leading zeros of each element viewed as uint32 (x != 0)."""
    return (np.int64(32) - _bit_length_u64(x.astype(np.uint32).astype(np.uint64)).astype(np.int64))


def downgrade_rho_w(index: np.ndarray, rho: np.ndarray, source_p: int, target_p: int) -> np.ndarray:
    """Vectorized `Encoding.downgradeRhoW` (`Encoding.java:485-508`)."""
    if source_p == target_p:
        return rho
    suffix = (index.astype(np.uint32) << np.uint32(32 - source_p + target_p)).astype(np.uint32)
    newrho = np.where(
        suffix == 0,
        rho + np.int64(source_p - target_p),
        1 + _clz32_arr(suffix),
    )
    return newrho.astype(np.int64)


# ---------------------------------------------------------------------------
# sparse encoding (Encoding.java:110-302)
# ---------------------------------------------------------------------------

class SparseEncoding:
    """Vectorized twin of `Encoding.Sparse`. Values are kept in int64 arrays
    (all encodings are < 2**31 so they sort identically to the Java ints)."""

    def __init__(self, p: int, sp: int):
        assert 1 <= p <= 24 and 1 <= sp <= 30 and sp >= p
        self.p = p
        self.sp = sp
        self.flag = 1 << max(sp, p + _RHOW_BITS)  # Encoding.java:175

    def encode_hashes(self, hashes: np.ndarray) -> np.ndarray:
        sparse_index = (hashes.astype(np.uint64) >> np.uint64(64 - self.sp)).astype(np.int64)
        sparse_rho = rho_w(hashes, 64 - self.sp)
        return self.encode(sparse_index, sparse_rho)

    def encode(self, sparse_index: np.ndarray, sparse_rho: np.ndarray) -> np.ndarray:
        mask = (1 << (self.sp - self.p)) - 1
        plain = (sparse_index & mask) != 0
        normal_index = sparse_index >> (self.sp - self.p)
        rho_encoded = self.flag | (normal_index << _RHOW_BITS) | sparse_rho
        return np.where(plain, sparse_index, rho_encoded).astype(np.int64)

    def decode_sparse_index(self, v: np.ndarray) -> np.ndarray:
        plain = (v & self.flag) == 0
        return np.where(plain, v, ((v ^ self.flag) >> _RHOW_BITS) << (self.sp - self.p))

    def decode_sparse_rho_if_present(self, v: np.ndarray) -> np.ndarray:
        plain = (v & self.flag) == 0
        return np.where(plain, 0, v & ((1 << _RHOW_BITS) - 1)).astype(np.int64)

    def decode_normal_index(self, v: np.ndarray) -> np.ndarray:
        plain = (v & self.flag) == 0
        return np.where(plain, v >> (self.sp - self.p), (v ^ self.flag) >> _RHOW_BITS)

    def decode_normal_rho(self, v: np.ndarray) -> np.ndarray:
        plain = (v & self.flag) == 0
        # plain: rho over the low sp-p bits of the sparse index
        plain_rho = rho_w(v.astype(np.uint64), self.sp - self.p)
        enc_rho = (v & ((1 << _RHOW_BITS) - 1)) + (self.sp - self.p)
        return np.where(plain, plain_rho, enc_rho).astype(np.int64)

    def assert_compatible(self, other: "SparseEncoding") -> None:
        if (self.p <= other.p and self.sp <= other.sp) or (
            self.p >= other.p and self.sp >= other.sp
        ):
            return
        raise IncompatiblePrecisionError(
            f"Precisions (p={self.p}, sp={self.sp}) are not compatible to "
            f"(p={other.p}, sp={other.sp})"
        )

    def downgrade(self, values: np.ndarray, target: "SparseEncoding") -> np.ndarray:
        """Vectorized `Encoding.Sparse.downgrade` (`Encoding.java:331-341`)."""
        old_index = self.decode_sparse_index(values)
        old_rho = self.decode_sparse_rho_if_present(values)
        new_index = old_index >> (self.sp - target.sp)
        new_rho = downgrade_rho_w(old_index, old_rho, self.sp, target.sp)
        return target.encode(new_index, new_rho)

    def dedupe_sorted(self, values: np.ndarray) -> np.ndarray:
        """Max per sparse index over a *sorted* value array
        (`Encoding.java:380-431`). Plain and rho-encoded values can never
        share a sparse index, and within a rho-encoded run the largest
        encoded value has the largest rho, so: group by decoded sparse
        index, keep the last (largest) element of each run."""
        if len(values) == 0:
            return values
        idx = self.decode_sparse_index(values)
        # last element of each equal-index run
        keep = np.empty(len(values), dtype=bool)
        keep[-1] = True
        keep[:-1] = idx[1:] != idx[:-1]
        return values[keep]


# ---------------------------------------------------------------------------
# delta + varint codec (DifferenceEncoder.java, VarInt.java) — vectorized
# ---------------------------------------------------------------------------

def delta_varint_encode(sorted_values: np.ndarray) -> bytes:
    """Sorted non-negative int64 -> delta + LEB128 varint bytes.

    Input contract mirrors the reference's DifferenceEncoder
    (`DifferenceEncoderTest.java:75-96`): values must be non-negative and
    ascending — a silent wraparound here would serialize garbage sparse
    data, so both violations raise."""
    n = len(sorted_values)
    if n == 0:
        return b""
    if int(sorted_values[0]) < 0:
        raise ValueError(
            f"only positive integers supported but got {int(sorted_values[0])}")
    deltas = np.empty(n, dtype=np.uint64)
    deltas[0] = sorted_values[0]
    np.subtract(sorted_values[1:], sorted_values[:-1], out=deltas[1:], casting="unsafe")
    if n > 1 and bool((sorted_values[1:] < sorted_values[:-1]).any()):
        i = int(np.argmax(sorted_values[1:] < sorted_values[:-1]))
        raise ValueError(
            f"{int(sorted_values[i + 1])} put after {int(sorted_values[i])} "
            "but values are required to be in ascending order")
    nbytes = np.maximum((_bit_length_u64(deltas) + np.uint64(6)) // np.uint64(7), _U1).astype(np.int64)
    ends = np.cumsum(nbytes)
    total = int(ends[-1])
    out = np.zeros(total, dtype=np.uint8)
    starts = ends - nbytes
    remaining = deltas.copy()
    pos = starts.copy()
    left = nbytes.copy()
    # at most 5 byte-slots for uint32 deltas
    for _ in range(10):
        m = left > 0
        if not m.any():
            break
        byte = (remaining[m] & np.uint64(0x7F)).astype(np.uint8)
        cont = (left[m] > 1).astype(np.uint8) * np.uint8(0x80)
        out[pos[m]] = byte | cont
        remaining[m] >>= np.uint64(7)
        pos[m] += 1
        left[m] -= 1
    return out.tobytes()


def delta_varint_size(sorted_values: np.ndarray) -> int:
    """Encoded byte size without materializing (for the upgrade check)."""
    n = len(sorted_values)
    if n == 0:
        return 0
    deltas = np.empty(n, dtype=np.uint64)
    deltas[0] = sorted_values[0]
    np.subtract(sorted_values[1:], sorted_values[:-1], out=deltas[1:], casting="unsafe")
    nbytes = np.maximum((_bit_length_u64(deltas) + np.uint64(6)) // np.uint64(7), _U1)
    return int(nbytes.sum())


def delta_varint_decode(data: bytes | np.ndarray) -> np.ndarray:
    """Inverse of :func:`delta_varint_encode`; returns int64 array."""
    buf = np.frombuffer(data, dtype=np.uint8) if isinstance(data, (bytes, bytearray, memoryview)) else data
    if len(buf) == 0:
        return np.empty(0, dtype=np.int64)
    if buf[-1] & 0x80:
        # continuation bit set on the final byte: the last varint was cut
        raise ValueError("truncated varint in sparse data")
    is_term = (buf & 0x80) == 0
    n = int(is_term.sum())
    # group id of each byte = number of terminators strictly before it
    gid = np.zeros(len(buf), dtype=np.int64)
    np.cumsum(is_term[:-1], out=gid[1:])
    # byte position within group
    starts = np.zeros(n, dtype=np.int64)
    term_pos = np.flatnonzero(is_term)
    starts[1:] = term_pos[:-1] + 1
    within = np.arange(len(buf), dtype=np.int64) - starts[gid]
    payload = (buf & 0x7F).astype(np.uint64) << (np.uint64(7) * within.astype(np.uint64))
    deltas = np.zeros(n, dtype=np.uint64)
    np.bitwise_or.at(deltas, gid, payload)
    return np.cumsum(deltas.astype(np.int64))


# ---------------------------------------------------------------------------
# estimation (NormalRepresentation.java:118-162, Data.java)
# ---------------------------------------------------------------------------

def _java_round(x: float) -> int:
    return int(math.floor(x + 0.5))  # Java Math.round is half-up


def alpha(precision: int) -> float:
    if precision == 4:
        return 0.673101517
    if precision == 5:
        return 0.697121585
    if precision == 6:
        return 0.709209798
    return 0.7213 / (1 + 1.079 / (1 << precision))


def linear_counting_threshold(precision: int) -> int:
    if hll_data.MINIMUM_PRECISION <= precision <= hll_data.MAXIMUM_PRECISION:
        return hll_data.LC_THRESHOLD[precision - hll_data.MINIMUM_PRECISION]
    return 5 * (1 << precision) // 2


def estimate_bias(estimate: float, precision: int) -> float:
    """kNN (k=6) interpolation over the empirical tables
    (`Data.java:1018-1077`); 0 outside table coverage."""
    if precision < hll_data.MINIMUM_PRECISION or precision > hll_data.MAXIMUM_PRECISION:
        return 0.0
    means = hll_data.RAW_ESTIMATE[precision - hll_data.MINIMUM_PRECISION]
    biases = hll_data.BIAS[precision - hll_data.MINIMUM_PRECISION]
    if estimate < means[0] or estimate > means[-1]:
        return 0.0
    k = hll_data.KNN_NEIGHBORS
    index = int(np.searchsorted(means, estimate, side="left"))
    bottom = 0 if index < k else index - k
    top = len(means) if index > len(means) - k else index + k
    window_means = means[bottom:top]
    window_biases = biases[bottom:top]
    dist = (window_means - estimate) ** 2
    order = np.argsort(dist, kind="stable")[:k]
    d = dist[order]
    b = window_biases[order]
    if d[0] == 0:
        return float(b[0])
    w = 1.0 / d
    return float((b * w).sum() / w.sum())


def estimate_from_registers(registers: np.ndarray, precision: int) -> int:
    """HLL++ figure-6 estimate over dense registers."""
    if registers is None or len(registers) == 0:
        return 0
    num_zeros = int((registers == 0).sum())
    s = float(np.ldexp(1.0, -registers.astype(np.int64)).sum())
    m = float(1 << precision)
    if num_zeros > 0:
        h = m * math.log(m / num_zeros)
        if h <= linear_counting_threshold(precision):
            return _java_round(h)
    est = alpha(precision) * m * m / s
    return _java_round(est - estimate_bias(est, precision))


# ---------------------------------------------------------------------------
# the sketch
# ---------------------------------------------------------------------------

class HllSketch:
    """Mergeable HLL++ state. Mode is 'sparse' or 'normal'.

    Sparse state is a sorted deduped int64 array of encoded values plus a
    pending (unique, unsorted) buffer; normal state is uint8[2**p].
    """

    __slots__ = ("p", "sp", "value_type", "num_values", "mode",
                 "registers", "sparse_values", "_pending", "_max_buffer",
                 "_max_sparse_bytes", "_encoding")

    def __init__(self, precision: int = DEFAULT_NORMAL_PRECISION,
                 sparse_precision: int | None = None,
                 value_type: int = VALUE_TYPE_UNKNOWN,
                 no_sparse: bool = False):
        if not (MINIMUM_NORMAL_PRECISION <= precision <= MAXIMUM_NORMAL_PRECISION):
            raise ValueError(f"normal precision must be in [4,24], got {precision}")
        if sparse_precision is None:
            sparse_precision = 0 if no_sparse else min(precision + 5, MAXIMUM_SPARSE_PRECISION)
        if sparse_precision != 0 and not (precision <= sparse_precision <= MAXIMUM_SPARSE_PRECISION):
            raise ValueError(
                f"sparse precision must be in [p,{MAXIMUM_SPARSE_PRECISION}] or 0, got {sparse_precision}")
        self.p = precision
        self.sp = sparse_precision
        self.value_type = value_type
        self.num_values = 0
        if sparse_precision == 0:
            self.mode = "normal"
            self.registers = None  # lazily allocated on first add
            self.sparse_values = None
            self._encoding = None
        else:
            self.mode = "sparse"
            self.registers = None
            self.sparse_values = np.empty(0, dtype=np.int64)
            self._encoding = SparseEncoding(precision, sparse_precision)
        self._pending: list[np.ndarray] = []
        m = 1 << precision
        self._max_sparse_bytes = int(m * 0.75)  # SparseRepresentation.java:55
        self._max_buffer = int(m * 0.25)  # SparseRepresentation.java:85

    # -- update ------------------------------------------------------------

    def add_hashes(self, hashes: np.ndarray) -> None:
        """Absorb a batch of uint64 hashes (the only update entry point)."""
        if len(hashes) == 0:
            return
        self.num_values += len(hashes)
        if self.mode == "normal":
            self._add_hashes_normal(hashes)
            return
        encoded = np.unique(self._encoding.encode_hashes(hashes))
        self._pending.append(encoded)
        if sum(len(a) for a in self._pending) > self._max_buffer:
            self._flush()

    def _add_hashes_normal(self, hashes: np.ndarray) -> None:
        if self.registers is None:
            self.registers = np.zeros(1 << self.p, dtype=np.uint8)
        idx = (hashes.astype(np.uint64) >> np.uint64(64 - self.p)).astype(np.int64)
        rho = rho_w(hashes, 64 - self.p).astype(np.uint8)
        np.maximum.at(self.registers, idx, rho)

    def add_longs(self, values) -> None:
        self._check_type(VALUE_TYPE_UINT64)
        self.add_hashes(fingerprint_long_array(np.asarray(values, dtype=np.int64)))

    def add_ints(self, values) -> None:
        self._check_type(VALUE_TYPE_UINT32)
        self.add_hashes(fingerprint_int_array(np.asarray(values, dtype=np.int32)))

    def add_strings(self, values) -> None:
        self._check_type(VALUE_TYPE_BYTES_OR_UTF8_STRING)
        self.add_hashes(fingerprint_str_series(values))

    # Narrow / signed fixed-width recipes of `proto/aggregator.proto:77-120`
    # (C++ DefaultOps<T> parity). The Java reference exposes only
    # int/long/string/bytes (`HyperLogLogPlusPlus.java:337-341`, widening
    # narrower values to UINT32), so these six are spec-surface beyond the
    # Java API: signed and unsigned widths share a byte recipe per width but
    # keep DISTINCT value-type ids, and merges enforce exact-id equality
    # just as the reference does for its four.

    def add_int8s(self, values) -> None:
        """INT8 recipe: fingerprint2011 of the single 2s-complement byte."""
        self._check_type(VALUE_TYPE_INT8)
        self.add_hashes(fingerprint_int8_array(np.asarray(values, dtype=np.int8)))

    def add_uint8s(self, values) -> None:
        self._check_type(VALUE_TYPE_UINT8)
        self.add_hashes(fingerprint_uint8_array(np.asarray(values, dtype=np.uint8)))

    def add_int16s(self, values) -> None:
        """INT16 recipe: fingerprint2011 of the 2 LE 2s-complement bytes."""
        self._check_type(VALUE_TYPE_INT16)
        self.add_hashes(fingerprint_int16_array(np.asarray(values, dtype=np.int16)))

    def add_uint16s(self, values) -> None:
        self._check_type(VALUE_TYPE_UINT16)
        self.add_hashes(fingerprint_uint16_array(np.asarray(values, dtype=np.uint16)))

    def add_int32s(self, values) -> None:
        """INT32 id (3): same 4-LE-byte hash as UINT32 but the signed id."""
        self._check_type(VALUE_TYPE_INT32)
        self.add_hashes(fingerprint_int_array(np.asarray(values, dtype=np.int32)))

    def add_int64s(self, values) -> None:
        """INT64 id (4): same 8-LE-byte hash as UINT64 but the signed id."""
        self._check_type(VALUE_TYPE_INT64)
        self.add_hashes(fingerprint_long_array(np.asarray(values, dtype=np.int64)))

    def add_custom(self, hashes: np.ndarray, type_id: int) -> None:
        """Add pre-hashed values under a CUSTOM value type: an integer id
        > 1000 from the custom-type registry
        (`proto/custom-value-type.proto:26-40`, `ValueType.java:58-60`).
        The hash recipe belongs to the type's owner — the aggregator only
        records the id and enforces merge-compatibility on it, exactly as
        the reference does for unknown ids."""
        if type_id <= 1000:
            raise ValueError(
                f"custom value types must be > 1000 (got {type_id}); "
                "1..11 are the DefaultOpsType standard types")
        self._check_type(type_id)
        self.add_hashes(np.asarray(hashes, dtype=np.uint64))

    def add_doubles(self, values) -> None:
        """DOUBLE hash recipe: fingerprint2011 of the 8 LE IEEE754 bytes
        (`proto/aggregator.proto:126-130`)."""
        from zetasketch_spark.hashing import fingerprint_double_array

        self._check_type(VALUE_TYPE_DOUBLE)
        self.add_hashes(fingerprint_double_array(np.asarray(values, dtype=np.float64)))

    def add_floats(self, values) -> None:
        """FLOAT hash recipe: fingerprint2011 of the 4 LE IEEE754 bytes
        (`proto/aggregator.proto:121-125`)."""
        from zetasketch_spark.hashing import fingerprint_float_array

        self._check_type(VALUE_TYPE_FLOAT)
        self.add_hashes(fingerprint_float_array(np.asarray(values, dtype=np.float32)))

    def _check_type(self, vt: int) -> None:
        if self.value_type == VALUE_TYPE_UNKNOWN:
            self.value_type = vt
        elif self.value_type != vt:
            raise ValueError(f"unable to add type {vt} to aggregator of type {self.value_type}")

    # -- sparse machinery ----------------------------------------------------

    def _flush(self) -> None:
        """Merge pending into the sorted deduped list, then maybe upgrade
        (`SparseRepresentation.java:305-327,346-432`)."""
        if self._pending:
            parts = [self.sparse_values] + self._pending if len(self.sparse_values) else self._pending
            merged = np.sort(np.concatenate(parts)) if len(parts) > 1 else np.sort(parts[0])
            self.sparse_values = self._encoding.dedupe_sorted(merged)
            self._pending = []
        if delta_varint_size(self.sparse_values) >= self._max_sparse_bytes:
            self._normalize()

    def _normalize(self) -> None:
        """sparse -> normal upgrade: replay all sparse values into dense
        registers (`SparseRepresentation.java:330-340`)."""
        self._flush_pending_only()
        regs = np.zeros(1 << self.p, dtype=np.uint8)
        v = self.sparse_values
        if len(v):
            idx = self._encoding.decode_normal_index(v)
            rho = self._encoding.decode_normal_rho(v).astype(np.uint8)
            np.maximum.at(regs, idx, rho)
        if self.registers is not None:
            np.maximum(regs, self.registers, out=regs)
        self.registers = regs
        self.mode = "normal"
        self.sparse_values = None

    def _flush_pending_only(self) -> None:
        if self._pending:
            parts = [self.sparse_values] + self._pending if len(self.sparse_values) else self._pending
            merged = np.sort(np.concatenate(parts)) if len(parts) > 1 else np.sort(parts[0])
            self.sparse_values = self._encoding.dedupe_sorted(merged)
            self._pending = []

    def compact(self) -> "HllSketch":
        """Flush + maybe upgrade; after this the state is canonical."""
        if self.mode == "sparse":
            self._flush()
        return self

    # -- merge ---------------------------------------------------------------

    def merge(self, other: "HllSketch") -> None:
        """Associative merge (O10-O13). Result precisions are the minima.

        Precision-compatibility is enforced exactly where the reference
        enforces it: the partial order (`Encoding.java:185-199`) raises
        only on the sparse⊕sparse path (`SparseRepresentation.java:151,
        170`); normal-side merges downgrade each precision independently
        via min, with no assertion (`NormalRepresentation.java:181-199`) —
        so whether crossed precisions raise depends on the current
        representations, faithfully to the reference."""
        if other is None:
            return
        # type intersection (HyperLogLogPlusPlus.java:257-270)
        if self.value_type != VALUE_TYPE_UNKNOWN and other.value_type != VALUE_TYPE_UNKNOWN \
                and self.value_type != other.value_type:
            raise ValueError(
                f"Aggregator of type {self.value_type} is incompatible with "
                f"aggregator of type {other.value_type}")
        if self.value_type == VALUE_TYPE_UNKNOWN:
            self.value_type = other.value_type
        self.num_values += other.num_values

        if self.mode == "sparse" and other.mode == "sparse":
            self._merge_sparse_sparse(other)
        elif self.mode == "sparse":  # sparse ⊕ normal -> normalize self first
            self._normalize()
            self._merge_normal_normal(other)
        elif other.mode == "sparse":
            self._merge_normal_sparse(other)
        else:
            self._merge_normal_normal(other)

    def _merge_sparse_sparse(self, other: "HllSketch") -> None:
        self._encoding.assert_compatible(other._encoding)
        self._flush_pending_only()
        ov = other._combined_sparse_values()
        if other._encoding.p == self.p and other._encoding.sp == self.sp:
            pass
        elif other._encoding.sp < self.sp or other._encoding.p < self.p:
            # downgrade self to the min precisions
            tgt = SparseEncoding(min(self.p, other.p), min(self.sp, other.sp))
            self.sparse_values = tgt.dedupe_sorted(
                np.sort(self._encoding.downgrade(self.sparse_values, tgt)))
            self.p, self.sp = tgt.p, tgt.sp
            m = 1 << self.p
            self._max_sparse_bytes = int(m * 0.75)
            self._max_buffer = int(m * 0.25)
            self._encoding = tgt
            ov = other._encoding.downgrade(ov, tgt) if (other.p != tgt.p or other.sp != tgt.sp) else ov
        else:
            # other has higher precision: downgrade its values to ours
            ov = other._encoding.downgrade(ov, self._encoding)
        merged = np.sort(np.concatenate([self.sparse_values, ov]))
        self.sparse_values = self._encoding.dedupe_sorted(merged)
        if delta_varint_size(self.sparse_values) >= self._max_sparse_bytes:
            self._normalize()

    def _combined_sparse_values(self) -> np.ndarray:
        if self._pending:
            parts = [self.sparse_values] + self._pending if len(self.sparse_values) else list(self._pending)
            return self._encoding.dedupe_sorted(np.sort(np.concatenate(parts)))
        return self.sparse_values

    def _maybe_downgrade_normal(self, other_p: int, other_sp: int) -> None:
        """`NormalRepresentation.maybeDowngrade` (`:181-199`): downgrade our
        registers / sparse-precision bookkeeping to the other's precisions.
        Note min(sp, 0) == 0: merging a no-sparse sketch disables sparse."""
        if self.p <= other_p and self.sp <= other_sp:
            return
        if self.p > other_p:
            self._downgrade_registers(other_p)
        self.sp = min(self.sp, other_sp)

    def _merge_normal_sparse(self, other: "HllSketch") -> None:
        """normal ⊕ sparse: replay other's values into our registers,
        downgrading if needed (`NormalRepresentation.java:97-112,172-175`)."""
        self._maybe_downgrade_normal(other.p, other.sp)
        v = other._combined_sparse_values()
        if self.registers is None:
            self.registers = np.zeros(1 << self.p, dtype=np.uint8)
        if len(v):
            enc = other._encoding
            if self.p < enc.p:
                idx = enc.decode_normal_index(v) >> (enc.p - self.p)
                rho = downgrade_rho_w(enc.decode_normal_index(v), enc.decode_normal_rho(v), enc.p, self.p)
            else:
                idx = enc.decode_normal_index(v)
                rho = enc.decode_normal_rho(v)
            np.maximum.at(self.registers, idx, rho.astype(np.uint8))

    def _merge_normal_normal(self, other: "HllSketch") -> None:
        self._maybe_downgrade_normal(other.p, other.sp)
        if other.registers is None:
            return
        if self.registers is None:
            self.registers = np.zeros(1 << self.p, dtype=np.uint8)
        if other.p == self.p:
            np.maximum(self.registers, other.registers, out=self.registers)
        else:
            src_idx = np.arange(1 << other.p, dtype=np.int64)
            new_idx = src_idx >> (other.p - self.p)
            src_rho = other.registers.astype(np.int64)
            new_rho = downgrade_rho_w(src_idx, src_rho, other.p, self.p)
            new_rho = np.where(src_rho == 0, 0, new_rho)  # rho 0 = unset register
            np.maximum.at(self.registers, new_idx, new_rho.astype(np.uint8))

    def _downgrade_registers(self, tgt_p: int) -> None:
        old_p = self.p
        self.p = tgt_p
        m = 1 << tgt_p
        self._max_sparse_bytes = int(m * 0.75)
        self._max_buffer = int(m * 0.25)
        if self.registers is not None:
            src_idx = np.arange(1 << old_p, dtype=np.int64)
            new_idx = src_idx >> (old_p - tgt_p)
            src_rho = self.registers.astype(np.int64)
            new_rho = downgrade_rho_w(src_idx, src_rho, old_p, tgt_p)
            new_rho = np.where(src_rho == 0, 0, new_rho)
            regs = np.zeros(m, dtype=np.uint8)
            np.maximum.at(regs, new_idx, new_rho.astype(np.uint8))
            self.registers = regs

    # -- result --------------------------------------------------------------

    def estimate(self) -> int:
        if self.mode == "sparse":
            self._flush_pending_only()
            buckets = 1 << self.sp
            num_zeros = buckets - len(self.sparse_values)
            if num_zeros == buckets:
                return 0
            return _java_round(buckets * math.log(buckets / num_zeros))
        return estimate_from_registers(self.registers, self.p)

    # -- serde (AggregatorStateProto wire format) ------------------------------

    def serialize(self) -> bytes:
        self.compact()
        out = bytearray()
        _put_varint(out, (1 << 3) | 0)  # type tag
        _put_varint(out, AGGREGATOR_TYPE_HLL)
        _put_varint(out, (2 << 3) | 0)  # num_values tag
        _put_varint(out, self.num_values)
        _put_varint(out, (3 << 3) | 0)  # encoding_version (!= default 1)
        _put_varint(out, ENCODING_VERSION)
        if self.value_type != VALUE_TYPE_UNKNOWN:
            _put_varint(out, (4 << 3) | 0)
            _put_varint(out, self.value_type)

        hll = bytearray()
        if self.mode == "sparse":
            sparse_bytes = delta_varint_encode(self.sparse_values)
            if len(self.sparse_values) != 0:
                _put_varint(hll, (2 << 3) | 0)  # sparse_size
                _put_varint(hll, len(self.sparse_values))
            if self.p != 0:
                _put_varint(hll, (3 << 3) | 0)
                _put_varint(hll, self.p)
            if self.sp != 0:
                _put_varint(hll, (4 << 3) | 0)
                _put_varint(hll, self.sp)
            # Go/C++ golden compat: sparse_data always written in sparse mode,
            # even when empty (SparseRepresentation.java:241-252)
            _put_varint(hll, (6 << 3) | 2)
            _put_varint(hll, len(sparse_bytes))
            hll.extend(sparse_bytes)
        else:
            if self.p != 0:
                _put_varint(hll, (3 << 3) | 0)
                _put_varint(hll, self.p)
            if self.sp != 0:
                _put_varint(hll, (4 << 3) | 0)
                _put_varint(hll, self.sp)
            if self.registers is not None:
                _put_varint(hll, (5 << 3) | 2)
                _put_varint(hll, len(self.registers))
                hll.extend(self.registers.tobytes())

        _put_varint(out, (112 << 3) | 2)  # hyperloglogplus_unique_state
        _put_varint(out, len(hll))
        out.extend(hll)
        return bytes(out)

    @classmethod
    def deserialize(cls, data: bytes) -> "HllSketch":
        def _int(fields, f, default):
            v = fields.get(f, default)
            if not isinstance(v, int):
                raise ValueError(
                    f"malformed AggregatorStateProto: field {f} has wrong wire type")
            return v

        def _bytes(fields, f):
            v = fields.get(f)
            if v is not None and not isinstance(v, bytes):
                raise ValueError(
                    f"malformed AggregatorStateProto: field {f} has wrong wire type")
            return v

        try:
            fields = _parse_proto(data)
            hll_bytes = _bytes(fields, 112)
            hll = _parse_proto(hll_bytes) if hll_bytes is not None else {}
        except IndexError:
            # truncated varint / tag mid-read: surface the same clean
            # error contract as every other family's wire parser
            raise ValueError("truncated or corrupt AggregatorStateProto") from None
        # missing required `type` defaults to HLL++ (StateTest.java:86-92)
        agg_type = _int(fields, 1, AGGREGATOR_TYPE_HLL)
        if agg_type != AGGREGATOR_TYPE_HLL:
            raise ValueError(f"Expected proto of type HYPERLOGLOG_PLUS_UNIQUE but was {agg_type}")
        # proto descriptor default is 1 (StateTest.java:123-129); int32 wire wrap
        encoding_version = wire_int32(_int(fields, 3, 1))
        if encoding_version != ENCODING_VERSION:
            raise ValueError(f"Expected encoding version to be 2 but was {encoding_version}")
        # int32 wire wrap like num_values/encoding_version: the reference's
        # State.parse truncates these to int32 before validation
        p = wire_int32(_int(hll, 3, 0))
        sp = wire_int32(_int(hll, 4, 0))
        reg_bytes = _bytes(hll, 5)
        sparse_bytes = _bytes(hll, 6)
        has_data = reg_bytes is not None and len(reg_bytes) > 0
        if sp == 0 and sparse_bytes:
            # `fromProto_ThrowsWhenSparseIsMissingSparsePrecision`
            # (HyperLogLogPlusPlusTest.java:413-436): silently dropping the
            # sparse data would lose counted values. Applied to the dense
            # case too (stricter than the reference's test, whose behavior
            # for that malformed combination is unspecified): data XOR
            # sparse_data is the spec, loud beats silent loss.
            raise ValueError("Must have a sparse precision when sparse data is set")
        if has_data or sp == 0:
            sk = cls(precision=p, sparse_precision=0, value_type=_int(fields, 4, 0))
            if has_data:
                regs = np.frombuffer(reg_bytes, dtype=np.uint8)
                if len(regs) != (1 << p):
                    raise ValueError(
                        f"Expected data to consist of exactly {1 << p} bytes but got {len(regs)}")
                sk.registers = regs.copy()
            sk.sp = sp
        else:
            sk = cls(precision=p, sparse_precision=sp, value_type=_int(fields, 4, 0))
            if sparse_bytes:
                sk.sparse_values = delta_varint_decode(sparse_bytes)
        sk.num_values = wire_int64(_int(fields, 2, 0))
        return sk

    def unique_stats_proto(self) -> bytes:
        """The reference's ``UniqueStatsProto`` (unique-stats.proto:25-31)
        for stats consumers: estimated_cardinality (int64, field 1) +
        expected_error (double, field 2 — the published HLL++ relative
        error 1.04/sqrt(2^p))."""
        import math
        import struct as _struct

        out = bytearray()
        _put_varint(out, (1 << 3) | 0)
        _put_varint(out, self.estimate())
        _put_varint(out, (2 << 3) | 1)  # fixed64: double
        p = self.p or DEFAULT_NORMAL_PRECISION
        out.extend(_struct.pack("<d", 1.04 / math.sqrt(1 << p)))
        return bytes(out)


def parse_unique_stats(data: bytes) -> tuple[int, float]:
    """Decode a ``UniqueStatsProto`` -> (estimated_cardinality,
    expected_error)."""
    import struct as _struct

    fields = _parse_proto(data)
    card = wire_int64(fields.get(1, 0))
    err_bytes = fields.get(2, _struct.pack("<d", 0.0))
    return card, _struct.unpack("<d", err_bytes)[0]


def _put_varint(out: bytearray, value: int) -> None:
    # protobuf semantics: negative int32/int64 values go on the wire as the
    # 10-byte varint of their two's complement (StateTest.java:102-121
    # round-trips Long.MIN_VALUE through numValues)
    value &= 0xFFFFFFFFFFFFFFFF
    while True:
        b = value & 0x7F
        value >>= 7
        if value:
            out.append(b | 0x80)
        else:
            out.append(b)
            return


def wire_int64(v: int) -> int:
    """Unsigned varint payload -> proto int64 (two's-complement wrap)."""
    v &= 0xFFFFFFFFFFFFFFFF
    return v - (1 << 64) if v >= (1 << 63) else v


def wire_int32(v: int) -> int:
    """Unsigned varint payload -> proto int32 (truncate, then wrap)."""
    v &= 0xFFFFFFFF
    return v - (1 << 32) if v >= (1 << 31) else v


def _parse_proto(data: bytes) -> dict:
    """Minimal proto wire parser: returns {field_number: last_value} with
    varints as ints and length-delimited fields as bytes."""
    fields: dict = {}
    buf = memoryview(bytes(data))
    i, n = 0, len(buf)

    def read_varint():
        nonlocal i
        shift, val = 0, 0
        while True:
            b = buf[i]
            i += 1
            val |= (b & 0x7F) << shift
            if not (b & 0x80):
                return val
            shift += 7

    while i < n:
        tag = read_varint()
        field, wire = tag >> 3, tag & 7
        if wire == 0:
            fields[field] = read_varint()
        elif wire == 2:
            ln = read_varint()
            if ln > n - i:
                # a lying length field must not silently yield a short
                # (or, via downstream bytes(int) paths, huge) payload
                raise ValueError(
                    f"truncated proto: field {field} claims {ln} bytes "
                    f"but only {n - i} remain")
            fields[field] = bytes(buf[i:i + ln])
            i += ln
        elif wire == 5:
            if n - i < 4:
                raise ValueError(f"truncated proto: fixed32 field {field}")
            fields[field] = bytes(buf[i:i + 4])
            i += 4
        elif wire == 1:
            if n - i < 8:
                raise ValueError(f"truncated proto: fixed64 field {field}")
            fields[field] = bytes(buf[i:i + 8])
            i += 8
        else:
            raise ValueError(f"unsupported wire type {wire}")
    return fields
