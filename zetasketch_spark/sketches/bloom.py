"""Bloom filter (Bloom 1970): m bits, k hash functions.

Membership sketch over the same typed-value hashing as HLL++: one
fingerprint2011 pass per batch, the k probe positions derived by
Kirsch–Mitzenmacher double hashing h_i = h1 + i·h2 (published to preserve
the asymptotic false-positive rate with just two base hashes).

Published-bound pytest oracle (FIXTURES.md F6): zero false negatives;
measured FPR ≤ ~1.5x the analytic (1 − e^(−kn/m))^k.
Merge = bitwise OR (same m, k).
"""

from __future__ import annotations

import math
import struct

import numpy as np
import pandas as pd

from zetasketch_spark.hashing import (
    fingerprint_int_array,
    fingerprint_long_array,
    fingerprint_str_series,
)
from zetasketch_spark.sketches.base import SketchFamily, register_family

_MAGIC = b"BLM2"
_ENCODING_VERSION = 1


def optimal_params(n: int, fpr: float) -> tuple[int, int]:
    """(m bits, k hashes) for expected ``n`` inserts at target ``fpr``."""
    m = int(math.ceil(-n * math.log(fpr) / (math.log(2) ** 2)))
    m = max(64, (m + 63) & ~63)  # round up to whole uint64 words
    k = max(1, round(m / n * math.log(2))) if n else 1
    return m, k


def _hash_series(values: pd.Series, had_nulls: bool = False,
                 value_type: str | None = None) -> np.ndarray:
    """TYPED recipes (dtype -> wire-spec hash), pinned equal to the Arrow
    fabric by test_bloom_float_columns. float64 batches resolve through
    the SHARED `hashing.resolve_float64_hash_domain` rule (declared
    value_type, else nullable-int promotion detection) — the same rule
    on the add AND contains paths, so a null-containing probe batch can
    never hash a different domain than its build batches (zero-FN
    invariant)."""
    from zetasketch_spark.hashing import (
        fingerprint_double_array, fingerprint_float_array,
        resolve_float64_hash_domain)

    dtype = values.dtype
    if dtype == np.int64 or str(dtype) == "Int64":
        return fingerprint_long_array(values.to_numpy(dtype=np.int64))
    if dtype == np.int32 or str(dtype) == "Int32":
        return fingerprint_int_array(values.to_numpy(dtype=np.int32))
    if dtype == np.float64 or str(dtype) == "Float64":
        domain, vals = resolve_float64_hash_domain(
            values.to_numpy(dtype=np.float64), had_nulls, value_type)
        return {"long": fingerprint_long_array,
                "int": fingerprint_int_array,
                "float": fingerprint_float_array,
                "double": fingerprint_double_array}[domain](vals)
    if dtype == np.float32 or str(dtype) == "Float32":
        return fingerprint_float_array(values.to_numpy(dtype=np.float32))
    return fingerprint_str_series(values)


class BloomFilter:
    __slots__ = ("m", "k", "words", "n_added", "encoding_version")

    def __init__(self, m: int = 1 << 20, k: int = 7):
        if m % 64:
            raise ValueError("m must be a multiple of 64")
        self.m = m
        self.k = k
        self.words = np.zeros(m // 64, dtype=np.uint64)
        self.n_added = 0
        self.encoding_version = _ENCODING_VERSION

    def _positions(self, hashes: np.ndarray) -> np.ndarray:
        """k x n bit positions."""
        h1 = hashes & np.uint64(0xFFFFFFFFFFFF)
        h2 = (hashes >> np.uint64(17)) | np.uint64(1)
        i = np.arange(self.k, dtype=np.uint64)[:, None]
        return ((h1[None, :] + i * h2[None, :]) % np.uint64(self.m))

    def add_series(self, values: pd.Series,
                   value_type: str | None = None) -> None:
        values = pd.Series(values)
        had_nulls = bool(values.isna().any())
        values = values.dropna()
        if len(values) == 0:
            return
        self.add_hashes(_hash_series(values, had_nulls, value_type))

    def add_hashes(self, hashes: np.ndarray) -> None:
        if len(hashes) == 0:
            return
        pos = self._positions(hashes).ravel()
        # np.bitwise_or.at is an unbuffered per-element loop (~100 ns per
        # op — measured 1.5 s for 1.5M keys x k=7 at m=2^17). A boolean
        # scatter is a plain vectorized store (duplicates just store True
        # again), and packbits folds the mask into the word array; ~30x
        # faster. The mask costs m/8 bytes — for huge filters fall back
        # to the in-place path rather than allocating it per batch.
        import sys

        if self.m <= (1 << 26) and sys.byteorder == "little":
            mask = np.zeros(self.m, dtype=bool)
            mask[pos] = True
            self.words |= np.packbits(mask, bitorder="little").view(np.uint64)
        else:
            word = (pos >> np.uint64(6)).astype(np.int64)
            bit = np.uint64(1) << (pos & np.uint64(63))
            np.bitwise_or.at(self.words, word, bit)
        self.n_added += len(hashes)

    def contains_series(self, values: pd.Series,
                        value_type: str | None = None) -> np.ndarray:
        values = pd.Series(values)
        mask_na = values.isna().to_numpy()
        filled = values.fillna("" if values.dtype == object else 0)
        # same domain resolution as add_series: a probe batch whose nulls
        # promoted it to float64 must hash the build's (long) domain
        pos = self._positions(_hash_series(filled, bool(mask_na.any()),
                                           value_type))
        word = (pos >> np.uint64(6)).astype(np.int64)
        bit = np.uint64(1) << (pos & np.uint64(63))
        hit = (self.words[word] & bit) != 0
        out = hit.all(axis=0)
        out[mask_na] = False
        return out

    def expected_fpr(self) -> float:
        return (1 - math.exp(-self.k * self.n_added / self.m)) ** self.k

    def merge(self, other: "BloomFilter") -> None:
        if (self.m, self.k) != (other.m, other.k):
            raise ValueError(
                f"cannot merge Bloom(m={self.m},k={self.k}) with Bloom(m={other.m},k={other.k})")
        np.bitwise_or(self.words, other.words, out=self.words)
        self.n_added += other.n_added

    def serialize(self) -> bytes:
        from zetasketch_spark.sketches.wire import pack_header

        return (pack_header(_MAGIC, _ENCODING_VERSION)
                + struct.pack("<qiq", self.m, self.k, self.n_added)
                + self.words.tobytes())

    @classmethod
    def deserialize(cls, data: bytes) -> "BloomFilter":
        """Parse a serialized state; a blob this module could not have
        written (m not a positive multiple of 64, k < 1, a negative add
        count, bits running past the buffer, truncation anywhere) raises
        ValueError before anything is allocated — never a bare
        ``struct.error`` or a ``MemoryError``."""
        from zetasketch_spark.sketches.wire import read_header

        version, off = read_header(data, _MAGIC, "Bloom")
        try:
            m, k, n = struct.unpack_from("<qiq", data, off)
        except struct.error as e:
            raise ValueError(f"truncated Bloom filter: {e}") from None
        off += struct.calcsize("<qiq")
        if m <= 0 or m % 64 or k < 1 or n < 0 or off + m // 8 > len(data):
            raise ValueError(
                f"corrupt Bloom filter: m={m} bits, k={k}, n_added={n} in "
                f"a {len(data)}-byte blob")
        bf = cls(m=m, k=k)
        bf.words = np.frombuffer(data, dtype=np.uint64, count=m // 64, offset=off).copy()
        bf.n_added = n
        bf.encoding_version = version  # trailing bytes beyond words are
        return bf                      # ignored (forward compat)


class BloomFamily(SketchFamily):
    name = "bloom"
    result_fields = [("n_added", "bigint"), ("bits_set", "bigint"),
                     ("expected_fpr", "double")]

    def __init__(self, m: int = 1 << 20, k: int = 7,
                 value_type: str | None = None):
        self.m = m
        self.k = k
        #: declared hash domain for float64 batches ('long' | 'int' |
        #: 'float' | 'double' | None = auto). Same hazard and same cure
        #: as HllFamily: Arrow promotes nullable int columns to float64
        #: per batch, so without a declared type the same key would hash
        #: via the INT64 recipe in null-free batches and the DOUBLE
        #: recipe in null-containing ones — forked domains, false
        #: negatives. pin_value_type fills this from the Spark schema at
        #: the operator call sites.
        self.value_type = value_type

    def make(self):
        return BloomFilter(self.m, self.k)

    def prepare_arrow(self, arr):
        from zetasketch_spark.hashing import fingerprint_arrow_array
        from zetasketch_spark.sketches.base import _HashPrepared

        hashes, valid = fingerprint_arrow_array(arr)
        return _HashPrepared(hashes, valid)

    def update_prepared(self, state, hashes):
        state.add_hashes(np.asarray(hashes))
        return state

    def update(self, state, values):
        # domain resolution (declared value_type, else promotion
        # detection) lives in _hash_series via the shared
        # hashing.resolve_float64_hash_domain rule
        state.add_series(values, value_type=self.value_type)
        return state

    def merge(self, a, b):
        a.merge(b)
        return a

    def serialize(self, state):
        return state.serialize()

    def deserialize(self, data):
        return BloomFilter.deserialize(bytes(data))

    def result(self, state):
        bits = int(np.unpackbits(state.words.view(np.uint8)).sum())
        return (state.n_added, bits, state.expected_fpr())


register_family("bloom", BloomFamily)
