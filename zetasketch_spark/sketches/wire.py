"""Versioned wire envelope and bounds-checked reader for the non-HLL
sketch families.

HLL++ has full ``AggregatorStateProto`` parity (proto3 semantics: an
``encoding_version`` field plus unknown-field tolerance, ported from the
reference's StateTest). The nine other families (Bloom, Count-Min,
Count Sketch, DDSketch, Frequent Directions, KLL, t-digest, theta,
time-theta) use compact struct layouts; this module gives them the same
evolution contract:

* layout = ``magic(4) | encoding_version(u8) | payload``. The magic's
  trailing digit is the LAYOUT GENERATION; generation 2 marks this
  versioned envelope, and ANY generation-1 blob (all pre-release
  layouts) is rejected loudly ("not a X sketch") rather than parsed one
  byte off — nothing generation-1 was ever released or durably stored;
* a reader parses the payload fields it knows and IGNORES trailing
  bytes, so a future writer may append fields without breaking old
  readers (the proto unknown-trailing-field rule);
* version 0 / wrong magic are rejected loudly.

Writers must only ever APPEND payload fields when bumping the version.

Every family parses its payload through one ``Reader`` (the reference's
``internal/ByteSlice.java`` role): a field or array that does not fit
the bytes left raises ``ValueError`` naming the family before anything
is sized from it, so a torn write, a short read or a lying length field
never surfaces as ``struct.error``, a ``MemoryError`` or a silent short
parse. Family-semantic checks (k range, dimensions, ...) stay with the
family.
"""

from __future__ import annotations

import struct

import numpy as np

HEADER_LEN = 5  # 4-byte magic + 1-byte encoding version


def pack_header(magic: bytes, version: int) -> bytes:
    return magic + struct.pack("<B", version)


class Reader:
    """Cursor over one blob: validates the envelope on construction
    (``.version`` is the blob's encoding version), then hands out
    struct fields and zero-copy arrays from the payload in order."""

    __slots__ = ("data", "family", "version", "pos")

    def __init__(self, data: bytes, magic: bytes, family: str):
        if len(data) < HEADER_LEN or data[:4] != magic:
            raise ValueError(f"not a {family} sketch")
        self.version = data[4]
        if self.version < 1:
            raise ValueError(
                f"invalid {family} encoding version {self.version}")
        self.data = data
        self.family = family
        self.pos = HEADER_LEN

    @property
    def remaining(self) -> int:
        return len(self.data) - self.pos

    def unpack(self, fmt: str) -> tuple:
        size = struct.calcsize(fmt)
        if size > self.remaining:
            raise ValueError(
                f"truncated {self.family} sketch: {fmt!r} needs {size} "
                f"bytes, {self.remaining} remain")
        out = struct.unpack_from(fmt, self.data, self.pos)
        self.pos += size
        return out

    def array(self, dtype, count: int) -> np.ndarray:
        """``count`` items of ``dtype`` as a read-only view of the blob."""
        dtype = np.dtype(dtype)
        if count < 0 or count * dtype.itemsize > self.remaining:
            raise ValueError(
                f"corrupt {self.family} sketch: {count} {dtype} items do "
                f"not fit the {self.remaining} bytes that remain")
        out = np.frombuffer(self.data, dtype=dtype, count=count,
                            offset=self.pos)
        self.pos += count * dtype.itemsize
        return out
