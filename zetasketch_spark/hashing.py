"""Vectorized fingerprint2011 — the 64-bit hash the reference pins for
cross-language sketch compatibility.

The reference (`java/com/google/zetasketch/internal/hash/Hash.java:32-50`)
delegates to Guava's public ``Hashing.fingerprint2011()`` with the hash
recipes specified in `proto/aggregator.proto:88-136`:

* int32  -> fingerprint2011 of the 4 little-endian bytes
* int64  -> fingerprint2011 of the 8 little-endian bytes
* string -> fingerprint2011 of the UTF-8 bytes (NOT normalized)
* bytes  -> fingerprint2011 of the raw bytes
* int8/uint8   -> fingerprint2011 of the single 2s-complement byte
* int16/uint16 -> fingerprint2011 of the 2 little-endian bytes
  (the narrow C++ DefaultOps<T> recipes of aggregator.proto:77-110;
  goldens in tools/fp_narrow_golden.tsv)

The algorithm below is re-implemented from the public, Apache-2.0-licensed
Guava source (``com.google.common.hash.Fingerprint2011``) and validated
against the golden vectors in
`javatests/com/google/zetasketch/internal/hash/HashTest.java:30-57` plus an
extended golden corpus generated from Guava itself
(`tools/fp2011_golden.tsv`).

Everything is numpy-vectorized: scalar helpers exist only for tests, the
Spark hot path uses the ``fingerprint_*_array`` batch entry points
(Arrow/pandas batches in, ``uint64`` hash arrays out — no per-row Python).
"""

from __future__ import annotations

import sys

import numpy as np

U64 = np.uint64
_MASK = 0xFFFFFFFFFFFFFFFF

# Primes between 2^63 and 2^64 (public Fingerprint2011 constants).
K0 = U64(0xA5B85C5E198ED849)
K1 = U64(0x8D58AC26AFE12E47)
K2 = U64(0xC47B6E9E3A970ED3)
K3 = U64(0xC6A4A7935BD1E995)  # murmur-style multiplier
_SEED = U64(K0 ^ K1 ^ K2)  # seed for the <=32-byte murmur path
_SEED8 = U64((int(_SEED) ^ (8 * int(K3))) & _MASK)  # murmur h0 for len=8

_SHIFT47 = U64(47)


def _rotr(x: np.ndarray | np.uint64, r: int) -> np.ndarray | np.uint64:
    r64 = U64(r)
    return (x >> r64) | (x << U64(64 - r))


def _shift_mix(x):
    return x ^ (x >> _SHIFT47)


def _hash128to64(high, low):
    """Murmur-inspired 128->64 mix (public CityHash/Fingerprint2011 tail)."""
    a = (low ^ high) * K3
    a ^= a >> _SHIFT47
    b = (high ^ a) * K3
    b ^= b >> _SHIFT47
    b = b * K3
    return b


# ---------------------------------------------------------------------------
# Fixed-width fast paths: int32 / int64 columns hash in closed form.
# ---------------------------------------------------------------------------

def fingerprint_long_array(values: np.ndarray) -> np.ndarray:
    """fingerprint2011 of each int64 as its 8 little-endian bytes.

    Fully closed-form: for len==8 the murmur loop runs exactly once and the
    final mix uses u = the value itself, v = K0 (len < 9).
    """
    x = np.ascontiguousarray(values, dtype=np.int64).view(np.uint64)
    n = len(x)
    res = np.empty(n, dtype=np.uint64)
    # cache-resident chunks with preallocated scratch + in-place ops: every
    # temporary here is n x 8 bytes of DRAM traffic, and this is the hot
    # kernel of the whole engine — keep it in L2.
    chunk = 65536
    t = np.empty(min(n, chunk), dtype=np.uint64)
    u = np.empty(min(n, chunk), dtype=np.uint64)
    for s in range(0, n, chunk):
        e = min(s + chunk, n)
        m = e - s
        xv = x[s:e]
        tv, uv = t[:m], u[:m]
        # murmur body: data = shift_mix(x*K3)*K3; h = (SEED8 ^ data)*K3
        np.multiply(xv, K3, out=tv)
        np.right_shift(tv, _SHIFT47, out=uv)
        np.bitwise_xor(tv, uv, out=tv)
        np.multiply(tv, K3, out=tv)
        np.bitwise_xor(tv, _SEED8, out=tv)
        np.multiply(tv, K3, out=tv)
        # h = shift_mix(h)*K3; h = shift_mix(h)
        np.right_shift(tv, _SHIFT47, out=uv)
        np.bitwise_xor(tv, uv, out=tv)
        np.multiply(tv, K3, out=tv)
        np.right_shift(tv, _SHIFT47, out=uv)
        np.bitwise_xor(tv, uv, out=tv)
        # tail: hash128to64(high=h+K0, low=x)
        np.add(tv, K0, out=tv)
        rv = res[s:e]
        np.bitwise_xor(xv, tv, out=rv)
        np.multiply(rv, K3, out=rv)
        np.right_shift(rv, _SHIFT47, out=uv)
        np.bitwise_xor(rv, uv, out=rv)
        np.bitwise_xor(tv, rv, out=rv)
        np.multiply(rv, K3, out=rv)
        np.right_shift(rv, _SHIFT47, out=uv)
        np.bitwise_xor(rv, uv, out=rv)
        np.multiply(rv, K3, out=rv)
    bad = (res == U64(0)) | (res == U64(1))
    if bad.any():
        res[bad] += U64(_MASK - 1)  # += ~1 (i.e. -2)
    return res


def kgram_window_hashes(texts, k: int) -> tuple[np.ndarray, np.ndarray, int]:
    """Positional word k-gram fingerprints for a whole batch of texts.

    Returns ``(hashes uint64[T], doc_of int64[T], n_docs)`` with each
    document's grams contiguous and in positional order. A gram hash is
    fingerprint2011 over the k consecutive word fingerprints' bytes — the
    word hashes are already contiguous in one buffer, so every gram is a
    zero-copy (offset, length) window and the batch needs exactly two
    fingerprint passes total (words, then grams). Documents with
    ``0 < words < k`` contribute one gram over all their words.
    """
    import pandas as pd

    word_lists = [(t or "").split() for t in texts]
    n_docs = len(word_lists)
    counts = np.array([len(w) for w in word_lists], dtype=np.int64)
    flat = [w for ws in word_lists for w in ws]
    if not flat:
        return (np.empty(0, dtype=np.uint64), np.empty(0, dtype=np.int64), n_docs)
    wh = fingerprint_str_series(pd.Series(flat))
    starts = np.cumsum(counts) - counts
    m = np.where(counts >= k, counts - k + 1, np.where(counts > 0, 1, 0))
    tot = int(m.sum())
    doc_of = np.repeat(np.arange(n_docs, dtype=np.int64), m)
    within = np.arange(tot, dtype=np.int64) - np.repeat(np.cumsum(m) - m, m)
    off = (within + np.repeat(starts, m)) * 8
    lens = np.minimum(counts[doc_of], k) * 8
    return fingerprint_bytes_batch(wh.view(np.uint8), off, lens), doc_of, n_docs


def unique_counts_per_doc(h: np.ndarray, doc_of: np.ndarray,
                          n_docs: int) -> np.ndarray:
    """Per-document DISTINCT-hash counts, fully vectorized (one lexsort +
    adjacent-dedupe + bincount; no per-doc arrays)."""
    order = np.lexsort((h, doc_of))
    hs, ds = h[order], doc_of[order]
    keep = np.ones(len(hs), dtype=bool)
    keep[1:] = (ds[1:] != ds[:-1]) | (hs[1:] != hs[:-1])
    return np.bincount(ds[keep], minlength=n_docs).astype(np.int64)


def unique_per_doc(h: np.ndarray, doc_of: np.ndarray,
                   n_docs: int) -> list[np.ndarray]:
    """Sorted unique hashes per document from flat ``(hash, doc)`` pairs:
    one lexsort + adjacent-dedupe + split (views) for the whole batch."""
    order = np.lexsort((h, doc_of))
    hs, ds = h[order], doc_of[order]
    keep = np.ones(len(hs), dtype=bool)
    keep[1:] = (ds[1:] != ds[:-1]) | (hs[1:] != hs[:-1])
    hu, du = hs[keep], ds[keep]
    per_doc = np.bincount(du, minlength=n_docs)
    return np.split(hu, np.cumsum(per_doc)[:-1])


def fingerprint_double_array(values: np.ndarray) -> np.ndarray:
    """fingerprint2011 of each float64's 8 little-endian IEEE754 bytes —
    the DOUBLE hash recipe (`proto/aggregator.proto:126-130`,
    DefaultOpsType.Id.DOUBLE = 10). The byte string equals the int64
    bit-pattern's, so the 8-byte closed-form kernel applies directly.
    Goldens: tools/fpfloat_golden.tsv (Guava-generated)."""
    return fingerprint_long_array(
        np.ascontiguousarray(values, dtype=np.float64).view(np.int64))


def fingerprint_float_array(values: np.ndarray) -> np.ndarray:
    """fingerprint2011 of each float32's 4 little-endian IEEE754 bytes —
    the FLOAT hash recipe (`proto/aggregator.proto:121-125`,
    DefaultOpsType.Id.FLOAT = 9)."""
    return fingerprint_int_array(
        np.ascontiguousarray(values, dtype=np.float32).view(np.int32))


def fingerprint_int_array(values: np.ndarray) -> np.ndarray:
    """fingerprint2011 of each int32 as its 4 little-endian bytes.

    len==4: murmur remainder-only path; u = v = K0 in the final mix.
    """
    x = np.ascontiguousarray(values, dtype=np.int32).view(np.uint32).astype(np.uint64)
    return _fingerprint_fixed_narrow(x, 4)


def _fingerprint_fixed_narrow(bits: np.ndarray, nbytes: int) -> np.ndarray:
    """fingerprint2011 of each row's ``nbytes`` (1..7) little-endian bytes,
    given per-row ``bits`` = the bytes loaded little-endian into a uint64.

    Closed form of the <=32-byte murmur path for a fixed sub-word length:
    zero aligned words, one remainder load (the value's unsigned bit
    pattern), then the u = v = K0 final mix (len < 8 never overwrites u/v).
    """
    h = U64((int(_SEED) ^ (nbytes * int(K3))) & _MASK)
    h = (h ^ bits) * K3
    h = _shift_mix(h) * K3
    h = _shift_mix(h)
    res = _hash128to64(h + K0, K0)
    bad = (res == U64(0)) | (res == U64(1))
    if bad.any():
        res = np.where(bad, res + U64(_MASK - 1), res)
    return res


def fingerprint_int8_array(values: np.ndarray) -> np.ndarray:
    """fingerprint2011 of the single 2s-complement byte — the INT8 recipe
    (`proto/aggregator.proto:77-80`, DefaultOpsType.Id.INT8 = 1; UINT8 = 5
    shares the byte recipe). Goldens: tools/fp_narrow_golden.tsv."""
    x = np.ascontiguousarray(values, dtype=np.int8).view(np.uint8).astype(np.uint64)
    return _fingerprint_fixed_narrow(x, 1)


def fingerprint_uint8_array(values: np.ndarray) -> np.ndarray:
    """UINT8 recipe (`proto/aggregator.proto:102-105`): same single-byte
    string as INT8 at equal bit pattern."""
    x = np.ascontiguousarray(values, dtype=np.uint8).astype(np.uint64)
    return _fingerprint_fixed_narrow(x, 1)


def fingerprint_int16_array(values: np.ndarray) -> np.ndarray:
    """fingerprint2011 of the two little-endian 2s-complement bytes — the
    INT16 recipe (`proto/aggregator.proto:82-86`, DefaultOpsType.Id.INT16 =
    2; UINT16 = 6 shares the byte recipe)."""
    x = np.ascontiguousarray(values, dtype=np.int16).view(np.uint16).astype(np.uint64)
    return _fingerprint_fixed_narrow(x, 2)


def fingerprint_uint16_array(values: np.ndarray) -> np.ndarray:
    """UINT16 recipe (`proto/aggregator.proto:107-110`)."""
    x = np.ascontiguousarray(values, dtype=np.uint16).astype(np.uint64)
    return _fingerprint_fixed_narrow(x, 2)


# ---------------------------------------------------------------------------
# Variable-length path: batched bytes/strings.
# The batch arrives as one flat uint8 buffer + per-row (offset, length),
# exactly Arrow's string layout, so ``fingerprint_str_series`` is zero-copy
# off a pandas/Arrow column.
# ---------------------------------------------------------------------------

_LITTLE_ENDIAN = sys.byteorder == "little"


def _load64_gather(buf: np.ndarray, pos: np.ndarray) -> np.ndarray:
    """Unaligned little-endian 64-bit loads at ``pos`` (vectorized gather).

    One row-gather off an 8-byte sliding view + a uint64 reinterpret —
    8x fewer gathers than per-byte assembly (callers guarantee
    ``pos + 8 <= len(buf)`` via the pad in ``fingerprint_bytes_batch``)."""
    if _LITTLE_ENDIAN:
        sw = np.lib.stride_tricks.sliding_window_view(buf, 8)
        return np.ascontiguousarray(sw[pos]).view(np.uint64).ravel()
    b = buf[pos[:, None] + np.arange(8)].astype(np.uint64)
    out = b[:, 0]
    for k in range(1, 8):
        out = out | (b[:, k] << U64(8 * k))
    return out


def _load64_safely(buf: np.ndarray, pos: np.ndarray, nbytes: np.ndarray) -> np.ndarray:
    """LE load of ``nbytes[i]`` (< 8) bytes at pos[i], zero-padded high."""
    if _LITTLE_ENDIAN:
        # over-read 8 bytes (pad guarantees in-bounds), mask the tail
        full = _load64_gather(buf, pos)
        mask = (U64(1) << (nbytes.astype(np.uint64) * U64(8))) - U64(1)
        return full & mask
    out = np.zeros(len(pos), dtype=np.uint64)
    for k in range(8):
        m = nbytes > k
        if not m.any():
            break
        vals = buf[pos[m] + k].astype(np.uint64) << U64(8 * k)
        out[m] = out[m] | vals
    return out


def _murmur64_batch(buf, off, length):
    """murmurHash64WithSeed for all rows with length <= 32 (vectorized)."""
    aligned = length & ~np.int64(7)
    rem = length & np.int64(7)
    h = _SEED ^ (length.astype(np.uint64) * K3)
    # at most 4 aligned words for len <= 32
    for w in range(4):
        m = aligned > 8 * w
        if not m.any():
            break
        loaded = _load64_gather(buf, off[m] + 8 * w)
        data = _shift_mix(loaded * K3) * K3
        h[m] = (h[m] ^ data) * K3
    m = rem != 0
    if m.any():
        data = _load64_safely(buf, off[m] + aligned[m], rem[m])
        h[m] = (h[m] ^ data) * K3
    h = _shift_mix(h) * K3
    h = _shift_mix(h)
    return h


def _hash33to64_batch(buf, off, length):
    """hashLength33To64 vectorized across rows (33 <= len <= 64)."""
    ld = lambda p: _load64_gather(buf, p)  # noqa: E731
    z = ld(off + 24)
    a = ld(off) + (length.astype(np.uint64) + ld(off + length - 16)) * K0
    b = _rotr(a + z, 52)
    c = _rotr(a, 37)
    a = a + ld(off + 8)
    c = c + _rotr(a, 7)
    a = a + ld(off + 16)
    vf = a + z
    vs = b + _rotr(a, 31) + c
    a = ld(off + 16) + ld(off + length - 32)
    z = ld(off + length - 8)
    b = _rotr(a + z, 52)
    c = _rotr(a, 37)
    a = a + ld(off + length - 24)
    c = c + _rotr(a, 7)
    a = a + ld(off + length - 16)
    wf = a + z
    ws = b + _rotr(a, 31) + c
    r = _shift_mix((vf + ws) * K2 + (wf + vs) * K0)
    return _shift_mix(r * K0 + vs) * K2


def _weak32_batch(buf, off, seed_a, seed_b):
    p1 = _load64_gather(buf, off)
    p2 = _load64_gather(buf, off + 8)
    p3 = _load64_gather(buf, off + 16)
    p4 = _load64_gather(buf, off + 24)
    return _weak32_words(p1, p2, p3, p4, seed_a, seed_b)


def _weak32_words(p1, p2, p3, p4, seed_a, seed_b):
    a = seed_a + p1
    b = _rotr(seed_b + a + p4, 51)
    c = a
    a = a + p2
    a = a + p3
    b = b + _rotr(a, 23)
    return a + p4, b + c


def _full_fingerprint_batch(buf, off, length):
    """fullFingerprint (> 64 bytes), vectorized across rows.

    Rows are processed in descending-length order so the active set of
    the 64-byte chunk loop is always a PREFIX: per-round state updates
    are contiguous slice views instead of boolean-mask gathers/copies —
    on long-text batches this is the difference between O(rounds·n)
    masked traffic and O(total_bytes) work."""
    order = np.argsort(-length, kind="stable")
    off = off[order]
    length = length[order]
    ln64 = length.astype(np.uint64)
    x = _load64_gather(buf, off)
    y = _load64_gather(buf, off + length - 16) ^ K1
    z = _load64_gather(buf, off + length - 56) ^ K0
    v0, v1 = _weak32_batch(buf, off + length - 64, ln64, y)
    w0, w1 = _weak32_batch(buf, off + length - 32, ln64 * K1, np.full_like(ln64, K0))
    z = z + _shift_mix(v1) * K1
    x = _rotr(z + x, 39) * K1
    y = _rotr(y, 33) * K1
    rem = (length - 1) & ~np.int64(63)  # sorted desc, like length
    pos = off.copy()
    k = int(np.searchsorted(-rem, 0, side="left"))  # rows with rem > 0
    sw64 = (np.lib.stride_tricks.sliding_window_view(buf, 64)
            if k and _LITTLE_ENDIAN else None)
    while k > 0:
        pm = pos[:k]
        if sw64 is not None:
            # ONE 64-byte gather per row serves all 10 word loads of the round
            blk = sw64[pm].view(np.uint64)  # (k, 8) little-endian words
            words = [blk[:, i] for i in range(8)]
        else:
            words = [_load64_gather(buf, pm + 8 * i) for i in range(8)]
        x_m = _rotr(x[:k] + y[:k] + v0[:k] + words[2], 37) * K1
        y_m = _rotr(y[:k] + v1[:k] + words[6], 42) * K1
        x_m = x_m ^ w1[:k]
        y_m = y_m ^ v0[:k]
        z_m = _rotr(z[:k] ^ w0[:k], 33)
        nv0, nv1 = _weak32_words(words[0], words[1], words[2], words[3],
                                 v1[:k] * K1, x_m + w0[:k])
        nw0, nw1 = _weak32_words(words[4], words[5], words[6], words[7],
                                 z_m + w1[:k], y_m)
        # swap(z, x)
        x[:k], z[:k] = z_m, x_m
        y[:k] = y_m
        v0[:k], v1[:k] = nv0, nv1
        w0[:k], w1[:k] = nw0, nw1
        pos[:k] += 64
        rem[:k] -= 64
        k = int(np.searchsorted(-rem[:k], 0, side="left"))
    res = _hash128to64(
        _hash128to64(v0, w0) + _shift_mix(y) * K1 + z,
        _hash128to64(v1, w1) + x,
    )
    out = np.empty_like(res)
    out[order] = res
    return out


def fingerprint_bytes_batch(buf: np.ndarray, off: np.ndarray, length: np.ndarray) -> np.ndarray:
    """fingerprint2011 of ``n`` byte strings packed in ``buf`` (uint8 flat
    buffer) with per-row ``off``/``length`` int64 arrays. Returns uint64[n].
    """
    buf = np.asarray(buf, dtype=np.uint8)
    off = np.asarray(off, dtype=np.int64)
    length = np.asarray(length, dtype=np.int64)
    n = len(off)
    # pad the buffer so unaligned 8-byte gathers at the tail never go OOB
    buf = np.concatenate([buf, np.zeros(8, dtype=np.uint8)])
    # cache-resident row chunks (same rationale as fingerprint_long_array),
    # sized by PAYLOAD bytes, not row count: the 64-byte-round gathers are
    # random-access within the chunk's byte range (rows are re-sorted by
    # length), so a chunk must fit in cache — ~6 MB of long documents is
    # ~10k rows (measured 24% faster than 65536-row chunks on ~600 B
    # texts), while short tokens keep the 65536-row ceiling (per-chunk
    # setup would dominate otherwise).
    if n > 8192:
        avg = max(int(length.sum()) // n, 1)
        chunk = int(min(65536, max(8192, (6 << 20) // avg)))
    else:
        chunk = 65536
    if n > chunk:
        out = np.empty(n, dtype=np.uint64)
        for s in range(0, n, chunk):
            e = min(s + chunk, n)
            out[s:e] = _fingerprint_bytes_chunk(buf, off[s:e], length[s:e])
        return out
    return _fingerprint_bytes_chunk(buf, off, length)


def _fingerprint_bytes_chunk(buf, off, length):
    n = len(off)
    result = np.zeros(n, dtype=np.uint64)

    small = length <= 32
    mid = (length > 32) & (length <= 64)
    big = length > 64
    if small.any():
        result[small] = _murmur64_batch(buf, off[small], length[small])
    if mid.any():
        result[mid] = _hash33to64_batch(buf, off[mid], length[mid])
    if big.any():
        result[big] = _full_fingerprint_batch(buf, off[big], length[big])

    u = np.full(n, K0, dtype=np.uint64)
    v = np.full(n, K0, dtype=np.uint64)
    m8 = length >= 8
    if m8.any():
        u[m8] = _load64_gather(buf, off[m8])
    m9 = length >= 9
    if m9.any():
        v[m9] = _load64_gather(buf, off[m9] + length[m9] - 8)
    result = _hash128to64(result + v, u)
    bad = (result == U64(0)) | (result == U64(1))
    if bad.any():
        result = np.where(bad, result + U64(_MASK - 1), result)
    return result


def resolve_float64_hash_domain(arr: np.ndarray, had_nulls: bool,
                                value_type: str | None):
    """ONE rule for hashing a float64 pandas batch in a typed (non-string)
    domain, shared by every family (HLL, Bloom) and by probe paths, so
    the build and probe sides of a sketch can never disagree.

    Arrow promotes a nullable int column to float64 only in
    null-containing batches; the promotion signature (nulls present +
    every value integral + in int64 range) therefore routes to the
    'long' domain unless a value_type was declared. Returns
    ``(domain, values)`` with domain in {'long','int','float','double'}
    and values cast for that domain's fingerprint kernel."""
    vt = value_type
    if vt is None and had_nulls and len(arr) \
            and bool(np.all(np.mod(arr, 1.0) == 0)) \
            and bool(np.all(np.abs(arr) < 2.0**63)):
        vt = "long"
    if vt == "long":
        ints = arr.astype(np.int64)
        if not np.array_equal(ints.astype(np.float64), arr):
            raise ValueError(
                "value_type='long' but batch contains non-integral floats")
        return "long", ints
    if vt == "int":
        return "int", arr.astype(np.int32)
    if vt == "float":
        return "float", arr.astype(np.float32)
    return "double", arr


def canon_key_series(s) -> "pd.Series":
    """Canonical string form for string-domain sketch keys (Count-Min,
    Bloom, theta — every family that hashes keys through ONE string
    domain regardless of column dtype).

    Canonicalization is PER VALUE, never per batch: Arrow promotes a
    nullable int column to float64 only in null-containing batches, so a
    naive ``astype(str)`` renders the SAME key as '1' in one batch and
    '1.0' in another — two hash domains, broken state equality across
    batch boundaries and fabrics (the CLAUDE.md invariant). Integral
    finite floats render as integers; other floats via repr(); everything
    else via str(); nulls stay None (no identity)."""
    import pandas as pd

    s = pd.Series(s) if not isinstance(s, pd.Series) else s
    if isinstance(s.dtype, pd.CategoricalDtype):
        # Arrow dictionary columns decode to Categorical; unwrap to the
        # category dtype so a dict-encoded float column takes the float
        # branch ('1', not the Categorical astype(str) '1.0') — the
        # rendering must depend on the VALUE, never on the container
        s = s.astype(s.cat.categories.dtype)
    if str(s.dtype) in ("float64", "float32", "Float64", "Float32"):
        arr = s.to_numpy(dtype=np.float64, na_value=np.nan)
        out = pd.Series([None] * len(s), index=s.index, dtype=object)
        finite = np.isfinite(arr)
        with np.errstate(invalid="ignore"):
            integral = finite & (np.mod(arr, 1.0) == 0) & (np.abs(arr) < 2.0**63)
        if integral.any():
            out[integral] = arr[integral].astype(np.int64).astype(str)
        frac = finite & ~integral
        if frac.any():
            out[frac] = [repr(float(v)) for v in arr[frac]]
        inf = np.isinf(arr)
        if inf.any():
            out[inf] = [repr(float(v)) for v in arr[inf]]
        return out

    if s.dtype == object:
        # hot path: an all-string batch is ALREADY canonical (str(v) == v)
        # — keep it zero-copy for the downstream Arrow hash kernel instead
        # of a per-value rendering loop (infer_dtype is C-implemented)
        inferred = pd.api.types.infer_dtype(s, skipna=True)
        if inferred in ("string", "empty"):
            mask = s.isna()
            if not mask.any():
                return s
            out = s.copy()
            out[mask] = None
            return out

        def canon(v):
            if pd.isna(v):
                return None
            if isinstance(v, (float, np.floating)):
                f = float(v)
                # the SAME value must render identically whatever dtype
                # carried it (match the vectorized branch exactly)
                if np.isfinite(f) and abs(f) < 2.0**63 and f == int(f):
                    return str(int(f))
                return repr(f)
            return str(v)

        return s.map(canon)

    # integer / boolean / string dtypes: vectorized str, nulls masked
    mask = s.isna()
    out = s.astype(str).astype(object)
    out[mask] = None
    return out


def fingerprint_str_series(series) -> np.ndarray:
    """Hash a pandas Series of str/bytes (UTF-8 for str). Nulls hash to 0
    and must be filtered by the caller (the reference never adds nulls).

    Fast path: pyarrow does the UTF-8 encoding + offset building in C and
    the hash kernel reads the Arrow buffers zero-copy — ~3x faster than a
    per-string Python encode loop on short-token batches (the shingling /
    SimHash hot path). Mixed str/bytes or NaN-as-null inputs fall back to
    the loop."""
    import pandas as pd

    arr = series.to_numpy(dtype=object) if isinstance(series, pd.Series) else np.asarray(series, dtype=object)
    n = len(arr)
    try:
        import pyarrow as pa
    except ImportError:
        pa_arr = None
    else:
        try:
            pa_arr = pa.array(arr, type=pa.string())
        except Exception:
            # mixed str/bytes, NaN-as-null, >2GiB offsets, ... -> loop path
            pa_arr = None
    if pa_arr is not None:
        out, valid = fingerprint_arrow_array(pa_arr)
        out = np.ascontiguousarray(out)
        if valid is not None:
            out[~valid] = 0
        return out
    lengths = np.zeros(n, dtype=np.int64)
    chunks: list[bytes] = []
    valid = np.ones(n, dtype=bool)
    for i, s in enumerate(arr):
        if s is None or (isinstance(s, float) and np.isnan(s)):
            valid[i] = False
            chunks.append(b"")
            continue
        b = s.encode("utf-8") if isinstance(s, str) else bytes(s)
        lengths[i] = len(b)
        chunks.append(b)
    flat = np.frombuffer(b"".join(chunks), dtype=np.uint8)
    off = np.zeros(n, dtype=np.int64)
    np.cumsum(lengths[:-1], out=off[1:]) if n > 1 else None
    out = fingerprint_bytes_batch(flat, off, lengths)
    if not valid.all():
        out[~valid] = 0
    return out


def fingerprint_canon_series(values) -> np.ndarray:
    """The string-canonical key domain of theta, temporal theta and
    Count-Min: fingerprints of each value's canonical rendering
    (`canon_key_series`, per value), so sketches of the same logical keys
    agree across dtypes, batches and fabrics (Arrow's nullable-int ->
    float64 batch promotion must not fork the domain)."""
    return fingerprint_str_series(canon_key_series(values))


def fingerprint_arrow_array(arr) -> tuple[np.ndarray, np.ndarray | None]:
    """Hash a pyarrow Array zero-copy off its buffers. Returns
    ``(hashes uint64[n], valid bool[n] | None)`` — null slots hold garbage
    hashes and must be masked by the caller via ``valid``.

    This is the Spark hot path: ``mapInArrow`` hands us the Arrow buffers
    directly, so string batches never materialize as Python objects.
    """
    import pyarrow as pa

    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    typ = arr.type
    n = len(arr)
    valid = None
    if arr.null_count:
        valid = np.asarray(arr.is_valid())
    if pa.types.is_string(typ) or pa.types.is_binary(typ) or \
            pa.types.is_large_string(typ) or pa.types.is_large_binary(typ):
        bufs = arr.buffers()
        odt = np.int64 if (pa.types.is_large_string(typ) or pa.types.is_large_binary(typ)) else np.int32
        osz = 8 if odt == np.int64 else 4
        offsets = np.frombuffer(bufs[1], dtype=odt, count=n + 1, offset=arr.offset * osz)
        data = np.frombuffer(bufs[2], dtype=np.uint8) if bufs[2] is not None else np.empty(0, np.uint8)
        off = offsets[:-1].astype(np.int64)
        ln = np.diff(offsets).astype(np.int64)
        return fingerprint_bytes_batch(data, off, ln), valid
    if pa.types.is_decimal(typ):
        # pandas-fabric parity: decimal values reach the string fallback
        # as str(Decimal) ('1.50', scale digits preserved); Arrow's
        # decimal->string cast renders identically
        h, _ = fingerprint_arrow_array(arr.cast(pa.string()))
        return h, valid
    if pa.types.is_boolean(typ):
        # pandas-fabric parity: a bool Series reaches HllFamily.update's
        # string fallback as str(True)/str(False) — render identically so
        # the two fabrics build byte-equal states (was: TypeError)
        import pyarrow.compute as pc

        rendered = pc.if_else(arr, pa.scalar("True"), pa.scalar("False"))
        h, _ = fingerprint_arrow_array(rendered)
        return h, valid
    if pa.types.is_int64(typ) or pa.types.is_uint64(typ) or pa.types.is_timestamp(typ):
        ints = arr.cast(pa.int64()) if not pa.types.is_int64(typ) else arr
        if ints.null_count:
            ints = ints.fill_null(0)
        return fingerprint_long_array(ints.to_numpy(zero_copy_only=False)), valid
    if pa.types.is_int32(typ) or pa.types.is_uint32(typ) or pa.types.is_date32(typ):
        ints = arr.cast(pa.int32()) if not pa.types.is_int32(typ) else arr
        if ints.null_count:
            ints = ints.fill_null(0)
        return fingerprint_int_array(ints.to_numpy(zero_copy_only=False)), valid
    if pa.types.is_float64(typ) or pa.types.is_float32(typ):
        vals = (arr.fill_null(0.0) if arr.null_count else arr) \
            .to_numpy(zero_copy_only=False)
        nan = np.isnan(vals)
        if nan.any():
            # the pandas fabric drops NaN via Series.dropna(); mask it here
            # too so states stay equal across fabrics
            valid = ~nan if valid is None else (valid & ~nan)
        if pa.types.is_float64(typ):
            return fingerprint_double_array(vals), valid
        return fingerprint_float_array(vals), valid
    if pa.types.is_dictionary(typ):
        # dictionary-encoded columns (parquet's default for repetitive
        # strings): hash each dictionary VALUE once, then gather by index —
        # for low-cardinality columns this removes almost all hash work
        if len(arr.dictionary) == 0:  # all-null column: nothing to hash
            return np.zeros(n, dtype=np.uint64), valid
        dict_hashes, dict_valid = fingerprint_arrow_array(arr.dictionary)
        indices = arr.indices
        if indices.null_count:
            indices = indices.fill_null(0)
        idx = indices.to_numpy(zero_copy_only=False).astype(np.int64, copy=False)
        if dict_valid is not None:
            # a dictionary VALUE can itself be invalid (e.g. NaN in a
            # dict-encoded float column, masked by the float branch above):
            # propagate that mask through the gather or the NaN would be
            # counted as a distinct value on this fabric only
            gathered = dict_valid[idx]
            valid = gathered if valid is None else (valid & gathered)
        return dict_hashes[idx], valid
    raise TypeError(f"unsupported arrow type for fingerprinting: {typ}")


# ---------------------------------------------------------------------------
# Scalar conveniences (tests / golden vectors only — not the hot path).
# ---------------------------------------------------------------------------

def fingerprint_bytes(data: bytes) -> int:
    buf = np.frombuffer(data, dtype=np.uint8)
    return int(fingerprint_bytes_batch(buf, np.array([0]), np.array([len(data)]))[0])


def hash_long(value: int) -> int:
    return int(fingerprint_long_array(np.array([value], dtype=np.int64))[0])


def hash_int(value: int) -> int:
    return int(fingerprint_int_array(np.array([value], dtype=np.int32))[0])


def hash_str(value: str) -> int:
    return fingerprint_bytes(value.encode("utf-8"))
