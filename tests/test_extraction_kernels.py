"""Extraction kernels against plain references kept here:
``DDSketch.quantiles`` (midpoints of the selected buckets only) against
the all-bucket walk, and ``hll._bit_length_u64`` (``frexp`` of the two
32-bit halves) against ``int.bit_length``."""

from __future__ import annotations

import math
import struct

import numpy as np
from hypothesis import given, settings, strategies as st

from zetasketch_spark.hll import _bit_length_u64
from zetasketch_spark.sketches.ddsketch import DDSketch


def _all_bucket_quantiles(sk: DDSketch, qs) -> list[float]:
    """Every bucket's midpoint in global value order, then the bucket
    holding rank floor(q·(n-1)), clamped to the observed range."""
    if sk.n == 0:
        return [float("nan")] * len(qs)
    buckets = [(-sk._midpoint(i), sk.neg[i])
               for i in sorted(sk.neg, reverse=True)]
    if sk.zero_count:
        buckets.append((0.0, sk.zero_count))
    buckets += [(sk._midpoint(i), sk.pos[i]) for i in sorted(sk.pos)]
    counts = np.cumsum([c for _, c in buckets])
    out = []
    for q in qs:
        j = int(np.searchsorted(counts, q * (sk.n - 1), side="right"))
        mid = buckets[min(j, len(buckets) - 1)][0]
        out.append(float(min(max(mid, sk._min), sk._max)))
    return out


def _bits(xs):
    """Floats as their IEEE bit patterns: equality that tells -0.0 from
    0.0 and compares NaNs."""
    return [struct.pack("<d", x) for x in xs]


_EXTREME = [0.0, -0.0, 5e-324, -5e-324, 2.2e-308, 1e-300, 1.0, -1.0,
            1e300, 1.7e308, -1.7e308, 1.7976931348623157e308]
_values = st.lists(
    st.one_of(st.floats(allow_nan=False, allow_infinity=False),
              st.floats(-1e6, 1e6), st.sampled_from(_EXTREME)),
    min_size=1, max_size=300)


@settings(max_examples=300, deadline=None)
@given(batches=st.lists(_values, min_size=1, max_size=3),
       alpha=st.sampled_from([0.005, 0.01, 0.02, 0.1, 0.5]),
       max_buckets=st.sampled_from([1, 2, 5, 32, 2048]),
       qs=st.lists(st.floats(0.0, 1.0), min_size=1, max_size=6))
def test_ddsketch_quantiles_equal_all_bucket_walk(batches, alpha, max_buckets,
                                                  qs):
    """Negatives, zeros, stores collapsed by a small ``max_buckets`` and
    magnitudes near DBL_MAX and the denormals (midpoints overflow to inf
    or underflow to 0 and the clamp decides): the same floats, bit for
    bit, built in one pass or merged from batches."""
    merged = DDSketch(alpha=alpha, max_buckets=max_buckets)
    for b in batches:
        part = DDSketch(alpha=alpha, max_buckets=max_buckets)
        part.add_array(np.asarray(b, dtype=np.float64))
        merged.merge(part)
    for sk in (merged, DDSketch.deserialize(merged.serialize())):
        qs_all = [0.0, *qs, 1.0]
        assert _bits(sk.quantiles(qs_all)) == _bits(
            _all_bucket_quantiles(sk, qs_all))


def test_ddsketch_quantiles_empty_and_extremes():
    assert all(math.isnan(v) for v in DDSketch().quantiles([0.1, 0.9]))
    sk = DDSketch(alpha=0.01)
    sk.add_array(np.array(_EXTREME))
    qs = np.linspace(0.0, 1.0, 23)
    assert _bits(sk.quantiles(qs)) == _bits(_all_bucket_quantiles(sk, qs))
    assert sk.quantiles([0.0, 1.0]) == [-1.7e308, 1.7976931348623157e308]


_EDGES = sorted({0, 2**64 - 1, 2**53 - 1, 2**53, 2**53 + 1}
                | {2**k for k in range(64)}
                | {2**k - 1 for k in range(1, 65)}
                | {2**k + 1 for k in range(64)})


def test_bit_length_edges():
    """Every 2^k−1, 2^k, 2^k+1, both sides of 2^53 (where a float64 of
    the whole word would round) and 2^64−1."""
    got = _bit_length_u64(np.array(_EDGES, dtype=np.uint64))
    assert got.dtype == np.uint64
    assert got.tolist() == [v.bit_length() for v in _EDGES]


@settings(max_examples=200, deadline=None)
@given(st.lists(st.integers(0, 2**64 - 1), max_size=200))
def test_bit_length_equals_int_bit_length(values):
    got = _bit_length_u64(np.array(values, dtype=np.uint64))
    assert got.tolist() == [v.bit_length() for v in values]


def test_bit_length_random_words():
    words = np.random.default_rng(7).integers(0, 2**64, size=100_000,
                                              dtype=np.uint64)
    assert _bit_length_u64(words).tolist() == [
        int(v).bit_length() for v in words.tolist()]
