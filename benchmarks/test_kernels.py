"""Kernel microbenchmarks (pytest-benchmark). Not part of the tier-1
suite; run from the repository root:

    python -m pytest benchmarks/ -p no:cacheprovider --benchmark-only

Sizes follow the workloads: 125k hashes is one ``daily_rollup`` split's
HLL update, ~100 buckets one ``table_maint`` DDSketch state, a sparse
p=15 HLL one per-key snapshot state, and 600-byte strings the transcript
``text`` column. Each benchmark also checks its output, so a faster
wrong kernel fails here."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pytest

from zetasketch_spark.hashing import fingerprint_arrow_array
from zetasketch_spark.hll import HllSketch, _bit_length_u64, rho_w
from zetasketch_spark.sketches.ddsketch import DDSketch

_N_HASHES = 125_000


@pytest.fixture(scope="module")
def hashes():
    return np.random.default_rng(1).integers(0, 2**64, size=_N_HASHES,
                                             dtype=np.uint64)


def test_bit_length_u64(benchmark, hashes):
    out = benchmark(_bit_length_u64, hashes)
    assert out[:1000].tolist() == [int(v).bit_length()
                                   for v in hashes[:1000].tolist()]


def test_rho_w(benchmark, hashes):
    out = benchmark(rho_w, hashes, 49)
    low = (hashes[:1000] & np.uint64((1 << 49) - 1)).tolist()
    assert out[:1000].tolist() == [49 - int(v).bit_length() + 1
                                   for v in low]


def test_ddsketch_quantiles(benchmark):
    sk = DDSketch(alpha=0.01)
    sk.add_array(np.random.default_rng(2).lognormal(6.0, 0.25, 20_000))
    assert 60 <= len(sk.pos) <= 160
    out = benchmark(sk.quantiles, (0.5, 0.9, 0.99))
    assert out == sorted(out) and sk._min <= out[0] <= out[-1] <= sk._max


def test_hll_sparse_deserialize(benchmark):
    sk = HllSketch(precision=15)
    sk.add_hashes(np.random.default_rng(3).integers(0, 2**64, size=3_000,
                                                    dtype=np.uint64))
    blob = sk.serialize()
    assert sk.mode == "sparse"
    back = benchmark(HllSketch.deserialize, blob)
    assert back.serialize() == blob


def test_fingerprint_arrow_strings(benchmark):
    rng = np.random.default_rng(4)
    alphabet = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz     ", np.uint8)
    raw = alphabet[rng.integers(0, len(alphabet), size=(10_000, 600))]
    arr = pa.array([row.tobytes().decode() for row in raw])
    hashes, valid = benchmark(fingerprint_arrow_array, arr)
    assert valid is None and len(np.unique(hashes)) == len(arr)
