"""Published-bound oracles for Count-Min, KLL, t-digest, Bloom
(FIXTURES.md F6; SURVEY.md §2.1 'Not in the reference but required')."""

from __future__ import annotations

import ast
import functools
import importlib
import pathlib
import pkgutil
import struct

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings, strategies as hst

import zetasketch_spark.sketches as sketches_pkg
from zetasketch_spark.sketches.base import _REGISTRY, get_family
from zetasketch_spark.sketches.bloom import BloomFilter, optimal_params
from zetasketch_spark.sketches.countmin import CountMinSketch
from zetasketch_spark.sketches.kll import KllSketch
from zetasketch_spark.sketches.tdigest import TDigest

for _mod in pkgutil.iter_modules(sketches_pkg.__path__):
    importlib.import_module(f"{sketches_pkg.__name__}.{_mod.name}")
#: every registered family, HLL included: the wire fuzz tests cover each
_FAMILIES = sorted(_REGISTRY)


# --- Count-Min ----------------------------------------------------------------

def _zipf_strings(n, n_keys, s, seed):
    rng = np.random.default_rng(seed)
    w = 1.0 / np.arange(1, n_keys + 1) ** s
    cdf = np.cumsum(w) / w.sum()
    ranks = np.searchsorted(cdf, rng.random(n))
    return pd.Series([f"tool-{r:03d}" for r in ranks])


def test_countmin_point_query_bound():
    """Overcount <= eps*N with eps = e/width (w.p. 1-e^-depth); never under."""
    data = _zipf_strings(50_000, 200, 1.3, seed=1)
    cm = CountMinSketch(width=2048, depth=5)
    for i in range(0, len(data), 8192):
        cm.add_series(data.iloc[i:i + 8192])
    true = data.value_counts()
    keys = pd.Series(true.index)
    est = cm.point_query_series(keys)
    eps = np.e / 2048
    over = est - true.to_numpy()
    assert (over >= 0).all(), "CM must never undercount"
    assert (over <= eps * cm.total).mean() > 0.99


def test_countmin_merge_equals_direct():
    data = _zipf_strings(20_000, 100, 1.2, seed=2)
    # split via iloc windows: np.array_split on a Series goes through the
    # deprecated Series.swapaxes (pandas FutureWarning, removal planned)
    bounds = np.linspace(0, len(data), 8, dtype=int)
    parts = [data.iloc[a:b] for a, b in zip(bounds[:-1], bounds[1:])]
    sks = []
    for p in parts:
        sk = CountMinSketch(width=1024, depth=4)
        sk.add_series(p.reset_index(drop=True))
        sks.append(sk)
    merged = sks[0]
    for sk in sks[1:]:
        merged.merge(sk)
    direct = CountMinSketch(width=1024, depth=4)
    direct.add_series(data)
    assert np.array_equal(merged.counters, direct.counters)
    assert merged.total == direct.total


def test_countmin_heavy_hitters():
    data = _zipf_strings(30_000, 300, 1.5, seed=3)
    cm = CountMinSketch(width=4096, depth=5)
    cm.add_series(data)
    top = cm.heavy_hitters(10)
    true_top = set(data.value_counts().head(10).index)
    got = {k for k, _ in top}
    assert len(got & true_top) >= 8  # top-10 nearly exact under this skew


def test_countmin_serde_roundtrip():
    cm = CountMinSketch(width=512, depth=3, max_candidates=64)
    # keys with NUL bytes, unicode, and empties must round-trip
    cm.add_series(pd.Series(["a", "b", "a", "c", "x\x00y", "", "Zürich"]))
    rt = CountMinSketch.deserialize(cm.serialize())
    assert np.array_equal(rt.counters, cm.counters)
    assert rt.candidates == cm.candidates and rt.total == 7


# --- KLL -----------------------------------------------------------------------

@pytest.mark.parametrize("dist", ["uniform", "lognormal"])
def test_kll_rank_error(dist):
    rng = np.random.default_rng(17)
    data = rng.random(200_000) if dist == "uniform" else rng.lognormal(0, 2, 200_000)
    sk = KllSketch(k=200)
    for i in range(0, len(data), 65536):
        sk.add_series(data[i:i + 65536])
    for q in (0.01, 0.1, 0.5, 0.9, 0.99):
        est = sk.quantile(q)
        true_rank = (data <= est).mean()
        assert abs(true_rank - q) <= 0.015, (q, est, true_rank)


def test_kll_merge_rank_error():
    rng = np.random.default_rng(23)
    data = rng.normal(size=120_000)
    parts = np.array_split(data, 16)
    sks = []
    for p in parts:
        sk = KllSketch(k=200)
        sk.add_series(p)
        sks.append(sk)
    acc = sks[0]
    for sk in sks[1:]:
        acc.merge(sk)
    assert acc.n == len(data)
    for q in (0.1, 0.5, 0.9):
        est = acc.quantile(q)
        assert abs((data <= est).mean() - q) <= 0.02


def test_kll_serde_roundtrip():
    sk = KllSketch(k=128)
    sk.add_series(np.arange(10_000, dtype=np.float64))
    rt = KllSketch.deserialize(sk.serialize())
    assert rt.n == sk.n
    assert rt.quantiles([0.25, 0.75]) == sk.quantiles([0.25, 0.75])


# --- t-digest --------------------------------------------------------------------

def test_tdigest_quantile_accuracy():
    rng = np.random.default_rng(31)
    data = rng.lognormal(1.0, 1.5, 300_000)
    td = TDigest(delta=200)
    for i in range(0, len(data), 65536):
        td.add_series(data[i:i + 65536])
    for q in (0.001, 0.01, 0.5, 0.99, 0.999):
        est = td.quantile(q)
        true_rank = (data <= est).mean()
        # t-digest rank error scales with q(1-q)
        tol = max(0.005, 4 * q * (1 - q) / 200 * 10)
        assert abs(true_rank - q) <= tol, (q, est, true_rank)
    # extremes are exact
    assert td.quantile(0.0) == data.min()
    assert td.quantile(1.0) == data.max()


def test_tdigest_merge_and_size():
    rng = np.random.default_rng(37)
    data = rng.normal(size=100_000)
    parts = np.array_split(data, 10)
    digs = []
    for p in parts:
        td = TDigest(delta=100)
        td.add_series(p)
        digs.append(td)
    acc = digs[0]
    for td in digs[1:]:
        acc.merge(td)
    acc._compress()
    assert acc.n == len(data)
    assert len(acc.means) <= 2 * 100  # centroid bound ~delta
    for q in (0.1, 0.5, 0.9):
        assert abs((data <= acc.quantile(q)).mean() - q) <= 0.02


def test_tdigest_serde_roundtrip():
    td = TDigest(delta=100)
    td.add_series(np.linspace(0, 1, 5000))
    rt = TDigest.deserialize(td.serialize())
    assert rt.n == td.n
    assert rt.quantile(0.5) == td.quantile(0.5)


# --- Bloom ------------------------------------------------------------------------

def test_bloom_no_false_negatives_and_fpr():
    n = 50_000
    m, k = optimal_params(n, 0.01)
    bf = BloomFilter(m=m, k=k)
    inserted = pd.Series([f"conv-{i:010d}" for i in range(n)])
    for i in range(0, n, 8192):
        bf.add_series(inserted.iloc[i:i + 8192])
    assert bf.contains_series(inserted).all(), "false negatives are forbidden"
    absent = pd.Series([f"ghost-{i:010d}" for i in range(n)])
    fpr = bf.contains_series(absent).mean()
    assert fpr <= 1.5 * max(bf.expected_fpr(), 0.01), fpr


def test_bloom_merge_equals_direct():
    a = BloomFilter(m=1 << 14, k=5)
    b = BloomFilter(m=1 << 14, k=5)
    a.add_series(pd.Series(["x", "y"]))
    b.add_series(pd.Series(["z"]))
    a.merge(b)
    direct = BloomFilter(m=1 << 14, k=5)
    direct.add_series(pd.Series(["x", "y", "z"]))
    assert np.array_equal(a.words, direct.words)
    assert a.contains_series(pd.Series(["x", "y", "z"])).all()


def test_bloom_int_columns():
    bf = BloomFilter(m=1 << 13, k=4)
    bf.add_series(pd.Series(np.arange(100, dtype=np.int64)))
    assert bf.contains_series(pd.Series(np.arange(100, dtype=np.int64))).all()
    assert not bf.contains_series(pd.Series([10**12], dtype=np.int64)).any()


def test_bloom_serde_roundtrip():
    bf = BloomFilter(m=1 << 10, k=3)
    bf.add_series(pd.Series(["a", "b"]))
    rt = BloomFilter.deserialize(bf.serialize())
    assert np.array_equal(rt.words, bf.words) and rt.n_added == 2


def test_topk_exact_rerank_matches_groupby(spark, transcripts_path):
    """Sketch-guided exact top-k == plain exact top-k, under real skew."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from zetasketch_spark.operators.topk import topk_exact_rerank
    from zetasketch_spark.sources.transcripts import load_transcripts

    df = load_transcripts(spark, transcripts_path).filter(
        F.col("tool").isNotNull())
    got = [(r["key"], r["exact_count"], r["rank"])
           for r in topk_exact_rerank(df, "tool", k=8).collect()]
    w = Window.orderBy(F.col("exact_count").desc(), F.col("key"))
    want = [(r["key"], r["exact_count"], r["rank"]) for r in (
        df.select(F.col("tool").cast("string").alias("key"))
        .groupBy("key").agg(F.count("*").alias("exact_count"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 8)).collect()]
    assert got == want


def test_countmin_int_column_heavy_hitters_consistent():
    """Regression: CM canonicalizes every key through its string form, so
    heavy_hitters on an int column returns real counts (previously the
    counters were updated with native-int hashes but queried with
    string hashes — unrelated cells)."""
    rng = np.random.default_rng(5)
    vals = pd.Series(np.concatenate([
        np.full(5000, 7, dtype=np.int64),
        np.full(3000, 42, dtype=np.int64),
        rng.integers(1000, 9999, size=2000),
    ]))
    cm = CountMinSketch(width=4096, depth=5, max_candidates=64)
    cm.add_series(vals)
    top = dict(cm.heavy_hitters(2))
    assert abs(top["7"] - 5000) <= np.e / 4096 * 10000 + 1
    assert abs(top["42"] - 3000) <= np.e / 4096 * 10000 + 1


def test_countmin_mg_prune_survival():
    """Misra-Gries prune (mergeable-summaries theorem): any key with
    global share > 1/(max_candidates+1) survives an arbitrary merge tree,
    and its tracked count is a lower bound within the decremented mass
    (total decrements ≤ N/(cap+1))."""
    cap = 8
    fams = []
    # 10 partials, each: X appears 60x + 8 rotating local keys at 40x.
    # X's global share = 600/3800 = 15.8% > 1/(cap+1) = 11.1%.
    for i in range(10):
        cm = CountMinSketch(width=1024, depth=4, max_candidates=cap)
        vals = ["X"] * 60
        for j in range(cap):
            vals += [f"p{i}k{j}"] * 40
        cm.add_series(pd.Series(vals))
        fams.append(cm)
    acc = fams[0]
    for o in fams[1:]:
        acc.merge(o)
    assert "X" in acc.candidates
    n = acc.total
    assert n == 3800
    # lower-bound property: tracked count ≥ true − N/(cap+1)
    assert acc.candidates["X"] >= 600 - n / (cap + 1)
    assert acc.candidates["X"] <= 600


def test_bloom_float_columns():
    """Floats hash via the IEEE754 recipes on the pandas fabric (was a
    TypeError) and match the arrow fabric."""
    import pyarrow as pa

    from zetasketch_spark.sketches.bloom import BloomFamily, BloomFilter

    vals = np.array([1.5, -2.25, 3.125, 1.5], dtype=np.float64)
    bf = BloomFilter(m=1 << 12, k=5)
    bf.add_series(pd.Series(vals))
    assert bf.contains_series(pd.Series(vals)).all()
    fam = BloomFamily(m=1 << 12, k=5)
    via_arrow = fam.make()
    prepared = fam.prepare_arrow(pa.array(vals, type=pa.float64()))
    fam.update_prepared(via_arrow, prepared[np.arange(len(vals))])
    assert fam.serialize(via_arrow) == bf.serialize()


def test_kll_arrow_nan_matches_pandas():
    """Regression: NaN values must be dropped identically on both fabrics
    (arrow previously kept them, poisoning min/max/quantiles)."""
    import pyarrow as pa

    from zetasketch_spark.sketches.kll import KllFamily

    vals = np.array([1.0, np.nan, 2.0, 3.0, np.nan, 4.0])
    fam = KllFamily(k=50, quantiles=(0.5,))
    via_pandas = fam.make()
    fam.update(via_pandas, pd.Series(vals))
    via_arrow = fam.make()
    prepared = fam.prepare_arrow(pa.array(vals, type=pa.float64()))
    fam.update_prepared(via_arrow, prepared[np.arange(len(vals))])
    assert via_pandas.n == via_arrow.n == 4
    assert fam.serialize(via_pandas) == fam.serialize(via_arrow)
    assert not np.isnan(via_arrow.quantile(0.99))


def test_topk_provably_complete_flag(spark):
    """The Misra-Gries completeness certificate: true when the k-th count
    clears N/(max_candidates+1), false on flat distributions where a pruned
    key could tie in."""
    import pandas as pd
    import pyspark.sql.functions as F

    from zetasketch_spark.operators.topk import topk_exact_rerank

    # skewed: 'hot' holds >90% of mass -> certificate must hold
    skew = spark.createDataFrame(pd.DataFrame(
        {"k": ["hot"] * 900 + [f"c{i}" for i in range(17)]}))
    rows = topk_exact_rerank(skew, "k", k=1, max_candidates=16).collect()
    assert rows[0]["key"] == "hot" and rows[0]["provably_complete"]

    # flat: 200 keys x 5 rows with 16 candidate slots -> nothing clears
    # N/(m+1) = 1000/17 = 58 > 5, so the flag must be false
    flat = spark.createDataFrame(pd.DataFrame(
        {"k": [f"u{i}" for i in range(200)] * 5}))
    rows = topk_exact_rerank(flat, "k", k=3, max_candidates=16).collect()
    assert all(not r["provably_complete"] for r in rows)



def _fuzz_feed(fam, family, st, vals):
    """Families whose update needs (key, time) pairs get synthetic times;
    everything else takes the plain Series."""
    if family == "timetheta":
        fam.update_pair(st, vals,
                        pd.Series(np.arange(len(vals), dtype=np.int64)))
    else:
        fam.update(st, vals)


def _fuzz_values(family, n, mod):
    """n values with mod distinct ones, in the family's input type."""
    if family == "freqdirs":
        return pd.Series([np.arange(8, dtype=float) * (i % mod)
                          for i in range(n)])
    if family in ("kll", "tdigest", "ddsketch"):
        return pd.Series([float(i % mod) for i in range(n)])
    return pd.Series([f"k{i % mod}" for i in range(n)])


@pytest.mark.parametrize("family", ["countmin", "kll", "tdigest", "bloom", "theta", "ddsketch", "freqdirs", "countsketch", "timetheta"])
def test_wire_format_versioned_forward_compat(family):
    """Every non-HLL family carries an explicit encoding_version and, like
    the proto surface (reference StateTest unknown-field case), tolerates a
    NEWER writer's appended trailing fields: parse what is known, ignore
    the rest, keep merging."""
    import pandas as pd

    from zetasketch_spark.sketches.base import get_family

    fam = get_family(family)
    a = fam.make()
    if family == "freqdirs":
        vals = pd.Series([np.arange(6, dtype=float) + i for i in range(40)])
    elif family in ("kll", "tdigest", "ddsketch"):
        vals = pd.Series([1.0, 2.0, 3.0, 4.0, 5.0] * 10)
    else:
        vals = pd.Series(["a", "b", "c", "a"] * 10)
    _fuzz_feed(fam, family, a, vals)
    blob = fam.serialize(a)

    # v1 roundtrip exposes the version
    rt = fam.deserialize(blob)
    assert rt.encoding_version == 1

    # simulate a v2 writer: bump the version byte, append trailing fields
    future = bytes(blob[:4]) + bytes([2]) + bytes(blob[5:]) + b"\x07future-field"
    ft = fam.deserialize(future)
    assert ft.encoding_version == 2
    # the known payload parsed identically: re-serializing (as v1, without
    # the unknown tail) matches the original v1 bytes
    assert fam.serialize(ft) == blob
    # and the forward-compat state still merges
    merged = fam.merge(fam.deserialize(blob), ft)
    assert fam.serialize(merged) is not None

    # corrupted envelopes fail loudly
    with pytest.raises(ValueError):
        fam.deserialize(b"XXXX" + bytes(blob[4:]))
    with pytest.raises(ValueError):
        fam.deserialize(bytes(blob[:4]) + bytes([0]) + bytes(blob[5:]))


@pytest.mark.parametrize("family", _FAMILIES)
def test_truncated_blob_fails_loudly(family):
    """Every truncation of a serialized state must raise ValueError —
    never return a silently-corrupt sketch. At 100 TB a torn write or
    short read WILL happen; quiet partial parses poison merges
    downstream."""
    fam = get_family(family)
    st = fam.make()
    _fuzz_feed(fam, family, st, _fuzz_values(family, 500, 97))
    blob = fam.serialize(st)
    full = fam.serialize(fam.deserialize(blob))
    step = max(1, len(blob) // 53)
    for cut in range(0, len(blob), step):
        try:
            got = fam.deserialize(blob[:cut])
        except ValueError:
            continue
        # a parse that 'succeeds' on a truncation must have recovered the
        # complete state (i.e. only trailing no-op bytes were cut)
        assert fam.serialize(got) == full, (
            f"{family}: silent partial parse at cut={cut}/{len(blob)}")


def test_truncated_hll_blob_fails_loudly():
    """Same torn-write contract for the HLL++ proto parser: every
    truncation raises (ValueError / IndexError from the bounded parse),
    never a silently partial state."""
    import numpy as np

    from zetasketch_spark.hll import HllSketch

    sk = HllSketch(precision=12, sparse_precision=16)
    sk.add_longs(np.arange(3000, dtype=np.int64))
    blob = sk.serialize()
    full = HllSketch.deserialize(blob).serialize()
    for cut in range(0, len(blob), max(1, len(blob) // 71)):
        try:
            got = HllSketch.deserialize(blob[:cut])
        except (ValueError, IndexError):
            continue
        assert got.serialize() == full, f"silent partial parse at {cut}"


# --- Theta (KMV / QuickSelect) ------------------------------------------------

def _theta_of(values, k=4096):
    from zetasketch_spark.sketches.theta import ThetaSketch

    sk = ThetaSketch(k=k)
    sk.add_series(pd.Series(values))
    return sk


def test_theta_exact_mode_and_estimator_bound():
    """Below k the sketch is exact; above, |est/true - 1| <= 4/sqrt(k-1)
    (4x the published KMV RSE) on seeded streams."""
    small = _theta_of([f"u{i}" for i in range(1000)], k=4096)
    assert small.theta_frac == 1.0 and small.estimate() == 1000
    assert small.num_values == 1000

    for seed in (1, 2, 3):
        n = 200_000
        rng = np.random.default_rng(seed)
        keys = pd.Series(rng.integers(0, 2**62, size=n)).astype(str)
        true = keys.nunique()
        sk = _theta_of(keys, k=4096)
        assert sk.theta_frac < 1.0
        rel = abs(sk.estimate() / true - 1.0)
        assert rel <= 4 * sk.rse(), (seed, rel, 4 * sk.rse())


def test_theta_merge_equals_direct_and_laws():
    """Union == direct build at the STATE level (same retained set and
    theta), and merge is commutative + associative on serialized states."""
    from zetasketch_spark.sketches.theta import ThetaSketch

    a_keys = [f"a{i}" for i in range(30_000)]
    b_keys = [f"b{i}" for i in range(30_000)]
    c_keys = [f"a{i}" for i in range(15_000, 45_000)]
    k = 1024
    direct = _theta_of(a_keys + b_keys + c_keys, k=k)

    def build(keys):
        return _theta_of(keys, k=k)

    ab = build(a_keys); ab.merge(build(b_keys)); ab.merge(build(c_keys))
    ba = build(c_keys); ba.merge(build(a_keys)); ba.merge(build(b_keys))
    # same theta and retained set regardless of order; theta may differ
    # from the direct build's (QuickSelect history differs) but estimates
    # must agree within the envelope of the smaller theta
    assert ab.theta == ba.theta
    assert np.array_equal(ab.retained, ba.retained)
    true = len(set(a_keys + b_keys + c_keys))
    for sk in (ab, direct):
        assert abs(sk.estimate() / true - 1.0) <= 4 * sk.rse()

    # round-tripping through bytes preserves the state exactly
    rt = ThetaSketch.deserialize(ab.serialize())
    assert rt.theta == ab.theta and np.array_equal(rt.retained, ab.retained)
    assert rt.num_values == ab.num_values


def test_theta_set_operations_direct_estimates():
    """Intersection / a-not-b estimates land within 4x the binomial-
    thinning sd (sketches/theta.py::estimate_sd) of the exact sizes —
    the capability HLL inclusion-exclusion cannot provide directly."""
    n = 120_000
    overlap_lo, overlap_hi = 60_000, 120_000
    a = _theta_of([f"k{i}" for i in range(n)], k=4096)
    b = _theta_of([f"k{i}" for i in range(overlap_lo, overlap_lo + n)], k=4096)

    inter = a.intersect(b)
    exact_inter = overlap_hi - overlap_lo
    assert abs(inter.estimate() - exact_inter) <= 4 * inter.estimate_sd() + 1

    anb = a.a_not_b(b)
    exact_anb = overlap_lo
    assert abs(anb.estimate() - exact_anb) <= 4 * anb.estimate_sd() + 1

    # disjoint sets: empty intersection estimates 0
    c = _theta_of([f"z{i}" for i in range(50_000)], k=1024)
    assert a.intersect(c).estimate() <= 3 * a.intersect(c).estimate_sd()


def test_theta_null_and_empty_merge_noops_and_min_k():
    from zetasketch_spark.sketches.theta import ThetaSketch

    sk = _theta_of([f"u{i}" for i in range(100)], k=256)
    before = sk.serialize()
    sk.merge(None)
    sk.merge(ThetaSketch(k=256))
    assert sk.serialize() == before

    # merging across nominal sizes degrades to the smaller k
    big = _theta_of([f"x{i}" for i in range(100_000)], k=4096)
    sm = _theta_of([f"y{i}" for i in range(100_000)], k=512)
    big.merge(sm)
    assert big.k == 512 and len(big.retained) <= 512
    assert abs(big.estimate() / 200_000 - 1.0) <= 4 / np.sqrt(512 - 1)


def test_theta_jaccard_estimate():
    """J(A,B) on the common sample: planted overlap of 50% union ->
    J = 1/3; estimate within 4*sqrt(J(1-J)/k)."""
    n = 90_000
    a = _theta_of([f"k{i}" for i in range(n)], k=4096)          # [0, n)
    b = _theta_of([f"k{i}" for i in range(n // 2, n + n // 2)], k=4096)
    true_j = (n // 2) / (n + n // 2)
    est = a.jaccard(b)
    sd = (true_j * (1 - true_j) / 4096) ** 0.5
    assert abs(est - true_j) <= 4 * sd + 0.01
    # identical sketches -> exactly 1; disjoint -> ~0
    assert a.jaccard(a) == 1.0
    c = _theta_of([f"z{i}" for i in range(50_000)], k=4096)
    assert a.jaccard(c) <= 0.02


def test_theta_nullable_int_batches_one_domain():
    """Arrow delivers a nullable int column as int64 in null-free batches
    and float64 in null-containing ones; the per-value canonical domain
    must hash the SAME key identically in both (was: estimate doubled and
    cross-surface intersections returned 0)."""
    from zetasketch_spark.sketches.theta import ThetaSketch

    a = ThetaSketch(k=256)
    a.add_series(pd.Series([1, 2, 3], dtype="int64"))
    a.add_series(pd.Series([1.0, 2.0, 3.0, None], dtype="float64"))
    assert a.estimate() == 3

    b = ThetaSketch(k=256)
    b.add_series(pd.Series(["1", "2", "3"]))  # the SQL surface's rendering
    assert a.intersect(b).estimate() == 3
    assert a.jaccard(b) == 1.0


def test_countmin_nullable_int_batches_one_domain():
    """Same per-value canonical domain for Count-Min: counters AND the
    Misra-Gries candidates must agree across promoted batches."""
    cm = CountMinSketch(width=512, depth=5)
    cm.add_series(pd.Series([7, 7, 8], dtype="int64"))
    cm.add_series(pd.Series([7.0, None, 8.0], dtype="float64"))
    est = cm.point_query_series(pd.Series(["7", "8"]))
    assert est[0] == 3 and est[1] == 2
    assert cm.candidates.get("7") == 3 and cm.candidates.get("8") == 2
    # and no mass leaked into a '7.0' rendering
    assert "7.0" not in cm.candidates


def test_theta_arrow_fabric_matches_pandas():
    """String (and dictionary-encoded string) Arrow columns hash
    zero-copy; states are byte-equal to the pandas fabric. Non-string
    columns route through the generic fallback and stay equal too."""
    import pyarrow as pa

    from zetasketch_spark.sketches.theta import ThetaFamily

    fam = ThetaFamily(k=256)
    vals = [f"conv-{i % 400}" for i in range(2000)] + [None] * 7

    def build_arrow(arr):
        st = fam.make()
        prepared = fam.prepare_arrow(arr)
        fam.update_prepared(st, prepared[np.arange(len(arr))])
        return fam.serialize(st)

    via_pandas = fam.make()
    fam.update(via_pandas, pd.Series(vals))
    want = fam.serialize(via_pandas)

    assert build_arrow(pa.array(vals, type=pa.string())) == want
    assert build_arrow(pa.array(vals).dictionary_encode()) == want

    # int column: generic pandas fallback, same canonical domain
    ints = pa.array([1, 2, 3, None, 2])
    got = fam.make()
    fam.update_prepared(got, fam.prepare_arrow(ints)[np.arange(5)])
    ref = fam.make()
    fam.update(ref, pd.Series([1, 2, 3, None, 2], dtype="Int64"))
    assert fam.serialize(got) == fam.serialize(ref)


def test_theta_dict_encoded_float_one_domain():
    """Dictionary-encoded (Categorical) float columns must render through
    the float canon branch ('1', not '1.0') so the Arrow fallback, the
    pandas fabric, and int-typed batches of the same logical keys all
    build intersecting states."""
    import pyarrow as pa

    from zetasketch_spark.sketches.theta import ThetaFamily

    fam = ThetaFamily(k=64)
    dictarr = pa.array([1.0, 2.0, 1.0, None]).dictionary_encode()
    via_arrow = fam.make()
    fam.update_prepared(via_arrow, fam.prepare_arrow(dictarr)[np.arange(4)])
    via_pandas = fam.make()
    fam.update(via_pandas, pd.Series([1.0, 2.0, 1.0, None]))
    assert fam.serialize(via_arrow) == fam.serialize(via_pandas)
    via_int = fam.make()
    fam.update(via_int, pd.Series([1, 2, 1], dtype="int64"))
    assert np.array_equal(via_arrow.retained, via_int.retained)


def test_bloom_nullable_int_batches_one_domain():
    """BloomFamily pins the float64-promoted nullable-int domain like
    HllFamily: pinned or heuristic, promoted batches hash via the int64
    recipe so probes in the natural int dtype never false-negative."""
    from zetasketch_spark.sketches.bloom import BloomFamily

    fam = BloomFamily(m=1 << 12, k=5, value_type="long")
    st = fam.make()
    fam.update(st, pd.Series([1, 2, 3], dtype="int64"))
    fam.update(st, pd.Series([4.0, None, 5.0], dtype="float64"))
    assert st.contains_series(pd.Series([1, 2, 3, 4, 5], dtype="int64")).all()

    # unpinned: the promotion signature (nulls + all-integral) routes to
    # the int64 domain as well
    fam2 = BloomFamily(m=1 << 12, k=5)
    st2 = fam2.make()
    fam2.update(st2, pd.Series([7.0, None, 8.0], dtype="float64"))
    assert st2.contains_series(pd.Series([7, 8], dtype="int64")).all()

    # genuinely-double batches (no nulls) keep the DOUBLE recipe
    fam3 = BloomFamily(m=1 << 12, k=5)
    st3 = fam3.make()
    fam3.update(st3, pd.Series([1.5, 2.5]))
    assert st3.contains_series(pd.Series([1.5, 2.5])).all()


def test_key_skew_report_flags_planted_hot_key(spark):
    """A planted 30%-share key is flagged skewed with its exact share;
    uniform keys are not; the report is provably complete."""
    import pandas as pd

    from zetasketch_spark.operators.skew import key_skew_report

    keys = ["hot"] * 3000 + [f"u{i % 100}" for i in range(7000)]
    df = spark.createDataFrame(pd.DataFrame({"k": keys}))
    rows = {r["key"]: r for r in key_skew_report(df, "k", top=5,
                                                 threshold=0.05).collect()}
    assert rows["hot"]["exact_count"] == 3000
    assert abs(rows["hot"]["share"] - 0.3) < 1e-9
    assert rows["hot"]["skewed"] and rows["hot"]["provably_complete"]
    others = [r for k, r in rows.items() if k != "hot"]
    assert others and all(not r["skewed"] for r in others)


def test_key_skew_report_null_keys_and_empty_input(spark):
    """NULL is reported as the '(null)' key with its true share, and an
    empty input yields an empty (not crashing) report."""
    import pandas as pd

    from zetasketch_spark.operators.skew import key_skew_report

    keys = [None] * 6000 + [f"u{i % 50}" for i in range(4000)]
    df = spark.createDataFrame(pd.DataFrame({"k": pd.Series(keys, dtype="object")}))
    rows = {r["key"]: r for r in key_skew_report(df, "k", top=3,
                                                 threshold=0.1).collect()}
    assert rows["(null)"]["exact_count"] == 6000
    assert abs(rows["(null)"]["share"] - 0.6) < 1e-9 and rows["(null)"]["skewed"]

    empty = key_skew_report(df.filter("k = 'nope'"), "k")
    assert empty.collect() == []


def test_bloom_promoted_probe_batch_no_false_negatives():
    """A PROBE batch whose null promoted it to float64 must hash the
    build's int64 domain (shared resolve_float64_hash_domain on both
    paths) — zero false negatives; nullable Int64 dtype routes to the
    long recipe on build too."""
    from zetasketch_spark.sketches.bloom import BloomFilter

    bf = BloomFilter(m=1 << 12, k=5)
    bf.add_series(pd.Series([10, 20, 30], dtype="int64"))
    # promoted probe: one null drags the batch to float64
    got = bf.contains_series(pd.Series([10.0, None, 20.0], dtype="float64"))
    assert list(got) == [True, False, True]

    # nullable Int64 build batch hashes the long recipe
    bf2 = BloomFilter(m=1 << 12, k=5)
    bf2.add_series(pd.Series([1, 2, None], dtype="Int64"))
    assert bf2.contains_series(pd.Series([1, 2], dtype="int64")).all()


@pytest.mark.parametrize("family", _FAMILIES)
def test_mutation_fuzz_never_hangs_or_crashes(family):
    """Beyond truncation: random single-byte mutations of a serialized
    state must either parse (possibly to a different valid state) or
    raise a clean ValueError — never segfault, hang, or allocate
    unboundedly from a lying length field."""
    fam = get_family(family)
    st = fam.make()
    _fuzz_feed(fam, family, st, _fuzz_values(family, 400, 53))
    blob = bytearray(fam.serialize(st))
    rng = np.random.default_rng(1234)
    for _ in range(300):
        mutant = bytearray(blob)
        op = int(rng.integers(0, 3))
        pos = int(rng.integers(0, len(mutant)))
        if op == 0:
            mutant[pos] = int(rng.integers(0, 256))
        elif op == 1:
            mutant.insert(pos, int(rng.integers(0, 256)))
        else:
            del mutant[pos]
        try:
            got = fam.deserialize(bytes(mutant))
            fam.serialize(got)  # parsed states must re-serialize
        except ValueError:
            continue


#: each struct family's payload header after the 5-byte envelope; its
#: integer fields are the ones the fuzz sets to their maximum ('d' fields
#: are doubles). HLL's header fields are proto varints (_header_variants).
_HEADERS = {"bloom": "<qiq", "countmin": "<iiqii", "countsketch": "<iiQq",
            "ddsketch": "<diqqdd", "freqdirs": "<iiqiqdd", "kll": "<iqiqdd",
            "tdigest": "<dqidd", "theta": "<iqQi", "timetheta": "<iqQi"}
#: small configurations keep the every-truncation loop cheap
_SMALL = {"bloom": {"m": 1024, "k": 3}, "countsketch": {"width": 64, "depth": 3},
          "countmin": {"width": 64, "depth": 3, "max_candidates": 8},
          "ddsketch": {}, "freqdirs": {"ell": 4}, "hll": {"precision": 10},
          "kll": {"k": 8}, "tdigest": {"delta": 20.0}, "theta": {"k": 16},
          "timetheta": {"k": 16}}


@functools.cache
def _small_blob(family):
    fam = get_family(family, **_SMALL[family])
    state = fam.make()
    _fuzz_feed(fam, family, state, _fuzz_values(family, 300, 41))
    return fam.serialize(state)


def _header_variants(family, blob):
    """The blob with each integer header field set to 2^31-1 (32-bit) or
    2^63-1 (64-bit), one field at a time."""
    if family == "hll":
        return _hll_header_variants(blob)
    out, off = [], 5
    for code in _HEADERS[family][1:]:
        if code in "iqQ":
            out.append(_flipped(blob, "<" + code, off,
                                2**31 - 1 if code == "i" else 2**63 - 1))
        off += struct.calcsize("<" + code)
    return out


def _hll_header_variants(blob):
    """HLL's header fields are varints: type, num_values,
    encoding_version and value_type in the AggregatorStateProto; sparse
    size, precision and sparse precision in its HLL submessage. The last
    occurrence of a field wins, so appending one sets it."""
    from zetasketch_spark.hll import _parse_proto, _put_varint

    def with_field(msg, field, value):
        out = bytearray(msg)
        _put_varint(out, field << 3)
        _put_varint(out, value)
        return bytes(out)

    inner = _parse_proto(blob)[112]
    out = []
    for value in (2**31 - 1, 2**63 - 1):
        out += [with_field(blob, f, value) for f in (1, 2, 3, 4)]
        for f in (2, 3, 4):
            sub = with_field(inner, f, value)
            msg = bytearray(blob)
            _put_varint(msg, (112 << 3) | 2)
            _put_varint(msg, len(sub))
            out.append(bytes(msg) + sub)
    return out


def _parses_cleanly(fam, blob):
    """A blob raises ValueError or parses to a state that re-serializes."""
    try:
        state = fam.deserialize(blob)
    except ValueError:
        return
    fam.serialize(state)


def test_fuzz_covers_every_registered_family():
    assert set(_FAMILIES) == set(_SMALL) == set(_HEADERS) | {"hll"}


@pytest.mark.parametrize("family", _FAMILIES)
def test_registry_wire_fuzz_fixed_cases(family):
    """Every truncation, every other family's blob and each integer
    header field at its maximum raise ValueError or parse to a state
    that re-serializes — never struct.error, OverflowError or a huge
    allocation."""
    fam = get_family(family, **_SMALL[family])
    blob = _small_blob(family)
    for cut in range(len(blob)):
        _parses_cleanly(fam, blob[:cut])
    for other in _FAMILIES:
        if other != family:
            _parses_cleanly(fam, _small_blob(other))
    for variant in _header_variants(family, blob):
        _parses_cleanly(fam, variant)


@pytest.mark.parametrize("family", _FAMILIES)
@settings(max_examples=150, deadline=None)
@given(edits=hst.lists(hst.tuples(hst.sampled_from(["flip", "insert", "delete"]),
                                  hst.integers(0, 1 << 20),
                                  hst.integers(0, 255)),
                       min_size=1, max_size=4))
def test_registry_wire_fuzz_mutations(family, edits):
    """Bit flips and byte inserts / deletes anywhere in a state's blob
    raise ValueError or parse to a state that re-serializes."""
    fam = get_family(family, **_SMALL[family])
    blob = bytearray(_small_blob(family))
    for op, pos, byte in edits:
        pos %= len(blob)
        if op == "flip":
            blob[pos] ^= 1 << (byte % 8)
        elif op == "insert":
            blob.insert(pos, byte)
        else:
            del blob[pos]
    _parses_cleanly(fam, bytes(blob))


def test_only_wire_unpacks_sketch_bytes():
    """Blob parsing stays in one module: no sketch module other than
    wire.py calls struct.unpack* or np.frombuffer with an offset — each
    reads its payload through wire.Reader."""
    offenders = []
    for path in sorted(pathlib.Path(sketches_pkg.__path__[0]).glob("*.py")):
        if path.name == "wire.py":
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            if not (isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)):
                continue
            f = node.func
            if (isinstance(f.value, ast.Name) and f.value.id == "struct"
                    and "unpack" in f.attr) or (
                    f.attr == "frombuffer"
                    and any(kw.arg == "offset" for kw in node.keywords)):
                offenders.append(f"{path.name}:{node.lineno} {f.attr}")
    assert offenders == []


def test_theta_containment_direct():
    """containment(A,B) = |A∩B|/|A| on the common sample: FK-shaped
    planting gives exactly 1.0 one way and the subset ratio the other."""
    sub = _theta_of([f"k{i}" for i in range(40_000)], k=4096)
    sup = _theta_of([f"k{i}" for i in range(100_000)], k=4096)
    assert sub.containment(sup) == 1.0            # every sub-key ∈ sup
    c = sup.containment(sub)
    assert abs(c - 0.4) <= 4 * (0.4 * 0.6 / 4096) ** 0.5 + 0.01
    empty = _theta_of([], k=4096)
    assert empty.containment(sup) == 0.0


def test_kll_foreign_blob_typed_errors():
    """A KLL blob this module could not have written raises ValueError —
    never a bare struct.error or a silent short parse: every truncation,
    and single-field flips of k, n, the level count and a level length."""
    import struct as _struct

    sk = KllSketch(k=200)
    sk.add_series(pd.Series(np.arange(5000, dtype=np.float64)))
    blob = sk.serialize()
    assert KllSketch.deserialize(blob).serialize() == blob
    for cut in range(len(blob)):
        with pytest.raises(ValueError):
            KllSketch.deserialize(blob[:cut])

    def flipped(fmt, off, value):
        m = bytearray(blob)
        _struct.pack_into(fmt, m, off, value)
        return bytes(m)

    # header (5 bytes), then k:i32 @5, n:i64 @9, levels:i32 @17,
    # rng counter, min, max; the first level's length:i32 @45
    for fmt, off, value in [("<i", 5, 0), ("<i", 5, 1 << 20),
                            ("<q", 9, -1), ("<i", 17, -1),
                            ("<i", 17, 1000), ("<i", 45, -1),
                            ("<i", 45, 1 << 28)]:
        with pytest.raises(ValueError):
            KllSketch.deserialize(flipped(fmt, off, value))


def _flipped(blob, fmt, off, value):
    import struct as _struct

    m = bytearray(blob)
    _struct.pack_into(fmt, m, off, value)
    return bytes(m)


def test_countmin_foreign_blob_typed_errors():
    """A Count-Min blob this module could not have written raises
    ValueError before allocating — never a bare struct.error, or a
    MemoryError from a header claiming a 2^30 x 2^10 counter matrix."""
    cm = CountMinSketch(width=64, depth=3, max_candidates=8)
    cm.add_series(_zipf_strings(2_000, 40, 1.2, seed=3))
    blob = cm.serialize()
    assert CountMinSketch.deserialize(blob).serialize() == blob
    for cut in range(len(blob)):
        with pytest.raises(ValueError):
            CountMinSketch.deserialize(blob[:cut])
    # header (5 bytes), then width:i32 @5, depth:i32 @9, total:i64 @13,
    # max_candidates:i32 @21, candidates:i32 @25
    for fmt, off, value in [("<i", 5, 1 << 30), ("<i", 9, 1 << 10),
                            ("<i", 5, 0), ("<i", 9, -1),
                            ("<i", 25, -1), ("<i", 25, 1 << 28)]:
        with pytest.raises(ValueError):
            CountMinSketch.deserialize(_flipped(blob, fmt, off, value))
    huge = _flipped(_flipped(blob, "<i", 5, 1 << 30), "<i", 9, 1 << 10)
    with pytest.raises(ValueError):
        CountMinSketch.deserialize(huge)


def test_ddsketch_foreign_blob_typed_errors():
    """A DDSketch blob this module could not have written raises
    ValueError — never a bare struct.error or a silent short parse."""
    from zetasketch_spark.sketches.ddsketch import DDSketch

    dd = DDSketch(alpha=0.02)
    dd.add_series(pd.Series(np.linspace(-50.0, 500.0, 3000)))
    blob = dd.serialize()
    assert DDSketch.deserialize(blob).serialize() == blob
    for cut in range(len(blob)):
        with pytest.raises(ValueError):
            DDSketch.deserialize(blob[:cut])
    # header (5 bytes), then alpha:f64 @5, max_buckets:i32 @13, n @17,
    # zero_count @25, min @33, max @41; the positive store's length @49
    for fmt, off, value in [("<d", 5, 0.0), ("<d", 5, 2.0),
                            ("<d", 5, float("nan")), ("<i", 49, -1),
                            ("<i", 49, 1 << 28)]:
        with pytest.raises(ValueError):
            DDSketch.deserialize(_flipped(blob, fmt, off, value))


def test_bloom_foreign_blob_typed_errors():
    """A Bloom blob this module could not have written raises ValueError
    before allocating — never a bare struct.error, a MemoryError from a
    header claiming 2^40 bits, or a silently accepted k = 0."""
    bf = BloomFilter(m=1024, k=3)
    bf.add_hashes(np.arange(1, 200, dtype=np.uint64)
                  * np.uint64(0x9E3779B97F4A7C15))
    blob = bf.serialize()
    assert BloomFilter.deserialize(blob).serialize() == blob
    for cut in range(len(blob)):
        with pytest.raises(ValueError):
            BloomFilter.deserialize(blob[:cut])
    # header (5 bytes), then m:i64 @5, k:i32 @13, n_added:i64 @17
    for fmt, off, value in [("<q", 5, 1 << 40), ("<q", 5, 0),
                            ("<q", 5, -64), ("<q", 5, 1000), ("<i", 13, 0),
                            ("<i", 13, -1), ("<q", 17, -1)]:
        with pytest.raises(ValueError):
            BloomFilter.deserialize(_flipped(blob, fmt, off, value))


def test_tdigest_foreign_blob_typed_errors():
    """A t-digest blob this module could not have written raises
    ValueError before allocating — never a bare struct.error, and never a
    silently accepted negative count or zero compression."""
    td = TDigest(delta=50.0)
    td.add_series(pd.Series(np.random.default_rng(5).normal(size=2000)))
    blob = td.serialize()
    assert TDigest.deserialize(blob).serialize() == blob
    for cut in range(len(blob)):
        with pytest.raises(ValueError):
            TDigest.deserialize(blob[:cut])
    # header (5 bytes), then delta:f64 @5, n:i64 @13, centroids:i32 @21
    for fmt, off, value in [("<d", 5, 0.0), ("<d", 5, -1.0),
                            ("<d", 5, float("nan")), ("<d", 5, float("inf")),
                            ("<q", 13, -5), ("<i", 21, -1),
                            ("<i", 21, 1 << 28)]:
        with pytest.raises(ValueError):
            TDigest.deserialize(_flipped(blob, fmt, off, value))
