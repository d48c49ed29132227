"""Focused tests for the round-6 optimization internals.

Each optimization that changed an operator's internals gets a pin here:
the leaf-scan short circuit's plan detection, the dictionary-code group
slicer, the Bloom boolean-scatter add, row-group-aware
ensure_parallelism, the carry/deferred-distinct pair generation, and the
driver-side partial fold.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest

import pyspark.sql.functions as F


# ---------------------------------------------------------------------------
# pure-python pieces (no Spark session)
# ---------------------------------------------------------------------------

def test_arrow_group_indices_matches_pandas_groupby():
    from zetasketch_spark.operators.grouping import arrow_group_indices

    rng = np.random.default_rng(7)
    n = 5000
    role = pa.array(rng.choice(["a", "b", None], size=n).tolist())
    day = pa.array(rng.integers(0, 9, size=n), type=pa.int32())
    got = arrow_group_indices({"role": role, "day": day})
    kpdf = pa.table({"role": role, "day": day}).to_pandas()
    want = kpdf.groupby(["role", "day"], sort=False, dropna=False).indices

    def norm(groups):
        out = {}
        for k, v in groups.items():
            k = k if isinstance(k, tuple) else (k,)
            key = tuple("<null>" if (x is None or (isinstance(x, float)
                                                   and np.isnan(x))) else
                        str(int(x)) if isinstance(x, (int, np.integer))
                        else str(x) for x in k)
            out[key] = list(v)
        return out

    a, b = norm(got), norm(want)
    assert a.keys() == b.keys()
    for k in a:
        # identical index partitions AND ascending order (order-dependent
        # sketch states rely on it)
        assert a[k] == b[k], k
        assert a[k] == sorted(a[k])


def test_arrow_group_indices_single_key_dictionary():
    from zetasketch_spark.operators.grouping import arrow_group_indices

    arr = pa.array(["x", "y", "x", None, "y", "x"]).dictionary_encode()
    got = arrow_group_indices({"k": arr})
    got = {k: list(v) for k, v in got.items()}
    assert got[("x",)] == [0, 2, 5]
    assert got[("y",)] == [1, 4]
    assert got[(None,)] == [3]


def test_bloom_boolean_scatter_matches_at_path():
    from zetasketch_spark.sketches.bloom import BloomFilter

    rng = np.random.default_rng(3)
    hashes = rng.integers(0, 2**63, size=20000, dtype=np.uint64)
    fast = BloomFilter(m=1 << 17, k=7)
    fast.add_hashes(hashes)
    slow = BloomFilter(m=1 << 17, k=7)
    # force the reference per-element path
    pos = slow._positions(hashes).ravel()
    word = (pos >> np.uint64(6)).astype(np.int64)
    bit = np.uint64(1) << (pos & np.uint64(63))
    np.bitwise_or.at(slow.words, word, bit)
    slow.n_added += len(hashes)
    assert np.array_equal(fast.words, slow.words)
    assert fast.serialize() == slow.serialize()


def test_bloom_probe_sees_scatter_added_keys():
    from zetasketch_spark.sketches.bloom import BloomFilter

    bf = BloomFilter(m=1 << 17, k=7)
    s = pd.Series(list(range(1000)))
    bf.add_series(s)
    assert bool(bf.contains_series(s).all())  # zero false negatives


# ---------------------------------------------------------------------------
# Spark-session pieces
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def spark():
    from zetasketch_spark.session import get_spark

    s = get_spark(app="r06-opt-tests", cpus=4, shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="module")
def small_parquet(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("r06") / "t.parquet")
    pdf = pd.DataFrame({
        "k": [f"k{i % 3}" for i in range(4000)],
        "v": np.arange(4000, dtype=np.int64),
        "s": [f"s{i}" for i in range(4000)],
    })
    import pyarrow.parquet as pq

    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), path)
    return path


def test_plain_parquet_detection(spark, small_parquet):
    from zetasketch_spark.operators.agg import _plain_parquet_files

    df = spark.read.parquet(small_parquet)
    assert _plain_parquet_files(df, ["k", "v"])
    assert _plain_parquet_files(df.select("k", "v"), ["k", "v"])
    # any non-trivial node must reject (a false positive would silently
    # drop the filter/join from the computation)
    assert _plain_parquet_files(df.filter("v > 10"), ["k"]) is None
    assert _plain_parquet_files(
        df.withColumn("w", F.col("v") * 2), ["k", "w"]) is None
    assert _plain_parquet_files(
        df.select("k").union(df.select("k")), ["k"]) is None
    assert _plain_parquet_files(df.repartition(4), ["k"]) is None
    # columns absent from the file schema (e.g. partition cols) reject
    assert _plain_parquet_files(df, ["k", "nope"]) is None


def test_filescan_states_equal_arrow_fabric(spark, small_parquet):
    import zetasketch_spark.operators.agg as agg
    from zetasketch_spark.operators.agg import sketch_agg, sketch_partial
    from zetasketch_spark.sketches.base import HllFamily

    df = spark.read.parquet(small_parquet)
    fam = HllFamily(precision=12)
    new = sorted(map(tuple, sketch_agg(df, ["k"], "s", fam).collect()))
    orig = agg._plain_parquet_files
    agg._plain_parquet_files = lambda d, c: None
    try:
        old = sorted(map(tuple, sketch_agg(df, ["k"], "s", fam).collect()))
    finally:
        agg._plain_parquet_files = orig
    assert new == old
    # the partial short circuit keeps the partials schema contract
    parts = sketch_partial(df, ["k"], "s", fam)
    assert [f.name for f in parts.schema.fields] == [
        "k", "sketch", "rows_seen", "partition_id"]


def test_ensure_parallelism_row_group_aware(spark, small_parquet):
    from zetasketch_spark.operators.parallelize import ensure_parallelism

    df = spark.read.parquet(small_parquet)  # single row group
    out = ensure_parallelism(df, min_parts=4)
    assert out.rdd.getNumPartitions() >= 4
    # row distribution is real after the spread (no empty-split skew)
    sizes = out.rdd.glom().map(len).collect()
    assert sum(1 for s in sizes if s > 0) >= 2
    # an already-repartitioned plan is trusted (no second exchange)
    again = ensure_parallelism(out, min_parts=4)
    assert again is out


def test_bounded_bucket_pairs_carry_and_deferred_distinct(spark):
    from zetasketch_spark.operators.dedup import bounded_bucket_pairs

    # 40 ids in one bucket (hot at max_bucket=8) with two refine variants
    rows = [(i, 0, i % 2) for i in range(40)] + \
           [(100 + i, 1, 7) for i in range(4)]  # cold bucket
    df = spark.createDataFrame(rows, "id bigint, b int, sig bigint")
    plain = bounded_bucket_pairs(df, "id", ["b"], max_bucket=8,
                                 refine_col="sig")
    carried = bounded_bucket_pairs(df, "id", ["b"], max_bucket=8,
                                   refine_col="sig", carry_col="sig",
                                   distinct=False)
    p = {(r["id_a"], r["id_b"]) for r in plain.collect()}
    c_rows = carried.collect()
    c = {(r["id_a"], r["id_b"]) for r in c_rows}
    assert p == c  # identical pair set, duplicates allowed pre-distinct
    sig = {r[0]: r[2] for r in rows}
    for r in c_rows:  # carried payloads are the rows' own values
        assert r["carry_a"] == sig[r["id_a"]]
        assert r["carry_b"] == sig[r["id_b"]]


def test_collect_merged_states_matches_distributed_merge(spark):
    from zetasketch_spark.operators.agg import (collect_merged_states,
                                                sketch_merge, sketch_partial)
    from zetasketch_spark.sketches.base import HllFamily

    df = spark.createDataFrame(
        [(f"g{i % 2}", f"u{i % 57}") for i in range(3000)],
        "g string, u string").repartition(4)
    fam = HllFamily(precision=12)
    parts = sketch_partial(df, ["g"], "u", fam)
    states = collect_merged_states(parts, ["g"], fam)
    merged = {r["g"]: bytes(r["sketch"]) for r in
              sketch_merge(sketch_partial(df, ["g"], "u", fam),
                           ["g"], fam).collect()}
    assert set(k for (k,) in states) == set(merged)
    for (g,), st in states.items():
        assert fam.serialize(st) == merged[g]


def test_metadata_row_bound(spark, small_parquet):
    from zetasketch_spark.operators.bloomjoin import _metadata_row_bound

    df = spark.read.parquet(small_parquet)
    assert _metadata_row_bound(df) == 4000
    assert _metadata_row_bound(df.filter("v > 3900")) == 4000  # upper bound
    # row-multiplying plans must NOT claim a bound (undercount -> FPR blowup)
    assert _metadata_row_bound(
        df.select(F.explode(F.array("v", "v")).alias("x"))) is None


def test_decontaminate_digest_from_distinct_shingles(spark):
    """decontaminate now folds its Bloom digest from the distinct-shingle
    table the exact-verify join needs anyway (one benchmark shingle pass
    instead of two). Bloom insertion is idempotent, so the BIT ARRAY must
    be identical to the documented multiset path — membership (and hence
    the flagged candidate set) cannot move."""
    from zetasketch_spark.operators.decontaminate import (
        _bloom_from_shingles, _exploded_shingles, benchmark_shingle_bloom)
    from zetasketch_spark.sketches.bloom import BloomFilter

    bench = spark.createDataFrame(
        [(i, "alpha beta gamma delta epsilon zeta " * 3) for i in range(6)]
        + [(9, "one two three four five six seven eight")],
        "doc_id bigint, text string")
    multiset = BloomFilter.deserialize(
        benchmark_shingle_bloom(bench, m=1 << 16, k=5))
    distinct = BloomFilter.deserialize(_bloom_from_shingles(
        _exploded_shingles(bench, "text", 5, id_col=None).distinct(),
        m=1 << 16, k=5))
    assert (multiset.words == distinct.words).all()
    # the six copies collapse in the distinct path: n_added is the one
    # field allowed to differ
    assert distinct.n_added < multiset.n_added
