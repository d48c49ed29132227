"""Time-decayed heavy hitters (operators/trending.py) and the weighted
Count-Min update path they ride on."""

from __future__ import annotations

import datetime

import numpy as np
import pandas as pd
import pytest

from zetasketch_spark.sketches.countmin import CountMinSketch


def test_weighted_add_matches_repetition_semantics():
    """add_weighted_series(k, w) must produce the SAME counters and
    candidate counts as adding key k w times — weights are repetition
    counts, so every CM guarantee transfers verbatim."""
    keys = pd.Series(["a", "b", "c", "a"])
    weights = pd.Series([3, 5, 2, 4], dtype="int64")

    cm_w = CountMinSketch(width=256, depth=5, max_candidates=16)
    cm_w.add_weighted_series(keys, weights)

    cm_r = CountMinSketch(width=256, depth=5, max_candidates=16)
    cm_r.add_series(pd.Series(["a"] * 7 + ["b"] * 5 + ["c"] * 2))

    assert np.array_equal(cm_w.counters, cm_r.counters)
    assert cm_w.total == cm_r.total == 14
    assert dict(cm_w.candidates) == dict(cm_r.candidates)


def test_weighted_add_drops_nulls_zeros_and_negatives():
    cm = CountMinSketch(width=128, depth=3, max_candidates=8)
    cm.add_weighted_series(
        pd.Series(["a", None, "b", "c", "d"]),
        pd.Series([2, 9, 0, -5, None], dtype="object"))
    assert cm.total == 2
    assert list(cm.point_query_series(pd.Series(["a", "b", "c"]))) >= [2, 0, 0]
    assert cm.candidates == {"a": 2}


def test_weighted_add_never_undercounts_and_merges():
    """The CM bound with N = total weight: point estimates of every key
    are >= its exact weighted sum, across a partitioned build + merge."""
    rng = np.random.default_rng(3)
    keys = pd.Series(rng.integers(0, 200, 5000).astype(str))
    weights = pd.Series(rng.integers(1, 1000, 5000), dtype="int64")
    exact = weights.groupby(keys.to_numpy()).sum()

    acc = CountMinSketch(width=1024, depth=5, max_candidates=64)
    for lo in range(0, 5000, 1250):
        part = CountMinSketch(width=1024, depth=5, max_candidates=64)
        part.add_weighted_series(keys.iloc[lo:lo + 1250],
                                 weights.iloc[lo:lo + 1250])
        acc.merge(part)
    assert acc.total == int(weights.sum())
    est = acc.point_query_series(pd.Series(exact.index))
    assert (est >= exact.to_numpy()).all()
    import math
    slack = math.ceil(2 * math.e / 1024 * acc.total)
    assert (est <= exact.to_numpy() + slack).all()


def test_decayed_weight_col_dyadic_and_capped(spark):
    from zetasketch_spark.operators.trending import decayed_weight_col

    anchor = datetime.date(2024, 6, 1)
    pdf = pd.DataFrame({"ts": pd.to_datetime([
        "2024-06-01 10:00:00",   # age 0 hl -> 2^40
        "2024-05-26 00:00:00",   # 6 days  -> age 0 -> 2^40
        "2024-05-25 23:59:59",   # 7 days  -> age 1 -> 2^39
        "2023-06-02 00:00:00",   # 365 days -> age 52 -> beyond cap -> 0
        pd.NaT,                  # null ts -> 0
    ])})
    got = [r["w"] for r in spark.createDataFrame(pdf).select(
        decayed_weight_col("ts", anchor, half_life_days=7, cap=40)
        .alias("w")).collect()]
    assert got == [1 << 40, 1 << 40, 1 << 39, 0, 0]

    with pytest.raises(ValueError):
        decayed_weight_col("ts", anchor, cap=53)


def test_decayed_topk_recency_beats_raw_count(spark):
    """The design point: a key hot LONG AGO tops the raw count while a
    key moderately hot RECENTLY tops the decayed ranking; booleans all
    hold; empty input yields an empty frame."""
    from zetasketch_spark.operators.trending import decayed_topk_verified

    old = pd.DataFrame({
        "k": "old_hot",
        "ts": pd.Timestamp("2024-01-01 12:00:00"),
    }, index=range(900))
    new = pd.DataFrame({
        "k": "new_hot",
        "ts": pd.Timestamp("2024-06-01 12:00:00"),
    }, index=range(300))
    noise = pd.DataFrame({
        "k": [f"u{i % 4}" for i in range(400)],
        "ts": pd.Timestamp("2024-05-20 12:00:00"),
    })
    df = spark.createDataFrame(pd.concat([old, new, noise])).repartition(6)

    rows = decayed_topk_verified(df, "k", "ts", k=6, half_life_days=7,
                                 cap=40, width=1024, depth=5,
                                 max_candidates=64).collect()
    assert [r["key"] for r in rows][0] == "new_hot"
    assert all(r["trend_est_ok"] and r["trend_in_candidates"] for r in rows)
    by_key = {r["key"]: r for r in rows}
    # exact dyadic scores: new_hot at age 0 (anchor day); noise 12 days
    # old -> age 1 -> 100*2^39 each; old_hot 152 days -> age 21 -> 2^19
    assert by_key["new_hot"]["decayed_weight"] == 300 * (1 << 40)
    assert all(by_key[f"u{i}"]["decayed_weight"] == 100 * (1 << 39)
               for i in range(4))
    assert by_key["old_hot"]["decayed_weight"] == 900 * (1 << 19)
    assert by_key["new_hot"]["rank"] == 1
    assert by_key["old_hot"]["rank"] == 6
    # raw counts would rank old_hot first
    assert old.shape[0] > new.shape[0]

    empty = decayed_topk_verified(df.filter("k = 'nope'"), "k", "ts", k=5)
    assert empty.collect() == []


def test_decayed_topk_tz_invariance(spark):
    """Calendrical ages are a pure function of the naive timestamp: the
    same input ranks identically under a different session timezone
    (the hostile-replay DST failure mode this design removes)."""
    from zetasketch_spark.operators.trending import decayed_topk_verified

    pdf = pd.DataFrame({
        "k": [f"u{i % 25}" for i in range(2000)],
        "ts": pd.to_datetime("2024-03-08") + pd.to_timedelta(
            np.arange(2000) * 97 % (45 * 86400), unit="s"),
    })
    df = spark.createDataFrame(pdf)

    prior = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        a = [tuple(r) for r in
             decayed_topk_verified(df, "k", "ts", k=10).collect()]
        # America/New_York crosses a DST boundary on 2024-03-10, inside
        # the data's time range
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        b = [tuple(r) for r in
             decayed_topk_verified(df, "k", "ts", k=10).collect()]
    finally:
        spark.conf.set("spark.sql.session.timeZone", prior)
    assert a == b


def test_decayed_topk_partitioning_invariant_with_tree_fold(spark):
    """4-partition and 100-partition builds (the latter crossing the
    fan_in=64 threshold into the executor-side fold stage) produce the
    identical ranked report — CM counter addition and the weighted
    Misra-Gries candidate union are order-free."""
    from zetasketch_spark.operators.trending import decayed_topk_verified

    pdf = pd.DataFrame({
        "k": [f"u{i % 30}" for i in range(3000)],
        "ts": pd.to_datetime("2024-04-01") + pd.to_timedelta(
            np.arange(3000) * 131 % (30 * 86400), unit="s"),
    })
    few = spark.createDataFrame(pdf).repartition(4)
    many = spark.createDataFrame(pdf).repartition(100)
    a = [tuple(r) for r in decayed_topk_verified(few, "k", "ts", k=8).collect()]
    b = [tuple(r) for r in decayed_topk_verified(many, "k", "ts", k=8).collect()]
    assert a == b and len(a) == 8


def test_kernel_weighted_cm_equals_per_partition_fold(spark):
    """The weighted Count-Min partials of `decayed_topk_verified` — a
    struct<key, weight> column through the one split kernel — equal a
    per-partition ``add_weighted_series`` fold byte for byte (null keys,
    zero and negative weights included; one batch per partition)."""
    import pyspark.sql.functions as F

    from zetasketch_spark.operators.agg import (PARTITION_COL, SKETCH_COL,
                                                sketch_partial)
    from zetasketch_spark.sketches.countmin import CountMinFamily

    rng = np.random.default_rng(5)
    n = 6000
    pdf = pd.DataFrame({
        "key": [None if i % 61 == 0 else f"t{z % 500}"
                for i, z in enumerate(rng.zipf(1.3, n))],
        "w": rng.integers(-2, 1 << 20, n),
    })
    wdf = spark.createDataFrame(pdf).repartition(7).localCheckpoint(
        eager=True)
    fam = CountMinFamily(width=512, depth=4, max_candidates=32)
    got = {r[PARTITION_COL]: bytes(r[SKETCH_COL]) for r in sketch_partial(
        wdf.select(F.struct("key", "w").alias("kw")), [], "kw",
        fam).collect()}

    def fold(pid, rows):
        part = pd.DataFrame([tuple(r) for r in rows], columns=["key", "w"])
        st = fam.make()
        st.add_weighted_series(part["key"], part["w"])
        yield pid, fam.serialize(st)

    want = dict(wdf.rdd.mapPartitionsWithIndex(fold).collect())
    assert len(want) == 7 and got == want
