"""Skew handling and the north-star transcript analytics: hot-key
aggregation, Spark-native cross-check, turn-length / inter-turn-latency
quantiles (BASELINE.json north_star queries)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import Window


def test_hot_key_skew_defused_by_partials(spark):
    """One key owning 90% of rows: the partial stage reduces it to one
    state per partition, so the merge task for the hot key sees at most
    #partitions states — verified by rows_seen vs partial counts."""
    from zetasketch_spark.operators.agg import (
        PARTITION_COL, sketch_merge, sketch_partial)
    from zetasketch_spark.sketches.base import HllFamily

    n = 200_000
    pdf = pd.DataFrame({
        "key": np.where(np.arange(n) % 10 < 9, "hot", "cold-" + pd.Series(np.arange(n) % 50).astype(str)),
        "val": np.arange(n) % 7919,
    })
    df = spark.createDataFrame(pdf).repartition(8)
    fam = HllFamily(precision=12)
    partials = sketch_partial(df, ["key"], "val", fam)
    rows = partials.groupBy("key").count().collect()
    per_key = {r["key"]: r["count"] for r in rows}
    # the hot key contributes exactly one partial per partition, not 180k rows
    assert per_key["hot"] <= 8
    out = sketch_merge(partials, ["key"], fam, tree_levels=2, fan_in=4)
    got = {r["key"]: r["rows_seen"] for r in out.collect()}
    assert got["hot"] == (pdf["key"] == "hot").sum()


def test_cross_check_against_spark_native_approx(spark, transcripts_path):
    """Sanity triangle: our HLL++, Spark's approx_count_distinct (also
    HLL++-family), and exact countDistinct all land within each other's
    envelopes."""
    from zetasketch_spark.operators.agg import hll_count_distinct
    from zetasketch_spark.sources.transcripts import load_transcripts

    df = load_transcripts(spark, transcripts_path)
    ours = {r["role"]: r["approx_distinct"]
            for r in hll_count_distinct(df, ["role"], "conv_id", precision=14).collect()}
    native = {r["role"]: r["n"] for r in df.groupBy("role").agg(
        F.approx_count_distinct("conv_id", 0.01).alias("n")).collect()}
    exact = {r["role"]: r["n"] for r in df.groupBy("role").agg(
        F.countDistinct("conv_id").alias("n")).collect()}
    for role, n in exact.items():
        assert abs(ours[role] / n - 1) <= 0.03
        assert abs(native[role] / n - 1) <= 0.05


def test_turn_length_and_latency_quantiles(spark, transcripts_path):
    """north_star: turn-length and inter-turn latency quantiles via KLL,
    checked against exact numpy quantiles (rank error <= 1.5%)."""
    from zetasketch_spark.operators.agg import sketch_agg
    from zetasketch_spark.sketches.kll import KllFamily
    from zetasketch_spark.sources.transcripts import load_transcripts

    df = load_transcripts(spark, transcripts_path)
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    micros = F.unix_micros(F.col("ts").cast("timestamp"))
    feat = (
        df.withColumn("turn_len", F.length("text").cast("double"))
        .withColumn("_us", micros)
        .withColumn("latency_s",
                    (F.col("_us") - F.lag("_us").over(w)).cast("double") / 1e6)
    )
    fam = KllFamily(k=200, quantiles=(0.1, 0.5, 0.9, 0.99))
    for col in ("turn_len", "latency_s"):
        got = sketch_agg(feat, [], col, fam).collect()[0]
        vals = np.array([r[0] for r in feat.select(col).dropna().collect()])
        for q in (0.1, 0.5, 0.9, 0.99):
            est = got[f"q{int(q*100):02d}"]
            true_rank = (vals <= est).mean()
            assert abs(true_rank - q) <= 0.015, (col, q, est, true_rank)


def test_heavy_hitter_tools_cm_vs_exact(spark, transcripts_path):
    """north_star: heavy-hitter tool frequencies via Count-Min."""
    from zetasketch_spark.operators.agg import sketch_merge, sketch_partial
    from zetasketch_spark.sketches.countmin import CountMinFamily
    from zetasketch_spark.sources.transcripts import load_transcripts

    df = load_transcripts(spark, transcripts_path).filter(F.col("tool").isNotNull())
    fam = CountMinFamily(width=4096, depth=5, max_candidates=128)
    merged = sketch_merge(sketch_partial(df, [], "tool", fam), [], fam)
    [row] = merged.collect()
    cm = fam.deserialize(bytes(row["sketch"]))
    top = dict(cm.heavy_hitters(10))
    exact = {r["tool"]: r["n"] for r in
             df.groupBy("tool").agg(F.count("*").alias("n"))
             .orderBy(F.desc("n")).limit(10).collect()}
    # top sets overlap strongly and CM never undercounts
    assert len(set(top) & set(exact)) >= 8
    for t, n in exact.items():
        if t in top:
            assert top[t] >= n
            assert top[t] <= n + np.e / 4096 * cm.total


def test_kll_boundaries_past_fan_in_take_salted_tree(spark, monkeypatch):
    """`rangepart.kll_boundaries` over more than 64 input partitions folds
    its KLL partials through the salted executor-side tree before the
    driver collect (bounded fan-in), and the boundaries stay inside
    KLL's rank error; empty input keeps an empty sketch's boundaries."""
    from zetasketch_spark.operators import agg
    from zetasketch_spark.operators.rangepart import kll_boundaries

    calls = []
    real = agg.sketch_merge

    def spy(*args, **kwargs):
        calls.append(kwargs.get("tree_levels"))
        return real(*args, **kwargs)

    monkeypatch.setattr(agg, "sketch_merge", spy)
    n = 20_000
    df = spark.range(n).select(F.col("id").cast("double").alias("v")) \
        .repartition(80)
    b = kll_boundaries(df, "v", 8)
    assert calls == [2]
    assert len(b) == 7 and b == sorted(b)
    for i, x in enumerate(b, 1):
        # true rank of the boundary value (values are 0..n-1) against its
        # target quantile i/8; KLL's rank error is ~1.5% at k=200
        assert abs((x + 1) / n - i / 8) <= 0.03, (i, x)
    assert kll_boundaries(df.limit(0), "v", 8) == []
