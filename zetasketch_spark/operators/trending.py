"""Time-decayed (trending) heavy hitters: recency-weighted frequencies
with exact integer decay weights.

The north-star "heavy-hitter tool frequencies" question has a recency
variant every transcripts dashboard actually asks — *what is hot NOW*,
not over all history. The standard answer is an exponentially-decayed
count (Cormode, Shkapenyuk, Srivastava, Xu — "Forward decay: a
practical time decay model for streaming systems", ICDE 2009): each
row contributes ``2^(-age / half_life)``.

This module makes that decay EXACT and engine-portable instead of
floating-point:

* age is **calendrical** — whole half-lives of ``datediff(anchor_date,
  to_date(ts))`` — so it is a pure function of the naive timestamp.
  Epoch-based ages shift by ±1h across DST boundaries when the session
  timezone changes, which would make the result environment-dependent
  (the hostile-replay failure mode); date arithmetic cannot.
* the weight is the **scaled dyadic integer** ``2^(cap - age_hl)``
  (0 beyond ``cap`` half-lives): every per-key decayed score is an
  exact int64, identically computable by Spark, DuckDB, and numpy —
  sums are order-free, merge is pure addition, and the driver's value
  hash cannot drift. ``cap`` bounds the dynamic range: pick it so
  ``cap + log2(total rows) < 63`` (the default 40 supports ~8M rows;
  use ~20 for 10^12-row tables, i.e. ~5 decimal digits of decay —
  anything older contributes 0, which a 40-half-life-old row
  effectively does anyway).

Execution shape: one shuffle-free scan builds per-partition WEIGHTED
Count-Min partials on the one split kernel (``agg.sketch_partial``
over a struct<key, weight> column, which ``CountMinFamily`` feeds to
``CountMinSketch.add_weighted_series`` — the CM guarantees hold
verbatim with N = total decayed weight), ``agg.collect_merged_states``
folds them under its driver fan-in bound, and the exact top-k decayed
scores come from one integer groupBy-sum — the same candidate-verified
pattern as ``verify.cm_topk_verified``.
"""

from __future__ import annotations

import math

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame


def decayed_weight_col(ts_col: str, anchor_date, half_life_days: int = 7,
                       cap: int = 40) -> Column:
    """Exact dyadic decay weight ``2^(cap - age_hl)`` as a long column,
    where ``age_hl = floor(datediff(anchor, to_date(ts)) / half_life)``;
    0 beyond ``cap`` half-lives or for null timestamps. ``pow`` is exact
    here: the exponent never exceeds ``cap`` <= 52 (float64 mantissa)."""
    if not 0 <= cap <= 52:
        raise ValueError(f"cap must be in [0, 52] for exact dyadic "
                         f"weights, got {cap}")
    age_hl = F.floor(
        F.datediff(F.lit(anchor_date), F.to_date(F.col(ts_col)))
        / F.lit(float(half_life_days)))
    return (F.when((age_hl >= 0) & (age_hl <= cap),
                   F.pow(F.lit(2.0), (F.lit(cap) - age_hl)).cast("long"))
            .otherwise(F.lit(0).cast("long")))


def decayed_topk_verified(df: DataFrame, key_col: str, ts_col: str,
                          k: int = 10, half_life_days: int = 7,
                          cap: int = 40, width: int = 4096, depth: int = 5,
                          max_candidates: int = 256) -> DataFrame:
    """Exact top-k keys by decayed score (weight desc, key asc) with
    booleans asserting the weighted-CM guarantee — estimate ∈
    [exact, exact + ⌈2εN⌉] with N = total decayed weight (CM never
    undercounts; ε = e/width) — and candidate-set membership.

    Returns ``key, decayed_weight, rank, trend_est_ok,
    trend_in_candidates`` (exactly k rows; fewer only if the input has
    fewer keys with a positive decayed score)."""
    from concurrent.futures import ThreadPoolExecutor

    from zetasketch_spark.operators.agg import (collect_merged_states,
                                                sketch_partial)
    from zetasketch_spark.sketches.countmin import CountMinFamily

    spark = df.sparkSession
    anchor = df.agg(F.max(F.to_date(F.col(ts_col))).alias("d")).collect()[0]["d"]
    out_cols = ["key", "decayed_weight", "rank", "trend_est_ok",
                "trend_in_candidates"]
    out_schema = ("key string, decayed_weight bigint, rank bigint, "
                  "trend_est_ok boolean, trend_in_candidates boolean")
    if anchor is None:
        return spark.createDataFrame([], out_schema)

    # null keys carry no identity to rank (a null tool is "no tool") —
    # drop them on BOTH the exact and sketch paths, matching
    # add_weighted_series's null semantics
    wdf = df.select(
        F.col(key_col).cast("string").alias("key"),
        decayed_weight_col(ts_col, anchor, half_life_days, cap).alias("w")) \
        .filter(F.col("key").isNotNull())

    fam = CountMinFamily(width=width, depth=depth,
                         max_candidates=max_candidates)
    parts = sketch_partial(wdf.select(F.struct("key", "w").alias("kw")), [],
                           "kw", fam)

    # orderBy + limit -> TakeOrderedAndProject (per-partition heaps, no
    # global sort or single-partition rank window over the unbounded key
    # set); ranks come from the already-sorted driver list
    def _collect_top():
        return (wdf.groupBy("key").agg(F.sum("w").alias("decayed_weight"))
                .filter(F.col("decayed_weight") > 0)
                .orderBy(F.col("decayed_weight").desc(), F.col("key"))
                .limit(k).collect())

    # the weighted-CM digest and the exact top-k are independent jobs
    # over the same wdf — submit both from a 2-thread pool so the second
    # back-fills executors freed by the first's tail (guide §2.6)
    with ThreadPoolExecutor(max_workers=2) as pool:
        facc = pool.submit(collect_merged_states, parts, [], fam)
        ftop = pool.submit(_collect_top)
        acc, top = facc.result().get(()), ftop.result()
    if acc is None or acc.total == 0:
        return spark.createDataFrame([], out_schema)
    est = acc.point_query_series(pd.Series([r["key"] for r in top]))
    # same slack convention as cm_topk_verified: doubling the published
    # eps*N drives the per-key gate failure probability to ~e^-2depth
    slack = math.ceil(2 * math.e / width * acc.total)
    rows = [[r["key"], r["decayed_weight"], i + 1,
             bool(r["decayed_weight"] <= e <= r["decayed_weight"] + slack),
             r["key"] in acc.candidates]
            for i, (r, e) in enumerate(zip(top, est))]
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=out_cols).astype(
            {"key": str, "decayed_weight": "int64", "rank": "int64"}),
        schema=out_schema)
