"""Structured Streaming sketch aggregation.

The reference's single-pass design is stream-native: constant-space state,
one add per element, any-order merge (SURVEY.md §2.2 'streaming'). Here the
same sketch families drive ``applyInPandasWithState``: group state = the
serialized sketch blob, each micro-batch's rows update it vectorized, and
every trigger emits the current estimate per key.

Late data: because sketch updates are idempotent-per-value and merge is
associative, late rows simply fold into the state — no watermark-forced
drops are required for correctness, only for state expiry (pass
``timeout_minutes`` to expire idle keys).

State-store sizing at 10^12-turn scale: state per group is one serialized
sketch (~2^p bytes dense), and ``timeout_minutes`` bounds the LIVE group
count to the active-key working set (verified by
``test_streaming_state_bounded_by_timeout``). For state larger than
executor heap, run with the RocksDB state store::

    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
                   "org.apache.spark.sql.execution.streaming.state."
                   "RocksDBStateStoreProvider")

(bundled with Spark; spills state to local disk with changelog
checkpointing instead of keeping every version on-heap).
"""

from __future__ import annotations

from typing import Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    BinaryType, DoubleType, LongType, StringType, StructField, StructType)

from zetasketch_spark.operators.agg import sql_type
from zetasketch_spark.sketches.base import SketchFamily


def streaming_sketch_agg(
    df: DataFrame,
    keys: list[str],
    col: str,
    family: SketchFamily,
    timeout_minutes: float | None = None,
) -> DataFrame:
    """Continuously maintained sketch per key over a streaming DataFrame.

    Emits ``keys..., rows_seen, <result fields>`` every trigger for groups
    that received data."""
    # pin the hash domain from the schema (single rule: pin_value_type)
    from zetasketch_spark.functions.sketch_udfs import pin_value_type

    family = pin_value_type(family, df, col)

    key_fields = [f for f in df.schema.fields if f.name in keys]
    out_schema = StructType(
        key_fields
        + [StructField("rows_seen", LongType())]
        + [StructField(n, sql_type(t)) for n, t in family.result_fields]
    )
    state_schema = StructType([
        StructField("blob", BinaryType()),
        StructField("rows", LongType()),
    ])

    def update_fn(key: Tuple, batches: Iterator[pd.DataFrame],
                  state: GroupState) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()
            return
        if state.exists:
            blob, rows = state.get
            sk = family.deserialize(bytes(blob))
        else:
            sk, rows = family.make(), 0
        for pdf in batches:
            family.update(sk, pdf[col])
            rows += len(pdf)
        state.update((family.serialize(sk), rows))
        if timeout_minutes:
            state.setTimeoutDuration(int(timeout_minutes * 60 * 1000))
        res = family.result(sk)
        yield pd.DataFrame(
            [[*key, rows, *res]],
            columns=[*keys, "rows_seen", *[n for n, _ in family.result_fields]],
        )

    timeout = (GroupStateTimeout.ProcessingTimeTimeout
               if timeout_minutes else GroupStateTimeout.NoTimeout)
    return (
        df.select(*keys, col)
        .groupBy(*keys)
        .applyInPandasWithState(update_fn, out_schema, state_schema,
                                "update", timeout)
    )


def streaming_windowed_sketch_agg(
    df: DataFrame,
    keys: list[str],
    col: str,
    family: SketchFamily,
    ts_col: str = "ts",
    window: str = "10 minutes",
    watermark: str = "1 hour",
    state_timeout_minutes: float | None = 120,
) -> DataFrame:
    """Event-time-windowed continuous sketches with a watermark.

    Late rows inside the watermark fold into their window's sketch exactly
    (associative, value-idempotent merge — no approximation penalty for
    out-of-order arrival); rows later than the watermark are dropped by
    Spark before reaching the state function, which is the watermark
    contract. Emits ``window_start, keys..., rows_seen, <results>`` in
    update mode every trigger.

    NOTE the watermark does NOT evict ``applyInPandasWithState`` state —
    only ``state_timeout_minutes`` does. Closed windows stop receiving
    rows, so their state expires ``state_timeout_minutes`` after their
    last update (processing time); pass ``None`` only for bounded streams
    where unbounded per-window state is acceptable.
    """
    import pyspark.sql.functions as F

    bucketed = (
        df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))  # ntz -> ltz
        .withWatermark(ts_col, watermark)
        .withColumn("window_start", F.window(ts_col, window)["start"])
    )
    return streaming_sketch_agg(
        bucketed, ["window_start", *keys], col, family,
        timeout_minutes=state_timeout_minutes)


def streaming_window_activity(
    df: DataFrame,
    keys: list[str],
    key_col: str,
    ts_col: str = "ts",
    k: int = 4096,
    windows=(1, 7, 30),
    timeout_minutes: float | None = None,
) -> DataFrame:
    """Continuously maintained trailing-window distinct activity per
    group: one temporal theta state (`sketches/timetheta.py`) per group
    absorbs (key, event-day) pairs; every trigger emits the current
    ``active_{W}d`` (last seen in window) and ``new_{W}d`` (FIRST seen
    in window — live acquisition counting) estimates per window plus
    the all-time ``total_distinct`` — the live version of
    ``operators.window_distinct.window_activity_report``.

    ``as_of_day`` is the EXACT max event day seen by the group so far
    (tracked as a scalar in the state tuple, not read from the sketch's
    sampled rows), so window anchors never drift with sampling. Late
    rows fold in exactly (max-timestamp merge is associative and
    value-idempotent); state per group is one k-row sketch + two
    scalars."""
    import pyspark.sql.functions as F

    from zetasketch_spark.operators.window_distinct import _days, _iso
    from zetasketch_spark.sketches.timetheta import TimeThetaFamily

    wins = _days(windows, "windows")
    fam = TimeThetaFamily(k=k)

    key_fields = [f for f in df.schema.fields if f.name in keys]
    out_schema = StructType(
        key_fields
        + [StructField("rows_seen", LongType()),
           StructField("as_of_day", StringType()),
           StructField("total_distinct", LongType()),
           StructField("rse", DoubleType())]
        + [StructField(f"active_{w}d", LongType()) for w in wins]
        + [StructField(f"new_{w}d", LongType()) for w in wins]
    )
    state_schema = StructType([
        StructField("blob", BinaryType()),
        StructField("rows", LongType()),
        StructField("max_day", LongType()),
    ])

    day = F.unix_date(F.to_date(F.col(ts_col))).cast("bigint").alias("_day")
    src = df.select(*keys, F.col(key_col), day)

    def update_fn(key: Tuple, batches: Iterator[pd.DataFrame],
                  state: GroupState) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()
            return
        _NO_DAY = -(2 ** 62)  # "no timed row yet" sentinel (days can
        # legitimately be negative for pre-1970 event times)
        if state.exists:
            blob, rows, max_day = state.get
            sk = fam.deserialize(bytes(blob))
        else:
            sk, rows, max_day = fam.make(), 0, _NO_DAY
        for pdf in batches:
            fam.update_pair(sk, pdf[key_col], pdf["_day"])
            rows += len(pdf)
            bmax = pdf["_day"].max()
            if pd.notna(bmax):
                max_day = max(max_day, int(bmax))
        state.update((fam.serialize(sk), rows, max_day))
        if timeout_minutes:
            state.setTimeoutDuration(int(timeout_minutes * 60 * 1000))
        if max_day == _NO_DAY:
            return  # no timed rows yet: no window anchor to report
        iso = _iso(max_day)
        actives = [sk.estimate_since(max_day - w + 1) for w in wins]
        news = [sk.estimate_new_since(max_day - w + 1) for w in wins]
        yield pd.DataFrame(
            [[*key, rows, iso, sk.estimate(), float(sk.rse()), *actives,
              *news]],
            columns=[*keys, "rows_seen", "as_of_day", "total_distinct",
                     "rse", *[f"active_{w}d" for w in wins],
                     *[f"new_{w}d" for w in wins]],
        )

    timeout = (GroupStateTimeout.ProcessingTimeTimeout
               if timeout_minutes else GroupStateTimeout.NoTimeout)
    return (
        src.groupBy(*keys)
        .applyInPandasWithState(update_fn, out_schema, state_schema,
                                "update", timeout)
    )


def streaming_bloom_dedup(
    df: DataFrame,
    key_col: str,
    n_shards: int = 32,
    m: int = 1 << 20,
    k: int = 7,
    timeout_minutes: float | None = None,
) -> DataFrame:
    """Streaming first-occurrence dedup with bounded state.

    Keys are hashed to one of ``n_shards`` state groups (so dedup is
    global AND the state work parallelizes); each shard's state is a Bloom
    filter of every key it has seen. A row passes iff its key is not in
    the shard's Bloom — exactly-once emission for true keys, with the
    Bloom trade-off that ~fpr of genuinely-new keys are wrongly dropped
    (never duplicated). At 10^12-turn scale this is the only bounded-state
    dedup: exact per-key state grows with distinct keys, Bloom state is
    ``n_shards * m/8`` bytes forever.

    Emits the deduplicated rows (original schema).
    """
    import pyspark.sql.functions as F

    from zetasketch_spark.sketches.bloom import BloomFilter

    in_cols = df.columns
    out_schema = df.schema
    state_schema = StructType([StructField("blob", BinaryType())])
    sharded = df.withColumn(
        "_shard", F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_shards)))

    def dedup_fn(key: Tuple, batches: Iterator[pd.DataFrame],
                 state: GroupState) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()
            return
        if state.exists:
            bf = BloomFilter.deserialize(bytes(state.get[0]))
        else:
            bf = BloomFilter(m=m, k=k)
        for pdf in batches:
            # null keys have no identity to dedup on — drop them (they
            # would otherwise look 'fresh' every micro-batch: the Bloom
            # cannot record NA)
            pdf = pdf[pdf[key_col].notna()]
            pdf = pdf.drop_duplicates(subset=[key_col], keep="first")
            fresh = pdf[~bf.contains_series(pdf[key_col])]
            if len(fresh):
                bf.add_series(fresh[key_col])
                yield fresh[in_cols]
        state.update((bf.serialize(),))
        if timeout_minutes:
            state.setTimeoutDuration(int(timeout_minutes * 60 * 1000))

    timeout = (GroupStateTimeout.ProcessingTimeTimeout
               if timeout_minutes else GroupStateTimeout.NoTimeout)
    return (
        sharded.groupBy("_shard")
        .applyInPandasWithState(dedup_fn, out_schema, state_schema,
                                "update", timeout)
    )
