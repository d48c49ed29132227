"""Temporal theta sketch (sketches/timetheta.py) + the sliding-window
activity operator (operators/window_distinct.py): exact-mode equality,
estimation-mode envelopes, merge laws, serde, Spark fabric invariance."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from zetasketch_spark.sketches.timetheta import (
    TimeThetaFamily,
    TimeThetaSketch,
)

_FULL = 1 << 64


def _brute(last_day: dict[str, int], lo: int) -> int:
    return sum(1 for d in last_day.values() if d >= lo)


def test_exact_mode_totals_and_windows():
    """Under k distinct the sketch is exact: theta never drops, every
    (key, min-day, max-day) triple is retained verbatim."""
    rng = np.random.default_rng(7)
    keys = [f"u{i}" for i in range(500)]
    last_day: dict[str, int] = {}
    first_day: dict[str, int] = {}
    sk = TimeThetaSketch(k=4096)
    for _ in range(4):  # multiple occurrences per key, random days
        days = rng.integers(0, 60, size=len(keys))
        sk.add_series(pd.Series(keys), pd.Series(days))
        for k_, d in zip(keys, days):
            last_day[k_] = max(last_day.get(k_, -1), int(d))
            first_day[k_] = min(first_day.get(k_, 61), int(d))
    assert sk.theta == _FULL
    assert sk.estimate() == 500
    for lo in (0, 10, 30, 55, 59, 60):
        assert sk.estimate_since(lo) == _brute(last_day, lo)
        assert sk.estimate_new_since(lo) == _brute(first_day, lo)
    # recency / cohort buckets partition the total
    counts = sk.recency_counts([10, 30, 55])
    assert sum(counts) == 500
    assert counts[3] == _brute(last_day, 55)
    assert counts[0] == 500 - _brute(last_day, 10)
    cohorts = sk.cohort_counts([10, 30, 55])
    assert sum(cohorts) == 500
    assert cohorts[3] == _brute(first_day, 55)


def test_max_timestamp_law_exact():
    sk = TimeThetaSketch(k=256)
    sk.add_series(pd.Series(["a", "b", "a"]), pd.Series([5, 9, 3]))
    sk.add_series(pd.Series(["a"]), pd.Series([7]))
    by_hash = dict(zip(sk.retained.tolist(), sk.last_ts.tolist()))
    assert sorted(by_hash.values()) == [7, 9]  # a -> max(5,3,7), b -> 9
    firsts = dict(zip(sk.retained.tolist(), sk.first_ts.tolist()))
    assert sorted(firsts.values()) == [3, 9]  # a -> min(5,3,7), b -> 9
    assert sk.num_values == 4


def test_null_rows_skipped():
    sk = TimeThetaSketch(k=64)
    sk.add_series(pd.Series(["a", None, "c", "d"]),
                  pd.Series([1, 2, None, 4], dtype="Int64"))
    assert sk.estimate() == 2  # only (a,1) and (d,4) count
    assert sk.num_values == 2
    sk.add_series(pd.Series([], dtype=object), pd.Series([], dtype="Int64"))
    assert sk.estimate() == 2


def test_estimation_mode_envelopes():
    """60k keys, planted last-day distribution: window estimates land
    within 5 sd of truth, total within 5 rse."""
    rng = np.random.default_rng(42)
    n = 60_000
    keys = pd.Series([f"user-{i}" for i in range(n)])
    # last day skewed toward recent (zipf-ish over 0..89)
    last = (89 - np.minimum(rng.geometric(0.05, size=n) - 1, 89)).astype(
        np.int64)
    sk = TimeThetaSketch(k=4096)
    # feed in shuffled chunks with some earlier-day duplicates that must
    # not displace the max
    order = rng.permutation(n)
    for chunk in np.array_split(order, 7):
        sk.add_series(keys.iloc[chunk], pd.Series(last[chunk]))
        dup = chunk[: len(chunk) // 3]
        sk.add_series(keys.iloc[dup],
                      pd.Series(np.maximum(last[dup] - 5, 0)))
    assert sk.theta < _FULL  # genuinely estimating
    assert abs(sk.estimate() - n) <= 5 * sk.rse() * n
    for lo in (89, 83, 60, 30):
        true = int((last >= lo).sum())
        est = sk.estimate_since(lo)
        assert abs(est - true) <= 5 * sk.estimate_sd_since(lo) + 1, (
            lo, est, true)


def test_merge_equals_single_build_byte_exact():
    """Merge of split builds == one-shot build, any split/merge order:
    the state is a pure function of the (key, max-day) set."""
    rng = np.random.default_rng(3)
    n = 30_000
    keys = pd.Series([f"k{i}" for i in rng.integers(0, 12_000, size=n)])
    days = pd.Series(rng.integers(0, 50, size=n).astype(np.int64))
    solo = TimeThetaSketch(k=1024)
    solo.add_series(keys, days)
    for n_parts, order in ((3, None), (8, "rev")):
        parts = []
        for idx in np.array_split(np.arange(n), n_parts):
            p = TimeThetaSketch(k=1024)
            p.add_series(keys.iloc[idx], days.iloc[idx])
            parts.append(p)
        if order == "rev":
            parts = parts[::-1]
        acc = parts[0]
        for p in parts[1:]:
            acc.merge(p)
        assert acc.serialize() == solo.serialize()


def test_merge_mixed_k_and_null_noop():
    a = TimeThetaSketch(k=64)
    a.add_series(pd.Series([f"a{i}" for i in range(500)]),
                 pd.Series(np.arange(500) % 9))
    b = TimeThetaSketch(k=256)
    b.add_series(pd.Series([f"b{i}" for i in range(500)]),
                 pd.Series(np.arange(500) % 9))
    before = a.serialize()
    a.merge(None)
    assert a.serialize() == before
    a.merge(b)
    assert a.k == 64 and len(a.retained) <= 64
    assert abs(a.estimate() - 1000) <= 5 * a.rse() * 1000
    # retained rows stay hash-sorted and parallel
    assert np.all(np.diff(a.retained.astype(np.uint64)) > 0)
    assert len(a.last_ts) == len(a.retained)


def test_serde_roundtrip_and_guards():
    sk = TimeThetaSketch(k=128)
    sk.add_series(pd.Series([f"x{i}" for i in range(1000)]),
                  pd.Series(np.arange(1000, dtype=np.int64) % 31))
    blob = sk.serialize()
    back = TimeThetaSketch.deserialize(blob)
    assert back.serialize() == blob
    assert back.estimate_since(20) == sk.estimate_since(20)
    # forward compat: trailing bytes ignored
    ext = TimeThetaSketch.deserialize(blob + b"\x00future")
    assert ext.serialize() == blob
    # corrupt retained count must not read past the buffer
    import struct
    bad = bytearray(blob)
    struct.pack_into("<i", bad, 5 + struct.calcsize("<iqQ"), 10_000)
    with pytest.raises(ValueError, match="corrupt time-theta"):
        TimeThetaSketch.deserialize(bytes(bad))
    with pytest.raises(ValueError, match="not a time-theta"):
        TimeThetaSketch.deserialize(b"XXXX" + blob[4:])


def test_family_contract():
    fam = TimeThetaFamily(k=64)
    st = fam.make()
    with pytest.raises(TypeError, match="update_pair"):
        fam.update(st, pd.Series(["a"]))
    fam.update_pair(st, pd.Series(["a", "b"]), pd.Series([1, 2]))
    blob = fam.merge_serialized([fam.serialize(st), None, b""])
    assert fam.result(fam.deserialize(blob)) == (2,)
    from zetasketch_spark.sketches.base import get_family
    assert isinstance(get_family("timetheta", k=32), TimeThetaFamily)


# -- Spark fabric -------------------------------------------------------------


def _planted_events(spark, n_keys=800, n_days=40, seed=11, parts=4):
    rng = np.random.default_rng(seed)
    last = rng.integers(0, n_days, size=n_keys)
    pdf = pd.DataFrame({"user": [f"u{i}" for i in range(n_keys)],
                        "day_num": last.astype(np.int64)})
    # add earlier-day repeat visits that must not affect last-seen
    rep = pdf.sample(frac=0.5, random_state=1).copy()
    rep["day_num"] = np.maximum(rep["day_num"] - 3, 0)
    both = pd.concat([pdf, rep], ignore_index=True)
    both["ts"] = pd.to_datetime("2024-01-01") + pd.to_timedelta(
        both["day_num"], unit="D")
    df = spark.createDataFrame(both[["user", "ts"]]).repartition(parts)
    first = both.groupby("user")["day_num"].min().astype(int).to_dict()
    return df, dict(zip(pdf["user"], pdf["day_num"].astype(int))), first


def test_window_activity_report_exact_regime(spark):
    from zetasketch_spark.operators.window_distinct import (
        window_activity_report,
    )

    df, last, first = _planted_events(spark)
    out = window_activity_report(df, "user", "ts", k=8192,
                                 windows=(1, 7, 30),
                                 as_of="2024-02-09").collect()  # day 39
    assert [r["window_days"] for r in out] == [1, 7, 30]
    for r in out:
        lo = 39 - r["window_days"] + 1
        assert r["active"] == sum(1 for d in last.values() if d >= lo)
        assert r["new_keys"] == sum(1 for d in first.values() if d >= lo)
        assert r["total_distinct"] == len(last)
        assert r["as_of_day"] == "2024-02-09"


def test_window_activity_partitioning_invariant(spark):
    from zetasketch_spark.operators.window_distinct import (
        window_activity_report,
    )

    df4, _, _ = _planted_events(spark, parts=4)
    df97, _, _ = _planted_events(spark, parts=97)
    a = [tuple(r) for r in window_activity_report(
        df4, "user", "ts", k=256, windows=(7, 30),
        as_of="2024-02-09").collect()]
    b = [tuple(r) for r in window_activity_report(
        df97, "user", "ts", k=256, windows=(7, 30),
        as_of="2024-02-09").collect()]
    assert a == b  # pure function of the (key, max-day) set


def test_window_activity_groups_and_default_asof(spark):
    from zetasketch_spark.operators.window_distinct import (
        window_activity_report,
    )

    pdf = pd.DataFrame({
        "user": [f"u{i}" for i in range(300)] * 2,
        "role": ["assistant" if i % 3 else "user" for i in range(300)] * 2,
        "ts": pd.to_datetime("2024-03-01")
        + pd.to_timedelta(np.r_[np.arange(300) % 10,
                                np.arange(300) % 10 + 2], unit="D"),
    })
    df = spark.createDataFrame(pdf)
    out = window_activity_report(df, "user", "ts", k=4096, windows=(3,),
                                 group_keys=["role"]).collect()
    # default as_of = max day present (2024-03-12); groups independent
    by_role = {r["role"]: r for r in out}
    assert set(by_role) == {"assistant", "user"}
    exact = pdf.assign(day=pdf.ts.dt.normalize()) \
        .groupby("user").agg(last=("day", "max"),
                             role=("role", "first"))
    cutoff = pd.Timestamp("2024-03-10")
    for role, r in by_role.items():
        true = int(((exact["last"] >= cutoff)
                    & (exact["role"] == role)).sum())
        assert r["active"] == true
        assert r["as_of_day"] == "2024-03-12"


def test_timetheta_sql_surface(spark):
    """tt_init_agg / tt_merge_agg / tt_estimate / tt_active_since through
    spark.sql: partial->merge rollup equals the exact recompute in the
    exact regime, sd column present and zero there."""
    from zetasketch_spark.functions.sketch_udfs import register_sql

    register_sql(spark)
    rng = np.random.default_rng(5)
    pdf = pd.DataFrame({
        "user": [f"u{i}" for i in rng.integers(0, 400, size=2000)],
        "role": rng.choice(["user", "assistant"], size=2000),
        "day_num": rng.integers(0, 40, size=2000).astype(np.int64),
    })
    spark.createDataFrame(pdf).createOrReplaceTempView("tt_t")
    rows = spark.sql("""
        WITH part AS (
          SELECT role, tt_init_agg(user, day_num, 4096) AS sk
          FROM tt_t GROUP BY role, pmod(hash(user), 4)
        ), m AS (
          SELECT role, tt_merge_agg(sk) AS sk FROM part GROUP BY role
        )
        SELECT role, tt_estimate(sk) AS total,
               tt_active_since(sk, 30) AS recent,
               tt_new_since(sk, 30) AS fresh,
               tt_active_sd_since(sk, 30) AS sd
        FROM m
    """).collect()
    exact = pdf.groupby(["role", "user"])["day_num"].max().reset_index()
    firsts = pdf.groupby(["role", "user"])["day_num"].min().reset_index()
    for r in rows:
        sub = exact[exact["role"] == r["role"]]
        fsub = firsts[firsts["role"] == r["role"]]
        assert r["total"] == sub["user"].nunique()
        assert r["recent"] == int((sub["day_num"] >= 30).sum())
        assert r["fresh"] == int((fsub["day_num"] >= 30).sum())
        assert r["sd"] == 0.0  # exact regime: theta never dropped


def test_streaming_window_activity_matches_batch(spark, tmp_path):
    """The live window-activity stream converges to the batch report:
    after the last micro-batch every group's state is byte-equal to a
    batch build, so active_{W}d / total_distinct match
    window_activity_report at the same as_of anchor exactly."""
    from zetasketch_spark.operators.window_distinct import (
        window_activity_report,
    )
    from zetasketch_spark.sources.transcripts import (
        write_transcripts_parquet,
    )
    from zetasketch_spark.streaming.agg import streaming_window_activity

    path = str(tmp_path / "wa_src")
    write_transcripts_parquet(path, n_turns=30_000, seed=13,
                              rows_per_file=10_000)
    schema = spark.read.parquet(path).schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(path)
              .select("role", "conv_id", "ts"))
    out = streaming_window_activity(stream, ["role"], "conv_id",
                                    ts_col="ts", k=512, windows=(1, 7))
    q = (out.writeStream.outputMode("update").format("memory")
         .queryName("wa_stream").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {r["role"]: r for r in spark.sql("""
        select * from (
          select *, row_number() over (partition by role
                                       order by rows_seen desc) rk
          from wa_stream) where rk = 1
    """).collect()}

    batch = spark.read.parquet(path)
    as_of = got[next(iter(got))]["as_of_day"]
    want = {(r["role"], r["window_days"]): r for r in
            window_activity_report(batch, "conv_id", "ts", k=512,
                                   windows=(1, 7), as_of=as_of,
                                   group_keys=["role"]).collect()}
    assert {r for r, _ in want} == set(got)
    for role, r in got.items():
        assert r["as_of_day"] == as_of  # same max day in every group
        assert r["active_1d"] == want[(role, 1)]["active"]
        assert r["active_7d"] == want[(role, 7)]["active"]
        assert r["new_1d"] == want[(role, 1)]["new_keys"]
        assert r["new_7d"] == want[(role, 7)]["new_keys"]
        assert r["total_distinct"] == want[(role, 7)]["total_distinct"]


def test_timetheta_through_sketch_table(spark, tmp_path):
    """Incremental maintenance of a live activity table: daily deltas
    fold into a per-role timetheta SketchTable via the
    ``delta_is_partials`` seam (`operators/incremental.py` —
    ``timetheta_partial`` builds the stage-1 frame from the struct<key,
    time> column the split kernel reads). The folded
    state is BYTE-equal to a one-shot build over all deltas (pure
    function of the key→max-day set), replay is a no-op, and time
    travel reads the day-1 anchor."""
    import pandas as pd

    from zetasketch_spark.operators.agg import SKETCH_COL
    from zetasketch_spark.operators.incremental import SketchTable
    from zetasketch_spark.operators.window_distinct import timetheta_partial
    from zetasketch_spark.sketches.timetheta import TimeThetaFamily

    fam = TimeThetaFamily(k=256)
    table = SketchTable(str(tmp_path / "activity"), ["role"], "user", fam)

    def delta(day_lo, day_hi, seed):
        rng = np.random.default_rng(seed)
        n = 3000
        pdf = pd.DataFrame({
            "role": rng.choice(["user", "assistant"], size=n),
            "user": [f"u{i}" for i in rng.integers(0, 900, size=n)],
            "day": rng.integers(day_lo, day_hi, size=n).astype(np.int64),
        })
        return pdf

    d1, d2 = delta(0, 10, 1), delta(8, 20, 2)
    for i, pdf in enumerate((d1, d2), 1):
        partials = timetheta_partial(
            spark.createDataFrame(pdf).repartition(4),
            ["role"], "user", "day", fam)
        m = table.update(spark, partials, fingerprint=f"delta{i}",
                         delta_is_partials=True)
        assert m["applied"] and m["version"] == i
    # idempotent replay
    assert table.update(spark, partials, fingerprint="delta2",
                        delta_is_partials=True)["applied"] is False

    both = pd.concat([d1, d2], ignore_index=True)
    snap = {r["role"]: fam.deserialize(bytes(r[SKETCH_COL]))
            for r in table.read(spark).collect()}
    for role, sk in snap.items():
        direct = fam.make()
        sub = both[both["role"] == role]
        fam.update_pair(direct, sub["user"], sub["day"])
        assert sk.serialize() == direct.serialize()
        # the folded state answers windows inside the envelope (k=256 and
        # ~900 users per role => genuinely estimating)
        lastmap = sub.groupby("user")["day"].max()
        true_recent = int((lastmap >= 15).sum())
        assert abs(sk.estimate_since(15) - true_recent) \
            <= 5 * sk.estimate_sd_since(15) + 1
    # v1 time travel: states built from delta1 alone
    v1 = {r["role"]: fam.deserialize(bytes(r[SKETCH_COL]))
          for r in table.read(spark, version=1).collect()}
    for role, sk in v1.items():
        direct = fam.make()
        sub = d1[d1["role"] == role]
        fam.update_pair(direct, sub["user"], sub["day"])
        assert sk.serialize() == direct.serialize()

    # the report straight from the table (as_of = day 19 = 1970-01-20):
    # estimates inside the envelope of the exact last-/first-day maps
    from zetasketch_spark.operators.window_distinct import (
        window_activity_from_table,
    )

    rep = {(r["role"], r["window_days"]): r
           for r in window_activity_from_table(
               spark, table, as_of="1970-01-20", windows=(5, 20)).collect()}
    assert {k[1] for k in rep} == {5, 20}
    for role in ("user", "assistant"):
        sub = both[both["role"] == role]
        lastm = sub.groupby("user")["day"].max()
        firstm = sub.groupby("user")["day"].min()
        for w in (5, 20):
            lo = 19 - w + 1
            r = rep[(role, w)]
            assert abs(r["active"] - int((lastm >= lo).sum())) \
                <= 4 * r["sd"] + 2
            assert abs(r["new_keys"] - int((firstm >= lo).sum())) \
                <= 4 * r["sd_new"] + 2
            assert r["as_of_day"] == "1970-01-20"
    # time travel flows through to the report too
    rep1 = window_activity_from_table(spark, table, as_of="1970-01-10",
                                      windows=(3,), version=1).collect()
    assert len(rep1) == 2 and all(r["window_days"] == 3 for r in rep1)


def test_timetheta_partial_fabrics_state_equal(spark):
    """The one split kernel's temporal theta (a struct<key, time> column
    through ``arrow_partials`` over ``repartition(5)``, merged by
    ``sketch_merge``) is BYTE-identical per group to a driver-side
    ``update_pair`` fold, for string and nullable-bigint keys, with null
    keys, null times and multi-group batches."""
    from zetasketch_spark.operators.agg import SKETCH_COL, sketch_merge
    from zetasketch_spark.operators.window_distinct import timetheta_partial

    rng = np.random.default_rng(23)
    n = 5000
    pdf = pd.DataFrame({
        "g": rng.choice(["a", "b"], size=n),
        "user": [None if i % 97 == 0 else f"u{i % 700}" for i in range(n)],
        "uid": pd.array([None if i % 83 == 0 else i % 700
                         for i in range(n)], dtype="Int64"),
        "day": pd.array([None if i % 89 == 0 else int(d) for i, d in
                         enumerate(rng.integers(0, 50, size=n))],
                        dtype="Int64"),
    })
    df = spark.createDataFrame(pdf).repartition(5)
    fam = TimeThetaFamily(k=256)

    for key_col in ("user", "uid"):
        merged = sketch_merge(
            timetheta_partial(df, ["g"], key_col, "day", fam), ["g"], fam)
        got = {r["g"]: bytes(r[SKETCH_COL]) for r in merged.collect()}
        want = {}
        for g, sub in pdf.groupby("g"):
            st = fam.make()
            fam.update_pair(st, sub[key_col], sub["day"])
            want[g] = fam.serialize(st)
        assert set(got) == {"a", "b"} and got == want, key_col


def test_activity_age_report_exact_regime(spark):
    """Age-distribution report: recency (last_seen) and cohort
    (first_seen) bands match brute-force maps exactly under k, and each
    column partitions the total."""
    from zetasketch_spark.operators.window_distinct import (
        activity_age_report,
    )

    df, last, first = _planted_events(spark)  # days 0..39
    out = {r["bucket"]: r for r in activity_age_report(
        df, "user", "ts", k=8192, edges=(1, 7, 30),
        as_of="2024-02-09").collect()}  # as_of = day 39
    assert list(out) == ["<=1d", "2-7d", "8-30d", ">30d"]

    def band_count(m, lo_age, hi_age):  # ages in days, 1 = the as_of day
        lo_day = 39 - hi_age + 1
        hi_day = 39 - lo_age + 1
        return sum(1 for d in m.values() if lo_day <= d <= hi_day)

    spans = {"<=1d": (1, 1), "2-7d": (2, 7), "8-30d": (8, 30),
             ">30d": (31, 40)}
    for bucket, (lo, hi) in spans.items():
        assert out[bucket]["last_seen"] == band_count(last, lo, hi), bucket
        assert out[bucket]["first_seen"] == band_count(first, lo, hi), bucket
        assert out[bucket]["as_of_day"] == "2024-02-09"
    assert sum(r["last_seen"] for r in out.values()) == len(last)
    assert sum(r["first_seen"] for r in out.values()) == len(first)
    with pytest.raises(ValueError, match="edges must be"):
        activity_age_report(df, "user", "ts", edges=(0, 7)).collect()


def test_streaming_window_activity_restart_recovers_state(spark, tmp_path):
    """Kill the stream mid-way and restart from the checkpoint: the
    temporal-theta state AND the exact max-day scalar (the window
    anchor, stored beside the blob) must restore — the drained stream's
    final rows equal the batch report at the data's max day."""
    import time as _time

    from zetasketch_spark.operators.window_distinct import (
        window_activity_report,
    )
    from zetasketch_spark.sources.transcripts import (
        write_transcripts_parquet,
    )
    from zetasketch_spark.streaming.agg import streaming_window_activity

    src, ckpt = str(tmp_path / "wsrc"), str(tmp_path / "wckpt")
    sink = str(tmp_path / "wsink")
    write_transcripts_parquet(src, n_turns=30_000, seed=31,
                              rows_per_file=10_000)
    schema = spark.read.parquet(src).schema

    def write_batch(bdf, batch_id):
        bdf.write.mode("append").parquet(sink)

    def start(available_now=False):
        stream = (spark.readStream.schema(schema)
                  .option("maxFilesPerTrigger", 1).parquet(src)
                  .select("role", "conv_id", "ts"))
        out = streaming_window_activity(stream, ["role"], "conv_id",
                                        ts_col="ts", k=512, windows=(7,))
        w = (out.writeStream.outputMode("update").foreachBatch(write_batch)
             .option("checkpointLocation", ckpt))
        if available_now:
            w = w.trigger(availableNow=True)
        return w.start()

    q1 = start()
    deadline = _time.time() + 60
    while (q1.lastProgress is None or q1.lastProgress["numInputRows"] == 0):
        assert _time.time() < deadline, "stream made no progress in 60s"
        assert q1.exception() is None, q1.exception()
        q1.awaitTermination(1)
    q1.stop()
    q1.awaitTermination(30)

    q2 = start(available_now=True)
    q2.awaitTermination(120)

    emitted = spark.read.parquet(sink)
    emitted.createOrReplaceTempView("wa_restart_sink")
    got = {r["role"]: r for r in spark.sql("""
        select * from (
          select *, row_number() over (partition by role
                                       order by rows_seen desc) rk
          from wa_restart_sink) where rk = 1
    """).collect()}
    batch = spark.read.parquet(src)
    as_of = got[next(iter(got))]["as_of_day"]
    want = {r["role"]: r for r in window_activity_report(
        batch, "conv_id", "ts", k=512, windows=(7,), as_of=as_of,
        group_keys=["role"]).collect()}
    assert set(got) == set(want)
    for role, r in got.items():
        assert r["as_of_day"] == as_of
        assert r["active_7d"] == want[role]["active"]
        assert r["new_7d"] == want[role]["new_keys"]
        assert r["total_distinct"] == want[role]["total_distinct"]


def test_window_activity_empty_input(spark):
    from zetasketch_spark.operators.window_distinct import (
        window_activity_report,
    )

    df = spark.createDataFrame([], "user string, ts timestamp")
    assert window_activity_report(df, "user", "ts").collect() == []


def test_window_activity_from_table_checks_windows_without_snapshot(
        spark, tmp_path):
    """An invalid window fails before the table is read, also when the
    table has no snapshot yet (it used to return an empty frame)."""
    from zetasketch_spark.operators.incremental import SketchTable
    from zetasketch_spark.operators.window_distinct import (
        window_activity_from_table,
    )

    table = SketchTable(str(tmp_path / "empty"), ["role"], "user",
                        TimeThetaFamily(k=64))
    with pytest.raises(ValueError, match="windows must be"):
        window_activity_from_table(spark, table, as_of="1970-01-10",
                                   windows=(0,))
    assert window_activity_from_table(spark, table,
                                      as_of="1970-01-10").count() == 0


def test_window_activity_from_table_matches_report(spark, tmp_path):
    """The table answer emits the same rows as `window_activity_report`
    over the same events; a null group renders as '(null)' in both."""
    import pyspark.sql.functions as F

    from zetasketch_spark.operators.incremental import SketchTable
    from zetasketch_spark.operators.window_distinct import (
        timetheta_partial,
        window_activity_from_table,
        window_activity_report,
    )

    rng = np.random.default_rng(3)
    n = 2000
    pdf = pd.DataFrame({
        "role": rng.choice(["user", "assistant", None], size=n),
        "user": [f"u{i}" for i in rng.integers(0, 400, size=n)],
        "day": rng.integers(0, 20, size=n).astype(np.int64),
    })
    df = spark.createDataFrame(pdf).repartition(3)
    fam = TimeThetaFamily(k=128)
    table = SketchTable(str(tmp_path / "activity"), ["role"], "user", fam)
    table.update(spark, timetheta_partial(df, ["role"], "user", "day", fam),
                 fingerprint="d1", delta_is_partials=True)
    got = sorted(tuple(r) for r in window_activity_from_table(
        spark, table, as_of="1970-01-20", windows=(3, 10)).collect())
    want = sorted(tuple(r) for r in window_activity_report(
        df, "user", "day", k=128, windows=(3, 10), as_of="1970-01-20",
        group_keys=["role"], time_expr=F.col("day")).collect())
    assert got == want
    assert {r[0] for r in got} == {"user", "assistant", "(null)"}
