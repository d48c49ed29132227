"""Fast execution fabrics (pyarrow in-worker scan, RDD reduceByKey merge)
must be byte/value-identical to the DataFrame pipeline."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest


def test_fastscan_states_equal_dataframe_path(spark, transcripts_path):
    """The split-list fabric's merged states equal both DataFrame
    adapters': the leaf-scan (a plain parquet read) and mapInArrow (a
    frame that is not a plain projection)."""
    from zetasketch_spark.operators.agg import (
        SKETCH_COL, _plain_parquet_files, sketch_merge, sketch_partial)
    from zetasketch_spark.operators.fastscan import sketch_agg_rdd
    from zetasketch_spark.sketches.base import HllFamily

    fam = HllFamily(precision=13)
    fast = {r["role"]: bytes(r[SKETCH_COL]) for r in sketch_agg_rdd(
        spark, transcripts_path, ["role"], "conv_id", fam,
        keep_sketch=True).collect()}
    plain = spark.read.parquet(transcripts_path)
    shuffled = plain.repartition(3)
    assert _plain_parquet_files(plain, ["role", "conv_id"])
    assert _plain_parquet_files(shuffled, ["role", "conv_id"]) is None
    for df in (plain, shuffled):
        pipe = {r["role"]: bytes(r[SKETCH_COL]) for r in sketch_merge(
            sketch_partial(df, ["role"], "conv_id", fam), ["role"],
            fam).collect()}
        assert fast == pipe


def test_rdd_fabric_matches_dataframe_estimates(spark, transcripts_path):
    from zetasketch_spark.operators.agg import hll_count_distinct
    from zetasketch_spark.operators.fastscan import sketch_agg_rdd
    from zetasketch_spark.sketches.base import HllFamily
    from zetasketch_spark.sources.tables import with_day
    from zetasketch_spark.sources.transcripts import load_transcripts

    fam = HllFamily(precision=13)
    rdd_res = {(r["role"], str(r["day"])): (r["estimate"], r["rows_seen"])
               for r in sketch_agg_rdd(
                   spark, transcripts_path, ["role", "day"], "conv_id", fam,
                   derived_keys={"day": ("to_date", "ts")}).collect()}
    df = with_day(load_transcripts(spark, transcripts_path))
    df_res = {(r["role"], str(r["day"])): (r["approx_distinct"], r["rows_seen"])
              for r in hll_count_distinct(df, ["role", "day"], "conv_id",
                                          precision=13).collect()}
    assert rdd_res == df_res


def test_fastscan_derived_day_key(spark, transcripts_path):
    from zetasketch_spark.operators.fastscan import sketch_agg_rdd
    from zetasketch_spark.sketches.base import HllFamily
    from zetasketch_spark.sources.transcripts import load_transcripts

    fam = HllFamily(precision=12)
    out = sketch_agg_rdd(spark, transcripts_path, ["role"], "conv_id", fam)
    rows = {r["role"]: r["rows_seen"] for r in out.collect()}
    df = load_transcripts(spark, transcripts_path)
    counts = dict(df.groupBy("role").count().collect())
    assert rows == counts


def test_fastscan_partitioned_layout_and_pruning(spark, transcripts_path, tmp_path):
    """The RDD fabric reads Hive/Iceberg day-partitioned layouts natively:
    partition columns come from the path, and partition_filter prunes
    whole files at planning time (zero I/O) — results must equal the
    DataFrame path over the filtered data."""
    import pyspark.sql.functions as F

    from zetasketch_spark.operators.agg import hll_count_distinct
    from zetasketch_spark.operators.fastscan import plan_splits, sketch_agg_rdd
    from zetasketch_spark.sketches.base import HllFamily
    from zetasketch_spark.sources.tables import TableIO, with_day
    from zetasketch_spark.sources.transcripts import load_transcripts

    df = with_day(load_transcripts(spark, transcripts_path))
    io = TableIO(spark, str(tmp_path), use_iceberg=False)
    io.write(df, "t_by_day", partition_by=["day"], mode="overwrite")
    root = str(tmp_path / "t_by_day")

    days = sorted(r["day"] for r in df.select("day").distinct().collect())
    pick = str(days[len(days) // 2])

    # planning-time pruning drops other days' files entirely
    all_splits = plan_splits(root)
    pruned = plan_splits(root, partition_filter={"day": pick})
    assert 0 < len(pruned) < len(all_splits)
    assert all(f"day={pick}" in f for f, _ in pruned)

    out = sketch_agg_rdd(spark, root, ["role", "day"], "conv_id",
                         HllFamily(precision=13),
                         partition_filter={"day": pick})
    got = {(r["role"], r["day"]): (r["estimate"], r["rows_seen"])
           for r in out.collect()}
    ref = hll_count_distinct(df.filter(F.col("day") == pick), ["role"],
                             "conv_id", precision=13)
    want = {(r["role"], pick): (r["approx_distinct"], r["rows_seen"])
            for r in ref.collect()}
    assert got == want


def test_partition_filter_typo_raises(spark, transcripts_path, tmp_path):
    """A partition_filter key that is not a partition column must raise —
    a silent no-op would aggregate everything while claiming pruning."""
    import pytest

    from zetasketch_spark.operators.fastscan import plan_splits

    with pytest.raises(ValueError, match="not partition columns"):
        plan_splits(transcripts_path, partition_filter={"day": "2024-01-01"})


def test_rdd_fabric_family_generic_theta_and_countmin(spark, transcripts_path):
    """The RDD fast fabric is family-generic: theta states (via the Arrow
    string fast path) and Count-Min heavy-hitter results over the fabric
    match the DataFrame sketch pipeline exactly."""
    import pandas as pd

    from zetasketch_spark.operators.agg import sketch_agg
    from zetasketch_spark.operators.fastscan import sketch_agg_rdd
    from zetasketch_spark.sketches.countmin import CountMinFamily
    from zetasketch_spark.sketches.theta import ThetaFamily
    from zetasketch_spark.sources.transcripts import load_transcripts

    df = load_transcripts(spark, transcripts_path)

    theta = ThetaFamily(k=512)
    rdd_t = {r["role"]: r["estimate"] for r in
             sketch_agg_rdd(spark, transcripts_path, ["role"], "conv_id",
                            theta).collect()}
    df_t = {r["role"]: r["estimate"] for r in
            sketch_agg(df, ["role"], "conv_id", theta).collect()}
    assert rdd_t == df_t and len(rdd_t) == 3

    cm = CountMinFamily(width=1024, depth=5, max_candidates=64)
    rdd_c = {r["role"]: tuple(r[n] for n, _ in cm.result_fields) for r in
             sketch_agg_rdd(spark, transcripts_path, ["role"], "tool",
                            cm).collect()}
    df_c = {r["role"]: tuple(r[n] for n, _ in cm.result_fields) for r in
            sketch_agg(df, ["role"], "tool", cm).collect()}
    assert rdd_c == df_c


def test_rdd_fabric_derived_value_kll(spark, transcripts_path):
    """KLL over a derived value (("length", "text")) on the RDD fast
    fabric: exact n per group, quantile estimates within the k=200 rank
    envelope of the true ranks, and the derived value itself must match
    Spark's length() semantics exactly (same min/max)."""
    import numpy as np

    from zetasketch_spark.operators.fastscan import sketch_agg_rdd
    from zetasketch_spark.sketches.kll import KllFamily
    from zetasketch_spark.sources.transcripts import load_transcripts

    fam = KllFamily(k=200, quantiles=(0.5, 0.9))
    out = {r["role"]: r for r in
           sketch_agg_rdd(spark, transcripts_path, ["role"],
                          ("length", "text"), fam).collect()}

    df = load_transcripts(spark, transcripts_path)
    pdf = df.select("role",
                    F.length("text").cast("double").alias("v")).toPandas()
    assert set(out) == set(pdf["role"].unique())
    for role, g in pdf.groupby("role"):
        vals = np.sort(g["v"].to_numpy())
        n = len(vals)
        assert out[role]["n"] == n
        for qname, q in (("q50", 0.5), ("q90", 0.9)):
            est = out[role][qname]
            # rank of the estimate among the true values
            lo = np.searchsorted(vals, est, side="left") / n
            hi = np.searchsorted(vals, est, side="right") / n
            assert lo - 0.03 <= q <= hi + 0.03, (role, qname, est, lo, hi)


def test_fastscan_ddsketch_derived_value_byte_equal(spark, transcripts_path):
    """DDSketch over the RDD fabric with a derived value: bucket counts
    are pure addition, so the fabric's per-group state must be
    BYTE-identical to a direct single-pass build over the same values —
    a stronger cross-fabric contract than KLL's rank envelope — and each
    quantile must sit within alpha of the exact order statistic."""
    import numpy as np

    from zetasketch_spark.operators.fastscan import sketch_agg_rdd
    from zetasketch_spark.sketches.ddsketch import DDSketchFamily
    from zetasketch_spark.sources.transcripts import load_transcripts

    fam = DDSketchFamily(alpha=0.01, quantiles=(0.5, 0.99))
    out = {r["role"]: r for r in
           sketch_agg_rdd(spark, transcripts_path, ["role"],
                          ("length", "text"), fam,
                          keep_sketch=True).collect()}

    df = load_transcripts(spark, transcripts_path)
    pdf = df.select("role",
                    F.length("text").cast("double").alias("v")).toPandas()
    assert set(out) == set(pdf["role"].unique())
    for role, g in pdf.groupby("role"):
        direct = fam.make()
        fam.update(direct, g["v"])
        assert bytes(out[role]["sketch"]) == fam.serialize(direct), role
        vals = np.sort(g["v"].to_numpy())
        n = len(vals)
        assert out[role]["n"] == n
        for qname, q in (("q50", 0.5), ("q99", 0.99)):
            exact = vals[int(q * (n - 1))]
            assert abs(out[role][qname] - exact) <= 0.01 * abs(exact) + 1e-9


def test_fastscan_derived_value_sources_pruned(transcripts_path):
    """Split planning for a derived value reads only the source column."""
    from zetasketch_spark.operators.fastscan import _value_source

    assert _value_source(("length", "text")) == "text"
    assert _value_source("conv_id") == "conv_id"


def test_rdd_fabric_derived_value_tdigest(spark, transcripts_path):
    """The derived-value path is family-generic: t-digest over
    ("length", "text") hits the same rank envelope contract as KLL."""
    import numpy as np

    from zetasketch_spark.operators.fastscan import sketch_agg_rdd
    from zetasketch_spark.sketches.tdigest import TDigestFamily
    from zetasketch_spark.sources.transcripts import load_transcripts

    fam = TDigestFamily(delta=200, quantiles=(0.5,))
    out = {r["role"]: r for r in
           sketch_agg_rdd(spark, transcripts_path, ["role"],
                          ("length", "text"), fam).collect()}
    pdf = load_transcripts(spark, transcripts_path).select(
        "role", F.length("text").cast("double").alias("v")).toPandas()
    for role, g in pdf.groupby("role"):
        vals = np.sort(g["v"].to_numpy())
        n = len(vals)
        est = out[role]["q50"]
        lo = np.searchsorted(vals, est, side="left") / n
        hi = np.searchsorted(vals, est, side="right") / n
        assert lo - 0.05 <= 0.5 <= hi + 0.05, (role, est, lo, hi)


def test_multi_sketch_agg_rdd_one_scan_equals_singles(spark, transcripts_path):
    """One-scan multi-family aggregation on the RDD fabric: every spec's
    result columns must equal the corresponding single-family
    ``sketch_agg_rdd`` run exactly (HLL register-max, Count-Min counts,
    and DDSketch bucket counts are all merge-order-independent), under a
    derived day key and a derived turn-length value."""
    from zetasketch_spark.operators.fastscan import (
        multi_sketch_agg_rdd, sketch_agg_rdd)
    from zetasketch_spark.sketches.base import HllFamily
    from zetasketch_spark.sketches.countmin import CountMinFamily
    from zetasketch_spark.sketches.ddsketch import DDSketchFamily

    hll = HllFamily(precision=13)
    cm = CountMinFamily(width=1024, depth=5, max_candidates=64)
    dd = DDSketchFamily(alpha=0.01, quantiles=(0.5, 0.99))
    keys = ["role", "day"]
    dk = {"day": ("to_date", "ts")}

    out = {(r["role"], str(r["day"])): r for r in multi_sketch_agg_rdd(
        spark, transcripts_path, keys,
        {"convs": ("conv_id", hll),
         "tools": ("tool", cm),
         "lens": (("length", "text"), dd)},
        derived_keys=dk).collect()}
    assert len(out) > 3

    singles = {}
    for name, col, fam in [("convs", "conv_id", hll),
                           ("tools", "tool", cm),
                           ("lens", ("length", "text"), dd)]:
        singles[name] = {(r["role"], str(r["day"])): r for r in
                         sketch_agg_rdd(spark, transcripts_path, keys, col,
                                        fam, derived_keys=dk).collect()}

    assert set(out) == set(singles["convs"])
    for key, row in out.items():
        assert row["rows_seen"] == singles["convs"][key]["rows_seen"]
        for name, fam in [("convs", hll), ("tools", cm), ("lens", dd)]:
            for fn, _ in fam.result_fields:
                assert row[f"{name}_{fn}"] == singles[name][key][fn], \
                    (key, name, fn)


def test_derived_length_on_dictionary_encoded_text(spark, tmp_path):
    """Parquet written from a DictionaryArray round-trips as
    dictionary<string> (the pooled 600M scaling table's layout);
    ("length", ...) must length the dictionary VALUES once and gather by
    index — pc.utf8_length has no dictionary kernel — and match the
    plain-encoded build byte-for-byte (DDSketch states are
    order-independent)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from zetasketch_spark.operators.fastscan import sketch_agg_rdd
    from zetasketch_spark.sketches.ddsketch import DDSketchFamily

    pool = ["a", "bb" * 5, "ccc" * 7, "dddd"]
    idx = [0, 1, 2, 3, 1, None, 0, 2] * 50
    roles = (["user", "assistant"] * 200)
    dict_arr = pa.DictionaryArray.from_arrays(
        pa.array(idx, type=pa.int32()), pa.array(pool))
    plain_arr = pa.array([None if i is None else pool[i] for i in idx])

    d_dict, d_plain = tmp_path / "dict", tmp_path / "plain"
    for d, arr in ((d_dict, dict_arr), (d_plain, plain_arr)):
        d.mkdir()
        pq.write_table(pa.table({"role": pa.array(roles), "text": arr}),
                       str(d / "part-0.parquet"))
    assert pq.read_schema(str(d_dict / "part-0.parquet")).field(
        "text").type == pa.dictionary(pa.int32(), pa.string())

    fam = DDSketchFamily(alpha=0.01, quantiles=(0.5, 0.99))
    got = {}
    for label, d in (("dict", d_dict), ("plain", d_plain)):
        got[label] = {r["role"]: bytes(r["sketch"]) for r in sketch_agg_rdd(
            spark, str(d), ["role"], ("length", "text"), fam,
            keep_sketch=True).collect()}
    assert got["dict"] == got["plain"]
    assert set(got["dict"]) == {"user", "assistant"}


def test_multi_sketch_agg_rdd_countsketch_spec(spark, transcripts_path):
    """CountSketch rides the one-scan multi fabric through the generic
    prepare_arrow fallback: its F2 result per group equals the direct
    pandas build exactly (signed counters are merge-order-independent
    AND byte-deterministic), alongside an HLL spec in the same scan."""
    import pandas as pd

    from zetasketch_spark.operators.fastscan import multi_sketch_agg_rdd
    from zetasketch_spark.sketches.base import HllFamily
    from zetasketch_spark.sketches.countsketch import CountSketchFamily

    cs = CountSketchFamily(width=1024, depth=5)
    out = {r["role"]: r for r in multi_sketch_agg_rdd(
        spark, transcripts_path, ["role"],
        {"convs": ("conv_id", HllFamily(precision=13)),
         "toolsq": ("tool", cs)}).collect()}
    assert len(out) >= 2

    pdf = spark.read.parquet(transcripts_path).select("role", "tool") \
        .toPandas()
    for role, grp in pdf.groupby("role"):
        direct = cs.make()
        cs.update(direct, grp["tool"])
        want_f2, want_n = cs.result(direct)
        assert out[role]["toolsq_f2_est"] == want_f2, role
        assert out[role]["toolsq_n"] == want_n, role


@pytest.mark.parametrize("name", ["countmin", "countsketch"])
def test_generic_prepare_path_states_equal_pandas_fold(spark, tmp_path, name):
    """Families without a vectorized Arrow kernel go through the default
    ``prepare_arrow`` (one pandas Series per batch, sliced per group).
    Their merged bytes on both DataFrame adapters (leaf-scan and
    mapInArrow) must equal (a) a driver-side ``family.update`` fold over
    pandas Series and (b) ``sketch_agg_rdd(keep_sketch=True)``, for a
    string, a nullable bigint and a date value column. The mapInArrow
    frame is a filter, not a shuffle, so rows keep their order.

    Neither family's bytes depend on batching (Count-Min serializes its
    candidates in key order and never prunes here), so both are compared
    over six row groups, i.e. six splits merged by the fold."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from zetasketch_spark.operators.agg import (
        SKETCH_COL, sketch_merge, sketch_partial)
    from zetasketch_spark.operators.fastscan import sketch_agg_rdd
    from zetasketch_spark.sketches.countmin import CountMinFamily
    from zetasketch_spark.sketches.countsketch import CountSketchFamily

    fam = {"countmin": CountMinFamily(width=256, depth=4),
           "countsketch": CountSketchFamily(width=256, depth=4)}[name]
    n = 3000
    tbl = pa.table({
        "g": [f"g{i % 3}" for i in range(n)],
        "s": [f"s{i % 37}" for i in range(n)],
        "b": pa.array([None if i % 11 == 0 else i % 53 for i in range(n)],
                      pa.int64()),
        "d": pa.array([dt.date(2024, 1, 1) + dt.timedelta(days=i % 29)
                       for i in range(n)], pa.date32()),
    })
    path = tmp_path / "t"
    path.mkdir()
    pq.write_table(tbl, str(path / "part-0.parquet"), row_group_size=500)
    pdf = tbl.to_pandas()
    plain = spark.read.parquet(str(path))
    for col in ("s", "b", "d"):
        ref = {}
        for g, grp in pdf.groupby("g"):
            st = fam.make()
            fam.update(st, grp[col].reset_index(drop=True))
            ref[g] = fam.serialize(st)
        rdd = {r["g"]: bytes(r[SKETCH_COL]) for r in sketch_agg_rdd(
            spark, str(path), ["g"], col, fam, keep_sketch=True).collect()}
        assert rdd == ref, col
        for df in (plain, plain.filter(F.col("g").isNotNull())):
            got = {r["g"]: bytes(r[SKETCH_COL]) for r in sketch_merge(
                sketch_partial(df, ["g"], col, fam), ["g"], fam).collect()}
            assert got == ref, col


@pytest.mark.parametrize("ts_type", ["INT96", "TIMESTAMP_MICROS"])
def test_timestamp_group_keys_keep_utc_instant(spark, tmp_path, ts_type):
    """Spark writes timestamps as INT96 by default, which pyarrow decodes
    as ``timestamp[ns]`` (pandas ``Timestamp`` keys), or as
    ``timestamp[us, tz=UTC]``. The split-list fold and the leaf-scan
    partials must hand Spark the same UTC instants, as timestamps, that
    its own ``groupBy`` sees, under a session time zone that is not
    UTC."""
    from zetasketch_spark.operators.agg import (
        SKETCH_COL, sketch_agg, sketch_merge, sketch_partial)
    from zetasketch_spark.operators.fastscan import sketch_agg_rdd
    from zetasketch_spark.sketches.base import HllFamily

    path = str(tmp_path / "t")
    conf = spark.conf
    old_tz = conf.get("spark.sql.session.timeZone")
    old_ts = conf.get("spark.sql.parquet.outputTimestampType")
    conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    conf.set("spark.sql.parquet.outputTimestampType", ts_type)
    try:
        spark.sql("""
            SELECT TIMESTAMP '2024-03-10 01:30:00' AS ts, 'a' AS v
            UNION ALL
            SELECT TIMESTAMP '2024-03-10 03:30:00.123456', 'b'
        """).coalesce(1).write.parquet(path)
        df = spark.read.parquet(path)
        want = {r["ts"]: r["count"] for r in df.groupBy("ts").count().collect()}
        fam = HllFamily(12)
        got = {
            "sketch_agg": sketch_agg(df, ["ts"], "v", fam).collect(),
            "sketch_agg_rdd": sketch_agg_rdd(spark, path, ["ts"], "v",
                                             fam).collect(),
            "sketch_partial": sketch_merge(sketch_partial(df, ["ts"], "v", fam),
                                           ["ts"], fam).collect(),
        }
    finally:
        conf.set("spark.sql.session.timeZone", old_tz)
        conf.set("spark.sql.parquet.outputTimestampType", old_ts)
    assert len(want) == 2
    for name, rows in got.items():
        assert {r["ts"] for r in rows} == set(want), name
    assert all(r["rows_seen"] == want[r["ts"]] for r in got["sketch_agg"])
    assert all(r[SKETCH_COL] for r in got["sketch_partial"])
