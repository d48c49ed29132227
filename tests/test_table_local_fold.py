"""The small-SketchTable path (operators/incremental.py): at or under
``LOCAL_FOLD_BYTES`` a fold and every read run on the driver with pyarrow.
They must give the same snapshot bytes, schemas and rows as the
distributed path (forced here by a cap of 0), start the Spark jobs the
size rule promises, and keep the crash contract with the staged
partials in place."""

from __future__ import annotations

import datetime as dt
import glob
import os

import numpy as np
import pyspark.sql.functions as F
import pytest

import zetasketch_spark.operators.incremental as inc
from zetasketch_spark.operators.agg import SKETCH_COL, sketch_agg
from zetasketch_spark.operators.incremental import SketchTable, update_tables
from zetasketch_spark.sketches.base import HllFamily
from zetasketch_spark.sketches.countmin import CountMinFamily
from zetasketch_spark.sketches.ddsketch import DDSketchFamily
from zetasketch_spark.sketches.kll import KllFamily
from zetasketch_spark.sketches.theta import ThetaFamily

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def _events(spark):
    return (spark.read.parquet(os.path.join(SF_DIR, "events.parquet"))
            .withColumn("shard", (F.col("user_id") % 4).cast("int")))


def _rows(df):
    """``(schema, rows sorted by their repr)`` with binaries as bytes."""
    rows = [tuple(bytes(v) if isinstance(v, (bytes, bytearray)) else v
                  for v in r) for r in df.collect()]
    return df.schema, sorted(rows, key=repr)


def _fold_twice(spark, tdir, keys, col, fam, delta, cap, monkeypatch):
    """Two deliveries — so the second fold reads a prior snapshot — under
    the given cap; the cap stays set for the caller's reads."""
    monkeypatch.setattr(inc, "LOCAL_FOLD_BYTES", cap)
    table = SketchTable(tdir, keys, col, fam)
    for i in range(2):
        m = table.update(spark, delta.filter(F.col("user_id") % 2 == i),
                         fingerprint=f"d{i}")
        assert m["applied"] and m["n_keys"] > 0
    return table


@pytest.mark.parametrize("fam", [
    HllFamily(precision=12),
    CountMinFamily(width=256, depth=4),
    DDSketchFamily(alpha=0.02, quantiles=(0.5, 0.9)),
    ThetaFamily(k=256),
], ids=["hll", "countmin", "ddsketch", "theta"])
def test_driver_and_spark_paths_are_byte_equal(spark, tmp_path, monkeypatch,
                                               fam):
    """Snapshots, ``results`` and ``rollup(keep_sketch=True)`` (plain and
    ``where=``) from the driver path equal the distributed path's: same
    schema, same rows, same state bytes."""
    col = "value" if isinstance(fam, DDSketchFamily) else "user_id"
    keys = ["event_type", "shard"]
    delta = _events(spark)
    reads = {}
    for label, cap in [("spark", 0), ("driver", inc.LOCAL_FOLD_BYTES)]:
        t = _fold_twice(spark, str(tmp_path / label), keys, col, fam, delta,
                        cap, monkeypatch)
        reads[label] = [
            _rows(t.read(spark)),
            _rows(t.results(spark)),
            _rows(t.results(spark, keep_sketch=True, version=1)),
            _rows(t.rollup(spark, ["event_type"], keep_sketch=True)),
            _rows(t.rollup(spark, [], keep_sketch=True)),
            _rows(t.rollup(spark, ["shard"], keep_sketch=True,
                           where=F.col("event_type") != "error")),
        ]
    assert reads["driver"] == reads["spark"]
    assert all(rows for _, rows in reads["driver"])


def test_kll_driver_fold_keeps_rows_and_rank_error(spark, tmp_path,
                                                   monkeypatch):
    """KLL states depend on merge order, so the two paths are compared on
    what the sketch promises: exact ``rows_seen`` / ``n`` and quantiles
    inside the rank-error envelope of the exact values."""
    fam = KllFamily(k=200, quantiles=(0.5, 0.9))
    delta = _events(spark)
    exact = {}
    for r in delta.groupBy("event_type").agg(
            F.sort_array(F.collect_list("value")).alias("v")).collect():
        exact[r["event_type"]] = np.asarray(r["v"])
    got = {}
    for label, cap in [("spark", 0), ("driver", inc.LOCAL_FOLD_BYTES)]:
        t = _fold_twice(spark, str(tmp_path / label), ["event_type", "shard"],
                        "value", fam, delta, cap, monkeypatch)
        got[label] = {r["event_type"]: r for r in
                      t.rollup(spark, ["event_type"]).collect()}
    assert set(got["driver"]) == set(got["spark"]) == set(exact)
    for key, vals in exact.items():
        a, b = got["driver"][key], got["spark"][key]
        assert a["rows_seen"] == b["rows_seen"] == a["n"] == len(vals)
        for q, label in [(0.5, "q50"), (0.9, "q90")]:
            for r in (a, b):
                rank = np.searchsorted(vals, r[label], side="right") / len(vals)
                assert abs(rank - q) <= 0.05, (key, label, rank)


@pytest.mark.parametrize("ts_type", ["INT96", "TIMESTAMP_MICROS"])
def test_snapshot_schema_round_trip_all_key_types(spark, tmp_path,
                                                  monkeypatch, ts_type):
    """Keys of every common type, nulls included, and timestamps staged
    as INT96 or TIMESTAMP_MICROS: a driver-written snapshot reads back
    through ``spark.read.parquet`` with the distributed path's schema and
    rows, and so do ``results`` and ``rollup`` — under a session time
    zone that is not UTC, so a lost instant would show."""
    odd = F.col("user_id") % 5 == 0
    delta = _events(spark).select(
        F.when(~odd, F.col("event_type")).alias("s"),
        F.when(~odd, (F.col("user_id") % 3).cast("int")).alias("i"),
        (F.col("user_id") % 2).alias("l"),
        F.when(~odd, (F.col("user_id") % 2) / 4.0).alias("d"),
        F.when(~odd, F.col("user_id") % 3 == 0).alias("b"),
        F.when(~odd, F.to_date(F.col("ts"))).alias("day"),
        F.when(~odd, F.date_trunc("day", F.col("ts").cast("timestamp"))
               ).alias("ts"),
        F.date_trunc("day", F.col("ts")).cast("timestamp_ntz").alias("ntz"),
        "user_id")
    keys = ["s", "i", "l", "d", "b", "day", "ts", "ntz"]
    old_tz = spark.conf.get("spark.sql.session.timeZone")
    old_ts = spark.conf.get("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    spark.conf.set("spark.sql.parquet.outputTimestampType", ts_type)
    try:
        reads = {}
        for label, cap in [("spark", 0), ("driver", inc.LOCAL_FOLD_BYTES)]:
            t = _fold_twice(spark, str(tmp_path / label), keys, "user_id",
                            HllFamily(precision=10), delta, cap, monkeypatch)
            snap = spark.read.parquet(t._vpath(t.latest_version()))
            reads[label] = [
                _rows(snap),
                _rows(t.results(spark, keep_sketch=True)),
                _rows(t.rollup(spark, ["ts", "b", "ntz"])),
                _rows(t.rollup(spark, ["day", "s"], keep_sketch=True,
                               where=F.col("ts") >= F.lit(
                                   dt.datetime(2024, 1, 3)))),
            ]
        assert reads["driver"] == reads["spark"]
        schema, rows = reads["driver"][0]
        assert [f.dataType.simpleString() for f in schema.fields][:8] == [
            "string", "int", "bigint", "double", "boolean", "date",
            "timestamp", "timestamp_ntz"]
        assert any(r[0] is None for r in rows) and any(r[6] is None
                                                       for r in rows)
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)
        spark.conf.set("spark.sql.parquet.outputTimestampType", old_ts)


def test_small_table_delivery_starts_one_job_and_reads_none(spark,
                                                            tmp_path):
    """Under the cap a first ``update_tables`` delivery starts exactly one
    Spark job (the scan that stages the partials), and ``results``,
    ``rollup(where=…)`` and ``results(version=…)`` start none."""
    delta = _events(spark)
    tables = {
        "users": SketchTable(str(tmp_path / "u"), ["event_type", "shard"],
                             "user_id", HllFamily(precision=12)),
        "events": SketchTable(str(tmp_path / "e"), ["event_type", "shard"],
                              "event_id", CountMinFamily(width=256, depth=4)),
    }
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def jobs(group, fn):
        sc.setJobGroup(group, group)
        out = fn()
        return out, len(tracker.getJobIdsForGroup(group))

    try:
        for i in range(2):
            first, n = jobs(f"delivery-{i}", lambda: update_tables(
                spark, delta.filter(F.col("user_id") % 2 == i), tables,
                fingerprint=f"d{i}"))
            assert all(m["applied"] for m in first.values())
            assert n == 1
        users = tables["users"]
        for group, fn in [
            ("results", lambda: users.results(spark).collect()),
            ("counts", lambda: tables["events"].results(spark).collect()),
            ("window", lambda: users.rollup(
                spark, ["event_type"],
                where=F.col("shard") >= 2).collect()),
            ("travel", lambda: users.results(spark, version=1).collect()),
        ]:
            rows, n = jobs(group, fn)
            assert rows and n == 0, group
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # nothing staged outlives a committed fold
    assert not glob.glob(str(tmp_path / "*" / "v*" / "_partials"))


def test_crash_after_staging(spark, tmp_path):
    """A writer that dies after staging its partials and writing its
    snapshot, before the commit: no read sees the staged states, a
    replay folds the delta once, and vacuum removes the orphan version
    directory together with its ``_partials``."""
    events = _events(spark)
    fam = HllFamily(precision=12)
    tdir = str(tmp_path / "tbl")
    table = SketchTable(tdir, ["event_type"], "user_id", fam)
    table.update(spark, events.filter(F.col("shard") < 2), fingerprint="d0")
    before = _rows(table.results(spark, keep_sketch=True))

    def boom():
        raise OSError("simulated crash before LATEST rename")

    table._before_commit = boom
    with pytest.raises(OSError, match="simulated crash"):
        table.update(spark, events.filter(F.col("shard") >= 2),
                     fingerprint="d1")
    table._before_commit = None
    assert os.path.isdir(os.path.join(tdir, "v00002", "_partials"))
    assert table.latest_version() == 1
    assert _rows(table.results(spark, keep_sketch=True)) == before
    assert _rows(table.rollup(spark, ["event_type"], keep_sketch=True)) == \
        before
    assert table.read(spark).count() == len(before[1])

    m = table.update(spark, events.filter(F.col("shard") >= 2),
                     fingerprint="d1")
    assert m["applied"] and m["version"] == 3
    assert not table.update(spark, events.filter(F.col("shard") >= 2),
                            fingerprint="d1")["applied"]
    got = {r["event_type"]: (bytes(r[SKETCH_COL]), r["rows_seen"])
           for r in table.results(spark, keep_sketch=True).collect()}
    want = {r["event_type"]: (bytes(r[SKETCH_COL]), r["rows_seen"])
            for r in sketch_agg(events, ["event_type"], "user_id", fam,
                                keep_sketch=True).collect()}
    assert got == want

    assert table.vacuum(keep_versions=1)["removed_versions"] == [1, 2]
    assert sorted(d for d in os.listdir(tdir) if d.startswith("v")) == \
        ["v00003"]
