"""``SketchTable.read`` (operators/incremental.py): at or under
``LOCAL_FOLD_BYTES`` a snapshot is a one-partition local frame, so
building it starts no Spark job and a SQL ``GROUP BY`` over it runs one
job of one stage; above the cap it is a parquet scan whose schema comes
from the footer. Either way it gives the schema and rows
``spark.read.parquet`` gives, for Spark-written and driver-written
snapshots alike."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

import zetasketch_spark.operators.incremental as inc
from tests.test_table_local_fold import _events, _rows
from zetasketch_spark.functions.sketch_udfs import register_sql
from zetasketch_spark.operators.incremental import SketchTable, update_tables
from zetasketch_spark.sketches.base import HllFamily


def _jobs_and_stages(spark, group, fn):
    """``(fn(), jobs started, stages of those jobs)`` under a fresh job
    group, counted by the status tracker."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = tracker.getJobIdsForGroup(group)
    stages = sum(len(tracker.getJobInfo(j).stageIds) for j in jobs)
    return out, len(jobs), stages


def test_small_read_starts_no_job_and_sql_read_one_stage(spark, tmp_path):
    """Under the cap ``read()`` starts no Spark job, and the dashboard's
    SQL ``hll_count_merge … GROUP BY`` over it runs exactly one job of
    one stage: no schema-inference job, no exchange."""
    register_sql(spark)
    table = SketchTable(str(tmp_path / "users"), ["event_type", "shard"],
                        "user_id", HllFamily(precision=12))
    delta = _events(spark)
    for i in range(2):
        update_tables(spark, delta.filter(F.col("user_id") % 2 == i),
                      {"users": table}, fingerprint=f"d{i}")

    snap, jobs, _ = _jobs_and_stages(spark, "read", lambda: table.read(spark))
    assert jobs == 0
    snap.createOrReplaceTempView("users_snapshot")
    rows, jobs, stages = _jobs_and_stages(spark, "sql", lambda: spark.sql(
        "SELECT event_type, hll_count_merge(sketch) AS users "
        "FROM users_snapshot GROUP BY event_type").collect())
    assert (jobs, stages) == (1, 1)
    want = {r["event_type"]: r["estimate"] for r in
            table.rollup(spark, ["event_type"]).collect()}
    assert {r["event_type"]: r["users"] for r in rows} == want


@pytest.mark.parametrize("ts_type", ["INT96", "TIMESTAMP_MICROS"])
def test_read_equals_parquet_read_all_key_types(spark, tmp_path, monkeypatch,
                                                ts_type):
    """Keys of every common type, nulls included, timestamps staged as
    INT96 or TIMESTAMP_MICROS: for a Spark-written (cap 0) and a
    driver-written snapshot, ``read()`` under the cap (local frame) and
    above it (footer-schema scan) gives the schema and rows of
    ``spark.read.parquet`` over the snapshot directory — under a session
    time zone that is not UTC, so a lost instant would show."""
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
    cap = inc.LOCAL_FOLD_BYTES
    try:
        reads = {}
        for writer, write_cap in [("spark", 0), ("driver", cap)]:
            monkeypatch.setattr(inc, "LOCAL_FOLD_BYTES", write_cap)
            t = SketchTable(str(tmp_path / writer), keys, "user_id",
                            HllFamily(precision=10))
            for i in range(2):
                t.update(spark, delta.filter(F.col("user_id") % 2 == i),
                         fingerprint=f"d{i}")
            want = _rows(spark.read.parquet(t._vpath(t.latest_version())))
            for read_cap in (0, cap):
                monkeypatch.setattr(inc, "LOCAL_FOLD_BYTES", read_cap)
                got = _rows(t.read(spark))
                assert got == want, (writer, read_cap)
                assert _rows(t.read(spark, version=1)) == _rows(
                    spark.read.parquet(t._vpath(1))), (writer, read_cap)
            reads[writer] = want
        assert reads["driver"] == reads["spark"]
        schema, rows = reads["driver"]
        assert [f.dataType.simpleString() for f in schema.fields][:8] == [
            "string", "int", "bigint", "double", "boolean", "date",
            "timestamp", "timestamp_ntz"]
        assert all(f.nullable for f in schema.fields)
        assert any(r[0] is None for r in rows) and any(r[6] is None
                                                       for r in rows)
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)
        spark.conf.set("spark.sql.parquet.outputTimestampType", old_ts)


def test_footer_schema_equals_inferred_schema(spark, tmp_path, monkeypatch):
    """The schema the above-cap scans take from the footer is the one
    ``spark.read.parquet`` infers, for both writers, and that scan starts
    no job of its own."""
    delta = _events(spark).withColumn("one", F.lit(1))
    for writer, cap in [("spark", 0), ("driver", inc.LOCAL_FOLD_BYTES)]:
        monkeypatch.setattr(inc, "LOCAL_FOLD_BYTES", cap)
        t = SketchTable(str(tmp_path / writer), ["event_type", "one"],
                        "user_id", HllFamily(precision=10))
        t.update(spark, delta, fingerprint="d0")
        path = t._vpath(t.latest_version())
        scan, jobs, _ = _jobs_and_stages(
            spark, f"scan-{writer}", lambda: inc._read_parquet(spark, path))
        assert jobs == 0
        assert scan.schema == spark.read.parquet(path).schema, writer
