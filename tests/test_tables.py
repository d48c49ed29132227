"""TableIO seam: parquet fallback read/write with day-partitioning (the
Iceberg stand-in; `iceberg_available` is False in this offline sandbox)."""

from __future__ import annotations

import pyspark.sql.functions as F


def test_tableio_roundtrip_partitioned(spark, transcripts_path, tmp_path):
    from zetasketch_spark.sources.tables import TableIO, iceberg_available, with_day
    from zetasketch_spark.sources.transcripts import load_transcripts

    assert iceberg_available(spark) is False  # offline sandbox
    io = TableIO(spark, str(tmp_path), use_iceberg=False)
    df = with_day(load_transcripts(spark, transcripts_path))
    io.write(df, "transcripts", partition_by=["day"], mode="overwrite")
    back = io.read("transcripts")
    assert back.count() == df.count()
    # partition pruning: a day filter reads only that partition's files
    one_day = back.select("day").distinct().limit(1).collect()[0]["day"]
    pruned = back.filter(F.col("day") == F.lit(one_day))
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "day" in plan.split("PartitionFilters")[1][:200]


def test_tableio_roundtrip_any_name(spark, transcripts_path, tmp_path):
    """Regression: write-then-read must work for every table name, not
    just the previously special-cased 'transcripts'."""
    import pyspark.sql.functions as F

    from zetasketch_spark.sources.tables import TableIO
    from zetasketch_spark.sources.transcripts import load_transcripts

    io = TableIO(spark, str(tmp_path), use_iceberg=False)
    df = load_transcripts(spark, transcripts_path).limit(100)
    io.write(df, "events_copy", mode="overwrite")
    back = io.read("events_copy")
    assert back.count() == 100


def test_transcripts_multipart_key_uniqueness(spark, tmp_path):
    """(conv_id, turn_idx) is a key even across parts (disjoint per-part
    conversation-id ranges), and per-conversation timestamps stay
    monotone — the input_hint's stable-turn-ordering invariant."""
    import pyspark.sql.functions as F

    from zetasketch_spark.sources.transcripts import (
        load_transcripts, write_transcripts_parquet)

    path = str(tmp_path / "multipart")
    write_transcripts_parquet(path, n_turns=30_000, seed=5, rows_per_file=10_000)
    df = load_transcripts(spark, path)
    n = df.count()
    nk = df.select("conv_id", "turn_idx").distinct().count()
    assert n == 30_000 and nk == n
    bad = (
        df.groupBy("conv_id")
        .agg(F.max(F.col("turn_idx")).alias("mx"), F.count("*").alias("c"))
        .filter(F.col("mx") != F.col("c") - 1).count()
    )
    assert bad == 0, "turn_idx must be contiguous per conversation"


def test_tableio_iceberg_identifier_namespace(spark):
    """Iceberg identifiers come from an explicit namespace, never from the
    filesystem path (an absolute root would yield '.data.wh.t')."""
    import pytest

    from zetasketch_spark.sources.tables import TableIO

    io = TableIO(spark, "/data/wh", use_iceberg=True, namespace="local.db")
    assert io._identifier("turns") == "local.db.turns"
    bare = TableIO(spark, "/data/wh", use_iceberg=True)
    with pytest.raises(ValueError, match="namespace"):
        bare._identifier("turns")


def test_tableio_snapshot_fingerprint_parquet_fallback(spark, transcripts_path, tmp_path):
    """Parquet path: fingerprint tracks contents (changes on append),
    snapshot_id is None; feeds checkpoint identity through the override."""
    from zetasketch_spark.sources.tables import TableIO

    io = TableIO(spark, str(tmp_path), use_iceberg=False)
    df = spark.read.parquet(transcripts_path).limit(100)
    io.write(df, "t1", mode="overwrite")
    assert io.snapshot_id("t1") is None
    fp1 = io.input_fingerprint("t1")
    assert fp1 and "iceberg" not in fp1
    import time
    time.sleep(1.1)  # mtime granularity
    io.write(df.limit(10), "t1", mode="append")
    assert io.input_fingerprint("t1") != fp1


def test_tableio_iceberg_write_and_snapshot(spark, transcripts_path):
    """Iceberg-present path: create-on-first-append, snapshot ids advance
    per commit, fingerprint embeds the snapshot. Skipped when the runtime
    has no Iceberg jar (this sandbox)."""
    import pytest

    from zetasketch_spark.sources.tables import TableIO, iceberg_available

    if not iceberg_available(spark):
        pytest.skip("no Iceberg runtime jar")
    io = TableIO(spark, "unused", use_iceberg=True, namespace="local.db")
    df = spark.read.parquet(transcripts_path).limit(100)
    io.write(df, "snap_t", mode="overwrite")
    s1 = io.snapshot_id("snap_t")
    io.write(df.limit(10), "snap_t", mode="append")
    s2 = io.snapshot_id("snap_t")
    assert s1 is not None and s2 is not None and s1 != s2
    assert io.input_fingerprint("snap_t") == f"iceberg:local.db.snap_t:{s2}"
    assert io.read("snap_t").count() == 110


def test_tableio_snapshot_resume_contract(spark, tmp_path, monkeypatch):
    """The FULL Iceberg checkpoint/resume flow with a fake snapshot
    provider: resume identity follows the table snapshot, not the file
    listing. Same snapshot -> zero recompute; snapshot advance (append)
    -> new identity, full recompute over the grown table. After this,
    the only Iceberg-specific lines not executed by any test are the
    literal format('iceberg') read/write calls (they need the runtime
    jar, absent offline — see test_tableio_iceberg_write_and_snapshot's
    skip)."""
    from zetasketch_spark.operators.checkpoint import checkpointed_sketch_agg
    from zetasketch_spark.sketches.base import HllFamily
    from zetasketch_spark.sources.tables import TableIO, with_day

    store = TableIO(spark, str(tmp_path), use_iceberg=False)
    base = with_day(spark.range(0, 4000).selectExpr(
        "cast(id as string) AS conv_id",
        "concat('role', id % 3) AS role",
        "timestamp'2024-01-01 00:00:00' + make_interval(0, 0, 0, 0, 0, 0, id) AS ts"))
    store.write(base, "transcripts", partition_by=["day"], mode="overwrite")

    # the fake snapshot provider: identity comes from the (stubbed)
    # snapshot id exactly as an Iceberg caller would wire it
    snap = {"id": 100}
    ice = TableIO(spark, str(tmp_path), use_iceberg=True, namespace="local.db")
    monkeypatch.setattr(TableIO, "snapshot_id",
                        lambda self, name: snap["id"])
    fp1 = ice.input_fingerprint("transcripts")
    assert fp1 == "iceberg:local.db.transcripts:100"

    fam = HllFamily(precision=12)
    ckpt = str(tmp_path / "ckpt")
    loaded = store.read("transcripts")
    res1, m1 = checkpointed_sketch_agg(
        spark, loaded, ["role"], "conv_id", fam, ckpt,
        [str(tmp_path / "transcripts")], job="ice",
        input_fingerprint_override=fp1)
    r1 = {r["role"]: r["estimate"] for r in res1.collect()}
    assert m1["partitions_computed"] > 0

    # unchanged snapshot -> pure resume, identical answer
    res2, m2 = checkpointed_sketch_agg(
        spark, loaded, ["role"], "conv_id", fam, ckpt,
        [str(tmp_path / "transcripts")], job="ice",
        input_fingerprint_override=ice.input_fingerprint("transcripts"))
    assert m2["partitions_computed"] == 0
    assert m2["partitions_resumed"] == m1["n_partitions"]
    assert {r["role"]: r["estimate"] for r in res2.collect()} == r1

    # append advances the snapshot -> new resume identity -> recompute
    more = with_day(spark.range(4000, 8000).selectExpr(
        "cast(id as string) AS conv_id",
        "concat('role', id % 3) AS role",
        "timestamp'2024-01-01 00:00:00' + make_interval(0, 0, 0, 0, 0, 0, id) AS ts"))
    store.write(more, "transcripts", partition_by=["day"], mode="append")
    snap["id"] = 101
    fp2 = ice.input_fingerprint("transcripts")
    assert fp2 != fp1
    res3, m3 = checkpointed_sketch_agg(
        spark, store.read("transcripts"), ["role"], "conv_id", fam, ckpt,
        [str(tmp_path / "transcripts")], job="ice",
        input_fingerprint_override=fp2)
    r3 = {r["role"]: r["estimate"] for r in res3.collect()}
    assert m3["partitions_computed"] > 0
    assert all(r3[k] > r1[k] for k in r1)  # twice the convs per role


def _die_in_worker(args):
    import os

    os._exit(1)


def test_transcript_writer_dead_worker_raises(tmp_path, monkeypatch):
    """A part writer that dies (as under the OOM killer) fails the
    multi-part build with BrokenProcessPool instead of hanging it; the
    two-job build starts at most two processes."""
    from concurrent.futures.process import BrokenProcessPool

    import pytest

    from zetasketch_spark.sources import transcripts

    monkeypatch.setattr(transcripts, "_write_one_part", _die_in_worker)
    out = tmp_path / "t"
    with pytest.raises(BrokenProcessPool):
        transcripts.write_transcripts_parquet(str(out), n_turns=20,
                                              n_convs=4, rows_per_file=10)
    assert not (out / "_MANIFEST").exists()
