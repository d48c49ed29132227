"""Incremental sketch-table maintenance (operators/incremental.py):
delta-by-delta updates must equal a single-shot aggregation over the full
input (merge associativity — the reference's serialized-aggregator
contract, HyperLogLogPlusPlus.java:60-96), survive crashes, and replay
deltas idempotently."""

from __future__ import annotations

import json
import os
import time

import pyspark.sql.functions as F
import pytest

from zetasketch_spark.operators.agg import SKETCH_COL, sketch_agg
from zetasketch_spark.operators.incremental import SketchTable
from zetasketch_spark.sketches.base import HllFamily
from zetasketch_spark.sketches.kll import KllFamily

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def _events(spark):
    return spark.read.parquet(os.path.join(SF_DIR, "events.parquet"))


def _by_key(df, keys, cols):
    return {tuple(r[k] for k in keys): tuple(r[c] for c in cols)
            for r in df.collect()}


def test_incremental_equals_single_shot(spark, tmp_path):
    """Three day-sliced deltas folded in sequence == one aggregation over
    the union: identical estimates AND identical serialized states."""
    events = _events(spark).withColumn("day", F.dayofmonth("ts"))
    fam = HllFamily(precision=13)
    table = SketchTable(str(tmp_path / "tbl"), ["event_type"], "user_id", fam)

    slices = [events.filter(F.col("day") % 3 == i) for i in range(3)]
    for i, sl in enumerate(slices):
        m = table.update(spark, sl, fingerprint=f"slice-{i}")
        assert m["applied"] and m["version"] == i + 1

    got = _by_key(table.results(spark, keep_sketch=True),
                  ["event_type"], ["estimate", "rows_seen", SKETCH_COL])
    want = _by_key(sketch_agg(events, ["event_type"], "user_id", fam,
                              keep_sketch=True),
                   ["event_type"], ["estimate", "rows_seen", SKETCH_COL])
    assert set(got) == set(want)
    for k in want:
        assert got[k][0] == want[k][0], f"estimate diverged for {k}"
        assert got[k][1] == want[k][1], f"rows_seen diverged for {k}"
        assert bytes(got[k][2]) == bytes(want[k][2]), \
            f"serialized state diverged for {k}"


def test_replayed_delta_is_noop(spark, tmp_path):
    events = _events(spark)
    fam = HllFamily(precision=12)
    table = SketchTable(str(tmp_path / "tbl"), ["event_type"], "user_id", fam)
    table.update(spark, events, fingerprint="day-2024-01-01")
    before = _by_key(table.results(spark), ["event_type"], ["estimate"])

    m = table.update(spark, events, fingerprint="day-2024-01-01")
    assert m["applied"] is False
    assert table.latest_version() == 1
    assert _by_key(table.results(spark), ["event_type"], ["estimate"]) == before

    # the same rows under a NEW fingerprint do apply (distinct-counting
    # sketches absorb them without changing the estimate)
    m2 = table.update(spark, events, fingerprint="day-2024-01-02")
    assert m2["applied"] and table.latest_version() == 2
    assert _by_key(table.results(spark), ["event_type"], ["estimate"]) == before


def test_crash_orphan_version_is_invisible_and_never_reused(spark, tmp_path):
    events = _events(spark)
    fam = HllFamily(precision=12)
    table = SketchTable(str(tmp_path / "tbl"), ["event_type"], "user_id", fam)
    table.update(spark, events.limit(500), fingerprint="d0")
    v1 = _by_key(table.results(spark), ["event_type"], ["estimate"])

    # simulate a writer that died after the parquet write but before the
    # LATEST commit: the orphan must be invisible and its number burned
    os.makedirs(str(tmp_path / "tbl" / "v00002"))
    assert table.latest_version() == 1
    assert _by_key(table.results(spark), ["event_type"], ["estimate"]) == v1

    m = table.update(spark, events, fingerprint="d1")
    assert m["applied"] and m["version"] == 3  # orphan v2 skipped
    assert table.latest_version() == 3


def test_empty_table_reads_none(spark, tmp_path):
    fam = HllFamily(precision=12)
    table = SketchTable(str(tmp_path / "tbl"), ["event_type"], "user_id", fam)
    assert table.read(spark) is None
    assert table.results(spark) is None
    assert table.applied_fingerprints() == set()


def test_family_generic_kll(spark, tmp_path):
    """The table is family-generic: KLL quantiles over two value-sliced
    deltas match the single-shot aggregation."""
    events = _events(spark)
    fam = KllFamily(k=200, quantiles=(0.5, 0.9))
    table = SketchTable(str(tmp_path / "tbl"), ["event_type"], "value", fam)
    table.update(spark, events.filter(F.col("user_id") % 2 == 0), fingerprint="a")
    table.update(spark, events.filter(F.col("user_id") % 2 == 1), fingerprint="b")

    res_cols = [n for n, _ in fam.result_fields]
    got = _by_key(table.results(spark), ["event_type"], res_cols)
    want = _by_key(sketch_agg(events, ["event_type"], "value", fam),
                   ["event_type"], res_cols)
    assert set(got) == set(want)
    # KLL is rank-approximate but deterministic only for a fixed insertion
    # order; across different split orders the quantiles must agree within
    # the family's rank-error envelope, checked against the exact values
    exact = {r["event_type"]: (r["p50"], r["p90"]) for r in
             events.groupBy("event_type")
             .agg(F.expr("percentile(value, 0.5)").alias("p50"),
                  F.expr("percentile(value, 0.9)").alias("p90")).collect()}
    lo = _by_key(_events(spark).groupBy("event_type").agg(
        F.min("value").alias("mn"), F.max("value").alias("mx")),
        ["event_type"], ["mn", "mx"])
    for k in want:
        spread = lo[k][1] - lo[k][0]
        for got_v, exact_v in zip(got[k], exact[k[0]]):
            assert abs(got_v - exact_v) <= 0.05 * spread + 1e-9


def test_snapshot_log_records_lineage(spark, tmp_path):
    """Each record stores only ITS delta's fingerprint plus a parent
    pointer — O(versions + fingerprints) log, not O(versions ×
    fingerprints) — and the cumulative set reconstructs via the chain."""
    events = _events(spark)
    fam = HllFamily(precision=12)
    tdir = str(tmp_path / "tbl")
    table = SketchTable(tdir, ["event_type"], "user_id", fam)
    table.update(spark, events.limit(100), fingerprint="f0")
    table.update(spark, events.limit(200), fingerprint="f1")
    with open(os.path.join(tdir, "snapshots.jsonl")) as f:
        recs = [json.loads(line) for line in f]
    assert [r["version"] for r in recs] == [1, 2]
    assert [r["parent"] for r in recs] == [0, 1]
    assert recs[0]["new_fingerprints"] == ["f0"]
    assert recs[1]["new_fingerprints"] == ["f1"]  # not cumulative
    assert all(r["n_keys"] > 0 for r in recs)
    assert table.applied_fingerprints() == {"f0", "f1"}


def test_legacy_cumulative_log_records_still_read(spark, tmp_path):
    """Pre-r5 logs stored the cumulative fingerprint set per record; the
    chain walk must still recover it."""
    fam = HllFamily(precision=12)
    tdir = str(tmp_path / "tbl")
    table = SketchTable(tdir, ["event_type"], "user_id", fam)
    os.makedirs(os.path.join(tdir, "v00001"))
    with open(os.path.join(tdir, "snapshots.jsonl"), "w") as f:
        f.write(json.dumps({"version": 1, "fingerprints": ["a", "b"],
                            "n_keys": 3, "ts": 0.0}) + "\n")
    with open(os.path.join(tdir, "LATEST"), "w") as f:
        f.write("1")
    assert table.applied_fingerprints() == {"a", "b"}


def test_crash_between_log_append_and_commit_replays_cleanly(spark, tmp_path,
                                                             monkeypatch):
    """The ADVICE round-4 high finding: a writer that dies AFTER appending
    the snapshots.jsonl record but BEFORE the LATEST rename must leave no
    trace in applied_fingerprints — after a later delta commits, a replay
    of the crashed delta must fold in (not be silently skipped)."""
    events = _events(spark)
    fam = HllFamily(precision=12)
    tdir = str(tmp_path / "tbl")
    table = SketchTable(tdir, ["event_type"], "user_id", fam)
    table.update(spark, events.filter(F.col("user_id") % 3 == 0),
                 fingerprint="d0")

    def boom():
        raise OSError("simulated crash before LATEST rename")

    table._before_commit = boom
    with pytest.raises(OSError, match="simulated crash"):
        table.update(spark, events.filter(F.col("user_id") % 3 == 1),
                     fingerprint="d1")
    table._before_commit = None
    # the orphan record exists in the log but is not on the committed chain
    assert table.latest_version() == 1
    assert table.applied_fingerprints() == {"d0"}

    # a later, different delta commits (burning the orphan's version slot)
    m2 = table.update(spark, events.filter(F.col("user_id") % 3 == 2),
                      fingerprint="d2")
    assert m2["applied"] and m2["version"] == 3
    # the crashed delta's fingerprint must STILL not read as applied …
    assert table.applied_fingerprints() == {"d0", "d2"}
    # … so its replay actually folds in, and the final table equals the
    # single-shot aggregation over all three slices
    m1 = table.update(spark, events.filter(F.col("user_id") % 3 == 1),
                      fingerprint="d1")
    assert m1["applied"]
    got = _by_key(table.results(spark, keep_sketch=True),
                  ["event_type"], ["estimate", SKETCH_COL])
    want = _by_key(sketch_agg(events, ["event_type"], "user_id", fam,
                              keep_sketch=True),
                   ["event_type"], ["estimate", SKETCH_COL])
    assert {k: (v[0], bytes(v[1])) for k, v in got.items()} == \
           {k: (v[0], bytes(v[1])) for k, v in want.items()}


def test_table_identity_guard(spark, tmp_path):
    """One table dir = one (keys, col, family) aggregation identity:
    reopening with different parameters must fail loudly instead of
    silently merging incompatible sketch states (the corruption the
    reference's type-check surface exists to prevent)."""
    tdir = str(tmp_path / "tbl")
    t1 = SketchTable(tdir, ["event_type"], "user_id", HllFamily(precision=12))
    t1.update(spark, _events(spark).limit(100), fingerprint="d0")
    # same identity reopens fine (fresh instance, fresh process pattern)
    t2 = SketchTable(tdir, ["event_type"], "user_id", HllFamily(precision=12))
    assert t2.latest_version() == 1
    for bad in [
        (["event_type"], "user_id", HllFamily(precision=14)),  # precision
        (["event_type"], "conv_id", HllFamily(precision=12)),  # value col
        (["role"], "user_id", HllFamily(precision=12)),        # keys
        (["event_type"], "user_id", KllFamily(k=200, quantiles=(0.5,))),
    ]:
        with pytest.raises(ValueError, match="identity mismatch"):
            SketchTable(tdir, *bad)


def test_vacuum_gc_and_log_compaction(spark, tmp_path):
    """vacuum() must delete superseded + orphan version dirs (below the
    committed LATEST only), roll the dropped chain prefix into one
    cumulative checkpoint record, and leave reads, estimates, and replay
    idempotence exactly as they were."""
    events = _events(spark)
    fam = HllFamily(precision=12)
    tdir = str(tmp_path / "tbl")
    table = SketchTable(tdir, ["event_type"], "user_id", fam)
    for i in range(3):
        table.update(spark, events.filter(F.col("user_id") % 3 == i),
                     fingerprint=f"d{i}")
    before = _by_key(table.results(spark, keep_sketch=True),
                     ["event_type"], ["estimate", SKETCH_COL])
    fps_before = table.applied_fingerprints()
    os.makedirs(os.path.join(tdir, "v00009"))  # in-flight writer dir

    m = table.vacuum(keep_versions=1)
    assert m["removed_versions"] == [1, 2]
    assert m["kept_versions"] == [3]
    dirs = sorted(d for d in os.listdir(tdir) if d.startswith("v"))
    assert dirs == ["v00003", "v00009"]  # in-flight dir untouched
    assert table.latest_version() == 3

    # semantics fully preserved
    assert table.applied_fingerprints() == fps_before == {"d0", "d1", "d2"}
    after = _by_key(table.results(spark, keep_sketch=True),
                    ["event_type"], ["estimate", SKETCH_COL])
    assert {k: (v[0], bytes(v[1])) for k, v in after.items()} == \
           {k: (v[0], bytes(v[1])) for k, v in before.items()}
    # replay of a compacted-away delta is still a no-op …
    assert table.update(spark, events, fingerprint="d0")["applied"] is False
    # … and the log is one cumulative checkpoint record
    with open(os.path.join(tdir, "snapshots.jsonl")) as f:
        recs = [json.loads(line) for line in f]
    assert len(recs) == 1 and recs[0]["compacted"] is True
    assert recs[0]["fingerprints"] == ["d0", "d1", "d2"]

    # new deltas keep folding on top of the compacted table
    m4 = table.update(spark, events.limit(100), fingerprint="d3")
    assert m4["applied"] and table.applied_fingerprints() == \
        {"d0", "d1", "d2", "d3"}


def test_time_travel_read_historical_versions(spark, tmp_path):
    """read(version=N) returns the snapshot as of delta N (byte-equal to
    a table that stopped folding there); orphan versions are rejected as
    never-published; vacuumed-away chain versions name the GC."""
    events = _events(spark)
    fam = HllFamily(precision=12)
    table = SketchTable(str(tmp_path / "tbl"), ["event_type"], "user_id", fam)
    twin = SketchTable(str(tmp_path / "twin"), ["event_type"], "user_id", fam)
    for i in range(3):
        table.update(spark, events.filter(F.col("user_id") % 3 == i),
                     fingerprint=f"d{i}")
        if i < 2:
            twin.update(spark, events.filter(F.col("user_id") % 3 == i),
                        fingerprint=f"d{i}")

    # v2 == the twin that stopped after two deltas, byte-for-byte
    got = _by_key(table.results(spark, keep_sketch=True, version=2),
                  ["event_type"], [SKETCH_COL])
    want = _by_key(twin.results(spark, keep_sketch=True),
                   ["event_type"], [SKETCH_COL])
    assert {k: bytes(v[0]) for k, v in got.items()} == \
           {k: bytes(v[0]) for k, v in want.items()}
    # latest unaffected by the time-travel read
    assert table.latest_version() == 3

    # an orphan version number was never published
    os.makedirs(str(tmp_path / "tbl" / "v00009"))
    with pytest.raises(ValueError, match="not a readable committed"):
        table.read(spark, version=9)
    with pytest.raises(ValueError, match="not a readable committed"):
        table.read(spark, version=4)

    # vacuum keeps only the newest snapshot: v2's history is folded into
    # the compaction checkpoint and it is no longer readable
    table.vacuum(keep_versions=1)
    with pytest.raises(ValueError, match="not a readable committed"):
        table.read(spark, version=2)
    # the compacted chain root still reads (it IS the latest)
    assert table.read(spark, version=3).count() > 0


def test_rollup_aggregate_navigation_and_history(spark, tmp_path):
    """rollup(coarser_keys) merges the snapshot's states down — byte-equal
    to a direct aggregation at the coarse grain (rollups-are-free) — and
    history() exposes the committed lineage newest-first."""
    events = _events(spark).withColumn(
        "shard", (F.col("user_id") % 4).cast("int"))
    fam = HllFamily(precision=12)
    table = SketchTable(str(tmp_path / "tbl"),
                        ["event_type", "shard"], "user_id", fam)
    table.update(spark, events.filter(F.col("user_id") % 2 == 0),
                 fingerprint="even")
    table.update(spark, events.filter(F.col("user_id") % 2 == 1),
                 fingerprint="odd")

    got = _by_key(table.rollup(spark, ["event_type"], keep_sketch=True),
                  ["event_type"], [SKETCH_COL, "estimate"])
    want = _by_key(sketch_agg(events, ["event_type"], "user_id", fam,
                              keep_sketch=True),
                   ["event_type"], [SKETCH_COL, "estimate"])
    assert {k: (bytes(v[0]), v[1]) for k, v in got.items()} == \
           {k: (bytes(v[0]), v[1]) for k, v in want.items()}

    # global rollup (no keys) and the salted variant agree
    [g] = table.rollup(spark, [], keep_sketch=True).collect()
    [g2] = table.rollup(spark, [], keep_sketch=True,
                        tree_levels=2).collect()
    assert bytes(g["sketch"]) == bytes(g2["sketch"])
    [direct] = sketch_agg(events, [], "user_id", fam,
                          keep_sketch=True).collect()
    assert bytes(g["sketch"]) == bytes(direct["sketch"])

    with pytest.raises(ValueError, match="can only DROP keys"):
        table.rollup(spark, ["event_type", "day"])

    hist = table.history()
    assert [h["version"] for h in hist] == [2, 1]
    assert [h["parent"] for h in hist] == [1, 0]
    assert hist[0]["new_fingerprints"] == ["odd"]
    assert hist[1]["new_fingerprints"] == ["even"]

    # sliding-window shape: merge only a key-predicate slice of the
    # fine-grain states — equals a direct aggregation over the same slice
    win = _by_key(table.rollup(spark, ["event_type"], keep_sketch=True,
                               where=F.col("shard") < 2),
                  ["event_type"], [SKETCH_COL])
    win_want = _by_key(
        sketch_agg(events.filter(F.col("shard") < 2),
                   ["event_type"], "user_id", fam, keep_sketch=True),
        ["event_type"], [SKETCH_COL])
    assert {k: bytes(v[0]) for k, v in win.items()} == \
           {k: bytes(v[0]) for k, v in win_want.items()}


def test_vacuum_does_not_lose_concurrent_writers_log_record(spark, tmp_path):
    """vacuum()'s log rewrite runs under the table lock: a writer whose
    update overlaps the vacuum must block at its log append and land its
    record AFTER the compacted log is in place — never inside the
    read-rewrite window, where it would be silently dropped from the
    rewritten log and its fingerprint forgotten (a replay would then
    double-fold the delta). The seam fires inside vacuum's locked
    section; the racing update runs in a thread so its flock actually
    contends."""
    import threading

    events = _events(spark)
    fam = HllFamily(precision=12)
    tdir = str(tmp_path / "tbl")
    table = SketchTable(tdir, ["event_type"], "user_id", fam)
    writer = SketchTable(tdir, ["event_type"], "user_id", fam)
    table.update(spark, events.filter(F.col("user_id") % 2 == 0),
                 fingerprint="d0")

    t = threading.Thread(
        target=lambda: writer.update(
            spark, events.filter(F.col("user_id") % 2 == 1),
            fingerprint="d1"))

    def seam():
        # start the racing writer while vacuum holds the lock; give it
        # time to reach (and block on) its log-append flock
        t.start()
        time.sleep(1.0)

    table._during_vacuum = seam
    table.vacuum(keep_versions=1)
    t.join(timeout=120)
    assert not t.is_alive()
    # both deltas' fingerprints survive: d0 via the compacted checkpoint,
    # d1 via the record appended after the rewrite
    assert table.applied_fingerprints() == {"d0", "d1"}
    assert table.update(spark, events, fingerprint="d1")["applied"] is False
    got = _by_key(table.results(spark, keep_sketch=True),
                  ["event_type"], [SKETCH_COL])
    want = _by_key(sketch_agg(events, ["event_type"], "user_id", fam,
                              keep_sketch=True),
                   ["event_type"], [SKETCH_COL])
    assert {k: bytes(v[0]) for k, v in got.items()} == \
           {k: bytes(v[0]) for k, v in want.items()}


def test_sketch_table_sink_streaming_exactly_once(spark, tmp_path):
    """foreachBatch sink: an availableNow stream folded into a SketchTable
    equals the batch aggregation, and re-delivering every batch (same
    stream_id + batch ids — the restart contract) changes nothing."""
    from zetasketch_spark.operators.incremental import sketch_table_sink
    from zetasketch_spark.sources.transcripts import write_transcripts_parquet

    src = str(tmp_path / "src")
    write_transcripts_parquet(src, n_turns=30_000, seed=7,
                              rows_per_file=10_000)
    schema = spark.read.parquet(src).schema
    fam = HllFamily(precision=12)
    table = SketchTable(str(tmp_path / "tbl"), ["role"], "conv_id", fam)

    def run(ckpt):
        stream = (spark.readStream.schema(schema)
                  .option("maxFilesPerTrigger", 1).parquet(src)
                  .select("role", "conv_id"))
        q = (stream.writeStream
             .foreachBatch(sketch_table_sink(table, "transcripts-hll-v1"))
             .option("checkpointLocation", str(tmp_path / ckpt))
             .trigger(availableNow=True).start())
        q.awaitTermination(180)

    run("ckpt1")
    v_first = table.latest_version()
    assert v_first >= 3  # one version per micro-batch (3 files)
    got = _by_key(table.results(spark, keep_sketch=True),
                  ["role"], ["estimate", SKETCH_COL])
    want = _by_key(
        sketch_agg(spark.read.parquet(src).select("role", "conv_id"),
                   ["role"], "conv_id", fam, keep_sketch=True),
        ["role"], ["estimate", SKETCH_COL])
    assert {k: (v[0], bytes(v[1])) for k, v in got.items()} == \
           {k: (v[0], bytes(v[1])) for k, v in want.items()}

    # full redelivery (fresh checkpoint, same stream_id => same batch ids
    # over the same files): every batch is an idempotent no-op
    run("ckpt2")
    assert table.latest_version() == v_first
    again = _by_key(table.results(spark, keep_sketch=True),
                    ["role"], ["estimate", SKETCH_COL])
    assert {k: (v[0], bytes(v[1])) for k, v in again.items()} == \
           {k: (v[0], bytes(v[1])) for k, v in got.items()}


def test_concurrent_writer_race_aborts_loser(spark, tmp_path):
    """Two overlapping updates both reading snapshot v1: the slower writer
    must raise ConcurrentUpdateError instead of committing a snapshot
    built on the stale parent (which would silently drop the winner's
    delta while its fingerprint still read as applied). A retry of the
    loser then folds BOTH deltas."""
    from zetasketch_spark.operators.incremental import ConcurrentUpdateError

    events = _events(spark)
    fam = HllFamily(precision=12)
    tdir = str(tmp_path / "tbl")
    table = SketchTable(tdir, ["event_type"], "user_id", fam)
    writer_b = SketchTable(tdir, ["event_type"], "user_id", fam)
    table.update(spark, events.filter(F.col("user_id") % 3 == 0),
                 fingerprint="base")

    # writer B commits its delta while writer A is mid-update
    def race():
        table._before_commit = None  # only interleave once
        writer_b.update(spark, events.filter(F.col("user_id") % 3 == 1),
                        fingerprint="winner")

    table._before_commit = race
    with pytest.raises(ConcurrentUpdateError):
        table.update(spark, events.filter(F.col("user_id") % 3 == 2),
                     fingerprint="loser")
    # the winner's commit survived; the loser left no applied fingerprint
    assert table.applied_fingerprints() == {"base", "winner"}
    # retrying the loser folds its delta on top of the winner's snapshot
    m = table.update(spark, events.filter(F.col("user_id") % 3 == 2),
                     fingerprint="loser")
    assert m["applied"]
    got = _by_key(table.results(spark, keep_sketch=True),
                  ["event_type"], [SKETCH_COL])
    want = _by_key(sketch_agg(events, ["event_type"], "user_id", fam,
                              keep_sketch=True),
                   ["event_type"], [SKETCH_COL])
    assert {k: bytes(v[0]) for k, v in got.items()} == \
           {k: bytes(v[0]) for k, v in want.items()}


def test_jobs_cli_vacuum_keep_requires_sketch_table_mode():
    """--vacuum-keep outside --sketch-table mode must be a loud usage
    error, not a silently-ignored flag (the same silent-ignore class the
    CLI's mutually-exclusive persistence modes already fixed)."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "job_cli_guard", os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "jobs", "transcripts_hll_job.py"))
    job = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(job)
    with pytest.raises(SystemExit):
        job.main(["--input", "/nonexistent", "--vacuum-keep", "2"])


def test_torn_trailing_log_line_does_not_brick_the_table(spark, tmp_path):
    """A crash mid-append leaves a torn snapshots.jsonl line WITHOUT a
    trailing newline. The record is an uncommitted orphan by
    construction (commit renames only after the append returned), so
    every metadata read must skip it, and the NEXT append must heal the
    tail onto a fresh line — otherwise the new committed record would be
    swallowed into the garbage fragment and its chain's fingerprints
    silently forgotten (replays would double-fold)."""
    events = _events(spark)
    fam = HllFamily(precision=12)
    tdir = str(tmp_path / "tbl")
    table = SketchTable(tdir, ["event_type"], "user_id", fam)
    table.update(spark, events.limit(300), fingerprint="d0")

    log = os.path.join(tdir, "snapshots.jsonl")
    with open(log, "a") as f:
        f.write('{"version": 2, "parent": 1, "new_fing')  # torn, no \n
    assert table.applied_fingerprints() == {"d0"}
    assert table.history()[0]["version"] == 1
    m = table.update(spark, events.limit(500), fingerprint="d1")
    assert m["applied"]
    # the healed append kept the committed chain fully readable
    assert table.applied_fingerprints() == {"d0", "d1"}
    assert table.update(spark, events.limit(500),
                        fingerprint="d1")["applied"] is False
    # the torn fragment is still there, isolated on its own line; the
    # committed records parse cleanly around it
    with open(log) as f:
        lines = f.readlines()
    assert sum(not _loads_ok(l) for l in lines) == 1
    assert [json.loads(l)["version"] for l in lines
            if _loads_ok(l)] == [1, m["version"]]


def _loads_ok(line):
    try:
        json.loads(line)
        return True
    except ValueError:
        return False


def test_version_numbers_roll_past_five_digits(tmp_path):
    """f"v{n:05d}" grows to 6 digits at version 100000; allocation must
    keep counting (a 10s streaming trigger gets there in ~12 days)."""
    table = SketchTable(str(tmp_path / "tbl"), ["k"], "v",
                        HllFamily(precision=10))
    os.makedirs(str(tmp_path / "tbl" / "v100000"))
    assert table._next_version() == 100001


def test_empty_string_fingerprint_replays_as_noop(spark, tmp_path):
    """A falsy-but-set fingerprint ('' from a missing upstream field)
    must be logged and detected on replay like any other."""
    events = _events(spark)
    table = SketchTable(str(tmp_path / "tbl"), ["event_type"], "user_id",
                        HllFamily(precision=12))
    assert table.update(spark, events.limit(200),
                        fingerprint="")["applied"]
    m = table.update(spark, events.limit(200), fingerprint="")
    assert m["applied"] is False


def test_value_domain_drift_across_deltas_rejected(spark, tmp_path):
    """An HLL family with value_type=None derives its hash recipe from
    each delta's declared column type; upstream schema drift (int ->
    bigint) across deltas must fail loudly instead of silently merging
    registers hashed through two recipes."""
    events = _events(spark)
    table = SketchTable(str(tmp_path / "tbl"), ["event_type"], "uid",
                        HllFamily(precision=12))
    table.update(spark, events.select(
        "event_type", F.col("user_id").cast("int").alias("uid")),
        fingerprint="ints")
    with pytest.raises(ValueError, match="value-domain mismatch"):
        table.update(spark, events.select(
            "event_type", F.col("user_id").cast("bigint").alias("uid")),
            fingerprint="longs")
    # same-typed replay keeps working, and an EXPLICIT value_type opts out
    assert table.update(spark, events.select(
        "event_type", F.col("user_id").cast("int").alias("uid")),
        fingerprint="ints")["applied"] is False


def test_identity_guard_ignores_runtime_caches_and_reopens_quantile(
        spark, tmp_path):
    """Runtime caches (underscore attrs like HllFamily's memoized
    _arrow_value_type) must not change a table's identity, and quantile
    families (whose result_fields hold nested tuples) must reopen
    cleanly — JSON round-trips tuples to lists, which a naive equality
    check false-fails."""
    events = _events(spark)
    fam = HllFamily(precision=12)
    tdir = str(tmp_path / "hll")
    SketchTable(tdir, ["event_type"], "user_id", fam)
    fam2 = HllFamily(precision=12)
    fam2._arrow_value_type = 8  # exercised-before-open runtime cache
    SketchTable(tdir, ["event_type"], "user_id", fam2)  # must not raise

    kdir = str(tmp_path / "kll")
    kfam = KllFamily(k=200, quantiles=(0.5, 0.9))
    table = SketchTable(kdir, ["event_type"], "value", kfam)
    table.update(spark, events, fingerprint="a")
    reopened = SketchTable(kdir, ["event_type"], "value",
                           KllFamily(k=200, quantiles=(0.5, 0.9)))
    assert reopened.latest_version() == 1
    with pytest.raises(ValueError, match="identity mismatch"):
        SketchTable(kdir, ["event_type"], "value",
                    KllFamily(k=100, quantiles=(0.5, 0.9)))


def test_update_tables_one_scan_matches_individual(spark, tmp_path):
    """`update_tables` folds one delta into several tables from a single
    scan (multi_sketch_partial); every table's snapshot must equal the
    table maintained by independent per-table update() calls — byte-level
    for the order-independent families used here (HLL registers, CM
    counters) — and the shared fingerprint must replay as a per-table
    no-op, including after a partial (crash-interrupted) fold."""
    from zetasketch_spark.operators.incremental import update_tables
    from zetasketch_spark.sketches.countmin import CountMinFamily

    events = _events(spark).withColumn("day", F.dayofmonth("ts"))
    slices = [events.filter(F.col("day") % 2 == i) for i in range(2)]

    def mk(prefix):
        return {
            "users": SketchTable(str(tmp_path / f"{prefix}_u"),
                                 ["event_type"], "user_id",
                                 HllFamily(precision=13)),
            "events": SketchTable(str(tmp_path / f"{prefix}_e"),
                                  ["event_type"], "event_id",
                                  CountMinFamily(width=256, depth=5,
                                                 max_candidates=16)),
        }

    combined, solo = mk("c"), mk("s")
    for i, sl in enumerate(slices):
        got = update_tables(spark, sl, combined, fingerprint=f"d{i}")
        assert all(m["applied"] for m in got.values())
        for t in solo.values():
            assert t.update(spark, sl, fingerprint=f"d{i}")["applied"]

    for name in combined:
        a = _by_key(combined[name].results(spark, keep_sketch=True),
                    ["event_type"], ["rows_seen", SKETCH_COL])
        b = _by_key(solo[name].results(spark, keep_sketch=True),
                    ["event_type"], ["rows_seen", SKETCH_COL])
        assert a == b and a, name

    # shared-fingerprint replay: committed no-op in every table
    replay = update_tables(spark, slices[0], combined, fingerprint="d0")
    assert all(m["applied"] is False for m in replay.values())

    # crash between folds: one table already committed d2 individually;
    # re-running the whole call folds ONLY the table that missed it
    extra = events.filter(F.col("day") % 5 == 0)
    pre = combined["users"].update(spark, extra, fingerprint="d2")
    assert pre["applied"]
    after = update_tables(spark, extra, combined, fingerprint="d2")
    assert after["users"]["applied"] is False
    assert after["events"]["applied"] is True

    # guard rails: mismatched keys and reserved-name collisions are loud
    bad = {"users": combined["users"],
           "other": SketchTable(str(tmp_path / "bad"), ["day"], "user_id",
                                HllFamily(precision=13))}
    with pytest.raises(ValueError, match="shared key set"):
        update_tables(spark, events, bad)
    with pytest.raises(ValueError, match="collide"):
        update_tables(spark, events,
                      {"event_type": combined["users"]})


def test_sketch_tables_sink_multi_table_streaming(spark, tmp_path):
    """Multi-table foreachBatch sink: one availableNow stream maintains an
    HLL table and a Count-Min table from a single scan per micro-batch;
    each equals its batch-mode twin byte-exactly, and full redelivery
    (same stream_id + batch ids) is a per-table no-op."""
    from zetasketch_spark.operators.incremental import sketch_tables_sink
    from zetasketch_spark.sketches.countmin import CountMinFamily
    from zetasketch_spark.sources.transcripts import write_transcripts_parquet

    src = str(tmp_path / "src")
    write_transcripts_parquet(src, n_turns=30_000, seed=13,
                              rows_per_file=10_000)
    schema = spark.read.parquet(src).schema
    tables = {
        "convs": SketchTable(str(tmp_path / "t_convs"), ["role"], "conv_id",
                             HllFamily(precision=12)),
        "tools": SketchTable(str(tmp_path / "t_tools"), ["role"], "tool",
                             CountMinFamily(width=256, depth=5,
                                            max_candidates=16)),
    }

    def run(ckpt):
        stream = (spark.readStream.schema(schema)
                  .option("maxFilesPerTrigger", 1).parquet(src)
                  .select("role", "conv_id", "tool"))
        q = (stream.writeStream
             .foreachBatch(sketch_tables_sink(tables, "transcripts-multi-v1"))
             .option("checkpointLocation", str(tmp_path / ckpt))
             .trigger(availableNow=True).start())
        q.awaitTermination(180)

    run("ckpt1")
    versions = {n: t.latest_version() for n, t in tables.items()}
    assert all(v >= 3 for v in versions.values())
    batch = spark.read.parquet(src)
    for name, t in tables.items():
        got = _by_key(t.results(spark, keep_sketch=True),
                      ["role"], [SKETCH_COL])
        want = _by_key(
            sketch_agg(batch.select("role", t.col), ["role"], t.col,
                       t.family, keep_sketch=True),
            ["role"], [SKETCH_COL])
        assert set(got) == set(want) and got, name
        for k in got:
            a, b = bytes(got[k][0]), bytes(want[k][0])
            if name == "convs":
                # HLL registers are order-independent: byte-exact
                assert a == b, (name, k)
            else:
                # Count-Min: the counter matrix and total are pure
                # addition (order-independent); the Misra-Gries candidate
                # layer is a BOUND whose tied-entry ordering/pruning may
                # legitimately differ across merge groupings
                import numpy as np

                sa, sb = t.family.deserialize(a), t.family.deserialize(b)
                assert sa.total == sb.total, (name, k)
                assert np.array_equal(sa.counters, sb.counters), (name, k)

    run("ckpt2")  # full redelivery: no table advances
    assert {n: t.latest_version() for n, t in tables.items()} == versions


def test_value_domain_drift_rejected_through_update_tables(spark, tmp_path):
    """The one-scan path must keep the schema-drift guard: update()
    skips _check_value_domain when fed precomputed partials, so
    update_tables runs it per table against the raw delta."""
    from zetasketch_spark.operators.incremental import update_tables

    events = _events(spark)
    tables = {"users": SketchTable(str(tmp_path / "u"), ["event_type"],
                                   "uid", HllFamily(precision=12))}
    m = update_tables(spark, events.select(
        "event_type", F.col("user_id").cast("int").alias("uid")),
        tables, fingerprint="ints")
    assert m["users"]["applied"]
    with pytest.raises(ValueError, match="value-domain mismatch"):
        update_tables(spark, events.select(
            "event_type", F.col("user_id").cast("bigint").alias("uid")),
            tables, fingerprint="longs")


def test_windowed_heavy_hitters_from_day_table_rollup(spark, tmp_path):
    """Trailing-window heavy hitters RETROACTIVELY from a day-keyed
    Count-Min SketchTable: rollup(where=day >= cutoff) merges only the
    window's day states — no raw-history rescan — and the merged CM
    obeys its contract against exact window counts (never undercounts;
    the true window-top key is inside the merged candidate set with an
    estimate >= its exact count)."""
    from zetasketch_spark.sketches.countmin import (CountMinFamily,
                                                    CountMinSketch)

    events = (_events(spark)
              .withColumn("day", F.dayofmonth("ts"))
              .filter(F.col("user_id").isNotNull()))
    fam = CountMinFamily(width=2048, depth=5)
    table = SketchTable(str(tmp_path / "cm_by_day"), ["day"], "user_id",
                        fam)
    table.update(spark, events, fingerprint="all-days")

    days = sorted(r["day"] for r in
                  table.read(spark).select("day").collect())
    cutoff = days[len(days) // 2]
    [win] = table.rollup(spark, [], keep_sketch=True,
                         where=F.col("day") >= cutoff).collect()
    cm = CountMinSketch.deserialize(bytes(win[SKETCH_COL]))

    exact = {str(r["user_id"]): r["n"] for r in
             events.filter(F.col("day") >= cutoff)
             .groupBy("user_id").agg(F.count("*").alias("n")).collect()}
    import pandas as pd
    est = cm.point_query_series(pd.Series(list(exact)))
    for key, e in zip(exact, est):
        assert e >= exact[key], (key, e, exact[key])  # never undercounts
    top_key = max(exact, key=lambda k: (exact[k], k))
    assert top_key in cm.candidates  # MG survival: window top is present
    # its pruned MG count is a LOWER bound on the exact window count
    assert cm.candidates[top_key] <= exact[top_key]
    assert cm.heavy_hitters(1)[0][1] >= exact[top_key]  # CM never under
    # and the window CM saw exactly the slice's rows
    direct = fam.make()
    fam.update(direct, events.filter(F.col("day") >= cutoff)
               .select("user_id").toPandas()["user_id"])
    assert cm.total == direct.total


def test_update_tables_redelivery_starts_no_spark_job(spark, tmp_path):
    """Redelivering a delta every table has applied is decided from the
    tables' logs alone: no scan, no Spark job. A table that missed the
    delta still gets the scan, for itself only."""
    from zetasketch_spark.operators.incremental import update_tables
    from zetasketch_spark.sketches.countmin import CountMinFamily

    delta = _events(spark)
    tables = {
        "users": SketchTable(str(tmp_path / "u"), ["event_type"], "user_id",
                             HllFamily(precision=12)),
        "events": SketchTable(str(tmp_path / "e"), ["event_type"],
                              "event_id", CountMinFamily(width=256, depth=4)),
    }
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    try:
        sc.setJobGroup("first-delivery", "fold")
        first = update_tables(spark, delta, tables, fingerprint="d0")
        assert tracker.getJobIdsForGroup("first-delivery")
        sc.setJobGroup("redelivery", "replay")
        again = update_tables(spark, delta, tables, fingerprint="d0")
        assert tracker.getJobIdsForGroup("redelivery") == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert all(m["applied"] for m in first.values())
    assert all(m["applied"] is False for m in again.values())
    assert {n: m["version"] for n, m in again.items()} == \
        {n: m["version"] for n, m in first.items()}


def test_update_n_keys_equals_snapshot_rows(spark, tmp_path):
    """``n_keys`` (from the written files' footers) is the snapshot's row
    count, in the metrics and in the log record."""
    events = _events(spark).withColumn("day", F.dayofmonth("ts"))
    table = SketchTable(str(tmp_path / "t"), ["event_type", "day"],
                        "user_id", HllFamily(precision=12))
    for i in range(2):
        m = table.update(spark, events.filter(F.col("day") % 2 == i),
                         fingerprint=f"d{i}")
        assert m["applied"]
        assert m["n_keys"] == table.read(spark).count() > 0
        assert table.history()[0]["n_keys"] == m["n_keys"]
