"""The benchmark's workloads. Each is a fixed round of ops (the timed unit) over
one seed's inputs, plus a check of every op's output against exact answers
computed apart from the program (``oracle``).

An op returns ``(input turns it processed, output)``; the output is kept
until the timed loop ends and is then checked. ``check`` stores each op's
problems in its log entry under ``problems``.
"""

from __future__ import annotations

import datetime as dt
import functools
import os
from collections import Counter

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from zetasketch_spark.functions.sketch_udfs import register_sql
from zetasketch_spark.hll import HllSketch
from zetasketch_spark.operators import agg, fastscan
from zetasketch_spark.operators.incremental import SketchTable, update_tables
from zetasketch_spark.sketches.base import HllFamily
from zetasketch_spark.sketches.countmin import CountMinFamily, CountMinSketch
from zetasketch_spark.sketches.ddsketch import DDSketch, DDSketchFamily

from perfbench_spans import span
from oracle import (CM_DEPTH, CM_WIDTH, DD_ALPHA, DD_QUANTILES, HLL_P, Exact,
                    check_cm, check_dd, check_equal, check_hll, keys_match)


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total


def _q(q: float) -> str:
    return f"q{round(q * 100):02d}"


class DailyRollup:
    """The north-star batch job over the multi-file table: one multi-sketch
    scan by (role, day), then the per-role text HLL persisted as a sketch
    table."""

    name = "daily_rollup"
    warmup_rounds = 1

    def __init__(self, spark, inp, run_dir):
        self.spark, self.inp, self.run_dir = spark, inp, run_dir
        self.specs = {
            "convs": ("conv_id", HllFamily(HLL_P)),
            "tools": ("tool", CountMinFamily(CM_WIDTH, CM_DEPTH)),
            "len": (("length", "text"),
                    DDSketchFamily(DD_ALPHA, quantiles=DD_QUANTILES)),
        }
        self.last_table = None
        self.ops = [("query", self.rollup), ("update", self.persist_text)]

    def rollup(self, r):
        rows = fastscan.multi_sketch_agg_rdd(
            self.spark, self.inp.dir, ["role", "day"], self.specs,
            derived_keys={"day": ("to_date", "ts")}).collect()
        return self.inp.turns, [row.asDict() for row in rows]

    def persist_text(self, r):
        out = os.path.join(self.run_dir, f"text_hll_{r:04d}")
        fastscan.sketch_agg_rdd(
            self.spark, self.inp.dir, ["role"], "text", HllFamily(HLL_P),
            keep_sketch=True).write.parquet(out)
        self.last_table = out
        return self.inp.turns, out

    def table_bytes(self) -> int:
        return dir_bytes(self.last_table)

    def check(self, log) -> None:
        ex = Exact(self.inp.files)
        try:
            groups = ex.by_key(
                "SELECT role, CAST(ts AS DATE), count(*), "
                "count(DISTINCT conv_id), count(tool) FROM {src} GROUP BY ALL", 2)
            lens = ex.sorted_lengths("role, CAST(ts AS DATE)", 2)
            text = ex.by_key("SELECT role, count(*), count(DISTINCT text) "
                             "FROM {src} GROUP BY ALL", 1)
        finally:
            ex.close()
        for e in log:
            if e["kind"] == "query":
                e["problems"] = self._check_rollup(e["out"], groups, lens)
            else:
                e["problems"] = self._check_text(e["out"], text)

    def _check_rollup(self, rows, groups, lens):
        bad = keys_match("rollup", {(r["role"], r["day"]) for r in rows},
                         set(groups))
        bad += check_equal("rows_seen total", sum(r["rows_seen"] for r in rows),
                           self.inp.turns)
        for r in rows:
            key = (r["role"], r["day"])
            if key not in groups:
                continue
            n, convs, tools = groups[key]
            bad += check_equal(f"{key} rows_seen", r["rows_seen"], n)
            bad += check_hll(f"{key} convs", r["convs_estimate"], convs)
            bad += check_equal(f"{key} Count-Min total", r["tools_total"], tools)
            bad += check_equal(f"{key} DDSketch n", r["len_n"], n)
            for q in DD_QUANTILES:
                bad += check_dd(f"{key} len", r[f"len_{_q(q)}"], lens[key], q)
        return bad

    def _check_text(self, path, text):
        tbl = pq.read_table(path).to_pylist()
        bad = keys_match("text hll", {r["role"] for r in tbl},
                         {k[0] for k in text})
        for r in tbl:
            if (r["role"],) not in text:
                continue
            n, distinct = text[(r["role"],)]
            bad += check_equal(f"{r['role']} rows_seen", r["rows_seen"], n)
            bad += check_hll(f"{r['role']} text", r["estimate"], distinct)
            bad += check_equal(f"{r['role']} state estimate",
                               HllSketch.deserialize(r["sketch"]).estimate(),
                               r["estimate"])
        return bad


# the windowed rollup keeps states of days on or after this one
CUTOFF = dt.date(2026, 1, 16)


class TableMaint:
    """Writes beside reads on three ``SketchTable``s keyed by (role, day):
    an update op delivers one daily delta to all three and then delivers it
    again under the same fingerprint; a read op is a dashboard's batch."""

    name = "table_maint"
    # after one warm-up round the first timed round still ran slower and
    # burned more CPU (JIT) than the next, so runs that fit one timed round
    # and runs that fit two measured different things
    warmup_rounds = 2

    def __init__(self, spark, inp, run_dir):
        self.spark, self.inp = spark, inp
        register_sql(spark)
        fams = {"users": ("conv_id", HllFamily(HLL_P)),
                "tools": ("tool", CountMinFamily(CM_WIDTH, CM_DEPTH)),
                "lengths": ("len", DDSketchFamily(DD_ALPHA, quantiles=DD_QUANTILES))}
        self.tables = {n: SketchTable(os.path.join(run_dir, "tables", n),
                                      ["role", "day"], col, fam)
                       for n, (col, fam) in fams.items()}
        self.deltas = [self._delta(f) for f in inp.files]
        self.delivered: list[int] = []
        self.ops = [("update", self.deliver), ("query", self.dashboard)]

    def _delta(self, path):
        return self.spark.read.parquet(path).select(
            "role", F.to_date("ts").alias("day"), "conv_id", "tool",
            F.length("text").cast("double").alias("len"))

    def deliver(self, r):
        i = r % len(self.deltas)
        fp = f"day-{r:04d}"
        before = {n: t.latest_version() for n, t in self.tables.items()}
        with span("incremental.fold"):
            first = update_tables(self.spark, self.deltas[i], self.tables,
                                  fingerprint=fp)
        with span("incremental.replay"):
            again = update_tables(self.spark, self.deltas[i], self.tables,
                                  fingerprint=fp)
        self.delivered.append(i)
        return 2 * self.inp.per_file, {
            "before": before,
            "first": {n: (m["applied"], m["version"]) for n, m in first.items()},
            "again": {n: (m["applied"], m["version"]) for n, m in again.items()},
            "delivered": list(self.delivered)}

    def dashboard(self, r):
        users, tools, lengths = (self.tables[n] for n in ("users", "tools", "lengths"))
        latest = users.latest_version()
        s = self.spark
        out = {
            "users": users.results(s).collect(),
            "tools": tools.results(s).collect(),
            "lengths": lengths.results(s).collect(),
            "by_role": users.rollup(s, ["role"]).collect(),
            "by_day": users.rollup(s, ["day"]).collect(),
            "all": users.rollup(s, []).collect(),
            "window": users.rollup(s, ["role"],
                                   where=F.col("day") >= F.lit(CUTOFF)).collect(),
            "travel": users.results(s, version=max(1, latest - 1)).collect(),
            "sql": self._sql_by_role(users, "hll_count_merge(sketch) AS estimate"),
        }
        out = {k: [row.asDict() for row in v] for k, v in out.items()}
        out["delivered"] = list(self.delivered)
        return 0, out

    def _sql_by_role(self, table, select: str):
        """The BigQuery-style read of a sketch table: SQL merge of its
        stored states by role."""
        table.read(self.spark).createOrReplaceTempView("users_snapshot")
        return self.spark.sql(f"SELECT role, {select} FROM users_snapshot "
                              "GROUP BY role").collect()

    def table_bytes(self) -> int:
        return sum(dir_bytes(t._vpath(t.latest_version()))
                   for t in self.tables.values())

    # -- checks -------------------------------------------------------------

    def _exact_per_delta(self):
        per = []
        for f in self.inp.files:
            ex = Exact([f])
            try:
                day = "CAST(ts AS DATE)"
                per.append({
                    "users": ex.by_key(f"SELECT role, {day}, count(*), count(DISTINCT conv_id), "
                                       "count(tool) FROM {src} GROUP BY ALL", 2),
                    "by_role": ex.by_key("SELECT role, count(*), count(DISTINCT conv_id) "
                                         "FROM {src} GROUP BY ALL", 1),
                    "by_day": ex.by_key(f"SELECT {day}, count(*), count(DISTINCT conv_id) "
                                        "FROM {src} GROUP BY ALL", 1),
                    "all": ex.by_key("SELECT count(*), count(DISTINCT conv_id) "
                                     "FROM {src}", 0),
                    "window": ex.by_key(f"SELECT role, count(*), count(DISTINCT conv_id) "
                                        f"FROM {{src}} WHERE {day} >= DATE '{CUTOFF}' "
                                        "GROUP BY ALL", 1),
                    "tool": ex.by_key(f"SELECT role, {day}, tool, count(*) FROM {{src}} "
                                      "WHERE tool IS NOT NULL GROUP BY ALL", 3),
                    "lens": ex.sorted_lengths(f"role, {day}", 2),
                })
            finally:
                ex.close()
        return per

    @staticmethod
    def _combine(per, delivered, part):
        """``{key: (rows, distinct)}`` over a delivery sequence: rows add
        with multiplicity; distinct conversations add once per file (files
        hold disjoint conversation ranges)."""
        mult = Counter(delivered)
        out: dict = {}
        for i, m in mult.items():
            for key, vals in per[i][part].items():
                rows, distinct = out.get(key, (0, 0))
                out[key] = (rows + m * vals[0], distinct + vals[1])
        return out

    def check(self, log) -> None:
        per = self._exact_per_delta()
        for e in log:
            e["problems"] = (self._check_update(e["out"]) if e["kind"] == "update"
                             else self._check_reads(e["out"], per))
        updates = [e for e in log if e["kind"] == "update"]
        if updates:
            updates[-1]["problems"] += self._check_final(per)

    def _check_update(self, out):
        bad = []
        for n, (applied, version) in out["first"].items():
            if not applied or version != out["before"][n] + 1:
                bad.append(f"{n}: first delivery applied={applied} v{version} "
                           f"(was v{out['before'][n]})")
            again_applied, again_version = out["again"][n]
            if again_applied or again_version != version:
                bad.append(f"{n}: redelivery applied={again_applied} "
                           f"v{again_version} (expected a no-op at v{version})")
        return bad

    def _check_group(self, label, rows, want, keys, est_col="estimate"):
        bad = keys_match(label, {tuple(r[k] for k in keys) for r in rows}, set(want))
        for r in rows:
            key = tuple(r[k] for k in keys)
            if key in want:
                bad += check_equal(f"{label} {key} rows_seen", r["rows_seen"], want[key][0])
                bad += check_hll(f"{label} {key}", r[est_col], want[key][1])
        return bad

    def _check_reads(self, out, per):
        d = out["delivered"]
        bad = self._check_group("users", out["users"],
                                self._combine(per, d, "users"), ("role", "day"))
        bad += self._check_group("by_role", out["by_role"],
                                 self._combine(per, d, "by_role"), ("role",))
        bad += self._check_group("by_day", out["by_day"],
                                 self._combine(per, d, "by_day"), ("day",))
        bad += self._check_group("all", out["all"], self._combine(per, d, "all"), ())
        by_role = self._combine(per, d, "by_role")
        bad += keys_match("sql", {(r["role"],) for r in out["sql"]}, set(by_role))
        for r in out["sql"]:
            if (r["role"],) in by_role:
                bad += check_hll(f"sql {r['role']}", r["estimate"], by_role[(r["role"],)][1])
        bad += self._check_group("window", out["window"],
                                 self._combine(per, d, "window"), ("role",))
        travel = d[:-1] if len(d) > 1 else d
        bad += self._check_group("travel", out["travel"],
                                 self._combine(per, travel, "users"), ("role", "day"))
        mult = Counter(d)
        tools: dict = {}
        for i, m in mult.items():
            for key, vals in per[i]["users"].items():
                tools[key] = tools.get(key, 0) + m * vals[2]
        bad += keys_match("tools", {(r["role"], r["day"]) for r in out["tools"]},
                          set(tools))
        for r in out["tools"]:
            key = (r["role"], r["day"])
            if key in tools:
                bad += check_equal(f"tools {key} total", r["total"], tools[key])
        rows = self._combine(per, d, "users")
        bad += keys_match("lengths", {(r["role"], r["day"]) for r in out["lengths"]},
                          set(rows))
        for r in out["lengths"]:
            key = (r["role"], r["day"])
            if key in rows:
                bad += check_equal(f"lengths {key} n", r["n"], rows[key][0])
        return bad

    def _check_final(self, per):
        """State after the last fold: HLL bytes equal one scan over the
        union of the folded deltas; Count-Min and DDSketch inside their bounds over
        the delivered multiset."""
        d = self.delivered
        # every delivery that folded, as one frame: HLL++ states count the
        # values they absorbed, so a delta folded twice appears twice
        union = functools.reduce(lambda a, b: a.unionAll(b), (self.deltas[i] for i in d))
        ref = {(r["role"], r["day"]): bytes(r["sketch"])
               for r in agg.sketch_agg(union, ["role", "day"], "conv_id",
                                       HllFamily(HLL_P), keep_sketch=True).collect()}
        snap = {(r["role"], r["day"]): bytes(r["sketch"])
                for r in self.tables["users"].read(self.spark).collect()}
        bad = keys_match("final users", set(snap), set(ref))
        bad += [f"final users {k}: folded HLL state differs from one scan of the union"
                for k in ref if k in snap and snap[k] != ref[k]]
        users = self.tables["users"]
        sql = {r["role"]: bytes(r["sketch"]) for r in self._sql_by_role(
            users, "hll_count_merge_partial(sketch) AS sketch")}
        frame = {r["role"]: bytes(r["sketch"])
                 for r in users.rollup(self.spark, ["role"], keep_sketch=True).collect()}
        bad += keys_match("SQL two-level", set(sql), set(frame))
        bad += [f"{k}: SQL hll_count_merge_partial state differs from rollup's"
                for k in frame if k in sql and sql[k] != frame[k]]

        mult = Counter(d)
        tool_exact: dict = {}
        lens: dict = {}
        for i, m in mult.items():
            for (role, day, tool), (c,) in per[i]["tool"].items():
                tool_exact.setdefault((role, day), {})
                tool_exact[(role, day)][tool] = tool_exact[(role, day)].get(tool, 0) + m * c
            for key, arr in per[i]["lens"].items():
                lens.setdefault(key, []).append(np.tile(arr, m))
        for r in self.tables["tools"].read(self.spark).collect():
            key = (r["role"], r["day"])
            sk = CountMinSketch.deserialize(bytes(r["sketch"]))
            want = tool_exact.get(key, {})
            if want:
                names = sorted(want)
                est = sk.point_query_series(pd.Series(names))
                for name, e in zip(names, est):
                    bad += check_cm(f"final tools {key} {name}", int(e), want[name], sk.total)
        for r in self.tables["lengths"].read(self.spark).collect():
            key = (r["role"], r["day"])
            if key not in lens:
                bad.append(f"final lengths {key}: key not in the delivered deltas")
                continue
            vals = np.sort(np.concatenate(lens[key]))
            sk = DDSketch.deserialize(bytes(r["sketch"]))
            for q, est in zip(DD_QUANTILES, sk.quantiles(DD_QUANTILES)):
                bad += check_dd(f"final lengths {key}", est, vals, q)
        return bad


WORKLOADS = {w.name: w for w in (DailyRollup, TableMaint)}
