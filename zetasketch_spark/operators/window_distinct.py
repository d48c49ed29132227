"""Sliding-window distinct activity from ONE temporal theta sketch per
group — "how many distinct users were active in the last 1/7/30 days?"
without a sketch per day bucket or a re-scan per window.

How it scales (the 100 TB shape): stage 1 is the one split kernel every
family uses (`operators/agg.py::arrow_partials` around
`fastscan.split_states` — shuffle volume O(groups × partitions ×
state_size), never raw keys); its value is one struct<key, time> column,
so each retained hash carries its exact first/last-seen time
(`sketches/timetheta.py`). Merge reuses `sketch_merge` unchanged
(blob-level, salted tree for hot groups). Every window answer is then a
driver-side predicate count over k-sized samples — adding a window
costs nothing at scan time, which is the operational win over
`operators/retention.py`'s per-day sketch table when the question is
"activity over trailing windows as-of now" rather than day-pair
retention matrices.

Time units are calendrical DAY NUMBERS (`unix_date(to_date(ts))`),
the repo-wide timezone/DST-immune rule for wall-clock NTZ data (cf.
`operators/trending.py`); pass ``time_expr`` to use any other monotone
int64 clock (e.g. epoch micros on TZ-aware tables).
"""

from __future__ import annotations

import datetime

import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F

from zetasketch_spark.operators.agg import (
    SKETCH_COL,
    arrow_partials,
    collect_merged_states,
)
from zetasketch_spark.sketches.timetheta import TimeThetaFamily

_TIME_COL = "_tt_time"
_PAIR_COL = "_tt_pair"
_EPOCH = datetime.date(1970, 1, 1)


def timetheta_partial(df: DataFrame, keys: list[str], key_col: str,
                      time_col: str, family: TimeThetaFamily) -> DataFrame:
    """Stage 1 for (key, time) pairs: per-(partition, group) temporal
    theta partials from the one split kernel, whose value is the
    struct<key, time> column ``TimeThetaFamily.prepare_arrow`` reads.
    Output schema is `operators.agg.sketch_partial`'s, so
    `sketch_merge`/`sketch_result` compose unchanged."""
    pair = F.struct(F.col(key_col), F.col(time_col).cast("bigint"))
    return arrow_partials(df.select(*keys, pair.alias(_PAIR_COL)), keys,
                          {SKETCH_COL: (_PAIR_COL, family)})


_SCHEMA = ("window_days int, as_of_day string, active bigint, sd double, "
           "new_keys bigint, sd_new double, "
           "total_distinct bigint, rse double")
_AGE_SCHEMA = ("bucket string, as_of_day string, last_seen bigint, "
               "first_seen bigint, rse double")


def _days(values, what: str) -> list[int]:
    """Sorted distinct day counts, checked before any scan or read (an
    invalid window must fail even on empty input, ADVICE r5)."""
    days = sorted({int(v) for v in values})
    if not days or days[0] < 1:
        raise ValueError(f"{what} must be >= 1 day, got {days}")
    return days


def _day_number(iso: str) -> int:
    return (datetime.date.fromisoformat(iso) - _EPOCH).days


def _iso(day: int) -> str:
    return (_EPOCH + datetime.timedelta(days=day)).isoformat()


def _rendered(gcols: list[str]) -> list[Column]:
    """Group values as strings with nulls as '(null)', the
    `retention_report` convention."""
    return [F.coalesce(F.col(g).cast("string"), F.lit("(null)")).alias(g)
            for g in gcols]


def _group_states(df: DataFrame, key_col: str, ts_col: str, k: int,
                  as_of: str | None, gcols: list[str],
                  time_expr: Column | None):
    """``(as_of_day, {group: merged TimeThetaSketch})`` for the reports:
    one keyed select (groups `_rendered`), the as-of day (default: the
    data's max day, one column-pruned scan) and the per-group states
    (``(0, {})`` when no row has a time), folded driver-side under
    `collect_merged_states`' fan-in bound (one k-row sketch per group —
    groups are a schema/domain-bounded dimension, not data-scale)."""
    day = (time_expr if time_expr is not None
           else F.unix_date(F.to_date(F.col(ts_col))))
    keyed = df.select(
        *_rendered(gcols), F.col(key_col),
        day.cast("bigint").alias(_TIME_COL),
    ).filter(F.col(_TIME_COL).isNotNull())
    if as_of is None:
        m = keyed.agg(F.max(_TIME_COL)).collect()[0][0]
        if m is None:
            return 0, {}
        as_of_day = int(m)
    else:
        as_of_day = _day_number(as_of)
    fam = TimeThetaFamily(k=k)
    return as_of_day, collect_merged_states(
        timetheta_partial(keyed, gcols, key_col, _TIME_COL, fam), gcols, fam)


def _frame(spark, gcols: list[str], schema: str, rows: list) -> DataFrame:
    cols = [*gcols, *[c.split()[0] for c in schema.split(", ")]]
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=cols) if rows else [],
        schema=", ".join([f"`{g}` string" for g in gcols] + [schema]))


def _window_rows(sketches: dict, windows: list[int],
                 as_of_day: int) -> list:
    rows = []
    for g in sorted(sketches):
        sk = sketches[g]
        for w in windows:
            lo = as_of_day - w + 1
            rows.append([*g, w, _iso(as_of_day), sk.estimate_since(lo),
                         float(sk.estimate_sd_since(lo)),
                         sk.estimate_new_since(lo),
                         float(sk.estimate_sd_new_since(lo)),
                         sk.estimate(), float(sk.rse())])
    return rows


def window_activity_report(df: DataFrame, key_col: str, ts_col: str,
                           k: int = 4096, windows=(1, 7, 30),
                           as_of: str | None = None,
                           group_keys=(),
                           time_expr: Column | None = None) -> DataFrame:
    """One row per (group, trailing window W): ``active`` = estimated
    distinct keys last seen within the W days ending at ``as_of``
    (inclusive; a key counts for W=1 iff last seen ON the as_of day),
    with its binomial-thinning ``sd``; ``new_keys``/``sd_new`` = the
    acquisition twin — distinct keys FIRST seen within the window (the
    sketch's min-timestamp summary); ``total_distinct``/``rse`` are the
    plain KMV estimate of the group's all-time distinct count.

    ``as_of`` is an ISO date string; default = the data's max day (one
    column-pruned scan). All windows reuse the SAME one-scan sketches —
    the marginal window is a driver-side count over ≤k samples.

    ``group_keys`` (e.g. ``["role"]``) builds an independent sketch per
    group in the same scan; group values render as strings with nulls
    as '(null)', the `retention_report` convention.

    HISTORICAL ``as_of`` CAVEAT (suffix semantics): the sketch stores
    each key's FIRST/LAST timestamp only, so 'last seen within the W
    days ending at as_of' is answered as the OPEN suffix
    [as_of-W+1, ∞) — a key whose last activity falls AFTER as_of still
    counts as active, and a key first seen after as_of still counts as
    new. With the default as_of (the data's max day) the two windows
    coincide; with an explicit historical as_of over data that extends
    past it, 'active'/'new_keys' are upper bounds on the bounded-window
    counts, which a (first, last)-timestamp summary cannot answer
    exactly. Snapshot the table daily (``window_activity_from_table``)
    when exact historical windows matter."""
    gcols = list(group_keys)
    windows = _days(windows, "windows")
    as_of_day, sketches = _group_states(df, key_col, ts_col, k, as_of,
                                        gcols, time_expr)
    return _frame(df.sparkSession, gcols, _SCHEMA,
                  _window_rows(sketches, windows, as_of_day))


def activity_age_report(df: DataFrame, key_col: str, ts_col: str,
                        k: int = 4096, edges=(1, 7, 30),
                        as_of: str | None = None,
                        group_keys=(),
                        time_expr: Column | None = None) -> DataFrame:
    """Population age distribution per group, one scan: for trailing
    age bands ``<=1d, 2-7d, 8-30d, >30d`` (from ``edges``, in days
    before ``as_of`` inclusive), ``last_seen`` = distinct keys whose
    LAST activity falls in the band (recency / staleness) and
    ``first_seen`` = distinct keys ACQUIRED in the band (cohort sizes).
    Bands partition the population, so each column sums to the group's
    total distinct (up to per-bucket rounding) — the operational
    "how stale is my population" report, from the same temporal theta
    states as `window_activity_report`."""
    gcols = list(group_keys)
    edges = _days(edges, "edges")
    as_of_day, sketches = _group_states(df, key_col, ts_col, k, as_of,
                                        gcols, time_expr)
    # band i = [edges[i-1]+1 .. edges[i]] days old; the bucket kernels
    # take ascending day boundaries and bucket by time >= boundary
    asc = sorted(as_of_day - e + 1 for e in edges)
    labels = ([f"<={edges[0]}d"]
              + [f"{edges[i - 1] + 1}-{edges[i]}d"
                 for i in range(1, len(edges))]
              + [f">{edges[-1]}d"])
    rows = []
    for g in sorted(sketches):
        sk = sketches[g]
        rec = sk.recency_counts(asc)[::-1]  # newest band first
        coh = sk.cohort_counts(asc)[::-1]
        for label, r_, c_ in zip(labels, rec, coh):
            rows.append([*g, label, _iso(as_of_day), int(r_), int(c_),
                         float(sk.rse())])
    return _frame(df.sparkSession, gcols, _AGE_SCHEMA, rows)


def window_activity_from_table(spark, table, as_of: str,
                               windows=(1, 7, 30),
                               version: int | None = None):
    """The report, answered from an incrementally-maintained timetheta
    `SketchTable` (`operators/incremental.py`) instead of a fresh scan:
    read the (time-travelable) snapshot's per-group states — one compact
    row per group — and emit the same rows as `window_activity_report`
    (same row builder, group values rendered the same way). This is the
    daily-maintenance shape: fold today's delta (`timetheta_partial` +
    ``update(delta_is_partials=True)``), then answer any window from the
    table without touching history.

    ``as_of`` (ISO date) is REQUIRED: the true max event day is a
    property of the full input that a sampled state cannot certify
    (the max over retained rows can under-read when the newest day's
    keys all hashed above theta), and the maintenance pipeline knows
    its data cutoff exactly — pass that."""
    from zetasketch_spark.sketches.timetheta import TimeThetaSketch

    windows = _days(windows, "windows")
    gcols = list(table.keys)
    snap = table.read(spark, version=version)
    sketches = {}
    if snap is not None:
        sketches = {
            tuple(r[g] for g in gcols):
                TimeThetaSketch.deserialize(bytes(r[SKETCH_COL]))
            for r in snap.select(*_rendered(gcols), SKETCH_COL).collect()
            if r[SKETCH_COL] is not None}
    return _frame(spark, gcols, _SCHEMA,
                  _window_rows(sketches, windows, _day_number(as_of)))
