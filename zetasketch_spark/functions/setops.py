"""Set-operation estimates over serialized HLL++ sketches.

Union is native (lossless associative merge — the reference's core
operation). Intersection and difference come from inclusion–exclusion:

    |A ∩ B| = |A| + |B| − |A ∪ B|        |A \\ B| = |A| − |A ∩ B|

Error: each term carries the HLL envelope relative to ITS OWN cardinality,
so the intersection's absolute error is bounded by ~3 envelope terms of
the union size — fine when the intersection is a sizable fraction of the
union, noisy when it is tiny. That trade-off is inherent to HLL (the
reference exposes no intersection for the same reason); the bound used by
callers/tests is ``3 · 1.04/√2^p · |A ∪ B|``.
"""

from __future__ import annotations

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql.functions import pandas_udf


def _sketch(blob):
    from zetasketch_spark.hll import HllSketch

    return HllSketch.deserialize(bytes(blob))


def hll_union(a: bytes, b: bytes) -> bytes:
    """Serialized union sketch (exact w.r.t. sketch semantics)."""
    sa, sb = _sketch(a), _sketch(b)
    sa.merge(sb)
    return sa.serialize()


def _set_estimates(a: bytes, b: bytes) -> tuple[int, int, int]:
    """(|A|, |B|, |A∪B|) with each blob deserialized exactly once."""
    sa, sb = _sketch(a), _sketch(b)
    ea, eb = int(sa.estimate()), int(sb.estimate())
    sa.merge(sb)
    return ea, eb, int(sa.estimate())


def hll_union_estimate(a: bytes, b: bytes) -> int:
    return _set_estimates(a, b)[2]


def hll_intersection_estimate(a: bytes, b: bytes) -> int:
    """Inclusion–exclusion estimate, clamped at 0."""
    ea, eb, eu = _set_estimates(a, b)
    return max(0, ea + eb - eu)


def hll_difference_estimate(a: bytes, b: bytes) -> int:
    """|A \\ B| estimate, clamped at 0."""
    ea, eb, eu = _set_estimates(a, b)
    return max(0, ea - max(0, ea + eb - eu))


def hll_intersection_estimate_col(a, b):
    """Column form: intersection estimate of two binary sketch columns."""

    @pandas_udf("long")
    def _inter(xa: pd.Series, xb: pd.Series) -> pd.Series:
        return pd.Series([
            hll_intersection_estimate(x, y) if x is not None and y is not None
            else 0
            for x, y in zip(xa, xb)
        ])

    return _inter(F.col(a) if isinstance(a, str) else a,
                  F.col(b) if isinstance(b, str) else b)


def hll_union_estimate_col(a, b):
    @pandas_udf("long")
    def _uni(xa: pd.Series, xb: pd.Series) -> pd.Series:
        out = []
        for x, y in zip(xa, xb):
            if x is None:
                out.append(0 if y is None else _sketch(y).estimate())
            elif y is None:
                out.append(_sketch(x).estimate())
            else:
                out.append(hll_union_estimate(x, y))
        return pd.Series(out)

    return _uni(F.col(a) if isinstance(a, str) else a,
                F.col(b) if isinstance(b, str) else b)


def theta_churn(old, new, keys: list[str],
                sketch_col: str = "sketch"):
    """Per-key distinct CHURN between two theta state frames: how many
    keys' members were retained, arrived, and left between two
    populations — the snapshot-diff question (DAU day-over-day, corpus
    membership across ingestion runs) answered from compact states
    alone, never rescanning either population.

    ``old``/``new`` are any ``keys… + <sketch_col>`` frames holding
    serialized THETA states — ``SketchTable.read(version=…)`` /
    ``rollup(..., keep_sketch=True)`` outputs, or ``sketch_agg(...,
    keep_sketch=True)`` results. Theta is required because churn needs
    direct intersection/difference; HLL merges are union-only (see the
    module docstring for why inclusion-exclusion is too noisy for small
    differences). A key present on only one side gets empty-set
    semantics for the other (the theta scalars' null rule), so
    first-seen and fully-departed keys report correctly.

    Returns ``keys… + (retained, arrived, churned)`` — estimates exact
    whenever both states are in theta exact mode (< k distincts).
    One full-outer join of two n_keys-row frames (NULL-SAFE on the key
    columns: groupBy keeps NULL-key groups, and a plain equality join
    would split a stable NULL-key population into a bogus
    fully-churned + fully-arrived row pair); one pandas UDF per row
    deserializes each side's state exactly once for all three outputs.
    Scale-free.
    """

    @pandas_udf("struct<retained:long,arrived:long,churned:long>")
    def _churn_rows(old_s: pd.Series, new_s: pd.Series) -> pd.DataFrame:
        from zetasketch_spark.sketches.theta import ThetaSketch

        rows = []
        for bo, bn in zip(old_s, new_s):
            # a missing side is the empty set (same rule as the theta
            # set-op scalars in sketch_udfs._theta_op)
            so = ThetaSketch.deserialize(bytes(bo)) if bo is not None \
                else ThetaSketch()
            sn = ThetaSketch.deserialize(bytes(bn)) if bn is not None \
                else ThetaSketch()
            rows.append((int(sn.intersect(so).estimate()),
                         int(sn.a_not_b(so).estimate()),
                         int(so.a_not_b(sn).estimate())))
        return pd.DataFrame(rows,
                            columns=["retained", "arrived", "churned"])

    o = old.select(*keys, F.col(sketch_col).alias("_sk_old")).alias("_co")
    n = new.select(*keys, F.col(sketch_col).alias("_sk_new")).alias("_cn")
    cond = F.lit(True)
    for k in keys:
        cond = cond & F.col(f"_co.{k}").eqNullSafe(F.col(f"_cn.{k}"))
    out_keys = [F.coalesce(F.col(f"_co.{k}"), F.col(f"_cn.{k}")).alias(k)
                for k in keys]
    return (
        o.join(n, cond, "full_outer")
        .select(*out_keys,
                _churn_rows("_sk_old", "_sk_new").alias("_c"))
        .select(*keys, "_c.retained", "_c.arrived", "_c.churned")
    )
