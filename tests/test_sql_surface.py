"""The SQL sketch surface against the family contract: every ``*_init_agg``
state is byte-equal to a driver-side ``make -> update -> serialize`` fold
of the same group's rows, and the two-level form (``*_merge_agg`` over
partials per ``(key, spark_partition_id())``) equals the one-level INIT."""

from __future__ import annotations

import pandas as pd
import pytest

# prefix -> (family name, SQL args after the value column, family config,
#            value columns it sketches)
FAMILIES = {
    "hll": ("hll", "13, typeof({c})", {"precision": 13}, ("s", "b", "d")),
    "kll": ("kll", "64", {"k": 64}, ("b", "d")),
    "tdigest": ("tdigest", "50", {"delta": 50}, ("b", "d")),
    "dd": ("ddsketch", "0.02", {"alpha": 0.02}, ("b", "d")),
    "cm": ("countmin", "256, 4", {"width": 256, "depth": 4}, ("s", "b", "d")),
    "cs": ("countsketch", "256, 4", {"width": 256, "depth": 4},
           ("s", "b", "d")),
    "theta": ("theta", "64", {"k": 64}, ("s", "b", "d")),
    "bloom": ("bloom", "4096, 5", {"m": 4096, "k": 5}, ("s", "b", "d")),
    "fd": ("freqdirs", "2", {"ell": 2}, ("e",)),
    "tt": ("timetheta", "64", {"k": 64}, ("s",)),
}
# families whose merge is insensitive to the order partials arrive in, so
# a re-merge of partials is byte-equal to one INIT over all rows (Count-Min
# while its candidates stay under max_candidates; Bloom has no SQL merge)
MERGE_EXACT = {"hll", "dd", "cm", "cs", "theta", "tt"}
COUNT_FIELD = {"kll": "n", "tdigest": "n", "fd": "n"}
SQL_TYPES = {"s": "string", "b": "bigint", "d": "double"}


@pytest.fixture(scope="module")
def rows():
    n = 900
    return pd.DataFrame({
        "g": [f"g{i % 3}" for i in range(n)],
        "s": [None if i % 13 == 0 else f"s{i % 41}" for i in range(n)],
        "b": pd.array([None if i % 7 == 0 else i % 53 for i in range(n)],
                      dtype="Int64"),
        "d": [(i % 97) * 0.5 + 0.25 for i in range(n)],
        "e": [[float(i % 5), float(i % 7) - 3.0, 1.0] for i in range(n)],
        "t": [i % 30 for i in range(n)],
    })


def _family(prefix, col):
    from zetasketch_spark.functions.sketch_udfs import SPARK_TYPE_TO_HASH_DOMAIN
    from zetasketch_spark.sketches.base import get_family

    name, _, cfg, _ = FAMILIES[prefix]
    if prefix == "hll":
        cfg = {**cfg,
               "value_type": SPARK_TYPE_TO_HASH_DOMAIN.get(SQL_TYPES[col])}
    return get_family(name, **cfg)


def _fold(prefix, col, grp):
    """The driver-side Aggregator fold of one group's rows."""
    from zetasketch_spark.functions.sketch_udfs import _canon_keys

    fam = _family(prefix, col)
    st = fam.make()
    values = grp[col].reset_index(drop=True)
    if prefix == "tt":
        fam.update_pair(st, values, grp["t"].reset_index(drop=True))
    elif prefix == "bloom":
        # the SQL surface keys Bloom by canonical string (build and probe
        # UDFs see Arrow-promoted dtypes)
        fam.update(st, _canon_keys(values).dropna())
    else:
        fam.update(st, values)
    return fam.serialize(st)


def _init_sql(prefix, col):
    args = FAMILIES[prefix][1].format(c=col)
    value = f"{col}, t" if prefix == "tt" else col
    return f"{prefix}_init_agg({value}, {args}) AS {col}"


@pytest.mark.parametrize("prefix", list(FAMILIES))
def test_sql_init_state_equals_family_fold_and_two_level_merge(
        spark, rows, prefix):
    from zetasketch_spark.functions.sketch_udfs import register_sql

    register_sql(spark)
    cols = FAMILIES[prefix][3]
    df = spark.createDataFrame(rows)
    # one input partition: each group's rows reach the INIT UDF in table
    # order, the order the driver fold sees them in
    df.coalesce(1).createOrReplaceTempView("sql_states_one")
    df.repartition(4).createOrReplaceTempView("sql_states_many")
    inits = ", ".join(_init_sql(prefix, c) for c in cols)

    one = {r["g"]: r for r in spark.sql(
        f"SELECT g, {inits} FROM sql_states_one GROUP BY g").collect()}
    for c in cols:
        want = {g: _fold(prefix, c, grp) for g, grp in rows.groupby("g")}
        assert {g: bytes(r[c]) for g, r in one.items()} == want, c

    if prefix == "bloom":
        return
    merges = ", ".join(f"{prefix}_merge_agg({c}) AS {c}" for c in cols)
    direct = {r["g"]: r for r in spark.sql(
        f"SELECT g, {inits} FROM sql_states_many GROUP BY g").collect()}
    two = {r["g"]: r for r in spark.sql(f"""
        SELECT g, {merges} FROM (
          SELECT g, spark_partition_id() AS pid, {inits}
          FROM sql_states_many GROUP BY g, spark_partition_id())
        GROUP BY g""").collect()}
    assert set(two) == set(direct) == set(one)
    for c in cols:
        fam = _family(prefix, c)
        for g in two:
            a, b = bytes(two[g][c]), bytes(direct[g][c])
            if prefix in MERGE_EXACT:
                assert a == b, (c, g)
            else:
                # order-sensitive compaction: the same rows, counted once
                fields = [f for f, _ in fam.result_fields]
                ra, rb = (dict(zip(fields, fam.result(fam.deserialize(x))))
                          for x in (a, b))
                assert ra[COUNT_FIELD[prefix]] == rb[COUNT_FIELD[prefix]]

    if prefix == "hll":
        from zetasketch_spark.operators.agg import (
            SKETCH_COL, sketch_merge, sketch_partial)

        for c in cols:
            fam = _family("hll", c)
            pipe = {r["g"]: bytes(r[SKETCH_COL]) for r in sketch_merge(
                sketch_partial(spark.table("sql_states_many"), ["g"], c, fam),
                ["g"], fam).collect()}
            assert pipe == {g: bytes(r[c]) for g, r in one.items()}, c


@pytest.mark.parametrize("call, usage", [
    ("hll_init_agg(id)", r"hll_init_agg\(col, precision, typeof\(col\)\)"),
    ("cm_init_agg(id, 256, 4, 1)", r"cm_init_agg\(col, width, depth\)"),
])
def test_sql_init_wrong_arity_names_usage(spark, call, usage):
    """A Python UDF has no analysis-time arity, so the INIT checks its
    argument count in the worker and names its SQL usage."""
    from zetasketch_spark.functions.sketch_udfs import register_sql

    register_sql(spark)
    with pytest.raises(Exception, match=r"ValueError: .*usage: " + usage):
        spark.sql(f"SELECT {call} AS sk FROM range(5)").collect()


SQL_NAMES = {
    "hll_init_agg", "hll_merge_agg", "hll_estimate", "hll_num_values",
    "hll_unique_stats", "hll_count_init", "hll_count_merge_partial",
    "hll_count_merge", "hll_count_extract",
    "kll_init_agg", "kll_merge_agg", "kll_quantile",
    "tdigest_init_agg", "tdigest_merge_agg", "tdigest_quantile",
    "dd_init_agg", "dd_merge_agg", "dd_quantile",
    "cm_init_agg", "cm_merge_agg", "cm_point_query",
    "bloom_init_agg", "bloom_contains",
    "theta_init_agg", "theta_merge_agg", "theta_estimate",
    "theta_union_estimate", "theta_intersection_estimate",
    "theta_a_not_b_estimate", "theta_jaccard",
    "fd_init_agg", "fd_merge_agg", "fd_error_certificate", "fd_drift",
    "fd_drift_bound",
    "cs_init_agg", "cs_merge_agg", "cs_point_est", "cs_f2",
    "cs_inner_product",
    "tt_init_agg", "tt_merge_agg", "tt_estimate", "tt_active_since",
    "tt_new_since", "tt_active_sd_since",
}


def test_registered_sql_names(spark):
    from types import SimpleNamespace

    from zetasketch_spark.functions.sketch_udfs import register_sql

    names = []
    register_sql(SimpleNamespace(udf=SimpleNamespace(
        register=lambda name, f: names.append(name))))
    assert len(names) == len(set(names)) == 46
    assert set(names) == SQL_NAMES
