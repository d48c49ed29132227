"""BigQuery-style sketch functions for DataFrame/SQL use.

ZetaSketch's production surface is BigQuery's ``HLL_COUNT.INIT`` /
``HLL_COUNT.MERGE_PARTIAL`` / ``HLL_COUNT.MERGE`` / ``HLL_COUNT.EXTRACT``
(see the reference README.md:22-27), a thin layer over one Aggregator
contract. Here that contract is ``sketches.base.SketchFamily``, and the
whole SQL and ``Column`` surface is generated from it by five factories:

* INIT (``_init_udf``)       — grouped aggregate ``(values, *args)``:
  the positional SQL arguments bind to the family's constructor, then
  ``make -> update -> serialize``. States are byte-equal to a driver-side
  fold of the same rows (``tests/test_sql_surface.py``).
* MERGE (``_merge_udf``)     — grouped aggregate over states
  (``SketchFamily.merge_states``): NULL for a group with no state;
  ``hll_count_merge`` adds the result step (0 with no state).
* per-state scalar (``_state_udf``), e.g. ``hll_estimate``, ``cs_f2``.
* (state, arg) extract (``_extract_udf``), e.g. ``kll_quantile``.
* pairwise scalar (``_pair_udf``): ``fd_drift``, ``cs_inner_product`` and
  the theta set ops (a null theta side is the empty set).

``register_sql(spark)`` registers, per family prefix ``hll``, ``kll``,
``tdigest``, ``dd`` (DDSketch), ``cm`` (Count-Min), ``bloom``, ``theta``,
``fd`` (Frequent Directions over ``array<float|double>``), ``cs``
(CountSketch) and ``tt`` (temporal theta), a ``<prefix>_init_agg`` and
(Bloom excepted) a ``<prefix>_merge_agg``, plus the extractors listed in
``_PER_STATE`` / ``_BY_STATE`` / ``_PAIRWISE``. The SQL HLL init form is
``hll_init_agg(col, precision, typeof(col))``: the third argument pins the
hash domain from the declared type, exactly like the DataFrame surface.
SQL also gets the literal BigQuery spelling — ``hll_count_init`` /
``hll_count_merge_partial`` / ``hll_count_merge`` (merge+extract, BIGINT)
/ ``hll_count_extract`` — so queries port with a dot→underscore rename.
An INIT called with the wrong number of arguments raises a ``ValueError``
naming its usage (inside the worker: a Python UDF has no analysis-time
arity).

SQL INIT ships raw rows to one pandas call per group and has no map-side
partial. For large inputs build states with
``zetasketch_spark.operators.agg.sketch_partial`` (partial sketches before
the shuffle) and merge them with ``*_merge_agg``: merge is associative and
order-insensitive post-compact, so the two paths give the same bytes.

Usage::

    df.groupBy("role").agg(hll_init_agg("conv_id", 15).alias("sk"))
      .select("role", hll_estimate("sk"))
"""

from __future__ import annotations

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql.functions import pandas_udf

from zetasketch_spark.sketches.base import get_family


SPARK_TYPE_TO_HASH_DOMAIN = {
    "bigint": "long", "int": "int", "smallint": "int", "tinyint": "int",
    "double": "double", "float": "float",
}


def pin_value_type(family, df, col: str):
    """Return ``family`` with its HLL hash domain pinned from the Spark
    schema (on a COPY — never mutate the caller's object). The single
    source of the schema->recipe rule: Arrow promotes nullable int
    columns to float64 per batch, so families that reach a pandas fabric
    without a declared type would hash one column via two recipes."""
    if getattr(family, "value_type", "n/a") is not None:
        return family
    pinned = SPARK_TYPE_TO_HASH_DOMAIN.get(df.schema[col].dataType.simpleString())
    if pinned is None:
        return family
    import copy

    family = copy.copy(family)
    family.value_type = pinned
    return family


def _col(c):
    return F.col(c) if isinstance(c, str) else c


def _canon_keys(s: pd.Series) -> pd.Series:
    """Canonical string form for SQL-surface sketch keys — the shared
    per-value rule in `hashing.canon_key_series` (Arrow promotes nullable
    int columns to float64 per batch, so the SAME key can reach an init
    UDF as 123.0 and a probe UDF as 123 — different hash domains, silent
    misses, unless canonicalized per value)."""
    from zetasketch_spark.hashing import canon_key_series

    return canon_key_series(s)


def _extract_by_state(states: pd.Series, args: pd.Series, deserialize,
                      fn, missing):
    """Vectorized EXTRACT over (state, arg) rows: deserialize each distinct
    blob ONCE and evaluate all its rows together (the state column is
    usually constant or low-cardinality after a group-by)."""
    out = [missing] * len(states)
    by_blob: dict[bytes, list[int]] = {}
    for i, b in enumerate(states.reset_index(drop=True)):
        if b is not None:
            by_blob.setdefault(bytes(b), []).append(i)
    a = args.reset_index(drop=True)
    for blob, idx in by_blob.items():
        sk = deserialize(blob)
        vals = fn(sk, a.iloc[idx])
        for i, v in zip(idx, vals):
            out[i] = v
    return pd.Series(out)


# SQL prefix -> (family, value columns, constructor parameters in SQL
# argument order); HLL's ``value_type`` is passed as ``typeof(col)``
_SQL = {
    "hll": ("hll", ("col",), ("precision", "value_type")),
    "kll": ("kll", ("col",), ("k",)),
    "tdigest": ("tdigest", ("col",), ("delta",)),
    "dd": ("ddsketch", ("col",), ("alpha",)),
    "cm": ("countmin", ("col",), ("width", "depth")),
    "bloom": ("bloom", ("col",), ("m", "k")),
    "theta": ("theta", ("col",), ("k",)),
    "fd": ("freqdirs", ("embedding",), ("ell",)),
    "cs": ("countsketch", ("col",), ("width", "depth")),
    "tt": ("timetheta", ("key", "time_units"), ("k",)),
}


def _param(param: str, v):
    """One SQL literal argument -> ``(constructor argument, value)``."""
    if param == "value_type":
        return param, SPARK_TYPE_TO_HASH_DOMAIN.get(str(v))
    return param, float(v) if param == "alpha" else int(v)


def _init_udf(prefix: str, name: str | None = None, **fixed):
    """INIT: a ``(values, *args)`` grouped aggregate -> serialized state.
    The positional arguments after the value column(s) bind, in order, to
    the constructor parameters ``fixed`` leaves open (a ``None`` in
    ``fixed`` leaves it open); an empty group keeps the family defaults."""
    family, value_cols, params = _SQL[prefix]
    name = name or f"{prefix}_init_agg"
    fixed = {k: v for k, v in fixed.items() if v is not None}
    free = [p for p in params if p not in fixed]
    n_args = len(value_cols) + len(free)
    usage = "{}({})".format(name, ", ".join(
        value_cols + params).replace("value_type", "typeof(col)"))

    @pandas_udf("binary")
    def _init(values: pd.Series, *args: pd.Series) -> object:
        if 1 + len(args) != n_args:
            raise ValueError(f"{name} takes {n_args} arguments, got "
                             f"{1 + len(args)}; usage: {usage}")
        lits = args[len(value_cols) - 1:]
        fam = get_family(family, **fixed, **dict(
            _param(p, s.iloc[0]) for p, s in zip(free, lits) if len(s)))
        st = fam.make()
        if prefix == "tt":
            fam.update_pair(st, values, args[0])
        elif prefix == "bloom":
            fam.update(st, _canon_keys(values).dropna())
        else:
            fam.update(st, values)
        return fam.serialize(st)

    return _init


def _merge_udf(family: str, extract: bool = False):
    """MERGE_PARTIAL: merge a group's states, skipping nulls; NULL for a
    group with no state. ``extract`` adds the result step (BigQuery
    ``HLL_COUNT.MERGE``): the first result field, 0 with no state."""
    fam = get_family(family)

    @pandas_udf("long" if extract else "binary")
    def _merge(states: pd.Series) -> object:
        acc = fam.merge_states(states)
        if extract:
            return int(fam.result(acc)[0]) if acc is not None else 0
        return fam.serialize(acc) if acc is not None else None

    return _merge


def _state_udf(rettype: str, family: str, fn, missing):
    """Per-state scalar: ``fn(state)`` per row, ``missing`` for NULL."""
    fam = get_family(family)

    @pandas_udf(rettype)
    def _per_state(states: pd.Series) -> pd.Series:
        return pd.Series(
            [fn(fam.deserialize(bytes(b))) if b is not None else missing
             for b in states],
            dtype="float64" if rettype == "double" else None)

    return _per_state


def _extract_udf(rettype: str, family: str, fn, missing):
    """(state, arg) extract: ``fn(state, args)`` over each distinct
    state's rows, ``missing`` for a NULL state."""
    fam = get_family(family)

    @pandas_udf(rettype)
    def _extract(states: pd.Series, args: pd.Series) -> pd.Series:
        return _extract_by_state(states, args, fam.deserialize, fn, missing)

    return _extract


def _pair_udf(rettype: str, family: str, fn):
    """Pairwise scalar over two state columns: ``fn(a, b)`` per row on the
    deserialized states, ``None`` standing for a NULL side."""
    fam = get_family(family)

    @pandas_udf(rettype)
    def _pair(a: pd.Series, b: pd.Series) -> pd.Series:
        return pd.Series(
            [fn(*(fam.deserialize(bytes(x)) if x is not None else None
                  for x in xy)) for xy in zip(a, b)],
            dtype="float64" if rettype == "double" else None)

    return _pair


def _quantiles(sk, qs):
    return [sk.quantile(float(q)) for q in qs]


def _cm_point(cm, keys):
    kk = _canon_keys(keys)
    est = cm.point_query_series(kk.fillna(""))
    est[kk.isna().to_numpy()] = 0  # null keys have no identity
    return [int(v) for v in est]


def _since(method: str, cast):
    return lambda sk, ts: [cast(getattr(sk, method)(int(t))) for t in ts]


def _strict(fn):
    """NULL when either side is NULL."""
    return lambda a, b: None if a is None or b is None else fn(a, b)


def _fd_drift(i: int):
    def drift(a, b):
        from zetasketch_spark.sketches.freqdirs import gram_drift

        return float(gram_drift(a, b)[i])

    return _strict(drift)


def _theta_op(op: str):
    """A theta set op where a NULL side is the empty set: union -> the
    other side's estimate, intersect/jaccard -> 0, a_not_b -> a's."""
    def setop(sa, sb):
        from zetasketch_spark.sketches.theta import ThetaSketch

        if op == "union":
            # a null side must NOT degrade the other's k (merge takes
            # min-k): union with the empty set is the other side
            if sa is None or sb is None:
                one = sb if sa is None else sa
                return one.estimate() if one is not None else 0
            sa.merge(sb)
            return sa.estimate()
        sa = sa if sa is not None else ThetaSketch()
        sb = sb if sb is not None else ThetaSketch()
        if op == "intersect":
            return sa.intersect(sb).estimate()
        if op == "a_not_b":
            return sa.a_not_b(sb).estimate()
        return float(sa.jaccard(sb))

    return setop


# SQL name -> (return type, family, fn(state), value for a NULL state)
_PER_STATE = {
    "hll_estimate": ("long", "hll", lambda sk: sk.estimate(), 0),
    "hll_count_extract": ("long", "hll", lambda sk: sk.estimate(), 0),
    "hll_num_values": ("long", "hll", lambda sk: sk.num_values, 0),
    "hll_unique_stats": ("binary", "hll",
                         lambda sk: sk.unique_stats_proto(), None),
    "theta_estimate": ("long", "theta", lambda sk: sk.estimate(), 0),
    # the FD error certificate of the merged embeddings
    "fd_error_certificate": ("double", "freqdirs",
                             lambda sk: float(sk.error_certificate()), None),
    # AMS second frequency moment (self-join size) of the sketched column
    "cs_f2": ("double", "countsketch", lambda sk: float(sk.f2_estimate()),
              None),
    "tt_estimate": ("long", "timetheta", lambda sk: sk.estimate(), 0),
}
# SQL name -> (return type, family, fn(state, args), value for a NULL state)
_BY_STATE = {
    "kll_quantile": ("double", "kll", _quantiles, None),
    "tdigest_quantile": ("double", "tdigest", _quantiles, None),
    "dd_quantile": ("double", "ddsketch", _quantiles, None),
    "cm_point_query": ("long", "countmin", _cm_point, 0),
    "bloom_contains": ("boolean", "bloom", lambda bf, ks: [
        bool(v) for v in bf.contains_series(_canon_keys(ks))], False),
    # unbiased median-of-rows frequency estimate of key within state
    "cs_point_est": ("long", "countsketch", lambda sk, ks: [
        int(v) for v in sk.point_query_series(ks)], None),
    # distinct keys last seen at time unit >= since (suffix window) ...
    "tt_active_since": ("long", "timetheta", _since("estimate_since", int),
                        None),
    # ... and FIRST seen at time unit >= since (acquisition window)
    "tt_new_since": ("long", "timetheta", _since("estimate_new_since", int),
                     None),
    "tt_active_sd_since": ("double", "timetheta",
                           _since("estimate_sd_since", float), None),
}
# SQL name -> (return type, family, fn(state_a, state_b))
_PAIRWISE = {
    "theta_union_estimate": ("long", "theta", _theta_op("union")),
    "theta_intersection_estimate": ("long", "theta", _theta_op("intersect")),
    "theta_a_not_b_estimate": ("long", "theta", _theta_op("a_not_b")),
    "theta_jaccard": ("double", "theta", _theta_op("jaccard")),
    # embedding drift between two FD states and its sound error interval
    # (sketches/freqdirs.py::gram_drift)
    "fd_drift": ("double", "freqdirs", _fd_drift(0)),
    "fd_drift_bound": ("double", "freqdirs", _fd_drift(1)),
    # unbiased join-size-with-multiplicity estimate from two states built
    # with the same (width, depth, seed)
    "cs_inner_product": ("double", "countsketch", _strict(
        lambda a, b: float(a.inner_product(b)))),
}


def register_sql(spark) -> None:
    """Register the INIT / MERGE_PARTIAL / EXTRACT functions of every
    sketch family for use from ``spark.sql``."""
    udfs = {}
    for prefix, (family, _, _) in _SQL.items():
        udfs[f"{prefix}_init_agg"] = _init_udf(prefix)
        if prefix != "bloom":
            udfs[f"{prefix}_merge_agg"] = _merge_udf(family)
    # the literal BigQuery HLL_COUNT.* spelling (dots are not valid in
    # Spark function names); MERGE is the merge+extract composite
    udfs["hll_count_init"] = _init_udf("hll", "hll_count_init")
    udfs["hll_count_merge_partial"] = udfs["hll_merge_agg"]
    udfs["hll_count_merge"] = _merge_udf("hll", extract=True)
    udfs.update({n: _state_udf(*s) for n, s in _PER_STATE.items()})
    udfs.update({n: _extract_udf(*s) for n, s in _BY_STATE.items()})
    udfs.update({n: _pair_udf(*s) for n, s in _PAIRWISE.items()})
    for name, udf in udfs.items():
        spark.udf.register(name, udf)


def hll_init_agg(col, precision: int = 15, sparse_precision: int | None = None,
                 value_type: str | None = None):
    """Grouped-aggregate: build an HLL++ sketch from a value column.
    Equivalent of BigQuery ``HLL_COUNT.INIT(col, precision)``.

    The hash domain is pinned from the column's DECLARED Spark type
    (shipped into the UDF via ``typeof()``), never guessed from batch
    dtypes: Arrow promotes nullable int columns to float64 per batch, so
    any per-batch heuristic would hash the same column through different
    recipes in different groups. ``value_type`` ('long' | 'int' |
    'double' | 'float') overrides the declared type if set."""
    c = _col(col)
    init = _init_udf("hll", precision=precision,
                     sparse_precision=sparse_precision, value_type=value_type)
    return init(c) if value_type else init(c, F.call_function("typeof", c))


def hll_merge_agg(col):
    """Grouped-aggregate: merge serialized sketches. Equivalent of BigQuery
    ``HLL_COUNT.MERGE_PARTIAL``; compose with :func:`hll_estimate` for
    ``HLL_COUNT.MERGE``. Re-merging fine-grained sketches to coarser
    grouping levels is exact (sketch rollup property)."""
    return _merge_udf("hll")(_col(col))


def hll_estimate(col):
    """Scalar: cardinality estimate from a serialized sketch. Equivalent of
    BigQuery ``HLL_COUNT.EXTRACT``."""
    return _state_udf(*_PER_STATE["hll_estimate"])(_col(col))


def hll_unique_stats(col) -> "Column":
    """Serialized ``UniqueStatsProto`` (unique-stats.proto:25-31) for a
    serialized HLL state column — the stats-consumer wire surface
    (estimated cardinality + published expected error)."""
    return _state_udf(*_PER_STATE["hll_unique_stats"])(_col(col))


def hll_num_values(col):
    """Scalar: total values absorbed (`Aggregator.numValues`)."""
    return _state_udf(*_PER_STATE["hll_num_values"])(_col(col))


def theta_init_agg(col, k: int = 4096):
    """Grouped-aggregate: build a theta (KMV) sketch from a key column —
    the set-operation-capable distinct counter (`sketches/theta.py`).
    Keys go through the same string-canonical domain as Count-Min/Bloom."""
    return _init_udf("theta", k=k)(_col(col))


def theta_merge_agg(col):
    """Grouped-aggregate: union serialized theta sketches."""
    return _merge_udf("theta")(_col(col))


def theta_estimate(col):
    """Scalar: distinct estimate from a serialized theta sketch."""
    return _state_udf(*_PER_STATE["theta_estimate"])(_col(col))


def theta_union_estimate(a, b):
    """Scalar: distinct estimate of A ∪ B from two serialized theta
    sketch columns — per-ROW, so grouped set ops run distributed."""
    return _pair_udf(*_PAIRWISE["theta_union_estimate"])(_col(a), _col(b))


def theta_intersection_estimate(a, b):
    """Scalar: distinct estimate of A ∩ B (direct, not
    inclusion-exclusion) from two serialized theta sketch columns."""
    return _pair_udf(*_PAIRWISE["theta_intersection_estimate"])(
        _col(a), _col(b))


def theta_a_not_b_estimate(a, b):
    """Scalar: distinct estimate of A ∖ B."""
    return _pair_udf(*_PAIRWISE["theta_a_not_b_estimate"])(_col(a), _col(b))


def theta_jaccard(a, b):
    """Scalar: Jaccard similarity of the two key sets."""
    return _pair_udf(*_PAIRWISE["theta_jaccard"])(_col(a), _col(b))


def tuple_distinct_col(*cols) -> "Column":
    """Serialize a column tuple into ONE string column for multi-column
    distinct counting (``COUNT(DISTINCT a, b, ...)``): US-separated
    string concatenation, so the standard HLL string recipe applies
    unchanged and states stay wire-compatible. NULL fields are skipped by
    concat_ws (match that in any exact companion)."""
    return F.concat_ws(
        "\u001f", *[_col(c).cast("string") for c in cols])
