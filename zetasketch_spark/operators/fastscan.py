"""Parquet split-list adapter, the one split kernel, and the RDD fold.

Why this exists: sketch partial aggregation is an update-heavy leaf — every
input row crosses into Python, but only tiny serialized states come back.
Measured on this machine, Spark's JVM->Python Arrow handoff tops out around
~3M rows/s *regardless of core count* (the JVM decodes fast and Python
hashes fast, but the boundary is a shared ceiling), which caps scaling.
Reading the parquet row groups directly with pyarrow inside each worker
removes the boundary from the per-row path entirely: the JVM ships only
(file, row-group) split descriptors out and sketch blobs back.

One kernel, two adapters, one fold:
* ``split_states`` is the zetasketch Aggregator contract (create / add /
  serialize) over Arrow tables: each spec's column is prepared once per
  table (``family.prepare_arrow``), rows are grouped by
  ``grouping.arrow_group_indices`` and every group slice goes to
  ``update_prepared``. Single-family aggregation is the one-spec case.
* Input adapters: a parquet split list (a directory, a single file, or
  the explicit file list ``operators.agg._plain_parquet_files`` hands
  over — the *leaf-scan short circuit* for plain parquet projections),
  and the DataFrame ``mapInArrow`` adapter in ``operators.agg``.
* ``fold_splits``: one ``reduceByKey`` over tuples of blobs, then the result
  rows straight from the reducer. Everything after a DataFrame partial
  stage (shuffle, merge, result, joins, windows) stays DataFrame/Catalyst.
* At cluster scale the split planning below is what Spark's own
  FileSourceScan does: row-group-aligned splits, bin-packed by bytes.

Derived keys: a small expression language (("to_date", col)) covers the
day-bucket case so `(role, days(ts))` grouping needs no JVM round trip.
Derived values: the sketched column itself can be an expression —
``col=("length", "text")`` sketches the per-row string length (the KLL
turn-length case) without materializing it through the JVM first.
"""

from __future__ import annotations

import glob as _glob
import os

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    BinaryType, IntegerType, LongType, StructField, StructType)

from zetasketch_spark.operators.agg import (
    PARTITION_COL, ROWS_COL, SKETCH_COL, sql_type)
from zetasketch_spark.operators.grouping import arrow_group_indices

# row-group splits are bin-packed to this many bytes before the
# under-parallel re-plan (``_plan``)
SPLIT_BYTES = 96 << 20


def partition_values(f: str, root: str) -> dict[str, str]:
    """Hive/Iceberg-style partition values from ``key=value`` path
    segments between ``root`` and the file."""
    rel = os.path.relpath(f, root)
    out: dict[str, str] = {}
    for seg in rel.split(os.sep)[:-1]:
        if "=" in seg:
            k, v = seg.split("=", 1)
            out[k] = v
    return out


def plan_splits(path: str, target_bytes: int = SPLIT_BYTES,
                partition_filter: dict | None = None,
                ) -> list[tuple[str, list[int]]]:
    """Row-group-aligned splits bin-packed to ~target_bytes, like
    FileSourceScan's openCost/maxPartitionBytes planning. Handles flat
    AND Hive/Iceberg-partitioned (``key=value`` directory) layouts;
    ``partition_filter={col: value-or-iterable}`` drops whole files at
    planning time — partition pruning with zero I/O, the parquet twin of
    Iceberg's partition-spec scan planning."""
    import pyarrow.parquet as pq

    if isinstance(path, (list, tuple)):
        # pre-resolved file list (the DataFrame-fabric leaf-scan short
        # circuit hands us df.inputFiles()); no partition columns
        files = sorted(path)
    elif os.path.isfile(path):
        # single-file table (e.g. the driver's sf*/events.parquet): one
        # file, still row-group split below; no partition columns
        files = [path]
    else:
        files = sorted(_glob.glob(os.path.join(path, "*.parquet"))) or \
            sorted(_glob.glob(os.path.join(path, "**", "*.parquet"),
                              recursive=True))
    norm = {}
    for k, v in (partition_filter or {}).items():
        vals = list(v) if isinstance(v, (list, tuple, set, frozenset)) else [v]
        norm[k] = {str(x) for x in vals}
    if norm and files:
        # a filter key absent from the layout would silently aggregate
        # everything while the caller believes it was pruned
        present = set(partition_values(files[0], path))
        missing = set(norm) - present
        if missing:
            raise ValueError(
                f"partition_filter keys {sorted(missing)} are not partition "
                f"columns of {path} (found: {sorted(present) or 'none — flat layout'})")
    splits: list[tuple[str, list[int]]] = []
    for f in files:
        if norm:
            pv = partition_values(f, path)
            if any(pv.get(k) not in want for k, want in norm.items()):
                continue
        md = pq.ParquetFile(f).metadata
        cur: list[int] = []
        cur_bytes = 0
        for rg in range(md.num_row_groups):
            sz = md.row_group(rg).total_byte_size
            if cur and cur_bytes + sz > target_bytes:
                splits.append((f, cur))
                cur, cur_bytes = [], 0
            cur.append(rg)
            cur_bytes += sz
        if cur:
            splits.append((f, cur))
    return splits


def _derive_key_arrays(tbl, keys, derived: dict, part_values: dict | None = None):
    """Returns dict key -> pandas-able arrow array for grouping. Keys
    naming partition columns come from the path (constant per file)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    out = {}
    for k in keys:
        if part_values and k in part_values and k not in derived \
                and k not in tbl.column_names:
            out[k] = pa.array([part_values[k]] * tbl.num_rows)
        elif k in derived:
            op, src = derived[k]
            if op == "to_date":
                out[k] = pc.cast(pc.floor_temporal(tbl[src], unit="day"), pa.date32())
            elif op == "date_str":
                out[k] = pc.strftime(tbl[src], format="%Y-%m-%d")
            else:
                raise ValueError(f"unknown derived-key op {op!r}")
        else:
            out[k] = tbl[k]
    return out


def _value_source(col) -> str:
    """The parquet column a (possibly derived) value expression reads."""
    return col[1] if isinstance(col, tuple) else col


def _derive_value_array(tbl, col):
    """The sketched value as a single pyarrow Array. ``col`` is a plain
    column name or ``(op, source_col)`` with op in {"length",
    "cast_double"} — "length" matches Spark's ``length()`` (code points,
    cast to double for the quantile families)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    if isinstance(col, tuple):
        op, src = col
        if op == "length":
            src_arr = tbl[src]
            if pa.types.is_dictionary(src_arr.type):
                # dictionary-encoded strings (parquet's default for
                # repetitive text): length each dictionary VALUE once,
                # gather by index — pc.utf8_length has no dictionary
                # kernel, and this is O(dict) instead of O(rows) anyway.
                # Null rows have null indices, which take() preserves.
                if isinstance(src_arr, pa.ChunkedArray):
                    src_arr = src_arr.combine_chunks()
                chunks = (src_arr.chunks
                          if isinstance(src_arr, pa.ChunkedArray)
                          else [src_arr])
                val = pa.chunked_array([
                    pc.take(pc.cast(pc.utf8_length(c.dictionary),
                                    pa.float64()), c.indices)
                    for c in chunks] or
                    [pa.array([], type=pa.float64())])
            else:
                val = pc.cast(pc.utf8_length(src_arr), pa.float64())
        elif op == "cast_double":
            val = pc.cast(tbl[src], pa.float64())
        else:
            raise ValueError(f"unknown derived-value op {op!r}")
    else:
        val = tbl[col]
    if isinstance(val, pa.ChunkedArray):
        val = val.combine_chunks()
    if isinstance(val, pa.ChunkedArray):  # combine_chunks may keep the type
        val = val.chunk(0) if val.num_chunks else pa.array([], type=val.type)
    return val


# arrow physical type -> Spark DDL for group-key columns materialized from
# the RDD fabric (unmapped exotic types fall back to their string form
# rather than failing at planning time)
_ARROW_TO_DDL = {"string": "string", "large_string": "string",
                 "int64": "bigint", "int32": "int", "int16": "int",
                 "int8": "int", "bool": "boolean",
                 "double": "double", "float": "float",
                 "date32[day]": "date"}


def _plan_key_types(splits, keys, derived, part_keys) -> list[str]:
    """Spark DDL type per group key, resolved from the first split's
    parquet footer (derived keys and path-materialized partition keys
    have fixed types)."""
    import pyarrow.parquet as pq

    sample_schema = pq.read_schema(splits[0][0]) if splits else None

    def _key_type(k: str) -> str:
        if k in derived:
            return "date" if derived[k][0] == "to_date" else "string"
        if k in part_keys:
            return "string"
        if sample_schema is None:
            return "string"
        typ = str(sample_schema.field(k).type)
        if typ.startswith("timestamp"):  # any unit, with or without tz
            return "timestamp"
        return _ARROW_TO_DDL.get(typ, "string")

    return [_key_type(k) for k in keys]


def _coerce_key(v, t):
    # pandas surfaces nullable int keys as floats with NaN — restore
    # the declared type (None for NaN) so the explicit schema accepts it;
    # a NaN in a float key column is a group of its own, as in Spark
    import datetime
    import math

    if isinstance(v, np.generic):
        v = v.item()
    if hasattr(v, "to_pydatetime"):
        # timestamp[ns] keys (Spark's INT96) come as pandas Timestamps of
        # UTC instants; Spark keeps whole microseconds
        v = v.floor("us").to_pydatetime()
        if v.tzinfo is None and t == "timestamp":
            v = v.replace(tzinfo=datetime.timezone.utc)
    if v is None or (isinstance(v, float) and math.isnan(v)
                      and t not in ("double", "float")):
        return None
    if t in ("bigint", "int") and isinstance(v, float):
        return int(v)
    if t == "string" and not isinstance(v, str):
        return str(v)
    return v


def split_states(tables, keys, specs: dict[str, tuple], derived=None):
    """The one split kernel: fold one task's Arrow tables (parquet splits
    or ``mapInArrow`` batches, given as ``(table, partition_values)``
    pairs) into per-key states, then yield ``(key, (blobs, rows))`` with
    one serialized blob per spec in ``specs`` order.

    ``specs``: ``{name: (value_col_or_derived, family)}``. Each spec's
    column is prepared once per table; groups are sliced by row indices
    in ascending order, so each group's rows reach ``update_prepared`` in
    table order."""
    fams = [fam for _, fam in specs.values()]
    derived = derived or {}
    acc: dict = {}
    for tbl, part_values in tables:
        prepared = [fam.prepare_arrow(_derive_value_array(tbl, c))
                    for c, fam in specs.values()]
        if keys:
            groups = arrow_group_indices(
                _derive_key_arrays(tbl, keys, derived, part_values))
        else:
            groups = {(): np.arange(tbl.num_rows)}
        for key, idx in groups.items():
            if not isinstance(key, tuple):
                key = (key,)
            entry = acc.get(key)
            if entry is None:
                entry = acc[key] = [[fam.make() for fam in fams], 0]
            for fam, state, prep in zip(fams, entry[0], prepared):
                fam.update_prepared(state, prep[idx])
            entry[1] += len(idx)
    for key, (states, rows) in acc.items():
        yield key, (tuple(fam.serialize(s) for fam, s in zip(fams, states)),
                    rows)


def _plan(sc, path, partition_filter=None):
    """``(splits, n_tasks, n_reduce)`` for a parquet path or file list.

    * An under-parallel input (fewer splits than cores, e.g. one ~150MB
      file) is re-planned at row-group granularity, so every row group is
      its own task instead of 1-2 byte-binned splits (measured 4.5 s ->
      ~1 s on a 10M-row single-file table at sf10).
    * One wave of ``min(splits, cores)`` tasks, not two: every (task, key)
      state is serialized, shuffled and re-merged, so more tasks cost more
      partial states plus scheduling — measured 0.9 s -> 0.63 s for the
      map stage at 80 splits / 32 cores. Splits are size-binned, so one
      wave stays balanced.
    * Reduce width: every reduce partition is a Python-worker round trip;
      with key counts far below the partition count most trips carry
      almost nothing (measured 1.6 s -> 1.3 s going 64 -> 16 at 465
      keys). Half the cores locally, capped at 64 on big clusters."""
    cpus = sc.defaultParallelism
    splits = plan_splits(path, partition_filter=partition_filter)
    if 0 < len(splits) < cpus:
        splits = plan_splits(path, 1, partition_filter)
    return (splits, max(1, min(len(splits), cpus)),
            max(4, min(64, max(cpus // 2, 4), len(splits))))


def _scan(spark, path, keys, specs, derived=None, partition_filter=None):
    """The parquet split-list adapter: ``(rdd, splits, part_keys,
    n_reduce)`` where ``rdd`` runs ``split_states`` over each task's
    splits, so states accumulate per task, not per split. Group keys
    naming Hive/Iceberg partition columns come from the path."""
    derived = derived or {}
    splits, n_tasks, n_red = _plan(spark.sparkContext, path, partition_filter)
    part_cols = (set(partition_values(splits[0][0], path))
                 if splits and isinstance(path, str) else set())
    part_keys = {k for k in keys if k in part_cols and k not in derived}
    read_cols = sorted({*[_value_source(c) for c, _ in specs.values()],
                        *[k for k in keys
                          if k not in derived and k not in part_keys],
                        *[src for (_, src) in derived.values()]})
    items = [(f, rgs, partition_values(f, path) if part_keys else None)
             for f, rgs in splits]
    keys_t = tuple(keys)

    def run_task(it):
        import pyarrow.parquet as pq

        tables = ((pq.ParquetFile(f).read_row_groups(
                      rgs, columns=read_cols, use_threads=False)
                   .combine_chunks(), pv) for f, rgs, pv in it)
        return split_states(tables, keys_t, specs, derived)

    rdd = spark.sparkContext.parallelize(items, n_tasks).mapPartitions(run_task)
    return rdd, splits, part_keys, n_red


def split_partials(spark, files, keys, specs, key_fields) -> DataFrame:
    """Stage-1 partials over an explicit parquet file list — the leaf-scan
    short circuit behind ``operators.agg.sketch_partial``: the SAME
    ``keys + (one blob per spec, rows_seen, partition_id)`` frame the
    ``mapInArrow`` adapter produces, so merge/result compose unchanged;
    ``partition_id`` is the Spark task partition id."""
    rdd = _scan(spark, files, keys, specs)[0]
    key_types = [f.dataType.simpleString() for f in key_fields]
    out_schema = StructType(list(key_fields) + [
        StructField(n, BinaryType()) for n in specs] + [
        StructField(ROWS_COL, LongType()),
        StructField(PARTITION_COL, IntegerType())])
    return spark.createDataFrame(rdd.mapPartitionsWithIndex(
        lambda pid, it: ((*map(_coerce_key, k, key_types), *blobs, rows, pid)
                         for k, (blobs, rows) in it)),
        out_schema)


def fold_splits(spark, path, keys, specs, derived=None, partition_filter=None,
                key_fields=None, prefixed=True,
                keep_sketch=False) -> DataFrame:
    """Scan + ``reduceByKey`` fold + result rows, entirely in the RDD
    runner: ``keys + (rows_seen, result fields per spec)``. Result columns
    are ``<spec>_<field>`` when ``prefixed``; ``keep_sketch`` appends each
    spec's merged blob under the spec name. ``key_fields`` (from a
    DataFrame schema) override the types planned from the footers."""
    derived = derived or {}
    rdd, splits, part_keys, n_red = _scan(spark, path, keys, specs, derived,
                                          partition_filter)
    if key_fields is None:
        key_fields = [StructField(k, sql_type(t)) for k, t in
                      zip(keys, _plan_key_types(splits, keys, derived,
                                                part_keys))]
    key_types = [f.dataType.simpleString() for f in key_fields]
    fams = [fam for _, fam in specs.values()]
    fields = list(key_fields) + [StructField(ROWS_COL, LongType())]
    for n, fam in zip(specs, fams):
        fields += [StructField(f"{n}_{fn}" if prefixed else fn,
                               sql_type(t))
                   for fn, t in fam.result_fields]
    if keep_sketch:
        fields += [StructField(n, BinaryType()) for n in specs]

    def merge_pair(a, b):
        return (tuple(fam.serialize(fam.merge(fam.deserialize(x),
                                              fam.deserialize(y)))
                      for fam, x, y in zip(fams, a[0], b[0])),
                a[1] + b[1])

    def to_row(kv):
        key, (blobs, rows_seen) = kv
        rec = [_coerce_key(v, t) for v, t in zip(key, key_types)]
        rec.append(int(rows_seen))
        for fam, blob in zip(fams, blobs):
            rec += [x.item() if isinstance(x, np.generic) else x
                    for x in fam.result(fam.deserialize(blob))]
        if keep_sketch:
            rec += blobs
        return tuple(rec)

    # result extraction stays distributed: no driver collect, so a
    # high-cardinality group key is as safe here as in the DataFrame path
    merged = rdd.reduceByKey(merge_pair, numPartitions=n_red)
    return spark.createDataFrame(merged.map(to_row), StructType(fields))


def sketch_agg_rdd(spark, path, keys, col, family, derived_keys=None,
                   keep_sketch: bool = False,
                   partition_filter: dict | None = None):
    """Flagship execution fabric: parquet-split scan + ``reduceByKey`` tree
    merge, entirely in the RDD runner — ``multi_sketch_agg_rdd`` with one
    spec and unprefixed result names.

    Every Python task pays a fixed cost before its first row: on a
    4-CPU local[4] box a 1-task Python RDD job takes ~270 ms against
    ~130 ms for a JVM-only job with a shuffle, most of the difference
    pyspark's per-task ``importlib.invalidate_caches()`` (~0.22 s in a
    worker, which re-reads each zip entry on its ``sys.path``). So this
    pipeline keeps the treeAggregate shape (partial per split ->
    pairwise state merge -> estimate) in as few Python stages as it can,
    with only serialized sketch states crossing process boundaries.
    State equality with the DataFrame path is asserted in tests (same
    cores, same bytes, same estimates).

    Returns a Spark DataFrame of ``keys + (rows_seen, estimate fields)``
    (``+ sketch`` with ``keep_sketch``).

    Partitioned (Hive/Iceberg ``key=value`` directory) layouts are read
    natively: ``partition_filter`` prunes whole files at planning time
    (zero I/O), and group keys naming partition columns are materialized
    from the path instead of the file.
    """
    return fold_splits(spark, path, keys, {SKETCH_COL: (col, family)},
                       derived_keys, partition_filter, prefixed=False,
                       keep_sketch=keep_sketch)


def multi_sketch_agg_rdd(spark, path, keys, specs, derived_keys=None,
                         partition_filter: dict | None = None):
    """One parquet scan, many sketches, on the flagship RDD fabric.

    ``specs``: ``{output_name: (value_col_or_derived, family)}`` — the
    same shape as ``operators.multi.multi_sketch_agg`` (result columns
    are prefixed by the spec name: spec ``users`` with an HLL family
    yields ``users_estimate``), with the fast fabric's derived-value
    forms allowed (``("length", "text")``).

    Why: at 100 TB the scan dominates every north-star job, and the
    daily rollup wants HLL distinct + Count-Min heavy hitters + KLL/DD
    quantiles over the SAME transcripts table. Run separately that is
    3-4 full scans; here each split is decoded once, every family's
    ``prepare_arrow`` kernel runs on the shared Arrow batch, and only a
    tuple of serialized states per (task, key) crosses the process
    boundary. State equality with per-family ``sketch_agg_rdd`` runs is
    asserted in tests (same splits, same batches, same estimates).
    """
    return fold_splits(spark, path, keys, specs, derived_keys,
                       partition_filter)
