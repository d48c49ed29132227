"""Distributed sketch aggregation: the treeAggregate shape as explicit
DataFrame stages.

The reference leaves distribution to the host engine — workers build partial
sketches, serialized state protos cross process boundaries, anyone merges
(`HyperLogLogPlusPlus.java:40-42`, demonstrated by 100 partials -> 1 final in
`HyperLogLogPlusPlusMergeTest.java:36-73`). Here the host engine is Spark:

* **stage 1 (partial)** — ``mapInArrow`` (``arrow_partials``) around the
  one split kernel ``fastscan.split_states``: one pass over each input
  partition's Arrow batches, one sketch per (group key) per partition,
  vectorized updates. A plain parquet projection skips the JVM->Python
  row handoff through the split-list adapter (``fastscan.split_partials``).
  Output: ``(keys..., sketch binary, rows_seen,
  partition_id)``. This is the skew defuser: a hot key costs register
  updates, never a wide shuffle of raw rows — shuffle volume is
  O(#keys x #partitions x state_size), independent of row count.
* **shuffle** — only serialized states move.
* **stage 2 (final)** — ``groupBy(keys).applyInPandas``: associative merge.
  With ``tree_levels=2`` an intermediate merge on ``(keys, salt)`` bounds
  fan-in per task when #partitions is huge (1000-executor scale).
* **stage 3 (result)** — scalar pandas UDF extracts estimates, or fused
  into the final merge (``merge_result``) when the states are not kept.

Column pruning/pushdown note: stage 1 selects only ``keys + [col]`` before
the ``mapInArrow`` so Parquet scans read just those columns.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark import TaskContext
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from zetasketch_spark.sketches.base import SketchFamily

SKETCH_COL = "sketch"
ROWS_COL = "rows_seen"
PARTITION_COL = "partition_id"


def _key_fields(df: DataFrame, keys: list[str]) -> list[StructField]:
    by_name = {f.name: f for f in df.schema.fields}
    return [by_name[k] for k in keys]


import re as _re

_ATTR = _re.compile(r"^\w+#\d+L?$")
_REL = _re.compile(r"^(\+- )?Relation \[[^\]]*\] parquet$")


def _plain_parquet_files(df: DataFrame, cols: list[str]) -> list[str] | None:
    """Local parquet file list iff ``df`` is PROVABLY a plain column
    projection of a single parquet relation (optimized plan is exactly
    ``Relation ... parquet`` or ``Project [attrs] / Relation ... parquet``
    with attribute-only projections — any Filter/Join/expression line
    rejects), every needed column exists in the files' own schema (i.e.
    none is a Hive partition column materialized from the path), and the
    files are local. Conservative by construction: a false negative just
    keeps the mapInArrow path; a false positive is impossible short of
    the plan printer changing shape, which the unit test pins."""
    from urllib.parse import unquote, urlparse

    try:
        lines = [ln.strip()
                 for ln in df._jdf.queryExecution().optimizedPlan()
                 .toString().strip().splitlines()]
    except Exception:
        return None
    if len(lines) == 1:
        if not _REL.match(lines[0]):
            return None
    elif len(lines) == 2:
        m = _re.match(r"^Project \[([^\]]*)\]$", lines[0])
        if not m or not _REL.match(lines[1]):
            return None
        if not all(_ATTR.match(a.strip()) for a in m.group(1).split(",")):
            return None
    else:
        return None
    try:
        files = df.inputFiles()
    except Exception:
        return None
    if not files:
        return None
    paths = []
    for uri in files:
        p = urlparse(uri)
        if p.scheme not in ("file", "") or not p.path.endswith(".parquet"):
            return None
        paths.append(unquote(p.path))
    import pyarrow.parquet as pq

    try:
        schema = pq.read_schema(paths[0])
    except OSError:
        return None
    if any(c not in schema.names for c in cols):
        return None
    return paths


def sketch_partial(df: DataFrame, keys: list[str], col: str,
                   family: SketchFamily,
                   skip_partitions: frozenset = frozenset()) -> DataFrame:
    """Stage 1: per-(partition, key) partial sketches — the one-spec case
    of ``multi.multi_sketch_partial``, with the spec named ``sketch``.

    ``skip_partitions``: partition ids to return immediately for (without
    hashing/sketching their batches) — the checkpoint-resume hook."""
    # Pin the hash domain from the Spark schema (single rule:
    # functions.sketch_udfs.pin_value_type; returns a copy, never mutates
    # the caller's family or its checkpoint query_signature).
    from zetasketch_spark.functions.sketch_udfs import pin_value_type

    specs = {SKETCH_COL: (col, pin_value_type(family, df, col))}

    # NOTE (measured, sf1): spreading the partial stage with a round-robin
    # repartition here LOSES ~2.5x — the shuffle plus 32x more partial
    # states through the merge outweigh parallelizing the hash kernel at
    # this precision/row count. The single-task skew of one-row-group
    # inputs is real but the fix must not multiply state volume; see
    # OPTIMIZATION_r06.md ("sketch_partial spread" experiment).

    # Leaf-scan short circuit: when df is provably a plain projection of a
    # local parquet scan, the split-list adapter decodes the files in the
    # RDD runner instead of shipping every row across the JVM->Python
    # Arrow boundary. Same output schema and states; merge/result compose
    # unchanged. skip_partitions addresses DataFrame partition ids, which
    # this path renumbers — resume callers keep the mapInArrow adapter.
    if not skip_partitions:
        files = _plain_parquet_files(df, [*keys, col])
        if files:
            from zetasketch_spark.operators.fastscan import split_partials

            return split_partials(df.sparkSession, files, keys, specs,
                                  _key_fields(df, keys))
    return arrow_partials(df, keys, specs, skip_partitions)


def arrow_partials(df: DataFrame, keys: list[str],
                   specs: dict[str, tuple[str, SketchFamily]],
                   skip_partitions: frozenset = frozenset()) -> DataFrame:
    """The DataFrame ``mapInArrow`` adapter around the one split kernel
    (``fastscan.split_states``): value columns are consumed straight from
    Arrow buffers, each prepared once per batch. Output:
    ``keys..., <name> binary per spec, rows_seen, partition_id``."""
    out_schema = StructType(
        _key_fields(df, keys)
        + [StructField(n, BinaryType()) for n in specs]
        + [StructField(ROWS_COL, LongType()),
           StructField(PARTITION_COL, IntegerType())]
    )
    keys_t = tuple(keys)

    def partial_fn(batches):
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        from zetasketch_spark.operators.fastscan import split_states

        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else -1
        if pid in skip_partitions:
            return
        rows = [(*k, *blobs, n, pid) for k, (blobs, n) in split_states(
            ((b, None) for b in batches), keys_t, specs)]
        if rows:
            schema = to_arrow_schema(out_schema)
            yield pa.RecordBatch.from_arrays(
                [pa.array(c, type=f.type) for c, f in zip(zip(*rows), schema)],
                schema=schema)

    # backtick-quote names so a dot in a JSON-ingested column name is
    # never parsed as a nested-field path
    def _ref(name):
        return F.col("`" + name.replace("`", "``") + "`")

    cols = sorted({c for c, _ in specs.values()} - set(keys))
    return df.select(*[_ref(c) for c in [*keys, *cols]]).mapInArrow(
        partial_fn, out_schema)


def sketch_merge(partials: DataFrame, keys: list[str], family: SketchFamily,
                 tree_levels: int = 1, fan_in: int = 64,
                 _stop_after_salt: bool = False) -> DataFrame:
    """Stage 2: merge partial states per key. ``tree_levels=2`` adds an
    intermediate ``(keys, salt)`` merge so no single task sees more than
    ~``fan_in`` states for a hot key (the salted pre-aggregation demanded
    for 10^12-row inputs; cf. SURVEY.md §4 P-row 'skew')."""
    merged_schema = StructType(
        [f for f in partials.schema.fields if f.name in keys]
        + [StructField(SKETCH_COL, BinaryType()), StructField(ROWS_COL, LongType())]
    )

    def merger(group: list[str]):
        def merge_fn(pdf: pd.DataFrame) -> pd.DataFrame:
            head = [pdf.iloc[0][c] for c in group]
            return pd.DataFrame(
                [[*head, family.merge_serialized(pdf[SKETCH_COL]),
                  int(pdf[ROWS_COL].sum())]],
                columns=[*group, SKETCH_COL, ROWS_COL])
        return merge_fn

    # the salt is pmod(partition_id, fan_in): with at most fan_in distinct
    # origin partitions every (keys, salt) level-1 group holds exactly ONE
    # state, so the intermediate merge is a pure deserialize/serialize
    # round trip plus an extra shuffle and Python stage (guide §2.4 —
    # remove shuffles outright). Final-merge fan-in is already bounded by
    # the partition count, so skip the degenerate level; at cluster scale
    # (#partitions >> fan_in) the tree stays.
    if tree_levels >= 2 and partials.rdd.getNumPartitions() <= fan_in:
        tree_levels = 1

    if tree_levels >= 2:
        salted = partials.withColumn(
            "_salt", F.pmod(F.coalesce(F.col(PARTITION_COL), F.lit(0)), F.lit(fan_in))
        )
        salted_schema = StructType(list(merged_schema.fields) + [StructField("_salt", IntegerType())])
        level1 = salted.groupBy(*keys, "_salt").applyInPandas(
            merger([*keys, "_salt"]), salted_schema)
        if _stop_after_salt:
            return level1  # caller fuses the final merge with extraction
        return level1.groupBy(*keys).applyInPandas(merger(keys), merged_schema)

    return partials.groupBy(*keys).applyInPandas(merger(keys), merged_schema)


def collect_merged_states(partials: DataFrame, keys: list[str],
                          family: SketchFamily,
                          fan_in: int = 64) -> dict[tuple, object]:
    """``{key_tuple: merged state}`` for report operators that consume
    the per-key states driver-side anyway (retention, window activity,
    join profile). Up to ``fan_in`` input partitions the driver merges
    the partial blobs directly — the distributed ``applyInPandas`` merge
    would be one more JVM->Python crossing only to produce the same
    handful of states — while past ``fan_in`` partitions the salted tree
    folds them first so driver fan-in stays bounded at cluster scale."""
    if partials.rdd.getNumPartitions() > fan_in:
        partials = sketch_merge(partials, keys, family, tree_levels=2,
                                fan_in=fan_in)
    return {key: s for key, (_, s) in
            driver_fold(partials.toArrow(), keys, family).items()
            if s is not None}


def driver_fold(table, keys: list[str],
                family: SketchFamily) -> dict[tuple, tuple]:
    """``{key_tuple: (row indices, merged state or None)}`` over a pyarrow
    table of serialized states — the driver-side merge that
    ``collect_merged_states`` and the small-``SketchTable`` fold share.
    Each key's blobs merge in row order (``grouping.arrow_group_indices``
    keeps indices ascending), so the order-sensitive families fold
    exactly as a sequential merge of the rows would."""
    from zetasketch_spark.operators.grouping import arrow_group_indices

    if keys:
        groups = arrow_group_indices({k: table.column(k) for k in keys})
    else:
        groups = {(): np.arange(table.num_rows)} if table.num_rows else {}
    blobs = table.column(SKETCH_COL).to_pylist()
    return {key: (idx, family.merge_states(blobs[i] for i in idx))
            for key, idx in groups.items()}


def sketch_result(merged: DataFrame, family: SketchFamily,
                  keep_sketch: bool = False) -> DataFrame:
    """Stage 3: extract results from the sketch column."""
    from pyspark.sql.functions import pandas_udf

    fields = family.result_fields
    if len(fields) == 1:
        name, typ = fields[0]

        @pandas_udf(typ)
        def extract(blobs: pd.Series) -> pd.Series:
            return pd.Series([family.result(family.deserialize(bytes(b)))[0] for b in blobs])

        out = merged.withColumn(name, extract(F.col(SKETCH_COL)))
    else:
        struct_t = ", ".join(f"`{n}` {t}" for n, t in fields)

        @pandas_udf(f"struct<{struct_t}>")
        def extract_struct(blobs: pd.Series) -> pd.DataFrame:
            rows = [family.result(family.deserialize(bytes(b))) for b in blobs]
            return pd.DataFrame(rows, columns=[n for n, _ in fields])

        out = merged.withColumn("_res", extract_struct(F.col(SKETCH_COL)))
        for n, _ in fields:
            out = out.withColumn(n, F.col(f"_res.{n}"))
        out = out.drop("_res")
    if not keep_sketch:
        out = out.drop(SKETCH_COL)
    return out


def sketch_agg(df: DataFrame, keys: list[str], col: str, family: SketchFamily,
               tree_levels: int = 1, fan_in: int = 64,
               keep_sketch: bool = False) -> DataFrame:
    """Full pipeline: partial -> merge -> result.

    Returns ``keys + result_fields (+ rows_seen)``; with ``keep_sketch``
    also the serialized state (for checkpointing / re-merging: sketches
    computed at fine grain re-merge exactly across grouping levels).

    Without ``keep_sketch`` the final merge EMITS the result columns
    directly (``merge_result``, one fused ``applyInPandas``): the separate
    extraction UDF was a second JVM->Python crossing over the merged rows,
    pure constant cost per query on this boundary (guide §4.1)."""
    if keep_sketch:
        merged = sketch_merge(sketch_partial(df, keys, col, family), keys,
                              family, tree_levels=tree_levels, fan_in=fan_in)
        return sketch_result(merged, family, keep_sketch=True)

    from zetasketch_spark.functions.sketch_udfs import pin_value_type

    specs = {SKETCH_COL: (col, pin_value_type(family, df, col))}
    files = _plain_parquet_files(df, [*keys, col])
    if files:
        # fully-fused RDD pipeline: partial, merge and result without any
        # SQL-layer Python crossing — the SQL exchange + applyInPandas
        # merge cost ~1.7 s of a 2 s query at sf1 while the kernel work
        # was ~0.3 s
        from zetasketch_spark.operators.fastscan import fold_splits

        return fold_splits(df.sparkSession, files, keys, specs,
                           key_fields=_key_fields(df, keys), prefixed=False)
    partials = sketch_partial(df, keys, col, family)
    if tree_levels >= 2 and partials.rdd.getNumPartitions() > fan_in:
        partials = sketch_merge(partials, keys, family, tree_levels=2,
                                fan_in=fan_in, _stop_after_salt=True)
    return merge_result(partials, keys, specs, prefixed=False)


def merge_result(partials: DataFrame, keys: list[str],
                 specs: dict[str, tuple[str, SketchFamily]],
                 prefixed: bool = True) -> DataFrame:
    """Stages 2+3 fused: one ``applyInPandas`` merges each spec's blob
    column per key and emits ``keys + rows_seen + result fields`` (named
    ``<spec>_<field>`` when ``prefixed``)."""
    from pyspark.sql.types import _parse_datatype_string

    fields = [(f"{n}_{fn}" if prefixed else fn, t)
              for n, (_, fam) in specs.items() for fn, t in fam.result_fields]
    out_schema = StructType(
        [f for f in partials.schema.fields if f.name in keys]
        + [StructField(ROWS_COL, LongType())]
        + [StructField(n, _parse_datatype_string(t)) for n, t in fields]
    )

    def merge_result_fn(pdf: pd.DataFrame) -> pd.DataFrame:
        res = []
        for n, (_, fam) in specs.items():
            res += fam.result(fam.deserialize(fam.merge_serialized(pdf[n])))
        head = [pdf.iloc[0][k] for k in keys]
        return pd.DataFrame(
            [[*head, int(pdf[ROWS_COL].sum()), *res]],
            columns=[*keys, ROWS_COL, *[n for n, _ in fields]])

    return partials.groupBy(*keys).applyInPandas(merge_result_fn, out_schema)


def hll_count_distinct(df: DataFrame, keys: list[str], col: str,
                       precision: int = 15, sparse_precision: int | None = None,
                       tree_levels: int = 1) -> DataFrame:
    """Approximate COUNT(DISTINCT col) GROUP BY keys via HLL++ — the query
    ZetaSketch exists for, distributed the way BigQuery distributes it."""
    from zetasketch_spark.sketches.base import HllFamily

    fam = HllFamily(precision=precision, sparse_precision=sparse_precision)
    out = sketch_agg(df, keys, col, fam, tree_levels=tree_levels)
    return out.withColumnRenamed("estimate", "approx_distinct")
